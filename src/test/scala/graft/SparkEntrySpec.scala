package graft

/** Every gate plans: duplicate output columns would break the compare's
  * column-sorted hashing. Registry shape is [[GateRegistrySpec]]'s. */
class SparkEntrySpec extends SparkSpec {

  test("flagship entry returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every query builds an analyzable plan with unique column names") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      val cols = df.columns.toSeq
      assert(cols.distinct.size == cols.size, s"$name has duplicate columns: $cols")
      df.queryExecution.analyzed // forces analysis; throws on unresolved plans
    }
  }
}
