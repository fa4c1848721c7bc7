package graft

/** Local smoke runner for the driver's `SparkEntry.entry` rows>0 check. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft-entry-smoke")
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"[entry-smoke] rows=${df.count()}")
    spark.stop()
  }
}
