package graft

/** Dev tool: print the formatted physical plan of named gated queries
  * (all of them when no names are given) — the per-operator scale audit
  * the build brief asks for (pushed filters, shuffle count, broadcast
  * choices, codegen spans). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft-plan-audit")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
