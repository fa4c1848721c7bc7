package graft.operators

import graft.SparkSpec

/** The reserved-column guard: an input that already holds a column name
  * an operator adds is refused with an `IllegalArgumentException` that
  * names the column, on the driver, before any Spark job runs. */
class ReservedSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body`, expecting the refusal of `column` by `op` and no job. */
  private def refuses(op: String, column: String)(body: => Any): Unit = {
    var err: IllegalArgumentException = null
    val jobs = countJobs { err = intercept[IllegalArgumentException](body) }
    assert(err.getMessage.contains(s"$op reserves column name(s)"), err.getMessage)
    assert(err.getMessage.contains(column), err.getMessage)
    assert(jobs == 0, s"$op started $jobs job(s) before refusing its input")
  }

  test("guard names every clashing column and passes a clean input") {
    val df = Seq((1L, 2L, 3L)).toDF("id", "__a", "__b")
    Reserved.guard("op", df, "__c")
    val err = intercept[IllegalArgumentException](
      Reserved.guard("op", df, "__a", "__b", "__c"))
    assert(err.getMessage.contains("op reserves column name(s)"))
    assert(err.getMessage.contains("__a") && err.getMessage.contains("__b"))
    assert(!err.getMessage.contains("__c"))
  }

  test("operators refuse an input holding a reserved column, naming it") {
    val groups = Seq(("g", 1L, 7L)).toDF("g", "k", "__rn")
    refuses("bottomKPerGroup", "__rn") {
      Sampling.bottomKPerGroup(groups, "g", "k", 1)
    }

    val series = Seq(("a", 1L, 1.0, 1L, 0.5)).toDF("key", "ts", "v", "tie", "z")
    refuses("rollingAnomaly", "z") {
      TimeSeries.rollingAnomaly(series, "key", "ts", "v", "tie")
    }

    val points = Seq((1.0, 2.0, 0L)).toDF("x", "y", "__min_x")
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_reserved_${System.nanoTime()}")
    refuses("writeZordered", "__min_x") {
      graft.sources.Layout.writeZordered(points, out.getPath, Seq("x", "y"), 1)
    }
    assert(!out.exists())

    val flights = Seq(("0930", "1005", "1200", 0))
      .toDF("DepTime", "CRSDepTime", "CRSArrTime", "__hhmm_CRSDepTime")
    refuses("Features", "__hhmm_CRSDepTime") {
      Features.cyclicalLocaltime(flights, "CRSDepTime")
    }
    refuses("Features", "__hhmm_CRSDepTime") {
      Features.addFlightTimeWindow(flights)
    }
    refuses("Features", "__hhmm_CRSDepTime") {
      Features.addEnoughTimeEstimation(flights)
    }
  }
}
