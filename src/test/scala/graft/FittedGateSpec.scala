package graft

/** A [[Gate.fitted]] twin inlines the state of ITS gate's last run: a
  * gate sharing the fit, run later on another sfDir (two dirs in one
  * JVM, as ScaleBench runs them), must not change it. */
class FittedGateSpec extends SparkSpec {

  private val small = "/root/testdata/sf0.001"
  private val large = "/root/testdata/sf0.01"

  private def run(gate: String, dir: String): Unit =
    SparkEntry.queries(gate)(spark, dir)

  private def twin(gate: String): String = SparkEntry.oracleSql(gate)

  Seq("q_x_pca" -> "q_x_pca_whiten", "q_f_isotonic" -> "q_f_calibrate")
    .foreach { case (gate, sharer) =>
      test(s"$gate's twin ignores $sharer's run on another dir") {
        run(gate, small)
        val before = twin(gate)
        run(sharer, large)
        assert(twin(gate) == before)
        // the dirs fit different state, so the check above can fail
        run(gate, large)
        assert(twin(gate) != before)
      }
    }
}
