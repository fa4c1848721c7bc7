package graft.apps

import org.scalatest.funsuite.AnyFunSuite

/** The flight apps' command-line parsing. No Spark session: `CliArgs`
  * is a pure function of the argument list. */
class CliArgsSpec extends AnyFunSuite {

  private def train(args: String*) = CliArgs.parse(args, Set("--count-only"),
    Set("--plane-data", "--test-file", "--save-model"))

  test("value flags interleaved with positionals keep their values out of the positionals") {
    val cli = train("--plane-data", "planes.csv", "in.csv", "--test-file", "t.csv",
      "out", "--count-only", "--save-model", "models")
    assert(cli.positional == Seq("in.csv", "out"))
    assert(cli.switches == Set("--count-only"))
    assert(cli.values == Map("--plane-data" -> "planes.csv",
      "--test-file" -> "t.csv", "--save-model" -> "models"))
  }

  test("an unknown flag is refused, naming it") {
    val e = intercept[IllegalArgumentException](
      train("in.csv", "--save-modle", "models", "out"))
    assert(e.getMessage.contains("--save-modle"))
    // a flag of the other app is unknown here too
    val s = intercept[IllegalArgumentException](
      CliArgs.parse(Seq("in.csv", "m", "out", "--test-file", "t.csv"),
        Set.empty, Set("--plane-data")))
    assert(s.getMessage.contains("--test-file"))
  }

  test("a value flag with no value after it is refused, naming it") {
    val dangling = intercept[IllegalArgumentException](
      train("in.csv", "out", "--save-model"))
    assert(dangling.getMessage.contains("--save-model"))
    val followedByFlag = intercept[IllegalArgumentException](
      train("in.csv", "out", "--test-file", "--count-only"))
    assert(followedByFlag.getMessage.contains("--test-file"))
  }
}
