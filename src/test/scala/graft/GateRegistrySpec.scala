package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Gate.NoOracle

/** The gate registry: one declaration per gate, each with its oracle or
  * the stated reason it has none (the [[Gate]] type makes "neither"
  * unrepresentable, and an oracle without a gate impossible), and a name
  * declared twice fails instead of silently keeping the last. */
class GateRegistrySpec extends AnyFunSuite {

  test("297 gates with distinct, well-formed names") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 297)
    assert(names.distinct.size == names.size)
    names.foreach(n => assert(n.matches("q_[a-z0-9_]+"), s"bad name: $n"))
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("295 oracles; only the seeded-sampling gates have none, each with a reason") {
    val none = SparkEntry.gates.collect { case Gate(n, _, NoOracle(r)) => n -> r }.toMap
    assert(none.keySet == Set("q_d2_sample", "q_d2b_stratified"))
    assert(none.values.forall(_.trim.nonEmpty))
    val oracles = SparkEntry.oracleSql
    assert(oracles.size == 295)
    assert(oracles.keySet == SparkEntry.queries.keySet -- none.keySet)
    intercept[IllegalArgumentException](NoOracle(" "))
  }

  test("a registry with a duplicated name fails and names it") {
    val Seq(g, other) = SparkEntry.gates.take(2)
    val e = intercept[IllegalArgumentException](
      Gate.registry(Seq(g, other, g.copy(oracle = NoOracle("duplicate")))))
    assert(e.getMessage.contains(g.name), e.getMessage)
    assert(!e.getMessage.contains(other.name), e.getMessage)
  }
}
