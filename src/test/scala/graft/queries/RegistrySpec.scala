package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** `Registry.select` is how every name-taking main picks its queries. */
class RegistrySpec extends AnyFunSuite {

  test("select with no names gives every entry in name order") {
    val all = Registry.select(Nil).map(_.name)
    assert(all.size == 341)
    assert(all == all.sorted)
    assert(all.toSet == SparkEntry.queries.keySet)
  }

  test("select keeps catalog order and fails on an unknown name, naming it") {
    assert(Registry.select(Seq("q_preview", "q1_agg")).map(_.name) == Seq("q1_agg", "q_preview"))
    val e = intercept[IllegalArgumentException](
      Registry.select(Seq("q1_agg", "q_typo", "q_other_typo")))
    assert(e.getMessage.contains("q_typo, q_other_typo"), e.getMessage)
  }
}
