package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Bench fit contract introduced after the r11 driver timeout
  * (VERDICT r11 #1): the reduced-scale set must stay a set of REAL
  * declared queries, each a scaled-corpus family member (reduction is
  * meaningless otherwise), and each must leave a production sibling
  * still benched at full scale — so cutting the oracle-gear cost can
  * never silently drop an operator's at-scale number from the record.
  */
class BenchContractSpec extends AnyFunSuite {

  test("ReducedScale names only declared, scaled-family queries") {
    val unknown = Session.ReducedScale -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"reduced-scale names not declared: $unknown")
    val unscaled = Session.ReducedScale.filterNot(queries.ScaledFixtures.appliesTo)
    assert(unscaled.isEmpty,
      s"reduced-scale names outside the scaled families (reduction is a no-op): $unscaled")
  }

  test("repeat priority: deviation is symmetric; no-prior ranks ahead of everything") {
    // a 30x spike and a 30x drop against the prior median are equally suspect
    assert(Bench.deviation(30.0, Some(1.0)) == Bench.deviation(1.0, Some(30.0)))
    // the r13 poster child (57.9 s vs prior 1.9 s) must outrank mild drift
    assert(Bench.deviation(57.9, Some(1.9)) > Bench.deviation(12.0, Some(10.0)))
    // a query new this round has no record to contradict — repeats first
    assert(Bench.deviation(5.0, None) == Double.MaxValue)
    assert(Bench.deviation(2.0, Some(2.0)) == 1.0)
  }

  test("every reduced-scale twin keeps a production sibling at full bench scale") {
    // the sibling that still pays full scaled-corpus price per round
    val sibling = Map(
      "dedup_substring_exact" -> "dedup_substring_winnowed", // the declared scale path
      "dedup_substring_gate" -> "dedup_substring_gate_xx",
      "dedup_substring_winnowed_md5" -> "dedup_substring_winnowed",
      "corpus_ingest_e2e" -> "corpus_ingest_e2e_xx")
    assert(Session.ReducedScale == sibling.keySet,
      "sibling map must cover exactly the reduced set — update both together")
    sibling.foreach { case (reduced, prod) =>
      assert(SparkEntry.queries.contains(prod),
        s"$reduced's full-scale sibling $prod is not declared")
      assert(!Session.ReducedScale.contains(prod),
        s"$reduced's sibling $prod is itself reduced — the operator would lose its at-scale number")
    }
  }
}
