package graft

import org.scalatest.funsuite.AnyFunSuite

/** The prefix-filter τ-join's candidate filters never drop a true pair:
  * brute-force checks of the lemmas `PrefixFilterJoin` rests on. */
class PrefixFilterJoinSpec extends AnyFunSuite {

  test("SSJoin length filter never drops a true tau-pair (milli arithmetic)") {
    // The production predicate (Dedup.pairsFromSets) drops a candidate when
    // floor(1000*min div max) < tau. Prove the implication it rests on:
    // for EVERY achievable (I, U) of sets with sizes (la, lb) — I ranges
    // over 0..min, U = la + lb - I — a dropped pair can never verify, i.e.
    // floor(1000*I div U) < tau too (round-13 advice: the old test asserted
    // the filter expression against itself).
    for (la <- 1 to 40; lb <- 1 to 40; tau <- Seq(500L, 700L, 900L)) {
      val (mn, mx) = (math.min(la, lb).toLong, math.max(la, lb).toLong)
      if (mn * 1000 / mx < tau) {
        for (i <- 0L to mn) {
          val u = la + lb - i
          assert(i * 1000 / u < tau,
            s"filter dropped ($la,$lb) at tau=$tau but I=$i,U=$u verifies")
        }
      }
    }
  }

  test("PPJoin positional bound dominates the true overlap for every shared-token event") {
    // Brute-force lemma behind the round-14 positional filter: for random
    // sorted sets A, B and every shared token t at ranks (ra, rb),
    //   |A ∩ B| <= min(ra, rb) + min(|A| - ra, |B| - rb)
    // (min(ra-1, rb-1) common before t, 1 for t, min suffix lengths after).
    val rnd = new scala.util.Random(13)
    for (_ <- 0 until 2000) {
      val a = Seq.fill(3 + rnd.nextInt(20))(rnd.nextInt(40)).distinct.sorted
      val b = Seq.fill(3 + rnd.nextInt(20))(rnd.nextInt(40)).distinct.sorted
      val inter = a.toSet.intersect(b.toSet)
      for (t <- inter) {
        val ra = a.indexOf(t) + 1
        val rb = b.indexOf(t) + 1
        val bound = math.min(ra, rb) + math.min(a.size - ra, b.size - rb)
        assert(inter.size <= bound,
          s"a=$a b=$b t=$t I=${inter.size} bound=$bound")
      }
    }
  }
}
