package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.PrefixFilterJoin
import graft.filter.SparkTestSession

/** The prefix-filter τ-join: its output against a brute-force τ-join,
  * brute-force checks of the lemmas its candidate filters rest on (they
  * never drop a true pair), and the join strategy of its verify step. */
class PrefixFilterJoinSpec extends AnyFunSuite with SparkTestSession with AdaptiveSparkPlanHelper {

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

  private def jacc(x: Set[String], y: Set[String]): Long = {
    val i = (x & y).size.toLong
    i * 1000L / (x.size + y.size - i)
  }

  test("jaccardPairs equals the brute-force tau-join (zero missed pairs)") {
    import spark.implicits._
    // a corpus with graded overlap: near-identical pairs, a 2/3 pair, and
    // disjoint singletons
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "the quick brown fox leaps over the lazy dog today",
      4L -> "alpha beta gamma",
      5L -> "alpha beta delta",
      6L -> "completely different words here")
    val docs = texts.toDF("doc_id", "text")
    val out = PrefixFilterJoin.jaccardPairs(docs, "doc_id", "text", 600L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    val sets = texts.map { case (id, t) =>
      id -> t.split(" ").toSet }.toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = jacc(sets(a), sets(b)) if j >= 600L
    } yield (a, b) -> j).toMap
    assert(out == expected)
    assert(out.nonEmpty, "test corpus must produce at least one pair")
  }

  test("jaccardPairs at tau=1000 finds exactly the identical-set pairs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z"), (2L, "z y x"),     // same set, different order
      (3L, "x y w")).toDF("doc_id", "text")
    val out = PrefixFilterJoin.jaccardPairs(docs, "doc_id", "text", 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(out.toSeq == Seq((1L, 2L, 1000L)))
  }

  test("jaccardPairs candidate join is an equi-join on prefix tokens (no cartesian)") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, s"tok$i common words here"))
      .toDF("doc_id", "text")
    val p = PrefixFilterJoin.jaccardPairs(docs, "doc_id", "text", 800L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("jaccardPairs prefix length replays ceil(tau*len) exactly") {
    import spark.implicits._
    // len=3 at tau=0.667: ceil(0.667*3)=ceil(2.001)=3 -> prefix length 1;
    // docs sharing only their 2 NON-rarest tokens must still pair when
    // J = 2/4 = 0.5 < tau (they are not emitted), but docs sharing the
    // rare prefix token ARE candidates
    val docs = Seq(
      (1L, "rare1 common1 common2"),
      (2L, "rare1 common1 common2"),    // identical: J=1000
      (3L, "rare2 common1 common2"))    // shares 2/4 with 1: J=500 < 667
    val out = PrefixFilterJoin.jaccardPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text", 667L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("the verify joins build on the sets side as shuffled hash joins") {
    // The two joins that attach set_a and set_b to the candidate pairs
    // build a hash table on the bounded per-doc sets and stream the pair
    // table (the shuffle_hash hint on the sets frame); left to AQE, they
    // broadcast the pair side instead. Inspected after the run, so the
    // plan is AQE's final one.
    val buildSides = Set(Set("a", "set_a"), Set("b", "set_b"))
    for (q <- Seq("q_jaccard_join", "q_jaccard_collapsed")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.executedPlan
      val verify = collect(plan) {
        case j: BaseJoinExec
            if j.children.exists(_.output.exists(a => a.name == "set_a" || a.name == "set_b")) => j
      }
      assert(verify.length == 2, s"$q: expected 2 verify joins, found ${verify.length}\n$plan")
      verify.foreach {
        case j: ShuffledHashJoinExec =>
          assert(j.buildSide == BuildRight && buildSides(j.right.output.map(_.name).toSet),
            s"$q: verify join not built on the sets side\n$j")
        case j => fail(s"$q: verify join is a ${j.nodeName}, not a ShuffledHashJoin\n$plan")
      }
    }
  }
}
