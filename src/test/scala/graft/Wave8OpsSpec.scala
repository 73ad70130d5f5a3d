package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession
import graft.operators.CorpusStats

/**
 * Round-8 wave-8 specs: chi-square discriminative terms — hand replays plus
 * the guard behind the scale claim (stopword prune keeping the integer
 * ladder in range). The prefix-filter Jaccard join's specs live in
 * `PrefixFilterJoinSpec`.
 */
class Wave8OpsSpec extends AnyFunSuite with SparkTestSession {

  // ---------------------------------------------------------------- chi2

  test("chi2Terms replays the staged-integer chi-square ladder") {
    import spark.implicits._
    // 3 docs in A (all contain 'cats'), 3 in B (none do); 'shared' is in
    // every doc (pruned: dt*2 > N); 'dogs' in one doc of each group.
    val docs = Seq(
      ("A", "cats shared dogs"), ("A", "cats shared"), ("A", "cats shared"),
      ("B", "shared dogs"), ("B", "shared"), ("B", "shared"))
      .toDF("source", "text")
    val out = CorpusStats.chi2Terms(docs, "source", "text", k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // 'cats' from A's view: a=3 dt=3 ds=3 N=6; num=|3*3-0*0|=9
    // q1 = 9*6*1000 div (3*3) = 6000; chi2 = 6000*9 div (3*3) = 6000
    assert(out(("A", "cats")) == ((3L, 3L, 6000L)))
    // sparse semantics: a term a group never contains has no row for that
    // group (presence counts come from the explode; a=0 never materializes)
    assert(!out.contains(("B", "cats")))
    // 'dogs': a=1 dt=2 ds=3 per group; num=|1*2-1*2|=0 -> 0
    assert(out(("A", "dogs")) == ((1L, 2L, 0L)))
    // 'shared' pruned everywhere (dt=6, 2*6 > 6)
    assert(!out.contains(("A", "shared")) && !out.contains(("B", "shared")))
  }

  test("chi2Terms keeps top-k per group by (chi2 desc, term asc)") {
    import spark.implicits._
    val docs = Seq(
      ("A", "alpha beta"), ("A", "alpha gamma"),
      ("B", "delta beta"), ("B", "delta gamma"))
      .toDF("source", "text")
    val out = CorpusStats.chi2Terms(docs, "source", "text", k = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // alpha and delta are the perfect discriminators (a=2, dt=2, num=4);
    // each group lists its own present term
    assert(out == Map("A" -> "alpha", "B" -> "delta"))
  }

  test("chi2Terms drops a group covering the whole corpus (N - ds = 0)") {
    import spark.implicits._
    val docs = Seq(("only", "a b"), ("only", "a c")).toDF("source", "text")
    assert(CorpusStats.chi2Terms(docs, "source", "text", 5).count() == 0L)
  }
}
