package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession
import graft.dedup.{Dedup, MinHashLSH}

/** Min-label propagation must converge every component to its minimum id —
  * including chains, which one bucket-min star round cannot close. */
class ConnectedComponentsSpec extends AnyFunSuite with SparkTestSession {

  test("connectedComponents converges chains, cliques and singletons") {
    import spark.implicits._
    val ids = (1L to 10L).toDF("id")
    // chain 1-2-3-4, clique 5-6-7, pair 8-9, singleton 10
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L), (9L, 8L))
      .toDF("a", "b")
    val labels = Dedup.connectedComponents(ids, edges).as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L), labels)
    assert(Seq(5L, 6L, 7L).forall(labels(_) == 5L), labels)
    assert(Seq(8L, 9L).forall(labels(_) == 8L), labels)
    assert(labels(10L) == 10L)
  }

  test("connectedComponents runs ONE action per iteration (change count folded into the materializing pass)") {
    import spark.implicits._
    // chain of 6 converges in 5 improving iterations (label propagation
    // reaches ~2 hops/round through already-updated neighbors) + 1
    // fixed-point-detecting iteration, then 1 final result materialization
    // = 7 top-level actions. The round-4 shape (separate count() +
    // change-detection join) would fire 2 actions per iteration (13 total).
    // Count QueryExecutions, not Spark jobs — AQE splits one action into
    // several stage-materialization jobs.
    val ids = (1L to 6L).toDF("id")
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("a", "b")
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        actions.incrementAndGet(); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = Dedup.connectedComponents(ids, edges)
      // listener delivery is async — poll until the counter stabilizes
      var prev = -1
      var spins = 0
      while (actions.get() != prev && spins < 50) {
        prev = actions.get(); Thread.sleep(100); spins += 1
      }
      val actionsDuringCC = actions.get()
      val labels = result.as[(Long, Long)].collect().toMap
      assert((1L to 6L).forall(labels(_) == 1L), labels)
      assert(actionsDuringCC <= 8,
        s"expected <=8 actions (1 per iteration + final materialization), saw $actionsDuringCC")
      result.unpersist()
    } finally spark.listenerManager.unregister(listener)
  }

  test("resolveForest resolves parent chains to roots and equals CC on the same forest") {
    import spark.implicits._
    // chain 4->3->2->1, pair 6->5, singletons 7; roots map to self
    val mapping = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 5L), (6L, 5L), (7L, 7L))
      .toDF("id", "parent")
    val resolved = Dedup.resolveForest(mapping, "id", "parent")
      .as[(Long, Long)].collect().toMap
    assert(resolved == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L),
      resolved)

    // pointer-root == component minimum on a parent<child forest: parity
    // with the generic min-label CC over the same edge set
    val edges = mapping.where(col("id") =!= col("parent"))
      .select(col("parent").as("a"), col("id").as("b"))
    val cc = Dedup.connectedComponents(mapping.select(col("id")), edges)
      .as[(Long, Long)].collect().toMap
    assert(resolved == cc, s"resolveForest=$resolved cc=$cc")
  }

  test("both loops throw, naming the operator and maxIters, when a 30-node path cannot settle in 3 rounds") {
    import spark.implicits._
    val ids = (1L to 30L).toDF("id")
    val edges = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val forest = (1L to 30L).map(i => (i, math.max(1L, i - 1))).toDF("id", "parent")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cc = intercept[IllegalStateException](Dedup.connectedComponents(ids, edges, maxIters = 3))
    assert(cc.getMessage.contains("connectedComponents") && cc.getMessage.contains("maxIters = 3"),
      cc.getMessage)
    val rf = intercept[IllegalStateException](Dedup.resolveForest(forest, "id", "parent", maxIters = 3))
    assert(rf.getMessage.contains("resolveForest") && rf.getMessage.contains("maxIters = 3"),
      rf.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before, "a failed loop releases its frames")
    // the same path settles when the rounds suffice (log2(30) + 1 for the forest)
    val roots = Dedup.resolveForest(forest, "id", "parent", maxIters = 6).as[(Long, Long)].collect()
    assert(roots.length == 30 && roots.forall(_._2 == 1L))
  }

  test("nearDuplicateComponents closes a text chain a~b~c with a!~c") {
    import spark.implicits._
    // b shares a long prefix with a and gains tokens; c extends b further:
    // jaccard(a,b), jaccard(b,c) >= 0.5 but jaccard(a,c) < 0.5
    def words(from: Int, until: Int): String = (from until until).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, words(0, 20)),
      (2L, words(0, 32)),
      (3L, words(0, 44)),
      (9L, words(100, 120))). // unrelated singleton
      toDF("doc_id", "text")

    // sanity: the pair graph really is a chain under this threshold
    val lsh = new MinHashLSH(32, 16, 3)
    val pairs = lsh.nearDuplicates(docs, "doc_id", "text", 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)), pairs)
    assert(!pairs.contains((1L, 3L)), s"a~c unexpectedly similar: $pairs")

    val canon = lsh.nearDuplicateComponents(docs, "doc_id", "text", 0.5)
      .as[(Long, Long)].collect().toMap
    assert(canon(1L) == 1L && canon(2L) == 1L && canon(3L) == 1L,
      s"chain not fully canonicalized: $canon")
    assert(canon(9L) == 9L)

    // the single star round, by contrast, leaves the chain split per link
    val star = lsh.duplicateGroups(docs, "doc_id", "text", 0.5)
      .as[(Long, Long)].collect().toMap
    assert(star(2L) == 1L, star)
  }
}
