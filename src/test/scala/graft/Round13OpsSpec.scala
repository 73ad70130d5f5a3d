package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession
import graft.text.TextClassifiers

/**
 * Round-13 specs: the calibration histogram twin — equal-frequency bins
 * derived from the bounded (score, label) histogram via interval
 * arithmetic, replacing the whole-corpus row_number() rank (the last
 * single-partition doc-table sort in the book).
 */
class Round13OpsSpec extends AnyFunSuite with SparkTestSession {

  private def collectBins(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq

  test("calibrationBinsHist == calibrationBins when no mixed tie group straddles") {
    import spark.implicits._
    // distinct scores: the exact form's id-order tie split never engages,
    // so twin and exact must agree bin-for-bin
    val scored = (1L to 97L).map(i => (i, i % 3 == 0, i * 7 % 101))
      .toDF("doc_id", "yb", "score")
      .withColumn("y", col("yb").cast("long")).drop("yb")
    val exact = collectBins(
      TextClassifiers.calibrationBins(scored, "doc_id", "y", "score", bins = 10))
    val hist = collectBins(
      TextClassifiers.calibrationBinsHist(scored, "doc_id", "y", "score", bins = 10))
    assert(hist == exact)
    assert(hist.map(_._2).sum == 97L) // every row binned exactly once
  }

  test("calibrationBinsHist straddle contract: mixed ties rank positives first") {
    import spark.implicits._
    // 10 rows, 2 bins; score 5 is a 4-row MIXED tie group straddling the
    // bin boundary at rank 5/6 — the histogram contract puts the two
    // positives in bin 0, the two negatives in bin 1
    val rows = Seq(
      (1L, 0L, 9L), (2L, 1L, 8L), (3L, 0L, 7L),
      (4L, 1L, 5L), (5L, 0L, 5L), (6L, 1L, 5L), (7L, 0L, 5L),
      (8L, 1L, 3L), (9L, 0L, 2L), (10L, 1L, 1L))
    val scored = rows.toDF("doc_id", "y", "score")
    val hist = collectBins(
      TextClassifiers.calibrationBinsHist(scored, "doc_id", "y", "score", bins = 2))
    // rank order under (score desc, y desc, id asc):
    //  9,8,7,(5,y1),(5,y1) | (5,y0),(5,y0),3,2,1
    // bin0: scores 9,8,7,5,5 with y = 0,1,0,1,1 -> n_pos 3, sum 34
    // bin1: scores 5,5,3,2,1 with y = 0,0,1,0,1 -> n_pos 2, sum 16
    assert(hist == Seq(
      (0L, 5L, 3L, 600L, 34L),
      (1L, 5L, 2L, 400L, 16L)))
    // and the replay the oracle uses — row_number over (score desc, y desc,
    // id asc) — produces the identical bins, proving hist ≡ rank
    import org.apache.spark.sql.expressions.Window
    val rank = scored
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("y").desc, col("doc_id").asc)))
      .withColumn("bin", expr("CAST((CAST(rk AS BIGINT) - 1) * 2 div 10 AS BIGINT)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("score")).as("sum_score"))
      .withColumn("pos_rate_milli", expr("CAST(n_pos * 1000 div n AS BIGINT)"))
      .select(col("bin"), col("n"), col("n_pos"), col("pos_rate_milli"), col("sum_score"))
      .orderBy(col("bin"))
    assert(hist == collectBins(rank))
  }

  test("calibrationBinsHist: uneven n/bins split and single-score corpus") {
    import spark.implicits._
    // n=7, bins=3: bin sizes 3,2,2 under the (rk-1)*bins div n formula
    val scored = (1L to 7L).map(i => (i, i % 2, 100L - i)).toDF("doc_id", "y", "score")
    val hist = collectBins(
      TextClassifiers.calibrationBinsHist(scored, "doc_id", "y", "score", bins = 3))
    assert(hist.map(_._2) == Seq(3L, 2L, 2L))
    assert(hist.map(_._2).sum == 7L)
    // degenerate: ALL rows share one score — one histogram group spans
    // every bin; occupancy must still be the exact-form bin sizes
    val flat = (1L to 10L).map(i => (i, i % 4 == 0, 42L)).toDF("doc_id", "yb", "score")
      .withColumn("y", col("yb").cast("long")).drop("yb")
    val fh = collectBins(
      TextClassifiers.calibrationBinsHist(flat, "doc_id", "y", "score", bins = 4))
    assert(fh.map(_._2) == Seq(3L, 2L, 3L, 2L))
    assert(fh.map(_._3).sum == 2L) // 2 positives total, conserved
    assert(fh.map(_._5) == Seq(3L * 42, 2L * 42, 3L * 42, 2L * 42))
  }

  test("dist ANN: bounded coarse model, no codebook closure, no dropped rows") {
    import graft.sim.Similarity
    val n = 400
    val dim = 8
    val emb = spark.range(n).select(col("id").as("vec_id"),
      array((0 until dim).map(d =>
        pmod(col("id") * (d + 3) + d, lit(97)).cast("double") / lit(97.0)): _*).as("embedding"))
    val k = 25 // kc = ceil(sqrt(25)) = 5
    val (model, index) = Similarity.ivfTrainIndexDist(emb, "vec_id", "embedding", k,
      iters = 2, coarseIters = 1)
    // 1. the DRIVER-HELD model is the coarse level only: <= ceil(sqrt(k)) rows
    assert(model.coarse.length <= 5)
    // 2. the fine level is a DataFrame sized ~k (LCG-threshold binomial) —
    //    never an Array, never collected
    val fk = model.fine.count()
    assert(fk > 0 && fk < 3L * k, s"fine rows $fk")
    // 3. the index assigns EVERY corpus row a cell (sentinel fallback for
    //    coarse cells holding no fine centroid — no silent drops)
    assert(index.count() == n)
    // 4. plan audit: every centroid kernel reachable from the probe plan is
    //    the coarse level (<= kc centroids); the k-codebook hier kernel of
    //    the round-12 path must be absent
    val probe = Similarity.ivfProbeIndexDist(model, index,
      emb.where(col("vec_id") % 7 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")),
      "vec_id", "qid", "qv", k = 5)
    val exprs = probe.queryExecution.optimizedPlan.collect { case p => p.expressions }.flatten
    val kernels = exprs.flatMap(_.collect { case Invoke(Literal(k, _), "nearest", _, _, _, _, _, _) => k })
    val kernelSizes = kernels.collect { case k: graft.functions.CentroidKernel => k.cids.length }
    assert(kernelSizes.nonEmpty && kernelSizes.forall(_ <= 5), kernelSizes.toString)
    assert(kernels.collect { case k: graft.functions.HierCentroidKernel => k }.isEmpty)
    // 5. the probe produces ranked neighbors with rank <= k
    val rows = probe.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(3) <= 5L))
    // 6. the standalone ingest-batch assignment (ivfIndexDist) reproduces
    //    the fused train-time index exactly — the incremental-ingest shape
    val again = Similarity.ivfIndexDist(model, emb, "vec_id", "embedding")
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fused = index.select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == fused)
    index.unpersist(blocking = false)
    model.fine.unpersist(blocking = false)
  }

  test("dist k-means hands only its fine table to the frame store and releases its passes") {
    import graft.sim.Similarity
    val emb = spark.range(300).select(col("id").as("vec_id"),
      array((0 until 4).map(d => pmod(col("id") * (d + 5) + d, lit(89)).cast("double")): _*)
        .as("embedding"))
    FrameCache.clear()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val model = Similarity.ivfTrainKMeansDist(emb, "vec_id", "embedding", 16, iters = 2, coarseIters = 1)
    assert(model.fine.storageLevel.useMemory, "the returned fine table is cached")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size == 1,
      "only the final fine table outlives the call")
    FrameCache.clear()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("calibrationBinsHist plan: no window over the unaggregated doc table") {
    import spark.implicits._
    val scored = (1L to 50L).map(i => (i, i % 2, i % 5)).toDF("doc_id", "y", "score")
    val plan = TextClassifiers.calibrationBinsHist(scored, "doc_id", "y", "score")
      .queryExecution.optimizedPlan
    // the one Window must sit ABOVE the histogram Aggregate — the whole
    // point of the twin is that no rank touches the per-doc rows
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.size == 1)
    assert(windows.head.child.collectFirst { case a: Aggregate => a }.nonEmpty,
      "window input must be the bounded histogram aggregate")
  }
}
