package graft.sim

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.FrameCache

/**
 * Greedy farthest-first k-center selection over an embedding column — the
 * diversity-coreset complement to GraphRank's centrality: the k selected
 * vectors maximize pairwise dissimilarity, covering the corpus's modes
 * (Gonzalez's classic 2-approximation to the k-center objective). The
 * standard pick for seeding diverse few-shot pools, eval panels, and
 * anchor sets for stratified pruning.
 *
 * Seed = the minimum id; each round selects the vector whose maximum
 * similarity to the already-chosen set is SMALLEST (ties id-asc).
 *
 * Scale shape: the corpus rides persisted with ONE running max-sim column,
 * updated map-side each round against the single newly-chosen center (a
 * literal vector in the plan — never a join, never a re-scan of the chosen
 * set); selection is a TakeOrderedAndProject fetching 1 row. k rounds of
 * one scan each — O(k·N) with per-round materialization keeping lineage
 * O(1), exactly the distributed form of the textbook sequential algorithm.
 *
 * Determinism: similarities round to `roundTo` decimals before any
 * comparison and ties break id-asc, so the whole selection trajectory is
 * replayable in any engine (the DuckDB oracle unrolls the same k stages).
 *
 * COST CLIFF: each rank costs one full corpus scan — O(k·N) total. That is
 * the right trade for the small k this operator exists for (diverse
 * few-shot pools, eval panels: k ≲ 100); at large k the k scans dominate
 * everything around them. `farthestFirst` therefore refuses k > 512 —
 * use [[farthestFirstSampled]] (select within a deterministic hash-sample,
 * O(k·S) with S fixed) for coreset sizes beyond that.
 */
object KCenter {

  /** Hard ceiling on the exact path: past this, the k full corpus scans
    * are a cost cliff and the sampled path is the designed route. */
  val MaxExactK = 512

  /** Returns (rank, idCol, sel_sim): rank 1..k in selection order, sel_sim
    * = the center's max similarity to the previously chosen set at the
    * moment of selection (the seed reports 1.0). Ids must be integral. */
  def farthestFirst(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, roundTo: Int = 6): DataFrame = {
    require(k >= 1, "k must be positive")
    require(k <= MaxExactK,
      s"farthestFirst runs k full corpus scans — k=$k > $MaxExactK is a cost " +
        "cliff at scale; use farthestFirstSampled (deterministic hash-sample " +
        "then select) for large coresets")
    selectGreedy(corpus, idCol, vecCol, k, roundTo)
  }

  /**
   * Large-k path: greedy selection WITHIN a deterministic hash-sample of
   * the corpus. One corpus scan draws the `sampleSize` lowest-md5(id) rows
   * (the same mergeable, growth-stable sampling key the split/cap
   * operators use), then the exact greedy walk runs on that bounded frame
   * — O(N) once + O(k·S) with S fixed, instead of O(k·N). The coreset
   * quality argument is the standard one: a uniform sample of size ≫ k
   * still hits every sizeable mode, and farthest-first inside it covers
   * those modes; only modes rarer than ~N/S can be missed.
   *
   * `sampleSize` defaults to max(32·k, 4096) — comfortably ≫ k while small
   * enough that the per-round scans are metadata-priced.
   */
  def farthestFirstSampled(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, sampleSize: Int = 0, roundTo: Int = 6): DataFrame = {
    require(k >= 1, "k must be positive")
    val s = if (sampleSize > 0) sampleSize else math.max(32 * k, 4096)
    require(s >= k, s"sampleSize=$s must be >= k=$k")
    val sample = corpus
      .select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(s)
    // the exact-path k cap does not apply: the sample is bounded, so the
    // per-round scans are O(S) regardless of corpus size (selectGreedy
    // persists its own projection of the sample)
    selectGreedy(sample, idCol, vecCol, k, roundTo)
  }

  /** The greedy walk without the exact-path k cap (callers bound the
    * input themselves). */
  private def selectGreedy(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, roundTo: Int): DataFrame = FrameCache.scoped { s =>
    val spark = corpus.sparkSession
    var cur = s.persist(corpus
      .select(col(idCol).cast("long").as("_id"),
        col(vecCol).cast("array<double>").as("_v"),
        lit(-1.0).as("_maxsim")))
    cur.count()
    val seed = cur.orderBy(col("_id").asc).limit(1).collect()(0)
    var chosen =
      Vector[(Long, Seq[Double], Double)]((seed.getLong(0), seed.getSeq[Double](1), 1.0))
    var exhausted = false
    while (chosen.size < k && !exhausted) {
      val cvec = chosen.last._2
      val next = s.persist(cur
        .withColumn("_maxsim",
          greatest(col("_maxsim"),
            round(Similarity.cosine(col("_v"), typedLit(cvec)), roundTo))))
      next.count()
      s.release(cur)
      cur = next
      val sel = cur.where(!col("_id").isInCollection(chosen.map(_._1)))
        .orderBy(col("_maxsim").asc, col("_id").asc)
        .limit(1).collect()
      if (sel.isEmpty) exhausted = true
      else chosen :+= ((sel(0).getLong(0), sel(0).getSeq[Double](1), sel(0).getDouble(2)))
    }
    val schema = StructType(Seq(
      StructField("rank", LongType, nullable = false),
      StructField(idCol, LongType, nullable = false),
      StructField("sel_sim", DoubleType, nullable = false)))
    val rows = chosen.zipWithIndex.map { case ((id, _, sim), i) =>
      Row((i + 1).toLong, id, sim)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
