package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.FrameCache

/**
 * Integer-exact PageRank power iteration over an edge table — document
 * centrality for representative/coreset selection: run it on the kNN
 * similarity graph and the top ranks are the corpus's most "central"
 * documents (the ones many neighborhoods point at), the standard pick for
 * few-shot pools and diversity-aware pruning.
 *
 * Arithmetic is micro-scaled integers, not doubles:
 *   r₀(v) = 1e6;   rₜ₊₁(v) = (1e6 − damp) + damp · Sₜ(v) div 1e6
 *   where Sₜ(v) = Σ_{u→v} rₜ(u) div outdeg(u)
 * Every step is int64 `div`/`sum`, so the fixpoint trajectory is exactly
 * replayable in any engine (the DuckDB oracle unrolls the same k stages) —
 * no libm, no FP accumulation order. The classic dense-rank caveats
 * (dangling mass leaks, truncating div loses ≤1 micro per edge) are
 * deliberate: this is a deterministic RANKING signal, not a probability.
 *
 * Scale shape: the edge table (with out-degrees pre-joined) is persisted
 * ONCE and hash-partitioned by src on its first shuffle; each of the k
 * iterations is one co-partitioned equi-join (ranks are repartitioned by
 * the same id key) + one aggregation by dst + one left join back to the
 * node set for zero-in-degree rows. Ranks materialize per iteration
 * (persist + count + unpersist of the previous) so lineage stays O(1) deep
 * — the loop never builds a k-deep unexecuted plan. Driver holds nothing
 * but the loop counter.
 */
object GraphRank {

  /**
   * Top-`k` nodes by rank after `iters` power iterations (ties id-asc).
   * Returns a LOCAL relation — the k-row fetch is the same bounded-model
   * class as a centroid fetch, and every intermediate cache is released
   * before return (the iteration caches would otherwise outlive the
   * query; same hygiene as CorpusStats.tokenDrift).
   */
  def pageRankTop(nodes: DataFrame, edges: DataFrame, idCol: String,
      srcCol: String, dstCol: String, iters: Int, k: Int,
      dampMicro: Long = 850000L): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(k >= 1, "k must be positive")
    require(dampMicro >= 0L && dampMicro <= 1000000L, "dampMicro in [0, 1e6]")
    val deg = edges.groupBy(col(srcCol)).agg(count(lit(1)).as("_deg"))
    FrameCache.scoped { s =>
      val e = s.persist(edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
        .join(deg.select(col(srcCol).as("_src"), col("_deg")), Seq("_src")))
      val n = s.persist(nodes.select(col(idCol).as("_id")))
      val base = 1000000L - dampMicro
      var ranks = s.persist(n.select(col("_id"), lit(1000000L).as("_r")))
      // Deferred-materialization loop (round 13): the iteration count is
      // data-independent, so no per-iteration action is semantically
      // required — the final top-k collect computes the whole chain in one
      // job (each level still persists, so task retries recompute from the
      // nearest cache). A checkpoint action every 4th level bounds BOTH plan
      // depth and peak cache residency (levels older than the last
      // materialized one are released there — at 1e9 nodes, holding every
      // level live is real memory). Previously every level ran its own
      // count() job: 6 barrier jobs per call, each a full pass over the
      // rank table at any scale.
      for (it <- 1 to iters) {
        val contrib = e.join(ranks.withColumnRenamed("_id", "_src"), Seq("_src"))
          .select(col("_dst"), expr("_r div _deg").as("_c"))
          .groupBy(col("_dst")).agg(sum(col("_c")).as("_s"))
        ranks = s.persist(n
          .join(contrib.withColumnRenamed("_dst", "_id"), Seq("_id"), "left")
          .select(col("_id"),
            (lit(base) + expr(s"$dampMicro * coalesce(_s, 0L) div 1000000"))
              .cast("long").as("_r")))
        if (it % 4 == 0 && it < iters) {
          ranks.count()
          s.retain(e, n, ranks)
        }
      }
      val top = ranks
        .select(col("_id").as(idCol), col("_r").as("rank_micro"))
        .orderBy(col("rank_micro").desc, col(idCol).asc)
        .limit(k)
      val rows = top.collect() // k rows — TakeOrderedAndProject upstream
      nodes.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), top.schema)
    }
  }
}
