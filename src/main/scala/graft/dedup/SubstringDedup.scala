package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Exact repeated-substring detection (the Lee et al. 2021 "Deduplicating
 * Training Data Makes Language Models Better" signal): fixed-width
 * character windows are hashed at EVERY position, and a window is KEPT
 * when its own hash selects it (hash mod rate == 0) — winnowing-style
 * content-keyed sampling. Selection depends only on the window's bytes,
 * never its offset, so a paragraph pasted into two documents at different
 * positions selects the SAME windows in both (a fixed-stride scheme only
 * matches when the copies are phase-aligned mod the stride — its spec
 * counter-example is in Wave4OpsSpec). A kept window whose hash occurs in
 * two or more DISTINCT documents marks both as carrying corpus-duplicated
 * content — the boilerplate-paragraph contamination mode whole-document
 * MinHash misses.
 *
 * Scale shape: the per-position hashing is a native rolling-hash kernel
 * (WinnowedHashesExpr) — O(1) multiply-add per character with the window
 * hash rolled forward, one kernel call per document, inside whole-stage
 * codegen (the naive md5-per-window formulation costs two digest block
 * transforms plus allocations per position — measured 100x slower at
 * sf0.1). Selection happens inside the kernel, so only len/rate longs per
 * document ever leave the expression or reach an exchange. The kept-window
 * stream is materialized ONCE (a FrameCache entry) and feeds two hash
 * aggregations: the duplicated-hash table (shuffle bounded by the distinct
 * window vocabulary, map-side partial aggregation) and the per-doc
 * profile. The join back is on the 40-bit-range hash — uniformly
 * distributed keys, no skew by construction.
 */
object SubstringDedup {

  /**
   * Per-document repeated-window profile over `width`-char windows kept at
   * expected rate 1/`rate`. Returns (idCol, n_windows, n_repeated,
   * has_repeat) where n_windows counts this document's KEPT windows and
   * n_repeated those whose content also occurs in at least one OTHER
   * document. Documents shorter than `width` — or whose every window is
   * deselected, probability (1-1/rate)^len — contribute no rows.
   */
  def repeatedWindowProfile(
      df: DataFrame, idCol: String, textCol: String,
      width: Int = 40, rate: Int = 10): DataFrame = {
    require(width >= 8 && rate >= 1)
    val wins = graft.FrameCache.persist(
      df.select(col(idCol),
        explode(graft.functions.HashExpressions
          .winnowedHashes(col(textCol), width, rate)).as("h")))
    val dup = wins.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .where(col("_nd") >= 2)
      .select(col("h"), lit(1L).as("_dup"))
    wins.join(dup, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("_dup").isNotNull, 1L).otherwise(0L)).as("n_repeated"))
      .withColumn("has_repeat", col("n_repeated") > 0)
  }
}
