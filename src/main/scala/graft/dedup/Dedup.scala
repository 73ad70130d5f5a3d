package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.FrameCache
import graft.text.TextFunctions._

/**
 * Exact deduplication by content hash. One hash-aggregation shuffle on the
 * md5 of the text — the canonical 100 TB dedup first pass. Output keeps the
 * smallest id per content group plus the duplicate count.
 */
object ExactDedup {

  /** One row per distinct content: canonical (min) id and group size. */
  def groups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Deduplicated dataset: keeps exactly the canonical row per content. */
  def dedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = groups(df, idCol, textCol).select(col("canonical_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /**
   * Shared-prefix clusters: documents whose first `k` word tokens are
   * identical — the crawl-boilerplate head detector (cookie banners,
   * licence preambles, scraped-nav headers) that exact full-text dedup
   * misses because the bodies differ. Shorter docs hash their full token
   * list, so byte-identical short docs also cluster. Output: one row per
   * prefix shared by ≥2 docs, with the cluster size and the smallest id as
   * canonical.
   *
   * Scale shape: identical to exact dedup — a map-side md5 of the bounded
   * k-token prefix (never the full text) and ONE hash-aggregation shuffle;
   * the n_docs > 1 filter rides the aggregation.
   */
  def prefixClusters(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val key = md5(concat_ws(" ", slice(tokens(col(textCol)), 1, k)))
    df.select(col(idCol), key.as("prefix_hash"))
      .groupBy(col("prefix_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))
      .where(col("n_docs") > 1)
      .orderBy(col("prefix_hash"))
  }

  /**
   * Cross-source duplicate-overlap matrix: for every pair of sources, how
   * many DISTINCT contents they share byte-identically — the provenance
   * profile that surfaces mirror sites and re-crawled feeds before
   * near-dup analysis even starts.
   *
   * Scale shape: one distinct-projection shuffle on (content_hash, source),
   * then a self-equi-join on the hash. Per-hash group size is bounded by
   * the number of DISTINCT sources carrying that content (never by its copy
   * count — the distinct collapses per-source multiplicity first), so a
   * hash hot enough to appear everywhere contributes |sources|² pairs, not
   * copies². The output is |sources|²-bounded — driver-safe at any corpus
   * size.
   */
  def sourceOverlap(df: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val hs = df.select(md5(col(textCol)).as("h"), col(sourceCol).as("src")).distinct()
    hs.select(col("h"), col("src").as("source_a"))
      .join(hs.select(col("h"), col("src").as("source_b")), Seq("h"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }
}

/**
 * MinHash + banded LSH near-duplicate detection, fully declarative:
 *
 *   shingle -> 31-bit hash set -> k minhashes -> b bands -> band-bucket
 *   self-join -> distinct candidate pairs -> exact Jaccard verify
 *
 * Scale design: the only shuffles are (1) the band-bucket equi-join whose
 * key cardinality is ~corpus x bands (band id is part of the key, so bucket
 * skew is bounded per band), and (2) the semi-join pulling shingle sets for
 * verification. Signatures are k longs/doc regardless of doc size.
 *
 * Hash family: h_i(x) = (a_i * x + b_i) mod P on 31-bit shingle hashes, with
 * deterministic LCG-derived coefficients so any engine can replay them.
 */
class MinHashLSH(val numHashes: Int = 32, val bands: Int = 8, val shingleSize: Int = 3) {
  require(numHashes % bands == 0, "numHashes must be divisible by bands")
  val rowsPerBand: Int = numHashes / bands

  /** Deterministic hash coefficients (shared with oracle replay). */
  def coefA(i: Int): Long = MinHashLSH.coefA(i)
  def coefB(i: Int): Long = MinHashLSH.coefB(i)

  /** Adds `sig` (array of numHashes minhash values). The shingle set is
    * materialized in its own projection first so tokenization+md5 runs ONCE
    * per row; the k minhashes fold in a SINGLE pass over the set (one small
    * lambda instead of k array traversals — keeps generated code compact and
    * the scan memory-local). Empty docs keep the sentinel P. */
  def withSignature(df: DataFrame, textCol: String): DataFrame = {
    val withSet = df.withColumn("_sset",
      graft.functions.HashExpressions.shingleHashSet(col(textCol), shingleSize))
    withSet.withColumn("sig", signatureFromSet(col("_sset"))).drop("_sset")
  }

  /** k minhashes folded in one pass over a pre-computed shingle-hash set —
    * a native codegen'd expression (the HOF aggregate/zip_with formulation
    * runs interpreted and allocates a k-array per shingle). */
  def signatureFromSet(sset: Column): Column =
    graft.functions.HashExpressions.minhashSignature(sset, numHashes)

  /** Adds (band, bucket) pairs, one row per band. */
  def banded(df: DataFrame, textCol: String): DataFrame = {
    val withSig = withSignature(df, textCol)
    val bandCols = array((0 until bands).map { bIdx =>
      struct(
        lit(bIdx).as("band"),
        concat_ws("_", (0 until rowsPerBand).map(r => col("sig")(bIdx * rowsPerBand + r)): _*).as("bucket"))
    }: _*)
    withSig.withColumn("bb", explode(bandCols))
      .select(df.columns.map(col) :+ col("sig") :+ col("bb.band").as("band") :+ col("bb.bucket").as("bucket"): _*)
  }

  /**
   * Distinct candidate id pairs (a < b) sharing at least one band bucket.
   */
  def candidatePairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // persisted: both self-join sides read one computation of the banding
    // (a broadcast side would otherwise re-derive it — see pairsFromSets)
    val b = FrameCache.persist(
      banded(df.select(col(idCol), col(textCol)), textCol)
        .select(col(idCol), col("band"), col("bucket")))
    val l = b.select(col(idCol).as("a"), col("band"), col("bucket"))
    val r = b.select(col(idCol).as("b"), col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** `candidatePairs` over a precomputed (id, sset, sig) projection — e.g.
    * a signature table written once per corpus by `signatures()` and read
    * back for every subsequent dedup run (the petabyte-scale path). */
  def candidatePairsFromSigs(sigs: DataFrame, idCol: String): DataFrame = {
    // persisted: see candidatePairs — one banding computation, two readers
    val b = FrameCache.persist(bandedFromSigs(sigs, idCol))
    val l = b.select(col(idCol).as("a"), col("band"), col("bucket"))
    val r = b.select(col(idCol).as("b"), col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** The (id, sset, sig) signature projection — 32 longs + shingle set per
    * doc, independent of document size. At petabyte scale, WRITE this to a
    * table once per corpus and feed it to `nearDuplicatesAgainst` for
    * incremental runs instead of re-deriving signatures from raw text. */
  def signatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        graft.functions.HashExpressions.shingleHashSet(col(textCol), shingleSize).as("sset"))
      .withColumn("sig", signatureFromSet(col("sset")))

  /** (id, band, bucket) banding of a signature projection. */
  def bandedFromSigs(sigs: DataFrame, idCol: String): DataFrame = {
    val bandCols = array((0 until bands).map { bIdx =>
      struct(
        lit(bIdx).as("band"),
        concat_ws("_", (0 until rowsPerBand).map(r => col("sig")(bIdx * rowsPerBand + r)): _*).as("bucket"))
    }: _*)
    sigs.withColumn("bb", explode(bandCols))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /**
   * INCREMENTAL near-dup detection: match a new batch against an existing
   * signature table (plus within-batch pairs) WITHOUT rescanning the
   * historical corpus — the daily-ingest shape at 100 TB, where history is
   * signatures-only (no raw text) and each run's cost is proportional to
   * the new batch, not the archive. Returns (a, b, jaccard) with a < b;
   * at least one side of every pair is from `newDocs`; history×history
   * pairs are never produced.
   *
   * `historySigs` must come from `signatures()` with the same parameters.
   * Ids appearing in BOTH history and the new batch are treated as the new
   * batch's version: the stale history row is anti-joined out before the
   * union (otherwise duplicate signature rows would emit duplicated pairs).
   */
  def nearDuplicatesAgainst(
      historySigs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    val newSigs = FrameCache.persist(signatures(newDocs, idCol, textCol))
    val history = historySigs.select(col(idCol), col("sset"), col("sig"))
      .join(newSigs.select(col(idCol)), Seq(idCol), "left_anti")
    val allSigs = history.unionAll(newSigs)
    val bandsNew = bandedFromSigs(newSigs, idCol)
    val bandsAll = bandedFromSigs(allSigs, idCol)
    // one side always new: candidate volume tracks the batch, not history
    val cands = bandsAll.select(col(idCol).as("x"), col("band"), col("bucket"))
      .join(bandsNew.select(col(idCol).as("y"), col("band"), col("bucket")), Seq("band", "bucket"))
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
    // sort_array canonicalizes for the merge-count verify kernel (round 13)
    val sets = allSigs.select(col(idCol).as("sid"), sort_array(col("sset")).as("sset"))
    cands
      .join(sets.withColumnRenamed("sid", "a").withColumnRenamed("sset", "set_a"), Seq("a"))
      .join(sets.withColumnRenamed("sid", "b").withColumnRenamed("sset", "set_b"), Seq("b"))
      .withColumn("jaccard", jaccardSorted(col("set_a"), col("set_b")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /**
   * Near-duplicate pairs with exact Jaccard >= threshold on the distinct
   * shingle sets of the candidates.
   *
   * The expensive projection (tokenize -> shingle -> md5 -> signature) is
   * computed ONCE behind a repartition exchange; the band branch and both
   * verify branches read the reused exchange instead of re-deriving shingles
   * from raw text (4x scan cost otherwise — at 100 TB, the difference
   * between one corpus pass and four).
   */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame =
    nearDuplicatesFromSigs(cachedSignatures(df, idCol, textCol), idCol, threshold)

  /** `signatures` of `df`'s (id, text) projection, persisted ONCE: column
    * pruning specializes each consuming branch to different columns, so
    * exchange reuse can't kick in — persist is the correct materialization
    * point (disk-backed; ~2 KB/doc regardless of document size). The frame
    * cache keys it by plan, which carries the corpus and the hash
    * parameters, so every MinHash operator over one corpus — pairs, star
    * groups, components, pipeline, split — derives signatures from raw text
    * once. */
  private def cachedSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    FrameCache.persist(signatures(df.select(col(idCol), col(textCol)), idCol, textCol))

  /** `nearDuplicates` over a PRECOMPUTED (id, sset, sig) projection — from
    * `signatures()` with the same params, either live or read back from a
    * signature TABLE (the petabyte-scale path: signatures are ~2 KB/doc
    * regardless of document size, so persist them once per corpus and run
    * every dedup recipe against the table instead of raw text). The caller
    * owns materialization of `sigs`. */
  def nearDuplicatesFromSigs(sigs: DataFrame, idCol: String, threshold: Double): DataFrame = {
    // persisted: see candidatePairs — one banding computation, two readers
    val bandedBase = FrameCache.persist(bandedFromSigs(sigs, idCol))
    val cands = bandedBase.select(col(idCol).as("a"), col("band"), col("bucket"))
      .join(bandedBase.select(col(idCol).as("b"), col("band"), col("bucket")), Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()

    // sort_array canonicalizes for the merge-count verify kernel (round 13)
    val sets = sigs.select(col(idCol).as("sid"), sort_array(col("sset")).as("sset"))
    cands
      .join(sets.withColumnRenamed("sid", "a").withColumnRenamed("sset", "set_a"), Seq("a"))
      .join(sets.withColumnRenamed("sid", "b").withColumnRenamed("sset", "set_b"), Seq("b"))
      .withColumn("jaccard", jaccardSorted(col("set_a"), col("set_b")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /**
   * Dedup-TUNING dashboard: the exact-Jaccard decile histogram of every
   * banded candidate pair, with the cumulative pair count at-or-above each
   * decile — "what does a τ of 0.x cost/keep" read directly off the
   * corpus instead of guessed from banding theory. Output (≤ 11 rows):
   * (bucket_lo_milli, n_pairs, n_pairs_at_or_above), bucket = decile of
   * the integer jaccard_milli (1000 = the exact-duplicate bucket).
   *
   * Skew shape: candidates are the all-pairs bucket self-join over
   * REPRESENTATIVES — identical shingle sets collapse first (the
   * nearDuplicateComponents guard) and re-enter the histogram by exact
   * pair arithmetic: a clique of n identical docs contributes C(n,2)
   * pairs at 1000, and a rep pair (a, b) contributes n_a·n_b pairs at its
   * bucket (identical sets ⇒ identical signatures ⇒ identical banding, so
   * the collapsed accounting equals the uncollapsed histogram EXACTLY,
   * not approximately). Docs with empty shingle sets drop out (their
   * jaccard is undefined).
   */
  def thresholdCurve(df: DataFrame, idCol: String, textCol: String): DataFrame =
    thresholdCurveFromSigs(cachedSignatures(df, idCol, textCol), idCol)

  /** `thresholdCurve` over a precomputed (id, sset, sig) projection. */
  def thresholdCurveFromSigs(sigs: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = FrameCache.persist(
      sigs.where(size(col("sset")) > 0)
        .withColumn("_rep",
          min(col(idCol)).over(Window.partitionBy(sort_array(col("sset"))))))
    val mult = keyed.groupBy(col("_rep")).agg(count(lit(1)).as("n_copies"))
    val repSigs = keyed.where(col(idCol) === col("_rep"))
      .select(col(idCol), col("sset"), col("sig"))
    // persisted: see candidatePairs — one banding computation, two readers
    val bandedBase = FrameCache.persist(bandedFromSigs(repSigs, idCol))
    val cands = bandedBase.select(col(idCol).as("a"), col("band"), col("bucket"))
      .join(bandedBase.select(col(idCol).as("b"), col("band"), col("bucket")), Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
    // sort_array canonicalizes for the merge-count verify kernel (round 13)
    val sets = repSigs.select(col(idCol).as("sid"), sort_array(col("sset")).as("sset"))
    val crossPairs = cands
      .join(sets.withColumnRenamed("sid", "a").withColumnRenamed("sset", "set_a"), Seq("a"))
      .join(sets.withColumnRenamed("sid", "b").withColumnRenamed("sset", "set_b"), Seq("b"))
      .withColumn("n_inter",
        graft.functions.SetExpressions.intersectCountSorted(col("set_a"), col("set_b")))
      .withColumn("n_union",
        size(col("set_a")).cast("long") + size(col("set_b")) - col("n_inter"))
      .withColumn("bucket_lo_milli",
        expr("CAST((n_inter * 1000 div n_union) div 100 * 100 AS BIGINT)"))
      .join(mult.select(col("_rep").as("a"), col("n_copies").as("n_a")), Seq("a"))
      .join(mult.select(col("_rep").as("b"), col("n_copies").as("n_b")), Seq("b"))
      .groupBy(col("bucket_lo_milli"))
      .agg(sum(col("n_a") * col("n_b")).as("n_pairs"))
    // within-clique pairs: C(n,2) byte-identical pairs at exactly 1000
    val cliquePairs = mult.where(col("n_copies") > 1)
      .agg(coalesce(sum(expr("CAST(n_copies * (n_copies - 1) div 2 AS BIGINT)")), lit(0L))
        .as("n_pairs"))
      .select(lit(1000L).as("bucket_lo_milli"), col("n_pairs"))
      .where(col("n_pairs") > 0)
    val hist = crossPairs.unionAll(cliquePairs)
      .groupBy(col("bucket_lo_milli")).agg(sum(col("n_pairs")).as("n_pairs"))
    hist.withColumn("n_pairs_at_or_above",
        sum(col("n_pairs")).over(
          Window.orderBy(col("bucket_lo_milli").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("bucket_lo_milli"))
  }

  /**
   * Banding RECALL calibration: the measured probability that banded LSH
   * surfaces a pair, by exact-Jaccard decile — the empirical S-curve that
   * theory (1 − (1 − s^r)^b) only predicts. Ground truth is the
   * brute-force all-pairs jaccard over a BOUNDED slice (the caller's
   * responsibility — same contract as the 60-doc calibration fixture);
   * found = the pair shares ≥ 1 band bucket. Output per decile ≥
   * `tauMilliFloor`: (bucket_lo_milli, n_true_pairs, n_lsh_found,
   * recall_milli). Use it to size (bands, rowsPerBand) against a measured
   * corpus instead of folklore.
   */
  def recallCurve(df: DataFrame, idCol: String, textCol: String,
      tauMilliFloor: Long = 100L): DataFrame = {
    require(tauMilliFloor >= 0 && tauMilliFloor <= 1000)
    val sigs = FrameCache.persist(
      signatures(df, idCol, textCol).where(size(col("sset")) > 0))
    // sort_array canonicalizes for the merge-count verify kernel (round 13)
    val sets = sigs.select(col(idCol).as("sid"), sort_array(col("sset")).as("sset"))
    val truth = sets.select(col("sid").as("a"), col("sset").as("set_a"))
      .join(sets.select(col("sid").as("b"), col("sset").as("set_b")),
        col("a") < col("b")) // bounded-slice cross join by contract
      .withColumn("n_inter",
        graft.functions.SetExpressions.intersectCountSorted(col("set_a"), col("set_b")))
      .withColumn("n_union",
        size(col("set_a")).cast("long") + size(col("set_b")) - col("n_inter"))
      .withColumn("jaccard_milli", expr("CAST(n_inter * 1000 div n_union AS BIGINT)"))
      .where(col("jaccard_milli") >= tauMilliFloor)
      .select(col("a"), col("b"),
        expr("CAST(jaccard_milli div 100 * 100 AS BIGINT)").as("bucket_lo_milli"))
    val cands = candidatePairsFromSigs(sigs, idCol).withColumn("_found", lit(1L))
    truth.join(cands, Seq("a", "b"), "left")
      .groupBy(col("bucket_lo_milli"))
      .agg(count(lit(1)).as("n_true_pairs"),
        coalesce(sum(col("_found")), lit(0L)).as("n_lsh_found"))
      .withColumn("recall_milli",
        expr("CAST(n_lsh_found * 1000 div n_true_pairs AS BIGINT)"))
      .orderBy(col("bucket_lo_milli"))
  }

  /**
   * Skew-safe near-duplicate GROUP assignment — the hot-key-proof dedup
   * shape for 100 TB corpora.
   *
   * `nearDuplicates` enumerates candidate PAIRS within each band bucket,
   * which is inherently quadratic in bucket size: 10k copies of one
   * document put 10k rows into the same bucket of EVERY band and emit
   * ~8 x 50M joined rows before the distinct. For dedup-to-canonical the
   * clique is never needed — pairing each member with the bucket MINIMUM
   * (a star) canonicalizes the same groups at O(bucket) candidates. The
   * hot bucket then costs one map-side partial min aggregation plus a
   * linear join against a 1-row-per-bucket side, instead of a self-join
   * square.
   *
   * Returns (id, canonical_id): canonical = min over the doc's VERIFIED
   * star partners (exact Jaccard >= threshold), or the doc itself. Exact
   * duplicates share every band bucket with their clique minimum (equal
   * signatures), so one star round canonicalizes exact-dup cliques
   * completely; near-dup recall per (min, member) pair is the usual banded
   * LSH probability. Chain-shaped sets (a~b~c with a!~c) keep one canonical
   * per link — iterate to a fixed point when full connected components are
   * required.
   */
  def duplicateGroups(df: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame =
    duplicateGroupsFromSigs(cachedSignatures(df, idCol, textCol), idCol, threshold)

  /** `duplicateGroups` over a precomputed (id, sset, sig) projection — the
    * signature-table twin (see `nearDuplicatesFromSigs`). */
  def duplicateGroupsFromSigs(base: DataFrame, idCol: String, threshold: Double): DataFrame = {
    // persisted: the bucket-min aggregation AND the probe join both read
    // the banding — one computation (see candidatePairs)
    val bandedBase = FrameCache.persist(bandedFromSigs(base, idCol))

    val bucketMin = bandedBase.groupBy(col("band"), col("bucket"))
      .agg(min(col(idCol)).as("a"))
    val cands = bandedBase.join(bucketMin, Seq("band", "bucket"))
      .where(col("a") < col(idCol))
      .select(col("a"), col(idCol).as("b")).distinct()

    // sort_array canonicalizes for the merge-count verify kernel (round 13)
    val sets = base.select(col(idCol).as("sid"), sort_array(col("sset")).as("sset"))
    val verified = cands
      .join(sets.withColumnRenamed("sid", "a").withColumnRenamed("sset", "set_a"), Seq("a"))
      .join(sets.withColumnRenamed("sid", "b").withColumnRenamed("sset", "set_b"), Seq("b"))
      .where(jaccardSorted(col("set_a"), col("set_b")) >= threshold)
      .select(col("a"), col("b"))

    base.select(col(idCol))
      .join(verified.groupBy(col("b")).agg(min(col("a")).as("_canon")),
        col(idCol) === col("b"), "left")
      .select(col(idCol), coalesce(col("_canon"), col(idCol)).as("canonical_id"))
  }

  /**
   * Full connected-component canonical assignment over the verified
   * near-dup PAIR graph: `duplicateGroups` closes cliques in one round but
   * chain-shaped sets (a~b~c with a!~c) keep one canonical per link; this
   * iterates min-label propagation to a fixed point so every component gets
   * exactly one canonical (its minimum id).
   *
   * HOT-CLIQUE GUARD (round 10): pair candidates are the all-pairs bucket
   * self-join, inherently quadratic in bucket size — a document duplicated
   * 10k times used to put 10k rows into the same bucket of EVERY band and
   * emit ~8 × 50M joined rows. Identical shingle SETS are Jaccard-1
   * duplicates by identity, so each distinct non-empty set now collapses to
   * its min-id representative (one window over the signature projection —
   * `ExactDedup`'s shape) BEFORE candidate generation; candidates are then
   * linear in DISTINCT contents, and the component label joins back through
   * the representative mapping. The collapse is LOSSLESS for component
   * semantics: within-group connectivity IS the collapse, and a verified
   * pair (member, x) exists iff (rep, x) verifies, because their sets are
   * equal. Empty sets (docs shorter than one shingle) never verify a pair
   * (jaccard ≡ 0), so they stay singletons and are NOT collapsed.
   */
  def nearDuplicateComponents(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      maxIters: Int = 20): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1] — the exact-set collapse merges identical sets, which verify at exactly 1.0")
    import org.apache.spark.sql.expressions.Window
    val sigs = cachedSignatures(df, idCol, textCol)
    // (id, rep): min id over the doc's canonicalized shingle set; empty
    // sets keep themselves. ONE shuffle on the sorted-set key. Eager
    // localCheckpoint (not persist): the CC loop's per-iteration plans
    // nest their inputs ~3× per round, so the inputs must be lineage
    // LEAVES or planning cost (and plan-string memory) goes exponential.
    val repMap = sigs.select(col(idCol).as("_mid"),
        when(size(col("sset")) === 0, col(idCol))
          .otherwise(min(col(idCol)).over(Window.partitionBy(sort_array(col("sset")))))
          .as("_rep"))
      .localCheckpoint()
    val repSigs = sigs.join(
      repMap.where(col("_mid") === col("_rep")).select(col("_mid").as(idCol)), Seq(idCol))
    // the tiny verified-pair list computes once and becomes a leaf (it is
    // consumed by the symmetrized CC edges AND the linked-id seed)
    val pairs = nearDuplicatesFromSigs(repSigs, idCol, threshold)
      .select(col("a"), col("b")).localCheckpoint()
    // iterate CC over the linked subgraph only (see Dedup.pipeline): nodes
    // without a near-dup pair can never change label
    val linkedIds = pairs.select(col("a").as("id"))
      .unionAll(pairs.select(col("b").as("id"))).distinct()
    val labels = Dedup.connectedComponents(linkedIds, pairs, maxIters)
    // expand: id → representative → component label (reps are group minima,
    // so the component min over reps IS the min over all member ids)
    repMap.join(labels, repMap("_rep") === labels("id"), "left")
      .select(col("_mid").as(idCol),
        coalesce(col("label"), col("_rep")).as("canonical_id"))
  }
}

object Dedup {

  /**
   * Representative selection per duplicate group: given (id, canonical_id)
   * assignments (from `duplicateGroups` or `nearDuplicateComponents`) and a
   * per-doc score, keep the highest-scoring member of each group (ties →
   * smallest id) — the "keep the longest / highest-quality copy" retention
   * policy of LLM dedup pipelines. One join + one window per group.
   */
  def keepBest(
      scored: DataFrame, idCol: String, scoreCol: String,
      groups: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = scored.join(groups, Seq(idCol))
    val w = Window.partitionBy(col("canonical_id"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    joined
      .withColumn("_rk", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("canonical_id"))))
      .where(col("_rk") === 1)
      .select(col("canonical_id"), col(idCol).as("kept_id"),
        col(scoreCol).as("kept_score"), col("n_members"))
  }

  /**
   * The end-to-end dedup recipe users actually run: skew-safe star-group
   * LSH candidates (O(bucket), hot-key-proof) → exact-Jaccard verified
   * STAR links (each doc to its minimum verified partner) → connected
   * components over those links (so star-link chains a←b←c collapse to ONE
   * group) → keepBest retention with score = document length.
   * One call producing (kept_id, canonical_id, n_members): per final
   * duplicate group, the longest member survives (ties → smallest id).
   *
   * Scale shape: one corpus pass for signatures (persisted projection),
   * one banded-join for candidates, O(diameter) small joins for CC over
   * the verified LINK list (pairs, not corpus), one join + window for
   * retention. No stage touches raw text twice.
   */
  def pipeline(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      lsh: MinHashLSH = new MinHashLSH(32, 8, 3), maxIters: Int = 20): DataFrame = {
    val star = lsh.duplicateGroups(df, idCol, textCol, threshold)
    // duplicateGroups emits a PARENT-POINTER FOREST: one row per id with
    // canonical_id <= id (equality at roots). On such a forest the
    // component minimum IS the pointer root, so generic CC (edge
    // symmetrization + groupBy per round) is overkill — pointer jumping
    // resolves every chain in O(log depth) self-joins of one cached
    // two-column mapping. Star chains are short (a~b~c links), so this is
    // 2-3 rounds in practice.
    val groups = resolveForest(star, idCol, "canonical_id", maxIters)
      .select(col("id").as(idCol), col("parent").as("canonical_id"))
    val scored = df.select(col(idCol), length(col(textCol)).cast("long").as("_score"))
    keepBest(scored, idCol, "_score", groups)
      .select(col("kept_id"), col("canonical_id"), col("n_members"))
  }

  /**
   * Pointer-jumping (path-halving) root resolution over a parent mapping:
   * `mapping` has one row per node with parent(id) <= id and parent(root)
   * == root. Each round replaces every pointer with its grandparent —
   * chain depth HALVES per round, so d-deep chains resolve in O(log d)
   * self-joins of one cached two-column frame (no edge symmetrization, no
   * per-round groupBy — the cheap special case of connected components
   * that parent-pointer forests like `duplicateGroups` output allow; on
   * such a forest the root is the component minimum, because every edge
   * points to a smaller id).
   *
   * Returns (id, parent) with parent fully resolved to the root. One Spark
   * action per round (change count folded into the materializing
   * aggregate). OWNERSHIP: result is persisted in [[FrameCache]], which
   * releases it on eviction or `clear()`.
   */
  def resolveForest(
      mapping: DataFrame, idCol: String, parentCol: String,
      maxIters: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    var cur = mapping.select(col(idCol).as("id"), col(parentCol).as("parent"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val l = cur.as("l")
      val r = cur.as("r")
      val nextRaw = l.join(r, col("l.parent") === col("r.id"))
        .select(col("l.id").as("id"), col("r.parent").as("parent"),
          when(col("r.parent") < col("l.parent"), 1L).otherwise(0L).as("_chg"))
      val next =
        if ((it + 1) % 10 == 0) nextRaw.localCheckpoint(false)
        else nextRaw.persist(StorageLevel.MEMORY_AND_DISK)
      changed = next.agg(coalesce(sum(col("_chg")), lit(0L))).first().getLong(0)
      cur.unpersist(blocking = false)
      cur = next
      it += 1
    }
    val result = FrameCache.persist(cur.select(col("id"), col("parent")))
    result.count()
    cur.unpersist(blocking = false)
    result
  }

  /**
   * Connected components by iterative min-label propagation: every node's
   * label converges to the minimum id in its component. O(diameter)
   * iterations, each ONE join + ONE aggregation and exactly ONE Spark action
   * (the change count is folded into the same pass that materializes the
   * next frontier — at 20 iterations on a 100 TB edge list a second
   * change-detection join per round is real money). The standard scalable
   * CC shape for edge lists far beyond memory. Near-dup components have
   * tiny diameters (docs chain through shared buckets), so `maxIters` ~ 20
   * is generous; iteration stops early at the first fixed point.
   *
   * Lineage is truncated with `localCheckpoint` every 10 iterations so long
   * chains never accumulate a deep recursive plan.
   *
   * `ids`: one column of node ids. `edges`: columns (a, b), undirected.
   * Returns (id, label). OWNERSHIP: the returned DataFrame is persisted in
   * [[FrameCache]], which releases it on eviction or `clear()`; a caller
   * done with it early may `unpersist()` it.
   */
  def connectedComponents(ids: DataFrame, edges: DataFrame, maxIters: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val idName = ids.columns.head
    val sym = edges.select(col("a").as("x"), col("b").as("y"))
      .unionAll(edges.select(col("b").as("x"), col("a").as("y")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = ids.select(col(idName).as("id"), col(idName).as("label"),
        lit(0L).as("_chg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var changed = 1L
      var it = 0
      while (changed > 0 && it < maxIters) {
        val neighborMin = sym.join(labels, sym("y") === labels("id"))
          .groupBy(col("x")).agg(min(col("label")).as("nlabel"))
        val nextRaw = labels.join(neighborMin, labels("id") === neighborMin("x"), "left")
          .select(labels("id"),
            least(labels("label"), coalesce(col("nlabel"), labels("label"))).as("label"),
            // did this node's label improve this round? summed below in the
            // SAME action that fills the cache — no second pass
            when(col("nlabel") < labels("label"), 1L).otherwise(0L).as("_chg"))
        // every 10th frontier: truncate lineage instead of stacking another
        // cache layer on a 10-join-deep plan (lazy checkpoint — the agg
        // below is the single materializing action either way)
        val next =
          if ((it + 1) % 10 == 0) nextRaw.localCheckpoint(false)
          else nextRaw.persist(StorageLevel.MEMORY_AND_DISK)
        changed = next.agg(coalesce(sum(col("_chg")), lit(0L))).first().getLong(0)
        labels.unpersist(blocking = false)
        labels = next
        it += 1
      }
      // re-persist the clean (id, label) projection as the RETURNED frame —
      // unpersist() on a derived projection would not release the frontier
      // cache, so the handed-off Dataset must itself be the persisted one;
      // materialize it, then drop the final frontier (possibly a checkpoint)
      val result = FrameCache.persist(labels.select(col("id"), col("label")))
      result.count()
      labels.unpersist(blocking = false)
      result
    } finally sym.unpersist(blocking = false)
  }
}

/** `clear()` drops every frame graft's operators persisted (perfbench's
  * `BookMix` calls it by this name); the frames live in [[FrameCache]]. */
private[graft] object SignatureStore {
  def clear(): Unit = FrameCache.clear()
}

object MinHashLSH {
  import graft.text.TextFunctions.P

  /** LCG-derived multiplier, guaranteed in [1, P-1]. */
  def coefA(i: Int): Long = (1103515245L * (i + 1) + 12345L) % (P - 1) + 1L

  /** LCG-derived offset in [0, P-1]. */
  def coefB(i: Int): Long = (69069L * (i + 1) + 1234567L) % P
}

/**
 * SimHash near-duplicate detection: 60-bit fingerprint (bit j set when the
 * signed sum of token-hash bit j over the document is positive), candidate
 * generation by exact match on one of four 15-bit chunks (guarantees recall
 * for hamming distance <= 3), verification by bit_count(xor).
 */
object SimHash {

  val Bits = 60
  val Chunks = 4
  val ChunkBits: Int = Bits / Chunks

  /** 60-bit hash of one token string (15 hex chars of md5). */
  def tokenHash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Simhash from a pre-materialized token-hash array column: ONE pass over
    * the tokens folding a 60-counter array, as a native codegen'd expression
    * (the HOF formulation runs interpreted with a 60-array per token). */
  def simhashFromToks(toks: Column): Column =
    graft.functions.HashExpressions.simhashFingerprint(toks, Bits)

  /** The 60-bit simhash fingerprint of a document. */
  def simhash(text: Column): Column =
    simhashFromToks(graft.functions.HashExpressions.tokenHashes(text, Bits))

  /** One row per chunk: (id, chunk index, 15-bit chunk value, simhash).
    * Token hashes materialize in their own projection so the 60 per-bit
    * aggregates share one tokenization pass. */
  def chunked(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withSim = df
      .select(col(idCol), graft.functions.HashExpressions.tokenHashes(col(textCol), Bits).as("_toks"))
      .select(col(idCol), simhashFromToks(col("_toks")).as("simhash"))
    val chunks = array((0 until Chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * ChunkBits).bitwiseAND((1L << ChunkBits) - 1L).as("cval"))
    }: _*)
    withSim.withColumn("cc", explode(chunks))
      .select(col(idCol), col("simhash"), col("cc.chunk").as("chunk"), col("cc.cval").as("cval"))
  }

  /** Near-dup pairs with hamming distance <= maxHamming. The simhash
    * projection materializes once behind a reusable exchange (one corpus
    * pass; both join branches read the exchange). */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame = {
    val base = FrameCache.persist(df
      .select(col(idCol), graft.functions.HashExpressions.tokenHashes(col(textCol), Bits).as("_toks"))
      .select(col(idCol), simhashFromToks(col("_toks")).as("simhash"))) // 16 bytes/doc; one corpus pass
    val chunks = array((0 until Chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * ChunkBits).bitwiseAND((1L << ChunkBits) - 1L).as("cval"))
    }: _*)
    val ch = base.withColumn("cc", explode(chunks))
      .select(col(idCol), col("simhash"), col("cc.chunk").as("chunk"), col("cc.cval").as("cval"))
    val l = ch.select(col(idCol).as("a"), col("simhash").as("sim_a"), col("chunk"), col("cval"))
    val r = ch.select(col(idCol).as("b"), col("simhash").as("sim_b"), col("chunk"), col("cval"))
    l.join(r, Seq("chunk", "cval"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}

/**
 * Rare-shingle inverted-index containment detection — the excerpt/quote
 * duplication pass that banded Jaccard LSH structurally misses: a 200-char
 * excerpt of a 5000-char source has Jaccard ≈ 0.04 (no band ever collides at
 * any useful threshold) but containment ≈ 1.0. Reference scope: artan has no
 * dedup surface; this extends the LLM-pipeline family (SURVEY §2 rows 14-17).
 *
 * Candidates come from an inverted index over RARE shingles (doc frequency in
 * [2, maxDocFreq]): two docs become a candidate pair when they share at least
 * `minShared` rare shingles. The df cap bounds every per-shingle self-join at
 * maxDocFreq² pairs — the classic stop-shingle guard that keeps the index
 * join linear in the corpus — and boilerplate shingles (df > cap) never
 * generate candidates at all. Verification is exact set containment
 * |A∩B| / min(|A|,|B|) on the full shingle sets.
 *
 * Scale shape: one shingle-set projection (persisted, ~2 KB/doc), one
 * explode + doc-frequency aggregation (the exact shape of TF-IDF's df pass),
 * one co-partitioned self-join on the shingle key with bounded fanout, one
 * pair-count aggregation, and a verify join that touches candidates only.
 * No cross join, no global sort, no driver-side state.
 */
/**
 * EXACT Jaccard set-similarity self-join via prefix filtering — the
 * SSJoin/PPJoin family (Chaudhuri et al. ICDE'06, Xiao et al. WWW'08):
 * under any fixed global token order, two documents' distinct-token sets
 * can only reach Jaccard ≥ τ if their length-(|t| − ⌈τ·|t|⌉ + 1) prefixes
 * share a token. The candidate join therefore touches prefix tokens only,
 * and with the canonical order (global docFreq asc, token asc) those are
 * the RAREST tokens in the corpus — the join buckets are the smallest
 * buckets the data has. The exact complement to MinHash LSH: zero missed
 * pairs, no banding probability, at the cost of an exact verify join.
 *
 * Determinism: τ rides as an integer (tauMilli), ⌈τ·len⌉ replays as
 * (tauMilli·len + 999) div 1000, and the output jaccard_milli =
 * |∩|·1000 div |∪| — every engine reproduces the pair set bit-for-bit
 * (prefix filtering has no false negatives, so the result equals the
 * brute-force τ-join regardless of candidate generation).
 *
 * Scale shape: one vocab-sized docFreq agg; one per-doc rank window (the
 * explode's doc key); a self-equi-join keyed on prefix tokens with
 * fan-out bounded by the rare-token bucket sizes; a distinct pair agg;
 * and a verify join against the bounded per-doc sets (cached once). No
 * cross join, no global sort, no driver state.
 */
object PrefixFilterJoin {

  /** `shingle` sets the set-element granularity: 1 = distinct unigram
    * tokens; n > 1 = distinct word n-gram shingles (space-joined). Shingles
    * are the production choice for near-dup joins on low-vocabulary corpora
    * — unigram sets over a small shared vocabulary make nearly all pairs
    * τ-similar, so the (correct) output itself goes quadratic; n-gram
    * elements restore the discriminative set structure and linear output.
    * Docs with fewer than `shingle` words have no elements and drop out. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      tauMilli: Long, shingle: Int = 1): DataFrame = {
    require(tauMilli > 0 && tauMilli <= 1000, "tauMilli must be in (0, 1000]")
    require(shingle >= 1, "shingle must be >= 1")
    // shingling runs as the native word-n-gram kernel (one pass inside
    // whole-stage codegen); the transform(sequence(...), concat_ws(get...))
    // formulation runs its lambdas interpreted per gram and re-evaluates
    // the tokenizer per element access — ~10x slower on this stage
    val elems = graft.functions.HashExpressions.wordNGrams(col(textCol), shingle)
    // sort_array canonicalizes the set for the merge-count verify kernel
    // (round 13) — every downstream consumer (explode/df agg, rank window,
    // verify counts) is element-order-insensitive, so this is free semantics
    val sets = FrameCache.persist(
      df.select(col(idCol).as("sid"), sort_array(array_distinct(elems)).as("tset"))
        .where(size(col("tset")) > 0))
    pairsFromSets(sets, tauMilli)
  }

  /** The prefix-filter join over a materialized (sid, tset) projection —
    * shared by the raw and collapsed entry points. `tset` must be sorted
    * + deduplicated (both entry points canonicalize with sort_array).
    *
    * Round-13 verify optimizations (guide §1.2 step 2, §3):
    *  - SSJoin LENGTH FILTER: J(A,B) ≥ τ forces min(|A|,|B|) ≥ τ·max —
    *    in milli-arithmetic floor(1000·min div max) < tauMilli proves the
    *    pair can never verify, so it is dropped BEFORE the distinct and
    *    the verify join ever see it (a pure predicate, zero false drops);
    *  - count-only merge-intersect kernel instead of
    *    size(array_intersect(...)) — no intersection array is ever built.
    */
  private def pairsFromSets(sets: DataFrame, tauMilli: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = sets.select(col("sid"), explode(col("tset")).as("tok"))
    val dfreq = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("sid"))
    // persisted: the self-join below consumes prefix on BOTH sides, and
    // when one side plans as a BroadcastExchange the whole explode + df-agg
    // + window pipeline would otherwise execute twice (broadcast subtrees
    // cannot reuse the streamed side's plan — round-13 profiling caught the
    // duplicated window stage)
    val prefix = FrameCache.persist(ex.join(dfreq, Seq("tok"))
      .withColumn("rn", row_number().over(byDoc.orderBy(col("df"), col("tok"))))
      .withColumn("len", count(lit(1)).over(byDoc))
      .where(col("rn") <=
        col("len") - expr(s"($tauMilli * len + 999) div 1000") + 1)
      .select(col("tok"), col("sid"), col("len"), col("rn")))
    // PPJoin POSITIONAL filter (round 14, Xiao et al. WWW'08 §3.2): both
    // docs list tokens in the SAME global (df, tok) order, so for a shared
    // token at ranks (ra, rb), common elements before it number at most
    // min(ra−1, rb−1) and common elements from it on at most
    // 1 + min(la−ra, lb−rb) — an overlap upper bound that holds for EVERY
    // shared-token event, not just the first. The verify keeps a pair iff
    // floor(1000·I div U) ≥ τmilli ⟺ I ≥ ⌈τmilli(la+lb)/(1000+τmilli)⌉,
    // so an event whose bound misses that α can be dropped; a true pair's
    // every event has bound ≥ I ≥ α, hence survives — zero false drops
    // (pinned by DedupSkewSpec's brute-force equality).
    val cands = prefix.select(col("tok"), col("sid").as("a"), col("len").as("_la"), col("rn").as("_ra"))
      .join(prefix.select(col("tok"), col("sid").as("b"), col("len").as("_lb"), col("rn").as("_rb")), Seq("tok"))
      .where(col("a") < col("b") &&
        expr(s"(least(_la, _lb) * 1000) div greatest(_la, _lb) >= $tauMilli") &&
        expr(s"least(_ra, _rb) + least(_la - _ra, _lb - _rb) >= " +
          s"($tauMilli * (_la + _lb) + ${1000 + tauMilli - 1}) div ${1000 + tauMilli}"))
      .select(col("a"), col("b")).distinct()
    // SHUFFLE_HASH on the sets side (round 13): left to AQE, both verify
    // joins broadcast the WIDE side — the (a, b) pair table and then the
    // (a, b, set_a) intermediate carrying full shingle arrays — because the
    // pair table's estimated bytes are smaller than the sets'. Building on
    // the bounded per-doc sets and STREAMING the pair table is the
    // co-partitioned shape that holds at any scale (sets never broadcast,
    // pairs never carry arrays into a broadcast).
    cands
      .join(sets.select(col("sid").as("a"), col("tset").as("set_a")).hint("shuffle_hash"), Seq("a"))
      .join(sets.select(col("sid").as("b"), col("tset").as("set_b")).hint("shuffle_hash"), Seq("b"))
      .withColumn("n_inter",
        graft.functions.SetExpressions.intersectCountSorted(col("set_a"), col("set_b")))
      .withColumn("n_union",
        size(col("set_a")).cast("long") + size(col("set_b")) - col("n_inter"))
      .withColumn("jaccard_milli",
        expr("CAST(n_inter * 1000 div n_union AS BIGINT)"))
      .where(col("jaccard_milli") >= tauMilli)
      .select(col("a"), col("b"), col("n_inter"), col("n_union"),
        col("jaccard_milli"))
  }

  /**
   * Hot-key-safe variant: byte-identical element SETS collapse to one
   * representative (min id) with a multiplicity BEFORE prefix indexing.
   *
   * `jaccardPairs` is exact, so a document duplicated 10k times makes its
   * (10k choose 2) ≈ 50M within-clique pairs part of the CORRECT output —
   * the quadratic blow-up is in the answer itself, not an algorithmic
   * accident, and no candidate scheme can avoid materializing it. At 100 TB
   * the production recipe is therefore: collapse exact copies first (they
   * are one hash-agg — `ExactDedup`'s shape), join DISTINCT sets, and carry
   * each side's copy count for any downstream weighting. The hot clique
   * then costs ONE representative row; candidates are linear in distinct
   * contents.
   *
   * Output: (a, b, n_inter, n_union, jaccard_milli, n_a, n_b) over
   * representative ids; within-clique pairs (jaccard = 1000 by identity)
   * are intentionally absent — recover them from the multiplicities.
   */
  def jaccardPairsCollapsed(df: DataFrame, idCol: String, textCol: String,
      tauMilli: Long, shingle: Int = 1): DataFrame = {
    require(tauMilli > 0 && tauMilli <= 1000, "tauMilli must be in (0, 1000]")
    require(shingle >= 1, "shingle must be >= 1")
    val elems = graft.functions.HashExpressions.wordNGrams(col(textCol), shingle)
    // one hash-agg collapses exact-set cliques; sort_array canonicalizes
    // the grouping key so element order never splits a clique
    val reps = FrameCache.persist(
      df.select(col(idCol).as("sid"), sort_array(array_distinct(elems)).as("tset"))
        .where(size(col("tset")) > 0)
        .groupBy(col("tset"))
        .agg(min(col("sid")).as("sid"), count(lit(1)).as("n_copies")))
    val pairs = pairsFromSets(reps.select(col("sid"), col("tset")), tauMilli)
    val mult = reps.select(col("sid"), col("n_copies"))
    pairs
      .join(mult.select(col("sid").as("a"), col("n_copies").as("n_a")), Seq("a"))
      .join(mult.select(col("sid").as("b"), col("n_copies").as("n_b")), Seq("b"))
  }
}

object ContainmentIndex {

  def excerptPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, maxDocFreq: Int = 8, minShared: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    require(maxDocFreq >= 2 && minShared >= 1 && threshold > 0.0)
    val base = FrameCache.persist(
      df.select(col(idCol),
        graft.functions.HashExpressions.shingleHashSet(col(textCol), shingleSize).as("sset")))
    val ex = base.select(col(idCol), explode(col("sset")).as("sh"))
    val rare = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDocFreq)
      .select(col("sh"))
    // persisted: the inverted index feeds both self-join sides (see
    // PrefixFilterJoin.pairsFromSets — a broadcast side re-derives it)
    val indexed = FrameCache.persist(ex.join(rare, Seq("sh")))
    val cands = indexed.select(col("sh"), col(idCol).as("a"))
      .join(indexed.select(col("sh"), col(idCol).as("b")), Seq("sh"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    // sort_array canonicalizes for the merge-count verify kernel (round 13)
    val sets = base.select(col(idCol).as("sid"), sort_array(col("sset")).as("sset"))
    cands
      .join(sets.withColumnRenamed("sid", "a").withColumnRenamed("sset", "set_a"), Seq("a"))
      .join(sets.withColumnRenamed("sid", "b").withColumnRenamed("sset", "set_b"), Seq("b"))
      .withColumn("containment",
        graft.functions.SetExpressions.intersectCountSorted(col("set_a"), col("set_b"))
          .cast("double") /
          least(size(col("set_a")), size(col("set_b"))).cast("double"))
      .where(col("containment") >= threshold)
      .select(col("a"), col("b"), col("n_shared"),
        round(col("containment"), 6).as("containment"))
  }
}
