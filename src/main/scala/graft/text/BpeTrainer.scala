package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed BPE training — the real iterative merge-learning algorithm
 * (Sennrich et al. 2016), run at the word-frequency table like every
 * production BPE trainer: tokenization state lives on the DISTINCT words
 * (weighted by corpus frequency), so per-merge cost scales with the word
 * vocabulary, never the corpus. Each merge step is
 *
 *   1. one aggregation shuffle: adjacent-pair counts weighted by word
 *      frequency (map-side partial agg),
 *   2. a 1-ROW driver fetch: the argmax pair, ties broken (count desc,
 *      left asc, right asc) so the learned merge table is deterministic,
 *   3. a map-side merge apply: greedy left-to-right non-overlapping
 *      replacement as a left fold (`aggregate`) over each word's token
 *      array — "merge with the accumulator's last token when it equals
 *      `left` and the current equals `right`" is exactly the positional
 *      walk (a freshly merged token can never equal `left` again because
 *      merged = left||right and right is nonempty).
 *
 * At 100 TB: the corpus is scanned ONCE (word counting); the k merge
 * iterations touch only the word table (~1e7-1e8 rows at web scale) with
 * one shuffle each, and the driver holds k merge rows — never a count
 * table. The DuckDB oracle replays every stage exactly: weighted pair
 * counts, the tie-broken argmax, and a per-word recursive positional walk
 * for the apply.
 */
object BpeTrainer {

  /** One learned merge. */
  final case class Merge(step: Int, left: String, right: String, merged: String, pairCount: Long)

  /** Greedy left-to-right non-overlapping application of one merge to a
    * token-array column — a native codegen kernel (round 13: the original
    * `aggregate` fold ran interpreted with an O(len) accumulator copy per
    * token, O(len²) per word per merge; the kernel is one O(len) pass
    * inside whole-stage codegen, same semantics — no UDF either way). */
  def applyMerge(toks: Column, left: String, right: String): Column =
    graft.functions.BpeExpressions.applyMerge(toks, left, right)

  /** The fold formulation applyMerge replaced (kept as the executable
    * specification: BpeTrainerSpec pins kernel ≡ fold). */
  private[graft] def applyMergeFold(toks: Column, left: String, right: String): Column = {
    val merged = left + right
    aggregate(toks, array().cast("array<string>"), (acc, t) =>
      when(size(acc) > 0 && element_at(acc, -1) === left && t === right,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(t))))
  }

  /** Characters of a word as an array<string> (the BPE start state). */
  def chars(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** Weighted adjacent-pair counts over a word table: (l, r, c) with
    * c >= minPairCount. Pair generation is the native one-pass kernel
    * (round 13 — the zip_with(slice, slice) formulation ran interpreted
    * and copied both slices per word). */
  private def pairCounts(words: DataFrame, minPairCount: Long): DataFrame =
    words
      .where(size(col("toks")) > 1)
      .select(col("cnt"),
        explode(graft.functions.BpeExpressions.adjacentPairs(col("toks"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("c"))
      .where(col("c") >= minPairCount)

  /**
   * The weighted word-frequency table with initial (character)
   * tokenization: (w, cnt, toks). One corpus scan + one shuffle.
   */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("toks", chars(col("w")))

  /**
   * Learn `nMerges` merges. Returns the merge table and the final word
   * tokenization (w, cnt, toks) — ready for `segmentCounts`. Stops early
   * when no adjacent pair occurs at least `minPairCount` times.
   */
  def train(
      docs: DataFrame, textCol: String, nMerges: Int,
      minPairCount: Long = 2L): (Seq[Merge], DataFrame) = {
    require(nMerges >= 1 && minPairCount >= 1)
    // Lazy-materialization loop (round 13): each iteration's pair-count
    // aggregation is the action that fills the CURRENT table's cache, so no
    // separate count() job runs per merge — the predecessor stays persisted
    // until its successor has materialized (two cached word tables at peak,
    // half the Spark jobs per merge at every scale).
    var cur = wordTable(docs, textCol).cache()
    var prev: DataFrame = null
    val merges = Seq.newBuilder[Merge]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      // adjacent pairs weighted by word frequency; argmax fetched as 1 row
      val best = pairCounts(cur, minPairCount)
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (prev != null) { prev.unpersist(blocking = false); prev = null }
      if (best.isEmpty) exhausted = true
      else {
        val row = best.head
        val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += Merge(step, l, r, l + r, c)
        val next = cur.withColumn("toks", applyMerge(col("toks"), l, r)).cache()
        prev = cur
        cur = next
        step += 1
      }
    }
    if (prev != null) { cur.count(); prev.unpersist(blocking = false) }
    // the returned table stays cached for the caller's query
    (merges.result(), graft.FrameCache.persist(cur))
  }

  /**
   * k-BATCHED BPE training (round 13; the scale path to realistic 32k-50k
   * vocabularies): [[train]] costs one pair-count shuffle + one driver
   * round-trip PER merge — 32k sequential Spark jobs at a real vocabulary
   * size. Standard batched BPE instead learns up to `batch` merges per
   * shuffle: rank the pair table once, then greedily accept pairs in rank
   * order that share NO symbol with an already-accepted pair of the round
   * (symbol-disjoint merges can't compete for the same token instance, so
   * their stale counts stay exact; acceptance order = application order
   * covers the corner where one merge's OUTPUT string equals another's
   * input symbol). 32k merges then cost ~32k/batch shuffles.
   *
   * Contract (fixed grid, exactly replayable):
   *  - rounds = ceil(nMerges / batch); round i wants min(batch,
   *    nMerges − i·batch) merges;
   *  - candidates are the top 4·batch pairs by (count desc, l asc, r asc)
   *    with count ≥ minPairCount — a BOUNDED driver fetch (the pool cap is
   *    part of the contract so the oracle replays the same greedy walk);
   *  - accepted merges apply left-to-right in rank order as ONE map-side
   *    projection (composed folds), one action per round;
   *  - stops early only when the pool is empty (the first pool entry is
   *    always acceptable, so every non-empty round makes progress).
   *
   * `batch = 1` reduces exactly to [[train]] (BpeTrainerSpec pins it);
   * at `batch > 1` the merge TABLE can differ from sequential training
   * where a merge-created token immediately dominates the pair table —
   * the standard, documented batched-BPE tradeoff.
   */
  def trainBatched(
      docs: DataFrame, textCol: String, nMerges: Int, batch: Int,
      minPairCount: Long = 2L): (Seq[Merge], DataFrame) = {
    require(nMerges >= 1 && batch >= 1 && minPairCount >= 1)
    // same lazy-materialization loop as [[train]]: the pool aggregation
    // fills the current cache; no per-round count() job
    var cur = wordTable(docs, textCol).cache()
    var prev: DataFrame = null
    val merges = Seq.newBuilder[Merge]
    var step = 1
    var exhausted = false
    val rounds = (nMerges + batch - 1) / batch
    var round = 0
    while (round < rounds && !exhausted) {
      val want = math.min(batch, nMerges - round * batch)
      val pool = pairCounts(cur, minPairCount)
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(4 * batch)
        .collect()
      if (prev != null) { prev.unpersist(blocking = false); prev = null }
      if (pool.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set[String]()
        val accepted = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        val it = pool.iterator
        while (accepted.size < want && it.hasNext) {
          val row = it.next()
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          if (!used(l) && !used(r)) {
            accepted += ((l, r, c)); used += l; used += r
          }
        }
        accepted.foreach { case (l, r, c) =>
          merges += Merge(step, l, r, l + r, c); step += 1
        }
        val newToks = accepted.foldLeft(col("toks")) {
          case (t, (l, r, _)) => applyMerge(t, l, r)
        }
        val next = cur.withColumn("toks", newToks).cache()
        prev = cur
        cur = next
      }
      round += 1
    }
    if (prev != null) { cur.count(); prev.unpersist(blocking = false) }
    (merges.result(), graft.FrameCache.persist(cur))
  }

  /**
   * Per-doc BPE token counts under a trained word tokenization: join each
   * doc's words (with multiplicity) to the word table, sum token counts.
   * Co-partitioned shuffle join on the word key — the word table is data-
   * sized, so it is never broadcast.
   */
  def segmentCounts(
      docs: DataFrame, idCol: String, textCol: String,
      words: DataFrame): DataFrame = {
    val lens = words.select(col("w"), size(col("toks")).cast("long").as("n"))
    docs.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("w"))
      .join(lens, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n")).as("n_bpe_tokens"))
  }

  /**
   * STREAMING twin of [[segmentCounts]] — the per-batch token-count
   * admission metric a streaming ingest gate needs. The trained merge
   * table (k rows, the bounded tokenizer artifact) rides as expression
   * literals — the NB-classifier broadcast pattern — and each document's
   * words replay the k merges as the same greedy fold the trainer used, so
   * the whole operator is a PURE PER-ROW PROJECTION: zero state, no
   * stream-static join, no aggregation — append-mode safe by construction
   * and identical on a batch frame.
   *
   * Contract vs the batch twin: for words SEEN at train time the count
   * equals the word-table join (same merges, same fold, applied per
   * occurrence instead of per distinct word); UNSEEN words count at their
   * char-fold-through-the-merges length — what real BPE inference emits
   * for OOV words — whereas `segmentCounts`' inner join drops them, and a
   * zero-token document yields an (id, 0, 0) row here instead of being
   * absent. Cost trade: the fold runs per word OCCURRENCE (not amortized
   * over distinct words) — right for a micro-batch admission gate, wrong
   * for a corpus-wide backfill (use `segmentCounts` there).
   */
  def segmentCountsMapSide(
      docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val perWord = transform(toks, w =>
      size(merges.foldLeft(chars(w))((t, m) => applyMerge(t, m.left, m.right))).cast("long"))
    docs.select(col(idCol),
      size(toks).cast("long").as("n_words"),
      aggregate(perWord, lit(0L), (a, v) => a + v).as("n_bpe_tokens"))
  }

  /**
   * Tokenizer-fit dashboard: per-group fertility (BPE tokens per word) and
   * compression (characters per BPE token) under a trained word table —
   * the numbers a tokenizer evaluation reports per language/source slice
   * (high fertility on a slice = the vocabulary underserves it, its
   * effective context window shrinks and its per-byte training cost rises).
   *
   * Shape: the same co-partitioned words join as `segmentCounts` (the word
   * table is data-sized, never broadcast by assumption), then ONE group
   * aggregation whose partials collapse map-side to |groups| rows. Ratios
   * are milli-quantized integer division — order-independent and exact up
   * to ~9e15 tokens per group (documented bound; far past a 100 TB slice).
   *
   * OOV semantics: a word ABSENT from the trained table (the cross-corpus
   * "score this slice under that vocabulary" use) counts at its character
   * fallback — one token per character, exactly what a real BPE produces
   * for unseen words from its base alphabet. An inner join would silently
   * DROP the OOV words and report a deceptively low fertility for exactly
   * the underserved slices this dashboard exists to surface.
   */
  def fertility(
      docs: DataFrame, groupCols: Seq[String], textCol: String,
      words: DataFrame): DataFrame = {
    val lens = words.select(col("w"), size(col("toks")).cast("long").as("n_bpe"))
    docs.select(groupCols.map(col) :+ explode(TextFunctions.tokens(col(textCol))).as("w"): _*)
      .join(lens, Seq("w"), "left")
      .withColumn("n_chr", length(col("w")).cast("long"))
      .withColumn("n_bpe", coalesce(col("n_bpe"), col("n_chr")))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chr")).as("n_chars"),
        sum(col("n_bpe")).as("n_bpe_tokens"))
      // every word is >= 1 token, so both divisors are positive by
      // construction; `div` keeps the ratio in exact integer arithmetic
      .withColumn("fertility_milli", expr("n_bpe_tokens * 1000 div n_words"))
      .withColumn("chars_per_token_milli", expr("n_chars * 1000 div n_bpe_tokens"))
  }
}
