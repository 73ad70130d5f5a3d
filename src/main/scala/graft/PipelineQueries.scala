package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, ExactDedup, MinHashLSH, SimHash, SubstringDedup}
import graft.operators.{CorpusStats, CurationFunnel, DatasetSplit, Decontamination, LineDedup, ShardPacking, Sketches}
import graft.sim.Similarity
import graft.text.TextFunctions

/**
 * LLM-training-data pipeline operators (SURVEY.md §2 #14-29) as driver-gate
 * queries with DuckDB oracles. Every oracle replays the same integer/double
 * arithmetic as the Spark-side declarative expressions, so comparisons are
 * exact (rounding is only a final hash-stability guard).
 */
object PipelineQueries {

  import Tables.{t, events}

  /** documents ∪ a truncated copy (ids offset by 100000) — injects known
    * near-duplicates so dedup operators have positives to find. */
  private[graft] def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").where(col("n_chars") > 120)
      .select(col("doc_id"), col("text"))
    docs.unionAll(docs.select(
      (col("doc_id") + 100000L).as("doc_id"),
      col("text").substr(lit(1), length(col("text")) - 30).as("text")))
  }

  private[graft] val nearDupCorpusSql =
    """SELECT doc_id, text FROM documents WHERE n_chars > 120
      |UNION ALL
      |SELECT doc_id + 100000 AS doc_id, substring(text, 1, CAST(length(text) - 30 AS INT)) AS text
      |FROM documents WHERE n_chars > 120""".stripMargin

  // ------------------------------------------------- shared DuckDB fragments

  private val P = TextFunctions.P // 2147483647
  private[graft] def duckToks(te: String = "text") =
    s"list_filter(string_split_regex(lower($te), '[^a-z0-9]+'), t -> t != '')"
  private[graft] def duckHash(e: String) =
    s"(CAST(('0x' || substring(md5($e),1,8)) AS BIGINT) % $P)"
  private[graft] def duckShingleSet(te: String = "text", n: Int = 3) =
    s"""list_distinct(list_transform(
       |  CASE WHEN len(${duckToks(te)}) >= $n
       |       THEN list_transform(range(len(${duckToks(te)}) - ${n - 1}),
       |                           i -> array_to_string(list_slice(${duckToks(te)}, i+1, i+$n), ' '))
       |       ELSE [] END,
       |  sh -> ${duckHash("sh")}))""".stripMargin

  // =================================================================== queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(docs.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      ExactDedup.groups(corpus, "doc_id", "text")
        .select(col("content_hash"), col("canonical_id"), col("n_copies"))
        .orderBy(col("content_hash"))
    }),

    "q_dedup_minhash" -> ((s, dir) => {
      val corpus = nearDupCorpus(s, dir)
      new MinHashLSH(32, 8, 3).nearDuplicates(corpus, "doc_id", "text", 0.4)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    "q_dedup_simhash" -> ((s, dir) => {
      val corpus = nearDupCorpus(s, dir)
      SimHash.nearDuplicates(corpus, "doc_id", "text", 3)
        .select(col("a"), col("b"), col("hamming"))
        .orderBy(col("a"), col("b"))
    }),

    "q_dedup_minhash_groups" -> ((s, dir) => {
      // skew-safe star-candidate canonical assignment (hot-key-proof path)
      val corpus = nearDupCorpus(s, dir)
      new MinHashLSH(32, 8, 3).duplicateGroups(corpus, "doc_id", "text", 0.4)
        .orderBy(col("doc_id"))
    }),

    "q_dedup_incremental" -> ((s, dir) => {
      // daily-ingest shape: new batch (doc_id % 7 == 0) deduped against the
      // history's signature table + itself, never rescanning history text
      val corpus = nearDupCorpus(s, dir)
      val lsh = new MinHashLSH(32, 8, 3)
      val history = lsh.signatures(
        corpus.where(pmod(col("doc_id"), lit(7)) =!= 0), "doc_id", "text")
      val fresh = corpus.where(pmod(col("doc_id"), lit(7)) === 0)
      lsh.nearDuplicatesAgainst(history, fresh, "doc_id", "text", 0.4)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    "q_dedup_curve" -> ((s, dir) => {
      // dedup-TUNING dashboard: exact-jaccard decile histogram of every
      // banded candidate pair + cumulative pairs at-or-above each decile —
      // "what does τ = 0.x keep/cost" measured, not guessed. Skew-safe:
      // identical sets collapse to reps; clique pairs re-enter by exact
      // C(n,2)/n_a·n_b arithmetic (equals the uncollapsed histogram).
      val corpus = nearDupCorpus(s, dir)
      new MinHashLSH(32, 8, 3).thresholdCurve(corpus, "doc_id", "text")
    }),

    "q_lsh_recall" -> ((s, dir) => {
      // banding-recall calibration: measured LSH hit rate per exact-jaccard
      // decile vs brute-force ground truth on a deterministic bounded slice
      // (base ids < 15000 with id % 37 == 0, plus their truncated copies, so
      // the slice carries real near-dup pairs and its size is CAPPED at
      // ~406 base docs at ANY sf — the ground truth is all-pairs by nature,
      // so the slice, not the corpus, must bound it) — the empirical
      // S-curve that sizes (bands, rowsPerBand) against the actual corpus.
      val baseId = pmod(col("doc_id"), lit(100000L))
      val slice = nearDupCorpus(s, dir)
        .where(baseId < 15000L && pmod(baseId, lit(37)) === 0)
      new MinHashLSH(32, 8, 3).recallCurve(slice, "doc_id", "text", 100L)
    }),

    "q_dedup_keep_longest" -> ((s, dir) => {
      // retention policy: keep the longest member of each near-dup group
      val corpus = nearDupCorpus(s, dir)
      val groups = new MinHashLSH(32, 8, 3).duplicateGroups(corpus, "doc_id", "text", 0.4)
      val scored = corpus.select(col("doc_id"), length(col("text")).cast("long").as("len"))
      Dedup.keepBest(scored, "doc_id", "len", groups)
        .select(col("canonical_id"), col("kept_id"), col("kept_score"), col("n_members"))
        .orderBy(col("canonical_id"))
    }),

    "q_dedup_pipeline" -> ((s, dir) => {
      // the end-to-end recipe: star LSH -> CC over star links -> keepBest
      val corpus = nearDupCorpus(s, dir)
      Dedup.pipeline(corpus, "doc_id", "text", 0.4)
        .orderBy(col("canonical_id"))
    }),

    "q_cluster_split" -> ((s, dir) => {
      // NEAR-dup-aware leakage-proof split: the bucket hashes the near-dup
      // COMPONENT root (LSH pairs -> verified links -> CC), so a truncated
      // or paraphrased copy can never land across the train/test boundary
      // from its original — the gap q_leakage_split (byte-exact content
      // hash) still leaves open.
      val corpus = nearDupCorpus(s, dir)
      DatasetSplit.nearDupSafeSplit(corpus, "doc_id", "text", 0.4)
        .select(col("doc_id"), col("canonical_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    "q_term_rarity" -> ((s, dir) => {
      // corpus-frequency rarity scoring (CCNet-style quality signal, exact
      // integer arithmetic): pass 1 aggregates the corpus term-frequency
      // table, pass 2 joins it back per token and profiles each doc's
      // min/mean token frequency — docs full of corpus-rare garbage tokens
      // surface at the bottom. Two shuffles total (term agg, doc re-agg).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = docs.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      toks.join(freq, Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          sum(col("tf")).as("_tf_sum"),
          min(col("tf")).as("tf_min"))
        .select(col("doc_id"), col("n_toks"), col("tf_min"),
          (col("_tf_sum").cast("double") / col("n_toks")).as("tf_mean"))
        .orderBy(col("doc_id"))
    }),

    "q_line_dedup" -> ((s, dir) => {
      // boilerplate stripping: inject a nav header into every doc and a
      // cookie banner into every third, then remove lines occurring in
      // >= 100 distinct docs; originals survive untouched
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("NAV HOME ABOUT CONTACT"), lit("\n"), col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("\nCOOKIE CONSENT NOTICE"))
            .otherwise(lit(""))).as("text"))
      LineDedup.removeBoilerplate(docs, "doc_id", "text", 100L)
        .select(col("doc_id"), col("n_lines"), col("n_removed"),
          md5(col("text_clean")).as("clean_hash"))
        .orderBy(col("doc_id"))
    }),

    "q_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: flag training docs sharing any token
      // 5-gram with the "eval set" (every 50th doc); eval grams broadcast,
      // training corpus scanned once
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val eval = docs.where(pmod(col("doc_id"), lit(50)) === 0)
      Decontamination.overlap(docs, eval, "doc_id", "text", 5)
        .orderBy(col("doc_id"))
    }),

    "q_cap_per_source" -> ((s, dir) => {
      // corpus curation: cap each source at 40 docs by deterministic
      // lowest-hash sampling; per-source surviving profile
      val capped = DatasetSplit.capPerGroup(t(s, dir, "documents"), "doc_id", "source", 40)
      capped.groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("source"))
    }),

    "q_split" -> ((s, dir) => {
      // deterministic hash-bucket train/val/test split, stable under corpus
      // growth and replayable for audits; aggregate profile per split
      val d = DatasetSplit.withSplit(t(s, dir, "documents"), "doc_id", 80, 10)
      d.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("split"))
    }),

    "q_ngram_jaccard" -> ((s, dir) => {
      // CALIBRATION FIXTURE, not a scale operator: the exact char-3-gram
      // Jaccard of EVERY pair in a bounded 60-doc slice — including
      // zero-overlap pairs, which no candidate scheme can (or should)
      // enumerate at scale. Its role is ground truth for similarity
      // calibration (e.g. the q_minhash_audit estimator check); the
      // production exact τ-join is q_jaccard_join (PrefixFilterJoin), and
      // the hot-key-safe variant is jaccardPairsCollapsed. The crossJoin
      // is bounded by construction (60 docs → 1770 pairs at ANY sf).
      val d = t(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id"),
          array_distinct(
            when(length(lower(col("text"))) >= 3,
              transform(
                sequence(lit(1), length(lower(col("text"))) - 2),
                i => TextFunctions.stableHash(lower(col("text")).substr(i, lit(3)))))
              .otherwise(array().cast("array<bigint>"))).as("grams"))
      val l = d.select(col("doc_id").as("a"), col("grams").as("ga"))
      val r = d.select(col("doc_id").as("b"), col("grams").as("gb"))
      l.crossJoin(r).where(col("a") < col("b"))
        .select(col("a"), col("b"),
          round(size(array_intersect(col("ga"), col("gb"))).cast("double") /
            (size(col("ga")) + size(col("gb")) - size(array_intersect(col("ga"), col("gb")))).cast("double"),
            6).as("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    "q_embed_neardup" -> ((s, dir) => {
      Similarity.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.42, planes = 8, dim = 64)
        .orderBy(col("a"), col("b"))
    }),

    "q_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", "qid", "qv", k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.lshTopK(emb, q, "vec_id", "embedding", "qid", "qv", k = 10, planes = 6, dim = 64)
        .orderBy(col("qid"), col("rank"))
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // Round-3: the DEFAULT IVF path is now the Lloyd-refined quantizer
      // (sampled quantizer = iteration 0 / warm init). Fully value-exact:
      // the deterministic scaled-integer cell means make the whole training
      // + probe pipeline replayable in the oracle.
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cents = Similarity.ivfTrainKMeans(emb, "vec_id", "embedding", 32, iters = 2)
      Similarity.ivfTopKWith(cents, emb, q, "vec_id", "embedding", "qid", "qv",
          k = 10, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    "q_ann_ivf_kmeans" -> ((s, dir) => {
      // The trained quantizer ITSELF as the observable: per cell, member
      // count and the centroid's leading coordinates — verifies the Lloyd
      // recursion (assignment + deterministic means) directly, while
      // q_ann_ivf verifies the search path over the same model.
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfTrainKMeans(emb, "vec_id", "embedding", 32, iters = 2)
      import s.implicits._
      val centsDf = cents.toSeq.map { case (cid, v) => (cid, v(0), v(1), v(2), v(3)) }
        .toDF("cell", "c0", "c1", "c2", "c3")
      val counts = emb.select(col("embedding").cast("array<double>").as("cv"))
        .withColumn("cell", Similarity.ivfCellExpr(col("cv"), cents))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
      centsDf.join(counts, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("n_members"), lit(0L)).as("n_members"),
          round(col("c0"), 6).as("c0"), round(col("c1"), 6).as("c1"),
          round(col("c2"), 6).as("c2"), round(col("c3"), 6).as("c3"))
        .orderBy(col("cell"))
    }),

    "q_silhouette" -> ((s, dir) => {
      // cluster-quality gate over the SAME trained quantizer q_ann_ivf
      // searches: per-cell simplified silhouette (micro-quantized in the
      // native kernel, so the agg is exact integer arithmetic). The answer
      // to "is this clustering good enough to route/dedup by" before any
      // IVF/SemDeDup stage trusts it. One scan + one 32-row agg shuffle.
      val emb = t(s, dir, "embeddings")
      Similarity.silhouette(emb, "vec_id", "embedding", k = 32, iters = 2)
        .orderBy(col("cell"))
    }),

    "q_lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
          col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred"),
          TextFunctions.langScore(col("text"), "en").as("s_en"),
          TextFunctions.langScore(col("text"), "de").as("s_de"),
          TextFunctions.langScore(col("text"), "es").as("s_es"),
          TextFunctions.langScore(col("text"), "fr").as("s_fr"))
        .orderBy(col("doc_id"))
    }),

    "q_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
          col("doc_id"),
          TextFunctions.charLen(col("text")).cast("long").as("n_chars_c"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"),
          TextFunctions.punctCount(col("text")).as("n_punct"),
          round(TextFunctions.stopwordRatio(col("text")), 6).as("stop_ratio"),
          round(TextFunctions.meanTokenLen(col("text")), 6).as("mean_tok_len"),
          round(TextFunctions.qualityScore(col("text")), 6).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "q_token_count" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
          col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_alnum"),
          size(TextFunctions.wsTokens(col("text"))).cast("long").as("n_ws"),
          size(array_distinct(TextFunctions.tokens(col("text")))).cast("long").as("n_distinct"))
        .orderBy(col("doc_id"))
    }),

    "q_repetition" -> ((s, dir) => {
      // Gopher/Dolma-style repetition quality signals: duplicate token /
      // n-gram fractions mark boilerplate+spam docs an LLM pipeline drops.
      // All six counts come from ONE native kernel pass (the declarative
      // wordNGrams formulation re-ran an interpreted O(tokens) lambda per
      // metric: 12s per 500 docs vs ~0.3s for the kernel).
      val d = t(s, dir, "documents")
      val st = graft.functions.HashExpressions.ngramStats(col("text"))
      def frac(total: Column, distinct: Column): Column =
        round(when(total > 0,
          (total - distinct).cast("double") / total.cast("double")).otherwise(lit(0.0)), 6)
      d.select(
          col("doc_id"),
          st.getField("n2").as("n_2grams"),
          frac(st.getField("n2"), st.getField("d2")).as("dup_2gram_frac"),
          frac(st.getField("n3"), st.getField("d3")).as("dup_3gram_frac"),
          frac(st.getField("n1"), st.getField("d1")).as("dup_token_frac"))
        .orderBy(col("doc_id"))
    }),

    "q_pii" -> ((s, dir) => {
      // PII triage counts over deterministically enriched text (the corpus
      // itself contains no emails/urls, so inject id-derived ones — the
      // oracle replays the same enrichment)
      val d = t(s, dir, "documents")
      val enriched = concat(
        col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(" see https://example.org/d/"), col("doc_id"))).otherwise(lit("")),
        lit(" ref "), (col("doc_id") * 1234567L + 7654321L).cast("string"))
      d.select(
          col("doc_id"),
          TextFunctions.emailCount(enriched).cast("long").as("n_emails"),
          TextFunctions.urlCount(enriched).cast("long").as("n_urls"),
          TextFunctions.longDigitRunCount(enriched).cast("long").as("n_digit_runs"))
        .orderBy(col("doc_id"))
    }),

    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    "q_window_agg" -> ((s, dir) => {
      // decimal-exact sums (values are 2dp): a double-sum + round(…,4) hit
      // rounding-tie boundaries at sf0.1 (engine-dependent last digit); the
      // exact decimal sum and the double division of identical doubles are
      // bit-equal in any engine at any scale
      val ev = events(s, dir).withColumn("tsm", col("ts"))
      ev.groupBy(window(col("tsm"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("decimal(38,6)").as("dsum"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"),
          col("dsum").cast("double").as("sum_value"),
          (col("dsum").cast("double") / col("n")).as("avg_value"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    "q_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts")) // µs since epoch
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val flagged = ev.withColumn("new_s",
        when(col("ts") - lag(col("ts"), 1).over(w) > 1800000000L || lag(col("ts"), 1).over(w).isNull, 1L)
          .otherwise(0L))
      val sess = flagged.withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(
          timestamp_micros(expr("min(ts)")).as("session_start"),
          count(lit(1)).as("n_events"),
          expr("(max(ts) - min(ts)) div 1000000").as("dur_sec"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    "q_event_sequences" -> ((s, dir) => {
      // training-sequence construction: per 30-min-gap session, the ordered
      // event-type sequence (ties broken by event_id — fully deterministic)
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("ts"), col("event_id"), col("event_type"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val flagged = ev.withColumn("new_s",
        when(col("ts") - lag(col("ts"), 1).over(w) > 1800000000L || lag(col("ts"), 1).over(w).isNull, 1L)
          .otherwise(0L))
      val sess = flagged.withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          concat_ws(",", transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type"))).as("seq"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    "q_top_ngrams" -> ((s, dir) => {
      // corpus heavy hitters: most frequent word 2-grams with occurrence and
      // document frequencies — two-phase partial agg, top-k to the driver
      CorpusStats.topNGrams(t(s, dir, "documents"), "doc_id", "text", n = 2, k = 50)
    }),

    "q_stratified_sample" -> ((s, dir) => {
      // deterministic per-stratum hash-rate sampling toward 50 docs/lang;
      // per-stratum surviving profile
      val kept = DatasetSplit.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang", 50L)
      kept.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    }),

    "q_cms" -> ((s, dir) => {
      // count-min sketch over the corpus token stream (d=4, w=512), probed
      // with the 30 highest-frequency tokens; overcount = CMS error, >= 0
      // by construction
      val toks = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      val sketch = Sketches.countMin(toks, "tok", depth = 4, width = 512)
      val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("tok").asc).limit(30)
      Sketches.cmsEstimate(sketch, freq.select(col("tok")), "tok", depth = 4, width = 512)
        .join(freq, Seq("tok"))
        .select(col("tok"), col("true_cnt"), col("est_cnt"),
          (col("est_cnt") - col("true_cnt")).as("overcount"))
        .orderBy(col("tok"))
    }),

    "q_surprisal" -> ((s, dir) => {
      // quantized unigram surprisal (integer bit-length arithmetic — exact
      // at any scale); high mean_bits = rare-token spam, low = boilerplate
      CorpusStats.surprisal(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_toks"), col("sum_bits"), col("mean_bits"))
        .orderBy(col("doc_id"))
    }),

    "q_gopher_rules" -> ((s, dir) => {
      // Gopher quality rules with deterministic defect injection so every
      // rule fires: every 7th doc gets '#' spam, every 11th a bullet wall,
      // every 13th digit-run spam (the oracle replays the same enrichment)
      val enriched = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0, lit(" " + "# " * 40)).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            lit("\n- one\n- two\n- three\n- four\n- five\n- six\n- seven\n- eight\n- nine\n- ten" * 4))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13)) === 0,
            concat(lit(" "), repeat(lit("12345 907 "), 30))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(17)) === 0,
            repeat(lit("\nwait for it..."), 40)).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(19)) === 0,
            concat(lit(" "), repeat(lit("x q z j k "), 40))).otherwise(lit(""))).as("text"))
      graft.text.QualityRules.gopherFlags(enriched, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "q_weighted_sample" -> ((s, dir) => {
      // length-proportional sampling (token-budget curation): keep docs
      // with probability min(1, n_chars/500); per-lang surviving profile
      val kept = DatasetSplit.sampleProportional(t(s, dir, "documents"), "doc_id", "n_chars", 500L)
      kept.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("lang"))
    }),

    "q_percentiles" -> ((s, dir) => {
      // exact per-lang length distribution: percentile_disc semantics by
      // integer rank selection (no interpolation, deterministic on ties)
      CorpusStats.percentilesDisc(t(s, dir, "documents"), "lang", "n_chars", "doc_id",
        Seq(10, 25, 50, 75, 90))
    }),

    "q_pack_shards" -> ((s, dir) => {
      // sequence packing: docs -> fixed-budget training shards (20k chars)
      // within (split, lang) groups; per-shard manifest profile
      val d = DatasetSplit.withSplit(t(s, dir, "documents"), "doc_id", 80, 10)
      ShardPacking.withShard(d, "doc_id", "n_chars", Seq("split", "lang"), 20000L)
        .groupBy(col("split"), col("lang"), col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("split"), col("lang"), col("shard"))
    }),

    "q_curation_funnel" -> ((s, dir) => {
      // the whole curation funnel in one pass: length -> token count ->
      // repetition -> decontamination, with per-stage survivor counts
      val docs = t(s, dir, "documents")
      val eval = docs.where(pmod(col("doc_id"), lit(50)) === 0)
      CurationFunnel.funnel(docs, eval, "doc_id", "text", "n_chars",
        minChars = 200L, minToks = 45L, maxToks = 10000L, maxDupPct = 6L)
    }),

    "q_semdedup" -> ((s, dir) => {
      // SemDeDup: k-means cluster the embedding space, drop the higher
      // centroid-similarity member of every within-cluster pair above the
      // cosine threshold
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 32, iters = 2, threshold = 0.42)
        .orderBy(col("vec_id"))
    }),

    "q1_pricing" -> ((s, dir) => {
      val d2 = "decimal(12,2)"
      val one = lit(1).cast(d2)
      val li = t(s, dir, "lineitem").where(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(d2)).cast("decimal(30,2)").as("dq"),
          sum(col("l_extendedprice").cast(d2)).cast("decimal(30,2)").as("db"),
          sum(col("l_extendedprice").cast(d2) * (one - col("l_discount").cast(d2)))
            .cast("decimal(30,4)").as("dd"),
          sum(col("l_extendedprice").cast(d2) * (one - col("l_discount").cast(d2)) * (one + col("l_tax").cast(d2)))
            .cast("decimal(38,6)").as("dc"),
          count(lit(1)).as("count_order"))
        // exact decimal sums, exported as doubles (one deterministic cast)
        .select(
          col("l_returnflag"), col("l_linestatus"),
          col("dq").cast("double").as("sum_qty"),
          col("db").cast("double").as("sum_base"),
          col("dd").cast("double").as("sum_disc_price"),
          col("dc").cast("double").as("sum_charge"),
          col("count_order"),
          (col("dq").cast("double") / col("count_order")).as("avg_qty"),
          (col("db").cast("double") / col("count_order")).as("avg_price"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q_range_join" -> ((s, dir) => {
      // point-in-interval join WITHOUT a nested-loop plan: every 50th
      // order opens a 7-day window; lineitems bucket by epoch-day div 7
      // and equi-join, exact range check as residual. Per-window profile.
      val days = (c: Column) => datediff(c.cast("date"), lit("1970-01-01").cast("date")).cast("long")
      val pts = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), days(col("l_shipdate")).as("d"))
      val ivs = t(s, dir, "orders").where(pmod(col("o_orderkey"), lit(50)) === 0)
        .select(col("o_orderkey"), days(col("o_orderdate")).as("w_start"))
        .withColumn("w_end", col("w_start") + 6L)
      graft.operators.RangeJoin.pointInInterval(pts, ivs, "d", "w_start", "w_end", 7L)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_pts"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)")
            .cast("double").as("sum_qty"),
          min(col("d") - col("w_start")).as("min_off"),
          max(col("d") - col("w_start")).as("max_off"))
        .orderBy(col("o_orderkey"))
    }),

    "q_asof_join" -> ((s, dir) => {
      // temporal alignment: each lineitem picks the most recent order (by
      // orderdate <= shipdate) in its group; groups interleave in time so
      // matches are non-trivial and some lineitems have no prior order
      val l = t(s, dir, "lineitem").where(col("l_suppkey") < 20)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey").as("grp"), col("l_shipdate"))
      val r = t(s, dir, "orders")
        .withColumn("grp", pmod(col("o_orderkey"), lit(100)))
        .groupBy(col("grp"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("ro_key"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("ro_price"))
      graft.operators.AsOfJoin.backward(l, r, "grp", "grp", "l_shipdate", "o_orderdate")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          col("ro_key"), col("ro_price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q3_shipping" -> ((s, dir) => {
      val d2 = "decimal(12,2)"
      val one = lit(1).cast(d2)
      val cust = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"), col("l_shipdate"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice").cast(d2) * (one - col("l_discount").cast(d2)))
          .cast("decimal(30,4)").cast("double").as("revenue"))
        .orderBy(col("o_orderkey"))
    }),

    "q_substring_dedup" -> ((s, dir) => {
      // exact repeated-substring profile (Lee et al. 2021 signal): 40-char
      // windows, winnowing-style content-keyed 1-in-10 selection (offset-
      // invariant), over the near-dup corpus; a kept window hash seen in
      // >=2 distinct docs marks corpus-duplicated content
      SubstringDedup.repeatedWindowProfile(nearDupCorpus(s, dir), "doc_id", "text", 40, 10)
        .orderBy(col("doc_id"))
    }),

    "q_redact_pii" -> ((s, dir) => {
      // actual PII redaction (same enrichment as q_pii so there is PII to
      // redact); verified byte-exact via md5 of the redacted text
      val d = t(s, dir, "documents")
      val enriched = concat(
        col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(" see https://example.org/d/"), col("doc_id"))).otherwise(lit("")),
        lit(" ref "), (col("doc_id") * 1234567L + 7654321L).cast("string"))
      val red = TextFunctions.redactPii(enriched)
      d.select(
          col("doc_id"),
          md5(red).as("redacted_md5"),
          (length(enriched) - length(red)).cast("long").as("n_chars_delta"))
        .orderBy(col("doc_id"))
    }),

    "q_tfidf" -> ((s, dir) => {
      // per-doc top-3 TF-IDF terms, idf as integer bit-length (libm-free)
      CorpusStats.tfIdfTop(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rk"))
    }),

    "q_quantize" -> ((s, dir) => {
      // int8 absmax quantization audit profile over the embedding table
      graft.sim.Quantization.int8Profile(t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy(col("vec_id"))
    }),

    "q_source_overlap" -> ((s, dir) => {
      // cross-source duplicate overlap (mirror-site provenance): every 5th
      // doc is cloned under a mirror_ source; the matrix counts distinct
      // contents shared byte-identically per source pair
      val d = t(s, dir, "documents")
      val corpus = d.select(col("doc_id"), col("text"), col("source"))
        .unionAll(d.where(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 2500000000L).as("doc_id"), col("text"),
            concat(lit("mirror_"), col("source")).as("source")))
      ExactDedup.sourceOverlap(corpus, "text", "source")
        .orderBy(col("source_a"), col("source_b"))
    }),

    "q_hll" -> ((s, dir) => {
      // approximate distinct contents per source: HLL register sketch whose
      // shuffle is <=64 rows per source (vs count-distinct's full shuffle)
      Sketches.hllDistinct(
          t(s, dir, "documents").select(col("source"), col("text")), "source", "text")
        .orderBy(col("source"))
    }),

    "q_bloom_decontaminate" -> ((s, dir) => {
      // constant-memory decontamination: eval 5-grams go into a 64K-bit
      // Bloom bitset (8 KB forever, any eval size); corpus probed map-only
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val eval = docs.where(pmod(col("doc_id"), lit(50)) === 0)
      val words = Decontamination.evalBloom(eval, "text", 5)
      Decontamination.overlapBloom(docs, words, "doc_id", "text", 5)
        .orderBy(col("doc_id"))
    }),

    "q_mix_weights" -> ((s, dir) => {
      // temperature-scaled (alpha=0.5) mixing allocation across sources
      DatasetSplit.mixAllocation(t(s, dir, "documents"), "source", 10000L)
        .orderBy(col("source"))
    }),

    "q_leakage_split" -> ((s, dir) => {
      // leakage-proof split: duplicated contents move as one unit; profile
      // per split over a corpus where every 3rd doc is duplicated
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"), col("n_chars"))
      val corpus = d.unionAll(d.where(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 300000L).as("doc_id"), col("text"), col("n_chars")))
      DatasetSplit.leakageSafeSplit(corpus, "doc_id", "text")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_groups"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("split"))
    }),

    "q_vocab" -> ((s, dir) => {
      // Heaps-law vocabulary profile per source (template-vs-noise triage)
      CorpusStats.vocabProfile(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))
    })
  )

  // ================================================================== oracles

  private[graft] def minhashSigSql: String = {
    val sigs = (0 until 32).map { i =>
      val a = MinHashLSH.coefA(i); val b = MinHashLSH.coefB(i)
      s"coalesce(list_min(list_transform(sset, x -> ($a*x + $b) % $P)), $P)"
    }
    s"[${sigs.mkString(",\n    ")}]"
  }

  private[graft] def minhashBandSelects: String = (0 until 8).map { bIdx =>
    val parts = (1 to 4).map(r => s"sig[${bIdx * 4 + r}]")
    s"SELECT doc_id, $bIdx AS band, concat_ws('_', ${parts.mkString(", ")}) AS bucket FROM sigs"
  }.mkString("\n  UNION ALL\n  ")

  private def minhashOracle: String = {
    val bandSelects = minhashBandSelects
    s"""WITH corpus AS (
       |$nearDupCorpusSql
       |),
       |sets AS (
       |  SELECT doc_id, ${duckShingleSet()} AS sset FROM corpus
       |),
       |sigs AS (
       |  SELECT doc_id, sset, $minhashSigSql AS sig FROM sets
       |),
       |bands AS (
       |  $bandSelects
       |),
       |cands AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
       |)
       |SELECT a, b, ROUND(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) /
       |       CAST(len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)) AS DOUBLE), 6) AS jaccard
       |FROM cands JOIN sets sa ON cands.a = sa.doc_id JOIN sets sb ON cands.b = sb.doc_id
       |WHERE CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) /
       |      CAST(len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) >= 0.4
       |ORDER BY a, b""".stripMargin
  }

  /** Replays q_dedup_curve UNCOLLAPSED: banded candidates over every
    * non-empty-set doc → integer jaccard decile → histogram + reverse
    * cumulative. The Spark side collapses identical sets and re-enters
    * clique pairs by exact arithmetic — value-equality of the two forms IS
    * the proof the collapse is lossless. */
  private def dedupCurveOracle: String =
    s"""WITH corpus AS (
       |$nearDupCorpusSql
       |),
       |allsets AS (
       |  SELECT doc_id, ${duckShingleSet()} AS sset FROM corpus
       |),
       |sets AS (SELECT * FROM allsets WHERE len(sset) > 0),
       |sigs AS (
       |  SELECT doc_id, sset, $minhashSigSql AS sig FROM sets
       |),
       |bands AS (
       |  $minhashBandSelects
       |),
       |cands AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
       |),
       |j AS (
       |  SELECT CAST((CAST(len(list_intersect(sa.sset, sb.sset)) AS BIGINT) * 1000
       |    // (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))))
       |    // 100 * 100 AS BIGINT) AS bucket_lo_milli
       |  FROM cands JOIN sets sa ON cands.a = sa.doc_id JOIN sets sb ON cands.b = sb.doc_id
       |),
       |h AS (SELECT bucket_lo_milli, CAST(count(*) AS BIGINT) AS n_pairs FROM j GROUP BY 1)
       |SELECT bucket_lo_milli, n_pairs,
       |  CAST(sum(n_pairs) OVER (ORDER BY bucket_lo_milli DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS n_pairs_at_or_above
       |FROM h ORDER BY bucket_lo_milli""".stripMargin

  /** Replays q_lsh_recall: brute-force jaccard ground truth on the
    * deterministic slice vs banded candidate membership, per decile. */
  private def lshRecallOracle: String =
    s"""WITH corpus0 AS (
       |$nearDupCorpusSql
       |),
       |corpus AS (SELECT * FROM corpus0
       |           WHERE (doc_id % 100000) < 15000 AND (doc_id % 100000) % 37 = 0),
       |allsets AS (
       |  SELECT doc_id, ${duckShingleSet()} AS sset FROM corpus
       |),
       |sets AS (SELECT * FROM allsets WHERE len(sset) > 0),
       |sigs AS (
       |  SELECT doc_id, sset, $minhashSigSql AS sig FROM sets
       |),
       |bands AS (
       |  $minhashBandSelects
       |),
       |cands AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
       |),
       |truth0 AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b,
       |    CAST(CAST(len(list_intersect(l.sset, r.sset)) AS BIGINT) * 1000
       |      // (len(l.sset) + len(r.sset) - len(list_intersect(l.sset, r.sset)))
       |      AS BIGINT) AS jm
       |  FROM sets l JOIN sets r ON l.doc_id < r.doc_id
       |),
       |truth AS (
       |  SELECT a, b, CAST(jm // 100 * 100 AS BIGINT) AS bucket_lo_milli
       |  FROM truth0 WHERE jm >= 100
       |),
       |g AS (
       |  SELECT t.bucket_lo_milli,
       |    CAST(count(*) AS BIGINT) AS n_true_pairs,
       |    CAST(sum(CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh_found
       |  FROM truth t LEFT JOIN cands c ON t.a = c.a AND t.b = c.b
       |  GROUP BY 1
       |)
       |SELECT bucket_lo_milli, n_true_pairs, n_lsh_found,
       |  CAST(n_lsh_found * 1000 // n_true_pairs AS BIGINT) AS recall_milli
       |FROM g ORDER BY bucket_lo_milli""".stripMargin

  /** Shared CTE prefix replaying duplicateGroups: signatures/bands as in
    * minhashOracle, bucket-min star candidates, exact-Jaccard verify,
    * then `grp` = (doc_id, canonical_id). */
  private def minhashGroupsCtes: String =
    s"""WITH corpus AS (
       |$nearDupCorpusSql
       |),
       |sets AS (
       |  SELECT doc_id, ${duckShingleSet()} AS sset FROM corpus
       |),
       |sigs AS (
       |  SELECT doc_id, sset, $minhashSigSql AS sig FROM sets
       |),
       |bands AS (
       |  $minhashBandSelects
       |),
       |bmin AS (
       |  SELECT band, bucket, min(doc_id) AS a FROM bands GROUP BY band, bucket
       |),
       |cands AS (
       |  SELECT DISTINCT m.a AS a, b.doc_id AS b
       |  FROM bands b JOIN bmin m ON b.band = m.band AND b.bucket = m.bucket
       |  WHERE m.a < b.doc_id
       |),
       |ver AS (
       |  SELECT a, b FROM cands
       |  JOIN sets sa ON cands.a = sa.doc_id JOIN sets sb ON cands.b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) /
       |        CAST(len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) >= 0.4
       |),
       |canon AS (SELECT b, min(a) AS c FROM ver GROUP BY b),
       |grp AS (
       |  SELECT corpus.doc_id, coalesce(canon.c, corpus.doc_id) AS canonical_id
       |  FROM corpus LEFT JOIN canon ON corpus.doc_id = canon.b
       |)""".stripMargin

  private def minhashGroupsOracle: String =
    s"""$minhashGroupsCtes
       |SELECT doc_id, canonical_id FROM grp ORDER BY doc_id""".stripMargin

  /** Replays nearDuplicatesAgainst: candidates = all-bands × new-bands
    * (one side always new), least/greatest ordering, exact-Jaccard verify. */
  private def incrementalDedupOracle: String =
    s"""WITH corpus AS (
       |$nearDupCorpusSql
       |),
       |sets AS (
       |  SELECT doc_id, ${duckShingleSet()} AS sset FROM corpus
       |),
       |sigs AS (
       |  SELECT doc_id, sset, $minhashSigSql AS sig FROM sets
       |),
       |bands AS (
       |  $minhashBandSelects
       |),
       |bn AS (SELECT * FROM bands WHERE doc_id % 7 = 0),
       |cands AS (
       |  SELECT DISTINCT least(x.doc_id, n.doc_id) AS a, greatest(x.doc_id, n.doc_id) AS b
       |  FROM bands x JOIN bn n ON x.band = n.band AND x.bucket = n.bucket
       |  WHERE x.doc_id != n.doc_id
       |)
       |SELECT a, b, ROUND(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) /
       |       CAST(len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)) AS DOUBLE), 6) AS jaccard
       |FROM cands JOIN sets sa ON cands.a = sa.doc_id JOIN sets sb ON cands.b = sb.doc_id
       |WHERE CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) /
       |      CAST(len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) >= 0.4
       |ORDER BY a, b""".stripMargin

  /** Replays keepBest over the star groups with score = doc length. */
  private def keepLongestOracle: String =
    s"""$minhashGroupsCtes,
       |scored AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len FROM corpus
       |),
       |ranked AS (
       |  SELECT g.canonical_id, s.doc_id, s.len,
       |         row_number() OVER (PARTITION BY g.canonical_id ORDER BY s.len DESC, s.doc_id ASC) AS rk,
       |         count(*) OVER (PARTITION BY g.canonical_id) AS n_members
       |  FROM grp g JOIN scored s ON g.doc_id = s.doc_id
       |)
       |SELECT canonical_id, doc_id AS kept_id, len AS kept_score, n_members
       |FROM ranked WHERE rk = 1 ORDER BY canonical_id""".stripMargin

  /** Replays Dedup.pipeline: the star-link graph is exactly `grp`'s
    * (canonical_id, doc_id) pairs — NOT all verified pairs (`ver`); each doc
    * links only to its minimum verified partner. Components close via a
    * recursive reachability CTE (near-dup components are pairs and short
    * chains, so the closure is tiny), label = min reachable id, then the
    * keepBest replay with score = document length. */
  private def dedupPipelineOracle: String =
    s"""${minhashGroupsCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sym AS (
       |  SELECT canonical_id AS x, doc_id AS y FROM grp WHERE canonical_id != doc_id
       |  UNION ALL
       |  SELECT doc_id AS x, canonical_id AS y FROM grp WHERE canonical_id != doc_id
       |),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM corpus
       |  UNION
       |  SELECT reach.id, s.y AS r FROM reach JOIN sym s ON s.x = reach.r
       |),
       |comp AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id),
       |scored AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS sc FROM corpus),
       |ranked AS (
       |  SELECT c.canonical_id, s.doc_id, s.sc,
       |    row_number() OVER (PARTITION BY c.canonical_id ORDER BY s.sc DESC, s.doc_id ASC) AS rk,
       |    count(*) OVER (PARTITION BY c.canonical_id) AS n_members
       |  FROM comp c JOIN scored s ON c.id = s.doc_id
       |)
       |SELECT doc_id AS kept_id, canonical_id, n_members
       |FROM ranked WHERE rk = 1 ORDER BY canonical_id""".stripMargin

  /** Replays q_cluster_split: ALL verified near-dup pairs (the
    * minhashOracle candidate shape, not the star bmin), symmetrized into a
    * min-reachability CC (component label = min id, exactly what min-label
    * propagation converges to), then the md5 split bucket ON THE COMPONENT
    * ROOT. */
  private def clusterSplitOracle: String =
    s"""WITH RECURSIVE corpus AS (
       |$nearDupCorpusSql
       |),
       |sets AS (SELECT doc_id, ${duckShingleSet()} AS sset FROM corpus),
       |sigs AS (SELECT doc_id, sset, $minhashSigSql AS sig FROM sets),
       |bands AS (
       |  $minhashBandSelects
       |),
       |cands AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
       |),
       |ver AS (
       |  SELECT a, b FROM cands
       |  JOIN sets sa ON cands.a = sa.doc_id JOIN sets sb ON cands.b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) /
       |        CAST(len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) >= 0.4
       |),
       |sym AS (
       |  SELECT a AS x, b AS y FROM ver UNION ALL SELECT b AS x, a AS y FROM ver
       |),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM corpus
       |  UNION
       |  SELECT reach.id, s.y AS r FROM reach JOIN sym s ON s.x = reach.r
       |),
       |comp AS (SELECT id AS doc_id, min(r) AS canonical_id FROM reach GROUP BY id),
       |o AS (
       |  SELECT doc_id, canonical_id,
       |    ${duckHash("CAST(canonical_id AS VARCHAR)")} % 100 AS bkt
       |  FROM comp
       |)
       |SELECT doc_id, canonical_id,
       |  CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
       |FROM o ORDER BY doc_id""".stripMargin

  /** Replays q_repetition: same tokenization, n-gram construction and
    * duplicate-fraction arithmetic. */
  private def repetitionOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, ${duckToks()} AS toks FROM documents
       |),
       |g AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) >= 2
       |         THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |         ELSE CAST([] AS VARCHAR[]) END AS g2,
       |    CASE WHEN len(toks) >= 3
       |         THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |         ELSE CAST([] AS VARCHAR[]) END AS g3
       |  FROM base
       |)
       |SELECT doc_id,
       |  CAST(len(g2) AS BIGINT) AS n_2grams,
       |  ROUND(CASE WHEN len(g2) > 0 THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)/len(g2) ELSE 0.0 END, 6) AS dup_2gram_frac,
       |  ROUND(CASE WHEN len(g3) > 0 THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)/len(g3) ELSE 0.0 END, 6) AS dup_3gram_frac,
       |  ROUND(CASE WHEN len(toks) > 0 THEN CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)/len(toks) ELSE 0.0 END, 6) AS dup_token_frac
       |FROM g ORDER BY doc_id""".stripMargin

  /** Replays q_pii: identical enrichment, then RE2 pattern counts (the
    * patterns stay in the Java-regex ∩ RE2 common subset). */
  private def piiOracle: String =
    s"""WITH e AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
       |    || CASE WHEN doc_id % 4 = 0 THEN ' see https://example.org/d/' || doc_id ELSE '' END
       |    || ' ref ' || (doc_id * 1234567 + 7654321) AS t
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, 'https?://[^ \\t\\n]+')) AS BIGINT) AS n_urls,
       |  CAST(len(regexp_extract_all(t, '[0-9]{7,}')) AS BIGINT) AS n_digit_runs
       |FROM e ORDER BY doc_id""".stripMargin

  private def simhashOracle: String = {
    val h60 = "CAST(('0x' || substring(md5(t),1,15)) AS BIGINT)"
    val bitTerms = (0 until 60).map { j =>
      s"CASE WHEN coalesce(list_sum(list_transform(toks, h -> ((h >> $j) & 1)*2 - 1)), 0) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("\n    + ")
    val chunkSelects = (0 until 4).map { c =>
      s"SELECT doc_id, simhash, $c AS chunk, (simhash >> ${c * 15}) & ${(1L << 15) - 1} AS cval FROM sims"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH corpus AS (
       |$nearDupCorpusSql
       |),
       |toksT AS (
       |  SELECT doc_id, list_transform(${duckToks()}, t -> $h60) AS toks FROM corpus
       |),
       |sims AS (
       |  SELECT doc_id, $bitTerms AS simhash FROM toksT
       |),
       |chunks AS (
       |  $chunkSelects
       |),
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
       |         CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
       |  FROM chunks l JOIN chunks r ON l.chunk = r.chunk AND l.cval = r.cval AND l.doc_id < r.doc_id
       |)
       |SELECT a, b, hamming FROM pairs WHERE hamming <= 3 ORDER BY a, b""".stripMargin
  }

  private[graft] def cosineSql(a: String, b: String): String = {
    val prod = s"list_transform(range(len($a)), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE))"
    val sq = (v: String) => s"list_transform(range(len($v)), i -> CAST($v[i+1] AS DOUBLE) * CAST($v[i+1] AS DOUBLE))"
    val fold = (l: String) => s"list_reduce($l, (x, y) -> x + y)"
    s"""(CASE WHEN sqrt(${fold(sq(a))}) > 0.0 AND sqrt(${fold(sq(b))}) > 0.0
       | THEN ${fold(prod)} / (sqrt(${fold(sq(a))}) * sqrt(${fold(sq(b))})) ELSE 0.0 END)""".stripMargin
  }

  /** LSH bucket replay: same LCG planes, same left-fold dot product. */
  private[graft] def lshBucketSql(vec: String, planes: Int, dim: Int): String = {
    val bits = (0 until planes).map { j =>
      val comps = (0 until dim).map { d =>
        s"CAST(${Similarity.lcg(j * dim + d) % 2001L} - 1000 AS DOUBLE)/1000.0"
      }
      val planeArr = s"[${comps.mkString(", ")}]"
      s"""CASE WHEN list_reduce(list_transform(range($dim), i -> CAST($vec[i+1] AS DOUBLE) * list_extract($planeArr, i+1)), (x,y) -> x + y) >= 0.0
         | THEN ${1L << j} ELSE 0 END""".stripMargin
    }
    bits.mkString("(", "\n + ", ")")
  }

  /** LSH bucket replay with a RUN-TIME plane count (`planesExpr` ≤
    * `maxPlanes`): bit j contributes only when j < planesExpr. Replays
    * `Similarity.knnGraphAuto`'s data-dependent sizing — the plane count is
    * computed by the SQL engine from the same corpus, so the oracle stays
    * static SQL even though the bucketing adapts to N. */
  private[graft] def lshBucketDynSql(
      vec: String, maxPlanes: Int, dim: Int, planesExpr: String): String = {
    val bits = (0 until maxPlanes).map { j =>
      val comps = (0 until dim).map { d =>
        s"CAST(${Similarity.lcg(j * dim + d) % 2001L} - 1000 AS DOUBLE)/1000.0"
      }
      val planeArr = s"[${comps.mkString(", ")}]"
      s"""CASE WHEN $j < $planesExpr AND list_reduce(list_transform(range($dim), i -> CAST($vec[i+1] AS DOUBLE) * list_extract($planeArr, i+1)), (x,y) -> x + y) >= 0.0
         | THEN ${1L << j} ELSE 0 END""".stripMargin
    }
    bits.mkString("(", "\n + ", ")")
  }

  private def annTopkOracle: String =
    s"""WITH c AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.qid, c.vec_id, ROUND(${cosineSql("c.embedding", "q.qv")}, 6) AS sim
       |  FROM c CROSS JOIN q WHERE c.vec_id != q.qid
       |),
       |ranked AS (
       |  SELECT qid, vec_id, sim,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /**
   * Lloyd-refinement replay (Similarity.ivfTrainKMeans, k=32, dim=64):
   * sampled init re-keyed 0..k-1, then per iteration an assignment pass
   * (argmax cosine, ties -> smallest cell id) and the DETERMINISTIC mean —
   * per-coordinate floor(v*2^16 + 0.5) summed as BIGINT, / (n * 2^16) —
   * which is order-independent, hence bit-replayable. Ends with CTEs
   * `cf` (final centroids) and `cellsf` (final corpus assignment).
   */
  /** `src` is the training-corpus table expression (default the full
    * embeddings table; incremental-index oracles pass a filtered subquery).
    * `limitExpr` is the quantizer size k as a SQL expression — a literal for
    * the fixed-k rows, a COUNT-derived scalar subquery for the k ∝ N regime
    * (q_ann_incremental_kscaled), mirroring ivfTrainKMeans' k argument. */
  /** `hierAssign = true` replays ivfTrainKMeans' hier-assignment regime:
    * every Lloyd pass (and the final corpus assignment) routes through a
    * freshly-built coarse structure over that pass's centroids — the
    * two-level O(√k) path the k ∝ N quantizer must train with to avoid the
    * flat O(N·k) assignment quadratic. */
  private[graft] def kmeansReplayCtes(iters: Int, dim: Int,
                                      src: String = "embeddings",
                                      limitExpr: String = "32",
                                      hierAssign: Boolean = false): String = {
    def assign(centsCte: String, name: String): String =
      if (hierAssign)
        hierReplayCtes(dim, centsCte, prefix = s"${name}_h_") + ",\n" +
          hierAssignCtes(name, src, "vec_id", "embedding",
            prefix = s"${name}_h_", vecOut = true)
      else
        s"""$name AS MATERIALIZED (
           |  SELECT vec_id, cv, cell FROM (
           |    SELECT e.vec_id, e.embedding AS cv, c.cid AS cell,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cosineSql("e.embedding", "c.cvec")} DESC, c.cid ASC) AS rk
           |    FROM $src e CROSS JOIN $centsCte c) WHERE rk = 1
           |)""".stripMargin
    def means(cellsCte: String, name: String): String = {
      val sums = (0 until dim).map { d =>
        s"CAST(sum(CAST(floor(CAST(cv[${d + 1}] AS DOUBLE)*65536.0E0 + 0.5E0) AS BIGINT)) AS DOUBLE) / (CAST(count(*) AS DOUBLE)*65536.0E0)"
      }.mkString(",\n      ")
      s"""$name AS MATERIALIZED (
         |  SELECT cell, [
         |      $sums] AS mean
         |  FROM $cellsCte GROUP BY cell
         |)""".stripMargin
    }
    def refresh(prevCents: String, meansCte: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT o.cid, CASE WHEN m.cell IS NULL THEN o.cvec ELSE m.mean END AS cvec
         |  FROM $prevCents o LEFT JOIN $meansCte m ON m.cell = o.cid
         |)""".stripMargin
    val init =
      s"""c0 AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY cid) - 1 AS BIGINT) AS cid,
         |         list_transform(cvec, v -> CAST(v AS DOUBLE)) AS cvec
         |  FROM (SELECT vec_id AS cid, embedding AS cvec FROM $src
         |        QUALIFY row_number() OVER (
         |          ORDER BY (1103515245*(vec_id+7)+12345) % 2147483647, vec_id) <= $limitExpr)
         |)""".stripMargin
    val iterCtes = (0 until iters).flatMap { it =>
      Seq(assign(s"c$it", s"cells$it"), means(s"cells$it", s"m$it"),
        refresh(s"c$it", s"m$it", s"c${it + 1}"))
    }
    ((init +: iterCtes) :+ assign(s"c$iters", "cellsf"))
      .mkString(",\n") + s",\ncf AS MATERIALIZED (SELECT * FROM c$iters)"
  }

  /**
   * Replay of [[graft.sim.Similarity.ivfCellExprHier]]'s driver-side coarse
   * structure over the final fine centroids `cf`: kc = ceil(sqrt(k)) coarse
   * cells seeded by the lcg order of the fine cids, refined by exactly 3
   * routing+quantized-mean passes (the Scala loop is `while (it < 3)`), with
   * empty coarse cells keeping their previous vector. Emits:
   *   hc0..hc3  coarse centroids per pass (l = coarse index in seed order)
   *   rt0..rt2  fine→coarse routing per pass (rt2 = the kernel's segments,
   *             computed against hc2 — the Scala route/coarse off-by-one)
   *   hlive     coarse cells with >=1 routed fine centroid under rt2
   *   hcf       the kernel's live coarse centroids (hc3 restricted to hlive)
   */
  /** `fineCte` is the fine-centroid relation (cid, cvec) the coarse
    * structure is built over; `prefix` namespaces the emitted CTEs so the
    * hier-TRAINED replay can rebuild the structure per Lloyd iteration
    * (h0_, h1_, ... over c0, c1, ...) without name collisions. */
  private[graft] def hierReplayCtes(
      dim: Int, fineCte: String = "cf", prefix: String = ""): String = {
    val kcExpr =
      s"(SELECT greatest(1, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) FROM $fineCte)"
    def route(centsCte: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT cid, cvec, l FROM (
         |    SELECT f.cid, f.cvec, h.l,
         |      row_number() OVER (PARTITION BY f.cid
         |        ORDER BY ${cosineSql("f.cvec", "h.cvec")} DESC, h.l ASC) AS rk
         |    FROM $fineCte f CROSS JOIN $centsCte h) WHERE rk = 1
         |)""".stripMargin
    def means(routeCte: String, name: String): String = {
      val sums = (0 until dim).map { d =>
        s"CAST(sum(CAST(floor(CAST(cvec[${d + 1}] AS DOUBLE)*65536.0E0 + 0.5E0) AS BIGINT)) AS DOUBLE) / (CAST(count(*) AS DOUBLE)*65536.0E0)"
      }.mkString(",\n      ")
      s"""$name AS MATERIALIZED (
         |  SELECT l, [
         |      $sums] AS mean
         |  FROM $routeCte GROUP BY l
         |)""".stripMargin
    }
    def refresh(prevCents: String, meansCte: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT o.l, CASE WHEN m.l IS NULL THEN o.cvec ELSE m.mean END AS cvec
         |  FROM $prevCents o LEFT JOIN $meansCte m ON m.l = o.l
         |)""".stripMargin
    val p = prefix
    val init =
      s"""${p}hc0 AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (
         |      ORDER BY (1103515245*(cid+7)+12345) % 2147483647, cid) - 1 AS BIGINT) AS l,
         |    cvec
         |  FROM $fineCte
         |  QUALIFY row_number() OVER (
         |      ORDER BY (1103515245*(cid+7)+12345) % 2147483647, cid) <= $kcExpr
         |)""".stripMargin
    val iterCtes = (0 until 3).flatMap { it =>
      Seq(route(s"${p}hc$it", s"${p}rt$it"), means(s"${p}rt$it", s"${p}hm$it"),
        refresh(s"${p}hc$it", s"${p}hm$it", s"${p}hc${it + 1}"))
    }
    ((init +: iterCtes) :+
      s"${p}hlive AS MATERIALIZED (SELECT DISTINCT l FROM ${p}rt2)" :+
      s"${p}hcf AS MATERIALIZED (SELECT h.l, h.cvec FROM ${p}hc3 h JOIN ${p}hlive USING (l))")
      .mkString(",\n")
  }

  /**
   * Replay of [[graft.functions.HierCentroidKernel.nearest]] for every row of
   * `srcCte` (columns `idCol`, `vecCol`): rank the live coarse cells by
   * (cosine DESC, l ASC), keep the top min(4, |live|) probes, then exact
   * argmax over the probed cells' routed fine centroids with ties to the
   * smallest cid. Requires [[hierReplayCtes]] CTEs in scope. Emits
   * `${name}_cp` (probe set) and `$name` = ($idCol, cell).
   */
  /** `prefix` must match the [[hierReplayCtes]] emission this assignment
    * routes through; `vecOut = true` carries the source vector along as
    * `cv` (the shape the Lloyd means CTE consumes). */
  private[graft] def hierAssignCtes(
      name: String, srcCte: String, idCol: String, vecCol: String,
      prefix: String = "", vecOut: Boolean = false): String = {
    val p = prefix
    val cvSel = if (vecOut) s", x.$vecCol AS cv" else ""
    val cvOut = if (vecOut) ", cv" else ""
    s"""${name}_cp AS MATERIALIZED (
       |  SELECT id, l FROM (
       |    SELECT x.$idCol AS id, h.l,
       |      row_number() OVER (PARTITION BY x.$idCol
       |        ORDER BY ${cosineSql(s"x.$vecCol", "h.cvec")} DESC, h.l ASC) AS rk
       |    FROM $srcCte x CROSS JOIN ${p}hcf h
       |  ) WHERE rk <= (SELECT least(4, count(*)) FROM ${p}hlive)
       |),
       |$name AS MATERIALIZED (
       |  SELECT id AS $idCol, cell$cvOut FROM (
       |    SELECT cp.id, r.cid AS cell$cvSel,
       |      row_number() OVER (PARTITION BY cp.id
       |        ORDER BY ${cosineSql(s"x.$vecCol", "r.cvec")} DESC, r.cid ASC) AS rk
       |    FROM $srcCte x JOIN ${name}_cp cp ON cp.id = x.$idCol
       |         JOIN ${p}rt2 r ON r.l = cp.l
       |  ) WHERE rk = 1
       |)""".stripMargin
  }

  private def annIvfOracle: String =
    s"""WITH ${kmeansReplayCtes(iters = 2, dim = 64)},
       |probes AS (
       |  SELECT qid, qv, cell FROM (
       |    SELECT q.vec_id AS qid, q.embedding AS qv, c.cid AS cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosineSql("q.embedding", "c.cvec")} DESC, c.cid ASC) AS pr
       |    FROM embeddings q CROSS JOIN cf c WHERE q.vec_id < 5) WHERE pr <= 2
       |),
       |scored AS (
       |  SELECT p.qid, s.vec_id, ROUND(${cosineSql("s.cv", "p.qv")}, 6) AS sim
       |  FROM probes p JOIN cellsf s ON s.cell = p.cell WHERE s.vec_id != p.qid
       |),
       |ranked AS (
       |  SELECT qid, vec_id, sim,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  private def annIvfKmeansOracle: String =
    s"""WITH ${kmeansReplayCtes(iters = 2, dim = 64)}
       |SELECT c.cid AS cell,
       |  coalesce(n.n, CAST(0 AS BIGINT)) AS n_members,
       |  ROUND(c.cvec[1], 6) AS c0, ROUND(c.cvec[2], 6) AS c1,
       |  ROUND(c.cvec[3], 6) AS c2, ROUND(c.cvec[4], 6) AS c3
       |FROM cf c LEFT JOIN (SELECT cell, count(*) AS n FROM cellsf GROUP BY cell) n
       |  ON n.cell = c.cid
       |ORDER BY cell""".stripMargin

  /** Silhouette replay: same kmeans CTEs, per-vector cosine to every final
    * centroid, rk1/rk2 by (sim desc, cid asc), then the kernel's exact FP
    * sequence (b−a)/b·1e6 with floor(x+0.5) and the b>0 guard. */
  private def silhouetteOracle: String =
    s"""WITH ${kmeansReplayCtes(iters = 2, dim = 64)},
       |sims AS (
       |  SELECT e.vec_id, c.cid, ${cosineSql("e.embedding", "c.cvec")} AS sim
       |  FROM embeddings e CROSS JOIN cf c
       |),
       |rankedsil AS (
       |  SELECT vec_id, cid, sim,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk
       |  FROM sims
       |),
       |sil AS (
       |  SELECT b.cid AS cell,
       |    CASE WHEN (1.0 - s.sim) > 0.0
       |         THEN least(CAST(1000000 AS BIGINT),
       |                    CAST(floor(((1.0 - s.sim) - (1.0 - b.sim)) / (1.0 - s.sim) * 1000000.0 + 0.5) AS BIGINT))
       |         ELSE CAST(0 AS BIGINT) END AS s_micro
       |  FROM (SELECT * FROM rankedsil WHERE rk = 1) b
       |  JOIN (SELECT * FROM rankedsil WHERE rk = 2) s USING (vec_id)
       |)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(s_micro) AS BIGINT) AS sum_s_micro,
       |  CAST(min(s_micro) AS BIGINT) AS min_s_micro,
       |  CAST(max(s_micro) AS BIGINT) AS max_s_micro
       |FROM sil GROUP BY cell ORDER BY cell""".stripMargin

  private def annLshOracle: String =
    s"""WITH cb AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", 6, 64)} AS bucket FROM embeddings),
       |qb AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM cb WHERE vec_id < 5),
       |scored AS (
       |  SELECT qb.qid, cb.vec_id, ROUND(${cosineSql("cb.embedding", "qb.qv")}, 6) AS sim
       |  FROM cb JOIN qb ON cb.bucket = qb.bucket WHERE cb.vec_id != qb.qid
       |),
       |ranked AS (
       |  SELECT qid, vec_id, sim,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  private def embedNearDupOracle: String =
    s"""WITH b AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", 8, 64)} AS bucket FROM embeddings)
       |SELECT DISTINCT l.vec_id AS a, r.vec_id AS b,
       |       ROUND(${cosineSql("l.embedding", "r.embedding")}, 6) AS sim
       |FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
       |WHERE ROUND(${cosineSql("l.embedding", "r.embedding")}, 6) >= 0.42
       |ORDER BY a, b""".stripMargin

  private def langIdOracle: String = {
    val scores = TextFunctions.LangStopwords.filter(_._2.nonEmpty).map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      l -> s"CAST(len(list_filter(${duckToks()}, t -> t IN ($inList))) AS BIGINT)"
    }
    val names = TextFunctions.LangStopwords.map(_._1)
    val scoreExpr = names.map(l => scores.toMap.getOrElse(l, "CAST(0 AS BIGINT)"))
    val caseChain = names.zipWithIndex.foldRight("'und'") { case ((l, i), els) =>
      val conds = scoreExpr.zipWithIndex.filter(_._2 != i).map { case (_, jj) => s"s_$i >= s_$jj" }
      s"CASE WHEN ${conds.mkString(" AND ")} THEN '$l' ELSE $els END"
    }
    val selScores = scoreExpr.zipWithIndex.map { case (e, i) => s"$e AS s_$i" }.mkString(",\n    ")
    s"""WITH sc AS (
       |  SELECT doc_id, $selScores FROM documents
       |)
       |SELECT doc_id,
       |  CASE WHEN ${names.indices.map(i => s"s_$i").mkString(" + ")} = 0 THEN 'und' ELSE $caseChain END AS lang_pred,
       |  s_0 AS s_en, s_1 AS s_de, s_2 AS s_es, s_3 AS s_fr
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  private def qualityOracle: String = {
    val stop = TextFunctions.EnStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, text, ${duckToks()} AS toks,
       |    CAST(length(text) AS BIGINT) AS n_chars_c,
       |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
       |  FROM documents
       |),
       |m AS (
       |  SELECT doc_id, n_chars_c, CAST(len(toks) AS BIGINT) AS n_tokens, n_punct,
       |    CASE WHEN len(toks) > 0
       |         THEN CAST(len(list_filter(toks, t -> t IN ($stop))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |         ELSE 0.0 END AS stop_ratio,
       |    CASE WHEN len(toks) > 0
       |         THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |         ELSE 0.0 END AS mean_tok_len
       |  FROM base
       |)
       |SELECT doc_id, n_chars_c, n_tokens, n_punct,
       |  ROUND(stop_ratio, 6) AS stop_ratio,
       |  ROUND(mean_tok_len, 6) AS mean_tok_len,
       |  ROUND(
       |    (least(CAST(n_chars_c AS DOUBLE)/500.0, 1.0) * 0.3)
       |    + ((1.0 - least((CASE WHEN n_chars_c > 0 THEN CAST(n_punct AS DOUBLE)/CAST(n_chars_c AS DOUBLE) ELSE 0.0 END) * 10.0, 1.0)) * 0.2)
       |    + (least(stop_ratio * 3.0, 1.0) * 0.3)
       |    + ((CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 8.0 THEN 1.0 ELSE 0.5 END) * 0.2)
       |  , 6) AS quality
       |FROM m ORDER BY doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents
         |)
         |SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM corpus GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    "q_dedup_minhash" -> minhashOracle,
    "q_dedup_curve" -> dedupCurveOracle,
    "q_lsh_recall" -> lshRecallOracle,
    "q_dedup_simhash" -> simhashOracle,
    "q_dedup_minhash_groups" -> minhashGroupsOracle,
    "q_dedup_incremental" -> incrementalDedupOracle,
    "q_dedup_keep_longest" -> keepLongestOracle,
    "q_dedup_pipeline" -> dedupPipelineOracle,
    "q_cluster_split" -> clusterSplitOracle,

    // term rarity: identical tokenization; integer freq sums, ONE double
    // division at the end (exact in both engines)
    "q_term_rarity" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${duckToks()}) AS tok FROM documents
         |),
         |freq AS (
         |  SELECT tok, count(*) AS tf FROM toks GROUP BY tok
         |)
         |SELECT t.doc_id,
         |  count(*) AS n_toks,
         |  min(f.tf) AS tf_min,
         |  CAST(sum(f.tf) AS DOUBLE) / count(*) AS tf_mean
         |FROM toks t JOIN freq f ON t.tok = f.tok
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // heavy hitters: identical 2-gram construction; counts are native
    // BIGINT; ties cannot survive the per-gram aggregation
    "q_top_ngrams" ->
      s"""WITH toks AS (SELECT doc_id, ${duckToks()} AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
         |    THEN list_transform(range(len(tk) - 1),
         |                        i -> array_to_string(list_slice(tk, i+1, i+2), ' '))
         |    ELSE [] END) AS gram
         |  FROM toks)
         |SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM grams GROUP BY gram
         |ORDER BY n_occurrences DESC, gram ASC LIMIT 50""".stripMargin,

    // stratified sample: same md5-bucket integer arithmetic, same integer
    // keep-threshold floor(target*10000/n)
    "q_stratified_sample" ->
      s"""WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |keep AS (
         |  SELECT d.lang, d.doc_id, d.n_chars FROM documents d JOIN cnt USING (lang)
         |  WHERE ${duckHash("CAST(d.doc_id AS VARCHAR)")} % 10000
         |        < least(10000, (50 * 10000) // n))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM keep GROUP BY lang ORDER BY lang""".stripMargin,

    // count-min sketch: identical salted md5 cell hashes, integer counts
    // end to end; min over the probe's depth cells
    "q_cms" ->
      s"""WITH toks AS (SELECT unnest(${duckToks()}) AS tok FROM documents),
         |rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
         |cells AS (
         |  SELECT tok, r, ${duckHash("CAST(r AS VARCHAR) || ':' || tok")} % 512 AS c
         |  FROM toks CROSS JOIN rows_),
         |sketch AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY r, c),
         |freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt FROM toks GROUP BY tok
         |         ORDER BY true_cnt DESC, tok ASC LIMIT 30),
         |probe AS (
         |  SELECT f.tok, f.true_cnt, r.r,
         |         ${duckHash("CAST(r.r AS VARCHAR) || ':' || f.tok")} % 512 AS c
         |  FROM freq f CROSS JOIN rows_ r),
         |est AS (
         |  SELECT p.tok, p.true_cnt, min(s.cnt) AS est_cnt
         |  FROM probe p JOIN sketch s ON s.r = p.r AND s.c = p.c
         |  GROUP BY p.tok, p.true_cnt)
         |SELECT tok, true_cnt, est_cnt, est_cnt - true_cnt AS overcount
         |FROM est ORDER BY tok""".stripMargin,

    // surprisal: integer bit-length arithmetic (length(bin(total div tf))-1)
    // replayed exactly; the mean is ONE IEEE division of identical values
    "q_surprisal" ->
      s"""WITH toks AS (SELECT doc_id, unnest(${duckToks()}) AS tok FROM documents),
         |freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM freq),
         |terms AS (
         |  SELECT t.doc_id, CAST(length(bin(total // tf)) - 1 AS BIGINT) AS bits
         |  FROM toks t JOIN freq USING (tok) CROSS JOIN tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |       CAST(sum(bits) AS BIGINT) AS sum_bits,
         |       CAST(sum(bits) AS DOUBLE) / count(*) AS mean_bits
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Gopher rules: identical enrichment, token/line/regex counts in the
    // Java-regex ∩ RE2 common subset, integer cross-multiplied ratios
    "q_gopher_rules" -> {
      val stop = TextFunctions.EnStopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH docs AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' ' || repeat('# ', 40) ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0 THEN repeat(chr(10) || '- one' || chr(10) || '- two' ||
         |      chr(10) || '- three' || chr(10) || '- four' || chr(10) || '- five' || chr(10) ||
         |      '- six' || chr(10) || '- seven' || chr(10) || '- eight' || chr(10) || '- nine' ||
         |      chr(10) || '- ten', 4) ELSE '' END ||
         |    CASE WHEN doc_id % 13 = 0 THEN ' ' || repeat('12345 907 ', 30) ELSE '' END ||
         |    CASE WHEN doc_id % 17 = 0 THEN repeat(chr(10) || 'wait for it...', 40) ELSE '' END ||
         |    CASE WHEN doc_id % 19 = 0 THEN ' ' || repeat('x q z j k ', 40) ELSE '' END AS text
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, ${duckToks()} AS tk,
         |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |    CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_sym,
         |    CAST(len(regexp_extract_all(text, '(?m)^[ \\t]*[-*•]')) AS BIGINT) AS n_bullet,
         |    CAST(len(regexp_extract_all(text, '(?m)\\.\\.\\.$$')) AS BIGINT) AS n_ell,
         |    CAST(len(regexp_extract_all(text, '\\b[0-9]+\\b')) AS BIGINT) AS n_digit
         |  FROM docs),
         |s AS (
         |  SELECT doc_id, n_lines, n_sym, n_bullet, n_ell, n_digit,
         |    CAST(len(tk) AS BIGINT) AS n_toks,
         |    CAST(coalesce(list_sum(list_transform(tk, x -> len(x))), 0) AS BIGINT) AS len_sum,
         |    CAST(len(list_filter(tk, x -> list_contains($stop, x))) AS BIGINT) AS stop_hits
         |  FROM t)
         |SELECT doc_id, n_toks, len_sum, stop_hits, n_lines, n_sym, n_bullet, n_ell, n_digit,
         |  (n_toks >= 50 AND n_toks <= 100000) AS r_words,
         |  (len_sum >= n_toks * 3 AND len_sum <= n_toks * 10) AS r_mean_len,
         |  (n_sym * 10 <= n_toks) AS r_symbols,
         |  (n_bullet * 10 <= n_lines * 9) AS r_bullets,
         |  (n_ell * 10 <= n_lines * 3) AS r_ellipsis,
         |  ((n_toks - n_digit) * 10 >= n_toks * 8) AS r_alpha,
         |  (stop_hits >= 2) AS r_stopwords,
         |  ((n_toks >= 50 AND n_toks <= 100000) AND (len_sum >= n_toks * 3 AND len_sum <= n_toks * 10)
         |   AND (n_sym * 10 <= n_toks) AND (n_bullet * 10 <= n_lines * 9)
         |   AND (n_ell * 10 <= n_lines * 3) AND ((n_toks - n_digit) * 10 >= n_toks * 8)
         |   AND (stop_hits >= 2)) AS pass_all
         |FROM s ORDER BY doc_id""".stripMargin
    },

    // weighted sample: same integer threshold bucket(id) < w*10000 div W
    "q_weighted_sample" ->
      s"""WITH keep AS (
         |  SELECT lang, doc_id, n_chars FROM documents
         |  WHERE ${duckHash("CAST(doc_id AS VARCHAR)")} % 10000
         |        < least(10000, n_chars * 10000 // 500))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars, min(doc_id) AS min_id
         |FROM keep GROUP BY lang ORDER BY lang""".stripMargin,

    // percentiles: identical integer rank selection over the same
    // (value, id) total order — percentile_disc semantics, no interpolation
    "q_percentiles" ->
      """WITH ranked AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |qs AS (SELECT unnest([10, 25, 50, 75, 90]) AS q)
        |SELECT lang, CAST(q AS BIGINT) AS q, n_chars
        |FROM ranked CROSS JOIN qs
        |WHERE rk - 1 = ((n - 1) * q) // 100
        |ORDER BY lang, q""".stripMargin,

    // range join: the oracle needs no buckets — a BETWEEN join is exact;
    // the Spark side's bucketing is a plan-shape device, not semantics
    "q_range_join" ->
      """WITH pts AS (
        |  SELECT l_orderkey, l_quantity,
        |         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d
        |  FROM lineitem),
        |ivs AS (
        |  SELECT o_orderkey,
        |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS w_start
        |  FROM orders WHERE o_orderkey % 50 = 0)
        |SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_pts,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
        |  CAST(min(d - w_start) AS BIGINT) AS min_off,
        |  CAST(max(d - w_start) AS BIGINT) AS max_off
        |FROM pts JOIN ivs ON d BETWEEN w_start AND w_start + 6
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    // shard packing: split replay + window cumsum (BIGINT cast!) + integer
    // offset-bucket division
    "q_pack_shards" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang, n_chars,
         |    ${duckHash("CAST(doc_id AS VARCHAR)")} % 100 AS bkt
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, lang, n_chars,
         |    CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM b),
         |o AS (
         |  SELECT split, lang, doc_id, n_chars,
         |    CAST(sum(n_chars) OVER (PARTITION BY split, lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS BIGINT) AS off
         |  FROM d)
         |SELECT split, lang, CAST(off // 20000 AS BIGINT) AS shard,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM o GROUP BY split, lang, shard
         |ORDER BY split, lang, shard""".stripMargin,

    // curation funnel: per-doc survival level via the same integer stats
    // (token/2-gram counts, hashed-5-gram contamination), then one unnest
    // per surviving stage
    "q_curation_funnel" ->
      s"""WITH ev AS (
         |  SELECT list(DISTINCT g) AS evg
         |  FROM (SELECT unnest(${duckShingleSet("text", 5)}) AS g
         |        FROM documents WHERE doc_id % 50 = 0)
         |),
         |base AS (
         |  SELECT doc_id, n_chars, ${duckToks()} AS tk,
         |         ${duckShingleSet("text", 5)} AS g5
         |  FROM documents),
         |stats AS (
         |  SELECT doc_id, n_chars,
         |    len(tk) AS n1,
         |    CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 0 END AS n2,
         |    CASE WHEN len(tk) >= 2 THEN len(list_distinct(
         |      list_transform(range(len(tk) - 1),
         |        i -> array_to_string(list_slice(tk, i+1, i+2), ' ')))) ELSE 0 END AS d2,
         |    len(list_intersect(g5, evg)) > 0 AS contaminated
         |  FROM base CROSS JOIN ev),
         |lvl AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN n_chars < 200 THEN 0
         |         WHEN n1 < 45 OR n1 > 10000 THEN 1
         |         WHEN (n2 - d2) * 100 > n2 * 6 THEN 2
         |         WHEN contaminated THEN 3
         |         ELSE 4 END AS level
         |  FROM stats),
         |st AS (SELECT n_chars, unnest(range(level + 1)) AS stage FROM lvl)
         |SELECT CAST(stage AS BIGINT) AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM st GROUP BY stage ORDER BY stage""".stripMargin,

    // SemDeDup: k-means replay (shared CTEs) -> rounded centroid cosine;
    // within-cell pairs above threshold drop the higher-centroid-sim member
    // (ties drop the larger id), replaying the Spark CASE exactly
    "q_semdedup" ->
      s"""WITH ${kmeansReplayCtes(iters = 2, dim = 64)},
         |sims AS (
         |  SELECT s.vec_id, s.cell, s.cv,
         |         ROUND(${cosineSql("s.cv", "c.cvec")}, 6) AS csim
         |  FROM cellsf s JOIN cf c ON c.cid = s.cell),
         |removed AS (
         |  SELECT DISTINCT CASE WHEN a.csim > b.csim THEN a.vec_id ELSE b.vec_id END AS vec_id
         |  FROM sims a JOIN sims b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ROUND(${cosineSql("a.cv", "b.cv")}, 6) >= 0.42)
         |SELECT s.vec_id, s.cell, s.csim AS centroid_sim,
         |       (r.vec_id IS NOT NULL) AS removed
         |FROM sims s LEFT JOIN removed r ON r.vec_id = s.vec_id
         |ORDER BY s.vec_id""".stripMargin,

    // line dedup: identical boilerplate injection, parallel-unnest zip for
    // (pos, line), distinct-doc HAVING filter, order-preserving string_agg
    "q_line_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, 'NAV HOME ABOUT CONTACT' || chr(10) || text ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'COOKIE CONSENT NOTICE' ELSE '' END AS text
        |  FROM documents
        |),
        |l AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
        |  FROM docs
        |),
        |freq AS (
        |  SELECT line FROM l WHERE trim(line) != ''
        |  GROUP BY line HAVING count(DISTINCT doc_id) >= 100
        |),
        |kept AS (
        |  SELECT doc_id, pos, line FROM l WHERE line NOT IN (SELECT line FROM freq)
        |),
        |reb AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(line, chr(10) ORDER BY pos) AS clean
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(string_split(d.text, chr(10))) - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed,
        |  md5(coalesce(reb.clean, '')) AS clean_hash
        |FROM docs d LEFT JOIN reb ON d.doc_id = reb.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // decontamination: same token-5-gram hash construction on both sides;
    // list_intersect against the flattened distinct eval gram list
    "q_decontaminate" ->
      s"""WITH ev AS (
         |  SELECT list(DISTINCT g) AS evg
         |  FROM (SELECT unnest(${duckShingleSet("text", 5)}) AS g
         |        FROM documents WHERE doc_id % 50 = 0)
         |),
         |tr AS (
         |  SELECT doc_id, ${duckShingleSet("text", 5)} AS grams FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(grams) AS BIGINT) AS n_grams,
         |  CAST(len(list_intersect(grams, evg)) AS BIGINT) AS n_contaminated,
         |  len(list_intersect(grams, evg)) > 0 AS contaminated
         |FROM tr CROSS JOIN ev ORDER BY doc_id""".stripMargin,
    "q_repetition" -> repetitionOracle,
    "q_pii" -> piiOracle,
    "q_cap_per_source" ->
      s"""WITH r AS (
         |  SELECT source, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${duckHash("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
         |  FROM documents
         |)
         |SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       min(doc_id) AS min_id
         |FROM r WHERE rk <= 40 GROUP BY source ORDER BY source""".stripMargin,

    "q_split" ->
      s"""WITH b AS (
         |  SELECT doc_id, n_chars,
         |    ${duckHash("CAST(doc_id AS VARCHAR)")} % 100 AS bkt
         |  FROM documents
         |),
         |s AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM b
         |)
         |SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM s GROUP BY split ORDER BY split""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      CASE WHEN length(lower(text)) >= 3
         |           THEN list_transform(range(1, length(lower(text)) - 1), i -> substring(lower(text), i, 3))
         |           ELSE [] END,
         |      s -> ${duckHash("s")})) AS grams
         |  FROM documents WHERE doc_id < 60
         |)
         |SELECT l.doc_id AS a, r.doc_id AS b,
         |  ROUND(CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) /
         |        CAST(len(l.grams) + len(r.grams) - len(list_intersect(l.grams, r.grams)) AS DOUBLE), 6) AS jaccard
         |FROM g l CROSS JOIN g r WHERE l.doc_id < r.doc_id
         |ORDER BY a, b""".stripMargin,

    "q_embed_neardup" -> embedNearDupOracle,
    "q_ann_topk" -> annTopkOracle,
    "q_ann_lsh" -> annLshOracle,
    "q_ann_ivf" -> annIvfOracle,
    "q_ann_ivf_kmeans" -> annIvfKmeansOracle,
    "q_silhouette" -> silhouetteOracle,
    "q_lang_id" -> langIdOracle,
    "q_quality" -> qualityOracle,

    "q_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len(${duckToks()}) AS BIGINT) AS n_alnum,
         |  CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS BIGINT) AS n_ws,
         |  CAST(len(list_distinct(${duckToks()})) AS BIGINT) AS n_distinct
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT), list_transform(${duckToks()}, t -> ${duckHash("t")})),
         |    (acc, h) -> (acc * 31 + h) % $P) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_window_agg" ->
      """WITH a AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS dsum
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT window_start, event_type, n,
        |  CAST(dsum AS DOUBLE) AS sum_value,
        |  CAST(dsum AS DOUBLE) / n AS avg_value
        |FROM a ORDER BY window_start, event_type""".stripMargin,

    "q_event_sequences" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS ns, event_id, event_type FROM events
        |),
        |flagged AS (
        |  SELECT user_id, ns, event_id, event_type,
        |    CASE WHEN lag(ns) OVER w IS NULL OR ns - lag(ns) OVER w > 1800000000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ns, event_id)
        |),
        |sess AS (
        |  SELECT user_id, ns, event_id, event_type,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ns, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       string_agg(event_type, ',' ORDER BY ns, event_id) AS seq
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS ns FROM events
        |),
        |flagged AS (
        |  SELECT user_id, ns,
        |    CASE WHEN lag(ns) OVER w IS NULL OR ns - lag(ns) OVER w > 1800000000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ns)
        |),
        |sess AS (
        |  SELECT user_id, ns,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ns ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id,
        |  make_timestamp(min(ns) // 1000) AS session_start,
        |  count(*) AS n_events,
        |  (max(ns) - min(ns)) // 1000000000 AS dur_sec
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q1_pricing" ->
      // decimal -> double exports route through VARCHAR: DuckDB's direct
      // DECIMAL->DOUBLE is double-rounded (hugeint and scale divide in
      // float), while Spark's BigDecimal.doubleValue is correctly rounded
      // from the exact value — a 1-ulp divergence the sf1 sweep caught at
      // 10x magnitudes. Parsing the exact decimal STRING is correctly
      // rounded in both engines.
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(30,2)) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(30,2)) AS VARCHAR) AS DOUBLE) AS sum_base,
        |  CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DECIMAL(30,4)) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order,
        |  CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(30,2)) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(30,2)) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-12-31'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_asof_join" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_linenumber, l_suppkey AS grp, l_shipdate
        |  FROM lineitem WHERE l_suppkey < 20
        |),
        |r AS (
        |  SELECT o_orderkey % 100 AS grp, o_orderdate,
        |         max(o_orderkey) AS ro_key, arg_max(o_totalprice, o_orderkey) AS ro_price
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, r.ro_key, r.ro_price
        |FROM l ASOF LEFT JOIN r ON l.grp = r.grp AND l.l_shipdate >= r.o_orderdate
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q3_shipping" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DECIMAL(30,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > o_orderdate
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY o_orderkey""".stripMargin,

    // repeated-substring: replay the winnowed rolling hash per position as
    // a direct modular polynomial (sum of codepoint * B^(39-j) mod M — the
    // rolling update computes the same value), same 1-in-10 self-selection;
    // a kept hash in >=2 distinct docs is "repeated" — integer-exact
    "q_substring_dedup" -> {
      val M = graft.functions.HashKernels.WinnowM
      val B = graft.functions.HashKernels.WinnowB
      val pows = new Array[Long](40)
      pows(39) = 1L
      for (k <- 38 to 0 by -1) pows(k) = pows(k + 1) * B % M
      val powsList = pows.mkString("[", ", ", "]")
      s"""WITH c AS (
         |$nearDupCorpusSql
         |),
         |w AS (
         |  SELECT doc_id, h FROM (
         |    SELECT doc_id,
         |      list_sum(list_transform(range(40),
         |        j -> (CAST(ord(substring(text, CAST(p + j AS INT), 1)) AS BIGINT)
         |              * (($powsList)[j + 1])) % $M)) % $M AS h
         |    FROM (SELECT doc_id, text,
         |            unnest(range(1, CAST(length(text) AS BIGINT) - 38, 1)) AS p
         |          FROM c WHERE length(text) >= 40))
         |  WHERE h % 10 = 0
         |),
         |d AS (SELECT h, 1 AS dup FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
         |SELECT w.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(sum(CASE WHEN d.dup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
         |  sum(CASE WHEN d.dup IS NOT NULL THEN 1 ELSE 0 END) > 0 AS has_repeat
         |FROM w LEFT JOIN d USING (h)
         |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin
    },

    // redaction: identical enrichment as q_pii, then the same two
    // regexp_replace passes (RE2 'g' flag = Java replace-all), md5 compare
    "q_redact_pii" ->
      s"""WITH e AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
         |    || CASE WHEN doc_id % 4 = 0 THEN ' see https://example.org/d/' || doc_id ELSE '' END
         |    || ' ref ' || (doc_id * 1234567 + 7654321) AS t
         |  FROM documents
         |),
         |r AS (
         |  SELECT doc_id, t,
         |    regexp_replace(
         |      regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+', '<EMAIL>', 'g'),
         |      '[0-9]{7,}', '<ID>', 'g') AS red
         |  FROM e
         |)
         |SELECT doc_id, md5(red) AS redacted_md5,
         |       CAST(length(t) - length(red) AS BIGINT) AS n_chars_delta
         |FROM r ORDER BY doc_id""".stripMargin,

    // tf-idf: integer bit-length idf (length(bin(n div df)) - 1), BIGINT
    // score, ties broken on the term — no floating point anywhere
    "q_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest(${duckToks()}) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfc FROM tf GROUP BY tok),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |sc AS (
         |  SELECT doc_id, tok, tf,
         |         tf * CAST(length(bin(n_docs // dfc)) - 1 AS BIGINT) AS score
         |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
         |),
         |r AS (
         |  SELECT doc_id, tok, tf, score,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rk
         |  FROM sc
         |)
         |SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, tf, score
         |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    // int8 quantization: float->double casts are exact, (v*127)/scale is
    // one IEEE multiply + divide, floor(x+0.5) is the rounding rule —
    // every output column integer, replayed op-for-op
    "q_quantize" ->
      s"""WITH q AS (
         |  SELECT vec_id, embedding,
         |         list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS scale
         |  FROM embeddings
         |)
         |SELECT vec_id,
         |  CAST(len(embedding) AS BIGINT) AS dim,
         |  CAST(CASE WHEN scale > 0
         |    THEN list_sum(list_transform(embedding,
         |           v -> CAST(floor((CAST(v AS DOUBLE) * 127.0) / scale + 0.5) AS BIGINT)))
         |    ELSE 0 END AS BIGINT) AS checksum,
         |  CAST(CASE WHEN scale > 0
         |    THEN len(list_filter(embedding,
         |           v -> abs(CAST(floor((CAST(v AS DOUBLE) * 127.0) / scale + 0.5) AS BIGINT)) = 127))
         |    ELSE 0 END AS BIGINT) AS n_sat,
         |  CAST(floor(scale * 1000000.0) AS BIGINT) AS scale_micro
         |FROM q ORDER BY vec_id""".stripMargin,

    // source overlap: same mirror enrichment, distinct (md5, source)
    // projection, self-join on the hash — pure md5 + integer counts
    "q_source_overlap" ->
      s"""WITH c AS (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2500000000, text, 'mirror_' || source FROM documents WHERE doc_id % 5 = 0
         |),
         |hs AS (SELECT DISTINCT md5(text) AS h, source FROM c)
         |SELECT l.source AS source_a, r.source AS source_b,
         |       CAST(count(*) AS BIGINT) AS n_shared
         |FROM hs l JOIN hs r ON l.h = r.h AND l.source < r.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // HLL: replay bucket/rho salted hashes, per-register max, the 2^32-
    // scaled harmonic sum in BIGINT, the single IEEE-double division, and
    // the linear-counting small-range branch via the SAME integer table
    "q_hll" ->
      s"""WITH h AS (
         |  SELECT source,
         |    ${duckHash("text")} % 64 AS bucket,
         |    ${duckHash("'rho:' || text")} AS v
         |  FROM documents
         |),
         |r AS (
         |  SELECT source, bucket,
         |    max(CASE WHEN v = 0 THEN 32 ELSE 32 - length(bin(v)) END) AS mr
         |  FROM h GROUP BY 1, 2
         |),
         |p AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_occupied,
         |    CAST(sum(1::BIGINT << (32 - mr)) AS BIGINT) AS s_occ
         |  FROM r GROUP BY 1
         |),
         |e AS (
         |  SELECT source, n_occupied,
         |    CAST(s_occ + (64 - n_occupied) * 4294967296 AS BIGINT) AS s_scaled,
         |    CAST(floor(0.709 * 64 * 64 * 4294967296.0 /
         |         CAST(s_occ + (64 - n_occupied) * 4294967296 AS DOUBLE)) AS BIGINT)
         |      AS raw_est
         |  FROM p
         |)
         |SELECT source, n_occupied, s_scaled,
         |  CASE WHEN n_occupied < 64 AND raw_est <= ${Sketches.HllSmallRangeCutoff}
         |       THEN (${Sketches.hllLinearTableSql})[CAST(64 - n_occupied AS INT)]
         |       ELSE raw_est END AS est_distinct
         |FROM e ORDER BY source""".stripMargin,

    // Bloom decontamination: replay the k=3 salted positions of every
    // distinct train gram against the eval position set — a gram is
    // bloom-flagged iff none of its positions is missing
    "q_bloom_decontaminate" ->
      s"""WITH ev AS (
         |  SELECT DISTINCT unnest(${duckShingleSet("text", 5)}) AS g
         |  FROM documents WHERE doc_id % 50 = 0
         |),
         |pos AS (
         |  SELECT DISTINCT unnest([
         |    ${duckHash("'b0:' || CAST(g AS VARCHAR)")} % 65536,
         |    ${duckHash("'b1:' || CAST(g AS VARCHAR)")} % 65536,
         |    ${duckHash("'b2:' || CAST(g AS VARCHAR)")} % 65536]) AS p
         |  FROM ev
         |),
         |tr AS (SELECT doc_id, ${duckShingleSet("text", 5)} AS grams FROM documents),
         |trg AS (SELECT doc_id, unnest(grams) AS g FROM tr),
         |gp AS (
         |  SELECT g, unnest([
         |    ${duckHash("'b0:' || CAST(g AS VARCHAR)")} % 65536,
         |    ${duckHash("'b1:' || CAST(g AS VARCHAR)")} % 65536,
         |    ${duckHash("'b2:' || CAST(g AS VARCHAR)")} % 65536]) AS p
         |  FROM (SELECT DISTINCT g FROM trg)
         |),
         |blooms AS (
         |  SELECT gp.g FROM gp LEFT JOIN pos ON gp.p = pos.p
         |  GROUP BY gp.g HAVING count(CASE WHEN pos.p IS NULL THEN 1 END) = 0
         |),
         |hits AS (
         |  SELECT trg.doc_id, CAST(count(*) AS BIGINT) AS nb
         |  FROM trg JOIN blooms ON trg.g = blooms.g GROUP BY 1
         |)
         |SELECT t.doc_id, CAST(len(t.grams) AS BIGINT) AS n_grams,
         |  CAST(coalesce(h.nb, 0) AS BIGINT) AS n_bloom_hits,
         |  coalesce(h.nb, 0) > 0 AS flagged
         |FROM tr t LEFT JOIN hits h ON t.doc_id = h.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    // mix weights: IEEE-exact sqrt micro-quantized to BIGINT, then pure
    // integer normalization
    "q_mix_weights" ->
      s"""WITH c AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1
         |),
         |w AS (
         |  SELECT source, n_docs,
         |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS weight_micro
         |  FROM c
         |)
         |SELECT source, n_docs, weight_micro,
         |  CAST((10000 * weight_micro) // (SELECT sum(weight_micro) FROM w) AS BIGINT) AS alloc
         |FROM w ORDER BY source""".stripMargin,

    // leakage split: canonical (min) id per content group decides the
    // bucket, so duplicate groups move between splits as one unit
    "q_leakage_split" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text, n_chars FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000, text, n_chars FROM documents WHERE doc_id % 3 = 0
         |),
         |g AS (SELECT md5(text) AS ch, min(doc_id) AS canonical FROM corpus GROUP BY 1),
         |s AS (
         |  SELECT c.doc_id, c.n_chars, c.text,
         |    CASE WHEN ${duckHash("CAST(g.canonical AS VARCHAR)")} % 100 < 80 THEN 'train'
         |         WHEN ${duckHash("CAST(g.canonical AS VARCHAR)")} % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM corpus c JOIN g ON md5(c.text) = g.ch
         |)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_groups,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // vocab profile: per-source token/type counts, integer milli ratio
    "q_vocab" ->
      s"""WITH tok AS (SELECT source, unnest(${duckToks()}) AS tok FROM documents),
         |tt AS (SELECT source, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |tp AS (
         |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_terms
         |  FROM tt GROUP BY 1
         |),
         |d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1)
         |SELECT d.source, d.n_docs, tp.n_tokens, tp.n_terms,
         |  CAST(tp.n_tokens * 1000 // tp.n_terms AS BIGINT) AS tokens_per_type_milli
         |FROM d JOIN tp ON d.source = tp.source ORDER BY d.source""".stripMargin
  )
}
