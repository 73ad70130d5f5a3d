package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/**
 * sf1 scale soak: the empirical check behind the 100 TB design claims.
 *
 * Generates a `scale`× (default 10×) synthetic blow-up of the sf0.1 tables
 * the headline operators read — documents, embeddings, events, lineitem,
 * orders — by perturbed duplication (each copy's ids are offset and its
 * content deterministically perturbed so near-dup/ANN workload structure
 * scales LINEARLY: within-copy structure mirrors the base corpus,
 * cross-copy pairs are pushed below every similarity threshold). Then runs
 * the soak queries once at the base scale and once at the blown-up scale
 * and reports the wall-clock ratio per query. A design that is linear in
 * the data (one shuffle per stage, bounded models, bucketed joins) should
 * scale ≈ `scale`×; a hidden quadratic term (all-pairs join, unbounded
 * broadcast, driver collect) shows up as a ratio ≫ `scale`.
 *
 * Writes soak.json: per-query base/soak seconds + ratio + row counts.
 * Usage: sbt "runMain graft.Soak" — env SPARK_GRAFT_SOAK_SCALE (default 10),
 * SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_SOAK_DIR
 * (default target/soak/sf1).
 */
object Soak {

  /** The queries whose scale behavior the verdict asks to prove: minhash +
    * simhash dedup (bucketed self-joins), star group dedup, the full
    * star→resolveForest→keepBest pipeline (round 5), IVF ANN (bounded
    * model + map-side assignment), as-of join (union+sort engine), LKF
    * (stateful engine), repetition kernel (pure scan). */
  val SoakQueries: Seq[String] =
    Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_minhash_groups",
      "q_dedup_pipeline",
      "q_ann_ivf", "q_asof_join", "q_lkf_llt", "q_repetition",
      "q_top_ngrams", "q_surprisal", "q_line_dedup",
      // round-5 wave 4: per-position hashing (CPU-bound scan) + two aggs,
      // the (doc,term) double aggregation, and the shuffle-free quantizer
      "q_substring_dedup", "q_tfidf", "q_quantize",
      // round 6: the bucketed self-join graph (sum(bucket²) candidates must
      // scale ~linearly while buckets stay balanced), the double-aggregated
      // bigram LM, the PQ code scan (bounded model + map-side codes), and
      // the pure-scan canonicalization
      "q_knn_graph_auto", "q_bigram_surprisal", "q_ann_pq", "q_text_normalize",
      // round-6 wave 2: vocab-model train+broadcast-score (NB), fixed-size
      // hashed bucket model (DSIR), the epoch×shard window shuffle, and the
      // kmeans + token double-agg topic dashboard
      "q_nb_classifier", "q_dsir_weights", "q_shuffle_shards", "q_doc_topics",
      // waves 3-4: decode-bound perceptual hashing, the interleave's
      // group windows, the reservoir window, and the cached-vocab drift
      "q_image_dedup", "q_mix_interleave", "q_reservoir_sample", "q_corpus_drift",
      "q_chunk",
      // round 7: the remaining assembly operators — greedy shard packing
      // (one window shuffle per group set) and the one-pass curation funnel
      "q_pack_shards", "q_curation_funnel",
      // round 8: the event pair (one and two co-partitioned agg shuffles),
      // the rare-shingle containment index (maxDocFreq must bound the
      // candidate join's fan-out as the corpus grows), and the subword
      // tokenizer (train = count + top-k; apply = broadcast-kernel scan)
      "q_funnel", "q_retention", "q_containment", "q_bpe_tokens",
      // real BPE: k pair-count shuffles over the DISTINCT-WORD table (must
      // scale with vocabulary growth, sublinear in corpus) + the join-back
      "q_bpe_segment",
      // map-side broadcast scoring (O(E) per row, E fixed) and the
      // near-dup CC split (pair join + O(diameter) label rounds)
      "q_semantic_decontaminate", "q_cluster_split",
      // round-8 wave 3: the per-user window sort + pair agg (transitions),
      // the per-user assemble + TakeOrderedAndProject (top paths), the
      // Aho-Corasick scan (pure map-side, pattern count fixed), the
      // single-agg moments profile, and the two engagement aggs
      "q_transitions", "q_top_paths", "q_blocklist", "q_moments",
      "q_props_profile", "q_stickiness",
      // round-8 wave 6: attribution (one user-key exchange; users scale),
      // RFM (per-customer rollup; histories lengthen under the copy
      // generator), PMI (two vocab-sized count aggs — vocabulary grows
      // linearly under per-copy token suffixing), char entropy (pure
      // map-side ≤36-row partials), and the 3-order n-gram diversity aggs
      "q_attribution", "q_rfm", "q_pmi", "q_char_entropy", "q_ngram_diversity",
      // round-8 wave 7: OOV (two scans + bounded vocab kernel), Zipf
      // (vocab-sized agg + bounded top-K window), readability (pure
      // projection), prefix clusters (bounded-prefix hash agg), daily
      // anomalies (events collapse to the days×types profile before any
      // window), session stats (one user-key exchange), and A/B lift
      // (one user-key agg + 2-row rollup)
      "q_oov_rate", "q_zipf", "q_readability", "q_prefix_dedup",
      "q_anomaly_days", "q_session_stats", "q_ab_lift",
      // round-8 wave 8: the chi-square join runs on the groups×vocab table
      // (vocab grows linearly under per-copy suffixing) and the exact
      // Jaccard join's candidate fan-out is bounded by rare-prefix buckets
      // (the copy generator keeps cross-copy similarity sub-threshold, so
      // candidates must grow ~linearly with the corpus)
      "q_chi2_terms", "q_jaccard_join",
      // round-8 wave 9: the fertility words join (word table grows with
      // vocabulary), the silhouette kernel scan (one k-row agg), and the
      // bounded covariance agg (driver fetch fixed at d(d+3)/2 rows)
      "q_fertility", "q_silhouette", "q_pca_top", "q_pca_project",
      // one corpus agg -> |strata| rows; windows on the tiny frame only
      "q_neyman",
      // broadcast quota join + one stratum-key rank window
      "q_neyman_sample",
      // NB score (vocab-bounded train + broadcast inference) + ONE
      // group-keyed sort window + |groups|-row agg
      "q_auc",
      // round 9: the iterative/driver-loop shapes, where a scale cliff
      // would hide from single-pass soaks — PageRank's per-iteration
      // co-partitioned join + agg over the kNN graph (5 fixed rounds, each
      // one action), k-center's k map-side scans + 1-row fetch per round,
      // and real BPE training's per-merge pair-count shuffle + 4-row argmax
      // (merge count fixed; the DISTINCT-WORD table grows sublinearly)
      "q_centrality", "q_kcenter", "q_bpe_train",
      // round 9: the HLL stickiness twin — register rows, not users, must
      // move (the exact q_stickiness soaked 25.5x at 100x; this one's
      // shuffle is bounded at 64 rows per (week[,day]) key)
      "q_stickiness_hll",
      // round 9: the scale-path variants — the sampled coreset must be
      // one-scan-then-constant (the draw is the only corpus-sized work),
      // and the collapsed tau-join's extra hash-agg must not change the
      // prefix ladder's linear-candidates shape
      "q_kcenter_sampled", "q_jaccard_collapsed",
      // round 10: the tuning histogram — rep-collapsed candidates + pair
      // multiplicity arithmetic must keep it linear like the pipeline
      // (q_lsh_recall and q_selfbleu are NOT soaked: their ground truth is
      // all-pairs on deterministically CAPPED slices, constant-size by
      // construction) — and the one-exchange burstiness profile (the copy
      // generator adds USERS, so the user-key window must scale linearly)
      "q_dedup_curve", "q_burstiness",
      // round-10 waves B/C: BM25 (the (doc,term) tf shuffle grows linearly;
      // the query-term broadcast and TakeOrdered stay constant), novelty
      // (gram-keyed min agg + join back — the line-dedup shape), KS drift
      // (ONE (group,value) shuffle; the |groups|²-bounded pair stage runs
      // on the profile table), seasonality (≤|types|·168 agg rows at any
      // event count), the histogram percentiles twin (the whole point:
      // hash-agg, not per-group sort), and the blocked fuzzy join (collapse
      // + pigeonhole blocks + df-cap must keep candidates linear under the
      // copy generator's exact-clique structure)
      // (q_rrf / q_rank_eval are NOT soaked: every stage is k-bounded by
      // construction — there is nothing corpus-sized to scale)
      "q_bm25", "q_novelty", "q_ks_drift", "q_seasonality",
      "q_percentiles_hist", "q_fuzzy_join",
      // ingest novelty: the history gram table grows with the corpus, so
      // the gram-keyed left join is the scaling stage (the batch side is a
      // fixed third of docs under the copy generator)
      "q_novelty_incremental",
      // wave E: the user-table rank sort (users scale under the copy
      // generator), the distinct week-user self-join, and the map-side
      // windowed pair generation feeding vocab-keyed count aggs
      "q_user_concentration", "q_churn", "q_skipgram",
      // NB vocab train + broadcast score + ONE doc-table rank
      "q_calibration",
      // the rank-free Lorenz twin: windows over the bounded count histogram
      "q_concentration_profile",
      // round 11: the indel-complete ER (segment x 7-shifted-window blocking
      // multiplies blocking rows by a CONSTANT; df-caps must keep candidate
      // fan-out linear under the copy generator's exact-clique prefixes),
      // the incremental ANN probe (index build is one map-side assignment
      // pass; probes touch only probed cells), the cross-format perceptual
      // dedup (decode-bound scan, 3 slices per doc), and the Unicode text
      // path (pure map-side kernel scans; q_unicode_tokens carries the one
      // interpreted HOF in the book — its scan cost is the thing to watch)
      "q_fuzzy_join_indel", "q_ann_incremental", "q_image_dedup_png",
      "q_lang_script", "q_unicode_tokens",
      // round 12: the k ∝ N incremental-ANN row self-sizes its quantizer
      // from the history count (k = Nh/16), so the soak measures the
      // constant-occupancy regime directly (the round-11 soak extra did
      // this by hand; the query now IS that regime); and the JPEG
      // cross-format dedup (decode-bound scan, 2 slices per doc, mosaic
      // rasters are 8x the BMP family's pixel count)
      "q_ann_incremental_kscaled", "q_image_dedup_jpeg",
      // round 13: the fully distributed k ∝ N model (fine centroids live in
      // a DataFrame; assignment is a co-partitioned join — the soak checks
      // the join-based Lloyd stays in the kscaled row's sublinear band),
      // the batched BPE trainer (merge count fixed, ~1/3 the shuffles of
      // q_bpe_train), and the rank-free calibration twin (windows over the
      // bounded score histogram only)
      "q_ann_incremental_dist", "q_bpe_train_batched", "q_calibration_hist")

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scale = sys.env.getOrElse("SPARK_GRAFT_SOAK_SCALE", "10").toInt
    // Planted-clique stress (round 10): SPARK_GRAFT_SOAK_CLIQUE=N appends N
    // byte-identical copies of one base document to the scaled corpus. The
    // regular soak corpora are clique-FREE by construction (per-copy token
    // suffixing), so the dedup family's hot-key guards rested on unit specs
    // alone; this mode proves them at scale — a defused clique keeps ratios
    // comparable to the clique-free run, an undefused one goes quadratic.
    val clique = sys.env.getOrElse("SPARK_GRAFT_SOAK_CLIQUE", "0").toInt
    // scale-suffixed default: the _DONE marker is per-directory, so a shared
    // dir would silently serve 10x data to a scale-100 run (round-6 bite);
    // clique corpora get their own suffix for the same reason
    val soakDir = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR",
      if (clique > 0) s"target/soak/scale${scale}c$clique" else s"target/soak/scale$scale")
    // Optional subset (comma-separated names): adjudicate or extend a prior
    // recorded run without re-timing all ~50 queries (mirrors
    // SPARK_GRAFT_BENCH_ONLY). The two k-scaled extras only run on full
    // sweeps or when named explicitly. Parsed (and a typo'd name rejected)
    // BEFORE the expensive generate/warm phases.
    val extras = Seq("q_semdedup_kscaled", "q_ann_inc_kscaled_hiertrain")
    val only = Harness.only("SPARK_GRAFT_SOAK_ONLY", SoakQueries ++ extras)
    val selected = only.filterNot(extras.contains)
    val spark = Harness.session()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    if (!Files.exists(Paths.get(soakDir, "_DONE"))) {
      System.err.println(s"[soak] generating ${scale}x data into $soakDir" +
        (if (clique > 0) s" with a planted $clique-copy clique ..." else " ..."))
      generate(spark, baseDir, soakDir, scale, clique)
      Files.writeString(Paths.get(soakDir, "_DONE"), s"$scale c$clique")
    }

    // Warm-up (JIT + codegen caches) so base-vs-soak ratios compare steady
    // state against steady state, not cold JVM against warm.
    for (name <- selected)
      try { Harness.run(spark, name, baseDir); () } catch { case _: Throwable => }

    val load0 = Harness.loadavg

    // Min of `reps` timings per measurement: this host shows sporadic
    // heavy external CPU steal (identical runs swing 5-10x), and a ratio
    // of two single noisy samples is noise squared. The minimum is the
    // contention-free estimate — same self-adjudication Bench.scala uses
    // for the headline number.
    val reps = sys.env.getOrElse("SPARK_GRAFT_SOAK_REPS", "2").toInt
    /** One soak row: `run(dir, k)` timed at the base and the soak scale;
      * `k` is 32 at the base and 32·scale at the soak (the k ∝ N extras). */
    def soakRow(name: String)(run: (String, Int) => (Double, Long)) = {
      val (bs, brows) = Harness.minOf(reps)(run(baseDir, 32))
      val (ss, srows) = Harness.minOf(reps)(run(soakDir, 32 * scale))
      val ratio = ss / bs
      System.err.println(
        f"[soak] $name%-18s base ${bs}%6.2fs ($brows%d rows)  soak ${ss}%6.2fs ($srows%d rows)  ratio ${ratio}%5.2fx")
      (name, bs, brows, ss, srows, ratio)
    }

    val rows0 = selected.map(name => soakRow(name)((dir, _) => Harness.run(spark, name, dir)))

    // SemDeDup soaks with k PROPORTIONAL to the corpus (the paper's regime:
    // cluster count tracks N, so per-cluster occupancy — and the bounded
    // quadratic within each cluster — stays constant). A fixed k under 10x
    // data would measure the known quadratic on purpose-missized clusters,
    // not the operator's scaling design.
    val rows = if (!only.contains("q_semdedup_kscaled")) rows0 else rows0 :+ {
      // hierAssign: flat nearest-centroid is O(N·k) per pass — with k ∝ N
      // that's the hidden quadratic; two-level routing is O(N·sqrt(k))
      def semdedup(dir: String, k: Int): (Double, Long) = Harness.timedQuery(
        graft.sim.Similarity.semDedup(
            spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
            k = k, iters = 2, threshold = 0.42, hierAssign = true)
          .queryExecution.toRdd.count())
      semdedup(baseDir, 32) // warm
      soakRow("q_semdedup_kscaled")(semdedup)
    }

    // Incremental-ANN k ∝ N regime (round 11): the plain q_ann_incremental
    // soak (fixed k=32 with a corpus-scaled batch) measured 126x at 100x —
    // the fixed-k fan-in quadratic (|batch|·N/k candidates), on purpose the
    // wrong regime. The scale path keeps per-cell occupancy constant
    // (k = 32·scale) and hier-routes BOTH sides (O(√k) per row, probes
    // co-partition-join instead of broadcasting).
    val rows2 = if (!only.contains("q_ann_inc_kscaled_hiertrain")) rows else rows :+ {
      import org.apache.spark.sql.functions.col
      def annInc(dir: String, k: Int): (Double, Long) = Harness.timedQuery {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val history = emb.where(col("vec_id") % 3 =!= 0)
        val batch = emb.where(col("vec_id") % 3 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val cents = graft.sim.Similarity.ivfTrainKMeans(
          history, "vec_id", "embedding", k, iters = 2, hierAssign = true)
        val index = graft.sim.Similarity.ivfIndex(
          cents, history, "vec_id", "embedding", hierAssign = true)
        graft.sim.Similarity.ivfProbeIndexHier(
            cents, index, batch, "vec_id", "qid", "qv", k = 5)
          .queryExecution.toRdd.count()
      }
      annInc(baseDir, 32) // warm
      // renamed in round 12: the official q_ann_incremental_kscaled row now
      // rides SoakQueries (flat-trained, k = Nh/16); this hand-rolled extra
      // keeps the hierAssign-TRAINED variant (k = 32*scale) under watch
      soakRow("q_ann_inc_kscaled_hiertrain")(annInc)
    }

    val qjson = rows2.map { case (n, bs, br, ss, sr, r) =>
      s""""$n":{"base_s":$bs,"base_rows":$br,"soak_s":$ss,"soak_rows":$sr,"ratio":$r}"""
    }.mkString("{", ",", "}")
    val worst = rows2.map(_._6).max
    val cliqueJson = if (clique > 0) s""","clique":$clique""" else ""
    val line =
      s"""{"metric":"soak_worst_ratio","value":$worst,"unit":"x","scale":$scale$cliqueJson,"reps":$reps,"stat":"min","queries":$qjson,"base":${Harness.jsonString(baseDir)},"loadavg_start":"$load0","loadavg_end":"${Harness.loadavg}"}"""
    println(line)
    Files.writeString(Paths.get("soak.json"), line + "\n")
    spark.stop()
  }

  /** One copy per c in [0, scale): ids offset by c*10M; text tokens get a
    * per-copy suffix (distinct shingles/tokens across copies → near-dup and
    * LSH workload grows linearly, not quadratically); embeddings get a
    * per-copy deterministic nudge (distinct vectors, same geometry); events
    * get fresh user keys per copy (model-parallel scaling: MORE series, not
    * longer ones — the reference's scaling axis). */
  private def generate(spark: SparkSession, baseDir: String, outDir: String,
      scale: Int, clique: Int = 0): Unit = {
    val off = 10000000L

    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until scale).map(c => f(df, c)).reduce(_ unionAll _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(s"[soak]   wrote $name")
    }

    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val scaledDocs = copies(docs) { (d, c) =>
      if (c == 0) d
      else d.select(
        (col("doc_id") + c * off).as("doc_id"),
        // suffix every token: copy c shares no shingles with copy c' != c
        regexp_replace(col("text"), "([A-Za-z0-9]+)", s"$$1x$c").as("text"),
        col("lang"), col("source"),
        length(regexp_replace(col("text"), "([A-Za-z0-9]+)", s"$$1x$c")).cast("long").as("n_chars"))
    }
    // planted clique: N byte-identical copies of one long base doc, ids in
    // a reserved range far above every copy offset. NB the near-dup corpus
    // construction (PipelineQueries.nearDupCorpus) also truncates each doc,
    // so the dedup queries see TWO N-cliques linked into one 2N component —
    // a strictly harder stress than N identical rows.
    write(
      if (clique <= 0) scaledDocs
      else {
        val base = docs.where(col("n_chars") > 400).orderBy(col("doc_id")).limit(1)
        val planted = base.crossJoin(
            spark.range(clique).select((col("id") + 900000000L).as("_cid")))
          .select(col("_cid").as("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))
        scaledDocs.unionAll(planted)
      }, "documents")

    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    write(copies(emb) { (e, c) =>
      if (c == 0) e
      else e.select(
        (col("vec_id") + c * off).as("vec_id"),
        transform(col("embedding"),
          x => (x * (lit(1.0f) + lit(c) * lit(0.003f)) + lit(c) * lit(0.0011f)).cast("float"))
          .as("embedding"),
        col("label"))
    }, "embeddings")

    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    write(copies(ev) { (e, c) =>
      if (c == 0) e
      else e.select(
        (col("event_id") + c * off).as("event_id"), col("ts"),
        (col("user_id") + c * off).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")

    val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
    write(copies(li) { (l, c) =>
      if (c == 0) l
      else l.select(
        (col("l_orderkey") + c * off).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"),
        expr(s"timestampadd(MILLISECOND, $c, l_shipdate)").as("l_shipdate"))
    }, "lineitem")

    val ord = spark.read.parquet(s"$baseDir/orders.parquet")
    write(copies(ord) { (o, c) =>
      if (c == 0) o
      else o.select(
        (col("o_orderkey") + c * off).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        expr(s"timestampadd(MILLISECOND, $c, o_orderdate)").as("o_orderdate"),
        col("o_orderpriority"))
    }, "orders")
  }
}
