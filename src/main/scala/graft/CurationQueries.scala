package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.MinHashLSH
import graft.operators.CorpusStats
import graft.sim.{ProductQuantizer, Similarity}
import graft.text.TextFunctions

/**
 * Round-6 curation-operator wave: text canonicalization, corpus profiling
 * (log2 length histogram, rollup domain profile, bigram surprisal), the
 * k-NN graph, an LSH-estimate-vs-exact audit, and product-quantization ANN.
 *
 * Same contract discipline as PipelineQueries: every query integer-exact or
 * fixed-op-order IEEE, every oracle a DuckDB replay of the identical
 * arithmetic, no UDFs, no driver-side loops (the only collects are k-row
 * codebook fetches, as in the IVF path).
 */
object CurationQueries {

  import Tables.t

  // =================================================================== queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_text_normalize" -> ((s, dir) => {
      // canonical bytes (dedup pre-step): verified by md5 + length, so a
      // one-char divergence anywhere in any doc fails the gate
      val norm = TextFunctions.normalize(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), md5(norm).as("norm_md5"),
          length(norm).cast("long").as("n_chars_norm"))
        .orderBy(col("doc_id"))
    }),

    "q_length_hist" -> ((s, dir) => {
      // per-language log2-bucketed length histogram: bucket = bit length of
      // n_chars (floor(log2)+1) — pure integer, one hash aggregation
      t(s, dir, "documents")
        .withColumn("bucket",
          when(col("n_chars") > 0, length(bin(col("n_chars")))).otherwise(lit(0)).cast("long"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("bucket"))
    }),

    "q_domain_profile" -> ((s, dir) => {
      // source × lang curation dashboard in ONE pass via ROLLUP: leaf rows,
      // per-source subtotals and the grand total share the partial
      // aggregates (Spark expands grouping sets map-side; one shuffle)
      t(s, dir, "documents")
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("n_docs"), col("sum_chars"), col("min_chars"), col("max_chars"))
        .orderBy(col("source"), col("lang"))
    }),

    "q_contaminated_by" -> ((s, dir) => {
      // contamination attribution: which eval doc hit each flagged training
      // doc, and by how many shared 5-grams (the review table behind any
      // drop decision). Same eval set as q_decontaminate.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val eval = docs.where(pmod(col("doc_id"), lit(50)) === 0)
      graft.operators.Decontamination.attribution(docs, eval, "doc_id", "text", 5)
        .orderBy(col("doc_id"), col("eval_id"))
    }),

    "q_canon_dedup" -> ((s, dir) => {
      // the normalize→dedup composition: copies that differ only by case/
      // padding are invisible to byte-exact dedup and collapse after
      // canonicalization. Inject an upper-cased and a whitespace-padded
      // variant of every doc; each content must form one 3-variant group.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs
        .unionAll(docs.select((col("doc_id") + 2500000000L).as("doc_id"),
          upper(col("text")).as("text")))
        .unionAll(docs.select((col("doc_id") + 2000000000L).as("doc_id"),
          concat(lit("  "), col("text"), lit("   ")).as("text")))
      corpus.select(col("doc_id"), md5(TextFunctions.normalize(col("text"))).as("canon_hash"))
        .groupBy(col("canon_hash"))
        .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("canonical_id"))
        .orderBy(col("canon_hash"))
    }),

    "q_bigram_surprisal" -> ((s, dir) => {
      CorpusStats.bigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "q_knn_graph" -> ((s, dir) => {
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 3, planes = 5, dim = 64)
        .orderBy(col("src"), col("rank"))
    }),

    "q_knn_graph_auto" -> ((s, dir) => {
      // production variant: planes sized from the corpus so bucket
      // occupancy stays constant as data grows. The plane count is exact
      // integer arithmetic (Similarity.autoPlanes), so the oracle replays
      // it in SQL — GREATEST(3, length(bin(N-1)) - 4) — and the variant is
      // value-exact-checkable despite being data-dependent.
      Similarity.knnGraphAuto(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 3, dim = 64)
        .orderBy(col("src"), col("rank"))
    }),

    "q_minhash_audit" -> ((s, dir) => {
      // estimator calibration: for every LSH candidate pair, the signature
      // agreement count (32·Ĵ) NEXT TO the exact intersection/union — the
      // query you run before trusting a MinHash threshold on a new corpus.
      // One signature projection feeds both the banding and the audit.
      val corpus = PipelineQueries.nearDupCorpus(s, dir)
      val lsh = new MinHashLSH(32, 8, 3)
      val sigs = lsh.signatures(corpus, "doc_id", "text")
      val bands = sigs.select(col("doc_id"), explode(array((0 until 8).map { bIdx =>
        struct(lit(bIdx).as("band"),
          concat_ws("_", (0 until 4).map(r => col("sig")(bIdx * 4 + r)): _*).as("bucket"))
      }: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      val cand = bands.select(col("doc_id").as("a"), col("band"), col("bucket"))
        .join(bands.select(col("doc_id").as("b"), col("band"), col("bucket")),
          Seq("band", "bucket"))
        .where(col("a") < col("b")).select("a", "b").distinct()
      val sa = sigs.select(col("doc_id").as("a"), col("sig").as("siga"), col("sset").as("seta"))
      val sb = sigs.select(col("doc_id").as("b"), col("sig").as("sigb"), col("sset").as("setb"))
      val inter = size(array_intersect(col("seta"), col("setb")))
      cand.join(sa, Seq("a")).join(sb, Seq("b"))
        .select(col("a"), col("b"),
          aggregate(
            zip_with(col("siga"), col("sigb"), (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), _ + _).as("n_eq_sig"),
          inter.cast("long").as("n_inter"),
          (size(col("seta")) + size(col("setb")) - inter).cast("long").as("n_union"))
        .orderBy(col("a"), col("b"))
    }),

    "q_ann_ivfpq" -> ((s, dir) => {
      // the billion-vector composition (FAISS IVFADC layout): the SAME
      // coarse quantizer q_ann_ivf trains routes queries to nprobe cells,
      // the SAME PQ codebooks q_ann_pq trains score only those cells'
      // codes, exact floats rerank a 50-row shortlist
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val coarse = Similarity.ivfTrainKMeans(emb, "vec_id", "embedding", 32, iters = 2)
      val cbs = ProductQuantizer.train(emb, "vec_id", "embedding",
        dim = 64, m = 8, k = 32, iters = 2)
      ProductQuantizer.ivfPqTopK(coarse, cbs, emb, q, "vec_id", "embedding", "qid", "qv",
          dim = 64, k = 10, nprobe = 4, shortlist = 50)
        .orderBy(col("qid"), col("rank"))
    }),

    "q_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // m=8 × k=32 with a 100-row exact-rerank shortlist: ≥0.9 recall@10 on
      // the synthetic (near-random, hence PQ-hostile) embeddings
      val cbs = ProductQuantizer.train(emb, "vec_id", "embedding",
        dim = 64, m = 8, k = 32, iters = 2)
      ProductQuantizer.adcTopK(cbs, emb, q, "vec_id", "embedding", "qid", "qv",
          dim = 64, k = 10, shortlist = 100)
        .orderBy(col("qid"), col("rank"))
    }),

    "q_semantic_decontaminate" -> ((s, dir) => {
      // embedding-space decontamination: corpus vectors within cosine 0.99
      // of ANY eval vector are flagged with their best eval match — catches
      // the paraphrase/re-tokenization leaks that 5-gram overlap misses.
      // Enrichment plants copies of every 3rd eval vector in the corpus
      // (ids +2100000000), so the flag set is non-empty and deterministic.
      // Eval broadcasts; the threshold filter is map-side on the one
      // corpus scan — only the contaminated sliver shuffles.
      val e = t(s, dir, "embeddings")
      val ev = e.where(col("vec_id") < 30)
        .select(col("vec_id").as("eval_id"), col("embedding"))
      val corpus = e.where(col("vec_id") >= 30)
        .select(col("vec_id"), col("embedding"))
        .unionAll(e.where(col("vec_id") < 30 && pmod(col("vec_id"), lit(3)) === 0)
          .select((col("vec_id") + 2100000000L).as("vec_id"), col("embedding")))
      Similarity.semanticContamination(corpus, ev,
          "vec_id", "embedding", "eval_id", "embedding", threshold = 0.99)
        .orderBy(col("vec_id"))
    }),

    "q_blocklist" -> ((s, dir) => {
      // policy/blocklist filtering: per-pattern document and occurrence
      // counts via ONE Aho-Corasick walk per doc (the automaton rides as a
      // codegen reference object) — vs the naive |patterns| locate passes
      // per row. Patterns are borderless (no proper prefix = suffix), so
      // occurrences cannot self-overlap and a replace-based engine counts
      // them identically — the DuckDB-replayability contract.
      val k = graft.text.Blocklist.kernel(blocklistPatterns)
      t(s, dir, "documents")
        .select(posexplode(graft.text.Blocklist.counts(col("text"), k))
          .as(Seq("pid", "cnt")))
        .groupBy(col("pid"))
        .agg(count(when(col("cnt") > 0, 1)).as("n_docs"),
          sum(col("cnt")).as("n_hits"))
        .select(
          element_at(typedLit(blocklistPatterns), col("pid") + 1).as("pattern"),
          col("n_docs"), col("n_hits"))
        .orderBy(col("pattern"))
    }),

    "q_moments" -> ((s, dir) => {
      // single-pass per-source raw-moment profile of doc length: the
      // mergeable-sketch distribution-shape answer (one agg shuffle) next
      // to q_percentiles' exact-but-sorted order statistics.
      CorpusStats.moments(t(s, dir, "documents"), "source", "n_chars")
    }),

    "q_centrality" -> ((s, dir) => {
      // document centrality for representative selection: integer-exact
      // PageRank (5 power iterations, micro-scaled int64 arithmetic — no
      // libm, no FP fold order) over the kNN similarity graph. The graph
      // uses the AUTO-sized LSH (planes from N, like q_knn_graph_auto):
      // fixed planes=5 soaked 252x at 100x data — constant bucket count
      // under growing N is the textbook hidden quadratic, and exactly the
      // cliff the iterative-shape soak enrollment was meant to catch.
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.knnGraphAuto(emb, "vec_id", "embedding",
          k = 3, dim = 64)
        .select(col("src"), col("nbr"))
      graft.sim.GraphRank.pageRankTop(emb.select(col("vec_id")), edges,
        "vec_id", "src", "nbr", iters = 5, k = 20)
    }),

    "q_pmi" -> ((s, dir) => {
      // phrase mining: top-40 bigram collocations by staged-integer
      // pointwise lift (exact at 100 TB token totals — see
      // CorpusStats.pmiCollocations for the DECIMAL(38,0) staging bound).
      // Count-table joins only; TakeOrderedAndProject top-k.
      CorpusStats.pmiCollocations(t(s, dir, "documents"), "doc_id", "text",
        minCount = 5L, k = 40)
    }),

    "q_skipgram" -> ((s, dir) => {
      // windowed (±2) co-occurrence lift — the skip-gram/GloVe counting
      // statistic: canonical unordered pairs from a PURE MAP-SIDE nested
      // transform (no per-doc self-join), then the q_pmi count-table plan.
      CorpusStats.skipgramLift(t(s, dir, "documents"), "doc_id", "text",
        window = 2, minCount = 5L, k = 30)
    }),

    "q_char_entropy" -> ((s, dir) => {
      // vocabulary-free gibberish/boilerplate signal: quantized per-doc
      // character entropy (millibits/char, exact bit-length arithmetic).
      CorpusStats.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "q_ngram_diversity" -> ((s, dir) => {
      // template-detection dashboard: per-source distinct 1/2/3-gram
      // counts and type-token ratios; trigram TTR collapse = templated
      // source, unigram TTR explosion = gibberish source.
      CorpusStats.ngramDiversity(t(s, dir, "documents"), "source", "text")
    }),

    "q_oov_rate" -> ((s, dir) => {
      // vocabulary-coverage check: per-source OOV permille against the
      // corpus' own top-2048 vocabulary (bounded model + O(log V) codegen
      // probe — the NB-classifier broadcast pattern).
      CorpusStats.oovRate(t(s, dir, "documents"), "source", "text", 2048)
    }),

    "q_zipf" -> ((s, dir) => {
      // corpus-health plot: term frequency at power-of-two ranks with exact
      // floor-log2 bits — a healthy corpus loses ~1 bit per rank doubling.
      CorpusStats.zipfProfile(t(s, dir, "documents"), "text", 1024)
    }),

    "q_readability" -> ((s, dir) => {
      // integer Flesch-style readability per doc (vowel-group syllable
      // proxy): the standard curation gate, zero shuffles, pure projection.
      CorpusStats.readability(t(s, dir, "documents"), "doc_id", "text")
    }),

    "q_prefix_dedup" -> ((s, dir) => {
      // boilerplate-head detector: clusters of docs sharing their first 16
      // word tokens — one md5-prefix hash aggregation, the exact-dedup shape.
      graft.dedup.ExactDedup.prefixClusters(
        t(s, dir, "documents"), "doc_id", "text", 16)
    }),

    "q_selfbleu" -> ((s, dir) => {
      // synthetic-data diversity probe (the Self-BLEU shape): per doc, the
      // MAX word-4-gram containment vs any OTHER doc in a deterministically
      // CAPPED slice (ids < 15000 ∧ ≡0 mod 23 — ground truth is all-pairs
      // by nature, so the slice, never the corpus, bounds the work; same
      // contract as q_lsh_recall). Decile histogram of that max: mass at
      // high overlap = mode collapse / templated generations — the check a
      // synthetic-data pipeline runs before training on its own output.
      // The slice comes from the near-dup corpus (originals + truncated
      // copies) so the histogram exercises the full overlap range.
      val baseId = pmod(col("doc_id"), lit(100000L))
      val docs = PipelineQueries.nearDupCorpus(s, dir)
        .where(baseId < 15000L && pmod(baseId, lit(23)) === 0)
      CorpusStats.selfOverlapHistogram(docs, "doc_id", "text", 4)
    }),

    "q_chi2_terms" -> ((s, dir) => {
      // per-source chi-square discriminative vocabulary: top-10 terms whose
      // document presence most separates the source from the rest of the
      // corpus — staged-integer x^2, stopword prune, groups x vocab windows.
      CorpusStats.chi2Terms(t(s, dir, "documents"), "source", "text", 10)
    }),

    "q_jaccard_join" -> ((s, dir) => {
      // EXACT Jaccard >= 0.7 set-similarity self-join via prefix filtering:
      // candidates share a rare-first prefix element, verify is exact —
      // zero missed pairs, the deterministic complement to MinHash LSH.
      // Elements are word TRIGRAM shingles (the classic w-shingling width):
      // this corpus's unigram vocabulary is so small that ~40% of ALL pairs
      // are unigram-τ-similar (a correct but Ω(N²)-output workload) and even
      // bigram prefixes land in a 574-shingle vocabulary (9M candidates);
      // trigram sets restore the real near-dup structure — same 256 planted
      // pairs at sf0.1, 209k candidates, max prefix bucket 9.
      graft.dedup.PrefixFilterJoin.jaccardPairs(
        t(s, dir, "documents"), "doc_id", "text", 700L, shingle = 3)
    }),

    "q_kcenter" -> ((s, dir) => {
      // diversity coreset: greedy farthest-first k-center (Gonzalez) over
      // the embeddings — the diverse-selection complement to
      // q_centrality's representative selection. k map-side-scan rounds
      // against a single literal center each; deterministic via rounded
      // sims + id tiebreaks, so the DuckDB oracle replays the trajectory.
      graft.sim.KCenter.farthestFirst(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 6)
    }),

    "q_kcenter_sampled" -> ((s, dir) => {
      // the LARGE-k coreset path: the exact greedy walk costs k full
      // corpus scans (farthestFirst refuses k > 512 for that reason), so
      // production coresets select WITHIN a deterministic bottom-s-by-md5
      // sample — one corpus scan + O(k·s) bounded-frame rounds. Sampling
      // key is the same mergeable md5 order every split/cap operator uses,
      // so the oracle replays both the draw and the trajectory.
      graft.sim.KCenter.farthestFirstSampled(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 6, sampleSize = 64)
    }),

    "q_jaccard_collapsed" -> ((s, dir) => {
      // the hot-key-safe exact τ-join: byte-identical shingle SETS collapse
      // to one representative (+ multiplicity) BEFORE prefix indexing — a
      // 10k-copy clique's (10k choose 2) pairs are quadratic in the RAW
      // join's answer itself, so the scalable recipe joins distinct
      // contents and carries copy counts. Corpus plants exact copies of
      // every 10th doc to exercise the collapse.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.unionAll(d.where(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 2400000000L).as("doc_id"), col("text")))
      graft.dedup.PrefixFilterJoin.jaccardPairsCollapsed(
          corpus, "doc_id", "text", 700L, shingle = 3)
        .orderBy(col("a"), col("b"))
    })
  )

  /** Borderless corpus phrases for q_blocklist (see the query comment). */
  private[graft] val blocklistPatterns: Seq[String] = Seq(
    "batch scan", "customer join", "filter small", "merge group",
    "part filter", "slow key", "table hash", "vector")

  // =================================================================== oracles

  import PipelineQueries.{cosineSql, duckShingleSet, duckToks, lshBucketSql,
    lshBucketDynSql, minhashBandSelects, minhashSigSql, nearDupCorpusSql}

  /** DuckDB replay of TextFunctions.normalize — same fixed op order, all
    * patterns in the Java-regex ∩ RE2 common subset, 'g' flags throughout. */
  private def duckNormalize(te: String): String = {
    val base = s"trim(regexp_replace(lower($te), '\\s+', ' ', 'g'))"
    Seq(("\\.", "."), ("!", "!"), ("\\?", "?"), ("-", "-")).foldLeft(base) {
      case (acc, (pat, rep)) => s"regexp_replace($acc, '$pat{2,}', '$rep', 'g')"
    }
  }

  /**
   * Sub-vector Lloyd replay for PQ subspace `s` (mirrors
   * Similarity.ivfTrainKMeans on the sliced corpus: LCG-sampled init
   * re-keyed 0..k-1, cosine argmax assignment with smallest-cell tie-break,
   * scaled-integer means). Emits CTEs prefixed s$s, ending with s${s}cf
   * (final centroids) and s${s}codes (per-vector final cell).
   */
  private def pqKmeansCtes(s: Int, ds: Int, k: Int, iters: Int): String = {
    val p = s"s$s"
    val sub = s"list_transform(list_slice(embedding, ${s * ds + 1}, ${s * ds + ds}), v -> CAST(v AS DOUBLE))"
    val base =
      s"""${p}sub AS (
         |  SELECT vec_id, $sub AS sub FROM embeddings
         |)""".stripMargin
    def assign(centsCte: String, name: String): String =
      s"""$name AS (
         |  SELECT vec_id, sub, cell FROM (
         |    SELECT e.vec_id, e.sub, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosineSql("e.sub", "c.cvec")} DESC, c.cid ASC) AS rk
         |    FROM ${p}sub e CROSS JOIN $centsCte c) WHERE rk = 1
         |)""".stripMargin
    def means(cellsCte: String, name: String): String = {
      val sums = (0 until ds).map { d =>
        s"CAST(sum(CAST(floor(CAST(sub[${d + 1}] AS DOUBLE)*65536.0E0 + 0.5E0) AS BIGINT)) AS DOUBLE) / (CAST(count(*) AS DOUBLE)*65536.0E0)"
      }.mkString(",\n      ")
      s"""$name AS (
         |  SELECT cell, [
         |      $sums] AS mean
         |  FROM $cellsCte GROUP BY cell
         |)""".stripMargin
    }
    def refresh(prevCents: String, meansCte: String, name: String): String =
      s"""$name AS (
         |  SELECT o.cid, CASE WHEN m.cell IS NULL THEN o.cvec ELSE m.mean END AS cvec
         |  FROM $prevCents o LEFT JOIN $meansCte m ON m.cell = o.cid
         |)""".stripMargin
    val init =
      s"""${p}c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY cid) - 1 AS BIGINT) AS cid, cvec
         |  FROM (SELECT vec_id AS cid, sub AS cvec FROM ${p}sub
         |        ORDER BY (1103515245*(vec_id+7)+12345) % 2147483647, vec_id LIMIT $k)
         |)""".stripMargin
    val iterCtes = (0 until iters).flatMap { it =>
      Seq(assign(s"${p}c$it", s"${p}cells$it"), means(s"${p}cells$it", s"${p}m$it"),
        refresh(s"${p}c$it", s"${p}m$it", s"${p}c${it + 1}"))
    }
    ((base +: init +: iterCtes) :+ assign(s"${p}c$iters", s"${p}codes"))
      .mkString(",\n") + s",\n${p}cf AS (SELECT * FROM ${p}c$iters)"
  }

  private def annPqOracle: String = {
    val m = 8
    val kms = (0 until m).map(s => pqKmeansCtes(s, ds = 64 / m, k = 32, iters = 2)).mkString(",\n")
    val codeJoins = (0 until m).map(s => s"JOIN s${s}codes s$s USING (vec_id)").mkString(" ")
    val codeCols = (0 until m).map(s => s"s$s.cell AS code$s").mkString(", ")
    val centJoins = (0 until m).map(s => s"JOIN s${s}cf c$s ON c$s.cid = c.code$s").mkString(" ")
    val reconList = (1 until m).foldLeft("c0.cvec")((acc, s) => s"list_concat($acc, c$s.cvec)")
    s"""WITH $kms,
       |coded AS (
       |  SELECT e.vec_id, $codeCols
       |  FROM embeddings e $codeJoins
       |),
       |recon AS (
       |  SELECT c.vec_id, $reconList AS rv
       |  FROM coded c $centJoins
       |),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |adc AS (
       |  SELECT q.qid, r.vec_id, ROUND(${cosineSql("r.rv", "q.qv")}, 6) AS adc_sim
       |  FROM recon r CROSS JOIN q WHERE r.vec_id != q.qid
       |),
       |shortl AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY adc_sim DESC, vec_id ASC) AS ar
       |    FROM adc) WHERE ar <= 100
       |),
       |rr AS (
       |  SELECT s.qid, s.vec_id, ROUND(${cosineSql("e.embedding", "q.qv")}, 6) AS sim
       |  FROM shortl s JOIN embeddings e ON e.vec_id = s.vec_id JOIN q ON q.qid = s.qid
       |),
       |ranked AS (
       |  SELECT qid, vec_id, sim,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
       |  FROM rr
       |)
       |SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** IVF-PQ replay: the coarse Lloyd CTEs (cf/cellsf — IDENTICAL to the
    * q_ann_ivf oracle) + the 8 PQ sub-replays, probes by query-centroid
    * cosine, ADC over probed cells only, exact rerank of the shortlist. */
  private def annIvfPqOracle: String = {
    val m = 8
    val kms = (0 until m).map(s => pqKmeansCtes(s, ds = 64 / m, k = 32, iters = 2)).mkString(",\n")
    val codeJoins = (0 until m).map(s => s"JOIN s${s}codes s$s USING (vec_id)").mkString(" ")
    val codeCols = (0 until m).map(s => s"s$s.cell AS code$s").mkString(", ")
    val centJoins = (0 until m).map(s => s"JOIN s${s}cf c$s ON c$s.cid = c.code$s").mkString(" ")
    val reconList = (1 until m).foldLeft("c0.cvec")((acc, s) => s"list_concat($acc, c$s.cvec)")
    s"""WITH ${PipelineQueries.kmeansReplayCtes(iters = 2, dim = 64)},
       |$kms,
       |coded AS (
       |  SELECT e.vec_id, cs.cell, $codeCols
       |  FROM embeddings e $codeJoins
       |  JOIN cellsf cs ON cs.vec_id = e.vec_id
       |),
       |recon AS (
       |  SELECT c.vec_id, c.cell, $reconList AS rv
       |  FROM coded c $centJoins
       |),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |probes AS (
       |  SELECT qid, qv, cell FROM (
       |    SELECT q.qid, q.qv, c.cid AS cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosineSql("q.qv", "c.cvec")} DESC, c.cid ASC) AS pr
       |    FROM q CROSS JOIN cf c) WHERE pr <= 4
       |),
       |adc AS (
       |  SELECT p.qid, r.vec_id, ROUND(${cosineSql("r.rv", "p.qv")}, 6) AS adc_sim
       |  FROM recon r JOIN probes p ON r.cell = p.cell WHERE r.vec_id != p.qid
       |),
       |shortl AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY adc_sim DESC, vec_id ASC) AS ar
       |    FROM adc) WHERE ar <= 50
       |),
       |rr AS (
       |  SELECT s.qid, s.vec_id, ROUND(${cosineSql("e.embedding", "q.qv")}, 6) AS sim
       |  FROM shortl s JOIN embeddings e ON e.vec_id = s.vec_id JOIN q ON q.qid = s.qid
       |),
       |ranked AS (
       |  SELECT qid, vec_id, sim,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
       |  FROM rr
       |)
       |SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    "q_ann_ivfpq" -> annIvfPqOracle,

    "q_text_normalize" ->
      s"""WITH n AS (SELECT doc_id, ${duckNormalize("text")} AS nt FROM documents)
         |SELECT doc_id, md5(nt) AS norm_md5, CAST(length(nt) AS BIGINT) AS n_chars_norm
         |FROM n ORDER BY doc_id""".stripMargin,

    "q_length_hist" ->
      """SELECT lang,
        |  CAST(CASE WHEN n_chars > 0 THEN length(bin(n_chars)) ELSE 0 END AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,

    "q_domain_profile" ->
      """SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY ROLLUP (source, lang)
        |ORDER BY source, lang""".stripMargin,

    "q_contaminated_by" ->
      s"""WITH ev AS (
         |  SELECT doc_id AS eval_id, unnest(${duckShingleSet("text", 5)}) AS g
         |  FROM documents WHERE doc_id % 50 = 0
         |),
         |tr AS (
         |  SELECT doc_id, unnest(${duckShingleSet("text", 5)}) AS g FROM documents
         |)
         |SELECT tr.doc_id, ev.eval_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM tr JOIN ev USING (g)
         |GROUP BY 1, 2 ORDER BY doc_id, eval_id""".stripMargin,

    "q_canon_dedup" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2500000000, upper(text) FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000000, '  ' || text || '   ' FROM documents
         |)
         |SELECT md5(${duckNormalize("text")}) AS canon_hash,
         |  CAST(count(*) AS BIGINT) AS n_variants,
         |  CAST(min(doc_id) AS BIGINT) AS canonical_id
         |FROM corpus GROUP BY 1 ORDER BY canon_hash""".stripMargin,

    "q_bigram_surprisal" ->
      s"""WITH toks AS (SELECT doc_id, ${duckToks()} AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
         |    THEN list_transform(range(len(tk) - 1),
         |                        i -> array_to_string(list_slice(tk, i+1, i+2), ' '))
         |    ELSE [] END) AS g
         |  FROM toks),
         |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM grams GROUP BY g),
         |c1 AS (SELECT string_split(g, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1
         |       FROM c2 GROUP BY 1),
         |scored AS (
         |  SELECT doc_id, CAST(length(bin(c1 // c2)) - 1 AS BIGINT) AS bits
         |  FROM grams JOIN c2 USING (g) JOIN c1 ON string_split(g, ' ')[1] = c1.w1),
         |agg AS (SELECT doc_id, count(*) AS n, sum(bits) AS sb FROM scored GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(a.sb, 0) AS BIGINT) AS sum_bits
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q_knn_graph" ->
      s"""WITH b AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", 5, 64)} AS bucket FROM embeddings),
         |pairs AS (
         |  SELECT l.vec_id AS src, r.vec_id AS nbr,
         |         ROUND(${cosineSql("l.embedding", "r.embedding")}, 6) AS sim
         |  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id != r.vec_id
         |),
         |ranked AS (
         |  SELECT src, nbr, sim,
         |         CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, nbr ASC) AS BIGINT) AS rank
         |  FROM pairs
         |)
         |SELECT src, rank, nbr, sim FROM ranked WHERE rank <= 3 ORDER BY src, rank""".stripMargin,

    // Auto-sized replay: the plane count is derived from the corpus size by
    // the SAME exact-integer rule as Similarity.autoPlanes (smallest p with
    // 16·2^p ≥ N  ⟺  GREATEST(3, length(bin(N-1)) - 4) for N ≥ 2), so the
    // oracle is static SQL that adapts to the data. Buckets are built from
    // 16 pre-generated planes with bit j gated on j < planes (16 planes
    // covers N up to 16·2^16 ≈ 1M vectors — far beyond any gate corpus).
    "q_knn_graph_auto" ->
      s"""WITH np AS (
         |  SELECT GREATEST(3, CASE WHEN count(*) < 2 THEN 0
         |                          ELSE length(bin(count(*) - 1)) - 4 END) AS planes
         |  FROM embeddings),
         |b AS (SELECT vec_id, embedding, ${lshBucketDynSql("embedding", 16, 64, "np.planes")} AS bucket
         |      FROM embeddings, np),
         |pairs AS (
         |  SELECT l.vec_id AS src, r.vec_id AS nbr,
         |         ROUND(${cosineSql("l.embedding", "r.embedding")}, 6) AS sim
         |  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id != r.vec_id
         |),
         |ranked AS (
         |  SELECT src, nbr, sim,
         |         CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, nbr ASC) AS BIGINT) AS rank
         |  FROM pairs
         |)
         |SELECT src, rank, nbr, sim FROM ranked WHERE rank <= 3 ORDER BY src, rank""".stripMargin,

    "q_minhash_audit" ->
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
         |cands AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
         |)
         |SELECT c.a, c.b,
         |  CAST(len(list_filter(range(32), i -> sa.sig[i+1] = sb.sig[i+1])) AS BIGINT) AS n_eq_sig,
         |  CAST(len(list_intersect(sa.sset, sb.sset)) AS BIGINT) AS n_inter,
         |  CAST(len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset)) AS BIGINT) AS n_union
         |FROM cands c JOIN sigs sa ON c.a = sa.doc_id JOIN sigs sb ON c.b = sb.doc_id
         |ORDER BY a, b""".stripMargin,

    "q_ann_pq" -> annPqOracle,

    "q_semantic_decontaminate" ->
      s"""WITH ev AS (
         |  SELECT vec_id AS eval_id, embedding AS qv FROM embeddings WHERE vec_id < 30
         |),
         |corpus AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 30
         |  UNION ALL
         |  SELECT vec_id + 2100000000, embedding FROM embeddings
         |  WHERE vec_id < 30 AND vec_id % 3 = 0
         |),
         |scored AS (
         |  SELECT c.vec_id, e.eval_id,
         |    ROUND(${cosineSql("c.embedding", "e.qv")}, 6) AS sim
         |  FROM corpus c CROSS JOIN ev e
         |),
         |hits AS (SELECT * FROM scored WHERE sim >= 0.99),
         |pick AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY sim DESC, eval_id ASC) AS rk
         |  FROM hits
         |)
         |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(eval_id AS BIGINT) AS eval_id, sim
         |FROM pick WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    // patterns are borderless, so non-overlapping replace-counting equals
    // the kernel's all-occurrence Aho-Corasick counting (see the query)
    "q_blocklist" -> {
      val vals = blocklistPatterns.map(p => s"('$p')").mkString(", ")
      s"""WITH pats(pattern) AS (VALUES $vals),
         |c AS (
         |  SELECT p.pattern,
         |    CAST((length(d.text) - length(replace(d.text, p.pattern, '')))
         |         // length(p.pattern) AS BIGINT) AS cnt
         |  FROM documents d CROSS JOIN pats p
         |)
         |SELECT pattern,
         |  CAST(count(CASE WHEN cnt > 0 THEN 1 END) AS BIGINT) AS n_docs,
         |  CAST(sum(cnt) AS BIGINT) AS n_hits
         |FROM c GROUP BY pattern ORDER BY pattern""".stripMargin
    },

    // staged HUGEINT lift replay — same operation order as the Scala
    // DECIMAL(38,0) staging, so the quantized lift matches bit-for-bit
    "q_pmi" ->
      s"""WITH tk AS (SELECT doc_id, ${duckToks()} AS tk FROM documents),
         |toks AS (SELECT unnest(tk) AS tok FROM tk),
         |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY tok),
         |grams AS (
         |  SELECT unnest(CASE WHEN len(tk) >= 2
         |    THEN list_transform(range(len(tk) - 1),
         |                        i -> array_to_string(list_slice(tk, i+1, i+2), ' '))
         |    ELSE [] END) AS g
         |  FROM tk),
         |bigall AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM grams GROUP BY g),
         |big AS (SELECT * FROM bigall WHERE c2 >= 5),
         |tot AS (SELECT (SELECT sum(c1) FROM uni) AS tu,
         |               (SELECT sum(c2) FROM bigall) AS tb)
         |SELECT b.g AS bigram, b.c2 AS n,
         |  u1.c1 AS cw1, u2.c1 AS cw2,
         |  CAST(((CAST(b.c2 AS HUGEINT) * tu // u1.c1)
         |         * tu // u2.c1) * 1000000 // tb AS BIGINT) AS lift_micro
         |FROM big b
         |JOIN uni u1 ON string_split(b.g, ' ')[1] = u1.tok
         |JOIN uni u2 ON string_split(b.g, ' ')[2] = u2.tok
         |CROSS JOIN tot
         |ORDER BY lift_micro DESC, bigram LIMIT 40""".stripMargin,

    "q_skipgram" ->
      s"""WITH tk AS (SELECT doc_id, ${duckToks()} AS tk FROM documents),
         |toks AS (SELECT unnest(tk) AS tok FROM tk),
         |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY tok),
         |grams AS (
         |  SELECT unnest(flatten(list_transform(range(len(tk) - 1),
         |    i -> list_transform(range(i + 1, least(i + 2, len(tk) - 1) + 1),
         |      j -> concat(least(tk[i+1], tk[j+1]), ' ', greatest(tk[i+1], tk[j+1]))))))
         |    AS g
         |  FROM tk WHERE len(tk) >= 2),
         |pairall AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM grams GROUP BY g),
         |surv AS (SELECT * FROM pairall WHERE c2 >= 5),
         |tot AS (SELECT (SELECT sum(c1) FROM uni) AS tu,
         |               (SELECT sum(c2) FROM pairall) AS tp)
         |SELECT b.g AS pair, b.c2 AS n,
         |  u1.c1 AS cw1, u2.c1 AS cw2,
         |  CAST(((CAST(b.c2 AS HUGEINT) * tu // u1.c1)
         |         * tu // u2.c1) * 1000000 // tp AS BIGINT) AS lift_micro
         |FROM surv b
         |JOIN uni u1 ON string_split(b.g, ' ')[1] = u1.tok
         |JOIN uni u2 ON string_split(b.g, ' ')[2] = u2.tok
         |CROSS JOIN tot
         |ORDER BY lift_micro DESC, pair LIMIT 30""".stripMargin,

    "q_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]'))
        |    AS ch
        |  FROM documents),
        |cc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS nc
        |       FROM ch GROUP BY doc_id, ch),
        |w AS (SELECT doc_id, nc,
        |        sum(nc) OVER (PARTITION BY doc_id) AS n
        |      FROM cc),
        |b AS (SELECT doc_id, n, nc,
        |        CAST(length(bin(n // nc)) - 1 AS BIGINT) AS bits
        |      FROM w)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_alnum,
        |  CAST(sum(nc * bits) * 1000 // max(n) AS BIGINT) AS ent_milli
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ngram_diversity" ->
      s"""WITH tk AS (SELECT source, ${duckToks()} AS tk FROM documents),
         |g AS (
         |  SELECT source, n, unnest(CASE WHEN len(tk) >= n
         |    THEN list_transform(range(len(tk) - n + 1),
         |           i -> array_to_string(list_slice(tk, i+1, i+n), ' '))
         |    ELSE [] END) AS gram
         |  FROM tk CROSS JOIN (SELECT unnest([1, 2, 3]) AS n)),
         |c AS (SELECT source, n, gram, count(*) AS c
         |      FROM g GROUP BY source, n, gram)
         |SELECT source, CAST(n AS BIGINT) AS n,
         |  CAST(sum(c) AS BIGINT) AS total,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST(count(*) * 1000 // sum(c) AS BIGINT) AS ttr_milli
         |FROM c GROUP BY source, n ORDER BY source, n""".stripMargin,

    // HUGEINT replays of the same staged-integer chi-square ladder: q1 =
    // |ad-bc|*N*1000 // (dt*(N-dt)), then q1*|ad-bc| // (ds*(N-ds)) —
    // identical op order, identical truncation (all operands non-negative)
    "q_chi2_terms" ->
      s"""WITH tk AS (SELECT source, list_distinct(${duckToks()}) AS tl
         |            FROM documents),
         |pres AS (SELECT source, unnest(tl) AS tok FROM tk),
         |a AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS a
         |      FROM pres GROUP BY 1, 2),
         |dtt AS (SELECT tok, CAST(sum(a) AS BIGINT) AS dt FROM a GROUP BY tok),
         |dss AS (SELECT source, CAST(count(*) AS BIGINT) AS ds
         |        FROM documents GROUP BY source),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |j AS (SELECT a.source, a.tok, a.a, dtt.dt, dss.ds, nn.n
         |      FROM a JOIN dtt USING (tok) JOIN dss USING (source) CROSS JOIN nn
         |      WHERE dtt.dt * 2 <= nn.n AND dss.ds < nn.n),
         |c AS (SELECT source, tok, a, dt,
         |  CAST((abs(CAST(a AS HUGEINT) * (n - ds - dt + a)
         |            - CAST(dt - a AS HUGEINT) * (ds - a)) * n * 1000
         |        // (CAST(dt AS HUGEINT) * (n - dt)))
         |       * abs(CAST(a AS HUGEINT) * (n - ds - dt + a)
         |             - CAST(dt - a AS HUGEINT) * (ds - a))
         |       // (CAST(ds AS HUGEINT) * (n - ds)) AS BIGINT) AS chi2_milli
         |  FROM j),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY source ORDER BY chi2_milli DESC, tok) AS rk
         |      FROM c)
         |SELECT source, tok AS term, a AS n_docs_in, dt AS n_docs_total,
         |  chi2_milli
         |FROM r WHERE rk <= 10 ORDER BY source, chi2_milli DESC, term""".stripMargin,

    // the prefix-filter replay is equivalence, not necessity: prefix
    // filtering has no false negatives, so the verified pair set equals the
    // brute-force tau-join — the CTE ladder just keeps DuckDB off the
    // all-pairs cross product
    "q_selfbleu" ->
      s"""WITH corpus0 AS (
         |${PipelineQueries.nearDupCorpusSql}
         |),
         |corpus AS (
         |  SELECT * FROM corpus0
         |  WHERE (doc_id % 100000) < 15000 AND (doc_id % 100000) % 23 = 0),
         |d AS (SELECT doc_id, ${duckToks()} AS w FROM corpus),
         |g AS (SELECT doc_id, list_distinct(
         |        list_transform(range(1, len(w) - 2),
         |          i -> w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER)+1]
         |               || ' ' || w[CAST(i AS INTEGER)+2]
         |               || ' ' || w[CAST(i AS INTEGER)+3])) AS gs
         |      FROM d WHERE len(w) >= 4),
         |p AS (
         |  SELECT l.doc_id AS a,
         |    CAST(CAST(len(list_intersect(l.gs, r.gs)) AS BIGINT) * 1000
         |      // len(l.gs) AS BIGINT) AS ov
         |  FROM g l JOIN g r ON l.doc_id != r.doc_id),
         |m AS (SELECT a, max(ov) AS max_ov FROM p GROUP BY a)
         |SELECT CAST(max_ov // 100 * 100 AS BIGINT) AS bucket_lo_milli,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_jaccard_join" ->
      s"""WITH wq AS (SELECT doc_id, ${duckToks()} AS w FROM documents),
         |s AS (SELECT doc_id, list_distinct(
         |        list_transform(range(1, len(w) - 1),
         |          i -> w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER)+1]
         |               || ' ' || w[CAST(i AS INTEGER)+2])) AS tset
         |      FROM wq WHERE len(w) >= 3),
         |ex AS (SELECT doc_id, unnest(tset) AS tok FROM s),
         |dfq AS (SELECT tok, count(*) AS df FROM ex GROUP BY tok),
         |rk AS (SELECT ex.doc_id, ex.tok,
         |         row_number() OVER (PARTITION BY ex.doc_id
         |                            ORDER BY dfq.df, ex.tok) AS rn,
         |         count(*) OVER (PARTITION BY ex.doc_id) AS len
         |       FROM ex JOIN dfq USING (tok)),
         |pfx AS (SELECT doc_id, tok FROM rk
         |        WHERE rn <= len - (700 * len + 999) // 1000 + 1),
         |cand AS (SELECT DISTINCT p1.doc_id AS a, p2.doc_id AS b
         |         FROM pfx p1 JOIN pfx p2 USING (tok)
         |         WHERE p1.doc_id < p2.doc_id),
         |v AS (SELECT a, b,
         |        CAST(len(list_intersect(sa.tset, sb.tset)) AS BIGINT)
         |          AS n_inter,
         |        CAST(len(sa.tset) + len(sb.tset)
         |             - len(list_intersect(sa.tset, sb.tset)) AS BIGINT)
         |          AS n_union
         |      FROM cand JOIN s sa ON cand.a = sa.doc_id
         |                 JOIN s sb ON cand.b = sb.doc_id)
         |SELECT a, b, n_inter, n_union,
         |  CAST(n_inter * 1000 // n_union AS BIGINT) AS jaccard_milli
         |FROM v WHERE n_inter * 1000 // n_union >= 700 ORDER BY a, b""".stripMargin,

    // vocab built under the same (count desc, token asc) total order as
    // the Scala TakeOrderedAndProject, so the cut at 2048 is identical
    "q_oov_rate" ->
      s"""WITH tk AS (SELECT doc_id, source, ${duckToks()} AS tk FROM documents),
         |toks AS (SELECT source, unnest(tk) AS tok FROM tk),
         |vocab AS (SELECT tok FROM (
         |  SELECT tok, count(*) AS c FROM toks GROUP BY tok
         |  ORDER BY c DESC, tok LIMIT 2048)),
         |tot AS (
         |  SELECT t.source, CAST(count(*) AS BIGINT) AS total_tokens,
         |    CAST(count(v.tok) AS BIGINT) AS n_in
         |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
         |  GROUP BY t.source),
         |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM documents GROUP BY source)
         |SELECT nd.source, nd.n_docs, tot.total_tokens,
         |  tot.total_tokens - tot.n_in AS oov_tokens,
         |  CAST((tot.total_tokens - tot.n_in) * 1000 // tot.total_tokens
         |    AS BIGINT) AS oov_permille
         |FROM nd JOIN tot ON nd.source = tot.source
         |ORDER BY nd.source""".stripMargin,

    "q_zipf" ->
      s"""WITH tk AS (SELECT ${duckToks()} AS tk FROM documents),
         |toks AS (SELECT unnest(tk) AS tok FROM tk),
         |cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
         |        FROM toks GROUP BY tok),
         |top AS (SELECT tok, freq FROM cnt ORDER BY freq DESC, tok LIMIT 1024),
         |rk AS (SELECT tok, freq,
         |  CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rank
         |  FROM top)
         |SELECT rank, tok AS term, freq,
         |  CAST(length(bin(freq)) - 1 AS BIGINT) AS freq_bits
         |FROM rk WHERE (rank & (rank - 1)) = 0 ORDER BY rank""".stripMargin,

    "q_readability" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    CAST(len(${duckToks()}) AS BIGINT) AS words,
         |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
         |      AS sentences,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
         |      AS syllables
         |  FROM documents)
         |SELECT doc_id, words, sentences, syllables,
         |  CAST(206835 - (1015 * words) // greatest(sentences, 1)
         |       - (84600 * syllables) // words AS BIGINT) AS flesch_milli
         |FROM b WHERE words > 0 ORDER BY doc_id""".stripMargin,

    "q_prefix_dedup" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |    md5(array_to_string(list_slice(${duckToks()}, 1, 16), ' '))
         |      AS prefix_hash
         |  FROM documents)
         |SELECT prefix_hash, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(min(doc_id) AS BIGINT) AS canonical_id
         |FROM p GROUP BY prefix_hash HAVING count(*) > 1
         |ORDER BY prefix_hash""".stripMargin,

    "q_moments" ->
      """WITH m AS (
        |  SELECT source,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS s1,
        |    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2,
        |    CAST(sum(n_chars * n_chars * n_chars) AS BIGINT) AS s3,
        |    sum(CAST(n_chars AS HUGEINT) * n_chars * n_chars * n_chars) AS s4
        |  FROM documents GROUP BY source
        |)
        |SELECT source, n, s1, s2, s3,
        |  CAST(s4 // 1000000 AS BIGINT) AS s4_q6,
        |  CAST(CAST(s1 AS HUGEINT) * 1000000 // n AS BIGINT) AS mean_micro,
        |  CAST((CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1) * 1000000
        |       // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_micro
        |FROM m ORDER BY source""".stripMargin,

    // same kNN-graph CTEs as q_knn_graph, then 5 unrolled integer power
    // iterations (r // deg contributions, damp·S // 1e6 update) — the
    // trajectory is pure int64, so the replay is exact by construction
    "q_centrality" -> {
      val iterCtes = (1 to 5).map { i =>
        s"""s$i AS (
           |  SELECT e.nbr AS vec_id, sum(r.r // e.d) AS s
           |  FROM ed e JOIN r${i - 1} r ON r.vec_id = e.src GROUP BY e.nbr),
           |r$i AS (
           |  SELECT n.vec_id,
           |    CAST(150000 + 850000 * coalesce(s.s, 0) // 1000000 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN s$i s USING (vec_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH np AS (
         |  SELECT GREATEST(3, CASE WHEN count(*) < 2 THEN 0
         |                          ELSE length(bin(count(*) - 1)) - 4 END) AS planes
         |  FROM embeddings),
         |b AS (SELECT vec_id, embedding, ${lshBucketDynSql("embedding", 16, 64, "np.planes")} AS bucket
         |      FROM embeddings, np),
         |pairs AS (
         |  SELECT l.vec_id AS src, r.vec_id AS nbr,
         |         ROUND(${cosineSql("l.embedding", "r.embedding")}, 6) AS sim
         |  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id != r.vec_id
         |),
         |ranked AS (
         |  SELECT src, nbr, sim,
         |         row_number() OVER (PARTITION BY src ORDER BY sim DESC, nbr ASC) AS rank
         |  FROM pairs
         |),
         |edges AS (SELECT src, nbr FROM ranked WHERE rank <= 3),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
         |ed AS (SELECT e.src, e.nbr, d.d FROM edges e JOIN deg d USING (src)),
         |nodes AS (SELECT vec_id FROM embeddings),
         |r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS r FROM nodes),
         |$iterCtes
         |SELECT CAST(vec_id AS BIGINT) AS vec_id, r AS rank_micro
         |FROM r5 ORDER BY rank_micro DESC, vec_id LIMIT 20""".stripMargin
    },

    // farthest-first replay: c0 = min id; stage i carries every
    // not-yet-chosen vector's running max-sim and picks the argmin
    // (ms asc, id asc) — the exact trajectory KCenter.farthestFirst walks
    "q_kcenter" -> kcenterOracleSql("embeddings"),

    // same trajectory replay, but the population is the deterministic
    // bottom-64-by-md5 sample (the farthestFirstSampled large-k path)
    "q_kcenter_sampled" -> kcenterOracleSql(
      """(SELECT vec_id, embedding FROM embeddings
        | ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64)""".stripMargin),

    // the collapsed exact τ-join: group byte-identical (sorted) shingle
    // sets to their min-id representative + copy count, then the SAME
    // prefix-filter ladder as q_jaccard_join over representatives only
    "q_jaccard_collapsed" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2400000000 AS doc_id, text FROM documents
         |  WHERE doc_id % 10 = 0),
         |wq AS (SELECT doc_id, ${duckToks()} AS w FROM corpus),
         |s0 AS (SELECT doc_id, list_sort(list_distinct(
         |        list_transform(range(1, len(w) - 1),
         |          i -> w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER)+1]
         |               || ' ' || w[CAST(i AS INTEGER)+2]))) AS tset
         |      FROM wq WHERE len(w) >= 3),
         |s AS (SELECT min(doc_id) AS doc_id, tset,
         |        CAST(count(*) AS BIGINT) AS n_copies
         |      FROM s0 GROUP BY tset),
         |ex AS (SELECT doc_id, unnest(tset) AS tok FROM s),
         |dfq AS (SELECT tok, count(*) AS df FROM ex GROUP BY tok),
         |rk AS (SELECT ex.doc_id, ex.tok,
         |         row_number() OVER (PARTITION BY ex.doc_id
         |                            ORDER BY dfq.df, ex.tok) AS rn,
         |         count(*) OVER (PARTITION BY ex.doc_id) AS len
         |       FROM ex JOIN dfq USING (tok)),
         |pfx AS (SELECT doc_id, tok FROM rk
         |        WHERE rn <= len - (700 * len + 999) // 1000 + 1),
         |cand AS (SELECT DISTINCT p1.doc_id AS a, p2.doc_id AS b
         |         FROM pfx p1 JOIN pfx p2 USING (tok)
         |         WHERE p1.doc_id < p2.doc_id),
         |v AS (SELECT a, b,
         |        CAST(len(list_intersect(sa.tset, sb.tset)) AS BIGINT)
         |          AS n_inter,
         |        CAST(len(sa.tset) + len(sb.tset)
         |             - len(list_intersect(sa.tset, sb.tset)) AS BIGINT)
         |          AS n_union,
         |        sa.n_copies AS n_a, sb.n_copies AS n_b
         |      FROM cand JOIN s sa ON cand.a = sa.doc_id
         |                 JOIN s sb ON cand.b = sb.doc_id)
         |SELECT a, b, n_inter, n_union,
         |  CAST(n_inter * 1000 // n_union AS BIGINT) AS jaccard_milli,
         |  n_a, n_b
         |FROM v WHERE n_inter * 1000 // n_union >= 700 ORDER BY a, b""".stripMargin
  )

  /** Farthest-first trajectory replay over an arbitrary population
    * sub-select (shared by the exact and sampled k-center oracles). */
  private def kcenterOracleSql(src: String): String = {
    val stages = (1 to 5).map { i =>
      s"""s$i AS (
         |  SELECT p.vec_id, p.embedding,
         |    GREATEST(p.ms, ROUND(${cosineSql("p.embedding", s"c${i - 1}.embedding")}, 6)) AS ms
         |  FROM s${i - 1} p, c${i - 1} WHERE p.vec_id != c${i - 1}.vec_id),
         |c$i AS (SELECT vec_id, embedding, ms FROM s$i
         |        ORDER BY ms ASC, vec_id ASC LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val arms = (1 to 5).map { i =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS rank, CAST(c$i.vec_id AS BIGINT) AS vec_id, c$i.ms AS sel_sim FROM c$i"
    }.mkString("\nUNION ALL ")
    s"""WITH pop AS (SELECT vec_id, embedding FROM $src),
       |c0 AS (SELECT vec_id, embedding FROM pop ORDER BY vec_id LIMIT 1),
       |s0 AS (SELECT vec_id, embedding, -1.0 AS ms FROM pop),
       |$stages
       |SELECT CAST(1 AS BIGINT) AS rank, CAST(c0.vec_id AS BIGINT) AS vec_id, 1.0 AS sel_sim FROM c0
       |UNION ALL $arms
       |ORDER BY rank""".stripMargin
  }
}
