package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CorpusStats, EventAnalytics, FuzzyJoin, Retrieval}
import graft.sim.Similarity

/**
 * Round-10 wave B: corpus retrieval + composition monitoring.
 *
 *  - q_bm25        BM25 top-k retrieval with integer milli-unit scoring
 *  - q_rrf         hybrid retrieval: reciprocal-rank fusion of BM25 + cosine
 *  - q_novelty     per-doc marginal novelty (first-holder 5-gram share)
 *  - q_ks_drift    pairwise two-sample KS distance between source length
 *                  distributions
 *  - q_seasonality hour-of-week activity profile per event type
 *
 * Same contract discipline as the rest of the book: integer-exact (or
 * fixed-op-order IEEE for the cosine rank list) arithmetic, every oracle a
 * DuckDB replay of the identical expression tree.
 */
object RetrievalQueries {

  import Tables.{t, events}

  /** Query fixture shared by q_bm25 / q_rrf: 3 highest-df word-BIGRAM terms
    * of >= 4 chars with df < n_docs/10 (informative head; see
    * Retrieval.topDfTerms). Bigram phrase terms on purpose: the synthetic
    * corpus has a ~30-word vocabulary, so every unigram sits in >75% of
    * docs (bit-length idf 0 — an all-zero ranking), while bigram df spreads
    * 1..~n_docs/10 and every term is informative. */
  private val QTerms = 3
  private val QMinLen = 4
  private val QMaxDfDiv = 10L
  private val QGram = 2
  private val Bm25K = 20
  private val RrfListK = 50
  private val RrfTopK = 20

  // =================================================================== queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qt = Retrieval.topDfTerms(docs, "text", QTerms, QMinLen, QMaxDfDiv, QGram)
      Retrieval.bm25TopK(docs, "doc_id", "text", qt, Bm25K, QGram)
        .orderBy(col("rank"))
    }),

    "q_rrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val qt = Retrieval.topDfTerms(docs, "text", QTerms, QMinLen, QMaxDfDiv, QGram)
      val lex = Retrieval.bm25TopK(docs, "doc_id", "text", qt, RrfListK, QGram)
      val q = emb.where(col("vec_id") === 7)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val vec = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", "qid", "qv", k = RrfListK)
        .select(col("vec_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(lex, vec, "doc_id", kConst = 60L, scale = 1000000L, topK = RrfTopK)
        .orderBy(col("rank"))
    }),

    "q_novelty" -> ((s, dir) => {
      CorpusStats.noveltyProfile(t(s, dir, "documents"), "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    }),

    "q_novelty_incremental" -> ((s, dir) => {
      // ingest-time novelty: batch (doc_id % 3 == 0) scored against the
      // history gram TABLE built from the already-admitted corpus — no
      // rescan of admitted text, the incremental-dedup store shape.
      val docs = t(s, dir, "documents")
      val history = CorpusStats.gramTable(docs.where(col("doc_id") % 3 =!= 0), "text", n = 5)
      CorpusStats.noveltyAgainst(docs.where(col("doc_id") % 3 === 0), history,
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    }),

    "q_ks_drift" -> ((s, dir) => {
      CorpusStats.ksDrift(t(s, dir, "documents"), "source", "n_chars")
        .orderBy(col("group_a"), col("group_b"))
    }),

    "q_seasonality" -> ((s, dir) =>
      EventAnalytics.seasonality(events(s, dir), "event_type", "ts")),

    "q_rank_eval" -> ((s, dir) => {
      // retrieval EVALUATION: how far apart are the lexical and vector views
      // of the same corpus — overlap@50, first-hit MRR of the vector list
      // against the lexical top-10, Kendall tau on the common ids.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val qt = Retrieval.topDfTerms(docs, "text", QTerms, QMinLen, QMaxDfDiv, QGram)
      val lex = Retrieval.bm25TopK(docs, "doc_id", "text", qt, RrfListK, QGram)
      val q = emb.where(col("vec_id") === 7)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val vec = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", "qid", "qv", k = RrfListK)
        .select(col("vec_id").as("doc_id"), col("rank"))
      Retrieval.rankAgreement(lex, vec, "doc_id", k = RrfListK, headK = 10)
    }),

    "q_percentiles_hist" -> ((s, dir) => {
      // the 100 TB twin of q_percentiles: histogram order statistics —
      // one (group,value) hash-agg instead of a per-group full sort; the
      // oracle replays the EXACT rank-selection form, so the green row IS
      // the hist ≡ exact proof on a quantized domain.
      CorpusStats.percentilesHist(t(s, dir, "documents"), "lang", "n_chars",
        Seq(10, 25, 50, 75, 90))
    }),

    "q_fuzzy_join" -> ((s, dir) => {
      // blocked edit-distance entity resolution over canonicalized 32-char
      // prefixes, pigeonhole 4-piece blocking, df-capped blocks, exact
      // levenshtein verify; corpus enriched with planted 1-substitution
      // mutants (doc_id+2000000000) so the fixture exercises dist 1 matches.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val mut = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000000L).as("doc_id"),
          concat(lit("z"), expr("substring(text, 2)")).as("text"))
      FuzzyJoin.editDistancePairs(docs.unionByName(mut), "doc_id", "text",
          prefixLen = 32, maxDist = 3, maxBlock = 64)
        .orderBy(col("a"), col("b"))
    }),

    "q_fuzzy_join_indel" -> ((s, dir) => {
      // indel-complete ER (round 11): PassJoin-style segment×shifted-window
      // blocking guarantees recall for ≤3 edits INCLUDING insertions and
      // deletions; corpus planted with 1-substitution (+2000000000),
      // 1-insertion (+2100000000) and 1-deletion (+2200000000) mutants
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val sub = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000000L).as("doc_id"),
          concat(lit("z"), expr("substring(text, 2)")).as("text"))
      val ins = docs.where(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 2100000000L).as("doc_id"),
          concat(expr("substring(text, 1, 4)"), lit("x"), expr("substring(text, 5)")).as("text"))
      val del = docs.where(col("doc_id") % 7 === 2)
        .select((col("doc_id") + 2200000000L).as("doc_id"),
          concat(expr("substring(text, 1, 4)"), expr("substring(text, 6)")).as("text"))
      FuzzyJoin.editDistancePairsIndel(
          docs.unionByName(sub).unionByName(ins).unionByName(del),
          "doc_id", "text", prefixLen = 32, maxDist = 3, maxBlock = 64)
        .orderBy(col("a"), col("b"))
    }),

    "q_ann_incremental" -> ((s, dir) => {
      // incremental ANN (round 11): the dedup signature-table shape for
      // embeddings — quantizer + cell-assignment INDEX built from the
      // already-ingested history (vec_id % 3 != 0), then the new batch
      // (vec_id % 3 == 0) probes the index table stream-static: no
      // re-assignment pass over history, only probed cells are read
      val emb = t(s, dir, "embeddings")
      val history = emb.where(col("vec_id") % 3 =!= 0)
      val batch = emb.where(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cents = Similarity.ivfTrainKMeans(history, "vec_id", "embedding", 32, iters = 2)
      val index = Similarity.ivfIndex(cents, history, "vec_id", "embedding")
      Similarity.ivfProbeIndex(cents, index, batch, "vec_id", "qid", "qv",
          k = 5, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    "q_ann_incremental_kscaled" -> ((s, dir) => {
      // the k ∝ N regime of the incremental index (round 12, closing the
      // round-11 weak finding): q_ann_incremental's fixed-k probe ranks ALL
      // k centroids per query, so a corpus-sized batch does |batch|·(N/k)
      // candidate work — its own scale-100 soak measured 125.8× wall for
      // 100× data. Here the quantizer size tracks the corpus (k = Nh/16,
      // constant ~16-vector cells), BOTH sides route through the O(√k)
      // hierarchical assignment kernel, and the probe is one co-partitioned
      // equi-join on cell (no broadcast, no all-k ranking) — 3.81×@100× in
      // SOAK_r11_ann_kscaled_scale100. The DuckDB oracle replays the full
      // two-level structure: Lloyd over history, coarse-Lloyd over the
      // centroids, multi-probe routing, per-cell exact rank.
      val emb = t(s, dir, "embeddings")
      val history = emb.where(col("vec_id") % 3 =!= 0)
      val batch = emb.where(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val nh = history.count()
      val k = math.max(16, ((nh + 15L) / 16L).toInt) // k ∝ N: ~16-vector cells
      // hierAssign on TRAINING too: with k ∝ N a flat Lloyd pass is O(N·k)
      // — the quadratic the scale-100 soak caught at 13.0× (vs 3.9× for the
      // hier-trained twin); every assignment in this query is two-level
      val cents = Similarity.ivfTrainKMeans(history, "vec_id", "embedding", k,
        iters = 2, hierAssign = true)
      val index = Similarity.ivfIndex(cents, history, "vec_id", "embedding",
        hierAssign = true)
      Similarity.ivfProbeIndexHier(cents, index, batch, "vec_id", "qid", "qv", k = 8)
        .orderBy(col("qid"), col("rank"))
    }),

    "q_ann_incremental_dist" -> ((s, dir) => {
      // the FULLY DISTRIBUTED k ∝ N regime (round 13, closing the round-12
      // weak finding): q_ann_incremental_kscaled fixed the COMPUTE
      // quadratic but still collects all k centroids per Lloyd pass and
      // ships the full codebook into every task closure — O(N) model
      // residency (~370 GB at 1e9×768). Here only the ~√k coarse level is
      // driver-held; the fine centroids live in a (cell, coarse, fvec)
      // DataFrame, every assignment is map-side coarse routing + one
      // co-partitioned equi-join, and the Lloyd update is a k-row
      // aggregation that is NEVER collected. The DuckDB oracle replays the
      // whole structure: coarse Lloyd, LCG-threshold fine seeding, two
      // join-assigned Lloyd passes with sentinel fallback cells, index +
      // probe through the same routing.
      val emb = t(s, dir, "embeddings")
      val history = emb.where(col("vec_id") % 3 =!= 0)
      val batch = emb.where(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val nh = history.count()
      val k = math.max(16, ((nh + 15L) / 16L).toInt) // k ∝ N: ~16-vector cells
      val (model, index) = Similarity.ivfTrainIndexDist(history, "vec_id", "embedding", k,
        iters = 2, coarseIters = 2, nRows = Some(nh))
      Similarity.ivfProbeIndexDist(model, index, batch, "vec_id", "qid", "qv", k = 8)
        .orderBy(col("qid"), col("rank"))
    })
  )

  /** The (pi, pos) window grid of editDistancePairsIndel at prefixLen 32 /
    * maxDist 3 — generated once and interpolated into the oracle so the
    * Spark and DuckDB grids cannot drift. */
  private def indelGrid: Seq[(Int, Int)] = for {
    i <- 0 until 4
    d <- -3 to 3
    pos = i * 8 + 1 + d
    if pos >= 1
  } yield (i, pos)

  // ==================================================================== oracle

  import PipelineQueries.{duckToks, duckShingleSet, cosineSql, kmeansReplayCtes,
    hierReplayCtes, hierAssignCtes}

  /** q_ann_incremental replay: the Lloyd CTE chain over the HISTORY slice
    * (vec_id % 3 != 0), then the batch probes cellsf exactly like the
    * annIvfOracle search, top-5 / nprobe 2. */
  private def annIncrementalOracle: String =
    s"""WITH ${kmeansReplayCtes(iters = 2, dim = 64,
           src = "(SELECT * FROM embeddings WHERE vec_id % 3 != 0)")},
       |probes AS (
       |  SELECT qid, qv, cell FROM (
       |    SELECT q.vec_id AS qid, q.embedding AS qv, c.cid AS cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosineSql("q.embedding", "c.cvec")} DESC, c.cid ASC) AS pr
       |    FROM embeddings q CROSS JOIN cf c WHERE q.vec_id % 3 = 0) WHERE pr <= 2
       |),
       |scored AS (
       |  SELECT p.qid, s.vec_id, ROUND(${cosineSql("s.cv", "p.qv")}, 6) AS sim
       |  FROM probes p JOIN cellsf s ON s.cell = p.cell WHERE s.vec_id != p.qid
       |),
       |ranked AS (
       |  SELECT qid, vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** q_ann_incremental_kscaled replay — the full k ∝ N structure, hier on
    * EVERY pass: k = max(16, ceil(Nh/16)) from the history count, the
    * Lloyd chain at that k with hier-routed assignment per iteration
    * (kmeansReplayCtes(hierAssign = true) — each pass rebuilds the
    * coarse-over-centroids structure, exactly ivfCellExprHier), whose final
    * `cellsf` IS the hier-assigned index table; the batch routes through
    * the final structure (prefix cellsf_h_), one equi-join on cell, exact
    * per-query rank top-8. */
  private def annIncrementalKscaledOracle: String = {
    val kExpr = "(SELECT greatest(16, (count(*) + 15) // 16) FROM hist)"
    s"""WITH hist AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 != 0),
       |batchq AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 3 = 0),
       |${kmeansReplayCtes(iters = 2, dim = 64, src = "hist", limitExpr = kExpr,
           hierAssign = true)},
       |${hierAssignCtes("qa", "batchq", "qid", "qv", prefix = "cellsf_h_")},
       |scored AS (
       |  SELECT q.qid, i.vec_id, ROUND(${cosineSql("i.cv", "q.qv")}, 6) AS sim
       |  FROM cellsf i
       |  JOIN (SELECT a.qid, a.cell, b.qv FROM qa a JOIN batchq b USING (qid)) q
       |    ON i.cell = q.cell
       |  WHERE i.vec_id != q.qid
       |),
       |ranked AS (
       |  SELECT qid, vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 8 ORDER BY qid, rank""".stripMargin
  }

  /**
   * q_ann_incremental_dist replay — the fully distributed two-level model.
   * Coarse level: the standard Lloyd chain (kmeansReplayCtes) at
   * kc = ceil(√k); its terminal `cellsf` IS the corpus coarse routing
   * (reused as `rt`). Fine level: LCG-threshold seed set (cell = original
   * vec_id — the distributed path never re-keys, a dense re-key would be a
   * global row_number over k corpus-scale rows), coarse membership by
   * argmax vs `cf`, then two Lloyd passes each = LEFT-join assignment with
   * the sentinel fallback cell −(coarse+1) (a coarse cell holding no fine
   * centroid must not drop rows), quantized-integer means, refresh with
   * empty-cell carry-over, and re-routing of the refreshed centroids.
   * Index and probe both assign through the final structure and meet in
   * one equi-join on cell. Ties everywhere (cosine DESC, cell ASC) —
   * Spark's max(struct(sim, −cell)) is exactly that rank-1 selection.
   */
  private def annIncrementalDistOracle: String = {
    val dim = 64
    val kcExpr =
      "(SELECT greatest(1, CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT)) FROM kdef)"
    def sums(src: String) = (0 until dim).map { d =>
      s"CAST(sum(CAST(floor(CAST($src[${d + 1}] AS DOUBLE)*65536.0E0 + 0.5E0) AS BIGINT)) AS DOUBLE) / (CAST(count(*) AS DOUBLE)*65536.0E0)"
    }.mkString(",\n      ")
    /** fine-centroid coarse membership: argmax of `srcCte`(cell, fvec) vs cf */
    def routeFine(srcCte: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT cell, fvec, l FROM (
         |    SELECT f.cell, f.fvec, c.cid AS l,
         |      row_number() OVER (PARTITION BY f.cell
         |        ORDER BY ${cosineSql("f.fvec", "c.cvec")} DESC, c.cid ASC) AS rk
         |    FROM $srcCte f CROSS JOIN cf c) WHERE rk = 1
         |)""".stripMargin
    /** join-assignment of routed rows `src`(idc, vc, l) vs fine table `fc` */
    def assign(src: String, idc: String, vc: String, fc: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT $idc, $vc, cell FROM (
         |    SELECT r.$idc, r.$vc,
         |      coalesce(f.cell, -(r.l + 1)) AS cell,
         |      row_number() OVER (PARTITION BY r.$idc
         |        ORDER BY coalesce(${cosineSql(s"r.$vc", "f.fvec")}, -2.0) DESC,
         |                 coalesce(f.cell, -(r.l + 1)) ASC) AS rk
         |    FROM $src r LEFT JOIN $fc f ON f.l = r.l) WHERE rk = 1
         |)""".stripMargin
    val iterCtes = (0 until 2).map { t =>
      Seq(
        assign("rt", "vec_id", "cv", s"fc$t", s"asg$t"),
        s"""fm$t AS MATERIALIZED (
           |  SELECT cell, [
           |      ${sums("cv")}] AS mean
           |  FROM asg$t GROUP BY cell
           |)""".stripMargin,
        s"""f${t + 1} AS MATERIALIZED (
           |  SELECT o.cell, CASE WHEN m.cell IS NULL THEN o.fvec ELSE m.mean END AS fvec
           |  FROM fc$t o LEFT JOIN fm$t m ON m.cell = o.cell
           |)""".stripMargin,
        routeFine(s"f${t + 1}", s"fc${t + 1}")).mkString(",\n")
    }.mkString(",\n")
    s"""WITH hist AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 != 0),
       |batchq AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 3 = 0),
       |kdef AS MATERIALIZED (
       |  SELECT greatest(16, (count(*) + 15) // 16) AS k,
       |         CAST(count(*) AS BIGINT) AS n FROM hist),
       |${kmeansReplayCtes(iters = 2, dim = dim, src = "hist", limitExpr = kcExpr)},
       |fthr AS MATERIALIZED (SELECT (2147483647 * k) // n AS t FROM kdef),
       |f0r AS MATERIALIZED (
       |  SELECT vec_id AS cell, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS fvec
       |  FROM hist
       |  WHERE (1103515245*(vec_id+7)+12345) % 2147483647 < (SELECT t FROM fthr)
       |),
       |${routeFine("f0r", "fc0")},
       |rt AS MATERIALIZED (SELECT vec_id, cv, cell AS l FROM cellsf),
       |$iterCtes,
       |${assign("rt", "vec_id", "cv", "fc2", "idx")},
       |rq AS MATERIALIZED (
       |  SELECT qid, qv, l FROM (
       |    SELECT b.qid, b.qv, c.cid AS l,
       |      row_number() OVER (PARTITION BY b.qid
       |        ORDER BY ${cosineSql("b.qv", "c.cvec")} DESC, c.cid ASC) AS rk
       |    FROM batchq b CROSS JOIN cf c) WHERE rk = 1
       |),
       |${assign("rq", "qid", "qv", "fc2", "aq")},
       |scored AS (
       |  SELECT q.qid, i.vec_id, ROUND(${cosineSql("i.cv", "q.qv")}, 6) AS sim
       |  FROM idx i JOIN aq q ON i.cell = q.cell WHERE i.vec_id != q.qid
       |),
       |ranked AS (
       |  SELECT qid, vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT qid, vec_id, sim, rank FROM ranked WHERE rank <= 8 ORDER BY qid, rank""".stripMargin
  }

  /** Shared BM25 CTE chain ending in `bmr` = (doc_id, n_hit_terms, dl,
    * score_milli, rk) ranked by score desc, doc_id asc. */
  private def bm25Ctes: String =
    s"""tk AS (SELECT doc_id, ${duckToks()} AS tk FROM documents),
       |toks AS (
       |  SELECT doc_id, unnest(CASE WHEN len(tk) >= $QGram
       |    THEN list_transform(range(len(tk) - ${QGram - 1}),
       |                        i -> array_to_string(list_slice(tk, i+1, i+$QGram), ' '))
       |    ELSE [] END) AS term
       |  FROM tk),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS dfc FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |               CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl),
       |qt AS (
       |  SELECT term FROM dfreq CROSS JOIN tot
       |  WHERE length(term) >= $QMinLen AND dfc * $QMaxDfDiv <= n_docs
       |  ORDER BY dfc DESC, term ASC LIMIT $QTerms
       |),
       |sc AS (
       |  SELECT tf.doc_id, tf.tf, dl.dl,
       |    CAST(length(bin(tot.n_docs // dfreq.dfc)) - 1 AS BIGINT) AS idf_bits,
       |    CAST((CAST(dl.dl AS HUGEINT) * 1000 * tot.n_docs) // tot.total_tokens
       |         AS BIGINT) AS ratio_milli
       |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
       |       JOIN dl USING (doc_id) CROSS JOIN tot
       |),
       |ct AS (
       |  SELECT doc_id, dl,
       |    idf_bits * ((tf * 2200 * 1000)
       |      // (tf * 1000 + (1200 * (250 + (750 * ratio_milli) // 1000)) // 1000)) AS contrib
       |  FROM sc
       |),
       |bm AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
       |         CAST(max(dl) AS BIGINT) AS dl, CAST(sum(contrib) AS BIGINT) AS score_milli
       |  FROM ct GROUP BY 1
       |),
       |bmr AS (
       |  SELECT *, row_number() OVER (ORDER BY score_milli DESC, doc_id ASC) AS rk FROM bm
       |)""".stripMargin

  /** Shared rank-list CTEs: `lex` (BM25 top-RrfListK as (doc_id, rank_lex))
    * and `vec` (cosine-vs-vec-7 top-RrfListK as (doc_id, rank_vec)). */
  private def rankListCtes: String =
    s"""$bm25Ctes,
       |lex AS (SELECT doc_id, CAST(rk AS BIGINT) AS rank_lex FROM bmr WHERE rk <= $RrfListK),
       |cs AS (
       |  SELECT e.vec_id AS doc_id, ROUND(${cosineSql("e.embedding", "q.embedding")}, 6) AS sim
       |  FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 7) q
       |  WHERE e.vec_id != 7
       |),
       |vr AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS BIGINT) AS rank_vec
       |  FROM cs
       |),
       |vec AS (SELECT doc_id, rank_vec FROM vr WHERE rank_vec <= $RrfListK)""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q_ann_incremental" -> annIncrementalOracle,

    "q_ann_incremental_kscaled" -> annIncrementalKscaledOracle,

    "q_ann_incremental_dist" -> annIncrementalDistOracle,

    "q_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT CAST(rk AS BIGINT) AS rank, doc_id, n_hit_terms, dl, score_milli
         |FROM bmr WHERE rk <= $Bm25K ORDER BY rank""".stripMargin,

    "q_rrf" ->
      s"""WITH $rankListCtes,
         |fused AS (
         |  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         |    coalesce(lex.rank_lex, 0) AS rank_lex,
         |    coalesce(vec.rank_vec, 0) AS rank_vec,
         |    (CASE WHEN lex.rank_lex IS NOT NULL THEN 1000000 // (60 + lex.rank_lex) ELSE 0 END)
         |      + (CASE WHEN vec.rank_vec IS NOT NULL THEN 1000000 // (60 + vec.rank_vec) ELSE 0 END)
         |      AS rrf_milli
         |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
         |),
         |fr AS (
         |  SELECT *, row_number() OVER (ORDER BY rrf_milli DESC, doc_id ASC) AS rk FROM fused
         |)
         |SELECT CAST(rk AS BIGINT) AS rank, doc_id,
         |  CAST(rank_lex AS BIGINT) AS rank_lex, CAST(rank_vec AS BIGINT) AS rank_vec,
         |  CAST(rrf_milli AS BIGINT) AS rrf_milli
         |FROM fr WHERE rk <= $RrfTopK ORDER BY rank""".stripMargin,

    "q_novelty" ->
      s"""WITH gr AS (SELECT doc_id, ${duckShingleSet("text", 5)} AS gs FROM documents),
         |g AS (SELECT doc_id, unnest(gs) AS g FROM gr),
         |fh AS (SELECT g, min(doc_id) AS first_id FROM g GROUP BY 1),
         |nov AS (
         |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN fh.first_id = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |  FROM g JOIN fh USING (g) GROUP BY 1
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(nov.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(nov.n_novel, 0) AS BIGINT) AS n_novel,
         |  CAST(CASE WHEN coalesce(nov.n_grams, 0) > 0
         |       THEN nov.n_novel * 1000 // nov.n_grams ELSE 0 END AS BIGINT) AS novelty_milli
         |FROM documents d LEFT JOIN nov ON d.doc_id = nov.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q_novelty_incremental" ->
      s"""WITH hist AS (
         |  SELECT DISTINCT unnest(${duckShingleSet("text", 5)}) AS g
         |  FROM documents WHERE doc_id % 3 != 0
         |),
         |b AS (SELECT doc_id, ${duckShingleSet("text", 5)} AS gs
         |      FROM documents WHERE doc_id % 3 = 0),
         |g AS (SELECT doc_id, unnest(gs) AS g FROM b),
         |sc AS (
         |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN h.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |  FROM g LEFT JOIN hist h ON g.g = h.g GROUP BY 1
         |)
         |SELECT b.doc_id,
         |  CAST(coalesce(sc.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(sc.n_novel, 0) AS BIGINT) AS n_novel,
         |  CAST(CASE WHEN coalesce(sc.n_grams, 0) > 0
         |       THEN sc.n_novel * 1000 // sc.n_grams ELSE 0 END AS BIGINT) AS novelty_milli
         |FROM b LEFT JOIN sc ON b.doc_id = sc.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    "q_ks_drift" ->
      """WITH c AS (
        |  SELECT source AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |grid AS (SELECT DISTINCT v FROM c),
        |cdf AS (
        |  SELECT t.g, t.n, gr.v,
        |    CAST(sum(coalesce(c.c, 0)) OVER (
        |      PARTITION BY t.g ORDER BY gr.v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM tot t CROSS JOIN grid gr
        |  LEFT JOIN c ON c.g = t.g AND c.v = gr.v),
        |p AS (
        |  SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
        |    max(abs(CAST(a.cum AS HUGEINT) * b.n - CAST(b.cum AS HUGEINT) * a.n)) AS max_gap
        |  FROM cdf a JOIN cdf b ON a.v = b.v AND a.g < b.g
        |  GROUP BY 1, 2, 3, 4)
        |SELECT group_a, group_b, n_a, n_b,
        |  CAST(max_gap * 1000 // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_milli
        |FROM p ORDER BY group_a, group_b""".stripMargin,

    "q_rank_eval" ->
      s"""WITH $rankListCtes,
         |common AS (
         |  SELECT l.doc_id, l.rank_lex AS ra, v.rank_vec AS rb
         |  FROM lex l JOIN vec v ON l.doc_id = v.doc_id
         |),
         |pairs AS (
         |  SELECT
         |    CAST(sum(CASE WHEN (x.ra < y.ra) = (x.rb < y.rb) THEN 1 ELSE 0 END) AS BIGINT) AS n_conc,
         |    CAST(sum(CASE WHEN (x.ra < y.ra) = (x.rb < y.rb) THEN 0 ELSE 1 END) AS BIGINT) AS n_disc
         |  FROM common x JOIN common y ON x.doc_id < y.doc_id
         |),
         |fh AS (SELECT min(rb) AS fh FROM common WHERE ra <= 10),
         |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM common)
         |SELECT n_common,
         |  CAST(n_common * 1000 // $RrfListK AS BIGINT) AS overlap_milli,
         |  CAST(coalesce(fh, 0) AS BIGINT) AS first_hit_rank,
         |  CAST(coalesce(1000000 // fh, 0) AS BIGINT) AS mrr_micro,
         |  CAST(coalesce(n_conc, 0) AS BIGINT) AS n_conc,
         |  CAST(coalesce(n_disc, 0) AS BIGINT) AS n_disc,
         |  CAST(CASE WHEN coalesce(n_conc, 0) + coalesce(n_disc, 0) = 0 THEN 0
         |       ELSE (CASE WHEN n_conc >= n_disc THEN 1 ELSE -1 END)
         |            * (abs(n_conc - n_disc) * 1000 // (n_conc + n_disc)) END AS BIGINT) AS tau_milli
         |FROM cnt CROSS JOIN fh CROSS JOIN pairs""".stripMargin,

    // the EXACT rank-selection replay (percentile_disc semantics) — NOT the
    // histogram form — so the green row doubles as the hist ≡ exact proof
    "q_percentiles_hist" ->
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

    "q_fuzzy_join" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000000, 'z' || substring(text, 2) FROM documents WHERE doc_id % 7 = 0
         |),
         |canon AS (
         |  SELECT doc_id, substring(array_to_string(${duckToks()}, ' '), 1, 32) AS prefix
         |  FROM corpus
         |),
         |reps AS (SELECT prefix, min(doc_id) AS rep, CAST(count(*) AS BIGINT) AS n
         |         FROM canon GROUP BY 1),
         |blocked AS (
         |  SELECT rep, n, prefix, t.i AS pi, substring(prefix, t.i * 8 + 1, 8) AS piece
         |  FROM reps CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) t
         |),
         |anchored AS (SELECT * FROM blocked WHERE length(piece) = 8),
         |capped AS (
         |  SELECT * FROM (
         |    SELECT *, count(*) OVER (PARTITION BY pi, piece) AS bn FROM anchored)
         |  WHERE bn <= 64
         |),
         |cand AS (
         |  SELECT DISTINCT l.rep AS a, r.rep AS b, l.n AS n_a, r.n AS n_b,
         |    l.prefix AS pa, r.prefix AS pb
         |  FROM capped l JOIN capped r ON l.pi = r.pi AND l.piece = r.piece AND l.rep < r.rep
         |)
         |SELECT a, b, n_a, n_b, CAST(levenshtein(pa, pb) AS BIGINT) AS dist
         |FROM cand WHERE levenshtein(pa, pb) <= 3 ORDER BY a, b""".stripMargin,

    "q_fuzzy_join_indel" -> {
      val gridVals = indelGrid.map { case (i, p) => s"($i, $p)" }.mkString(", ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000000, 'z' || substring(text, 2)
         |  FROM documents WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 2100000000, substring(text, 1, 4) || 'x' || substring(text, 5)
         |  FROM documents WHERE doc_id % 7 = 1
         |  UNION ALL
         |  SELECT doc_id + 2200000000, substring(text, 1, 4) || substring(text, 6)
         |  FROM documents WHERE doc_id % 7 = 2
         |),
         |canon AS (
         |  SELECT doc_id, substring(array_to_string(${duckToks()}, ' '), 1, 32) AS prefix
         |  FROM corpus
         |),
         |reps AS (SELECT prefix, min(doc_id) AS rep, CAST(count(*) AS BIGINT) AS n
         |         FROM canon GROUP BY 1),
         |segs0 AS (
         |  SELECT rep, n, prefix, t.i AS pi, substring(prefix, t.i * 8 + 1, 8) AS piece
         |  FROM reps CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) t
         |),
         |segs AS (
         |  SELECT * FROM (
         |    SELECT *, count(*) OVER (PARTITION BY pi, piece) AS bn
         |    FROM segs0 WHERE length(piece) = 8)
         |  WHERE bn <= 64
         |),
         |wins0 AS (
         |  SELECT rep, n, prefix, g.pi, substring(prefix, g.pos, 8) AS piece
         |  FROM reps CROSS JOIN (VALUES $gridVals) AS g(pi, pos)
         |),
         |wins AS (
         |  SELECT * FROM (
         |    SELECT *, count(*) OVER (PARTITION BY pi, piece) AS bn
         |    FROM wins0 WHERE length(piece) = 8)
         |  WHERE bn <= 64
         |),
         |shorts AS (
         |  SELECT * FROM (
         |    SELECT rep, n, prefix, length(prefix) AS lk,
         |      count(*) OVER (PARTITION BY length(prefix)) AS bn
         |    FROM reps WHERE length(prefix) < 32)
         |  WHERE bn <= 64
         |),
         |srx AS (
         |  SELECT rep, n, prefix, length(prefix) + d.d AS lk
         |  FROM reps CROSS JOIN (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS d) d
         |),
         |cand AS (
         |  SELECT DISTINCT
         |    CASE WHEN s.rep < w.rep THEN s.rep ELSE w.rep END AS a,
         |    CASE WHEN s.rep < w.rep THEN w.rep ELSE s.rep END AS b,
         |    CASE WHEN s.rep < w.rep THEN s.n ELSE w.n END AS n_a,
         |    CASE WHEN s.rep < w.rep THEN w.n ELSE s.n END AS n_b,
         |    CASE WHEN s.rep < w.rep THEN s.prefix ELSE w.prefix END AS pa,
         |    CASE WHEN s.rep < w.rep THEN w.prefix ELSE s.prefix END AS pb
         |  FROM segs s JOIN wins w ON s.pi = w.pi AND s.piece = w.piece AND s.rep != w.rep
         |  UNION
         |  SELECT DISTINCT
         |    CASE WHEN s.rep < w.rep THEN s.rep ELSE w.rep END AS a,
         |    CASE WHEN s.rep < w.rep THEN w.rep ELSE s.rep END AS b,
         |    CASE WHEN s.rep < w.rep THEN s.n ELSE w.n END AS n_a,
         |    CASE WHEN s.rep < w.rep THEN w.n ELSE s.n END AS n_b,
         |    CASE WHEN s.rep < w.rep THEN s.prefix ELSE w.prefix END AS pa,
         |    CASE WHEN s.rep < w.rep THEN w.prefix ELSE s.prefix END AS pb
         |  FROM shorts s JOIN srx w ON s.lk = w.lk AND s.rep != w.rep
         |)
         |SELECT a, b, n_a, n_b, CAST(levenshtein(pa, pb) AS BIGINT) AS dist
         |FROM cand WHERE levenshtein(pa, pb) <= 3 ORDER BY a, b""".stripMargin
    },

    "q_seasonality" ->
      """WITH h AS (
        |  SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
        |    CAST(hour(ts) AS BIGINT) AS hr, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY event_type, dow ORDER BY c DESC, hr ASC) AS rk
        |  FROM h),
        |d AS (SELECT event_type, dow, CAST(sum(c) AS BIGINT) AS n_events
        |      FROM h GROUP BY 1, 2),
        |pk AS (SELECT event_type, dow, hr AS peak_hour, c AS peak_n FROM r WHERE rk = 1),
        |tt AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS tot FROM h GROUP BY 1)
        |SELECT d.event_type, d.dow, d.n_events, pk.peak_hour, pk.peak_n,
        |  CAST(d.n_events * 1000 // tt.tot AS BIGINT) AS share_milli
        |FROM d JOIN pk USING (event_type, dow) JOIN tt USING (event_type)
        |ORDER BY d.event_type, d.dow""".stripMargin
  )
}
