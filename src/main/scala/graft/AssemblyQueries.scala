package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{DatasetSplit, TrainingOrder}
import graft.sim.Similarity
import graft.text.TextFunctions

/**
 * Round-7 wave: the remaining training-assembly decisions a corpus team
 * makes between "curated" and "training stream" — curriculum staging,
 * length-bucketed batch assembly (padding efficiency), the repetition-capped
 * token budget, duplication-structure profiling, embedding-health
 * diagnostics, and the kNN label-agreement probe that scores an embedding
 * space before anyone trains on it.
 *
 * Same contract discipline as every earlier wave: integer-exact or
 * replayable-FP arithmetic only, each oracle a full DuckDB replay, no UDFs,
 * no unbounded collects.
 */
object AssemblyQueries {

  import Tables.t

  // =================================================================== queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_curriculum" -> ((s, dir) => {
      // curriculum staging: difficulty = token-count tier (fixed corpus-
      // calibrated thresholds — easy short docs first), 4 md5 shards per
      // tier; manifest per (level, shard) with an order signature pinning
      // every (doc, pos) assignment.
      val docs = t(s, dir, "documents")
      val n = size(TextFunctions.tokens(col("text"))).cast("long")
      val level = when(n < 32, 0L).when(n < 56, 1L).when(n < 76, 2L).otherwise(3L)
      TrainingOrder.curriculum(docs.withColumn("level", level), "doc_id", "level", 4)
        .groupBy(col("level"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_id"),
          max(col("doc_id")).as("last_id"),
          sum(col("doc_id") * col("pos")).as("order_sig"))
        .orderBy(col("level"), col("shard"))
    }),

    "q_pad_batches" -> ((s, dir) => {
      // length-bucketed batch assembly: log2-length buckets, 16-doc batches
      // in md5 order; per batch the max/sum lengths and the padding waste
      // (pad-to-max cost) the bucketing exists to minimize.
      val docs = t(s, dir, "documents")
        .withColumn("n_toks", size(TextFunctions.tokens(col("text"))).cast("long"))
      TrainingOrder.lengthBucketBatches(docs, "doc_id", "n_toks", batchSize = 16)
        .groupBy(col("bucket"), col("batch"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("weight")).as("max_toks"),
          sum(col("weight")).as("sum_toks"),
          (count(lit(1)) * max(col("weight")) - sum(col("weight"))).as("pad_waste"),
          sum(col("doc_id") * col("weight")).as("batch_sig"))
        .orderBy(col("bucket"), col("batch"))
    }),

    "q_repetition_budget" -> ((s, dir) => {
      // data-constrained token budget: per-language token masses, sqrt-
      // tempered shares of a 100k-token budget, clamped at 4 epochs of any
      // language's own mass; the shortfall column is the budget the cap
      // refused (at small SF every language caps; at larger SF none do —
      // both regimes exercised across the gate scales).
      val docs = t(s, dir, "documents")
      val sizes = docs
        .select(col("lang"), size(TextFunctions.tokens(col("text"))).cast("long").as("n"))
        .groupBy(col("lang"))
        .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_docs"))
      DatasetSplit.budgetAllocation(sizes, "lang", "n_tokens",
          totalTarget = 100000L, maxEpochs = 4)
        .select(col("lang"), col("n_tokens"), col("n_docs"), col("weight_micro"),
          col("raw_alloc"), col("alloc"), col("epochs_micro"), col("shortfall"))
        .orderBy(col("lang"))
    }),

    "q_dup_cluster_hist" -> ((s, dir) => {
      // duplication-structure profile: exact-content cluster sizes folded
      // into log2 buckets — the "is our dup mass a few giant clusters or a
      // long tail" dashboard that picks the dedup strategy. Mirror
      // enrichment (every 5th doc cloned once, every 10th twice) populates
      // multi-doc clusters deterministically.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d
        .unionAll(d.where(pmod(col("doc_id"), lit(5)) === 0)
          .select(col("doc_id") + 2500000000L, col("text")))
        .unionAll(d.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id") + 2000000000L, col("text")))
      val sizes = corpus.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("sz"))
      sizes.groupBy(length(bin(col("sz"))).cast("long").as("size_log2"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"),
          max(col("sz")).as("max_cluster"))
        .orderBy(col("size_log2"))
    }),

    "q_embed_stats" -> ((s, dir) => {
      // embedding-health diagnostics per label: quantized squared-norm
      // spread and zero-vector count — the "did the encoder emit garbage"
      // gate before any ANN/semantic stage trusts the space. Integer
      // milli-quantization makes every aggregate order-independent.
      val e = t(s, dir, "embeddings")
      val q = transform(col("embedding").cast("array<double>"),
        x => round(x * 1000).cast("long"))
      val scored = e.select(
        col("label").cast("long").as("label"),
        size(col("embedding")).cast("long").as("dim"),
        aggregate(q, lit(0L), (acc, v) => acc + v * v).as("nsq"),
        aggregate(q, lit(0L), (acc, v) => greatest(acc, abs(v))).as("amax"))
      scored.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          max(col("dim")).as("dim"),
          sum(when(col("amax") === 0L, 1L).otherwise(0L)).as("n_zero"),
          min(col("nsq")).as("min_nsq"),
          max(col("nsq")).as("max_nsq"),
          sum(col("nsq")).as("sum_nsq"))
        .orderBy(col("label"))
    }),

    "q_containment" -> ((s, dir) => {
      // excerpt/quote duplication: a 160-char excerpt of a long doc has
      // Jaccard far below any LSH gate but containment ≈ 1 — caught by the
      // rare-shingle inverted index + exact containment verify. Enrichment:
      // every long doc gets a middle-window excerpt under id+300000.
      val d = t(s, dir, "documents").where(col("n_chars") > 240)
        .select(col("doc_id"), col("text"))
      val corpus = d.unionAll(d.select(
        (col("doc_id") + 300000L).as("doc_id"),
        col("text").substr(lit(41), lit(160)).as("text")))
      graft.dedup.ContainmentIndex.excerptPairs(corpus, "doc_id", "text",
          shingleSize = 3, maxDocFreq = 8, minShared = 8, threshold = 0.8)
        .orderBy(col("a"), col("b"))
    }),

    "q_knn_label_vote" -> ((s, dir) => {
      // kNN label agreement: 10-NN majority vote over the first 50 vectors,
      // scored against their true labels — the standard embedding-quality
      // probe (high agreement = the space clusters by label). Composes the
      // broadcast brute-force top-k; the label join builds on the tiny
      // candidate side.
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").cast("long").as("true_label"))
      val nn = Similarity.bruteForceTopK(emb, q.select(col("qid"), col("qv")),
        "vec_id", "embedding", "qid", "qv", k = 10)
      val votes = emb.select(col("vec_id"), col("label").cast("long").as("label"))
        .join(broadcast(nn), Seq("vec_id"))
        .groupBy(col("qid"), col("label"))
        .agg(count(lit(1)).as("votes"), max(col("sim")).as("best_sim"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("votes").desc, col("best_sim").desc, col("label").asc)
      votes.withColumn("_rk", row_number().over(w))
        .where(col("_rk") === 1)
        .join(broadcast(q.select(col("qid"), col("true_label"))), Seq("qid"))
        .select(col("qid"), col("true_label"), col("label").as("pred_label"),
          col("votes"),
          when(col("label") === col("true_label"), 1L).otherwise(0L).as("correct"))
        .orderBy(col("qid"))
    }),

    "q_pca_top" -> ((s, dir) => {
      // the anisotropy diagnostic (all-but-the-top): dominant principal
      // direction of the embedding space via one bounded covariance agg
      // (d(d+3)/2-row driver fetch) + BigInt fixed-point power iteration.
      // lambda_c/trace_c is the variance fraction the top direction hoards
      // — the "is cosine even meaningful here" gate.
      graft.sim.Pca.topComponent(t(s, dir, "embeddings"), "embedding",
          dim = 64, iters = 8)
        .orderBy(col("dim_idx"))
    }),

    "q_pca_project" -> ((s, dir) => {
      // the apply half of all-but-the-top: per-label projection-mass
      // profile along the top component (which slices load on the
      // anisotropy axis). Component broadcast as one literal; exact
      // integer projections ride one scan + one |labels|-row agg.
      graft.sim.Pca.projectProfile(t(s, dir, "embeddings"), "label",
          "embedding", dim = 64, iters = 8)
        .orderBy(col("grp"))
    }),

    "q_neyman" -> ((s, dir) => {
      // Neyman-optimal eval-set quotas per source (minimum-variance
      // stratified allocation by N_h·S_h over doc length), largest-
      // remainder rounded so the quotas sum to EXACTLY the budget — the
      // eval-set construction rule, not the proportional shortcut.
      DatasetSplit.neymanAllocation(t(s, dir, "documents"), "source",
          "n_chars", totalTarget = 1000L)
        .orderBy(col("source"))
    }),

    "q_neyman_sample" -> ((s, dir) => {
      // the end-to-end eval-set DRAW: Neyman quotas -> deterministic
      // bottom-quota-by-md5 rows per stratum. Row-level output pins both
      // WHICH documents and their sample ranks.
      val docs = t(s, dir, "documents")
      val quotas = DatasetSplit.neymanAllocation(docs, "source",
        "n_chars", totalTarget = 200L)
      DatasetSplit.sampleToQuotas(docs, "source", "doc_id", quotas)
        .select(col("source"), col("sample_rank"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("sample_rank"))
    })
  )

  // =================================================================== oracles

  import PipelineQueries.{duckToks, cosineSql}

  def oracleSql: Map[String, String] = Map(

    "q_curriculum" ->
      s"""WITH d AS (SELECT doc_id, len(${duckToks()}) AS n FROM documents),
         |lv AS (
         |  SELECT doc_id,
         |    CASE WHEN n < 32 THEN 0 WHEN n < 56 THEN 1 WHEN n < 76 THEN 2 ELSE 3 END AS level
         |  FROM d
         |),
         |k AS (
         |  SELECT doc_id, level, md5(concat_ws('_', doc_id, 'cur')) AS skey FROM lv
         |),
         |a AS (
         |  SELECT CAST(level AS BIGINT) AS level,
         |    CAST(('0x' || substring(skey, 1, 8)) AS BIGINT) % 4 AS shard,
         |    doc_id,
         |    CAST(row_number() OVER (
         |      PARTITION BY level, CAST(('0x' || substring(skey, 1, 8)) AS BIGINT) % 4
         |      ORDER BY skey, doc_id) AS BIGINT) AS pos
         |  FROM k
         |)
         |SELECT level, shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(min(doc_id) AS BIGINT) AS first_id,
         |  CAST(max(doc_id) AS BIGINT) AS last_id,
         |  CAST(sum(doc_id * pos) AS BIGINT) AS order_sig
         |FROM a GROUP BY level, shard
         |ORDER BY level, shard""".stripMargin,

    "q_pad_batches" ->
      s"""WITH d AS (SELECT doc_id, len(${duckToks()}) AS n_toks FROM documents),
         |b AS (
         |  SELECT doc_id, n_toks,
         |    CAST(length(bin(n_toks)) AS BIGINT) AS bucket,
         |    CAST(row_number() OVER (
         |      PARTITION BY length(bin(n_toks))
         |      ORDER BY md5(concat_ws('_', doc_id)), doc_id) AS BIGINT) AS r
         |  FROM d
         |)
         |SELECT bucket, (r - 1) // 16 AS batch,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(max(n_toks) AS BIGINT) AS max_toks,
         |  CAST(sum(n_toks) AS BIGINT) AS sum_toks,
         |  CAST(count(*) * max(n_toks) - sum(n_toks) AS BIGINT) AS pad_waste,
         |  CAST(sum(doc_id * n_toks) AS BIGINT) AS batch_sig
         |FROM b GROUP BY bucket, (r - 1) // 16
         |ORDER BY bucket, batch""".stripMargin,

    "q_repetition_budget" ->
      s"""WITH s AS (
         |  SELECT lang,
         |    CAST(sum(len(${duckToks()})) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY lang
         |),
         |w AS (
         |  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
         |    AS weight_micro
         |  FROM s
         |),
         |a AS (
         |  SELECT *, CAST((100000 * weight_micro) // (SELECT sum(weight_micro) FROM w)
         |    AS BIGINT) AS raw_alloc
         |  FROM w
         |)
         |SELECT lang, n_tokens, n_docs, weight_micro, raw_alloc,
         |  CAST(least(raw_alloc, n_tokens * 4) AS BIGINT) AS alloc,
         |  CAST((least(raw_alloc, n_tokens * 4) * 1000000) // n_tokens AS BIGINT)
         |    AS epochs_micro,
         |  CAST(raw_alloc - least(raw_alloc, n_tokens * 4) AS BIGINT) AS shortfall
         |FROM a ORDER BY lang""".stripMargin,

    "q_dup_cluster_hist" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2500000000, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000000, text FROM documents WHERE doc_id % 10 = 0
        |),
        |sizes AS (SELECT md5(text) AS h, count(*) AS sz FROM corpus GROUP BY 1)
        |SELECT CAST(length(bin(sz)) AS BIGINT) AS size_log2,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(sz) AS BIGINT) AS n_docs,
        |  CAST(max(sz) AS BIGINT) AS max_cluster
        |FROM sizes GROUP BY 1 ORDER BY size_log2""".stripMargin,

    "q_embed_stats" ->
      """WITH v AS (
        |  SELECT label, len(embedding) AS dim,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings
        |),
        |n AS (
        |  SELECT label, dim,
        |    CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS nsq,
        |    CAST(list_max(list_transform(q, v -> abs(v))) AS BIGINT) AS amax
        |  FROM v
        |)
        |SELECT CAST(label AS BIGINT) AS label,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(max(dim) AS BIGINT) AS dim,
        |  CAST(sum(CASE WHEN amax = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(min(nsq) AS BIGINT) AS min_nsq,
        |  CAST(max(nsq) AS BIGINT) AS max_nsq,
        |  CAST(sum(nsq) AS BIGINT) AS sum_nsq
        |FROM n GROUP BY label ORDER BY label""".stripMargin,

    "q_containment" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE n_chars > 240
         |  UNION ALL
         |  SELECT doc_id + 300000, substring(text, 41, 160) FROM documents
         |  WHERE n_chars > 240
         |),
         |sets AS (SELECT doc_id, ${PipelineQueries.duckShingleSet()} AS sset FROM corpus),
         |ex AS (SELECT doc_id, unnest(sset) AS sh FROM sets),
         |rare AS (
         |  SELECT sh FROM (SELECT sh, count(*) AS df FROM ex GROUP BY sh)
         |  WHERE df BETWEEN 2 AND 8
         |),
         |idx AS (SELECT ex.doc_id, ex.sh FROM ex JOIN rare USING (sh)),
         |cands AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_shared
         |  FROM idx l JOIN idx r ON l.sh = r.sh AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 8
         |),
         |ver AS (
         |  SELECT a, b, CAST(n_shared AS BIGINT) AS n_shared,
         |    CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) /
         |      CAST(least(len(sa.sset), len(sb.sset)) AS DOUBLE) AS c
         |  FROM cands JOIN sets sa ON cands.a = sa.doc_id
         |              JOIN sets sb ON cands.b = sb.doc_id
         |)
         |SELECT a, b, n_shared, ROUND(c, 6) AS containment
         |FROM ver WHERE c >= 0.8 ORDER BY a, b""".stripMargin,

    "q_knn_label_vote" ->
      s"""WITH c AS (SELECT vec_id, embedding, label FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv, label AS tl
         |      FROM embeddings WHERE vec_id < 50),
         |scored AS (
         |  SELECT q.qid, c.vec_id, c.label,
         |    ROUND(${cosineSql("c.embedding", "q.qv")}, 6) AS sim
         |  FROM c CROSS JOIN q WHERE c.vec_id != q.qid
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rk
         |  FROM scored
         |),
         |votes AS (
         |  SELECT qid, label, count(*) AS votes, max(sim) AS best_sim
         |  FROM ranked WHERE rk <= 10 GROUP BY qid, label
         |),
         |pick AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY votes DESC, best_sim DESC, label ASC) AS pk
         |  FROM votes
         |)
         |SELECT p.qid,
         |  CAST(q.tl AS BIGINT) AS true_label,
         |  CAST(p.label AS BIGINT) AS pred_label,
         |  CAST(p.votes AS BIGINT) AS votes,
         |  CAST(CASE WHEN p.label = q.tl THEN 1 ELSE 0 END AS BIGINT) AS correct
         |FROM pick p JOIN q ON q.qid = p.qid WHERE p.pk = 1
         |ORDER BY p.qid""".stripMargin,

    // covariance replay in HUGEINT (exact, matches the driver's BigInt),
    // then the same fixed-point power iteration: w = C·v, max-abs
    // normalization with sign-safe truncating division, 8 steps, sign
    // canonicalized at the largest-|v| coordinate (ties -> smallest index).
    "q_pca_top" ->
      s"""WITH RECURSIVE
        |$pcaReplayCtes
        |SELECT CAST(c.i AS BIGINT) AS dim_idx,
        |  CAST(CASE WHEN (SELECT vi FROM flip) < 0 THEN -c.vi ELSE c.vi END AS BIGINT) AS v_micro,
        |  CAST((SELECT mx // 1000000 FROM fin) AS BIGINT) AS lambda_c,
        |  CAST((SELECT trace_c FROM tr) AS BIGINT) AS trace_c
        |FROM comps c ORDER BY dim_idx""".stripMargin,

    // the apply half: per-label projection-mass profile along the flipped
    // component — p = sum(v_micro_i * q_i), exact HUGEINT = exact BigInt
    "q_pca_project" ->
      s"""WITH RECURSIVE
        |$pcaReplayCtes,
        |vflip AS (SELECT list(CASE WHEN (SELECT vi FROM flip) < 0 THEN -vi ELSE vi END
        |                      ORDER BY i) AS v FROM comps),
        |qd AS (SELECT label, list_transform(embedding,
        |         x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |       FROM embeddings),
        |pr AS (SELECT label, list_sum(list_transform(range(64),
        |         i -> vflip.v[CAST(i AS INTEGER)+1] * q[CAST(i AS INTEGER)+1])) AS p
        |       FROM qd, vflip)
        |SELECT CAST(label AS BIGINT) AS grp,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(p) AS BIGINT) AS sum_p,
        |  CAST(sum(abs(p)) AS BIGINT) AS sum_abs_p,
        |  CAST(min(p) AS BIGINT) AS min_p,
        |  CAST(max(p) AS BIGINT) AS max_p
        |FROM pr GROUP BY label ORDER BY grp""".stripMargin,

    // HUGEINT replay of the exact integer ladder: N²·var = n·Σx² − (Σx)²,
    // weight = floor(double sqrt) (same IEEE double both engines), base
    // quota by integer division, largest-remainder (ties -> stratum asc)
    "q_neyman" ->
      s"""WITH ${neymanCtes(1000)},
        |fin AS (
        |  SELECT source, CAST(n AS BIGINT) AS n_docs, CAST(wt AS BIGINT) AS weight,
        |    alloc_base, remainder,
        |    CAST(alloc_base + CASE WHEN rk <= (SELECT deficit FROM d)
        |                           THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |  FROM r)
        |SELECT *,
        |  CAST(least(alloc, n_docs) AS BIGINT) AS drawable,
        |  CAST(alloc - least(alloc, n_docs) AS BIGINT) AS draw_shortfall
        |FROM fin ORDER BY source""".stripMargin,

    // the draw: same quota ladder at budget 200, then the reservoir-style
    // md5 rank (identical to q_reservoir_sample's key) cut at each
    // stratum's quota
    "q_neyman_sample" ->
      s"""WITH ${neymanCtes(200)},
        |ney AS (
        |  SELECT source,
        |    CAST(alloc_base + CASE WHEN rk <= (SELECT deficit FROM d)
        |                           THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |  FROM r),
        |rnk AS (
        |  SELECT source, doc_id, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(concat_ws('_', doc_id)), doc_id) AS BIGINT) AS sample_rank
        |  FROM documents)
        |SELECT rnk.source, rnk.sample_rank, rnk.doc_id,
        |  CAST(rnk.n_chars AS BIGINT) AS n_chars
        |FROM rnk JOIN ney ON ney.source = rnk.source
        |WHERE rnk.sample_rank <= ney.alloc
        |ORDER BY rnk.source, rnk.sample_rank""".stripMargin
  )

  /** Shared Neyman-quota replay at `budget`: ends with CTEs `r` (per-source
    * alloc_base + remainder + remainder rank) and `d` (deficit). */
  private def neymanCtes(budget: Long): String =
    s"""g AS (
       |  SELECT source, CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sx,
       |    CAST(sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sxx
       |  FROM documents GROUP BY source),
       |v AS (SELECT source, n, n * sxx - sx * sx AS var2 FROM g),
       |w AS (SELECT source, n,
       |        CAST(floor(sqrt(CAST(var2 AS DOUBLE))) AS HUGEINT) AS w0 FROM v),
       |t AS (SELECT CAST(sum(w0) AS HUGEINT) AS wtot0,
       |             CAST(sum(n) AS HUGEINT) AS ntot FROM w),
       |e AS (SELECT source, n,
       |        CASE WHEN (SELECT wtot0 FROM t) > 0 THEN w0 ELSE n END AS wt,
       |        CASE WHEN (SELECT wtot0 FROM t) > 0 THEN (SELECT wtot0 FROM t)
       |             ELSE (SELECT ntot FROM t) END AS wtot
       |      FROM w),
       |a AS (SELECT source, n, wt,
       |        CAST(($budget * wt) // wtot AS BIGINT) AS alloc_base,
       |        CAST($budget * wt - (($budget * wt) // wtot) * wtot AS BIGINT) AS remainder
       |      FROM e),
       |d AS (SELECT $budget - sum(alloc_base) AS deficit FROM a),
       |r AS (SELECT *, row_number() OVER (ORDER BY remainder DESC, source ASC) AS rk
       |      FROM a)""".stripMargin

  /** Shared covariance + power-iteration replay (see q_pca_top): ends with
    * CTEs `fin` (final v + mx), `comps` (i, vi), `flip` (sign pivot), `tr`
    * (trace). */
  private def pcaReplayCtes: String =
      """qv AS MATERIALIZED (
        |  SELECT list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings
        |),
        |nn AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS n FROM qv),
        |ms AS MATERIALIZED (
        |  SELECT i, CAST(sum(q[CAST(i AS INTEGER)+1]) AS HUGEINT) AS m
        |  FROM qv, range(64) t(i) GROUP BY i
        |),
        |ps AS MATERIALIZED (
        |  SELECT t1.i, t2.j,
        |    CAST(sum(q[CAST(t1.i AS INTEGER)+1] * q[CAST(t2.j AS INTEGER)+1]) AS HUGEINT) AS s
        |  FROM qv, range(64) t1(i), range(64) t2(j)
        |  WHERE t1.i <= t2.j GROUP BY t1.i, t2.j
        |),
        |cov AS MATERIALIZED (
        |  SELECT p.i, p.j, (SELECT n FROM nn) * p.s - mi.m * mj.m AS c
        |  FROM ps p JOIN ms mi ON mi.i = p.i JOIN ms mj ON mj.i = p.j
        |),
        |covfull AS MATERIALIZED (
        |  SELECT i, j, c FROM cov
        |  UNION ALL
        |  SELECT j AS i, i AS j, c FROM cov WHERE i < j
        |),
        |mat AS MATERIALIZED (
        |  SELECT list(r ORDER BY i) AS mt FROM (
        |    SELECT i, list(c ORDER BY j) AS r FROM covfull GROUP BY i)
        |),
        |it AS (
        |  SELECT 0 AS t,
        |    list_transform(range(64), x -> CAST(1000000 AS HUGEINT)) AS v,
        |    CAST(0 AS HUGEINT) AS mx
        |  FROM mat
        |  UNION ALL
        |  SELECT t + 1,
        |    CASE WHEN list_max(list_transform(
        |        list_transform(range(64), i -> list_sum(list_transform(range(64),
        |          j -> mt[CAST(i AS INTEGER)+1][CAST(j AS INTEGER)+1] * v[CAST(j AS INTEGER)+1]))),
        |        x -> abs(x))) = 0
        |      THEN list_transform(range(64), x -> CAST(0 AS HUGEINT))
        |      ELSE list_transform(
        |        list_transform(range(64), i -> list_sum(list_transform(range(64),
        |          j -> mt[CAST(i AS INTEGER)+1][CAST(j AS INTEGER)+1] * v[CAST(j AS INTEGER)+1]))),
        |        x -> CASE WHEN x < 0
        |          THEN -((-x * 1000000) // list_max(list_transform(
        |            list_transform(range(64), i -> list_sum(list_transform(range(64),
        |              j -> mt[CAST(i AS INTEGER)+1][CAST(j AS INTEGER)+1] * v[CAST(j AS INTEGER)+1]))),
        |            y -> abs(y))))
        |          ELSE (x * 1000000) // list_max(list_transform(
        |            list_transform(range(64), i -> list_sum(list_transform(range(64),
        |              j -> mt[CAST(i AS INTEGER)+1][CAST(j AS INTEGER)+1] * v[CAST(j AS INTEGER)+1]))),
        |            y -> abs(y))) END) END,
        |    list_max(list_transform(
        |      list_transform(range(64), i -> list_sum(list_transform(range(64),
        |        j -> mt[CAST(i AS INTEGER)+1][CAST(j AS INTEGER)+1] * v[CAST(j AS INTEGER)+1]))),
        |      x -> abs(x)))
        |  FROM it, mat WHERE t < 8
        |),
        |fin AS (SELECT v, mx FROM it WHERE t = 8),
        |comps AS (SELECT i, v[CAST(i AS INTEGER)+1] AS vi FROM fin, range(64) t(i)),
        |flip AS (SELECT vi FROM comps ORDER BY abs(vi) DESC, i ASC LIMIT 1),
        |tr AS (SELECT sum(c) AS trace_c FROM cov WHERE i = j)""".stripMargin
}
