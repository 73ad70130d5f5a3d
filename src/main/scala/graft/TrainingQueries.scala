package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TrainingOrder
import graft.sim.Similarity
import graft.text.{TextClassifiers, TextFunctions}

/**
 * Round-6 wave 2: training-set ASSEMBLY operators — what happens after
 * curation says "keep": a corpus-trained quality classifier (Naive Bayes),
 * DSIR importance weighting toward a target domain, the deterministic
 * per-epoch shuffle into training shards, and the embedding-cluster topic
 * dashboard that tells you WHAT the kept corpus contains.
 *
 * Contract discipline unchanged: integer-exact arithmetic (bit-length
 * quantized log-ratios), every oracle a DuckDB replay, no UDFs, the only
 * collect is the k-row k-means codebook fetch the IVF path already proved.
 */
object TrainingQueries {

  import Tables.t

  // =================================================================== queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_nb_classifier" -> ((s, dir) => {
      // corpus-trained quality classifier (the CCNet/GPT-3 gate): train
      // multinomial NB on lang=='en' as the positive class, score every
      // doc with bit-quantized log-likelihood ratios. Train = one
      // vocab-bounded aggregation; score = broadcast model join.
      val docs = t(s, dir, "documents")
        .withColumn("y", (col("lang") === "en").cast("long"))
      val model = TextClassifiers.naiveBayesTrain(docs, "text", "y")
      TextClassifiers.naiveBayesScore(docs, "doc_id", "text", "y", model)
        .orderBy(col("doc_id"))
    }),

    "q_calibration" -> ((s, dir) => {
      // the reliability diagram: equal-frequency score deciles vs observed
      // positive rate — what a gate threshold actually buys at each decile
      // (q_auc says the gate orders well; this prices the cut).
      val docs = t(s, dir, "documents")
        .withColumn("y", (col("lang") === "en").cast("long"))
      val model = TextClassifiers.naiveBayesTrain(docs, "text", "y")
      val scored = TextClassifiers.naiveBayesScore(docs, "doc_id", "text", "y", model)
        .join(docs.select(col("doc_id"), col("y")), Seq("doc_id"))
      TextClassifiers.calibrationBins(scored, "doc_id", "y", "score", bins = 10)
    }),

    "q_calibration_hist" -> ((s, dir) => {
      // the 100 TB twin of q_calibration (round 13): equal-frequency bins
      // derived from the bounded (score, y) histogram + interval
      // arithmetic — no row_number over the scored corpus, so the last
      // single-partition doc-table sort in the book is gone. Tie policy
      // (score desc, y desc) is the histogram contract; the oracle
      // replays it as rank selection, proving hist ≡ rank.
      val docs = t(s, dir, "documents")
        .withColumn("y", (col("lang") === "en").cast("long"))
      val model = TextClassifiers.naiveBayesTrain(docs, "text", "y")
      val scored = TextClassifiers.naiveBayesScore(docs, "doc_id", "text", "y", model)
        .join(docs.select(col("doc_id"), col("y")), Seq("doc_id"))
      TextClassifiers.calibrationBinsHist(scored, "doc_id", "y", "score", bins = 10)
    }),

    "q_auc" -> ((s, dir) => {
      // the classifier evaluation: exact per-source ROC-AUC of the NB
      // quality score against the true label (Mann–Whitney rank sums,
      // integer-exact with tie-averaged ranks) — does the gate actually
      // discriminate, and uniformly across sources?
      val docs = t(s, dir, "documents")
        .withColumn("y", (col("lang") === "en").cast("long"))
      val model = TextClassifiers.naiveBayesTrain(docs, "text", "y")
      val scored = TextClassifiers.naiveBayesScore(docs, "doc_id", "text", "y", model)
        .join(docs.select(col("doc_id"), col("source"), col("y")), Seq("doc_id"))
      TextClassifiers.aucByGroup(scored, "source", "y", "score")
        .orderBy(col("source"))
    }),

    "q_dsir_weights" -> ((s, dir) => {
      // DSIR (Xie et al. 2023): hashed-bigram bucket distributions for
      // target (lang=='en') vs raw (all docs); per-doc quantized
      // log(p_target/p_raw) importance weight. Model = 1024 rows at ANY
      // corpus size — the hashing trick is the scale story.
      val docs = t(s, dir, "documents")
        .withColumn("y", (col("lang") === "en").cast("long"))
      TextClassifiers.dsirWeights(docs, "doc_id", "text", "y", buckets = 1024)
        .orderBy(col("doc_id"))
    }),

    "q_shuffle_shards" -> ((s, dir) => {
      // deterministic per-epoch training shuffle: 2 epochs × 8 shards,
      // shard chosen map-side from md5(id, epoch), position = in-shard
      // rank of the same key. No global sort anywhere — the window runs
      // per (epoch, shard). Per-shard manifest keeps output bounded.
      TrainingOrder.shuffleShards(t(s, dir, "documents"), "doc_id",
          epochs = 2, nShards = 8)
        .groupBy(col("epoch").cast("long").as("epoch"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_id"),
          max(col("doc_id")).as("last_id"),
          sum(col("doc_id") * col("pos")).as("order_sig"))
        .orderBy(col("epoch"), col("shard"))
    }),

    "q_mix_interleave" -> ((s, dir) => {
      // the full mixture materialization: temperature-scaled allocation
      // (q_mix_weights) -> deterministic upsampling to exactly alloc rows
      // per source -> Bresenham interleave into one training order.
      // Profiled per source: row/doc/copy counts and position coverage —
      // pos_sig pins every (row, position) assignment exactly.
      val docs = t(s, dir, "documents")
      val alloc = graft.operators.DatasetSplit.mixAllocation(docs, "source", 10000L)
      val ups = TrainingOrder.upsampleToAllocation(docs, "doc_id", "source", alloc)
      TrainingOrder.interleave(ups, "doc_id", "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs_used"),
          max(col("copy")).as("max_copy"),
          min(col("pos_key")).as("first_pos"),
          max(col("pos_key")).as("last_pos"),
          sum(col("pos_key") * col("rank_in_group")).as("pos_sig"))
        .orderBy(col("source"))
    }),

    "q_chunk" -> ((s, dir) => {
      // long-doc chunking: 40-token windows every 30 tokens (10-token
      // overlap). Chunk md5s pin every token of every window — and feed
      // chunk-level exact dedup directly.
      graft.operators.CorpusStats.chunkDocuments(
          t(s, dir, "documents"), "doc_id", "text", size = 40, stride = 30)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    "q_reservoir_sample" -> ((s, dir) => {
      // reproducible per-source k-sample (the reservoir-sampling job,
      // determinized): keep each source's 5 lowest-md5 docs. Mergeable —
      // bottom-k of shard-level bottom-k's is the global bottom-k — and
      // the streaming twin carries it as bounded per-group state.
      graft.operators.DatasetSplit.bottomKSample(
          t(s, dir, "documents").select(col("source"), col("doc_id"), col("n_chars")),
          "source", "doc_id", 5)
        .select(col("source"), col("sample_rank"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("sample_rank"))
    }),

    "q_corpus_drift" -> ((s, dir) => {
      // distribution-shift monitor: which tokens moved most between two
      // corpus slices (parity split stands in for yesterday/today)? One
      // vocab-bounded agg + broadcast totals + top-k; cross-multiplied
      // integer frequency gaps, no division anywhere.
      val docs = t(s, dir, "documents")
        .withColumn("side", pmod(col("doc_id"), lit(2)))
      graft.operators.CorpusStats.tokenDrift(docs, "text", "side", 20)
        .orderBy(col("drift_scaled").desc, col("token"))
    }),

    "q_doc_topics" -> ((s, dir) => {
      // corpus topic dashboard: k-means cluster the embedding space (the
      // SAME deterministic Lloyd the IVF/SemDeDup path trains), then per
      // cluster report its size and top-3 tokens of its member docs —
      // the "what did we actually keep" review table.
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfTrainKMeans(emb, "vec_id", "embedding", 32, iters = 2)
      val assigned = emb
        .select(col("vec_id"), col("embedding").cast("array<double>").as("cv"))
        .withColumn("cluster", Similarity.ivfCellExpr(col("cv"), cents))
        .select(col("vec_id"), col("cluster"))
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = docs.join(assigned, docs("doc_id") === assigned("vec_id"))
        .select(col("cluster"), explode(TextFunctions.tokens(col("text"))).as("token"))
      val nDocs = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n_docs"))
      val tc = toks.groupBy(col("cluster"), col("token")).agg(count(lit(1)).as("n_occ"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
        .orderBy(col("n_occ").desc, col("token").asc)
      tc.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .join(nDocs, Seq("cluster"))
        .select(col("cluster"), col("n_docs"), col("rank"), col("token"), col("n_occ"))
        .orderBy(col("cluster"), col("rank"))
    })
  )

  // =================================================================== oracles

  import PipelineQueries.{duckHash, duckToks, kmeansReplayCtes}

  /** DuckDB word-bigram list replay (same construction as q_bigram_surprisal). */
  private def duckBigrams(tk: String): String =
    s"""CASE WHEN len($tk) >= 2
       |  THEN list_transform(range(len($tk) - 1),
       |                      i -> array_to_string(list_slice($tk, i+1, i+2), ' '))
       |  ELSE [] END""".stripMargin

  private def qb(e: String): String = s"(length(bin(($e) + 1)) - 1)"

  def oracleSql: Map[String, String] = Map(

    "q_calibration" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents
         |),
         |toks AS (SELECT doc_id, y, unnest(${duckToks()}) AS token FROM d),
         |model AS (
         |  SELECT token, sum(y) AS c_pos, sum(1 - y) AS c_neg
         |  FROM toks GROUP BY token
         |),
         |mb AS (SELECT token, ${qb("c_pos")} - ${qb("c_neg")} AS bits FROM model),
         |prior AS (SELECT ${qb("sum(y)")} - ${qb("sum(1 - y)")} AS p FROM d),
         |sc AS (
         |  SELECT doc_id, sum(bits) AS s
         |  FROM toks JOIN mb USING (token) GROUP BY doc_id
         |),
         |scores AS (
         |  SELECT d.doc_id, d.y,
         |    CAST(coalesce(sc.s, 0) + prior.p AS BIGINT) AS score
         |  FROM d LEFT JOIN sc USING (doc_id) CROSS JOIN prior
         |),
         |r AS (
         |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk,
         |    count(*) OVER () AS n
         |  FROM scores
         |),
         |b AS (SELECT CAST(((rk - 1) * 10) // n AS BIGINT) AS bin, y, score FROM r)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(sum(y) * 1000 // count(*) AS BIGINT) AS pos_rate_milli,
         |  CAST(sum(score) AS BIGINT) AS sum_score
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // q_calibration's chain with the HISTOGRAM contract's tie policy:
    // rank by (score DESC, y DESC, doc_id ASC). The rank-selection replay
    // of the interval-arithmetic twin — green means hist ≡ rank exactly.
    "q_calibration_hist" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents
         |),
         |toks AS (SELECT doc_id, y, unnest(${duckToks()}) AS token FROM d),
         |model AS (
         |  SELECT token, sum(y) AS c_pos, sum(1 - y) AS c_neg
         |  FROM toks GROUP BY token
         |),
         |mb AS (SELECT token, ${qb("c_pos")} - ${qb("c_neg")} AS bits FROM model),
         |prior AS (SELECT ${qb("sum(y)")} - ${qb("sum(1 - y)")} AS p FROM d),
         |sc AS (
         |  SELECT doc_id, sum(bits) AS s
         |  FROM toks JOIN mb USING (token) GROUP BY doc_id
         |),
         |scores AS (
         |  SELECT d.doc_id, d.y,
         |    CAST(coalesce(sc.s, 0) + prior.p AS BIGINT) AS score
         |  FROM d LEFT JOIN sc USING (doc_id) CROSS JOIN prior
         |),
         |r AS (
         |  SELECT *, row_number() OVER (ORDER BY score DESC, y DESC, doc_id ASC) AS rk,
         |    count(*) OVER () AS n
         |  FROM scores
         |),
         |b AS (SELECT CAST(((rk - 1) * 10) // n AS BIGINT) AS bin, y, score FROM r)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(sum(y) * 1000 // count(*) AS BIGINT) AS pos_rate_milli,
         |  CAST(sum(score) AS BIGINT) AS sum_score
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q_nb_classifier" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents
         |),
         |toks AS (SELECT doc_id, y, unnest(${duckToks()}) AS token FROM d),
         |model AS (
         |  SELECT token, sum(y) AS c_pos, sum(1 - y) AS c_neg
         |  FROM toks GROUP BY token
         |),
         |mb AS (SELECT token, ${qb("c_pos")} - ${qb("c_neg")} AS bits FROM model),
         |prior AS (SELECT ${qb("sum(y)")} - ${qb("sum(1 - y)")} AS p FROM d),
         |sc AS (
         |  SELECT doc_id, count(*) AS n_toks, sum(bits) AS s
         |  FROM toks JOIN mb USING (token) GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(sc.n_toks, 0) AS BIGINT) AS n_toks,
         |  CAST(coalesce(sc.s, 0) + prior.p AS BIGINT) AS score,
         |  CAST(CASE WHEN coalesce(sc.s, 0) + prior.p > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM d LEFT JOIN sc USING (doc_id) CROSS JOIN prior
         |ORDER BY doc_id""".stripMargin,

    // same NB-score CTE chain as q_nb_classifier (plus source), then the
    // Mann–Whitney ladder: rank over (source, score asc), tie counts per
    // (source, score), R2 = sum(2·rank + ties − 1) over positives,
    // auc_micro = (R2 − P(P+1))·1e6 div (2·P·N) in HUGEINT
    "q_auc" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, text,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents
         |),
         |toks AS (SELECT doc_id, y, unnest(${duckToks()}) AS token FROM d),
         |model AS (
         |  SELECT token, sum(y) AS c_pos, sum(1 - y) AS c_neg
         |  FROM toks GROUP BY token
         |),
         |mb AS (SELECT token, ${qb("c_pos")} - ${qb("c_neg")} AS bits FROM model),
         |prior AS (SELECT ${qb("sum(y)")} - ${qb("sum(1 - y)")} AS p FROM d),
         |sc AS (
         |  SELECT doc_id, sum(bits) AS s
         |  FROM toks JOIN mb USING (token) GROUP BY doc_id
         |),
         |scored AS (
         |  SELECT d.source, d.y,
         |    CAST(coalesce(sc.s, 0) + prior.p AS BIGINT) AS score
         |  FROM d LEFT JOIN sc USING (doc_id) CROSS JOIN prior
         |),
         |rk AS (
         |  SELECT source, y, score,
         |    CAST(rank() OVER (PARTITION BY source ORDER BY score ASC) AS BIGINT) AS rnk,
         |    CAST(count(*) OVER (PARTITION BY source, score) AS BIGINT) AS ties
         |  FROM scored
         |),
         |agg AS (
         |  SELECT source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(sum(CASE WHEN y = 1 THEN CAST(2 * rnk + ties - 1 AS HUGEINT)
         |                  ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS r2
         |  FROM rk GROUP BY source
         |)
         |SELECT source, n_docs, n_pos,
         |  CAST(n_docs - n_pos AS BIGINT) AS n_neg,
         |  CAST((r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
         |       // (CAST(2 AS HUGEINT) * n_pos * (n_docs - n_pos)) AS BIGINT) AS auc_micro
         |FROM agg
         |WHERE n_pos > 0 AND n_docs - n_pos > 0
         |ORDER BY source""".stripMargin,

    "q_dsir_weights" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents
         |),
         |tk AS (SELECT doc_id, y, ${duckToks()} AS tk FROM d),
         |grams AS (
         |  SELECT doc_id, y, unnest(${duckBigrams("tk")}) AS g FROM tk
         |),
         |gb AS (SELECT doc_id, y, ${duckHash("g")} % 1024 AS bucket FROM grams),
         |model AS (
         |  SELECT bucket, sum(y) AS c_target, count(*) AS c_raw
         |  FROM gb GROUP BY bucket
         |),
         |mb AS (SELECT bucket, ${qb("c_target")} - ${qb("c_raw")} AS bits FROM model),
         |norm AS (
         |  SELECT ${qb("sum(c_raw)")} - ${qb("sum(c_target)")} AS nm FROM model
         |),
         |sc AS (
         |  SELECT doc_id, count(*) AS n_grams, sum(bits) AS s
         |  FROM gb JOIN mb USING (bucket) GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(sc.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(sc.s, 0) + coalesce(sc.n_grams, 0) * norm.nm AS BIGINT) AS weight,
         |  CAST(CASE WHEN coalesce(sc.s, 0) + coalesce(sc.n_grams, 0) * norm.nm >= 0
         |       THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM d LEFT JOIN sc USING (doc_id) CROSS JOIN norm
         |ORDER BY doc_id""".stripMargin,

    "q_shuffle_shards" ->
      """WITH e AS (
        |  SELECT doc_id, unnest([1, 2]) AS epoch FROM documents
        |),
        |k AS (
        |  SELECT doc_id, epoch, md5(concat_ws('_', doc_id, epoch)) AS skey FROM e
        |),
        |a AS (
        |  SELECT CAST(epoch AS BIGINT) AS epoch,
        |    CAST(('0x' || substring(skey, 1, 8)) AS BIGINT) % 8 AS shard,
        |    doc_id,
        |    CAST(row_number() OVER (
        |      PARTITION BY epoch, CAST(('0x' || substring(skey, 1, 8)) AS BIGINT) % 8
        |      ORDER BY skey, doc_id) AS BIGINT) AS pos
        |  FROM k
        |)
        |SELECT epoch, shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS first_id,
        |  CAST(max(doc_id) AS BIGINT) AS last_id,
        |  CAST(sum(doc_id * pos) AS BIGINT) AS order_sig
        |FROM a GROUP BY epoch, shard
        |ORDER BY epoch, shard""".stripMargin,

    "q_mix_interleave" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1
        |),
        |w AS (
        |  SELECT source, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS wm
        |  FROM c
        |),
        |a AS (
        |  SELECT source, n_docs,
        |    CAST((10000 * wm) // (SELECT sum(wm) FROM w) AS BIGINT) AS alloc
        |  FROM w
        |),
        |r AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(concat_ws('_', doc_id)), doc_id) AS BIGINT) AS r
        |  FROM documents
        |),
        |ups AS (
        |  SELECT r.source, r.doc_id,
        |    unnest(range(1, 1 + (a.alloc // a.n_docs)
        |      + CASE WHEN r.r <= a.alloc % a.n_docs THEN 1 ELSE 0 END)) AS copy
        |  FROM r JOIN a USING (source)
        |),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS gsz FROM ups GROUP BY 1),
        |ik AS (
        |  SELECT source, doc_id, copy,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(concat_ws('_', doc_id, copy)), doc_id, copy) AS BIGINT) AS r
        |  FROM ups
        |),
        |pos AS (
        |  SELECT ik.source, ik.doc_id, ik.copy, ik.r,
        |    ((2 * ik.r - 1) * (SELECT sum(gsz) FROM g)) // (2 * g.gsz) AS pos_key
        |  FROM ik JOIN g USING (source)
        |)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_used,
        |  CAST(max(copy) AS BIGINT) AS max_copy,
        |  CAST(min(pos_key) AS BIGINT) AS first_pos,
        |  CAST(max(pos_key) AS BIGINT) AS last_pos,
        |  CAST(sum(pos_key * r) AS BIGINT) AS pos_sig
        |FROM pos GROUP BY source ORDER BY source""".stripMargin,

    "q_chunk" ->
      s"""WITH toks AS (SELECT doc_id, ${duckToks()} AS tk FROM documents),
         |c AS (
         |  SELECT doc_id, tk,
         |    unnest(CASE WHEN len(tk) >= 1
         |      THEN range(((GREATEST(0, len(tk) - 40) + 29) // 30) + 1) ELSE [] END) AS chunk_idx
         |  FROM toks
         |)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(len(list_slice(tk, chunk_idx * 30 + 1, chunk_idx * 30 + 40)) AS BIGINT)
         |    AS n_chunk_toks,
         |  md5(array_to_string(list_slice(tk, chunk_idx * 30 + 1, chunk_idx * 30 + 40), ' '))
         |    AS chunk_hash
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_reservoir_sample" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(concat_ws('_', doc_id)), doc_id) AS BIGINT) AS sample_rank
        |  FROM documents
        |)
        |SELECT source, sample_rank, doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |FROM r WHERE sample_rank <= 5 ORDER BY source, sample_rank""".stripMargin,

    "q_corpus_drift" ->
      s"""WITH toks AS (
         |  SELECT doc_id % 2 AS side, unnest(${duckToks()}) AS token
         |  FROM documents
         |),
         |counts AS (
         |  SELECT token,
         |    CAST(sum(1 - side) AS BIGINT) AS n_a,
         |    CAST(sum(side) AS BIGINT) AS n_b
         |  FROM toks GROUP BY token
         |),
         |tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM counts)
         |SELECT token, n_a, n_b,
         |  CAST(abs(n_a * tot.tb - n_b * tot.ta) AS BIGINT) AS drift_scaled
         |FROM counts CROSS JOIN tot
         |ORDER BY drift_scaled DESC, token ASC LIMIT 20""".stripMargin,

    "q_doc_topics" ->
      s"""WITH ${kmeansReplayCtes(iters = 2, dim = 64)},
         |toks AS (
         |  SELECT a.cell AS cluster, unnest(${duckToks("d.text")}) AS token
         |  FROM documents d JOIN cellsf a ON a.vec_id = d.doc_id
         |),
         |nd AS (SELECT cell AS cluster, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM cellsf GROUP BY cell),
         |tc AS (SELECT cluster, token, count(*) AS n_occ FROM toks GROUP BY 1, 2),
         |rk AS (
         |  SELECT cluster, token, n_occ,
         |    CAST(row_number() OVER (PARTITION BY cluster
         |      ORDER BY n_occ DESC, token ASC) AS BIGINT) AS rank
         |  FROM tc
         |)
         |SELECT r.cluster, nd.n_docs, r.rank, r.token, CAST(r.n_occ AS BIGINT) AS n_occ
         |FROM rk r JOIN nd USING (cluster) WHERE r.rank <= 3
         |ORDER BY cluster, rank""".stripMargin
  )
}
