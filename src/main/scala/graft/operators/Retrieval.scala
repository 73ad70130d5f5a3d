package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/**
 * Retrieval scoring over a document corpus: BM25 term scoring and
 * reciprocal-rank fusion of lexical + embedding rankings — the query side
 * of a training-data pipeline (targeted corpus search, quality-weighted
 * retrieval for data curation, hybrid dedup candidate review).
 *
 * Integer discipline (the repo-wide oracle contract): BM25's fractional
 * constants k1=1.2, b=0.75 are exact decimal scalings, so the whole score is
 * computed in BIGINT milli-units with explicit floor divisions — no libm, no
 * doubles — and replays value-exactly in any engine with 64-bit integer
 * division. idf uses the established bit-length quantization
 * (floor(log2(N/df)), cf. CorpusStats.tfIdfTop).
 *
 * Scale shape: one tokenize+explode pass builds tf (shuffle keyed by
 * (doc, term)); document frequency and corpus totals are term-keyed
 * aggregates of that same table; the query-term set is tiny by construction
 * and BROADCASTS, so scoring touches only postings of query terms and the
 * final top-k is a TakeOrdered (no global sort). Reference surface: artan
 * has no retrieval ops — this extends the pipeline family beyond the
 * reference scope (cf. /root/reference/README.md:7 scope statement).
 */
object Retrieval {

  /** k1=1.2 and b=0.75 in milli-units — the classic Robertson defaults.
    * All divisions below are SQL `div` (exact BIGINT division; `/` in Spark
    * SQL is double division, which is NOT replayable for large operands). */
  private val K1Milli = 1200L
  private val BMilli  = 750L

  /** Retrieval term projection: unigram tokens for gram=1, space-joined word
    * n-grams (phrase terms) for gram>=2. Phrase terms are the right unit on
    * small-vocabulary corpora, where every unigram is near-universal (idf 0)
    * but n-gram df spreads out — the same reason search engines index
    * phrases. Uses the codegen'd WordNGramsExpr kernel. */
  private def termCol(textCol: String, gram: Int) =
    if (gram == 1) TextFunctions.tokens(col(textCol))
    else graft.functions.HashExpressions.wordNGrams(col(textCol), gram)

  /**
   * Corpus-derived query-term set: the n highest-document-frequency terms
   * of at least `minLen` chars whose df stays UNDER n_docs/maxDfDiv (ties
   * broken by term asc). The df cap keeps the fixture informative: a term
   * in more than half the corpus has bit-length idf 0 and scores nothing,
   * so "most frequent overall" would produce an all-zero ranking. The
   * fraction-based cap is scale-stable — the same relative head of the
   * informative vocabulary at any corpus size. Deterministic, data-derived,
   * bounded (n rows): the fixture generator for the retrieval queries and a
   * reasonable "head query" stand-in.
   */
  def topDfTerms(docs: DataFrame, textCol: String, n: Int, minLen: Int,
                 maxDfDiv: Long = 10L, gram: Int = 1): DataFrame = {
    require(n >= 1 && minLen >= 1 && maxDfDiv >= 1 && gram >= 1)
    // n_docs counts docs with >= 1 term OF THIS GRAM — the same universe
    // [[bm25]]'s totals are computed over (its dl table only holds docs with
    // terms). Counting ALL docs here would diverge from the scorer whenever
    // a doc has < gram tokens, flipping query-term selection at the df-cap
    // boundary (round-11 advice fix).
    val nDocs = docs.select(termCol(textCol, gram).as("_tks"))
      .where(size(col("_tks")) >= 1).agg(count(lit(1)).as("n_docs"))
    docs.select(explode(array_distinct(termCol(textCol, gram))).as("term"))
      .where(length(col("term")) >= minLen)
      .groupBy(col("term")).agg(count(lit(1)).as("dfc"))
      .crossJoin(broadcast(nDocs))
      .where(col("dfc") * lit(maxDfDiv) <= col("n_docs"))
      .orderBy(col("dfc").desc, col("term").asc)
      .limit(n)
  }

  /**
   * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) in milli-units, all BIGINT:
   *   inner_milli = 250 + (750 * ratio_milli) div 1000
   *   den_milli   = tf*1000 + (1200 * inner_milli) div 1000
   *   satur_milli = (tf * 2200 * 1000) div den_milli
   * den_milli >= tf*1000 >= 1000 so the division is always defined; with
   * tf <= ~1e6 and ratio_milli <= ~1e6 every intermediate fits int64 with
   * ~6 orders of headroom. Expects columns `tf` and `ratio_milli`.
   */
  private val bm25SaturMilliExpr =
    s"""CAST((tf * ${K1Milli + 1000L} * 1000)
       | div (tf * 1000 + ($K1Milli * (250 + ($BMilli * ratio_milli) div 1000)) div 1000)
       | AS BIGINT)""".stripMargin

  /**
   * BM25 score of every document containing at least one query term.
   * Output: (id, n_hit_terms, dl, score_milli) with
   *   idf_bits    = floor(log2(n_docs div df))            (bit-length)
   *   ratio_milli = (dl * 1000 * n_docs) div total_tokens (dl/avgdl)
   *   score_milli = sum over matched terms of idf_bits * satur_milli.
   * Terms with idf_bits = 0 (df > n_docs/2) contribute nothing, exactly
   * like the quantized tf-idf. `queryTerms` must be a small DataFrame with
   * a `term` column; it broadcasts, so scoring is a map-side semi-join on
   * the tf table — only query-term postings ever shuffle to the doc key.
   */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: DataFrame, gram: Int = 1): DataFrame = {
    val toks = docs.select(col(idCol), explode(termCol(textCol, gram)).as("term"))
    // persisted: dl, dfreq and the score join all consume the tf table —
    // uncached, each re-ran the corpus tokenize+explode+agg (round-13
    // profiling: the 256k-record token stage appeared 4x per bm25 call)
    val tf = graft.FrameCache.persist(
      toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfc"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))

    val q = queryTerms.select(col("term"))
    tf.join(broadcast(q), Seq("term"))
      .join(broadcast(dfreq.join(broadcast(q), Seq("term"))), Seq("term"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(totals))
      .withColumn("idf_bits", (length(bin(expr("n_docs div dfc"))) - 1).cast("long"))
      // dl*1000*n_docs wraps int64 once dl·n_docs nears 1e16 (a 1e6-token
      // doc in a 1e10-doc corpus), so the product stages through
      // DECIMAL(38,0) — 20 digits worst case, 18 of headroom — before the
      // division shrinks it back to a small BIGINT (the dl/avgdl ratio)
      .withColumn("ratio_milli",
        expr("CAST((CAST(dl AS DECIMAL(38,0)) * 1000 * n_docs) div total_tokens AS BIGINT)"))
      .withColumn("contrib_milli", col("idf_bits") * expr(bm25SaturMilliExpr))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_terms"),
        max(col("dl")).as("dl"),
        sum(col("contrib_milli")).as("score_milli"))
  }

  /**
   * Top-k BM25 retrieval: ranked (rank, id, n_hit_terms, dl, score_milli),
   * ties by id asc. orderBy+limit plans as TakeOrderedAndProject (per-
   * partition heaps, no global sort); the rank window then runs over the
   * ALREADY-BOUNDED k rows, so the single-partition window is k-sized at
   * any corpus scale.
   */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: DataFrame, k: Int, gram: Int = 1): DataFrame =
    bm25(docs, idCol, textCol, queryTerms, gram)
      .orderBy(col("score_milli").desc, col(idCol).asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_milli").desc, col(idCol).asc)).cast("long"))
      .select(col("rank"), col(idCol), col("n_hit_terms"), col("dl"), col("score_milli"))

  /**
   * Reciprocal-rank fusion of two rankings over the same id space — the
   * standard hybrid-retrieval combiner (lexical BM25 + embedding cosine),
   * integer-exact: score = sum over lists of floor(scale / (kConst + rank));
   * an id absent from one list contributes 0 from that list (reported rank
   * 0 = "unranked"). Both inputs are top-k lists (bounded by construction),
   * so the fusion is a tiny full-outer join + TakeOrdered; ties by id asc.
   */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              kConst: Long = 60L, scale: Long = 1000000L, topK: Int = 20): DataFrame = {
    val l = a.select(col(idCol), col("rank").as("rank_lex"))
    val r = b.select(col(idCol), col("rank").as("rank_vec"))
    l.join(r, Seq(idCol), "full_outer")
      .withColumn("rrf_milli",
        when(col("rank_lex").isNotNull,
          expr(s"CAST($scale div ($kConst + rank_lex) AS BIGINT)")).otherwise(lit(0L)) +
        when(col("rank_vec").isNotNull,
          expr(s"CAST($scale div ($kConst + rank_vec) AS BIGINT)")).otherwise(lit(0L)))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_milli").desc, col(idCol).asc)).cast("long"))
      .where(col("rank") <= topK)
      .select(col("rank"), col(idCol),
        coalesce(col("rank_lex"), lit(0L)).cast("long").as("rank_lex"),
        coalesce(col("rank_vec"), lit(0L)).cast("long").as("rank_vec"),
        col("rrf_milli"))
  }

  /**
   * Ranking-AGREEMENT metrics between two bounded top-k lists over the same
   * id space — the evaluation half of hybrid retrieval (how far apart are
   * the lexical and vector views?), and generally a rank-correlation
   * operator for any two rankings (e.g. quality score vs. centrality).
   * One row out:
   *   n_common      ids in both lists
   *   overlap_milli n_common*1000 div k
   *   first_hit_rank min b-rank among a's top-`headK` ids (0 = no hit)
   *   mrr_micro     1000000 div first_hit_rank (0 = no hit)
   *   n_conc/n_disc concordant/discordant common-id pairs
   *   tau_milli     sign-split Kendall tau: ±((|C-D|)*1000 div (C+D))
   * The tau quotient is computed on the NON-NEGATIVE |C-D| and re-signed so
   * the rounding rule is engine-independent (integer division of negatives
   * truncates toward zero in Spark but floors in DuckDB/Python).
   * Both inputs are top-k lists, so every stage is k-bounded (the pair
   * enumeration is <= C(k,2) rows on a broadcast-sized frame).
   */
  def rankAgreement(a: DataFrame, b: DataFrame, idCol: String,
                    k: Int, headK: Int = 10): DataFrame = {
    // persisted: the pair enumeration, first-hit and count branches all
    // consume `common`; uncached, each re-ran BOTH input rankings from
    // scratch (a full BM25 pass per branch in q_rank_eval). common is <= k
    // rows by construction — the cache is bounded at any corpus scale.
    val common = graft.FrameCache.persist(
      a.select(col(idCol), col("rank").as("rank_a"))
        .join(b.select(col(idCol), col("rank").as("rank_b")), Seq(idCol)))
    val x = common.select(col(idCol).as("_i"), col("rank_a").as("ra1"), col("rank_b").as("rb1"))
    val y = common.select(col(idCol).as("_j"), col("rank_a").as("ra2"), col("rank_b").as("rb2"))
    val pairs = x.join(y, col("_i") < col("_j"))
      .select(((col("ra1") < col("ra2")) === (col("rb1") < col("rb2"))).as("conc"))
      .agg(sum(when(col("conc"), 1L).otherwise(0L)).as("n_conc"),
        sum(when(col("conc"), 0L).otherwise(1L)).as("n_disc"))
    val firstHit = common.where(col("rank_a") <= headK)
      .agg(min(col("rank_b")).as("fh"))
    val counts = common.agg(count(lit(1)).as("n_common"))
    counts.crossJoin(firstHit).crossJoin(pairs)
      .select(
        col("n_common"),
        expr(s"CAST(n_common * 1000 div $k AS BIGINT)").as("overlap_milli"),
        coalesce(col("fh"), lit(0L)).as("first_hit_rank"),
        coalesce(expr("CAST(1000000 div fh AS BIGINT)"), lit(0L)).as("mrr_micro"),
        coalesce(col("n_conc"), lit(0L)).as("n_conc"),
        coalesce(col("n_disc"), lit(0L)).as("n_disc"),
        when(coalesce(col("n_conc"), lit(0L)) + coalesce(col("n_disc"), lit(0L)) === 0L, lit(0L))
          .otherwise(
            when(col("n_conc") >= col("n_disc"), lit(1L)).otherwise(lit(-1L)) *
            expr("CAST(abs(n_conc - n_disc) * 1000 div (n_conc + n_disc) AS BIGINT)"))
          .as("tau_milli"))
  }
}
