package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DatasetSplit
import graft.text.{BpeTrainer, SubwordTokenizer, TextFunctions}

/**
 * Round-8 wave: tokenizer-faithful token counting. Every budget / packing /
 * staging operator takes a caller-supplied token-count column; this wave
 * supplies one that counts SUBWORD tokens the way a real training tokenizer
 * would (corpus-trained gram vocabulary + greedy longest-prefix-match
 * segmentation — the WordPiece/BPE-inference family), and proves the
 * integration end to end by driving the token-budget allocator off subword
 * counts instead of whitespace words.
 *
 * Contract discipline as every wave: integer-exact arithmetic, DuckDB
 * value-exact replays (train = count + top-k; apply = recursive
 * longest-prefix walk over the distinct-word set), bounded driver model
 * (vocabSize rows), native codegen kernel, zero UDFs.
 */
object TokenizerQueries {

  import Tables.t

  private val MaxLen = 4
  private val VocabSize = 256
  private val MinCount = 5L
  private val BpeMerges = 8
  private val BpeMinPair = 2L
  private val BpeBatch = 3

  // =================================================================== queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_subword_vocab" -> ((s, dir) => {
      // the trained tokenizer model itself: top-256 character grams (len
      // 2..4) over all corpus words by (count desc, gram asc), count >= 5 —
      // two shuffles ending in TakeOrderedAndProject, the auditable
      // artifact every downstream subword count derives from.
      SubwordTokenizer.trainVocab(t(s, dir, "documents"), "text",
          maxLen = MaxLen, vocabSize = VocabSize, minCount = MinCount)
        .orderBy(col("cnt").desc, col("gram").asc)
    }),

    "q_bpe_tokens" -> ((s, dir) => {
      // tokenizer-faithful per-doc token counting: greedy longest-prefix
      // segmentation of every word against the trained vocab (native
      // kernel, vocab broadcast as ONE codegen reference object). n_chars /
      // n_subwords is the compression a real BPE run would report; the
      // n_subwords column is the drop-in sizeCol for any budget/packing op.
      val docs = t(s, dir, "documents")
      val k = SubwordTokenizer.kernel(
        SubwordTokenizer.trainVocab(docs, "text", MaxLen, VocabSize, MinCount), MaxLen)
      docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          aggregate(transform(col("toks"), w => length(w).cast("long")),
            lit(0L), (a, v) => a + v).as("n_chars"),
          SubwordTokenizer.subwordCount(col("toks"), k).as("n_subwords"))
        .orderBy(col("doc_id"))
    }),

    "q_bpe_budget" -> ((s, dir) => {
      // the integration proof: the data-constrained token budget allocator
      // driven by SUBWORD counts — same allocator, same oracle shape as
      // q_repetition_budget, but the size column now means what a trainer
      // means by "tokens".
      val docs = t(s, dir, "documents")
      val k = SubwordTokenizer.kernel(
        SubwordTokenizer.trainVocab(docs, "text", MaxLen, VocabSize, MinCount), MaxLen)
      val sizes = docs
        .select(col("lang"),
          SubwordTokenizer.subwordCount(
            TextFunctions.tokens(col("text")), k).as("n"))
        .groupBy(col("lang"))
        .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_docs"))
      DatasetSplit.budgetAllocation(sizes, "lang", "n_tokens",
          totalTarget = 100000L, maxEpochs = 4)
        .select(col("lang"), col("n_tokens"), col("n_docs"), col("weight_micro"),
          col("raw_alloc"), col("alloc"), col("epochs_micro"), col("shortfall"))
        .orderBy(col("lang"))
    }),

    "q_bpe_train" -> ((s, dir) => {
      // REAL distributed BPE training (Sennrich et al. 2016): 8 merges
      // learned at the word-frequency table — per merge one pair-count
      // shuffle + a 4-row argmax fetch + a map-side fold apply. The
      // learned merge table IS the output (the auditable tokenizer
      // artifact); the oracle replays all 8 stages including the
      // tie-broken argmax and the positional merge walk.
      val (merges, _) = BpeTrainer.train(
        t(s, dir, "documents"), "text", BpeMerges, BpeMinPair)
      import s.implicits._
      merges.map(m => (m.step.toLong, m.left, m.right, m.merged, m.pairCount))
        .toDF("step", "lft", "rgt", "merged", "pair_count")
        .orderBy(col("step"))
    }),

    "q_bpe_train_batched" -> ((s, dir) => {
      // k-BATCHED BPE training (round 13; the 32k-vocab scale path): up to
      // 3 symbol-disjoint merges learned per pair-count shuffle — rounds
      // of (rank pairs once, greedily accept the top non-conflicting 3,
      // apply all in one map-side projection). 8 merges in 3 shuffles
      // instead of 8; at a real 32k vocabulary that is ~11k jobs saved.
      // The oracle replays the full grid: per round the ranked 12-pair
      // pool, the greedy symbol-disjoint acceptance walk, and one
      // positional merge walk per accepted slot, applied in rank order.
      val (merges, _) = BpeTrainer.trainBatched(
        t(s, dir, "documents"), "text", BpeMerges, BpeBatch, BpeMinPair)
      import s.implicits._
      merges.map(m => (m.step.toLong, m.left, m.right, m.merged, m.pairCount))
        .toDF("step", "lft", "rgt", "merged", "pair_count")
        .orderBy(col("step"))
    }),

    "q_bpe_segment" -> ((s, dir) => {
      // per-doc token counts under the TRAINED BPE (8 merges applied):
      // the word table carries the final tokenization, docs' words join it
      // co-partitioned (the word table is data-sized — never broadcast by
      // assumption) and per-doc sums ride one agg shuffle.
      val docs = t(s, dir, "documents")
      val (_, words) = BpeTrainer.train(docs, "text", BpeMerges, BpeMinPair)
      val out = BpeTrainer.segmentCounts(docs, "doc_id", "text", words)
        .orderBy(col("doc_id"))
      out
    }),

    "q_fertility" -> ((s, dir) => {
      // the tokenizer-evaluation dashboard: per-(lang, source) fertility
      // (BPE tokens/word, milli) and compression (chars/token, milli)
      // under the trained 8-merge BPE — which corpus slices the vocabulary
      // underserves. Words join co-partitioned; one group agg whose
      // partials collapse map-side to |langs x sources| rows.
      val docs = t(s, dir, "documents")
      val (_, words) = BpeTrainer.train(docs, "text", BpeMerges, BpeMinPair)
      BpeTrainer.fertility(docs, Seq("lang", "source"), "text", words)
        .orderBy(col("lang"), col("source"))
    })
  )

  // =================================================================== oracles

  import PipelineQueries.duckToks

  /** Shared replay: trained vocab + recursive greedy longest-prefix walk over
    * the distinct-word set → per-word subword count (`wcnt`), per-doc join-
    * back (`agg`). Composable prefix for every oracle in this wave. */
  private def walkReplay(extraDocCols: String = "") =
    s"""d AS (SELECT doc_id$extraDocCols, ${duckToks()} AS toks FROM documents),
       |w0 AS (SELECT unnest(toks) AS w FROM d),
       |grams AS (
       |  SELECT unnest(flatten(list_transform(range(2, ${MaxLen + 1}), l ->
       |    list_filter(
       |      list_transform(range(1, greatest(len(w) - l + 1, 1) + 1),
       |        i -> substring(w, CAST(i AS INTEGER), CAST(l AS INTEGER))),
       |      g -> len(g) = l)))) AS gram
       |  FROM w0
       |),
       |vocab AS (
       |  SELECT gram FROM (
       |    SELECT gram, count(*) AS cnt FROM grams GROUP BY gram
       |    HAVING count(*) >= $MinCount ORDER BY cnt DESC, gram ASC LIMIT $VocabSize)
       |),
       |uw AS (SELECT DISTINCT w FROM w0),
       |walk AS (
       |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cnt FROM uw
       |  UNION ALL
       |  SELECT k.w, k.pos + k.step, k.cnt + 1
       |  FROM (
       |    SELECT wk.w, wk.pos, wk.cnt,
       |      CASE
       |        WHEN len(wk.w) - wk.pos + 1 >= 4 AND substring(wk.w, CAST(wk.pos AS INTEGER), 4) IN (SELECT gram FROM vocab) THEN 4
       |        WHEN len(wk.w) - wk.pos + 1 >= 3 AND substring(wk.w, CAST(wk.pos AS INTEGER), 3) IN (SELECT gram FROM vocab) THEN 3
       |        WHEN len(wk.w) - wk.pos + 1 >= 2 AND substring(wk.w, CAST(wk.pos AS INTEGER), 2) IN (SELECT gram FROM vocab) THEN 2
       |        ELSE 1 END AS step
       |    FROM walk wk WHERE wk.pos <= len(wk.w)
       |  ) k
       |),
       |wcnt AS (SELECT w, cnt FROM walk WHERE pos > len(w)),
       |dw AS (SELECT doc_id, unnest(toks) AS w FROM d),
       |agg AS (SELECT doc_id, CAST(sum(c.cnt) AS BIGINT) AS n_subwords
       |        FROM dw JOIN wcnt c USING (w) GROUP BY doc_id)""".stripMargin

  /**
   * BPE-training replay: `BpeMerges` unrolled stages, each = weighted
   * adjacent-pair count → tie-broken argmax → per-word recursive positional
   * merge walk (provably equal to the Scala fold: a freshly merged token
   * never equals `lft` again, so greedy left-to-right non-overlap is the
   * same walk). Non-recursive CTEs are MATERIALIZED — DuckDB inlines CTEs
   * by default and the stage chain would otherwise re-expand exponentially.
   */
  private def bpeReplay: String = {
    val stages = (0 until BpeMerges).map { s =>
      s"""p$s AS MATERIALIZED (
         |  SELECT toks[CAST(i AS INTEGER)] AS lft, toks[CAST(i AS INTEGER)+1] AS rgt,
         |    CAST(sum(cnt) AS BIGINT) AS c
         |  FROM words$s, unnest(range(1, len(toks))) AS t(i)
         |  GROUP BY 1, 2 HAVING sum(cnt) >= $BpeMinPair
         |),
         |best$s AS MATERIALIZED (
         |  SELECT lft, rgt, lft || rgt AS merged, c FROM p$s
         |  ORDER BY c DESC, lft ASC, rgt ASC LIMIT 1
         |),
         |walk$s AS (
         |  SELECT w, cnt, toks, CAST(1 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS out
         |  FROM words$s
         |  UNION ALL
         |  SELECT w, cnt, toks,
         |    CASE WHEN pos < len(toks)
         |          AND toks[CAST(pos AS INTEGER)] = (SELECT lft FROM best$s)
         |          AND toks[CAST(pos AS INTEGER)+1] = (SELECT rgt FROM best$s)
         |         THEN pos + 2 ELSE pos + 1 END,
         |    CASE WHEN pos < len(toks)
         |          AND toks[CAST(pos AS INTEGER)] = (SELECT lft FROM best$s)
         |          AND toks[CAST(pos AS INTEGER)+1] = (SELECT rgt FROM best$s)
         |         THEN list_append(out, (SELECT merged FROM best$s))
         |         ELSE list_append(out, toks[CAST(pos AS INTEGER)]) END
         |  FROM walk$s WHERE pos <= len(toks)
         |),
         |words${s + 1} AS MATERIALIZED (
         |  SELECT w, cnt, out AS toks FROM walk$s WHERE pos > len(toks))""".stripMargin
    }
    s"""w0_raw AS MATERIALIZED (SELECT unnest(${duckToks()}) AS w FROM documents),
       |words0 AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt,
       |    list_transform(range(1, len(w) + 1),
       |      i -> substring(w, CAST(i AS INTEGER), 1)) AS toks
       |  FROM w0_raw GROUP BY w
       |),
       |${stages.mkString(",\n")}""".stripMargin
  }

  /**
   * Replay of [[graft.text.BpeTrainer.trainBatched]] (nMerges = 8,
   * batch = 3, pool = 12): per round one pair-count CTE + a ranked pool,
   * then per slot a greedy symbol-disjoint acceptance (first pool entry
   * whose symbols avoid every earlier slot of the round) and one
   * recursive positional merge walk — applied in rank order, exactly the
   * trainer's composed fold. Word tables chain bwt0..bwt8; step numbers
   * come from row_number over (round, slot) so an under-filled round
   * (possible only on a degenerate corpus) cannot desynchronize them.
   */
  private def bpeBatchedReplay: String = {
    val rounds = (BpeMerges + BpeBatch - 1) / BpeBatch
    def walk(src: String, best: String, out: String): String =
      s"""${out}_wk AS (
         |  SELECT w, cnt, toks, CAST(1 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS out
         |  FROM $src
         |  UNION ALL
         |  SELECT w, cnt, toks,
         |    CASE WHEN pos < len(toks)
         |          AND toks[CAST(pos AS INTEGER)] = (SELECT lft FROM $best)
         |          AND toks[CAST(pos AS INTEGER)+1] = (SELECT rgt FROM $best)
         |         THEN pos + 2 ELSE pos + 1 END,
         |    CASE WHEN pos < len(toks)
         |          AND toks[CAST(pos AS INTEGER)] = (SELECT lft FROM $best)
         |          AND toks[CAST(pos AS INTEGER)+1] = (SELECT rgt FROM $best)
         |         THEN list_append(out, (SELECT merged FROM $best))
         |         ELSE list_append(out, toks[CAST(pos AS INTEGER)]) END
         |  FROM ${out}_wk WHERE pos <= len(toks)
         |),
         |$out AS MATERIALIZED (
         |  SELECT w, cnt, out AS toks FROM ${out}_wk WHERE pos > len(toks))""".stripMargin
    val roundCtes = (0 until rounds).map { i =>
      val want = math.min(BpeBatch, BpeMerges - i * BpeBatch)
      val src = s"bwt${i * BpeBatch}"
      val pool =
        s"""bp$i AS MATERIALIZED (
           |  SELECT toks[CAST(k AS INTEGER)] AS lft, toks[CAST(k AS INTEGER)+1] AS rgt,
           |    CAST(sum(cnt) AS BIGINT) AS c
           |  FROM $src, unnest(range(1, len(toks))) AS t(k)
           |  GROUP BY 1, 2 HAVING sum(cnt) >= $BpeMinPair
           |),
           |bpool$i AS MATERIALIZED (
           |  SELECT lft, rgt, c,
           |    row_number() OVER (ORDER BY c DESC, lft ASC, rgt ASC) AS rk
           |  FROM bp$i ORDER BY rk LIMIT ${4 * BpeBatch}
           |)""".stripMargin
      val slots = (0 until want).map { j =>
        val prevSyms = (0 until j).flatMap { q =>
          Seq(s"SELECT lft AS sym FROM bacc${i}_$q", s"SELECT rgt AS sym FROM bacc${i}_$q")
        }
        val filter = if (prevSyms.isEmpty) ""
        else {
          val u = prevSyms.mkString(" UNION ALL ")
          s" WHERE lft NOT IN ($u) AND rgt NOT IN ($u)"
        }
        val acc =
          s"""bacc${i}_$j AS MATERIALIZED (
             |  SELECT lft, rgt, lft || rgt AS merged, c
             |  FROM bpool$i$filter ORDER BY rk LIMIT 1)""".stripMargin
        val from = if (j == 0) src else s"bwt${i * BpeBatch + j}"
        acc + ",\n" + walk(from, s"bacc${i}_$j", s"bwt${i * BpeBatch + j + 1}")
      }
      (pool +: slots).mkString(",\n")
    }
    val unionRows = (0 until rounds).flatMap { i =>
      val want = math.min(BpeBatch, BpeMerges - i * BpeBatch)
      (0 until want).map(j =>
        s"SELECT $i AS rnd, $j AS slot, lft, rgt, merged, c FROM bacc${i}_$j")
    }.mkString("\nUNION ALL\n")
    s"""bwt0_raw AS MATERIALIZED (SELECT unnest(${duckToks()}) AS w FROM documents),
       |bwt0 AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt,
       |    list_transform(range(1, len(w) + 1),
       |      i -> substring(w, CAST(i AS INTEGER), 1)) AS toks
       |  FROM bwt0_raw GROUP BY w
       |),
       |${roundCtes.mkString(",\n")},
       |baccu AS (
       |$unionRows
       |)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    "q_bpe_train_batched" ->
      s"""WITH RECURSIVE
         |$bpeBatchedReplay
         |SELECT CAST(row_number() OVER (ORDER BY rnd, slot) AS BIGINT) AS step,
         |  lft, rgt, merged, c AS pair_count
         |FROM baccu ORDER BY step""".stripMargin,

    "q_subword_vocab" ->
      s"""WITH d AS (SELECT ${duckToks()} AS toks FROM documents),
         |w0 AS (SELECT unnest(toks) AS w FROM d),
         |grams AS (
         |  SELECT unnest(flatten(list_transform(range(2, ${MaxLen + 1}), l ->
         |    list_filter(
         |      list_transform(range(1, greatest(len(w) - l + 1, 1) + 1),
         |        i -> substring(w, CAST(i AS INTEGER), CAST(l AS INTEGER))),
         |      g -> len(g) = l)))) AS gram
         |  FROM w0
         |)
         |SELECT gram, CAST(cnt AS BIGINT) AS cnt FROM (
         |  SELECT gram, count(*) AS cnt FROM grams GROUP BY gram
         |  HAVING count(*) >= $MinCount ORDER BY cnt DESC, gram ASC LIMIT $VocabSize)
         |ORDER BY cnt DESC, gram ASC""".stripMargin,

    "q_bpe_tokens" ->
      s"""WITH RECURSIVE
         |${walkReplay()}
         |SELECT d.doc_id,
         |  CAST(len(d.toks) AS BIGINT) AS n_words,
         |  CAST(coalesce(list_sum(list_transform(d.toks, w -> len(w))), 0) AS BIGINT) AS n_chars,
         |  CAST(coalesce(a.n_subwords, 0) AS BIGINT) AS n_subwords
         |FROM d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "q_bpe_budget" ->
      s"""WITH RECURSIVE
         |${walkReplay(", lang")},
         |sz AS (
         |  SELECT d.lang,
         |    CAST(sum(coalesce(a.n_subwords, 0)) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM d LEFT JOIN agg a USING (doc_id) GROUP BY d.lang
         |),
         |w AS (
         |  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
         |    AS weight_micro
         |  FROM sz
         |),
         |al AS (
         |  SELECT *, CAST((100000 * weight_micro) // (SELECT sum(weight_micro) FROM w)
         |    AS BIGINT) AS raw_alloc
         |  FROM w
         |)
         |SELECT lang, n_tokens, n_docs, weight_micro, raw_alloc,
         |  CAST(least(raw_alloc, n_tokens * 4) AS BIGINT) AS alloc,
         |  CAST(CASE WHEN n_tokens > 0
         |    THEN (least(raw_alloc, n_tokens * 4) * 1000000) // n_tokens
         |    ELSE 0 END AS BIGINT) AS epochs_micro,
         |  CAST(raw_alloc - least(raw_alloc, n_tokens * 4) AS BIGINT) AS shortfall
         |FROM al ORDER BY lang""".stripMargin,

    "q_bpe_train" -> {
      val union = (0 until BpeMerges).map(s =>
        s"SELECT CAST(${s + 1} AS BIGINT) AS step, lft, rgt, merged, c AS pair_count FROM best$s")
        .mkString("\nUNION ALL\n")
      s"""WITH RECURSIVE
         |$bpeReplay
         |SELECT * FROM (
         |$union
         |) ORDER BY step""".stripMargin
    },

    "q_bpe_segment" ->
      s"""WITH RECURSIVE
         |$bpeReplay,
         |d AS (SELECT doc_id, ${duckToks()} AS toks FROM documents),
         |dw AS (SELECT doc_id, unnest(toks) AS w FROM d),
         |lens AS (SELECT w, CAST(len(toks) AS BIGINT) AS n FROM words$BpeMerges)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n) AS BIGINT) AS n_bpe_tokens
         |FROM dw JOIN lens USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_fertility" ->
      s"""WITH RECURSIVE
         |$bpeReplay,
         |d AS (SELECT lang, source, ${duckToks()} AS toks FROM documents),
         |dw AS (SELECT lang, source, unnest(toks) AS w FROM d),
         |lens AS (SELECT w, CAST(len(toks) AS BIGINT) AS n_bpe FROM words$BpeMerges),
         |j AS (SELECT dw.lang, dw.source,
         |        CAST(len(dw.w) AS BIGINT) AS n_chr,
         |        coalesce(lens.n_bpe, CAST(len(dw.w) AS BIGINT)) AS n_bpe
         |      FROM dw LEFT JOIN lens USING (w))
         |SELECT lang, source,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_chr) AS BIGINT) AS n_chars,
         |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
         |  CAST((sum(n_bpe) * 1000) // count(*) AS BIGINT) AS fertility_milli,
         |  CAST((sum(n_chr) * 1000) // sum(n_bpe) AS BIGINT) AS chars_per_token_milli
         |FROM j GROUP BY lang, source ORDER BY lang, source""".stripMargin
  )
}
