package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.UnicodeKernels
import graft.text.UnicodeText

/**
 * Round-11 wave A: the Unicode-aware text path — the book's largest
 * real-user gap (every prior text kernel tokenizes ASCII-style).
 *
 *  - q_unicode_normalize  NFC canonicalization (UAX #15): codepoint counts
 *                         before/after + byte-exact md5 of the NFC form
 *  - q_lang_script        script-histogram language ID over a pure
 *                         codepoint-range table (11 script buckets)
 *  - q_unicode_tokens     Unicode-category tokenizer (\p{L}\p{M}\p{N} runs,
 *                         case-preserving) token statistics
 *
 * The synthetic documents table is English/ASCII, so each query enriches the
 * corpus with DETERMINISTIC multilingual rows built from shared constants —
 * the same constants are interpolated into the DuckDB oracle, so both
 * engines see byte-identical input (the q_fuzzy_join mutant-injection
 * pattern). All three queries are map-side projections + one hash-agg or
 * none: no shuffle beyond the output sort, whole-stage codegen via the
 * UnicodeKernels expressions.
 */
object UnicodeQueries {

  import Tables.t

  // ------------------------------------------------------------- fixtures

  /** NFD-style suffixes (combining marks) for the NFC fixture:
    * A composes under NFC (e + U+0301 → é, 3 codepoints fold away);
    * B does not (x + U+0301 has no precomposed form — already NFC). */
  private val NfdSuffixA = " re\u0301sume\u0301 cafe\u0301"
  private val NfdSuffixB = " x\u0301y"

  /** Multilingual replacement texts, index = doc_id div 9 mod MlTexts.size.
    * Each is dominated by one script (some mix latin words/digits to
    * exercise the argmax); index 8 has digits only → dominant script "und".
    * Rows 9-10 (round 12) pin the extended bucket table: Vietnamese rides
    * Latin Extended Additional tone-marked vowels → latn; Thai → the new
    * thai bucket (and stays RUN-tokenized — no per-codepoint split). */
  private val MlTexts: Seq[String] = Seq(
    "Привет мир данные конвейер GPU 2024",        // cyrl (+ latn + digits)
    "世界模型数据管道处理系统训练语料",             // hani
    "مرحبا بالعالم بيانات التدريب نموذج",          // arab
    "こんにちはデータパイプライン",                 // kana
    "Γειά σου Κόσμε δεδομένα εκπαίδευση",          // grek
    "안녕하세요 세계 데이터 파이프라인",            // hang
    "שלום עולם נתוני אימון",                       // hebr
    "नमस्ते दुनिया प्रशिक्षण डेटा",                 // deva
    "12345 !!! ??? 67890",                         // und (digits, no letters)
    "Xin chào thế giới dữ liệu huấn luyện mô hình", // latn (Vietnamese, Ext Additional)
    "สวัสดีชาวโลกข้อมูลการฝึกอบรมโมเดล",           // thai
    // NFD Japanese (round 13): dakuten/handakuten as COMBINING marks —
    // pins the voicing-mark absorption contract (か+U+3099 is one token)
    "か\u3099き\u3099く\u3099 テ\u3099ータ ハ\u309Aイフ\u309Aライン")

  /** Spark-side multilingual corpus: documents plus one replacement row per
    * doc_id % 9 == 0 doc (id + 2300000000), text chosen by
    * (doc_id div 9) % MlTexts.size. */
  private def mlCorpus(docs: DataFrame): DataFrame = {
    val m = MlTexts.size
    val choice = MlTexts.zipWithIndex.foldRight(lit(null: String)) { case ((s, i), els) =>
      when(expr(s"(doc_id div 9) % $m") === i, lit(s)).otherwise(els)
    }
    docs.select(col("doc_id"), col("text")).unionByName(
      docs.where(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2300000000L).as("doc_id"), choice.as("text")))
  }

  /** DuckDB replay of [[mlCorpus]] (same constants, same arithmetic). */
  private def mlCorpusSql: String = {
    val cases = MlTexts.zipWithIndex
      .map { case (s, i) => s"WHEN (doc_id // 9) % ${MlTexts.size} = $i THEN '$s'" }
      .mkString(" ")
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2300000000, CASE $cases END AS text
       |  FROM documents WHERE doc_id % 9 = 0
       |)""".stripMargin
  }

  /** DuckDB per-script count expression over a codepoint list column `cps`,
    * generated from [[UnicodeKernels.Buckets]] so the ranges cannot drift. */
  private def duckScriptCount(bucket: String): String = {
    val ranges = UnicodeKernels.Buckets.find(_._1 == bucket).get._2
    val cond = ranges.map { case (lo, hi) => s"(c BETWEEN $lo AND $hi)" }.mkString(" OR ")
    s"CAST(len(list_filter(cps, c -> $cond)) AS BIGINT)"
  }

  /** DuckDB dominant-script CASE chain: argmax over letter buckets, ties by
    * bucket order, 'und' on all-zero — mirrors UnicodeText.dominantScript. */
  private def duckDominantScript: String = {
    val letters = UnicodeKernels.Buckets.map(_._1).filter(_ != "digit")
    val sum = letters.map(n => s"n_$n").mkString(" + ")
    val chain = letters.zipWithIndex.map { case (name, i) =>
      val ge = letters.zipWithIndex.filter(_._2 != i)
        .map { case (o, _) => s"n_$name >= n_$o" }.mkString(" AND ")
      s"WHEN $ge THEN '$name'"
    }.mkString(" ")
    s"CASE WHEN $sum = 0 THEN 'und' $chain END"
  }

  // =================================================================== queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_unicode_normalize" -> ((s, dir) => {
      // NFC canonicalization gate: suffix A composes (codepoints shrink),
      // suffix B is combining-mark text that is ALREADY NFC (no precomposed
      // x-acute exists) — the changed flag separates the two, and the md5
      // pins the exact normalized bytes
      val raw = when(col("doc_id") % 5 === 0, concat(col("text"), lit(NfdSuffixA)))
        .when(col("doc_id") % 5 === 1, concat(col("text"), lit(NfdSuffixB)))
        .otherwise(col("text"))
      val nfc = UnicodeText.nfc(raw)
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"), nfc.as("nfc"))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("n_cp_raw"),
          length(col("nfc")).cast("long").as("n_cp_nfc"),
          when(col("nfc") =!= col("raw"), 1L).otherwise(0L).as("changed"),
          md5(col("nfc")).as("nfc_md5"))
        .orderBy(col("doc_id"))
    }),

    "q_lang_script" -> ((s, dir) => {
      // script-histogram language ID: per-doc codepoint counts in the 11
      // fixed script buckets + deterministic dominant-script argmax
      val sc = UnicodeText.scriptCounts(col("text"))
      val withCounts = mlCorpus(t(s, dir, "documents"))
        .withColumn("_sc", sc)
      val countCols = UnicodeText.Scripts.zipWithIndex.map { case (n, i) =>
        col("_sc")(i).as(s"n_$n")
      }
      withCounts
        .select(Seq(col("doc_id"),
          UnicodeText.dominantScript(col("_sc")).as("script")) ++ countCols: _*)
        .orderBy(col("doc_id"))
    }),

    "q_unicode_tokens" -> ((s, dir) => {
      // Unicode-category tokenizer statistics via the one-pass codegen
      // kernel (UTokenStatsExpr) — bit-identical to the declarative
      // split + array_distinct + aggregate formulation (UnicodeTextSpec
      // pins the equality), with no interpreted HOF on the scan path
      val st = graft.functions.UnicodeExpressions.uTokenStats(col("text"))
      mlCorpus(t(s, dir, "documents"))
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"),
          col("st")(0).as("n_tokens"),
          col("st")(1).as("n_distinct"),
          col("st")(2).as("cp_len_sum"))
        .orderBy(col("doc_id"))
    })
  )

  // ==================================================================== oracle

  def oracleSql: Map[String, String] = Map(

    "q_unicode_normalize" ->
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || '$NfdSuffixA'
         |         WHEN doc_id % 5 = 1 THEN text || '$NfdSuffixB'
         |         ELSE text END AS raw
         |  FROM documents
         |),
         |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM corpus)
         |SELECT doc_id,
         |  CAST(length(raw) AS BIGINT) AS n_cp_raw,
         |  CAST(length(nfc) AS BIGINT) AS n_cp_nfc,
         |  CAST(CASE WHEN nfc != raw THEN 1 ELSE 0 END AS BIGINT) AS changed,
         |  md5(nfc) AS nfc_md5
         |FROM n ORDER BY doc_id""".stripMargin,

    "q_lang_script" -> {
      val countSelects = UnicodeKernels.Buckets.map(_._1)
        .map(n => s"${duckScriptCount(n)} AS n_$n").mkString(",\n    ")
      s"""WITH $mlCorpusSql,
         |cp AS (
         |  SELECT doc_id,
         |    list_transform(range(length(text)),
         |                   i -> unicode(substring(text, CAST(i+1 AS INT), 1))) AS cps
         |  FROM corpus
         |),
         |c AS (
         |  SELECT doc_id,
         |    $countSelects
         |  FROM cp
         |)
         |SELECT doc_id, $duckDominantScript AS script,
         |  ${UnicodeKernels.Buckets.map(_._1).map(n => s"n_$n").mkString(", ")}
         |FROM c ORDER BY doc_id""".stripMargin
    },

    "q_unicode_tokens" ->
      s"""WITH $mlCorpusSql,
         |tk AS (
         |  SELECT doc_id, regexp_extract_all(
         |    regexp_replace(text, '${UnicodeKernels.cjkSplitRegex}', ' \\1 ', 'g'),
         |    '[\\p{L}\\p{M}\\p{N}]+') AS tks
         |  FROM corpus
         |)
         |SELECT doc_id,
         |  CAST(len(tks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(tks)) AS BIGINT) AS n_distinct,
         |  CAST(coalesce(list_sum(list_transform(tks, t -> length(t))), 0) AS BIGINT)
         |    AS cp_len_sum
         |FROM tk ORDER BY doc_id""".stripMargin
  )
}
