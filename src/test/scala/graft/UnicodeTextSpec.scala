package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession
import graft.functions.{UnicodeExpressions, UnicodeKernels}
import graft.text.{TextFunctions, UnicodeText}

/**
 * The Unicode text path (round 11): NFC kernel semantics, the codepoint-
 * range script histogram, the \p{L}\p{M}\p{N} tokenizer on CJK / Cyrillic /
 * Arabic / Devanagari fixtures, and composition with the pre-existing
 * ASCII-era operators (dedup shingles over normalized Unicode tokens).
 * Fixture strings use \u escapes so no tool in the pipeline can silently
 * re-compose or mangle them.
 */
class UnicodeTextSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  // NFD "résumé" (e + U+0301) and its NFC form
  private val NfdResume = "re\u0301sume\u0301"
  private val NfcResume = "r\u00e9sum\u00e9"

  test("nfc kernel composes combining sequences and is identity on NFC text") {
    val df = Seq(NfdResume, NfcResume, "plain ascii", "x\u0301y").toDF("text")
      .select(col("text"), UnicodeText.nfc(col("text")).as("nfc"),
        length(col("text")).as("n_raw"), length(UnicodeText.nfc(col("text"))).as("n_nfc"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1),
      r.getInt(2), r.getInt(3))).toSeq
    // NFD composes: 8 cps -> 6; NFC input unchanged; x+combining-acute has
    // no precomposed form -> already NFC (identity, 2 cps)
    assert(rows(0) == ((NfdResume, NfcResume, 8, 6)))
    assert(rows(1) == ((NfcResume, NfcResume, 6, 6)))
    assert(rows(2)._2 == "plain ascii" && rows(2)._3 == 11 && rows(2)._4 == 11)
    assert(rows(3)._2 == "x\u0301y" && rows(3)._3 == 3 && rows(3)._4 == 3)
  }

  test("script histogram classifies CJK / Cyrillic / Arabic / mixed codepoints") {
    val cyrl = "Привет GPU 42"  // Привет GPU 42
    val hani = "世界模型"                      // 世界模型
    val arab = "مرحبا"                // مرحبا
    val deva = "नमस्ते"          // नमस्ते (2 marks)
    val idx = UnicodeText.Scripts.zipWithIndex.toMap
    val df = Seq(cyrl, hani, arab, deva).toDF("text")
      .select(UnicodeText.scriptCounts(col("text")).as("c"),
        UnicodeText.dominantScript(UnicodeText.scriptCounts(col("text"))).as("s"))
    val rows = df.collect().map(r => (r.getSeq[Long](0), r.getString(1)))
    assert(rows(0)._1(idx("cyrl")) == 6 && rows(0)._1(idx("latn")) == 3 &&
      rows(0)._1(idx("digit")) == 2 && rows(0)._2 == "cyrl")
    assert(rows(1)._1(idx("hani")) == 4 && rows(1)._2 == "hani")
    assert(rows(2)._1(idx("arab")) == 5 && rows(2)._2 == "arab")
    // Devanagari marks (U+094D virama, U+0947 matra) are in the deva RANGE —
    // the histogram counts the block, not the general category
    assert(rows(3)._1(idx("deva")) == 6 && rows(3)._2 == "deva")
  }

  test("dominant script: ties break by bucket order, letterless text is und") {
    // 2 latin letters vs 2 cyrillic letters: latn earlier in bucket order
    val df = Seq("abаб", "123 !?", "").toDF("text")
      .select(UnicodeText.dominantScript(UnicodeText.scriptCounts(col("text"))).as("s"))
    assert(df.as[String].collect().toSeq == Seq("latn", "und", "und"))
  }

  test("uTokens keeps abugida marks inside words and preserves case") {
    // नमस्ते दुनिया = 2 words, 13 cps total (incl. marks)
    val deva = "नमस्ते दुनिया"
    val df = Seq(deva, "Hello WORLD", "世界, 模型!").toDF("text")
      .select(UnicodeText.uTokens(col("text")).as("t"))
    val rows = df.collect().map(_.getSeq[String](0).toSeq)
    assert(rows(0).size == 2 && rows(0).map(_.length).sum == 12)
    assert(rows(0) == Seq("नमस्ते",
      "दुनिया"))
    assert(rows(1) == Seq("Hello", "WORLD")) // case preserved
    // Han splits PER CODEPOINT (round 12): no word separators in CJK, so
    // run-tokens made a whole sentence one token
    assert(rows(2) == Seq("世", "界", "模", "型"))
  }

  test("composition: existing dedup machinery runs on the Unicode path") {
    // normalize -> unicode tokens -> stable hashes -> jaccard: the ASCII-era
    // operators compose unchanged on multilingual text, and NFC makes the
    // NFD/NFC variants of the same doc IDENTICAL to the hash layer
    val a = s"$NfdResume 世界 data"
    val b = s"$NfcResume 世界 data"
    val df = Seq(("a", a), ("b", b)).toDF("id", "text")
      .select(col("id"),
        array_distinct(transform(UnicodeText.uTokens(UnicodeText.nfc(col("text"))),
          TextFunctions.stableHash _)).as("hs"))
    val m = df.collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    assert(m("a") == m("b") && m("a").size == 4) // résumé, 世, 界, data
    // and WITHOUT nfc the variants diverge (the reason the path exists)
    val raw = Seq(("a", a), ("b", b)).toDF("id", "text")
      .select(col("id"),
        array_distinct(transform(UnicodeText.uTokens(col("text")),
          TextFunctions.stableHash _)).as("hs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    assert(raw("a") != raw("b"))
  }

  test("uTokenStats kernel == declarative split + distinct + aggregate fold") {
    // the q_unicode_tokens contract: the one-pass kernel must be
    // bit-identical to the HOF formulation it replaced, on every script
    // family plus edge shapes (empty, marks-only, digits, token-at-EOS)
    val texts = Seq(
      "Hello WORLD hello", "नमस्ते दुनिया", "世界, 模型!",
      "Привет мир GPU 2024", "", "   ", "x", "a b a b a",
      "́́", "tail-token")
    val df = texts.toDF("text")
    val tks = UnicodeText.uTokens(col("text"))
    val declarative = df.select(
        size(tks).cast("long").as("n"),
        size(array_distinct(tks)).cast("long").as("d"),
        aggregate(tks, lit(0L), (a, t) => a + length(t)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val kernel = df.select(graft.functions.UnicodeExpressions.uTokenStats(col("text")).as("st"))
      .collect().map(r => { val a = r.getSeq[Long](0); (a(0), a(1), a(2)) }).toSeq
    assert(kernel == declarative)
  }

  test("CJK per-codepoint split: Han/Kana split, Thai and Vietnamese stay runs") {
    val df = Seq(
      "世界模型数据管道",     // 8 Han cps -> 8 single-cp tokens
      "こんにちはデータ",     // Kana (incl. U+30FC) -> 8 single-cp tokens
      "สวัสดีชาวโลก",         // Thai: NOT split (marks would detach) -> 1 run
      "Xin chào thế giới",  // Vietnamese (Latin Ext Additional): word runs
      "深層learning学習"      // Han/Latin boundary: runs break around Han
    ).toDF("text")
    val rows = df.select(UnicodeText.uTokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(rows(0) == "世界模型数据管道".map(_.toString))
    assert(rows(1) == "こんにちはデータ".map(_.toString))
    assert(rows(2) == Seq("สวัสดีชาวโลก"))
    assert(rows(3) == Seq("Xin", "chào", "thế", "giới"))
    assert(rows(4) == Seq("深", "層", "learning", "学", "習"))
    // and the one-pass kernel agrees with the declarative split
    val kernel = df.select(graft.functions.UnicodeExpressions.uTokenStats(col("text")).as("st"))
      .collect().map(r => { val a = r.getSeq[Long](0); (a(0), a(1), a(2)) }).toSeq
    assert(kernel(0) == ((8L, 8L, 8L)))
    assert(kernel(1) == ((8L, 8L, 8L)))
    assert(kernel(2)._1 == 1L)
    assert(kernel(4) == ((5L, 5L, 12L)))
  }

  test("kana voicing marks stay attached to their base kana (round 13)") {
    // NFD Japanese: dakuten U+3099 / handakuten U+309A as COMBINING marks.
    // Round 12 split them into bare-mark tokens (the detachment failure the
    // Thai no-split rule exists to avoid); they must ride with their base.
    val nfdGa = "\u304b\u3099" // NFD GA: KA + combining dakuten
    // GA gi | DE - TA | PA N : NFD DE/PA (base+mark), precomposed gi mixed in
    val nfd = nfdGa + "\u304e \u30c6\u3099\u30fc\u30bf \u30cf\u309a\u30f3"
    val df = Seq(nfd, "a\u3099b").toDF("text")
    val rows = df.select(UnicodeText.uTokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(rows(0) == Seq(nfdGa, "\u304e", "\u30c6\u3099", "\u30fc", "\u30bf",
      "\u30cf\u309a", "\u30f3"))
    // a voicing mark NOT after a kana joins the surrounding \p{M} run as before
    assert(rows(1) == Seq("a\u3099b"))
    // the one-pass kernel agrees: 7 tokens, all distinct, 10 codepoints
    val kernel = df.select(graft.functions.UnicodeExpressions.uTokenStats(col("text")).as("st"))
      .collect().map(r => { val a = r.getSeq[Long](0); (a(0), a(1), a(2)) }).toSeq
    assert(kernel(0) == ((7L, 7L, 10L)))
    assert(kernel(1) == ((1L, 1L, 3L)))
    // and kernel == declarative fold on the NFD input (the parity contract)
    val tks = UnicodeText.uTokens(col("text"))
    val declarative = df.select(
        size(tks).cast("long").as("n"),
        size(array_distinct(tks)).cast("long").as("d"),
        aggregate(tks, lit(0L), (a, t) => a + length(t)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(kernel == declarative)
  }

  test("extended buckets: Vietnamese -> latn, Thai bucket, Ext-A, halfwidth kana") {
    val idx = UnicodeText.Scripts.zipWithIndex.toMap
    val df = Seq("Xin chào thế giới", "สวัสดี 123", "㐀㐁", "ｱｲｳ").toDF("text")
      .select(UnicodeText.scriptCounts(col("text")).as("c"),
        UnicodeText.dominantScript(UnicodeText.scriptCounts(col("text"))).as("s"))
    val rows = df.collect().map(r => (r.getSeq[Long](0), r.getString(1)))
    assert(rows(0)._2 == "latn" && rows(0)._1(idx("latn")) == 14)
    assert(rows(1)._2 == "thai" && rows(1)._1(idx("thai")) == 6 &&
      rows(1)._1(idx("digit")) == 3)
    assert(rows(2)._2 == "hani") // CJK Extension A
    assert(rows(3)._2 == "kana") // halfwidth Katakana
  }

  test("kernel classify covers every bucket range boundary") {
    for (((name, ranges), bi) <- UnicodeKernels.Buckets.zipWithIndex; (lo, hi) <- ranges) {
      assert(UnicodeKernels.classify(lo) == bi, s"$name lo")
      assert(UnicodeKernels.classify(hi) == bi, s"$name hi")
    }
    assert(UnicodeKernels.classify(' ') == -1 && UnicodeKernels.classify(0x10000) == -1)
  }

  // batch ≡ streaming: the script histogram and the token-stats kernel are
  // stateless per-row maps, so a MemoryStream run delivered across several
  // micro-batches must equal the batch run row for row
  private val texts = Seq(
    (0L, "hello streaming world"),
    (1L, "こんにちは世界"), // こんにちは世界
    (2L, "Привет мир 123"), // Привет мир
    (3L, "مرحبا بالعالم"), // مرحبا بالعالم
    (4L, ""))

  test("script-histogram language ID is a stateless streaming map") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def score(df: DataFrame): DataFrame = {
      val sc = UnicodeText.scriptCounts(col("text"))
      df.withColumn("_sc", sc)
        .select(col("doc_id"), UnicodeText.dominantScript(col("_sc")).as("script"),
          col("_sc")(UnicodeText.Scripts.indexOf("latn")).as("n_latn"),
          col("_sc")(UnicodeText.Scripts.indexOf("kana")).as("n_kana"))
    }
    val expected = score(texts.toDF("doc_id", "text"))
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(expected.map(_._2).toSeq == Seq("latn", "kana", "cyrl", "arab", "und"),
      expected.toSeq)

    val stream = MemoryStream[(Long, String)]
    val sq = score(stream.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("script_parity")
      .outputMode("append").start()
    stream.addData(texts.take(2)); sq.processAllAvailable()
    stream.addData(texts.drop(2)); sq.processAllAvailable()
    val streamed = spark.table("script_parity")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    sq.stop()
    assert(streamed.toSeq == expected.toSeq)
  }

  test("unicode token stats kernel is a stateless streaming map") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def score(df: DataFrame): DataFrame =
      df.select(col("doc_id"), UnicodeExpressions.uTokenStats(col("text")).as("st"))
        .select(col("doc_id"), col("st")(0).as("n_tokens"),
          col("st")(1).as("n_distinct"), col("st")(2).as("cp_len_sum"))
    val expected = score(texts.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // CJK text splits per codepoint: 7 single-cp tokens from doc 1
    assert(expected.find(_._1 == 1L).exists(r => r._2 == 7L && r._4 == 7L), expected.toSeq)
    assert(expected.find(_._1 == 4L).exists(r => r._2 == 0L), expected.toSeq)

    val stream = MemoryStream[(Long, String)]
    val sq = score(stream.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("utok_parity")
      .outputMode("append").start()
    stream.addData(texts.take(3)); sq.processAllAvailable()
    stream.addData(texts.drop(3)); sq.processAllAvailable()
    val streamed = spark.table("utok_parity")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    sq.stop()
    assert(streamed.toSeq == expected.toSeq)
  }
}
