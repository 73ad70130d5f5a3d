package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession
import graft.multimodal.Multimodal
import graft.operators.CorpusStats

/**
 * Batch ≡ streaming for the perceptual/multimodal wave and chunking: every
 * operator here is a STATELESS MAP (payload build → decode → fingerprint;
 * tokenize → window → hash), so the identical code must run unchanged on a
 * Structured Streaming source in append mode — no watermark, no state —
 * and agree with the batch result on the union of all micro-batches row
 * for row.
 */
class StreamingMultimodalParitySpec extends AnyFunSuite with SparkTestSession {

  // text long enough for the >130-char payload contracts, deterministic
  private def docs: Seq[(Long, String)] = (1L to 6L).map { i =>
    (i, s"doc $i " + (s"abcdefgh$i " * 16).trim)
  }

  /** Run `op` on a two-micro-batch stream of `docs`, collect the append-mode
    * sink, and compare with the batch run over the same rows. */
  private def assertParity(name: String)(op: DataFrame => DataFrame): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchRows = op(docs.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet

    val stream = MemoryStream[(Long, String)]
    val sq = op(stream.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    stream.addData(docs.take(3))
    sq.processAllAvailable()
    stream.addData(docs.drop(3))
    sq.processAllAvailable()
    val streamed = spark.table(name).collect().map(_.toSeq).toSet
    sq.stop()

    assert(streamed == batchRows,
      s"$name parity broke: stream-only=${streamed -- batchRows} batch-only=${batchRows -- streamed}")
    assert(batchRows.nonEmpty)
  }

  test("image dHash streams unchanged (append, no state)") {
    assertParity("img_phash_parity") { df =>
      Multimodal.perceptualHash(
        Multimodal.withImagePayload(df, "text"), "doc_id", "payload")
    }
  }

  test("audio delta-sign fingerprint streams unchanged") {
    assertParity("audio_fp_parity") { df =>
      Multimodal.audioFingerprint(
        Multimodal.withAudioPayload(df, "text"), "doc_id", "payload")
    }
  }

  test("video middle-frame fingerprint streams unchanged") {
    assertParity("video_fp_parity") { df =>
      Multimodal.videoFingerprint(
        Multimodal.withVideoPayload(df, "text"), "doc_id", "payload")
    }
  }

  test("sliding-window chunking streams unchanged") {
    assertParity("chunk_parity") { df =>
      CorpusStats.chunkDocuments(df, "doc_id", "text", size = 8, stride = 6)
    }
  }

  test("poison rows stream too: an undecodable payload yields a NULL fingerprint mid-stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Byte])]
    val sq = Multimodal.perceptualHash(stream.toDS().toDF("doc_id", "payload"),
        "doc_id", "payload")
      .writeStream.format("memory").queryName("poison_parity").outputMode("append").start()
    stream.addData(Seq((7L, Array[Byte](9, 9, 9, 9))))
    sq.processAllAvailable()
    val rows = spark.table("poison_parity").collect()
    sq.stop()
    assert(rows.length == 1 && rows(0).isNullAt(1), rows.mkString(","))
  }

  test("JPEG/BMP perceptual fingerprint is a stateless streaming map") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the q_image_dedup_jpeg shape: per source text a mosaic BMP and a real
    // baseline JPEG of the same raster — byte-different containers, one
    // decoded image, one dHash
    val docs = Seq(
      (0L, "a streaming document with enough characters to rasterize"),
      (1L, "another, different document body so the hashes differ"))
    def fingerprints(df: DataFrame): DataFrame = {
      val bmp = Multimodal.withMosaicBmpPayload(df, "text")
        .select(col("doc_id"), col("payload"))
      val jpg = Multimodal.withJpegPayload(
          df.select((col("doc_id") + 100L).as("doc_id"), col("text")), "text")
        .select(col("doc_id"), col("payload"))
      Multimodal.perceptualHash(bmp.unionAll(jpg), "doc_id", "payload")
    }
    val expected = fingerprints(docs.toDF("doc_id", "text"))
      .as[(Long, java.lang.Long)].collect().sortBy(_._1)
    // cross-format pair agrees, different docs differ
    val em = expected.toMap
    assert(em(0L) == em(100L) && em(1L) == em(101L) && em(0L) != em(1L), expected.toSeq)

    val stream = MemoryStream[(Long, String)]
    val sq = fingerprints(stream.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("jpeg_phash_parity")
      .outputMode("append").start()
    stream.addData(docs.take(1)); sq.processAllAvailable()
    stream.addData(docs.drop(1)); sq.processAllAvailable()
    val streamed = spark.table("jpeg_phash_parity")
      .as[(Long, java.lang.Long)].collect().sortBy(_._1)
    sq.stop()
    assert(streamed.toSeq == expected.toSeq)
  }
}
