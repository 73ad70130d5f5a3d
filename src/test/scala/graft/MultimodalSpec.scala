package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession
import graft.multimodal.Multimodal

/** Round-trips the REAL codec path: payload builders emit valid BMP/WAV
  * containers and the JDK codecs (javax.imageio / javax.sound.sampled) must
  * decode them back to the predicted geometry and exact pixel/sample sums. */
class MultimodalSpec extends AnyFunSuite with SparkTestSession {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "hello world"),
      (2L, ""),                       // empty doc -> 4x4 zero image, 64 zero samples
      (3L, "中文 multibyte first char"), // multi-byte UTF-8 leading bytes
      (4L, "x")
    ).toDF("doc_id", "text")
  }

  test("BMP payloads decode to the contract geometry and exact pixel sum") {
    val out = Multimodal.decodeImages(
        Multimodal.withImagePayload(docs, "text"), "doc_id", "payload")
      .collect().map(f => f.doc_id -> f).toMap

    val hello = "hello world".getBytes("UTF-8")
    val (w, h) = (4 + (hello(0) & 0xff) % 8, 4 + (hello(1) & 0xff) % 8)
    assert(out(1L).width == w && out(1L).height == h)
    assert(new String(out(1L).header) == "BM")
    val expectedSum = (0 until w * h).map(i => hello(i % hello.length) & 0xff).sum
    assert(out(1L).feature(0) == expectedSum.toFloat)
    // all three channels carry the same gray value
    assert(out(1L).feature(1) == out(1L).feature(2) && out(1L).feature(2) == out(1L).feature(3))

    assert(out(2L).width == 4 && out(2L).height == 4 && out(2L).feature(0) == 0f)

    val zh = "中文 multibyte first char".getBytes("UTF-8")
    assert(out(3L).width == 4 + (zh(0) & 0xff) % 8) // 0xE4 -> width from the raw byte, not the code point
  }

  test("2x2 thumbnail is an area average of the decoded raster") {
    val f = Multimodal.decodeImages(
        Multimodal.withImagePayload(docs.where(col("doc_id") === 4), "text"), "doc_id", "payload")
      .head()
    // "x" = byte 120 everywhere -> every quadrant average is 120/255
    (4 until 8).foreach(i => assert(math.abs(f.feature(i) - 120f / 255f) < 1e-6f))
  }

  test("WAV payloads decode to PCM16 mono 8kHz with the exact sample sum") {
    val out = Multimodal.decodeAudio(
        Multimodal.withAudioPayload(docs, "text"), "doc_id", "payload")
      .collect().map(f => f.doc_id -> f).toMap

    val hello = "hello world".getBytes("UTF-8")
    val ns = 64 + (hello(0) & 0xff) % 64
    assert(out(1L).sample_rate == 8000 && out(1L).channels == 1)
    assert(out(1L).n_samples == ns)
    val expectedSum = (0 until ns).map(k => (hello(k % hello.length) & 0xff) - 128).sum
    assert(out(1L).feature(0) == expectedSum.toFloat)

    assert(out(2L).n_samples == 64 && out(2L).feature(0) == 0f)
  }

  test("GVID containers hold decodable frames; middle-frame sampling matches the contract") {
    val out = Multimodal.sampleMiddleFrame(
        Multimodal.withVideoPayload(docs, "text"), "doc_id", "payload")
      .collect().map(f => f.doc_id -> f).toMap

    val hello = "hello world".getBytes("UTF-8")
    val nf = 2 + (hello(0) & 0xff) % 3
    val fs = nf / 2
    assert(out(1L).n_frames == nf && out(1L).frame_idx == fs)
    val off = fs % hello.length
    val rot = hello.drop(off) ++ hello.take(off)
    val (w, h) = (4 + (rot(0) & 0xff) % 8, 4 + (rot(1) & 0xff) % 8)
    assert(out(1L).width == w && out(1L).height == h)
    val expectedSum = (0 until w * h).map(i => rot(i % rot.length) & 0xff).sum
    assert(out(1L).feature(0) == expectedSum.toFloat)

    assert(out(2L).n_frames == 2 && out(2L).width == 4 && out(2L).feature(0) == 0f)
  }

  test("decode plan is narrow: no shuffle between scan and decode") {
    val plan = Multimodal.decodeImages(
      Multimodal.withImagePayload(docs, "text"), "doc_id", "payload")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decode stage must not shuffle:\n$plan")
  }

  test("perceptual hash sees through byte edits no pixel samples; real raster changes move it") {
    import spark.implicits._
    // 140-char doc: w = 4 + ('a'%8) = 5, h = 4 + ('b'%8) = 6 -> 30 pixels,
    // indices 0..29. Changing byte 139 (no pixel reads it) must keep the
    // phash; changing byte 7 (read by pixel 7) must change it.
    val base = "ab" + "cdefghij" * 17 + "kk" // length 140
    assert(base.length == 140)
    val silent = base.substring(0, 139) + "#"
    val visible = base.substring(0, 7) + "Z" + base.substring(8)
    val d = Seq((1L, base), (2L, silent), (3L, visible)).toDF("doc_id", "text")
    val h = Multimodal.perceptualHash(
      Multimodal.withImagePayload(d, "text"), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L), s"byte-silent edit changed phash: $h")
    assert(h(1L) != h(3L), s"raster change must move phash: $h")
    // and the md5s differ, so byte-level dedup would NOT have caught 1~2
    val md5s = d.select(md5($"text")).as[String].collect().toSet
    assert(md5s.size == 3)
  }

  test("audio fingerprint is waveform-keyed: silent byte edits keep it, sample changes move it") {
    import spark.implicits._
    // 'a' => nSamples = 64 + 97%64 = 97; samples read bytes 0..96 only.
    val base = "ab" + "cdefghij" * 17 + "kk" // length 140
    val silent = base.substring(0, 139) + "#"  // byte 139: never sampled
    // byte 51 is 'd' (sample 51): delta bit 50 is s(51)>s(50) = 'd'>'c' = 1;
    // with 'Z' (90 < 'c'=99) it flips to 0 — a recorded delta changes
    val visible = base.substring(0, 51) + "Z" + base.substring(52)
    val d = Seq((1L, base), (2L, silent), (3L, visible)).toDF("doc_id", "text")
    val h = Multimodal.audioFingerprint(
      Multimodal.withAudioPayload(d, "text"), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L), s"silent edit changed fingerprint: $h")
    // byte 50 < 63 delta bits -> the changed sample flips a recorded delta
    assert(h(1L) != h(3L), s"waveform change must move fingerprint: $h")
  }

  test("video fingerprint keys on the sampled middle frame only") {
    import spark.implicits._
    val base = "ab" + "cdefghij" * 17 + "kk" // len 140; nFrames = 2+97%3 = 3, t = 1
    val silent = base.substring(0, 139) + "#" // byte 139: middle frame never samples it
    val d = Seq((1L, base), (2L, silent)).toDF("doc_id", "text")
    val h = Multimodal.videoFingerprint(
      Multimodal.withVideoPayload(d, "text"), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L), s"silent edit changed video fingerprint: $h")
    // and it differs from the un-rotated image phash of the same text —
    // the walk really sampled frame 1, not frame 0
    val ph = Multimodal.perceptualHash(
      Multimodal.withImagePayload(d, "text"), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) != ph(1L), s"middle frame (rotated) must differ from frame 0: $h vs $ph")
  }

  test("undecodable payloads poison their row (NULL fingerprint), never the job") {
    import spark.implicits._
    // one valid payload per modality + three corruption shapes: garbage
    // bytes, a GVID header whose frame walk overruns the payload, and a
    // truncated container — all must emit NULL, and valid rows still hash
    val good = Seq((1L, "ab" + "cdefghij" * 17 + "kk")).toDF("doc_id", "text")
    val goodImg = Multimodal.withImagePayload(good, "text").select($"doc_id", $"payload")
    val garbage = Seq((2L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9))).toDF("doc_id", "payload")
    // GVID magic + frame count 1, then a frame length far past the payload end
    val overrun = {
      val b = new Array[Byte](16)
      b(0) = 'G'; b(1) = 'V'; b(2) = 'I'; b(3) = 'D'; b(4) = 1; b(8) = 127
      Seq((3L, b)).toDF("doc_id", "payload")
    }

    val ph = Multimodal.perceptualHash(goodImg.unionAll(garbage), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(ph(1L).isDefined && ph(2L).isEmpty, ph.toString)

    val goodVid = Multimodal.withVideoPayload(good, "text").select($"doc_id", $"payload")
    val vf = Multimodal.videoFingerprint(goodVid.unionAll(garbage).unionAll(overrun),
        "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(vf(1L).isDefined && vf(2L).isEmpty && vf(3L).isEmpty, vf.toString)

    val goodWav = Multimodal.withAudioPayload(good, "text").select($"doc_id", $"payload")
    val af = Multimodal.audioFingerprint(goodWav.unionAll(garbage), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(af(1L).isDefined && af(2L).isEmpty, af.toString)
  }

  /** The failure text of `e` and its causes (a task failure reaches the
    * driver wrapped in a SparkException). */
  private def failureText(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  /** A 2-frame GVID container: "c" * 200 -> b0 = 'c' (99), 2 + 99 % 3 = 2
    * frames, each a 7x7 BMP of 54 + 24 * 7 = 222 bytes -> 8 + 2 * 226 = 460. */
  private def twoFrameVideo(): Array[Byte] = {
    import spark.implicits._
    val b = Multimodal.withVideoPayload(Seq((5L, "c" * 200)).toDF("doc_id", "text"), "text")
      .select($"payload").as[Array[Byte]].head()
    assert(b.length == 460)
    b
  }

  test("a truncated GVID container fails sampleMiddleFrame naming the doc; its fingerprint is NULL") {
    import spark.implicits._
    val full = twoFrameVideo()
    // intact: the middle frame (1) is 49 pixels of 'c' = 99
    val ok = Multimodal.sampleMiddleFrame(Seq((5L, full)).toDF("doc_id", "payload"), "doc_id", "payload")
      .head()
    assert(ok.frame_idx == 1 && ok.feature(0) == 4851f)
    // cut 40 bytes inside the middle frame: the walk must refuse it, not
    // decode a zero-padded frame
    val cut = Seq((5L, full.take(full.length - 40))).toDF("doc_id", "payload")
    val e = intercept[Exception] {
      Multimodal.sampleMiddleFrame(cut, "doc_id", "payload").collect()
    }
    assert(failureText(e).contains("for doc 5"), failureText(e))
    val vf = Multimodal.videoFingerprint(cut, "doc_id", "payload").collect()
    assert(vf.length == 1 && vf(0).isNullAt(1), vf.mkString(","))
  }

  test("a mis-tagged GVID container is rejected by both video operators") {
    import spark.implicits._
    def withCount(n: Int): Array[Byte] => Unit =
      b => java.nio.ByteBuffer.wrap(b, 4, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(n)
    // magic GVIX; frame counts 0 and -3 name no middle frame; 3 frames over
    // the 2 present is a container cut at a frame boundary
    val relabels = Seq[(String, Array[Byte] => Unit)](
      "not a GVID container for doc 6" -> (b => b(3) = 'X'),
      "GVID frame count 0 for doc 6" -> withCount(0),
      "GVID frame count -3 for doc 6" -> withCount(-3),
      "truncated GVID frame index for doc 6" -> withCount(3))
    for ((expected, relabel) <- relabels) {
      val relabeled = twoFrameVideo()
      relabel(relabeled)
      val df = Seq((6L, relabeled)).toDF("doc_id", "payload")
      val e = intercept[Exception] {
        Multimodal.sampleMiddleFrame(df, "doc_id", "payload").collect()
      }
      assert(failureText(e).contains(expected), failureText(e))
      val vf = Multimodal.videoFingerprint(df, "doc_id", "payload").collect()
      assert(vf.length == 1 && vf(0).isNullAt(1), s"$expected: ${vf.mkString(",")}")
    }
  }

  test("contract-direct BMP raster is pixel-identical to the ImageIO raster") {
    // the gate-corpus payload shapes: short, empty, multibyte-UTF-8-leading,
    // single-char, and long-enough-to-wrap sources
    val srcs = Seq(
      "hello world", "", "中文 multibyte first char", "x",
      "a longer document with enough bytes to fill an 11x11 raster and wrap around its source several times over"
    ).map(_.getBytes("UTF-8"))
    srcs.foreach { src =>
      val bmp = Multimodal.buildBmp(src)
      val direct = Multimodal.tryDirectBmp(bmp)
      assert(direct != null, "gate-corpus BMP must take the contract-direct path")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
      assert(direct.width == img.getWidth && direct.height == img.getHeight)
      for (y <- 0 until direct.height; x <- 0 until direct.width)
        assert(direct.rgb(x, y) == (img.getRGB(x, y) & 0xffffff),
          s"pixel ($x,$y) differs for src of ${src.length} bytes")
    }
  }

  test("off-contract containers fall back to ImageIO and hash identically") {
    import spark.implicits._
    // re-encode a contract BMP as PNG: same raster, different container —
    // must reject the direct path, decode via ImageIO, and produce the SAME
    // perceptual hash (raster-keyed, container-invariant)
    val src = "fallback please".getBytes("UTF-8")
    val bmp = Multimodal.buildBmp(src)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    assert(Multimodal.tryDirectBmp(png) == null, "PNG must not take the direct path")
    // header mutations that break the contract must also fall back, not misread:
    // top-down height, 32-bpp claim, compressed claim, truncated pixel data
    def mut(f: Array[Byte] => Unit): Array[Byte] = { val c = bmp.clone(); f(c); c }
    assert(Multimodal.tryDirectBmp(mut(b => { b(22) = (-b(22)).toByte; b(23) = -1; b(24) = -1; b(25) = -1 })) == null)
    assert(Multimodal.tryDirectBmp(mut(b => b(28) = 32)) == null)
    assert(Multimodal.tryDirectBmp(mut(b => b(30) = 1)) == null)
    assert(Multimodal.tryDirectBmp(java.util.Arrays.copyOf(bmp, bmp.length - 1)) == null)

    val df = Seq((1L, bmp), (2L, png)).toDF("doc_id", "payload")
    val hashes = Multimodal.perceptualHash(df, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L), "dHash must be container-invariant across the two decode paths")
  }

  test("hand-built PNG (stored deflate) decodes via ImageIO to the contract raster") {
    // round 11: buildPng's bytes must be a VALID PNG (signature, chunk
    // CRCs, zlib stored-block stream, adler32) whose decoded raster is
    // pixel-identical to the contract BMP of the same source — the
    // cross-format re-encode fixture behind q_image_dedup_png
    val srcs = Seq(
      "hello world", "", "中文 multibyte first char", "x",
      "a longer document with enough bytes to fill an 11x11 raster and wrap around its source several times over"
    ).map(_.getBytes("UTF-8"))
    srcs.foreach { src =>
      val png = Multimodal.buildPng(src)
      assert(Multimodal.tryDirectBmp(png) == null, "PNG must not take the BMP path")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img != null, s"ImageIO rejected the hand-built PNG (src ${src.length}B)")
      val ref = Multimodal.tryDirectBmp(Multimodal.buildBmp(src))
      assert(img.getWidth == ref.width && img.getHeight == ref.height)
      for (y <- 0 until ref.height; x <- 0 until ref.width)
        assert((img.getRGB(x, y) & 0xffffff) == ref.rgb(x, y),
          s"pixel ($x,$y) differs for src of ${src.length} bytes")
    }
    // byte-determinism: the encoder has no compressor-version dependence
    val a = Multimodal.buildPng("determinism".getBytes("UTF-8"))
    val b = Multimodal.buildPng("determinism".getBytes("UTF-8"))
    assert(java.util.Arrays.equals(a, b))
  }

  test("hand-built baseline JPEG decodes via ImageIO to the mosaic EXACTLY") {
    // round 12: buildJpeg is a real ITU-T T.81 baseline stream (markers,
    // canonical Huffman, unit DQT, byte stuffing) and — because every 8x8
    // block is uniform, so each block is DC-only — the LOSSY codec round
    // trip is byte-exact: decode(buildJpeg(s)) == mosaic(s) == the decoded
    // buildBmpMosaic(s) raster. This exactness is what lets q_image_dedup_jpeg
    // keep a value-exact DuckDB oracle over a real JPEG decode.
    val srcs = Seq(
      "hello world", "", "中文 multibyte first char", "x",
      "ÿ  edge bytes", // values near 255/0 stress the DC range
      "a longer document with enough bytes to fill the block mosaic and wrap around its source several times over"
    ).map(_.getBytes("UTF-8")) :+ (0 until 256).map(_.toByte).toArray
    srcs.foreach { src =>
      val jpg = Multimodal.buildJpeg(src)
      assert(Multimodal.tryDirectBmp(jpg) == null, "JPEG must not take the BMP path")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
      assert(img != null, s"ImageIO rejected the hand-built JPEG (src ${src.length}B)")
      val ref = Multimodal.tryDirectBmp(Multimodal.buildBmpMosaic(src))
      assert(ref != null, "mosaic BMP must take the contract-direct path")
      assert(img.getWidth == ref.width && img.getHeight == ref.height)
      for (y <- 0 until ref.height; x <- 0 until ref.width)
        assert((img.getRGB(x, y) & 0xffffff) == ref.rgb(x, y),
          s"pixel ($x,$y) differs for src of ${src.length} bytes")
    }
    // byte-determinism: hand-rolled bit packing, no encoder-version drift
    val a = Multimodal.buildJpeg("determinism".getBytes("UTF-8"))
    val b = Multimodal.buildJpeg("determinism".getBytes("UTF-8"))
    assert(java.util.Arrays.equals(a, b))
  }
}
