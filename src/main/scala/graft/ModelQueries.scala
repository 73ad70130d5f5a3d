package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter._
import graft.linalg.DMat
import graft.mixture.{BernoulliMixture, MultivariateGaussianMixture, PoissonMixture}
import graft.multimodal.Multimodal
import graft.smoother.LinearKalmanSmoother

/**
 * Driver-gate queries for the nonlinear filters, smoother, MMAE, mixtures,
 * multi-step prediction, vector functions and multimodal plumbing
 * (SURVEY.md §2 #5-13, 27, 30). Nonlinear-filter oracles replay the exact
 * IEEE operation sequence (+,-,*,/ and sqrt are all correctly rounded, so
 * sigma-point recursions replay bit-exact in SQL); mixtures and MMAE use
 * exp/log whose last-ulp behavior is libm-specific, so they are rows-only
 * with ScalaTest convergence coverage instead.
 */
object ModelQueries {

  import Tables.{t, events}

  /** unique (user_id, ts) measurement stream, z = avg event value. */
  private def userStream(s: SparkSession, dir: String): DataFrame =
    events(s, dir).groupBy(col("user_id"), col("ts")).agg(avg(col("value")).as("z"))

  private val userStreamSql =
    """SELECT user_id, ts, avg(value) AS z,
      |       row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      |FROM events GROUP BY user_id, ts""".stripMargin

  private val regressionStreamSql =
    """SELECT l_suppkey AS key, l_shipdate AS ts,
      |       avg(l_quantity) AS x, avg(l_extendedprice)/1000 AS y,
      |       row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS rn
      |FROM lineitem GROUP BY l_suppkey, l_shipdate""".stripMargin

  private def regressionStream(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"), col("l_shipdate"))
      .agg(avg(col("l_quantity")).as("x"), (avg(col("l_extendedprice")) / 1000).as("y"))

  // ================================================================= queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_ekf" -> ((s, dir) => {
      // EKF with polynomial measurement h(th) = (th0 + th1*x)^2 per supplier
      // (data rides in through the measurement model matrix, like the
      // reference's GLM examples).
      val ms = regressionStream(s, dir)
        .withColumn("meas", array(col("y")))
        .withColumn("hmat",
          struct(lit(1).as("numRows"), lit(2).as("numCols"),
            array(lit(1.0), col("x")).as("values")))
      val ekf = new ExtendedKalmanFilter(2, 1)
        .setStateKeyCol("l_suppkey")
        .setEventTimeCol("l_shipdate")
        .setAssumeUniqueEventTimes()
        .setMeasurementCol("meas")
        .setMeasurementModelCol("hmat")
        .setMeasurementFunction((st, h) => {
          val x = h.values(1)
          val u = st(0) + st(1) * x
          Array(u * u)
        })
        .setMeasurementStateJacobian((st, h) => {
          val x = h.values(1)
          val u = st(0) + st(1) * x
          DMat(1, 2, Array(2.0 * u, (2.0 * u) * x))
        })
        .setInitialStateMean(Array(5.0, 0.0))
        .setInitialStateCovariance(DMat.of(2, 2, 10.0, 0.0, 0.0, 10.0))
        .setProcessNoise(DMat.zeros(2, 2))
        .setMeasurementNoise(DMat.of(1, 1, 10.0))
      ekf.transform(ms)
        .groupBy(col("l_suppkey"))
        .agg(max_by(col("stateMean"), col("stateIndex")).as("th"))
        .select(
          col("l_suppkey").cast("long").as("key"),
          round(col("th")(0), 6).as("th0"),
          round(col("th")(1), 6).as("th1"))
        .orderBy(col("key"))
    }),

    "q_ukf" -> ((s, dir) => {
      // 1-state UKF (merwe) tracking sqrt of the event value: z = x^2 + noise
      val ukf = new UnscentedKalmanFilter(1, 1)
        .setStateKeyCol("user_id")
        .setEventTimeCol("ts")
        .setAssumeUniqueEventTimes()
        .setMeasurementCol("meas")
        .setSigmaPoints("merwe")
        .setMerweAlpha(0.6).setMerweBeta(2.0).setMerweKappa(0.5)
        .setMeasurementFunction((st, _) => Array(st(0) * st(0)))
        .setInitialStateMean(Array(5.0))
        .setInitialStateCovariance(DMat.of(1, 1, 5.0))
        .setProcessNoise(DMat.of(1, 1, 0.1))
        .setMeasurementNoise(DMat.of(1, 1, 25.0))
      ukf.transform(userStream(s, dir).withColumn("meas", array(col("z"))))
        .groupBy(col("user_id"))
        .agg(
          max_by(col("stateMean")(0), col("stateIndex")).as("m"),
          max_by(col("stateCovariance.values")(0), col("stateIndex")).as("p"))
        .select(col("user_id").cast("long").as("key"),
          round(col("m"), 5).as("state_mean"), round(col("p"), 5).as("state_cov"))
        .orderBy(col("key"))
    }),

    "q_raukf" -> ((s, dir) => {
      // UKF with RAUKF adaptive process noise: same model as q_ukf, noise
      // inflating when the residual breaches the mahalanobis threshold.
      // Value-exact oracle: raukfOracle replays the sigma-point recursion
      // with the effective Q carried through the adaptation algebra.
      val ukf = new UnscentedKalmanFilter(1, 1)
        .setStateKeyCol("user_id")
        .setEventTimeCol("ts")
        .setAssumeUniqueEventTimes()
        .setMeasurementCol("meas")
        .setSigmaPoints("merwe")
        .setMerweAlpha(0.6).setMerweBeta(2.0).setMerweKappa(0.5)
        .setMeasurementFunction((st, _) => Array(st(0) * st(0)))
        .setInitialStateMean(Array(5.0))
        .setInitialStateCovariance(DMat.of(1, 1, 5.0))
        .setProcessNoise(DMat.of(1, 1, 0.1))
        .setMeasurementNoise(DMat.of(1, 1, 25.0))
        .setEnableAdaptiveProcessNoise()
        .setAdaptiveProcessNoiseThreshold(2.0)
      ukf.transform(userStream(s, dir).withColumn("meas", array(col("z"))))
        .groupBy(col("user_id"))
        .agg(
          max_by(col("stateMean")(0), col("stateIndex")).as("m"),
          max_by(col("stateCovariance.values")(0), col("stateIndex")).as("p"))
        .select(col("user_id").cast("long").as("key"),
          round(col("m"), 5).as("state_mean"), round(col("p"), 5).as("state_cov"))
        .orderBy(col("key"))
    }),

    "q_ckf" -> ((s, dir) => {
      val ckf = new CubatureKalmanFilter(1, 1)
        .setStateKeyCol("user_id")
        .setEventTimeCol("ts")
        .setAssumeUniqueEventTimes()
        .setMeasurementCol("meas")
        .setMeasurementFunction((st, _) => Array(st(0) * st(0)))
        .setInitialStateMean(Array(5.0))
        .setInitialStateCovariance(DMat.of(1, 1, 5.0))
        .setProcessNoise(DMat.of(1, 1, 0.1))
        .setMeasurementNoise(DMat.of(1, 1, 25.0))
      ckf.transform(userStream(s, dir).withColumn("meas", array(col("z"))))
        .groupBy(col("user_id"))
        .agg(
          max_by(col("stateMean")(0), col("stateIndex")).as("m"),
          max_by(col("stateCovariance.values")(0), col("stateIndex")).as("p"))
        .select(col("user_id").cast("long").as("key"),
          round(col("m"), 5).as("state_mean"), round(col("p"), 5).as("state_cov"))
        .orderBy(col("key"))
    }),

    "q_rts" -> ((s, dir) => {
      // RTS smoother over the local-level model; smoothed state at every step
      val sm = new LinearKalmanSmoother(1, 1)
      sm.setStateKeyCol("user_id")
        .setEventTimeCol("ts")
        .setAssumeUniqueEventTimes()
        .setMeasurementCol("meas")
        .setInitialStateMean(Array(0.0))
        .setInitialStateCovariance(DMat.of(1, 1, 10.0))
        .setProcessNoise(DMat.of(1, 1, 1.0))
        .setMeasurementNoise(DMat.of(1, 1, 4.0))
      sm.transform(userStream(s, dir).withColumn("meas", array(col("z"))))
        .select(
          col("user_id").cast("long").as("key"),
          col("stateIndex"),
          round(col("stateMean")(0), 5).as("sm_mean"),
          round(col("stateCovariance.values")(0), 6).as("sm_cov"))
        .orderBy(col("key"), col("stateIndex"))
    }),

    "q_multistep" -> ((s, dir) => {
      // multi-step predict: LLT filter emitting 2 extra predict-only steps
      val lkf = new LinearKalmanFilter(1, 1)
        .setStateKeyCol("user_id")
        .setEventTimeCol("ts")
        .setAssumeUniqueEventTimes()
        .setMeasurementCol("meas")
        .setMultiStepPredict(2)
        .setInitialStateMean(Array(0.0))
        .setInitialStateCovariance(DMat.of(1, 1, 10.0))
        .setProcessNoise(DMat.of(1, 1, 1.0))
        .setMeasurementNoise(DMat.of(1, 1, 4.0))
      val out = lkf.transform(userStream(s, dir).withColumn("meas", array(col("z"))))
      // last stateIndex per (key, step) via max_by: ONE filter pass + one
      // aggregation (the previous groupBy-max self-join ran the stateful
      // stage twice when exchange reuse didn't kick in)
      out.groupBy(col("user_id"), col("stepIndex"))
        .agg(
          max_by(col("stateMean")(0), col("stateIndex")).as("m0"),
          max_by(col("stateCovariance.values")(0), col("stateIndex")).as("p0"))
        .select(
          col("user_id").cast("long").as("key"),
          col("stepIndex").cast("long").as("step"),
          round(col("m0"), 5).as("m"),
          round(col("p0"), 5).as("p"))
        .orderBy(col("key"), col("step"))
    }),

    "q_mmae" -> ((s, dir) => {
      // bank of 3 local-level filters with different measurement noises,
      // MMAE-weighted by sliding likelihood (rows-only oracle; exp/log)
      val base = userStream(s, dir).where(col("user_id") === 0)
      val bank = base.crossJoin(
        s.range(3).select(col("id").as("fid"),
          expr("struct(1 as numRows, 1 as numCols, array(double(1 + id*4)) as values)").as("rmat")))
      val lkf = new LinearKalmanFilter(1, 1)
        .setStateKeyCol("bankKey")
        .setEventTimeCol("ts")
        .setAssumeUniqueEventTimes()
        .setMeasurementCol("meas")
        .setMeasurementNoiseCol("rmat")
        .setInitialStateCovariance(DMat.of(1, 1, 10.0))
        .setProcessNoise(DMat.of(1, 1, 1.0))
        .setSlidingLikelihoodWindow(5)
        .setEnableMultipleModelAdaptiveEstimation()
      lkf.transform(
          bank.withColumn("bankKey", concat(col("user_id"), lit("_"), col("fid")))
            .withColumn("meas", array(col("z"))))
        .select(col("stateIndex"), round(col("stateMean")(0), 4).as("m"))
        .orderBy(col("stateIndex"))
    }),

    "q_gmm" -> ((s, dir) => {
      // online 2-component gaussian mixture per event_type over value
      val gmm = new MultivariateGaussianMixture(2, 1)
        .setStateKeyCol("event_type")
        .setEventTimeCol("ts")
        .setSampleCol("sample")
        .setStepSize(0.05)
        .setMinibatchSize(16)
        .setInitialMeans(Array(Array(50.0), Array(300.0)))
        .setInitialCovariances(Array(Array(2500.0), Array(2500.0)))
      gmm.transform(events(s, dir).withColumn("sample", array(col("value"))))
        .groupBy(col("event_type"))
        .agg(
          max(col("stateIndex")).as("n_batches"),
          max_by(col("weights")(0), col("stateIndex")).as("w0"),
          max_by(col("params")(0)(0), col("stateIndex")).as("mu0"),
          max_by(col("params")(1)(0), col("stateIndex")).as("mu1"))
        .select(col("event_type"), col("n_batches"),
          round(col("w0"), 4).as("w0"), round(col("mu0"), 3).as("mu0"), round(col("mu1"), 3).as("mu1"))
        .orderBy(col("event_type"))
    }),

    "q_pmm" -> ((s, dir) => {
      // online poisson mixture over integerized event values
      val pmm = new PoissonMixture(2)
        .setStateKeyCol("event_type")
        .setEventTimeCol("ts")
        .setSampleCol("k")
        .setStepSize(0.05)
        .setMinibatchSize(16)
        .setInitialRates(Array(10.0, 100.0))
      pmm.transform(events(s, dir).withColumn("k", expr("CAST(value / 10 AS LONG)")))
        .groupBy(col("event_type"))
        .agg(
          max(col("stateIndex")).as("n_batches"),
          max_by(col("params")(0)(0), col("stateIndex")).as("rate0"),
          max_by(col("params")(1)(0), col("stateIndex")).as("rate1"))
        .select(col("event_type"), col("n_batches"),
          round(col("rate0"), 3).as("rate0"), round(col("rate1"), 3).as("rate1"))
        .orderBy(col("event_type"))
    }),

    "q_bmm" -> ((s, dir) => {
      // online bernoulli mixture: success = value above median-ish threshold
      val bmm = new BernoulliMixture(2)
        .setStateKeyCol("event_type")
        .setEventTimeCol("ts")
        .setSampleCol("b")
        .setStepSize(0.05)
        .setMinibatchSize(16)
        .setInitialProbabilities(Array(0.2, 0.8))
      bmm.transform(events(s, dir).withColumn("b", (col("value") > 100).cast("double")))
        .groupBy(col("event_type"))
        .agg(
          max(col("stateIndex")).as("n_batches"),
          max_by(col("params")(0)(0), col("stateIndex")).as("p0"),
          max_by(col("params")(1)(0), col("stateIndex")).as("p1"))
        .select(col("event_type"), col("n_batches"),
          round(col("p0"), 3).as("p0"), round(col("p1"), 3).as("p1"))
        .orderBy(col("event_type"))
    }),

    "q_vector_fns" -> ((s, dir) => {
      import graft.functions.VectorFunctions._
      val emb = t(s, dir, "embeddings").where(col("vec_id") < 200)
        .withColumn("v", col("embedding").cast("array<double>"))
      emb.select(
          col("vec_id"),
          round(dotVector(col("v"), col("v")), 6).as("dot_self"),
          round(normVector(col("v")), 6).as("nrm"),
          round(aggregate(scalVector(lit(2.0), col("v")), lit(0.0), (a, x) => a + x), 6).as("scal_sum"),
          round(aggregate(axpyVector(lit(3.0), col("v"), col("v")), lit(0.0), (a, x) => a + x), 6).as("axpy_sum"))
        .orderBy(col("vec_id"))
    }),

    "q_rand_gaussian" -> ((s, dir) => {
      // Seeded multivariate-gaussian sampling (reference SparkFunctions
      // randMultiGaussian parity). Spark's XORShift randn stream is not
      // replayable in DuckDB, but the SAMPLE MOMENTS concentrate hard enough
      // (>=5 sigma from every rounding boundary at n>=200 per key) that the
      // analytically-known rounded values ARE a deterministic oracle:
      // m0 = round(mean+10) = 10, v0 = round(var/4) = 1 (cov00 = 4),
      // c01 = round(cov01/1.2) = 1 (cov01 = 1.2). Tight moment + seeded
      // determinism checks live in RandomFunctionsSpec; this also exercises
      // the per-row-parameter (native cholesky) path on every event row.
      import graft.functions.VectorFunctions._
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
        .withColumn("mu", array(col("value") * 0.0, col("value") * 0.0))
        .withColumn("sigma", matrixStruct(2, 2,
          array(lit(4.0), lit(1.2), lit(1.2), lit(1.0))))
      ev.withColumn("x", randMultiGaussianWithCol(col("mu"), col("sigma"), 2, seed = 97L))
        .select(col("event_type"),
          element_at(col("x"), 1).as("x0"), element_at(col("x"), 2).as("x1"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("x0")) + lit(10.0), 0).as("m0"),
          round(var_samp(col("x0")) / 4.0, 0).as("v0"),
          round(covar_samp(col("x0"), col("x1")) / 1.2, 0).as("c01"))
        .orderBy(col("event_type"))
    }),

    "q_multimodal" -> ((s, dir) => {
      // Real codec path: text bytes -> valid BMP payload -> javax.imageio
      // decode -> raster features. width/height/feat0 come from the DECODED
      // image; the oracle predicts them from the payload-builder contract.
      val docs = t(s, dir, "documents")
      val withBin = Multimodal.withImagePayload(docs, "text")
      Multimodal.decodeImages(withBin, "doc_id", "payload").toDF()
        .select(
          col("doc_id"),
          col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("feature")(0).as("feat0"))
        .orderBy(col("doc_id"))
    }),

    "q_multimodal_video" -> ((s, dir) => {
      // Frame-sampled video-style container: GVID magic + frame count +
      // length-prefixed real BMP frames (frame f = text bytes rotated by f).
      // The middle frame is walked to and decoded with javax.imageio; the
      // oracle predicts container size and the sampled frame's geometry and
      // pixel sum from the text bytes.
      val docs = t(s, dir, "documents")
      val withVid = Multimodal.withVideoPayload(docs, "text")
      Multimodal.sampleMiddleFrame(withVid, "doc_id", "payload").toDF()
        .select(
          col("doc_id"),
          col("n_bytes"),
          col("n_frames").cast("long").as("n_frames"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("feature")(0).as("feat0"))
        .orderBy(col("doc_id"))
    }),

    "q_multimodal_audio" -> ((s, dir) => {
      // Real RIFF/WAVE PCM16 decode via javax.sound.sampled; the exact
      // sample sum (feature 0) is oracle-predictable from the text bytes.
      val docs = t(s, dir, "documents")
      val withWav = Multimodal.withAudioPayload(docs, "text")
      Multimodal.decodeAudio(withWav, "doc_id", "payload").toDF()
        .select(
          col("doc_id"),
          col("n_bytes"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_samples"),
          col("feature")(0).as("feat0"))
        .orderBy(col("doc_id"))
    }),

    "q_video_dedup" -> ((s, dir) => {
      // the video leg: middle-frame dHash groups containers whose sampled
      // frame renders identically despite byte-different sources
      val docs = t(s, dir, "documents").where(col("n_chars") > 130)
        .select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(docs.select(
        (col("doc_id") + 2100000000L).as("doc_id"),
        concat(col("text").substr(lit(1), length(col("text")) - 1), lit("#")).as("text")))
      val withVid = Multimodal.withVideoPayload(corpus, "text")
      Multimodal.videoFingerprint(withVid, "doc_id", "payload")
        .join(corpus.select(col("doc_id"), md5(col("text")).as("ch")), Seq("doc_id"))
        .where(col("vfp").isNotNull) // poison rows = quarantine, not a dup cluster
        .groupBy(col("vfp"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("ch")).as("n_contents"),
          min(col("doc_id")).as("canonical_id"))
        .orderBy(col("vfp"))
    }),

    "q_audio_dedup" -> ((s, dir) => {
      // the audio twin of q_image_dedup: byte-variant payloads decode to
      // the identical waveform (no sample reads the changed byte), so the
      // delta-sign fingerprint groups what byte-hash dedup splits
      val docs = t(s, dir, "documents").where(col("n_chars") > 130)
        .select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(docs.select(
        (col("doc_id") + 2100000000L).as("doc_id"),
        concat(col("text").substr(lit(1), length(col("text")) - 1), lit("#")).as("text")))
      val withWav = Multimodal.withAudioPayload(corpus, "text")
      Multimodal.audioFingerprint(withWav, "doc_id", "payload")
        .join(corpus.select(col("doc_id"), md5(col("text")).as("ch")), Seq("doc_id"))
        .where(col("afp").isNotNull) // poison rows = quarantine, not a dup cluster
        .groupBy(col("afp"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("ch")).as("n_contents"),
          min(col("doc_id")).as("canonical_id"))
        .orderBy(col("afp"))
    }),

    "q_image_dedup" -> ((s, dir) => {
      // perceptual image dedup: every doc gets a byte-level variant (last
      // source char replaced) whose payload md5 differs but whose DECODED
      // raster is pixel-identical (n > w*h, so no pixel samples the
      // changed byte) — byte-hash dedup misses the pair, the dHash over
      // the decoded raster catches it. Map-side decode + one hash agg.
      val docs = t(s, dir, "documents").where(col("n_chars") > 130)
        .select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(docs.select(
        (col("doc_id") + 2100000000L).as("doc_id"),
        concat(col("text").substr(lit(1), length(col("text")) - 1), lit("#")).as("text")))
      val withBin = Multimodal.withImagePayload(corpus, "text")
      Multimodal.perceptualHash(withBin, "doc_id", "payload")
        .join(corpus.select(col("doc_id"), md5(col("text")).as("ch")), Seq("doc_id"))
        .where(col("phash").isNotNull) // poison rows = quarantine, not a dup cluster
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("ch")).as("n_contents"),
          min(col("doc_id")).as("canonical_id"))
        .orderBy(col("phash"))
    }),

    "q_image_dedup_png" -> ((s, dir) => {
      // CROSS-FORMAT perceptual dedup (round 11): the mixed corpus holds,
      // per source doc, a BMP, a byte-variant BMP (pixel-identical), and a
      // REAL PNG re-encode of the same raster (javax.imageio PNG decode:
      // signature, chunk CRCs, zlib inflate, filter reconstruction). Three
      // byte-different payloads, two distinct texts, ONE decoded raster —
      // dHash groups all three; any byte-hash dedup sees three singletons.
      val docs = t(s, dir, "documents").where(col("n_chars") > 130)
        .select(col("doc_id"), col("text"))
      val variant = docs.select(
        (col("doc_id") + 2100000000L).as("doc_id"),
        concat(col("text").substr(lit(1), length(col("text")) - 1), lit("#")).as("text"))
      val pngDocs = docs.select((col("doc_id") + 2400000000L).as("doc_id"), col("text"))
      val bmpSide = Multimodal.withImagePayload(docs.unionAll(variant), "text")
      val pngSide = Multimodal.withPngPayload(pngDocs, "text")
      val corpus = docs.unionAll(variant).unionAll(pngDocs)
      Multimodal.perceptualHash(
          bmpSide.select(col("doc_id"), col("payload"))
            .unionAll(pngSide.select(col("doc_id"), col("payload"))),
          "doc_id", "payload")
        .join(corpus.select(col("doc_id"), md5(col("text")).as("ch")), Seq("doc_id"))
        .where(col("phash").isNotNull)
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("ch")).as("n_contents"),
          min(col("doc_id")).as("canonical_id"))
        .orderBy(col("phash"))
    }),

    "q_image_dedup_jpeg" -> ((s, dir) => {
      // BMP ↔ JPEG cross-format perceptual dedup (round 12): per source doc
      // a mosaic-contract BMP and a REAL baseline JPEG (hand-built ITU-T
      // T.81 stream — unit quant tables, DC-only uniform blocks, so the
      // LOSSY codec round-trips byte-exactly; MultimodalSpec pins
      // decode ≡ mosaic). Byte-different containers, one decoded raster:
      // dHash groups the pair, byte-hash dedup sees two singletons. The
      // decode rides javax.imageio's actual JPEG path (marker parse,
      // Huffman decode, dequantize, IDCT, YCbCr→RGB).
      val docs = t(s, dir, "documents").where(col("n_chars") > 130)
        .select(col("doc_id"), col("text"))
      val jpgDocs = docs.select((col("doc_id") + 2600000000L).as("doc_id"), col("text"))
      val bmpSide = Multimodal.withMosaicBmpPayload(docs, "text")
      val jpgSide = Multimodal.withJpegPayload(jpgDocs, "text")
      val corpus = docs.unionAll(jpgDocs)
      Multimodal.perceptualHash(
          bmpSide.select(col("doc_id"), col("payload"))
            .unionAll(jpgSide.select(col("doc_id"), col("payload"))),
          "doc_id", "payload")
        .join(corpus.select(col("doc_id"), md5(col("text")).as("ch")), Seq("doc_id"))
        .where(col("phash").isNotNull)
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("ch")).as("n_contents"),
          min(col("doc_id")).as("canonical_id"))
        .orderBy(col("phash"))
    })
  )

  // ================================================================= oracles

  /** EKF polynomial-measurement replay (2-state, generalizes the BLR CTE with
    * linearized H = [j0, j1] and nonlinear residual). */
  private def ekfOracle: String = {
    val r = "10.0"
    // shared subexpressions materialized via nested SELECTs
    def step(src: String): String =
      s"""  SELECT key, rn,
         |    th0 + (k0*resid) AS th0, th1 + (k1*resid) AS th1,
         |    (((i00*p00) + (i01*p01))*i00 + ((i00*p01) + (i01*p11))*i01) + ((k0*$r)*k0) AS c00,
         |    0.5*(
         |      ((((i00*p00) + (i01*p01))*i10 + ((i00*p01) + (i01*p11))*i11) + ((k0*$r)*k1))
         |      +
         |      (((i10*p00 + i11*p01)*i00 + (i10*p01 + i11*p11)*i01) + ((k1*$r)*k0))
         |    ) AS c01,
         |    (((i10*p00 + i11*p01)*i10 + (i10*p01 + i11*p11)*i11) + ((k1*$r)*k1)) AS c11
         |  FROM (
         |    SELECT *, 1.0 + (-1.0*(k0*j0)) AS i00, -(k0*j1) AS i01,
         |           -(k1*j0) AS i10, 1.0 + (-1.0*(k1*j1)) AS i11
         |    FROM (
         |      SELECT *, (pht0*sinv) AS k0, (pht1*sinv) AS k1
         |      FROM (
         |        SELECT *, (1.0/(((j0*pht0) + (j1*pht1)) + $r)) AS sinv
         |        FROM (
         |          SELECT *, (p00*j0) + (p01*j1) AS pht0, (p01*j0) + (p11*j1) AS pht1
         |          FROM (
         |            SELECT *, (2.0*(th0 + (th1*x))) AS j0, ((2.0*(th0 + (th1*x)))*x) AS j1,
         |                   y - ((th0 + (th1*x)) * (th0 + (th1*x))) AS resid
         |            FROM $src
         |          )
         |        )
         |      )
         |    )
         |  )""".stripMargin
    s"""WITH RECURSIVE meas AS (
       |$regressionStreamSql
       |),
       |filt AS (
       |  SELECT key, rn, th0, th1, c00 AS p00, c01 AS p01, c11 AS p11 FROM (
       |${step("(SELECT key, rn, x, y, 5.0 AS th0, 0.0 AS th1, 10.0 AS p00, 0.0 AS p01, 10.0 AS p11 FROM meas WHERE rn=1)")}
       |  )
       |  UNION ALL
       |  SELECT key, rn, th0, th1, c00 AS p00, c01 AS p01, c11 AS p11 FROM (
       |${step("(SELECT s.key, s.rn, s.x, s.y, f.th0, f.th1, f.p00, f.p01, f.p11 FROM filt f JOIN meas s ON s.key=f.key AND s.rn=f.rn+1)")}
       |  )
       |)
       |SELECT key, ROUND(th0,6) AS th0, ROUND(th1,6) AS th1
       |FROM (SELECT *, row_number() OVER (PARTITION BY key ORDER BY rn DESC) rk FROM filt)
       |WHERE rk=1 ORDER BY key""".stripMargin
  }

  /** Sigma-point filter replay for 1-state models with h(x)=x^2. `pts3` =
    * merwe/julier (2n+1 points); otherwise cubature (2n points). */
  /** Shared sigma-point step pipeline ending with the gain `g` computed
    * (columns: src's plus c1..c2, mp*, mm, m1, p1, z*, zm, sm, cross1, g).
    * `qExpr` is the process noise used by the predict layer — a literal for
    * the static filters, the carried `qe` column for RAUKF. */
  private def sigmaCore1d(
      src: String, qExpr: String, scale: String,
      wm0: String, wmi: String, wc0: String, wci: String, r: String,
      threePoints: Boolean): String =
    if (threePoints)
      s"""    SELECT *, (cross1*(1.0/sm)) AS g
         |    FROM (
         |      SELECT *,
         |        ((($wc0*((z0-zm)*(z0-zm))) + ($wci*((z1-zm)*(z1-zm)))) + ($wci*((z2-zm)*(z2-zm)))) + $r AS sm,
         |        (($wc0*((m1-m1)*(z0-zm))) + ($wci*(((m1+c2)-m1)*(z1-zm)))) + ($wci*(((m1-c2)-m1)*(z2-zm))) AS cross1
         |      FROM (
         |        SELECT *, (($wm0*z0) + ($wmi*z1)) + ($wmi*z2) AS zm
         |        FROM (
         |          SELECT *, (m1*m1) AS z0, ((m1+c2)*(m1+c2)) AS z1, ((m1-c2)*(m1-c2)) AS z2
         |          FROM (
         |            SELECT *, sqrt($scale*p1) AS c2
         |            FROM (
         |              SELECT *,
         |                $qExpr + ((($wc0*((mp0-mm)*(mp0-mm))) + ($wci*((mp1-mm)*(mp1-mm)))) + ($wci*((mp2-mm)*(mp2-mm)))) AS p1,
         |                mm AS m1
         |              FROM (
         |                SELECT *, (($wm0*mp0) + ($wmi*mp1)) + ($wmi*mp2) AS mm
         |                FROM (
         |                  SELECT *, m AS mp0, m + c1 AS mp1, m - c1 AS mp2
         |                  FROM (SELECT *, sqrt($scale*p) AS c1 FROM $src)
         |                )
         |              )
         |            )
         |          )
         |        )
         |      )
         |    )""".stripMargin
    else
      s"""    SELECT *, (cross1*(1.0/sm)) AS g
         |    FROM (
         |      SELECT *,
         |        ((($wci*((z1-zm)*(z1-zm))) + ($wci*((z2-zm)*(z2-zm))))) + $r AS sm,
         |        (($wci*(((m1+c2)-m1)*(z1-zm)))) + ($wci*(((m1-c2)-m1)*(z2-zm))) AS cross1
         |      FROM (
         |        SELECT *, (($wmi*z1)) + ($wmi*z2) AS zm
         |        FROM (
         |          SELECT *, ((m1+c2)*(m1+c2)) AS z1, ((m1-c2)*(m1-c2)) AS z2
         |          FROM (
         |            SELECT *, sqrt($scale*p1) AS c2
         |            FROM (
         |              SELECT *,
         |                $qExpr + ((($wci*((mp1-mm)*(mp1-mm)))) + ($wci*((mp2-mm)*(mp2-mm)))) AS p1,
         |                mm AS m1
         |              FROM (
         |                SELECT *, (($wmi*mp1)) + ($wmi*mp2) AS mm
         |                FROM (
         |                  SELECT *, m + c1 AS mp1, m - c1 AS mp2
         |                  FROM (SELECT *, sqrt($scale*p) AS c1 FROM $src)
         |                )
         |              )
         |            )
         |          )
         |        )
         |      )
         |    )""".stripMargin

  /** Last-row-per-key projection shared by the sigma-point oracles. */
  private def sigmaTail(stepBase: String, stepRec: String): String =
    s"""WITH RECURSIVE meas AS (
       |$userStreamSql
       |),
       |filt AS (
       |$stepBase
       |  UNION ALL
       |$stepRec
       |)
       |SELECT user_id AS key, ROUND(m,5) AS state_mean, ROUND(p,5) AS state_cov
       |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) rk FROM filt)
       |WHERE rk=1 ORDER BY key""".stripMargin

  private def sigmaOracle1d(
      lamExpr: String, wm0: String, wmi: String, wc0: String, wci: String,
      q: Double, r: Double, m0: Double, p0: Double, threePoints: Boolean): String = {
    val scale = s"(1.0 + $lamExpr)"
    def step(src: String): String =
      s"""  SELECT user_id, rn,
         |    m1 + (g*(z - zm)) AS m, p1 - ((g*sm)*g) AS p
         |  FROM (
         |${sigmaCore1d(src, q.toString, scale, wm0, wmi, wc0, wci, r.toString, threePoints)}
         |  )""".stripMargin
    sigmaTail(
      step(s"(SELECT user_id, rn, z, $m0 AS m, $p0 AS p FROM meas WHERE rn=1)"),
      step("(SELECT s.user_id, s.rn, s.z, f.m, f.p FROM filt f JOIN meas s ON s.user_id=f.user_id AND s.rn=f.rn+1)"))
  }

  private def ukfOracle: String = {
    val lam = "(((0.6*0.6)*(1.0+0.5)) - 1.0)"
    val s = s"(1.0 + $lam)"
    sigmaOracle1d(
      lamExpr = lam,
      wm0 = s"($lam/$s)",
      wmi = s"(1.0/(2.0*$s))",
      wc0 = s"(($lam/$s) + ((1.0 - (0.6*0.6)) + 2.0))",
      wci = s"(1.0/(2.0*$s))",
      q = 0.1, r = 25.0, m0 = 5.0, p0 = 5.0, threePoints = true)
  }

  /** RAUKF replay: the UKF sigma-point recursion additionally carrying the
    * EFFECTIVE process noise qe. Every adaptation op is portable arithmetic
    * (+,-,*,/,sqrt,max — no exp/log), replayed in the kernel's exact order:
    * sInv = 1.0/S (Dense.inverse 1x1), sqMah = r*((1/S)*r), on breach
    * w = max(lambda, (sqMah - alpha*thr)/sqMah) and
    * qe' = ((K*((w*r)*r))*K) + ((1-w)*qe)  (outer/matmul/axpy order);
    * below threshold qe resets to the static Q. */
  private def raukfOracle: String = {
    val lam = "(((0.6*0.6)*(1.0+0.5)) - 1.0)"
    val sc = s"(1.0 + $lam)"
    val (wm0, wmi) = (s"($lam/$sc)", s"(1.0/(2.0*$sc))")
    val (wc0, wci) = (s"(($lam/$sc) + ((1.0 - (0.6*0.6)) + 2.0))", s"(1.0/(2.0*$sc))")
    val (r, m0, p0, qStatic) = ("25.0", "5.0", "5.0", "0.1")
    val (thr, lamW, alphaW) = ("2.0", "0.9", "1.0")
    // one filter step from columns (user_id, rn, z, m, p, qe): the shared
    // sigma pipeline with qe as the predict noise, then the adaptation layers
    def step(src: String): String =
      s"""  SELECT user_id, rn,
         |    m1 + (g*(z - zm)) AS m, p1 - ((g*sm)*g) AS p,
         |    CASE WHEN sqmah > $thr
         |      THEN ((g*((gw*(z - zm))*(z - zm)))*g) + ((1.0-gw)*qe)
         |      ELSE $qStatic END AS qe
         |  FROM (
         |    SELECT *, greatest($lamW, (sqmah - ($alphaW*$thr))/sqmah) AS gw
         |    FROM (
         |      SELECT *, ((z - zm)*((1.0/sm)*(z - zm))) AS sqmah
         |      FROM (
         |${sigmaCore1d(src, "qe", sc, wm0, wmi, wc0, wci, r, threePoints = true)}
         |      )
         |    )
         |  )""".stripMargin
    sigmaTail(
      step(s"(SELECT user_id, rn, z, $m0 AS m, $p0 AS p, $qStatic AS qe FROM meas WHERE rn=1)"),
      step("(SELECT s.user_id, s.rn, s.z, f.m, f.p, f.qe FROM filt f JOIN meas s ON s.user_id=f.user_id AND s.rn=f.rn+1)"))
  }

  private def ckfOracle: String = {
    // cubature: scale = n = 1, two points, equal weights 1/2
    val sql = sigmaOracle1d(
      lamExpr = "0.0", wm0 = "0.0", wmi = "(1.0/(2.0*1.0))",
      wc0 = "0.0", wci = "(1.0/(2.0*1.0))",
      q = 0.1, r = 25.0, m0 = 5.0, p0 = 5.0, threePoints = false)
    // cubature scale is n (=1), not 1+lam: (1.0 + 0.0) == 1.0 so the shared
    // generator's scale expression already matches Dense.scale(n, cov)
    sql
  }

  /** RTS smoother replay: forward local-level recursion (keeping predicted
    * moments), then a backward recursive CTE from the last index. */
  private def rtsOracle: String = {
    // CAST literals to DOUBLE: bare decimal literals are DECIMAL in DuckDB
    // and poison the recursive CTE's column types
    val (q, r, m0, p0) = ("CAST(1.0 AS DOUBLE)", "CAST(4.0 AS DOUBLE)",
      "CAST(0.0 AS DOUBLE)", "CAST(10.0 AS DOUBLE)")
    s"""WITH RECURSIVE meas AS (
       |$userStreamSql
       |),
       |fwd AS (
       |  SELECT user_id, rn, z,
       |    $m0 AS pm, ($p0+$q) AS pp,
       |    $m0 + (($p0+$q)*(1.0/(($p0+$q)+$r)))*(z - $m0) AS m,
       |    ((1.0-(($p0+$q)*(1.0/(($p0+$q)+$r))))*($p0+$q))*(1.0-(($p0+$q)*(1.0/(($p0+$q)+$r)))) + ((($p0+$q)*(1.0/(($p0+$q)+$r)))*$r)*(($p0+$q)*(1.0/(($p0+$q)+$r))) AS p
       |  FROM meas WHERE rn = 1
       |  UNION ALL
       |  SELECT s.user_id, s.rn, s.z,
       |    f.m AS pm, (f.p+$q) AS pp,
       |    f.m + ((f.p+$q)*(1.0/((f.p+$q)+$r)))*(s.z - f.m) AS m,
       |    ((1.0-((f.p+$q)*(1.0/((f.p+$q)+$r))))*(f.p+$q))*(1.0-((f.p+$q)*(1.0/((f.p+$q)+$r)))) + (((f.p+$q)*(1.0/((f.p+$q)+$r)))*$r)*((f.p+$q)*(1.0/((f.p+$q)+$r))) AS p
       |  FROM fwd f JOIN meas s ON s.user_id = f.user_id AND s.rn = f.rn + 1
       |),
       |mx AS (SELECT user_id, max(rn) AS mrn FROM fwd GROUP BY user_id),
       |bwd AS (
       |  SELECT f.user_id, f.rn, f.m AS sm, f.p AS sp, f.pm, f.pp
       |  FROM fwd f JOIN mx ON f.user_id = mx.user_id AND f.rn = mx.mrn
       |  UNION ALL
       |  SELECT f.user_id, f.rn,
       |    f.m + ((f.p*(1.0/b.pp))*(b.sm - b.pm)) AS sm,
       |    f.p + (((f.p*(1.0/b.pp))*(b.sp - b.pp))*(f.p*(1.0/b.pp))) AS sp,
       |    f.pm, f.pp
       |  FROM bwd b JOIN fwd f ON f.user_id = b.user_id AND f.rn = b.rn - 1
       |)
       |SELECT user_id AS key, rn AS stateIndex, ROUND(sm,5) AS sm_mean, ROUND(sp,6) AS sm_cov
       |FROM bwd ORDER BY key, stateIndex""".stripMargin
  }

  /** multi-step predict replay: local-level final state + j predict steps
    * (mean unchanged, covariance grows by q per step, exact). */
  private def multistepOracle: String = {
    val (q, r, m0, p0) = (1.0, 4.0, 0.0, 10.0)
    def step(m: String, p: String, z: String): (String, String) = {
      val pp = s"($p+$q)"
      val k = s"($pp*(1.0/($pp+$r)))"
      (s"($m + $k*($z - $m))", s"(((1.0-$k)*$pp)*(1.0-$k) + ($k*$r)*$k)")
    }
    val (bm, bp) = step(s"$m0", s"$p0", "z")
    val (rm, rp) = step("f.m", "f.p", "s.z")
    s"""WITH RECURSIVE meas AS (
       |$userStreamSql
       |),
       |filt AS (
       |  SELECT user_id, rn, $bm AS m, $bp AS p FROM meas WHERE rn = 1
       |  UNION ALL
       |  SELECT s.user_id, s.rn, $rm AS m, $rp AS p
       |  FROM filt f JOIN meas s ON s.user_id = f.user_id AND s.rn = f.rn + 1
       |),
       |last AS (
       |  SELECT user_id, m, p FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) rk FROM filt) WHERE rk=1
       |)
       |SELECT user_id AS key, CAST(step AS BIGINT) AS step, ROUND(m,5) AS m,
       |  ROUND(CASE WHEN step = 0 THEN p WHEN step = 1 THEN $q + p ELSE $q + ($q + p) END, 5) AS p
       |FROM last, UNNEST([0,1,2]) AS t(step)
       |ORDER BY key, step""".stripMargin
  }

  private def vectorFnsOracle: String = {
    def fold(l: String) = s"list_reduce($l, (a, b) -> a + b)"
    val v = "list_transform(embedding, e -> CAST(e AS DOUBLE))"
    val dotSelf = fold(s"list_transform(range(len($v)), i -> ($v[i+1]) * ($v[i+1]))")
    val scalSum = fold(s"list_transform($v, e -> 2.0 * e)")
    val axpySum = fold(s"list_transform($v, e -> (3.0 * e) + e)")
    s"""SELECT vec_id,
       |  ROUND($dotSelf, 6) AS dot_self,
       |  ROUND(sqrt($dotSelf), 6) AS nrm,
       |  ROUND($scalSum, 6) AS scal_sum,
       |  ROUND($axpySum, 6) AS axpy_sum
       |FROM embeddings WHERE vec_id < 200 ORDER BY vec_id""".stripMargin
  }

  /** Byte-exact replay of the decode stub: the Spark side reads raw UTF-8
    * BYTES of the payload, so the oracle derives the same bytes from
    * hex(encode(text)) rather than ascii() code points (which diverge on
    * multi-byte first characters). */
  /** Replays the BMP payload-builder contract (Multimodal.buildBmp): the
    * decoded width/height/pixel-sum are fully determined by the text bytes,
    * so DuckDB can predict what the real javax.imageio decode must return. */
  private def multimodalOracle: String =
    s"""WITH b AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents
       |), d AS (
       |  SELECT doc_id, hx, n,
       |    4 + (coalesce(try_cast(('0x' || substring(hx, 1, 2)) AS INT), 0) % 8) AS w,
       |    4 + (coalesce(try_cast(('0x' || substring(hx, 3, 2)) AS INT), 0) % 8) AS ht
       |  FROM b
       |)
       |SELECT doc_id,
       |  CAST(54 + ((3 * w + 3) // 4) * 4 * ht AS BIGINT) AS n_bytes,
       |  CAST(w AS BIGINT) AS width,
       |  CAST(ht AS BIGINT) AS height,
       |  CAST(CASE WHEN n = 0 THEN 0 ELSE
       |    list_sum(list_transform(generate_series(0, w * ht - 1),
       |      i -> coalesce(try_cast(('0x' || substring(hx, 2 * (i % n) + 1, 2)) AS INT), 0)))
       |  END AS FLOAT) AS feat0
       |FROM d ORDER BY doc_id""".stripMargin

  /** Replays the GVID container contract (Multimodal.buildVideo): frame f is
    * a BMP built from the text bytes rotated by f, the sampled frame is
    * n_frames/2, and n_bytes sums every frame's predicted BMP size. */
  private def multimodalVideoOracle: String = {
    // 0-based byte accessor over the hex dump
    def b(i: String) = s"coalesce(try_cast(('0x' || substring(hx, 2 * ($i) + 1, 2)) AS INT), 0)"
    s"""WITH b AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents
       |), f AS (
       |  SELECT doc_id, hx, n, 2 + (${b("0")} % 3) AS nf
       |  FROM b
       |), g AS (
       |  SELECT doc_id, hx, n, nf, nf // 2 AS fs,
       |    CASE WHEN n = 0 THEN 0 ELSE (nf // 2) % n END AS soff
       |  FROM f
       |), d AS (
       |  SELECT doc_id, hx, n, nf, fs, soff,
       |    CASE WHEN n > 0 THEN 4 + (${b("soff")} % 8) ELSE 4 END AS w,
       |    CASE WHEN n > 1 THEN 4 + (${b("(soff + 1) % n")} % 8) ELSE 4 END AS ht
       |  FROM g
       |)
       |SELECT doc_id,
       |  CAST(8 + list_sum(list_transform(generate_series(0, nf - 1), fr ->
       |    4 + 54 +
       |    ((3 * (CASE WHEN n > 0 THEN 4 + (${b("fr % n")} % 8) ELSE 4 END) + 3) // 4) * 4 *
       |    (CASE WHEN n > 1 THEN 4 + (${b("(fr % n + 1) % n")} % 8) ELSE 4 END)
       |  )) AS BIGINT) AS n_bytes,
       |  CAST(nf AS BIGINT) AS n_frames,
       |  CAST(fs AS BIGINT) AS frame_idx,
       |  CAST(w AS BIGINT) AS width,
       |  CAST(ht AS BIGINT) AS height,
       |  CAST(CASE WHEN n = 0 THEN 0 ELSE
       |    list_sum(list_transform(generate_series(0, w * ht - 1),
       |      i -> ${b("(soff + (i % n)) % n")}))
       |  END AS FLOAT) AS feat0
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** Replays the WAV payload-builder contract (Multimodal.buildWav); feat0 is
    * the exact PCM sample sum / 256 = sum of (byte - 128). */
  /** Contract replay of Multimodal.perceptualHash on the BMP builder:
    * pixel(x,y) = ord(text[(y·w+x) mod n]) with w = 4 + b0%8, h = 4 + b1%8;
    * dHash bit i (x = i mod (w−1), y = i div (w−1)) set when
    * pixel(x+1,y) > pixel(x,y); first 63 bits packed little-endian. */
  private def imageDedupOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE n_chars > 130
      |  UNION ALL
      |  SELECT doc_id + 2100000000,
      |         substring(text, 1, CAST(length(text) - 1 AS INT)) || '#'
      |  FROM documents WHERE n_chars > 130
      |),
      |geom AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    4 + ord(substring(text, 1, 1)) % 8 AS w,
      |    4 + ord(substring(text, 2, 1)) % 8 AS h
      |  FROM corpus
      |),
      |ph AS (
      |  SELECT doc_id, md5(text) AS ch,
      |    CAST(coalesce(list_sum(list_transform(range(least((w - 1) * h, 63)), i ->
      |      CASE WHEN ord(substring(text,
      |                     CAST(((i // (w-1)) * w + (i % (w-1)) + 1) % n + 1 AS INT), 1)) >
      |                ord(substring(text,
      |                     CAST(((i // (w-1)) * w + (i % (w-1))) % n + 1 AS INT), 1))
      |           THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END)),
      |      0) AS BIGINT) AS phash
      |  FROM geom
      |)
      |SELECT phash,
      |  CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(count(DISTINCT ch) AS BIGINT) AS n_contents,
      |  CAST(min(doc_id) AS BIGINT) AS canonical_id
      |FROM ph GROUP BY phash ORDER BY phash""".stripMargin

  /** q_image_dedup_png replay: the phash contract is over the DECODED
    * raster, which is payload-format-independent — so the PNG arm is the
    * same pixel formula on the same text, just a third corpus slice
    * (doc_id + 2400000000, text unchanged). The format difference lives
    * entirely in the Spark-side decode (ImageIO PNG vs contract BMP). */
  /** Contract replay of q_image_dedup_jpeg: the mosaic raster is
    * w = 8·wb × h = 8·hb with pixel (x, y) = ord(text[((y/8)·wb + x/8) mod n]),
    * wb/hb from the first two bytes; the JPEG slice (+2600000000) shares the
    * raster byte-exactly (DC-only blocks, unit quant — MultimodalSpec), so
    * its phash is the SAME formula on the same text. dHash bits as in the
    * image replay, gradients over the mosaic. */
  private def imageDedupJpegOracle: String = {
    def px(xExpr: String) =
      s"""ord(substring(text,
         |      CAST((((i // (8*wb - 1)) // 8) * wb + ($xExpr) // 8) % n + 1 AS INT), 1))""".stripMargin
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE n_chars > 130
       |  UNION ALL
       |  SELECT doc_id + 2600000000, text FROM documents WHERE n_chars > 130
       |),
       |geom AS (
       |  SELECT doc_id, text, length(text) AS n,
       |    4 + ord(substring(text, 1, 1)) % 8 AS wb,
       |    4 + ord(substring(text, 2, 1)) % 8 AS hb
       |  FROM corpus
       |),
       |ph AS (
       |  SELECT doc_id, md5(text) AS ch,
       |    CAST(coalesce(list_sum(list_transform(range(least((8*wb - 1) * 8*hb, 63)), i ->
       |      CASE WHEN ${px("(i % (8*wb - 1)) + 1")} >
       |                ${px("i % (8*wb - 1)")}
       |           THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END)),
       |      0) AS BIGINT) AS phash
       |  FROM geom
       |)
       |SELECT phash,
       |  CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(count(DISTINCT ch) AS BIGINT) AS n_contents,
       |  CAST(min(doc_id) AS BIGINT) AS canonical_id
       |FROM ph GROUP BY phash ORDER BY phash""".stripMargin
  }

  private def imageDedupPngOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE n_chars > 130
      |  UNION ALL
      |  SELECT doc_id + 2100000000,
      |         substring(text, 1, CAST(length(text) - 1 AS INT)) || '#'
      |  FROM documents WHERE n_chars > 130
      |  UNION ALL
      |  SELECT doc_id + 2400000000, text FROM documents WHERE n_chars > 130
      |),
      |geom AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    4 + ord(substring(text, 1, 1)) % 8 AS w,
      |    4 + ord(substring(text, 2, 1)) % 8 AS h
      |  FROM corpus
      |),
      |ph AS (
      |  SELECT doc_id, md5(text) AS ch,
      |    CAST(coalesce(list_sum(list_transform(range(least((w - 1) * h, 63)), i ->
      |      CASE WHEN ord(substring(text,
      |                     CAST(((i // (w-1)) * w + (i % (w-1)) + 1) % n + 1 AS INT), 1)) >
      |                ord(substring(text,
      |                     CAST(((i // (w-1)) * w + (i % (w-1))) % n + 1 AS INT), 1))
      |           THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END)),
      |      0) AS BIGINT) AS phash
      |  FROM geom
      |)
      |SELECT phash,
      |  CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(count(DISTINCT ch) AS BIGINT) AS n_contents,
      |  CAST(min(doc_id) AS BIGINT) AS canonical_id
      |FROM ph GROUP BY phash ORDER BY phash""".stripMargin

  /** Contract replay of Multimodal.videoFingerprint: middle frame t =
    * (2 + b0%3) div 2 is the BMP of the text ROTATED by t, so pixel i =
    * ord(text[(i + t) mod n]) and the frame's w/h come from the rotated
    * first two bytes; dHash bits as in the image replay. */
  private def videoDedupOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE n_chars > 130
      |  UNION ALL
      |  SELECT doc_id + 2100000000,
      |         substring(text, 1, CAST(length(text) - 1 AS INT)) || '#'
      |  FROM documents WHERE n_chars > 130
      |),
      |geom AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    (2 + ord(substring(text, 1, 1)) % 3) // 2 AS t
      |  FROM corpus
      |),
      |geom2 AS (
      |  SELECT doc_id, text, n, t,
      |    4 + ord(substring(text, CAST(t % n + 1 AS INT), 1)) % 8 AS w,
      |    4 + ord(substring(text, CAST((1 + t) % n + 1 AS INT), 1)) % 8 AS h
      |  FROM geom
      |),
      |ph AS (
      |  SELECT doc_id, md5(text) AS ch,
      |    CAST(coalesce(list_sum(list_transform(range(least((w - 1) * h, 63)), i ->
      |      CASE WHEN ord(substring(text,
      |                     CAST(((i // (w-1)) * w + (i % (w-1)) + 1 + t) % n + 1 AS INT), 1)) >
      |                ord(substring(text,
      |                     CAST(((i // (w-1)) * w + (i % (w-1)) + t) % n + 1 AS INT), 1))
      |           THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END)),
      |      0) AS BIGINT) AS vfp
      |  FROM geom2
      |)
      |SELECT vfp,
      |  CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(count(DISTINCT ch) AS BIGINT) AS n_contents,
      |  CAST(min(doc_id) AS BIGINT) AS canonical_id
      |FROM ph GROUP BY vfp ORDER BY vfp""".stripMargin

  /** Contract replay of Multimodal.audioFingerprint on the WAV builder:
    * sample(k) = (ord(text[k mod n]) − 128)·256 for k < 64 + b0%64; the
    * linear transform preserves order, so the delta-sign bit is just
    * ord(text[k+1 mod n]) > ord(text[k mod n]); first 63 bits packed. */
  private def audioDedupOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE n_chars > 130
      |  UNION ALL
      |  SELECT doc_id + 2100000000,
      |         substring(text, 1, CAST(length(text) - 1 AS INT)) || '#'
      |  FROM documents WHERE n_chars > 130
      |),
      |geom AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    64 + ord(substring(text, 1, 1)) % 64 AS ns
      |  FROM corpus
      |),
      |fp AS (
      |  SELECT doc_id, md5(text) AS ch,
      |    CAST(coalesce(list_sum(list_transform(range(least(ns - 1, 63)), k ->
      |      CASE WHEN ord(substring(text, CAST((k + 1) % n + 1 AS INT), 1)) >
      |                ord(substring(text, CAST(k % n + 1 AS INT), 1))
      |           THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE CAST(0 AS BIGINT) END)),
      |      0) AS BIGINT) AS afp
      |  FROM geom
      |)
      |SELECT afp,
      |  CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(count(DISTINCT ch) AS BIGINT) AS n_contents,
      |  CAST(min(doc_id) AS BIGINT) AS canonical_id
      |FROM fp GROUP BY afp ORDER BY afp""".stripMargin

  private def multimodalAudioOracle: String =
    s"""WITH b AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents
       |), d AS (
       |  SELECT doc_id, hx, n,
       |    64 + (coalesce(try_cast(('0x' || substring(hx, 1, 2)) AS INT), 0) % 64) AS ns
       |  FROM b
       |)
       |SELECT doc_id,
       |  CAST(44 + 2 * ns AS BIGINT) AS n_bytes,
       |  CAST(8000 AS BIGINT) AS sample_rate,
       |  CAST(1 AS BIGINT) AS channels,
       |  CAST(ns AS BIGINT) AS n_samples,
       |  CAST(CASE WHEN n = 0 THEN 0 ELSE
       |    list_sum(list_transform(generate_series(0, ns - 1),
       |      i -> coalesce(try_cast(('0x' || substring(hx, 2 * (i % n) + 1, 2)) AS INT), 0) - 128))
       |  END AS FLOAT) AS feat0
       |FROM d ORDER BY doc_id""".stripMargin

  // ===================================================== exp/log replay oracles
  //
  // Round-3: the four queries that were rows-only ("libm exp/log not
  // portable") get full value replays after all. The insight: exp/ln in any
  // quality libm agree to ~1 ulp with the JVM, every other op in these
  // recursions (+,-,*,/,sqrt,max) is correctly rounded, and the recursions
  // are CONTRACTIVE (EM blends with factor 1-gamma; MMAE weights normalize),
  // so a 1-ulp libm divergence propagates to <=1e-11 absolute in the outputs
  // — invisible at the 3-4 dp the queries round to. Each oracle replays the
  // exact graft.linalg.Dense / Distributions operation ORDER so the libm
  // calls are the only divergence source.

  /** math.log(2*pi); E0 keeps DuckDB literals DOUBLE (bare decimals parse as
    * DECIMAL and poison expression types). */
  private val L2PI = "1.8378770664093453E0"

  /** Double literal that round-trips and stays DOUBLE in DuckDB. */
  private def dlit(d: Double): String = {
    val s = java.lang.Double.toString(d)
    if (s.contains("E") || s.contains("e")) s else s + "E0"
  }

  /** MMAE replay: bank of 3 local-level filters (q=1, p0=10, m0=0,
    * r = 1+4*fid) over user 0's stream; per-row loglikelihood in
    * Distributions.mvnLogpdf's 1-D op order; sliding window of 5 logs;
    * sl = exp(left-fold sum); per-stateIndex weighted mean replaying
    * KalmanFilterBase.mmaeAggregate's array_sort + aggregate folds. */
  private def mmaeOracle: String = {
    // one filter step from (fid, rr, rn, z, m, p, lls)
    def step(src: String): String =
      s"""  SELECT fid, rr, rn,
         |    (m + (g*(z - m))) AS m,
         |    ((((1.0E0-g)*pp)*(1.0E0-g)) + ((g*rr)*g)) AS p,
         |    CASE WHEN len(list_append(lls, ll)) > 5
         |         THEN list_slice(list_append(lls, ll), 2, len(list_append(lls, ll)))
         |         ELSE list_append(lls, ll) END AS lls
         |  FROM (
         |    SELECT *,
         |      (-0.5E0*((($L2PI + (2.0E0*ln(sqrt(ss)))) ) + (((z - m)/sqrt(ss))*((z - m)/sqrt(ss))))) AS ll
         |    FROM (
         |      SELECT *, (pp*(1.0E0/ss)) AS g
         |      FROM (
         |        SELECT *, (pp + rr) AS ss
         |        FROM (SELECT *, (p + 1.0E0) AS pp FROM $src)
         |      )
         |    )
         |  )""".stripMargin
    s"""WITH RECURSIVE meas AS (
       |  SELECT ts, avg(value) AS z, row_number() OVER (ORDER BY ts) AS rn
       |  FROM events WHERE user_id = 0 GROUP BY ts
       |),
       |filt AS (
       |${step("(SELECT fid, CAST(1 + fid*4 AS DOUBLE) AS rr, rn, z, 0.0E0 AS m, 10.0E0 AS p, CAST([] AS DOUBLE[]) AS lls FROM meas, (SELECT unnest([0,1,2]) AS fid) WHERE rn = 1)")}
       |  UNION ALL
       |${step("(SELECT f.fid, f.rr, s.rn, s.z, f.m, f.p, f.lls FROM filt f JOIN meas s ON s.rn = f.rn + 1)")}
       |),
       |banked AS (
       |  SELECT rn,
       |    list({'sl': sl, 'm': m, 'p': p} ORDER BY sl, m, p) AS bank
       |  FROM (
       |    SELECT rn, m, p,
       |      exp(list_reduce(list_prepend(0.0E0, lls), (a, b) -> a + b)) AS sl
       |    FROM filt
       |  ) GROUP BY rn
       |),
       |wtd AS (
       |  SELECT rn, bank,
       |    list_transform(bank, b -> CASE
       |      WHEN list_max(list_transform(bank, x -> x.sl)) > 0.0E0
       |      THEN b.sl / list_max(list_transform(bank, x -> x.sl)) ELSE 1.0E0 END) AS wts
       |  FROM banked
       |)
       |SELECT CAST(rn AS BIGINT) AS stateIndex,
       |  ROUND(
       |    list_reduce(list_prepend(0.0E0,
       |      list_transform(range(len(wts)), i -> wts[i+1] * bank[i+1].m)), (a, b) -> a + b)
       |    / list_reduce(list_prepend(0.0E0, wts), (a, b) -> a + b), 4) AS m
       |FROM wtd ORDER BY stateIndex""".stripMargin
  }

  /** Lanczos log-gamma replay (Distributions.logGamma) for integral k >= 0:
    * xIn = k+1 >= 1 takes the else-branch and x = (k+1)-1 = k exactly. */
  private def lgammaSql(k: String): String = {
    val c = Seq(0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    val a = (1 to 8).foldLeft(dlit(c(0))) { (acc, i) => s"($acc + ${dlit(c(i))}/(($k) + $i.0E0))" }
    val t = s"((($k) + 7.0E0) + 0.5E0)"
    s"((((0.5E0*$L2PI) + ((($k) + 0.5E0)*ln($t))) - $t) + ln($a))"
  }

  /** Per-sample responsibility/b fields for a 2-component E-step:
    * wl_i = (log density_i) + ln(w_i), max-shift, exp, z = e0+e1, r_i/16. */
  private def respPair(l0: String, l1: String): (String, String) = {
    val mx = s"greatest(($l0), ($l1))"
    val z = s"(exp(($l0) - $mx) + exp(($l1) - $mx))"
    (s"((exp(($l0) - $mx) / $z) / 16.0E0)", s"((exp(($l1) - $mx) / $z) / 16.0E0)")
  }

  /** 1-D gaussian weighted log density in Distributions.mvnLogpdf op order. */
  private def gaussLogW(x: String, mu: String, v: String, w: String): String =
    s"((-0.5E0*((($L2PI + (2.0E0*ln(sqrt($v)))) ) + ((($x) - $mu)/sqrt($v))*((($x) - $mu)/sqrt($v)))) + ln($w))"

  /** Minibatch partition shared by the EM replays: complete batches of 16 in
    * event-time order per key, samples listed NEWEST-FIRST (MixtureSpec
    * prepends into the buffer, so the E-step folds rn DESC). */
  private def emBatchesSql(xExpr: String): String =
    s"""meas AS (
       |  SELECT event_type, ts, value,
       |         row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn
       |  FROM events
       |),
       |cb AS (
       |  SELECT event_type, mb, xs FROM (
       |    SELECT event_type, CAST((rn - 1) // 16 AS INT) AS mb,
       |           list($xExpr ORDER BY rn DESC) AS xs, count(*) AS n
       |    FROM meas GROUP BY 1, 2
       |  ) WHERE n = 16
       |)""".stripMargin

  /** Stochastic-EM replay for the 1-D 2-component gaussian mixture
    * (MixtureSpec.update + GaussianFamily.accumulate, gamma = 0.05,
    * minibatch 16, updateHoldout 1). State per batch: summary weights
    * (sw), mean moments (a), cov moments (c), output params (w/mu/v). */
  private def gmmOracle: String = {
    val (w0, w1) = respPair(
      gaussLogW("x", "pmu0", "pv0", "pw0"), gaussLogW("x", "pmu1", "pv1", "pw1"))
    val zeroS = "{'sw0': 0.0E0, 'sw1': 0.0E0, 'a0': 0.0E0, 'c0': 0.0E0, 'a1': 0.0E0, 'c1': 0.0E0, 'w0': 0.0E0, 'w1': 0.0E0, 'x': 0.0E0}"
    val elem = s"{'sw0': 0.0E0, 'sw1': 0.0E0, 'a0': 0.0E0, 'c0': 0.0E0, 'a1': 0.0E0, 'c1': 0.0E0, 'w0': $w0, 'w1': $w1, 'x': x}"
    val red =
      s"""list_reduce(list_prepend($zeroS, list_transform(xs, x -> $elem)),
         |        (A, E) -> {'sw0': A.sw0 + E.w0, 'sw1': A.sw1 + E.w1,
         |                   'a0': A.a0 + (E.w0*E.x), 'c0': A.c0 + ((E.w0*(E.x - pmu0))*(E.x - pmu0)),
         |                   'a1': A.a1 + (E.w1*E.x), 'c1': A.c1 + ((E.w1*(E.x - pmu1))*(E.x - pmu1)),
         |                   'w0': 0.0E0, 'w1': 0.0E0, 'x': 0.0E0})""".stripMargin
    def blend(p: String, f: String) =
      s"(((1.0E0 - 0.05E0)*$p) + (0.05E0*struct_extract(f, '$f')))"
    def step(src: String, holdout: Boolean): String = {
      val outP =
        if (holdout) "0.5E0 AS w0c, 0.5E0 AS w1c, 50.0E0 AS mu0c, 2500.0E0 AS v0c, 300.0E0 AS mu1c, 2500.0E0 AS v1c"
        else "sw0 AS w0c, sw1 AS w1c, (a0/sw0) AS mu0c, (c0/sw0) AS v0c, (a1/sw1) AS mu1c, (c1/sw1) AS v1c"
      s"""  SELECT event_type, mb, sw0, sw1, a0, c0, a1, c1, $outP
         |  FROM (
         |    SELECT event_type, mb,
         |      ${blend("psw0", "sw0")} AS sw0, ${blend("psw1", "sw1")} AS sw1,
         |      ${blend("pa0", "a0")} AS a0, ${blend("pc0", "c0")} AS c0,
         |      ${blend("pa1", "a1")} AS a1, ${blend("pc1", "c1")} AS c1
         |    FROM (
         |      SELECT event_type, mb, psw0, psw1, pa0, pc0, pa1, pc1,
         |        $red AS f
         |      FROM $src
         |    )
         |  )""".stripMargin
    }
    val base = step(
      """(SELECT event_type, mb, xs,
        |  0.5E0 AS psw0, 0.5E0 AS psw1,
        |  (50.0E0/(1.0E0/0.5E0)) AS pa0, (2500.0E0/(1.0E0/0.5E0)) AS pc0,
        |  (300.0E0/(1.0E0/0.5E0)) AS pa1, (2500.0E0/(1.0E0/0.5E0)) AS pc1,
        |  0.5E0 AS pw0, 0.5E0 AS pw1, 50.0E0 AS pmu0, 2500.0E0 AS pv0,
        |  300.0E0 AS pmu1, 2500.0E0 AS pv1
        | FROM cb WHERE mb = 0)""".stripMargin, holdout = true)
    val rec = step(
      """(SELECT s.event_type, s.mb, s.xs,
        |  e.sw0 AS psw0, e.sw1 AS psw1, e.a0 AS pa0, e.c0 AS pc0,
        |  e.a1 AS pa1, e.c1 AS pc1, e.w0c AS pw0, e.w1c AS pw1,
        |  e.mu0c AS pmu0, e.v0c AS pv0, e.mu1c AS pmu1, e.v1c AS pv1
        | FROM em e JOIN cb s ON s.event_type = e.event_type AND s.mb = e.mb + 1)""".stripMargin,
      holdout = false)
    s"""WITH RECURSIVE ${emBatchesSql("value")},
       |em AS (
       |$base
       |  UNION ALL
       |$rec
       |)
       |SELECT event_type, CAST(mb + 1 AS BIGINT) AS n_batches,
       |  ROUND(sw0, 4) AS w0, ROUND(mu0c, 3) AS mu0, ROUND(mu1c, 3) AS mu1
       |FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY mb DESC) AS rk FROM em)
       |WHERE rk = 1 ORDER BY event_type""".stripMargin
  }

  /** Shared stochastic-EM replay for the single-moment families (Poisson,
    * Bernoulli): params = moment/weight, E-step densities via `lw`. */
  private def em1Oracle(
      xExpr: String, lw0: String => String, lw1: String => String,
      initP0: String, initP1: String,
      outName0: String, outName1: String): String = {
    val (w0, w1) = respPair(lw0("x"), lw1("x"))
    val zeroS = "{'sw0': 0.0E0, 'sw1': 0.0E0, 'a0': 0.0E0, 'a1': 0.0E0, 'w0': 0.0E0, 'w1': 0.0E0, 'x': 0.0E0}"
    val elem = s"{'sw0': 0.0E0, 'sw1': 0.0E0, 'a0': 0.0E0, 'a1': 0.0E0, 'w0': $w0, 'w1': $w1, 'x': x}"
    val red =
      s"""list_reduce(list_prepend($zeroS, list_transform(xs, x -> $elem)),
         |        (A, E) -> {'sw0': A.sw0 + E.w0, 'sw1': A.sw1 + E.w1,
         |                   'a0': A.a0 + (E.w0*E.x), 'a1': A.a1 + (E.w1*E.x),
         |                   'w0': 0.0E0, 'w1': 0.0E0, 'x': 0.0E0})""".stripMargin
    def blend(p: String, f: String) =
      s"(((1.0E0 - 0.05E0)*$p) + (0.05E0*struct_extract(f, '$f')))"
    def step(src: String, holdout: Boolean): String = {
      val outP =
        if (holdout) s"0.5E0 AS w0c, 0.5E0 AS w1c, $initP0 AS p0c, $initP1 AS p1c"
        else "sw0 AS w0c, sw1 AS w1c, (a0/sw0) AS p0c, (a1/sw1) AS p1c"
      s"""  SELECT event_type, mb, sw0, sw1, a0, a1, $outP
         |  FROM (
         |    SELECT event_type, mb,
         |      ${blend("psw0", "sw0")} AS sw0, ${blend("psw1", "sw1")} AS sw1,
         |      ${blend("pa0", "a0")} AS a0, ${blend("pa1", "a1")} AS a1
         |    FROM (
         |      SELECT event_type, mb, psw0, psw1, pa0, pa1,
         |        $red AS f
         |      FROM $src
         |    )
         |  )""".stripMargin
    }
    val base = step(
      s"""(SELECT event_type, mb, xs,
         |  0.5E0 AS psw0, 0.5E0 AS psw1,
         |  ($initP0/(1.0E0/0.5E0)) AS pa0, ($initP1/(1.0E0/0.5E0)) AS pa1,
         |  0.5E0 AS pw0, 0.5E0 AS pw1, $initP0 AS pp0, $initP1 AS pp1
         | FROM cb WHERE mb = 0)""".stripMargin, holdout = true)
    val rec = step(
      """(SELECT s.event_type, s.mb, s.xs,
        |  e.sw0 AS psw0, e.sw1 AS psw1, e.a0 AS pa0, e.a1 AS pa1,
        |  e.w0c AS pw0, e.w1c AS pw1, e.p0c AS pp0, e.p1c AS pp1
        | FROM em e JOIN cb s ON s.event_type = e.event_type AND s.mb = e.mb + 1)""".stripMargin,
      holdout = false)
    s"""WITH RECURSIVE ${emBatchesSql(xExpr)},
       |em AS (
       |$base
       |  UNION ALL
       |$rec
       |)
       |SELECT event_type, CAST(mb + 1 AS BIGINT) AS n_batches,
       |  ROUND(p0c, 3) AS $outName0, ROUND(p1c, 3) AS $outName1
       |FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY mb DESC) AS rk FROM em)
       |WHERE rk = 1 ORDER BY event_type""".stripMargin
  }

  /** PoissonFamily E-step density: k*ln(max(rate,1e-12)) - rate_clamped
    * - logGamma(k+1), + ln(w). Samples are integral doubles. */
  private def pmmOracle: String = em1Oracle(
    xExpr = "CAST(trunc(value / 10) AS DOUBLE)",
    lw0 = x => s"(((($x)*ln(greatest(pp0, 1.0E-12)) - greatest(pp0, 1.0E-12)) - ${lgammaSql(s"($x)")}) + ln(pw0))",
    lw1 = x => s"(((($x)*ln(greatest(pp1, 1.0E-12)) - greatest(pp1, 1.0E-12)) - ${lgammaSql(s"($x)")}) + ln(pw1))",
    initP0 = "10.0E0", initP1 = "100.0E0",
    outName0 = "rate0", outName1 = "rate1")

  /** BernoulliFamily E-step density: x ? ln(p) : ln(1-p), + ln(w). */
  private def bmmOracle: String = em1Oracle(
    xExpr = "CASE WHEN value > 100 THEN 1.0E0 ELSE 0.0E0 END",
    lw0 = x => s"((CASE WHEN ($x) > 0.5E0 THEN ln(pp0) ELSE ln(1.0E0 - pp0) END) + ln(pw0))",
    lw1 = x => s"((CASE WHEN ($x) > 0.5E0 THEN ln(pp1) ELSE ln(1.0E0 - pp1) END) + ln(pw1))",
    initP0 = "0.2E0", initP1 = "0.8E0",
    outName0 = "p0", outName1 = "p1")

  /** Deterministic-moment oracle for the seeded gaussian sampler: the query
    * rounds coarsely enough that the analytically-known values are exact
    * (mean 0 -> +10 rounds to 10; var/4 -> 1; cov/1.2 -> 1) with >=5 sigma
    * margin from every rounding boundary at the smallest SF. */
  private def randGaussianOracle: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(10.0 AS DOUBLE) AS m0, CAST(1.0 AS DOUBLE) AS v0, CAST(1.0 AS DOUBLE) AS c01
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_ekf" -> ekfOracle,
    "q_ukf" -> ukfOracle,
    "q_raukf" -> raukfOracle,
    "q_ckf" -> ckfOracle,
    "q_rts" -> rtsOracle,
    "q_multistep" -> multistepOracle,
    "q_vector_fns" -> vectorFnsOracle,
    "q_multimodal" -> multimodalOracle,
    "q_multimodal_audio" -> multimodalAudioOracle,
    "q_image_dedup" -> imageDedupOracle,
    "q_image_dedup_png" -> imageDedupPngOracle,

    "q_image_dedup_jpeg" -> imageDedupJpegOracle,
    "q_audio_dedup" -> audioDedupOracle,
    "q_video_dedup" -> videoDedupOracle,
    "q_multimodal_video" -> multimodalVideoOracle,
    "q_mmae" -> mmaeOracle,
    "q_gmm" -> gmmOracle,
    "q_pmm" -> pmmOracle,
    "q_bmm" -> bmmOracle,
    "q_rand_gaussian" -> randGaussianOracle
  )
}
