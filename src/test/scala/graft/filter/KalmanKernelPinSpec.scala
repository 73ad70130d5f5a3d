package graft.filter

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.linalg.DMat
import graft.smoother.LinearKalmanSmoother

/**
 * Round-14 bit-exactness pins: the InternalRow batch kernels
 * (KalmanRowKernel / RlsRowKernel / LmsRowKernel / Rts*RowKernel) must
 * produce BITWISE-identical output to the Dataset-encoder path they
 * replaced (`transformEncoderBatch` / `smoothEncoderBatch`), which remains
 * as the executable reference. Doubles are compared
 * on raw IEEE bits — same FP op order is the contract, not "close enough".
 */
class KalmanKernelPinSpec extends AnyFunSuite with SparkTestSession {

  private def ts(i: Int): Timestamp = new Timestamp(1700000000000L + i * 60000L)

  /** Recursive bitwise row comparison (Double via raw bits). */
  private def bitEqual(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => bitEqual(x.get(i), y.get(i)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (u, v) => bitEqual(u, v) }
    case (x, y) => x == y
  }

  private def assertBitIdentical(kernel: DataFrame, encoder: DataFrame, sortCols: Seq[String]): Unit = {
    assert(kernel.schema == encoder.schema,
      s"schema drift:\n${kernel.schema.treeString}\nvs\n${encoder.schema.treeString}")
    val k = kernel.orderBy(sortCols.map(col): _*).collect()
    val e = encoder.orderBy(sortCols.map(col): _*).collect()
    assert(k.length == e.length, s"row count ${k.length} vs ${e.length}")
    k.zip(e).zipWithIndex.foreach { case ((kr, er), i) =>
      assert(bitEqual(kr, er), s"row $i differs:\n kernel: $kr\n encoder: $er")
    }
  }

  /** 4 keys and a null key x 60 steps (a null key is a key run of its
    * own), deterministic pseudo-random measurements, ~8% nulls
    * (measurement gaps), optionally ~5% null event times (ties on
    * (key, null) — exercises the tiebreak hash). */
  private def measurements(seed: Int, gaps: Boolean = true, nullTimes: Boolean = true): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = for (k <- Seq("a", "b", "c", "d", null); i <- 0 until 60) yield {
      val z = if (gaps && rnd.nextInt(12) == 0) null else Array(rnd.nextDouble() * 10 - 5)
      val t = if (nullTimes && rnd.nextInt(20) == 0) null else ts(i)
      (k, t, z, 1.0 + rnd.nextDouble(), rnd.nextDouble())
    }
    spark.createDataFrame(rows).toDF("key", "t", "meas", "x", "u")
  }

  test("LKF kernel == encoder path: all output features on (ll, maha, sliding, multistep, matrices)") {
    val df = measurements(1)
    def build() = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Array(0.5))
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 0.7))
      .setMeasurementNoise(DMat.of(1, 1, 3.0))
      .setCalculateLoglikelihood().setCalculateMahalanobis()
      .setSlidingLikelihoodWindow(4)
      .setMultiStepPredict(2)
      .setOutputSystemMatrices()
      .setFadingFactor(1.02)
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df),
      Seq("key", "stateIndex", "stepIndex"))
  }

  test("LKF kernel == encoder path: per-row H/R/F/Q, control, per-row init") {
    val rnd = new scala.util.Random(2)
    val rows = for (k <- Seq("a", "b", "c"); i <- 0 until 40) yield {
      val z = if (rnd.nextInt(10) == 0) null else Array(rnd.nextDouble() * 4)
      (k, ts(i), z, 1.0 + rnd.nextDouble(), 2.0 + rnd.nextDouble(),
        0.9 + rnd.nextDouble() * 0.2, 0.1 + rnd.nextDouble() * 0.3,
        Array(rnd.nextDouble()), Array(2.0 + rnd.nextDouble()),
        Array(rnd.nextDouble() * 5))
    }
    val df = spark.createDataFrame(rows)
      .toDF("key", "t", "meas", "h", "r", "f", "q", "ctl", "im", "icdiag")
      .withColumn("hmat", struct(lit(1).as("numRows"), lit(1).as("numCols"), array(col("h")).as("values")))
      .withColumn("rmat", struct(lit(1).as("numRows"), lit(1).as("numCols"), array(col("r")).as("values")))
      .withColumn("fmat", struct(lit(1).as("numRows"), lit(1).as("numCols"), array(col("f")).as("values")))
      .withColumn("qmat", struct(lit(1).as("numRows"), lit(1).as("numCols"), array(col("q")).as("values")))
      .withColumn("bmat", struct(lit(1).as("numRows"), lit(1).as("numCols"), array(lit(0.5)).as("values")))
      .withColumn("icmat", struct(lit(1).as("numRows"), lit(1).as("numCols"), col("icdiag").as("values")))
    def build() = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setMeasurementModelCol("hmat").setMeasurementNoiseCol("rmat")
      .setProcessModelCol("fmat").setProcessNoiseCol("qmat")
      .setControlCol("ctl").setControlFunctionCol("bmat")
      .setInitialStateMeanCol("im").setInitialStateCovarianceCol("icmat")
      .setCalculateLoglikelihood()
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df),
      Seq("key", "stateIndex", "stepIndex"))
  }

  test("EKF kernel == encoder path: nonlinear measurement + jacobian") {
    val df = measurements(3)
      .withColumn("hmat", struct(lit(1).as("numRows"), lit(2).as("numCols"),
        array(lit(1.0), col("x")).as("values")))
    def build() = new ExtendedKalmanFilter(2, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setMeasurementModelCol("hmat")
      .setMeasurementFunction((st, h) => { val u = st(0) + st(1) * h.values(1); Array(u * u) })
      .setMeasurementStateJacobian((st, h) => {
        val u = st(0) + st(1) * h.values(1)
        DMat(1, 2, Array(2.0 * u, 2.0 * u * h.values(1)))
      })
      .setInitialStateMean(Array(1.0, 0.1))
      .setInitialStateCovariance(DMat.of(2, 2, 5.0, 0.0, 0.0, 5.0))
      .setProcessNoise(DMat.of(2, 2, 0.01, 0.0, 0.0, 0.01))
      .setMeasurementNoise(DMat.of(1, 1, 8.0))
      .setCalculateMahalanobis()
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df),
      Seq("key", "stateIndex", "stepIndex"))
  }

  test("RAUKF kernel == encoder path: adaptive Q carries through measurement gaps") {
    val df = measurements(4) // has gaps: adapted Q must survive predict-only rows
    def build() = new UnscentedKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setSigmaPoints("merwe").setMerweAlpha(0.6).setMerweBeta(2.0).setMerweKappa(0.5)
      .setMeasurementFunction((st, _) => Array(st(0) * st(0)))
      .setInitialStateMean(Array(2.0))
      .setInitialStateCovariance(DMat.of(1, 1, 5.0))
      .setProcessNoise(DMat.of(1, 1, 0.1))
      .setMeasurementNoise(DMat.of(1, 1, 20.0))
      .setEnableAdaptiveProcessNoise()
      .setAdaptiveProcessNoiseThreshold(0.5) // low threshold: adaptation fires often
      .setCalculateSlidingLikelihood().setSlidingLikelihoodWindow(3)
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df),
      Seq("key", "stateIndex", "stepIndex"))
  }

  test("CKF kernel == encoder path") {
    val df = measurements(5)
    def build() = new CubatureKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setMeasurementFunction((st, _) => Array(st(0) * st(0)))
      .setInitialStateMean(Array(2.0))
      .setInitialStateCovariance(DMat.of(1, 1, 5.0))
      .setProcessNoise(DMat.of(1, 1, 0.1))
      .setMeasurementNoise(DMat.of(1, 1, 20.0))
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df),
      Seq("key", "stateIndex", "stepIndex"))
  }

  test("duplicate (key, time) rows: kernel == encoder (same tiebreak hash domain) and stable across runs") {
    // 3 rows per timestamp differing only in measurement — fold order is the
    // deterministic __rowSeq permutation; the Kalman kernel keeps the SAME
    // 11-column hash input as the encoder path, so even tie order matches.
    val rnd = new scala.util.Random(6)
    val rows = for (k <- Seq("a", "b"); i <- 0 until 10; _ <- 0 until 3)
      yield (k, ts(i), Array(rnd.nextDouble() * 10))
    val df = spark.createDataFrame(rows).toDF("key", "t", "meas")
    def build() = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df),
      Seq("key", "stateIndex", "stepIndex"))
    assertBitIdentical(build().transform(df), build().transform(df),
      Seq("key", "stateIndex", "stepIndex"))
  }

  test("MMAE kernel == encoder path (bank aggregation downstream of kernel)") {
    val rnd = new scala.util.Random(7)
    val rows = for (fid <- 0 until 3; i <- 0 until 50)
      yield (s"u_$fid", ts(i), Array(rnd.nextDouble() * 6), 1.0 + fid * 4.0)
    val df = spark.createDataFrame(rows).toDF("key", "t", "meas", "rv")
      .withColumn("rmat", struct(lit(1).as("numRows"), lit(1).as("numCols"), array(col("rv")).as("values")))
    def build() = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setMeasurementNoiseCol("rmat")
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setSlidingLikelihoodWindow(5)
      .setEnableMultipleModelAdaptiveEstimation()
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df),
      Seq("stateIndex"))
  }

  test("RLS kernel == encoder path (constant and per-row init)") {
    val rnd = new scala.util.Random(8)
    val rows = for (k <- Seq("a", "b", "c"); i <- 0 until 50)
      yield (k, ts(i), 2.0 + rnd.nextDouble() * 3, Array(1.0, rnd.nextDouble() * 4),
        Array(rnd.nextDouble(), rnd.nextDouble()))
    val df = spark.createDataFrame(rows).toDF("key", "t", "y", "feat", "im")
    def build() = new RecursiveLeastSquaresFilter(2)
      .setStateKeyCol("key").setEventTimeCol("t").setLabelCol("y").setFeaturesCol("feat")
      .setForgettingFactor(0.97).setRegularizationMatrixFactor(1e5)
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df),
      Seq("key", "stateIndex"))
    def buildPr() = new RecursiveLeastSquaresFilter(2)
      .setStateKeyCol("key").setEventTimeCol("t").setLabelCol("y").setFeaturesCol("feat")
      .setForgettingFactor(0.99).setInitialEstimateCol("im")
    assertBitIdentical(buildPr().transform(df), buildPr().transformEncoderBatch(df),
      Seq("key", "stateIndex"))
  }

  test("LMS kernel == encoder path") {
    val rnd = new scala.util.Random(9)
    val rows = for (k <- Seq("a", "b"); i <- 0 until 50)
      yield (k, ts(i), rnd.nextDouble() * 5, Array(1.0, rnd.nextDouble() * 3))
    val df = spark.createDataFrame(rows).toDF("key", "t", "y", "feat")
    def build() = new LeastMeanSquaresFilter(2)
      .setStateKeyCol("key").setEventTimeCol("t").setLabelCol("y").setFeaturesCol("feat")
      .setLearningRate(0.6).setRegularization(1.5)
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df),
      Seq("key", "stateIndex"))
  }

  test("RTS smoother kernels == encoder path, and the backward pass adds no exchange") {
    val df = measurements(10, gaps = true)
    def build() = {
      val sm = new LinearKalmanSmoother(1, 1)
      sm.setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
        .setInitialStateMean(Array(0.0))
        .setInitialStateCovariance(DMat.of(1, 1, 10.0))
        .setProcessNoise(DMat.of(1, 1, 1.0))
        .setMeasurementNoise(DMat.of(1, 1, 4.0))
      sm
    }
    assertBitIdentical(build().smooth(df), build().smoothEncoderBatch(df),
      Seq("key", "stateIndex"))
    // plan shape, AQE on: both passes are fold nodes, and the planner proves
    // the backward pass co-located with the forward one — exactly one
    // stateKey exchange across the two-pass pipeline
    val plan = build().smooth(df).queryExecution.executedPlan.toString
    assert(plan.contains("AdaptiveSparkPlan"), plan)
    assert("StatefulFold".r.findAllIn(plan).size == 2, plan)
    assert("Exchange hashpartitioning\\(stateKey".r.findAllIn(plan).size == 1, plan)
    assert("Exchange ".r.findAllIn(plan).size == 1, plan)
  }

  test("assumeUniqueEventTimes kernel path == default path on unique (key,time) input") {
    val df = measurements(11, nullTimes = false) // truly unique (key, t): no ties to order
    def build(unique: Boolean) = {
      val f = new LinearKalmanFilter(1, 1)
        .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
        .setInitialStateCovariance(DMat.of(1, 1, 10.0))
        .setProcessNoise(DMat.of(1, 1, 1.0))
        .setMeasurementNoise(DMat.of(1, 1, 4.0))
        .setCalculateLoglikelihood()
      if (unique) f.setAssumeUniqueEventTimes() else f
    }
    assertBitIdentical(build(true).transform(df), build(false).transform(df),
      Seq("key", "stateIndex", "stepIndex"))
  }

  private def fixedLag(lag: Int = 3) = {
    val sm = new LinearKalmanSmoother(1, 1).setFixedLag(lag)
    sm.setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Array(0.0))
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))
    sm
  }

  test("fixed-lag RTS kernels == encoder path, null key and null times included") {
    val df = measurements(12)
    assertBitIdentical(fixedLag().transform(df), fixedLag().smoothFixedLagEncoderBatch(df, 3),
      Seq("key", "stateIndex", "stepIndex"))
  }

  test("fixed-lag output rows carry the time of the record they smooth") {
    val df = measurements(13, nullTimes = false)
    val filtered = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas").transform(df)
      .select(col("key"), col("stateIndex"), col("t").as("recordTime"))
    val lagged = fixedLag().transform(df)
    assert(lagged.where(col("stepIndex") === 0).count() > 0)
    val joined = lagged.join(filtered, lagged("key") <=> filtered("key") &&
      lagged("stateIndex") === filtered("stateIndex"))
    assert(joined.count() == lagged.count())
    assert(joined.where(!(col("t") <=> col("recordTime"))).count() == 0)
  }

  test("fixed-lag RTS stream == batch across two micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = measurements(14, nullTimes = false).as[(String, Timestamp, Array[Double], Double, Double)]
      .collect().toSeq.map { case (k, t, z, _, _) => (k, t, z) }
    val (early, late) = rows.partition(_._2.before(ts(30)))
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Timestamp, Array[Double])]
    val sq = fixedLag().transform(stream.toDS().toDF("key", "t", "meas"))
      .writeStream.format("memory").queryName("fixed_lag_parity").outputMode("append").start()
    stream.addData(early)
    sq.processAllAvailable()
    stream.addData(late)
    sq.processAllAvailable()
    sq.stop()
    val batch = fixedLag().transform(rows.toDF("key", "t", "meas"))
    val streamed = spark.table("fixed_lag_parity")
    assert(streamed.where(col("stateIndex") > 30).count() > 0)
    assertBitIdentical(streamed, batch.select(streamed.columns.map(col): _*),
      Seq("key", "stateIndex", "stepIndex"))
  }

  /** Six rows per key, null key included, two at a null time and two at
    * one time, measurements all distinct. With a lag of six, each key's
    * one window is the whole key, so its smoothed rows are the full-pass
    * RTS of the key, which pairs records by stateIndex alone. */
  private def tiedTimes(seed: Int): Seq[(String, Timestamp, Array[Double])] = {
    val rnd = new scala.util.Random(seed)
    for (k <- Seq("a", "b", "c", "d", null); t <- Seq(null, ts(1), null, ts(0), ts(1), ts(2)))
      yield (k, t, Array(rnd.nextDouble() * 10 - 5))
  }

  private def fullPass(rows: Seq[(String, Timestamp, Array[Double])]): DataFrame = {
    import spark.implicits._
    fixedLag(6).smooth(rows.toDF("key", "t", "meas"))
  }

  test("fixed-lag RTS over tied and null times == full-pass RTS when the window spans each key") {
    import spark.implicits._
    val rows = tiedTimes(15)
    val full = fullPass(rows)
    val lagged = fixedLag(6).transform(rows.toDF("key", "t", "meas"))
    assert(lagged.count() == rows.size)
    assertBitIdentical(lagged.select(full.columns.map(col): _*), full, Seq("key", "stateIndex"))
  }

  test("fixed-lag RTS stream over tied and null times == full-pass RTS when the window spans each key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = tiedTimes(16)
    // the null and tied times in the first micro-batch, in reverse, the last time in the second
    val (early, late) = rows.partition(r => r._2 == null || !r._2.after(ts(1)))
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Timestamp, Array[Double])]
    val sq = fixedLag(6).transform(stream.toDS().toDF("key", "t", "meas"))
      .writeStream.format("memory").queryName("fixed_lag_ties").outputMode("append").start()
    stream.addData(early.reverse)
    sq.processAllAvailable()
    stream.addData(late)
    sq.processAllAvailable()
    sq.stop()
    val full = fullPass(rows)
    val streamed = spark.table("fixed_lag_ties")
    assert(streamed.count() == rows.size)
    assertBitIdentical(streamed.select(full.columns.map(col): _*), full, Seq("key", "stateIndex"))
  }

  test("batch fixed-lag with unique event times sorts without the tiebreak hash") {
    val df = measurements(17, nullTimes = false)
    val lagged = fixedLag().setAssumeUniqueEventTimes().transform(df)
    val plan = lagged.queryExecution.executedPlan.toString
    assert(plan.contains("StatefulFold") && !plan.contains("__rowSeq"), plan)
    assertBitIdentical(lagged, fixedLag().transform(df), Seq("key", "stateIndex", "stepIndex"))
  }

  test("fixed-lag stream with a watermark drops a row behind it, as the filter does") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val onTime = for (i <- 61 to 68) yield ("a", ts(i), Array(i.toDouble))
    // 58 minutes behind the latest time: behind the 10-minute watermark
    val late = Seq(("a", ts(10), Array(100.0)))
    val next = Seq(("a", ts(69), Array(3.0)))
    def feed(name: String, build: DataFrame => DataFrame): DataFrame = {
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Timestamp, Array[Double])]
      val sq = build(stream.toDS().toDF("key", "t", "meas"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      Seq(onTime, late, next).foreach { rows => stream.addData(rows); sq.processAllAvailable() }
      sq.stop()
      spark.table(name)
    }
    val filtered = feed("late_row_filter", new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setWatermarkDuration("10 minutes").transform)
    val lagged = feed("late_row_fixed_lag", fixedLag().setWatermarkDuration("10 minutes").transform)
    val admitted = onTime ++ next
    assert(filtered.count() == admitted.size && filtered.where(col("t") === ts(10)).isEmpty)
    assert(lagged.where(col("t") === ts(10)).isEmpty)
    assert(lagged.agg(max("stateIndex")).head().getLong(0) == admitted.size)
    val batch = fixedLag().transform(admitted.toDF("key", "t", "meas"))
    assertBitIdentical(lagged, batch.select(lagged.columns.map(col): _*), Seq("key", "stateIndex", "stepIndex"))
  }

  test("fixed-lag stream rejects an event-time state timeout, which Spark rejects on chained stages") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Timestamp, Array[Double])]
    val smoother = fixedLag().setWatermarkDuration("10 minutes")
      .setStateTimeoutMode("event").setStateTimeoutDuration("1 hour")
    val e = intercept[IllegalArgumentException](smoother.transform(stream.toDS().toDF("key", "t", "meas")))
    assert(e.getMessage.contains("event-time state timeout"), e.getMessage)
    // batch input has no timeouts to reject
    assert(smoother.transform(measurements(18)).count() > 0)
  }
}
