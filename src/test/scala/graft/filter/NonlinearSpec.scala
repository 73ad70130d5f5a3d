package graft.filter

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.linalg.DMat
import graft.mixture.MultivariateGaussianMixture
import graft.smoother.LinearKalmanSmoother

class NonlinearSpec extends AnyFunSuite with SparkTestSession {

  import java.sql.Timestamp
  private def ts(i: Int): Timestamp = new Timestamp(1700000000000L + i * 60000L)

  private def lltData = {
    import spark.implicits._
    val zs = Seq(1.0, 4.0, 2.0, 5.0, 3.0, 6.0, 4.0, 7.0)
    zs.zipWithIndex.map { case (z, i) => ("a", ts(i), Array(z)) }.toDF("key", "t", "meas")
  }

  private def configure[T <: KalmanFilterBase[T]](f: T): T =
    f.setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Array(0.0))
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))

  private def means(df: org.apache.spark.sql.DataFrame): Seq[Double] = {
    import spark.implicits._
    df.orderBy("stateIndex").select(col("stateMean")(0)).as[Double].collect().toSeq
  }

  test("EKF with default (linear) functions equals LKF exactly") {
    val lkf = means(configure(new LinearKalmanFilter(1, 1)).transform(lltData))
    val ekf = means(configure(new ExtendedKalmanFilter(1, 1)).transform(lltData))
    lkf.zip(ekf).foreach { case (a, b) => assert(a == b) }
  }

  test("UKF on a linear system tracks LKF closely") {
    val lkf = means(configure(new LinearKalmanFilter(1, 1)).transform(lltData))
    val ukf = means(configure(new UnscentedKalmanFilter(1, 1)).transform(lltData))
    lkf.zip(ukf).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, s"$a vs $b") }
  }

  test("CKF on a linear system tracks LKF closely") {
    val lkf = means(configure(new LinearKalmanFilter(1, 1)).transform(lltData))
    val ckf = means(configure(new CubatureKalmanFilter(1, 1)).transform(lltData))
    lkf.zip(ckf).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, s"$a vs $b") }
  }

  test("EKF recovers parameters of a polynomial measurement model") {
    import spark.implicits._
    // z = (2 + 0.5 x)^2, exact measurements
    val rows = (1 to 300).map { i =>
      val x = (i % 10) + 1.0
      val u = 2.0 + 0.5 * x
      ("k", ts(i), Array(u * u), Array(1.0, x))
    }
    val df = rows.toDF("key", "t", "meas", "hrow")
      .withColumn("hmat", struct(lit(1).as("numRows"), lit(2).as("numCols"), col("hrow").as("values")))
    val ekf = new ExtendedKalmanFilter(2, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setMeasurementModelCol("hmat")
      .setMeasurementFunction((st, h) => {
        val x = h.values(1); val u = st(0) + st(1) * x; Array(u * u)
      })
      .setMeasurementStateJacobian((st, h) => {
        val x = h.values(1); val u = st(0) + st(1) * x
        DMat(1, 2, Array(2.0 * u, (2.0 * u) * x))
      })
      .setInitialStateMean(Array(1.0, 0.1))
      .setInitialStateCovariance(DMat.of(2, 2, 10.0, 0.0, 0.0, 10.0))
      .setProcessNoise(DMat.zeros(2, 2))
      .setMeasurementNoise(DMat.of(1, 1, 0.01))
    val last = ekf.transform(df).orderBy(desc("stateIndex")).select("stateMean").as[Array[Double]].head()
    assert(math.abs(last(0) - 2.0) < 0.05, last.mkString(","))
    assert(math.abs(last(1) - 0.5) < 0.05, last.mkString(","))
  }

  test("RTS smoother: final state matches filter, variance never larger") {
    import spark.implicits._
    val filt = configure(new LinearKalmanFilter(1, 1)).transform(lltData)
      .orderBy("stateIndex")
      .select(col("stateMean")(0), col("stateCovariance.values")(0)).as[(Double, Double)].collect()
    val sm = new LinearKalmanSmoother(1, 1)
    sm.setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Array(0.0))
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))
    val smoothed = sm.transform(lltData)
      .orderBy("stateIndex")
      .select(col("stateMean")(0), col("stateCovariance.values")(0)).as[(Double, Double)].collect()
    assert(filt.length == smoothed.length)
    assert(math.abs(filt.last._1 - smoothed.last._1) < 1e-12)
    filt.zip(smoothed).foreach { case ((_, pf), (_, ps)) =>
      assert(ps <= pf + 1e-12, s"smoothed var $ps > filtered $pf")
    }
  }

  test("MMAE weights the filter bank toward the best-matching noise model") {
    import spark.implicits._
    val zs = (1 to 40).map(i => 10.0 + (if (i % 2 == 0) 0.1 else -0.1))
    val rows = for ((z, i) <- zs.zipWithIndex; fid <- 0 until 2)
      yield (s"f$fid", ts(i), Array(z), DMat.of(1, 1, if (fid == 0) 0.05 else 100.0))
    val df = rows.toDF("key", "t", "meas", "rmat")
    val lkf = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setMeasurementNoiseCol("rmat")
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 0.01))
      .setSlidingLikelihoodWindow(5)
      .setEnableMultipleModelAdaptiveEstimation()
    val out = lkf.transform(df)
    val last = out.orderBy(desc("stateIndex")).select(col("stateMean")(0)).as[Double].head()
    assert(math.abs(last - 10.0) < 0.5, s"MMAE estimate $last")
    assert(out.count() == 40)
  }

  test("online gaussian mixture separates two clusters") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (1 to 2000).map { i =>
      val z = if (rng.nextBoolean()) 5.0 + rng.nextGaussian() else 50.0 + rng.nextGaussian()
      ("k", ts(i), Array(z))
    }
    val gmm = new MultivariateGaussianMixture(2, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("sample")
      .setStepSize(0.08).setMinibatchSize(20)
      .setInitialMeans(Array(Array(0.0), Array(30.0)))
      .setInitialCovariances(Array(Array(25.0), Array(25.0)))
    val out = gmm.transform(rows.toDF("key", "t", "sample"))
    val last = out.orderBy(desc("stateIndex"))
      .select(col("params")(0)(0), col("params")(1)(0), col("weights")(0)).as[(Double, Double, Double)].head()
    assert(math.abs(last._1 - 5.0) < 1.5, last.toString)
    assert(math.abs(last._2 - 50.0) < 1.5, last.toString)
    assert(math.abs(last._3 - 0.5) < 0.15, last.toString)
  }

  test("fixed-lag smoother: newest window estimate equals the filter, batch=stream shape") {
    import spark.implicits._
    val sm = new LinearKalmanSmoother(1, 1).setFixedLag(3)
    sm.setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))
    val out = sm.transform(lltData)
    // 8 measurements, lag 3: windows complete from step 3 on -> 6 * 3 rows
    assert(out.count() == 18)
    val filt = configure(new LinearKalmanFilter(1, 1)).transform(lltData)
      .select(col("stateIndex"), col("stateMean")(0)).as[(Long, Double)].collect().toMap
    // within each window the newest step equals the filtered estimate
    val newest = out.where(col("stepIndex") === 2)
      .select(col("stateIndex"), col("stateMean")(0)).as[(Long, Double)].collect()
    newest.foreach { case (i, m) => assert(m == filt(i), s"step $i") }
    // an interior smoothed estimate differs from the filter (uses future info)
    val interior = out.where(col("stepIndex") === 0 && col("stateIndex") === 3)
      .select(col("stateMean")(0)).as[Double].head()
    assert(interior != filt(3L))
  }

  test("RAUKF: adaptive process noise inflates on a mahalanobis breach and tracks jumps faster") {
    import spark.implicits._
    // steady level then a large jump: the jump residual breaches the
    // threshold, Q inflates, and the filter re-converges faster than the
    // static-Q UKF (B. Zheng 2018 behavior; reference UnscentedKalmanFilterSpec)
    val zs = Seq.fill(10)(1.0) ++ Seq.fill(10)(30.0)
    val df = zs.zipWithIndex.map { case (z, i) => ("a", ts(i), Array(z)) }.toDF("key", "t", "meas")

    def ukf() = new UnscentedKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Array(1.0))
      .setInitialStateCovariance(DMat.of(1, 1, 1.0))
      .setProcessNoise(DMat.of(1, 1, 0.01))
      .setMeasurementNoise(DMat.of(1, 1, 1.0))

    val staticMeans = means(ukf().transform(df))
    val adaptiveMeans = means(ukf().setEnableAdaptiveProcessNoise().transform(df))

    // identical before the jump (no breach -> no adaptation)
    (0 until 10).foreach(i => assert(staticMeans(i) == adaptiveMeans(i), s"pre-jump step $i"))
    // after the jump the adaptive filter closes the gap to 30 faster
    assert(adaptiveMeans(12) > staticMeans(12) + 1.0,
      s"adaptive ${adaptiveMeans(12)} vs static ${staticMeans(12)}")
    assert(math.abs(adaptiveMeans.last - 30.0) < math.abs(staticMeans.last - 30.0))
  }

  test("RAUKF streaming equals batch across micro-batches (adapted Q carried in state)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the jump lands mid-stream so the INFLATED Q must survive the
    // micro-batch boundary inside the state store
    val zs = Seq.fill(10)(1.0) ++ Seq.fill(10)(30.0)
    val data = zs.zipWithIndex.map { case (z, i) => ("a", ts(i), Array(z)) }

    def ukf() = new UnscentedKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Array(1.0))
      .setInitialStateCovariance(DMat.of(1, 1, 1.0))
      .setProcessNoise(DMat.of(1, 1, 0.01))
      .setMeasurementNoise(DMat.of(1, 1, 1.0))
      .setEnableAdaptiveProcessNoise()

    val batch = means(ukf().transform(data.toDF("key", "t", "meas")))

    val stream = MemoryStream[(String, Timestamp, Array[Double])]
    val sq = ukf().transform(stream.toDS().toDF("key", "t", "meas"))
      .writeStream.format("memory").queryName("raukf_parity").outputMode("append").start()
    stream.addData(data.take(11)) // boundary right after the first jump row
    sq.processAllAvailable()
    stream.addData(data.drop(11))
    sq.processAllAvailable()
    val streamed = spark.table("raukf_parity").orderBy("stateIndex")
      .select(col("stateMean")(0)).as[Double].collect().toSeq
    sq.stop()

    assert(batch.length == streamed.length)
    batch.zip(streamed).foreach { case (b, s) => assert(b == s, s"$b vs $s") }
  }

  test("batch EM mixture separates clusters and beats holdout-free online start") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val rows = (1 to 600).map { i =>
      val z = if (i % 2 == 0) 4.0 + rng.nextGaussian() else 40.0 + rng.nextGaussian()
      ("k", ts(i), Array(z))
    }
    val gmm = new MultivariateGaussianMixture(2, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("sample")
      .setEnableBatchTrain().setBatchTrainMaxIter(50).setBatchTrainTol(1e-4)
      .setInitialMeans(Array(Array(0.0), Array(20.0)))
      .setInitialCovariances(Array(Array(30.0), Array(30.0)))
    val out = gmm.transform(rows.toDF("key", "t", "sample"))
    assert(out.count() == 1) // one converged model per key
    val m = out.select(col("params")(0)(0), col("params")(1)(0), col("weights")(0))
      .as[(Double, Double, Double)].head()
    assert(math.abs(m._1 - 4.0) < 0.5, m.toString)
    assert(math.abs(m._2 - 40.0) < 0.5, m.toString)
    assert(math.abs(m._3 - 0.5) < 0.05, m.toString)
  }

  test("sigma-point bounds clip spread points but never the center (reference semantics)") {
    // Reference UnscentedKalmanFilter.scala:417-424 folds applyBounds over
    // the ± points only; the head of the list (the mean) is unclipped.
    val algo = new MerweSigma(0.3, 2.0, 0.1)
    algo.lbound = Some(Array(0.0))
    algo.ubound = Some(Array(0.5))
    val sg = algo(Array(0.6), Array(4.0), 1) // spread ±sqrt(0.099·4) ≈ ±0.63
    assert(sg.points(0)(0) == 0.6)           // center above ub, left alone
    assert(sg.points(1)(0) == 0.5)           // 1.23 clipped to ub
    assert(sg.points(2)(0) == 0.0)           // -0.03 clipped to lb
    val cub = new CubatureSigma
    cub.lbound = Some(Array(0.0))
    val cs = cub(Array(0.1), Array(4.0), 1)  // spread ±2 → -1.9 clipped
    assert(cs.points.forall(_(0) >= 0.0))
  }

  private def sqrtMeasData = {
    import spark.implicits._
    // z = sqrt(x*) + deterministic pseudo-noise, x* = 0.04 — a state that
    // only makes sense non-negative (sqrt of a negative sigma point → NaN).
    (1 to 60).map { i =>
      val noise = 0.01 * math.sin(i * 2.39996)
      ("k", ts(i), Array(0.2 + noise))
    }.toDF("key", "t", "meas")
  }

  private def sqrtUkf(stateCov: Double) = new UnscentedKalmanFilter(1, 1)
    .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
    .setMeasurementFunction((st, _) => Array(math.sqrt(st(0))))
    .setInitialStateMean(Array(0.1))
    .setInitialStateCovariance(DMat.of(1, 1, stateCov))
    .setProcessNoise(DMat.of(1, 1, 1e-6))
    .setMeasurementNoise(DMat.of(1, 1, 1e-3))

  test("positivity-constrained UKF recovers a sqrt-measured state where unconstrained NaNs") {
    import spark.implicits._
    // Unconstrained: initial sigma points reach 0.1 - sqrt(0.099·4) < 0 →
    // sqrt → NaN, which poisons the filter (NaN estimates or a failed
    // Cholesky on the NaN covariance).
    val unconstrained = scala.util.Try {
      sqrtUkf(4.0).transform(sqrtMeasData)
        .orderBy(desc("stateIndex")).select(col("stateMean")(0)).as[Double].head()
    }
    assert(unconstrained.isFailure || unconstrained.get.isNaN, unconstrained.toString)

    val bounded = sqrtUkf(4.0)
      .setSigmaPointLowerBound(Array(0.0))
      .transform(sqrtMeasData)
      .orderBy(desc("stateIndex")).select(col("stateMean")(0)).as[Double].head()
    assert(!bounded.isNaN && math.abs(bounded - 0.04) < 0.02, bounded.toString)
  }

  test("constrained CKF also recovers the sqrt-measured state") {
    import spark.implicits._
    val est = new CubatureKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setMeasurementFunction((st, _) => Array(math.sqrt(st(0))))
      .setInitialStateMean(Array(0.1))
      .setInitialStateCovariance(DMat.of(1, 1, 4.0))
      .setProcessNoise(DMat.of(1, 1, 1e-6))
      .setMeasurementNoise(DMat.of(1, 1, 1e-3))
      .setSigmaPointLowerBound(Array(0.0))
      .transform(sqrtMeasData)
      .orderBy(desc("stateIndex")).select(col("stateMean")(0)).as[Double].head()
    assert(!est.isNaN && math.abs(est - 0.04) < 0.02, est.toString)
  }

  test("setAssumeUniqueEventTimes drops the sort tiebreaker and preserves results") {
    // default batch plan sorts (key, time, xxhash64(all cols)) for
    // deterministic tie order; with the caller-declared unique-(key,time)
    // invariant the hash column vanishes (8 bytes/row off the external
    // sort key) and results are bit-identical on tie-free data
    val base = configure(new LinearKalmanFilter(1, 1))
    val slim = configure(new LinearKalmanFilter(1, 1)).setAssumeUniqueEventTimes()
    def plan(f: LinearKalmanFilter) = f.transform(lltData).queryExecution.executedPlan.toString
    assert(plan(base).contains("__rowSeq"))
    val p = plan(slim)
    assert(!p.contains("__rowSeq") && !p.contains("xxhash64"), p.take(2000))
    assert(means(base.transform(lltData)) == means(slim.transform(lltData)))
  }

  test("sigma-point bound setters validate the bound length") {
    intercept[IllegalArgumentException] {
      new UnscentedKalmanFilter(2, 1).setSigmaPointLowerBound(Array(0.0))
    }
    intercept[IllegalArgumentException] {
      new CubatureKalmanFilter(3, 1).setSigmaPointUpperBound(Array(0.0, 1.0))
    }
  }
}
