package graft.state

import java.lang.reflect.Modifier
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.{CubatureKalmanFilter, ExtendedKalmanFilter, LeastMeanSquaresFilter, LinearKalmanFilter,
  RecursiveLeastSquaresFilter, SparkTestSession, UnscentedKalmanFilter}
import graft.mixture.{BernoulliMixture, MultivariateGaussianMixture, PoissonMixture}
import graft.smoother.LinearKalmanSmoother

/**
 * The estimators' shared engine settings: each keeps its public setter
 * surface and its default state key, and a streaming input the engine
 * cannot honour is rejected when `transform` builds the plan.
 */
class StatefulTransformerSpec extends AnyFunSuite with SparkTestSession {

  private def setters(c: Class[_]): Seq[String] =
    c.getMethods.toSeq.filter(m => Modifier.isPublic(m.getModifiers) && m.getName.startsWith("set"))
      .map(_.getName).distinct.sorted

  private val engine = Seq("setEventTimeCol", "setStateKeyCol", "setStateTimeoutDuration",
    "setStateTimeoutMode", "setWatermarkDuration")
  private val kalman = engine ++ Seq("setAssumeUniqueEventTimes", "setCalculateLoglikelihood",
    "setCalculateMahalanobis", "setCalculateSlidingLikelihood", "setControlCol", "setControlFunctionCol",
    "setEnableMultipleModelAdaptiveEstimation", "setFadingFactor", "setInitialStateCovariance",
    "setInitialStateCovarianceCol", "setInitialStateDistributionCol", "setInitialStateMean",
    "setInitialStateMeanCol", "setMeasurementCol", "setMeasurementModel", "setMeasurementModelCol",
    "setMeasurementNoise", "setMeasurementNoiseCol", "setMultiStepPredict",
    "setMultipleModelMeasurementWindowDuration", "setOutputSystemMatrices", "setProcessModel",
    "setProcessModelCol", "setProcessNoise", "setProcessNoiseCol", "setSlidingLikelihoodWindow")
  private val regression = engine ++ Seq("setAssumeUniqueEventTimes", "setFeaturesCol",
    "setInitialEstimate", "setInitialEstimateCol", "setLabelCol")
  private val mixture = engine ++ Seq("setBatchTrainMaxIter", "setBatchTrainTol", "setDecayRate",
    "setEnableBatchTrain", "setInitialMixtureModelCol", "setInitialWeights", "setInitialWeightsCol",
    "setMinibatchSize", "setMinibatchSizeCol", "setSampleCol", "setStepSize", "setStepSizeCol",
    "setUpdateHoldout", "setUpdateHoldoutCol")
  private val bounds = Seq("setSigmaPointLowerBound", "setSigmaPointUpperBound")

  test("every estimator keeps its public setters, and only the mixtures lack setAssumeUniqueEventTimes") {
    val expected: Seq[(Class[_], Seq[String])] = Seq(
      classOf[LinearKalmanFilter] -> kalman,
      classOf[ExtendedKalmanFilter] -> (kalman ++ Seq("setMeasurementFunction",
        "setMeasurementNoiseJacobian", "setMeasurementStateJacobian", "setProcessFunction",
        "setProcessNoiseJacobian", "setProcessStateJacobian")),
      classOf[UnscentedKalmanFilter] -> (kalman ++ bounds ++ Seq("setAdaptiveProcessNoiseAlpha",
        "setAdaptiveProcessNoiseLambda", "setAdaptiveProcessNoiseThreshold",
        "setEnableAdaptiveProcessNoise", "setJulierKappa", "setMeasurementFunction", "setMerweAlpha",
        "setMerweBeta", "setMerweKappa", "setProcessFunction", "setSigmaPoints")),
      classOf[CubatureKalmanFilter] -> (kalman ++ bounds ++ Seq("setMeasurementFunction",
        "setProcessFunction")),
      classOf[LinearKalmanSmoother] -> (kalman :+ "setFixedLag"),
      classOf[RecursiveLeastSquaresFilter] -> (regression ++ Seq("setForgettingFactor",
        "setInitialStateDistributionCol", "setRegularizationMatrix", "setRegularizationMatrixCol",
        "setRegularizationMatrixFactor")),
      classOf[LeastMeanSquaresFilter] -> (regression ++ Seq("setLearningRate", "setRegularization")),
      classOf[MultivariateGaussianMixture] -> (mixture ++ Seq("setInitialCovariances",
        "setInitialCovariancesCol", "setInitialMeans", "setInitialMeansCol")),
      classOf[PoissonMixture] -> (mixture ++ Seq("setInitialRates", "setInitialRatesCol")),
      classOf[BernoulliMixture] -> (mixture ++ Seq("setInitialProbabilities", "setInitialProbabilitiesCol")))
    for ((c, names) <- expected)
      assert(setters(c) == names.sorted, s"${c.getSimpleName}")
  }

  test("with no key column, each family folds under its default state key") {
    import spark.implicits._
    val kalmanIn = Seq(Array(1.0), Array(2.0), Array(3.0)).toDF("measurement")
    val regressionIn = Seq((1.0, Array(1.0, 0.5)), (2.0, Array(0.5, 1.0))).toDF("label", "features")
    val gaussianIn = Seq(Array(0.1), Array(1.2), Array(0.3)).toDF("sample")
    val countIn = Seq(0.0, 1.0, 1.0).toDF("sample")
    def keys(out: DataFrame): Seq[String] = out.select("stateKey").distinct().as[String].collect().toSeq

    val expected: Seq[(String, DataFrame)] = Seq(
      "LinearKalmanFilter.default" -> new LinearKalmanFilter(1, 1).transform(kalmanIn),
      "ExtendedKalmanFilter.default" -> new ExtendedKalmanFilter(1, 1).transform(kalmanIn),
      "UnscentedKalmanFilter.default" -> new UnscentedKalmanFilter(1, 1).transform(kalmanIn),
      "CubatureKalmanFilter.default" -> new CubatureKalmanFilter(1, 1).transform(kalmanIn),
      "LinearKalmanSmoother.default" -> new LinearKalmanSmoother(1, 1).transform(kalmanIn),
      "rls.default" -> new RecursiveLeastSquaresFilter(2).transform(regressionIn),
      "lms.default" -> new LeastMeanSquaresFilter(2).transform(regressionIn),
      "MultivariateGaussianMixture.default" -> new MultivariateGaussianMixture(2, 1).transform(gaussianIn),
      "PoissonMixture.default" -> new PoissonMixture(2).transform(countIn),
      "BernoulliMixture.default" -> new BernoulliMixture(2).transform(countIn))
    for ((key, out) <- expected) assert(keys(out) == Seq(key))
  }

  test("full-pass RTS rejects a streaming input and points to setFixedLag") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp, Array[Double])].toDF().toDF("key", "t", "measurement")
    val fullPass = new LinearKalmanSmoother(1, 1).setStateKeyCol("key").setEventTimeCol("t")
    val e = intercept[IllegalArgumentException](fullPass.transform(stream))
    assert(e.getMessage.contains("setFixedLag"))
    // fixed-lag smoothing is the streaming form and still builds
    val fixedLag = new LinearKalmanSmoother(1, 1).setFixedLag(3).setStateKeyCol("key").setEventTimeCol("t")
    assert(fixedLag.transform(stream).isStreaming)
  }

  test("a streaming timeout mode without a duration, or a duration without a mode, is rejected") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val kalmanIn = MemoryStream[(String, Timestamp, Array[Double])].toDF()
      .toDF("key", "t", "measurement")
    val regressionIn = MemoryStream[(String, Timestamp, Double, Array[Double])].toDF()
      .toDF("key", "t", "label", "features")
    def lkf = new LinearKalmanFilter(1, 1).setStateKeyCol("key").setEventTimeCol("t")
      .setWatermarkDuration("1 minute")
    def rls = new RecursiveLeastSquaresFilter(2).setStateKeyCol("key").setEventTimeCol("t")
      .setWatermarkDuration("1 minute")
    val halfConfigured: Seq[() => DataFrame] = Seq(
      () => lkf.setStateTimeoutMode("event").transform(kalmanIn),
      () => lkf.setStateTimeoutMode("process").transform(kalmanIn),
      () => lkf.setStateTimeoutDuration("2 minutes").transform(kalmanIn),
      () => rls.setStateTimeoutMode("event").transform(regressionIn),
      () => rls.setStateTimeoutDuration("2 minutes").transform(regressionIn))
    halfConfigured.foreach(build => intercept[IllegalArgumentException](build()))

    assert(lkf.setStateTimeoutMode("event").setStateTimeoutDuration("2 minutes")
      .transform(kalmanIn).isStreaming)
    assert(rls.setStateTimeoutMode("process").setStateTimeoutDuration("2 minutes")
      .transform(regressionIn).isStreaming)
  }

  test("a processing-time timeout evicts an idle key's state on an interval trigger") {
    // Spark runs a no-data batch after every batch of a stage with this
    // timeout; the interval trigger spaces them, and one of them evicts
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp, Array[Double])]
    val lkf = new LinearKalmanFilter(1, 1).setStateKeyCol("key").setEventTimeCol("t")
      .setStateTimeoutMode("process").setStateTimeoutDuration("1 second")
    val q = lkf.transform(in.toDF().toDF("key", "t", "measurement"))
      .writeStream.format("memory").queryName("process_timeout")
      .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    try {
      in.addData(("k", new Timestamp(0L), Array(1.0)))
      var seen = false
      var rows = -1L
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!(seen && rows == 0L) && System.nanoTime() < deadline) {
        Thread.sleep(100)
        Option(q.lastProgress).flatMap(_.stateOperators.headOption).foreach { op =>
          rows = op.numRowsTotal
          seen ||= rows == 1L
        }
      }
      assert(q.exception.isEmpty, q.exception)
      assert(seen, "the key's state was never stored")
      assert(rows == 0L, s"the key's state was not evicted within 60 s: $rows rows")
      assert(spark.table("process_timeout").count() == 1L)
    } finally q.stop()
  }
}
