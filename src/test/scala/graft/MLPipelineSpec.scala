package graft

import java.nio.file.Files

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.linalg.{Matrices, Vectors}
import org.apache.spark.ml.util.{DefaultParamsReadable, MLWritable, Identifiable}
import org.apache.spark.ml.param.Params
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession
import graft.linalg.DMat

/**
 * ML Pipeline integration: every graft.ml transformer is an
 * org.apache.spark.ml.Transformer with Params and
 * DefaultParamsWritable/Readable — save/load round-trips preserve params
 * (mirrors the reference's DefaultReadWriteTest,
 * /root/reference/src/test/scala/com/github/ozancicek/artan/ml/testutils/DefaultReadWriteTest.scala),
 * and a Pipeline stage produces byte-identical output to the plain builder.
 */
class MLPipelineSpec extends AnyFunSuite with SparkTestSession {

  import java.sql.Timestamp
  private def ts(i: Int): Timestamp = new Timestamp(1700000000000L + i * 60000L)

  /** Save/load round-trip; assert uid and all set params survive. */
  private def roundTrip[T <: Params with MLWritable](instance: T): T = {
    val _ = spark // MLWritable.save getOrCreate()s a session; make ours active
    val dir = Files.createTempDirectory("graft-ml-rw").toFile
    val path = new java.io.File(dir, instance.uid).getPath
    instance.save(path)
    intercept[java.io.IOException] { instance.save(path) }
    instance.write.overwrite().save(path)
    val loader = instance.getClass.getMethod("read").invoke(null)
      .asInstanceOf[org.apache.spark.ml.util.MLReader[T]]
    val loaded = loader.load(path)
    assert(loaded.uid === instance.uid)
    instance.params.foreach { p =>
      if (instance.isDefined(p)) {
        val a = instance.getOrDefault(p)
        val b = loaded.getOrDefault(p.asInstanceOf[org.apache.spark.ml.param.Param[Any]])
        (a, b) match {
          case (x: Array[Double], y: Array[Double]) => assert(x.sameElements(y), p.name)
          case (x: Array[Array[Double]], y: Array[Array[Double]]) =>
            assert(x.length == y.length && x.zip(y).forall { case (u, v) => u.sameElements(v) }, p.name)
          case (x, y) => assert(x == y, p.name)
        }
      } else assert(!loaded.isDefined(p), s"${p.name} should not be set after load")
    }
    new scala.reflect.io.Directory(dir).deleteRecursively()
    loaded
  }

  private def measurements: DataFrame = {
    import spark.implicits._
    val zs = Seq(1.0, 2.0, 1.5, 3.0, 2.5)
    (for (k <- Seq("a", "b"); (z, i) <- zs.zipWithIndex)
      yield (k, ts(i), Array(if (k == "a") z else z * 2))).toDF("key", "t", "meas")
  }

  test("LinearKalmanFilter params round-trip through save/load") {
    val lkf = new ml.LinearKalmanFilter(2, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Vectors.dense(0.0, 1.0))
      .setInitialStateCovariance(Matrices.dense(2, 2, Array(10.0, 0.0, 0.0, 10.0)))
      .setProcessModel(Matrices.dense(2, 2, Array(1.0, 0.0, 1.0, 1.0)))
      .setProcessNoise(Matrices.dense(2, 2, Array(0.1, 0.0, 0.0, 0.1)))
      .setMeasurementNoise(Matrices.dense(1, 1, Array(4.0)))
      .setFadingFactor(1.05)
      .setSlidingLikelihoodWindow(3)
    val loaded = roundTrip(lkf)
    assert(loaded.getStateSize == 2 && loaded.getMeasurementSize == 1)
  }

  test("every graft.ml transformer round-trips through save/load") {
    roundTrip(new ml.ExtendedKalmanFilter(2, 1).setMeasurementCol("m"))
    roundTrip(new ml.UnscentedKalmanFilter(2, 1).setSigmaPoints("julier").setJulierKappa(2.5))
    roundTrip(new ml.CubatureKalmanFilter(2, 1))
    roundTrip(new ml.LinearKalmanSmoother(2, 1).setFixedLag(4))
    roundTrip(new ml.RecursiveLeastSquaresFilter(3).setForgettingFactor(0.98)
      .setRegularizationMatrixFactor(1e4).setInitialEstimate(Vectors.dense(0, 0, 0)))
    roundTrip(new ml.LeastMeanSquaresFilter(3).setLearningRate(0.5))
    roundTrip(new ml.MultivariateGaussianMixture(2, 2)
      .setInitialMeans(Array(Array(0.0, 0.0), Array(5.0, 5.0)))
      .setInitialCovariances(Array(Array(1.0, 0.0, 0.0, 1.0), Array(1.0, 0.0, 0.0, 1.0)))
      .setMinibatchSize(5))
    roundTrip(new ml.PoissonMixture(3).setInitialRates(Array(1.0, 5.0, 10.0)))
    roundTrip(new ml.BernoulliMixture(2).setInitialProbabilities(Array(0.2, 0.8)))
  }

  test("an ML Pipeline LKF stage equals the plain builder output") {
    val df = measurements
    val stage = new ml.LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Vectors.dense(0.0))
      .setInitialStateCovariance(Matrices.dense(1, 1, Array(10.0)))
      .setProcessNoise(Matrices.dense(1, 1, Array(1.0)))
      .setMeasurementNoise(Matrices.dense(1, 1, Array(4.0)))
    val viaPipeline = new Pipeline().setStages(Array(stage)).fit(df).transform(df)

    val builder = new graft.filter.LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Array(0.0))
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))
    val viaBuilder = builder.transform(df)

    assert(viaPipeline.schema == viaBuilder.schema)
    val a = viaPipeline.select("key", "stateIndex", "stateMean").orderBy("key", "stateIndex")
      .collect().map(_.toString)
    val b = viaBuilder.select("key", "stateIndex", "stateMean").orderBy("key", "stateIndex")
      .collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("named measurement families equal the lambda twins exactly") {
    import spark.implicits._
    // data rides in H = [1, x] per row (the GLM structure); y observed
    // through the named link
    val rows = for (k <- Seq("a", "b"); i <- 0 until 12) yield {
      val x = 0.2 * i
      val u = 1.0 + 0.5 * x
      (k, ts(i), Array(u * u + 0.1 * ((i * 7 % 5) - 2)), x)
    }
    val df = rows.toDF("key", "t", "meas", "x")
      .withColumn("hmat", struct(lit(1).as("numRows"), lit(2).as("numCols"),
        array(lit(1.0), col("x")).as("values")))

    def ekf(setup: ml.ExtendedKalmanFilter => ml.ExtendedKalmanFilter) = setup(
      new ml.ExtendedKalmanFilter(2, 1)
        .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
        .setMeasurementModelCol("hmat")
        .setInitialStateMean(Vectors.dense(0.5, 0.0))
        .setInitialStateCovariance(Matrices.dense(2, 2, Array(10.0, 0.0, 0.0, 10.0)))
        .setProcessNoise(Matrices.dense(2, 2, Array(0.0, 0.0, 0.0, 0.0)))
        .setMeasurementNoise(Matrices.dense(1, 1, Array(5.0))))
      .transform(df).select("key", "stateIndex", "stateMean")
      .orderBy("key", "stateIndex").collect().map(_.toString)

    // "square": g(u) = u² — family output must be byte-identical to the
    // hand-written lambda + analytic jacobian (q_ekf's model)
    val viaFamily = ekf(_.setMeasurementFunctionFamily("square"))
    val viaLambda = ekf(_
      .setMeasurementFunction((st, h) => {
        val u = st(0) * h.values(0) + st(1) * h.values(1); Array(u * u)
      })
      .setMeasurementStateJacobian((st, h) => {
        val u = st(0) * h.values(0) + st(1) * h.values(1)
        DMat(1, 2, Array(2.0 * u * h.values(0), 2.0 * u * h.values(1)))
      }))
    assert(viaFamily.sameElements(viaLambda), "square family != lambda twin")

    // "exp": the GLM log link — UKF twin (sigma points see only h)
    def ukf(setup: ml.UnscentedKalmanFilter => ml.UnscentedKalmanFilter) = setup(
      new ml.UnscentedKalmanFilter(2, 1)
        .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
        .setMeasurementModelCol("hmat")
        .setMerweAlpha(0.6).setMerweBeta(2.0).setMerweKappa(0.5)
        .setInitialStateMean(Vectors.dense(0.0, 0.0))
        .setInitialStateCovariance(Matrices.dense(2, 2, Array(5.0, 0.0, 0.0, 5.0)))
        .setProcessNoise(Matrices.dense(2, 2, Array(0.0, 0.0, 0.0, 0.0)))
        .setMeasurementNoise(Matrices.dense(1, 1, Array(5.0))))
      .transform(df).select("key", "stateIndex", "stateMean")
      .orderBy("key", "stateIndex").collect().map(_.toString)

    val ukfFamily = ukf(_.setMeasurementFunctionFamily("exp"))
    val ukfLambda = ukf(_.setMeasurementFunction((st, h) =>
      Array(math.exp(st(0) * h.values(0) + st(1) * h.values(1)))))
    assert(ukfFamily.sameElements(ukfLambda), "exp family != lambda twin")

    // the family is a plain string param: it must JSON-persist (the lambda
    // params never could) — the py4j-crossing contract
    val loaded = roundTrip(new ml.UnscentedKalmanFilter(2, 1)
      .setMeasurementCol("meas").setMeasurementFunctionFamily("exp"))
    assert(loaded.getOrDefault(loaded.measurementFunctionFamily) == "exp")
  }

  test("transformSchema matches the actual transform output schema") {
    val kalmanIn = measurements
    val vectorIn = kalmanIn.withColumn("meas", org.apache.spark.ml.functions.array_to_vector(col("meas")))
    val regressionIn = kalmanIn.select(col("key"), col("t"), col("meas")(0).as("y"),
      array(lit(1.0), col("meas")(0)).as("f"))
    val mixtureIn = kalmanIn.select(col("key"), col("t"), col("meas").as("s"), col("meas")(0).as("x"))
    def kalman[T <: ml.KalmanTransformer[T]](stage: T): T =
      stage.setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
    def allOutputs[T <: ml.KalmanTransformer[T]](stage: T): T =
      stage.setCalculateLoglikelihood().setCalculateMahalanobis().setSlidingLikelihoodWindow(2)
        .setOutputSystemMatrices().setMultiStepPredict(1)
    def rls = new ml.RecursiveLeastSquaresFilter(2).setStateKeyCol("key").setLabelCol("y").setFeaturesCol("f")
    def lms = new ml.LeastMeanSquaresFilter(2).setStateKeyCol("key").setLabelCol("y").setFeaturesCol("f")
    def gmm = new ml.MultivariateGaussianMixture(2, 1).setStateKeyCol("key").setEventTimeCol("t").setSampleCol("s")
    def poisson = new ml.PoissonMixture(2).setStateKeyCol("key").setSampleCol("x")
    val stages: Seq[(org.apache.spark.ml.Transformer, DataFrame)] = Seq(
      kalman(new ml.LinearKalmanFilter(1, 1)) -> kalmanIn,
      allOutputs(kalman(new ml.LinearKalmanFilter(1, 1))) -> vectorIn,
      new ml.LinearKalmanFilter(1, 1).setStateKeyCol("key").setMeasurementCol("meas") -> kalmanIn,
      kalman(new ml.ExtendedKalmanFilter(1, 1)) -> kalmanIn,
      allOutputs(kalman(new ml.ExtendedKalmanFilter(1, 1))) -> kalmanIn,
      kalman(new ml.UnscentedKalmanFilter(1, 1)) -> kalmanIn,
      allOutputs(kalman(new ml.CubatureKalmanFilter(1, 1))) -> kalmanIn,
      kalman(new ml.LinearKalmanSmoother(1, 1)) -> kalmanIn,
      kalman(new ml.LinearKalmanSmoother(1, 1)).setFixedLag(2) -> vectorIn,
      rls -> regressionIn,
      rls.setEventTimeCol("t") -> regressionIn,
      lms -> regressionIn,
      lms.setEventTimeCol("t") -> regressionIn,
      gmm -> mixtureIn,
      gmm.setEnableBatchTrain() -> mixtureIn,
      poisson -> mixtureIn,
      poisson.setEventTimeCol("t").setEnableBatchTrain() -> mixtureIn,
      new ml.BernoulliMixture(2).setStateKeyCol("key").setEventTimeCol("t").setSampleCol("x") -> mixtureIn)
    stages.foreach { case (stage, df) =>
      val declared = stage.transformSchema(df.schema)
      val actual = stage.transform(df).schema
      assert(declared == actual, s"${stage.uid}:\n${declared.treeString}\nvs\n${actual.treeString}")
    }
    // a missing input column fails at transformSchema, as at transform
    intercept[org.apache.spark.sql.AnalysisException](
      kalman(new ml.LinearKalmanFilter(1, 1)).transformSchema(kalmanIn.drop("meas").schema))
  }

  test("outputSystemMatrices emits the resolved H/F/Q/R per row") {
    val df = measurements
    val out = new graft.filter.LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setProcessNoise(DMat.of(1, 1, 0.5))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))
      .setOutputSystemMatrices()
      .transform(df)
    val cols = out.columns.toSet
    assert(Set("processModel", "processNoise", "measurementModel", "measurementNoise").subsetOf(cols))
    val r = out.where(col("key") === "a").orderBy("stateIndex").limit(1)
      .select("processNoise.values", "measurementNoise.values").head()
    assert(r.getSeq[Double](0) == Seq(0.5) && r.getSeq[Double](1) == Seq(4.0))
    // and the ML wrapper declares them in transformSchema
    val stage = new ml.LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setOutputSystemMatrices()
    assert(stage.transformSchema(df.schema).fieldNames.sameElements(stage.transform(df).schema.fieldNames))
  }

  test("initialStateDistributionCol warm start equals the uninterrupted run") {
    import spark.implicits._
    val df = measurements
    val base = new graft.filter.LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))
    val full = base.transform(df)
      .groupBy("key").agg(max_by(col("stateMean"), col("stateIndex")).as("m"))

    // batch posterior on the first 3 measurements per key ...
    val first = df.where(col("t") < lit(ts(3)))
    val rest = df.where(col("t") >= lit(ts(3)))
    val posterior = base.transform(first)
      .groupBy("key").agg(max_by(
        struct(col("stateMean").as("mean"), col("stateCovariance").as("covariance")),
        col("stateIndex")).as("stateDist"))
    // ... carried into the second half through the single struct column
    val resumed = new graft.filter.LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateDistributionCol("stateDist")
      .setMeasurementNoise(DMat.of(1, 1, 4.0))
      .transform(rest.join(posterior, "key"))
      .groupBy("key").agg(max_by(col("stateMean"), col("stateIndex")).as("m"))

    val f = full.orderBy("key").collect().map(r => (r.getString(0), r.getSeq[Double](1)))
    val w = resumed.orderBy("key").collect().map(r => (r.getString(0), r.getSeq[Double](1)))
    assert(f.sameElements(w))
  }

  test("per-field initial columns and per-row hyperparameter columns") {
    import spark.implicits._
    import graft.mixture.PoissonMixture
    val data = (1 to 40).map(i => ("k", i % 2 * 10 + 1.0)).toDF("key", "x")
      .withColumn("rates0", array(lit(1.0), lit(12.0)))
      .withColumn("mb", lit(8))
      .withColumn("ss", lit(0.2))

    val out = new PoissonMixture(2)
      .setStateKeyCol("key").setSampleCol("x")
      .setInitialRatesCol("rates0")
      .setMinibatchSizeCol("mb")
      .setStepSizeCol("ss")
      .setMinibatchSize(999) // per-row column must win over this
      .transform(data)
    val rows = out.select(col("stateIndex"), col("params")(0)(0), col("params")(1)(0))
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    // minibatch 8 over 40 rows -> 5 updates (builder's 999 would give 0 rows)
    assert(rows.length == 5, s"got ${rows.length}")
    // components stay anchored near their per-key initial rates (1 and 12)
    val (_, r0, r1) = rows.last
    assert(r0 < 6.0 && r1 > 6.0, s"rates drifted: $r0, $r1")
  }

  test("RLS initialStateDistributionCol warm start equals the uninterrupted run") {
    import spark.implicits._
    import graft.filter.RecursiveLeastSquaresFilter
    val rows = (1 to 12).map(i => ("k", i, Array(1.0, i.toDouble), 3.0 + 2.0 * i))
      .toDF("key", "i", "features", "label")

    def rls = new RecursiveLeastSquaresFilter(2)
      .setStateKeyCol("key").setFeaturesCol("features").setLabelCol("label")
      .setForgettingFactor(1.0)

    val full = rls.transform(rows).where(col("stateIndex") === 12)
      .select(col("stateMean")).head().getSeq[Double](0)

    val posterior = rls.transform(rows.where(col("i") <= 6))
      .groupBy(col("key"))
      .agg(max_by(struct(col("stateMean").as("mean"),
        col("stateCovariance").as("covariance")), col("stateIndex")).as("prior"))
    val resumed = rls.setInitialStateDistributionCol("prior")
      .transform(rows.where(col("i") > 6).join(posterior, "key"))
      .where(col("stateIndex") === 6)
      .select(col("stateMean")).head().getSeq[Double](0)

    full.zip(resumed).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, s"$a vs $b") }
  }

  test("initialMixtureModelCol warm start overrides builder constants") {
    import spark.implicits._
    val rows = (0 until 40).map(i => ("k", ts(i), if (i % 2 == 0) 1.0 else 20.0))
    val df = rows.toDF("key", "t", "x")

    val viaConstants = new graft.mixture.PoissonMixture(2)
      .setInitialRates(Array(2.0, 15.0))
      .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("x").setMinibatchSize(10)
      .transform(df)

    val warmDf = df.withColumn("warm",
      struct(typedLit(Seq(0.5, 0.5)).as("weights"),
        typedLit(Seq(Seq(2.0), Seq(15.0))).as("params")))
    val a = viaConstants.select("stateIndex", "weights", "params").orderBy("stateIndex")
      .collect().map(_.toString)
    val b = new graft.mixture.PoissonMixture(2)
      .setInitialRates(Array(99.0, 99.0))
      .setInitialMixtureModelCol("warm")
      .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("x").setMinibatchSize(10)
      .transform(warmDf)
      .select("stateIndex", "weights", "params").orderBy("stateIndex")
      .collect().map(_.toString)
    assert(a.sameElements(b))
  }
}
