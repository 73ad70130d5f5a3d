package graft.filter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.linalg.DMat

trait SparkTestSession extends BeforeAndAfterAll { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestSession.session
  override def afterAll(): Unit = () // shared session, do not stop
}

object SparkTestSession {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class FilterSpec extends AnyFunSuite with SparkTestSession {

  import java.sql.Timestamp

  private def ts(i: Int): Timestamp = new Timestamp(1700000000000L + i * 60000L)

  test("LKF local-level filter matches hand recursion and is key-parallel") {
    import spark.implicits._
    val zs = Seq(1.0, 2.0, 1.5, 3.0, 2.5)
    val rows = for (k <- Seq("a", "b"); (z, i) <- zs.zipWithIndex)
      yield (k, ts(i), Array(if (k == "a") z else z * 2))
    val df = rows.toDF("key", "t", "meas")

    val out = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Array(0.0))
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))
      .transform(df)

    val got = out.select(col("key"), col("stateIndex"), col("stateMean")(0))
      .as[(String, Long, Double)].collect().groupBy(_._1)

    def reference(scale: Double): Seq[Double] = {
      var m = 0.0; var p = 10.0
      zs.map { z0 =>
        val z = z0 * scale
        val pp = p + 1.0
        val k = pp / (pp + 4.0)
        m = m + k * (z - m)
        p = (1 - k) * pp * (1 - k) + k * 4.0 * k
        m
      }
    }
    for ((key, scale) <- Seq(("a", 1.0), ("b", 2.0))) {
      val exp = reference(scale)
      val act = got(key).sortBy(_._2).map(_._3).toSeq
      assert(act.size == exp.size)
      exp.zip(act).foreach { case (e, a) => assert(math.abs(e - a) < 1e-12, s"$key: $e vs $a") }
    }
  }

  test("LKF control input shifts the prediction by B*u per step") {
    import spark.implicits._
    val zs = Seq(2.0, 4.1, 5.9, 8.2, 10.0) // ramp driven by the control, not the model
    val rows = zs.zipWithIndex.map { case (z, i) =>
      ("k", ts(i), Array(z), Array(2.0)) // u = 2.0 every step
    }
    val df = rows.toDF("key", "t", "meas", "u")
      .withColumn("bmat", expr("struct(1 as numRows, 1 as numCols, array(1.0d) as values)"))

    def lkf = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Array(0.0))
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 0.1))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))

    val withControl = lkf.setControlCol("u").setControlFunctionCol("bmat")
      .transform(df)
      .select(col("stateIndex"), col("stateMean")(0))
      .as[(Long, Double)].collect().sortBy(_._1).map(_._2)

    // hand recursion: x_pred = x + B*u; covariance untouched by control
    var m = 0.0; var p = 10.0
    val expected = zs.map { z =>
      val mp = m + 1.0 * 2.0
      val pp = p + 0.1
      val k = pp / (pp + 4.0)
      m = mp + k * (z - mp)
      p = (1 - k) * pp * (1 - k) + k * 4.0 * k
      m
    }
    expected.zip(withControl).foreach { case (e, a) =>
      assert(math.abs(e - a) < 1e-12, s"$e vs $a")
    }
    // and the control genuinely matters: without it the estimates lag the ramp
    val without = lkf.transform(df) // fresh builder: control cols not set
      .select(col("stateIndex"), col("stateMean")(0))
      .as[(Long, Double)].collect().sortBy(_._1).map(_._2)
    assert(math.abs(without.last - expected.last) > 0.5)
  }

  test("batch stateful path streams a single hot key (no per-key materialization)") {
    import spark.implicits._
    // 200k rows in ONE key exercise the external-sort + iterator fold shape:
    // a per-key materialization (groupByKey + toList) would churn memory here
    // and OOM at the 1000x version of this test on a real cluster.
    val n = 200000
    val df = spark.range(n).select(
      lit("hot").as("key"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("t"),
      array((col("id") % 100).cast("double") / 10.0).as("meas"))

    val out = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Array(0.0))
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))
      .transform(df)

    val stats = out.agg(count(lit(1)), max(col("stateIndex"))).head()
    assert(stats.getLong(0) == n)
    assert(stats.getLong(1) == n)
  }

  test("LKF missing measurement performs predict-only step") {
    import spark.implicits._
    val df = Seq(
      ("a", ts(0), Some(Array(1.0))),
      ("a", ts(1), Option.empty[Array[Double]]),
      ("a", ts(2), Some(Array(2.0)))
    ).toDF("key", "t", "meas")
    val out = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))
      .transform(df)
    val rows = out.orderBy("stateIndex").select(col("stateMean")(0), col("stateCovariance.values")(0))
      .as[(Double, Double)].collect()
    assert(rows.length == 3)
    // predict-only step keeps the mean, inflates covariance by Q
    assert(math.abs(rows(1)._1 - rows(0)._1) < 1e-12)
    assert(math.abs(rows(1)._2 - (rows(0)._2 + 1.0)) < 1e-12)
  }

  test("RLS with lambda=1 converges to the OLS solution") {
    import spark.implicits._
    // y = 3 + 2x, exact -> RLS with weak regularization must recover it
    val rows = (1 to 200).map(i => ("k", ts(i), Array(1.0, i.toDouble), 3.0 + 2.0 * i))
    val df = rows.toDF("key", "t", "features", "label")
    val out = new RecursiveLeastSquaresFilter(2)
      .setStateKeyCol("key").setEventTimeCol("t")
      .setFeaturesCol("features").setLabelCol("label")
      .setRegularizationMatrixFactor(1e7)
      .transform(df)
    val last = out.orderBy(desc("stateIndex")).select("stateMean").as[Array[Double]].head()
    assert(math.abs(last(0) - 3.0) < 1e-3, last.mkString(","))
    assert(math.abs(last(1) - 2.0) < 1e-6, last.mkString(","))
  }

  test("LMS converges toward the true parameters on stationary data") {
    import spark.implicits._
    val rows = (1 to 500).map { i =>
      val x = math.sin(i * 0.7) + 1.5
      ("k", ts(i), Array(1.0, x), 1.0 + 0.5 * x)
    }
    val df = rows.toDF("key", "t", "features", "label")
    val out = new LeastMeanSquaresFilter(2)
      .setStateKeyCol("key").setEventTimeCol("t")
      .setFeaturesCol("features").setLabelCol("label")
      .setLearningRate(0.8).setRegularization(0.1)
      .transform(df)
    val last = out.orderBy(desc("stateIndex")).select("stateMean").as[Array[Double]].head()
    assert(math.abs(last(0) - 1.0) < 0.05, last.mkString(","))
    assert(math.abs(last(1) - 0.5) < 0.05, last.mkString(","))
  }

  test("LKF streaming path produces the same estimates as batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext

    val zs = Seq(1.0, 2.0, 1.5, 3.0, 2.5)
    val data = zs.zipWithIndex.map { case (z, i) => ("a", ts(i), Array(z)) }

    def filter = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setMeasurementNoise(DMat.of(1, 1, 4.0))

    val batch = filter.transform(data.toDF("key", "t", "meas"))
      .select(col("stateIndex"), col("stateMean")(0)).as[(Long, Double)].collect().sortBy(_._1)

    val stream = MemoryStream[(String, Timestamp, Array[Double])]
    val sq = filter.transform(stream.toDS().toDF("key", "t", "meas"))
      .writeStream.format("memory").queryName("lkf_stream_test").outputMode("append").start()
    // two micro-batches to exercise state persistence across batches
    stream.addData(data.take(2))
    sq.processAllAvailable()
    stream.addData(data.drop(2))
    sq.processAllAvailable()
    val streamed = spark.table("lkf_stream_test")
      .select(col("stateIndex"), col("stateMean")(0)).as[(Long, Double)].collect().sortBy(_._1)
    sq.stop()

    assert(streamed.length == batch.length)
    batch.zip(streamed).foreach { case ((bi, bm), (si, sm)) =>
      assert(bi == si)
      assert(math.abs(bm - sm) < 1e-12)
    }
  }

  test("per-row matrix structs resolve by field name, and a null struct falls back to the default") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = for (k <- Seq("a", "b"); i <- 0 until 30)
      yield (k, ts(i), Array(rnd.nextDouble() * 4), rnd.nextDouble() * 2, i)
    val df = rows.toDF("key", "t", "meas", "x", "i")
    val values = array(lit(1.0), col("x")).as("values")
    // every 5th row has no per-row H and takes the filter's constant model
    def perRow(h: org.apache.spark.sql.Column) = when(col("i") % 5 =!= 0, h)
    val canonical = df.withColumn("h", perRow(struct(lit(1).as("numRows"), lit(2).as("numCols"), values)))
    val reordered = df.withColumn("h", perRow(struct(lit(2).as("numCols"), lit(1).as("numRows"), values)))
    def run(in: DataFrame) = new LinearKalmanFilter(2, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setMeasurementModelCol("h").setMeasurementModel(DMat.of(1, 2, 1.0, 0.0))
      .setInitialStateCovariance(DMat.of(2, 2, 10.0, 0.0, 0.0, 10.0))
      .setProcessNoise(DMat.of(2, 2, 0.01, 0.0, 0.0, 0.01))
      .setMeasurementNoise(DMat.of(1, 1, 1.0))
      .setOutputSystemMatrices()
      .transform(in)
      .orderBy("key", "stateIndex")
      .select(col("stateMean"), col("stateCovariance.values"),
        col("measurementModel.numRows"), col("measurementModel.numCols"))
      .as[(Seq[Double], Seq[Double], Int, Int)].collect().toSeq
    // the filter's math reads H by the configured sizes; the echoed
    // measurementModel shows the dimensions the struct resolved to
    def raw(r: Seq[(Seq[Double], Seq[Double], Int, Int)]) =
      r.map { case (m, c, rows, cols) => ((m ++ c).map(java.lang.Double.doubleToRawLongBits), rows, cols) }
    val want = run(canonical)
    assert(want.size == 60 && want.forall(r => r._3 == 1 && r._4 == 2))
    assert(raw(run(reordered)) == raw(want))
    // the null-H rows really took the constant model: a per-row H of
    // (1, 0) everywhere gives the same estimates
    val constH = df.withColumn("h", perRow(struct(lit(1).as("numRows"), lit(2).as("numCols"),
      array(lit(1.0), lit(0.0)).as("values"))))
    val noH = run(df.withColumn("h", lit(null).cast("struct<numRows:int,numCols:int,values:array<double>>")))
    assert(raw(run(constH)) == raw(noH))
    // a struct missing a field fails at analysis, not with swapped dims
    intercept[org.apache.spark.sql.AnalysisException] {
      run(df.withColumn("h", struct(lit(2).as("numCols"), values)))
    }
  }
}
