package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.{LinearKalmanFilter, RecursiveLeastSquaresFilter, SparkTestSession}
import graft.linalg.DMat
import graft.mixture.MultivariateGaussianMixture

/** Batch ≡ streaming for stateful operators beyond the LKF (covered in
  * FilterSpec): RLS, the windowed MMAE bank and the online gaussian mixture,
  * across micro-batch boundaries. */
class StreamingParitySpec extends AnyFunSuite with SparkTestSession {

  private def ts(i: Int): Timestamp = new Timestamp(1700000000000L + i * 60000L)

  test("RLS streaming equals batch across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = (1 to 30).map(i => ("k", ts(i), Array(1.0, i.toDouble), 1.0 + 2.0 * i))

    def rls = new RecursiveLeastSquaresFilter(2)
      .setStateKeyCol("key").setEventTimeCol("t")
      .setFeaturesCol("features").setLabelCol("label")
      .setForgettingFactor(0.95)

    val batch = rls.transform(data.toDF("key", "t", "features", "label"))
      .select(col("stateIndex"), col("stateMean")(0), col("stateMean")(1))
      .as[(Long, Double, Double)].collect().sortBy(_._1)

    val stream = MemoryStream[(String, Timestamp, Array[Double], Double)]
    val sq = rls.transform(stream.toDS().toDF("key", "t", "features", "label"))
      .writeStream.format("memory").queryName("rls_parity").outputMode("append").start()
    stream.addData(data.take(11))
    sq.processAllAvailable()
    stream.addData(data.drop(11))
    sq.processAllAvailable()
    val streamed = spark.table("rls_parity")
      .select(col("stateIndex"), col("stateMean")(0), col("stateMean")(1))
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    sq.stop()

    assert(batch.length == streamed.length)
    batch.zip(streamed).foreach { case ((i1, a1, b1), (i2, a2, b2)) =>
      assert(i1 == i2); assert(a1 == a2, s"idx $i1"); assert(b1 == b2)
    }
  }

  test("windowed MMAE streaming equals batch across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(7)
    // 3-filter bank over one measurement stream (bankKey = bank member id)
    val data = for (i <- 1 to 24; fid <- 0 to 2) yield
      (s"m_$fid", ts(i), Array(0.5 * i + rng.nextGaussian()), 1.0 + fid * 4.0)

    def mmae = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("bankKey").setEventTimeCol("t")
      .setMeasurementCol("meas")
      .setMeasurementNoiseCol("rmat")
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setSlidingLikelihoodWindow(5)
      .setEnableMultipleModelAdaptiveEstimation()
      .setWatermarkDuration("10 minutes")
      .setMultipleModelMeasurementWindowDuration("5 minutes")

    def withCols(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("rmat", expr("struct(1 as numRows, 1 as numCols, array(r) as values)"))
      .drop("r")

    val batchIn = withCols(data.toDF("bankKey", "t", "meas", "r"))
    val batch = mmae.transform(batchIn)
      .select(col("stateIndex"), round(col("stateMean")(0), 9).as("m"))
      .as[(Long, Double)].collect().sortBy(_._1)

    val stream = MemoryStream[(String, Timestamp, Array[Double], Double)]
    val sq = mmae.transform(withCols(stream.toDS().toDF("bankKey", "t", "meas", "r")))
      .select(col("stateIndex"), round(col("stateMean")(0), 9).as("m"))
      .writeStream.format("memory").queryName("mmae_parity").outputMode("append").start()
    stream.addData(data.take(30))
    sq.processAllAvailable()
    stream.addData(data.drop(30))
    sq.processAllAvailable()
    // advance the watermark far enough to flush every window
    stream.addData(Seq(("m_0", ts(1000), Array(0.0), 1.0)))
    sq.processAllAvailable()
    val streamed = spark.table("mmae_parity")
      .where(col("stateIndex") <= 24) // drop the watermark-advancing tick
      .select(col("stateIndex"), col("m"))
      .as[(Long, Double)].collect().sortBy(_._1)
    sq.stop()

    assert(batch.length == streamed.length, s"${batch.length} vs ${streamed.length}")
    batch.zip(streamed).foreach { case ((i1, m1), (i2, m2)) =>
      assert(i1 == i2); assert(m1 == m2, s"stateIndex $i1: $m1 vs $m2")
    }
  }

  test("gaussian mixture streaming equals batch across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(11)
    val data = (1 to 120).map { i =>
      val z = if (i % 2 == 0) 3.0 + rng.nextGaussian() else 20.0 + rng.nextGaussian()
      ("k", ts(i), Array(z))
    }

    def gmm = new MultivariateGaussianMixture(2, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("sample")
      .setStepSize(0.1).setMinibatchSize(10)
      .setInitialMeans(Array(Array(0.0), Array(10.0)))
      .setInitialCovariances(Array(Array(10.0), Array(10.0)))

    val batch = gmm.transform(data.toDF("key", "t", "sample"))
      .select(col("stateIndex"), col("params")(0)(0), col("params")(1)(0))
      .as[(Long, Double, Double)].collect().sortBy(_._1)

    val stream = MemoryStream[(String, Timestamp, Array[Double])]
    val sq = gmm.transform(stream.toDS().toDF("key", "t", "sample"))
      .writeStream.format("memory").queryName("gmm_parity").outputMode("append").start()
    // boundary NOT aligned to minibatch size: state must carry the buffer
    stream.addData(data.take(37))
    sq.processAllAvailable()
    stream.addData(data.drop(37))
    sq.processAllAvailable()
    val streamed = spark.table("gmm_parity")
      .select(col("stateIndex"), col("params")(0)(0), col("params")(1)(0))
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    sq.stop()

    assert(batch.length == streamed.length, s"${batch.length} vs ${streamed.length}")
    batch.zip(streamed).foreach { case ((i1, a1, b1), (i2, a2, b2)) =>
      assert(i1 == i2); assert(a1 == a2, s"idx $i1: $a1 vs $a2"); assert(b1 == b2)
    }
  }

  test("LKF streaming folds rows of one millisecond in microsecond order, as batch does") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // +100 µs and +900 µs past the same millisecond, sent latest first
    def at(micros: Int): Timestamp = {
      val t = new Timestamp(1700000000000L); t.setNanos(micros * 1000); t
    }
    val data = Seq(("k", at(900), Array(5.0)), ("k", at(100), Array(1.0)))

    def lkf = new LinearKalmanFilter(1, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 1.0))
      .setMeasurementNoise(DMat.of(1, 1, 1.0))
    def states(df: org.apache.spark.sql.DataFrame) = df
      .select(col("stateIndex"), col("t"), col("stateMean"), col("stateCovariance.values"))
      .as[(Long, Timestamp, Array[Double], Array[Double])].collect().sortBy(_._1)
      .map { case (i, t, m, c) =>
        (i, t, (m ++ c).map(java.lang.Double.doubleToRawLongBits).toSeq)
      }.toSeq

    val batch = states(lkf.transform(data.toDF("key", "t", "meas")))

    val stream = MemoryStream[(String, Timestamp, Array[Double])]
    val sq = lkf.transform(stream.toDS().toDF("key", "t", "meas"))
      .writeStream.format("memory").queryName("lkf_micros_parity").outputMode("append").start()
    stream.addData(data)
    sq.processAllAvailable()
    val streamed = states(spark.table("lkf_micros_parity"))
    sq.stop()

    assert(batch.map(_._2) == Seq(at(100), at(900)))
    assert(streamed == batch)
  }

  private def lkf = new LinearKalmanFilter(1, 1)
    .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
    .setInitialStateCovariance(DMat.of(1, 1, 10.0))
    .setProcessNoise(DMat.of(1, 1, 1.0))
    .setMeasurementNoise(DMat.of(1, 1, 1.0))

  /** The fields of a filter's output [[rawStates]] reads; a stream selects
    * them in the query, so the optimizer prunes the covariance struct. */
  private def stateFields(df: org.apache.spark.sql.DataFrame) =
    df.select(col("key"), col("stateIndex"), col("stateMean"), col("stateCovariance.values").as("cov"))

  /** (key, stateIndex) -> raw bits of the state mean and covariance, of
    * [[stateFields]] rows. */
  private def rawStates(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Seq[Long]] = {
    import spark.implicits._
    df.as[(String, Long, Array[Double], Array[Double])].collect()
      .map { case (k, i, m, c) => (k, i) -> (m ++ c).map(java.lang.Double.doubleToRawLongBits).toSeq }
      .toMap
  }

  test("tied (key, time) rows fold in batch order within a micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tied = Seq(("k", ts(1), Array(1.0)), ("k", ts(1), Array(7.0)))
    val batch = rawStates(stateFields(lkf.transform(tied.toDF("key", "t", "meas"))))
    // the row batch folds first is the one whose state alone is batch's first state
    val firstAlone = rawStates(stateFields(lkf.transform(tied.take(1).toDF("key", "t", "meas"))))
    val batchOrder = if (firstAlone(("k", 1L)) == batch(("k", 1L))) tied else tied.reverse
    // the two rows alone give different states, so the fold order shows
    assert(rawStates(stateFields(lkf.transform(tied.drop(1).toDF("key", "t", "meas")))) != firstAlone)

    val stream = MemoryStream[(String, Timestamp, Array[Double])]
    val sq = stateFields(lkf.transform(stream.toDS().toDF("key", "t", "meas")))
      .writeStream.format("memory").queryName("lkf_tied_parity").outputMode("append").start()
    stream.addData(batchOrder.reverse)
    sq.processAllAvailable()
    val streamed = rawStates(spark.table("lkf_tied_parity"))
    sq.stop()
    assert(streamed == batch)
  }

  test("streamed LKF state reads back from the checkpoint with the state data source") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(5)
    val data = for (i <- 1 to 8; k <- Seq("a", "b", "c")) yield (k, ts(i), Array(rng.nextGaussian() * 3))
    val ckpt = java.nio.file.Files.createTempDirectory("lkf-state").toString
    val stream = MemoryStream[(String, Timestamp, Array[Double])]
    val sq = stateFields(lkf.transform(stream.toDS().toDF("key", "t", "meas")))
      .writeStream.format("memory").queryName("lkf_state_readback").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    stream.addData(data.take(10))
    sq.processAllAvailable()
    stream.addData(data.drop(10))
    sq.processAllAvailable()
    sq.stop()
    val out = rawStates(spark.table("lkf_state_readback"))
    val last = out.groupBy(_._1._1).map { case (k, s) => k -> s.maxBy(_._1._2)._2 }

    val state = spark.read.format("statestore").load(ckpt)
    val stored = state
      .select(col("key.stateKey"), col("value.groupState.mean"), col("value.groupState.cov"))
      .as[(String, Array[Double], Array[Double])].collect()
      .map { case (k, m, c) => k -> (m ++ c).map(java.lang.Double.doubleToRawLongBits).toSeq }.toMap
    assert(stored.keySet == Set("a", "b", "c"))
    assert(stored == last)
  }
}
