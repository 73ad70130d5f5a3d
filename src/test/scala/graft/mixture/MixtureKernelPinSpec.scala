package graft.mixture

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession

/**
 * Bit-exactness pins for the mixture InternalRow kernels, online and
 * batch EM: `transform` (kernel) must be BITWISE identical to
 * `transformEncoderBatch` (the encoder engine, kept as the reference) —
 * raw IEEE bits, not tolerances. Covers all three families, minibatching,
 * decay, holdout, per-key warm start, batch EM's end-of-key model, and
 * duplicate-(key, time) tie order (same projection → same __rowSeq hash
 * domain on both paths).
 */
class MixtureKernelPinSpec extends AnyFunSuite with SparkTestSession {

  private def ts(i: Int): Timestamp = new Timestamp(1700000000000L + i * 60000L)

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

  private def assertBitIdentical(kernel: DataFrame, encoder: DataFrame): Unit = {
    assert(kernel.schema == encoder.schema,
      s"schema drift:\n${kernel.schema.treeString}\nvs\n${encoder.schema.treeString}")
    val s = Seq("key", "stateIndex").map(col)
    val k = kernel.orderBy(s: _*).collect()
    val e = encoder.orderBy(s: _*).collect()
    assert(k.length == e.length, s"row count ${k.length} vs ${e.length}")
    k.zip(e).zipWithIndex.foreach { case ((kr, er), i) =>
      assert(bitEqual(kr, er), s"row $i differs:\n kernel: $kr\n encoder: $er")
    }
  }

  test("GMM kernel == encoder: minibatch 4, holdout 1, duplicate (key,time) rows") {
    val rnd = new scala.util.Random(21)
    // three rows per timestamp: fold order is the __rowSeq permutation,
    // identical across paths because the projection is shared; the null
    // key is a key run of its own
    val rows = for (k <- Seq("a", "b", null); i <- 0 until 30; _ <- 0 until 3)
      yield (k, ts(i), Array(rnd.nextDouble() * 4 - 2, rnd.nextDouble() * 4 - 2))
    val df = spark.createDataFrame(rows).toDF("key", "t", "sample")
    def build() = new MultivariateGaussianMixture(2, 2)
      .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("sample")
      .setStepSize(0.08).setMinibatchSize(4)
      .setInitialMeans(Array(Array(-1.0, -1.0), Array(1.0, 1.0)))
      .setInitialCovariances(Array(
        graft.linalg.Dense.eye(2), graft.linalg.Dense.eye(2)))
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df))
  }

  test("GMM kernel == encoder: decayRate schedule and updateHoldout 3") {
    val rnd = new scala.util.Random(22)
    val rows = for (k <- Seq("a", "b", "c"); i <- 0 until 60)
      yield (k, ts(i), Array(rnd.nextDouble() * 6))
    val df = spark.createDataFrame(rows).toDF("key", "t", "sample")
    def build() = new MultivariateGaussianMixture(2, 1)
      .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("sample")
      .setDecayRate(0.6).setMinibatchSize(5).setUpdateHoldout(3)
      .setInitialMeans(Array(Array(1.0), Array(5.0)))
      .setInitialCovariances(Array(Array(4.0), Array(4.0)))
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df))
  }

  test("Poisson kernel == encoder, with per-key warm start") {
    val rnd = new scala.util.Random(23)
    val rows = for (k <- Seq("a", "b"); i <- 0 until 40)
      yield (k, ts(i), rnd.nextInt(12).toDouble,
        Array(1.0 + (if (k == "a") 0.5 else 2.0), 6.0))
    val df = spark.createDataFrame(rows).toDF("key", "t", "k0", "rates")
    def build() = new PoissonMixture(2)
      .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("k0")
      .setStepSize(0.1).setMinibatchSize(3)
      .setInitialRatesCol("rates")
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df))
  }

  test("Bernoulli kernel == encoder") {
    val rnd = new scala.util.Random(24)
    val rows = for (k <- Seq("a", "b"); i <- 0 until 50)
      yield (k, ts(i), if (rnd.nextBoolean()) 1.0 else 0.0)
    val df = spark.createDataFrame(rows).toDF("key", "t", "x")
    def build() = new BernoulliMixture(2)
      .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("x")
      .setStepSize(0.05).setMinibatchSize(4)
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df))
  }

  test("batch EM kernel == encoder: null-key group and duplicate (key,time) rows") {
    val rnd = new scala.util.Random(25)
    // two rows per timestamp: batch EM sums each key's samples in fold
    // order, so both paths must fold tied rows alike for the bits to match
    val rows = for (k <- Seq("a", "b", null); i <- 0 until 40; _ <- 0 until 2)
      yield (k, ts(i), Array(rnd.nextGaussian() + (if (i % 2 == 0) -2.0 else 2.0), rnd.nextGaussian()))
    val df = spark.createDataFrame(rows).toDF("key", "t", "sample")
    def build() = new MultivariateGaussianMixture(2, 2)
      .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("sample")
      .setInitialMeans(Array(Array(-1.0, 0.0), Array(1.0, 0.0)))
      .setEnableBatchTrain().setBatchTrainMaxIter(20).setBatchTrainTol(1e-6)
    val kernel = build().transform(df)
    assert(kernel.count() == 3, "one model per key, the null key's included")
    assertBitIdentical(kernel, build().transformEncoderBatch(df))
  }

  test("batch EM kernel == encoder: Poisson with per-key warm start") {
    val rnd = new scala.util.Random(26)
    val rows = for (k <- Seq("a", "b"); i <- 0 until 50)
      yield (k, ts(i), (rnd.nextInt(4) + (if (i % 3 == 0) 8 else 0)).toDouble,
        Array(1.0 + (if (k == "a") 0.5 else 2.0), 7.0))
    val df = spark.createDataFrame(rows).toDF("key", "t", "k0", "rates")
    def build() = new PoissonMixture(2)
      .setStateKeyCol("key").setEventTimeCol("t").setSampleCol("k0")
      .setInitialRatesCol("rates").setEnableBatchTrain()
    assertBitIdentical(build().transform(df), build().transformEncoderBatch(df))
  }
}
