package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.filter.{ExtendedKalmanFilter, KalmanFilterBase, KalmanRowKernel, LeastMeanSquaresFilter,
  LinearKalmanCompute, LinearKalmanFilter, LmsRowKernel, RecursiveLeastSquaresFilter, RlsRowKernel,
  UnscentedKalmanFilter}
import graft.linalg.DMat
import graft.mixture.{MixtureRowKernel, MultivariateGaussianMixture}
import graft.smoother.{LinearKalmanSmoother, RtsBackwardRowKernel, RtsForwardRowKernel}

/**
 * The stateful families the benchmark drives, configured once. Every op
 * reads the generated columns key, t, z, x, y, z2, s0, s1 and offers
 *  - `run`: the public `transform` (the InternalRow kernel path in batch,
 *    the state-store path in streaming);
 *  - `reference`: the encoder engine kept as the bitwise reference;
 *  - `kernel`: the family's `*RowKernel.run` with the input projection it
 *    folds, for timing the kernel alone over sorted rows.
 * `dupInput` marks the ops fed rows with duplicate (key, time): only
 * families whose kernel and reference hash the same projection fold tied
 * rows in the same order.
 */
final case class FoldOp(
    name: String,
    family: String,
    dupInput: Boolean,
    run: DataFrame => DataFrame,
    reference: DataFrame => DataFrame,
    kernel: Kernel)

/** A row kernel with the projection and sort order of the rows it folds. */
final case class Kernel(project: DataFrame => DataFrame, order: Seq[Column],
    run: Iterator[InternalRow] => Iterator[InternalRow])

/**
 * The batch row kernels of a Kalman-family filter, built from the filter's
 * own params exactly as its `transform` (and, for the smoother, `smooth`)
 * builds them, so the timed kernel is the one the transform runs.
 */
trait RowKernels[I <: KalmanFilterBase[I]] extends KalmanFilterBase[I] { self: I =>
  private def hasIM = initialStateDistributionCol.isDefined || initialStateMeanCol.isDefined
  private def hasIC = initialStateDistributionCol.isDefined || initialStateCovarianceCol.isDefined

  def kernel: Kernel = Kernel(kalmanProjection, Families.byKeyTime,
    new KalmanRowKernel(compute, defaults, storeResidual, slidingLikelihoodWindow, multiStepPredict,
      calcLoglikelihood, calcMahalanobis, calcSlidingLikelihood, outputSystemMatrices,
      hasMM = measurementModelCol.isDefined, hasMN = measurementNoiseCol.isDefined,
      hasPM = processModelCol.isDefined, hasPN = processNoiseCol.isDefined,
      hasCtl = controlCol.isDefined, hasCtlFn = controlFunctionCol.isDefined,
      hasIM = hasIM, hasIC = hasIC).run)

  /** Forward then backward RTS pass over one key-sorted partition, as `smooth` runs them. */
  def smootherKernel: Kernel = {
    val fwd = new RtsForwardRowKernel(new LinearKalmanCompute(stateSize, measurementSize, 1.0), defaults,
      hasMM = measurementModelCol.isDefined, hasMN = measurementNoiseCol.isDefined,
      hasPM = processModelCol.isDefined, hasPN = processNoiseCol.isDefined,
      hasCtl = controlCol.isDefined, hasCtlFn = controlFunctionCol.isDefined,
      hasIM = hasIM, hasIC = hasIC)
    val bwd = new RtsBackwardRowKernel(stateSize)
    Kernel(kalmanProjection, Families.byKeyTime, rows => {
      // forward rows come out grouped by key in stateIndex order; the
      // backward pass wants each key's run reversed
      val f = fwd.run(rows).map(_.copy()).toArray
      val rev = new Array[InternalRow](f.length)
      var i = 0
      while (i < f.length) {
        var j = i
        while (j < f.length && f(j).getUTF8String(0) == f(i).getUTF8String(0)) j += 1
        var k = 0
        while (k < j - i) { rev(i + k) = f(j - 1 - k); k += 1 }
        i = j
      }
      bwd.run(rev.iterator)
    })
  }
}

object Families {
  private def mat(rows: Int, cols: Int, values: Column*): Column =
    struct(lit(rows).as("numRows"), lit(cols).as("numCols"), array(values: _*).as("values"))

  private val nullVec = lit(null).cast("array<double>")

  val byKeyTime: Seq[Column] = Seq(col("stateKey"), col("eventTime"))

  private def h2 = mat(1, 2, lit(1.0), col("x"))
  private val square = (st: Array[Double], h: DMat) => {
    val u = st(0) + st(1) * h.values(1); Array(u * u)
  }

  final class Lkf1 extends LinearKalmanFilter(1, 1) with RowKernels[LinearKalmanFilter] {
    setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setInitialStateMean(Array(0.0)).setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 0.05)).setMeasurementNoise(DMat.of(1, 1, 1.0))
      .setCalculateLoglikelihood()
  }

  final class Lkf2 extends LinearKalmanFilter(2, 1) with RowKernels[LinearKalmanFilter] {
    setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
      .setMeasurementModelCol("hmat").setAssumeUniqueEventTimes()
      .setInitialStateMean(Array(0.0, 0.0)).setInitialStateCovariance(DMat.of(2, 2, 100.0, 0.0, 0.0, 100.0))
      .setProcessNoise(DMat.of(2, 2, 1e-4, 0.0, 0.0, 1e-4)).setMeasurementNoise(DMat.of(1, 1, 0.1))
  }

  final class Ekf extends ExtendedKalmanFilter(2, 1) with RowKernels[ExtendedKalmanFilter] {
    setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas2").setMeasurementModelCol("hmat")
      .setMeasurementFunction(square)
      .setMeasurementStateJacobian((st, h) => {
        val u = st(0) + st(1) * h.values(1); DMat(1, 2, Array(2.0 * u, 2.0 * u * h.values(1)))
      })
      .setInitialStateMean(Array(1.0, 0.1)).setInitialStateCovariance(DMat.of(2, 2, 5.0, 0.0, 0.0, 5.0))
      .setProcessNoise(DMat.of(2, 2, 0.01, 0.0, 0.0, 0.01)).setMeasurementNoise(DMat.of(1, 1, 8.0))
      .setCalculateMahalanobis()
  }

  final class Ukf extends UnscentedKalmanFilter(2, 1) with RowKernels[UnscentedKalmanFilter] {
    setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas2").setMeasurementModelCol("hmat")
      .setAssumeUniqueEventTimes().setMeasurementFunction(square)
      .setSigmaPoints("merwe").setMerweAlpha(0.6).setMerweBeta(2.0).setMerweKappa(0.5)
      .setInitialStateMean(Array(1.0, 0.1)).setInitialStateCovariance(DMat.of(2, 2, 5.0, 0.0, 0.0, 5.0))
      .setProcessNoise(DMat.of(2, 2, 0.01, 0.0, 0.0, 0.01)).setMeasurementNoise(DMat.of(1, 1, 8.0))
  }

  final class Rts extends LinearKalmanSmoother(1, 1) with RowKernels[LinearKalmanFilter] {
    setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas").setAssumeUniqueEventTimes()
      .setInitialStateMean(Array(0.0)).setInitialStateCovariance(DMat.of(1, 1, 10.0))
      .setProcessNoise(DMat.of(1, 1, 0.05)).setMeasurementNoise(DMat.of(1, 1, 1.0))
  }

  private val rlsInit = DMat.of(2, 2, 10.0, 0.0, 0.0, 10.0)
  private val rlsForget = 0.99
  private val lmsRate = 0.05
  private def features = array(lit(1.0), col("x"))
  private def lean(df: DataFrame) = df.select(col("key").as("stateKey"), col("t").as("eventTime"),
    col("y").as("label"), features.as("features"))

  private def rls = new RecursiveLeastSquaresFilter(2).setStateKeyCol("key").setEventTimeCol("t")
    .setLabelCol("y").setFeaturesCol("f").setForgettingFactor(rlsForget)
    .setRegularizationMatrix(rlsInit).setAssumeUniqueEventTimes()
  private def lms = new LeastMeanSquaresFilter(2).setStateKeyCol("key").setEventTimeCol("t")
    .setLabelCol("y").setFeaturesCol("f").setLearningRate(lmsRate).setAssumeUniqueEventTimes()

  private val gmmMeans = Array(Array(0.0, -2.0), Array(3.0, 0.0), Array(6.0, 2.0))
  final class Gmm extends MultivariateGaussianMixture(3, 2) {
    setStateKeyCol("key").setEventTimeCol("t").setSampleCol("sample")
      .setInitialMeans(gmmMeans).setStepSize(0.05).setMinibatchSize(4)
    def kernel: Kernel = Kernel(df => df.select(col("key").as("stateKey"), col("t").as("eventTime"),
      array(col("s0"), col("s1")).as("sample"), lit(stepSize).as("stepSize"), lit(decayRate).as("decayRate"),
      lit(minibatchSize).as("minibatchSize"), lit(updateHoldout).as("updateHoldout"),
      nullVec.as("initialWeights"), lit(null).cast("array<array<double>>").as("initialParams")),
      byKeyTime, new MixtureRowKernel(family, mixtureCount, initialWeights, initialParams).run)
  }

  /** Adds the derived input columns every op reads. */
  def prepare(df: DataFrame): DataFrame = df
    .withColumn("meas", array(col("z"))).withColumn("meas2", array(col("z2")))
    .withColumn("hmat", h2).withColumn("f", features).withColumn("sample", array(col("s0"), col("s1")))

  /** The fold families, in the order a pass runs them. */
  val all: Seq[FoldOp] = Seq(
    FoldOp("lkf_local_level", "lkf", dupInput = true,
      new Lkf1().transform, new Lkf1().transformEncoderBatch, new Lkf1().kernel),
    FoldOp("lkf_2state_hrow", "lkf", dupInput = false,
      new Lkf2().transform, new Lkf2().transformEncoderBatch, new Lkf2().kernel),
    FoldOp("ekf", "ekf", dupInput = true,
      new Ekf().transform, new Ekf().transformEncoderBatch, new Ekf().kernel),
    FoldOp("ukf", "ukf", dupInput = false,
      new Ukf().transform, new Ukf().transformEncoderBatch, new Ukf().kernel),
    FoldOp("rls", "rls", dupInput = false, rls.transform, rls.transformEncoderBatch,
      Kernel(lean, byKeyTime, new RlsRowKernel(rlsForget, 2, Array(0.0, 0.0), rlsInit, false, false).run)),
    FoldOp("lms", "lms", dupInput = false, lms.transform, lms.transformEncoderBatch,
      Kernel(lean, byKeyTime, new LmsRowKernel(lmsRate, 1.0, Array(0.0, 0.0), false).run)),
    FoldOp("rts", "smoother", dupInput = false,
      new Rts().transform, new Rts().smoothEncoderBatch, new Rts().smootherKernel),
    FoldOp("gmm", "mixture", dupInput = true,
      new Gmm().transform, new Gmm().transformEncoderBatch, new Gmm().kernel))
}
