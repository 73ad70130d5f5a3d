package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.linalg.{Matrix, Vector}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types._

import graft.filter.{KalmanFilterBase => CoreBase}
import graft.linalg.DMat
import MLConv._

/**
 * ML-Params surface of the Kalman family. Mirrors the reference's param set
 * (/root/reference/src/main/scala/com/github/ozancicek/artan/ml/filter/KalmanBase.scala:37)
 * on MLlib linalg types so every param JSON-persists through
 * DefaultParamsWritable (Vector/Matrix encode natively; function params —
 * like the reference's — cannot persist and fail save() loudly when set).
 */
private[ml] trait KalmanMLParams extends StatefulEngineParams {

  final val stateSize: IntParam = new IntParam(this, "stateSize",
    "dimension of the state vector", ParamValidators.gt(0))
  final def getStateSize: Int = $(stateSize)
  def setStateSize(value: Int): this.type = set(stateSize, value)

  final val measurementSize: IntParam = new IntParam(this, "measurementSize",
    "dimension of the measurement vector", ParamValidators.gt(0))
  final def getMeasurementSize: Int = $(measurementSize)
  def setMeasurementSize(value: Int): this.type = set(measurementSize, value)

  final val measurementCol: Param[String] = new Param[String](this, "measurementCol",
    "column with the measurement vector (array<double> or vector)")
  def setMeasurementCol(value: String): this.type = set(measurementCol, value)

  final val initialStateMean: Param[Vector] = new Param[Vector](this, "initialStateMean",
    "initial state mean; default zeros")
  def setInitialStateMean(value: Vector): this.type = set(initialStateMean, value)

  final val initialStateCovariance: Param[Matrix] = new Param[Matrix](this, "initialStateCovariance",
    "initial state covariance; default identity")
  def setInitialStateCovariance(value: Matrix): this.type = set(initialStateCovariance, value)

  final val initialStateMeanCol: Param[String] = new Param[String](this, "initialStateMeanCol",
    "per-key initial state mean column")
  def setInitialStateMeanCol(value: String): this.type = set(initialStateMeanCol, value)

  final val initialStateCovarianceCol: Param[String] = new Param[String](this, "initialStateCovarianceCol",
    "per-key initial state covariance column")
  def setInitialStateCovarianceCol(value: String): this.type = set(initialStateCovarianceCol, value)

  final val initialStateDistributionCol: Param[String] = new Param[String](this, "initialStateDistributionCol",
    "single struct column carrying the initial state distribution (mean, covariance); " +
      "the mechanism behind batch-posterior -> streaming-prior warm starts")
  def setInitialStateDistributionCol(value: String): this.type = set(initialStateDistributionCol, value)

  final val processModel: Param[Matrix] = new Param[Matrix](this, "processModel",
    "state transition matrix F; default identity")
  def setProcessModel(value: Matrix): this.type = set(processModel, value)

  final val processNoise: Param[Matrix] = new Param[Matrix](this, "processNoise",
    "process noise covariance Q; default identity")
  def setProcessNoise(value: Matrix): this.type = set(processNoise, value)

  final val measurementModel: Param[Matrix] = new Param[Matrix](this, "measurementModel",
    "measurement projection H; default [I 0]")
  def setMeasurementModel(value: Matrix): this.type = set(measurementModel, value)

  final val measurementNoise: Param[Matrix] = new Param[Matrix](this, "measurementNoise",
    "measurement noise covariance R; default identity")
  def setMeasurementNoise(value: Matrix): this.type = set(measurementNoise, value)

  final val processModelCol: Param[String] = new Param[String](this, "processModelCol",
    "per-row process model column")
  def setProcessModelCol(value: String): this.type = set(processModelCol, value)

  final val processNoiseCol: Param[String] = new Param[String](this, "processNoiseCol",
    "per-row process noise column")
  def setProcessNoiseCol(value: String): this.type = set(processNoiseCol, value)

  final val measurementModelCol: Param[String] = new Param[String](this, "measurementModelCol",
    "per-row measurement model column")
  def setMeasurementModelCol(value: String): this.type = set(measurementModelCol, value)

  final val measurementNoiseCol: Param[String] = new Param[String](this, "measurementNoiseCol",
    "per-row measurement noise column")
  def setMeasurementNoiseCol(value: String): this.type = set(measurementNoiseCol, value)

  final val controlCol: Param[String] = new Param[String](this, "controlCol",
    "per-row control vector column")
  def setControlCol(value: String): this.type = set(controlCol, value)

  final val controlFunctionCol: Param[String] = new Param[String](this, "controlFunctionCol",
    "per-row control function (B matrix) column")
  def setControlFunctionCol(value: String): this.type = set(controlFunctionCol, value)

  final val fadingFactor: DoubleParam = new DoubleParam(this, "fadingFactor",
    "forgetting factor >= 1.0 weighting recent measurements", ParamValidators.gtEq(1.0))
  def setFadingFactor(value: Double): this.type = set(fadingFactor, value)

  final val multiStepPredict: IntParam = new IntParam(this, "multiStepPredict",
    "emit this many extra predict-only steps per measurement", ParamValidators.gtEq(0))
  def setMultiStepPredict(value: Int): this.type = set(multiStepPredict, value)

  final val calculateLoglikelihood: BooleanParam = new BooleanParam(this, "calculateLoglikelihood",
    "emit the residual gaussian loglikelihood per measurement")
  def setCalculateLoglikelihood(): this.type = set(calculateLoglikelihood, true)

  final val calculateMahalanobis: BooleanParam = new BooleanParam(this, "calculateMahalanobis",
    "emit the residual mahalanobis distance per measurement")
  def setCalculateMahalanobis(): this.type = set(calculateMahalanobis, true)

  final val calculateSlidingLikelihood: BooleanParam = new BooleanParam(this, "calculateSlidingLikelihood",
    "emit likelihood over a sliding window of recent measurements")
  def setCalculateSlidingLikelihood(): this.type = set(calculateSlidingLikelihood, true)

  final val slidingLikelihoodWindow: IntParam = new IntParam(this, "slidingLikelihoodWindow",
    "number of consecutive measurements in the sliding likelihood", ParamValidators.gt(0))
  def setSlidingLikelihoodWindow(value: Int): this.type = {
    set(calculateSlidingLikelihood, true)
    set(slidingLikelihoodWindow, value)
  }

  final val outputSystemMatrices: BooleanParam = new BooleanParam(this, "outputSystemMatrices",
    "emit the resolved H/F/Q/R system matrices per output row")
  def setOutputSystemMatrices(): this.type = set(outputSystemMatrices, true)

  final val multipleModelAdaptiveEstimation: BooleanParam = new BooleanParam(this,
    "multipleModelAdaptiveEstimation",
    "aggregate the filter bank into a single sliding-likelihood-weighted estimate (MMAE)")
  def setEnableMultipleModelAdaptiveEstimation(): this.type = {
    set(calculateSlidingLikelihood, true)
    set(multipleModelAdaptiveEstimation, true)
  }

  final val multipleModelMeasurementWindowDuration: Param[String] = new Param[String](this,
    "multipleModelMeasurementWindowDuration", "event-time window for the MMAE aggregation")
  def setMultipleModelMeasurementWindowDuration(value: String): this.type =
    set(multipleModelMeasurementWindowDuration, value)

  setDefault(measurementCol -> "measurement", fadingFactor -> 1.0, multiStepPredict -> 0,
    calculateLoglikelihood -> false, calculateMahalanobis -> false,
    calculateSlidingLikelihood -> false, slidingLikelihoodWindow -> 1,
    outputSystemMatrices -> false, multipleModelAdaptiveEstimation -> false)
}

/**
 * Base of the Kalman-family ML transformers: param plumbing into the
 * plain-Scala core builders, shared output schema, Pipeline/persistence
 * contract (uid + String-constructor + DefaultParamsWritable).
 */
abstract class KalmanTransformer[T <: KalmanTransformer[T]](override val uid: String)
  extends Transformer with KalmanMLParams with DefaultParamsWritable { self: T =>

  /** The configured plain-Scala core this transformer delegates to. */
  protected def core(): CoreBase[_]

  /** Push every set param into a core builder (any Kalman-family impl). */
  protected final def configure[B <: CoreBase[B]](b: B): B = {
    configureEngine(b)
    b.setMeasurementCol($(measurementCol))
    if (isSet(initialStateMean)) b.setInitialStateMean(toArr($(initialStateMean)))
    if (isSet(initialStateCovariance)) b.setInitialStateCovariance(toDMat($(initialStateCovariance)))
    if (isSet(initialStateMeanCol)) b.setInitialStateMeanCol($(initialStateMeanCol))
    if (isSet(initialStateCovarianceCol)) b.setInitialStateCovarianceCol($(initialStateCovarianceCol))
    if (isSet(initialStateDistributionCol)) b.setInitialStateDistributionCol($(initialStateDistributionCol))
    if (isSet(processModel)) b.setProcessModel(toDMat($(processModel)))
    if (isSet(processNoise)) b.setProcessNoise(toDMat($(processNoise)))
    if (isSet(measurementModel)) b.setMeasurementModel(toDMat($(measurementModel)))
    if (isSet(measurementNoise)) b.setMeasurementNoise(toDMat($(measurementNoise)))
    if (isSet(processModelCol)) b.setProcessModelCol($(processModelCol))
    if (isSet(processNoiseCol)) b.setProcessNoiseCol($(processNoiseCol))
    if (isSet(measurementModelCol)) b.setMeasurementModelCol($(measurementModelCol))
    if (isSet(measurementNoiseCol)) b.setMeasurementNoiseCol($(measurementNoiseCol))
    if (isSet(controlCol)) b.setControlCol($(controlCol))
    if (isSet(controlFunctionCol)) b.setControlFunctionCol($(controlFunctionCol))
    b.setFadingFactor($(fadingFactor))
    b.setMultiStepPredict($(multiStepPredict))
    if ($(calculateLoglikelihood)) b.setCalculateLoglikelihood()
    if ($(calculateMahalanobis)) b.setCalculateMahalanobis()
    if ($(calculateSlidingLikelihood)) b.setSlidingLikelihoodWindow($(slidingLikelihoodWindow))
    if ($(outputSystemMatrices)) b.setOutputSystemMatrices()
    if ($(multipleModelAdaptiveEstimation)) b.setEnableMultipleModelAdaptiveEstimation()
    if (isSet(multipleModelMeasurementWindowDuration))
      b.setMultipleModelMeasurementWindowDuration($(multipleModelMeasurementWindowDuration))
    b
  }

  override def transform(dataset: Dataset[_]): DataFrame = {
    require(isSet(stateSize) && isSet(measurementSize),
      s"$uid: stateSize and measurementSize must be set")
    // VectorAssembler & friends hand MLlib vectors; the core speaks arrays
    val prepared = MLConv.vectorColsToArrays(dataset.toDF(),
      Seq(Some($(measurementCol)), get(initialStateMeanCol), get(controlCol)).flatten)
    core().transform(prepared)
  }

  override def transformSchema(schema: StructType): StructType = MLConv.schemaOf(schema)(transform)

  override def copy(extra: ParamMap): T = defaultCopy(extra)
}

/** Linear Kalman filter as an ML Pipeline stage. */
class LinearKalmanFilter(override val uid: String)
    extends KalmanTransformer[LinearKalmanFilter](uid) {

  def this() = this(Identifiable.randomUID("linearKalmanFilter"))
  def this(stateSize: Int, measurementSize: Int) = {
    this()
    set(this.stateSize, stateSize)
    set(this.measurementSize, measurementSize)
  }

  protected def core(): CoreBase[_] =
    configure(new graft.filter.LinearKalmanFilter($(stateSize), $(measurementSize)))
}

object LinearKalmanFilter extends DefaultParamsReadable[LinearKalmanFilter]

/** Function-valued params shared by the nonlinear filters. Like the
  * reference's, these cannot JSON-persist: save() fails when they are set. */
private[ml] trait NonlinearFunctionParams extends Params {
  type StateFn = (Array[Double], DMat) => Array[Double]
  type JacFn = (Array[Double], DMat) => DMat

  final val processFunction: Param[StateFn] =
    new Param[StateFn](this, "processFunction", "state propagation function f(x, F)")
  def setProcessFunction(value: StateFn): this.type = set(processFunction, value)

  final val measurementFunction: Param[StateFn] =
    new Param[StateFn](this, "measurementFunction", "measurement function h(x, H)")
  def setMeasurementFunction(value: StateFn): this.type = set(measurementFunction, value)

  /**
   * NAMED measurement family — the py4j-crossable (and JSON-persistable)
   * alternative to the lambda param: `h(x) = g(H·x)` applied elementwise,
   * with `g` chosen by name and the per-row data riding in the measurement
   * model matrix H (`measurementModelCol`), exactly how the reference's GLM
   * examples structure their models (its Scala lambda API can never cross
   * py4j, so its python package simply has no EKF/UKF — a named family
   * closes that gap from the python side).
   *
   *  - "square": g(u) = u²   — e.g. tracking a latent level observed
   *    through a squared link (jacobian rows: 2·(Hx)_i · H_i).
   *  - "exp":    g(u) = e^u  — the GLM log link of the reference's
   *    EKF/UKFRateSourceGLMLog examples (jacobian rows: e^{(Hx)_i} · H_i).
   *
   * An explicitly set `measurementFunction`/jacobian wins over the family.
   */
  final val measurementFunctionFamily: Param[String] = new Param[String](this,
    "measurementFunctionFamily",
    "named measurement function family g in h(x) = g(H*x): square | exp",
    ParamValidators.inArray(Array("square", "exp")))
  def setMeasurementFunctionFamily(value: String): this.type =
    set(measurementFunctionFamily, value)
}

/** The named families' functions and exact jacobians over the resolved
  * per-row measurement model H. */
private[ml] object MeasurementFamilies {
  def fn(family: String): (Array[Double], DMat) => Array[Double] = family match {
    case "square" => (st, h) => h.multiply(st).map(u => u * u)
    case "exp"    => (st, h) => h.multiply(st).map(math.exp)
  }

  def jacobian(family: String): (Array[Double], DMat) => DMat = family match {
    case "square" => (st, h) => scaleRows(h, h.multiply(st).map(2.0 * _))
    case "exp"    => (st, h) => scaleRows(h, h.multiply(st).map(math.exp))
  }

  /** J_ij = s_i · H_ij — the chain rule for elementwise g(H·x). */
  private def scaleRows(h: DMat, s: Array[Double]): DMat = {
    val out = new Array[Double](h.values.length)
    var i = 0
    while (i < h.numRows) {
      var j = 0
      while (j < h.numCols) {
        out(i * h.numCols + j) = s(i) * h.values(i * h.numCols + j)
        j += 1
      }
      i += 1
    }
    DMat(h.numRows, h.numCols, out)
  }
}

/** Extended Kalman filter as an ML Pipeline stage. */
class ExtendedKalmanFilter(override val uid: String)
    extends KalmanTransformer[ExtendedKalmanFilter](uid) with NonlinearFunctionParams {

  def this() = this(Identifiable.randomUID("extendedKalmanFilter"))
  def this(stateSize: Int, measurementSize: Int) = {
    this()
    set(this.stateSize, stateSize)
    set(this.measurementSize, measurementSize)
  }

  final val processStateJacobian: Param[JacFn] =
    new Param[JacFn](this, "processStateJacobian", "jacobian of f wrt state")
  def setProcessStateJacobian(value: JacFn): this.type = set(processStateJacobian, value)

  final val processNoiseJacobian: Param[JacFn] =
    new Param[JacFn](this, "processNoiseJacobian", "jacobian projecting Q (non-additive noise)")
  def setProcessNoiseJacobian(value: JacFn): this.type = set(processNoiseJacobian, value)

  final val measurementStateJacobian: Param[JacFn] =
    new Param[JacFn](this, "measurementStateJacobian", "jacobian of h wrt state")
  def setMeasurementStateJacobian(value: JacFn): this.type = set(measurementStateJacobian, value)

  final val measurementNoiseJacobian: Param[JacFn] =
    new Param[JacFn](this, "measurementNoiseJacobian", "jacobian projecting R (non-additive noise)")
  def setMeasurementNoiseJacobian(value: JacFn): this.type = set(measurementNoiseJacobian, value)

  protected def core(): CoreBase[_] = {
    val f = new graft.filter.ExtendedKalmanFilter($(stateSize), $(measurementSize))
    get(processFunction).foreach(f.setProcessFunction)
    get(processStateJacobian).foreach(f.setProcessStateJacobian)
    get(processNoiseJacobian).foreach(f.setProcessNoiseJacobian)
    get(measurementFunction).foreach(f.setMeasurementFunction)
    get(measurementStateJacobian).foreach(f.setMeasurementStateJacobian)
    get(measurementNoiseJacobian).foreach(f.setMeasurementNoiseJacobian)
    // named family fills whatever the lambdas left unset (EKF needs the
    // exact jacobian too — the family supplies it analytically)
    get(measurementFunctionFamily).foreach { fam =>
      if (!isSet(measurementFunction)) f.setMeasurementFunction(MeasurementFamilies.fn(fam))
      if (!isSet(measurementStateJacobian))
        f.setMeasurementStateJacobian(MeasurementFamilies.jacobian(fam))
    }
    configure(f)
  }
}

object ExtendedKalmanFilter extends DefaultParamsReadable[ExtendedKalmanFilter]

/** Unscented Kalman filter as an ML Pipeline stage. */
class UnscentedKalmanFilter(override val uid: String)
    extends KalmanTransformer[UnscentedKalmanFilter](uid) with NonlinearFunctionParams {

  def this() = this(Identifiable.randomUID("unscentedKalmanFilter"))
  def this(stateSize: Int, measurementSize: Int) = {
    this()
    set(this.stateSize, stateSize)
    set(this.measurementSize, measurementSize)
  }

  final val sigmaPoints: Param[String] = new Param[String](this, "sigmaPoints",
    "sigma point algorithm: merwe or julier", ParamValidators.inArray(Array("merwe", "julier")))
  def setSigmaPoints(value: String): this.type = set(sigmaPoints, value)

  final val merweAlpha: DoubleParam = new DoubleParam(this, "merweAlpha", "merwe alpha")
  def setMerweAlpha(value: Double): this.type = set(merweAlpha, value)

  final val merweBeta: DoubleParam = new DoubleParam(this, "merweBeta", "merwe beta")
  def setMerweBeta(value: Double): this.type = set(merweBeta, value)

  final val merweKappa: DoubleParam = new DoubleParam(this, "merweKappa", "merwe kappa")
  def setMerweKappa(value: Double): this.type = set(merweKappa, value)

  final val julierKappa: DoubleParam = new DoubleParam(this, "julierKappa", "julier kappa")
  def setJulierKappa(value: Double): this.type = set(julierKappa, value)

  final val adaptiveProcessNoise: BooleanParam = new BooleanParam(this, "adaptiveProcessNoise",
    "enable RAUKF adaptive process noise (B. Zheng 2018)")
  def setEnableAdaptiveProcessNoise(): this.type = set(adaptiveProcessNoise, true)

  final val adaptiveProcessNoiseThreshold: DoubleParam = new DoubleParam(this,
    "adaptiveProcessNoiseThreshold",
    "squared-mahalanobis residual threshold activating noise adaptation", ParamValidators.gt(0.0))
  def setAdaptiveProcessNoiseThreshold(value: Double): this.type =
    set(adaptiveProcessNoiseThreshold, value)

  final val adaptiveProcessNoiseLambda: DoubleParam = new DoubleParam(this,
    "adaptiveProcessNoiseLambda",
    "stability weight floor for noise updates", ParamValidators.inRange(0.0, 1.0))
  def setAdaptiveProcessNoiseLambda(value: Double): this.type =
    set(adaptiveProcessNoiseLambda, value)

  final val adaptiveProcessNoiseAlpha: DoubleParam = new DoubleParam(this,
    "adaptiveProcessNoiseAlpha",
    "threshold scale in the adaptation weight", ParamValidators.gt(0.0))
  def setAdaptiveProcessNoiseAlpha(value: Double): this.type =
    set(adaptiveProcessNoiseAlpha, value)

  setDefault(sigmaPoints -> "merwe", merweAlpha -> 0.3, merweBeta -> 2.0,
    merweKappa -> 0.1, julierKappa -> 1.0, adaptiveProcessNoise -> false,
    adaptiveProcessNoiseThreshold -> 2.0, adaptiveProcessNoiseLambda -> 0.9,
    adaptiveProcessNoiseAlpha -> 1.0)

  protected def core(): CoreBase[_] = {
    val f = new graft.filter.UnscentedKalmanFilter($(stateSize), $(measurementSize))
    f.setSigmaPoints($(sigmaPoints))
    f.setMerweAlpha($(merweAlpha))
    f.setMerweBeta($(merweBeta))
    f.setMerweKappa($(merweKappa))
    f.setJulierKappa($(julierKappa))
    if ($(adaptiveProcessNoise)) {
      f.setEnableAdaptiveProcessNoise()
      f.setAdaptiveProcessNoiseThreshold($(adaptiveProcessNoiseThreshold))
      f.setAdaptiveProcessNoiseLambda($(adaptiveProcessNoiseLambda))
      f.setAdaptiveProcessNoiseAlpha($(adaptiveProcessNoiseAlpha))
    }
    get(processFunction).foreach(f.setProcessFunction)
    get(measurementFunction).foreach(f.setMeasurementFunction)
    get(measurementFunctionFamily).foreach { fam =>
      if (!isSet(measurementFunction)) f.setMeasurementFunction(MeasurementFamilies.fn(fam))
    }
    configure(f)
  }
}

object UnscentedKalmanFilter extends DefaultParamsReadable[UnscentedKalmanFilter]

/** Cubature Kalman filter as an ML Pipeline stage. */
class CubatureKalmanFilter(override val uid: String)
    extends KalmanTransformer[CubatureKalmanFilter](uid) with NonlinearFunctionParams {

  def this() = this(Identifiable.randomUID("cubatureKalmanFilter"))
  def this(stateSize: Int, measurementSize: Int) = {
    this()
    set(this.stateSize, stateSize)
    set(this.measurementSize, measurementSize)
  }

  protected def core(): CoreBase[_] = {
    val f = new graft.filter.CubatureKalmanFilter($(stateSize), $(measurementSize))
    get(processFunction).foreach(f.setProcessFunction)
    get(measurementFunction).foreach(f.setMeasurementFunction)
    get(measurementFunctionFamily).foreach { fam =>
      if (!isSet(measurementFunction)) f.setMeasurementFunction(MeasurementFamilies.fn(fam))
    }
    configure(f)
  }
}

object CubatureKalmanFilter extends DefaultParamsReadable[CubatureKalmanFilter]

/** RTS smoother as an ML Pipeline stage (full-pass by default, fixed-lag
  * when `fixedLag` is set). */
class LinearKalmanSmoother(override val uid: String)
    extends KalmanTransformer[LinearKalmanSmoother](uid) {

  def this() = this(Identifiable.randomUID("linearKalmanSmoother"))
  def this(stateSize: Int, measurementSize: Int) = {
    this()
    set(this.stateSize, stateSize)
    set(this.measurementSize, measurementSize)
  }

  final val fixedLag: IntParam = new IntParam(this, "fixedLag",
    "smooth over a bounded trailing window instead of the full pass", ParamValidators.gt(1))
  def setFixedLag(value: Int): this.type = set(fixedLag, value)

  protected def core(): CoreBase[_] = {
    val s = new graft.smoother.LinearKalmanSmoother($(stateSize), $(measurementSize))
    get(fixedLag).foreach(s.setFixedLag)
    // the smoother IS-A LinearKalmanFilter builder (its transform override
    // dispatches virtually), so configure through the filter self-type
    configure[graft.filter.LinearKalmanFilter](s)
    s
  }
}

object LinearKalmanSmoother extends DefaultParamsReadable[LinearKalmanSmoother]
