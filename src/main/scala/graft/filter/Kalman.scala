package graft.filter

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.linalg.{DMat, Dense}
import graft.state.{KeyedIn, StateSpec, StatefulStage, StatefulTransformer, UniqueEventTimes}
import graft.stats.Distributions

/**
 * Input row for Kalman-family filters. System matrices are None when constant
 * across rows — constants live in [[KalmanDefaults]] inside the spec closure,
 * so the shuffle carries only the key, time and measurement (at 100 TB,
 * NOT serializing four matrices per row is the difference between shuffling
 * measurements and shuffling the model repeatedly). Per-row columns are only
 * materialized when a *Col setter was used.
 *
 * Semantics match the reference's filter input contract
 * (/root/reference/src/main/scala/com/github/ozancicek/artan/ml/filter/KalmanBase.scala:505).
 */
case class KalmanIn(
    stateKey: String,
    eventTime: Option[Timestamp],
    measurement: Option[Array[Double]],
    measurementModel: Option[DMat],
    measurementNoise: Option[DMat],
    processModel: Option[DMat],
    processNoise: Option[DMat],
    control: Option[Array[Double]],
    controlFunction: Option[DMat],
    initialMean: Option[Array[Double]],
    initialCovariance: Option[DMat]) extends KeyedIn

/** Constant (non-per-row) filter configuration resolved into rows by the spec. */
case class KalmanDefaults(
    measurementModel: DMat,
    measurementNoise: DMat,
    processModel: DMat,
    processNoise: DMat,
    initialMean: Array[Double],
    initialCovariance: DMat) extends Serializable {

  /** Fill constant system matrices into the row once per row (cheap object
    * plumbing; nothing is serialized). */
  def resolve(row: KalmanIn): KalmanIn = row.copy(
    measurementModel = if (row.measurementModel.isDefined) row.measurementModel else Some(measurementModel),
    measurementNoise = if (row.measurementNoise.isDefined) row.measurementNoise else Some(measurementNoise),
    processModel = if (row.processModel.isDefined) row.processModel else Some(processModel),
    processNoise = if (row.processNoise.isDefined) row.processNoise else Some(processNoise))
}

/** A user matrix struct rebuilt field by field, by name, into the canonical
  * (numRows int, numCols int, values array<double>) layout the kernels read
  * by ordinal: any field order resolves, a missing field fails analysis, and
  * a null struct stays null. */
private[filter] object MatrixColumn {
  def apply(m: Column): Column = when(m.isNull, lit(null)).otherwise(struct(
    m.getField("numRows").cast("int").as("numRows"),
    m.getField("numCols").cast("int").as("numCols"),
    m.getField("values").cast("array<double>").as("values")))

  val absent: Column = lit(null).cast("struct<numRows:int,numCols:int,values:array<double>>")
}

/** In-flight per-key filter state (never leaves the executor in batch mode).
  * `adaptiveQ` holds the RAUKF-inflated process noise when adaptive noise is
  * enabled and the last residual breached the mahalanobis threshold; it
  * overrides the static Q on the next predict (reference
  * UnscentedKalmanFilter.scala:238). */
case class KState(
    stateIndex: Long,
    mean: Array[Double],
    cov: Array[Double],
    residualMean: Option[Array[Double]],
    residualCov: Option[Array[Double]],
    slidingLL: List[Double],
    adaptiveQ: Option[Array[Double]] = None) extends Serializable

/** Per-measurement filter output. The four system-matrix fields are only
  * populated (and kept as columns) when `setOutputSystemMatrices` was called —
  * they echo the RESOLVED per-row matrices (constants or per-row columns). */
case class KalmanOut(
    stateKey: String,
    stateIndex: Long,
    stepIndex: Int,
    eventTime: Option[Timestamp],
    stateMean: Array[Double],
    stateCovariance: DMat,
    residualMean: Option[Array[Double]],
    residualCovariance: Option[DMat],
    loglikelihood: Option[Double],
    mahalanobis: Option[Double],
    slidingLikelihood: Option[Double],
    processModel: Option[DMat] = None,
    processNoise: Option[DMat] = None,
    measurementModel: Option[DMat] = None,
    measurementNoise: Option[DMat] = None)

/**
 * Predict/estimate cycle contract. Implementations (linear, extended,
 * unscented, cubature) only provide the math; sequencing, missing-measurement
 * handling and likelihood bookkeeping live in [[KalmanSpec]].
 */
trait KalmanCompute extends Serializable {
  def stateSize: Int
  def measurementSize: Int
  def fadingFactor: Double

  /** Time update: progress (mean, cov) through the process model. */
  def predict(mean: Array[Double], cov: Array[Double], in: KalmanIn): (Array[Double], Array[Double])

  /**
   * Measurement update. Returns (newMean, newCov, residual, residualCov).
   */
  def estimate(mean: Array[Double], cov: Array[Double], in: KalmanIn)
    : (Array[Double], Array[Double], Array[Double], Array[Double])

  /**
   * Measurement update that may also produce an adapted process noise (RAUKF);
   * the default delegates to [[estimate]] with no adaptation. `in` carries the
   * EFFECTIVE Q (static or previously adapted) in `processNoise`.
   */
  def estimateWithNoise(mean: Array[Double], cov: Array[Double], in: KalmanIn)
    : (Array[Double], Array[Double], Array[Double], Array[Double], Option[Array[Double]]) = {
    val (a, b, c, d) = estimate(mean, cov, in)
    (a, b, c, d, None)
  }
}

/** Standard linear Kalman math with Joseph-form covariance update. */
class LinearKalmanCompute(val stateSize: Int, val measurementSize: Int, val fadingFactor: Double)
    extends KalmanCompute {

  def predict(mean: Array[Double], cov: Array[Double], in: KalmanIn): (Array[Double], Array[Double]) = {
    val s = stateSize
    val f = in.processModel.get.values
    // x = F x (+ B u)
    val m1 = Dense.matvec(f, mean, s, s)
    (in.control, in.controlFunction) match {
      case (Some(u), Some(b)) => Dense.axpy(1.0, Dense.matvec(b.values, u, s, u.length), m1)
      case _ =>
    }
    // P = a^2 F P F^T + Q
    val fp = Dense.matmul(f, cov, s, s, s)
    val fpft = Dense.matmulNT(fp, f, s, s, s)
    val a2 = fadingFactor * fadingFactor
    val p1 = in.processNoise.get.values.clone()
    Dense.axpy(a2, fpft, p1)
    (m1, Dense.symmetrize(p1, s))
  }

  def estimate(mean: Array[Double], cov: Array[Double], in: KalmanIn)
    : (Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val h = in.measurementModel.get.values
    // residual = z - H x
    val resid = Dense.sub(in.measurement.get, Dense.matvec(h, mean, measurementSize, stateSize))
    josephUpdate(mean, cov, resid, h, in.measurementNoise.get.values)
  }

  /** The measurement update of (mean, cov) by the residual `resid`, through
    * the measurement matrix (or jacobian) `h` and noise `r`: the gain, then
    * the Joseph-form covariance. Returns (newMean, newCov, resid, S). */
  protected final def josephUpdate(mean: Array[Double], cov: Array[Double], resid: Array[Double],
      h: Array[Double], r: Array[Double]): (Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val s = stateSize
    val m = measurementSize
    // S = H P H^T + R
    val pht = Dense.matmulNT(cov, h, s, s, m) // P H^T (s x m)
    val hpht = Dense.matmul(h, pht, m, s, m)
    val sMat = Dense.add(hpht, r)
    // K = P H^T S^-1  (s x m)
    val sInv = Dense.inverse(sMat.clone(), m)
    val gain = Dense.matmul(pht, sInv, s, m, m)
    // x = x + K r
    val newMean = mean.clone()
    Dense.axpy(1.0, Dense.matvec(gain, resid, s, m), newMean)
    // P = (I - K H) P (I - K H)^T + K R K^T  (Joseph form)
    val ikh = Dense.eye(s)
    Dense.axpy(-1.0, Dense.matmul(gain, h, s, m, s), ikh)
    val ikhP = Dense.matmul(ikh, cov, s, s, s)
    val joseph = Dense.matmulNT(ikhP, ikh, s, s, s)
    val kr = Dense.matmul(gain, r, s, m, m)
    val krkt = Dense.matmulNT(kr, gain, s, m, s)
    val newCov = Dense.add(joseph, krkt)
    (newMean, Dense.symmetrize(newCov, s), resid, sMat)
  }
}

/**
 * Folds measurements into filter states; shared by every Kalman-family
 * transformer and by both batch and streaming physical paths.
 */
class KalmanSpec(
    compute: KalmanCompute,
    defaults: KalmanDefaults,
    storeResidual: Boolean,
    likelihoodWindow: Int,
    multiStepPredict: Int,
    computeLoglikelihood: Boolean,
    computeMahalanobis: Boolean,
    computeSlidingLikelihood: Boolean,
    emitSystemMatrices: Boolean = false)
  extends StateSpec[KalmanIn, KState, KalmanOut] {

  def update(key: String, rawRow: KalmanIn, state: Option[KState]): Option[KState] = {
    val resolved = defaults.resolve(rawRow)
    val cur = state.getOrElse(
      KState(0L, rawRow.initialMean.getOrElse(defaults.initialMean),
        rawRow.initialCovariance.map(_.values).getOrElse(defaults.initialCovariance.values), None, None, Nil))
    // adapted process noise (RAUKF) overrides the static Q until the next
    // below-threshold residual resets it
    val row = cur.adaptiveQ match {
      case Some(q) => resolved.copy(processNoise = Some(DMat(compute.stateSize, compute.stateSize, q)))
      case None => resolved
    }
    val (pm, pc) = compute.predict(cur.mean, cur.cov, row)
    val next = row.measurement match {
      case Some(_) =>
        val (em, ec, resid, residCov, newQ) = compute.estimateWithNoise(pm, pc, row)
        val slid =
          if (computeSlidingLikelihood || computeLoglikelihood) {
            val ll = Distributions.mvnLogpdf(resid, new Array[Double](resid.length), residCov.clone())
            (cur.slidingLL :+ ll).takeRight(math.max(likelihoodWindow, 1))
          } else Nil
        KState(cur.stateIndex + 1, em, ec,
          if (storeResidual) Some(resid) else None,
          if (storeResidual) Some(residCov) else None,
          slid, newQ)
      case None =>
        KState(cur.stateIndex + 1, pm, pc, None, None, cur.slidingLL, cur.adaptiveQ)
    }
    Some(next)
  }

  def output(key: String, rawRow: KalmanIn, state: KState): List[KalmanOut] = {
    val row = defaults.resolve(rawRow)
    val m = compute.measurementSize
    val base = toOut(key, row, state, 0)
    if (multiStepPredict <= 0) List(base)
    else {
      val steps = List.newBuilder[KalmanOut]
      steps += base
      var mean = state.mean
      var cov = state.cov
      var i = 1
      while (i <= multiStepPredict) {
        val (pm, pc) = compute.predict(mean, cov, row)
        mean = pm; cov = pc
        steps += toOut(key, row, KState(state.stateIndex, pm, pc, None, None, Nil), i)
        i += 1
      }
      steps.result()
    }
  }

  private def toOut(key: String, row: KalmanIn, s: KState, stepIndex: Int): KalmanOut = {
    val n = compute.stateSize
    // a residual means `update` just folded a measurement and, with the
    // loglikelihood on, appended its loglikelihood to slidingLL
    val ll = if (computeLoglikelihood) s.residualMean.map(_ => s.slidingLL.last) else None
    val maha = s.residualMean.flatMap { r =>
      if (computeMahalanobis)
        Some(Distributions.mahalanobis(r, new Array[Double](r.length), s.residualCov.get))
      else None
    }
    val slid = if (computeSlidingLikelihood && s.slidingLL.nonEmpty) Some(math.exp(s.slidingLL.sum)) else None
    KalmanOut(
      key, s.stateIndex, stepIndex, row.eventTime,
      s.mean, DMat(n, n, s.cov),
      s.residualMean, s.residualCov.map(rc => DMat(compute.measurementSize, compute.measurementSize, rc)),
      ll, maha, slid,
      if (emitSystemMatrices) row.processModel else None,
      if (emitSystemMatrices) row.processNoise else None,
      if (emitSystemMatrices) row.measurementModel else None,
      if (emitSystemMatrices) row.measurementNoise else None)
  }
}

/**
 * Shared builder for Kalman-family filters; mirrors the reference's setter
 * surface (/root/reference/src/main/scala/com/github/ozancicek/artan/ml/filter/KalmanBase.scala:37)
 * on a plain-Scala fluent API.
 */
abstract class KalmanFilterBase[Impl <: KalmanFilterBase[Impl]](
    val stateSize: Int, val measurementSize: Int)
    extends StatefulTransformer with UniqueEventTimes { self: Impl =>

  protected var measurementCol: String = "measurement"
  protected var initialStateMean: Array[Double] = new Array[Double](stateSize)
  protected var initialStateCovariance: DMat = DMat.eye(stateSize)
  protected var initialStateMeanCol: Option[String] = None
  protected var initialStateCovarianceCol: Option[String] = None
  protected var initialStateDistributionCol: Option[String] = None
  protected var processModel: DMat = DMat.eye(stateSize)
  protected var processNoise: DMat = DMat.eye(stateSize)
  protected var measurementModel: DMat = {
    val v = new Array[Double](measurementSize * stateSize)
    var i = 0
    while (i < math.min(measurementSize, stateSize)) { v(i * stateSize + i) = 1.0; i += 1 }
    DMat(measurementSize, stateSize, v)
  }
  protected var measurementNoise: DMat = DMat.eye(measurementSize)
  protected var processModelCol: Option[String] = None
  protected var processNoiseCol: Option[String] = None
  protected var measurementModelCol: Option[String] = None
  protected var measurementNoiseCol: Option[String] = None
  protected var controlCol: Option[String] = None
  protected var controlFunctionCol: Option[String] = None
  protected var fadingFactor: Double = 1.0
  protected var multiStepPredict: Int = 0
  protected var calcLoglikelihood: Boolean = false
  protected var calcMahalanobis: Boolean = false
  protected var calcSlidingLikelihood: Boolean = false
  protected var slidingLikelihoodWindow: Int = 1
  protected var outputSystemMatrices: Boolean = false
  protected var mmaeEnabled: Boolean = false
  protected var mmaeWindowDuration: Option[String] = None

  def setMeasurementCol(v: String): Impl = { measurementCol = v; this }
  def setInitialStateMean(v: Array[Double]): Impl = { initialStateMean = v; this }
  def setInitialStateCovariance(v: DMat): Impl = { initialStateCovariance = v; this }
  def setInitialStateMeanCol(v: String): Impl = { initialStateMeanCol = Some(v); this }
  def setInitialStateCovarianceCol(v: String): Impl = { initialStateCovarianceCol = Some(v); this }
  /** Single struct column `(mean: array<double>, covariance: matrix-struct)`
    * carrying the initial state distribution — the batch-posterior →
    * streaming-prior warm-start mechanism (reference KalmanBase.scala:87). */
  def setInitialStateDistributionCol(v: String): Impl = { initialStateDistributionCol = Some(v); this }
  def setProcessModel(v: DMat): Impl = { processModel = v; this }
  def setProcessNoise(v: DMat): Impl = { processNoise = v; this }
  def setMeasurementModel(v: DMat): Impl = { measurementModel = v; this }
  def setMeasurementNoise(v: DMat): Impl = { measurementNoise = v; this }
  def setProcessModelCol(v: String): Impl = { processModelCol = Some(v); this }
  def setProcessNoiseCol(v: String): Impl = { processNoiseCol = Some(v); this }
  def setMeasurementModelCol(v: String): Impl = { measurementModelCol = Some(v); this }
  def setMeasurementNoiseCol(v: String): Impl = { measurementNoiseCol = Some(v); this }
  def setControlCol(v: String): Impl = { controlCol = Some(v); this }
  def setControlFunctionCol(v: String): Impl = { controlFunctionCol = Some(v); this }
  def setFadingFactor(v: Double): Impl = { fadingFactor = v; this }
  def setMultiStepPredict(v: Int): Impl = { multiStepPredict = v; this }
  def setCalculateLoglikelihood(): Impl = { calcLoglikelihood = true; this }
  def setCalculateMahalanobis(): Impl = { calcMahalanobis = true; this }
  def setCalculateSlidingLikelihood(): Impl = { calcSlidingLikelihood = true; this }
  def setSlidingLikelihoodWindow(v: Int): Impl = { calcSlidingLikelihood = true; slidingLikelihoodWindow = v; this }
  def setOutputSystemMatrices(): Impl = { outputSystemMatrices = true; this }
  def setEnableMultipleModelAdaptiveEstimation(): Impl = { mmaeEnabled = true; this }
  def setMultipleModelMeasurementWindowDuration(v: String): Impl = { mmaeWindowDuration = Some(v); this }

  protected def compute: KalmanCompute

  protected def storeResidual: Boolean = calcLoglikelihood || calcMahalanobis || calcSlidingLikelihood

  private def matCol(colName: Option[String]): Column =
    colName.map(c => MatrixColumn(col(c))).getOrElse(MatrixColumn.absent)

  /** Canonical 11-column input projection shared by the encoder path
    * (`toKalmanInput`) and the InternalRow kernel (`KalmanRowKernel` reads
    * these fixed ordinals). Keeping ONE projection keeps the batch
    * tiebreak hash (`__rowSeq` over all 11 columns) and therefore the fold
    * order of duplicate (key, time) rows identical across both paths. */
  protected def kalmanProjection(df: DataFrame): DataFrame =
    df.select(
      keyExpr.as("stateKey"),
      timeExpr.as("eventTime"),
      col(measurementCol).cast("array<double>").as("measurement"),
      matCol(measurementModelCol).as("measurementModel"),
      matCol(measurementNoiseCol).as("measurementNoise"),
      matCol(processModelCol).as("processModel"),
      matCol(processNoiseCol).as("processNoise"),
      controlCol.map(c => col(c).cast("array<double>")).getOrElse(lit(null).cast("array<double>")).as("control"),
      matCol(controlFunctionCol).as("controlFunction"),
      initialStateDistributionCol.map(c => col(c).getField("mean").cast("array<double>"))
        .orElse(initialStateMeanCol.map(c => col(c).cast("array<double>")))
        .getOrElse(lit(null).cast("array<double>")).as("initialMean"),
      initialStateDistributionCol.map(c => MatrixColumn(col(c).getField("covariance")))
        .orElse(initialStateCovarianceCol.map(c => MatrixColumn(col(c))))
        .getOrElse(MatrixColumn.absent).as("initialCovariance")
    )

  /** Wire user columns/defaults into the canonical KalmanIn shape. */
  protected def toKalmanInput(df: DataFrame): Dataset[KalmanIn] = {
    val spark = df.sparkSession
    import spark.implicits._
    kalmanProjection(df).as[KalmanIn]
  }

  protected def defaults: KalmanDefaults = KalmanDefaults(
    measurementModel, measurementNoise, processModel, processNoise,
    initialStateMean, initialStateCovariance)

  protected def spec: KalmanSpec = new KalmanSpec(
    compute, defaults, storeResidual, slidingLikelihoodWindow, multiStepPredict,
    calcLoglikelihood, calcMahalanobis, calcSlidingLikelihood, outputSystemMatrices)

  /** Run the filter; batch or streaming chosen from the input DataFrame.
    * Both fold [[kalmanProjection]] with one [[KalmanRowKernel]]: batch in
    * a fold plan node, streaming from each key's stored `KState`. */
  def transform(df: DataFrame): DataFrame = {
    val kernel = new KalmanRowKernel(compute, defaults, storeResidual,
      slidingLikelihoodWindow, multiStepPredict,
      calcLoglikelihood, calcMahalanobis, calcSlidingLikelihood, outputSystemMatrices,
      hasMM = measurementModelCol.isDefined,
      hasMN = measurementNoiseCol.isDefined,
      hasPM = processModelCol.isDefined,
      hasPN = processNoiseCol.isDefined,
      hasCtl = controlCol.isDefined,
      hasCtlFn = controlFunctionCol.isDefined,
      hasIM = initialStateDistributionCol.isDefined || initialStateMeanCol.isDefined,
      hasIC = initialStateDistributionCol.isDefined || initialStateCovarianceCol.isDefined)
    val out = finalizeColumns(StatefulStage.run(kalmanProjection(df), stageConf, kernel))
    if (mmaeEnabled) mmaeAggregate(out) else out
  }

  /** Encoder-path batch execution — the pre-kernel physical plan, kept as
    * the executable reference for the bit-exactness pin (KalmanKernelPinSpec)
    * and not used by any query path. */
  private[graft] def transformEncoderBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val outDs = StatefulStage.batch(toKalmanInput(df), spec, stageConf)
    val out = finalizeColumns(outDs.toDF())
    if (mmaeEnabled) mmaeAggregate(out) else out
  }

  private def finalizeColumns(df: DataFrame): DataFrame = {
    var out = df
    if (!calcLoglikelihood) out = out.drop("loglikelihood")
    if (!calcMahalanobis) out = out.drop("mahalanobis")
    if (!calcSlidingLikelihood) out = out.drop("slidingLikelihood")
    if (!storeResidual) out = out.drop("residualMean", "residualCovariance")
    if (!outputSystemMatrices)
      out = out.drop("processModel", "processNoise", "measurementModel", "measurementNoise")
    userColumns(out)
  }

  /**
   * MMAE: likelihood-weighted average of the filter bank's states per
   * stateIndex (optionally windowed by event time). Declarative aggregation:
   * weighted element-wise array sums via higher-order functions — stays in
   * whole-stage codegen, one shuffle on the (window, stateIndex) key.
   */
  private def mmaeAggregate(df: DataFrame): DataFrame = {
    require(calcSlidingLikelihood, "MMAE requires sliding likelihood")
    val evCol = eventTimeCol.getOrElse("eventTime")
    val base = if (df.isStreaming) {
      // flatMapGroupsWithState(Append) output carries no watermark metadata,
      // so re-apply it here; streaming MMAE needs the windowed variant.
      require(mmaeWindowDuration.isDefined && stageConf.watermarkDuration.isDefined,
        "streaming MMAE requires setMultipleModelMeasurementWindowDuration and setWatermarkDuration")
      df.withWatermark(evCol, stageConf.watermarkDuration.get)
    } else df
    val groupKeys: Seq[Column] = (mmaeWindowDuration match {
      case Some(d) => Seq(window(col(evCol), d).as("eventWindow"))
      case None => Seq.empty
    }) :+ col("stateIndex")

    val n = stateSize
    // One shuffle: collect each group's bank (bounded by the bank size — the
    // number of models, not the corpus) and weight inside array expressions.
    // Likelihoods are max-normalized per group (identical after the final
    // divide-by-sum, but immune to exp() underflow when every bank member is
    // unlikely); array_sort makes the FP summation order deterministic. No
    // window function, so the same plan runs in batch and streaming.
    base.groupBy(groupKeys: _*)
      .agg(array_sort(collect_list(struct(
        col("slidingLikelihood").as("sl"),
        col("stateMean").as("m"),
        col("stateCovariance.values").as("cv")))).as("bank"))
      .withColumn("wts", expr(
        "transform(bank, b -> CASE WHEN array_max(transform(bank, x -> x.sl)) > 0D" +
          " THEN b.sl / array_max(transform(bank, x -> x.sl)) ELSE 1D END)"))
      .withColumn("wSum", expr("aggregate(wts, 0D, (a, x) -> a + x)"))
      .withColumn("stateMean", expr(
        s"transform(sequence(0, ${n - 1}), i -> " +
          "aggregate(zip_with(wts, bank, (w, b) -> w * b.m[i]), 0D, (a, x) -> a + x) / wSum)"))
      .withColumn("stateCovariance",
        struct(lit(n).as("numRows"), lit(n).as("numCols"),
          expr(s"transform(sequence(0, ${n * n - 1}), i -> " +
            "aggregate(zip_with(wts, bank, (w, b) -> w * b.cv[i]), 0D, (a, x) -> a + x) / wSum)")
            .as("values")))
      .drop("bank", "wts", "wSum")
  }
}

/**
 * Linear Kalman Filter — model-parallel online state estimation over batch or
 * streaming DataFrames; the workhorse of the family.
 */
class LinearKalmanFilter(stateSize: Int, measurementSize: Int)
    extends KalmanFilterBase[LinearKalmanFilter](stateSize, measurementSize) {
  protected def compute: KalmanCompute = new LinearKalmanCompute(stateSize, measurementSize, fadingFactor)
}

