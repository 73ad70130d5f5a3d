package graft.filter

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.linalg.{DMat, Dense}
import graft.state.{KeyedIn, StateSpec, StatefulStage, StatefulTransformer, UniqueEventTimes}

case class RlsIn(
    stateKey: String,
    eventTime: Option[Timestamp],
    label: Double,
    features: Array[Double],
    initialMean: Array[Double],
    initialCovariance: DMat) extends KeyedIn

case class RlsState(stateIndex: Long, mean: Array[Double], cov: Array[Double]) extends Serializable

case class RlsOut(
    stateKey: String,
    stateIndex: Long,
    eventTime: Option[Timestamp],
    stateMean: Array[Double],
    stateCovariance: DMat)

/**
 * Recursive Least Squares: online regularized least-squares regression per
 * key. With forgettingFactor λ and regularization P0, the recursion is the
 * exact sequential solution of
 *   argmin_θ Σ λ^(n-i) (y_i - x_iᵀθ)² + λ^n θᵀP0⁻¹θ
 * so with λ=1 the final state equals the closed-form regularized LS posterior
 * — which is how the DuckDB oracle verifies the whole sequential path.
 *
 * Capability parity: /root/reference/src/main/scala/com/github/ozancicek/artan/ml/filter/RecursiveLeastSquaresFilter.scala:211.
 */
class RecursiveLeastSquaresFilter(val featuresSize: Int)
    extends StatefulTransformer with UniqueEventTimes {

  private var labelCol: String = "label"
  private var featuresCol: String = "features"
  private var forgettingFactor: Double = 1.0
  private var initialEstimate: Array[Double] = new Array[Double](featuresSize)
  private var initialEstimateCol: Option[String] = None
  private var regularizationMatrix: DMat = DMat(featuresSize, featuresSize,
    Dense.scale(1e5, Dense.eye(featuresSize)))
  private var regularizationMatrixCol: Option[String] = None
  private var initialStateDistributionCol: Option[String] = None

  /** Single struct column `(mean: array<double>, covariance: matrix struct)`
    * carrying the per-key prior — e.g. a previously filtered posterior
    * (stream-batch init; reference RLS initialStateDistributionCol).
    * Overrides initialEstimateCol / regularizationMatrixCol when set. */
  def setInitialStateDistributionCol(v: String): this.type = {
    initialStateDistributionCol = Some(v); this
  }
  def setLabelCol(v: String): this.type = { labelCol = v; this }
  def setFeaturesCol(v: String): this.type = { featuresCol = v; this }
  def setForgettingFactor(v: Double): this.type = { forgettingFactor = v; this }
  def setInitialEstimate(v: Array[Double]): this.type = { initialEstimate = v; this }
  def setInitialEstimateCol(v: String): this.type = { initialEstimateCol = Some(v); this }
  def setRegularizationMatrix(v: DMat): this.type = { regularizationMatrix = v; this }
  def setRegularizationMatrixFactor(v: Double): this.type = {
    regularizationMatrix = DMat(featuresSize, featuresSize, Dense.scale(v, Dense.eye(featuresSize))); this
  }
  def setRegularizationMatrixCol(v: String): this.type = { regularizationMatrixCol = Some(v); this }

  override protected def defaultStateKey: String = "rls.default"

  /** Input of the encoder engine, the batch reference. */
  private def encoderInput(df: DataFrame): Dataset[RlsIn] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      keyExpr.as("stateKey"),
      timeExpr.as("eventTime"),
      col(labelCol).cast("double").as("label"),
      col(featuresCol).cast("array<double>").as("features"),
      initialStateDistributionCol.map(c => col(c).getField("mean").cast("array<double>"))
        .orElse(initialEstimateCol.map(c => col(c).cast("array<double>")))
        .getOrElse(typedLit(initialEstimate)).as("initialMean"),
      initialStateDistributionCol.map(c => col(c).getField("covariance"))
        .orElse(regularizationMatrixCol.map(col))
        .getOrElse(typedLit(regularizationMatrix)).as("initialCovariance")
    ).as[RlsIn]
  }

  private def spec = new RlsSpec(forgettingFactor, featuresSize)

  def transform(df: DataFrame): DataFrame = {
    // constant init/regularization live in the kernel, NOT as typedLit
    // columns shuffled with every row (the encoder path ships ~(n + n²)
    // doubles of constants per row)
    val imExpr = initialStateDistributionCol.map(c => col(c).getField("mean").cast("array<double>"))
      .orElse(initialEstimateCol.map(c => col(c).cast("array<double>")))
    val icExpr = initialStateDistributionCol.map(c => MatrixColumn(col(c).getField("covariance")))
      .orElse(regularizationMatrixCol.map(c => MatrixColumn(col(c))))
    val cols = scala.collection.mutable.ArrayBuffer(
      keyExpr.as("stateKey"),
      timeExpr.as("eventTime"),
      col(labelCol).cast("double").as("label"),
      col(featuresCol).cast("array<double>").as("features"))
    if (imExpr.isDefined || icExpr.isDefined)
      cols += imExpr.getOrElse(lit(null).cast("array<double>")).as("initialMean")
    icExpr.foreach(e => cols += e.as("initialCovariance"))
    val kernel = new RlsRowKernel(forgettingFactor, featuresSize,
      initialEstimate, regularizationMatrix,
      hasIM = imExpr.isDefined, hasIC = icExpr.isDefined)
    userColumns(StatefulStage.run(df.select(cols.toSeq: _*), stageConf, kernel))
  }

  /** Encoder-path batch execution kept as the pin-spec reference. */
  private[graft] def transformEncoderBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    userColumns(StatefulStage.batch(encoderInput(df), spec, stageConf).toDF())
  }
}

private[filter] class RlsSpec(lambda: Double, n: Int) extends StateSpec[RlsIn, RlsState, RlsOut] {
    def update(key: String, row: RlsIn, state: Option[RlsState]): Option[RlsState] = {
      val cur = state.getOrElse(RlsState(0L, row.initialMean, row.initialCovariance.values))
      val x = row.features
      // k = P x / (λ + xᵀ P x)
      val px = Dense.matvec(cur.cov, x, n, n)
      val denom = lambda + Dense.dot(x, px)
      val k = Dense.scale(1.0 / denom, px)
      // θ += k (y - xᵀθ)
      val resid = row.label - Dense.dot(x, cur.mean)
      val mean = cur.mean.clone()
      Dense.axpy(resid, k, mean)
      // P = (P - k xᵀ P) / λ
      val xtP = Dense.matvec(Dense.transpose(cur.cov, n, n), x, n, n)
      val cov = cur.cov.clone()
      Dense.axpy(-1.0, Dense.outer(1.0, k, xtP), cov)
      val covScaled = Dense.scale(1.0 / lambda, cov)
      // keep P bitwise-symmetric (mirror upper triangle): P' is symmetric in
      // exact arithmetic; mirroring keeps the recursion identical to the
      // symmetric-state oracle replay
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { covScaled(j * n + i) = covScaled(i * n + j); j += 1 }
        i += 1
      }
      Some(RlsState(cur.stateIndex + 1, mean, covScaled))
    }

    def output(key: String, row: RlsIn, s: RlsState): List[RlsOut] =
      List(RlsOut(key, s.stateIndex, row.eventTime, s.mean, DMat(n, n, s.cov)))
}

case class LmsIn(
    stateKey: String,
    eventTime: Option[Timestamp],
    label: Double,
    features: Array[Double],
    initialMean: Array[Double]) extends KeyedIn

case class LmsState(stateIndex: Long, mean: Array[Double]) extends Serializable

case class LmsOut(
    stateKey: String,
    stateIndex: Long,
    eventTime: Option[Timestamp],
    stateMean: Array[Double])

/**
 * Normalized Least Mean Squares filter:
 *   w_k = w_{k-1} + μ x (y - xᵀw_{k-1}) / (ε + xᵀx)
 *
 * Capability parity: /root/reference/src/main/scala/com/github/ozancicek/artan/ml/filter/LeastMeanSquaresFilter.scala:156.
 */
class LeastMeanSquaresFilter(val featuresSize: Int)
    extends StatefulTransformer with UniqueEventTimes {

  private var labelCol: String = "label"
  private var featuresCol: String = "features"
  private var learningRate: Double = 1.0
  private var regularization: Double = 1.0
  private var initialEstimate: Array[Double] = new Array[Double](featuresSize)
  private var initialEstimateCol: Option[String] = None

  def setLabelCol(v: String): this.type = { labelCol = v; this }
  def setFeaturesCol(v: String): this.type = { featuresCol = v; this }
  def setLearningRate(v: Double): this.type = { learningRate = v; this }
  def setRegularization(v: Double): this.type = { regularization = v; this }
  def setInitialEstimate(v: Array[Double]): this.type = { initialEstimate = v; this }
  def setInitialEstimateCol(v: String): this.type = { initialEstimateCol = Some(v); this }

  override protected def defaultStateKey: String = "lms.default"

  /** Input of the encoder engine, the batch reference. */
  private def encoderInput(df: DataFrame): Dataset[LmsIn] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      keyExpr.as("stateKey"),
      timeExpr.as("eventTime"),
      col(labelCol).cast("double").as("label"),
      col(featuresCol).cast("array<double>").as("features"),
      initialEstimateCol.map(c => col(c).cast("array<double>")).getOrElse(typedLit(initialEstimate)).as("initialMean")
    ).as[LmsIn]
  }

  private def spec = new LmsSpec(learningRate, regularization)

  def transform(df: DataFrame): DataFrame = {
    val cols = scala.collection.mutable.ArrayBuffer(
      keyExpr.as("stateKey"),
      timeExpr.as("eventTime"),
      col(labelCol).cast("double").as("label"),
      col(featuresCol).cast("array<double>").as("features"))
    initialEstimateCol.foreach(c => cols += col(c).cast("array<double>").as("initialMean"))
    val kernel = new LmsRowKernel(learningRate, regularization,
      initialEstimate, hasIM = initialEstimateCol.isDefined)
    userColumns(StatefulStage.run(df.select(cols.toSeq: _*), stageConf, kernel))
  }

  /** Encoder-path batch execution kept as the pin-spec reference. */
  private[graft] def transformEncoderBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    userColumns(StatefulStage.batch(encoderInput(df), spec, stageConf).toDF())
  }
}

private[filter] class LmsSpec(mu: Double, eps: Double) extends StateSpec[LmsIn, LmsState, LmsOut] {
  def update(key: String, row: LmsIn, state: Option[LmsState]): Option[LmsState] = {
    val cur = state.getOrElse(LmsState(0L, row.initialMean))
    val x = row.features
    val gain = mu / (eps + Dense.dot(x, x))
    val resid = row.label - Dense.dot(x, cur.mean)
    val mean = cur.mean.clone()
    Dense.axpy(gain * resid, x, mean)
    Some(LmsState(cur.stateIndex + 1, mean))
  }
  def output(key: String, row: LmsIn, s: LmsState): List[LmsOut] =
    List(LmsOut(key, s.stateIndex, row.eventTime, s.mean))
}
