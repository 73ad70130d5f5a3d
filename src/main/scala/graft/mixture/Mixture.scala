package graft.mixture

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.state.{KeyedIn, StateSpec, StatefulStage, StatefulTransformer}
import graft.stats.Distributions

/**
 * Online finite mixture estimation via stochastic EM (minibatched):
 *
 *   E-step on minibatch B: responsibilities r_ik ∝ w_k f_k(x_i)
 *   summary: weight_k = Σ_i r_ik/|B|,
 *            moments_k = Σ_i (r_ik/|B|) T_k(x_i)   (T = suff. stats)
 *   blend:   S ← (1-γ) S + γ summary,  γ = stepSize or (2+t)^(-decayRate)
 *   M-step:  params_k = S.moments_k / S.weight_k, weights = S.weights
 *
 * One model per stateKey (model-parallel); same engine and semantics in
 * batch and streaming. Capability parity:
 * /root/reference/src/main/scala/com/github/ozancicek/artan/ml/mixture/MixtureBase.scala:330.
 */
private[mixture] trait MixtureFamily extends Serializable {
  def dim: Int
  /** flat parameter vector size per component. */
  def paramSize: Int
  /** log w-less density of component with params p at sample x. */
  def logpdf(p: Array[Double], x: Array[Double]): Double
  /** moments_k += w * T(x | current params p_k); moments has paramSize slots. */
  def accumulate(pK: Array[Double], momentsK: Array[Double], w: Double, x: Array[Double]): Unit
  /** component params from blended moments (divide-by-weight M-step). */
  def fromMoments(moments: Array[Double], weight: Double): Array[Double] = moments.map(_ / weight)

  /** The E-step of a `k`-component mixture (`weights`, `params`) over
    * `samples`, shared by the online step and batch EM: each sample's
    * responsibilities r_ik over `n`, summed into component weights and,
    * through [[accumulate]], moments. Returns (Σ_i log Σ_k w_k f_k(x_i),
    * weights, moments). */
  final def eStep(k: Int, weights: Array[Double], params: Array[Array[Double]],
      samples: List[Array[Double]], n: Int): (Double, Array[Double], Array[Array[Double]]) = {
    var ll = 0.0
    val sumW = new Array[Double](k)
    val sumM = Array.fill(k)(new Array[Double](paramSize))
    samples.foreach { x =>
      val wl = new Array[Double](k)
      var i = 0
      while (i < k) { wl(i) = logpdf(params(i), x) + math.log(weights(i)); i += 1 }
      val mx = wl.max
      var z = 0.0
      i = 0
      while (i < k) { wl(i) = math.exp(wl(i) - mx); z += wl(i); i += 1 }
      ll += mx + math.log(z)
      i = 0
      while (i < k) {
        val r = wl(i) / z
        sumW(i) += r / n
        accumulate(params(i), sumM(i), r / n, x)
        i += 1
      }
    }
    (ll, sumW, sumM)
  }
}

/** params layout: mean (s) ++ covariance row-major (s*s). */
private[mixture] class GaussianFamily(val dim: Int) extends MixtureFamily {
  val paramSize: Int = dim + dim * dim
  def logpdf(p: Array[Double], x: Array[Double]): Double = {
    val mean = java.util.Arrays.copyOfRange(p, 0, dim)
    val cov = java.util.Arrays.copyOfRange(p, dim, paramSize)
    Distributions.mvnLogpdf(x, mean, cov)
  }
  def accumulate(pK: Array[Double], momentsK: Array[Double], w: Double, x: Array[Double]): Unit = {
    val s = dim
    var i = 0
    while (i < s) { momentsK(i) += w * x(i); i += 1 }
    // covariance suff stats accumulated around the CURRENT component mean
    i = 0
    while (i < s) {
      val di = x(i) - pK(i)
      var j = 0
      while (j < s) {
        momentsK(s + i * s + j) += w * di * (x(j) - pK(j))
        j += 1
      }
      i += 1
    }
  }
}

/** params layout: (rate). Samples are 1-element arrays. */
private[mixture] class PoissonFamily extends MixtureFamily {
  val dim = 1
  val paramSize = 1
  def logpdf(p: Array[Double], x: Array[Double]): Double =
    Distributions.poissonLogpmf(x(0).toLong, p(0))
  def accumulate(pK: Array[Double], momentsK: Array[Double], w: Double, x: Array[Double]): Unit =
    momentsK(0) += w * x(0)
}

/** params layout: (probability). Samples are 1-element arrays of 0.0/1.0. */
private[mixture] class BernoulliFamily extends MixtureFamily {
  val dim = 1
  val paramSize = 1
  def logpdf(p: Array[Double], x: Array[Double]): Double =
    Distributions.bernoulliLogpmf(x(0) > 0.5, p(0))
  def accumulate(pK: Array[Double], momentsK: Array[Double], w: Double, x: Array[Double]): Unit =
    momentsK(0) += w * x(0)
}

private[mixture] case class MixIn(
    stateKey: String,
    eventTime: Option[Timestamp],
    sample: Array[Double],
    stepSize: Double,
    decayRate: Double, // negative = no decay (use stepSize)
    minibatchSize: Int,
    updateHoldout: Int,
    // per-key warm start (initialMixtureModelCol); None -> builder constants
    initialWeights: Option[Array[Double]] = None,
    initialParams: Option[Array[Array[Double]]] = None) extends KeyedIn

private[graft] case class MixState(
    stateIndex: Long,
    buffer: List[Array[Double]],
    summaryWeights: Array[Double],
    summaryMoments: Array[Array[Double]],
    weights: Array[Double],
    params: Array[Array[Double]],
    loglikelihood: Double) extends Serializable

case class MixtureOut(
    stateKey: String,
    stateIndex: Long,
    eventTime: Option[Timestamp],
    weights: Array[Double],
    params: Array[Array[Double]],
    loglikelihood: Double)

private[mixture] class MixtureSpec(
    family: MixtureFamily,
    k: Int,
    initWeights: Array[Double],
    initParams: Array[Array[Double]])
  extends StateSpec[MixIn, MixState, MixtureOut] {

  private def initState(row: MixIn): MixState = {
    val w0 = row.initialWeights.getOrElse(initWeights)
    val p0 = row.initialParams.getOrElse(initParams)
    // summary starts as the weight-scaled initial params (so the first
    // M-step's divide-by-weight returns the initial params unchanged)
    val moments = Array.tabulate(k)(i => family.fromMoments(p0(i), 1.0 / w0(i)))
    MixState(0L, Nil, w0.clone(), moments,
      w0.clone(), p0.map(_.clone()), Double.MinValue)
  }

  def update(key: String, row: MixIn, state: Option[MixState]): Option[MixState] = {
    val cur = state.getOrElse(initState(row))
    val buf = row.sample :: cur.buffer
    if (buf.size < row.minibatchSize) {
      Some(cur.copy(buffer = buf))
    } else {
      val gamma =
        if (row.decayRate >= 0) math.pow(2.0 + cur.stateIndex, -row.decayRate)
        else row.stepSize
      val b = buf.length
      val (llSum, sumWeights, sumMoments) = family.eStep(k, cur.weights, cur.params, buf, b)
      val newW = new Array[Double](k)
      val newM = Array.tabulate(k) { i =>
        newW(i) = (1 - gamma) * cur.summaryWeights(i) + gamma * sumWeights(i)
        val o = cur.summaryMoments(i)
        val n = sumMoments(i)
        Array.tabulate(family.paramSize)(j => (1 - gamma) * o(j) + gamma * n(j))
      }
      val (outW, outP) =
        if (cur.stateIndex < row.updateHoldout) (cur.weights, cur.params)
        else (newW.clone(), newW.zip(newM).map { case (w, m) => family.fromMoments(m, w) })
      Some(MixState(cur.stateIndex + 1, Nil, newW, newM, outW, outP, llSum / b))
    }
  }

  def output(key: String, row: MixIn, s: MixState): List[MixtureOut] =
    if (s.buffer.isEmpty)
      List(MixtureOut(key, s.stateIndex, row.eventTime, s.weights, s.params, s.loglikelihood))
    else Nil
}

/**
 * Full-batch EM per key: buffers the key's samples, then at end-of-key runs
 * classic EM iterations until the mean loglikelihood improves by less than
 * `tol` or `maxIter` is reached. Emits one model per key, from `finish`, so
 * batch only ([[BatchEmRowKernel]]) — mirrors the reference's batch train mode
 * (/root/reference/src/main/scala/com/github/ozancicek/artan/ml/mixture/MixtureParams.scala:1).
 */
private[mixture] class BatchEmSpec(
    family: MixtureFamily,
    k: Int,
    initWeights: Array[Double],
    initParams: Array[Array[Double]],
    maxIter: Int,
    tol: Double)
  extends StateSpec[MixIn, (List[Array[Double]], Option[MixIn]), MixtureOut] {

  def update(key: String, row: MixIn, state: Option[(List[Array[Double]], Option[MixIn])])
    : Option[(List[Array[Double]], Option[MixIn])] =
    Some((row.sample :: state.map(_._1).getOrElse(Nil), Some(row)))

  def output(key: String, row: MixIn, s: (List[Array[Double]], Option[MixIn])): List[MixtureOut] = Nil

  override def finish(key: String, state: (List[Array[Double]], Option[MixIn])): List[MixtureOut] = {
    val samples = state._1.reverse
    val n = samples.length
    if (n == 0) return Nil
    // the key's last row: its warm start and its time
    val lastRow = state._2.get
    var weights = lastRow.initialWeights.getOrElse(initWeights).clone()
    var params = lastRow.initialParams.getOrElse(initParams).map(_.clone())
    var prevLL = Double.MinValue
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val (ll, sumW, sumM) = family.eStep(k, weights, params, samples, n)
      weights = sumW
      params = sumW.zip(sumM).map { case (w, m) => family.fromMoments(m, math.max(w, 1e-12)) }
      if ((ll - prevLL) / n < tol) done = true
      prevLL = ll
      iter += 1
    }
    List(MixtureOut(key, iter.toLong, lastRow.eventTime, weights, params, prevLL / n))
  }
}

/** Shared builder for the three mixture transformers. */
abstract class MixtureBase[Impl <: MixtureBase[Impl]](val mixtureCount: Int)
    extends StatefulTransformer { self: Impl =>
  protected var sampleCol: String = "sample"
  protected var stepSize: Double = 0.1
  protected var decayRate: Double = -1.0
  protected var minibatchSize: Int = 1
  protected var updateHoldout: Int = 1
  protected var initialWeights: Array[Double] = Array.fill(mixtureCount)(1.0 / mixtureCount)
  protected var batchTrainEnabled: Boolean = false
  protected var batchTrainMaxIter: Int = 30
  protected var batchTrainTol: Double = 0.1
  protected var initialMixtureModelCol: Option[String] = None
  protected var stepSizeCol: Option[String] = None
  protected var minibatchSizeCol: Option[String] = None
  protected var updateHoldoutCol: Option[String] = None

  def setEnableBatchTrain(): Impl = { batchTrainEnabled = true; this }
  def setBatchTrainMaxIter(v: Int): Impl = { batchTrainMaxIter = v; this }
  def setBatchTrainTol(v: Double): Impl = { batchTrainTol = v; this }
  def setSampleCol(v: String): Impl = { sampleCol = v; this }
  def setStepSize(v: Double): Impl = { stepSize = v; this }
  def setDecayRate(v: Double): Impl = { decayRate = v; this }
  def setMinibatchSize(v: Int): Impl = { minibatchSize = v; this }
  def setUpdateHoldout(v: Int): Impl = { updateHoldout = v; this }
  // Per-row hyperparameter columns (reference MixtureParams stepSizeCol /
  // minibatchSizeCol / updateHoldoutCol): heterogeneous tuning per key or
  // per regime without splitting the DataFrame. Null cells fall back to the
  // builder constants.
  def setStepSizeCol(v: String): Impl = { stepSizeCol = Some(v); this }
  def setMinibatchSizeCol(v: String): Impl = { minibatchSizeCol = Some(v); this }
  def setUpdateHoldoutCol(v: String): Impl = { updateHoldoutCol = Some(v); this }
  def setInitialWeights(v: Array[Double]): Impl = { initialWeights = v; this }
  /** Single struct column `(weights: array<double>, params: array<array<double>>)`
    * carrying a per-key initial mixture model — warm start from a previously
    * trained model (reference MixtureParams.scala:287). */
  def setInitialMixtureModelCol(v: String): Impl = { initialMixtureModelCol = Some(v); this }

  protected var initialWeightsCol: Option[String] = None
  /** Per-key initial component weights column (reference initialWeightsCol);
    * overrides the composite model column's weights when both are set. */
  def setInitialWeightsCol(v: String): Impl = { initialWeightsCol = Some(v); this }

  protected def family: MixtureFamily
  protected def initialParams: Array[Array[Double]]
  /** sample column cast into array<double> canonical form. */
  protected def sampleExpr: org.apache.spark.sql.Column
  /** Optional per-key initial params built from family-specific columns
    * (means/covariances, rates, probabilities); overrides the composite
    * model column's params when set. */
  protected def initialParamsColExpr: Option[org.apache.spark.sql.Column] = None

  /** Canonical 9-column MixIn projection — shared by the encoder path and
    * the InternalRow kernel (fixed ordinals + the SAME __rowSeq tiebreak
    * hash domain on both paths). */
  private def mixProjection(df: DataFrame): DataFrame =
    df.select(
      keyExpr.as("stateKey"),
      timeExpr.as("eventTime"),
      sampleExpr.as("sample"),
      stepSizeCol.map(c => coalesce(col(c).cast("double"), lit(stepSize)))
        .getOrElse(lit(stepSize)).as("stepSize"),
      lit(decayRate).as("decayRate"),
      minibatchSizeCol.map(c => coalesce(col(c).cast("int"), lit(minibatchSize)))
        .getOrElse(lit(minibatchSize)).as("minibatchSize"),
      updateHoldoutCol.map(c => coalesce(col(c).cast("int"), lit(updateHoldout)))
        .getOrElse(lit(updateHoldout)).as("updateHoldout"),
      initialWeightsCol.map(c => col(c).cast("array<double>"))
        .orElse(initialMixtureModelCol.map(c => col(c).getField("weights").cast("array<double>")))
        .getOrElse(lit(null).cast("array<double>")).as("initialWeights"),
      initialParamsColExpr
        .orElse(initialMixtureModelCol.map(c => col(c).getField("params").cast("array<array<double>>")))
        .getOrElse(lit(null).cast("array<array<double>>")).as("initialParams")
    )

  /** Online stochastic EM ([[MixtureRowKernel]]) over batch or streaming
    * input, or batch EM ([[BatchEmRowKernel]]) over batch input: one row
    * fold of [[mixProjection]] either way. */
  def transform(df: DataFrame): DataFrame = {
    require(!(batchTrainEnabled && df.isStreaming), "batch EM training requires a batch DataFrame")
    val in = mixProjection(df)
    userColumns(
      if (batchTrainEnabled)
        StatefulStage.run(in, stageConf, new BatchEmRowKernel(family, mixtureCount, initialWeights,
          initialParams, batchTrainMaxIter, batchTrainTol))
      else StatefulStage.run(in, stageConf, new MixtureRowKernel(family, mixtureCount, initialWeights,
        initialParams)))
  }

  /** Encoder-path batch execution kept as the pin-spec reference, of batch
    * EM ([[BatchEmSpec]]) when it is enabled, of the online
    * [[MixtureSpec]] otherwise. */
  private[graft] def transformEncoderBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(!df.isStreaming)
    val in = mixProjection(df).as[MixIn]
    val out =
      if (batchTrainEnabled)
        StatefulStage.batch(in, new BatchEmSpec(family, mixtureCount, initialWeights, initialParams,
          batchTrainMaxIter, batchTrainTol), stageConf)
      else StatefulStage.batch(in, new MixtureSpec(family, mixtureCount, initialWeights, initialParams), stageConf)
    userColumns(out.toDF())
  }
}

/** Online multivariate gaussian mixture (params row = mean ++ covariance). */
class MultivariateGaussianMixture(mixtureCount: Int, val sampleSize: Int)
    extends MixtureBase[MultivariateGaussianMixture](mixtureCount) {
  private var initialMeans: Array[Array[Double]] =
    Array.tabulate(mixtureCount)(i => Array.fill(sampleSize)(i.toDouble))
  private var initialCovariances: Array[Array[Double]] =
    Array.fill(mixtureCount)(graft.linalg.Dense.eye(sampleSize))

  private var initialMeansCol: Option[String] = None
  private var initialCovariancesCol: Option[String] = None

  def setInitialMeans(v: Array[Array[Double]]): this.type = { initialMeans = v; this }
  /** row-major covariance per component. */
  def setInitialCovariances(v: Array[Array[Double]]): this.type = { initialCovariances = v; this }
  /** Per-key initial means column: array<array<double>> (one mean per component). */
  def setInitialMeansCol(v: String): this.type = { initialMeansCol = Some(v); this }
  /** Per-key initial covariances column: array<array<double>> (row-major per component). */
  def setInitialCovariancesCol(v: String): this.type = { initialCovariancesCol = Some(v); this }

  protected def family: MixtureFamily = new GaussianFamily(sampleSize)
  protected def initialParams: Array[Array[Double]] =
    initialMeans.zip(initialCovariances).map { case (m, c) => m ++ c }
  protected def sampleExpr = col(sampleCol).cast("array<double>")
  override protected def initialParamsColExpr = (initialMeansCol, initialCovariancesCol) match {
    case (Some(m), Some(c)) => Some(
      zip_with(col(m).cast("array<array<double>>"), col(c).cast("array<array<double>>"),
        (mi, ci) => concat(mi, ci)))
    case (None, None) => None
    case _ => throw new IllegalArgumentException(
      "initialMeansCol and initialCovariancesCol must be set together")
  }
}

/** Online Poisson mixture (params row = rate). */
class PoissonMixture(mixtureCount: Int) extends MixtureBase[PoissonMixture](mixtureCount) {
  private var initialRates: Array[Double] = Array.tabulate(mixtureCount)(i => 1.0 + i)
  private var initialRatesCol: Option[String] = None
  def setInitialRates(v: Array[Double]): this.type = { initialRates = v; this }
  /** Per-key initial rates column: array<double> (one rate per component). */
  def setInitialRatesCol(v: String): this.type = { initialRatesCol = Some(v); this }
  protected def family: MixtureFamily = new PoissonFamily
  protected def initialParams: Array[Array[Double]] = initialRates.map(Array(_))
  protected def sampleExpr = array(col(sampleCol).cast("double"))
  override protected def initialParamsColExpr =
    initialRatesCol.map(c => org.apache.spark.sql.functions.transform(col(c).cast("array<double>"), r => array(r)))
}

/** Online Bernoulli mixture (params row = probability). */
class BernoulliMixture(mixtureCount: Int) extends MixtureBase[BernoulliMixture](mixtureCount) {
  private var initialProbabilities: Array[Double] =
    Array.tabulate(mixtureCount)(i => (i + 1.0) / (mixtureCount + 1.0))
  private var initialProbabilitiesCol: Option[String] = None
  def setInitialProbabilities(v: Array[Double]): this.type = { initialProbabilities = v; this }
  /** Per-key initial probabilities column: array<double> (one per component). */
  def setInitialProbabilitiesCol(v: String): this.type = { initialProbabilitiesCol = Some(v); this }
  protected def family: MixtureFamily = new BernoulliFamily
  protected def initialParams: Array[Array[Double]] = initialProbabilities.map(Array(_))
  protected def sampleExpr = array(col(sampleCol).cast("double"))
  override protected def initialParamsColExpr =
    initialProbabilitiesCol.map(c => org.apache.spark.sql.functions.transform(col(c).cast("array<double>"), p => array(p)))
}
