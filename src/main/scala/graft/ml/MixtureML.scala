package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types._

import graft.mixture.{MixtureBase => CoreMixtureBase}

/**
 * ML-Params surface of the online mixture estimators; params JSON-persist
 * through DefaultParamsWritable (double[][] via DoubleArrayArrayParam).
 * Parity: /root/reference/src/main/scala/com/github/ozancicek/artan/ml/mixture/MixtureParams.scala:1.
 */
private[ml] trait MixtureMLParams extends StatefulEngineParams {

  final val mixtureCount: IntParam = new IntParam(this, "mixtureCount",
    "number of mixture components", ParamValidators.gt(1))
  def setMixtureCount(value: Int): this.type = set(mixtureCount, value)

  final val sampleCol: Param[String] = new Param[String](this, "sampleCol", "sample column")
  def setSampleCol(value: String): this.type = set(sampleCol, value)

  final val stepSize: DoubleParam = new DoubleParam(this, "stepSize",
    "fixed stochastic-EM step size", ParamValidators.inRange(0.0, 1.0, false, true))
  def setStepSize(value: Double): this.type = set(stepSize, value)

  final val decayRate: DoubleParam = new DoubleParam(this, "decayRate",
    "step decays as (2+t)^(-decayRate); negative disables decay")
  def setDecayRate(value: Double): this.type = set(decayRate, value)

  final val minibatchSize: IntParam = new IntParam(this, "minibatchSize",
    "samples buffered per stochastic-EM step", ParamValidators.gt(0))
  def setMinibatchSize(value: Int): this.type = set(minibatchSize, value)

  final val updateHoldout: IntParam = new IntParam(this, "updateHoldout",
    "steps before emitted params start updating", ParamValidators.gtEq(0))
  def setUpdateHoldout(value: Int): this.type = set(updateHoldout, value)

  final val initialWeights: DoubleArrayParam = new DoubleArrayParam(this, "initialWeights",
    "initial component weights; default uniform")
  def setInitialWeights(value: Array[Double]): this.type = set(initialWeights, value)

  final val initialMixtureModelCol: Param[String] = new Param[String](this,
    "initialMixtureModelCol",
    "struct column (weights, params) carrying a per-key initial mixture model (warm start)")
  def setInitialMixtureModelCol(value: String): this.type = set(initialMixtureModelCol, value)

  final val enableBatchTrain: BooleanParam = new BooleanParam(this, "enableBatchTrain",
    "full-batch EM per key instead of online stochastic EM (batch DataFrames only)")
  def setEnableBatchTrain(): this.type = set(enableBatchTrain, true)

  final val batchTrainMaxIter: IntParam = new IntParam(this, "batchTrainMaxIter",
    "max EM iterations in batch train mode", ParamValidators.gt(0))
  def setBatchTrainMaxIter(value: Int): this.type = set(batchTrainMaxIter, value)

  final val batchTrainTol: DoubleParam = new DoubleParam(this, "batchTrainTol",
    "mean-loglikelihood improvement stopping tolerance", ParamValidators.gt(0.0))
  def setBatchTrainTol(value: Double): this.type = set(batchTrainTol, value)

  setDefault(sampleCol -> "sample", stepSize -> 0.1, decayRate -> -1.0,
    minibatchSize -> 1, updateHoldout -> 1, enableBatchTrain -> false,
    batchTrainMaxIter -> 30, batchTrainTol -> 0.1)

  protected final def configureMixture[B <: CoreMixtureBase[B]](b: B): B = {
    configureEngine(b)
    b.setSampleCol($(sampleCol))
    b.setStepSize($(stepSize))
    b.setDecayRate($(decayRate))
    b.setMinibatchSize($(minibatchSize))
    b.setUpdateHoldout($(updateHoldout))
    if (isSet(initialWeights)) b.setInitialWeights($(initialWeights))
    if (isSet(initialMixtureModelCol)) b.setInitialMixtureModelCol($(initialMixtureModelCol))
    if ($(enableBatchTrain)) b.setEnableBatchTrain()
    b.setBatchTrainMaxIter($(batchTrainMaxIter))
    b.setBatchTrainTol($(batchTrainTol))
    b
  }
}

/** Base of the mixture ML transformers: the configured core's `transform`,
  * and its output schema as `transformSchema`. */
abstract class MixtureTransformer(override val uid: String)
  extends Transformer with MixtureMLParams with DefaultParamsWritable {

  /** The configured plain-Scala core this transformer delegates to. */
  protected def core(): CoreMixtureBase[_]

  override def transform(dataset: Dataset[_]): DataFrame =
    core().transform(MLConv.vectorColsToArrays(dataset.toDF(), Seq($(sampleCol))))

  override def transformSchema(schema: StructType): StructType = MLConv.schemaOf(schema)(transform)
}

/** Online multivariate gaussian mixture as an ML Pipeline stage. */
class MultivariateGaussianMixture(override val uid: String) extends MixtureTransformer(uid) {

  def this() = this(Identifiable.randomUID("multivariateGaussianMixture"))
  def this(mixtureCount: Int, sampleSize: Int) = {
    this()
    set(this.mixtureCount, mixtureCount)
    set(this.sampleSize, sampleSize)
  }

  final val sampleSize: IntParam = new IntParam(this, "sampleSize",
    "dimension of the samples", ParamValidators.gt(0))
  def setSampleSize(value: Int): this.type = set(sampleSize, value)

  final val initialMeans: DoubleArrayArrayParam = new DoubleArrayArrayParam(this, "initialMeans",
    "initial component means (mixtureCount x sampleSize)")
  def setInitialMeans(value: Array[Array[Double]]): this.type = set(initialMeans, value)

  final val initialCovariances: DoubleArrayArrayParam = new DoubleArrayArrayParam(this,
    "initialCovariances", "initial component covariances, row-major (mixtureCount x sampleSize^2)")
  def setInitialCovariances(value: Array[Array[Double]]): this.type = set(initialCovariances, value)

  protected def core(): CoreMixtureBase[_] = {
    require(isSet(mixtureCount) && isSet(sampleSize), s"$uid: mixtureCount and sampleSize must be set")
    val b = new graft.mixture.MultivariateGaussianMixture($(mixtureCount), $(sampleSize))
    if (isSet(initialMeans)) b.setInitialMeans($(initialMeans))
    if (isSet(initialCovariances)) b.setInitialCovariances($(initialCovariances))
    configureMixture(b)
  }

  override def copy(extra: ParamMap): MultivariateGaussianMixture = defaultCopy(extra)
}

object MultivariateGaussianMixture extends DefaultParamsReadable[MultivariateGaussianMixture]

/** Online Poisson mixture as an ML Pipeline stage. */
class PoissonMixture(override val uid: String) extends MixtureTransformer(uid) {

  def this() = this(Identifiable.randomUID("poissonMixture"))
  def this(mixtureCount: Int) = {
    this()
    set(this.mixtureCount, mixtureCount)
  }

  final val initialRates: DoubleArrayParam = new DoubleArrayParam(this, "initialRates",
    "initial component rates")
  def setInitialRates(value: Array[Double]): this.type = set(initialRates, value)

  protected def core(): CoreMixtureBase[_] = {
    require(isSet(mixtureCount), s"$uid: mixtureCount must be set")
    val b = new graft.mixture.PoissonMixture($(mixtureCount))
    if (isSet(initialRates)) b.setInitialRates($(initialRates))
    configureMixture(b)
  }

  override def copy(extra: ParamMap): PoissonMixture = defaultCopy(extra)
}

object PoissonMixture extends DefaultParamsReadable[PoissonMixture]

/** Online Bernoulli mixture as an ML Pipeline stage. */
class BernoulliMixture(override val uid: String) extends MixtureTransformer(uid) {

  def this() = this(Identifiable.randomUID("bernoulliMixture"))
  def this(mixtureCount: Int) = {
    this()
    set(this.mixtureCount, mixtureCount)
  }

  final val initialProbabilities: DoubleArrayParam = new DoubleArrayParam(this,
    "initialProbabilities", "initial component probabilities")
  def setInitialProbabilities(value: Array[Double]): this.type = set(initialProbabilities, value)

  protected def core(): CoreMixtureBase[_] = {
    require(isSet(mixtureCount), s"$uid: mixtureCount must be set")
    val b = new graft.mixture.BernoulliMixture($(mixtureCount))
    if (isSet(initialProbabilities)) b.setInitialProbabilities($(initialProbabilities))
    configureMixture(b)
  }

  override def copy(extra: ParamMap): BernoulliMixture = defaultCopy(extra)
}

object BernoulliMixture extends DefaultParamsReadable[BernoulliMixture]
