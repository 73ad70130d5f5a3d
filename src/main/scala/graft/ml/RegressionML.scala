package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.linalg.{Matrix, Vector}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types._

import MLConv._

private[ml] trait OnlineRegressionParams extends StatefulEngineParams {

  final val featuresSize: IntParam = new IntParam(this, "featuresSize",
    "dimension of the feature vector", ParamValidators.gt(0))
  def setFeaturesSize(value: Int): this.type = set(featuresSize, value)

  final val labelCol: Param[String] = new Param[String](this, "labelCol", "label column")
  def setLabelCol(value: String): this.type = set(labelCol, value)

  final val featuresCol: Param[String] = new Param[String](this, "featuresCol", "features column")
  def setFeaturesCol(value: String): this.type = set(featuresCol, value)

  final val initialEstimate: Param[Vector] = new Param[Vector](this, "initialEstimate",
    "initial weight vector; default zeros")
  def setInitialEstimate(value: Vector): this.type = set(initialEstimate, value)

  final val initialEstimateCol: Param[String] = new Param[String](this, "initialEstimateCol",
    "per-key initial weight vector column")
  def setInitialEstimateCol(value: String): this.type = set(initialEstimateCol, value)

  setDefault(labelCol -> "label", featuresCol -> "features")
}

/** Recursive least squares as an ML Pipeline stage. */
class RecursiveLeastSquaresFilter(override val uid: String)
    extends Transformer with OnlineRegressionParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("recursiveLeastSquaresFilter"))
  def this(featuresSize: Int) = {
    this()
    set(this.featuresSize, featuresSize)
  }

  final val forgettingFactor: DoubleParam = new DoubleParam(this, "forgettingFactor",
    "exponential forgetting factor in (0, 1]", ParamValidators.inRange(0.0, 1.0, false, true))
  def setForgettingFactor(value: Double): this.type = set(forgettingFactor, value)

  final val regularizationMatrix: Param[Matrix] = new Param[Matrix](this, "regularizationMatrix",
    "initial inverse-regularization matrix P0; default 1e5 * I")
  def setRegularizationMatrix(value: Matrix): this.type = set(regularizationMatrix, value)

  final val regularizationMatrixFactor: DoubleParam = new DoubleParam(this,
    "regularizationMatrixFactor", "P0 = factor * I", ParamValidators.gt(0.0))
  def setRegularizationMatrixFactor(value: Double): this.type = set(regularizationMatrixFactor, value)

  final val regularizationMatrixCol: Param[String] = new Param[String](this,
    "regularizationMatrixCol", "per-key P0 column")
  def setRegularizationMatrixCol(value: String): this.type = set(regularizationMatrixCol, value)

  setDefault(forgettingFactor -> 1.0)

  override def transform(dataset: Dataset[_]): DataFrame = {
    require(isSet(featuresSize), s"$uid: featuresSize must be set")
    val b = new graft.filter.RecursiveLeastSquaresFilter($(featuresSize))
    configureEngine(b)
    b.setLabelCol($(labelCol))
    b.setFeaturesCol($(featuresCol))
    b.setForgettingFactor($(forgettingFactor))
    if (isSet(initialEstimate)) b.setInitialEstimate(toArr($(initialEstimate)))
    if (isSet(initialEstimateCol)) b.setInitialEstimateCol($(initialEstimateCol))
    if (isSet(regularizationMatrix)) b.setRegularizationMatrix(toDMat($(regularizationMatrix)))
    if (isSet(regularizationMatrixFactor)) b.setRegularizationMatrixFactor($(regularizationMatrixFactor))
    if (isSet(regularizationMatrixCol)) b.setRegularizationMatrixCol($(regularizationMatrixCol))
    b.transform(MLConv.vectorColsToArrays(dataset.toDF(),
      Seq(Some($(featuresCol)), get(initialEstimateCol)).flatten))
  }

  override def transformSchema(schema: StructType): StructType = MLConv.schemaOf(schema)(transform)

  override def copy(extra: ParamMap): RecursiveLeastSquaresFilter = defaultCopy(extra)
}

object RecursiveLeastSquaresFilter extends DefaultParamsReadable[RecursiveLeastSquaresFilter]

/** Normalized least-mean-squares as an ML Pipeline stage. */
class LeastMeanSquaresFilter(override val uid: String)
    extends Transformer with OnlineRegressionParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("leastMeanSquaresFilter"))
  def this(featuresSize: Int) = {
    this()
    set(this.featuresSize, featuresSize)
  }

  final val learningRate: DoubleParam = new DoubleParam(this, "learningRate",
    "LMS step size mu", ParamValidators.gt(0.0))
  def setLearningRate(value: Double): this.type = set(learningRate, value)

  final val regularization: DoubleParam = new DoubleParam(this, "regularization",
    "normalization constant eps in mu / (eps + x'x)", ParamValidators.gt(0.0))
  def setRegularization(value: Double): this.type = set(regularization, value)

  setDefault(learningRate -> 1.0, regularization -> 1.0)

  override def transform(dataset: Dataset[_]): DataFrame = {
    require(isSet(featuresSize), s"$uid: featuresSize must be set")
    val b = new graft.filter.LeastMeanSquaresFilter($(featuresSize))
    configureEngine(b)
    b.setLabelCol($(labelCol))
    b.setFeaturesCol($(featuresCol))
    b.setLearningRate($(learningRate))
    b.setRegularization($(regularization))
    if (isSet(initialEstimate)) b.setInitialEstimate(toArr($(initialEstimate)))
    if (isSet(initialEstimateCol)) b.setInitialEstimateCol($(initialEstimateCol))
    b.transform(MLConv.vectorColsToArrays(dataset.toDF(),
      Seq(Some($(featuresCol)), get(initialEstimateCol)).flatten))
  }

  override def transformSchema(schema: StructType): StructType = MLConv.schemaOf(schema)(transform)

  override def copy(extra: ParamMap): LeastMeanSquaresFilter = defaultCopy(extra)
}

object LeastMeanSquaresFilter extends DefaultParamsReadable[LeastMeanSquaresFilter]
