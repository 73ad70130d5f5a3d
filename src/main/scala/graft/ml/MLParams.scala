package graft.ml

import org.apache.spark.ml.linalg.{Matrix, Vector}
import org.apache.spark.ml.param._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.linalg.DMat

/**
 * Conversions between the MLlib linalg types used on the ML-Params surface
 * (JSON-persistable via DefaultParamsWritable: Spark's generic Param encodes
 * Vector/Matrix natively) and graft's internal flat row-major kernels.
 *
 * API parity: the reference exposes its whole surface as ML `Params`
 * transformers (/root/reference/src/main/scala/com/github/ozancicek/artan/ml/filter/KalmanBase.scala:37);
 * graft.ml wraps the plain-Scala builders in the same contract.
 */
private[ml] object MLConv {
  def toDMat(m: Matrix): DMat = {
    val r = m.numRows
    val c = m.numCols
    val v = new Array[Double](r * c)
    var i = 0
    while (i < r) {
      var j = 0
      while (j < c) { v(i * c + j) = m(i, j); j += 1 }
      i += 1
    }
    DMat(r, c, v)
  }

  def toMatrix(m: DMat): Matrix =
    new org.apache.spark.ml.linalg.DenseMatrix(m.numRows, m.numCols, m.values, true)

  def toArr(v: Vector): Array[Double] = v.toArray

  /** Rewrite any MLlib VectorUDT input columns to array<double> so the
    * plain-Scala cores (which speak arrays) accept VectorAssembler output
    * directly — the pyspark.ml composition path. Missing columns and
    * already-array columns pass through untouched. */
  def vectorColsToArrays(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.DataFrame =
    cols.distinct.filter(df.schema.fieldNames.contains).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        // VectorUDT itself is private[spark]; recognize it via the UDT's
        // user class
        case udt: org.apache.spark.sql.types.UserDefinedType[_]
            if classOf[Vector].isAssignableFrom(udt.userClass) =>
          d.withColumn(c, org.apache.spark.ml.functions.vector_to_array(
            org.apache.spark.sql.functions.col(c)))
        case _ => d
      }
    }

  /** The schema `transform` gives an input of `schema`: the schema of its
    * output over an empty frame of `schema`, so an ML stage declares
    * exactly what its core emits, and a missing input column fails here. */
  def schemaOf(schema: StructType)(transform: DataFrame => DataFrame): StructType =
    transform(SparkSession.active.createDataFrame(java.util.Collections.emptyList[Row](), schema)).schema
}

/** Params shared by every transformer running on the stateful engine
  * (key-parallel models, event-time ordering, watermark, state timeout). */
private[ml] trait StatefulEngineParams extends Params {

  final val stateKeyCol: Param[String] = new Param[String](this, "stateKeyCol",
    "column identifying the model instance; one independent model runs per distinct key")
  final def getStateKeyCol: String = $(stateKeyCol)
  def setStateKeyCol(value: String): this.type = set(stateKeyCol, value)

  final val eventTimeCol: Param[String] = new Param[String](this, "eventTimeCol",
    "event-time column used for in-key ordering (batch) and watermarking (streaming)")
  final def getEventTimeCol: String = $(eventTimeCol)
  def setEventTimeCol(value: String): this.type = set(eventTimeCol, value)

  final val watermarkDuration: Param[String] = new Param[String](this, "watermarkDuration",
    "streaming watermark duration applied to the event-time column, e.g. '10 minutes'")
  final def getWatermarkDuration: String = $(watermarkDuration)
  def setWatermarkDuration(value: String): this.type = set(watermarkDuration, value)

  final val stateTimeoutMode: Param[String] = new Param[String](this, "stateTimeoutMode",
    "streaming state timeout mode: none, process or event",
    ParamValidators.inArray(Array("none", "process", "event")))
  final def getStateTimeoutMode: String = $(stateTimeoutMode)
  def setStateTimeoutMode(value: String): this.type = set(stateTimeoutMode, value)

  final val stateTimeoutDuration: Param[String] = new Param[String](this, "stateTimeoutDuration",
    "streaming state timeout duration, e.g. '1 hour'")
  final def getStateTimeoutDuration: String = $(stateTimeoutDuration)
  def setStateTimeoutDuration(value: String): this.type = set(stateTimeoutDuration, value)

  setDefault(stateTimeoutMode -> "none")

  /** Hands the key, event-time, watermark and timeout settings to a core
    * estimator. */
  protected final def configureEngine(core: graft.state.StatefulTransformer): Unit = {
    if (isSet(stateKeyCol)) core.setStateKeyCol($(stateKeyCol))
    if (isSet(eventTimeCol)) core.setEventTimeCol($(eventTimeCol))
    if (isSet(watermarkDuration)) core.setWatermarkDuration($(watermarkDuration))
    core.setStateTimeoutMode($(stateTimeoutMode))
    if (isSet(stateTimeoutDuration)) core.setStateTimeoutDuration($(stateTimeoutDuration))
  }
}
