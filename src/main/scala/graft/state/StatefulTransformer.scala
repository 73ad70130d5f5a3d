package graft.state

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

/**
 * The settings every estimator on the stateful engine shares, declared once:
 * the state key and event-time columns and one [[StageConf]] (watermark,
 * state timeout, unique (key, time)). A family supplies its input
 * projection, its [[StateSpec]] and its row kernel; this class supplies the
 * key and time expressions, the engine settings and the output renaming.
 *
 * Parity with artan's `StatefulTransformer` (ml/state/StatefulTransformer.scala),
 * which every artan filter extends.
 */
abstract class StatefulTransformer {

  protected var stateKeyCol: Option[String] = None
  protected var eventTimeCol: Option[String] = None
  /** Passed to every [[StatefulStage]] call the estimator makes. */
  protected var stageConf: StageConf = StageConf()

  def setStateKeyCol(v: String): this.type = { stateKeyCol = Some(v); this }
  def setEventTimeCol(v: String): this.type = { eventTimeCol = Some(v); this }
  def setWatermarkDuration(v: String): this.type = {
    stageConf = stageConf.copy(watermarkDuration = Some(v)); this
  }
  def setStateTimeoutMode(v: String): this.type = {
    val mode = v match {
      case "none" => NoTimeout
      case "process" => ProcessTimeout
      case "event" => EventTimeout
      case other => throw new IllegalArgumentException(s"unsupported timeout mode $other")
    }
    stageConf = stageConf.copy(timeoutMode = mode); this
  }
  def setStateTimeoutDuration(v: String): this.type = {
    stageConf = stageConf.copy(timeoutDuration = Some(v)); this
  }

  /** The state key of every row when no key column is set. */
  protected def defaultStateKey: String = getClass.getSimpleName + ".default"

  protected def keyExpr: Column =
    stateKeyCol.map(c => col(c).cast("string")).getOrElse(lit(defaultStateKey))
  protected def timeExpr: Column =
    eventTimeCol.map(c => col(c).cast("timestamp")).getOrElse(lit(null).cast("timestamp"))

  /** Renames the engine's stateKey/eventTime columns to the caller's input
    * column names; without an event-time column, eventTime is dropped. */
  protected def userColumns(df: DataFrame): DataFrame = {
    val keyed = stateKeyCol.fold(df)(df.withColumnRenamed("stateKey", _))
    eventTimeCol.fold(keyed.drop("eventTime"))(keyed.withColumnRenamed("eventTime", _))
  }
}

/** Estimators that may declare (stateKey, eventTime) unique in their input. */
trait UniqueEventTimes extends StatefulTransformer {
  /** Declare (stateKey, eventTime) unique in the input: the batch path then
    * skips its full-row-hash sort tiebreaker, narrowing the external sort
    * key by 8 bytes/row (see StageConf.assumeUniqueKeyTime). Only set when
    * the invariant truly holds — with duplicate (key, time) rows and this
    * flag, their fold order is nondeterministic. */
  def setAssumeUniqueEventTimes(): this.type = {
    stageConf = stageConf.copy(assumeUniqueKeyTime = true); this
  }
}
