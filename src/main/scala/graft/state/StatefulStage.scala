package graft.state

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Input rows to a stateful stage carry a grouping key and optional event time. */
trait KeyedIn extends Serializable {
  def stateKey: String
  def eventTime: Option[Timestamp]
}

/**
 * Sequential per-key state transition: the single piece of logic shared by the
 * batch and streaming physical paths. `update` folds a row into the state,
 * `output` emits rows for the updated state.
 */
trait StateSpec[I <: KeyedIn, S, O] extends Serializable {
  def update(key: String, row: I, state: Option[S]): Option[S]
  def output(key: String, row: I, state: S): List[O]

  /** Emitted when a key's rows are exhausted (encoder batch path only:
    * streams have no end, and [[SpecKernel]] does not call it). Default:
    * nothing. Lets specs run whole-group computations (e.g. batch EM)
    * without a second shuffle. */
  def finish(key: String, state: S): List[O] = Nil
}

sealed trait TimeoutMode { def conf: GroupStateTimeout }
case object NoTimeout extends TimeoutMode { def conf: GroupStateTimeout = GroupStateTimeout.NoTimeout }
case object ProcessTimeout extends TimeoutMode { def conf: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout }
case object EventTimeout extends TimeoutMode { def conf: GroupStateTimeout = GroupStateTimeout.EventTimeTimeout }

final case class StageConf(
    timeoutMode: TimeoutMode = NoTimeout,
    timeoutDuration: Option[String] = None,
    watermarkDuration: Option[String] = None,
    /** Caller-declared invariant: (stateKey, eventTime) is unique in the
      * input, so the batch path's deterministic-tiebreak column (a full-row
      * xxhash64 appended to every sort key) is unnecessary and skipped —
      * 8 bytes/row off the external sort key on every stateful query that
      * pre-aggregates to unique (key, time), which is all the estimator
      * queries. Leave false when duplicates on (key, time) are possible:
      * with the flag set their relative order is whatever the sort merge
      * yields that run. */
    assumeUniqueKeyTime: Boolean = false)

/**
 * One [[StateSpec]] per family, three drivers:
 *
 * - **Batch**: the key exchange and `sortWithinPartitions(stateKey,
 *   eventTime)`, then a sequential fold with key-boundary detection.
 *   Exactly one shuffle; ordering comes from Spark's external (spilling)
 *   sort, so a key with billions of rows never has to fit in memory —
 *   unlike `groupByKey.flatMapGroups`, which materializes each group.
 *   This is the 100 TB path: hash-partition by key across executors,
 *   sequential O(rows) compute per partition. Transforms run [[batchRows]]:
 *   a [[StatefulFold]] plan node whose kernel is the spec's row driver
 *   ([[SpecKernel]]). [[batch]] drives the spec through Dataset encoders
 *   and is the reference the kernels are pinned to.
 *
 * - **Streaming**: `groupByKey.flatMapGroupsWithState` in Append mode with
 *   optional watermark + state timeout (none / processing-time / event-time),
 *   sorting each micro-batch's rows per key by event time.
 *
 * Capability parity with the reference's stateful transformer
 * (/root/reference/src/main/scala/com/github/ozancicek/artan/ml/state/StatefulTransformer.scala:103),
 * re-expressed with Spark-native Product encoders for inputs and outputs;
 * the streaming state is stored as a Kryo blob (see [[stream]]).
 */
object StatefulStage {

  def run[I <: KeyedIn, S, O](ds: Dataset[I], spec: StateSpec[I, S, O], conf: StageConf = StageConf())(
      implicit ie: Encoder[I], oe: Encoder[O]): Dataset[O] = {
    if (ds.isStreaming) stream(ds, spec, conf) else batch(ds, spec, conf)
  }

  def batch[I <: KeyedIn, S, O](
      ds: Dataset[I], spec: StateSpec[I, S, O], conf: StageConf = StageConf())(
      implicit ie: Encoder[I], oe: Encoder[O]): Dataset[O] = {
    // __rowSeq: deterministic tiebreaker for equal/null event times. A full-row
    // hash (not monotonically_increasing_id: Spark rejects that expression
    // anywhere in a streaming query's plan, which would poison batch->stream
    // compositions like stream-batch init) — stable across runs AND across
    // input repartitionings; rows colliding on (key, time, hash) are either
    // identical (order irrelevant) or a 2^-64 event. Without it the external
    // sort's order on ties is whatever the merge yields that run. Skipped
    // when the caller declares (key, time) unique (conf.assumeUniqueKeyTime):
    // no ties exist, so the narrower sort key is equally deterministic.
    val ordered =
      if (conf.assumeUniqueKeyTime)
        ds.repartition(col("stateKey"))
          .sortWithinPartitions(col("stateKey"), col("eventTime"))
      else
        ds.withColumn("__rowSeq",
            org.apache.spark.sql.functions.xxhash64(ds.columns.map(col): _*))
          .repartition(col("stateKey"))
          .sortWithinPartitions(col("stateKey"), col("eventTime"), col("__rowSeq"))
          .drop("__rowSeq")
    ordered.as[I](ie)
      .mapPartitions { rows =>
        var curKey: String = null
        var state: Option[S] = None
        val perRow = rows.flatMap { r =>
          val k = r.stateKey
          val boundary =
            if (k != curKey && curKey != null) state.map(s => spec.finish(curKey, s)).getOrElse(Nil)
            else Nil
          if (k != curKey) { curKey = k; state = None }
          state = spec.update(k, r, state)
          boundary ++ (state match {
            case Some(s) => spec.output(k, r, s)
            case None => Nil
          })
        }
        // flush the final key after the partition's rows are exhausted
        perRow ++ new Iterator[O] {
          private var done = false
          private var pending: List[O] = Nil
          private def materialize(): Unit = if (!done) {
            done = true
            pending = if (curKey != null) state.map(s => spec.finish(curKey, s)).getOrElse(Nil) else Nil
          }
          def hasNext: Boolean = { materialize(); pending.nonEmpty }
          def next(): O = { materialize(); val h = pending.head; pending = pending.tail; h }
        }
      }
  }

  /**
   * InternalRow-level batch path: [[batch]]'s partitioning and ordering
   * contract (tiebreak hash unless (key, time) is declared unique) as a
   * [[StatefulFold]] node, folding Tungsten rows with no per-row encoder
   * round trip. `in` is the canonical input projection, starting with
   * (stateKey, eventTime); the kernels are [[SpecKernel]]s, running the
   * family's own StateSpec over decoded rows.
   *
   * Tiebreak note: __rowSeq is xxhash64 over THIS projection's columns, so
   * a kernel projection that drops constant columns carried by the encoder
   * path yields a different (still deterministic, still
   * input-repartitioning-stable) permutation of duplicate (key, time) rows.
   * Rows that tie on (key, time) and differ elsewhere have no defined fold
   * order in either path.
   */
  def batchRows(in: DataFrame, outSchema: StructType, conf: StageConf,
      kernel: FoldKernel): DataFrame =
    if (conf.assumeUniqueKeyTime) fold(in, Seq(col("stateKey"), col("eventTime")), outSchema, kernel)
    else
      fold(in.withColumn("__rowSeq", xxhash64(in.columns.map(col): _*)),
        Seq(col("stateKey"), col("eventTime"), col("__rowSeq")), outSchema, kernel)

  /** Folds `in` with `kernel`, clustered on stateKey (the first column of
    * `in` and `outSchema`) and sorted by `order` within each partition. */
  def fold(in: DataFrame, order: Seq[Column], outSchema: StructType,
      kernel: FoldKernel): DataFrame = {
    val session = in.sparkSession
    StatefulFoldStrategy.register(session)
    val sorted = in.sortWithinPartitions(order: _*).queryExecution.analyzed.asInstanceOf[Sort]
    val key = sorted.child.output.head
    require(key.name == "stateKey" && outSchema.head.dataType == key.dataType,
      s"fold input and output must start with stateKey: ${key.name} / ${outSchema.head}")
    val output = key +: outSchema.tail.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    Bridge.dataFrame(session, StatefulFold(kernel, sorted.order, output, sorted.child))
  }

  /** Event time in microseconds, the unit batch sorts by: `getTime` alone
    * drops the sub-millisecond part. */
  private[graft] def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

  /** Rejects a state timeout that is only half configured: Spark would
    * never fire a mode without a duration, and a duration without a mode
    * would be dropped. */
  def stream[I <: KeyedIn, S, O](ds: Dataset[I], spec: StateSpec[I, S, O], conf: StageConf)(
      implicit ie: Encoder[I], oe: Encoder[O]): Dataset[O] = {
    require(conf.timeoutMode == NoTimeout || conf.timeoutDuration.isDefined,
      s"state timeout mode ${conf.timeoutMode} needs setStateTimeoutDuration")
    require(conf.timeoutMode != NoTimeout || conf.timeoutDuration.isEmpty,
      s"state timeout duration ${conf.timeoutDuration.get} needs setStateTimeoutMode(\"process\" or \"event\")")
    import org.apache.spark.sql.{Encoders => Encs}
    // Kryo state-store encoding: ~5-10x smaller/faster than Java
    // serialization for the array-heavy filter states (the output rows still
    // use Spark-native Product encoders; only the opaque state blob is Kryo,
    // matching the reference's choice, StatefulTransformer.scala:117).
    implicit val stateEnc: Encoder[Wrapped[S]] = Encs.kryo[Wrapped[S]]
    implicit val keyEnc: Encoder[String] = Encs.STRING

    val withWm = conf.watermarkDuration match {
      case Some(d) => ds.withWatermark("eventTime", d)
      case None => ds
    }

    val func = (key: String, rows: Iterator[I], gs: GroupState[Wrapped[S]]) => {
      if (gs.hasTimedOut) {
        gs.remove()
        Iterator.empty
      } else {
        var state: Option[S] = gs.getOption.map(_.value)
        val out = List.newBuilder[O]
        rows.toSeq.sortBy(_.eventTime.map(micros).getOrElse(Long.MinValue)).foreach { row =>
          state = spec.update(key, row, state)
          state.foreach { s =>
            gs.update(Wrapped(s))
            conf.timeoutMode match {
              case EventTimeout =>
                row.eventTime.foreach(ts => gs.setTimeoutTimestamp(ts.getTime, conf.timeoutDuration.get))
              case ProcessTimeout => gs.setTimeoutDuration(conf.timeoutDuration.get)
              case NoTimeout =>
            }
            out ++= spec.output(key, row, s)
          }
        }
        out.result().iterator
      }
    }

    withWm
      .groupByKey(_.stateKey)
      .flatMapGroupsWithState(OutputMode.Append, conf.timeoutMode.conf)(func)
  }
}

/** Serializable box so arbitrary state types ride in the state store. */
final case class Wrapped[S](value: S) extends Serializable
