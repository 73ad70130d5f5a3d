package graft.state

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

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

  /** Emitted when a key's rows are exhausted, after the output of its last
    * row, by both batch folds ([[SpecKernel]]'s loop and the encoder
    * reference [[StatefulStage.batch]]); a stream has no end, so the
    * streaming fold never calls it. Default: nothing. Lets specs run
    * whole-group computations (batch EM) without a second shuffle. */
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
      * input, so the deterministic-tiebreak column both drivers sort by (a
      * full-row xxhash64 appended to every sort key) is unnecessary and
      * skipped — 8 bytes/row off the external sort key on every stateful
      * query that pre-aggregates to unique (key, time), which is all the
      * estimator queries. Leave false when duplicates on (key, time) are possible:
      * with the flag set their relative order is whatever the sort merge
      * yields that run. */
    assumeUniqueKeyTime: Boolean = false)

/**
 * One [[StateSpec]] per family and one row driver of it ([[SpecKernel]]),
 * which [[run]] drives in two places, picked by whether the input streams:
 *
 * - **Batch**: the key exchange and a sort by (stateKey, eventTime
 *   [, __rowSeq]), then a sequential fold with key-boundary detection in a
 *   [[StatefulFold]] plan node. Exactly one shuffle; ordering comes from
 *   Spark's external (spilling) sort, so a key with billions of rows never
 *   has to fit in memory. This is the 100 TB path: hash-partition by key
 *   across executors, sequential O(rows) compute per partition.
 *
 * - **Streaming**: `flatMapGroupsWithState` in Append mode over the same
 *   projection, grouped on its stateKey column, with optional watermark
 *   and state timeout (none / processing-time / event-time). Each key's
 *   micro-batch rows are sorted as batch sorts them and folded from the
 *   key's stored state, which is kept in the kernel's [[StateCodec]] form,
 *   the struct of the spec's state case class, readable with Spark's state
 *   data source.
 *
 * [[batch]] drives a spec through Dataset encoders. It is the reference
 * the row kernels are pinned to, and only the families' encoder references
 * (`transformEncoderBatch`, `smoothEncoderBatch`,
 * `smoothFixedLagEncoderBatch`) call it.
 *
 * Capability parity with artan's stateful transformer
 * (ml/state/StatefulTransformer.scala).
 */
object StatefulStage {

  /**
   * The encoder reference: `spec` over `ds`, clustered on stateKey, each
   * key's rows in `order`, or, with no `order`, by (eventTime, __rowSeq)
   * as [[run]] folds them; `finish` runs at the end of each key.
   */
  def batch[I <: KeyedIn, S, O](
      ds: Dataset[I], spec: StateSpec[I, S, O], conf: StageConf = StageConf(), order: Seq[Column] = Nil)(
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
      if (order.nonEmpty)
        ds.repartition(col("stateKey")).sortWithinPartitions(col("stateKey") +: order: _*)
      else if (conf.assumeUniqueKeyTime)
        ds.repartition(col("stateKey"))
          .sortWithinPartitions(col("stateKey"), col("eventTime"))
      else
        ds.withColumn("__rowSeq", xxhash64(ds.columns.map(col): _*))
          .repartition(col("stateKey"))
          .sortWithinPartitions(col("stateKey"), col("eventTime"), col("__rowSeq"))
          .drop("__rowSeq")
    ordered.as[I](ie)
      .mapPartitions { rows =>
        // a null key is a key of its own, as in [[SpecKernel]]
        var started = false
        var curKey: String = null
        var state: Option[S] = None
        def finish(): List[O] = if (started) state.map(s => spec.finish(curKey, s)).getOrElse(Nil) else Nil
        val perRow = rows.flatMap { r =>
          val k = r.stateKey
          val boundary = if (started && k != curKey) finish() else Nil
          if (!started || k != curKey) { curKey = k; state = None; started = true }
          state = spec.update(k, r, state)
          boundary ++ (state match {
            case Some(s) => spec.output(k, r, s)
            case None => Nil
          })
        }
        // the last key's finish, once the partition's rows are exhausted
        perRow ++ finish()
      }
  }

  /**
   * Folds `in`, the family's canonical projection starting with (stateKey,
   * eventTime), with `kernel`: a [[StatefulFold]] node over a batch input,
   * a `flatMapGroupsWithState` node over a stream. Each key's rows fold in
   * [[batch]]'s order, by (eventTime, __rowSeq), where `__rowSeq` is an
   * xxhash64 over `in`'s columns, skipped when (key, time) is declared
   * unique; so batch and streaming fold tied (key, time) rows alike.
   *
   * Tiebreak note: a kernel projection that drops constant columns carried
   * by the encoder path yields a different (still deterministic, still
   * input-repartitioning-stable) permutation of duplicate (key, time) rows
   * than the encoder reference.
   */
  def run[S](in: DataFrame, conf: StageConf, kernel: SpecKernel[_, S, _]): DataFrame = {
    val rows = sequenced(in, conf)
    run(rows, conf, kernel, Seq("eventTime", "__rowSeq").filter(rows.columns.contains))
  }

  /** [[run]] with each key's rows in the `order` columns of `in` (long or
    * timestamp, ascending, nulls first) instead. */
  def run[S](in: DataFrame, conf: StageConf, kernel: SpecKernel[_, S, _], order: Seq[String]): DataFrame =
    if (in.isStreaming) streamFold(in, order, conf, kernel)
    else fold(in, col("stateKey") +: order.map(col), kernel)

  /** `in` with the tiebreak column `__rowSeq` (xxhash64 over its columns)
    * appended, unless (key, time) is declared unique. */
  private def sequenced(in: DataFrame, conf: StageConf): DataFrame =
    if (conf.assumeUniqueKeyTime) in else in.withColumn("__rowSeq", xxhash64(in.columns.map(col): _*))

  /** Folds batch `in` with `kernel`, clustered on stateKey (the first
    * column of `in` and of the kernel's output) and sorted by `order`
    * within each partition. */
  def fold(in: DataFrame, order: Seq[Column], kernel: FoldKernel): DataFrame = {
    val session = in.sparkSession
    StatefulFoldStrategy.register(session)
    val sorted = in.sortWithinPartitions(order: _*).queryExecution.analyzed.asInstanceOf[Sort]
    val key = sorted.child.output.head
    val outSchema = kernel.outputSchema
    require(key.name == "stateKey" && outSchema.head.dataType == key.dataType,
      s"fold input and output must start with stateKey: ${key.name} / ${outSchema.head}")
    val output = key +: outSchema.tail.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    Bridge.dataFrame(session, StatefulFold(kernel, sorted.order, output, sorted.child))
  }

  /** Event time in microseconds, the unit batch sorts by: `getTime` alone
    * drops the sub-millisecond part. */
  private[graft] def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

  /**
   * The streaming fold: `kernel` folds each key's rows of a micro-batch,
   * from the key's stored state, in a `flatMapGroupsWithState` node grouped
   * on stateKey. The rows reach the kernel undecoded; each key's rows are
   * copied off Spark's reused row buffer and sorted by the `order` columns
   * of `in`, the order batch folds them in. The state is stored in the
   * kernel's [[StateCodec]] form, the struct of its case class. The
   * watermark, when set, is put on `in`'s eventTime column, and rows at or
   * behind it are dropped before the fold, whatever the timeout mode
   * (Spark drops them itself only under an event-time timeout).
   *
   * A state timeout needs both a mode and a duration: Spark would never
   * fire a mode without a duration, and a duration without a mode would be
   * dropped.
   */
  private def streamFold[S](in: DataFrame, order: Seq[String], conf: StageConf,
      kernel: SpecKernel[_, S, _]): DataFrame = {
    val state = kernel.state.getOrElse(throw new IllegalArgumentException(
      s"${kernel.getClass.getSimpleName} folds batch input only"))
    require(conf.timeoutMode == NoTimeout || conf.timeoutDuration.isDefined,
      s"state timeout mode ${conf.timeoutMode} needs setStateTimeoutDuration")
    require(conf.timeoutMode != NoTimeout || conf.timeoutDuration.isEmpty,
      s"state timeout duration ${conf.timeoutDuration.get} needs setStateTimeoutMode(\"process\" or \"event\")")
    val rows = conf.watermarkDuration.fold(in)(in.withWatermark("eventTime", _))
    val ordinals = order.map(c => rows.columns.indexOf(c)).toArray
    require(!ordinals.contains(-1), s"order columns ${order.mkString(", ")} not all in ${rows.columns.mkString(", ")}")
    val byOrder = new MicroBatchOrder(ordinals)
    Bridge.flatMapGroupsWithState(rows, "stateKey", new StreamFold(kernel, state, byOrder, conf), state.schema,
      kernel.outputSchema, conf.timeoutMode.conf)
  }
}

/** One key's micro-batch in [[StatefulStage.streamFold]]: its rows, less
  * those at or behind the watermark, sorted and folded from the stored
  * state; the new state is stored, and the timeout set from the last row
  * with a time. */
private final class StreamFold[S](kernel: SpecKernel[_, S, _], state: StateCodec[S],
    order: java.util.Comparator[InternalRow], conf: StageConf)
  extends ((InternalRow, Iterator[InternalRow], GroupState[InternalRow]) => Iterator[InternalRow]) with Serializable {

  def apply(key: InternalRow, values: Iterator[InternalRow], gs: GroupState[InternalRow]): Iterator[InternalRow] =
    if (gs.hasTimedOut) {
      gs.remove()
      Iterator.empty
    } else {
      val time = kernel.timeIn
      // rows at or behind the watermark are late: dropped in every timeout
      // mode, as Spark drops them before the fold under an event-time one
      val watermarkUs = if (conf.watermarkDuration.isEmpty) 0L else gs.getCurrentWatermarkMs() * 1000L
      val rows = (if (watermarkUs == 0L) values
        else values.filter(r => r.isNullAt(time) || r.getLong(time) > watermarkUs)).map(_.copy()).toArray
      java.util.Arrays.sort(rows, order)
      val fold = kernel.start(if (key.isNullAt(0)) null else key.getUTF8String(0).copy(),
        gs.getOption.map(state.decode))
      val out = Array.newBuilder[InternalRow]
      rows.foreach { r =>
        fold.step(r)
        while (fold.hasOutput) out += fold.output()
      }
      fold.state.foreach { s =>
        gs.update(state.encode(s))
        conf.timeoutMode match {
          case EventTimeout =>
            rows.reverseIterator.find(!_.isNullAt(time)).foreach { r =>
              gs.setTimeoutTimestamp(Math.floorDiv(r.getLong(time), 1000L), conf.timeoutDuration.get)
            }
          case ProcessTimeout => gs.setTimeoutDuration(conf.timeoutDuration.get)
          case NoTimeout =>
        }
      }
      out.result().iterator
    }
}

/** A fold order of one key's rows: by the long columns at `ordinals`, in
  * turn, a null before any value. */
private final class MicroBatchOrder(ordinals: Array[Int])
  extends java.util.Comparator[InternalRow] with Serializable {
  def compare(a: InternalRow, b: InternalRow): Int = {
    var c = 0
    var i = 0
    while (c == 0 && i < ordinals.length) {
      val o = ordinals(i)
      c = if (a.isNullAt(o)) { if (b.isNullAt(o)) 0 else -1 }
          else if (b.isNullAt(o)) 1
          else java.lang.Long.compare(a.getLong(o), b.getLong(o))
      i += 1
    }
    c
  }
}
