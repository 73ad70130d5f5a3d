package graft.state

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
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
 * run in two places:
 *
 * - **Batch** ([[batchRows]]): the key exchange and a sort by (stateKey,
 *   eventTime[, __rowSeq]), then a sequential fold with key-boundary
 *   detection in a [[StatefulFold]] plan node. Exactly one shuffle; ordering
 *   comes from Spark's external (spilling) sort, so a key with billions of
 *   rows never has to fit in memory. This is the 100 TB path:
 *   hash-partition by key across executors, sequential O(rows) compute per
 *   partition.
 *
 * - **Streaming** ([[stream]]): `flatMapGroupsWithState` in Append mode
 *   over the same projection, grouped on its stateKey column, with optional
 *   watermark and state timeout (none / processing-time / event-time). Each
 *   key's micro-batch rows are sorted as batch sorts them and folded from
 *   the key's stored state, which is kept as the struct of the spec's
 *   state case class, readable with Spark's state data source.
 *
 * [[batch]] drives the spec through Dataset encoders: it is the reference
 * the row kernels are pinned to, and the driver of batch EM, whose spec
 * emits at the end of a key.
 *
 * Capability parity with artan's stateful transformer
 * (ml/state/StatefulTransformer.scala).
 */
object StatefulStage {

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
   * input-repartitioning-stable) permutation of duplicate (key, time) rows
   * than the encoder reference. [[stream]] sorts by the same hash, so batch
   * and streaming fold tied rows in the same order.
   */
  def batchRows(in: DataFrame, outSchema: StructType, conf: StageConf,
      kernel: FoldKernel): DataFrame = {
    val rows = sequenced(in, conf)
    fold(rows, Seq("stateKey", "eventTime", "__rowSeq").filter(rows.columns.contains).map(col), outSchema, kernel)
  }

  /** `in` with the tiebreak column `__rowSeq` (xxhash64 over its columns)
    * appended, unless (key, time) is declared unique. */
  private def sequenced(in: DataFrame, conf: StageConf): DataFrame =
    if (conf.assumeUniqueKeyTime) in else in.withColumn("__rowSeq", xxhash64(in.columns.map(col): _*))

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

  /**
   * The streaming driver: [[SpecKernel]] `kernel` folds each key's rows of a
   * micro-batch, from the key's stored state, in a `flatMapGroupsWithState`
   * node grouped on stateKey. `in` is the family's canonical projection,
   * the one [[batchRows]] folds. Its rows reach the kernel undecoded; each
   * key's rows are copied off Spark's reused row buffer and sorted by
   * (eventTime µs, __rowSeq), the order batch folds them in, so tied
   * (key, time) rows fold alike in both modes (`__rowSeq` is the same
   * xxhash64 over `in`, skipped when (key, time) is declared unique). The
   * state is stored in `state`'s row form, the struct of its case class.
   *
   * A state timeout needs both a mode and a duration: Spark would never
   * fire a mode without a duration, and a duration without a mode would be
   * dropped.
   */
  def stream[S](in: DataFrame, outSchema: StructType, conf: StageConf,
      kernel: SpecKernel[_, S, _], state: StateCodec[S]): DataFrame = {
    val rows = sequenced(in, conf)
    streamFold(rows, Seq("eventTime", "__rowSeq").filter(rows.columns.contains), outSchema, conf, kernel, state)
  }

  /** [[stream]] with each key's micro-batch rows sorted by the `order`
    * columns of `in` (long or timestamp, nulls first) instead: the
    * streaming form of [[fold]]. */
  def streamFold[S](in: DataFrame, order: Seq[String], outSchema: StructType, conf: StageConf,
      kernel: SpecKernel[_, S, _], state: StateCodec[S]): DataFrame = {
    require(conf.timeoutMode == NoTimeout || conf.timeoutDuration.isDefined,
      s"state timeout mode ${conf.timeoutMode} needs setStateTimeoutDuration")
    require(conf.timeoutMode != NoTimeout || conf.timeoutDuration.isEmpty,
      s"state timeout duration ${conf.timeoutDuration.get} needs setStateTimeoutMode(\"process\" or \"event\")")
    val rows = conf.watermarkDuration.fold(in)(in.withWatermark("eventTime", _))
    val ordinals = order.map(c => rows.columns.indexOf(c)).toArray
    require(!ordinals.contains(-1), s"order columns ${order.mkString(", ")} not all in ${rows.columns.mkString(", ")}")
    val byOrder = new MicroBatchOrder(ordinals)
    Bridge.flatMapGroupsWithState(rows, "stateKey", new StreamFold(kernel, state, byOrder, conf), state.schema,
      outSchema, conf.timeoutMode.conf)
  }
}

/** One key's micro-batch in [[StatefulStage.stream]]: its rows, sorted,
  * folded from the stored state; the new state is stored, and the timeout
  * set from the last row with a time. */
private final class StreamFold[S](kernel: SpecKernel[_, S, _], state: StateCodec[S],
    order: java.util.Comparator[InternalRow], conf: StageConf)
  extends ((InternalRow, Iterator[InternalRow], GroupState[InternalRow]) => Iterator[InternalRow]) with Serializable {

  def apply(key: InternalRow, values: Iterator[InternalRow], gs: GroupState[InternalRow]): Iterator[InternalRow] =
    if (gs.hasTimedOut) {
      gs.remove()
      Iterator.empty
    } else {
      val rows = values.map(_.copy()).toArray
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
            rows.reverseIterator.find(!_.isNullAt(kernel.timeIn)).foreach { r =>
              gs.setTimeoutTimestamp(Math.floorDiv(r.getLong(kernel.timeIn), 1000L), conf.timeoutDuration.get)
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
