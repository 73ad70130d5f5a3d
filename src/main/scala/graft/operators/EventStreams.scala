package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.state.StatefulStage.micros

/**
 * Streaming twins of the event-analytics pair (q_funnel / q_retention).
 * Both carry BOUNDED per-user state across micro-batches — a fixed handful
 * of longs per user, never event history — so state size scales with the
 * user population, not the event volume.
 *
 *  - Funnel: state = first-occurrence millis per stage (one long per
 *    stage). Each micro-batch folds its events into the mins and emits the
 *    user's current consecutive-stage reach; in update mode the LATEST row
 *    per user is the live funnel position, and the batch fold over a single
 *    micro-batch reproduces q_funnel exactly (min is commutative, so
 *    in-batch arrival order never matters).
 *
 *  - Retention: state = first-event millis. Each event is emitted tagged
 *    with the user's running first_ts; the cohort/offset date arithmetic
 *    stays in DataFrame-land (the exact q_retention column expressions), so
 *    batch and stream share one formulation. Event-time-ordered delivery
 *    per user (the watermarked shape) makes the running min the true min —
 *    the same assumption every first-touch streaming attribution makes.
 *
 * Nulls: a null user is a key of its own, emitted as null, never merged
 * with a user named "null". A row with a null event time is skipped by the
 * time-ordered twins (retention, attribution, burstiness, sessions,
 * transitions) and by the funnel's fold, as the batch twins leave it out of
 * their orderings; it never fails the micro-batch.
 *
 * Every operator stores its state with Spark's own encoder of the state's
 * value (a long array, a tuple), so the state reads back from a checkpoint
 * with `spark.read.format("statestore")`. A checkpoint written while the
 * state was a Kryo blob does not restore into that schema: such a query
 * restarts from a fresh checkpoint.
 */
object EventStreams {

  private val None_ = Long.MaxValue

  /** The grouping key of every twin: the user's string form, with a null
    * user kept as its own key and emitted as null, as the batch twins'
    * grouping does (`String.valueOf` alone would merge it with a user
    * named "null"). */
  private[operators] def userKey(userCol: String): Row => String =
    r => r.getAs[Any](userCol) match { case null => null; case u => String.valueOf(u) }

  /** The per-user fold of the funnel operators: the first-occurrence
    * millis per stage (None_ for a stage not yet seen), and the stages
    * reached from them. */
  private final class Funnel(stages: Seq[String], typeCol: String, tsCol: String) extends Serializable {
    require(stages.nonEmpty)
    private val stageIdx = stages.zipWithIndex.toMap
    private val n = stages.length

    def start(): Array[Long] = Array.fill(n)(None_)

    /** Folds a micro-batch of one user's events into `firsts`; returns the
      * batch's latest event time (Long.MinValue with none). */
    def fold(firsts: Array[Long], rows: Iterator[Row]): Long = {
      var batchMax = Long.MinValue
      rows.foreach { r =>
        val ts = r.getAs[Timestamp](tsCol)
        if (ts != null) {
          val t = ts.getTime
          if (t > batchMax) batchMax = t
          stageIdx.get(String.valueOf(r.getAs[Any](typeCol))).foreach { i =>
            if (t < firsts(i)) firsts(i) = t
          }
        }
      }
      batchMax
    }

    /** The largest k such that stages 1..k all occurred, each no earlier
      * than the one before. */
    def reached(firsts: Array[Long]): Long = {
      var reached = 0L
      var prev = Long.MinValue
      var k = 0
      while (k < n && firsts(k) != None_ && firsts(k) >= prev) {
        reached += 1; prev = firsts(k); k += 1
      }
      reached
    }
  }

  /**
   * Per-user consecutive-stage funnel reach as a stream: emits
   * (user_id, reached) per user per micro-batch, where reached = largest k
   * such that every stage 1..k has occurred and each first occurrence is no
   * earlier than the previous stage's (q_funnel's loose-ordered
   * definition). State: stages.length longs per user.
   */
  def funnelStages(
      df: DataFrame, userCol: String, typeCol: String, tsCol: String,
      stages: Seq[String]): DataFrame = {
    val funnel = new Funnel(stages, typeCol, tsCol)
    implicit val rowEnc = Encoders.row(df.schema)
    implicit val strEnc = Encoders.STRING
    implicit val stateEnc = df.sparkSession.implicits.newLongArrayEncoder
    implicit val outEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    df.groupByKey(userKey(userCol))
      .flatMapGroupsWithState[Array[Long], (String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: String, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          val firsts = state.getOption.getOrElse(funnel.start())
          funnel.fold(firsts, rows)
          state.update(firsts)
          Iterator((user, funnel.reached(firsts)))
      }
      .toDF(userCol, "reached")
  }

  /**
   * WATERMARKED funnel twin (round 11): same per-user fold as
   * [[funnelStages]], but the input carries an event-time watermark and the
   * state uses EventTimeTimeout — the full production shape for late data:
   *
   *  - rows later than `delay` behind the max seen event time are DROPPED
   *    by the engine before the fold (the documented late-data contract;
   *    StreamingLateDataSpec pins inside-vs-outside-watermark behavior and
   *    batch ≡ stream parity over the watermark-admitted subset);
   *  - state expires `ttlMs` past the watermark (state.remove() on
   *    timeout), so the per-user state table is bounded by ACTIVE users in
   *    the watermark+ttl horizon, not all users ever seen — the piece
   *    NoTimeout twins leave to the operator above them.
   */
  def funnelStagesWatermarked(
      df: DataFrame, userCol: String, typeCol: String, tsCol: String,
      stages: Seq[String], delay: String, ttlMs: Long = 86400000L): DataFrame = {
    // fail at call time, not inside a streaming batch: ttlMs <= 0 makes
    // setTimeoutTimestamp land at/behind the watermark, which throws
    // IllegalArgumentException mid-micro-batch at runtime
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    val funnel = new Funnel(stages, typeCol, tsCol)
    val wm = df.withWatermark(tsCol, delay)
    implicit val rowEnc = Encoders.row(wm.schema)
    implicit val strEnc = Encoders.STRING
    implicit val stateEnc = df.sparkSession.implicits.newLongArrayEncoder
    implicit val outEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    wm.groupByKey(userKey(userCol))
      .flatMapGroupsWithState[Array[Long], (String, Long)](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: String, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val firsts = state.getOption.getOrElse(funnel.start())
            val batchMax = funnel.fold(firsts, rows)
            state.update(firsts)
            // anchor the ttl at max(watermark, this batch's event time):
            // on the FIRST batch the watermark is still 0, and an epoch-
            // anchored timeout would expire every user at the next advance
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(), batchMax) + ttlMs)
            Iterator((user, funnel.reached(firsts)))
          }
      }
      .toDF(userCol, "reached")
  }

  /**
   * Retention cells as a stream: each event rides out tagged with the
   * user's running first-event timestamp — (user_id, ts, first_ts) — ready
   * for the exact q_retention cohort/offset expressions. State: one long
   * per user.
   */
  def retentionCells(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    implicit val rowEnc = Encoders.row(df.schema)
    implicit val strEnc = Encoders.STRING
    implicit val stateEnc = Encoders.scalaLong
    implicit val outEnc =
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP, Encoders.TIMESTAMP)
    df.where(col(tsCol).isNotNull).groupByKey(userKey(userCol))
      .flatMapGroupsWithState[Long, (String, Timestamp, Timestamp)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: String, rows: Iterator[Row], state: GroupState[Long]) =>
          val batch = rows.map(_.getAs[Timestamp](tsCol)).toVector
          val batchMin = batch.map(_.getTime).min
          val first = math.min(state.getOption.getOrElse(None_), batchMin)
          state.update(first)
          val firstTs = new Timestamp(first)
          batch.iterator.map(t => (user, t, firstTs))
      }
      .toDF(userCol, tsCol, "first_ts")
  }

  /**
   * Attribution touches as a stream: per user per micro-batch, emits the
   * running (first_touch, last_touch) event types among events strictly
   * before the user's first `convType` event — the exact per-user row
   * q_attribution's channel rollup aggregates. In update mode the LATEST
   * row per user is the live attribution; non-converted users emit nothing.
   * In-batch rows are sorted by (event-time micros, id) before the fold;
   * cross-batch, event-time-ordered delivery per user (the watermarked
   * shape, as in retentionCells) makes the carried state exact. State: one
   * (converted flag, first type, last type) triple per user — bounded,
   * never event history.
   */
  def attributionTouches(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, convType: String): DataFrame = {
    implicit val rowEnc = Encoders.row(df.schema)
    implicit val strEnc = Encoders.STRING
    implicit val stateEnc = Encoders.product[(Boolean, String, String)]
    implicit val outEnc =
      Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING)
    df.where(col(tsCol).isNotNull).groupByKey(userKey(userCol))
      .flatMapGroupsWithState[(Boolean, String, String), (String, String, String)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: String, rows: Iterator[Row], state: GroupState[(Boolean, String, String)]) =>
          val evs = rows.map { r =>
            (micros(r.getAs[Timestamp](tsCol)),
              r.getAs[Number](idCol).longValue(),
              String.valueOf(r.getAs[Any](typeCol)))
          }.toVector.sortBy(e => (e._1, e._2))
          var (converted, first, last) =
            state.getOption.getOrElse((false, null: String, null: String))
          evs.foreach { e =>
            if (!converted) {
              if (e._3 == convType) converted = true
              else { if (first == null) first = e._3; last = e._3 }
            }
          }
          state.update((converted, first, last))
          if (converted && first != null) Iterator((user, first, last))
          else Iterator.empty
      }
      .toDF(userCol, "first_touch", "last_touch")
  }

  /**
   * Burstiness profile as a stream: per user per micro-batch, the RUNNING
   * (n_gaps, sum_gap_sec, fano_milli) over all inter-arrival gaps so far —
   * the live bot/automation triage next to the batch twin
   * (`EventAnalytics.burstiness`). Power sums are mergeable, so state is
   * FOUR numbers per user (last event micros, n, Σg, Σg² as BigInt — the
   * same overflow headroom the batch twin's DECIMAL(38,0) provides), never
   * event history. In-batch rows sort by event-time micros before the fold
   * (ties contribute zero gaps wherever they land, so tie order never
   * matters); cross-batch, event-time-ordered delivery per user (the
   * watermarked shape, as in retentionCells) makes the carried last
   * timestamp the true predecessor. In update mode the LATEST row per user
   * equals the batch operator over everything fed so far, including the
   * fano arithmetic bit for bit (BigInt division = the oracle's HUGEINT
   * floor on the non-negative numerator).
   */
  def burstinessProfile(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    implicit val rowEnc = Encoders.row(df.schema)
    implicit val strEnc = Encoders.STRING
    implicit val stateEnc = Encoders.product[(Long, Long, Long, BigInt)]
    implicit val outEnc = Encoders.tuple(
      Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    df.where(col(tsCol).isNotNull).groupByKey(userKey(userCol))
      .flatMapGroupsWithState[(Long, Long, Long, BigInt), (String, Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: String, rows: Iterator[Row], state: GroupState[(Long, Long, Long, BigInt)]) =>
          val tsus = rows.map(r => micros(r.getAs[Timestamp](tsCol))).toVector.sorted
          var (last, n, s1, s2) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L, BigInt(0)))
          tsus.foreach { t =>
            if (last != Long.MinValue) {
              val g = (t - last) / 1000000L
              n += 1; s1 += g; s2 += BigInt(g) * g
            }
            last = t
          }
          state.update((last, n, s1, s2))
          if (n == 0) Iterator.empty
          else {
            val fano =
              if (s1 == 0L) 0L
              else ((BigInt(n) * s2 - BigInt(s1) * s1) * 1000 / (BigInt(n) * s1)).toLong
            Iterator((user, n, s1, fano))
          }
      }
      .toDF(userCol, "n_gaps", "sum_gap_sec", "fano_milli")
  }

  /**
   * 30-min-gap sessionization as a stream — the q_sessionize twin keeping
   * the BATCH semantics: a gap STRICTLY greater than `gapSec` opens a new
   * session (Spark's native session_window treats the exact boundary as a
   * new session — half-open windows — so the twin is built on the shared
   * stateful fold instead, preserving the repo's strict-gap contract).
   *
   * State per user: (session_id, start_us, last_us, n) — four longs, never
   * event history. Each micro-batch emits the final row of every session it
   * CLOSED plus the running row of the open session; in update mode the
   * latest row per (user, session_id) is the live session table, and after
   * all events it equals the batch q_sessionize output exactly
   * (StreamingEventParitySpec crosses micro-batch boundaries mid-session
   * AND mid-gap). In-batch rows sort by event time; cross-batch,
   * event-time-ordered per-user delivery (the watermarked shape) is
   * assumed, as in the sibling twins.
   */
  def sessionize(df: DataFrame, userCol: String, tsCol: String,
      gapSec: Long = 1800L): DataFrame = {
    implicit val rowEnc = Encoders.row(df.schema)
    implicit val strEnc = Encoders.STRING
    implicit val stateEnc = Encoders.product[(Long, Long, Long, Long)]
    implicit val outEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    val gapUs = gapSec * 1000000L
    val out = df.where(col(tsCol).isNotNull).groupByKey(userKey(userCol))
      .flatMapGroupsWithState[(Long, Long, Long, Long), (String, Long, Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: String, rows: Iterator[Row], state: GroupState[(Long, Long, Long, Long)]) =>
          val tsus = rows.map(r => micros(r.getAs[Timestamp](tsCol))).toVector.sorted
          val emitted = Vector.newBuilder[(String, Long, Long, Long, Long)]
          var (sid, start, last, n) = state.getOption.getOrElse((0L, 0L, 0L, 0L))
          tsus.foreach { t =>
            if (sid == 0L) { sid = 1L; start = t; last = t; n = 1L }
            else if (t - last > gapUs) {
              emitted += ((user, sid, start, n, (last - start) / 1000000L)) // closed
              sid += 1L; start = t; last = t; n = 1L
            } else { last = t; n += 1L }
          }
          state.update((sid, start, last, n))
          if (sid != 0L) emitted += ((user, sid, start, n, (last - start) / 1000000L))
          emitted.result().iterator
      }
      .toDF(userCol, "session_id", "_start_us", "n_events", "dur_sec")
    out.select(col(userCol), col("session_id"),
      timestamp_micros(col("_start_us")).as("session_start"),
      col("n_events"), col("dur_sec"))
  }

  /**
   * Transition pairs as a stream: per user, each arriving event emits one
   * (from_type, to_type) adjacency against its predecessor under (ts, id)
   * order — the exact pair set q_transitions aggregates. In-batch rows are
   * sorted by (event-time micros, id) before the fold, so intra-batch
   * arrival order never matters; cross-batch, event-time-ordered delivery
   * per user (the watermarked shape, as in retentionCells) makes the
   * carried last event the true predecessor. State: one
   * (micros, id, type) triple per user — bounded, never event history.
   */
  def transitionPairs(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String): DataFrame = {
    implicit val rowEnc = Encoders.row(df.schema)
    implicit val strEnc = Encoders.STRING
    implicit val stateEnc = Encoders.product[(Long, Long, String)]
    implicit val outEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    df.where(col(tsCol).isNotNull).groupByKey(userKey(userCol))
      .flatMapGroupsWithState[(Long, Long, String), (String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows: Iterator[Row], state: GroupState[(Long, Long, String)]) =>
          val evs = rows.map { r =>
            (micros(r.getAs[Timestamp](tsCol)),
              r.getAs[Number](idCol).longValue(),
              String.valueOf(r.getAs[Any](typeCol)))
          }.toVector.sortBy(e => (e._1, e._2))
          val out = Vector.newBuilder[(String, String)]
          var last = state.getOption
          evs.foreach { e =>
            last.foreach(l => out += ((l._3, e._3)))
            last = Some(e)
          }
          last.foreach(state.update)
          out.result().iterator
      }
      .toDF("from_type", "to_type")
  }
}
