package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession
import graft.operators.{DatasetSplit, EventStreams}

/**
 * Nulls in the event-stream operators: a null event time is skipped (the
 * micro-batch never fails on it), and a null user is a key of its own,
 * emitted as null and never merged with a user named "null".
 */
class EventStreamNullsSpec extends AnyFunSuite with SparkTestSession {

  private type Ev = (String, Timestamp, String, Long)
  private val base = 1700000000000L
  private def ts(min: Long): Timestamp = new Timestamp(base + min * 60000L)
  private def ev(user: String, min: Long, tp: String, id: Long): Ev = (user, ts(min), tp, id)

  /** Runs `op` over a stream fed `batches`, one micro-batch each; returns
    * every emitted row, nulls spelled apart from the string "null". */
  private def run(op: DataFrame => DataFrame, batches: Seq[Seq[Ev]], mode: String): Seq[String] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val name = s"nulls_${System.nanoTime()}"
    val sq = op(stream.toDS().toDF("user_id", "ts", "event_type", "id"))
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      batches.foreach { b => stream.addData(b); sq.processAllAvailable() }
      spark.table(name).collect().toSeq
        .map(_.toSeq.map(v => if (v == null) "<null>" else v.toString).mkString("|")).sorted
    } finally sq.stop()
  }

  private val twins: Seq[(String, DataFrame => DataFrame, String)] = Seq(
    ("retentionCells", EventStreams.retentionCells(_, "user_id", "ts"), "update"),
    ("attributionTouches",
      EventStreams.attributionTouches(_, "user_id", "event_type", "ts", "id", "purchase"), "update"),
    ("burstinessProfile", EventStreams.burstinessProfile(_, "user_id", "ts"), "update"),
    ("sessionize", EventStreams.sessionize(_, "user_id", "ts", 600L), "update"),
    ("transitionPairs", EventStreams.transitionPairs(_, "user_id", "event_type", "ts", "id"), "append"))

  private val events = Seq(
    Seq(ev("u1", 0, "view", 1), ev("u1", 5, "click", 2), ev("u2", 3, "view", 3),
      ev("u2", 40, "click", 4)),
    Seq(ev("u1", 30, "view", 5), ev("u1", 31, "purchase", 6), ev("u2", 41, "purchase", 7)))

  test("a null event time leaves every time-ordered twin's output unchanged") {
    // one null-time row for a user with state, one for a user with no other row
    val withNulls = Seq(events.head :+ ("u1", null, "view", 8L),
      events(1) :+ ("u9", null, "click", 9L) :+ ("u2", null, "purchase", 10L))
    twins.foreach { case (name, op, mode) =>
      val want = run(op, events, mode)
      assert(want.nonEmpty, name)
      assert(run(op, withNulls, mode) == want, name)
    }
  }

  test("a null user is its own key, emitted as null, apart from a user named \"null\"") {
    // interleaved in time, so a merged key would fold one timeline
    val nullUser = Seq(ev(null, 0, "view", 1), ev(null, 2, "click", 2), ev(null, 4, "purchase", 3))
    val namedNull = Seq(ev("null", 1, "signup", 4), ev("null", 3, "view", 5),
      ev("null", 5, "click", 6), ev("null", 6, "purchase", 7))
    val funnel = Seq("signup", "view", "click", "purchase")
    val all = twins ++ Seq(
      ("funnelStages", EventStreams.funnelStages(_: DataFrame, "user_id", "event_type", "ts", funnel), "update"),
      ("funnelStagesWatermarked", EventStreams.funnelStagesWatermarked(
        _: DataFrame, "user_id", "event_type", "ts", funnel, "1 hour"), "update"),
      ("capPerGroupStreaming", DatasetSplit.capPerGroupStreaming(_: DataFrame, "user_id", 2), "append"))
    all.foreach { case (name, op, mode) =>
      val alone = run(op, Seq(nullUser), mode)
      val named = run(op, Seq(namedNull), mode)
      assert(alone.nonEmpty && named.nonEmpty, name)
      assert(run(op, Seq(nullUser ++ namedNull), mode) == (alone ++ named).sorted, name)
      if (name != "transitionPairs")
        assert(alone.forall(_.startsWith("<null>|")) && named.forall(_.startsWith("null|")),
          s"$name: $alone / $named")
    }
  }
}
