package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession
import graft.operators.EventStreams

/**
 * The event-stream operators store their per-user state with Spark's own
 * encoders, so the state reads back from a checkpoint with the state data
 * source: the funnel's stage minima (a long array) and the sessionizer's
 * (session id, start, last, count) tuple.
 */
class EventStreamStateSpec extends AnyFunSuite with SparkTestSession {

  private val base = 1700000000000L
  private def ts(min: Long): Timestamp = new Timestamp(base + min * 60000L)

  private val rows = Seq(
    ("u1", 0L, "signup"), ("u1", 10L, "view"), ("u1", 20L, "click"), ("u1", 95L, "purchase"),
    ("u2", 5L, "view"), ("u2", 8L, "signup")
  ).map { case (u, m, et) => (u, ts(m), et) }

  /** Runs `op` over `rows` in two micro-batches with a checkpoint; returns
    * the state store's rows. */
  private def storedState(name: String, op: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory(name).toString
    val stream = MemoryStream[(String, Timestamp, String)]
    val sq = op(stream.toDS().toDF("user_id", "ts", "event_type"))
      .writeStream.format("memory").queryName(name).outputMode("update")
      .option("checkpointLocation", ckpt).start()
    try {
      val (b1, b2) = rows.partition(_._2.getTime <= ts(10).getTime)
      stream.addData(b1); sq.processAllAvailable()
      stream.addData(b2); sq.processAllAvailable()
    } finally sq.stop()
    spark.read.format("statestore").load(ckpt)
  }

  test("funnel stage minima read back from the checkpoint") {
    import spark.implicits._
    val stages = Seq("signup", "view", "click", "purchase")
    val state = storedState("funnel_state",
      EventStreams.funnelStages(_, "user_id", "event_type", "ts", stages))
    val stored = state.select(col("key.value"), col("value.groupState.value"))
      .as[(String, Array[Long])].collect().map { case (u, firsts) => u -> firsts.toSeq }.toMap
    val none = Long.MaxValue
    assert(stored == Map(
      "u1" -> Seq(ts(0), ts(10), ts(20), ts(95)).map(_.getTime),
      "u2" -> Seq(ts(8).getTime, ts(5).getTime, none, none)))
  }

  test("sessionizer state reads back from the checkpoint") {
    import spark.implicits._
    val state = storedState("session_state", EventStreams.sessionize(_, "user_id", "ts"))
    val stored = state.select(col("key.value"), col("value.groupState.*"))
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val us = (m: Long) => ts(m).getTime * 1000L
    // u1: a 75-minute gap opens session 2 at minute 95
    assert(stored("u1") == (("u1", 2L, us(95), us(95), 1L)))
    assert(stored("u2") == (("u2", 1L, us(5), us(8), 2L)))
  }
}
