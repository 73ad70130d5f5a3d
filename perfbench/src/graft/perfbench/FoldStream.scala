package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.filter.{LinearKalmanFilter, RecursiveLeastSquaresFilter}
import graft.linalg.DMat

/** One streamed event; `t` is its due time. */
final case class Event(key: String, t: Timestamp, z: Double, x: Double, y: Double)

/**
 * fold_stream: LKF and RLS over a MemoryStream, in one query, into a
 * foreachBatch sink that stamps each output row with its emission time.
 * The query runs micro-batches back to back (no trigger interval).
 *  (a) open loop: events are offered at a fixed rate, well below what the
 *      query sustains on four cores; each event's time is the moment it was
 *      due, so its latency counts any wait a stall imposed on it;
 *  (b) drain: a backlog is queued at once and timed until processed.
 * Afterwards every key's final streamed state is compared bit for bit with
 * batch `transform` over the same events.
 */
object FoldStream {
  val Keys = 1000
  val Zipf = 1.0
  val Rate = 1000.0
  /** Folded in `WarmupBatches` micro-batches at set-up, to let the JIT settle. */
  val WarmupEvents = 6000
  val WarmupBatches = 6
  val WarmupExcludeS = 1.0
  val Backlog = 20000
  val Drains = 6
  /** The generator sends whatever fell due once per tick: MemoryStream keeps
    * one relation per `addData`, and a micro-batch unions all it picks up. */
  val TickMs = 100L
  /** Generator lateness above which the open-loop figures are flagged. */
  val LateFlagMs = 4.0 * TickMs

  private def lkf = new LinearKalmanFilter(1, 1)
    .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas")
    .setInitialStateMean(Array(0.0)).setInitialStateCovariance(DMat.of(1, 1, 10.0))
    .setProcessNoise(DMat.of(1, 1, 0.05)).setMeasurementNoise(DMat.of(1, 1, 1.0))
  private def rls = new RecursiveLeastSquaresFilter(2)
    .setStateKeyCol("key").setEventTimeCol("t").setLabelCol("y").setFeaturesCol("f")
    .setForgettingFactor(0.99).setRegularizationMatrix(DMat.of(2, 2, 10.0, 0.0, 0.0, 10.0))

  /** Both filters' outputs in one shape: (filter, key, time, index, mean, cov). */
  private def fold(in: DataFrame): DataFrame = {
    def out(df: DataFrame, name: String) = df.select(lit(name).as("filter"), col("key"), col("t"),
      col("stateIndex"), col("stateMean").as("mean"), col("stateCovariance.values").as("cov"))
    out(lkf.transform(in.withColumn("meas", array(col("z")))), "lkf")
      .unionByName(out(rls.transform(in.withColumn("f", array(lit(1.0), col("x")))), "rls"))
  }

  /** Epoch-microsecond clock shared by the generator and the sink. */
  private val epochMicros0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowMicros: Long = epochMicros0 + (System.nanoTime() - nano0) / 1000L
  private def micros(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
  /** Epoch microseconds of a progress report's ISO-8601 timestamp. */
  def micros(iso: String): Long = {
    val i = java.time.Instant.parse(iso)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** What the sink saw: emitted row counts, latencies, each key's last state. */
  private final class Sink {
    /** Events due before this epoch microsecond are not timed. */
    @volatile var latencyFrom: Long = Long.MaxValue
    val emitted: mutable.Map[String, Long] = mutable.Map("lkf" -> 0L, "rls" -> 0L)
    val latenciesMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
    val last: mutable.Map[(String, String), Row] = mutable.Map.empty

    def apply(df: DataFrame, batchId: Long): Unit = {
      val rows = df.collect()
      val now = nowMicros
      synchronized {
        rows.foreach { r =>
          val f = r.getString(0)
          emitted(f) += 1
          val t = micros(r.getTimestamp(2))
          if (f == "lkf" && t >= latencyFrom) latenciesMs += (now - t) / 1000.0
          val k = (f, r.getString(1))
          if (last.get(k).forall(_.getLong(3) < r.getLong(3))) last(k) = r
        }
      }
    }
  }

  /** A started query with its source, its sink and every event sent to it. */
  private final class Running(ctx: Ctx, name: String) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
    import ctx.spark.implicits._
    val stream: MemoryStream[Event] = MemoryStream[Event]
    val sink = new Sink
    val sent: mutable.ArrayBuffer[Event] = mutable.ArrayBuffer.empty
    private val t0 = System.nanoTime()
    private val folded = fold(stream.toDF())
    val planS: Double = (System.nanoTime() - t0) / 1e9
    val query: StreamingQuery = {
      val fn: (DataFrame, Long) => Unit = (df, id) => sink(df, id)
      folded.writeStream.queryName(name)
        .option("checkpointLocation", ctx.args.work.resolve(name).toString)
        .foreachBatch(fn).start()
    }
    def send(events: Seq[Event]): Unit = { sent ++= events; stream.addData(events) }
    def lastBatch: Long = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    def stop(): Unit = { query.stop(); query.awaitTermination() }
  }

  private def event(o: Obs, t: Long) = Event(Gen.key(o.key), FoldInputs.ts(t), o.z, o.x, o.y)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    import spark.implicits._

    val openSeconds = WarmupExcludeS + 2.0 * ctx.args.seconds
    val nOpen = (Rate * openSeconds).toInt
    val drainFrom = WarmupEvents + nOpen

    // set-up: generate the events, plan and start the query (three times),
    // then warm up by folding the first events in several micro-batches
    var obs: Array[Obs] = null
    var main: Running = null
    val planS = mutable.ArrayBuffer.empty[Double]
    ctx.setup(i => {
      if (main != null) main.stop()
      obs = Gen.observations(ctx.args.seed, Keys, drainFrom + Drains * Backlog, Zipf, 0.0)
      main = new Running(ctx, s"fold_stream_$i")
      planS += main.planS
    }, () => obs.take(WarmupEvents).map(o => event(o, o.t)).grouped(WarmupEvents / WarmupBatches).foreach { chunk =>
      main.send(chunk.toSeq)
      main.query.processAllAvailable()
    })
    rep.put("state.plan_s", "s", Stats.median(planS.toSeq), planS.size, "p50 over set-ups")
    rep.context("input_digest") = s""""${Gen.digest(obs)}""""
    rep.context("traffic") = Traffic(Keys, obs.length, Zipf, 0.0, Rate).json

    // (a) open loop
    val step = 1e6 / Rate
    val t0 = nowMicros + 100000L
    def due(j: Int): Long = t0 + (j * step).toLong
    val timedFrom = t0 + (WarmupExcludeS * 1e6).toLong
    val openFrom = main.lastBatch
    main.sink.latencyFrom = timedFrom
    val openCpu = HostCpu.now
    var lateMaxMs = 0.0
    var j = 0
    while (j < nOpen) {
      val now = nowMicros
      var k = j
      while (k < nOpen && due(k) <= now) k += 1
      if (k > j) {
        lateMaxMs = math.max(lateMaxMs, (now - due(j)) / 1000.0)
        main.send((j until k).map(n => event(obs(WarmupEvents + n), due(n))))
        j = k
      }
      if (j < nOpen) Thread.sleep(math.max(TickMs, (due(j) - nowMicros) / 1000L))
    }
    main.query.processAllAvailable()
    main.sink.latencyFrom = Long.MaxValue
    val openShare = (HostCpu.now - openCpu).share
    val openProgress = main.query.recentProgress.toSeq.filter(p => p.batchId > openFrom && p.numInputRows > 0 &&
      micros(p.timestamp) >= timedFrom)
    ctx.layers.sync()
    ctx.layers.clear()

    // (b) drains; a traced run alternates traced and untraced drains
    val drains = (0 until Drains).map { d =>
      val traced = ctx.args.trace && d % 2 == 0
      ctx.traceOn(traced)
      val base = nowMicros
      val backlog = (0 until Backlog).map(n => event(obs(drainFrom + d * Backlog + n), base + n))
      val before = main.lastBatch
      val startMs = System.currentTimeMillis()
      val (_, wallS, cpu) = HostCpu.timed(ctx.trace.span(s"drain$d", "drain") {
        ctx.trace.span(s"drain$d", "MemoryStream.addData", "drain")(main.send(backlog))
        ctx.trace.span(s"drain$d", "processAllAvailable", "drain")(main.query.processAllAvailable())
      })
      ctx.traceOn(false)
      ctx.layers.sync()
      val batches = main.query.recentProgress.toSeq.filter(_.batchId > before)
      val c = ctx.layers.takeBatches()
      Pass(wallS, cpu, c, batches.map(dur(_, "queryPlanning") / 1e3).sum,
        c.idleMs(startMs, startMs + (wallS * 1000).toLong) / 1e3, ctx.layers.takeCache(), ctx.livePersisted, traced)
    }
    main.stop()

    val lat = main.sink.synchronized(main.sink.latenciesMs.toList)
    rep.dist("latency", "ms", lat.map(_ * openShare))
    rep.dist("latency", "ms", lat, ".raw")
    rep.dist("stream_latency", "ms", lat)
    rep.put("host.cpu_share.open_loop", "1", openShare)
    rep.put("bench.gen.late_ms_max", "ms", lateMaxMs, nOpen, "max")
    rep.context("generator_fell_behind") = (lateMaxMs > LateFlagMs).toString
    rep.passes(drains, ctx.args.trace)
    val drainS = drains.filterNot(_.traced).map(_.wallS)
    rep.put("stream_drain_events_per_s", "1/s", Backlog / Stats.median(drainS), drainS.size, "backlog/p50(drain s)")
    def medDrain(name: String, unit: String, f: Pass => Double): Unit =
      rep.put(name, unit, Stats.median(drains.map(f)), drains.size, "p50 over drains")
    medDrain("state.fold_stage_cpu_s", "s", _.counters.foldCpuNs / 1e9)
    medDrain("state.fold_stage_run_s", "s", _.counters.foldRunMs / 1e3)

    // per-layer: micro-batches of the open loop after warm-up
    def medOpen(name: String, unit: String, f: StreamingQueryProgress => Double): Unit =
      if (openProgress.nonEmpty)
        rep.put(name, unit, Stats.median(openProgress.map(f)), openProgress.size, "p50 over micro-batches")
    medOpen("state.stream.batch_ms_p50", "ms", dur(_, "triggerExecution"))
    medOpen("state.stream.add_batch_ms", "ms", dur(_, "addBatch"))
    medOpen("state.stream.planning_ms", "ms", dur(_, "queryPlanning"))
    medOpen("state.stream.wal_commit_ms", "ms", dur(_, "walCommit"))
    medOpen("state.stream.state_commit_ms", "ms", _.stateOperators.map(_.commitTimeMs.toDouble).sum)
    medOpen("state.stream.state_update_ms", "ms", _.stateOperators.map(_.allUpdatesTimeMs.toDouble).sum)
    medOpen("state.stream.rows_per_batch", "count", _.numInputRows.toDouble)
    openProgress.lastOption.foreach { p =>
      rep.put("state.stream.state_rows", "count", p.stateOperators.map(_.numRowsTotal.toDouble).sum)
      rep.put("state.stream.state_bytes", "B", p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
    }

    // output checks, outside the timed region: every event folded once by
    // each filter, and each key's last streamed state equal to batch
    val tc = System.nanoTime()
    val events = main.sent.toList
    rep.attempted += events.size
    Seq("lkf", "rls").foreach { f =>
      val missing = events.size - main.sink.emitted(f)
      if (missing != 0)
        rep.fail(s"$f: ${main.sink.emitted(f)} rows emitted for ${events.size} events", math.abs(missing))
    }
    val batch = fold(events.toDF())
      .withColumn("rk", row_number().over(Window.partitionBy("filter", "key").orderBy(col("stateIndex").desc)))
      .filter(col("rk") === 1).drop("rk").collect()
    val perKey = events.groupBy(_.key).map { case (k, es) => k -> es.size.toLong }
    batch.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      val same = main.sink.last.get(k).exists(s => s.getLong(3) == r.getLong(3) &&
        Check.bitEqual(s.getSeq[Double](4), r.getSeq[Double](4)) &&
        Check.bitEqual(s.getSeq[Double](5), r.getSeq[Double](5)))
      if (!same) rep.fail(s"${k._1} key ${k._2}: final streamed state differs from batch", perKey(k._2))
    }
    if (batch.length != main.sink.last.size)
      rep.fail(s"${main.sink.last.size} streamed keys vs ${batch.length} batch keys", 1)
    rep.context("check_s") = ((System.nanoTime() - tc) / 1e9).toString
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
}
