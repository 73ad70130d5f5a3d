package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Arguments of one run. `work` is a scratch directory the run owns. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

/** One metric as reported: name, unit, statistic and sample count. */
final case class Metric(name: String, unit: String, value: Double, samples: Int, stat: String)

/**
 * Collects one run's results. Every metric is printed on its own JSON line;
 * the last stdout line is the result object with every metric's value and
 * unit (perfbench/run.py keeps the ones BENCHMARK.json names).
 */
final class Report(val workload: String) {
  val metrics: mutable.LinkedHashMap[String, Metric] = mutable.LinkedHashMap.empty
  val context: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def put(name: String, unit: String, value: Double, samples: Int = 1, stat: String = "value"): Unit =
    metrics(name) = Metric(name, unit, value, samples, stat)

  /** `<prefix>_p50_<unit><suffix>` and `<prefix>_tail_<unit><suffix>`: the
    * median and the tail percentile of a sample, with the sample count. */
  def dist(prefix: String, unit: String, xs: Seq[Double], suffix: String = ""): Unit = if (xs.nonEmpty) {
    put(s"${prefix}_p50_$unit$suffix", unit, Stats.median(xs), xs.size, "p50")
    val t = Stats.tail(xs)
    put(s"${prefix}_tail_$unit$suffix", unit, t.value, t.n, s"p${fmtPct(t.pct)} (${t.beyond} beyond)")
  }

  /**
   * The figures every workload reports from its timed passes (drains, for
   * fold_stream): wall (steal-corrected, see [[HostCpu]], and as measured)
   * and executor CPU per pass from the untraced passes, and per-layer
   * counters, each the median over passes of a per-pass sum.
   */
  def passes(ps: Seq[Pass], trace: Boolean): Unit = {
    val plain = ps.filterNot(_.traced)
    def med(name: String, unit: String, xs: Seq[Double], stat: String = "p50 over passes"): Unit =
      put(name, unit, Stats.median(xs), xs.size, stat)
    def over(name: String, unit: String, f: Pass => Double): Unit = med(name, unit, ps.map(f))
    med("pass_s", "s", plain.map(p => p.wallS * p.cpu.share), "p50 over passes, steal-corrected")
    med("pass_s.raw", "s", plain.map(_.wallS))
    med("exec_cpu_s", "s", plain.map(_.counters.cpuNs / 1e9))
    over("host.cpu_share", "1", _.cpu.share)
    over("sched.plan_s", "s", _.planS)
    over("sched.jobs_per_pass", "count", _.counters.jobs.toDouble)
    over("sched.stages_per_pass", "count", _.counters.stages.toDouble)
    over("sched.tasks_per_pass", "count", _.counters.tasks.toDouble)
    over("sched.driver_gap_s", "s", _.gapS)
    over("shuffle.bytes_written", "B", _.counters.shuffleWriteBytes.toDouble)
    over("shuffle.records_written", "count", _.counters.shuffleWriteRecords.toDouble)
    over("shuffle.spill_bytes", "B", _.counters.spillBytes.toDouble)
    over("shuffle.fetch_wait_s", "s", _.counters.fetchWaitMs / 1e3)
    over("exec.gc_s", "s", _.counters.gcMs / 1e3)
    over("cache.blocks_stored", "count", _.cache.stored.toDouble)
    over("cache.blocks_evicted", "count", _.cache.evicted.toDouble)
    over("cache.bytes_peak", "B", _.cache.peakBytes.toDouble)
    over("cache.live_after_query", "count", _.liveAfterQuery.toDouble)
    if (trace) {
      val traced = ps.filter(_.traced)
      med("exec.task_skew", "ratio", traced.map(_.counters.taskSkew), "p50 over traced passes")
      def wall(xs: Seq[Pass]) = Stats.median(xs.map(p => p.wallS * p.cpu.share))
      med("trace_overhead_frac", "1", Seq(wall(traced) / wall(plain) - 1),
        s"p50(traced pass_s)/p50(untraced pass_s) - 1 over ${ps.size} passes")
    }
  }

  private def fmtPct(p: Double): String = if (p == p.floor) p.toLong.toString else p.toString

  def fail(what: String, ops: Long): Unit = { failed += ops; failures += what }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def lines: Seq[String] = metrics.values.toSeq.map(m =>
    s"""{"workload":"$workload","metric":"${m.name}","unit":"${m.unit}","value":${num(m.value)},""" +
      s""""samples":${m.samples},"stat":"${m.stat}"}""")

  def contextJson: String =
    context.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  def result: String = {
    val ms = metrics.values.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
    s"""{"correct":${failed == 0 && failures.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}"""
  }
}

/**
 * One timed pass (a drain, for fold_stream) and what the layers recorded
 * during it: the guest's CPU over it, the Spark counters of its operations, the driver time spent
 * planning them, the time no stage of it ran, cached-block activity, and
 * the most persisted RDDs left registered after any one of its operations.
 */
final case class Pass(wallS: Double, cpu: Cpu, counters: OpCounters, planS: Double, gapS: Double,
    cache: CacheStats, liveAfterQuery: Int, traced: Boolean)

/** Shared run state: the session, the layer listener and the span recorder. */
final class Ctx(val spark: SparkSession, val args: Args, session: (Double, Cpu)) {
  val layers = new Layers(spark.sparkContext)
  spark.sparkContext.addSparkListener(layers)
  val trace = new Trace
  val report = new Report(args.workload)

  def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Layers.OpKey, tag)
    try body finally sc.setLocalProperty(Layers.OpKey, null)
  }

  /**
   * The run's set-up: `inputs(i)` for i = 1, 2, 3 (generate the inputs and
   * hand them to the program), then `warmup` once. The set-up time is the
   * session start, plus the median input set-up, plus the warm-up.
   */
  def setup(inputs: Int => Unit, warmup: () => Unit): Unit = {
    val in = (1 to 3).map(i => HostCpu.timed(inputs(i)))
    val (_, warmS, warmCpu) = HostCpu.timed(warmup())
    val inS = Stats.median(in.map(_._2))
    report.put("setup.session_s", "s", session._1)
    report.put("setup.inputs_s", "s", inS, in.size, "p50")
    report.put("setup.warmup_s", "s", warmS)
    report.put("setup_s.raw", "s", session._1 + inS + warmS, in.size, "session start + p50(input set-up) + warm-up")
    report.put("setup_s", "s", session._1 * session._2.share + Stats.median(in.map(x => x._2 * x._3.share)) +
      warmS * warmCpu.share, in.size, "session start + p50(input set-up) + warm-up, steal-corrected")
  }

  /** Timed passes a run makes at least: two in a traced run, which
    * alternates traced and untraced passes. */
  def minPasses: Int = if (args.trace) 2 else 1

  /** Persisted RDDs registered with the context right now. */
  def livePersisted: Int = spark.sparkContext.getPersistentRDDs.size

  /** Turns tracing and per-task timings on or off for the next pass. */
  def traceOn(on: Boolean): Unit = { layers.perTaskOn = on; trace.on = on }
}

object Main {
  private def loadavg: String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString("\"", " ", "\"")
    catch { case _: Exception => "null" }

  /** Peak resident set of this JVM, MB. */
  def rssPeakMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")))
  }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // as the book's own harness runs it: AQE may re-coalesce the output of
      // a cached plan
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Checkpoint and state files through the FileSystem API: the default
      // FileContext manager sets file modes on the local file system by
      // forking `chmod` when Hadoop's native library is absent, a cost of
      // the host rather than of the state path being measured.
      // fold_stream reads each drain's micro-batches from recentProgress
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val Workloads: Seq[String] = Seq("book_mix", "fold_stream")

  def main(argv: Array[String]): Unit = {
    val loadBefore = loadavg
    val args = parse(argv)
    require(Workloads.contains(args.workload), s"unknown workload ${args.workload}")
    val (spark, sessionS, sessionCpu) = HostCpu.timed(session())
    val ctx = new Ctx(spark, args, (sessionS, sessionCpu))
    val rep = ctx.report
    rep.context("seed") = args.seed.toString
    rep.context("seconds") = args.seconds.toString
    rep.context("trace") = args.trace.toString
    rep.context("loadavg_before") = loadBefore
    val phases = mutable.ArrayBuffer("jvm_start" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    def phase(name: String): Unit = phases += name -> System.currentTimeMillis()
    phase("session")
    try {
      args.workload match {
        case "fold_stream" => FoldStream.run(ctx)
        case "book_mix" => BookMix.run(ctx)
      }
      phase("workload")
      (Stats.selfTest() ++ Check.selfTest(spark) ++ FoldInputs.selfTest() ++ BookTables.selfTest())
        .foreach(f => rep.fail(s"self-test: $f", 0))
      phase("self_tests")
    } finally {
      rep.context("loadavg_after") = loadavg
      rep.put("rss_peak_mb", "MB", rssPeakMb)
      spark.stop()
    }
    phase("stop")
    rep.context("phase_end_s") = phases.tail.map { case (n, t) => s""""$n":${(t - phases.head._2) / 1e3}""" }
      .mkString("{", ",", "}")
    if (args.trace) Files.writeString(args.work.resolve("spans.json"), ctx.trace.json)
    rep.lines.foreach(println)
    println(s"""{"workload":"${args.workload}","context":${rep.contextJson}}""")
    rep.failures.foreach(f => System.err.println(s"FAILED: $f"))
    println(rep.result)
  }
}
