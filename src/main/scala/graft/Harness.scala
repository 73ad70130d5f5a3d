package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** What the driver mains (Bench, Soak, Verify, PlanDump) share: the session,
  * the timed action and its cache release, the timer, the stage recorder,
  * the JSON string escape and the ONLY-subset parser. One copy each, so the
  * mains cannot drift. */
private[graft] object Harness {

  /** `SPARK_GRAFT_CPUS`, else the host's cores capped at 32. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors).toString)

  def session(cpus: String = cpus, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // let AQE coalesce post-shuffle partitions of CACHED frames too —
      // iterative operators (connected components) persist small frontiers
      // each round, and the default pins them at full shuffle-partition
      // fan-out (hundreds of empty tasks per iteration)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Execute the query's OWN optimized plan (all output columns
    * materialized). A plain .count() lets Catalyst prune projection-only
    * work — scan-and-project queries were silently measured as row counts.
    * Returns the wall seconds and the row count (see [[timedQuery]]). */
  def run(spark: SparkSession, name: String, dir: String): (Double, Long) =
    timedQuery(SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count())

  /** Wall seconds of `f`, and its result. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** [[timed]], then [[FrameCache.clear]] after the clock stops, also on a
    * failure: every driver query ends with no graft cache entries, so the
    * next one starts cold. */
  def timedQuery[T](f: => T): (Double, T) = try timed(f) finally FrameCache.clear()

  /** Minimum wall seconds of `reps` timed runs, and the first run's result:
    * contention only ever adds time, so the minimum is the quiet estimate. */
  def minOf[T](reps: Int)(f: => (Double, T)): (Double, T) = {
    val samples = (1 to reps).map(_ => f)
    (samples.map(_._1).min, samples.head._2)
  }

  def loadavg: String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  /** JSON string literal: backslash, quote and ALL control chars (< 0x20)
    * escaped — a tab or CR in builder-authored SQL would otherwise make a
    * reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  /** The names of `universe` listed in the comma-separated env var, in
    * universe order; all of `universe` when it is unset. Fails before any
    * query runs on a name outside `universe`, naming every offender. */
  def only(envVar: String, universe: Seq[String],
      env: Map[String, String] = sys.env): Seq[String] = env.get(envVar) match {
    case None => universe
    case Some(list) =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = (names -- universe).toSeq.sorted
      require(unknown.isEmpty, s"$envVar: unknown query names ${unknown.mkString(",")}")
      require(names.nonEmpty, s"$envVar lists no query names")
      universe.filter(names)
  }

  /** One completed stage, as the listener saw it (times in ms, sizes in B). */
  final case class StageRow(id: Int, name: String, wallMs: Long, tasks: Int,
      runMs: Long, cpuNs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      shuffleReadRecords: Long, shuffleWriteRecords: Long, inputBytes: Long,
      spillBytes: Long) {
    def json: String =
      s"""{"id":$id,"name":${jsonString(name)},"wall_ms":$wallMs,"tasks":$tasks,"run_ms":$runMs,"cpu_ms":${cpuNs / 1000000},"shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,"shuffle_read_records":$shuffleReadRecords,"shuffle_write_records":$shuffleWriteRecords,"input_bytes":$inputBytes,"spill_bytes":$spillBytes}"""
  }

  /** Per-query sums of a run's stage rows, and the persisted RDDs left
    * after the query and its release: bench.json's `queries_layers`. */
  def layersJson(rows: Seq[StageRow], persistedAfter: Int): String =
    s"""{"stages":${rows.size},"tasks":${rows.map(_.tasks.toLong).sum},"shuffle_read_bytes":${rows.map(_.shuffleReadBytes).sum},"shuffle_write_bytes":${rows.map(_.shuffleWriteBytes).sum},"spill_bytes":${rows.map(_.spillBytes).sum},"input_bytes":${rows.map(_.inputBytes).sum},"persisted_after":$persistedAfter}"""

  /** Jobs started and stages completed since the last `mark()`. */
  final case class Recorded(jobs: Int, stages: Vector[StageRow]) {
    def cpuS: Double = stages.map(_.cpuNs).sum / 1e9
  }

  /** Records job starts and completed stages on `spark`. Both `mark` and
    * `since` first drain the listener bus, so every event posted before the
    * call is counted on the right side of it. */
  final class StageRecorder(spark: SparkSession) extends SparkListener {
    private var jobs = 0
    private val stages = scala.collection.mutable.ArrayBuffer[StageRow]()
    spark.sparkContext.addSparkListener(this)

    private def drain(): Unit =
      org.apache.spark.graftbridge.CoreBridge.waitListenerBusEmpty(spark.sparkContext, 2000)
    def mark(): Unit = { drain(); synchronized { jobs = 0; stages.clear() } }
    def since(): Recorded = { drain(); synchronized { Recorded(jobs, stages.toVector) } }

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      val tm = si.taskMetrics
      stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(90),
        (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(-1L),
        si.numTasks, tm.executorRunTime, tm.executorCpuTime,
        tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
        tm.shuffleReadMetrics.recordsRead, tm.shuffleWriteMetrics.recordsWritten,
        tm.inputMetrics.bytesRead, tm.memoryBytesSpilled + tm.diskBytesSpilled)
    }
  }
}
