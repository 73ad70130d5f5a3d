package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of one tagged operation, summed over its Spark stages. */
final class OpCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var fetchWaitMs = 0L
  /** Largest shuffle write of any one stage: the widest exchange. */
  var maxStageShuffleBytes = 0L
  /** Stages that read a shuffle: for a keyed fold, the sort + fold stage. */
  var foldCpuNs = 0L
  var foldRunMs = 0L
  val foldTaskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  /** [submitted, completed] wall intervals of the stages, epoch ms. */
  val stageSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  def add(o: OpCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords; spillBytes += o.spillBytes
    fetchWaitMs += o.fetchWaitMs; maxStageShuffleBytes = math.max(maxStageShuffleBytes, o.maxStageShuffleBytes)
    foldCpuNs += o.foldCpuNs; foldRunMs += o.foldRunMs
    foldTaskMs ++= o.foldTaskMs; stageSpans ++= o.stageSpans
  }

  /** Milliseconds of [fromMs, toMs] during which no stage of this op ran. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    var covered = 0L
    var end = fromMs
    stageSpans.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    math.max(0L, toMs - fromMs - covered)
  }

  /** Slowest fold task ÷ median fold task. */
  def taskSkew: Double =
    if (foldTaskMs.isEmpty) 1.0
    else {
      val s = foldTaskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** Cached-block activity over an interval: RDD blocks stored, blocks
  * dropped from memory (evicted to disk or removed), and the peak bytes the
  * live cached blocks held. */
final case class CacheStats(stored: Long, evicted: Long, peakBytes: Long)

/**
 * Spark listener that attributes stage and task metrics to the operation
 * that caused them. Batch operations are tagged through the `perfbench.op`
 * local property; micro-batches carry Spark's own `streaming.sql.batchId`.
 * Per-task timings (for skew) are kept only while `perTaskOn` is set.
 * Block updates of cached RDDs (`persist`) are followed process-wide.
 */
final class Layers(sc: SparkContext) extends SparkListener {
  /** Keep per-task timings (for skew); set during traced passes only. */
  @volatile var perTaskOn = false
  private val byTag = mutable.HashMap.empty[String, OpCounters]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private var markerSeq = 0
  /** Live cached RDD blocks: (memory bytes, disk bytes). */
  private val blocks = mutable.HashMap.empty[String, (Long, Long)]
  private var liveBytes = 0L
  private var peakBytes = 0L
  private var stored = 0L
  private var evicted = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val id = b.blockId.name
      val (mem0, disk0) = blocks.getOrElse(id, (0L, 0L))
      val (mem1, disk1) = if (b.storageLevel.isValid) (b.memSize, b.diskSize) else (0L, 0L)
      if (mem0 + disk0 == 0 && mem1 + disk1 > 0) stored += 1
      if (mem0 > 0 && mem1 == 0) evicted += 1
      if (mem1 + disk1 > 0) blocks(id) = (mem1, disk1) else blocks.remove(id)
      liveBytes += mem1 + disk1 - mem0 - disk0
      peakBytes = math.max(peakBytes, liveBytes)
    }
  }

  /** Cache activity since the last call; the peak restarts from the bytes live now. */
  def takeCache(): CacheStats = synchronized {
    val c = CacheStats(stored, evicted, peakBytes)
    stored = 0; evicted = 0; peakBytes = liveBytes
    c
  }

  private def tagOf(p: java.util.Properties): String =
    if (p == null) "untagged"
    else Option(p.getProperty(Layers.OpKey))
      .orElse(Option(p.getProperty("streaming.sql.batchId")).map(Layers.BatchPrefix + _))
      .getOrElse("untagged")

  private def counters(tag: String): OpCounters = byTag.getOrElseUpdate(tag, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counters(tagOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageTag(e.stageInfo.stageId) = tagOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (perTaskOn) synchronized {
    val m = e.taskMetrics
    if (m != null && m.shuffleReadMetrics.recordsRead > 0)
      stageTag.get(e.stageId).foreach(t => counters(t).foldTaskMs += m.executorRunTime)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = counters(stageTag.getOrElse(info.stageId, "untagged"))
    val m = info.taskMetrics
    c.stages += 1
    c.tasks += info.numTasks
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.diskBytesSpilled
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.maxStageShuffleBytes = math.max(c.maxStageShuffleBytes, m.shuffleWriteMetrics.bytesWritten)
      if (m.shuffleReadMetrics.recordsRead > 0) {
        c.foldCpuNs += m.executorCpuTime
        c.foldRunMs += m.executorRunTime
      }
    }
    for (a <- info.submissionTime; b <- info.completionTime) c.stageSpans += ((a, b))
    notifyAll()
  }

  /** Runs a one-task job and waits until this listener has seen it: every
    * event posted before it has then been handled. */
  def sync(): Unit = {
    val n = synchronized { markerSeq += 1; markerSeq }
    val prev = sc.getLocalProperty(Layers.OpKey)
    sc.setLocalProperty(Layers.OpKey, Layers.MarkerPrefix + n)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Layers.OpKey, prev)
    val deadline = System.currentTimeMillis() + 10000
    synchronized {
      while (!byTag.get(Layers.MarkerPrefix + n).exists(_.stages > 0) &&
          System.currentTimeMillis() < deadline)
        wait(50)
    }
  }

  def take(tag: String): OpCounters = synchronized { byTag.remove(tag).getOrElse(new OpCounters) }

  /** Removes and sums every micro-batch seen so far. */
  def takeBatches(): OpCounters = synchronized {
    val sum = new OpCounters
    byTag.keys.filter(_.startsWith(Layers.BatchPrefix)).toList.foreach(t => sum.add(byTag.remove(t).get))
    sum
  }

  def clear(): Unit = synchronized { byTag.clear(); stageTag.clear(); takeCache() }
}

object Layers {
  val OpKey = "perfbench.op"
  val BatchPrefix = "microbatch:"
  val MarkerPrefix = "marker:"
}

/** A named interval; spans of one operation share `op`. */
final case class Span(op: String, name: String, parent: String, startNs: Long, endNs: Long)

/** In-memory span recorder, written out once at the end of a traced run;
  * records only while `on` is set. */
final class Trace {
  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](op: String, name: String, parent: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally if (on) synchronized { spans += Span(op, name, parent, t0, System.nanoTime()) }
  }

  def json: String = synchronized {
    spans.map(s =>
      s"""{"op":"${s.op}","name":"${s.name}","parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString("[", ",\n", "]")
  }
}
