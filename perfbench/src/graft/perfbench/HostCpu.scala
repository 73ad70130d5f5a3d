package graft.perfbench

import java.nio.file.{Files, Paths}

/** CPU time of the whole guest from `/proc/stat`, in jiffies: what it ran
  * (`busy`) and what the hypervisor withheld from runnable vCPUs (`steal`). */
final case class Cpu(busy: Long, steal: Long) {
  def -(o: Cpu): Cpu = Cpu(busy - o.busy, steal - o.steal)

  /** Share of the CPU the guest wanted that it got. */
  def share: Double = if (busy + steal <= 0) 1.0 else busy.toDouble / (busy + steal)
}

/**
 * On a shared host the vCPUs wait for the hypervisor: a busy neighbour
 * stretches every wall time of a run while its executor CPU time stays put.
 * A wall time t over an interval in which the guest got share g of the CPU
 * it wanted is reported as t × g, the time it would have taken had no CPU
 * been withheld. The share comes from the kernel's own accounting of that
 * interval, so nothing graft runs can move it: a background thread of
 * graft's adds to `busy` and raises the share.
 */
object HostCpu {
  private val stat = Paths.get("/proc/stat")

  /** Now; zero where `/proc/stat` is missing, which leaves wall times as measured. */
  def now: Cpu =
    try {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      Cpu(f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => Cpu(0, 0) }

  /** Runs `body` and returns its wall seconds and the guest's CPU over it. */
  def timed[T](body: => T): (T, Double, Cpu) = {
    val c0 = now
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, now - c0)
  }
}
