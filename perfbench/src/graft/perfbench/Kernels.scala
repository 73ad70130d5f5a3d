package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/**
 * Times each family's `*RowKernel.run` alone, on one thread, over the
 * workload's rows in the projection and order the kernel folds. The rows
 * are collected once, outside the timer; the figure is the median of
 * several passes over them, in microseconds per input row.
 */
object Kernels {
  val Reps = 5

  private def metricName(family: String): String = family match {
    case "smoother" | "mixture" => s"$family.kernel_us_per_row"
    case f => s"filter.kernel_us_per_row.$f"
  }

  def measure(ctx: Ctx, ops: Seq[(FoldOp, DataFrame)]): Unit = {
    // one op per family: the first one listed
    val firstPerFamily = ops.groupBy(_._1.family).values.map(_.head).toSeq.sortBy(_._1.name)
    ctx.trace.on = true
    try firstPerFamily.foreach { case (op, in) =>
      val k = op.kernel
      val rows: Array[InternalRow] = k.project(in).orderBy(k.order: _*)
        .queryExecution.toRdd.map(_.copy()).collect()
      val times = (1 to Reps).map { i =>
        ctx.trace.span(s"kernel.${op.family}.$i", s"${op.family}.RowKernel.run") {
          val t0 = System.nanoTime()
          val it = k.run(rows.iterator)
          var n = 0L
          while (it.hasNext) { it.next(); n += 1 }
          (System.nanoTime() - t0) / 1e3 / rows.length
        }
      }
      ctx.report.put(metricName(op.family), "us", Stats.median(times), times.size, "p50 over reps")
    } finally ctx.trace.on = false
  }
}
