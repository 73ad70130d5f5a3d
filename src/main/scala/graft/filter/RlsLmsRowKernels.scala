package graft.filter

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.types.StructType

import graft.linalg.{DMat, Dense}
import graft.state.{FoldKernel, KeyRun}

/**
 * InternalRow-level batch executors for RLS and LMS — same pattern as
 * [[KalmanRowKernel]]: decode the lean input projection straight from
 * Tungsten rows, fold with the IDENTICAL Dense call sequence as
 * RlsSpec/LmsSpec (bit-exact; pinned by KalmanKernelPinSpec), write output
 * rows without the Dataset-encoder round trip.
 *
 * Unlike the encoder path, constant initial state / regularization ride in
 * the kernel closure instead of being materialized (typedLit) into every
 * input row — the shuffle carries only (key, time, label, features).
 */
final class RlsRowKernel(
    lambda: Double, n: Int,
    constMean: Array[Double], constCov: DMat,
    hasIM: Boolean, hasIC: Boolean) extends FoldKernel {

  private def readMatValues(row: InternalRow, i: Int): Array[Double] =
    row.getStruct(i, 3).getArray(2).toDoubleArray

  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val keys = new KeyRun
    private var stateIndex = 0L
    private var mean: Array[Double] = null
    private var cov: Array[Double] = null

    def hasNext: Boolean = rows.hasNext

    def next(): InternalRow = {
      val row = rows.next()
      if (keys.starts(row)) {
        stateIndex = 0L
        mean = if (hasIM && !row.isNullAt(4)) row.getArray(4).toDoubleArray else constMean
        cov = if (hasIC && !row.isNullAt(5)) readMatValues(row, 5) else constCov.values
      }
      val label = row.getDouble(2)
      val x = row.getArray(3).toDoubleArray
      // ---- RlsSpec.update, verbatim op order ----
      val px = Dense.matvec(cov, x, n, n)
      val denom = lambda + Dense.dot(x, px)
      val k = Dense.scale(1.0 / denom, px)
      val resid = label - Dense.dot(x, mean)
      val mean2 = mean.clone()
      Dense.axpy(resid, k, mean2)
      val xtP = Dense.matvec(Dense.transpose(cov, n, n), x, n, n)
      val cov2 = cov.clone()
      Dense.axpy(-1.0, Dense.outer(1.0, k, xtP), cov2)
      val covScaled = Dense.scale(1.0 / lambda, cov2)
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { covScaled(j * n + i) = covScaled(i * n + j); j += 1 }
        i += 1
      }
      stateIndex += 1
      mean = mean2; cov = covScaled
      new GenericInternalRow(Array[Any](
        keys.key, stateIndex,
        if (row.isNullAt(1)) null else Long.box(row.getLong(1)),
        UnsafeArrayData.fromPrimitiveArray(mean2),
        new GenericInternalRow(Array[Any](n, n, UnsafeArrayData.fromPrimitiveArray(covScaled)))))
    }
  }
}

object RlsRowKernel {
  val outputSchema: StructType = Encoders.product[RlsOut].schema
}

final class LmsRowKernel(
    mu: Double, eps: Double,
    constMean: Array[Double], hasIM: Boolean) extends FoldKernel {

  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val keys = new KeyRun
    private var stateIndex = 0L
    private var mean: Array[Double] = null

    def hasNext: Boolean = rows.hasNext

    def next(): InternalRow = {
      val row = rows.next()
      if (keys.starts(row)) {
        stateIndex = 0L
        mean = if (hasIM && !row.isNullAt(4)) row.getArray(4).toDoubleArray else constMean
      }
      val label = row.getDouble(2)
      val x = row.getArray(3).toDoubleArray
      // ---- LmsSpec.update, verbatim op order ----
      val gain = mu / (eps + Dense.dot(x, x))
      val resid = label - Dense.dot(x, mean)
      val mean2 = mean.clone()
      Dense.axpy(gain * resid, x, mean2)
      stateIndex += 1
      mean = mean2
      new GenericInternalRow(Array[Any](
        keys.key, stateIndex,
        if (row.isNullAt(1)) null else Long.box(row.getLong(1)),
        UnsafeArrayData.fromPrimitiveArray(mean2)))
    }
  }
}

object LmsRowKernel {
  val outputSchema: StructType = Encoders.product[LmsOut].schema
}
