package graft.mixture

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.StructType

import graft.state.{FoldKernel, KeyRun}

/**
 * InternalRow-level batch executor for the online (stochastic-EM) mixture
 * path — same pattern as [[graft.filter.KalmanRowKernel]]: decode the
 * canonical 9-column MixIn projection straight off Tungsten rows, fold the
 * per-key minibatch EM with the IDENTICAL family math (`logpdf` /
 * `accumulate` / `fromMoments`) in the IDENTICAL order (including the
 * newest-first minibatch iteration of the List buffer), and emit
 * MixtureOut rows without the Dataset-encoder round trip. The batch-EM
 * variant (`setEnableBatchTrain`) keeps the encoder engine (it relies on
 * the end-of-key flush). Bit-exactness vs the encoder path is pinned by
 * MixtureKernelPinSpec, including duplicate-(key, time) tie order — the
 * kernel consumes the SAME projection, so the __rowSeq hash domain is
 * unchanged.
 */
final class MixtureRowKernel(
    family: MixtureFamily,
    k: Int,
    initWeights: Array[Double],
    initParams: Array[Array[Double]]) extends FoldKernel {

  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = new Iterator[InternalRow] {
    // per-key fold state (mirrors MixState)
    private val keys = new KeyRun
    private var stateIndex = 0L
    private var buffer: List[Array[Double]] = Nil
    private var summaryWeights: Array[Double] = null
    private var summaryMoments: Array[Array[Double]] = null
    private var weights: Array[Double] = null
    private var params: Array[Array[Double]] = null
    private var loglikelihood = Double.MinValue

    private var nextRow: InternalRow = null

    def hasNext: Boolean = {
      while (nextRow == null && rows.hasNext) nextRow = process(rows.next())
      nextRow != null
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = nextRow; nextRow = null; r
    }

    private def readParams(row: InternalRow, i: Int): Array[Array[Double]] = {
      val outer = row.getArray(i)
      Array.tabulate(outer.numElements())(j => outer.getArray(j).toDoubleArray)
    }

    /** Returns the emitted row, or null when this input row only buffers. */
    private def process(row: InternalRow): InternalRow = {
      if (keys.starts(row)) {
        // ---- MixtureSpec.initState, verbatim ----
        val w0 = if (!row.isNullAt(7)) row.getArray(7).toDoubleArray else initWeights
        val p0 = if (!row.isNullAt(8)) readParams(row, 8) else initParams
        summaryMoments = Array.tabulate(k)(i => family.fromMoments(p0(i), 1.0 / w0(i)))
        summaryWeights = w0.clone()
        weights = w0.clone()
        params = p0.map(_.clone())
        stateIndex = 0L
        buffer = Nil
        loglikelihood = Double.MinValue
      }
      val sample = row.getArray(2).toDoubleArray
      val stepSize = row.getDouble(3)
      val decayRate = row.getDouble(4)
      val minibatchSize = row.getInt(5)
      val updateHoldout = row.getInt(6)
      // ---- MixtureSpec.update, verbatim op order ----
      val buf = sample :: buffer
      if (buf.size < minibatchSize) {
        buffer = buf
        null // output() emits nothing while the buffer fills
      } else {
        val gamma =
          if (decayRate >= 0) math.pow(2.0 + stateIndex, -decayRate)
          else stepSize
        val b = buf.length
        var llSum = 0.0
        val sumWeights = new Array[Double](k)
        val sumMoments = Array.fill(k)(new Array[Double](family.paramSize))
        buf.foreach { x =>
          val wl = new Array[Double](k)
          var i = 0
          while (i < k) { wl(i) = family.logpdf(params(i), x) + math.log(weights(i)); i += 1 }
          val mx = wl.max
          var z = 0.0
          i = 0
          while (i < k) { wl(i) = math.exp(wl(i) - mx); z += wl(i); i += 1 }
          llSum += mx + math.log(z)
          i = 0
          while (i < k) {
            val r = wl(i) / z
            sumWeights(i) += r / b
            family.accumulate(params(i), sumMoments(i), r / b, x)
            i += 1
          }
        }
        val newW = new Array[Double](k)
        val newM = Array.tabulate(k) { i =>
          newW(i) = (1 - gamma) * summaryWeights(i) + gamma * sumWeights(i)
          val o = summaryMoments(i)
          val n = sumMoments(i)
          Array.tabulate(family.paramSize)(j => (1 - gamma) * o(j) + gamma * n(j))
        }
        val (outW, outP) =
          if (stateIndex < updateHoldout) (weights, params)
          else (newW.clone(), newW.zip(newM).map { case (w, m) => family.fromMoments(m, w) })
        stateIndex += 1
        buffer = Nil
        summaryWeights = newW
        summaryMoments = newM
        weights = outW
        params = outP
        loglikelihood = llSum / b
        // ---- MixtureSpec.output (buffer empty -> one row) ----
        new GenericInternalRow(Array[Any](
          keys.key, stateIndex,
          if (row.isNullAt(1)) null else Long.box(row.getLong(1)),
          UnsafeArrayData.fromPrimitiveArray(weights),
          new GenericArrayData(
            params.map(p => UnsafeArrayData.fromPrimitiveArray(p): Any)),
          loglikelihood))
      }
    }
  }
}

object MixtureRowKernel {
  val outputSchema: StructType = Encoders.product[MixtureOut].schema
}
