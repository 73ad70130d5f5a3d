package graft.smoother

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.types.StructType

import graft.filter.{KalmanDefaults, KalmanRowInput, LinearKalmanCompute}
import graft.linalg.Dense
import graft.state.{FoldKernel, KeyRun}

/**
 * InternalRow-level RTS passes (same pattern as
 * [[graft.filter.KalmanRowKernel]]): the forward kernel replicates
 * ForwardSpec's op order over the canonical 11-column Kalman projection and
 * emits FiltRecord rows; the backward kernel replicates the smoothing
 * recursion of LinearKalmanSmoother.smoothEncoderBatch's mapPartitions over
 * (stateKey asc, stateIndex desc)-sorted FiltRecord rows. Bit-exactness vs
 * the encoder path is pinned by KalmanKernelPinSpec.
 */
final class RtsForwardRowKernel(
    compute: LinearKalmanCompute,
    defaults: KalmanDefaults,
    hasMM: Boolean, hasMN: Boolean, hasPM: Boolean, hasPN: Boolean,
    hasCtl: Boolean, hasCtlFn: Boolean, hasIM: Boolean, hasIC: Boolean)
  extends FoldKernel {

  private val input = new KalmanRowInput(defaults, hasMM, hasMN, hasPM, hasPN,
    hasCtl, hasCtlFn, hasIM, hasIC)

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
        mean = input.initialMean(row)
        cov = input.initialCovariance(row)
      }
      val measNull = row.isNullAt(2)
      val in = input.resolve(row)
      // ---- ForwardSpec.update, verbatim op order ----
      val (pm0, pc0) = compute.predict(mean, cov, in)
      var em = pm0
      var ec = pc0
      if (!measNull) {
        val (a, b, _, _) = compute.estimate(pm0, pc0, in)
        em = a; ec = b
      }
      stateIndex += 1
      mean = em; cov = ec
      val pmMat = in.processModel.get
      new GenericInternalRow(Array[Any](
        keys.key, stateIndex,
        if (row.isNullAt(1)) null else Long.box(row.getLong(1)),
        UnsafeArrayData.fromPrimitiveArray(em),
        UnsafeArrayData.fromPrimitiveArray(ec),
        UnsafeArrayData.fromPrimitiveArray(pm0),
        UnsafeArrayData.fromPrimitiveArray(pc0),
        new GenericInternalRow(Array[Any](pmMat.numRows, pmMat.numCols,
          UnsafeArrayData.fromPrimitiveArray(pmMat.values)))))
    }
  }
}

object RtsForwardRowKernel {
  val outputSchema: StructType = Encoders.product[FiltRecord].schema
}

/** Backward recursion over FiltRecord rows sorted (stateKey, stateIndex desc)
  * within the forward fold's partitions (no second exchange). */
final class RtsBackwardRowKernel(s: Int) extends FoldKernel {

  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val keys = new KeyRun
    private var sm: Array[Double] = null      // smoothed mean of k+1
    private var sc: Array[Double] = null      // smoothed cov of k+1
    private var nextPredMean: Array[Double] = null
    private var nextPredCov: Array[Double] = null
    private var nextPMvals: Array[Double] = null

    def hasNext: Boolean = rows.hasNext

    def next(): InternalRow = {
      val row = rows.next()
      val filtMean = row.getArray(3).toDoubleArray
      val filtCov = row.getArray(4).toDoubleArray
      if (keys.starts(row)) {
        sm = filtMean; sc = filtCov
      } else {
        // ---- smooth()'s backward step, verbatim op order ----
        val ft = Dense.matmulNT(filtCov, nextPMvals, s, s, s)
        val pInv = Dense.inverse(nextPredCov.clone(), s)
        val g = Dense.matmul(ft, pInv, s, s, s)
        val dm = Dense.sub(sm, nextPredMean)
        val m2 = filtMean.clone()
        Dense.axpy(1.0, Dense.matvec(g, dm, s, s), m2)
        val dc = Dense.sub(sc, nextPredCov)
        val gdc = Dense.matmul(g, dc, s, s, s)
        val gdcgt = Dense.matmulNT(gdc, g, s, s, s)
        val c = Dense.add(filtCov, gdcgt)
        sm = m2; sc = Dense.symmetrize(c, s)
      }
      nextPredMean = row.getArray(5).toDoubleArray
      nextPredCov = row.getArray(6).toDoubleArray
      nextPMvals = row.getStruct(7, 3).getArray(2).toDoubleArray
      new GenericInternalRow(Array[Any](
        keys.key, row.getLong(1),
        if (row.isNullAt(2)) null else Long.box(row.getLong(2)),
        UnsafeArrayData.fromPrimitiveArray(sm),
        new GenericInternalRow(Array[Any](s, s, UnsafeArrayData.fromPrimitiveArray(sc)))))
    }
  }
}

object RtsBackwardRowKernel {
  val outputSchema: StructType = Encoders.product[SmoothedOut].schema
}
