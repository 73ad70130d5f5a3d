package graft.smoother

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType

import graft.filter.{KalmanDefaults, KalmanRowInput, LinearKalmanCompute}
import graft.state.{FoldKernel, SpecKernel}
import graft.state.RowCodec._

/**
 * Batch row kernels of the RTS smoother: the forward kernel drives
 * [[ForwardSpec]] over the canonical 11-column Kalman projection and emits
 * FiltRecord rows; the backward kernel drives [[BackwardSpec]] over them,
 * sorted (stateKey, stateIndex desc). KalmanKernelPinSpec pins both bit for
 * bit to [[LinearKalmanSmoother.smoothEncoderBatch]].
 */
final class RtsForwardRowKernel(
    compute: LinearKalmanCompute,
    defaults: KalmanDefaults,
    hasMM: Boolean, hasMN: Boolean, hasPM: Boolean, hasPN: Boolean,
    hasCtl: Boolean, hasCtlFn: Boolean, hasIM: Boolean, hasIC: Boolean)
  extends FoldKernel {

  private val fold = new SpecKernel(new ForwardSpec(compute, defaults),
    new KalmanRowInput(hasMM, hasMN, hasPM, hasPN, hasCtl, hasCtlFn, hasIM, hasIC).decode,
    RtsForwardRowKernel.encode)

  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = fold.run(rows)
}

object RtsForwardRowKernel {
  val outputSchema: StructType = Encoders.product[FiltRecord].schema

  private def encode(r: FiltRecord): GenericInternalRow = new GenericInternalRow(Array[Any](
    null, r.stateIndex, null, vector(r.filtMean), vector(r.filtCov),
    vector(r.predMean), vector(r.predCov), matrix(r.processModel)))
}

final class RtsBackwardRowKernel(s: Int) extends FoldKernel {

  private val fold = new SpecKernel[FiltRecord, Smoothed, SmoothedOut](new BackwardSpec(s),
    row => FiltRecord(null, row.getLong(1), None, readVector(row, 3), readVector(row, 4),
      readVector(row, 5), readVector(row, 6), readMatrix(row, 7)),
    o => new GenericInternalRow(Array[Any](
      null, o.stateIndex, null, vector(o.stateMean), matrix(o.stateCovariance))),
    timeIn = 2)

  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = fold.run(rows)
}

object RtsBackwardRowKernel {
  val outputSchema: StructType = Encoders.product[SmoothedOut].schema
}
