package graft.smoother

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StructType}

import graft.filter.{KalmanDefaults, KalmanIn, KalmanRowInput, LinearKalmanCompute}
import graft.state.{SpecKernel, StateCodec}
import graft.state.RowCodec._

/**
 * Row kernels of the RTS smoother: the forward kernel drives
 * [[ForwardSpec]] over the canonical 11-column Kalman projection and emits
 * FiltRecord rows; the backward kernel drives [[BackwardSpec]] over them,
 * sorted (stateKey, stateIndex desc), and the fixed-lag kernel drives
 * [[FixedLagSpec]] over them in (stateKey, stateIndex) order, in batch and
 * in streaming. KalmanKernelPinSpec pins them bit for bit to
 * [[LinearKalmanSmoother.smoothEncoderBatch]] and
 * [[LinearKalmanSmoother.smoothFixedLagEncoderBatch]].
 */
final class RtsForwardRowKernel(
    compute: LinearKalmanCompute,
    defaults: KalmanDefaults,
    hasMM: Boolean, hasMN: Boolean, hasPM: Boolean, hasPN: Boolean,
    hasCtl: Boolean, hasCtlFn: Boolean, hasIM: Boolean, hasIC: Boolean)
  extends SpecKernel[KalmanIn, (FwdState, FiltRecord), FiltRecord](new ForwardSpec(compute, defaults),
    new KalmanRowInput(hasMM, hasMN, hasPM, hasPN, hasCtl, hasCtlFn, hasIM, hasIC).decode,
    FiltRecordRow.encode(_, withTime = false),
    RtsForwardRowKernel.outputSchema,
    Some(RtsForwardRowKernel.state))

object RtsForwardRowKernel {
  val outputSchema: StructType = Encoders.product[FiltRecord].schema

  /** The streamed forward state: the `FwdState` half alone, as its struct.
    * [[ForwardSpec]] reads only that half and emits the record of the
    * state it has just updated, so a decoded state's record is null. */
  private[graft] lazy val state = StateCodec[(FwdState, FiltRecord)](Encoders.product[FwdState].schema,
    s => row(s._1.stateIndex, vector(s._1.mean), vector(s._1.cov)),
    r => (FwdState(r.getLong(0), readVector(r, 1), readVector(r, 2)), null))
}

final class RtsBackwardRowKernel(s: Int)
  extends SpecKernel[FiltRecord, Smoothed, SmoothedOut](new BackwardSpec(s),
    FiltRecordRow.decode(_, withTime = false),
    o => new GenericInternalRow(Array[Any](
      null, o.stateIndex, null, vector(o.stateMean), matrix(o.stateCovariance))),
    RtsBackwardRowKernel.outputSchema,
    None,
    timeIn = 2)

object RtsBackwardRowKernel {
  val outputSchema: StructType = Encoders.product[SmoothedOut].schema
}

/** The fixed-lag stage over forward rows. Each output row carries the time
  * of the record it smooths, which `encode` writes. */
private[smoother] final class RtsLagRowKernel(lag: Int, s: Int)
  extends SpecKernel[FiltRecord, List[FiltRecord], RtsLagOut](new FixedLagSpec(lag, s),
    FiltRecordRow.decode(_, withTime = true),
    o => new GenericInternalRow(Array[Any](
      null, o.stateIndex, o.stepIndex, time(o.eventTime), vector(o.stateMean), matrix(o.stateCovariance))),
    RtsLagRowKernel.outputSchema,
    Some(RtsLagRowKernel.state),
    timeIn = 2, timeOut = None)

private[graft] object RtsLagRowKernel {
  val outputSchema: StructType = Encoders.product[RtsLagOut].schema

  /** The streamed lag window, newest record first; the records keep their
    * times but not the key, which is the state's own. */
  lazy val state = StateCodec[List[FiltRecord]](
    new StructType().add("records", ArrayType(Encoders.product[FiltRecord].schema, containsNull = false)),
    w => row(new GenericArrayData(w.map(r => FiltRecordRow.encode(r, withTime = true): Any).toArray)),
    r => {
      val a = r.getArray(0)
      List.tabulate(a.numElements())(i => FiltRecordRow.decode(a.getStruct(i, 8), withTime = true))
    })
}

/** A forward-pass record as a row of the FiltRecord schema, the key left
  * out (the fold writes it, or the state is the key's own) and the time
  * too unless asked for. */
private object FiltRecordRow {
  def encode(r: FiltRecord, withTime: Boolean): GenericInternalRow = new GenericInternalRow(Array[Any](
    null, r.stateIndex, if (withTime) time(r.eventTime) else null,
    vector(r.filtMean), vector(r.filtCov), vector(r.predMean), vector(r.predCov), matrix(r.processModel)))

  def decode(row: InternalRow, withTime: Boolean): FiltRecord =
    FiltRecord(null, row.getLong(1), if (withTime) readTime(row, 2) else None,
      readVector(row, 3), readVector(row, 4), readVector(row, 5), readVector(row, 6), readMatrix(row, 7))
}
