package graft.filter

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType

import graft.linalg.DMat
import graft.state.RowCodec._
import graft.state.{SpecKernel, StateCodec}

/**
 * Row kernels of RLS and LMS: [[RlsSpec]] and [[LmsSpec]] driven over
 * the lean (stateKey, eventTime, label, features[, initialMean]
 * [, initialCovariance]) projection. Unlike the encoder path, constant
 * initial state and regularization ride in the kernel instead of being
 * materialized (typedLit) into every input row, so the shuffle carries only
 * (key, time, label, features). KalmanKernelPinSpec pins both bit for bit
 * to the encoder reference.
 */
final class RlsRowKernel(
    lambda: Double, n: Int,
    constMean: Array[Double], constCov: DMat,
    hasIM: Boolean, hasIC: Boolean)
  extends SpecKernel[RlsIn, RlsState, RlsOut](
    new RlsSpec(lambda, n),
    row => RlsIn(null, None, row.getDouble(2), readVector(row, 3),
      if (hasIM && !row.isNullAt(4)) readVector(row, 4) else constMean,
      if (hasIC && !row.isNullAt(5)) readMatrix(row, 5) else constCov),
    o => new GenericInternalRow(Array[Any](
      null, o.stateIndex, null, vector(o.stateMean), matrix(o.stateCovariance))),
    RlsRowKernel.outputSchema,
    Some(RlsRowKernel.state))

object RlsRowKernel {
  val outputSchema: StructType = Encoders.product[RlsOut].schema

  private[graft] lazy val state = StateCodec[RlsState](Encoders.product[RlsState].schema,
    s => row(s.stateIndex, vector(s.mean), vector(s.cov)),
    r => RlsState(r.getLong(0), readVector(r, 1), readVector(r, 2)))
}

final class LmsRowKernel(
    mu: Double, eps: Double,
    constMean: Array[Double], hasIM: Boolean)
  extends SpecKernel[LmsIn, LmsState, LmsOut](
    new LmsSpec(mu, eps),
    row => LmsIn(null, None, row.getDouble(2), readVector(row, 3),
      if (hasIM && !row.isNullAt(4)) readVector(row, 4) else constMean),
    o => new GenericInternalRow(Array[Any](null, o.stateIndex, null, vector(o.stateMean))),
    LmsRowKernel.outputSchema,
    Some(LmsRowKernel.state))

object LmsRowKernel {
  val outputSchema: StructType = Encoders.product[LmsOut].schema

  private[graft] lazy val state = StateCodec[LmsState](Encoders.product[LmsState].schema,
    s => row(s.stateIndex, vector(s.mean)),
    r => LmsState(r.getLong(0), readVector(r, 1)))
}
