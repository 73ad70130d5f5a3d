package graft.filter

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType

import graft.linalg.DMat
import graft.state.RowCodec._
import graft.state.{SpecKernel, StateCodec}

/**
 * Row kernel of the Kalman family (LKF/EKF/UKF/CKF/RAUKF, multi-step
 * prediction, the MMAE bank): [[KalmanSpec]] driven over the canonical
 * 11-column input projection ([[KalmanFilterBase.kalmanProjection]]),
 * writing `KalmanOut`-shaped rows with no Dataset-encoder round trip.
 * KalmanKernelPinSpec pins it bit for bit to the encoder reference.
 */
final class KalmanRowKernel(
    compute: KalmanCompute,
    defaults: KalmanDefaults,
    storeResidual: Boolean,
    likelihoodWindow: Int,
    multiStepPredict: Int,
    computeLL: Boolean,
    computeMaha: Boolean,
    computeSliding: Boolean,
    emitSystemMatrices: Boolean,
    hasMM: Boolean, hasMN: Boolean, hasPM: Boolean, hasPN: Boolean,
    hasCtl: Boolean, hasCtlFn: Boolean, hasIM: Boolean, hasIC: Boolean)
  extends SpecKernel[KalmanIn, KState, KalmanOut](
    new KalmanSpec(compute, defaults, storeResidual, likelihoodWindow, multiStepPredict,
      computeLL, computeMaha, computeSliding, emitSystemMatrices),
    new KalmanRowInput(hasMM, hasMN, hasPM, hasPN, hasCtl, hasCtlFn, hasIM, hasIC).decode,
    KalmanRowKernel.encode,
    KalmanRowKernel.outputSchema,
    Some(KalmanRowKernel.state),
    timeOut = Some(3))

/** Decodes the canonical 11-column Kalman input projection shared by the
  * Kalman and RTS forward kernels into the `KalmanIn` that
  * `toKalmanInput` yields for the row: the per-row columns the filter has,
  * None for null or absent ones (the spec fills in the constants). Key and
  * time are left out. */
private[graft] final class KalmanRowInput(
    hasMM: Boolean, hasMN: Boolean, hasPM: Boolean, hasPN: Boolean,
    hasCtl: Boolean, hasCtlFn: Boolean, hasIM: Boolean, hasIC: Boolean)
  extends Serializable {

  private def vec(row: InternalRow, i: Int, present: Boolean): Option[Array[Double]] =
    if (present && !row.isNullAt(i)) Some(readVector(row, i)) else None

  private def mat(row: InternalRow, i: Int, present: Boolean): Option[DMat] =
    if (present && !row.isNullAt(i)) Some(readMatrix(row, i)) else None

  def decode(row: InternalRow): KalmanIn = KalmanIn(null, None, vec(row, 2, present = true),
    mat(row, 3, hasMM), mat(row, 4, hasMN), mat(row, 5, hasPM), mat(row, 6, hasPN),
    vec(row, 7, hasCtl), mat(row, 8, hasCtlFn), vec(row, 9, hasIM), mat(row, 10, hasIC))
}

object KalmanRowKernel {
  /** Exactly the schema the encoder path yields (same Product encoder). */
  val outputSchema: StructType = Encoders.product[KalmanOut].schema

  /** The streamed state: `KState` as its struct. */
  private[graft] lazy val state = StateCodec[KState](Encoders.product[KState].schema,
    s => row(s.stateIndex, vector(s.mean), vector(s.cov), nullable(s.residualMean)(vector),
      nullable(s.residualCov)(vector), vector(s.slidingLL.toArray), nullable(s.adaptiveQ)(vector)),
    r => KState(r.getLong(0), readVector(r, 1), readVector(r, 2), optVector(r, 3), optVector(r, 4),
      readVector(r, 5).toList, optVector(r, 6)))

  private def encode(o: KalmanOut): GenericInternalRow = new GenericInternalRow(Array[Any](
    null, o.stateIndex, o.stepIndex, null,
    vector(o.stateMean), matrix(o.stateCovariance),
    nullable(o.residualMean)(vector), nullable(o.residualCovariance)(matrix),
    nullable(o.loglikelihood)(Double.box), nullable(o.mahalanobis)(Double.box),
    nullable(o.slidingLikelihood)(Double.box),
    nullable(o.processModel)(matrix), nullable(o.processNoise)(matrix),
    nullable(o.measurementModel)(matrix), nullable(o.measurementNoise)(matrix)))
}
