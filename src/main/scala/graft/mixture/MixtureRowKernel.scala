package graft.mixture

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType

import graft.state.{SpecKernel, StateCodec}
import graft.state.RowCodec._

/**
 * Row kernel of the online (stochastic-EM) mixtures: [[MixtureSpec]]
 * driven over the canonical 9-column MixIn projection, writing MixtureOut
 * rows with no Dataset-encoder round trip, in batch and in streaming, where
 * the state is `MixState`'s struct. Batch EM (`setEnableBatchTrain`) is
 * [[BatchEmRowKernel]], over the same projection and row codecs.
 * MixtureKernelPinSpec pins both bit for bit to the encoder reference,
 * duplicate-(key, time) tie order included: both hash the same projection
 * for the sort tiebreak.
 */
final class MixtureRowKernel(
    family: MixtureFamily,
    k: Int,
    initWeights: Array[Double],
    initParams: Array[Array[Double]])
  extends SpecKernel[MixIn, MixState, MixtureOut](new MixtureSpec(family, k, initWeights, initParams),
    MixtureRowKernel.decode, MixtureRowKernel.encode, MixtureRowKernel.outputSchema, Some(MixtureRowKernel.state))

/** Batch EM as a row kernel: [[BatchEmSpec]] buffers each key's samples
  * and emits the key's model from `finish`, so it has no streamed state. */
private[mixture] final class BatchEmRowKernel(
    family: MixtureFamily,
    k: Int,
    initWeights: Array[Double],
    initParams: Array[Array[Double]],
    maxIter: Int,
    tol: Double)
  extends SpecKernel[MixIn, (List[Array[Double]], Option[MixIn]), MixtureOut](
    new BatchEmSpec(family, k, initWeights, initParams, maxIter, tol),
    MixtureRowKernel.decode, MixtureRowKernel.encode, MixtureRowKernel.outputSchema, None)

object MixtureRowKernel {
  val outputSchema: StructType = Encoders.product[MixtureOut].schema

  private[graft] lazy val state = StateCodec[MixState](Encoders.product[MixState].schema,
    s => row(s.stateIndex, vectors(s.buffer.toArray), vector(s.summaryWeights), vectors(s.summaryMoments),
      vector(s.weights), vectors(s.params), s.loglikelihood),
    r => MixState(r.getLong(0), readVectors(r, 1).toList, readVector(r, 2), readVectors(r, 3),
      readVector(r, 4), readVectors(r, 5), r.getDouble(6)))

  private[mixture] def decode(row: InternalRow): MixIn = MixIn(null, None, readVector(row, 2), row.getDouble(3),
    row.getDouble(4), row.getInt(5), row.getInt(6),
    if (row.isNullAt(7)) None else Some(readVector(row, 7)),
    if (row.isNullAt(8)) None else Some(readVectors(row, 8)))

  private[mixture] def encode(o: MixtureOut): GenericInternalRow = new GenericInternalRow(Array[Any](
    null, o.stateIndex, null, vector(o.weights), vectors(o.params), o.loglikelihood))
}
