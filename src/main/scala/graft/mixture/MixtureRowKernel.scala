package graft.mixture

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.StructType

import graft.state.{FoldKernel, SpecKernel}
import graft.state.RowCodec._

/**
 * Batch row kernel of the online (stochastic-EM) mixtures: [[MixtureSpec]]
 * driven over the canonical 9-column MixIn projection, writing MixtureOut
 * rows with no Dataset-encoder round trip. The batch-EM variant
 * (`setEnableBatchTrain`) stays on the encoder engine, which runs its
 * end-of-key `finish`. MixtureKernelPinSpec pins the kernel bit for bit to
 * the encoder reference, duplicate-(key, time) tie order included: both
 * hash the same projection for the sort tiebreak.
 */
final class MixtureRowKernel(
    family: MixtureFamily,
    k: Int,
    initWeights: Array[Double],
    initParams: Array[Array[Double]]) extends FoldKernel {

  private val fold = new SpecKernel[MixIn, MixState, MixtureOut](
    new MixtureSpec(family, k, initWeights, initParams),
    row => MixIn(null, None, readVector(row, 2), row.getDouble(3), row.getDouble(4),
      row.getInt(5), row.getInt(6),
      if (row.isNullAt(7)) None else Some(readVector(row, 7)),
      if (row.isNullAt(8)) None else {
        val outer = row.getArray(8)
        Some(Array.tabulate(outer.numElements())(j => outer.getArray(j).toDoubleArray))
      }),
    o => new GenericInternalRow(Array[Any](
      null, o.stateIndex, null, vector(o.weights),
      new GenericArrayData(o.params.map(p => vector(p): Any)), o.loglikelihood)))

  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = fold.run(rows)
}

object MixtureRowKernel {
  val outputSchema: StructType = Encoders.product[MixtureOut].schema
}
