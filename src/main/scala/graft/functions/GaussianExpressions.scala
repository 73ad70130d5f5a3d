package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/**
 * Native kernels for per-row-parameter gaussian sampling. These replace the
 * round-2 cholValuesUdf/scaleGaussianUdf (VectorFunctions) — the last UDFs in
 * a graft hot path: q_rand_gaussian runs the scale step on EVERY event row,
 * and a Scala UDF there forces deserialization out of Tungsten rows plus a
 * boxed Seq[Double] round trip per row. The kernel call stays inside
 * whole-stage codegen like the vector/centroid kernels. Null in any input
 * gives null, and so does a covariance that is not positive definite.
 *
 * FP semantics are identical to the UDFs they replace (same
 * graft.linalg.Dense.cholesky, same accumulation order), so
 * RandomFunctionsSpec's seeded-determinism and moment assertions hold
 * unchanged.
 */
object GaussKernel {

  /** mean + L * z with L = cholesky(cov); null when cov is not PD
    * (mirrors the UDF's null contract). */
  def scale(mean: ArrayData, cov: ArrayData, z: ArrayData): ArrayData = {
    val n = mean.numElements()
    val l = graft.linalg.Dense.cholesky(cov.toDoubleArray(), n)
    if (l == null) null
    else {
      val out = mean.toDoubleArray()
      var i = 0
      while (i < n) {
        var j = 0
        while (j <= i) { out(i) += l(i * n + j) * z.getDouble(j); j += 1 }
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Lower-triangular Cholesky factor values of a square row-major matrix
    * (n derived from the value count); null when not PD. */
  def chol(values: ArrayData): ArrayData = {
    val n = math.round(math.sqrt(values.numElements().toDouble)).toInt
    val l = graft.linalg.Dense.cholesky(values.toDoubleArray(), n)
    if (l == null) null else new GenericArrayData(l)
  }
}

object GaussianExpressions {
  private val doubles = ArrayType(DoubleType, containsNull = false)

  /** mean + cholesky(cov) * normal — per-row distribution parameters. */
  def gaussianScale(mean: Column, covValues: Column, normal: Column): Column =
    Bridge.invoke(GaussKernel, "scale", doubles, Seq(mean, covValues, normal), nullableResult = true)

  /** Per-row Cholesky factor of a square row-major SPD matrix values array. */
  def choleskyValues(values: Column): Column =
    Bridge.invoke(GaussKernel, "chol", doubles, Seq(values), nullableResult = true)
}
