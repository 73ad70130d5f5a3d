package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, LongType}

/**
 * Native kernels for the PCA covariance scan (optimization round 13). The
 * original stats vector was built with nested interpreted HOFs —
 * flatten(transform(sequence, i => transform(sequence, j => q_i·q_j))) —
 * allocating index sequences and running every product through an
 * interpreted lambda; at dim 64 that is 2 080 lambda evaluations per row.
 * These kernels are one primitive pass inside whole-stage codegen with
 * identical integer semantics (NativeFunctionsSpec pins kernel ≡ HOF; the unchanged
 * DuckDB oracles prove it end-to-end).
 */
object PcaKernels extends Serializable {

  /** Flat moment-stats vector of a quantized array<long>: the d means
    * positions q_0..q_{d-1}, then the upper-triangle products q_i·q_j for
    * i <= j in row-major (i, then j) order — the exact layout
    * Pca.topComponentVector's position arithmetic expects. */
  def momentStats(q: ArrayData): ArrayData = {
    val d = q.numElements()
    val qa = new Array[Long](d)
    var i = 0
    while (i < d) { qa(i) = q.getLong(i); i += 1 }
    val out = new Array[Long](d + d * (d + 1) / 2)
    System.arraycopy(qa, 0, out, 0, d)
    var k = d
    i = 0
    while (i < d) {
      val qi = qa(i)
      var j = i
      while (j < d) {
        out(k) = qi * qa(j)
        k += 1
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Integer dot of an array<long> row against a fixed component vector
    * (the projection step of all-but-the-top). Shorter rows are the
    * caller's ragged-guard problem; the kernel dots min(len, d) entries. */
  def dotWith(q: ArrayData, comp: Array[Long]): Long = {
    val n = math.min(q.numElements(), comp.length)
    var s = 0L
    var i = 0
    while (i < n) { s += q.getLong(i) * comp(i); i += 1 }
    s
  }
}

object PcaExpressions {
  /** Flat covariance stats of a quantized vector in one pass. */
  def momentStats(q: Column): Column =
    Bridge.invoke(PcaKernels, "momentStats", ArrayType(LongType, containsNull = false), Seq(q))

  /** Integer dot against a fixed component vector (one plan object). */
  def dotWith(q: Column, comp: Array[Long]): Column =
    Bridge.invoke(PcaKernels, "dotWith", LongType, Seq(q, Bridge.column(Literal.fromObject(comp))))
}
