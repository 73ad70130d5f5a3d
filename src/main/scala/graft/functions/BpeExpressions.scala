package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native codegen kernels for the BPE trainer hot path (optimization round
 * 13, guide §1.2 step 2 / §4.1). The trainer's original formulations were
 * Catalyst higher-order functions — CodegenFallback, interpreted lambda per
 * element — and the merge apply was a fold whose accumulator `concat` copies
 * the prefix array per token (O(len²) per word per merge). These kernels are
 * one primitive pass each and stay inside whole-stage codegen.
 *
 * Semantics are bit-identical to the HOF formulations they replace:
 * BpeTrainerSpec pins kernel ≡ fold on adversarial token arrays, and the
 * unchanged DuckDB oracles (q_bpe_train / q_bpe_train_batched /
 * q_bpe_segment / q_fertility) prove it end-to-end.
 */
object BpeKernels extends Serializable {

  /** Greedy left-to-right non-overlapping application of ONE merge
    * (left, right) → merged over a token array: exactly the left fold
    * "merge current token into the accumulator's last when last == left and
    * current == right" (a freshly merged token can never re-match `left`
    * because merged = left||right with right nonempty). */
  def applyMerge(arr: ArrayData, left: UTF8String, right: UTF8String,
      merged: UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new Array[AnyRef](n)
    var m = 0
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (m > 0 && right.equals(t) && left.equals(out(m - 1))) {
        out(m - 1) = merged
      } else {
        out(m) = t
        m += 1
      }
      i += 1
    }
    new GenericArrayData(if (m == n) out else java.util.Arrays.copyOf(out, m))
  }

  /** Adjacent (left, right) token pairs of an array in order — the pair-
    * count generator input: [(t0,t1), (t1,t2), ...]; empty for len < 2. */
  def adjacentPairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](n - 1)
    var prev = arr.getUTF8String(0)
    var i = 1
    while (i < n) {
      val t = arr.getUTF8String(i)
      out(i - 1) = InternalRow(prev, t)
      prev = t
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Every character window of length 2..maxLen of a word, length-major
    * (all 2-grams, then all 3-grams, ...) — the subword-vocab candidate
    * generator. Character indexing matches SQL substring (code points).
    * EMPTY for a null word. */
  def charGrams(w: UTF8String, maxLen: Int): ArrayData = {
    if (w == null) return new GenericArrayData(Array.empty[AnyRef])
    val len = w.numChars()
    var total = 0
    var l = 2
    while (l <= maxLen) { if (len >= l) total += len - l + 1; l += 1 }
    if (total == 0) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](total)
    var k = 0
    l = 2
    while (l <= maxLen) {
      if (len >= l) {
        var i = 0
        val last = len - l
        while (i <= last) {
          out(k) = w.substring(i, i + l)
          k += 1
          i += 1
        }
      }
      l += 1
    }
    new GenericArrayData(out)
  }
}

object BpeExpressions {
  private val strings = ArrayType(StringType, containsNull = false)

  /** One BPE merge (left, right) applied to an array<string> token column. */
  def applyMerge(toks: Column, left: String, right: String): Column =
    Bridge.invoke(BpeKernels, "applyMerge", strings,
      Seq(toks, lit(left), lit(right), lit(left + right)))

  /** Adjacent token pairs array<struct<l,r>> of an array<string> column. */
  def adjacentPairs(toks: Column): Column =
    Bridge.invoke(BpeKernels, "adjacentPairs", ArrayType(
      StructType(Seq(StructField("l", StringType), StructField("r", StringType))),
      containsNull = false), Seq(toks))

  /** All 2..maxLen character windows of a string column (length-major);
    * EMPTY for a null word. */
  def charGrams(w: Column, maxLen: Int): Column = {
    require(maxLen >= 2, s"maxLen must be >= 2, got $maxLen")
    Bridge.invoke(BpeKernels, "charGrams", strings, Seq(w, lit(maxLen)), nullSafe = false)
  }
}
