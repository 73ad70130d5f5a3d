package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native vocab-lookup scoring for the streaming NB classifier (and any
 * token→weight fold). Replaces the `aggregate(transform(toks,
 * element_at(<map literal>, t)))` formulation, which has two scale
 * problems at the documented 1e6–1e7-token vocabularies:
 *   - `element_at` on a LITERAL map is a linear scan of the map per token
 *     (ArrayBasedMapData has no index) — O(vocab) per token;
 *   - the map literal is a Catalyst expression tree node, serialized into
 *     every task binary.
 * Here the vocab rides as ONE codegen reference object (sorted key array +
 * parallel weights), each token is a binary search — O(log vocab) — and
 * the whole fold is a single kernel call inside whole-stage codegen.
 *
 * Keys are sorted by UTF8String byte order; lookups compare the column's
 * UTF8String directly (no String decode per token).
 */
class VocabKernel(tokens: Array[String], weights: Array[Long]) extends Serializable {
  require(tokens.length == weights.length)
  // sorted copies (binary byte order, the same comparator the search uses)
  private val order = tokens.indices.sortBy(i => UTF8String.fromString(tokens(i)))
  private val keys: Array[UTF8String] = order.map(i => UTF8String.fromString(tokens(i))).toArray
  private val w: Array[Long] = order.map(i => weights(i)).toArray

  def size: Int = keys.length

  /** Σ weight(token) over the array, 0 for out-of-vocab tokens (left-fold
    * in element order — addition of longs is associative, so this equals
    * the `aggregate` fold exactly). */
  def scoreSum(arr: ArrayData): Long = {
    var s = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val t = arr.getUTF8String(i)
      var lo = 0
      var hi = keys.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keys(mid).compareTo(t) < 0) lo = mid + 1 else hi = mid
      }
      if (lo < keys.length && keys(lo).equals(t)) s += w(lo)
      i += 1
    }
    s
  }
}

object VocabExpressions {
  /** Build a reusable kernel from a driver-held token→weight model. */
  def kernel(weights: Map[String, Long]): VocabKernel = {
    val ks = weights.keys.toArray
    new VocabKernel(ks, ks.map(weights))
  }

  /** Σ vocab-weight over an array<string> column against a fixed vocab —
    * one kernel call per row; the vocab rides the plan as one object, never
    * as literal sub-expressions. */
  def scoreSum(tokens: Column, k: VocabKernel): Column =
    Bridge.invoke(k, "scoreSum", LongType, Seq(tokens))
}
