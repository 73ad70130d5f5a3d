package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/**
 * Count-only set intersection over SORTED, DEDUPLICATED arrays — the dedup
 * verify kernel (optimization round 13). Every exact-Jaccard verify in the
 * engine computed `size(array_intersect(a, b))`: array_intersect builds a
 * hash set AND materializes the intersection array per candidate pair, only
 * for `size` to throw it away — at 260k candidate pairs per sf0.1 τ-join
 * that allocation was the single hottest code path in the book. This kernel
 * is the classic two-pointer merge count: zero allocation, O(|a| + |b|),
 * inside whole-stage codegen.
 *
 * CONTRACT: both inputs sorted ascending (sort_array order) with distinct
 * elements and no nulls — exactly what the verify projections feed after
 * their sort_array(array_distinct(...)) / sort_array(sset) canonicalization.
 * On such inputs the count is bit-identical to size(array_intersect(a, b));
 * NativeFunctionsSpec pins it.
 */
object SetKernels extends Serializable {

  def intersectCountLong(a: ArrayData, b: ArrayData): Long = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  def intersectCountString(a: ArrayData, b: ArrayData): Long = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}

/** |a ∩ b| of two sorted deduplicated arrays (array<long> or array<string>):
  * the optimizer replaces it by the call of the SetKernels method for the
  * resolved element type. Other element types fail at ANALYSIS time, before
  * any job starts, not mid-job at execution. The sorted+deduplicated
  * input contract stays at the call sites, which canonicalize with
  * sort_array(array_distinct(...)). */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "intersect_count_sorted"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) |
         (ArrayType(StringType, _), ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<long> or two array<string> arguments, " +
        s"got ${l.simpleString} and ${r.simpleString}")
  }

  override lazy val replacement: Expression = {
    val method = left.dataType match {
      case ArrayType(LongType, _) => "intersectCountLong"
      case _ => "intersectCountString"
    }
    StaticInvoke(SetKernels.getClass, LongType, method, Seq(left, right), returnNullable = false)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntersectCountSorted =
    copy(left = l, right = r)
}

object SetExpressions {
  /** Count of common elements; both columns must be sorted + deduplicated. */
  def intersectCountSorted(a: Column, b: Column): Column =
    Bridge.column(IntersectCountSorted(Bridge.expression(a), Bridge.expression(b)))
}
