package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/**
 * Native vector similarity for embedding columns. The zip_with/aggregate
 * formulations these replace are CodegenFallback (interpreted lambdas, boxed
 * accumulators) — at corpus scale the cosine IS the workload of every
 * ANN/near-dup query, so it must be a tight primitive loop.
 *
 * FP semantics are replayed exactly: each accumulator folds left-to-right in
 * element order, matching `aggregate(zip_with(...))` — oracle results are
 * bit-identical (VectorExpressionsSpec + the exact ANN oracles prove it).
 */
object VectorKernels {

  /** Left-fold dot product of two equal-dim vectors. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  /** L2 norm (sqrt of the left-fold sum of squares). */
  def norm(x: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val v = x.getDouble(i); acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  /** Cosine similarity with the zero-norm guard, one pass over both arrays:
    * dot, |a|² and |b|² fold in the same element order as [[dot]] and
    * [[norm]], so results are bit-identical. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      d += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val (sa, sb) = (math.sqrt(na), math.sqrt(nb))
    if (sa > 0.0 && sb > 0.0) d / (sa * sb) else 0.0
  }
}

/** Broadcastable centroid table for nearest-centroid assignment. Norms are
  * precomputed with the same left-fold the per-centroid expression used. */
class CentroidKernel(val cids: Array[Long], val flat: Array[Double], val dim: Int)
    extends Serializable {
  val norms: Array[Double] = Array.tabulate(cids.length) { c =>
    var acc = 0.0
    var j = 0
    while (j < dim) { val v = flat(c * dim + j); acc += v * v; j += 1 }
    math.sqrt(acc)
  }

  /** argmax_c cosine(vec, centroid_c); ties -> smallest centroid id
    * (replaying `array_max(struct(sim, -cid))`). */
  def nearest(vec: ArrayData): Long = {
    val n = vec.numElements()
    var nv2 = 0.0
    var i = 0
    while (i < n) { val v = vec.getDouble(i); nv2 += v * v; i += 1 }
    val nv = math.sqrt(nv2)
    var bestSim = Double.NegativeInfinity
    var bestCid = Long.MaxValue
    var c = 0
    while (c < cids.length) {
      var d = 0.0
      var j = 0
      val m = math.min(dim, n)
      while (j < m) { d += vec.getDouble(j) * flat(c * dim + j); j += 1 }
      val sim = if (norms(c) > 0.0 && nv > 0.0) d / (nv * norms(c)) else 0.0
      if (sim > bestSim || (sim == bestSim && cids(c) < bestCid)) {
        bestSim = sim; bestCid = cids(c)
      }
      c += 1
    }
    bestCid
  }

  /** Simplified (centroid-based) silhouette of a vector, micro-quantized:
    * a = cosine distance to the nearest centroid, b = distance to the
    * second-nearest (with multiplicity — two centroids tying at the top
    * give s = 0, the boundary case), s = (b - a) / b since a <= b always.
    * Mirrors `row_number() OVER (ORDER BY sim DESC)` at rk 1 and 2, so the
    * SQL replay is exact. O(k·dim) map-side per row, like `nearest`. */
  def silhouetteMicro(vec: ArrayData): Long = {
    if (cids.length < 2) return 0L
    val n = vec.numElements()
    var nv2 = 0.0
    var i = 0
    while (i < n) { val v = vec.getDouble(i); nv2 += v * v; i += 1 }
    val nv = math.sqrt(nv2)
    var best = Double.NegativeInfinity
    var second = Double.NegativeInfinity
    var c = 0
    while (c < cids.length) {
      var d = 0.0
      var j = 0
      val m = math.min(dim, n)
      while (j < m) { d += vec.getDouble(j) * flat(c * dim + j); j += 1 }
      val sim = if (norms(c) > 0.0 && nv > 0.0) d / (nv * norms(c)) else 0.0
      if (sim > best) { second = best; best = sim }
      else if (sim > second) { second = sim }
      c += 1
    }
    val a = 1.0 - best
    val b = 1.0 - second
    // clamp at the 1e6 ceiling: IEEE rounding can push a cosine marginally
    // above 1.0, making a negative and s > 1 (the oracle replays the same
    // least())
    if (b > 0.0) math.min(1000000L, math.floor((b - a) / b * 1000000.0 + 0.5).toLong)
    else 0L
  }

  /** Assignment AND silhouette in ONE k·dim sweep — `nearest` and
    * `silhouetteMicro` fused (identical math for each half), halving the
    * map-side flops of the cluster-quality scan. Returns (cell, s_micro). */
  def assignAndSilhouette(vec: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = vec.numElements()
    var nv2 = 0.0
    var i = 0
    while (i < n) { val v = vec.getDouble(i); nv2 += v * v; i += 1 }
    val nv = math.sqrt(nv2)
    var best = Double.NegativeInfinity
    var second = Double.NegativeInfinity
    var bestCid = Long.MaxValue
    var c = 0
    while (c < cids.length) {
      var d = 0.0
      var j = 0
      val m = math.min(dim, n)
      while (j < m) { d += vec.getDouble(j) * flat(c * dim + j); j += 1 }
      val sim = if (norms(c) > 0.0 && nv > 0.0) d / (nv * norms(c)) else 0.0
      if (sim > best) { second = best; best = sim; bestCid = cids(c) }
      else {
        if (sim == best && cids(c) < bestCid) bestCid = cids(c)
        if (sim > second) second = sim
      }
      c += 1
    }
    val s =
      if (cids.length < 2) 0L
      else {
        val a = 1.0 - best
        val b = 1.0 - second
        if (b > 0.0) math.min(1000000L, math.floor((b - a) / b * 1000000.0 + 0.5).toLong)
        else 0L
      }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestCid, s))
  }
}

/**
 * Two-level nearest-centroid assignment: argmax cosine over `kc` coarse
 * cells, then exact argmax over only the fine centroids routed to that
 * coarse cell — O(kc + k/kc) dot products per row instead of O(k). This is
 * the FAISS-style trick that lets a quantizer's cluster count track the
 * corpus (k ∝ N, SemDeDup's constant-occupancy regime) without the flat
 * scan's quadratic N·k assignment term. Approximate near coarse-cell
 * boundaries; a pure per-row function, so deterministic under any
 * partitioning.
 */
class HierCentroidKernel(
    val coarseFlat: Array[Double], val kc: Int, val dim: Int,
    val fineCids: Array[Long], val fineFlat: Array[Double],
    val segStart: Array[Int], val segIdx: Array[Int],
    val probes: Int = 4) extends Serializable {

  private val coarseNorms: Array[Double] = Array.tabulate(kc) { c =>
    var acc = 0.0; var j = 0
    while (j < dim) { val v = coarseFlat(c * dim + j); acc += v * v; j += 1 }
    math.sqrt(acc)
  }
  private val fineNorms: Array[Double] = Array.tabulate(fineCids.length) { c =>
    var acc = 0.0; var j = 0
    while (j < dim) { val v = fineFlat(c * dim + j); acc += v * v; j += 1 }
    math.sqrt(acc)
  }

  def nearest(vec: ArrayData): Long = {
    val n = vec.numElements()
    val m = math.min(dim, n)
    var nv2 = 0.0
    var i = 0
    while (i < n) { val v = vec.getDouble(i); nv2 += v * v; i += 1 }
    val nv = math.sqrt(nv2)
    // level 1: multi-probe coarse routing — keep the top `probes` cells
    // (ties -> smaller coarse index), misses only when the true cell's
    // centroid ranks below all probed ones for this vector
    val p = math.min(probes, kc)
    val topIdx = new Array[Int](p)
    val topSim = new Array[Double](p)
    java.util.Arrays.fill(topSim, Double.NegativeInfinity)
    var c = 0
    while (c < kc) {
      var d = 0.0; var j = 0
      while (j < m) { d += vec.getDouble(j) * coarseFlat(c * dim + j); j += 1 }
      val sim = if (coarseNorms(c) > 0.0 && nv > 0.0) d / (nv * coarseNorms(c)) else 0.0
      // insertion into the tiny top-p list
      var slot = -1
      var t = p - 1
      while (t >= 0 && sim > topSim(t)) { slot = t; t -= 1 }
      if (slot >= 0) {
        var u = p - 1
        while (u > slot) { topSim(u) = topSim(u - 1); topIdx(u) = topIdx(u - 1); u -= 1 }
        topSim(slot) = sim; topIdx(slot) = c
      }
      c += 1
    }
    // level 2: exact argmax within the probed segments (ties -> smallest cid)
    var bestFine = Double.NegativeInfinity
    var bestCid = Long.MaxValue
    var pi = 0
    while (pi < p) {
      if (topSim(pi) > Double.NegativeInfinity) {
        var s = segStart(topIdx(pi))
        val e = segStart(topIdx(pi) + 1)
        while (s < e) {
          val f = segIdx(s)
          var d = 0.0; var j = 0
          while (j < m) { d += vec.getDouble(j) * fineFlat(f * dim + j); j += 1 }
          val sim = if (fineNorms(f) > 0.0 && nv > 0.0) d / (nv * fineNorms(f)) else 0.0
          if (sim > bestFine || (sim == bestFine && fineCids(f) < bestCid)) {
            bestFine = sim; bestCid = fineCids(f)
          }
          s += 1
        }
      }
      pi += 1
    }
    bestCid
  }
}

/** Broadcastable hyperplane table for sign-bucket LSH. */
class PlaneKernel(val flat: Array[Double], val planes: Int, val dim: Int) extends Serializable {
  /** Sign-bit bucket: bit j set when dot(vec, plane_j) >= 0 (left-fold). */
  def bucket(vec: ArrayData): Long = {
    val m = math.min(dim, vec.numElements())
    var b = 0L
    var j = 0
    while (j < planes) {
      var acc = 0.0
      var d = 0
      while (d < m) { acc += vec.getDouble(d) * flat(j * dim + d); d += 1 }
      if (acc >= 0.0) b |= (1L << j)
      j += 1
    }
    b
  }
}

object VectorExpressions {
  def dotProduct(a: Column, b: Column): Column =
    Bridge.invoke(VectorKernels, "dot", DoubleType, Seq(a, b))

  def vectorNorm(a: Column): Column =
    Bridge.invoke(VectorKernels, "norm", DoubleType, Seq(a))

  def cosineSim(a: Column, b: Column): Column =
    Bridge.invoke(VectorKernels, "cosine", DoubleType, Seq(a, b))

  private def centroids(cents: Array[(Long, Array[Double])]): CentroidKernel = {
    require(cents.nonEmpty, "empty centroid set")
    new CentroidKernel(cents.map(_._1), cents.flatMap(_._2), cents.head._2.length)
  }

  /** Nearest-centroid cell id of a vector column against a fixed centroid
    * set (IVF coarse quantizer assignment): one k·dim sweep per row, the
    * centroid matrix riding the plan as one object, NOT as k×dim literal
    * sub-expressions. */
  def nearestCentroid(vec: Column, cents: Array[(Long, Array[Double])]): Column =
    Bridge.invoke(centroids(cents), "nearest", LongType, Seq(vec))

  /** Micro-quantized simplified silhouette against a fixed centroid set —
    * the cluster-quality gate's per-row kernel. */
  def centroidSilhouette(vec: Column, cents: Array[(Long, Array[Double])]): Column =
    Bridge.invoke(centroids(cents), "silhouetteMicro", LongType, Seq(vec))

  /** Fused struct(cell, s_micro) — one sweep for the silhouette scan (half
    * the flops of [[nearestCentroid]] and [[centroidSilhouette]] apart). */
  def centroidAssignSilhouette(vec: Column, cents: Array[(Long, Array[Double])]): Column =
    Bridge.invoke(centroids(cents), "assignAndSilhouette", StructType(Seq(
      StructField("cell", LongType, nullable = false),
      StructField("s_micro", LongType, nullable = false))), Seq(vec))

  /** Random-hyperplane LSH bucket of `vec` against a plane matrix
    * (row-major planes x dim): all sign bits in one call per row. */
  def hyperplaneBucket(vec: Column, flat: Array[Double], planes: Int, dim: Int): Column =
    Bridge.invoke(new PlaneKernel(flat, planes, dim), "bucket", LongType, Seq(vec))

  /** Two-level (coarse -> fine-segment) nearest-centroid assignment. */
  def nearestCentroidHier(vec: Column, kernel: HierCentroidKernel): Column =
    Bridge.invoke(kernel, "nearest", LongType, Seq(vec))
}
