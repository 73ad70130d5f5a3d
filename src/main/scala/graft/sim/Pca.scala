package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Distributed top principal component of an embedding column — the
 * "all-but-the-top" diagnostic (Mu & Viswanath 2018): embedding spaces are
 * anisotropic, one dominant direction carries corpus-wide bias, and knowing
 * that direction (and how much variance it hoards) is the health check
 * before any cosine-based dedup/ANN stage trusts the geometry.
 *
 * Scale design — covariance as ONE bounded-model aggregation:
 *  - each vector is milli-quantized (round(x·1000) as long, the repo-wide
 *    embedding grain), so every sum is order-independent integer math;
 *  - one scan emits, per row, the d mean terms and the d(d+1)/2 upper
 *    outer-product terms as a flat (pos, value) explode; hash aggregation
 *    collapses them map-side, so the shuffle is |partitions| × (d+d(d+1)/2)
 *    rows and the driver fetch is d(d+3)/2 rows (2,144 at d=64) — a bounded
 *    model, NEVER corpus-sized, exactly like the k-means centroid fetch;
 *  - the scaled covariance C = N·Σqqᵀ − (Σq)(Σq)ᵀ (= N² × covariance —
 *    scaling never moves eigenvectors) is exact BigInt on the driver;
 *  - power iteration runs in BigInt fixed point: w = C·v, then max-abs
 *    normalization back to 1e6 scale with sign-safe truncating division
 *    (−((−x·1e6) div mx) for negatives, so BigInt/ and SQL // agree).
 *    Every step is integer-exact → bit-replayable in DuckDB HUGEINT.
 *
 * Bounds: per-coordinate |q| ≤ ~10³ ⇒ Σq_iq_j fits int64 to ~10¹² rows;
 * N·S and the BigInt driver math are unbounded. λ is reported in C units
 * (divide by N² for covariance units); trace_c in the same units gives the
 * anisotropy ratio λ/trace — the fraction of total variance the top
 * direction hoards.
 */
object Pca {

  /** (dim_idx, v_micro, lambda_c, trace_c): the top component at 1e6
    * fixed-point scale (sign-canonicalized: the largest-|v| coordinate,
    * ties → smallest index, is made positive), the dominant eigenvalue and
    * the covariance trace in C units. `iters` fixed-count power steps. */
  def topComponent(
      corpus: DataFrame, vecCol: String, dim: Int, iters: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    val (v, lambda, trace) = topComponentVector(corpus, vecCol, dim, iters)
    import spark.implicits._
    (0 until dim).map(i => (i.toLong, v(i), lambda, trace))
      .toDF("dim_idx", "v_micro", "lambda_c", "trace_c")
  }

  /** The raw driver-side model behind [[topComponent]]: the 1e6-fixed-point
    * component (long per coordinate), λ and trace in C units — the bounded
    * broadcastable artifact the apply stage ([[projectProfile]]) consumes. */
  def topComponentVector(
      corpus: DataFrame, vecCol: String, dim: Int, iters: Int = 8): (Array[Long], Long, Long) = {
    val d = dim

    val q = transform(col(vecCol).cast("array<double>"),
      x => round(x * 1000).cast("long"))
    // flat stat vector: pos 0..d-1 = q_i (means), pos d.. = q_i·q_j upper —
    // one native kernel pass (round 13: the nested transform/flatten HOF
    // ran d(d+1)/2 interpreted lambdas per row; NativeFunctionsSpec pins kernel ≡ HOF)
    val stats = corpus
      // ragged vectors would inject nulls into the product terms and sum()
      // would silently skip them, skewing the covariance — drop them loudly
      // here instead (a no-op on a well-formed corpus)
      .where(size(col(vecCol)) === d)
      .select(q.as("q"))
      .select(posexplode(graft.functions.PcaExpressions.momentStats(col("q"))).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    require(stats.nonEmpty, s"pca: no vectors of dim $d in $vecCol")

    val n = BigInt(stats.head._3)
    val byPos = stats.map(t => t._1 -> BigInt(t._2)).toMap
    val m = Array.tabulate(d)(i => byPos(i))
    // upper-triangle pos layout: entry (i, j), i<=j, sits at
    // d + i*d - i(i-1)/2 + (j - i)
    def sUp(i: Int, j: Int): BigInt = byPos(d + i * d - i * (i - 1) / 2 + (j - i))
    def cov(i: Int, j: Int): BigInt = {
      val (a, b) = if (i <= j) (i, j) else (j, i)
      n * sUp(a, b) - m(i) * m(j)
    }

    val scale = BigInt(1000000)
    var v = Array.fill(d)(scale)
    var lambda = BigInt(0)
    var t = 0
    while (t < iters) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => cov(i, j) * v(j)).sum)
      val mx = w.map(_.abs).max
      if (mx == 0) {
        v = Array.fill(d)(BigInt(0)); lambda = BigInt(0)
      } else {
        lambda = mx / scale
        v = w.map(x => if (x < 0) -((-x * scale) / mx) else (x * scale) / mx)
      }
      t += 1
    }
    // canonical sign: the largest-|v| coordinate (ties -> smallest index)
    // points positive, so the replay never diverges on eigenvector sign
    val k = (0 until d).maxBy(i => (v(i).abs, BigInt(-i)))
    if (v(k) < 0) v = v.map(x => -x)
    val trace = (0 until d).map(i => cov(i, i)).sum
    require(lambda.isValidLong && trace.isValidLong,
      s"lambda/trace exceed int64 (N=$n): emit at a coarser quantization grain")
    (v.map(_.toLong), lambda.toLong, trace.toLong)
  }

  /**
   * The apply half of all-but-the-top: project every vector onto the top
   * component and profile the projection mass per group — how much of each
   * slice's embedding mass lies along the corpus-wide anisotropy axis
   * (slices that load heavily on it are the ones cosine pulls together for
   * non-semantic reasons). Projections are exact integers (p = Σ v_micro_i
   * · q_i with milli-quantized coordinates: |p| ≤ d·1e6·|q|max, ~1e13 at
   * unit-norm inputs), so the group aggregation is order-independent.
   * Shape: the component rides as one broadcast literal; one scan + one
   * |groups|-row agg shuffle.
   */
  def projectProfile(
      corpus: DataFrame, groupCol: String, vecCol: String,
      dim: Int, iters: Int = 8): DataFrame =
    projectProfileWith(corpus, groupCol, vecCol, dim,
      topComponentVector(corpus, vecCol, dim, iters)._1)

  /** [[projectProfile]] against a PRECOMPUTED component — callers that
    * already trained it (e.g. to report λ/trace) skip the second full
    * covariance job. */
  def projectProfileWith(
      corpus: DataFrame, groupCol: String, vecCol: String,
      dim: Int, component: Array[Long]): DataFrame = {
    require(component.length == dim, s"component dim ${component.length} != $dim")
    val q = transform(col(vecCol).cast("array<double>"),
      x => round(x * 1000).cast("long"))
    // one-pass native dot against the broadcast component (round 13; was
    // zip_with + aggregate, both interpreted). The ragged-vector guard
    // below keeps the kernel's min-length dot unreachable on short rows.
    val proj = graft.functions.PcaExpressions.dotWith(q, component)
    corpus
      // same ragged-vector guard as the covariance scan: a short vector
      // would null-pad zip_with, making p NULL (and DuckDB's list_sum
      // would return a partial sum instead — an oracle divergence)
      .where(size(col(vecCol)) === dim)
      .select(col(groupCol).cast("long").as("grp"), proj.as("p"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("p")).as("sum_p"),
        sum(abs(col("p"))).as("sum_abs_p"),
        min(col("p")).as("min_p"),
        max(col("p")).as("max_p"))
  }
}
