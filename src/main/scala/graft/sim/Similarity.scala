package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.FrameCache

/**
 * Similarity search over embedding columns (array<float> / array<double>).
 * Dot products, norms and cosines are native codegen'd expressions
 * (graft.functions.VectorExpressions) with left-fold FP order, replayable in
 * exact-arithmetic engines for the oracles; no UDF and no interpreted
 * higher-order lambdas in the per-row path.
 */
object Similarity {

  /** Dot product of two equal-length double arrays (left-fold order). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.dotProduct(a, b)

  def norm(a: Column): Column = graft.functions.VectorExpressions.vectorNorm(a)

  /** Cosine similarity (0 when either vector has zero norm). */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorExpressions.cosineSim(a, b)

  /**
   * Brute-force cosine top-k: the exact baseline. `queries` is expected to be
   * small — it is broadcast against the corpus, so the corpus is scanned once
   * with NO shuffle of the big side; ranking shuffles only (query, candidate)
   * score pairs. Ties broken by corpus id for determinism.
   */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, roundTo: Int = 6): DataFrame =
    exactTopK(corpus.select(col(idCol), col(vecCol).cast("array<double>").as("cv"))
      .crossJoin(broadcast(queries.select(col(qidCol), col(qvecCol).cast("array<double>").as("qv"))))
      .where(col(idCol) =!= col(qidCol)), idCol, qidCol, k, roundTo)

  /**
   * The exact re-rank every top-k search ends in: candidate rows holding
   * the corpus vector `cv` and the query vector `qv` score sim =
   * round(cosine(cv, qv), roundTo), rank per query by sim desc with ties
   * to the smaller corpus id, and keep the first k as (qid, id, sim,
   * rank), rank a long.
   */
  private[sim] def exactTopK(
      candidates: DataFrame, idCol: String, qidCol: String,
      k: Int, roundTo: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = candidates.withColumn("sim", round(cosine(col("cv"), col("qv")), roundTo))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("sim").desc, col(idCol).asc)
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("sim"), col("rank").cast("long").as("rank"))
  }

  /**
   * SEMANTIC decontamination: flag corpus vectors whose cosine similarity
   * to ANY eval vector reaches `threshold` — the embedding-space
   * complement of n-gram decontamination (catches paraphrases and
   * re-tokenized copies that shingle overlap misses; cf. the gram-based
   * `operators.Decontamination`). Eval sets are small, so the eval side
   * broadcasts and the threshold filter runs MAP-SIDE on the corpus scan —
   * only contaminated (doc, eval) pairs ever shuffle; the per-doc window
   * then keeps the best match (sim desc, eval id asc) for attribution.
   *
   * At 100 TB: cost is one corpus scan at O(E) flops per row (E = eval
   * size, a constant) plus a shuffle of the contaminated sliver. Returns
   * (idCol, eval_id, sim) — one row per contaminated corpus vector.
   */
  def semanticContamination(
      corpus: DataFrame, evalDf: DataFrame,
      idCol: String, vecCol: String, evalIdCol: String, evalVecCol: String,
      threshold: Double, roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("cv"))
      .crossJoin(broadcast(evalDf.select(
        col(evalIdCol).as("eval_id"), col(evalVecCol).cast("array<double>").as("qv"))))
      .withColumn("sim", round(cosine(col("cv"), col("qv")), roundTo))
      .where(col("sim") >= threshold)
    val w = Window.partitionBy(col(idCol)).orderBy(col("sim").desc, col("eval_id").asc)
    scored.withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1)
      .select(col(idCol), col("eval_id"), col("sim"))
  }

  /**
   * Random-hyperplane LSH bucketing: `planes` hyperplanes with components
   * derived from an integer LCG — (lcg(j*dim+d) mod 2001 - 1000)/1000 — so
   * the planes are replayable in any engine with exact arithmetic. Returns
   * the input with a `bucket` column (one int, planes sign bits).
   *
   * Scale path: candidates are generated by an equi-join on bucket instead of
   * a cross-join; the corpus shuffles once on the bucket key.
   */
  def withLshBucket(df: DataFrame, vecCol: String, planes: Int, dim: Int): DataFrame = {
    // Plane components from exact integers — (lcg mod 2001 - 1000)/1000 — so
    // any engine replays the same doubles; all sign bits fold in ONE native
    // kernel call per row (codegen size independent of planes x dim).
    val flat = Array.tabulate(planes * dim) { i =>
      ((Similarity.lcg(i) % 2001L) - 1000L).toDouble / 1000.0
    }
    df.withColumn("bucket",
      graft.functions.VectorExpressions.hyperplaneBucket(col(vecCol).cast("array<double>"), flat, planes, dim))
  }

  /** Deterministic LCG for plane components (shared with oracle replay). */
  def lcg(i: Long): Long = (1103515245L * (i + 7L) + 12345L) % 2147483647L

  /**
   * LSH-bucketed approximate top-k: exact cosine ranking within the query's
   * bucket only. Recall depends on plane count; the 100 TB path because the
   * corpus-side work is one bucket shuffle + per-bucket scans.
   */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, planes: Int, dim: Int, roundTo: Int = 6): DataFrame = {
    val cb = withLshBucket(corpus.select(col(idCol), col(vecCol).cast("array<double>").as("cv")), "cv", planes, dim)
    val qb = withLshBucket(queries.select(col(qidCol), col(qvecCol).cast("array<double>").as("qv")), "qv", planes, dim)
    exactTopK(cb.join(qb, Seq("bucket")).where(col(idCol) =!= col(qidCol)), idCol, qidCol, k, roundTo)
  }

  /**
   * Approximate k-NN GRAPH over the whole corpus: every vector's top-k
   * cosine neighbors among vectors sharing its LSH bucket. The batch
   * building block behind SemDeDup-style clustering, embedding-based
   * curation, and graph dedup — the all-pairs problem made linear-ish:
   * candidate volume is sum(bucket²), never corpus², and each bucket's
   * pairs stay inside one shuffle partition (self-equi-join on bucket,
   * then a per-source ranking window over the same partitioning).
   *
   * At larger corpora, hold expected bucket occupancy constant by growing
   * `planes` with log2(N) (buckets = 2^planes) — same constant-occupancy
   * regime the SemDeDup soak proves for k-means cells. Isolated vectors
   * (singleton buckets) produce no rows by construction.
   */
  def knnGraph(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int, dim: Int, roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = withLshBucket(
      corpus.select(col(idCol).as("src"), col(vecCol).cast("array<double>").as("sv")), "sv", planes, dim)
    val nbrs = b.select(col("src").as("nbr"), col("sv").as("nv"), col("bucket"))
    val pairs = b.join(nbrs, Seq("bucket")).where(col("src") =!= col("nbr"))
      .withColumn("sim", round(cosine(col("sv"), col("nv")), roundTo))
    val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("nbr").asc)
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("src"), col("rank").cast("long").as("rank"), col("nbr"), col("sim"))
  }

  /**
   * `knnGraph` with the plane count sized from the corpus: planes =
   * max(minPlanes, ceil(log2(N / targetOccupancy))), holding expected
   * bucket occupancy — and therefore per-bucket pair cost — CONSTANT as
   * the corpus grows. This is the production entry point: fixed planes are
   * a hidden quadratic (occupancy ∝ N ⇒ candidates ∝ N²/2^planes); the
   * one count() action this costs is nothing next to that. The soak runs
   * this variant to prove the graph build stays ~linear.
   *
   * The plane count is EXACT INTEGER arithmetic (smallest p with
   * targetOccupancy·2^p ≥ N), not `ceil(log2(N/t))` in floating point:
   * libm `log` is allowed 1-ulp error, so at power-of-two boundaries the
   * FP form can land on either side of the integer and differ across
   * JVMs/engines. The integer form is replayable bit-for-bit in any SQL
   * engine (`greatest(minPlanes, length(bin(N-1)) - log2(t))` in DuckDB
   * when t is a power of two), which is what makes this variant
   * oracle-checkable despite the data-dependent plane count.
   */
  def knnGraphAuto(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, targetOccupancy: Int = 16,
      minPlanes: Int = 3, roundTo: Int = 6): DataFrame = {
    val n = corpus.count()
    knnGraph(corpus, idCol, vecCol, k, autoPlanes(n, targetOccupancy, minPlanes), dim, roundTo)
  }

  /** Smallest p with targetOccupancy·2^p ≥ n (= ceil(log2(n/t)) exactly),
    * clamped below by minPlanes. Pure integer — deterministic everywhere. */
  def autoPlanes(n: Long, targetOccupancy: Int = 16, minPlanes: Int = 3): Int = {
    var p = 0
    while ((targetOccupancy.toLong << p) < n && p < 56) p += 1
    math.max(minPlanes, p)
  }

  /**
   * IVF-style ANN: a FIXED-k coarse quantizer, inverted cell assignment by
   * exact cosine argmax, and per-query probing of the `nprobe` nearest cells.
   *
   * Scale design (the round-1 stride sampler had N/stride centroids →
   * quadratic assignment + unbounded broadcast; this replaces it):
   *  - `ivfTrain` picks k centroids with k CONSTANT in the corpus size: the
   *    k vectors ranked first by a deterministic LCG of their id — a
   *    replayable pseudo-random sample. One corpus pass + top-k
   *    (TakeOrderedAndProject) → a k-row model on the driver, exactly the
   *    bounded-model/unbounded-data shape of a k-means quantizer (which can
   *    replace the sampler here without touching the search path).
   *  - cell assignment is a pure per-row projection against the k centroid
   *    LITERALS — no join, no shuffle, O(N·k·dim) map-side work.
   *  - probes are queries × nprobe rows (tiny) broadcast against the
   *    assigned corpus — the corpus is scanned ONCE and never shuffled;
   *    only candidate rows in probed cells reach the ranking window.
   */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String, k: Int): Array[(Long, Array[Double])] = {
    // deterministic replayable order: lcg(id) = (1103515245*(id+7)+12345) mod (2^31-1)
    val ord = pmod(lit(1103515245L) * (col("cid") + 7L) + 12345L, lit(2147483647L))
    corpus.select(col(idCol).cast("long").as("cid"), col(vecCol).cast("array<double>").as("cvec"))
      .orderBy(ord, col("cid"))
      .limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
  }

  /** Fixed-point grain for the deterministic Lloyd means (2^16). */
  val KMeansShift: Double = 65536.0

  /**
   * Lloyd-iteration k-means refinement of the sampled quantizer: each pass
   * is one corpus scan — native nearest-centroid assignment (map-side, no
   * join) + one groupBy(cell) mean (partial aggregation, one k-row shuffle).
   * The model stays k rows on the driver regardless of corpus size; empty
   * cells keep their previous centroid.
   *
   * The cell mean folds in SCALED-INTEGER space: each coordinate quantized
   * to floor(v * 2^16 + 0.5) and summed as a long. Integer addition is
   * associative+commutative, so the mean is bit-identical no matter how the
   * shuffle partitions or interleaves the partial aggregates — the quantizer
   * is exactly replayable (and testable) at ANY cluster size, unlike a
   * float-sum mean whose value depends on reduction order. The 2^-16 grain
   * costs nothing for a coarse quantizer (cells move by whole vectors, not
   * 1e-5 nudges); overflow needs |v| * 2^16 * rows/cell > 2^63 — at unit-norm
   * embeddings that is ~10^14 rows per cell, far past 100 TB scale.
   */
  def ivfTrainKMeans(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 3, hierAssign: Boolean = false): Array[(Long, Array[Double])] = FrameCache.scoped { s =>
    var cents = ivfTrain(corpus, idCol, vecCol, k).zipWithIndex
      .map { case ((_, v), i) => (i.toLong, v) } // re-key 0..k-1: stable cell ids
    val trainDim = cents.head._2.length
    // One materialization feeds every Lloyd pass (and spills if it must) —
    // without it each iteration re-reads and re-projects the corpus.
    // Ragged vectors are dropped loudly-consistently (same guard Pca uses):
    // the per-coordinate sums would otherwise throw INVALID_ARRAY_INDEX
    // mid-aggregation on the first short row.
    val vecs = s.persist(corpus.select(col(vecCol).cast("array<double>").as("cv"))
      .where(size(col("cv")) === trainDim))
    var it = 0
    while (it < iters) {
      val means = vecs
        .withColumn("cell",
          if (hierAssign) ivfCellExprHier(col("cv"), cents) else ivfCellExpr(col("cv"), cents))
        .groupBy(col("cell"))
        .agg(
          count(lit(1)).as("n"),
          array((0 until trainDim).map(d =>
            sum(floor(col("cv")(d) * KMeansShift + 0.5))): _*).as("sums"))
        .collect()
        .map { r =>
          val n = r.getLong(1).toDouble
          r.getLong(0) -> r.getSeq[Long](2).map(x => x.toDouble / (n * KMeansShift)).toArray
        }
        .toMap
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
      it += 1
    }
    cents
  }

  /**
   * Cluster-quality gate: per-cell simplified silhouette over the trained
   * quantizer. The full silhouette's pairwise form is O(N²) — useless past
   * a sample; the simplified (centroid-based) form (a = cosine distance to
   * the own centroid, b = to the second-nearest, s = (b−a)/b) is O(N·k·dim)
   * map-side work and is the standard large-N substitute (Hruschka et al.).
   * Per-row s is micro-quantized in the kernel so the per-cell aggregation
   * is order-independent integer arithmetic — exactly replayable. Output:
   * one row per cell (n_vecs, sum/min/max s_micro); cells near 0 are
   * boundary-ridden (candidate merges), near 1e6 well separated. One scan,
   * one |k|-row agg shuffle — the same 100 TB shape as assignment itself.
   */
  def silhouette(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3): DataFrame = {
    // k = 1 has no "second-nearest" — the score is undefined, not zero
    require(k >= 2, "silhouette needs k >= 2 clusters")
    val cents = ivfTrainKMeans(corpus, idCol, vecCol, k, iters)
    val dim = cents.head._2.length
    val v = col(vecCol).cast("array<double>")
    corpus
      // drop ragged vectors loudly-consistently (same guard Pca uses):
      // the kernel would otherwise score them on a truncated dot product
      .where(size(col(vecCol)) === dim)
      // fused kernel: assignment and silhouette share one k·dim sweep
      .select(graft.functions.VectorExpressions
        .centroidAssignSilhouette(v, cents).as("cs"))
      .select(col("cs.cell").as("cell"), col("cs.s_micro").as("s_micro"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("s_micro")).as("sum_s_micro"),
        min(col("s_micro")).as("min_s_micro"),
        max(col("s_micro")).as("max_s_micro"))
  }

  /** Nearest-centroid cell id for a vector column, against driver-held
    * centroids (ties -> smallest centroid id, replaying
    * `ORDER BY sim DESC, cid ASC LIMIT 1`). A single native expression: the
    * centroid matrix rides as one codegen reference object instead of
    * k x dim literal sub-expressions, so assignment is a tight k·dim loop
    * per row and the generated code size is independent of k. Map-side. */
  def ivfCellExpr(vec: Column, cents: Array[(Long, Array[Double])]): Column =
    graft.functions.VectorExpressions.nearestCentroid(vec, cents).as("cell")

  /**
   * Two-level assignment expression: route through ~sqrt(k) coarse cells
   * (a tiny driver-side Lloyd over the k centroids themselves), exact
   * argmax only within the routed coarse cell's fine centroids. O(2·sqrt(k))
   * dots per row instead of O(k) — mandatory once the quantizer size tracks
   * the corpus (SemDeDup's k ∝ N regime), where flat assignment's N·k work
   * is the hidden quadratic. Approximate near coarse boundaries; a pure
   * per-row function, deterministic under any partitioning.
   */
  def ivfCellExprHier(vec: Column, cents: Array[(Long, Array[Double])]): Column = {
    val k = cents.length
    val dim = cents.head._2.length
    val kc = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    // deterministic driver-side Lloyd over the centroid set (k rows — trivial)
    var coarse: Array[Array[Double]] =
      cents.sortBy { case (cid, _) => (lcg(cid), cid) }.take(kc).map(_._2.clone())
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < dim) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
      // sqrt(na)*sqrt(nb), NOT sqrt(na*nb): the row kernel and the DuckDB
      // replay both take the product of square roots — the two forms differ
      // in the last ulp, which is enough to flip a routing argmax near ties
      if (na > 0.0 && nb > 0.0) d / (math.sqrt(na) * math.sqrt(nb)) else 0.0
    }
    var route = new Array[Int](k)
    var it = 0
    while (it < 3) {
      var f = 0
      while (f < k) {
        var best = 0; var bs = Double.NegativeInfinity
        var c = 0
        while (c < coarse.length) {
          val s = cos(cents(f)._2, coarse(c))
          if (s > bs) { bs = s; best = c }
          c += 1
        }
        route(f) = best
        f += 1
      }
      // quantized-integer mean (the KMeansShift discipline): floor(v*2^16+0.5)
      // summed as Long, so the coarse refinement is order-independent and the
      // DuckDB oracle replays it with the same BIGINT-sum CTE as the main
      // Lloyd chain (an FP left-fold here would force the replay to pin the
      // exact summation order)
      val sums = Array.fill(coarse.length)(new Array[Long](dim))
      val cnts = new Array[Int](coarse.length)
      var g = 0
      while (g < k) {
        val c = route(g); cnts(c) += 1
        var j = 0
        while (j < dim) {
          sums(c)(j) += math.floor(cents(g)._2(j) * KMeansShift + 0.5).toLong; j += 1
        }
        g += 1
      }
      coarse = Array.tabulate(coarse.length) { c =>
        if (cnts(c) == 0) coarse(c)
        else Array.tabulate(dim)(j => sums(c)(j).toDouble / (cnts(c) * KMeansShift))
      }
      it += 1
    }
    // drop empty coarse cells, build fine segments per surviving cell
    val live = (0 until coarse.length).filter(c => route.contains(c)).toArray
    val remap = live.zipWithIndex.toMap
    val segs = Array.fill(live.length)(new scala.collection.mutable.ArrayBuffer[Int])
    var f = 0
    while (f < k) { segs(remap(route(f))) += f; f += 1 }
    val segStart = new Array[Int](live.length + 1)
    val segIdx = new Array[Int](k)
    var pos = 0
    for (c <- live.indices) {
      segStart(c) = pos
      segs(c).foreach { i => segIdx(pos) = i; pos += 1 }
    }
    segStart(live.length) = pos
    val kernel = new graft.functions.HierCentroidKernel(
      live.flatMap(coarse(_)), live.length, dim,
      cents.map(_._1), cents.flatMap(_._2), segStart, segIdx)
    graft.functions.VectorExpressions.nearestCentroidHier(vec, kernel).as("cell")
  }

  /** IVF top-k: probe the query's `nprobe` nearest cells of a precomputed
    * quantizer (sampled or k-means), exact cosine rank within the probed
    * cells. */
  def ivfTopKWith(
      cents: Array[(Long, Array[Double])],
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int, roundTo: Int = 6): DataFrame =
    ivfProbeIndex(cents, ivfIndex(cents, corpus, idCol, vecCol),
      queries, idCol, qidCol, qvecCol, k, nprobe, roundTo)

  /**
   * The PERSISTABLE IVF index table: (idCol, cv, cell) — the corpus with its
   * nearest-centroid assignment materialized. This is the embedding twin of
   * the MinHash signature table: write it (plus the k-row centroid table) to
   * parquet partitioned by `cell` once, then score every future ingest batch
   * with [[ivfProbeIndex]] against the TABLE — no re-assignment pass over
   * history, and partition pruning means a probe reads only the nprobe cells
   * it needs (round-11; AnnIndexSpec proves probe ≡ full rebuild through a
   * parquet round-trip).
   */
  def ivfIndex(cents: Array[(Long, Array[Double])], corpus: DataFrame,
               idCol: String, vecCol: String, hierAssign: Boolean = false): DataFrame =
    corpus.select(col(idCol), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cell",
        if (hierAssign) ivfCellExprHier(col("cv"), cents) else ivfCellExpr(col("cv"), cents))

  /** IVF top-k probe of a prebuilt [[ivfIndex]] table (columns idCol, cv,
    * cell): queries rank centroids (k-row broadcast), probe their `nprobe`
    * best cells, and exact-cosine-rank only the candidate rows — history is
    * touched per-cell, never rescanned. */
  def ivfProbeIndex(
      cents: Array[(Long, Array[Double])], index: DataFrame, queries: DataFrame,
      idCol: String, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int, roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val session = index.sparkSession
    import session.implicits._
    val centsDf = cents.toSeq.toDF("cid", "cvec")
    val qScored = queries.select(col(qidCol), col(qvecCol).cast("array<double>").as("qv"))
      .crossJoin(broadcast(centsDf))
      .withColumn("csim", cosine(col("qv"), col("cvec")))
    val wq = Window.partitionBy(col(qidCol)).orderBy(col("csim").desc, col("cid").asc)
    val probes = qScored.withColumn("prank", row_number().over(wq))
      .where(col("prank") <= nprobe)
      .select(col(qidCol), col("qv"), col("cid").as("cell"))
    exactTopK(index.join(broadcast(probes), Seq("cell")).where(col(idCol) =!= col(qidCol)),
      idCol, qidCol, k, roundTo)
  }

  /**
   * The k ∝ N probe (round 11, after the scale-100 soak caught the fixed-k
   * regime going superlinear): [[ivfProbeIndex]] ranks ALL k centroids per
   * query (fine for bounded query sets), so with a corpus-scaled batch AND
   * fixed k the candidate join does |batch|·(N/k)·nprobe ≈ N²/k work — the
   * hidden quadratic of every fixed-k IVF under ingest-scale probing. The
   * scale regime keeps per-cell occupancy CONSTANT (k grows with N, the
   * SemDeDup lesson) and routes BOTH sides through the O(√k) hierarchical
   * assignment expression — map-side cell routing, one co-partitioned
   * equi-join on cell (probes are corpus-sized: no broadcast), one
   * qid-keyed rank window over occupancy-bounded candidates. nprobe is 1
   * by construction (the routed cell); index must be built with
   * `hierAssign = true` so neighbors land in the cell queries route to.
   */
  def ivfProbeIndexHier(
      cents: Array[(Long, Array[Double])], index: DataFrame, queries: DataFrame,
      idCol: String, qidCol: String, qvecCol: String,
      k: Int, roundTo: Int = 6): DataFrame = {
    val probes = queries.select(col(qidCol), col(qvecCol).cast("array<double>").as("qv"))
      .withColumn("cell", ivfCellExprHier(col("qv"), cents))
    exactTopK(index.join(probes, Seq("cell")).where(col(idCol) =!= col(qidCol)), idCol, qidCol, k, roundTo)
  }

  // ------------------------------------------------------------------ k ∝ N,
  // fully distributed model (round 13; closes the round-12 weak finding:
  // ivfTrainKMeans collects all k centroids per Lloyd pass and ships the
  // whole codebook into every task — at k = N/16 and 1e9 × dim-768 vectors
  // that model is ~370 GB of driver/executor residency. Here only the
  // ~sqrt(k) COARSE level is driver-held; the k fine centroids live in a
  // DataFrame and every assignment is map-side coarse routing + ONE
  // co-partitioned equi-join against the fine-centroid table. Catalyst
  // picks the join strategy: a small fine table broadcasts, a corpus-scale
  // one shuffle-joins — nothing is ever collected or closed over.)

  /** Distributed two-level quantizer: `coarse` is the bounded driver-held
    * routing level (≈√k rows); `fine` is the (cell, coarse, fvec)
    * DataFrame — cell ids are the sampled seed vectors' ORIGINAL ids (no
    * dense re-key: that would need a global row_number over k rows). */
  final case class IvfDistModel(coarse: Array[(Long, Array[Double])], fine: DataFrame)

  /**
   * Train the distributed quantizer. The coarse level is a standard
   * bounded-model [[ivfTrainKMeans]] at kc = ceil(√k) (its kc-row collect
   * is the residency budget we KEEP); the fine level:
   *
   *  - init: the corpus rows passing the replayable LCG THRESHOLD
   *    lcg(id) mod (2^31−1) < (2^31−1)·k/N — a pure per-row predicate, so
   *    the ~k-row seed set needs no global sort/limit (a `.limit(k)` over
   *    a corpus-scale k would funnel through one partition). k is a
   *    TARGET (binomial ±√k), the honest contract for a quantizer size;
   *  - per Lloyd pass: corpus rows route map-side to their coarse cell
   *    (O(√k) dots), join the fine table co-partitioned on `coarse`, take
   *    the exact within-coarse-cell argmax as a partial-aggregating
   *    max(struct(sim, −cell, cv)) — ties to the smallest cell, no rank
   *    window, no corpus-wide sort — then one (cell → scaled-integer
   *    sums) aggregation rebuilds the fine table (empty cells keep their
   *    vector; every mean is the order-independent 2^16 fixed-point fold,
   *    exactly [[KMeansShift]]'s discipline). The k-row means table is
   *    NEVER collected;
   *  - a corpus row routed to a coarse cell holding no fine centroid
   *    falls back to the sentinel cell −(coarse+1) (negative: cannot
   *    collide with id-keyed cells), so no row is ever silently dropped.
   *
   * Cost per pass: one corpus shuffle on `coarse` + one on the row id
   * (both ≈ N·dim), against the flat trainer's N·k assignment flops and
   * O(k·dim) driver residency. Fine tables persist per pass; the chain
   * materializes in one action (round 13 — no per-pass count() barrier).
   *
   * OWNERSHIP: the returned model's `fine` table is persisted in
   * [[FrameCache]] (query lifetime), which releases it on eviction or
   * `clear()`; the earlier passes' fine tables and the corpus routing are
   * this call's own and are released before it returns.
   */
  def ivfTrainKMeansDist(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 2, coarseIters: Int = 2, nRows: Option[Long] = None): IvfDistModel =
    FrameCache.scoped { s =>
      val (model, _) = trainDistCore(s, corpus, idCol, vecCol, k, iters, coarseIters, nRows)
      FrameCache.persist(model.fine).count() // materialize the lazy Lloyd chain in one job
      model
    }

  /** [[ivfTrainKMeansDist]] + [[ivfIndexDist]] fused: the corpus coarse
    * routing computed for training is REUSED for the index assignment
    * (one corpus×√k routing pass saved — at train-then-index time there is
    * no reason to route the same rows twice). One materializing job
    * computes the whole lazy Lloyd chain and the index (round 13: each
    * Lloyd pass used to run its own count() barrier), before the
    * intermediate fine tables and the routing are released, so nothing
    * recomputes from the raw corpus.
    *
    * OWNERSHIP: the index and the model's `fine` table are persisted in
    * [[FrameCache]] (query lifetime), which releases them on eviction or
    * `clear()`; the rest is released before this call returns. */
  def ivfTrainIndexDist(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 2, coarseIters: Int = 2, nRows: Option[Long] = None): (IvfDistModel, DataFrame) =
    FrameCache.scoped { s =>
      val (model, routed) = trainDistCore(s, corpus, idCol, vecCol, k, iters, coarseIters, nRows)
      FrameCache.persist(model.fine)
      val index = FrameCache.persist(assignFine(routed, model.fine, "_rid")
        .select(col("_rid").as(idCol), col("cv"), col("cell")))
      index.count()
      (model, index)
    }

  /** The distributed quantizer's Lloyd chain, left lazy: every fine table
    * and the corpus routing (returned beside the model) persist in `s`. */
  private def trainDistCore(
      s: FrameCache.Scope, corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, coarseIters: Int,
      // callers that already counted the corpus (k ∝ N sizing) pass it in —
      // the recount was a whole extra corpus scan per train (round 14)
      nRows: Option[Long]): (IvfDistModel, DataFrame) = {
    require(k >= 1)
    val kc = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse = ivfTrainKMeans(corpus, idCol, vecCol, kc, coarseIters)
    val n = math.max(1L, nRows.getOrElse(corpus.count()))
    val thresh = 2147483647L * k / n
    val lcgv = pmod(lit(1103515245L) * (col("cell") + 7L) + 12345L, lit(2147483647L))
    val dim = coarse.head._2.length
    // ragged vectors dropped loudly-consistently (the ivfTrainKMeans/Pca
    // guard): the scaled-integer sums would throw INVALID_ARRAY_INDEX
    var fine = s.persist(corpus
      .select(col(idCol).cast("long").as("cell"), col(vecCol).cast("array<double>").as("fvec"))
      .where(size(col("fvec")) === dim)
      .where(lcgv < thresh)
      .withColumn("coarse", ivfCellExpr(col("fvec"), coarse)))
    // corpus-side coarse routing is iteration-invariant (the coarse level
    // is frozen after its own Lloyd): compute once, reuse every pass and
    // the fused index build. Materialized by the first Lloyd action — no
    // separate count job.
    val routed = s.persist(corpus
      .select(col(idCol).cast("long").as("_rid"), col(vecCol).cast("array<double>").as("cv"))
      .where(size(col("cv")) === dim)
      .withColumn("coarse", ivfCellExpr(col("cv"), coarse)))
    // Deferred materialization (round 13): the pass count is fixed, so the
    // loop builds the persisted chain lazily — the caller's single
    // materializing action computes every pass in one job. At 2 passes the
    // peak residency is 3 k-row tables; a longer schedule should checkpoint
    // every few passes (the GraphRank discipline).
    var it = 0
    while (it < iters) {
      val assigned = assignFine(routed, fine, "_rid")
      val means = assigned
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("_n"),
          array((0 until dim).map(d =>
            sum(floor(col("cv")(d) * KMeansShift + 0.5))): _*).as("_sums"))
        .select(col("cell"),
          expr(s"transform(_sums, s -> CAST(s AS DOUBLE) / (CAST(_n AS DOUBLE) * $KMeansShift))")
            .as("_mean"))
      fine = s.persist(fine.join(means, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("_mean"), col("fvec")).as("fvec"))
        .withColumn("coarse", ivfCellExpr(col("fvec"), coarse)))
      it += 1
    }
    (IvfDistModel(coarse, fine), routed)
  }

  /** Shared assignment kernel: rows (idAlias, cv, coarse) × fine table →
    * (idAlias, cv, cell). One equi-join on `coarse` + a partial-agg argmax
    * keyed on the row id; sentinel cell −(coarse+1) for rows whose coarse
    * cell holds no fine centroid. */
  private def assignFine(routed: DataFrame, fine: DataFrame, idAlias: String): DataFrame =
    routed.join(fine, Seq("coarse"), "left")
      .select(col(idAlias), col("cv"), col("coarse"),
        coalesce(cosine(col("cv"), col("fvec")), lit(-2.0)).as("_sim"),
        coalesce(col("cell"), -(col("coarse") + 1L)).as("_cell"))
      .groupBy(col(idAlias))
      .agg(max(struct(col("_sim"), (-col("_cell")).as("_nc"), col("cv"))).as("_m"))
      .select(col(idAlias), col("_m.cv").as("cv"), (-col("_m._nc")).as("cell"))

  /** The distributed-model twin of [[ivfIndex]]: (idCol, cv, cell) with the
    * assignment running as coarse routing + the fine-table equi-join —
    * no codebook in any task closure. */
  def ivfIndexDist(model: IvfDistModel, corpus: DataFrame,
                   idCol: String, vecCol: String): DataFrame =
    assignFine(
      corpus.select(col(idCol), col(vecCol).cast("array<double>").as("cv"))
        .withColumn("coarse", ivfCellExpr(col("cv"), model.coarse)),
      model.fine, idCol)

  /** The distributed-model probe ([[ivfProbeIndexHier]]'s shape): BOTH
    * sides route through the same coarse+fine assignment, so the probe is
    * one co-partitioned equi-join on `cell` + a qid-keyed rank window over
    * occupancy-bounded candidates. nprobe = 1 by construction. */
  def ivfProbeIndexDist(
      model: IvfDistModel, index: DataFrame, queries: DataFrame,
      idCol: String, qidCol: String, qvecCol: String,
      k: Int, roundTo: Int = 6): DataFrame = {
    val probes = assignFine(
      queries.select(col(qidCol), col(qvecCol).cast("array<double>").as("cv"))
        .withColumn("coarse", ivfCellExpr(col("cv"), model.coarse)),
      model.fine, qidCol)
      .select(col(qidCol), col("cv").as("qv"), col("cell"))
    exactTopK(index.join(probes, Seq("cell")).where(col(idCol) =!= col(qidCol)), idCol, qidCol, k, roundTo)
  }

  /**
   * All near-duplicate pairs by embedding cosine >= threshold within LSH
   * buckets (scale path for embedding near-dup detection).
   */
  def embeddingNearDups(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int, dim: Int, roundTo: Int = 6): DataFrame = {
    val b = withLshBucket(df.select(col(idCol), col(vecCol).cast("array<double>").as("v")), "v", planes, dim)
    val l = b.select(col(idCol).as("a"), col("v").as("va"), col("bucket"))
    val r = b.select(col(idCol).as("b"), col("v").as("vb"), col("bucket"))
    l.join(r, Seq("bucket"))
      .where(col("a") < col("b"))
      .withColumn("sim", round(cosine(col("va"), col("vb")), roundTo))
      .where(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim"))
      .distinct()
  }

  /**
   * SemDeDup (semantic deduplication, Abbas et al. 2023): cluster the
   * embedding space with the deterministic k-means quantizer, then inside
   * each cluster drop one member of every pair whose cosine exceeds
   * `threshold`. Following the paper, the member KEPT is the one with the
   * LOWER similarity to its cluster centroid (it carries more information
   * about the cluster's periphery); ties break by id (keep the smaller).
   *
   * Output: one row per input vector — (id, cell, centroid_sim, removed).
   *
   * Scale shape: the quantizer is k rows on the driver (ivfTrainKMeans's
   * bounded-model property); cell assignment and centroid similarity are
   * map-side projections against the centroid literals — the corpus
   * shuffles ONCE, on the cell key, and the quadratic pair scan is bounded
   * per cluster, which is exactly the paper's trick for running on
   * web-scale corpora. The removal verdict is a per-pair projection + one
   * distinct + a left anti-style join back — no global pairwise pass ever
   * happens.
   */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double, roundTo: Int = 6,
      hierAssign: Boolean = false): DataFrame = {
    val cents = ivfTrainKMeans(df, idCol, vecCol, k, iters, hierAssign)
    val centsDf = {
      val session = df.sparkSession
      import session.implicits._
      cents.toSeq.toDF("cell", "cvec")
    }
    val assigned = df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell",
        if (hierAssign) ivfCellExprHier(col("v"), cents) else ivfCellExpr(col("v"), cents))
      .join(broadcast(centsDf), Seq("cell"))
      .withColumn("csim", round(cosine(col("v"), col("cvec")), roundTo))
      .select(col(idCol), col("v"), col("cell"), col("csim"))
    val l = assigned.select(col("cell"), col(idCol).as("_a"), col("v").as("_va"), col("csim").as("_ca"))
    val r = assigned.select(col("cell"), col(idCol).as("_b"), col("v").as("_vb"), col("csim").as("_cb"))
    val removed = l.join(r, Seq("cell"))
      .where(col("_a") < col("_b"))
      .where(round(cosine(col("_va"), col("_vb")), roundTo) >= threshold)
      .select(when(col("_ca") > col("_cb"), col("_a"))
        .when(col("_cb") > col("_ca"), col("_b"))
        .otherwise(col("_b")).as(idCol))
      .distinct()
      .withColumn("_rm", lit(true))
    assigned.join(removed, Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("csim").as("centroid_sim"),
        coalesce(col("_rm"), lit(false)).as("removed"))
  }
}
