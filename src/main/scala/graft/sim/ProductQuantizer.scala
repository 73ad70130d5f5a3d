package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Product quantization (Jégou et al., "Product Quantization for Nearest
 * Neighbor Search", TPAMI 2011) — the billion-vector ANN scale path: the
 * embedding space is split into `m` orthogonal subspaces and each
 * sub-vector is quantized independently against a small per-subspace
 * codebook, so a dim-64 float vector compresses to m (here 4) small code
 * ints while the effective codebook size is k^m (16^4 = 65536 cells from
 * 4×16 = 64 trained centroids).
 *
 * Everything reuses the deterministic machinery the IVF path already
 * proves out:
 *  - codebooks train with `Similarity.ivfTrainKMeans` on SLICED sub-vectors
 *    (same LCG-sampled init, same scaled-integer Lloyd means → bit-exact
 *    under any partitioning, exactly replayable in the DuckDB oracle);
 *  - code assignment is `Similarity.ivfCellExpr` per subspace — a pure
 *    map-side projection against centroid literals, no join, no shuffle;
 *  - search is ADC-style: the query stays EXACT, the corpus side is
 *    reconstructed from its codes (concatenated centroids), and ranking is
 *    cosine(query, reconstruction) — one broadcast of the tiny query set
 *    against the coded corpus, the corpus scanned once and never shuffled.
 *
 * At 100 TB the coded corpus is the point: 4 bytes/vector of codes (plus
 * the id) instead of 256 bytes of floats — the candidate table that has to
 * be scanned per query batch shrinks 60×, and the codebooks (m·k·ds
 * doubles) ride along as literals in the generated code.
 */
object ProductQuantizer {

  /**
   * Per-subspace codebooks: `m` arrays of (code 0..k-1, centroid of the
   * sub-dimension). Training data for subspace s is slice s of every
   * corpus vector; k stays constant in the corpus size (bounded model).
   *
   * ALL m codebooks train together: one deterministic LCG sample of full
   * vectors seeds every subspace (its slice), and each Lloyd iteration is
   * ONE job — rows explode into (subspace, cell, sub-vector) and a single
   * (m·k)-group aggregation computes every scaled-integer mean. Training a
   * subspace at a time costs m× the corpus passes for identical results
   * (the per-(s,cell) integer sums are the same numbers either way — the
   * DuckDB oracle replays them subspace-by-subspace and still matches).
   */
  def train(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int): Array[Array[(Long, Array[Double])]] = {
    require(dim % m == 0, "dim must split evenly into m subspaces")
    val ds = dim / m
    val sampled = Similarity.ivfTrain(corpus, idCol, vecCol, k)
    var cbs: Array[Array[(Long, Array[Double])]] = Array.tabulate(m) { s =>
      sampled.zipWithIndex.map { case ((_, v), i) => (i.toLong, v.slice(s * ds, s * ds + ds)) }
    }
    graft.FrameCache.scoped { scope =>
      val vecs = scope.persist(corpus.select(col(vecCol).cast("array<double>").as("cv")))
      var it = 0
      while (it < iters) {
        val parts = array((0 until m).map { s =>
          struct(lit(s).as("s"),
            Similarity.ivfCellExpr(slice(col("cv"), s * ds + 1, ds), cbs(s)).as("cell"),
            slice(col("cv"), s * ds + 1, ds).as("sub"))
        }: _*)
        val agg = vecs.select(explode(parts).as("p"))
          .select(col("p.s").as("s"), col("p.cell").as("cell"), col("p.sub").as("sub"))
          .groupBy(col("s"), col("cell"))
          .agg(count(lit(1)).as("n"),
            array((0 until ds).map(d =>
              sum(floor(col("sub")(d) * Similarity.KMeansShift + 0.5))): _*).as("sums"))
          .collect()
        val bySub = agg.groupBy(_.getInt(0))
        cbs = Array.tabulate(m) { s =>
          val means = bySub.getOrElse(s, Array.empty[org.apache.spark.sql.Row]).map { r =>
            val n = r.getLong(2).toDouble
            r.getLong(1) -> r.getSeq[Long](3).map(x => x.toDouble / (n * Similarity.KMeansShift)).toArray
          }.toMap
          cbs(s).map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
        }
        it += 1
      }
      cbs
    }
  }

  /** Adds integer code columns code_0..code_{m-1} — one map-side
    * nearest-centroid projection per subspace, no shuffle. */
  def withCodes(
      df: DataFrame, vecCol: String,
      codebooks: Array[Array[(Long, Array[Double])]], dim: Int): DataFrame = {
    val m = codebooks.length
    val ds = dim / m
    codebooks.zipWithIndex.foldLeft(df) { case (acc, (cb, s)) =>
      acc.withColumn(s"code_$s",
        Similarity.ivfCellExpr(
          slice(col(vecCol).cast("array<double>"), s * ds + 1, ds), cb))
    }
  }

  /** The corpus vector implied by a row's codes: concatenation of the m
    * chosen centroids. Codebook centroids ride as nested-array literals. */
  def reconstruction(codebooks: Array[Array[(Long, Array[Double])]]): Column = {
    val parts = codebooks.zipWithIndex.map { case (cb, s) =>
      val table = typedLit(cb.sortBy(_._1).map(_._2.toSeq).toSeq)
      element_at(table, col(s"code_$s").cast("int") + 1)
    }
    concat(parts.toIndexedSeq: _*)
  }

  /**
   * IVF-PQ search — the billion-vector composition (FAISS's IVFADC layout,
   * Jégou et al. 2011 §V): a coarse IVF quantizer routes each query to its
   * `nprobe` nearest cells, the PQ codes of ONLY those cells' rows are
   * ADC-scored, and the exact vectors of a per-query shortlist rerank.
   * Per query the scan touches ~nprobe/k_coarse of the corpus's codes and
   * shortlist rows of floats; corpus shuffles zero times (cell assignment
   * and codes are map-side projections against driver-held models).
   */
  def ivfPqTopK(
      coarse: Array[(Long, Array[Double])],
      codebooks: Array[Array[(Long, Array[Double])]],
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      dim: Int, k: Int, nprobe: Int, shortlist: Int = 50,
      roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val floats = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("cv"))
    val coded = withCodes(floats, "cv", codebooks, dim)
      .withColumn("cell", Similarity.ivfCellExpr(col("cv"), coarse))
      .drop("cv")
    val q = queries.select(col(qidCol), col(qvecCol).cast("array<double>").as("qv"))
    // nprobe cells per query: rank cells by cosine(qv, centroid), ties -> cid
    val centRows = coarse.map { case (cid, v) => (cid, v.toSeq) }.toSeq
    val cents = corpus.sparkSession.createDataFrame(centRows).toDF("cell", "cvec")
    val wProbe = Window.partitionBy(col(qidCol))
      .orderBy(Similarity.cosine(col("qv"), col("cvec")).desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nprobe)
      .select(col(qidCol), col("qv"), col("cell"))
    adcRerank(coded.join(broadcast(probes), Seq("cell")), codebooks, floats, q,
      idCol, qidCol, k, shortlist, roundTo)
  }

  /** Train + search in one call (the PySpark entry point — codebooks stay
    * in the JVM). */
  def searchTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      dim: Int, m: Int, codesPerSub: Int, iters: Int,
      k: Int, shortlist: Int): DataFrame = {
    val cbs = train(corpus, idCol, vecCol, dim, m, codesPerSub, iters)
    adcTopK(cbs, corpus, queries, idCol, vecCol, qidCol, qvecCol, dim, k, shortlist)
  }

  /**
   * ADC top-k WITH exact rerank — the production PQ search shape: the
   * quantized scan ranks every corpus row by cosine(query, reconstruction)
   * and keeps only a `shortlist` per query (the 99.99% pruning step, done
   * entirely on 4-byte codes); the exact vectors of the shortlist rows are
   * then fetched and reranked by true cosine. At 100 TB the scan side
   * touches codes only; full floats are read for shortlist·|queries| rows.
   *
   * `queries` is expected to be tiny (a probe batch) — it broadcasts; the
   * coded corpus is scanned once and never shuffled (both ranking windows
   * partition by query id over shortlist-bounded rows). Deterministic: both
   * stages round to `roundTo` and tie-break by corpus id.
   */
  def adcTopK(
      codebooks: Array[Array[(Long, Array[Double])]],
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      dim: Int, k: Int, shortlist: Int = 50, roundTo: Int = 6): DataFrame = {
    val floats = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(qidCol), col(qvecCol).cast("array<double>").as("qv"))
    adcRerank(withCodes(floats, "cv", codebooks, dim).crossJoin(broadcast(q)), codebooks, floats, q,
      idCol, qidCol, k, shortlist, roundTo)
  }

  /** ADC scan then exact rerank, over the (coded corpus row, query) pairs
    * of `scanned`: each pair scores cosine(reconstruction, qv) rounded to
    * `roundTo`, a per-query `shortlist` survives (ties to the smaller
    * corpus id), and the shortlist rows' exact vectors from `floats`
    * rerank against `q` (`Similarity.exactTopK`). Only (qid, id, adc_sim)
    * reaches the ADC ranking shuffle — the float vectors are re-fetched
    * for the shortlist rows alone. */
  private def adcRerank(
      scanned: DataFrame, codebooks: Array[Array[(Long, Array[Double])]],
      floats: DataFrame, q: DataFrame, idCol: String, qidCol: String,
      k: Int, shortlist: Int, roundTo: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val adc = scanned
      .where(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        round(Similarity.cosine(reconstruction(codebooks), col("qv")), roundTo).as("adc_sim"))
    val wAdc = Window.partitionBy(col(qidCol)).orderBy(col("adc_sim").desc, col(idCol).asc)
    val short = adc.withColumn("adc_rank", row_number().over(wAdc))
      .where(col("adc_rank") <= shortlist)
      .select(col(qidCol), col(idCol))
    Similarity.exactTopK(short.join(floats, Seq(idCol)).join(broadcast(q), Seq(qidCol)),
      idCol, qidCol, k, roundTo)
  }
}
