package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{AnalysisException, Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession
import graft.functions._
import graft.text.{Blocklist, SubwordKernel, SubwordTokenizer, TextFunctions}

/** graft's native functions, each a Scala kernel method that a Column
  * builder calls through `Invoke`/`StaticInvoke`: kernels against the
  * formulations they replace, the interpreted path against whole-stage
  * codegen, the analysis-time type check, and plan equality of equal
  * builds. (HashExpressionsSpec and VectorExpressionsSpec pin the hash and
  * vector kernels, BpeTrainerSpec the BPE kernels.) */
class NativeFunctionsSpec extends AnyFunSuite with SparkTestSession {

  test("PCA momentStats kernel == the nested-HOF flat stats vector") {
    import spark.implicits._
    val d = 5
    val vecs = Seq(
      Seq(1.0, -2.0, 0.5, 3.25, -0.125),
      Seq(0.0, 0.0, 0.0, 0.0, 0.0),
      Seq(2.5, 2.5, -2.5, 1e3, -1e3)).map(Tuple1(_)).toDF("v")
    val q = transform(col("v").cast("array<double>"), x => round(x * 1000).cast("long"))
    val upper = flatten(transform(sequence(lit(0), lit(d - 1)), i =>
      transform(sequence(i, lit(d - 1)), j =>
        get(col("q"), i) * get(col("q"), j))))
    val hof = vecs.select(q.as("q")).select(concat(col("q"), upper).as("s"))
      .collect().map(_.getSeq[Long](0))
    val kern = vecs.select(q.as("q")).select(PcaExpressions.momentStats(col("q")).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(kern.toSeq == hof.toSeq)
  }

  test("intersectCountSorted kernel == size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // long arrays
    val longs = (0 until 50).map { _ =>
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      (a, b)
    }.toDF("a", "b")
    val gotL = longs.select(
      graft.functions.SetExpressions.intersectCountSorted(col("a"), col("b")).as("k"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref")).collect()
    assert(gotL.forall(r => r.getLong(0) == r.getLong(1)))
    // string arrays
    val strs = (0 until 50).map { _ =>
      val a = Seq.fill(rnd.nextInt(30))("tok" + rnd.nextInt(40)).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))("tok" + rnd.nextInt(40)).distinct.sorted
      (a, b)
    }.toDF("a", "b")
    val gotS = strs.select(
      graft.functions.SetExpressions.intersectCountSorted(col("a"), col("b")).as("k"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref")).collect()
    assert(gotS.forall(r => r.getLong(0) == r.getLong(1)))
    // empties
    val e = Seq((Seq.empty[Long], Seq(1L, 2L))).toDF("a", "b")
      .select(graft.functions.SetExpressions.intersectCountSorted(col("a"), col("b"))).head()
    assert(e.getLong(0) == 0L)
  }

  test("PCA dotWith kernel == zip_with + aggregate integer dot") {
    import spark.implicits._
    val comp = Array(3L, -7L, 1000000L, 0L)
    val vecs = Seq(Seq(1.0, 2.0, -3.0, 4.0), Seq(0.001, -0.001, 0.0005, 9.0))
      .map(Tuple1(_)).toDF("v")
    val q = transform(col("v").cast("array<double>"), x => round(x * 1000).cast("long"))
    val hof = vecs.select(aggregate(
        zip_with(q, typedLit(comp.toSeq), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x).as("p"))
      .collect().map(_.getLong(0))
    val kern = vecs.select(PcaExpressions.dotWith(q, comp).as("p"))
      .collect().map(_.getLong(0))
    assert(kern.toSeq == hof.toSeq)
  }

  private val dim = 64
  private val rnd = new scala.util.Random(5)
  private def gauss(n: Int): Array[Double] = Array.fill(n)(rnd.nextGaussian())
  private val cents = Array.tabulate(3)(i => (i.toLong, gauss(dim)))
  private val planes = gauss(4 * dim)
  private val hier = new HierCentroidKernel(gauss(2 * dim), 2, dim, Array(10L, 11L, 12L, 13L), gauss(4 * dim),
    Array(0, 2, 4), Array(0, 1, 2, 3), probes = 1)
  private val bloom = Array.fill(16)(rnd.nextLong())

  /** Every native Column builder, over a text column. */
  private def textNatives(text: Column): Seq[Column] = {
    // no higher-order function (TextFunctions.tokens is one): one
    // CodegenFallback keeps the projection out of whole-stage codegen
    val toks = split(lower(text), " ")
    val shingles = HashExpressions.shingleHashSet(text, 3)
    def canon(c: Column) = sort_array(array_distinct(c))
    Seq(
      shingles,
      HashExpressions.wordNGrams(text, 2),
      HashExpressions.ngramStats(text),
      HashExpressions.tokenStats(text, Seq(TextFunctions.EnStopwords, Seq("der", "die", "das"))),
      HashExpressions.tokenHashes(text, 31),
      HashExpressions.rollingHash(HashExpressions.tokenHashes(text, 31)),
      HashExpressions.winnowedHashes(text, 8, 3),
      HashExpressions.minhashSignature(shingles, 16),
      HashExpressions.simhashFingerprint(HashExpressions.tokenHashes(text, 60), 60),
      HashExpressions.bloomHits(shingles, bloom, 3, 1024),
      SetExpressions.intersectCountSorted(canon(shingles), canon(HashExpressions.shingleHashSet(text, 2))),
      SetExpressions.intersectCountSorted(canon(toks), canon(HashExpressions.wordNGrams(text, 1))),
      UnicodeExpressions.nfcNormalize(text),
      UnicodeExpressions.scriptHistogram(text),
      UnicodeExpressions.uTokenStats(text),
      BpeExpressions.applyMerge(split(lower(text), ""), "t", "h"),
      BpeExpressions.adjacentPairs(toks),
      BpeExpressions.charGrams(text, 3),
      VocabExpressions.scoreSum(toks, VocabExpressions.kernel(Map("the" -> 3L, "and" -> -1L))),
      SubwordTokenizer.subwordCount(toks, new SubwordKernel(Array("th", "he", "in", "ing"), 4)),
      Blocklist.counts(text, Blocklist.kernel(Seq("the", "ing"))))
  }

  /** Every native Column builder, over an array<double> column. */
  private def vectorNatives(v: Column): Seq[Column] = {
    val q = v.cast("array<bigint>")
    val spd = array(v(0) * v(0) + 1.0, v(0) * v(1) * 0.5, v(0) * v(1) * 0.5, v(1) * v(1) + 1.0)
    Seq(
      VectorExpressions.dotProduct(v, reverse(v)),
      VectorExpressions.vectorNorm(v),
      VectorExpressions.cosineSim(v, reverse(v)),
      VectorExpressions.nearestCentroid(v, cents),
      VectorExpressions.centroidSilhouette(v, cents),
      VectorExpressions.centroidAssignSilhouette(v, cents),
      VectorExpressions.hyperplaneBucket(v, planes, 4, dim),
      VectorExpressions.nearestCentroidHier(v, hier),
      PcaExpressions.momentStats(slice(q, 1, 6)),
      PcaExpressions.dotWith(q, Array.tabulate(dim)(i => (i - 30).toLong)),
      GaussianExpressions.gaussianScale(slice(v, 1, 2), spd, slice(v, 3, 2)),
      GaussianExpressions.choleskyValues(slice(v, 1, 4))) // not PD on most rows: null
  }

  /** The rows of `cols` over the parquet table at `path`, ordered by `id`,
    * from whole-stage codegen and from an interpreted session. */
  private def bothPaths(path: String, id: String, cols: Seq[Column]): (Seq[Row], Seq[Row]) = {
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    def rows(s: SparkSession, codegen: Boolean): Seq[Row] = {
      val df = s.read.parquet(path).select(col(id) +: cols.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
      val p = df.queryExecution.executedPlan.toString
      assert(p.startsWith("*(") == codegen, p)
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    (rows(spark, codegen = true), rows(interpreted, codegen = false))
  }

  test("every native function gives the same rows interpreted as in whole-stage codegen, null input included") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("native-functions").toFile
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
        .unionByName(Seq((-1L, null.asInstanceOf[String])).toDF("doc_id", "text"))
      val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .unionByName(Seq((-1L, null.asInstanceOf[Seq[Double]])).toDF("vec_id", "v"))
      for ((df, id, cols) <- Seq((docs, "doc_id", textNatives(col("text"))), (vecs, "vec_id", vectorNatives(col("v"))))) {
        val path = s"$dir/$id"
        df.write.parquet(path)
        val (compiled, interpreted) = bothPaths(path, id, cols)
        assert(compiled.length == df.count() && compiled.exists(_.getLong(0) == -1L))
        compiled.zip(interpreted).foreach { case (c, i) => assert(c == i, s"codegen $c\ninterpreted $i") }
        assert(compiled.length == interpreted.length)
      }
    } finally FileUtils.deleteDirectory(dir)
  }

  test("intersectCountSorted over array<double> fails at analysis, before any job") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(2.0))).toDF("a", "b")
    // select analyses eagerly; no action runs
    val e = intercept[AnalysisException](df.select(SetExpressions.intersectCountSorted(col("a"), col("b"))))
    assert(e.getMessage.contains(
      "intersect_count_sorted requires two array<long> or two array<string> arguments, " +
        "got array<double> and array<double>"), e.getMessage)
  }

  test("two builds of a value-parameter function give sameResult plans, other values do not") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox", Seq(3L, 5L), Seq("a", "b"))).toDF("id", "text", "sset", "toks")
    def same(a: Column, b: Column): Boolean =
      df.select(a.as("c")).queryExecution.analyzed.sameResult(df.select(b.as("c")).queryExecution.analyzed)
    val lists = Seq(TextFunctions.EnStopwords, Seq("der", "die"))
    import HashExpressions.{minhashSignature, shingleHashSet, tokenStats}
    assert(same(minhashSignature(col("sset"), 32), minhashSignature(col("sset"), 32)))
    assert(!same(minhashSignature(col("sset"), 32), minhashSignature(col("sset"), 16)))
    assert(same(shingleHashSet(col("text"), 3), shingleHashSet(col("text"), 3)))
    assert(!same(shingleHashSet(col("text"), 3), shingleHashSet(col("text"), 2)))
    assert(same(tokenStats(col("text"), lists), tokenStats(col("text"), lists.map(_.toVector))))
    assert(!same(tokenStats(col("text"), lists), tokenStats(col("text"), lists.take(1))))
    assert(same(BpeExpressions.applyMerge(col("toks"), "a", "b"), BpeExpressions.applyMerge(col("toks"), "a", "b")))
    assert(!same(BpeExpressions.applyMerge(col("toks"), "a", "b"), BpeExpressions.applyMerge(col("toks"), "a", "c")))
  }
}
