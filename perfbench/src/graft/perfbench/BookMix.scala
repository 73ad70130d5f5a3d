package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/**
 * A seeded `documents` table in the book's schema and with the shape of its
 * synthetic one: 500 documents of 8 to 90 words drawn from the same
 * 30-word vocabulary, with languages and sources in the same proportions,
 * and 5% of documents copying an earlier one with "dup" appended.
 */
object BookTables {
  val Vocab: Array[String] = ("join hash row batch scan customer column filter small slow merge order " +
    "vector line data table agg value key stream window spark a group part big sort query fast the").split(" ")
  val Langs: Seq[(String, Double)] = Seq("en" -> 0.44, "zh" -> 0.15, "de" -> 0.14, "es" -> 0.14, "fr" -> 0.13)
  val Docs = 500
  val CopyShare = 0.05

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  def documents(seed: Long, n: Int = Docs): Seq[Row] = {
    val r = new SplittableRandom(seed)
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until n).map { i =>
      val text =
        if (i > 0 && r.nextDouble() < CopyShare) texts(r.nextInt(texts.size)) + " dup"
        else Seq.fill(8 + r.nextInt(83))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      texts += text
      var u = r.nextDouble()
      val lang = Langs.find { case (_, w) => u -= w; u < 0 }.getOrElse(Langs.last)._1
      Row(i.toLong, text, lang, s"src${r.nextInt(20)}", text.length.toLong)
    }
  }

  /** Writes `<dir>/documents.parquet`, one file as the book's is. */
  def write(spark: SparkSession, rows: Seq[Row], dir: Path): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), documentsSchema).coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)

  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(row => md.update(row.mkString("\u0001").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Same seed, same table; another seed, another table. */
  def selfTest(): Seq[String] = {
    val a = digest(documents(7, 50))
    Seq(if (a == digest(documents(7, 50))) None else Some("same seed gave different documents"),
      if (a != digest(documents(8, 50))) None else Some("different seeds gave the same documents")).flatten
  }
}

/**
 * book_mix: one pass, from a cold cache, runs
 *  - `cold`: every fold family of [[Families.all]] through the public
 *    `transform` over the lineitem-shaped inputs of [[FoldInputs]];
 *  - `cache`: the book's cache-heavy dedup queries (`SparkEntry.queries`)
 *    over a seeded documents table: the exact τ-join, which keeps its
 *    projections in CachedProjections, and MinHash near-duplicates, whose
 *    signatures SignatureStore keeps;
 *  - `repeat`: four of the fold families again, with those caches live.
 * Each operation is materialised with `queryExecution.toRdd.count()`.
 * Afterwards every fold output is checked bit for bit against the encoder
 * engine, and each book query's output against its DuckDB oracle
 * (`SparkEntry.oracleSql`, run by perfbench/oracle.py over the same table).
 */
object BookMix {
  val BookQueries: Seq[String] = Seq("q_jaccard_collapsed", "q_dedup_minhash")
  /** Families folded again after the book queries: one per row kernel
    * kind (Kalman filter, nonlinear Kalman filter, smoother, mixture). */
  val Repeat: Seq[String] = Seq("lkf_local_level", "ekf", "rts", "gmm")

  /** One operation of a pass: how to build its frame. */
  private final case class Step(name: String, phase: String, fold: Option[FoldOp], build: () => DataFrame)

  private final case class OpRun(step: Step, pass: Int, tag: String, wallS: Double, cpu: Cpu, planS: Double,
      rows: Long, startMs: Long, endMs: Long)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    val book = SparkEntry.queries

    /** Drops every cached frame: Spark's cache and graft's signature store. */
    def coldCache(): Unit = { spark.catalog.clearCache(); graft.dedup.SignatureStore.clear() }

    def steps(in: FoldInputs, dir: Path): Seq[Step] = {
      def folds(phase: String, ops: Seq[FoldOp]) =
        ops.map(op => Step(op.name, phase, Some(op), () => op.run(FoldOps.input(in, op))))
      folds("cold", Families.all) ++
        BookQueries.map(q => Step(q, "cache", None, () => book(q)(spark, dir.toString))) ++
        folds("repeat", Repeat.map(n => Families.all.find(_.name == n).get))
    }

    def pass(ss: Seq[Step], p: Int): (Seq[OpRun], Int) = {
      var live = 0
      val rs = ss.map { st =>
        val tag = s"p$p.${st.phase}.${st.name}"
        val r = ctx.tagged(tag) {
          val s0 = System.currentTimeMillis()
          val c0 = HostCpu.now
          val t0 = System.nanoTime()
          var t1 = 0L
          val n = ctx.trace.span(tag, "op", s"pass$p") {
            val entry = if (st.fold.isDefined) "transform" else "SparkEntry.queries"
            val df = ctx.trace.span(tag, entry, "op")(st.build())
            t1 = System.nanoTime()
            ctx.trace.span(tag, "toRdd.count", "op")(df.queryExecution.toRdd.count())
          }
          val t2 = System.nanoTime()
          OpRun(st, p, tag, (t2 - t0) / 1e9, HostCpu.now - c0, (t1 - t0) / 1e9, n, s0, System.currentTimeMillis())
        }
        live = math.max(live, ctx.livePersisted)
        r
      }
      (rs, live)
    }

    // set-up: generate, write and read back the inputs (three times), then
    // warm up with one pass of the cold and cache sections (the repeated
    // folds run the same code as the cold ones)
    var inputs: FoldInputs = null
    var dir: Path = null
    ctx.setup(i => {
      val (u, d) = FoldInputs.generate(ctx.args.seed)
      val docs = BookTables.documents(ctx.args.seed)
      dir = ctx.args.work.resolve(s"setup$i")
      inputs = FoldInputs.materialize(spark, u, d, dir)
      BookTables.write(spark, docs, dir)
      if (i == 1) {
        rep.context("input_digest") = s""""${Gen.digest(u)}/${Gen.digest(d)}/${BookTables.digest(docs)}""""
        rep.context("traffic") = s"""{"unique":${Traffic(FoldInputs.Keys, u.length, FoldInputs.Zipf,
          Gen.dupShare(u), 0).json},"dup":${Traffic(FoldInputs.Keys, d.length, FoldInputs.Zipf,
          Gen.dupShare(d), 0).json},"documents":${docs.size}}"""
      }
    }, () => { coldCache(); pass(steps(inputs, dir).filter(_.phase != "repeat"), -1) })
    val ss = steps(inputs, dir)
    ctx.layers.sync()
    ctx.layers.clear()

    // timed passes, each from a cold cache; a traced run alternates traced
    // and untraced passes so the tracing overhead is measured in one window
    val runs = mutable.ArrayBuffer.empty[(OpRun, OpCounters)]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + ctx.args.seconds * 1000000000L
    var p = 0
    while (System.nanoTime() < deadline || p < ctx.minPasses) {
      val traced = ctx.args.trace && p % 2 == 0
      coldCache()
      ctx.layers.sync()
      ctx.layers.takeCache()
      ctx.traceOn(traced)
      val ((rs, live), wallS, cpu) = HostCpu.timed(ctx.trace.span(s"pass$p", "pass")(pass(ss, p)))
      ctx.traceOn(false)
      ctx.layers.sync()
      val cs = rs.map(r => r -> ctx.layers.take(r.tag))
      val sum = new OpCounters
      cs.foreach(c => sum.add(c._2))
      passes += Pass(wallS, cpu, sum, rs.map(_.planS).sum, cs.map { case (r, c) => c.idleMs(r.startMs, r.endMs) / 1e3 }.sum,
        ctx.layers.takeCache(), live, traced)
      runs ++= cs
      p += 1
    }
    rep.attempted += runs.size
    rep.passes(passes.toSeq, ctx.args.trace)
    rep.dist("latency", "ms", runs.map(r => r._1.wallS * r._1.cpu.share * 1000).toSeq)
    rep.dist("latency", "ms", runs.map(_._1.wallS * 1000).toSeq, ".raw")
    rep.dist("query", "s", runs.map(_._1.wallS).toSeq)

    // per pass, the operations of one phase
    val byPass = runs.groupBy(_._1.pass).toSeq.sortBy(_._1).map(_._2.toSeq)
    def phase(rs: Seq[(OpRun, OpCounters)], ph: String) = rs.filter(_._1.step.phase == ph)
    def perPass(name: String, unit: String, stat: String)(f: Seq[(OpRun, OpCounters)] => Double): Unit = {
      val xs = byPass.map(f)
      rep.put(name, unit, Stats.median(xs), xs.size, stat)
    }
    val coldWall = byPass.zip(passes).filterNot(_._2.traced).map(x => phase(x._1, "cold").map(_._1.wallS).sum)
    rep.put("fold_rows_per_s", "1/s", FoldOps.rows(inputs) / Stats.median(coldWall), coldWall.size,
      "rows of one fold section / p50(cold fold section wall)")
    perPass("state.fold_stage_cpu_s", "s", "p50 over passes, cold fold section")(
      phase(_, "cold").map(_._2.foldCpuNs / 1e9).sum)
    perPass("state.fold_stage_run_s", "s", "p50 over passes, cold fold section")(
      phase(_, "cold").map(_._2.foldRunMs / 1e3).sum)
    // executor time of the sort + fold stages per wall second of the cold
    // fold section, out of the 4 task slots
    perPass("state.fold_stage_share", "1", "p50 over passes, cold fold section") { rs =>
      val c = phase(rs, "cold")
      c.map(_._2.foldRunMs / 1e3).sum / (4 * c.map(_._1.wallS).sum)
    }
    perPass("cache.fold_cpu_inflation", "ratio", "p50 over passes of CPU(repeated folds)/CPU(same folds, cold)") {
      rs => phase(rs, "repeat").map(_._2.cpuNs.toDouble).sum /
        phase(rs, "cold").filter(r => Repeat.contains(r._1.step.name)).map(_._2.cpuNs.toDouble).sum
    }
    perPass("dedup.jaccard_max_exchange_bytes", "B", "p50 over passes of q_jaccard_collapsed's widest stage shuffle write")(
      _.filter(_._1.step.name == "q_jaccard_collapsed").map(_._2.maxStageShuffleBytes.toDouble).sum)
    if (ctx.args.trace) Kernels.measure(ctx, Families.all.map(op => op -> FoldOps.input(inputs, op)))

    // output checks, outside the timed region: each book query's output
    // once more, for the oracle, which perfbench/run.py starts as soon as
    // it is announced; every timed run must have counted as many rows
    val tc = System.nanoTime()
    val out = ctx.args.work.resolve("oracle")
    val entries = BookQueries.map { name =>
      val path = out.resolve(name).toString
      book(name)(spark, dir.toString).coalesce(1).write.mode("overwrite").parquet(path)
      val rows = spark.read.parquet(path).count()
      val mine = runs.filter(_._1.step.name == name)
      mine.filter(_._1.rows != rows).foreach { case (r, _) =>
        rep.fail(s"$name: ${r.tag} counted ${r.rows} rows, the checked output has $rows", 1)
      }
      if (rows <= 0) rep.fail(s"$name: no output rows", mine.size)
      val sql = SparkEntry.oracleSql.get(name).map(Json.str).getOrElse("null")
      s"""${Json.str(name)}:{"sql":$sql,"runs":${mine.size},"output":${Json.str(path)}}"""
    }
    val spec = out.resolve("oracle.json")
    Files.writeString(spec, s"""{"tables":${Json.str(dir.toString)},"queries":${entries.mkString("{", ",", "}")}}""")
    println(s"""{"oracle":${Json.str(spec.toString)}}""")
    System.out.flush()
    FoldOps.check(ctx, inputs, op => runs.count(_._1.step.fold.exists(_ eq op)).toLong)
    rep.context("check_s") = ((System.nanoTime() - tc) / 1e9).toString
  }
}

object Json {
  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
