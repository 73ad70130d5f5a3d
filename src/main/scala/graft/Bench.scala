package graft
import java.nio.file.{Files, Paths, StandardCopyOption}
import Harness.{jsonString => jq}

/** Benchmark main. Prints ONE JSON line on stdout (and mirrors it to
  * bench.json). Each query runs up to SPARK_GRAFT_BENCH_REPS passes
  * (default 3; single-run timings on a shared host proved 20×-noisy in
  * round 1). Pass 1 always covers every query; further passes run while
  * the SPARK_GRAFT_BENCH_BUDGET_S soft deadline allows. Failures are
  * reported by name+error in the JSON `errors` field and on stderr; the
  * exit code stays 0 so the sbt runner never appends [error] lines after
  * the JSON stdout line (that overflow is what unparsed BENCH_r05).
  *
  * Contention-proofing, round 8 shape (the full history: round 3's artifact
  * captured a loaded host and overstated total cost 3.3×; round 7's 3×
  * trip wire let 26% of load-inflation through undetected): the HEADLINE
  * `value`/`queries` are now the per-rep MINIMA — robust under external
  * load by construction, since contention only ever adds time — with
  * `stat:"min"` naming the estimator. Any query whose median exceeds
  * 1.5×min+0.15 is retried (up to 2 extra reps) and its median trimmed to
  * the 3 fastest reps; trimmed medians ride as total_median/queries_median,
  * `/proc/loadavg` snapshots bracket the run, `contended` reports whether
  * any 1.5× spread survived adjudication, and the raw per-rep times live in
  * bench_raw.json (round 5: they overflowed the driver's stdout tail
  * capture when inlined).
  *
  * Timeout-proofing (round 13; BENCH_r12.json was rc=124 with parsed:null
  * because the artifact was written only at the end): bench.json and
  * bench_raw.json are now REWRITTEN after the warm-up pass and after every
  * completed timed rep, with `"partial":true` until the run finishes — a
  * driver-side kill at any point leaves a parseable artifact whose
  * reps_effective map reflects exactly how far the run got. The write is an
  * atomic tmp-file + move so a kill mid-write can't leave torn JSON.
  *
  * Per-stage attribution: bench_raw.json's `stages` holds every completed
  * stage of each query's fastest rep (wall, tasks, run and CPU time, shuffle
  * read/write bytes and records, input, spill), and bench.json's
  * `queries_layers` their per-query sums, with `persisted_after`: the
  * persisted RDDs left after the query and its cache release, so a leaked
  * cache shows against the query that left it. For one query's stages alone:
  * SPARK_GRAFT_BENCH_ONLY=q_a SPARK_GRAFT_BENCH_REPS=1 sbt "runMain graft.Bench"
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // FIRST statement of the run: snapshot loadavg BEFORE SparkSession
    // creation (round-13 advice — the round-12 capture sat after
    // getOrCreate, so our own JVM warm-up leaked into the "pre-existing
    // load" signal). Note the 1-minute average can still carry a
    // just-finished sbt compile; the loadFlag threshold below scales with
    // the core count for that reason.
    val loadBefore = Harness.loadavg
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1800").toDouble
    // optional comma-separated subset for targeted iteration (full run default)
    val names = Harness.only("SPARK_GRAFT_BENCH_ONLY", SparkEntry.queries.keys.toSeq.sorted)
    val spark = Harness.session(cpus)
    // Per-query executor-CPU / job-count attribution (round 14, VERDICT r13
    // item 2): the 8-core scaling control kept reading ~= the 32-core run
    // because most queries sit on the per-query scheduler floor at sf0.1;
    // CPU and job columns in bench.json let the driver separate real
    // compute from that floor. ADDITIVE artifact fields only — the timed
    // region (exec = toRdd.count per rep) and the stdout line are
    // unchanged; the recorder is marked and read OUTSIDE the timed window.
    val recorder = new Harness.StageRecorder(spark)
    val cpuTimes = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val jobCounts = scala.collection.mutable.Map[String, Int]()
    // per query, the fastest rep's stage rows and the persisted RDDs after it
    val fastest = scala.collection.mutable.Map[String, (Seq[Harness.StageRow], Int)]()
    val t0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - t0) / 1e9

    val times = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val errors = scala.collection.mutable.Map[String, String]()
    val retried = scala.collection.mutable.ListBuffer[String]()

    def median(xs: List[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    /** Median over the 3 fastest reps for adjudicated queries, plain median
      * otherwise (identical when no retry happened). */
    def effMedian(name: String): Double = {
      val xs = if (retried.contains(name)) times(name).sorted.take(3) else times(name)
      median(xs)
    }
    def r4(v: Double): Double = math.round(v * 10000).toDouble / 10000
    def r2(v: Double): Double = math.round(v * 100).toDouble / 100
    // the summary both artifacts and the stdout line are built from
    def measured: Seq[String] = names.filter(times(_).nonEmpty)
    def mins: Seq[(String, Double)] = measured.map(n => n -> times(n).min)
    def errJson: String =
      errors.toSeq.sorted.map { case (k, v) => jq(k) + ":" + jq(v) }.mkString("{", ",", "}")
    def repsEffMin: Int = measured.map(times(_).size).minOption.getOrElse(0)

    // pinned-baseline comparison context, loaded ONCE up front (it reads
    // only BASELINE.json — independent of the measurements)
    val baselineCmp: Either[String, (Int, Map[String, Double])] = try {
      import org.json4s._
      implicit val fmts: Formats = DefaultFormats
      if (!Files.exists(Paths.get("BASELINE.json"))) Left("no-baseline-file")
      else {
        val j = jackson.JsonMethods.parse(Files.readString(Paths.get("BASELINE.json")))
        j \ "pinned_wall_seconds" match {
          case JNothing => Left("no-pinned_wall_seconds")
          case p =>
            val pinSf = (p \ "sf").extractOpt[String]
            if (!pinSf.contains(new java.io.File(sfDir).getName))
              Left(s"sf-mismatch:pin=${pinSf.getOrElse("?")}")
            else ((p \ "round").extractOpt[Int], (p \ "queries").extractOpt[Map[String, Double]]) match {
              case (Some(rnd), Some(base)) if base.nonEmpty => Right((rnd, base))
              case _ => Left("pin-schema-drift")
            }
        }
      }
    } catch {
      case _: java.io.IOException => Left("baseline-io-error")
      case e if e.getClass.getName.startsWith("com.fasterxml.jackson") ||
        e.getClass.getName.startsWith("org.json4s") => Left("baseline-parse-error")
      // anything else is a bug in this comparison, not a missing pin —
      // name the class so it can't masquerade as "no baseline pinned"
      // (bench must still print its JSON line, so don't propagate)
      case scala.util.control.NonFatal(e) => Left("unexpected:" + e.getClass.getSimpleName)
    }

    /** Atomic file write: tmp + move, so a kill mid-write never leaves a
      * torn artifact (the whole point of the incremental flush). */
    def writeAtomic(path: String, content: String): Unit = {
      val tmp = Paths.get(path + ".tmp")
      Files.writeString(tmp, content)
      Files.move(tmp, Paths.get(path), StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }

    /** Build the full bench.json line from CURRENT state and write both
      * artifacts. Called after warm-up and after every completed rep, so a
      * driver timeout at any instant leaves valid partial JSON on disk. */
    def writeArtifacts(partial: Boolean): String = {
      val medians = measured.map(n => n -> effMedian(n))
      val qs = medians.map { case (k, v) => jq(k) + ":" + r4(v) }.mkString("{", ",", "}")
      val qsMin = mins.map { case (k, v) => jq(k) + ":" + r4(v) }.mkString("{", ",", "}")
      val raw = measured.map(n => jq(n) + ":" + times(n).reverse.mkString("[", ",", "]"))
        .mkString("{", ",", "}")
      val total = medians.map(_._2).sum
      val totalMin = mins.map(_._2).sum
      // Contention signals (round 12; the round-11 artifact ran 7.7×-inflated
      // on a loaded host with exactly 1 effective rep, so min == median and
      // the spread flag below could never fire — `contended: false` on a
      // garbage measurement). Detectors:
      //  - spread: any query's median > 1.5×min + 0.15 (needs >= 2 reps);
      //  - loadavg: the host was already busy when bench STARTED (captured
      //    before SparkSession creation). Armed only when reps collapsed to
      //    1 somewhere, and the threshold scales with the core count (2
      //    busy cores on a 32-core host is nothing — round-13 advice);
      //  - uniform inflation vs the pinned baseline: >= 50% of common
      //    queries at >= 2× pin. Round-13 change: uniform inflation ALONE
      //    no longer sets `contended` — a global code/config regression
      //    (codegen off, broken exchange reuse) produces exactly this
      //    signature, and flagging it environmental made the largest
      //    regressions permanently read as "rerun on a quiet host". It now
      //    corroborates (and is corroborated by) an independent
      //    environmental signal; alone it rides as
      //    `uniform_inflation_uncorroborated` and the per-query
      //    vs_baseline_regressions list trips tools/baseline_gate.py.
      val spreadFlag = measured.exists { n =>
        times(n).size >= 2 && effMedian(n) > 1.5 * times(n).min + 0.15
      }
      val load1m = loadBefore.split(" ").headOption
        .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(0.0)
      val loadThreshold = math.max(2.0, 0.25 * cpus.toDouble)
      val loadFlag = repsEffMin <= 1 && load1m >= loadThreshold
      val uniformFlag = baselineCmp match {
        case Right((_, base)) =>
          val ratios = mins.collect { case (n, v) if base.contains(n) => v / base(n) }
          ratios.size >= 20 && ratios.count(_ >= 2.0) * 2 >= ratios.size
        case Left(_) => false
      }
      val uniformCorroborated = uniformFlag && (spreadFlag || loadFlag)
      val uniformAlone = uniformFlag && !uniformCorroborated
      val contendedReasons = scala.collection.mutable.ListBuffer[String]()
      if (spreadFlag) contendedReasons += "median-spread"
      if (loadFlag) contendedReasons += f"loadavg-$load1m%.1f-at-1-rep"
      if (uniformCorroborated) contendedReasons += "uniform-baseline-inflation"
      val contended = spreadFlag || loadFlag || uniformCorroborated
      val loadAfter = Harness.loadavg
      val vsBaselineJson: String = baselineCmp match {
        case Right((rnd, base)) =>
          val common = mins.filter { case (n, _) => base.contains(n) }
          if (common.isEmpty) s""","vs_baseline":${jq("unavailable:no-common-queries")}"""
          else {
            val ratios = common.map { case (n, v) => n -> v / base(n) }
            val totRatio = common.map(_._2).sum / common.map(c => base(c._1)).sum
            val regress = ratios.filter(_._2 >= 1.5).sortBy(-_._2)
              .map { case (k, v) => jq(k) + ":" + r2(v) }.mkString("{", ",", "}")
            s""","baseline_round":$rnd,"vs_baseline_total":${r4(totRatio)},"vs_baseline_worst":${r4(ratios.map(_._2).max)},"vs_baseline_regressions":$regress"""
          }
        case Left(reason) =>
          s""","vs_baseline":${jq("unavailable:" + reason)}"""
      }
      val retriedJson = retried.toSeq.sorted.map(jq).mkString("[", ",", "]")
      val repsEffJson = measured.map(n => jq(n) + ":" + times(n).size).mkString("{", ",", "}")
      // per-query executor CPU (min over reps, contention-robust like the
      // wall minima) and job count — bench.json only, never the stdout line
      val cpuJson = measured.filter(cpuTimes(_).nonEmpty)
        .map(n => jq(n) + ":" + r4(cpuTimes(n).min)).mkString("{", ",", "}")
      val jobsJson = measured.filter(jobCounts.contains)
        .map(n => jq(n) + ":" + jobCounts(n)).mkString("{", ",", "}")
      val layersJson = measured.map(n => jq(n) + ":" + Harness.layersJson(fastest(n)._1, fastest(n)._2))
        .mkString("{", ",", "}")
      val stagesJson = measured.map(n => jq(n) + ":" + fastest(n)._1.map(_.json).mkString("[", ",", "]"))
        .mkString("{", ",", "}")
      val reasonsJson = contendedReasons.toSeq.map(jq).mkString("[", ",", "]")
      val fullLine =
        s"""{"metric":"total","value":${r4(totalMin)},"unit":"sec","stat":"min","partial":$partial,"covered":${measured.size},"book":${names.size},"queries":$qsMin,"errors":$errJson,"reps":$reps,"reps_effective_min":$repsEffMin,"reps_effective":$repsEffJson,"sf":${jq(sfDir)},"total_min":${r4(totalMin)},"total_median":${r4(total)},"queries_min":$qsMin,"queries_median":$qs,"queries_cpu":$cpuJson,"queries_jobs":$jobsJson,"queries_layers":$layersJson,"loadavg_before":${jq(loadBefore)},"loadavg_after":${jq(loadAfter)},"contended":$contended,"contended_reasons":$reasonsJson,"uniform_inflation_uncorroborated":$uniformAlone,"retried":$retriedJson$vsBaselineJson}"""
      writeAtomic("bench.json", fullLine + "\n")
      writeAtomic("bench_raw.json",
        s"""{"raw":$raw,"stages":$stagesJson,"loadavg_before":${jq(loadBefore)},"loadavg_after":${jq(loadAfter)},"reps":$reps,"partial":$partial,"sf":${jq(sfDir)}}""" + "\n")
      if (!partial) {
        if (spreadFlag)
          System.err.println("[bench] WARNING: median >1.5x min for at least one query — " +
            "host contention suspected; trust total_min/queries_min over the medians")
        if (contended && !spreadFlag)
          System.err.println(s"[bench] WARNING: contended (${contendedReasons.mkString(",")}) — " +
            "treat this artifact as degraded; re-run on a quiet host")
        if (uniformAlone)
          System.err.println("[bench] WARNING: >=50% of queries at >=2x the pinned baseline " +
            "with NO independent contention signal — this is the signature of a GLOBAL " +
            "code/config regression (codegen disabled, exchange reuse broken, shuffle " +
            "partition drift), not the host; investigate vs_baseline_regressions before " +
            "dismissing as environment")
        baselineCmp.left.foreach(reason =>
          System.err.println(s"[bench] vs-baseline comparison unavailable: $reason"))
      }
      fullLine
    }

    /** One timed rep: only the query's action sits inside the clock; the
      * cache release, the recorder's drains and the bookkeeping run outside
      * it. */
    def timedRep(name: String): Double = {
      recorder.mark()
      val (dt, _) = Harness.run(spark, name, sfDir)
      val persisted = spark.sparkContext.getPersistentRDDs.size
      val rec = recorder.since()
      if (times(name).forall(dt < _)) fastest(name) = (rec.stages, persisted)
      times(name) = dt :: times(name)
      cpuTimes(name) = rec.cpuS :: cpuTimes(name)
      jobCounts(name) = rec.jobs
      dt
    }

    // Discarded warm-up pass over EVERY query (round-2 medians were 3.6x
    // inflated because only one query was warmed: with 3 reps, one cold +
    // one half-warm rep IS the median). JIT, codegen caches, and shuffle
    // machinery all reach steady state before the first timed rep; failures
    // stay silent here — the timed reps report them with context.
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    for (name <- names) {
      try { Harness.run(spark, name, sfDir); () }
      catch { case _: Throwable => }
    }
    System.err.println(f"[bench] warm-up pass done at ${elapsedS}%.1fs")
    writeArtifacts(partial = true)

    for (rep <- 1 to reps; name <- names) {
      // pass 1 must cover every query; later passes respect the soft budget.
      // Adaptive reps (round 11): sub-second queries stop after 2 reps ONLY
      // when those two reps AGREE (within 15% + 50ms) — a min over 2
      // consistent samples is as trustworthy as over 3, and the saved
      // budget goes to the expensive tail and the contention retries. The
      // agreement guard matters: an unconditional 2-rep cutoff inflated the
      // cheap half of the book ~1.5x in the first round-11 quiet run (min
      // of 2 noisy samples is biased high vs min of 3).
      val cheapDone = rep >= 3 && times(name).size >= 2 && {
        val xs = times(name)
        xs.min < 1.0 && (xs.max - xs.min) <= 0.15 * xs.min + 0.05
      }
      if ((rep == 1 || elapsedS < budgetS) && !cheapDone) {
        try {
          val dt = timedRep(name)
          System.err.println(f"[bench] rep$rep $name ${dt}%.2fs (total ${elapsedS}%.1fs)")
        } catch { case e: Throwable =>
          errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(80)}"
          System.err.println(s"[bench] rep$rep $name FAILED: ${errors(name)}")
        }
        writeArtifacts(partial = true)
      }
    }
    // Contention adjudication (round 8; VERDICT_r07 item 1): round 7's 3×
    // trip wire let a loaded host inflate the official medians 26% over the
    // per-rep minima without ever tripping — the judge had to re-run on a
    // quiet host to adjudicate. Tightened: any query whose median exceeds
    // 1.5×min+0.15 gets up to 2 extra reps (budget permitting, in a
    // hopefully-quieter window), and its median is then taken over its 3
    // FASTEST reps. Contention only ever ADDS time, so the fastest-3 median
    // is a defensible trimmed estimator; the `retried` field names every
    // adjudicated query, and bench_raw.json keeps all reps.
    if (reps >= 2) {
      for (name <- names if times(name).size >= 2) {
        def flagged = median(times(name)) > 1.5 * times(name).min + 0.15
        var extra = 0
        while (flagged && extra < 2 && elapsedS < budgetS * 1.2) {
          extra += 1
          if (!retried.contains(name)) retried += name
          try {
            val dt = timedRep(name)
            System.err.println(f"[bench] retry$extra $name ${dt}%.2fs (contention adjudication)")
          } catch { case _: Throwable => extra = 2 } // warm rep failed: keep original reps
          writeArtifacts(partial = true)
        }
      }
    }

    val fullLine = writeArtifacts(partial = false)
    // The driver captures (and parses from) only the LAST 2000 BYTES of
    // stdout — BENCH_r04 (per-rep raw arrays) and BENCH_r05 (71-query dual
    // median+min maps, ~3.5 KB) both overflowed it and went unparsed. The
    // stdout line therefore carries 2-decimal minima ONLY; full-precision
    // medians, minima, raw reps and loadavg live in bench.json/bench_raw
    // .json, which are committed and read directly.
    val totalMin = mins.map(_._2).sum
    val contendedNow = fullLine.contains(""""contended":true""")
    val total = measured.map(n => effMedian(n)).sum
    def buildLine(prec: Int, entries: Seq[(String, Double)], omitted: Int): String = {
      def r(v: Double): Double = { val s = math.pow(10, prec); math.round(v * s) / s }
      val qm = entries.map { case (k, v) => jq(k) + ":" + r(v) }.mkString("{", ",", "}")
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      val rt = if (retried.nonEmpty) s""","retried":${retried.size}""" else ""
      // covered/book makes partial coverage LOUD (round 11): total/value
      // always aggregate every measured query even when the queries map is
      // truncated to fit the driver's 2000-byte stdout tail capture; the
      // full per-query map is always in the committed bench.json
      s"""{"metric":"total","value":${r(totalMin)},"unit":"sec","stat":"min","covered":${measured.size},"book":${names.size},"queries":$qm,"errors":$errJson,"reps":$reps,"reps_eff_min":$repsEffMin,"sf":${jq(sfDir)},"total_min":${r(totalMin)},"total_median":${r(total)},"contended":$contendedNow$om$rt}"""
    }
    val byCost = mins.sortBy(-_._2)
    var stdoutLine = buildLine(2, mins, 0)
    if (stdoutLine.length > 1800) stdoutLine = buildLine(1, mins, 0)
    var keep = byCost.length
    while (stdoutLine.length > 1900 && keep > 10) {
      keep -= 5
      stdoutLine = buildLine(1, byCost.take(keep).sortBy(_._1), byCost.length - keep)
    }
    println(stdoutLine)
    spark.stop()
    // Always exit 0: a nonzero exit makes the sbt runner append [error]
    // lines AFTER the JSON stdout line, which round 5 proved can push the
    // line out of the driver's tail-capture window (BENCH_r05 parsed:null).
    // Broken queries stay loud via the `errors` field and stderr.
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} queries FAILED: ${errors.keys.toSeq.sorted.mkString(",")}")
  }
}
