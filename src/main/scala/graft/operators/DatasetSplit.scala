package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.text.TextFunctions

/**
 * Deterministic train/val/test assignment for training-data pipelines:
 * bucket by a stable md5-derived hash of the id, so the split is (a)
 * reproducible run-to-run and cluster-size-independent, (b) stable under
 * corpus growth (a doc's split never changes when other docs are added —
 * unlike randomSplit), and (c) replayable in any engine for auditing.
 * Map-side only: adds a column, no shuffle.
 */
object DatasetSplit {

  /** Stable percent bucket in [0, 100) from the id's md5. */
  def bucket(id: Column): Column = TextFunctions.stableHash(id.cast("string")) % 100

  /** Adds a `split` column: train/val/test by hash bucket. Refuses inputs
    * that already carry a `split` column — withColumn would silently
    * overwrite user data. */
  def withSplit(df: DataFrame, idCol: String, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "need 0 < trainPct, 0 <= valPct, trainPct + valPct < 100")
    require(!df.columns.contains("split"),
      "input already has a 'split' column; rename it before calling withSplit")
    val b = bucket(col(idCol))
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Caps each group's contribution at `k` rows — corpus curation's
    * "no source may dominate" step — by keeping the k rows with the
    * LOWEST stable id-hash (a deterministic uniform sample per group,
    * reproducible and replayable, unlike orderBy(rand())). One shuffle on
    * the group key; rank ties cannot occur (hash ties break by id). The
    * rank lives in a collision-proof generated temp column, so inputs may
    * carry any column names. */
  def capPerGroup(df: DataFrame, idCol: String, groupCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0)
    val rk = Iterator.from(0).map(i => s"_rk$i").find(!df.columns.contains(_)).get
    val w = Window.partitionBy(col(groupCol))
      .orderBy(TextFunctions.stableHash(col(idCol).cast("string")), col(idCol))
    df.withColumn(rk, row_number().over(w))
      .where(col(rk) <= k)
      .drop(rk)
  }

  /**
   * Deterministic stratified sampling: keep ~`target` rows per stratum by
   * hash-thresholding. Per stratum with n rows the keep-rate is
   * min(1, target/n), applied as `md5-bucket(id) mod 10000 < floor(target *
   * 10000 / n)` — pure integer arithmetic, so the sample is reproducible,
   * growth-stable per stratum size, auditable, and replayable in any engine
   * (none of which holds for sampleBy's RNG). Strata smaller than `target`
   * pass through whole.
   *
   * Plan shape: one tiny per-stratum count aggregate (|strata| rows)
   * broadcast back onto the fact table; the keep decision itself is a
   * map-side projection — the corpus is scanned once and never shuffled.
   */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String, target: Long): DataFrame = {
    require(target > 0)
    val n = Iterator.from(0).map(i => s"_n$i").find(!df.columns.contains(_)).get
    val th = Iterator.from(0).map(i => s"_th$i").find(!df.columns.contains(_)).get
    val rates = df.groupBy(col(stratumCol)).agg(count(lit(1)).as(n))
      .withColumn(th, least(lit(10000L), expr(s"(CAST($target AS BIGINT) * 10000) div $n")))
      .drop(n)
    df.join(broadcast(rates), Seq(stratumCol))
      .where(TextFunctions.stableHash(col(idCol).cast("string")) % 10000 < col(th))
      .drop(th)
  }

  /**
   * Weight-proportional deterministic sampling: keep each row with
   * probability min(1, weight/fullWeight), decided by the integer md5
   * threshold `bucket(id) mod 10000 < weight * 10000 div fullWeight`. The
   * standard token-budget trick (sample docs ∝ length so kept TOKENS, not
   * kept docs, follow the budget) made reproducible and replayable. Pure
   * map — no shuffle, no state; weights must be non-negative integers.
   */
  def sampleProportional(
      df: DataFrame, idCol: String, weightCol: String, fullWeight: Long): DataFrame = {
    require(fullWeight > 0)
    df.where(TextFunctions.stableHash(col(idCol).cast("string")) % 10000 <
      least(lit(10000L), expr(s"$weightCol * 10000 div $fullWeight")))
  }

  /**
   * Temperature-scaled mixing allocation across sources (the standard
   * multi-corpus sampling weights: w_i ∝ n_i^alpha with alpha = 0.5, which
   * up-weights small high-quality sources relative to raw proportions).
   * Returns one row per group: (groupCol, n_docs, weight_micro, alloc)
   * where alloc sums to at most `totalTarget`.
   *
   * Determinism: sqrt is IEEE-754 correctly rounded in every engine, so
   * weight_micro = floor(sqrt(n) * 1e6) is bit-exact everywhere; the
   * weight total and the final `target * w div W` allocation are pure
   * BIGINT arithmetic. Scale shape: one partial-agg count shuffle of
   * |groups| rows; the weight-normalizing window runs on that tiny frame,
   * never on the corpus.
   */
  def mixAllocation(df: DataFrame, groupCol: String, totalTarget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(totalTarget > 0)
    df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("weight_micro",
        floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
      .withColumn("_wt", sum(col("weight_micro")).over(Window.partitionBy())) // tiny frame
      // DECIMAL(38,0) intermediate: target (≤19 digits) × weight (≤16
      // digits) stays ≤35 digits, so the product never overflows even at
      // petascale targets where a BIGINT multiply would throw under ANSI.
      // The quotient is ≤ totalTarget, so the BIGINT result cast is safe.
      .withColumn("alloc",
        expr(s"CAST(CAST($totalTarget AS DECIMAL(38,0)) * weight_micro div _wt AS BIGINT)"))
      .drop("_wt")
  }

  /**
   * Data-constrained budget allocation — `mixAllocation` with a repetition
   * cap (the data-constrained-scaling regime: repeating a source beyond ~4
   * epochs stops helping, so its share is clamped and the shortfall made
   * visible instead of silently over-repeated). Input is a pre-aggregated
   * (group, size) table (sizes in any unit: tokens, docs, bytes); output one
   * row per group:
   *
   *   raw_alloc    = totalTarget · floor(sqrt(size)·1e6) div Σweights
   *   alloc        = min(raw_alloc, maxEpochs · size)
   *   epochs_micro = alloc · 1e6 div size   (repetition factor, ppm; 0 for
   *                  an empty group)
   *   shortfall    = raw_alloc − alloc      (budget the cap refused)
   *
   * Integer-exact at scale: the target×weight and alloc×1e6 products run in
   * DECIMAL(38,0) (19-digit target × 16-digit µ-weight ≤ 35 digits), so a
   * multi-trillion-token totalTarget over multi-trillion-token groups never
   * overflows — the quotients are ≤ totalTarget and cast back to BIGINT
   * safely. Remaining bound: maxEpochs·size must fit int64 (size <
   * 2^63/maxEpochs, ~2.3e18 tokens at the default 4 epochs). A zero-size
   * group gets weight 0 / alloc 0 / epochs 0 (no division); a NEGATIVE size
   * is corrupt input and fails the job with a named group in the error.
   * Scale shape: the window runs on the |groups|-row frame only.
   */
  def budgetAllocation(
      sizes: DataFrame, groupCol: String, sizeCol: String,
      totalTarget: Long, maxEpochs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(totalTarget > 0 && maxEpochs > 0)
    sizes
      .withColumn("_size",
        when(col(sizeCol).cast("long") >= 0, col(sizeCol).cast("long"))
          .otherwise(raise_error(concat(
            lit(s"budgetAllocation: negative $sizeCol for group "),
            col(groupCol).cast("string")))))
      .withColumn("weight_micro",
        floor(sqrt(col("_size").cast("double")) * 1e6).cast("long"))
      .withColumn("_wt", sum(col("weight_micro")).over(Window.partitionBy())) // tiny frame
      .withColumn("raw_alloc",
        when(col("_wt") > 0,
          expr(s"CAST(CAST($totalTarget AS DECIMAL(38,0)) * weight_micro div _wt AS BIGINT)"))
          .otherwise(lit(0L)))
      .withColumn("alloc", least(col("raw_alloc"), col("_size") * maxEpochs))
      .withColumn("epochs_micro",
        when(col("_size") > 0,
          expr("CAST(CAST(alloc AS DECIMAL(38,0)) * 1000000 div _size AS BIGINT)"))
          .otherwise(lit(0L)))
      .withColumn("shortfall", col("raw_alloc") - col("alloc"))
      .drop("_wt", "_size")
  }

  /**
   * Neyman-optimal eval-set allocation: how many eval rows to draw from
   * each stratum so a fixed-budget eval set minimizes the variance of the
   * estimated corpus mean of `metricCol` — quota_h ∝ N_h·S_h (Neyman 1934),
   * the eval-set construction rule stratified sampling textbooks prescribe
   * over proportional quotas whenever strata spreads differ.
   *
   * Integer-exact pipeline: per stratum one agg computes (n, Σx, Σx²) with
   * DECIMAL(38,0) sums; N²·variance = n·Σx² − (Σx)² is exact, and
   * N_h·S_h = √(n·Σx² − (Σx)²) exactly (since S = √(var/n)·(N=n)), taken as
   * floor over the IEEE double sqrt — the SAME double on every engine, so
   * the floor replays bit-for-bit. Quotas are largest-remainder rounded so
   * they sum to EXACTLY totalTarget: base_h = T·w_h div W, then the
   * (T − Σbase) strata with the largest remainders (ties → stratum asc)
   * get +1. All-constant strata (ΣS = 0) fall back to proportional
   * allocation by stratum size — the standard degenerate-case choice.
   *
   * A stratum SMALLER than its quota cannot fill it — the draw
   * ([[sampleToQuotas]]) passes such strata through whole, so the output
   * carries `drawable = min(alloc, n_docs)` and `draw_shortfall = alloc −
   * drawable` to make the under-fill VISIBLE (like budgetAllocation's
   * shortfall; textbook cap-and-redistribute is iterative and the caller
   * can re-run with the shortfall added to the budget if they want it).
   *
   * Bounds (documented, like budgetAllocation): exactness needs
   * n·Σx² < 10³⁸, i.e. at metric ≤ 10⁶ per row about n < 10¹³ rows per
   * stratum; beyond long-sqrt range (N²·var > (2⁶³−1)²) the weight cast
   * would saturate silently, so it raises a named error instead. Scale
   * shape: one corpus agg collapsing map-side to |strata| rows; every
   * window runs on that tiny frame.
   */
  def neymanAllocation(
      df: DataFrame, stratumCol: String, metricCol: String,
      totalTarget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(totalTarget > 0)
    val x = col(metricCol).cast("decimal(19,0)")
    val whole = Window.partitionBy()
    df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(x).as("_sx"),
        sum(x * x).as("_sxx"))
      .withColumn("_var2",
        expr("CAST(n_docs AS DECIMAL(38,0)) * _sxx - _sx * _sx"))
      // past (2^63-1)^2 the long cast of the sqrt saturates silently while
      // the oracle's HUGEINT keeps the true value — fail loudly instead
      .withColumn("_var2",
        when(expr("_var2 > CAST('85070591730234615847396907784232501249' AS DECIMAL(38,0))"),
          raise_error(concat(lit("neymanAllocation: variance exceeds long-sqrt range for stratum "),
            col(stratumCol).cast("string"))).cast("decimal(38,0)"))
          .otherwise(col("_var2")))
      .withColumn("_w", floor(sqrt(col("_var2").cast("double"))).cast("long"))
      .withColumn("_wtot", sum(col("_w")).over(whole))
      // all-constant strata: Neyman weights vanish -> proportional fallback
      .withColumn("weight",
        when(col("_wtot") > 0, col("_w")).otherwise(col("n_docs")))
      .withColumn("_wt",
        when(col("_wtot") > 0, col("_wtot"))
          .otherwise(sum(col("n_docs")).over(whole)))
      .withColumn("alloc_base",
        expr(s"CAST(CAST($totalTarget AS DECIMAL(38,0)) * weight div _wt AS BIGINT)"))
      .withColumn("remainder",
        expr(s"CAST(CAST($totalTarget AS DECIMAL(38,0)) * weight" +
          " - CAST(alloc_base AS DECIMAL(38,0)) * _wt AS BIGINT)"))
      .withColumn("_deficit", lit(totalTarget) - sum(col("alloc_base")).over(whole))
      .withColumn("_rk", row_number().over(
        whole.orderBy(col("remainder").desc, col(stratumCol).asc)))
      .withColumn("alloc",
        col("alloc_base") + when(col("_rk") <= col("_deficit"), 1L).otherwise(0L))
      .withColumn("drawable", least(col("alloc"), col("n_docs")))
      .withColumn("draw_shortfall", col("alloc") - col("drawable"))
      .drop("_sx", "_sxx", "_var2", "_w", "_wtot", "_wt", "_deficit", "_rk")
  }

  /**
   * Leakage-proof split: like `withSplit`, but byte-identical documents
   * always land in the SAME split — the bucket hashes the content group's
   * canonical id, not the row's own id. A plain id-hash split leaks
   * duplicated text across the train/test boundary (the classic
   * contamination bug: the eval answer is literally in the training set);
   * here a whole duplicate group moves as one unit. One exact-dedup
   * hash-agg plus one join on the id; the split decision itself stays a
   * projection.
   */
  def leakageSafeSplit(
      df: DataFrame, idCol: String, textCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "need 0 < trainPct, 0 <= valPct, trainPct + valPct < 100")
    require(!df.columns.contains("split"),
      "input already has a 'split' column; rename it before calling leakageSafeSplit")
    val ch = Iterator.from(0).map(i => s"_ch$i").find(!df.columns.contains(_)).get
    val cn = Iterator.from(0).map(i => s"_cn$i").find(!df.columns.contains(_)).get
    val canon = graft.dedup.ExactDedup.groups(df, idCol, textCol)
      .select(col("content_hash").as(ch), col("canonical_id").as(cn))
    val b = bucket(col(cn))
    df.withColumn(ch, md5(col(textCol)))
      .join(canon, Seq(ch))
      .withColumn("split",
        when(b < trainPct, "train")
          .when(b < trainPct + valPct, "val")
          .otherwise("test"))
      .drop(ch, cn)
  }

  /**
   * NEAR-dup-aware leakage-proof split: `leakageSafeSplit` catches
   * byte-identical duplicates, but a truncated or lightly-edited copy still
   * crosses the train/test boundary carrying the answer. Here the bucket
   * hashes the NEAR-duplicate component root (banded MinHash LSH →
   * exact-Jaccard verified links → connected components), so a whole
   * paraphrase cluster moves between splits as one unit. Cost: the dedup
   * pipeline's candidate join + O(diameter) small CC joins over the linked
   * ids only; the split decision itself stays a projection.
   */
  def nearDupSafeSplit(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      trainPct: Int = 80, valPct: Int = 10,
      lsh: graft.dedup.MinHashLSH = new graft.dedup.MinHashLSH(32, 8, 3)): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "need 0 < trainPct, 0 <= valPct, trainPct + valPct < 100")
    require(!df.columns.contains("split"),
      "input already has a 'split' column; rename it before calling nearDupSafeSplit")
    val groups = lsh.nearDuplicateComponents(df, idCol, textCol, threshold)
    val b = bucket(col("canonical_id"))
    df.join(groups, Seq(idCol))
      .withColumn("split",
        when(b < trainPct, "train")
          .when(b < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /**
   * Draw the rows an allocation table prescribes: deterministic
   * bottom-quota-by-md5 per stratum, quotas from a tiny (stratum, quota)
   * table (e.g. [[neymanAllocation]]'s `alloc` column) broadcast back onto
   * the corpus. The end-to-end eval-set constructor — the allocator says
   * HOW MANY per stratum, this says WHICH rows, and both halves replay
   * bit-for-bit in any engine. A stratum smaller than its quota passes
   * through whole (rank can't exceed the population). Same sampling key as
   * [[bottomKSample]] (mergeable, growth-stable: a new row only enters the
   * sample by displacing the current max hash).
   *
   * Plan shape: one broadcast join of the |strata|-row quota table + one
   * per-stratum rank window — a single shuffle on the stratum key.
   */
  def sampleToQuotas(
      df: DataFrame, stratumCol: String, idCol: String,
      quotas: DataFrame, quotaCol: String = "alloc"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(concat_ws("_", col(idCol))), col(idCol))
    df.join(
        broadcast(quotas.select(col(stratumCol),
          col(quotaCol).cast("long").as("_quota"))),
        Seq(stratumCol))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .where(col("sample_rank") <= col("_quota"))
      .drop("_quota")
  }

  /**
   * Deterministic per-group k-sample — the reproducible replacement for
   * reservoir sampling: keep each group's k rows with the SMALLEST
   * md5(id). The bottom-k-of-a-hash set is a uniform sample in
   * distribution, yet (a) identical run-to-run and cluster-size-
   * independent, (b) MERGEABLE — bottom-k of a union is the bottom-k of
   * each side's bottom-k, so partial samples from shards/days combine
   * without resampling, and (c) replayable for audits.
   *
   * One window per group (rank by hash), same shape as the per-source
   * cap. Output: input columns + `sample_rank` (1..k by hash order).
   */
  def bottomKSample(df: DataFrame, groupCol: String, idCol: String, k: Int): DataFrame = {
    require(k > 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(concat_ws("_", col(idCol))), col(idCol))
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .where(col("sample_rank") <= k)
  }

  /**
   * Streaming twin of `bottomKSample`: the reservoir rides as bounded
   * per-group state (a k-element vector of (hash, id)), merged with each
   * micro-batch's rows; every batch emits the group's CURRENT bottom-k
   * snapshot (Update mode — a later row can evict an earlier sample
   * member, so append semantics are impossible by construction). After
   * the last batch the snapshot equals the batch operator on the union of
   * all batches, row for row (TrainingOpsSpec). State is k entries per
   * group — bounded by #groups · k, never by row volume.
   *
   * Contract vs the batch twin:
   *  - ids are keyed by their STRING form (`cast string`), the same bytes
   *    the batch form feeds md5 via `concat_ws` — any id type the batch
   *    operator accepts works here, and the hashes agree exactly. The
   *    output id column is therefore StringType (state must be concretely
   *    typed); cast it back if the original type matters downstream.
   *  - duplicate (group, id) input rows collapse to ONE sample member (the
   *    reservoir is id-keyed state), where the batch window form emits each
   *    duplicate with its own rank. An id-keyed sample treats a (group, id)
   *    pair as one population member; feed pre-deduplicated rows (or accept
   *    rank-collapsed output) when duplicates are possible.
   */
  def bottomKSampleStreaming(
      df: DataFrame, groupCol: String, idCol: String, k: Int): DataFrame = {
    require(k > 0)
    // state = the reservoir itself: parallel hash/id arrays (product-
    // encodable without kryo), always sorted, never longer than k
    implicit val stateEnc = Encoders.product[(Seq[String], Seq[String])]
    implicit val outEnc = Encoders.product[(String, String, String, Long)]
    implicit val strEnc = Encoders.STRING
    df.select(col(groupCol).cast("string").as("g"), col(idCol).cast("string").as("id"))
      .groupByKey((r: Row) => r.getString(0))
      .flatMapGroupsWithState[(Seq[String], Seq[String]), (String, String, String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g: String, rows: Iterator[Row], state: GroupState[(Seq[String], Seq[String])]) =>
          def hash(id: String): String = {
            val d = java.security.MessageDigest.getInstance("MD5")
            d.digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString
          }
          val (hs, ids) = state.getOption.getOrElse((Seq.empty[String], Seq.empty[String]))
          val merged = (hs.zip(ids) ++
            rows.map(r => { val id = r.getString(1); (hash(id), id) }))
            .distinct.sorted.take(k)
          state.update((merged.map(_._1), merged.map(_._2)))
          merged.zipWithIndex.iterator.map { case ((h, id), i) =>
            (g, id, h, (i + 1).toLong)
          }
      }.toDF(groupCol, idCol, "skey", "sample_rank")
  }

  /** STREAMING twin of `capPerGroup`: admission-control cap. The batch cap's
    * deterministic lowest-hash selection needs the whole group in hand, so
    * it cannot stream; the streaming-natural semantics is "admit the first k
    * rows per group, then drop" — state is ONE counter per group key
    * (bounded by #groups, never by row volume), carried across micro-batches
    * by flatMapGroupsWithState. Works identically on a batch Dataset (the
    * per-group iterator then sees the whole group at once). Append-mode
    * safe: admitted rows are emitted exactly once and never retracted. A
    * null group is a group of its own, never merged with a group "null". */
  def capPerGroupStreaming(df: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k > 0)
    implicit val rowEnc = Encoders.row(df.schema)
    implicit val longEnc = Encoders.scalaLong
    implicit val strEnc = Encoders.STRING
    df.groupByKey(EventStreams.userKey(groupCol))
      .flatMapGroupsWithState[Long, Row](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          val room = math.max(0L, k - admitted).toInt
          val take = rows.take(room).toVector
          state.update(admitted + take.size)
          take.iterator
      }
  }
}
