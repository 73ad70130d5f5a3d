package graft

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.plans.logical.{AppendColumns, DeserializeToObject, FlatMapGroupsWithState}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.{array, col, lit}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, ObjectType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.{LinearKalmanFilter, RecursiveLeastSquaresFilter, SparkTestSession}

/**
 * Guards the physical-plan properties the 100 TB design depends on:
 * predicate pushdown and column pruning reaching the parquet scans, broadcast
 * joins for small dimensions, and broadcast of the ANN query side. Runs on
 * sf0.001 (plan shape, not data volume).
 */
class PlanQualitySpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  /** Does the plan call the native kernel method `target` (a regex: the
    * kernel's printed name, then `.method`) in a projection? A join or a
    * higher-order-function formulation prints no `invoke(...)`. */
  private def invokes(p: String, target: String): Boolean =
    s"(static_)?invoke\\((graft\\.[a-z.]+\\.)?$target\\(".r.findFirstIn(p).nonEmpty

  test("q1_pricing pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p.take(2000))
  }

  test("q1_pricing prunes the scan to the referenced columns only") {
    val p = plan("q1_pricing")
    val schema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(schema.contains("l_quantity") && schema.contains("l_returnflag"))
    assert(!schema.contains("l_orderkey") && !schema.contains("l_partkey"), schema)
  }

  test("q3_shipping broadcasts the filtered customer dimension") {
    val p = plan("q3_shipping")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q3_shipping pushes the orderdate filter to the orders scan") {
    val p = plan("q3_shipping")
    assert(p.contains("LessThan(o_orderdate"), p.take(2000))
  }

  test("brute-force ANN broadcasts the query side (single corpus scan)") {
    val p = plan("q_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p.take(2000))
  }

  test("IVF ANN: fixed-k quantizer, map-side assignment, corpus never shuffled") {
    val p = plan("q_ann_ivf")
    // probes (queries × nprobe) are broadcast to the assigned corpus
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(3000))
    // round-1 defect: cell assignment via groupBy(vec_id) shuffled the corpus;
    // the fixed-k literal-centroid projection must not
    assert(!p.contains("hashpartitioning(vec_id"), p.take(3000))
  }

  test("stateful filter plan has exactly one exchange before the stateful map") {
    // The fold is a plan node: with AQE on, the outer plan shows it fed by
    // ONE hashpartitioning exchange on stateKey + external sort (q_lkf_llt
    // declares unique (key, time), so no tiebreak hash column), and no RDD
    // boundary hides it.
    val p = plan("q_lkf_llt")
    assert(p.contains("AdaptiveSparkPlan"), p.take(3000))
    assert(p.contains("StatefulFold") && !p.contains("Scan ExistingRDD"), p.take(3000))
    assert("Exchange hashpartitioning\\(stateKey".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("__rowSeq"), p.take(3000))
  }

  test("batch EM folds rows in a StatefulFold, with no object decode") {
    import spark.implicits._
    val in = (0 until 12).map(i => ("k" + i % 3, new Timestamp(1700000000000L + i * 1000L), i.toDouble))
      .toDF("key", "t", "x")
    val out = new graft.mixture.PoissonMixture(2).setStateKeyCol("key").setEventTimeCol("t").setSampleCol("x")
      .setEnableBatchTrain().transform(in)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("StatefulFold BatchEmRowKernel"), p)
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"), p)
    assert(out.count() == 3)
  }

  test("streaming LKF and RLS fold rows in flatMapGroupsWithState, with struct state and no object decode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def binary(t: DataType): Boolean = t match {
      case BinaryType => true
      case s: StructType => s.fields.exists(f => binary(f.dataType))
      case a: ArrayType => binary(a.elementType)
      case m: MapType => binary(m.keyType) || binary(m.valueType)
      case _ => false
    }
    val stream = MemoryStream[(String, Timestamp, Double, Double)]
    val in = stream.toDF().toDF("key", "t", "z", "x")
    val lkf = new LinearKalmanFilter(1, 1).setStateKeyCol("key").setEventTimeCol("t")
      .setMeasurementCol("meas").transform(in.withColumn("meas", array(col("z"))))
    val rls = new RecursiveLeastSquaresFilter(2).setStateKeyCol("key").setEventTimeCol("t")
      .setLabelCol("z").setFeaturesCol("f").transform(in.withColumn("f", array(lit(1.0), col("x"))))
    for ((name, df) <- Seq("lkf" -> lkf, "rls" -> rls)) {
      val sq = df.writeStream.format("memory").queryName(s"plan_guard_$name").outputMode("append").start()
      stream.addData(("a", new Timestamp(1700000000000L), 1.0, 2.0))
      sq.processAllAvailable()
      val execution = sq.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      sq.stop()
      val logical = execution.optimizedPlan
      val folds = logical.collect { case f: FlatMapGroupsWithState => f }
      assert(folds.size == 1, s"$name: $logical")
      assert(logical.collect { case a: AppendColumns => a }.isEmpty, s"$name: $logical")
      val graftDecodes = logical.collect {
        case d: DeserializeToObject => d.deserializer.dataType
      }.collect { case ObjectType(c) if c.getName.startsWith("graft.") => c.getName }
      assert(graftDecodes.isEmpty, s"$name decodes ${graftDecodes.mkString(", ")}")
      assert(!binary(folds.head.stateEncoder.schema), s"$name state: ${folds.head.stateEncoder.schema}")
      val executed = execution.executedPlan.toString
      assert(executed.contains("FlatMapGroupsWithState"), executed)
      assert(!executed.contains("AppendColumns") && !executed.contains("DeserializeToObject"), executed)
    }
  }

  test("LSH bucketing is a map-side projection (bucket computed before the join shuffle)") {
    val p = plan("q_ann_lsh")
    // the native hyperplane-bucket kernel must appear in a Project, and
    // the only corpus shuffle is the bucket equi-join key
    assert(invokes(p, "PlaneKernel@\\w+\\.bucket"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("rand_gaussian sampling aggregates with partial (map-side) combine") {
    val p = plan("q_rand_gaussian")
    assert(p.contains("partial_"), p.take(3000)) // HashAggregate partial pass
  }

  test("native hash kernels keep the dedup signature projection in codegen") {
    val p = plan("q_dedup_minhash")
    assert(invokes(p, "HashKernels\\.shingleHashSet") &&
      invokes(p, "MinHashKernel\\(32\\)\\.signature"), p.take(4000))
  }

  test("q_repetition is a single pruned scan + native kernel (no shuffle before the sort)") {
    val p = plan("q_repetition")
    assert(invokes(p, "HashKernels\\.ngramStats"), p.take(3000))
    // one exchange only: the output orderBy's range partitioning
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toList
    assert(exchanges.forall(_.contains("rangepartitioning")), exchanges.toString)
    val schema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(schema.contains("text") && !schema.contains("lang"), schema)
  }

  test("group dedup reads the persisted signature projection, one corpus pass") {
    val df = SparkEntry.queries("q_dedup_minhash_groups")(spark, dir)
    df.count() // materialize the cache so the executed plan resolves to cache scans
    val p = df.queryExecution.executedPlan.toString
    // all consumers (band l/r, verify a/b, id spine) must hit the cache
    assert("InMemoryTableScan".r.findAllIn(p).size >= 5, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("decontamination broadcasts the eval gram set (training corpus never shuffled by gram)") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the training-side gram explode must NOT hash-partition on the gram —
    // only the tiny eval side moves
    assert(!p.contains("hashpartitioning(g#") || p.contains("BroadcastExchange"), p.take(3000))
  }

  test("stratified sample broadcasts the per-stratum rates; fact side is map-only") {
    val p = plan("q_stratified_sample")
    // the rate join must broadcast (the final profile agg may shuffle — it
    // carries only surviving rows); a sort-merge rate join would shuffle
    // the whole corpus
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("count-min estimate broadcasts the finished sketch to the probes") {
    val p = plan("q_cms")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(3000))
  }

  test("heavy hitters: partial aggregation before the gram shuffle, top-k take-ordered") {
    val p = plan("q_top_ngrams")
    assert(p.contains("partial_"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("semDedup: map-side cell assignment, corpus shuffles only on the cell key") {
    val p = plan("q_semdedup")
    // assignment is the native nearest-centroid projection, not a join
    assert(invokes(p, "CentroidKernel@\\w+\\.nearest"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the centroid table rides as a broadcast, never a shuffled join side
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("dedup pipeline final plan reads the resolved-forest cache, no cartesian products") {
    val df = SparkEntry.queries("q_dedup_pipeline")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the iterative root resolution ran eagerly during construction; the
    // returned plan must consume its PERSISTED result, not recompute the
    // pointer-jumping lineage
    assert(p.contains("InMemoryTableScan"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("substring dedup reads the persisted winnowed-window projection (one corpus pass)") {
    val p = plan("q_substring_dedup")
    // both consumers (dup-hash table and per-doc profile) must read the
    // cached kernel output — re-deriving it would hash every position twice
    assert(p.contains("InMemoryTableScan"), p.take(3000))
    assert(invokes(p, "HashKernels\\.winnowedHashes"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("tf-idf: corpus count broadcasts; shuffles carry (doc,term) aggregates only") {
    val p = plan("q_tfidf")
    // the 1-row n_docs frame must ride as a broadcast, and the raw token
    // stream must be partially aggregated before any exchange
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p.take(3000))
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("text normalize / length hist / domain profile are scan + single-agg plans") {
    for (q <- Seq("q_text_normalize", "q_length_hist", "q_domain_profile")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), s"$q:\n${p.take(2000)}")
      assert(!p.contains("SortMergeJoin"), s"$q has a join:\n${p.take(2000)}")
    }
    // normalization must prune the documents scan to (doc_id, text)
    val schema = "ReadSchema: [^\\n]*".r.findFirstIn(plan("q_text_normalize")).getOrElse("")
    assert(!schema.contains("source") && !schema.contains("lang"), schema)
  }

  test("knn graph: bucket computed map-side, pairs join is an equi-join on bucket") {
    val p = plan("q_knn_graph")
    assert(invokes(p, "PlaneKernel@\\w+\\.bucket"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("pq adc: codes are map-side projections; only the query side broadcasts") {
    val df = SparkEntry.queries("q_ann_pq")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the 5-row query probe must broadcast against the coded corpus scan
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("ivf-pq: probes and rerank queries broadcast; corpus side never exchanges by row") {
    val df = SparkEntry.queries("q_ann_ivfpq")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("bigram surprisal: count tables join the gram stream as broadcasts at this scale") {
    val p = plan("q_bigram_surprisal")
    // vocabulary-sized count tables; at gate scale AQE should broadcast
    // them — and there must never be a nested-loop fallback
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("nb classifier: model and prior ride broadcasts, token stream never re-shuffles for them") {
    val p = plan("q_nb_classifier")
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("dsir: the 1024-bucket model broadcasts; gram stream keeps partial aggregation") {
    val p = plan("q_dsir_weights")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("shuffle shards: shard key is a map-side projection before the single window exchange") {
    val p = plan("q_shuffle_shards")
    // one exchange for the (epoch, shard) window, one for the final agg —
    // placement itself (md5 -> shard) must appear as Project, not a join
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("Window") && p.contains("Exchange"), p.take(3000))
  }

  test("mix interleave: allocation and size tables broadcast; no nested-loop anywhere") {
    val p = plan("q_mix_interleave")
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("chunking is pure map-side: no exchange between scan and the chunk projection") {
    val df = SparkEntry.queries("q_chunk")(spark, dir)
    // strip the final orderBy (presentation) — the operator itself must
    // be scan → generate → project with no shuffle
    val core = graft.operators.CorpusStats.chunkDocuments(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 40, 30)
    val p = core.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(3000))
    assert(df.columns.toSet == Set("doc_id", "chunk_idx", "n_chunk_toks", "chunk_hash"))
  }

  test("corpus drift runs eagerly off one cached vocab table and RELEASES the cache") {
    // tokenDrift materializes its bounded top-k internally (two actions
    // sharing one persisted vocab-counts table) and unpersists before
    // returning, so repeated invocations in the bench/soak loops never
    // accumulate cached blocks. Assert the release directly: no persistent
    // RDDs survive the call beyond what existed before it.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = SparkEntry.queries("q_corpus_drift")(spark, dir)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty, s"leaked cached RDDs: ${after -- before}")
    // and the returned frame is the bounded local result (k rows, no
    // deferred corpus scan hiding in the plan)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"), p.take(1000))
    assert(out.count() <= 20)
  }

  test("a driver query leaves no persisted RDD behind") {
    // book queries that persist through the frame cache (the collapsed
    // τ-join's projections, MinHash signatures and banding, the BPE word
    // table, the resolved forest, the distributed IVF index and fine table,
    // the near-duplicate components' checkpoint leaves)
    // or keep loop frames in an operator scope (GraphRank, KCenter,
    // tokenDrift, the PQ and IVF Lloyd passes). Earlier suites' store
    // entries are released first: the run's own release would drop them too.
    FrameCache.clear()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (q <- Seq("q_jaccard_collapsed", "q_dedup_minhash", "q_bpe_segment", "q_ann_incremental_dist",
        "q_centrality", "q_kcenter", "q_corpus_drift", "q_ann_pq", "q_dedup_pipeline", "q_cluster_split")) {
      val (seconds, rows) = Harness.run(spark, q, dir)
      assert(seconds > 0 && rows > 0, q)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$q left persisted RDDs ${leaked.mkString(",")}")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("semantic decontamination: eval broadcasts; threshold filters BEFORE the window shuffle") {
    val p = plan("q_semantic_decontaminate")
    // dense scoring against a constant-size eval set is a broadcast nested
    // loop by design — the corpus side must NOT sort-merge or shuffle to join
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // the sim >= 0.99 threshold filter must sit below the rank window
    // (map-side on the scan), so only the contaminated sliver reaches the
    // exchange — deeper operators print later in the top-down plan string
    val thresholdIdx = p.indexOf("0.99")
    val windowIdx = p.indexOf("Window")
    assert(thresholdIdx >= 0 && windowIdx >= 0 && thresholdIdx > windowIdx,
      s"threshold filter must be deeper than the window (threshold@$thresholdIdx window@$windowIdx)")
  }

  test("subword vocab training ends in TakeOrderedAndProject (top-k never sorts globally)") {
    val p = plan("q_subword_vocab")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("windowed funnel keeps the single-aggregation shape (one user-key exchange)") {
    val p = plan("q_funnel_windowed")
    assert(!p.contains("Join"), p.take(2000)) // fold, not self-join
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges (user agg + global 1-row agg), got $exchanges:\n${p.take(3000)}")
  }

  test("transitions: pairs come from lead() over one user sort, never a self-join") {
    val p = plan("q_transitions")
    assert(!p.contains("Join"), p.take(3000))
    // per-user window + pair agg + tiny from-row normalizer window + sort
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 4, s"expected <=4 exchanges, got $exchanges:\n${p.take(3000)}")
  }

  test("top paths end in TakeOrderedAndProject with the per-user agg upstream") {
    val p = plan("q_top_paths")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("blocklist: one kernel scan, no join against a pattern table, one agg") {
    val p = plan("q_blocklist")
    assert(invokes(p, "BlocklistKernel@\\w+\\.counts"), p.take(2000))
    assert(!p.contains("Join"), p.take(3000)) // patterns ride the automaton, not a table
    val schema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(schema.contains("text") && !schema.contains("doc_id"), schema)
    assert(p.contains("partial_count"), p.take(3000)) // map-side combine
    val aggExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(aggExchanges <= 1, s"expected one agg exchange:\n${p.take(3000)}")
  }

  test("moments is scan + single hash aggregation, pruned to (source, n_chars)") {
    val p = plan("q_moments")
    val schema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(schema.contains("source") && schema.contains("n_chars"), schema)
    assert(!schema.contains("text"), schema)
    assert(!p.contains("Join") && !p.contains("Window"), p.take(3000))
    val aggExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(aggExchanges <= 1, s"expected one agg exchange:\n${p.take(3000)}")
  }

  test("bm25: broadcast query-term semi-join, TakeOrdered top-k, rank window on k rows") {
    val p = plan("q_bm25")
    // the 3-term query set and the term df table broadcast to the tf table
    assert(p.contains("BroadcastExchange"), p.take(3000))
    // the corpus-sized top-k is per-partition heaps, not a global sort
    assert(p.contains("TakeOrderedAndProject(limit=20"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("fuzzy join: block-key equi-join only, collapse agg upstream, no cartesian") {
    val p = plan("q_fuzzy_join")
    assert(p.contains("hashpartitioning(prefix"), p.take(4000)) // the collapse agg
    assert(p.contains("hashpartitioning(pi"), p.take(4000))     // the block-key cap window
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("novelty: gram-keyed min agg joined back on the gram key, doc-keyed profile agg") {
    val p = plan("q_novelty")
    assert(p.contains("hashpartitioning(g#") || p.contains("hashpartitioning(g,"), p.take(3000))
    assert(p.contains("hashpartitioning(doc_id"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("histogram percentiles: ONE base-data exchange keyed (lang, n_chars), no base sort") {
    val p = plan("q_percentiles_hist")
    assert(p.contains("hashpartitioning(lang"), p.take(3000))
    // the base corpus must reach the profile table through a hash agg, not
    // a per-group row_number sort (that is q_percentiles' exact plan)
    assert(!p.contains("row_number"), p.take(3000))
    val schema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(schema.contains("lang") && schema.contains("n_chars") && !schema.contains("text"), schema)
  }

  test("seasonality: base events collapse to (type,dow,hr) before any window") {
    val p = plan("q_seasonality")
    assert(p.contains("hashpartitioning(event_type#") ||
      p.contains("hashpartitioning(event_type,"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    // windows run strictly on the 168-rows-per-type profile, after the agg
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("indel fuzzy join: equi-join on (ordinal, piece), df-cap windows, no cartesian") {
    val p = plan("q_fuzzy_join_indel")
    // candidates come from a hash equi-join between the segment and window
    // projections — never a cartesian/BNLJ over the rep table
    assert(p.contains("hashpartitioning(pi"), p.take(4000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
  }

  test("incremental ANN probe: probes broadcast to the index, corpus never reshuffled") {
    val p = plan("q_ann_incremental")
    // the probe frame (batch x nprobe) is broadcast against the cell index;
    // history vectors must not hash-shuffle on their own id
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(4000))
    assert(!p.contains("hashpartitioning(vec_id"), p.take(4000))
  }

  test("unicode text queries are shuffle-free scans (sort for presentation only)") {
    for (q <- Seq("q_unicode_normalize", "q_lang_script")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: ${p.take(3000)}")
      assert(!p.contains("hashpartitioning"), s"$q: ${p.take(3000)}")
    }
  }
}
