package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.MinHashLSH
import graft.filter.SparkTestSession

/**
 * The externalized-signature path and the cross-operator signature cache:
 * (1) `signatures()` written to a parquet TABLE and read back must drive
 * `candidatePairsFromSigs` / `nearDuplicatesFromSigs` /
 * `duplicateGroupsFromSigs` to byte-identical results as the raw-text
 * entry points — the petabyte-scale contract where signatures are computed
 * once per corpus and every dedup recipe runs against the table; and
 * (2) the frame cache must hand two different OPERATORS on the same
 * corpus plan the same persisted projection (the q_dedup_pipeline /
 * q_cluster_split sharing win) while keying apart different corpora and
 * different hash families — asserted on Spark's CacheManager entries.
 */
class SignatureTableSpec extends AnyFunSuite with SparkTestSession {

  private def corpus = {
    import spark.implicits._
    val base = (0 until 60).map { i =>
      (i.toLong, s"document $i discusses topic${i % 7} at length with shared vocabulary " +
        s"alpha beta gamma delta epsilon zeta eta theta iota kappa body$i tail$i")
    }
    // plant near-dups: truncated copies of the first 10 docs
    val dups = (0 until 10).map { i =>
      val t = base(i)._2
      (1000L + i, t.substring(0, t.length - 12))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  test("signature table written to parquet replays the raw-text dedup exactly") {
    val lsh = new MinHashLSH(32, 8, 3)
    val dir = Files.createTempDirectory("graft_sigs_").toString
    lsh.signatures(corpus, "doc_id", "text").write.mode("overwrite").parquet(dir)
    val table = spark.read.parquet(dir)

    val fromText = lsh.nearDuplicates(corpus, "doc_id", "text", 0.4)
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val fromTable = lsh.nearDuplicatesFromSigs(table, "doc_id", 0.4)
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fromText.nonEmpty && fromText.sameElements(fromTable))

    val candText = lsh.candidatePairs(corpus, "doc_id", "text")
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val candTable = lsh.candidatePairsFromSigs(table, "doc_id")
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(candText.sameElements(candTable))

    val grpText = lsh.duplicateGroups(corpus, "doc_id", "text", 0.4)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val grpTable = lsh.duplicateGroupsFromSigs(table, "doc_id", 0.4)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(grpText.sameElements(grpTable))
  }

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  /** The CacheManager entry of `c`'s signature projection under `lsh`. */
  private def sigEntry(c: DataFrame, lsh: MinHashLSH): Option[CachedData] =
    cacheManager.lookupCachedData(lsh.signatures(c.select(col("doc_id"), col("text")), "doc_id", "text")
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])

  test("SignatureStore shares one persisted projection across operators") {
    FrameCache.clear()
    val lsh = new MinHashLSH(32, 8, 3)
    val c = corpus
    lsh.nearDuplicates(c, "doc_id", "text", 0.4).count()
    val first = sigEntry(c, lsh)
    assert(first.isDefined, "the signature projection is cached")
    lsh.duplicateGroups(c, "doc_id", "text", 0.4).count()
    assert(sigEntry(c, lsh).exists(_ eq first.get), "same corpus plan + params must reuse the entry")

    // a different corpus plan (extra filter) must key apart
    val filtered = c.where(col("doc_id") < 1000)
    assert(sigEntry(filtered, lsh).isEmpty)
    lsh.nearDuplicates(filtered, "doc_id", "text", 0.4).count()
    assert(sigEntry(filtered, lsh).exists(e => !(e eq first.get)))

    // same corpus, different hash family must key apart
    val lsh16 = new MinHashLSH(16, 4, 3)
    assert(sigEntry(c, lsh16).isEmpty)
    lsh16.nearDuplicates(c, "doc_id", "text", 0.4).count()
    assert(sigEntry(c, lsh16).exists(e => !(e eq first.get)))
    assert(sigEntry(c, lsh).exists(_ eq first.get))
    FrameCache.clear()
    assert(sigEntry(c, lsh).isEmpty && sigEntry(c, lsh16).isEmpty && sigEntry(filtered, lsh).isEmpty)
  }

  test("pipeline and nearDupSafeSplit agree on groups via the shared store") {
    FrameCache.clear()
    val lsh = new MinHashLSH(32, 8, 3)
    val c = corpus
    // both entry points run off the shared signature projection (the
    // bench-sharing win); their group structures differ by design (star
    // forest vs full CC over verified pairs) but both must collapse the
    // planted truncated copies into multi-member groups
    val kept = graft.dedup.Dedup.pipeline(c, "doc_id", "text", 0.4, lsh)
    val grouped = kept.where(col("n_members") > 1)
      .agg(coalesce(sum(col("n_members")), lit(0L))).collect().head.getLong(0)
    assert(grouped >= 20L, "planted truncated copies must land in multi-member groups")
    val entry = sigEntry(c, lsh).getOrElse(fail("pipeline left no cached signatures"))
    assert(entry.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
    val buffers = entry.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id
    val split = graft.operators.DatasetSplit
      .nearDupSafeSplit(c, "doc_id", "text", 0.4, lsh = lsh)
    assert(split.where(col("canonical_id") =!= col("doc_id")).count() >= 10L)
    // near-dup members never cross the split boundary
    val leaky = split.groupBy("canonical_id")
      .agg(countDistinct(col("split")).as("k"))
      .where(col("k") > 1).count()
    assert(leaky == 0L)
    // the cross-operator saving: both operators above ran on the same
    // corpus plan + hash family, so the tokenize→shingle→minhash pass ran
    // once — the second operator read the first one's entry and its
    // materialized blocks, never a rebuilt entry
    val after = sigEntry(c, lsh).getOrElse(fail("the split dropped the signature entry"))
    assert(after eq entry, "the second operator re-derived signatures into a new entry")
    assert(after.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id == buffers)
    FrameCache.clear()
  }

  test("SignatureStore survives a semanticHash collision by plan equality") {
    // can't force a real 32-bit collision deterministically, but the store
    // must key on the PLAN, not its hash: two plans that differ only in a
    // filter constant are the closest controllable proxy — equal-looking,
    // unequal structurally — and must never share an entry
    FrameCache.clear()
    val lsh = new MinHashLSH(32, 8, 3)
    val c = corpus
    val a = c.where(col("doc_id") < 500)
    val b = c.where(col("doc_id") < 501)
    lsh.nearDuplicates(a, "doc_id", "text", 0.4).count()
    lsh.nearDuplicates(b, "doc_id", "text", 0.4).count()
    val (ea, eb) = (sigEntry(a, lsh).get, sigEntry(b, lsh).get)
    assert(!(ea eq eb), "different corpus plans must not share a cache entry")
    assert(Seq(a, b).forall(lsh.signatures(_, "doc_id", "text").count() == 60L)) // both usable
    FrameCache.clear()
  }

  test("two operators banding one signature table both keep their cache past two more tables") {
    // candidatePairsFromSigs and nearDuplicatesFromSigs band the same table
    // into one plan, so they share one cache entry; persisting the banding
    // of two other tables afterwards must not un-cache it under either
    FrameCache.clear()
    val lsh = new MinHashLSH(32, 8, 3)
    val dir = Files.createTempDirectory("graft_sigs_").toString
    lsh.signatures(corpus, "doc_id", "text").write.mode("overwrite").parquet(dir)
    val table = spark.read.parquet(dir)
    val cands = lsh.candidatePairsFromSigs(table, "doc_id")
    val pairs = lsh.nearDuplicatesFromSigs(table, "doc_id", 0.4)
    lsh.candidatePairsFromSigs(table.where(col("doc_id") < 30), "doc_id")
    lsh.candidatePairsFromSigs(table.where(col("doc_id") >= 30), "doc_id")
    Seq(cands, pairs).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan"), "the shared banding cache was evicted:\n" + p.take(2000))
    }
    assert(pairs.count() > 0 && cands.count() >= pairs.count())
    FrameCache.clear()
  }
}
