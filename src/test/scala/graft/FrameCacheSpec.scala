package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession

/** The frame cache's policy, read off Spark's own cache: one entry per
  * canonical plan, a bounded number of entries, and `clear()`. */
class FrameCacheSpec extends AnyFunSuite with SparkTestSession {

  private def frame(i: Int): DataFrame = spark.range(0, 100 + i, 1, 2).select((col("id") * 2).as("v"))
  private def cached(df: DataFrame): Boolean = df.storageLevel.useMemory

  test("one entry per canonical plan: a plan-identical frame reuses the live entry") {
    FrameCache.clear()
    val a = FrameCache.persist(frame(1))
    assert(a.count() == 101L && cached(a))
    val again = frame(1)
    assert(cached(again), "a rebuilt plan-identical frame reads the entry")
    FrameCache.persist(again)
    FrameCache.clear()
    assert(!cached(a) && !cached(again))
  }

  test("past the bound the least recently persisted plan is unpersisted") {
    FrameCache.clear()
    val frames = (0 to FrameCache.MaxEntries).map(i => FrameCache.persist(frame(i)))
    assert(!cached(frames.head), "the eldest entry is evicted")
    assert(frames.tail.forall(cached))
    // persisting a live plan again makes it the most recent
    FrameCache.persist(frame(1))
    FrameCache.persist(frame(100))
    assert(cached(frames(1)) && !cached(frames(2)))
    FrameCache.clear()
    assert((frames :+ frame(100)).forall(!cached(_)))
  }

  test("an entry dropped behind the store's back is persisted again") {
    FrameCache.clear()
    val a = FrameCache.persist(frame(7))
    a.count()
    spark.catalog.clearCache()
    assert(!cached(a))
    val b = FrameCache.persist(frame(7))
    assert(cached(a) && cached(b))
    assert(b.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    FrameCache.clear()
    assert(!cached(b))
  }
}
