package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession

/** The frame cache's policy, read off Spark's own cache: one entry per
  * canonical plan, a bounded number of entries, and `clear()`; and the
  * operator lifetime of `scoped`. */
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

  test("a scope releases its frames on return, never enters the bounded map, and lets go of a stored frame") {
    FrameCache.clear()
    val stored = FrameCache.persist(frame(1))
    val (kept, loop) = FrameCache.scoped { s =>
      val loop = (2 until 2 + FrameCache.MaxEntries + 2).map(i => s.persist(frame(i)))
      loop.foreach(f => assert(cached(f), "a scope frame is not evicted mid-loop"))
      assert(cached(stored), "scope frames do not evict a query's frame")
      s.persist(frame(1)) // the store's plan: read here, not owned
      val kept = FrameCache.persist(s.persist(frame(50)))
      s.release(loop.head)
      assert(!cached(loop.head) && cached(loop(1)))
      (kept, loop)
    }
    assert(loop.forall(!cached(_)), "every scope frame is released on return")
    assert(cached(kept), "a frame handed to the store leaves the scope")
    assert(cached(stored), "a plan the scope did not persist is not released by it")
    FrameCache.clear()
    assert(!cached(kept) && !cached(stored))
  }

  test("a scope releases its frames when its block throws") {
    var inside: Seq[DataFrame] = Nil
    intercept[IllegalStateException](FrameCache.scoped { s =>
      inside = Seq(s.persist(frame(60)), s.persist(frame(61)))
      inside.foreach(_.count())
      throw new IllegalStateException("loop failed")
    })
    assert(inside.nonEmpty && inside.forall(!cached(_)))
  }

  test("retain keeps the named frames and releases the rest of the scope") {
    FrameCache.scoped { s =>
      val fs = (70 to 73).map(i => s.persist(frame(i)))
      s.retain(fs(0), fs(3))
      assert(cached(fs(0)) && !cached(fs(1)) && !cached(fs(2)) && cached(fs(3)))
    }
    assert((70 to 73).forall(i => !cached(frame(i))))
  }
}
