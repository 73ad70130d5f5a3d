package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/**
 * The frames graft's operators persist for one query: a projection that
 * several branches of the query's plan read (both sides of a self-join, a
 * table feeding three aggregates), a signature table two operators share,
 * the word table a BPE trainer returns.
 *
 * Spark's `CacheManager` matches cached data by canonical plan, and so does
 * this store: one entry per canonical plan, whichever operator persisted it.
 * `persist` asks the CacheManager, never this store's own map, whether the
 * plan is cached, so an entry dropped behind the store's back (say by
 * `spark.catalog.clearCache()`) is persisted again and costs one
 * recompute, never an uncached self-join. Re-invoking an operator over a
 * plan-identical input reuses the live entry.
 *
 * Lifetime: the store holds at most [[MaxEntries]] plans and unpersists the
 * least recently persisted one past that; `clear()` unpersists them all.
 * The book drivers (Bench, Soak, Verify) call it after each query, so every
 * query starts and ends with no graft entries.
 */
object FrameCache {

  /** The most entries one book query registers at sf0.001 is 3
    * (q_cluster_split, q_dedup_curve, q_dedup_pipeline); twice that keeps
    * two such queries live side by side, from two threads or composed in
    * one plan. */
  private[graft] val MaxEntries = 6

  private val live = new java.util.LinkedHashMap[LogicalPlan, DataFrame](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[LogicalPlan, DataFrame]): Boolean = {
      val evict = size() > MaxEntries
      if (evict) release(e.getValue)
      evict
    }
  }

  /** Persists `df` (memory, spilling to disk) unless the CacheManager
    * holds its plan already, and records it; returns `df`. */
  def persist(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
    live.put(df.queryExecution.analyzed.canonicalized, df)
    df
  }

  /** Unpersists every recorded frame. */
  def clear(): Unit = synchronized {
    live.values.forEach(release)
    live.clear()
  }

  /** A frame of a stopped session has no blocks left to drop. */
  private def release(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = false)
}
