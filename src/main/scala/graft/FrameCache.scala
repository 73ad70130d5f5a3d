package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/**
 * The one module that persists or releases a frame for graft's operators.
 * A frame lives for one of two lifetimes.
 *
 * Query lifetime ([[persist]]): a frame an operator hands back to its
 * caller, or one several branches of the query's plan read (both sides of
 * a self-join, a table feeding three aggregates), a signature table two
 * operators share, the word table a BPE trainer returns, a resolved forest.
 *
 * Spark's `CacheManager` matches cached data by canonical plan, and so does
 * this store: one entry per canonical plan, whichever operator persisted it.
 * `persist` asks the CacheManager, never this store's own map, whether the
 * plan is cached, so an entry dropped behind the store's back (say by
 * `spark.catalog.clearCache()`) is persisted again and costs one
 * recompute, never an uncached self-join. Re-invoking an operator over a
 * plan-identical input reuses the live entry.
 *
 * The store holds at most [[MaxEntries]] plans and unpersists the least
 * recently persisted one past that; `clear()` unpersists them all, and the
 * lineage leaves of [[checkpoint]] with them. The book
 * drivers (Bench, Soak, Verify) call it after each query, so every query
 * starts and ends with no graft entries.
 *
 * Operator lifetime ([[scoped]]): the frames an iterative operator keeps
 * for its own loop (a frontier, a round's word table, the corpus projection
 * every Lloyd pass reads). They never enter the bounded map, so a loop frame
 * cannot evict a query's shared frame nor be evicted mid-loop, and they are
 * released when the operator's block ends.
 */
object FrameCache {

  /** The most entries one book query registers at sf0.001 is 3
    * (q_cluster_split, q_dedup_curve, q_dedup_pipeline); twice that keeps
    * two such queries live side by side, from two threads or composed in
    * one plan. */
  private[graft] val MaxEntries = 6

  private val Level = StorageLevel.MEMORY_AND_DISK

  private val live = new java.util.LinkedHashMap[LogicalPlan, DataFrame](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[LogicalPlan, DataFrame]): Boolean = {
      val evict = size() > MaxEntries
      if (evict) unpersist(e.getValue)
      evict
    }
  }

  private def key(df: DataFrame): LogicalPlan = df.queryExecution.analyzed.canonicalized

  /** Persists `df` (memory, spilling to disk) unless the CacheManager
    * holds its plan already, and records it; returns `df`. */
  def persist(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel == StorageLevel.NONE) df.persist(Level)
    live.put(key(df), df)
    df
  }

  /** The RDDs behind [[checkpoint]]'s leaves, by id only: a leaf whose
    * frame is dropped unreleased is still cleaned by Spark's ContextCleaner. */
  private val leaves = scala.collection.mutable.Set[(SparkContext, Int)]()

  /** `df` computed now into a lineage leaf (an eager local checkpoint) of
    * query lifetime: `clear()` releases its blocks. For a loop's inputs,
    * whose plans the loop would otherwise nest round over round. */
  def checkpoint(df: DataFrame): DataFrame = {
    val leaf = df.localCheckpoint()
    synchronized {
      leaves.filterInPlace { case (sc, id) => sc.getPersistentRDDs.contains(id) }
      leaf.queryExecution.analyzed.foreach {
        case r: LogicalRDD => leaves += ((r.rdd.context, r.rdd.id))
        case _ =>
      }
    }
    leaf
  }

  /** Unpersists every recorded frame and checkpoint leaf. */
  def clear(): Unit = synchronized {
    live.values.forEach(unpersist)
    live.clear()
    for ((sc, id) <- leaves if !sc.isStopped) sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))
    leaves.clear()
  }

  /**
   * The frames one operator persists for its own use. A scope owns only
   * the frames it persisted itself: a plan already cached (by the store,
   * another scope or the caller) is read, never released, here.
   */
  final class Scope private[FrameCache] {
    private val held = scala.collection.mutable.ArrayBuffer[DataFrame]()

    /** Persists `df` at the store's level for this scope; returns `df`. */
    def persist(df: DataFrame): DataFrame = {
      if (df.storageLevel == StorageLevel.NONE) { df.persist(Level); held += df }
      df
    }

    /** Releases `df` now, if this scope persisted it. */
    def release(df: DataFrame): Unit = {
      val i = held.indexWhere(_ eq df)
      if (i >= 0) drop(held.remove(i))
    }

    /** Releases every frame of this scope but `keep`. */
    def retain(keep: DataFrame*): Unit = {
      val (kept, gone) = held.partition(df => keep.exists(_ eq df))
      gone.foreach(drop)
      held.clear()
      held ++= kept
    }

    private[FrameCache] def close(): Unit = retain()

    /** A frame handed to [[FrameCache.persist]] has left the scope. */
    private def drop(df: DataFrame): Unit = FrameCache.synchronized {
      if (!live.containsKey(key(df))) unpersist(df)
    }
  }

  /** Runs `body` with a fresh [[Scope]] and releases every frame still in
    * it when `body` returns or throws. */
  def scoped[A](body: Scope => A): A = {
    val s = new Scope
    try body(s) finally s.close()
  }

  /** A frame of a stopped session has no blocks left to drop. */
  private def unpersist(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = false)
}
