package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session warm-state policy for the bench/test harness's per-(session,
  * dataset) corpus caches (q87 cluster labels + prefix index, q110
  * ClusterState, q108/q111 SCD-2 dimensions, q115 first-seen frame, q116
  * containment index). These are the in-memory stand-ins for state a
  * production pipeline keeps AT REST and loads per batch; caching them
  * lets benched trials pay only the per-batch cost each incremental
  * operator exists to isolate.
  *
  * [[pin]] severs lineage like `Tables.pinEager` at its default but stores
  * the blocks MEMORY_AND_DISK_SER instead of the deserialized default:
  * serialized blocks are per-partition byte arrays the block manager can
  * EVICT TO DISK under execution pressure, so a session holding every
  * clustering family's warm state at once degrades to disk reads instead
  * of an OOM — the r10 sf10 sweep had to run as 2+2 chunks because the
  * deserialized states accumulated past the 8 GB cap (BUILDLOG r10
  * "session-state ceiling"). When memory is ample the blocks stay
  * memory-resident and trial times are unchanged (spec'd against the r10
  * sf0.1 record).
  *
  * [[releaseAll]] is the explicit end-of-phase hatch: clears every
  * registered cache map (states rebuild lazily on next use) and drops the
  * persisted blocks of every frame THIS object pinned — and only those.
  * Sweeping `getPersistentRDDs` context-wide would also unpersist
  * transient persists held by in-flight writers outside the warm caches
  * (e.g. `NgramContainmentIndex.saveAsTables`' `df.persist`), silently
  * re-evaluating them mid-write; pins are id-tracked precisely so the
  * hatch cannot reach anything it does not own. */
object WarmState {
  val level: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER

  /** Deserialized, still disk-evictable: for SMALL warm states (the SCD-2
    * dimensions — megabytes, not the sf10 clustering hogs [[level]]
    * exists for) where [[pin]]'s per-read DESERIALIZATION of serialized
    * blocks is a real per-trial cost and the deserialized footprint is
    * harmless. */
  val hotLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK

  private val pinnedIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Eagerly materialize `df` as session warm state: lineage severed (the
    * table-append invalidation trap cannot re-evaluate it), blocks
    * serialized + disk-evictable, and the checkpoint RDD id recorded so
    * [[releaseAll]] frees exactly what was pinned. */
  def pin(df: DataFrame): DataFrame = pinAt(df, level)

  /** [[pin]] at [[hotLevel]] — deserialized blocks for small, read-every-
    * trial dimension state. */
  def pinHot(df: DataFrame): DataFrame = pinAt(df, hotLevel)

  private def pinAt(df: DataFrame, at: StorageLevel): DataFrame = {
    val out = graft.Tables.pinEager(df, at)
    graft.Tables.pinnedRdds(out).foreach(rdd => pinnedIds.add(rdd.id))
    out
  }

  private val clearers =
    new java.util.concurrent.CopyOnWriteArrayList[() => Unit]()

  /** Register a cache-map clearer; called once per cache object. */
  private[graft] def registerCache(clear: () => Unit): Unit =
    clearers.add(clear)

  /** Clear every registered warm cache and unpersist the blocks of every
    * frame [[pin]]/[[pinHot]] created (which would otherwise be released
    * only when GC collects the dropped frames). Pins outside this object —
    * writer-internal persists, user caches — are untouched. */
  def releaseAll(spark: SparkSession): Unit = {
    clearers.forEach(c => c())
    val persistent = spark.sparkContext.getPersistentRDDs
    pinnedIds.forEach(id => persistent.get(id).foreach(_.unpersist(blocking = false)))
    pinnedIds.clear()
  }
}
