package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** The registry of persisted intermediates, keyed by (session,
  * canonical analyzed plan).
  *
  * Mid-pipeline persists are optimizer barriers that the RETURNED frame
  * consumes lazily, so the producing function cannot unpersist them
  * before returning. Without a registry every invocation pins a FRESH
  * copy, and repeated runs in one session accumulate executor storage.
  * Keying on the canonicalized plan makes a re-invocation over the same
  * input reuse the already-persisted blocks instead.
  *
  * Entries evict LRU (with `unpersist`) against one BYTE budget, like
  * the reference's chunk cache (`pkg/chunkr/groupcache.go:40`,
  * `8 << 30`): entries have wildly unequal sizes, so an entry count
  * bounds nothing. An entry's bytes are what its cache builder has
  * materialized (0 until a job fills it), read from the builder
  * captured at insert. The most-recently-used entry is never evicted:
  * the query at hand is about to read it, and `MEMORY_AND_DISK`
  * degrades to spill, not failure. The budget is the session conf
  * `spark.graft.persistMaxBytes`. */
object Persisted {

  val MaxBytesKey = "spark.graft.persistMaxBytes"
  val DefaultMaxBytes: Long = 8L << 30

  private final class Entry(val df: DataFrame, val bytes: () => Long)

  // access-ordered: iteration starts at the least-recently-used entry
  private val entries =
    new java.util.LinkedHashMap[(SparkSession, LogicalPlan), Entry](16, 0.75f, true)
  private var hitCount, missCount, evictionCount = 0L

  /** `df` persisted at `MEMORY_AND_DISK`, or the frame already registered
    * for a canonical-equal plan of the same session. A frame that is
    * already persisted outside the registry comes back untouched and
    * unregistered (counted neither hit nor miss): CacheManager
    * substitutes its cached plan anyway, and the lifecycle stays with
    * whoever persisted it. */
  private[graft] def apply(df: DataFrame): DataFrame = entries.synchronized {
    // the session REFERENCE (identity equality: no cross-session
    // collisions) plus the canonicalized plan OBJECT: structural
    // equality covers LocalRelation data too, which a string key misses
    val key = (df.sparkSession, df.queryExecution.analyzed.canonicalized)
    val got = entries.get(key)
    if (got == null && df.storageLevel != StorageLevel.NONE) df
    else {
      val out =
        if (got != null) { hitCount += 1; got.df }
        else {
          missCount += 1
          val p = df.persist(StorageLevel.MEMORY_AND_DISK)
          entries.put(key, new Entry(p, GraftSqlBridge.persistedSize(p)))
          p
        }
      enforceBudget(df.sparkSession.conf.getOption(MaxBytesKey)
        .fold(DefaultMaxBytes)(_.toLong))
      out
    }
  }

  /** Unpersist least-recently-used entries until the rest fit `budget`,
    * keeping the most-recently-used one whatever its size. */
  private def enforceBudget(budget: Long): Unit = {
    var total = bytes
    val it = entries.values.iterator()
    while (total > budget && entries.size > 1) {
      val e = it.next()
      total -= e.bytes()
      e.df.unpersist(false)
      it.remove()
      evictionCount += 1
    }
  }

  def hits: Long = entries.synchronized(hitCount)
  def misses: Long = entries.synchronized(missCount)
  def evictions: Long = entries.synchronized(evictionCount)
  def entryCount: Int = entries.synchronized(entries.size)

  /** Materialized bytes held across all entries. */
  def bytes: Long = entries.synchronized {
    var total = 0L
    entries.values.forEach(e => total += e.bytes())
    total
  }

  /** Unpersist and drop every entry (all sessions); counters are
    * lifetime totals and stay. */
  def clear(): Unit = entries.synchronized {
    entries.values.forEach(e => e.df.unpersist(false))
    entries.clear()
  }
}
