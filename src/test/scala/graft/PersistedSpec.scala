package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-plan registry: one entry per (session, canonical plan),
  * LRU eviction by materialized bytes with the most-recently-used entry
  * kept, lifetime counters, and results identical to the unpersisted
  * query. */
class PersistedSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def plan(n: Int): DataFrame =
    spark.range(0, n).selectExpr("id % 7 as k", "id * 3 as v")
  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))

  test("canonical-equal plans built separately share one entry: one miss, one hit") {
    Persisted.clear()
    val (h0, m0) = (Persisted.hits, Persisted.misses)
    val expected = rows(plan(2000))
    val a = Persisted(plan(2000))
    val b = Persisted(plan(2000))
    assert(b eq a, "the second frame must come back as the registered one")
    assert(Persisted.misses == m0 + 1 && Persisted.hits == h0 + 1)
    assert(Persisted.entryCount == 1)
    assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(rows(b) == expected)
    Persisted.clear()
  }

  test("an already-persisted frame passes through unregistered") {
    Persisted.clear()
    val (h0, m0) = (Persisted.hits, Persisted.misses)
    val df = plan(3000).persist(StorageLevel.MEMORY_ONLY)
    try {
      assert(Persisted(df) eq df)
      assert(Persisted.entryCount == 0)
      assert(Persisted.hits == h0 && Persisted.misses == m0)
      assert(df.storageLevel == StorageLevel.MEMORY_ONLY,
        "the registry must not change a foreign persist's level")
    } finally df.unpersist(true)
  }

  test("past a 1-byte budget each insert evicts the LRU entry; the MRU entry stays") {
    Persisted.clear()
    spark.conf.set(Persisted.MaxBytesKey, "1")
    try {
      val (h0, m0, e0) = (Persisted.hits, Persisted.misses, Persisted.evictions)
      val sizes = Seq(1000, 1100, 1200, 1300)
      var prev: Option[DataFrame] = None
      for ((n, i) <- sizes.zipWithIndex) {
        val expected = rows(plan(n))
        val p = Persisted(plan(n))
        // the previous entry was materialized, so it alone is over budget
        assert(Persisted.evictions == e0 + i)
        assert(Persisted.entryCount == 1)
        prev.foreach(q => assert(q.storageLevel == StorageLevel.NONE,
          "an evicted entry must be unpersisted"))
        assert(rows(p) == expected)
        assert(Persisted.bytes > 1, "a materialized entry reports its bytes")
        prev = Some(p)
      }
      // a hit on the sole, over-budget entry keeps it: it is the MRU
      val again = Persisted(plan(sizes.last))
      assert(prev.exists(_ eq again))
      assert(Persisted.entryCount == 1 && Persisted.bytes > 1)
      assert(Persisted.misses == m0 + sizes.size)
      assert(Persisted.hits == h0 + 1)
      assert(Persisted.evictions == e0 + sizes.size - 1)
    } finally {
      spark.conf.unset(Persisted.MaxBytesKey)
      Persisted.clear()
    }
  }

  test("clear() unpersists everything: 0 entries, 0 bytes") {
    val p = Persisted(plan(1500))
    p.collect()
    assert(Persisted.entryCount >= 1 && Persisted.bytes > 0)
    Persisted.clear()
    assert(Persisted.entryCount == 0 && Persisted.bytes == 0)
    assert(p.storageLevel == StorageLevel.NONE)
  }
}
