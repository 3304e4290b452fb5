package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Every declared query that uses [[Persisted]] reuses its entries when
  * it runs again in the same session: a second run adds no miss, hits at
  * least once and returns the same row multiset. A query whose plan
  * carries a per-call identity (a fresh `udf` closure, say) misses every
  * time and pins a new copy per run. */
class PersistedAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  /** A row multiset, order-free and comparable: every value rendered
    * (binary as hex, nested rows and collections element-wise). */
  private def multiset(rows: Array[Row]): Seq[String] = {
    def show(v: Any): String = v match {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
      case r: Row => r.toSeq.map(show).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => show(k) + "->" + show(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
      case x => String.valueOf(x)
    }
    rows.toSeq.map(show).sorted
  }

  test("each query that uses the registry hits it on a second run, with the same rows") {
    Persisted.clear()
    // the session fixtures first, as Bench builds them: a fixture's own
    // misses belong to it, not to whichever query reads it first, and a
    // query that only reads a fixture never consults the registry again
    (graft.queries.TsQueries.fixtures ++ graft.queries.PipelineQueries.fixtures)
      .foreach { case (_, build) => build(spark, dir) }
    val queries = SparkEntry.queries
    // building a query's frame is what consults the registry
    val persisting = queries.keys.toSeq.sorted.flatMap { n =>
      val (h0, m0) = (Persisted.hits, Persisted.misses)
      val df = queries(n)(spark, dir)
      if (Persisted.hits == h0 && Persisted.misses == m0) None
      else Some(n -> multiset(df.collect()))
    }
    info(s"queries that use the registry: ${persisting.map(_._1).mkString(",")}")
    assert(persisting.map(_._1).contains("knn_lsh"))
    val faults = persisting.flatMap { case (n, first) =>
      val (h0, m0) = (Persisted.hits, Persisted.misses)
      val again = multiset(queries(n)(spark, dir).collect())
      val (h, m) = (Persisted.hits - h0, Persisted.misses - m0)
      if (m == 0 && h > 0 && again == first) None
      else Some(s"$n: $m misses, $h hits, same rows ${again == first}")
    }
    assert(faults.isEmpty, faults.mkString("\n"))
    Persisted.clear()
  }
}
