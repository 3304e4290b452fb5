package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Central table loader for the driver's parquet corpus.
  *
  * `events.ts` has shipped in two physical layouts across testdata
  * generations: Parquet TIMESTAMP(NANOS) (Spark reads it as a raw LONG
  * under `spark.sql.legacy.parquet.nanosAsLong` — dynamic conf, set at
  * read time) and TIMESTAMP(MICROS) isAdjustedToUTC=false (Spark reads
  * it as TIMESTAMP_NTZ; the conf does not apply). [[load]] normalizes
  * BOTH to the same column every downstream query expects: epoch-NANOS
  * as a raw LONG. The timestamp→epoch interpretation is pure NTZ
  * wall-clock arithmetic (`timestampdiff` against the NTZ epoch),
  * matching how DuckDB's `epoch_ms(ts)` reads the identical file in the
  * oracle — the session timezone never enters. Downstream code uses [[tsMicros]]
  * for a proper TimestampType column and [[tsMillis]] for epoch-ms
  * longs. */
object Tables {
  def load(s: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      df.schema("ts").dataType match {
        case TimestampNTZType =>
          // NTZ − NTZ is pure wall-clock arithmetic — no session
          // timezone anywhere, exactly DuckDB's epoch_ms(ts) reading of
          // the identical file (any cast-based route silently shifts by
          // the session offset)
          df.withColumn("ts", expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
          ) * 1000L)
        case TimestampType =>
          df.withColumn("ts", unix_micros(col("ts")) * 1000L)
        case _ => df // already a nanos long
      }
    } else df
  }

  /** Scan-parallelism floor (guide §2.5 "input skew": one unsplittable
    * split). The driver's corpus tables ship as ONE parquet file with
    * ONE row group, so Spark's scan yields ONE task and every map-side
    * pass before the first exchange (tokenize, shingle, hash, media
    * synth + decode) runs on a single core while the rest of the
    * machine idles — thread dumps of the bench show exactly one
    * RUNNABLE task through whole text/media stages. Round-robin
    * repartition to the session's default parallelism when, and only
    * when, the scan yields fewer partitions: at production scale a
    * table has thousands of row-group splits and this wraps to a
    * no-op, so no gratuitous exchange is ever added to a big scan.
    * (The repartition itself moves the tiny table once and is
    * deterministic — Spark sorts before round-robin since
    * SPARK-23207.) */
  def fanOut(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (scanPartitions(df) < n) df.repartition(n) else df
  }

  // fanOut is called during QUERY CONSTRUCTION (docs()/embs()/events
  // loaders), which the bench times: df.rdd.getNumPartitions forces a
  // full physical planning + RDD-lineage conversion of the scan per
  // invocation just to read a partition count that is a pure function
  // of (session, file set, split confs). Memoize it per (session,
  // canonicalized scan plan) — ~10-40 ms of driver work saved per
  // query rep across the ~200 queries that read these tables. A handful
  // of base tables per session, purged with the session's fixtures.
  private val scanParts = SessionFixtures.register(
    TrieMap[(String, LogicalPlan), Int]())
  private def scanPartitions(df: DataFrame): Int =
    scanParts.getOrElseUpdate(
      (SessionFixtures.key(df.sparkSession), df.queryExecution.logical.canonicalized),
      df.rdd.getNumPartitions)

  // NOTE: Column./ is DOUBLE division; epoch-nanos (~1.7e18) exceed
  // double's 2^53 mantissa, so `ts / 1000000` is off by ±1 on edge values.
  // `div` resolves to IntegralDivide — exact on longs.

  /** events.ts (nanos long) → TimestampType at µs precision. */
  def tsMicros(tsNanos: Column): Column =
    timestamp_micros(call_function("div", tsNanos, lit(1000L)))

  /** events.ts (nanos long) → epoch milliseconds. */
  def tsMillis(tsNanos: Column): Column =
    call_function("div", tsNanos, lit(1000000L))
}
