package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The Spark-native equivalent of the reference's whole query path
  * (SURVEY.md §3.1): time-partitioned long-form samples table + label
  * matchers compiled to Catalyst predicates + `groupBy(labels)` series
  * assembly in canonical label order.
  *
  * Storage schema (long form — SURVEY.md §1.3):
  * {{{
  *   labels      ARRAY<STRUCT<name STRING, value STRING>>  -- canonical (sorted, non-empty)
  *   fingerprint LONG                                      -- Labels.fingerprint
  *   t           LONG                                      -- epoch millis
  *   v           DOUBLE
  *   block_start LONG                                      -- partition col, blockMs-aligned
  * }}}
  * plus one promoted top-level STRING column per "hot" label
  * (`__name__` → `l___name__`, etc.) so equality/prefix matchers reach the
  * Parquet scan as pushed filters + dictionary pruning — the role of the
  * reference's inverted index (`querier.go:184-284`).
  *
  * Scale design (100 TB): the only shuffle in the whole pipeline is the
  * `groupBy(fingerprint)` that assembles per-series sample arrays, keyed on
  * a LONG. Selection is pure scan-side work: partition pruning on
  * `block_start` replaces block-overlap pruning (`querier.go:31-43`),
  * Parquet row-group stats replace per-chunk time pruning
  * (`querier.go:510-531`), and pushed label predicates replace postings
  * intersection (`vendor/.../tsdb/postings.go:170-233`).
  */
object TsSchema {
  val BlockMs: Long = 2 * 60 * 60 * 1000L // 2h blocks, shipper.go:39-43

  /** Default hot labels promoted to top-level columns. */
  val DefaultPromoted: Seq[String] = Seq(Labels.MetricName, "job", "instance")

  def promotedColName(label: String): String = "l_" + label

  /** Fast path of [[canonicalize]] for a STATICALLY known label set:
    * `pairs` maps label name → value column (empty string ≡ absent). The
    * canonical array and fingerprint string are assembled from statically
    * sorted pieces (array `concat` + `concat_ws`, both codegen'd) instead
    * of the per-row map_entries→filter→array_sort lambda chain, which is
    * CodegenFallback and dominates ingest cost (~3× write throughput on
    * the 11.5M-row ScaleCheck corpus). */
  def canonicalizeStatic(df: DataFrame, pairs: Seq[(String, Column)],
                         promoted: Seq[String] = DefaultPromoted): DataFrame = {
    val sorted = pairs.sortBy(_._1)
    require(sorted.map(_._1).distinct.size == sorted.size, "duplicate label names")
    val pieces = sorted.map { case (name, value) =>
      when(value =!= "", array(struct(lit(name).as("name"), value.as("value"))))
        .otherwise(array().cast("array<struct<name:string,value:string>>"))
    }
    val fpPieces = sorted.map { case (name, value) =>
      when(value =!= "", concat(lit(name), lit("þ"), value)) // null when absent; concat_ws skips
    }
    val base = df
      .withColumn("labels", concat(pieces: _*))
      .withColumn("fingerprint", xxhash64(concat_ws("ÿ", fpPieces: _*)))
      .withColumn("block_start", col("t") - pmod(col("t"), lit(BlockMs)))
    promoted.foldLeft(base) { (d, name) =>
      d.withColumn(promotedColName(name),
        sorted.find(_._1 == name).map { case (_, v) => coalesce(v, lit("")) }
          .getOrElse(lit("")))
    }
  }

  /** Normalize a DataFrame with columns (labels: map<string,string>,
    * t: long, v: double) into the canonical storage form. */
  def canonicalize(df: DataFrame, promoted: Seq[String] = DefaultPromoted): DataFrame = {
    val canonLabels = array_sort(
      filter(map_entries(col("labels")), e => e.getField("value") =!= lit("")))
    val base = df
      .withColumn("labels", canonLabels.cast("array<struct<name:string,value:string>>"))
      .withColumn("fingerprint", fingerprintCol(col("labels")))
      .withColumn("block_start", col("t") - pmod(col("t"), lit(BlockMs)))
    promoted.foldLeft(base) { (d, name) =>
      d.withColumn(promotedColName(name), labelValue(col("labels"), name))
    }
  }

  /** Value of label `name` from the array-of-struct column; "" if absent
    * (the reference's absent-label convention, querier.go:457-462). */
  def labelValue(labelsCol: Column, name: String): Column =
    coalesce(element_at(map_from_entries(labelsCol), name), lit(""))

  /** Series fingerprint: 64-bit hash of the canonical label array — the
    * shuffle/group key standing in for `labels.Hash` (labels.go:58-68).
    * xxhash64 over an unambiguous separator encoding; codegen'd (no UDF).
    * Grouping also carries the full `labels` column, so even a hash
    * collision cannot merge two distinct series. */
  def fingerprintCol(labelsCol: Column): Column =
    xxhash64(concat_ws("ÿ",
      transform(labelsCol, e => concat(e.getField("name"), lit("þ"), e.getField("value")))))
}

/** Querier over a canonical samples DataFrame — the `tsdb.Querier`
  * interface (`vendor/.../tsdb/querier.go:27-40`): `select`,
  * `labelValues`, `labelNames`, over a time range + matcher set.
  *
  * `localSelect`, when given, answers [[streamSelect]] on the driver
  * with output equal to [[selectStreams]] over `data` (a native block
  * dir's index and chunks, `graft.tsdb.datasource.BlockSelect`); every
  * other method runs on `data`. */
final class TsQuerier(data: DataFrame, promoted: Seq[String] = TsSchema.DefaultPromoted,
                      localSelect: Option[(Long, Long, Seq[LabelMatcher]) => Iterator[SampleStream]] = None) {
  import TsSchema._

  private def valueCol(name: String): Column =
    if (promoted.contains(name)) col(promotedColName(name))
    else labelValue(col("labels"), name)

  /** Time + matcher selection, long form (one row per sample), in
    * canonical (labels, t) order. Equivalent of `q.Select(ms...)` +
    * sample iteration (`querier.go:75-89`, `server.go:134-157`).
    * Time semantics: inclusive [mint, maxt] (`querier.go:728-793`). */
  def selectLong(mint: Long, maxt: Long, matchers: Seq[LabelMatcher]): DataFrame = {
    // Partition pruning (P10): block overlaps [mint, maxt] iff
    // block_start in [mint - BlockMs + 1, maxt]; block_start is aligned so
    // a closed range on it prunes at the partition listing.
    val pruned = data
      .where(col("block_start") >= lit(mint - BlockMs + 1) && col("block_start") <= lit(maxt))
      .where(col("t").between(mint, maxt)) // P11 via row-group stats + P12
    matchers.foldLeft(pruned)((d, m) => d.where(m.predicate(valueCol(m.name))))
  }

  /** Full select: per-series sample arrays sorted by time, streams sorted
    * by canonical label order — the merged SeriesSet (J1/J2) +
    * `model.Matrix` assembly (`querier.go:323-388`, `server.go:134-157`). */
  def select(mint: Long, maxt: Long, matchers: Seq[LabelMatcher]): DataFrame =
    selectLong(mint, maxt, matchers)
      .groupBy(col("fingerprint"), col("labels"))
      .agg(sort_array(collect_list(struct(col("t"), col("v")))).as("samples"))
      .orderBy(col("labels")) // array<struct> ordering == labels.Compare on canonical sets
      .select(col("labels"), col("samples"))

  def selectStreams(mint: Long, maxt: Long, matchers: Seq[LabelMatcher]): Dataset[SampleStream] = {
    val spark = data.sparkSession
    import spark.implicits._
    select(mint, maxt, matchers)
      .select(map_from_entries(col("labels")).as("labels"), col("samples"))
      .as[SampleStream]
  }

  /** True when [[streamSelect]] runs driver-local, with no Spark job. */
  def hasLocalSelect: Boolean = localSelect.isDefined

  /** [[selectStreams]] as a driver-side iterator — what remote-read
    * serves: the driver-local select when there is one, else the
    * Dataset's `toLocalIterator` (one task's series at a time). */
  def streamSelect(mint: Long, maxt: Long, matchers: Seq[LabelMatcher]): Iterator[SampleStream] =
    localSelect match {
      case Some(f) => f(mint, maxt, matchers)
      case None =>
        import scala.jdk.CollectionConverters._
        selectStreams(mint, maxt, matchers).toLocalIterator().asScala
    }

  /** Sorted distinct values of one label across all blocks — `LabelValues`
    * + cross-block k-way distinct merge (J3, `querier.go:48-69,286-312`).
    * Only series that carry the label contribute (absent ≡ ""). */
  def labelValues(name: String): DataFrame =
    data.select(valueCol(name).as("value"))
      .where(col("value") =!= "").distinct().orderBy(col("value"))

  /** Sorted distinct label names in the store. */
  def labelNames(): DataFrame =
    data.select(explode(col("labels.name")).as("name"))
      .distinct().orderBy(col("name"))

  /** Cardinality statistics per label name — the `/api/v1/status/tsdb`
    * analog (label value counts, series counts): how an operator finds
    * the label that is exploding the index. One distinct-series shuffle;
    * the explode runs over unique series only, so cost scales with
    * series count, not sample count. */
  def labelStats(): DataFrame =
    data.select(col("fingerprint"), col("labels")).distinct()
      .select(explode(col("labels")).as("l"))
      .groupBy(col("l.name").as("label"))
      .agg(countDistinct(col("l.value")).as("n_values"),
        count(lit(1)).as("n_series"))
      .orderBy(col("label"))

  /** The single `seriesCountByLabelValuePair` list of [[tsdbStats]] as a
    * DataFrame `(name, value)` — for consumers that need only this list
    * (the `ts_tsdb_pairs` query): one distinct-series pass, one
    * (name, value)-keyed map-side-combined aggregation, and an ordered
    * `limit(n)` (TakeOrdered), with no driver collect and none of the
    * other six statistics' jobs. Ordering matches [[tsdbStats]]'s `top`
    * exactly: value desc, name asc. */
  def seriesCountByLabelValuePairDf(limit: Int = 10): DataFrame =
    data.select(col("fingerprint"), col("labels")).distinct()
      .select(explode(col("labels")).as("l"))
      .groupBy(col("l.name").as("n"), col("l.value").as("v"))
      .agg(count(lit(1)).as("value"))
      .select(concat(col("n"), lit("="), col("v")).as("name"), col("value"))
      .orderBy(col("value").desc, col("name")).limit(limit)

  /** The `/api/v1/status/tsdb` statistics bundle (Prometheus HTTP API):
    * head-style totals plus the four top-`limit` cardinality lists an
    * operator reads to find the label exploding the index.
    *
    * Scale shape: every aggregation runs over the DISTINCT series set
    * (persisted once), each top-`limit` list is an ordered `limit(n)` —
    * TakeOrdered, no global sort materialization — so the driver
    * receives 4·limit rows plus five scalars whatever the store size.
    * `chunkCount` = distinct (series, 2h block) pairs — the store's
    * analog of head chunks; `memoryInBytes` counts UTF-8 label-pair
    * bytes (name+value) over unique series, the closest store-side
    * analog of Prometheus's per-label memory accounting. */
  def tsdbStats(limit: Int = 10): TsdbStats = {
    require(limit > 0, "limit must be positive")
    val series = data.select(col("fingerprint"), col("labels")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = series.select(explode(col("labels")).as("l"))
        .select(col("l.name").as("name"), col("l.value").as("value"))
      def top(df: DataFrame): Seq[(String, Long)] =
        df.orderBy(col("value").desc, col("name")).limit(limit)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // chunk count AND time bounds from ONE scan + one map-side-combined
      // shuffle: per-(series, block) min/max roll up to the global bounds
      val chunkRow = data.groupBy(col("fingerprint"), col("block_start"))
        .agg(min(col("t")).as("mn"), max(col("t")).as("mx"))
        .agg(count(lit(1)), min(col("mn")), max(col("mx"))).head()
      // the three per-name statistics share ONE exchange: pair series
      // counts roll up from a (name, value)-keyed partial, and both
      // per-name lists reduce the SAME grouped frame (value count =
      // exact distinct since (name, value) is already unique there;
      // byte mass weighs each pair by its series count) — one
      // pairs-sized shuffle instead of three
      val byPair = pairs.groupBy(col("name"), col("value"))
        .agg(count(lit(1)).as("n_series"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val byName = byPair.groupBy(col("name")).agg(
          count(lit(1)).as("n_values"),
          sum((octet_length(col("name")) + octet_length(col("value")))
            * col("n_series")).cast("long").as("bytes"))
        val pairTotal = byPair.count()
        TsdbStats(
          numSeries = series.count(),
          numLabelPairs = pairTotal,
          chunkCount = chunkRow.getLong(0),
          minTime = chunkRow.getLong(1), maxTime = chunkRow.getLong(2),
          seriesCountByMetricName = top(
            byPair.where(col("name") === Labels.MetricName)
              .select(col("value").as("name"), col("n_series").as("value"))),
          labelValueCountByLabelName = top(
            byName.select(col("name"), col("n_values").as("value"))),
          memoryInBytesByLabelName = top(
            byName.select(col("name"), col("bytes").as("value"))),
          seriesCountByLabelValuePair = top(
            byPair.select(concat(col("name"), lit("="), col("value")).as("name"),
              col("n_series").as("value"))))
      } finally { byPair.unpersist(false); () }
    } finally { series.unpersist(false); () }
  }
}

/** Result of [[TsQuerier.tsdbStats]] — the `/api/v1/status/tsdb`
  * response body, engine-side. Each list is (name, value), value-desc
  * then name-asc (deterministic ties). */
final case class TsdbStats(numSeries: Long, numLabelPairs: Long,
                           chunkCount: Long, minTime: Long, maxTime: Long,
                           seriesCountByMetricName: Seq[(String, Long)],
                           labelValueCountByLabelName: Seq[(String, Long)],
                           memoryInBytesByLabelName: Seq[(String, Long)],
                           seriesCountByLabelValuePair: Seq[(String, Long)])

object TsStore {
  /** Open a store written by [[write]]. */
  def read(spark: SparkSession, path: String,
           promoted: Seq[String] = TsSchema.DefaultPromoted): TsQuerier =
    new TsQuerier(spark.read.parquet(path), promoted)

  /** Ingest a long-form DataFrame (labels map, t, v) as a partitioned
    * store — the shipper-equivalent batch write (SURVEY.md §3.2). Blocks
    * are disjoint by construction since block_start is derived from t. */
  def write(df: DataFrame, path: String,
            promoted: Seq[String] = TsSchema.DefaultPromoted): Unit =
    TsSchema.canonicalize(df, promoted)
      .write.partitionBy("block_start").mode("overwrite").parquet(path)

  /** SERIES-BUCKETED store variant: the same canonical schema, written
    * `bucketBy(n, fingerprint)` + `sortBy(fingerprint, t)` as a catalog
    * table (bucketing needs the catalog; plain parquet paths don't carry
    * bucket metadata). The scan then reports HashPartitioning on
    * `fingerprint`, which satisfies the clustering of every per-series
    * operation downstream — J1/J2 series assembly
    * (`groupBy(fingerprint, labels)`), range-function step aggregation,
    * replica dedup, and joins between stores sharing the bucket count —
    * so they all plan with ZERO shuffle exchanges. Time-partition
    * pruning composes (`partitionBy(block_start)` + `bucketBy` is a
    * partitioned bucketed table).
    *
    * This is the co-location half of the 100 TB layout: at 1000
    * executors the expensive exchange of every series-keyed stage
    * disappears in favor of a layout decided once at write time. Choose
    * `numBuckets` ≈ cluster cores × small factor; it is a property of
    * the TABLE, so all writers of one store must agree on it. */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int = 64,
                    promoted: Seq[String] = TsSchema.DefaultPromoted): Unit =
    TsSchema.canonicalize(df, promoted)
      // pre-shuffle on the bucket key: a bucketed write emits one file
      // per (task, partition, bucket), so without this every writer
      // task holds rows of every bucket and the table explodes into
      // tasks × partitions × buckets small files; repartitioning on the
      // same hash the bucketing uses collapses that to one file per
      // (partition, bucket)
      .repartition(numBuckets, org.apache.spark.sql.functions.col("fingerprint"))
      .write
      .partitionBy("block_start")
      .bucketBy(numBuckets, "fingerprint")
      .sortBy("fingerprint", "t")
      .mode("overwrite")
      .saveAsTable(table)

  /** Open a bucketed store written by [[writeBucketed]]. */
  def readBucketed(spark: SparkSession, table: String,
                   promoted: Seq[String] = TsSchema.DefaultPromoted): TsQuerier =
    new TsQuerier(spark.table(table), promoted)
}
