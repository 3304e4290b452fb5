package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.queries.TsQueries
import graft.remote.{RemoteReadServer, RemoteWrite}
import graft.tsdb.{BlockIO, Labels, TsQuerier, TsStore}
import graft.tsdb.datasource.BlockSelect
import org.apache.hadoop.conf.Configuration

/** Remote-read/-write server entry point (the reference's `server`
  * subcommand, `main.go:47-81`, plus beyond-reference `/write` and the
  * Prometheus HTTP query API `/api/v1/query_range`, answered by the
  * in-engine PromQL front-end).
  *
  * Usage: `runMain graft.ServeMain [storeDirOrSfDir] [port]
  * [--config=agni.yml] [--rules=rules.yml] [--alertmanager=url]`
  *  - a dir containing `events.parquet` → served read-only via the
  *    events mapping;
  *  - a dir of native TSDB BLOCKS (`<ulid>/meta.json` children — the
  *    reference's own on-disk format) → served read-only through
  *    [[BlocksView]]: `/read` straight from the block indexes and
  *    chunks on the driver (no Spark job), PromQL and the `/api/v1`
  *    endpoints through the graft-tsdb DSv2 source over a cached
  *    canonical view; both are rebuilt when the ULID set changes, so a
  *    newly-shipped block is visible on the next request (the reference
  *    re-locks its block list per query, `querier.go:25-46`);
  *  - otherwise treated as a canonical store written by TsStore.write /
  *    TsdbBlock.ingest — served for reads AND accepting remote-write
  *    appends (each read resolves a fresh store view).
  * The config flag applies the reference's remote-store YAML
  * ([[graft.tsdb.GraftConfig]]) as s3a settings, so the store dir may
  * be `s3a://bucket/...`.
  */
object ServeMain {

  /** Non-hidden children of `dir` that look like TSDB blocks
    * (`<name>/meta.json` present), from one listing of `dir`. Names in
    * `known` are blocks already seen: a block's `meta.json` is written
    * last and never removed while the block dir exists, so only the
    * other names are checked for one. `_`-prefixed names (the shipper's
    * `_shipped` markers) are never blocks, since a ULID never starts
    * with `_`, and are not checked. */
  def blockUlids(dir: String, conf: Configuration = null,
                 known: Set[String] = Set.empty): Seq[String] =
    BlockIO.listNames(dir, conf).filterNot(_.startsWith("_"))
      .filter(n => known(n) || BlockIO.exists(BlockIO.child(BlockIO.child(dir, n), "meta.json"), conf))

  /** The store view over a native block dir, rebuilt when the ULID set
    * changes; each request lists the dir once to see whether it did.
    * Each rebuild reads the blocks' metas and tombstones and resolves
    * their file paths once, into a driver-local [[BlockSelect]], which
    * answers remote-read
    * (`TsQuerier.streamSelect`) from the index and chunks with no Spark
    * job, and re-plans the DSv2 relation into a canonical view cached
    * lazily for PromQL and the `/api/v1` endpoints (filled by the first
    * query that scans it; the stale one is unpersisted). All block IO
    * goes through the session's Hadoop conf, captured here, so it keeps
    * the `--config` settings on threads with no active session (the
    * HTTP pool). */
  final class BlocksView(spark: SparkSession, dir: String) {
    private val conf = spark.sparkContext.hadoopConfiguration
    private var key: Seq[String] = null
    private var view: org.apache.spark.sql.DataFrame = null
    private var local: BlockSelect = null
    def querier(): TsQuerier = synchronized {
      val ulids = blockUlids(dir, conf, if (key == null) Set.empty else key.toSet)
      if (ulids != key) {
        if (view != null) view.unpersist(false)
        // the DSv2 source infers the schema through the active session
        SparkSession.setActiveSession(spark)
        view = graft.tsdb.TsSchema.canonicalize(
          spark.read.format("graft-tsdb").load(dir)
            .select(col("labels"), col("t"), col("v"))).cache()
        local = BlockSelect.open(ulids.map(BlockIO.child(dir, _)), conf)
        key = ulids
      }
      new TsQuerier(view, localSelect = Some(local.select))
    }
  }

  def main(rawArgs: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (_, args0) = graft.tsdb.GraftConfig.fromArgs(
      rawArgs, spark.sparkContext.hadoopConfiguration)
    // --rules=<path>: serve /api/v1/rules and /api/v1/alerts from a
    // Prometheus rule file (re-read per request, so edits apply live —
    // the batch analog of the upstream SIGHUP reload)
    val (ruleFlags, args1) = args0.partition(_.startsWith("--rules="))
    val rulesPath = ruleFlags.lastOption.map(_.substring("--rules=".length))
    // --alertmanager=<url> (with --rules): rule-manager tick loop —
    // evaluate the rule file each minute against the current store
    // view, POST firing alerts to the Alertmanager v2 API
    val (amFlags, args) = args1.partition(_.startsWith("--alertmanager="))
    val alertmanager = amFlags.lastOption.map(_.substring("--alertmanager=".length))
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val port = if (args.length > 1) args(1).toInt else 19090
    val isEventsDir = graft.tsdb.BlockIO.exists(
      graft.tsdb.BlockIO.child(dir, "events.parquet"))
    val isBlocksDir = !isEventsDir &&
      blockUlids(dir, spark.sparkContext.hadoopConfiguration).nonEmpty
    val blocksView = if (isBlocksDir) new BlocksView(spark, dir) else null
    def querier: TsQuerier =
      if (isEventsDir)
        new TsQuerier(TsQueries.store(spark, dir), promoted = Seq(Labels.MetricName))
      else if (isBlocksDir) blocksView.querier()
      // deletion-masked: admin delete_series is visible to the next
      // query immediately (mask re-read per request), physical after
      // clean_tombstones
      else new TsQuerier(graft.tsdb.TsDeletions.readMasked(spark, dir))
    // /api/v1/status/config serves the raw --config file, re-read per
    // request (live, same convention as --rules)
    val configPath = rawArgs.filter(_.startsWith("--config="))
      .lastOption.map(_.substring("--config=".length))
    val server = new RemoteReadServer(querier, port,
      // blocks are immutable (reference semantics): no remote write, no
      // parquet-partition admin ops against a native block dir
      writeSink = if (isEventsDir || isBlocksDir) None
        else Some(RemoteWrite.appendToStore(spark, dir)),
      rulesSource = rulesPath.map { p => () =>
        graft.promql.Rules.parse(graft.tsdb.BlockIO.readString(
          p, spark.sparkContext.hadoopConfiguration), p) },
      rulesFile = rulesPath.getOrElse("rules.yml"),
      configSource = configPath.map { p => () =>
        graft.tsdb.BlockIO.readString(p, spark.sparkContext.hadoopConfiguration) },
      adminStore = if (isEventsDir || isBlocksDir) None
        else Some((spark, dir)))
    alertmanager.foreach { url =>
      val groups = () => rulesPath.map(p => graft.promql.Rules.parse(
        graft.tsdb.BlockIO.readString(
          p, spark.sparkContext.hadoopConfiguration), p)).getOrElse(Seq.empty)
      new graft.promql.Notifier.Loop(querier, groups, url, 60000L)
      ()
    }
    println("LISTENING on " + server.start())
    Thread.sleep(Long.MaxValue)
  }
}
