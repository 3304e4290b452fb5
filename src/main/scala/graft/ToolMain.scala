package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `promtool`-style operator CLI over the engine's own machinery —
  * the offline half of what [[ServeMain]] serves:
  *
  *  - `check-rules <file...>` — parse each rule file AND each rule's
  *    PromQL expression (a rule file whose expr only fails at eval
  *    time is the upstream lint's whole reason to exist)
  *  - `test-rules <file...>` — rule UNIT tests (`promtool test
  *    rules`): synthetic input series in the upstream expanding
  *    notation, expression and alert assertions evaluated by the
  *    engine's own evaluator ([[graft.promql.RuleTests]])
  *  - `check-config <file>` — validate an `agni.yml` remote-store
  *    config
  *  - `backfill <openmetricsFile> <storeDir>` — `promtool tsdb
  *    create-blocks-from openmetrics`: parse the exposition dump with
  *    the engine's codegen'd parser, canonicalize, write a partitioned
  *    store (distributed — the file splits across tasks; nothing
  *    row-sized crosses the driver)
  *  - `tsdb-analyze <storeDir> [topK]` — the cardinality report
  *    (`promtool tsdb analyze`): series/pair/chunk totals, time
  *    bounds, top-k metric names, label names by value count and by
  *    byte mass, label=value pairs by series count
  *  - `query <storeDir> <expr> <startSec> <endSec> <stepSec>` —
  *    `promtool query range` against a store dir, one line per
  *    (series, step)
  *  - `plan <query...>` — `explain("formatted")` of each named
  *    [[SparkEntry]] query over the corpus dir `SPARK_GRAFT_SF_DIR`
  *    (required), written to
  *    `<SPARK_GRAFT_PLAN_DIR>/<query><SPARK_GRAFT_PLAN_SUFFIX>.txt`
  *    (dir default `target/plans`, suffix default empty; e.g.
  *    `_before` / `_after` for diffing a change's plans)
  *
  * Each subcommand returns an exit code (`run`), so specs drive the
  * logic without forking a JVM; `main` owns `System.exit`. */
object ToolMain {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = run(spark, args, println(_))
    spark.stop()
    if (code != 0) System.exit(code)
  }

  /** Dispatch; returns the process exit code. `out` receives report
    * lines (injected so specs can capture them). */
  def run(spark: SparkSession, args: Array[String],
          out: String => Unit): Int = args.toSeq match {
    case "check-rules" +: files if files.nonEmpty =>
      files.map(f => checkRules(spark, f, out)).max
    case "test-rules" +: files if files.nonEmpty =>
      files.map(f => testRules(spark, f, out)).max
    case "promql-test" +: files if files.nonEmpty =>
      files.map(f => promqlTest(spark, f, out)).max
    case "check-config" +: Seq(f) =>
      try {
        graft.tsdb.GraftConfig.load(f, spark.sparkContext.hadoopConfiguration)
        out(s"SUCCESS: $f is valid"); 0
      } catch { case e: Exception => out(s"FAILED: ${e.getMessage}"); 1 }
    case "backfill" +: Seq(src, dst) => backfill(spark, src, dst, out)
    case "tsdb-analyze" +: (dir +: rest) if rest.size <= 1 =>
      analyze(spark, dir, rest.headOption.map(_.toInt).getOrElse(10), out)
    case "query" +: Seq(dir, expr, startS, endS, stepS) =>
      query(spark, dir, expr, startS.toLong, endS.toLong, stepS.toLong, out)
    case "plan" +: names if names.nonEmpty => plan(spark, names, out)
    case _ =>
      out("usage: check-rules <file...> | test-rules <file...> | " +
        "promql-test <file...> | check-config <file> | " +
        "backfill <openmetricsFile> <storeDir> | " +
        "tsdb-analyze <storeDir> [topK] | " +
        "query <storeDir> <expr> <startSec> <endSec> <stepSec> | " +
        "plan <query...>")
      2
  }

  /** Each query runs once before its plan is taken, so the plan is the
    * steady-state one over the session's cached fixture forms, exactly
    * as the bench sees it. */
  private def plan(spark: SparkSession, names: Seq[String],
                   out: String => Unit): Int = {
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "target/plans")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    new java.io.File(outDir).mkdirs()
    names.map { name =>
      try {
        val q = SparkEntry.queries(name)
        val df = q(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR is not set")))
        df.count()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"), txt)
        out(s"[plandump] $name$suffix ok (${txt.length} chars)"); 0
      } catch { case e: Exception =>
        out(s"[plandump] $name FAILED: ${e.getMessage}"); 1
      }
    }.max
  }

  private def checkRules(spark: SparkSession, file: String,
                         out: String => Unit): Int =
    try {
      val text = graft.tsdb.BlockIO.readString(
        file, spark.sparkContext.hadoopConfiguration)
      val groups = graft.promql.Rules.parse(text, file)
      // lint each expression through the real parser — a typo'd expr
      // must fail HERE, not at the first evaluation
      for (g <- groups; r <- g.rules) {
        try graft.promql.PromQL.parse(r.expr)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"$file: group ${g.name}, rule ${r.name}: bad expr: ${e.getMessage}")
        }
      }
      val n = groups.map(_.rules.size).sum
      out(s"SUCCESS: $file: ${groups.size} groups, $n rules")
      0
    } catch { case e: Exception => out(s"FAILED: ${e.getMessage}"); 1 }

  private def testRules(spark: SparkSession, file: String,
                        out: String => Unit): Int =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val tf = graft.promql.RuleTests.parse(
        graft.tsdb.BlockIO.readString(file, conf), file)
      // rule_files resolve relative to the TEST file (promtool's rule)
      val base = new org.apache.hadoop.fs.Path(file).getParent
      val failures = graft.promql.RuleTests.run(spark, tf, rf =>
        graft.promql.Rules.parse(graft.tsdb.BlockIO.readString(
          new org.apache.hadoop.fs.Path(base, rf).toString, conf), rf))
      if (failures.isEmpty) {
        out(s"SUCCESS: $file: ${tf.cases.size} test cases"); 0
      } else {
        failures.foreach(f => out(s"FAILED: $file: ${f.what}")); 1
      }
    } catch { case e: Exception => out(s"FAILED: ${e.getMessage}"); 1 }

  /** Run an upstream-notation PromQL test script
    * ([[graft.promql.PromqlTestFormat]]) — the `promql/testdata`-style
    * `load` / `eval instant|range` dialect — against this engine's
    * evaluator with upstream semantics. */
  private def promqlTest(spark: SparkSession, file: String,
                         out: String => Unit): Int =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val cmds = graft.promql.PromqlTestFormat.parse(
        graft.tsdb.BlockIO.readString(file, conf))
      val evals = cmds.count {
        case _: graft.promql.PromqlTestFormat.EvalInstant => true
        case _: graft.promql.PromqlTestFormat.EvalRange => true
        case _ => false
      }
      val failures = graft.promql.PromqlTestFormat.run(spark, cmds)
      if (failures.isEmpty) { out(s"SUCCESS: $file: $evals evals"); 0 }
      else { failures.foreach(f => out(s"FAILED: $file: $f")); 1 }
    } catch { case e: Exception => out(s"FAILED: ${e.getMessage}"); 1 }

  private def backfill(spark: SparkSession, src: String, dst: String,
                       out: String => Unit): Int =
    try {
      val lines = spark.read.text(src)
      val parsed = graft.tsdb.Exposition.parseOpenMetrics(
        lines, col("value"), lit(null).cast("long"))
      val canonical = graft.tsdb.TsSchema.canonicalize(
        parsed.where(col("t").isNotNull))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = canonical.count()
        require(n > 0, s"$src: no parseable timestamped samples")
        canonical.write.partitionBy("block_start")
          .mode(org.apache.spark.sql.SaveMode.Append).parquet(dst)
        val blocks = graft.tsdb.TsMaintenance.blocks(dst)
        out(s"SUCCESS: $n samples into ${blocks.size} blocks at $dst")
        0
      } finally { canonical.unpersist(false); () }
    } catch { case e: Exception => out(s"FAILED: ${e.getMessage}"); 1 }

  private def analyze(spark: SparkSession, dir: String, topK: Int,
                      out: String => Unit): Int =
    try {
      val s = graft.tsdb.TsStore.read(spark, dir).tsdbStats(topK)
      out(s"Series: ${s.numSeries}")
      out(s"Label pairs: ${s.numLabelPairs}")
      out(s"Chunks (series-blocks): ${s.chunkCount}")
      out(s"Time range: ${s.minTime} .. ${s.maxTime}")
      def section(title: String, xs: Seq[(String, Long)]): Unit = {
        out(title)
        xs.foreach { case (n, v) => out(f"  $v%10d $n") }
      }
      section("Series per metric name:", s.seriesCountByMetricName)
      section("Label names by value count:", s.labelValueCountByLabelName)
      section("Label names by byte mass:", s.memoryInBytesByLabelName)
      section("Series per label=value pair:", s.seriesCountByLabelValuePair)
      0
    } catch { case e: Exception => out(s"FAILED: ${e.getMessage}"); 1 }

  private def query(spark: SparkSession, dir: String, expr: String,
                    startS: Long, endS: Long, stepS: Long,
                    out: String => Unit): Int =
    try {
      val q = new graft.tsdb.TsQuerier(
        graft.tsdb.TsDeletions.readMasked(spark, dir))
      val rows = graft.promql.PromQL.rangeQuery(q, expr,
        startS * 1000L, endS * 1000L, stepS * 1000L)
        .orderBy(col("labels"), col("t"))
        .collect() // operator output is (series x steps)-sized by contract
      rows.foreach { r =>
        val labels = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("labels"))
          .map(l => s"""${l.getString(0)}="${l.getString(1)}"""")
          .mkString("{", ",", "}")
        val t = r.getLong(r.fieldIndex("t"))
        val ts = if (t % 1000 == 0) (t / 1000).toString
                 else java.math.BigDecimal.valueOf(t, 3).toPlainString
        out(s"$labels ${r.getDouble(r.fieldIndex("v"))} @ $ts")
      }
      0
    } catch { case e: Exception => out(s"FAILED: ${e.getMessage}"); 1 }
}
