package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** What one workload run needs: the session, its seed and length, the
  * tracer and listener of a traced run, and a scratch dir. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val trace: Boolean,
                val work: File, val sessionS: Double, val tracer: Tracer, val listener: WorkListener)

/** A workload's measurements: `metrics` are the end-to-end metrics (from
  * an untraced run), `layers` the per-layer ones (from a traced run). */
final case class Result(attempted: Long, failed: Long, metrics: Map[String, Double],
                        layers: Map[String, Double], detail: Map[String, Any], failures: Seq[String])

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --artifact FILE`. Prints one JSON result line last. */
object Main {
  val Workloads = Seq("serve", "pipeline_batch")

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.debug.maxToStringFields", "10000")
      .config("spark.file.transferTo", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val artifact = new File(opts("artifact")).getAbsoluteFile
    work.mkdirs()

    val load0 = Jvm.loadavg
    val j0 = Jvm.snapshot()
    val s0 = System.nanoTime()
    val spark = session(work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val listener = new WorkListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, seed, seconds, trace, work, sessionS, new Tracer(trace), listener)

    val r = workload match {
      case "pipeline_batch" => Batch.run(ctx)
      case _ => Serve.run(ctx)
    }
    val j1 = Jvm.snapshot()
    val load1 = Jvm.loadavg
    val wall = (j1.nanos - j0.nanos) / 1e9
    val cores = Jvm.cores
    // other processes' CPU over the run: machine busy time minus ours
    val otherCores = math.max(0.0, (j1.machineBusyS - j0.machineBusyS) - (j1.cpuS - j0.cpuS)) / wall
    val contended = otherCores > 0.5
    val units = Units.all
    val unknown = r.layers.keySet -- Units.layers
    require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
    // fresh_p50_ms is measured in every run but reported with the layers:
    // its run-to-run spread is too wide to bound
    val shown =
      if (trace) Units.layers.map(k => k -> r.layers.getOrElse(k, r.metrics.getOrElse(k, 0.0))).toMap
      else Units.endToEnd.map(k => k -> r.metrics(k)).toMap
    val metricsJson = shown.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> units.getOrElse(k, "1")) }.toMap
    val correct = r.failed == 0
    val env = Map[String, Any](
      "cores" -> cores, "loadavg_start" -> load0, "loadavg_end" -> load1,
      "process_cpu_s" -> (j1.cpuS - j0.cpuS), "wall_s" -> wall,
      "other_cpu_cores" -> otherCores, "contended" -> contended,
      "session_start_s" -> sessionS)
    val full = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "error_ratio" -> (if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted),
      "failures" -> r.failures, "metrics" -> r.metrics, "layers" -> r.layers,
      "detail" -> r.detail, "env" -> env,
      "spans" -> (if (trace) ctx.tracer.all.map(s => Map("name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)) else Nil))
    artifact.getParentFile.mkdirs()
    Files.write(artifact.toPath, Json(full).getBytes(UTF_8))
    spark.stop()
    System.err.println(s"[perfbench] $workload seed=$seed trace=$trace attempted=${r.attempted} failed=${r.failed} " +
      r.failures.take(5).mkString(" | "))
    println(Json(Map("correct" -> correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> metricsJson)))
    System.out.flush()
  }
}

/** Units of every reported metric; anything unlisted is a ratio ("1"). */
object Units {
  val all: Map[String, String] = Map(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "ops_per_s" -> "1/s", "cpu_ms_per_op" -> "ms",
    "fresh_p50_ms" -> "ms", "disk_bytes_per_sample" -> "B", "heap_live_mb" -> "MiB",
    "remote.decode_ms" -> "ms", "remote.encode_ms" -> "ms",
    "remote.resp_bytes_samples" -> "B", "remote.resp_bytes_xor" -> "B",
    "client.decode_ms" -> "ms", "http.transport_ms" -> "ms", "trace.overhead_ms" -> "ms",
    "view.querier_ms" -> "ms", "view.rebuild_ms" -> "ms", "view.cache_mb" -> "MiB",
    "op.construct_ms" -> "ms", "op.plan_ms" -> "ms", "op.exec_ms" -> "ms",
    "ds.range_reads_per_rebuild" -> "count", "ds.bytes_fetched_per_rebuild" -> "B",
    "ds.chunk_cache_evictions" -> "count",
    "ds.xor_decode_ns_per_sample" -> "ns", "ship.xor_encode_ns_per_sample" -> "ns",
    "ship.block_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.shuffle_bytes_per_op" -> "B", "spark.spill_bytes_per_op" -> "B",
    "spark.task_gc_ms_per_op" -> "ms", "spark.codegen_compile_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.cpu_s" -> "s", "jvm.jit_compile_s" -> "s")

  /** Every end-to-end metric an untraced run reports. */
  val endToEnd: Seq[String] = Seq(
    "setup_s", "op_p50_ms", "ops_per_s", "cpu_ms_per_op", "disk_bytes_per_sample", "heap_live_mb")

  /** Every per-layer metric a traced run reports. A layer that does no
    * work on a workload reads 0 there (e.g. `remote.*` on pipeline_batch). */
  val layers: Seq[String] = Seq(
    "remote.decode_ms", "remote.encode_ms", "remote.resp_bytes_samples", "remote.resp_bytes_xor",
    "client.decode_ms", "http.transport_ms", "trace.overhead_ms", "fresh_p50_ms",
    "view.querier_ms", "view.rebuild_ms", "view.cache_mb",
    "op.construct_ms", "op.plan_ms", "op.exec_ms", "tsdb.rows_examined_per_sample",
    "ds.index_cache_hit_ratio", "ds.chunk_cache_hit_ratio", "ds.range_reads_per_rebuild",
    "ds.bytes_fetched_per_rebuild", "ds.chunk_cache_evictions",
    "ds.xor_decode_ns_per_sample", "ship.xor_encode_ns_per_sample", "ship.block_ms",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op", "spark.shuffle_bytes_per_op",
    "spark.spill_bytes_per_op", "spark.task_gc_ms_per_op", "spark.task_skew", "spark.codegen_compile_ms",
    "jvm.gc_ms", "jvm.cpu_s", "jvm.jit_compile_s")
}
