package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession setup every entry point shares. Callers add only
  * what they alone need (an app name, a warehouse dir) and call
  * `getOrCreate()`; each sets its own log level after that. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // PromQL calendar functions (hour, day_of_week, ...) read epoch
      // seconds in the session zone; UTC is what Prometheus answers in
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // plans here legitimately exceed 25 fields (wide pipeline schemas);
      // raising the cap keeps the "Truncated the string representation"
      // WARN out of stdout tails that tools parse
      .config("spark.sql.debug.maxToStringFields", "10000")
      // Shuffle I/O for a VM filesystem (OPTIMIZATION_r12.md): the
      // bypass-merge writer's FileChannel.transferTo mmaps every
      // per-reduce piece, and the munmap TLB shootdowns burn system CPU
      // across all cores on such a hypervisor (thread-dump histogram
      // evidence); the sort writer emits ONE file per map task. Pure
      // I/O-path choices — results unaffected; measured 2-10× on the
      // stormy queries. Healthy production kernels should override back
      // to Spark's defaults (transferTo zero-copy, bypass threshold 200).
      .config("spark.file.transferTo",
        sys.env.getOrElse("SPARK_GRAFT_TRANSFERTO", "false"))
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_MERGE", "1"))
}
