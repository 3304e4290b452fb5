package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One span: a timed call into one layer, on behalf of operation `op`. */
final case class Span(name: String, op: String, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; written out when the run ends. Disabled
  * tracers time nothing and keep nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def span[A](name: String, op: String, parent: String = "")(f: => A): A =
    if (!enabled) f
    else {
      val s = System.nanoTime()
      try f finally spans.add(Span(name, op, parent, s, System.nanoTime()))
    }
  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)
}

/** Spark work attributed to one operation through its job group. */
final class OpWork {
  var jobs = 0; var stages = 0; var tasks = 0
  var shuffleBytes = 0L; var spillBytes = 0L; var taskGcMs = 0L
  val taskRunMs = scala.collection.mutable.ArrayBuffer[Long]()
}

/** Listener that attributes jobs, stages and tasks to the job group
  * (`pb-…`) the benchmark set on the calling thread. */
final class WorkListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byOp = new ConcurrentHashMap[String, OpWork]()
  @volatile var lastEventNs: Long = System.nanoTime()

  private def work(g: String) = byOp.computeIfAbsent(g, _ => new OpWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventNs = System.nanoTime()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (g != null && g.startsWith("pb-")) {
      e.stageIds.foreach(s => stageGroup.put(s, g))
      val w = work(g); w.synchronized { w.jobs += 1 }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEventNs = System.nanoTime()
    val g = stageGroup.get(e.stageInfo.stageId)
    if (g != null) { val w = work(g); w.synchronized { w.stages += 1 } }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventNs = System.nanoTime()
    val g = stageGroup.get(e.stageId)
    if (g != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      val w = work(g)
      w.synchronized {
        w.tasks += 1
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.taskGcMs += m.jvmGCTime
        w.taskRunMs += m.executorRunTime
      }
    }
  }

  /** Wait until the listener bus has been quiet for a moment. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}

/** Scan counters read back from executed plans: the graft-tsdb scan's
  * custom metrics and the rows the in-memory (cached view) scan produced. */
final case class ScanCounts(rangeReads: Long, bytesFetched: Long,
                            chunkHits: Long, chunkMisses: Long,
                            indexHits: Long, indexMisses: Long,
                            cacheRowsScanned: Long) {
  def +(o: ScanCounts): ScanCounts = ScanCounts(rangeReads + o.rangeReads,
    bytesFetched + o.bytesFetched, chunkHits + o.chunkHits, chunkMisses + o.chunkMisses,
    indexHits + o.indexHits, indexMisses + o.indexMisses, cacheRowsScanned + o.cacheRowsScanned)
}
object ScanCounts {
  val Zero: ScanCounts = ScanCounts(0, 0, 0, 0, 0, 0, 0)

  /** Counters of `plan`, descending into adaptive stages. Cached plans
    * under an in-memory scan are visited only with `intoCache`: their
    * counters belong to the run that filled the cache. */
  def of(plan: SparkPlan, intoCache: Boolean): ScanCounts = {
    def m(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): ScanCounts = {
      val here = p match {
        case b: BatchScanExec =>
          ScanCounts(m(b, "rangeReads"), m(b, "bytesFetched"), m(b, "chunkCacheHits"),
            m(b, "chunkCacheMisses"), m(b, "indexCacheHits"), m(b, "indexCacheMisses"), 0)
        case i: InMemoryTableScanExec =>
          val rows = ScanCounts(0, 0, 0, 0, 0, 0, m(i, "numOutputRows"))
          if (intoCache) rows + walk(i.relation.cachedPlan) else rows
        case _ => Zero
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children ++ p.subqueries
      }
      kids.foldLeft(here)((acc, k) => acc + walk(k))
    }
    walk(plan)
  }
}

object Probe {
  /** Plans that fill the cache behind every in-memory scan in `plan`
    * (one object per cached relation). */
  def cachedPlans(plan: SparkPlan): Seq[SparkPlan] = {
    val here = plan match {
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case _ => Nil
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => plan.children ++ plan.subqueries
    }
    here ++ kids.flatMap(cachedPlans)
  }
}

/** Process-level readings: CPU, GC, JIT, codegen, RSS, machine load. */
object Jvm {
  import java.lang.management.ManagementFactory
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }
  /** Spark's whole-stage codegen compile time: count × mean of its
    * compile-time histogram (the histogram keeps no exact sum). */
  def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }
  private def statusKb(key: String): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  def rssPeakMb: Double = statusKb("VmHWM") / 1024.0
  /** Heap still in use after a full collection. */
  def heapLiveMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def loadavg: Seq[Double] =
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq
  /** Busy jiffies of the whole machine (all CPUs), from /proc/stat. */
  def machineBusyS: Double = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal
    val busy = f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
    busy / 100.0
  }
  final case class Snap(cpuS: Double, gcMs: Long, jitMs: Long, codegenMs: Double,
                        chunkEvictions: Long, machineBusyS: Double, nanos: Long)
  def snapshot(): Snap = Snap(cpuS, gcMs, jitMs, codegenMs,
    graft.tsdb.ChunkFile.RecordCache.evictions, machineBusyS, System.nanoTime())

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
}
