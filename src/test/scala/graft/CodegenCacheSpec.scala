package graft

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The generated-code cache cap that [[GraftExtensions]] defaults: every
  * session that loads the extension reports it, a value the user set is
  * kept, and a second run of the perfbench `pipeline_batch` queries
  * compiles no generated class. `CodeGenerator` sizes its cache once per
  * JVM, at its first compile; every spec session comes from
  * [[GraftSession]], so no earlier suite fixes it at Spark's default. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val key = GraftExtensions.CodegenCacheKey
  private val cap = GraftExtensions.CodegenCacheEntries.toString

  /** perfbench's `pipeline_batch` set: one query per family. */
  private val pipelineBatch = Seq(
    "ts_dsv2_regex", "ts_prom_rate", "q_window", "dedup_exact",
    "knn_lsh", "mm_decode", "decontaminate_clean")

  test("a GraftSession-built session reports the extension's codegen cache cap") {
    assert(spark.conf.get(key) == cap)
  }

  test("a session with only the extension conf reports the cap; a user value is kept") {
    // a fresh JVM: a SparkContext's conf is fixed for the context's life
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val args = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens: Seq[String] = args.indices.flatMap { i =>
      if (args(i) == "--add-opens" && i + 1 < args.size) Seq(args(i), args(i + 1))
      else if (args(i).startsWith("--add-opens=")) Seq(args(i))
      else Nil
    }
    val cmd: Seq[String] = Seq(java, "-Xmx512m") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), CodegenCapProbe.getClass.getName.stripSuffix("$"))
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    assert(p.waitFor() == 0, out.mkString("\n"))
    val reported = out.collect { case l if l.startsWith("cap ") => l.drop(4) }
    assert(reported == Seq(cap, "123"), out.mkString("\n"))
  }

  test("a second pass of the pipeline_batch queries compiles no generated class") {
    val dir = "/root/testdata/sf0.001"
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      pipelineBatch.foreach(n =>
        SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = pass()
    val second = pass()
    info(s"compilations: first pass $first, second pass $second")
    assert(second == 0, s"the second pass compiled $second classes (first: $first)")
  }
}

/** Prints the cap a session reports, for a session with only the
  * extension conf and then for one that also sets the cap itself. */
object CodegenCapProbe {
  def main(args: Array[String]): Unit = {
    def report(extra: Map[String, String]): Unit = {
      val s = SparkSession.builder().master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config(extra).getOrCreate()
      try println(s"cap ${s.conf.get(GraftExtensions.CodegenCacheKey)}")
      finally s.stop()
    }
    report(Map.empty)
    report(Map(GraftExtensions.CodegenCacheKey -> "123"))
  }
}
