package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]] is the only SparkSession setup: the shared test
  * session carries its settings, and no main builds a session of its
  * own (the copies used to drift — a PromQL `hour()` answered in the
  * JVM's zone from the server but in UTC from Verify). */
class GraftSessionSpec extends AnyFunSuite {

  test("the shared test session reports UTC, the extensions and 4 partitions") {
    val conf = SparkSpec.spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    // the session zone reaches the PromQL calendar functions
    assert(SparkSpec.spark.sql("SELECT hour(timestamp_seconds(0))")
      .head().getInt(0) == 0)
  }

  test("SparkSession.builder appears in src/main only inside GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => p.getFileName.toString != "GraftSession.scala")
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toList
      finally walk.close()
    assert(offenders.isEmpty, s"build sessions through GraftSession: $offenders")
  }
}
