package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one JVM-wide session, tests run
  * sequentially within the forked test JVM). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(cores = 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
