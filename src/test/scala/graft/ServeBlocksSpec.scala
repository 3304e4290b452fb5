package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.tsdb.{Label, Sample, TsdbBlock}

/** [[ServeMain.BlocksView]]: the full HTTP API served directly from a
  * native TSDB block dir (the reference's own on-disk format), with
  * the reference's re-lock-per-query visibility — a newly shipped
  * block appears on the NEXT request, served from a rebuilt cached
  * view. */
class ServeBlocksSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def series(metric: String, n: Int, t0: Long) = Seq(
    (Seq(Label("__name__", metric), Label("job", "api")),
      (0 until n).map(i => Sample(t0 + i * 15000L, i.toDouble))))

  test("blocks dir served over HTTP; new block visible on next request") {
    val root = Files.createTempDirectory("graft-serve-blocks")
    TsdbBlock.write(root.resolve("b1"), series("up", 20, 1700000000000L),
      TsdbBlock.syntheticUlid(1))
    val view = new ServeMain.BlocksView(spark, root.toString)
    val server = new graft.remote.RemoteReadServer(view.querier())
    val port = server.start()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def get(pq: String) = http.send(
        java.net.http.HttpRequest.newBuilder(
          new java.net.URI(s"http://127.0.0.1:$port$pq")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()

      val q = java.net.URLEncoder.encode("sum(up)", "UTF-8")
      val r1 = get(s"/api/v1/query?query=$q&time=1700000285")
      // 20 samples, values 0..19 at 15s; instant at the last sample
      assert(r1.contains(""""value":[1700000285,"19"]"""), r1)

      // ship a SECOND block (different metric, later window): the
      // ULID-set change rebuilds the view; the next request sees it
      TsdbBlock.write(root.resolve("b2"), series("down", 5, 1700007200000L),
        TsdbBlock.syntheticUlid(2))
      val q2 = java.net.URLEncoder.encode("sum(down)", "UTF-8")
      val r2 = get(s"/api/v1/query?query=$q2&time=1700007260")
      assert(r2.contains(""""value":[1700007260,"4"]"""), r2)
      // and the first block still serves
      assert(get(s"/api/v1/query?query=$q&time=1700000285")
        .contains(""""value":[1700000285,"19"]"""))

      assert(ServeMain.blockUlids(root.toString).size == 2)
    } finally server.stop()
  }

  test("a block dir on a session-only filesystem serves from a thread with no active session") {
    val root = Files.createTempDirectory("graft-serve-session-fs")
    TsdbBlock.write(root.resolve("b1"), series("up", 20, 1700000000000L),
      TsdbBlock.syntheticUlid(1))
    // the scheme exists only in the session's Hadoop conf, uncached, so
    // a fresh Configuration cannot resolve it
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.sessiononly.impl", classOf[SessionOnlyFs].getName)
    conf.setBoolean("fs.sessiononly.impl.disable.cache", true)
    try {
      val dir = "sessiononly://" + root.toString
      val view = new ServeMain.BlocksView(spark, dir)
      val q = graft.tsdb.LabelMatcher.eq("__name__", "up")
      val out = new java.util.concurrent.atomic.AtomicReference[Any]()
      val bare = new Thread(() => {
        org.apache.spark.sql.SparkSession.clearActiveSession()
        out.set(try view.querier().streamSelect(0L, Long.MaxValue, Seq(q)).toVector
          catch { case e: Throwable => e })
      })
      bare.start(); bare.join()
      assert(out.get == Vector(graft.tsdb.SampleStream(Map("__name__" -> "up", "job" -> "api"),
        (0 until 20).map(i => Sample(1700000000000L + i * 15000L, i.toDouble)))), out.get)
      // the Spark path over the same view agrees
      assert(view.querier().selectStreams(0L, Long.MaxValue, Seq(q)).collect().toVector == out.get)
    } finally {
      conf.unset("fs.sessiononly.impl")
      conf.unset("fs.sessiononly.impl.disable.cache")
    }
  }
}

/** The local filesystem under the scheme `sessiononly`. */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("sessiononly:///")
  override def getScheme: String = "sessiononly"
}
