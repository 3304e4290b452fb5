package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ServeMain.BlocksView
import graft.remote.{Proto, RemoteReadServer}
import graft.tsdb.{BlockShipper, TsStore, TsdbBlock}

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath)
    .getOrCreate()
  private lazy val tmp = Files.createTempDirectory("perfbench-spec").toFile

  override def afterAll(): Unit = spark.stop()

  private def serveTiny(gen: Gen, name: String): Serve.Served = {
    val blocks = new File(tmp, name)
    for (w <- 0 until gen.windows) {
      val ulid = TsdbBlock.syntheticUlid(gen.t0 + w * Gen.BlockMs)
      TsdbBlock.write(new File(blocks, ulid).getPath, gen.window(w), ulid)
    }
    val view = new BlocksView(spark, blocks.getPath)
    val server = new RemoteReadServer(view.querier(), 0)
    new Serve.Served(gen, blocks, null, view, server, new ReadClient(server.start()))
  }

  test("the oracle agrees with the server on a tiny store, for every selector, range and response type") {
    val gen = Gen(seed = 3, instances = 2, windows = 3)
    val s = serveTiny(gen, "agree")
    try {
      val n = Gen.Selectors.size * Gen.Kinds.size
      val kinds = (0 until 2 * n).map { k =>
        val (kind, q) = Gen.query(5, k, gen.windows, newest = false)
        val want = gen.oracle(q, gen.windows)
        assert(Serve.viaHttp(s, Serve.Op(s"t$k", kind, q, k % 2 == 1, gen.windows, want)) .isRight, kind)
        kind
      }
      assert(kinds.toSet.size == n)
    } finally s.server.stop()
  }

  test("the oracle anchors regexes and reads an absent label as empty") {
    val gen = Gen(seed = 3, instances = 2, windows = 1)
    def names(sel: String) = {
      val q = Proto.Query(gen.t0, gen.tEnd, Gen.Selectors.find(_._1 == sel).get._2)
      gen.oracle(q, 1).map(_.labels)
    }
    assert(names("re_anchored").nonEmpty && names("re_anchored").forall(_("job") == "api"))
    assert(names("absent_eq").size == 10)
    assert(names("absent_neq").nonEmpty && names("absent_neq").forall(_.contains("mode")))
  }

  test("a failed request raises the failure count and adds no latency sample") {
    val gen = Gen(seed = 4, instances = 1, windows = 2)
    val s = serveTiny(gen, "fail")
    val o = new Outcomes
    try {
      val (kind, q) = Gen.query(1, 0, gen.windows, newest = false)
      val right = gen.oracle(q, gen.windows)
      o.record(Serve.viaHttp(s, Serve.Op("ok", kind, q, streamed = false, gen.windows, right)), 5.0, timed = true)
      // a wrong result: the oracle of another seed
      val wrong = Gen(seed = 5, instances = 1, windows = 2).oracle(Proto.Query(gen.t0, gen.tEnd, Gen.Selectors(0)._2), 2)
      o.record(Serve.viaHttp(s, Serve.Op("bad", kind, Proto.Query(gen.t0, gen.tEnd, Gen.Selectors(0)._2),
        streamed = true, gen.windows, wrong)), 7.0, timed = true)
    } finally s.server.stop()
    // a non-200 or refused connection: the server is gone
    val (kind, q) = Gen.query(1, 1, gen.windows, newest = false)
    o.record(Serve.viaHttp(s, Serve.Op("gone", kind, q, streamed = false, gen.windows, Nil)), 9.0, timed = true)
    // a query that throws
    assert(Batch.timed(spark, new Tracer(false), "pb-q-x", "boom",
      () => spark.sql("select * from no_such_table"), o).isEmpty)
    assert(o.attempted.get == 4 && o.failed.get == 3)
    assert(o.latencies == Vector(5.0))
  }

  test("the same seed ships byte-identical blocks") {
    def ship(name: String): File = {
      val gen = Gen(seed = 9, instances = 1, windows = 3)
      val store = new File(tmp, s"$name-store"); val blocks = new File(tmp, s"$name-blocks")
      TsStore.write(Serve.frame(spark, gen), store.getPath)
      BlockShipper.shipClosed(spark, store.getPath, blocks.getPath, gen.tEnd)
      blocks
    }
    def files(d: File): Seq[(String, Seq[Byte])] = {
      val base = d.toPath
      Files.walk(base).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]).filter(Files.isRegularFile(_))
        .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).sortBy(_._1)
    }
    val a = ship("a"); val b = ship("b")
    assert(files(a).map(_._1) == files(b).map(_._1))
    assert(files(a) == files(b))
    assert(Serve.diskUsage(a) == Serve.diskUsage(b))
    assert(Serve.diskUsage(a)._2 == Gen(9, 1, 3).sampleCount)
  }
}
