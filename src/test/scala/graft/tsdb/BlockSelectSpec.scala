package graft.tsdb

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import org.xerial.snappy.Snappy

import graft.{ServeMain, SparkSpec}
import graft.remote.{Proto, RemoteReadServer}

/** The driver-local block select (`datasource.BlockSelect`, behind
  * `ServeMain.BlocksView`) against `TsQuerier.selectStreams` over the
  * same blocks: identical series, order and sample bits for every
  * matcher shape and range, identical `/read` bytes, and no Spark job. */
class BlockSelectSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import LabelMatcher.{neq, notRe, prefix, re}
  private def eq(name: String, value: String) = LabelMatcher.eq(name, value)

  private val W = 2 * 60 * 60 * 1000L
  private val T0 = 1700000000000L
  private val Min = 60000L
  private val StaleNaN = java.lang.Double.longBitsToDouble(0x7ff0000000000002L)

  private def ls(kv: (String, String)*): Seq[Label] = kv.map { case (n, v) => Label(n, v) }
  private def every(from: Long, until: Long, step: Long)(v: Int => Double): Seq[Sample] =
    (from until until by step).zipWithIndex.map { case (t, i) => Sample(t, v(i)) }

  /** FIXTURES.md §1 series over [from, from + W), one sample a minute. */
  private def profile(from: Long, phase: Int): Seq[(Seq[Label], Seq[Sample])] = {
    val s = every(from, from + W, Min) _
    (for (job <- Seq("api", "api-canary", "web"); i <- 0 to 2; code <- Seq("200", "400", "500"))
      yield ls("__name__" -> "http_requests_total", "job" -> job, "instance" -> s"i-$i", "code" -> code) ->
        s(k => (k + phase + i).toDouble)) ++
    (for (i <- 0 to 4; mode <- Seq("user", "system", "idle"))
      yield ls("__name__" -> "node_cpu_seconds_total", "instance" -> s"i-$i", "mode" -> mode) ->
        s(k => k * 0.5 + i)) ++
    (for (site <- Seq("a", "b"); sensor <- 0 to 2)
      yield ls("__name__" -> "temperature_celsius", "site" -> site, "sensor" -> s"s-$sensor") ->
        s(k => math.sin(k + sensor) * 10 - 3)) ++
    (0 until 30).map(r => ls("__name__" -> "sparse_job_runs", "job" -> "batch", "run" -> s"r-$r") ->
      Seq(Sample(from + r * Min, 1.0)))
  }

  /** Label values and names whose UTF-8 and UTF-16 orders differ
    * (U+FF5E sorts above a surrogate pair in UTF-16, below it in
    * UTF-8), the special doubles, and `"a\n"` for a `$`-sensitive
    * regex. */
  private def oddities(from: Long): Seq[(Seq[Label], Seq[Sample])] = Seq(
    ls("__name__" -> "uni", "sym" -> "～") -> Seq(Sample(from, 1)),
    ls("__name__" -> "uni", "sym" -> "😀") -> Seq(Sample(from, 2)),
    ls("__name__" -> "uni", "sym" -> "z") -> Seq(Sample(from, 3)),
    ls("__name__" -> "uni", "～" -> "n", "😀" -> "m") -> Seq(Sample(from, 4)),
    ls("__name__" -> "special") -> Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, StaleNaN, Double.MinPositiveValue).zipWithIndex.map { case (v, i) => Sample(from + i * Min, v) },
    ls("__name__" -> "nl", "x" -> "a\n") -> Seq(Sample(from, 5)),
    ls("__name__" -> "nl", "x" -> "a") -> Seq(Sample(from, 6)),
    ls("__name__" -> "nl", "x" -> "ab") -> Seq(Sample(from, 7)),
    // one chunk [from, from + 100m] with no sample in between
    ls("__name__" -> "gappy") -> Seq(Sample(from, 8), Sample(from + 100 * Min, 9)),
    // four 120-sample chunks, for the tombstones
    ls("__name__" -> "dense") -> every(from, from + W, 15000L)(_.toDouble))

  private lazy val root: Path = {
    val root = Files.createTempDirectory("graft-block-select")
    def block(seed: Long, series: Seq[(Seq[Label], Seq[Sample])]): Path = {
      val dir = root.resolve(TsdbBlock.syntheticUlid(seed))
      TsdbBlock.write(dir, series, TsdbBlock.syntheticUlid(seed))
      dir
    }
    val a = block(1, profile(T0, 0) ++ oddities(T0))
    block(2, profile(T0 + W, 1))
    // overlaps the second block's second hour: shared series, shared
    // timestamps, one with a different value and one with the same
    block(3, Seq(
      ls("__name__" -> "http_requests_total", "job" -> "api", "instance" -> "i-0", "code" -> "200") ->
        every(T0 + W + W / 2, T0 + 2 * W + W / 2, Min)(k => -k.toDouble),
      ls("__name__" -> "node_cpu_seconds_total", "instance" -> "i-0", "mode" -> "user") ->
        every(T0 + W + W / 2, T0 + 2 * W + W / 2, Min)(k => (k + 60) * 0.5),
      ls("__name__" -> "late", "job" -> "api") -> every(T0 + W + W / 2, T0 + 2 * W, Min)(_.toDouble)))
    // tombstones on `dense`: its second chunk whole, part of its fourth
    val idx = new TsdbIndex.IndexReader(Files.readAllBytes(a.resolve("index")))
    val ref = idx.postings("__name__", "dense").head
    val chunks = idx.series(ref).chunks
    assert(chunks.size == 4)
    Tombstones.write(a, Map(ref -> Seq((chunks(1).minTime, chunks(1).maxTime),
      (chunks(3).minTime + 10 * 15000L, chunks(3).minTime + 30 * 15000L))))
    root
  }

  private lazy val view = new ServeMain.BlocksView(spark, root.toString)

  private val matcherSets: Seq[(String, Seq[LabelMatcher])] = Seq(
    "eq" -> Seq(eq("__name__", "http_requests_total"), eq("job", "api")),
    "re_anchored" -> Seq(eq("__name__", "http_requests_total"), re("job", "api")),
    "re_prefix" -> Seq(re("job", "api.*"), eq("code", "500")),
    "neq" -> Seq(eq("__name__", "http_requests_total"), neq("job", "web"), eq("code", "400")),
    "neq_re" -> Seq(eq("__name__", "node_cpu_seconds_total"), notRe("instance", "i-[0-2]")),
    "absent_eq" -> Seq(eq("__name__", "temperature_celsius"), eq("mode", "")),
    "absent_neq" -> Seq(neq("mode", "")),
    "sparse_re" -> Seq(eq("__name__", "sparse_job_runs"), re("run", "r-1[0-9]*")),
    "re_accepts_empty" -> Seq(re("job", "(api)?"), notRe("__name__", "http.*|node.*")),
    "prefix" -> Seq(prefix("job", "api")),
    "unicode" -> Seq(eq("__name__", "uni")),
    "special" -> Seq(eq("__name__", "special")),
    "dollar" -> Seq(re("x", "a")),
    "not_dollar" -> Seq(eq("__name__", "nl"), notRe("x", "a")),
    "all" -> Seq.empty,
    "none" -> Seq(eq("__name__", "nope")))

  private val ranges: Seq[(String, Long, Long)] = Seq(
    ("all", T0 - W, T0 + 4 * W),
    ("inside", T0 + 10 * Min, T0 + 50 * Min),
    ("straddle", T0 + 110 * Min, T0 + 130 * Min),
    ("overlapping_blocks", T0 + W + 80 * Min, T0 + W + 100 * Min),
    ("shared_timestamp", T0 + W + W / 2, T0 + W + W / 2),
    ("chunk_without_samples", T0 + 10 * Min + 1, T0 + 20 * Min),
    ("empty", T0 - 5 * W, T0 - 4 * W),
    ("inverted", T0 + W, T0),
    ("before_long_min", Long.MinValue, T0 + 5 * Min))

  /** Every sample as its raw bits: -0.0, NaN payloads all distinct. */
  private def bits(ss: Iterable[SampleStream]) = ss.toVector.map(s =>
    (s.labels, s.samples.map(x => (x.t, java.lang.Double.doubleToRawLongBits(x.v))).toVector))

  test("driver-local select equals selectStreams for every matcher shape and range") {
    val q = view.querier()
    assert(q.hasLocalSelect)
    var nonEmpty = 0
    for ((mname, ms) <- matcherSets; (rname, mint, maxt) <- ranges) {
      val local = bits(q.streamSelect(mint, maxt, ms).toSeq)
      val viaSpark = bits(q.selectStreams(mint, maxt, ms).collect())
      assert(local == viaSpark, s"$mname over $rname")
      if (local.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 60, "too few non-empty answers to compare")
  }

  test("the fixture exercises what the equality rests on") {
    val q = view.querier()
    def sel(mint: Long, maxt: Long, ms: LabelMatcher*) = q.streamSelect(mint, maxt, ms).toVector
    // overlapping blocks: both samples at the shared timestamp are kept,
    // ordered by value; equal ones twice
    val shared = T0 + W + W / 2
    val api = sel(shared, shared, eq("job", "api"), eq("instance", "i-0"), eq("code", "200"))
    assert(api.map(_.samples) == Seq(Seq(Sample(shared, -0.0), Sample(shared, 61.0))))
    val cpu = sel(shared, shared, eq("instance", "i-0"), eq("mode", "user"))
    assert(cpu.map(_.samples) == Seq(Seq(Sample(shared, 30.0), Sample(shared, 30.0))))
    // UTF-8 order: "～" (EF BD 9E) before the surrogate pair (F0 ...)
    val uni = sel(T0, T0, eq("__name__", "uni")).map(_.labels)
    assert(uni.flatMap(_.get("sym")) == Seq("z", "～", "😀"))
    assert(uni.last.keySet == Set("__name__", "～", "😀"))
    // "$" also matches before a final newline, as rlike's find() does
    assert(sel(T0, T0, re("x", "a")).map(_.labels("x")) == Seq("a", "a\n"))
    // a chunk overlapping the range with no sample inside drops the series
    assert(sel(T0 + 10 * Min + 1, T0 + 20 * Min, eq("__name__", "gappy")).isEmpty)
    assert(sel(T0, T0 + 20 * Min, eq("__name__", "gappy")).map(_.samples.size) == Seq(1))
    // tombstones: a whole chunk and 21 samples of another are gone
    assert(sel(T0, T0 + W, eq("__name__", "dense")).map(_.samples.size) == Seq(480 - 120 - 21))
    // the special values come back bit for bit (the block writer stores
    // every NaN as the canonical one)
    val special = sel(T0, T0 + W, eq("__name__", "special")).head.samples.map(_.v)
    assert(special.map(java.lang.Double.doubleToRawLongBits) == Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, StaleNaN, Double.MinPositiveValue)
      .map(java.lang.Double.doubleToLongBits))
  }

  test("an invalid regex throws from the call, before any read") {
    val q = view.querier()
    assertThrows[java.util.regex.PatternSyntaxException](q.streamSelect(T0, T0 + W, Seq(re("job", "("))))
  }

  private def post(port: Int, body: Array[Byte]): HttpResponse[Array[Byte]] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/read"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(Snappy.compress(body))).build(),
      HttpResponse.BodyHandlers.ofByteArray())

  test("/read bodies are byte-identical to the Spark path for both response types") {
    // the Spark path over the same blocks: the view BlocksView caches,
    // with no driver-local select
    val sparkOnly = new TsQuerier(TsSchema.canonicalize(spark.read.format("graft-tsdb")
      .load(root.toString).select("labels", "t", "v")))
    val native = new RemoteReadServer(view.querier())
    val fallback = new RemoteReadServer(sparkOnly)
    val (pn, pf) = (native.start(), fallback.start())
    try {
      val wire = matcherSets.filterNot(_._2.exists(_.tpe == MatchType.Prefix)) // no wire form
      for ((mname, ms) <- wire; (rname, mint, maxt) <- ranges.take(4);
           types <- Seq(Seq(Proto.RespSamples), Seq(Proto.RespStreamedXorChunks))) {
        // two queries per request: query indexes and concatenation too
        val req = Proto.encodeReadRequest(
          Seq(Proto.Query(mint, maxt, ms), Proto.Query(T0 - W, T0 + 4 * W, ms)), types)
        val (a, b) = (post(pn, req), post(pf, req))
        assert(a.statusCode() == 200 && b.statusCode() == 200, s"$mname over $rname")
        assert(java.util.Arrays.equals(a.body(), b.body()), s"$mname over $rname, types $types")
      }
      val metrics = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$pn/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      val selects = wire.size * 4 * 2 * 2
      assert(metrics.contains(s"""graft_remote_read_selects_total{path="native"} $selects"""), metrics)
      assert(!metrics.contains("""{path="spark"}"""), metrics)
      assert(metrics.contains("graft_chunk_cache_hits_total "), metrics)
      // every native select looks up at least one block index
      def value(family: String) = metrics.split("\n").collectFirst {
        case l if l.startsWith(family + " ") => l.substring(family.length + 1).toDouble
      }.getOrElse(fail(s"no $family in $metrics"))
      assert(value("graft_index_cache_hits_total") + value("graft_index_cache_misses_total") >= selects)
      assert(value("graft_index_cache_entries") >= 1 && value("graft_index_cache_entries") <= 8)
    } finally { native.stop(); fallback.stop() }
  }

  test("a native /read starts no Spark job") {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull + "")
    }
    val q = view.querier() // the view is built before counting starts
    val server = new RemoteReadServer(q)
    val port = server.start()
    spark.sparkContext.addSparkListener(listener)
    try {
      for (types <- Seq(Seq(Proto.RespSamples), Seq(Proto.RespStreamedXorChunks))) {
        val resp = post(port, Proto.encodeReadRequest(
          Seq(Proto.Query(T0 - W, T0 + 4 * W, Seq(re("job", "api.*")))), types))
        assert(resp.statusCode() == 200 && resp.body().length > 1000)
      }
      // listener events arrive in order: once a marker job shows up,
      // any job the reads started has shown up before it
      spark.sparkContext.setJobGroup("block-select-marker", "marker")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.contains("block-select-marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(jobs.contains("block-select-marker"))
      assert(jobs.asScala.toSeq.takeWhile(_ != "block-select-marker").isEmpty, jobs)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      server.stop()
    }
  }

  test("a new block shows on the next querier; an older querier keeps its blocks") {
    val dir = Files.createTempDirectory("graft-block-select-grow")
    TsdbBlock.write(dir.resolve("b1"), profile(T0, 0), TsdbBlock.syntheticUlid(11))
    val grow = new ServeMain.BlocksView(spark, dir.toString)
    val ms = Seq(eq("__name__", "node_cpu_seconds_total"), eq("instance", "i-1"), eq("mode", "idle"))
    val q1 = grow.querier()
    assert(q1.streamSelect(T0, T0 + 2 * W, ms).map(_.samples.size).toSeq == Seq(120))
    TsdbBlock.write(dir.resolve("b2"), profile(T0 + W, 0), TsdbBlock.syntheticUlid(12))
    val q2 = grow.querier()
    assert(q2.streamSelect(T0, T0 + 2 * W, ms).map(_.samples.size).toSeq == Seq(240))
    assert(bits(q2.streamSelect(T0, T0 + 2 * W, ms).toSeq) ==
      bits(q2.selectStreams(T0, T0 + 2 * W, ms).collect()))
    // the querier taken before the ship keeps its own block set
    assert(q1.streamSelect(T0, T0 + 2 * W, ms).map(_.samples.size).toSeq == Seq(120))
  }

  test("a block dir shows once its meta.json lands; a removed block is gone on the next querier") {
    val dir = Files.createTempDirectory("graft-block-select-land")
    TsdbBlock.write(dir.resolve("b1"), profile(T0, 0), TsdbBlock.syntheticUlid(21))
    // b2 mid-upload: everything but its meta.json, which lands last
    TsdbBlock.write(dir.resolve("b2"), profile(T0 + W, 0), TsdbBlock.syntheticUlid(22))
    val meta = dir.resolve("b2").resolve("meta.json")
    val held = Files.createTempDirectory("graft-held-meta").resolve("meta.json")
    Files.move(meta, held)
    val view = new ServeMain.BlocksView(spark, dir.toString)
    val ms = Seq(eq("__name__", "node_cpu_seconds_total"), eq("instance", "i-1"), eq("mode", "idle"))
    def sizes(q: TsQuerier) = q.streamSelect(T0, T0 + 2 * W, ms).map(_.samples.size).toSeq
    assert(sizes(view.querier()) == Seq(120))
    assert(sizes(view.querier()) == Seq(120), "b2 is looked at again on the next querier")
    Files.move(held, meta)
    val both = view.querier()
    assert(sizes(both) == Seq(240))
    assert(ServeMain.blockUlids(dir.toString) == Seq("b1", "b2"))
    // a name the caller already knows as a block is listed, not stat-ed
    Files.createDirectory(dir.resolve("b3"))
    assert(ServeMain.blockUlids(dir.toString, known = Set("b3")) == Seq("b1", "b2", "b3"))
    Files.delete(dir.resolve("b3"))
    // the shipper's `_shipped` marker dir is listed but never stat-ed:
    // a ULID never starts with `_`
    Files.createDirectories(dir.resolve("_shipped").resolve("7200000"))
    val counted = new org.apache.hadoop.conf.Configuration()
    counted.set("fs.statcount.impl", classOf[StatCountingFs].getName)
    counted.setBoolean("fs.statcount.impl.disable.cache", true)
    val cdir = s"statcount://$dir"
    assert(BlockIO.listNames(cdir, counted).contains("_shipped"))
    StatCountingFs.stated.clear()
    assert(ServeMain.blockUlids(cdir, counted) == Seq("b1", "b2"))
    val stated = StatCountingFs.stated.asScala.toSeq
    assert(stated.exists(_.endsWith("/b1/meta.json")), stated)
    assert(!stated.exists(_.contains("_shipped")), stated)
    // remove b1: the next querier, and its Spark view, no longer see it
    Files.walk(dir.resolve("b1")).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    val after = view.querier()
    assert(sizes(after) == Seq(120))
    assert(bits(after.streamSelect(T0, T0 + 2 * W, ms).toSeq) ==
      bits(after.selectStreams(T0, T0 + 2 * W, ms).collect()))
    assert(after.streamSelect(T0, T0 + 2 * W, ms).flatMap(_.samples).forall(_.t >= T0 + W))
  }
}

/** The local filesystem under the scheme `statcount:`, recording the
  * path of every `exists` probe (what `BlockIO.exists` calls). */
class StatCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("statcount:///")
  override def exists(p: org.apache.hadoop.fs.Path): Boolean = {
    StatCountingFs.stated.add(p.toUri.getPath)
    super.exists(p)
  }
}

object StatCountingFs {
  val stated = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
