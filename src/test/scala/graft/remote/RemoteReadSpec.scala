package graft.remote

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.xerial.snappy.Snappy
import graft.SparkSpec
import graft.tsdb._

class ProtoSpec extends AnyFunSuite {
  test("ReadRequest wire round-trip") {
    val qs = Seq(
      Proto.Query(1000L, 2000L, Seq(
        LabelMatcher.eq("__name__", "up"),
        LabelMatcher.re("job", "api.*"),
        LabelMatcher.neq("instance", "i-0"),
        LabelMatcher.notRe("code", "5.."))),
      Proto.Query(0L, Long.MaxValue / 2, Seq.empty))
    assert(Proto.decodeReadRequest(Proto.encodeReadRequest(qs)) == qs)
  }

  test("ReadResponse wire round-trip incl. zero values and empty results") {
    val res = Seq(
      Seq(
        SampleStream(Map("__name__" -> "up", "job" -> "api"),
          Seq(Sample(1, 1.5), Sample(2, 0.0), Sample(3, -7.25))),
        SampleStream(Map("job" -> "web"), Seq.empty)),
      Seq.empty)
    assert(Proto.decodeReadResponse(Proto.encodeReadResponse(res)) == res)
  }

  test("prefix matcher has no wire form") {
    assertThrows[IllegalArgumentException] {
      Proto.encodeReadRequest(Seq(Proto.Query(0, 1, Seq(LabelMatcher.prefix("a", "b")))))
    }
  }

  test("golden bytes: both response encodings equal the nested-W encoder") {
    val rnd = new scala.util.Random(11)
    def series(i: Int, n: Int, t0: Long) = SampleStream(
      Map("__name__" -> s"m${i % 7}", "job" -> "api", "instance" -> s"i-$i", "empty" -> "", "ü" -> "∆"),
      (0 until n).map(k => Sample(t0 + k * 15000L,
        if (k % 5 == 0) 0.0 else if (k % 5 == 1) -0.0 else rnd.nextGaussian())))
    val edge = SampleStream(Map("__name__" -> "edge"), Seq(Sample(-1L, 0.0), Sample(-1L, -0.0),
      Sample(Long.MinValue, Double.NaN), Sample(0L, Double.PositiveInfinity), Sample(Long.MaxValue, 1.0)))
    val small = Seq(edge, series(1, 3, -30000L), SampleStream(Map("job" -> "none"), Seq.empty))
    // more than 1 MiB of chunked payload: crosses the frame flush
    val big = (0 until 800).map(i => series(i, 480, 1700000000000L + i))
    for (results <- Seq(Seq(small), Seq(small, Seq.empty, big.take(40)), Seq(big))) {
      assert(Proto.encodeReadResponse(results).toSeq ==
        NestedWProto.encodeReadResponseStreaming(results.map(_.iterator)).toSeq)
      for ((q, i) <- results.zipWithIndex) {
        def frames(write: (Iterator[SampleStream], Long, Array[Byte] => Unit) => Unit) = {
          val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
          write(q.iterator, i.toLong, out += _)
          out.map(_.toSeq).toSeq
        }
        val got = frames(Proto.writeChunkedFrames(_, _, _))
        assert(got == frames(NestedWProto.writeChunkedFrames(_, _, _)))
        if (q eq big) assert(got.size > 1)
      }
    }
    // the edge cases are on the wire as expected: +0.0 omitted, -0.0
    // kept, a negative t a 10-byte varint
    val back = Proto.decodeReadResponse(Proto.encodeReadResponse(Seq(Seq(edge)))).head.head.samples
    assert(back.map(s => (s.t, java.lang.Double.doubleToRawLongBits(s.v))) ==
      edge.samples.map(s => (s.t, java.lang.Double.doubleToLongBits(s.v))))
    assert(Proto.varintSize(-1L) == 10 && Proto.varintSize(0L) == 1 && Proto.varintSize(128L) == 2)
  }
}

/** The protobuf encoders as first written, one nested `W` over a
  * `ByteArrayOutputStream` per message (unchanged but for the enclosing
  * object): the reference the flat writer is checked against. */
private object NestedWProto {
  import java.io.ByteArrayOutputStream

  final class W {
    val out = new ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def tag(field: Int, wire: Int): Unit = varint((field << 3) | wire)
    def str(field: Int, s: String): Unit = {
      val b = s.getBytes("UTF-8"); tag(field, 2); varint(b.length); out.write(b, 0, b.length)
    }
    def i64(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
    def dbl(field: Int, v: Double): Unit = {
      tag(field, 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => out.write(((bits >>> (8 * i)) & 0xff).toInt)) // little-endian
    }
    def raw(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length); out.write(b, 0, b.length)
    }
    def msg(field: Int, body: W): Unit = {
      val b = body.out.toByteArray; tag(field, 2); varint(b.length); out.write(b, 0, b.length)
    }
    def bytes: Array[Byte] = out.toByteArray
    def size: Int = out.size()
  }

  def encodeTimeSeries(ss: SampleStream): W = {
    val tw = new W
    ss.labels.toSeq.sortBy(_._1).foreach { case (n, v) =>
      val lw = new W; lw.str(1, n); lw.str(2, v); tw.msg(1, lw)
    }
    ss.samples.foreach { s =>
      val sw = new W
      if (s.v != 0.0 || java.lang.Double.doubleToLongBits(s.v) != 0L) sw.dbl(1, s.v)
      sw.i64(2, s.t)
      tw.msg(2, sw)
    }
    tw
  }

  def encodeReadResponseStreaming(results: Seq[Iterator[SampleStream]]): Array[Byte] = {
    val w = new W
    results.foreach { streams =>
      val rw = new W
      streams.foreach(ss => rw.msg(1, encodeTimeSeries(ss)))
      w.msg(1, rw)
    }
    w.bytes
  }

  def encodeChunkedSeries(ss: SampleStream,
                          maxSamplesPerChunk: Int = 120): W = {
    val sw = new W
    ss.labels.toSeq.sortBy(_._1).foreach { case (n, v) =>
      val lw = new W; lw.str(1, n); lw.str(2, v); sw.msg(1, lw)
    }
    ss.samples.grouped(maxSamplesPerChunk).foreach { grp =>
      val cw = new W
      cw.i64(1, grp.head.t); cw.i64(2, grp.last.t)
      cw.i64(3, 1) // Encoding.XOR
      cw.raw(4, graft.tsdb.XorChunk.encode(grp))
      sw.msg(2, cw)
    }
    sw
  }

  def frame(body: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32C
    crc.update(body)
    val head = new W
    head.varint(body.length)
    val out = new java.io.ByteArrayOutputStream
    out.write(head.bytes)
    val c = crc.getValue.toInt
    out.write((c >>> 24) & 0xff); out.write((c >>> 16) & 0xff)
    out.write((c >>> 8) & 0xff); out.write(c & 0xff)
    out.write(body, 0, body.length)
    out.toByteArray
  }

  def writeChunkedFrames(series: Iterator[SampleStream], queryIndex: Long,
                         sink: Array[Byte] => Unit,
                         frameBytes: Int = 1 << 20): Unit = {
    var batch = new W
    var n = 0
    def flush(): Unit = if (n > 0) {
      batch.i64(2, queryIndex)
      sink(frame(batch.bytes)); batch = new W; n = 0
    }
    series.foreach { ss =>
      batch.msg(1, encodeChunkedSeries(ss)); n += 1
      if (batch.size >= frameBytes) flush()
    }
    flush()
  }
}

class RemoteReadServerSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def mkQuerier: TsQuerier = {
    import scala.jdk.CollectionConverters._
    val rows = (for {
      job <- Seq("api", "api-canary", "web"); i <- 0 to 2; k <- 0 until 50
    } yield Row(Map("__name__" -> "http_requests_total", "job" -> job, "instance" -> s"i-$i"),
      1700000000000L + k * 15000L, (k * 2).toDouble)).asJava
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "labels map<string,string>, t long, v double")
    new TsQuerier(TsSchema.canonicalize(spark.createDataFrame(rows, schema)))
  }

  test("end-to-end POST /read over HTTP: snappy + proto + querier") {
    val server = new RemoteReadServer(mkQuerier)
    val port = server.start()
    try {
      val req = Proto.encodeReadRequest(Seq(Proto.Query(
        1700000000000L, 1700000300000L,
        Seq(LabelMatcher.eq("__name__", "http_requests_total"),
          LabelMatcher.re("job", "api"))))) // anchored: must NOT match api-canary
      val http = HttpClient.newHttpClient()
      val resp = http.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/read"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(Snappy.compress(req))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200)
      val results = Proto.decodeReadResponse(Snappy.uncompress(resp.body()))
      assert(results.size == 1)
      val streams = results.head
      assert(streams.size == 3) // job=api × 3 instances; api-canary excluded (anchoring)
      assert(streams.forall(_.labels("job") == "api"))
      // canonical label order of streams + time order of samples
      val labelSeqs = streams.map(s => Labels.fromMap(s.labels))
      assert(labelSeqs == labelSeqs.sorted(Labels.ordering))
      assert(streams.head.samples.size == 21) // t in [0, 300s] at 15s cadence
      assert(streams.head.samples.map(_.t).sliding(2).forall(w => w.size < 2 || w(0) < w(1)))
    } finally server.stop()
  }

  test("STREAMED_XOR_CHUNKS: framed chunked response decodes to the same samples") {
    val server = new RemoteReadServer(mkQuerier)
    val port = server.start()
    try {
      val q = Proto.Query(1700000000000L, 1700000750000L - 1,
        Seq(LabelMatcher.eq("__name__", "http_requests_total"),
          LabelMatcher.eq("job", "web")))
      val req = Proto.encodeReadRequest(Seq(q),
        acceptedResponseTypes = Seq(Proto.RespStreamedXorChunks))
      val http = HttpClient.newHttpClient()
      val resp = http.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/read"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(Snappy.compress(req))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").orElse("")
        .startsWith("application/x-streamed-protobuf"))
      // decode frames (crc32c verified inside), XOR-decode every chunk
      val decoded = Proto.decodeChunkedFrames(resp.body())
      assert(decoded.nonEmpty && decoded.forall(_._1 == 0L))
      val streams = decoded.map { case (_, ss, chunks) =>
        chunks.foreach { case (mint, maxt, _) => assert(mint <= maxt) }
        ss.copy(samples = chunks.flatMap { case (_, _, data) =>
          XorChunk.decode(data)
        })
      }
      // must equal the SAMPLES-path result bit for bit
      val want = mkQuerier.selectStreams(q.startMs, q.endMs, q.matchers).collect()
      assert(streams.size == want.length)
      streams.sortBy(s => Labels.fromMap(s.labels))(Labels.ordering)
        .zip(want.sortBy(s => Labels.fromMap(s.labels))(Labels.ordering))
        .foreach { case (got, w) =>
          assert(got.labels == w.labels)
          assert(got.samples == w.samples)
        }
      // chunk size discipline: ≤120 samples per chunk
      decoded.foreach { case (_, _, chunks) =>
        chunks.foreach { case (_, _, d) => assert(XorChunk.decode(d).size <= 120) }
      }
    } finally server.stop()
  }

  test("remote-write → store → remote-read round-trip") {
    val store = java.nio.file.Files.createTempDirectory("rw-store").resolve("s").toString
    // serve reads over whatever has been written so far (lazy re-read)
    def querier = TsStore.read(spark, store)
    val server = new RemoteReadServer(
      querier, // by-name: re-reads the store per request
      writeSink = Some(RemoteWrite.appendToStore(spark, store)))
    val port = server.start()
    try {
      val http = HttpClient.newHttpClient()
      val streams = Seq(
        SampleStream(Map("__name__" -> "up", "job" -> "api"),
          (0 until 40).map(k => Sample(1700000000000L + k * 15000L, k.toDouble))),
        SampleStream(Map("__name__" -> "up", "job" -> "web"),
          (0 until 10).map(k => Sample(1700000000000L + k * 15000L, 1.0))))
      val wr = http.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/write"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(
            Snappy.compress(Proto.encodeWriteRequest(streams)))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(wr.statusCode() == 204)
      // written data is queryable through the standard querier
      val got = querier.selectStreams(0L, Long.MaxValue / 2,
        Seq(LabelMatcher.eq("job", "api"))).collect()
      assert(got.length == 1 && got.head.samples.size == 40)
      // and over the read endpoint
      val req = Proto.encodeReadRequest(Seq(
        Proto.Query(0L, Long.MaxValue / 2, Seq(LabelMatcher.eq("__name__", "up")))))
      val rr = http.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/read"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(Snappy.compress(req))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(rr.statusCode() == 200)
      val results = Proto.decodeReadResponse(Snappy.uncompress(rr.body()))
      assert(results.head.map(_.samples.size).sum == 50)
    } finally server.stop()
  }

  test("large response streams through toLocalIterator (100k samples)") {
    import scala.jdk.CollectionConverters._
    // 200 series × 500 samples — the response is built from an iterator
    // over the Dataset, so the driver never materializes the full Matrix
    // as row objects (peak extra memory ≈ the encoded wire bytes)
    val rows = (for {
      s <- 0 until 200; k <- 0 until 500
    } yield Row(Map("__name__" -> "big", "instance" -> s"i-$s"),
      1700000000000L + k * 15000L, k.toDouble)).asJava
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "labels map<string,string>, t long, v double")
    val q = new TsQuerier(TsSchema.canonicalize(spark.createDataFrame(rows, schema)))
    val server = new RemoteReadServer(q)
    val port = server.start()
    try {
      val req = Proto.encodeReadRequest(Seq(Proto.Query(
        0L, 2000000000000L, Seq(LabelMatcher.eq("__name__", "big")))))
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/read"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(Snappy.compress(req))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200)
      val results = Proto.decodeReadResponse(Snappy.uncompress(resp.body()))
      assert(results.head.size == 200)
      assert(results.head.map(_.samples.size).sum == 100000)
    } finally server.stop()
  }

  test("streamed-path failure after headers commit: truncation, server survives") {
    import scala.jdk.CollectionConverters._
    // a querier whose evaluation throws on the EXECUTORS (lazily, after
    // the 200 headers are committed on the streamed path): the server
    // must not attempt a second sendResponseHeaders — it closes the
    // exchange (client sees a truncated/empty stream = error for this
    // transport) and keeps serving subsequent requests
    val boom = org.apache.spark.sql.functions.udf { v: Double =>
      if (v < 0) throw new RuntimeException("poisoned sample") else v
    }
    val rows = (for (k <- 0 until 50) yield Row(
      Map("__name__" -> "m", "job" -> "a"),
      1700000000000L + k * 15000L, if (k == 40) -1.0 else k.toDouble)).asJava
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "labels map<string,string>, t long, v double")
    val poisoned = new TsQuerier(TsSchema.canonicalize(
      spark.createDataFrame(rows, schema))
      .withColumn("v", boom(org.apache.spark.sql.functions.col("v"))))
    var q = poisoned
    val server = new RemoteReadServer(q) // by-name: re-resolved per request
    val port = server.start()
    try {
      val req = Proto.encodeReadRequest(
        Seq(Proto.Query(0L, 2000000000000L, Seq(LabelMatcher.eq("__name__", "m")))),
        acceptedResponseTypes = Seq(Proto.RespStreamedXorChunks))
      val http = HttpClient.newHttpClient()
      val r1 = try {
        val resp = http.send(
          HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/read"))
            .POST(HttpRequest.BodyPublishers.ofByteArray(Snappy.compress(req))).build(),
          HttpResponse.BodyHandlers.ofByteArray())
        // headers were committed before the failure → 200 with a
        // truncated (possibly empty) frame stream, NEVER a decodable
        // complete result
        assert(resp.statusCode() == 200)
        Proto.decodeChunkedFrames(resp.body())
      } catch { case _: java.io.IOException => Seq.empty } // hard abort also fine
      assert(r1.isEmpty)
      // the exchange was not leaked: the same server serves the next
      // request on a healthy querier
      q = mkQuerier
      val ok = http.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/read"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(Snappy.compress(req))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(ok.statusCode() == 200)
    } finally server.stop()
  }

  test("malformed body → 400, wrong method → 405") {
    val server = new RemoteReadServer(mkQuerier)
    val port = server.start()
    try {
      val http = HttpClient.newHttpClient()
      val bad = http.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/read"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(Array[Byte](1, 2, 3))).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400)
      val get = http.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/read")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 405)
    } finally server.stop()
  }

  test("/read status: invalid regex or matcher type → 400, querier throws → 500") {
    var fail = false
    val server = new RemoteReadServer(
      if (fail) throw new IllegalStateException("store unavailable") else mkQuerier)
    val port = server.start()
    try {
      val http = HttpClient.newHttpClient()
      def post(body: Array[Byte]) = http.send(
        HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/read"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(Snappy.compress(body))).build(),
        HttpResponse.BodyHandlers.ofString())
      def read(m: LabelMatcher, types: Seq[Int]) = post(Proto.encodeReadRequest(
        Seq(Proto.Query(1700000000000L, 1700000300000L, Seq(m))), types))
      for (types <- Seq(Seq(Proto.RespSamples), Seq(Proto.RespStreamedXorChunks))) {
        // a regex that does not compile is the client's error, on both
        // paths, before the streamed path commits its headers
        val badRe = read(LabelMatcher(MatchType.Re, "job", "api("), types)
        assert(badRe.statusCode() == 400 && badRe.body().contains("remote read error"), badRe.body())
        assert(read(LabelMatcher.eq("job", "api"), types).statusCode() == 200)
      }
      // matcher type 7 does not exist in remote.proto
      val w = new Proto.W
      val mw = new Proto.W; mw.i64(1, 7); mw.str(2, "job"); mw.str(3, "api")
      val qw = new Proto.W; qw.i64(1, 0); qw.i64(2, 1); qw.msg(3, mw)
      w.msg(1, qw)
      assert(post(w.bytes).statusCode() == 400)
      // a failure of the server's own, before the headers: 500
      fail = true
      val internal = read(LabelMatcher.eq("job", "api"), Seq(Proto.RespSamples))
      assert(internal.statusCode() == 500 && internal.body().contains("store unavailable"),
        internal.body())
    } finally server.stop()
  }

  test("GET /api/v1/query_range evaluates PromQL and returns a matrix") {
    val server = new RemoteReadServer(mkQuerier)
    val port = server.start()
    try {
      val http = HttpClient.newHttpClient()
      val q = java.net.URLEncoder.encode(
        """sum by (job) (increase(http_requests_total{job=~"api.*"}[5m]))""", "UTF-8")
      // start/end in unix SECONDS, step as a duration literal
      val uri = s"http://127.0.0.1:$port/api/v1/query_range" +
        s"?query=$q&start=1700000300&end=1700000600&step=5m"
      val resp = http.send(
        HttpRequest.newBuilder(new URI(uri)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      val body = resp.body()
      assert(body.startsWith(
        """{"status":"success","data":{"resultType":"matrix","result":["""))
      // two series (api, api-canary), each with both steps
      assert(body.contains(""""metric":{"job":"api"}"""))
      assert(body.contains(""""metric":{"job":"api-canary"}"""))
      assert(!body.contains("web"))
      // 5m window at t=1700000300 holds samples k=1..20 per instance:
      // 19 deltas × 2 × 3 instances = 114
      assert(body.contains("[1700000300,\"114\"]"))
      // stats=all appends execution statistics into the data object
      val withStats = http.send(
        HttpRequest.newBuilder(new URI(uri + "&stats=all")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(withStats.contains(""""stats":{"timings":{"evalTotalTime":"""),
        withStats)
      assert(withStats.contains(""""samples":{"resultSeries":2,"resultSamples":4}"""),
        withStats)
      assert(!body.contains(""""stats""""))
      // a bad query reports the Prometheus error envelope
      val bad = http.send(
        HttpRequest.newBuilder(new URI(
          s"http://127.0.0.1:$port/api/v1/query_range?query=rate(m)&start=0&end=0&step=1")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400)
      assert(bad.body().contains(""""status":"error""""))
    } finally server.stop()
  }

  test("instant query, labels, label values and series endpoints") {
    val server = new RemoteReadServer(mkQuerier)
    val port = server.start()
    try {
      val http = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] =
        http.send(HttpRequest.newBuilder(
          new URI(s"http://127.0.0.1:$port$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      // instant vector at t=1700000300 (sample k=20 ⇒ v=40), 3 instances
      val q = java.net.URLEncoder.encode(
        """http_requests_total{job="api"}""", "UTF-8")
      val inst = get(s"/api/v1/query?query=$q&time=1700000300")
      assert(inst.statusCode() == 200, inst.body())
      assert(inst.body().startsWith(
        """{"status":"success","data":{"resultType":"vector","result":["""))
      assert(inst.body().contains(""""value":[1700000300,"40"]"""))
      assert(inst.body().split("\"metric\"").length - 1 == 3)
      // label names and values, sorted
      assert(get("/api/v1/labels").body() ==
        """{"status":"success","data":["__name__","instance","job"]}""")
      assert(get("/api/v1/label/job/values").body() ==
        """{"status":"success","data":["api","api-canary","web"]}""")
      // series discovery: two match[] selectors union + dedup
      // (3 web instances ∪ 3 i-0 jobs, web/i-0 shared ⇒ 5 series)
      val m1 = java.net.URLEncoder.encode(
        """http_requests_total{job="web"}""", "UTF-8")
      val m2 = java.net.URLEncoder.encode("""{instance="i-0"}""", "UTF-8")
      val ser = get(s"/api/v1/series?match%5B%5D=$m1&match%5B%5D=$m2")
      assert(ser.statusCode() == 200, ser.body())
      assert(ser.body().split("\\{\"__name__\"").length - 1 == 5)
      assert(ser.body().contains(""""instance":"i-0","job":"api-canary""""))
      // missing match[] is a 400 with the Prometheus error envelope
      val bad = get("/api/v1/series")
      assert(bad.statusCode() == 400 &&
        bad.body().contains("missing parameter 'match[]'"))
    } finally server.stop()
  }

  test("GET /api/v1/status/tsdb: cardinality dashboard") {
    val server = new RemoteReadServer(mkQuerier)
    val port = server.start()
    try {
      val http = HttpClient.newHttpClient()
      val resp = http.send(
        HttpRequest.newBuilder(new URI(
          s"http://127.0.0.1:$port/api/v1/status/tsdb")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      val b = resp.body()
      // fixture: 9 series (3 jobs × 3 instances), one metric, 50 samples
      // each, all inside one 2h block → chunkCount = 9
      assert(b.contains(""""headStats":{"numSeries":9,"numLabelPairs":7,""" +
        """"chunkCount":9,"minTime":1700000000000,"maxTime":1700000735000}"""), b)
      assert(b.contains(""""seriesCountByMetricName":[{"name":"http_requests_total","value":9}]"""), b)
      // value desc, name asc through ties
      assert(b.contains(""""labelValueCountByLabelName":[{"name":"instance","value":3},""" +
        """{"name":"job","value":3},{"name":"__name__","value":1}]"""), b)
      // per-series pair bytes: __name__ (8+19)·9=243, instance (8+3)·9=99,
      // job (3+3)·3 + (3+10)·3 + (3+3)·3 = 75
      assert(b.contains(""""memoryInBytesByLabelName":[{"name":"__name__","value":243},""" +
        """{"name":"instance","value":99},{"name":"job","value":75}]"""), b)
      assert(b.contains(""""seriesCountByLabelValuePair":[""" +
        """{"name":"__name__=http_requests_total","value":9},""" +
        """{"name":"instance=i-0","value":3},{"name":"instance=i-1","value":3},""" +
        """{"name":"instance=i-2","value":3},{"name":"job=api","value":3},""" +
        """{"name":"job=api-canary","value":3},{"name":"job=web","value":3}]"""), b)
      // limit narrows every list
      val lim = http.send(
        HttpRequest.newBuilder(new URI(
          s"http://127.0.0.1:$port/api/v1/status/tsdb?limit=1")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(lim.contains(""""seriesCountByLabelValuePair":[{"name":"__name__=http_requests_total","value":9}]"""), lim)
      // a bad limit is the standard error envelope
      val bad = http.send(
        HttpRequest.newBuilder(new URI(
          s"http://127.0.0.1:$port/api/v1/status/tsdb?limit=0")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400 && bad.body().contains("limit must be positive"))
      // buildinfo: the Grafana feature-detection probe
      val bi = http.send(
        HttpRequest.newBuilder(new URI(
          s"http://127.0.0.1:$port/api/v1/status/buildinfo")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bi.statusCode() == 200 && bi.body().contains(""""version":"2.54.0""""))
    } finally server.stop()
  }

  test("GET /federate: latest sample per series in exposition format") {
    val server = new RemoteReadServer(mkQuerier)
    val port = server.start()
    try {
      val http = HttpClient.newHttpClient()
      def get(pathAndQuery: String): HttpResponse[String] = http.send(
        HttpRequest.newBuilder(
          new URI(s"http://127.0.0.1:$port$pathAndQuery")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val m = java.net.URLEncoder.encode(
        """http_requests_total{job=~"api.*",instance="i-0"}""", "UTF-8")
      // time pinned at the last sample; 5m lookback covers it
      val resp = get(s"/federate?match%5B%5D=$m&time=1700000735")
      assert(resp.statusCode() == 200, resp.body())
      assert(resp.headers().firstValue("Content-Type").get
        .startsWith("text/plain"))
      val lines = resp.body().split("\n").filter(_.nonEmpty)
      // one line per matched series (api + api-canary, instance i-0),
      // carrying ONLY the latest sample (t=...735000, v=2*49)
      assert(lines.length == 2, lines.mkString("|"))
      assert(lines.forall(_.endsWith(" 98.0 1700000735000")))
      assert(lines.exists(_.startsWith(
        """http_requests_total{instance="i-0",job="api"}""")))
      assert(lines.exists(_.startsWith(
        """http_requests_total{instance="i-0",job="api-canary"}""")))
      // the rendered lines parse back through the exposition parser
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, lit}
      val back = graft.tsdb.Exposition.parse(
        lines.toSeq.toDF("line"), col("line"), lit(0L)).collect()
      assert(back.length == 2 &&
        back.forall(r => r.getLong(1) == 1700000735000L && r.getDouble(2) == 98.0))
      // a range selector is rejected with a 400
      val mr = java.net.URLEncoder.encode("http_requests_total[5m]", "UTF-8")
      assert(get(s"/federate?match%5B%5D=$mr&time=1700000735").statusCode() == 400)
      // the server self-exposes request counters on /metrics, and the
      // lines parse through its own exposition parser
      val metrics = get("/metrics")
      assert(metrics.statusCode() == 200)
      val mlines = metrics.body().split("\n").toSeq
      val rows = graft.tsdb.Exposition.parse(
        mlines.toDF("line"), org.apache.spark.sql.functions.col("line"),
        org.apache.spark.sql.functions.lit(0L))
        .collect().map(r => (r.getMap[String, String](0), r.getDouble(2)))
      // every sample line parses; the request counters are checked here
      assert(rows.length == mlines.count(l => l.nonEmpty && !l.startsWith("#")))
      val parsed = rows.collect { case (ls, v) if ls("__name__") == "graft_http_requests_total" =>
        ls("path") -> v }.toMap
      // two /federate hits above (one OK, one 400) both count
      assert(parsed("/federate") == 2.0 && parsed("/metrics") == 1.0,
        s"counters: $parsed")
      // the parsed-index cache's and the persisted-plan registry's
      // lifetime counters and size gauges
      val byName = rows.collect { case (ls, v) if ls.size == 1 => ls("__name__") -> v }.toMap
      for (f <- Seq("graft_index_cache_hits_total", "graft_index_cache_misses_total",
                    "graft_index_cache_evictions_total", "graft_index_cache_entries",
                    "graft_persist_hits_total", "graft_persist_misses_total",
                    "graft_persist_evictions_total", "graft_persist_entries",
                    "graft_persist_bytes", "graft_codegen_compilations_total"))
        assert(byName.get(f).exists(_ >= 0.0), s"$f in $byName")
      assert(byName("graft_index_cache_entries") <= 8.0)
    } finally server.stop()
  }

  test("scraper pulls /federate into a second store (full federation loop)") {
    val server = new RemoteReadServer(mkQuerier)
    val port = server.start()
    val store = java.nio.file.Files.createTempDirectory("graft-scrape")
      .resolve("store").toString
    try {
      val m = java.net.URLEncoder.encode(
        """http_requests_total{instance="i-0"}""", "UTF-8")
      val n = Scraper.scrapeOnce(spark,
        s"http://127.0.0.1:$port/federate?match%5B%5D=$m&time=1700000735",
        store, scrapeTsMs = 1700000735000L)
      assert(n == 3) // api, api-canary, web at instance i-0
      val q = TsStore.read(spark, store)
      val s = q.selectStreams(0, Long.MaxValue,
        Seq(LabelMatcher.eq("job", "api"))).collect()
      // the federated store holds exactly the latest upstream sample
      assert(s.length == 1 && s.head.samples.toSeq ==
        Seq(Sample(1700000735000L, 98.0)))
    } finally server.stop()
  }

  test("scrape metadata loop: HELP/TYPE harvested, served at /api/v1/metadata") {
    val upstream = new RemoteReadServer(mkQuerier)
    val port = upstream.start()
    val root = java.nio.file.Files.createTempDirectory("graft-meta")
    val store = root.resolve("store").toString
    val meta = root.resolve("meta").toString
    try {
      // scrape our own /metrics twice (self-exposed counters carry
      // HELP + TYPE); the second scrape appends — the view collapses
      val u = s"http://127.0.0.1:$port/metrics"
      assert(Scraper.scrapeOnce(spark, u, store, 1700000000000L,
        metadataPath = Some(meta)) >= 1)
      Scraper.scrapeOnce(spark, u, store, 1700000060000L,
        metadataPath = Some(meta))
      // one metadata row per family the server declares
      val declared = scala.io.Source.fromURL(u).getLines()
        .collect { case l if l.startsWith("# TYPE ") => l.split(' ')(2) }.toSet
      val view = Scraper.metadataView(spark, meta).collect()
      assert(view.map(_.getString(0)).toSet == declared && view.length == declared.size)
      assert(view.map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .contains(("graft_http_requests_total", "counter", "Requests served per endpoint.")))

      // a server wired to the harvested store serves the upstream shape
      val serving = new RemoteReadServer(mkQuerier,
        metadataSource = Some(() => Scraper.metadataView(spark, meta)))
      val p2 = serving.start()
      try {
        val http = HttpClient.newHttpClient()
        def get(q: String) = http.send(
          HttpRequest.newBuilder(new URI(
            s"http://127.0.0.1:$p2/api/v1/metadata$q")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(get("").body().contains(""""graft_http_requests_total":""" +
          """[{"type":"counter","help":"Requests served per endpoint.","unit":""}]"""))
        // exact-metric filter; a miss is an empty data object
        assert(get("?metric=graft_http_requests_total").body() ==
          """{"status":"success","data":{"graft_http_requests_total":""" +
          """[{"type":"counter","help":"Requests served per endpoint.","unit":""}]}}""")
        assert(get("?metric=nope").body() == """{"status":"success","data":{}}""")
      } finally serving.stop()
      // a server with no metadata source answers empty, not 404
      val bare = new RemoteReadServer(mkQuerier)
      val p3 = bare.start()
      try {
        val resp = HttpClient.newHttpClient().send(
          HttpRequest.newBuilder(new URI(
            s"http://127.0.0.1:$p3/api/v1/metadata")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200 &&
          resp.body() == """{"status":"success","data":{}}""")
      } finally bare.stop()
    } finally upstream.stop()
  }

  test("scraper negotiates OpenMetrics by Content-Type") {
    // a target that only speaks OpenMetrics 1.0: decimal-seconds
    // timestamps, exemplar tails, `# EOF` terminator — and asserts the
    // scraper OFFERED the dialect in its Accept header
    val seenAccept = new java.util.concurrent.atomic.AtomicReference[String]("")
    val target = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    target.createContext("/metrics", exchange => {
      seenAccept.set(exchange.getRequestHeaders.getFirst("Accept"))
      val body = Seq(
        "# TYPE boiler_pressure_bars gauge",
        "boiler_pressure_bars{site=\"a\"} 6.5 1700000100.25",
        "boiler_pressure_bars{site=\"b\"} 7.0 # {trace_id=\"t1\"} 6.9",
        "# EOF").mkString("\n").getBytes("UTF-8")
      exchange.getResponseHeaders.set("Content-Type",
        "application/openmetrics-text; version=1.0.0; charset=utf-8")
      exchange.sendResponseHeaders(200, body.length)
      exchange.getResponseBody.write(body); exchange.close()
    })
    target.start()
    val root = java.nio.file.Files.createTempDirectory("graft-om-scrape")
    val store = root.resolve("store").toString
    val exDir = root.resolve("exemplars").toString
    try {
      val port = target.getAddress.getPort
      val n = Scraper.scrapeOnce(spark, s"http://127.0.0.1:$port/metrics",
        store, scrapeTsMs = 1700000200000L, exemplarPath = Some(exDir))
      assert(n == 2)
      assert(seenAccept.get.contains("application/openmetrics-text"),
        s"Accept header was: ${seenAccept.get}")
      val s = TsStore.read(spark, store).selectStreams(0, Long.MaxValue,
        Seq(LabelMatcher.eq("__name__", "boiler_pressure_bars")))
        .collect().sortBy(_.labels("site"))
      // seconds → ms; the exemplar-tail line falls back to scrape time
      assert(s.map(_.samples.toSeq) === Seq(
        Seq(Sample(1700000100250L, 6.5)),
        Seq(Sample(1700000200000L, 7.0))))
      // the exemplar tail was harvested and serves the upstream shape
      val serving = new RemoteReadServer(mkQuerier,
        exemplarSource = Some(() => spark.read.parquet(exDir)))
      val p2 = serving.start()
      try {
        val http = HttpClient.newHttpClient()
        def get(q: String) = http.send(
          HttpRequest.newBuilder(new URI(
            s"http://127.0.0.1:$p2/api/v1/query_exemplars?query=$q")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        val sel = java.net.URLEncoder.encode(
          """boiler_pressure_bars{site="b"}""", "UTF-8")
        assert(get(sel).body() ==
          """{"status":"success","data":[{"seriesLabels":""" +
          """{"__name__":"boiler_pressure_bars","site":"b"},""" +
          """"exemplars":[{"labels":{"trace_id":"t1"},"value":"6.9",""" +
          """"timestamp":1700000200}]}]}""")
        // a non-matching selector returns an empty data array
        val none = java.net.URLEncoder.encode(
          """boiler_pressure_bars{site="zz"}""", "UTF-8")
        assert(get(none).body() == """{"status":"success","data":[]}""")
        // time-range filtering excludes the exemplar
        assert(http.send(
          HttpRequest.newBuilder(new URI(
            s"http://127.0.0.1:$p2/api/v1/query_exemplars?query=$sel&end=1700000100")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body() ==
          """{"status":"success","data":[]}""")
      } finally serving.stop()
    } finally target.stop(0)
  }

  test("liveness, runtimeinfo, flags, config and targets endpoints") {
    val loop = new Scraper.Loop(spark, "http://127.0.0.1:1/metrics",
      java.nio.file.Files.createTempDirectory("graft-t").resolve("s").toString,
      intervalMs = 3600000L) // port 1: connection refused -> "down"
    val server = new RemoteReadServer(mkQuerier,
      targetsSource = Some(() => Seq(loop.status)),
      configSource = Some(() => "bucket: b1\n"))
    val port = server.start()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def get(pq: String) = http.send(
        java.net.http.HttpRequest.newBuilder(
          new java.net.URI(s"http://127.0.0.1:$port$pq")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())

      val healthy = get("/-/healthy")
      assert(healthy.statusCode() == 200 &&
        healthy.body() == "Graft is Healthy.\n")
      assert(get("/-/ready").body() == "Graft is Ready.\n")

      val ri = get("/api/v1/status/runtimeinfo").body()
      assert(ri.contains("\"startTime\":") && ri.contains("\"GOMAXPROCS\":"))
      assert(ri.contains("\"reloadConfigSuccess\":true"))

      val fl = get("/api/v1/status/flags").body()
      assert(fl.contains("\"query.lookback-delta\":\"5m\""))
      assert(fl.contains("spark.sql.shuffle.partitions"))
      assert(fl.contains("\"spark.graft.persistMaxBytes\":"))

      // jsonStr escapes control chars as unicode escapes (valid JSON);
      // concatenated to keep the Scala lexer from decoding the escape
      assert(get("/api/v1/status/config").body() ==
        """{"status":"success","data":{"yaml":"bucket: b1""" +
          "\\u000a" + "\"}}")

      // the failing loop flips to "down" with a lastError after a tick
      val deadline = System.currentTimeMillis() + 15000
      while (loop.status.health == "unknown" &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      val tg = get("/api/v1/targets").body()
      assert(tg.contains("\"scrapeUrl\":\"http://127.0.0.1:1/metrics\""), tg)
      assert(tg.contains("\"health\":\"down\""), tg)
      assert(tg.contains("\"failuresTotal\":"), tg)
      assert(tg.contains("\"droppedTargets\":[]"), tg)
      // state filter: dropped is empty, bogus is a 400
      assert(get("/api/v1/targets?state=dropped").body()
        .contains("\"activeTargets\":[]"))
      assert(get("/api/v1/targets?state=bogus").statusCode() == 400)
    } finally { server.stop(); loop.close() }
  }

  test("admin API: delete_series -> masked queries, clean_tombstones, snapshot") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft-admin")
    val store = root.resolve("store").toString
    val rows = (for (job <- Seq("api", "web"); k <- 0 until 10) yield
      Row(Map("__name__" -> "up", "job" -> job),
        1700000000000L + k * 15000L, k.toDouble)).asJava
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "labels map<string,string>, t long, v double")
    TsStore.write(spark.createDataFrame(rows, schema), store)
    def querier = new TsQuerier(
      graft.tsdb.TsDeletions.readMasked(spark, store))
    val server = new RemoteReadServer(querier,
      adminStore = Some((spark, store)))
    val port = server.start()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def post(pq: String) = http.send(
        java.net.http.HttpRequest.newBuilder(
          new java.net.URI(s"http://127.0.0.1:$port$pq"))
          .POST(java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      def get(pq: String) = http.send(
        java.net.http.HttpRequest.newBuilder(
          new java.net.URI(s"http://127.0.0.1:$port$pq")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())

      // GET is rejected (admin actions are POST), bad selector is a 400
      assert(get("/api/v1/admin/tsdb/delete_series?match[]=up").statusCode() == 405)
      assert(post("/api/v1/admin/tsdb/delete_series").statusCode() == 400)
      val badSel = java.net.URLEncoder.encode("up[5m]", "UTF-8")
      assert(post(s"/api/v1/admin/tsdb/delete_series?match[]=$badSel").statusCode() == 400)

      // delete job=api in a sub-range: 204, and queries mask immediately
      val sel = java.net.URLEncoder.encode("""up{job="api"}""", "UTF-8")
      val del = post(s"/api/v1/admin/tsdb/delete_series?match[]=$sel" +
        "&start=1700000000&end=1700000060")
      assert(del.statusCode() == 204, del.body())
      val left = querier.selectLong(0, Long.MaxValue / 2,
        Seq(LabelMatcher.eq("job", "api"))).count()
      assert(left == 5) // k=0..4 (t<=1700000060000) masked, 5..9 survive
      assert(querier.selectLong(0, Long.MaxValue / 2,
        Seq(LabelMatcher.eq("job", "web"))).count() == 10)

      // snapshot BEFORE materialization carries the pending log
      val snap = post("/api/v1/admin/tsdb/snapshot")
      assert(snap.statusCode() == 200, snap.body())
      val name = snap.body().split("\"name\":\"")(1).takeWhile(_ != '"')
      val snapDir = graft.tsdb.BlockIO.child(
        graft.tsdb.BlockIO.child(store, "_snapshots"), name)
      assert(new TsQuerier(graft.tsdb.TsDeletions.readMasked(spark, snapDir))
        .selectLong(0, Long.MaxValue / 2,
          Seq(LabelMatcher.eq("job", "api"))).count() == 5)

      // clean_tombstones makes the deletion physical and clears the log
      assert(post("/api/v1/admin/tsdb/clean_tombstones").statusCode() == 204)
      assert(graft.tsdb.TsDeletions.list(spark, store).isEmpty)
      assert(spark.read.parquet(store)
        .where(org.apache.spark.sql.functions.col("l_job") === "api")
        .count() == 5)
      // snapshots are NOT store blocks: the masked read still sees 15
      assert(querier.selectLong(0, Long.MaxValue / 2, Seq(
        LabelMatcher.eq("__name__", "up"))).count() == 15)
    } finally server.stop()
  }
}
