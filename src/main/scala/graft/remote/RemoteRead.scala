package graft.remote

import java.net.InetSocketAddress
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.xerial.snappy.Snappy
import graft.tsdb.{ChunkFile, LabelMatcher, MatchType, Sample, SampleStream, TsQuerier}
import graft.tsdb.datasource.TsdbIndexCache
import graft.Persisted

/** Prometheus remote-read protocol front-end — the reference's only query
  * entry point (`server.go:51,64-97`; SURVEY.md §2.1 S10, §3.1).
  *
  * Wire format: HTTP POST body = snappy(block) ∘ protobuf `ReadRequest`;
  * response = snappy ∘ protobuf `ReadResponse`
  * (`vendor/.../storage/remote/codec.go:29-61`). The protobuf layer is a
  * hand-rolled proto3 codec for the five message types of `remote.proto`
  * (`vendor/.../storage/remote/remote.proto:18-67`) — no codegen dep.
  *
  * Matcher conversion follows Prometheus semantics: regex matchers are
  * ANCHORED (`^(?:re)$`). The reference drops anchoring in its conversion
  * (`server.go:116-121`) — a documented bug we do not reproduce
  * (SURVEY.md §2.2 P2).
  */
object Proto {
  // ---- minimal proto3 wire primitives ----
  /** Protobuf writer over a growable byte array (not thread-safe: one
    * per message being built). */
  final class W(initialBytes: Int = 64) {
    private var buf = new Array[Byte](math.max(initialBytes, 16))
    private var n = 0
    private def ensure(more: Int): Unit =
      if (n + more > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + more))
    private def put(b: Array[Byte], off: Int, len: Int): Unit = {
      ensure(len); System.arraycopy(b, off, buf, n, len); n += len
    }
    def varint(v0: Long): Unit = {
      ensure(10)
      var v = v0
      while ((v & ~0x7fL) != 0) { buf(n) = ((v & 0x7f) | 0x80).toByte; n += 1; v >>>= 7 }
      buf(n) = v.toByte; n += 1
    }
    /** Eight bytes, little-endian. */
    def fixed64(bits: Long): Unit = {
      ensure(8)
      var i = 0
      while (i < 8) { buf(n) = (bits >>> (8 * i)).toByte; n += 1; i += 1 }
    }
    def tag(field: Int, wire: Int): Unit = varint((field << 3) | wire)
    def str(field: Int, s: String): Unit = raw(field, s.getBytes("UTF-8"))
    def i64(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
    def dbl(field: Int, v: Double): Unit = {
      tag(field, 1); fixed64(java.lang.Double.doubleToLongBits(v))
    }
    def raw(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length); put(b, 0, b.length)
    }
    def msg(field: Int, body: W): Unit = {
      tag(field, 2); varint(body.n); put(body.buf, 0, body.n)
    }
    def bytes: Array[Byte] = java.util.Arrays.copyOf(buf, n)
    def size: Int = n
  }

  /** Bytes of `v` as a varint. */
  def varintSize(v: Long): Int =
    if (v < 0) 10 else (64 - java.lang.Long.numberOfLeadingZeros(v | 1) + 6) / 7

  final class R(buf: Array[Byte], var pos: Int, val end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var v = 0L; var shift = 0; var b = 0
      do { b = buf(pos) & 0xff; pos += 1; v |= (b & 0x7fL) << shift; shift += 7 } while ((b & 0x80) != 0)
      v
    }
    def tag(): (Int, Int) = { val t = varint(); ((t >>> 3).toInt, (t & 7).toInt) }
    def dbl(): Double = {
      var bits = 0L
      var i = 0
      while (i < 8) { bits |= (buf(pos) & 0xffL) << (8 * i); pos += 1; i += 1 }
      java.lang.Double.longBitsToDouble(bits)
    }
    def sub(): R = { val len = varint().toInt; val r = new R(buf, pos, pos + len); pos += len; r }
    def str(): String = { val len = varint().toInt; val s = new String(buf, pos, len, "UTF-8"); pos += len; s }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => pos += varint().toInt
      case 5 => pos += 4
    }
    def byteAt(i: Int): Byte = buf(pos + i)
    def advance(n: Int): Unit = pos += n
    def take(n: Int): Array[Byte] = {
      val a = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; a
    }
    def takeLen(): Array[Byte] = take(varint().toInt)
  }

  // ---- remote.proto messages ----
  final case class Query(startMs: Long, endMs: Long, matchers: Seq[LabelMatcher])

  /** remote.proto MatchType enum (0..3) ↔ our matcher types, with
    * Prometheus anchoring for regex (see class doc). */
  def matchTypeToProto(t: MatchType): Int = t match {
    case MatchType.Eq => 0; case MatchType.Neq => 1
    case MatchType.Re => 2; case MatchType.NotRe => 3
    case MatchType.Prefix =>
      throw new IllegalArgumentException("prefix matcher has no remote-read wire form")
  }
  def matchTypeFromProto(i: Int): MatchType = i match {
    case 0 => MatchType.Eq; case 1 => MatchType.Neq
    case 2 => MatchType.Re; case 3 => MatchType.NotRe
  }

  /** `ReadRequest.accepted_response_types` values (`remote.proto`). */
  val RespSamples = 0
  val RespStreamedXorChunks = 1

  def encodeReadRequest(queries: Seq[Query],
                        acceptedResponseTypes: Seq[Int] = Seq.empty): Array[Byte] = {
    val w = new W
    queries.foreach { q =>
      val qw = new W
      qw.i64(1, q.startMs); qw.i64(2, q.endMs)
      q.matchers.foreach { m =>
        val mw = new W
        if (matchTypeToProto(m.tpe) != 0) mw.i64(1, matchTypeToProto(m.tpe))
        mw.str(2, m.name); mw.str(3, m.value)
        qw.msg(3, mw)
      }
      w.msg(1, qw)
    }
    acceptedResponseTypes.foreach(t => w.i64(2, t.toLong))
    w.bytes
  }

  def decodeReadRequest(bytes: Array[Byte]): Seq[Query] =
    decodeReadRequestFull(bytes)._1

  /** Queries + accepted response types (field 2 — packed or unpacked,
    * both legal on the wire for a repeated proto3 enum). */
  def decodeReadRequestFull(bytes: Array[Byte]): (Seq[Query], Set[Int]) = {
    val accepted = scala.collection.mutable.Set[Int]()
    val out = scala.collection.mutable.ArrayBuffer[Query]()
    val r = new R(bytes)
    while (r.hasMore) r.tag() match {
      case (2, 0) => accepted += r.varint().toInt
      case (2, 2) =>
        val pr = r.sub(); while (pr.hasMore) accepted += pr.varint().toInt
      case other => decodeQueryField(other, r, out)
    }
    (out.toSeq, accepted.toSet)
  }

  private def decodeQueryField(tagWire: (Int, Int), r: R,
                               out: scala.collection.mutable.ArrayBuffer[Query]): Unit =
    tagWire match {
      case (1, 2) =>
        val qr = r.sub()
        var start = 0L; var end = 0L
        val ms = scala.collection.mutable.ArrayBuffer[LabelMatcher]()
        while (qr.hasMore) qr.tag() match {
          case (1, 0) => start = qr.varint()
          case (2, 0) => end = qr.varint()
          case (3, 2) =>
            val mr = qr.sub()
            var tpe = 0; var name = ""; var value = ""
            while (mr.hasMore) mr.tag() match {
              case (1, 0) => tpe = mr.varint().toInt
              case (2, 2) => name = mr.str()
              case (3, 2) => value = mr.str()
              case (_, wire) => mr.skip(wire)
            }
            ms += LabelMatcher(matchTypeFromProto(tpe), name, value)
          case (_, wire) => qr.skip(wire)
        }
        out += Query(start, end, ms.toSeq)
      case (_, wire) => r.skip(wire)
    }

  /** The series' labels by name, each a `Label{name = 1, value = 2}`
    * message in field 1 of `w`. */
  private def labels(w: W, ss: SampleStream): Unit =
    ss.labels.toSeq.sortBy(_._1).foreach { case (name, value) =>
      val nb = name.getBytes("UTF-8")
      val vb = value.getBytes("UTF-8")
      w.tag(1, 2)
      w.varint(2 + varintSize(nb.length) + nb.length + varintSize(vb.length) + vb.length)
      w.raw(1, nb); w.raw(2, vb)
    }

  /** One `TimeSeries` message (shared by QueryResult and WriteRequest —
    * remote.proto uses the same layout in both). Each
    * `Sample{value = 1, timestamp = 2}` is written in place, its length
    * known up front; a zero value (+0.0 only) is omitted, as proto3
    * omits defaults. */
  def encodeTimeSeries(ss: SampleStream): W = {
    val tw = new W(64 + 16 * ss.samples.size)
    labels(tw, ss)
    val it = ss.samples.iterator
    while (it.hasNext) {
      val s = it.next()
      val bits = java.lang.Double.doubleToLongBits(s.v)
      tw.tag(2, 2)
      tw.varint((if (bits != 0L) 9 else 0) + 1 + varintSize(s.t))
      if (bits != 0L) { tw.tag(1, 1); tw.fixed64(bits) }
      tw.i64(2, s.t)
    }
    tw
  }

  def encodeReadResponse(results: Seq[Seq[SampleStream]]): Array[Byte] =
    encodeReadResponseStreaming(results.map(_.iterator))

  /** Streaming encode: consumes each query's series from an iterator
    * (e.g. `Dataset.toLocalIterator`), so only the ENCODED bytes — not
    * the materialized series objects — accumulate on the driver. The
    * response itself is one snappy(protobuf) block (the v1 protocol
    * buffers the full Matrix; inherent). */
  def encodeReadResponseStreaming(results: Seq[Iterator[SampleStream]]): Array[Byte] = {
    val w = new W
    results.foreach { streams =>
      val rw = new W
      streams.foreach(ss => rw.msg(1, encodeTimeSeries(ss)))
      w.msg(1, rw)
    }
    w.bytes
  }

  // ---- STREAMED_XOR_CHUNKS response type (remote.proto's modern path) --
  // ChunkedReadResponse { repeated ChunkedSeries chunked_series = 1;
  //                       int64 query_index = 2; }
  // ChunkedSeries { repeated Label labels = 1; repeated Chunk chunks = 2; }
  // Chunk { int64 min_time_ms = 1; int64 max_time_ms = 2;
  //         Encoding type = 3 (XOR = 1); bytes data = 4; }
  // Each ChunkedReadResponse travels as its own frame:
  //   uvarint(len) | 4-byte BE crc32c(data) | data   (no snappy — the
  // XOR chunks are already compressed), so neither side ever holds more
  // than one frame of the response in memory.

  /** One ChunkedSeries message: labels + XOR-encoded sample groups,
    * each `Chunk` written in place with its length known up front. */
  def encodeChunkedSeries(ss: SampleStream,
                          maxSamplesPerChunk: Int = 120): W = {
    val sw = new W(64 + 2 * ss.samples.size)
    labels(sw, ss)
    ss.samples.grouped(maxSamplesPerChunk).foreach { grp =>
      val (mint, maxt) = (grp.head.t, grp.last.t)
      val data = graft.tsdb.XorChunk.encode(grp)
      sw.tag(2, 2)
      sw.varint(1 + varintSize(mint) + 1 + varintSize(maxt) + 2 +
        1 + varintSize(data.length) + data.length)
      sw.i64(1, mint); sw.i64(2, maxt)
      sw.i64(3, 1) // Encoding.XOR
      sw.raw(4, data)
    }
    sw
  }

  /** Frame one ChunkedReadResponse: uvarint length + BE crc32c + body. */
  def frame(body: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32C
    crc.update(body)
    val head = new W(16)
    head.varint(body.length)
    java.nio.ByteBuffer.allocate(head.size + 4 + body.length)
      .put(head.bytes).putInt(crc.getValue.toInt).put(body).array()
  }

  /** Stream a query's series as framed ChunkedReadResponse messages to
    * `sink`, batching series until ~`frameBytes` of encoded payload per
    * frame. Peak memory = one frame. */
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

  /** Parse a framed chunked response stream back into
    * (queryIndex, series, chunks=(mint, maxt, xorBytes)) — the client
    * side, used by the spec and any Scala consumer. Verifies each
    * frame's crc32c. */
  def decodeChunkedFrames(bytes: Array[Byte]): Seq[(Long, SampleStream, Seq[(Long, Long, Array[Byte])])] = {
    val out = scala.collection.mutable.ArrayBuffer[(Long, SampleStream, Seq[(Long, Long, Array[Byte])])]()
    val r = new R(bytes)
    while (r.hasMore) {
      val len = r.varint().toInt
      val crcWant = ((r.byteAt(0) & 0xffL) << 24) | ((r.byteAt(1) & 0xffL) << 16) |
        ((r.byteAt(2) & 0xffL) << 8) | (r.byteAt(3) & 0xffL)
      r.advance(4)
      val body = r.take(len)
      val crc = new java.util.zip.CRC32C
      crc.update(body)
      require((crc.getValue & 0xffffffffL) == crcWant, "chunked frame crc mismatch")
      // one ChunkedReadResponse
      var qi = 0L
      val br = new R(body)
      val seriesInFrame = scala.collection.mutable.ArrayBuffer[(SampleStream, Seq[(Long, Long, Array[Byte])])]()
      while (br.hasMore) br.tag() match {
        case (1, 2) =>
          val sr = br.sub()
          val labels = scala.collection.mutable.LinkedHashMap[String, String]()
          val chunks = scala.collection.mutable.ArrayBuffer[(Long, Long, Array[Byte])]()
          while (sr.hasMore) sr.tag() match {
            case (1, 2) =>
              val lr = sr.sub(); var n = ""; var v = ""
              while (lr.hasMore) lr.tag() match {
                case (1, 2) => n = lr.str()
                case (2, 2) => v = lr.str()
                case (_, wire) => lr.skip(wire)
              }
              labels(n) = v
            case (2, 2) =>
              val cr = sr.sub(); var mint = 0L; var maxt = 0L; var data = Array.empty[Byte]
              while (cr.hasMore) cr.tag() match {
                case (1, 0) => mint = cr.varint()
                case (2, 0) => maxt = cr.varint()
                case (3, 0) => require(cr.varint() == 1L, "unexpected chunk encoding")
                case (4, 2) => data = cr.takeLen()
                case (_, wire) => cr.skip(wire)
              }
              chunks += ((mint, maxt, data))
            case (_, wire) => sr.skip(wire)
          }
          seriesInFrame += ((SampleStream(labels.toMap, Seq.empty), chunks.toSeq))
        case (2, 0) => qi = br.varint()
        case (_, wire) => br.skip(wire)
      }
      seriesInFrame.foreach { case (ss, cks) => out += ((qi, ss, cks)) }
    }
    out.toSeq
  }

  /** remote.proto `WriteRequest{repeated TimeSeries timeseries = 1}`
    * (`remote.proto:34-36`) — same repeated-TimeSeries layout as
    * `QueryResult`, so the remote-WRITE body reuses the TimeSeries wire
    * helpers. */
  def encodeWriteRequest(series: Seq[SampleStream]): Array[Byte] = {
    val w = new W
    series.foreach(ss => w.msg(1, encodeTimeSeries(ss)))
    w.bytes
  }

  def decodeWriteRequest(bytes: Array[Byte]): Seq[SampleStream] = {
    val streams = scala.collection.mutable.ArrayBuffer[SampleStream]()
    val r = new R(bytes)
    while (r.hasMore) r.tag() match {
      case (1, 2) =>
        val tr = r.sub()
        val labels = scala.collection.mutable.Map[String, String]()
        val samples = scala.collection.mutable.ArrayBuffer[Sample]()
        while (tr.hasMore) tr.tag() match {
          case (1, 2) =>
            val lr = tr.sub()
            var n = ""; var v = ""
            while (lr.hasMore) lr.tag() match {
              case (1, 2) => n = lr.str()
              case (2, 2) => v = lr.str()
              case (_, wire) => lr.skip(wire)
            }
            labels(n) = v
          case (2, 2) =>
            val sr = tr.sub()
            var t = 0L; var v = 0.0
            while (sr.hasMore) sr.tag() match {
              case (1, 1) => v = sr.dbl()
              case (2, 0) => t = sr.varint()
              case (_, wire) => sr.skip(wire)
            }
            samples += Sample(t, v)
          case (_, wire) => tr.skip(wire)
        }
        streams += SampleStream(labels.toMap, samples.toSeq)
      case (_, wire) => r.skip(wire)
    }
    streams.toSeq
  }

  def decodeReadResponse(bytes: Array[Byte]): Seq[Seq[SampleStream]] = {
    val out = scala.collection.mutable.ArrayBuffer[Seq[SampleStream]]()
    val r = new R(bytes)
    while (r.hasMore) r.tag() match {
      case (1, 2) =>
        val rr = r.sub()
        val streams = scala.collection.mutable.ArrayBuffer[SampleStream]()
        while (rr.hasMore) rr.tag() match {
          case (1, 2) =>
            val tr = rr.sub()
            val labels = scala.collection.mutable.Map[String, String]()
            val samples = scala.collection.mutable.ArrayBuffer[Sample]()
            while (tr.hasMore) tr.tag() match {
              case (1, 2) =>
                val lr = tr.sub()
                var n = ""; var v = ""
                while (lr.hasMore) lr.tag() match {
                  case (1, 2) => n = lr.str()
                  case (2, 2) => v = lr.str()
                  case (_, wire) => lr.skip(wire)
                }
                labels(n) = v
              case (2, 2) =>
                val sr = tr.sub()
                var t = 0L; var v = 0.0
                while (sr.hasMore) sr.tag() match {
                  case (1, 1) => v = sr.dbl()
                  case (2, 0) => t = sr.varint()
                  case (_, wire) => sr.skip(wire)
                }
                samples += Sample(t, v)
              case (_, wire) => tr.skip(wire)
            }
            streams += SampleStream(labels.toMap, samples.toSeq)
          case (_, wire) => rr.skip(wire)
        }
        out += streams.toSeq
      case (_, wire) => r.skip(wire)
    }
    out.toSeq
  }
}

/** HTTP server for `POST /read` over a [[TsQuerier]] — the full query
  * lifecycle of the reference (`server.go:64-97`): body → snappy →
  * ReadRequest → per-query select → Matrix → ReadResponse → snappy. */
final class RemoteReadServer(querier: => TsQuerier, port: Int = 0, threads: Int = 8,
                             writeSink: Option[Seq[SampleStream] => Unit] = None,
                             metadataSource: Option[() => org.apache.spark.sql.DataFrame] = None,
                             exemplarSource: Option[() => org.apache.spark.sql.DataFrame] = None,
                             rulesSource: Option[() => Seq[graft.promql.RuleGroup]] = None,
                             rulesFile: String = "rules.yml",
                             targetsSource: Option[() => Seq[Scraper.TargetStatus]] = None,
                             configSource: Option[() => String] = None,
                             adminStore: Option[(org.apache.spark.sql.SparkSession, String)] = None) {
  // by-name querier: each request resolves a FRESH store view (the
  // reference re-locks its block list per query, querier.go:25-46), so
  // data appended between requests — e.g. via /write — is visible
  //
  // TCP_NODELAY on every accepted connection: without it Nagle's
  // algorithm holds a response's body segment until the client's
  // delayed ACK for the headers arrives, ~40 ms per request. The JDK
  // server reads the property once, when its config class loads, so it
  // is set before the first server is created.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // default HttpServer executor runs handlers on the dispatch thread,
  // serializing all requests; a pool lets concurrent reads overlap their
  // Spark jobs (the scheduler interleaves fairly across them)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)

  // per-endpoint request counters, self-exposed on /metrics in the
  // text exposition format — the convention every service in the
  // reference's ecosystem follows
  private val requestCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private def hit(path: String): Unit = {
    requestCounts.computeIfAbsent(path,
      _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
    ()
  }
  // remote-read selects by how they ran: "native" (driver-local, from
  // the block index) or "spark" (a Dataset job, the fallback)
  private val selects =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  server.createContext("/metrics", (ex: HttpExchange) => {
    hit("/metrics")
    import scala.jdk.CollectionConverters._
    def family(name: String, kind: String, help: String, samples: Seq[(String, Long)]) =
      Seq(s"# HELP $name $help", s"# TYPE $name $kind") ++
        samples.map { case (labels, v) => s"$name$labels $v" }
    def byLabel(label: String, m: java.util.concurrent.ConcurrentHashMap[String,
        java.util.concurrent.atomic.AtomicLong]) =
      m.asScala.toSeq.sortBy(_._1).map { case (k, c) => (s"""{$label="$k"}""", c.get) }
    val lines =
      family("graft_http_requests_total", "counter", "Requests served per endpoint.",
        byLabel("path", requestCounts)) ++
      family("graft_remote_read_selects_total", "counter",
        "Remote-read selects by execution path (native: driver-local; spark: a Spark job).",
        byLabel("path", selects)) ++
      family("graft_chunk_cache_hits_total", "counter", "Chunk record cache hits in this JVM.",
        Seq("" -> ChunkFile.RecordCache.hits)) ++
      family("graft_chunk_cache_misses_total", "counter", "Chunk record cache misses in this JVM.",
        Seq("" -> ChunkFile.RecordCache.misses)) ++
      family("graft_chunk_cache_evictions_total", "counter", "Chunk record cache evictions in this JVM.",
        Seq("" -> ChunkFile.RecordCache.evictions)) ++
      family("graft_chunk_cache_bytes", "gauge", "Bytes held by the chunk record cache.",
        Seq("" -> ChunkFile.RecordCache.currentBytes)) ++
      family("graft_chunk_bytes_fetched_total", "counter", "Chunk segment bytes read from storage.",
        Seq("" -> ChunkFile.bytesFetched.get)) ++
      family("graft_index_cache_hits_total", "counter", "Parsed block index cache hits in this JVM.",
        Seq("" -> TsdbIndexCache.hits)) ++
      family("graft_index_cache_misses_total", "counter", "Parsed block index cache misses in this JVM.",
        Seq("" -> TsdbIndexCache.misses)) ++
      family("graft_index_cache_evictions_total", "counter", "Parsed block index cache evictions in this JVM.",
        Seq("" -> TsdbIndexCache.evictions)) ++
      family("graft_index_cache_entries", "gauge", "Parsed block indexes held by the cache.",
        Seq("" -> TsdbIndexCache.entryCount.toLong)) ++
      family("graft_persist_hits_total", "counter", "Persisted-plan registry hits in this JVM.",
        Seq("" -> Persisted.hits)) ++
      family("graft_persist_misses_total", "counter", "Persisted-plan registry misses in this JVM.",
        Seq("" -> Persisted.misses)) ++
      family("graft_persist_evictions_total", "counter", "Persisted-plan registry evictions in this JVM.",
        Seq("" -> Persisted.evictions)) ++
      family("graft_persist_entries", "gauge", "Persisted plans held by the registry.",
        Seq("" -> Persisted.entryCount.toLong)) ++
      family("graft_persist_bytes", "gauge", "Materialized bytes held by the persisted-plan registry.",
        Seq("" -> Persisted.bytes)) ++
      family("graft_codegen_compilations_total", "counter",
        "Generated classes Spark compiled in this JVM (codegen cache misses).",
        Seq("" -> org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount))
    val body = (lines.mkString("\n") + "\n").getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4")
    ex.sendResponseHeaders(200, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  })

  server.createContext("/read", (ex: HttpExchange) => {
    hit("/read")
    // once the streamed path has committed its 200 headers, an error can
    // no longer be reported in-band: re-sending headers on a committed
    // exchange throws a SECONDARY exception and leaks the exchange. Track
    // commitment and, mid-stream, abort the connection instead — the
    // client sees a truncated chunked body (each complete frame already
    // flushed decodes; truncation = error for this transport, exactly the
    // upstream streamed remote-read contract).
    var headersSent = false
    try {
      if (ex.getRequestMethod != "POST") {
        ex.sendResponseHeaders(405, -1); ex.close()
      } else {
        val (queries, accepted) = RemoteReadServer.parseRequest(ex.getRequestBody.readAllBytes())
        val q = querier
        def select(query: Proto.Query): Iterator[SampleStream] = {
          selects.computeIfAbsent(if (q.hasLocalSelect) "native" else "spark",
            _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
          q.streamSelect(query.startMs, query.endMs, query.matchers)
        }
        if (accepted.contains(Proto.RespStreamedXorChunks)) {
          // modern streamed path: each ChunkedReadResponse frame goes out
          // as soon as it fills — neither side ever buffers the full
          // response (the SAMPLES path below must, protocol-inherent)
          ex.getResponseHeaders.set("Content-Type",
            "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse")
          ex.sendResponseHeaders(200, 0) // chunked transfer
          headersSent = true
          val os = ex.getResponseBody
          queries.zipWithIndex.foreach { case (query, i) =>
            Proto.writeChunkedFrames(select(query), i.toLong, b => { os.write(b); os.flush() })
          }
          ex.close()
        } else {
          // series stream in (one Spark task's worth at a time on the
          // fallback), and only the growing ENCODED buffer is held —
          // peak memory is bounded by the wire size of the response, not
          // by materialized row objects
          val resp = Snappy.compress(Proto.encodeReadResponseStreaming(queries.map(select)))
          ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
          ex.getResponseHeaders.set("Content-Encoding", "snappy")
          ex.sendResponseHeaders(200, resp.length)
          headersSent = true
          ex.getResponseBody.write(resp)
          ex.close()
        }
      }
    } catch {
      case e: Exception if !headersSent =>
        // 400 only for the request itself; any other failure is ours
        val status = if (e.isInstanceOf[RemoteReadServer.BadRequest]) 400 else 500
        val msg = ("remote read error: " + e.getMessage).getBytes("UTF-8")
        ex.sendResponseHeaders(status, msg.length)
        ex.getResponseBody.write(msg)
        ex.close()
      case _: Exception =>
        // mid-stream failure: 200 already committed — abort the
        // connection so the client sees truncation, never a fake success
        // trailer and never a secondary headers-already-sent throw
        ex.close()
    }
  })

  // beyond-reference: Prometheus remote-WRITE directly into the store
  // (agni ingests via the shipper only; accepting /write makes the store
  // a drop-in remote_write target, no sidecar needed)
  writeSink.foreach { sink =>
    server.createContext("/write", (ex: HttpExchange) => {
      hit("/write")
      try {
        if (ex.getRequestMethod != "POST") {
          ex.sendResponseHeaders(405, -1); ex.close()
        } else {
          val body = ex.getRequestBody.readAllBytes()
          sink(Proto.decodeWriteRequest(Snappy.uncompress(body)))
          ex.sendResponseHeaders(204, -1)
          ex.close()
        }
      } catch {
        case e: Exception =>
          val msg = ("remote write error: " + e.getMessage).getBytes("UTF-8")
          ex.sendResponseHeaders(400, msg.length)
          ex.getResponseBody.write(msg)
          ex.close()
      }
    })
  }

  // beyond-reference: the Prometheus HTTP query API's range endpoint,
  // answered by the in-engine PromQL front-end (graft.promql) — a
  // Grafana-style client can point at this server directly instead of
  // proxying raw samples through an upstream Prometheus. Matrix JSON
  // matches the upstream wire shape: {"status":"success","data":
  // {"resultType":"matrix","result":[{"metric":{...},"values":
  // [[seconds, "v"], ...]}]}}.
  jsonContext("/api/v1/query_range") { ex =>
    val params = QueryApi.params(ex)
    def need(k: String) = params.getOrElse(k,
      throw new IllegalArgumentException(s"missing parameter '$k'"))
    val startMs = QueryApi.toMs(need("start"))
    val endMs = QueryApi.toMs(need("end"))
    val stepMs = QueryApi.durMs(need("step"))
    val df = graft.promql.PromQL.rangeQuery(
      querier, need("query"), startMs, endMs, stepMs,
      extrapolate = params.get("extrapolate").contains("true"))
    QueryApi.matrixJson(df, withStats = params.get("stats").exists(_.nonEmpty))
  }

  /** Standard query-API error envelope around a JSON-producing
    * handler. */
  private def jsonContext(path: String)(f: HttpExchange => String): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      hit(path)
      try {
        val body = f(ex).getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      } catch {
        case e: Exception =>
          val msg = ("""{"status":"error","errorType":"bad_data","error":""" +
            QueryApi.jsonStr(String.valueOf(e.getMessage)) + "}").getBytes("UTF-8")
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(400, msg.length)
          ex.getResponseBody.write(msg)
          ex.close()
      }
    })

  // beyond-reference: the rest of the Prometheus HTTP query API —
  // instant queries, label metadata and series discovery — the calls a
  // Grafana datasource probe actually makes beyond /query_range
  jsonContext("/api/v1/query") { ex =>
    val params = QueryApi.params(ex)
    def need(k: String) = params.getOrElse(k,
      throw new IllegalArgumentException(s"missing parameter '$k'"))
    val atMs = params.get("time").map(QueryApi.toMs)
      .getOrElse(System.currentTimeMillis())
    QueryApi.vectorJson(graft.promql.PromQL.instantQuery(
      querier, need("query"), atMs,
      extrapolate = params.get("extrapolate").contains("true")),
      withStats = params.get("stats").exists(_.nonEmpty))
  }

  jsonContext("/api/v1/labels") { _ =>
    QueryApi.stringListJson(querier.labelNames()
      .collect().map(_.getString(0)).toSeq)
  }

  // /api/v1/label/<name>/values
  jsonContext("/api/v1/label") { ex =>
    ex.getRequestURI.getPath.split('/') match {
      case Array(_, "api", "v1", "label", name, "values") =>
        QueryApi.stringListJson(querier.labelValues(name)
          .collect().map(_.getString(0)).toSeq)
      case _ =>
        throw new IllegalArgumentException(
          "expected /api/v1/label/<name>/values")
    }
  }

  // /api/v1/metadata — scrape-harvested # HELP/# TYPE/# UNIT (upstream
  // response shape: data maps metric → [{type, help, unit}]); params
  // `metric` (exact filter) and `limit` (number of metrics) as upstream
  jsonContext("/api/v1/metadata") { ex =>
    val params = QueryApi.params(ex)
    val rows = metadataSource match {
      case None => Array.empty[org.apache.spark.sql.Row]
      case Some(src) =>
        import org.apache.spark.sql.functions.col
        val base = src()
        val filtered = params.get("metric")
          .map(m => base.where(col("metric") === m)).getOrElse(base)
        val limited = params.get("limit").map(_.toInt)
          .map(l => filtered.orderBy(col("metric")).limit(l))
          .getOrElse(filtered.orderBy(col("metric")))
        limited.collect()
    }
    rows.map { r =>
      QueryApi.jsonStr(r.getString(0)) +
        s""":[{"type":${QueryApi.jsonStr(if (r.getString(1).isEmpty) "unknown" else r.getString(1))},""" +
        s""""help":${QueryApi.jsonStr(r.getString(2))},"unit":${QueryApi.jsonStr(r.getString(3))}}]"""
    }.mkString("""{"status":"success","data":{""", ",", "}}")
  }

  // /api/v1/query_exemplars — scrape-harvested OpenMetrics exemplars
  // for the series matching `query` within [start, end] (upstream
  // shape: seriesLabels + exemplars[{labels, value, timestamp}])
  jsonContext("/api/v1/query_exemplars") { ex =>
    import org.apache.spark.sql.functions.{coalesce, col, element_at, lit}
    val params = QueryApi.params(ex)
    val q = params.getOrElse("query",
      throw new IllegalArgumentException("missing parameter 'query'"))
    val matchers = graft.promql.PromQL.parse(q) match {
      case sel: graft.promql.PromExpr.Selector if sel.rangeMs.isEmpty => sel.matchers
      case _ => throw new IllegalArgumentException(
        s"query must be an instant selector: '$q'")
    }
    val mint = params.get("start").map(QueryApi.toMs).getOrElse(0L)
    val maxt = params.get("end").map(QueryApi.toMs).getOrElse(4102444800000L)
    val rows = exemplarSource match {
      case None => Array.empty[org.apache.spark.sql.Row]
      case Some(src) =>
        val base = src().where(col("t").between(mint, maxt))
        matchers.foldLeft(base)((d, m) => d.where(m.predicate(
            coalesce(element_at(col("labels"), m.name), lit("")))))
          .orderBy(col("t")).collect()
    }
    QueryApi.exemplarsJson(rows)
  }

  // /-/healthy and /-/ready — the liveness/readiness probes every
  // Prometheus-compatible deployment manifest points at; plain text,
  // always 200 once the HTTP server is up (the store view resolves
  // per request, so "started" IS "ready" here)
  private def probe(path: String, text: String): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      hit(path)
      val body = (text + "\n").getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
  probe("/-/healthy", "Graft is Healthy.")
  probe("/-/ready", "Graft is Ready.")

  private val startedAtMs = System.currentTimeMillis()

  // /api/v1/status/runtimeinfo — uptime/runtime facts an operator's
  // dashboard shows; JVM stand-ins for the upstream Go fields
  jsonContext("/api/v1/status/runtimeinfo") { _ =>
    val rt = Runtime.getRuntime
    s"""{"status":"success","data":{""" +
      s""""startTime":${QueryApi.jsonStr(java.time.Instant.ofEpochMilli(startedAtMs).toString)},""" +
      s""""CWD":${QueryApi.jsonStr(System.getProperty("user.dir"))},""" +
      s""""reloadConfigSuccess":true,""" +
      s""""goroutineCount":${Thread.activeCount()},""" +
      s""""GOMAXPROCS":${rt.availableProcessors()},""" +
      s""""GOGC":"","GODEBUG":"",""" +
      s""""storageRetention":"0s"}}"""
  }

  // /api/v1/status/flags — the engine knobs that shape query behavior
  // (upstream serves its CLI flags; the Spark-native analogs are conf)
  jsonContext("/api/v1/status/flags") { _ =>
    def conf(k: String, dflt: String) =
      try org.apache.spark.sql.SparkSession.active.conf.get(k, dflt)
      catch { case _: Throwable => dflt }
    s"""{"status":"success","data":{""" +
      s""""query.lookback-delta":"5m",""" +
      s""""spark.sql.shuffle.partitions":${QueryApi.jsonStr(conf("spark.sql.shuffle.partitions", ""))},""" +
      s""""${Persisted.MaxBytesKey}":""" +
      QueryApi.jsonStr(conf(Persisted.MaxBytesKey, Persisted.DefaultMaxBytes.toString)) + "}}"
  }

  // /api/v1/status/config — the loaded configuration, verbatim (the
  // operator's "what is this server actually running with")
  jsonContext("/api/v1/status/config") { _ =>
    val yaml = configSource.map(_()).getOrElse("")
    s"""{"status":"success","data":{"yaml":${QueryApi.jsonStr(yaml)}}}"""
  }

  // /api/v1/targets — scrape-pool state from the attached Scraper
  // loops (upstream's activeTargets): health, last scrape, last error
  jsonContext("/api/v1/targets") { ex =>
    val state = QueryApi.params(ex).get("state")
    val all = targetsSource.map(_()).getOrElse(Seq.empty)
    val shown = state match {
      case Some("active") | None => all
      case Some("dropped") => Seq.empty // no relabeling → nothing dropped
      case Some("any") => all
      case Some(other) => throw new IllegalArgumentException(
        s"bad parameter 'state': expected active|dropped|any, got '$other'")
    }
    val entries = shown.map { t =>
      s"""{"scrapeUrl":${QueryApi.jsonStr(t.url)},""" +
        s""""health":${QueryApi.jsonStr(t.health)},""" +
        s""""lastScrape":${QueryApi.jsonStr(
          if (t.lastScrapeMs == 0) "0001-01-01T00:00:00Z"
          else java.time.Instant.ofEpochMilli(t.lastScrapeMs).toString)},""" +
        s""""lastScrapeDuration":${t.lastDurationSec},""" +
        s""""lastError":${QueryApi.jsonStr(t.lastError)},""" +
        s""""scrapesTotal":${t.scrapes},"failuresTotal":${t.failures},""" +
        s""""samplesTotal":${t.samples},"labels":{},"discoveredLabels":{}}"""
    }
    s"""{"status":"success","data":{"activeTargets":[${entries.mkString(",")}],"droppedTargets":[]}}"""
  }

  // Admin API (upstream gates it behind --web.enable-admin-api; here
  // the gate is the adminStore parameter): POST-only, 204 on success,
  // acting directly on the canonical store the server fronts.
  //  - delete_series: append deletion-log records (visible to queries
  //    immediately via the per-request mask, physical later)
  //  - clean_tombstones: materialize the pending log (partition-local
  //    block rewrites, the upstream tombstone-compaction semantic)
  //  - snapshot: consistent file-level copy under snapshots/<name>
  adminStore.foreach { case (spark, store) =>
    def adminContext(path: String)(f: HttpExchange => Option[String]): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        hit(path)
        try {
          if (ex.getRequestMethod != "POST" && ex.getRequestMethod != "PUT") {
            ex.sendResponseHeaders(405, -1); ex.close()
          } else f(ex) match {
            case None => ex.sendResponseHeaders(204, -1); ex.close()
            case Some(body) =>
              val b = body.getBytes("UTF-8")
              ex.getResponseHeaders.set("Content-Type", "application/json")
              ex.sendResponseHeaders(200, b.length)
              ex.getResponseBody.write(b)
              ex.close()
          }
        } catch {
          case e: Exception =>
            val msg = ("""{"status":"error","errorType":"bad_data","error":""" +
              QueryApi.jsonStr(String.valueOf(e.getMessage)) + "}").getBytes("UTF-8")
            ex.getResponseHeaders.set("Content-Type", "application/json")
            ex.sendResponseHeaders(400, msg.length)
            ex.getResponseBody.write(msg)
            ex.close()
        }
      })

    adminContext("/api/v1/admin/tsdb/delete_series") { ex =>
      val all = QueryApi.paramsList(ex)
      val sels = all.collect { case ("match[]", v) => v }
      if (sels.isEmpty)
        throw new IllegalArgumentException("missing parameter 'match[]'")
      val params = all.toMap
      val mint = params.get("start").map(QueryApi.toMs).getOrElse(Long.MinValue / 2)
      val maxt = params.get("end").map(QueryApi.toMs).getOrElse(Long.MaxValue / 2)
      sels.foreach { s =>
        graft.promql.PromQL.parse(s) match {
          case sel: graft.promql.PromExpr.Selector if sel.rangeMs.isEmpty =>
            graft.tsdb.TsDeletions.delete(spark, store, sel.matchers, mint, maxt)
          case _ => throw new IllegalArgumentException(
            s"match[] must be an instant selector: '$s'")
        }
      }
      None
    }

    adminContext("/api/v1/admin/tsdb/clean_tombstones") { _ =>
      graft.tsdb.TsDeletions.materialize(spark, store)
      None
    }

    adminContext("/api/v1/admin/tsdb/snapshot") { ex =>
      val skip = QueryApi.params(ex).get("skip_head").contains("true")
      val name = graft.tsdb.TsMaintenance.snapshot(spark, store,
        skipPending = skip)
      Some(s"""{"status":"success","data":{"name":${QueryApi.jsonStr(name)}}}""")
    }
  }

  // /api/v1/status/buildinfo — Grafana's datasource probe reads the
  // version for feature detection; Prometheus-compatible backends
  // (Thanos/Mimir convention) answer with the API level they speak
  jsonContext("/api/v1/status/buildinfo") { _ =>
    """{"status":"success","data":{"version":"2.54.0","revision":"graft",""" +
      """"branch":"","buildUser":"","buildDate":"","goVersion":""}}"""
  }

  // /api/v1/format_query — the upstream prettifier endpoint: parse,
  // pretty-print, return the canonical form (Format's contract is
  // round-trip fidelity, property-gated in PromQLSpec)
  jsonContext("/api/v1/format_query") { ex =>
    val q = QueryApi.params(ex).getOrElse("query",
      throw new IllegalArgumentException("missing parameter 'query'"))
    """{"status":"success","data":""" +
      QueryApi.jsonStr(graft.promql.Format.format(
        graft.promql.PromQL.parse(q))) + "}"
  }

  // /api/v1/parse_query — the upstream (experimental) AST endpoint:
  // the parsed tree as typed JSON, for editors/linters that want
  // structure instead of text
  jsonContext("/api/v1/parse_query") { ex =>
    val q = QueryApi.params(ex).getOrElse("query",
      throw new IllegalArgumentException("missing parameter 'query'"))
    """{"status":"success","data":""" +
      graft.promql.Format.json(graft.promql.PromQL.parse(q)) + "}"
  }

  // /api/v1/status/tsdb — the cardinality dashboard an operator reads
  // to find the label exploding the index; `limit` as upstream
  jsonContext("/api/v1/status/tsdb") { ex =>
    val limit = QueryApi.params(ex).get("limit").map(_.toInt).getOrElse(10)
    QueryApi.tsdbStatsJson(querier.tsdbStats(limit))
  }

  jsonContext("/api/v1/series") { ex =>
    val all = QueryApi.paramsList(ex)
    val sels = all.collect { case ("match[]", v) => v }
    if (sels.isEmpty)
      throw new IllegalArgumentException("missing parameter 'match[]'")
    val params = all.toMap
    val mint = params.get("start").map(QueryApi.toMs).getOrElse(0L)
    val maxt = params.get("end").map(QueryApi.toMs)
      .getOrElse(4102444800000L) // 2100-01-01: "unbounded"
    val frames = sels.map { s =>
      graft.promql.PromQL.parse(s) match {
        case sel: graft.promql.PromExpr.Selector if sel.rangeMs.isEmpty =>
          querier.selectLong(mint, maxt, sel.matchers)
            .select(org.apache.spark.sql.functions.col("labels"))
        case _ => throw new IllegalArgumentException(
          s"match[] must be an instant selector: '$s'")
      }
    }
    QueryApi.seriesJson(frames.reduce(_ unionByName _))
  }

  // beyond-reference: /api/v1/rules + /api/v1/alerts — the
  // rule-manager half of the Prometheus HTTP API, served from a parsed
  // rule file (graft.promql.Rules) with alert state computed per
  // request against the CURRENT store view (the by-name querier), so
  // data appended since startup moves alerts between
  // inactive/pending/firing. `time` overrides now() for reproducible
  // reads — same convention as /federate. State cost is bounded: two
  // grid evaluations per alerting rule, result rows per alert
  // INSTANCE, never raw samples.
  jsonContext("/api/v1/rules") { ex =>
    val params = QueryApi.params(ex)
    val atMs = params.get("time").map(QueryApi.toMs)
      .getOrElse(System.currentTimeMillis())
    val all = rulesSource.map(_()).getOrElse(Seq.empty)
    val groups = params.get("type") match {
      case Some("alert") => all.map(g => g.copy(rules = g.rules.filter(_.isAlert)))
      case Some("record") => all.map(g => g.copy(rules = g.rules.filterNot(_.isAlert)))
      case Some(other) => throw new IllegalArgumentException(
        s"bad parameter 'type': expected alert|record, got '$other'")
      case None => all
    }
    val active = graft.promql.Rules.activeAlerts(querier, groups, atMs)
    QueryApi.rulesJson(groups, active, rulesFile, atMs)
  }

  jsonContext("/api/v1/alerts") { ex =>
    val params = QueryApi.params(ex)
    val atMs = params.get("time").map(QueryApi.toMs)
      .getOrElse(System.currentTimeMillis())
    val groups = rulesSource.map(_()).getOrElse(Seq.empty)
    QueryApi.alertsJson(
      graft.promql.Rules.activeAlerts(querier, groups, atMs))
  }

  // beyond-reference: /federate — the endpoint an UPSTREAM Prometheus
  // scrapes to pull this engine's series (public federation docs): for
  // each match[] instant selector, the LATEST sample per series within
  // the staleness lookback (5m, upstream's default), rendered in the
  // text exposition format by graft.tsdb.Exposition. `time` overrides
  // now() for reproducible pulls. The collect is federation-bounded:
  // one row per matched series, never raw samples.
  server.createContext("/federate", (ex: HttpExchange) => {
    hit("/federate")
    try {
      val all = QueryApi.paramsList(ex)
      val sels = all.collect { case ("match[]", v) => v }
      if (sels.isEmpty)
        throw new IllegalArgumentException("missing parameter 'match[]'")
      val params = all.toMap
      val atMs = params.get("time").map(QueryApi.toMs)
        .getOrElse(System.currentTimeMillis())
      val lookbackMs = 300000L
      import org.apache.spark.sql.functions._
      val frames = sels.map { s =>
        graft.promql.PromQL.parse(s) match {
          case sel: graft.promql.PromExpr.Selector if sel.rangeMs.isEmpty =>
            querier.selectLong(atMs - lookbackMs, atMs, sel.matchers)
              .select(col("labels"), col("t"), col("v"))
          case _ => throw new IllegalArgumentException(
            s"match[] must be an instant selector: '$s'")
        }
      }
      // union + group dedupes series across overlapping selectors
      val latest = frames.reduce(_ unionByName _)
        .groupBy(col("labels"))
        .agg(max(col("t")).as("t"), max_by(col("v"), col("t")).as("v"))
      val lines = graft.tsdb.Exposition.render(latest)
        .collect().map(_.getString(0)).sorted
      val body = (lines.mkString("\n") + "\n").getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    } catch {
      case e: Exception =>
        val msg = ("federate error: " + e.getMessage).getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "text/plain")
        ex.sendResponseHeaders(400, msg.length)
        ex.getResponseBody.write(msg)
        ex.close()
    }
  })

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object RemoteReadServer {
  /** A request the server cannot answer as sent: bad snappy, bad
    * protobuf, or an invalid matcher or regex (→ 400). */
  final class BadRequest(cause: Throwable) extends Exception(cause.getMessage, cause)

  /** Decode a `/read` body and compile every matcher, so a malformed
    * request fails here, before any header is sent, as a [[BadRequest]]. */
  def parseRequest(body: Array[Byte]): (Seq[Proto.Query], Set[Int]) =
    try {
      val parsed = Proto.decodeReadRequestFull(Snappy.uncompress(body))
      parsed._1.foreach(_.matchers.foreach(_.evaluator))
      parsed
    } catch { case e: Exception => throw new BadRequest(e) }
}

/** Parameter parsing + Prometheus-matrix JSON encoding for the
  * `/api/v1/query_range` endpoint. */
object QueryApi {
  import org.apache.spark.sql.functions._

  /** URI query-string and form-body parameters in order, repeats kept
    * (`match[]` may legally appear several times). Reads the request
    * body — call once per exchange. */
  def paramsList(ex: HttpExchange): Seq[(String, String)] = {
    def split(s: String): Seq[(String, String)] =
      if (s == null || s.isEmpty) Seq.empty
      else s.split('&').iterator.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(
            java.net.URLDecoder.decode(k, "UTF-8") ->
              java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toSeq
    val fromUri = split(ex.getRequestURI.getRawQuery)
    val fromBody =
      if (ex.getRequestMethod == "POST")
        split(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      else Seq.empty
    fromUri ++ fromBody
  }

  /** Merge URI query-string and form-body parameters (Prometheus
    * accepts both GET and POST form); body wins on duplicates. */
  def params(ex: HttpExchange): Map[String, String] = paramsList(ex).toMap

  /** Prometheus timestamps: unix seconds, possibly fractional. */
  def toMs(s: String): Long = math.round(s.toDouble * 1000.0)

  /** Step: float seconds or a duration literal like `1m`. */
  def durMs(s: String): Long =
    if (s.nonEmpty && s.forall(c => c.isDigit || c == '.'))
      math.round(s.toDouble * 1000.0)
    else QueryApi.parseDuration(s)

  private[remote] def parseDuration(s: String): Long = {
    // reuse the PromQL duration grammar by parsing "x[<dur>]"
    graft.promql.PromQL.parse(s"x[$s]") match {
      case graft.promql.PromExpr.Selector(_, Some(ms), _, _) => ms
      case _ => throw new IllegalArgumentException(s"bad duration '$s'")
    }
  }

  def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Encode the evaluator's (labels, t, v) frame as a Prometheus
    * matrix. Series assemble on the EXECUTORS (one shuffle on the
    * series key); the driver streams one series at a time into the
    * growing JSON buffer via toLocalIterator — peak driver memory is
    * the encoded response, not row objects (same discipline as the
    * remote-read path). */
  /** Execution statistics appended into the data object when the
    * upstream `stats` query param is present: wall time of the whole
    * evaluation+render (execution happens inside the streamed
    * iteration, so this IS eval time) and result sizes counted during
    * the same pass. `resultSeries`/`resultSamples` instead of
    * upstream's engine-internal sample-churn counters — the store-side
    * analogs an operator actually acts on. */
  private def statsJson(evalSec: Double, series: Long, samples: Long): String =
    s""","stats":{"timings":{"evalTotalTime":$evalSec},""" +
      s""""samples":{"resultSeries":$series,"resultSamples":$samples}}"""

  def matrixJson(result: org.apache.spark.sql.DataFrame,
                 withStats: Boolean = false): String = {
    import scala.jdk.CollectionConverters._
    val t0 = System.nanoTime()
    val series = result
      .groupBy(col("labels"))
      .agg(sort_array(collect_list(struct(col("t"), col("v")))).as("samples"))
      .orderBy(col("labels"))
    val sb = new StringBuilder(
      """{"status":"success","data":{"resultType":"matrix","result":[""")
    var firstSeries = true
    var nSeries = 0L; var nSamples = 0L
    series.toLocalIterator().asScala.foreach { row =>
      if (!firstSeries) sb.append(',')
      firstSeries = false
      sb.append("""{"metric":{""")
      val labels = row.getSeq[org.apache.spark.sql.Row](0)
      sb.append(labels.map(l =>
        jsonStr(l.getString(0)) + ":" + jsonStr(l.getString(1))).mkString(","))
      sb.append("""},"values":[""")
      val samples = row.getSeq[org.apache.spark.sql.Row](1)
      nSeries += 1; nSamples += samples.size
      sb.append(samples.map { s =>
        val t = s.getLong(0); val v = s.getDouble(1)
        val ts = if (t % 1000 == 0) (t / 1000).toString else (t / 1000.0).toString
        s"[$ts,${jsonStr(fmt(v))}]"
      }.mkString(","))
      sb.append("]}")
    }
    sb.append("]")
    if (withStats)
      sb.append(statsJson((System.nanoTime() - t0) / 1e9, nSeries, nSamples))
    sb.append("}}")
    sb.toString
  }

  /** Instant-query result: the Prometheus `vector` envelope — one
    * `[seconds, "v"]` value per series. Same streaming discipline as
    * [[matrixJson]]. */
  def vectorJson(result: org.apache.spark.sql.DataFrame,
                 withStats: Boolean = false): String = {
    import scala.jdk.CollectionConverters._
    val t0 = System.nanoTime()
    val rows = result.orderBy(col("labels"))
    val sb = new StringBuilder(
      """{"status":"success","data":{"resultType":"vector","result":[""")
    var first = true
    var n = 0L
    rows.toLocalIterator().asScala.foreach { row =>
      if (!first) sb.append(',')
      first = false
      n += 1
      sb.append("""{"metric":{""")
      val labels = row.getSeq[org.apache.spark.sql.Row](
        row.fieldIndex("labels"))
      sb.append(labels.map(l =>
        jsonStr(l.getString(0)) + ":" + jsonStr(l.getString(1))).mkString(","))
      val t = row.getLong(row.fieldIndex("t"))
      val v = row.getDouble(row.fieldIndex("v"))
      val ts = if (t % 1000 == 0) (t / 1000).toString else (t / 1000.0).toString
      sb.append("""},"value":[""").append(ts).append(',')
        .append(jsonStr(fmt(v))).append("]}")
    }
    sb.append("]")
    if (withStats)
      sb.append(statsJson((System.nanoTime() - t0) / 1e9, n, n))
    sb.append("}}")
    sb.toString
  }

  /** `{"status":"success","data":[...strings...]}` — the /labels and
    * /label/<name>/values envelope. */
  def stringListJson(values: Seq[String]): String =
    values.map(jsonStr).mkString(
      """{"status":"success","data":[""", ",", "]}")

  /** `/api/v1/query_exemplars` response body from harvested exemplar
    * rows `(labels map, ex_labels map, v, t)`: grouped by owning
    * series, exemplars time-ordered, value rendered as a STRING and
    * timestamp as seconds — the upstream wire shape. */
  def exemplarsJson(rows: Array[org.apache.spark.sql.Row]): String = {
    def mapJson(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
        .mkString("{", ",", "}")
    val bySeries = rows
      .map { r =>
        (r.getMap[String, String](r.fieldIndex("labels")).toMap,
          r.getMap[String, String](r.fieldIndex("ex_labels")).toMap,
          r.getDouble(r.fieldIndex("v")), r.getLong(r.fieldIndex("t")))
      }
      .groupBy(_._1).toSeq.sortBy(s => mapJson(s._1))
    bySeries.map { case (series, exs) =>
      s"""{"seriesLabels":${mapJson(series)},"exemplars":[""" +
        exs.sortBy(_._4).map { case (_, exl, v, t) =>
          val ts = if (t % 1000 == 0) (t / 1000).toString else (t / 1000.0).toString
          s"""{"labels":${mapJson(exl)},"value":${jsonStr(fmt(v))},"timestamp":$ts}"""
        }.mkString(",") + "]}"
    }.mkString("""{"status":"success","data":[""", ",", "]}")
  }

  /** `/api/v1/status/tsdb` response body (Prometheus HTTP API docs:
    * TSDB Stats) from an engine-side [[graft.tsdb.TsdbStats]]. */
  def tsdbStatsJson(s: graft.tsdb.TsdbStats): String = {
    def list(xs: Seq[(String, Long)]): String =
      xs.map { case (n, v) => s"""{"name":${jsonStr(n)},"value":$v}""" }
        .mkString("[", ",", "]")
    s"""{"status":"success","data":{""" +
      s""""headStats":{"numSeries":${s.numSeries},"numLabelPairs":${s.numLabelPairs},""" +
      s""""chunkCount":${s.chunkCount},"minTime":${s.minTime},"maxTime":${s.maxTime}},""" +
      s""""seriesCountByMetricName":${list(s.seriesCountByMetricName)},""" +
      s""""labelValueCountByLabelName":${list(s.labelValueCountByLabelName)},""" +
      s""""memoryInBytesByLabelName":${list(s.memoryInBytesByLabelName)},""" +
      s""""seriesCountByLabelValuePair":${list(s.seriesCountByLabelValuePair)}}}"""
  }

  /** Series-discovery result: distinct label sets of a `labels` frame,
    * streamed one series at a time. */
  def seriesJson(labelsFrames: org.apache.spark.sql.DataFrame): String = {
    import scala.jdk.CollectionConverters._
    val distinctSeries = labelsFrames.distinct().orderBy(col("labels"))
    val sb = new StringBuilder("""{"status":"success","data":[""")
    var first = true
    distinctSeries.toLocalIterator().asScala.foreach { row =>
      if (!first) sb.append(',')
      first = false
      sb.append('{')
      val labels = row.getSeq[org.apache.spark.sql.Row](0)
      sb.append(labels.map(l =>
        jsonStr(l.getString(0)) + ":" + jsonStr(l.getString(1))).mkString(","))
      sb.append('}')
    }
    sb.append("]}")
    sb.toString
  }

  private def pairsJson(pairs: Seq[(String, String)]): String =
    pairs.map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
      .mkString("{", ",", "}")

  private def alertJson(a: graft.promql.Rules.ActiveAlert): String =
    s"""{"labels":${pairsJson(a.labels)}""" +
      s""","annotations":${pairsJson(a.rule.annotations.sortBy(_._1))}""" +
      s""","state":${jsonStr(a.state)}""" +
      s""","activeAt":${jsonStr(java.time.Instant.ofEpochMilli(a.activeAt).toString)}""" +
      s""","value":${jsonStr(fmt(a.v))}}"""

  /** `/api/v1/alerts` response body (Prometheus HTTP API docs:
    * Alerts): every pending/firing alert instance, flat. */
  def alertsJson(active: Seq[graft.promql.Rules.ActiveAlert]): String =
    active.map(alertJson).mkString(
      """{"status":"success","data":{"alerts":[""", ",", "]}}")

  /** `/api/v1/rules` response body (Prometheus HTTP API docs: Rules):
    * configured groups with per-rule state; alert instances nested
    * under their owning rule. */
  def rulesJson(groups: Seq[graft.promql.RuleGroup],
                active: Seq[graft.promql.Rules.ActiveAlert],
                file: String, atMs: Long): String = {
    val lastEval = jsonStr(java.time.Instant.ofEpochMilli(atMs).toString)
    def ruleJson(g: graft.promql.RuleGroup, r: graft.promql.Rule): String = {
      val common = s""""name":${jsonStr(r.name)},"query":${jsonStr(r.expr)}""" +
        s""","labels":${pairsJson(r.labels.sortBy(_._1))}""" +
        s""","health":"ok","lastEvaluation":$lastEval"""
      if (r.isAlert) {
        val mine = active.filter(a => a.group == g.name && a.rule == r)
        val state =
          if (mine.exists(_.state == "firing")) "firing"
          else if (mine.nonEmpty) "pending" else "inactive"
        s"""{$common,"duration":${r.forMs / 1000.0}""" +
          s""","annotations":${pairsJson(r.annotations.sortBy(_._1))}""" +
          s""","alerts":[${mine.map(alertJson).mkString(",")}]""" +
          s""","state":${jsonStr(state)},"type":"alerting"}"""
      } else s"""{$common,"type":"recording"}"""
    }
    groups.map { g =>
      s"""{"name":${jsonStr(g.name)},"file":${jsonStr(file)}""" +
        s""","interval":${g.intervalMs / 1000.0}""" +
        s""","rules":[${g.rules.map(ruleJson(g, _)).mkString(",")}]}"""
    }.mkString("""{"status":"success","data":{"groups":[""", ",", "]}}")
  }

  /** Prometheus prints values with Go's shortest-round-trip float
    * formatting; Java's Double.toString is also round-trippable but
    * keeps a trailing `.0` on integers — strip it for the common case
    * so clients comparing strings see `"42"` not `"42.0"`. */
  private def fmt(v: Double): String = {
    val s = v.toString
    if (s.endsWith(".0")) s.dropRight(2) else s
  }
}

/** Store-append sink for remote-write: canonicalize the written series
  * and append into the partitioned parquet store — the same shape the
  * streaming ingest produces, so the data is immediately queryable
  * through [[graft.tsdb.TsQuerier]]. */
object RemoteWrite {
  // Prometheus remote_write shards concurrently by default, and the
  // server handlers run on a thread pool — but concurrent append jobs to
  // the SAME parquet path share the Hadoop committer's _temporary dir,
  // so one job's commit can delete another's in-flight task output
  // (silent sample loss). One writer lock per store path serializes the
  // sink; decode/uncompress still overlap on the pool.
  private val storeLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  def appendToStore(spark: org.apache.spark.sql.SparkSession, storePath: String,
                    promoted: Seq[String] = graft.tsdb.TsSchema.DefaultPromoted)
                   (streams: Seq[SampleStream]): Unit = {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    if (streams.isEmpty) return
    val rows = streams.flatMap(ss =>
      ss.samples.map(s => Row(ss.labels, s.t, s.v))).asJava
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "labels map<string,string>, t long, v double")
    val df = spark.createDataFrame(rows, schema)
    storeLocks.getOrElseUpdate(storePath, new Object).synchronized {
      graft.tsdb.TsSchema.canonicalize(df, promoted)
        .write.partitionBy("block_start")
        .mode(org.apache.spark.sql.SaveMode.Append).parquet(storePath)
    }
  }
}
