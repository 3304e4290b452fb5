package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.xerial.snappy.Snappy
import graft.ServeMain.BlocksView
import graft.remote.{Proto, RemoteReadServer}
import graft.tsdb.{BlockShipper, SampleStream, TsStore, TsdbBlock, XorChunk}

/** Remote-read wire helpers of the benchmark's client. */
object Wire {
  def request(q: Proto.Query, streamed: Boolean): Array[Byte] =
    Snappy.compress(Proto.encodeReadRequest(Seq(q),
      Seq(if (streamed) Proto.RespStreamedXorChunks else Proto.RespSamples)))

  /** Decode a whole response body. A truncated stream or a bad frame
    * throws. */
  def decode(body: Array[Byte], streamed: Boolean): Seq[SampleStream] =
    if (streamed)
      Proto.decodeChunkedFrames(body).map { case (qi, ss, chunks) =>
        require(qi == 0L, s"unexpected query index $qi")
        SampleStream(ss.labels, chunks.flatMap(c => XorChunk.decode(c._3)))
      }
    else Proto.decodeReadResponse(Snappy.uncompress(body)).headOption.getOrElse(Seq.empty)

  /** First difference between a response and the oracle's answer:
    * series count and order, label sets, and every (t, v). */
  def check(got: Seq[SampleStream], want: Seq[SampleStream]): Option[String] = {
    if (got.size != want.size) return Some(s"series count ${got.size} != ${want.size}")
    got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g.labels != w.labels => s"series $i labels ${g.labels} != ${w.labels}"
      case ((g, w), i) if g.samples.size != w.samples.size =>
        s"series $i (${w.labels}) samples ${g.samples.size} != ${w.samples.size}"
      case ((g, w), i) if g.samples.zip(w.samples).exists { case (a, b) =>
          a.t != b.t || java.lang.Double.doubleToLongBits(a.v) != java.lang.Double.doubleToLongBits(b.v) } =>
        s"series $i (${w.labels}) sample values differ"
    }
  }
}

final class ReadClient(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()
  private val uri = URI.create(s"http://127.0.0.1:$port/read")
  def post(body: Array[Byte]): (Int, Array[Byte]) = {
    val req = HttpRequest.newBuilder(uri).timeout(java.time.Duration.ofSeconds(60))
      .header("Content-Type", "application/x-protobuf")
      .header("Content-Encoding", "snappy")
      .header("X-Prometheus-Remote-Read-Version", "0.1.0")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode(), resp.body())
  }
}

/** The serving workload. Its timed phase has two halves over one block
  * dir served by `BlocksView`: steady reads (the paper's path; nothing
  * ships), then reads while a shipper thread ships one more window at a
  * fixed interval (the write half, and a full view rebuild per block). */
object Serve {
  /** 5 instances over 24 h (1,070 series); 9 blocks served at the start,
    * one more than the parsed-index cache holds. */
  val Instances = 5
  val Initial = 9
  val SteadyCallers = 4
  val ShipCallers = 3
  /** Every run ships exactly this many windows, one at most every
    * `ShipEveryMs`; the shipping half lasts until all are shipped. */
  val Ships = 3
  val ShipEveryMs = 3000L
  val Setups = 2

  private val sampleSchema = StructType(Seq(
    StructField("labels", MapType(StringType, StringType)),
    StructField("t", LongType), StructField("v", DoubleType)))

  /** Long-form (labels, t, v) frame of the generator's data, built on
    * executors. */
  def frame(spark: SparkSession, gen: Gen): org.apache.spark.sql.DataFrame = {
    val g = gen
    val rdd = spark.sparkContext.parallelize(g.labels.indices, spark.sparkContext.defaultParallelism)
      .flatMap { i =>
        val (ts, vs) = g.samples(i); val ls = g.labels(i)
        ts.indices.iterator.map(k => Row(ls, ts(k), vs(k)))
      }
    spark.createDataFrame(rdd, sampleSchema)
  }

  /** Bytes of every file under the block dirs (markers excluded) and the
    * samples their meta.json files declare. */
  def diskUsage(blocksDir: File): (Long, Long) = {
    def bytes(f: File): Long = if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytes).sum else f.length
    val blocks = Option(blocksDir.listFiles).toSeq.flatten
      .filter(d => new File(d, "meta.json").isFile)
    (blocks.map(bytes).sum, blocks.map(d => TsdbBlock.readMeta(d.getPath).stats.numSamples).sum)
  }

  final class Served(val gen: Gen, val blocksDir: File, val storeDir: File,
                     val view: BlocksView, val server: RemoteReadServer, val client: ReadClient)

  /** Everything one operation needs to run and be checked. */
  final case class Op(id: String, kind: String, q: Proto.Query, streamed: Boolean,
                      visible: Int, want: Seq[SampleStream])

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val windows = Initial + Ships
    val out = new Outcomes
    val blockMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, org.apache.spark.sql.execution.SparkPlan)]()
    val opSamples = new ConcurrentHashMap[String, java.lang.Long]()
    val respBytes = new ConcurrentHashMap[String, java.lang.Long]()
    val tr = ctx.tracer
    val off = new Tracer(false)

    /** One set-up: generate; write `initial` windows as blocks and the
      * rest as a canonical store for the shipper; open the view and the
      * server; read the newest block once. Returns the served state and
      * its wall time. */
    def setUp(name: String, instances: Int, windows: Int, initial: Int, record: Boolean): (Served, Double) = {
      val root = new File(ctx.work, name)
      val blocksDir = new File(root, "blocks"); val storeDir = new File(root, "store")
      val t0 = System.nanoTime()
      val gen = Gen(ctx.seed, instances, windows)
      gen.all
      blocksDir.mkdirs()
      for (w <- 0 until initial) {
        val ulid = TsdbBlock.syntheticUlid(gen.t0 + w * Gen.BlockMs)
        TsdbBlock.write(new File(blocksDir, ulid).getPath, gen.window(w), ulid)
      }
      TsStore.write(frame(spark, gen).where(org.apache.spark.sql.functions.col("t") >=
        gen.t0 + initial * Gen.BlockMs), storeDir.getPath)
      val view = new BlocksView(spark, blocksDir.getPath)
      val server = new RemoteReadServer(view.querier(), 0)
      val served = new Served(gen, blocksDir, storeDir, view, server, new ReadClient(server.start()))
      val q = Proto.Query(gen.t0 + (initial - 1) * Gen.BlockMs, gen.t0 + initial * Gen.BlockMs - 1,
        Gen.Selectors(0)._2)
      val op = Op(s"pb-$name", "setup", q, streamed = false, initial, gen.oracle(q, initial))
      val res = if (ctx.trace && record) replay(served, op, tr, plans, opSamples, respBytes) else viaHttp(served, op)
      out.record(res.left.map(s"$name read: " + _), 0.0, timed = false)
      (served, (System.nanoTime() - t0) / 1e9)
    }

    // an untimed small set-up (and one ship) first loads the classes and
    // compiles the code of the set-up path, so the timed ones compare
    val (w, _) = setUp("warm", 1, 3, 2, record = false)
    BlockShipper.shipClosed(spark, w.storeDir.getPath, w.blocksDir.getPath, w.gen.tEnd)
    w.server.stop(); spark.catalog.clearCache()
    val setups = (0 until Setups).map { rep =>
      val r = setUp(s"setup-$rep", Instances, windows, Initial, record = true)
      if (rep < Setups - 1) { r._1.server.stop(); spark.catalog.clearCache() }
      r
    }
    val s = setups.last._1
    val gen = s.gen

    val visible = new AtomicInteger(Initial)
    val fresh = new ConcurrentHashMap[Int, java.lang.Double]()
    val opCounter = new AtomicInteger()

    // one request sequence shared by all callers of a phase; while
    // shipping, every other request reads the newest shipped window(s)
    def nextOp(phase: Int, shipping: Boolean): (Int, Op) = {
      val k = opCounter.getAndIncrement()
      val vis = visible.get()
      val (kind, q) = Gen.query(ctx.seed * 16 + phase, k, vis, newest = shipping && k % 4 < 2)
      (k, Op(s"pb-op-$phase-$k", kind, q, streamed = k % 2 == 1, vis, gen.oracle(q, vis)))
    }

    /** Closed loop of `callers` threads until `untilNs` and while `also`
      * holds (and at least `warmOps` requests each, untimed). Request k
      * goes the way `route(k)` says: over HTTP (None) or replayed
      * in-process with the given tracer; it is recorded in `outs(k)`. */
    def loop(callers: Int, untilNs: Long, warmOps: Int, route: Int => Option[Tracer], outs: Int => Outcomes,
             phase: Int, shipping: Boolean, also: () => Boolean = () => false): Unit = {
      opCounter.set(0)
      val threads = (0 until callers).map { c =>
        new Thread(() => {
          var n = 0
          while (n < warmOps || System.nanoTime() < untilNs || also()) {
            val (k, op) = nextOp(phase, shipping)
            val t0 = System.nanoTime()
            val r = route(k) match {
              case Some(t) => replay(s, op, t, plans, opSamples, respBytes)
              case None => viaHttp(s, op)
            }
            outs(k).record(r.left.map(m => s"${op.kind}: $m"), (System.nanoTime() - t0) / 1e6, timed = n >= warmOps)
            n += 1
          }
        }, s"pb-caller-$c")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }

    // the shipper ships one closed window per interval; right after each
    // ship it reads that window back, and the time from the shipClosed
    // call to that verified read is the window's freshness
    val shipper = new Thread(() => {
      var next = System.nanoTime() + 300000000L
      while (visible.get() < windows) {
        while (System.nanoTime() < next) Thread.sleep(20)
        val w = visible.get()
        val st = System.nanoTime()
        spark.sparkContext.setJobGroup(s"pb-ship-$w", "ship")
        try {
          tr.span("ship.block", s"pb-ship-$w") {
            BlockShipper.shipClosed(spark, s.storeDir.getPath, s.blocksDir.getPath, gen.t0 + (w + 1) * Gen.BlockMs)
          }
          blockMs.add((System.nanoTime() - st) / 1e6)
          out.attempted.incrementAndGet()
        } catch { case e: Exception => out.fail(s"ship $w: $e") }
        finally spark.sparkContext.clearJobGroup()
        visible.incrementAndGet()
        val q = Proto.Query(gen.t0 + w * Gen.BlockMs, gen.t0 + (w + 1) * Gen.BlockMs - 1, Gen.Selectors(0)._2)
        val r = viaHttp(s, Op(s"pb-fresh-$w", "fresh", q, streamed = false, w + 1, gen.oracle(q, w + 1)))
        out.record(r.left.map(m => s"fresh read $w: $m"), 0.0, timed = false)
        if (r.isRight) fresh.put(w, (System.nanoTime() - st) / 1e6)
        next = st + ShipEveryMs * 1000000L
      }
    }, "pb-shipper")

    // warm-up: untimed, but every operation is still checked
    loop(SteadyCallers, 0L, 2, _ => None, _ => out, phase = 1, shipping = false)
    val j0 = Jvm.snapshot()
    val half = ctx.seconds * 500000000L
    val steady = new Outcomes
    val httpOut = new Outcomes
    val plainOut = new Outcomes
    val t0 = System.nanoTime()
    val cpu0 = Jvm.cpuS
    if (ctx.trace) {
      // traced steady half: requests take turns going over HTTP, through
      // the in-process replay without spans, and through the replay with
      // spans. HTTP − plain replay is the transport's share, traced −
      // plain replay the tracing overhead
      val routes = Vector(None, Some(off), Some(tr))
      val outs = Vector(httpOut, plainOut, steady)
      loop(SteadyCallers, t0 + half, 0, k => routes(k % 3), k => outs(k % 3), phase = 2, shipping = false)
    } else loop(SteadyCallers, t0 + half, 0, _ => None, _ => steady, phase = 2, shipping = false)
    val t1 = System.nanoTime()
    val steadyCpuS = Jvm.cpuS - cpu0
    // the server's footprint in steady state: view cached, server open
    val heapMb = Jvm.heapLiveMb
    val shipping = new Outcomes
    shipper.start()
    loop(ShipCallers, t1 + half, 0, _ => if (ctx.trace) Some(tr) else None, _ => shipping, phase = 3,
      shipping = true, also = () => shipper.isAlive)
    shipper.join()
    val j1 = Jvm.snapshot()
    val (diskBytes, diskSamples) = diskUsage(s.blocksDir)
    s.server.stop()

    val lat = steady.latencies
    val shipLat = shipping.latencies
    val blocks = blockMs.asScala.map(_.doubleValue).toSeq
    val metrics = Map(
      "setup_s" -> (ctx.sessionS + Stats.median(setups.map(_._2))),
      "op_p50_ms" -> Stats.median(lat),
      "ops_per_s" -> Stats.closedLoopRate(SteadyCallers, lat),
      // process CPU of the steady half per verified request: unlike
      // latency, it does not stretch when other tenants take the cores
      "cpu_ms_per_op" -> steadyCpuS * 1000.0 / math.max(1, lat.size),
      "fresh_p50_ms" -> Stats.median(fresh.values.asScala.map(_.doubleValue).toSeq),
      "disk_bytes_per_sample" -> diskBytes.toDouble / diskSamples,
      "heap_live_mb" -> heapMb)
    def dist(xs: Seq[Double]) = Map("n" -> xs.size, "p50" -> Stats.median(xs), "p75" -> Stats.quantile(xs, 0.75),
      "p90" -> Stats.quantile(xs, 0.9), "p95" -> Stats.quantile(xs, 0.95), "p99" -> Stats.quantile(xs, 0.99))
    val detail = Map[String, Any](
      "steady_ms" -> dist(lat), "shipping_ms" -> dist(shipLat),
      "shipping_ops_per_s" -> Stats.closedLoopRate(ShipCallers, shipLat),
      "phase_s" -> Seq((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9), "rss_peak_mb" -> Jvm.rssPeakMb,
      "setup_reps_s" -> setups.map(_._2),
      "fresh_ms_per_window" -> fresh.asScala.toSeq.sortBy(_._1).map { case (w, v) => s"w$w" -> v.doubleValue }.toMap,
      "ships" -> (visible.get() - Initial), "disk_bytes" -> diskBytes, "disk_samples" -> diskSamples,
      "series" -> gen.labels.size, "samples" -> gen.sampleCount, "windows_served" -> visible.get(),
      "block_ms" -> blocks)
    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else serveLayers(ctx, plans.asScala.toSeq, opSamples, respBytes, httpOut, plainOut, steady, blocks, gen, j0, j1)
    val all = Seq(out, steady, shipping, httpOut, plainOut)
    Result(all.map(_.attempted.get).sum, all.map(_.failed.get).sum,
      metrics, layers, detail, all.flatMap(_.failures).take(20))
  }

  /** One read over HTTP: send, decode the whole body, check it. */
  def viaHttp(s: Served, op: Op): Either[String, Int] =
    try {
      val (status, body) = s.client.post(Wire.request(op.q, op.streamed))
      if (status != 200) Left(s"status $status: ${new String(body.take(200), "UTF-8")}")
      else Wire.check(Wire.decode(body, op.streamed), op.want).toLeft(body.length)
    } catch { case e: Exception => Left(e.toString) }

  /** One read replayed in-process the way the `/read` handler runs it,
    * each public call in its own span, under the op's job group. */
  def replay(s: Served, op: Op, tr: Tracer,
             plans: java.util.Queue[(String, org.apache.spark.sql.execution.SparkPlan)],
             opSamples: ConcurrentHashMap[String, java.lang.Long],
             respBytes: ConcurrentHashMap[String, java.lang.Long]): Either[String, Int] = {
    val sc = org.apache.spark.SparkContext.getOrCreate()
    val req = Wire.request(op.q, op.streamed)
    sc.setJobGroup(op.id, op.kind)
    try tr.span("op", op.id) {
      val (queries, _) = tr.span("remote.decode", op.id, "op")(Proto.decodeReadRequestFull(Snappy.uncompress(req)))
      val q = queries.head
      val querier = tr.span("view.querier", op.id, "op")(s.view.querier())
      val ds = tr.span("op.construct", op.id, "op")(querier.selectStreams(q.startMs, q.endMs, q.matchers))
      val plan = tr.span("op.plan", op.id, "op")(ds.queryExecution.executedPlan)
      val rows = tr.span("op.exec", op.id, "op")(ds.toLocalIterator().asScala.toVector)
      if (tr.enabled) plans.add(op.id -> plan)
      val body = tr.span("remote.encode", op.id, "op") {
        if (op.streamed) {
          val bo = new java.io.ByteArrayOutputStream()
          Proto.writeChunkedFrames(rows.iterator, 0L, b => bo.write(b))
          bo.toByteArray
        } else Snappy.compress(Proto.encodeReadResponseStreaming(Seq(rows.iterator)))
      }
      respBytes.put(op.id + (if (op.streamed) "/xor" else "/samples"), body.length.toLong)
      opSamples.put(op.id, rows.map(_.samples.size.toLong).sum)
      val got = tr.span("client.decode", op.id, "op")(Wire.decode(body, op.streamed))
      Wire.check(got, op.want).toLeft(body.length)
    } catch { case e: Exception => Left(e.toString) }
    finally sc.clearJobGroup()
  }

  private def serveLayers(ctx: Ctx, plans: Seq[(String, org.apache.spark.sql.execution.SparkPlan)],
                          opSamples: ConcurrentHashMap[String, java.lang.Long],
                          respBytes: ConcurrentHashMap[String, java.lang.Long],
                          httpOut: Outcomes, plain: Outcomes, traced: Outcomes, blockMs: Seq[Double], gen: Gen,
                          j0: Jvm.Snap, j1: Jvm.Snap): Map[String, Double] = {
    val tr = ctx.tracer
    ctx.listener.settle()
    def p50(name: String) = Stats.median(tr.named(name).map(_.ms))
    val ops = tr.named("op").map(_.op).toSet
    val work = ops.toSeq.flatMap(o => Option(ctx.listener.byOp.get(o)))
    def perOp(f: OpWork => Double) = if (work.isEmpty) 0.0 else work.map(f).sum / work.size
    // the cached view's fill happens once per rebuild, in the first read
    // that scans it; count each cache builder once
    val builders = plans.flatMap { case (id, p) => Probe.cachedPlans(p).map(c => (c, id)) }
      .groupBy(x => System.identityHashCode(x._1)).values.map(_.head).toSeq
    val fill = builders.map(b => ScanCounts.of(b._1, intoCache = true)).foldLeft(ScanCounts.Zero)(_ + _)
    val rebuilds = math.max(1, builders.size)
    val firstOps = builders.map(_._2).toSet
    val spansByOp = tr.all.groupBy(_.op)
    val rebuildMs = firstOps.toSeq.map(o => spansByOp.getOrElse(o, Nil)
      .filter(sp => sp.name == "view.querier" || sp.name == "op.exec").map(_.ms).sum)
    val scanned = plans.map(p => ScanCounts.of(p._2, intoCache = false).cacheRowsScanned).sum
    val returned = opSamples.values.asScala.map(_.longValue).sum
    def bytes(suffix: String) = {
      val xs = respBytes.asScala.collect { case (k, v) if k.endsWith(suffix) => v.doubleValue }
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val (encNs, decNs) = Kernels.xor(gen)
    Map(
      "remote.decode_ms" -> p50("remote.decode"),
      "remote.encode_ms" -> p50("remote.encode"),
      "remote.resp_bytes_samples" -> bytes("/samples"),
      "remote.resp_bytes_xor" -> bytes("/xor"),
      "client.decode_ms" -> p50("client.decode"),
      "http.transport_ms" -> (Stats.median(httpOut.latencies) - Stats.median(plain.latencies)),
      "trace.overhead_ms" -> (Stats.median(traced.latencies) - Stats.median(plain.latencies)),
      "view.querier_ms" -> p50("view.querier"),
      "view.rebuild_ms" -> Stats.median(rebuildMs),
      "view.cache_mb" -> Jvm.cacheMb(ctx.spark),
      "op.construct_ms" -> p50("op.construct"),
      "op.plan_ms" -> p50("op.plan"),
      "op.exec_ms" -> p50("op.exec"),
      "tsdb.rows_examined_per_sample" -> (if (returned == 0) 0.0 else scanned.toDouble / returned),
      "ds.index_cache_hit_ratio" -> ratio(fill.indexHits, fill.indexMisses),
      "ds.chunk_cache_hit_ratio" -> ratio(fill.chunkHits, fill.chunkMisses),
      "ds.range_reads_per_rebuild" -> fill.rangeReads.toDouble / rebuilds,
      "ds.bytes_fetched_per_rebuild" -> fill.bytesFetched.toDouble / rebuilds,
      "ds.chunk_cache_evictions" -> (j1.chunkEvictions - j0.chunkEvictions).toDouble,
      "ds.xor_decode_ns_per_sample" -> decNs,
      "ship.xor_encode_ns_per_sample" -> encNs,
      "ship.block_ms" -> Stats.median(blockMs),
    ) ++ sparkLayers(work, perOp) ++ jvmLayers(j0, j1)
  }

  def ratio(hit: Long, miss: Long): Double = if (hit + miss == 0) 0.0 else hit.toDouble / (hit + miss)

  def sparkLayers(work: Seq[OpWork], perOp: (OpWork => Double) => Double): Map[String, Double] = Map(
    "spark.jobs_per_op" -> perOp(_.jobs),
    "spark.stages_per_op" -> perOp(_.stages),
    "spark.tasks_per_op" -> perOp(_.tasks),
    "spark.shuffle_bytes_per_op" -> perOp(_.shuffleBytes.toDouble),
    "spark.spill_bytes_per_op" -> perOp(_.spillBytes.toDouble),
    "spark.task_gc_ms_per_op" -> perOp(_.taskGcMs.toDouble),
    "spark.task_skew" -> Stats.median(work.filter(_.taskRunMs.nonEmpty).map { w =>
      val m = Stats.median(w.taskRunMs.map(_.toDouble).toSeq)
      w.taskRunMs.max / math.max(1.0, m)
    }))

  def jvmLayers(j0: Jvm.Snap, j1: Jvm.Snap): Map[String, Double] = Map(
    "jvm.gc_ms" -> (j1.gcMs - j0.gcMs).toDouble,
    "jvm.cpu_s" -> (j1.cpuS - j0.cpuS),
    "jvm.jit_compile_s" -> (j1.jitMs - j0.jitMs) / 1000.0,
    "spark.codegen_compile_ms" -> (j1.codegenMs - j0.codegenMs))
}

/** XOR chunk kernel timings over the workload's own series, in 120-sample
  * chunks as the block writer cuts them. */
object Kernels {
  def xor(gen: Gen): (Double, Double) = {
    val chunks = gen.all.flatMap { case (ts, vs) =>
      ts.indices.map(k => graft.tsdb.Sample(ts(k), vs(k))).grouped(120).map(_.toVector)
    }
    val n = chunks.map(_.size.toLong).sum
    var enc: IndexedSeq[Array[Byte]] = null
    val encNs = Seq.fill(3) { val s = System.nanoTime(); enc = chunks.map(XorChunk.encode); System.nanoTime() - s }.min
    val decNs = Seq.fill(3) { val s = System.nanoTime(); enc.foreach(XorChunk.decode); System.nanoTime() - s }.min
    (encNs.toDouble / n, decNs.toDouble / n)
  }
}
