package graft.tsdb

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32C
import scala.collection.mutable.ArrayBuffer

/** TSDB chunk segment file framing — the migration/ingest compatibility
  * layer for blocks written by the reference's shipper.
  *
  * Format (`vendor/github.com/prometheus/tsdb/chunks.go:30-31,199-270`):
  *   file: 4-byte BE magic 0x85BD40DD | 1-byte version (1) | records...
  *   record @offset: uvarint len | 1-byte encoding | len data bytes | crc32
  *   crc: CRC-32 Castagnoli over (encoding byte ++ data)
  * A chunk ref packs `fileSeq << 32 | byteOffset`
  * (`vendor/.../tsdb/chunks.go:241-247`, decoded in agni `chunks.go:113-115`).
  */
object ChunkFile {
  val Magic: Int = 0x85bd40dd
  val Version: Int = 1

  final case class ChunkRecord(ref: Long, encoding: Int, data: Array[Byte])

  def ref(fileSeq: Int, offset: Int): Long = (fileSeq.toLong << 32) | (offset.toLong & 0xffffffffL)
  def refFileSeq(ref: Long): Int = (ref >>> 32).toInt
  def refOffset(ref: Long): Int = (ref & 0xffffffffL).toInt

  private def crc32c(enc: Int, data: Array[Byte]): Int = {
    val c = new CRC32C
    c.update(enc)
    c.update(data, 0, data.length)
    c.getValue.toInt
  }

  /** Serialize chunks into one segment file; returns (bytes, refs aligned
    * with the input order) for `fileSeq`. */
  def write(fileSeq: Int, chunks: Seq[Array[Byte]], encoding: Int = XorChunk.Encoding): (Array[Byte], Seq[Long]) = {
    val out = new java.io.ByteArrayOutputStream()
    val header = ByteBuffer.allocate(5).order(ByteOrder.BIG_ENDIAN)
    header.putInt(Magic); header.put(Version.toByte)
    out.write(header.array())
    val refs = ArrayBuffer[Long]()
    chunks.foreach { data =>
      refs += ref(fileSeq, out.size())
      // uvarint length
      var v = data.length.toLong
      while (v >= 0x80) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
      out.write(encoding)
      out.write(data, 0, data.length)
      val crcBuf = ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN)
      crcBuf.putInt(crc32c(encoding, data))
      out.write(crcBuf.array())
    }
    (out.toByteArray, refs.toSeq)
  }

  /** Read one chunk record at `offset` (same slicing as agni's coalesced
    * range-read path, `chunks.go:112-159`). */
  def readAt(bytes: Array[Byte], offset: Int): ChunkRecord = {
    var pos = offset
    var len = 0L; var shift = 0
    var b = bytes(pos) & 0xff; pos += 1
    while ((b & 0x80) != 0) { len |= (b & 0x7fL) << shift; shift += 7; b = bytes(pos) & 0xff; pos += 1 }
    len |= (b & 0x7fL) << shift
    val enc = bytes(pos) & 0xff; pos += 1
    val data = java.util.Arrays.copyOfRange(bytes, pos, pos + len.toInt)
    pos += len.toInt
    val crc = ByteBuffer.wrap(bytes, pos, 4).order(ByteOrder.BIG_ENDIAN).getInt
    require(crc == crc32c(enc, data), s"chunk crc mismatch at offset $offset")
    ChunkRecord(ref(0, offset), enc, data)
  }

  /** Total bytes fetched by [[SegmentRangeReader]]s in this JVM — lets
    * specs assert that selective reads touch a small fraction of the
    * segment (scan-amplification guard). */
  val bytesFetched = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-consumer IO counters (the reference exports the same set:
    * request totals + cache hit/miss, `pkg/chunkr/groupcache.go:17-27`).
    * One instance per DSv2 partition reader, surfaced to Spark as scan
    * CustomMetrics — at scale these are how an operator notices scan
    * amplification without profiling executors. */
  final class ReadStats {
    @volatile var rangeReads = 0L
    @volatile var bytesFetched = 0L
    @volatile var chunkCacheHits = 0L
    @volatile var chunkCacheMisses = 0L
    @volatile var indexCacheHits = 0L
    @volatile var indexCacheMisses = 0L
  }

  /** Estimated upper bound on one chunk record's framing + payload: a
    * 120-sample XOR chunk is a few hundred bytes; 4 KiB of slack covers
    * it without a second read in practice (the reference uses the same
    * trick — read to last offset + max-chunk-size, `chunks.go:161-251`). */
  val RangeSlack = 4096
  /** Coalesce two requested records into one read when the gap between
    * their offsets is below this (object-storage-friendly: one larger GET
    * beats two small ones). */
  val MergeGap = 64 * 1024

  /** Bounded, coalesced range reads over one segment file — the
    * reference's grouped chunk populate (`chunks.go:161-251`): instead of
    * mapping/reading the whole (up to 512 MiB) segment, sort the
    * requested refs, merge near-adjacent offsets into ranges, and issue
    * one positional read per range. At 100 TB against object storage this
    * is the difference between O(needed bytes) and O(segment bytes) per
    * task. IO goes through Hadoop `FileSystem` ([[BlockIO.RangeIn]]), so
    * `path` may be a local path or any object-store URI (`s3a://…`) —
    * each range is one ranged GET, exactly the reference's S3 read shape
    * (`chunks.go:47-101`). */
  final class SegmentRangeReader(path: String,
                                 stats: ReadStats = null,
                                 conf: org.apache.hadoop.conf.Configuration = null)
    extends AutoCloseable {
    def this(path: java.nio.file.Path) = this(path.toString)

    private val in = new BlockIO.RangeIn(path, conf)
    private val fileSize = in.size

    private def readRange(pos: Long, len: Int): Array[Byte] = {
      val buf = in.readFully(pos, len)
      bytesFetched.addAndGet(len.toLong)
      if (stats != null) { stats.rangeReads += 1; stats.bytesFetched += len }
      buf
    }

    /** Parse the record at absolute `off` from `buf` (which starts at
      * absolute `base`); if the record extends past the buffer (slack too
      * small for an oversized chunk), fall back to one exact read. */
    private def parse(buf: Array[Byte], base: Long, off: Int): ChunkRecord = {
      var pos = off - base.toInt
      var len = 0L; var shift = 0; var header = 1
      var b = buf(pos) & 0xff; pos += 1
      while ((b & 0x80) != 0) { len |= (b & 0x7fL) << shift; shift += 7; b = buf(pos) & 0xff; pos += 1; header += 1 }
      len |= (b & 0x7fL) << shift
      val total = header + 1 + len.toInt + 4 // varint + enc + data + crc
      if (off - base + total > buf.length)
        readAt(readRange(off, total), 0).copy(ref = ref(0, off))
      else readAt(buf, off - base.toInt).copy(ref = ref(0, off))
    }

    /** Read the records at `offsets` with coalesced bounded ranges. */
    def read(offsets: Seq[Int]): Map[Int, ChunkRecord] = {
      val sorted = offsets.distinct.sorted
      val out = Map.newBuilder[Int, ChunkRecord]
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j + 1 < sorted.length && sorted(j + 1) - sorted(j) <= MergeGap) j += 1
        val start = sorted(i).toLong
        val stop = math.min(sorted(j).toLong + RangeSlack, fileSize)
        val buf = readRange(start, (stop - start).toInt)
        var k = i
        while (k <= j) { out += sorted(k) -> parse(buf, start, sorted(k)); k += 1 }
        i = j + 1
      }
      out.result()
    }

    override def close(): Unit = in.close()
  }

  /** Per-JVM bounded LRU of decoded chunk records keyed by
    * (segment path, offset) — the reference's caching chunk reader
    * (S7, its groupcache analog `cache.go`) brought in-process: blocks
    * are immutable (ULID dirs), so a cached record never goes stale;
    * repeated scans of hot blocks decode from memory with zero segment
    * IO. Bounded by payload bytes (default 128 MiB per JVM,
    * `-Dgraft.chunkCache.bytes=N`; 0 disables). On a 1000-executor
    * cluster each executor caches its own hot set — the access-locality
    * the partition planner already creates by batching series refs. */
  object RecordCache {
    private var maxBytes: Long = sys.props.get("graft.chunkCache.bytes")
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    private def cost(r: ChunkRecord): Long = r.data.length.toLong + 64
    private var total = 0L
    private val map =
      new java.util.LinkedHashMap[(String, Int), ChunkRecord](1024, 0.75f, true)

    // lifetime counters — the reference exports the same set for its
    // caching chunk reader (hits/misses/evictions,
    // `pkg/chunkr/groupcache.go:17-27,132-255`); the DSv2 scan surfaces
    // per-query CustomMetrics, these cover every OTHER consumer of the
    // cache (readRefs outside a scan, tools, specs)
    private val hitCount = new java.util.concurrent.atomic.AtomicLong(0L)
    private val missCount = new java.util.concurrent.atomic.AtomicLong(0L)
    private val evictionCount = new java.util.concurrent.atomic.AtomicLong(0L)
    def hits: Long = hitCount.get()
    def misses: Long = missCount.get()
    def evictions: Long = evictionCount.get()
    def entryCount: Int = synchronized { map.size }
    def currentBytes: Long = synchronized { total }

    /** Test hook: override the byte cap (existing entries evict down to
      * the new cap); returns the previous cap so callers can restore. */
    private[tsdb] def setMaxBytes(n: Long): Long = synchronized {
      val old = maxBytes; maxBytes = n; evictToCap(); old
    }

    private def evictToCap(): Unit = {
      val it = map.entrySet().iterator()
      while (total > maxBytes && it.hasNext) {
        total -= cost(it.next().getValue); it.remove()
        evictionCount.incrementAndGet()
      }
    }

    def get(path: String, off: Int): Option[ChunkRecord] = synchronized {
      val r = Option(map.get((path, off)))
      if (r.isDefined) hitCount.incrementAndGet() else missCount.incrementAndGet()
      r
    }
    def put(path: String, off: Int, rec: ChunkRecord): Unit = synchronized {
      if (maxBytes <= 0) return
      if (map.put((path, off), rec) == null) total += cost(rec)
      evictToCap()
    }
  }

  /** A segment file's path and its qualified form, which keys its
    * records in the [[RecordCache]]. */
  final case class Segment(path: String, key: String)

  /** Segment `fileSeq` under `chunksDir` (`%06d`-named). */
  def segment(chunksDir: String, fileSeq: Int,
              conf: org.apache.hadoop.conf.Configuration = null): Segment = {
    val path = BlockIO.child(chunksDir, f"$fileSeq%06d")
    Segment(path, BlockIO.qualified(path, conf))
  }

  /** Read `refs` (fileSeq << 32 | offset) across segment files with one
    * [[SegmentRangeReader]] per touched segment; records already in the
    * [[RecordCache]] are served without touching the file. `chunksDir`
    * may be a local path or any Hadoop-FS URI. */
  def readRefs(chunksDir: String, refs: Seq[Long],
               stats: ReadStats = null,
               conf: org.apache.hadoop.conf.Configuration = null): Map[Long, ChunkRecord] =
    readFrom(refs, segment(chunksDir, _, conf), stats, conf)

  /** [[readRefs]] with each touched segment resolved by `segmentOf`. */
  def readFrom(refs: Seq[Long], segmentOf: Int => Segment, stats: ReadStats,
               conf: org.apache.hadoop.conf.Configuration): Map[Long, ChunkRecord] =
    refs.groupBy(refFileSeq).iterator.flatMap { case (seq, rs) =>
      val Segment(path, key) = segmentOf(seq)
      val offs = rs.map(refOffset).distinct
      val cached = offs.flatMap(o => RecordCache.get(key, o).map(o -> _)).toMap
      val missing = offs.filterNot(cached.contains)
      if (stats != null) {
        stats.chunkCacheHits += cached.size
        stats.chunkCacheMisses += missing.size
      }
      val fresh =
        if (missing.isEmpty) Map.empty[Int, ChunkRecord]
        else {
          val rd = new SegmentRangeReader(path, stats, conf)
          try rd.read(missing) finally rd.close()
        }
      fresh.foreach { case (o, rec) => RecordCache.put(key, o, rec) }
      (cached ++ fresh).map { case (off, rec) => ref(seq, off) -> rec }
    }.toMap

  /** nio-Path convenience (local specs/tools). */
  def readRefs(chunksDir: java.nio.file.Path, refs: Seq[Long]): Map[Long, ChunkRecord] =
    readRefs(chunksDir.toString, refs)

  /** Sequentially scan all chunk records in a segment file. */
  def readAll(bytes: Array[Byte]): Seq[ChunkRecord] = {
    require(ByteBuffer.wrap(bytes, 0, 4).order(ByteOrder.BIG_ENDIAN).getInt == Magic, "bad chunk file magic")
    require((bytes(4) & 0xff) == Version, "bad chunk file version")
    val out = ArrayBuffer[ChunkRecord]()
    var pos = 5
    while (pos < bytes.length) {
      val rec = readAt(bytes, pos)
      out += rec.copy(ref = ref(0, pos))
      // advance: uvarint len size + 1 enc + data + 4 crc
      var l = rec.data.length.toLong; var n = 1
      while (l >= 0x80) { n += 1; l >>>= 7 }
      pos += n + 1 + rec.data.length + 4
    }
    out.toSeq
  }
}
