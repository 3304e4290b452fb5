package graft.tsdb

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TSDB block read/write + ingest — the shipper/sync equivalent
  * (SURVEY.md §2.1 S2-S6, S9; §3.2-§3.3).
  *
  * Block layout (reference `db.go:22-25`, `shipper.go:262-309`):
  * `<dir>/meta.json`, `<dir>/index`, `<dir>/chunks/000001`, …
  *
  * Read path mirrors agni's split: the index is parsed on the DRIVER
  * (agni downloads + mmaps index locally, `db.go:93-102`), while chunk
  * decoding is distributed — executors range-read their chunk file
  * segments (agni's parallel populate, `querier.go:542-574`).
  *
  * All paths are Hadoop-FS URIs through [[BlockIO]] — the same block
  * machinery serves a local dir in tests and `s3a://bucket/blocks/…` in
  * production, which is the reference's defining deployment
  * (`db.go:93-102`, `shipper.go:252-325`). `java.nio.file.Path`
  * overloads are kept for local callers.
  */
object TsdbBlock {
  final case class BlockStats(numSamples: Long, numSeries: Long, numChunks: Long)
  final case class BlockMeta(ulid: String, minTime: Long, maxTime: Long,
                             stats: BlockStats, level: Int = 1)

  val MaxSamplesPerChunk = 120 // reference chunk target (SURVEY.md §1.2)

  // ---------- meta.json (reference vendor/.../tsdb/block.go:64-96) ----------
  def writeMeta(dir: java.nio.file.Path, meta: BlockMeta): Unit =
    writeMeta(dir.toString, meta)

  def writeMeta(dir: String, meta: BlockMeta): Unit = {
    val json =
      s"""{"version":1,"ulid":"${meta.ulid}","minTime":${meta.minTime},"maxTime":${meta.maxTime},
         |"stats":{"numSamples":${meta.stats.numSamples},"numSeries":${meta.stats.numSeries},"numChunks":${meta.stats.numChunks}},
         |"compaction":{"level":${meta.level},"sources":["${meta.ulid}"]}}""".stripMargin.replace("\n", "")
    BlockIO.writeString(BlockIO.child(dir, "meta.json"), json)
  }

  def readMeta(dir: java.nio.file.Path): BlockMeta = readMeta(dir.toString)

  def readMeta(dir: String,
               conf: org.apache.hadoop.conf.Configuration = null): BlockMeta = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = mapper.readTree(BlockIO.readString(BlockIO.child(dir, "meta.json"), conf))
    require(n.get("version").asInt() == 1, "unsupported block meta version")
    BlockMeta(
      n.get("ulid").asText(),
      n.get("minTime").asLong(), n.get("maxTime").asLong(),
      BlockStats(
        n.path("stats").path("numSamples").asLong(),
        n.path("stats").path("numSeries").asLong(),
        n.path("stats").path("numChunks").asLong()),
      n.path("compaction").path("level").asInt(1))
  }

  /** Deterministic ULID-shaped id from a seed (Crockford base32, 26 chars). */
  def syntheticUlid(seed: Long): String = {
    val alphabet = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
    val rnd = new scala.util.Random(seed)
    (0 until 26).map(_ => alphabet(rnd.nextInt(32))).mkString
  }

  // ---------- write ----------
  def write(dir: java.nio.file.Path, seriesIn: Seq[(Seq[Label], Seq[Sample])],
            ulid: String): BlockMeta =
    write(dir.toString, seriesIn, ulid)

  def write(dir: java.nio.file.Path, seriesIn: Seq[(Seq[Label], Seq[Sample])],
            ulid: String, maxSegmentBytes: Long): BlockMeta =
    write(dir.toString, seriesIn, ulid, maxSegmentBytes)

  /** Write `series` (sorted by canonical label order enforced here) as a
    * complete block directory. Samples per series must be time-sorted. */
  def write(dir: String, seriesIn: Seq[(Seq[Label], Seq[Sample])], ulid: String,
            maxSegmentBytes: Long = MaxSegmentBytes): BlockMeta = {
    val encoded = seriesIn.map { case (ls, samples) =>
      val chunks = samples.grouped(MaxSamplesPerChunk).map { grp =>
        (grp.head.t, grp.last.t, XorChunk.encode(grp))
      }.toSeq
      (ls, chunks, samples.size.toLong)
    }
    writeAssembled(dir, encoded, ulid, maxSegmentBytes)
  }

  private def uvarintSize(v: Long): Int = {
    var n = 1; var x = v
    while (java.lang.Long.compareUnsigned(x, 0x80L) >= 0) { n += 1; x >>>= 7 }
    n
  }

  /** Exact byte size of one chunk record in a segment file
    * (uvarint len + encoding byte + data + crc32). */
  private def recordSize(dataLen: Int): Long =
    uvarintSize(dataLen.toLong) + 1L + dataLen + 4L

  /** Canonical-label string key used to join driver-side segment
    * assignments back to executor-resident encoded chunks. */
  private def labelKey(ls: Seq[Label]): String =
    ls.map(l => l.name + "þ" + l.value).mkString("ÿ")

  /** Distributed block write — the shipper path at scale. XOR encoding
    * AND segment-file assembly run on EXECUTORS: chunk bytes never touch
    * the driver. Two phases over one persisted per-series RDD:
    *
    *  1. driver collects METADATA only — (labels, per-chunk
    *     (mint, maxt, encodedLen), sampleCount), a few dozen bytes per
    *     series — sorts series canonically and computes every chunk's
    *     (fileSeq, offset) with the same greedy 512 MiB split and exact
    *     record framing as the local writer;
    *  2. executors regroup chunks by target segment (one reducer per
    *     segment file, ≤ `maxSegmentBytes` each) and write the files;
    *     the driver writes only index + tombstones + meta.json.
    *
    * Output is byte-identical to [[write]]. A compaction of N large
    * blocks therefore streams chunk data executor→disk without a driver
    * bottleneck (the previous implementation collected every encoded
    * chunk). Executors must share the destination filesystem with the
    * driver (local mode / NFS / object-store mount — same assumption the
    * reference's shipper makes about its upload dir, `shipper.go:262-309`)
    * — or, through [[BlockIO]], any shared Hadoop filesystem: with an
    * `s3a://` destination each executor uploads its segment files
    * directly to the bucket, the reference's shipper upload
    * (`shipper.go:252-325`) without the local staging copy.
    * Input: canonical long form (labels array, fingerprint, t, v). */
  def writeDistributed(canonical: DataFrame, dir: java.nio.file.Path,
                       ulid: String): BlockMeta =
    writeDistributed(canonical, dir.toString, ulid)

  def writeDistributed(canonical: DataFrame, dir: java.nio.file.Path,
                       ulid: String, level: Int,
                       maxSegmentBytes: Long): BlockMeta =
    writeDistributed(canonical, dir.toString, ulid, level, maxSegmentBytes)

  def writeDistributed(canonical: DataFrame, dir: java.nio.file.Path,
                       ulid: String, maxSegmentBytes: Long): BlockMeta =
    writeDistributed(canonical, dir.toString, ulid, maxSegmentBytes = maxSegmentBytes)

  def writeDistributed(canonical: DataFrame, dir: String, ulid: String,
                       level: Int = 1,
                       maxSegmentBytes: Long = MaxSegmentBytes): BlockMeta = {
    val spark = canonical.sparkSession
    val perSeries = canonical
      .groupBy(col("fingerprint"), col("labels"))
      .agg(sort_array(collect_list(struct(col("t"), col("v")))).as("samples"))
      .select(col("labels"), col("samples"))
      .rdd.map { r =>
        val labels = Labels.canonical(
          r.getSeq[Row](0).map(l => Label(l.getString(0), l.getString(1))))
        val samples = r.getSeq[Row](1).map(s => Sample(s.getLong(0), s.getDouble(1)))
        val chunks = samples.grouped(MaxSamplesPerChunk).map { grp =>
          (grp.head.t, grp.last.t, XorChunk.encode(grp))
        }.toVector
        (labels, chunks, samples.size.toLong)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- phase 1: metadata to the driver, layout assignment ----
      val metaRows = perSeries
        .map { case (ls, chunks, n) =>
          (ls, chunks.map(c => (c._1, c._2, c._3.length)), n)
        }.collect()
        .sortBy(_._1)(Labels.ordering)
      require(metaRows.map(_._1).distinct.length == metaRows.length,
        "duplicate series label sets")

      // greedy segment split — same rule as writeAssembled (estimate
      // len+10 per record against the cap), then EXACT offsets within
      // each segment from the real framing
      val flatLens = metaRows.iterator.flatMap(_._2.map(_._3)).toVector
      val fileSeqOf = new Array[Int](flatLens.length)
      val offsetOf = new Array[Int](flatLens.length)
      var seg = 1; var curBytes = 5L; var curN = 0; var off = 5L
      flatLens.zipWithIndex.foreach { case (len, i) =>
        if (curN > 0 && curBytes + len + 10 > maxSegmentBytes) {
          seg += 1; curBytes = 5L; curN = 0; off = 5L
        }
        fileSeqOf(i) = seg; offsetOf(i) = off.toInt
        curBytes += len + 10; curN += 1; off += recordSize(len)
      }
      val nSegs = if (flatLens.isEmpty) 1 else seg

      // per-series chunk assignments + index refs
      val assignment = scala.collection.mutable.HashMap[String, Vector[(Int, Int)]]()
      var idx = 0
      val idxSeries = metaRows.map { case (ls, chunkMetas, _) =>
        val asg = chunkMetas.map { _ =>
          val a = (fileSeqOf(idx), offsetOf(idx)); idx += 1; a
        }.toVector
        assignment(labelKey(ls)) = asg
        TsdbIndex.IndexSeries(ls, chunkMetas.zip(asg).map { case ((mint, maxt, _), (fs, o)) =>
          TsdbIndex.ChunkMeta(mint, maxt, ChunkFile.ref(fs, o))
        })
      }

      // ---- phase 2: executors write segment files ----
      val chunksDir = BlockIO.child(dir, "chunks")
      BlockIO.mkdirs(chunksDir)
      val bc = spark.sparkContext.broadcast(assignment.toMap)
      // ship the driver's Hadoop conf so executor-side segment uploads
      // resolve object-store URIs with the session's credentials
      val bcConf = spark.sparkContext.broadcast(
        new BlockIO.SerConf(spark.sparkContext.hadoopConfiguration))
      if (flatLens.nonEmpty) {
        perSeries.flatMap { case (ls, chunks, _) =>
          val asg = bc.value(ls.map(l => l.name + "þ" + l.value).mkString("ÿ"))
          chunks.zipWithIndex.map { case (c, i) =>
            (asg(i)._1, (asg(i)._2, c._3))
          }
        }.partitionBy(new org.apache.spark.HashPartitioner(nSegs + 1))
          .foreachPartition { it =>
            it.toSeq.groupBy(_._1).foreach { case (fileSeq, rows) =>
              val ordered = rows.map(_._2).sortBy(_._1)
              val (bytes, refs) = ChunkFile.write(fileSeq, ordered.map(_._2))
              // framing must land every chunk at its assigned offset
              ordered.map(_._1).zip(refs.map(ChunkFile.refOffset)).foreach {
                case (want, got) => require(want == got,
                  s"segment $fileSeq: assigned offset $want != written $got")
              }
              BlockIO.writeBytes(BlockIO.child(chunksDir, f"$fileSeq%06d"),
                bytes, bcConf.value.value)
            }
          }
      } else {
        // empty block still carries one (header-only) segment file
        BlockIO.writeBytes(BlockIO.child(chunksDir, "000001"),
          ChunkFile.write(1, Seq.empty)._1)
      }

      // ---- driver: index + tombstones + meta only ----
      BlockIO.writeBytes(BlockIO.child(dir, "index"), TsdbIndex.write(idxSeries.toSeq))
      Tombstones.write(dir, Map.empty)
      val allMetas = metaRows.flatMap(_._2)
      val meta = BlockMeta(ulid,
        allMetas.map(_._1).min, allMetas.map(_._2).max,
        BlockStats(metaRows.map(_._3).sum, metaRows.length.toLong,
          allMetas.length.toLong),
        level)
      writeMeta(dir, meta)
      meta
    } finally perSeries.unpersist(blocking = false)
  }

  /** Compact blocks into one higher-level block (the Prometheus
    * compactor's role — the reference ships only level-1 blocks,
    * `shipper.go:39-43`, and leaves compaction upstream): read every
    * input block (tombstone masks APPLY, so deletes are materialized
    * away, like the upstream compactor), dedupe identical (labels, t)
    * samples across overlapping inputs (vertical compaction), and write
    * one merged block at level = max(input levels) + 1. Encoding is
    * distributed; the inputs are left in place for the caller to retire. */
  def compact(spark: SparkSession, blockDirs: Seq[String],
              outDir: java.nio.file.Path, ulid: String): BlockMeta =
    compact(spark, blockDirs, outDir.toString, ulid)

  def compact(spark: SparkSession, blockDirs: Seq[String], outDir: String,
              ulid: String): BlockMeta = {
    require(blockDirs.nonEmpty, "compact: no input blocks")
    val level = blockDirs.map(d => readMeta(d).level).max + 1
    val union = blockDirs.map(d => read(spark, d)).reduce(_ unionByName _)
    // vertical dedup with a DETERMINISTIC pick: duplicate (series, t)
    // keys across overlapping inputs keep max(v) (dropDuplicates would
    // keep an arbitrary one, making compaction output run-dependent)
    val canonical0 = TsSchema.canonicalize(union)
    val keys = canonical0.columns.filterNot(_ == "v").map(col)
    val canonical = canonical0.groupBy(keys: _*).agg(max(col("v")).as("v"))
    writeDistributed(canonical, outDir, ulid, level = level)
  }

  /** Reference segment-file size cap (`vendor/.../tsdb/chunks.go:122`):
    * chunks spill into `000002`, `000003`, … past this many bytes. */
  val MaxSegmentBytes: Long = 512L * 1024 * 1024

  /** Pack pre-encoded per-series chunks into segment file(s) + index +
    * meta. Chunks are split across numbered segment files at
    * `maxSegmentBytes` (refs carry the file sequence, so readers need no
    * layout knowledge beyond the ref). */
  private def writeAssembled(dir: String,
                             seriesIn: Seq[(Seq[Label], Seq[(Long, Long, Array[Byte])], Long)],
                             ulid: String,
                             maxSegmentBytes: Long = MaxSegmentBytes,
                             level: Int = 1): BlockMeta = {
    val series = seriesIn
      .map { case (ls, cs, n) => (Labels.canonical(ls), cs, n) }
      .sortBy(_._1)(Labels.ordering)
    val chunksDir = BlockIO.child(dir, "chunks")
    BlockIO.mkdirs(chunksDir)

    val flat = series.flatMap(_._2)
    // greedy split: a segment takes chunks until the byte cap (a chunk
    // record adds ~6 bytes of framing; always at least one per segment)
    val segments = {
      val segs = Vector.newBuilder[Seq[(Long, Long, Array[Byte])]]
      var cur = Vector.newBuilder[(Long, Long, Array[Byte])]
      var curBytes = 5L // magic + version
      var curN = 0
      flat.foreach { c =>
        val rec = c._3.length.toLong + 10
        if (curN > 0 && curBytes + rec > maxSegmentBytes) {
          segs += cur.result(); cur = Vector.newBuilder; curBytes = 5L; curN = 0
        }
        cur += c; curBytes += rec; curN += 1
      }
      val last = cur.result()
      if (last.nonEmpty || flat.isEmpty) segs += last
      segs.result()
    }
    val refs = segments.zipWithIndex.flatMap { case (chunks, i) =>
      val fileSeq = i + 1
      val (segBytes, segRefs) = ChunkFile.write(fileSeq, chunks.map(_._3))
      BlockIO.writeBytes(BlockIO.child(chunksDir, f"$fileSeq%06d"), segBytes)
      segRefs
    }

    var refIdx = 0
    val idxSeries = series.map { case (labels, chunks, _) =>
      val metas = chunks.map { case (mint, maxt, _) =>
        val m = TsdbIndex.ChunkMeta(mint, maxt, refs(refIdx)); refIdx += 1; m
      }
      TsdbIndex.IndexSeries(labels, metas)
    }
    BlockIO.writeBytes(BlockIO.child(dir, "index"), TsdbIndex.write(idxSeries))
    // every block carries a tombstones file (empty on write, like
    // Prometheus's writer; deletes rewrite it)
    Tombstones.write(dir, Map.empty)

    val meta = BlockMeta(ulid,
      flat.map(_._1).min, flat.map(_._2).max,
      BlockStats(series.map(_._3).sum, series.size.toLong, flat.size.toLong),
      level)
    writeMeta(dir, meta)
    meta
  }

  // ---------- read ----------
  /** Distributed block read → long-form DataFrame (labels map, t, v),
    * through the DSv2 source: the driver ships only postings-ref slices
    * (8 bytes/series) and executors decode labels + chunks with
    * coalesced range reads — planning stays O(postings) however many
    * series the block holds (the previous RDD path decoded every label
    * map on the driver). Tombstones are honored by the reader. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-tsdb").load(dir).select("labels", "t", "v")

  // ---------- ingest (shipper equivalent, idempotent on ULID) ----------
  /** Append a block into a partitioned parquet store. Skip-if-present on
    * the block ULID (the reference's shipped-block dedup,
    * `shipper.go:257-259`); a marker file records completion AFTER the
    * data write, so a crashed ingest re-runs. */
  def ingest(spark: SparkSession, blockDir: String, storePath: String,
             promoted: Seq[String] = TsSchema.DefaultPromoted): Boolean = {
    val meta = readMeta(blockDir)
    val markerDir = BlockIO.child(storePath, "_ingested")
    val marker = BlockIO.child(markerDir, meta.ulid)
    if (BlockIO.exists(marker)) return false
    // block non-overlap invariant (reference validates at load,
    // db.go:206-220; Prometheus semantics on overlap is "error")
    if (BlockIO.isDirectory(markerDir)) {
      BlockIO.listNames(markerDir).foreach { name =>
        val Array(lo, hi) =
          BlockIO.readString(BlockIO.child(markerDir, name)).split("\\.\\.").map(_.toLong)
        require(meta.maxTime < lo || meta.minTime > hi,
          s"block ${meta.ulid} [${meta.minTime},${meta.maxTime}] overlaps " +
            s"ingested block $name [$lo,$hi]")
      }
    }
    val canonical = TsSchema.canonicalize(read(spark, blockDir), promoted)
    canonical.write.partitionBy("block_start").mode("append").parquet(storePath)
    BlockIO.mkdirs(markerDir)
    BlockIO.writeString(marker, s"${meta.minTime}..${meta.maxTime}")
    true
  }

  /** Sync a directory of blocks (the shipper's refresh loop, batch form):
    * ingest every ULID-named child dir not yet present — `blocksRoot` may
    * be a bucket prefix (`db.go:93-102`'s bucket sync). Returns ingested
    * ULIDs. */
  def syncDir(spark: SparkSession, blocksRoot: String, storePath: String): Seq[String] = {
    if (!BlockIO.isDirectory(blocksRoot)) return Seq.empty
    BlockIO.listDirNames(blocksRoot)
      .filter(n => BlockIO.exists(BlockIO.child(BlockIO.child(blocksRoot, n), "meta.json")))
      .filter(n => ingest(spark, BlockIO.child(blocksRoot, n), storePath))
  }
}
