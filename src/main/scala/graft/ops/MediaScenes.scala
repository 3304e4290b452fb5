package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.JpegCodec

/** Cross-container image-scene fixtures for the media-dedup oracles:
  * one SCENE per id — a flat-8×8-block grayscale image whose block
  * values are closed-form in (id, bx, by) — rendered into any of the
  * five supported containers (BMP, PNG, GIF, baseline JPEG, lossless
  * WebP) and
  * through a family of planted TRANSFORMS (brightness shift, 2×
  * nearest upscale, JPEG re-encode, block jitter).
  *
  * Flat 8×8 blocks are the one image class every container round-trips
  * bit-exactly — including JPEG under a DC-step-8 quant table
  * ([[JpegCodec.flatExactTable]]) — so a DuckDB oracle recomputes
  * pixels, features and dHashes from the formula alone while the Spark
  * side exercises five REAL decoders. The same-scene different-
  * container rows are guaranteed hamming-0 near-dups, which is exactly
  * the cross-format recall property crawl-scale image dedup needs. */
object MediaScenes {

  /** Scene dims: multiples of 8 so every block is whole in every
    * container (and of 16 so 4:2:0 JPEG MCUs stay flat). */
  def sceneW(id: Long): Int = 16 + 8 * (id % 3).toInt // 16 | 24 | 32
  def sceneH(id: Long): Int = 16 + 8 * (id % 2).toInt // 16 | 24

  /** Block value, kept ≤ 199 so every transform (+16 / +48) stays
    * clamp-free. */
  def blockVal(id: Long, bx: Int, by: Int): Int =
    (((id * 7 + bx * 37 + by * 101) % 200 + 200) % 200).toInt

  /** The planted transform family for the recall query. */
  val Transforms: Seq[String] =
    Seq("none", "bright", "upscale2", "reenc", "jitter1", "jitter3")

  /** Render the (possibly transformed) scene as a gray buffer. */
  def sceneGray(id: Long, transform: String): (Int, Int, Array[Byte]) = {
    val scale = if (transform == "upscale2") 2 else 1
    val w = sceneW(id) * scale
    val h = sceneH(id) * scale
    val block = 8 * scale
    val g = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val bx = x / block; val by = y / block
        var v = blockVal(id, bx, by)
        transform match {
          case "bright" => v += 16
          case "jitter1" => if ((bx + by) % 5 == 0) v += 48
          case "jitter3" => if ((bx + by) % 2 == 0) v += 48
          case _ => ()
        }
        g(y * w + x) = v.toByte
        x += 1
      }
      y += 1
    }
    (w, h, g)
  }

  // ------------------------------------------------------ gray encoders

  /** 24bpp bottom-up BMP of a gray buffer. */
  def bmpBytes(w: Int, h: Int, gray: Array[Byte]): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val out = new Array[Byte](54 + stride * h)
    def le4(at: Int, v: Int): Unit = { out(at) = v.toByte
      out(at + 1) = (v >> 8).toByte; out(at + 2) = (v >> 16).toByte
      out(at + 3) = (v >> 24).toByte }
    out(0) = 'B'; out(1) = 'M'
    le4(2, 54 + stride * h); le4(10, 54); le4(14, 40)
    le4(18, w); le4(22, h)
    out(26) = 1; out(28) = 24
    var y = 0
    while (y < h) {
      val fileRow = h - 1 - y
      var x = 0
      while (x < w) {
        val v = gray(y * w + x)
        val at = 54 + fileRow * stride + 3 * x
        out(at) = v; out(at + 1) = v; out(at + 2) = v
        x += 1
      }
      y += 1
    }
    out
  }

  /** 8-bit RGB PNG (filter 0 rows, one IDAT) of a gray buffer. */
  def pngBytes(w: Int, h: Int, gray: Array[Byte]): Array[Byte] = {
    val raw = new Array[Byte]((1 + 3 * w) * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = gray(y * w + x)
        val at = y * (1 + 3 * w) + 1 + 3 * x
        raw(at) = v; raw(at + 1) = v; raw(at + 2) = v
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val idat = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!deflater.finished()) idat.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    def be4(v: Long): Array[Byte] = Array((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      be4(data.length.toLong) ++ t ++ data ++ be4(crc.getValue)
    }
    val ihdr = be4(w.toLong) ++ be4(h.toLong) ++ Array[Byte](8, 2, 0, 0, 0)
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat.toByteArray) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** GIF89a with a gray identity palette (entry i = (i,i,i)) of a gray
    * buffer — real variable-width LZW, like [[Multimodal.buildGif]]. */
  def gifBytes(w: Int, h: Int, gray: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le2(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le2(w); le2(h)
    out.write(0xf7); out.write(0); out.write(0)
    for (i <- 0 until 256) { out.write(i); out.write(i); out.write(i) }
    out.write(0x2c)
    le2(0); le2(0); le2(w); le2(h)
    out.write(0)
    out.write(8) // LZW min code size
    val Clear = 256; val End = 257
    val bits = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    var codeSize = 9
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt; bitCnt += codeSize
      while (bitCnt >= 8) {
        bits.write((bitBuf & 0xff).toInt); bitBuf >>= 8; bitCnt -= 8 }
    }
    var table = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var next = End + 1
    emit(Clear)
    var cur = gray(0) & 0xff
    var i = 1
    while (i < gray.length) {
      val c = gray(i) & 0xff
      table.get((cur, c)) match {
        case Some(code) => cur = code
        case None =>
          emit(cur)
          if (next < 4096) {
            table.update((cur, c), next)
            next += 1
            if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
          } else {
            emit(Clear)
            table = scala.collection.mutable.HashMap.empty
            next = End + 1; codeSize = 9
          }
          cur = c
      }
      i += 1
    }
    emit(cur); emit(End)
    if (bitCnt > 0) bits.write((bitBuf & 0xff).toInt)
    val stream = bits.toByteArray
    var off = 0
    while (off < stream.length) {
      val n = math.min(255, stream.length - off)
      out.write(n); out.write(stream, off, n); off += n
    }
    out.write(0); out.write(0x3b)
    out.toByteArray
  }

  /** Baseline JPEG under the flat-exact table: bit-exact for flat
    * blocks, a REAL Huffman/DCT stream on the wire. */
  def jpegBytes(w: Int, h: Int, gray: Array[Byte]): Array[Byte] =
    JpegCodec.encodeGray(w, h, gray, JpegCodec.flatExactTable())

  /** Lossless WebP (VP8L literal stream) — bit-exact for any content. */
  def webpBytes(w: Int, h: Int, gray: Array[Byte]): Array[Byte] =
    graft.functions.WebpCodec.encodeGray(w, h, gray)

  def containerBytes(container: String, w: Int, h: Int,
                     gray: Array[Byte]): Array[Byte] = container match {
    case "bmp" => bmpBytes(w, h, gray)
    case "png" => pngBytes(w, h, gray)
    case "gif" => gifBytes(w, h, gray)
    case "jpeg" => jpegBytes(w, h, gray)
    case "webp" => webpBytes(w, h, gray)
    // lossy VP8 keyframe, exact for per-4x4-flat scenes (the oracle
    // scenes are 8x8-block flat) — a REAL arithmetic-coded stream the
    // RFC 6386 decoder reconstructs bit-exactly
    case "webp_lossy" =>
      graft.functions.Vp8Codec.encodeGrayB4x4(w, h, gray)
    case "tiff" =>
      graft.functions.TiffCodec.encode(w, h, gray, photometric = 1)
    case other => sys.error(s"unknown container: $other")
  }

  val Containers: Seq[String] =
    Seq("bmp", "png", "gif", "jpeg", "webp", "webp_lossy", "tiff")

  private def mime(container: String): String = container match {
    case "jpeg" => "image/jpeg"
    case "webp_lossy" => "image/webp"
    case c => s"image/$c"
  }

  /** Media table of scenes in ONE container (JVM-side per row, fixture
    * cost — the per-row map is the same shape as `synthesizePng`). */
  def synthesize(df: DataFrame, idCol: String, sourceCol: String,
                 container: String,
                 transform: String = "none"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(sourceCol).cast("string"))
      .as[(Long, String)]
      .map(sceneRows.getOrElseUpdate((container, transform), {
        case (id, src) =>
          val (w, h, g) = sceneGray(id, transform)
          val bytes = containerBytes(container, w, h, g)
          (id, "image", bytes, src, mime(container), bytes.length.toLong)
      }))
      .toDF("media_id", "kind", "payload", "source", "mime", "n_bytes")
      .select(col("media_id"), col("kind"), col("payload"),
        struct(col("source"), col("mime"), col("n_bytes")).as("meta"))
  }

  /** One row builder per (container, transform), built once:
    * `MapElements` compares its function by identity, so a fresh
    * closure per call would give every call a plan [[graft.Persisted]]
    * has never seen. */
  private val sceneRows = scala.collection.concurrent.TrieMap.empty[(String, String),
    ((Long, String)) => (Long, String, Array[Byte], String, String, Long)]

  /** The MIXED-format corpus: every scene in all five containers,
    * `media_id = 10·id + containerIndex` — the same planted scene is a
    * guaranteed hamming-0 near-dup across containers, so banded-join
    * recall across formats is itself under oracle. */
  def synthesizeMixed(df: DataFrame, idCol: String,
                      sourceCol: String): DataFrame =
    Containers.zipWithIndex.map { case (c, i) =>
      synthesize(df, idCol, sourceCol, c)
        .withColumn("media_id", col("media_id") * 10L + i.toLong)
    }.reduce(_.unionByName(_))

  /** Minimal ISO-BMFF `ftyp` stub (major brand + compatible "mif1")
    * for the skip-counting fixtures — sniffs as avif/heic, never
    * decodes. */
  def ftypStub(major: String): Array[Byte] = {
    val out = new Array[Byte](20)
    out(3) = 20 // box size (big-endian)
    out(4) = 'f'; out(5) = 't'; out(6) = 'y'; out(7) = 'p'
    var i = 0
    while (i < 4) {
      out(8 + i) = major.charAt(i).toByte // major brand
      out(16 + i) = "mif1".charAt(i).toByte // one compatible brand
      i += 1
    } // bytes 12..15: minor version = 0
    out
  }

  /** Minimal little-endian TIFF header stub (II*\0 + IFD offset). */
  def tiffStub(): Array[Byte] =
    Array[Byte]('I', 'I', 42, 0, 8, 0, 0, 0)

  // ---------------------------------------- header-walk dim fixtures

  private def putCc(out: Array[Byte], at: Int, s: String): Unit = {
    out(at) = s.charAt(0).toByte; out(at + 1) = s.charAt(1).toByte
    out(at + 2) = s.charAt(2).toByte; out(at + 3) = s.charAt(3).toByte
  }

  private def putBe4(out: Array[Byte], at: Int, v: Int): Unit = {
    out(at) = (v >> 24).toByte; out(at + 1) = (v >> 16).toByte
    out(at + 2) = (v >> 8).toByte; out(at + 3) = v.toByte
  }

  private def bmffBox(cc: String, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](8 + body.length)
    putBe4(out, 0, out.length); putCc(out, 4, cc)
    System.arraycopy(body, 0, out, 8, body.length)
    out
  }

  /** ISO-BMFF still with REAL spatial extents: `ftyp` (major brand +
    * "mif1") then `meta`{`iprp`{`ipco`{`ispe`(w, h)}}} — classifies as
    * avif/heic and parses dimensions, never decodes. */
  def avifIspeStub(major: String, w: Int, h: Int): Array[Byte] = {
    val ispe = new Array[Byte](20)
    putBe4(ispe, 0, 20); putCc(ispe, 4, "ispe")
    putBe4(ispe, 12, w); putBe4(ispe, 16, h)
    val iprp = bmffBox("iprp", bmffBox("ipco", ispe))
    val metaBody = new Array[Byte](4 + iprp.length) // FullBox ver/flags
    System.arraycopy(iprp, 0, metaBody, 4, iprp.length)
    ftypStub(major) ++ bmffBox("meta", metaBody)
  }

  /** TIFF 6.0 with a real IFD0: ImageWidth (LONG), ImageLength
    * (SHORT), SamplesPerPixel (SHORT), in either byte order. */
  def tiffDimsStub(w: Int, h: Int, samples: Int,
      bigEndian: Boolean): Array[Byte] = {
    val out = new Array[Byte](8 + 2 + 3 * 12 + 4)
    def u2(at: Int, v: Int): Unit =
      if (bigEndian) { out(at) = (v >> 8).toByte; out(at + 1) = v.toByte }
      else { out(at) = v.toByte; out(at + 1) = (v >> 8).toByte }
    def u4(at: Int, v: Int): Unit =
      if (bigEndian) putBe4(out, at, v)
      else { out(at) = v.toByte; out(at + 1) = (v >> 8).toByte
        out(at + 2) = (v >> 16).toByte; out(at + 3) = (v >> 24).toByte }
    if (bigEndian) { out(0) = 'M'; out(1) = 'M'; out(3) = 42 }
    else { out(0) = 'I'; out(1) = 'I'; out(2) = 42 }
    u4(4, 8) // IFD0 offset
    u2(8, 3) // entry count
    def entry(at: Int, tag: Int, typ: Int, v: Int): Unit = {
      u2(at, tag); u2(at + 2, typ); u4(at + 4, 1)
      if (typ == 3) u2(at + 8, v) else u4(at + 8, v)
    }
    entry(10, 256, 4, w) // ImageWidth: LONG
    entry(22, 257, 3, h) // ImageLength: SHORT
    entry(34, 277, 3, samples)
    out // next-IFD offset stays 0
  }

  // EBML helpers: IDs are written verbatim (marker retained); sizes
  // use the 4-byte form 0x10000000 | v (v < 2^28)
  private def ebmlSize(v: Int): Array[Byte] =
    Array[Byte]((0x10 | (v >> 24)).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)

  private def ebmlElem(id: Array[Byte], body: Array[Byte]): Array[Byte] =
    id ++ ebmlSize(body.length) ++ body

  private def beMin(v: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && (v >>> (8 * n)) != 0) n += 1
    val out = new Array[Byte](n)
    var k = 0
    while (k < n) { out(k) = (v >>> (8 * (n - 1 - k))).toByte; k += 1 }
    out
  }

  /** Matroska/WebM stub with a real Info (TimestampScale + 8-byte
    * float Duration), `nTracks` TrackEntry children and one Cluster of
    * `clusterBytes` zero bytes per entry. */
  /** A REAL VP8-in-WebM clip: one V_VP8 track, each frame a flat-MB
    * VP8 keyframe ([[graft.functions.Vp8Codec.encodeGrayMbFlat]]) in
    * an un-laced SimpleBlock — the wire shape an actual WebM video
    * has, so the temporal near-dup path is gated on real container +
    * real codec, not just raw Y4M. Fixed 48x32 (3x2 MBs); frame
    * t's MB value grid is `(id*13 + t*29 + mx*53 + my*89) % 256`
    * (closed form for the oracle); `trim` drops leading frames (the
    * trimmed re-upload case) while keeping the ORIGINAL frame values
    * at the shifted positions. */
  def buildWebmVp8Scene(id: Long, trim: Int = 0): Array[Byte] = {
    val w = 48; val h = 32
    val n = (4 + id % 4).toInt - trim
    val frames = (0 until n).map { f =>
      val t = f + trim
      val vals = Array.tabulate(6) { mb =>
        val mx = mb % 3; val my = mb / 3
        (((id * 13 + t * 29 + mx * 53 + my * 89) % 256 + 256) % 256).toInt
      }
      val webp = graft.functions.Vp8Codec.encodeGrayMbFlat(w, h, vals)
      java.util.Arrays.copyOfRange(webp, 20, webp.length) // VP8 payload
    }
    val header = ebmlElem(Array[Byte](0x1A, 0x45, 0xDF.toByte, 0xA3.toByte),
      ebmlElem(Array[Byte](0x42, 0x82.toByte), "webm".getBytes("US-ASCII")))
    val info = ebmlElem(Array[Byte](0x15, 0x49, 0xA9.toByte, 0x66),
      ebmlElem(Array[Byte](0x2A, 0xD7.toByte, 0xB1.toByte), beMin(1000000L)))
    val trackEntry = ebmlElem(Array[Byte](0xAE.toByte),
      ebmlElem(Array[Byte](0xD7.toByte), beMin(1L)) ++ // TrackNumber
        ebmlElem(Array[Byte](0x83.toByte), beMin(1L)) ++ // TrackType video
        ebmlElem(Array[Byte](0x86.toByte), "V_VP8".getBytes("US-ASCII")))
    val tracks = ebmlElem(Array[Byte](0x16, 0x54, 0xAE.toByte, 0x6B),
      trackEntry)
    val blocks = frames.zipWithIndex.flatMap { case (vp8, f) =>
      val payload = Array[Byte](0x81.toByte, // track 1 varint
        ((f * 33) >> 8).toByte, (f * 33).toByte, // relative timecode
        0x80.toByte) ++ vp8 // keyframe, un-laced
      ebmlElem(Array[Byte](0xA3.toByte), payload)
    }.toArray
    val cluster = ebmlElem(Array[Byte](0x1F, 0x43, 0xB6.toByte, 0x75),
      ebmlElem(Array[Byte](0xE7.toByte), beMin(0L)) ++ blocks)
    header ++ ebmlElem(Array[Byte](0x18, 0x53, 0x80.toByte, 0x67),
      info ++ tracks ++ cluster)
  }

  def webmStub(docType: String, timescale: Long, durationTicks: Double,
      nTracks: Int, clusterBytes: Seq[Int]): Array[Byte] = {
    val docTypeBytes = docType.getBytes("US-ASCII")
    val header = ebmlElem(Array[Byte](0x1A, 0x45, 0xDF.toByte, 0xA3.toByte),
      ebmlElem(Array[Byte](0x42, 0x82.toByte), docTypeBytes))
    val durBits = java.lang.Double.doubleToLongBits(durationTicks)
    val info = ebmlElem(Array[Byte](0x15, 0x49, 0xA9.toByte, 0x66),
      ebmlElem(Array[Byte](0x2A, 0xD7.toByte, 0xB1.toByte), beMin(timescale)) ++
        ebmlElem(Array[Byte](0x44, 0x89.toByte),
          (0 until 8).map(k => (durBits >>> (8 * (7 - k))).toByte).toArray))
    val tracks = ebmlElem(Array[Byte](0x16, 0x54, 0xAE.toByte, 0x6B),
      (0 until nTracks).flatMap { t =>
        ebmlElem(Array[Byte](0xAE.toByte),
          ebmlElem(Array[Byte](0xD7.toByte), beMin(t + 1L))) // TrackNumber
      }.toArray)
    val clusters = clusterBytes.flatMap { n =>
      ebmlElem(Array[Byte](0x1F, 0x43, 0xB6.toByte, 0x75),
        new Array[Byte](n))
    }.toArray
    header ++ ebmlElem(Array[Byte](0x18, 0x53, 0x80.toByte, 0x67),
      info ++ tracks ++ clusters)
  }

  /** MP4 with a REAL video track: ftyp + moov{mvhd, trak{tkhd(16.16
    * dims), mdia{hdlr('vide'), minf{stbl{stsd(codec entry)}}}},
    * `nAudio` × audio trak} — exercises the track-level box walk
    * (dimensions, handler routing, sample-entry fourcc). */
  def mp4TrackStub(w: Int, h: Int, codec: String, timescale: Long,
      duration: Long, nAudio: Int): Array[Byte] = {
    def fullBox(cc: String, body: Array[Byte]): Array[Byte] =
      bmffBox(cc, new Array[Byte](4) ++ body) // version 0 + flags
    def mvhd: Array[Byte] = {
      val body = new Array[Byte](96)
      putBe4(body, 8, timescale.toInt)
      putBe4(body, 12, duration.toInt)
      putBe4(body, 16, 0x00010000) // rate 1.0
      putBe4(body, 32, 0x00010000); putBe4(body, 48, 0x00010000)
      putBe4(body, 64, 0x40000000) // unity matrix
      putBe4(body, 92, nAudio + 2) // next_track_ID
      fullBox("mvhd", body)
    }
    def tkhd(id: Int, tw: Int, th: Int): Array[Byte] = {
      val body = new Array[Byte](80)
      putBe4(body, 8, id)
      putBe4(body, 16, duration.toInt)
      putBe4(body, 36, 0x00010000); putBe4(body, 52, 0x00010000)
      putBe4(body, 68, 0x40000000) // unity matrix
      putBe4(body, 72, tw << 16); putBe4(body, 76, th << 16)
      fullBox("tkhd", body)
    }
    def hdlr(kind: String): Array[Byte] = {
      val body = new Array[Byte](20) // pre_defined + type + reserved(12)
      kind.getBytes("US-ASCII").copyToArray(body, 4)
      fullBox("hdlr", body)
    }
    def stsd(fourcc: String): Array[Byte] = {
      val entry = bmffBox(fourcc, new Array[Byte](8)) // opaque entry body
      val body = new Array[Byte](4 + entry.length)
      putBe4(body, 0, 1) // entry_count
      entry.copyToArray(body, 4)
      fullBox("stsd", body)
    }
    def trak(id: Int, kind: String, fourcc: String, tw: Int,
        th: Int): Array[Byte] =
      bmffBox("trak", tkhd(id, tw, th) ++ bmffBox("mdia",
        hdlr(kind) ++ bmffBox("minf", bmffBox("stbl", stsd(fourcc)))))
    val traks = trak(1, "vide", codec, w, h) ++
      (0 until nAudio).flatMap(k => trak(2 + k, "soun", "mp4a", 0, 0))
    val ftyp = new Array[Byte](16)
    putBe4(ftyp, 0, 16); putCc(ftyp, 4, "ftyp"); putCc(ftyp, 8, "isom")
    ftyp ++ bmffBox("moov", mvhd ++ traks) ++
      bmffBox("mdat", new Array[Byte](24))
  }

  /** FLAC header: `fLaC` magic, a VORBIS_COMMENT padding block first
    * (so the walk is exercised), then the last-flagged STREAMINFO with
    * the packed rate / channels / bits / total-samples tail. */
  def flacStub(rate: Int, channels: Int, bits: Int,
      totalSamples: Long): Array[Byte] = {
    val out = new Array[Byte](4 + 4 + 12 + 4 + 34)
    putCc(out, 0, "fLaC")
    out(4) = 4 // VORBIS_COMMENT, not last
    out(6) = 0; out(7) = 12 // 3-byte length
    var i = 20
    out(i) = 0x80.toByte // STREAMINFO, last
    out(i + 3) = 34
    i += 4
    // min/max block size (2+2) + min/max frame size (3+3) = 10 bytes
    out(i) = 0x10; out(i + 1) = 0; out(i + 2) = 0x10 // block size 4096
    val at = i + 10
    out(at) = (rate >> 12).toByte
    out(at + 1) = (rate >> 4).toByte
    out(at + 2) = (((rate & 0xf) << 4) | ((channels - 1) << 1) |
      ((bits - 1) >> 4)).toByte
    out(at + 3) = ((((bits - 1) & 0xf) << 4) |
      ((totalSamples >> 32) & 0xf)).toInt.toByte
    var k = 0
    while (k < 4) {
      out(at + 4 + k) = (totalSamples >> (8 * (3 - k))).toByte
      k += 1
    } // remaining 16 bytes: MD5 of zeros
    out
  }

  /** RFC 7845 OpusHead identification packet. */
  def opusHead(channels: Int, preSkip: Int, inputRate: Long): Array[Byte] = {
    val out = new Array[Byte](19)
    "OpusHead".getBytes("US-ASCII").copyToArray(out)
    out(8) = 1 // version
    out(9) = channels.toByte
    out(10) = preSkip.toByte; out(11) = (preSkip >> 8).toByte
    out(12) = inputRate.toByte; out(13) = (inputRate >> 8).toByte
    out(14) = (inputRate >> 16).toByte; out(15) = (inputRate >> 24).toByte
    out // gain 0, mapping family 0
  }

  /** Vorbis identification header packet. */
  def vorbisId(channels: Int, rate: Long): Array[Byte] = {
    val out = new Array[Byte](30)
    out(0) = 1
    "vorbis".getBytes("US-ASCII").copyToArray(out, 1)
    out(11) = channels.toByte
    out(12) = rate.toByte; out(13) = (rate >> 8).toByte
    out(14) = (rate >> 16).toByte; out(15) = (rate >> 24).toByte
    out(28) = 0x66 // blocksizes (2^6 / 2^6)
    out(29) = 1 // framing bit
    out
  }

  /** A whole CRC-clean Ogg stream: the id packet on a BOS page
    * (granule 0), then one filler page per granule value (payloads
    * < 255 bytes so every page is a single lacing segment). */
  def oggStub(idPacket: Array[Byte], granules: Seq[Long]): Array[Byte] = {
    require(idPacket.length < 255, "id packet must fit one segment")
    val out = new java.io.ByteArrayOutputStream()
    def page(payload: Array[Byte], granule: Long, seq: Int,
        typ: Int): Unit = {
      val p = new Array[Byte](27 + 1 + payload.length)
      putCc(p, 0, "OggS")
      p(5) = typ.toByte
      var k = 0
      while (k < 8) { p(6 + k) = (granule >>> (8 * k)).toByte; k += 1 }
      p(14) = 0x34; p(15) = 0x12 // serial (LE)
      p(18) = seq.toByte; p(19) = (seq >> 8).toByte
      p(26) = 1 // one lacing segment
      p(27) = payload.length.toByte
      System.arraycopy(payload, 0, p, 28, payload.length)
      val crc = graft.functions.OggHeaderExpr.pageCrc(p, 0, p.length)
      p(22) = crc.toByte; p(23) = (crc >> 8).toByte
      p(24) = (crc >> 16).toByte; p(25) = (crc >> 24).toByte
      out.write(p, 0, p.length)
    }
    page(idPacket, 0L, 0, 0x02) // BOS
    granules.zipWithIndex.foreach { case (g, k) =>
      val filler = Array.tabulate[Byte](100)(j => ((j * 7 + k) & 0x7f).toByte)
      page(filler, g, k + 1,
        if (k == granules.length - 1) 0x04 else 0)
    }
    out.toByteArray
  }
}
