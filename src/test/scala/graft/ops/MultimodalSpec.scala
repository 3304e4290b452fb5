package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The REAL header decode: payloads built to the published PNG/JPEG
  * container formats round-trip through the codegen'd
  * [[graft.functions.MediaHeaderExpr]], and foreign bytes decode to
  * null instead of throwing. */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  test("synthesizeImages payloads round-trip through the header decode") {
    val docs = Seq(
      (0L, "even id: png, channels 1 (0 % 3 = 0)", "s3://a"),
      (7L, "odd id: jpeg, height bucket moves at id 7", "s3://b"),
      (9L, "odd id, 9 % 3 = 0: grayscale jpeg", "s3://c"),
      (1030L, "width wraps: 1030 % 1024 + 32 = 38", "s3://d")
    ).toDF("doc_id", "text", "source")
    val out = Multimodal.synthesizeImages(docs, "doc_id", "text", "source")
      .select(col("media_id"), col("meta.mime").as("mime"),
        Multimodal.decodeHeader(col("payload")).as("d"))
      .select(col("media_id"), col("mime"), col("d.format"), col("d.width"),
        col("d.height"), col("d.channels"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getInt(4), r.getInt(5))).sortBy(_._1).toSeq
    assert(out == Seq(
      (0L, "image/png", "png", 32, 32, 1),
      (7L, "image/jpeg", "jpeg", 39, 33, 3),
      (9L, "image/jpeg", "jpeg", 41, 33, 1),
      (1030L, "image/png", "png", 38, 179, 3)))
  }

  test("decode parses independently-built headers and nulls foreign bytes") {
    // a hand-built PNG IHDR (RGBA 640x480) and JPEG with a COM segment
    // BEFORE the SOF0 — the segment walk must skip it — plus junk bytes
    val png = Array[Int](
      0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0x02, 0x80, 0, 0, 0x01, 0xe0, // 640 x 480
      8, 6, 0, 0, 0, // bit depth 8, color type 6 = RGBA
      0xde, 0xad, 0xbe, 0xef).map(_.toByte) // crc (unchecked)
    val jpeg = Array[Int](
      0xff, 0xd8, // SOI
      0xff, 0xfe, 0x00, 0x06, 'n', 'o', 't', 'e', // COM segment, len 6
      0xff, 0xc2, 0x00, 0x0b, 8, 0x00, 0x64, 0x00, 0xc8, 1, // SOF2 200x100, 1 comp
      0x01, 0x11, 0x00).map(_.toByte)
    val junk = "not an image at all".getBytes("UTF-8")
    val df = Seq((1L, png), (2L, jpeg), (3L, junk)).toDF("id", "payload")
    val got = df.select(col("id"), Multimodal.decodeHeader(col("payload")).as("d"))
      .select(col("id"), col("d.format"), col("d.width"), col("d.height"),
        col("d.channels"))
      .collect().sortBy(_.getLong(0))
    assert(got(0).getString(1) == "png" && got(0).getInt(2) == 640 &&
      got(0).getInt(3) == 480 && got(0).getInt(4) == 4)
    assert(got(1).getString(1) == "jpeg" && got(1).getInt(2) == 200 &&
      got(1).getInt(3) == 100 && got(1).getInt(4) == 1)
    assert(got(2).isNullAt(1), "foreign bytes must decode to null, not throw")
  }

  test("GIF/BMP: round-trip, top-down BMP, 16bpp, pre-BITMAPINFOHEADER nulls") {
    val docs = Seq((0L, "gif, channels n/a (palette)", "s"),
      (9L, "bmp 8bpp (9 % 3 = 0)", "s"), (7L, "bmp 24bpp", "s"))
      .toDF("doc_id", "text", "source")
    val out = Multimodal.synthesizeGifBmp(docs, "doc_id", "text", "source")
      .select(col("media_id"), Multimodal.decodeHeader(col("payload")).as("d"))
      .select(col("media_id"), col("d.format"), col("d.width"),
        col("d.height"), col("d.channels"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).sortBy(_._1).toSeq
    assert(out == Seq((0L, "gif", 32, 32, 1), (7L, "bmp", 39, 33, 3),
      (9L, "bmp", 41, 33, 1)))

    // hand-built BMPs: negative height (top-down) must abs; 16bpp → 2
    // channels; a BITMAPCOREHEADER (size 12 < 40) is not parsed
    def bmp(w: Int, h: Int, bpp: Int, dib: Int = 40): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(70)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(70).putInt(0).putInt(54)
      b.putInt(dib).putInt(w).putInt(h).putShort(1).putShort(bpp.toShort)
      b.array()
    }
    val rows = Seq((1L, bmp(640, -480, 32)), (2L, bmp(10, 20, 16)),
        (3L, bmp(10, 20, 24, dib = 12)), (4L, bmp(0, 20, 24)))
      .toDF("id", "payload")
      .select(col("id"), Multimodal.decodeHeader(col("payload")).as("d"))
      .orderBy("id").collect()
    val topDown = rows(0).getStruct(1)
    assert(topDown.getInt(1) == 640 && topDown.getInt(2) == 480 &&
      topDown.getInt(3) == 4)
    assert(rows(1).getStruct(1).getInt(3) == 2) // 16bpp
    assert(rows(2).isNullAt(1), "BITMAPCOREHEADER is out of scope -> null")
    assert(rows(3).isNullAt(1), "zero width -> null")
  }

  test("synthesizeAudio payloads round-trip through the WAV header decode") {
    val docs = Seq(
      (0L, "8000 Hz mono", "s3://a"),          // id%5=0, id%2=0
      (3L, "44100 Hz stereo here", "s3://b"),  // id%5=3, id%2=1
      (9L, "48000 Hz stereo", "s3://c")        // id%5=4, id%2=1
    ).toDF("doc_id", "text", "source")
    val out = Multimodal.synthesizeAudio(docs, "doc_id", "text", "source")
      .select(col("media_id"), col("meta.mime").as("mime"),
        col("meta.n_bytes").as("n_bytes"),
        Multimodal.decodeAudioHeader(col("payload")).as("d"))
      .select(col("media_id"), col("mime"), col("n_bytes"), col("d.format"),
        col("d.sample_rate"), col("d.channels"), col("d.bits_per_sample"),
        col("d.n_frames"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getInt(4), r.getInt(5), r.getInt(6), r.getLong(7)))
      .sortBy(_._1).toSeq
    // n_frames = text bytes / (2 * channels), floored
    assert(out == Seq(
      (0L, "audio/wav", 12L + 44, "wav", 8000, 1, 16, 6L),
      (3L, "audio/wav", 20L + 44, "wav", 44100, 2, 16, 5L),
      (9L, "audio/wav", 15L + 44, "wav", 48000, 2, 16, 3L)))
  }

  test("PCM sample decode: features match a JVM reference, nulls foreign bytes") {
    val docs = Seq((5L, "s3://a"), (12L, "s3://b")).toDF("doc_id", "source")
    val got = Multimodal.synthesizeAudioTone(docs, "doc_id", "source")
      .select(col("media_id"), Multimodal.decodeAudioPcm(col("payload")).as("f"))
      .select(col("media_id"), col("f.n_samples"), col("f.peak"),
        col("f.zero_crossings"), col("f.sum_sq"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // independent JVM reference from the tone's closed form
    def ref(id: Long): (Long, Long, Long, Long) = {
      val n = 128 + id % 64
      val s = (0L until n).map { k =>
        (((id * 7 + 2 * k * 37) % 256) +
          256 * ((id * 7 + (2 * k + 1) * 37) % 256)).toInt match {
          case x if x >= 32768 => x - 65536
          case x => x
        }
      }
      val zc = s.sliding(2).count(p =>
        (p(0) < 0 && p(1) > 0) || (p(0) > 0 && p(1) < 0))
      (n, s.map(v => math.abs(v.toLong)).max, zc.toLong,
        s.map(v => v.toLong * v).sum)
    }
    assert(got(5L) == ref(5L) && got(12L) == ref(12L))
    // sign flips actually occur (the features aren't degenerate)
    assert(got(5L)._3 > 0 && got(5L)._2 > 16384)
    // non-WAV and non-16-bit payloads decode to null
    val foreign = Seq(Tuple1("not a riff payload".getBytes("UTF-8"))).toDF("p")
    assert(foreign.select(Multimodal.decodeAudioPcm(col("p"))).head().isNullAt(0))
  }

  test("BMP pixel decode: features match a JVM reference, stride + nulls") {
    val docs = Seq((4L, "s3://a"), (11L, "s3://b")).toDF("doc_id", "source")
    val got = Multimodal.synthesizeBitmap(docs, "doc_id", "source")
      .select(col("media_id"), Multimodal.decodeImagePixels(col("payload")).as("f"))
      .select(col("media_id"), col("f.width"), col("f.height"),
        col("f.n_pixels"), col("f.sum_r"), col("f.sum_g"), col("f.sum_b"),
        col("f.max_lum"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    def ref(id: Long) = {
      val w = 8 + id % 9; val h = 4 + id % 5
      val px = for (y <- 0L until h; x <- 0L until w) yield
        ((id * 9 + x + y * 13) % 256, (id * 5 + x * 11 + y) % 256,
          (id + x * 3 + y * 7) % 256)
      (w, h, w * h, px.map(_._1).sum, px.map(_._2).sum, px.map(_._3).sum,
        px.map(p => 2126 * p._1 + 7152 * p._2 + 722 * p._3).max)
    }
    assert(got(4L) == ref(4L) && got(11L) == ref(11L))
    // id 4: w=12 (stride 36, no padding); id 11: w=10 (stride 32, 2 pad
    // bytes per row) — both matched the reference, so striding is right
    assert(got(11L)._1 == 10L)
    // non-BMP / 8bpp / compressed payloads decode to null
    val foreign = Seq(Tuple1("definitely not a bitmap!".getBytes("UTF-8"))).toDF("p")
    assert(foreign.select(Multimodal.decodeImagePixels(col("p"))).head().isNullAt(0))
    val eightBpp = Multimodal.synthesizeGifBmp(
      Seq((3L, "text body here", "s")).toDF("doc_id", "text", "source"),
      "doc_id", "text", "source") // id 3 -> BMP branch, channels=1 -> 8bpp
    assert(eightBpp.select(Multimodal.decodeImagePixels(col("payload")))
      .head().isNullAt(0))
  }

  test("image dHash: brightness invariance, orientation, JVM reference, nulls") {
    // hand-built 16×16 24bpp BMPs (stride 48, no padding)
    def bmp(h: Int, pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val w = 16
      val out = new java.io.ByteArrayOutputStream()
      def le4(v: Int): Unit =
        (0 until 4).foreach(i => out.write((v >> (8 * i)) & 0xff))
      def le2(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      out.write('B'); out.write('M'); le4(54 + w * 3 * math.abs(h)); le4(0); le4(54)
      le4(40); le4(w); le4(h); le2(1); le2(24); (0 until 24).foreach(_ => out.write(0))
      val hh = math.abs(h)
      for (fr <- 0 until hh; x <- 0 until w) {
        val y = if (h > 0) hh - 1 - fr else fr // bottom-up vs top-down
        val (r, g, b) = pixel(x, y)
        out.write(b); out.write(g); out.write(r)
      }
      out.toByteArray
    }
    def dhash(payloads: Array[Byte]*): Seq[Any] = {
      val df = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("id", "payload")
      df.select(Multimodal.imageDHash(col("payload"))).collect()
        .map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq
    }
    val grad = (x: Int, y: Int) => (x * 10, y * 10, (x + y) * 5)
    val bright = (x: Int, y: Int) => (x * 10 + 40, y * 10 + 40, (x + y) * 5 + 40)
    val Seq(base, shifted, topDown, noise) = dhash(
      bmp(16, grad), bmp(16, bright), bmp(-16, grad),
      bmp(16, (x, y) => (((x * 97 + y * 31) % 7) * 36, ((x * 13 + y * 53) % 5) * 50,
        ((x * 29 + y * 3) % 11) * 23)))
    // dHash encodes luminance ORDER, so a uniform +40 shift is identity
    assert(base == shifted)
    // orientation is normalized to image coordinates before sampling
    assert(base == topDown)
    // an unrelated pattern is far: a monotone gradient's hash is all-ones
    assert(base != noise)
    // JVM reference for the gradient: every rightward neighbor is
    // brighter, so all 56 bits are set
    assert(base == (1L << 56) - 1)
    // truncated pixel array and foreign bytes decode to null
    val truncated = bmp(16, grad).take(200)
    assert(dhash(truncated, "not an image".getBytes("UTF-8")) == Seq(null, null))
  }

  test("image near-dup pairs: banded join finds shifted copies, not strangers") {
    val docs = Seq((0L, "s"), (17L, "s"), (34L, "s")).toDF("doc_id", "source")
    val media = Multimodal.synthesizeBitmap(docs, "doc_id", "source")
    // plant an exact duplicate of image 0 under a new id
    val dup = media.where(col("media_id") === 0L)
      .withColumn("media_id", col("media_id") + 1000L)
    val all = media.unionByName(dup)
    val pairs = Multimodal.imageNearDupPairs(all, "media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((0L, 1000L, 0L))) // the planted dup, hamming 0
    val plan = Multimodal.imageNearDupPairs(all, "media_id", "payload")
      .queryExecution.executedPlan.toString
    // candidates expand bucket-locally: no join is keyed on the band key
    assert(!plan.linesIterator.exists(l => l.contains("Join") && l.contains("band_key")))
  }

  test("audio fingerprint: gain invariance, envelope sensitivity, nulls") {
    // minimal 16-bit mono WAV around explicit samples
    def wav(samples: Seq[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def w4(s: String): Unit = s.foreach(c => out.write(c))
      def le4(v: Int): Unit = (0 until 4).foreach(i => out.write((v >> (8 * i)) & 0xff))
      def le2(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      val dataLen = samples.length * 2
      w4("RIFF"); le4(36 + dataLen); w4("WAVE")
      w4("fmt "); le4(16); le2(1); le2(1); le4(8000); le4(16000); le2(2); le2(16)
      w4("data"); le4(dataLen)
      samples.foreach(s => le2(s & 0xffff))
      out.toByteArray
    }
    def fp(payloads: Array[Byte]*): Seq[Any] = {
      val df = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("id", "payload")
      df.select(Multimodal.audioFingerprint(col("payload"))).collect()
        .map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq
    }
    // a rising-then-falling envelope over 570 samples (10 per frame)
    val env = (0 until 570).map(k => (if (k < 285) k else 570 - k) * 20)
    val Seq(base, doubled, reshaped, short) = fp(
      wav(env), wav(env.map(_ * 2)), wav(env.sorted),
      wav(Seq.fill(40)(100)))
    // uniform gain preserves every energy ORDER comparison
    assert(base == doubled)
    // the triangle sets exactly the rising half's bits; a monotone
    // envelope sets all 56 — shape is what the hash encodes
    assert(base == (1L << 28) - 1)
    assert(reshaped == (1L << 56) - 1)
    // fewer than 57 samples cannot be framed
    assert(short == null)
    assert(fp("RIFFxxxxWAVE".getBytes("US-ASCII")) == Seq(null))
  }

  test("video keyframe hash: matches frame-0 luma order, ignores later frames") {
    val docs = Seq((2L, "s"), (9L, "s")).toDF("doc_id", "source")
    val got = Multimodal.synthesizeY4m(docs, "doc_id", "source")
      .select(col("media_id"), Multimodal.videoDHash(col("payload")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ref(id: Long): Long = {
      val w = (8 + 2 * (id % 5)).toInt; val h = (6 + 2 * (id % 3)).toInt
      def lum(c: Int, r: Int) =
        (id + 3 * ((2 * c + 1) * w / 16) + 7 * ((2 * r + 1) * h / 16)) % 256
      (for (r <- 0 until 8; c <- 0 until 7 if lum(c + 1, r) > lum(c, r))
        yield 1L << (r * 7 + c)).sum
    }
    assert(got(2L) == ref(2L) && got(9L) == ref(9L))
    // stripping every frame after the first leaves the hash unchanged
    val one = Multimodal.synthesizeY4m(docs, "doc_id", "source")
      .collect().map { r =>
        val b = r.getAs[Array[Byte]]("payload")
        val id = r.getLong(0)
        val w = (8 + 2 * (id % 5)).toInt; val h = (6 + 2 * (id % 3)).toInt
        val hdr = b.indexOf('\n'.toByte) + 1
        val frame = b.indexOf('\n'.toByte, hdr) + 1
        (id, b.take(frame + w * h + 2 * (w / 2) * (h / 2)))
      }.toSeq.toDF("id", "payload")
    val oneHashes = one.select(col("id"), Multimodal.videoDHash(col("payload")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oneHashes == got)
    // a stream with no complete first frame is null
    val stub = "YUV4MPEG2 W8 H6 F25:1\nFRAME\nxx".getBytes("US-ASCII")
    assert(Seq(Tuple1(stub)).toDF("payload")
      .select(Multimodal.videoDHash(col("payload"))).head().isNullAt(0))
  }

  test("cross-corpus media dedup: new batch checked against a hash index") {
    val corpusDocs = Seq((0L, "s"), (17L, "s"), (34L, "s")).toDF("doc_id", "source")
    val corpus = Multimodal.synthesizeBitmap(corpusDocs, "doc_id", "source")
    val index = Multimodal.mediaHashIndex(corpus, "media_id",
      Multimodal.imageDHash(col("payload"))).collect()
    // the index is the persisted artifact: rebuild a frame from it
    val idxDf = index.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("id", "dh")
    // new batch: an exact copy of corpus image 17 plus a fresh image
    val newMedia = Multimodal.synthesizeBitmap(
        Seq((17L, "s"), (200L, "s")).toDF("doc_id", "source"),
        "doc_id", "source")
      .withColumn("media_id", col("media_id") + 5000L)
    val got = Multimodal.mediaNearDupAgainst(newMedia, "media_id",
        Multimodal.imageDHash(col("payload")), idxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.contains((5017L, 17L, 0L))) // the copy names its original
    // the fresh image matches nothing at hamming 0 with its own id
    assert(!got.exists(p => p._1 == 5200L && p._3 == 0L && p._2 != 200L))
    val plan = Multimodal.mediaNearDupAgainst(newMedia, "media_id",
        Multimodal.imageDHash(col("payload")), idxDf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
  }

  test("temporal video near-dup catches trimmed re-uploads frame-0 misses") {
    val ids = (0L until 120L by 17L).toSeq
    val base = ids.map(id => (id, Multimodal.buildY4mScene(id)))
      .toDF("media_id", "payload")
    val trimmed = ids.filter(_ % 34 == 0)
      .map(id => (id + 5000L, Multimodal.buildY4mScene(id, trim = 1)))
      .toDF("media_id", "payload")
    val corpus = base.unionByName(trimmed)
    val planted = ids.filter(_ % 34 == 0).map(id => (id, id + 5000L)).toSet
    // keyframe-only join: the trimmed leader changes frame 0's content,
    // so at least one planted re-upload is invisible
    val frame0 = Multimodal.videoNearDupPairs(corpus, "media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!planted.subsetOf(frame0),
      "fixture too easy: frame-0 hashing found every trimmed re-upload")
    // temporal any-to-any join: every planted pair recovered, hamming 0
    val temporal = Multimodal.videoNearDupPairsTemporal(corpus,
        "media_id", "payload")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    planted.foreach { p =>
      assert(temporal.get(p).contains(0L), s"planted $p not at hamming 0")
    }
    // per-frame hashes genuinely differ within a clip (the scene has
    // real temporal structure, not just brightness drift)
    val hs = Seq(Tuple1(Multimodal.buildY4mScene(1L)))
      .toDF("payload")
      .select(Multimodal.videoTemporalHashes(col("payload")))
      .head().getSeq[Long](0)
    assert(hs.distinct.size > 1)
  }

  test("temporal audio near-dup catches trimmed re-uploads envelope misses") {
    val d = (0L until 200L by 17L).toSeq.toDF("doc_id")
      .withColumn("source", lit("s"))
    val base = Multimodal.synthesizeAudioTone(d, "doc_id", "source")
    val dup = Multimodal.synthesizeAudioTone(
        d.where(col("doc_id") % 34 === 0), "doc_id", "source",
        trimSamples = 4)
      .withColumn("media_id", col("media_id") + 5000L)
    val corpus = base.unionByName(dup)
    val planted = (0L until 200L by 34L).map(id => (id, id + 5000L)).toSet
    // whole-clip envelope fingerprint: the trim moves every frame
    // boundary, so at least one planted re-upload is invisible
    val whole = Multimodal.audioNearDupPairs(corpus, "media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!planted.subsetOf(whole),
      "fixture too easy: the whole-clip fingerprint found every trim")
    // strided-window any-to-any: every planted pair at hamming 0 (the
    // 4-sample trim is exactly one stride of 2-sample frames)
    val temporal = Multimodal.audioNearDupPairsTemporal(corpus,
        "media_id", "payload", frame = 2, window = 57, stride = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    planted.foreach { p =>
      assert(temporal.get(p).contains(0L), s"planted $p not at hamming 0")
    }
    // sub-fingerprints exist and differ across windows
    val fps = Seq(Tuple1(0L)).toDF("doc_id").withColumn("source", lit("s"))
    val hs = Multimodal.synthesizeAudioTone(fps, "doc_id", "source")
      .select(Multimodal.audioWindowFingerprints(col("payload"),
        frame = 2, window = 57, stride = 2))
      .head().getSeq[Long](0)
    assert(hs.size > 1)
  }

  test("banded pairs: pigeonhole recall holds at maxDist >= 4") {
    // drive the banded join through a literal hash column so distances
    // are exact by construction: pairs at Hamming 4 and 5 spread across
    // the OLD fixed 14-bit bands (one flipped bit per band) — invisible
    // to a 4-band plan, recovered by the maxDist+1-band plan
    val base = 0x00a5c3e1f2b4d6L // 56-bit
    val d4 = base ^ ((1L << 2) | (1L << 16) | (1L << 30) | (1L << 44))
    val d5 = base ^ ((1L << 3) | (1L << 17) | (1L << 31) | (1L << 45) |
      (1L << 55))
    val far = base ^ 0xffL // Hamming 8: outside every radius here
    val corpus = Seq((1L, base)).toDF("id", "dh")
    val batch = Seq((10L, d4), (11L, d5), (12L, far)).toDF("id", "dh")
    def hits(maxDist: Int): Set[(Long, Long)] =
      Multimodal.mediaNearDupAgainst(batch, "id", col("dh"), corpus,
          maxDist = maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(hits(4) == Set((10L, 4L)))
    assert(hits(5) == Set((10L, 4L), (11L, 5L)))
    // the default radius is unchanged by the generalization
    assert(hits(3).isEmpty)
    intercept[IllegalArgumentException](hits(-1))
    intercept[IllegalArgumentException](hits(56))
  }

  test("PNG pixel decode: inflate + all five un-filters, CRC gate") {
    // h = 5 + id%4 >= 5, so every image cycles through ALL filter types
    val docs = Seq((2L, "s3://a"), (7L, "s3://b")).toDF("doc_id", "source")
    val got = Multimodal.synthesizePng(docs, "doc_id", "source")
      .select(col("media_id"), Multimodal.decodePngPixels(col("payload")).as("f"))
      .select(col("media_id"), col("f.width"), col("f.height"),
        col("f.n_pixels"), col("f.sum_r"), col("f.sum_g"), col("f.sum_b"),
        col("f.max_lum"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    def ref(id: Long) = {
      val w = 9 + id % 8; val h = 5 + id % 4
      val px = for (y <- 0L until h; x <- 0L until w) yield
        ((id * 9 + x + y * 13) % 256, (id * 5 + x * 11 + y) % 256,
          (id + x * 3 + y * 7) % 256)
      (w, h, w * h, px.map(_._1).sum, px.map(_._2).sum, px.map(_._3).sum,
        px.map(p => 2126 * p._1 + 7152 * p._2 + 722 * p._3).max)
    }
    // matching the reference proves the round-trip through deflate AND
    // the Sub/Up/Average/Paeth reconstruction (the encoder applied them)
    assert(got(2L) == ref(2L) && got(7L) == ref(7L))
    // a single flipped payload byte fails the CRC gate → null
    val png = Multimodal.buildPng(2L)
    val corrupt = png.clone(); corrupt(40) = (corrupt(40) ^ 0x01).toByte
    val dec = Seq(Tuple1(png), Tuple1(corrupt)).toDF("p")
      .select(Multimodal.decodePngPixels(col("p"))).collect()
    assert(!dec(0).isNullAt(0) && dec(1).isNullAt(0))
    // foreign bytes null
    val foreign = Seq(Tuple1("not a png".getBytes("UTF-8"))).toDF("p")
    assert(foreign.select(Multimodal.decodePngPixels(col("p"))).head().isNullAt(0))
  }

  test("GIF LZW decode: dictionary round-trip, width growth, KwKwK, nulls") {
    def ref(id: Long, w: Long, h: Long) = {
      val px = for (y <- 0L until h; x <- 0L until w) yield {
        val i = (id + x * 3 + y * 7) % 256
        ((id + 7 * i) % 256, (id * 3 + 5 * i) % 256, (id * 5 + 11 * i) % 256)
      }
      (w, h, w * h, px.map(_._1).sum, px.map(_._2).sum, px.map(_._3).sum,
        px.map(p => 2126 * p._1 + 7152 * p._2 + 722 * p._3).max)
    }
    // query-sized images (9-bit codes only)
    val docs = Seq((6L, "s3://a"), (13L, "s3://b")).toDF("doc_id", "source")
    val got = Multimodal.synthesizeGifReal(docs, "doc_id", "source")
      .select(col("media_id"), Multimodal.decodeGifPixels(col("payload")).as("f"))
      .select(col("media_id"), col("f.width"), col("f.height"),
        col("f.n_pixels"), col("f.sum_r"), col("f.sum_g"), col("f.sum_b"),
        col("f.max_lum"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(got(6L) == ref(6L, 13, 6) && got(13L) == ref(13L, 10, 7))
    // a LARGE image pushes the dictionary past 511 and 1023: the
    // encoder/decoder width-growth pairing (decoder one entry early) and
    // the KwKwK special case both get exercised for real
    val big = Seq(Tuple1(Multimodal.buildGif(5L, 64, 48))).toDF("p")
      .select(Multimodal.decodeGifPixels(col("p")).as("f"))
      .select(col("f.n_pixels"), col("f.sum_r"), col("f.max_lum")).head()
    val bigRef = ref(5L, 64, 48)
    assert(big.getLong(0) == 64L * 48 && big.getLong(1) == bigRef._4 &&
      big.getLong(2) == bigRef._7)
    // the old text-body GIF (no real LZW stream) and foreign bytes → null
    val fake = Multimodal.synthesizeGifBmp(
      Seq((2L, "text body", "s")).toDF("doc_id", "text", "source"),
      "doc_id", "text", "source") // id 2 -> GIF branch, opaque body
    assert(fake.select(Multimodal.decodeGifPixels(col("payload")))
      .head().isNullAt(0))
    val foreign = Seq(Tuple1("GIF8 but not really".getBytes("UTF-8"))).toDF("p")
    assert(foreign.select(Multimodal.decodeGifPixels(col("p"))).head().isNullAt(0))
  }

  test("WAV chunk walk: extra chunks, odd-size padding, corrupt sizes") {
    def le2(v: Int) = Array(v & 0xff, (v >> 8) & 0xff)
    def le4(v: Int) = Array(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff)
    def chunk(tag: String, data: Array[Int]) =
      tag.getBytes("US-ASCII").map(_.toInt) ++ le4(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0) else Array.empty[Int])
    val fmt = chunk("fmt ", le2(1) ++ le2(2) ++ le4(22050) ++
      le4(22050 * 4) ++ le2(4) ++ le2(16))
    // a LIST chunk with an ODD size before fmt — the walk must pad to
    // even — then fmt, then data
    val wav = ("RIFF".getBytes("US-ASCII").map(_.toInt) ++ le4(0) ++
      "WAVE".getBytes("US-ASCII").map(_.toInt) ++
      chunk("LIST", Array(1, 2, 3)) ++ fmt ++
      chunk("data", Array.fill(10)(7))).map(_.toByte)
    val truncated = wav.take(20)
    val corrupt = ("RIFF".getBytes("US-ASCII").map(_.toInt) ++ le4(0) ++
      "WAVE".getBytes("US-ASCII").map(_.toInt) ++
      "data".getBytes("US-ASCII").map(_.toInt) ++
      Array(0xff, 0xff, 0xff, 0x7f)).map(_.toByte) // size word beyond payload
    val df = Seq((1L, wav), (2L, truncated), (3L, corrupt),
      (4L, "plainly not audio".getBytes("UTF-8"))).toDF("id", "payload")
    val got = df.select(col("id"),
        Multimodal.decodeAudioHeader(col("payload")).as("d"))
      .select(col("id"), col("d.format"), col("d.sample_rate"),
        col("d.channels"), col("d.n_frames"))
      .collect().sortBy(_.getLong(0))
    assert(got(0).getString(1) == "wav" && got(0).getInt(2) == 22050 &&
      got(0).getInt(3) == 2 && got(0).getLong(4) == 2L) // 10 bytes / align 4
    assert(got(1).isNullAt(1), "truncated header must decode to null")
    assert(got(2).isNullAt(1), "corrupt size word must decode to null")
    assert(got(3).isNullAt(1), "foreign bytes must decode to null")
  }

  test("synthesizeVideo payloads round-trip through the MP4 box walk") {
    val docs = Seq(
      (0L, "one track 600", "s3://a"),    // id%3=0, id%2=0 → 1 track
      (1L, "two tracks 1000!", "s3://b"), // id%3=1, id%2=1 → 2 tracks
      (5L, "two tracks 90k", "s3://c")    // id%3=2, id%2=1 → 2 tracks
    ).toDF("doc_id", "text", "source")
    val out = Multimodal.synthesizeVideo(docs, "doc_id", "text", "source")
      .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
        Multimodal.decodeVideoHeader(col("payload")).as("d"))
      .select(col("media_id"), col("n_bytes"), col("d.format"), col("d.brand"),
        col("d.timescale"), col("d.duration"), col("d.n_tracks"),
        col("d.data_bytes"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getInt(6), r.getLong(7)))
      .sortBy(_._1).toSeq
    // n_bytes = 16 (ftyp) + 8+108+tracks·100 (moov) + 8+text (mdat)
    assert(out == Seq(
      (0L, 16L + 216 + 8 + 13, "mp4", "isom", 600L, 13L * 40, 1, 13L),
      (1L, 16L + 316 + 8 + 16, "mp4", "isom", 1000L, 16L * 40, 2, 16L),
      (5L, 16L + 316 + 8 + 14, "mp4", "isom", 90000L, 14L * 40, 2, 14L)))
  }

  test("MP4 box walk: unknown boxes skipped, escaping sizes null") {
    def be4(v: Int) = Array((v >> 24) & 0xff, (v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff)
    def box(tag: String, body: Array[Int]): Array[Int] =
      be4(8 + body.length) ++ tag.getBytes("US-ASCII").map(_.toInt) ++ body
    val mvhd = box("mvhd", be4(0) ++ be4(0) ++ be4(0) ++ be4(1000) ++ be4(777) ++
      Array.fill(80)(0))
    // a free box at top level and INSIDE moov must both be skipped
    val good = (box("ftyp", "isom".getBytes("US-ASCII").map(_.toInt) ++ be4(0)) ++
      box("free", Array(9, 9, 9)) ++
      box("moov", box("free", Array(1)) ++ mvhd ++
        box("trak", Array.fill(12)(0)) ++ box("trak", Array.fill(4)(0))) ++
      box("mdat", Array.fill(25)(6))).map(_.toByte)
    // a child whose size escapes moov
    val escaping = (box("ftyp", "isom".getBytes("US-ASCII").map(_.toInt) ++ be4(0)) ++
      box("moov", be4(4096) ++ "mvhd".getBytes("US-ASCII").map(_.toInt))).map(_.toByte)
    val df = Seq((1L, good), (2L, escaping),
      (3L, "not an mp4 container".getBytes("UTF-8"))).toDF("id", "payload")
    val got = df.select(col("id"),
        Multimodal.decodeVideoHeader(col("payload")).as("d"))
      .select(col("id"), col("d.format"), col("d.timescale"), col("d.duration"),
        col("d.n_tracks"), col("d.data_bytes"))
      .collect().sortBy(_.getLong(0))
    assert(got(0).getString(1) == "mp4" && got(0).getLong(2) == 1000L &&
      got(0).getLong(3) == 777L && got(0).getInt(4) == 2 &&
      got(0).getLong(5) == 25L)
    assert(got(1).isNullAt(1), "escaping child size must decode to null")
    assert(got(2).isNullAt(1), "foreign bytes must decode to null")
  }

  test("Y4M raw video decode: plane sums, motion, truncated tail drops") {
    def ref(id: Long) = {
      val w = 8 + 2 * (id % 5); val h = 6 + 2 * (id % 3); val nf = 3 + id % 4
      val ys = for (t <- 0L until nf; y <- 0L until h; x <- 0L until w)
        yield (id + 3 * x + 7 * y + 11 * t) % 256
      val us = for (t <- 0L until nf; y <- 0L until h / 2; x <- 0L until w / 2)
        yield (3 * id + 5 * x + y + 13 * t) % 256
      val vs = for (t <- 0L until nf; y <- 0L until h / 2; x <- 0L until w / 2)
        yield (5 * id + x + 11 * y + 7 * t) % 256
      val motion = (for (t <- 1L until nf; y <- 0L until h; x <- 0L until w)
        yield math.abs((id + 3 * x + 7 * y + 11 * t) % 256 -
          (id + 3 * x + 7 * y + 11 * (t - 1)) % 256)).sum
      (w, h, nf, ys.sum, us.sum, vs.sum, ys.max, motion)
    }
    val docs = Seq((4L, "s3://a"), (9L, "s3://b")).toDF("doc_id", "source")
    val got = Multimodal.synthesizeY4m(docs, "doc_id", "source")
      .select(col("media_id"), Multimodal.decodeY4m(col("payload")).as("f"))
      .select(col("media_id"), col("f.width"), col("f.height"),
        col("f.n_frames"), col("f.sum_y"), col("f.sum_u"), col("f.sum_v"),
        col("f.max_y"), col("f.motion"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    assert(got(4L) == ref(4L) && got(9L) == ref(9L))
    // drift of +11/frame means real motion is planted
    assert(got(4L)._8 > 0)
    // a truncated tail frame drops; the complete prefix still decodes
    val full = Multimodal.buildY4m(4L)
    val cut = full.take(full.length - 7)
    val dec = Seq(Tuple1(cut)).toDF("p")
      .select(Multimodal.decodeY4m(col("p")).as("f"))
      .select(col("f.n_frames")).head()
    assert(dec.getLong(0) == ref(4L)._3 - 1)
    // foreign bytes null
    val foreign = Seq(Tuple1("YUV4MPEG2 but junk".getBytes("UTF-8"))).toDF("p")
    assert(foreign.select(Multimodal.decodeY4m(col("p"))).head().isNullAt(0))
  }

  test("property: pixel/sample decoders never throw on mutated bytes") {
    // the FULL decoders (inflate, LZW, un-filter, PCM walk) face the
    // same corpus-of-garbage contract as the header walks: decode or
    // null, never throw — a crawl pipeline meets every corruption
    val docs = Seq((0L, "s"), (7L, "s")).toDF("doc_id", "source")
    val seeds =
      Multimodal.synthesizePng(docs, "doc_id", "source")
        .select("payload").collect().map(_.getAs[Array[Byte]](0)) ++
      Seq(Multimodal.buildGif(3L), Multimodal.buildGif(9L, 40, 30)) ++
      Multimodal.synthesizeBitmap(docs, "doc_id", "source")
        .select("payload").collect().map(_.getAs[Array[Byte]](0)) ++
      Multimodal.synthesizeAudioTone(docs, "doc_id", "source")
        .select("payload").collect().map(_.getAs[Array[Byte]](0))
    val rnd = new scala.util.Random(7)
    val variants = (0 until 400).map { i =>
      val base = seeds(rnd.nextInt(seeds.length))
      val b = rnd.nextInt(3) match {
        case 0 =>
          val c = base.clone()
          (0 until 1 + rnd.nextInt(8)).foreach { _ =>
            c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte }
          c
        case 1 => base.take(rnd.nextInt(base.length + 1))
        case 2 => Array.fill(rnd.nextInt(80))(rnd.nextInt(256).toByte)
      }
      (i.toLong, b)
    }
    // collect() forces every decode; any throw fails the test
    val n = variants.toDF("id", "payload").select(col("id"),
        Multimodal.decodePngPixels(col("payload")).as("png"),
        Multimodal.decodeGifPixels(col("payload")).as("gif"),
        Multimodal.decodeImagePixels(col("payload")).as("bmp"),
        Multimodal.decodeAudioPcm(col("payload")).as("pcm"))
      .collect().length
    assert(n == 400)
  }

  test("property: header decoders never throw on mutated or random bytes") {
    val docs = Seq((0L, "png seed payload", "s"), (1L, "jpeg seed", "s"))
      .toDF("doc_id", "text", "source")
    val imgSeeds = Multimodal.synthesizeImages(docs, "doc_id", "text", "source")
      .select("payload").collect().map(_.getAs[Array[Byte]](0))
    val wavSeed = Multimodal.synthesizeAudio(docs, "doc_id", "text", "source")
      .select("payload").collect().map(_.getAs[Array[Byte]](0))
    val mp4Seed = Multimodal.synthesizeVideo(docs, "doc_id", "text", "source")
      .select("payload").collect().map(_.getAs[Array[Byte]](0))
    val gifBmpSeeds = Multimodal.synthesizeGifBmp(docs, "doc_id", "text", "source")
      .select("payload").collect().map(_.getAs[Array[Byte]](0))
    val seeds = imgSeeds ++ wavSeed ++ mp4Seed ++ gifBmpSeeds
    val rnd = new scala.util.Random(42)
    val variants = (0 until 300).map { i =>
      val base = seeds(rnd.nextInt(seeds.length))
      val b = rnd.nextInt(3) match {
        case 0 => // flip 1-8 bytes anywhere (headers included)
          val c = base.clone()
          (0 until 1 + rnd.nextInt(8)).foreach { _ =>
            c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
          }
          c
        case 1 => base.take(rnd.nextInt(base.length + 1)) // truncate
        case 2 => Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
      }
      (i.toLong, b)
    }
    val got = variants.toDF("id", "payload")
      .select(col("id"),
        Multimodal.decodeHeader(col("payload")).as("img"),
        Multimodal.decodeAudioHeader(col("payload")).as("aud"),
        Multimodal.decodeVideoHeader(col("payload")).as("vid"))
      .collect() // the property: evaluation completes, no exception escapes
    got.foreach { r =>
      if (!r.isNullAt(1)) {
        val img = r.getStruct(1)
        assert(Set("png", "jpeg", "gif", "bmp")(img.getString(0)))
        assert(img.getInt(3) >= 0 && img.getInt(3) <= 255) // channels byte
        assert(img.getInt(2) >= 0, "height must not go negative") // abs'd BMP
      }
      if (!r.isNullAt(2)) {
        val aud = r.getStruct(2)
        assert(aud.getString(0) == "wav")
        assert(aud.getLong(4) >= 0, "frame count must not go negative")
      }
      if (!r.isNullAt(3)) {
        val vid = r.getStruct(3)
        assert(vid.getString(0) == "mp4")
        assert(vid.getInt(4) >= 0, "track count must not go negative")
      }
    }
  }
}
