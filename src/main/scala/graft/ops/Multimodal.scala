package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Persisted

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `BINARY` columns beside typed metadata; decode / feature-extract /
  * frame-sample are per-partition batch transforms.
  *
  * The header decode is REAL: [[synthesizeImages]] builds payloads with
  * actual PNG/JPEG container headers (published formats) and
  * [[decodeHeader]] parses them back with a codegen'd native expression
  * ([[graft.functions.MediaHeaderExpr]]) — no codec library needed for
  * dimensions/channels. Only PIXEL decode (inflate/DCT) and the feature
  * model remain out of sandbox scope: `featureStub` stands in for an
  * embedding model, and a real codec slots into [[decodeBatched]]'s
  * per-partition init without changing any plumbing.
  *
  * Scale design (100 TB of media): payloads stay in their scan partition
  * end-to-end (no shuffle introduced by decode); metadata-only queries
  * never touch the binary column thanks to Parquet column pruning.
  */
object Multimodal {

  /** Canonical media-table schema. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("source", StringType, nullable = true),
      StructField("mime", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = false))), nullable = false)))

  /** Wrap any table with a synthetic binary payload column (UTF-8 bytes of
    * a text column here; real pipelines read raw files / blob columns). */
  def synthesize(df: DataFrame, idCol: String, textCol: String, kind: String,
                 sourceCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        col(sourceCol).as("source"),
        lit("application/octet-stream").as("mime"),
        length(encode(col(textCol), "UTF-8")).cast("long").as("n_bytes")).as("meta"))

  private def be4(c: Column): Column = unhex(lpad(hex(c.cast("long")), 8, "0"))
  private def be2(c: Column): Column = unhex(lpad(hex(c.cast("long")), 4, "0"))
  private def be1(c: Column): Column = unhex(lpad(hex(c.cast("long")), 2, "0"))

  /** Media table whose payloads carry REAL container headers: each doc
    * becomes a PNG (even ids) or JPEG (odd ids) whose header bytes are
    * built to the published format — PNG signature + IHDR with big-endian
    * dimensions and a color type, or JPEG SOI + APP0/JFIF + SOF0 frame
    * header — followed by the document text as the (opaque) body.
    * Dimensions/channels are deterministic functions of the id so an
    * external oracle can recompute what a correct decode must return:
    * `width = id % 1024 + 32`, `height = (id div 7) % 1024 + 32`,
    * `channels = 1 when id % 3 = 0 else 3`. All column expressions —
    * construction is codegen'd and partition-local. */
  def synthesizeImages(df: DataFrame, idCol: String, textCol: String,
                       sourceCol: String): DataFrame = {
    val id = col(idCol).cast("long")
    val width = pmod(id, lit(1024L)) + 32L
    val height = pmod(expr(s"$idCol div 7"), lit(1024L)) + 32L
    val channels = when(pmod(id, lit(3L)) === 0, 1L).otherwise(3L)
    val body = encode(col(textCol), "UTF-8")
    // PNG: 8-byte signature; IHDR chunk = len(13) "IHDR" width height
    // bit-depth(8) color-type compression(0) filter(0) interlace(0) crc
    val pngColorType = when(channels === 1, 0L).otherwise(2L)
    val png = concat(
      lit(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)),
      be4(lit(13L)), lit("IHDR".getBytes("US-ASCII")),
      be4(width), be4(height),
      lit(Array[Byte](8)), be1(pngColorType),
      lit(Array[Byte](0, 0, 0)), be4(lit(0L)), // crc not validated by header readers
      body)
    // JPEG: SOI; APP0/JFIF (16-byte segment); SOF0 frame header with
    // len = 8 + 3·ncomp, precision 8, height, width, then per-component
    // (id, sampling, quant-table) triples
    val sof0len = lit(8L) + channels * 3L
    val compSpecs = // 3 components' specs; truncated to 3·ncomp bytes
      lit(Array(0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
        .map(_.toByte)).substr(lit(1), (channels * 3L).cast("int"))
    val jpeg = concat(
      lit(Array(0xff, 0xd8).map(_.toByte)), // SOI
      lit(Array(0xff, 0xe0, 0x00, 0x10).map(_.toByte)), // APP0, len 16
      lit("JFIF".getBytes("US-ASCII")),
      lit(Array(0x00, 0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00)
        .map(_.toByte)), // version 1.1, no density/thumbnail
      lit(Array(0xff, 0xc0).map(_.toByte)), be2(sof0len), // SOF0
      lit(Array[Byte](8)), be2(height), be2(width),
      be1(channels), compSpecs,
      body)
    val payload = when(pmod(id, lit(2L)) === 0, png).otherwise(jpeg)
    val mime = when(pmod(id, lit(2L)) === 0, "image/png").otherwise("image/jpeg")
    df.select(
      id.as("media_id"),
      lit("image").as("kind"),
      payload.as("payload"),
      struct(
        col(sourceCol).as("source"),
        mime.as("mime"),
        length(payload).cast("long").as("n_bytes")).as("meta"))
  }

  /** REAL header decode (replaces the round-1..8 stub): parse the PNG /
    * JPEG / GIF / BMP container header from the payload bytes — a
    * codegen'd native expression, partition-local, null for
    * unrecognized bytes. */
  def decodeHeader(payload: Column): Column =
    graft.functions.MediaHeaderExpr.media_header(payload)

  /** Media table carrying REAL GIF (even ids) / BMP (odd ids)
    * containers — the legacy-format counterpart of [[synthesizeImages]],
    * same deterministic dimension/channel functions of the id so the
    * oracle recomputes what a correct decode must return. GIF: 6-byte
    * signature + little-endian logical screen descriptor + body +
    * trailer (header overhead 14 with the trailer). BMP: "BM" file
    * header + BITMAPINFOHEADER with signed little-endian dimensions
    * and bits-per-pixel (8 or 24), 54 header bytes. */
  def synthesizeGifBmp(df: DataFrame, idCol: String, textCol: String,
                       sourceCol: String): DataFrame = {
    val id = col(idCol).cast("long")
    val width = pmod(id, lit(1024L)) + 32L
    val height = pmod(expr(s"$idCol div 7"), lit(1024L)) + 32L
    val channels = when(pmod(id, lit(3L)) === 0, 1L).otherwise(3L)
    val body = encode(col(textCol), "UTF-8")
    val gif = concat(
      lit("GIF89a".getBytes("US-ASCII")),
      le2l(width), le2l(height),
      lit(Array[Byte](0, 0, 0)), // packed (no GCT), background, aspect
      body,
      lit(Array(0x3b).map(_.toByte))) // trailer
    val bpp = when(channels === 1, 8L).otherwise(24L)
    val bmp = concat(
      lit("BM".getBytes("US-ASCII")),
      le4l(length(body) + 54L), le4l(lit(0L)), le4l(lit(54L)), // file header
      le4l(lit(40L)), le4l(width), le4l(height), // BITMAPINFOHEADER
      le2l(lit(1L)), le2l(bpp),
      lit(Array.fill[Byte](24)(0)), // compression/size/ppm/palette fields
      body)
    val payload = when(pmod(id, lit(2L)) === 0, gif).otherwise(bmp)
    val mime = when(pmod(id, lit(2L)) === 0, "image/gif").otherwise("image/bmp")
    df.select(
      id.as("media_id"),
      lit("image").as("kind"),
      payload.as("payload"),
      struct(
        col(sourceCol).as("source"),
        mime.as("mime"),
        length(payload).cast("long").as("n_bytes")).as("meta"))
  }

  private def byteAt(c: Column, k: Int): Column =
    be1(pmod(shiftright(c.cast("long"), 8 * k), lit(256L)))
  private def le2l(c: Column): Column = concat(byteAt(c, 0), byteAt(c, 1))
  private def le4l(c: Column): Column =
    concat(byteAt(c, 0), byteAt(c, 1), byteAt(c, 2), byteAt(c, 3))

  /** Media table whose payloads carry REAL WAV (RIFF) containers — the
    * audio counterpart of [[synthesizeImages]]: a canonical 44-byte
    * PCM header (RIFF/WAVE form, `fmt ` chunk with little-endian rate /
    * channels / block align / bits, `data` chunk) followed by the
    * document text as the (opaque) sample body. Rate and channel count
    * are deterministic functions of the id so an external oracle can
    * recompute what a correct decode must return:
    * `sample_rate ∈ {8000,16000,22050,44100,48000} by id % 5`,
    * `channels = 1 + id % 2`, 16-bit PCM,
    * `n_frames = data_bytes / (2 · channels)`. All column
    * expressions — construction is codegen'd and partition-local. */
  def synthesizeAudio(df: DataFrame, idCol: String, textCol: String,
                      sourceCol: String): DataFrame = {
    val id = col(idCol).cast("long")
    val rateSel = pmod(id, lit(5L))
    val sampleRate = when(rateSel === 0, 8000L).when(rateSel === 1, 16000L)
      .when(rateSel === 2, 22050L).when(rateSel === 3, 44100L)
      .otherwise(48000L)
    val channels = lit(1L) + pmod(id, lit(2L))
    val blockAlign = channels * 2L // 16-bit PCM
    val body = encode(col(textCol), "UTF-8")
    val dataSize = length(body).cast("long")
    val wav = concat(
      lit("RIFF".getBytes("US-ASCII")), le4l(dataSize + 36L),
      lit("WAVE".getBytes("US-ASCII")),
      lit("fmt ".getBytes("US-ASCII")), le4l(lit(16L)),
      le2l(lit(1L)), le2l(channels), le4l(sampleRate),
      le4l(sampleRate * blockAlign), le2l(blockAlign), le2l(lit(16L)),
      lit("data".getBytes("US-ASCII")), le4l(dataSize),
      body)
    df.select(
      id.as("media_id"),
      lit("audio").as("kind"),
      wav.as("payload"),
      struct(
        col(sourceCol).as("source"),
        lit("audio/wav").as("mime"),
        length(wav).cast("long").as("n_bytes")).as("meta"))
  }

  /** REAL WAV header decode — the audio counterpart of [[decodeHeader]]:
    * codegen'd RIFF chunk walk, null for non-WAV bytes. */
  def decodeAudioHeader(payload: Column): Column =
    graft.functions.AudioHeaderExpr.audio_header(payload)

  /** Media table whose payloads carry WAV containers with a REAL PCM
    * waveform (not opaque text bytes): mono 16-bit, `128 + id % 64`
    * samples with byte `j` of the data chunk = `(id·7 + j·37) mod 256` —
    * a deterministic sawtooth-ish signal whose sign flips exercise every
    * feature [[decodeAudioPcm]] extracts, and whose closed form lets an
    * external oracle recompute the decoded samples exactly without
    * parsing bytes. Construction is synth-side HOF over ≤ 384-byte
    * arrays (fixture cost, not a hot path). */
  def synthesizeAudioTone(df: DataFrame, idCol: String,
                          sourceCol: String,
                          trimSamples: Int = 0): DataFrame = {
    val id = col(idCol).cast("long")
    val rateSel = pmod(id, lit(5L))
    val sampleRate = when(rateSel === 0, 8000L).when(rateSel === 1, 16000L)
      .when(rateSel === 2, 22050L).when(rateSel === 3, 44100L)
      .otherwise(48000L)
    // `trimSamples` drops that many LEADER samples (the re-upload-with-
    // silence-cut case): byte j of the trimmed body is byte j + 2·trim
    // of the original waveform
    val nSamples = lit(128L) + pmod(id, lit(64L)) - trimSamples.toLong
    val body = unhex(concat_ws("",
      transform(sequence(lit(0L), nSamples * 2L - 1L),
        j => lpad(hex(pmod(id * 7L + (j + 2L * trimSamples) * 37L,
          lit(256L))), 2, "0"))))
    val dataSize = nSamples * 2L
    val wav = concat(
      lit("RIFF".getBytes("US-ASCII")), le4l(dataSize + 36L),
      lit("WAVE".getBytes("US-ASCII")),
      lit("fmt ".getBytes("US-ASCII")), le4l(lit(16L)),
      le2l(lit(1L)), le2l(lit(1L)), le4l(sampleRate),
      le4l(sampleRate * 2L), le2l(lit(2L)), le2l(lit(16L)),
      lit("data".getBytes("US-ASCII")), le4l(dataSize),
      body)
    df.select(id.as("media_id"), lit("audio").as("kind"), wav.as("payload"),
      struct(col(sourceCol).as("source"), lit("audio/wav").as("mime"),
        length(wav).cast("long").as("n_bytes")).as("meta"))
  }

  /** REAL 16-bit PCM sample decode + one-pass features (count, peak,
    * zero crossings, exact integer energy) — the audio modality's decode
    * slot FILLED (PCM needs no codec library), null for non-WAV or
    * non-16-bit payloads. */
  def decodeAudioPcm(payload: Column): Column =
    graft.functions.AudioPcmStatsExpr.audio_pcm_stats(payload)

  /** Media table whose payloads carry BMP containers with a REAL 24bpp
    * pixel ARRAY (rows bottom-up, 4-byte stride padding — the published
    * layout), pixel (x, y) channels closed-form in (id, x, y):
    * `B = (id + 3x + 7y) mod 256, G = (5id + 11x + y) mod 256,
    * R = (9id + x + 13y) mod 256`, dims `w = 8 + id mod 9,
    * h = 4 + id mod 5` — so an external oracle recomputes the decoded
    * features from the formula without parsing bytes. Synth-side HOF
    * over ≤ ~400-byte images (fixture cost, not a hot path). */
  def synthesizeBitmap(df: DataFrame, idCol: String,
                       sourceCol: String): DataFrame = {
    val id = col(idCol).cast("long")
    val w = pmod(id, lit(9L)) + 8L
    val h = pmod(id, lit(5L)) + 4L
    val stride = ((w * 3L + 3L) / lit(4L)).cast("long") * 4L
    val padHex = repeat(lit("00"), (stride - w * 3L).cast("int"))
    def hx(c: Column): Column = lpad(hex(pmod(c, lit(256L))), 2, "0")
    // bottom-up: file row r is image row y = h-1-r
    val rowsHex = transform(sequence(lit(0L), h - 1L), r => {
      val y = h - 1L - r
      concat(concat_ws("", transform(sequence(lit(0L), w - 1L), x =>
        concat(hx(id + x * 3L + y * 7L),        // B
          hx(id * 5L + x * 11L + y),            // G
          hx(id * 9L + x + y * 13L)))), padHex) // R
    })
    val body = unhex(concat_ws("", rowsHex))
    val bmp = concat(
      lit("BM".getBytes("US-ASCII")),
      le4l(stride * h + 54L), le4l(lit(0L)), le4l(lit(54L)),
      le4l(lit(40L)), le4l(w), le4l(h),
      le2l(lit(1L)), le2l(lit(24L)),
      lit(Array.fill[Byte](24)(0)),
      body)
    df.select(id.as("media_id"), lit("image").as("kind"), bmp.as("payload"),
      struct(col(sourceCol).as("source"), lit("image/bmp").as("mime"),
        length(bmp).cast("long").as("n_bytes")).as("meta"))
  }

  /** REAL 24bpp BMP pixel decode + one-pass order-free features (count,
    * exact per-channel sums, max BT.709 luminance ×10000) — the image
    * modality's decode slot filled for the uncompressed format; null for
    * non-BMP/non-24bpp/compressed payloads. */
  def decodeImagePixels(payload: Column): Column =
    graft.functions.ImagePixelStatsExpr.image_pixel_stats(payload)

  /** Perceptual 56-bit difference hash over a real BMP pixel decode —
    * the image modality's near-dup key (see
    * [[graft.functions.ImageDHashExpr]] for the grid/bit contract).
    * Null for payloads the decoder rejects. */
  def imageDHash(payload: Column): Column =
    graft.functions.ImageDHashExpr.image_dhash(payload)

  /** Image near-dup pairs — text simhash's banded-Hamming shape applied
    * to [[imageDHash]]: one codegen'd decode+hash pass per image, the
    * band self-pairs over DISTINCT hash values (4 bands × 14 bits; by
    * pigeonhole any pair within `maxDist` ≤ 3 shares a band), bit_count
    * filter BEFORE the distinct shuffle, then value pairs expand to
    * image id pairs. Sub-quadratic at any corpus size for the same
    * reason the text path is: candidates are per-band-key groups, never
    * all-pairs. Output: (id1, id2, hamming), id1 < id2, each pair once. */
  def imageNearDupPairs(media: DataFrame, idCol: String, payloadCol: String,
                        maxDist: Int = 3): DataFrame =
    bandedHammingPairs(media, idCol, imageDHash(col(payloadCol)), maxDist)

  /** Audio near-dup pairs over the 56-bit PCM energy-envelope
    * fingerprint ([[graft.functions.AudioFingerprintExpr]]) — same
    * banded shape and guarantees as [[imageNearDupPairs]]. */
  def audioNearDupPairs(media: DataFrame, idCol: String, payloadCol: String,
                        maxDist: Int = 3): DataFrame =
    bandedHammingPairs(media, idCol, audioFingerprint(col(payloadCol)), maxDist)

  /** Video near-dup pairs over the 56-bit Y4M keyframe luma hash
    * ([[graft.functions.VideoDHashExpr]]) — same banded shape and
    * guarantees as [[imageNearDupPairs]]. */
  def videoNearDupPairs(media: DataFrame, idCol: String, payloadCol: String,
                        maxDist: Int = 3): DataFrame =
    bandedHammingPairs(media, idCol, videoDHash(col(payloadCol)), maxDist)

  /** Up to `k` per-frame 56-bit luma hashes at evenly spaced frame
    * indices ([[graft.functions.VideoFrameHashesExpr]]) — the temporal
    * near-dup key a trimmed/offset re-upload cannot dodge the way it
    * dodges the frame-0-only [[videoDHash]]. */
  def videoTemporalHashes(payload: Column, k: Int = 4): Column =
    graft.functions.VideoFrameHashesExpr.video_frame_hashes(payload, k)

  /** TEMPORAL video near-dup pairs: the banded Hamming join over every
    * sampled frame hash of every clip, matched ANY-to-ANY, collapsed
    * to the MINIMUM pairwise distance per clip pair. A re-encode whose
    * leader is trimmed or replaced shares the content of some later
    * sampled frame, so it still lands in a common band — the case the
    * keyframe-only join provably misses. Scale shape is unchanged:
    * candidates stay per-(band, band_key) groups, k·k ≤ 16 candidate
    * rows per genuinely-close clip pair, and only 8-byte hashes cross
    * the exchange. Output: (id1, id2, hamming = min), id1 < id2. */
  def videoNearDupPairsTemporal(media: DataFrame, idCol: String,
                                payloadCol: String, k: Int = 4,
                                maxDist: Int = 3): DataFrame =
    temporalHashPairs(media, idCol,
      videoTemporalHashes(col(payloadCol), k), maxDist)

  /** Strided fixed-frame audio sub-fingerprints
    * ([[graft.functions.AudioWindowFingerprintsExpr]]) — the
    * trim-tolerant near-dup key [[audioFingerprint]] (whole-clip
    * framing) cannot be. */
  def audioWindowFingerprints(payload: Column, frame: Int = 1024,
                              window: Int = 57, stride: Int = 28): Column =
    graft.functions.AudioWindowFingerprintsExpr
      .audio_window_fingerprints(payload, frame, window, stride)

  /** TEMPORAL audio near-dup pairs: the video path's any-to-any
    * banded join over strided sub-fingerprints — a clip re-uploaded
    * with its leading silence cut at `stride·frame`-sample granularity
    * shares whole windows with its original and lands at hamming 0;
    * the whole-clip envelope fingerprint provably misses it (its 57
    * frame boundaries all move). Same scale shape: only 8-byte hashes
    * cross the exchange, candidates per (band, band_key). */
  def audioNearDupPairsTemporal(media: DataFrame, idCol: String,
                                payloadCol: String, frame: Int = 1024,
                                window: Int = 57, stride: Int = 28,
                                maxDist: Int = 3): DataFrame =
    temporalHashPairs(media, idCol,
      audioWindowFingerprints(col(payloadCol), frame, window, stride),
      maxDist)

  /** Persistable TEMPORAL sub-fingerprint index: one (id, hash) row
    * per distinct sampled sub-hash of each clip — the array analog of
    * [[mediaHashIndex]]. At 100 TB this is the parquet artifact an
    * incremental ingest refreshes; only NEW batches decode. */
  def temporalHashIndex(media: DataFrame, idCol: String,
                        hashes: Column): DataFrame =
    media.select(col(idCol).as("id"), explode_outer(hashes).as("dh"))
      .where(col("dh").isNotNull)
      .distinct()

  /** Append one ingest batch's [[temporalHashIndex]] rows to a
    * persistent `batch=<id>`-partitioned store — the incremental
    * artifact [[temporalNearDupAgainst]] matches new uploads against.
    * Overwrite-per-batch-dir makes a replayed batch idempotent, and
    * the store follows the shared monoid protocol
    * ([[graft.streaming.StreamIngest.livePartials]]): DISTINCT is an
    * idempotent fold, so [[compactTemporalIndex]] can bound a year of
    * daily batches to a handful of files without changing the view. */
  def temporalIndexAppend(index: DataFrame, indexPath: String,
                          batchId: Long): Unit = {
    require(batchId >= 0, "batch ids are non-negative (-1 is the fold)")
    index.select(col("id"), col("dh"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$indexPath/batch=$batchId")
    index.sparkSession.catalog.refreshByPath(indexPath)
  }

  /** The queryable corpus index over a [[temporalIndexAppend]] store:
    * live partials (the `batch=-1` fold plus batches newer than the
    * compaction marker) distinct'd back to (id, dh). Feed this as
    * `corpusIndex` to [[temporalNearDupAgainst]]. */
  def temporalIndexView(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String): DataFrame =
    graft.streaming.StreamIngest.livePartials(spark, indexPath)
      .select(col("id"), col("dh")).distinct()

  /** Fold a [[temporalIndexAppend]] store's accumulated batch dirs
    * into `batch=-1` (distinct is the store's monoid merge), record
    * the compaction marker, swap atomically — file count stays
    * bounded and a batch replayed after folding is ignored rather
    * than re-counted. */
  def compactTemporalIndex(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, targetFiles: Int = 8): Unit =
    graft.streaming.StreamIngest.compactMonoidStore(
      spark, indexPath, targetFiles)(_.distinct())

  /** Cross-corpus TEMPORAL near-dup — [[mediaNearDupAgainst]]'s shape
    * for sub-fingerprint ARRAYS: which clips of a NEW batch are within
    * `maxDist` of an EXISTING corpus's [[temporalHashIndex]], matched
    * any-sampled-window-to-any. Only the new batch decodes; the
    * trimmed-re-upload case that dodges whole-clip hashes is caught
    * incrementally, at ingest time. Output:
    * (new_id, corpus_id, hamming = min). */
  def temporalNearDupAgainst(newIndex: DataFrame, corpusIndex: DataFrame,
                             maxDist: Int = 3): DataFrame =
    hammingAgainst(newIndex, corpusIndex, maxDist)
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(min(col("hamming")).as("hamming"))

  /** Shared any-to-any temporal matcher: explode a per-clip hash
    * ARRAY, banded Hamming self-pairs, min pairwise distance per pair.
    * `explode_outer` BEFORE filtering — a plain explode would let the
    * optimizer infer `size(hashes) > 0` and push it below the
    * projection, re-evaluating the whole-payload hash walk 3× per row
    * (plan-audited); the outer form keeps exactly one evaluation and
    * the null rows drop right after. (id, dh) structs order id-first,
    * so id1 < id2 drops a clip's pairs with itself. */
  private def temporalHashPairs(media: DataFrame, idCol: String,
                                hashes: Column, maxDist: Int): DataFrame = {
    val vh = Persisted(
      media.select(col(idCol).as("id"), explode_outer(hashes).as("dh"))
        .where(col("dh").isNotNull)
        .distinct()) // a clip's repeated sub-hashes collapse up front
    Banded.selfPairs(Banded.buckets(vh, array(bandCols(col("dh"), maxDist): _*),
        struct(col("id"), col("dh")).as("id")))
      .where(col("id1.id") < col("id2.id"))
      .select(col("id1.id").as("id1"), col("id2.id").as("id2"),
        bit_count(col("id1.dh").bitwiseXOR(col("id2.dh"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= maxDist)
      .groupBy(col("id1"), col("id2"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** One Y4M clip with real TEMPORAL structure: the luma plane's
    * horizontal gradient changes per frame
    * (`Y = (3·id + (5 + 7·((id+t) mod 4))·x + 11·y) mod 256`, chroma
    * constant), so per-frame dHashes genuinely differ — unlike
    * [[buildY4m]]'s uniform per-frame drift, which dHash (correctly)
    * ignores. `trim` drops that many leader frames, the planted
    * re-upload case. Frames: `4 + id mod 4`, dims like [[buildY4m]]. */
  def buildY4mScene(id: Long, trim: Int = 0): Array[Byte] = {
    val w = (8 + 2 * (id % 5)).toInt
    val h = (6 + 2 * (id % 3)).toInt
    val frames = (4 + id % 4).toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n"
      .getBytes("US-ASCII"))
    for (t <- trim until frames) {
      out.write("FRAME\n".getBytes("US-ASCII"))
      val a = 5 + 7 * ((id + t) % 4)
      for (y <- 0 until h; x <- 0 until w)
        out.write(((id * 3 + a * x + 11 * y) % 256).toInt)
      for (_ <- 0 until 2 * (h / 2) * (w / 2))
        out.write(((id + t) % 256).toInt)
    }
    out.toByteArray
  }

  /** Media table of temporal-scene clips ([[buildY4mScene]]) —
    * JVM-side per row, like [[synthesizeY4m]]. */
  def synthesizeY4mScene(df: DataFrame, idCol: String, sourceCol: String,
                         trim: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(sourceCol).cast("string"))
      .as[(Long, String)]
      .map(y4mSceneRows.getOrElseUpdate(trim, {
        case (id, src) =>
          val bytes = buildY4mScene(id, trim)
          (id, "video", bytes, src, "video/x-yuv4mpeg", bytes.length.toLong)
      }))
      .toDF("media_id", "kind", "payload", "source", "mime", "n_bytes")
      .select(col("media_id"), col("kind"), col("payload"),
        struct(col("source"), col("mime"), col("n_bytes")).as("meta"))
  }

  /** One row builder per `trim`, built once: `MapElements` compares
    * its function by identity, so a fresh closure per call would give
    * every call a plan [[Persisted]] has never seen. */
  private val y4mSceneRows = scala.collection.concurrent.TrieMap.empty[Int,
    ((Long, String)) => (Long, String, Array[Byte], String, String, Long)]

  /** 56-bit PCM energy-envelope fingerprint; null for undecodable or
    * sub-57-sample payloads. */
  def audioFingerprint(payload: Column): Column =
    graft.functions.AudioFingerprintExpr.audio_fingerprint(payload)

  /** 56-bit Y4M keyframe luma-order hash; null without a complete
    * first frame. */
  def videoDHash(payload: Column): Column =
    graft.functions.VideoDHashExpr.video_dhash(payload)

  /** Corpus-side artifact for incremental media dedup: the (id, 56-bit
    * hash) frame — at 100 TB a parquet table refreshed with the corpus
    * and bucketed by band key, so per ingest only the NEW batch decodes.
    * `hash` is any of [[imageDHash]] / [[audioFingerprint]] /
    * [[videoDHash]]. */
  def mediaHashIndex(media: DataFrame, idCol: String,
                     hash: Column): DataFrame =
    media.select(col(idCol).as("id"), hash.as("dh"))
      .where(col("dh").isNotNull)

  /** Cross-corpus media near-dedup — [[Dedup.minhashLshAgainst]]'s
    * shape for perceptual hashes: which payloads of a NEW batch are
    * within `maxDist` Hamming of an EXISTING corpus's
    * [[mediaHashIndex]]. Only the new batch decodes; candidates are
    * (band, band_key) matches against the index (same pigeonhole recall
    * as the within-corpus path). Output: (new_id, corpus_id, hamming). */
  def mediaNearDupAgainst(newMedia: DataFrame, idCol: String, hash: Column,
                          corpusIndex: DataFrame,
                          maxDist: Int = 3): DataFrame =
    hammingAgainst(mediaHashIndex(newMedia, idCol, hash), corpusIndex, maxDist)
      .distinct()

  /** Cross-corpus banded Hamming candidates between two (id, dh) hash
    * frames: one (new_id, corpus_id, hamming ≤ maxDist) row per shared
    * band ([[Banded.crossPairs]]); callers collapse the repeats. The new
    * side is persisted — it is the per-ingest decode. */
  private def hammingAgainst(newIndex: DataFrame, corpusIndex: DataFrame,
                             maxDist: Int): DataFrame = {
    def banded(df: DataFrame, idAs: String, dhAs: String) =
      Banded.buckets(df, array(bandCols(col("dh"), maxDist): _*),
        col("id").as(idAs), col("dh").as(dhAs))
    Banded.crossPairs(banded(Persisted(newIndex), "new_id", "dh1"),
        banded(corpusIndex, "corpus_id", "dh2"))
      .select(col("new_id"), col("corpus_id"),
        bit_count(col("dh1").bitwiseXOR(col("dh2"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** Band decomposition of the ≤56-bit perceptual hashes: `maxDist + 1`
    * near-equal-width bands, so by pigeonhole ANY pair within `maxDist`
    * Hamming agrees on at least one whole band — the recall contract
    * holds for every threshold, not just the default 3 (wider radii
    * simply pay more candidates through narrower bands). */
  private def bandCols(dh: Column, maxDist: Int): Seq[Column] = {
    require(maxDist >= 0 && maxDist < 56,
      s"maxDist must be in [0, 56) for 56-bit hashes, got $maxDist")
    val bands = maxDist + 1
    val cuts = (0 to bands).map(b => b * 56 / bands)
    (0 until bands).map { b =>
      val lo = cuts(b)
      shiftright(dh, lo).bitwiseAND((1L << (cuts(b + 1) - lo)) - 1)
    }
  }

  private def bandedHammingPairs(media: DataFrame, idCol: String,
                                 hash: Column, maxDist: Int): DataFrame =
    hashNearDupPairs(mediaHashIndex(media, idCol, hash), maxDist)

  /** The banded-Hamming near-dup pairs ([[Banded.hammingPairs]]) over
    * an ALREADY-COMPUTED [[mediaHashIndex]] frame (columns `id`, `dh`;
    * extra columns are dropped) — the decode-once entry point: a corpus
    * whose perceptual hashes are materialized (the 100 TB parquet
    * artifact, or the per-session fixture) pays the payload decode zero
    * times per near-dup run. Same pipeline, guarantees, and output as the
    * decode-inline form ([[imageNearDupPairs]] etc.), which delegates
    * here. */
  def hashNearDupPairs(index: DataFrame, maxDist: Int = 3): DataFrame =
    Banded.hammingPairs(
      index.select(col("id"), col("dh").as("h")).where(col("h").isNotNull),
      bandCols(_, maxDist), maxDist)

  /** One REAL PNG image (RFC 2083): 8-bit RGB, per-row filters CYCLING
    * through all five types (a real encoder's shape — None/Sub/Up/
    * Average/Paeth at row y mod 5, deltas properly applied), zlib IDAT
    * via the JDK Deflater, CRC-correct chunks. Pixel (x, y) channels are
    * the same closed form as [[synthesizeBitmap]]'s, dims
    * `w = 9 + id mod 8, h = 5 + id mod 4` — so the oracle recomputes the
    * decoded features from the formula while the payload exercises the
    * full inflate + un-filter path. */
  def buildPng(id: Long): Array[Byte] = {
    val w = (9 + id % 8).toInt
    val h = (5 + id % 4).toInt
    val px = Array.ofDim[Int](h, 3 * w)
    for (y <- 0 until h; x <- 0 until w) {
      px(y)(3 * x) = ((id * 9 + x + y * 13) % 256).toInt
      px(y)(3 * x + 1) = ((id * 5 + x * 11 + y) % 256).toInt
      px(y)(3 * x + 2) = ((id + x * 3 + y * 7) % 256).toInt
    }
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      val ft = y % 5
      raw.write(ft)
      for (x <- 0 until 3 * w) {
        val cur = px(y)(x)
        val left = if (x >= 3) px(y)(x - 3) else 0
        val up = if (y > 0) px(y - 1)(x) else 0
        val ul = if (x >= 3 && y > 0) px(y - 1)(x - 3) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) >> 1
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        raw.write((cur - pred) & 0xff)
      }
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw.toByteArray); deflater.finish()
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
    val ihdr = be4(w.toLong) ++ be4(h.toLong) ++
      Array[Byte](8, 2, 0, 0, 0) // depth 8, RGB, deflate, adaptive, no interlace
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat.toByteArray) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** Media table whose payloads are REAL PNGs ([[buildPng]]) — built
    * JVM-side per row (Deflater isn't expressible as column arithmetic;
    * fixture cost, partition-local). */
  def synthesizePng(df: DataFrame, idCol: String,
                    sourceCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(sourceCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, src) =>
        val bytes = buildPng(id)
        (id, "image", bytes, src, "image/png", bytes.length.toLong) }
      .toDF("media_id", "kind", "payload", "source", "mime", "n_bytes")
      .select(col("media_id"), col("kind"), col("payload"),
        struct(col("source"), col("mime"), col("n_bytes")).as("meta"))
  }

  /** REAL PNG pixel decode: CRC-verified chunk walk, JDK inflate, all
    * five scanline un-filters, then the same order-free features as
    * [[decodeImagePixels]] — image curation stays container-agnostic.
    * Null for non-PNG, non-8-bit-RGB, interlaced or corrupt payloads. */
  def decodePngPixels(payload: Column): Column =
    graft.functions.PngPixelStatsExpr.png_pixel_stats(payload)

  /** One REAL GIF89a image: 256-entry global color table, one image
    * block, pixel INDICES compressed with a genuine variable-code-width
    * LZW encoder (dictionary to 4096, code width 9→12, clear-code
    * reset on overflow, little-endian bit packing into ≤255-byte
    * sub-blocks — the published GIF dialect). Palette entry i and pixel
    * index (x, y) are closed-form in id, so the oracle recomputes the
    * decoded features while the payload exercises real dictionary
    * decompression. Dims `w = 7 + id mod 10, h = 6 + id mod 3`. */
  def buildGif(id: Long, wOverride: Int = 0, hOverride: Int = 0): Array[Byte] = {
    val w = if (wOverride > 0) wOverride else (7 + id % 10).toInt
    val h = if (hOverride > 0) hOverride else (6 + id % 3).toInt
    val indices = Array.tabulate(h, w)((y, x) => ((id + x * 3 + y * 7) % 256).toInt)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le2(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le2(w); le2(h)
    out.write(0xf7) // GCT present, 8-bit resolution, 256 entries
    out.write(0); out.write(0)
    for (i <- 0 until 256) { // closed-form palette
      out.write(((id + 7 * i) % 256).toInt)  // R
      out.write(((id * 3 + 5 * i) % 256).toInt) // G
      out.write(((id * 5 + 11 * i) % 256).toInt) // B
    }
    out.write(0x2c) // image descriptor
    le2(0); le2(0); le2(w); le2(h)
    out.write(0) // no LCT, not interlaced
    out.write(8) // LZW minimum code size
    // --- real GIF-LZW: string table over (prefix code, suffix byte) ---
    val Clear = 256; val End = 257
    val bits = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    var codeSize = 9
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt; bitCnt += codeSize
      while (bitCnt >= 8) { bits.write((bitBuf & 0xff).toInt); bitBuf >>= 8; bitCnt -= 8 }
    }
    var table = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var next = End + 1
    emit(Clear)
    val flat = indices.flatten
    var cur = flat(0)
    var i = 1
    while (i < flat.length) {
      val c = flat(i)
      table.get((cur, c)) match {
        case Some(code) => cur = code
        case None =>
          emit(cur)
          if (next < 4096) {
            table.update((cur, c), next)
            next += 1
            // encoder grows when the table reaches the width's capacity
            // (the matching decoder grows ONE entry early — it learns
            // each string one code later than the encoder defined it)
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
    while (off < stream.length) { // ≤255-byte sub-blocks
      val n = math.min(255, stream.length - off)
      out.write(n); out.write(stream, off, n); off += n
    }
    out.write(0)    // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Media table whose payloads are REAL LZW-compressed GIFs
    * ([[buildGif]]) — JVM-side per row, like [[synthesizePng]]. */
  def synthesizeGifReal(df: DataFrame, idCol: String,
                        sourceCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(sourceCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, src) =>
        val bytes = buildGif(id)
        (id, "image", bytes, src, "image/gif", bytes.length.toLong) }
      .toDF("media_id", "kind", "payload", "source", "mime", "n_bytes")
      .select(col("media_id"), col("kind"), col("payload"),
        struct(col("source"), col("mime"), col("n_bytes")).as("meta"))
  }

  /** REAL GIF pixel decode: header + color table + image block walk,
    * genuine variable-width LZW dictionary decompression, palette
    * lookup, then the shared order-free image features. Null for
    * non-GIF, interlaced, local-color-table or corrupt payloads. */
  def decodeGifPixels(payload: Column): Column =
    graft.functions.GifPixelStatsExpr.gif_pixel_stats(payload)

  /** REAL JPEG pixel decode (T.81 Huffman + dequant + IDCT + chroma
    * upsampling + YCbCr→RGB, sequential AND progressive,
    * [[graft.functions.JpegCodec]]) + the shared order-free image
    * features — the format most crawl images arrive in. Null for
    * non-JPEG/arithmetic/corrupt. */
  def decodeJpegPixels(payload: Column): Column =
    graft.functions.JpegPixelStatsExpr.jpeg_pixel_stats(payload)

  /** Container-agnostic pixel stats: sniff BMP/PNG/GIF/JPEG/WebP by
    * magic, decode with the matching real decoder, shared features —
    * what a MIXED-format corpus calls. Null when no decoder owns the
    * bytes. */
  def decodeAnyPixels(payload: Column): Column =
    graft.functions.AnyPixelStatsExpr.any_pixel_stats(payload)

  /** REAL lossless-WebP pixel decode (full VP8L — transforms, color
    * cache, LZ77, meta-Huffman; [[graft.functions.WebpCodec]]) + the
    * shared order-free features (both flavors: VP8L and VP8). Null
    * for non-WebP/corrupt. */
  def decodeWebpPixels(payload: Column): Column =
    graft.functions.WebpPixelStatsExpr.webp_pixel_stats(payload)

  /** Sniffed container name (bmp/png/gif/jpeg/webp_lossless/
    * webp_lossy; null unknown) for decode/skip accounting — the
    * column an ingest parse report groups on so undecodable
    * containers are counted, never silently dropped. */
  def imageContainer(payload: Column): Column =
    graft.functions.ImageContainerExpr.image_container(payload)

  /** Compressed-audio frame-header walk (MP3/MP2/MP1 + ADTS AAC —
    * [[graft.functions.AudioFrameWalk]]): frame count, samples, exact
    * duration, byte size, rate/channels, VBR flag — the features that
    * make the audio gate honest on the formats crawl audio actually
    * ships in. Null when no whole valid frame exists. */
  def audioFrameWalk(payload: Column): Column =
    graft.functions.AudioFrameWalkExpr.audio_frame_walk(payload)

  /** One REAL Y4M (YUV4MPEG2) clip: 4:2:0 planar raw frames, plane
    * values closed-form in (id, x, y, t) —
    * `Y = (id + 3x + 7y + 11t) mod 256`,
    * `U = (3·id + 5x + y + 13t) mod 256`,
    * `V = (5·id + x + 11y + 7t) mod 256` — dims `w = 8 + 2(id mod 5),
    * h = 6 + 2(id mod 3)`, `frames = 3 + id mod 4`. The per-frame +11
    * luma drift plants non-trivial MOTION the oracle recomputes. */
  def buildY4m(id: Long): Array[Byte] = {
    val w = (8 + 2 * (id % 5)).toInt
    val h = (6 + 2 * (id % 3)).toInt
    val frames = (3 + id % 4).toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n"
      .getBytes("US-ASCII"))
    for (t <- 0 until frames) {
      out.write("FRAME\n".getBytes("US-ASCII"))
      for (y <- 0 until h; x <- 0 until w)
        out.write(((id + 3 * x + 7 * y + 11 * t) % 256).toInt)
      for (y <- 0 until h / 2; x <- 0 until w / 2)
        out.write(((3 * id + 5 * x + y + 13 * t) % 256).toInt)
      for (y <- 0 until h / 2; x <- 0 until w / 2)
        out.write(((5 * id + x + 11 * y + 7 * t) % 256).toInt)
    }
    out.toByteArray
  }

  /** Media table whose payloads are REAL Y4M clips ([[buildY4m]]) —
    * JVM-side per row, like [[synthesizePng]]. */
  def synthesizeY4m(df: DataFrame, idCol: String,
                    sourceCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(sourceCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, src) =>
        val bytes = buildY4m(id)
        (id, "video", bytes, src, "video/x-yuv4mpeg", bytes.length.toLong) }
      .toDF("media_id", "kind", "payload", "source", "mime", "n_bytes")
      .select(col("media_id"), col("kind"), col("payload"),
        struct(col("source"), col("mime"), col("n_bytes")).as("meta"))
  }

  /** REAL raw-frame video decode (Y4M 4:2:0) + temporal features —
    * frame count, exact plane sums, max luma and exact |ΔY| motion —
    * the video modality's codec-free decode slot filled. Null for
    * non-Y4M payloads; truncated tail frames drop. */
  def decodeY4m(payload: Column): Column =
    graft.functions.Y4mStatsExpr.y4m_stats(payload)

  private def be2b(c: Column): Column = concat(byteAt(c, 1), byteAt(c, 0))
  private def be4b(c: Column): Column =
    concat(byteAt(c, 3), byteAt(c, 2), byteAt(c, 1), byteAt(c, 0))

  // the ISO-BMFF unity transform matrix (9 × 16.16/2.30 fixed-point)
  private val UnityMatrix: Array[Byte] = {
    val m = java.nio.ByteBuffer.allocate(36)
    m.putInt(0x00010000).putInt(0).putInt(0)
    m.putInt(0).putInt(0x00010000).putInt(0)
    m.putInt(0).putInt(0).putInt(0x40000000)
    m.array()
  }

  /** Media table whose payloads carry REAL MP4 (ISO-BMFF) containers —
    * the video counterpart of [[synthesizeAudio]]: a 16-byte `ftyp`
    * (major brand `isom`), a `moov` with a spec-complete 108-byte
    * version-0 `mvhd` (timescale, movie duration, unity matrix) and one
    * 100-byte `trak`/`tkhd` per track, then the document text as the
    * `mdat` body. Timescale, duration and track count are deterministic
    * functions of the id/text so an external oracle recomputes what a
    * correct box walk must return:
    * `timescale ∈ {600, 1000, 90000} by id % 3`,
    * `duration = data_bytes · 40`, `n_tracks = 1 + id % 2`.
    * All column expressions — construction is codegen'd and
    * partition-local. */
  def synthesizeVideo(df: DataFrame, idCol: String, textCol: String,
                      sourceCol: String): DataFrame = {
    val id = col(idCol).cast("long")
    val tsSel = pmod(id, lit(3L))
    val timescale = when(tsSel === 0, 600L).when(tsSel === 1, 1000L)
      .otherwise(90000L)
    val nTracks = lit(1L) + pmod(id, lit(2L))
    val body = encode(col(textCol), "UTF-8")
    val dataSize = length(body).cast("long")
    val duration = dataSize * 40L
    val ftyp = concat(be4b(lit(16L)), lit("ftyp".getBytes("US-ASCII")),
      lit("isom".getBytes("US-ASCII")), be4b(lit(0L)))
    val mvhd = concat(be4b(lit(108L)), lit("mvhd".getBytes("US-ASCII")),
      be4b(lit(0L)),            // version 0 + flags
      be4b(lit(0L)), be4b(lit(0L)), // creation/modification time
      be4b(timescale), be4b(duration),
      be4b(lit(0x00010000L)),   // rate 1.0
      be2b(lit(0x0100L)),       // volume 1.0
      be2b(lit(0L)), be4b(lit(0L)), be4b(lit(0L)), // reserved
      lit(UnityMatrix),
      lit(new Array[Byte](24)), // pre_defined
      be4b(nTracks + 1L))       // next_track_ID
    def trak(trackId: Column): Column =
      concat(be4b(lit(100L)), lit("trak".getBytes("US-ASCII")),
        be4b(lit(92L)), lit("tkhd".getBytes("US-ASCII")),
        be4b(lit(7L)),            // version 0, flags: enabled|in-movie|in-preview
        be4b(lit(0L)), be4b(lit(0L)), // creation/modification time
        be4b(trackId), be4b(lit(0L)), // track_ID, reserved
        be4b(duration),
        be4b(lit(0L)), be4b(lit(0L)), // reserved(8)
        be2b(lit(0L)), be2b(lit(0L)), // layer, alternate_group
        be2b(lit(0L)), be2b(lit(0L)), // volume (0 for video), reserved
        lit(UnityMatrix),
        be4b(lit(0L)), be4b(lit(0L))) // width, height (16.16)
    val moov = concat(
      be4b(lit(8L) + 108L + nTracks * 100L),
      lit("moov".getBytes("US-ASCII")),
      mvhd, trak(lit(1L)),
      when(nTracks === 2L, trak(lit(2L))).otherwise(lit(Array.empty[Byte])))
    val mdat = concat(be4b(dataSize + 8L), lit("mdat".getBytes("US-ASCII")), body)
    val mp4 = concat(ftyp, moov, mdat)
    df.select(
      id.as("media_id"),
      lit("video").as("kind"),
      mp4.as("payload"),
      struct(
        col(sourceCol).as("source"),
        lit("video/mp4").as("mime"),
        length(mp4).cast("long").as("n_bytes")).as("meta"))
  }

  /** REAL MP4 header decode — the video counterpart of [[decodeHeader]]:
    * codegen'd ISO-BMFF box walk, null for non-MP4 bytes. */
  def decodeVideoHeader(payload: Column): Column =
    graft.functions.VideoHeaderExpr.video_header(payload)

  /** REAL Matroska/WebM header decode: codegen'd EBML element walk —
    * DocType, timescale, float Duration → duration_ms, track and
    * cluster counts; null for non-EBML bytes. */
  def decodeEbmlHeader(payload: Column): Column =
    graft.functions.EbmlHeaderExpr.ebml_header(payload)

  /** REAL Ogg (Opus/Vorbis) header decode: codegen'd CRC-verified page
    * walk — codec id packet + last-page granule → duration_ms; null
    * for non-Ogg bytes. */
  def decodeOggHeader(payload: Column): Column =
    graft.functions.OggHeaderExpr.ogg_header(payload)

  /** STUB feature extraction: fixed-length deterministic feature vector
    * from payload bytes (stands in for an image/audio embedding model). */
  def featureStub(payload: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)), i =>
      round(pmod(crc32(concat(payload, i.cast("string").cast("binary"))).cast("double"),
        lit(1000.0d)) / 1000.0d, 6))

  /** Frame sampling plumbing for video-like payloads: split the payload
    * into `frameBytes`-sized windows, keep every `stride`-th. Output one
    * row per sampled frame — the explode pattern a real frame sampler
    * uses; partition-local, no shuffle. */
  def sampleFrames(df: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    df.select(col("media_id"), col("kind"), col("meta"),
      posexplode(filter(
        transform(sequence(lit(0), (col("meta.n_bytes") / frameBytes).cast("int")),
          i => when(pmod(i, lit(stride)) === 0,
            substring(col("payload"), (i * frameBytes + 1).cast("int"), lit(frameBytes)))
            .otherwise(lit(null).cast("binary"))),
        f => f.isNotNull)))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame")
      .where(length(col("frame")) > 0)

  /** Batched low-level decode path via mapPartitions over an iterator of
    * rows — the signature a JNI codec integration needs (amortizes
    * per-batch setup). The stub "decode" is the 60-bit md5 prefix of the
    * payload, computed with a per-partition MessageDigest (the init-once
    * slot a real codec context occupies) — md5-based so the DuckDB oracle
    * can recompute it exactly. */
  def decodeBatched(spark: SparkSession, df: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decoded_ok", BooleanType, nullable = false),
      StructField("checksum", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(out)
    df.select(col("media_id"), col("payload")).mapPartitions { rows =>
      // per-partition init happens once (real codecs allocate contexts here)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        md.reset()
        val bytes = r.getAs[Array[Byte]]("payload")
        val hex = md.digest(bytes).take(8).map(b => f"$b%02x").mkString
        Row(r.getLong(0), bytes.nonEmpty, java.lang.Long.parseLong(hex.take(15), 16))
      }
    }(enc)
  }
}
