package graft.tsdb

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** XOR chunk codec: golden bit-level vectors derived from the published
  * format (Gorilla §4.1 / Prometheus TSDB chunk encoding; reference
  * behavior in vendor/github.com/prometheus/tsdb/chunks/xor.go) plus
  * round-trip property tests. */
class XorChunkSpec extends AnyFunSuite {

  test("empty chunk: two-byte zero count") {
    assert(XorChunk.encode(Seq.empty).toSeq == Seq[Byte](0, 0))
    assert(XorChunk.decode(Array[Byte](0, 0)).isEmpty)
  }

  test("single sample golden bytes") {
    // t=5 → zigzag varint 10 = 0x0a; v=1.5 → bits 0x3FF8000000000000
    val enc = XorChunk.encode(Seq(Sample(5, 1.5)))
    val expected = Array[Byte](0, 1, 0x0a,
      0x3f.toByte, 0xf8.toByte, 0, 0, 0, 0, 0, 0)
    assert(enc.toSeq == expected.toSeq)
    assert(XorChunk.decode(enc) == IndexedSeq(Sample(5, 1.5)))
  }

  test("second sample: uvarint delta + xor-zero value bit") {
    // t0=0 (varint 0x00), v=2.0; t1=30000 (uvarint b0=0xb0,0xea,0x01), v=2.0
    // value xor == 0 → single 0 bit
    val enc = XorChunk.encode(Seq(Sample(0, 2.0), Sample(30000, 2.0)))
    // header(2) + 1 + 8 + uvarint 30000 = [0xb0, 0xea, 0x01] + 1 bit → 1 byte
    assert(enc.length == 2 + 1 + 8 + 3 + 1)
    assert((enc.last & 0x80) == 0) // leading 0 bit = xor-same
    assert(XorChunk.decode(enc) == IndexedSeq(Sample(0, 2.0), Sample(30000, 2.0)))
  }

  test("dod=0 encodes as single 0 bit per sample") {
    // regular 15s cadence: after the 2nd sample, each (t,vsame) costs 2 bits
    val regular = (0 until 100).map(i => Sample(i * 15000L, 42.0))
    val enc = XorChunk.encode(regular)
    // 2 header + 1 t0 + 8 v0 + 2 delta uvarint + 1 bit, then 98 * 2 bits
    assert(enc.length <= 2 + 1 + 8 + 2 + 1 + (98 * 2 + 7) / 8 + 1)
    assert(XorChunk.decode(enc) == regular)
  }

  test("dod branch coverage: 14/17/20/64-bit widths") {
    val ts = Seq(0L, 10L, 20L, // dod 0
      20L + 8192L + 10L, // dod 8192 (max 14-bit)
      20L + 8192L + 10L + (8192L + 10L) + 65536L // 17-bit
    )
    val samples = ts.zipWithIndex.map { case (t, i) => Sample(t, i.toDouble) }
    assert(XorChunk.decode(XorChunk.encode(samples)) == samples)
    // extreme jumps → 64-bit branch
    val big = Seq(Sample(0, 1), Sample(1, 2), Sample(1L << 40, 3), Sample((1L << 40) + 1, 4))
    assert(XorChunk.decode(XorChunk.encode(big)) == big)
  }

  test("negative dod (time cadence shrink)") {
    val s = Seq(Sample(0, 1.0), Sample(100, 1.0), Sample(150, 1.0), Sample(160, 1.0))
    assert(XorChunk.decode(XorChunk.encode(s)) == s)
  }

  test("value window reuse and widen") {
    val s = Seq(1.0, 1.5, 1.25, 3.0, -7.5, 0.0, 1e300, -1e-300, Double.MaxValue)
      .zipWithIndex.map { case (v, i) => Sample(i * 1000L, v) }
    assert(XorChunk.decode(XorChunk.encode(s)) == s)
  }

  test("NaN and infinities round-trip") {
    val s = Seq(Sample(0, Double.NaN), Sample(1, Double.PositiveInfinity),
      Sample(2, Double.NegativeInfinity), Sample(3, -0.0))
    val dec = XorChunk.decode(XorChunk.encode(s))
    assert(dec.map(_.t) == s.map(_.t))
    assert(dec.map(x => java.lang.Double.doubleToRawLongBits(x.v)) ==
      s.map(x => java.lang.Double.doubleToRawLongBits(x.v)))
  }

  test("sigbits==64 path (full-width xor, leading=0 trailing=0)") {
    val s = Seq(Sample(0, java.lang.Double.longBitsToDouble(0x0000000000000001L)),
      Sample(1, java.lang.Double.longBitsToDouble(0x8000000000000001L)))
    assert(XorChunk.decode(XorChunk.encode(s)).map(x =>
      java.lang.Double.doubleToRawLongBits(x.v)) ==
      s.map(x => java.lang.Double.doubleToRawLongBits(x.v)))
  }

  test("property: encode/decode round-trip on random monotone series") {
    val sampleGen = for {
      n <- Gen.choose(0, 240)
      t0 <- Gen.choose(0L, 1L << 41)
      deltas <- Gen.listOfN(n, Gen.choose(1L, 120000L))
      vs <- Gen.listOfN(n, Gen.oneOf(
        Gen.choose(-1e6, 1e6), Gen.choose(-10.0, 10.0).map(math.exp),
        Gen.const(0.0), Gen.choose(0L, 1000L).map(_.toDouble)).flatMap(identity(_)))
    } yield deltas.scanLeft(t0)(_ + _).tail.zip(vs).map { case (t, v) => Sample(t, v) }
    (1 to 200).foreach { i =>
      val samples = sampleGen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i)).get
      assert(XorChunk.decode(XorChunk.encode(samples)) == samples.toIndexedSeq)
    }
  }

  test("compression ratio: counter series ~under 2 bytes/sample") {
    val s = (0 until 120).map(i => Sample(1700000000000L + i * 15000L, 1000.0 + i))
    val bytes = XorChunk.encode(s).length
    assert(bytes.toDouble / s.size < 2.5, s"got $bytes bytes for ${s.size} samples")
  }

  private def rawBits(ss: Seq[Sample]) =
    ss.map(s => (s.t, java.lang.Double.doubleToRawLongBits(s.v)))

  /** The codec against [[BitAtATimeXor]]: same bytes out of encode, same
    * bits out of decode. */
  private def sameAsReference(samples: Seq[Sample], clue: String): Unit = {
    val enc = XorChunk.encode(samples)
    assert(enc.toSeq == BitAtATimeXor.encode(samples).toSeq, clue)
    assert(rawBits(XorChunk.decode(enc)) == rawBits(BitAtATimeXor.decode(enc)), clue)
  }

  test("differential: byte- and bit-identical to the bit-at-a-time codec") {
    val StaleNaN = java.lang.Double.longBitsToDouble(0x7ff0000000000002L)
    def at(ts: Seq[Long], vs: Seq[Double]) = ts.zip(vs).map { case (t, v) => Sample(t, v) }
    def withDod(dod: Long) = { // t: 0, 1000, then a delta of 1000 + dod
      val ts = Seq(0L, 1000L, 2000L + dod, 3000L + 2 * dod, 4000L + 2 * dod)
      at(ts, ts.indices.map(_.toDouble))
    }
    // each dod width at both ends of its field: the reference's range is
    // -(2^(n-1)-1) .. 2^(n-1), so 2^(n-1)+1 and -(2^(n-1)) take the next width
    for (n <- Seq(14, 17, 20); b = 1L << (n - 1); dod <- Seq(b - 1, b, b + 1, -(b - 2), -(b - 1), -b))
      sameAsReference(withDod(dod), s"dod $dod")
    for (dod <- Seq(0L, 1L, -1L, 1L << 40, -(1L << 40), Long.MaxValue / 4, Long.MinValue / 4))
      sameAsReference(withDod(dod), s"dod $dod")
    val specials = Seq(Double.NaN, StaleNaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, Double.MinPositiveValue, -Double.MaxValue)
    sameAsReference(at(specials.indices.map(_ * 15000L), specials), "special values")
    sameAsReference(at(specials.indices.map(_ * 15000L), specials.reverse), "special values reversed")
    // xor of 1 and 1 + ulp: 63 leading zeros, capped at 31 in the field;
    // then the same low bit again, reusing the window
    val tiny = Seq(1.0, Math.nextUp(1.0), 1.0, Math.nextUp(1.0))
    assert(java.lang.Long.numberOfLeadingZeros(
      java.lang.Double.doubleToLongBits(tiny(0)) ^ java.lang.Double.doubleToLongBits(tiny(1))) > 31)
    sameAsReference(at(Seq(0L, 1L, 2L, 3L), tiny), "leading > 31")
    // a full-width xor: sigbits = 64, written as 0
    val wide = Seq(0x0000000000000001L, 0x8000000000000001L, 0x0000000000000000L, 0xffffffffffffffffL)
      .map(java.lang.Double.longBitsToDouble)
    sameAsReference(at(Seq(0L, 1L, 2L, 3L), wide), "sigbits 64")
    sameAsReference(Seq.empty, "0 samples")
    sameAsReference(Seq(Sample(-5L, 2.5)), "1 sample")
    sameAsReference(Seq(Sample(Long.MinValue, -0.0)), "1 sample at Long.MinValue")
    val rnd = new scala.util.Random(7)
    sameAsReference((0 until 0xffff).map(i => Sample(1700000000000L + i * 15000L + rnd.nextInt(50),
      if (i % 7 == 0) rnd.nextGaussian() else i / 3.0)), "0xffff samples")
    assertThrows[IllegalArgumentException](XorChunk.encode((0 to 0xffff).map(i => Sample(i, 0))))
    // random series over every value shape
    val valueGen = Gen.oneOf(Gen.choose(-1e6, 1e6), Gen.choose(-10.0, 10.0).map(math.exp),
      Gen.choose(0L, 1000L).map(_.toDouble), Gen.oneOf(specials),
      Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble))
    val seriesGen = for {
      n <- Gen.choose(0, 300)
      t0 <- Gen.choose(-(1L << 41), 1L << 41)
      deltas <- Gen.listOfN(n, Gen.oneOf(Gen.const(15000L), Gen.choose(-70000L, 70000L),
        Gen.choose(-(1L << 24), 1L << 24)))
      vs <- Gen.listOfN(n, valueGen)
    } yield deltas.scanLeft(t0)(_ + _).tail.zip(vs).map { case (t, v) => Sample(t, v) }
    (1 to 300).foreach { i =>
      val samples = seriesGen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i)).get
      sameAsReference(samples, s"seed $i")
    }
  }
}

class ChunkFileSpec extends AnyFunSuite {
  test("segment file round-trip with crc32c validation") {
    val chunks = Seq(
      XorChunk.encode((0 until 10).map(i => Sample(i * 1000L, i.toDouble))),
      XorChunk.encode(Seq(Sample(5, 2.5))),
      XorChunk.encode(Seq.empty))
    val (bytes, refs) = ChunkFile.write(3, chunks)
    assert(refs.size == 3)
    assert(refs.forall(r => ChunkFile.refFileSeq(r) == 3))
    // read back each by (offset within file)
    refs.zip(chunks).foreach { case (ref, orig) =>
      val rec = ChunkFile.readAt(bytes, ChunkFile.refOffset(ref))
      assert(rec.encoding == XorChunk.Encoding)
      assert(rec.data.toSeq == orig.toSeq)
    }
    val all = ChunkFile.readAll(bytes)
    assert(all.map(_.data.toSeq) == chunks.map(_.toSeq))
  }

  test("corrupt byte fails crc") {
    val (bytes, refs) = ChunkFile.write(0, Seq(XorChunk.encode(Seq(Sample(1, 1.0)))))
    bytes(8) = (bytes(8) ^ 0x40).toByte
    assertThrows[IllegalArgumentException] {
      ChunkFile.readAt(bytes, ChunkFile.refOffset(refs.head))
    }
  }

  test("ref packing matches fileSeq<<32|offset") {
    assert(ChunkFile.ref(2, 1234) == ((2L << 32) | 1234L))
    assert(ChunkFile.refFileSeq(ChunkFile.ref(7, 99)) == 7)
    assert(ChunkFile.refOffset(ChunkFile.ref(7, 99)) == 99)
  }

  test("record cache serves repeated reads with zero segment IO (S7)") {
    val chunks = (0 until 20).map(i =>
      XorChunk.encode((0 until 50).map(k =>
        Sample(1700000000000L + k * 15000L, (i * 50 + k).toDouble))))
    val dir = java.nio.file.Files.createTempDirectory("chunkcache")
    val (bytes, refs) = ChunkFile.write(1, chunks)
    java.nio.file.Files.write(dir.resolve("000001"), bytes)
    ChunkFile.bytesFetched.set(0)
    val first = ChunkFile.readRefs(dir, refs)
    assert(ChunkFile.bytesFetched.get() > 0)
    ChunkFile.bytesFetched.set(0)
    val second = ChunkFile.readRefs(dir, refs)
    assert(ChunkFile.bytesFetched.get() == 0,
      "second read of an immutable segment must be served from the cache")
    assert(first.keySet == second.keySet)
    assert(first.forall { case (r, rec) =>
      java.util.Arrays.equals(rec.data, second(r).data) })
    // a partial overlap fetches only the missing records
    val more = ChunkFile.write(2, chunks)._1
    java.nio.file.Files.write(dir.resolve("000002"), more)
    ChunkFile.bytesFetched.set(0)
    val mixed = ChunkFile.readRefs(dir,
      refs.take(5) ++ chunks.indices.take(3).map(i =>
        ChunkFile.ref(2, ChunkFile.refOffset(refs(i)))))
    assert(mixed.size == 8)
    val freshBytes = ChunkFile.bytesFetched.get()
    assert(freshBytes > 0 && freshBytes < bytes.length,
      s"expected only segment-2 ranges, fetched $freshBytes")
  }
}

/** The XOR codec as first written, one bit per call (unchanged but for
  * the enclosing object): the reference the word-level codec is checked
  * against. */
private object BitAtATimeXor {
  import scala.collection.mutable.ArrayBuffer

  final class BitWriter {
    private val buf = ArrayBuffer[Byte]()
    private var bitPos = 8 // bits free in current byte; 8 == no open byte

    def writeBit(b: Boolean): Unit = {
      if (bitPos == 8) { buf += 0; bitPos = 0 }
      if (b) buf(buf.length - 1) = (buf(buf.length - 1) | (0x80 >>> bitPos)).toByte
      bitPos += 1
      if (bitPos == 8) bitPos = 8
    }

    /** Write the low `n` bits of `v`, MSB first. */
    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { writeBit(((v >>> i) & 1L) == 1L); i -= 1 }
    }

    def writeByte(b: Int): Unit = writeBits(b.toLong & 0xffL, 8)

    /** Unsigned LEB128 varint (Go encoding/binary PutUvarint). */
    def writeUvarint(v0: Long): Unit = {
      var v = v0
      while (java.lang.Long.compareUnsigned(v, 0x80L) >= 0) {
        writeByte(((v & 0x7f) | 0x80).toInt)
        v = v >>> 7
      }
      writeByte(v.toInt)
    }

    /** Signed zig-zag varint (Go encoding/binary PutVarint). */
    def writeVarint(v: Long): Unit =
      writeUvarint((v << 1) ^ (v >> 63))

    def toBytes: Array[Byte] = buf.toArray
    /** Overwrite a previously written byte (for the sample-count header). */
    def setByte(idx: Int, b: Int): Unit = buf(idx) = b.toByte
  }

  final class BitReader(bytes: Array[Byte]) {
    private var idx = 0
    private var bit = 0

    def readBit(): Boolean = {
      val b = ((bytes(idx) >>> (7 - bit)) & 1) == 1
      bit += 1
      if (bit == 8) { bit = 0; idx += 1 }
      b
    }

    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | (if (readBit()) 1L else 0L); i += 1 }
      v
    }

    def readByte(): Int = readBits(8).toInt

    def readUvarint(): Long = {
      var v = 0L; var shift = 0
      var b = readByte()
      while ((b & 0x80) != 0) {
        v |= (b & 0x7fL) << shift; shift += 7; b = readByte()
      }
      v | ((b & 0x7fL) << shift)
    }

    def readVarint(): Long = {
      val u = readUvarint()
      (u >>> 1) ^ -(u & 1L)
    }
  }

  def encode(samples: Seq[Sample]): Array[Byte] = {
    require(samples.size <= 0xffff, "chunk overflow")
    val w = new BitWriter
    w.writeByte(samples.size >>> 8); w.writeByte(samples.size & 0xff)
    var prevT = 0L; var prevDelta = 0L; var prevV = 0L
    var leading = -1; var trailing = 0 // -1 == no window yet (ref sentinel 0xff)
    var i = 0
    samples.foreach { s =>
      if (i == 0) {
        w.writeVarint(s.t)
        prevV = java.lang.Double.doubleToLongBits(s.v)
        w.writeBits(prevV, 64)
      } else if (i == 1) {
        prevDelta = s.t - prevT
        w.writeUvarint(prevDelta)
        writeXorValue(w, s.v)
      } else {
        val delta = s.t - prevT
        val dod = delta - prevDelta
        prevDelta = delta
        if (dod == 0) w.writeBit(false)
        else if (bitRange(dod, 14)) { w.writeBits(0x2, 2); w.writeBits(dod, 14) }
        else if (bitRange(dod, 17)) { w.writeBits(0x6, 3); w.writeBits(dod, 17) }
        else if (bitRange(dod, 20)) { w.writeBits(0xe, 4); w.writeBits(dod, 20) }
        else { w.writeBits(0xf, 4); w.writeBits(dod, 64) }
        writeXorValue(w, s.v)
      }
      prevT = s.t
      i += 1

      def writeXorValue(w: BitWriter, v: Double): Unit = {
        val bits = java.lang.Double.doubleToLongBits(v)
        val xor = bits ^ prevV
        prevV = bits
        if (xor == 0) w.writeBit(false)
        else {
          w.writeBit(true)
          var lead = java.lang.Long.numberOfLeadingZeros(xor)
          val trail = java.lang.Long.numberOfTrailingZeros(xor)
          if (lead > 31) lead = 31 // 5-bit field cap (xor.go:191)
          if (leading != -1 && lead >= leading && trail >= trailing) {
            w.writeBit(false)
            w.writeBits(xor >>> trailing, 64 - leading - trailing)
          } else {
            leading = lead; trailing = trail
            w.writeBit(true)
            w.writeBits(lead.toLong, 5)
            val sigbits = 64 - lead - trail
            w.writeBits(sigbits.toLong & 0x3f, 6) // 64 encoded as 0
            w.writeBits(xor >>> trail, sigbits)
          }
        }
      }
    }
    w.toBytes
  }

  /** dod fits in an n-bit two's-complement field with the reference's
    * asymmetric bound: -(2^(n-1)-1) <= x <= 2^(n-1). */
  private def bitRange(x: Long, n: Int): Boolean =
    -((1L << (n - 1)) - 1) <= x && x <= (1L << (n - 1))

  def decode(bytes: Array[Byte]): IndexedSeq[Sample] = {
    val r = new BitReader(bytes)
    val num = ((r.readByte() & 0xff) << 8) | (r.readByte() & 0xff)
    val out = new ArrayBuffer[Sample](num)
    var t = 0L; var delta = 0L; var vBits = 0L
    var leading = 0; var trailing = 0
    var i = 0
    while (i < num) {
      if (i == 0) {
        t = r.readVarint()
        vBits = r.readBits(64)
      } else if (i == 1) {
        delta = r.readUvarint()
        t += delta
        readXorValue()
      } else {
        var prefix = 0
        var d = 0
        while (d < 4 && r.readBit()) { prefix += 1; d += 1 }
        val dod = prefix match {
          case 0 => 0L
          case 1 => signExtend(r.readBits(14), 14)
          case 2 => signExtend(r.readBits(17), 17)
          case 3 => signExtend(r.readBits(20), 20)
          case 4 => r.readBits(64)
        }
        delta += dod
        t += delta
        readXorValue()
      }
      out += Sample(t, java.lang.Double.longBitsToDouble(vBits))
      i += 1

      def readXorValue(): Unit = {
        if (r.readBit()) {
          if (r.readBit()) {
            leading = r.readBits(5).toInt
            var sig = r.readBits(6).toInt
            if (sig == 0) sig = 64 // 0 means 64 (xor.go decode)
            trailing = 64 - leading - sig
          }
          val sig = 64 - leading - trailing
          vBits ^= r.readBits(sig) << trailing
        }
      }
    }
    out.toIndexedSeq
  }

  /** Reference decode uses strict `>`: 2^(n-1) stays positive
    * (xor.go dod read). */
  private def signExtend(bits: Long, n: Int): Long =
    if (bits > (1L << (n - 1))) bits - (1L << n) else bits
}
