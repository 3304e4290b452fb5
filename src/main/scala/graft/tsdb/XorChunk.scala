package graft.tsdb

/** MSB-first bit stream, the substrate of the XOR chunk encoding.
  * Same wire behavior as the reference's bstream
  * (`vendor/github.com/prometheus/tsdb/chunks/bstream.go`): bits fill each
  * byte from the most-significant end. Clean-room implementation from the
  * format (Gorilla paper §4.1; Prometheus TSDB chunk format docs).
  *
  * A write moves up to a byte per step into a growable array; the
  * trailing byte is zero-padded. */
final class BitWriter(initialBytes: Int = 16) {
  private var buf = new Array[Byte](math.max(initialBytes, 1))
  private var nbits = 0 // bits written so far

  def writeBit(b: Boolean): Unit = writeBits(if (b) 1L else 0L, 1)

  /** Write the low `n` bits of `v`, MSB first. */
  def writeBits(v: Long, n: Int): Unit = {
    var left = n
    while (left > 0) {
      val used = nbits & 7
      val at = nbits >>> 3
      if (used == 0 && at == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      val take = math.min(8 - used, left)
      left -= take
      val bits = ((v >>> left) & ((1L << take) - 1)).toInt
      buf(at) = (buf(at) | (bits << (8 - used - take))).toByte
      nbits += take
    }
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

  def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, (nbits + 7) >>> 3)
}

/** Reads what [[BitWriter]] writes, up to a byte per step. Reading past
  * the end throws `ArrayIndexOutOfBoundsException`. */
final class BitReader(bytes: Array[Byte]) {
  private var idx = 0
  private var bit = 0 // bits of bytes(idx) already read

  def readBit(): Boolean = {
    val b = ((bytes(idx) >>> (7 - bit)) & 1) == 1
    bit += 1
    if (bit == 8) { bit = 0; idx += 1 }
    b
  }

  def readBits(n: Int): Long = {
    var v = 0L
    var left = n
    while (left > 0) {
      val avail = 8 - bit
      val b = bytes(idx) & ((1 << avail) - 1)
      if (left >= avail) {
        v = (v << avail) | b
        left -= avail; bit = 0; idx += 1
      } else {
        v = (v << left) | (b >>> (avail - left))
        bit += left; left = 0
      }
    }
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

/** Gorilla-style XOR chunk: delta-of-delta timestamps + XOR'd float64
  * mantissa reuse. Bit-compatible with the reference's chunk encoding
  * (`vendor/github.com/prometheus/tsdb/chunks/xor.go:134-224` append,
  * `xor.go:249-389` decode), re-derived from the published format:
  *
  *   header: uint16 BE sample count
  *   s0: varint t0 | raw 64-bit v0
  *   s1: uvarint (t1-t0) | xor-coded v1
  *   sN: dod prefix-coded '0' | '10'+14b | '110'+17b | '1110'+20b | '1111'+64b
  *       (two's-complement in the narrow widths), xor-coded vN:
  *       '0' if xor==0; '1','0' reuse previous leading/trailing window;
  *       '1','1' 5b leading | 6b sigbit-count (64 encoded as 0) | sig bits
  */
object XorChunk {
  val Encoding: Int = 1 // chunk encoding byte for XOR (chunks.go framing)

  def encode(samples: Seq[Sample]): Array[Byte] = {
    val num = samples.size
    require(num <= 0xffff, "chunk overflow")
    val w = new BitWriter(16 + 2 * num)
    w.writeBits(num.toLong, 16)
    var prevT = 0L; var prevDelta = 0L; var prevV = 0L
    var leading = -1; var trailing = 0 // -1 == no window yet (ref sentinel 0xff)
    var i = 0
    val it = samples.iterator
    while (it.hasNext) {
      val s = it.next()
      val bits = java.lang.Double.doubleToLongBits(s.v)
      if (i == 0) {
        w.writeVarint(s.t)
        w.writeBits(bits, 64)
      } else {
        if (i == 1) {
          prevDelta = s.t - prevT
          w.writeUvarint(prevDelta)
        } else {
          val delta = s.t - prevT
          val dod = delta - prevDelta
          prevDelta = delta
          // prefix and field in one write: '10'+14b, '110'+17b, '1110'+20b
          if (dod == 0) w.writeBit(false)
          else if (bitRange(dod, 14)) w.writeBits((0x2L << 14) | (dod & 0x3fffL), 16)
          else if (bitRange(dod, 17)) w.writeBits((0x6L << 17) | (dod & 0x1ffffL), 20)
          else if (bitRange(dod, 20)) w.writeBits((0xeL << 20) | (dod & 0xfffffL), 24)
          else { w.writeBits(0xfL, 4); w.writeBits(dod, 64) }
        }
        val xor = bits ^ prevV
        if (xor == 0) w.writeBit(false)
        else {
          var lead = java.lang.Long.numberOfLeadingZeros(xor)
          val trail = java.lang.Long.numberOfTrailingZeros(xor)
          if (lead > 31) lead = 31 // 5-bit field cap (xor.go:191)
          if (leading != -1 && lead >= leading && trail >= trailing) {
            w.writeBits(0x2L, 2) // '1','0': reuse the window
            w.writeBits(xor >>> trailing, 64 - leading - trailing)
          } else {
            leading = lead; trailing = trail
            val sigbits = 64 - lead - trail
            // '1','1' | 5b leading | 6b sigbits (64 encoded as 0)
            w.writeBits((0x3L << 11) | (lead.toLong << 6) | (sigbits & 0x3f), 13)
            w.writeBits(xor >>> trail, sigbits)
          }
        }
      }
      prevT = s.t
      prevV = bits
      i += 1
    }
    w.toBytes
  }

  /** dod fits in an n-bit two's-complement field with the reference's
    * asymmetric bound: -(2^(n-1)-1) <= x <= 2^(n-1). */
  private def bitRange(x: Long, n: Int): Boolean =
    -((1L << (n - 1)) - 1) <= x && x <= (1L << (n - 1))

  def decode(bytes: Array[Byte]): IndexedSeq[Sample] = {
    val r = new BitReader(bytes)
    val num = r.readBits(16).toInt
    val out = new Array[Sample](num)
    var t = 0L; var delta = 0L; var vBits = 0L
    var leading = 0; var trailing = 0
    var i = 0
    while (i < num) {
      if (i == 0) {
        t = r.readVarint()
        vBits = r.readBits(64)
      } else {
        if (i == 1) delta = r.readUvarint()
        else {
          var prefix = 0
          while (prefix < 4 && r.readBit()) prefix += 1
          delta += (prefix match {
            case 0 => 0L
            case 1 => signExtend(r.readBits(14), 14)
            case 2 => signExtend(r.readBits(17), 17)
            case 3 => signExtend(r.readBits(20), 20)
            case _ => r.readBits(64)
          })
        }
        t += delta
        if (r.readBit()) {
          if (r.readBit()) {
            leading = r.readBits(5).toInt
            var sig = r.readBits(6).toInt
            if (sig == 0) sig = 64 // 0 means 64 (xor.go decode)
            trailing = 64 - leading - sig
          }
          vBits ^= r.readBits(64 - leading - trailing) << trailing
        }
      }
      out(i) = Sample(t, java.lang.Double.longBitsToDouble(vBits))
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Reference decode uses strict `>`: 2^(n-1) stays positive
    * (xor.go dod read). */
  private def signExtend(bits: Long, n: Int): Long =
    if (bits > (1L << (n - 1))) bits - (1L << n) else bits
}
