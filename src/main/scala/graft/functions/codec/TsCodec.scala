package graft.functions.codec

import scala.collection.mutable.ArrayBuffer

/** Bit-level writer for the Gorilla codecs. Grows as needed. */
final class BitWriter(initialBytes: Int = 64) {
  private var buf = new Array[Byte](initialBytes)
  private var bitPos = 0L

  private def ensure(bits: Long): Unit = {
    val needBytes = ((bitPos + bits + 7) / 8).toInt
    if (needBytes > buf.length) {
      var n = buf.length * 2
      while (n < needBytes) n *= 2
      buf = java.util.Arrays.copyOf(buf, n)
    }
  }

  def writeBit(b: Boolean): Unit = {
    ensure(1)
    if (b) {
      val byteIx = (bitPos >> 3).toInt
      buf(byteIx) = (buf(byteIx) | (1 << (7 - (bitPos & 7)).toInt)).toByte
    }
    bitPos += 1
  }

  /** Writes the low `n` bits of `v`, most-significant first. */
  def writeBits(v: Long, n: Int): Unit = {
    ensure(n)
    var i = n - 1
    while (i >= 0) {
      writeBitFast(((v >>> i) & 1L) == 1L)
      i -= 1
    }
  }

  @inline private def writeBitFast(b: Boolean): Unit = {
    if (b) {
      val byteIx = (bitPos >> 3).toInt
      buf(byteIx) = (buf(byteIx) | (1 << (7 - (bitPos & 7)).toInt)).toByte
    }
    bitPos += 1
  }

  def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, ((bitPos + 7) / 8).toInt)
  def lengthBits: Long = bitPos
}

/** Bit-level reader mirroring [[BitWriter]]. */
final class BitReader(bytes: Array[Byte]) {
  private var bitPos = 0L

  def readBit(): Boolean = {
    val byteIx = (bitPos >> 3).toInt
    val b = ((bytes(byteIx) >> (7 - (bitPos & 7)).toInt) & 1) == 1
    bitPos += 1
    b
  }

  /** Reads `n` bits into the low bits of a Long (MSB first). */
  def readBits(n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) {
      v = (v << 1) | (if (readBit()) 1L else 0L)
      i += 1
    }
    v
  }
}

/** Gorilla-style compressed block of (timestamp-seconds, double) points.
  *
  * Public-paper scheme (Pelkonen et al., "Gorilla: A Fast, Scalable,
  * In-Memory Time Series Database", VLDB 2015):
  *   - timestamps: first raw 64 bits, second as 64-bit delta, then
  *     delta-of-delta bucketed into {'0', '10'+7b, '110'+9b, '1110'+12b,
  *     '1111'+64b} (zig-zag–free: offsets added like the paper).
  *   - values: first raw 64 bits; then XOR with previous — '0' if identical,
  *     '10' reuse previous leading/length window, '11' + 5-bit leading +
  *     6-bit length + meaningful bits.
  *
  * Replaces the reference's lossless numeric downcasting `_compress`
  * (/root/reference/forecastframe/transform.py:11-39) as the storage-size
  * lever, per the north rule.
  *
  * Block layout: [int32 count][ts stream][value stream] — the two streams are
  * interleaved point-by-point (ts bits then value bits), matching the paper.
  * Encoding/decoding is pure Scala with no Spark dependency, run on the
  * executors by the [[BlockAgg]] aggregate and the [[BlockCodec]] decode
  * binding.
  */
object TsCodec {

  /** Encodes points (must be sorted by ts ascending; caller sorts). */
  def encode(ts: Array[Long], values: Array[Double]): Array[Byte] = {
    require(ts.length == values.length, "ts/value length mismatch")
    val n = ts.length
    val w = new BitWriter(16 + n * 4)
    w.writeBits(n.toLong, 32)
    if (n == 0) return w.toBytes

    var prevTs = 0L
    var prevDelta = 0L
    var prevBits = 0L
    var prevLeading = -1
    var prevTrailing = 0

    var i = 0
    while (i < n) {
      // --- timestamp ---
      if (i == 0) {
        w.writeBits(ts(0), 64)
        prevTs = ts(0)
      } else if (i == 1) {
        prevDelta = ts(1) - prevTs
        w.writeBits(prevDelta, 64)
        prevTs = ts(1)
      } else {
        val delta = ts(i) - prevTs
        val dod = delta - prevDelta
        if (dod == 0L) w.writeBit(false)
        else if (dod >= -63 && dod <= 64) { w.writeBits(2L, 2); w.writeBits(dod + 63, 7) }
        else if (dod >= -255 && dod <= 256) { w.writeBits(6L, 3); w.writeBits(dod + 255, 9) }
        else if (dod >= -2047 && dod <= 2048) { w.writeBits(14L, 4); w.writeBits(dod + 2047, 12) }
        else { w.writeBits(15L, 4); w.writeBits(dod, 64) }
        prevDelta = delta
        prevTs = ts(i)
      }

      // --- value ---
      val bits = java.lang.Double.doubleToLongBits(values(i))
      if (i == 0) {
        w.writeBits(bits, 64)
        prevBits = bits
      } else {
        val xor = bits ^ prevBits
        if (xor == 0L) w.writeBit(false)
        else {
          w.writeBit(true)
          var leading = java.lang.Long.numberOfLeadingZeros(xor)
          val trailing = java.lang.Long.numberOfTrailingZeros(xor)
          if (leading > 31) leading = 31 // 5-bit field
          if (prevLeading != -1 && leading >= prevLeading && trailing >= prevTrailing) {
            w.writeBit(false)
            val len = 64 - prevLeading - prevTrailing
            w.writeBits(xor >>> prevTrailing, len)
          } else {
            w.writeBit(true)
            val len = 64 - leading - trailing
            w.writeBits(leading.toLong, 5)
            // len ∈ [1,64]; store len-1 in 6 bits
            w.writeBits((len - 1).toLong, 6)
            w.writeBits(xor >>> trailing, len)
            prevLeading = leading
            prevTrailing = trailing
          }
        }
        prevBits = bits
      }
      i += 1
    }
    w.toBytes
  }

  /** Decodes a block back into (ts, value) arrays. Exact round-trip incl.
    * NaN / ±0.0 / subnormals (bit-pattern fidelity).
    */
  def decode(block: Array[Byte]): (Array[Long], Array[Double]) = {
    val r = new BitReader(block)
    val n = r.readBits(32).toInt
    val ts = new Array[Long](n)
    val values = new Array[Double](n)
    if (n == 0) return (ts, values)

    var prevTs = 0L
    var prevDelta = 0L
    var prevBits = 0L
    var prevLeading = 0
    var prevTrailing = 0

    var i = 0
    while (i < n) {
      if (i == 0) { prevTs = r.readBits(64); ts(0) = prevTs }
      else if (i == 1) { prevDelta = r.readBits(64); prevTs += prevDelta; ts(1) = prevTs }
      else {
        val dod =
          if (!r.readBit()) 0L
          else if (!r.readBit()) r.readBits(7) - 63
          else if (!r.readBit()) r.readBits(9) - 255
          else if (!r.readBit()) r.readBits(12) - 2047
          else r.readBits(64)
        prevDelta += dod
        prevTs += prevDelta
        ts(i) = prevTs
      }

      if (i == 0) { prevBits = r.readBits(64); values(0) = java.lang.Double.longBitsToDouble(prevBits) }
      else {
        if (r.readBit()) {
          if (!r.readBit()) {
            val len = 64 - prevLeading - prevTrailing
            val xor = r.readBits(len) << prevTrailing
            prevBits ^= xor
          } else {
            prevLeading = r.readBits(5).toInt
            val len = r.readBits(6).toInt + 1
            prevTrailing = 64 - prevLeading - len
            val xor = r.readBits(len) << prevTrailing
            prevBits ^= xor
          }
        }
        values(i) = java.lang.Double.longBitsToDouble(prevBits)
      }
      i += 1
    }
    (ts, values)
  }
}
