package graft.chunk

/** Gorilla time-series compression (Pelkonen et al., "Gorilla: A Fast,
  * Scalable, In-Memory Time Series Database", VLDB 2015) — the chunk-blob
  * format the north rule requires per retention tier.
  *
  * Encoding, per the paper (§4.1) with two generalizations:
  *  - timestamps: header = t0 (64 bits); each subsequent timestamp encodes
  *    delta-of-delta in the paper's variable buckets
  *    (0 -> '0'; [-63,64] -> '10'+7b; [-255,256] -> '110'+9b;
  *    [-2047,2048] -> '1110'+12b; else '1111'+64b — widened from the
  *    paper's 32b so arbitrary epoch gaps survive).
  *    The first delta uses the same scheme with prevDelta = 0 (the paper's
  *    fixed 14-bit first delta assumes 4h blocks; ours are size-bounded).
  *  - values: first value = 64 raw bits; then XOR with predecessor:
  *    0 -> '0'; else '10' + meaningful bits if they fit the previous
  *    (leading, length) window, or '11' + 5b leadingZeros + 6b
  *    (significantBits - 1) + bits.
  *  - a null value (a gap the fill policy left open) is encoded as the
  *    canonical NaN bit pattern and decoded back to null.
  *
  * Pure JVM code, no Spark dependency — unit/property tested in isolation;
  * Spark integration lives in ChunkWriter.
  */
object Gorilla {

  final val NaNBits = 0x7ff8000000000000L

  final class BitWriter(initial: Int = 256) {
    private var buf = new Array[Byte](initial)
    private var bitPos = 0L
    private def ensure(bits: Long): Unit = {
      val needBytes = ((bitPos + bits + 7) / 8).toInt
      if (needBytes > buf.length) {
        var cap = buf.length * 2
        while (cap < needBytes) cap *= 2
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    }
    def writeBit(b: Boolean): Unit = {
      ensure(1)
      if (b) {
        val byteIdx = (bitPos / 8).toInt
        buf(byteIdx) = (buf(byteIdx) | (1 << (7 - (bitPos % 8)).toInt)).toByte
      }
      bitPos += 1
    }
    /** Write the low `n` bits of `v`, most-significant first. */
    def writeBits(v: Long, n: Int): Unit = {
      ensure(n)
      var i = n - 1
      while (i >= 0) {
        writeBit(((v >>> i) & 1L) == 1L)
        i -= 1
      }
    }
    def toBytes: Array[Byte] =
      java.util.Arrays.copyOf(buf, ((bitPos + 7) / 8).toInt)
  }

  final class BitReader(bytes: Array[Byte]) {
    private var bitPos = 0L
    def readBit(): Boolean = {
      val byteIdx = (bitPos / 8).toInt
      val b = (bytes(byteIdx) >> (7 - (bitPos % 8)).toInt & 1) == 1
      bitPos += 1
      b
    }
    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | (if (readBit()) 1L else 0L); i += 1 }
      v
    }
  }

  private def writeDod(w: BitWriter, dod: Long): Unit = {
    if (dod == 0L) w.writeBit(false)
    else if (dod >= -63 && dod <= 64) { w.writeBits(0x2L, 2); w.writeBits(dod & 0x7fL, 7) }
    else if (dod >= -255 && dod <= 256) { w.writeBits(0x6L, 3); w.writeBits(dod & 0x1ffL, 9) }
    else if (dod >= -2047 && dod <= 2048) { w.writeBits(0xeL, 4); w.writeBits(dod & 0xfffL, 12) }
    else { w.writeBits(0xfL, 4); w.writeBits(dod, 64) }
  }

  /** Sign-extend the low `n` bits read for a dod bucket. The buckets are
    * asymmetric ([-63,64] etc.), matching the paper: value `2^(n-1)` is the
    * positive max, below that two's complement.
    */
  private def extend(v: Long, n: Int): Long = {
    val signBit = 1L << (n - 1)
    if ((v & signBit) == 0) v
    else {
      val x = v | -(1L << n) // negative two's-complement
      // bucket upper bound 2^(n-1) is stored as the sign-bit pattern with
      // all lower bits 0 only when positive max; disambiguate: Gorilla's
      // ranges make max = 2^(n-1), encoded as exactly signBit with rest 0.
      if ((v & (signBit - 1)) == 0) signBit else x
    }
  }

  private def readDod(r: BitReader): Long = {
    if (!r.readBit()) 0L
    else if (!r.readBit()) extend(r.readBits(7), 7)
    else if (!r.readBit()) extend(r.readBits(9), 9)
    else if (!r.readBit()) extend(r.readBits(12), 12)
    else r.readBits(64)
  }

  /** Encode a ts-sorted run of points of ONE series. Returns the blob. */
  def encode(ts: Array[Long], values: Array[Double]): Array[Byte] = {
    require(ts.length == values.length && ts.length > 0, "non-empty, aligned")
    val w = new BitWriter(math.max(256, ts.length * 3))
    w.writeBits(ts(0), 64)
    var v0 = java.lang.Double.doubleToLongBits(values(0))
    if (java.lang.Double.isNaN(values(0))) v0 = NaNBits
    w.writeBits(v0, 64)
    var prevTs = ts(0)
    var prevDelta = 0L
    var prevBits = v0
    var prevLead = -1
    var prevSig = -1
    var i = 1
    while (i < ts.length) {
      val delta = ts(i) - prevTs
      writeDod(w, delta - prevDelta)
      prevDelta = delta
      prevTs = ts(i)

      var bits = java.lang.Double.doubleToLongBits(values(i))
      if (java.lang.Double.isNaN(values(i))) bits = NaNBits
      val xor = bits ^ prevBits
      if (xor == 0L) w.writeBit(false)
      else {
        w.writeBit(true)
        val lead0 = java.lang.Long.numberOfLeadingZeros(xor)
        val trail = java.lang.Long.numberOfTrailingZeros(xor)
        val lead = math.min(lead0, 31) // 5-bit field
        val sig = 64 - lead - trail
        if (prevLead >= 0 && lead >= prevLead && (64 - prevLead - prevSig) <= trail) {
          // fits the previous window
          w.writeBit(false)
          w.writeBits(xor >>> (64 - prevLead - prevSig), prevSig)
        } else {
          w.writeBit(true)
          w.writeBits(lead.toLong, 5)
          w.writeBits((sig - 1).toLong, 6)
          w.writeBits(xor >>> trail, sig)
          prevLead = lead
          prevSig = sig
        }
      }
      prevBits = bits
      i += 1
    }
    w.toBytes
  }

  /** Decode a blob of `n` points back to (ts, valueBits) arrays; NaN bit
    * patterns mean "null".
    */
  def decode(blob: Array[Byte], n: Int): (Array[Long], Array[Double]) = {
    val r = new BitReader(blob)
    val ts = new Array[Long](n)
    val vs = new Array[Double](n)
    ts(0) = r.readBits(64)
    val v0bits = r.readBits(64)
    vs(0) = java.lang.Double.longBitsToDouble(v0bits)
    var prevDelta = 0L
    var prevBits = v0bits
    var prevLead = -1
    var prevSig = -1
    var i = 1
    while (i < n) {
      val dod = readDod(r)
      prevDelta += dod
      ts(i) = ts(i - 1) + prevDelta
      if (!r.readBit()) {
        vs(i) = java.lang.Double.longBitsToDouble(prevBits)
      } else {
        if (r.readBit()) {
          prevLead = r.readBits(5).toInt
          prevSig = r.readBits(6).toInt + 1
        }
        val meaningful = r.readBits(prevSig)
        val bits = prevBits ^ (meaningful << (64 - prevLead - prevSig))
        vs(i) = java.lang.Double.longBitsToDouble(bits)
        prevBits = bits
      }
      i += 1
    }
    (ts, vs)
  }

  def crc32(bytes: Array[Byte]): Int = {
    val c = new java.util.zip.CRC32()
    c.update(bytes)
    c.getValue.toInt
  }
}
