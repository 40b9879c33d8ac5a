package graft.functions

import java.util.Arrays

/** Gorilla time-series block codec: delta-of-delta timestamps + XOR-encoded
  * doubles, after the public Gorilla paper (Pelkonen et al., "Gorilla: A
  * Fast, Scalable, In-Memory Time Series Database", VLDB 2015). Pure Scala,
  * no Spark dependency — the Spark surface is GorillaAgg.
  *
  * The reference engine has no compression analog; this is the north-rule
  * addition (BASELINE.json: "Each tier stores values Gorilla-compressed").
  *
  * Layout (bit stream, MSB-first):
  *   [32b count][64b t0][64b rawBits(v0)] then per point i>=1:
  *     timestamps: dod = (t_i − t_{i−1}) − (t_{i−1} − t_{i−2}) with buckets
  *       0                  → '0'
  *       [−63, 64]          → '10'   + 7b  (dod+63)
  *       [−255, 256]        → '110'  + 9b  (dod+255)
  *       [−2047, 2048]      → '1110' + 12b (dod+2047)
  *       int32 range        → '11110'+ 32b two's-complement (µs jitter class;
  *                            added vs the paper, which assumes 1s cadence)
  *       else               → '11111'+ 64b raw
  *     values: xor = bits(v_i) ^ bits(v_{i−1})
  *       xor == 0           → '0'
  *       fits prev window   → '10' + meaningful bits
  *       else               → '11' + 5b leadingZeros(≤31) + 6b (len−1) + bits
  *
  * Blocks are MERGEABLE: merge = decode ++ decode → sort by (ts, rawBits) →
  * re-encode. Because the sort is a deterministic function of the point
  * multiset, merge is associative and commutative — which is what lets
  * salted partial blocks combine into exactly the block an unsalted
  * aggregation would produce (SURVEY.md §7, M5).
  *
  * Null values are NOT representable — the aggregation layer skips null
  * measures (na.rm parity); gap-filled NaN points must be filled before
  * encoding or kept in a separate presence tier.
  */
object Gorilla {

  final class BitWriter(initialBytes: Int) {
    private var buf = new Array[Byte](math.max(initialBytes, 16))
    private var bitLen = 0

    private def ensure(nBits: Int): Unit = {
      val needBytes = (bitLen + nBits + 7) >>> 3
      if (needBytes > buf.length) buf = Arrays.copyOf(buf, math.max(buf.length * 2, needBytes))
    }

    /** Write the lowest `n` bits of `v`, MSB first. */
    def writeBits(v: Long, n: Int): Unit = {
      ensure(n)
      var i = n - 1
      while (i >= 0) {
        val bit = (v >>> i) & 1L
        if (bit != 0) buf((bitLen >>> 3)) = (buf(bitLen >>> 3) | (0x80 >>> (bitLen & 7))).toByte
        bitLen += 1
        i -= 1
      }
    }

    def writeBit(b: Int): Unit = writeBits(b.toLong, 1)

    def toBytes: Array[Byte] = Arrays.copyOf(buf, (bitLen + 7) >>> 3)
  }

  final class BitReader(bytes: Array[Byte]) {
    private var pos = 0

    def readBits(n: Int): Long = {
      var out = 0L
      var i = 0
      while (i < n) {
        val bit = (bytes(pos >>> 3) >>> (7 - (pos & 7))) & 1
        out = (out << 1) | bit
        pos += 1
        i += 1
      }
      out
    }

    def readBit(): Int = readBits(1).toInt
  }

  /** Encode parallel arrays (first `n` slots) of (ts, value), which MUST be
    * sorted by (ts, rawBits(value)). Returns the compressed block. */
  def encode(ts: Array[Long], vs: Array[Double], n: Int): Array[Byte] = {
    if (n == 0) return Array.emptyByteArray
    val w = new BitWriter(16 + n * 3) // ~2-3 bytes/point typical
    w.writeBits(n.toLong, 32)
    w.writeBits(ts(0), 64)
    w.writeBits(java.lang.Double.doubleToRawLongBits(vs(0)), 64)
    var prevTs = ts(0)
    var prevDelta = 0L
    var prevBits = java.lang.Double.doubleToRawLongBits(vs(0))
    var prevLead = -1
    var prevTrail = -1
    var i = 1
    while (i < n) {
      // timestamp: delta-of-delta
      val delta = ts(i) - prevTs
      val dod = delta - prevDelta
      if (dod == 0L) w.writeBit(0)
      else if (dod >= -63 && dod <= 64) { w.writeBits(0x2, 2); w.writeBits(dod + 63, 7) }
      else if (dod >= -255 && dod <= 256) { w.writeBits(0x6, 3); w.writeBits(dod + 255, 9) }
      else if (dod >= -2047 && dod <= 2048) { w.writeBits(0xE, 4); w.writeBits(dod + 2047, 12) }
      else if (dod >= Int.MinValue && dod <= Int.MaxValue) { w.writeBits(0x1E, 5); w.writeBits(dod & 0xFFFFFFFFL, 32) }
      else { w.writeBits(0x1F, 5); w.writeBits(dod, 64) }
      prevDelta = delta
      prevTs = ts(i)
      // value: XOR
      val bits = java.lang.Double.doubleToRawLongBits(vs(i))
      val xor = bits ^ prevBits
      if (xor == 0L) w.writeBit(0)
      else {
        val lead = math.min(java.lang.Long.numberOfLeadingZeros(xor), 31)
        val trail = java.lang.Long.numberOfTrailingZeros(xor)
        if (prevLead >= 0 && lead >= prevLead && trail >= prevTrail) {
          w.writeBits(0x2, 2)
          w.writeBits(xor >>> prevTrail, 64 - prevLead - prevTrail)
        } else {
          w.writeBits(0x3, 2)
          val len = 64 - lead - trail
          w.writeBits(lead.toLong, 5)
          w.writeBits((len - 1).toLong, 6)
          w.writeBits(xor >>> trail, len)
          prevLead = lead
          prevTrail = trail
        }
      }
      prevBits = bits
      i += 1
    }
    w.toBytes
  }

  def encode(points: Seq[(Long, Double)]): Array[Byte] = {
    val sorted = points.sortBy { case (t, v) => (t, java.lang.Double.doubleToRawLongBits(v)) }
    encode(sorted.map(_._1).toArray, sorted.map(_._2).toArray, sorted.length)
  }

  /** Decode a block into (ts, value) arrays. */
  def decode(block: Array[Byte]): (Array[Long], Array[Double]) = {
    if (block.isEmpty) return (Array.emptyLongArray, Array.emptyDoubleArray)
    val r = new BitReader(block)
    val n = r.readBits(32).toInt
    val ts = new Array[Long](n)
    val vs = new Array[Double](n)
    ts(0) = r.readBits(64)
    var prevBits = r.readBits(64)
    vs(0) = java.lang.Double.longBitsToDouble(prevBits)
    var prevDelta = 0L
    var lead = 0
    var trail = 0
    var i = 1
    while (i < n) {
      val dod =
        if (r.readBit() == 0) 0L
        else if (r.readBit() == 0) r.readBits(7) - 63
        else if (r.readBit() == 0) r.readBits(9) - 255
        else if (r.readBit() == 0) r.readBits(12) - 2047
        else if (r.readBit() == 0) (r.readBits(32) << 32) >> 32
        else r.readBits(64)
      prevDelta += dod
      ts(i) = ts(i - 1) + prevDelta
      if (r.readBit() == 1) {
        val bits =
          if (r.readBit() == 0) {
            prevBits ^ (r.readBits(64 - lead - trail) << trail)
          } else {
            lead = r.readBits(5).toInt
            val len = r.readBits(6).toInt + 1
            trail = 64 - lead - len
            prevBits ^ (r.readBits(len) << trail)
          }
        prevBits = bits
      }
      vs(i) = java.lang.Double.longBitsToDouble(prevBits)
      i += 1
    }
    (ts, vs)
  }

  def pointCount(block: Array[Byte]): Int =
    if (block.isEmpty) 0
    else ((block(0) & 0xFF) << 24 | (block(1) & 0xFF) << 16 | (block(2) & 0xFF) << 8 | (block(3) & 0xFF))

  /** Associative, commutative block merge: union of point multisets under
    * the canonical (ts, rawBits) order. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val (ta, va) = decode(a)
    val (tb, vb) = decode(b)
    val n = ta.length + tb.length
    val ts = new Array[Long](n)
    val vs = new Array[Double](n)
    // merge two already-sorted runs
    var i = 0; var j = 0; var k = 0
    def keyLt(t1: Long, v1: Double, t2: Long, v2: Double): Boolean =
      t1 < t2 || (t1 == t2 &&
        java.lang.Double.doubleToRawLongBits(v1) < java.lang.Double.doubleToRawLongBits(v2))
    while (i < ta.length && j < tb.length) {
      if (keyLt(ta(i), va(i), tb(j), vb(j))) { ts(k) = ta(i); vs(k) = va(i); i += 1 }
      else { ts(k) = tb(j); vs(k) = vb(j); j += 1 }
      k += 1
    }
    while (i < ta.length) { ts(k) = ta(i); vs(k) = va(i); i += 1; k += 1 }
    while (j < tb.length) { ts(k) = tb(j); vs(k) = vb(j); j += 1; k += 1 }
    encode(ts, vs, n)
  }
}
