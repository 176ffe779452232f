package graft.codec

/** Minimal big-endian bit stream primitives for the Gorilla/DoD codecs.
  * Pure JVM, no dependencies — safe inside executor tasks.
  */
final class BitWriter(initialCapacity: Int = 64) {
  private var buf = new Array[Byte](math.max(8, initialCapacity))
  private var bitPos = 0L // total bits written

  private def ensure(extraBits: Long): Unit = {
    val neededBytes = ((bitPos + extraBits + 7) >>> 3).toInt
    if (neededBytes > buf.length) {
      var cap = buf.length
      while (cap < neededBytes) cap *= 2
      buf = java.util.Arrays.copyOf(buf, cap)
    }
  }

  def writeBit(b: Boolean): Unit = {
    ensure(1)
    if (b) {
      val byteIdx = (bitPos >>> 3).toInt
      val shift = 7 - (bitPos & 7).toInt
      buf(byteIdx) = (buf(byteIdx) | (1 << shift)).toByte
    }
    bitPos += 1
  }

  /** Write the low `n` bits of `v`, most-significant first. n in [0,64]. */
  def writeBits(v: Long, n: Int): Unit = {
    ensure(n)
    var i = n - 1
    while (i >= 0) {
      val bit = (v >>> i) & 1L
      if (bit != 0L) {
        val byteIdx = (bitPos >>> 3).toInt
        val shift = 7 - (bitPos & 7).toInt
        buf(byteIdx) = (buf(byteIdx) | (1 << shift)).toByte
      }
      bitPos += 1
      i -= 1
    }
  }

  def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, ((bitPos + 7) >>> 3).toInt)
}

final class BitReader(bytes: Array[Byte]) {
  private var bitPos = 0L

  def readBit(): Boolean = {
    val byteIdx = (bitPos >>> 3).toInt
    val shift = 7 - (bitPos & 7).toInt
    bitPos += 1
    ((bytes(byteIdx) >>> shift) & 1) != 0
  }

  /** Read `n` bits as an unsigned value in the low bits of a Long. */
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
