package graft.codec

import java.nio.charset.StandardCharsets
import java.util.zip.{DataFormatException, Deflater, Inflater}
import scala.collection.mutable.ArrayBuffer

/** Gorilla-style compression codecs (public algorithm: Pelkonen et al.,
  * "Gorilla: A Fast, Scalable, In-Memory Time Series Database", VLDB 2015):
  *
  *  - [[encodeTimestamps]]/[[decodeTimestamps]]: delta-of-delta (DoD)
  *    integer compression for monotone-ish long sequences (epoch micros,
  *    turn_idx).
  *  - [[encodeValues]]/[[decodeValues]]: XOR float compression for doubles.
  *  - [[encodeStrings]]/[[decodeStrings]]: dictionary coding for small-vocab
  *    strings (role/tool).
  *  - [[encodeTextBytes]]/[[decodeTexts]]: varint-length-prefixed UTF-8 +
  *    deflate — the analog of the reference's file-level deflate
  *    (`iobackend.py :: NCFile(mode='w', compression=…)`, netcdf4c).
  *
  * All methods are lossless round-trips (property-tested in
  * CodecPropsSpec). Pure Scala/JDK — runs inside executor tasks (the
  * pivot's per-segment encode, the fold's and the SQL functions' decode).
  */
object Gorilla {

  // ---------------------------------------------------------------- DoD ---

  /** Delta-of-delta encode. Header: 32-bit count; then first value (64b),
    * first delta (zigzag, 64b); then per element one of:
    *   '0'                   dod == 0
    *   '10'     + 7  bits    dod in [-63, 64]
    *   '110'    + 9  bits    dod in [-255, 256]
    *   '1110'   + 12 bits    dod in [-2047, 2048]
    *   '11110'  + 18 bits    dod in [-131071, 131072]
    *   '111110' + 26 bits    dod in [-33554431, 33554432]
    *   '111111' + 64 bits    raw dod
    * (bucket scheme per the Gorilla paper §4.1.1, extended with 18/26-bit
    * buckets for millisecond-resolution jitter, and a 64-bit escape so
    * arbitrary longs are safe).
    */
  def encodeTimestamps(ts0: Array[Long]): Array[Byte] = {
    val w = new BitWriter(ts0.length * 2 + 16)
    w.writeBits(ts0.length.toLong, 32)
    if (ts0.length == 0) return w.toBytes
    // segment-level resolution detection: epoch-µs values that are whole
    // seconds (or whole millis) divide out their scale, keeping DoDs inside
    // the small bit buckets (2-bit scale code: 0→1, 1→10^3, 2→10^6)
    val scaleCode =
      if (ts0.forall(_ % 1000000L == 0)) 2
      else if (ts0.forall(_ % 1000L == 0)) 1
      else 0
    val div = scaleCode match { case 2 => 1000000L; case 1 => 1000L; case _ => 1L }
    val ts = if (div == 1L) ts0 else ts0.map(_ / div)
    w.writeBits(scaleCode.toLong, 2)
    w.writeBits(ts(0), 64)
    if (ts.length == 1) return w.toBytes
    var prevDelta = ts(1) - ts(0)
    w.writeBits(prevDelta, 64)
    var i = 2
    while (i < ts.length) {
      val delta = ts(i) - ts(i - 1)
      val dod = delta - prevDelta
      if (dod == 0L) w.writeBit(false)
      else if (dod >= -63 && dod <= 64) { w.writeBits(0x2L, 2); w.writeBits(dod + 63, 7) }
      else if (dod >= -255 && dod <= 256) { w.writeBits(0x6L, 3); w.writeBits(dod + 255, 9) }
      else if (dod >= -2047 && dod <= 2048) { w.writeBits(0xeL, 4); w.writeBits(dod + 2047, 12) }
      else if (dod >= -131071 && dod <= 131072) { w.writeBits(0x1eL, 5); w.writeBits(dod + 131071, 18) }
      else if (dod >= -33554431 && dod <= 33554432) { w.writeBits(0x3eL, 6); w.writeBits(dod + 33554431, 26) }
      else { w.writeBits(0x3fL, 6); w.writeBits(dod, 64) }
      prevDelta = delta
      i += 1
    }
    w.toBytes
  }

  def decodeTimestamps(blob: Array[Byte]): Array[Long] = {
    val r = new BitReader(blob)
    val n = r.readBits(32).toInt
    val out = new Array[Long](n)
    if (n == 0) return out
    val scaleCode = r.readBits(2).toInt
    val mul = scaleCode match { case 2 => 1000000L; case 1 => 1000L; case _ => 1L }
    out(0) = r.readBits(64)
    if (n == 1) { out(0) *= mul; return out }
    var prevDelta = r.readBits(64)
    out(1) = out(0) + prevDelta
    var i = 2
    while (i < n) {
      val dod =
        if (!r.readBit()) 0L
        else if (!r.readBit()) r.readBits(7) - 63
        else if (!r.readBit()) r.readBits(9) - 255
        else if (!r.readBit()) r.readBits(12) - 2047
        else if (!r.readBit()) r.readBits(18) - 131071
        else if (!r.readBit()) r.readBits(26) - 33554431
        else r.readBits(64)
      val delta = prevDelta + dod
      out(i) = out(i - 1) + delta
      prevDelta = delta
      i += 1
    }
    if (mul != 1L) { i = 0; while (i < n) { out(i) *= mul; i += 1 } }
    out
  }

  // ---------------------------------------------------------- XOR floats ---

  /** Gorilla XOR encode for doubles (paper §4.1.2). Header: 32-bit count,
    * first value raw 64b. Then per value:
    *   '0'        — identical to previous (XOR == 0)
    *   '10' + meaningful bits within the previous (leading, length) window
    *   '11' + 5-bit leading-zero count + 6-bit (sigBits-1) + sigBits
    */
  def encodeValues(vs: Array[Double]): Array[Byte] = {
    val w = new BitWriter(vs.length * 4 + 16)
    w.writeBits(vs.length.toLong, 32)
    if (vs.length == 0) return w.toBytes
    var prev = java.lang.Double.doubleToRawLongBits(vs(0))
    w.writeBits(prev, 64)
    var prevLead = -1
    var prevSig = -1
    var i = 1
    while (i < vs.length) {
      val cur = java.lang.Double.doubleToRawLongBits(vs(i))
      val xor = cur ^ prev
      if (xor == 0L) w.writeBit(false)
      else {
        w.writeBit(true)
        var lead = java.lang.Long.numberOfLeadingZeros(xor)
        if (lead > 31) lead = 31 // 5-bit field
        val trail = java.lang.Long.numberOfTrailingZeros(xor)
        val sig = 64 - lead - trail
        if (prevLead >= 0 && lead >= prevLead && (64 - prevLead - prevSig) <= trail) {
          // fits in the previous window
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
      prev = cur
      i += 1
    }
    w.toBytes
  }

  def decodeValues(blob: Array[Byte]): Array[Double] = {
    val r = new BitReader(blob)
    val n = r.readBits(32).toInt
    val out = new Array[Double](n)
    if (n == 0) return out
    var prev = r.readBits(64)
    out(0) = java.lang.Double.longBitsToDouble(prev)
    var lead = 0
    var sig = 0
    var i = 1
    while (i < n) {
      if (!r.readBit()) out(i) = java.lang.Double.longBitsToDouble(prev)
      else {
        if (r.readBit()) {
          lead = r.readBits(5).toInt
          sig = r.readBits(6).toInt + 1
        }
        val bits = r.readBits(sig) << (64 - lead - sig)
        prev = prev ^ bits
        out(i) = java.lang.Double.longBitsToDouble(prev)
      }
      i += 1
    }
    out
  }

  // -------------------------------------------------------------- varint ---

  def writeVarInt(out: ArrayBuffer[Byte], value0: Int): Unit = {
    var value = value0
    while ((value & ~0x7f) != 0) {
      out += ((value & 0x7f) | 0x80).toByte
      value >>>= 7
    }
    out += value.toByte
  }

  final class ByteCursor(val bytes: Array[Byte]) { var pos = 0 }

  def readVarInt(c: ByteCursor): Int = {
    var shift = 0
    var result = 0
    var b = 0
    do {
      b = c.bytes(c.pos) & 0xff
      c.pos += 1
      result |= (b & 0x7f) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    result
  }

  // ---------------------------------------------------------- dictionary ---

  /** Dictionary-encode small-vocab strings (role/tool). Layout:
    * varint dictSize; per entry varint len + UTF-8; varint count; per value
    * varint code (0 = null, else dictIndex+1).
    */
  def encodeStrings(vs: Array[String]): Array[Byte] = {
    val dict = ArrayBuffer[String]()
    val index = scala.collection.mutable.HashMap[String, Int]()
    val codes = new Array[Int](vs.length)
    var i = 0
    while (i < vs.length) {
      val v = vs(i)
      if (v == null) codes(i) = 0
      else codes(i) = index.getOrElseUpdate(v, { dict += v; dict.length }) // 1-based
      i += 1
    }
    val out = ArrayBuffer[Byte]()
    writeVarInt(out, dict.length)
    dict.foreach { s =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      writeVarInt(out, b.length)
      out ++= b
    }
    writeVarInt(out, vs.length)
    codes.foreach(writeVarInt(out, _))
    out.toArray
  }

  def decodeStrings(blob: Array[Byte]): Array[String] = {
    val c = new ByteCursor(blob)
    val dictSize = readVarInt(c)
    val dict = new Array[String](dictSize)
    var i = 0
    while (i < dictSize) {
      val len = readVarInt(c)
      dict(i) = new String(blob, c.pos, len, StandardCharsets.UTF_8)
      c.pos += len
      i += 1
    }
    val n = readVarInt(c)
    val out = new Array[String](n)
    i = 0
    while (i < n) {
      val code = readVarInt(c)
      out(i) = if (code == 0) null else dict(code - 1)
      i += 1
    }
    out
  }

  // ------------------------------------------------------------ text blob ---

  // Deflater/Inflater are expensive to construct (native zlib state); the
  // encoder runs once per segment inside executor tasks, so reuse per
  // (thread, level) with reset()
  private val deflaters = new ThreadLocal[java.util.HashMap[Int, Deflater]] {
    override def initialValue() = new java.util.HashMap[Int, Deflater]()
  }
  private val inflaters = new ThreadLocal[Inflater] {
    override def initialValue() = new Inflater()
  }

  /** Length-prefixed UTF-8 concat, deflate-compressed. Layout: 4-byte
    * big-endian raw length, then the deflated raw payload: varint count,
    * per text varint byte length, then the texts' bytes. Null encodes as
    * empty (transcripts never have null text per input_hint). The caller
    * supplies UTF-8 bytes: this is the hot path of the sort-based pivot,
    * so text never materializes as a java.lang.String between the columnar
    * scan and the deflate stream.
    */
  def encodeTextBytes(vs: Array[Array[Byte]], level: Int = 6): Array[Byte] = {
    val head = ArrayBuffer[Byte]()
    writeVarInt(head, vs.length)
    val body = new java.io.ByteArrayOutputStream(1024)
    var i = 0
    while (i < vs.length) {
      val b = if (vs(i) == null) Array.emptyByteArray else vs(i)
      writeVarInt(head, b.length)
      body.write(b)
      i += 1
    }
    val raw = new Array[Byte](head.length + body.size())
    System.arraycopy(head.toArray, 0, raw, 0, head.length)
    System.arraycopy(body.toByteArray, 0, raw, head.length, body.size())
    var deflater = deflaters.get().get(level)
    if (deflater == null) {
      deflater = new Deflater(level)
      deflaters.get().put(level, deflater)
    } else deflater.reset()
    deflater.setInput(raw)
    deflater.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 16)
    val chunk = new Array[Byte](8192)
    while (!deflater.finished()) out.write(chunk, 0, deflater.deflate(chunk))
    val compressed = out.toByteArray
    val res = new Array[Byte](4 + compressed.length)
    res(0) = (raw.length >>> 24).toByte
    res(1) = (raw.length >>> 16).toByte
    res(2) = (raw.length >>> 8).toByte
    res(3) = raw.length.toByte
    System.arraycopy(compressed, 0, res, 4, compressed.length)
    res
  }

  /** Inflate a text blob and return (raw bytes, per-text lengths, cursor
    * positioned at the first text's bytes).
    */
  private def inflateTexts(blob: Array[Byte]): (Array[Byte], Array[Int], ByteCursor) = {
    val rawLen = ((blob(0) & 0xff) << 24) | ((blob(1) & 0xff) << 16) |
      ((blob(2) & 0xff) << 8) | (blob(3) & 0xff)
    val inflater = inflaters.get()
    inflater.reset()
    inflater.setInput(blob, 4, blob.length - 4)
    val raw = new Array[Byte](rawLen)
    var off = 0
    while (off < rawLen && !inflater.finished()) {
      val n = inflater.inflate(raw, off, rawLen - off)
      // a truncated or corrupt stream stalls (needsInput) instead of ending
      if (n == 0 && (inflater.needsInput() || inflater.needsDictionary()))
        throw new DataFormatException(s"text blob truncated at $off of $rawLen bytes")
      off += n
    }
    if (off < rawLen)
      throw new DataFormatException(s"text blob inflates to $off of $rawLen bytes")
    val c = new ByteCursor(raw)
    val n = readVarInt(c)
    val lens = new Array[Int](n)
    var i = 0
    while (i < n) { lens(i) = readVarInt(c); i += 1 }
    (raw, lens, c)
  }

  def decodeTexts(blob: Array[Byte]): Array[String] = {
    val (raw, lens, c) = inflateTexts(blob)
    val out = new Array[String](lens.length)
    var i = 0
    while (i < lens.length) {
      out(i) = new String(raw, c.pos, lens(i), StandardCharsets.UTF_8)
      c.pos += lens(i)
      i += 1
    }
    out
  }

  /** Per-text Unicode code-point counts, straight from the UTF-8 bytes
    * (count of non-continuation bytes — equals `String.codePointCount` and
    * Spark's `length()` semantics, supplementary planes included). Lets the
    * rollup cube compute text-length stats without allocating one String
    * per turn.
    */
  def decodeTextPointCounts(blob: Array[Byte]): Array[Int] = {
    val (raw, lens, c) = inflateTexts(blob)
    val out = new Array[Int](lens.length)
    var i = 0
    while (i < lens.length) {
      var cnt = 0
      var j = c.pos
      val end = c.pos + lens(i)
      while (j < end) {
        if ((raw(j) & 0xc0) != 0x80) cnt += 1
        j += 1
      }
      out(i) = cnt
      c.pos = end
      i += 1
    }
    out
  }
}
