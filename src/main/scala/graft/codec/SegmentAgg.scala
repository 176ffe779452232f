package graft.codec

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Lossless `java.sql.Timestamp` ↔ epoch-µs conversions, the timestamp
  * representation inside every segment's `tsBlob`.
  */
object SegmentAgg {
  /** Epoch MICROseconds — full Spark TimestampType precision (getTime alone
    * truncates to millis, which would break the per-turn equality invariant
    * on µs-resolution inputs).
    */
  def toMicros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}

/** Numeric-series segment aggregate: (tsMicros, value) → DoD + Gorilla-XOR blobs.
  * Used for metric series (e.g. the events table's `value` column).
  *
  * `leastSignificantDigit` is the engine's analog of the reference's lossy
  * truncation knob (`specification.py :: Specifier` least_significant_digit
  * on the netcdf4c path): when set to d, values are quantized to the
  * power-of-two grid just finer than 10^-d before XOR encoding — the
  * netCDF4 bit-grooming rule `rint(v·2^ceil(d·log2(10))) / 2^…` — which
  * zeroes trailing mantissa bits so the XOR codec's meaningful-bit windows
  * collapse. Deliberately LOSSY (error ≤ 0.5·10^-d); default None is the
  * lossless path.
  */
case class ValuePoint(ts: Long, value: Double)
case class ValueBuf(ts: Vector[Long], value: Vector[Double])
case class ValueBlobs(n: Int, tsBlob: Array[Byte], valBlob: Array[Byte])

class ValueSegAgg(leastSignificantDigit: Option[Int] = None)
    extends Aggregator[ValuePoint, ValueBuf, ValueBlobs] with Serializable {
  private val scaleOpt: Option[Double] = leastSignificantDigit.map { d =>
    math.pow(2.0, math.ceil(d * (math.log(10.0) / math.log(2.0))))
  }
  private def quantize(v: Double): Double = scaleOpt match {
    case Some(s) => math.rint(v * s) / s // NaN/Inf pass through unchanged
    case None => v
  }
  override def zero: ValueBuf = ValueBuf(Vector.empty, Vector.empty)
  override def reduce(b: ValueBuf, p: ValuePoint): ValueBuf =
    ValueBuf(b.ts :+ p.ts, b.value :+ p.value)
  override def merge(a: ValueBuf, b: ValueBuf): ValueBuf =
    ValueBuf(a.ts ++ b.ts, a.value ++ b.value)
  override def finish(b: ValueBuf): ValueBlobs = {
    val order = b.ts.indices.sortBy(i => (b.ts(i), b.value(i)))
    ValueBlobs(order.length,
      Gorilla.encodeTimestamps(order.map(b.ts(_)).toArray),
      Gorilla.encodeValues(order.map(i => quantize(b.value(i))).toArray))
  }
  override def bufferEncoder: Encoder[ValueBuf] = Encoders.product[ValueBuf]
  override def outputEncoder: Encoder[ValueBlobs] = Encoders.product[ValueBlobs]
}
