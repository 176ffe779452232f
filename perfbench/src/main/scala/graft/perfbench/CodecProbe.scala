package graft.perfbench

import graft.Segment
import graft.codec.Gorilla
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Per-stream codec throughput, measured single-threaded on the calling thread by
  * calling `Gorilla`'s public encode/decode functions directly on a fixed,
  * seed-determined sample of the job's segments.
  *
  * MB/s is raw (decoded) bytes per second: 8 bytes per timestamp and per
  * turn index (the encoder's `Long` input), UTF-8 bytes for role, tool and
  * text. bytes_per_point is encoded bytes over points.
  */
object CodecProbe {
  val SampleSegments = 96
  /** each measurement repeats its loop until this much time has passed */
  val MinLoopS = 0.05
  val Repeats = 5

  final case class Columns(ts: Array[Array[Long]], idx: Array[Array[Long]],
      role: Array[Array[String]], tool: Array[Array[String]],
      text: Array[Array[Array[Byte]]]) {
    def points: Long = ts.map(_.length.toLong).sum
  }

  def sample(segs: Dataset[Segment], seed: Long): Columns = {
    val picked = segs.orderBy(xxhash64(lit(seed), col("conv_id"), col("bucket"), col("seq_no")))
      .limit(SampleSegments).collect()
    Columns(
      picked.map(s => Gorilla.decodeTimestamps(s.tsBlob)),
      picked.map(s => Gorilla.decodeTimestamps(s.idxBlob)),
      picked.map(s => Gorilla.decodeStrings(s.roleBlob)),
      picked.map(s => Gorilla.decodeStrings(s.toolBlob)),
      picked.map(s => Gorilla.decodeTexts(s.textBlob).map(_.getBytes(UTF_8))))
  }

  /** Median over [[Repeats]] of seconds per call of `f` over all segments. */
  private def secondsPerPass(f: () => Unit): Double = {
    f() // warm
    Stats.median((1 to Repeats).map { _ =>
      var n = 0
      val t0 = System.nanoTime()
      var el = 0.0
      while (el < MinLoopS) { f(); n += 1; el = (System.nanoTime() - t0) / 1e9 }
      el / n
    })
  }

  private def stream(name: String, rawBytes: Long, points: Long,
      encode: () => Array[Array[Byte]], decode: Array[Array[Byte]] => Unit)
      : Seq[(String, Double)] = {
    val blobs = encode()
    val mb = rawBytes / 1e6
    Seq(
      s"codec.$name.encode_mb_s" -> mb / secondsPerPass(() => encode()),
      s"codec.$name.decode_mb_s" -> mb / secondsPerPass(() => decode(blobs)),
      s"codec.$name.bytes_per_point" -> blobs.map(_.length.toLong).sum.toDouble / points)
  }

  private def strBytes(vs: Array[Array[String]]): Long =
    vs.map(_.map(s => if (s == null) 0L else s.getBytes(UTF_8).length.toLong).sum).sum

  def run(segs: Dataset[Segment], seed: Long, deflateLevel: Int): Seq[(String, Double)] = {
    val c = sample(segs, seed)
    val pts = c.points
    val textBytes = c.text.map(_.map(_.length.toLong).sum).sum
    val textBlobs = c.text.map(t => Gorilla.encodeTextBytes(t, deflateLevel))
    stream("ts", 8 * pts, pts, () => c.ts.map(Gorilla.encodeTimestamps),
      _.foreach(Gorilla.decodeTimestamps)) ++
    stream("idx", 8 * pts, pts, () => c.idx.map(Gorilla.encodeTimestamps),
      _.foreach(Gorilla.decodeTimestamps)) ++
    stream("role", strBytes(c.role), pts, () => c.role.map(Gorilla.encodeStrings),
      _.foreach(Gorilla.decodeStrings)) ++
    stream("tool", strBytes(c.tool), pts, () => c.tool.map(Gorilla.encodeStrings),
      _.foreach(Gorilla.decodeStrings)) ++
    stream("text", textBytes, pts, () => c.text.map(Gorilla.encodeTextBytes(_, deflateLevel)),
      _.foreach(Gorilla.decodeTexts)) :+
    ("codec.text.point_counts_mb_s" ->
      textBytes / 1e6 / secondsPerPass(() => textBlobs.foreach(Gorilla.decodeTextPointCounts)))
  }
}
