package graft.pivot

import graft.{RollupConfig, Segment, Tier, Turn}
import graft.codec.{Gorilla, SegmentAgg}
import graft.rollup.Rollups
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Byte-level sort row of the streaming pivot: `text` stays UTF-8 bytes and
  * `ts` stays epoch-µs from the columnar scan to the deflate encoder — no
  * per-turn String or Timestamp materialization anywhere in the hot path
  * (the ~1 KB text would otherwise be transcoded UTF8String→String→UTF-8,
  * two copies + a char[] allocation per turn, which dominates GC at high
  * thread counts).
  */
case class TurnB(conv_id: String, turn_idx: Int, role: String, tool: String,
    textB: Array[Byte], tsu: Long, _bucket: Long)

/** The slice→series pivot (the PyReshaper core, generalized per
  * BASELINE.json north_star): input rows arrive partitioned by TIME
  * (the "slice" layout — all conversations interleaved), output is
  * partitioned by SERIES `(conv_id, bucket)` with each series' turns
  * pivoted into one or more compressed columnar segments — the analog of
  * `reshaper.py :: Slice2SeriesReshaper.convert` turning N time-slice
  * files into one file per variable.
  *
  * One physical strategy, [[segmentsSorted]]: a hash exchange on
  * `(conv_id, bucket)` (the weight-balanced work distribution of the
  * reference, `asaptools.partition.WeightBalanced`, falls out of hash
  * partitioning + AQE), an in-partition Tungsten sort on `turn_idx`, and a
  * streaming encoder that cuts segments at `maxPointsPerSegment`, so a hot
  * conversation never needs more than one segment's worth of memory.
  */
object SeriesPivot {

  /** Sort-based streaming pivot (SURVEY.md
    * §2.6 X1): hash-repartition on (conv_id, bucket), Tungsten
    * sortWithinPartitions (spillable, no per-row object buffers), then a
    * single streaming mapPartitions that cuts segments at group boundaries
    * and at `maxPointsPerSegment`.
    *
    * One shuffle of the raw rows, each row touched once, one encode per
    * segment. Memory is bounded by maxPointsPerSegment regardless of how
    * hot a conversation is, so this handles skew WITHOUT salting.
    */
  def segmentsSorted(turns: Dataset[Turn], tier: Tier, cfg: RollupConfig): Dataset[Segment] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val bucketSec = tier.bucketSec
    val withBucket = turns
      .select(
        col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        encode(col("text"), "UTF-8").as("textB"),
        // cast: the events queries pass TIMESTAMP_NTZ, read as UTC wall
        // clock in their UTC session; the job's input is TIMESTAMP (Validate)
        unix_micros(col("ts").cast("timestamp")).as("tsu"),
        Rollups.bucketOf(col("ts"), bucketSec).as("_bucket"))
      .repartition(col("conv_id"), col("_bucket"))
      .sortWithinPartitions(col("conv_id"), col("_bucket"), col("turn_idx"))
      .as[TurnB]
    withBucket.mapPartitions { it =>
      new Iterator[Segment] {
        private val pending = scala.collection.mutable.Queue.empty[Segment]
        private var cur: TurnB = _
        private var curKey: (String, Long) = _
        private val idx = scala.collection.mutable.ArrayBuffer.empty[Int]
        private val ts = scala.collection.mutable.ArrayBuffer.empty[Long]
        private val role = scala.collection.mutable.ArrayBuffer.empty[String]
        private val tool = scala.collection.mutable.ArrayBuffer.empty[String]
        private val text = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        private var seqNo = 0

        private def flush(): Unit = {
          if (idx.nonEmpty) {
            pending.enqueue(Segment(curKey._1, tier.name, curKey._2, seqNo, idx.length,
              Gorilla.encodeTimestamps(ts.toArray),
              Gorilla.encodeTimestamps(idx.map(_.toLong).toArray),
              Gorilla.encodeStrings(role.toArray),
              Gorilla.encodeStrings(tool.toArray),
              Gorilla.encodeTextBytes(text.toArray, cfg.deflateLevel)))
            idx.clear(); ts.clear(); role.clear(); tool.clear(); text.clear()
            seqNo += 1
          }
        }

        private def advance(): Unit = {
          while (pending.isEmpty && it.hasNext) {
            cur = it.next()
            val key = (cur.conv_id, cur._bucket)
            if (curKey == null) curKey = key
            if (key != curKey) { flush(); curKey = key; seqNo = 0 }
            else if (idx.length >= cfg.maxPointsPerSegment) flush()
            idx += cur.turn_idx
            ts += cur.tsu
            role += cur.role
            tool += cur.tool
            text += cur.textB
          }
          if (pending.isEmpty && !it.hasNext) flush()
        }

        override def hasNext: Boolean = { advance(); pending.nonEmpty }
        override def next(): Segment = { advance(); pending.dequeue() }
      }
    }
  }

  /** Decode segments back to turns — the inverse pivot, used by the
    * equivalence invariant (per-turn text equality, BASELINE.json
    * input_hint) and by verification queries. Distributed flatMap; each
    * segment decodes independently.
    */
  def decode(segments: Dataset[Segment]): Dataset[Turn] = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments.flatMap { s =>
      val ts = Gorilla.decodeTimestamps(s.tsBlob)
      val idx = Gorilla.decodeTimestamps(s.idxBlob)
      val role = Gorilla.decodeStrings(s.roleBlob)
      val tool = Gorilla.decodeStrings(s.toolBlob)
      val text = Gorilla.decodeTexts(s.textBlob)
      Array.tabulate(s.n) { i =>
        Turn(s.conv_id, idx(i).toInt, role(i), text(i), tool(i),
          SegmentAgg.fromMicros(ts(i)))
      }
    }
  }

  /** Compression accounting: bytes/point per blob kind (the engine's analog
    * of the reference's Requested/Actual byte diagnostics,
    * `reshaper.py :: print_diagnostics`).
    */
  def compressionStats(segments: Dataset[Segment]): org.apache.spark.sql.DataFrame = {
    segments.toDF()
      .agg(
        sum("n").as("points"),
        sum(length(col("tsBlob"))).as("tsBytes"),
        sum(length(col("idxBlob"))).as("idxBytes"),
        sum(length(col("roleBlob"))).as("roleBytes"),
        sum(length(col("toolBlob"))).as("toolBytes"),
        sum(length(col("textBlob"))).as("textBytes"))
      .select(col("points"),
        (col("tsBytes") / col("points")).as("tsBytesPerPoint"),
        (col("idxBytes") / col("points")).as("idxBytesPerPoint"),
        (col("roleBytes") / col("points")).as("roleBytesPerPoint"),
        (col("toolBytes") / col("points")).as("toolBytesPerPoint"),
        (col("textBytes") / col("points")).as("textBytesPerPoint"),
        ((col("tsBytes") + col("idxBytes") + col("roleBytes") + col("toolBytes"))
          / col("points")).as("metaBytesPerPoint"))
  }
}
