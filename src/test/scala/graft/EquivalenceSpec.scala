package graft

import graft.codec.{Gorilla, SegmentAgg}
import graft.gen.Synth
import graft.pivot.SeriesPivot

/** The PyReshaper-analog slice-to-series equivalence invariant
  * (BASELINE.json input_hint; SURVEY.md §5.1): pivot → decode must
  * reproduce the input exactly — per-turn text equality under stable
  * (conv_id, turn_idx) ordering, both directions (no loss, no
  * duplication, no reorder).
  */
class EquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val turns = Synth.tiny(spark).cache()
  private val cfg = RollupConfig(inputPath = "", outputRoot = "")

  test("synth fixture is non-trivial and deterministic") {
    val n = turns.count()
    assert(n > 500, s"fixture too small: $n")
    // re-generation yields identical rows (pure hash-based, no RNG state)
    assertSameRows(Synth.tiny(spark).toDF(), turns.toDF(), "synth determinism")
    // skew present: hottest conversation >> median
    val counts = turns.groupBy("conv_id").count().collect().map(_.getLong(1)).sorted
    assert(counts.last > counts(counts.length / 2) * 5, "expected skewed conv sizes")
  }

  test("pivot → decode reproduces input exactly (1h tier)") {
    val segs = SeriesPivot.segmentsSorted(turns, Tier.Hour, cfg)
    val decoded = SeriesPivot.decode(segs)
    assertSameRows(decoded.toDF(), turns.toDF(), "pivot roundtrip 1h")
  }

  test("pivot → decode reproduces input exactly (1d tier)") {
    val segs = SeriesPivot.segmentsSorted(turns, Tier.Day, cfg)
    assertSameRows(SeriesPivot.decode(segs).toDF(), turns.toDF(), "pivot roundtrip 1d")
  }

  test("pivot equals a plain-Scala reference pivot, segment for segment") {
    // reference: group collected turns by (conv_id, bucket), sort by
    // turn_idx, cut at maxPointsPerSegment, encode each chunk with Gorilla.
    // The pivot runs over an arbitrary re-partitioning, so this also pins
    // seq_no numbering and input-order invariance.
    val cap = 7
    val tier = Tier.Hour
    type Canon = (String, Long, Int, Int, Seq[Byte], Seq[Byte], Seq[Byte], Seq[Byte], Seq[Byte])
    val want: Seq[Canon] = turns.collect().toSeq
      .groupBy { t =>
        val sec = Math.floorDiv(SegmentAgg.toMicros(t.ts), 1000000L)
        (t.conv_id, Math.floorDiv(sec, tier.bucketSec) * tier.bucketSec)
      }
      .toSeq.flatMap { case ((convId, bucket), group) =>
        group.sortBy(_.turn_idx).grouped(cap).zipWithIndex.map { case (c, seqNo) =>
          (convId, bucket, seqNo, c.length,
            Gorilla.encodeTimestamps(c.map(t => SegmentAgg.toMicros(t.ts)).toArray).toSeq,
            Gorilla.encodeTimestamps(c.map(_.turn_idx.toLong).toArray).toSeq,
            Gorilla.encodeStrings(c.map(_.role).toArray).toSeq,
            Gorilla.encodeStrings(c.map(_.tool).toArray).toSeq,
            TextCodecRef.encodeTexts(c.map(_.text).toArray, cfg.deflateLevel).toSeq)
        }
      }
    val got: Seq[Canon] = SeriesPivot.segmentsSorted(turns.repartition(7), tier,
      cfg.copy(maxPointsPerSegment = cap)).collect().toSeq
      .map(s => (s.conv_id, s.bucket, s.seq_no, s.n, s.tsBlob.toSeq, s.idxBlob.toSeq,
        s.roleBlob.toSeq, s.toolBlob.toSeq, s.textBlob.toSeq))
    assert(got.exists(_._3 > 0), "fixture never splits a series")
    val key = (c: Canon) => (c._1, c._2, c._3)
    val gotByKey = got.map(c => key(c) -> c).toMap
    val differing = want.filterNot(w => gotByKey.get(key(w)).contains(w)).map(key)
    if (got.size != want.size || differing.nonEmpty)
      fail(s"${got.size} vs ${want.size} reference segments; differing keys: ${differing.take(5)}")
  }

  test("pivot is input-partitioning invariant") {
    val shuffled = turns.repartition(7) // arbitrary re-partitioning/order
    val a = SeriesPivot.decode(SeriesPivot.segmentsSorted(shuffled, Tier.Hour, cfg))
    assertSameRows(a.toDF(), turns.toDF(), "partitioning invariance")
  }

  test("segment split respects maxPointsPerSegment with consecutive seq_no") {
    val smallCap = cfg.copy(maxPointsPerSegment = 7)
    val segs = SeriesPivot.segmentsSorted(turns, Tier.Day, smallCap).cache()
    assert(segs.filter(_.n > 7).count() == 0, "segment over cap")
    val seqNos = segs.collect().groupBy(s => (s.conv_id, s.bucket))
      .values.map(_.map(_.seq_no).sorted.toSeq)
    assert(seqNos.exists(_.length > 1), "fixture never splits a series")
    val gapped = seqNos.filterNot(ns => ns == ns.indices)
    if (gapped.nonEmpty) fail(s"seq_no not 0..k-1: ${gapped.take(3)}")
    assertSameRows(SeriesPivot.decode(segs).toDF(), turns.toDF(), "split roundtrip")
  }

  test("compression: metadata blobs beat raw encoding on dense series") {
    // dense fixture: few conversations with many turns → long segments
    val dense = Synth.turns(spark, nConvs = 3, baseTurns = 4000, hotFactor = 1)
    val segs = SeriesPivot.segmentsSorted(dense, Tier.Day, cfg)
    val stats = SeriesPivot.compressionStats(segs).collect()(0)
    val tsBpp = stats.getAs[Double]("tsBytesPerPoint")
    val metaBpp = stats.getAs[Double]("metaBytesPerPoint")
    // raw encoding: 8B ts + 8B idx + ~5B role + ~2B tool ≈ 23 B/point
    assert(tsBpp < 4.0, s"ts bytes/point $tsBpp")
    assert(metaBpp < 8.0, s"metadata bytes/point $metaBpp")
  }

  test("compression golden: exact blob bytes on the pinned dense fixture") {
    // segment_stats has no SQL oracle (blob-byte accounting isn't
    // SQL-expressible), so this is its correctness anchor: EXACT per-blob
    // byte totals on a pinned deterministic fixture, verified
    // parallelism-invariant (same totals at local[4]/16 parts and
    // local[13]/7 parts when recorded). Any unintended codec change —
    // bit layout, deflate level, dictionary order, split boundaries —
    // moves at least one of these numbers.
    val dense = Synth.turns(spark, nConvs = 3, baseTurns = 4000, hotFactor = 1)
    val segs = SeriesPivot.segmentsSorted(dense, Tier.Day, cfg)
    import org.apache.spark.sql.functions._
    val r = segs.toDF().agg(
      sum("n"), count(lit(1)),
      sum(length(col("tsBlob"))), sum(length(col("idxBlob"))),
      sum(length(col("roleBlob"))), sum(length(col("toolBlob"))),
      sum(length(col("textBlob")))).head()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6))
    val golden = (9166L, 9L, 10628L, 1941L, 9373L, 9332L, 187989L)
    assert(got == golden,
      s"(points, segs, ts, idx, role, tool, text) bytes drifted: $got != $golden")
  }
}
