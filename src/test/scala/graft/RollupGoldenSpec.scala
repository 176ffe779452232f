package graft

import graft.gen.Synth
import graft.rollup.{GapFill, Rollups}
import org.apache.spark.sql.Row

/** Golden tests (SURVEY.md §5.2): engine tier outputs exactly equal a
  * single-node reference implementation (plain Scala over collected rows —
  * the analog of PyReshaper's `serial=True` mode, `s2srun -s`). Also the
  * cascade law: re-aggregating tier T into coarser T' equals computing T'
  * from raw.
  */
class RollupGoldenSpec extends SparkSpec {
  import spark.implicits._

  private lazy val turns = Synth.tiny(spark).cache()

  /** Single-node reference: the spec, written naively. */
  private def reference(tier: Tier): Seq[RollupPoint] = {
    val rows = turns.collect()
    rows.groupBy(t => (t.conv_id,
        Math.floorDiv(t.ts.getTime / 1000L, tier.bucketSec) * tier.bucketSec))
      .map { case ((cid, bucket), ts) =>
        RollupPoint(
          conv_id = cid, tier = tier.name, bucket = bucket,
          turns = ts.length.toLong,
          byRole = ts.groupBy(_.role).map { case (r, g) => r -> g.length.toLong },
          byTool = ts.filter(_.tool != null).groupBy(_.tool)
            .map { case (r, g) => r -> g.length.toLong },
          textLenSum = ts.map(_.text.length.toLong).sum,
          textLenMin = ts.map(_.text.length).min,
          textLenMax = ts.map(_.text.length).max,
          filled = false)
      }.toSeq
  }

  private def asComparable(df: org.apache.spark.sql.DataFrame) =
    df.as[RollupPoint].collect()
      .map(p => (p.conv_id, p.tier, p.bucket, p.turns,
        p.byRole.toSeq.sorted, p.byTool.toSeq.sorted,
        p.textLenSum, p.textLenMin, p.textLenMax, p.filled))
      .sortBy(t => (t._1, t._3)).toSeq

  test("1m points exactly match single-node reference") {
    val got = asComparable(Rollups.points(Rollups.cube(turns, Tier.Minute), "1m"))
    val want = reference(Tier.Minute)
      .map(p => (p.conv_id, p.tier, p.bucket, p.turns, p.byRole.toSeq.sorted,
        p.byTool.toSeq.sorted, p.textLenSum, p.textLenMin, p.textLenMax, p.filled))
      .sortBy(t => (t._1, t._3))
    assert(got == want)
  }

  test("cascade 1m→1h→1d equals direct computation at each tier") {
    val c1m = Rollups.cube(turns, Tier.Minute)
    val c1h = Rollups.cascadeCube(c1m, Tier.Hour)
    val c1d = Rollups.cascadeCube(c1h, Tier.Day)
    assert(asComparable(Rollups.points(c1h, "1h")) ==
      asComparable(Rollups.points(Rollups.cube(turns, Tier.Hour), "1h")))
    assert(asComparable(Rollups.points(c1d, "1d")) ==
      asComparable(Rollups.points(Rollups.cube(turns, Tier.Day), "1d")))
  }

  test("1d points exactly match single-node reference via full cascade") {
    val tiers = Rollups.allTiers(turns, Tier.cascade)
    val got = asComparable(tiers("1d"))
    val want = reference(Tier.Day)
      .map(p => (p.conv_id, p.tier, p.bucket, p.turns, p.byRole.toSeq.sorted,
        p.byTool.toSeq.sorted, p.textLenSum, p.textLenMin, p.textLenMax, p.filled))
      .sortBy(t => (t._1, t._3))
    assert(got == want)
  }

  test("one-pass fold from segments equals the reference cascade at every tier") {
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val midnight = 1700006400L // 2023-11-15T00:00:00Z
    // a conversation across midnight (two conv-days) with null role, tool
    // and text and 4-byte UTF-8 (U+1F600, one code point, two UTF-16 chars)
    val edge = Seq(
      Turn("edge", 0, null, "no role", "search", at(midnight - 70)),
      Turn("edge", 1, "user", null, null, at(midnight - 65)),
      Turn("edge", 2, "assistant", "a\uD83D\uDE00b", null, at(midnight - 10)),
      Turn("edge", 3, "user", "\uD83D\uDE00", null, at(midnight + 5)),
      Turn("edge", 4, null, null, null, at(midnight + 3600)),
      Turn("edge", 5, "tool", "x", "search", at(midnight + 3610)))
    val all = turns.union(edge.toDS()).cache()
    // small segments: one conv-day spans several segments
    val segs = pivot.SeriesPivot.segmentsSorted(all, Tier.Day,
      RollupConfig("", "", maxPointsPerSegment = 7)).cache()
    assert(segs.filter($"seq_no" > 0).count() > 0, "no conv-day spans two segments")
    val folded = Rollups.pointsFromSegments(segs, Tier.cascade).toDF().cache()
    // the text codec stores a null text as "" (length 0): the reference
    // sees the text column as the segments carry it
    val asStored = all.map(t => if (t.text == null) t.copy(text = "") else t)
    Tier.cascade.foreach { tier =>
      assert(asComparable(folded.filter($"tier" === tier.name)) ==
        asComparable(Rollups.points(Rollups.cube(asStored, tier), tier.name)),
        s"tier ${tier.name}")
    }
    val edgeDay = folded.filter($"conv_id" === "edge" && $"tier" === "1d")
      .as[RollupPoint].collect().sortBy(_.bucket).toSeq
    assert(edgeDay.map(p => (p.bucket, p.turns, p.textLenSum, p.textLenMin)) ==
      Seq((midnight - 86400, 3L, 10L, 0), (midnight, 3L, 2L, 0)))
    assert(edgeDay.head.byRole == Map("assistant" -> 1L, "user" -> 1L) &&
      edgeDay.head.byTool == Map("search" -> 1L))
    Seq(folded, segs, all).foreach(_.unpersist())
  }

  test("one-pass fold rejects tiers that do not nest in the pivot tier") {
    val segs = pivot.SeriesPivot.segmentsSorted(turns, Tier.Day, RollupConfig("", ""))
    intercept[IllegalArgumentException] {
      Rollups.pointsFromSegments(segs, Seq(Tier("7m", 420L, -1L), Tier.Day))
    }
  }

  test("as-of join: latest at-or-before snapshot per key, nulls before first") {
    import org.apache.spark.sql.functions._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val quotes = Seq(("a", t(10), 1L, 10.0), ("a", t(20), 2L, 20.0))
      .toDF("k", "ts", "qid", "qv")
    val evs = Seq(("a", t(5), 100L), ("a", t(10), 101L), ("a", t(15), 102L),
      ("a", t(25), 103L), ("b", t(50), 200L)).toDF("k", "ts", "eid")
    val got = graft.rollup.AsOf.joinAsOf(evs, quotes, "k", "ts", Seq("qid", "qv"))
      .select("eid", "asof_qid").as[(Long, Option[Long])].collect().toMap
    assert(got == Map(100L -> None, 101L -> Some(1L), 102L -> Some(1L),
      103L -> Some(2L), 200L -> None), s"got $got")
    // left-outer: row count preserved — also exercises a left frame with
    // ONLY (key, ts) columns besides the id (empty carried-struct path)
    assert(graft.rollup.AsOf.joinAsOf(evs, quotes, "k", "ts", Seq("qid"))
      .count() == evs.count())
    // a null-ts snapshot must match nothing (DuckDB ASOF semantics), not
    // sort nulls-first and fill every row
    val nullQuote = Seq(("a", Option.empty[java.sql.Timestamp], 9L, 9.0))
      .toDF("k", "ts", "qid", "qv")
    val gotN = graft.rollup.AsOf.joinAsOf(evs, nullQuote, "k", "ts", Seq("qid"))
      .select("eid", "asof_qid").as[(Long, Option[Long])].collect().toMap
    assert(gotN.values.forall(_.isEmpty), s"null-ts snapshot leaked: $gotN")
  }

  test("interval join: exact containment, overlaps multiply, bucket spans work") {
    val pts = Seq((1L, 5L, 10L), (1L, 250L, 11L), (2L, 50L, 12L))
      .toDF("k", "ts_sec", "pid")
    val ivs = Seq((1L, 0L, 100L, 20L), (1L, 240L, 260L, 21L),
      (1L, 4L, 6L, 22L), (2L, 500L, 600L, 23L))
      .toDF("k", "start_sec", "end_sec", "iid")
    val got = graft.rollup.AsOf.intervalJoin(pts, ivs, "k", "ts_sec",
      "start_sec", "end_sec", bucketSec = 100)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    // pid 10 sits in two overlapping intervals; pid 12 matches nothing
    // (inner-join semantics); the multi-bucket interval coverage is the
    // boundary check below (interval 0-100 spans buckets 0 and 1)
    assert(got == Set((10L, 20L), (10L, 22L), (11L, 21L)), s"got $got")
    // boundary inclusivity: a point exactly at an interval end matches
    val boundary = graft.rollup.AsOf.intervalJoin(
      Seq((1L, 100L, 30L)).toDF("k", "ts_sec", "pid"), ivs,
      "k", "ts_sec", "start_sec", "end_sec", 100)
      .select("iid").as[Long].collect().toSeq
    assert(boundary == Seq(20L))
    // an inverted (corrupt) interval is dropped up front, not exploded
    // into |start-end|/bucket rows
    val inverted = ivs.unionByName(
      Seq((1L, 1000000L, 0L, 99L)).toDF("k", "start_sec", "end_sec", "iid"))
    val got2 = graft.rollup.AsOf.intervalJoin(pts, inverted, "k", "ts_sec",
      "start_sec", "end_sec", 100).select("pid", "iid")
      .as[(Long, Long)].collect().toSet
    assert(got2 == got)
  }

  test("interval join: pathological fan-out fails loudly at the cap") {
    val pts = Seq((1L, 5L, 10L)).toDF("k", "ts_sec", "pid")
    // a months-long interval against a seconds-scale bucket: 2,592,000
    // covered buckets — must raise, not silently explode
    val monster = Seq((1L, 0L, 2592000L, 40L))
      .toDF("k", "start_sec", "end_sec", "iid")
    val ex = intercept[Exception] {
      graft.rollup.AsOf.intervalJoin(pts, monster, "k", "ts_sec",
        "start_sec", "end_sec", bucketSec = 1).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).flatMap(c => Option(c.getMessage)).mkString
        .contains("intervalJoin: interval covers"), s"wrong error: $ex")
    // the same interval passes with a cap sized for it, and with a
    // coarse-enough bucket under the default cap
    assert(graft.rollup.AsOf.intervalJoin(pts, monster, "k", "ts_sec",
      "start_sec", "end_sec", bucketSec = 86400).count() == 1L)
    assert(graft.rollup.AsOf.intervalJoin(pts, monster, "k", "ts_sec",
      "start_sec", "end_sec", bucketSec = 1,
      maxBucketsPerInterval = 3000000L).count() == 1L)
  }

  test("M4 downsampling keeps first/last/min/max with deterministic ties") {
    val pts = Seq(
      ("a", 1L, 5.0), ("a", 3L, 2.0), ("a", 4L, 2.0),  // min VALUE tie
      ("a", 7L, 9.0), ("a", 9L, 9.0),                  // max VALUE tie
      ("a", 12L, 4.0),                                 // second bucket
      ("b", 2L, 1.0)
    ).toDF("k", "ts", "v")
    val got = graft.rollup.Downsample.m4(pts, "k", "ts", "v", 10L)
      .orderBy("k", "bucket")
      .select("k", "bucket", "ts_first", "v_first", "ts_last", "v_last",
        "ts_min", "v_min", "ts_max", "v_max", "n")
      .as[(String, Long, Long, Double, Long, Double, Long, Double, Long, Double, Long)]
      .collect().toSeq
    // value ties resolve by the (value, ts) pair: min -> earliest ts of the
    // smallest value, max -> latest ts of the largest value
    assert(got == Seq(
      ("a", 0L, 1L, 5.0, 9L, 9.0, 3L, 2.0, 9L, 9.0, 5L),
      ("a", 1L, 12L, 4.0, 12L, 4.0, 12L, 4.0, 12L, 4.0, 1L),
      ("b", 0L, 2L, 1.0, 2L, 1.0, 2L, 1.0, 2L, 1.0, 1L)), s"got $got")
  }

  test("M4 matches a single-node reference on random tie-heavy series") {
    val rng = new scala.util.Random(4242)
    // coarse-quantized values + small ts range force frequent ties on both
    // orderings, exercising the deterministic tie rule
    val rows = (1 to 500).map { _ =>
      (s"k${rng.nextInt(5)}", rng.nextInt(100).toLong,
        math.floor(rng.nextDouble() * 20) / 2.0)
    }
    val got = graft.rollup.Downsample.m4(rows.toDF("k", "ts", "v"), "k", "ts", "v", 13L)
      .select("k", "bucket", "ts_first", "v_first", "ts_last", "v_last",
        "ts_min", "v_min", "ts_max", "v_max", "n")
      .as[(String, Long, Long, Double, Long, Double, Long, Double, Long, Double, Long)]
      .collect().toSet
    val expected = rows.groupBy { case (k, ts, _) => (k, Math.floorDiv(ts, 13L)) }
      .map { case ((k, b), rs) =>
        val byTime = rs.map(r => (r._2, r._3)).sorted
        val byValue = rs.map(r => (r._3, r._2)).sorted
        (k, b, byTime.head._1, byTime.head._2, byTime.last._1, byTime.last._2,
          byValue.head._2, byValue.head._1, byValue.last._2, byValue.last._1,
          rs.size.toLong)
      }.toSet
    assert(got == expected)
  }

  test("gap-fill: spine complete, originals untouched, interpolation exact") {
    val points = Rollups.points(Rollups.cube(turns, Tier.Minute), "1m").cache()
    val filled = GapFill.fillPoints(points, Tier.Minute).cache()

    // every conv has a complete bucket spine at 60s spacing
    val badSpacing = filled.select($"conv_id", $"bucket")
      .as[(String, Long)].collect().groupBy(_._1)
      .exists { case (_, bs) =>
        val sorted = bs.map(_._2).sorted
        sorted.zip(sorted.tail).exists { case (a, b) => b - a != 60L }
      }
    assert(!badSpacing, "spine has holes or wrong spacing")

    // original (non-filled) rows pass through unchanged (maps converted to
    // sorted entry arrays — set ops don't support MapType)
    def comparable(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("byRole", org.apache.spark.sql.functions.array_sort(
        org.apache.spark.sql.functions.map_entries($"byRole")))
      .withColumn("byTool", org.apache.spark.sql.functions.array_sort(
        org.apache.spark.sql.functions.map_entries($"byTool")))
    assertSameRows(comparable(filled.filter(!$"filled").drop("filled")),
      comparable(points.drop("filled")), "originals preserved")

    // filled rows match the single-node interpolation spec
    val byConv = points.as[RollupPoint].collect().groupBy(_.conv_id)
    val gotFilled = filled.filter($"filled").as[RollupPoint].collect()
    assert(gotFilled.nonEmpty, "fixture produced no gaps — strengthen Synth")
    gotFilled.foreach { p =>
      val series = byConv(p.conv_id).sortBy(_.bucket)
      val prev = series.filter(_.bucket < p.bucket).last
      val next = series.filter(_.bucket > p.bucket).head
      def lerp(a: Long, b: Long): Long =
        a + (b - a) * (p.bucket - prev.bucket) / (next.bucket - prev.bucket)
      assert(p.turns == lerp(prev.turns, next.turns), s"turns at $p")
      assert(p.textLenSum == lerp(prev.textLenSum, next.textLenSum))
      assert(p.byRole.isEmpty && p.byTool.isEmpty)
    }
  }
}
