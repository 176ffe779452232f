package graft.rollup

import graft.{Tier, Turn}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Continuous aggregates over the transcript table (SURVEY.md §2.4 A3;
  * north_rule "continuous aggregates ... 1m/1h/1d retention tiers").
  *
  * Design for 100 TB:
  *   - The job path is [[pointsFromSegments]]: the pivot has already
  *     scanned the raw table once and hash-partitioned it by
  *     `(conv_id, day)`, so every 1m, 1h and 1d bucket of a conv-day sits
  *     in one partition. One exchange-free pass over the cached segments
  *     folds the points of every tier at once — the analog of PyReshaper
  *     reading each slice once and writing each output once
  *     (`reshaper.py :: convert`). No cube is built or cached.
  *   - [[cube]] → [[cascadeCube]] → [[points]] is the declarative
  *     reference cascade: the finest cube at `(conv_id, bucket, role,
  *     tool)` grain from one scan, coarser tiers by RE-AGGREGATING the
  *     finer cube (sums of sums, min of mins), never by rescanning raw
  *     data. Tests and the benchmark check the job's points against it.
  *     It is the one cube and the one cube→points fold: `cubeFromSegments`
  *     and `pointsStreamed` only delegate to [[cube]] and [[points]], for
  *     the benchmark's traced run until it runs the job instead.
  *   - All stats are integral (Long/Int) so results are EXACTLY equal at
  *     any parallelism (SURVEY.md §7.4.1) — no float accumulation order
  *     issues.
  *   - Per-role/per-tool maps are materialized only at the end, per
  *     `(conv_id, bucket)` point, from a tiny (≤ |roles|·|tools|) fold —
  *     no extra shuffle, no join.
  */
object Rollups {

  /** Epoch-second bucket start for a timestamp column — the engine's one
    * floor-division bucket rule (pivot, cube and the events queries). The
    * quotient is a double, exact for any epoch second below 2^52; for a
    * TIMESTAMP column neither step reads the session time zone.
    */
  def bucketOf(ts: Column, bucketSec: Long): Column =
    rebucket(unix_timestamp(ts).cast("long"), bucketSec)

  private[graft] def rebucket(epochSec: Column, bucketSec: Long): Column =
    floor(epochSec / bucketSec).cast("long") * bucketSec

  /** The UTC day (`yyyy-MM-dd`, the `pday` partition value) of an epoch
    * second: the one day rule, free of the session time zone. Column form
    * for the job's writes, driver form for retention and append cutoffs.
    */
  def utcDay(epochSec: Column): Column =
    date_from_unix_date(floor(epochSec / 86400L).cast("int")).cast("string")

  def utcDay(epochSec: Long): java.time.LocalDate =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(epochSec, 86400L))

  /** Finest-grain cube from raw turns: one scan, one shuffle.
    * Output: conv_id, bucket, role, tool, c, lenSum, lenMin, lenMax.
    */
  def cube(turns: Dataset[Turn], tier: Tier): DataFrame =
    turns
      .select(
        col("conv_id"),
        bucketOf(col("ts"), tier.bucketSec).as("bucket"),
        col("role"),
        col("tool"),
        length(col("text")).as("len"))
      .groupBy("conv_id", "bucket", "role", "tool")
      .agg(
        count(lit(1)).as("c"),
        sum("len").as("lenSum"),
        min("len").as("lenMin"),
        max("len").as("lenMax"))

  /** [[cube]] over the decoded segments (the codec stores a null text as
    * "", so its `len` is 0). Exists only for the benchmark's traced run
    * (`perfbench/.../RollupFull.scala::traced`); the benchmark change that
    * points that run at [[graft.RollupJob.run]] deletes it.
    */
  def cubeFromSegments(segs: Dataset[graft.Segment], tier: Tier): DataFrame =
    cube(graft.pivot.SeriesPivot.decode(segs), tier)

  /** Rollup cascade: re-bucket a finer cube into a coarser tier.
    * Input and output share the cube schema; only `bucket` coarsens.
    */
  def cascadeCube(finer: DataFrame, tier: Tier): DataFrame =
    finer
      .withColumn("bucket", rebucket(col("bucket"), tier.bucketSec))
      .groupBy("conv_id", "bucket", "role", "tool")
      .agg(
        sum("c").as("c"),
        sum("lenSum").as("lenSum"),
        min("lenMin").as("lenMin"),
        max("lenMax").as("lenMax"))

  /** Materialize RollupPoint rows (FIXTURES.md §F3) from a cube: fold the
    * per-point entry array (sorted for determinism) into byRole/byTool
    * maps. One shuffle on (conv_id, bucket); entry arrays are tiny.
    */
  def points(cubeDf: DataFrame, tierName: String): DataFrame = {
    val folded = cubeDf
      .groupBy("conv_id", "bucket")
      .agg(
        sum("c").as("turns"),
        sum("lenSum").as("textLenSum"),
        min("lenMin").cast("int").as("textLenMin"),
        max("lenMax").cast("int").as("textLenMax"),
        array_sort(collect_list(struct(col("role"), col("tool"), col("c"))))
          .as("entries"))
    folded
      // null keys would throw 'Cannot use null as map key' at runtime —
      // null-role rows (schema-invalid but possible upstream) still count
      // in `turns`; they are only absent from the per-key maps, like tool
      .withColumn("byRole", foldToMap(filter(col("entries"),
        e => e.getField("role").isNotNull), "role"))
      .withColumn("byTool", foldToMap(filter(col("entries"),
        e => e.getField("tool").isNotNull), "tool"))
      .select(
        col("conv_id"), lit(tierName).as("tier"), col("bucket"),
        col("turns"), col("byRole"), col("byTool"),
        col("textLenSum"), col("textLenMin"), col("textLenMax"),
        lit(false).as("filled"))
  }

  /** [[points]] under its former streaming name. Exists only for the
    * benchmark's traced run (`perfbench/.../RollupFull.scala::traced`); the
    * benchmark change that points that run at [[graft.RollupJob.run]]
    * deletes it.
    */
  private[graft] def pointsStreamed(cubeDf: DataFrame, tierName: String): DataFrame =
    points(cubeDf, tierName)

  /** Mutable stats of one (tier, bucket) point in [[pointsFromSegments]]. */
  private final class PointAcc {
    var turns = 0L
    var lenSum = 0L
    var lenMin = Int.MaxValue
    var lenMax = Int.MinValue
    val byRole = scala.collection.mutable.TreeMap.empty[String, Long]
    val byTool = scala.collection.mutable.TreeMap.empty[String, Long]

    def add(role: String, tool: String, len: Int): Unit = {
      turns += 1; lenSum += len
      if (len < lenMin) lenMin = len
      if (len > lenMax) lenMax = len
      // null role/tool still counts in `turns`; only absent from the maps
      if (role != null) byRole.update(role, byRole.getOrElse(role, 0L) + 1L)
      if (tool != null) byTool.update(tool, byTool.getOrElse(tool, 0L) + 1L)
    }
  }

  /** Every tier's points in ONE exchange-free pass over the sort-based
    * pivot's output ([[graft.pivot.SeriesPivot.segmentsSorted]] at the
    * coarsest tier of `tiers`) — the job path. Each segment's ts, role and
    * tool streams and text code-point counts are decoded once, and the
    * turns are folded into the points of every tier at the same time.
    * Equal to [[points]] over [[cube]] per tier (asserted in tests), with
    * the codec's contract that a null text is stored as "" (length 0).
    *
    * PRECONDITION: all segments of one (conv_id, pivot bucket) are
    * consecutive inside one partition. The pivot emits them so (one hash
    * partition, sorted by that key), and no planner rule reorders rows
    * inside a partition, so this holds by construction for its output,
    * cached or not. Every tier must nest in the pivot tier so that no
    * bucket straddles two pivot buckets (checked).
    */
  private[graft] def pointsFromSegments(segs: Dataset[graft.Segment],
      tiers: Seq[Tier]): Dataset[graft.RollupPoint] = {
    val spark = segs.sparkSession
    import spark.implicits._
    val sorted = tiers.sortBy(_.bucketSec)
    val pivot = sorted.last
    require(sorted.forall(t => pivot.bucketSec % t.bucketSec == 0),
      s"every tier must nest in the pivot tier ${pivot.name}: " +
        sorted.map(t => s"${t.name}=${t.bucketSec}s").mkString(", "))
    val widths = sorted.map(_.bucketSec).toArray
    val names = sorted.map(_.name).toArray
    segs.mapPartitions { it =>
      val segIt = it.buffered
      val accs = Array.fill(widths.length)(scala.collection.mutable.LongMap.empty[PointAcc])

      /** Fold the segments of the next (conv_id, pivot bucket) into `accs`
        * and return its points, finest tier first, buckets ascending.
        */
      def foldNext(): Iterator[graft.RollupPoint] = {
        val convId = segIt.head.conv_id
        val pivotBucket = segIt.head.bucket
        while (segIt.hasNext && segIt.head.conv_id == convId &&
            segIt.head.bucket == pivotBucket) {
          val s = segIt.next()
          require(s.tier == pivot.name,
            s"segment of tier ${s.tier}, expected the pivot tier ${pivot.name}")
          val ts = graft.codec.Gorilla.decodeTimestamps(s.tsBlob)
          val role = graft.codec.Gorilla.decodeStrings(s.roleBlob)
          val tool = graft.codec.Gorilla.decodeStrings(s.toolBlob)
          val lens = graft.codec.Gorilla.decodeTextPointCounts(s.textBlob)
          var i = 0
          while (i < s.n) {
            val sec = Math.floorDiv(ts(i), 1000000L)
            var k = 0
            while (k < widths.length) {
              val bucket = Math.floorDiv(sec, widths(k)) * widths(k)
              accs(k).getOrElseUpdate(bucket, new PointAcc).add(role(i), tool(i), lens(i))
              k += 1
            }
            i += 1
          }
        }
        val out = widths.indices.flatMap { k =>
          accs(k).toArray.sortBy(_._1).map { case (bucket, a) =>
            graft.RollupPoint(convId, names(k), bucket, a.turns,
              a.byRole.toMap, a.byTool.toMap, a.lenSum, a.lenMin, a.lenMax,
              filled = false)
          }
        }
        accs.foreach(_.clear())
        out.iterator
      }

      new Iterator[graft.RollupPoint] {
        private var cur: Iterator[graft.RollupPoint] = Iterator.empty
        override def hasNext: Boolean = {
          while (!cur.hasNext && segIt.hasNext) cur = foldNext()
          cur.hasNext
        }
        override def next(): graft.RollupPoint =
          if (hasNext) cur.next() else Iterator.empty.next()
      }
    }
  }

  /** Fold an array<struct{role,tool,c}> into map<key, sum(c)> with SQL
    * higher-order functions (no UDF; arrays are per-point and tiny).
    */
  private def foldToMap(entries: Column, keyField: String): Column =
    aggregate(
      entries,
      map_from_arrays(array().cast("array<string>"), array().cast("array<bigint>")),
      (acc, e) => {
        val k = e.getField(keyField)
        val prev = coalesce(element_at(acc, k), lit(0L))
        map_concat(map_filter(acc, (mk, _) => mk =!= k),
          map_from_arrays(array(k), array(prev + e.getField("c"))))
      })

  /** Full cascade: raw turns → cube per tier (finest from raw, coarser
    * from finer) → points per tier, unioned with a `tier` column.
    */
  def allTiers(turns: Dataset[Turn], tiers: Seq[Tier]): Map[String, DataFrame] = {
    val sorted = tiers.sortBy(_.bucketSec)
    val cubes = sorted.tail.scanLeft(sorted.head -> cube(turns, sorted.head)) {
      case ((_, finer), t) => t -> cascadeCube(finer, t)
    }
    cubes.map { case (t, c) => t.name -> points(c, t.name) }.toMap
  }
}
