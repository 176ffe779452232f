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
    * quotient is a double, exact for any epoch second below 2^52.
    */
  def bucketOf(ts: Column, bucketSec: Long): Column =
    rebucket(unix_timestamp(ts).cast("long"), bucketSec)

  private[graft] def rebucket(epochSec: Column, bucketSec: Long): Column =
    floor(epochSec / bucketSec).cast("long") * bucketSec

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

  /** Finest-grain cube decoded from pivoted segments instead of raw rows.
    * The segments are ~2% of the raw table's bytes (Gorilla/DoD + deflate),
    * so a cube built from them needs no second raw scan. Results are exactly
    * equal to [[cube]] (the codecs are lossless; `len` uses code-point
    * counts to match Spark's `length()`). Not on the job path any more
    * ([[pointsFromSegments]] replaced it there); kept with [[cascadeCube]]
    * and [[pointsStreamed]] for the benchmark's traced per-layer run and
    * the plan audit.
    */
  def cubeFromSegments(segs: Dataset[graft.Segment], tier: Tier): DataFrame = {
    val spark = segs.sparkSession
    import spark.implicits._
    val bucketSec = tier.bucketSec
    segs.flatMap { s =>
      val ts = graft.codec.Gorilla.decodeTimestamps(s.tsBlob)
      val role = graft.codec.Gorilla.decodeStrings(s.roleBlob)
      val tool = graft.codec.Gorilla.decodeStrings(s.toolBlob)
      // code-point counts straight from UTF-8 bytes — the cube never
      // materializes a String per turn (== Spark length() semantics)
      val lens = graft.codec.Gorilla.decodeTextPointCounts(s.textBlob)
      Array.tabulate(s.n) { i =>
        val bucket = Math.floorDiv(Math.floorDiv(ts(i), 1000000L), bucketSec) * bucketSec
        (s.conv_id, bucket, role(i), tool(i), lens(i))
      }
    }.toDF("conv_id", "bucket", "role", "tool", "len")
      // ONE exchange on (conv_id, bucket): HashPartitioning(conv,bucket)
      // satisfies the clustering of BOTH this 4-key cube aggregate (subset
      // rule) and the downstream 2-key points() aggregate — Catalyst elides
      // the second full shuffle of the cube, which at 1m grain is nearly
      // row-per-turn sized
      .repartition(col("conv_id"), col("bucket"))
      .groupBy("conv_id", "bucket", "role", "tool")
      .agg(
        count(lit(1)).as("c"),
        sum("len").cast("long").as("lenSum"),
        min("len").as("lenMin"),
        max("len").as("lenMax"))
  }

  /** Rollup cascade: re-bucket a finer cube into a coarser tier.
    * Input and output share the cube schema; only `bucket` coarsens.
    * Same one-exchange shape as [[cubeFromSegments]]: partitioned by
    * (conv_id, coarse bucket) so the aggregate AND the downstream points
    * fold both run exchange-free.
    */
  def cascadeCube(finer: DataFrame, tier: Tier): DataFrame =
    finer
      .withColumn("bucket", rebucket(col("bucket"), tier.bucketSec))
      .repartition(col("conv_id"), col("bucket"))
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

  /** Row of a tier cube, for the typed streaming points fold. */
  private[rollup] case class CubeRow(conv_id: String, bucket: Long,
      role: String, tool: String, c: Long, lenSum: Long, lenMin: Int, lenMax: Int)

  /** Streaming points fold — identical output to [[points]] (asserted in
    * tests) with a cheaper physical shape than it: the cube is
    * ALREADY hash-partitioned by (conv_id, bucket) ([[cubeFromSegments]] /
    * [[cascadeCube]]), so a codegen'd Tungsten sortWithinPartitions plus
    * one tight typed pass replaces the ObjectHashAggregate(collect_list)
    * — no multi-million-entry object hash map, no per-group array churn,
    * zero exchanges. PRECONDITION: rows of one (conv_id, bucket) must be
    * co-partitioned — violating it silently emits one point per
    * per-partition key-run instead of one per key, so this is
    * `private[graft]`: external callers get the unconditional [[points]].
    */
  private[graft] def pointsStreamed(cubeDf: DataFrame, tierName: String): DataFrame = {
    val spark = cubeDf.sparkSession
    import spark.implicits._
    cubeDf
      .select("conv_id", "bucket", "role", "tool", "c", "lenSum", "lenMin", "lenMax")
      .sortWithinPartitions("conv_id", "bucket")
      .as[CubeRow]
      .mapPartitions { it =>
        new Iterator[graft.RollupPoint] {
          private var cur: CubeRow = _
          private var have = false
          private def nextGroup(): graft.RollupPoint = {
            // `cur` holds the first row of the group
            var turns = 0L; var lenSum = 0L
            var lenMin = Int.MaxValue; var lenMax = Int.MinValue
            val byRole = scala.collection.mutable.TreeMap.empty[String, Long]
            val byTool = scala.collection.mutable.TreeMap.empty[String, Long]
            val key = (cur.conv_id, cur.bucket)
            var more = true
            while (more) {
              turns += cur.c; lenSum += cur.lenSum
              if (cur.lenMin < lenMin) lenMin = cur.lenMin
              if (cur.lenMax > lenMax) lenMax = cur.lenMax
              if (cur.role != null)
                byRole.update(cur.role, byRole.getOrElse(cur.role, 0L) + cur.c)
              if (cur.tool != null)
                byTool.update(cur.tool, byTool.getOrElse(cur.tool, 0L) + cur.c)
              if (it.hasNext) {
                cur = it.next()
                more = (cur.conv_id, cur.bucket) == key
              } else { more = false; have = false; cur = null }
            }
            if (cur != null) have = true
            graft.RollupPoint(key._1, tierName, key._2, turns,
              byRole.toMap, byTool.toMap, lenSum, lenMin, lenMax, filled = false)
          }
          override def hasNext: Boolean = have || it.hasNext
          override def next(): graft.RollupPoint = {
            if (!have) { cur = it.next(); have = true }
            have = false
            nextGroup()
          }
        }
      }
      .toDF()
  }

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
