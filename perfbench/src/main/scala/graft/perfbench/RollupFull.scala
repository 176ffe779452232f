package graft.perfbench

import graft.{RollupConfig, RollupJob, Segment, Tier, Turn}
import graft.ckpt.Checkpoint
import graft.gen.Synth
import graft.io.ParquetTableIO
import graft.pivot.SeriesPivot
import graft.retain.Retention
import graft.rollup.Rollups
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `rollup_full`: the nightly batch rebuild. `RollupJob.run` in `o` mode
  * over a skewed multi-day transcript table, one job at a time.
  *
  * Setup (counted in setup_s): generate the input and compute reference
  * checksums. No warm-up job: the nightly job runs in a fresh process, so
  * the first job of a session, which compiles its own plans, is the one
  * users wait for.
  * Timed: job runs back to back for the run's seconds (at least [[MinJobs]]);
  * wall_s is their median.
  * Checks (untimed): the points table equals the plain reference cascade
  * (`Rollups.cube` → `Rollups.points` over the raw turns, after the same
  * retention) and the decoded segments equal the input turns.
  */
object RollupFull {
  /** Input shape: conversations spread over `Days` UTC days; longer than
    * the 7-day 1m retention, so retention really drops partitions.
    */
  val Days = 9
  val ConvsPerDay = 120
  val BaseTurns = 40
  val HotFactor = 10
  /** timed job runs per run, at least: one job alone varies by ~15% */
  val MinJobs = 2
  /** 2023-11-15T00:00:00Z, the first UTC day of the input */
  val DayZero = 1700006400L

  /** Seeded input: `Synth.turns` conversations (1% hot at HotFactor x the
    * base length, 5% gapped minutes), each moved whole into UTC day
    * `conv index mod Days` from DayZero. A conversation lasts less than a
    * day (Synth offsets conv c by c seconds and spaces turns ~45 s apart),
    * so every turn stays inside its day.
    */
  def input(spark: SparkSession, seed: Long): DataFrame = {
    val nConvs = Days * ConvsPerDay
    require(nConvs + BaseTurns * HotFactor * 45L < 86400L,
      "conversations must fit inside one UTC day")
    Synth.turns(spark, nConvs, BaseTurns, HotFactor, seed).toDF()
      .withColumn("_day", substring(col("conv_id"), 6, 12).cast("long") % Days)
      .withColumn("ts", timestamp_seconds(unix_timestamp(col("ts")) - Synth.Epoch +
        DayZero + col("_day") * 86400L))
      .drop("_day")
  }

  private def pdayOf(bucket: org.apache.spark.sql.Column) =
    date_format(timestamp_seconds(bucket), "yyyy-MM-dd")

  /** Points of every tier by the plain reference cascade over raw turns,
    * minus the partitions retention drops at `asOfSec`.
    */
  def referencePoints(turns: Dataset[Turn], asOfSec: Long): DataFrame =
    Rollups.allTiers(turns, Tier.cascade).toSeq.map { case (name, pts) =>
      val tier = Tier.cascade.find(_.name == name).get
      Retention.cutoffDay(tier, asOfSec) match {
        case Some(cut) => pts.filter(pdayOf(col("bucket")) >= lit(cut))
        case None => pts
      }
    }.reduce(_ unionByName _)

  private val PointCols = Seq("conv_id", "tier", "bucket", "turns", "byRole",
    "byTool", "textLenSum", "textLenMin", "textLenMax", "filled")

  private def readTurns(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn]
  }

  private def readSegments(spark: SparkSession, root: String): Dataset[Segment] = {
    import spark.implicits._
    ParquetTableIO.read(spark, s"$root/segments")
      .select("conv_id", "tier", "bucket", "seq_no", "n", "tsBlob", "idxBlob",
        "roleBlob", "toolBlob", "textBlob").as[Segment]
  }

  private def segmentBytes(segs: Dataset[Segment]): Long =
    segs.toDF().select(
      (length(col("tsBlob")) + length(col("idxBlob")) + length(col("roleBlob")) +
        length(col("toolBlob")) + length(col("textBlob"))).cast("long").as("b"))
      .agg(coalesce(sum("b"), lit(0L))).head().getLong(0)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val base = ctx.work.resolve("rollup")
    Main.deleteTree(base)
    val inPath = base.resolve("in").toString
    val outRoot = base.resolve("out").toString

    // ---- setup ----
    val phase = new PhaseClock
    input(spark, ctx.seed).coalesce(ctx.cores).write.parquet(inPath)
    val turns = readTurns(spark, inPath)
    val facts = turns.toDF().agg(
      count(lit(1)), countDistinct(col("conv_id")),
      countDistinct(to_date(col("ts"))), max(unix_timestamp(col("ts"))))
      .head()
    val nTurns = facts.getLong(0)
    val asOf = facts.getLong(3)
    val hotConvs = turns.groupBy("conv_id").count()
      .filter(col("count") >= BaseTurns * HotFactor / 2).count()
    phase("generate")
    val inputSum = Checksum.of(turns.toDF())
    val expectedPoints = Checksum.of(referencePoints(turns, asOf).select(PointCols.map(col): _*))
    phase("reference")
    val cfg = RollupConfig(inputPath = inPath, outputRoot = outRoot, writeMode = "o")
    val setupEndMs = System.currentTimeMillis()

    // ---- timed ----
    val before = ctx.listener.total
    val (gc0, jit0) = (Jvm.gcSeconds, Jvm.jitSeconds)
    val (walls, failedRuns) = Main.timedLoop(ctx.seconds, MinJobs) { i =>
      RollupJob.run(spark, cfg.copy(runId = s"run-$i"))
    }
    val windowS = walls.sum
    val runtime = ctx.runtimeMetrics(before, ctx.listener.total, windowS,
      walls.size, Jvm.gcSeconds - gc0, Jvm.jitSeconds - jit0)

    // ---- checks ----
    val segs = readSegments(spark, outRoot)
    val gotPoints = Checksum.of(ParquetTableIO.read(spark, s"$outRoot/points")
      .select(PointCols.map(col): _*))
    val gotTurns = Checksum.of(SeriesPivot.decode(segs).toDF())
    val segBytes = segmentBytes(segs)
    val wall = if (walls.nonEmpty) Stats.median(walls) else 0.0
    var checks = Seq(
      "points_equal_reference" -> (gotPoints == expectedPoints),
      "segments_decode_to_input" -> (gotTurns == inputSum))

    val endToEnd = Seq(
      "wall_s" -> wall,
      "turns_per_s" -> (if (wall > 0) nTurns / wall else 0.0),
      "segment_bytes_per_turn" -> segBytes.toDouble / nTurns,
      "peak_rss_mb" -> Jvm.peakRssMb)

    val layered = if (!ctx.trace) Nil else {
      val (m, traceChecks) = traced(ctx, inPath, base.resolve("traced"), nTurns,
        asOf, expectedPoints, wall)
      checks ++= traceChecks
      runtime ++ m
    }
    val (stored, _) = Seq("points", "segments", "dims")
      .map(t => Main.parquetBytes(base.resolve("out").resolve(t)))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

    Outcome(
      attempted = walls.size + failedRuns,
      failed = failedRuns,
      checks = checks,
      setupEndMs = setupEndMs,
      metrics = endToEnd ++ layered,
      facts = Seq(
        "turns" -> nTurns.toString,
        "conversations" -> facts.getLong(1).toString,
        "pdays" -> facts.getLong(2).toString,
        "raw_bytes" -> Main.parquetBytes(base.resolve("in"))._1.toString,
        "hot_conversation_share" -> (hotConvs.toDouble / facts.getLong(1)).toString,
        "new_day_turns" -> nTurns.toString,
        "stored_bytes" -> stored.toString,
        "setup_phases_s" -> phase.toString,
        "job_walls_s" -> walls.map(w => f"$w%.3f").mkString(" ")))
  }

  /** The job's `o`-mode sequence re-run serially, one span per call into a
    * layer's public functions, into a separate output root. The job itself
    * overlaps writes with compute; the serial sum minus the job's wall is
    * reported as trace.overhead_s. Spans named `probe.*` measure calls the
    * `o` job does not make and are left out of that sum.
    */
  private def traced(ctx: Ctx, inPath: String, rootPath: Path, nTurns: Long,
      asOf: Long, expectedPoints: Checksum.Sum, wall: Double)
      : (Seq[(String, Double)], Seq[(String, Boolean)]) = {
    val spark = ctx.spark
    import spark.implicits._
    Main.deleteTree(rootPath)
    val root = rootPath.toString
    val io = ParquetTableIO
    val cfg = RollupConfig(inputPath = inPath, outputRoot = root, writeMode = "o",
      runId = "traced")
    val fingerprint = s"$inPath@${cfg.runId}"
    val tiers = cfg.tiers.sortBy(_.bucketSec)
    val segTier = tiers.last
    val writeParts = spark.sessionState.conf.numShufflePartitions
    val writeSalt = pmod(xxhash64(col("conv_id")), lit(cfg.writeSaltBuckets))
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
    val spans = new Spans(spark.sparkContext, ctx.listener)

    val turns = spans("io.read") {
      io.read(spark, inPath).select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn]
    }
    var nSegs = 0L
    val segs = spans("pivot") {
      val s = SeriesPivot.segmentsSorted(turns, segTier, cfg).persist(StorageLevel.MEMORY_AND_DISK)
      nSegs = s.count()
      s
    }
    val segsDf = segs.toDF().withColumn("pday", pdayOf(col("bucket")))
    spans("io.write.segments") {
      io.write(segsDf.repartition(writeParts, col("pday"), writeSalt),
        s"$root/segments", Seq("tier", "pday"), "overwrite")
    }
    spans("ckpt.commit") {
      Checkpoint.commit(spark, io, root, cfg.runId,
        segsDf.select(concat(lit("seg-"), col("tier")).as("tier"), col("pday")), fingerprint)
    }
    spans("job.stats") {
      segs.map(s => (s.n.toLong, graft.codec.Gorilla.decodeTimestamps(s.tsBlob).max))
        .toDF("n", "t").agg(sum("n"), max("t")).head()
    }
    var finer: DataFrame = null
    var cube1mRows = 0L
    val cubes = tiers.map { tier =>
      val cube = spans(s"rollup.cube_${tier.name}") {
        val c = if (finer == null) Rollups.cubeFromSegments(segs, tier)
          else Rollups.cascadeCube(finer, tier)
        c.persist()
        val rows = c.count()
        if (finer == null) cube1mRows = rows
        c
      }
      spans(s"rollup.points_${tier.name}") {
        io.write(Rollups.pointsStreamed(cube, tier.name).withColumn("pday", pdayOf(col("bucket")))
          .repartition(writeParts, col("pday"), writeSalt),
          s"$root/points", Seq("tier", "pday"), "overwrite")
      }
      spans("ckpt.commit") {
        Checkpoint.commitCounts(spark, io, root, cfg.runId,
          cube.select("conv_id", "bucket").distinct()
            .withColumn("pday", pdayOf(col("bucket")))
            .groupBy("pday").agg(count(lit(1)).as("rows"))
            .withColumn("tier", lit(tier.name)), fingerprint)
      }
      finer = cube
      cube
    }
    spans("io.write.dims") {
      io.write(finer.groupBy("conv_id").agg(
        sum("c").as("turns_total"), sum("lenSum").as("text_len_total"),
        min("bucket").as("first_bucket"), max("bucket").as("last_bucket"))
        .repartition(writeParts), s"$root/dims", Seq.empty, "overwrite")
    }
    val partsBefore = partitionDirs(rootPath)
    spans("retain") {
      Retention(spark, io, s"$root/points", cfg.tiers, asOf)
      Retention(spark, io, s"$root/segments", Seq(segTier), asOf)
    }
    val partsAfter = partitionDirs(rootPath)
    spans("probe.ckpt.highwater")(Checkpoint.highWater(spark, io, root))
    spans("probe.ckpt.committed")(Checkpoint.committed(spark, io, root).count())
    val lineageRows = io.read(spark, s"$root/${Checkpoint.LineageDir}").count()
    val codec = CodecProbe.run(segs, ctx.seed, cfg.deflateLevel)
    segs.unpersist()
    cubes.foreach(_.unpersist())

    val tracedPoints = Checksum.of(io.read(spark, s"$root/points").select(PointCols.map(col): _*))
    spans.write(ctx.work.resolve("spans.jsonl"))

    def one(name: String): Totals = spans.under(name).headOption.map(_.totals).getOrElse(new Totals)
    def sumOf(prefix: String)(f: Totals => Double): Double =
      spans.under(prefix).map(s => f(s.totals)).sum
    val pivot = one("pivot")
    val pointsSpans = spans.all.filter(_.name.startsWith("rollup.points_"))
    val rollupSpans = spans.under("rollup")
    val (dataBytes, _) = Seq("points", "segments", "dims")
      .map(t => Main.parquetBytes(rootPath.resolve(t)))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val serial = spans.all.filterNot(_.name.startsWith("probe.")).map(_.wallS).sum

    val metrics = Seq(
      "pivot.wall_s" -> spans.wall("pivot"),
      "pivot.cpu_s" -> pivot.cpuNs / 1e9,
      "pivot.gc_s" -> pivot.gcMs / 1e3,
      "pivot.turns_in" -> pivot.inputRecords.toDouble,
      "pivot.segments" -> nSegs.toDouble,
      "pivot.shuffle_write_bytes" -> pivot.shuffleWriteBytes.toDouble,
      "pivot.spill_bytes" -> pivot.spillBytes.toDouble,
      "pivot.task_max_over_median" -> pivot.busiestStageMaxOverMedian,
      "io.scan.rows" -> pivot.inputRecords.toDouble,
      "io.scan.bytes" -> pivot.inputBytes.toDouble,
      "io.scan.rows_per_new_turn" -> pivot.inputRecords.toDouble / nTurns,
      "io.write.wall_s" -> spans.wall("io.write"),
      "io.write.bytes" -> spans.all.map(_.totals.outputBytes).sum.toDouble,
      "io.write.files" -> Main.parquetBytes(rootPath)._2.toDouble,
      "io.stored_bytes_per_turn" -> dataBytes.toDouble / nTurns,
      "rollup.cube_1m.rows" -> cube1mRows.toDouble,
      "rollup.points" -> pointsSpans.map(_.totals.outputRecords).sum.toDouble,
      "rollup.cpu_s" -> rollupSpans.map(_.totals.cpuNs).sum / 1e9,
      "rollup.shuffle_write_bytes" -> rollupSpans.map(_.totals.shuffleWriteBytes).sum.toDouble,
      "ckpt.commit.wall_s" -> spans.wall("ckpt.commit"),
      "ckpt.commits" -> spans.under("ckpt.commit").size.toDouble,
      "ckpt.highwater.wall_s" -> spans.wall("probe.ckpt.highwater"),
      "ckpt.committed.wall_s" -> spans.wall("probe.ckpt.committed"),
      "ckpt.lineage_rows" -> lineageRows.toDouble,
      "retain.wall_s" -> spans.wall("retain"),
      "retain.partitions_scanned" -> partsBefore.size.toDouble,
      "retain.partitions_dropped" -> (partsBefore -- partsAfter).size.toDouble,
      "trace.overhead_s" -> (serial - wall)) ++
      tiers.flatMap(t => Seq(
        s"rollup.cube_${t.name}.wall_s" -> spans.wall(s"rollup.cube_${t.name}"),
        s"rollup.points_${t.name}.wall_s" -> spans.wall(s"rollup.points_${t.name}"))) ++
      codec
    (metrics, Seq("traced_points_equal_reference" -> (tracedPoints == expectedPoints)))
  }

  /** `tier=…/pday=…` partition directories of the points and segments tables. */
  private def partitionDirs(root: Path): Set[String] =
    Seq("points", "segments").flatMap { t =>
      val dir = root.resolve(t)
      if (!Files.isDirectory(dir)) Nil
      else {
        val s = Files.walk(dir, 2)
        try s.filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("pday="))
          .map(p => root.relativize(p).toString).toArray.toSeq.map(_.toString)
        finally s.close()
      }
    }.toSet
}
