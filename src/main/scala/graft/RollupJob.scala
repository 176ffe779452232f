package graft

import graft.ckpt.Checkpoint
import graft.io.{ParquetTableIO, TableIO}
import graft.pivot.SeriesPivot
import graft.retain.Retention
import graft.rollup.Rollups
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end job orchestration — the analog of the reference's
  * `s2srun` → `create_reshaper` → `convert` → `print_diagnostics` lifecycle
  * (SURVEY.md §3 E1), run via `spark-submit --class graft.RollupMain`.
  *
  * Per run: read transcript turns → compressed per-series segments (the
  * pivot, the only raw scan and the only row-scale exchange) → the 1m, 1h
  * and 1d points of each conv-day folded together from its segments in one
  * exchange-free pass → one points write partitioned by (tier, pday) → one
  * lineage commit per table → retention pass → metrics. Resumable per write
  * mode (Checkpoint).
  */
object RollupJob {

  case class TierReport(tier: String, written: Long, skipped: Long)
  case class RunReport(runId: String, inputRows: Long,
      tiers: Seq[TierReport], segmentsWritten: Long,
      retention: Map[String, String])

  private def pdayCol = date_format(timestamp_seconds(col("bucket")), "yyyy-MM-dd")

  private def timed[T](phase: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[rollup] $phase: $sec%.1f s")
    (r, sec)
  }

  /** wmode-'a' input predicate: `ts >= start of the day after minHw`
    * (pdays are UTC day strings). A plain `>=` on the ts column against a
    * timestamp literal so the scan can prune on min/max stats and partition
    * transforms (pushdown asserted by PlanAuditSpec).
    */
  private[graft] def appendPredicate(
      tsType: org.apache.spark.sql.types.DataType, minHw: String)
      : org.apache.spark.sql.Column = {
    val nextDay = java.time.LocalDate.parse(minHw).plusDays(1)
    val bound = tsType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        lit(nextDay.atStartOfDay()) // wall-clock literal for NTZ tables
      case _ =>
        lit(java.sql.Timestamp.from(
          nextDay.atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
    }
    col("ts") >= bound
  }

  /** The job's points: every tier folded from the pivot's segments in one
    * exchange-free pass, plus the `pday` partition column.
    */
  private[graft] def foldPoints(segs: Dataset[Segment], tiers: Seq[Tier]): DataFrame =
    Rollups.pointsFromSegments(segs, tiers).toDF().withColumn("pday", pdayCol)

  /** Run the full pipeline. `asOfSec` drives retention (None = max input
    * bucket, deterministic — never wall-clock).
    */
  def run(spark: SparkSession, cfg: RollupConfig,
      io: TableIO = ParquetTableIO, asOfSec: Option[Long] = None): RunReport = {
    import spark.implicits._
    // CORRECTNESS PIN: pdays are UTC day strings by contract, but
    // date_format renders in the session time zone — and the wmode-'a'
    // high-water predicate compares ts against UTC day boundaries. In a
    // non-UTC session the two would disagree and an append run could
    // silently prune rows whose pday is not yet committed. Pin the zone so
    // every caller gets the contract, not just the spark-submit main.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val pointsPath = s"${cfg.outputRoot}/points"
    val segmentsPath = s"${cfg.outputRoot}/segments"

    // ---- wmode 'w': error-if-exists (reshaper _inspect_output_files) ----
    if (cfg.writeMode == "w" && io.exists(spark, pointsPath))
      sys.error(s"output $pointsPath exists and write mode is 'w'")

    // include-list validation up-front (P2: error on unknown metric names,
    // like Specifier.time_series erroring on absent variables)
    cfg.metricsInclude.foreach { ms =>
      val unknown = ms.filterNot(RollupConfig.AllMetrics.contains)
      require(unknown.isEmpty,
        s"unknown metrics ${unknown.mkString(",")}; valid: ${RollupConfig.AllMetrics.mkString(",")}")
    }

    // S2 input inspection: fail fast on schema drift before any shuffle
    val inputDf = io.read(spark, cfg.inputPath)
    graft.io.Validate.transcriptSchema(inputDf)
    val turnsRead = inputDf
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn]

    // debug output limit (X3): first N conversations in conv_id order
    val turnsAll = cfg.outputLimit match {
      case Some(n) =>
        val keep = turnsRead.select("conv_id").distinct()
          .orderBy("conv_id").limit(n)
        turnsRead.join(broadcast(keep), Seq("conv_id"), "left_semi").as[Turn]
      case None => turnsRead
    }

    // ---- wmode 'a': prune input below the committed high-water mark.
    // The predicate compares ts DIRECTLY against a timestamp literal (start
    // of the day after the high-water pday, UTC — pdays are UTC day strings)
    // so parquet/Iceberg can prune row groups on ts min/max stats and
    // partition transforms; a date_format(ts) string comparison would force
    // a full rescan of the raw table on every append run (PlanAuditSpec
    // asserts the pushdown).
    val turns = if (cfg.writeMode == "a") {
      val hw = Checkpoint.highWater(spark, io, cfg.outputRoot)
      hw.values.minOption match {
        case Some(minHw) =>
          turnsAll.filter(appendPredicate(inputDf.schema("ts").dataType, minHw))
        case None => turnsAll
      }
    } else turnsAll

    // committed (tier, pday) partitions — anti-joined against planned
    // output (J3). Collected once: a control-plane table of tiers × days
    // rows, so the joins broadcast a local relation and the per-tier
    // skipped counts need no extra job.
    val resume = cfg.writeMode == "s" || cfg.writeMode == "a"
    val committedRows: Seq[(String, String)] =
      if (resume) Checkpoint.committed(spark, io, cfg.outputRoot)
        .as[(String, String)].collect().toSeq
      else Seq.empty
    val committed = committedRows.toDF("tier", "pday")

    val fingerprint = s"${cfg.inputPath}@${cfg.runId}"
    val sorted = cfg.tiers.sortBy(_.bucketSec)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global

    // ---- segments (the pivot) at the coarsest tier: long segments amortize
    // per-segment encode cost; memory stays bounded via maxPointsPerSegment.
    // The sort-based streaming pivot is the default physical strategy; the
    // salted two-phase variant (SeriesPivot.segmentsSalted) is the explicit
    // skew escape hatch and produces identical segments (tested).
    val segTier = sorted.last
    // the segments are the job's ONLY full read of the raw table: the points
    // fold below decodes them (≈2% of raw bytes) instead of rescanning raw
    val segsTyped = SeriesPivot.segmentsSorted(turns, segTier, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val segs = segsTyped.toDF().withColumn("pday", pdayCol)
    val segsToWrite =
      if (resume) segs.join(
        broadcast(committed.filter(col("tier") === s"seg-${segTier.name}")
          .select("pday")), Seq("pday"), "left_anti")
      else segs
    // ≤ writeSaltBuckets files per (tier, pday) partition: without any
    // repartition every shuffle task writes into every pday dir → files =
    // partitions × days, and each dynamic-overwrite write pays a full table
    // listing; with UNSALTED pday partitioning a hot day (one pday holding
    // most of the data) serializes into a single parquet-writing task — the
    // write-side analog of north_rule's hot-conversation skew. The salt
    // bounds both: listing stays O(days × salt), the straggler shrinks by
    // the salt factor. numPartitions is PINNED (REPARTITION_BY_NUM) so AQE
    // can't coalesce write parallelism away on small data.
    val writeParts = spark.sessionState.conf.numShufflePartitions
    val writeSalt =
      pmod(xxhash64(col("conv_id")), lit(math.max(1, cfg.writeSaltBuckets)))
    // ---- overlap discipline (the N→4N fixed-tail shave): table WRITES run
    // in ONE serialized async chain — never two io.write in flight, so the
    // session-level dynamic-partition-overwrite conf can't race and replay
    // ordering (data partitions first, lineage append after) is preserved
    // per table — while the MAIN thread materializes the points into the
    // cache, overlapping the segments write's commit + listing tail.
    timed("segments pivot (materialize)")(segsTyped.count())
    var writeChain: Future[Any] = Future {
      timed("segments write")(
        io.write(segsToWrite.repartition(writeParts, col("pday"), writeSalt),
          segmentsPath, Seq("tier", "pday"), "overwrite"))
      Checkpoint.commit(spark, io, cfg.outputRoot, cfg.runId,
        segsToWrite.select(concat(lit("seg-"), col("tier")).as("tier"), col("pday")),
        fingerprint)
    }
    val segsWrittenF = writeChain.asInstanceOf[Future[Long]]

    // run stats (inputRows + max event time for retention) from the CACHED
    // segments in ONE fused pass, never the raw table — keeps the job
    // strictly single-raw-scan under every write mode. Submitted as a
    // CONCURRENT Spark job (reads only the hot cache), awaited before
    // retention.
    val statsF: Future[(Long, Option[Long])] = Future {
      segsTyped
        .map(s => (s.n.toLong,
          Math.floorDiv(graft.codec.Gorilla.decodeTimestamps(s.tsBlob).max, 1000000L)))
        .toDF("n", "t")
        .agg(coalesce(sum("n"), lit(0)).cast("long"), max("t"))
        .as[(Long, Option[Long])].head()
    }

    // ---- rollup: every tier's points in ONE exchange-free fold over the
    // cached segments, cached once — the single points write, the lineage
    // counts and dims all read it
    val points = foldPoints(segsTyped, sorted).persist()
    timed("points fold (materialize)")(points.count())
    val toWrite =
      if (resume) points.join(broadcast(committed), Seq("tier", "pday"), "left_anti")
      else points
    val written = cfg.metricsInclude match {
      case Some(ms) =>
        val drop = Seq(
          "turns" -> Seq("turns"), "byRole" -> Seq("byRole"),
          "byTool" -> Seq("byTool"),
          "textLen" -> Seq("textLenSum", "textLenMin", "textLenMax"))
          .filterNot { case (m, _) => ms.contains(m) }.flatMap(_._2)
        toWrite.drop(drop: _*)
      case None => toWrite
    }
    // lineage: one point per (conv_id, bucket), so a partition's row count
    // is its distinct (conv_id, bucket) count
    val lineageCounts = written.groupBy("tier", "pday")
      .agg(count(lit(1)).as("rows"))
      .as[(String, String, Long)].collect().toSeq
    // all tiers in one write partitioned by (tier, pday) and one lineage
    // commit, chained behind the segments write; a failed write propagates
    // and skips every later one (serial semantics)
    val pointsF = writeChain.map { _ =>
      timed("points write")(
        io.write(written.repartition(writeParts, col("pday"), writeSalt),
          pointsPath, Seq("tier", "pday"), "overwrite"))
      Checkpoint.commitCounts(spark, io, cfg.outputRoot, cfg.runId,
        lineageCounts.toDF("tier", "pday", "rows"), fingerprint)
    }
    writeChain = pointsF

    // ---- dimension table (O3, the `once`-file analog): conversation-level
    // attributes written once per run, derived from the cached coarsest
    // tier's points (no extra scan of raw data); broadcast-join side for
    // downstream queries. The `once` analog requires one TABLE per run, not
    // one file: at 10^8–10^9 conversations a coalesce(1) would funnel the
    // whole table through a single task, so this is a pinned multi-task
    // write like the points/segments writes.
    val dims = points.filter(col("tier") === segTier.name).groupBy("conv_id").agg(
      sum("turns").as("turns_total"),
      sum("textLenSum").as("text_len_total"),
      min("bucket").as("first_bucket"),
      max("bucket").as("last_bucket"))
    val dimsF = writeChain.map { _ =>
      io.write(dims.repartition(writeParts),
        s"${cfg.outputRoot}/dims", Seq.empty, "overwrite")
    }
    writeChain = dimsF

    // ---- retention: after every points/segments write has landed (the
    // dims write may still be in flight — different table, no conf overlap)
    Await.result(pointsF, scala.concurrent.duration.Duration.Inf)
    val reports = sorted.map { t =>
      TierReport(t.name,
        written = lineageCounts.collect { case (t.name, _, n) => n }.sum,
        skipped = committedRows.count(_._1 == t.name).toLong)
    }
    val segsWritten = Await.result(segsWrittenF, scala.concurrent.duration.Duration.Inf)
    val (inputRows, maxTsSec) =
      Await.result(statsF, scala.concurrent.duration.Duration.Inf)
    val asOf = asOfSec.orElse(maxTsSec).getOrElse(0L)
    val retained = Retention(spark, io, pointsPath, cfg.tiers, asOf)
    // segments follow the COARSEST tier's retention (the safe policy:
    // segments are the decode source for every re-aggregation)
    Retention(spark, io, segmentsPath, Seq(segTier), asOf)
    Await.result(dimsF, scala.concurrent.duration.Duration.Inf)
    segsTyped.unpersist()
    points.unpersist()
    Checkpoint.recordMetrics(spark, io, cfg.outputRoot, cfg.runId, "run",
      Map("input_rows" -> inputRows.toDouble,
        "segments_written" -> segsWritten.toDouble) ++
        reports.map(r => s"points_${r.tier}" -> r.written.toDouble))
    RunReport(cfg.runId, inputRows, reports, segsWritten, retained)
  }

  /** Run several configs in one session with combined accounting — the
    * analog of `reshaper.py :: MultiSpecReshaper.convert/print_diagnostics`
    * (O2): one SparkSession, sequential datasets, one summary.
    */
  def runAll(spark: SparkSession, cfgs: Seq[RollupConfig],
      io: TableIO = ParquetTableIO): Seq[RunReport] = {
    val reports = cfgs.map(c => run(spark, c, io))
    val total = reports.map(_.inputRows).sum
    println(s"[rollup] multi-run: ${reports.size} datasets, $total total input rows")
    reports
  }
}

/** spark-submit entry point:
  * {{{
  * spark-submit --class graft.RollupMain app.jar \
  *   <inputPath> <outputRoot> [writeMode=o] [runId=run-0]
  * }}}
  */
object RollupMain {
  def main(args: Array[String]): Unit = {
    val input = args(0)
    val output = args(1)
    val mode = if (args.length > 2) args(2) else "o"
    val runId = if (args.length > 3) args(3) else "run-0"
    val builder = SparkSession.builder()
      .appName("graft-rollup")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // shuffle-codec knob (see BenchScaling note); default lz4
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_CODEC", "lz4"))
    // under spark-submit the master comes from --master (spark.master prop);
    // standalone runs fall back to local mode
    if (!sys.props.contains("spark.master")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
      // 4x cores: per-partition encode cost varies with text bytes, so
      // tasks==cores leaves cores idle behind stragglers
      val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", (cpus.toInt * 4).toString)
      builder.master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.files.maxPartitionBytes", "8388608")
        .config("spark.ui.enabled", "false")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = RollupJob.run(spark,
      RollupConfig(inputPath = input, outputRoot = output,
        writeMode = mode, runId = runId))
    println(report)
    spark.stop()
  }
}
