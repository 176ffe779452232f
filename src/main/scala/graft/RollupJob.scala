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

  private def pdayCol = Rollups.utcDay(col("bucket"))

  private def timed[T](phase: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[rollup] $phase: $sec%.1f s")
    (r, sec)
  }

  /** wmode-'a' input predicate: `ts >= start of the UTC day after minHw`,
    * the first second whose [[Rollups.utcDay]] is past the high-water pday.
    * A plain `>=` on the ts column against a timestamp literal so the scan
    * can prune on min/max stats and partition transforms (pushdown asserted
    * by PlanAuditSpec).
    */
  private[graft] def appendPredicate(minHw: String): org.apache.spark.sql.Column = {
    val nextDaySec = (java.time.LocalDate.parse(minHw).toEpochDay + 1) * 86400L
    col("ts") >= lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(nextDaySec)))
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
    // of the UTC day after the high-water pday) so parquet/Iceberg can
    // prune row groups on ts min/max stats and partition transforms; a
    // date_format(ts) string comparison would force a full rescan of the
    // raw table on every append run (PlanAuditSpec asserts the pushdown).
    val turns = if (cfg.writeMode == "a") {
      val hw = Checkpoint.highWater(spark, io, cfg.outputRoot)
      hw.values.minOption match {
        case Some(minHw) =>
          turnsAll.filter(appendPredicate(minHw))
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
    import scala.concurrent.duration.Duration

    // ---- segments (the pivot) at the coarsest tier: long segments amortize
    // per-segment encode cost; memory stays bounded via maxPointsPerSegment,
    // which also splits a hot conversation's bucket into several segments.
    val segTier = sorted.last
    val segName = s"seg-${segTier.name}"
    // the segments are the job's ONLY full read of the raw table: the points
    // fold below decodes them (≈2% of raw bytes) instead of rescanning raw
    val segsTyped = SeriesPivot.segmentsSorted(turns, segTier, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val segs = segsTyped.toDF().withColumn("pday", pdayCol)
    val segsToWrite =
      if (resume) segs.join(
        broadcast(committed.filter(col("tier") === segName).select("pday")),
        Seq("pday"), "left_anti")
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

    // the pass that materializes the segments cache also takes every count
    // the job needs, per pday: segments, turns (sum of n, never a second raw
    // scan) and the max event second (drives retention)
    val committedSet = committedRows.toSet
    val (segStats, _) = timed("segments pivot (materialize)")(segsTyped
      .map(s => (s.bucket, s.n.toLong,
        Math.floorDiv(graft.codec.Gorilla.decodeTimestamps(s.tsBlob).max, 1000000L)))
      .toDF("bucket", "n", "t")
      .groupBy(pdayCol.as("pday"))
      .agg(count(lit(1)), sum("n"), max("t"))
      .as[(String, Long, Long, Long)].collect().toSeq)
    val segLineage = segStats.collect {
      case (pday, nSegs, _, _) if !committedSet((segName, pday)) => (segName, pday, nSegs)
    }
    val inputRows = segStats.map(_._3).sum
    val maxTsSec = segStats.map(_._4).maxOption
    val segsWritten = segLineage.map(_._3).sum

    // ---- overlap discipline: data partitions land before their lineage
    // append, and a failed write skips every later one (the Await below).
    // The segments write + commit runs in the background while this thread
    // folds the points into the cache, overlapping the write's commit +
    // listing tail.
    val segsF = Future {
      timed("segments write")(
        io.write(segsToWrite.repartition(writeParts, col("pday"), writeSalt),
          segmentsPath, Seq("tier", "pday"), "overwrite"))
      Checkpoint.commitCounts(spark, io, cfg.outputRoot, cfg.runId,
        segLineage.toDF("tier", "pday", "rows"), fingerprint)
    }

    // ---- rollup: every tier's points in ONE exchange-free fold over the
    // cached segments, cached once — the points write and dims read it. The
    // pass that materializes the cache also counts each (tier, pday): one
    // point per (conv_id, bucket), so that is the partition's lineage count.
    val points = foldPoints(segsTyped, sorted).persist()
    val (pointCounts, _) = timed("points fold (materialize)")(
      points.groupBy("tier", "pday").count()
        .as[(String, String, Long)].collect().toSeq)
    val pointLineage = pointCounts.filterNot { case (t, d, _) => committedSet((t, d)) }
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
    // all tiers in one write partitioned by (tier, pday) and one lineage
    // commit, after the segments write has landed; a failed segments write
    // propagates here and skips every later write
    Await.result(segsF, Duration.Inf)
    timed("points write")(
      io.write(written.repartition(writeParts, col("pday"), writeSalt),
        pointsPath, Seq("tier", "pday"), "overwrite"))
    Checkpoint.commitCounts(spark, io, cfg.outputRoot, cfg.runId,
      pointLineage.toDF("tier", "pday", "rows"), fingerprint)

    // ---- dimension table (O3, the `once`-file analog): conversation-level
    // attributes written once per run, derived from the cached coarsest
    // tier's points (no extra scan of raw data); broadcast-join side for
    // downstream queries. The `once` analog requires one TABLE per run, not
    // one file: at 10^8–10^9 conversations a coalesce(1) would funnel the
    // whole table through a single task, so this is a pinned multi-task
    // write like the points/segments writes. It runs in the background
    // while retention drops expired partitions of the other tables.
    val dims = points.filter(col("tier") === segTier.name).groupBy("conv_id").agg(
      sum("turns").as("turns_total"),
      sum("textLenSum").as("text_len_total"),
      min("bucket").as("first_bucket"),
      max("bucket").as("last_bucket"))
    val dimsF = Future {
      io.write(dims.repartition(writeParts),
        s"${cfg.outputRoot}/dims", Seq.empty, "overwrite")
    }

    val reports = sorted.map { t =>
      TierReport(t.name,
        written = pointLineage.collect { case (t.name, _, n) => n }.sum,
        skipped = committedRows.count(_._1 == t.name).toLong)
    }
    // ---- retention: after every points/segments write has landed (the
    // dims write may still be in flight — a different table)
    val asOf = asOfSec.orElse(maxTsSec).getOrElse(0L)
    val retained = Retention(spark, io, pointsPath, cfg.tiers, asOf)
    // segments follow the COARSEST tier's retention (the safe policy:
    // segments are the decode source for every re-aggregation)
    Retention(spark, io, segmentsPath, Seq(segTier), asOf)
    Await.result(dimsF, Duration.Inf)
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
    // under spark-submit the master comes from --master (spark.master prop);
    // standalone runs fall back to local mode
    val builder =
      if (sys.props.contains("spark.master")) SparkSession.builder()
        .config("spark.sql.adaptive.enabled", "true")
      else LocalSession.builder(LocalSession.envCpus(8))
    val spark = builder.appName("graft-rollup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = RollupJob.run(spark,
      RollupConfig(inputPath = input, outputRoot = output,
        writeMode = mode, runId = runId))
    println(report)
    spark.stop()
  }
}
