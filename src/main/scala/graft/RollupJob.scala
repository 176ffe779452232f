package graft

import graft.ckpt.Checkpoint
import graft.io.{ParquetTableIO, TableIO}
import graft.pivot.SeriesPivot
import graft.retain.Retention
import graft.rollup.Rollups
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
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

  /** Rows one write task takes before an output partition is split over a
    * second salt bucket; a segments partition counts its turns (the sum of
    * n). The salt exists to keep a hot day from serializing into one
    * parquet-writing task, not to cap file size, and every split adds a
    * task, a file commit and a listing entry. On the benchmark's table
    * (rollup_full, seed 11) a point takes about 21 B on disk and a turn
    * about 28 B of segments, so 1M rows make a 20–30 MB file: still under
    * one 128 MB parquet block, so a smaller file would only add files.
    */
  private[graft] final val RowsPerFile = 1000000L

  /** Salt buckets, one file each, for an output partition of `rows` rows:
    * `ceil(rows / RowsPerFile)`, at least 1 and at most `cap`
    * (`RollupConfig.writeSaltBuckets`).
    */
  private[graft] def saltBuckets(rows: Long, cap: Int): Int =
    math.max(1L, math.min(cap.toLong, (rows - 1) / RowsPerFile + 1)).toInt

  /** The write repartition's salt: `conv_id` hashed over its (tier, pday)
    * partition's [[saltBuckets]], from the partition's row count; a
    * partition with one bucket (or no count) takes salt 0. Only split
    * partitions get a CASE branch.
    */
  private[graft] def writeSalt(rows: Seq[((String, String), Long)], cap: Int): Column = {
    val split = rows.map { case (part, n) => part -> saltBuckets(n, cap) }
      .collect { case ((t, d), n) if n > 1 => (col("tier") === t && col("pday") === d) -> n }
    if (split.isEmpty) lit(0)
    else pmod(xxhash64(col("conv_id")), split.tail
      .foldLeft(when(split.head._1, split.head._2)) { case (w, (c, n)) => w.when(c, n) }
      .otherwise(1))
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
    // rollup: every tier's points in ONE exchange-free fold over the cached
    // segments, cached once — the points write and dims read it
    val points = foldPoints(segsTyped, sorted).persist()
    // every write the run starts in the background: the finally below waits
    // for each, so a throw anywhere leaves no write running into the next
    // run, and both caches are released on every exit
    val background = scala.collection.mutable.ListBuffer.empty[Future[Unit]]
    def inBackground(body: => Unit): Future[Unit] = {
      val f = Future(body)
      background += f
      f
    }
    try {
      val segs = segsTyped.toDF().withColumn("pday", pdayCol)
      val segsToWrite =
        if (resume) segs.join(
          broadcast(committed.filter(col("tier") === segName).select("pday")),
          Seq("pday"), "left_anti")
        else segs
      // write fan-out: each (tier, pday) partition's rows go to
      // saltBuckets(rows) tasks, chosen from the exact counts the two
      // materializing passes below collect. A small day is one task and one
      // file; a hot day (one pday holding most of the data) still spreads
      // over at most writeSaltBuckets tasks instead of serializing into one
      // parquet-writing task. numPartitions is PINNED (REPARTITION_BY_NUM)
      // so AQE can't coalesce write parallelism away on small data.
      val writeParts = spark.sessionState.conf.numShufflePartitions
      def forWrite(df: DataFrame, rows: Seq[((String, String), Long)]): DataFrame =
        df.repartition(writeParts, col("tier"), col("pday"),
          writeSalt(rows, cfg.writeSaltBuckets))

      // the pass that materializes the segments cache also takes every count
      // the job needs, per pday: segments, turns (sum of n, never a second
      // raw scan) and the max event second (drives retention)
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
      val segsF = inBackground {
        timed("segments write")(
          io.write(forWrite(segsToWrite, segStats.map(s => (segTier.name, s._1) -> s._3)),
            segmentsPath, Seq("tier", "pday"), "overwrite"))
        Checkpoint.commitCounts(spark, io, cfg.outputRoot, cfg.runId,
          segLineage.toDF("tier", "pday", "rows"), fingerprint)
      }

      // the pass that materializes the points cache also counts each
      // (tier, pday): one point per (conv_id, bucket), so that is the
      // partition's lineage count and its write fan-out
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
        io.write(forWrite(written, pointCounts.map { case (t, d, n) => (t, d) -> n }),
          pointsPath, Seq("tier", "pday"), "overwrite"))
      Checkpoint.commitCounts(spark, io, cfg.outputRoot, cfg.runId,
        pointLineage.toDF("tier", "pday", "rows"), fingerprint)

      // ---- dimension table (O3, the `once`-file analog): conversation-level
      // attributes written once per run, derived from the cached coarsest
      // tier's points (no extra scan of raw data); broadcast-join side for
      // downstream queries. The `once` analog requires one TABLE per run, not
      // one file: it is written straight from its aggregation's shuffle, so
      // its file count follows that shuffle's (AQE-sized) partitions and no
      // single task funnels 10^8–10^9 conversations. It runs in the
      // background while retention drops expired partitions of the other
      // tables.
      val dims = points.filter(col("tier") === segTier.name).groupBy("conv_id").agg(
        sum("turns").as("turns_total"),
        sum("textLenSum").as("text_len_total"),
        min("bucket").as("first_bucket"),
        max("bucket").as("last_bucket"))
      val dimsF = inBackground {
        timed("dims write")(
          io.write(dims, s"${cfg.outputRoot}/dims", Seq.empty, "overwrite"))
      }

      val reports = sorted.map { t =>
        TierReport(t.name,
          written = pointLineage.collect { case (t.name, _, n) => n }.sum,
          skipped = committedRows.count(_._1 == t.name).toLong)
      }
      // ---- retention: after every points/segments write has landed (the
      // dims write may still be in flight — a different table). Segments
      // follow the COARSEST tier's retention (the safe policy: segments are
      // the decode source for every re-aggregation).
      val asOf = asOfSec.orElse(maxTsSec).getOrElse(0L)
      val (retained, _) = timed("retention") {
        val cuts = Retention(spark, io, pointsPath, cfg.tiers, asOf)
        Retention(spark, io, segmentsPath, Seq(segTier), asOf)
        cuts
      }
      Await.result(dimsF, Duration.Inf)
      Checkpoint.recordMetrics(spark, io, cfg.outputRoot, cfg.runId, "run",
        Map("input_rows" -> inputRows.toDouble,
          "segments_written" -> segsWritten.toDouble) ++
          reports.map(r => s"points_${r.tier}" -> r.written.toDouble))
      RunReport(cfg.runId, inputRows, reports, segsWritten, retained)
    } finally {
      background.foreach(Await.ready(_, Duration.Inf))
      segsTyped.unpersist()
      points.unpersist()
    }
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
