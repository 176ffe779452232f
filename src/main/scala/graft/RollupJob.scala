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
  * mode (Checkpoint): `s` and `a` read only the UTC days they still owe.
  * Per-conversation totals (O3) are not stored: [[dims]] derives them.
  */
object RollupJob {

  case class TierReport(tier: String, written: Long, skipped: Long)
  case class RunReport(runId: String, inputRows: Long,
      tiers: Seq[TierReport], segmentsWritten: Long,
      retention: Map[String, String])

  private def pdayCol = Rollups.utcDay(col("bucket"))

  private def timed[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[rollup] $phase: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
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

  /** The resume input predicate: `ts` outside the skipped UTC `days`, with
    * consecutive days merged into one closed range; `openBelow` drops the
    * first range's lower bound (wmode 'a'). Plain ts-vs-literal compares, so
    * the scan prunes on min/max stats (PlanAuditSpec asserts the pushdown).
    */
  private[graft] def skipPredicate(days: Seq[String], openBelow: Boolean = false): Column = {
    def start(epochDay: Long) =
      lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(epochDay * 86400L)))
    val ds = days.map(java.time.LocalDate.parse(_).toEpochDay).toSet
    val ranges = ds.filterNot(d => ds(d - 1)).toSeq.sorted.zip(ds.filterNot(d => ds(d + 1)).toSeq.sorted)
    ranges.zipWithIndex.map { case ((lo, hi), i) =>
      val after = col("ts") >= start(hi + 1)
      if (openBelow && i == 0) after else col("ts") < start(lo) || after
    }.foldLeft(lit(true))(_ && _)
  }

  /** The job's points: every tier folded from the pivot's segments in one
    * exchange-free pass, plus the `pday` partition column.
    */
  private[graft] def foldPoints(segs: Dataset[Segment], tiers: Seq[Tier]): DataFrame =
    Rollups.pointsFromSegments(segs, tiers).toDF().withColumn("pday", pdayCol)

  /** Per-conversation totals, the analog of PyReshaper's `once` file
    * (SURVEY.md O3): the coarsest of `cfg.tiers` in `points` (as read from
    * `<outputRoot>/points`, with its `turns` and `textLenSum`) summed by
    * `conv_id`. Derived, not stored, so they describe what the points table
    * holds whatever mix of write modes built it. Does no IO.
    */
  def dims(points: DataFrame, cfg: RollupConfig): DataFrame =
    points.filter(col("tier") === cfg.tiers.maxBy(_.bucketSec).name)
      .groupBy("conv_id").agg(
        sum("turns").as("turns_total"),
        sum("textLenSum").as("text_len_total"),
        min("bucket").as("first_bucket"),
        max("bucket").as("last_bucket"))

  /** Run the full pipeline. `asOfSec` drives retention (None = the newest
    * event second the run reads, deterministic — never wall-clock; a run
    * that reads no turns then drops nothing and reports no cutoffs). Write
    * modes `s` and `a` read only the UTC days they still owe
    * ([[skipPredicate]]); past the scan, every mode runs the same code.
    */
  def run(spark: SparkSession, cfg: RollupConfig,
      io: TableIO = ParquetTableIO, asOfSec: Option[Long] = None): RunReport = {
    import spark.implicits._
    val pointsPath = s"${cfg.outputRoot}/points"
    val segmentsPath = s"${cfg.outputRoot}/segments"

    // validation before any read or write: unknown write modes and metric
    // names fail (P2, like Specifier.time_series on absent variables)
    require(Seq("w", "s", "o", "a").contains(cfg.writeMode),
      s"unknown write mode '${cfg.writeMode}'; valid: w,s,o,a")
    cfg.metricsInclude.foreach { ms =>
      val unknown = ms.filterNot(RollupConfig.AllMetrics.contains)
      require(unknown.isEmpty,
        s"unknown metrics ${unknown.mkString(",")}; valid: ${RollupConfig.AllMetrics.mkString(",")}")
    }

    // ---- wmode 'w': error-if-exists (reshaper _inspect_output_files) ----
    if (cfg.writeMode == "w" && io.exists(spark, pointsPath))
      sys.error(s"output $pointsPath exists and write mode is 'w'")

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

    // ---- resume (S3/P3): the committed days of each table the run writes
    // (segments, each tier's points) decide which UTC days the scan skips,
    // as the reference drops a written series from its work list.
    val sorted = cfg.tiers.sortBy(_.bucketSec)
    val segTier = sorted.last
    val segName = s"seg-${segTier.name}"
    val committedRows: Seq[(String, String)] = cfg.writeMode match {
      case "s" | "a" => Checkpoint.committed(spark, io, cfg.outputRoot)
        .as[(String, String)].collect().toSeq
      case _ => Seq.empty
    }
    val committedDays = (segName +: sorted.map(_.name))
      .map(t => committedRows.collect { case (`t`, d) => d }.toSet)
    // 'a' skips each day through the lowest of the tables' newest committed
    // days (none if a table has none), 's' each day every table committed;
    // any other day is read and rewritten whole
    val skip = cfg.writeMode match {
      case "a" if committedDays.forall(_.nonEmpty) =>
        skipPredicate(Seq(committedDays.map(_.max).min), openBelow = true)
      case "s" => skipPredicate(committedDays.reduce(_ intersect _).toSeq)
      case _ => lit(true)
    }
    val turns = turnsAll.filter(skip)

    val fingerprint = s"${cfg.inputPath}@${cfg.runId}"
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration

    // ---- segments (the pivot) at the coarsest tier: long segments amortize
    // per-segment encode cost; memory stays bounded via maxPointsPerSegment,
    // which also splits a hot conversation's bucket into several segments.
    // the segments are the job's ONLY full read of the raw table: the points
    // fold below decodes them (≈2% of raw bytes) instead of rescanning raw
    val segsTyped = SeriesPivot.segmentsSorted(turns, segTier, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // rollup: every tier's points in ONE exchange-free fold over the cached
    // segments, cached once — its count pass and the points write read it
    val points = foldPoints(segsTyped, sorted).persist()
    // the run's one background write (segments): the finally below waits for
    // it, so a throw anywhere leaves no write running into the next run, and
    // both caches are released on every exit
    var segsF: Future[Unit] = Future.unit
    try {
      val segs = segsTyped.toDF().withColumn("pday", pdayCol)
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
      val segStats = timed("segments pivot (materialize)")(segsTyped
        .map(s => (s.bucket, s.n.toLong,
          Math.floorDiv(graft.codec.Gorilla.decodeTimestamps(s.tsBlob).max, 1000000L)))
        .toDF("bucket", "n", "t")
        .groupBy(pdayCol.as("pday"))
        .agg(count(lit(1)), sum("n"), max("t"))
        .as[(String, Long, Long, Long)].collect().toSeq)
      val inputRows = segStats.map(_._3).sum
      val maxTsSec = segStats.map(_._4).maxOption
      val segsWritten = segStats.map(_._2).sum

      // ---- overlap discipline: data partitions land before their lineage
      // append, and a failed write skips every later one (the Await below).
      // The segments write + commit runs in the background while this thread
      // folds the points into the cache, overlapping the write's commit +
      // listing tail.
      segsF = Future {
        timed("segments write")(
          io.write(forWrite(segs, segStats.map(s => (segTier.name, s._1) -> s._3)),
            segmentsPath, Seq("tier", "pday"), "overwrite"))
        Checkpoint.commitCounts(spark, io, cfg.outputRoot, cfg.runId,
          segStats.map(s => (segName, s._1, s._2)).toDF("tier", "pday", "rows"), fingerprint)
      }

      // the pass that materializes the points cache also counts each
      // (tier, pday): one point per (conv_id, bucket), so that is the
      // partition's lineage count and its write fan-out
      val pointCounts = timed("points fold (materialize)")(
        points.groupBy("tier", "pday").count()
          .as[(String, String, Long)].collect().toSeq)
      val written = cfg.metricsInclude match {
        case Some(ms) =>
          val drop = Seq(
            "turns" -> Seq("turns"), "byRole" -> Seq("byRole"),
            "byTool" -> Seq("byTool"),
            "textLen" -> Seq("textLenSum", "textLenMin", "textLenMax"))
            .filterNot { case (m, _) => ms.contains(m) }.flatMap(_._2)
          points.drop(drop: _*)
        case None => points
      }
      // all tiers in one write partitioned by (tier, pday) and one lineage
      // commit, after the segments write has landed; a failed segments write
      // propagates here and skips every later write
      Await.result(segsF, Duration.Inf)
      timed("points write")(
        io.write(forWrite(written, pointCounts.map { case (t, d, n) => (t, d) -> n }),
          pointsPath, Seq("tier", "pday"), "overwrite"))
      Checkpoint.commitCounts(spark, io, cfg.outputRoot, cfg.runId,
        pointCounts.toDF("tier", "pday", "rows"), fingerprint)

      val reports = sorted.map { t =>
        TierReport(t.name,
          written = pointCounts.collect { case (t.name, _, n) => n }.sum,
          skipped = committedRows.count(_._1 == t.name).toLong)
      }
      // ---- retention: after every points/segments write has landed.
      // Segments follow the COARSEST tier's retention (the safe policy:
      // segments are the decode source for every re-aggregation). A run
      // that reads no turns and gets no asOf has no clock: it drops nothing.
      val retained = asOfSec.orElse(maxTsSec).fold(Map.empty[String, String]) { asOf =>
        timed("retention") {
          val cuts = Retention(spark, io, pointsPath, cfg.tiers, asOf)
          Retention(spark, io, segmentsPath, Seq(segTier), asOf)
          cuts
        }
      }
      Checkpoint.recordMetrics(spark, io, cfg.outputRoot, cfg.runId, "run",
        Map("input_rows" -> inputRows.toDouble,
          "segments_written" -> segsWritten.toDouble) ++
          reports.map(r => s"points_${r.tier}" -> r.written.toDouble))
      RunReport(cfg.runId, inputRows, reports, segsWritten, retained)
    } finally {
      Await.ready(segsF, Duration.Inf)
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
    if (args.length < 2) {
      System.err.println("usage: RollupMain <inputPath> <outputRoot> [writeMode=o] [runId=run-0]")
      sys.exit(2)
    }
    // under spark-submit the master comes from --master (spark.master prop);
    // standalone runs fall back to local mode
    val builder =
      if (sys.props.contains("spark.master")) SparkSession.builder()
        .config("spark.sql.adaptive.enabled", "true")
      else LocalSession.builder(LocalSession.envCpus(8))
    val spark = builder.appName("graft-rollup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = RollupJob.run(spark, RollupConfig(inputPath = args(0), outputRoot = args(1),
      writeMode = args.lift(2).getOrElse("o"), runId = args.lift(3).getOrElse("run-0")))
    println(report)
    spark.stop()
  }
}
