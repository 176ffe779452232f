package graft

import graft.gen.Synth
import graft.io.{OrcTableIO, ParquetTableIO, TableIO}
import graft.pivot.SeriesPivot
import graft.retain.Retention
import graft.rollup.Rollups
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** RollupJob orchestration features: dims table (once-file analog O3),
  * output limit (X3), metric include-list (P2), multi-config run (O2),
  * outputs that no caller session setting changes, the write fan-out,
  * empty input, job-free retention and a failed run's clean-up.
  */
class JobFeaturesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-feats").toString
  private lazy val inputPath = {
    val p = s"$tmp/input"
    Synth.tiny(spark).write.parquet(p)
    p
  }
  // the tiny fixture moved to straddle UTC midnight: 2023-11-14T23:53:20Z
  // to about 00:16 on 2023-11-15, one local day in Tokyo and another in
  // Los Angeles
  private lazy val midnightInput = {
    val p = s"$tmp/input-midnight"
    spark.read.parquet(inputPath)
      .withColumn("ts", col("ts") + expr("INTERVAL 6000 SECONDS")).write.parquet(p)
    p
  }

  private def table(out: String, t: String) = ParquetTableIO.read(spark, s"$out/$t")
  private def points(out: String) = table(out, "points").selectExpr("tier", "pday",
    "conv_id", "bucket", "turns", "array_sort(map_entries(byRole)) AS br",
    "array_sort(map_entries(byTool)) AS bt", "textLenSum", "textLenMin",
    "textLenMax", "filled")
  private def lineage(out: String, segments: Boolean) = {
    val seg = col("tier").startsWith("seg-")
    table(out, "_lineage").filter(if (segments) seg else !seg)
      .select("tier", "pday", "rows")
  }
  private def segments(out: String) = table(out, "segments").drop("pday").as[Segment]

  /** Data files of a table, by the partition directory that holds them. */
  private def dataFiles(dir: String): Map[String, Int] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    walk(new java.io.File(dir)).groupBy(_.getParent).map { case (d, fs) =>
      new java.io.File(dir).toPath.relativize(new java.io.File(d).toPath).toString -> fs.size }
  }

  /** Spark jobs this thread starts while `body` runs. Listener events
    * arrive asynchronously but in order, so once the listener has seen a
    * marker job run afterwards, it has seen every earlier job start.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    try {
      inGroup("measured")(body)
      inGroup("marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("marker"), "the listener never saw the marker job")
      groups.asScala.count(_ == "measured")
    } finally sc.removeSparkListener(listener)
  }

  /** Parquet with one table's write or partition drop made to fail, and one
    * table's writes held back a second. The failure waits until the held
    * write has started, so a background write is running when it hits.
    * `inFlight` counts writes not yet ended.
    */
  private class FailingIO(failWrite: String = "", failDrop: String = "",
      slowWrite: String) extends TableIO {
    val inFlight = new java.util.concurrent.atomic.AtomicInteger
    private val slowStarted = new java.util.concurrent.CountDownLatch(1)
    private def is(path: String, table: String) = table.nonEmpty && path.endsWith(s"/$table")
    private def fail(what: String): Nothing = {
      assert(slowStarted.await(30, java.util.concurrent.TimeUnit.SECONDS), "no held write started")
      sys.error(s"injected failure $what")
    }
    def read(spark: SparkSession, path: String): DataFrame = ParquetTableIO.read(spark, path)
    def exists(spark: SparkSession, path: String): Boolean = ParquetTableIO.exists(spark, path)
    def write(df: DataFrame, path: String, partitionCols: Seq[String], mode: String): Unit = {
      inFlight.incrementAndGet()
      try {
        if (is(path, slowWrite)) {
          slowStarted.countDown()
          Thread.sleep(1000)
        }
        if (is(path, failWrite)) fail(s"writing $path")
        ParquetTableIO.write(df, path, partitionCols, mode)
      } finally inFlight.decrementAndGet()
    }
    def dropPartitions(spark: SparkSession, path: String, predicate: String): Unit = {
      if (is(path, failDrop)) fail(s"dropping from $path")
      ParquetTableIO.dropPartitions(spark, path, predicate)
    }
  }

  test("run() in a non-UTC session writes the UTC run's outputs and keeps the zone") {
    // pdays and retention cutoffs are UTC days by construction, whatever
    // the caller's session zone; at this asOf the 1m cutoff is 2023-11-15,
    // so retention drops a pday
    val asOf = Synth.Epoch + 7 * 86400L + 3 * 3600L
    val zone = "spark.sql.session.timeZone"
    def runIn(tz: String) = {
      spark.conf.set(zone, tz)
      try {
        val out = s"$tmp/tz-${tz.replace('/', '-')}"
        val r = RollupJob.run(spark, RollupConfig(midnightInput, out, runId = "tz"),
          asOfSec = Some(asOf))
        assert(spark.conf.get(zone) == tz, s"run() changed the session zone from $tz")
        out -> r.retention
      } finally spark.conf.set(zone, "UTC")
    }
    val (utcOut, utcCuts) = runIn("UTC")
    assert(utcCuts("1m") == "2023-11-15")
    val pdays = points(utcOut).groupBy("tier").agg(sort_array(collect_set("pday")))
      .as[(String, Seq[String])].collect().toMap
    assert(pdays == Map("1m" -> Seq("2023-11-15"),
      "1h" -> Seq("2023-11-14", "2023-11-15"), "1d" -> Seq("2023-11-14", "2023-11-15")))
    Seq("Asia/Tokyo", "America/Los_Angeles").foreach { tz =>
      val (out, cuts) = runIn(tz)
      assert(cuts == utcCuts, s"$tz: retention cutoffs")
      def same(what: String, f: String => org.apache.spark.sql.DataFrame): Unit =
        assertSameRows(f(out), f(utcOut), s"$tz vs UTC: $what")
      same("points", points)
      same("decoded segments", o => SeriesPivot.decode(segments(o)).toDF())
      same("dims", table(_, "dims"))
      same("point lineage", lineage(_, segments = false))
      same("seg-1d lineage", lineage(_, segments = true))
    }
  }

  test("overwrite is dynamic per write; a STATIC session keeps its mode") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    val ref = s"$tmp/static-ref"
    val out = s"$tmp/static"
    val oneDay = s"$tmp/input-2023-11-15"
    spark.read.parquet(midnightInput)
      .filter(Rollups.utcDay(unix_timestamp(col("ts"))) === "2023-11-15")
      .write.parquet(oneDay)
    spark.conf.set(key, "STATIC")
    try {
      RollupJob.run(spark, RollupConfig(midnightInput, ref, runId = "st-ref"))
      RollupJob.run(spark, RollupConfig(midnightInput, out, runId = "st-1"))
      // an o run over one day's input replaces that day's partitions only
      RollupJob.run(spark, RollupConfig(oneDay, out, runId = "st-2"))
      assert(spark.conf.get(key) == "STATIC")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(points(ref).select("pday").distinct().count() == 2)
    assertSameRows(points(out), points(ref), "points after a one-day o run")
    assertSameRows(SeriesPivot.decode(segments(out)).toDF(),
      spark.read.parquet(midnightInput), "segments after a one-day o run decode to the input")
  }

  test("TIMESTAMP_NTZ input fails fast in Validate, before any shuffle") {
    val ntzIn = s"$tmp/input-ntz"
    spark.read.parquet(inputPath)
      .withColumn("ts", col("ts").cast("timestamp_ntz")).write.parquet(ntzIn)
    val out = s"$tmp/ntz"
    val sc = spark.sparkContext
    sc.setJobGroup("ntz-input", "TIMESTAMP_NTZ input")
    val e = try intercept[IllegalArgumentException] {
      RollupJob.run(spark, RollupConfig(ntzIn, out, runId = "ntz"))
    } finally sc.clearJobGroup()
    assert(e.getMessage.contains("mistyped: ts: got TimestampNTZType, want TimestampType"),
      e.getMessage)
    // the only Spark work is the reader's schema inference (a footer read)
    val stages = sc.statusTracker.getJobIdsForGroup("ntz-input").toSeq
      .flatMap(sc.statusTracker.getJobInfo(_)).flatMap(_.stageIds)
      .flatMap(sc.statusTracker.getStageInfo(_)).map(_.name)
    assert(stages.forall(_.startsWith("load at")), s"stages before the rejection: $stages")
    assert(!new java.io.File(out).exists())
  }

  test("job points are the same whether AQE may re-plan cached output partitioning") {
    // the fold depends only on the pivot's in-partition order, which no
    // planner rule reorders, so the job needs no pin on this conf
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val before = spark.conf.getOption(key)
    def pointsWith(v: String) = {
      spark.conf.set(key, v)
      val out = s"$tmp/cached-partitioning-$v"
      RollupJob.run(spark, RollupConfig(inputPath, out, runId = s"cp-$v"))
      points(out)
    }
    try assertSameRows(pointsWith("true"), pointsWith("false"), "conf true vs false")
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("job outputs are invariant to partitioning, AQE, write salt, segment size and input layout") {
    // the job's one fold (pointsFromSegments) is correct only while the
    // pivot keeps each conv-day's segments consecutive in one partition;
    // none of these settings may change what the job writes
    val parts = "spark.sql.shuffle.partitions"
    val aqe = "spark.sql.adaptive.enabled"
    val before = Seq(parts, aqe).map(k => k -> spark.conf.getOption(k))
    val input3 = s"$tmp/input-repartition-3"
    spark.read.parquet(inputPath).repartition(3).write.parquet(input3)
    case class Run(name: String, confs: Map[String, String],
        cfg: RollupConfig => RollupConfig = identity, input: String = inputPath)
    val runs = Seq(
      Run("p1-aqe-off", Map(parts -> "1", aqe -> "false")),
      Run("p7-aqe-on", Map(parts -> "7", aqe -> "true")),
      Run("p16-salt1", Map(parts -> "16"), _.copy(writeSaltBuckets = 1)),
      Run("seg7", Map.empty, _.copy(maxPointsPerSegment = 7)),
      Run("input-repartition-3", Map.empty, input = input3))
    def restore(): Unit = before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val outs = try runs.map { r =>
      restore()
      r.confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val out = s"$tmp/invariance-${r.name}"
      RollupJob.run(spark, r.cfg(RollupConfig(r.input, out, runId = "inv")))
      r -> out
    } finally restore()

    val input = spark.read.parquet(inputPath)
    outs.foreach { case (r, out) =>
      assertSameRows(SeriesPivot.decode(segments(out)).toDF(), input,
        s"${r.name}: segments decode to the input")
    }
    val (first, firstOut) = outs.head
    outs.tail.foreach { case (r, out) =>
      def same(what: String, f: String => org.apache.spark.sql.DataFrame): Unit =
        assertSameRows(f(out), f(firstOut), s"${r.name} vs ${first.name}: $what")
      same("points", points)
      same("dims", table(_, "dims"))
      same("point lineage", lineage(_, segments = false))
      // at 7 points per segment a conv-day spans more segments, so only
      // the runs at the default size share their segments and seg- lineage
      if (r.name != "seg7") {
        same("segments", segments(_).toDF())
        same("seg-1d lineage", lineage(_, segments = true))
      } else assert(segments(out).count() > segments(firstOut).count(),
        "7-point segments split no conv-day")
    }
  }

  test("saltBuckets: one bucket per RowsPerFile rows, clamped to [1, cap]") {
    val r = RollupJob.RowsPerFile
    val rows = Seq(0L, 1L, r, r + 1, 100 * r)
    assert(rows.map(RollupJob.saltBuckets(_, 8)) == Seq(1, 1, 1, 2, 8))
    assert(rows.map(RollupJob.saltBuckets(_, 1)) == Seq(1, 1, 1, 1, 1))
    // the salt spreads a split partition over its buckets and leaves the
    // others (one bucket, or no count) on salt 0
    val df = Seq("1m", "1h", "1d").flatMap(t => (1 to 200).map(i => (t, "2023-11-14", s"c$i")))
      .toDF("tier", "pday", "conv_id")
    val salts = df.withColumn("s", RollupJob.writeSalt(Seq(("1m", "2023-11-14") -> 4 * r,
        ("1h", "2023-11-14") -> r, ("1d", "2023-11-15") -> 3 * r), cap = 8))
      .groupBy("tier").agg(sort_array(collect_set("s")))
      .as[(String, Seq[Long])].collect().toMap
    assert(salts == Map("1m" -> Seq(0L, 1L, 2L, 3L), "1h" -> Seq(0L), "1d" -> Seq(0L)))
  }

  test("write fan-out: one file per small (tier, pday) partition and one dims file") {
    val out = s"$tmp/fanout"
    RollupJob.run(spark, RollupConfig(inputPath, out, runId = "fan"))
    val points = dataFiles(s"$out/points")
    assert(points.keySet == Set("tier=1m", "tier=1h", "tier=1d").map(_ + "/pday=2023-11-14"))
    Seq("points" -> points, "segments" -> dataFiles(s"$out/segments")).foreach { case (t, files) =>
      assert(files.nonEmpty && files.values.forall(_ == 1), s"$t files per partition: $files")
    }
    assert(dataFiles(s"$out/dims") == Map("" -> 1))
  }

  test("empty input: an o run then an a run succeed and write empty tables") {
    val emptyIn = s"$tmp/input-empty"
    spark.read.parquet(inputPath).limit(0).write.parquet(emptyIn)
    val out = s"$tmp/empty"
    Seq("o", "a").foreach { mode =>
      val r = RollupJob.run(spark, RollupConfig(emptyIn, out, writeMode = mode, runId = s"empty-$mode"))
      assert(r.inputRows == 0 && r.segmentsWritten == 0, s"$mode: $r")
      assert(r.tiers.map(t => (t.tier, t.written, t.skipped)) ==
        Seq(("1m", 0L, 0L), ("1h", 0L, 0L), ("1d", 0L, 0L)), s"$mode: $r")
    }
    assert(dataFiles(s"$out/points").isEmpty && dataFiles(s"$out/segments").isEmpty)
    assert(table(out, "dims").count() == 0)
    assert(table(out, "_lineage").count() == 0)
    val inputRows = table(out, "_metrics").filter(col("metric") === "input_rows")
      .select("run_id", "value").as[(String, Double)].collect().toMap
    assert(inputRows == Map("empty-o" -> 0.0, "empty-a" -> 0.0))
  }

  test("retention lists partition directories and launches no Spark job, on parquet and ORC") {
    val orcIn = s"$tmp/input-orc-retention"
    spark.read.parquet(inputPath).write.orc(orcIn)
    Seq[(String, TableIO, String)](("parquet", ParquetTableIO, inputPath),
        ("orc", OrcTableIO, orcIn)).foreach { case (name, io, in) =>
      val out = s"$tmp/retention-$name"
      RollupJob.run(spark, RollupConfig(in, out, runId = "ret"), io = io)
      def tiers = dataFiles(s"$out/points").keySet.map(_.takeWhile(_ != '/'))
      assert(tiers == Set("tier=1m", "tier=1h", "tier=1d"), name)
      // a year past the input expires the 7-day 1m and the 90-day 1h tiers
      val asOf = Synth.Epoch + 365 * 86400L
      val jobs = jobsDuring(Retention(spark, io, s"$out/points", Tier.cascade, asOf))
      assert(jobs == 0, s"$name: retention ran $jobs Spark jobs")
      assert(tiers == Set("tier=1d"), name)
    }
  }

  test("a failed run leaves no write running and no cache behind; the next run succeeds") {
    val sc = spark.sparkContext
    val cases = Seq(
      // retention fails while the dims write is still in flight
      "retention" -> new FailingIO(failDrop = "points", slowWrite = "dims"),
      // the segments write fails while this thread folds the points
      "segments write" -> new FailingIO(failWrite = "segments", slowWrite = "segments"))
    cases.foreach { case (what, io) =>
      val out = s"$tmp/failed-${what.replace(' ', '-')}"
      val cached = sc.getPersistentRDDs.keySet
      val e = intercept[RuntimeException](
        RollupJob.run(spark, RollupConfig(inputPath, out, runId = "fail"), io = io))
      assert(e.getMessage.contains("injected failure"), s"$what: ${e.getMessage}")
      assert(io.inFlight.get == 0, s"$what: a write still runs after run() threw")
      assert(sc.getPersistentRDDs.keySet == cached, s"$what: run() left its caches persisted")
      val r = RollupJob.run(spark, RollupConfig(inputPath, out, runId = "after"))
      assert(r.inputRows == Synth.tiny(spark).count(), what)
      assert(table(out, "dims").count() ==
        spark.read.parquet(inputPath).select("conv_id").distinct().count(), what)
    }
  }

  test("connector seam: the whole job runs on ORC and matches parquet output") {
    import graft.io.OrcTableIO
    val pOut = s"$tmp/io-parquet"
    val oOut = s"$tmp/io-orc"
    // end-to-end ORC: the connector reads the input too, so give it an ORC
    // copy of the same table
    val orcIn = s"$tmp/input-orc"
    spark.read.parquet(inputPath).write.orc(orcIn)
    RollupJob.run(spark, RollupConfig(inputPath, pOut, writeMode = "o",
      runId = "io-p"))
    RollupJob.run(spark, RollupConfig(orcIn, oOut, writeMode = "o",
      runId = "io-o"), io = OrcTableIO)
    // the orc table is really orc
    val orcFiles = new java.io.File(s"$oOut/points").listFiles()
    assert(orcFiles != null && orcFiles.nonEmpty)
    // identical rolled-up points through either connector
    val p = ParquetTableIO.read(spark, s"$pOut/points")
      .selectExpr("tier", "conv_id", "bucket", "turns",
        "array_sort(map_entries(byRole)) AS br")
    val o = OrcTableIO.read(spark, s"$oOut/points")
      .selectExpr("tier", "conv_id", "bucket", "turns",
        "array_sort(map_entries(byRole)) AS br")
    assertSameRows(p, o, "parquet vs orc points")
  }

  test("dims table: one row per conversation with exact totals") {
    val out = s"$tmp/dims"
    RollupJob.run(spark, RollupConfig(inputPath, out, runId = "r"))
    val dims = ParquetTableIO.read(spark, s"$out/dims")
    val want = spark.read.parquet(inputPath)
      .groupBy("conv_id")
      .agg(count(lit(1)).as("turns_total"),
        sum(length(col("text"))).as("text_len_total"))
    assertSameRows(dims.select("conv_id", "turns_total", "text_len_total"),
      want, "dims totals")
  }

  test("outputLimit caps the processed conversations") {
    val out = s"$tmp/limit"
    val r = RollupJob.run(spark,
      RollupConfig(inputPath, out, runId = "r", outputLimit = Some(5)))
    val convs = ParquetTableIO.read(spark, s"$out/points")
      .select("conv_id").distinct().as[String].collect().sorted
    val expected = spark.read.parquet(inputPath).select("conv_id").distinct()
      .orderBy("conv_id").limit(5).as[String].collect().sorted
    assert(convs.toSeq == expected.toSeq)
    assert(r.inputRows < Synth.tiny(spark).count())
  }

  test("metricsInclude projects points and rejects unknown names") {
    val out = s"$tmp/metrics"
    RollupJob.run(spark, RollupConfig(inputPath, out, runId = "r",
      metricsInclude = Some(Seq("turns", "textLen"))))
    val cols = ParquetTableIO.read(spark, s"$out/points").columns.toSet
    assert(cols.contains("turns") && cols.contains("textLenSum"))
    assert(!cols.contains("byRole") && !cols.contains("byTool"))
    intercept[IllegalArgumentException] {
      RollupJob.run(spark, RollupConfig(inputPath, s"$tmp/bad", runId = "r",
        metricsInclude = Some(Seq("nope"))))
    }
  }

  test("runAll executes multiple configs (MultiSpec analog)") {
    val reports = RollupJob.runAll(spark, Seq(
      RollupConfig(inputPath, s"$tmp/multi1", runId = "m1"),
      RollupConfig(inputPath, s"$tmp/multi2", runId = "m2",
        tiers = Seq(Tier.Hour, Tier.Day))))
    assert(reports.size == 2)
    assert(reports(0).tiers.map(_.tier) == Seq("1m", "1h", "1d"))
    assert(reports(1).tiers.map(_.tier) == Seq("1h", "1d"))
  }
}
