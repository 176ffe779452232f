package graft

import graft.gen.Synth
import graft.io.ParquetTableIO
import graft.pivot.SeriesPivot
import graft.rollup.Rollups
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** RollupJob orchestration features: dims table (once-file analog O3),
  * output limit (X3), metric include-list (P2), multi-config run (O2), and
  * outputs that no caller session setting changes.
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
