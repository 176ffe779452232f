package graft

import graft.gen.Synth
import graft.io.ParquetTableIO
import graft.pivot.SeriesPivot
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** RollupJob orchestration features: dims table (once-file analog O3),
  * output limit (X3), metric include-list (P2), multi-config run (O2).
  */
class JobFeaturesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-feats").toString
  private lazy val inputPath = {
    val p = s"$tmp/input"
    Synth.tiny(spark).write.parquet(p)
    p
  }

  test("run() pins the session time zone to the UTC pday contract") {
    // pdays are UTC day strings and the wmode-'a' high-water predicate
    // compares ts against UTC day boundaries — a caller embedding run() in
    // a non-UTC session must not silently get disagreeing day math
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try {
      val out = s"$tmp/tzpin"
      RollupJob.run(spark, RollupConfig(inputPath, out, writeMode = "o",
        runId = "tz-1"))
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
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
      ParquetTableIO.read(spark, s"$out/points").selectExpr("tier", "pday",
        "conv_id", "bucket", "turns", "array_sort(map_entries(byRole)) AS br",
        "array_sort(map_entries(byTool)) AS bt", "textLenSum", "textLenMin",
        "textLenMax", "filled")
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

    def table(out: String, t: String) = ParquetTableIO.read(spark, s"$out/$t")
    def points(out: String) = table(out, "points").selectExpr("tier", "pday",
      "conv_id", "bucket", "turns", "array_sort(map_entries(byRole)) AS br",
      "array_sort(map_entries(byTool)) AS bt", "textLenSum", "textLenMin",
      "textLenMax", "filled")
    def lineage(out: String, segments: Boolean) = {
      val seg = col("tier").startsWith("seg-")
      table(out, "_lineage").filter(if (segments) seg else !seg)
        .select("tier", "pday", "rows")
    }
    def segments(out: String) = table(out, "segments").drop("pday").as[Segment]
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
