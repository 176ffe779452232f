package graft

import graft.gen.Synth
import graft.io.ParquetTableIO
import graft.pivot.SeriesPivot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Resume / write-mode / retention semantics of the end-to-end job
  * (SURVEY.md §5.4; north_rule "resumable from checkpoint ... without
  * recompute"; wmode parity with `s2srun -m {w,s,o,a}`).
  */
class ResumeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-resume").toString
  private lazy val inputPath = {
    val p = s"$tmp/input"
    Synth.small(spark).write.parquet(p)
    p
  }
  private def cfg(out: String, mode: String, runId: String) = RollupConfig(
    inputPath = inputPath, outputRoot = out, writeMode = mode, runId = runId)

  private def comparablePoints(root: String): DataFrame =
    ParquetTableIO.read(spark, s"$root/points")
      .withColumn("byRole", array_sort(map_entries(col("byRole"))))
      .withColumn("byTool", array_sort(map_entries(col("byTool"))))

  test("full run: points + segments written, segments decode to input") {
    val out = s"$tmp/full"
    val report = RollupJob.run(spark, cfg(out, "o", "run-full"))
    // inputRows is derived from the cached segments (sum of n), never a
    // second raw scan — it must still equal the true input row count
    assert(report.inputRows == spark.read.parquet(inputPath).count())
    assert(report.tiers.map(_.tier).toSet == Set("1m", "1h", "1d"))
    assert(report.tiers.forall(_.written > 0))
    // job-level equivalence invariant: stored segments decode to the input
    val segs = ParquetTableIO.read(spark, s"$out/segments")
      .drop("pday").as[Segment]
    assertSameRows(SeriesPivot.decode(segs).toDF(),
      spark.read.parquet(inputPath), "job segments roundtrip")

    // the job's one-pass fold over the segments must equal the reference
    // cascade over the raw turns, tier by tier
    import graft.rollup.Rollups
    def cmp(df: DataFrame) = df
      .withColumn("byRole", array_sort(map_entries(col("byRole"))))
      .withColumn("byTool", array_sort(map_entries(col("byTool"))))
      .select("conv_id", "tier", "bucket", "turns", "byRole", "byTool",
        "textLenSum", "textLenMin", "textLenMax", "filled")
    val reference = Rollups.allTiers(spark.read.parquet(inputPath).as[Turn], Tier.cascade)
    val jobPts = ParquetTableIO.read(spark, s"$out/points")
    Tier.cascade.foreach { t =>
      assertSameRows(cmp(jobPts.filter(col("tier") === t.name)), cmp(reference(t.name)),
        s"${t.name}: job points == reference cascade")
    }
    // the single lineage commit records each (tier, pday)'s point count
    val lineage = ParquetTableIO.read(spark, s"$out/_lineage")
      .filter(col("run_id") === "run-full" && !col("tier").startsWith("seg-"))
      .select("tier", "pday", "rows")
    val pointRows = jobPts.groupBy("tier", "pday").agg(count(lit(1)).as("rows"))
    assertSameRows(lineage, pointRows, "lineage rows == points per (tier, pday)")
  }

  test("wmode 'w' fails when output exists") {
    val out = s"$tmp/wfail"
    RollupJob.run(spark, cfg(out, "o", "run-0"))
    intercept[RuntimeException] { RollupJob.run(spark, cfg(out, "w", "run-1")) }
  }

  test("wmode 's' resume: partial then full equals a fresh full run, no recompute") {
    val outFresh = s"$tmp/fresh"
    RollupJob.run(spark, cfg(outFresh, "o", "run-fresh"))

    // simulate a failed run: only the first UTC day of input was processed
    val days = spark.read.parquet(inputPath)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("d")).distinct()
      .as[String].collect().sorted
    assert(days.length >= 2, s"fixture spans ${days.length} day(s); need >= 2")
    val partialInput = s"$tmp/input-partial"
    spark.read.parquet(inputPath)
      .filter(date_format(col("ts"), "yyyy-MM-dd") === days.head)
      .write.parquet(partialInput)

    val outResume = s"$tmp/resume"
    RollupJob.run(spark, cfg(outResume, "o", "run-1")
      .copy(inputPath = partialInput))
    // resume with the FULL input in skip mode
    val r2 = RollupJob.run(spark, cfg(outResume, "s", "run-2"))

    assertSameRows(comparablePoints(outResume), comparablePoints(outFresh),
      "resumed == fresh")
    // no recompute: run-2's lineage must not include day-1 partitions
    val lineage = ParquetTableIO.read(spark, s"$outResume/_lineage")
    val run2Days = lineage.filter(col("run_id") === "run-2")
      .select("pday").distinct().as[String].collect()
    assert(!run2Days.contains(days.head),
      s"run-2 recomputed committed day ${days.head}")
    assert(r2.tiers.forall(_.skipped > 0), "expected skipped partitions")
  }

  test("wmode 'a' append: newer days only, final table equals fresh run") {
    val outFresh = s"$tmp/fresh2"
    RollupJob.run(spark, cfg(outFresh, "o", "run-fresh2"))

    val days = spark.read.parquet(inputPath)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("d")).distinct()
      .as[String].collect().sorted
    val partialInput = s"$tmp/input-partial2"
    spark.read.parquet(inputPath)
      .filter(date_format(col("ts"), "yyyy-MM-dd") === days.head)
      .write.parquet(partialInput)

    val out = s"$tmp/append"
    RollupJob.run(spark, cfg(out, "o", "run-1").copy(inputPath = partialInput))
    RollupJob.run(spark, cfg(out, "a", "run-2"))
    assertSameRows(comparablePoints(out), comparablePoints(outFresh),
      "append == fresh")
  }

  test("retention drops expired fine tiers, keeps coarse") {
    val out = s"$tmp/retain"
    val maxTs = spark.read.parquet(inputPath)
      .select(max(unix_timestamp(col("ts")))).as[Long].head()
    // 1m expires 3 days before asOf; 1h after 10d; 1d kept forever
    val tiers = Seq(Tier("1m", 60, 3L * 1440), Tier("1h", 3600, 240),
      Tier("1d", 86400, -1))
    RollupJob.run(spark,
      cfg(out, "o", "run-r").copy(tiers = tiers),
      asOfSec = Some(maxTs + 10 * 86400)) // everything older than 7d ago
    val tiersLeft = ParquetTableIO.read(spark, s"$out/points")
      .select("tier").distinct().as[String].collect().toSet
    assert(!tiersLeft.contains("1m"), s"1m should be expired, got $tiersLeft")
    assert(tiersLeft.contains("1d"), s"1d must be retained, got $tiersLeft")
  }

  test("metrics table records run accounting") {
    val out = s"$tmp/metrics"
    RollupJob.run(spark, cfg(out, "o", "run-m"))
    val m = ParquetTableIO.read(spark, s"$out/_metrics")
      .select("metric", "value").as[(String, Double)].collect().toMap
    assert(m("input_rows") > 0)
    assert(m("points_1m") >= m("points_1h") && m("points_1h") >= m("points_1d"))
  }
}
