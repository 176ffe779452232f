package graft.gen

import graft.Turn
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic transcript generator (FIXTURES.md §F1) — the
  * analog of the reference's fixture generator
  * (`source/test/mkTestData.py`, public PyReshaper): formulaic,
  * self-describing contents so the equivalence invariant detects any
  * loss/duplication/reorder.
  *
  * Generation is itself a Spark job: `spark.range` + pure hash-based
  * column expressions (xxhash64 of (seed, conv, turn)), so the SAME rows
  * are produced at any parallelism and any scale — no RNG state, no
  * driver-side loops. Scales to 10^12 rows by construction (embarrassingly
  * parallel range).
  *
  * Skew: conversation c gets `hotFactor`× the base turn count when
  * c % 97 == 0 (~1% hot conversations) — the skew the pivot
  * bounds by splitting a conv-day into `maxPointsPerSegment`-point segments.
  *
  * Gaps: turns whose minute-bucket hash hits ~5% are dropped — whole
  * missing 1m buckets to exercise gap-fill/interpolation (§2.5 W2).
  */
object Synth {
  val Epoch: Long = 1700000000L // 2023-11-14T22:13:20Z, fixed start

  def turns(spark: SparkSession, nConvs: Int, baseTurns: Int,
      hotFactor: Int = 100, seed: Long = 42L): Dataset[Turn] = {
    import spark.implicits._
    val maxTurns = baseTurns.toLong * hotFactor
    // one row per (conv, potential turn slot); filter slots beyond the
    // conversation's actual length. Generous slice count → many output
    // files → downstream scans parallelize regardless of
    // files.maxPartitionBytes bin-packing (values are pure functions of id,
    // so partitioning never changes the data)
    val slices = math.max(128, spark.sparkContext.defaultParallelism * 2)
    spark.range(0L, nConvs.toLong * maxTurns, 1L, slices)
      .select(
        (col("id") / maxTurns).cast("long").as("conv"),
        (col("id") % maxTurns).cast("long").as("slot"))
      .withColumn("h", abs(xxhash64(lit(seed), col("conv"))))
      // turn count: hot convs get ~hotFactor x; others base +/- 50%
      .withColumn("nturns",
        when(col("conv") % 97 === 0, lit(baseTurns.toLong * hotFactor / 2) + col("h") % (baseTurns.toLong * hotFactor / 2))
          .otherwise(lit(baseTurns / 2) + col("h") % baseTurns))
      .filter(col("slot") < col("nturns"))
      .withColumn("th", abs(xxhash64(lit(seed), col("conv"), col("slot"))))
      // gap pattern: drop whole 1-minute buckets for ~5% of (conv, minute)
      // strictly monotone in slot (45s grid + <44s jitter) so ts order
      // matches turn_idx order within a conversation
      .withColumn("tsec",
        lit(Epoch) + col("conv") % 86400 + col("slot") * 45 + col("th") % 44)
      .withColumn("gapped",
        abs(xxhash64(lit(seed + 1), col("conv"), (col("tsec") / 60).cast("long"))) % 100 < 5)
      .filter(!col("gapped"))
      .select(
        format_string("conv-%06d", col("conv")).as("conv_id"),
        col("slot").cast("int").as("turn_idx"),
        element_at(array(lit("user"), lit("assistant"), lit("tool")),
          ((col("th") % 3) + 1).cast("int")).as("role"),
        concat(
          format_string("conv-%06d/%d/", col("conv"), col("slot")),
          // payload of varying length 1..~2000 chars, formulaic
          substring(repeat(concat(lit("p"), conv(col("th"), 10, 36)), 200),
            lit(1), (col("th") % 2000 + 1).cast("int"))).as("text"),
        when(col("th") % 3 === 2,
          element_at(array(lit("bash"), lit("read"), lit("edit"), lit("grep"),
            lit("glob"), lit("web"), lit("task"), lit("mcp")),
            ((col("th") / 3 % 8) + 1).cast("int"))).as("tool"),
        timestamp_seconds(col("tsec")).as("ts"))
      .as[Turn]
  }

  /** tiny fixture: ~50 convs, for unit tests. */
  def tiny(spark: SparkSession): Dataset[Turn] = turns(spark, 50, 20, hotFactor = 10)

  /** small fixture: for golden/resume tests. */
  def small(spark: SparkSession): Dataset[Turn] = turns(spark, 400, 40, hotFactor = 20)
}
