package graft.ckpt

import graft.io.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition lineage + metrics + resume (SURVEY.md §2.1 S3, §7.4.4;
  * north_rule "checkpoint per-partition progress with lineage + metrics ...
  * so failed runs resume without recompute").
  *
  * The lineage table is the analog of the reference's output-inspection
  * pass (`reshaper.py :: Slice2SeriesReshaper._inspect_output_files`,
  * wmode dispatch): a partition `(tier, pday)` is the unit of commit.
  * Commit order is replay-safe: data partitions are written FIRST (dynamic
  * partition overwrite = idempotent), the lineage row is appended AFTER —
  * a crash between the two re-runs that partition, it never records
  * uncommitted data.
  *
  * Write modes (CLI parity with `s2srun -m {w,s,o,a}`):
  *   w  error if the output table already exists
  *   s  read only the UTC days not every table has committed (the job
  *      prunes its input scan; RollupJob.skipPredicate)
  *   o  overwrite the partitions produced by this run
  *   a  append-only: read only the days after the high-water pday, the
  *      lowest of each table's newest committed pday
  */
object Checkpoint {
  val LineageDir = "_lineage"
  val MetricsDir = "_metrics"

  def lineage(spark: SparkSession, io: TableIO, root: String): Option[DataFrame] = {
    val path = s"$root/$LineageDir"
    if (io.exists(spark, path)) Some(io.read(spark, path)) else None
  }

  /** Partitions (tier, pday) already committed — the days wmodes 's' and 'a' skip. */
  def committed(spark: SparkSession, io: TableIO, root: String): DataFrame =
    lineage(spark, io, root) match {
      case Some(df) => df.select("tier", "pday").distinct()
      case None =>
        import spark.implicits._
        Seq.empty[(String, String)].toDF("tier", "pday")
    }

  /** Committed high-water mark (max pday) per tier; wmode 'a' reads [[committed]]. */
  def highWater(spark: SparkSession, io: TableIO, root: String): Map[String, String] =
    lineage(spark, io, root) match {
      case Some(df) => df.groupBy("tier").agg(max("pday").as("hw"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      case None => Map.empty
    }

  /** Record commits for the partitions present in `written` (must carry
    * tier + pday columns). Appended AFTER the data write succeeds. Returns
    * the total committed row count (so callers need no extra action).
    */
  def commit(spark: SparkSession, io: TableIO, root: String, runId: String,
      written: DataFrame, fingerprint: String): Long =
    commitCounts(spark, io, root, runId,
      written.groupBy("tier", "pday").agg(count(lit(1)).as("rows")), fingerprint)

  /** Like [[commit]], but the caller supplies the per-(tier, pday) row
    * counts directly (`tier`, `pday`, `rows` columns) — lets the job pass
    * the counts its materializing passes already hold instead of
    * re-scanning the written data. The counts are a control-plane table
    * (tiers × days rows): collected once, summed on the driver and written
    * as one local relation in a single file, so the commit is one write.
    */
  def commitCounts(spark: SparkSession, io: TableIO, root: String, runId: String,
      counts: DataFrame, fingerprint: String): Long = {
    import spark.implicits._
    val rows = counts.select("tier", "pday", "rows")
      .as[(String, String, Long)].collect().toSeq
    io.write(rows.toDF("tier", "pday", "rows")
      .select(lit(runId).as("run_id"), col("tier"), col("pday"), col("rows"),
        current_timestamp().as("committed_at"),
        lit(fingerprint).as("input_fingerprint"))
      .coalesce(1), s"$root/$LineageDir", Seq.empty, "append")
    rows.map(_._3).sum
  }

  /** Append one metrics row per (phase, metric). The engine analog of the
    * reference's diagnostics reduce (`reshaper.py :: print_diagnostics`
    * summing byte counts / maxing timers over MPI ranks) — Spark already
    * aggregates task metrics to the driver; we persist them.
    */
  def recordMetrics(spark: SparkSession, io: TableIO, root: String, runId: String,
      phase: String, metrics: Map[String, Double]): Unit = {
    import spark.implicits._
    val df = metrics.toSeq.toDF("metric", "value")
      .withColumn("run_id", lit(runId))
      .withColumn("phase", lit(phase))
      .withColumn("at", current_timestamp())
    io.write(df.coalesce(1), s"$root/$MetricsDir", Seq.empty, "append")
  }
}
