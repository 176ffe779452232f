package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage abstraction (SURVEY.md §2.1 S5, §7.4.6) — the analog of the
  * reference's pluggable IO backend (`iobackend.py :: set_backend`,
  * netCDF4 vs PyNIO). Prod target is Iceberg (`format("iceberg")`,
  * snapshot isolation, partition-level overwrite); the sandbox ships no
  * Iceberg runtime jar, so the local implementation reproduces the needed
  * semantics on partitioned Parquet:
  *
  *   - append          → mode("append")
  *   - overwrite of    → dynamic partition overwrite
  *     touched partitions (per-write option partitionOverwriteMode=dynamic)
  *   - createOrFail    → error if the table path already exists
  *   - partition drop  → directory delete (retention)
  *
  * Everything above maps 1:1 onto Iceberg `DataFrameWriterV2` calls
  * (`append`, `overwritePartitions`, `createOrFail`, delete with partition
  * predicate) — the prod variant is a thin config switch, not a redesign.
  */
trait TableIO {
  def read(spark: SparkSession, path: String): DataFrame
  def exists(spark: SparkSession, path: String): Boolean
  /** Write `df` partitioned by `partitionCols`. mode ∈ append | overwrite
    * (dynamic: only partitions present in df) | errorIfExists.
    */
  def write(df: DataFrame, path: String, partitionCols: Seq[String], mode: String): Unit
  /** Drop entire partitions matching the predicate over partition columns. */
  def dropPartitions(spark: SparkSession, path: String, predicate: String): Unit
}

/** File-format-backed TableIO: everything except the format tag is shared —
  * partitioned layout, dynamic partition overwrite, partition-directory
  * drops. Two live impls ([[ParquetTableIO]], [[OrcTableIO]]) prove the
  * connector seam is real: `RollupJob.run(io = OrcTableIO)` runs the whole
  * pipeline unchanged on a different columnar store (JobFeaturesSpec
  * asserts identical outputs).
  */
sealed class FileTableIO(format: String) extends TableIO {
  override def read(spark: SparkSession, path: String): DataFrame = {
    // partition values stay strings: tier names like "1d" would otherwise be
    // type-INFERRED as Double 1.0 ("1d" is a valid Java double literal)
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    spark.read.format(format).load(path)
  }

  override def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  // overwrite is dynamic (only the partitions present in df are replaced)
  // through the per-write option, which Spark reads before the session
  // conf: the caller's session is left as it was, and concurrent writes on
  // one session share no state
  override def write(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: String): Unit = {
    val writer = mode match {
      case "overwrite" =>
        df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      case "append" | "errorIfExists" => df.write.mode(mode)
      case other => sys.error(s"unsupported write mode: $other")
    }
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .format(format).save(path)
  }

  /** Local partition-drop: evaluate the predicate against the distinct
    * partition tuples, then delete matching partition directories. (Iceberg:
    * `DELETE FROM t WHERE <predicate>` — a metadata-only partition drop.)
    */
  override def dropPartitions(spark: SparkSession, path: String, predicate: String): Unit = {
    if (!exists(spark, path)) return
    val df = read(spark, path)
    val partCols = partitionColumnsOf(spark, path)
    if (partCols.isEmpty) return
    val doomed = df.select(partCols.map(col): _*).distinct()
      .filter(predicate).collect()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomed.foreach { row =>
      val rel = partCols.zipWithIndex
        .map { case (c, i) => s"$c=${row.get(i)}" }.mkString("/")
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$rel"), true)
    }
  }

  private def partitionColumnsOf(spark: SparkSession, path: String): Seq[String] = {
    // partition dirs look like col=value at successive levels
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def levels(cur: org.apache.hadoop.fs.Path, acc: List[String]): List[String] = {
      val subdirs = fs.listStatus(cur).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.contains("="))
      if (subdirs.isEmpty) acc.reverse
      else {
        val c = subdirs.head.split("=")(0)
        levels(new org.apache.hadoop.fs.Path(cur, subdirs.head), c :: acc)
      }
    }
    levels(p, Nil)
  }
}

object ParquetTableIO extends FileTableIO("parquet")

/** Second columnar impl (no extra jars — ORC ships with Spark). */
object OrcTableIO extends FileTableIO("orc")
