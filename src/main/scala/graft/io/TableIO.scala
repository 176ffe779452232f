package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
import org.apache.spark.sql.types.{StringType, StructField, StructType}

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
    val p = new Path(path)
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

  /** Local partition-drop: list the `col=value` partition directories,
    * evaluate the predicate over a local relation of their values and
    * delete the matching directories. The relation is planned and filtered
    * on the driver, so a drop launches no Spark job, never reads the table
    * (an empty table with no data file is fine) and sets no session conf.
    * Values compare as strings, like [[read]]'s partition columns. (Iceberg:
    * `DELETE FROM t WHERE <predicate>` — a metadata-only partition drop.)
    */
  override def dropPartitions(spark: SparkSession, path: String, predicate: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    // every partition directory with its (column, value) pairs: a leaf
    // that holds files (a drop leaves its parent `col=value` dir empty)
    def partitions(dir: Path, kv: Vector[(String, String)]): Seq[(Path, Vector[(String, String)])] = {
      val (dirs, files) = fs.listStatus(dir).toSeq.partition(_.isDirectory)
      val sub = dirs.filter(_.getPath.getName.contains("="))
      if (sub.isEmpty) (if (kv.nonEmpty && files.nonEmpty) Seq(dir -> kv) else Nil)
      else sub.flatMap { s =>
        val Array(c, v) = s.getPath.getName.split("=", 2)
        partitions(s.getPath, kv :+ (c -> unescapePathName(v)))
      }
    }
    val parts = partitions(root, Vector.empty)
    if (parts.isEmpty) return
    val cols = parts.head._2.map(_._1)
    val pathCol = "__partition_path"
    val schema = StructType((cols :+ pathCol).map(StructField(_, StringType)))
    val rows = parts.map { case (dir, kv) => Row.fromSeq(kv.map(_._2) :+ dir.toString) }
    val doomed = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .filter(predicate).select(pathCol).collect()
    doomed.foreach(r => fs.delete(new Path(r.getString(0)), true))
  }
}

object ParquetTableIO extends FileTableIO("parquet")

/** Second columnar impl (no extra jars — ORC ships with Spark). */
object OrcTableIO extends FileTableIO("orc")
