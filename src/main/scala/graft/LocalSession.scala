package graft

import org.apache.spark.sql.SparkSession

/** The `local[cpus]` session the mains share: 4×cpus shuffle partitions
  * (per-partition encode cost varies with text bytes, so tasks == cores
  * leaves cores idle behind stragglers), AQE, 8 MB scan splits (local
  * inputs are a handful of small files; 128 MB bin-packing would cap scan
  * parallelism), UTC, no UI. Callers add their own confs on top.
  */
object LocalSession {
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes", "8388608")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")

  /** `SPARK_GRAFT_CPUS`, else the caller's default. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
