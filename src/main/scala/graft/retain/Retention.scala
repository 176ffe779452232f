package graft.retain

import graft.Tier
import graft.io.TableIO
import graft.rollup.Rollups
import org.apache.spark.sql.SparkSession

/** Retention pass (north_rule "a retention pass drops expired fine-grained
  * tiers while preserving coarse rollups").
  *
  * Expiry is a pure PARTITION operation: tables are partitioned by
  * `(tier, pday)`, so dropping `tier='1m' AND pday < cutoff` touches no
  * data files' contents — locally it lists and deletes partition
  * directories, and on Iceberg it is a metadata-only delete
  * (SURVEY.md §2.9 C3: no custom rule needed).
  *
  * `asOfSec` is an explicit parameter (not wall-clock) so runs are
  * deterministic and testable.
  */
object Retention {

  /** Cutoff pday (UTC day string, [[Rollups.utcDay]]) for a tier, or None
    * if retained forever.
    */
  def cutoffDay(tier: Tier, asOfSec: Long): Option[String] =
    if (tier.retainBuckets < 0) None
    else Some(Rollups.utcDay(asOfSec - tier.retainBuckets * tier.bucketSec).toString)

  /** Drop expired partitions of `path` for every tier, in one
    * `dropPartitions` call (one listing of the table) whose predicate ORs
    * each expiring tier's clause. Returns the applied (tier → cutoff pday)
    * map.
    */
  def apply(spark: SparkSession, io: TableIO, path: String, tiers: Seq[Tier],
      asOfSec: Long): Map[String, String] = {
    val cuts = tiers.flatMap(t => cutoffDay(t, asOfSec).map(t.name -> _)).toMap
    if (cuts.nonEmpty) io.dropPartitions(spark, path, cuts.map { case (tierName, cut) =>
      s"(tier = '$tierName' AND pday < '$cut')" }.mkString(" OR "))
    cuts
  }
}
