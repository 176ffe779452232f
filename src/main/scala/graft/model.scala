package graft

import java.sql.Timestamp

/** Core typed data model (SURVEY.md §1.2).
  *
  * Mirrors the reference's variable-role split (PyReshaper
  * `reshaper.py :: Slice2SeriesReshaper._inspect_input_files`, which
  * classifies NetCDF variables into ti/tv/tsv roles): here the input is a
  * transcript table (BASELINE.json input_hint) and the series key is
  * `(conv_id, metric)`.
  */

/** One transcript turn — the engine's input row (BASELINE.json input_hint). */
case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String, // null for non-tool turns
    ts: Timestamp)

/** A per-series compressed segment: all turns of one conversation inside one
  * time bucket, pivoted into columnar blobs (the analog of one time-series
  * output file in PyReshaper, `iobackend.py :: NCFile(mode='w')`).
  *
  *  - tsBlob:  delta-of-delta compressed epoch-micros timestamps
  *  - idxBlob: delta-of-delta compressed turn_idx values
  *  - roleBlob/toolBlob: dictionary-encoded small-vocab strings
  *  - textBlob: varint-length-prefixed UTF-8, deflate-compressed (the analog
  *    of the reference's netcdf4c deflate `compression_level`)
  */
case class Segment(
    conv_id: String,
    tier: String,
    bucket: Long, // epoch-seconds of bucket start (UTC)
    seq_no: Int, // sub-segment index when a bucket exceeds maxPointsPerSegment
    n: Int,
    tsBlob: Array[Byte],
    idxBlob: Array[Byte],
    roleBlob: Array[Byte],
    toolBlob: Array[Byte],
    textBlob: Array[Byte])

/** One rolled-up point at a retention tier (FIXTURES.md §F3). All stats are
  * integral (Long/Int) so exact cross-parallelism equality is well-defined
  * (SURVEY.md §7.4.1).
  */
case class RollupPoint(
    conv_id: String,
    tier: String,
    bucket: Long, // epoch-seconds of bucket start (UTC)
    turns: Long,
    byRole: Map[String, Long],
    byTool: Map[String, Long],
    textLenSum: Long,
    textLenMin: Int,
    textLenMax: Int,
    filled: Boolean)

/** A retention tier: bucket width + how long this granularity is retained.
  * retainBuckets < 0 means "retain forever" (the coarse tier).
  */
case class Tier(name: String, bucketSec: Long, retainBuckets: Long)

object Tier {
  val Minute = Tier("1m", 60L, 7L * 24 * 60) // 1-minute points kept 7 days
  val Hour = Tier("1h", 3600L, 90L * 24) // hourly kept 90 days
  val Day = Tier("1d", 86400L, -1L) // daily kept forever
  val cascade: Seq[Tier] = Seq(Minute, Hour, Day)
}

/** Job configuration — the analog of the reference's pickled `Specifier`
  * (`specification.py :: Specifier`): everything a run needs, serializable,
  * stored next to the output for reproducibility/lineage.
  *
  * writeMode mirrors `s2srun -m {w,s,o,a}`
  * (`reshaper.py :: Slice2SeriesReshaper._inspect_output_files`):
  *   w = error if output exists; s = skip already-committed partitions;
  *   o = overwrite; a = append buckets newer than the high-water mark.
  */
case class RollupConfig(
    inputPath: String,
    outputRoot: String,
    tiers: Seq[Tier] = Tier.cascade,
    writeMode: String = "o",
    // upper bound on the files (write tasks) per (tier, pday) output
    // partition: the job gives each partition one file per ~1M rows
    // (RollupJob.saltBuckets), so a small day is one file, and a hot day
    // (most of the data in one pday) spreads over at most N tasks instead
    // of serializing into ONE parquet-writing task
    writeSaltBuckets: Int = 8,
    maxPointsPerSegment: Int = 65536,
    deflateLevel: Int = 6,
    runId: String = "run-0",
    // debug cap on the number of conversations processed — the analog of
    // `s2srun -l/--limit` (reshaper.py :: convert(output_limit=N))
    outputLimit: Option[Int] = None,
    // include-list of point metrics to materialize; unknown names error —
    // the analog of Specifier.time_series with its missing-variable check
    metricsInclude: Option[Seq[String]] = None)

object RollupConfig {
  /** Metric families a RollupPoint carries (see FIXTURES.md §F3). */
  val AllMetrics: Seq[String] = Seq("turns", "byRole", "byTool", "textLen")
}
