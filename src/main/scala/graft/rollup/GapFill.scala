package graft.rollup

import graft.Tier
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Linear-interpolation gap-fill (SURVEY.md §2.3 J1 + §2.5 W2; north_rule
  * "continuous aggregates ... with linear-interpolation gap-fill").
  *
  * Strategy (all built-ins, no UDF):
  *   1. spine: per series, `sequence(minBucket, maxBucket, step)` exploded —
  *      every bucket the series SHOULD have (interior gaps only; nothing is
  *      extrapolated beyond the series' first/last observed point).
  *   2. LEFT OUTER equi-join spine × points on (key, bucket) — sort-merge
  *      or broadcast per AQE.
  *   3. window frames over each series: last non-null before / first
  *      non-null after, then linear interpolation between them.
  *
  * Scale notes: the spine join key includes the series key, so the join is
  * an equi-join that partitions cleanly; gap-fill runs on ROLLUP POINTS
  * (small per series), never on raw turns (SURVEY.md §7.4.2). Window
  * partitions are per-series — bounded by tier retention, no skew beyond
  * series length.
  */
object GapFill {

  /** What both fills share: the spine of every `step` bucket between each
    * key's first and last point, LEFT OUTER joined to `points` (`_present`
    * is true on observed rows), and per-key windows giving the nearest
    * present bucket and value at or before (`prev`) and at or after
    * (`next`) each row. The interpolation rule is the caller's.
    */
  private final class Spine(points: DataFrame, key: String, bucket: String, step: Long) {
    val joined: DataFrame = points
      .groupBy(key)
      .agg(min(bucket).as("_lo"), max(bucket).as("_hi"))
      .select(col(key), explode(sequence(col("_lo"), col("_hi"), lit(step))).as(bucket))
      .join(points.withColumn("_present", lit(true)), Seq(key, bucket), "left_outer")

    private val wAll = Window.partitionBy(key).orderBy(bucket)
    private val wPrev = wAll.rowsBetween(Window.unboundedPreceding, 0)
    private val wNext = wAll.rowsBetween(0, Window.unboundedFollowing)
    val prevB: Column = last(when(col("_present"), col(bucket)), ignoreNulls = true).over(wPrev)
    val nextB: Column = first(when(col("_present"), col(bucket)), ignoreNulls = true).over(wNext)
    def prev(v: String): Column = last(col(v), ignoreNulls = true).over(wPrev)
    def next(v: String): Column = first(col(v), ignoreNulls = true).over(wNext)
  }

  /** Generic numeric gap-fill: for each `key`, add missing `bucket` rows at
    * `step` spacing between that key's min and max bucket, linearly
    * interpolating each column in `valueCols` (as doubles), with
    * `filled=true` on generated rows.
    */
  def fillSeries(points: DataFrame, key: String, bucket: String,
      valueCols: Seq[String], step: Long): DataFrame = {
    val s = new Spine(points, key, bucket, step)
    val filledCols = valueCols.map { v =>
      when(col("_present"), col(v)).otherwise(
        s.prev(v) + (s.next(v) - s.prev(v)) * (col(bucket) - s.prevB) / (s.nextB - s.prevB)
      ).as(v)
    }
    s.joined.select(
      Seq(col(key), col(bucket)) ++ filledCols :+
        coalesce(col("_present"), lit(false)).unary_!.as("filled"): _*)
  }

  /** Gap-fill RollupPoint frames (schema per FIXTURES.md §F3). Integral
    * interpolation with truncating `div` (deterministic, matches the
    * single-node reference): v = prev + (next-prev)*(b-prevB) div (nextB-prevB).
    * byRole/byTool are empty maps on filled rows.
    */
  def fillPoints(points: DataFrame, tier: Tier): DataFrame = {
    val s = new Spine(points, "conv_id", "bucket", tier.bucketSec)
    def lerp(v: String) =
      // integral linear interpolation, truncating division (Long semantics;
      // operands stay far below 2^53 so the double division is exact)
      s.prev(v) + (((s.next(v) - s.prev(v)) * (col("bucket") - s.prevB)) /
        (s.nextB - s.prevB)).cast("long")
    val emptyMap = map_from_arrays(
      array().cast("array<string>"), array().cast("array<bigint>"))
    s.joined.select(
      col("conv_id"),
      coalesce(col("tier"), lit(tier.name)).as("tier"),
      col("bucket"),
      when(col("_present"), col("turns")).otherwise(lerp("turns")).as("turns"),
      coalesce(col("byRole"), emptyMap).as("byRole"),
      coalesce(col("byTool"), emptyMap).as("byTool"),
      when(col("_present"), col("textLenSum")).otherwise(lerp("textLenSum")).as("textLenSum"),
      when(col("_present"), col("textLenMin"))
        .otherwise(lerp("textLenMin").cast("int")).as("textLenMin"),
      when(col("_present"), col("textLenMax"))
        .otherwise(lerp("textLenMax").cast("int")).as("textLenMax"),
      coalesce(col("_present").unary_!, lit(true)).as("filled"))
  }
}
