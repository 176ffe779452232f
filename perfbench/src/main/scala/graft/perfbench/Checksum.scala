package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content hash of a DataFrame, forcing every column.
  *
  * Each row is hashed (xxhash64) over a canonical form of all its columns
  * and the hashes are summed as decimals, so the result depends on the
  * multiset of rows but not on their order or partitioning, and duplicated
  * rows do not cancel. Canonical form: floating values rounded to float
  * precision (summation order may change the last bits), maps turned into
  * key-sorted entry arrays (maps are not hashable), applied recursively
  * through arrays, structs and maps.
  */
object Checksum {
  final case class Sum(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  private[perfbench] def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(et, _) =>
      if (needsWork(et)) transform(c, x => canonical(x, et)) else c
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        canonical(e.getField("key"), kt).as("key"),
        canonical(e.getField("value"), vt).as("value"))))
    case StructType(fs) if fs.exists(f => needsWork(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.toIndexedSeq.map(f =>
        canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def needsWork(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsWork(et)
    case StructType(fs) => fs.exists(f => needsWork(f.dataType))
    case _ => false
  }

  /** Columns are hashed in name order, so column order does not matter.
    * Each value is paired with its null flag: xxhash64 skips nulls, which
    * would otherwise let (x, null) and (null, x) collide.
    */
  def of(df: DataFrame): Sum = {
    val fields = df.schema.fields.sortBy(_.name)
    val rowHash =
      if (fields.isEmpty) lit(0L)
      else xxhash64(fields.toIndexedSeq.flatMap { f =>
        val c = col(s"`${f.name}`")
        Seq(canonical(c, f.dataType), c.isNull)
      }: _*)
    val r = df.select(rowHash.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast(DecimalType(30, 0))))
      .head()
    Sum(r.getLong(0), r.getDecimal(1).toPlainString)
  }
}
