package graft.io

import graft.Turn
import org.apache.spark.sql.{DataFrame, Encoders}

/** Input inspection & validation (SURVEY.md §2.1 S2) — the analog of
  * PyReshaper's `_inspect_input_files`, which opens every input file,
  * checks the unlimited dimension and identical variable sets, and fails
  * fast with a precise message. Here the check is static: one metadata
  * read, no scan of the rows.
  */
object Validate {

  /** Assert the input matches the transcript schema (names + types). Extra
    * columns are tolerated (projected away downstream); missing/mistyped
    * columns fail with the full diff — the engine's analog of the
    * reference's "variable X not in file Y" errors.
    */
  def transcriptSchema(df: DataFrame): Unit = {
    val want = Encoders.product[Turn].schema
      .map(f => f.name -> f.dataType).toMap
    val got = df.schema.map(f => f.name -> f.dataType).toMap
    val missing = want.keySet -- got.keySet
    val mistyped = want.collect {
      case (n, t) if got.contains(n) && got(n) != t => s"$n: got ${got(n)}, want $t"
    }
    require(missing.isEmpty && mistyped.isEmpty,
      s"input schema mismatch — missing: ${missing.mkString(",")}; " +
        s"mistyped: ${mistyped.mkString("; ")}; " +
        s"got: ${df.schema.simpleString}")
  }
}
