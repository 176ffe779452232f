package graft

import graft.functions.GorillaFunctions
import graft.gen.Synth
import graft.pivot.SeriesPivot
import org.apache.spark.sql.functions._

/** Native Catalyst gorilla_decode_* expressions (SURVEY.md §2.9 optional
  * Expression upgrade): SQL-path decode must equal the typed decode.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("SQL decode of segments equals typed decode and the input") {
    GorillaFunctions.register(spark)
    val turns = Synth.tiny(spark).cache()
    val cfg = RollupConfig("", "")
    val segs = SeriesPivot.segmentsSorted(turns, Tier.Day, cfg).toDF().cache()
    segs.createOrReplaceTempView("seg_fn_test")
    val sqlDecoded = spark.sql(
      """WITH d AS (
        |  SELECT conv_id,
        |    gorilla_decode_longs(idxBlob) AS idx,
        |    gorilla_decode_longs(tsBlob) AS tsu,
        |    gorilla_decode_strings(roleBlob) AS role,
        |    gorilla_decode_strings(toolBlob) AS tool,
        |    gorilla_decode_texts(textBlob) AS text
        |  FROM seg_fn_test)
        |SELECT conv_id, CAST(e.idx AS INT) AS turn_idx, e.role AS role,
        |       e.text AS text, e.tool AS tool, timestamp_micros(e.tsu) AS ts
        |FROM d LATERAL VIEW explode(arrays_zip(idx, tsu, role, tool, text)) t AS e
        |""".stripMargin)
    assertSameRows(sqlDecoded, turns.toDF(), "sql decode == input")
  }

  test("gorilla_explode generator equals the zip+explode decode and the input") {
    GorillaFunctions.register(spark)
    val turns = Synth.tiny(spark).cache()
    val cfg = RollupConfig("", "")
    SeriesPivot.segmentsSorted(turns, Tier.Day, cfg).toDF()
      .createOrReplaceTempView("seg_gen_test")
    val exploded = spark.sql(
      """SELECT conv_id, CAST(idx AS INT) AS turn_idx, role, text,
        |       timestamp_micros(tsu) AS ts
        |FROM seg_gen_test
        |LATERAL VIEW gorilla_explode(idxBlob, tsBlob, roleBlob, textBlob) g
        |  AS idx, tsu, role, text
        |""".stripMargin)
    assertSameRows(exploded,
      turns.toDF().select("conv_id", "turn_idx", "role", "text", "ts"),
      "generator decode == input")
    // null blob rows contribute zero output rows, not a crash
    val n = spark.sql(
      """SELECT * FROM (SELECT conv_id, CAST(NULL AS BINARY) AS nb FROM seg_gen_test)
        |LATERAL VIEW gorilla_explode(nb, nb, nb, nb) g AS idx, tsu, role, text
        |""".stripMargin).count()
    assert(n == 0)
  }

  test("decode_doubles roundtrips a ValueSegAgg blob via SQL") {
    GorillaFunctions.register(spark)
    val vals = Array(1.5, 2.25, 2.25, -3.75, 1e12, 0.0)
    val blob = graft.codec.Gorilla.encodeValues(vals)
    val got = Seq(Tuple1(blob)).toDF("b")
      .select(explode(GorillaFunctions.decodeDoubles(col("b"))).as("v"))
      .as[Double].collect()
    assert(got.toSeq == vals.toSeq)
  }

  test("nfc_normalize composes decomposed accents, identity elsewhere") {
    GorillaFunctions.register(spark)
    val decomposed = "café"          // e + combining acute, 5 chars
    val composed = "café"             // precomposed, 4 chars
    val rows = Seq((1L, decomposed), (2L, composed), (3L, "plain ascii"),
      (4L, null.asInstanceOf[String])).toDF("id", "t")
    val got = rows.select($"id",
        GorillaFunctions.nfcNormalize($"t").as("n"),
        length(GorillaFunctions.nfcNormalize($"t")).as("len"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.get(2)).map(_.toString.toLong))))
      .toMap
    assert(got(1L) == ((Some(composed), Some(4L))),
      s"decomposed must compose: ${got(1L)}")
    assert(got(2L) == ((Some(composed), Some(4L))))
    assert(got(3L) == ((Some("plain ascii"), Some(11L))))
    assert(got(4L) == ((None, None)), "null propagates")
    // SQL registration + idempotence of normalization
    rows.createOrReplaceTempView("nfc_in")
    val viaSql = spark.sql(
      "SELECT nfc_normalize(nfc_normalize(t)) FROM nfc_in WHERE id = 1")
      .as[String].head()
    assert(viaSql == composed)
  }

  test("expressions handle null input blobs") {
    GorillaFunctions.register(spark)
    val got = Seq(Tuple1(null: Array[Byte])).toDF("b")
      .select(GorillaFunctions.decodeLongs(col("b")).as("v")).collect()
    assert(got(0).isNullAt(0))
  }
}
