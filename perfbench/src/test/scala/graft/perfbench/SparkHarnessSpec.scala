package graft.perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Checksum and listener behaviour on a small local session. */
class SparkHarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  private lazy val listener = {
    val l = new SpanListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  override def afterAll(): Unit = spark.stop()

  private def rows = {
    import spark.implicits._
    Seq((1L, "a", 1.5, Map("x" -> 1L, "y" -> 2L)), (2L, "b", 2.25, Map("y" -> 3L)),
      (3L, null, 0.1 + 0.2, Map.empty[String, Long]))
      .toDF("id", "s", "d", "m")
  }

  test("checksum ignores row order, partitioning and column order") {
    val a = Checksum.of(rows)
    assert(Checksum.of(rows.orderBy(desc("id"))) == a)
    assert(Checksum.of(rows.repartition(3, col("s"))) == a)
    assert(Checksum.of(rows.select("m", "d", "s", "id")) == a)
    assert(a.rows == 3)
  }

  test("checksum sees duplicates, changed values and moved nulls") {
    import spark.implicits._
    val a = Checksum.of(rows)
    assert(Checksum.of(rows.union(rows.limit(1))) != a)
    assert(Checksum.of(rows.withColumn("d", col("d") + 1)) != a)
    val x = Seq[(String, String)](("v", null)).toDF("p", "q")
    val y = Seq[(String, String)]((null, "v")).toDF("p", "q")
    assert(Checksum.of(x) != Checksum.of(y))
  }

  test("checksum treats maps by content and floats at float precision") {
    import spark.implicits._
    val m1 = Seq(Map("x" -> 1L, "y" -> 2L)).toDF("m")
    val m2 = Seq(Map("y" -> 2L, "x" -> 1L)).toDF("m")
    assert(Checksum.of(m1) == Checksum.of(m2))
    val d1 = Seq(0.1 + 0.2).toDF("d")
    val d2 = Seq(0.3).toDF("d")
    assert(Checksum.of(d1) == Checksum.of(d2))
  }

  test("listener sums tasks, stages and shuffle bytes per span") {
    val sc = spark.sparkContext
    val spans = new Spans(sc, listener)
    spans("plain")(sc.parallelize(1 to 100, 4).map(_ * 2).collect())
    spans("shuffle")(sc.parallelize(1 to 100, 4).map(x => (x % 3, 1))
      .reduceByKey(_ + _, 2).collect())
    sc.parallelize(1 to 10, 3).count() // outside any span
    val plain = spans.under("plain").head.totals
    assert(plain.jobs == 1 && plain.stages == 1 && plain.tasks == 4)
    assert(plain.shuffleStages == 0 && plain.shuffleWriteBytes == 0)
    val shuffle = spans.under("shuffle").head.totals
    assert(shuffle.jobs == 1 && shuffle.stages == 2 && shuffle.tasks == 6)
    assert(shuffle.shuffleStages == 1 && shuffle.shuffleWriteBytes > 0)
    assert(shuffle.runMs >= 0 && shuffle.taskMaxMs >= 0)
    assert(spans.all.map(_.name) == Seq("plain", "shuffle"))
  }

  test("listener counts input records and output rows of a span") {
    val tmp = Files.createTempDirectory("perfbench-spec")
    val dir = tmp.resolve("t").toString
    val spans = new Spans(spark.sparkContext, listener)
    try {
      spans("write")(spark.range(0, 500, 1, 2).write.parquet(dir))
      spans("read")(spark.read.parquet(dir).filter(col("id") >= 0).collect())
    } finally Main.deleteTree(tmp)
    assert(spans.under("write").head.totals.outputRecords == 500)
    assert(spans.under("read").head.totals.inputRecords == 500)
    val before = listener.total
    spark.range(0, 10, 1, 2).collect()
    assert(listener.total.minus(before).tasks == 2)
  }
}
