package graft.perfbench

import graft.SparkEntry
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import scala.collection.mutable

/** `query_suite`: the read and analytic side. A fixed subset of
  * `SparkEntry.queries`, one sweep at a time in one session, over tables
  * generated from the seed (`perfbench/querydata.py`).
  *
  * Setup (counted in setup_s): one untimed warm-up sweep that writes each
  * query's result to `<work>/qout/<name>` (checked against the DuckDB
  * oracles by `perfbench/run.py`) and pins its checksum.
  * Timed: sweeps for the run's seconds (at least [[MinSweeps]]); wall_s is
  * their median. Each query is forced
  * over every output column by one order-insensitive hash aggregate
  * ([[Checksum]]); a hash that differs from the pinned one counts as failed.
  * Between queries the SQL cache and persisted RDDs are cleared, untimed.
  */
object QuerySuite {
  /** query -> module holding its main operator */
  val Suite: Seq[(String, String)] = Seq(
    "rollup_1m" -> "rollup",
    "pivot_roundtrip" -> "pivot", "segment_stats" -> "pivot",
    "dedup_minhash_pairs" -> "dedup",
    "ann_ivf" -> "sim",
    "text_quality" -> "text",
    "curate" -> "pipeline",
    "multimodal_features" -> "multimodal",
    "q1_agg" -> "relational")
  val Families: Seq[String] =
    Seq("rollup", "pivot", "dedup", "sim", "text", "pipeline", "multimodal", "relational")
  val WarmUpThreads = 2
  /** queries reported one by one in the traced run */
  val Named: Seq[String] = Seq("dedup_minhash_pairs", "ann_ivf", "curate",
    "pivot_roundtrip", "segment_stats")
  /** timed sweeps per run, at least: one sweep alone varies by ~20% */
  val MinSweeps = 2

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.tables.getOrElse(sys.error("query_suite needs --tables")).toString
    val qout = ctx.work.resolve("qout")
    Main.deleteTree(qout)
    val queries = Suite.map { case (name, _) => name -> SparkEntry.queries(name) }

    // ---- setup: warm-up sweep, results written for the oracle check. The
    // queries run WarmUpThreads at a time: setup is not timed per query, and
    // overlapping them shortens it. Caches are cleared once, at the end.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmUpThreads)
    val pinned = try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fs = queries.map { case (name, fn) => scala.concurrent.Future {
        val df = fn(spark, dir).persist()
        df.write.parquet(qout.resolve(name).toString)
        name -> Checksum.of(df)
      } }
      fs.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf)).toMap
    } finally pool.shutdown()
    ctx.clearCaches()
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => pinned.contains(k) }
    Files.write(ctx.work.resolve("oracle_sql.json"),
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) })
        .getBytes("UTF-8"))
    val eventRows = spark.read.parquet(s"$dir/events.parquet").count()
    val stats = spark.read.parquet(qout.resolve("segment_stats").toString).head()
    val setupEndMs = System.currentTimeMillis()

    // ---- timed ----
    val latencies = mutable.LinkedHashMap(queries.map(_._1 -> mutable.ArrayBuffer.empty[Double]): _*)
    var failed = 0L
    val before = ctx.listener.total
    val (gc0, jit0) = (Jvm.gcSeconds, Jvm.jitSeconds)
    val (sweeps, failedSweeps) = Main.timedLoop(ctx.seconds, MinSweeps) { _ =>
      queries.foreach { case (name, fn) =>
        ctx.clearCaches()
        val t0 = System.nanoTime()
        val ok =
          try Checksum.of(fn(spark, dir)) == pinned(name)
          catch { case e: Exception =>
            System.err.println(s"[perfbench] $name failed: $e"); false }
        latencies(name) += (System.nanoTime() - t0) / 1e9
        if (!ok) failed += 1
      }
    }
    // a sweep's time is the sum of its query latencies (cache clearing excluded)
    val nSweeps = latencies.values.map(_.size).min
    val sweepTimes = (0 until nSweeps).map(i => latencies.values.map(_(i)).sum)
    val runtime = ctx.runtimeMetrics(before, ctx.listener.total, sweeps.sum, nSweeps,
      Jvm.gcSeconds - gc0, Jvm.jitSeconds - jit0)
    val wall = Stats.median(sweepTimes)
    val all = latencies.values.flatten.toSeq

    val pointsChecked = stats.getAs[Long]("points") == eventRows
    val segBytesPerPoint = stats.getAs[Double]("metaBytesPerPoint") +
      stats.getAs[Double]("textBytesPerPoint")
    val endToEnd = Seq(
      "wall_s" -> wall,
      // events are the suite's transcript analog (user = conversation)
      "turns_per_s" -> eventRows / wall,
      "segment_bytes_per_turn" -> segBytesPerPoint,
      "peak_rss_mb" -> Jvm.peakRssMb)

    val layered = if (!ctx.trace) Nil else {
      val m = traced(ctx, dir, queries)
      runtime ++ m ++ Seq(
        "queries.p50_s" -> Stats.median(all),
        "queries.samples" -> all.size.toDouble,
        "trace.overhead_s" -> (m.filter(_._1.matches("queries\\.[a-z]+\\.wall_s"))
          .map(_._2).sum - wall))
    }

    Outcome(
      attempted = all.size + failedSweeps,
      failed = failed + failedSweeps,
      checks = Seq("segment_stats_points_equal_events" -> pointsChecked),
      setupEndMs = setupEndMs,
      metrics = endToEnd ++ layered,
      facts = Seq(
        "queries" -> queries.map(_._1).mkString(" "),
        "events_rows" -> eventRows.toString,
        "sweeps" -> nSweeps.toString,
        "sweep_s" -> sweepTimes.map(w => f"$w%.3f").mkString(" ")) ++
        latencies.toSeq.map { case (k, v) => s"latency_s.$k" -> v.map(w => f"$w%.3f").mkString(" ") })
  }

  /** One more sweep, each query in its own span; per family and for the
    * named queries: wall, JIT seconds and the size of the formatted plan.
    */
  private def traced(ctx: Ctx, dir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, Double)] = {
    val spark = ctx.spark
    val spans = new Spans(spark.sparkContext, ctx.listener)
    val family = Suite.toMap
    val planLines = queries.map { case (name, fn) =>
      ctx.clearCaches()
      val df = spans(s"queries.${family(name)}.$name") {
        val d = fn(spark, dir); Checksum.of(d); d
      }
      name -> df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .linesIterator.size.toDouble
    }.toMap
    spans.write(ctx.work.resolve("spans.jsonl"))
    def of(name: String): Seq[Span] = spans.all.filter(_.name.endsWith(s".$name"))
    Families.flatMap { f =>
      val ss = spans.under(s"queries.$f")
      Seq(s"queries.$f.wall_s" -> ss.map(_.wallS).sum, s"queries.$f.jit_s" -> ss.map(_.jitS).sum)
    } ++ Named.flatMap { q =>
      Seq(s"queries.$q.wall_s" -> of(q).map(_.wallS).sum,
        s"queries.$q.jit_s" -> of(q).map(_.jitS).sum,
        s"queries.$q.plan_lines" -> planLines(q))
    }
  }
}
