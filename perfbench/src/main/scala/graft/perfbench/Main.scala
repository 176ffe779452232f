package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one workload run hands back to `perfbench/run.py`. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean)],
    setupEndMs: Long,
    metrics: Seq[(String, Double)],
    facts: Seq[(String, String)]) {
  def correct: Boolean = failed == 0 && checks.forall(_._2)
}

/** Wall time of consecutive named setup phases, for the run's facts. */
final class PhaseClock {
  private var last = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[String]
  def apply(name: String): Unit = {
    val now = System.nanoTime()
    done += f"$name=${(now - last) / 1e9}%.2f"
    last = now
  }
  override def toString: String = done.mkString(" ")
}

/** Everything a workload needs: the session, the listener and the run's
  * parameters. `work` is a scratch directory the workload owns.
  */
final case class Ctx(spark: SparkSession, listener: SpanListener, work: Path,
    tables: Option[Path], seed: Long, seconds: Double, trace: Boolean) {
  val cores: Int = Main.Cores

  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Session-wide runtime counters over a measured window, per unit of
    * work (job run or sweep) where the counter is additive.
    */
  def runtimeMetrics(before: Totals, after: Totals, wallS: Double, units: Int,
      gcS: Double, jitS: Double): Seq[(String, Double)] = {
    val d = after.minus(before)
    val u = math.max(1, units).toDouble
    Seq(
      "spark.jobs" -> d.jobs / u,
      "spark.shuffle_stages" -> d.shuffleStages / u,
      "spark.tasks" -> d.tasks / u,
      "spark.shuffle_bytes" -> d.shuffleWriteBytes / u,
      "spark.busy_share" -> (if (wallS > 0) d.runMs / 1e3 / (wallS * cores) else 0.0),
      "spark.task_max_s" -> d.taskMaxMs / 1e3,
      "jvm.gc_s" -> gcS / u,
      "jvm.jit_s" -> jitS / u)
  }
}

/** Benchmark entry point, the JVM half; `perfbench/run.py` launches it.
  *
  * {{{
  * graft.perfbench.Main --workload <rollup_full|query_suite> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> [--tables <dir>]
  * }}}
  * Writes `<work>/result.json`; exits non-zero on any error.
  */
object Main {
  val Cores = 4
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "rollup_full" -> RollupFull.run,
    "query_suite" -> QuerySuite.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val work = Paths.get(opts.getOrElse("work", sys.error("--work is required"))).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work)
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val ctx = Ctx(spark, listener, work, opts.get("tables").map(Paths.get(_).toAbsolutePath),
        opts.getOrElse("seed", "1").toLong, opts.getOrElse("seconds", "10").toDouble,
        opts.getOrElse("trace", "0") == "1")
      val out = body(ctx)
      Files.write(work.resolve("result.json"), render(workload, out).getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** Fixed load shape: local[4], 4x cores shuffle partitions (the job's own
    * convention), AQE on, every scratch path inside the work directory.
    */
  def session(work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (Cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8388608")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def render(workload: String, o: Outcome): String = Json.obj(Seq(
    "workload" -> Json.str(workload),
    "attempted" -> Json.num(o.attempted),
    "failed" -> Json.num(o.failed),
    "correct" -> (if (o.correct) "true" else "false"),
    "setup_end_ms" -> Json.num(o.setupEndMs),
    "checks" -> Json.obj(o.checks.map { case (k, v) => k -> (if (v) "true" else "false") }),
    "metrics" -> Json.obj(o.metrics.map { case (k, v) => k -> Json.num(v) }),
    "facts" -> Json.obj(o.facts.map { case (k, v) => k -> Json.str(v) })))

  /** Runs `body` repeatedly until `seconds` have passed and it ran at least
    * `minPasses` times, returning the wall time of each successful pass and
    * the failure count.
    */
  def timedLoop(seconds: Double, minPasses: Int = 1)(body: Int => Unit): (Seq[Double], Int) = {
    val walls = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var i = 0
    val start = System.nanoTime()
    while (i < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      i += 1
      val t0 = System.nanoTime()
      try { body(i); walls += (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] pass $i failed: $e")
      }
    }
    (walls.toSeq, failed)
  }

  /** Sum of the sizes of files named *.parquet under `dir`, and their count. */
  def parquetBytes(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        var bytes = 0L; var files = 0L
        s.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
          .forEach { p => bytes += Files.size(p); files += 1 }
        (bytes, files)
      } finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
}
