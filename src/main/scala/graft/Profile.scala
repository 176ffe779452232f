package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev profiler for driver-contract queries — [[Bench]] is the frozen
  * driver contract, so extra instrumentation lives here. Two modes, both
  * with Bench's session confs (env: SPARK_GRAFT_SF_DIR as in [[Bench]];
  * SPARK_GRAFT_CPUS, default 32):
  *
  * `runMain graft.Profile time [reps] [query...]` — default 2 reps, all
  * queries:
  *  - noop-sink timing (`df.write.format("noop")`) so a query's cost is
  *    the computation of every column, not the `count()` column pruning
  *    or a real sink;
  *  - per-iteration GC-time and JIT-compilation-time deltas
  *    (GarbageCollectorMXBeans / CompilationMXBean). JIT time is summed
  *    over the compiler threads, which run beside the query, so it can
  *    exceed wall time;
  *  - job descriptions per query so the UI/event log is readable.
  * Prints one JSON line per (query, rep):
  * {"q":name,"rep":i,"wall_s":...,"gc_s":...,"jit_s":...,"sink":"noop"}
  *
  * `runMain graft.Profile plans <outDir> <suffix> <query...>` — writes
  * each query's `explain("formatted")` to `<outDir>/<query>_<suffix>.txt`,
  * the plan evidence files kept under plans/rNN/.
  */
object Profile {
  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMillis: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime
    else 0L
  }

  private def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private def session(): SparkSession = {
    val spark = LocalSession.builder(LocalSession.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def requireKnown(names: Seq[String]): Unit = {
    val known = SparkEntry.queries.keySet
    val unknown = names.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown queries ${unknown.mkString(", ")}; " +
      s"valid: ${known.toSeq.sorted.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case "time" +: rest => time(rest)
    case "plans" +: outDir +: suffix +: names => plans(outDir, suffix, names)
    case _ => sys.error("usage: graft.Profile time [reps] [query...] | " +
      "graft.Profile plans <outDir> <suffix> <query...>")
  }

  private def time(args: Seq[String]): Unit = {
    // a leading integer is the rep count unless it names a query
    val repsArg = args.headOption.filterNot(SparkEntry.queries.contains)
      .flatMap(_.toIntOption)
    val reps = repsArg.getOrElse(2)
    val wanted = if (repsArg.isDefined) args.tail else args
    require(reps > 0, s"reps must be positive, got $reps")
    requireKnown(wanted)
    val spark = session()
    spark.range(1000000).selectExpr("count(xxhash64(id))").collect()
    val names =
      if (wanted.nonEmpty) wanted
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        spark.sparkContext.setJobDescription(s"$name #$i (noop)")
        val gc0 = gcMillis; val jit0 = jitMillis
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"""{"q":"${JsonEsc(name)}","rep":$i,"wall_s":$wall%.3f,""" +
          f""""gc_s":${(gcMillis - gc0) / 1e3}%.3f,""" +
          f""""jit_s":${(jitMillis - jit0) / 1e3}%.3f,"sink":"noop"}""")
        spark.sparkContext.setJobDescription(null)
      }
    }
    spark.stop()
  }

  private def plans(outDir: String, suffix: String, names: Seq[String]): Unit = {
    requireKnown(names)
    val spark = session()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val p = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), p.getBytes("UTF-8"))
      println(s"[profile] wrote $name ($suffix)")
    }
    spark.stop()
  }
}
