package graft
object Bench {
  private def esc(s: String): String = JsonEsc(s)
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.builder(LocalSession.envCpus(4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warm-up so the first measured query isn't charged for it
    // (count, not sum — summing 64-bit hashes overflows under ANSI mode).
    // Also one tiny pass through each hot expression family — interpreted
    // HOF tokenizer, hash aggregate, ranking window — because the first
    // query to touch a family otherwise pays its whole-stage-codegen JIT
    // (measured: ~5 s charged to whichever dedup query ran first).
    // Best-effort: a broken sfDir must surface as per-query errors in the
    // JSON below, not crash before any JSON is emitted
    spark.range(1000000).selectExpr("count(xxhash64(id))").collect()
    val warm = spark.range(2000).selectExpr("id", "concat('tok a b c d ', id) AS text")
    warm.selectExpr(
        "explode(filter(split(lower(text), '[^a-z0-9]+'), x -> length(x) > 0)) AS t")
      .groupBy("t").count().orderBy(org.apache.spark.sql.functions.desc("count"))
      .limit(5).collect()
    warm.selectExpr("id", "row_number() OVER (PARTITION BY id % 10 ORDER BY id) AS rn")
      .where("rn <= 3").selectExpr("count(1)").collect()
    try spark.read.parquet(s"$sfDir/events.parquet").limit(10).collect()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up read failed (continuing): ${e.getMessage}")
    }
    // a failing query records its error instead of posing as a fast run.
    // Between timers, sweep BOTH persistence layers: catalog.clearCache for
    // SQL-cached relations, and RDD-level unpersist for localCheckpoint
    // blocks — the dedup operators materialize posting/line/label tables as
    // localCheckpoints (see graft.dedup.Dedup materialization contract),
    // which the SQL cache manager does not track, so without the RDD sweep
    // those blocks accumulate across the ~50-query session until
    // nondeterministic ContextCleaner GC and later queries pay
    // eviction/GC pressure that belongs to no query (the round-3
    // bench-tail pollution amplifier). Safe here: no DataFrame survives
    // across iterations.
    // sorted: Map iteration order is build-dependent, and which query runs
    // first decides who absorbs each code path's JIT warm-up — a stable
    // alphabetical order keeps per-query times comparable across rounds
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(e.toString.linesIterator.next().take(200)) }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    val qs = results.map { case (k, v, _) => s"\"${esc(k)}\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => s"\"${esc(k)}\":\"${esc(e)}\"" }
      .mkString("{", ",", "}")
    val degraded = results.exists(_._3.nonEmpty)
    val total = results.map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"degraded":$degraded,"sf":"$sfDir"}""")
    spark.stop()
  }
}
