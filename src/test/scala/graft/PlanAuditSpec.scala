package graft

import graft.queries.Queries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits: the optimizations we rely on at 100 TB must be
  * visible in the plan, not assumed — column pruning to the scan, predicate
  * pushdown, broadcast joins for small dims, whole-stage codegen on hot
  * paths, partition pruning on (tier, pday) tables.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** ReadSchema lines from the formatted explain (AQE-safe). */
  private def scanSchemas(df: DataFrame): Seq[String] =
    plan(df).linesIterator.filter(_.contains("ReadSchema:")).toSeq

  test("rollup_1m prunes columns: scan reads only user_id, ts, value") {
    val schemas = scanSchemas(Queries.rollup1m(spark, sfDir))
    assert(schemas.nonEmpty)
    schemas.foreach { s =>
      assert(!s.contains("props") && !s.contains("event_type"),
        s"scan reads unpruned columns: $s")
    }
  }

  test("anti-join pushes the price predicate into the orders scan") {
    val p = plan(Queries.antiJoinCustomers(spark, sfDir))
    assert(p.contains("PushedFilters") &&
      p.replaceAll("\\s+", " ").contains("GreaterThan(o_totalprice"),
      s"price filter not pushed to scan:\n$p")
  }

  test("wmode-'a' high-water predicate pushes down to the ts scan") {
    // append-mode pruning must be a plain ts >= literal (min/max-stat +
    // partition-transform prunable), never a date_format(ts) string compare
    // that forces a full rescan of the raw table on every append run
    val tmp = java.nio.file.Files.createTempDirectory("graft-append").toString
    gen.Synth.tiny(spark).write.parquet(s"$tmp/in")
    val in = spark.read.parquet(s"$tmp/in")
    val pruned = in.filter(
      RollupJob.appendPredicate(in.schema("ts").dataType, "2024-01-01"))
    val p = plan(pruned)
    assert(p.contains("PushedFilters") &&
      p.replaceAll("\\s+", " ").contains("GreaterThanOrEqual(ts"),
      s"ts high-water filter not pushed to scan:\n$p")
  }

  test("dimension join broadcasts the customer side") {
    val p = plan(Queries.joinBroadcastAgg(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("rollup cube aggregates with map-side partials inside codegen") {
    val df = rollup.Rollups.cube(gen.Synth.tiny(spark), Tier.Minute)
    val p = plan(df)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_count"), s"no partial aggregation:\n$p")
    // AQE defers codegen until execution — inspect the non-adaptive plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cg = rollup.Rollups.cube(gen.Synth.tiny(spark), Tier.Minute)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(!cg.startsWith("Found 0"),
        s"no whole-stage codegen spans:\n${cg.take(400)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("points table reads prune partitions on tier") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-prune").toString
    RollupJob.run(spark, RollupConfig(
      inputPath = { val p = s"$tmp/in"; gen.Synth.tiny(spark).write.parquet(p); p },
      outputRoot = s"$tmp/out", runId = "r"))
    val pts = io.ParquetTableIO.read(spark, s"$tmp/out/points")
      .filter($"tier" === "1d")
    val scan = pts.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    // partition filter present and only 1d partition directories selected
    assert(scan.partitionFilters.nonEmpty, "no partition filters")
    val parts = scan.relation.location.listFiles(scan.partitionFilters, Nil)
    val dirs = parts.flatMap(_.files.map(_.getPath.toString)).toSeq
    assert(dirs.nonEmpty && dirs.forall(_.contains("tier=1d")),
      s"partition pruning failed: ${dirs.take(3)}")
  }

  test("top-k queries plan TakeOrderedAndProject, never a global window sort") {
    Seq(
      Queries.topParts(spark, sfDir),
      Queries.annBruteForce(spark, sfDir),
      Queries.annLsh(spark, sfDir)).foreach { df =>
      val p = plan(df)
      assert(p.contains("TakeOrderedAndProject"),
        s"expected per-partition heap top-k:\n$p")
      assert(!p.contains("Window"), s"global window sort in top-k plan:\n$p")
    }
  }

  test("job fold of all tiers from segments adds no exchange before the write repartition") {
    val segs = pivot.SeriesPivot.segmentsSorted(
      gen.Synth.tiny(spark), Tier.Day, RollupConfig("", ""))
      .persist()
    segs.count()
    val toWrite = RollupJob.foldPoints(segs, Tier.cascade).repartition(4, $"pday")
    toWrite.collect() // materialize through AQE
    val executed = toWrite.queryExecution.executedPlan.toString
    assert(executed.contains("InMemoryRelation"), s"fold does not read the cached segments:\n$executed")
    // cut the plan at the cached segments boundary (InMemoryRelation prints
    // its own build plan, whose pivot exchange is not re-executed)
    val live = executed.linesIterator.takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
    val exchanges = "Exchange".r.findAllIn(live).size
    assert(exchanges == 1 && live.contains("REPARTITION_BY_NUM"),
      s"expected only the write repartition segments→points, got $exchanges:\n$live")
    assert(!live.contains("ObjectHashAggregate"),
      s"the fold must not plan an object hash aggregate:\n$live")
    segs.unpersist()
  }

  test("LSH candidate joins are equi-joins — no cartesian product anywhere") {
    // the one sanctioned nested-loop is the 1-row broadcast query vector in
    // ann_*; bucket/band candidate generation must always be an equi-join
    Seq(
      Queries.dedupMinhashPairs(spark, sfDir),
      Queries.dedupSimhashPairs(spark, sfDir),
      Queries.embedDupPairs(spark, sfDir)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"cartesian in LSH plan:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"no equi-join found:\n$p")
    }
  }

  test("decontaminate broadcasts the benchmark gram set (semi-join, no shuffle of corpus grams)") {
    val p = plan(Queries.decontaminate(spark, sfDir))
    assert(p.replaceAll("\\s+", " ").contains("BroadcastHashJoin") &&
      p.contains("LeftSemi"), s"expected broadcast left-semi join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in decontaminate:\n$p")
  }

  test("hash split is a pure projection — zero exchanges") {
    val p = plan(Queries.hashSplit(spark, sfDir))
    assert(!p.contains("Exchange"),
      s"hash split must not shuffle (content-independent per-row expr):\n$p")
  }

  test("dataset mix is a pure projection + generate — zero exchanges") {
    val p = plan(Queries.datasetMix(spark, sfDir))
    assert(!p.contains("Exchange"),
      s"weighted mixing must not shuffle (per-row copy rule + explode):\n$p")
    assert(p.contains("Generate"), s"expected executor-side explode:\n$p")
  }

  test("m4 downsampling is one aggregation — single exchange, no window") {
    val p = plan(Queries.m4Downsample(spark, sfDir))
    assert(!p.contains("Window"),
      s"M4 must be a pure aggregation, not a ranking window:\n$p")
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$p")
  }

  test("hot n-grams top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Queries.hotNgrams(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n$p")
  }

  test("knn join is a bucket equi-join, never a cartesian") {
    val p = plan(Queries.annKnnJoin(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"cartesian in ann_knn_join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in ann_knn_join:\n$p")
  }

  test("group quantiles window runs over the aggregated histogram") {
    // a window straight over data rows would serialize a hot group
    // through one task — every Window's SUBTREE must contain the
    // (group, value) histogram Aggregate, so the window input is
    // bounded by distinct values per group, never row counts
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = Queries.groupQuantiles(spark, sfDir).queryExecution.optimizedPlan
    val windows = lp.collect { case w: LWindow => w }
    assert(windows.nonEmpty, s"no window in plan:\n$lp")
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"window input is not the aggregated histogram:\n$lp")
    }
    val p = plan(Queries.groupQuantiles(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"cartesian in group_quantiles:\n$p")
  }

  test("substring dedup semi-joins on the gram hash, no cartesian") {
    val p = plan(Queries.substringDedup(spark, sfDir))
    assert(p.contains("LeftSemi"), s"expected semi-join on hot grams:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in substring_dedup:\n$p")
  }

  test("line dedup anti-joins on the hashed line key, no cartesian") {
    val p = plan(Queries.lineDedup(spark, sfDir))
    assert(p.contains("LeftAnti"), s"expected anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in line_dedup:\n$p")
  }

  test("exact dedup never plans a per-fingerprint window (hot-text skew funnel)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.dedup.Dedup.exact(docs, "doc_id", "text"))
    assert(!p.contains("Window"),
      s"row_number-per-fingerprint serializes hot texts through one task:\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"expected map-side partial min aggregate:\n$p")
  }

  test("as-of join is one exchange + per-key window — no range-join blowup") {
    val l = spark.range(100).selectExpr("id % 7 as k", "timestamp_seconds(id) as ts", "id as eid")
    val r = spark.range(20).selectExpr("id % 7 as k", "timestamp_seconds(id * 5) as ts", "id as qid")
    val p = plan(graft.rollup.AsOf.joinAsOf(l, r, "k", "ts", Seq("qid")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"as-of must not range-join:\n$p")
    // count operator detail headers "(N) Exchange" so the tree line and its
    // detail section aren't double-counted
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$p")
    assert(!p.contains("SinglePartition"), s"global window in as-of:\n$p")
  }

  test("interval join composes as a bucketed equi-join — no cartesian") {
    val p = plan(Queries.intervalJoinSessions(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"range predicate must not plan a product join:\n$p")
  }

  test("pack_sequences windows per shard — never a single-partition global sort") {
    val p = plan(Queries.packSequences(spark, sfDir))
    assert(!p.contains("SinglePartition"),
      s"global window would serialize the corpus through one partition:\n$p")
  }

  test("curate pipeline composes without a cartesian product") {
    val p = plan(Queries.curate(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"cartesian in curate:\n$p")
    assert(p.contains("LeftAnti"), s"expected decontamination anti-join:\n$p")
  }

  test("pivot queries run the sorted pivot, never a typed object hash aggregate") {
    // pivot_roundtrip and segment_stats must pivot through the bounded-memory
    // sort + streaming encoder, not an Aggregator that buffers whole series
    Seq(Queries.pivotRoundtrip(spark, sfDir), Queries.segmentStats(spark, sfDir))
      .foreach { df =>
        val p = plan(df)
        assert(!p.contains("ObjectHashAggregate"), s"typed aggregate pivot in plan:\n$p")
        assert(p.contains("Sort (") && "_bucket#\\d+L? ASC".r.findFirstIn(p).nonEmpty,
          s"missing the pivot's in-partition sort on (conv_id, _bucket, turn_idx):\n$p")
      }
  }

  test("pivot plan is one exchange + in-partition sort (no extra shuffle)") {
    val cfg = RollupConfig("", "")
    val p = plan(pivot.SeriesPivot.segmentsSorted(
      gen.Synth.tiny(spark), Tier.Day, cfg).toDF())
    val exchanges = "Exchange \\(".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n$p")
    assert(p.contains("Sort ("), s"missing in-partition sort:\n$p")
  }
}
