package graft.queries

import graft.{RollupConfig, Tier, Turn}
import graft.pivot.SeriesPivot
import graft.rollup.{GapFill, Rollups}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-contract query implementations over the read-only testdata
  * (TESTDATA.md / FIXTURES.md §F2). The `events` table plays the
  * transcript-analog role: series key `user_id`, role ↔ `event_type`,
  * text ↔ `props`, measure ↔ `value`.
  *
  * Numeric discipline for exact DuckDB-oracle equality: every SUM is over
  * integral values (counts, or `floor(value*1e6)` micros) so float
  * accumulation order can't produce engine-dependent results; MIN/MAX on
  * doubles are order-independent and exact (SURVEY.md §7.4.1).
  */
object Queries {

  private val cfg = RollupConfig(inputPath = "", outputRoot = "")

  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def orders(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")
  private def customer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")
  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def bucketCol(sec: Long): Column =
    Rollups.bucketOf(col("ts"), sec).as("bucket")

  /** Base 1-minute rollup of the events series (one scan, one shuffle,
    * whole-stage codegen'd hash aggregate with map-side partials).
    */
  def rollup1m(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), bucketCol(60))
      .agg(
        count(lit(1)).as("n"),
        sum(floor(col("value") * 1e6)).cast("long").as("vsum_micro"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"))

  /** Re-aggregate a finer events rollup into a coarser bucket — the tier
    * cascade (sums of sums / min of mins), never rescanning raw data.
    */
  private def cascade(finer: DataFrame, sec: Long): DataFrame =
    finer
      .withColumn("bucket", Rollups.rebucket(col("bucket"), sec))
      .groupBy("user_id", "bucket")
      .agg(
        sum("n").as("n"),
        sum("vsum_micro").as("vsum_micro"),
        min("vmin").as("vmin"),
        max("vmax").as("vmax"))

  /** 1h rollup via the 1m→1h cascade; the oracle computes 1h directly from
    * raw rows — passing proves the cascade law end-to-end.
    */
  def rollup1hCascade(s: SparkSession, dir: String): DataFrame =
    cascade(rollup1m(s, dir), 3600)

  /** 1d rollup via the full 1m→1h→1d cascade. */
  def rollup1dCascade(s: SparkSession, dir: String): DataFrame =
    cascade(rollup1hCascade(s, dir), 86400)

  /** Per-type hourly rollup with exact distinct-user counts. */
  def typeRollup1h(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(bucketCol(3600), col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"))

  /** Linear-interpolation gap-fill over the hourly per-user event counts
    * (spine join J1 + window frames W2, SURVEY.md §2.3/§2.5).
    */
  def gapfill1h(s: SparkSession, dir: String): DataFrame = {
    val pts = events(s, dir)
      .groupBy(col("user_id"), bucketCol(3600))
      .agg(count(lit(1)).cast("double").as("n"))
    GapFill.fillSeries(pts, "user_id", "bucket", Seq("n"), 3600)
  }

  /** Events mapped to the transcript schema (BASELINE.json input_hint):
    * conv_id = user_id, turn_idx = stable row_number per user by (ts,
    * event_id), role = event_type, text = props.
    */
  def eventsAsTurns(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[Turn] = {
    import s.implicits._
    events(s, dir)
      .select(
        col("user_id").cast("string").as("conv_id"),
        (row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))) - 1).as("turn_idx"),
        col("event_type").as("role"),
        col("props").as("text"),
        lit(null).cast("string").as("tool"),
        col("ts"))
      .as[Turn]
  }

  /** The flagship PyReshaper-analog path: pivot rows into compressed
    * per-series segments, decode back, return the rows — the oracle is the
    * RAW INPUT itself (slice-to-series equivalence, BASELINE.json
    * north_star "mirroring PyReshaper's slice-to-series equivalence
    * tests").
    */
  def pivotRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val segs = SeriesPivot.segmentsSorted(eventsAsTurns(s, dir), Tier.Day, cfg)
    SeriesPivot.decode(segs)
      .select(col("conv_id"), col("turn_idx"), col("role"),
        col("text"), col("ts"))
  }

  /** Same roundtrip through the NATIVE Catalyst surface: the
    * `gorilla_explode` Generator (registered via GraftExtensions/register)
    * decodes each segment's four blobs straight to rows — no per-segment
    * zipped array-of-structs ever materializes (the scalar decode
    * expressions `gorilla_decode_*` remain available for column-at-a-time
    * SQL). Result must equal the raw input.
    */
  def segmentDecodeSql(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GorillaFunctions.register(s)
    SeriesPivot.segmentsSorted(eventsAsTurns(s, dir), Tier.Day, cfg)
      .toDF().createOrReplaceTempView("segments_v")
    s.sql(
      """SELECT conv_id, CAST(idx AS INT) AS turn_idx, role, text,
        |       timestamp_micros(tsu) AS ts
        |FROM segments_v
        |LATERAL VIEW gorilla_explode(idxBlob, tsBlob, roleBlob, textBlob) g
        |  AS idx, tsu, role, text
        |""".stripMargin)
  }

  /** Numeric series path: Gorilla-XOR value blobs + DoD timestamp blobs
    * built by the typed ValueSegAgg aggregator over (user_id, day), decoded
    * back through the native SQL expressions — must equal the raw rows.
    */
  def valueSegmentsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GorillaFunctions.register(s)
    val vagg = new graft.codec.ValueSegAgg
    val pts = events(s, dir)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tsu"), col("value"))
      .as[(Long, Long, Double)]
    val segs = pts
      .groupByKey(t => (t._1, Math.floorDiv(t._2 / 1000000L, 86400L) * 86400L))
      .mapValues(t => graft.codec.ValuePoint(t._2, t._3))
      .agg(vagg.toColumn.name("seg"))
      .map { case ((uid, _), seg) => (uid, seg.tsBlob, seg.valBlob) }
      .toDF("user_id", "tsBlob", "valBlob")
    segs
      .select(col("user_id"),
        graft.functions.GorillaFunctions.decodeLongs(col("tsBlob")).as("tsu"),
        graft.functions.GorillaFunctions.decodeDoubles(col("valBlob")).as("v"))
      .select(col("user_id"), explode(arrays_zip(col("tsu"), col("v"))).as("e"))
      .select(col("user_id"), expr("timestamp_micros(e.tsu)").as("ts"),
        col("e.v").as("value"))
  }

  /** Compression accounting over the pivoted segments (bytes/point) — not
    * SQL-expressible; rows-only driver check.
    */
  def segmentStats(s: SparkSession, dir: String): DataFrame =
    SeriesPivot.compressionStats(
      SeriesPivot.segmentsSorted(eventsAsTurns(s, dir), Tier.Day, cfg))

  // ------------------------------------------------------------- TPC-H ---

  /** TPC-H Q1-style aggregate (integral-exact variants of the sums). */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(floor(col("l_extendedprice") * 100)).cast("long").as("sum_price_cents"),
        count(lit(1)).as("n"))

  /** Broadcast dimension join (J2): orders ⋈ customer, rolled up by market
    * segment. The customer side is explicitly broadcast.
    */
  def joinBroadcastAgg(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .join(broadcast(customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100)).cast("long").as("sum_price_cents"))

  /** Anti-join (J3 — the skip-existing/resume primitive): customers that
    * never placed a large order (predicate pushed below the join).
    */
  def antiJoinCustomers(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir).filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** Deterministic top-k: orderBy().limit() with a total tie-break —
    * Catalyst plans TakeOrderedAndProject (per-partition heap top-k +
    * driver merge), never a single-partition global sort; survives
    * million-key partkey cardinality.
    */
  def topParts(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
      .orderBy(col("sum_qty").desc, col("l_partkey"))
      .limit(10)

  // ------------------------------------------------------ text analysis ---

  /** Per-language document stats incl. whitespace token counts. */
  def docTokenStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("lang"), length(col("text")).as("chars"),
        size(split(col("text"), "\\s+")).as("tokens"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("chars")).cast("long").as("sum_chars"),
        sum(col("tokens")).cast("long").as("sum_tokens"),
        min(col("tokens")).cast("long").as("min_tokens"),
        max(col("tokens")).cast("long").as("max_tokens"))

  /** Exact deduplication over a corpus with injected duplicates (the
    * driver documents table has none): keep the minimum doc_id per
    * distinct text.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 10 === 0))
    corpus
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
      .select(col("keep_id"), col("copies"))
  }

  /** ROLLUP grouping sets (Catalyst Expand operator): per (user, type),
    * per user, and grand-total counts in one pass.
    */
  def rollupGroupingSets(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .rollup(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1e6)).cast("long").as("vsum_micro"))

  /** Time-based sliding aggregate (RANGE frame, not ROWS): for every
    * event, stats over that user's preceding hour — RANGE includes all
    * peers of the current timestamp, so the result is deterministic under
    * any shard order even with duplicate (user, second) timestamps, where
    * a ROWS frame would be order-dependent. Integer-micro value sums keep
    * both engines exact; epoch seconds are pinned-UTC integer keys.
    */
  def windowSliding1h(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
      .rangeBetween(-3599L, 0L)
    events(s, dir)
      .select(col("user_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("ts_sec"),
        col("value"))
      .select(col("user_id"), col("ts_sec"),
        count(lit(1)).over(w).as("n_1h"),
        sum(floor(col("value") * 1e6).cast("long")).over(w).as("vsum_micro_1h"),
        min(col("value")).over(w).as("vmin_1h"),
        max(col("value")).over(w).as("vmax_1h"))
  }

  /** Analytic window functions: per-user event sequence with running
    * count and running micro-sum (ordered by ts, event_id).
    */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir).select(
      col("user_id"), col("event_id"),
      row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))).cast("long").as("seq"),
      count(lit(1)).over(w).as("running_n"),
      sum(floor(col("value") * 1e6)).over(w).cast("long").as("running_vsum_micro"))
  }

  /** Sessionization: split each user's event stream into sessions at
    * >30-minute inactivity gaps (lag + running conditional sum), then
    * per-session stats — the session-window analog without streaming state.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withSess = events(s, dir)
      .withColumn("gap",
        unix_timestamp(col("ts")) - lag(unix_timestamp(col("ts")), 1)
          .over(byUser))
      .withColumn("sess",
        sum(when(col("gap") > 1800, 1).otherwise(0))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
    withSess
      .groupBy(col("user_id"), col("sess"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .cast("long").as("duration_sec"))
  }

  // --------------------------------------------- training-data pipeline ---

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** documents + injected exact copies (+10000) and near-copies (+20000,
    * one token appended) — the dedup corpus (driver documents contain no
    * duplicates).
    */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select("doc_id", "text")
    docs
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" zzzuniquetoken")).as("text")))
  }

  /** Exact pairwise word-3-gram Jaccard near-dup pairs (tau=0.6). */
  def dedupJaccardPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.jaccardPairs(dupCorpus(s, dir), "doc_id", "text", 3, 0.6)

  /** MinHash+LSH near-dup pairs, exact-verified at tau=0.8. With k=32/16
    * bands the detection probability at s>=0.8 is 1-(1-s^2)^16 > 0.9999998
    * and the hash family is deterministic, so the result equals the exact
    * Jaccard pairs (the oracle) on this corpus.
    */
  def dedupMinhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.minhashDupPairs(dupCorpus(s, dir), "doc_id", "text",
      n = 3, k = 32, bands = 16, minJaccard = 0.8)

  /** SimHash near-dup pairs (Hamming <= 3), using the SQL-portable
    * md5-prefix token hash so the DuckDB oracle recomputes the exact
    * signatures (engine default stays xxhash64 — [[graft.dedup.Dedup]]).
    */
  def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.simhashDupPairs(dupCorpus(s, dir), "doc_id", "text", 3,
      graft.dedup.Dedup.md5TokenHash)
      .withColumn("hamming", col("hamming").cast("long"))

  /** Near-dup cluster formation — the step AFTER pair generation in a real
    * dedup pipeline: MinHash+LSH pairs at tau=0.8 → connected components
    * (min-id label propagation) → (doc_id, cluster_id) for every corpus
    * doc; survivors are the rows with doc_id == cluster_id. The oracle
    * recomputes the exact transitive closure with a recursive CTE.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    minhashClusters(dupCorpus(s, dir))
      .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))

  /** `(id, cluster)` for every corpus doc: MinHash+LSH pairs at tau=0.8 →
    * connected components. Exact-duplicate classes collapse to one
    * representative BEFORE pair generation (Dedup.dupComponentsCollapsed):
    * identical labels, but a viral m-copy class costs O(m) instead of
    * m²/2 LSH candidate pairs — the corpus's injected exact copies
    * exercise the collapse path. coalesce(text, ''): a null text shingles
    * exactly like an empty text (gramArray's whole-text fallback emits
    * [""] for both), so keying them together preserves the
    * collapse⇔uncollapsed equivalence even on degenerate rows instead of
    * leaning on the null-key singleton path.
    */
  private def minhashClusters(corpus: DataFrame): DataFrame =
    graft.dedup.Dedup.dupComponentsCollapsed(corpus, "doc_id",
      graft.text.TextAnalysis.fingerprint(coalesce(col("text"), lit(""))),
      reps => graft.dedup.Dedup.minhashDupPairs(reps, "doc_id", "text",
        n = 3, k = 32, bands = 16, minJaccard = 0.8))

  /** Survivor selection per near-dup cluster — the keep-rule AFTER
    * cluster formation (FineWeb-style: keep the highest-QUALITY copy, not
    * the arbitrary min-id): pairs → components → per-cluster
    * `max_by(id, (quality, -id))`. One aggregation over the labeled
    * corpus; ties (exact copies score identically) break to the smallest
    * id, so the rule is content-based and re-shard-stable. The oracle
    * replays closure + score + argmax.
    */
  def dedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(s, dir)
    val clusters = minhashClusters(corpus)
    val scored = corpus.select(col("doc_id").as("id"),
      graft.text.TextAnalysis.quality(col("text")).getField("quality").as("q"))
    clusters.join(scored, "id")
      .groupBy(col("cluster").as("cluster_id"))
      .agg(
        max_by(col("id"), struct(col("q"), (-col("id")).as("nid"))).as("survivor_id"),
        max(col("q")).as("quality"),
        count(lit(1)).as("cluster_size"))
  }

  /** Benchmark decontamination: corpus = documents + injected "leaked"
    * copies (+30000) of the eval slice; benchmark = the doc_id%17==3
    * slice. Flags every corpus doc sharing a word-5-gram with any
    * benchmark doc — the injected leaks fully overlap, and the tiny
    * synthetic vocabulary yields organic collisions too, so both paths
    * are exercised. Oracle replays the gram join on shingle strings.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 17 === 3)
    val corpus = docs.unionByName(
      bench.select((col("doc_id") + 30000).as("doc_id"), col("text")))
    graft.dedup.Dedup.decontaminate(corpus, "doc_id", "text",
      bench, "doc_id", "text", n = 5)
      .select(col("id").as("doc_id"), col("hits"))
  }

  /** Corpus-wide duplicated-line removal over a deterministic "pages"
    * corpus: every 5 consecutive dup-corpus docs form one multi-line page
    * wrapped in shared nav/footer boilerplate. Boilerplate (df=all pages)
    * and the injected exact-copy lines (df=2, original page + copy page)
    * are dropped; near-copy and unique lines survive; pages reduced to
    * nothing come back with empty text_clean.
    */
  def lineDedup(s: SparkSession, dir: String): DataFrame = {
    val pages = dupCorpus(s, dir)
      .groupBy(floor(col("doc_id") / 5).cast("long").as("page_id"))
      .agg(concat_ws("\n",
        lit("NAV HOME PRODUCTS ABOUT"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            r => r.getField("text"))),
        lit("COPYRIGHT 2026 EXAMPLE CORP")).as("text"))
    graft.dedup.Dedup.dropDuplicateLines(pages, "page_id", "text", minDf = 2)
      .select(col("id").as("page_id"), col("n_kept"), col("n_dropped"),
        col("text_clean"))
  }

  /** Exact repeated-substring spans (suffix-array-style dedup, Lee et al.
    * 2022) at k=8 tokens over documents + planted repeats: +4000000 = every
    * 10th doc with a fresh leading token (the original becomes fully
    * covered; the copy's first window is unique, so its span starts one
    * position in — exercising partial coverage), +5000000 = every 13th doc
    * self-concatenated (within-doc repetition, the suffix-array semantics
    * LSH/minhash can't see). Organic 8-gram repeats in the synthetic
    * vocabulary exercise the cross-doc path too. The oracle replays the
    * rolling windows on gram STRINGS (the engine matches 64-bit hashes —
    * the shingleIds collision contract) and the gaps-and-islands span
    * arithmetic with window functions.
    */
  private def substringCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select("doc_id", "text")
    docs
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 4000000).as("doc_id"),
          concat(lit("prefixtoken "), col("text")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 5000000).as("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text")))
  }

  def substringDedup(s: SparkSession, dir: String): DataFrame =
    graft.dedup.SubstringDedup.repeatedSpans(substringCorpus(s, dir),
      "doc_id", "text", k = 8)
      .withColumnRenamed("id", "doc_id")

  /** The cut policy over the same corpus/k: duplicated spans removed,
    * survivors re-joined token-level — the actionable output of
    * [[substringDedup]]'s report. Oracle replays covered-position
    * expansion + anti-join + ordered string_agg reassembly.
    */
  def substringCut(s: SparkSession, dir: String): DataFrame =
    graft.dedup.SubstringDedup.cutSpans(substringCorpus(s, dir),
      "doc_id", "text", k = 8)
      .withColumnRenamed("id", "doc_id")

  /** Deterministic salted train/val/test split (80/10/10 per-mille) over
    * document ids — every row's bucket and split are content-independent
    * pure functions of (doc_id, salt), so the oracle re-derives all of
    * them from md5.
    */
  def hashSplit(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.assign(documents(s, dir).select("doc_id"),
      "doc_id", "split-v1", trainPerMille = 800, valPerMille = 100)

  /** End-to-end curation flagship — the whole pre-training data pipeline
    * as ONE composed DataFrame program: quality gate (token count) →
    * language gate → exact dedup (min-id survivor per text) → benchmark
    * decontamination (drop docs overlapping the eval slice's 5-grams) →
    * deterministic split assignment. One row per surviving doc. The
    * oracle replays every stage in SQL.
    */
  def curate(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select("doc_id", "text")
    // duplicates of two kinds: exact copies (+10000) AND normalization
    // variants (+20000: common ASCII letters upper-cased via translate,
    // whitespace padded/doubled) — the latter are equal only under the
    // fingerprint normalization (lower + whitespace collapse), so a
    // regression in the dedup key breaks the oracle match here instead of
    // passing silently on exact-copy luck. translate over ASCII (not
    // upper()) keeps the transform byte-identical between Spark and
    // DuckDB on any input alphabet
    val corpus = docs
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 20000).as("doc_id"),
          translate(
            concat(lit(" "), regexp_replace(col("text"), " ", "  "), lit("  ")),
            "etaoins", "ETAOINS").as("text")))
    val bench = docs.filter(col("doc_id") % 17 === 3)
    val gated = corpus
      .withColumn("_t", graft.text.TextAnalysis.tokens(col("text")))
      .withColumn("tokens", size(col("_t")).cast("long"))
      .filter(col("tokens") >= 30)
      .filter(graft.text.TextAnalysis.langIdScored(col("text"), col("_t")) === "en")
      .select("doc_id", "text", "tokens")
      // the gated slice feeds the exact-dedup semi-join (both sides), the
      // decontamination gram scan AND the final anti-join probe — without
      // materialization the interpreted tokenizer+langId pipeline (the
      // expensive part) re-runs once per consumer (~4-6x measured in the
      // plan). Eager, not lazy: the first downstream action reads it from
      // several concurrent branches (see the Dedup materialization
      // contract). Result unchanged — same logical computation, one scan.
      .localCheckpoint()
    val deduped = graft.dedup.Dedup.exact(gated, "doc_id", "text")
    val contaminated = graft.dedup.Dedup.decontaminate(deduped, "doc_id", "text",
      bench, "doc_id", "text", n = 5)
      .select(col("id").as("doc_id"))
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    graft.pipeline.Splits.assign(clean, "doc_id", "curate-v1",
      trainPerMille = 800, valPerMille = 100)
      .select("doc_id", "tokens", "split")
  }

  /** Token-budget sequence packing: docs chunked into ~2048-token bins by
    * an order-stable prefix sum within parallel id-range shards (exact
    * greedy packing is sequential; this is the distributed rule — see
    * [[graft.pipeline.Packing]]).
    */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"),
      graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("tokens"),
      floor(col("doc_id") / 100).cast("long").as("shard"))
    graft.pipeline.Packing.tokenBudgetBins(docs, "doc_id", "tokens",
      "shard", budget = 2048)
      .select("doc_id", "shard", "bin", "tokens")
  }

  /** As-of join (J4): every event attached to the latest state snapshot
    * at-or-before its timestamp per user (snapshots = every 5th event,
    * deduped per (user, ts) by max event_id). Union-and-fill composition —
    * one window pass, no range-join blowup; the oracle is DuckDB's native
    * ASOF LEFT JOIN.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val quotes = ev.filter(col("event_id") % 5 === 0)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("ts"),
        col("m.event_id").as("qid"), col("m.value").as("qvalue"))
    graft.rollup.AsOf.joinAsOf(ev.select("event_id", "user_id", "ts"),
      quotes, "user_id", "ts", Seq("qid", "qvalue"))
      .select("event_id", "user_id", "asof_qid", "asof_qvalue")
  }

  /** Interval (range) join — J4's second leg: every event joined back to
    * the session interval containing it via the bucketed equi-join
    * composition (no cartesian). Sessions are >30-min-gap separated, so
    * each event matches exactly its own session and the row count equals
    * the events count — a sharp oracle.
    */
  def intervalJoinSessions(s: SparkSession, dir: String): DataFrame = {
    val iv = sessionize(s, dir).select(col("user_id"), col("sess"),
      unix_timestamp(col("session_start")).as("start_sec"),
      (unix_timestamp(col("session_start")) + col("duration_sec")).as("end_sec"))
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_timestamp(col("ts")).as("ts_sec"))
    graft.rollup.AsOf.intervalJoin(ev, iv, "user_id", "ts_sec",
      "start_sec", "end_sec", bucketSec = 3600)
      .select("event_id", "user_id", "sess", "ts_sec")
  }

  /** Intra-doc word-2-gram repetition (Gopher-style quality signal). */
  def docRepetition(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.repetitionStats(documents(s, dir), "doc_id", "text", n = 2)
      .select(col("id").as("doc_id"), col("total_grams"),
        col("distinct_grams"), col("rep_ratio"))

  /** Deterministic weighted domain mixing: four synthetic domains carved
    * from doc_id, mixed at web ×0.6 / code ×1.0 / books ×2.5 / junk ×0 —
    * exercising down-sampling, pass-through, fractional up-sampling, and
    * domain drop in one query. Pure projection + executor-side explode
    * (zero exchanges, plan-audited); the oracle re-derives every copy from
    * md5.
    */
  def datasetMix(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"),
      element_at(array(lit("web"), lit("code"), lit("books"), lit("junk")),
        (col("doc_id") % 4 + 1).cast("int")).as("domain"))
    graft.pipeline.Mixing.sampleWeighted(docs, "doc_id", "domain",
      Map("web" -> 600, "code" -> 1000, "books" -> 2500, "junk" -> 0),
      salt = "mix-v1")
      .select(col("doc_id"), col("domain"), col("copy").cast("long").as("copy"))
  }

  /** Deterministic 50-doc-per-domain sample (eval-set construction):
    * exactly the 50 smallest (salted-md5 bucket, doc_id) per domain via
    * the skew-safe two-phase selection ([[graft.pipeline.GroupSample]] —
    * under-threshold rows by plain filter, only the boundary bucket
    * windows). The oracle runs the equivalent naive per-group rank.
    */
  def groupSample(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"),
      element_at(array(lit("web"), lit("code"), lit("books"), lit("junk")),
        (col("doc_id") % 4 + 1).cast("int")).as("domain"))
    graft.pipeline.GroupSample.sampleKPerGroup(docs, "doc_id", "domain",
      k = 50, salt = "sample-v1")
      .select("doc_id", "domain")
  }

  /** PII scrubbing over documents with deterministically injected email /
    * IPv4 / phone strings: per-kind counts + the redacted text. The
    * patterns live in the Java∩RE2 regex dialect, so the oracle replays
    * redaction byte-for-byte ([[graft.text.Scrub]]).
    */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val withPii = documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 or +1555000"), (col("doc_id") % 10000).cast("string")).as("text"))
    withPii.select(col("doc_id"),
        graft.text.Scrub.piiCounts(col("text")).as("p"),
        graft.text.Scrub.scrub(col("text")).as("text_clean"))
      .select(col("doc_id"), col("p.emails").as("emails"),
        col("p.ips").as("ips"), col("p.phones").as("phones"),
        col("text_clean"))
  }

  /** Context-window chunking: 64-token chunks on a 48-token stride
    * (16-token overlap) — zero exchanges ([[graft.pipeline.Chunking]]).
    */
  def chunkTokens(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Chunking.tokenChunks(documents(s, dir), "doc_id", "text",
      chunkTokens = 64, strideTokens = 48)
      .withColumnRenamed("id", "doc_id")

  /** Per-doc top-3 TF-IDF keywords (linear idf = N/df so scores are exact
    * IEEE divisions — see [[graft.text.Tfidf]]); the corpus-size count is
    * the one control-plane action (the catalog-stats analog).
    */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select("doc_id", "text")
    val n = docs.count()
    graft.text.Tfidf.topTerms(docs, "doc_id", "text", nDocs = n, k = 3)
      .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
        col("tf_idf"), col("rank").cast("long").as("rank"))
  }

  /** Global boilerplate report: top-20 word-3-grams by document frequency
    * (df >= 2, ties broken by shingle) — the report that sizes
    * `Dedup.minhashDupPairs(maxShingleDf)`. TakeOrderedAndProject top-k,
    * never a global sort (plan-audited).
    */
  def hotNgrams(s: SparkSession, dir: String): DataFrame =
    graft.text.Tfidf.hotNgrams(documents(s, dir), "doc_id", "text",
      n = 3, minDf = 2, k = 20)

  /** Percentile quality gate: keep the top 70 % of documents by the
    * composite quality score — exact quantized-histogram threshold, never
    * approx_percentile or a global sort ([[graft.pipeline.QuantileGate]]).
    * Output = kept docs with their quantized score bucket; the oracle
    * replays the score formula, the histogram, and the threshold rule.
    */
  def qualityGate(s: SparkSession, dir: String): DataFrame = {
    val scored = documents(s, dir).select(col("doc_id"),
      graft.text.TextAnalysis.quality(col("text")).getField("quality").as("q"))
    graft.pipeline.QuantileGate.keepTopFraction(scored, "q", keepFraction = 0.7)
      .select(col("doc_id"),
        graft.pipeline.QuantileGate.bucketOf(col("q"), 10000L).as("qb"))
  }

  /** Exact per-domain token-count percentiles (p25/p50/p90/p99) — the
    * corpus profiling report behind length gates, via the skew-safe
    * histogram reduction ([[graft.pipeline.GroupQuantiles]]: the window
    * runs over per-(domain, value) counts, never data rows). The oracle
    * replays the histogram, the cumulative counts, and the integer
    * ceiling-division rank rule.
    */
  def groupQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.GroupQuantiles.percentiles(
      documents(s, dir).select(
        element_at(array(lit("web"), lit("code"), lit("books"), lit("junk")),
          (col("doc_id") % 4 + 1).cast("int")).as("domain"),
        graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("tokens")),
      "domain", "tokens", Seq(25, 50, 90, 99))

  /** Per-user inter-event gap percentiles — the transcript-cadence
    * profile (how bursty is each conversation stream): a lag window
    * computes gaps on the deterministic (ts, event_id) order, then the
    * skew-safe histogram percentiles reduce them
    * ([[graft.pipeline.GroupQuantiles]] — composition of two operators,
    * both oracle-replayable).
    */
  def turnGapQuantiles(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("ts_sec"))
      .select(col("user_id"),
        (col("ts_sec") - lag(col("ts_sec"), 1).over(byUser)).as("gap_sec"))
    graft.pipeline.GroupQuantiles.percentiles(gaps, "user_id", "gap_sec",
      Seq(50, 90, 99))
  }

  /** Unicode NFC normalization — the canonical-composition pass a corpus
    * runs BEFORE fingerprint/shingle dedup (decomposed "e"+U+0301 and
    * composed "é" are different bytes for identical text): the native
    * [[graft.functions.NfcNormalize]] codegen Expression, oracle-checked
    * against DuckDB's `nfc_normalize` (same Unicode algorithm — output
    * byte-reproducible across engines). Corpus = documents (ASCII —
    * normalization identity) + planted decomposed-accent rows that must
    * compose (length shrinks by exactly the two combining marks).
    */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GorillaFunctions.register(s)
    val docs = documents(s, dir).select("doc_id", "text")
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 6000000).as("doc_id"),
        concat(col("text"), lit(" café touché")).as("text")))
    // DECOMPOSED accents on disk (base letter + U+0301 combining acute) —
    // NFC must compose them; the oracle builds the same bytes via chr(769)
    corpus.select(col("doc_id"), col("text"),
        graft.functions.GorillaFunctions.nfcNormalize(col("text")).as("text_nfc"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(col("text_nfc")).cast("long").as("n_chars_nfc"),
        (col("text_nfc") =!= col("text")).as("changed"),
        col("text_nfc"))
  }

  /** Per-document text-quality metrics (scalar-function parity query). */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(col("doc_id"),
      graft.text.TextAnalysis.quality(col("text")).as("q"))
      .select(col("doc_id"), col("q.chars").as("chars"),
        col("q.tokens").as("tokens"), col("q.mean_token_len").as("mean_token_len"),
        col("q.punct_ratio").as("punct_ratio"))

  /** Language-ID distribution (heuristic stopword profiles; rows-only). */
  def langIdDist(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("text"), graft.text.TextAnalysis.tokens(col("text")).as("_t"))
      .select(graft.text.TextAnalysis.langIdScored(col("text"), col("_t"))
        .as("lang_pred"))
      .groupBy("lang_pred").agg(count(lit(1)).as("docs"))

  /** Exact cosine top-10 neighbors of vec_id 0 (brute force baseline). */
  def annBruteForce(s: SparkSession, dir: String): DataFrame =
    graft.sim.Ann.bruteForceTopK(embeddings(s, dir), "vec_id", "embedding", 0L, 10)

  /** SRP-LSH approximate top-10 (bucket-pruned scan). Fully oracle-checked:
    * the hyperplanes are deterministic literals, so [[lshOracle]] inlines
    * them and recomputes buckets, multi-probe candidates, and exact cosine
    * sims in SQL.
    */
  def annLsh(s: SparkSession, dir: String): DataFrame =
    graft.sim.Ann.lshTopK(embeddings(s, dir), "vec_id", "embedding", 0L, 10)

  /** IVF approximate top-10 (nprobe nearest centroid cells). Fully
    * oracle-checked: seeds are md5-ordered and Lloyd means are quantized
    * integer sums ([[graft.sim.Ann.LloydQuant]]), so [[ivfOracle]]
    * recomputes the exact centroids, cell assignment, probe set, and
    * cosine sims in SQL.
    */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    graft.sim.Ann.ivfTopK(embeddings(s, dir), "vec_id", "embedding", 0L, 10)

  /** kNN self-join: top-5 SRP-probe neighbors for every 25th vector
    * against the full corpus — the neighbor-graph builder
    * ([[graft.sim.Ann.knnJoin]]). Fully oracle-checked like [[annLsh]]:
    * deterministic hyperplanes inlined, the oracle recomputes buckets,
    * Hamming-1 probe candidates, exact cosines, and the per-query rank.
    */
  def annKnnJoin(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select("vec_id", "embedding")
    graft.sim.Ann.knnJoin(e.filter(col("vec_id") % 25 === 0), e,
      "vec_id", "embedding", k = 5)
      .select(col("id").as("vec_id"), col("neighbor_id"), col("sim"),
        col("rank").cast("long").as("rank"))
  }

  /** L2 norms of all embeddings (array-fold parity query). */
  def embedNorms(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).select(col("vec_id"),
      size(col("embedding")).cast("long").as("dim"),
      graft.sim.Ann.l2Norm(col("embedding")).as("l2"))

  /** Embedding-cosine near-duplicate pairs over a corpus with planted
    * exact copies (vec_id+100000 for every 50th vector): SRP-bucket join +
    * exact cosine verify. Identical vectors share every SRP bucket, so
    * recall of true duplicates is total and the result equals the oracle's
    * exhaustive all-pairs scan at this near-1 threshold.
    */
  def embedDupPairs(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select("vec_id", "embedding")
    val corpus = e.unionByName(e.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    graft.sim.Ann.cosineDupPairs(corpus, "vec_id", "embedding",
      minSim = 0.999999)
  }

  /** Embedding near-dup CLUSTER formation — the same pair→component
    * composition as [[dedupClusters]] but over the embedding near-dup
    * graph (SRP-bucketed candidate join + exact cosine verify, then min-id
    * label propagation). Survivors are rows with vec_id == cluster_id.
    * The oracle recomputes the exact transitive closure of the exhaustive
    * all-pairs cosine graph.
    */
  def embedDupClusters(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select("vec_id", "embedding")
    val corpus = e.unionByName(e.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    // exact-identical vectors collapse (class key = the vector itself)
    // before the SRP-bucket self-join — identical labels, O(m) per m-copy
    // class; the planted exact copies exercise the collapse path.
    // Zero-norm vectors get a NULL key (→ singleton clusters): their
    // cosine is NaN, so the pair pipeline can never link them — collapsing
    // two zero vectors would merge docs the uncollapsed graph keeps apart
    graft.dedup.Dedup.dupComponentsCollapsed(corpus, "vec_id",
      when(aggregate(col("embedding"), lit(0.0),
        (a, v) => a + v.cast("double") * v.cast("double")) > 0,
        col("embedding")),
      reps => graft.sim.Ann.cosineDupPairs(reps, "vec_id", "embedding",
        minSim = 0.999999))
      .select(col("id").as("vec_id"), col("cluster").as("cluster_id"))
  }

  /** M4 visualization downsampling (VLDB'14) of the events series at 1-hour
    * pixel buckets: first/last/min/max points per (user, bucket) in one
    * aggregation — epoch-micros timestamps so both engines compare exact
    * integers. See [[graft.rollup.Downsample]].
    */
  def m4Downsample(s: SparkSession, dir: String): DataFrame =
    graft.rollup.Downsample.m4(
      events(s, dir).select(col("user_id"),
        // ts is TIMESTAMP_NTZ; the session TZ is pinned UTC everywhere, so
        // the cast is the identity mapping onto epoch micros
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value")),
      "user_id", "ts_us", "value", bucketWidth = 3600L * 1000000L)

  /** Multimodal stub pipeline: binary payloads → partition-batched feature
    * extraction, exploded to sortable scalar rows (media_id, kind, n_bytes,
    * bin_idx, bin_count). The normalized float features are folded back to
    * exact integer byte-histogram counts (count = round(feat·n); float32
    * error ≪ 0.5 at any payload size here), which the DuckDB oracle
    * recomputes from the UTF-8 payload bytes.
    */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.extractFeatures(
      graft.multimodal.Multimodal.mediaFromDocs(documents(s, dir), "doc_id", "text"))
      .toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        posexplode(col("features")).as(Seq("bin_idx", "feat")))
      .select(col("media_id"), col("kind"), col("n_bytes"), col("bin_idx"),
        round(col("feat") * col("n_bytes")).cast("long").as("bin_count"))

  /** Frame sampling over the video-kind payloads (4 frames, stride 2 →
    * frames 0 and 2): executor-side 1→N byte-slice expansion, each slice
    * featurized and folded back to exact integer byte-histogram counts
    * exactly like [[multimodalFeatures]] — the DuckDB oracle recomputes the
    * slice bounds and histograms from the UTF-8 payload bytes.
    */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.sampleFrames(
      graft.multimodal.Multimodal.mediaFromDocs(documents(s, dir), "doc_id", "text")
        .filter(col("kind") === "video"),
      nFrames = 4, stride = 2)
      .toDF()
      .select(col("media_id"), col("frame_idx"), col("n_bytes"),
        posexplode(col("features")).as(Seq("bin_idx", "feat")))
      .select(col("media_id"), col("frame_idx"), col("n_bytes"), col("bin_idx"),
        round(col("feat") * col("n_bytes")).cast("long").as("bin_count"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rollup_1m" -> rollup1m _,
    "rollup_1h_cascade" -> rollup1hCascade _,
    "rollup_1d_cascade" -> rollup1dCascade _,
    "type_rollup_1h" -> typeRollup1h _,
    "gapfill_1h" -> gapfill1h _,
    "pivot_roundtrip" -> pivotRoundtrip _,
    "segment_decode_sql" -> segmentDecodeSql _,
    "value_segments_roundtrip" -> valueSegmentsRoundtrip _,
    "segment_stats" -> segmentStats _,
    "rollup_grouping_sets" -> rollupGroupingSets _,
    "window_running" -> windowRunning _,
    "window_sliding_1h" -> windowSliding1h _,
    "sessionize" -> sessionize _,
    "q1_agg" -> q1Agg _,
    "join_broadcast_agg" -> joinBroadcastAgg _,
    "anti_join_customers" -> antiJoinCustomers _,
    "top_parts" -> topParts _,
    "doc_token_stats" -> docTokenStats _,
    "dedup_exact" -> dedupExact _,
    "dedup_jaccard_pairs" -> dedupJaccardPairs _,
    "dedup_minhash_pairs" -> dedupMinhashPairs _,
    "dedup_simhash_pairs" -> dedupSimhashPairs _,
    "dedup_clusters" -> dedupClusters _,
    "dedup_survivors" -> dedupSurvivors _,
    "decontaminate" -> decontaminate _,
    "line_dedup" -> lineDedup _,
    "substring_dedup" -> substringDedup _,
    "substring_cut" -> substringCut _,
    "hash_split" -> hashSplit _,
    "curate" -> curate _,
    "pack_sequences" -> packSequences _,
    "doc_repetition" -> docRepetition _,
    "dataset_mix" -> datasetMix _,
    "group_sample" -> groupSample _,
    "pii_scrub" -> piiScrub _,
    "chunk_tokens" -> chunkTokens _,
    "tfidf_top_terms" -> tfidfTopTerms _,
    "hot_ngrams" -> hotNgrams _,
    "asof_join" -> asofJoin _,
    "interval_join_sessions" -> intervalJoinSessions _,
    "text_quality" -> textQuality _,
    "quality_gate" -> qualityGate _,
    "group_quantiles" -> groupQuantiles _,
    "turn_gap_quantiles" -> turnGapQuantiles _,
    "text_normalize" -> textNormalize _,
    "lang_id_dist" -> langIdDist _,
    "ann_bruteforce" -> annBruteForce _,
    "ann_lsh" -> annLsh _,
    "ann_ivf" -> annIvf _,
    "ann_knn_join" -> annKnnJoin _,
    "embed_norms" -> embedNorms _,
    "embed_dup_pairs" -> embedDupPairs _,
    "embed_dup_clusters" -> embedDupClusters _,
    "m4_downsample" -> m4Downsample _,
    "multimodal_features" -> multimodalFeatures _,
    "multimodal_frames" -> multimodalFrames _)

  val oracles: Map[String, String] = Map(
    "rollup_1m" ->
      """SELECT user_id, (epoch_us(ts) // 60000000) * 60 AS bucket,
        |count(*) AS n, CAST(sum(floor(value*1000000)) AS BIGINT) AS vsum_micro,
        |min(value) AS vmin, max(value) AS vmax
        |FROM events GROUP BY 1, 2""".stripMargin,
    "rollup_1h_cascade" ->
      """SELECT user_id, (epoch_us(ts) // 3600000000) * 3600 AS bucket,
        |count(*) AS n, CAST(sum(floor(value*1000000)) AS BIGINT) AS vsum_micro,
        |min(value) AS vmin, max(value) AS vmax
        |FROM events GROUP BY 1, 2""".stripMargin,
    "rollup_1d_cascade" ->
      """SELECT user_id, (epoch_us(ts) // 86400000000) * 86400 AS bucket,
        |count(*) AS n, CAST(sum(floor(value*1000000)) AS BIGINT) AS vsum_micro,
        |min(value) AS vmin, max(value) AS vmax
        |FROM events GROUP BY 1, 2""".stripMargin,
    "type_rollup_1h" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket, event_type,
        |count(*) AS n, count(DISTINCT user_id) AS users
        |FROM events GROUP BY 1, 2""".stripMargin,
    "gapfill_1h" ->
      """WITH pts AS (
        |  SELECT user_id, (epoch_us(ts) // 3600000000) * 3600 AS bucket,
        |         CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM pts GROUP BY 1),
        |spine AS (SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS bucket FROM bounds),
        |j AS (SELECT s.user_id, s.bucket, p.n, p.n IS NOT NULL AS present
        |      FROM spine s LEFT JOIN pts p ON s.user_id = p.user_id AND s.bucket = p.bucket),
        |w AS (SELECT user_id, bucket, n, present,
        |  last_value(CASE WHEN present THEN bucket END IGNORE NULLS) OVER wp AS pb,
        |  last_value(CASE WHEN present THEN n END IGNORE NULLS) OVER wp AS pv,
        |  first_value(CASE WHEN present THEN bucket END IGNORE NULLS) OVER wn AS nb,
        |  first_value(CASE WHEN present THEN n END IGNORE NULLS) OVER wn AS nv
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, bucket,
        |  CASE WHEN present THEN n ELSE pv + (nv - pv) * (bucket - pb) / (nb - pb) END AS n,
        |  NOT present AS filled
        |FROM w""".stripMargin,
    "pivot_roundtrip" ->
      """SELECT CAST(user_id AS VARCHAR) AS conv_id,
        |CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
        |event_type AS role, props AS text, ts
        |FROM events""".stripMargin,
    "value_segments_roundtrip" ->
      "SELECT user_id, ts, value FROM events",
    "segment_decode_sql" ->
      """SELECT CAST(user_id AS VARCHAR) AS conv_id,
        |CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
        |event_type AS role, props AS text, ts
        |FROM events""".stripMargin,
    "rollup_grouping_sets" ->
      """SELECT user_id, event_type, count(*) AS n,
        |CAST(sum(floor(value*1000000)) AS BIGINT) AS vsum_micro
        |FROM events GROUP BY ROLLUP (user_id, event_type)""".stripMargin,
    "window_running" ->
      """SELECT user_id, event_id,
        |row_number() OVER w AS seq,
        |count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n,
        |CAST(sum(floor(value*1000000)) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_vsum_micro
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "window_sliding_1h" ->
      """SELECT user_id, epoch_us(ts) // 1000000 AS ts_sec,
        |count(*) OVER w AS n_1h,
        |CAST(sum(CAST(floor(value*1000000) AS BIGINT)) OVER w AS BIGINT) AS vsum_micro_1h,
        |min(value) OVER w AS vmin_1h,
        |max(value) OVER w AS vmax_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY (epoch_us(ts) // 1000000)
        |             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)""".stripMargin,
    "sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    epoch_us(ts)//1000000 - lag(epoch_us(ts)//1000000) OVER w AS gap
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
        |  FROM g)
        |SELECT user_id, sess, count(*) AS n_events, min(ts) AS session_start,
        |  epoch_us(max(ts))//1000000 - epoch_us(min(ts))//1000000 AS duration_sec
        |FROM s GROUP BY 1, 2""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |CAST(sum(floor(l_extendedprice*100)) AS BIGINT) AS sum_price_cents, count(*) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "join_broadcast_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |CAST(sum(floor(o_totalprice*100)) AS BIGINT) AS sum_price_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "anti_join_customers" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin,
    "top_parts" ->
      """SELECT l_partkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY l_partkey
        |ORDER BY sum_qty DESC, l_partkey LIMIT 10""".stripMargin,
    "doc_token_stats" ->
      """SELECT lang, count(*) AS docs, CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS sum_tokens,
        |CAST(min(len(string_split_regex(text, '\s+'))) AS BIGINT) AS min_tokens,
        |CAST(max(len(string_split_regex(text, '\s+'))) AS BIGINT) AS max_tokens
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT min(doc_id) AS keep_id, count(*) AS copies
        |FROM corpus GROUP BY text""".stripMargin,
    "dedup_jaccard_pairs" -> jaccardOracle(0.6),
    "dedup_minhash_pairs" -> jaccardOracle(0.8),
    "dedup_clusters" -> clustersOracle,
    "asof_join" ->
      """WITH quotes AS (
        |  SELECT user_id, ts, max(event_id) AS qid, arg_max(value, event_id) AS qvalue
        |  FROM events WHERE event_id % 5 = 0 GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, q.qid AS asof_qid, q.qvalue AS asof_qvalue
        |FROM events e ASOF LEFT JOIN quotes q
        |  ON e.user_id = q.user_id AND e.ts >= q.ts""".stripMargin,
    "interval_join_sessions" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts)//1000000 AS ts_sec,
        |    epoch_us(ts)//1000000 - lag(epoch_us(ts)//1000000) OVER w AS gap
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts_sec,
        |    CAST(sum(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
        |  FROM g),
        |iv AS (
        |  SELECT user_id, sess, min(ts_sec) AS start_sec, max(ts_sec) AS end_sec
        |  FROM s GROUP BY 1, 2),
        |ev AS (SELECT event_id, user_id, epoch_us(ts)//1000000 AS ts_sec FROM events)
        |SELECT e.event_id, e.user_id, i.sess, e.ts_sec
        |FROM ev e JOIN iv i ON e.user_id = i.user_id
        |  AND e.ts_sec >= i.start_sec AND e.ts_sec <= i.end_sec""".stripMargin,
    "decontaminate" -> decontaminateOracle,
    "line_dedup" -> lineDedupOracle,
    "substring_dedup" -> substringDedupOracle,
    "substring_cut" -> substringCutOracle,
    "hash_split" -> hashSplitOracle,
    "curate" -> curateOracle,
    "pack_sequences" -> packSequencesOracle,
    "dataset_mix" -> datasetMixOracle,
    "group_sample" -> groupSampleOracle,
    "pii_scrub" -> piiScrubOracle,
    "chunk_tokens" -> chunkTokensOracle,
    "dedup_survivors" -> dedupSurvivorsOracle,
    "tfidf_top_terms" -> tfidfOracle,
    "hot_ngrams" -> hotNgramsOracle,
    "doc_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}'']+'), x -> len(x) > 0) AS t
         |  FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 1 END)::BIGINT AS total_grams,
         |    (CASE WHEN len(t) >= 2
         |      THEN len(list_distinct(list_transform(generate_series(1, len(t)-1), i -> array_to_string(t[i:i+1], ' '))))
         |      ELSE 1 END)::BIGINT AS distinct_grams
         |  FROM t)
         |SELECT doc_id, total_grams, distinct_grams,
         |  1.0 - distinct_grams::DOUBLE / total_grams AS rep_ratio
         |FROM g""".stripMargin,
    // Recomputes the exact SimHash signatures: same tokenizer, same
    // md5-prefix 60-bit token hash (Dedup.md5TokenHash), same vote/sign
    // rule; pairs via all-pairs xor/bit_count (fine at oracle scale).
    "dedup_simhash_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' zzzuniquetoken' FROM documents WHERE doc_id % 10 = 0),
        |tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{Nd}'']+'), x -> len(x) > 0)) AS t
        |  FROM corpus),
        |h AS (
        |  SELECT doc_id, list_sum(list_transform(generate_series(1, 15),
        |    i -> ((strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1)::BIGINT << (4*(15-i))))) AS hv
        |  FROM tok),
        |votes AS (
        |  SELECT doc_id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bits
        |  GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS sg
        |  FROM votes GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sg, b.sg)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sg, b.sg)) <= 3""".stripMargin,
    "lang_id_dist" -> langIdOracle,
    // Recomputes FakeCodec's 16-bin byte histogram from the UTF-8 payload:
    // hex() the blob once, parse byte i from hex chars 2i-1..2i, bin = b/16;
    // the zero-bin spine mirrors the dense 16-float feature vector.
    "multimodal_features" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
        |    hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n_bytes
        |  FROM documents),
        |bytes AS (
        |  SELECT media_id,
        |    (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1) * 16
        |      + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1 AS byte
        |  FROM media, unnest(generate_series(1, n_bytes)) AS u(i)),
        |hist AS (
        |  SELECT media_id, byte // 16 AS bin_idx, count(*) AS c
        |  FROM bytes GROUP BY 1, 2),
        |spine AS (
        |  SELECT media_id, kind, n_bytes, unnest(generate_series(0, 15)) AS bin_idx
        |  FROM media)
        |SELECT s.media_id, s.kind, CAST(s.n_bytes AS BIGINT) AS n_bytes,
        |  CAST(s.bin_idx AS INT) AS bin_idx,
        |  CAST(coalesce(h.c, 0) AS BIGINT) AS bin_count
        |FROM spine s LEFT JOIN hist h
        |  ON s.media_id = h.media_id AND s.bin_idx = h.bin_idx""".stripMargin,
    // Recomputes sampleFrames' byte-slice bounds (nFrames=4, stride=2 →
    // frames 0 and 2; frameLen = max(1, len/4); the f == nFrames-1
    // last-frame-takes-tail branch is unreachable at stride 2) and each
    // slice's 16-bin byte histogram, video-kind docs only (doc_id % 3 = 2).
    "multimodal_frames" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS len
        |  FROM documents WHERE doc_id % 3 = 2),
        |frames AS (
        |  SELECT media_id, hx, f AS frame_idx,
        |    least(f * greatest(1, len // 4), len) AS frm,
        |    least(len, least(f * greatest(1, len // 4), len) + greatest(1, len // 4)) AS til
        |  FROM media, (SELECT unnest([0, 2]) AS f) fs),
        |bytes AS (
        |  SELECT media_id, frame_idx,
        |    (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1) * 16
        |      + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1 AS byte
        |  FROM frames, unnest(generate_series(frm + 1, til)) AS u(i)),
        |hist AS (
        |  SELECT media_id, frame_idx, byte // 16 AS bin_idx, count(*) AS c
        |  FROM bytes GROUP BY 1, 2, 3),
        |spine AS (
        |  SELECT media_id, frame_idx, til - frm AS n_bytes,
        |         unnest(generate_series(0, 15)) AS bin_idx
        |  FROM frames)
        |SELECT s.media_id, CAST(s.frame_idx AS INT) AS frame_idx,
        |  CAST(s.n_bytes AS BIGINT) AS n_bytes, CAST(s.bin_idx AS INT) AS bin_idx,
        |  CAST(coalesce(h.c, 0) AS BIGINT) AS bin_count
        |FROM spine s LEFT JOIN hist h
        |  ON s.media_id = h.media_id AND s.frame_idx = h.frame_idx
        |  AND s.bin_idx = h.bin_idx""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS chars,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{Nd}'']+'), x -> len(x) > 0)) AS BIGINT) AS tokens,
        |  CASE WHEN len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{Nd}'']+'), x -> len(x) > 0)) > 0
        |    THEN CAST(list_sum(list_transform(list_filter(string_split_regex(lower(text), '[^\p{L}\p{Nd}'']+'), x -> len(x) > 0), x -> len(x))) AS DOUBLE)
        |         / len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{Nd}'']+'), x -> len(x) > 0))
        |    ELSE 0.0 END AS mean_token_len,
        |  CASE WHEN length(text) > 0
        |    THEN CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / length(text)
        |    ELSE 0.0 END AS punct_ratio
        |FROM documents""".stripMargin,
    "quality_gate" -> qualityGateOracle,
    "group_quantiles" -> groupQuantilesOracle,
    "turn_gap_quantiles" -> turnGapQuantilesOracle,
    "text_normalize" ->
      """WITH ncorpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 6000000,
        |    text || ' cafe' || chr(769) || ' touche' || chr(769)
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_raw,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc,
        |  nfc_normalize(text) <> text AS changed,
        |  nfc_normalize(text) AS text_nfc
        |FROM ncorpus""".stripMargin,
    "ann_lsh" -> lshOracle,
    "ann_knn_join" -> knnJoinOracle,
    "ann_ivf" -> ivfOracle,
    "ann_bruteforce" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT vec_id,
        |    list_dot_product(embedding::DOUBLE[], qv) /
        |    (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))) AS sim
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "embed_norms" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS l2
        |FROM embeddings""".stripMargin,
    // exhaustive all-pairs scan (oracle scale only) — the engine's
    // bucket-join result must equal it at this near-1 threshold
    "embed_dup_pairs" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS sim
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.999999""".stripMargin,
    // exact transitive closure of the exhaustive cosine near-dup graph
    "embed_dup_clusters" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.999999),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pairs),
        |reach AS (
        |  SELECT vec_id AS id, vec_id AS r FROM corpus
        |  UNION
        |  SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON reach.id = e.src)
        |SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin,
    // M4 (first/last/min/max per pixel bucket), ties broken by the full
    // (ts, value) / (value, ts) pair — identical rule to Downsample.m4
    "m4_downsample" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value,
        |    (epoch_us(ts) // 3600000000) AS bucket
        |  FROM events),
        |r AS (
        |  SELECT user_id, bucket, ts_us, value,
        |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts_us, value) AS rf,
        |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts_us DESC, value DESC) AS rl,
        |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY value, ts_us) AS rmn,
        |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY value DESC, ts_us DESC) AS rmx
        |  FROM p)
        |SELECT user_id, bucket,
        |  max(CASE WHEN rf = 1 THEN ts_us END) AS ts_first,
        |  max(CASE WHEN rf = 1 THEN value END) AS v_first,
        |  max(CASE WHEN rl = 1 THEN ts_us END) AS ts_last,
        |  max(CASE WHEN rl = 1 THEN value END) AS v_last,
        |  max(CASE WHEN rmn = 1 THEN ts_us END) AS ts_min,
        |  max(CASE WHEN rmn = 1 THEN value END) AS v_min,
        |  max(CASE WHEN rmx = 1 THEN ts_us END) AS ts_max,
        |  max(CASE WHEN rmx = 1 THEN value END) AS v_max,
        |  count(*) AS n
        |FROM r GROUP BY 1, 2""".stripMargin)

  /** SRP-LSH oracle GENERATED from the engine's own deterministic
    * hyperplanes ([[graft.sim.Ann.planes]] — single source of truth,
    * inlined as double literals; Scala's shortest-roundtrip Double.toString
    * parses back to the identical double in DuckDB). Recomputes every
    * vector's bucket (sign of the same sequential dot product — DuckDB's
    * list_dot_product matches Spark's fold bitwise, proven by the
    * ann_bruteforce hash-match), the Hamming≤1 multi-probe candidate set,
    * and exact cosine sims.
    */
  /** kNN-join oracle: the [[lshOracle]] machinery generalized from one
    * query to the %25 query subset — buckets from inlined hyperplane
    * literals, Hamming-1 probe candidates, exact cosines, per-query
    * row_number rank ("rank" quoted — reserved in DuckDB).
    */
  private def knnJoinOracle: String = {
    val ps = graft.sim.Ann.planes(8, 64)
    val bucket = ps.zipWithIndex.map { case (w, p) =>
      val arr = w.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    $bucket AS bucket
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM b WHERE vec_id % 25 = 0),
       |cand AS (
       |  SELECT q.qid, b.vec_id AS neighbor_id,
       |    list_dot_product(b.v, q.qv) /
       |    (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS sim
       |  FROM b, q
       |  WHERE b.vec_id <> q.qid
       |    AND bit_count(xor(CAST(b.bucket AS BIGINT), CAST(q.qb AS BIGINT))) <= 1),
       |rnk AS (
       |  SELECT qid, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS r
       |  FROM cand)
       |SELECT qid AS vec_id, neighbor_id, sim, CAST(r AS BIGINT) AS "rank"
       |FROM rnk WHERE r <= 5""".stripMargin
  }

  private def lshOracle: String = {
    val ps = graft.sim.Ann.planes(8, 64)
    val bucket = ps.zipWithIndex.map { case (w, p) =>
      val arr = w.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    $bucket AS bucket
       |  FROM embeddings),
       |q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
       |cand AS (
       |  SELECT vec_id, v, qv FROM b, q
       |  WHERE vec_id <> 0
       |    AND bit_count(xor(CAST(bucket AS BIGINT), CAST(qb AS BIGINT))) <= 1)
       |SELECT vec_id,
       |  list_dot_product(v, qv) /
       |  (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
       |FROM cand ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
  }

  /** IVF oracle: recomputes the engine's full IVF path in SQL — md5-ordered
    * seed selection, one Lloyd step with quantized integer-sum means
    * (bit-identical to [[graft.sim.Ann.ivfCentroids]] because integral
    * accumulation is order-independent), nearest-cell assignment with the
    * same (dist, cell) tie-break, the 4 nearest probe cells for vec 0, and
    * exact cosine sims over the probed members.
    */
  private def ivfOracle: String = {
    val q = graft.sim.Ann.LloydQuant
    def dist(v: String, c: String) =
      s"list_sum(list_transform(generate_series(1, len($v)), i -> ($v[i]-$c[i])*($v[i]-$c[i])))"
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
       |         v AS c
       |  FROM emb ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |a1 AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, s.cell, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY ${dist("e.v", "s.c")}, s.cell) AS rk
       |    FROM emb e CROSS JOIN seeds s)
       |  WHERE rk = 1),
       |qm AS (
       |  SELECT cell, pos,
       |    CAST(sum(floor(x * $q.0)) AS BIGINT) / (count(*) * $q.0) AS m
       |  FROM (SELECT cell, unnest(v) AS x,
       |               unnest(generate_series(1, len(v))) AS pos FROM a1)
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT sp.cell, list(coalesce(qm.m, sp.sc) ORDER BY sp.pos) AS c
       |  FROM (SELECT s.cell, g.pos, s.c[g.pos] AS sc
       |        FROM seeds s, unnest(generate_series(1, len(s.c))) AS g(pos)) sp
       |  LEFT JOIN qm ON qm.cell = sp.cell AND qm.pos = sp.pos
       |  GROUP BY sp.cell),
       |qv AS (SELECT v AS qvec FROM emb WHERE vec_id = 0),
       |probe AS (
       |  SELECT cell FROM cent, qv
       |  ORDER BY ${dist("qvec", "c")}, cell LIMIT 4),
       |a2 AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell, row_number() OVER (
       |      PARTITION BY e.vec_id ORDER BY ${dist("e.v", "c.c")}, c.cell) AS rk
       |    FROM emb e CROSS JOIN cent c)
       |  WHERE rk = 1)
       |SELECT m.vec_id,
       |  list_dot_product(m.v, qv.qvec) /
       |  (sqrt(list_dot_product(m.v, m.v)) * sqrt(list_dot_product(qv.qvec, qv.qvec))) AS sim
       |FROM a2 m JOIN probe p ON m.cell = p.cell, qv
       |WHERE m.vec_id <> 0
       |ORDER BY sim DESC, m.vec_id LIMIT 10""".stripMargin
  }

  /** Lang-ID oracle generated from [[graft.text.TextAnalysis.stopwords]]
    * (single source of truth — the SQL lists can't drift from the engine's).
    * Mirrors `TextAnalysis.langId` exactly: same tokenizer, stopword-hit
    * scores (zh via raw-text containment), argmax with lang-ascending
    * tie-break (struct sort), 'und' when no profile hits.
    */
  private def langIdOracle: String =
    s"""WITH t AS (
       |  SELECT text,
       |    list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}'']+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |scored AS (
       |  SELECT $langBestSql AS best
       |  FROM t)
       |SELECT $langPredSql AS lang_pred,
       |  count(*) AS docs
       |FROM scored GROUP BY 1""".stripMargin

  /** `(list_sort([...]))[-1]` argmax over the per-language stopword-hit
    * scores — expects columns `text` and `toks` in scope (shared by the
    * lang-ID and curate oracles).
    */
  private def langBestSql: String = {
    val entries = graft.text.TextAnalysis.stopwords.toSeq.sortBy(_._1).map {
      case ("zh", words) =>
        val score = words.map(w => s"contains(text, '$w')::INT").mkString(" + ")
        s"{'score': $score, 'lang': 'zh'}"
      case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"{'score': CAST(len(list_filter(toks, x -> list_contains($lst, x))) AS INT), 'lang': '$lang'}"
    }
    s"(list_sort([${entries.mkString(",\n    ")}]))[-1]"
  }

  private def langPredSql: String =
    "CASE WHEN struct_extract(best, 'score') > 0 THEN struct_extract(best, 'lang') ELSE 'und' END"

  /** Shared CTE chain computing word-3-gram Jaccard pairs at `tau` over
    * the injected-duplicate corpus — the `jpairs` relation feeds both the
    * pair oracles and the recursive cluster oracle.
    */
  /** SQL twin of [[dupCorpus]] (originals + exact copies + near-copies).
    * A `def`, not a `val`: the oracle map initializes earlier in the
    * object, and a forward-referenced val is still null there.
    */
  private def dupCorpusCte: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000, text || ' zzzuniquetoken' FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  private def jaccardCtes(tau: Double): String =
    s"""$dupCorpusCte,
       |toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}'']+'), x -> len(x) > 0) AS t
       |  FROM corpus),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, CASE WHEN len(t) >= 3
       |      THEN unnest(list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' ')))
       |      ELSE array_to_string(t, ' ') END AS shingle
       |    FROM toks)),
       |sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1,2),
       |jpairs AS (
       |  SELECT id_a, id_b, c::DOUBLE / (sa.s + sb.s - c) AS jaccard
       |  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |  WHERE c::DOUBLE / (sa.s + sb.s - c) >= $tau)""".stripMargin

  /** Word-3-gram Jaccard pairs over the injected-duplicate corpus — shared
    * oracle for the exact and the LSH-verified variants (the LSH result
    * equals the exact result at tau=0.8 on this deterministic corpus).
    */
  private def jaccardOracle(tau: Double): String =
    s"WITH ${jaccardCtes(tau)}\nSELECT id_a, id_b, jaccard FROM jpairs"

  /** Cluster oracle: exact transitive closure of the tau=0.8 near-dup
    * graph via a recursive CTE — min reachable doc_id per node is the
    * cluster id, matching the engine's min-id label propagation.
    */
  private def clustersOracle: String =
    s"""WITH RECURSIVE ${jaccardCtes(0.8)},
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM jpairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM jpairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM corpus
       |  UNION
       |  SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON reach.id = e.src)
       |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin

  /** Repeated-substring oracle: replays the k=8 rolling windows on gram
    * STRINGS (engine matches xxhash64 of the same strings), the corpus-
    * wide occurrence threshold, and the merged-span arithmetic — lag-based
    * gaps-and-islands instead of the engine's per-doc HOF fold, same
    * formulas: covered = k + Σ min(gap, k), spans = 1 + |gap > k|.
    */
  /** Shared rolling-window CTE chain for the substring-dedup oracles:
    * corpus with planted repeats → tokens → positional 8-gram strings →
    * corpus-frequent grams → duplicated (doc, start-position) rows.
    */
  private def substringCtes: String =
    s"""scorpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 4000000, 'prefixtoken ' || text FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 5000000, text || ' ' || text FROM documents WHERE doc_id % 13 = 0),
       |stoks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}'']+'), x -> len(x) > 0) AS t
       |  FROM scorpus),
       |sgrams AS (
       |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 7),
       |      i -> {'pos': i - 1, 'g': array_to_string(t[i:i+7], ' ')})) AS u
       |    FROM stoks WHERE len(t) >= 8)),
       |hot AS (SELECT g FROM sgrams GROUP BY g HAVING count(*) >= 2),
       |dup AS (SELECT doc_id, pos FROM sgrams WHERE g IN (SELECT g FROM hot))""".stripMargin

  private def substringDedupOracle: String =
    s"""WITH $substringCtes,
       |gaps AS (
       |  SELECT doc_id, pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS d
       |  FROM dup),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(8 + sum(CASE WHEN d IS NULL THEN 0 ELSE least(d, 8) END) AS BIGINT) AS dup_tokens,
       |    CAST(1 + sum(CASE WHEN d > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
       |  FROM gaps GROUP BY doc_id),
       |tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS total_tokens FROM stoks)
       |SELECT tot.doc_id, tot.total_tokens,
       |  coalesce(a.dup_tokens, 0) AS dup_tokens,
       |  coalesce(a.n_spans, 0) AS n_spans
       |FROM tot LEFT JOIN agg a ON a.doc_id = tot.doc_id""".stripMargin

  /** Cut oracle: covered-position expansion, anti-join, ordered
    * reassembly — the engine's join pipeline replayed relationally.
    */
  private def substringCutOracle: String =
    s"""WITH $substringCtes,
       |covered AS (
       |  SELECT DISTINCT doc_id, u AS pos FROM (
       |    SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS u FROM dup)),
       |ptoks AS (
       |  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
       |      i -> {'pos': i - 1, 'tok': t[i]})) AS u
       |    FROM stoks WHERE len(t) > 0)),
       |kept AS (
       |  SELECT p.doc_id, p.pos, p.tok FROM ptoks p
       |  LEFT JOIN covered c ON c.doc_id = p.doc_id AND c.pos = p.pos
       |  WHERE c.doc_id IS NULL),
       |reb AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
       |    string_agg(tok, ' ' ORDER BY pos) AS text_clean
       |  FROM kept GROUP BY doc_id),
       |tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS total_tokens FROM stoks)
       |SELECT tot.doc_id, tot.total_tokens,
       |  coalesce(r.kept_tokens, 0) AS kept_tokens,
       |  coalesce(r.text_clean, '') AS text_clean
       |FROM tot LEFT JOIN reb r ON r.doc_id = tot.doc_id""".stripMargin

  /** toks+grams CTE pair over a (doc_id, text) relation `src` — the same
    * tokenizer/gram rule as [[jaccardCtes]] generalized to any n and
    * emitted with a `p` prefix so two gram chains can coexist in one query.
    */
  private def gramCtes(p: String, src: String, n: Int): String =
    s"""${p}toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}'']+'), x -> len(x) > 0) AS t
       |  FROM $src),
       |${p}grams AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, CASE WHEN len(t) >= $n
       |      THEN unnest(list_transform(generate_series(1, len(t)-${n - 1}), i -> array_to_string(t[i:i+${n - 1}], ' ')))
       |      ELSE array_to_string(t, ' ') END AS shingle
       |    FROM ${p}toks))""".stripMargin

  /** Decontamination oracle: replays the 5-gram semi-join on shingle
    * STRINGS (the engine joins 64-bit gram hashes — equality proven by the
    * jaccard oracles' identical gram rule).
    */
  private def decontaminateOracle: String =
    s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 3),
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 30000, text FROM bench),
       |${gramCtes("c", "corpus", 5)},
       |${gramCtes("b", "bench", 5)},
       |bset AS (SELECT DISTINCT shingle FROM bgrams)
       |SELECT c.doc_id, count(*) AS hits
       |FROM cgrams c JOIN bset USING (shingle) GROUP BY 1""".stripMargin

  /** Line-dedup oracle: rebuilds the same pages corpus, splits on
    * newlines with ordinality, drops lines whose distinct-page df >= 2,
    * reassembles in original order.
    */
  private def lineDedupOracle: String =
    s"""WITH $dupCorpusCte,
       |pages AS (
       |  SELECT (doc_id // 5)::BIGINT AS page_id,
       |    'NAV HOME PRODUCTS ABOUT' || chr(10) ||
       |    string_agg(text, chr(10) ORDER BY doc_id) || chr(10) ||
       |    'COPYRIGHT 2026 EXAMPLE CORP' AS text
       |  FROM corpus GROUP BY 1),
       |lines AS (
       |  SELECT page_id, unnest(list_transform(generate_series(1, len(l)),
       |    i -> {'pos': i, 'line': l[i]}), recursive := true)
       |  FROM (SELECT page_id, string_split(text, chr(10)) AS l FROM pages)),
       |hot AS (SELECT line FROM lines GROUP BY line HAVING count(DISTINCT page_id) >= 2),
       |rebuilt AS (
       |  SELECT page_id, count(*) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY pos) AS text_clean
       |  FROM lines ANTI JOIN hot USING (line) GROUP BY 1)
       |SELECT p.page_id, coalesce(r.n_kept, 0) AS n_kept,
       |  len(string_split(p.text, chr(10)))::BIGINT - coalesce(r.n_kept, 0) AS n_dropped,
       |  coalesce(r.text_clean, '') AS text_clean
       |FROM pages p LEFT JOIN rebuilt r USING (page_id)""".stripMargin

  /** Hash-split oracle: re-derives the salted md5 per-mille bucket for
    * every doc id (nibble-sum of the first 8 hex chars, the same idiom the
    * simhash oracle proves against Spark's md5).
    */
  /** Salted md5 per-mille bucket of an id expression — the SQL twin of
    * [[graft.pipeline.Splits.bucket]] (nibble-sum of the first 8 hex
    * chars, the idiom the simhash oracle proves against Spark's md5).
    */
  private def md5BucketSql(idExpr: String, salt: String, mod: Int = 1000): String =
    s"list_sum(list_transform(generate_series(1, 8), i -> (strpos('0123456789abcdef', substr(md5($idExpr::VARCHAR || ':$salt'), i, 1)) - 1)::BIGINT << (4*(8-i))))::BIGINT % $mod"

  private def hashSplitOracle: String =
    s"""WITH b AS (
       |  SELECT doc_id, ${md5BucketSql("doc_id", "split-v1")} AS bucket
       |  FROM documents)
       |SELECT doc_id, bucket,
       |  CASE WHEN bucket < 800 THEN 'train' WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split
       |FROM b""".stripMargin

  /** Curate oracle: replays the full curation pipeline — token gate,
    * stopword-argmax language gate, min-id exact dedup on the NORMALIZED
    * fingerprint key (lower + trim + whitespace collapse, mirroring
    * `TextAnalysis.fingerprint`'s input — the +20000 corpus variants are
    * duplicates only under that normalization), 5-gram decontamination vs
    * the eval slice, salted split assignment.
    */
  private def curateOracle: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 20000,
       |    translate(' ' || replace(text, ' ', '  ') || '  ', 'etaoins', 'ETAOINS')
       |  FROM documents WHERE doc_id % 10 = 5),
       |t AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}'']+'), x -> len(x) > 0) AS toks
       |  FROM corpus),
       |scored AS (
       |  SELECT doc_id, text, len(toks)::BIGINT AS tokens, $langBestSql AS best
       |  FROM t WHERE len(toks) >= 30),
       |gated AS (
       |  SELECT doc_id, text, tokens FROM scored WHERE $langPredSql = 'en'),
       |ded AS (
       |  SELECT min(doc_id) AS doc_id, min_by(tokens, doc_id) AS tokens,
       |    min_by(text, doc_id) AS text
       |  FROM gated
       |  GROUP BY lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))),
       |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 3),
       |${gramCtes("c", "ded", 5)},
       |${gramCtes("b", "bench", 5)},
       |bset AS (SELECT DISTINCT shingle FROM bgrams),
       |bad AS (SELECT DISTINCT c.doc_id FROM cgrams c JOIN bset USING (shingle)),
       |clean AS (
       |  SELECT d.doc_id, d.tokens, ${md5BucketSql("d.doc_id", "curate-v1")} AS bucket
       |  FROM ded d ANTI JOIN bad USING (doc_id))
       |SELECT doc_id, tokens,
       |  CASE WHEN bucket < 800 THEN 'train' WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split
       |FROM clean""".stripMargin

  /** Composite-quality-score CTE pair over a (doc_id, text) relation
    * `src` (prefixed so several chains coexist): emits `${p}sc`
    * with (doc_id, quality). Each sub-formula is proven engine-portable
    * by the text_quality / lang_id oracle hash-matches.
    */
  private def qualityCtes(p: String, src: String): String = {
    val stops = graft.text.TextAnalysis.stopwords("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""${p}qm AS (
       |  SELECT doc_id, length(text) AS chars,
       |    list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}'']+'), x -> len(x) > 0) AS toks,
       |    length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS punct
       |  FROM $src),
       |${p}sc AS (
       |  SELECT doc_id,
       |    ((CASE WHEN chars BETWEEN 20 AND 100000 THEN 1.0 ELSE 0.0 END)
       |     + (CASE WHEN (CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks) ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       |     + (CASE WHEN (CASE WHEN chars > 0 THEN punct::DOUBLE / chars ELSE 0.0 END) < 0.2 THEN 1.0 ELSE 0.0 END)
       |     + least((CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains($stops, x)))::DOUBLE / len(toks) ELSE 0.0 END) * 5, 1.0)
       |    ) / 4.0 AS quality
       |  FROM ${p}qm)""".stripMargin
  }

  /** Quality-gate oracle: replays the composite score, the quantized
    * histogram, and the largest-bucket-with-enough-mass threshold rule.
    */
  private def qualityGateOracle: String = {
    s"""WITH ${qualityCtes("g", "documents")},
       |b AS (SELECT doc_id, floor(quality * 10000)::BIGINT AS qb FROM gsc),
       |h AS (SELECT qb, count(*) AS c FROM b GROUP BY 1),
       |t AS (
       |  SELECT max(qb) AS thr FROM (
       |    SELECT qb, sum(c) OVER (ORDER BY qb DESC) AS cum FROM h)
       |  WHERE cum >= (SELECT ceil(0.7 * count(*)) FROM b))
       |SELECT doc_id, qb FROM b, t WHERE qb >= thr""".stripMargin
  }

  /** Mixing oracle: re-derives every kept copy — domain from doc_id, rate
    * from the mixture config, copies = rate/1000 (+1 iff the salted md5
    * bucket falls under the fractional part), one row per copy index.
    */
  private def datasetMixOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    (['web', 'code', 'books', 'junk'])[(doc_id % 4 + 1)::INT] AS domain
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, domain,
       |    CASE domain WHEN 'web' THEN 600 WHEN 'code' THEN 1000
       |      WHEN 'books' THEN 2500 WHEN 'junk' THEN 0 ELSE 1000 END AS rate,
       |    ${md5BucketSql("doc_id", "mix-v1")} AS bucket
       |  FROM d),
       |n AS (
       |  SELECT doc_id, domain,
       |    rate // 1000 + CASE WHEN bucket < rate % 1000 THEN 1 ELSE 0 END AS copies
       |  FROM r)
       |SELECT doc_id, domain, unnest(generate_series(0, copies - 1))::BIGINT AS copy
       |FROM n WHERE copies > 0""".stripMargin

  /** Survivor oracle: exact transitive closure (as [[clustersOracle]]) +
    * the quality score over the same corpus + per-cluster argmax on
    * (quality, -id) — reuses the shared jaccard/quality CTE builders so
    * oracle cost stays linear in operators.
    */
  private def dedupSurvivorsOracle: String =
    s"""WITH RECURSIVE ${jaccardCtes(0.8)},
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM jpairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM jpairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM corpus
       |  UNION
       |  SELECT e.dst AS id, reach.r AS r FROM reach JOIN edges e ON reach.id = e.src),
       |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |${qualityCtes("s", "corpus")},
       |ranked AS (
       |  SELECT c.cluster_id, c.id, s.quality,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY s.quality DESC, c.id ASC) AS rn
       |  FROM cl c JOIN ssc s ON s.doc_id = c.id),
       |agg AS (
       |  SELECT cluster_id, max(quality) AS quality, count(*) AS cluster_size
       |  FROM ranked GROUP BY 1)
       |SELECT a.cluster_id, r.id AS survivor_id, a.quality, a.cluster_size
       |FROM agg a JOIN ranked r ON r.cluster_id = a.cluster_id AND r.rn = 1""".stripMargin

  /** PII-scrub oracle: same corpus injection, same Java∩RE2 patterns
    * ([[graft.text.Scrub]] constants inlined), same replacement order.
    */
  private def piiScrubOracle: String = {
    import graft.text.Scrub
    s"""WITH w AS (
       |  SELECT doc_id, text || ' contact user' || doc_id::VARCHAR ||
       |    '@example.com or 10.0.' || (doc_id % 256)::VARCHAR ||
       |    '.7 or +1555000' || (doc_id % 10000)::VARCHAR AS text
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(text, '${Scrub.EmailRe}'))::BIGINT AS emails,
       |  len(regexp_extract_all(text, '${Scrub.Ipv4Re}'))::BIGINT AS ips,
       |  len(regexp_extract_all(text, '${Scrub.PhoneRe}'))::BIGINT AS phones,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '${Scrub.EmailRe}', '<EMAIL>', 'g'),
       |    '${Scrub.Ipv4Re}', '<IP>', 'g'),
       |    '${Scrub.PhoneRe}', '<PHONE>', 'g') AS text_clean
       |FROM w""".stripMargin
  }

  /** Chunking oracle: same tokenizer, same stride/width/slice rule. */
  private def chunkTokensOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}'']+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, unnest(generate_series(0, len(toks) - 1, 48)) AS s, toks
       |  FROM t WHERE len(toks) > 0)
       |SELECT doc_id, (s // 48)::BIGINT AS chunk_idx, s::BIGINT AS start_tok,
       |  least(64, len(toks) - s)::BIGINT AS n_tokens,
       |  array_to_string(toks[s + 1 : s + 64], ' ') AS chunk_text
       |FROM c""".stripMargin

  /** Group-sample oracle: the naive formulation the engine's two-phase
    * selection is proven byte-equal to — per-group rank over
    * (salted bucket, doc_id), keep rank <= k.
    */
  private def groupSampleOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    (['web', 'code', 'books', 'junk'])[(doc_id % 4 + 1)::INT] AS domain
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, domain,
       |    ${md5BucketSql("doc_id", "sample-v1", 4096)} AS sb
       |  FROM d),
       |r AS (
       |  SELECT doc_id, domain,
       |    row_number() OVER (PARTITION BY domain ORDER BY sb, doc_id) AS rn
       |  FROM b)
       |SELECT doc_id, domain FROM r WHERE rn <= 50""".stripMargin

  /** Group-percentiles oracle: same histogram + cumulative-count +
    * integer-ceiling-division rank rule as the engine (never DuckDB's
    * own quantile functions — interpolation conventions differ).
    */
  private def groupQuantilesOracle: String = {
    val sels = Seq(25, 50, 90, 99).map(p =>
      s"min(CASE WHEN cum >= floor((n * $p + 99) / 100) THEN v END) AS p$p")
      .mkString(",\n  ")
    s"""WITH d AS (
       |  SELECT (['web', 'code', 'books', 'junk'])[(doc_id % 4 + 1)::INT] AS domain,
       |    len(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}'']+'), x -> len(x) > 0))::BIGINT AS tokens
       |  FROM documents),
       |h AS (SELECT domain, tokens AS v, count(*) AS c FROM d GROUP BY 1, 2),
       |cum AS (
       |  SELECT domain, v,
       |    sum(c) OVER (PARTITION BY domain ORDER BY v) AS cum,
       |    sum(c) OVER (PARTITION BY domain) AS n
       |  FROM h)
       |SELECT domain,
       |  $sels
       |FROM cum GROUP BY domain""".stripMargin
  }

  /** Gap-percentiles oracle: same lag rule on the (ts, event_id) order,
    * same histogram + ceiling-division ranks as [[groupQuantilesOracle]].
    */
  private def turnGapQuantilesOracle: String = {
    val sels = Seq(50, 90, 99).map(p =>
      s"min(CASE WHEN cum >= floor((n * $p + 99) / 100) THEN v END) AS p$p")
      .mkString(",\n  ")
    s"""WITH g AS (
       |  SELECT user_id,
       |    epoch_us(ts) // 1000000
       |      - lag(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_sec
       |  FROM events),
       |h AS (SELECT user_id, gap_sec AS v, count(*) AS c FROM g
       |      WHERE gap_sec IS NOT NULL GROUP BY 1, 2),
       |cum AS (
       |  SELECT user_id, v,
       |    sum(c) OVER (PARTITION BY user_id ORDER BY v) AS cum,
       |    sum(c) OVER (PARTITION BY user_id) AS n
       |  FROM h)
       |SELECT user_id,
       |  $sels
       |FROM cum GROUP BY user_id""".stripMargin
  }

  /** TF-IDF oracle: same tokenizer, same linear idf (tf·N/df as one IEEE
    * double division — bit-identical to the engine), same
    * (score desc, term asc) rank rule.
    */
  private def tfidfOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}'']+'), x -> len(x) > 0)) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, df,
       |    (tf * nn.n)::DOUBLE / df::DOUBLE AS tf_idf,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY (tf * nn.n)::DOUBLE / df::DOUBLE DESC, term ASC) AS "rank"
       |  FROM tf JOIN df USING (term) CROSS JOIN nn)
       |SELECT doc_id, term, tf, df, tf_idf, "rank" FROM scored WHERE "rank" <= 3""".stripMargin

  /** Hot-n-gram oracle: per-doc-distinct 3-gram document frequencies,
    * df >= 2, top 20 under the total (df desc, shingle asc) order.
    */
  private def hotNgramsOracle: String =
    s"""WITH ${gramCtes("h", "documents", 3)},
       |agg AS (
       |  SELECT shingle, count(*) AS df FROM hgrams
       |  GROUP BY 1 HAVING count(*) >= 2)
       |SELECT shingle, df FROM agg ORDER BY df DESC, shingle ASC LIMIT 20""".stripMargin

  /** Packing oracle: same shard/prefix-sum/floor rule as the engine's
    * window expression.
    */
  private def packSequencesOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, (doc_id // 100)::BIGINT AS shard,
       |    len(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}'']+'), x -> len(x) > 0))::BIGINT AS tokens
       |  FROM documents)
       |SELECT doc_id, shard,
       |  (coalesce(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048)::BIGINT AS bin,
       |  tokens
       |FROM t""".stripMargin
}
