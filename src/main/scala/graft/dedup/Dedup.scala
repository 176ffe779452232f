package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. All pure DataFrame programs (one logical
  * plan per operator, no driver loops):
  *
  *  - shingling / signatures are per-row `Column` expressions (codegen'd);
  *  - candidate generation is an equi-join on posting/band/bucket keys —
  *    hash-partitioned, AQE-balanced;
  *  - only candidates pay the exact-verification cost (the LSH contract).
  *
  * Scale notes (100 TB): exact-Jaccard all-pairs is quadratic per posting
  * list and only used for small corpora / verification; MinHash-LSH is the
  * scale path — candidate count is governed by band collisions, not corpus
  * size. Stop-shingles (posting lists of millions — boilerplate headers in
  * a web crawl) are capped at candidate-generation time only via
  * `maxShingleDf`: shingles above the document-frequency cap are dropped
  * from signature/banding but KEPT in verification, so the verified Jaccard
  * is unbiased while one hot shingle can no longer explode a posting join.
  *
  * ==Materialization contract==
  * [[jaccardPairs]], [[minhashDupPairs]], [[dropDuplicateLines]],
  * [[lshCandidatePairs]], [[simhashDupPairs]] and
  * [[dupComponentsCollapsed]] materialize one intermediate relation (the
  * posting/band/line/mapping table) with a `localCheckpoint` whose
  * materialization job runs at operator-construction time, because the
  * returned plan consumes it from several branches (without it the
  * scan+shingle pipeline would run 3–4×). A `cache()` would keep the
  * same data BUT retain the full upstream LOGICAL plan, which AQE
  * re-optimizes after every completed stage of every downstream action —
  * measured ~40 % of `minhashDupPairs`' warm wall time at sf0.1 was that
  * re-planning; the checkpoint truncates lineage to a flat `LogicalRDD`.
  * Where the operator carries a bucket-cap guard, the checkpoint is LAZY
  * and the guard's one count job ([[assertMaxBucket]], a single-branch
  * aggregation) doubles as the materialization barrier — one job does
  * guard + materialization where round 5 paid an eager-checkpoint job
  * PLUS a per-plan broadcast-join guard. A lazy checkpoint whose first
  * consumer is multi-branch (e.g. [[dropDuplicateLines]]' line table, or
  * the stop-shingle path of [[minhashDupPairs]]) stays EAGER: concurrent
  * stages racing an unmaterialized lazy checkpoint compute the upstream
  * pipeline once per branch.
  * The RETURNED DataFrame references the checkpoint, so the operator
  * cannot free it itself; blocks are released when the result's plan is
  * garbage-collected (Spark's ContextCleaner) — bounded by one posting
  * table per in-flight result, not by session lifetime — or by a caller
  * that unpersists RDD-level blocks (the bench harness sweeps all
  * RDD-level persists between timed queries).
  * [[dupComponents]] additionally frees each superseded per-round
  * checkpoint itself (including on failure paths) and leaves only the
  * final labels materialization pinned (O(#docs) rows).
  */
object Dedup {

  /** Distinct word n-gram array from an ALREADY-MATERIALIZED tokens column.
    *
    * The tokens expression must live in its own projection (see the
    * callers): higher-order functions are interpreted (CodegenFallback)
    * and do no common-subexpression elimination, so if the tokenizer were
    * inlined here it would re-run the full regex split once per gram
    * position — measured 10× slower on the documents corpus. CollapseProject
    * keeps a multi-referenced non-cheap alias un-inlined, so the two-select
    * shape is stable. Docs shorter than n words contribute their whole
    * token string.
    */
  private def gramArray(t: Column, n: Int): Column = {
    val grams = when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array(concat_ws(" ", t)))
    array_distinct(grams)
  }

  /** Word n-gram shingles, one row per (id, distinct shingle string) —
    * the human-readable posting table (diagnostics, hot-shingle reports).
    */
  def wordShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("_t"))
      .select(col("id"), explode(gramArray(col("_t"), n)).as("shingle"))

  /** Hashed posting table: one row per (id, distinct 64-bit shingle id).
    * The pair joins and MinHash signatures key on the xxhash64 of the
    * shingle, not the string — long keys shuffle a fraction of the bytes
    * and compare in one instruction. A cross-doc collision merges two
    * shingles with probability ~d²/2^65 for d distinct shingles (<1e-9 at
    * a million shingles), inflating one intersection count by 1 — far
    * below any dedup threshold's sensitivity; set membership per doc is
    * unaffected (hashes of an already-distinct gram array).
    */
  def shingleIds(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("_t"))
      .select(col("id"),
        explode(transform(gramArray(col("_t"), n), g => xxhash64(g))).as("shingle"))

  /** Gopher-style intra-doc repetition signal: how much of a doc is
    * repeats of its own earlier word n-grams (boilerplate loops, model
    * babble, keyword stuffing). rep_ratio = 1 - distinct/total n-grams;
    * 0 means no repetition. Pure per-row Column expressions — one scan,
    * no shuffle, codegen'd (the gram positions are interpreted-HOF but
    * operate on the single materialized tokens array).
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("_t"))
      .select(col("id"),
        when(size(col("_t")) >= n, size(col("_t")) - (n - 1))
          .otherwise(lit(1)).cast("long").as("total_grams"),
        size(gramArray(col("_t"), n)).cast("long").as("distinct_grams"))
      .withColumn("rep_ratio",
        lit(1.0) - col("distinct_grams").cast("double") / col("total_grams"))

  /** Shared oversize-bucket fan-out guard for the candidate self-joins
    * (LSH bands, SimHash bands, SRP buckets, kNN probe buckets, posting
    * lists): one map-side-combined count per bucket key reduced to the
    * single max, checked on the DRIVER at operator-construction time. The
    * guard is CORPUS-WIDE by contract — any bucket beyond `cap` fails
    * loudly whether or not a counterpart row would ever join it (a hot
    * bucket is a broken collapse/cap contract worth failing on sight).
    *
    * This replaces the round-5 per-row formulation (broadcast of the
    * expected-empty oversize set + `raise_error`-wrapped join keys),
    * which charged every candidate join an extra aggregate + broadcast
    * join at execution AND inflated analysis/codegen with the
    * `when(raise_error)` key copies — measured ~2× warm and up to ~3.5×
    * cold on the collapse-path queries at sf0.1. The count here runs ONCE
    * over `df`, and because every caller passes its freshly
    * lazy-localCheckpoint'ed relation, this job doubles as the
    * materialization barrier of the checkpoint (one job does both; the
    * eager-checkpoint-then-guard shape paid two). The returned plans
    * carry no guard residue at all.
    */
  private[graft] def assertMaxBucket(df: DataFrame, keyCols: Seq[String],
      cap: Long, op: String, hint: String): Unit = {
    require(cap > 1, s"$op: bucket cap=$cap must be > 1")
    val mx = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_bc"))
      .agg(max(col("_bc")))
      .collect()(0)
    val worst = if (mx.isNullAt(0)) 0L else mx.getLong(0)
    if (worst > cap) throw new IllegalStateException(
      s"$op: a bucket holds more rows than the cap $cap (size=$worst) — $hint")
  }

  /** Exact pairwise n-gram Jaccard over co-shingled pairs (id_a < id_b,
    * jaccard >= minJaccard). Exact — the small-corpus baseline and the
    * verifier behind LSH. `maxPostingList` is the [[assertMaxBucket]]
    * contract on the posting self-join: a shingle shared by d docs emits
    * d²/2 intersection rows, so a hot boilerplate shingle beyond the cap
    * fails loudly at construction (exactness means it cannot be silently
    * dropped the way `minhashDupPairs(maxShingleDf)` drops it from
    * banding — switch to that scale path instead). The default cap 10⁴
    * bounds the worst single posting list at ~5×10⁷ intersection rows —
    * past that the exact path is the wrong tool regardless.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double, maxPostingList: Long = 10000L): DataFrame = {
    require(maxPostingList > 1,
      s"jaccardPairs: bucket cap=$maxPostingList must be > 1")
    val sh = shingleIds(docs, idCol, textCol, n).localCheckpoint(eager = false)
    // per-shingle document frequency serves BOTH the guard and the df≥2
    // restriction below — checkpointed so the guard's count job (which
    // also materializes sh) does work the main job then reuses instead of
    // re-aggregating the posting table
    val dfAgg = sh.groupBy("shingle").agg(count(lit(1)).as("_df"))
      .localCheckpoint(eager = false)
    // construction-time posting-list cap (the df of a shingle IS its
    // posting-list size; cap > 1 ≥ any df-1 singleton); this one job
    // materializes sh and dfAgg together
    val mxRow = dfAgg.agg(max(col("_df"))).collect()(0)
    val worst = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
    if (worst > maxPostingList) throw new IllegalStateException(
      s"jaccardPairs: a bucket holds more rows than the cap $maxPostingList " +
        s"(size=$worst) — a hot shingle makes the exact posting self-join " +
        "quadratic; use minhashDupPairs(maxShingleDf) as the scale path or " +
        "raise maxPostingList")
    // a shingle with document frequency 1 can never contribute to a pair:
    // dropping those postings BEFORE the quadratic self-join shrinks its
    // input to the (typically small) co-occurring subset without changing
    // the intersection counts — exactness preserved
    val coOccurring = dfAgg.filter(col("_df") >= 2).select("shingle")
    val shP = sh.join(coOccurring, Seq("shingle"), "left_semi")
    val inter = shP.as("x").join(shP.as("y"), "shingle")
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
    withJaccard(inter, sh, minJaccard)
  }

  /** Exact Jaccard of each pair `(id_a, id_b, c)`, `c` the shared-shingle
    * count, against both docs' shingle-set sizes in `sh`; keeps pairs at
    * or above `minJaccard`.
    */
  private def withJaccard(inter: DataFrame, sh: DataFrame,
      minJaccard: Double): DataFrame = {
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash signatures: k independent hash families via seeded xxhash64;
    * one groupBy with k MIN aggregates (map-side partials, no UDAF).
    *
    * Measured alternative (rejected): computing signatures per-row with
    * k × `array_min(transform(grams, xxhash64(seed_i, _)))` avoids the
    * posting shuffle entirely but ran ~40% slower warm at sf0.1 — the k
    * interpreted higher-order passes (CodegenFallback, no codegen) cost
    * more than the shuffle they save; the k MIN aggregates here stay
    * inside whole-stage codegen with map-side partial combine. Revisit on
    * a network-shuffle cluster where the trade may flip.
    */
  def minhashSignatures(shingles: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val mins = (0 until k).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    shingles.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** LSH banding: split the k-minhash signature into `bands` bands of
    * k/bands rows; docs colliding on any full band become candidates.
    *
    * ==Duplicate-class fan-out guard==
    * A band bucket of m docs emits m·(m−1)/2 candidate pairs through the
    * self-join, and identical/near-identical docs share EVERY band by
    * design — one viral 100k-copy boilerplate page is 5×10⁹ pairs before
    * any filter. `maxShingleDf` caps hot *shingles*, not hot *signatures*,
    * so `maxBandBucket` makes the bucket contract explicit: any band
    * bucket beyond the cap fails loudly at operator-construction time
    * ([[assertMaxBucket]] — a corpus-wide check, tripping whether or not
    * the oversize bucket would survive later filters). The structural fix
    * for large exact-duplicate classes is [[dupComponentsCollapsed]] —
    * pre-collapse key-equal docs so a class contributes ONE signature;
    * after that, surviving buckets hold genuinely distinct near-dup
    * content and the cap only trips on contracts worth failing. The guard
    * costs one map-side-combined count over the banded postings — the
    * same job that materializes the lazy `localCheckpoint` of the banded
    * relation, so the signature pipeline runs once, not once per
    * consumer, and the returned self-join plan carries no guard residue.
    */
  def lshCandidatePairs(sigs: DataFrame, k: Int, bands: Int,
      maxBandBucket: Long = 10000L): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    require(maxBandBucket > 1, s"maxBandBucket=$maxBandBucket must be > 1")
    val r = k / bands
    val bandHashes = array((0 until bands).map(b =>
      struct(lit(b).as("band"), xxhash64(lit(b), slice(col("sig"), b * r + 1, r)).as("bh"))): _*)
    val exploded = sigs.select(col("id"), explode(bandHashes).as("e"))
      .select(col("id"), col("e.band"), col("e.bh"))
      .localCheckpoint(eager = false)
    // construction-time bucket cap; the count job materializes the lazy
    // checkpoint (signature pipeline runs once) and leaves the returned
    // self-join plan guard-free
    assertMaxBucket(exploded, Seq("band", "bh"), maxBandBucket,
      "lshCandidatePairs",
      "the self-join would emit O(size²) candidate pairs; pre-collapse " +
        "exact duplicates (Dedup.dupComponentsCollapsed) or raise maxBandBucket")
    exploded.as("x").join(exploded.as("y"), Seq("band", "bh"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
  }

  /** MinHash+LSH near-duplicate pairs, exact-verified: LSH proposes,
    * Jaccard (computed only for candidates) disposes.
    *
    * `maxShingleDf` caps stop-shingles at BANDING time only: shingles whose
    * document frequency exceeds the cap carry ~no similarity information
    * (every doc has them) but quadratically explode the candidate posting
    * join, so they are excluded from MinHash signatures; verification still
    * runs over the FULL shingle sets, keeping the reported Jaccard exact.
    * A doc whose every shingle is hot drops out of candidate generation —
    * acceptable: such a doc is pure boilerplate. Default = no cap.
    */
  def minhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, minJaccard: Double,
      maxShingleDf: Int = Int.MaxValue,
      maxBandBucket: Long = 10000L): DataFrame = {
    // default path: LAZY checkpoint — the first action is the single-branch
    // band-bucket count inside lshCandidatePairs, which materializes the
    // posting table as it runs (one job instead of eager-ckpt + guard).
    // With a stop-shingle cap the first job has TWO branches over sh (the
    // hot-set broadcast build and the probe side), which would race an
    // unmaterialized lazy checkpoint and compute the shingle pipeline
    // twice — keep that path eager.
    val sh0 = shingleIds(docs, idCol, textCol, n)
    val sh = if (maxShingleDf == Int.MaxValue) sh0.localCheckpoint(eager = false)
      else sh0.localCheckpoint()
    // hot-shingle set is tiny by definition (few shingles exceed the cap) —
    // broadcast anti-join, no extra shuffle of the posting table
    val shBand =
      if (maxShingleDf == Int.MaxValue) sh
      else sh.join(
        broadcast(sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf).select("shingle")),
        Seq("shingle"), "left_anti")
    val cands = lshCandidatePairs(minhashSignatures(shBand, k), k, bands,
      maxBandBucket)
    // restrict posting join to candidate docs, then exact-verify
    val candDocs = cands.select(col("id_a").as("id"))
      .union(cands.select(col("id_b").as("id"))).distinct()
    val shC = sh.join(candDocs, Seq("id"), "left_semi")
    val inter = shC.as("x").join(shC.as("y"), "shingle")
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
      .join(cands, Seq("id_a", "id_b"), "left_semi")
    withJaccard(inter, sh, minJaccard)
  }

  /** Default SimHash token hash: xxhash64 (codegen'd, 64 full bits). */
  val xxTokenHash: Column => Column = c => xxhash64(c)

  /** SQL-portable token hash: top 60 bits of md5, built from functions with
    * identical semantics in Spark and DuckDB — lets an external SQL oracle
    * recompute the exact signatures. Bits 60–63 are always 0, which only
    * means those four vote counters never fire (Hamming unaffected).
    */
  val md5TokenHash: Column => Column =
    c => conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** 64-bit SimHash over token multiset: per-bit vote sums in one groupBy
    * (64 SUM aggregates), sign → bit. `tokenHash` is pluggable so results
    * can be verified by engines without xxhash64 (see [[md5TokenHash]]).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxTokenHash): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .withColumn("h", tokenHash(col("t")))
    val votes = (0 until 64).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1)).as(s"b$i"))
    val bits = (0 until 64).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
    tok.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), bits.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming (< 16):
    * 4×16-bit band blocking (pigeonhole: any pair within Hamming 3 shares
    * at least one band), exact `bit_count` verification on candidates.
    * `maxBandBucket` is the same duplicate-class fan-out guard as
    * [[lshCandidatePairs]] — identical docs share all four bands, so an
    * uncollapsed viral class would emit O(m²) candidates; the cap is
    * checked at construction by the same count job that materializes the
    * banded relation's lazy `localCheckpoint` ([[assertMaxBucket]]).
    */
  def simhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, tokenHash: Column => Column = xxTokenHash,
      maxBandBucket: Long = 10000L): DataFrame = {
    require(maxHamming <= 3, "4-band blocking guarantees recall only for Hamming <= 3")
    require(maxBandBucket > 1, s"maxBandBucket=$maxBandBucket must be > 1")
    val sigs = simhash(docs, idCol, textCol, tokenHash)
    val bandArr = array((0 until 4).map(b => struct(lit(b).as("band"),
      col("simhash").bitwiseAND(lit(0xffffL << (16 * b))).as("bv"))): _*)
    val banded = sigs.select(col("id"), col("simhash"), explode(bandArr).as("e"))
      .select(col("id"), col("simhash"), col("e.band"), col("e.bv"))
      .localCheckpoint(eager = false)
    // construction-time bucket cap; doubles as the checkpoint barrier
    assertMaxBucket(banded, Seq("band", "bv"), maxBandBucket,
      "simhashDupPairs",
      "pre-collapse exact duplicates (Dedup.dupComponentsCollapsed) or " +
        "raise maxBandBucket")
    banded.as("x").join(banded.as("y"), Seq("band", "bv"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over near-duplicate pairs — the cluster-formation
    * step a dedup pipeline runs AFTER pair generation (keep one survivor
    * per transitive dup cluster, FineWeb-style). Min-id label propagation:
    * every node starts labeled with its own id; each round, a node takes
    * the min of its label and its neighbors' labels (one equi-join + one
    * groupBy per round); converges in component-diameter rounds. Near-dup
    * clusters are shallow (dup groups, boilerplate families), so a handful
    * of rounds suffices even at crawl scale; `maxIter` guards pathological
    * chains and the loop exits as soon as a round changes nothing. Labels
    * are materialized per round with `localCheckpoint`, which truncates
    * the plan lineage — labels feed two joins per round, so a cache-only
    * loop doubles the logical plan every iteration and a deep component
    * chain blows the driver up building plan strings long before any
    * executor works hard. Checkpoint-per-round keeps the plan O(1) at any
    * diameter (the standard Spark iterative-algorithm pattern; executor
    * loss during the transient loop costs a job retry, nothing durable).
    *
    * Returns (id, cluster) for EVERY id in `nodes` (isolated docs form
    * singleton clusters; cluster = min doc id of the component, so
    * survivors are exactly the rows with id == cluster).
    */
  def dupComponents(nodes: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 25): DataFrame = {
    require(maxIter > 0, s"maxIter=$maxIter must be positive")
    // both edge directions from ONE evaluation of the (possibly expensive)
    // pair pipeline — a union of two selects would compute it twice.
    // localCheckpoint, not cache(): a cache keeps the full pair-pipeline
    // LOGICAL plan alive, and every seed/round action would re-analyze and
    // re-optimize that big tree (measured ~1.5 s of pure planning per job
    // at sf0.1 — dominating the tiny-data rounds); the checkpoint truncates
    // lineage so every loop job plans against a flat LogicalRDD. Freed at
    // the end — no round output references sym past its own checkpoint.
    // LAZY: the first action to touch sym is the seed-labels checkpoint
    // job below, which reads it through exactly ONE branch (the seed
    // aggregate) — the pair pipeline materializes into sym's blocks as
    // that job runs, saving the separate eager-checkpoint job round 5 paid
    val sym = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(eager = false)
    // seed labels with min(id, min neighbor) — one aggregation that saves a
    // full propagation round on the common shallow clusters (dup triangles
    // converge after a single verify round). The seed checkpoint stays
    // EAGER on purpose: a lazy seed would let round 1's two independent
    // label branches race its un-materialized work in concurrent stages,
    // computing it twice
    val seed = sym.groupBy(col("src").as("id")).agg(min("dst").as("nd"))
    var labels = nodes.select(col(idCol).as("id")).distinct()
      .join(seed, Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("nd"), col("id"))).as("cluster"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    // every exit (incl. a job failure or the non-convergence throw below)
    // must free the edge checkpoint and the last superseded labels — an
    // error path that leaks O(#edges + #docs) blocks per failed call would
    // be the worse bug in a long-lived session
    try {
      while (changed > 0 && i < maxIter) {
        // per round: propagate neighbor minima, keep the old label
        // alongside, and fold checkpoint materialization into the
        // convergence count — the LAZY localCheckpoint persists its
        // partitions as the count job computes them, so each round costs
        // exactly ONE Spark job (the eager-checkpoint-then-count shape paid
        // two, pure fixed overhead at small data). Lineage still truncates:
        // labels feeds two joins per round, and a cache-only loop doubles
        // the logical plan every iteration — a deep chain OOMs the driver
        // building plan strings.
        val prop = sym.join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(min("cluster").as("nl"))
        val round = labels.join(prop, Seq("id"), "left")
          .select(col("id"), col("cluster").as("old"),
            least(col("cluster"), coalesce(col("nl"), col("cluster"))).as("cluster"))
          .localCheckpoint(eager = false)
        changed = round.filter(col("cluster") < col("old")).count()
        // the superseded round's blocks are dead the moment `round` is
        // materialized — free them now instead of leaking one O(#docs)
        // checkpoint per round for the life of the session
        freeLocalCheckpoint(labels)
        labels = round.select("id", "cluster")
        i += 1
      }
      // fail loudly rather than return split components: downstream
      // survivor rules (keep id == cluster) would silently keep several
      // duplicates of one unconverged component
      require(changed == 0,
        s"dupComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter for graphs with " +
          "component diameter > maxIter")
    } catch {
      case t: Throwable =>
        freeLocalCheckpoint(labels) // not returned on the error path
        throw t
    } finally freeLocalCheckpoint(sym)
    labels
  }

  /** [[dupComponents]] with exact-duplicate PRE-COLLAPSE — the structural
    * guard against the quadratic candidate-pair blowup of a viral
    * duplicate class. Identical docs share every LSH band / SRP bucket by
    * design, so pair generation over the raw corpus materializes
    * m·(m−1)/2 candidates for an m-copy class (a 100k-copy boilerplate
    * page is 5×10⁹ pairs). Here the corpus is first collapsed by an exact
    * content key: one REPRESENTATIVE (min id) per key-equal class runs
    * through the caller-supplied pair pipeline and label propagation, and
    * the labels are expanded back over the id→rep mapping — an m-copy
    * class costs O(m), never O(m²).
    *
    * `classKey` must be a deterministic pure function of row content such
    * that key-equal rows are exact duplicates under the pair pipeline's
    * own similarity (e.g. [[graft.text.TextAnalysis.fingerprint]] for
    * token-based pipelines — fingerprint-equal texts tokenize
    * identically — or the embedding column itself for vector pipelines).
    * NULL-key rows (null text / null vector) become singleton clusters
    * directly instead of silently vanishing through the null-rejecting
    * equi-joins — consistent with content-derived keys, where a null key
    * means content that can produce no shingles/buckets and therefore no
    * pairs. For any other `classKey` whose null rows could still pair,
    * resolve nulls upstream. Then the result is IDENTICAL to
    * `dupComponents(docs, idCol, pairsOf(docs))` whenever the pair
    * pipeline (a) emits every exact-duplicate pair (Jaccard/cosine = 1 ≥
    * any threshold ≤ 1) and (b) is content-determined (key-equal docs get
    * identical signatures/buckets, so cross-class edges exist between
    * members iff they exist between representatives): every class member
    * joins its rep's component, and the rep already carries the
    * class-minimal id, so each component's min-id label is unchanged.
    *
    * The class reduction is the same skew-proof min-aggregate + equi-join
    * shape as [[exact]] (map-side-combined MIN partials — a hot class
    * never funnels one task). The KEYED corpus is materialized once
    * (lazy `localCheckpoint` whose barrier is the class-size aggregation
    * below — see the materialization contract): the class mapping, the
    * representative slice, the pair pipeline's posting scan, and the
    * label seed all read the flat checkpoint instead of re-scanning and
    * re-keying the input — and the keyed corpus is no bigger than the
    * posting tables those consumers would otherwise each rebuild it from.
    * Collapse insurance is PAY-AS-YOU-GO: the class aggregation already
    * yields the max class size as one scalar, and when it is 1 the rep
    * slice and both expansion joins are skipped (provably the identity),
    * so a corpus with no duplicate classes pays only the keyed
    * checkpoint + one aggregate over it.
    */
  def dupComponentsCollapsed(docs: DataFrame, idCol: String, classKey: Column,
      pairsOfReps: DataFrame => DataFrame, maxIter: Int = 25): DataFrame = {
    val clash = docs.columns.toSet.intersect(Set("_ck", "_rep"))
    require(clash.isEmpty,
      s"column names ${clash.mkString(",")} are reserved by dupComponentsCollapsed")
    val keyed = docs.withColumn("_ck", classKey).localCheckpoint(eager = false)
    val nn = keyed.filter(col("_ck").isNotNull)
    // ONE aggregation job does three things: computes the min-id
    // representative AND the class sizes, materializes the lazy keyed
    // checkpoint as it runs, and is itself checkpointed (one tiny relation)
    // so the rep slice and the expansion join read it flat instead of
    // re-running the groupBy once per consumer. The max class size falls
    // out as a 1-row collect — the pay-as-you-go test below costs no
    // extra pass.
    val keep = nn.groupBy("_ck")
      .agg(min(col(idCol)).as("_rep"), count(lit(1)).as("_csz"))
      .localCheckpoint(eager = false)
    val mxRow = keep.agg(max(col("_csz"))).collect()(0)
    val maxClass = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
    val nulls = keyed.filter(col("_ck").isNull)
      .select(col(idCol).as("id"), col(idCol).as("cluster"))
    if (maxClass <= 1L) {
      // every class is a singleton — the collapse is the identity mapping
      // (reps == nn, id == _rep), so skip the rep-slice semi-join and both
      // expansion joins and label the keyed corpus directly. Collapse
      // insurance is pay-as-you-go: a corpus with no duplicate class pays
      // only the keyed checkpoint + this aggregate.
      val flat = nn.drop("_ck")
      dupComponents(flat, idCol, pairsOfReps(flat), maxIter)
        .unionByName(nulls)
    } else {
      val reps = nn
        .join(keep.withColumnRenamed("_rep", idCol), Seq("_ck", idCol), "left_semi")
        .drop("_ck")
      val comp = dupComponents(reps, idCol, pairsOfReps(reps), maxIter)
      nn.select(col(idCol).as("id"), col("_ck"))
        .join(keep, "_ck")
        .select(col("id"), col("_rep"))
        .join(comp.withColumnRenamed("id", "_rep"), "_rep")
        .select("id", "cluster")
        .unionByName(nulls)
    }
  }

  /** Release the block-manager storage behind a `localCheckpoint`ed
    * DataFrame (or one derived from it by projections/joins — every
    * `LogicalRDD` in the plan is unpersisted). `Dataset.unpersist` only
    * talks to the SQL cache manager and never touches RDD-level
    * checkpoint blocks, so without this the label-propagation loop would
    * pin one O(#docs) copy per round until session GC. Safe only once no
    * further action will touch the plan — checkpointed lineage is
    * truncated and cannot be recomputed.
    */
  private def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Benchmark decontamination: flag every corpus doc sharing at least one
    * word n-gram with any benchmark/eval document (the train-set hygiene
    * pass an LLM pipeline runs before training — n-gram overlap against
    * held-out eval suites). Returns (id, hits) for contaminated docs only,
    * hits = number of DISTINCT overlapping n-grams (shingle sets are
    * per-doc distinct by construction).
    *
    * Scale shape: the benchmark side collapses to its distinct n-gram set —
    * eval suites are orders of magnitude smaller than a crawl, so the set
    * is broadcast and the check costs one scan of the corpus grams with a
    * map-side semi-join (no shuffle of corpus data). Drop the broadcast
    * hint if the benchmark set outgrows executor memory and AQE picks the
    * shuffle strategy. Grams compare as 64-bit xxhash64 ids ([[shingleIds]]
    * collision note applies).
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int): DataFrame = {
    val docGrams = shingleIds(corpus, idCol, textCol, n)
    val benchGrams = shingleIds(benchmark, benchIdCol, benchTextCol, n)
      .select("shingle").distinct()
    docGrams.join(broadcast(benchGrams), Seq("shingle"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("hits"))
  }

  /** Corpus-wide duplicated-line removal (CCNet/RefinedWeb-style
    * boilerplate stripping): split every doc into lines, drop each line
    * whose document frequency (count of DISTINCT docs containing it)
    * reaches `minDf`, and reassemble the surviving lines in their original
    * order. Returns one row per input doc:
    * (id, n_kept, n_dropped, text_clean) — docs whose every line was
    * boilerplate survive with an empty text_clean.
    *
    * Scale shape: the df count and the hot-set join key on the 64-bit
    * xxhash64 of the line — they shuffle longs, not line strings
    * (collision odds as in [[shingleIds]]; a collision here could drop
    * one innocent line). The df count itself is skew-proof by
    * construction: a universal boilerplate line (a nav header present in
    * EVERY doc of a crawl) would funnel one reducer with a
    * `count_distinct` per line key, so instead the count runs as
    * distinct (line, doc) pairs — shuffled on the PAIR, which a hot line
    * cannot skew — then salted partial counts per (line, doc-hash bucket)
    * summed per line: identical result (doc-hash buckets partition docs
    * disjointly), every stage bounded. Reassembly is a per-doc sort of
    * (pos, line) structs inside a single aggregation — state is bounded
    * by the doc's own size, the same contract as any collect-per-key
    * pipeline op. Duplicates WITHIN one doc are not counted toward df
    * and are kept (df is per-doc distinct).
    */
  def dropDuplicateLines(docs: DataFrame, idCol: String, textCol: String,
      minDf: Int, dfSalt: Int = 16): DataFrame = {
    require(minDf >= 2, s"minDf=$minDf must be >= 2 (1 would drop every line)")
    val lines = docs.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      .withColumn("lid", xxhash64(col("line")))
      .localCheckpoint()
    val hot = lines.select("lid", "id").distinct()
      .groupBy(col("lid"), pmod(xxhash64(col("id")), lit(dfSalt)).as("_s"))
      .agg(count(lit(1)).as("c"))
      .groupBy("lid").agg(sum("c").as("df"))
      .filter(col("df") >= minDf).select("lid")
    val rebuilt = lines.join(hot, Seq("lid"), "left_anti")
      .groupBy("id").agg(
        count(lit(1)).as("n_kept"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line"))).as("text_clean"))
    // per-doc line totals come from the already-cached lines relation
    // (posexplode emits >=1 row per doc, so every id is present) — reading
    // `docs` again here would re-run the whole upstream plan a second time
    lines.groupBy("id").agg(count(lit(1)).as("n_total"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Exact dedup: survivors = first doc per normalized-content fingerprint
    * (deterministic keep rule: min id).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // reserved working column — without this guard an input that already
    // carries `_fp` would be silently overwritten and then dropped
    require(!docs.columns.contains("_fp"),
      "column name _fp is reserved by Dedup.exact (rename the input column)")
    // survivor = min id per fingerprint, as an aggregate + semi-join rather
    // than a row_number window: the window routes EVERY copy of a hot text
    // (a viral page duplicated across a crawl) through one task, while the
    // min aggregate combines map-side partials and the (fp, id) semi-join
    // is an AQE-balanced equi-join — same result, no skew funnel
    val withFp = docs.withColumn("_fp", TextAnalysis.fingerprint(col(textCol)))
    val keep = withFp.groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
    withFp.join(keep, Seq("_fp", idCol), "left_semi")
      // physically duplicated input rows (same id, same text — a shard
      // ingested twice) all match the (fp, min-id) semi-join; collapse to
      // one survivor like the contract says. Keyed on fp with first()
      // partials — map-side combine absorbs even a massively re-ingested row
      .dropDuplicates("_fp")
      .drop("_fp")
  }
}
