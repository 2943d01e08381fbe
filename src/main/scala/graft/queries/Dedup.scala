package graft.queries

import graft.Tables._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication tier for a large-scale training-data pipeline: exact
  * (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup. All hash functions are md5-derived so the
  * DuckDB oracle computes the identical values; every similarity score
  * emitted is an exact int/int IEEE division.
  *
  * Scale design: everything here is shuffle-on-key dataflow — no
  * driver-side state, no collect. The LSH band join is the 100 TB path:
  * candidate generation is an equi-join on (band, band_key), so work is
  * proportional to true collisions, never all-pairs. The all-pairs
  * variants (Jaccard over shared shingles, cosine top-pairs) are
  * small-side/broadcast demos of the same semantics.
  */
object Dedup {

  /** Number of MinHash hash functions and LSH bands (2 rows/band). */
  val NumHashes = 8
  val NumBands = 4

  /** Skew guard for the inverted-index joins (d2/d7): a shingle present
    * in more than this many documents is dropped before any pair join.
    * Rationale: a shingle shared by hundreds of documents cannot
    * evidence near-DUPLICATION (it is boilerplate), yet it alone turns
    * the equi-join on `sh` quadratic on that key — the classic hot-key
    * skew at 100 TB. With the cap, per-shingle join fan-out is bounded
    * by MaxShingleDf². Testdata max df is 25 (sf0.1), so the cap is
    * semantically inert at test scale; the oracle SQL applies the same
    * filter.
    */
  val MaxShingleDf = 100

  /** Session-scoped cache of the shared subtrees (shingles, MinHash
    * signatures, SimHash values), keyed by (session, dir, name). These
    * frames feed several plan branches within a query AND repeat across
    * queries (d2/d3/d7 all start from shingles); round 1 persisted them
    * per-invocation, which re-cached a fresh copy every call and never
    * unpersisted ("already cached" warnings, cache growth across a
    * 47-query bench). One stored copy per session is the fix.
    */
  private def cached(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    SessionCache.cached(spark, dir, name)(build)

  /** Every session-cached frame this module warms, NAMED — see
    * SessionCache.warm for the admission rule (≥ 2 consuming
    * registered queries, pinned by WarmPolicySpec). r18: the
    * "jaccardTruthPairs" entry (d25's truth sliver) was removed — d25
    * was its only consuming query, so warming it moved d2's band join
    * out of every timed region; it is an in-query lazy localCheckpoint
    * inside dedupEval now.
    */
  private[queries] def warmFrames(
      spark: SparkSession, dir: String): Seq[(String, DataFrame)] =
    Seq(
      "shingles" -> cachedShingles(spark, dir),
      "sigs" -> cached(spark, dir, "sigs")(minhashSignatures(spark, dir)),
      "simhashValues" ->
        cached(spark, dir, "simhashValues")(simhashValues(spark, dir)),
      "clusterLabels" ->
        cached(spark, dir, "clusterLabels")(clusterLabels(spark, dir)),
      "winnowFps" -> cachedWinnowFps(spark, dir),
      "dedupMarkedGrams" -> cachedMarkedGrams(spark, dir))

  /** Shared d17/d19/d24 frame (r12, the t24/t25 memo discipline): one
    * occurrence row per duplicated k-gram — (doc_id, pos) of the
    * occurrence plus the elected survivor (lexicographically-lowest
    * (doc_id, pos), d19's rule) — computed ONCE per (session, dir).
    * d17 takes all occurrences (its ≥2-distinct-docs flag is exactly
    * membership here), d19/d24 filter the survivor out. Before r12
    * each of the three queries rebuilt the gram window + per-gram hash
    * agg independently (~1 s of the combined 2.8 s at sf0.1).
    */
  private[queries] def cachedMarkedGrams(
      spark: SparkSession, dir: String): DataFrame =
    SessionCache.cached(spark, dir, "dedupMarkedGrams") {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val grams = TextOps.cachedWords(spark, dir)
        .withColumn(
          "sh",
          concat(
            col("word"), lit(" "),
            lead(col("word"), 1).over(w), lit(" "),
            lead(col("word"), 2).over(w)))
        .filter(col("sh").isNotNull)
        .select(col("doc_id"), col("pos"), col("sh"))
      val dup = grams.groupBy(col("sh"))
        .agg(
          countDistinct(col("doc_id")).as("ddf"),
          min(struct(col("doc_id"), col("pos"))).as("surv"))
        .filter(col("ddf") >= 2)
        .select(
          col("sh"),
          col("surv.doc_id").as("sdoc"), col("surv.pos").as("spos"))
      grams.join(dup, Seq("sh"))
        .select(col("doc_id"), col("pos"), col("sdoc"), col("spos"))
        // cache layout (see TextOps.cachedWords note): d17/d19/d24 all
        // consume this via per-doc windows — partition by doc_id so
        // those windows skip their exchange and run map-parallel
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    }

  /** Exact dedup (hash-groupBy on normalized-text fingerprint): one
    * surviving doc_id per distinct content + multiplicity. The groupBy
    * key is the md5, not the text — 100 TB shuffles 32-byte keys, not
    * documents.
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    exactDedupFrame(spark, dir).orderBy(col("keep_id"))

  /** d1's pipeline without the output sort — the p16/p26 gates consume
    * THIS (they re-key on doc_id, so embedding the registered query's
    * rangepartitioning sort in their checkpoints was pure waste).
    */
  private[queries] def exactDedupFrame(
      spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(
        col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary"))
          .as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct 3-word shingles per document (the n-gram dedup unit).
    * lead() windows are per-doc partitions — parallel across docs;
    * concat is null-propagating, so tail positions drop out exactly as
    * the oracle's `||` does.
    */
  def shingles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    TextOps.cachedWords(spark, dir)
      .withColumn(
        "sh",
        concat(
          col("word"), lit(" "),
          lead(col("word"), 1).over(w), lit(" "),
          lead(col("word"), 2).over(w)))
      .filter(col("sh").isNotNull)
      .select(col("doc_id"), col("sh"))
      .distinct()
      .transform { raw =>
      // document-frequency cap (see MaxShingleDf): the df count is a
      // hash AGGREGATE (map-side partial combine — a count-window
      // partitioned by sh would funnel the hottest shingle's every
      // occurrence into one task, the very bottleneck the cap
      // prevents); the hot list is tiny by construction (≤ corpus
      // shingle-occurrences / cap), so the anti-join broadcasts
      val hot = raw.groupBy(col("sh"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > MaxShingleDf)
        .select(col("sh"))
      raw.join(broadcast(hot), Seq("sh"), "left_anti")
    }
  }

  private[queries] def cachedShingles(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "shingles")(
      // Cache layout: deliberately NOT repartitioned. An sh-keyed layout
      // (tried mid-r17) serves only the d2/d21 self-joins; the family's
      // doc-keyed consumers (d7's rescore sides, p6/p10's per-doc
      // aggregates, the sizes branches) each paid a full extra exchange
      // against it — measured net +1.6 s over d2/d3/d6/d7/d10/d11/d12/
      // d21/p6/p10 at sf0.1. The build's own output partitioning (df-cap
      // aggregation) already spreads the frame for parallel map stages.
      shingles(spark, dir))

  /** N-gram Jaccard near-dup: pairs sharing >= 1 shingle, scored
    * |A∩B| / |A∪B|, kept at >= 0.5. The pair join is an equi-join on the
    * shingle (inverted-index pattern) — candidate work scales with shared
    * shingles, not with the document count squared.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // The shingle set feeds three plan branches (sizes + both join
    // sides) and repeats across d2/d3/d7 — session-cached once.
    val s = cachedShingles(spark, dir)
    val sizes = s.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // Distinct column names per side: both frames descend from the same
    // cached plan, and `a("sh") === b("sh")` on shared lineage is the
    // "trivially true equals predicate" trap — it resolved correctly in
    // round 1 but only via dataset-id disambiguation.
    val a = s.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    // No join-strategy hint (r17: a SHUFFLE_HASH pin was tried and
    // reverted — measured d2 0.63 -> 1.00 s): the planner broadcasts
    // the df-capped side while its size estimate is under the
    // threshold and falls back to a shuffled join beyond it, which is
    // exactly the scale posture — pinning the shuffle locally only
    // bought two corpus-sized exchanges.
    val b = s.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val inter = a
      .join(b, col("a_sh") === col("b_sh") && col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sa")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("sb")), "b_id")
      .select(
        col("a_id"), col("b_id"), col("inter"),
        (col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** MinHash signatures, columnar: ONE groupBy pass computes all 8
    * minhashes as columns `mh0..mh7` (min over shingles of
    * md5(h || '|' || shingle) — lexicographic min over hex digests is a
    * valid uniform min-hash and engine-portable). Compared to the
    * explode-by-h formulation this removes an 8× row blowup and a
    * (doc, h) shuffle: one narrow row per document.
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    signaturesFrom(cachedShingles(spark, dir))

  private def signaturesFrom(sh: DataFrame): DataFrame = {
    val minCols = (0 until NumHashes).map { h =>
      min(md5(concat(lit(h.toString), lit("|"), col("sh")).cast("binary")))
        .as(s"mh$h")
    }
    sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
  }

  /** LSH band rows (doc_id, band, bkey) from a signature DataFrame. */
  private def bandsFrom(sigs: DataFrame): DataFrame = {
    val bandKeys = (0 until NumBands).map { b =>
      struct(
        lit(b.toLong).as("band"),
        md5(concat(col(s"mh${2 * b}"), lit("|"), col(s"mh${2 * b + 1}"))
          .cast("binary")).as("bkey"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** LSH band-bucket candidate pairs from a signature DataFrame. */
  private def candidatesFrom(sigs: DataFrame): DataFrame = {
    val bands = bandsFrom(sigs)
    bands.select(col("doc_id").as("a_id"), col("band"), col("bkey"))
      .join(bands.select(col("doc_id").as("b_id"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /** MinHash + LSH near-dup (the 100 TB dedup path): band the 8-hash
    * signature into 4 bands of 2, bucket-join on (band, band_key) to get
    * candidates, then estimate similarity as matching signature
    * positions / 8 — a pure column comparison on the two signature rows,
    * no third join. Candidate generation never compares non-colliding
    * documents.
    */
  /** (a_id, b_id, m) — every LSH band-collision candidate pair with
    * its signature match count: d3's estimate join BEFORE the
    * acceptance filter. Shared by d3 (which filters and accepts) and
    * d21 (which audits the unfiltered estimates against truth).
    */
  private[queries] def candMatches(spark: SparkSession, dir: String): DataFrame = {
    // sigs feeds the band explode + both sides of the estimate join —
    // session-cached (reuse-across-stages AND across d3/d7/d21).
    val sigs = cached(spark, dir, "sigs")(minhashSignatures(spark, dir))
    val cand = candidatesFrom(sigs)
    def renamed(prefix: String, idCol: String) =
      (0 until NumHashes).foldLeft(sigs.withColumnRenamed("doc_id", idCol)) {
        (df, h) => df.withColumnRenamed(s"mh$h", s"$prefix$h")
      }
    val matches = (0 until NumHashes)
      .map(h => when(col(s"a$h") === col(s"b$h"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand
      .join(renamed("a", "a_id"), "a_id")
      .join(renamed("b", "b_id"), "b_id")
      .withColumn("m", matches)
      .select(col("a_id"), col("b_id"), col("m"))
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    candMatches(spark, dir)
      .filter(col("m") >= NumHashes / 2)
      .select(
        col("a_id"), col("b_id"),
        (col("m").cast("double") / NumHashes).as("est_sim"))
      .orderBy(col("a_id"), col("b_id"))

  /** d23 PageRank geometry: damping 85/100, total PR mass scaled to
    * `PrScale` integer units, `PrRounds` fixed power iterations (the
    * t21 fixed-round shape: bounded plan depth, identically unrolled
    * in the oracle — PageRank at small fixed k is already the
    * centrality ORDER, which is all survivor selection reads).
    */
  val PrScale = 1000000000000L
  val PrRounds = 4

  /** d23 — PageRank centrality over the near-dup similarity graph,
    * the survivor-selection signal beyond d1/d9's keep-lowest-id: in
    * a template-spam cluster the most CENTRAL document (most heavily
    * linked by near-dup edges) is the canonical copy worth keeping,
    * and centrality also ranks hub documents whose content leaks into
    * many others (d10's coverage signal, vertex-scored). Classic
    * power iteration with damping, on d3's LSH-then-rescore edge set
    * (the same bounded graph d9/d18/d20/d21 ride).
    *
    * Exactness: ALL integer math — PR mass is `PrScale` units split
    * `div` N, per-edge contribution is `pr div deg`, damping is
    * `(15·base) div 100 + (85·inflow) div 100`; both engines do the
    * identical truncations in the identical order, so 4 rounds of
    * float-free PageRank hash-compare exactly (the w11/p18 integer
    * discipline applied to an iterative graph algorithm).
    *
    * Scale shape: work ∝ near-dup EDGES (the corpus sliver the LSH
    * banding bounds), never documents²; each round is one equi-join +
    * one hash agg over that sliver; the session-cached edge frame
    * keeps the LSH pipeline out of the per-round plans. Rounds are a
    * fixed unrolled plan — no driver data, no convergence loop
    * (fixed-k power iteration is the production spelling: centrality
    * ORDER stabilizes long before PR values converge).
    */
  def pagerankCentrality(spark: SparkSession, dir: String): DataFrame = {
    val edges = cached(spark, dir, "prEdges") {
      val pairs = minhashLsh(spark, dir).select(col("a_id"), col("b_id"))
      pairs.unionByName(
        pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
        .select(col("a_id").as("u"), col("b_id").as("v"))
        // cache layout (see TextOps.cachedWords note): the union's
        // concatenated partitions (2× parallelism of tiny slices)
        // carried no useful clustering; partition by the contribution
        // join's key so the degree agg and every round's edges⋈pr join
        // read the stored clustering
        .repartition(spark.sparkContext.defaultParallelism, col("u"))
    }
    pagerankOn(edges)
  }

  /** The fixed-round integer power iteration over a directed
    * (u, v) edge frame — exposed so the spec can drive it with
    * planted graphs (star, pair) independent of the LSH pipeline.
    */
  private[queries] def pagerankOn(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val nRow = deg.agg(count(lit(1)).as("n_nodes"))
    // localCheckpoint per round — the d9 iterative-lineage discipline:
    // round k's frame appears TWICE in round k+1 (the contribution join
    // and the carry-through), so an unbroken lineage doubles per round
    // (measured: 84 exchanges in the k=4 plan; 7 with truncation)
    // eager = false (r17 opt): the five eager checkpoints serialized
    // five driver-blocking jobs per invocation — measured 1.2 s of the
    // query's 1.6 s at sf0.1 spent in DataFrame CONSTRUCTION before
    // the first timed job. Lazy local checkpoints keep the same
    // lineage-truncation (each round's RDD persists at first
    // materialization and both round-k+1 consumers share it) while
    // letting one final action drive the whole chain.
    var pr = deg.select(col("u").as("doc_id"), col("deg"))
      .crossJoin(broadcast(nRow))
      .withColumn("pr", expr(s"$PrScale div n_nodes"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to PrRounds) {
      val contrib = edges
        .join(
          pr.select(col("doc_id").as("u"), expr("pr div deg").as("c")),
          "u")
        .groupBy(col("v")).agg(sum(col("c")).as("inflow"))
      pr = pr.drop("pr")
        .join(
          contrib.select(col("v").as("doc_id"), col("inflow")),
          Seq("doc_id"))
        .withColumn(
          "pr",
          expr(s"(15 * ($PrScale div n_nodes)) div 100" +
            " + (85 * inflow) div 100"))
        .drop("inflow")
        .localCheckpoint(eager = false)
    }
    pr.select(col("doc_id"), col("deg"), col("pr").as("pr_n"))
      .orderBy(col("pr_n").desc, col("doc_id"))
  }

  /** Boundary of the d14 "new batch": documents with id below this are
    * the incoming slice; everything at-or-above is the already-indexed
    * corpus. Fixed so the batch stays bounded while the index grows
    * with SF — exactly the production asymmetry.
    */
  val IncrementalBatchMaxId = 100L

  /** d14 — incremental near-dup: the dedup shape a production pipeline
    * actually runs every day. d3 pairs the corpus against ITSELF; a
    * live pipeline dedups a bounded NEW slice (a crawl drop, a day's
    * ingest) against an ever-growing index, and must never re-pair the
    * index with itself. Each new doc gets its best index match
    * (max signature agreement, tie → lowest index id) if any band
    * collides at ≥ NumHashes/2 matching positions.
    *
    * 100 TB posture — the asymmetry IS the operator: the new batch's
    * band rows are control-plane sized (batch × NumBands) and ride a
    * BROADCAST against the streamed index bands, so the index side
    * never shuffles for candidate generation; only colliding index
    * signatures move for the rescore. Work ∝ batch collisions,
    * independent of index size. d3 stays the backfill/bootstrap pass.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val sigs = cached(spark, dir, "sigs")(minhashSignatures(spark, dir))
    val bands = bandsFrom(sigs)
    val cand = broadcast(
      bands.filter(col("doc_id") < IncrementalBatchMaxId)
        .select(col("doc_id").as("new_id"), col("band"), col("bkey")))
      .join(
        bands.filter(col("doc_id") >= IncrementalBatchMaxId)
          .select(col("doc_id").as("idx_id"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .select(col("new_id"), col("idx_id"))
      .distinct()
    def renamed(prefix: String, idCol: String) =
      (0 until NumHashes).foldLeft(sigs.withColumnRenamed("doc_id", idCol)) {
        (df, h) => df.withColumnRenamed(s"mh$h", s"$prefix$h")
      }
    val matches = (0 until NumHashes)
      .map(h => when(col(s"a$h") === col(s"b$h"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand
      .join(renamed("a", "new_id"), "new_id")
      .join(renamed("b", "idx_id"), "idx_id")
      .withColumn("m", matches)
      .filter(col("m") >= NumHashes / 2)
      .withColumn("est_sim", col("m").cast("double") / NumHashes)
      .groupBy(col("new_id"))
      .agg(max_by(
        struct(col("idx_id"), col("est_sim")),
        struct(col("est_sim"), (-col("idx_id")).as("neg_id"))).as("best"))
      .select(
        col("new_id"), col("best.idx_id").as("dup_of"),
        col("best.est_sim").as("est_sim"))
      .orderBy(col("new_id"))
  }

  /** SimHash document signature: 60-bit token hashes from md5 hex
    * (portable across engines), per-bit +1/-1 vote over the document's
    * tokens, sign of the vote = signature bit. Emitted as a 60-char
    * bitstring (bit 0 first). Near-dup = small Hamming distance; banding
    * the bitstring gives the same LSH bucket-join scale path as MinHash.
    */
  /** Per-bit ±1 vote sums for all 60 bits as COLUMNS of one hash
    * aggregate — one row per (doc, word) in, one row per doc out. The
    * round-1 formulation exploded each word row 60× (bit dimension as
    * rows) and aggregated twice; same math, 60× the shuffle. The
    * oracle SQL keeps the row form — results are identical.
    */
  private def bitVotes(spark: SparkSession, dir: String): DataFrame = {
    val voteCols = (0 until 60).map { b =>
      sum(when(expr(s"(th >> $b) & 1") === 1, 1L).otherwise(-1L)).as(s"v$b")
    }
    TextOps.cachedWords(spark, dir)
      .withColumn(
        "th",
        conv(substring(md5(col("word").cast("binary")), 1, 15), 16, 10)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    // r18 opt: checkpointed output sort (operators.SortFirst scaladoc)
    graft.operators.SortFirst.checkpointedSort(
      bitVotes(spark, dir)
        .select(
          col("doc_id"),
          concat((0 until 60).map(b =>
            when(col(s"v$b") >= 0, lit("1")).otherwise(lit("0"))): _*)
            .as("simhash")),
      col("doc_id"))

  /** Corpus-size bound for the all-pairs d5 baseline, overridable via
    * `spark.conf.set("graft.dedup.maxAllPairsVectors", n)`. The
    * BroadcastNestedLoop below is O(n²) BY DESIGN (it is the
    * exact-recall baseline d8's bucketed join is measured against), but
    * nothing about a DataFrame call site says "don't point this at a
    * corpus" — so the builder refuses above the bound instead of
    * silently planning a quadratic job. 10 000 vectors ≈ 5·10⁷ pairs is
    * the most a "baseline on a sample" defensibly means.
    */
  val MaxAllPairsVectorsKey = "graft.dedup.maxAllPairsVectors"
  val MaxAllPairsVectorsDefault = 10000L

  /** Embedding-cosine near-dup: top-50 most similar vector pairs.
    * Brute-force all-pairs via a broadcast non-equi join — correct at
    * benchmark scale; the 100 TB path is ivfNearDup (d8, bucketed
    * candidates), and the corpus-size guard above makes this one
    * impossible to run on a corpus by accident. Scores rounded to 6 dp
    * for cross-engine stability.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val bound = spark.conf.getOption(MaxAllPairsVectorsKey)
      .map(_.toLong).getOrElse(MaxAllPairsVectorsDefault)
    // parquet-metadata count, memoized per (session, dir) — the guard
    // gates plan CONSTRUCTION, so repeated calls (bench reps) shouldn't
    // each pay a count job for an answer that cannot change in-session
    val n = SessionCache.memo(spark, dir, "corpusVecCount")(
      embeddings(spark, dir).count())
    require(n <= bound,
      s"embeddingNearDup is the O(n²) all-pairs BASELINE: corpus has $n " +
        s"vectors > bound $bound. Use ivfNearDup (d8, bucketed candidates) " +
        s"at corpus scale, or raise $MaxAllPairsVectorsKey deliberately.")
    // the session-cached widened vectors + norms (s-queries, d8)
    val e = Similarity.vectors(spark, dir)
    // The embeddings table is one small parquet file → a 1-split scan,
    // so the broadcast nested loop's ENTIRE O(n²) stream side ran in a
    // single task (guide §2.5 input-skew: one unsplittable input).
    // Hash-repartition the streamed side by vec_id (deterministic — a
    // round-robin repartition re-draws assignments under task retry,
    // SPARK-38388) to spread the pair loop across the cluster; the
    // shuffle moves only the ≤`maxAllPairsVectors` guarded rows. The
    // partition count is EXPLICIT (defaultParallelism, scale-adaptive —
    // never a constant): a bare repartition(col) is a coalescible
    // shuffle origin, and AQE's bytes-based coalescing folded the ~1 MB
    // of vectors back into ONE partition, blind to the O(n²) per-row
    // compute downstream — measured: the whole pair loop on 1 task.
    val a = e.repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id").as("a_id"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("a_id") < col("b_id"))
      .select(
        col("a_id"), col("b_id"),
        round(vecDot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("a_id"), col("b_id"))
      .limit(50)
  }

  /** SimHash signature as a 60-bit integer (same votes as `simhash`,
    * packed) — the joinable form.
    */
  def simhashValues(spark: SparkSession, dir: String): DataFrame =
    bitVotes(spark, dir)
      .select(
        col("doc_id"),
        (0 until 60)
          .map(b => when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sv"))

  /** SimHash near-dup pairs (LSH over the signature): band the 60-bit
    * value into 4×15-bit keys, bucket-join candidates, keep pairs at
    * Hamming distance <= 8 (bit_count of xor — exact in both engines).
    * Same scale shape as MinHash LSH: candidate work ∝ band collisions.
    */
  def simhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val sv = cached(spark, dir, "simhashValues")(simhashValues(spark, dir))
    val bands = sv.withColumn("k", explode(sequence(lit(0), lit(3))))
      .withColumn("bandval", expr("(sv >> (15 * k)) & 32767"))
    bands
      .select(col("doc_id").as("a_id"), col("sv").as("sa"), col("k"), col("bandval"))
      .join(
        bands.select(col("doc_id").as("b_id"), col("sv").as("sb"), col("k"), col("bandval")),
        Seq("k", "bandval"))
      .filter(col("a_id") < col("b_id"))
      // Hamming residual BEFORE the dedup shuffle (guide §2.3, shuffle
      // fewer bytes): bit_count is a cheap codegen'd op, so evaluating
      // it per band collision and dropping far pairs pre-Exchange beats
      // shuffling every collision to dedup first; hamming is a pure
      // function of (a_id, b_id) — sa/sv is determined by the id — so
      // distinct over (a_id, b_id, hamming) keeps the identical pair set
      .withColumn("hamming", expr("cast(bit_count(sa ^ sb) as bigint)"))
      .filter(col("hamming") <= 8)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The production dedup pattern at 100 TB: LSH candidates → EXACT
    * Jaccard rescoring on just those pairs. Candidate generation is the
    * cheap bucket join; the expensive exact set intersection runs only
    * on the (tiny) candidate list — broadcast the pairs, intersect via
    * the inverted index restricted to them. Compare d2 (exact over all
    * colliding pairs) and d3 (estimate only).
    */
  def lshRescore(spark: SparkSession, dir: String): DataFrame = {
    val s = cachedShingles(spark, dir)
    val cand = candidatesFrom(cached(spark, dir, "sigs")(signaturesFrom(s)))
    val sizes = s.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // aliased per side for the same self-join-lineage reason as d2
    val inter = broadcast(cand)
      .join(s.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(
        s.select(col("doc_id").as("bb_id"), col("sh").as("b_sh")),
        col("bb_id") === col("b_id") && col("b_sh") === col("a_sh"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sa")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("sb")), "b_id")
      .select(
        col("a_id"), col("b_id"), col("inter"),
        (col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter")).cast("double"))
          .as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Embedding near-dup, the 100 TB shape: candidates come from an
    * equi-join on the IVF bucket (same seed-centroid assignment the
    * oracle recomputes), so pair work scales with bucket sizes, never
    * all-pairs — this is the production counterpart to d5's exact
    * all-pairs demo. Top-50 same-bucket pairs by cosine.
    */
  def ivfNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val assign = Similarity.cachedIvfAssign(spark, dir)
      .select(col("vec_id"), col("centroid_id"))
    val ec = Similarity.vectors(spark, dir).join(assign, "vec_id")
    val a = ec.select(
      col("centroid_id"), col("vec_id").as("a_id"),
      col("v").as("va"), col("nrm").as("na"))
    val b = ec.select(
      col("centroid_id"), col("vec_id").as("b_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("centroid_id"))
      .filter(col("a_id") < col("b_id"))
      .select(
        col("a_id"), col("b_id"),
        round(vecDot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("a_id"), col("b_id"))
      .limit(50)
  }

  /** Cosine threshold above which two same-bucket embeddings count as
    * semantic duplicates for d15. 0.4 sits inside the live range of
    * this corpus's same-bucket cosines at every SF (top pairs span
    * 0.37–0.60), so both branches of the keep/remove verdict are
    * exercised by real data.
    */
  val SemDedupTau = 0.4

  /** d15 — semantic dedup (SemDeDup, Abbas et al. 2023): embedding-
    * space dedup that exact/shingle methods cannot see (paraphrases,
    * translations, re-renders). Cluster the corpus (the session-cached
    * IVF assignment — the paper's k-means step), compare only WITHIN
    * clusters, and drop every vector that has a smaller-id neighbor
    * above cosine τ in its bucket; the verdict is a kept flag per
    * vector. The keep-lowest-id rule is d1/d9's survivor discipline —
    * deterministic and engine-independent (the paper keeps the example
    * farthest from the centroid; any fixed rule works, lowest-id is
    * reproducible everywhere).
    *
    * 100 TB posture: the pair comparison is d8's bucket equi-join —
    * work ∝ Σ bucket², never corpus²; the verdict join is a keys-only
    * left join against the DISTINCT removed set. At real scale the
    * bucket count grows with the corpus (s5's trained k-means replaces
    * the 8 seed buckets), keeping buckets bounded.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val assign = Similarity.cachedIvfAssign(spark, dir)
      .select(col("vec_id"), col("centroid_id"))
    val ec = Similarity.vectors(spark, dir).join(assign, "vec_id")
    val a = ec.select(
      col("centroid_id"), col("vec_id").as("a_id"),
      col("v").as("va"), col("nrm").as("na"))
    val b = ec.select(
      col("centroid_id"), col("vec_id").as("b_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val removed = a.join(b, Seq("centroid_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(
        round(vecDot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          >= SemDedupTau)
      .select(col("b_id").as("vec_id"))
      .distinct()
      .withColumn("hit", lit(1L))
    ec.select(col("vec_id"), col("centroid_id"))
      .join(removed, Seq("vec_id"), "left")
      .select(
        col("vec_id"), col("centroid_id"),
        col("hit").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Survivor selection — the step after near-dup detection in a real
    * dedup pipeline: near-duplication is transitive in effect (A~B,
    * B~C → keep one of {A,B,C}), so pairs must become CLUSTERS before
    * anything is dropped. Connected components over the d3 LSH pairs
    * via min-label propagation: every doc starts labeled with itself;
    * each round takes the min of its own and its neighbors' labels
    * (one Spark job per round, see [[propagateLabels]]); the unique
    * fixpoint labels each component with its smallest doc_id = the
    * kept doc (d1's keep-min rule, applied transitively). Rounds
    * needed = component diameter — near-dup clusters are tiny, and
    * each round is fully partition-parallel, so this is the 100 TB
    * shape (it is GraphX's own connected-components algorithm, on
    * RDDs like GraphX's). A corpus with no near-dup pair has no edge
    * vertex: every doc is its own cluster.
    * Deterministic fixpoint → oracle-checkable against a DuckDB
    * recursive CTE.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // The fixpoint is deterministic, so the vertex labels are session-
    // cacheable like shingles/sigs — d9 and the p1 composition share
    // one propagation run per (session, dir).
    val labelsFinal = cached(spark, dir, "clusterLabels") {
      clusterLabels(spark, dir)
    }
    documents(spark, dir).select(col("doc_id"))
      .join(labelsFinal, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_survivor", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** The min-label propagation itself → (doc_id, label) for edge
    * vertices only (see dedupClusters).
    */
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    propagateLabels(
      minhashLsh(spark, dir).select(col("a_id").as("u"), col("b_id").as("v")))._1

  /** Min-label propagation over an undirected (u, v) edge list (either
    * orientation; duplicates and self-loops are harmless) → (labels,
    * rounds): one (doc_id, label) row per edge vertex with label =
    * component minimum, plus the rounds taken (component diameter + 1,
    * the last round confirming the fixpoint).
    *
    * Only vertices that appear in an edge can ever change label, so
    * the state is the edge vertex set alone (∝ near-dup docs, a sliver
    * of the corpus); every other doc is its own cluster and joins back
    * in dedupClusters. The edge list is built by Catalyst, then held as
    * a persisted, hash-partitioned RDD keyed by its target vertex. Each
    * round is ONE Spark job: a co-partitioned (narrow) join of the
    * labels against the edges sends every label to its neighbours, a
    * `reduceByKey(min)` keeps the smallest, and a fold sums the new
    * labels. Labels only ever decrease, so the sum strictly decreases
    * until the (unique) fixpoint; an unchanged sum ends the loop, and
    * an edge-free graph converges on an empty state (sum 0). The join
    * buffers one vertex's neighbours per key, so the largest vertex
    * degree must fit in executor memory.
    *
    * Round state is localCheckpointed (see [[untilStable]]): lineage
    * stays one round deep, but a lost executor fails the fit instead of
    * recomputing it — a long-running cluster job would use a reliable
    * `checkpoint()` for fault tolerance instead.
    */
  private[queries] def propagateLabels(pairs: DataFrame): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val input = longPairs(pairs)
    val part =
      new org.apache.spark.HashPartitioner(math.max(1, input.getNumPartitions))
    // (v, u): u hears v's label; both orientations, keyed for the join
    val edges = input
      .flatMap { case (u, v) => Iterator((v, u), (u, v)) }
      .partitionBy(part)
      .persist()
    try {
      val labels0 = edges.keys.distinct().map(v => (v, v))
      val (labels, rounds) =
        untilStable(labels0, java.lang.Long.MIN_VALUE, "label propagation") {
          l => edges.join(l).values.union(l).reduceByKey(part, math.min(_, _))
        } {
          _.values.fold(0L)(Math.addExact(_: Long, _: Long))
        }
      (labels.toDF("doc_id", "label"), rounds)
    } finally edges.unpersist(blocking = false)
  }

  /** (u, v) as non-null longs, built by Catalyst. */
  private def longPairs(e: DataFrame): RDD[(Long, Long)] =
    e.select(col("u").cast("long"), col("v").cast("long")).na.drop()
      .rdd.map(r => (r.getLong(0), r.getLong(1)))

  /** The exact-state fit loop shared by [[propagateLabels]] and
    * [[starContract]]: apply `round` until `fingerprint` repeats,
    * starting from `state0` whose fingerprint is `fp0`. Each round is
    * ONE Spark job — the fingerprint fold materializes the
    * localCheckpointed next state — with no DataFrame plan to analyse,
    * optimize and compile. The superseded state is unpersisted once
    * the next state's fingerprint is known, so only the returned
    * (final) state's blocks survive; on failure nothing does.
    *
    * localCheckpoint (not persist) TRUNCATES lineage each round, or
    * every round's lineage chains all previous rounds (GraphX's own
    * checkpointing discipline). Its fault-tolerance cost: the blocks
    * live only on the executors, so a lost executor fails the fit
    * instead of recomputing it.
    */
  private def untilStable[F](state0: RDD[(Long, Long)], fp0: F, what: String)(
      round: RDD[(Long, Long)] => RDD[(Long, Long)])(
      fingerprint: RDD[(Long, Long)] => F): (RDD[(Long, Long)], Int) = {
    val maxRounds = 50
    var state = state0
    var next: RDD[(Long, Long)] = null
    var fp = fp0
    var rounds = 0
    var converged = false
    try {
      while (!converged && rounds < maxRounds) {
        next = round(state).localCheckpoint()
        val nfp = fingerprint(next)
        state.unpersist(blocking = false)
        converged = nfp == fp
        fp = nfp
        state = next
        next = null
        rounds += 1
      }
    } finally if (!converged) {
      state.unpersist(blocking = false)
      if (next != null) next.unpersist(blocking = false)
    }
    // a component deeper than the cap means labels are NOT the
    // fixpoint — fail loudly rather than ship wrong clusters (the
    // oracle computes the true closure and would divergently "catch"
    // it only where an oracle exists)
    require(converged, s"$what did not converge within $maxRounds rounds")
    (state, rounds)
  }

  /** d10 — cross-document duplicated-n-gram coverage, the substring-level
    * duplication signal of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better") at shingle granularity: for each
    * document, the fraction of its distinct 3-gram shingles that occur
    * in ≥ 2 documents. Docs with high coverage are near-verbatim copies
    * of corpus content even when no single pair passes a pairwise
    * threshold — the signal pairwise d2/d3 can't see.
    *
    * Scale shape: two hash aggregates over the session-cached (df-capped)
    * shingles + one equi-join on the shingle — no pair join at all, so
    * unlike d2 this stays linear in corpus shingle count. The df-cap
    * drops boilerplate shingles before the join (they'd count as
    * duplicated anyway, but their join fan-out is the 100 TB hot-key
    * risk); a doc whose every shingle is capped drops out, which at cap
    * 100 means it was wall-to-wall boilerplate.
    */
  def dupNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val s = cachedShingles(spark, dir)
    val dfreq = s.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    s.join(dfreq, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_shingles"))
      .select(
        col("doc_id"),
        col("n_shingles"),
        col("dup_shingles"),
        (col("dup_shingles").cast("double") / col("n_shingles").cast("double"))
          .as("dup_frac"))
      // r18 opt: checkpointed output sort (operators.SortFirst scaladoc)
      .transform(graft.operators.SortFirst.checkpointedSort(_, col("doc_id")))
  }

  /** d17 — maximal duplicated-span extraction: the positional sibling
    * of d10's coverage fraction and the exact form of what winnowing
    * (d11/d12) only sketches. Exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better") removes
    * verbatim repeated spans, which needs to know WHERE the duplicated
    * text sits, not just how much of it there is. Every 3-word k-gram
    * whose text occurs in ≥2 DISTINCT docs (cross-doc rule, as d13)
    * marks positions [pos, pos+2] duplicated; overlapping or touching
    * marks merge into maximal spans via gaps-and-islands (a new island
    * when the next duplicated k-gram starts more than k words after the
    * previous one). Per doc: span count, longest span, words covered,
    * covered fraction.
    *
    * Scale shape: the duplicated-k-gram flag is a two-phase
    * distinct-doc hash aggregate + a LEFT SEMI equi-join back onto the
    * positional grams (1:1 per gram row — no fan-out, so no df cap
    * needed, unlike d2's pair join); the island merge is lag + running
    * sum under per-doc partitioned windows — parallel across docs, no
    * global order anywhere before the output sort. Linear in corpus
    * word count.
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    // r18 opt: checkpointed output sort (operators.SortFirst scaladoc)
    graft.operators.SortFirst.checkpointedSort(
      dupSpansFrame(spark, dir), col("doc_id"))

  /** d17's pipeline without the output sort — what the marked-grams
    * cache audit pins.
    */
  private[queries] def dupSpansFrame(
      spark: SparkSession, dir: String): DataFrame = {
    val k = KGramWords
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // membership in the shared marked-grams frame IS the duplicated
    // flag (≥2 distinct docs); d17 keeps every occurrence, survivor
    // included
    val spans = cachedMarkedGrams(spark, dir)
      .select(col("doc_id"), col("pos"))
      // lag is null on each doc's first duplicated gram → `when` is
      // false → break (same null semantics as the oracle's CASE)
      .withColumn(
        "brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0L).otherwise(1L))
      .withColumn(
        "island",
        sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min(col("pos")).as("s"),
        (max(col("pos")) + lit(k - 1)).as("e"))
      .withColumn("len", (col("e") - col("s") + 1).cast("long"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        max(col("len")).as("max_span_words"),
        sum(col("len")).as("dup_words"))
    TextOps.cachedWords(spark, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_words"), lit(0L)).as("max_span_words"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        (coalesce(col("dup_words"), lit(0L)).cast("double")
          / col("n_tokens").cast("double")).as("dup_frac"))
  }

  /** d19 — duplicated-span REMOVAL with survivor exemption: the
    * rewrite step of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better" — ExactSubstr's "remove all but one
    * occurrence"), applying what d17 only measures. Every duplicated
    * k-gram (in ≥2 distinct docs — d17's rule) elects ONE surviving
    * occurrence, the lexicographically-lowest (doc_id, pos); every
    * OTHER occurrence marks its k word positions for removal; docs are
    * reconstructed from the kept words (d16's ordered reassembly). So
    * the corpus keeps exactly one canonical copy of each duplicated
    * phrase — the property d16's strip-everywhere policy (correct for
    * boilerplate) deliberately doesn't have. A kept-survivor position
    * can still fall to a DIFFERENT overlapping non-survivor gram (the
    * same within-doc repetition Lee 2022 tolerates); the policy is
    * deterministic either way, which is what the oracle needs.
    *
    * Scale shape: d17's gram frame (per-doc windows over the cached
    * words), one map-side-combinable (ddf, min-struct) hash agg per
    * gram, one equi-join back, a bounded ×k explode, one distinct and
    * one left-anti-shaped flag join on (doc_id, pos) — linear in
    * corpus words, no pair join anywhere; the per-doc collect_list is
    * bounded by ONE document (the d13/d16 rule).
    */
  def dupSpanRemoval(spark: SparkSession, dir: String): DataFrame = {
    val k = KGramWords
    val words = TextOps.cachedWords(spark, dir)
    // the shared frame already carries each duplicated occurrence with
    // its elected survivor; everything but the survivor marks its k
    // positions
    val marked = cachedMarkedGrams(spark, dir)
      .filter(!(col("doc_id") === col("sdoc") && col("pos") === col("spos")))
      .select(
        col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    words
      .join(
        marked.withColumn("rm", lit(1L)), Seq("doc_id", "pos"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("rm").isNotNull, 1L).otherwise(0L)).as("removed_words"),
        // collect_list skips the nulls `when` leaves on removed
        // positions; the struct sort restores document order
        array_join(
          transform(
            array_sort(collect_list(
              when(col("rm").isNull, struct(col("pos"), col("word"))))),
            x => x.getField("word")),
          " ").as("clean_text"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("removed_words"),
        (col("n_tokens") - col("removed_words")).as("kept_words"),
        (col("removed_words").cast("double") / col("n_tokens").cast("double"))
          .as("removed_frac"),
        col("clean_text"))
      // r18 opt: checkpointed output sort (operators.SortFirst scaladoc)
      .transform(graft.operators.SortFirst.checkpointedSort(_, col("doc_id")))
  }

  /** d24's minimum duplicated-span length, in words. Lee et al. 2022
    * (ExactSubstr) remove duplicated substrings of ≥ 50 TOKENS; on the
    * short synthetic documents 8 words exercises the same rule with a
    * real cut (spans both above and below it exist at every SF).
    */
  val MinSpanWords = 8

  /** d24 — minimum-length ExactSubstr removal (Lee et al. 2022's real
    * semantics): remove all-but-one occurrence of duplicated text, but
    * ONLY where the duplicated run is at least [[MinSpanWords]] words
    * long — short incidental overlaps (a shared 3-word phrase) are
    * legitimate text, not duplication. This is the length-thresholded
    * composition of d19 (survivor exemption) and d17 (maximal spans):
    *
    *   1. d19's rule picks the surviving occurrence of each duplicated
    *      k-gram (lexicographically-lowest (doc_id, pos)); every other
    *      occurrence is a candidate mark.
    *   2. d17's gaps-and-islands merges each doc's candidate marks into
    *      maximal spans (a new island when the next marked gram starts
    *      more than k words after the previous one); a span's extent is
    *      [min_start, max_start + k − 1].
    *   3. NEW: only spans of ≥ L words are removed. Consecutive islands
    *      are disjoint by construction (the next start is > k past the
    *      previous island's max start, so extents cannot touch), so the
    *      marked positions need no dedup.
    *
    * Scale shape: identical to d19 — per-gram hash agg + equi-join
    * back, per-doc windows for the island merge, a span-bounded
    * explode, one flag join on (doc_id, pos); linear in corpus words,
    * no pair join. The length filter only REMOVES spans, so d24's work
    * is a subset of d19's.
    */
  def minLenSpanRemoval(spark: SparkSession, dir: String): DataFrame =
    minLenFromMarks(
      TextOps.cachedWords(spark, dir),
      cachedMarkedGrams(spark, dir)
        .filter(!(col("doc_id") === col("sdoc") && col("pos") === col("spos")))
        .select(col("doc_id"), col("pos")),
      MinSpanWords)

  /** Core d24 pass over any (doc_id, pos, word) frame — split out (the
    * winnowing-spec pattern) so the spec can plant documents whose
    * duplicated runs sit exactly at L and L−1 words and pin the cut.
    * Recomputes the marked grams from `words` (no session cache — the
    * spec's planted frames must not pollute or read the shared one).
    */
  private[queries] def minLenSpanRemovalFrom(
      words: DataFrame, minLen: Int): DataFrame = {
    val k = KGramWords
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = words
      .withColumn(
        "sh",
        concat(
          col("word"), lit(" "),
          lead(col("word"), 1).over(w), lit(" "),
          lead(col("word"), 2).over(w)))
      .filter(col("sh").isNotNull)
      .select(col("doc_id"), col("pos"), col("sh"))
    val dup = grams.groupBy(col("sh"))
      .agg(
        countDistinct(col("doc_id")).as("ddf"),
        min(struct(col("doc_id"), col("pos"))).as("surv"))
      .filter(col("ddf") >= 2)
      .select(
        col("sh"),
        col("surv.doc_id").as("sdoc"), col("surv.pos").as("spos"))
    val nonSurv = grams.join(dup, Seq("sh"))
      .filter(!(col("doc_id") === col("sdoc") && col("pos") === col("spos")))
      .select(col("doc_id"), col("pos"))
    minLenFromMarks(words, nonSurv, minLen)
  }

  /** The island-merge + length-cut + rewrite tail of d24, over an
    * explicit non-survivor marks frame (shared-cache path and the
    * spec's recompute path both land here).
    */
  private def minLenFromMarks(
      words: DataFrame, nonSurv: DataFrame, minLen: Int): DataFrame = {
    val k = KGramWords
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = nonSurv
      .withColumn(
        "brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0L).otherwise(1L))
      .withColumn(
        "island",
        sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min(col("pos")).as("s"),
        (max(col("pos")) + lit(k - 1)).as("e"))
      .withColumn("len", (col("e") - col("s") + 1).cast("long"))
      .filter(col("len") >= minLen)
    val perDocSpans = spans.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        max(col("len")).as("max_span_words"))
    val marked = spans
      .select(
        col("doc_id"),
        explode(sequence(col("s"), col("e"))).as("pos"),
        lit(1L).as("rm"))
    words
      .join(marked, Seq("doc_id", "pos"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("rm").isNotNull, 1L).otherwise(0L)).as("removed_words"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("rm").isNull, struct(col("pos"), col("word"))))),
            x => x.getField("word")),
          " ").as("clean_text"))
      .join(perDocSpans, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_words"), lit(0L)).as("max_span_words"),
        col("removed_words"),
        (col("n_tokens") - col("removed_words")).as("kept_words"),
        (col("removed_words").cast("double") / col("n_tokens").cast("double"))
          .as("removed_frac"),
        col("clean_text"))
      // r18 opt: checkpointed output sort (operators.SortFirst scaladoc)
      .transform(graft.operators.SortFirst.checkpointedSort(_, col("doc_id")))
  }

  /** Winnowing parameters (Schleimer, Wilkerson & Aiken 2003, §4 —
    * the MOSS fingerprinting algorithm): guarantee window of
    * `WinnowWindow` consecutive k-gram hashes, one fingerprint selected
    * per window (the minimum; ties to the earliest position via the
    * packed key). `FpPosBase` packs (40-bit hash, 20-bit position) into
    * one BIGINT so the window MIN is a single orderable value in both
    * engines.
    */
  val WinnowWindow = 4
  val WinnowShareMin = 8L
  /** Words per winnowing k-gram (the shingle width). */
  val KGramWords = 3
  /** 2^20: positions per packed key. Positions ≥ this would overflow
    * into the hash bits and silently break the shared-substring
    * guarantee (same k-gram, different fp), so both engines filter
    * `pos < FpPosBase` — a >1M-word document truncates its fingerprint
    * sketch at the bound (widen the base / narrow the hash to lift it).
    */
  val FpPosBase = 1048576L

  /** Positional winnowed fingerprints per document: every 3-word
    * k-gram hashed to 40 bits (md5-derived — engine-portable, the p4
    * shard-id pattern), packed with its position, and the minimum taken
    * over each sliding window of 4 consecutive k-grams. The distinct
    * selected (hash, pos) pairs are the document's fingerprint sketch —
    * ~2/(w+1) the k-gram count, with the winnowing guarantee that any
    * shared substring of ≥ w+k-1 = 6 words yields a shared fingerprint
    * (the property d10's distinct-shingle coverage lacks: winnowing is
    * position-aware, so it localizes WHERE the copy is).
    *
    * Scale shape: per-doc partitioned windows only (lead + trailing
    * min — parallel across docs, no global order), then a distinct.
    * Session-cached: d11 and d12 both read it.
    */
  private[queries] def winnowedFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowedFingerprintsFrom(TextOps.cachedWords(spark, dir))

  /** Core winnowing pass over any (doc_id, pos, word) frame — split out
    * so the property spec can drive it with constructed documents.
    */
  private[queries] def winnowedFingerprintsFrom(words: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val trail = w.rowsBetween(-(WinnowWindow - 1), 0)
    words
      .withColumn(
        "sh",
        concat(
          col("word"), lit(" "),
          lead(col("word"), 1).over(w), lit(" "),
          lead(col("word"), 2).over(w)))
      .filter(col("sh").isNotNull && col("pos") < FpPosBase)
      .withColumn(
        "key",
        conv(substring(md5(col("sh").cast("binary")), 1, 10), 16, 10)
          .cast("long") * FpPosBase + col("pos"))
      .withColumn("mkey", min(col("key")).over(trail))
      .filter(col("pos") >= WinnowWindow - 1)
      .select(
        col("doc_id"),
        expr(s"mkey div $FpPosBase").as("fp"),
        (col("mkey") % FpPosBase).as("fp_pos"))
      .distinct()
  }

  private def cachedWinnowFps(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "winnowFps")(
      // Cache layout: fp (r17, measured three ways at sf0.1 across the
      // WHOLE consumer set d11+d12+d25). fp clusters d12's self-join
      // sides AND its replay inside d25's eval (fp: 0.40+0.74+1.56 s;
      // bare build layout: 0.13+0.93+~2.0; doc_id: 0.18+1.04+~2.4) —
      // d11's per-doc summary pays one extra exchange (+0.27 s), the
      // smaller term against d12+d25's combined swing.
      winnowedFingerprints(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism, col("fp")))

  /** Windows in an n-token doc = n − (k-gram tail) − (window ramp-up):
    * derived from the constants so tuning either cannot silently
    * desynchronize the d11 window count from the fingerprint pass.
    */
  private val WindowDeficit = (KGramWords - 1) + (WinnowWindow - 1)

  /** d11 — per-document winnowing fingerprint summary: window count,
    * selected-fingerprint count, density. Winnowing's expected density
    * is 2/(w+1) = 0.4 on random text; near-1 density means every window
    * picked a distinct min (high-entropy doc), collapsed density means
    * repeated content. Join with the quality frame covers docs too
    * short to produce any window.
    */
  def winnowFingerprintSummary(spark: SparkSession, dir: String): DataFrame = {
    val counts = cachedWinnowFps(spark, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("fps"))
    TextOps.cachedQualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"))
      .withColumn("n_windows",
        greatest(col("n_tokens") - WindowDeficit, lit(0L)))
      .join(counts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_windows"),
        coalesce(col("fps"), lit(0L)).as("n_fps"),
        when(col("n_windows") > 0,
          coalesce(col("fps"), lit(0L)).cast("double")
            / col("n_windows").cast("double"))
          .otherwise(lit(0.0)).as("density"))
      .orderBy(col("doc_id"))
  }

  /** d12 — winnowed-fingerprint overlap pairs, the MOSS match step:
    * documents sharing ≥ `WinnowShareMin` distinct selected hashes.
    * Same inverted-index equi-join scale shape as d2 (join on the
    * fingerprint, never all-pairs) with the same document-frequency cap
    * discipline — a boilerplate fingerprint shared by thousands of docs
    * is dropped (broadcast anti-join) before it can fan out the join;
    * at cap 100 the planted near-dup pairs all survive (observed max
    * natural df here is 7 — positional context keeps fps rare).
    */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val f = cachedWinnowFps(spark, dir).select(col("doc_id"), col("fp")).distinct()
    val hot = f.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf).select(col("fp"))
    val capped = f.join(broadcast(hot), Seq("fp"), "left_anti")
    val a = capped.select(col("doc_id").as("a_id"), col("fp").as("a_fp"))
    val b = capped.select(col("doc_id").as("b_id"), col("fp").as("b_fp"))
    a.join(b, col("a_fp") === col("b_fp") && col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowShareMin)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** d13 — paragraph-level exact dedup, the Dolma/RefinedWeb removal
    * unit: hash each paragraph, count how many DISTINCT documents carry
    * that exact paragraph, and report per-document duplicated-paragraph
    * fraction. Sits between d1 (whole-doc exact) and d10 (shingle
    * coverage): d1 misses docs that share only sections, d10's 3-gram
    * granularity can't say "delete THIS paragraph" — paragraph hashes
    * are the unit production pipelines actually remove at.
    *
    * Paragraph = the 10-word group of t1's splitter (the corpus has no
    * newlines; same fixed-width convention, so t1's spans describe
    * exactly what d13 would delete).
    *
    * Scale shape: one (doc_id, para_index) hash agg to build paragraph
    * hashes (32-byte md5, not text — d1's shuffle discipline), one
    * map-side-combinable df agg by hash, one equi-join on the hash —
    * linear in paragraphs, no pair join. Within-doc repeats do NOT
    * count as duplication (distinct-doc df), matching the cross-doc
    * removal rule.
    */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val paras = TextOps.cachedWords(spark, dir)
      .groupBy(
        col("doc_id"),
        floor(col("pos") / TextOps.SentenceWords).as("para_index"))
      .agg(
        md5(
          array_join(
            transform(
              array_sort(collect_list(struct(col("pos"), col("word")))),
              x => x.getField("word")),
            " ").cast("binary")).as("ph"))
    // r17 opt (d22's shape, guide §2.4): the old self-join against a
    // ph-grain ddf aggregate computed the collect_list paragraph agg
    // TWICE. One pass: reduce to (ph, doc_id) grain, read the distinct-
    // doc count as a COUNT window over that grain, fold back per doc.
    // Values identical: all k paragraph rows of a (ph, doc) pair carry
    // the same ddf.
    val byPh = Window.partitionBy(col("ph"))
    paras
      .groupBy(col("ph"), col("doc_id"))
      .agg(count(lit(1)).as("k"))
      .withColumn("ddf", count(lit(1)).over(byPh))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("k")).as("n_paragraphs"),
        sum(when(col("ddf") >= 2, col("k")).otherwise(0L))
          .as("dup_paragraphs"))
      .select(
        col("doc_id"),
        col("n_paragraphs"),
        col("dup_paragraphs"),
        (col("dup_paragraphs").cast("double") /
          col("n_paragraphs").cast("double")).as("dup_frac"))
      // r18 opt: checkpointed output sort (operators.SortFirst scaladoc)
      .transform(graft.operators.SortFirst.checkpointedSort(_, col("doc_id")))
  }

  /** d16 — line-level boilerplate REMOVAL (CCNet's line dedup /
    * RefinedWeb's line-wise filter): where d13 *measures* cross-doc
    * paragraph duplication, d16 performs the edit production pipelines
    * actually apply — drop every paragraph (t1's 10-word unit, the
    * corpus's "line") that appears verbatim in ≥ 2 distinct documents,
    * and RECONSTRUCT each document from its kept paragraphs in order.
    * Within-doc repeats survive (ddf counts distinct docs — the
    * cross-doc rule d13 established); a doc whose every paragraph is
    * boilerplate survives as an empty string, visible to downstream
    * length filters (t12) rather than silently vanishing.
    *
    * Scale shape: identical to d13 — one (doc_id, para_index) hash agg,
    * one map-side-combinable distinct-doc df agg on the 32-byte md5 (the
    * join never shuffles paragraph text by itself as a key), one hash
    * equi-join, then one per-doc agg whose collect_list is bounded by a
    * single document's size. Linear in paragraphs, no pair join.
    */
  def boilerplateStrip(spark: SparkSession, dir: String): DataFrame = {
    val paras = TextOps.cachedWords(spark, dir)
      .groupBy(
        col("doc_id"),
        floor(col("pos") / TextOps.SentenceWords).as("para_index"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("word")))),
            x => x.getField("word")),
          " ").as("ptext"))
      .withColumn("ph", md5(col("ptext").cast("binary")))
    // r17 opt (d13's shape): ddf attached by two stacked windows over
    // ONE paras computation — mark each (ph, doc) pair's first row,
    // count the marks per ph — instead of a self-join against a
    // ph-grain countDistinct aggregate that computed the collect_list
    // paragraph agg twice. Values identical. (r18 correction, ADVICE:
    // the two windows need TWO exchanges — hash(ph, doc_id) then
    // hash(ph); a hash on (ph, doc_id) does NOT satisfy clustering on
    // ph alone. The rewrite's real win is the single collect_list
    // computation, see d16_boilerplate_strip_after.txt Exchange 19.)
    val firstOfDoc = row_number().over(
      Window.partitionBy(col("ph"), col("doc_id")).orderBy(col("para_index")))
    paras
      .withColumn("rn", firstOfDoc)
      .withColumn(
        "ddf",
        sum(when(col("rn") === 1, 1L).otherwise(0L))
          .over(Window.partitionBy(col("ph"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paragraphs"),
        sum(when(col("ddf") >= 2, 1L).otherwise(0L)).as("removed_paragraphs"),
        // collect_list skips the nulls the `when` leaves for removed
        // paragraphs; struct sort restores document order
        array_join(
          transform(
            array_sort(collect_list(
              when(col("ddf") < 2, struct(col("para_index"), col("ptext"))))),
            x => x.getField("ptext")),
          " ").as("clean_text"))
      .select(
        col("doc_id"),
        col("n_paragraphs"),
        col("removed_paragraphs"),
        col("clean_text"),
        length(col("clean_text")).cast("long").as("clean_chars"))
      // r18 opt: checkpointed output sort (operators.SortFirst scaladoc)
      .transform(graft.operators.SortFirst.checkpointedSort(_, col("doc_id")))
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.
    * 2014, "Connected Components in MapReduce and Beyond") over an
    * undirected edge list given as (u, v) rows (either orientation,
    * self-loops ignored). Returns (labels, rounds): one (doc_id,
    * label) row per edge vertex with label = component minimum —
    * the same fixpoint as d9's min-label propagation — plus the
    * number of large+small round pairs taken.
    *
    * Why a second algorithm for the same answer: propagation needs
    * one round per unit of component DIAMETER, so a 10⁶-doc duplicate
    * chain (100 TB corpora grow them — serial crawls of the same
    * evolving page) needs 10⁶ barriers. Star contraction halves
    * star-height per round pair, converging in O(log² n) rounds on
    * ANY topology; the edge set only ever shrinks toward one edge per
    * non-root vertex.
    *
    * Edge set is kept canonical: (u, v) with u > v, as a distinct
    * `RDD[(Long, Long)]` built from the Catalyst edge frame.
    * large-star (a `groupByKey` over both orientations) hangs every
    * larger neighbor off the neighborhood minimum; small-star (a
    * `groupByKey` over the hi→lo rows, then `distinct`) re-points each
    * vertex's smaller neighbors (and itself) at that minimum. Fixpoint
    * = a star per component rooted at its minimum. Each round pair is
    * ONE Spark job (see [[untilStable]]); convergence compares a
    * (count, XOR of xxhash64(u, v)) fold of the edge set — bounded
    * control data, no driver-side edge list. Both `groupByKey`s hold
    * one vertex's whole neighborhood in memory, so the largest vertex
    * degree (a template-spam hub) must fit in executor memory.
    *
    * Round state is localCheckpointed: lineage stays one round deep,
    * but a lost executor fails the fit instead of recomputing it.
    */
  def starContract(edgesIn: DataFrame): (DataFrame, Int) = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val canon0 = longPairs(edgesIn)
      .flatMap { case (u, v) =>
        if (u == v) Iterator.empty else Iterator((math.max(u, v), math.min(u, v)))
      }
      .distinct()
      .localCheckpoint()
    val fp0 = edgeFingerprint(canon0)
    val (canon, rounds) =
      if (fp0._1 == 0L) (canon0, 0)
      else untilStable(canon0, fp0, "star contraction")(
        c => smallStar(largeStar(c)))(edgeFingerprint)
    val labels = canon.flatMap { case (u, v) => Iterator((u, v), (v, v)) }
      .distinct()
    (labels.toDF("doc_id", "label"), rounds)
  }

  private def largeStar(canon: RDD[(Long, Long)]): RDD[(Long, Long)] =
    canon.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
      .groupByKey()
      .flatMap { case (u, ns) =>
        val m = math.min(ns.min, u)
        // v > u ≥ m, so (v, m) is already hi→lo canonical; duplicates
        // are left to small-star's distinct
        ns.iterator.filter(_ > u).map(v => (v, m))
      }

  private def smallStar(canon: RDD[(Long, Long)]): RDD[(Long, Long)] =
    // canon is hi→lo: u's smaller neighborhood is exactly its rows
    canon.groupByKey()
      .flatMap { case (u, vs) =>
        val m = vs.min
        Iterator((u, m)) ++ vs.iterator.filter(_ != m).map(v => (v, m))
      }
      .distinct()

  /** (count, XOR fold of xxhash64(u, v)) — order-independent and
    * overflow-free like p15's digest; the hash is Spark's `xxhash64`.
    */
  private def edgeFingerprint(e: RDD[(Long, Long)]): (Long, Long) = {
    def h(u: Long, v: Long) = XXH64.hashLong(v, XXH64.hashLong(u, 42L))
    e.aggregate((0L, 0L))(
      { case ((n, x), (u, v)) => (n + 1, x ^ h(u, v)) },
      { case ((n1, x1), (n2, x2)) => (n1 + n2, x1 ^ x2) })
  }

  /** d18 — d9's cluster assignment recomputed by star contraction
    * (same LSH edge set, same survivor rule, same oracle closure):
    * the variant to reach for when near-dup components are DEEP, not
    * just wide. Output is schema- and value-identical to d9 —
    * `CcStarSpec` additionally pins the two algorithms equal row-for-
    * row on the live graph, so either can serve the p1 composition.
    */
  def ccStar(spark: SparkSession, dir: String): DataFrame = {
    val labelsFinal = cached(spark, dir, "ccStarLabels") {
      val pairs = minhashLsh(spark, dir)
        .select(col("a_id").as("u"), col("b_id").as("v"))
      starContract(pairs)._1
    }
    documents(spark, dir).select(col("doc_id"))
      .join(labelsFinal, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_survivor", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** d20 — cluster-size audit, the dedup REPORT every corpus release
    * publishes next to the assignment itself (Lee 2022 / Dolma report
    * duplicate-cluster histograms; the shape of this table decides
    * survivor policy — a heavy tail of giant clusters means template
    * spam, near-uniform small clusters mean true near-dups): per
    * cluster size, how many clusters, how many documents they hold,
    * how many are redundant (size − 1 per cluster — exactly what a
    * keep-one-survivor pass would delete), and the share of the corpus
    * sitting at that size.
    *
    * Scale shape: rides d9's session-cached cluster labels (one
    * propagation per session, shared with d9/p1), then two hash aggs
    * that only ever shrink — clusters (≤ docs) then sizes (≤ log-ish
    * distinct sizes) — and a 1-row total broadcast for shares. Nothing
    * here re-touches text or signatures.
    */
  def clusterSizeAudit(spark: SparkSession, dir: String): DataFrame = {
    val b = dedupClusters(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(
        col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_redundant"))
    // denominator over the post-agg histogram (≤ log-many rows), not a
    // broadcast branch that re-walks the upstream aggs (the w16 lesson)
    b.withColumn(
        "total_docs",
        sum(col("n_docs")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(
        col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("n_redundant"),
        (col("n_docs").cast("double") / col("total_docs").cast("double"))
          .as("share_docs"))
      .orderBy(col("cluster_size"))
  }

  /** d21 — MinHash sketch calibration: for every LSH candidate pair,
    * compare the 8-hash similarity ESTIMATE (d3's m/8) against the
    * TRUE shingle Jaccard (d2's inter/union), reported as mean
    * absolute error per true-similarity decile. This is the
    * parameter-validation report behind the whole LSH tier: E[|est −
    * J|] ≈ √(J(1−J)/k) decides whether k = 8 hashes suffices at the
    * 0.5 acceptance threshold, and a skewed decile row says the band
    * scheme, not sampling noise, is biasing candidates. Run on a
    * sample in production; the plan is identical.
    *
    * Exactness discipline: est = m/8 (exact binary fraction), true J =
    * exact int division, decile = `inter·10 div union` (INTEGER — a
    * float `floor(j·10)` misbuckets at decile edges where 0.7 is
    * 0.6999…), |err| floored to nano-units before the sum (t10/t16
    * pattern) so the mean is an IEEE division of exact integers.
    *
    * Scale shape: estimates ∝ band collisions (candMatches), truth ∝
    * shared df-capped shingles (d2's inverted index) — both linear in
    * their index sizes, never doc²; the decile fold is one hash agg to
    * ≤ 11 rows. Every candidate pair shares ≥ 1 shingle (a band
    * collision implies a shared min-shingle), so the truth join loses
    * nothing — spec'd.
    */
  def sketchCalibration(spark: SparkSession, dir: String): DataFrame = {
    // r18: a candidate-doc semi-join pre-filter of the truth self-join
    // (guide §3.2 — both sides cut to docs appearing in candMatches;
    // values exactly unchanged) was tried in TWO forms and REVERTED on
    // measurement at sf0.1: (a) live candMatches as the filter build —
    // the broadcast re-evaluated the whole banding pipeline, 0.91 →
    // 3.4 s; (b) candMatches lazily checkpointed once for both
    // consumers — the checkpoint serialized the banding pipeline ahead
    // of the (then tiny) self-join, 0.91 → 1.07 s. The full-corpus
    // self-join (d2's shape, sharing its session caches) remains the
    // measured winner; both A/Bs are in OPTIMIZATION_r18.md.
    val s = cachedShingles(spark, dir)
    val sizes = s.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val a = s.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    // same unhinted planner-chosen join shape as ngramJaccard (d2)
    val b = s.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val inter = a
      .join(b, col("a_sh") === col("b_sh") && col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    candMatches(spark, dir)
      .join(inter, Seq("a_id", "b_id"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sa")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("sb")), "b_id")
      .withColumn("un", col("sa") + col("sb") - col("inter"))
      .withColumn("est", col("m").cast("double") / NumHashes)
      .withColumn("tj", col("inter").cast("double") / col("un").cast("double"))
      .withColumn(
        "err_nano", floor(abs(col("est") - col("tj")) * 1e9).cast("long"))
      .withColumn("j_decile", expr("(inter * 10) div un"))
      .groupBy(col("j_decile"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("err_nano")).as("sum_abs_err_nano"))
      .select(
        col("j_decile"), col("n_pairs"), col("sum_abs_err_nano"),
        (col("sum_abs_err_nano").cast("double") /
          (lit(1e9) * col("n_pairs").cast("double"))).as("mean_abs_err"))
      .orderBy(col("j_decile"))
  }

  /** Expected CDC chunk length in words: a word starts a new chunk
    * when its md5 falls in 1/DivisorCdc of the hash space.
    */
  val CdcDivisor = 8L

  /** d22 — content-defined chunking (the restic/borgbackup/LBFS cut
    * discipline, word-granular): a chunk boundary falls where the
    * WORD's hash — a pure function of content — lands in 1/8 of the
    * hash space, so boundaries re-synchronize after any insertion or
    * deletion. That is the property the registry's other chunk/dup
    * units deliberately lack and the spec proves by construction:
    * prepend three words to a document and m5's fixed-stride chunks
    * ALL shift (0% dedup), while CDC boundaries realign at the first
    * shared boundary word and every chunk after it dedups. d13
    * (paragraph) needs structural newlines; CDC needs nothing but
    * bytes. Emits, per document: chunk count and how much of it is
    * shared verbatim with ANOTHER document (chunk-hash df > 1 — d13's
    * counting on content-defined units).
    *
    * Scale shape: boundary flag + chunk id = one per-doc window pass
    * over the cached words (running sum of flags — the w3/d16
    * discipline); chunk hashing = one hash agg per (doc, chunk) with
    * A7's ordered array_sort fold (collect bounded by ONE chunk,
    * expected 8 words); sharing = d13's df count keyed by the 32-byte
    * chunk hash. Linear end to end, no pair joins.
    */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val boundary = when(
      pmod(
        conv(substring(md5(col("word").cast("binary")), 1, 15), 16, 10)
          .cast("long"),
        lit(CdcDivisor)) === 0L, 1L).otherwise(0L)
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val chunks = TextOps.cachedWords(spark, dir)
      .withColumn("chunk_id", sum(boundary).over(byDoc))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("word")))),
            x => x.getField("word")),
          " ").cast("binary")).as("chash"),
        count(lit(1)).as("n_words"))
    // r17 opt (guide §2.4): the old shape self-joined `chunks` against
    // its own chash-grain ddf aggregate — the window+collect_list chunk
    // subtree was planned (and computed) TWICE, plus a join exchange.
    // One pass instead: reduce to (chash, doc_id) grain, read each
    // chash's distinct-doc count as a COUNT window over that grain
    // (each row IS one distinct doc), and fold back per doc. Values
    // identical: k chunk rows per (chash, doc) carry the same ddf.
    val byHash = Window.partitionBy(col("chash"))
    chunks
      .groupBy(col("chash"), col("doc_id"))
      .agg(count(lit(1)).as("k"), sum(col("n_words")).as("w"))
      .withColumn("ddf", count(lit(1)).over(byHash))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("k")).as("n_chunks"),
        sum(col("w")).as("n_words"),
        sum(when(col("ddf") > 1, col("k")).otherwise(0L)).as("n_shared_chunks"))
      .select(
        col("doc_id"), col("n_chunks"), col("n_words"),
        col("n_shared_chunks"),
        (col("n_shared_chunks").cast("double") /
          col("n_chunks").cast("double")).as("shared_frac"))
      // r18 opt: checkpointed output sort (operators.SortFirst scaladoc)
      .transform(graft.operators.SortFirst.checkpointedSort(_, col("doc_id")))
  }

  /** The d25 evaluation set: every APPROXIMATE pair-finding method
    * with a certified oracle and (a_id, b_id) pair columns, scored
    * against d2's exact-Jaccard ground truth.
    */
  private val DedupEvalMethods =
    Seq("d3_minhash_lsh", "d6_simhash_neardup", "d12_winnow_pairs")

  /** d25 — the dedup-quality eval REPORT as a first-class query (the
    * s18 discipline applied to the dedup family): pair-recall AND
    * pair-precision of each approximate near-dup method — d3 MinHash
    * LSH, d6 SimHash banding, d12 winnowing — against d2's exact
    * Jaccard ≥ 0.5 ground truth (the df-capped definition all four
    * share), in exact ppm integers. This closes "does the LSH
    * actually catch the near-dups" with a measured number instead of
    * a spec bound: d3 estimates the same Jaccard the truth computes
    * (recall gap = minhash variance at the 0.5 cut), while d6/d12
    * target DIFFERENT similarity notions (Hamming on term-frequency
    * hyperplanes; shared winnowed fingerprints), so their rows
    * quantify how each proxy tracks Jaccard — the number a pipeline
    * owner reads before picking the cheap pass.
    *
    * Scale shape: every input frame is the registered query riding
    * the session caches; the truth pair set is the banding-bounded
    * near-dup sliver (broadcast-sized by construction — pairs at
    * Jaccard ≥ 0.5 after df capping, not corpus²); per method ONE
    * broadcast left join whose single aggregate counts predictions
    * and hits together (one evaluation of the method's pipeline per
    * row); output is 3 bounded rows.
    */
  def dedupEval(spark: SparkSession, dir: String): DataFrame = {
    // r18 opt (the s18 discipline): the d2 truth pairs and each
    // method pipeline are materialized once per eval execution as
    // concurrent components (Components). The truth sliver was
    // session-cached in r17 ("jaccardTruthPairs") — d25 is its ONLY
    // consuming query, so the cache moved d2's band join into Bench's
    // untimed warmup; reverted to an in-query checkpoint (the
    // warmFrames ≥2-consuming-queries rule, WarmPolicySpec). Still
    // computed once per execution, consumed four times (three hit
    // joins + the total).
    val pairLists: Seq[(String, () => DataFrame)] = Seq(
      "d2_truth" -> (() => ngramJaccard(spark, dir)),
      "d3_minhash_lsh" -> (() => minhashLsh(spark, dir)),
      "d6_simhash_neardup" -> (() => simhashNearDup(spark, dir)),
      "d12_winnow_pairs" -> (() => winnowPairs(spark, dir)))
    val parts = Components.materialize(spark)(pairLists.map { case (n, build) =>
      n -> (() => build().select(col("a_id"), col("b_id")))
    }: _*)
    val truth = parts("d2_truth")
    DedupEvalMethods.map { n =>
      // ONE evaluation of the method's pipeline per report row: a
      // broadcast left join marks hits in the same pass that counts
      // predictions (the two-branch form re-ran d6's whole banding
      // chain for each of its two aggregates — measured 3.5 s → 2 s
      // at sf0.1 from this alone)
      parts(n)
        .join(
          broadcast(truth.withColumn("__t", lit(1))),
          Seq("a_id", "b_id"), "left")
        .agg(
          count(lit(1)).as("n_pred"),
          count(col("__t")).as("n_hits"))
        .select(lit(n).as("method"), col("n_pred"), col("n_hits"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(
        col("method"), col("n_truth"), col("n_pred"), col("n_hits"),
        expr("n_hits * 1000000 div n_truth").as("recall_ppm"),
        expr("case when n_pred = 0 then cast(0 as bigint) " +
          "else n_hits * 1000000 div n_pred end").as("precision_ppm"))
      .orderBy(col("method"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d25_dedup_eval" -> dedupEval,
    "d22_cdc_chunks" -> cdcChunks,
    "d23_pagerank_central" -> pagerankCentrality,
    "d21_sketch_calibration" -> sketchCalibration,
    "d20_cluster_sizes" -> clusterSizeAudit,
    "d18_cc_star" -> ccStar,
    "d13_paragraph_dedup" -> paragraphDedup,
    "d16_boilerplate_strip" -> boilerplateStrip,
    "d17_dup_spans" -> dupSpans,
    "d19_dup_span_removal" -> dupSpanRemoval,
    "d24_minlen_span_removal" -> minLenSpanRemoval,
    "d11_winnow_fingerprints" -> winnowFingerprintSummary,
    "d12_winnow_pairs" -> winnowPairs,
    "d10_dup_ngram_coverage" -> dupNgramCoverage,
    "d9_dedup_clusters" -> dedupClusters,
    "d6_simhash_neardup" -> simhashNearDup,
    "d7_lsh_rescore" -> lshRescore,
    "d1_exact_dedup" -> exactDedup,
    "d2_ngram_jaccard" -> ngramJaccard,
    "d3_minhash_lsh" -> minhashLsh,
    "d14_incremental_dedup" -> incrementalDedup,
    "d4_simhash" -> simhash,
    "d5_embedding_neardup" -> embeddingNearDup,
    "d15_semantic_dedup" -> semanticDedup,
    "d8_ivf_neardup" -> ivfNearDup)

  private[queries] val wordsCte =
    """words AS (
         SELECT doc_id,
                generate_subscripts(string_split_regex(lower(text), '\s+'), 1) - 1 AS pos,
                unnest(string_split_regex(lower(text), '\s+')) AS word
         FROM documents)"""

  private[queries] val shinglesCte =
    s"""$wordsCte,
        sh0 AS (
          SELECT doc_id,
                 word || ' ' || lead(word) OVER w || ' ' || lead(word, 2) OVER w AS sh
          FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        shingles1 AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE sh IS NOT NULL),
        shingles AS (
          SELECT doc_id, sh FROM (
            SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df
            FROM shingles1)
          WHERE df <= $MaxShingleDf)"""

  private val sigsCte =
    s"""$shinglesCte,
        sigs AS (
          SELECT doc_id, h,
                 MIN(md5(CAST(h AS VARCHAR) || '|' || sh)) AS mh
          FROM shingles
          CROSS JOIN (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS h)
          GROUP BY doc_id, h)"""

  private val winnowCte =
    s"""$wordsCte,
        wsh AS (
          SELECT doc_id, pos,
                 word || ' ' || lead(word) OVER w || ' ' || lead(word, 2) OVER w AS sh
          FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        grams AS (
          SELECT doc_id, pos,
                 CAST(concat('0x', substr(md5(sh), 1, 10)) AS BIGINT)
                   * $FpPosBase + pos AS key
          FROM wsh WHERE sh IS NOT NULL AND pos < $FpPosBase),
        mins AS (
          SELECT doc_id, pos,
                 MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN ${WinnowWindow - 1} PRECEDING AND CURRENT ROW) AS mkey
          FROM grams),
        fps AS (
          SELECT DISTINCT doc_id, mkey // $FpPosBase AS fp, mkey % $FpPosBase AS fp_pos
          FROM mins WHERE pos >= ${WinnowWindow - 1})"""

  /** True component labels via DuckDB's recursive-CTE transitive
    * closure over the LSH-then-rescore edge set — the shared oracle
    * for both cluster algorithms (d9 propagation, d18 star).
    */
  /** CTEs ending at `sim` — LSH band collisions (`cand`) with their
    * per-pair signature match counts (`m`); shared by the closure
    * oracle below and d21's calibration oracle.
    */
  private val candSimCtes =
    s"""$sigsCte,
        bands AS (
          SELECT doc_id, h // 2 AS band,
                 md5(string_agg(mh, '|' ORDER BY h)) AS bkey
          FROM sigs GROUP BY doc_id, h // 2),
        cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        sim AS (
          SELECT c.a_id, c.b_id,
                 SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS m
          FROM cand c
          JOIN sigs x ON x.doc_id = c.a_id
          JOIN sigs y ON y.doc_id = c.b_id AND y.h = x.h
          GROUP BY 1, 2)"""

  /** CTE prefix ending at `reach` — the transitive closure over the
    * LSH-then-rescore edge set; shared by d9/d18's cluster oracle and
    * d20's size-audit oracle.
    */
  private val closureCtes =
    s"""RECURSIVE $candSimCtes,
        pairs AS (SELECT a_id, b_id FROM sim WHERE m >= ${NumHashes / 2}),
        edges AS (SELECT a_id AS u, b_id AS v FROM pairs
                  UNION SELECT b_id, a_id FROM pairs),
        reach AS (
          SELECT doc_id AS src, doc_id AS dst FROM documents
          UNION
          SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.dst)"""

  private val closureClustersSql =
    s"""WITH $closureCtes
        SELECT src AS doc_id, MIN(dst) AS cluster_id,
               MIN(dst) = src AS is_survivor
        FROM reach GROUP BY src ORDER BY doc_id"""

  /** One unrolled PageRank round: `cur` from `prev` (deg carried). */
  private def prRoundCte(prev: String, cur: String): String = {
    val base = s"(SELECT $PrScale // n_nodes FROM nn)"
    s"""$cur AS (
          SELECT d.doc_id, d.deg,
                 (15 * $base) // 100 + (85 * i.inflow) // 100 AS pr
          FROM (SELECT e.v AS doc_id, SUM(p.pr // p.deg) AS inflow
                FROM edges e JOIN p$prev p ON p.doc_id = e.u
                GROUP BY e.v) i
          JOIN p$prev d ON d.doc_id = i.doc_id)"""
  }

  /** The d25 oracle composed from the methods' own certified strings
    * (the s18 discipline): each method replayed as a subquery, hit =
    * equi-join against the replayed d2 truth — an eval row is exactly
    * as trustworthy as the method's own gate.
    */
  private def dedupEvalOracle(o: Map[String, String]): String = {
    val vs = DedupEvalMethods.map { m =>
      s"""SELECT '$m' AS method,
             (SELECT COUNT(*) FROM (${o(m)}) p) AS n_pred,
             (SELECT COUNT(*) FROM (${o(m)}) p
              JOIN truth ON p.a_id = truth.a_id AND p.b_id = truth.b_id)
               AS n_hits"""
    }.mkString("(", ") UNION ALL (", ")")
    s"""WITH truth AS (
          SELECT a_id, b_id FROM (${o("d2_ngram_jaccard")}) t)
        SELECT method,
               (SELECT COUNT(*) FROM truth) AS n_truth,
               CAST(n_pred AS BIGINT) AS n_pred,
               CAST(n_hits AS BIGINT) AS n_hits,
               n_hits * 1000000 // (SELECT COUNT(*) FROM truth)
                 AS recall_ppm,
               CASE WHEN n_pred = 0 THEN CAST(0 AS BIGINT)
                    ELSE n_hits * 1000000 // n_pred END AS precision_ppm
        FROM ($vs) ORDER BY method"""
  }

  val oracleSql: Map[String, String] = baseOracleSql +
    ("d25_dedup_eval" -> dedupEvalOracle(baseOracleSql))

  private lazy val baseOracleSql: Map[String, String] = Map(
    // d23: the shared cand/sim CTEs + the same fixed-round integer
    // power iteration, unrolled (the t21 discipline) — identical
    // truncation order, exact hash
    "d23_pagerank_central" ->
      s"""WITH $candSimCtes,
          pairs AS (SELECT a_id, b_id FROM sim WHERE m >= ${NumHashes / 2}),
          edges AS (SELECT a_id AS u, b_id AS v FROM pairs
                    UNION SELECT b_id, a_id FROM pairs),
          deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
          nn AS (SELECT COUNT(*) AS n_nodes FROM deg),
          p0 AS (SELECT u AS doc_id, deg,
                        (SELECT $PrScale // n_nodes FROM nn) AS pr
                 FROM deg),
          ${(1 to PrRounds).map(k => prRoundCte((k - 1).toString, s"p$k"))
            .mkString(",\n          ")}
          SELECT doc_id, deg, CAST(pr AS BIGINT) AS pr_n FROM p$PrRounds
          ORDER BY pr_n DESC, doc_id""",
    "d13_paragraph_dedup" ->
      s"""WITH $wordsCte,
          paras AS (
            SELECT doc_id, pos // ${TextOps.SentenceWords} AS para_index,
                   md5(string_agg(word, ' ' ORDER BY pos)) AS ph
            FROM words GROUP BY doc_id, pos // ${TextOps.SentenceWords}),
          pdf AS (SELECT ph, COUNT(DISTINCT doc_id) AS ddf FROM paras GROUP BY ph)
          SELECT p.doc_id,
                 COUNT(*) AS n_paragraphs,
                 CAST(SUM(CASE WHEN ddf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS dup_paragraphs,
                 CAST(SUM(CASE WHEN ddf >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS dup_frac
          FROM paras p JOIN pdf USING (ph)
          GROUP BY p.doc_id ORDER BY p.doc_id""",
    // d19: d17's gram CTEs + the survivor election as a row_number
    // over (doc_id, pos) within each duplicated gram — an independent
    // spelling of the Spark side's min-struct; ×k expansion via
    // generate_series (inclusive, = sequence(pos, pos+k-1));
    // string_agg ignores the NULLs the CASE leaves on removed
    // positions exactly as collect_list does, COALESCE covers the
    // fully-removed-doc edge where string_agg yields NULL and
    // array_join yields ''
    "d24_minlen_span_removal" ->
      s"""WITH $wordsCte,
          g0 AS (
            SELECT doc_id, pos,
                   word || ' ' || lead(word) OVER w || ' ' || lead(word, 2) OVER w AS sh
            FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
          g AS (SELECT doc_id, pos, sh FROM g0 WHERE sh IS NOT NULL),
          dupsh AS (SELECT sh FROM g GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
          occ AS (
            SELECT g.doc_id, g.pos,
                   row_number() OVER (PARTITION BY g.sh
                     ORDER BY g.doc_id, g.pos) AS rn
            FROM g JOIN dupsh USING (sh)),
          ns AS (SELECT doc_id, pos FROM occ WHERE rn > 1),
          brk AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                          <= $KGramWords THEN 0 ELSE 1 END AS brk
            FROM ns),
          isl AS (
            SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS island
            FROM brk),
          spans AS (
            SELECT doc_id, island, MIN(pos) AS s,
                   MAX(pos) + ${KGramWords - 1} AS e
            FROM isl GROUP BY doc_id, island
            HAVING MAX(pos) + ${KGramWords - 1} - MIN(pos) + 1 >= $MinSpanWords),
          sagg AS (
            SELECT doc_id, COUNT(*) AS n_spans,
                   CAST(MAX(e - s + 1) AS BIGINT) AS max_span_words
            FROM spans GROUP BY doc_id),
          marked AS (
            SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM spans),
          wagg AS (
            SELECT w.doc_id,
                   COUNT(*) AS n_tokens,
                   CAST(SUM(CASE WHEN m.pos IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS removed_words,
                   COALESCE(string_agg(CASE WHEN m.pos IS NULL THEN w.word END,
                     ' ' ORDER BY w.pos), '') AS clean_text
            FROM words w LEFT JOIN marked m
              ON m.doc_id = w.doc_id AND m.pos = w.pos
            GROUP BY w.doc_id)
          SELECT a.doc_id, a.n_tokens,
                 COALESCE(s.n_spans, 0) AS n_spans,
                 COALESCE(s.max_span_words, 0) AS max_span_words,
                 a.removed_words,
                 CAST(a.n_tokens - a.removed_words AS BIGINT) AS kept_words,
                 CAST(a.removed_words AS DOUBLE) / CAST(a.n_tokens AS DOUBLE)
                   AS removed_frac,
                 a.clean_text
          FROM wagg a LEFT JOIN sagg s USING (doc_id) ORDER BY a.doc_id""",
    "d19_dup_span_removal" ->
      s"""WITH $wordsCte,
          g0 AS (
            SELECT doc_id, pos,
                   word || ' ' || lead(word) OVER w || ' ' || lead(word, 2) OVER w AS sh
            FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
          g AS (SELECT doc_id, pos, sh FROM g0 WHERE sh IS NOT NULL),
          dupsh AS (SELECT sh FROM g GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
          occ AS (
            SELECT g.doc_id, g.pos,
                   row_number() OVER (PARTITION BY g.sh
                     ORDER BY g.doc_id, g.pos) AS rn
            FROM g JOIN dupsh USING (sh)),
          marked AS (
            SELECT DISTINCT doc_id, pos FROM (
              SELECT doc_id,
                     unnest(generate_series(pos, pos + ${KGramWords - 1})) AS pos
              FROM occ WHERE rn > 1))
          SELECT w.doc_id,
                 COUNT(*) AS n_tokens,
                 CAST(SUM(CASE WHEN m.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS removed_words,
                 CAST(COUNT(*) - SUM(CASE WHEN m.pos IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS kept_words,
                 CAST(SUM(CASE WHEN m.pos IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS removed_frac,
                 COALESCE(string_agg(CASE WHEN m.pos IS NULL THEN w.word END,
                   ' ' ORDER BY w.pos), '') AS clean_text
          FROM words w LEFT JOIN marked m
            ON m.doc_id = w.doc_id AND m.pos = w.pos
          GROUP BY w.doc_id ORDER BY w.doc_id""",
    "d17_dup_spans" ->
      s"""WITH $wordsCte,
          g0 AS (
            SELECT doc_id, pos,
                   word || ' ' || lead(word) OVER w || ' ' || lead(word, 2) OVER w AS sh
            FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
          g AS (SELECT doc_id, pos, sh FROM g0 WHERE sh IS NOT NULL),
          dup AS (SELECT sh FROM g GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
          dp AS (SELECT doc_id, pos FROM g WHERE sh IN (SELECT sh FROM dup)),
          brk AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                          <= $KGramWords THEN 0 ELSE 1 END AS brk
            FROM dp),
          isl AS (
            SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS island
            FROM brk),
          spans AS (
            SELECT doc_id, island, MIN(pos) AS s,
                   MAX(pos) + ${KGramWords - 1} AS e
            FROM isl GROUP BY doc_id, island),
          agg AS (
            SELECT doc_id, COUNT(*) AS n_spans,
                   CAST(MAX(e - s + 1) AS BIGINT) AS max_span_words,
                   CAST(SUM(e - s + 1) AS BIGINT) AS dup_words
            FROM spans GROUP BY doc_id),
          nt AS (SELECT doc_id, COUNT(*) AS n_tokens FROM words GROUP BY doc_id)
          SELECT n.doc_id, n.n_tokens,
                 COALESCE(a.n_spans, 0) AS n_spans,
                 COALESCE(a.max_span_words, 0) AS max_span_words,
                 COALESCE(a.dup_words, 0) AS dup_words,
                 CAST(COALESCE(a.dup_words, 0) AS DOUBLE)
                   / CAST(n.n_tokens AS DOUBLE) AS dup_frac
          FROM nt n LEFT JOIN agg a USING (doc_id) ORDER BY n.doc_id""",
    "d16_boilerplate_strip" ->
      s"""WITH $wordsCte,
          paras AS (
            SELECT doc_id, pos // ${TextOps.SentenceWords} AS para_index,
                   string_agg(word, ' ' ORDER BY pos) AS ptext
            FROM words GROUP BY doc_id, pos // ${TextOps.SentenceWords}),
          ph AS (SELECT doc_id, para_index, ptext, md5(ptext) AS ph FROM paras),
          pdf AS (SELECT ph, COUNT(DISTINCT doc_id) AS ddf FROM ph GROUP BY ph)
          SELECT doc_id,
                 COUNT(*) AS n_paragraphs,
                 CAST(SUM(CASE WHEN ddf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS removed_paragraphs,
                 COALESCE(string_agg(CASE WHEN ddf < 2 THEN ptext END, ' '
                   ORDER BY para_index), '') AS clean_text,
                 CAST(length(COALESCE(string_agg(CASE WHEN ddf < 2 THEN ptext END,
                   ' ' ORDER BY para_index), '')) AS BIGINT) AS clean_chars
          FROM ph JOIN pdf USING (ph)
          GROUP BY doc_id ORDER BY doc_id""",
    "d11_winnow_fingerprints" ->
      s"""WITH $winnowCte,
          counts AS (SELECT doc_id, COUNT(*) AS n_fps FROM fps GROUP BY doc_id),
          toks AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY doc_id)
          SELECT t.doc_id,
                 CAST(GREATEST(t.n - $WindowDeficit, 0) AS BIGINT) AS n_windows,
                 CAST(COALESCE(c.n_fps, 0) AS BIGINT) AS n_fps,
                 CASE WHEN t.n - $WindowDeficit > 0
                      THEN CAST(COALESCE(c.n_fps, 0) AS DOUBLE) / CAST(t.n - $WindowDeficit AS DOUBLE)
                      ELSE 0.0 END AS density
          FROM toks t LEFT JOIN counts c USING (doc_id)
          ORDER BY t.doc_id""",
    "d12_winnow_pairs" ->
      s"""WITH $winnowCte,
          fpd AS (SELECT DISTINCT doc_id, fp FROM fps),
          hot AS (SELECT fp FROM fpd GROUP BY fp HAVING COUNT(*) > $MaxShingleDf),
          capped AS (SELECT * FROM fpd WHERE fp NOT IN (SELECT fp FROM hot))
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
          FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowShareMin
          ORDER BY a_id, b_id""",
    "d10_dup_ngram_coverage" ->
      s"""WITH $shinglesCte,
          dfreq AS (SELECT sh, COUNT(*) AS df FROM shingles GROUP BY sh)
          SELECT s.doc_id,
                 COUNT(*) AS n_shingles,
                 CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_shingles,
                 CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS dup_frac
          FROM shingles s JOIN dfreq d USING (sh)
          GROUP BY s.doc_id ORDER BY s.doc_id""",
    "d9_dedup_clusters" -> closureClustersSql,
    // d18 computes the SAME clusters by a different distributed
    // algorithm — the transitive-closure oracle is shared verbatim
    "d18_cc_star" -> closureClustersSql,
    // d22: the identical hash-boundary flag, running-sum chunk ids,
    // ordered chunk reassembly, and df count — one expression, two
    // spellings (conv/from_hex, div/%)
    "d22_cdc_chunks" ->
      s"""WITH $wordsCte,
          flagged AS (
            SELECT doc_id, pos, word,
                   CASE WHEN CAST(concat('0x', substr(md5(word), 1, 15))
                       AS BIGINT) % $CdcDivisor = 0
                     THEN 1 ELSE 0 END AS b
            FROM words),
          cid AS (
            SELECT doc_id, pos, word,
                   SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS chunk_id
            FROM flagged),
          chunks AS (
            SELECT doc_id, chunk_id,
                   md5(string_agg(word, ' ' ORDER BY pos)) AS chash,
                   COUNT(*) AS n_words
            FROM cid GROUP BY doc_id, chunk_id),
          cdf AS (
            SELECT chash, COUNT(DISTINCT doc_id) AS ddf
            FROM chunks GROUP BY chash)
          SELECT c.doc_id, COUNT(*) AS n_chunks,
                 CAST(SUM(c.n_words) AS BIGINT) AS n_words,
                 CAST(SUM(CASE WHEN d.ddf > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared_chunks,
                 CAST(SUM(CASE WHEN d.ddf > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS shared_frac
          FROM chunks c JOIN cdf d USING (chash)
          GROUP BY c.doc_id ORDER BY c.doc_id""",
    // d21: sim's unfiltered estimates vs d2's truth, folded to deciles
    // with the identical integer decile and nano-floored error
    "d21_sketch_calibration" ->
      s"""WITH $candSimCtes,
          sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles
                    GROUP BY doc_id),
          inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
            FROM shingles a JOIN shingles b
              ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          p AS (
            SELECT s.a_id, s.b_id,
                   CAST(s.m AS DOUBLE) / $NumHashes AS est,
                   i.inter, sa.sz + sb.sz - i.inter AS un
            FROM sim s
            JOIN inter i ON i.a_id = s.a_id AND i.b_id = s.b_id
            JOIN sizes sa ON sa.doc_id = s.a_id
            JOIN sizes sb ON sb.doc_id = s.b_id),
          e AS (
            SELECT CAST(inter * 10 // un AS BIGINT) AS j_decile,
                   CAST(FLOOR(ABS(est - CAST(inter AS DOUBLE)
                     / CAST(un AS DOUBLE)) * 1e9) AS BIGINT) AS err_nano
            FROM p)
          SELECT j_decile, COUNT(*) AS n_pairs,
                 CAST(SUM(err_nano) AS BIGINT) AS sum_abs_err_nano,
                 CAST(SUM(err_nano) AS DOUBLE)
                   / (1e9 * CAST(COUNT(*) AS DOUBLE)) AS mean_abs_err
          FROM e GROUP BY 1 ORDER BY 1""",
    // d20: the same closure, folded to the size histogram
    "d20_cluster_sizes" ->
      s"""WITH $closureCtes,
          clusters AS (
            SELECT src AS doc_id, MIN(dst) AS cluster_id
            FROM reach GROUP BY src),
          csize AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM clusters GROUP BY 1),
          b AS (
            SELECT cluster_size, COUNT(*) AS n_clusters,
                   CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
                   CAST((cluster_size - 1) * COUNT(*) AS BIGINT)
                     AS n_redundant
            FROM csize GROUP BY cluster_size),
          tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM b)
          SELECT cluster_size, n_clusters, n_docs, n_redundant,
                 CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE)
                   AS share_docs
          FROM b, tot ORDER BY cluster_size""",
    "d7_lsh_rescore" ->
      s"""WITH $sigsCte,
          bands AS (
            SELECT doc_id, h // 2 AS band,
                   md5(string_agg(mh, '|' ORDER BY h)) AS bkey
            FROM sigs GROUP BY doc_id, h // 2),
          cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
          sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
          inter AS (
            SELECT c.a_id, c.b_id, COUNT(*) AS inter
            FROM cand c
            JOIN shingles x ON x.doc_id = c.a_id
            JOIN shingles y ON y.doc_id = c.b_id AND y.sh = x.sh
            GROUP BY 1, 2)
          SELECT a_id, b_id, inter,
                 CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = a_id
          JOIN sizes sb ON sb.doc_id = b_id
          ORDER BY a_id, b_id""",
    "d6_simhash_neardup" ->
      s"""WITH $wordsCte,
          votes AS (
            SELECT doc_id, b,
                   SUM(CASE WHEN (CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) >> b) & 1 = 1
                       THEN 1 ELSE -1 END) AS vote
            FROM words
            CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b)
            GROUP BY doc_id, b),
          sh AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN vote >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sv
            FROM votes GROUP BY doc_id),
          bands AS (
            SELECT doc_id, sv, k, (sv >> (15 * k)) & 32767 AS bandval
            FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)),
          cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                   a.sv AS sa, b.sv AS sb
            FROM bands a JOIN bands b
              ON a.k = b.k AND a.bandval = b.bandval AND a.doc_id < b.doc_id)
          SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
          FROM cand WHERE bit_count(xor(sa, sb)) <= 8
          ORDER BY a_id, b_id""",
    "d1_exact_dedup" ->
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
                MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keep_id""",
    "d2_ngram_jaccard" ->
      s"""WITH $shinglesCte,
          sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
          inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
            FROM shingles a JOIN shingles b
              ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT a_id, b_id, inter,
                 CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = a_id
          JOIN sizes sb ON sb.doc_id = b_id
          WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5
          ORDER BY a_id, b_id""",
    "d3_minhash_lsh" ->
      s"""WITH $sigsCte,
          bands AS (
            SELECT doc_id, h // 2 AS band,
                   md5(string_agg(mh, '|' ORDER BY h)) AS bkey
            FROM sigs GROUP BY doc_id, h // 2),
          cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
          sim AS (
            SELECT c.a_id, c.b_id,
                   SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS m
            FROM cand c
            JOIN sigs x ON x.doc_id = c.a_id
            JOIN sigs y ON y.doc_id = c.b_id AND y.h = x.h
            GROUP BY 1, 2)
          SELECT a_id, b_id, CAST(m AS DOUBLE) / $NumHashes AS est_sim
          FROM sim WHERE m >= ${NumHashes / 2} ORDER BY a_id, b_id""",
    "d14_incremental_dedup" ->
      s"""WITH $sigsCte,
          bands AS (
            SELECT doc_id, h // 2 AS band,
                   md5(string_agg(mh, '|' ORDER BY h)) AS bkey
            FROM sigs GROUP BY doc_id, h // 2),
          cand AS (
            SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS idx_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey
            WHERE a.doc_id < $IncrementalBatchMaxId
              AND b.doc_id >= $IncrementalBatchMaxId),
          sim AS (
            SELECT c.new_id, c.idx_id,
                   SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS m
            FROM cand c
            JOIN sigs x ON x.doc_id = c.new_id
            JOIN sigs y ON y.doc_id = c.idx_id AND y.h = x.h
            GROUP BY 1, 2),
          best AS (
            SELECT new_id, idx_id, CAST(m AS DOUBLE) / $NumHashes AS est_sim,
                   row_number() OVER (PARTITION BY new_id
                     ORDER BY m DESC, idx_id) AS rn
            FROM sim WHERE m >= ${NumHashes / 2})
          SELECT new_id, idx_id AS dup_of, est_sim
          FROM best WHERE rn = 1 ORDER BY new_id""",
    "d4_simhash" ->
      s"""WITH $wordsCte,
          votes AS (
            SELECT doc_id, b,
                   SUM(CASE WHEN (CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) >> b) & 1 = 1
                       THEN 1 ELSE -1 END) AS vote
            FROM words
            CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b)
            GROUP BY doc_id, b)
          SELECT doc_id,
                 string_agg(CASE WHEN vote >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
          FROM votes GROUP BY doc_id ORDER BY doc_id""",
    "d5_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                ROUND(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         ORDER BY cos_sim DESC, a_id, b_id LIMIT 50""",
    "d8_ivf_neardup" ->
      s"""WITH ${Similarity.assignCte},
          ec AS (SELECT e.vec_id, e.v, a.centroid_id
                 FROM e JOIN assign a ON a.vec_id = e.vec_id)
          SELECT x.vec_id AS a_id, y.vec_id AS b_id,
                 ${Similarity.cosSql("x", "y")} AS cos_sim
          FROM ec x JOIN ec y
            ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
          ORDER BY cos_sim DESC, a_id, b_id LIMIT 50""",
    "d15_semantic_dedup" ->
      s"""WITH ${Similarity.assignCte},
          ec AS (SELECT e.vec_id, e.v, a.centroid_id
                 FROM e JOIN assign a ON a.vec_id = e.vec_id),
          removed AS (
            SELECT DISTINCT y.vec_id
            FROM ec x JOIN ec y
              ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
            WHERE ${Similarity.cosSql("x", "y")} >= $SemDedupTau)
          SELECT ec.vec_id, ec.centroid_id,
                 (r.vec_id IS NULL) AS kept
          FROM ec LEFT JOIN removed r ON r.vec_id = ec.vec_id
          ORDER BY ec.vec_id""")
}
