package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One persisted copy per (session, dir, name) of the intermediate
  * frames that feed several plan branches within a query AND repeat
  * across queries (shingles feed d2/d3/d7; quality metrics feed
  * p1–p5; words feed nearly every text query). Round 1 persisted them
  * per-invocation, which re-cached a fresh copy every call and never
  * unpersisted ("already cached" warnings, cache growth across a
  * multi-query bench). One persisted copy per session is the fix.
  */
object SessionCache {

  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Optional access recorder for WarmPolicySpec: queries that hide a
    * cache behind an in-query localCheckpoint (s18/d25) consume it at
    * CONSTRUCTION time, invisibly to a plan walk — the recorder makes
    * that consumption countable. Off (null) outside the spec.
    */
  @volatile private[queries] var accessLog:
      java.util.concurrent.ConcurrentLinkedQueue[String] = null

  /** The already-persisted frame for a cache name, or null — lets
    * WarmPolicySpec expand a recorded access into the warm caches
    * nested inside that cache's build plan.
    */
  private[queries] def existing(
      spark: SparkSession, dir: String, name: String): DataFrame =
    planCache.get((spark, dir, name))

  /** NOT computeIfAbsent: cache builds nest (clusterLabels → sigs →
    * shingles → words), and a mapping function that updates other
    * mappings violates the CHM contract (same-bin recursion throws
    * "Recursive update"). Double-checked locking instead (r18): the old
    * check-then-putIfAbsent let a RACING duplicate build lose and call
    * `unpersist()` — but CacheManager.uncacheQuery matches by
    * sameResult, so the loser's unpersist silently removed the
    * WINNER's entry too: the frame stayed in planCache but was no
    * longer cached, and every later consumer recomputed it (observed as
    * nondeterministic cache-substitution loss under parallel test
    * suites; reachable in production paths since the s18/d25/p16/p26
    * compositions build components from a thread pool). The coarse
    * lock is reentrant, so nested builds on one thread still work.
    *
    * The lock is JVM-wide and held for the whole `build`, and some
    * builds run Spark jobs: `Similarity.cachedCentroids` →
    * `kmeansFit` runs a `collect` to seed and one per Lloyd round, so
    * every other thread that misses the cache waits for those jobs.
    * ROADMAP item 5 plans per-key in-flight builds instead.
    */
  def cached(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val log = accessLog
    if (log != null) log.add(name)
    val key = (spark, dir, name)
    val existing = planCache.get(key)
    if (existing != null) existing
    else planCache.synchronized {
      val again = planCache.get(key)
      if (again != null) again
      else {
        val df = build.persist()
        planCache.put(key, df)
        df
      }
    }
  }

  private val valueCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Any]()

  /** Session-scoped memo for driver-held CONTROL DATA — the
    * non-DataFrame sibling of `cached`: fit statistics (s6's per-dim
    * min/max), broadcast handles (p10's Bloom filter), corpus counts
    * (the d5 guard). One keying discipline instead of a hand-rolled
    * ConcurrentHashMap per module.
    *
    * NOT computeIfAbsent (r15): memo builds DO nest — x20BloomBytes
    * falls back to the x20Bloom memo when the Verify dump is absent —
    * and a mapping function updating another mapping violates the CHM
    * contract whenever the two keys share a hash bin ("Recursive
    * update", which fired NONDETERMINISTICALLY in a bench run: bin
    * assignment depends on table capacity, so the nesting was latent
    * until the key population shifted). Same check-then-putIfAbsent
    * as `cached`; a racing duplicate build loses benignly (builds are
    * deterministic fits). Entries live for the JVM, like every
    * session cache in this file.
    */
  def memo[T](spark: SparkSession, dir: String, name: String)(build: => T): T = {
    val key = (spark, dir, name)
    val existing = valueCache.get(key)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val v = build
      // CHM rejects null values (putIfAbsent would NPE): a
      // null-producing build degrades to UNCACHED — returned as-is,
      // rebuilt on the next call — rather than crashing the caller
      if (v == null) v
      else {
        val prev = valueCache.putIfAbsent(key, v.asInstanceOf[Any])
        if (prev != null) prev.asInstanceOf[T] else v
      }
    }
  }

  /** Every frame `warm` materializes, NAMED (cache key under `cached`)
    * — exposed so WarmPolicySpec can pin the admission rule below.
    *
    * ADMISSION RULE (r18, pinned by WarmPolicySpec): a frame may be
    * warmed only if ≥ 2 REGISTERED QUERIES consume it. Warming runs
    * before Bench's timed region, so a warmed frame's build cost
    * appears in NO query's number — legitimate only for genuinely
    * shared intermediates (the round-2 rationale: whichever query
    * touches a cold shared cache first absorbs a build that belongs to
    * no one query). A frame consumed by ONE query must stay inside
    * that query as a `localCheckpoint(eager = false)` (computed once
    * per execution, still timed — under AQE its shuffle stages run
    * while the query's DataFrame is built, so they count in its build
    * time) — r17's "s1TopkPairs" warm entry hid s18's ground-truth
    * build this way and was reverted in r18.
    */
  def warmEntries(spark: SparkSession, dir: String): Seq[(String, DataFrame)] =
    TextOps.warmFrames(spark, dir) ++
      Dedup.warmFrames(spark, dir) ++
      Similarity.warmFrames(spark, dir)

  /** Materialize every shared cache up front. Bench calls this during
    * warmup so per-query timings measure the query, not whichever query
    * happens to touch a cold shared cache first (round 2's d7 clocked
    * 4.5 s of shingle/signature cache build that round 1 charged to d3).
    */
  def warm(spark: SparkSession, dir: String): Unit =
    warmEntries(spark, dir).foreach { case (_, df) => df.count() }
}
