package graft.queries

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One persisted copy per (session, dir, name) of the intermediate
  * frames that feed several plan branches within a query AND repeat
  * across queries (shingles feed d2/d3/d7; quality metrics feed
  * p1–p5; words feed nearly every text query), and one value per key
  * of driver-held control data (`memo`). Round 1 persisted frames
  * per-invocation, which re-cached a fresh copy every call and never
  * unpersisted ("already cached" warnings, cache growth across a
  * multi-query bench).
  *
  * One locking rule for both: each key is built ONCE. The first caller
  * of a key builds it on its own thread, outside any shared lock; a
  * concurrent caller of the same key waits for that build only, and
  * callers of other keys never wait for it. A build that throws leaves
  * no entry (its waiters see the exception, the next call rebuilds).
  * Builds may nest on other keys (clusterLabels → sigs → shingles →
  * words, x20BloomBytes → x20Bloom): the cache graph is a DAG, so no
  * build waits on itself. Some builds run Spark jobs
  * (`Similarity.cachedCentroids` → `kmeansFit` collects per Lloyd
  * round) and now hold up only the callers of their own key. Entries
  * live for the JVM.
  */
object SessionCache {

  private type Key = (SparkSession, String, String)

  private val entries = new ConcurrentHashMap[Key, CompletableFuture[Any]]()

  /** The value of `key`, built by `build` on this thread if no other
    * caller holds or is building it. A build that throws removes its
    * entry before failing its waiters, so a waiter that retries builds
    * afresh.
    */
  private def once(key: Key)(build: => Any): Any = {
    val mine = new CompletableFuture[Any]
    val held = entries.putIfAbsent(key, mine)
    if (held != null)
      try held.get()
      catch { case e: ExecutionException => throw e.getCause }
    else
      try {
        val v = build
        mine.complete(v)
        v
      } catch {
        case t: Throwable =>
          entries.remove(key, mine)
          mine.completeExceptionally(t)
          throw t
      }
  }

  /** Optional access recorder for WarmPolicySpec: queries that hide a
    * cache behind an in-query localCheckpoint (s18/d25) consume it at
    * CONSTRUCTION time, invisibly to a plan walk — the recorder makes
    * that consumption countable. It records (dir, name), so a spec
    * counts only the accesses under its own dir. Off (null) outside
    * the spec.
    */
  @volatile private[queries] var accessLog:
      java.util.concurrent.ConcurrentLinkedQueue[(String, String)] = null

  /** The already-persisted frame for a cache name, or null — lets
    * WarmPolicySpec expand a recorded access into the warm caches
    * nested inside that cache's build plan.
    */
  private[queries] def existing(
      spark: SparkSession, dir: String, name: String): DataFrame = {
    val f = entries.get((spark, dir, name))
    if (f == null || !f.isDone || f.isCompletedExceptionally) null
    else f.join().asInstanceOf[DataFrame]
  }

  /** The session's persisted copy of `build`, built once per key. */
  def cached(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val log = accessLog
    if (log != null) log.add((dir, name))
    once((spark, dir, name))(build.persist()).asInstanceOf[DataFrame]
  }

  /** Session-scoped memo for driver-held CONTROL DATA — the
    * non-DataFrame sibling of `cached`: fit statistics (s6's per-dim
    * min/max), broadcast handles (p10's Bloom filter), corpus counts
    * (the d5 guard). One keying discipline instead of a hand-rolled
    * ConcurrentHashMap per module, and one build per key: a broadcast
    * or a persisted warehouse is made once however many threads miss
    * the key together.
    */
  def memo[T](spark: SparkSession, dir: String, name: String)(build: => T): T =
    once((spark, dir, name))(build).asInstanceOf[T]

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
