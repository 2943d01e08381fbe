package graft.queries

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftext.Bridge
import org.apache.spark.storage.StorageLevel

/** One copy per (session, dir, name) of the intermediate frames that
  * feed several plan branches within a query AND repeat across queries
  * (shingles feed d2/d3/d7; quality metrics feed p1–p5; words feed
  * nearly every text query), and one value per key of driver-held
  * control data (`memo`). Round 1 persisted frames per-invocation,
  * which re-cached a fresh copy every call and never unpersisted
  * ("already cached" warnings, cache growth across a multi-query
  * bench).
  *
  * What a cached frame holds: its rows, serialized, in executor block
  * storage (`localCheckpoint(eager = true, MEMORY_AND_DISK_SER)`),
  * computed once when the key is first built, and nothing of the plan
  * that computed them. The returned frame is a scan of those blocks
  * with the build's output partitioning and ordering (consumers keyed
  * like the build plan add no exchange) and its stored size as its
  * statistics. A `persist()`ed frame instead kept its physical build
  * plan registered in the CacheManager for the JVM's life, and with it
  * every broadcast hash relation of the build (a whole 16 MB memory
  * page each, however few rows) and its shuffle files. Now the
  * ContextCleaner frees them once the build plan is unreachable.
  *
  * Fault-tolerance cost: the blocks are the only copy. Lineage is cut,
  * so a lost block (an executor that dies, a block that cannot be read
  * back) fails every consuming job instead of being recomputed, and
  * the entry is never rebuilt. A `local[*]` session's executor is the
  * driver's JVM, so its blocks live as long as the session; on a
  * cluster, a reliable `checkpoint()` would buy recovery with a write
  * to shared storage.
  *
  * Queries share a frame through its object only: the CacheManager
  * knows nothing of it, so a query that rebuilds an equal plan on its
  * own computes it (t8's registered query does, on purpose).
  *
  * One locking rule for both: each key is built ONCE. The first caller
  * of a key builds it on its own thread, outside any shared lock; a
  * concurrent caller of the same key waits for that build only, and
  * callers of other keys never wait for it. A build that throws leaves
  * no entry (its waiters see the exception, the next call rebuilds).
  * Builds may nest on other keys (clusterLabels → sigs → shingles →
  * words, x20BloomBytes → x20Bloom): the cache graph is a DAG, so no
  * build waits on itself. Builds run Spark jobs (every `cached` frame
  * is materialized by its build; `Similarity.cachedCentroids` →
  * `kmeansFit` collects per Lloyd round) and hold up only the callers
  * of their own key. Entries live for the JVM.
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

  /** Names of the cached frames each cached frame's build read. A
    * built frame is a scan of stored rows, so its plan no longer shows
    * the caches it was built from; WarmPolicySpec expands a consumer
    * of tfidf into a consumer of words through this record.
    */
  private val buildReads = new ConcurrentHashMap[Key, Set[String]]()

  /** The reads of the `cached` build running on this thread, if any. */
  private val reading = new ThreadLocal[java.util.Set[String]]

  /** The already-built frame for a cache name, or null. */
  private[queries] def existing(
      spark: SparkSession, dir: String, name: String): DataFrame = {
    val f = entries.get((spark, dir, name))
    if (f == null || !f.isDone || f.isCompletedExceptionally) null
    else f.join().asInstanceOf[DataFrame]
  }

  /** The cached frames the build of `name` read, directly. */
  private[queries] def readsOf(
      spark: SparkSession, dir: String, name: String): Set[String] =
    buildReads.getOrDefault((spark, dir, name), Set.empty)

  /** The session's stored copy of `build`, built once per key. */
  def cached(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val log = accessLog
    if (log != null) log.add((dir, name))
    val outer = reading.get
    if (outer != null) outer.add(name)
    once((spark, dir, name)) {
      val reads = ConcurrentHashMap.newKeySet[String]()
      reading.set(reads)
      try {
        val frame = checkpoint(spark, build)
        buildReads.put((spark, dir, name), reads.asScala.toSet)
        frame
      } finally reading.set(outer)
    }.asInstanceOf[DataFrame]
  }

  /** `build`, computed now into serialized block storage, as a scan of
    * those blocks that keeps the build's output partitioning and
    * ordering. `Dataset.localCheckpoint` alone reports an adaptive
    * plan's partitioning as unknown, so a consumer keyed like the build
    * plan (d21's self-join of the doc-partitioned shingles) would add
    * an exchange the stored rows do not need.
    */
  private def checkpoint(spark: SparkSession, build: DataFrame): DataFrame = {
    val rows = build.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER)
      .queryExecution.logical.asInstanceOf[LogicalRDD]
    val ran = build.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // final once run
      case p => p
    }
    val partitioning = ran.outputPartitioning match {
      case p if p.numPartitions == rows.rdd.getNumPartitions => p
      case _ => UnknownPartitioning(0)
    }
    val stored = spark.sparkContext.getRDDStorageInfo.find(_.id == rows.rdd.id)
      .map(i => Statistics(sizeInBytes = i.memSize + i.diskSize))
    Bridge.ofRows(spark, LogicalRDD(
      rows.output, rows.rdd, partitioning, ran.outputOrdering)(
      spark.asInstanceOf[classic.SparkSession], stored))
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
    * Building an entry stores its rows, so nothing is left to run.
    */
  def warm(spark: SparkSession, dir: String): Unit =
    warmEntries(spark, dir)
}
