package graft.queries

import graft.SparkSpec
import java.nio.file.{Files, LinkOption, Paths}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Pins the r18 warm-timing policy: Bench warms every
  * SessionCache.warmEntries frame BEFORE its timed region, so a warmed
  * frame's build cost appears in no query's number. That is legitimate
  * only for genuinely shared intermediates — this spec asserts that
  * every warmed frame is consumed by AT LEAST TWO registered queries,
  * counted from the queries' own plans and construction-time cache
  * accesses plus the caches each cache was built from, not from a
  * hand-maintained list. r17's "s1TopkPairs" (consumed only by s18)
  * and "jaccardTruthPairs" (only d25) are exactly what this gate
  * exists to catch: they moved a single query's ground-truth build off
  * the books and were reverted to in-query lazy localCheckpoints in
  * r18.
  *
  * Cache identity: a session-cached frame is a scan of its stored rows
  * (a `LogicalRDD`), and every consumer's plan scans that one RDD
  * instance, so reference equality on the RDD identifies the cache.
  * The stored frame's plan no longer shows what it was built from;
  * SessionCache records each build's cache reads instead.
  */
class WarmPolicySpec extends SparkSpec {

  /** A PRIVATE namespace for this spec's caches: a symlink to the
    * sf0.001 testdata (next to the default data dir, as ComponentsSpec
    * finds it). Session caches key on (session, dir, name), so the
    * spec's walk sees ONLY entries built here, in warmEntries'
    * deterministic order — parallel suites sharing the real sf0.001
    * namespace race on their own frames, which made instance-identity
    * counting flaky.
    */
  private val dir: String = {
    val target = Paths.get(graft.GraftSession.sfDir).resolveSibling("sf0.001")
    val link = Paths.get(System.getProperty("java.io.tmpdir"), "warmpolicy_sf0001")
    val occupied = Files.exists(link, LinkOption.NOFOLLOW_LINKS)
    if (occupied && !(Files.isSymbolicLink(link) && Files.readSymbolicLink(link) == target))
      Files.delete(link)
    if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS)) Files.createSymbolicLink(link, target)
    link.toString
  }

  /** The stored rows a session-cached frame scans. */
  private def rddOf(name: String): RDD[_] =
    SessionCache.existing(spark, dir, name).queryExecution.logical match {
      case l: LogicalRDD => l.rdd
      case other =>
        fail(s"cache '$name' is not a scan of stored rows " +
          s"(got ${other.getClass.getSimpleName})")
    }

  /** Every stored-rows scan in a plan, subqueries included. */
  private def rddsIn(plan: LogicalPlan): Seq[RDD[_]] =
    plan.collectWithSubqueries { case l: LogicalRDD => l.rdd }

  /** `name` and every cache its build read, transitively (tfidf is
    * built FROM the words cache, so a tfidf consumer is transitively a
    * words consumer).
    */
  private def closure(name: String): Set[String] =
    SessionCache.readsOf(spark, dir, name).flatMap(closure) + name

  test("every warmed session cache is consumed by >= 2 registered queries") {
    val warmNames = SessionCache.warmEntries(spark, dir).map(_._1)
    // Cache name by RDD identity, for every cache this dir has built
    val nameOf = scala.collection.mutable.Map.empty[RDD[_], String]
    def learn(names: Iterable[String]): Unit =
      for (n <- names if !nameOf.values.exists(_ == n)) nameOf(rddOf(n)) = n
    learn(warmNames)
    // Build every registered query once and record which caches each
    // query reaches — via its plan, AND via construction-time
    // SessionCache accesses (queries that materialize a component
    // behind an in-query localCheckpoint — s18, d25, the checkpointed
    // output sorts — consume caches during construction where no plan
    // walk of the final Sort(ExistingRDD) can see them). Each reached
    // cache is expanded through the caches its build read, so a query
    // touching dedupMarkedGrams transitively counts as a words
    // consumer.
    val consumers = scala.collection.mutable.Map.empty[String, Set[String]]
      .withDefaultValue(Set.empty)
    val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    SessionCache.accessLog = log
    try {
      for ((qname, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
        log.clear()
        val plan = fn(spark, dir).queryExecution.analyzed
        // only this spec's own dir: a suite running alongside that
        // touches the same cache name under another dir consumes
        // another frame
        val accessed = scala.jdk.CollectionConverters
          .CollectionHasAsScala(log).asScala
          .collect { case (`dir`, name) => name }.toSet
        learn(accessed)
        val reached = (accessed ++ rddsIn(plan).flatMap(nameOf.get))
          .flatMap(closure)
        for (wname <- warmNames if reached.contains(wname))
          consumers(wname) = consumers(wname) + qname
      }
    } finally SessionCache.accessLog = null
    for (wname <- warmNames) {
      val qs = consumers(wname)
      assert(qs.size >= 2,
        s"warm frame '$wname' has ${qs.size} consuming queries " +
          s"(${qs.toSeq.sorted.mkString(", ")}) — warming it moves its " +
          "build cost out of every timed region; single-consumer " +
          "intermediates must be in-query lazy localCheckpoints")
      info(s"$wname: ${qs.size} consumers")
    }
  }
}
