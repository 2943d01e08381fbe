package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

/** Pins the r18 warm-timing policy: Bench warms every
  * SessionCache.warmEntries frame BEFORE its timed region, so a warmed
  * frame's build cost appears in no query's number. That is legitimate
  * only for genuinely shared intermediates — this spec asserts that
  * every warmed frame is consumed by AT LEAST TWO registered queries,
  * counted from the queries' own resolved plans (cache substitution +
  * transitive cache-build plans), not from a hand-maintained list.
  * r17's "s1TopkPairs" (consumed only by s18) and "jaccardTruthPairs"
  * (only d25) are exactly what this gate exists to catch: they moved a
  * single query's ground-truth build off the books and were reverted
  * to in-query lazy localCheckpoints in r18.
  *
  * Cache identity: consumers of one session cache share ONE physical
  * build plan instance (InMemoryRelation copies share their
  * CachedRDDBuilder, whose `cachedPlan` they all return), so reference
  * equality on `cachedPlan` identifies the cache without naming the
  * sql-private builder type.
  */
class WarmPolicySpec extends SparkSpec {

  /** A PRIVATE namespace for this spec's caches: a symlink to the
    * sf0.001 testdata. Session caches key on (session, dir, name) and
    * the CacheManager keys on plans (which embed the path, and Spark
    * does not resolve symlinks), so the spec's cache-substitution walk
    * sees ONLY entries built here, in warmEntries' deterministic order
    * — parallel suites sharing the real sf0.001 namespace persist,
    * race and unpersist their own frames, which made instance-identity
    * counting flaky.
    */
  private val dir: String = {
    val link = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "warmpolicy_sf0001")
    if (!java.nio.file.Files.isSymbolicLink(link))
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get("/root/testdata/sf0.001"))
    link.toString
  }

  /** Cache build-plan instances referenced by a physical plan,
    * recursing through AQE roots (which expose no children), subquery
    * plans, and into the cached-plan of every InMemoryTableScan
    * (nested caches: tfidf is built FROM the words cache, so a tfidf
    * consumer is transitively a words consumer).
    */
  private def cachesIn(p: SparkPlan,
      seen: scala.collection.mutable.Set[AnyRef]): Unit = p match {
    case a: AdaptiveSparkPlanExec => cachesIn(a.executedPlan, seen)
    case s: InMemoryTableScanExec =>
      val key: AnyRef = s.relation.cachedPlan
      if (seen.add(key)) cachesIn(s.relation.cachedPlan, seen)
    case other =>
      other.children.foreach(cachesIn(_, seen))
      other.subqueries.foreach(cachesIn(_, seen))
  }

  /** Same walk over a logical plan with caches substituted
    * (queryExecution.withCachedData): InMemoryRelation is the logical
    * cache node; its build plan is physical.
    */
  private def cachesIn(plan: LogicalPlan): Set[AnyRef] = {
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    plan.foreach {
      case imr: InMemoryRelation =>
        val key: AnyRef = imr.cachedPlan
        if (seen.add(key)) cachesIn(imr.cachedPlan, seen)
      case _ => ()
    }
    seen.toSet
  }

  test("every warmed session cache is consumed by >= 2 registered queries") {
    val entries = SessionCache.warmEntries(spark, dir)
    val warmKeys: Seq[(String, AnyRef)] = entries.map { case (name, df) =>
      df.queryExecution.withCachedData match {
        case imr: InMemoryRelation => name -> (imr.cachedPlan: AnyRef)
        case other =>
          fail(s"warm entry '$name' did not resolve to its own cache " +
            s"(got ${other.getClass.getSimpleName}) — is it persisted?")
      }
    }
    // Build every registered query once (this also populates the
    // non-warmed on-demand caches so substitution is complete) and
    // record which warmed caches each query reaches — via its resolved
    // plan, AND via construction-time SessionCache accesses (queries
    // that materialize a component behind an in-query localCheckpoint —
    // s18, d25, the checkpointed output sorts — consume caches during
    // construction where no plan walk of the final Sort(ExistingRDD)
    // can see them). Each recorded access is expanded through the
    // accessed cache's OWN build plan, so a query touching
    // dedupMarkedGrams transitively counts as a words consumer.
    def expand(name: String): Set[AnyRef] = {
      val df = SessionCache.existing(spark, dir, name)
      if (df == null) Set.empty
      else df.queryExecution.withCachedData match {
        case imr: InMemoryRelation =>
          val seen = scala.collection.mutable.Set.empty[AnyRef]
          seen.add(imr.cachedPlan)
          cachesIn(imr.cachedPlan, seen)
          seen.toSet
        case _ => Set.empty
      }
    }
    val expandMemo = scala.collection.mutable.Map.empty[String, Set[AnyRef]]
    val consumers = scala.collection.mutable.Map.empty[String, Set[String]]
      .withDefaultValue(Set.empty)
    val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    SessionCache.accessLog = log
    try {
      for ((qname, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
        log.clear()
        val planReached =
          cachesIn(fn(spark, dir).queryExecution.withCachedData)
        // only this spec's own dir: a suite running alongside that
        // touches the same cache name under another dir consumes
        // another frame
        val accessed = scala.jdk.CollectionConverters
          .CollectionHasAsScala(log).asScala
          .collect { case (`dir`, name) => name }.toSet
        val reached = planReached ++
          accessed.flatMap(n => expandMemo.getOrElseUpdate(n, expand(n)))
        for ((wname, key) <- warmKeys
            if reached.contains(key) || accessed.contains(wname))
          consumers(wname) = consumers(wname) + qname
      }
    } finally SessionCache.accessLog = null
    for ((wname, _) <- warmKeys) {
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
