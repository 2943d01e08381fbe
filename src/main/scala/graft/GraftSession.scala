package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session every entry point runs in: Bench, Verify,
  * PlanDump, PipelineDemo and the test suites. Each key is set here
  * once, so a tool can no longer show or run a plan the bench never
  * runs. Callers set their own log level.
  */
object GraftSession {

  /** Cores of the local master, `SPARK_GRAFT_CPUS` (default 4). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Data directory Bench and PlanDump read, `SPARK_GRAFT_SF_DIR`. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The shared keys of a `local[cores]` session. */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    // Graft's optimizer rules and functions (graft.plans): a session
    // without them plans every query differently.
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    // One shuffle partition per core: the default 200 is sized for a
    // cluster and turns every small exchange into 200 tiny tasks.
    "spark.sql.shuffle.partitions" -> cores.toString,
    // The epoch-µs derivation of TIMESTAMP_NTZ event times is only exact
    // under UTC (Tables.eventsUs refuses any other zone).
    "spark.sql.session.timeZone" -> "UTC",
    // Nothing reads the web UI; off, a session binds no port.
    "spark.ui.enabled" -> "false",
    // events.parquet stored TIMESTAMP(NANOS) in older testdata; Spark 4
    // has no nanos type, so read it as epoch-nanos long (ordering-
    // equivalent; queries never emit raw ts). A no-op on µs files.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Spark 4's default, pinned: the plans the bench times and PlanDump
    // shows are adaptive plans.
    "spark.sql.adaptive.enabled" -> "true",
    // Static conf, default 100 entries: with every registered query at
    // ~3-8 codegen units each, the shared generated-class cache
    // thrashes under round-robin rep scheduling (every unit evicted
    // between a query's reps, so recompiled every rep). Measured: the
    // default cache made interleaved reps a uniform ~1.3-1.8× slower
    // than back-to-back reps of identical plans. 10k entries holds
    // the whole suite's classes (~1k) with room to grow.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
  )

  def apply(cores: Int = cpus): SparkSession =
    settings(cores)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
}
