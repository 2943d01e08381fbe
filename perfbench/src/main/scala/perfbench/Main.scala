package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one fresh JVM: set up the session, run one
  * workload as a closed loop (one client, one operation at a time),
  * check its outputs and write the run record. `run.py` builds the
  * program, makes the inputs and launches this.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * cores, data (table directory), corpus (generated podcast corpus),
  * work (scratch directory of this run), out (run record file),
  * queries (comma-separated registry names), warm-min (fewest warm
  * query passes), expected (expected-result
  * file), record (0|1: write the expected-result file instead of
  * checking against it).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val load0 = loadAvg()
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    // Set up seven times. The first set-up counts from JVM start and is
    // reported as setup_cold_s: it alone pays for one-time work (class
    // loading, object initialisers). The next six stop the session and
    // build a new one in the same JVM; setup_s is the median of all
    // seven, which is in effect a warm session rebuild.
    // Phases of the cold set-up, seconds from JVM start: main entered,
    // session built, trivial action done.
    val coldPhases = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStartMs) / 1e3)
    for (i <- 0 until 7) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, opt("work"))
      if (i == 0) coldPhases += (System.currentTimeMillis() - jvmStartMs) / 1e3
      spark.range(0, 1000, 1, cores).selectExpr("sum(id)").collect()
      setups += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
                 else (System.nanoTime() - t0) / 1e9)
    }
    coldPhases += setups.head
    val traced = opt("trace") == "1"
    val listener = if (traced) Some(new ExecProfile) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val run = new Run(spark, new Tracer(s"${opt("workload")}-${opt("seed")}-${System.nanoTime()}", traced),
      listener, cores, opt("seconds").toDouble, opt("seed").toLong)
    val workload = opt("workload")
    try {
      workload match {
        case "podcast_etl" => PodcastEtl.run(run, opt("corpus"), opt("work"))
        case "corpus_cold" | "lake_serve" =>
          QueryWorkload.run(run, workload, opt("data"), opt("queries").split(",").toSeq,
            opt("warm-min").toInt, opt("expected"), opt("record") == "1")
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch { case e: Throwable =>
      run.fail(s"workload aborted: $e")
      e.printStackTrace()
    }
    run.e2e("setup_s", median(setups.toSeq))
    run.e2e("setup_cold_s", setups.head)
    run.e2e("heap_retained_mb", run.retainedHeapMb())
    run.note("setup_cold_phases_s", coldPhases.map(v => f"$v%.3f").mkString(" "))
    val record = run.record(setups.toSeq, load0, loadAvg())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), record)
    spark.stop()
  }

  /** The session settings of `graft.Bench`, plus local and warehouse
    * directories inside this run's scratch directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least `beyond` samples above it, as
    * (percentile, value); None when there are too few samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val s = xs.sorted
    val idx = s.size - beyond - 1
    if (idx < 0) None else Some((100.0 * (idx + 1) / s.size, s(idx)))
  }
}

/** State of one workload run: the clock, the optional listener, the
  * metrics and the outcome of every operation and check.
  */
final class Run(
    val spark: SparkSession,
    val tracer: Tracer,
    val listener: Option[ExecProfile],
    val cores: Int,
    val seconds: Double,
    val seed: Long) {

  private val e2eMetrics = mutable.LinkedHashMap.empty[String, Double]
  private val layerMetrics = mutable.LinkedHashMap.empty[String, Double]
  private val info = mutable.LinkedHashMap.empty[String, String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val ops = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var execTotal = ExecTotals()
  private var opWall = 0.0
  private var driverOnly = 0.0
  private var codegenClasses = 0L
  private var codegenMs = 0.0
  private var storageMax = 0.0
  private var threadsMax = 0

  def e2e(name: String, v: Double): Unit = e2eMetrics(name) = v

  /** CPU seconds this JVM has used, all threads (tasks, JIT, GC). */
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }
  def layer(name: String, v: Double): Unit = layerMetrics(name) = v
  def addLayer(name: String, v: Double): Unit =
    layerMetrics(name) = layerMetrics.getOrElse(name, 0.0) + v
  def note(name: String, v: String): Unit = info(name) = v

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
  }

  def fail(what: String): Unit = {
    failed += 1
    checks += (("no operation fails", false, what))
    System.err.println(s"[perfbench] $what")
  }

  /** One timed call into a layer: a span, plus (traced) its profile. */
  def op[A](name: String)(f: => A): (A, Double, Option[OpProfile]) = {
    val ((r, s), p) = OpProfile.measure(spark.sparkContext, listener)(tracer.span(name)(f))
    p.foreach { q =>
      execTotal += q.exec
      opWall += q.wallS
      driverOnly += q.driverOnlyS
      codegenClasses += q.codegenClasses
      codegenMs += q.codegenMs
      storageMax = math.max(storageMax, q.storageMb)
      threadsMax = math.max(threadsMax, q.liveThreads)
    }
    (r, s, p)
  }

  /** Heap still in use at the end of the run, after full collections.
    * Spark's cleaner frees the blocks of collected broadcasts and
    * shuffles asynchronously, so collect until the heap stops shrinking.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    val seen = mutable.ArrayBuffer.empty[Double]
    while (seen.size < 2 || (seen.size < 10 && seen.last < seen(seen.size - 2) * 0.99)) {
      System.gc()
      Thread.sleep(200)
      seen += mem.getHeapMemoryUsage.getUsed / 1e6
    }
    note("heap_after_each_gc_mb", seen.map(v => f"$v%.1f").mkString(" "))
    seen.last
  }

  private def sparkLayers(): Unit = listener.foreach { l =>
    val t = execTotal
    layer("spark.exec.jobs", t.jobs)
    layer("spark.exec.stages", t.stages)
    layer("spark.exec.tasks", t.tasks)
    layer("spark.exec.task_busy_s", t.taskBusyNs / 1e9)
    layer("spark.exec.utilisation", if (opWall > 0) t.taskBusyNs / 1e9 / (opWall * cores) else 0.0)
    layer("spark.exec.driver_only_s", driverOnly)
    layer("spark.exec.gc_s", t.gcMs / 1e3)
    layer("spark.exec.shuffle_read_mb", t.shuffleReadBytes / 1e6)
    layer("spark.exec.shuffle_write_mb", t.shuffleWriteBytes / 1e6)
    layer("spark.exec.spill_mb", t.spillBytes / 1e6)
    layer("spark.exec.max_task_over_median", l.skew)
    layer("spark.exec.failed_tasks", t.failedTasks)
    layer("spark.codegen.classes", codegenClasses)
    layer("spark.codegen.compile_ms", codegenMs)
    layer("spark.storage.mb_after_op", storageMax)
    layer("spark.storage.live_threads_after_op", threadsMax)
  }

  def record(setups: Seq[Double], load0: Double, load1: Double): String = {
    import Json._
    sparkLayers()
    val correct = failed == 0 && checks.forall(_._2)
    val selfs = tracer.selfSeconds
    obj(
      "correct" -> bool(correct),
      "attempted" -> num(math.max(1L, attempted).toDouble),
      "failed" -> num(failed.toDouble),
      "end_to_end" -> obj(e2eMetrics.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "per_layer" -> obj(layerMetrics.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "info" -> obj(info.toSeq.map { case (k, v) => k -> str(v) }: _*),
      "setup_samples_s" -> arr(setups.map(num)),
      "load_avg_1m" -> obj("start" -> num(load0), "end" -> num(load1)),
      "jvm" -> str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> str(spark.version),
      "cores" -> num(cores.toDouble),
      "checks" -> arr(checks.toSeq.map { case (n, ok, d) =>
        obj("name" -> str(n), "ok" -> bool(ok), "detail" -> str(d)) }),
      "ops" -> arr(ops.toSeq.map(raw)),
      "tracing" -> obj(
        "run_id" -> str(tracer.runId),
        "spans" -> arr(tracer.spans.toSeq.map { s =>
          obj("id" -> num(s.id.toDouble), "parent" -> num(s.parent.toDouble),
            "name" -> str(s.name), "start_ns" -> num(s.startNs.toDouble),
            "end_ns" -> num(s.endNs.toDouble), "self_s" -> num(selfs(s.id)))
        })))
  }
}

/** Just enough JSON writing for the run record. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = graft.functions.JsonText.quote(s)
  def bool(b: Boolean): String = b.toString
  def raw(s: String): String = s
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
