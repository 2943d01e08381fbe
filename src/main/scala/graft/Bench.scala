package graft
import org.apache.spark.sql.DataFrame

object Bench {

  /** Force full evaluation of every column: a bare `count()` lets
    * Catalyst prune unreferenced projections, so projection-heavy
    * queries (md5/feature math) would clock pure scan time. The noop
    * sink evaluates every row of every output column and discards it.
    */
  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // 3-decimal (ms) precision: full-precision doubles made the result
  // line ~3.4 KB, which overflowed the driver's stdout tail buffer —
  // its "last line" was truncated mid-JSON and parsed to null.
  // Millisecond precision is all a bench number means anyway.
  // Locale.ROOT: f"%.3f" uses the JVM default locale, which on e.g.
  // de_DE emits "0,558" — invalid JSON, the same parse failure back.
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def strArr(xs: Seq[String]): String =
    xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** PINNED artifact statistic (r13, the r12 verdict's protocol fix):
    * per-query MEDIAN of the round-robin reps. The median is two-sided
    * robust — one contention burst inflates at most one sample per
    * query (round-robin spreading) and the median ignores it, while
    * staying honest about sustained load in a way min-of-reps (the
    * floor, always the luckiest sample) is not. Cross-round ratios are
    * computed median-vs-median; the artifact still carries "mins" and
    * the raw "reps" so both statistics stay auditable.
    */
  def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** 1-minute system load average — the LOAD MARKER recorded at bench
    * start and end, so a contended artifact is visibly contended
    * instead of having to be inferred from round-over-round deltas.
    */
  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** The single stdout result line. Deliberately CONTAINS NO PER-QUERY
    * MAP: with 94 registered queries even ms-precision values made the
    * line ~2.6 KB, and round 6 proved the driver's stdout tail buffer
    * clips somewhere below that (the leading `{` was cut → "parsed":
    * null in the official artifact, two rounds running, two shrinks
    * running). Totals + failures fit in ~200 bytes, which no plausible
    * tail buffer clips; the full per-query map and per-rep samples live
    * in the committed artifact named by `queries_file`. Public for the
    * format spec, which pins the length budget.
    */
  def stdoutLine(total: Double, nQueries: Int, failed: Seq[String],
      sfDir: String, load: (Double, Double)): String =
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","stat":"median","nqueries":$nQueries,""" +
      s""""load":[${fmt(load._1)},${fmt(load._2)}],""" +
      s""""failed":${strArr(failed.sorted)},"queries_file":"BENCH_RESULT.json","sf":"$sfDir"}"""

  /** The full artifact (written to BENCH_RESULT.json, committed per
    * round): per-query median-of-reps under "queries" (the PINNED
    * headline statistic, see [[median]]), min-of-reps under "mins",
    * AND the raw per-rep samples under "reps" — so a host-contention
    * burst is VISIBLE in the artifact itself (one inflated sample
    * among flat ones), with the load markers beside it.
    */
  def fileJson(meds: Seq[(String, Double)], mins: Seq[(String, Double)],
      reps: Seq[(String, Seq[Double])],
      failed: Seq[String], sfDir: String, load: (Double, Double)): String = {
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = obj(meds.map { case (k, v) => k -> fmt(v) })
    val ms = obj(mins.map { case (k, v) => k -> fmt(v) })
    val rs = obj(reps.map { case (k, ts) =>
      k -> ts.map(fmt).mkString("[", ",", "]")
    })
    val total = meds.map(_._2).sum
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","stat":"median",""" +
      s""""load":[${fmt(load._1)},${fmt(load._2)}],"queries":$qs,"mins":$ms,""" +
      s""""reps":$rs,"failed":${strArr(failed.sorted)},"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    // FIRST marker at process entry, BEFORE any Spark work (r14): the
    // old start marker was captured after JVM spinup + cache warm +
    // lakehouse table builds, so it always read 3-4 even on a fully
    // idle host — the bench measured its own warmup and the r13
    // verdict's "pick the run with load < 2" selection rule could
    // never fire. Captured here it is a pure HOST-contention gate:
    // pick the artifact whose first marker is ~0 before reading any
    // of its numbers. The second (end) marker still shows the bench's
    // own sustained load, useful for spotting a neighbor mid-run.
    val loadPre = loadAvg()
    val sfDir = GraftSession.sfDir
    val spark = GraftSession()
    // ERROR, not WARN: round-1's result line drowned in WARN chatter and
    // the driver recorded "parsed": null. Nothing below ERROR is signal
    // during a bench.
    spark.sparkContext.setLogLevel("ERROR")
    // JVM/codegen/scan warmup so the first timed query isn't charged
    // ~4 s of startup (observed: alphabetically-first query absorbed it).
    SparkEntry.queries.headOption.foreach { case (_, fn) =>
      try exec(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    // Materialize every shared session cache (words, quality, shingles,
    // sigs, simhash, cluster labels, centroids) before timing: otherwise
    // whichever query touches a cold cache first absorbs its build and
    // per-query numbers shift with query order (round 2: d7 4.5 s vs
    // d3 0.75 s was cache-population order, not query cost).
    //
    // TIMING POLICY (r18): warming removes a frame's build cost from
    // every timed number, so SessionCache.warmEntries admits ONLY
    // frames consumed by ≥ 2 registered queries (pinned by
    // WarmPolicySpec). Single-consumer intermediates must be in-query
    // localCheckpoint(eager = false)s — computed once per execution,
    // timed with their query (under AQE their shuffle stages run while
    // the query's DataFrame is built, so they land in its build time).
    try graft.queries.SessionCache.warm(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] cache warmup failed: ${e.getMessage}")
    }
    // Author the lakehouse tables BEFORE timing (r14; mirrors Verify's
    // dump phase): the one-time table builds otherwise land inside
    // rep 1 of whichever lakehouse query touches them first — the
    // median absorbed it, but the rep-1 samples read as 5-6× outliers
    // (r13 verdict noted x24's 6.26 s rep 1 vs 1.2 s after) and the
    // mins stayed honest only by luck of rep ordering.
    try graft.queries.LakehouseScan.dumpTables(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] lakehouse table dump failed: ${e.getMessage}")
    }
    // MIN of 5 runs per query (round-6 change, was min-of-2): on a
    // contended 32-core host, min-of-2 never converged — untouched
    // queries swung 2.5–4.5× between rounds (r4 q6 1.59 s vs r5 3.89 s,
    // same code) because one contended run poisons both samples.
    // Contention noise is ONE-SIDED (a GC pause or a neighbor's burst
    // only ever ADDS time), so the floor is the reproducible statistic.
    // max(1, _): REPS=0 would make times.min throw empty.min after the
    // whole Spark spinup; a malformed value should fail HERE, loudly.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt)
    // Round-robin rep scheduling (round-7 change, was 5 back-to-back
    // reps per query): back-to-back reps concentrate a query's entire
    // sample window into a few contiguous seconds, so ONE multi-minute
    // host-contention burst poisons all 5 samples of whichever queries
    // it lands on and min-of-5 provides zero protection (round 6:
    // t1_sentence_split 0.57→54.11 s on code untouched since round 3 —
    // every rep sat inside the burst). Running rep 1 of ALL queries,
    // then rep 2 of all, … spreads each query's samples across the
    // whole ~half-hour run, so a burst costs each query AT MOST ONE
    // sample and the min stays clean unless the burst outlives the
    // entire bench.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val fns = SparkEntry.queries
    val times = scala.collection.mutable.LinkedHashMap(
      names.map(_ -> Vector.empty[Double]): _*)
    var failed = Set.empty[String]
    for (rep <- 1 to reps; name <- names if !failed(name)) {
      val t0 = System.nanoTime()
      // A query that THROWS (e.g. the d5 corpus-size guard tripping at
      // a bigger SF) must not time as ~0 s and read as a bench
      // improvement — drop it from the timings entirely (later reps
      // skipped too) and surface it in "failed" + stderr instead.
      try {
        exec(fns(name)(spark, sfDir))
        times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        failed += name
        // full trace, not getMessage: the x20 r9/r10 flake hunt burned
        // a session because transient failures left no cause behind
        System.err.println(s"[bench] $name FAILED: $e")
        e.printStackTrace()
      }
    }
    val ok = names.filterNot(failed)
    val load = (loadPre, loadAvg())
    val meds = ok.map(n => n -> median(times(n)))
    val mins = ok.map(n => n -> times(n).min)
    val total = meds.map(_._2).sum
    val artifact = fileJson(
      meds, mins, ok.map(n => n -> times(n)), failed.toSeq, sfDir, load)
    val line = stdoutLine(total, ok.size, failed.toSeq, sfDir, load)
    // Belt and braces for the driver's parser: the full artifact goes
    // to a file (stable path, no log interleaving, no size limit) and
    // ONLY the short line is the final stdout line of the run. The file
    // write must never take the stdout line down with it (wrong path/
    // permissions on a foreign checkout).
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(RepoPaths.root, "BENCH_RESULT.json"), artifact + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] result file write failed: ${e.getMessage}")
    }
    // Per-round per-query HISTORY (r11 verdict #8): the driver's
    // BENCH_r{N}.json is built from the short stdout line and drops the
    // per-query map, so round-over-round regression audits had to dig
    // the map out of mid-round commits of BENCH_RESULT.json. Appending
    // every full-suite run (timestamped) to a committed jsonl keeps the
    // whole history greppable in ONE file.
    try {
      val stamped = s"""{"at":"${java.time.Instant.now()}",""" +
        artifact.stripPrefix("{")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(RepoPaths.root, "BENCH_HISTORY.jsonl"),
        stamped + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Exception =>
      System.err.println(s"[bench] history append failed: ${e.getMessage}")
    }
    spark.stop()
    println(line)
  }
}
