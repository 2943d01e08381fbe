package perfbench

import java.io.File

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** `corpus_cold` and `lake_serve`: a fixed list of registry queries, run
  * by one client. Pass 1 is cold, in the listed order: it pays for the
  * session-cache fits and lake-table authoring the queries trigger.
  * Warm passes, each in a seed-permuted order, follow until the run's
  * seconds are used, at least `warmMin` of them.
  *
  * Each query is split into build (the registry call that constructs
  * the DataFrame, eager fits included), plan (`executedPlan`) and exec
  * (running that same executed plan over every row of every column).
  * Exec folds each output row into an order-insensitive fingerprint,
  * which is checked against the expected record on every execution.
  */
object QueryWorkload {

  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Dashboard" -> Dashboard.queries,
    "TextOps" -> TextOps.queries,
    "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries,
    "EventWindows" -> EventWindows.queries,
    "Multimodal" -> Multimodal.queries,
    "Extended" -> Extended.queries,
    "TrainingSet" -> TrainingSet.queries,
    "WarehouseQueries" -> WarehouseQueries.queries,
    "LakehouseScan" -> LakehouseScan.queries)

  /** Queries whose expected record holds only a row count: the sketch
    * queries, which have no exact oracle.
    */
  private val RowsOnly = "-"

  def run(r: Run, workload: String, data: String, names: Seq[String],
      warmMin: Int, expectedFile: String, record: Boolean): Unit = {
    val registry = modules.flatMap { case (m, qs) => qs.map { case (n, f) => n -> (m, f) } }.toMap
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(", ")}")
    val expected = if (record) Map.empty[String, (Long, String)] else readExpected(expectedFile)
    val recorded = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]
    val rng = new scala.util.Random(r.seed)
    // Lake tables are authored under the run's own, initially empty,
    // scratch directory.
    val lake = new File(graft.RepoPaths.target("graft_lakehouse"))
    r.note("queries", names.size.toString)

    val coldLat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val warmLat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 1 + warmMin || (System.nanoTime() - t0) / 1e9 < r.seconds) {
      val cold = pass == 0
      // The cold pass runs in the listed order: whichever query comes
      // first pays for the JVM's and the shared frames' warm-up, so a
      // seeded cold order would change job_s by seed (27% quartile
      // spread over three corpus_cold seeds). Warm passes are seeded.
      val order = if (cold) names else rng.shuffle(names)
      val cpu0 = r.cpuSeconds
      val (_, passS) = r.tracer.span(if (cold) s"$workload.cold_pass" else s"$workload.warm_pass") {
        order.foreach { q =>
          val (m, fn) = registry(q)
          r.attempted += 1
          try {
            val ((b, p, e, rows, fp), total, prof) = r.op(s"queries.$m") {
              val (df, b) = r.tracer.span(s"queries.$m.build")(fn(r.spark, data))
              val (_, p) = r.tracer.span(s"queries.$m.plan")(df.queryExecution.executedPlan)
              val ((rows, fp), e) = r.tracer.span(s"queries.$m.exec")(fingerprint(df))
              (b, p, e, rows, fp)
            }
            (if (cold) coldLat else warmLat) += total
            if (cold) {
              r.addLayer(s"queries.$m.build_s", b)
              r.addLayer(s"queries.$m.plan_s", p)
              r.addLayer(s"queries.$m.exec_s", e)
              r.addLayer(s"queries.$m.ops", 1)
              prof.foreach { x =>
                r.addLayer(s"queries.$m.jobs", x.exec.jobs)
                if (m == "LakehouseScan") {
                  r.addLayer("sources.input_mb", x.exec.inputBytes / 1e6)
                  r.addLayer("sources.rows_read", x.exec.inputRecords)
                  r.addLayer("sources.rows_out", rows)
                }
              }
            }
            r.ops += Json.obj(
              "pass" -> Json.num(pass), "query" -> Json.str(q), "module" -> Json.str(m),
              "build_s" -> Json.num(b), "plan_s" -> Json.num(p), "exec_s" -> Json.num(e),
              "rows" -> Json.num(rows.toDouble),
              "jobs" -> Json.num(prof.map(_.exec.jobs.toDouble).getOrElse(Double.NaN)),
              "tasks" -> Json.num(prof.map(_.exec.tasks.toDouble).getOrElse(Double.NaN)),
              "shuffle_mb" -> Json.num(prof.map(x =>
                (x.exec.shuffleReadBytes + x.exec.shuffleWriteBytes) / 1e6).getOrElse(Double.NaN)),
              "driver_only_s" -> Json.num(prof.map(_.driverOnlyS).getOrElse(Double.NaN)))
            if (record) {
              if (cold) recorded(q) = (rows, fp)
            } else expected.get(q) match {
              case None => r.check(s"$q has an expected record", ok = false, "missing")
              case Some((wantRows, wantFp)) =>
                val ok = rows == wantRows && (wantFp == RowsOnly || fp == wantFp)
                if (!ok || cold) r.check(s"$q output", ok,
                  s"pass $pass: rows $rows fingerprint $fp, expected rows $wantRows fingerprint $wantFp")
            }
          } catch { case e: Throwable =>
            r.fail(s"$q failed in pass $pass: $e")
          }
        }
      }
      if (cold) {
        r.e2e("job_s", passS)
        r.layer("job_cpu_s", r.cpuSeconds - cpu0)
        val (files, bytes) = dirStats(lake)
        r.layer("sources.files_written", files)
        r.layer("sources.bytes_written", bytes)
        val inBytes = Seq("customer", "orders", "lineitem", "supplier")
          .map(t => new File(s"$data/$t.parquet").length()).sum
        r.layer("sources.bytes_per_user_byte", bytes.toDouble / inBytes)
        val storage = r.spark.sparkContext.getRDDStorageInfo
        r.layer("queries.SessionCache.frames", storage.length)
        r.layer("queries.SessionCache.cached_mb", storage.map(i => i.memSize + i.diskSize).sum / 1e6)
      } else passes += passS
      pass += 1
    }
    if (passes.nonEmpty) r.layer("warm.pass_s", Main.median(passes.toSeq))
    val lat = if (workload == "lake_serve") warmLat else coldLat
    r.layer("ops.p50_ms", Main.median(lat.toSeq) * 1e3)
    Main.tail(lat.toSeq).foreach { case (pct, v) =>
      r.note("op_tail", f"p$pct%.1f=${v * 1e3}%.1f ms over ${lat.size} samples")
      r.layer("ops.tail_ms", v * 1e3)
    }
    r.layer("warm.passes", pass - 1)
    if (record) {
      val oracle = graft.SparkEntry.oracleSql.keySet
      val kept = if (new File(expectedFile).exists()) readExpected(expectedFile) else Map.empty
      val lines = (kept ++ recorded.map { case (q, (n, fp)) =>
        q -> ((n, if (oracle.contains(q)) fp else RowsOnly))
      }).toSeq.sortBy(_._1).map { case (q, (n, fp)) => s"$q\t$n\t$fp" }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(expectedFile),
        lines.mkString("", "\n", "\n"))
    }
  }

  /** Runs the DataFrame's executed plan and folds every output row into
    * (row count, sum of 64-bit row hashes). Rows are hashed in Spark's
    * binary row format, so equal values give equal hashes whatever the
    * partitioning or row order.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val qe = df.queryExecution
    val schema = qe.executedPlan.schema
    val (n, h) = qe.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      rows.foreach { row =>
        val u = proj(row)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (n, java.lang.Long.toHexString(h))
  }

  /** name -> (rows, fingerprint) from a tab-separated expected file. */
  def readExpected(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(_.nonEmpty).map(_.split("\t")).map { a =>
      a(0) -> ((a(1).toLong, a(2)))
    }.toMap
    finally src.close()
  }

  /** (files, bytes) under a directory tree. */
  private def dirStats(d: File): (Long, Long) =
    if (!d.exists()) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(d.toPath)
      try {
        val fs = s.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
        (fs.length.toLong, fs.map(p => java.nio.file.Files.size(p)).sum)
      } finally s.close()
    }
}
