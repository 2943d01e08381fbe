package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for every registered query (or a
  * comma-separated subset) to a directory — the before/after plan evidence
  * the optimization rounds commit under plans/rNN/.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> [suffix] [names]
  *   suffix: appended to the file name, e.g. "_before" → q1_before.txt
  *   names:  comma-separated query keys; default all.
  * `PlanDump <outDir> "" <name>` writes one query's plan.
  *
  * It runs in [[graft.GraftSession]], so the dumped plans are the plans
  * the bench runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = if (args.length > 1) args(1) else ""
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val sfDir = graft.GraftSession.sfDir
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.queries.SessionCache.warm(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[plandump] warm: ${e.getMessage}") }
    try graft.queries.LakehouseScan.dumpTables(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[plandump] tables: ${e.getMessage}") }
    Files.createDirectories(Paths.get(outDir))
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // Exchanges the query ITSELF spends (PlanAuditSpec's cache-
        // boundary discipline): raw string counts over a formatted plan
        // double-count shared cache builds, which every consumer's plan
        // re-displays inside its InMemoryRelations. r18 (ADVICE): also
        // recurse into subquery plans (a bloom/scalar subquery's
        // exchanges are real spend), and say in the header that the
        // count is taken from the PRE-AQE initial plan — a ceiling; AQE
        // may replace some of these with broadcasts at runtime.
        def ex(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            ex(a.executedPlan)
          case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => 0
          case e: org.apache.spark.sql.execution.exchange.Exchange =>
            1 + (e.children ++ e.subqueries).map(ex).sum
          case other => (other.children ++ other.subqueries).map(ex).sum
        }
        val header =
          s"-- exchanges outside cache boundaries (pre-AQE initial plan, incl. subqueries): ${ex(df.queryExecution.executedPlan)}\n"
        Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), header + plan)
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
    println(s"dumped ${names.size} plans to $outDir")
  }
}
