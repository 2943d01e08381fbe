package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated key filter for fast local
    // single-operator checks (the driver always passes 2 args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // `dump`, then its directory stamped with the real path of sfDir,
    // so tools/selfcheck.py can refuse a dump at a fixed path that a
    // Verify of another scale factor wrote. The old stamp goes first:
    // a dump that fails leaves none.
    def stamped(dumpDir: String)(dump: => Unit): () => Unit = () => {
      val stamp = Paths.get(dumpDir, StampFile)
      Files.deleteIfExists(stamp)
      dump
      Files.writeString(stamp, Paths.get(sfDir).toRealPath().toString + "\n")
    }
    // Fit-time dumps, in order, before the query pass. A failed dump is
    // reported on stderr and the next one still runs.
    val dumps: Seq[(String, () => Unit)] = Seq(
      // The warehouse parquet the wh_* oracle SQL reads
      // (WarehouseQueries.DumpPath): it must land before the driver's
      // DuckDB pass runs oracle_sql.json.
      "warehouse" -> stamped(graft.queries.WarehouseQueries.DumpPath)(
        graft.queries.WarehouseQueries.dumpWarehouse(spark)),
      // The fitted k-means centroids the s5 oracle reads: the fit is
      // session-cached, so the s5 query scores against exactly the
      // dumped values.
      "centroid" -> stamped(graft.queries.Similarity.CentroidDumpPath)(
        graft.queries.Similarity.dumpCentroids(spark, sfDir)),
      // The trained PQ codebooks the s7 oracle reads: the same
      // session-cache-then-dump discipline as the centroids.
      "residual codebook" -> stamped(graft.queries.Similarity.ResPqCodebookDumpPath)(
        graft.queries.Similarity.dumpResPqCodebooks(spark, sfDir)),
      "pq codebook" -> stamped(graft.queries.Similarity.PqCodebookDumpPath)(
        graft.queries.Similarity.dumpPqCodebooks(spark, sfDir)),
      // The x20 bloom bytes: with the file present, x20's registered
      // path runs zero stat.bloomFilter jobs; the bloom is read like
      // any other fit-time dump.
      "x20 bloom" -> stamped(graft.queries.Extended.BloomDumpRoot)(
        graft.queries.Extended.dumpBloom(spark, sfDir)),
      // The lakehouse tables (Delta DV / Iceberg v2 deletes / SCD2
      // MERGE dim): x22/x23/w23 then read them like any other dump.
      // Their paths name the scale factor already.
      "lakehouse table" -> (() => graft.queries.LakehouseScan.dumpTables(spark, sfDir)))
    for ((label, dump) <- dumps)
      try dump()
      catch { case e: Throwable =>
        System.err.println(s"[verify] $label dump failed: ${e.getMessage}")
      }
    // One retry per query: a missing parquet dir silently drops the
    // query from the driver's correctness artifact (this is how
    // x20_bloom_join lost its r9 row to a transient failure), so a
    // flaky first attempt must not be the last word. The retry
    // rebuilds the frame from scratch; only a double failure is
    // surfaced — loudly — as final.
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        def attempt(): Unit =
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        try attempt()
        catch { case e: Throwable =>
          System.err.println(
            s"[verify] $name failed (will retry): $e")
          e.printStackTrace()
          try attempt()
          catch { case e2: Throwable =>
            System.err.println(
              s"[verify] $name FAILED after retry: $e2")
            e2.printStackTrace()
          }
        }
      }
    // JSON string escape (shared impl: functions.JsonText) — a tab or
    // CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness.
    def q(s: String): String = graft.functions.JsonText.quote(s)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** The file in a dump directory that names the data dir the dump was
    * written for; Spark and DuckDB skip `_`-prefixed files.
    */
  val StampFile = "_sf_dir"
}
