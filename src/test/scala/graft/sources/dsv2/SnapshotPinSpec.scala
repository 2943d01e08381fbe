package graft.sources.dsv2

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.{DeltaExport, DeltaLog, DeltaMerge, IcebergExport, IcebergTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reader isolation on the lake read paths: a batch frame reads the
  * snapshot resolved when it was made, however many commits land
  * before it runs, and a frame made after a commit reads that commit.
  */
class SnapshotPinSpec extends SparkSpec {
  import spark.implicits._

  spark.conf.set(
    "spark.sql.catalog.graft", "graft.sources.dsv2.GraftCatalog")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def names(df: DataFrame): Seq[String] =
    df.orderBy("id").select("s").as[String].collect().toSeq

  /** A Delta table holding (1, old), (2, keep). */
  private def deltaTable(): String = {
    val t = tmp("pin_delta")
    DeltaExport.create(Seq((1L, "old"), (2L, "keep")).toDF("id", "s"), t)
    t
  }

  private def mergeNew(t: String): Unit =
    DeltaMerge.merge(spark, t, Seq((1L, "new")).toDF("id", "s"), Seq("id"),
      Some(DeltaMerge.UpdateAll), insertNotMatched = true)

  test("a DeltaLog.read frame made before a MERGE reads the pre-MERGE rows") {
    val t = deltaTable()
    val pinned = DeltaLog.read(spark, t)
    mergeNew(t)
    assert(names(pinned) == Seq("old", "keep"))
    assert(names(DeltaLog.read(spark, t)) == Seq("new", "keep"))
  }

  test("a graft-delta frame made before a MERGE reads the pre-MERGE rows; a new frame reads the MERGE") {
    val t = deltaTable()
    val pinned = spark.read.format("graft-delta").load(t)
    val filtered = pinned.filter(col("id") === 1L)
    mergeNew(t)
    assert(names(pinned) == Seq("old", "keep"))
    assert(names(filtered) == Seq("old"), "a frame derived from the pinned one")
    val fresh = spark.read.format("graft-delta").load(t)
    assert(names(fresh) == Seq("new", "keep"))
    // an explicit version still reads what it names
    assert(names(spark.read.format("graft-delta")
      .option("versionAsOf", 0L).load(t)) == Seq("old", "keep"))
  }

  test("a graft-iceberg frame made before a deleteWhere still counts the deleted row") {
    val t = tmp("pin_ice")
    IcebergExport.create(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t)
    val pinned = spark.read.format("graft-iceberg").load(t)
    val planned = IcebergTable.read(spark, t)
    IcebergExport.deleteWhere(spark, t, col("id") === 2L)
    assert(pinned.count() == 2L)
    assert(planned.count() == 2L, "the DataFrame reader plans when called")
    assert(spark.read.format("graft-iceberg").load(t).count() == 1L)
  }

  test("a catalog table frame made before an INSERT reads the pre-INSERT rows") {
    val t = deltaTable()
    val pinned = spark.table(s"graft.delta.`$t`")
    spark.sql(s"INSERT INTO graft.delta.`$t` VALUES (3, 'added')")
    assert(names(pinned) == Seq("old", "keep"))
    assert(names(spark.table(s"graft.delta.`$t`")) == Seq("old", "keep", "added"))
  }
}
