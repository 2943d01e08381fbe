package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Iceberg→Delta conversion (r15) — the reverse of the UniForm-style
  * [[IcebergExport.fromDelta]] direction, completing the interop pair:
  * a `_delta_log/` authored next to `metadata/` over the SAME files,
  * position-delete parquet and v3 puffin DVs converting to Delta
  * deletion vectors (shared bitmap codec), identity partition values
  * becoming `add.partitionValues`, re-syncs emitting diff commits.
  */
class DeltaFromIcebergSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(): String =
    Files.createTempDirectory("ice2delta_").resolve("t").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String)] =
    df.select(col("id"), col("s"), col("region")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("converted table: both readers row-identical over the same files") {
    val t = tbl()
    val df = (0L until 20L).map(i => (i, s"r$i", if (i % 2 == 0) "us" else "de"))
      .toDF("id", "s", "region")
    IcebergExport.create(
      df.repartition(2, col("id")), t, partitionBy = Seq("region"))
    IcebergExport.deleteWhere(spark, t, col("id") % 5 === 0)
    DeltaExport.fromIceberg(spark, t)
    val viaIce = rows(IcebergTable.read(spark, t))
    val viaDelta = rows(DeltaLog.read(spark, t))
    assert(viaDelta == viaIce, s"$viaDelta\nvs\n$viaIce")
    assert(viaIce == (0L until 20L).filter(_ % 5 != 0)
      .map(i => (i, s"r$i", if (i % 2 == 0) "us" else "de")).toSet)
    // the SAME physical files serve both formats — zero data copied
    val meta = IcebergTable.metadataJson(t)
    val iceFiles = IcebergTable.dataFilesOf(
      t, meta, IcebergTable.currentSnapshotNode(meta)).toSet
    val deltaFiles = DeltaLog.activeFiles(spark, t)
      .select(col("file")).collect().map(_.getString(0)).toSet
    assert(deltaFiles == iceFiles, "path-for-path identical file sets")
    // RE-SYNC after more Iceberg commits: an append and a second
    // delete generation — diff commit only
    IcebergExport.append(
      Seq((100L, "n", "us")).toDF("id", "s", "region"), t)
    IcebergExport.deleteWhere(spark, t, col("id") === 1L)
    val v = DeltaExport.fromIceberg(spark, t)
    assert(v >= 1L)
    assert(rows(DeltaLog.read(spark, t)) == rows(IcebergTable.read(spark, t)))
    // the first sync point stays time-travelable on the Delta side
    assert(rows(DeltaLog.read(spark, t, Some(0L))) == viaIce)
    // an idempotent re-sync commits nothing new
    val v2 = DeltaExport.fromIceberg(spark, t)
    assert(v2 == v, s"no-op re-sync must not commit: $v2 vs $v")
  }

  test("v3 puffin deletion vectors convert to Delta DVs") {
    val t = tbl()
    IcebergExport.createV3(
      (0L until 12L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    IcebergExport.deleteWhereDv(spark, t, col("id") % 3 === 0)
    IcebergExport.deleteWhereDv(spark, t, col("id") === 7L)
    DeltaExport.fromIceberg(spark, t)
    val got = DeltaLog.read(spark, t).select(col("id")).collect()
      .map(_.getLong(0)).toSet
    assert(got == (0L until 12L).filter(i => i % 3 != 0 && i != 7L).toSet,
      s"$got")
    // the Delta add carries a real deletion vector with the merged
    // cardinality, under the feature-gated protocol
    val st = DeltaLog.stateAt(spark, t, None)
    assert(st.readerFeatures.contains("deletionVectors"))
    val dv = st.active.values.head.dv
    assert(dv.exists(_.cardinality == 5L), s"$dv")
  }

  test("live equality deletes refuse; a rewrite makes them convertible") {
    val t = tbl()
    IcebergExport.create(
      (0L until 10L).map(i => (i, s"tag${i % 2}")).toDF("id", "tag")
        .repartition(2, col("id")), t)
    IcebergExport.deleteWhereEquality(spark, t, Seq("tag0").toDF("tag"))
    val e = intercept[IllegalArgumentException](
      DeltaExport.fromIceberg(spark, t))
    assert(e.getMessage.contains("equality"), e.getMessage)
    // the rewrite applies the delete physically; the stale delete
    // manifest no longer scopes any file — conversion proceeds
    IcebergExport.rewriteDataFiles(spark, t, 512L * 1024 * 1024)
    DeltaExport.fromIceberg(spark, t)
    val got = DeltaLog.read(spark, t).select(col("id")).collect()
      .map(_.getLong(0)).toSet
    assert(got == (0L until 10L).filter(_ % 2 == 1).toSet, s"$got")
  }

  test("partition-evolved eras with differing identity sources refuse") {
    val t = tbl()
    IcebergExport.create(
      (0L until 8L).map(i => (i, s"r$i", s"p${i % 2}"))
        .toDF("id", "s", "region").coalesce(1), t,
      partitionBy = Seq("region"))
    IcebergExport.updateSpec(t, Nil) // evolve to unpartitioned
    IcebergExport.append(
      Seq((100L, "n", "p0")).toDF("id", "s", "region").coalesce(1), t)
    val e = intercept[IllegalArgumentException](
      DeltaExport.fromIceberg(spark, t))
    assert(e.getMessage.contains("rewriteToCurrentSpec"), e.getMessage)
  }

  test("deletes of files under a '+' or Hive-escaped '%' partition convert") {
    // "c++" is a directory name with a literal '+'; "a%b" is written
    // as the Hive-escaped directory region=a%25b. Both readers of the
    // converted table must keep the deletes of files under them.
    val regions = Seq("c++", "a%b", "us")
    val df = (0L until 12L).map(i => (i, s"r$i", regions((i % 3).toInt)))
      .toDF("id", "s", "region")
    val want = (0L until 12L).filter(_ % 4 != 0)
      .map(i => (i, s"r$i", regions((i % 3).toInt))).toSet
    for ((create, delete) <- Seq(
        (IcebergExport.create _, IcebergExport.deleteWhere _),
        (IcebergExport.createV3 _, IcebergExport.deleteWhereDv _))) {
      val t = tbl()
      create(df.repartition(2, col("id")), t, Seq("region"))
      delete(spark, t, col("id") % 4 === 0)
      assert(rows(IcebergTable.read(spark, t)) == want)
      DeltaExport.fromIceberg(spark, t)
      val viaDelta = rows(DeltaLog.read(spark, t))
      assert(viaDelta == want, s"${viaDelta -- want} came back")
    }
  }
}
