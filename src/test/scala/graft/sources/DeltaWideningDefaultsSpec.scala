package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta read/write parity for the three 2026-era writer features the
  * r15 verdict flagged (the Iceberg twins landed r14/r15):
  *
  *  - TYPE WIDENING: files written before an int→long widen keep
  *    INT32 physically; reads under the wide schema must promote per
  *    file (Spark 4 parquet promotion) — both bespoke and DSv2 paths.
  *  - COLUMN DEFAULTS: write-time fill only; rows written without
  *    the column read NULL forever (PROTOCOL.md — no Iceberg-style
  *    initial-default backfill, which would diverge from every other
  *    Delta reader).
  *  - CLUSTERED TABLE (liquid clustering): writer-only feature; a
  *    foreign clustered table must READ, and [[DeltaExport.clusterBy]]
  *    stamps the `delta.clustering` domain + feature and re-lays the
  *    data without changing rows.
  */
class DeltaWideningDefaultsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  test("type widening: int files + long files read under the wide schema") {
    val t = tmp("dw_widen")
    DeltaExport.create(
      (0 until 50).map(i => (i, s"n$i")).toDF("k", "s").coalesce(1), t)
    val v = DeltaExport.widenColumnType(spark, t, "k", LongType)
    assert(v == 1L)
    // post-widen appends write INT64
    DeltaExport.append(
      (50L until 60L).map(i => (i, s"n$i")).toDF("k", "s").coalesce(1), t)
    val st = DeltaLog.stateAt(spark, t, None)
    assert(st.minReader == 3 && st.readerFeatures.contains("typeWidening"))
    assert(st.writerFeatures.contains("typeWidening"))
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    assert(schema("k").dataType == LongType)
    val hist = schema("k").metadata.getMetadataArray("delta.typeWidening")
    assert(hist.length == 1 &&
      hist(0).getString("fromType") == "integer" &&
      hist(0).getString("toType") == "long" &&
      hist(0).getLong("tableVersion") == 1L)
    // the pre-widen file is PHYSICALLY INT32 (fixture honesty) —
    // resolved from version 0's state, not by file-name order (UUID
    // names don't sort by era)
    val preWiden = DeltaLog.stateAt(spark, t, Some(0L)).active.keys.head
    val footer = spark.read.parquet(DeltaLog.absPath(t, preWiden)).schema
    assert(footer("k").dataType == IntegerType,
      s"pre-widen file must stay narrow, saw ${footer("k").dataType}")
    // reference + DSv2 reads agree and promote
    val bespoke = DeltaReadReference.read(spark, t)
    assert(bespoke.schema("k").dataType == LongType)
    assert(bespoke.collect().map(_.getLong(0)).toSet == (0L until 60L).toSet)
    val dsv2 = spark.read.format("graft-delta").load(t)
    assert(dsv2.schema("k").dataType == LongType)
    assert(dsv2.collect().map(_.getLong(0)).toSet == (0L until 60L).toSet)
    // non-lossless pair refused
    intercept[IllegalArgumentException] {
      DeltaExport.widenColumnType(spark, t, "s", LongType)
    }
  }

  test("column defaults: write-time fill, NO read backfill") {
    val t = tmp("dw_default")
    DeltaExport.create(
      (0 until 5).map(i => (i.toLong, s"n$i", null: java.lang.Long))
        .toDF("k", "s", "score").coalesce(1), t)
    DeltaExport.setColumnDefault(spark, t, "score", "42")
    val st = DeltaLog.stateAt(spark, t, None)
    assert(st.writerFeatures.contains("allowColumnDefaults"))
    // an append OMITTING the column gets the default filled at write
    DeltaExport.append(
      (5L until 8L).map(i => (i, s"n$i")).toDF("k", "s").coalesce(1), t)
    // an append PROVIDING the column keeps its values
    DeltaExport.append(
      Seq((8L, "n8", 7L)).toDF("k", "s", "score").coalesce(1), t)
    val got = DeltaLog.read(spark, t).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getLong(2))).toMap
    (0L until 5L).foreach(k => assert(got(k) == null,
      s"pre-default rows must KEEP reading null (no backfill), k=$k"))
    (5L until 8L).foreach(k => assert(got(k) == 42L))
    assert(got(8L) == 7L)
    // ADD COLUMN with a default is forbidden by the spec
    val e = intercept[IllegalArgumentException] {
      DeltaExport.setColumnDefault(spark, t, "brand_new", "1")
    }
    assert(e.getMessage.contains("EXISTING columns only"))
  }

  test("clusteredTable: foreign fixture reads; clusterBy stamps + preserves rows") {
    // foreign fixture: a v7 table declaring clusteredTable (writer
    // feature only — reads must NOT care)
    val t = tmp("dw_cluster_foreign")
    DeltaExport.create(
      (0 until 20).map(i => (i.toLong, i % 3)).toDF("id", "g").coalesce(1), t)
    val dir = Paths.get(t, "_delta_log")
    val st0 = DeltaLog.stateAt(spark, t, None)
    Files.write(dir.resolve(f"${1L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","clusteredTable","domainMetadata","invariants"]}}""",
      """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[[\"id\"]]}","removed":false}}""",
      """{"commitInfo":{"operation":"CLUSTER BY"}}"""
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    assert(DeltaLog.read(spark, t).count() == 20L)
    assert(spark.read.format("graft-delta").load(t).count() == 20L)

    // our own stamping + layout pass
    val t2 = tmp("dw_cluster_own")
    DeltaExport.create(
      (0 until 100).map(i => (i.toLong, (i * 37 % 100).toLong, s"p$i"))
        .toDF("x", "y", "payload")
        .repartition(4), t2)
    val before = DeltaLog.read(spark, t2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    DeltaExport.clusterBy(spark, t2, "x", "y")
    val st2 = DeltaLog.stateAt(spark, t2, None)
    assert(st2.writerFeatures.contains("clusteredTable"))
    assert(st2.domains.get("delta.clustering")
      .exists(_.contains("clusteringColumns")), st2.domains.toString)
    val after = DeltaLog.read(spark, t2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(after == before, "clustering must not change table content")
  }
}
