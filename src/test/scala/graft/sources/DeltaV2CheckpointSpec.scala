package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The two reader features r13 lifted from the refusal list, proven
  * against spec-exact fixtures this spec authors itself:
  *
  *  - `v2Checkpoint` — UUID-named checkpoint parquet whose file
  *    actions live in SIDECAR files under `_delta_log/_sidecars/`
  *    (what newer delta-spark writes on big tables); reads must
  *    reconstruct state from checkpoint + sidecars alone.
  *  - `timestampNtz` — a TIMESTAMP_NTZ column behind the v3 feature
  *    gate; the flag exists because OLD readers misread NTZ as
  *    instants, so supporting it means parsing the type natively.
  */
class DeltaV2CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def v(n: Long): String = f"$n%020d"

  private def writeCommit(table: Path, version: Long, lines: Seq[String]): Unit = {
    val dir = table.resolve("_delta_log")
    Files.createDirectories(dir)
    Files.write(
      dir.resolve(s"${v(version)}.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  test("v2 checkpoint with sidecar file actions is the replay base") {
    val table = Files.createTempDirectory("delta_v2ck")
    // two data files via the plain writer, then hand-compact into a
    // V2 checkpoint exactly as PROTOCOL.md lays it out
    DeltaExport.create(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), table.toString)
    DeltaExport.append(
      Seq((3L, "c")).toDF("id", "s").coalesce(1), table.toString)
    val adds = DeltaLog.activeFiles(spark, table.toString)
      .collect().map(_.getString(0))
      .map(p => table.toAbsolutePath.relativize(Paths.get(p)).toString)
    assert(adds.length == 2)
    val st = DeltaLog.read(spark, table.toString)
      .collect().map(_.getLong(0)).toSet
    assert(st == Set(1L, 2L, 3L))
    val dir = table.resolve("_delta_log")
    val schemaJson = Seq(("x", 1L)).toDF("s", "id").schema.json // unused shape
    // sidecar parquet: ONLY file actions
    val sidecarDir = dir.resolve("_sidecars")
    Files.createDirectories(sidecarDir)
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("dataChange", BooleanType)))
    val sidecarSchema = StructType(Seq(StructField("add", addType)))
    val sidecarRows = adds.toSeq.map { rel =>
      org.apache.spark.sql.Row(
        org.apache.spark.sql.Row(rel, Map.empty[String, String], 0L, true))
    }
    val sidecarName = s"${java.util.UUID.randomUUID()}.parquet"
    writeOneParquet(
      spark.createDataFrame(sidecarRows.asJava, sidecarSchema),
      sidecarDir.resolve(sidecarName))
    // main V2 checkpoint: protocol + metaData + checkpointMetadata +
    // the sidecar pointer — NO file actions inline
    val tableSchema = Seq((1L, "a")).toDF("id", "s").schema.json
    val ckptSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType))))))
    val ckptRows = Seq(
      org.apache.spark.sql.Row(
        org.apache.spark.sql.Row(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")),
        null, null, null),
      org.apache.spark.sql.Row(null,
        org.apache.spark.sql.Row("v2ck-fixture", tableSchema,
          Seq.empty[String], Map.empty[String, String]),
        null, null),
      org.apache.spark.sql.Row(null, null,
        org.apache.spark.sql.Row(1L), null),
      org.apache.spark.sql.Row(null, null, null,
        org.apache.spark.sql.Row(sidecarName,
          Files.size(sidecarDir.resolve(sidecarName)))))
    writeOneParquet(
      spark.createDataFrame(ckptRows.asJava, ckptSchema),
      dir.resolve(s"${v(1)}.checkpoint.${java.util.UUID.randomUUID()}.parquet"))
    Files.writeString(dir.resolve("_last_checkpoint"),
      s"""{"version":1,"size":4}""")
    // the checkpoint is now the ONLY state source
    Files.delete(dir.resolve(s"${v(0)}.json"))
    Files.delete(dir.resolve(s"${v(1)}.json"))
    val got = DeltaLog.read(spark, table.toString)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L),
      s"v2 checkpoint + sidecars must reconstruct the active set: $got")
    // and commits AFTER the v2 checkpoint still replay on top
    writeCommit(table, 2, Seq(
      s"""{"remove":{"path":"${adds.head}","deletionTimestamp":1,"dataChange":true}}"""))
    assert(DeltaLog.read(spark, table.toString).count() < 3L)
    schemaJson.length // silence unused warning
  }

  test("checkpointV2 + cleanupLogs: sidecar checkpoint is the sole state carrier") {
    import spark.implicits._
    val t = {
      val d = Files.createTempDirectory("v2ck_w_").toString
      Files.delete(Paths.get(d)); d
    }
    // every state kind in one table: row tracking (domain + baseRowId
    // + tags), a DV delete, a txn watermark, multiple files
    DeltaExport.create(
      (0L until 6L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
      t, Nil, Map("delta.enableRowTracking" -> "true"))
    DeltaExport.appendBatch(
      (10L until 13L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
      t, "app", 7L)
    DeltaExport.deleteWhere(spark, t, col("id") === 2L)
    DeltaExport.compact(spark, t, 128L * 1024 * 1024)
    DeltaExport.append(
      (20L until 22L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    val before = DeltaLog.stateAt(spark, t, None)
    val idsBefore = DeltaRowTracking.readRowIds(spark, t)
      .select(col("id"), col("_row_id"), col("_row_commit_version"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // force >1 sidecar so the sharding is actually exercised
    val v = DeltaExport.checkpointV2(spark, t, maxAddsPerSidecar = 1)
    val logDir = Paths.get(t, "_delta_log")
    val names = {
      val l = Files.list(logDir)
      try l.iterator().asScala.map(_.getFileName.toString).toVector
      finally l.close()
    }
    assert(names.exists(_.matches(
      f"$v%020d\\.checkpoint\\.[0-9a-fA-F-]{8,}\\.parquet")), s"$names")
    val sidecars = {
      val l = Files.list(logDir.resolve("_sidecars"))
      try l.iterator().asScala.size finally l.close()
    }
    assert(sidecars >= 2, s"sharded sidecars expected, got $sidecars")
    // drop every subsumed JSON commit — the V2 checkpoint + sidecars
    // are now the ONLY state carrier
    val deleted = DeltaExport.cleanupLogs(spark, t, retentionMs = 0L)
    assert(deleted.nonEmpty, "cleanup must reclaim subsumed commits")
    val after = DeltaLog.stateAt(spark, t, None)
    assert(after.readerFeatures.contains("v2Checkpoint"))
    assert(after.active.keySet == before.active.keySet)
    assert(after.active.view.mapValues(a =>
      (a.dv.map(_.pathOrInlineDv), a.baseRowId, a.tags)).toMap
      == before.active.view.mapValues(a =>
      (a.dv.map(_.pathOrInlineDv), a.baseRowId, a.tags)).toMap,
      "DVs, row ids and tags must replay from the sidecars")
    assert(after.txns == before.txns && after.domains == before.domains)
    assert(DeltaRowTracking.readRowIds(spark, t)
      .select(col("id"), col("_row_id"), col("_row_commit_version"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      == idsBefore)
    // the table keeps working: next version continues past the
    // checkpoint, and the replay gate still sees the txn watermark
    assert(DeltaExport.appendBatch(
      Seq((99L, "x")).toDF("id", "s").coalesce(1), t, "app", 7L).isEmpty,
      "txn watermark must survive into the post-cleanup replay")
    DeltaExport.append(Seq((50L, "n")).toDF("id", "s").coalesce(1), t)
    assert(DeltaLog.version(spark, t) > v)
    assert(DeltaLog.read(spark, t).count() == 11L)
    // cleanup without any checkpoint refuses
    val plain = {
      val d = Files.createTempDirectory("v2ck_p_").toString
      Files.delete(Paths.get(d)); d
    }
    DeltaExport.create(Seq((1L, "a")).toDF("id", "s").coalesce(1), plain)
    intercept[IllegalArgumentException](
      DeltaExport.cleanupLogs(spark, plain))
  }

  test("re-checkpointing reclaims superseded checkpoints and orphan sidecars") {
    import spark.implicits._
    val t = {
      val d = Files.createTempDirectory("v2ck_gc_").toString
      Files.delete(Paths.get(d)); d
    }
    DeltaExport.create(
      (0L until 4L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    DeltaExport.checkpointV2(spark, t, maxAddsPerSidecar = 1)
    DeltaExport.append(
      Seq((10L, "x")).toDF("id", "s").coalesce(1), t)
    DeltaExport.checkpointV2(spark, t, maxAddsPerSidecar = 1)
    val logDir = Paths.get(t, "_delta_log")
    def count(p: java.nio.file.Path, pat: String): Int = {
      val l = Files.list(p)
      try l.iterator().asScala.count(_.getFileName.toString.matches(pat))
      finally l.close()
    }
    assert(count(logDir, "\\d{20}\\.checkpoint\\..*\\.parquet") == 2)
    val sidecarsBefore = count(logDir.resolve("_sidecars"), ".*\\.parquet")
    assert(sidecarsBefore >= 3, s"$sidecarsBefore") // 1 + 2 shards
    val deleted = DeltaExport.cleanupLogs(spark, t, retentionMs = 0L)
    // the superseded checkpoint, its now-orphan sidecar(s) and the
    // subsumed JSON all reclaim; the latest checkpoint's shards stay
    assert(deleted.exists(_.contains(".checkpoint.")), s"$deleted")
    assert(deleted.exists(_.startsWith("_sidecars/")), s"$deleted")
    assert(count(logDir, "\\d{20}\\.checkpoint\\..*\\.parquet") == 1)
    assert(count(logDir.resolve("_sidecars"), ".*\\.parquet") == 2)
    // state fully replays from the survivor
    assert(DeltaLog.read(spark, t).collect().map(_.getLong(0)).toSet
      == (0L until 4L).toSet + 10L)
  }

  test("timestampNtz tables behind the v3 gate read natively") {
    val table = Files.createTempDirectory("delta_ntz")
    val df = Seq(
      (1L, java.time.LocalDateTime.of(2024, 3, 5, 8, 30)),
      (2L, java.time.LocalDateTime.of(2024, 3, 5, 20, 45)))
      .toDF("id", "at")
    assert(df.schema("at").dataType == TimestampNTZType)
    val tmp = Files.createTempDirectory("ntz_part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = {
      val s = Files.list(tmp)
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.move(part, table.resolve("f1.parquet"))
    val ss = df.schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    writeCommit(table, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""",
      s"""{"metaData":{"id":"ntz-fixture","format":{"provider":"parquet","options":{}},"schemaString":"$ss","partitionColumns":[],"configuration":{},"createdTime":1700000000000}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":512,"modificationTime":1700000000000,"dataChange":true}}"""))
    val got = DeltaLog.read(spark, table.toString)
    assert(got.schema("at").dataType == TimestampNTZType,
      "NTZ must stay NTZ — an instant cast is exactly the old-reader bug")
    val rows = got.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1)))
    assert(rows.toSeq == Seq(
      (1L, java.time.LocalDateTime.of(2024, 3, 5, 8, 30)),
      (2L, java.time.LocalDateTime.of(2024, 3, 5, 20, 45))), rows.toSeq)
    // an UNKNOWN feature beside it still refuses
    writeCommit(table, 1, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz","collations-preview"],"writerFeatures":["timestampNtz","collations-preview"]}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaLog.read(spark, table.toString)
    }
    assert(e.getMessage.contains("collations-preview"), e.getMessage)
  }

  test("timestampNtz PARTITION values read through graft-delta and prune") {
    val table = Files.createTempDirectory("delta_ntz_pv")
    writeOneParquet(Seq(1L, 2L).toDF("id"),
      table.resolve("p1/f1.parquet"))
    writeOneParquet(Seq(3L).toDF("id"),
      table.resolve("p2/f2.parquet"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("at", TimestampNTZType)))
    val ss = schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    writeCommit(table, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""",
      s"""{"metaData":{"id":"ntz-pv-fixture","format":{"provider":"parquet","options":{}},"schemaString":"$ss","partitionColumns":["at"],"configuration":{},"createdTime":1700000000000}}""",
      """{"add":{"path":"p1/f1.parquet","partitionValues":{"at":"2024-03-05 08:30:00"},"dataChange":true}}""",
      """{"add":{"path":"p2/f2.parquet","partitionValues":{"at":"2024-03-06 20:45:00.5"},"dataChange":true}}"""))
    val late = java.time.LocalDateTime.of(2024, 3, 6, 20, 45, 0, 500000000)
    val want = Seq(
      (1L, java.time.LocalDateTime.of(2024, 3, 5, 8, 30)),
      (2L, java.time.LocalDateTime.of(2024, 3, 5, 8, 30)),
      (3L, late))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1))).toSeq
    val dsv2 = spark.read.format("graft-delta").load(table.toString)
    assert(dsv2.schema("at").dataType == TimestampNTZType)
    assert(rows(dsv2) == want)
    assert(rows(DeltaLog.read(spark, table.toString)) == want)
    // the exact partition value prunes the other file
    assert(rows(dsv2.filter(col("at") === lit(late))) == Seq((3L, late)))
    assert(graft.sources.dsv2.Dsv2Planning.plannedFor(table.toString) == Some((1, 2)))
  }

  private def writeOneParquet(
      df: org.apache.spark.sql.DataFrame, dest: Path): Unit = {
    val tmp = Files.createTempDirectory("v2ck_part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = {
      val s = Files.list(tmp)
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.createDirectories(dest.getParent)
    Files.move(part, dest)
  }
}
