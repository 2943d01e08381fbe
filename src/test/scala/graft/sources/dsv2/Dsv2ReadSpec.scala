package graft.sources.dsv2

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.{DeltaExport, DeltaReadReference, IcebergExport, IcebergTable}
import org.apache.spark.sql.functions._

/** The DataSourceV2 read path: `spark.read.format("graft-delta")` /
  * `format("graft-iceberg")` must (a) return exactly the rows the
  * bespoke readers return — deletion vectors, position deletes,
  * equality deletes and partition reconstruction included — and
  * (b) PRUNE at the file level from planner-pushed filters, asserted
  * through the [[Dsv2Planning]] file counter (the "a plain
  * spark.read user gets the skipping" contract).
  */
class Dsv2ReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rows100 =
    (0 until 100).map(i => (i.toLong, i % 7, s"name_$i"))
      .toDF("id", "grp", "name")

  // ----------------------------------------------------------------- delta

  test("graft-delta reads what DeltaLog.read reads (DV delete applied)") {
    val t = tmp("dsv2_delta")
    DeltaExport.create(
      rows100.repartitionByRange(4, col("id")).sortWithinPartitions("id"), t)
    DeltaExport.deleteWhere(spark, t, col("id") % 10 === 3)
    val bespoke = DeltaReadReference.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val dsv2 = spark.read.format("graft-delta").load(t)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(dsv2 == bespoke)
    assert(dsv2.size == 90 && !dsv2.exists(_._1 == 3L))
  }

  test("pushed filter prunes files via add.stats; rows still exact") {
    val t = tmp("dsv2_delta_prune")
    // 4 range-disjoint files: id ∈ [0,25) [25,50) [50,75) [75,100)
    DeltaExport.create(
      rows100.repartitionByRange(4, col("id")).sortWithinPartitions("id"), t)
    val got = spark.read.format("graft-delta").load(t)
      .filter(col("id") >= 80L)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == (80L until 100L).toSet)
    val Some((planned, total)) = Dsv2Planning.plannedFor(t)
    assert(total == 4, s"expected 4 data files, saw $total")
    assert(planned == 1,
      s"id >= 80 must prune to the one matching file, planned $planned")
    // the pushed filters surface in the scan's explain description
    val plan = spark.read.format("graft-delta").load(t)
      .filter(col("id") >= 80L).queryExecution.executedPlan.toString
    assert(plan.contains("graft-delta"), plan)
  }

  test("column pruning reaches the scan (select two of three)") {
    val t = tmp("dsv2_delta_cols")
    DeltaExport.create(rows100.coalesce(1), t)
    val df = spark.read.format("graft-delta").load(t).select("name", "id")
    assert(df.columns.toSeq == Seq("name", "id"))
    assert(df.collect().map(_.getLong(1)).toSet == (0L until 100L).toSet)
    // empty projection (pure count) still works
    assert(spark.read.format("graft-delta").load(t).count() == 100L)
  }

  test("partitioned delta table: values reconstructed, partition filter prunes") {
    val t = tmp("dsv2_delta_part")
    DeltaExport.create(rows100, t, partitionBy = Seq("grp"))
    val all = spark.read.format("graft-delta").load(t)
    assert(all.schema.fieldNames.toSet == Set("id", "grp", "name"))
    val bespoke = DeltaReadReference.read(spark, t)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("grp"))).toSet
    assert(all.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("grp"))).toSet == bespoke)
    val one = spark.read.format("graft-delta").load(t)
      .filter(col("grp") === 2)
    assert(one.collect().map(_.getAs[Long]("id")).toSet ==
      (0L until 100L).filter(_ % 7 == 2).toSet)
    val Some((planned, total)) = Dsv2Planning.plannedFor(t)
    assert(total >= 7 && planned < total,
      s"partition filter must prune ($planned/$total)")
  }

  test("versionAsOf option time travels") {
    val t = tmp("dsv2_delta_tt")
    DeltaExport.create(rows100.coalesce(1), t)
    DeltaExport.deleteWhere(spark, t, col("id") < 50L)
    assert(spark.read.format("graft-delta")
      .option("versionAsOf", "0").load(t).count() == 100L)
    assert(spark.read.format("graft-delta").load(t).count() == 50L)
  }

  // ---- column mapping (r17: the DSv2 refusal lifted) ---------------

  import java.nio.file.Path
  import org.apache.spark.sql.types._
  import scala.jdk.CollectionConverters._

  private def writeCommit(
      table: Path, version: Long, lines: Seq[String]): Unit = {
    val dir = table.resolve("_delta_log")
    Files.createDirectories(dir)
    Files.write(dir.resolve(f"$version%020d.json"),
      lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def mapMeta(id: Long, phys: String): Metadata =
    new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys)
      .build()

  private val cmSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = true, mapMeta(1, "col-aa11")),
    StructField("body", StringType, nullable = true, mapMeta(2, "col-bb22")),
    StructField("info",
      StructType(Seq(
        StructField("words", LongType, nullable = true, mapMeta(4, "col-dd44")))),
      nullable = true, mapMeta(3, "col-cc33")),
    StructField("region", StringType, nullable = true, mapMeta(5, "col-ee55"))))

  private def cmMetaData(mode: String): String = {
    val ss = cmSchema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"metaData":{"id":"cm-dsv2","format":{"provider":"parquet","options":{}},"schemaString":"$ss","partitionColumns":["region"],"configuration":{"delta.columnMapping.mode":"$mode","delta.columnMapping.maxColumnId":"5"},"createdTime":1700000000000}}"""
  }

  private def fid(id: Long): Metadata =
    new MetadataBuilder().putLong("parquet.field.id", id).build()

  /** One parquet file with PHYSICAL column names (optionally carrying
    * footer field-ids for the id-mode fixture).
    */
  private def writePhysFile(
      table: Path, rel: String, rows: Seq[(Long, String, Long)],
      prefix: String, withIds: Boolean): Unit = {
    val tmp = Files.createTempDirectory("dsv2_cm_part")
    def named(c: org.apache.spark.sql.Column, n: String, id: Long) =
      if (withIds) c.as(n, fid(id)) else c.as(n)
    rows.toDF("a", "b", "w")
      .select(
        named(col("a"), s"$prefix-aa11", 1),
        named(col("b"), s"$prefix-bb22", 2),
        named(struct(named(col("w"), s"$prefix-dd44", 4)),
          s"$prefix-cc33", 3))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = {
      val s = Files.list(tmp)
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    val dest = table.resolve(rel)
    Files.createDirectories(dest.getParent)
    Files.move(part, dest)
  }

  private def makeCmTable(mode: String): Path = {
    val table = Files.createTempDirectory(s"dsv2_delta_cm_$mode")
    val ids = mode == "id"
    writePhysFile(table, "f1.parquet",
      Seq((1L, "alpha", 5L), (2L, "beta", 7L)), "col", ids)
    // id-mode's second file uses DIFFERENT physical names for the same
    // ids — exactly why id mode cannot resolve by name
    writePhysFile(table, "f2.parquet", Seq((3L, "gamma", 9L)),
      if (ids) "renamed" else "col", ids)
    writeCommit(table, 0, Seq(
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      cmMetaData(mode),
      // partitionValues and stats keyed by PHYSICAL names
      """{"add":{"path":"f1.parquet","partitionValues":{"col-ee55":"us"},"size":512,"modificationTime":1700000000000,"dataChange":true,"stats":"{\"numRecords\":2,\"minValues\":{\"col-aa11\":1},\"maxValues\":{\"col-aa11\":2}}"}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{"col-ee55":"de"},"size":512,"modificationTime":1700000000000,"dataChange":true,"stats":"{\"numRecords\":1,\"minValues\":{\"col-aa11\":3},\"maxValues\":{\"col-aa11\":3}}"}}"""))
    table
  }

  for (mode <- Seq("name", "id"))
    test(s"$mode-mode column-mapped table reads through DSv2 (= bespoke)") {
      val t = makeCmTable(mode).toString
      val dsv2 = spark.read.format("graft-delta").load(t)
      assert(dsv2.schema.fieldNames.toSeq ==
        Seq("doc_id", "body", "info", "region"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("doc_id"), r.getAs[String]("body"),
          r.getAs[org.apache.spark.sql.Row]("info").getLong(0),
          r.getAs[String]("region"))
      val got = dsv2.collect().map(key).toSet
      val bespoke = DeltaReadReference.read(spark, t)
        .collect().map(key).toSet
      assert(got == bespoke && got == Set(
        (1L, "alpha", 5L, "us"), (2L, "beta", 7L, "us"),
        (3L, "gamma", 9L, "de")), s"$mode: $got")
      // physical-keyed stats prune from a LOGICAL-name filter …
      val pruned = spark.read.format("graft-delta").load(t)
        .filter(col("doc_id") >= 3L)
      assert(pruned.collect().map(key).toSet ==
        Set((3L, "gamma", 9L, "de")))
      val Some((planned, total)) = Dsv2Planning.plannedFor(t)
      assert(total == 2 && planned == 1, s"$mode: $planned/$total")
      // … and so do physical-keyed partition values
      val one = spark.read.format("graft-delta").load(t)
        .filter(col("region") === "us")
      assert(one.collect().map(key).map(_._1).toSet == Set(1L, 2L))
      val Some((planned2, _)) = Dsv2Planning.plannedFor(t)
      assert(planned2 == 1, s"$mode partition prune: $planned2")
    }

  // --------------------------------------------------------------- iceberg

  test("graft-iceberg reads what IcebergTable.read reads (pos + eq deletes)") {
    val t = tmp("dsv2_iceberg")
    IcebergExport.create(
      rows100.repartitionByRange(4, col("id")).sortWithinPartitions("id"), t)
    IcebergExport.deleteWhere(spark, t, col("id") % 5 === 0)
    IcebergExport.deleteWhereEquality(
      spark, t, Seq(1, 3).map(g => Tuple1(g)).toDF("grp"))
    val bespoke = IcebergTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val dsv2 = spark.read.format("graft-iceberg").load(t)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(dsv2 == bespoke)
    assert(!dsv2.exists(_._1 % 5 == 0) && !dsv2.exists(r =>
      r._2 == 1 || r._2 == 3))
    assert(dsv2.nonEmpty)
  }

  test("iceberg manifest bounds prune files from a pushed filter") {
    val t = tmp("dsv2_iceberg_prune")
    IcebergExport.create(
      rows100.repartitionByRange(4, col("id")).sortWithinPartitions("id"), t)
    val got = spark.read.format("graft-iceberg").load(t)
      .filter(col("id") < 20L)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(got == (0L until 20L).toSet)
    val Some((planned, total)) = Dsv2Planning.plannedFor(t)
    assert(total == 4 && planned == 1, s"$planned/$total")
  }

  test("identity-partitioned iceberg: values attach from metadata, filter prunes") {
    val t = tmp("dsv2_iceberg_idpart")
    IcebergExport.create(rows100, t, partitionBy = Seq("grp"))
    val bespoke = IcebergTable.read(spark, t)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("grp"))).toSet
    val dsv2 = spark.read.format("graft-iceberg").load(t)
    assert(dsv2.schema.fieldNames.toSet == Set("id", "grp", "name"))
    assert(dsv2.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("grp"))).toSet == bespoke)
    val one = spark.read.format("graft-iceberg").load(t)
      .filter(col("grp") === 4)
    assert(one.collect().map(_.getAs[Long]("id")).toSet ==
      (0L until 100L).filter(_ % 7 == 4).toSet)
    val Some((planned, total)) = Dsv2Planning.plannedFor(t)
    assert(total >= 7 && planned < total,
      s"identity-partition filter must prune ($planned/$total)")
  }

  test("iceberg snapshotId option time travels; eq deletes stay seq-scoped") {
    val t = tmp("dsv2_iceberg_tt")
    IcebergExport.create(rows100.coalesce(1), t)
    val snaps0 = IcebergTable.snapshotIds(t)
    IcebergExport.deleteWhereEquality(
      spark, t, Seq(Tuple1(0)).toDF("grp"))
    // rows APPENDED after the delete carry a higher sequence number:
    // the old equality delete must NOT touch them
    IcebergExport.append(
      Seq((1000L, 0, "post_delete")).toDF("id", "grp", "name"), t)
    val cur = spark.read.format("graft-iceberg").load(t)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(cur.contains((1000L, 0)), "post-delete append must survive")
    assert(!cur.exists(r => r._2 == 0 && r._1 != 1000L))
    val asOf = spark.read.format("graft-iceberg")
      .option("snapshotId", snaps0.head.toString).load(t)
    assert(asOf.count() == 100L)
    val sameAsBespoke = IcebergTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(cur == sameAsBespoke)
  }
}
