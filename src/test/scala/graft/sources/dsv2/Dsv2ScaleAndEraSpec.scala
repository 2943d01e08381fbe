package graft.sources.dsv2

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.nio.file.Files

import graft.SparkSpec
import graft.sources.{DeleteAccess, DeltaExport, IcebergExport, IcebergReadReference, IcebergTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The r17 DSv2 SCALE contract and the multi-era read path.
  *
  * Scale: PLANNING a DSv2 scan must not read delete CONTENT — the
  * InputPartitions ship descriptors (DV coordinates, delete-file
  * paths), resolved per executor inside the PartitionReaders. Pinned
  * two ways: [[graft.sources.DeleteAccess.contentReads]] (bumped by
  * every DV/puffin/delete-file decode) must not move across
  * `planInputPartitions`, and a partition's java-serialized size must
  * be O(1) in the number of deleted rows.
  *
  * Eras: a schema-evolved (rename / lossless promotion / add / drop)
  * or partition-evolved Iceberg table reads through DSv2 row-identical
  * to [[graft.sources.IcebergReadReference]] — per-file field-id
  * resolution, per-era identity-partition attach.
  */
class Dsv2ScaleAndEraSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def serializedSize(o: AnyRef): Int = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.size()
  }

  private def deltaScan(t: String): DeltaDsv2Scan = {
    val schema = DeltaDsv2.schemaFor(spark, t, Map.empty)
    DeltaDsv2Scan(t, schema, schema, Nil, Map.empty)
  }

  private def icebergScan(t: String): IcebergDsv2Scan = {
    val schema = IcebergDsv2.plan(spark, t, Map.empty).schema
    IcebergDsv2Scan(t, schema, schema, Nil, Map.empty)
  }

  test("delta planning ships DV descriptors: no content reads, O(1) partitions") {
    def build(n: Int): String = {
      val t = tmp(s"dsv2_scale_delta_$n")
      DeltaExport.create(
        (0 until n).map(i => (i.toLong, s"v$i")).toDF("id", "s")
          .coalesce(1), t)
      DeltaExport.deleteWhere(spark, t, col("id") % 2 === 0)
      t
    }
    val small = build(8) // 4 deleted rows
    val big = build(4000) // 2000 deleted rows
    val scanBig = deltaScan(big)
    val before = DeleteAccess.contentReads.get()
    val partsBig = scanBig.toBatch.planInputPartitions()
    val statsToo = scanBig.estimateStatistics().numRows()
    assert(DeleteAccess.contentReads.get() == before,
      "planning (partitions + statistics) must not decode DV content")
    assert(partsBig.nonEmpty && statsToo.isPresent)
    val partsSmall = deltaScan(small).toBatch.planInputPartitions()
    assert(DeleteAccess.contentReads.get() == before)
    val (szS, szB) =
      (serializedSize(partsSmall.head), serializedSize(partsBig.head))
    assert(szB < 4096, s"partition must stay descriptor-sized, got $szB")
    assert(szB <= szS + 256,
      s"partition size must be O(1) in deleted rows: $szS vs $szB")
    // and the executor-side resolution still drops exactly the rows
    val got = spark.read.format("graft-delta").load(big)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == (1L until 4000L by 2).toSet)
  }

  test("iceberg planning ships delete-file paths: no content reads, O(1) partitions") {
    def build(n: Int): String = {
      val t = tmp(s"dsv2_scale_ice_$n")
      IcebergExport.create(
        (0 until n).map(i => (i.toLong, i % 7, s"v$i")).toDF("id", "g", "s")
          .coalesce(1), t)
      IcebergExport.deleteWhere(spark, t, col("id") % 2 === 0)
      IcebergExport.deleteWhereEquality(
        spark, t, Seq(Tuple1(3)).toDF("g"))
      t
    }
    val small = build(8)
    val big = build(4000)
    val scanBig = icebergScan(big)
    scanBig.p // force the plan itself
    val before = DeleteAccess.contentReads.get()
    val partsBig = scanBig.toBatch.planInputPartitions()
    scanBig.estimateStatistics()
    assert(DeleteAccess.contentReads.get() == before,
      "planning must not read position/equality delete files")
    val partsSmall = icebergScan(small).toBatch.planInputPartitions()
    assert(DeleteAccess.contentReads.get() == before)
    val (szS, szB) =
      (serializedSize(partsSmall.head), serializedSize(partsBig.head))
    assert(szB < 8192, s"partition must stay descriptor-sized, got $szB")
    assert(szB <= szS + 256,
      s"partition size must be O(1) in deleted rows: $szS vs $szB")
    val got = spark.read.format("graft-iceberg").load(big)
      .select(col("id"), col("g")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val bespoke = IcebergReadReference.read(spark, big)
      .select(col("id"), col("g")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == bespoke)
    assert(!got.exists(_._1 % 2 == 0) && !got.exists(_._2 == 3))
  }

  test("iceberg v3 puffin DV planning stays metadata-only") {
    val t = tmp("dsv2_scale_puffin")
    IcebergExport.createV3(
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "s")
        .coalesce(1), t)
    IcebergExport.deleteWhereDv(spark, t, col("id") % 3 === 0)
    val scan = icebergScan(t)
    scan.p
    val before = DeleteAccess.contentReads.get()
    scan.toBatch.planInputPartitions()
    assert(DeleteAccess.contentReads.get() == before,
      "puffin blobs must not decode at planning")
    val got = spark.read.format("graft-iceberg").load(t)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == (0L until 100L).filter(_ % 3 != 0).toSet)
  }

  // ------------------------------------------------------------ multi-era

  private def eraKey(r: org.apache.spark.sql.Row, cols: Seq[String]): Seq[Any] =
    cols.map(c => r.getAs[Any](c))

  test("schema-evolved iceberg (rename + promote + add + drop) reads via DSv2") {
    val t = tmp("dsv2_era_schema") + "/t"
    IcebergExport.create(
      Seq((1, "a", 1.0, "x1"), (2, "b", 2.0, "x2"))
        .toDF("id", "name", "score", "extra"), t)
    IcebergExport.renameColumn(t, "name", "title")
    IcebergExport.evolveType(t, "id", LongType)
    IcebergExport.addColumn(t, "lang", StringType)
    IcebergExport.dropColumn(t, "extra")
    IcebergExport.append(
      Seq((3L, "c", 3.0, "en")).toDF("id", "title", "score", "lang"), t)
    val cols = Seq("id", "title", "score", "lang")
    val dsv2 = spark.read.format("graft-iceberg").load(t)
    assert(dsv2.schema.fieldNames.toSeq == cols)
    assert(dsv2.schema("id").dataType == LongType)
    val got = dsv2.collect().map(eraKey(_, cols)).toSet
    val bespoke = IcebergReadReference.read(spark, t)
      .collect().map(eraKey(_, cols)).toSet
    assert(got == bespoke, s"\ndsv2: $got\nbespoke: $bespoke")
    assert(got == Set(
      Seq(1L, "a", 1.0, null), Seq(2L, "b", 2.0, null),
      Seq(3L, "c", 3.0, "en")))
    // old-era files resolve the RENAMED column through a pushed filter
    assert(dsv2.filter(col("title") === "a").count() == 1L)
  }

  test("partition-evolved iceberg (x32's shape) reads via DSv2, deletes spanning eras") {
    val t = tmp("dsv2_era_spec") + "/t"
    val rows = (0 until 60).map(i => (i.toLong, i % 5, s"n$i"))
      .toDF("id", "grp", "name")
    IcebergExport.create(
      rows.filter(col("id") % 2 === 0).repartition(2, col("id")), t,
      partitionBy = Seq("grp"))
    IcebergExport.updateSpec(t, Seq(("bucket[4]", "id")))
    IcebergExport.append(
      rows.filter(col("id") % 2 === 1).repartition(2, col("id")), t)
    IcebergExport.deleteWhereEquality(spark, t,
      rows.filter(col("id") % 9 === 4).select(col("id")).distinct())
    val cols = Seq("id", "grp", "name")
    val dsv2 = spark.read.format("graft-iceberg").load(t)
    val got = dsv2.collect().map(eraKey(_, cols)).toSet
    val bespoke = IcebergReadReference.read(spark, t)
      .collect().map(eraKey(_, cols)).toSet
    assert(got == bespoke, s"\ndsv2: $got\nbespoke: $bespoke")
    assert(got.nonEmpty && !got.exists(r => r.head.asInstanceOf[Long] % 9 == 4))
    // era-1 files LACK grp in-file: it must reconstruct from metadata,
    // and an exact-value filter on it must prune era-1 files
    val one = spark.read.format("graft-iceberg").load(t)
      .filter(col("grp") === 2)
    assert(one.collect().map(eraKey(_, cols)).toSet ==
      bespoke.filter(_(1) == 2))
    val Some((planned, total)) = Dsv2Planning.plannedFor(t)
    assert(planned < total, s"identity prune across eras: $planned/$total")
  }

  test("batch scans split large files at maxSplitBytes; deletes stay exact per split") {
    // one-file-per-slice caps parallelism at the file count — a big
    // file must fan out like a native scan's row-group splits, and
    // the file-absolute row-index discipline must keep position
    // deletes exact across the chunks
    val dt = tmp("dsv2_split_delta")
    DeltaExport.create(
      (0 until 20000).map(i => (i.toLong, s"v$i" * 8)).toDF("id", "s")
        .coalesce(1), dt)
    DeltaExport.deleteWhere(spark, dt, col("id") % 3 === 0)
    val it = tmp("dsv2_split_ice")
    IcebergExport.create(
      (0 until 20000).map(i => (i.toLong, s"v$i" * 8)).toDF("id", "s")
        .coalesce(1), it)
    IcebergExport.deleteWhere(spark, it, col("id") % 3 === 0)

    val saved = (
      spark.conf.get("spark.sql.files.maxPartitionBytes"),
      spark.conf.get("spark.sql.files.openCostInBytes"))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    spark.conf.set("spark.sql.files.openCostInBytes", "1024")
    try {
      val dParts = deltaScan(dt).toBatch.planInputPartitions()
      assert(dParts.length > 1,
        s"one 20k-row file must split, got ${dParts.length} partition(s)")
      val dGot = spark.read.format("graft-delta").load(dt)
        .select(col("id")).collect().map(_.getLong(0)).sorted
      assert(dGot.toSeq == (0L until 20000L).filterNot(_ % 3 == 0),
        s"split read drifted: ${dGot.length} rows")

      val iParts = icebergScan(it).toBatch.planInputPartitions()
      assert(iParts.length > 1,
        s"iceberg file must split, got ${iParts.length} partition(s)")
      val iGot = spark.read.format("graft-iceberg").load(it)
        .select(col("id")).collect().map(_.getLong(0)).sorted
      assert(iGot.toSeq == (0L until 20000L).filterNot(_ % 3 == 0),
        s"iceberg split read drifted: ${iGot.length} rows")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", saved._1)
      spark.conf.set("spark.sql.files.openCostInBytes", saved._2)
    }
    // back at the defaults, a small table stays whole-file (the open
    // cost floor) — split planning must not shred tiny scans
    assert(deltaScan(dt).toBatch.planInputPartitions().length == 1)
  }
}
