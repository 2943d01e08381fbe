package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Iceberg interop tier: [[IcebergExport]] authors the open table
  * spec (v1 metadata JSON + avro manifest lists/manifests) and
  * [[IcebergTable]] reads it back — the Delta pair's discipline for
  * the other open lakehouse format.
  */
class IcebergSpec extends SparkSpec {

  private def tmpTable(): String =
    Files.createTempDirectory("iceberg_t_").resolve("t").toString

  private def df(rows: Seq[(Long, String, Double)]) = {
    import spark.implicits._
    rows.toDF("id", "name", "score")
  }

  test("create → read round-trip with schema and types preserved") {
    val t = tmpTable()
    val in = Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, "c", 0.0))
    IcebergExport.create(df(in), t)
    val out = IcebergTable.read(spark, t)
    assert(out.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(out.schema("id").dataType.typeName == "long")
    val got = out.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == in.sortBy(_._1))
  }

  test("a data file missing from disk fails the read instead of dropping its rows") {
    val t = tmpTable()
    IcebergExport.create(
      df((0L until 100L).map(i => (i, s"n$i", i.toDouble)))
        .repartitionByRange(2, col("id")), t)
    val data = {
      val s = Files.walk(Paths.get(t))
      try s.iterator().asScala.filter(p =>
        p.getFileName.toString.endsWith(".parquet") &&
          !p.toString.contains("/metadata/")).toVector.sorted
      finally s.close()
    }
    assert(data.size == 2, data)
    Files.delete(data.head)
    val e = intercept[Exception](IcebergTable.read(spark, t).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[java.io.FileNotFoundException]),
      chain.map(_.toString).mkString("\n"))
  }

  test("append advances the snapshot; time travel reads the old one") {
    val t = tmpTable()
    val first = Seq((1L, "a", 1.0), (2L, "b", 2.0))
    val second = Seq((3L, "c", 3.0))
    val snap1 = IcebergExport.create(df(first), t)
    val snap2 = IcebergExport.append(df(second), t)
    assert(snap1 != snap2)
    assert(IcebergTable.snapshotIds(t) == Seq(snap1, snap2))
    val now = IcebergTable.read(spark, t).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(now == Seq(1L, 2L, 3L))
    val then_ = IcebergTable.read(spark, t, Some(snap1)).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(then_ == Seq(1L, 2L), "time travel to snapshot 1 drifted")
  }

  test("multiple appends: every snapshot equals its cumulative prefix") {
    val t = tmpTable()
    val batches = (0 until 4).map(b =>
      (0 until 3).map(i => (b * 10L + i, s"b$b-$i", b + i * 0.5)))
    val snaps = IcebergExport.create(df(batches.head), t) +:
      batches.tail.map(b => IcebergExport.append(df(b), t))
    snaps.zipWithIndex.foreach { case (s, i) =>
      val got = IcebergTable.read(spark, t, Some(s))
        .collect().map(_.getLong(0)).toSet
      val want = batches.take(i + 1).flatten.map(_._1).toSet
      assert(got == want, s"snapshot $i (id $s) mismatched")
    }
  }

  test("concurrent appends claim distinct versions and lose no rows") {
    val t = tmpTable()
    IcebergExport.create(df(Seq((0L, "seed", 0.0))), t)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 3).map { w =>
      Future(IcebergExport.append(
        df(Seq((w * 100L, s"w$w", w.toDouble))), t))
    }
    val ids = Await.result(Future.sequence(fs), 120.seconds)
    assert(ids.distinct.size == 3, "snapshot ids collided")
    val got = IcebergTable.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 100L, 200L, 300L), s"rows lost/duplicated: $got")
    // metadata versions are dense: v1..v4 all claimed exactly once
    (1 to 4).foreach { v =>
      assert(Files.isRegularFile(
        Paths.get(t, "metadata", s"v$v.metadata.json")),
        s"metadata v$v missing")
    }
  }

  test("version-hint is a hint: discovery survives its absence") {
    val t = tmpTable()
    IcebergExport.create(df(Seq((1L, "a", 1.0))), t)
    IcebergExport.append(df(Seq((2L, "b", 2.0))), t)
    Files.delete(Paths.get(t, "metadata", "version-hint.text"))
    val got = IcebergTable.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
    // ...and a STALE hint (written non-atomically, racing a commit)
    // must not hide the newest version: discovery probes forward
    Files.writeString(Paths.get(t, "metadata", "version-hint.text"), "1")
    val stale = IcebergTable.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(stale == Set(1L, 2L), "stale hint hid committed metadata v2")
  }

  test("reader refuses format-version 4 and delete manifests loudly") {
    val t = tmpTable()
    IcebergExport.create(df(Seq((1L, "a", 1.0))), t)
    // forge a FUTURE format version as the newest metadata (v3 is
    // implemented since r14 — the refusal now starts at 4)
    val v2 = Paths.get(t, "metadata", "v2.metadata.json")
    val v1 = Files.readString(Paths.get(t, "metadata", "v1.metadata.json"))
    Files.writeString(v2, v1.replaceFirst(
      "\"format-version\" : 1", "\"format-version\" : 4"))
    Files.writeString(Paths.get(t, "metadata", "version-hint.text"), "2")
    val e = intercept[IllegalArgumentException] {
      IcebergTable.read(spark, t)
    }
    assert(e.getMessage.contains("format-version"), e.getMessage)
    Files.delete(v2)
    Files.writeString(Paths.get(t, "metadata", "version-hint.text"), "1")

    // forge a v2-style delete manifest entry in the manifest list
    import org.apache.avro.Schema
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
    val meta = IcebergTable.metadataJson(t)
    val ml = meta.get("snapshots").elements().next()
      .get("manifest-list").asText()
    val withContent = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        {"name":"manifest_path","type":"string"},
        {"name":"manifest_length","type":"long"},
        {"name":"partition_spec_id","type":"int"},
        {"name":"content","type":"int"}
      ]}""".replaceAll("\\s+", " "))
    val r = new DataFileReader[GenericRecord](
      new java.io.File(ml), new GenericDatumReader[GenericRecord]())
    val rows = try {
      val it = r.iterator(); val b = Vector.newBuilder[GenericRecord]
      while (it.hasNext) b += it.next()
      b.result()
    } finally r.close()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](withContent))
    Files.delete(Paths.get(ml))
    w.create(withContent, new java.io.File(ml))
    try rows.foreach { old =>
      val m = new GenericData.Record(withContent)
      m.put("manifest_path", old.get("manifest_path").toString)
      m.put("manifest_length", old.get("manifest_length").toString.toLong)
      m.put("partition_spec_id", 0)
      m.put("content", 1) // deletes
      w.append(m)
    } finally w.close()
    val e2 = intercept[IllegalArgumentException] {
      IcebergTable.read(spark, t)
    }
    assert(e2.getMessage.contains("delete manifest"), e2.getMessage)
  }

  test("empty-table create round-trips schema with zero rows") {
    val t = tmpTable()
    import spark.implicits._
    IcebergExport.create(
      Seq.empty[(Long, String, Double)].toDF("id", "name", "score"), t)
    val out = IcebergTable.read(spark, t)
    assert(out.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(out.count() == 0L)
  }

  test("UniForm: Delta table converts to Iceberg over the SAME files") {
    val t = tmpTable()
    import spark.implicits._
    val first = Seq((1L, "a", 1.0), (2L, "b", 2.0))
    DeltaExport.create(first.toDF("id", "name", "score"), t)
    val snap1 = IcebergExport.fromDelta(spark, t)
    // identical rows through BOTH format readers
    val viaDelta = DeltaLog.read(spark, t).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    val viaIceberg = IcebergTable.read(spark, t).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(viaDelta == viaIceberg && viaDelta == Seq(1L, 2L))
    // ZERO data copied: the Iceberg manifest references the Delta
    // table's own parquet files
    val meta = IcebergTable.metadataJson(t)
    val snap = meta.get("snapshots").elements().next()
    val icebergFiles = IcebergTable.dataFilesOf(t, meta, snap).toSet
    val deltaFiles = DeltaLog.activeFiles(spark, t)
      .collect().map(_.getString(0)).toSet
    assert(icebergFiles == deltaFiles,
      s"conversion must reference the same files:\n $icebergFiles\n $deltaFiles")
    // re-sync after a Delta append: new snapshot sees the new rows,
    // the first sync point stays time-travelable
    DeltaExport.append(Seq((3L, "c", 3.0)).toDF("id", "name", "score"), t)
    val snap2 = IcebergExport.fromDelta(spark, t)
    assert(snap2 != snap1)
    assert(IcebergTable.read(spark, t).count() == 3L)
    assert(IcebergTable.read(spark, t, Some(snap1)).count() == 2L)
  }

  test("UniForm: Delta DELETION VECTORS convert to Iceberg position deletes") {
    val t = tmpTable()
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    DeltaExport.create(
      (0L until 20L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    DeltaExport.deleteWhere(spark, t, col("id") % 3 === 0)
    val snap1 = IcebergExport.fromDelta(spark, t)
    // the Iceberg view must NOT resurrect the DV-deleted rows
    val viaDelta = DeltaLog.read(spark, t)
      .collect().map(_.getLong(0)).toSeq.sorted
    val viaIceberg = IcebergTable.read(spark, t)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(viaIceberg == viaDelta,
      s"UniForm resurrected DV-deleted rows: $viaIceberg vs $viaDelta")
    assert(!viaIceberg.contains(0L) && !viaIceberg.contains(3L))
    // the conversion upgraded to v2 with a position-delete manifest
    val meta = IcebergTable.metadataJson(t)
    assert(meta.get("format-version").asInt() == 2)
    assert(IcebergTable.positionDeleteFiles(
      t, meta, IcebergTable.currentSnapshotNode(meta)).nonEmpty)
    // re-sync after MORE Delta deletes stays row-identical
    DeltaExport.deleteWhere(spark, t, col("id") === 7L)
    IcebergExport.fromDelta(spark, t)
    assert(IcebergTable.read(spark, t).collect().map(_.getLong(0)).sorted
      .toSeq == DeltaLog.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq)
    // Delta's vacuum must NOT reclaim the Iceberg-owned delete file
    // (it is not in the Delta log; it IS the Iceberg view's content)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 100_000_000L)
    val delFiles = IcebergTable.positionDeleteFiles(
      t, IcebergTable.metadataJson(t),
      IcebergTable.currentSnapshotNode(IcebergTable.metadataJson(t)))
    delFiles.foreach(f => java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(f), old))
    DeltaExport.vacuum(spark, t, retentionMs = 1000L)
    assert(delFiles.forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(f))),
      "Delta vacuum reclaimed an Iceberg-owned delete file")
    assert(IcebergTable.read(spark, t, Some(snap1)).count() == 13L,
      "the first sync point must stay time-travelable (20 - 7 multiples of 3)")
  }

  test("UniForm: PARTITIONED Delta converts — partition values from the log") {
    val t = tmpTable()
    import spark.implicits._
    val rows = Seq(
      (1L, "us", 1.0), (2L, "us", 2.0), (3L, "de", 3.0), (4L, "fr", 4.0))
    DeltaExport.create(rows.toDF("id", "region", "score"), t, Seq("region"))
    IcebergExport.fromDelta(spark, t)
    // identical (id, region, score) rows through BOTH format readers —
    // the partition column is reconstructed from typed manifest structs
    // on the Iceberg side and from the Delta log on the Delta side
    val viaDelta = DeltaLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val viaIceberg = IcebergTable.read(spark, t)
      .select("id", "region", "score").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(viaIceberg == rows.sortBy(_._1), s"iceberg read drifted: $viaIceberg")
    assert(viaDelta == viaIceberg)
    // zero data copied: same physical files
    val meta = IcebergTable.metadataJson(t)
    val snap = meta.get("snapshots").elements().next()
    assert(IcebergTable.dataFilesOf(t, meta, snap).toSet ==
      DeltaLog.activeFiles(spark, t).collect().map(_.getString(0)).toSet)
  }

  test("partitioned create/append round-trip: typed identity partition structs") {
    val t = tmpTable()
    import spark.implicits._
    val d = (s: String) => java.sql.Date.valueOf(s)
    val first = Seq(
      (1L, "us", d("2024-01-01"), 1.5),
      (2L, "us", d("2024-01-02"), 2.5),
      (3L, "de", d("2024-01-01"), 3.5))
      .toDF("id", "region", "day", "score")
    val snap1 = IcebergExport.create(first, t, Seq("region", "day"))
    val out = IcebergTable.read(spark, t)
    // schema order + declared types preserved, partition cols included
    assert(out.schema.fieldNames.toSeq == Seq("id", "region", "day", "score"))
    assert(out.schema("day").dataType.typeName == "date")
    val got = out.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toString,
        r.getDouble(3))).toSeq
    assert(got == Seq(
      (1L, "us", "2024-01-01", 1.5),
      (2L, "us", "2024-01-02", 2.5),
      (3L, "de", "2024-01-01", 3.5)))
    // append stages with the TABLE's spec; time travel keeps partitions
    val snap2 = IcebergExport.append(
      Seq((4L, "fr", d("2024-01-03"), 4.5)).toDF("id", "region", "day", "score"), t)
    assert(snap2 != snap1)
    assert(IcebergTable.read(spark, t).count() == 4L)
    assert(IcebergTable.read(spark, t, Some(snap1)).count() == 3L)
    val fr = IcebergTable.read(spark, t)
      .filter($"region" === "fr").collect()
    assert(fr.length == 1 && fr.head.getLong(0) == 4L)
    // the metadata carries the spec both v1-legacy and v2 style
    val meta = IcebergTable.metadataJson(t)
    assert(IcebergTable.identityPartitionSources(meta) ==
      Seq(("region", "region", 1000), ("day", "day", 1001)))
    // unsupported partition source types are refused loudly
    val e = intercept[IllegalArgumentException] {
      IcebergExport.create(
        Seq((1L, 0.5)).toDF("id", "weight"), tmpTable(), Seq("weight"))
    }
    assert(e.getMessage.contains("identity-partition source type"), e.getMessage)
  }

  test("a '+' in a partition value reads back as '+' through both read paths") {
    val t = tmpTable()
    import spark.implicits._
    IcebergExport.create(
      Seq((1L, "c++"), (2L, "a b"), (3L, "x")).toDF("id", "p"), t, Seq("p"))
    val want = Seq((1L, "c++"), (2L, "a b"), (3L, "x"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows(IcebergTable.read(spark, t).select("id", "p")) == want)
    assert(rows(spark.read.format("graft-iceberg").load(t).select("id", "p")) == want)
    assert(rows(IcebergTable.read(spark, t).filter($"p" === "c++")) == Seq((1L, "c++")))
  }

  test("append refuses a mismatched schema before staging a byte") {
    val t = tmpTable()
    import spark.implicits._
    IcebergExport.create(df(Seq((1L, "a", 1.0))), t)
    // renamed column
    val e1 = intercept[IllegalArgumentException] {
      IcebergExport.append(
        Seq((2L, "b", 2.0)).toDF("id", "title", "score"), t)
    }
    assert(e1.getMessage.contains("schema mismatch"), e1.getMessage)
    // retyped column
    val e2 = intercept[IllegalArgumentException] {
      IcebergExport.append(
        Seq((2, "b", 2.0)).toDF("id", "name", "score"), t)
    }
    assert(e2.getMessage.contains("schema mismatch"), e2.getMessage)
    // nothing was staged by either refusal, and the table still reads
    assert(IcebergTable.read(spark, t).count() == 1L)
  }

  test("out-of-spec manifest (no embedded schema): renames are refused by the footer check") {
    // field-id resolution needs the manifest's embedded write-time
    // schema (spec-required); a manifest WITHOUT it falls back to name
    // resolution, where a renamed column would silently read nulls —
    // the sampled-footer check must throw instead
    val t = tmpTable()
    IcebergExport.create(df(Seq((1L, "a", 1.0))), t)
    // strip the schema metadata off the manifest by rewriting it
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val meta = IcebergTable.metadataJson(t)
    val ml = meta.get("snapshots").elements().next()
      .get("manifest-list").asText()
    val mp = {
      val r = new DataFileReader[GenericRecord](
        new java.io.File(ml), new GenericDatumReader[GenericRecord]())
      try r.iterator().next().get("manifest_path").toString finally r.close()
    }
    val r = new DataFileReader[GenericRecord](
      new java.io.File(mp), new GenericDatumReader[GenericRecord]())
    val (rows, sch) = try {
      val it = r.iterator(); val b = Vector.newBuilder[GenericRecord]
      while (it.hasNext) b += it.next()
      (b.result(), r.getSchema)
    } finally r.close()
    Files.delete(Paths.get(mp))
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](sch))
    w.create(sch, new java.io.File(mp)) // no setMeta("schema", ...)
    try rows.foreach(w.append) finally w.close()
    // sanity: without a rename the legacy path still reads fine
    assert(IcebergTable.read(spark, t).count() == 1L)
    // forge a renamed current schema; legacy manifests cannot resolve it
    val v1 = Paths.get(t, "metadata", "v1.metadata.json")
    val renamed = Files.readString(v1)
      .replace("\"name\" : \"name\"", "\"name\" : \"title\"")
    Files.writeString(Paths.get(t, "metadata", "v2.metadata.json"), renamed)
    Files.writeString(Paths.get(t, "metadata", "version-hint.text"), "2")
    val e = intercept[IllegalArgumentException] {
      IcebergTable.read(spark, t).collect()
    }
    assert(e.getMessage.contains("rename without rewrite"), e.getMessage)
  }

  test("nested types survive the schema round-trip") {
    val t = tmpTable()
    import spark.implicits._
    val in = Seq(
      (1L, Seq(1.0, 2.0), Map("a" -> 1L), ("x", 9L)),
      (2L, Seq(3.0), Map("b" -> 2L), ("y", 8L)))
      .toDF("id", "vec", "tags", "pair")
    IcebergExport.create(in, t)
    val out = IcebergTable.read(spark, t)
    assert(out.schema("vec").dataType.typeName == "array")
    assert(out.schema("tags").dataType.typeName == "map")
    assert(out.schema("pair").dataType.typeName == "struct")
    val got = out.orderBy("id").collect()
    assert(got.length == 2)
    assert(got(0).getSeq[Double](1) == Seq(1.0, 2.0))
    assert(got(1).getStruct(3).getString(0) == "y")
  }
}
