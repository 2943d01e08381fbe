package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Iceberg PARTITION EVOLUTION (r14): updateSpec changes the default
  * spec without rewriting a byte; each file era keeps its own spec,
  * the reader reconstructs identity columns PER ERA (from partition
  * metadata where the era identity-partitioned, from the data files
  * everywhere else), pruning keeps what it cannot prove, and deletes
  * cut across eras.
  */
class IcebergPartitionEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(): String =
    Files.createTempDirectory("iceberg_pe_").resolve("t").toString

  private def rows(t: String): Set[(Long, String, String, String)] =
    IcebergTable.read(spark, t)
      .select(col("id"), col("p"), col("q"), col("s"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet

  test("identity → identity evolution: each era reconstructs its own columns") {
    val t = tbl()
    val era1 = (0L until 6L).map(i =>
      (i, s"p${i % 2}", s"q${i % 3}", s"r$i"))
    IcebergExport.create(era1.toDF("id", "p", "q", "s"), t,
      partitionBy = Seq("p"))
    val newId = IcebergExport.updateSpec(t, Seq(("identity", "q")))
    assert(newId == 1)
    val era2 = (10L until 16L).map(i =>
      (i, s"p${i % 2}", s"q${i % 3}", s"r$i"))
    IcebergExport.append(era2.toDF("id", "p", "q", "s"), t)
    // era-1 files: p from metadata, q from the file;
    // era-2 files: q from metadata, p from the file
    assert(rows(t) == (era1 ++ era2).toSet,
      "every column must reconstruct correctly in BOTH eras")
    // new-era files land under the NEW hive layout
    val meta = IcebergTable.metadataJson(t)
    val paths = IcebergTable.dataFilesOf(
      t, meta, IcebergTable.currentSnapshotNode(meta))
    assert(paths.exists(_.contains("/p=")), "era-1 layout present")
    assert(paths.exists(_.contains("/q=")), "era-2 layout present")
    // both specs live in the metadata; the new one is the default
    assert(meta.get("default-spec-id").asInt() == 1)
    assert(meta.get("partition-specs").size() == 2)
  }

  test("evolution to UNPARTITIONED keeps old identity columns readable") {
    val t = tbl()
    IcebergExport.create(
      (0L until 4L).map(i => (i, s"p${i % 2}", "x", s"r$i"))
        .toDF("id", "p", "q", "s"), t, partitionBy = Seq("p"))
    IcebergExport.updateSpec(t, Nil)
    IcebergExport.append(
      Seq((10L, "pX", "x", "new")).toDF("id", "p", "q", "s"), t)
    val got = rows(t)
    assert(got.count(_._2 == "p0") == 2 && got.count(_._2 == "p1") == 2,
      "old-era identity values must come from partition metadata")
    assert(got.contains((10L, "pX", "x", "new")),
      "new-era values come from the data file itself")
  }

  test("deletes cut across partition eras; pruning keeps unprovable files") {
    val t = tbl()
    IcebergExport.create(
      (0L until 6L).map(i => (i, s"p${i % 2}", s"q$i", s"r$i"))
        .toDF("id", "p", "q", "s"), t, partitionBy = Seq("p"))
    IcebergExport.updateSpec(t, Seq(("identity", "q")))
    IcebergExport.append(
      (10L until 14L).map(i => (i, s"p${i % 2}", s"q${i % 2}", s"r$i"))
        .toDF("id", "p", "q", "s"), t)
    // equality delete across both eras
    IcebergExport.deleteWhereEquality(spark, t,
      Seq(1L, 11L).toDF("id"))
    // position delete hitting an OLD-era file
    IcebergExport.deleteWhere(spark, t, col("id") === 2L)
    assert(rows(t).map(_._1) == Set(0L, 3L, 4L, 5L, 10L, 12L, 13L))
    // pruning on p: era-2 files carry no p metadata — kept, never
    // wrongly dropped (the pre-evolution reader attached NULLS here)
    val (kept, total) = IcebergTable.prunedDataFiles(t, "p", "p0", "p0")
    assert(kept.size < total, "era-1 p=p1 files must prune")
    val keptRows = IcebergReadReference.readKeep(spark, t, kept.toSet)
      .filter(col("p") === "p0").select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(keptRows == Set(0L, 4L, 10L, 12L),
      s"pruned read lost or invented p0 rows: $keptRows")
  }

  test("compaction refuses cross-era relayouts; same-era tables still compact") {
    val t = tbl()
    IcebergExport.create(
      (0L until 4L).map(i => (i, s"p${i % 2}", "x", s"r$i"))
        .toDF("id", "p", "q", "s"), t, partitionBy = Seq("p"))
    IcebergExport.updateSpec(t, Nil)
    IcebergExport.append(
      Seq((10L, "pX", "x", "n")).toDF("id", "p", "q", "s"), t)
    val e = intercept[IllegalArgumentException] {
      IcebergExport.rewriteDataFiles(spark, t, 64L * 1024 * 1024)
    }
    assert(e.getMessage.contains("relayout"))
  }

  test("rewriteToCurrentSpec relayouts old-era files into the new spec") {
    val t = tbl()
    val era1 = (0L until 6L).map(i =>
      (i, s"p${i % 2}", s"q${i % 3}", s"r$i"))
    IcebergExport.create(era1.toDF("id", "p", "q", "s"), t,
      partitionBy = Seq("p"))
    IcebergExport.updateSpec(t, Seq(("identity", "q")))
    val era2 = (10L until 14L).map(i =>
      (i, s"p${i % 2}", s"q${i % 2}", s"r$i"))
    IcebergExport.append(era2.toDF("id", "p", "q", "s"), t)
    // deletes cutting across eras must stay applied THROUGH the
    // relayout, never resurrected
    IcebergExport.deleteWhereEquality(spark, t, Seq(11L).toDF("id"))
    IcebergExport.deleteWhere(spark, t, col("id") === 2L)
    val preRows = rows(t)
    val preSnap = IcebergTable.metadataJson(t)
      .get("current-snapshot-id").asLong()
    val (before, after) = IcebergExport.rewriteToCurrentSpec(spark, t)
    assert(after < before || after == before - 2 + rows(t).size, s"$before -> $after")
    // rows identical; every data manifest now declares the default spec
    assert(rows(t) == preRows, "the relayout must be content-preserving")
    val meta = IcebergTable.metadataJson(t)
    val snap = IcebergTable.currentSnapshotNode(meta)
    val defSpec = meta.get("default-spec-id").asInt()
    assert(IcebergTable.manifestSpecIds(snap)
      .filter(_._2 == 0).forall(_._3 == defSpec),
      "no old-spec data manifest may survive the relayout")
    // the rewritten era-1 rows live under the NEW hive layout, and the
    // old identity column p travelled into the data files
    val paths = IcebergTable.dataFilesOf(t, meta, snap)
    assert(paths.forall(_.contains("/q=")),
      s"every data file is q-partitioned now: $paths")
    // pruning on q is now provable for ALL files
    val (kept, total) = IcebergTable.prunedDataFiles(t, "q", "q0", "q0")
    assert(kept.size < total, "q pruning must drop non-q0 files")
    val keptRows = IcebergReadReference.readKeep(spark, t, kept.toSet)
      .filter(col("q") === "q0").select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(keptRows == preRows.filter(_._3 == "q0").map(_._1),
      s"pruned read after relayout: $keptRows")
    // history intact; a second relayout is a no-op; bin-packing
    // compaction is legal again on the single-era table
    assert(IcebergTable.read(spark, t, Some(preSnap))
      .select(col("id")).collect().map(_.getLong(0)).toSet
      == preRows.map(_._1))
    val (b2, a2) = IcebergExport.rewriteToCurrentSpec(spark, t)
    assert(b2 == a2, "nothing left to relayout")
    IcebergExport.rewriteDataFiles(spark, t, 64L * 1024 * 1024)
  }

  test("rewriteToCurrentSpec preserves v3 row lineage by materialization") {
    val t = tbl()
    IcebergExport.createWithSpec(
      (0L until 6L).map(i => (i, s"p${i % 2}", s"r$i"))
        .toDF("id", "p", "s"),
      t, Seq(("identity", "p")), formatVersion = 3)
    IcebergExport.updateSpec(t, Nil) // evolve to unpartitioned
    IcebergExport.append(
      Seq((10L, "pX", "n")).toDF("id", "p", "s").coalesce(1), t)
    IcebergExport.deleteWhereDv(spark, t, col("id") === 3L)
    val pre = IcebergTable.readLineage(spark, t)
      .select(col("id"), col("_row_id"),
        col("_last_updated_sequence_number")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val preNext = IcebergTable.metadataJson(t).get("next-row-id").asLong()
    IcebergExport.rewriteToCurrentSpec(spark, t)
    val post = IcebergTable.readLineage(spark, t)
      .select(col("id"), col("_row_id"),
        col("_last_updated_sequence_number")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(post == pre, s"lineage through the relayout:\n$post\nvs\n$pre")
    assert(IcebergTable.metadataJson(t).get("next-row-id").asLong()
      == preNext, "the relayout assigns no new row ids")
  }

  test("a changelog spans the evolution boundary") {
    val t = tbl()
    IcebergExport.create(
      (0L until 4L).map(i => (i, s"p${i % 2}", "x", s"r$i"))
        .toDF("id", "p", "q", "s"), t, partitionBy = Seq("p"))
    IcebergExport.updateSpec(t, Seq(("identity", "q")))
    IcebergExport.append(
      Seq((10L, "pA", "qA", "n")).toDF("id", "p", "q", "s"), t)
    val got = IcebergChangelog.changelog(spark, t)
      .select(col("id"), col("p"), col("q"), col("_change_type"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(got == ((0L until 4L).map(i =>
      (i, s"p${i % 2}", "x", "insert")).toSet +
      ((10L, "pA", "qA", "insert"))),
      s"changelog drifted across the spec boundary: $got")
  }
}
