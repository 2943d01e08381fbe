package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Log-level file skipping + OPTIMIZE at the Delta layer: add.stats
  * (footer min/max) written on every commit, range reads pruning
  * files from the LOG before any scan, bin-packing compaction and
  * Z-ORDER rewrites as dataChange:false commits that keep rows,
  * stats, and time travel intact.
  */
class DeltaSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(): String =
    Files.createTempDirectory("delta_skip_").resolve("t").toString

  /** Three one-file commits with DISJOINT id ranges. */
  private def threeFiles(): String = {
    val t = tbl()
    DeltaExport.create(
      (0L until 10L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    DeltaExport.append(
      (10L until 20L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    DeltaExport.append(
      (20L until 30L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    t
  }

  test("add.stats carry footer min/max; prunedFiles skips disjoint ranges") {
    val t = threeFiles()
    val (kept, total) = DeltaLog.prunedFiles(spark, t, "id", 12L, 18L)
    assert(total == 3 && kept.size == 1,
      s"[12,18] lives in exactly the middle file: $kept of $total")
    val (kept2, _) = DeltaLog.prunedFiles(spark, t, "id", 9L, 10L)
    assert(kept2.size == 2, "a boundary-straddling range keeps both files")
    val (kept3, _) = DeltaLog.prunedFiles(spark, t, "id", 100L, 200L)
    assert(kept3.isEmpty, "an out-of-domain range keeps nothing")
  }

  test("readRange equals the unpruned filtered read, row for row") {
    val t = threeFiles()
    val pruned = DeltaLog.readRange(spark, t, "id", 7L, 23L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val full = DeltaLog.read(spark, t)
      .filter(col("id").between(7L, 23L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pruned == full && full.size == 17, s"pruned read drifted")
  }

  test("string stats prune in UTF-8 order: a supplementary-plane max is kept") {
    // U+1F600 lies inside [U+E000, U+10FFFF] by code point, but its
    // UTF-16 surrogate pair sorts BELOW U+E000: a UTF-16 comparison
    // of the file's max against the bound would skip the file
    val t = tbl()
    DeltaExport.create(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t)
    DeltaExport.append(Seq((3L, "\uD83D\uDE00")).toDF("id", "s").coalesce(1), t)
    val (lo, hi) = ("\uE000", "\uDBFF\uDFFF")
    val full = DeltaLog.read(spark, t).filter(col("s").between(lo, hi))
      .collect().map(_.getLong(0)).toSet
    assert(full == Set(3L))
    val ranged = DeltaLog.readRange(spark, t, "s", lo, hi)
      .collect().map(_.getLong(0)).toSet
    assert(ranged == full, s"readRange dropped rows: $ranged")
    val (kept, total) = DeltaLog.prunedFiles(spark, t, "s", lo, hi)
    assert(total == 2 && kept.size == 1, s"$kept of $total")
  }

  test("ISO-'T' timestamp stats compare temporally against Timestamp bounds") {
    // foreign delta-spark tables write timestamp stats in ISO 'T'
    // form; java.sql.Timestamp.toString uses a space. 'T' > ' ', so a
    // lexicographic compare inverts same-day bounds and DROPS matching
    // files. Author the foreign stat form by hand and probe with
    // Timestamp bounds.
    val t = tbl()
    DeltaExport.create(
      Seq((1L, "x")).toDF("id", "s").coalesce(1), t)
    val rel = DeltaLog.activeFiles(spark, t).collect().map(_.getString(0))
      .map(p => java.nio.file.Paths.get(t).toAbsolutePath
        .relativize(java.nio.file.Paths.get(p)).toString).head
    val dir = java.nio.file.Paths.get(t, "_delta_log")
    // replace the add with one carrying a foreign ts stat column
    Files.writeString(dir.resolve(f"${1L}%020d.json"),
      s"""{"remove":{"path":"$rel","deletionTimestamp":1700000000000,"dataChange":false}}
{"add":{"path":"$rel","partitionValues":{},"size":512,"modificationTime":1700000000000,"dataChange":false,"stats":"{\\"numRecords\\":1,\\"minValues\\":{\\"ts\\":\\"2024-03-05T08:00:00.000Z\\"},\\"maxValues\\":{\\"ts\\":\\"2024-03-05T20:00:00.000Z\\"}}"}}
""")
    def probe(lo: String, hi: String): Int =
      DeltaLog.prunedFiles(spark, t, "ts",
        java.sql.Timestamp.valueOf(lo), java.sql.Timestamp.valueOf(hi))._1.size
    // same-day overlap: lexicographic 'T' vs ' ' used to prune this
    assert(probe("2024-03-05 10:00:00", "2024-03-05 12:00:00") == 1,
      "a same-day overlapping Timestamp range must keep the file")
    // genuinely disjoint ranges still prune
    assert(probe("2024-03-06 00:00:00", "2024-03-07 00:00:00") == 0)
    assert(probe("2024-03-04 00:00:00", "2024-03-05 07:00:00") == 0)
    // boundary-inclusive on both ends
    assert(probe("2024-03-05 20:00:00", "2024-03-05 23:00:00") == 1)
    assert(probe("2024-03-05 00:00:00", "2024-03-05 08:00:00") == 1)
    // plain-string bounds on string-ish stats stay lexicographic
    val (keptStr, _) = DeltaLog.prunedFiles(spark, t, "ts",
      "2024-03-05T00:00:00.000Z", "2024-03-05T09:00:00.000Z")
    assert(keptStr.size == 1)
  }

  test("a column with only nulls in a file prunes that file; rows still match") {
    val t = tbl()
    DeltaExport.create(
      Seq((1L, Some(5L)), (2L, Some(9L))).toDF("id", "v").coalesce(1), t)
    DeltaExport.append(
      Seq((3L, None: Option[Long]), (4L, None)).toDF("id", "v").coalesce(1), t)
    val (kept, total) = DeltaLog.prunedFiles(spark, t, "v", 0L, 100L)
    assert(total == 2 && kept.size == 1,
      "the all-null file can never match a range predicate")
    val got = DeltaLog.readRange(spark, t, "v", 0L, 100L)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
  }

  test("stats survive checkpoint compaction") {
    val t = threeFiles()
    DeltaExport.checkpoint(spark, t)
    val dir = java.nio.file.Paths.get(t, "_delta_log")
    (0L to 2L).foreach(v =>
      Files.delete(dir.resolve(f"$v%020d.json")))
    val (kept, total) = DeltaLog.prunedFiles(spark, t, "id", 12L, 18L)
    assert(total == 3 && kept.size == 1,
      "pruning must work from the checkpoint alone")
  }

  test("compact bin-packs small files; rows, stats and time travel intact") {
    val t = tbl()
    (0 until 4).foreach { b =>
      val df = (b * 10L until (b + 1) * 10L).map(i => (i, s"r$i"))
        .toDF("id", "s").coalesce(1)
      if (b == 0) DeltaExport.create(df, t) else DeltaExport.append(df, t)
    }
    val preVersion = DeltaLog.version(spark, t)
    val preRows = DeltaLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val (before, after) = DeltaExport.compact(spark, t, 1024L * 1024L)
    assert(before == 4 && after == 1, s"expected 4 → 1 files, got $before → $after")
    val postRows = DeltaLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(postRows == preRows, "compaction must not change a row")
    // the commit is dataChange:false (streaming sources must skip it)
    val commit = Files.readString(java.nio.file.Paths.get(
      t, "_delta_log", f"${preVersion + 1}%020d.json"))
    assert(commit.contains("\"dataChange\":false") &&
      !commit.contains("\"dataChange\":true"))
    assert(commit.contains("OPTIMIZE"))
    // new file's stats cover the whole domain → skipping still works
    val (kept, total) = DeltaLog.prunedFiles(spark, t, "id", 5L, 6L)
    assert(total == 1 && kept.size == 1)
    // time travel to the pre-compaction snapshot still reads
    assert(DeltaLog.read(spark, t, Some(preVersion)).count() == 40L)
  }

  test("compact APPLIES deletion vectors: purged rewrite, nothing resurrected") {
    val t = tbl()
    DeltaExport.create(
      (0L until 10L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    DeltaExport.append(
      (10L until 20L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    DeltaExport.deleteWhere(spark, t, col("id") % 4 === 0)
    val pre = DeltaLog.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(!pre(0L) && !pre(4L) && !pre(16L))
    val preVersion = DeltaLog.version(spark, t)
    val (before, after) = DeltaExport.compact(spark, t, 64L * 1024 * 1024)
    assert(before == 2 && after == 1, s"$before → $after")
    // deleted rows stay deleted — and are PHYSICALLY purged (the new
    // file carries no DV and no dead rows)
    val post = DeltaLog.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(post == pre, s"compaction resurrected: ${post.diff(pre)}")
    val st = DeltaLog.activeFiles(spark, t).collect().map(_.getString(0))
    assert(st.length == 1)
    val raw = spark.read.parquet(st.head).count()
    assert(raw == pre.size.toLong,
      s"the rewrite must purge DV'd rows physically: $raw raw vs ${pre.size}")
    // time travel to the pre-compaction version still applies the DV
    assert(DeltaLog.read(spark, t, Some(preVersion))
      .collect().map(_.getLong(0)).toSet == pre)
    // and the OPTIMIZE commit is dataChange:false
    val commit = Files.readString(java.nio.file.Paths.get(
      t, "_delta_log", f"${preVersion + 1}%020d.json"))
    assert(!commit.contains("\"dataChange\":true"),
      "OPTIMIZE must not signal a content change")
  }

  test("compact respects partition boundaries") {
    val t = tbl()
    DeltaExport.create(
      Seq((1L, "us"), (2L, "us"), (3L, "de")).toDF("id", "region"),
      t, Seq("region"))
    DeltaExport.append(
      Seq((4L, "us"), (5L, "de")).toDF("id", "region"), t, Seq("region"))
    DeltaExport.compact(spark, t, 1024L * 1024L)
    val got = DeltaLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "us"), (2L, "us"), (3L, "de"), (4L, "us"), (5L, "de")),
      s"partition values must survive compaction: $got")
    // every us-file holds only us rows: partition pruning by dir intact
    val active = DeltaLog.activeFiles(spark, t).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(active.forall { case (f, region) => f.contains(s"region=$region") })
  }

  test("zorder tightens BOTH dimensions' per-file spans; range reads skip most files") {
    val t = tbl()
    // a 32×32 grid appended in x-SLICES: the raw layout is tight on x,
    // with y spanning the full domain in every file
    (0 until 4).foreach { b =>
      val rows = for {
        x <- (b * 8) until ((b + 1) * 8); y <- 0 until 32
      } yield (x.toLong, y.toLong, x * 100L + y)
      val df = rows.toDF("x", "y", "payload").coalesce(1)
      if (b == 0) DeltaExport.create(df, t) else DeltaExport.append(df, t)
    }
    // raw layout: a y-range prunes NOTHING
    val (keptRawY, totalRaw) = DeltaLog.prunedFiles(spark, t, "y", 3L, 5L)
    assert(totalRaw == 4 && keptRawY.size == 4,
      "x-sliced layout cannot prune on y")
    val pre = DeltaLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    DeltaExport.zorder(spark, t, "x", "y", nFiles = 16)
    val post = DeltaLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(post == pre, "zorder must not change a row")
    // z-ordered: BOTH dimensions' range probes skip most files
    val (keptX, totalZ) = DeltaLog.prunedFiles(spark, t, "x", 3L, 5L)
    val (keptY, _) = DeltaLog.prunedFiles(spark, t, "y", 3L, 5L)
    assert(totalZ == 16, s"expected 16 z-files, got $totalZ")
    assert(keptX.size <= totalZ / 2 && keptY.size <= totalZ / 2,
      s"z-order must prune BOTH dims: x keeps ${keptX.size}, " +
        s"y keeps ${keptY.size} of $totalZ")
    // and the pruned reads stay exact
    val got = DeltaLog.readRange(spark, t, "y", 3L, 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == pre.filter(r => r._2 >= 3 && r._2 <= 5).map(r => (r._1, r._2)))
  }
}
