package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The Delta writer must produce logs the from-scratch reader (and,
  * by protocol, any v1 Delta reader) replays exactly: create →
  * read-back equality with partition reconstruction, append → next
  * version with only the new files, time travel across the append
  * boundary, and contending appends claiming distinct versions.
  */
class DeltaExportSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String)] =
    df.select(col("id"), col("payload"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(_._1)

  test("create then read back: schema, rows and partition values round-trip") {
    val table = Files.createTempDirectory("delta_rt").toString
    Files.delete(Paths.get(table))
    val df = Seq(
      (1L, "a", "en"), (2L, "b", "en"), (3L, "c", "fr"))
      .toDF("id", "payload", "lang")
    DeltaExport.create(df, table, partitionBy = Seq("lang"))
    val back = DeltaLog.read(spark, table)
    assert(back.schema.fieldNames.toSeq == Seq("id", "payload", "lang"))
    assert(rows(back) == Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "fr")))
    assert(DeltaLog.version(spark, table) == 0L)
  }

  test("TIMESTAMP partition directories round-trip through readers and writers") {
    val table = Files.createTempDirectory("delta_ts_part").resolve("t").toString
    val morning = java.sql.Timestamp.valueOf("2024-01-01 09:00:00")
    val evening = java.sql.Timestamp.valueOf("2024-01-02 17:30:00")
    val df = Seq((1L, "a", morning), (2L, "b", morning), (3L, "c", evening))
      .toDF("id", "payload", "ts")
    DeltaExport.create(df, table, partitionBy = Seq("ts"))
    // the directory name keeps Spark's %3A escape of ':', and the log
    // URL-encodes that name once more
    val paths = DeltaLog.stateAt(spark, table, None).active.keys.toSeq
    assert(paths.nonEmpty && paths.forall(_.contains("%253A")), paths)
    paths.foreach(p => assert(
      Files.isRegularFile(Paths.get(DeltaLog.absPath(table, p))),
      s"$p must resolve to its file on disk"))
    def got = DeltaLog.read(spark, table).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSeq
    assert(got == Seq((1L, "a", morning), (2L, "b", morning), (3L, "c", evening)))
    // the writers' positioned scan resolves the same files
    assert(DeltaExport.deleteWhere(spark, table, col("id") === 2L).nonEmpty)
    assert(got == Seq((1L, "a", morning), (3L, "c", evening)))
  }

  test("a '+' in a partition value round-trips through readers and writers") {
    val table = Files.createTempDirectory("delta_plus_part").resolve("t").toString
    val df = Seq((1L, "a", "c++"), (2L, "b", "c++"), (3L, "c", "go"))
      .toDF("id", "payload", "lang")
    DeltaExport.create(df, table, partitionBy = Seq("lang"))
    // Spark leaves '+' unescaped in the directory name; the log
    // encodes it as %2B and keeps the value itself
    val st = DeltaLog.stateAt(spark, table, None)
    assert(st.active.values.map(_.partitionValues("lang")).toSet == Set("c++", "go"))
    def got = rows(DeltaLog.read(spark, table))
    assert(got == Seq((1L, "a", "c++"), (2L, "b", "c++"), (3L, "c", "go")))
    assert(DeltaExport.deleteWhere(spark, table, col("id") === 1L).nonEmpty)
    assert(got == Seq((2L, "b", "c++"), (3L, "c", "go")))
    assert(rows(DeltaCdf.readChangeFeed(spark, table, 1L, Some(1L))) ==
      Seq((1L, "a", "c++")))
    assert(DeltaUpdate.updateWhere(spark, table, col("lang") === "c++",
      Map("payload" -> lit("z"))).nonEmpty)
    assert(got == Seq((2L, "z", "c++"), (3L, "c", "go")))
  }

  test("a '+' in the table root keeps deletion vectors applied in the writers") {
    val table = Files.createTempDirectory("delta+root").resolve("t+1").toString
    val df = Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "fr"))
      .toDF("id", "payload", "lang")
    DeltaExport.create(df, table, partitionBy = Seq("lang"))
    def got = rows(DeltaLog.read(spark, table))
    assert(DeltaExport.deleteWhere(spark, table, col("id") === 1L).nonEmpty)
    assert(DeltaLog.stateAt(spark, table, None).active.values.exists(_.dv.nonEmpty))
    assert(got == Seq((2L, "b", "en"), (3L, "c", "fr")))
    // the vector already deletes the only matching row
    assert(DeltaExport.deleteWhere(spark, table, col("id") === 1L).isEmpty)
    // the rewrite must not bring the deleted row back
    assert(DeltaUpdate.updateWhere(spark, table, col("lang") === "en",
      Map("payload" -> lit("z"))).nonEmpty)
    assert(got == Seq((2L, "z", "en"), (3L, "c", "fr")))
  }

  test("append commits the next version; time travel sees the pre-append snapshot") {
    val table = Files.createTempDirectory("delta_ap").toString
    Files.delete(Paths.get(table))
    DeltaExport.create(
      Seq((1L, "a", "en")).toDF("id", "payload", "lang"),
      table, partitionBy = Seq("lang"))
    val v = DeltaExport.append(
      Seq((2L, "b", "fr"), (3L, "c", "en")).toDF("id", "payload", "lang"),
      table, partitionBy = Seq("lang"))
    assert(v == 1L)
    assert(rows(DeltaLog.read(spark, table)) ==
      Seq((1L, "a", "en"), (2L, "b", "fr"), (3L, "c", "en")))
    assert(rows(DeltaLog.read(spark, table, Some(0L))) == Seq((1L, "a", "en")))
  }

  test("unpartitioned tables round-trip too") {
    val table = Files.createTempDirectory("delta_np").toString
    Files.delete(Paths.get(table))
    DeltaExport.create(Seq((1L, "x"), (2L, "y")).toDF("id", "payload"), table)
    val back = DeltaLog.read(spark, table)
    assert(back.schema.fieldNames.toSeq == Seq("id", "payload"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.sortBy(_._1) == Seq((1L, "x"), (2L, "y")))
  }

  test("create refuses a table that already has a log") {
    val table = Files.createTempDirectory("delta_dup").toString
    Files.delete(Paths.get(table))
    DeltaExport.create(Seq((1L, "a")).toDF("id", "payload"), table)
    val ex = intercept[IllegalArgumentException] {
      DeltaExport.create(Seq((2L, "b")).toDF("id", "payload"), table)
    }
    assert(ex.getMessage.contains("already has a Delta log"))
  }

  test("appendBatch is exactly-once: a replayed batchId commits nothing") {
    val table = Files.createTempDirectory("delta_txn").toString
    Files.delete(Paths.get(table))
    DeltaExport.create(Seq((1L, "a")).toDF("id", "payload"), table)
    val v1 = DeltaExport.appendBatch(
      Seq((2L, "b")).toDF("id", "payload"), table, "app-1", batchId = 0L)
    assert(v1.contains(1L))
    // at-least-once redelivery of batch 0 — same or different content,
    // the txn watermark gates it
    val replay = DeltaExport.appendBatch(
      Seq((99L, "dup")).toDF("id", "payload"), table, "app-1", batchId = 0L)
    assert(replay.isEmpty, "replayed batch must be a no-op")
    assert(DeltaLog.read(spark, table).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L))
    // the next batch lands; a DIFFERENT app's batch 0 is not gated
    assert(DeltaExport.appendBatch(
      Seq((3L, "c")).toDF("id", "payload"), table, "app-1", 1L).contains(2L))
    assert(DeltaExport.appendBatch(
      Seq((4L, "d")).toDF("id", "payload"), table, "app-2", 0L).contains(3L))
    assert(DeltaLog.lastTxnVersion(spark, table, "app-1").contains(1L))
    assert(DeltaLog.lastTxnVersion(spark, table, "app-2").contains(0L))
  }

  test("checkpoint compaction preserves adds AND the txn watermark") {
    val table = Files.createTempDirectory("delta_ckw").toString
    Files.delete(Paths.get(table))
    DeltaExport.create(
      Seq((1L, "a", "en")).toDF("id", "payload", "lang"),
      table, partitionBy = Seq("lang"))
    DeltaExport.appendBatch(
      Seq((2L, "b", "fr")).toDF("id", "payload", "lang"),
      table, "sink", 0L, partitionBy = Seq("lang"))
    val v = DeltaExport.checkpoint(spark, table)
    assert(v == 1L)
    // delete every JSON the checkpoint subsumes: replay must not miss
    val dir = Paths.get(table, "_delta_log")
    Files.delete(dir.resolve(f"${0L}%020d.json"))
    Files.delete(dir.resolve(f"${1L}%020d.json"))
    assert(rows(DeltaLog.read(spark, table)) ==
      Seq((1L, "a", "en"), (2L, "b", "fr")))
    // exactly-once survives compaction: the replayed batch still skips
    assert(DeltaExport.appendBatch(
      Seq((9L, "dup", "fr")).toDF("id", "payload", "lang"),
      table, "sink", 0L, partitionBy = Seq("lang")).isEmpty)
    // and the next real batch lands on top of the checkpoint
    assert(DeltaExport.appendBatch(
      Seq((3L, "c", "en")).toDF("id", "payload", "lang"),
      table, "sink", 1L, partitionBy = Seq("lang")).contains(2L))
    assert(rows(DeltaLog.read(spark, table)) ==
      Seq((1L, "a", "en"), (2L, "b", "fr"), (3L, "c", "en")))
  }

  test("foreachBatch sink end-to-end: restart redelivery does not duplicate rows") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val table = Files.createTempDirectory("delta_stream").toString
    Files.delete(Paths.get(table))
    DeltaExport.create(
      spark.emptyDataset[(Long, String)].toDF("id", "payload"), table)
    val ckpt = Files.createTempDirectory("delta_stream_ck").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF.toDF("id", "payload").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        DeltaExport.appendBatch(b, table, "e2e-sink", id): Unit
      }
      .start()
    try {
      in.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      in.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    // redeliver BOTH already-committed batch ids (the foreachBatch
    // retry a crash between the Delta commit and the streaming
    // checkpoint write produces) — the txn watermark gates them
    assert(DeltaExport.appendBatch(
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload"),
      table, "e2e-sink", 0L).isEmpty)
    assert(DeltaExport.appendBatch(
      Seq((3L, "c")).toDF("id", "payload"),
      table, "e2e-sink", 1L).isEmpty)
    assert(DeltaLog.read(spark, table).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 3L))
  }

  test("vacuum reclaims removed files and crash orphans, never active or fresh files") {
    val table = Files.createTempDirectory("delta_vac").toString
    Files.delete(Paths.get(table))
    DeltaExport.create(
      Seq((1L, "a", "en"), (2L, "b", "fr")).toDF("id", "payload", "lang"),
      table, partitionBy = Seq("lang"))
    // tombstone the fr file via the log (remove without rewrite)
    val st = DeltaLog.activeFiles(spark, table)
      .collect().map(_.getString(0))
    val frRel = Paths.get(table).toAbsolutePath
      .relativize(Paths.get(st.find(_.contains("lang=fr")).get)).toString
    val dir = Paths.get(table, "_delta_log")
    Files.write(dir.resolve(f"${1L}%020d.json"),
      s"""{"remove":{"path":"$frRel","deletionTimestamp":1,"dataChange":true}}\n"""
        .getBytes("UTF-8"))
    // a crash orphan: staged data never referenced by any commit
    val orphan = Paths.get(table, "lang=de/orphan.parquet")
    Files.createDirectories(orphan.getParent)
    Files.write(orphan, Array[Byte](1, 2, 3))
    // age both past the retention window
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10_000_000L)
    Files.setLastModifiedTime(Paths.get(table, frRel), old)
    Files.setLastModifiedTime(orphan, old)
    // a FRESH orphan (in-flight commit's staged file) must survive
    val fresh = Paths.get(table, "lang=de/inflight.parquet")
    Files.write(fresh, Array[Byte](4, 5))
    val deleted = DeltaExport.vacuum(spark, table, retentionMs = 3600_000L)
    assert(deleted.toSet == Set(frRel, "lang=de/orphan.parquet"),
      s"vacuum deleted: $deleted")
    assert(Files.exists(fresh), "fresh unreferenced file must survive retention")
    assert(rows(DeltaLog.read(spark, table)) == Seq((1L, "a", "en")),
      "the surviving snapshot must be untouched")
  }

  test("two contending appends claim distinct versions and lose no rows") {
    val table = Files.createTempDirectory("delta_cc").toString
    Files.delete(Paths.get(table))
    DeltaExport.create(Seq((1L, "a")).toDF("id", "payload"), table)
    val dfs = Seq(
      Seq((2L, "b")).toDF("id", "payload"),
      Seq((3L, "c")).toDF("id", "payload"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val vs = Await.result(
      Future.sequence(dfs.map(d => Future(DeltaExport.append(d, table)))),
      2.minutes).toVector
    assert(vs.sorted == Vector(1L, 2L), s"contenders must split versions: $vs")
    assert(DeltaLog.read(spark, table).collect()
      .map(r => r.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }
}
