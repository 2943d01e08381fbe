package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Delta writer's commit protocol under failure and contention:
  * a crash before the claim publishes nothing, a redelivered batch
  * lands as the next version, a contended upsert aborts rather than
  * commit against a stale snapshot, and a reader that re-resolves
  * while commits land always sees one whole version.
  */
class DeltaCommitProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(): String = {
    val t = Files.createTempDirectory("delta_protocol_").toString
    Files.delete(Paths.get(t))
    t
  }

  private def rows(t: String): Seq[(Long, String)] =
    DeltaLog.read(spark, t).orderBy("id").as[(Long, String)].collect().toSeq

  /** The parquet file of `df`, written as a crashed writer's staged
    * data file: inside the table tree, named by no commit.
    */
  private def stageOrphan(t: String, df: DataFrame): Path = {
    val stage = Files.createTempDirectory("delta_protocol_stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val listing = Files.list(stage)
    val part =
      try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally listing.close()
    Files.move(part, Paths.get(t, s"orphan-${part.getFileName}"))
  }

  private def changes(kv: (Long, String)*): DataFrame =
    kv.map { case (k, v) => (k, v, "update_postimage") }
      .toDF("id", "s", "_change_type")

  test("a commit that crashes before its claim leaves readers on the last version") {
    val t = tbl()
    DeltaExport.create(Seq((1L, "old")).toDF("id", "s"), t)
    // the crash window: the data file is in the table and the commit
    // body is written whole to its temp file, but never linked to a
    // version name
    val orphan = stageOrphan(t, Seq((1L, "half-committed")).toDF("id", "s"))
    val rel = Paths.get(t).relativize(orphan).toString
    Files.write(Paths.get(t, "_delta_log", ".tmp-crashed"),
      s"""{"add":{"path":"$rel","partitionValues":{},"size":${Files.size(orphan)},"modificationTime":0,"dataChange":true}}\n"""
        .getBytes(StandardCharsets.UTF_8))
    assert(DeltaLog.version(spark, t) == 0L, "the version moved without a claim")
    assert(rows(t) == Seq((1L, "old")))
    // the next writer claims version 1, and the orphan stays in no version
    assert(DeltaExport.append(Seq((2L, "next")).toDF("id", "s"), t) == 1L)
    assert(rows(t) == Seq((1L, "old"), (2L, "next")))
    assert(!DeltaLog.stateAt(spark, t, None).active.keySet.contains(rel))
  }

  test("a crashed attempt's batch lands as the next version when redelivered") {
    val t = tbl()
    DeltaExport.create(Seq((1L, "old")).toDF("id", "s"), t)
    // batch 0's first attempt staged its rewrite and crashed unclaimed
    val orphan = stageOrphan(t, Seq((1L, "crashed")).toDF("id", "s"))
    val v = DeltaMerge.applyChanges(spark, t, changes((1L, "retried")),
      Seq("id"), Some(("app", 0L)))
    assert(v.contains(1L), "the redelivered batch must commit, not collide")
    assert(rows(t) == Seq((1L, "retried")))
    assert(Files.exists(orphan), "the orphan is vacuum's to reclaim")
    // batch 0 is now recorded: a further redelivery commits nothing
    assert(DeltaMerge.applyChanges(spark, t, changes((1L, "again")),
      Seq("id"), Some(("app", 0L))).isEmpty)
    assert(DeltaLog.version(spark, t) == 1L)
  }

  test("two contending upserts: the loser aborts, commits nothing stale, and lands when re-run") {
    val t = tbl()
    DeltaExport.create(
      (0L until 4L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    DeltaExport.append(
      (4L until 8L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    def upsert(k: Long, s: String, beforeCommit: () => Unit = () => ()) =
      DeltaMerge.merge(spark, t, Seq((k, s)).toDF("id", "s"), Seq("id"),
        Some(DeltaMerge.UpdateAll), insertNotMatched = true, beforeCommit)
    // B's upsert commits inside A's read -> commit window
    val e = intercept[java.util.ConcurrentModificationException] {
      upsert(1L, "A", () => { upsert(5L, "B"); () })
    }
    assert(e.getMessage.contains("MERGE conflict"))
    assert(DeltaLog.version(spark, t) == 2L, "the loser committed a version")
    val afterAbort = rows(t).toMap
    assert(afterAbort(1L) == "r1" && afterAbort(5L) == "B")
    // the re-run reads B's commit and lands on top of it
    assert(upsert(1L, "A").contains(3L))
    assert(rows(t) == (0L until 8L).map(i => (i, s"r$i"))
      .map { case (1L, _) => (1L, "A"); case (5L, _) => (5L, "B"); case r => r })
  }

  /** The active data files of the latest version, table-relative. */
  private def activeFiles(t: String): Set[String] =
    DeltaLog.stateAt(spark, t, None).active.values
      .map(a => DeltaLog.decodePath(a.path)).toSet

  test("an applyChanges upsert replaces batch keys, carries other keys over and appends new keys") {
    val t = tbl()
    DeltaExport.create(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), t)
    val batch = Seq((2L, "B", "update_postimage"), (4L, "d", "insert"))
      .toDF("id", "s", "_change_type")
    assert(DeltaMerge.applyChanges(spark, t, batch, Seq("id"),
      Some(("app", 0L))).contains(1L))
    assert(rows(t) == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
  }

  test("a replayed applyChanges batch commits nothing: same version, same rows, no new data file") {
    val t = tbl()
    DeltaExport.create(Seq((1L, "a")).toDF("id", "s"), t)
    assert(DeltaMerge.applyChanges(spark, t, changes((2L, "b")),
      Seq("id"), Some(("app", 0L))).contains(1L))
    val before = rows(t)
    val files = DeltaExport.listParquet(Paths.get(t))
    // redelivery with different content: the txn watermark gates it
    assert(DeltaMerge.applyChanges(spark, t, changes((2L, "CHANGED")),
      Seq("id"), Some(("app", 0L))).isEmpty)
    assert(DeltaLog.version(spark, t) == 1L)
    assert(rows(t) == before)
    assert(DeltaExport.listParquet(Paths.get(t)) == files,
      "the replay staged a data file")
  }

  test("vacuum after applyChanges reclaims stale superseded files and orphans; active and fresh files survive") {
    val t = tbl()
    DeltaExport.create(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t)
    DeltaExport.append(Seq((3L, "c"), (4L, "d")).toDF("id", "s").coalesce(1), t)
    val v0 = activeFiles(t)
    DeltaMerge.applyChanges(spark, t, changes((1L, "A")), Seq("id"), Some(("app", 0L)))
    val superseded = v0 -- activeFiles(t)
    assert(superseded.size == 1, s"the upsert should rewrite one file: $superseded")
    val orphan = Paths.get(t).relativize(
      stageOrphan(t, Seq((9L, "crashed")).toDF("id", "s"))).toString
    // age every data file so far past the retention window
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10_000_000L)
    DeltaExport.listParquet(Paths.get(t))
      .foreach(rel => Files.setLastModifiedTime(Paths.get(t, rel), old))
    // a file superseded inside the window must survive
    val beforeFresh = activeFiles(t)
    DeltaExport.append(Seq((5L, "e")).toDF("id", "s").coalesce(1), t)
    val fiveFile = activeFiles(t) -- beforeFresh
    DeltaMerge.applyChanges(spark, t, changes((5L, "E")), Seq("id"), Some(("app", 1L)))
    assert(!activeFiles(t).exists(fiveFile))
    val deleted = DeltaExport.vacuum(spark, t, retentionMs = 3600_000L)
    assert(deleted.toSet == superseded + orphan, s"vacuum deleted: $deleted")
    fiveFile.foreach(rel => assert(Files.exists(Paths.get(t, rel)),
      s"fresh superseded file $rel was reclaimed"))
    activeFiles(t).foreach(rel => assert(Files.exists(Paths.get(t, rel)),
      s"active file $rel was reclaimed"))
    assert(rows(t) == Seq((1L, "A"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "E")))
  }

  test("a reader that re-resolves during 8 applyChanges commits sees exactly one committed version's rows") {
    val t = tbl()
    val keys = 1L to 4L
    // two files, so every commit removes and adds more than one file
    DeltaExport.create(keys.take(2).map(k => (k, "v0")).toDF("id", "s").coalesce(1), t)
    DeltaExport.append(keys.drop(2).map(k => (k, "v0")).toDF("id", "s").coalesce(1), t)
    val torn = new ConcurrentLinkedQueue[String]()
    val reads = new AtomicInteger
    @volatile var stop = false
    val reader = new Thread(() => {
      try {
        while ((!stop || reads.get == 0) && torn.isEmpty) {
          val got = rows(t)
          val values = got.map(_._2).distinct
          if (got.map(_._1) != keys || values.size != 1)
            torn.add(got.toString)
          reads.incrementAndGet()
        }
      } catch { case e: Throwable => torn.add(e.toString) }
    })
    reader.start()
    try
      (1 to 8).foreach { i =>
        DeltaMerge.applyChanges(spark, t,
          changes(keys.map(k => (k, s"v$i")): _*), Seq("id"), Some(("w", i.toLong)))
      }
    finally {
      stop = true
      reader.join(60000)
    }
    assert(torn.isEmpty, s"the reader saw a mix of versions: ${torn.asScala.toSeq}")
    assert(reads.get > 0)
    assert(DeltaLog.version(spark, t) == 9L)
    assert(rows(t) == keys.map(k => (k, "v8")))
  }
}
