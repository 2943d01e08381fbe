package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The from-scratch Delta-log reader against a protocol-exact fixture
  * authored BY THE SPEC (commits as newline-delimited JSON, a parquet
  * checkpoint + _last_checkpoint, URL-encoded partition paths): the
  * replay must produce the right active set at every version, attach
  * partition columns the data files don't contain, honour checkpoints
  * as the replay base, and refuse protocol features it does not
  * implement.
  */
class DeltaLogSpec extends SparkSpec {
  import spark.implicits._

  private val tableSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("payload", StringType),
    StructField("lang", StringType)))

  private def v(n: Long): String = f"$n%020d"

  /** Write (id, payload) rows as ONE parquet file at table/<rel>. */
  private def writeDataFile(
      table: Path, rel: String, rows: Seq[(Long, String)]): Unit = {
    val tmp = Files.createTempDirectory("dl_part")
    rows.toDF("id", "payload").coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
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

  private def writeCommit(table: Path, version: Long, lines: Seq[String]): Unit = {
    val dir = table.resolve("_delta_log")
    Files.createDirectories(dir)
    Files.write(
      dir.resolve(s"${v(version)}.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def metaDataJson: String = {
    // schemaString is the Spark JSON schema form, exactly as Delta
    // writes it; partition column declared but NOT in the data files
    val ss = tableSchema.json.replace("\"", "\\\"")
    s"""{"metaData":{"id":"fixture-table","format":{"provider":"parquet","options":{}},"schemaString":"$ss","partitionColumns":["lang"],"configuration":{},"createdTime":1700000000000}}"""
  }

  private def addJson(rel: String, lang: String): String =
    s"""{"add":{"path":"$rel","partitionValues":{"lang":"$lang"},"size":512,"modificationTime":1700000000000,"dataChange":true}}"""

  private def removeJson(rel: String): String =
    s"""{"remove":{"path":"$rel","deletionTimestamp":1700000001000,"dataChange":true}}"""

  private def protocolJson(minReader: Int = 1): String =
    s"""{"protocol":{"minReaderVersion":$minReader,"minWriterVersion":2}}"""

  /** v0: en f1 + fr f2 · v1: remove f2, add URL-encoded "f 3" · v2:
    * add en f4. Returns the table root.
    */
  private def makeTable(): Path = {
    val table = Files.createTempDirectory("delta_fixture")
    writeDataFile(table, "lang=en/f1.parquet", Seq((1L, "a"), (2L, "b")))
    writeDataFile(table, "lang=fr/f2.parquet", Seq((3L, "c")))
    writeDataFile(table, "lang=fr/f 3.parquet", Seq((4L, "d"), (5L, "e")))
    writeDataFile(table, "lang=en/f4.parquet", Seq((6L, "f")))
    writeCommit(table, 0, Seq(
      protocolJson(), metaDataJson,
      addJson("lang=en/f1.parquet", "en"),
      addJson("lang=fr/f2.parquet", "fr"),
      """{"commitInfo":{"operation":"WRITE"}}"""))
    writeCommit(table, 1, Seq(
      removeJson("lang=fr/f2.parquet"),
      addJson("lang=fr/f%203.parquet", "fr")))
    writeCommit(table, 2, Seq(addJson("lang=en/f4.parquet", "en")))
    table
  }

  private def collectIds(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String)] =
    df.select(col("id"), col("payload"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(_._1)

  test("latest snapshot replays add/remove with URL-decoded paths and partition columns") {
    val table = makeTable()
    val df = DeltaLog.read(spark, table.toString)
    assert(df.schema.fieldNames.toSeq == Seq("id", "payload", "lang"),
      "columns must follow the table schema order")
    assert(collectIds(df) == Seq(
      (1L, "a", "en"), (2L, "b", "en"), (4L, "d", "fr"),
      (5L, "e", "fr"), (6L, "f", "en")))
    assert(DeltaLog.version(spark, table.toString) == 2L)
  }

  test("time travel: versionAsOf replays exactly the prefix of the log") {
    val table = makeTable()
    assert(collectIds(DeltaLog.read(spark, table.toString, Some(0L))) ==
      Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "fr")))
    assert(collectIds(DeltaLog.read(spark, table.toString, Some(1L))) ==
      Seq((1L, "a", "en"), (2L, "b", "en"), (4L, "d", "fr"), (5L, "e", "fr")))
    val ex = intercept[IllegalArgumentException] {
      DeltaLog.read(spark, table.toString, Some(9L))
    }
    assert(ex.getMessage.contains("version 9"),
      s"time travel past the log must fail loudly: ${ex.getMessage}")
  }

  test("a parquet checkpoint is the replay base; pre-checkpoint JSON is not needed") {
    val table = makeTable()
    val dir = table.resolve("_delta_log")
    // author the v1 checkpoint: full active state at v1
    val ckptSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("dataChange", BooleanType))))))
    import org.apache.spark.sql.Row
    val rows = Seq(
      Row(Row(1, 2), null, null),
      Row(null, Row("fixture-table", tableSchema.json, Seq("lang")), null),
      Row(null, null,
        Row("lang=en/f1.parquet", Map("lang" -> "en"), 512L, true)),
      Row(null, null,
        Row("lang=fr/f%203.parquet", Map("lang" -> "fr"), 512L, true)))
    val tmp = Files.createTempDirectory("dl_ckpt")
    spark.createDataFrame(rows.asJava, ckptSchema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = {
      val s = Files.list(tmp)
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.move(part, dir.resolve(s"${v(1)}.checkpoint.parquet"))
    Files.write(dir.resolve("_last_checkpoint"),
      """{"version":1,"size":4}""".getBytes(StandardCharsets.UTF_8))
    // delete the JSON the checkpoint subsumes — replay must not miss it
    Files.delete(dir.resolve(s"${v(0)}.json"))
    Files.delete(dir.resolve(s"${v(1)}.json"))
    val df = DeltaLog.read(spark, table.toString)
    assert(collectIds(df) == Seq(
      (1L, "a", "en"), (2L, "b", "en"), (4L, "d", "fr"),
      (5L, "e", "fr"), (6L, "f", "en")))
  }

  test("unsupported reader protocol fails loudly instead of returning wrong rows") {
    val table = Files.createTempDirectory("delta_v2")
    writeDataFile(table, "lang=en/f1.parquet", Seq((1L, "a")))
    writeCommit(table, 0, Seq(
      protocolJson(minReader = 2), metaDataJson,
      addJson("lang=en/f1.parquet", "en")))
    val ex = intercept[IllegalArgumentException] {
      DeltaLog.read(spark, table.toString)
    }
    assert(ex.getMessage.contains("minReaderVersion=2"), ex.getMessage)
  }

  test("a data file missing from disk fails the read instead of dropping its rows") {
    val table = Files.createTempDirectory("delta_missing").resolve("t").toString
    DeltaExport.create(
      (0L until 100L).map(i => (i, s"p$i")).toDF("id", "payload")
        .repartitionByRange(2, col("id")), table)
    val files = DeltaLog.stateAt(spark, table, None).active.keys.toSeq.sorted
    assert(files.size == 2, files)
    Files.delete(Paths.get(DeltaLog.absPath(table, files.head)))
    val e = intercept[Exception](DeltaLog.read(spark, table).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(chain.exists {
      case _: java.io.FileNotFoundException |
          _: java.nio.file.NoSuchFileException => true
      case _ => false
    }, chain.map(_.toString).mkString("\n"))
  }

  test("activeFiles exposes the snapshot's file-level partition map") {
    val table = makeTable()
    val af = DeltaLog.activeFiles(spark, table.toString)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(af.map(_._2).sorted == Seq("en", "en", "fr"))
    assert(af.exists(f => f._1.endsWith("lang=fr/f 3.parquet")),
      s"URL-encoded add.path must decode to the on-disk file: $af")
  }
}
