package graft.sources.dsv2

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.SparkSpec
import graft.sources.{IcebergExport, IcebergReadReference, IcebergTable}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `graft-iceberg` is the one reader of Iceberg data files: the table
  * shapes it once refused read the same through `IcebergTable.read`,
  * `spark.read.format("graft-iceberg")` and catalog SQL as through the
  * independent [[graft.sources.IcebergReadReference]]; its metadata
  * columns serve the writers that name positions, which therefore see
  * only live rows.
  */
class IcebergReadPathSpec extends SparkSpec {
  import spark.implicits._

  spark.conf.set(
    "spark.sql.catalog.graft", "graft.sources.dsv2.GraftCatalog")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  /** The table's rows through every entry point, each checked against
    * the reference read; returns them.
    */
  private def readAllWays(t: String): Set[Row] = {
    val want = IcebergReadReference.read(spark, t).collect().toSet
    Seq[(String, DataFrame)](
      "IcebergTable.read" -> IcebergTable.read(spark, t),
      "graft-iceberg" -> spark.read.format("graft-iceberg").load(t),
      "catalog SQL" -> spark.sql(s"SELECT * FROM graft.iceberg.`$t`"))
      .foreach { case (how, df) =>
        val got = df.collect().toSet
        assert(got == want, s"$how read drifted from the reference:\n$got\nvs\n$want")
      }
    want
  }

  test("an equality delete keyed on a STRUCT column applies by value") {
    val t = tmp("ice_path_struct")
    def keyed(rows: Seq[(Long, String, Option[Int])]) =
      rows.toDF("id", "x", "y")
        .select(col("id"), struct(col("x"), col("y")).as("k"))
    IcebergExport.create(
      keyed(Seq((1L, "a", Some(1)), (2L, "b", Some(2)), (3L, "c", None),
        (4L, "b", Some(3)))).coalesce(1), t)
    IcebergExport.deleteWhereEquality(spark, t,
      keyed(Seq((0L, "b", Some(2)), (0L, "c", None))).select(col("k")))
    val got = readAllWays(t)
    assert(got.map(_.getLong(0)) == Set(1L, 4L), s"$got")
  }

  test("an equality-delete key added after some files matches its initial-default or null") {
    val t = tmp("ice_path_added_key")
    IcebergExport.createV3(Seq(0L, 1L).toDF("id").coalesce(1), t)
    // era 1 predates `tag` (initial-default "d") and `grp` (no default)
    IcebergExport.addColumn(t, "tag", StringType, "d")
    IcebergExport.append(
      Seq((2L, "d"), (3L, "e")).toDF("id", "tag").coalesce(1), t)
    // era 2 predates `grp`
    IcebergExport.addColumn(t, "grp", LongType)
    IcebergExport.append(
      Seq((4L, "d", Some(7L)), (5L, "e", None), (6L, "f", Some(8L)))
        .toDF("id", "tag", "grp").coalesce(1), t)
    IcebergExport.deleteWhereEquality(spark, t, Seq("d").toDF("tag"))
    assert(readAllWays(t).map(_.getLong(0)) == Set(3L, 5L, 6L),
      "era-1 rows carry tag's initial-default \"d\" and must be deleted")
    IcebergExport.deleteWhereEquality(
      spark, t, Seq(Option.empty[Long]).toDF("grp"))
    assert(readAllWays(t).map(_.getLong(0)) == Set(6L),
      "era-2 rows read grp as null and must match the null key")
  }

  test("a nested struct REORDER reads each value under its field-id") {
    val mapper = new ObjectMapper()
    val t = tmp("ice_path_reorder")
    IcebergExport.create(
      Seq((1L, "x", "y")).toDF("id", "a", "b")
        .select(col("id"), struct(col("a"), col("b")).as("s")), t)
    // the current schema swaps the nested fields (ids keep their names)
    val root = mapper.readTree(
      Paths.get(t, "metadata", "v1.metadata.json").toFile)
      .asInstanceOf[ObjectNode]
    val evolved = root.get("schemas").get(0).deepCopy[ObjectNode]()
    val nested = evolved.get("fields").elements().asScala
      .find(_.get("name").asText() == "s").get
      .get("type").withArray[ArrayNode]("fields")
    val (f0, f1) = (nested.get(0).deepCopy[ObjectNode](),
      nested.get(1).deepCopy[ObjectNode]())
    nested.removeAll()
    nested.add(f1); nested.add(f0)
    evolved.put("schema-id", 1)
    root.put("current-schema-id", 1)
    root.withArray[ArrayNode]("schemas").add(evolved)
    root.set[ObjectNode]("schema", evolved.deepCopy[ObjectNode]())
    Files.writeString(
      Paths.get(t, "metadata", "v2.metadata.json"), root.toString)
    Files.writeString(Paths.get(t, "metadata", "version-hint.text"), "2")
    val got = readAllWays(t)
    assert(got == Set(Row(1L, Row("y", "x"))),
      s"s is (b, a) now, holding b = y and a = x: $got")
  }

  test("deletes name only live rows: re-deleting dead rows commits nothing") {
    val t2 = tmp("ice_path_redelete_v2")
    IcebergExport.create(
      (0L until 10L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t2)
    assert(IcebergExport.deleteWhere(spark, t2, col("id") < 3L).isDefined)
    val snaps2 = IcebergTable.snapshotIds(t2)
    assert(IcebergExport.deleteWhere(spark, t2, col("id") < 3L).isEmpty)
    assert(IcebergTable.snapshotIds(t2) == snaps2)

    val t3 = tmp("ice_path_redelete_v3")
    IcebergExport.createV3(
      (0L until 10L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t3)
    assert(IcebergExport.deleteWhereDv(spark, t3, col("id") < 3L).isDefined)
    val snaps3 = IcebergTable.snapshotIds(t3)
    assert(IcebergExport.deleteWhereDv(spark, t3, col("id") < 3L).isEmpty)
    assert(IcebergTable.snapshotIds(t3) == snaps3)
    assert(IcebergTable.read(spark, t3).count() == 7L)
  }

  test("row lineage reads as the reference's: inherited, then materialized by compaction") {
    val t = tmp("ice_path_lineage")
    IcebergExport.createV3(
      (0L until 3L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    IcebergExport.append(
      (3L until 6L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    IcebergExport.deleteWhereDv(spark, t, col("id") === 1L)
    def lineageMatches(): Unit = {
      val want = IcebergReadReference.readLineage(spark, t).collect().toSet
      val got = IcebergTable.readLineage(spark, t).collect().toSet
      assert(got == want, s"lineage drifted from the reference:\n$got\nvs\n$want")
    }
    lineageMatches()
    IcebergExport.rewriteDataFiles(spark, t, 1L << 20)
    IcebergExport.append(Seq((6L, "r6")).toDF("id", "s").coalesce(1), t)
    IcebergExport.deleteWhereDv(spark, t, col("id") === 4L)
    lineageMatches()
  }

  test("_file and _pos name each live row; a pushed _file filter prunes files") {
    val t = tmp("ice_path_meta")
    IcebergExport.create(
      (0L until 40L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"), t)
    IcebergExport.deleteWhere(spark, t, col("id") === 11L)
    val meta = IcebergTable.metadataJson(t)
    val files = IcebergTable.dataFilesOf(
      t, meta, IcebergTable.currentSnapshotNode(meta)).sorted
    assert(files.size == 4)
    val positioned = IcebergTable.read(spark, t)
      .select(col("id"), col("_file"), col("_pos")).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
    assert(positioned.length == 39 && !positioned.exists(_._1 == 11L))
    assert(positioned.map(_._2).toSet.size == 39, "positions are unique")
    assert(positioned.map(_._2._1).toSet == files.toSet)
    val one = positioned.find(_._1 == 12L).get._2._1
    val got = IcebergTable.read(spark, t).filter(col("_file") === one)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == positioned.filter(_._2._1 == one).map(_._1).toSet)
    assert(Dsv2Planning.plannedFor(t).contains((1, 4)),
      s"${Dsv2Planning.plannedFor(t)}")
  }
}
