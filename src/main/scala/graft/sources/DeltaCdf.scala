package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** Delta CHANGE DATA FEED — `readChangeFeed`-style incremental reads
  * (PROTOCOL.md "Change Data Files" + the delta-spark
  * `table_changes` semantics): the row-level changes between two
  * versions, each row carrying `_change_type`
  * (insert / delete / update_preimage / update_postimage) and
  * `_commit_version`. This is how real downstream pipelines consume
  * a Delta table incrementally instead of re-diffing snapshots.
  *
  * Two sources per commit, exactly Delta's rule:
  *  - `cdc` actions present → the commit's change rows ARE those
  *    files (they carry `_change_type` in-file; add/remove in the
  *    same commit then do NOT contribute — they'd double-count).
  *  - otherwise changes COMPUTE from the file actions:
  *    `dataChange:true` adds of NEW paths → their live rows as
  *    inserts; `dataChange:true` removes (not re-added) → the rows
  *    live at the PREVIOUS version as deletes; a re-add of the SAME
  *    path with a GROWN deletion vector (deleteWhere's shape) → the
  *    newly-marked positions as deletes. `dataChange:false` commits
  *    (OPTIMIZE / Z-order) contribute nothing — the table content
  *    did not change. Updates computed this way appear as
  *    delete+insert pairs (pre/postimage rows need cdc-writing
  *    writers; this module's writers emit pure adds/removes/DVs).
  *
  * Scale shape: log replay per version is driver-side metadata work;
  * deleted POSITIONS are bounded by rows deleted (the DV
  * discipline); the data reads are one distributed listing-free scan
  * (`DeltaLog.positioned`) per (version, change kind) over exactly
  * the files that changed — never a snapshot diff scan.
  *
  * Scope: unmapped tables (this repo's writers author none mapped);
  * shrunken deletion vectors (un-deletes) are refused loudly.
  */
object DeltaCdf {

  private val mapper = new ObjectMapper()

  /** Change rows for versions `fromVersion..toVersion` (inclusive,
    * the delta-spark `startingVersion`/`endingVersion` frame;
    * `toVersion` None = the latest). Output: the table's columns
    * plus `_change_type` and `_commit_version`.
    */
  def readChangeFeed(
      spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    val latest = DeltaLog.version(spark, table)
    val to = toVersion.getOrElse(latest)
    require(fromVersion >= 0 && fromVersion <= to && to <= latest,
      s"invalid CDF range [$fromVersion, $to] on a table at $latest")
    // every version in the range needs its JSON commit — checked UP
    // FRONT so a log cleaned past a checkpoint fails naming the real
    // cause (from-1 itself may legitimately resolve via a checkpoint)
    (fromVersion to to).foreach { v =>
      require(
        Files.isRegularFile(
          Paths.get(table, "_delta_log", f"$v%020d.json")),
        s"version $v's JSON commit is gone (log cleaned past a " +
          "checkpoint): the change feed cannot be reconstructed")
    }
    val stTo = DeltaLog.stateAt(spark, table, Some(to))
    require(stTo.configuration
      .getOrElse("delta.columnMapping.mode", "none") == "none",
      "readChangeFeed on column-mapped tables is out of this module's scope")
    val schema =
      DataType.fromJson(stTo.schemaJson.get).asInstanceOf[StructType]
    val dataSchema = StructType(
      schema.fields.filterNot(f => stTo.partitionCols.contains(f.name)))
    val outSchema = StructType(schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type", StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType)))

    /** Rows of `files` (absolute path, partition values), restricted
      * by `positions` (Some(keep=true) = only those positions,
      * Some(keep=false) = all BUT those positions, None = all rows),
      * stamped with the change type and version.
      */
    def fileRows(
        files: Seq[(String, Map[String, String])],
        positions: Map[String, Array[Long]],
        keepListed: Boolean,
        changeType: String, version: Long): DataFrame = {
      import spark.implicits._
      val base = DeltaLog.positioned(spark, dataSchema, files.map(_._1))
      val posPairs: Seq[(String, Long)] = positions.toSeq
        .flatMap { case (f, idxs) => idxs.map(f -> _) }
      val joined =
        if (posPairs.isEmpty && keepListed)
          base.filter(lit(false)) // keep-only with nothing listed
        else if (posPairs.isEmpty) base
        else base.join(
          broadcast(posPairs.toDF("__pf", "__pi")),
          col("__f") === col("__pf") && col("__i") === col("__pi"),
          if (keepListed) "left_semi" else "left_anti")
      DeltaLog.withPartitions(spark, stTo, joined, files)
        .select(schema.fieldNames.map(col) :+ lit(changeType).as("_change_type")
          :+ lit(version).as("_commit_version"): _*)
    }

    def dvIndexes(a: DeltaLog.AddFile): Array[Long] =
      a.dv.map(DeltaDv.indexesOf(table, _)).getOrElse(Array.empty[Long])

    val frames = (fromVersion to to).flatMap { v =>
      val commitPath = Paths.get(table, "_delta_log", f"$v%020d.json")
      require(Files.isRegularFile(commitPath),
        s"version $v's JSON commit is gone (log cleaned past a " +
          "checkpoint): the change feed for it cannot be reconstructed")
      val actions = Files.readAllLines(commitPath, StandardCharsets.UTF_8)
        .asScala.filter(_.nonEmpty).map(mapper.readTree).toSeq
      val cdcActions = actions.filter(_.has("cdc"))
      if (cdcActions.nonEmpty) {
        // the writer recorded explicit change files — they ARE the
        // feed for this commit (file actions would double-count)
        val files = cdcActions.map { a =>
          val c = a.get("cdc")
          val pv =
            if (c.has("partitionValues") && !c.get("partitionValues").isNull) {
              val o = c.get("partitionValues")
              o.fieldNames().asScala.map(k => k -> o.get(k).asText()).toMap
            } else Map.empty[String, String]
          (DeltaLog.absPath(table, c.get("path").asText()), pv)
        }
        // cdc files carry _change_type themselves
        val cdcSchema = StructType(dataSchema.fields :+
          org.apache.spark.sql.types.StructField("_change_type", StringType))
        Seq(DeltaLog.withPartitions(spark, stTo,
          DeltaLog.positioned(spark, cdcSchema, files.map(_._1)), files)
          .select(schema.fieldNames.map(col) :+ col("_change_type")
            :+ lit(v).as("_commit_version"): _*))
      } else {
        val prevActive: Map[String, DeltaLog.AddFile] =
          if (v == 0L) Map.empty
          else DeltaLog.stateAt(spark, table, Some(v - 1)).active
        val nowActive = DeltaLog.stateAt(spark, table, Some(v)).active
        val adds = actions.filter(_.has("add"))
          .filter(_.get("add").get("dataChange").asBoolean(false))
          .map(_.get("add").get("path").asText())
        val removes = actions.filter(_.has("remove"))
          .filter(_.get("remove").get("dataChange").asBoolean(false))
          .map(_.get("remove").get("path").asText())
        // new files → INSERTS (their live rows at v: minus any DV
        // attached on arrival)
        val newPaths = adds.filterNot(prevActive.contains).distinct
        val inserts = newPaths.flatMap(nowActive.get).map(a =>
          (DeltaLog.absPath(table, a.path), a.partitionValues, dvIndexes(a)))
        // removed (not re-added) files → DELETES of their rows live
        // at v-1
        val goneRels = removes.filterNot(nowActive.contains).distinct
        val deletes = goneRels.flatMap(prevActive.get).map(a =>
          (DeltaLog.absPath(table, a.path), a.partitionValues, dvIndexes(a)))
        // re-added files with a GROWN vector → the newly-marked
        // positions are DELETES (deleteWhere's merge-and-re-add)
        val reAdds = adds.filter(prevActive.contains).distinct
        val dvDeletes = reAdds.flatMap { rel =>
          val before = prevActive.get(rel).map(dvIndexes).getOrElse(Array.empty[Long])
          val after = nowActive.get(rel).map(dvIndexes).getOrElse(Array.empty[Long])
          val newly = after.filterNot(before.toSet)
          require(before.forall(after.toSet),
            s"version $v SHRANK the deletion vector of $rel " +
              "(un-delete): refused rather than emitting a wrong feed")
          if (newly.isEmpty) None
          else Some((DeltaLog.absPath(table, rel),
            prevActive(rel).partitionValues, newly))
        }
        val insF =
          if (inserts.isEmpty) None
          else Some(fileRows(
            inserts.map(t => (t._1, t._2)),
            inserts.filter(_._3.nonEmpty).map(t => t._1 -> t._3).toMap,
            keepListed = false, "insert", v))
        val delF =
          if (deletes.isEmpty) None
          else Some(fileRows(
            deletes.map(t => (t._1, t._2)),
            deletes.filter(_._3.nonEmpty).map(t => t._1 -> t._3).toMap,
            keepListed = false, "delete", v))
        val dvF =
          if (dvDeletes.isEmpty) None
          else Some(fileRows(
            dvDeletes.map(t => (t._1, t._2)),
            dvDeletes.map(t => t._1 -> t._3).toMap,
            keepListed = true, "delete", v))
        insF.toSeq ++ delF.toSeq ++ dvF.toSeq
      }
    }
    if (frames.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    else frames.reduce(_.unionByName(_))
  }
}
