package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Iceberg INCREMENTAL + CHANGELOG reads — how downstream pipelines
  * consume an Iceberg table without re-diffing snapshots (the Spark
  * connector's incremental append scan and
  * `create_changelog_view` surfaces; semantics from the table spec's
  * snapshot/manifest model, the Iceberg-side sibling of
  * [[DeltaCdf]]).
  *
  * Per snapshot in the range (snapshot-log commit order), against its
  * predecessor in the log:
  *
  *  - `replace` snapshots (rewriteDataFiles compaction) contribute
  *    NOTHING — the table's content did not change;
  *  - data files ADDED → their live-at-that-snapshot rows as
  *    `insert` (a file added and same-commit DV'd feeds only its
  *    surviving rows; same-commit equality deletes don't apply to it
  *    by the spec's strictly-smaller sequence scope — both fall out
  *    of reading THROUGH the snapshot's own delete set);
  *  - data files REMOVED → their live-at-the-parent rows as
  *    `delete`;
  *  - NEW position-delete content on files present in BOTH snapshots
  *    → exactly the newly-dead positions as `delete`: parquet
  *    position-delete files diff as distributed (path, pos)
  *    anti-joins against the parent's dead set; v3 puffin deletion
  *    vectors diff per referenced file driver-side (bounded by rows
  *    deleted), a SHRUNKEN vector (un-delete) refusing loudly;
  *  - NEW equality-delete files → the parent-live rows matching the
  *    deleted keys as `delete` (the parent's files all carry smaller
  *    sequence numbers, so the spec scope is the whole parent
  *    snapshot; removed files' rows are excluded — they already fed
  *    the feed as whole-file deletes).
  *
  * Output: the table's columns plus `_change_type`
  * (`insert` | `delete`), `_change_ordinal` (the snapshot's index in
  * the snapshot log) and `_commit_snapshot_id` — the connector's
  * changelog column triple. Updates appear as delete+insert pairs
  * (pre/postimage pairing needs a changelog-writing writer; Iceberg
  * itself emits the pair form for copy-on-write commits).
  *
  * Scale shape: per snapshot the metadata diff is driver-side and
  * manifest-bounded; row reads are one distributed scan per
  * (snapshot, change kind) over exactly the files that changed;
  * position diffs ride broadcast anti-joins bounded by rows deleted.
  */
object IcebergChangelog {

  /** (referenced data file → deleted positions) of every puffin
    * deletion vector at a snapshot (driver-side, bounded by rows
    * deleted).
    */
  private def dvPositions(
      table: String, meta: JsonNode,
      snap: JsonNode): Map[String, Array[Long]] =
    IcebergTable.deleteFilesOf(table, meta, snap)
      .filter(d => d.content == 1 && d.format == "PUFFIN")
      .map { d =>
        val blob = (d.contentOffset, d.contentSize) match {
          case (Some(off), Some(len)) => Puffin.readBlob(d.path, off, len)
          case _ => throw new IllegalStateException(
            s"puffin DV entry for ${d.referencedDataFile.get} lacks " +
              "content_offset/content_size_in_bytes: refused")
        }
        d.referencedDataFile.get -> Puffin.dvBlobIndexes(blob)
      }.toMap

  /** `incremental append scan` — the appended rows between two
    * snapshots (both inclusive; None = first / current). REFUSES
    * ranges containing delete/overwrite snapshots, exactly the
    * connector's posture: an append-only consumer fed a range with
    * hidden deletes would silently miss them.
    */
  def incrementalAppendScan(
      spark: SparkSession, table: String,
      fromSnapshotId: Option[Long] = None,
      toSnapshotId: Option[Long] = None): DataFrame = {
    val df = changelogCore(spark, table, fromSnapshotId, toSnapshotId,
      appendsOnly = true)
    df.drop("_change_type", "_change_ordinal", "_commit_snapshot_id")
  }

  /** The full row-level changelog between two snapshots (both
    * inclusive; None = first / current).
    */
  def changelog(
      spark: SparkSession, table: String,
      fromSnapshotId: Option[Long] = None,
      toSnapshotId: Option[Long] = None): DataFrame =
    changelogCore(spark, table, fromSnapshotId, toSnapshotId,
      appendsOnly = false)

  private def changelogCore(
      spark: SparkSession, table: String,
      fromSnapshotId: Option[Long], toSnapshotId: Option[Long],
      appendsOnly: Boolean): DataFrame = {
    val meta = IcebergTable.metadataJson(table)
    val log = IcebergTable.snapshotIds(table)
    require(log.nonEmpty, s"$table has no snapshots")
    val from = fromSnapshotId.getOrElse(log.head)
    val to = toSnapshotId.getOrElse(log.last)
    val i0 = log.indexOf(from)
    val i1 = log.indexOf(to)
    require(i0 >= 0, s"snapshot $from not in the snapshot log (expired?)")
    require(i1 >= 0, s"snapshot $to not in the snapshot log (expired?)")
    require(i0 <= i1, s"changelog range is reversed: $from after $to")

    val schema = IcebergTable.schemaOf(meta)
    val outSchema = StructType(schema.fields ++ Seq(
      StructField("_change_type", StringType),
      StructField("_change_ordinal", IntegerType),
      StructField("_commit_snapshot_id", LongType)))
    def stamped(df: DataFrame, kind: String, ord: Int, sid: Long): DataFrame =
      df.select(schema.fields.map(f => col(f.name)) :+
        lit(kind).as("_change_type") :+
        lit(ord).as("_change_ordinal") :+
        lit(sid).as("_commit_snapshot_id"): _*)

    val frames = (i0 to i1).flatMap { ord =>
      val sid = log(ord)
      val snap = IcebergTable.snapshotNode(meta, Some(sid))
      val op = Option(snap.get("summary"))
        .flatMap(s => Option(s.get("operation")).map(_.asText()))
        .getOrElse("append")
      if (op == "replace") Nil // compaction: content unchanged
      else {
        require(!appendsOnly || op == "append",
          s"incremental append scan range contains a '$op' snapshot " +
            s"($sid): an append-only consumer would silently miss its " +
            "deletes — use changelog() instead")
        val parent = if (ord == 0) None else Some(log(ord - 1))
        val parentSnap = parent.map(p =>
          IcebergTable.snapshotNode(meta, Some(p)))
        val dataS = IcebergTable
          .dataFilesWithPartitions(table, meta, snap).map(_.path).toSet
        val dataP = parentSnap.map(p => IcebergTable
          .dataFilesWithPartitions(table, meta, p).map(_.path).toSet)
          .getOrElse(Set.empty)
        val added = (dataS -- dataP).toSeq.sorted
        val removed = (dataP -- dataS).toSeq.sorted
        val common = dataP.intersect(dataS)

        val inserts =
          if (added.isEmpty) None
          else Some(stamped(
            IcebergTable.readCore(spark, table, Some(sid),
              Some(added.toSet)), "insert", ord, sid))
        val fileDeletes =
          if (removed.isEmpty) None
          else Some(stamped(
            IcebergTable.readCore(spark, table, parent,
              Some(removed.toSet)), "delete", ord, sid))

        // ---- new row-level delete content on carried files --------
        val delS = IcebergTable.deleteFilesOf(table, meta, snap)
        val delP = parentSnap.map(p =>
          IcebergTable.deleteFilesOf(table, meta, p)).getOrElse(Nil)
        val delPKeys = delP.map(d => (d.path, d.contentOffset)).toSet
        val newDel = delS.filterNot(d =>
          delPKeys.contains((d.path, d.contentOffset)))
        // parquet position-delete / equality-delete files must not
        // VANISH outside a replace (that would be a silent un-delete;
        // puffin DV entries legitimately turn over — the merged
        // rewrite drops the superseded vector, diffed below)
        val delSKeys = delS.map(d => (d.path, d.contentOffset)).toSet
        val vanished = delP.filter(d => d.format != "PUFFIN" &&
          !delSKeys.contains((d.path, d.contentOffset)))
        require(vanished.isEmpty,
          s"delete file(s) ${vanished.map(_.path).mkString(", ")} " +
            s"vanished in non-replace snapshot $sid (un-delete): " +
            "refused rather than emitting a wrong feed")

        // positions dead at the parent: parquet pairs (distributed)
        // + DV pairs (driver-side, bounded by rows deleted)
        val parqDelP = delP.filter(d =>
          d.content == 1 && d.format != "PUFFIN").map(_.path)
        val parqDelNew = newDel.filter(d =>
          d.content == 1 && d.format != "PUFFIN").map(_.path)
        val posSchema = StructType.fromDDL("file_path STRING, pos BIGINT")
        def pairsOf(paths: Seq[String]): Option[DataFrame] =
          if (paths.isEmpty) None
          else Some(spark.read.schema(posSchema).parquet(paths: _*)
            .select(DeltaLog.canonFile(col("file_path")).as("__cl_f"),
              col("pos").as("__cl_i")))
        val dvP = parentSnap.map(p => dvPositions(table, meta, p))
          .getOrElse(Map.empty[String, Array[Long]])
        val dvS = dvPositions(table, meta, snap)
        val dvNewPairs: Seq[(String, Long)] =
          if (parentSnap.isEmpty) Nil
          else dvS.toSeq.flatMap { case (f, after) =>
            val before = dvP.getOrElse(f, Array.empty[Long])
            val beforeSet = before.toSet
            require(before.forall(after.toSet),
              s"snapshot $sid SHRANK the deletion vector of $f " +
                "(un-delete): refused rather than emitting a wrong feed")
            after.filterNot(beforeSet).map(f -> _)
          }
        val dvDeadPPairs: Seq[(String, Long)] =
          dvP.toSeq.flatMap { case (f, idx) => idx.map(f -> _) }

        val posDeletes: Option[DataFrame] =
          if (parentSnap.isEmpty || common.isEmpty ||
            (parqDelNew.isEmpty && dvNewPairs.isEmpty)) None
          else {
            import spark.implicits._
            val newPairs0 = pairsOf(parqDelNew)
            // a parquet pair already dead at the parent contributes
            // nothing (re-deletes are legal); drop it by anti-join
            val deadP = (pairsOf(parqDelP).toSeq ++
              (if (dvDeadPPairs.isEmpty) Nil
              else Seq(broadcast(dvDeadPPairs.toDF("__cl_f", "__cl_i")))))
              .reduceOption(_.unionByName(_))
            val newParq = (newPairs0, deadP) match {
              case (Some(n), Some(d)) => Some(n.join(d,
                n("__cl_f") === d("__cl_f") && n("__cl_i") === d("__cl_i"),
                "left_anti"))
              case (n, _) => n
            }
            val dvNew =
              if (dvNewPairs.isEmpty) None
              else Some(broadcast(dvNewPairs.toDF("__cl_f", "__cl_i")))
            val allNew = (newParq.toSeq ++ dvNew.toSeq)
              .reduce(_.unionByName(_))
            // rows at the newly-dead positions, read at the PARENT
            // restricted to carried files (removed files' rows
            // already fed as whole-file deletes; positions in
            // same-commit-added files never lived before S)
            val rows = IcebergTable.readCore(spark, table, parent,
              Some(common), withPos = true)
            Some(stamped(rows.join(
              allNew,
              rows("__pos_file") === allNew("__cl_f") &&
                rows("__pos_index") === allNew("__cl_i"),
              "left_semi"), "delete", ord, sid))
          }

        // new equality deletes → parent-live rows matching the keys
        val eqNew = newDel.filter(_.content == 2)
        val eqDeletes: Option[DataFrame] =
          if (eqNew.isEmpty || parentSnap.isEmpty || common.isEmpty) None
          else {
            val schemaNode = IcebergTable.schemaNodeOf(meta)
            val idToField = schemaNode.get("fields").elements().asScala
              .map(f => f.get("id").asInt() -> f).toMap
            val live = IcebergTable.readCore(spark, table, parent,
              Some(common))
            val matchedFrames = eqNew.groupBy(_.equalityIds).toSeq
              .sortBy(_._1.mkString(","))
              .map { case (ids, files) =>
                val keyCols = ids.map { id =>
                  val f = idToField.getOrElse(id,
                    throw new IllegalStateException(
                      s"equality delete references field-id $id not in " +
                        "the current schema: refused"))
                  (f.get("name").asText(),
                    IcebergTable.toSparkType(f.get("type")))
                }
                val del = files.map { d =>
                  spark.read.parquet(d.path)
                    .select(keyCols.map { case (n, dt) =>
                      col(n).cast(dt).as(s"__eq_$n")
                    }: _*)
                }.reduce(_.unionByName(_)).distinct()
                val cond = keyCols.map { case (n, dt) =>
                  col(n).cast(dt) <=> col(s"__eq_$n")
                }.reduce(_ && _)
                live.join(broadcast(del), cond, "left_semi")
              }
            Some(stamped(matchedFrames.reduce(_.unionByName(_)),
              "delete", ord, sid))
          }

        inserts.toSeq ++ fileDeletes.toSeq ++ posDeletes.toSeq ++
          eqDeletes.toSeq
      }
    }
    if (frames.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    else frames.reduce(_.unionByName(_))
  }
}
