package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** MERGE INTO — the upsert primitive every warehouse-fed Delta table
  * lives on (PROTOCOL.md commit semantics; the delta-spark
  * `whenMatched`/`whenNotMatched` surface restricted to its two
  * dominant shapes): equi-key merge with `UPDATE SET *` or `DELETE`
  * on match and `INSERT *` on no-match. Copy-on-write, Delta's own
  * MERGE execution:
  *
  *  1. locate the TOUCHED files — active files holding ≥1 live row
  *     whose key appears in the source (one distributed semi-join;
  *     only the distinct file list is collected, bounded by
  *     files-in-snapshot, never rows);
  *  2. rewrite exactly those files: their non-matching rows are
  *     carried, matched rows are replaced by the matching source row
  *     (or dropped for DELETE), and not-matched source rows append —
  *     all staged as one distributed write;
  *  3. one commit: `remove` per touched file (carrying its replaced
  *     deletion vector so the DV file stays vacuum-trackable) +
  *     `add` per staged file, `dataChange:true`.
  *
  * Matching rows are the LIVE rows only — a position already marked
  * in a file's deletion vector neither matches nor is carried into
  * the rewrite (the DV anti-join is bounded by rows deleted).
  * Multiple source rows matching the same target row are refused,
  * Delta's own `DeltaUnsupportedOperationException` condition — a
  * nondeterministic update is worse than no update.
  *
  * CHANGE DATA: when the table has `delta.enableChangeDataFeed=true`,
  * the commit also stages change files under `_change_data/` and
  * authors `cdc` actions — `update_preimage`/`update_postimage` pairs
  * for updates, `delete` and `insert` rows otherwise — which is what
  * makes a MERGE readable as row-level changes ([[DeltaCdf]] takes
  * cdc actions verbatim; computed add/remove diffing can only ever
  * see delete+insert pairs).
  *
  * Concurrency (same serializable posture as OPTIMIZE/overwriteWhere):
  * the claim loop re-reads the log and aborts with
  * `ConcurrentModificationException` if ANY data commit landed since
  * the merge read its snapshot — a concurrent append could contain
  * rows the source should have matched, a concurrent delete/rewrite
  * invalidates the touched set (Delta's ConcurrentAppend/
  * ConcurrentDeleteRead exceptions, collapsed to one since this
  * merge reads every partition). Staged orphans of an aborted merge
  * are vacuum-reclaimable.
  *
  * Scale shape: two distributed joins (touched-file semi-join,
  * not-matched anti-join) shuffled on the merge keys; the rewrite
  * reads only touched files; driver state is the file list + the
  * bounded DV position pairs. Unmapped tables only (this repo's
  * writers author none mapped).
  */
object DeltaMerge {

  /** What happens to target rows whose key matches the source. */
  sealed trait MatchedAction
  /** `WHEN MATCHED THEN UPDATE SET *` — replace with the source row. */
  case object UpdateAll extends MatchedAction
  /** `WHEN MATCHED THEN DELETE`. */
  case object DeleteMatched extends MatchedAction

  /** APPLY CHANGES — the CDC-apply form of MERGE (Delta's own
    * "apply change data into a downstream table" pattern): `changes`
    * carries the table's columns plus `_change_type`; rows marked
    * `delete` remove their matched target row (not-matched deletes
    * are ignored — the row is already gone), every other kind
    * upserts (matched → replace, not-matched → insert). Keys must be
    * unique in `changes` — feed a NET change set (one final state
    * per key), not a raw multi-version feed.
    *
    * `txn` makes the apply EXACTLY-ONCE: the commit carries Delta's
    * `(appId, version)` handshake, and a replay whose version is at
    * or below the table's watermark commits NOTHING — the
    * [[DeltaExport.appendBatch]] discipline on the merge path, which
    * is what lets [[CdfReplica]] fold offset tracking and output
    * into one atomic commit.
    *
    * Same copy-on-write execution, CDC emission and serializable
    * conflict posture as [[merge]].
    */
  def applyChanges(
      spark: SparkSession, table: String, changes: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)] = None): Option[Long] = {
    require(changes.columns.contains("_change_type"),
      "applyChanges needs a _change_type column")
    txn.foreach { case (appId, batchV) =>
      val last = DeltaLog.lastTxnVersion(spark, table, appId)
      if (last.exists(_ >= batchV)) return None // replayed batch
    }
    val st = DeltaLog.stateAt(spark, table, None)
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    val outCols: Seq[Column] = schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name))
    val isDelete = col("_change_type") === "delete"
    // duplicate keys across the whole change set are ambiguous — the
    // caller must net them first (bounded: one row per changed key)
    val dup = changes.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      "applyChanges needs NET changes (one row per key); duplicate key " +
        dup.headOption.map(_.toSeq.init.mkString(",")).getOrElse(""))
    // one merge commit: upserts replace/insert, deletes drop — the
    // upsert merge runs with the delete keys folded into the anti-join
    // by running merge's machinery over the UNION of keys but only
    // re-adding upsert rows
    val all = changes.filter(!isDelete).select(outCols: _*)
      .withColumn("__is_del", lit(false))
      .unionByName(changes.filter(isDelete).select(outCols: _*)
        .withColumn("__is_del", lit(true)))
    mergeCore(spark, table, all, keys, txn)
  }

  /** Shared copy-on-write executor for [[applyChanges]]: `source`
    * carries the table schema + `__is_del`; matched rows are dropped
    * (delete) or replaced (upsert), not-matched upserts insert,
    * not-matched deletes vanish.
    */
  private def mergeCore(
      spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)]): Option[Long] = {
    import DeltaExport._
    val st = DeltaLog.stateAt(spark, table, None)
    require(st.configuration
      .getOrElse("delta.columnMapping.mode", "none") == "none",
      "applyChanges on column-mapped tables is out of this writer's scope")
    // ROW TRACKING through CDC-apply — same id discipline as [[merge]]:
    // carried rows keep (id, version) materialized, upserted-matched
    // rows keep their id with this commit's version, inserts get
    // fresh ids, deletes' ids never reappear
    val rowTracking = DeltaRowTracking.enabled(st)
    val (ridCol, rvcCol) =
      if (rowTracking) DeltaRowTracking.matColNames(st) else ("", "")
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    val dataSchema = StructType(
      schema.fields.filterNot(f => st.partitionCols.contains(f.name)))
    val outCols: Seq[Column] = schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name))
    val srcKeys = source.select(keys.map(col): _*)
    val targetLive: Option[DataFrame] =
      if (st.active.isEmpty) None
      else Some(DeltaLog.positionedScan(spark, table, st, dataSchema,
        if (rowTracking) Some((ridCol, rvcCol)) else None))
    val touched: Seq[String] = targetLive match {
      case Some(t) =>
        t.join(srcKeys, keys, "left_semi")
          .select(col("__f")).distinct().collect()
          .map(_.getString(0)).toSeq.sorted
      case None => Nil
    }
    val touchedDf = {
      import spark.implicits._
      broadcast(touched.toDF("__tf"))
    }
    val touchedLive = targetLive.map(
      _.join(touchedDf, col("__tf") === col("__f"), "left_semi"))
    import org.apache.spark.sql.types.LongType
    val rtKeep: Seq[Column] =
      if (!rowTracking) Nil else Seq(col(ridCol), col(rvcCol))
    val rtUpdated: Seq[Column] =
      if (!rowTracking) Nil
      else Seq(col(ridCol), lit(null).cast(LongType).as(rvcCol))
    val rtFresh: Seq[Column] =
      if (!rowTracking) Nil
      else Seq(lit(null).cast(LongType).as(ridCol),
        lit(null).cast(LongType).as(rvcCol))
    val keepRows =
      if (touched.isEmpty) None
      else touchedLive.map(
        _.join(srcKeys, keys, "left_anti").select(outCols ++ rtKeep: _*))
    val updatedRows =
      if (touched.isEmpty) None
      else if (!rowTracking) touchedLive.map { t =>
        source.filter(!col("__is_del"))
          .join(t.select(keys.map(col): _*), keys, "left_semi")
          .select(outCols: _*)
      }
      else touchedLive.map { t =>
        source.filter(!col("__is_del"))
          .join(t.select(keys.map(col) :+ col(ridCol): _*), keys)
          .select(outCols ++ rtUpdated: _*)
      }
    val insertRows = Some(targetLive match {
      case None =>
        source.filter(!col("__is_del")).select(outCols ++ rtFresh: _*)
      case Some(t) =>
        source.filter(!col("__is_del"))
          .join(t.select(keys.map(col): _*), keys, "left_anti")
          .select(outCols ++ rtFresh: _*)
    })
    if (touched.isEmpty && !insertRows.exists(r => !r.isEmpty)) {
      if (txn.isEmpty) return None
      // WATERMARK BUMP: a window can net to zero change (insert then
      // delete of the same key, OPTIMIZE-only commits) — the consumed
      // offset must still advance or the replica re-reads the window
      // forever; one txn-only commit, no file actions
      val (appId, batchV) = txn.get
      val lines = Seq(
        s"""{"txn":{"appId":"${esc(appId)}","version":$batchV}}""",
        s"""{"commitInfo":{"operation":"MERGE"}}""")
      var v = nextVersion(table)
      var committed = false
      while (!committed) {
        if (DeltaLog.lastTxnVersion(spark, table, appId).exists(_ >= batchV))
          return None
        committed = claim(table, v, lines)
        if (!committed) v = nextVersion(table)
      }
      return Some(v)
    }
    val newData = (keepRows.toSeq ++ updatedRows.toSeq ++ insertRows.toSeq)
      .reduceOption(_.unionByName(_))
    val staged: Seq[String] =
      newData.map(stageIn(_, table, st.partitionCols)).getOrElse(Nil)

    val cdfOn = st.configuration
      .get("delta.enableChangeDataFeed").contains("true")
    val cdcLines: Seq[String] =
      if (!cdfOn) Nil
      else {
        val pre = touchedLive.map { t =>
          val upK = source.filter(!col("__is_del"))
            .select(keys.map(col): _*)
          val delK = source.filter(col("__is_del"))
            .select(keys.map(col): _*)
          t.join(upK, keys, "left_semi").select(outCols: _*)
            .withColumn("_change_type", lit("update_preimage"))
            .unionByName(
              t.join(delK, keys, "left_semi").select(outCols: _*)
                .withColumn("_change_type", lit("delete")))
        }.filter(_ => touched.nonEmpty)
        val tableCols = schema.fieldNames.map(col).toSeq
        val post = updatedRows.filter(_ => touched.nonEmpty).map(
          _.select(tableCols: _*)
            .withColumn("_change_type", lit("update_postimage")))
        val ins = insertRows.map(
          _.select(tableCols: _*)
            .withColumn("_change_type", lit("insert")))
        cdcActions(table, st, (pre.toSeq ++ post.toSeq ++ ins.toSeq)
          .reduceOption(_.unionByName(_)))
      }

    commit(spark, table, st, touched, staged, cdcLines, txn, () => ())
  }

  /** Run the merge; returns the committed version, or None when the
    * merge changed nothing (no matches and nothing to insert).
    */
  def merge(
      spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], matched: Option[MatchedAction],
      insertNotMatched: Boolean): Option[Long] =
    merge(spark, table, source, keys, matched, insertNotMatched, () => ())

  /** [[merge]] with the read→commit seam the concurrency spec injects
    * a competing writer into; production uses the no-op overload.
    */
  private[sources] def merge(
      spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], matched: Option[MatchedAction],
      insertNotMatched: Boolean, beforeCommit: () => Unit): Option[Long] = {
    import DeltaExport._
    require(keys.nonEmpty, "merge needs at least one key column")
    require(matched.nonEmpty || insertNotMatched,
      "a merge with no matched action and no insert is a no-op by construction")
    val st = DeltaLog.stateAt(spark, table, None)
    require(st.configuration
      .getOrElse("delta.columnMapping.mode", "none") == "none",
      "merge on column-mapped tables is out of this writer's scope")
    // ROW TRACKING through MERGE (r15): the copy-on-write rewrite
    // preserves each surviving row's id — carried rows AND
    // matched-updated rows materialize (id, commit version) into the
    // config-named columns exactly like OPTIMIZE, except an UPDATED
    // row's commit version becomes THIS commit's (its content
    // changed): its materialized slot stays null and the add's
    // defaultRowCommitVersion covers it. Inserted rows leave both
    // slots null — fresh id = baseRowId + position, version = default
    // — and deleted rows' ids simply never reappear (the watermark
    // only grows). delta-spark's own MERGE-under-row-tracking shape.
    val rowTracking = DeltaRowTracking.enabled(st)
    val (ridCol, rvcCol) =
      if (rowTracking) DeltaRowTracking.matColNames(st) else ("", "")
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    val cols = schema.fields.map(_.name).toSeq
    keys.foreach(k => require(cols.contains(k), s"key $k not in table schema"))
    val needsFullSource =
      matched.contains(UpdateAll) || insertNotMatched
    if (needsFullSource)
      cols.foreach(c => require(source.columns.contains(c),
        s"UPDATE SET * / INSERT * needs source column $c"))
    val dataSchema = StructType(
      schema.fields.filterNot(f => st.partitionCols.contains(f.name)))
    val outCols: Seq[Column] = schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name))
    val srcAligned =
      if (needsFullSource) source.select(outCols: _*)
      else source.select(keys.map(col): _*)
    val srcKeys = source.select(keys.map(col): _*)

    // ---- live target rows (DV'd positions excluded), with __f/__i --
    // a ROW-TRACKING target scans with each row's (id, commit
    // version) attached — materialized-or-computed — so the rewrite
    // can carry them
    val targetLive: Option[DataFrame] =
      if (st.active.isEmpty) None
      else Some(DeltaLog.positionedScan(spark, table, st, dataSchema,
        if (rowTracking) Some((ridCol, rvcCol)) else None))

    // ---- touched files: the distinct file list, never rows ---------
    // an insert-only merge (no matched action) rewrites NOTHING:
    // matched target rows are left exactly where they are
    val touched: Seq[String] = targetLive match {
      case Some(t) if matched.nonEmpty =>
        t.join(srcKeys, keys, "left_semi")
          .select(col("__f")).distinct().collect()
          .map(_.getString(0)).toSeq.sorted
      case _ => Nil
    }
    val touchedDf = {
      import spark.implicits._
      broadcast(touched.toDF("__tf"))
    }
    val touchedLive = targetLive.map(
      _.join(touchedDf, col("__f") === col("__tf"), "left_semi"))

    // matched source rows must be key-unique (one target row updated
    // by two different source rows is Delta's refusal, not a coin
    // flip); bounded to the MATCHED subset so bulk inserts of
    // duplicate keys don't pay or trip it — deletes are idempotent,
    // only UPDATE is nondeterministic under duplicates
    val matchedSrc = touchedLive.map(t =>
      srcAligned.join(t.select(keys.map(col): _*), keys, "left_semi"))
    if (matched.contains(UpdateAll) && touched.nonEmpty)
      matchedSrc.foreach { m =>
        val dup = m.groupBy(keys.map(col): _*).count()
          .filter(col("count") > 1).limit(1).collect()
        if (dup.nonEmpty)
          throw new IllegalArgumentException(
            "merge refused: multiple source rows match the same target " +
              s"row (duplicate source key ${dup.head.toSeq.init.mkString(",")})")
      }

    // ---- the rewrite + insert frames -------------------------------
    // row-tracking frames append the two materialized columns: kept
    // rows carry (id, version) verbatim, updated rows carry their
    // PRESERVED id with a null version (defaulted to this commit),
    // inserts carry neither (fresh id from baseRowId + position)
    import org.apache.spark.sql.types.LongType
    val rtKeep: Seq[Column] =
      if (!rowTracking) Nil else Seq(col(ridCol), col(rvcCol))
    val rtUpdated: Seq[Column] =
      if (!rowTracking) Nil
      else Seq(col(ridCol), lit(null).cast(LongType).as(rvcCol))
    val rtFresh: Seq[Column] =
      if (!rowTracking) Nil
      else Seq(lit(null).cast(LongType).as(ridCol),
        lit(null).cast(LongType).as(rvcCol))
    val keepRows =
      if (touched.isEmpty) None
      else touchedLive.map(
        _.join(srcKeys, keys, "left_anti").select(outCols ++ rtKeep: _*))
    val updatedRows =
      if (!(matched.contains(UpdateAll) && touched.nonEmpty)) None
      else if (!rowTracking) matchedSrc
      else touchedLive.map(t =>
        srcAligned.join(
          t.select(keys.map(col) :+ col(ridCol): _*), keys)
          .select(outCols ++ rtUpdated: _*))
    val insertRows =
      if (!insertNotMatched) None
      else Some(targetLive match {
        case None => srcAligned.select(outCols ++ rtFresh: _*)
        case Some(t) =>
          srcAligned.join(t.select(keys.map(col): _*), keys, "left_anti")
            .select(outCols ++ rtFresh: _*)
      })
    val newData = (keepRows.toSeq ++ updatedRows.toSeq ++ insertRows.toSeq)
      .reduceOption(_.unionByName(_))

    // the empty-merge probe only runs when no file was touched
    // (short-circuit: a touched file always commits)
    if (touched.isEmpty && !insertRows.exists(r => !r.isEmpty)) return None

    val staged: Seq[String] =
      newData.map(stageIn(_, table, st.partitionCols)).getOrElse(Nil)

    // ---- change data files (CDF-enabled tables) --------------------
    val cdfOn = st.configuration
      .get("delta.enableChangeDataFeed").contains("true")
    val cdcLines: Seq[String] =
      if (!cdfOn) Nil
      else {
        val pre =
          if (matched.isEmpty || touched.isEmpty) None
          else touchedLive.map { t =>
            val m = t.join(srcKeys, keys, "left_semi").select(outCols: _*)
            m.withColumn("_change_type",
              lit(if (matched.contains(UpdateAll)) "update_preimage"
              else "delete"))
          }
        // change files carry the TABLE's columns only — the rt frames'
        // materialized id columns are rewrite plumbing, not change data
        val tableCols = schema.fieldNames.map(col).toSeq
        val post = updatedRows.map(
          _.select(tableCols: _*)
            .withColumn("_change_type", lit("update_postimage")))
        val ins = insertRows.map(
          _.select(tableCols: _*)
            .withColumn("_change_type", lit("insert")))
        cdcActions(table, st, (pre.toSeq ++ post.toSeq ++ ins.toSeq)
          .reduceOption(_.unionByName(_)))
      }

    commit(spark, table, st, touched, staged, cdcLines, None, beforeCommit)
  }

  /** `changes` staged under `_change_data/` as the commit's `cdc`
    * actions (none when there are no changes).
    */
  private def cdcActions(
      table: String, st: DeltaLog.State,
      changes: Option[DataFrame]): Seq[String] = {
    import DeltaExport._
    changes.toSeq.flatMap { c =>
      val stage = Files.createTempDirectory("delta_cdc")
      val w = c.write.mode("overwrite")
      (if (st.partitionCols.nonEmpty) w.partitionBy(st.partitionCols: _*)
      else w).parquet(stage.toString)
      listParquet(stage).toSeq.sorted.map { rel =>
        val dest = Paths.get(table, "_change_data", rel)
        Files.createDirectories(dest.getParent)
        Files.move(stage.resolve(rel), dest)
        val pv = partitionValuesOf(rel, st.partitionCols)
        val pvJson = pv.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
          .mkString("{", ",", "}")
        val full = s"_change_data/$rel"
        s"""{"cdc":{"path":"${enc(full)}","partitionValues":$pvJson,"size":${Files.size(Paths.get(table, full))},"dataChange":false}}"""
      }
    }
  }

  /** The one commit of [[merge]] and [[applyChanges]]: a `remove` per
    * touched file (carrying its replaced deletion vector), an `add`
    * per staged file, the `cdc` actions and the `txn`, claimed as the
    * next free version. The claim loop is the serializable gate: if
    * any data commit changed the active file set since `st` was read,
    * the matched / not-matched sets may be stale, so it aborts with
    * `ConcurrentModificationException` and commits nothing. It also
    * re-checks the `txn` replay gate, so a racing replica of the same
    * app cannot apply one batch twice (None). Row-tracking adds take
    * fresh base ids past the CURRENT watermark and the claimed
    * version as their default commit version.
    */
  private def commit(
      spark: SparkSession, table: String, st: DeltaLog.State,
      touched: Seq[String], staged: Seq[String], cdcLines: Seq[String],
      txn: Option[(String, Long)], beforeCommit: () => Unit): Option[Long] = {
    import DeltaExport._
    val rowTracking = DeltaRowTracking.enabled(st)
    val conf = Some(spark.sparkContext.hadoopConfiguration)
    val byAbs = st.active.values
      .map(a => DeltaLog.absPath(table, a.path) -> a).toMap
    val removes = touched.map { abs =>
      val a = byAbs(abs)
      val dvPart = a.dv
        .map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
      s"""{"remove":{"path":"${esc(a.path)}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":true$dvPart}}"""
    }
    val txnLines = txn.toSeq.map { case (appId, batchV) =>
      s"""{"txn":{"appId":"${esc(appId)}","version":$batchV}}"""
    }
    // staged row counts once (bounded footer reads) — the rt claim
    // loop re-derives base ids per attempt but never re-counts
    val counts =
      if (!rowTracking) Map.empty[String, Long]
      else staged.map(rel => rel -> recordCount(
        conf.get, Paths.get(table, rel).toAbsolutePath.toString)).toMap
    beforeCommit()
    var v = nextVersion(table)
    var committed = false
    while (!committed) {
      val cur = DeltaLog.stateAt(spark, table, None)
      txn.foreach { case (appId, batchV) =>
        if (cur.txns.get(appId).exists(_ >= batchV)) return None
      }
      val before = st.active.map { case (p, a) =>
        p -> a.dv.map(_.pathOrInlineDv)
      }
      val now = cur.active.map { case (p, a) =>
        p -> a.dv.map(_.pathOrInlineDv)
      }
      if (before != now)
        throw new java.util.ConcurrentModificationException(
          s"MERGE conflict on $table: a concurrent writer changed the " +
            "active file set since this merge read its snapshot — " +
            "aborted without committing; re-run against the new state")
      val adds =
        if (!rowTracking)
          staged.map(rel =>
            addJson(table, rel, partitionValuesOf(rel, st.partitionCols),
              conf))
        else {
          var next = DeltaRowTracking.highWaterMark(cur) + 1
          staged.map { rel =>
            val l = addJson(table, rel,
              partitionValuesOf(rel, st.partitionCols), conf,
              rowId = Some((next, v)),
              tags = DeltaRowTracking.matTag(true))
            next += counts(rel)
            l
          } :+ DeltaRowTracking.domainJson(next - 1)
        }
      val lines = txnLines ++ cdcLines ++ removes ++ adds :+
        s"""{"commitInfo":{"operation":"MERGE"}}"""
      committed = claim(table, v, lines)
      if (!committed) v = nextVersion(table)
    }
    Some(v)
  }
}
