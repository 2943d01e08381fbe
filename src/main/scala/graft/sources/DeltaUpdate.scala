package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Delta UPDATE — the deletion-vector copy shape delta-spark's own
  * DV-enabled UPDATE uses, in ONE commit: the matched rows' positions
  * join the affected files' deletion vectors (remove + re-add with the
  * grown vector, original stats kept — bounds remain sound supersets)
  * and the UPDATED renderings of those rows stage in as new files.
  * Untouched files are not rewritten; unmatched rows of touched files
  * are not rewritten either (that's the point of DVs). Returns the
  * committed version, or None when nothing matched.
  *
  * Scope bounds (loud, each pointing at the writer that implements the
  * semantics): column-mapped tables; row-tracking tables (an UPDATE
  * must carry row ids through the rewrite — [[DeltaMerge]] does);
  * CDF-enabled tables (a compliant writer must author `cdc` files for
  * an update — [[DeltaMerge]] does). Single update-writer contract per
  * table, like [[DeltaExport.deleteWhere]].
  *
  * Scale shape: the matched (file, position) set is driver-held —
  * bounded by rows UPDATED in this call, the metadata-not-data
  * discipline; the scan of candidate rows and the write of updated
  * rows are distributed.
  */
object DeltaUpdate {

  import DeltaExport._

  def updateWhere(
      spark: SparkSession, table: String,
      condition: Column, sets: Map[String, Column]): Option[Long] = {
    require(sets.nonEmpty, "UPDATE needs at least one SET assignment")
    val st = DeltaLog.stateAt(spark, table, None)
    require(st.configuration
      .getOrElse("delta.columnMapping.mode", "none") == "none",
      "updateWhere on column-mapped tables is out of this writer's scope")
    require(!DeltaRowTracking.enabled(st),
      "updateWhere on a row-tracking table would re-identify the " +
        "updated rows: use DeltaMerge.merge, which carries row ids " +
        "through the rewrite")
    require(st.configuration
      .getOrElse("delta.enableChangeDataFeed", "false") != "true",
      "updateWhere on a CDF-enabled table must author cdc change " +
        "files: use DeltaMerge.merge, which writes the change feed")
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    sets.keys.foreach(k => require(schema.fieldNames.contains(k),
      s"SET column $k is not in the table schema"))
    val dataSchema = StructType(
      schema.fields.filterNot(f => st.partitionCols.contains(f.name)))
    if (st.active.isEmpty) return None
    // rows already DV-deleted must neither re-mark nor re-emit
    val matchedRows = DeltaLog.positionedScan(spark, table, st, dataSchema)
      .filter(condition)
    // bounded by rows updated in THIS call
    val matched = matchedRows
      .select(col("__f"), col("__i")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    if (matched.isEmpty) return None

    // the updated renderings, table-shaped
    val updated = matchedRows.select(schema.fields.toSeq.map { f =>
      sets.get(f.name).map(_.cast(f.dataType).as(f.name))
        .getOrElse(col(f.name).cast(f.dataType).as(f.name))
    }: _*)
    val staged = stageIn(updated, table, st.partitionCols)
    val conf = Some(spark.sparkContext.hadoopConfiguration)
    val addLines = staged.map(rel =>
      addJson(table, rel, partitionValuesOf(rel, st.partitionCols), conf))

    // grow the affected files' deletion vectors (deleteWhere's shape)
    val byFile = matched.groupBy(_._1)
    val affected = st.active.values.toSeq
      .filter(a => byFile.contains(DeltaLog.absPath(table, a.path)))
      .sortBy(_.path)
    val dvLines = affected.flatMap { a =>
      val abs = DeltaLog.absPath(table, a.path)
      val existing = a.dv
        .map(DeltaDv.indexesOf(table, _)).getOrElse(Array.empty[Long])
      val merged = (existing ++ byFile(abs).map(_._2)).distinct.sorted
      val d = DeltaDv.writeFileU(table, merged)
      val pvJson = a.partitionValues.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString("{", ",", "}")
      val statsPart = a.stats
        .map(s => s""","stats":"${esc(s)}"""").getOrElse("")
      val oldDvPart = a.dv
        .map(od => s""","deletionVector":${dvJson(od)}""").getOrElse("")
      val tagsPart =
        if (a.tags.isEmpty) ""
        else a.tags.toSeq.sortBy(_._1)
          .map { case (k, tv) => s""""${esc(k)}":"${esc(tv)}"""" }
          .mkString(""","tags":{""", ",", "}")
      Seq(
        s"""{"remove":{"path":"${esc(a.path)}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":true$oldDvPart}}""",
        s"""{"add":{"path":"${esc(a.path)}","partitionValues":$pvJson,"size":${Files.size(Paths.get(abs))},"modificationTime":${Files.getLastModifiedTime(Paths.get(abs)).toMillis},"dataChange":true$statsPart,"deletionVector":${dvJson(d)}}}""")
    }
    // first DV upgrades the protocol to the feature-gated form,
    // enumerating what the prior legacy protocol implied
    val protocolLine =
      if (st.readerFeatures.contains("deletionVectors")) Nil
      else {
        val implied =
          if (st.writerFeatures.nonEmpty) st.writerFeatures
          else legacyWriterFeatures(st.minWriter)
        val wf = (implied + "deletionVectors").toSeq.sorted
          .map(f => s""""$f"""").mkString("[", ",", "]")
        Seq(
          s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":$wf}}""")
      }
    val all = protocolLine ++ dvLines ++ addLines :+
      s"""{"commitInfo":{"operation":"UPDATE"}}"""
    var v = nextVersion(table)
    while (!claim(table, v, all)) v = nextVersion(table)
    Some(v)
  }

  /** REPLACE WHERE — delta-spark's overwrite-by-filter (`INSERT INTO
    * ... REPLACE WHERE`, `df.writeTo(...).overwrite(cond)`): ONE
    * commit that removes every row matching `condition` and adds
    * `df`'s rows. Files whose rows ALL match drop with a plain remove
    * (their bytes untouched — vacuum reclaims later); partially-
    * matching files keep their bytes and grow a deletion vector.
    * Files with NO matching rows are untouched — the
    * untouched-partitions-byte-identical contract. `df` must itself
    * satisfy `condition` (delta-spark's constraint check): silently
    * writing rows outside the replaced region would corrupt the
    * overwrite's meaning.
    */
  def replaceWhere(
      df: org.apache.spark.sql.DataFrame, table: String,
      condition: Column): Long = {
    val spark = df.sparkSession
    val st = DeltaLog.stateAt(spark, table, None)
    require(st.configuration
      .getOrElse("delta.columnMapping.mode", "none") == "none",
      "replaceWhere on column-mapped tables is out of this writer's scope")
    require(!DeltaRowTracking.enabled(st),
      "replaceWhere on a row-tracking table: use " +
        "DeltaExport.overwriteWhere (dynamic partition overwrite, " +
        "row-tracking aware) or DeltaMerge")
    require(st.configuration
      .getOrElse("delta.enableChangeDataFeed", "false") != "true",
      "replaceWhere on a CDF-enabled table must author cdc change " +
        "files: use DeltaMerge.merge")
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    val violations = df.filter(!condition).limit(1).count()
    require(violations == 0L,
      "replaceWhere data contains rows NOT matching the condition: " +
        "refused (the overwrite would write outside the replaced region)")

    // matched (file, position) pairs — bounded by rows replaced
    val dataSchema = StructType(
      schema.fields.filterNot(f => st.partitionCols.contains(f.name)))
    val matched: Array[(String, Long)] =
      if (st.active.isEmpty) Array.empty
      else DeltaLog.positionedScan(spark, table, st, dataSchema)
        .filter(condition)
        .select(col("__f"), col("__i")).collect()
        .map(r => (r.getString(0), r.getLong(1)))

    val staged = stageIn(
      df.select(schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*),
      table, st.partitionCols)
    val conf = Some(spark.sparkContext.hadoopConfiguration)
    val addLines = staged.map(rel =>
      addJson(table, rel, partitionValuesOf(rel, st.partitionCols), conf))

    val byFile = matched.groupBy(_._1)
    val affected = st.active.values.toSeq
      .filter(a => byFile.contains(DeltaLog.absPath(table, a.path)))
      .sortBy(_.path)
    val hconf = spark.sparkContext.hadoopConfiguration
    var anyDv = false
    val removeLines = affected.flatMap { a =>
      val abs = DeltaLog.absPath(table, a.path)
      val existing = a.dv
        .map(DeltaDv.indexesOf(table, _)).getOrElse(Array.empty[Long])
      val merged = (existing ++ byFile(abs).map(_._2)).distinct.sorted
      val total = a.stats.flatMap { js =>
        try Some(new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(js).get("numRecords").asLong())
        catch { case _: Exception => None }
      }.getOrElse(DeltaExport.recordCount(hconf, abs))
      val oldDvPart = a.dv
        .map(od => s""","deletionVector":${dvJson(od)}""").getOrElse("")
      if (merged.length.toLong >= total) {
        // every live row matched: drop the FILE, not positions
        Seq(
          s"""{"remove":{"path":"${esc(a.path)}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":true$oldDvPart}}""")
      } else {
        anyDv = true
        val d = DeltaDv.writeFileU(table, merged)
        val pvJson = a.partitionValues.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
          .mkString("{", ",", "}")
        val statsPart = a.stats
          .map(s => s""","stats":"${esc(s)}"""").getOrElse("")
        val tagsPart =
          if (a.tags.isEmpty) ""
          else a.tags.toSeq.sortBy(_._1)
            .map { case (k, tv) => s""""${esc(k)}":"${esc(tv)}"""" }
            .mkString(""","tags":{""", ",", "}")
        Seq(
          s"""{"remove":{"path":"${esc(a.path)}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":true$oldDvPart}}""",
          s"""{"add":{"path":"${esc(a.path)}","partitionValues":$pvJson,"size":${Files.size(Paths.get(abs))},"modificationTime":${Files.getLastModifiedTime(Paths.get(abs)).toMillis},"dataChange":true$statsPart,"deletionVector":${dvJson(d)}}}""")
      }
    }
    val protocolLine =
      if (!anyDv || st.readerFeatures.contains("deletionVectors")) Nil
      else {
        val implied =
          if (st.writerFeatures.nonEmpty) st.writerFeatures
          else legacyWriterFeatures(st.minWriter)
        val wf = (implied + "deletionVectors").toSeq.sorted
          .map(f => s""""$f"""").mkString("[", ",", "]")
        Seq(
          s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":$wf}}""")
      }
    val all = protocolLine ++ removeLines ++ addLines :+
      s"""{"commitInfo":{"operation":"WRITE","operationParameters":{"mode":"Overwrite","predicate":"replaceWhere"}}}"""
    var v = nextVersion(table)
    while (!claim(table, v, all)) v = nextVersion(table)
    v
  }
}
