package graft.sources.dsv2

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.graftext.ParquetReadBridge
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._

import graft.sources.{DeltaLog, IcebergBounds, IcebergTable}

/** DataSourceV2 read path over the Iceberg metadata reader — the
  * [[DeltaTableProvider]] twin:
  *
  * {{{
  *   spark.read.format("graft-iceberg").load(path)      // current snapshot
  *     .option("snapshotId", 123L)                      // time travel
  *     .option("ref", "audit-branch")                   // branch / tag
  *     .option("timestampAsOf", "2026-08-01T00:00:00Z")
  * }}}
  *
  * A batch read is PINNED when its frame is made: `load` records the
  * current snapshot id beside the schema it resolves, and the scan
  * plans that snapshot however many commits land before the frame
  * runs — as [[IcebergTable.read]], which plans when called, always
  * did; a new frame reads the new snapshot. `snapshotId`/`ref`/
  * `timestampAsOf`, `readChangeFeed`, streams, writes and `DELETE`
  * resolve as they always did.
  *
  * `.filter(...)` prunes files against the manifests'
  * `lower_bounds`/`upper_bounds`/`null_value_counts` and exact
  * identity-partition values (the same state
  * [[IcebergTable.prunedDataFiles]] consults), then pushes into
  * parquet row-group skipping; `.select(...)` prunes columns to the
  * scan. Merge-on-read semantics apply per file inside the shared
  * [[GraftFileBatch]] readers, from DESCRIPTORS resolved on the
  * executors (r17): position deletes and puffin deletion vectors as
  * row-index drops, equality deletes as per-row key-set checks SCOPED
  * to delete files whose sequence number is strictly above the data
  * file's — planning never reads delete CONTENT (spec-pinned via
  * [[graft.sources.DeleteAccess]]), exactly iceberg-spark's own
  * per-task shape.
  *
  * MULTI-ERA tables (r17): entries group by their write-time schema
  * and partition-spec era — resolved by FIELD-ID against the query
  * schema, so renames read under their old physical names, the
  * spec's lossless promotions (int→long, float→double, decimal
  * widening) decode at scan, columns added later come back as their
  * `initial-default` (null when none), dropped columns are not
  * projected, and each era's identity-partition columns attach from
  * ITS manifests' partition structs. Nested field REORDERS across
  * eras (a foreign-writer shape needing per-field rebuild) are
  * refused toward [[IcebergTable.read]], which implements them.
  */
class IcebergTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-iceberg"

  override def supportsExternalMetadata(): Boolean = false

  private def path(options: JMap[String, String]): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-iceberg requires a table path: .load(path)"))

  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : StructType = {
    val opts = options.asScala.toMap
    val base = IcebergDsv2.plan(SparkSession.active, path(options), opts)
      .schema
    if (IcebergDsv2.isCdf(opts))
      StructType(base.fields ++ IcebergDsv2.cdfExtra)
    else base
  }

  override def inferPartitioning(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : Array[Transform] = Array.empty

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val options = properties.asScala.toMap.map { case (k, v) => (k.toLowerCase, v) }
    IcebergDsv2Table(path(properties), schema, options,
      IcebergDsv2.pinFor(path(properties), options))
  }
}

private[dsv2] object IcebergDsv2 {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def opt(options: Map[String, String], key: String): Option[String] =
    options.get(key.toLowerCase)

  private[dsv2] def parseJson(js: String): JsonNode = mapper.readTree(js)

  def isCdf(options: Map[String, String]): Boolean =
    opt(options, "readChangeFeed").exists(_.equalsIgnoreCase("true"))

  /** The snapshot a batch read of `table` is pinned to when its frame
    * is made: the current snapshot at load (None while the table has
    * none). None when the options name a snapshot, ref, timestamp or
    * change feed, which resolve as they always did.
    */
  def pinFor(table: String, options: Map[String, String]): Option[Long] =
    if (isCdf(options) ||
        Seq("snapshotId", "ref", "timestampAsOf").exists(opt(options, _).isDefined))
      None
    else Option(IcebergTable.metadataJson(table).get("current-snapshot-id"))
      .map(_.asLong()).filter(_ != -1L)

  /** The changelog column triple (iceberg-spark's
    * `create_changelog_view` surface, the batch
    * [[graft.sources.IcebergChangelog]]'s output shape).
    */
  val cdfExtra: Seq[StructField] = Seq(
    StructField("_change_type", StringType),
    StructField("_change_ordinal", IntegerType),
    StructField("_commit_snapshot_id", LongType))

  /** One equality-delete file's METADATA — key columns (current
    * names + types), file coordinates, sequence number. Content loads
    * on the executors.
    */
  case class EqDeleteMeta(
      keyCols: Seq[(String, DataType)], path: String, length: Long,
      seq: Long)

  /** The executor-loadable spec of one equality-delete file. */
  def eqSpecOf(d: EqDeleteMeta): GraftFileBatch.EqDeleteSpec = {
    val schema = StructType(d.keyCols.map { case (n, dt) =>
      StructField(n, dt, nullable = true)
    })
    GraftFileBatch.EqDeleteSpec(
      d.keyCols.map(_._1), d.keyCols.map(_._2), d.path, d.length,
      ParquetReadBridge.reader(SparkSession.active,
        schema, StructType(Nil), schema, Nil))
  }

  /** Everything the scan planner derives once per query — METADATA
    * only: delete files appear as paths/blob coordinates, never
    * decoded positions or key sets.
    */
  case class Planned(
      schema: StructType,
      schemaNode: JsonNode,
      entries: Seq[IcebergTable.FileEntry],
      // canonical data path → its puffin DV blob descriptors
      dvByFile: Map[String, Seq[GraftFileBatch.PuffinDvPositions]],
      posDeleteFiles: Seq[GraftFileBatch.PosDeleteFile],
      eqDeletes: Seq[EqDeleteMeta],
      fieldIdOf: Map[String, Int],
      idToName: Map[Int, String])

  def plan(
      spark: SparkSession, table: String,
      options: Map[String, String], pinned: Option[Long] = None): Planned = {
    val meta = IcebergTable.metadataJson(table)
    val fv = meta.get("format-version").asInt()
    val snapId = opt(options, "snapshotId").map(_.toLong)
      .orElse(opt(options, "ref").map { r =>
        if (r == "main") IcebergTable.currentSnapshotNode(meta)
          .get("snapshot-id").asLong()
        else IcebergTable.refs(table).getOrElse(r,
          throw new IllegalArgumentException(
            s"no branch or tag named $r on $table"))._1
      })
      .orElse(opt(options, "timestampAsOf").map { ts =>
        val ms = scala.util.Try(ts.toLong).getOrElse(
          java.time.Instant.parse(ts).toEpochMilli)
        IcebergTable.snapshotAtTimestamp(table, ms)
      })
      .orElse(pinned)
    // a freshly-created table has no snapshot yet (CTAS before the
    // first INSERT): zero entries under the declared schema
    val hasCurrent = Option(meta.get("current-snapshot-id"))
      .exists(_.asLong() != -1L)
    val snapOpt: Option[JsonNode] =
      if (snapId.isEmpty && !hasCurrent) None
      else Some(IcebergTable.snapshotNode(meta, snapId))
    // the snapshot's own schema (spec `schema-id`), current otherwise
    val schemaNode = snapOpt.flatMap(snap =>
      Option(snap.get("schema-id")).map(_.asInt())
        .filter(_ => meta.has("schemas"))
        .flatMap(sid => meta.get("schemas").elements().asScala
          .find(_.get("schema-id").asInt() == sid)))
      .getOrElse(IcebergTable.schemaNodeOf(meta))
    val schema =
      IcebergTable.toSparkType(schemaNode).asInstanceOf[StructType]
    val fieldIdOf: Map[String, Int] = schemaNode.get("fields")
      .elements().asScala
      .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    val idToName = fieldIdOf.map(_.swap)

    val entries = snapOpt.map(snap =>
      IcebergTable.dataFilesWithPartitions(table, meta, snap))
      .getOrElse(Nil)

    // ---- deletes: METADATA ONLY -------------------------------------
    val deletes = snapOpt.map(snap =>
      IcebergTable.deleteFilesOf(table, meta, snap)).getOrElse(Nil)
    val dvFiles = deletes.filter(d => d.content == 1 && d.format == "PUFFIN")
    val posDeletes = deletes
      .filter(d => d.content == 1 && d.format != "PUFFIN").map(_.path)
    require(fv < 3 || posDeletes.isEmpty,
      s"format-version 3 table $table carries parquet position-delete " +
        "files (the spec requires deletion vectors): refused")
    val dvByFile: Map[String, Seq[GraftFileBatch.PuffinDvPositions]] =
      dvFiles.flatMap { d =>
        d.referencedDataFile.map { ref =>
          DeltaLog.canonFile(ref) -> GraftFileBatch.PuffinDvPositions(
            d.path, d.contentOffset, d.contentSize, ref)
        }
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val posDeleteFiles = posDeletes.distinct.map(p =>
      GraftFileBatch.PosDeleteFile(p, Files.size(Paths.get(p))))

    val curById: Map[Int, (String, DataType)] = schemaNode.get("fields")
      .elements().asScala.map(f => f.get("id").asInt() ->
        (f.get("name").asText(), IcebergTable.toSparkType(f.get("type"))))
      .toMap
    val eqDeleteMetas = deletes.filter(_.content == 2).map { d =>
      val keyCols = d.equalityIds.map { id =>
        curById.getOrElse(id,
          throw new IllegalStateException(
            s"equality delete references field-id $id which is not in " +
              "the current schema (dropped key column): refused rather " +
              "than returning undeleted rows"))
      }
      keyCols.foreach { case (n, dt) =>
        require(!dt.isInstanceOf[StructType] && !dt.isInstanceOf[ArrayType]
          && !dt.isInstanceOf[MapType],
          s"equality-delete key $n has non-atomic type $dt: use " +
            "graft.sources.IcebergTable.read")
      }
      EqDeleteMeta(keyCols, d.path, Files.size(Paths.get(d.path)), d.seq)
    }

    Planned(schema, schemaNode, entries, dvByFile, posDeleteFiles,
      eqDeleteMetas, fieldIdOf, idToName)
  }

  /** The entry's OWN era's identity columns as
    * (logical source column, partition field name).
    */
  def idColsOf(
      e: IcebergTable.FileEntry, p: Planned): Seq[(String, String)] =
    e.idFields.flatMap { case (pfName, sid) =>
      p.idToName.get(sid).filter(p.schema.fieldNames.contains)
        .map(src => (src, pfName))
    }

  /** Manifest bounds as a [[FilterPrune.ColumnStats]] view — exact
    * values from the ENTRY's own spec era's identity fields.
    */
  def statsView(
      e: IcebergTable.FileEntry, p: Planned): FilterPrune.ColumnStats =
    new FilterPrune.ColumnStats {
      private lazy val idCols = idColsOf(e, p)
      private def fid(column: String): Option[Int] = p.fieldIdOf.get(column)
      private def dt(column: String): Option[DataType] =
        p.schema.fields.find(_.name == column).map(_.dataType)
      override def exact(column: String): Option[Option[Any]] =
        idCols.find(_._1 == column).flatMap { case (_, pfName) =>
          e.pv.get(pfName).map(_.map { raw =>
            dt(column) match {
              case Some(DateType) => java.time.LocalDate.parse(raw)
              case Some(StringType) => raw
              case Some(BooleanType) => raw.toBoolean
              case Some(TimestampType) => raw
              case _ => scala.util.Try(BigDecimal(raw)).getOrElse(raw): Any
            }
          })
        }
      override def min(column: String): Option[Any] =
        for {
          id <- fid(column); t <- dt(column)
          b <- e.lower.get(id); v <- IcebergBounds.decode(t, b)
        } yield v
      override def max(column: String): Option[Any] =
        for {
          id <- fid(column); t <- dt(column)
          b <- e.upper.get(id); v <- IcebergBounds.decode(t, b)
        } yield v
      override def allNull(column: String): Option[Boolean] =
        fid(column).flatMap(id => e.nullCounts.get(id))
          .map(nc => e.records > 0L && nc == e.records)
      override def mayHaveNull(column: String): Boolean =
        fid(column).flatMap(id => e.nullCounts.get(id)).forall(_ > 0L)
    }

  /** The EXTERNAL value a field's `initial-default` assigns to rows
    * predating the column (v3 column defaults); null when absent.
    * Unsupported default types refuse loudly.
    */
  def initialDefaultValue(cf: JsonNode, dt: DataType): Any =
    Option(cf.get("initial-default")).filterNot(_.isNull) match {
      case None => null
      case Some(v) => dt match {
        case LongType => v.asLong()
        case IntegerType => v.asInt()
        case DoubleType => v.asDouble()
        case FloatType => v.floatValue()
        case StringType => v.asText()
        case BooleanType => v.asBoolean()
        case _: DecimalType => new java.math.BigDecimal(v.asText())
        case other => throw new IllegalArgumentException(
          s"initial-default on unsupported type $other: refused " +
            "rather than returning nulls for defaulted rows")
      }
    }

  /** The read-time rendering of a writer-era type against the current
    * type (nestedAligned-guarded): WRITER names at every nesting
    * level (that's what the parquet files carry), CURRENT primitive
    * types (Spark's parquet readers perform the spec's lossless
    * promotions at decode).
    */
  def readType(wt: JsonNode, ct: JsonNode): DataType =
    if (wt.isTextual || ct.isTextual) IcebergTable.toSparkType(ct)
    else (wt.get("type").asText(), ct.get("type").asText()) match {
      case ("struct", "struct") =>
        val wf = wt.get("fields").elements().asScala.toSeq
        val cf = ct.get("fields").elements().asScala.toSeq
        StructType(wf.zip(cf).map { case (w, c) =>
          StructField(w.get("name").asText(),
            readType(w.get("type"), c.get("type")), nullable = true)
        })
      case ("list", "list") =>
        ArrayType(readType(wt.get("element"), ct.get("element")),
          containsNull = true)
      case ("map", "map") =>
        MapType(readType(wt.get("key"), ct.get("key")),
          readType(wt.get("value"), ct.get("value")),
          valueContainsNull = true)
      case _ => IcebergTable.toSparkType(ct)
    }
}

// case class for the same reason as the Scan below: BatchScanExec's
// equality covers its `table` field too
private[dsv2] case class IcebergDsv2Table(
    table: String, tableSchema: StructType, options: Map[String, String],
    pinned: Option[Long])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  // SQL `DELETE FROM <cat>.iceberg.`p` WHERE <simple predicate>` in
  // any session — merge-on-read position deletes via the existing
  // writer. Richer conditions route through [[GraftDmlStrategy]].
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(GraftDml.filterToColumn(_).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val cond = filters.flatMap(GraftDml.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    graft.sources.IcebergExport.deleteWhere(SparkSession.active, table, cond)
  }

  override def name(): String = s"graft-iceberg:$table"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    IcebergWriteBuilder(table, info)

  override def newScanBuilder(
      caseInsensitiveOptions: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    new IcebergScanBuilder(table, tableSchema,
      options ++ caseInsensitiveOptions.asScala.toMap
        .map { case (k, v) => (k.toLowerCase, v) }, pinned)
}

private[dsv2] class IcebergScanBuilder(
    table: String, tableSchema: StructType, options: Map[String, String],
    pinned: Option[Long])
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required =
      if (requiredSchema.fields.nonEmpty) requiredSchema
      else StructType(Array(tableSchema.fields.minBy(_.name.length)))

  override def build(): Scan =
    IcebergDsv2Scan(table, tableSchema, required, pushed.toSeq, options, pinned)
}

// a CASE class: AQE broadcast reuse (which dynamic partition pruning
// depends on) compares BatchScanExec nodes by scan VALUE equality —
// a reference-equal scan silently degrades every DPP filter to `true`
private[dsv2] case class IcebergDsv2Scan(
    table: String, tableSchema: StructType, required: StructType,
    pushed: Seq[Filter], options: Map[String, String],
    pinned: Option[Long] = None)
    extends Scan
    with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with GraftFileBatch.LazyBatchSource {

  import GraftFileBatch._

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft-iceberg $table, PushedFilters: [${pushed.mkString(", ")}]"

  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  // only the scan's OUTPUT columns: Spark resolves these against the
  // pruned readSchema, and an unreadable reference fails analysis
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  private[dsv2] lazy val p =
    IcebergDsv2.plan(SparkSession.active, table, options, pinned)

  private def keptFiles(): Seq[IcebergTable.FileEntry] = {
    val all = pushed ++ runtimeFilters
    val kept = p.entries.sortBy(_.path).filter { e =>
      val view = IcebergDsv2.statsView(e, p)
      all.forall(f => FilterPrune.admits(view, f))
    }
    Dsv2Planning.record(table, kept.size, p.entries.size)
    kept
  }

  /** Post-pushdown statistics from the manifests: bytes of the
    * surviving files, rows from their `record_count` — what lets
    * Spark auto-broadcast a selectively-pruned probe at scale.
    */
  override def estimateStatistics(): Statistics = {
    if (IcebergDsv2.isCdf(options))
      return new Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    val kept = keptFiles()
    val size = kept.map(e => Files.size(Paths.get(e.path))).sum
    val rows = kept.map(_.records)
    new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.of(size)
      override def numRows() =
        if (rows.forall(_ >= 0L)) java.util.OptionalLong.of(rows.sum)
        else java.util.OptionalLong.empty()
    }
  }

  override def toBatch: Batch = ValueEqualBatch(this)

  // ------------------------------------------------------------ era layer

  /** One write-time (schema, partition-spec) era's reader wiring. */
  private case class EraSpec(
      idCols: Seq[(String, String)],
      partitionSchema: StructType,
      constants: Map[String, Any],
      reader: EraReader,
      // semantic identity (physical names/types + constants + id
      // cols): textually different writer schemas that RESOLVE the
      // same share one era
      signature: String)

  private def anyDrop: Boolean =
    p.dvByFile.nonEmpty || p.posDeleteFiles.nonEmpty

  private lazy val eqColsNeeded: Seq[String] =
    p.eqDeletes.flatMap(_.keyCols.map(_._1)).distinct

  /** Resolve one era: every required column (plus equality-delete
    * keys) located in the writer schema BY FIELD-ID — writer physical
    * names, current types, initial-defaults for columns added later.
    */
  private def resolveEra(
      ws: Option[String], idCols: Seq[(String, String)],
      sampleFile: Option[String]): EraSpec = {
    val spark = SparkSession.active
    val partitionCols = idCols.map(_._1)
    val partitionSchema = StructType(
      p.schema.fields.filter(f => partitionCols.contains(f.name)))
    val curFields: Map[String, JsonNode] = p.schemaNode.get("fields")
      .elements().asScala.map(f => f.get("name").asText() -> f).toMap
    val writerById: Map[Int, JsonNode] = ws.map { js =>
      IcebergDsv2.parseJson(js).get("fields").elements().asScala
        .map(f => f.get("id").asInt() -> f).toMap
    }.getOrElse(Map.empty)

    val wantRead: Seq[String] =
      required.fields.map(_.name).filterNot(partitionCols.contains) ++
        eqColsNeeded.filterNot(c =>
          partitionCols.contains(c) ||
            required.fieldNames.contains(c))

    // (logical name, physical read field) or (logical name, constant)
    val resolved: Seq[(String, Either[StructField, Any])] =
      wantRead.map { name =>
        val cf = curFields.getOrElse(name, throw new IllegalStateException(
          s"column $name not in the table schema of $table"))
        val logicalDt = IcebergTable.toSparkType(cf.get("type"))
        writerById.get(cf.get("id").asInt()) match {
          case Some(wf) =>
            val physDt = IcebergTable.toSparkType(wf.get("type"))
            require(
              IcebergTable.nestedAligned(wf.get("type"), cf.get("type")) &&
                IcebergTable.promotable(physDt, logicalDt),
              s"column $name of $table changed shape across the schema " +
                s"history ($physDt → $logicalDt) beyond aligned lossless " +
                "promotions: use graft.sources.IcebergTable.read, which " +
                "rebuilds reordered nested fields by field-id")
            name -> Left(StructField(wf.get("name").asText(),
              IcebergDsv2.readType(wf.get("type"), cf.get("type")),
              nullable = true))
          case None if ws.isDefined =>
            name -> Right(
              IcebergDsv2.initialDefaultValue(cf, logicalDt))
          case None =>
            name -> Left(StructField(name, logicalDt, nullable = true))
        }
      }
    // an equality-delete KEY that reads as a constant in this era
    // cannot feed the per-row key check — refused, not mis-deleted
    resolved.foreach { case (name, r) =>
      if (r.isRight && eqColsNeeded.contains(name))
        throw new IllegalStateException(
          s"equality-delete key $name was added after some files of " +
            s"$table were written: use graft.sources.IcebergTable.read")
    }

    val readFields = resolved.collect { case (name, Left(sf)) => (name, sf) }
    val constants = resolved.collect { case (name, Right(v)) => name -> v }
      .toMap
    // out-of-spec manifests without an embedded schema: name
    // resolution, guarded by a one-footer check (driver metadata)
    if (ws.isEmpty && sampleFile.isDefined)
      IcebergTable.requireFooterNames(
        spark, sampleFile.get, readFields.map(_._2.name))

    val physRead = StructType(readFields.map(_._2) ++
      (if (anyDrop)
        Seq(StructField(ParquetReadBridge.RowIndexColumn, LongType))
      else Nil))
    val emitted = StructType(
      readFields.map { case (name, sf) =>
        StructField(name, sf.dataType, nullable = true)
      } ++
        (if (anyDrop)
          Seq(StructField(ParquetReadBridge.RowIndexColumn, LongType))
        else Nil) ++
        partitionSchema.fields)
    // the era's full data schema (for the bridge): every current
    // column the writer era carries, physically rendered
    val dataSchema = StructType(
      p.schemaNode.get("fields").elements().asScala.toSeq
        .filterNot(f => partitionCols.contains(f.get("name").asText()))
        .flatMap { cf =>
          if (ws.isEmpty)
            Some(StructField(cf.get("name").asText(),
              IcebergTable.toSparkType(cf.get("type")), nullable = true))
          else writerById.get(cf.get("id").asInt()).map(wf =>
            StructField(wf.get("name").asText(),
              IcebergDsv2.readType(wf.get("type"), cf.get("type")),
              nullable = true))
        })
    // parquet-level pushdown only when this era reads identity
    // (logical names = physical names): a renamed era's files don't
    // carry the filters' column names. File-level stats pruning and
    // Spark's row-level re-apply hold either way.
    val identityEra = readFields.forall { case (name, sf) => sf.name == name }
    val dataFilters =
      if (!identityEra) Nil
      else pushed.filter(
        _.references.forall(c => dataSchema.fieldNames.contains(c)))
    val readFunc = ParquetReadBridge.reader(
      spark, dataSchema, partitionSchema, physRead, dataFilters)
    val rowIdxPos =
      if (anyDrop)
        physRead.fieldNames.indexOf(ParquetReadBridge.RowIndexColumn)
      else -1
    val signature =
      (readFields.map { case (n, sf) => s"$n=${sf.name}:${sf.dataType.sql}" } ++
        constants.toSeq.sortBy(_._1).map { case (k, v) => s"$k#$v" } ++
        idCols.map { case (a, b) => s"$a@$b" } ++
        // the CDF planner dedups eras ACROSS pinned scans by this
        // signature: a no-deletes snapshot's era (no row-index read)
        // must not swallow a with-deletes one
        Seq(s"rowidx=${rowIdxPos >= 0}")).mkString("|")
    EraSpec(idCols, partitionSchema, constants,
      EraReader(readFunc, emitted, rowIdxPos), signature)
  }

  /** All eras present in the planned snapshot, PLUS a synthetic
    * current-schema era (slot for streaming tails over a table whose
    * files all predate the stream, or an empty table). Built once;
    * the factory array is immutable after that.
    */
  private lazy val eras: (Array[EraSpec], Map[(Option[String], Seq[(String, String)]), Int]) = {
    val keys = p.entries
      .map(e => (e.writerSchemaJson, IcebergDsv2.idColsOf(e, p)))
      .distinct.sortBy(k => (k._1.getOrElse(""), k._2.mkString(",")))
    val sampleOf: Map[(Option[String], Seq[(String, String)]), String] =
      p.entries.groupBy(e =>
        (e.writerSchemaJson, IcebergDsv2.idColsOf(e, p)))
        .map { case (k, es) => k -> es.head.path }
    val buf = scala.collection.mutable.ArrayBuffer.empty[EraSpec]
    val idx = scala.collection.mutable.Map
      .empty[(Option[String], Seq[(String, String)]), Int]
    def add(key: (Option[String], Seq[(String, String)]),
        sample: Option[String]): Unit = {
      val spec = resolveEra(key._1, key._2, sample)
      buf.indexWhere(_.signature == spec.signature) match {
        case -1 => buf += spec; idx(key) = buf.size - 1
        case i => idx(key) = i
      }
    }
    keys.foreach(k => add(k, sampleOf.get(k)))
    // synthetic current era: identity resolution under the current
    // default spec's identity sources (tail appends land here)
    val curIdCols: Seq[(String, String)] =
      IcebergTable.identityPartitionSources(IcebergTable.metadataJson(table))
        .collect { case (pfName, src, _)
          if p.schema.fieldNames.contains(src) => (src, pfName) }
    add((None, curIdCols), None)
    (buf.toArray, idx.toMap)
  }

  private def eraIndexOf(e: IcebergTable.FileEntry): Int = {
    val key = (e.writerSchemaJson, IcebergDsv2.idColsOf(e, p))
    eras._2.get(key).getOrElse {
      // an era unseen at plan/factory time (a mid-stream schema or
      // spec change): match semantically, else fail loudly — the
      // factory array is already shipped
      val spec = resolveEra(key._1, key._2, Some(e.path))
      val i = eras._1.indexWhere(_.signature == spec.signature)
      require(i >= 0,
        s"file ${e.path} of $table was written under a schema/spec era " +
          "unknown to this scan (evolved under a running stream?): " +
          "restart the stream to pick up the new metadata")
      i
    }
  }

  private lazy val eqSpecs: Array[EqDeleteSpec] =
    p.eqDeletes.map(IcebergDsv2.eqSpecOf).toArray

  private lazy val icebergFactory: Factory =
    new Factory(eras._1.map(_.reader), required)

  private[dsv2] override def batchFactory(): PartitionReaderFactory =
    if (IcebergDsv2.isCdf(options)) cdfPlanner.factory()
    else icebergFactory

  // the CDF planner's era-registry remapping needs the pinned scans'
  // era wiring by LOCAL index
  private[dsv2] def eraReaderAt(i: Int): EraReader = eras._1(i).reader
  private[dsv2] def eraSignatureAt(i: Int): String = eras._1(i).signature

  /** Shared (file_path, pos) reader for position-delete files. */
  private lazy val posDeleteReadFunc = {
    val s = StructType(Seq(
      StructField("file_path", StringType),
      StructField("pos", LongType)))
    ParquetReadBridge.reader(SparkSession.active, s, StructType(Nil), s, Nil)
  }

  /** One slice per file entry — shared by batch planning and the
    * streaming source's tail batches (a tail entry carries no DV and
    * its sequence number exceeds every existing equality delete's, so
    * its delete sets resolve empty).
    */
  private[dsv2] def sliceFor(
      e: IcebergTable.FileEntry): GraftInputPartition = {
    val era = eras._1(eraIndexOf(e))
    val pv = new GenericInternalRow(
      era.partitionSchema.fields.map { f =>
        val pfName = era.idCols.find(_._1 == f.name).map(_._2)
          .getOrElse(f.name)
        val raw = e.pv.get(pfName).flatten.orNull
        DeltaDsv2.internalPartValue(raw, f.dataType)
      }.toArray[Any])
    val canonPath = DeltaLog.canonFile(e.path)
    val drop: Seq[PositionSpec] =
      p.dvByFile.getOrElse(canonPath, Nil) ++
        (if (p.posDeleteFiles.isEmpty) Nil
        else Seq(ParquetPosDeletes(
          p.posDeleteFiles, canonPath, posDeleteReadFunc)))
    // equality deletes apply when the data file's sequence
    // number is STRICTLY below the delete's (spec scoping rule)
    val eqDrop = p.eqDeletes.zipWithIndex
      .collect { case (d, i) if e.seq < d.seq => eqSpecs(i) }
    GraftInputPartition(
      ParquetReadBridge.wholeFile(pv, e.path,
        Files.size(Paths.get(e.path)), 0L),
      drop, null, eqDrop, Nil, era.constants, eraIndexOf(e))
  }

  private[dsv2] override def batchPartitions(): Array[InputPartition] =
    if (IcebergDsv2.isCdf(options)) cdfPartitions()
    else {
      val kept = keptFiles()
      val sized = kept.map(e => e -> Files.size(Paths.get(e.path)))
      // large files split at Spark's own maxSplitBytes formula (r17) —
      // delete state is file-scoped and row indexes file-absolute, so
      // every split carries its file's descriptors and admits only
      // its own rows. Streams stay file-granular (offset stability).
      val maxSplit = ParquetReadBridge.maxSplitBytes(
        SparkSession.active, sized.map(_._2).sum)
      sized.flatMap { case (e, size) =>
        val s = sliceFor(e)
        ParquetReadBridge.splitFile(
          s.pf.partitionValues, e.path, size, 0L, maxSplit)
          .map(pf => s.copy(pf = pf))
      }.toArray[InputPartition]
    }

  // ------------------------------------------------------------- CDF batch

  private lazy val cdfPlanner =
    new IcebergCdfPlanner(table, tableSchema, required, options)

  /** Batch CDF: the changelog of an inclusive snapshot range
    * (`start-snapshot-id`/`end-snapshot-id`, whole history when
    * absent — [[graft.sources.IcebergChangelog.changelog]]'s range
    * semantics), one ordinal per snapshot-log entry.
    */
  private def cdfPartitions(): Array[InputPartition] = {
    val ids = IcebergTable.snapshotIds(table)
    require(ids.nonEmpty, s"$table has no snapshots: no changelog")
    val from = IcebergDsv2.opt(options, "start-snapshot-id")
      .map(_.toLong).getOrElse(ids.head)
    val to = IcebergDsv2.opt(options, "end-snapshot-id")
      .map(_.toLong).getOrElse(ids.last)
    val i0 = ids.indexOf(from)
    val i1 = ids.indexOf(to)
    require(i0 >= 0, s"snapshot $from not in the snapshot log (expired?)")
    require(i1 >= 0, s"snapshot $to not in the snapshot log (expired?)")
    require(i0 <= i1, s"changelog range is reversed: $from after $to")
    (i0 to i1).flatMap(ord => cdfPlanner.slicesFor(
      ids(ord), if (ord == 0) None else Some(ids(ord - 1)), ord))
      .toArray[InputPartition]
  }

  override def toMicroBatchStream(
      checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new IcebergMicroBatchStream(table, tableSchema, required, options,
      IcebergDsv2.isCdf(options))
}

/** Iceberg CHANGE-DATA-FEED slice planning — the batch
  * [[graft.sources.IcebergChangelog]] semantics re-expressed as
  * [[GraftFileBatch]] input partitions, so batch CDF
  * (`readChangeFeed=true`) and the streaming changelog run through
  * ONE executor-side reader (the [[DeltaCdfPlanner]] format twin).
  *
  * Per snapshot against its predecessor in the snapshot log:
  *
  *  - `replace` (compaction) contributes nothing;
  *  - ADDED data files feed their live-at-S rows as `insert`
  *    (S-pinned MoR slices: same-commit DVs apply, same-commit
  *    equality deletes don't — the spec's strictly-smaller sequence
  *    scope);
  *  - REMOVED data files feed their live-at-parent rows as `delete`
  *    (parent-pinned MoR slices);
  *  - carried files under NEW position-delete content feed keep-mode
  *    slices whose keep set is dead(S) ∖ dead(parent), diffed ON THE
  *    EXECUTOR ([[GraftFileBatch.DiffPositions]] — a shrink refuses
  *    as an un-delete; a candidate whose diff resolves empty opens
  *    no data file);
  *  - NEW equality-delete files feed the parent-live rows matching
  *    the new keys (eqKeep admission against executor-loaded key
  *    sets), one slice per equality-ids group — the batch reader's
  *    per-group emission, duplicates and all.
  *
  * Planning is manifest-bounded driver metadata work: delete content
  * is never read at plan time (the r17 executor-side-resolution
  * contract, [[graft.sources.DeleteAccess]]-pinned).
  *
  * ERAS: slices resolve their write-time schema era through
  * snapshot-PINNED scans, and the planner remaps each scan's local
  * era indices into one grow-only registry keyed by era SIGNATURE —
  * a single reader factory serves slices planned from any snapshot
  * over the stream's lifetime. A schema CHANGE across the consumed
  * range refuses toward [[graft.sources.IcebergChangelog.changelog]]
  * (which stamps every snapshot's rows under the current schema).
  */
private[dsv2] class IcebergCdfPlanner(
    table: String, tableSchema: StructType, required: StructType,
    options: Map[String, String]) {

  import GraftFileBatch._

  private val baseSchema = StructType(tableSchema.fields.filterNot(f =>
    IcebergDsv2.cdfExtra.exists(_.name == f.name)))
  // the data columns the slices must read; the changelog triple rides
  // as per-slice constants. A query projecting ONLY the triple still
  // needs one physical column to drive row counts.
  private val dataRequired = {
    val fs = required.fields.filterNot(f =>
      IcebergDsv2.cdfExtra.exists(_.name == f.name))
    if (fs.nonEmpty) StructType(fs)
    else StructType(Array(baseSchema.fields.minBy(_.name.length)))
  }
  // snapshot selection is this planner's job; CDF/range/stream
  // options must not leak into the pinned scans
  private val baseOptions = options -- Seq("readchangefeed",
    "snapshotid", "ref", "timestampasof", "start-snapshot-id",
    "end-snapshot-id", "skipchangecommits", "path")

  // at most a handful of snapshots are live at once (each pinned scan
  // holds its snapshot's FULL file listing — letting every consumed
  // snapshot accumulate would grow driver memory with stream lifetime
  // on a large table), so consumed snapshots are evicted as the
  // changelog advances past them
  private val scanCache =
    new java.util.concurrent.ConcurrentHashMap[Long, IcebergDsv2Scan]()

  private def retainOnly(keep: Set[Long]): Unit =
    scanCache.keySet.removeIf(k => !keep.contains(k))

  private def pinned(sid: Long): IcebergDsv2Scan =
    scanCache.computeIfAbsent(sid, _ => {
      val s = IcebergDsv2Scan(table, baseSchema, dataRequired, Nil,
        baseOptions + ("snapshotid" -> sid.toString))
      require(s.p.schema == baseSchema,
        s"the schema of $table changed across the changelog range " +
          s"(at snapshot $sid): this planner emits one schema — use " +
          "graft.sources.IcebergChangelog.changelog, which reads every " +
          "snapshot under the current schema by field-id")
      s
    })

  // grow-only era registry: indices are stable, so a factory built
  // AFTER planning serves every slice planned so far
  private val eraSigs = scala.collection.mutable.ArrayBuffer.empty[String]
  private val eraReaders =
    scala.collection.mutable.ArrayBuffer.empty[EraReader]

  private def remap(
      scan: IcebergDsv2Scan,
      s: GraftInputPartition): GraftInputPartition = synchronized {
    val sig = scan.eraSignatureAt(s.era)
    val i = eraSigs.indexOf(sig) match {
      case -1 =>
        eraSigs += sig
        eraReaders += scan.eraReaderAt(s.era)
        eraSigs.size - 1
      case j => j
    }
    s.copy(era = i)
  }

  def factory(): Factory = synchronized {
    new Factory(eraReaders.toArray, required)
  }

  private def stamp(
      s: GraftInputPartition, kind: String, ord: Int,
      sid: Long): GraftInputPartition =
    s.copy(constants = s.constants ++ Map[String, Any](
      "_change_type" -> kind,
      "_change_ordinal" -> ord,
      "_commit_snapshot_id" -> sid))

  /** The whole MoR-resolved state at `sid` as insert slices (the
    * streaming source's initial snapshot).
    */
  def snapshotSlices(sid: Long, ord: Int): Seq[GraftInputPartition] = {
    val scan = pinned(sid)
    scan.p.entries.sortBy(_.path).map(e =>
      stamp(remap(scan, scan.sliceFor(e)), "insert", ord, sid))
  }

  /** Change slices of ONE snapshot against its log predecessor. */
  def slicesFor(
      sid: Long, parent: Option[Long],
      ord: Int): Seq[GraftInputPartition] = {
    val meta = IcebergTable.metadataJson(table)
    val snap = IcebergTable.snapshotNode(meta, Some(sid))
    val op = Option(snap.get("summary"))
      .flatMap(s => Option(s.get("operation")).map(_.asText()))
      .getOrElse("append")
    if (op == "replace") return Nil // compaction: content unchanged
    val sScan = pinned(sid)
    val pS = sScan.p
    val parentScan = parent.map(pinned)
    val parentByPath: Map[String, IcebergTable.FileEntry] =
      parentScan.map(_.p.entries.map(e =>
        DeltaLog.canonFile(e.path) -> e).toMap).getOrElse(Map.empty)
    val sPaths: Set[String] =
      pS.entries.map(e => DeltaLog.canonFile(e.path)).toSet

    val inserts = pS.entries
      .filterNot(e => parentByPath.contains(DeltaLog.canonFile(e.path)))
      .sortBy(_.path)
      .map(e => stamp(remap(sScan, sScan.sliceFor(e)), "insert", ord, sid))
    if (parentScan.isEmpty) return inserts
    val pScan = parentScan.get
    val pP = pScan.p

    val fileDeletes = pP.entries
      .filterNot(e => sPaths.contains(DeltaLog.canonFile(e.path)))
      .sortBy(_.path)
      .map(e => stamp(remap(pScan, pScan.sliceFor(e)), "delete", ord, sid))

    // parquet position-delete / equality-delete files must not VANISH
    // outside a replace (a silent un-delete; puffin DV entries
    // legitimately turn over — the merged rewrite drops the
    // superseded vector, diffed per file below)
    val sPosPaths = pS.posDeleteFiles.map(_.path).toSet
    val vanishedPos = pP.posDeleteFiles.map(_.path).filterNot(sPosPaths)
    val sEqPaths = pS.eqDeletes.map(_.path).toSet
    val vanishedEq = pP.eqDeletes.map(_.path).filterNot(sEqPaths)
    require(vanishedPos.isEmpty && vanishedEq.isEmpty,
      s"delete file(s) ${(vanishedPos ++ vanishedEq).mkString(", ")} " +
        s"vanished in non-replace snapshot $sid of $table (un-delete): " +
        "refused rather than emitting a wrong feed")

    val common = pS.entries
      .filter(e => parentByPath.contains(DeltaLog.canonFile(e.path)))
      .sortBy(_.path)

    // ---- newly-dead positions on carried files ----------------------
    // New parquet delete files name their targets only in CONTENT, so
    // every carried file becomes a candidate keep-slice (most resolve
    // empty on the executor and open nothing); a changed DV descriptor
    // scopes its candidate to the one referenced file.
    val newPosFiles = sPosPaths -- pP.posDeleteFiles.map(_.path).toSet
    def dvChanged(c: String): Boolean =
      pS.dvByFile.get(c) != pP.dvByFile.get(c)
    val posSlices = common.flatMap { e =>
      val c = DeltaLog.canonFile(e.path)
      if (newPosFiles.isEmpty && !dvChanged(c)) None
      else {
        val sS = sScan.sliceFor(e)
        val sP = pScan.sliceFor(parentByPath(c))
        // keep = dead(S) ∖ dead(parent); the row must also have been
        // LIVE at the parent, so its equality-delete scope applies
        Some(stamp(remap(sScan, sS.copy(
          drop = Nil,
          keep = DiffPositions(sS.drop, sP.drop),
          eqDrop = sP.eqDrop, eqKeep = Nil)), "delete", ord, sid))
      }
    }

    // ---- new equality-delete files → matching parent-live rows ------
    val pEqPaths = pP.eqDeletes.map(_.path).toSet
    val newEq = pS.eqDeletes.filterNot(d => pEqPaths.contains(d.path))
    val eqSlices =
      if (newEq.isEmpty) Nil
      else {
        val groups = newEq.groupBy(_.keyCols.map(_._1)).toSeq
          .sortBy(_._1.mkString(","))
        for {
          (_, ds) <- groups
          e <- common
          specs = ds.filter(d => e.seq < d.seq)
            .map(IcebergDsv2.eqSpecOf)
          if specs.nonEmpty
        } yield {
          // S's era (it reads the NEW key columns); parent's delete
          // state (the row must have been live at the parent)
          val sS = sScan.sliceFor(e)
          val sP = pScan.sliceFor(parentByPath(DeltaLog.canonFile(e.path)))
          stamp(remap(sScan, sS.copy(
            drop = sP.drop, keep = null,
            eqDrop = sP.eqDrop, eqKeep = specs)), "delete", ord, sid)
        }
      }

    // sid stays (it is the NEXT snapshot's parent); older pins go
    retainOnly(Set(sid) ++ parent)
    inserts ++ fileDeletes ++ posSlices ++ eqSlices
  }
}

/** Offset = (count of snapshot-log entries consumed, whether the
  * initial snapshot has been served, that snapshot's id, and — r17,
  * for `maxFilesPerTrigger` admission control — a FILE-GRANULAR
  * `index` within the current position: in the snapshot phase the
  * number of snapshot slices already served; in the tail `-1` means
  * entries `[0, logIdx)` fully consumed (the canonical caught-up
  * form — offset equality is how Spark detects "no new data") and
  * `k ≥ 0` means those entries PLUS the first `k` slices of entry
  * `logIdx`. Old checkpoints carry no `index`: it defaults to
  * "nothing served" in the snapshot phase and "entries complete" in
  * the tail — exactly what those offsets meant. The snapshot-log is
  * append-only (rollbacks APPEND a re-current entry), so the log
  * index is a monotone stream position from format-version 1 up —
  * sequence numbers, the v2 alternative, don't exist on v1 tables.
  */
private[dsv2] case class IcebergStreamOffset(
    logIdx: Long, snapshotDone: Boolean, snapshotId: Long,
    index: Long = -1L)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    s"""{"logIdx":$logIdx,"snapshotDone":$snapshotDone,""" +
      s""""snapshotId":$snapshotId,"index":$index}"""
}

private[dsv2] object IcebergStreamOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def fromJson(s: String): IcebergStreamOffset = {
    val n = mapper.readTree(s)
    val done = n.get("snapshotDone").asBoolean()
    IcebergStreamOffset(
      n.get("logIdx").asLong(),
      done,
      n.get("snapshotId").asLong(),
      Option(n.get("index")).map(_.asLong())
        .getOrElse(if (done) -1L else 0L))
  }
}

/** The Iceberg STREAMING SOURCE — the [[DeltaMicroBatchStream]] twin
  * (iceberg-spark's own incremental append scan has the same shape):
  * initial snapshot (the full MoR-resolved file set at the START
  * offset's snapshot — PINNED BY THE OFFSET, r17: a snapshot
  * committing between initialOffset and the first
  * planInputPartitions, or a restart from a snapshotDone=false
  * checkpoint, must not re-serve the newer files the tail already
  * covers) as the first micro-batch, then each later snapshot's
  * APPENDED files — the status-1 entries of the data manifests whose
  * `added_snapshot_id` is that snapshot, the spec's append marker —
  * as one batch each. Non-append snapshots (delete/overwrite/replace)
  * fail the stream unless `skipChangeCommits` drops them; a
  * NON-LINEAR history step (a rollback re-currenting an old snapshot)
  * fails loudly — replaying it would duplicate rows. Exactly-once by
  * snapshot-log-index offsets in the streaming checkpoint, now (r17)
  * FILE-GRANULAR: `maxFilesPerTrigger` bounds each micro-batch
  * through `SupportsAdmissionControl`, splitting the initial
  * snapshot of a 100 TB table and oversized log entries into bounded
  * batches — in append mode AND in CDF mode (the changelog slices
  * ride the same per-entry lists).
  */
private[dsv2] class IcebergMicroBatchStream(
    table: String, tableSchema: StructType, required: StructType,
    options: Map[String, String], cdf: Boolean)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  private val skipChangeCommits =
    IcebergDsv2.opt(options, "skipChangeCommits").exists(_.toBoolean)

  // CDF mode (`readChangeFeed=true`): the per-snapshot changelog
  // planner replaces the append-only tail — deletes arrive as change
  // rows instead of failing the stream. `start-snapshot-id` skips the
  // snapshot phase and replays the changelog from that snapshot
  // (inclusive), converging with the batch changelog over the same
  // window.
  private lazy val cdfPlanner =
    new IcebergCdfPlanner(table, tableSchema, required, options)

  // ONE scan per stream run, pinned to the start offset's snapshot
  // when the snapshot phase is (still) pending — its plan carries the
  // snapshot's delete state, its era array serves snapshot AND tail
  // slices, and its factory is what every micro-batch reads through
  @volatile private var runScan: IcebergDsv2Scan = _

  private def scanPinnedAt(snapId: Long): IcebergDsv2Scan =
    IcebergDsv2Scan(table, tableSchema, required, Nil,
      options + ("snapshotid" -> snapId.toString))

  private def theScan(start: IcebergStreamOffset): IcebergDsv2Scan = {
    if (runScan == null) runScan =
      if (!start.snapshotDone) scanPinnedAt(start.snapshotId)
      else IcebergDsv2Scan(table, tableSchema, required, Nil, options)
    runScan
  }

  override def initialOffset(): Offset =
    IcebergDsv2.opt(options, "start-snapshot-id")
      .filter(_ => cdf) match {
      case Some(s0) =>
        // changelog replay from s0 (inclusive); no snapshot phase
        val ids = IcebergTable.snapshotIds(table)
        val i = ids.indexOf(s0.toLong)
        require(i >= 0,
          s"snapshot $s0 not in the snapshot log of $table (expired?)")
        IcebergStreamOffset(i.toLong, snapshotDone = true, -1L)
      case None =>
        val meta = IcebergTable.metadataJson(table)
        val cur = IcebergTable.currentSnapshotNode(meta)
        IcebergStreamOffset(
          IcebergTable.snapshotLog(table).size.toLong,
          snapshotDone = false,
          cur.get("snapshot-id").asLong(), 0L)
    }

  // ------------------------------------------------------ slice lists
  // Per-position slice lists are deterministic for a given log state
  // (entries are immutable once written; the CDF planner is
  // metadata-derived), so caching them keeps latestOffset counting
  // and planInputPartitions consistent within a run.

  private val sliceCache = new java.util.concurrent.ConcurrentHashMap[
    Long, IndexedSeq[GraftFileBatch.GraftInputPartition]]()

  private def snapshotSlices(
      s: IcebergStreamOffset)
      : IndexedSeq[GraftFileBatch.GraftInputPartition] =
    sliceCache.computeIfAbsent(-1000000L - s.snapshotId, _ =>
      (if (cdf) cdfPlanner.snapshotSlices(s.snapshotId, (s.logIdx - 1).toInt)
      else theScan(s).batchPartitions().toSeq
        .map(_.asInstanceOf[GraftFileBatch.GraftInputPartition]))
        .toIndexedSeq)

  /** Slices of log entry `i` — append-mode (linearity + append-only
    * gates) or the changelog planner's change slices in CDF mode.
    */
  private def entrySlices(
      i: Int, start: IcebergStreamOffset)
      : IndexedSeq[GraftFileBatch.GraftInputPartition] =
    sliceCache.computeIfAbsent(i.toLong, _ => {
      val log = IcebergTable.snapshotLog(table)
      if (cdf)
        cdfPlanner.slicesFor(log(i)._2,
          if (i == 0) None else Some(log(i - 1)._2), i).toIndexedSeq
      else appendEntrySlices(i, log, theScan(start)).toIndexedSeq
    })

  private def appendEntrySlices(
      i: Int, log: Seq[(Long, Long)], scan: IcebergDsv2Scan)
      : Seq[GraftFileBatch.GraftInputPartition] = {
    val meta = IcebergTable.metadataJson(table)
    val snapId = log(i)._2
    val sn = Option(meta.get("snapshots")).toSeq
      .flatMap(_.elements().asScala)
      .find(_.get("snapshot-id").asLong() == snapId)
      .getOrElse(throw new IllegalStateException(
        s"snapshot $snapId from the log is expired: the stream " +
          "cannot reconstruct its batch"))
    // linear-history gate: this entry must extend the previous one —
    // a rollback re-currents an ALREADY-SERVED snapshot and replaying
    // it would duplicate rows
    if (i > 0) {
      val prevId = log(i - 1)._2
      val parent = Option(sn.get("parent-snapshot-id"))
        .filterNot(_.isNull).map(_.asLong())
      require(parent.contains(prevId),
        s"non-linear history at snapshot $snapId of $table (a " +
          "rollback?): replaying it would duplicate rows — start a " +
          "fresh stream from the current snapshot instead")
    }
    val op = Option(sn.get("summary"))
      .flatMap(su => Option(su.get("operation")))
      .map(_.asText()).getOrElse("unknown")
    if (op != "append") {
      if (skipChangeCommits) Nil
      else throw new IllegalStateException(
        s"snapshot $snapId of $table is '$op', not an append: a " +
          "streaming read cannot retract rows — set " +
          "skipChangeCommits=true to drop such commits, or stream " +
          "with readChangeFeed=true to consume the changes")
    } else {
      IcebergTable.addedDataFiles(table, meta, sn)
        .sortBy(_.path)
        .map(scan.sliceFor)
    }
  }

  // ------------------------------------------------- admission control

  override def getDefaultReadLimit: ReadLimit =
    IcebergDsv2.opt(options, "maxFilesPerTrigger")
      .map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    latestOffset(initialOffset(), ReadLimit.allAvailable())

  override def latestOffset(start0: Offset, limit: ReadLimit): Offset = {
    val s = start0.asInstanceOf[IcebergStreamOffset]
    var budget: Long = limit match {
      case m: ReadMaxFiles => m.maxFiles().toLong
      case _ => Long.MaxValue
    }
    val logSize = IcebergTable.snapshotLog(table).size.toLong
    var idx = s.logIdx
    var within = if (s.snapshotDone) s.index else -1L
    if (!s.snapshotDone) {
      val n = snapshotSlices(s).size.toLong
      val rem = n - s.index
      if (budget < rem)
        return IcebergStreamOffset(s.logIdx, snapshotDone = false,
          s.snapshotId, s.index + budget)
      budget -= rem
      within = -1L
    }
    if (within >= 0L) {
      val n = entrySlices(idx.toInt, s).size.toLong
      val rem = n - within
      if (budget < rem)
        return IcebergStreamOffset(idx, snapshotDone = true, -1L,
          within + budget)
      budget -= rem
      idx += 1L
    }
    while (idx < logSize) {
      val n = entrySlices(idx.toInt, s).size.toLong
      if (budget < n)
        return (if (budget == 0L)
          IcebergStreamOffset(idx, snapshotDone = true, -1L, -1L)
        else IcebergStreamOffset(idx, snapshotDone = true, -1L, budget))
      budget -= n
      idx += 1L
    }
    IcebergStreamOffset(idx, snapshotDone = true, -1L, -1L)
  }

  override def deserializeOffset(json: String): Offset =
    IcebergStreamOffset.fromJson(json)

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[IcebergStreamOffset]
    val e = end.asInstanceOf[IcebergStreamOffset]
    val parts = scala.collection.mutable.ArrayBuffer
      .empty[GraftFileBatch.GraftInputPartition]
    var idx = s.logIdx
    var within = if (s.snapshotDone) s.index else -1L
    if (!s.snapshotDone) {
      val snap = snapshotSlices(s)
      if (!e.snapshotDone)
        return snap.slice(s.index.toInt, e.index.toInt)
          .toArray[InputPartition]
      parts ++= snap.drop(s.index.toInt)
      within = -1L
    }
    if (within >= 0L) {
      val all = entrySlices(idx.toInt, s)
      if (e.logIdx == idx && e.index >= 0L) {
        parts ++= all.slice(within.toInt, e.index.toInt)
        return parts.toArray[InputPartition]
      }
      parts ++= all.drop(within.toInt)
      idx += 1L
    }
    val logSize = IcebergTable.snapshotLog(table).size.toLong
    while (idx < math.min(e.logIdx, logSize)) {
      parts ++= entrySlices(idx.toInt, s)
      idx += 1L
    }
    if (e.index >= 0L && e.logIdx == idx && idx < logSize)
      parts ++= entrySlices(idx.toInt, s).take(e.index.toInt)
    parts.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    if (cdf) return cdfPlanner.factory()
    val scan =
      if (runScan != null) runScan
      else IcebergDsv2Scan(table, tableSchema, required, Nil, options)
    scan.batchFactory()
  }

  /** Spark has durably committed everything through `end`: consumed
    * entries' slice lists (and the snapshot list, once served) are
    * never re-planned, so their cache entries go — driver memory
    * must not grow with stream lifetime.
    */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[IcebergStreamOffset]
    sliceCache.keySet.removeIf(k =>
      (k >= 0L && k < e.logIdx) || (k < 0L && e.snapshotDone))
  }

  override def stop(): Unit = ()
}
