package graft.sources.dsv2

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graftext.ParquetReadBridge
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{DeltaDv, DeltaLog}

/** DataSourceV2 read path over the Delta transaction-log reader —
  * what a PLAIN Spark user gets:
  *
  * {{{
  *   spark.read.format("graft-delta").load(path)          // latest
  *     .option("versionAsOf", 3)                          // time travel
  *     .option("timestampAsOf", "2026-08-01T00:00:00Z")
  *     .option("readChangeFeed", "true")                  // CDF rows
  *     .option("startingVersion", 1).option("endingVersion", 2)
  *   spark.readStream.format("graft-delta").load(path)    // snapshot+tail
  * }}}
  *
  * A batch read is PINNED when its frame is made: `load` records the
  * latest version beside the schema it resolves, and the scan reads
  * that version however many commits land before the frame runs (a
  * reader sees the snapshot it resolved); a new frame reads the new
  * version. `versionAsOf`/`timestampAsOf`, `readChangeFeed`, streams,
  * writes and `DELETE` resolve as they always did.
  *
  * This is the one Delta read path: [[graft.sources.DeltaLog.read]]
  * and `readRange` are wrappers over it. `.filter(...)` pushes down
  * through `SupportsPushDownFilters` and prunes at TWO levels —
  * file skipping against `add.stats` min/max/nullCount and exact
  * partition values ([[FilterPrune]], which [[DeltaLog.prunedFiles]]
  * reports with), then parquet row-group/page skipping inside Spark's
  * own reader; `.select(...)` prunes columns through
  * `SupportsPushDownRequiredColumns` down to the parquet scan. Every
  * filter is also reported residual so Spark re-applies it row-level
  * — skipping is never a correctness decision.
  *
  * Deletion vectors apply per file inside the [[GraftFileBatch]]
  * readers (row-index binary search, bounded by deleted rows),
  * shipped as DESCRIPTORS and resolved on the executors (r17).
  * COLUMN-MAPPED tables (r17) read through both protocol modes:
  * NAME mode scans under the stable physical parquet names (logical
  * names re-attach positionally), ID mode resolves by parquet footer
  * field-ids; `add.stats` and `add.partitionValues` lookups key by
  * physical name in both.
  *
  * Scale shape: planning is the same driver-side metadata replay
  * delta-spark performs — bounded by files, never by deleted rows;
  * execution is one `PartitionReader` per data file running Spark's
  * vectorized parquet decode — on a 1000-executor cluster the slices
  * fan out like any native scan, and a selective filter over a
  * stats-clustered (z-ordered) table reads only the files that can
  * match.
  */
class DeltaTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-delta"

  override def supportsExternalMetadata(): Boolean = false

  private def path(options: JMap[String, String]): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-delta requires a table path: .load(path)"))

  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : StructType =
    DeltaDsv2.schemaFor(SparkSession.active, path(options), options.asScala.toMap)

  override def inferPartitioning(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : Array[Transform] = Array.empty

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val options = properties.asScala.toMap.map { case (k, v) => (k.toLowerCase, v) }
    DeltaDsv2Table(path(properties), schema, options,
      DeltaDsv2.pinFor(SparkSession.active, path(properties), options))
  }
}

private[sources] object DeltaDsv2 {

  private val mapper = new ObjectMapper()

  /** Case-insensitive option lookup (DataFrameReader options arrive
    * caseInsensitive; getTable properties are lowercased upstream).
    */
  def opt(options: Map[String, String], key: String): Option[String] =
    options.get(key.toLowerCase)

  def versionFor(
      spark: SparkSession, table: String,
      options: Map[String, String]): Option[Long] =
    opt(options, "versionAsOf").map(_.toLong)
      .orElse(opt(options, "timestampAsOf").map { ts =>
        val ms = scala.util.Try(ts.toLong).getOrElse(
          java.time.Instant.parse(ts).toEpochMilli)
        DeltaLog.versionAtTimestamp(table, ms)
      })

  def isCdf(options: Map[String, String]): Boolean =
    opt(options, "readChangeFeed").exists(_.equalsIgnoreCase("true"))

  /** The version a batch read of `table` is pinned to when its frame
    * is made: the latest version at load. None when the options name
    * a version or a change feed, which resolve as they always did.
    */
  def pinFor(
      spark: SparkSession, table: String,
      options: Map[String, String]): Option[Long] =
    if (isCdf(options) || opt(options, "versionAsOf").isDefined ||
        opt(options, "timestampAsOf").isDefined) None
    else Some(DeltaLog.version(spark, table))

  val cdfExtra: Seq[StructField] = Seq(
    StructField("_change_type", StringType),
    StructField("_commit_version", LongType))

  def schemaFor(
      spark: SparkSession, table: String,
      options: Map[String, String]): StructType = {
    val st = DeltaLog.stateAt(spark, table, versionFor(spark, table, options))
    val base = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    if (isCdf(options)) StructType(base.fields ++ cdfExtra) else base
  }

  /** raw partition-value string → Catalyst INTERNAL value. */
  def internalPartValue(raw: String, dt: DataType): Any =
    if (raw == null) null
    else dt match {
      case StringType => UTF8String.fromString(raw)
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case ShortType => raw.toShort
      case ByteType => raw.toByte
      case DoubleType => raw.toDouble
      case FloatType => raw.toFloat
      case BooleanType => raw.toBoolean
      case DateType =>
        java.time.LocalDate.parse(raw).toEpochDay.toInt
      case TimestampNTZType =>
        // wall-clock value, no zone: micros of the local date-time
        // read as UTC (Spark's own NTZ encoding)
        val t = java.time.LocalDateTime.parse(raw.replace(' ', 'T'))
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .localDateTimeToMicros(t)
      case TimestampType =>
        // delta-spark interprets ZONELESS partition timestamp strings
        // in the SESSION time zone (spark.sql.session.timeZone), not
        // UTC — a zone-suffixed string keeps its own zone
        val t = raw.replace(' ', 'T')
        val i =
          try java.time.Instant.parse(t)
          catch {
            case _: Exception =>
              try java.time.OffsetDateTime.parse(t).toInstant
              catch {
                case _: Exception =>
                  java.time.LocalDateTime.parse(t)
                    .atZone(java.time.ZoneId.of(
                      org.apache.spark.sql.internal.SQLConf.get
                        .sessionLocalTimeZone))
                    .toInstant
              }
          }
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      case d: DecimalType =>
        Decimal(BigDecimal(raw), d.precision, d.scale)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported partition column type $other for graft-delta")
    }

  /** raw partition-value string → EXTERNAL value for [[FilterPrune]]
    * exact comparison (numerics as BigDecimal so they compare with
    * any numeric filter bound; temporals via the text path).
    */
  def externalPartValue(raw: String, dt: DataType): Any =
    if (raw == null) null
    else dt match {
      case StringType | TimestampType | TimestampNTZType => raw
      case DateType => java.time.LocalDate.parse(raw)
      case BooleanType => raw.toBoolean
      case _ => BigDecimal(raw)
    }

  private def jsonToExternal(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isNumber) BigDecimal(n.asText())
    else if (n.isBoolean) n.asBoolean()
    else n.asText()

  /** [[FilterPrune.ColumnStats]] view of one add entry. `physOf`
    * translates a LOGICAL column name to the PHYSICAL name
    * `add.stats` and `add.partitionValues` are keyed by — the
    * identity map on unmapped tables, the
    * `delta.columnMapping.physicalName` on mapped ones (a
    * logical-name lookup there would silently degrade skipping to
    * keep-all, or worse, hit a stale same-named key).
    */
  def statsView(
      a: DeltaLog.AddFile, schema: StructType,
      partitionCols: Seq[String],
      physOf: Map[String, String] = Map.empty): FilterPrune.ColumnStats = {
    lazy val stats = a.stats.flatMap(js =>
      try Some(mapper.readTree(js)) catch { case _: Exception => None })
    def phys(c: String): String = physOf.getOrElse(c, c)
    new FilterPrune.ColumnStats {
      private def node(section: String, column: String) =
        stats.flatMap(s => Option(s.get(section)))
          .flatMap(m => Option(m.get(phys(column))))
      override def exact(column: String): Option[Option[Any]] =
        if (!partitionCols.contains(column)) None
        else {
          val raw = a.partitionValues.getOrElse(phys(column), null)
          val dt = schema.fields.find(_.name == column)
            .map(_.dataType).getOrElse(StringType)
          Some(Option(raw).map(r => externalPartValue(r, dt)))
        }
      override def min(column: String): Option[Any] =
        node("minValues", column).map(jsonToExternal).filter(_ != null)
      override def max(column: String): Option[Any] =
        node("maxValues", column).map(jsonToExternal).filter(_ != null)
      override def allNull(column: String): Option[Boolean] =
        for {
          nc <- node("nullCount", column).map(_.asLong())
          n <- stats.flatMap(s => Option(s.get("numRecords"))).map(_.asLong())
        } yield nc == n && n > 0L
      override def mayHaveNull(column: String): Boolean =
        node("nullCount", column).forall(_.asLong() > 0L)
    }
  }

  /** Per-commit JSON actions (the CDF planners need raw actions, not
    * replayed state).
    */
  def commitActions(
      table: String, v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val p = Paths.get(table, "_delta_log", f"$v%020d.json")
    require(Files.isRegularFile(p),
      s"version $v's JSON commit is gone (log cleaned past a " +
        "checkpoint): the change feed for it cannot be reconstructed")
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map(mapper.readTree).toSeq
  }
}

/** Planner instrumentation: last (plannedFiles, totalFiles) per table
  * path — the file-access counter the DSv2 pruning specs assert on.
  */
object Dsv2Planning {
  private val last =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  private[dsv2] def record(table: String, planned: Int, total: Int): Unit =
    last.put(table, (planned, total))
  def plannedFor(table: String): Option[(Int, Int)] = Option(last.get(table))
}

// case class for the same reason as the Scan below: BatchScanExec's
// equality covers its `table` field too
private[dsv2] case class DeltaDsv2Table(
    table: String, tableSchema: StructType, options: Map[String, String],
    pinned: Option[Long])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  // SQL `DELETE FROM <cat>.delta.`p` WHERE <simple predicate>` in ANY
  // session (no extension registration): Spark's DeleteFromTableExec
  // hands the condition as V1 filters; the DV-growing writer executes
  // it. Conditions beyond the Filter algebra route through
  // [[GraftDmlStrategy]] instead.
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(GraftDml.filterToColumn(_).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val cond = filters.flatMap(GraftDml.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    graft.sources.DeltaExport.deleteWhere(SparkSession.active, table, cond)
  }

  // no backticks: Spark renders this through toSQLId in error
  // messages (e.g. the dynamic-overwrite capability check), and an
  // unbalanced-looking quoted name makes the REAL error unreadable
  override def name(): String = s"graft-delta:$table"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    DeltaWriteBuilder(table, info)

  override def newScanBuilder(
      caseInsensitiveOptions: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    new DeltaScanBuilder(table, tableSchema,
      options ++ caseInsensitiveOptions.asScala.toMap
        .map { case (k, v) => (k.toLowerCase, v) }, pinned)
}

private[dsv2] class DeltaScanBuilder(
    table: String, tableSchema: StructType, options: Map[String, String],
    pinned: Option[Long])
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // ALL residual: Spark re-applies row-level (parquet contract)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // empty projections (pure COUNT) still need a scan schema; keep
    // the narrowest column in that case
    required =
      if (requiredSchema.fields.nonEmpty) requiredSchema
      else StructType(Array(tableSchema.fields.minBy(_.name.length)))

  override def build(): Scan =
    DeltaDsv2Scan(table, tableSchema, required, pushed.toSeq, options, pinned)
}

// a CASE class: AQE broadcast reuse (which dynamic partition pruning
// depends on) compares BatchScanExec nodes by scan VALUE equality —
// a reference-equal scan silently degrades every DPP filter to `true`
private[dsv2] case class DeltaDsv2Scan(
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
    s"graft-delta $table, PushedFilters: [${pushed.mkString(", ")}]"

  private def spark = SparkSession.active

  // RUNTIME FILTERS (dynamic partition pruning / runtime row-group
  // filters): Spark calls filter(...) at execution time with the
  // materialized build-side values (typically In on the join key),
  // then re-plans the partitions — so pruning lives in
  // planInputPartitions, not in toBatch.
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  // only the scan's OUTPUT columns: Spark resolves these against the
  // pruned readSchema, and an unreadable reference fails analysis
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  private lazy val st = DeltaLog.stateAt(
    spark, table, DeltaDsv2.versionFor(spark, table, options).orElse(pinned))

  /** COLUMN MAPPING (r17): mode and the logical→physical name map —
    * `add.partitionValues`, `add.stats` and (name mode) the parquet
    * columns themselves are keyed by physical names; everything the
    * scan EMITS stays logical.
    */
  private lazy val mapMode: String =
    st.configuration.getOrElse("delta.columnMapping.mode", "none")
  private lazy val physOf: Map[String, String] =
    if (mapMode == "none") Map.empty
    else tableSchema.fields.map(f => f.name -> DeltaLog.physName(f)).toMap

  private def keptFiles(): Seq[DeltaLog.AddFile] = {
    // FILE SKIPPING: add.stats + exact partition values vs every
    // pushed AND runtime filter (conjunctive semantics — Spark pushes
    // the top-level conjuncts separately)
    val all = pushed ++ runtimeFilters
    val active = st.active.values.toSeq.sortBy(_.path)
    val kept = active.filter { a =>
      val view = DeltaDsv2.statsView(a, tableSchema, st.partitionCols, physOf)
      all.forall(f => FilterPrune.admits(view, f))
    }
    Dsv2Planning.record(table, kept.size, active.size)
    kept
  }

  /** [[keptFiles]] with each file's absolute path and size ON DISK,
    * not add.size: a log whose size under-states the file (or logs
    * none) would make the reader skip every row group past it
    * without an error, and mislead the join planner. One stat per
    * kept file; a missing file fails here, at planning.
    */
  private def keptOnDisk(): Seq[(DeltaLog.AddFile, String, Long)] =
    keptFiles().map { a =>
      val abs = DeltaLog.absPath(table, a.path)
      (a, abs, Files.size(Paths.get(abs)))
    }

  /** Post-pushdown statistics: Spark's join planner reads these to
    * auto-broadcast a selectively-filtered scan — at 100 TB this is
    * what turns "pruned dimension probe" into a broadcast join
    * instead of a shuffle. Size = bytes of the files that survive
    * stats pruning; rows = their stats numRecords when every kept
    * file carries one.
    */
  override def estimateStatistics(): Statistics = {
    if (DeltaDsv2.isCdf(options))
      return new Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    val kept = keptOnDisk()
    val size = kept.map(_._3).sum
    val rows: Option[Long] =
      try {
        val mapper = new ObjectMapper()
        val counts = kept.map(_._1.stats.flatMap { js =>
          Option(mapper.readTree(js).get("numRecords")).map(_.asLong())
        })
        if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
      } catch { case _: Exception => None }
    new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.of(size)
      override def numRows() = rows
        .map(java.util.OptionalLong.of)
        .getOrElse(java.util.OptionalLong.empty())
    }
  }

  // ---------------------------------------------------------------- batch

  override def toBatch: Batch = ValueEqualBatch(this)

  private lazy val partitionSchema = StructType(
    tableSchema.fields.filter(f => st.partitionCols.contains(f.name)))

  private lazy val deltaFactory: Factory = {
    val partitionCols = st.partitionCols
    val dataFields = tableSchema.fields.filterNot(f =>
      partitionCols.contains(f.name))
    // the reader shape must not depend on which files survive a
    // RUNTIME re-filter (the factory is built once): the row-index
    // column rides whenever ANY active file carries a DV
    val anyDv = st.active.values.exists(_.dv.isDefined)
    val requiredData = StructType(required.fields.filterNot(f =>
      partitionCols.contains(f.name)))
    val readData =
      if (anyDv)
        StructType(requiredData.fields :+
          StructField(ParquetReadBridge.RowIndexColumn, LongType))
      else requiredData
    // COLUMN MAPPING: name mode reads under the stable PHYSICAL
    // parquet names at every nesting level (the read schema is the
    // physical rendering; `emitted` keeps the logical names at the
    // same POSITIONS — InternalRows are positional, so the rename is
    // free); id mode keeps logical names and carries
    // `parquet.field.id`, resolved by Spark's field-id read path
    val (dataSchema, physReadData) = mapMode match {
      case "name" =>
        (DeltaLog.toPhysical(StructType(dataFields)).asInstanceOf[StructType],
          StructType(readData.fields.map(f =>
            if (f.name == ParquetReadBridge.RowIndexColumn) f
            else tableSchema.fields.find(_.name == f.name) match {
              case Some(tf) => StructField(DeltaLog.physName(tf),
                DeltaLog.toPhysical(tf.dataType), f.nullable)
              case None => f
            })))
      case "id" =>
        // runtime-settable; only changes behavior for read schemas
        // that carry parquet.field.id metadata (exactly this scan)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        // re-attach each field's metadata from the TABLE schema: a
        // pruned `required` may have lost the columnMapping.id the
        // field-id resolution rides on
        val withMeta = StructType(readData.fields.map(f =>
          if (f.name == ParquetReadBridge.RowIndexColumn) f
          else tableSchema.fields.find(_.name == f.name)
            .map(tf => f.copy(metadata = tf.metadata)).getOrElse(f)))
        (DeltaLog.withFieldIds(StructType(dataFields))
          .asInstanceOf[StructType],
          DeltaLog.withFieldIds(withMeta).asInstanceOf[StructType])
      case _ => (StructType(dataFields), readData)
    }
    val emitted = StructType(readData.fields ++ partitionSchema.fields)
    // parquet-level pushdown only on unmapped tables: a mapped file's
    // physical column names don't match the filters' logical
    // references (file-level stats pruning above and Spark's own
    // row-level re-apply still hold — every filter is residual)
    val dataFilters =
      if (mapMode != "none") Nil
      else pushed.filter(
        _.references.forall(c => dataSchema.fieldNames.contains(c)))
    val readFunc = ParquetReadBridge.reader(
      spark, dataSchema, partitionSchema, physReadData, dataFilters)
    new Factory(
      Array(EraReader(readFunc, emitted,
        if (anyDv)
          readData.fieldNames.indexOf(ParquetReadBridge.RowIndexColumn)
        else -1)),
      required)
  }

  private[dsv2] override def batchFactory(): PartitionReaderFactory =
    if (DeltaDsv2.isCdf(options)) cdfPlanner.factory() else deltaFactory

  private[dsv2] override def batchPartitions(): Array[InputPartition] =
    if (DeltaDsv2.isCdf(options)) cdfPartitions()
    else {
      val withSize = keptOnDisk()
      // large files split at Spark's own maxSplitBytes formula (r17):
      // one slice per FILE caps parallelism at the file count — a
      // 1 GB file must fan out like a native scan's row-group splits
      val maxSplit = ParquetReadBridge.maxSplitBytes(
        spark, withSize.map(_._3).sum)
      withSize.flatMap { case (a, abs, size) =>
        val pv = new GenericInternalRow(
          partitionSchema.fields.map(f => DeltaDsv2.internalPartValue(
            a.partitionValues
              .getOrElse(physOf.getOrElse(f.name, f.name), null),
            f.dataType)).toArray[Any])
        // the DV ships as a DESCRIPTOR — the executor resolves it;
        // positions are file-absolute, so every split of the file
        // carries the same descriptor and admits only its own rows
        val drop = a.dv.toSeq.map(d => DeltaDvPositions(table, d))
        ParquetReadBridge.splitFile(pv, abs, size, 0L, maxSplit)
          .map(pf => GraftInputPartition(pf, drop, null, Nil, Nil, Map.empty))
      }.toArray[InputPartition]
    }

  // ------------------------------------------------------------- CDF batch

  private lazy val cdfPlanner =
    new DeltaCdfPlanner(spark, table, tableSchema, required)

  private def cdfPartitions(): Array[InputPartition] = {
    val latest = DeltaLog.version(spark, table)
    val from = DeltaDsv2.opt(options, "startingVersion").map(_.toLong)
      .getOrElse(0L)
    val to = DeltaDsv2.opt(options, "endingVersion").map(_.toLong)
      .getOrElse(latest)
    (from to to).flatMap(cdfPlanner.slicesFor).toArray[InputPartition]
  }

  // ------------------------------------------------------------- streaming

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new DeltaMicroBatchStream(
      table, tableSchema, required, options, DeltaDsv2.isCdf(options))
}

/** Shared CDF slice planning — the [[graft.sources.DeltaCdf]] rules
  * (cdc actions authoritative; otherwise inserts from new adds,
  * deletes from un-re-added removes at the previous version, deletes
  * from GROWN deletion vectors via keep-mode position slices;
  * `dataChange:false` commits contribute nothing) re-expressed as
  * [[GraftFileBatch]] input partitions so batch CDF, streaming CDF
  * and the snapshot phase of the streaming source all run through
  * ONE executor-side reader. DeltaCdfStreamSpec pins this planner's
  * output row-identical to `DeltaCdf.readChangeFeed`.
  */
private[dsv2] class DeltaCdfPlanner(
    spark: SparkSession, table: String,
    tableSchema: StructType, required: StructType) {

  import GraftFileBatch._

  private val stLatest = DeltaLog.stateAt(spark, table, None)
  require(stLatest.configuration
    .getOrElse("delta.columnMapping.mode", "none") == "none",
    "CDF on column-mapped tables is out of this module's scope")
  private val partitionCols = stLatest.partitionCols
  private val baseSchema = StructType(
    tableSchema.fields.filterNot(f =>
      DeltaDsv2.cdfExtra.exists(_.name == f.name)))
  private val dataSchema = StructType(baseSchema.fields.filterNot(f =>
    partitionCols.contains(f.name)))
  private val partitionSchema = StructType(
    baseSchema.fields.filter(f => partitionCols.contains(f.name)))

  // cdc files carry _change_type in-file; data files yield null there
  // and the slice constant overrides (constants-first projection)
  private val requiredData = StructType(
    required.fields.filterNot(f =>
      partitionCols.contains(f.name) || f.name == "_commit_version")
      .map(f => StructField(f.name, f.dataType)))
  private val readData = StructType(
    (if (requiredData.fieldNames.contains("_change_type")) requiredData.fields
    else requiredData.fields :+ StructField("_change_type", StringType)) :+
      StructField(ParquetReadBridge.RowIndexColumn, LongType))
  private val emitted = StructType(readData.fields ++ partitionSchema.fields)
  private val cdcDataSchema = StructType(
    dataSchema.fields :+ StructField("_change_type", StringType))
  private val readFunc = ParquetReadBridge.reader(
    spark, cdcDataSchema, partitionSchema, readData, Nil)

  def factory(): Factory =
    new Factory(
      Array(EraReader(readFunc, emitted,
        readData.fieldNames.indexOf(ParquetReadBridge.RowIndexColumn))),
      required)

  private def pvRow(pv: Map[String, String]): InternalRow =
    new GenericInternalRow(
      partitionSchema.fields.map(f => DeltaDsv2.internalPartValue(
        pv.getOrElse(f.name, null), f.dataType)).toArray[Any])

  private def slice(
      abs: String, pv: Map[String, String],
      drop: Seq[PositionSpec], keep: PositionSpec,
      changeType: Option[String], version: Long): GraftInputPartition =
    GraftInputPartition(
      ParquetReadBridge.wholeFile(
        pvRow(pv), abs, Files.size(Paths.get(abs)), 0L),
      drop, keep, Nil, Nil,
      changeType.map(ct => Map("_change_type" -> (ct: Any)))
        .getOrElse(Map.empty) + ("_commit_version" -> (version: Any)))

  private def dvSpec(a: DeltaLog.AddFile): Seq[PositionSpec] =
    a.dv.toSeq.map(d => DeltaDvPositions(table, d))

  /** The whole active set at `v` as INSERT slices (the streaming
    * source's initial snapshot).
    */
  def snapshotSlices(v: Long): Seq[GraftInputPartition] = {
    requireCdfEnabled(v)
    DeltaLog.stateAt(spark, table, Some(v)).active.values.toSeq
      .sortBy(_.path).map { a =>
        slice(DeltaLog.absPath(table, a.path), a.partitionValues,
          dvSpec(a), null, Some("insert"), v)
      }
  }

  /** The active set at `v` as PLAIN table-row slices (non-CDF
    * streaming initial snapshot — no change columns).
    */
  def snapshotPlainSlices(v: Long): Seq[GraftInputPartition] =
    DeltaLog.stateAt(spark, table, Some(v)).active.values.toSeq
      .sortBy(_.path).map { a =>
        slice(DeltaLog.absPath(table, a.path), a.partitionValues,
          dvSpec(a), null, None, v)
      }

  /** delta-spark's per-version ENABLEMENT gate: serving CDF for a
    * version where `delta.enableChangeDataFeed` was off would
    * FABRICATE a feed (whole-file delete+insert pairs for rewrites)
    * that a compliant writer never authored — delta-spark refuses
    * the read, and so does this planner. The engine's own
    * reconstruction semantics for non-CDF tables stay available
    * through the bespoke [[graft.sources.DeltaCdf.readChangeFeed]].
    */
  private def requireCdfEnabled(v: Long): Unit = {
    val conf = DeltaLog.stateAt(spark, table, Some(v)).configuration
    require(conf.getOrElse("delta.enableChangeDataFeed", "false") == "true",
      s"version $v of $table was committed without " +
        "delta.enableChangeDataFeed=true: the change feed for it was " +
        "never recorded — narrow startingVersion/endingVersion to the " +
        "enabled range, or use graft.sources.DeltaCdf.readChangeFeed " +
        "(engine API, documented reconstruction semantics)")
  }

  /** Change slices of ONE commit — the DeltaCdf per-version rules. */
  def slicesFor(v: Long): Seq[GraftInputPartition] = {
    requireCdfEnabled(v)
    val actions = DeltaDsv2.commitActions(table, v)
    val cdcActions = actions.filter(_.has("cdc"))
    if (cdcActions.nonEmpty) {
      cdcActions.map { a =>
        val c = a.get("cdc")
        val pv =
          if (c.has("partitionValues") && !c.get("partitionValues").isNull) {
            val o = c.get("partitionValues")
            o.fieldNames().asScala.map(k => k -> o.get(k).asText()).toMap
          } else Map.empty[String, String]
        // _change_type comes FROM the cdc file: no constant
        slice(DeltaLog.absPath(table, c.get("path").asText()), pv,
          Nil, null, None, v)
      }
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
      val newPaths = adds.filterNot(prevActive.contains).distinct
      val goneRels0 = removes.filterNot(nowActive.contains).distinct
      // a MIXED commit (new files in, old files out, no cdc) is a
      // rewrite whose row-level changes were never recorded — serving
      // it as whole-file delete+insert pairs would fabricate a feed
      // (an UPDATE would double-report every untouched row in the
      // rewritten files); delta-spark refuses, so does this planner
      require(newPaths.isEmpty || goneRels0.isEmpty,
        s"version $v of $table rewrites data (adds AND removes) " +
          "without cdc actions: its row-level changes were never " +
          "recorded — refused rather than fabricating a change feed")
      val inserts = newPaths.flatMap(nowActive.get).map(a =>
        slice(DeltaLog.absPath(table, a.path), a.partitionValues,
          dvSpec(a), null, Some("insert"), v))
      val goneRels = goneRels0
      val deletes = goneRels.flatMap(prevActive.get).map(a =>
        slice(DeltaLog.absPath(table, a.path), a.partitionValues,
          dvSpec(a), null, Some("delete"), v))
      val reAdds = adds.filter(prevActive.contains).distinct
      // GROWN deletion vectors plan from DESCRIPTORS only: the
      // cardinalities (manifest metadata) decide growth vs no-op and
      // refuse a shrink; the subset property (before ⊆ after) and the
      // actual diff resolve on the EXECUTOR ([[DeltaDvDiff]]). An
      // equal-cardinality swap — un-delete + re-delete in one commit,
      // invalid under the un-delete contract this planner already
      // refuses — is the one shape metadata cannot see.
      val dvDeletes = reAdds.flatMap { rel =>
        val before = prevActive.get(rel).flatMap(_.dv)
        val after = nowActive.get(rel).flatMap(_.dv)
        val bCard = before.map(_.cardinality).getOrElse(0L)
        val aCard = after.map(_.cardinality).getOrElse(0L)
        require(aCard >= bCard,
          s"version $v SHRANK the deletion vector of $rel " +
            "(un-delete): refused rather than emitting a wrong feed")
        if (aCard == bCard) None
        else Some(slice(DeltaLog.absPath(table, rel),
          prevActive(rel).partitionValues,
          Nil, DeltaDvDiff(table, before, after.get), Some("delete"), v))
      }
      inserts ++ deletes ++ dvDeletes
    }
  }

  /** Non-CDF streaming slices of one commit: new adds as table rows.
    * A commit that CHANGES existing data (dataChange removes or DV
    * growth) fails the stream — delta-spark's append-only contract —
    * unless `skipChangeCommits` drops it wholesale.
    */
  def appendSlices(
      v: Long, skipChangeCommits: Boolean): Seq[GraftInputPartition] = {
    val actions = DeltaDsv2.commitActions(table, v)
    val removes = actions.filter(_.has("remove"))
      .filter(_.get("remove").get("dataChange").asBoolean(false))
    val adds = actions.filter(_.has("add"))
      .filter(_.get("add").get("dataChange").asBoolean(false))
      .map(_.get("add").get("path").asText()).distinct
    val prevActive: Map[String, DeltaLog.AddFile] =
      if (v == 0L) Map.empty
      else DeltaLog.stateAt(spark, table, Some(v - 1)).active
    val changes = removes.nonEmpty || adds.exists(prevActive.contains)
    if (changes) {
      if (skipChangeCommits) return Nil
      throw new IllegalStateException(
        s"version $v of $table is not an append (it removes or " +
          "rewrites data): a streaming read cannot retract rows — " +
          "set skipChangeCommits=true to drop such commits, or " +
          "stream with readChangeFeed=true to consume the deletes")
    }
    val nowActive = DeltaLog.stateAt(spark, table, Some(v)).active
    adds.flatMap(nowActive.get).map(a =>
      slice(DeltaLog.absPath(table, a.path), a.partitionValues,
        dvSpec(a), null, None, v))
  }
}

/** Offset = (last consumed version, whether the initial snapshot has
  * been served, the snapshot's version). JSON-serialized into the
  * streaming checkpoint: restart resumes at the exact version with no
  * duplicates and no gaps.
  */
/** Offset = (version, index, snapshotDone, snapshotVersion) — a
  * FILE-GRANULAR stream position so admission control
  * (`maxFilesPerTrigger`) can split the initial snapshot and big
  * commits across micro-batches:
  *  - snapshot phase (`snapshotDone=false`): `index` = snapshot
  *    slices already served, version pins the snapshot;
  *  - tail: `index = -1` means version fully consumed (the canonical
  *    caught-up form — offset equality is how Spark detects "no new
  *    data"), `index = k > 0` a partial version.
  * Old checkpoints (r16 pre-admission-control) carry no `index`: it
  * defaults to "nothing consumed" in the snapshot phase and "version
  * complete" in the tail — exactly what those offsets meant.
  */
private[dsv2] case class DeltaStreamOffset(
    version: Long, index: Long, snapshotDone: Boolean,
    snapshotVersion: Long)
    extends Offset {
  override def json(): String =
    s"""{"version":$version,"index":$index,""" +
      s""""snapshotDone":$snapshotDone,""" +
      s""""snapshotVersion":$snapshotVersion}"""
}

private[dsv2] object DeltaStreamOffset {
  private val mapper = new ObjectMapper()
  def fromJson(s: String): DeltaStreamOffset = {
    val n = mapper.readTree(s)
    val done = n.get("snapshotDone").asBoolean()
    DeltaStreamOffset(
      n.get("version").asLong(),
      Option(n.get("index")).map(_.asLong())
        .getOrElse(if (done) -1L else 0L),
      done,
      n.get("snapshotVersion").asLong())
  }
}

/** The Delta STREAMING SOURCE: initial snapshot (active files at the
  * stream's start version) then one slice set per committed version —
  * exactly-once by file-granular offsets in the streaming checkpoint.
  * `startingVersion` skips the snapshot and replays changes from that
  * version (delta-spark's semantics); `readChangeFeed=true` streams
  * CDF rows through the same per-commit planner the batch CDF uses;
  * `maxFilesPerTrigger` bounds each micro-batch's file count through
  * `SupportsAdmissionControl` — the initial snapshot of a 100 TB
  * table arrives as many bounded batches, not one giant one.
  */
private[dsv2] class DeltaMicroBatchStream(
    table: String, tableSchema: StructType, required: StructType,
    options: Map[String, String], cdf: Boolean)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles}

  private def spark = SparkSession.active
  private lazy val planner =
    new DeltaCdfPlanner(spark, table, tableSchema, required)
  private val skipChangeCommits =
    DeltaDsv2.opt(options, "skipChangeCommits").exists(_.toBoolean)

  // per-version slice lists are deterministic for a given log state
  // (append-only versions never change), so caching them keeps
  // latestOffset counting and planInputPartitions consistent
  private val sliceCache = new java.util.concurrent.ConcurrentHashMap[
    Long, IndexedSeq[GraftFileBatch.GraftInputPartition]]()

  private def snapshotSlices(
      v: Long): IndexedSeq[GraftFileBatch.GraftInputPartition] =
    sliceCache.computeIfAbsent(-v - 1000000L, _ =>
      (if (cdf) planner.snapshotSlices(v)
      else planner.snapshotPlainSlices(v)).toIndexedSeq)

  private def slicesOf(
      v: Long): IndexedSeq[GraftFileBatch.GraftInputPartition] =
    sliceCache.computeIfAbsent(v, _ =>
      (if (cdf) planner.slicesFor(v)
      else planner.appendSlices(v, skipChangeCommits)).toIndexedSeq)

  override def initialOffset(): Offset =
    DeltaDsv2.opt(options, "startingVersion") match {
      case Some(v) =>
        // change replay from v on; no snapshot phase
        DeltaStreamOffset(v.toLong - 1L, -1L, snapshotDone = true, -1L)
      case None =>
        val cur = DeltaLog.version(spark, table)
        DeltaStreamOffset(cur, 0L, snapshotDone = false, cur)
    }

  override def getDefaultReadLimit: ReadLimit =
    DeltaDsv2.opt(options, "maxFilesPerTrigger")
      .map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    latestOffset(initialOffset(), ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[DeltaStreamOffset]
    var budget: Long = limit match {
      case m: ReadMaxFiles => m.maxFiles().toLong
      case _ => Long.MaxValue
    }
    val latest = DeltaLog.version(spark, table)
    // snapshot phase first
    var tailV = s.version
    var tailIdx = s.index
    if (!s.snapshotDone) {
      val n = snapshotSlices(s.snapshotVersion).size.toLong
      val remaining = n - s.index
      if (budget < remaining)
        return DeltaStreamOffset(
          s.version, s.index + budget, snapshotDone = false,
          s.snapshotVersion)
      budget -= remaining
      tailV = s.snapshotVersion
      tailIdx = -1L
    }
    // partial version in flight
    if (tailIdx >= 0L) {
      val n = slicesOf(tailV).size.toLong
      val remaining = n - tailIdx
      if (budget < remaining)
        return DeltaStreamOffset(tailV, tailIdx + budget,
          snapshotDone = true, -1L)
      budget -= remaining
      tailIdx = -1L
    }
    // whole versions while the budget lasts
    var v = tailV
    while (v < latest) {
      val n = slicesOf(v + 1L).size.toLong
      if (budget < n)
        return (
          if (budget == 0L)
            DeltaStreamOffset(v, -1L, snapshotDone = true, -1L)
          else DeltaStreamOffset(v + 1L, budget, snapshotDone = true, -1L))
      budget -= n
      v += 1L
    }
    DeltaStreamOffset(v, -1L, snapshotDone = true, -1L)
  }

  override def deserializeOffset(json: String): Offset =
    DeltaStreamOffset.fromJson(json)

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DeltaStreamOffset]
    val e = end.asInstanceOf[DeltaStreamOffset]
    val parts = scala.collection.mutable.ArrayBuffer
      .empty[GraftFileBatch.GraftInputPartition]
    var tailV = s.version
    var tailIdx = s.index
    if (!s.snapshotDone) {
      val snap = snapshotSlices(s.snapshotVersion)
      if (!e.snapshotDone)
        return snap.slice(s.index.toInt, e.index.toInt)
          .toArray[InputPartition]
      parts ++= snap.drop(s.index.toInt)
      tailV = s.snapshotVersion
      tailIdx = -1L
    }
    if (tailIdx >= 0L) {
      val all = slicesOf(tailV)
      if (e.version == tailV) {
        val until = if (e.index == -1L) all.size else e.index.toInt
        parts ++= all.slice(tailIdx.toInt, until)
        return parts.toArray[InputPartition]
      }
      parts ++= all.drop(tailIdx.toInt)
    }
    var w = tailV + 1L
    while (w <= e.version) {
      val all = slicesOf(w)
      if (w == e.version && e.index != -1L) parts ++= all.take(e.index.toInt)
      else parts ++= all
      w += 1L
    }
    parts.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    planner.factory()

  /** Spark has durably committed everything through `end`: slice
    * lists at or below it are never re-planned, so their cache
    * entries go — driver memory must not grow with stream lifetime.
    */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[DeltaStreamOffset]
    sliceCache.keySet.removeIf(k =>
      (k >= 0L && k < e.version) || (k < 0L && e.snapshotDone))
  }

  override def stop(): Unit = ()
}
