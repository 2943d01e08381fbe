package graft.sources.dsv2

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Path-based V2 CATALOG over both lakehouse formats — the pure-SQL
  * entry point:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.dsv2.GraftCatalog")
  *   spark.sql("SELECT * FROM graft.delta.`/data/customers`")
  *   spark.sql("SELECT * FROM graft.iceberg.`/data/orders`")
  *   spark.sql("SELECT * FROM graft.auto.`/data/either`")   // sniffed
  *   spark.sql("SELECT * FROM graft.delta.`/p` VERSION AS OF 3")
  *   spark.sql("SELECT * FROM graft.delta.`/p` TIMESTAMP AS OF '...'")
  *   spark.sql("INSERT INTO graft.delta.`/p` SELECT ...")
  * }}}
  *
  * The identifier's namespace picks the format (`delta` / `iceberg`;
  * `auto` sniffs `_delta_log/` vs `metadata/`), its name is the table
  * path; every load returns the SAME DSv2 tables the format readers
  * build, so pushdown, statistics, runtime filtering, streaming and
  * the V1Write path all apply to SQL users unchanged. SQL time travel
  * routes through the `loadTable(ident, version/timestamp)` overloads
  * into the formats' own resolution. CREATE TABLE / CTAS author real
  * empty tables in BOTH formats (r17 for Iceberg); DML
  * (DELETE/UPDATE/MERGE) arrives through `SupportsDeleteV2` plus the
  * [[GraftDmlRule]] extension; ALTER/DROP/RENAME are refused loudly —
  * a path-addressed catalog silently "dropping" a directory would be
  * a data-loss foot-gun.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = "graft"

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def formatOf(ident: Identifier): String = {
    val ns = ident.namespace()
    require(ns.length == 1 &&
      Set("delta", "iceberg", "auto").contains(ns(0).toLowerCase),
      s"$catalogName expects a single-level namespace delta|iceberg|auto, " +
        s"got [${ns.mkString(".")}] — e.g. " +
        s"$catalogName.delta.`/path/to/table`")
    val path = ident.name()
    ns(0).toLowerCase match {
      case "auto" =>
        val isDelta = Files.isDirectory(Paths.get(path, "_delta_log"))
        val isIceberg = Files.isDirectory(Paths.get(path, "metadata"))
        require(isDelta || isIceberg,
          s"$path is neither a Delta table (_delta_log/) nor an " +
            "Iceberg table (metadata/)")
        require(!(isDelta && isIceberg),
          s"$path carries BOTH formats (UniForm): name the one to read " +
            s"— $catalogName.delta.`$path` or $catalogName.iceberg.`$path`")
        if (isDelta) "delta" else "iceberg"
      case other => other
    }
  }

  private def load(
      ident: Identifier, extra: Map[String, String]): Table = {
    val path = ident.name()
    val opts = extra + ("path" -> path)
    formatOf(ident) match {
      case "delta" =>
        DeltaDsv2Table(path,
          DeltaDsv2.schemaFor(SparkSession.active, path, opts), opts,
          DeltaDsv2.pinFor(SparkSession.active, path, opts))
      case _ =>
        IcebergDsv2Table(path,
          IcebergDsv2.plan(SparkSession.active, path, opts).schema, opts,
          IcebergDsv2.pinFor(path, opts))
    }
  }

  override def loadTable(ident: Identifier): Table = load(ident, Map.empty)

  /** SQL `VERSION AS OF v` — Delta versions / Iceberg snapshot ids. */
  override def loadTable(ident: Identifier, version: String): Table =
    formatOf(ident) match {
      case "delta" => load(ident, Map("versionasof" -> version))
      case _ => load(ident, Map("snapshotid" -> version))
    }

  /** SQL `TIMESTAMP AS OF t` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident, Map("timestampasof" -> (timestamp / 1000L).toString))

  override def tableExists(ident: Identifier): Boolean = {
    val path = ident.name()
    try formatOf(ident) match {
      case "delta" => Files.isDirectory(Paths.get(path, "_delta_log"))
      case _ => Files.isDirectory(Paths.get(path, "metadata"))
    } catch { case _: Exception => false }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-addressed: enumeration is the filesystem's job

  /** SQL `CREATE TABLE <cat>.delta.`/path`` (cols...) PARTITIONED BY
    * (identity cols) [TBLPROPERTIES ('delta.…'='…')]` — an EMPTY
    * commit-0 table the first INSERT fills (CTAS = this + AppendData).
    * Only `delta.*` properties reach a Delta table's configuration
    * (Spark adds reserved keys like `provider`/`location` that are
    * not table state). `<cat>.iceberg.`/path`` (r17) authors legal
    * snapshot-less v1 metadata (`current-snapshot-id: -1`) through
    * [[graft.sources.IcebergExport.createEmpty]]; non-reserved
    * properties land in the metadata `properties` map.
    */
  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    // namespace checked directly: `auto` can't sniff a table that
    // doesn't exist yet
    val ns = ident.namespace()
    require(ns.length == 1 &&
      (ns(0).equalsIgnoreCase("delta") || ns(0).equalsIgnoreCase("iceberg")),
      s"$catalogName creates tables under an explicit format namespace " +
        s"($catalogName.delta.`/path` or $catalogName.iceberg.`/path`)")
    val partitionCols = partitions.map {
      case t if t.name() == "identity" =>
        t.references()(0).fieldNames().mkString(".")
      case t => throw new UnsupportedOperationException(
        s"$catalogName creates identity-partitioned tables only, got $t")
    }.toSeq
    val path = ident.name()
    if (ns(0).equalsIgnoreCase("delta")) {
      val props = properties.asScala
        .filter { case (k, _) => k.toLowerCase.startsWith("delta.") }.toMap
      graft.sources.DeltaExport.createEmpty(path, schema, partitionCols, props)
    } else {
      val reserved = Set("provider", "location", "owner", "comment",
        "external", "option.path", "path")
      val props = properties.asScala
        .filterNot { case (k, _) => reserved.contains(k.toLowerCase) }.toMap
      graft.sources.IcebergExport.createEmpty(
        path, schema, partitionCols.map(c => ("identity", c)), props)
    }
    loadTable(ident)
  }

  /** NON-DESTRUCTIVE `ALTER TABLE` (r17), each change routed to the
    * format's own transactional evolution writer — the SQL surface
    * over machinery that already existed:
    *
    *  - `SET TBLPROPERTIES` → `DeltaExport.setProperties` /
    *    `IcebergExport.setProperties` (feature declaration rules,
    *    ICT enablement etc. live in the writers);
    *  - `ADD COLUMN` (nullable top-level) → `DeltaExport.addColumn`
    *    (pre-existing files read NULL, the spec's answer) /
    *    `IcebergExport.addColumn` (new field-id);
    *  - `ALTER COLUMN ... TYPE` → `DeltaExport.widenColumnType`
    *    (the typeWidening feature) / `IcebergExport.evolveType`
    *    (the spec's lossless promotions) — anything lossy refuses
    *    in the writer;
    *  - `ALTER COLUMN ... SET DEFAULT` → Delta
    *    `setColumnDefault` (write-time semantics only); Iceberg
    *    refuses (defaults attach at ADD COLUMN, v3);
    *  - `RENAME COLUMN` / `DROP COLUMN` → Iceberg
    *    `renameColumn`/`dropColumn` (field-id identity makes both
    *    metadata-only); Delta refuses (both need column mapping,
    *    whose name assignment stays with the bespoke writers).
    *
    * Everything else (nullability/comment/position changes,
    * constraints) refuses loudly — never silently dropped.
    */
  override def alterTable(
      ident: Identifier, changes: TableChange*): Table = {
    val spark = SparkSession.active
    val delta = formatOf(ident) == "delta"
    val path = ident.name()
    def one(fieldNames: Array[String]): String = {
      require(fieldNames.length == 1,
        s"$catalogName alters TOP-LEVEL columns only, " +
          s"got ${fieldNames.mkString(".")}")
      fieldNames(0)
    }
    changes.foreach {
      case sp: TableChange.SetProperty =>
        if (delta)
          graft.sources.DeltaExport.setProperties(
            spark, path, Map(sp.property -> sp.value))
        else graft.sources.IcebergExport.setProperties(
          path, Map(sp.property -> sp.value))
      case ac: TableChange.AddColumn =>
        require(ac.defaultValue() == null,
          "ADD COLUMN with a default: Delta refuses by spec " +
            "(defaults never backfill reads); for Iceberg v3 use " +
            "IcebergExport.addColumn(table, name, dt, default)")
        require(ac.position() == null,
          "ADD COLUMN ... FIRST/AFTER: column positions are not " +
            "supported — columns append")
        if (delta)
          graft.sources.DeltaExport.addColumn(
            spark, path, one(ac.fieldNames()), ac.dataType())
        else graft.sources.IcebergExport.addColumn(
          path, one(ac.fieldNames()), ac.dataType())
      case ut: TableChange.UpdateColumnType =>
        if (delta)
          graft.sources.DeltaExport.widenColumnType(
            spark, path, one(ut.fieldNames()), ut.newDataType())
        else graft.sources.IcebergExport.evolveType(
          path, one(ut.fieldNames()), ut.newDataType())
      case ud: TableChange.UpdateColumnDefaultValue =>
        require(delta,
          "Iceberg column defaults attach at ADD COLUMN (v3): use " +
            "IcebergExport.addColumn(table, name, dt, default)")
        graft.sources.DeltaExport.setColumnDefault(
          spark, path, one(ud.fieldNames()), ud.newDefaultValue())
      case rn: TableChange.RenameColumn =>
        require(!delta,
          "Delta RENAME COLUMN needs column mapping (a physicalName " +
            "assignment): out of this catalog's scope — Iceberg " +
            "renames are metadata-only and supported here")
        graft.sources.IcebergExport.renameColumn(
          path, one(rn.fieldNames()), rn.newName())
      case dc: TableChange.DeleteColumn =>
        require(!delta,
          "Delta DROP COLUMN needs column mapping: out of this " +
            "catalog's scope — Iceberg drops are metadata-only " +
            "(field-id identity) and supported here")
        graft.sources.IcebergExport.dropColumn(path, one(dc.fieldNames()))
      case other =>
        throw new UnsupportedOperationException(
          s"$catalogName does not support ALTER change " +
            s"${other.getClass.getSimpleName}: supported are SET " +
            "TBLPROPERTIES, ADD COLUMN, ALTER COLUMN TYPE, ALTER " +
            "COLUMN SET DEFAULT (delta), RENAME/DROP COLUMN (iceberg)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      s"$catalogName refuses DROP: a path-addressed catalog deleting " +
        "directories would be a data-loss foot-gun")

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName does not rename path-addressed tables")

  // -- SupportsNamespaces: the three fixed format namespaces ---------

  override def listNamespaces(): Array[Array[String]] =
    Array(Array("delta"), Array("iceberg"), Array("auto"))

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def loadNamespaceMetadata(
      namespace: Array[String]): JMap[String, String] = {
    if (namespace.length != 1 ||
      !Set("delta", "iceberg", "auto").contains(namespace(0).toLowerCase))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: JMap[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName's namespaces are the fixed format names")

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName's namespaces are the fixed format names")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      s"$catalogName's namespaces are the fixed format names")
}
