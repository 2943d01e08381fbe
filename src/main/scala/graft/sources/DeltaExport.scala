package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.StructType

/** Write-side complement of [[DeltaLog]]: export DataFrames AS a
  * Delta table by authoring the open transaction-log protocol
  * directly — protocol (1, 2; upgraded to the feature-gated 3/7 form
  * by [[deleteWhere]]), metaData with the Spark JSON schema, one add
  * action per parquet file with hive-layout partitionValues and
  * footer-derived `stats` (the file-skipping data
  * [[DeltaLog.readRange]] reads).
  * With [[DeltaLog]] this closes the Delta interop gap in both
  * directions without the (offline-unresolvable) delta-spark jar; the
  * round-trip is pinned by spec, and the emitted actions use only
  * fields PROTOCOL.md marks required for v1 readers, so a real
  * delta-spark reader has nothing unsupported to trip on.
  *
  * Concurrency: each version is claimed with an atomic-exclusive
  * hardlink ([[claim]]: the whole commit body goes to a temp file,
  * then `createLink` onto the zero-padded name — POSIX link(2) fails
  * if the name exists, so exactly one contender wins a version, the
  * loser retries on the next, and no reader sees a half-written
  * commit). Data files land under hive-style `k=v/` directories
  * BEFORE the commit is linked, so a reader never sees a version
  * whose files aren't durable (Delta's own write-then-commit order),
  * and files of an attempt that crashed before its claim are in no
  * version: readers never see them and [[vacuum]] reclaims them past
  * its retention.
  *
  * Scale shape: the data write is a plain distributed
  * `df.write.partitionBy(...).parquet` (one job, no driver rows); the
  * log authoring is metadata work bounded by files-added-per-commit.
  */
object DeltaExport {

  private def logDir(table: String): Path = Paths.get(table, "_delta_log")

  private[sources] def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** The writer features a legacy `minWriterVersion` IMPLIES
    * (PROTOCOL.md "Table Features"): a table-features upgrade must
    * enumerate them so downstream writers keep enforcing them.
    */
  private[sources] def legacyWriterFeatures(minWriter: Int): Set[String] = {
    val ladder = Seq(
      2 -> Set("appendOnly", "invariants"),
      3 -> Set("checkConstraints"),
      4 -> Set("changeDataFeed", "generatedColumns"),
      5 -> Set("columnMapping"),
      6 -> Set("identityColumns"))
    ladder.filter(_._1 <= minWriter).flatMap(_._2).toSet
  }

  /** URL-encode one path segment the way Delta encodes `add.path`
    * (percent-encoding; keep '/', encode spaces as %20 not '+', and
    * keep '=' literal — delta-spark writes hive `k=v` dirs unescaped,
    * and over-encoding would break any consumer matching paths for a
    * remove).
    */
  private[sources] def enc(rel: String): String =
    rel.split('/')
      .map(seg =>
        java.net.URLEncoder.encode(seg, "UTF-8")
          .replace("+", "%20").replace("%3D", "="))
      .mkString("/")

  /** A deletion-vector descriptor as its action JSON (PROTOCOL.md) —
    * shared by the add that attaches it and the remove that carries
    * the REPLACED vector (so log consumers and vacuum can track the
    * old DV file's lifecycle).
    */
  private[sources] def dvJson(d: DeltaDv.Descriptor): String =
    s"""{"storageType":"${d.storageType}","pathOrInlineDv":"${esc(d.pathOrInlineDv)}","offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  private[sources] def listParquet(root: Path): Set[String] = {
    if (!Files.isDirectory(root)) return Set.empty
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p)
        && p.getFileName.toString.endsWith(".parquet")
        && !p.toAbsolutePath.toString.contains("/_delta_log/"))
      .map(p => root.relativize(p).toString)
      .toSet
    finally s.close()
  }

  /** Hive-layout `k=v` partition values of a relative file path, in
    * `partitionCols` order; values are un-escaped the way Spark
    * escapes them in directory names (`%XX` only: a `+` is a `+`).
    */
  private[sources] def partitionValuesOf(
      rel: String, partitionCols: Seq[String]): Map[String, String] = {
    val dirs = rel.split('/').dropRight(1)
    val kv = dirs.flatMap { d =>
      val i = d.indexOf('=')
      if (i > 0)
        Some(d.take(i) -> ExternalCatalogUtils.unescapePathName(d.drop(i + 1)))
      else None
    }.toMap
    partitionCols.flatMap(c => kv.get(c).map(c -> _)).toMap
  }

  /** Per-file column statistics as Delta's `add.stats` JSON string —
    * `{"numRecords":N,"minValues":{...},"maxValues":{...},
    * "nullCount":{...}}` — read from the parquet FOOTER (a bounded
    * driver read per staged file, never a scan job). This is the data
    * the log-level FILE SKIPPING reads ([[DeltaLog.readRange]]): at
    * 100 TB the win is not scanning faster but not scanning at all.
    * Scope: top-level int/long/float/double/date/boolean columns, plus
    * strings ≤ 32 chars (longer strings are omitted — Delta's own
    * truncation needs round-up tie handling; a missing stat only makes
    * the file unprunable, never wrong). A column chunk without valid
    * statistics omits the column.
    */
  private def fileStats(
      conf: org.apache.hadoop.conf.Configuration, abs: String): Option[String] =
    try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(abs), conf))
      try {
        val footer = reader.getFooter
        val n = reader.getRecordCount
        val schema = footer.getFileMetaData.getSchema
        // aggregate per-column min/max/nulls across row groups
        val mins = scala.collection.mutable.LinkedHashMap[String, String]()
        val maxs = scala.collection.mutable.LinkedHashMap[String, String]()
        val nulls = scala.collection.mutable.LinkedHashMap[String, Long]()
        val bad = scala.collection.mutable.Set[String]()
        footer.getBlocks.asScala.foreach { block =>
          block.getColumns.asScala.foreach { cc =>
            val path = cc.getPath.toDotString
            if (!path.contains('.')) { // top-level only
              val st = cc.getStatistics
              if (st == null || !st.hasNonNullValue && st.getNumNulls < 0) {
                bad += path
              } else {
                nulls(path) = nulls.getOrElse(path, 0L) + math.max(0L, st.getNumNulls)
                if (st.hasNonNullValue) {
                  val fieldType = schema
                    .getType(Seq(path): _*).asPrimitiveType()
                  jsonStatValue(
                    fieldType, st.genericGetMin.asInstanceOf[AnyRef]) match {
                    case Some(mn) =>
                      val mx = jsonStatValue(
                        fieldType,
                        st.genericGetMax.asInstanceOf[AnyRef]).get
                      mins(path) = mins.get(path)
                        .map(o => orderedPick(o, mn, takeMin = true))
                        .getOrElse(mn)
                      maxs(path) = maxs.get(path)
                        .map(o => orderedPick(o, mx, takeMin = false))
                        .getOrElse(mx)
                    case None => bad += path
                  }
                }
              }
            }
          }
        }
        bad.foreach { p => mins.remove(p); maxs.remove(p) }
        def obj(m: scala.collection.Map[String, String]): String =
          m.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
        val nullsJson = nulls
          .map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
        Some(
          s"""{"numRecords":$n,"minValues":${obj(mins)},""" +
            s""""maxValues":${obj(maxs)},"nullCount":$nullsJson}""")
      } finally reader.close()
    } catch { case _: Exception => None } // stats are an optimization

  /** One parquet statistics value as a JSON literal, or None for
    * unsupported/unsafe types (binary, >32-char strings, int96, …).
    */
  private def jsonStatValue(
      t: org.apache.parquet.schema.PrimitiveType, v: AnyRef): Option[String] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val logical = t.getLogicalTypeAnnotation
    t.getPrimitiveTypeName match {
      case INT32 if logical.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        Some("\"" + java.time.LocalDate
          .ofEpochDay(v.asInstanceOf[Number].longValue()) + "\"")
      case INT32 | INT64 => Some(v.asInstanceOf[Number].toString)
      case FLOAT | DOUBLE =>
        val d = v.asInstanceOf[Number].doubleValue()
        if (d.isNaN || d.isInfinite) None else Some(d.toString)
      case BOOLEAN => Some(v.toString)
      case BINARY if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        val s = new String(
          v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
          StandardCharsets.UTF_8)
        if (s.length <= 32) Some(s""""${esc(s)}"""") else None
      case _ => None
    }
  }

  /** min/max fold across row groups, comparing in the VALUE domain the
    * JSON literals encode (numeric, boolean, or lexicographic for the
    * quoted string/date forms).
    */
  private def orderedPick(
      a: String, b: String, takeMin: Boolean): String = {
    val lt: Boolean =
      if (a.startsWith("\"")) a < b
      else if (a == "true" || a == "false") a < b // false < true
      else {
        val (x, y) = (BigDecimal(a), BigDecimal(b))
        x < y
      }
    if (lt == takeMin) a else b
  }

  private[sources] def addJson(
      table: String, rel: String, pv: Map[String, String],
      conf: Option[org.apache.hadoop.conf.Configuration] = None,
      dataChange: Boolean = true,
      rowId: Option[(Long, Long)] = None,
      tags: Map[String, String] = Map.empty): String = {
    val size = Files.size(Paths.get(table, rel))
    val pvJson = pv.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    val stats = conf
      .flatMap(c => fileStats(c, Paths.get(table, rel).toAbsolutePath.toString))
      .map(s => s""","stats":"${esc(s)}"""").getOrElse("")
    // ROW TRACKING: (baseRowId, defaultRowCommitVersion) on every add
    // of a row-tracking table (PROTOCOL.md)
    val rowPart = rowId.map { case (b, v) =>
      s""","baseRowId":$b,"defaultRowCommitVersion":$v"""
    }.getOrElse("")
    // add.tags — recorded at write time so readers know file facts
    // (e.g. materialized row-id columns) without footer probes
    val tagsPart =
      if (tags.isEmpty) ""
      else tags.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString(""","tags":{""", ",", "}")
    s"""{"add":{"path":"${enc(rel)}","partitionValues":$pvJson,"size":$size,"modificationTime":${Files.getLastModifiedTime(Paths.get(table, rel)).toMillis},"dataChange":$dataChange$stats$rowPart$tagsPart}}"""
  }

  /** Footer record count of one staged file (bounded driver read) —
    * row-tracking watermark math needs exact per-file row counts.
    */
  private[sources] def recordCount(
      conf: org.apache.hadoop.conf.Configuration, abs: String): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(abs), conf))
    try reader.getRecordCount finally reader.close()
  }

  private[sources] def metaDataJson(
      tableId: String, schema: StructType, partitionCols: Seq[String],
      configuration: Map[String, String] = Map.empty): String = {
    val pcs = partitionCols.map(c => s""""${esc(c)}"""").mkString("[", ",", "]")
    val conf = configuration.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    s"""{"metaData":{"id":"${esc(tableId)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schema.json)}","partitionColumns":$pcs,"configuration":$conf,"createdTime":${System.currentTimeMillis()}}}"""
  }

  /** IN-COMMIT TIMESTAMPS (PROTOCOL.md "In-Commit Timestamps", r16):
    * when the table has the feature on — detected as either THIS
    * commit's metaData declaring `delta.enableInCommitTimestamps` or
    * the PREVIOUS commit's commitInfo already carrying the field (on
    * an enabled table every commit does, and version-1 always
    * survives log cleanup) — every commit's FIRST action must be a
    * commitInfo with `inCommitTimestamp` ≥ previous + 1. Centralized
    * HERE, the one choke point every writer's commit flows through,
    * so no write path can forget the stamp. A caller-provided
    * commitInfo that already carries a monotonic-valid value is
    * respected (the enablement commit pins its own, so the
    * `delta.inCommitTimestampEnablementTimestamp` property and the
    * commitInfo value cannot drift apart).
    */
  private def ictStamp(
      table: String, version: Long, lines: Seq[String]): Seq[String] = {
    def ictOf(line: String): Option[Long] = {
      val n = jackson.readTree(line)
      Option(n.get("commitInfo"))
        .flatMap(ci => Option(ci.get("inCommitTimestamp")))
        .map(_.asLong())
    }
    val thisEnables = lines.exists(l =>
      l.startsWith("""{"metaData"""") &&
        l.contains(""""delta.enableInCommitTimestamps":"true""""))
    val prev = logDir(table).resolve(f"${version - 1}%020d.json")
    val prevLines: Option[Seq[String]] =
      if (version == 0L || !Files.isRegularFile(prev)) None
      else Some(Files.readAllLines(prev, StandardCharsets.UTF_8)
        .asScala.toSeq)
    val prevHasCommitInfo =
      prevLines.exists(_.exists(_.startsWith("""{"commitInfo"""")))
    val prevIct: Option[Long] = prevLines.toSeq.flatten
      .filter(_.startsWith("""{"commitInfo""""))
      .flatMap(ictOf).headOption
    // FALLBACK (r17): prev JSON missing (a foreign cleaner removed
    // the last pre-checkpoint commit) or commitInfo-less (a foreign
    // writer) — the string probes above cannot see enablement, so
    // consult the REPLAYED table configuration at version-1. Gated
    // behind the cheap probes: an ordinary non-ICT table (prev JSON
    // present, commitInfo present, no inCommitTimestamp) never pays
    // the replay.
    val enabledByConfig: Boolean =
      if (thisEnables || prevIct.nonEmpty || version == 0L) false
      else if (prevHasCommitInfo) false
      else org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .exists { sp =>
          try DeltaLog.stateAt(sp, table, Some(version - 1)).configuration
            .get("delta.enableInCommitTimestamps").contains("true")
          catch { case _: Exception => false }
        }
    if (!thisEnables && prevIct.isEmpty && !enabledByConfig) return lines
    // without a readable previous ICT, the monotonic floor is the
    // latest RETAINED commit's adjusted timestamp — the same timeline
    // timestamp travel resolves against, so the stamp can never step
    // backwards across the gap
    val floor = prevIct.map(_ + 1L).getOrElse(
      if (enabledByConfig) DeltaLog.lastCommitTimestamp(table) + 1L
      else Long.MinValue)
    val (ciLines, rest) = lines.partition(_.startsWith("""{"commitInfo""""))
    val ci = ciLines.headOption match {
      case Some(l) =>
        val node = jackson.readTree(l)
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        val inner = node.get("commitInfo")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        val existing = Option(inner.get("inCommitTimestamp")).map(_.asLong())
        if (existing.forall(_ < floor))
          inner.put("inCommitTimestamp",
            math.max(System.currentTimeMillis(), floor))
        node.toString
      case None =>
        val ict = math.max(System.currentTimeMillis(), floor)
        s"""{"commitInfo":{"inCommitTimestamp":$ict}}"""
    }
    ci +: (rest ++ ciLines.drop(1))
  }

  private val jackson = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Atomically claim `version`: the body is written whole to a temp
    * file and hardlinked onto the version's name, so the commit
    * appears complete or not at all; returns false when another
    * writer owns the version. In-commit timestamps stamp here — see
    * [[ictStamp]].
    */
  private[sources] def claim(table: String, version: Long, lines: Seq[String]): Boolean = {
    val dir = logDir(table)
    Files.createDirectories(dir)
    val stamped = ictStamp(table, version, lines)
    val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID}")
    Files.write(tmp,
      stamped.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE_NEW)
    try {
      Files.createLink(dir.resolve(f"$version%020d.json"), tmp); true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  private[sources] def nextVersion(table: String): Long = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) return 0L
    val s = Files.list(dir)
    // checkpoint files count: after log pruning (expired JSON deleted
    // behind a checkpoint) the next version continues PAST the
    // checkpoint, it does not restart at 0
    val vs =
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.matches("\\d{20}\\.json")
          || n.matches("\\d{20}\\.checkpoint(\\.\\d+\\.\\d+)?\\.parquet")
          || n.matches("\\d{20}\\.checkpoint\\.[0-9a-fA-F][0-9a-fA-F-]{7,}\\.parquet"))
        .map(_.take(20).toLong).toVector
      finally s.close()
    vs.maxOption.map(_ + 1L).getOrElse(0L)
  }

  /** Write `df` to a PRIVATE staging directory, then move each file
    * into the table tree — concurrent writers therefore never share a
    * Spark `_temporary` committer directory and never see each
    * other's files when enumerating what THEY added (the two races a
    * naive `mode("append")` to the shared path has). File names carry
    * task UUIDs, so moves cannot collide. Returns the added relative
    * paths.
    */
  private[sources] def stageIn(
      df: DataFrame, table: String, partitionBy: Seq[String]): Seq[String] = {
    VariantWrite.applyPosture(df.sparkSession)
    val stage = Files.createTempDirectory("delta_stage")
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(stage.toString)
    val rels = listParquet(stage).toSeq.sorted
    rels.foreach { rel =>
      val dest = Paths.get(table, rel)
      Files.createDirectories(dest.getParent)
      Files.move(stage.resolve(rel), dest)
    }
    rels
  }

  /** Create a Delta table at `table` from `df`, hive-partitioned by
    * `partitionBy`. Commit 0 = protocol + metaData + the written
    * files' adds. Fails if the table already has a log.
    */
  def create(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit =
    create(df, table, partitionBy, Map.empty[String, String])

  /** [[create]] with the variant columns written SHREDDED (the
    * Parquet Variant Shredding `typed_value` layout, under
    * `shreddingSchema` — DDL like `"k bigint, tag string"` — or
    * Spark's inference when None): declares the
    * `variantShredding-preview` table feature beside `variantType`
    * and records `delta.enableVariantShredding=true`, delta-spark's
    * own opt-in shape. Reading needs no switches — the scan rebuilds
    * shredded and unshredded files alike.
    */
  def createShredded(
      df: DataFrame, table: String,
      shreddingSchema: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): Unit =
    VariantWrite.shredded(df.sparkSession, shreddingSchema) {
      create(df, table, partitionBy,
        properties + ("delta.enableVariantShredding" -> "true"))
    }

  /** [[create]] with table properties in the metaData configuration.
    * Setting `delta.enableChangeDataFeed=true` declares the
    * changeDataFeed writer feature, so the protocol starts at its
    * legacy gate (minWriterVersion 4) instead of 2 — delta-spark
    * writers joining later must keep writing change data
    * (PROTOCOL.md "Change Data Files").
    */
  def create(
      df: DataFrame, table: String, partitionBy: Seq[String],
      properties: Map[String, String]): Unit = {
    require(nextVersion(table) == 0L,
      s"$table already has a Delta log; use append")
    val minWriter =
      if (properties.get("delta.enableChangeDataFeed").contains("true")) 4
      else 2
    val rowTracking =
      properties.get("delta.enableRowTracking").contains("true")
    val ict =
      properties.get("delta.enableInCommitTimestamps").contains("true")
    val added = stageIn(df, table, partitionBy)
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    // ROW TRACKING, IN-COMMIT TIMESTAMPS and VARIANT columns need the
    // table-features protocol (feature-only — no legacy
    // minWriterVersion implies them); the upgrade ENUMERATES the
    // legacy-implied features per the deleteWhere discipline. VARIANT
    // is additionally a READER feature: old readers cannot decode the
    // binary encoding, so minReaderVersion goes to 3.
    def hasVariant(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: org.apache.spark.sql.types.VariantType => true
        case s: StructType => s.fields.exists(f => hasVariant(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType =>
          hasVariant(a.elementType)
        case m: org.apache.spark.sql.types.MapType =>
          hasVariant(m.keyType) || hasVariant(m.valueType)
        case _ => false
      }
    val variant = hasVariant(df.schema)
    // files written inside the shredded opt-in scope carry the
    // Parquet Variant Shredding layout, which is only legal under the
    // variantShredding-preview READER feature — declared here, never
    // implied (the unshredded default declares variantType alone)
    val variantFeats: Set[String] =
      if (!variant) Set.empty
      else if (VariantWrite.inShreddedScope(df.sparkSession) ||
        properties.get("delta.enableVariantShredding").contains("true"))
        Set("variantType", "variantShredding-preview")
      else Set("variantType")
    val featureSet =
      (if (rowTracking) Set("domainMetadata", "rowTracking")
      else Set.empty[String]) ++
        (if (ict) Set("inCommitTimestamp") else Set.empty[String]) ++
        variantFeats
    val protocolLine =
      if (featureSet.isEmpty)
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":$minWriter}}"""
      else {
        val wf = (legacyWriterFeatures(minWriter) ++ featureSet).toSeq.sorted
          .map(f => s""""$f"""").mkString("[", ",", "]")
        if (variant) {
          val rf = variantFeats.toSeq.sorted
            .map(f => s""""$f"""").mkString("[", ",", "]")
          s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":$rf,"writerFeatures":$wf}}"""
        } else
          s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":$wf}}"""
      }
    // the MATERIALIZED column names are chosen once at create and live
    // in the configuration (PROTOCOL.md) — rewrites write under them,
    // readers coalesce them over the computed ids
    val props2 =
      if (!rowTracking) properties
      else properties +
        (DeltaRowTracking.RowIdColKey ->
          s"_row_id_mat_${java.util.UUID.randomUUID.toString.take(8)}") +
        (DeltaRowTracking.RowCommitColKey ->
          s"_row_commit_mat_${java.util.UUID.randomUUID.toString.take(8)}")
    val (addLines, domainLines) =
      if (!rowTracking)
        (added.map(rel =>
          addJson(table, rel, partitionValuesOf(rel, partitionBy),
            Some(hconf))), Nil)
      else {
        var next = 0L
        val ls = added.map { rel =>
          val n = recordCount(
            hconf, Paths.get(table, rel).toAbsolutePath.toString)
          val l = addJson(table, rel, partitionValuesOf(rel, partitionBy),
            Some(hconf), rowId = Some((next, 0L)),
            tags = DeltaRowTracking.matTag(false))
          next += n
          l
        }
        (ls, Seq(DeltaRowTracking.domainJson(next - 1)))
      }
    val lines =
      (Seq(protocolLine,
        metaDataJson(java.util.UUID.randomUUID.toString, df.schema,
          partitionBy, props2)) ++ addLines ++ domainLines) :+
        s"""{"commitInfo":{"operation":"CREATE TABLE AS SELECT"}}"""
    if (!claim(table, 0L, lines))
      throw new IllegalStateException(
        s"lost the race for $table version 0 — another writer created it")
  }

  /** CREATE an EMPTY table — commit 0 with protocol + metaData and no
    * file actions (what SQL `CREATE TABLE (cols...)` through the
    * catalog produces; the first append fills it). Feature detection
    * mirrors [[create]]: row tracking / in-commit timestamps from the
    * properties, variant columns from the schema.
    */
  def createEmpty(
      table: String, schema: StructType, partitionBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): Unit = {
    require(nextVersion(table) == 0L,
      s"$table already has a Delta log; use append")
    require(partitionBy.forall(schema.fieldNames.contains),
      s"partition columns ${partitionBy.mkString(",")} must be in the schema")
    val minWriter =
      if (properties.get("delta.enableChangeDataFeed").contains("true")) 4
      else 2
    val rowTracking =
      properties.get("delta.enableRowTracking").contains("true")
    val ict =
      properties.get("delta.enableInCommitTimestamps").contains("true")
    def hasVariant(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: org.apache.spark.sql.types.VariantType => true
        case s: StructType => s.fields.exists(f => hasVariant(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType =>
          hasVariant(a.elementType)
        case m: org.apache.spark.sql.types.MapType =>
          hasVariant(m.keyType) || hasVariant(m.valueType)
        case _ => false
      }
    val variant = hasVariant(schema)
    // table-features parity with [[create]]: an empty table opted
    // into shredding (delta.enableVariantShredding) declares the
    // reader feature up front, so the first shredded append is legal
    val variantFeats: Set[String] =
      if (!variant) Set.empty
      else if (properties.get("delta.enableVariantShredding")
        .contains("true"))
        Set("variantType", "variantShredding-preview")
      else Set("variantType")
    val featureSet =
      (if (rowTracking) Set("domainMetadata", "rowTracking")
      else Set.empty[String]) ++
        (if (ict) Set("inCommitTimestamp") else Set.empty[String]) ++
        variantFeats
    val protocolLine =
      if (featureSet.isEmpty)
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":$minWriter}}"""
      else {
        val wf = (legacyWriterFeatures(minWriter) ++ featureSet).toSeq.sorted
          .map(f => s""""$f"""").mkString("[", ",", "]")
        if (variant) {
          val rf = variantFeats.toSeq.sorted
            .map(f => s""""$f"""").mkString("[", ",", "]")
          s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":$rf,"writerFeatures":$wf}}"""
        } else
          s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":$wf}}"""
      }
    val props2 =
      if (!rowTracking) properties
      else properties +
        (DeltaRowTracking.RowIdColKey ->
          s"_row_id_mat_${java.util.UUID.randomUUID.toString.take(8)}") +
        (DeltaRowTracking.RowCommitColKey ->
          s"_row_commit_mat_${java.util.UUID.randomUUID.toString.take(8)}")
    val domainLines =
      if (rowTracking) Seq(DeltaRowTracking.domainJson(-1L)) else Nil
    val lines =
      (Seq(protocolLine,
        metaDataJson(java.util.UUID.randomUUID.toString, schema,
          partitionBy, props2)) ++ domainLines) :+
        s"""{"commitInfo":{"operation":"CREATE TABLE"}}"""
    if (!claim(table, 0L, lines))
      throw new IllegalStateException(
        s"lost the race for $table version 0 — another writer created it")
  }

  /** RESTORE TABLE ... TO VERSION AS OF — make the table equal
    * `version` again as a NEW commit (time travel backwards that
    * keeps the history; the standard recovery from a bad write):
    * re-adds for files active then but not now — or whose deletion
    * vector has since CHANGED, re-attached with the old vector —
    * removes for files active now but not then, and the old metaData
    * re-emitted when schema/partitioning/configuration drifted (id
    * carried forward; RESTORE restores table state, not identity).
    * Stats and DV descriptors re-serialize from the target snapshot,
    * so file skipping and deleted rows come back exactly. A restore
    * whose files were since VACUUMED refuses loudly naming the first
    * missing file. A no-op restore (already at that state) commits
    * nothing. Note: `readChangeFeed` over a restore that UN-deletes
    * rows (a DV that shrank back) refuses by design — the computed
    * feed cannot represent resurrection.
    */
  def restore(
      spark: org.apache.spark.sql.SparkSession, table: String,
      version: Long): Option[Long] = {
    var v = nextVersion(table)
    var committed = false
    var result: Option[Long] = None
    while (!committed) {
      val target = DeltaLog.stateAt(spark, table, Some(version))
      val cur = DeltaLog.stateAt(spark, table, None)
      // ROW TRACKING through RESTORE (r15): re-adds carry the target
      // snapshot's (baseRowId, defaultRowCommitVersion) verbatim, so
      // restored rows come back under their ORIGINAL ids — below the
      // current watermark by construction (it never decreased), and
      // the domain is NOT re-emitted, so the watermark stays at its
      // high point and post-restore appends never collide with ids
      // that existed in ANY version (resurrected or still removed)
      val reAdds = target.active.values.toSeq.sortBy(_.path).filter { a =>
        cur.active.get(a.path) match {
          case None => true
          case Some(c) =>
            c.dv.map(_.pathOrInlineDv) != a.dv.map(_.pathOrInlineDv)
        }
      }
      reAdds.foreach { a =>
        val abs = DeltaLog.absPath(table, a.path)
        require(Files.exists(Paths.get(abs)),
          s"cannot RESTORE $table to $version: data file ${a.path} was " +
            "vacuumed — the snapshot is no longer reconstructible")
        a.dv.filter(_.storageType == "u").foreach { d =>
          require(Files.exists(Paths.get(DeltaDv.uuidPath(table, d.pathOrInlineDv))),
            s"cannot RESTORE $table to $version: deletion vector of " +
              s"${a.path} was vacuumed")
        }
      }
      val removes = cur.active.values.toSeq.sortBy(_.path)
        .filterNot(c => target.active.contains(c.path)) ++
        reAdds.flatMap(a => cur.active.get(a.path))
      val metaNeeded = target.schemaJson != cur.schemaJson ||
        target.partitionCols != cur.partitionCols ||
        target.configuration != cur.configuration
      val metaLine =
        if (!metaNeeded) Nil
        else {
          val conf = target.configuration.toSeq.sortBy(_._1)
            .map { case (k, vv) => s""""${esc(k)}":"${esc(vv)}"""" }
            .mkString("{", ",", "}")
          val pcs = target.partitionCols.map(c => s""""${esc(c)}"""")
            .mkString("[", ",", "]")
          val id = cur.tableId
            .getOrElse(java.util.UUID.randomUUID.toString)
          Seq(
            s"""{"metaData":{"id":"${esc(id)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(target.schemaJson.get)}","partitionColumns":$pcs,"configuration":$conf,"createdTime":${System.currentTimeMillis()}}}""")
        }
      if (reAdds.isEmpty && removes.isEmpty && metaLine.isEmpty)
        return None // already at the target state
      val removeLines = removes.map { c =>
        val dvPart = c.dv
          .map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
        s"""{"remove":{"path":"${esc(c.path)}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":true$dvPart}}"""
      }
      val addLines = reAdds.map { a =>
        val abs = Paths.get(DeltaLog.absPath(table, a.path))
        val pvJson = a.partitionValues.toSeq.sortBy(_._1)
          .map { case (k, vv) => s""""${esc(k)}":"${esc(vv)}"""" }
          .mkString("{", ",", "}")
        val statsPart = a.stats
          .map(s => s""","stats":"${esc(s)}"""").getOrElse("")
        val dvPart = a.dv
          .map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
        // row-tracking fields + tags re-serialize from the TARGET
        // snapshot — dropping them would re-identify restored rows
        val rowPart = (a.baseRowId, a.defaultRowCommitVersion) match {
          case (Some(b), Some(dcv)) =>
            s""","baseRowId":$b,"defaultRowCommitVersion":$dcv"""
          case _ => ""
        }
        val tagsPart =
          if (a.tags.isEmpty) ""
          else a.tags.toSeq.sortBy(_._1)
            .map { case (k, tv) => s""""${esc(k)}":"${esc(tv)}"""" }
            .mkString(""","tags":{""", ",", "}")
        s"""{"add":{"path":"${esc(a.path)}","partitionValues":$pvJson,"size":${Files.size(abs)},"modificationTime":${Files.getLastModifiedTime(abs).toMillis},"dataChange":true$statsPart$dvPart$rowPart$tagsPart}}"""
      }
      val lines = metaLine ++ removeLines ++ addLines :+
        s"""{"commitInfo":{"operation":"RESTORE","operationParameters":{"version":"$version"}}}"""
      committed = claim(table, v, lines)
      if (committed) result = Some(v) else v = nextVersion(table)
    }
    result
  }

  /** SHALLOW CLONE — delta-spark's `CREATE TABLE t SHALLOW CLONE src
    * [VERSION AS OF v]`: a NEW Delta table whose version-0 commit
    * re-adds the source snapshot's active files BY ABSOLUTE PATH, so
    * zero data bytes copy and the clone evolves independently from
    * that point (its own appends/merges/deletes land under the clone
    * root and never touch the source). Per delta-spark's semantics:
    * the metaData takes a FRESH id (a clone is a new table identity —
    * streaming readers and `(appId, version)` txn gates must never
    * confuse it with the source), schema/partitioning/configuration
    * carry over verbatim, stats carry so file skipping keeps working,
    * and `u`-storage deletion vectors re-serialize as `p` ABSOLUTE
    * descriptors (a uuid vector left as `u` would resolve under the
    * CLONE root and read nothing). The protocol carries the source's
    * gates and feature sets unchanged.
    *
    * The format's standing shallow-clone hazard is kept, not hidden:
    * VACUUM on the SOURCE may reclaim files a clone still references
    * (reads then refuse loudly in the scan); VACUUM on the CLONE is
    * safe — it walks only the clone root, and the absolute source
    * references can never match a clone-relative victim.
    */
  def shallowClone(
      spark: org.apache.spark.sql.SparkSession, source: String,
      target: String, versionAsOf: Option[Long] = None): Unit = {
    require(nextVersion(target) == 0L,
      s"$target already has a Delta log; clone into a fresh location")
    val st = DeltaLog.stateAt(spark, source, versionAsOf)
    // ROW TRACKING through CLONE (r15, the refusal lifted): the clone
    // re-adds the source's id assignment verbatim (baseRowId fields +
    // materialized-presence tags carry on each add) and copies the
    // rowIdHighWaterMark domain into its v0 commit — without the
    // domain the clone's first append would restart at id 0 and
    // collide with every cloned row. The clone's FRESH metaData id
    // already keeps txn/streaming consumers from confusing the two
    // tables; from here their id spaces evolve independently.
    val rowTracking = DeltaRowTracking.enabled(st)
    val protoLine =
      if (st.readerFeatures.nonEmpty || st.writerFeatures.nonEmpty) {
        val rf = st.readerFeatures.toSeq.sorted
          .map(f => s""""${esc(f)}"""").mkString("[", ",", "]")
        val wf = st.writerFeatures.toSeq.sorted
          .map(f => s""""${esc(f)}"""").mkString("[", ",", "]")
        s"""{"protocol":{"minReaderVersion":${st.minReader},"minWriterVersion":${st.minWriter},"readerFeatures":$rf,"writerFeatures":$wf}}"""
      } else
        s"""{"protocol":{"minReaderVersion":${st.minReader},"minWriterVersion":${st.minWriter}}}"""
    val conf = st.configuration.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    val pcs = st.partitionCols.map(c => s""""${esc(c)}"""")
      .mkString("[", ",", "]")
    val metaLine =
      s"""{"metaData":{"id":"${esc(java.util.UUID.randomUUID.toString)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(st.schemaJson.get)}","partitionColumns":$pcs,"configuration":$conf,"createdTime":${System.currentTimeMillis()}}}"""
    val addLines = st.active.values.toSeq.sortBy(_.path).map { a =>
      val abs = Paths.get(DeltaLog.absPath(source, a.path))
      require(Files.exists(abs),
        s"cannot clone $source: data file ${a.path} was vacuumed")
      val pvJson = a.partitionValues.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString("{", ",", "}")
      val statsPart = a.stats
        .map(s => s""","stats":"${esc(s)}"""").getOrElse("")
      val dvAbs = a.dv.map { d =>
        d.storageType match {
          case "u" => d.copy(storageType = "p",
            pathOrInlineDv = DeltaDv.uuidPath(source, d.pathOrInlineDv))
          case _ => d
        }
      }
      dvAbs.filter(_.storageType == "p").foreach(d =>
        require(Files.exists(Paths.get(d.pathOrInlineDv)),
          s"cannot clone $source: deletion vector of ${a.path} was " +
            "vacuumed"))
      val dvPart = dvAbs
        .map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
      val rowPart = (a.baseRowId, a.defaultRowCommitVersion) match {
        case (Some(b), Some(dcv)) =>
          s""","baseRowId":$b,"defaultRowCommitVersion":$dcv"""
        case _ => ""
      }
      val tagsPart =
        if (a.tags.isEmpty) ""
        else a.tags.toSeq.sortBy(_._1)
          .map { case (k, tv) => s""""${esc(k)}":"${esc(tv)}"""" }
          .mkString(""","tags":{""", ",", "}")
      s"""{"add":{"path":"${enc(abs.toString)}","partitionValues":$pvJson,"size":${Files.size(abs)},"modificationTime":${Files.getLastModifiedTime(abs).toMillis},"dataChange":true$statsPart$dvPart$rowPart$tagsPart}}"""
    }
    val domainLines =
      if (!rowTracking) Nil
      else Seq(DeltaRowTracking.domainJson(
        DeltaRowTracking.highWaterMark(st)))
    val lines = (protoLine +: metaLine +: addLines) ++ domainLines :+
      s"""{"commitInfo":{"operation":"CLONE","operationParameters":{"source":"${esc(source)}","version":"${versionAsOf.map(_.toString).getOrElse("latest")}"}}}"""
    if (!claim(target, 0L, lines))
      throw new IllegalStateException(
        s"lost the race for $target version 0 — another writer created it")
  }

  /** ALTER TABLE SET TBLPROPERTIES — merge `props` into the table's
    * metaData configuration as a metadata-only commit (no data files
    * touched). The metaData `id` is carried forward UNCHANGED: it is
    * the table's stable identity (streaming readers key offsets on
    * it), so a re-emit with a fresh id would silently reset every
    * downstream consumer. Enabling `delta.enableChangeDataFeed` on a
    * legacy-protocol table upgrades `minWriterVersion` to 4
    * (PROTOCOL.md's ladder: changeDataFeed is a writer feature);
    * feature-gated tables get `changeDataFeed` appended to
    * `writerFeatures`. Returns the committed version.
    */
  def setProperties(
      spark: org.apache.spark.sql.SparkSession, table: String,
      props: Map[String, String]): Long = {
    var v = nextVersion(table)
    var committed = false
    while (!committed) {
      // recompute against the current state: a lost claim means
      // another writer's commit may itself have changed metaData
      val st = DeltaLog.stateAt(spark, table, None)
      // enabling ROW TRACKING after the fact is a full migration, not
      // a property flip: protocol upgrade declaring rowTracking +
      // domainMetadata, materialized column-name configuration and a
      // baseRowId backfill over every existing file — none of which a
      // metadata-only commit performs. Without them subsequent appends
      // would write row-tracking actions under a protocol that never
      // declared the features and readers would emit null ids for all
      // pre-existing rows. Refused loudly (the requireOff discipline);
      // create the table with the property instead.
      if (props.get("delta.enableRowTracking").contains("true")
        && !DeltaRowTracking.enabled(st))
        throw new IllegalArgumentException(
          "enabling delta.enableRowTracking on an existing table needs " +
            "the full enablement path (protocol upgrade + materialized " +
            "column names + baseRowId backfill), which a SET " +
            "TBLPROPERTIES commit cannot perform — create the table " +
            "with the property instead")
      // same requireOff discipline for ICT: the property alone without
      // the protocol feature + enablement bookkeeping would stamp
      // commits under a protocol that never declared the feature
      if (props.get("delta.enableInCommitTimestamps").contains("true")
        && !st.configuration.get("delta.enableInCommitTimestamps")
          .contains("true"))
        throw new IllegalArgumentException(
          "enabling delta.enableInCommitTimestamps needs the protocol " +
            "feature + enablement-version bookkeeping: use " +
            "enableInCommitTimestamps(spark, table) instead")
      val merged = st.configuration ++ props
      val conf = merged.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString("{", ",", "}")
      val pcs = st.partitionCols.map(c => s""""${esc(c)}"""")
        .mkString("[", ",", "]")
      val id = st.tableId.getOrElse(java.util.UUID.randomUUID.toString)
      val metaLine =
        s"""{"metaData":{"id":"${esc(id)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(st.schemaJson.get)}","partitionColumns":$pcs,"configuration":$conf,"createdTime":${System.currentTimeMillis()}}}"""
      val cdfOn = props.get("delta.enableChangeDataFeed").contains("true")
      val protocolLine =
        if (!cdfOn) Nil
        else if (st.writerFeatures.nonEmpty) {
          if (st.writerFeatures.contains("changeDataFeed")) Nil
          else {
            val wf = (st.writerFeatures + "changeDataFeed").toSeq.sorted
              .map(f => s""""$f"""").mkString("[", ",", "]")
            val rf = st.readerFeatures.toSeq.sorted
              .map(f => s""""$f"""").mkString("[", ",", "]")
            Seq(s"""{"protocol":{"minReaderVersion":${st.minReader},"minWriterVersion":7,"readerFeatures":$rf,"writerFeatures":$wf}}""")
          }
        } else if (st.minWriter < 4)
          Seq(s"""{"protocol":{"minReaderVersion":${st.minReader},"minWriterVersion":4}}""")
        else Nil
      val lines = protocolLine ++ Seq(metaLine,
        s"""{"commitInfo":{"operation":"SET TBLPROPERTIES"}}""")
      committed = claim(table, v, lines)
      if (!committed) v = nextVersion(table)
    }
    v
  }

  /** Enable IN-COMMIT TIMESTAMPS on an existing table (PROTOCOL.md
    * "In-Commit Timestamps"; delta-spark 3.2+'s default on new
    * tables): one metadata commit that (a) upgrades the protocol to
    * the table-features form declaring `inCommitTimestamp`,
    * (b) merges `delta.enableInCommitTimestamps=true` plus the
    * enablement bookkeeping `delta.inCommitTimestampEnablementVersion`
    * / `...EnablementTimestamp` into the configuration (readers use
    * them to know mtime-derived history stops and ICT starts), and
    * (c) carries the first stamped commitInfo, its value pinned equal
    * to the enablement-timestamp property and STRICTLY ABOVE the
    * monotonic mtime of every pre-enablement commit — timestamp
    * travel cannot see time run backwards across the boundary. Every
    * subsequent commit stamps automatically in [[claim]].
    */
  def enableInCommitTimestamps(
      spark: org.apache.spark.sql.SparkSession, table: String): Long = {
    var v = nextVersion(table)
    var committed = false
    while (!committed) {
      val st = DeltaLog.stateAt(spark, table, None)
      if (st.configuration.get("delta.enableInCommitTimestamps")
        .contains("true")) return v - 1 // already on: no-op
      val ict0 = math.max(System.currentTimeMillis(),
        DeltaLog.lastCommitTimestamp(table) + 1L)
      val merged = st.configuration ++ Map(
        "delta.enableInCommitTimestamps" -> "true",
        "delta.inCommitTimestampEnablementVersion" -> v.toString,
        "delta.inCommitTimestampEnablementTimestamp" -> ict0.toString)
      val conf = merged.toSeq.sortBy(_._1)
        .map { case (k, value) => s""""${esc(k)}":"${esc(value)}"""" }
        .mkString("{", ",", "}")
      val pcs = st.partitionCols.map(c => s""""${esc(c)}"""")
        .mkString("[", ",", "]")
      val id = st.tableId.getOrElse(java.util.UUID.randomUUID.toString)
      val metaLine =
        s"""{"metaData":{"id":"${esc(id)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(st.schemaJson.get)}","partitionColumns":$pcs,"configuration":$conf,"createdTime":${System.currentTimeMillis()}}}"""
      val wf = ((if (st.writerFeatures.nonEmpty) st.writerFeatures
      else legacyWriterFeatures(st.minWriter)) + "inCommitTimestamp")
        .toSeq.sorted.map(f => s""""$f"""").mkString("[", ",", "]")
      val protocolLine =
        if (st.readerFeatures.nonEmpty) {
          val rf = st.readerFeatures.toSeq.sorted
            .map(f => s""""$f"""").mkString("[", ",", "]")
          s"""{"protocol":{"minReaderVersion":${st.minReader},"minWriterVersion":7,"readerFeatures":$rf,"writerFeatures":$wf}}"""
        } else
          s"""{"protocol":{"minReaderVersion":${st.minReader},"minWriterVersion":7,"writerFeatures":$wf}}"""
      val lines = Seq(
        s"""{"commitInfo":{"operation":"SET TBLPROPERTIES","inCommitTimestamp":$ict0}}""",
        protocolLine, metaLine)
      committed = claim(table, v, lines)
      if (!committed) v = nextVersion(table)
    }
    v
  }

  /** The spec's LOSSLESS type promotions (PROTOCOL.md "Type
    * Widening") — the only from→to pairs a widen may declare.
    */
  private def widenable(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case _ => false
    }
  }

  /** ALTER TABLE ... ALTER COLUMN ... TYPE — TYPE WIDENING
    * (PROTOCOL.md; the Iceberg type-promotion twin, r16): one
    * metadata commit that (a) rewrites the schema with the WIDE type,
    * (b) records the change in the field's `delta.typeWidening`
    * metadata exactly as delta-spark does
    * (`[{fromType, toType, tableVersion}]`, appended across repeated
    * widens), and (c) upgrades the protocol — typeWidening is a
    * READER+writer feature: old readers would fail on the narrow
    * physical files, so minReaderVersion goes to 3. Files written
    * before the widen keep their narrow physical type; the read path
    * promotes per file ([[DeltaLog]] gate note). Non-lossless pairs
    * refused loudly.
    */
  def widenColumnType(
      spark: org.apache.spark.sql.SparkSession, table: String,
      column: String, to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    var v = nextVersion(table)
    var committed = false
    while (!committed) {
      val st = DeltaLog.stateAt(spark, table, None)
      val schema = DataType.fromJson(st.schemaJson.get)
        .asInstanceOf[StructType]
      val f = schema.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(
          s"no top-level column $column on $table (nested widening is " +
            "out of this writer's scope)"))
      if (f.dataType == to) return v - 1 // no-op
      require(widenable(f.dataType, to),
        s"${f.dataType.typeName} -> ${to.typeName} is not one of the " +
          "spec's lossless promotions: refused")
      val change = new MetadataBuilder()
        .putString("fromType", f.dataType.typeName)
        .putString("toType", to.typeName)
        .putLong("tableVersion", v)
        .build()
      val prior =
        if (f.metadata.contains("delta.typeWidening"))
          f.metadata.getMetadataArray("delta.typeWidening")
        else Array.empty[Metadata]
      val mb = new MetadataBuilder().withMetadata(f.metadata)
        .putMetadataArray("delta.typeWidening", prior :+ change)
      val newSchema = StructType(schema.fields.map(x =>
        if (x.name == column) x.copy(dataType = to, metadata = mb.build())
        else x))
      require(st.minReader == 1 || st.minReader == 3,
        s"widenColumnType on a minReaderVersion=${st.minReader} table " +
          "is out of this writer's scope")
      val rf = (st.readerFeatures + "typeWidening").toSeq.sorted
        .map(x => s""""$x"""").mkString("[", ",", "]")
      val wf = ((if (st.writerFeatures.nonEmpty) st.writerFeatures
      else legacyWriterFeatures(st.minWriter)) + "typeWidening")
        .toSeq.sorted.map(x => s""""$x"""").mkString("[", ",", "]")
      val conf = st.configuration.toSeq.sortBy(_._1)
        .map { case (k, value) => s""""${esc(k)}":"${esc(value)}"""" }
        .mkString("{", ",", "}")
      val pcs = st.partitionCols.map(c => s""""${esc(c)}"""")
        .mkString("[", ",", "]")
      val id = st.tableId.getOrElse(java.util.UUID.randomUUID.toString)
      val lines = Seq(
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":$rf,"writerFeatures":$wf}}""",
        s"""{"metaData":{"id":"${esc(id)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(newSchema.json)}","partitionColumns":$pcs,"configuration":$conf,"createdTime":${System.currentTimeMillis()}}}""",
        s"""{"commitInfo":{"operation":"CHANGE COLUMN","operationParameters":{"column":"${esc(column)}","toType":"${to.typeName}"}}}""")
      committed = claim(table, v, lines)
      if (!committed) v = nextVersion(table)
    }
    v
  }

  /** ALTER TABLE ... ADD COLUMN — a NULLABLE top-level column,
    * metadata-only: files written before it read NULL (the Delta
    * spec's answer; ADD COLUMN with a default is refused — a
    * backfilling default would diverge from every other Delta
    * reader, see [[setColumnDefault]]). Column-mapped tables refuse
    * (a new column there needs a physicalName/field-id assignment);
    * variant columns refuse (the reader feature is declared at
    * create).
    */
  def addColumn(
      spark: org.apache.spark.sql.SparkSession, table: String,
      name: String, dt: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    require(!dt.isInstanceOf[VariantType],
      "ADD COLUMN of a variant column is out of this writer's scope " +
        "(the variantType reader feature is declared at create)")
    var v = nextVersion(table)
    var committed = false
    while (!committed) {
      val st = DeltaLog.stateAt(spark, table, None)
      val schema = DataType.fromJson(st.schemaJson.get)
        .asInstanceOf[StructType]
      require(!schema.fieldNames.contains(name),
        s"column $name already exists on $table")
      require(st.configuration
        .getOrElse("delta.columnMapping.mode", "none") == "none",
        s"ADD COLUMN on a column-mapped table needs a physicalName/" +
          "field-id assignment: out of this writer's scope")
      val newSchema = StructType(
        schema.fields :+ StructField(name, dt, nullable = true))
      val conf = st.configuration.toSeq.sortBy(_._1)
        .map { case (k, value) => s""""${esc(k)}":"${esc(value)}"""" }
        .mkString("{", ",", "}")
      val pcs = st.partitionCols.map(c => s""""${esc(c)}"""")
        .mkString("[", ",", "]")
      val id = st.tableId.getOrElse(java.util.UUID.randomUUID.toString)
      val lines = Seq(
        s"""{"metaData":{"id":"${esc(id)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(newSchema.json)}","partitionColumns":$pcs,"configuration":$conf,"createdTime":${System.currentTimeMillis()}}}""",
        s"""{"commitInfo":{"operation":"ADD COLUMNS","operationParameters":{"column":"${esc(name)}"}}}""")
      committed = claim(table, v, lines)
      if (!committed) v = nextVersion(table)
    }
    v
  }

  /** ALTER COLUMN ... SET DEFAULT — COLUMN DEFAULTS (PROTOCOL.md
    * "Column Default Values", the `allowColumnDefaults` writer
    * feature): records `defaultSql` in the field's `CURRENT_DEFAULT`
    * metadata (Spark's own default-column key) and declares the
    * feature. WRITE-TIME semantics only, exactly the spec's rule: a
    * subsequent [[append]] that omits the column fills it with the
    * default; rows ALREADY written without the column keep reading
    * NULL (Delta defaults never backfill reads — the spec forbids
    * ADD COLUMN with a default for precisely this reason, and an
    * Iceberg-style initial-default fill here would diverge from
    * every other Delta reader).
    */
  def setColumnDefault(
      spark: org.apache.spark.sql.SparkSession, table: String,
      column: String, defaultSql: String): Long = {
    import org.apache.spark.sql.types._
    var v = nextVersion(table)
    var committed = false
    while (!committed) {
      val st = DeltaLog.stateAt(spark, table, None)
      val schema = DataType.fromJson(st.schemaJson.get)
        .asInstanceOf[StructType]
      require(schema.fieldNames.contains(column),
        s"no column $column on $table — the spec permits defaults on " +
          "EXISTING columns only (ADD COLUMN with a default is forbidden " +
          "because reads never backfill)")
      val newSchema = StructType(schema.fields.map { x =>
        if (x.name != column) x
        else x.copy(metadata = new MetadataBuilder()
          .withMetadata(x.metadata)
          .putString("CURRENT_DEFAULT", defaultSql).build())
      })
      val wf = ((if (st.writerFeatures.nonEmpty) st.writerFeatures
      else legacyWriterFeatures(st.minWriter)) + "allowColumnDefaults")
        .toSeq.sorted.map(x => s""""$x"""").mkString("[", ",", "]")
      val protocolLine =
        if (st.readerFeatures.nonEmpty) {
          val rf = st.readerFeatures.toSeq.sorted
            .map(x => s""""$x"""").mkString("[", ",", "]")
          s"""{"protocol":{"minReaderVersion":${st.minReader},"minWriterVersion":7,"readerFeatures":$rf,"writerFeatures":$wf}}"""
        } else
          s"""{"protocol":{"minReaderVersion":${st.minReader},"minWriterVersion":7,"writerFeatures":$wf}}"""
      val conf = st.configuration.toSeq.sortBy(_._1)
        .map { case (k, value) => s""""${esc(k)}":"${esc(value)}"""" }
        .mkString("{", ",", "}")
      val pcs = st.partitionCols.map(c => s""""${esc(c)}"""")
        .mkString("[", ",", "]")
      val id = st.tableId.getOrElse(java.util.UUID.randomUUID.toString)
      val lines = Seq(protocolLine,
        s"""{"metaData":{"id":"${esc(id)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(newSchema.json)}","partitionColumns":$pcs,"configuration":$conf,"createdTime":${System.currentTimeMillis()}}}""",
        s"""{"commitInfo":{"operation":"ALTER COLUMN","operationParameters":{"column":"${esc(column)}","default":"${esc(defaultSql)}"}}}""")
      committed = claim(table, v, lines)
      if (!committed) v = nextVersion(table)
    }
    v
  }

  /** Fill `CURRENT_DEFAULT` columns the caller's frame omits — the
    * writer half of column defaults, applied by [[append]].
    */
  private def withColumnDefaults(
      df: DataFrame, st: DeltaLog.State): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = DataType.fromJson(st.schemaJson.get)
      .asInstanceOf[StructType]
    schema.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name) ||
        !f.metadata.contains("CURRENT_DEFAULT")) d
      else d.withColumn(f.name,
        org.apache.spark.sql.functions
          .expr(f.metadata.getString("CURRENT_DEFAULT"))
          .cast(f.dataType))
    }
  }

  /** LIQUID-CLUSTERING STAMPING (the `clusteredTable` writer feature,
    * r16): declares the feature (+ its `domainMetadata` dependency),
    * records the clustering columns in the `delta.clustering` domain
    * exactly as delta-spark's CLUSTER BY does, and physically lays
    * the data out via the existing multi-dimensional rewrite
    * ([[zorder]] — delta-spark's OPTIMIZE on a clustered table
    * performs the same locality rewrite). The feature is WRITER-only:
    * the reader already reads clustered tables —
    * DeltaClusteredSpec pins a foreign fixture.
    */
  def clusterBy(
      spark: org.apache.spark.sql.SparkSession, table: String,
      xCol: String, yCol: String): Long = {
    var v = nextVersion(table)
    var committed = false
    while (!committed) {
      val st = DeltaLog.stateAt(spark, table, None)
      val wf = ((if (st.writerFeatures.nonEmpty) st.writerFeatures
      else legacyWriterFeatures(st.minWriter))
        ++ Set("clusteredTable", "domainMetadata"))
        .toSeq.sorted.map(x => s""""$x"""").mkString("[", ",", "]")
      val protocolLine =
        if (st.readerFeatures.nonEmpty) {
          val rf = st.readerFeatures.toSeq.sorted
            .map(x => s""""$x"""").mkString("[", ",", "]")
          s"""{"protocol":{"minReaderVersion":${st.minReader},"minWriterVersion":7,"readerFeatures":$rf,"writerFeatures":$wf}}"""
        } else
          s"""{"protocol":{"minReaderVersion":${st.minReader},"minWriterVersion":7,"writerFeatures":$wf}}"""
      val domain =
        s"""{"domainMetadata":{"domain":"delta.clustering","configuration":"{\\"clusteringColumns\\":[[\\"${esc(xCol)}\\"],[\\"${esc(yCol)}\\"]]}","removed":false}}"""
      val lines = Seq(protocolLine, domain,
        s"""{"commitInfo":{"operation":"CLUSTER BY","operationParameters":{"clusterBy":"[${esc(xCol)},${esc(yCol)}]"}}}""")
      committed = claim(table, v, lines)
      if (!committed) v = nextVersion(table)
    }
    // the physical layout pass (dataChange:false rewrite); file count
    // preserved (clustering changes locality, not sizing)
    val nFiles = math.max(1,
      DeltaLog.stateAt(spark, table, None).active.size)
    zorder(spark, table, xCol, yCol, nFiles)
    v
  }

  /** Append `df` as the next version. The data files land (staged,
    * privately enumerated) BEFORE the commit is claimed, and the
    * claim retries on the next version on conflict — appends add
    * disjoint uniquely-named files, so contending appends are always
    * safe to serialize this way (a conflicting REPLACE would need
    * Delta's full conflict checker; out of scope, append-only here).
    */
  def append(df0: DataFrame, table: String, partitionBy: Seq[String] = Nil): Long = {
    val spark = df0.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val st0 = DeltaLog.stateAt(spark, table, None)
    // COLUMN DEFAULTS fill at write time (never at read — spec rule)
    val df = withColumnDefaults(df0, st0)
    val added = stageIn(df, table, partitionBy)
    if (!DeltaRowTracking.enabled(st0)) {
      val lines = added.map(rel =>
        addJson(table, rel, partitionValuesOf(rel, partitionBy),
          Some(hconf))) :+
        s"""{"commitInfo":{"operation":"WRITE"}}"""
      var v = nextVersion(table)
      while (!claim(table, v, lines)) v = nextVersion(table)
      v
    } else {
      // ROW TRACKING: base row ids start at the CURRENT high
      // watermark and the default commit version is THIS commit's —
      // both re-derived per claim attempt (a lost race means a
      // contender advanced the watermark and took the version)
      val counts = added.map(rel => rel -> recordCount(
        hconf, Paths.get(table, rel).toAbsolutePath.toString))
      var v = nextVersion(table)
      var committed = false
      while (!committed) {
        val st = DeltaLog.stateAt(spark, table, None)
        var next = DeltaRowTracking.highWaterMark(st) + 1
        val addLines = counts.map { case (rel, n) =>
          val l = addJson(table, rel, partitionValuesOf(rel, partitionBy),
            Some(hconf), rowId = Some((next, v)),
            tags = DeltaRowTracking.matTag(false))
          next += n
          l
        }
        val lines = addLines ++ Seq(
          DeltaRowTracking.domainJson(next - 1),
          s"""{"commitInfo":{"operation":"WRITE"}}""")
        committed = claim(table, v, lines)
        if (!committed) v = nextVersion(table)
      }
      v
    }
  }

  /** REPLACE the table's content with `df` as the next version —
    * Delta's `mode("overwrite")`: one commit carrying a `remove` for
    * every currently-active file plus the staged `add`s, so readers
    * atomically flip from the old snapshot to the new and TIME TRAVEL
    * to pre-overwrite versions keeps working (removes are tombstones,
    * not deletes; `vacuum` reclaims the files later). Contention: the
    * active set is re-read INSIDE the claim loop, so a lost claim
    * recomputes its removes against the winner's state — two racing
    * overwrites serialize with last-writer-wins, the Delta semantic.
    * Returns the committed version.
    */
  def overwrite(
      df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Long =
    overwriteTxn(df, table, partitionBy, None).get

  /** [[overwrite]] carrying an optional `txn` action — the
    * exactly-once handshake for REPLACE commits (the appendBatch
    * discipline): a (appId, batchId) at or below the table's txn
    * watermark is a NO-OP (None; the staged files stay orphans for
    * vacuum), and the watermark is re-checked inside the claim loop so
    * two attempts of the same batch racing after a driver failover
    * commit once.
    */
  def overwriteTxn(
      df: DataFrame, table: String, partitionBy: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Option[Long] = {
    val spark = df.sparkSession
    def replayed: Boolean = txn.exists { case (appId, batchId) =>
      DeltaLog.lastTxnVersion(spark, table, appId).exists(_ >= batchId)
    }
    if (replayed) return None
    val added = stageIn(df, table, partitionBy)
    var v = nextVersion(table)
    require(v > 0L, s"$table has no Delta log; use create")
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    // ROW TRACKING (r15): a full overwrite's rows are all NEW rows —
    // fresh ids past the watermark, the replaced ids never reappear
    val rowTracking0 =
      DeltaRowTracking.enabled(DeltaLog.stateAt(spark, table, None))
    val counts =
      if (!rowTracking0) Map.empty[String, Long]
      else added.map(rel => rel -> recordCount(
        hconf, Paths.get(table, rel).toAbsolutePath.toString)).toMap
    var committed = false
    while (!committed) {
      if (replayed) return None
      val st = DeltaLog.stateAt(spark, table, None)
      val removes = st.active.keys.toSeq.sorted.map(p =>
        s"""{"remove":{"path":"${esc(p)}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":true}}""")
      val txnLines = txn.toSeq.map { case (appId, batchId) =>
        s"""{"txn":{"appId":"${esc(appId)}","version":$batchId,"lastUpdated":${System.currentTimeMillis()}}}"""
      }
      val addLines =
        if (!DeltaRowTracking.enabled(st))
          added.map(rel =>
            addJson(table, rel, partitionValuesOf(rel, partitionBy),
              Some(hconf)))
        else {
          var next = DeltaRowTracking.highWaterMark(st) + 1
          added.map { rel =>
            val l = addJson(table, rel, partitionValuesOf(rel, partitionBy),
              Some(hconf), rowId = Some((next, v)),
              tags = DeltaRowTracking.matTag(false))
            next += counts.getOrElse(rel, recordCount(
              hconf, Paths.get(table, rel).toAbsolutePath.toString))
            l
          } :+ DeltaRowTracking.domainJson(next - 1)
        }
      val lines = txnLines ++ removes ++ addLines :+
        s"""{"commitInfo":{"operation":"WRITE","operationParameters":{"mode":"Overwrite"}}}"""
      committed = claim(table, v, lines)
      if (!committed) v = nextVersion(table)
    }
    Some(v)
  }

  /** REPLACE TABLE — delta-spark's `CREATE OR REPLACE TABLE ... AS
    * SELECT` (r15): atomically replace the table's CONTENT *and its
    * DEFINITION* (schema, partitioning, properties) in one commit —
    * new metaData + a `remove` for every active file + the staged
    * `add`s. Unlike [[overwrite]] (same definition, new rows), the
    * metaData is re-emitted with a FRESH id: a replace is a new
    * logical table that happens to keep the log, so streaming readers
    * and offset trackers keyed on the table id correctly reset
    * (delta-spark's own REPLACE behavior). Time travel to
    * pre-replace versions keeps working — removes are tombstones.
    *
    * Concurrency (the conflict framework's posture): the active set
    * is validated unchanged INSIDE the claim loop against the
    * snapshot this replace staged against — the loser of a racing
    * data commit aborts with `ConcurrentModificationException`
    * rather than silently tombstoning files it never saw (a replace
    * semantically supersedes the whole table, but the LOSER cannot
    * know the winner's rows were meant to be superseded).
    *
    * Scope bound: refuses row-tracking tables (a replace would need
    * the full id-reassignment path) and refuses enabling row
    * tracking via `properties` (create-time only, like
    * [[setProperties]]). Returns the committed version.
    */
  def replaceTable(
      df: DataFrame, table: String, partitionBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): Long =
    replaceTable(df, table, partitionBy, properties, () => ())

  /** [[replaceTable]] with the read→commit seam the concurrency spec
    * injects a competing writer into; production uses the no-op
    * overload.
    */
  private[sources] def replaceTable(
      df: DataFrame, table: String, partitionBy: Seq[String],
      properties: Map[String, String], beforeCommit: () => Unit): Long = {
    val spark = df.sparkSession
    require(nextVersion(table) > 0L, s"$table has no Delta log; use create")
    require(!properties.get("delta.enableRowTracking").contains("true"),
      "REPLACE TABLE cannot enable row tracking (create-time only)")
    val st0 = DeltaLog.stateAt(spark, table, None)
    DeltaRowTracking.requireOff(st0, "REPLACE TABLE")
    val minWriter =
      if (properties.get("delta.enableChangeDataFeed").contains("true")) 4
      else st0.minWriter
    val added = stageIn(df, table, partitionBy)
    val conf = Some(spark.sparkContext.hadoopConfiguration)
    beforeCommit()
    var v = nextVersion(table)
    var committed = false
    var result = 0L
    while (!committed) {
      val cur = DeltaLog.stateAt(spark, table, None)
      val before = st0.active.map { case (p, a) =>
        p -> a.dv.map(_.pathOrInlineDv)
      }
      val now = cur.active.map { case (p, a) =>
        p -> a.dv.map(_.pathOrInlineDv)
      }
      if (before != now)
        throw new java.util.ConcurrentModificationException(
          s"REPLACE TABLE conflict on $table: a concurrent writer " +
            "changed the active file set since this replace read its " +
            "snapshot — aborted without committing (the staged files " +
            "are vacuum-reclaimable orphans); re-run against the new " +
            "state")
      val protoLine =
        if (minWriter == st0.minWriter) Nil
        else Seq(
          s"""{"protocol":{"minReaderVersion":${st0.minReader},"minWriterVersion":$minWriter}}""")
      // FRESH table identity: a replace resets downstream consumers
      val metaLine = metaDataJson(
        java.util.UUID.randomUUID.toString, df.schema, partitionBy,
        properties)
      val removes = cur.active.values.toSeq.sortBy(_.path).map { a =>
        val dvPart = a.dv
          .map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
        s"""{"remove":{"path":"${esc(a.path)}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":true$dvPart}}"""
      }
      val adds = added.map(rel =>
        addJson(table, rel, partitionValuesOf(rel, partitionBy), conf))
      val lines = protoLine ++ (metaLine +: removes) ++ adds :+
        s"""{"commitInfo":{"operation":"REPLACE TABLE"}}"""
      committed = claim(table, v, lines)
      if (committed) result = v else v = nextVersion(table)
    }
    result
  }

  /** EXACTLY-ONCE streaming append — Delta's `txn` handshake: commit
    * `df` tagged (appId, batchId); a replayed batch (at-least-once
    * redelivery after a sink restart) whose batchId ≤ the table's last
    * committed txn version for `appId` is a NO-OP — no data files, no
    * commit. Orphan files from a crash between stage-in and commit are
    * never referenced by any log entry, so readers never see them, and
    * the redelivered batch commits as the next free version.
    * Returns the committed version, or None for a skipped replay.
    *
    * Wire it to Structured Streaming as
    * `ds.writeStream.foreachBatch((b, id) =>
    *   DeltaExport.appendBatch(b, table, appId, id)): exactly-once
    * Delta sink semantics from an at-least-once foreachBatch.
    */
  def appendBatch(
      df: DataFrame, table: String, appId: String, batchId: Long,
      partitionBy: Seq[String] = Nil): Option[Long] = {
    val spark = df.sparkSession
    if (DeltaLog.lastTxnVersion(spark, table, appId).exists(_ >= batchId))
      return None
    val added = stageIn(df, table, partitionBy)
    val hconf = spark.sparkContext.hadoopConfiguration
    // ROW TRACKING (r15, the appendBatch refusal lifted): exactly the
    // append discipline — fresh base ids past the per-attempt
    // watermark — with the txn replay gate layered on top; a skipped
    // replay assigns NOTHING, so ids never burn on redelivery
    val rowTracking0 =
      DeltaRowTracking.enabled(DeltaLog.stateAt(spark, table, None))
    val counts =
      if (!rowTracking0) Map.empty[String, Long]
      else added.map(rel => rel -> recordCount(
        hconf, Paths.get(table, rel).toAbsolutePath.toString)).toMap
    var v = nextVersion(table)
    var committed = false
    while (!committed) {
      // a contender landed meanwhile — it may have been THIS batch
      // (two attempts racing after a driver failover): re-check the
      // txn watermark before (re)trying the claim
      if (DeltaLog.lastTxnVersion(spark, table, appId).exists(_ >= batchId))
        return None
      val txnLine =
        s"""{"txn":{"appId":"${esc(appId)}","version":$batchId,"lastUpdated":${System.currentTimeMillis()}}}"""
      val addLines =
        if (!rowTracking0)
          added.map(rel =>
            addJson(table, rel, partitionValuesOf(rel, partitionBy),
              Some(hconf)))
        else {
          val st = DeltaLog.stateAt(spark, table, None)
          var next = DeltaRowTracking.highWaterMark(st) + 1
          added.map { rel =>
            val l = addJson(table, rel, partitionValuesOf(rel, partitionBy),
              Some(hconf), rowId = Some((next, v)),
              tags = DeltaRowTracking.matTag(false))
            next += counts(rel)
            l
          } :+ DeltaRowTracking.domainJson(next - 1)
        }
      val lines = txnLine +: addLines :+
        s"""{"commitInfo":{"operation":"STREAMING UPDATE"}}"""
      committed = claim(table, v, lines)
      if (!committed) v = nextVersion(table)
    }
    Some(v)
  }

  /** Row-level DELETE via DELETION VECTORS: mark the rows matching
    * `condition` deleted WITHOUT rewriting a data file — each affected
    * file's deleted row indexes (parquet `_metadata.row_index`,
    * merged with any existing vector) serialize to a roaring-bitmap
    * DV file ([[DeltaDv]]) and the commit re-adds the SAME data file
    * with the vector attached (remove + add, `dataChange:true`),
    * upgrading the protocol to the feature-gated v3/v7 form with
    * `deletionVectors` the first time. Time travel to pre-delete
    * versions still sees the rows (the old adds had no vector);
    * add.stats stay attached (bounds remain sound supersets, so file
    * skipping keeps working). The matched (file, index) set is
    * driver-held — bounded by rows DELETED in this call, the
    * metadata-not-data discipline every DV writer shares. Returns the
    * committed version, or None when no live row matched. Single
    * delete-writer contract per table (concurrent deleteWhere calls
    * would need Delta's full conflict checker).
    */
  def deleteWhere(
      spark: org.apache.spark.sql.SparkSession, table: String,
      condition: org.apache.spark.sql.Column): Option[Long] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DataType
    val st = DeltaLog.stateAt(spark, table, None)
    require(st.configuration
      .getOrElse("delta.columnMapping.mode", "none") == "none",
      "deleteWhere on column-mapped tables is out of this writer's scope")
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    val dataSchema = StructType(
      schema.fields.filterNot(f => st.partitionCols.contains(f.name)))
    if (st.active.isEmpty) return None
    // the matched set: bounded by rows deleted in THIS call (rows a
    // vector already deletes do not match again)
    val matched = DeltaLog.positionedScan(spark, table, st, dataSchema)
      .filter(condition)
      .select(col("__f"), col("__i")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    if (matched.isEmpty) return None
    val byFile = matched.groupBy(_._1)
    // per affected file: merge with the existing vector, write the new
    // one, author the re-add carrying the original pv + stats
    val affected = st.active.values.toSeq
      .filter(a => byFile.contains(DeltaLog.absPath(table, a.path)))
      .sortBy(_.path)
    val lines = affected.flatMap { a =>
      val abs = DeltaLog.absPath(table, a.path)
      val existing = a.dv
        .map(DeltaDv.indexesOf(table, _)).getOrElse(Array.empty[Long])
      val merged = (existing ++ byFile(abs).map(_._2)).distinct.sorted
      // `u` storage — the table-relative z85-UUID form delta-spark
      // itself defaults to
      val d = DeltaDv.writeFileU(table, merged)
      val pvJson = a.partitionValues.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString("{", ",", "}")
      val statsPart = a.stats
        .map(s => s""","stats":"${esc(s)}"""").getOrElse("")
      // the remove carries the REPLACED vector's descriptor (if any)
      // so the superseded deletion_vector_*.bin stays trackable —
      // vacuum reclaims it once no active add references it
      val oldDvPart = a.dv
        .map(od => s""","deletionVector":${dvJson(od)}""").getOrElse("")
      // a ROW-TRACKING re-add keeps the file's baseRowId — dropping it
      // would silently re-identify every surviving row
      val rowPart = (a.baseRowId, a.defaultRowCommitVersion) match {
        case (Some(b), Some(dv0)) =>
          s""","baseRowId":$b,"defaultRowCommitVersion":$dv0"""
        case _ => ""
      }
      // the re-add keeps the file's tags (materialized-presence record)
      val tagsPart =
        if (a.tags.isEmpty) ""
        else a.tags.toSeq.sortBy(_._1)
          .map { case (k, tv) => s""""${esc(k)}":"${esc(tv)}"""" }
          .mkString(""","tags":{""", ",", "}")
      Seq(
        s"""{"remove":{"path":"${esc(a.path)}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":true$oldDvPart}}""",
        s"""{"add":{"path":"${esc(a.path)}","partitionValues":$pvJson,"size":${Files.size(Paths.get(abs))},"modificationTime":${Files.getLastModifiedTime(Paths.get(abs)).toMillis},"dataChange":true$statsPart$rowPart$tagsPart,"deletionVector":${dvJson(d)}}}""")
    }
    // first delete upgrades the protocol to the feature-gated form;
    // PROTOCOL.md: a table-features upgrade must ENUMERATE the
    // features the prior legacy protocol implied (minWriterVersion 2
    // implies appendOnly + invariants, 3 adds checkConstraints, …) —
    // an upgrade listing only deletionVectors under-specifies what
    // delta-spark writers must continue to enforce
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
    val all = protocolLine ++ lines :+
      s"""{"commitInfo":{"operation":"DELETE"}}"""
    var v = nextVersion(table)
    while (!claim(table, v, all)) v = nextVersion(table)
    Some(v)
  }

  /** OPTIMIZE (bin-packing compaction): rewrite each partition's
    * under-`targetBytes` files into ~`targetBytes` outputs — the
    * small-file fix every streaming-fed table needs (per-file open/
    * seek/scheduler overhead at 100 TB is paid per FILE, not per
    * byte; p17 plans this, here it executes at the Delta layer). One
    * commit of `dataChange:false` removes+adds (Delta's OPTIMIZE
    * marker: the table's CONTENT is unchanged, so streaming sources
    * must not re-read it), add.stats recomputed for the new files so
    * file skipping keeps working, time travel to pre-compaction
    * versions intact (removes are tombstones; [[vacuum]] reclaims
    * them later). Contention: claims retry on the next version —
    * safe against concurrent APPENDS (disjoint files); a concurrent
    * REMOVE-writer would need Delta's full conflict checker (out of
    * scope, append-only module contract). Returns (active files
    * before, after).
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession, table: String,
      targetBytes: Long): (Int, Int) =
    compact(spark, table, targetBytes, () => ())

  /** [[compact]] with the read→commit seam the concurrency spec
    * injects a competing writer into; production uses the no-op
    * overload.
    */
  private[sources] def compact(
      spark: org.apache.spark.sql.SparkSession, table: String,
      targetBytes: Long, beforeCommit: () => Unit): (Int, Int) = {
    import org.apache.spark.sql.types.DataType
    val st = DeltaLog.stateAt(spark, table, None)
    val mapMode = st.configuration
      .getOrElse("delta.columnMapping.mode", "none")
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    // PARTITIONED mapped tables (r14, the r13 refusal lifted): the
    // relayout is keyed by the partition columns' PHYSICAL names
    // throughout — group keys and add.partitionValues come from the
    // log (already physical on mapped tables), and the rewritten
    // files' hive dirs + new add.partitionValues use the physical
    // key, which is what mapped readers resolve
    // (physName = the logical name on unmapped tables: one code path)
    val physPartCols = st.partitionCols.map(c =>
      DeltaLog.physName(schema(c)))
    // mapped tables read and REWRITE under their mapping: name mode
    // by stable physical names (plain schema — its files may lack
    // footer ids), id mode by footer field-ids (the read schema
    // carries the ids under physicalName names; the rewrite re-emits
    // both, so either resolution style keeps working on the new
    // files). Recomputed add.stats key by the footer names =
    // physical — what mapped prunedFiles expects.
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
    val rowTracking = DeltaRowTracking.enabled(st)
    val before = st.active.size
    val groups = st.active.values.toSeq.groupBy(_.partitionValues)
    val byPath = st.active
    val rewrites = groups.toSeq
      .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
      .flatMap { case (pv, adds) =>
        // DV'd files compact too (r13 — Delta's own OPTIMIZE/PURGE
        // behavior): the rewrite APPLIES each file's deletion vector,
        // so the new files carry the same LOGICAL content physically
        // purged; dataChange:false stays correct
        val withSize = adds.map(a =>
          a.path -> Files.size(
            Paths.get(DeltaLog.absPath(table, a.path))))
        val smalls = withSize.filter(_._2 < targetBytes)
        if (smalls.size < 2) None
        else {
          val nOut = math.max(1,
            math.ceil(smalls.map(_._2).sum.toDouble / targetBytes).toInt)
          Some((pv, smalls.map(_._1), nOut))
        }
      }
    if (rewrites.isEmpty) return (before, before)
    val newRels = rewrites.flatMap { case (pv, rels, nOut) =>
      // the victims' live rows: deletion-vector positions anti-joined
      // away (bounded by rows DELETED). ROW-TRACKING rewrites read
      // each victim row WITH its id and commit version
      // (materialized-or-computed) and write them out as the
      // config-named MATERIALIZED columns — the protocol's
      // id-preserving OPTIMIZE, mirroring the Iceberg v3 path
      val purged = DeltaLog.livePositions(spark, table,
        rels.flatMap(byPath.get), dataSchema,
        if (rowTracking) Some(DeltaRowTracking.matColNames(st)) else None)
        .drop("__f", "__i")
      val df = purged.coalesce(nOut)
      VariantWrite.applyPosture(df.sparkSession)
      val stage = Files.createTempDirectory("delta_compact")
      df.write.mode("overwrite").parquet(stage.toString)
      val pdir = physPartCols
        .flatMap(c => pv.get(c).map(v => s"$c=${enc(v)}")).mkString("/")
      listParquet(stage).toSeq.sorted.map { name =>
        val rel = if (pdir.isEmpty) name else s"$pdir/$name"
        val dest = Paths.get(table, rel)
        Files.createDirectories(dest.getParent)
        Files.move(stage.resolve(name), dest)
        rel
      }
    }
    val conf = Some(spark.sparkContext.hadoopConfiguration)
    val removeLines = rewrites.flatMap(_._2).map { p =>
      // a compacted-away DV'd file's remove carries its vector's
      // descriptor (PROTOCOL.md) so the now-orphaned
      // deletion_vector_*.bin stays trackable for vacuum
      val dvPart = byPath.get(p).flatMap(_.dv)
        .map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
      s"""{"remove":{"path":"${esc(p)}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":false$dvPart}}"""
    }
    beforeCommit()
    var v = nextVersion(table)
    var committed = false
    while (!committed) {
      // CONFLICT CHECK (r14, the append-only contract widened): every
      // victim must still be active with an UNCHANGED deletion vector
      // — a concurrent deleteWhere (new DV) or overwrite/compact
      // (remove) of a victim would be silently undone by committing
      // removes+adds computed against the stale state. Disjoint
      // writers (appends, other partitions' compactions) pass and the
      // claim retries; overlapping ones abort loudly.
      val cur = DeltaLog.stateAt(spark, table, None)
      rewrites.flatMap(_._2).foreach { p =>
        val now = cur.active.get(p)
        val was = byPath.get(p)
        if (now.isEmpty || now.flatMap(_.dv.map(_.pathOrInlineDv))
          != was.flatMap(_.dv.map(_.pathOrInlineDv)))
          throw new java.util.ConcurrentModificationException(
            s"OPTIMIZE conflict on $table: victim $p was removed or " +
              "re-deleted by a concurrent writer — compaction aborted " +
              "without committing; re-run against the new snapshot")
      }
      // ROW-TRACKING adds take FRESH base row ids past the CURRENT
      // watermark (re-derived per attempt; the materialized columns
      // shadow them on read, the assignment keeps the id space
      // unique for future consumers) and bump the watermark
      val addLines =
        if (!rowTracking)
          newRels.map(rel =>
            addJson(table, rel, partitionValuesOf(rel, physPartCols),
              conf, dataChange = false))
        else {
          var next = DeltaRowTracking.highWaterMark(cur) + 1
          newRels.map { rel =>
            val n = recordCount(conf.get,
              Paths.get(table, rel).toAbsolutePath.toString)
            val l = addJson(table, rel,
              partitionValuesOf(rel, physPartCols), conf,
              dataChange = false, rowId = Some((next, v)),
              tags = DeltaRowTracking.matTag(true))
            next += n
            l
          } :+ DeltaRowTracking.domainJson(next - 1)
        }
      val lines = (removeLines ++ addLines) :+
        s"""{"commitInfo":{"operation":"OPTIMIZE"}}"""
      committed = claim(table, v, lines)
      if (!committed) v = nextVersion(table)
    }
    (before, before - rewrites.map(_._2.size).sum + newRels.size)
  }

  /** DYNAMIC PARTITION OVERWRITE — Delta's `replaceWhere`/dynamic
    * `partitionOverwriteMode` shape: atomically replace EXACTLY the
    * partitions present in `df` (removes for their currently-active
    * files + adds for the staged ones, one commit); partitions not in
    * `df` are untouched. Multi-writer safe through CONFLICT CHECKING
    * at commit time: two racing overwriteWhere writers on DISJOINT
    * partition sets both land (the loser's claim retries against the
    * winner's state and passes validation); on OVERLAPPING partitions
    * exactly one wins and the loser throws
    * `ConcurrentModificationException` — serializable semantics, no
    * lost rows, never last-writer-wins-silently. Unmapped tables only
    * (this writer authors none mapped). Returns the committed version.
    */
  def overwriteWhere(
      df: DataFrame, table: String, partitionBy: Seq[String]): Long =
    overwriteWhere(df, table, partitionBy, () => ())

  /** [[overwriteWhere]] with the read→commit seam the concurrency
    * spec injects a competing writer into (the rewriteDataFiles
    * discipline); production uses the no-op overload.
    */
  private[sources] def overwriteWhere(
      df: DataFrame, table: String, partitionBy: Seq[String],
      beforeCommit: () => Unit): Long = {
    val spark = df.sparkSession
    val st0 = DeltaLog.stateAt(spark, table, None)
    require(st0.configuration
      .getOrElse("delta.columnMapping.mode", "none") == "none",
      "overwriteWhere on column-mapped tables is out of this writer's scope")
    // ROW TRACKING (r15): replacement rows are NEW rows — delta-spark's
    // own overwrite semantics assign them fresh ids past the watermark
    // (the replaced rows' ids never reappear; untouched partitions'
    // files keep theirs untouched)
    val rowTracking = DeltaRowTracking.enabled(st0)
    require(st0.partitionCols == partitionBy,
      s"table is partitioned by ${st0.partitionCols.mkString(",")}, " +
        s"not ${partitionBy.mkString(",")}")
    require(partitionBy.nonEmpty,
      "unpartitioned tables replace via overwrite (full snapshot)")
    val added = stageIn(df, table, partitionBy)
    val targetPvs: Set[Map[String, String]] =
      added.map(rel => partitionValuesOf(rel, partitionBy)).toSet
    def filesIn(st: DeltaLog.State): Map[String, Option[String]] =
      st.active.collect {
        case (p, a) if targetPvs.contains(
          a.partitionValues.view.filterKeys(partitionBy.toSet).toMap) =>
          p -> a.dv.map(_.pathOrInlineDv)
      }.toMap
    // the baseline: what THIS writer believes its target partitions
    // hold — validated unchanged at commit time
    val base = filesIn(st0)
    val conf = Some(spark.sparkContext.hadoopConfiguration)
    val hconf = spark.sparkContext.hadoopConfiguration
    val counts =
      if (!rowTracking) Map.empty[String, Long]
      else added.map(rel => rel -> recordCount(
        hconf, Paths.get(table, rel).toAbsolutePath.toString)).toMap
    beforeCommit()
    var v = nextVersion(table)
    var committed = false
    while (!committed) {
      val cur = DeltaLog.stateAt(spark, table, None)
      val now = filesIn(cur)
      if (now != base)
        throw new java.util.ConcurrentModificationException(
          s"overwriteWhere conflict on $table: a concurrent writer " +
            s"changed partition(s) ${targetPvs.mkString(", ")} since " +
            "this overwrite read them — aborted without committing " +
            "(the staged files are vacuum-reclaimable orphans); " +
            "re-run against the new snapshot")
      // ROW-TRACKING adds take fresh base ids past the CURRENT
      // watermark (per attempt — a lost claim means a contender
      // advanced it) and bump the domain
      val addLines =
        if (!rowTracking)
          added.map(rel =>
            addJson(table, rel, partitionValuesOf(rel, partitionBy), conf))
        else {
          var next = DeltaRowTracking.highWaterMark(cur) + 1
          added.map { rel =>
            val l = addJson(table, rel, partitionValuesOf(rel, partitionBy),
              conf, rowId = Some((next, v)),
              tags = DeltaRowTracking.matTag(false))
            next += counts(rel)
            l
          } :+ DeltaRowTracking.domainJson(next - 1)
        }
      val lines = now.keys.toSeq.sorted.map(p =>
        s"""{"remove":{"path":"${esc(p)}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":true}}""") ++
        addLines :+
        s"""{"commitInfo":{"operation":"WRITE","operationParameters":{"mode":"Overwrite","partitionBy":"[${partitionBy.mkString(",")}]"}}}"""
      committed = claim(table, v, lines)
      if (!committed) v = nextVersion(table)
    }
    v
  }

  /** OPTIMIZE ZORDER: rewrite the (unpartitioned) table clustered by
    * the 2-D Morton curve over `(xCol, yCol)` into `nFiles` files —
    * `functions.ZOrder`'s interleave (p13 audits this layout; here it
    * EXECUTES). The win composes with [[DeltaLog.readRange]]: a
    * linear sort leaves the second dimension's per-file span ≈ the
    * full domain, so min/max stats prune only one predicate; z-sorted
    * files are tight on BOTH, so either column's range probe skips
    * most of the table from the LOG, scanning nothing. One
    * `dataChange:false` commit (content unchanged), stats recomputed,
    * time travel intact. Returns the committed version.
    */
  def zorder(
      spark: org.apache.spark.sql.SparkSession, table: String,
      xCol: String, yCol: String, nFiles: Int, bits: Int = 16): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    val st = DeltaLog.stateAt(spark, table, None)
    require(st.partitionCols.isEmpty,
      "zorder supports unpartitioned tables (cluster within partitions " +
        "by partitioning first)")
    // ROW TRACKING (r15, the Z-ORDER refusal lifted): the rewrite is
    // content-preserving, so ids MATERIALIZE into the re-clustered
    // files exactly like OPTIMIZE — each row carries its
    // (id, commit version) through the Morton shuffle
    val rowTracking = DeltaRowTracking.enabled(st)
    val (ridCol, rvcCol) =
      if (rowTracking) DeltaRowTracking.matColNames(st) else ("", "")
    val dim = 1L << bits
    val z = graft.functions.ZOrder.exprStr(
      s"pmod($xCol, $dim)", s"pmod($yCol, $dim)", bits,
      (v, p) => s"($v) div $p")
    val base =
      if (!rowTracking) DeltaLog.read(spark, table)
      else DeltaRowTracking.readRowIds(spark, table)
        .withColumnRenamed("_row_id", ridCol)
        .withColumnRenamed("_row_commit_version", rvcCol)
    val df = base
      .withColumn("__z", expr(z))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    VariantWrite.applyPosture(df.sparkSession)
    val stage = Files.createTempDirectory("delta_zorder")
    df.write.mode("overwrite").parquet(stage.toString)
    val newRels = listParquet(stage).toSeq.sorted.map { name =>
      Files.move(stage.resolve(name), Paths.get(table, name))
      name
    }
    val conf = Some(spark.sparkContext.hadoopConfiguration)
    val hconf = spark.sparkContext.hadoopConfiguration
    val counts =
      if (!rowTracking) Map.empty[String, Long]
      else newRels.map(rel => rel -> recordCount(
        hconf, Paths.get(table, rel).toAbsolutePath.toString)).toMap
    var v = nextVersion(table)
    var committed = false
    while (!committed) {
      // removes recomputed per attempt: a concurrent append's files
      // must survive the rewrite commit untombstoned
      val cur = DeltaLog.stateAt(spark, table, None)
      // a ROW-TRACKING rewrite must abort if the active set moved —
      // a concurrent append's rows are not in the staged rewrite, and
      // tombstoning its file would silently drop them AND their ids
      if (rowTracking) {
        val before = st.active.map { case (p, a) =>
          p -> a.dv.map(_.pathOrInlineDv)
        }
        val now = cur.active.map { case (p, a) =>
          p -> a.dv.map(_.pathOrInlineDv)
        }
        if (before != now)
          throw new java.util.ConcurrentModificationException(
            s"ZORDER conflict on $table: a concurrent writer changed " +
              "the active file set since this rewrite read its " +
              "snapshot — aborted without committing")
      }
      val addLines =
        if (!rowTracking)
          newRels.map(rel =>
            addJson(table, rel, Map.empty, conf, dataChange = false))
        else {
          var next = DeltaRowTracking.highWaterMark(cur) + 1
          newRels.map { rel =>
            val l = addJson(table, rel, Map.empty, conf,
              dataChange = false, rowId = Some((next, v)),
              tags = DeltaRowTracking.matTag(true))
            next += counts(rel)
            l
          } :+ DeltaRowTracking.domainJson(next - 1)
        }
      val lines = cur.active.keys.toSeq.sorted
        .filterNot(newRels.contains)
        .map { p =>
          // a z-ordered-away DV'd file's remove carries its vector's
          // descriptor (PROTOCOL.md) so the orphaned bin stays
          // trackable for vacuum — the compact discipline
          val dvPart = cur.active.get(p).flatMap(_.dv)
            .map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
          s"""{"remove":{"path":"${esc(p)}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":false$dvPart}}"""
        } ++
        addLines :+
        s"""{"commitInfo":{"operation":"OPTIMIZE","operationParameters":{"zOrderBy":"[$xCol,$yCol]"}}}"""
      committed = claim(table, v, lines)
      if (!committed) v = nextVersion(table)
    }
    v
  }

  /** Delete data files the CURRENT snapshot no longer references and
    * whose modification time is older than `retentionMs` — removed
    * files past their tombstone use, and orphans from appends that
    * crashed between stage-in and commit. The retention window is the
    * same safety Delta's VACUUM has: a file younger than it may belong
    * to an in-flight commit (staged, not yet claimed) or serve a
    * reader pinned to an older version, so it survives; vacuuming
    * also (deliberately, like Delta) forfeits time travel to versions
    * whose files it reclaims. Returns the deleted relative paths.
    */
  def vacuum(
      spark: org.apache.spark.sql.SparkSession, table: String,
      retentionMs: Long): Seq[String] = {
    val st = DeltaLog.stateAt(spark, table, None)
    val active = st.active.values
      .map(a => DeltaLog.decodePath(a.path)).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    // UniForm-converted tables share the directory with an Iceberg
    // view whose OWN files (position-delete parquet under data/) are
    // not in the Delta log — they are Iceberg-owned (expireSnapshots
    // reclaims them), not crash orphans; mirror of the Iceberg side's
    // "only its own data/" restraint
    val uniform = Files.isDirectory(Paths.get(table, "metadata"))
    val victims = listParquet(Paths.get(table))
      .filterNot(active)
      .filterNot(rel => uniform && rel.startsWith("data/"))
      .filter(rel =>
        Files.getLastModifiedTime(Paths.get(table, rel)).toMillis < cutoff)
      .toSeq.sorted
    // DELETION-VECTOR files are table content too: a DV superseded by
    // a later merged vector (or compacted away) is referenced by no
    // active add and reclaims past retention like any tombstoned file
    val activeDvAbs: Set[String] = st.active.values.flatMap(_.dv)
      .flatMap { d =>
        d.storageType match {
          case "p" => Some(Paths.get(
            d.pathOrInlineDv.replaceFirst("^file:/*", "/"))
            .toAbsolutePath.toString)
          case "u" => Some(DeltaDv.uuidPath(table, d.pathOrInlineDv))
          case _ => None // inline vectors have no file
        }
      }.toSet
    val root = Paths.get(table)
    val dvVictims = {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p)
          && p.getFileName.toString.startsWith("deletion_vector_")
          && p.getFileName.toString.endsWith(".bin")
          && !activeDvAbs.contains(p.toAbsolutePath.toString)
          && Files.getLastModifiedTime(p).toMillis < cutoff)
        .map(p => root.relativize(p).toString)
        .toVector.sorted
      finally s.close()
    }
    (victims ++ dvVictims).foreach(rel => Files.delete(Paths.get(table, rel)))
    victims ++ dvVictims
  }

  /** METADATA LOG CLEANUP (r15) — delta-spark's
    * `delta.logRetentionDuration` maintenance: delete JSON commits
    * STRICTLY BEHIND the latest checkpoint and older than
    * `retentionMs`. Safe by construction: [[DeltaLog.stateAt]]
    * replays checkpoint + commits-after-it, so a commit both
    * subsumed by a checkpoint and past retention serves no reader —
    * latest-state reads are unaffected and only time travel to the
    * pruned versions (already expired policy-wise) stops. The
    * checkpoint itself and everything at-or-after it always survive,
    * and [[nextVersion]] keeps counting past the checkpoint (a
    * pruned log can never restart version numbering). Returns the
    * deleted file names.
    */
  def cleanupLogs(
      spark: org.apache.spark.sql.SparkSession, table: String,
      // nonzero DEFAULT retention (r16): an in-flight checkpointV2
      // writes its sidecars BEFORE the main checkpoint file lands, so
      // a concurrent retention=0 sweep would reclaim them as orphans
      // mid-write; an hour of slack makes the default safe while
      // explicit retentionMs = 0 stays available for tests/tools that
      // know no writer is in flight
      retentionMs: Long = 3600000L): Seq[String] = {
    val dir = logDir(table)
    require(Files.isDirectory(dir), s"not a Delta table: $table")
    val entries = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toVector
      finally s.close()
    }
    val ckpts = entries.filter(n =>
      n.matches("\\d{20}\\.checkpoint(\\.\\d+\\.\\d+)?\\.parquet") ||
        n.matches("\\d{20}\\.checkpoint\\.[0-9a-fA-F][0-9a-fA-F-]{7,}\\.parquet"))
      .map(_.take(20).toLong)
    require(ckpts.nonEmpty,
      s"cleanupLogs on $table needs a checkpoint first (the JSON log " +
        "is the only state carrier without one)")
    val bound = ckpts.max
    val cutoff = System.currentTimeMillis() - retentionMs
    def expired(n: String): Boolean =
      Files.getLastModifiedTime(dir.resolve(n)).toMillis < cutoff
    val jsonVictims = entries.filter(_.matches("\\d{20}\\.json"))
      .filter(_.take(20).toLong < bound)
      .filter(expired)
    // SUPERSEDED checkpoints (strictly older than the latest) expire
    // with their JSON — each checkpoint is a complete state, so only
    // the newest serves readers
    val ckptVictims = entries
      .filter(n =>
        n.matches("\\d{20}\\.checkpoint(\\.\\d+\\.\\d+)?\\.parquet") ||
          n.matches("\\d{20}\\.checkpoint\\.[0-9a-fA-F][0-9a-fA-F-]{7,}\\.parquet"))
      .filter(_.take(20).toLong < bound)
      .filter(expired)
    (jsonVictims ++ ckptVictims).foreach(n =>
      Files.deleteIfExists(dir.resolve(n)))
    // ORPHANED V2 SIDECARS: sidecar parquet referenced by NO remaining
    // checkpoint reclaims past retention (each checkpointV2 writes a
    // fresh shard set; without this sweep they accumulate per
    // checkpoint forever). Referenced names come from the surviving
    // checkpoints' own `sidecar` rows — a bounded driver read —
    // NORMALIZED TO BASENAME exactly the way the read path
    // ([[DeltaLog.applyCheckpoint]]) resolves them: a checkpoint that
    // stores URI/absolute sidecar paths still protects its live
    // sidecars (raw-string matching would orphan every one of them
    // and, with the JSON commits behind the checkpoint pruned by the
    // same call, leave the table UNRECOVERABLE).
    val sidecarDir = dir.resolve("_sidecars")
    val sidecarVictims =
      if (!Files.isDirectory(sidecarDir)) Nil
      else {
        val live = {
          val remaining = entries.filterNot(ckptVictims.contains)
            .filter(_.matches(
              "\\d{20}\\.checkpoint\\.[0-9a-fA-F][0-9a-fA-F-]{7,}\\.parquet"))
          remaining.flatMap { n =>
            val df = spark.read.parquet(dir.resolve(n).toString)
            if (!df.columns.contains("sidecar")) Nil
            else df.select(org.apache.spark.sql.functions.col("sidecar.path"))
              .filter(org.apache.spark.sql.functions.col("path").isNotNull)
              .collect().map(_.getString(0)).toSeq
          }.map { p =>
            val clean = p.replaceFirst("^file:/*", "/")
            Paths.get(clean).getFileName.toString
          }.toSet
        }
        val s = Files.list(sidecarDir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => !live(n) &&
            Files.getLastModifiedTime(sidecarDir.resolve(n)).toMillis
              < cutoff)
          .toVector
        finally s.close()
      }
    sidecarVictims.foreach(n =>
      Files.deleteIfExists(sidecarDir.resolve(n)))
    (jsonVictims ++ ckptVictims ++
      sidecarVictims.map(n => s"_sidecars/$n")).sorted
  }

  /** Compact the snapshot at the table's latest version into a parquet
    * checkpoint + `_last_checkpoint`, bounding future readers' JSON
    * replay to commits after it (the log-growth control every
    * long-lived Delta table runs; [[DeltaLog]] consumes it). The
    * checkpoint carries protocol, metaData, every active add AND the
    * txn map — dropping txns would silently break exactly-once replay
    * detection after a compaction.
    */
  /** The checkpoint `add` struct, shared by the classic and V2
    * writers (divergence here would mean one form silently drops
    * state the other carries: stats → file skipping, DVs → deleted
    * rows, baseRowId → row identity, tags → probe-free reads).
    */
  private def ckptAddType: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("dataChange", BooleanType),
      // carried so compaction cannot silently disable file skipping
      StructField("stats", StringType),
      // carried so compaction cannot silently UNDELETE rows
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType)))),
      // carried so checkpointing a row-tracking table cannot
      // silently re-identify rows
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType),
      // carried so the materialized-presence record survives log
      // cleanup (a dropped tag only costs a footer probe, but the
      // zero-probe contract is spec-pinned)
      StructField("tags", MapType(StringType, StringType))))
  }

  private def ckptAddRow(a: DeltaLog.AddFile): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(
      a.path, a.partitionValues, a.size.map(Long.box).orNull, true,
      a.stats.orNull,
      a.dv.map(d => org.apache.spark.sql.Row(d.storageType,
        d.pathOrInlineDv, d.offset, d.sizeInBytes, d.cardinality)).orNull,
      a.baseRowId.map(Long.box).orNull,
      a.defaultRowCommitVersion.map(Long.box).orNull,
      if (a.tags.isEmpty) null else a.tags)

  /** V2 SPEC CHECKPOINT with SIDECARS (r15 — PROTOCOL.md "V2 Spec
    * Checkpoints"; the READ path landed r14, this is the writer): the
    * UUID-named main checkpoint carries protocol, metaData, txns,
    * domainMetadata and a `checkpointMetadata` action, while the FILE
    * actions move into sidecar parquet files under
    * `_delta_log/_sidecars/` referenced by `sidecar` rows — at 10⁶
    * files a monolithic checkpoint serializes through one writer and
    * one reader, where sidecars shard the add set into independently
    * readable (and at scale, parallel-loadable) pieces bounded by
    * `maxAddsPerSidecar`. Declares the `v2Checkpoint` reader feature
    * first when missing (minReader 3; the upgrade ENUMERATES
    * prior-implied features per the deleteWhere discipline — old
    * readers must not misread the UUID checkpoint as garbage).
    * Returns the checkpointed version.
    */
  def checkpointV2(
      spark: org.apache.spark.sql.SparkSession, table: String,
      maxAddsPerSidecar: Int = 50000): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val st0 = DeltaLog.stateAt(spark, table, None)
    if (!st0.readerFeatures.contains("v2Checkpoint")) {
      // a legacy-protocol table's implied reader features must be
      // ENUMERATED on the v3 upgrade (mapped tables imply
      // columnMapping; v1 tables imply nothing)
      val implied0 =
        if (st0.minReader >= 3) st0.readerFeatures
        else if (st0.configuration
          .getOrElse("delta.columnMapping.mode", "none") != "none")
          Set("columnMapping")
        else Set.empty[String]
      val rf = implied0 + "v2Checkpoint"
      val implied =
        if (st0.writerFeatures.nonEmpty) st0.writerFeatures
        else legacyWriterFeatures(st0.minWriter)
      val wf = (implied + "v2Checkpoint").toSeq.sorted
        .map(f => "\"" + f + "\"").mkString("[", ",", "]")
      val rfJson = rf.toSeq.sorted
        .map(f => "\"" + f + "\"").mkString("[", ",", "]")
      val lines = Seq(
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":$rfJson,"writerFeatures":$wf}}""",
        s"""{"commitInfo":{"operation":"UPGRADE PROTOCOL"}}""")
      var pv = nextVersion(table)
      while (!claim(table, pv, lines)) pv = nextVersion(table)
    }
    val v = DeltaLog.version(spark, table)
    val st = DeltaLog.stateAt(spark, table, Some(v))
    val dir = logDir(table)
    val sidecarDir = dir.resolve("_sidecars")
    Files.createDirectories(sidecarDir)
    // sidecars: the add set sharded into bounded parquet files
    val sidecarSchema = StructType(Seq(StructField("add", ckptAddType)))
    val addGroups = st.active.values.toSeq.sortBy(_.path)
      .grouped(math.max(1, maxAddsPerSidecar)).toSeq
    val sidecarNames = addGroups.map { group =>
      val name = s"${java.util.UUID.randomUUID()}.parquet"
      val tmp = Files.createTempDirectory("delta_ckpt_sc")
      spark.createDataFrame(
        group.map(a => Row(ckptAddRow(a))).asJava, sidecarSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val l = Files.list(tmp)
        try l.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally l.close()
      }
      Files.move(part, sidecarDir.resolve(name))
      name
    }
    val mainSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType)))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType)))),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType))))))
    def row(
        p: Row = null, m: Row = null, t: Row = null, d: Row = null,
        sc: Row = null, cm: Row = null): Row = Row(p, m, t, d, sc, cm)
    val rows =
      Seq(
        row(p = Row(st.minReader, st.minWriter,
          if (st.readerFeatures.nonEmpty) st.readerFeatures.toSeq.sorted
          else null,
          if (st.writerFeatures.nonEmpty) st.writerFeatures.toSeq.sorted
          else null)),
        row(m = Row(st.tableId.getOrElse(table), st.schemaJson.get,
          st.partitionCols, st.configuration)),
        row(cm = Row(v))) ++
        st.txns.toSeq.sortBy(_._1).map { case (a, ver) =>
          row(t = Row(a, ver))
        } ++
        st.domains.toSeq.sortBy(_._1).map { case (dom, c) =>
          row(d = Row(dom, c, false))
        } ++
        sidecarNames.map(n =>
          row(sc = Row(n, Files.size(sidecarDir.resolve(n)))))
    val tmp = Files.createTempDirectory("delta_ckpt_v2")
    spark.createDataFrame(rows.asJava, mainSchema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = {
      val l = Files.list(tmp)
      try l.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally l.close()
    }
    Files.move(part, dir.resolve(
      f"$v%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"))
    val lcTmp = dir.resolve(s".lc-${java.util.UUID.randomUUID}")
    Files.write(lcTmp,
      s"""{"version":$v,"size":${rows.size}}"""
        .getBytes(StandardCharsets.UTF_8))
    Files.move(lcTmp, dir.resolve("_last_checkpoint"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    v
  }

  def checkpoint(spark: org.apache.spark.sql.SparkSession, table: String): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val v = DeltaLog.version(spark, table)
    val st = DeltaLog.stateAt(spark, table, Some(v))
    val ckptSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        // carried so checkpointing a feature-gated (v3) table cannot
        // silently drop the feature lists the gate checks (writer
        // features included — delta-spark writers read them from the
        // checkpoint once the JSON commits are cleaned up)
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        // carried so checkpointing a foreign column-mapped table
        // cannot silently drop the mapping mode (wrong rows after)
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType)))),
      StructField("add", ckptAddType),
      // live domainMetadata (rowIdHighWaterMark etc.) must survive
      // log cleanup — a checkpoint without it resets the watermark
      // and the next append would REUSE row ids
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
    val rows =
      Seq(Row(Row(st.minReader,
        st.minWriter,
        if (st.readerFeatures.nonEmpty) st.readerFeatures.toSeq.sorted
        else null,
        if (st.writerFeatures.nonEmpty) st.writerFeatures.toSeq.sorted
        else null), null, null, null, null),
        Row(null,
          Row(st.tableId.getOrElse(table), st.schemaJson.get,
            st.partitionCols, st.configuration),
          null, null, null)) ++
        st.txns.toSeq.sortBy(_._1).map { case (a, ver) =>
          Row(null, null, Row(a, ver), null, null)
        } ++
        st.active.values.toSeq.sortBy(_.path).map { a =>
          Row(null, null, null, ckptAddRow(a), null)
        } ++
        st.domains.toSeq.sortBy(_._1).map { case (dom, c) =>
          Row(null, null, null, null, Row(dom, c, false))
        }
    val tmp = Files.createTempDirectory("delta_ckpt_w")
    spark.createDataFrame(
      rows.asJava, ckptSchema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = {
      val s = Files.list(tmp)
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    val dir = logDir(table)
    Files.move(part, dir.resolve(f"$v%020d.checkpoint.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val lcTmp = dir.resolve(s".lc-${java.util.UUID.randomUUID}")
    Files.write(lcTmp,
      s"""{"version":$v,"size":${rows.size}}"""
        .getBytes(StandardCharsets.UTF_8))
    Files.move(lcTmp, dir.resolve("_last_checkpoint"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    v
  }

  /** UniForm-style Iceberg→Delta METADATA conversion (r15 — the
    * reverse of [[IcebergExport.fromDelta]], completing the interop
    * pair): author a `_delta_log/` over an Iceberg table's CURRENT
    * snapshot — the SAME parquet files, zero data copied (`_delta_log/`
    * lands next to `metadata/`; both formats then describe one
    * physical table). Iceberg's row-level deletes CONVERT rather than
    * resurrect: position-delete parquet AND v3 puffin deletion
    * vectors both become Delta DELETION VECTORS per referenced file
    * (the roaring bitmap codec is deliberately shared — see
    * [[Puffin]]), bounded by deleted rows. Identity partition values
    * become `add.partitionValues` (Delta's own missing-source-column
    * read path reconstructs them, exactly like the forward direction).
    *
    * Re-running after Iceberg commits emits a DIFF commit: unchanged
    * files (same deleted-position set) are untouched, changed ones
    * re-add with a fresh DV, vanished ones remove — so the Delta view
    * tracks the Iceberg table per sync point and earlier sync points
    * stay time-travelable. SINGLE-WRITER CONTRACT (the forward
    * direction's mirror): Iceberg must stay the only writer.
    *
    * Refuses loudly: EQUALITY deletes (their positions are unknowable
    * without a scan — run [[IcebergExport.rewriteDataFiles]] to apply
    * them physically, then convert) and partition-evolved tables
    * whose eras disagree on identity sources (run
    * [[IcebergExport.rewriteToCurrentSpec]] first). Non-identity
    * transform partitioning converts as an UNPARTITIONED Delta table
    * — those source columns are physically in the files, which is all
    * Delta needs. Returns the committed Delta version.
    */
  def fromIceberg(
      spark: org.apache.spark.sql.SparkSession, table: String): Long = {
    import org.apache.spark.sql.types.StructType
    val meta = IcebergTable.metadataJson(table)
    val snap = IcebergTable.currentSnapshotNode(meta)
    val schema = IcebergTable.schemaOf(meta)
    val entries = IcebergTable.dataFilesWithPartitions(table, meta, snap)
      .sortBy(_.path)
    val idSets = entries.map(_.idFields.map(_._1)).distinct
    require(idSets.size <= 1,
      s"$table has partition-evolved eras with different identity " +
        "sources — rewriteToCurrentSpec first, then convert")
    val partitionCols: Seq[String] = idSets.headOption.getOrElse(Nil)
    partitionCols.foreach(c => require(schema.fieldNames.contains(c),
      s"identity partition field $c is not a top-level schema column"))
    val deletes = IcebergTable.deleteFilesOf(table, meta, snap)
    // equality deletes scope by sequence number: one is LIVE only if
    // some data file has a strictly smaller data sequence. Dead ones
    // (every file rewritten past them) convert trivially; live ones
    // would need a scan to resolve into positions — refused with the
    // fix spelled out
    val liveEq = deletes.filter(d =>
      d.content == 2 && entries.exists(_.seq < d.seq))
    require(liveEq.isEmpty,
      s"$table carries LIVE equality deletes (e.g. ${liveEq.head.path})" +
        " whose positions require a scan to resolve — rewriteDataFiles" +
        " applies them physically; convert after")
    // deleted positions per data file: position-delete parquet rows
    // (bounded by deleted rows) + puffin DV blobs, the reader's own
    // two sources
    val posDeletes = deletes
      .filter(d => d.content == 1 && d.format != "PUFFIN").map(_.path)
    val posPairs: Seq[(String, Long)] =
      if (posDeletes.isEmpty) Nil
      else spark.read
        .schema(StructType.fromDDL("file_path STRING, pos BIGINT"))
        .parquet(posDeletes: _*)
        .collect().map(r => (DeltaLog.canonFile(r.getString(0)), r.getLong(1))).toSeq
    val dvPairs: Seq[(String, Long)] = deletes
      .filter(d => d.content == 1 && d.format == "PUFFIN")
      .flatMap { d =>
        val blob = (d.contentOffset, d.contentSize) match {
          case (Some(off), Some(len)) => Puffin.readBlob(d.path, off, len)
          case _ => throw new IllegalStateException(
            s"puffin DV without content offsets in ${d.path}")
        }
        Puffin.dvBlobIndexes(blob)
          .map(i => (DeltaLog.canonFile(d.referencedDataFile.getOrElse(
            throw new IllegalStateException(
              s"puffin DV entry without referenced-data-file in ${d.path}"))),
            i))
      }
    val byFile: Map[String, Array[Long]] = (posPairs ++ dvPairs)
      .groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted.toArray).toMap
    val tableAbs = Paths.get(table).toAbsolutePath.toString
    def relOf(abs: String): String = {
      require(abs.startsWith(tableAbs + "/"),
        s"data file $abs outside the table root cannot convert in place")
      abs.substring(tableAbs.length + 1)
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    val anyDv = byFile.nonEmpty
    // one desired add per entry: rel path, partition values (nullable),
    // wanted deleted-position set
    case class Want(
        rel: String, abs: String, pv: Seq[(String, Option[String])],
        del: Array[Long])
    val desired = entries.map { e =>
      Want(relOf(e.path), e.path,
        partitionCols.map(c => c -> e.pv.getOrElse(c, None)),
        byFile.getOrElse(DeltaLog.canonFile(e.path), Array.empty[Long]))
    }
    def pvJson(pv: Seq[(String, Option[String])]): String =
      pv.sortBy(_._1).map { case (k, v) =>
        s""""${esc(k)}":${v.map(x => s""""${esc(x)}"""").getOrElse("null")}"""
      }.mkString("{", ",", "}")
    def addLine(w: Want, dv: Option[DeltaDv.Descriptor]): String = {
      val stats = fileStats(hconf, w.abs)
        .map(s => s""","stats":"${esc(s)}"""").getOrElse("")
      val dvPart = dv
        .map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
      s"""{"add":{"path":"${enc(w.rel)}","partitionValues":${pvJson(w.pv)},"size":${Files.size(Paths.get(w.abs))},"modificationTime":${Files.getLastModifiedTime(Paths.get(w.abs)).toMillis},"dataChange":true$stats$dvPart}}"""
    }
    val fresh = !Files.isDirectory(logDir(table))
    if (fresh) {
      val protocolLine =
        if (!anyDv)
          s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
        else {
          val wf = (legacyWriterFeatures(2) + "deletionVectors")
            .toSeq.sorted.map(f => "\"" + f + "\"")
            .mkString("[", ",", "]")
          s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":$wf}}"""
        }
      val lines = Seq(protocolLine,
        metaDataJson(java.util.UUID.randomUUID.toString, schema,
          partitionCols)) ++
        desired.map(w => addLine(w,
          if (w.del.isEmpty) None
          else Some(DeltaDv.writeFileU(table, w.del)))) :+
        s"""{"commitInfo":{"operation":"CONVERT","operationParameters":{"source":"iceberg"}}}"""
      if (!claim(table, 0L, lines))
        throw new IllegalStateException(
          s"lost the race for $table Delta version 0")
      0L
    } else {
      // RE-SYNC: diff against the current Delta state — unchanged
      // files (same deleted set) stay, changed ones re-add with a
      // fresh DV, vanished ones remove
      var v = nextVersion(table)
      var committed = false
      while (!committed) {
        val st = DeltaLog.stateAt(spark, table, None)
        val desiredByRel = desired.map(w => w.rel -> w).toMap
        def curDel(a: DeltaLog.AddFile): Array[Long] =
          a.dv.map(DeltaDv.indexesOf(table, _)).getOrElse(Array.empty)
        val removes = st.active.values.toSeq.sortBy(_.path).filter { a =>
          desiredByRel.get(DeltaLog.decodePath(a.path))
            match {
            case None => true // vanished from the Iceberg snapshot
            case Some(w) => !java.util.Arrays.equals(curDel(a), w.del)
          }
        }
        val changedOrNew = desired.filter { w =>
          st.active.get(w.rel).orElse(st.active.get(enc(w.rel))) match {
            case None => true
            case Some(a) => !java.util.Arrays.equals(curDel(a), w.del)
          }
        }
        if (removes.isEmpty && changedOrNew.isEmpty) return v - 1 // no-op
        val protoLine =
          if (!anyDv || st.readerFeatures.contains("deletionVectors")) Nil
          else {
            val implied =
              if (st.writerFeatures.nonEmpty) st.writerFeatures
              else legacyWriterFeatures(st.minWriter)
            val wf = (implied + "deletionVectors").toSeq.sorted
              .map(f => "\"" + f + "\"").mkString("[", ",", "]")
            Seq(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":$wf}}""")
          }
        val removeLines = removes.map { a =>
          val dvPart = a.dv
            .map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
          s"""{"remove":{"path":"${esc(a.path)}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":true$dvPart}}"""
        }
        val addLines = changedOrNew.map(w => addLine(w,
          if (w.del.isEmpty) None
          else Some(DeltaDv.writeFileU(table, w.del))))
        val lines = protoLine ++ removeLines ++ addLines :+
          s"""{"commitInfo":{"operation":"CONVERT","operationParameters":{"source":"iceberg"}}}"""
        committed = claim(table, v, lines)
        if (!committed) v = nextVersion(table)
      }
      v
    }
  }
}
