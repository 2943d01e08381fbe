package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.KnownFiles
import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

import graft.sources.dsv2.{DeltaDsv2, FilterPrune}

/** Read-only Delta Lake table reader built from the OPEN Delta
  * transaction-log protocol (delta-io PROTOCOL.md: a `_delta_log/`
  * directory of zero-padded-version newline-delimited-JSON commits,
  * optionally compacted into parquet checkpoints referenced by
  * `_last_checkpoint`) — no delta-spark dependency, which this
  * offline environment cannot resolve. This is the READ side; the
  * write side is [[DeltaExport]] (with [[DeltaMerge]] and
  * [[DeltaUpdate]]), which authors the same protocol.
  *
  * Supported: protocol v1 readers — add/remove file replay with
  * last-action-wins per path, partition columns reconstructed from
  * `add.partitionValues` (Delta does not store them in the data
  * files) and cast to the table schema's types, URL-decoded relative
  * or absolute file paths, multi-part checkpoints, time travel via
  * `versionAsOf`, and COLUMN MAPPING in both modes: NAME mode (r12)
  * reads with the stable physical parquet names each field's metadata
  * stores and remaps physical → logical (nested levels included, and
  * `add.partitionValues`' physical keys); ID mode (r13) resolves by
  * parquet FOOTER FIELD-IDS — the read schema keeps logical names and
  * carries `parquet.field.id` = `delta.columnMapping.id`, Spark's
  * field-id read path does the per-file resolution, so renames and
  * early-adopter id-mode tables read correctly with zero remap.
  * Implemented reader features: deletionVectors, columnMapping
  * (both modes), timestampNtz (native TimestampNTZType), and
  * v2Checkpoint (UUID-named checkpoints incl. sidecar file actions).
  * Genuinely unknown reader features fail LOUDLY rather than
  * returning wrong rows.
  *
  * Scale shape: the log replay is metadata work — the same
  * driver-side snapshot state delta-spark itself keeps — bounded by
  * files-in-table, not rows. The DATA read is the `graft-delta`
  * DataSourceV2 scan ([[graft.sources.dsv2.DeltaTableProvider]]): one
  * input partition per file slice, partition values and deletion
  * vectors shipped with each slice and applied on the executors.
  * Writers that need row positions scan through [[positionedScan]].
  */
object DeltaLog {

  private val mapper = new ObjectMapper()

  private def logDir(table: String): Path = Paths.get(table, "_delta_log")

  /** Zero-padded 20-digit version of a commit/checkpoint file name. */
  private def versionOf(name: String): Long = name.take(20).toLong

  private[sources] case class AddFile(
      path: String, partitionValues: Map[String, String],
      stats: Option[String] = None,
      dv: Option[DeltaDv.Descriptor] = None,
      // ROW TRACKING (PROTOCOL.md): fresh row id = baseRowId +
      // position; the row's commit version defaults to this until a
      // rewrite materializes it
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None,
      // add.tags (PROTOCOL.md: opaque writer metadata) — this writer
      // records whether the file physically carries the materialized
      // row-id columns, so readers never footer-probe self-written
      // files (foreign tables, lacking the tag, still probe)
      tags: Map[String, String] = Map.empty,
      // add.size (bytes) — the DSv2 scan's size estimate for the join
      // planner (its slices are cut from the size on disk)
      size: Option[Long] = None)
  private[sources] case class State(
      schemaJson: Option[String],
      partitionCols: Seq[String],
      minReader: Int,
      active: Map[String, AddFile],
      txns: Map[String, Long],
      configuration: Map[String, String] = Map.empty,
      readerFeatures: Set[String] = Set.empty,
      minWriter: Int = 2,
      writerFeatures: Set[String] = Set.empty,
      // the metaData id — a STABLE table identity (delta-spark
      // streaming readers key their offsets on it), so metadata-only
      // re-emits (setProperties) must carry it forward unchanged
      tableId: Option[String] = None,
      // live domainMetadata actions: domain → configuration string
      // (PROTOCOL.md "Domain Metadata"; row tracking rides the
      // `delta.rowTracking` domain's rowIdHighWaterMark)
      domains: Map[String, String] = Map.empty)

  private val empty = State(None, Nil, 1, Map.empty, Map.empty)

  private def applyAction(s: State, a: JsonNode): State = {
    if (a.has("metaData")) {
      val m = a.get("metaData")
      val pcs =
        if (m.has("partitionColumns"))
          m.get("partitionColumns").elements().asScala.map(_.asText()).toSeq
        else Nil
      val conf =
        if (m.has("configuration") && !m.get("configuration").isNull) {
          val o = m.get("configuration")
          o.fieldNames().asScala.map(k => k -> o.get(k).asText()).toMap
        } else Map.empty[String, String]
      s.copy(
        schemaJson = Some(m.get("schemaString").asText()),
        partitionCols = pcs,
        configuration = conf,
        tableId =
          if (m.has("id") && !m.get("id").isNull) Some(m.get("id").asText())
          else s.tableId)
    } else if (a.has("protocol")) {
      val p = a.get("protocol")
      val feats =
        if (p.has("readerFeatures") && !p.get("readerFeatures").isNull)
          p.get("readerFeatures").elements().asScala.map(_.asText()).toSet
        else Set.empty[String]
      val wFeats =
        if (p.has("writerFeatures") && !p.get("writerFeatures").isNull)
          p.get("writerFeatures").elements().asScala.map(_.asText()).toSet
        else Set.empty[String]
      s.copy(
        minReader = p.get("minReaderVersion").asInt(),
        readerFeatures = feats,
        minWriter = Option(p.get("minWriterVersion"))
          .map(_.asInt()).getOrElse(s.minWriter),
        writerFeatures = wFeats)
    } else if (a.has("add")) {
      val ad = a.get("add")
      val path = ad.get("path").asText()
      val pv =
        if (ad.has("partitionValues") && !ad.get("partitionValues").isNull) {
          val o = ad.get("partitionValues")
          o.fieldNames().asScala.map(k => k -> o.get(k).asText()).toMap
        } else Map.empty[String, String]
      val stats =
        if (ad.has("stats") && !ad.get("stats").isNull)
          Some(ad.get("stats").asText())
        else None
      val dv =
        if (ad.has("deletionVector") && !ad.get("deletionVector").isNull) {
          val d = ad.get("deletionVector")
          Some(DeltaDv.Descriptor(
            d.get("storageType").asText(),
            d.get("pathOrInlineDv").asText(),
            Option(d.get("offset")).map(_.asInt()).getOrElse(0),
            d.get("sizeInBytes").asInt(),
            d.get("cardinality").asLong()))
        } else None
      val baseRowId =
        if (ad.has("baseRowId") && !ad.get("baseRowId").isNull)
          Some(ad.get("baseRowId").asLong())
        else None
      val defRcv =
        if (ad.has("defaultRowCommitVersion")
          && !ad.get("defaultRowCommitVersion").isNull)
          Some(ad.get("defaultRowCommitVersion").asLong())
        else None
      val tags =
        if (ad.has("tags") && !ad.get("tags").isNull) {
          val o = ad.get("tags")
          o.fieldNames().asScala.map(k => k -> o.get(k).asText()).toMap
        } else Map.empty[String, String]
      val size =
        if (ad.has("size") && !ad.get("size").isNull)
          Some(ad.get("size").asLong())
        else None
      s.copy(active =
        s.active + (path -> AddFile(path, pv, stats, dv, baseRowId, defRcv,
          tags, size)))
    } else if (a.has("remove")) {
      s.copy(active = s.active - a.get("remove").get("path").asText())
    } else if (a.has("txn")) {
      // streaming-sink idempotence state: last committed version per
      // application id (Delta's exactly-once handshake)
      val t = a.get("txn")
      s.copy(txns =
        s.txns + (t.get("appId").asText() -> t.get("version").asLong()))
    } else if (a.has("domainMetadata")) {
      val d = a.get("domainMetadata")
      val dom = d.get("domain").asText()
      if (d.has("removed") && d.get("removed").asBoolean())
        s.copy(domains = s.domains - dom)
      else s.copy(domains = s.domains + (dom ->
        Option(d.get("configuration")).filterNot(_.isNull)
          .map(c => if (c.isTextual) c.asText() else c.toString)
          .getOrElse("")))
    } else s // commitInfo, cdc — no reader state
  }

  /** Replay one newline-delimited-JSON commit file. */
  private def applyCommit(s: State, file: Path): State =
    Files.readAllLines(file, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty)
      .foldLeft(s)((st, line) => applyAction(st, mapper.readTree(line)))

  /** Load a (possibly multi-part v1, or UUID-named V2) parquet
    * checkpoint into a State — a checkpoint row has exactly one
    * non-null action column, same action vocabulary as the JSON form.
    * V2 checkpoints (PROTOCOL.md "V2 Spec Checkpoints") may move
    * their file actions into SIDECAR parquet files under
    * `_delta_log/_sidecars/`, referenced by `sidecar` action rows in
    * the main file — those load through this same function
    * (recursion depth 1: sidecars cannot reference sidecars). The
    * `checkpointMetadata` action is structural and carries no reader
    * state.
    */
  private def applyCheckpoint(
      spark: SparkSession, s: State, parts: Seq[Path]): State = {
    val df = spark.read.parquet(parts.map(_.toString): _*)
    val cols = df.columns.toSet
    var st = s
    if (cols.contains("sidecar")) {
      val sidecarDir = parts.head.getParent.resolve("_sidecars")
      val sidecars = df.select(col("sidecar.path"))
        .filter(col("path").isNotNull).collect().map(_.getString(0))
        .map { p =>
          // a bare file name resolves under _sidecars/; URIs strip
          // their scheme (local-path module contract)
          val clean = p.replaceFirst("^file:/*", "/")
          if (clean.startsWith("/")) Paths.get(clean)
          else sidecarDir.resolve(clean)
        }.toSeq
      if (sidecars.nonEmpty) st = applyCheckpoint(spark, st, sidecars)
    }
    if (cols.contains("protocol")) {
      val protoFields = df.schema("protocol").dataType
        .asInstanceOf[StructType].fieldNames.toSet
      def featCol(name: String) =
        if (protoFields.contains(name)) col(s"protocol.$name")
        else lit(null).cast("array<string>").as(name)
      val p = df.select(
        col("protocol.minReaderVersion"),
        featCol("readerFeatures"),
        if (protoFields.contains("minWriterVersion"))
          col("protocol.minWriterVersion")
        else lit(null).cast("int").as("minWriterVersion"),
        featCol("writerFeatures"))
        .filter(col("minReaderVersion").isNotNull).collect()
      p.headOption.foreach(r => st = st.copy(
        minReader = r.getInt(0),
        readerFeatures = Option(r.getSeq[String](1))
          .map(_.toSet).getOrElse(Set.empty),
        minWriter = if (r.isNullAt(2)) st.minWriter else r.getInt(2),
        writerFeatures = Option(r.getSeq[String](3))
          .map(_.toSet).getOrElse(Set.empty)))
    }
    if (cols.contains("metaData")) {
      val mdFields = df.schema("metaData").dataType
        .asInstanceOf[StructType].fieldNames.toSet
      val hasConf = mdFields.contains("configuration")
      val hasId = mdFields.contains("id")
      val m = df
        .select(
          col("metaData.schemaString"),
          col("metaData.partitionColumns"),
          if (hasConf) col("metaData.configuration")
          else lit(null).cast("map<string,string>").as("configuration"),
          if (hasId) col("metaData.id")
          else lit(null).cast("string").as("id"))
        .filter(col("schemaString").isNotNull).collect()
      m.headOption.foreach(r =>
        st = st.copy(
          schemaJson = Some(r.getString(0)),
          partitionCols = r.getSeq[String](1),
          configuration = Option(r.getMap[String, String](2))
            .map(_.toMap).getOrElse(Map.empty),
          tableId = Option(r.getString(3)).orElse(st.tableId)))
    }
    if (cols.contains("txn")) {
      val ts = df.select(col("txn.appId"), col("txn.version"))
        .filter(col("appId").isNotNull).collect()
        .map(r => r.getString(0) -> r.getLong(1))
      st = st.copy(txns = st.txns ++ ts)
    }
    if (cols.contains("add")) {
      // the checkpoint's add set IS the active set at its version —
      // bounded by files-in-table (the state delta-spark also holds)
      val addFields = df.schema("add").dataType
        .asInstanceOf[StructType].fieldNames.toSet
      val dvCol =
        if (addFields.contains("deletionVector")) col("add.deletionVector")
        else lit(null).cast(
          "struct<storageType:string,pathOrInlineDv:string," +
            "offset:int,sizeInBytes:int,cardinality:bigint>")
          .as("deletionVector")
      def optLong(name: String) =
        if (addFields.contains(name)) col(s"add.$name")
        else lit(null).cast("bigint").as(name)
      val tagsCol =
        if (addFields.contains("tags")) col("add.tags")
        else lit(null).cast("map<string,string>").as("tags")
      val adds = df
        .select(col("add.path"), col("add.partitionValues"),
          if (addFields.contains("stats")) col("add.stats")
          else lit(null).cast("string").as("stats"),
          dvCol, optLong("baseRowId"), optLong("defaultRowCommitVersion"),
          tagsCol, optLong("size"))
        .filter(col("path").isNotNull).collect()
        .map { r =>
          val dv = Option(r.getStruct(3)).filter(!_.isNullAt(0)).map(s =>
            DeltaDv.Descriptor(s.getString(0), s.getString(1),
              s.getInt(2), s.getInt(3), s.getLong(4)))
          r.getString(0) -> AddFile(
            r.getString(0),
            Option(r.getMap[String, String](1))
              .map(_.toMap).getOrElse(Map.empty),
            Option(r.getString(2)),
            dv,
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            if (r.isNullAt(5)) None else Some(r.getLong(5)),
            Option(r.getMap[String, String](6))
              .map(_.toMap).getOrElse(Map.empty),
            if (r.isNullAt(7)) None else Some(r.getLong(7)))
        }
      st = st.copy(active = st.active ++ adds)
    }
    // ROW-TRACKING state must survive log cleanup: a checkpoint that
    // dropped the domainMetadata rows would silently reset the
    // rowIdHighWaterMark and the next append would REUSE row ids
    if (cols.contains("domainMetadata")) {
      // a FOREIGN checkpoint may retain removed=true tombstones until
      // their expiry (PROTOCOL.md) — replaying one as a live domain
      // would resurrect a stale delta.rowTracking watermark; the JSON
      // replay path already skips them, so must this one
      val dmFields = df.schema("domainMetadata").dataType
        .asInstanceOf[StructType].fieldNames.toSet
      val removedCol =
        if (dmFields.contains("removed")) col("domainMetadata.removed")
        else lit(null).cast("boolean").as("removed")
      val ds = df
        .select(col("domainMetadata.domain"),
          col("domainMetadata.configuration"), removedCol)
        .filter(col("domain").isNotNull).collect()
      val (tombs, live) =
        ds.partition(r => !r.isNullAt(2) && r.getBoolean(2))
      st = st.copy(domains = st.domains ++
        live.map(r => r.getString(0) ->
          Option(r.getString(1)).getOrElse("")) --
        tombs.map(_.getString(0)))
    }
    st
  }

  /** The snapshot state at `versionAsOf` (or latest): checkpoint ≤
    * version if one exists, then the JSON commits after it, replayed
    * in order.
    */
  private[sources] def stateAt(
      spark: SparkSession, table: String, versionAsOf: Option[Long]): State = {
    val dir = logDir(table)
    require(Files.isDirectory(dir), s"not a Delta table (no _delta_log): $table")
    val entries = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toVector
      finally s.close()
    }
    val commits = entries.filter(_.matches("\\d{20}\\.json"))
      .map(n => versionOf(n) -> n).sortBy(_._1)
    // classic (single or .N.M multi-part) checkpoints, plus the
    // UUID-named V2 form
    val checkpoints = entries
      .filter(n =>
        n.matches("\\d{20}\\.checkpoint(\\.\\d+\\.\\d+)?\\.parquet") ||
          n.matches("\\d{20}\\.checkpoint\\.[0-9a-fA-F][0-9a-fA-F-]{7,}\\.parquet"))
      .groupBy(versionOf).toSeq.sortBy(_._1)
    val latest = versionAsOf.getOrElse(
      (commits.map(_._1) ++ checkpoints.map(_._1)).maxOption.getOrElse(
        throw new IllegalStateException(s"empty _delta_log at $table")))
    require(
      commits.exists(_._1 == latest) || checkpoints.exists(_._1 == latest),
      s"version $latest does not exist in $table (time travel past the log)")
    val ckpt = checkpoints.filter(_._1 <= latest).lastOption
    val base = ckpt match {
      case Some((_, parts)) =>
        applyCheckpoint(spark, empty, parts.sorted.map(dir.resolve))
      case None => empty
    }
    val from = ckpt.map(_._1 + 1).getOrElse(0L)
    val st = commits
      .filter { case (v, _) => v >= from && v <= latest }
      .foldLeft(base) { case (s, (_, n)) => applyCommit(s, dir.resolve(n)) }
    // Protocol gate (narrowed again r13): v1 plain tables; v2 tables
    // with NAME- or ID-mode column mapping; and v3 feature-gated
    // tables whose readerFeatures this module actually implements —
    // deletionVectors (applied in the read below), columnMapping
    // (both modes: name resolves by stable physical name, id by
    // parquet footer field-ids), and timestampNtz (schemaString
    // parses to Spark's native TimestampNTZType; the parquet encoding
    // is INT64 isAdjustedToUTC=false, which the scan reads directly —
    // the feature flag exists because OLD readers would misread NTZ
    // as instants, which this reader does not), and v2Checkpoint
    // (UUID-named checkpoints with sidecar file actions — see
    // applyCheckpoint). Everything else — genuinely unknown reader
    // features — is refused loudly: wrong rows would be worse than
    // no rows.
    val mappingMode = st.configuration
      .getOrElse("delta.columnMapping.mode", "none")
    // typeWidening (r16): a widened table's schemaString carries the
    // WIDE type while files written pre-widen carry the narrow
    // physical type; Spark 4's parquet readers perform the spec's
    // lossless promotions (int32→long, int→double, float→double,
    // decimal growth) at scan time, so reading with the wide schema
    // IS the implementation — an unsupported promotion fails the scan
    // loudly, never returns wrong rows. Both the GA and preview
    // feature names are accepted (delta-spark wrote
    // `typeWidening-preview` through 3.x previews).
    // variantType (r16): schemaString's `variant` parses to Spark's
    // native VariantType and the parquet scan decodes the open
    // variant binary encoding (metadata dictionary + value) that
    // Spark itself writes.
    // variantShredding (r17): shredded files carry the Parquet
    // Variant Shredding layout (`typed_value` groups beside
    // metadata/value); Spark's parquet variant converter REBUILDS
    // shredded and unshredded columns alike
    // (spark.sql.variant.allowReadingShredded, default on), so
    // reading the null `value` of a shredded-away field as the value
    // — the wrong-rows hazard that kept this on the refusal list —
    // never happens: the scan goes through the rebuilding converter,
    // not the raw group fields.
    val implemented =
      Set("deletionVectors", "columnMapping", "timestampNtz", "v2Checkpoint",
        "typeWidening", "typeWidening-preview",
        "variantType", "variantType-preview",
        "variantShredding", "variantShredding-preview")
    val modes = Set("none", "name", "id")
    val ok = st.minReader match {
      case v if v <= 1 => true
      case 2 => mappingMode == "name" || mappingMode == "id"
      case 3 =>
        st.readerFeatures.nonEmpty &&
          st.readerFeatures.subsetOf(implemented) &&
          modes(mappingMode)
      case _ => false
    }
    require(ok,
      s"unsupported Delta protocol: table requires minReaderVersion=" +
        s"${st.minReader} (readerFeatures=${st.readerFeatures.toSeq.sorted
          .mkString(",")}) with columnMapping.mode=$mappingMode; this " +
        "reader implements protocol v1, name- and id-mode column " +
        "mapping and deletion vectors, and refuses the rest rather " +
        "than returning wrong rows")
    require(st.schemaJson.nonEmpty, s"no metaData action found in $table")
    st
  }

  /** `delta.columnMapping.physicalName` of a field (name-mode tables
    * store the stable physical parquet name in each field's metadata;
    * unmapped fields keep their logical name).
    */
  private[sources] def physName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** The schema as written in the parquet files of a name-mapped
    * table: every field (at every nesting level) renamed to its
    * physicalName.
    */
  private[sources] def toPhysical(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f =>
        f.copy(name = physName(f), dataType = toPhysical(f.dataType))))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = toPhysical(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = toPhysical(m.keyType),
        valueType = toPhysical(m.valueType))
    case other => other
  }

  /** The ID-mode read schema: every field (at every nesting level)
    * KEEPS its logical name but carries `parquet.field.id` =
    * `delta.columnMapping.id`, so Spark's parquet reader (with
    * `spark.sql.parquet.fieldId.read.enabled`) resolves the column
    * from the footer's field-ids regardless of its physical name —
    * the protocol's id-mode resolution rule. No physical→logical
    * remap is needed afterwards: the scan's output names ARE logical.
    */
  private[sources] def withFieldIds(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map { f =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        if (f.metadata.contains("delta.columnMapping.id"))
          mb.putLong("parquet.field.id",
            f.metadata.getLong("delta.columnMapping.id"))
        f.copy(metadata = mb.build(), dataType = withFieldIds(f.dataType))
      })
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = withFieldIds(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = withFieldIds(m.keyType),
        valueType = withFieldIds(m.valueType))
    case other => other
  }

  /** `add.path` as the name on disk: URI percent-decoding, applied
    * ONCE. A Hive-escaped partition directory such as
    * `ts=2024-01-01 09%3A00%3A00` is logged as
    * `ts=2024-01-01%2009%253A00%253A00` and keeps its `%3A`; a literal
    * `+` stays a `+` (URI decoding, not form decoding, which would
    * turn it into a space).
    */
  private[sources] def decodePath(rel: String): String =
    java.net.URLDecoder.decode(rel.replace("+", "%2B"), "UTF-8")

  /** Absolute on-disk path of an add entry's data file: `add.path` is
    * URL-encoded and relative to the table root, or absolute
    * ([[decodePath]]).
    */
  private[sources] def absPath(table: String, rel: String): String = {
    val decoded = decodePath(rel)
    val abs =
      if (decoded.startsWith("/") || decoded.contains("://")) decoded
      else Paths.get(table).toAbsolutePath.toString + "/" + decoded
    canonFile(abs)
  }

  /** A scanned row's file in [[absPath]]'s spelling, as a codegen
    * column expression (no Scala UDF): `_metadata.file_path` and
    * `input_file_name()` give the file's URI, so URI-decode it once (a
    * literal `+` stays a `+`, as in [[decodePath]]), then spell it as
    * [[canonFile]] does. Positions and per-file metadata join on it in
    * the Delta writers, the change feeds and the Iceberg readers.
    */
  private[sources] def canonPath(c: Column): Column =
    canonFile(url_decode(regexp_replace(c, "\\+", "%2B")))

  /** An Iceberg metadata path (manifest entry, position-delete
    * `file_path`, puffin `referenced-data-file`) in [[absPath]]'s
    * spelling. Iceberg names a file as it is on disk (a Hive-escaped
    * `a%25b` directory stays `a%25b`, a `c++` one stays `c++`), so
    * only the `file:` scheme goes and slashes squeeze: decoding it
    * would name a file that does not exist.
    */
  private[sources] def canonFile(p: String): String =
    p.replaceFirst("^file:/*", "/").replaceAll("/+", "/")

  /** [[canonFile]] as a column expression. */
  private[sources] def canonFile(c: Column): Column =
    regexp_replace(regexp_replace(c, "^file:/*", "/"), "/+", "/")

  /** The active-file frame of the snapshot: (file, one column per
    * partition key as STRING). Exposed for audits; `read` is the
    * data-facing API.
    */
  def activeFiles(
      spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val st = stateAt(spark, table, versionAsOf)
    filesFrame(spark, st, withAbsPaths(table, st.active.values.toSeq))
  }

  /** Each file's (absolute path, partition values). */
  private def withAbsPaths(
      table: String, files: Seq[AddFile]): Seq[(String, Map[String, String])] =
    files.map(a => absPath(table, a.path) -> a.partitionValues)

  /** (file, one STRING column per partition key) of `files` —
    * (absolute path, partition values) pairs. Name-mapped tables key
    * add.partitionValues by PHYSICAL name; the emitted columns stay
    * logical (physName = the logical name on unmapped tables, so
    * this is one code path).
    */
  private def filesFrame(
      spark: SparkSession, st: State,
      files: Seq[(String, Map[String, String])]): DataFrame = {
    import spark.implicits._
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    val physKeys = st.partitionCols.map(c =>
      schema.fields.find(_.name == c).map(physName).getOrElse(c))
    files
      .map { case (f, pv) => (f, physKeys.map(pv.getOrElse(_, null))) }
      .toDF("file", "pv")
      .select(
        col("file") +:
          st.partitionCols.zipWithIndex.map { case (c, i) =>
            col("pv").getItem(i).as(c)
          }: _*)
  }

  /** Read the table at `versionAsOf` (or latest) through the
    * `graft-delta` DataSourceV2 scan: columns in table-schema order,
    * partition values from the log at their declared types, deletion
    * vectors resolved per file on the executors, and filters on the
    * result pushed down to file skipping.
    */
  def read(
      spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val reader = spark.read.format("graft-delta")
    versionAsOf.fold(reader)(v => reader.option("versionAsOf", v))
      .load(table)
  }

  /** The active files that COULD hold a row with `column` ∈ [lo, hi]
    * — (kept, total) — by the same per-file admission the
    * `graft-delta` scan prunes with: add.stats min/max/nullCount and
    * exact partition values. Files without stats for the column are
    * kept (skipping is an optimization, never a correctness
    * decision); a file whose column is entirely null is dropped (a
    * range predicate never matches null). Driver-side metadata work
    * bounded by files-in-table.
    */
  def prunedFiles(
      spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any,
      versionAsOf: Option[Long] = None): (Seq[String], Int) = {
    val st = stateAt(spark, table, versionAsOf)
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    // column-mapped tables key add.stats by PHYSICAL name
    val physOf = schema.fields.map(f => f.name -> physName(f)).toMap
    val range =
      And(GreaterThanOrEqual(column, lo), LessThanOrEqual(column, hi))
    val kept = st.active.values.toSeq.filter(a =>
      FilterPrune.admits(
        DeltaDsv2.statsView(a, schema, st.partitionCols, physOf), range))
    (kept.map(_.path).sorted, st.active.size)
  }

  /** Log-level FILE SKIPPING read: `read(...)` filtered to `column` ∈
    * [lo, hi]. The filter pushes down into the `graft-delta` scan,
    * which plans only the [[prunedFiles]] and re-applies the filter
    * row by row — cost proportional to the files that can match. At
    * 100 TB this is THE scan lever: a z-ordered table answers a 2-D
    * range probe from a handful of files.
    */
  def readRange(
      spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any,
      versionAsOf: Option[Long] = None): DataFrame =
    read(spark, table, versionAsOf).filter(col(column).between(lo, hi))

  /** The live rows of `files` with their positions — what the
    * writers that author deletion vectors or rewrite files scan (the
    * DSv2 scan behind [[read]] does not expose positions). Each row
    * carries the `dataSchema` columns plus `__f` (its file, in
    * [[absPath]]'s spelling) and `__i` (its row index in that file);
    * rows a deletion vector deletes are anti-joined away through one
    * broadcast of the deleted (file, index) pairs, bounded by deleted
    * rows. `rowIds` names a row-tracking table's (row id, commit
    * version) columns: each row then carries both
    * ([[DeltaRowTracking.scanForRewrite]]).
    */
  private[sources] def livePositions(
      spark: SparkSession, table: String, files: Seq[AddFile],
      dataSchema: StructType, rowIds: Option[(String, String)]): DataFrame = {
    val scanned = rowIds match {
      case Some((ridCol, rvcCol)) =>
        DeltaRowTracking.scanForRewrite(
          spark, table, files, dataSchema, ridCol, rvcCol)
      case None =>
        positioned(spark, dataSchema, files.map(a => absPath(table, a.path)))
    }
    val deleted: Seq[(String, Long)] = files.flatMap(a =>
      a.dv.toSeq.flatMap(d =>
        DeltaDv.indexesOf(table, d).map(i => (absPath(table, a.path), i))))
    if (deleted.isEmpty) scanned
    else {
      import spark.implicits._
      scanned.join(broadcast(deleted.toDF("__df", "__di")),
        col("__f") === col("__df") && col("__i") === col("__di"),
        "left_anti")
    }
  }

  /** Every row of the parquet files at `paths` (absolute) under
    * `dataSchema`, plus `__f` (its file, in [[absPath]]'s spelling)
    * and `__i` (its row index in that file). Listing-free: the log's
    * exact file set is the listing (graftext.KnownFiles).
    */
  private[sources] def positioned(
      spark: SparkSession, dataSchema: StructType,
      paths: Seq[String]): DataFrame =
    KnownFiles.parquetFrame(spark, dataSchema, paths)
      .select(col("*"), canonPath(col("_metadata.file_path")).as("__f"),
        col("_metadata.row_index").as("__i"))

  /** `rows` (carrying `__f`) with `st`'s partition columns re-attached
    * at their declared types from `files` — (absolute path, partition
    * values) pairs — through one broadcast join on the file, bounded
    * by files.
    */
  private[sources] def withPartitions(
      spark: SparkSession, st: State, rows: DataFrame,
      files: Seq[(String, Map[String, String])]): DataFrame =
    if (st.partitionCols.isEmpty) rows
    else {
      val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
      val pv = filesFrame(spark, st, files).withColumnRenamed("file", "__pf")
      st.partitionCols.foldLeft(
        rows.join(broadcast(pv), col("__f") === col("__pf")).drop("__pf")) {
        (d, c) => d.withColumn(c, col(c).cast(schema(c).dataType))
      }
    }

  /** [[livePositions]] of every active file with the partition
    * columns re-attached ([[withPartitions]]): the table's live rows
    * plus `__f`/`__i`.
    */
  private[sources] def positionedScan(
      spark: SparkSession, table: String, st: State, dataSchema: StructType,
      rowIds: Option[(String, String)] = None): DataFrame = {
    val files = st.active.values.toSeq.sortBy(_.path)
    withPartitions(spark, st,
      livePositions(spark, table, files, dataSchema, rowIds),
      withAbsPaths(table, files))
  }

  /** The last `txn` version committed for `appId`, or None — the
    * reader half of Delta's exactly-once streaming handshake: a
    * restarted sink asks this before re-committing a replayed batch.
    */
  def lastTxnVersion(
      spark: SparkSession, table: String, appId: String): Option[Long] =
    stateAt(spark, table, None).txns.get(appId)

  /** Latest snapshot version of the table. */
  def version(spark: SparkSession, table: String): Long = {
    val dir = logDir(table)
    val entries = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toVector
      finally s.close()
    }
    (entries.filter(_.matches("\\d{20}\\.json")) ++
      entries.filter(n =>
        n.matches("\\d{20}\\.checkpoint(\\.\\d+\\.\\d+)?\\.parquet") ||
          n.matches("\\d{20}\\.checkpoint\\.[0-9a-fA-F][0-9a-fA-F-]{7,}\\.parquet")))
      .map(versionOf).maxOption
      .getOrElse(throw new IllegalStateException(s"empty _delta_log at $table"))
  }

  /** (version, commit timestamp ms) per JSON commit, timestamps
    * MONOTONIC-ADJUSTED the way delta-spark resolves timestamp time
    * travel: each commit's declared IN-COMMIT TIMESTAMP
    * (`commitInfo.inCommitTimestamp`, PROTOCOL.md — authoritative
    * when present: a log copied between object stores gets its file
    * mtimes rewritten, and resolving those would pick the WRONG
    * version on any foreign ICT table) falling back to the commit
    * FILE's modification time for pre-enablement/legacy commits, each
    * entry raised to at least its predecessor's (clock skew between
    * writers must not make a later version resolve earlier; the raise
    * also bridges the mtime→ICT enablement boundary). Commits cleaned
    * past a checkpoint are absent — timestamp travel only reaches
    * what the log retains.
    */
  private def commitTimeline(table: String): Seq[(Long, Long)] = {
    val dir = logDir(table)
    require(Files.isDirectory(dir), s"not a Delta table (no _delta_log): $table")
    val entries = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toVector
      finally s.close()
    }
    def ictOf(n: String): Option[Long] =
      Files.readAllLines(dir.resolve(n), StandardCharsets.UTF_8).asScala
        .filter(_.startsWith("""{"commitInfo""""))
        .flatMap { l =>
          val node = mapper.readTree(l)
          Option(node.get("commitInfo"))
            .flatMap(ci => Option(ci.get("inCommitTimestamp")))
            .map(_.asLong())
        }.headOption
    val raw = entries.filter(_.matches("\\d{20}\\.json")).sorted
      .map(n => versionOf(n) -> ictOf(n).getOrElse(
        Files.getLastModifiedTime(dir.resolve(n)).toMillis))
    var prev = Long.MinValue
    raw.map { case (v, t) =>
      prev = math.max(prev, t)
      (v, prev)
    }
  }

  /** The monotonic timestamp of the LATEST retained commit (0 when
    * none) — the floor the ICT enablement commit must clear.
    */
  private[sources] def lastCommitTimestamp(table: String): Long =
    commitTimeline(table).lastOption.map(_._2).getOrElse(0L)

  /** Resolve a timestamp to a version — the latest commit at or
    * before `timestampMs` (delta-spark's `timestampAsOf`). Before the
    * first retained commit or after the last: refused loudly with the
    * usable bounds, exactly the errors delta-spark raises.
    */
  def versionAtTimestamp(table: String, timestampMs: Long): Long = {
    val tl = commitTimeline(table)
    require(tl.nonEmpty,
      s"no JSON commits retained at $table: timestamp travel needs the log")
    require(timestampMs >= tl.head._2,
      s"timestamp $timestampMs is before the earliest retained commit " +
        s"(${tl.head._2}, version ${tl.head._1})")
    require(timestampMs <= tl.last._2,
      s"timestamp $timestampMs is after the latest commit " +
        s"(${tl.last._2}, version ${tl.last._1}): cannot time travel " +
        "to the future")
    tl.takeWhile(_._2 <= timestampMs).last._1
  }

  /** [[read]] at the version in effect at `timestampMs`. */
  def readAsOfTimestamp(
      spark: SparkSession, table: String, timestampMs: Long): DataFrame =
    read(spark, table, Some(versionAtTimestamp(table, timestampMs)))

  /** DESCRIBE HISTORY — one row per retained JSON commit:
    * (version, timestamp ms, operation), newest first like
    * delta-spark's. Operations come from each commit's `commitInfo`
    * (absent → null); timestamps are the monotonic-adjusted commit
    * times [[versionAtTimestamp]] resolves against, so history and
    * timestamp travel can never disagree.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    val dir = logDir(table)
    val ops = commitTimeline(table).map { case (v, t) =>
      val lines = Files.readAllLines(
        dir.resolve(f"$v%020d.json"), java.nio.charset.StandardCharsets.UTF_8)
      val op = lines.asScala.map(mapper.readTree)
        .find(_.has("commitInfo"))
        .flatMap(n => Option(n.get("commitInfo").get("operation")))
        .map(_.asText()).orNull
      (v, t, op)
    }.sortBy(-_._1)
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      ops.map { case (v, t, op) => Row(v, t, op) }.asJava,
      StructType(Seq(
        org.apache.spark.sql.types.StructField("version", LongType),
        org.apache.spark.sql.types.StructField("timestamp", LongType),
        org.apache.spark.sql.types.StructField("operation", StringType))))
  }
}
