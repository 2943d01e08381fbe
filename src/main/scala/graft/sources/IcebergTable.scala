package graft.sources

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Apache Iceberg table METADATA reader built from the OPEN Iceberg
  * table spec (iceberg.apache.org/spec: a `metadata/` directory of
  * `v<N>.metadata.json` files — the HadoopCatalog layout — each
  * naming a current snapshot whose avro manifest list references avro
  * manifest files that enumerate the data files) — no iceberg-spark
  * runtime dependency, which this offline environment cannot resolve.
  * With [[DeltaLog]]/[[DeltaExport]] this completes the two open
  * lakehouse formats' interop tier; [[IcebergExport]] is the write
  * side.
  *
  * This object resolves snapshots (by id, ref, timestamp or
  * `version-hint.text`/max-version discovery), schemas (Iceberg→Spark
  * type conversion, the schema history field-id resolution walks),
  * manifests (manifest-list or legacy v1 inline form, each with its
  * embedded write-time schema and partition spec), data-file entries
  * (partition values, bounds, sequence numbers, row lineage) and
  * delete-file entries (position, equality, v3 puffin deletion
  * vectors). Every read of DATA files goes through the
  * `graft-iceberg` DataSourceV2 scan
  * ([[graft.sources.dsv2.IcebergTableProvider]]); [[read]] and its
  * siblings are wrappers over it. Unsupported features fail LOUDLY
  * rather than return wrong rows: format-version > 3, non-parquet
  * file formats, type changes beyond the spec's promotions, equality
  * deletes whose key field-id left the current schema, and — for
  * out-of-spec manifests without an embedded schema — a sampled
  * data-file footer missing current-schema columns (a rename without
  * rewrite would name-resolve to silent nulls) all throw.
  *
  * Scale shape: manifest replay is driver-side metadata work bounded
  * by files-in-snapshot (the same state the Iceberg library's
  * planning keeps); avro decoding uses the file-embedded writer
  * schema (`GenericDatumReader`), so real manifests with optional
  * fields this reader doesn't know still decode.
  */
object IcebergTable {

  private val mapper = new ObjectMapper()

  private def metaDir(table: String): Path = Paths.get(table, "metadata")

  /** The newest `v<N>.metadata.json`. `version-hint.text` (when
    * present and valid) is a STARTING POINT, not the answer — the
    * HadoopTableOperations discipline probes FORWARD from it while the
    * next version file exists, so a hint gone stale under concurrent
    * writers (it is written non-atomically, after the commit) never
    * hides a committed version. A missing/garbled hint falls back to a
    * directory scan.
    */
  private[sources] def currentMetadataVersion(table: String): Int = {
    val dir = metaDir(table)
    require(Files.isDirectory(dir), s"not an Iceberg table (no metadata/): $table")
    val hint = dir.resolve("version-hint.text")
    val hinted =
      if (Files.isRegularFile(hint))
        scala.util.Try(
          new String(Files.readAllBytes(hint)).trim.toInt).toOption
          .filter(v => Files.isRegularFile(dir.resolve(s"v$v.metadata.json")))
      else None
    var v = hinted.getOrElse {
      val s = Files.list(dir)
      val vs =
        try s.iterator().asScala.map(_.getFileName.toString)
          .flatMap { n =>
            val m = "^v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(n)
            m.map(_.group(1).toInt)
          }.toVector
        finally s.close()
      vs.maxOption.getOrElse(
        throw new IllegalStateException(s"no v*.metadata.json under $dir"))
    }
    while (Files.isRegularFile(dir.resolve(s"v${v + 1}.metadata.json"))) v += 1
    v
  }

  private[sources] def metadataJson(table: String): JsonNode = {
    val v = currentMetadataVersion(table)
    val node = mapper.readTree(
      metaDir(table).resolve(s"v$v.metadata.json").toFile)
    val fv = node.get("format-version").asInt()
    require(fv <= 3,
      s"unsupported Iceberg format-version=$fv at $table: this reader " +
        "implements v1/v2/v3 (v3 incl. puffin deletion vectors and row " +
        "lineage) and refuses newer versions rather than returning " +
        "wrong rows")
    node
  }

  /** The current schema node: v2 `schemas` + `current-schema-id`,
    * falling back to v1's single `schema`. Evolved tables (a `schemas`
    * HISTORY) are read via FIELD-ID resolution through each manifest's
    * embedded writer schema — see [[read]].
    */
  private[sources] def schemaNodeOf(meta: JsonNode): JsonNode =
    if (meta.has("schemas")) {
      val cur = meta.get("current-schema-id").asInt()
      meta.get("schemas").elements().asScala
        .find(_.get("schema-id").asInt() == cur)
        .getOrElse(throw new IllegalStateException(
          s"current-schema-id=$cur not present in schemas"))
    } else meta.get("schema")

  /** The table schema as a Spark StructType. */
  private[sources] def schemaOf(meta: JsonNode): StructType =
    toSparkType(schemaNodeOf(meta)).asInstanceOf[StructType]

  /** Identity-transform partition fields of the DEFAULT spec, as
    * (partition field name, source column name, partition field-id)
    * with the source resolved by field-id against the current
    * schema's top-level columns. Non-identity transforms are skipped
    * (their source columns live in the data files); an identity
    * transform whose source-id is not a top-level column is refused
    * (nested partitioning is out of scope).
    */
  private[sources] def identityPartitionSources(
      meta: JsonNode): Seq[(String, String, Int)] = {
    val specFields: Seq[JsonNode] =
      if (meta.has("partition-specs")) {
        val defId =
          if (meta.has("default-spec-id")) meta.get("default-spec-id").asInt()
          else 0
        meta.get("partition-specs").elements().asScala
          .find(_.get("spec-id").asInt() == defId)
          .map(_.get("fields").elements().asScala.toSeq)
          .getOrElse(Nil)
      } else if (meta.has("partition-spec"))
        meta.get("partition-spec").elements().asScala.toSeq
      else Nil
    if (specFields.isEmpty) return Nil
    val idToName = schemaNodeOf(meta).get("fields").elements().asScala
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    specFields.flatMap { f =>
      f.get("transform").asText() match {
        case "identity" =>
          val sid = f.get("source-id").asInt()
          val src = idToName.getOrElse(sid,
            throw new IllegalStateException(
              s"identity partition source-id $sid is not a top-level " +
                "schema column (nested partitioning unsupported)"))
          Some((f.get("name").asText(), src,
            Option(f.get("field-id")).map(_.asInt()).getOrElse(-1)))
        case "void" => None
        case _ => None // bucket/day/...: source columns are in the files
      }
    }
  }

  /** Iceberg type JSON → Spark type. Primitive names per the spec's
    * "Primitive Types" table; nested types are JSON objects.
    */
  private[sources] def toSparkType(t: JsonNode): DataType =
    if (t.isTextual) {
      val s = t.asText()
      val dec = "^decimal\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)$".r
      val fixed = "^fixed\\[(\\d+)\\]$".r
      s match {
        case "boolean" => BooleanType
        case "int" => IntegerType
        case "long" => LongType
        case "float" => FloatType
        case "double" => DoubleType
        case "date" => DateType
        case "time" => LongType // micros since midnight; Spark has no TimeType
        case "timestamp" => TimestampNTZType
        case "timestamptz" => TimestampType
        case "string" => StringType
        case "uuid" => StringType
        case "binary" => BinaryType
        case dec(p, sc) => DecimalType(p.toInt, sc.toInt)
        case fixed(_) => BinaryType
        // v3 VARIANT (r16): the open variant binary encoding Spark's
        // VariantType natively reads/writes — UNSHREDDED columns
        // (a group of metadata+value binaries); shredded sub-columns
        // are a physical layout this reader does not attempt
        case "variant" => VariantType
        case other =>
          throw new IllegalStateException(s"unsupported Iceberg type: $other")
      }
    } else t.get("type").asText() match {
      case "struct" =>
        StructType(t.get("fields").elements().asScala.map { f =>
          StructField(
            f.get("name").asText(),
            toSparkType(f.get("type")),
            nullable = !f.get("required").asBoolean())
        }.toSeq)
      case "list" =>
        ArrayType(
          toSparkType(t.get("element")),
          containsNull = !t.get("element-required").asBoolean())
      case "map" =>
        MapType(
          toSparkType(t.get("key")),
          toSparkType(t.get("value")),
          valueContainsNull = !t.get("value-required").asBoolean())
      case other =>
        throw new IllegalStateException(s"unsupported Iceberg type: $other")
    }

  private[sources] def snapshotNode(meta: JsonNode, snapshotId: Option[Long]): JsonNode = {
    val snaps = Option(meta.get("snapshots"))
      .map(_.elements().asScala.toVector).getOrElse(Vector.empty)
    snapshotId match {
      case Some(id) =>
        snaps.find(_.get("snapshot-id").asLong() == id).getOrElse(
          throw new IllegalArgumentException(
            s"snapshot $id not found (expired or never existed)"))
      case None =>
        val cur = Option(meta.get("current-snapshot-id")).map(_.asLong())
          .filter(_ != -1L)
        cur.flatMap(id => snaps.find(_.get("snapshot-id").asLong() == id))
          .getOrElse(throw new IllegalStateException(
            "table has no current snapshot (empty table)"))
    }
  }

  /** The CURRENT snapshot node (the writer-side deleteWhere needs it
    * to enumerate the files the condition scans).
    */
  private[sources] def currentSnapshotNode(meta: JsonNode): JsonNode =
    snapshotNode(meta, None)

  /** Decode every record of an avro file with its embedded writer
    * schema (driver-side; manifests are metadata-sized).
    */
  private def avroRecords(path: String): Vector[GenericRecord] =
    avroRecordsWithMeta(path).records

  /** One manifest's records plus the key-value metadata the spec
    * requires every manifest to embed: the table schema AT WRITE TIME
    * (what field-id resolution resolves through) and the manifest's
    * OWN partition spec (what partition-value extraction must key on
    * — under partition evolution each manifest keeps the spec its
    * files were written with, NOT the table's current default).
    */
  private case class ManifestData(
      records: Vector[GenericRecord],
      schemaJson: Option[String],
      specJson: Option[String],
      specId: Option[Int],
      lineageMat: Option[Boolean] = None)

  /** Per-JVM parsed-manifest memo (r17 opt). Iceberg manifests and
    * manifest lists are IMMUTABLE once written (the spec's append-only
    * metadata model), so a (path, size, mtime) key can never serve a
    * stale parse — a rewritten-in-place file (out-of-spec, but tests
    * could) changes the key and simply misses. Planning a snapshot
    * re-read every manifest from disk per invocation: measured ~0.5 s
    * of driver time per read of the 336-file transform-partitioned
    * table, paid again by every changelog window that replays the
    * same snapshots. Bounded: cleared wholesale past 4096 entries
    * (manifests are metadata-sized; the cap only matters to
    * long-running test JVMs churning temp tables).
    */
  private val manifestMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), ManifestData]()

  private def avroRecordsWithMeta(path: String): ManifestData = {
    val f = new File(DeltaLog.canonFile(path))
    val key = (f.getAbsolutePath, f.length(), f.lastModified())
    val hit = manifestMemo.get(key)
    if (hit != null) return hit
    val reader = new DataFileReader[GenericRecord](
      f, new GenericDatumReader[GenericRecord]())
    val md =
      try ManifestData(
        reader.iterator().asScala.toVector,
        Option(reader.getMetaString("schema")),
        Option(reader.getMetaString("partition-spec")),
        Option(reader.getMetaString("partition-spec-id"))
          .flatMap(s => scala.util.Try(s.trim.toInt).toOption),
        Option(reader.getMetaString("graft.lineage-materialized"))
          .map(_ == "true"))
      finally reader.close()
    if (manifestMemo.size() > 4096) manifestMemo.clear()
    manifestMemo.put(key, md)
    md
  }

  private def str(r: GenericRecord, field: String): String =
    r.get(field).toString

  /** Field lookup that treats fields ABSENT from the writer schema as
    * null (avro 1.12's `Record.get(String)` throws instead) — v1
    * manifests simply lack the v2-only fields.
    */
  private def opt(r: GenericRecord, field: String): Option[AnyRef] =
    Option(r.getSchema.getField(field)).flatMap(f => Option(r.get(f.pos())))

  /** Typed avro partition value → Spark-castable string (dates come
    * back as ISO strings so `cast(string as date)` round-trips).
    * Resolution is BY FIELD-ID first (the `field-id` prop the spec
    * stamps on partition-struct fields — a renamed partition source
    * keeps its id while old manifests keep the old NAME), name as the
    * fallback for foreign manifests without the prop.
    */
  private def partValueString(
      rec: GenericRecord, field: String, fieldId: Int): Option[String] = {
    val f = rec.getSchema.getFields.asScala
      .find(f => Option(f.getObjectProp("field-id"))
        .map(_.toString).contains(fieldId.toString))
      .orElse(Option(rec.getSchema.getField(field)))
      .getOrElse(throw new IllegalStateException(
        s"manifest partition struct lacks field $field " +
          s"(field-id $fieldId) — cannot reconstruct the identity " +
          "partition column"))
    Option(rec.get(f.pos())).map { v =>
      val base = {
        val s = f.schema()
        if (s.getType == org.apache.avro.Schema.Type.UNION)
          s.getTypes.asScala.find(
            _.getType != org.apache.avro.Schema.Type.NULL).getOrElse(s)
        else s
      }
      val isDate = Option(base.getLogicalType).exists(_.getName == "date") ||
        Option(base.getProp("logicalType")).contains("date")
      if (isDate)
        java.time.LocalDate.ofEpochDay(v.toString.toLong).toString
      else v.toString
    }
  }

  private[sources] case class FileEntry(
      path: String,
      // partition values keyed by the file's OWN manifest spec's
      // field names (absent key ≠ null value: under partition
      // evolution an old-era file simply never had the field)
      pv: Map[String, Option[String]],
      writerSchemaJson: Option[String],
      records: Long = -1L,
      lower: Map[Int, Array[Byte]] = Map.empty,
      upper: Map[Int, Array[Byte]] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty,
      seq: Long = 0L,
      firstRowId: Option[Long] = None,
      // IDENTITY fields of the file's manifest spec, as (partition
      // field name, source field-id) — the columns that must
      // reconstruct from `pv` for THIS file (they are not in it)
      idFields: Seq[(String, Int)] = Nil,
      // TEMPORAL (day/month/year/hour) fields of the file's manifest
      // spec, as (partition field name, transform, source field-id):
      // monotonic, so their ordinals bound the source column's values
      temporalFields: Seq[(String, String, Int)] = Nil,
      // write-time record (manifest avro meta, r15): this file's
      // null-first_row_id entries carry materialized lineage columns
      // — true skips the footer probe; None = foreign manifest, probe
      lineageMat: Option[Boolean] = None)

  /** Decode the spec's int-keyed manifest map (avro array of
    * key/value records; real avro maps cannot key by int).
    */
  private def kvMap(v: Option[AnyRef]): Map[Int, AnyRef] = v match {
    case Some(c: java.util.Collection[_]) =>
      c.asScala.collect { case r: GenericRecord =>
        r.get("key").toString.toInt -> r.get("value")
      }.toMap
    case _ => Map.empty
  }

  private def byteArr(v: AnyRef): Array[Byte] = v match {
    case b: java.nio.ByteBuffer =>
      val d = new Array[Byte](b.remaining()); b.duplicate().get(d); d
    case a: Array[Byte] => a
    case other => other.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** (manifest path, content, sequence number) per manifest of a
    * snapshot — v2 manifest lists flag content 0=data, 1=deletes and
    * carry the manifest's sequence number (which its ADDED entries
    * inherit, the spec's inheritance rule); legacy inline manifests
    * are data at sequence 0 (the spec's v1-read-as-v2 rule).
    */
  private def manifestsWithContent(snap: JsonNode): Seq[(String, Int, Long)] =
    if (snap.has("manifest-list"))
      avroRecords(snap.get("manifest-list").asText()).map { m =>
        val content = opt(m, "content").map(_.toString.toInt).getOrElse(0)
        require(content <= 1,
          s"unknown manifest content=$content: refused rather than " +
            "returning wrong rows")
        val seq = opt(m, "sequence_number").map(_.toString.toLong).getOrElse(0L)
        (str(m, "manifest_path"), content, seq)
      }
    else if (snap.has("manifests")) // legacy v1 inline form
      snap.get("manifests").elements().asScala
        .map(p => (p.asText(), 0, 0L)).toSeq
    else throw new IllegalStateException(
      "snapshot has neither manifest-list nor manifests")

  /** (manifest path, content, partition-spec-id) per manifest of a
    * snapshot — the spec-id from the manifest-list row when present,
    * else the manifest's own embedded metadata, else 0. The
    * partition-evolution guards key on this.
    */
  private[sources] def manifestSpecIds(
      snap: JsonNode): Seq[(String, Int, Int)] =
    if (snap.has("manifest-list"))
      avroRecords(snap.get("manifest-list").asText()).map { m =>
        val content = opt(m, "content").map(_.toString.toInt).getOrElse(0)
        val fromList = opt(m, "partition_spec_id").map(_.toString.toInt)
        val path = str(m, "manifest_path")
        val specId = fromList.orElse(
          avroRecordsWithMeta(path).specId).getOrElse(0)
        (path, content, specId)
      }
    else manifestsWithContent(snap).map { case (p, c, _) =>
      (p, c, avroRecordsWithMeta(p).specId.getOrElse(0))
    }

  /** Data-file paths of the snapshot's manifests written under a
    * NON-default spec — the cross-era relayout's victim set
    * ([[IcebergExport.rewriteToCurrentSpec]]).
    */
  private[sources] def oldSpecDataFiles(
      snap: JsonNode, defaultSpecId: Int): Set[String] =
    manifestSpecIds(snap)
      .filter { case (_, content, specId) =>
        content == 0 && specId != defaultSpecId
      }
      .flatMap { case (mp, _, _) =>
        avroRecordsWithMeta(mp).records.flatMap { e =>
          if (e.get("status").toString.toInt == 2) None
          else Some(DeltaLog.canonFile(str(
            e.get("data_file").asInstanceOf[GenericRecord], "file_path")))
        }
      }.toSet

  /** One v2 merge-on-read delete file: content 1 = POSITION (parquet
    * of (file_path, pos) rows naming deleted positions), content 2 =
    * EQUALITY (parquet of deleted-key values; `equalityIds` names the
    * key columns by schema field-id). `seq` scopes equality deletes:
    * they delete matching rows only in data files with a STRICTLY
    * SMALLER sequence number (the spec's rule that makes blind CDC
    * deletes safe against later re-inserts).
    */
  private[sources] case class DeleteFile(
      path: String, content: Int, seq: Long, equalityIds: Seq[Int],
      format: String = "PARQUET",
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSize: Option[Long] = None)

  /** All delete files of a snapshot: position (parquet), equality,
    * and v3 puffin DELETION VECTORS (file_format=PUFFIN entries whose
    * `referenced_data_file`/`content_offset`/`content_size_in_bytes`
    * name one blob per referenced data file — several DV entries may
    * share one puffin PATH, so dedup keys on (path, offset)).
    */
  private[sources] def deleteFilesOf(
      table: String, meta: JsonNode, snap: JsonNode): Seq[DeleteFile] =
    manifestsWithContent(snap).filter(_._2 == 1)
      .flatMap { case (mp, _, listSeq) =>
        avroRecords(mp).flatMap { entry =>
          val status = entry.get("status").toString.toInt
          if (status == 2) None
          else {
            val df = entry.get("data_file").asInstanceOf[GenericRecord]
            val content = opt(df, "content").map(_.toString.toInt).getOrElse(0)
            require(content == 1 || content == 2,
              s"delete manifest entry with content=$content: malformed " +
                "data entries are refused rather than returning wrong rows")
            val seq = opt(entry, "sequence_number")
              .map(_.toString.toLong).getOrElse(listSeq)
            val eqIds = opt(df, "equality_ids") match {
              case Some(c: java.util.Collection[_]) =>
                c.asScala.map(_.toString.toInt).toSeq
              case _ => Nil
            }
            require(content == 1 || eqIds.nonEmpty,
              "equality delete file without equality_ids: refused " +
                "rather than guessing the key columns")
            val format = str(df, "file_format").toUpperCase
            val refFile = opt(df, "referenced_data_file").map(_.toString)
            require(format != "PUFFIN" || refFile.isDefined,
              "puffin deletion-vector entry without " +
                "referenced_data_file: refused rather than guessing")
            Some(DeleteFile(
              DeltaLog.canonFile(str(df, "file_path")), content, seq, eqIds,
              format, refFile.map(DeltaLog.canonFile),
              opt(df, "content_offset").map(_.toString.toLong),
              opt(df, "content_size_in_bytes").map(_.toString.toLong)))
          }
        }
      }.distinctBy(d => (d.path, d.contentOffset))

  /** POSITION-delete file paths of a snapshot (the path-targeted
    * subset; equality deletes live beside them in the same content=1
    * manifests — see [[deleteFilesOf]]).
    */
  private[sources] def positionDeleteFiles(
      table: String, meta: JsonNode, snap: JsonNode): Seq[String] =
    deleteFilesOf(table, meta, snap).filter(_.content == 1).map(_.path)

  /** Partition fields of the table's DEFAULT spec as
    * (name, transform, source-id, field-id) — the fallback when a
    * foreign manifest omits its embedded `partition-spec` metadata.
    */
  private def defaultSpecFields(
      meta: JsonNode): Seq[(String, String, Int, Int)] = {
    val specFields: Seq[JsonNode] =
      if (meta.has("partition-specs")) {
        val defId =
          if (meta.has("default-spec-id")) meta.get("default-spec-id").asInt()
          else 0
        meta.get("partition-specs").elements().asScala
          .find(_.get("spec-id").asInt() == defId)
          .map(_.get("fields").elements().asScala.toSeq)
          .getOrElse(Nil)
      } else if (meta.has("partition-spec"))
        meta.get("partition-spec").elements().asScala.toSeq
      else Nil
    specFields.map(f => (
      f.get("name").asText(), f.get("transform").asText(),
      f.get("source-id").asInt(),
      Option(f.get("field-id")).map(_.asInt()).getOrElse(-1)))
  }

  private[sources] def dataFilesWithPartitions(
      table: String, meta: JsonNode, snap: JsonNode): Seq[FileEntry] = {
    val manifests: Seq[(String, Long)] =
      manifestsWithContent(snap).filter(_._2 == 0).map(m => (m._1, m._3))
    val fallback = defaultSpecFields(meta)
    manifests.flatMap { case (mp, listSeq) =>
      val md = avroRecordsWithMeta(mp)
      val records = md.records
      val writerSchema = md.schemaJson
      // the manifest's OWN spec governs its partition structs; the
      // table's default spec is only a fallback for foreign manifests
      // without the (spec-required) embedded metadata
      val specFields: Seq[(String, String, Int, Int)] =
        md.specJson match {
          case Some(js) =>
            mapper.readTree(js).elements().asScala.toSeq.map(f => (
              f.get("name").asText(), f.get("transform").asText(),
              f.get("source-id").asInt(),
              Option(f.get("field-id")).map(_.asInt()).getOrElse(-1)))
          case None => fallback
        }
      val manifestIdFields: Seq[(String, Int)] = specFields
        .filter(_._2 == "identity").map(f => (f._1, f._3))
      val manifestTemporal: Seq[(String, String, Int)] = specFields
        .filter(f => Set("day", "month", "year", "hour")(f._2))
        .map(f => (f._1, f._2, f._3))
      records.flatMap { entry =>
        val status = entry.get("status").toString.toInt
        if (status == 2) None // DELETED: not part of this snapshot
        else {
          val df = entry.get("data_file").asInstanceOf[GenericRecord]
          val content = opt(df, "content").map(_.toString.toInt).getOrElse(0)
          require(content == 0,
            s"data_file with content=$content inside a DATA manifest: " +
              "refused as malformed")
          val fmt = str(df, "file_format").toUpperCase
          require(fmt == "PARQUET",
            s"unsupported file_format=$fmt (only PARQUET is wired)")
          // extract ALL the manifest spec's partition values (identity
          // fields reconstruct columns; temporal fields prune; the
          // rest are harmless) — driver metadata work per file entry
          val pv =
            if (specFields.isEmpty) Map.empty[String, Option[String]]
            else {
              val part = df.get("partition").asInstanceOf[GenericRecord]
              specFields.map { case (n, _, _, fid) =>
                n -> partValueString(part, n, fid)
              }.toMap
            }
          Some(FileEntry(
            DeltaLog.canonFile(str(df, "file_path")), pv, writerSchema,
            records = opt(df, "record_count")
              .map(_.toString.toLong).getOrElse(-1L),
            lower = kvMap(opt(df, "lower_bounds"))
              .map { case (k, v) => k -> byteArr(v) },
            upper = kvMap(opt(df, "upper_bounds"))
              .map { case (k, v) => k -> byteArr(v) },
            nullCounts = kvMap(opt(df, "null_value_counts"))
              .map { case (k, v) => k -> v.toString.toLong },
            seq = opt(entry, "sequence_number")
              .map(_.toString.toLong).getOrElse(listSeq),
            firstRowId = opt(df, "first_row_id").map(_.toString.toLong),
            idFields = manifestIdFields,
            temporalFields = manifestTemporal,
            lineageMat = md.lineageMat))
        }
      }
    }.distinctBy(_.path)
  }

  /** The data files a snapshot itself ADDED: entries with status 1
    * inside the data manifests whose `added_snapshot_id` is this
    * snapshot — the spec's append marker, valid from format-version 1
    * up (sequence numbers are v2-only). Feeds the streaming source's
    * per-snapshot tail batches.
    */
  private[sources] def addedDataFiles(
      table: String, meta: JsonNode, snap: JsonNode): Seq[FileEntry] = {
    val snapId = snap.get("snapshot-id").asLong()
    val addedPaths: Set[String] =
      (if (snap.has("manifest-list"))
        avroRecords(snap.get("manifest-list").asText())
          .filter(m => opt(m, "content")
            .map(_.toString.toInt).getOrElse(0) == 0)
          .filter(m => opt(m, "added_snapshot_id")
            .map(_.toString.toLong).contains(snapId))
          .map(m => str(m, "manifest_path"))
      else if (snap.has("manifests"))
        snap.get("manifests").elements().asScala.map(_.asText()).toSeq
      else Nil).toSet.flatMap { (mp: String) =>
        avroRecords(mp)
          .filter(_.get("status").toString.toInt == 1) // ADDED
          .map(e => DeltaLog.canonFile(str(
            e.get("data_file").asInstanceOf[GenericRecord], "file_path")))
      }
    dataFilesWithPartitions(table, meta, snap)
      .filter(e => addedPaths.contains(e.path))
  }

  /** Data-file paths of a snapshot (partition-value-free view, kept
    * for audits like the UniForm same-files assertion).
    */
  private[sources] def dataFilesOf(
      table: String, meta: JsonNode, snap: JsonNode): Seq[String] =
    dataFilesWithPartitions(table, meta, snap).map(_.path)

  /** Manifest paths one snapshot references (manifest-list or the
    * legacy inline form) — the expire-snapshots reference set.
    */
  private[sources] def manifestPathsOf(snap: JsonNode): Seq[String] =
    if (snap.has("manifest-list"))
      avroRecords(snap.get("manifest-list").asText())
        .map(m => str(m, "manifest_path"))
    else if (snap.has("manifests"))
      snap.get("manifests").elements().asScala.map(_.asText()).toSeq
    else Nil

  /** Snapshot ids in commit order (snapshot-log order when present,
    * else `snapshots` array order) — the time-travel index.
    */
  def snapshotIds(table: String): Seq[Long] = {
    val meta = metadataJson(table)
    if (meta.has("snapshot-log"))
      meta.get("snapshot-log").elements().asScala
        .map(_.get("snapshot-id").asLong()).toSeq
    else Option(meta.get("snapshots"))
      .map(_.elements().asScala.map(_.get("snapshot-id").asLong()).toSeq)
      .getOrElse(Nil)
  }

  /** Rename-without-rewrite detection (a bounded ONE-footer driver
    * read): the `graft-iceberg` scan resolves the parquet columns of a
    * manifest without an embedded schema by NAME, but the spec
    * requires field-id resolution — a real table whose column was
    * renamed in place would name-resolve to silent nulls. A sampled
    * data file whose footer lacks an expected column name fails
    * loudly instead.
    */
  private[sources] def requireFooterNames(
      spark: SparkSession, sample: String, expected: Seq[String]): Unit = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(sample),
        spark.sparkContext.hadoopConfiguration))
    val names =
      try reader.getFooter.getFileMetaData.getSchema
        .getFields.asScala.map(_.getName).toSet
      finally reader.close()
    val missing = expected.filterNot(names)
    require(missing.isEmpty,
      s"data file $sample lacks column(s) ${missing.mkString(", ")} " +
        "present in the table schema — a rename without rewrite; this " +
        "reader resolves columns by name (not field-id) and refuses " +
        "rather than returning null columns")
  }

  /** Whether a data file physically carries MATERIALIZED row-lineage
    * columns (`_row_id` / `_last_updated_sequence_number`) — what v3
    * lineage-preserving compaction writes for rewritten rows, whose
    * manifest `first_row_id` stays null (the spec: inheritance applies
    * only to rows WITHOUT materialized lineage). The `graft-iceberg`
    * scan asks only for v3 files with a null `first_row_id` whose
    * manifest lacks the write-time marker (a foreign writer's); one
    * bounded driver footer read per such file, cached per path (data
    * files are immutable).
    */
  private val matLineageCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Footer probes actually performed (cache misses) — spec-pinned to
    * ZERO on self-written tables (the manifest meta answers first).
    */
  private[sources] val lineageProbes =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private[sources] def footerHasLineage(
      spark: SparkSession, path: String): Boolean =
    matLineageCache.computeIfAbsent(path, { p: String =>
      lineageProbes.incrementAndGet()
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p),
          spark.sparkContext.hadoopConfiguration))
      try java.lang.Boolean.valueOf(
        reader.getFooter.getFileMetaData.getSchema
          .getFields.asScala.exists(_.getName == "_row_id"))
      finally reader.close()
    }).booleanValue()

  /** The spec's LOSSLESS primitive type promotions (int → long,
    * float → double, decimal precision widening at the same scale),
    * which Spark's parquet readers perform at decode; anything else —
    * narrowing, changed primitives — is refused loudly rather than
    * miscast.
    */
  private[sources] def promotable(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (a, b) if a == b => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision >= a.precision
      case _ => false
    }

  /** Writer nested field matching one current field — by id when both
    * sides carry ids (the spec requires them), by name otherwise.
    */
  private[sources] def writerNestedField(
      wt: JsonNode, cf: JsonNode): Option[JsonNode] = {
    val wfs = wt.get("fields").elements().asScala.toSeq
    (Option(cf.get("id")) match {
      case Some(id) =>
        wfs.find(w => Option(w.get("id")).exists(_.asInt() == id.asInt()))
      case None => None
    }).orElse(wfs.find(_.get("name").asText() == cf.get("name").asText()))
  }

  /** By-ID structural promotability — [[promotable]] generalized to
    * nested REORDERS and nested adds/drops: every current nested
    * field either matches a writer field by id (recursively
    * remappable, incl. the spec's lossless primitive promotions) or
    * reads null (added after this era). What an era of the
    * `graft-iceberg` scan may read a writer-era column as.
    */
  private[sources] def remappable(wt: JsonNode, ct: JsonNode): Boolean =
    if (wt.isTextual || ct.isTextual)
      wt.isTextual && ct.isTextual &&
        promotable(toSparkType(wt), toSparkType(ct))
    else (wt.get("type").asText(), ct.get("type").asText()) match {
      case ("struct", "struct") =>
        ct.get("fields").elements().asScala.forall { cf =>
          writerNestedField(wt, cf)
            .forall(wf => remappable(wf.get("type"), cf.get("type")))
        }
      case ("list", "list") =>
        remappable(wt.get("element"), ct.get("element"))
      case ("map", "map") =>
        remappable(wt.get("key"), ct.get("key")) &&
          remappable(wt.get("value"), ct.get("value"))
      case _ => false
    }

  /** Read the table at `snapshotId` (or the current snapshot)
    * through the `graft-iceberg` DataSourceV2 scan, pinned to that
    * snapshot when the frame is made. Columns appear in the
    * snapshot's schema order with Iceberg-declared types; schema
    * evolution resolves by FIELD-ID per write-time era, identity
    * partition columns attach from the manifests, deletes apply per
    * file on the executors, and filters on the result prune files
    * ([[graft.sources.dsv2.IcebergTableProvider]]). The scan's
    * metadata columns `_file`, `_pos`, `_row_id` and
    * `_last_updated_sequence_number` are selectable on the result.
    */
  def read(
      spark: SparkSession, table: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val reader = spark.read.format("graft-iceberg")
    snapshotId.fold(reader)(id => reader.option("snapshotId", id))
      .load(table)
  }

  /** Named snapshot refs of the table (`refs` metadata map):
    * ref name → (snapshot id, "branch" | "tag"). `main` is implicit
    * (current-snapshot-id), per the spec.
    */
  def refs(table: String): Map[String, (Long, String)] =
    IcebergExport.refsOf(metadataJson(table))
      .view.mapValues(r => (r.snapshotId, r.tpe)).toMap

  /** Read the table AT A NAMED REF — `VERSION AS OF 'name'` for
    * branches and tags; `"main"` reads the current snapshot.
    */
  def readRef(
      spark: SparkSession, table: String, ref: String): DataFrame =
    if (ref == "main") read(spark, table)
    else {
      val (id, _) = refs(table).getOrElse(ref,
        throw new IllegalArgumentException(
          s"no branch or tag named $ref on $table"))
      read(spark, table, Some(id))
    }

  /** The snapshot-log as (made-current timestamp ms, snapshot id) in
    * commit order — rollbacks APPEND an entry for the re-current
    * snapshot, so the log records every time a snapshot held `main`.
    */
  def snapshotLog(table: String): Seq[(Long, Long)] = {
    val meta = metadataJson(table)
    if (meta.has("snapshot-log"))
      meta.get("snapshot-log").elements().asScala
        .map(e => (e.get("timestamp-ms").asLong(),
          e.get("snapshot-id").asLong())).toSeq
    else Option(meta.get("snapshots"))
      .map(_.elements().asScala.map(s =>
        (s.get("timestamp-ms").asLong(),
          s.get("snapshot-id").asLong())).toSeq)
      .getOrElse(Nil)
  }

  /** Resolve a timestamp to the snapshot current AT that time — the
    * latest snapshot-log entry at or before `timestampMs` (the
    * spec's time-travel rule; rollback entries resolve to the
    * ROLLED-BACK-TO snapshot for times after the rollback). Before
    * the first entry: refused loudly.
    */
  def snapshotAtTimestamp(table: String, timestampMs: Long): Long = {
    val log = snapshotLog(table)
    require(log.nonEmpty, s"$table has no snapshots")
    require(timestampMs >= log.head._1,
      s"timestamp $timestampMs is before the table's first snapshot " +
        s"(${log.head._1})")
    log.takeWhile(_._1 <= timestampMs).last._2
  }

  /** [[read]] at the snapshot current at `timestampMs` —
    * `TIMESTAMP AS OF`. */
  def readAsOfTimestamp(
      spark: SparkSession, table: String, timestampMs: Long): DataFrame =
    read(spark, table, Some(snapshotAtTimestamp(table, timestampMs)))

  /** Iceberg METADATA TABLES — the `table$kind` inspection surface
    * every production deployment queries (debugging a slow scan,
    * auditing retention, sizing compaction). Driver-built
    * metadata-sized frames, the same planning state the reader
    * already holds:
    *  - `snapshots`: committed_at ms, snapshot_id, parent_id,
    *    operation, manifest_list
    *  - `history`: made_current_at ms, snapshot_id, parent_id,
    *    is_current_ancestor (rollback entries included — the audit
    *    trail for "what was current when")
    *  - `files`: content (0 data / 1 position deletes / 2 equality
    *    deletes), file_path, file_format, record_count,
    *    sequence_number, partition map
    *  - `manifests`: content, path, sequence_number
    *  - `refs`: name, type, snapshot_id (`main` included)
    *  - `partitions`: partition map, record_count, file_count over
    *    the CURRENT snapshot's live data files
    */
  def metadataTable(
      spark: SparkSession, table: String, kind: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val meta = metadataJson(table)
    def snapsById: Map[Long, JsonNode] = Option(meta.get("snapshots")).toSeq
      .flatMap(_.elements().asScala)
      .map(s => s.get("snapshot-id").asLong() -> s).toMap
    kind match {
      case "snapshots" =>
        val rows = Option(meta.get("snapshots")).toSeq
          .flatMap(_.elements().asScala).map { s =>
            Row(s.get("timestamp-ms").asLong(),
              s.get("snapshot-id").asLong(),
              Option(s.get("parent-snapshot-id"))
                .map(n => java.lang.Long.valueOf(n.asLong())).orNull,
              Option(s.get("summary"))
                .flatMap(x => Option(x.get("operation")).map(_.asText()))
                .orNull,
              Option(s.get("manifest-list")).map(_.asText()).orNull)
          }
        spark.createDataFrame(rows.asJava, StructType(Seq(
          StructField("committed_at", LongType),
          StructField("snapshot_id", LongType),
          StructField("parent_id", LongType),
          StructField("operation", StringType),
          StructField("manifest_list", StringType))))
      case "history" =>
        val byId = snapsById
        val current = Option(meta.get("current-snapshot-id"))
          .map(_.asLong()).filter(_ != -1L)
        val ancestors: Set[Long] = {
          var s = Set.empty[Long]
          var at = current
          while (at.isDefined) {
            s += at.get
            at = byId.get(at.get)
              .flatMap(n => Option(n.get("parent-snapshot-id")).map(_.asLong()))
          }
          s
        }
        val rows = snapshotLog(table).map { case (ts, id) =>
          Row(ts, id,
            byId.get(id)
              .flatMap(n => Option(n.get("parent-snapshot-id"))
                .map(x => java.lang.Long.valueOf(x.asLong()))).orNull,
            ancestors.contains(id))
        }
        spark.createDataFrame(rows.asJava, StructType(Seq(
          StructField("made_current_at", LongType),
          StructField("snapshot_id", LongType),
          StructField("parent_id", LongType),
          StructField("is_current_ancestor", BooleanType))))
      case "files" =>
        val snap = currentSnapshotNode(meta)
        val data = dataFilesWithPartitions(table, meta, snap)
          .map(e => Row(0, e.path, "PARQUET", e.records, e.seq,
            e.pv.map { case (k, v) => k -> v.orNull }))
        val dels = deleteFilesOf(table, meta, snap)
          .map(d => Row(d.content, d.path, d.format, -1L, d.seq,
            Map.empty[String, String]))
        spark.createDataFrame((data ++ dels).asJava, StructType(Seq(
          StructField("content", IntegerType),
          StructField("file_path", StringType),
          StructField("file_format", StringType),
          StructField("record_count", LongType),
          StructField("sequence_number", LongType),
          StructField("partition", MapType(StringType, StringType)))))
      case "manifests" =>
        val snap = currentSnapshotNode(meta)
        val rows = manifestsWithContent(snap)
          .map { case (p, c, s) => Row(c, p, s) }
        spark.createDataFrame(rows.asJava, StructType(Seq(
          StructField("content", IntegerType),
          StructField("path", StringType),
          StructField("sequence_number", LongType))))
      case "refs" =>
        val current = Option(meta.get("current-snapshot-id"))
          .map(_.asLong()).filter(_ != -1L)
        val named = refs(table)
        val rows = (named.toSeq.map { case (n, (id, t)) =>
          Row(n, t, id)
        } ++ (if (named.contains("main")) Nil
        else current.map(id => Row("main", "branch", id)).toSeq))
          .sortBy(_.getString(0))
        spark.createDataFrame(rows.asJava, StructType(Seq(
          StructField("name", StringType),
          StructField("type", StringType),
          StructField("snapshot_id", LongType))))
      case "partitions" =>
        val snap = currentSnapshotNode(meta)
        val rows = dataFilesWithPartitions(table, meta, snap)
          .groupBy(_.pv).toSeq
          .map { case (pv, files) =>
            Row(pv.map { case (k, v) => k -> v.orNull },
              files.map(f => math.max(f.records, 0L)).sum,
              files.size)
          }
        spark.createDataFrame(rows.asJava, StructType(Seq(
          StructField("partition", MapType(StringType, StringType)),
          StructField("record_count", LongType),
          StructField("file_count", IntegerType))))
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' (snapshots, history, files, " +
          "manifests, refs, partitions)")
    }
  }

  /** MANIFEST-level file skipping — (kept, total): the data files of
    * the snapshot that COULD hold a row with `column` ∈ [lo, hi], by
    * the same per-file admission the `graft-iceberg` scan prunes with
    * (manifest bounds, null counts, identity-partition values and
    * temporal-transform ordinals of each file's own spec era). Files
    * without metadata for the column are kept (skipping is an
    * optimization, never a correctness decision).
    */
  def prunedDataFiles(
      table: String, column: String, lo: Any, hi: Any,
      snapshotId: Option[Long] = None): (Seq[String], Int) = {
    val p = dsv2.IcebergDsv2.plan(SparkSession.active, table,
      snapshotId.map(id => "snapshotid" -> id.toString).toMap)
    require(p.schema.fieldNames.contains(column),
      s"no top-level column $column to prune on")
    val range = org.apache.spark.sql.sources.And(
      org.apache.spark.sql.sources.GreaterThanOrEqual(column, lo),
      org.apache.spark.sql.sources.LessThanOrEqual(column, hi))
    val kept = p.entries.filter(e =>
      dsv2.FilterPrune.admits(dsv2.IcebergDsv2.statsView(e, p), range))
    (kept.map(_.path).sorted, p.entries.size)
  }

  /** FILE-SKIPPING read: `read(...)` filtered to `column` ∈ [lo, hi].
    * The filter pushes down into the `graft-iceberg` scan, which plans
    * only the [[prunedDataFiles]] and re-applies the filter row by row
    * (the [[DeltaLog.readRange]] twin).
    */
  def readRange(
      spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any, snapshotId: Option[Long] = None): DataFrame =
    read(spark, table, snapshotId).filter(col(column).between(lo, hi))

  /** [[read]] plus the v3 ROW LINEAGE columns: `_row_id` (a
    * materialized value in files lineage-preserving compaction wrote,
    * otherwise the file's `first_row_id` + the row's in-file position;
    * null for files written before the table carried lineage) and
    * `_last_updated_sequence_number` (materialized, otherwise the
    * file's data sequence number). Deletes apply as in any read;
    * surviving rows keep their ids.
    */
  def readLineage(
      spark: SparkSession, table: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val df = read(spark, table, snapshotId)
    df.select(df.columns.map(col) ++
      Seq(col("_row_id"), col("_last_updated_sequence_number")): _*)
  }
}
