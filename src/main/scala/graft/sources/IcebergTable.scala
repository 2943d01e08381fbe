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

/** Read-only Apache Iceberg table reader built from the OPEN Iceberg
  * table spec (iceberg.apache.org/spec: a `metadata/` directory of
  * `v<N>.metadata.json` files — the HadoopCatalog layout — each
  * naming a current snapshot whose avro manifest list references avro
  * manifest files that enumerate the data files) — no iceberg-spark
  * runtime dependency, which this offline environment cannot resolve.
  * With [[DeltaLog]]/[[DeltaExport]] this completes the two open
  * lakehouse formats' interop tier; [[IcebergExport]] is the write
  * side.
  *
  * Supported: format-version 1 and 2 READS — current or
  * time-traveled snapshot by snapshot-id, manifest-list or (legacy
  * v1) inline-manifests snapshots, multi-manifest snapshots,
  * `version-hint.text` or max-version discovery, Iceberg→Spark schema
  * conversion (primitives, struct/list/map, decimal, fixed), SCHEMA
  * EVOLUTION resolved by FIELD-ID through each manifest's embedded
  * write-time schema (see [[read]]) incl. the spec's lossless type
  * promotions, v2 POSITION deletes applied as a broadcast anti-join
  * on (canonical path, `_metadata.row_index`), v2 EQUALITY deletes
  * (content=2 — what CDC writers like Flink emit) applied as
  * broadcast anti-joins on the `equality_ids` key columns scoped by
  * SEQUENCE NUMBER (a delete hits only data files with a strictly
  * smaller data sequence number, the spec's rule), and
  * manifest-bounds file skipping ([[prunedDataFiles]]/[[readRange]]).
  * IDENTITY-partition source columns are materialized from the
  * manifests' typed partition structs as per-file constants — exactly
  * Iceberg's own `PartitionUtil.constantsMap` read path — via ONE
  * broadcast equi-join on the scan's canonical file path, so
  * [[IcebergExport]]'s hive-staged tables, UniForm-converted Delta
  * tables, and Hive-migrated tables (none of which carry the source
  * columns in their data files) all read correctly; non-identity
  * transforms need no reconstruction (Iceberg always writes their
  * source columns into the files). Unsupported features fail LOUDLY
  * rather than return wrong rows: format-version ≥ 3, non-parquet
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
  * fields this reader doesn't know still decode. The DATA read is one
  * `spark.read.parquet` over the snapshot's file set — distributed
  * scan, schema projection pushed down.
  */
object IcebergTable {

  private val mapper = new ObjectMapper()

  private def metaDir(table: String): Path = Paths.get(table, "metadata")

  /** Strip a `file:` scheme — manifests written by real engines carry
    * absolute URIs; ours carry absolute paths.
    */
  private def local(uri: String): String =
    uri.replaceFirst("^file:/*", "/")

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
    val f = new File(local(path))
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
          else Some(str(
            e.get("data_file").asInstanceOf[GenericRecord], "file_path"))
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
              local(str(df, "file_path")), content, seq, eqIds,
              format, refFile.map(local),
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
            local(str(df, "file_path")), pv, writerSchema,
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
          .map(e => local(str(
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
    * read): parquet columns are resolved by NAME below, but the spec
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

  /** The literal a schema field's `initial-default` (v3 column
    * defaults) assigns to rows predating the column — typed per the
    * field; null when no default is declared. Unsupported default
    * types refuse loudly rather than silently nulling (the
    * wrong-rows failure this reader's contract forbids).
    */
  private def initialDefaultLit(
      cf: JsonNode, dt: DataType): org.apache.spark.sql.Column =
    Option(cf.get("initial-default")).filterNot(_.isNull) match {
      case None => lit(null).cast(asNullableType(dt))
      case Some(v) =>
        val l = dt match {
          case LongType => lit(v.asLong())
          case IntegerType => lit(v.asInt())
          case DoubleType => lit(v.asDouble())
          case FloatType => lit(v.floatValue())
          case StringType => lit(v.asText())
          case BooleanType => lit(v.asBoolean())
          case d: DecimalType => lit(new java.math.BigDecimal(v.asText()))
          case other => throw new IllegalArgumentException(
            s"initial-default on unsupported type $other: refused " +
              "rather than returning nulls for defaulted rows")
        }
        l.cast(asNullableType(dt))
    }

  /** Whether a data file physically carries MATERIALIZED row-lineage
    * columns (`_row_id` / `_last_updated_sequence_number`) — what v3
    * lineage-preserving compaction writes for rewritten rows, whose
    * manifest `first_row_id` stays null (the spec: inheritance applies
    * only to rows WITHOUT materialized lineage). One bounded driver
    * footer read per candidate file — probed only for v3 files with a
    * null `first_row_id` on lineage reads — cached per path (data
    * files are immutable).
    */
  private val matLineageCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Footer probes actually performed (cache misses) — spec-pinned to
    * ZERO on self-written tables (the manifest meta answers first).
    */
  private[sources] val lineageProbes =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private def footerHasLineage(spark: SparkSession, path: String): Boolean =
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

  /** Structural compatibility ignoring field NAMES (renames are the
    * point of field-id resolution), admitting exactly the spec's
    * LOSSLESS type promotions (int → long, float → double, decimal
    * precision widening at the same scale — the cast below is then
    * value-preserving); anything else — narrowing, reshapes, changed
    * primitives — is refused loudly rather than miscast.
    */
  private[sources] def promotable(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (a, b) if a == b => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision >= a.precision
      case (x: StructType, y: StructType) =>
        x.fields.length == y.fields.length &&
          x.fields.zip(y.fields).forall { case (f, g) =>
            promotable(f.dataType, g.dataType)
          }
      case (x: ArrayType, y: ArrayType) =>
        promotable(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        promotable(x.keyType, y.keyType) &&
          promotable(x.valueType, y.valueType)
      case _ => false
    }

  /** NESTED alignment check choosing between the two evolved-read
    * strategies below: the structurally-identical cast renames nested
    * struct fields BY POSITION, which is only value-correct when the
    * writer's and the current schema's nested fields pair up by
    * FIELD-ID in the same order — the overwhelmingly common case, and
    * codegen-friendly (one cast). When they DON'T (a foreign table
    * whose nested struct fields were reordered across schema eras —
    * two same-typed fields swapped would otherwise silently SWAP
    * VALUES), [[remapByIds]] rebuilds the nested value field-by-field
    * instead. Ids compare when both sides carry them (the spec
    * requires them); names are the fallback for out-of-spec nodes.
    */
  private[sources] def nestedAligned(wt: JsonNode, ct: JsonNode): Boolean =
    if (wt.isTextual || ct.isTextual) true // primitives: promotable() rules
    else (wt.get("type").asText(), ct.get("type").asText()) match {
      case ("struct", "struct") =>
        val wf = wt.get("fields").elements().asScala.toSeq
        val cf = ct.get("fields").elements().asScala.toSeq
        wf.length == cf.length && wf.zip(cf).forall { case (w, c) =>
          val idsOk = (Option(w.get("id")), Option(c.get("id"))) match {
            case (Some(a), Some(b)) => a.asInt() == b.asInt()
            case _ => w.get("name").asText() == c.get("name").asText()
          }
          idsOk && nestedAligned(w.get("type"), c.get("type"))
        }
      case ("list", "list") =>
        nestedAligned(wt.get("element"), ct.get("element"))
      case ("map", "map") =>
        nestedAligned(wt.get("key"), ct.get("key")) &&
          nestedAligned(wt.get("value"), ct.get("value"))
      case _ => true // shape mismatch: promotable() refuses it anyway
    }

  /** Writer nested field matching one current field — by id when both
    * sides carry ids (the spec requires them), by name otherwise.
    */
  private def writerNestedField(
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
    * reads null (added after this era). The guard for [[remapByIds]].
    */
  private def remappable(wt: JsonNode, ct: JsonNode): Boolean =
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

  /** Full NESTED BY-ID projection (r13): rebuild an evolved nested
    * value field-by-field so reordered/renamed/added/dropped nested
    * fields resolve by FIELD-ID exactly like top-level columns —
    * struct fields look up their writer-era counterpart by id (null
    * when added later), lists remap per element via `transform`, maps
    * per key/value. Used only when [[nestedAligned]] fails; the
    * aligned fast path stays a single cast.
    */
  private def remapByIds(
      e: org.apache.spark.sql.Column, wt: JsonNode,
      ct: JsonNode): org.apache.spark.sql.Column = {
    val target = asNullableType(toSparkType(ct))
    if (wt.isTextual || ct.isTextual) {
      if (toSparkType(wt) == toSparkType(ct)) e else e.cast(target)
    } else (wt.get("type").asText(), ct.get("type").asText()) match {
      case ("struct", "struct") =>
        val parts = ct.get("fields").elements().asScala.toSeq.map { cf =>
          val cName = cf.get("name").asText()
          writerNestedField(wt, cf) match {
            case Some(wf) =>
              remapByIds(e.getField(wf.get("name").asText()),
                wf.get("type"), cf.get("type")).as(cName)
            case None =>
              lit(null).cast(asNullableType(toSparkType(cf.get("type"))))
                .as(cName)
          }
        }
        // a null input struct must stay null (struct() of nulls isn't)
        when(e.isNotNull, struct(parts: _*).cast(target))
      case ("list", "list") =>
        transform(e, x =>
          remapByIds(x, wt.get("element"), ct.get("element"))).cast(target)
      case ("map", "map") =>
        map_from_arrays(
          transform(map_keys(e), k =>
            remapByIds(k, wt.get("key"), ct.get("key"))),
          transform(map_values(e), v =>
            remapByIds(v, wt.get("value"), ct.get("value")))).cast(target)
      case _ => throw new IllegalStateException(
        s"unremappable shape change (guarded by remappable): $wt → $ct")
    }
  }

  /** Fully-nullable rendering of a type — file sources force nullable
    * output, so cast TARGETS must not demand non-null (a cast to a
    * non-null array element is unresolvable even when types match).
    */
  private def asNullableType(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f =>
        f.copy(dataType = asNullableType(f.dataType), nullable = true)))
    case a: ArrayType =>
      ArrayType(asNullableType(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asNullableType(m.keyType), asNullableType(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  /** Read the table at `snapshotId` (or the current snapshot).
    * Columns appear in CURRENT-schema order with Iceberg-declared
    * types. SCHEMA EVOLUTION (r12) is resolved the way the spec
    * demands — by FIELD-ID, not name: every manifest embeds the table
    * schema at write time (`schema` avro metadata, required by the
    * spec), so each group of data files is read under ITS OWN
    * physical column names (current field-id → that era's name) and
    * remapped to current names; a column added after a manifest was
    * written reads as null there, a renamed column resolves to its
    * old physical name, a dropped column is simply not projected.
    * Groups = DISTINCT historical schemas (a handful on any real
    * table), unioned by name. Manifests WITHOUT the embedded schema
    * (out-of-spec) fall back to name resolution guarded by the
    * footer check. Identity-partition source columns are materialized
    * from the manifests' partition structs (see the object Scaladoc)
    * via one broadcast join on the file path.
    */
  def read(
      spark: SparkSession, table: String,
      snapshotId: Option[Long] = None): DataFrame =
    readCore(spark, table, snapshotId, None)

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

  /** [[read]] restricted to the given data files, deletes still
    * applied — the MoR-resolved row view compaction rewrites.
    */
  private[sources] def readKeep(
      spark: SparkSession, table: String, keep: Set[String]): DataFrame =
    readCore(spark, table, None, Some(keep))

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

  /** MANIFEST-level file skipping — (kept, total): the data files
    * whose spec bounds (`lower_bounds`/`upper_bounds`, decoded per
    * [[IcebergBounds]]) or identity-partition VALUE could admit a row
    * with `column` ∈ [lo, hi]. Files without bounds for the column
    * are kept (skipping is an optimization, never a correctness
    * decision); all-null files (null_value_counts == record_count)
    * and out-of-range partition values drop. Driver-side metadata
    * work bounded by files-in-snapshot — exactly the pruning
    * Iceberg's own planning does before a scan task is ever created.
    */
  /** ALL default-spec partition fields as (name, transform,
    * source-id, partition-field-id) — temporal-transform pruning
    * needs the non-identity ones [[identityPartitionSources]] skips.
    */
  private def allPartitionFields(
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

  /** The TEMPORAL transforms' int ordinal of a probe bound — these
    * transforms are MONOTONIC, so a value range maps to an ordinal
    * range and partition values prune exactly like identity values
    * (bucket/truncate are not monotonic and never prune ranges).
    */
  private def temporalOrdinal(transform: String, v: Any): Option[Long] = {
    import java.time._
    val utc = ZoneOffset.UTC
    val zdt: Option[ZonedDateTime] = v match {
      case t: java.sql.Timestamp => Some(t.toInstant.atZone(utc))
      case d: java.sql.Date => Some(d.toLocalDate.atStartOfDay(utc))
      case d: LocalDate => Some(d.atStartOfDay(utc))
      case d: LocalDateTime => Some(d.atZone(utc))
      case i: Instant => Some(i.atZone(utc))
      case s: String =>
        scala.util.Try(LocalDate.parse(s).atStartOfDay(utc)).toOption
          .orElse(scala.util.Try(Instant.parse(s).atZone(utc)).toOption)
      case _ => None
    }
    zdt.flatMap { z =>
      transform match {
        case "day" => Some(z.toLocalDate.toEpochDay)
        case "month" =>
          Some((z.getYear - 1970).toLong * 12 + z.getMonthValue - 1)
        case "year" => Some((z.getYear - 1970).toLong)
        case "hour" =>
          Some(Math.floorDiv(z.toInstant.getEpochSecond, 3600L))
        case _ => None
      }
    }
  }

  def prunedDataFiles(
      table: String, column: String, lo: Any, hi: Any,
      snapshotId: Option[Long] = None): (Seq[String], Int) = {
    val meta = metadataJson(table)
    val schemaNode = schemaNodeOf(meta)
    val snap = snapshotNode(meta, snapshotId)
    val idParts = identityPartitionSources(meta)
    val field = schemaNode.get("fields").elements().asScala
      .find(_.get("name").asText() == column)
      .getOrElse(throw new IllegalArgumentException(
        s"no top-level column $column to prune on"))
    val fid = field.get("id").asInt()
    val dt = toSparkType(field.get("type"))
    // temporal transform fields over THIS column, with their probe
    // ordinal ranges (None when the bound doesn't parse → no pruning)
    val temporal = allPartitionFields(meta)
      .filter(f => f._3 == fid &&
        Set("day", "month", "year", "hour")(f._2))
      .flatMap { case (pfName, transform, _, pfId) =>
        for {
          l <- temporalOrdinal(transform, lo)
          h <- temporalOrdinal(transform, hi)
        } yield (pfName, pfId, l, h)
      }
    val entries = dataFilesWithPartitions(table, meta, snap)
    val total = entries.size
    // bounds in the value domain — when the probe type has no bound
    // encoding (e.g. timestamps), identity/temporal partition pruning
    // below still applies; only the min/max check degrades to keep
    val (loB, hiB) = (IcebergBounds.bound(dt, lo), IcebergBounds.bound(dt, hi))
    def rawVal(raw: String): Option[Any] = dt match {
      case DateType =>
        scala.util.Try(java.time.LocalDate.parse(raw)).toOption
      case StringType => Some(raw)
      case BooleanType => scala.util.Try(raw.toBoolean).toOption
      case _ => scala.util.Try(BigDecimal(raw)).toOption
    }
    val asPart = idParts.find(_._2 == column)
    val kept = entries.filter { e =>
      // ABSENT key ≠ null value: a file written under an OLDER spec
      // (partition evolution) never had the field — no metadata to
      // prune on, so it must be KEPT; Some(None) is a genuine null
      val identityAdmits = asPart match {
        case Some((pfName, _, _)) =>
          // identity partition: the VALUE itself is the bound
          e.pv.get(pfName) match {
            case None => true // other-era file: cannot prune on this
            case Some(None) => false // null never matches a range
            case Some(Some(raw)) => (loB, hiB) match {
              case (Some(l), Some(h)) => rawVal(raw).forall(x =>
                IcebergBounds.leq(l, x) && IcebergBounds.leq(x, h))
              case _ => true
            }
          }
        case None => true
      }
      // each temporal transform's partition ordinal must fall in the
      // probe's ordinal range (null value → all-null file → drop)
      val temporalAdmits = temporal.forall { case (pfName, _, l, h) =>
        e.pv.get(pfName) match {
          case None => true // other-era file: cannot prune on this
          case Some(None) => false
          case Some(Some(raw)) =>
            // the ordinal arrives as an int, except day values whose
            // date logical type decodes to an ISO string
            scala.util.Try(raw.toLong).toOption
              .orElse(scala.util.Try(
                java.time.LocalDate.parse(raw).toEpochDay).toOption)
              .forall(o => o >= l && o <= h)
        }
      }
      val boundsAdmit = {
        val allNull =
          e.records > 0L && e.nullCounts.get(fid).contains(e.records)
        if (allNull) false
        else {
          val lom = e.lower.get(fid).flatMap(IcebergBounds.decode(dt, _))
          val him = e.upper.get(fid).flatMap(IcebergBounds.decode(dt, _))
          (lom, him, loB, hiB) match {
            case (Some(a), Some(b), Some(l), Some(h)) =>
              IcebergBounds.leq(a, h) && IcebergBounds.leq(l, b)
            case _ => true
          }
        }
      }
      identityAdmits && temporalAdmits &&
        (asPart.isDefined || boundsAdmit)
    }.map(_.path).sorted
    (kept, total)
  }

  /** Manifest-level file-skipping read: [[read]] restricted to
    * [[prunedDataFiles]] of `column` ∈ [lo, hi] with the row filter
    * still applied — identical rows to the unpruned filtered read,
    * cost ∝ files that can match (the [[DeltaLog.readRange]] twin
    * for the other format).
    */
  def readRange(
      spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any, snapshotId: Option[Long] = None): DataFrame = {
    val keep = prunedDataFiles(table, column, lo, hi, snapshotId)._1.toSet
    readCore(spark, table, snapshotId, Some(keep))
      .filter(col(column) >= lit(lo) && col(column) <= lit(hi))
  }

  /** [[readCore]] keeping each row's physical position: the table's
    * schema columns PLUS `__pos_file` (canonical data-file path) and
    * `__pos_index` (in-file row index) — what a row-level delete
    * writer needs to name positions. Evolution resolves per era like
    * any read; existing deletes are NOT applied (re-deleting an
    * already-dead position is harmless by the reader's anti-join).
    */
  private[sources] def readWithPos(
      spark: SparkSession, table: String): DataFrame =
    readCore(spark, table, None, None, withPos = true)

  /** [[read]] plus the v3 ROW LINEAGE columns — `_row_id` (the file's
    * `first_row_id` + the row's in-file position; null for files
    * written before the table carried lineage) and
    * `_last_updated_sequence_number` (the file's data sequence
    * number) — the spec's inheritance rules for rows without
    * materialized lineage columns. Deletes apply as in any read;
    * surviving rows keep their ids.
    */
  def readLineage(
      spark: SparkSession, table: String,
      snapshotId: Option[Long] = None): DataFrame =
    readCore(spark, table, snapshotId, None, withLineage = true)

  private[sources] def readCore(
      spark: SparkSession, table: String,
      snapshotId: Option[Long],
      keep: Option[Set[String]],
      withPos: Boolean = false,
      withLineage: Boolean = false): DataFrame = {
    val meta = metadataJson(table)
    val fv = meta.get("format-version").asInt()
    // a freshly-created table (CREATE TABLE before the first INSERT,
    // r17) has no current snapshot: zero rows under the declared schema
    val noCurrent = snapshotId.isEmpty &&
      !Option(meta.get("current-snapshot-id")).exists(_.asLong() != -1L)
    if (noCurrent) {
      require(!withPos, "readWithPos on an empty table")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schemaOf(meta))
    }
    val snap = snapshotNode(meta, snapshotId)
    // the spec's snapshot `schema-id`: a snapshot committed under an
    // OLDER schema (e.g. pre-REPLACE) time-travels with ITS schema,
    // not the current one — resolved from the schemas history;
    // snapshots without the field (pre-r15 writers, plain evolution)
    // read under the current schema via field-id resolution as before
    val schemaNode = Option(snap.get("schema-id")).map(_.asInt())
      .filter(_ => meta.has("schemas"))
      .flatMap(sid => meta.get("schemas").elements().asScala
        .find(_.get("schema-id").asInt() == sid))
      .getOrElse(schemaNodeOf(meta))
    val schema = toSparkType(schemaNode).asInstanceOf[StructType]
    val entries0 = dataFilesWithPartitions(table, meta, snap)
    val entries = keep match {
      case Some(k) => entries0.filter(e => k.contains(e.path))
      case None => entries0
    }
    // identity reconstruction is PER FILE ERA (partition evolution):
    // each file's manifest spec says which columns are NOT in it and
    // must come from partition metadata — a column identity-
    // partitioned in one era reads from metadata there and from the
    // data files everywhere else
    val idToName: Map[Int, String] = schemaNode.get("fields")
      .elements().asScala
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    def branchSrcOf(e: FileEntry): Seq[(String, String)] =
      e.idFields.flatMap { case (pfName, sid) =>
        idToName.get(sid).filter(schema.fieldNames.contains)
          .map(src => (pfName, src))
      }
    val anyIdentity = entries.exists(e => branchSrcOf(e).nonEmpty)
    val deletes =
      if (withPos) Nil else deleteFilesOf(table, meta, snap)
    // v3 splits position deletes: puffin DELETION VECTORS (decoded
    // driver-side, bounded by deleted rows) vs the v2 parquet
    // position-delete files v3 FORBIDS (a v3 table carrying them is
    // out of spec — refused rather than guessing which to trust)
    val dvFiles = deletes.filter(d => d.content == 1 && d.format == "PUFFIN")
    val posDeletes = deletes
      .filter(d => d.content == 1 && d.format != "PUFFIN").map(_.path)
    require(fv < 3 || posDeletes.isEmpty,
      s"format-version 3 table $table carries parquet position-delete " +
        "files (the spec requires deletion vectors): refused")
    val eqDeletes = deletes.filter(_.content == 2)
    if (entries.isEmpty) {
      require(!withPos, "readWithPos on an empty snapshot")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val allCurFields = schemaNode.get("fields").elements().asScala.toSeq
    // MATERIALIZED lineage files (v3 compaction output) read their
    // row ids from the file, not from first_row_id inheritance —
    // they scan as their own branch with two extra physical columns
    def matOf(e: FileEntry): Boolean =
      withLineage && fv >= 3 && e.firstRowId.isEmpty &&
        e.lineageMat.getOrElse(footerHasLineage(spark, e.path))
    val branches = entries
      .groupBy(e => (e.writerSchemaJson, branchSrcOf(e), matOf(e))).toSeq
      .sortBy { case ((ws, bs, mat), _) =>
        (ws.getOrElse(""), bs.map(_._1).mkString(","), mat)
      }
      .map { case ((ws, branchSrc, mat), files) =>
        val srcCols = branchSrc.map(_._2)
        val curFields = allCurFields
          .filterNot(f => srcCols.contains(f.get("name").asText()))
        val writerById: Map[Int, JsonNode] = ws.map { js =>
          mapper.readTree(js).get("fields").elements().asScala
            .map(f => f.get("id").asInt() -> f).toMap
        }.getOrElse(Map.empty)
        val resolved = curFields.map { cf =>
          val name = cf.get("name").asText()
          val logicalDt = toSparkType(cf.get("type"))
          val nullable = !cf.get("required").asBoolean()
          writerById.get(cf.get("id").asInt()) match {
            case Some(wf) =>
              val physName = wf.get("name").asText()
              val physDt = toSparkType(wf.get("type"))
              val aligned = nestedAligned(wf.get("type"), cf.get("type"))
              require(
                if (aligned) promotable(physDt, logicalDt)
                else remappable(wf.get("type"), cf.get("type")),
                s"column $name (field-id ${cf.get("id").asInt()}) changed " +
                  s"TYPE across the schema history ($physDt → $logicalDt) " +
                  "beyond the spec's lossless promotions (int→long, " +
                  "float→double, decimal widening): refused rather than " +
                  "miscast")
              val colExpr =
                if (physName == name && physDt == logicalDt) col(name)
                else if (aligned)
                  // the structurally-identical cast renames nested
                  // levels positionally (the DeltaLog column-mapping
                  // discipline); fully-nullable target — file sources
                  // force nullable output
                  col(physName).cast(asNullableType(logicalDt)).as(name)
                else
                  // nested REORDER across eras: rebuild by field-id
                  remapByIds(col(physName), wf.get("type"), cf.get("type"))
                    .as(name)
              (Some(StructField(physName, physDt, nullable)), colExpr)
            case None if ws.isDefined =>
              // the column was ADDED after this manifest's files were
              // written: the spec's answer is the field's
              // `initial-default` (a v3 feature — what pre-existing
              // rows read back), null when absent. Emitting null for
              // a defaulted column would be WRONG ROWS on any v3
              // table a defaults-aware writer authored.
              (None, initialDefaultLit(cf, logicalDt).as(name))
            case None =>
              // out-of-spec manifest without an embedded schema: name
              // resolution, guarded by the footer check below
              (Some(StructField(name, logicalDt, nullable)), col(name))
          }
        }
        val readSchema = StructType(resolved.flatMap(_._1))
        if (ws.isEmpty)
          requireFooterNames(spark, files.head.path, readSchema.fieldNames.toSeq)
        // the scan's own file/row-index metadata feeds the
        // position-delete anti-join, the partition attach AND the
        // equality-delete sequence scope — it must come from inside
        // each branch (expressions like input_file_name() cannot span
        // the joins below)
        val needFile = withPos || withLineage ||
          posDeletes.nonEmpty || dvFiles.nonEmpty ||
          anyIdentity || eqDeletes.nonEmpty
        val metaCols =
          (if (needFile)
            Seq(DeltaLog.canonPath(col("_metadata.file_path")).as("__ib_f"))
          else Nil) ++
            (if (posDeletes.nonEmpty || dvFiles.nonEmpty ||
              withPos || withLineage)
              Seq(col("_metadata.row_index").as("__ib_i"))
            else Nil)
        // lineage reads emit uniform __mat_* columns from every
        // branch (real reads on materialized files, typed nulls
        // elsewhere) so the union below stays shape-identical and the
        // attach step can coalesce(materialized, inherited)
        val lineageCols =
          if (!withLineage) Nil
          else if (mat) Seq(
            col("_row_id").as("__mat_rid"),
            col("_last_updated_sequence_number").as("__mat_seq"))
          else Seq(
            lit(null).cast(LongType).as("__mat_rid"),
            lit(null).cast(LongType).as("__mat_seq"))
        val scanSchema =
          if (!mat) readSchema
          else StructType(readSchema.fields ++ Seq(
            StructField("_row_id", LongType),
            StructField("_last_updated_sequence_number", LongType)))
        // listing-free scan over the manifest's exact file set (see
        // graftext.KnownFiles: spark.read.parquet over >32 explicit
        // paths launches a one-task-per-path discovery JOB per read)
        val scanned = org.apache.spark.sql.graftext.KnownFiles
          .parquetFrame(spark, scanSchema, files.map(_.path))
          .select(resolved.map(_._2) ++ lineageCols ++ metaCols: _*)
        // attach THIS era's identity columns from partition metadata
        // (one metadata-sized broadcast equi-join on the canonical
        // path), cast to their declared types so every branch unions
        // with an identical column set and typing
        if (branchSrc.isEmpty) scanned
        else {
          import spark.implicits._
          val pvFrame = files.map { e =>
            (e.path, branchSrc.map { case (pf, _) =>
              e.pv.getOrElse(pf, None).orNull
            })
          }.toDF("__pv_file", "__pv")
            .select(col("__pv_file") +:
              branchSrc.zipWithIndex.map { case ((_, src), i) =>
                col("__pv").getItem(i).as(src)
              }: _*)
          val joined = scanned.join(
            broadcast(pvFrame), col("__ib_f") === col("__pv_file"))
            .drop("__pv_file")
          branchSrc.foldLeft(joined) { case (d, (_, src)) =>
            d.withColumn(src, col(src).cast(schema(src).dataType))
          }
        }
      }
    val data0 = branches.reduce(_.unionByName(_))
    val data1 =
      if (posDeletes.isEmpty && dvFiles.isEmpty) data0
      else {
        // the delete frame is bounded by DELETED rows; broadcast
        // anti-join on (canonical path, in-file row index) — the
        // DeltaLog deletion-vector discipline in manifest form.
        // Parquet position deletes read distributed; puffin DVs
        // decode driver-side (each blob names one data file's
        // deleted positions) and union in.
        import spark.implicits._
        val parquetDel =
          if (posDeletes.isEmpty) None
          else Some(spark.read
            .schema(StructType.fromDDL("file_path STRING, pos BIGINT"))
            .parquet(posDeletes: _*)
            .select(
              DeltaLog.canonFile(col("file_path")).as("__del_f"),
              col("pos").as("__del_i")))
        val dvDel =
          if (dvFiles.isEmpty) None
          else {
            val pairs: Seq[(String, Long)] = dvFiles.flatMap { d =>
              val blob = (d.contentOffset, d.contentSize) match {
                case (Some(off), Some(len)) =>
                  Puffin.readBlob(d.path, off, len)
                case _ =>
                  // a foreign writer relying on the footer alone:
                  // resolve the blob by referenced-data-file property
                  val metaBlob = Puffin.readFooter(d.path)
                    .find(b => b.tpe == "deletion-vector-v1" &&
                      b.properties.get("referenced-data-file")
                        .map(local).contains(d.referencedDataFile.get))
                    .getOrElse(throw new IllegalStateException(
                      s"no deletion-vector-v1 blob for " +
                        s"${d.referencedDataFile.get} in ${d.path}"))
                  Puffin.readBlob(d.path, metaBlob.offset, metaBlob.length)
              }
              Puffin.dvBlobIndexes(blob)
                .map(i => (d.referencedDataFile.get, i))
            }
            Some(pairs.toDF("__del_f", "__del_i"))
          }
        val del = (parquetDel.toSeq ++ dvDel.toSeq).reduce(_.unionByName(_))
        data0.join(
          broadcast(del),
          col("__ib_f") === col("__del_f") &&
            col("__ib_i") === col("__del_i"),
          "left_anti")
      }
    // v3 ROW LINEAGE attaches per-file constants (first_row_id, seq)
    // through one metadata-sized broadcast join, BEFORE __ib_i is
    // dropped: _row_id = first_row_id + position (null when the file
    // predates lineage), _last_updated_sequence_number = the file's
    // data sequence number — the spec's inheritance rules
    val data = {
      val base =
        if (!withLineage) data1
        else {
          import spark.implicits._
          val lf = entries.map(e => (e.path, e.firstRowId, e.seq))
            .toDF("__lf", "__lfr", "__lseq")
          data1
            .join(broadcast(lf), col("__ib_f") === col("__lf"))
            .withColumn("_row_id",
              coalesce(col("__mat_rid"),
                when(col("__lfr").isNotNull, col("__lfr") + col("__ib_i"))))
            .withColumn("_last_updated_sequence_number",
              coalesce(col("__mat_seq"), col("__lseq")))
            .drop("__lf", "__lfr", "__lseq", "__mat_rid", "__mat_seq")
        }
      if ((posDeletes.nonEmpty || dvFiles.nonEmpty) && !withPos)
        base.drop("__ib_i")
      else base
    }
    // the file's data sequence number (equality deletes scope on it)
    // attaches via ONE metadata-sized broadcast equi-join on the
    // canonical path — identity partition columns already attached
    // PER BRANCH above. Fast path: a snapshot whose files all share
    // one sequence number (every table until its first post-delete
    // append) attaches the seq as a LITERAL — no join at all.
    val oneSeq = entries.map(_.seq).distinct match {
      case Seq(s) => Some(s)
      case _ => None
    }
    val withParts =
      if (eqDeletes.isEmpty) {
        if (withPos) data else data.drop("__ib_f")
      } else if (oneSeq.isDefined) {
        val d = data.withColumn("__ib_seq", lit(oneSeq.get))
        if (withPos) d else d.drop("__ib_f")
      } else {
        import spark.implicits._
        val seqFrame = entries.map(e => (e.path, e.seq))
          .toDF("__file", "__ib_seq")
        val joined = data
          .join(broadcast(seqFrame), col("__ib_f") === col("__file"))
          .drop("__file")
        if (withPos) joined else joined.drop("__ib_f")
      }
    // EQUALITY deletes (v2 merge-on-read, the CDC-writer form): a row
    // is deleted when its equality-column values null-safe-match ANY
    // delete row whose sequence number is STRICTLY ABOVE the row's
    // file's. One broadcast anti-join per distinct key-column set
    // (build side bounded by deleted keys); applied AFTER the
    // partition attach so key columns living only in partition
    // metadata still compare.
    val afterEq =
      if (eqDeletes.isEmpty) withParts
      else {
        val idToField = schemaNode.get("fields").elements().asScala
          .map(f => f.get("id").asInt() -> f).toMap
        eqDeletes.groupBy(_.equalityIds).toSeq.sortBy(_._1.mkString(","))
          .foldLeft(withParts) { case (d, (ids, files)) =>
            val keyCols = ids.map { id =>
              val f = idToField.getOrElse(id,
                throw new IllegalStateException(
                  s"equality delete references field-id $id which is " +
                    "not in the current schema (dropped key column): " +
                    "refused rather than returning undeleted rows"))
              (f.get("name").asText(), toSparkType(f.get("type")))
            }
            val del = files.map { df =>
              spark.read.parquet(df.path)
                .select(keyCols.map { case (n, dt) =>
                  col(n).cast(dt).as(s"__eq_$n")
                } :+ lit(df.seq).as("__eq_seq"): _*)
            }.reduce(_.unionByName(_))
            // the delete frame's columns are all __eq_-prefixed, so
            // bare col(n) resolves to the data side unambiguously;
            // identity sources were attached TYPED per branch, so the
            // cast is a no-op there and harmless everywhere else
            val cond = keyCols.map { case (n, dt) =>
              col(n).cast(dt) <=> col(s"__eq_$n")
            }.reduce(_ && _) && col("__ib_seq") < col("__eq_seq")
            d.join(broadcast(del), cond, "left_anti")
          }
      }
    val posCols =
      (if (withPos)
        Seq(col("__ib_f").as("__pos_file"), col("__ib_i").as("__pos_index"))
      else Nil) ++
        (if (withLineage)
          Seq(col("_row_id"), col("_last_updated_sequence_number"))
        else Nil)
    afterEq.select(schema.fields.map(f => col(f.name)) ++ posCols: _*)
  }
}
