package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver-side Iceberg snapshot read that `IcebergTable.read` used
  * before it became a wrapper over the `graft-iceberg` DataSourceV2
  * scan, kept as an independent reference for the twin specs: the
  * DSv2 scan resolves deletes per file on the executors from
  * descriptors and carries partition values, lineage and positions in
  * its input partitions; this one unions one `spark.read.parquet`
  * branch per write-time era, decodes puffin deletion vectors on the
  * driver into a broadcast anti-join, anti-joins equality deletes
  * with `<=>` and joins partition values and row lineage back in on
  * the canonical file path. Two implementations that agree row for
  * row pin each other.
  */
object IcebergReadReference {

  private val mapper = new ObjectMapper()

  /** The table at `snapshotId` (or current), deletes applied. */
  def read(
      spark: SparkSession, table: String,
      snapshotId: Option[Long] = None): DataFrame =
    readCore(spark, table, snapshotId, None)

  /** [[read]] restricted to the given data files, deletes applied. */
  def readKeep(
      spark: SparkSession, table: String, keep: Set[String]): DataFrame =
    readCore(spark, table, None, Some(keep))

  /** [[read]] plus `_row_id` and `_last_updated_sequence_number`. */
  def readLineage(
      spark: SparkSession, table: String,
      snapshotId: Option[Long] = None): DataFrame =
    readCore(spark, table, snapshotId, None, withLineage = true)

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

  /** Structural compatibility ignoring field NAMES (renames are the
    * point of field-id resolution), admitting exactly the spec's
    * LOSSLESS type promotions (int → long, float → double, decimal
    * precision widening at the same scale — the cast below is then
    * value-preserving); anything else — narrowing, reshapes, changed
    * primitives — is refused loudly rather than miscast.
    */
  private def promotable(from: DataType, to: DataType): Boolean =
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
  private def nestedAligned(wt: JsonNode, ct: JsonNode): Boolean =
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
    val target = asNullableType(IcebergTable.toSparkType(ct))
    if (wt.isTextual || ct.isTextual) {
      if (IcebergTable.toSparkType(wt) == IcebergTable.toSparkType(ct)) e else e.cast(target)
    } else (wt.get("type").asText(), ct.get("type").asText()) match {
      case ("struct", "struct") =>
        val parts = ct.get("fields").elements().asScala.toSeq.map { cf =>
          val cName = cf.get("name").asText()
          IcebergTable.writerNestedField(wt, cf) match {
            case Some(wf) =>
              remapByIds(e.getField(wf.get("name").asText()),
                wf.get("type"), cf.get("type")).as(cName)
            case None =>
              lit(null).cast(asNullableType(IcebergTable.toSparkType(cf.get("type"))))
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

  def readCore(
      spark: SparkSession, table: String,
      snapshotId: Option[Long],
      keep: Option[Set[String]],
      withPos: Boolean = false,
      withLineage: Boolean = false): DataFrame = {
    val meta = IcebergTable.metadataJson(table)
    val fv = meta.get("format-version").asInt()
    // a freshly-created table (CREATE TABLE before the first INSERT,
    // r17) has no current snapshot: zero rows under the declared schema
    val noCurrent = snapshotId.isEmpty &&
      !Option(meta.get("current-snapshot-id")).exists(_.asLong() != -1L)
    if (noCurrent) {
      require(!withPos, "readWithPos on an empty table")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        IcebergTable.schemaOf(meta))
    }
    val snap = IcebergTable.snapshotNode(meta, snapshotId)
    // the spec's snapshot `schema-id`: a snapshot committed under an
    // OLDER schema (e.g. pre-REPLACE) time-travels with ITS schema,
    // not the current one — resolved from the schemas history;
    // snapshots without the field (pre-r15 writers, plain evolution)
    // read under the current schema via field-id resolution as before
    val schemaNode = Option(snap.get("schema-id")).map(_.asInt())
      .filter(_ => meta.has("schemas"))
      .flatMap(sid => meta.get("schemas").elements().asScala
        .find(_.get("schema-id").asInt() == sid))
      .getOrElse(IcebergTable.schemaNodeOf(meta))
    val schema = IcebergTable.toSparkType(schemaNode).asInstanceOf[StructType]
    val entries0 = IcebergTable.dataFilesWithPartitions(table, meta, snap)
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
    def branchSrcOf(e: IcebergTable.FileEntry): Seq[(String, String)] =
      e.idFields.flatMap { case (pfName, sid) =>
        idToName.get(sid).filter(schema.fieldNames.contains)
          .map(src => (pfName, src))
      }
    val anyIdentity = entries.exists(e => branchSrcOf(e).nonEmpty)
    val deletes =
      if (withPos) Nil else IcebergTable.deleteFilesOf(table, meta, snap)
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
    def matOf(e: IcebergTable.FileEntry): Boolean =
      withLineage && fv >= 3 && e.firstRowId.isEmpty &&
        e.lineageMat.getOrElse(IcebergTable.footerHasLineage(spark, e.path))
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
          val logicalDt = IcebergTable.toSparkType(cf.get("type"))
          val nullable = !cf.get("required").asBoolean()
          writerById.get(cf.get("id").asInt()) match {
            case Some(wf) =>
              val physName = wf.get("name").asText()
              val physDt = IcebergTable.toSparkType(wf.get("type"))
              val aligned = nestedAligned(wf.get("type"), cf.get("type"))
              require(
                if (aligned) promotable(physDt, logicalDt)
                else IcebergTable.remappable(wf.get("type"), cf.get("type")),
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
          IcebergTable.requireFooterNames(spark, files.head.path, readSchema.fieldNames.toSeq)
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
                        .map(DeltaLog.canonFile).contains(d.referencedDataFile.get))
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
              (f.get("name").asText(), IcebergTable.toSparkType(f.get("type")))
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
