package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The driver-side Delta snapshot read that `DeltaLog.read` used
  * before it became a wrapper over the `graft-delta` DataSourceV2
  * scan, kept as an independent reference for the twin specs: the
  * DSv2 scan resolves deletion vectors per file on the executors and
  * carries partition values in its input partitions, this one
  * collects every deleted (file, row index) pair into a broadcast
  * anti-join and joins the partition values back in on the canonical
  * file path. Two implementations that agree row for row pin each
  * other.
  */
object DeltaReadReference {

  /** The table at `versionAsOf` (or latest), columns in table-schema
    * order, partition columns cast to their declared types.
    */
  def read(
      spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val st = DeltaLog.stateAt(spark, table, versionAsOf)
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    val mapMode = st.configuration
      .getOrElse("delta.columnMapping.mode", "none")
    val mapped = mapMode == "name"
    val idMapped = mapMode == "id"
    val dataFields = schema.fields.filterNot(f =>
      st.partitionCols.contains(f.name))
    // name-mapped tables store PHYSICAL column names in the parquet
    // files: read with the physical schema, then remap physical →
    // logical below (top level by alias, nested levels by a
    // structurally-identical cast, which renames positionally).
    // id-mapped tables resolve by parquet FOOTER FIELD-IDS instead —
    // the read schema keeps logical names and carries the ids.
    val dataSchema =
      if (mapped)
        StructType(dataFields.map(f =>
          f.copy(name = DeltaLog.physName(f),
            dataType = DeltaLog.toPhysical(f.dataType))))
      else if (idMapped)
        DeltaLog.withFieldIds(StructType(dataFields)).asInstanceOf[StructType]
      else StructType(dataFields)
    val files = st.active.values.toSeq.map(a => DeltaLog.absPath(table, a.path))
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .select(schema.fieldNames.map(col): _*)
    if (idMapped) {
      // a footer WITHOUT ids then fails loudly instead of name-matching
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    }
    val scanned = org.apache.spark.sql.graftext.KnownFiles
      .parquetFrame(spark, dataSchema, files)
    // DELETION VECTORS: the deleted (file, index) pairs build an
    // anti-join side resolved per row against _metadata.row_index
    val dvPairs: Seq[(String, Long)] = st.active.values.toSeq.flatMap { a =>
      a.dv.toSeq.flatMap(d =>
        DeltaDv.indexesOf(table, d)
          .map(idx => (DeltaLog.absPath(table, a.path), idx)))
    }
    val data =
      if (dvPairs.isEmpty) scanned
      else {
        import spark.implicits._
        val deleted = dvPairs.toDF("__dv_file", "__dv_idx")
        scanned
          .withColumn("__dv_f", DeltaLog.canonPath(col("_metadata.file_path")))
          .withColumn("__dv_i", col("_metadata.row_index"))
          .join(broadcast(deleted),
            col("__dv_f") === col("__dv_file") &&
              col("__dv_i") === col("__dv_idx"),
            "left_anti")
          .drop("__dv_f", "__dv_i")
      }
    val withParts =
      if (st.partitionCols.isEmpty) data
      else {
        val pvFrame = DeltaLog.activeFiles(spark, table, versionAsOf)
        data
          .withColumn("__canon_file", DeltaLog.canonPath(input_file_name()))
          .join(broadcast(pvFrame), col("__canon_file") === col("file"))
          .drop("__canon_file", "file")
      }
    withParts.select(schema.fields.map { f =>
      if (st.partitionCols.contains(f.name))
        col(f.name).cast(f.dataType).as(f.name)
      else if (mapped)
        col(DeltaLog.physName(f)).cast(f.dataType).as(f.name)
      else col(f.name) // id-mapped scans already emit logical names
    }: _*)
  }
}
