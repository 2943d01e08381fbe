package org.apache.spark.sql.graftext

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet DataFrame over an EXPLICIT file list with no listing pass
  * (r17 opt). The table-format readers (Delta log replay, Iceberg
  * manifests) already hold the exact data-file set; handing the paths
  * to `spark.read.parquet(paths: _*)` makes `InMemoryFileIndex`
  * re-discover what the metadata just said — and past
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32 paths)
  * that discovery is a whole Spark JOB with one task per path
  * (measured: 413 ms / 332 tasks per invocation on the
  * transform-partitioned Iceberg table, repeated on every read).
  * Avoiding the re-list is the point of manifest-based table formats
  * (guide §6); this FileIndex serves the known files directly. File
  * sizes come from one driver `stat` per file — metadata-scale, and
  * the sizes feed split packing so scan tasks stay byte-balanced.
  */
object KnownFiles {

  private final class KnownFilesIndex(
      statuses: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = statuses.map(_.getPath)
    override def listFiles(
        partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
    override def inputFiles: Array[String] =
      statuses.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = statuses.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }

  /** DataFrame reading exactly `paths` (local filesystem) as parquet
    * under `dataSchema`. Unpartitioned relation; `_metadata` columns
    * behave as with any file-source scan. A path with no file behind
    * it fails here: `File.length()` of an absent file is 0, and a
    * 0-byte status would make the scan skip the file's rows silently.
    */
  def parquetFrame(
      spark: SparkSession, dataSchema: StructType,
      paths: Seq[String]): DataFrame = {
    val statuses = paths.map { p =>
      val f = new java.io.File(p)
      if (!f.isFile)
        throw new java.io.FileNotFoundException(
          s"data file $p listed by the table metadata does not exist")
      new FileStatus(
        f.length(), false, 1, 134217728L, f.lastModified(),
        new Path(f.toURI))
    }
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rel = HadoopFsRelation(
      new KnownFilesIndex(statuses),
      partitionSchema = new StructType(),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(cs)
    cs.baseRelationToDataFrame(rel)
  }
}
