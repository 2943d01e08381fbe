package graft.sources.dsv2

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{DeleteAccess, DeltaDv, DeltaLog, Puffin}

/** Shared executor-side machinery of the lakehouse DataSourceV2
  * connectors ([[DeltaTableProvider]] / [[IcebergTableProvider]]):
  * one planned slice per data file, read through Spark's OWN parquet
  * reader ([[org.apache.spark.sql.graftext.ParquetReadBridge]] — the
  * vectorized, pushdown-aware function `FileSourceScanExec` itself
  * ships), then the format's ROW-LEVEL semantics applied per row.
  *
  * DELETE RESOLUTION IS EXECUTOR-SIDE (r17). Planning ships
  * DESCRIPTORS — a Delta DV's (storageType, path, offset, size,
  * cardinality), a puffin blob's coordinates, a position-delete
  * file's path — never materialized `Array[Long]` positions: at
  * 100 TB a driver that decoded every deletion vector at plan time
  * would serialize deleted-row state into every task and bottleneck
  * planning on delete content. Each [[Factory.Reader]] resolves its
  * slice's descriptors on the executor (through the per-JVM
  * [[DeleteResolver]] cache, so one executor reads each delete blob /
  * delete file once), exactly where delta-spark's and iceberg-spark's
  * own readers apply them:
  *
  *  - drop positions (Delta DVs / Iceberg position deletes / puffin
  *    DVs): excluded via binary search against the row-index metadata
  *    column, bounded by deleted rows per file;
  *  - keep positions (the CDF "newly deleted rows as delete records"
  *    extraction): the positions a DV GREW by, diffed from the two
  *    descriptors on the executor;
  *  - equality deletes (Iceberg v2 MoR): per-file applicable delete
  *    sets (scoped by the planner to delete files with sequence
  *    number STRICTLY above the data file's), loaded per executor
  *    and checked per row against a hash set of the key tuples;
  *  - `constants`: per-slice output columns that do not live in the
  *    file (`_change_type` for computed CDF rows, `_commit_version`,
  *    schema-evolution initial-defaults), compiled into the output
  *    projection as literals.
  *
  * MULTI-ERA READS (r17): a factory carries one [[EraReader]] per
  * distinct write-time schema / partition-spec era; each slice names
  * its era by index, so a schema-evolved Iceberg table (renames,
  * lossless promotions, added/dropped columns) reads per file under
  * its own physical names while every era emits the SAME logical
  * column positions.
  *
  * Scale shape: planning is driver-side metadata work bounded by
  * files (NOT by deleted rows); an [[GraftInputPartition]]'s
  * serialized size is O(1) in deleted rows (spec-pinned); the data
  * path is one `PartitionReader` per file slice running Spark's
  * codegen'd parquet decode, so a 1000-executor cluster fans these
  * out exactly like a native scan.
  */
private[dsv2] object GraftFileBatch {

  // ------------------------------------------------------- position specs

  /** Executor-resolvable description of deleted/extracted row
    * positions of ONE data file — a descriptor, never the positions
    * themselves.
    */
  sealed trait PositionSpec extends Serializable

  /** A Delta deletion vector (`u`/`p`/`i` storage). */
  case class DeltaDvPositions(table: String, d: DeltaDv.Descriptor)
      extends PositionSpec

  /** The positions a Delta DV GREW by between two generations — the
    * CDF delete-extraction keep set. `before` None = every position
    * of `after` is new. Monotonicity (before ⊆ after) is verified at
    * resolution; the PLANNER only compares cardinalities.
    */
  case class DeltaDvDiff(
      table: String,
      before: Option[DeltaDv.Descriptor], after: DeltaDv.Descriptor)
      extends PositionSpec

  /** An Iceberg v3 puffin deletion-vector blob. Missing coordinates
    * (foreign manifests) resolve by a footer scan for the referenced
    * data file — on the executor, like everything else here.
    */
  case class PuffinDvPositions(
      path: String, offset: Option[Long], length: Option[Long],
      referencedDataFile: String)
      extends PositionSpec

  /** Iceberg v2 parquet position-delete files: the positions listed
    * for `canonDataPath`. One delete file covers many data files —
    * each executor loads it once (keyed per file in the resolver
    * cache) and every slice looks up its own path.
    */
  case class ParquetPosDeletes(
      files: Seq[PosDeleteFile], canonDataPath: String,
      readFunc: PartitionedFile => Iterator[InternalRow])
      extends PositionSpec

  case class PosDeleteFile(path: String, length: Long) extends Serializable

  /** Set difference of position sets — the changelog's "newly dead"
    * extraction: union(plus) minus union(minus), resolved entirely on
    * the executor. Monotonicity (minus ⊆ plus: delete state only
    * grows on a carried file) is REQUIRED at resolution — a shrunken
    * union is an un-delete, and emitting a feed that misses the
    * resurrected rows would be wrong, so it refuses loudly (the
    * [[DeltaDvDiff]] contract, lifted to spec unions).
    */
  case class DiffPositions(
      plus: Seq[PositionSpec], minus: Seq[PositionSpec])
      extends PositionSpec

  /** One equality-delete file, loaded lazily per executor: key
    * column names in CURRENT-schema (logical) form, the file to read
    * them from, and a reader function emitting exactly `cols` (typed
    * `dataTypes`) in order.
    */
  case class EqDeleteSpec(
      cols: Seq[String], dataTypes: Seq[DataType],
      path: String, length: Long,
      readFunc: PartitionedFile => Iterator[InternalRow])
      extends Serializable

  // ----------------------------------------------------------- resolver

  /** Per-JVM (= per-executor) resolution cache: each delete blob /
    * delete file is read once per executor regardless of how many
    * tasks consult it. Values are immutable once built (data and
    * delete files never mutate in either format).
    */
  object DeleteResolver {

    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

    private def emptyRow: InternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(0)

    private def dvKey(table: String, d: DeltaDv.Descriptor): String =
      s"dv|$table|${d.storageType}|${d.pathOrInlineDv}|${d.offset}"

    def deltaDv(table: String, d: DeltaDv.Descriptor): Array[Long] =
      cache.computeIfAbsent(dvKey(table, d),
        _ => DeltaDv.indexesOf(table, d).sorted).asInstanceOf[Array[Long]]

    def puffinDv(s: PuffinDvPositions): Array[Long] =
      cache.computeIfAbsent(
        s"puffin|${s.path}|${s.offset.getOrElse(-1L)}|${s.referencedDataFile}",
        { _ =>
          val blob = (s.offset, s.length) match {
            case (Some(off), Some(len)) => Puffin.readBlob(s.path, off, len)
            case _ =>
              val metaBlob = Puffin.readFooter(s.path)
                .find(b => b.tpe == "deletion-vector-v1" &&
                  b.properties.get("referenced-data-file")
                    .map(p => DeltaLog.canonFile(p))
                    .contains(DeltaLog.canonFile(s.referencedDataFile)))
                .getOrElse(throw new IllegalStateException(
                  s"no deletion-vector-v1 blob for " +
                    s"${s.referencedDataFile} in ${s.path}"))
              Puffin.readBlob(s.path, metaBlob.offset, metaBlob.length)
          }
          Puffin.dvBlobIndexes(blob).sorted
        }).asInstanceOf[Array[Long]]

    /** One position-delete FILE's content as canonical-data-path →
      * sorted positions (loaded once per executor).
      */
    private def posDeleteFile(
        f: PosDeleteFile,
        readFunc: PartitionedFile => Iterator[InternalRow])
        : Map[String, Array[Long]] =
      cache.computeIfAbsent(s"posdel|${f.path}", { _ =>
        DeleteAccess.contentReads.incrementAndGet()
        val pf = org.apache.spark.sql.graftext.ParquetReadBridge
          .wholeFile(emptyRow, f.path, f.length, 0L)
        val pairs = readFunc(pf).map { r =>
          (DeltaLog.canonFile(r.getUTF8String(0).toString), r.getLong(1))
        }.toArray
        pairs.groupBy(_._1).map { case (p, ps) =>
          p -> ps.map(_._2).distinct.sorted
        }
      }).asInstanceOf[Map[String, Array[Long]]]

    /** The loaded key set of one equality-delete file: single-column
      * sets hold the bare internal value, multi-column sets the value
      * Seq — values COPIED out of the reader's reused row buffers.
      */
    def eqDeleteSet(spec: EqDeleteSpec): java.util.HashSet[Any] =
      cache.computeIfAbsent(s"eqdel|${spec.path}", { _ =>
        DeleteAccess.contentReads.incrementAndGet()
        val pf = org.apache.spark.sql.graftext.ParquetReadBridge
          .wholeFile(emptyRow, spec.path, spec.length, 0L)
        val set = new java.util.HashSet[Any]()
        spec.readFunc(pf).foreach { r =>
          val vals = spec.dataTypes.indices.map { i =>
            if (r.isNullAt(i)) null
            else copyInternal(r.get(i, spec.dataTypes(i)))
          }
          set.add(if (vals.size == 1) vals.head else vals)
        }
        set
      }).asInstanceOf[java.util.HashSet[Any]]

    def positions(spec: PositionSpec): Array[Long] = spec match {
      case DeltaDvPositions(t, d) => deltaDv(t, d)
      case DeltaDvDiff(t, before, after) =>
        val a = deltaDv(t, after)
        before match {
          case None => a
          case Some(b) =>
            val bArr = deltaDv(t, b)
            val bSet = bArr.toSet
            val aSet = a.toSet
            require(bArr.forall(aSet),
              s"deletion vector SHRANK between generations " +
                s"(un-delete) on ${after.pathOrInlineDv}: refused " +
                "rather than emitting a wrong change feed")
            a.filterNot(bSet)
        }
      case p: PuffinDvPositions => puffinDv(p)
      case p: ParquetPosDeletes =>
        val per = p.files.map(f =>
          posDeleteFile(f, p.readFunc)
            .getOrElse(p.canonDataPath, Array.empty[Long]))
        if (per.forall(_.isEmpty)) Array.empty[Long]
        else per.flatten.distinct.sorted.toArray
      case DiffPositions(plus, minus) =>
        val p = plus.flatMap(positions).distinct.sorted.toArray
        val pSet = p.toSet
        val m = minus.flatMap(positions).toSet
        require(m.subsetOf(pSet),
          "deleted-position set SHRANK between snapshots (un-delete) " +
            "on a carried file: refused rather than emitting a wrong " +
            "change feed")
        if (m.isEmpty) p else p.filterNot(m)
    }

    private def copyInternal(v: Any): Any = v match {
      case u: UTF8String => u.copy()
      case b: Array[Byte] => b.clone()
      case other => other // primitives, Decimal: immutable
    }
  }

  // ---------------------------------------------------------- partitions

  /** A planned file slice. `keep == null` means "all rows except the
    * union of `drop`"; non-null means "only the keep-set positions"
    * (and `drop` is ignored). `eqDrop` rejects rows whose key is in
    * any listed equality-delete set; `eqKeep` (the changelog's
    * "rows matching the NEW delete keys" extraction) ADMITS only rows
    * matching at least one listed set. `constants` override
    * same-named read columns in the output projection. `era` indexes
    * the factory's [[EraReader]] array.
    */
  case class GraftInputPartition(
      pf: PartitionedFile,
      drop: Seq[PositionSpec],
      keep: PositionSpec,
      eqDrop: Seq[EqDeleteSpec],
      eqKeep: Seq[EqDeleteSpec],
      constants: Map[String, Any],
      era: Int = 0)
      extends InputPartition

  /** One write-time era's reader: the per-file read function (built
    * against the era's PHYSICAL column names), the schema of what it
    * emits POSITIONALLY (declared under LOGICAL names — InternalRows
    * are positional, so physical→logical renaming is free), and where
    * the row-index metadata column sits (-1 = not read).
    */
  case class EraReader(
      readFunc: PartitionedFile => Iterator[InternalRow],
      emitted: StructType,
      rowIdxPos: Int)
      extends Serializable

  class Factory(
      eras: Array[EraReader],
      // the scan's declared output (readSchema()): every field either
      // present in each era's `emitted` or supplied by constants
      output: StructType)
      extends PartitionReaderFactory {

    override def createReader(
        partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[GraftInputPartition]
      new Reader(p)
    }

    private class Reader(p: GraftInputPartition)
        extends PartitionReader[InternalRow] {

      private val era = eras(p.era)
      private val emitted = era.emitted
      private val rowIdxPos = era.rowIdxPos

      // output projection: the slice's constant when one is declared
      // (constants WIN over a same-named read column — a computed-CDF
      // slice's `_change_type` literal must override the null the
      // parquet reader yields for the column a data file lacks), else
      // the emitted column by position — one codegen'd projection
      private val proj: UnsafeProjection = {
        val exprs: Seq[Expression] = output.fields.toSeq.map { f =>
          p.constants.get(f.name) match {
            case Some(ext) =>
              Literal(
                CatalystTypeConverters
                  .createToCatalystConverter(f.dataType)(ext),
                f.dataType)
            case None =>
              val i = emitted.fieldNames.indexOf(f.name)
              if (i < 0) throw new IllegalStateException(
                s"output column ${f.name} neither read nor constant")
              BoundReference(i, emitted(i).dataType, nullable = true)
          }
        }
        UnsafeProjection.create(exprs)
      }

      // position sets resolved HERE, on the executor
      private val keepPositions: Array[Long] =
        if (p.keep == null) null else DeleteResolver.positions(p.keep)
      private val dropPositions: Array[Long] =
        if (p.keep != null || p.drop.isEmpty) Array.empty[Long]
        else {
          val per = p.drop.map(DeleteResolver.positions)
          if (per.size == 1) per.head
          else per.flatten.distinct.sorted.toArray
        }
      require(rowIdxPos >= 0 ||
        (keepPositions == null && dropPositions.isEmpty),
        s"slice for ${p.pf.filePath} carries position deletes but the " +
          "era reader did not request the row-index column: refusing " +
          "rather than returning undeleted rows")

      // equality-delete sets in INTERNAL value form, loaded per
      // executor through the resolver cache
      private def eqSetsOf(
          specs: Seq[EqDeleteSpec]): Array[(Array[Int], java.util.HashSet[Any])] =
        specs.map { d =>
          val pos = d.cols.map { c =>
            val at = emitted.fieldNames.indexOf(c)
            require(at >= 0, s"equality-delete column $c not in read schema")
            at
          }.toArray
          (pos, DeleteResolver.eqDeleteSet(d))
        }.toArray
      private val eqSets = eqSetsOf(p.eqDrop)
      private val eqKeepSets = eqSetsOf(p.eqKeep)

      private val dts: Array[DataType] = emitted.fields.map(_.dataType)
      // a keep-mode slice whose keep set resolved EMPTY emits nothing:
      // skip opening the data file entirely (the changelog planner
      // emits candidate slices for every carried file when a new
      // delete file appears — most resolve empty)
      private val iter: Iterator[InternalRow] =
        if (keepPositions != null && keepPositions.isEmpty)
          Iterator.empty
        else era.readFunc(p.pf)
      private var cur: InternalRow = _

      private def positionAdmits(row: InternalRow): Boolean = {
        if (rowIdxPos < 0) return true
        val idx = row.getLong(rowIdxPos)
        if (keepPositions != null)
          java.util.Arrays.binarySearch(keepPositions, idx) >= 0
        else
          dropPositions.length == 0 ||
            java.util.Arrays.binarySearch(dropPositions, idx) < 0
      }

      private def keyOf(
          pos: Array[Int], row: InternalRow): Any =
        if (pos.length == 1)
          (if (row.isNullAt(pos(0))) null else row.get(pos(0), dts(pos(0))))
        else
          pos.toSeq.map(at =>
            if (row.isNullAt(at)) null else row.get(at, dts(at)))

      private def eqAdmits(row: InternalRow): Boolean = {
        var i = 0
        while (i < eqSets.length) {
          val (pos, set) = eqSets(i)
          if (set.contains(keyOf(pos, row))) return false
          i += 1
        }
        if (eqKeepSets.isEmpty) return true
        var j = 0
        while (j < eqKeepSets.length) {
          val (pos, set) = eqKeepSets(j)
          if (set.contains(keyOf(pos, row))) return true
          j += 1
        }
        false
      }

      override def next(): Boolean = {
        while (iter.hasNext) {
          val row = iter.next()
          if (positionAdmits(row) && eqAdmits(row)) {
            cur = row
            return true
          }
        }
        false
      }

      override def get(): InternalRow = proj(cur)

      override def close(): Unit = ()
    }
  }

  class SimpleBatch(
      partitions: Array[InputPartition],
      factory: PartitionReaderFactory)
      extends Batch {
    override def planInputPartitions(): Array[InputPartition] = partitions
    override def createReaderFactory(): PartitionReaderFactory = factory
  }

  /** A Batch that delegates back to its (case-class) scan.
    * VALUE-EQUAL BY THE SCAN: `BatchScanExec.equals` compares
    * `this.batch == other.batch` (not the scan!), and AQE's
    * broadcast-exchange reuse — which dynamic partition pruning
    * depends on (`reuseBroadcastOnly`) — runs through exactly that
    * equality; a reference-equal Batch silently degrades every DPP
    * filter to `true`. Deferring planInputPartitions to call time
    * also lets runtime filters re-plan the file set.
    */
  trait LazyBatchSource {
    private[dsv2] def batchPartitions(): Array[InputPartition]
    private[dsv2] def batchFactory(): PartitionReaderFactory
  }

  case class ValueEqualBatch(owner: LazyBatchSource) extends Batch {
    override def planInputPartitions(): Array[InputPartition] =
      owner.batchPartitions()
    override def createReaderFactory(): PartitionReaderFactory =
      owner.batchFactory()
  }
}
