package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Sort the NARROW input, project after — the fix for heavy per-row
  * projections above a global orderBy (guide §2.4/§2.5).
  *
  * A global `orderBy` plans as rangepartitioning, and the range
  * partitioner SAMPLES ITS CHILD to pick bounds: with the projection
  * below the sort, the whole per-row computation (regex battery,
  * chunk generators) runs once in the sampling pass and AGAIN in the
  * real pass — and over a 1-split parquet input both passes run on a
  * single task (measured on t14: two ~300 ms one-task stages for one
  * 6-regex projection). Range-partitioning the narrow (key, payload)
  * frame first and projecting after keeps ONE evaluation, map-parallel
  * across the range partitions.
  *
  * The explicit partition count (defaultParallelism — scale-adaptive,
  * REPARTITION_BY_NUM so AQE cannot coalesce a tiny scale factor back
  * to one task) plus `sortWithinPartitions` yields the same global
  * emitted order as `orderBy`: range partitions are emitted in key
  * order, rows within each are sorted, and narrow order-preserving
  * ops above (projections, per-row generators emitting in sequence
  * order) keep it.
  */
object SortFirst {
  def apply(df: DataFrame, keys: Column*)(
      project: DataFrame => DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    project(
      df.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*))
  }

  /** Materialize, then sort — for outputs whose computation sits
    * DIRECTLY under the global orderBy with no shuffle boundary in
    * between (the doc-keyed session-cache layouts removed those
    * exchanges on purpose): the range partitioner's sampling pass
    * re-runs everything from the last shuffle boundary, i.e. the whole
    * per-doc aggregation/window, a second time. The checkpoint
    * materializes the output-sized frame once; the sampling pass
    * re-reads persisted blocks. The recompute→storage trade of guide
    * §5, applied at the output sort.
    *
    * Not lazy in effect: under AQE, `localCheckpoint(eager = false)`
    * runs every shuffle stage below the plan's last exchange while the
    * DataFrame is being built, so that work is paid by the caller's
    * construction, not by its first action.
    */
  def checkpointedSort(df: DataFrame, keys: Column*): DataFrame =
    df.localCheckpoint(eager = false).orderBy(keys: _*)
}
