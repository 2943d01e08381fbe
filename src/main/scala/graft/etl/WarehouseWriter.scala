package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's idempotent warehouse write patterns (SURVEY.md §2.1
  * E6/E13, §2.3 J4), re-expressed for an append-only columnar store:
  * MySQL `INSERT IGNORE` becomes dedup + anti-join-append; the point
  * UPDATE becomes a join-overwrite.
  *
  * 100 TB posture: both patterns shuffle only on the key columns;
  * the anti-join build side is the incoming batch (small), so AQE picks
  * a broadcast anti-join for typical micro-batches.
  */
object WarehouseWriter {

  /** `INSERT IGNORE` semantics (`lambda_2.py:205-238`,
    * `lambda_71.py:103-121`): rows of `incoming` whose key already
    * exists in `existing` are silently dropped; duplicates *within* the
    * batch keep the first row per key under `tieBreak` order (MySQL
    * keeps the first arriving row; a total order makes that
    * deterministic here).
    */
  def insertIgnore(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      tieBreak: Seq[String]): DataFrame =
    existing.unionByName(freshRows(existing, incoming, keys, tieBreak))

  /** The INSERT IGNORE core shared by the parquet union above and the
    * JDBC append (`JdbcWarehouse`): batch-dedup to the first row per key
    * under `tieBreak`, then anti-join away keys already present in
    * `existing`. Returns only the rows a sink should APPEND.
    */
  def freshRows(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      tieBreak: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(tieBreak.map(col): _*)
    val deduped = incoming
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    deduped.join(
      existing.select(keys.map(col): _*),
      keys,
      "left_anti")
  }

  /** Entity-table append (`lambda_2.py:73-82`): the reference's entity
    * dimension has NO unique key, so its INSERT IGNORE never dedups —
    * replays persist duplicate facts. Bug-for-bug preserved: plain
    * union, no dedup. Use `insertIgnore` with an explicit key for the
    * corrected variant.
    */
  def appendFacts(existing: DataFrame, incoming: DataFrame): DataFrame =
    existing.unionByName(incoming)

  /** E8 — idempotent DDL (`lambda_2.py:24-88,148-151`: five
    * `CREATE TABLE IF NOT EXISTS` issued on every metadata load): an
    * empty table with the declared schema registers in the session
    * catalog only if absent — repeat calls are no-ops, matching the
    * reference's every-invocation DDL.
    */
  def createTableIfNotExists(
      spark: SparkSession,
      name: String,
      schema: StructType): Unit =
    if (!spark.catalog.tableExists(name)) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
        .write.saveAsTable(name)
    }

  /** Data co-location (reference path layout
    * `{podcast}/{episode_id}/chunk_{n}` — `lambda_3.py:92,107-108`,
    * SURVEY §4's co-location row): hive-style partitioned parquet, so
    * per-episode reads prune to one directory and downstream joins on
    * the partition key skip non-matching files entirely.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Point update (`lambda_3.py:127-133`: `UPDATE episode_dimension SET
    * downloaded=TRUE, num_chunks=? WHERE episode_id=?`): no in-place
    * update in parquet — left-join the updates and coalesce per column.
    * `updates` must carry `key` plus a subset of `table`'s columns.
    * This returns the updated frame and commits nothing; the
    * transactional form of the same update, for readers running beside
    * writers, is a Delta MERGE: [[graft.sources.DeltaMerge.merge]], or
    * [[graft.sources.DeltaMerge.applyChanges]] with a `txn` so that a
    * redelivered batch commits nothing.
    */
  def pointUpdate(
      table: DataFrame,
      updates: DataFrame,
      key: String): DataFrame = {
    val updCols = updates.columns.filter(_ != key)
    val renamed = updates.columns.foldLeft(updates) { (df, c) =>
      if (c == key) df else df.withColumnRenamed(c, s"__upd_$c")
    }
    val joined = table.join(renamed, Seq(key), "left")
    updCols.foldLeft(joined) { (df, c) =>
      df.withColumn(c, coalesce(col(s"__upd_$c"), col(c)))
    }.drop(updCols.map(c => s"__upd_$c"): _*)
  }
}
