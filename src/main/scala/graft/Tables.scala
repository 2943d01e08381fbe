package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Readers for the driver testdata tables (TESTDATA.md). One parquet file
  * per table under the scale-factor dir passed to every query.
  *
  * 100 TB posture: these reads are plain parquet scans, so Catalyst column
  * pruning + predicate pushdown reach the file scan (verify via
  * `.explain("formatted")` → `PushedFilters`/`ReadSchema`). At cluster
  * scale the same call works on a partitioned directory; nothing here
  * assumes a single file.
  */
object Tables {
  /** `dir/name.parquet`, read with its schema inferred once per
    * (session, dir, name) and given to every later read: an inferring
    * read starts a one-task footer job, and the queries read the same
    * tables again and again. A file rewritten with another schema under
    * the same dir in one session is read with the first schema.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = graft.queries.SessionCache.memo(spark, dir, s"schema:$name")(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = table(s, d, "events")

  /** `events` plus an exact epoch-MICROseconds `tus` column — the shared
    * integer time domain every event-time query (w1–w9, p13) computes in,
    * matching the DuckDB oracle's `epoch_us(ts)`.
    *
    * Schema-adaptive: a real user's parquet encodes event time one of
    * several ways, and the engine must not hard-code one physical
    * encoding (the round-7 lesson — the testdata flipped from
    * TIMESTAMP(NANOS) to timestamp[us] and every `ts div 1000` site
    * broke). Supported encodings, all landing in the same exact µs
    * domain:
    *   - BIGINT: epoch-nanos, the shape `spark.sql.legacy.parquet
    *     .nanosAsLong=true` yields for parquet TIMESTAMP(NANOS) files
    *     (the conf stays set in Verify/Bench/SparkSpec for back-compat);
    *     `ts div 1000` is exact integer division — a double `/` would
    *     round (1.7e18 ns exceeds double's 53-bit mantissa).
    *   - TIMESTAMP (LTZ): `unix_micros` reads the internal µs value
    *     directly.
    *   - TIMESTAMP_NTZ: cast to LTZ then `unix_micros`; the cast
    *     interprets the wall clock in the session time zone, which
    *     Verify/Bench/SparkSpec pin to UTC — exact, and identical to
    *     DuckDB's `epoch_us` on a naive timestamp.
    * Anything else fails loudly at plan time (a silent cast would
    * corrupt every downstream window).
    */
  def eventsUs(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val dt = e.schema("ts").dataType
    // The NTZ→LTZ cast interprets the wall clock in the session time
    // zone; anything but UTC silently shifts every event time, so fail
    // loudly here rather than emit wrong windows (GraftSession, the
    // session of every entry point and of the tests, sets UTC).
    if (dt == TimestampNTZType) {
      val tz = s.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"events.ts is TIMESTAMP_NTZ and the session time zone is '$tz': " +
          "the epoch-µs derivation is only exact under UTC — set " +
          "spark.sql.session.timeZone=UTC (as graft.GraftSession does)")
    }
    e.withColumn("tus", microsExpr(dt, "ts"))
  }

  /** The epoch-µs derivation for one event-time column (see `eventsUs`).
    * Factored out so specs and fixture-built frames reuse the exact
    * per-dtype rule the engine applies to the real table.
    */
  def microsExpr(dt: DataType, name: String): Column = dt match {
    case LongType          => expr(s"$name div 1000")
    case TimestampType     => unix_micros(col(name))
    case TimestampNTZType  => unix_micros(col(name).cast(TimestampType))
    case other => throw new IllegalArgumentException(
      s"events.$name: unsupported event-time type $other — expected " +
        "epoch-nanos BIGINT, TIMESTAMP, or TIMESTAMP_NTZ")
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
