package graft.queries

import java.nio.file.{Files, Path, Paths}

import graft.sources.{DeltaExport, DeltaLog, DeltaScd2, IcebergExport, IcebergTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lakehouse readers under the HARD oracle gate (r13): the Delta and
  * Iceberg byte-level formats were spec-only — proven against this
  * repo's own assertions. These queries author a real table from the
  * driver's testdata in a dump phase (create + row-level deletes, so
  * the deletion-vector / position-delete / equality-delete read paths
  * are all on the hot path), then read it back; the DuckDB oracle
  * computes the same result from the ORIGINAL parquet minus the
  * deleted keys. A byte off in the DV codec, the manifest decode or
  * the sequence-number scoping now fails a correctness row, not just
  * a spec.
  *
  * Tables build once per session per sf-dir (same fit-once discipline
  * as the warehouse/centroid dumps) under `target/graft_lakehouse/`,
  * rebuilt fresh by a session's first build so stale tables from prior
  * rounds never leak in.
  */
object LakehouseScan {

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Build `kind` for `dir` once per session (`SessionCache.memo`: a
    * caller of another table never waits for this build); the first
    * build deletes whatever an earlier JVM left at the table's path.
    */
  private def buildOnce(spark: SparkSession, kind: String, dir: String)(
      f: String => Unit): String =
    SessionCache.memo(spark, dir, s"lake.$kind") {
      val sf = new java.io.File(dir).getName
      val t = graft.RepoPaths.target(s"graft_lakehouse/$sf/$kind")
      deleteRec(Paths.get(t))
      f(t)
      t
    }

  /** Delta table from `customer` with a deletion-vector row delete:
    * every `c_custkey % 7 == 0` row is DV-deleted (no file rewrite).
    */
  private def deltaCustomer(spark: SparkSession, dir: String): String =
    buildOnce(spark, "delta_customer", dir) { t =>
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
        .repartition(1).sortWithinPartitions("c_custkey")
      DeltaExport.create(cust, t)
      DeltaExport.deleteWhere(spark, t, col("c_custkey") % 7 === 0)
    }

  /** Iceberg v2 table from `orders` with BOTH merge-on-read delete
    * kinds: position deletes (`o_orderkey % 5 == 0`) and an equality
    * delete on the `o_custkey` values `% 10 == 3`.
    */
  private def icebergOrders(spark: SparkSession, dir: String): String =
    buildOnce(spark, "iceberg_orders", dir) { t =>
      // 8 data files, not 1: the scan parallelizes (a one-file table
      // reads single-task — measured 2.4 s vs ~0.4 s at sf0.1), the
      // position deletes name MULTIPLE files and the per-file
      // sequence-number attach is exercised across files
      val orders = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"))
        .repartition(8, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      IcebergExport.create(orders, t)
      IcebergExport.deleteWhere(spark, t, col("o_orderkey") % 5 === 0)
      val keys = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey")).filter(col("o_custkey") % 10 === 3)
        .distinct()
      IcebergExport.deleteWhereEquality(spark, t, keys)
    }

  /** Iceberg table from `lineitem` under a NON-IDENTITY partition
    * spec — `month(l_shipdate) × bucket[4](l_orderkey)` (the
    * production lakehouse table shape) — with an equality delete on
    * top, so the transform write path (spec murmur3 bucketing, hive
    * staging on derived values, typed transform partition structs)
    * sits under the hard oracle gate. Input pre-clustered by the
    * month so each partition dir gets ~one file, not one per task.
    */
  private def icebergLineitem(spark: SparkSession, dir: String): String =
    buildOnce(spark, "iceberg_lineitem", dir) { t =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_shipdate"))
        .repartition(16,
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))))
      IcebergExport.createWithSpec(li, t,
        Seq(("month", "l_shipdate"), ("bucket[4]", "l_orderkey")))
      IcebergExport.deleteWhereEquality(
        spark, t,
        spark.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_linenumber")).filter(col("l_linenumber") === 7)
          .distinct())
    }

  /** Iceberg FORMAT-VERSION 3 table from `supplier` with row lineage
    * and TWO puffin deletion-vector deletes (the second merges into
    * the first — the at-most-one-DV-per-file rewrite is on the hot
    * path). Written sorted by s_suppkey across 4 range files, so the
    * explicit `first_row_id` assignment makes `_row_id` equal the
    * global 0-based rank — which the DuckDB oracle can reproduce
    * with a window function, putting LINEAGE itself under the hash
    * gate, not just the surviving row set.
    */
  private def icebergV3Supplier(spark: SparkSession, dir: String): String =
    buildOnce(spark, "iceberg_v3_supplier", dir) { t =>
      val supp = spark.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        .repartitionByRange(4, col("s_suppkey"))
        .sortWithinPartitions("s_suppkey")
      IcebergExport.createV3(supp, t)
      IcebergExport.deleteWhereDv(spark, t, col("s_suppkey") % 3 === 0)
      IcebergExport.deleteWhereDv(spark, t, col("s_nationkey") === 5)
    }

  /** CDF-enabled Delta table from `customer` maintained by TWO
    * [[graft.sources.DeltaMerge]] commits — an upsert (every
    * `% 4 == 1` key updated, a `% 100 == 0`-derived set of new keys
    * inserted) and a matched DELETE (`% 10 == 5`, which intersects
    * the UPDATED keys, so the delete feed must carry post-update
    * values, not originals). Both the final state (x27) and the
    * change feed the merges authored as `cdc` files (x28) sit under
    * the hard oracle gate.
    */
  private def deltaMergeCustomer(spark: SparkSession, dir: String): String =
    buildOnce(spark, "delta_merge_customer", dir) { t =>
      import graft.sources.DeltaMerge
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
      DeltaExport.create(
        cust.repartition(4, col("c_custkey"))
          .sortWithinPartitions("c_custkey"),
        t, Nil, Map("delta.enableChangeDataFeed" -> "true"))
      val updates = cust.filter(col("c_custkey") % 4 === 1)
        .withColumn("c_name", concat(lit("U:"), col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      val inserts = cust.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("N:"), col("c_name")).as("c_name"),
          col("c_nationkey"), col("c_acctbal"))
      DeltaMerge.merge(spark, t, updates.unionByName(inserts),
        Seq("c_custkey"), Some(DeltaMerge.UpdateAll),
        insertNotMatched = true)
      DeltaMerge.merge(spark, t,
        cust.filter(col("c_custkey") % 10 === 5)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_acctbal")),
        Seq("c_custkey"), Some(DeltaMerge.DeleteMatched),
        insertNotMatched = false)
    }

  /** Iceberg table maintained by the SAME logical merge history as
    * [[deltaMergeCustomer]] — but written the Iceberg-native way:
    * ONE blind-upsert snapshot (equality-delete keys + new data
    * files at the same sequence number, no read, no rewrite) and one
    * equality delete. Copy-on-write Delta and merge-on-read Iceberg
    * must converge on the SAME final table.
    */
  private def icebergUpsertCustomer(spark: SparkSession, dir: String): String =
    buildOnce(spark, "iceberg_upsert_customer", dir) { t =>
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
      IcebergExport.create(
        cust.repartition(4, col("c_custkey"))
          .sortWithinPartitions("c_custkey"), t)
      val updates = cust.filter(col("c_custkey") % 4 === 1)
        .withColumn("c_name", concat(lit("U:"), col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      val inserts = cust.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("N:"), col("c_name")).as("c_name"),
          col("c_nationkey"), col("c_acctbal"))
      IcebergExport.mergeUpsert(spark, t, updates.unionByName(inserts),
        Seq("c_custkey"))
      IcebergExport.deleteWhereEquality(spark, t,
        cust.filter(col("c_custkey") % 10 === 5).select(col("c_custkey"))
          .distinct())
    }

  /** Partition-EVOLVED Iceberg table from `customer`: era 1 is
    * identity-partitioned on c_nationkey (so its data files LACK the
    * column — it must reconstruct from partition metadata), then the
    * spec evolves to bucket[4](c_custkey) and era 2 appends under the
    * new layout (c_nationkey in-file), with an equality delete
    * cutting across both eras. A reader that attaches the wrong
    * era's identity values — the exact bug a default-spec-only
    * reader has — fails the hash on c_nationkey itself.
    */
  private def icebergEvolvedCustomer(spark: SparkSession, dir: String): String =
    buildOnce(spark, "iceberg_evolved_customer", dir) { t =>
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
      IcebergExport.create(
        cust.filter(col("c_custkey") % 2 === 0)
          .repartition(2, col("c_custkey")), t,
        partitionBy = Seq("c_nationkey"))
      IcebergExport.updateSpec(t, Seq(("bucket[4]", "c_custkey")))
      IcebergExport.append(
        cust.filter(col("c_custkey") % 2 === 1)
          .repartition(2, col("c_custkey")), t)
      IcebergExport.deleteWhereEquality(spark, t,
        cust.filter(col("c_custkey") % 9 === 4).select(col("c_custkey"))
          .distinct())
    }

  /** The x32 table's construction followed by a CROSS-ERA RELAYOUT
    * ([[IcebergExport.rewriteToCurrentSpec]]): era-1 identity files
    * rewrite into the bucket[4] spec (c_nationkey materializing into
    * the data files), era-2 files carry by reference with the
    * equality delete still sequence-scoped onto them. The oracle is
    * x32's SQL VERBATIM — the relayout must be content-preserving
    * down to the hash.
    */
  private def icebergRelayoutCustomer(spark: SparkSession, dir: String): String =
    buildOnce(spark, "iceberg_relayout_customer", dir) { t =>
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
      IcebergExport.create(
        cust.filter(col("c_custkey") % 2 === 0)
          .repartition(2, col("c_custkey")), t,
        partitionBy = Seq("c_nationkey"))
      IcebergExport.updateSpec(t, Seq(("bucket[4]", "c_custkey")))
      IcebergExport.append(
        cust.filter(col("c_custkey") % 2 === 1)
          .repartition(2, col("c_custkey")), t)
      IcebergExport.deleteWhereEquality(spark, t,
        cust.filter(col("c_custkey") % 9 === 4).select(col("c_custkey"))
          .distinct())
      IcebergExport.rewriteToCurrentSpec(spark, t)
    }

  /** Row-tracking Delta customer: evens created at v0 (one sorted
    * file, row ids 0..nE-1), odds appended at v1 (ids nE..), a DV
    * delete at v2, then OPTIMIZE at v3 — so the scan reads ids
    * MATERIALIZED through the rewrite, commit versions preserved
    * (0 for evens, 1 for odds), dead ids absent. The oracle replays
    * the id assignment as row_number() over each parity in key order.
    */
  private def deltaRowTrackedCustomer(spark: SparkSession, dir: String): String =
    buildOnce(spark, "delta_rowtracked_customer", dir) { t =>
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
      DeltaExport.create(
        cust.filter(col("c_custkey") % 2 === 0)
          .orderBy(col("c_custkey")).coalesce(1), t, Nil,
        Map("delta.enableRowTracking" -> "true"))
      DeltaExport.append(
        cust.filter(col("c_custkey") % 2 === 1)
          .orderBy(col("c_custkey")).coalesce(1), t)
      DeltaExport.deleteWhere(spark, t, col("c_custkey") % 7 === 3)
      DeltaExport.compact(spark, t, 128L * 1024 * 1024)
    }

  /** Row-tracking Delta customer maintained by TWO
    * [[graft.sources.DeltaMerge]] commits (r15 — the MERGE
    * id-preservation path under the hard gate): evens at v0 (ids =
    * even-rank), odds at v1 (ids = nEvens + odd-rank), then an
    * UpdateAll+insert merge at v2 (every `% 4 == 1` key updated —
    * keeps its id, takes commit version 2; `% 100 == 0`-derived new
    * keys inserted — fresh ids past the watermark) and a matched
    * DELETE at v3 (`% 10 == 5`, retiring those ids forever).
    */
  private def deltaRtMergeCustomer(spark: SparkSession, dir: String): String =
    buildOnce(spark, "delta_rt_merge_customer", dir) { t =>
      import graft.sources.DeltaMerge
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
      DeltaExport.create(
        cust.filter(col("c_custkey") % 2 === 0)
          .orderBy(col("c_custkey")).coalesce(1), t, Nil,
        Map("delta.enableRowTracking" -> "true"))
      DeltaExport.append(
        cust.filter(col("c_custkey") % 2 === 1)
          .orderBy(col("c_custkey")).coalesce(1), t)
      val updates = cust.filter(col("c_custkey") % 4 === 1)
        .withColumn("c_name", concat(lit("U:"), col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      val inserts = cust.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("N:"), col("c_name")).as("c_name"),
          col("c_nationkey"), col("c_acctbal"))
      DeltaMerge.merge(spark, t, updates.unionByName(inserts),
        Seq("c_custkey"), Some(DeltaMerge.UpdateAll),
        insertNotMatched = true)
      DeltaMerge.merge(spark, t,
        cust.filter(col("c_custkey") % 10 === 5),
        Seq("c_custkey"), Some(DeltaMerge.DeleteMatched),
        insertNotMatched = false)
    }

  /** Iceberg customer table with a DIVERGED branch published by
    * [[IcebergExport.cherryPick]] (r15): evens at create, a branch
    * stages the `% 4 == 1` odds, main independently appends the
    * `% 8 == 3` odds (so fastForward refuses), then the cherry-pick
    * lands the branch's appends on main as one re-sequenced append
    * snapshot — zero data bytes moved.
    */
  private def icebergCherryCustomer(spark: SparkSession, dir: String): String =
    buildOnce(spark, "iceberg_cherry_customer", dir) { t =>
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
      IcebergExport.create(
        cust.filter(col("c_custkey") % 2 === 0)
          .repartition(2, col("c_custkey")), t)
      IcebergExport.createBranch(t, "wip")
      IcebergExport.appendToBranch(
        cust.filter(col("c_custkey") % 4 === 1)
          .repartition(2, col("c_custkey")), t, "wip")
      IcebergExport.append(
        cust.filter(col("c_custkey") % 8 === 3)
          .repartition(2, col("c_custkey")), t)
      IcebergExport.cherryPick(t, "wip")
    }

  /** Delta orders table REPLACED in place (r15 —
    * [[DeltaExport.replaceTable]]): created row-level, then replaced
    * with a per-customer aggregate under a DIFFERENT schema — the
    * read sees the new definition, time travel the old.
    */
  private def deltaReplacedOrders(spark: SparkSession, dir: String): String =
    buildOnce(spark, "delta_replaced_orders", dir) { t =>
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      DeltaExport.create(
        orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
          .repartition(2, col("o_orderkey")), t)
      // integer-cents sum — the oracle gotcha: double-sum order
      // dependence would make the hash engine-dependent
      val agg = orders.groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_price_cents"))
      DeltaExport.replaceTable(agg, t, Nil, Map("graft.kind" -> "agg"))
    }

  /** The Iceberg twin of [[deltaReplacedOrders]] (r15 —
    * [[IcebergExport.replaceTable]]): same row-level create, same
    * aggregate replacement, the OTHER format's replace machinery
    * (fresh field ids + fresh spec + replace snapshot vs Delta's
    * fresh metaData id) — both must converge on the same table.
    */
  private def icebergReplacedOrders(spark: SparkSession, dir: String): String =
    buildOnce(spark, "iceberg_replaced_orders", dir) { t =>
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      IcebergExport.create(
        orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
          .repartition(2, col("o_orderkey")), t)
      val agg = orders.groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_price_cents"))
      IcebergExport.replaceTable(agg.coalesce(2), t)
    }

  /** Iceberg customer table with position deletes CONVERTED to Delta
    * (r15 — [[DeltaExport.fromIceberg]], the reverse UniForm
    * direction): `_delta_log/` authored over the same files, the
    * position-delete parquet re-expressed as Delta deletion vectors.
    */
  private def ice2DeltaCustomer(spark: SparkSession, dir: String): String =
    buildOnce(spark, "ice2delta_customer", dir) { t =>
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
        .repartition(2, col("c_custkey"))
      IcebergExport.create(cust, t)
      IcebergExport.deleteWhere(spark, t, col("c_custkey") % 6 === 2)
      DeltaExport.fromIceberg(spark, t)
    }

  /** SCD2 dimension maintained by [[DeltaScd2.merge]] over THREE
    * chronological observation batches of the events stream (tercile
    * time splits) — the MERGE-produced Delta table w23 PIT-reads, so
    * the write path and the as-of read path certify each other.
    */
  private def scd2Dim(spark: SparkSession, dir: String): String =
    buildOnce(spark, "scd2_dim", dir) { t =>
      val ev = graft.Tables.eventsUs(spark, dir)
        .select(col("user_id"), col("event_type"), col("tus"),
          col("event_id"))
      val r = ev.agg(min(col("tus")), max(col("tus"))).head()
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      val (b1, b2) = (mn + (mx - mn) / 3, mn + 2 * ((mx - mn) / 3))
      DeltaScd2.merge(spark, t, ev.filter(col("tus") < b1))
      DeltaScd2.merge(spark, t,
        ev.filter(col("tus") >= b1 && col("tus") < b2))
      DeltaScd2.merge(spark, t, ev.filter(col("tus") >= b2))
    }

  /** Pre-build all tables — Verify's dump phase calls this BEFORE the
    * query pass so first-query latency never includes a table build.
    */
  def dumpTables(spark: SparkSession, dir: String): Unit = {
    deltaCustomer(spark, dir)
    deltaMappedCustomer(spark, dir)
    deltaSqlMergeCustomer(spark, dir)
    deltaSqlDmlCustomer(spark, dir)
    deltaMergeCustomer(spark, dir)
    icebergUpsertCustomer(spark, dir)
    icebergEvolvedCustomer(spark, dir)
    icebergRelayoutCustomer(spark, dir)
    deltaRowTrackedCustomer(spark, dir)
    deltaRtMergeCustomer(spark, dir)
    icebergCherryCustomer(spark, dir)
    deltaReplacedOrders(spark, dir)
    icebergReplacedOrders(spark, dir)
    ice2DeltaCustomer(spark, dir)
    icebergOrders(spark, dir)
    icebergLineitem(spark, dir)
    icebergV3Supplier(spark, dir)
    scd2Dim(spark, dir)
  }

  /** x22 — Delta scan through `DeltaLog.read` (the `graft-delta`
    * scan: log replay, deletion vectors applied per file on the
    * executors), filtered and ordered. Oracle: the original customer
    * parquet minus the DV-deleted keys.
    */
  def deltaScan(spark: SparkSession, dir: String): DataFrame =
    DeltaLog.read(spark, deltaCustomer(spark, dir))
      .filter(col("c_nationkey") < 13)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
      .orderBy(col("c_custkey"))

  /** x23 — Iceberg v2 scan through manifest replay + BOTH
    * merge-on-read delete kinds (position anti-join on
    * (path, row_index); equality anti-join on o_custkey scoped by
    * sequence number). Oracle: the original orders parquet minus both
    * deleted sets.
    */
  def icebergScan(spark: SparkSession, dir: String): DataFrame =
    IcebergTable.read(spark, icebergOrders(spark, dir))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  /** Delta table from `supplier` exercising TYPE WIDENING + IN-COMMIT
    * TIMESTAMPS (r16): created ICT-enabled with `s_suppkey` narrowed
    * to INT32, widened to BIGINT at version 1, then the odd keys
    * appended as INT64 — so the read path promotes the narrow era's
    * files per file while every commit carries a monotonic
    * `inCommitTimestamp`.
    */
  private def deltaWidenedSupplier(spark: SparkSession, dir: String): String =
    buildOnce(spark, "delta_widened_supplier", dir) { t =>
      val sup = spark.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      graft.sources.DeltaExport.create(
        sup.filter(col("s_suppkey") % 2 === 0)
          .select(col("s_suppkey").cast("int").as("s_suppkey"),
            col("s_name"), col("s_nationkey"))
          .repartition(1).sortWithinPartitions("s_suppkey"),
        t, Nil, Map("delta.enableInCommitTimestamps" -> "true"))
      graft.sources.DeltaExport.widenColumnType(spark, t, "s_suppkey",
        org.apache.spark.sql.types.LongType)
      graft.sources.DeltaExport.append(
        sup.filter(col("s_suppkey") % 2 === 1)
          .repartition(1).sortWithinPartitions("s_suppkey"), t)
    }

  /** x42 — the widened ICT table read back (both file eras, the
    * INT32 one promoted at scan). Oracle: the whole original supplier
    * parquet — a lost row, a miscast key or a double-read era fails
    * the hash.
    */
  def deltaWidenedScan(spark: SparkSession, dir: String): DataFrame =
    DeltaLog.read(spark, deltaWidenedSupplier(spark, dir))
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      .orderBy(col("s_suppkey"))

  /** Delta table from `events` whose `props` JSON payload is stored
    * as a native VARIANT column (`parse_json` at write; the open
    * variant binary encoding in the files; protocol declares the
    * `variantType` feature both sides — r16).
    */
  private def deltaVariantEvents(spark: SparkSession, dir: String): String =
    buildOnce(spark, "delta_variant_events", dir) { t =>
      val ev = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"), col("user_id"), col("value"),
          parse_json(col("props")).as("props_v"),
          col("event_id"))
        .repartition(4, col("event_id")).sortWithinPartitions("event_id")
        .drop("event_id")
      graft.sources.DeltaExport.create(ev, t)
    }

  /** x43 — x5's semi-structured extraction replayed over BINARY
    * VARIANT instead of JSON strings: `variant_get` pulls the typed
    * field out of the variant column, then the same exact-cents
    * aggregate. Held to x5's oracle SQL (DuckDB extracts from the
    * original JSON) — a byte off in the variant encode/decode or a
    * lost null fails the hash.
    */
  def variantExtract(spark: SparkSession, dir: String): DataFrame =
    DeltaLog.read(spark, deltaVariantEvents(spark, dir))
      .select(
        col("event_type"),
        variant_get(col("props_v"), "$.k", "long").as("k"),
        col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_value_cents"))
      .orderBy(col("event_type"))

  /** x43's twin table with the variant column SHREDDED (r17): the
    * Parquet Variant Shredding `typed_value` layout under an explicit
    * shredding schema, `variantShredding-preview` declared.
    */
  private def deltaShreddedEvents(spark: SparkSession, dir: String): String =
    buildOnce(spark, "delta_variant_shredded", dir) { t =>
      val ev = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"), col("user_id"), col("value"),
          parse_json(col("props")).as("props_v"),
          col("event_id"))
        .repartition(4, col("event_id")).sortWithinPartitions("event_id")
        .drop("event_id")
      graft.sources.DeltaExport.createShredded(ev, t)
    }

  /** x50 — x43's extraction over the SHREDDED table (r17): `$.k`
    * lives ONLY in the shredded `typed_value` subcolumn of these
    * files (the raw `value` field is null for it), so a reader that
    * did not REBUILD per the Variant Shredding spec would sum nulls
    * and fail the hash. Held to x43's oracle SQL verbatim — shredded
    * and unshredded layouts, one result.
    */
  def shreddedVariantExtract(spark: SparkSession, dir: String): DataFrame =
    DeltaLog.read(spark, deltaShreddedEvents(spark, dir))
      .select(
        col("event_type"),
        variant_get(col("props_v"), "$.k", "long").as("k"),
        col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_value_cents"))
      .orderBy(col("event_type"))

  /** x44 — x22 replayed through the PURE-SQL surface: the
    * [[graft.sources.dsv2.GraftCatalog]] resolves
    * `graft.delta.`path`` and the whole query — projection, WHERE,
    * ORDER BY — runs as SQL text over the DSv2 table (planner
    * pushdown included). Held to x22's oracle SQL verbatim: three
    * surfaces (`DeltaLog.read`, `spark.read.format`, SQL) over one
    * scan, one byte-identical result.
    */
  def sqlCatalogScan(spark: SparkSession, dir: String): DataFrame = {
    val t = deltaCustomer(spark, dir)
    spark.conf.set(
      "spark.sql.catalog.graft", "graft.sources.dsv2.GraftCatalog")
    spark.sql(
      s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal
          FROM graft.delta.`$t`
          WHERE c_nationkey < 13
          ORDER BY c_custkey""")
  }

  /** NAME-MODE COLUMN-MAPPED Delta table from `customer` (r17) —
    * authored exactly as delta-spark leaves a table after
    * `ALTER TABLE ... RENAME COLUMN`: the parquet files carry stable
    * PHYSICAL column names, the schemaString's field metadata maps
    * them to the logical names, protocol v2 with
    * `delta.columnMapping.mode=name`.
    */
  private def deltaMappedCustomer(spark: SparkSession, dir: String): String =
    buildOnce(spark, "delta_mapped_customer", dir) { t =>
      import org.apache.spark.sql.types._
      val phys = Seq(
        ("c_custkey", 1L, "col-1key"), ("c_name", 2L, "col-2name"),
        ("c_nationkey", 3L, "col-3nat"), ("c_acctbal", 4L, "col-4bal"))
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(phys.map { case (n, _, p) => col(n).as(p) }: _*)
        .repartition(2, col("col-1key"))
      val stage = Paths.get(t, "_stage")
      cust.write.parquet(stage.toString)
      Files.createDirectories(Paths.get(t))
      val parts = {
        val s = Files.list(stage)
        try {
          val it = s.iterator()
          val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
          while (it.hasNext) { val q = it.next(); if (
            q.getFileName.toString.endsWith(".parquet")) buf += q }
          buf.sortBy(_.getFileName.toString).toSeq
        } finally s.close()
      }
      val rels = parts.zipWithIndex.map { case (q, i) =>
        val rel = s"f$i.parquet"
        Files.move(q, Paths.get(t, rel))
        rel
      }
      val origin = spark.read.parquet(s"$dir/customer.parquet").schema
      val schema = StructType(phys.map { case (n, id, p) =>
        StructField(n, origin(n).dataType, nullable = true,
          new MetadataBuilder()
            .putLong("delta.columnMapping.id", id)
            .putString("delta.columnMapping.physicalName", p)
            .build())
      })
      val ss = schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
      val adds = rels.map { rel =>
        val size = Files.size(Paths.get(t, rel))
        s"""{"add":{"path":"$rel","partitionValues":{},"size":$size,"modificationTime":$size,"dataChange":true}}"""
      }
      val logDir = Paths.get(t, "_delta_log")
      Files.createDirectories(logDir)
      Files.write(logDir.resolve(f"${0L}%020d.json"),
        (Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"x45-mapped","format":{"provider":"parquet","options":{}},"schemaString":"$ss","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"4"},"createdTime":1700000000000}}""") ++
          adds :+ """{"commitInfo":{"operation":"CREATE"}}""")
          .mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  /** x45 — x22's projection over the COLUMN-MAPPED table through the
    * DSv2 path: physical parquet names resolve to logical columns at
    * every level of the scan (read schema, stats, partition values).
    * Oracle: the original customer parquet — one mis-mapped column
    * fails the hash on its own values.
    */
  def deltaMappedScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-delta").load(deltaMappedCustomer(spark, dir))
      .filter(col("c_nationkey") < 13)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
      .orderBy(col("c_custkey"))

  /** x46 — x32's partition-EVOLVED table read THROUGH DSV2 (r17):
    * era-1 files attach c_nationkey from their own spec's partition
    * metadata, era-2 files read it in-file, the equality delete
    * applies per-file sequence-scoped inside the partition readers.
    * Held to x32's oracle SQL VERBATIM.
    */
  def icebergEvolvedDsv2Scan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-iceberg")
      .load(icebergEvolvedCustomer(spark, dir))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
      .orderBy(col("c_custkey"))

  private def graftCat(spark: SparkSession): Unit =
    spark.conf.set(
      "spark.sql.catalog.graft", "graft.sources.dsv2.GraftCatalog")

  /** The x27 merge history replayed as PURE SQL `MERGE INTO` through
    * the catalog (r17): the [[graft.sources.dsv2.GraftDmlRule]]
    * analyzer rewrite routes both statements into
    * [[graft.sources.DeltaMerge.merge]] — same writer, third entry
    * point (bespoke API → x27, SQL → here).
    */
  private def deltaSqlMergeCustomer(spark: SparkSession, dir: String): String =
    buildOnce(spark, "delta_sql_merge_customer", dir) { t =>
      graftCat(spark)
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
      DeltaExport.create(
        cust.repartition(4, col("c_custkey"))
          .sortWithinPartitions("c_custkey"),
        t, Nil, Map("delta.enableChangeDataFeed" -> "true"))
      val updates = cust.filter(col("c_custkey") % 4 === 1)
        .withColumn("c_name", concat(lit("U:"), col("c_name")))
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      val inserts = cust.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("N:"), col("c_name")).as("c_name"),
          col("c_nationkey"), col("c_acctbal"))
      updates.unionByName(inserts).createOrReplaceTempView("x47_src1")
      spark.sql(
        s"""MERGE INTO graft.delta.`$t` AS t USING x47_src1 AS s
            ON t.c_custkey = s.c_custkey
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
      cust.filter(col("c_custkey") % 10 === 5)
        .createOrReplaceTempView("x47_src2")
      spark.sql(
        s"""MERGE INTO graft.delta.`$t` AS t USING x47_src2 AS s
            ON t.c_custkey = s.c_custkey
            WHEN MATCHED THEN DELETE""")
    }

  /** x47 — the SQL-merged table's final state, read back as SQL.
    * Held to x27's oracle SQL VERBATIM: bespoke-API merge and SQL
    * MERGE INTO must converge byte-identically.
    */
  def sqlMergeScan(spark: SparkSession, dir: String): DataFrame = {
    val t = deltaSqlMergeCustomer(spark, dir)
    graftCat(spark)
    spark.sql(
      s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal
          FROM graft.delta.`$t`
          ORDER BY c_custkey""")
  }

  /** Customer table maintained by pure SQL `UPDATE` (DV-growing
    * single commit through [[graft.sources.DeltaUpdate]]) and
    * `DELETE FROM` (r17).
    */
  private def deltaSqlDmlCustomer(spark: SparkSession, dir: String): String =
    buildOnce(spark, "delta_sql_dml_customer", dir) { t =>
      graftCat(spark)
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
      DeltaExport.create(
        cust.repartition(4, col("c_custkey"))
          .sortWithinPartitions("c_custkey"), t)
      spark.sql(
        s"""UPDATE graft.delta.`$t`
            SET c_name = concat('U:', c_name),
                c_acctbal = c_acctbal + 100.0
            WHERE c_custkey % 4 = 1""")
      spark.sql(
        s"""DELETE FROM graft.delta.`$t` WHERE c_custkey % 10 = 5""")
    }

  /** x48 — the SQL UPDATE + DELETE table read back as SQL. Oracle:
    * the same two statements replayed over the original parquet — a
    * row double-emitted by the UPDATE's DV+append pair, or a
    * mis-grown deletion vector, fails rows or the hash.
    */
  def sqlDmlScan(spark: SparkSession, dir: String): DataFrame = {
    val t = deltaSqlDmlCustomer(spark, dir)
    graftCat(spark)
    spark.sql(
      s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal
          FROM graft.delta.`$t`
          ORDER BY c_custkey""")
  }

  /** x40 — x22 replayed THROUGH THE DATASOURCEV2 PATH
    * (`spark.read.format("graft-delta")`, r16): the same DV-deleted
    * customer table read the way a PLAIN Spark user reads it, filter
    * and projection planner-pushed (file skipping asserted in
    * Dsv2ReadSpec). Held to x22's oracle SQL VERBATIM — the format
    * reader and the `DeltaLog.read` wrapper must give the
    * byte-identical result.
    */
  def deltaDsv2Scan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-delta").load(deltaCustomer(spark, dir))
      .filter(col("c_nationkey") < 13)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
      .orderBy(col("c_custkey"))

  /** x41 — x23 replayed through the DSv2 path
    * (`spark.read.format("graft-iceberg")`): manifest-planned scan,
    * position deletes dropped per-file by row index, equality deletes
    * applied per-row seq-scoped inside the partition readers. Held to
    * x23's oracle SQL verbatim.
    */
  def icebergDsv2Scan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-iceberg").load(icebergOrders(spark, dir))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  /** x49 — x29's CHANGELOG read THROUGH DSv2 (r17:
    * `readChangeFeed=true` on `graft-iceberg`): the CDF planner's
    * slices — inserts through the snapshot's own MoR state, the
    * position delete as an executor-diffed keep set, the equality
    * delete as eqKeep admission over parent-live rows — must converge
    * with the DataFrame changelog reader, so this row is held to
    * x29's DuckDB SQL VERBATIM.
    */
  def icebergDsv2CdfScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-iceberg")
      .option("readChangeFeed", "true")
      .load(icebergOrders(spark, dir))
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"),
        col("_change_type").as("change_type"),
        col("_change_ordinal").as("change_ordinal"))
      .orderBy(col("change_ordinal"), col("o_orderkey"))

  /** w23 — w22's point-in-time enrichment reading the REAL
    * MERGE-maintained Delta dimension (not the in-memory w21 frame):
    * each purchase joins to the SCD2 version in effect strictly
    * before it via the native as-of operator. Batch-merged history
    * equals the from-scratch w21 derivation (pinned by
    * DeltaScd2Spec), so the oracle is w22's SQL minus the per-version
    * event count a merge cannot see.
    */
  def scd2DeltaPit(spark: SparkSession, dir: String): DataFrame = {
    val dim = DeltaLog.read(spark, scd2Dim(spark, dir))
      .select(
        col("user_id").as("v_user"), col("valid_from_us"), col("version"),
        col("event_type").as("state_type"))
    val purchases = graft.Tables.eventsUs(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"), (col("tus") - 1L).as("asof_us"),
        col("event_id").as("purchase_id"), col("tus").as("purchase_us"))
    graft.plans.AsofJoin.asof(purchases, dim)
      .select(
        col("user_id"), col("purchase_id"), col("purchase_us"),
        col("version"), col("state_type"))
      .orderBy(col("purchase_id"))
  }

  /** x24 — scan of the month×bucket TRANSFORM-partitioned Iceberg
    * table: 84 months × 4 spec-murmur3 buckets of hive dirs, the
    * equality delete applied, aggregated per order. Oracle: the
    * original lineitem parquet minus the deleted line numbers. A
    * wrong bucket hash, a mis-derived month dir or a dropped
    * transform field in any later commit's spec now fails a
    * correctness row.
    */
  def transformScan(spark: SparkSession, dir: String): DataFrame =
    IcebergTable.read(spark, icebergLineitem(spark, dir))
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_orderkey"))

  /** x25 — Iceberg v3 scan: puffin deletion vectors applied (two
    * merged generations) AND the row-lineage columns read back.
    * Oracle: the original supplier parquet minus both deleted sets,
    * with `_row_id` reproduced as the 0-based global s_suppkey rank
    * over the PRE-delete table (survivors keep their original ids —
    * exactly the lineage contract).
    */
  def icebergV3Scan(spark: SparkSession, dir: String): DataFrame =
    IcebergTable.readLineage(spark, icebergV3Supplier(spark, dir))
      .select(
        col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("_row_id").as("row_id"),
        col("_last_updated_sequence_number").as("last_seq"))
      .orderBy(col("s_suppkey"))

  /** x26 — Delta CHANGE DATA FEED over the x22 table's history: the
    * create's rows feed as version-0 inserts, the deletion-vector
    * delete as version-1 deletes of exactly the newly-marked
    * positions. Oracle: the original customer parquet stamped with
    * both change kinds. A drifted DV diff or a double-counted file
    * action fails the hash, not just a spec.
    */
  def deltaCdfScan(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DeltaCdf
      .readChangeFeed(spark, deltaCustomer(spark, dir), 0L)
      .select(
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"),
        col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"))
      .orderBy(col("commit_version"), col("c_custkey"))

  /** x27 — the MERGE-maintained table's final state: upsert (update
    * + insert) then matched-delete, read through the log replay.
    * Oracle: the same two merges replayed in SQL over the original
    * customer parquet. A merge that loses carried rows, resurrects a
    * deleted one or mis-rewrites a touched file fails the hash.
    */
  def deltaMergeScan(spark: SparkSession, dir: String): DataFrame =
    DeltaLog.read(spark, deltaMergeCustomer(spark, dir))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
      .orderBy(col("c_custkey"))

  /** x28 — the change feed the two MERGEs authored as `cdc` change
    * files (not computed from file actions — [[graft.sources.DeltaCdf]]
    * takes cdc verbatim): update_preimage/update_postimage pairs and
    * inserts at version 1, deletes at version 2 carrying POST-update
    * values for the keys the first merge touched. The write side of
    * CDF under the hard gate.
    */
  def deltaMergeCdfScan(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DeltaCdf
      .readChangeFeed(spark, deltaMergeCustomer(spark, dir), 1L, Some(2L))
      .select(
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"),
        col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"))
      .orderBy(col("commit_version"), col("change_type"), col("c_custkey"))

  /** x29 — the Iceberg CHANGELOG of the x23 orders table's history:
    * create feeds ordinal-0 inserts, the position delete feeds
    * exactly its rows at ordinal 1, the equality delete feeds the
    * rows its keys still found LIVE at ordinal 2 (already-dead
    * positions excluded — the newly-dead diff is what's gated).
    * Oracle: the original orders parquet stamped with the three
    * change sets.
    */
  def icebergChangelogScan(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergChangelog
      .changelog(spark, icebergOrders(spark, dir))
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"),
        col("_change_type").as("change_type"),
        col("_change_ordinal").as("change_ordinal"))
      .orderBy(col("change_ordinal"), col("o_orderkey"))

  /** x30 — the changelog of the x25 v3 supplier table: the two
    * MERGED deletion-vector generations must diff per referenced
    * file, so ordinal 2 feeds only the POSITIONS the second delete
    * newly marked (s_nationkey=5 minus the s_suppkey%3=0 rows already
    * dead) — a DV diff off by one position fails the hash.
    */
  def icebergV3ChangelogScan(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergChangelog
      .changelog(spark, icebergV3Supplier(spark, dir))
      .select(
        col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("_change_type").as("change_type"),
        col("_change_ordinal").as("change_ordinal"))
      .orderBy(col("change_ordinal"), col("s_suppkey"))

  /** x31 — the Iceberg-native twin of x27: the SAME logical merge
    * history (upsert then key-delete) written as ONE blind-upsert
    * snapshot + an equality delete, merge-on-read all the way. The
    * oracle SQL is x27's verbatim — copy-on-write Delta and
    * merge-on-read Iceberg must converge on the same table, and the
    * sequence-number scoping that makes the upsert's own rows
    * survive its own delete is what the hash now gates.
    */
  def icebergUpsertScan(spark: SparkSession, dir: String): DataFrame =
    IcebergTable.read(spark, icebergUpsertCustomer(spark, dir))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
      .orderBy(col("c_custkey"))

  /** x32 — scan of the partition-EVOLVED table: era-1 rows carry a
    * metadata-reconstructed c_nationkey, era-2 rows a file-read one,
    * and the equality delete spans both. Oracle: the original parquet
    * minus the deleted keys — indistinguishable from an unevolved
    * table, which is the point.
    */
  def icebergEvolvedScan(spark: SparkSession, dir: String): DataFrame =
    IcebergTable.read(spark, icebergEvolvedCustomer(spark, dir))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
      .orderBy(col("c_custkey"))

  /** x33 — the evolved table AFTER [[IcebergExport.rewriteToCurrentSpec]]:
    * same projection, same oracle as x32 — the relayout is proven
    * content-preserving through the DuckDB hash (x31's convergence
    * pattern).
    */
  def icebergRelayoutScan(spark: SparkSession, dir: String): DataFrame =
    IcebergTable.read(spark, icebergRelayoutCustomer(spark, dir))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
      .orderBy(col("c_custkey"))

  /** x34 — Delta ROW TRACKING under the hard gate: `_row_id` itself
    * (and `_row_commit_version`) hash-checked against the oracle's
    * row_number() replay, THROUGH a DV delete and a materializing
    * OPTIMIZE. A rewrite that re-identified or resurrected one row
    * fails the hash.
    */
  def deltaRowIdsScan(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DeltaRowTracking.readRowIds(
      spark, deltaRowTrackedCustomer(spark, dir))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"),
        col("_row_id").as("row_id"),
        col("_row_commit_version").as("row_commit"))
      .orderBy(col("c_custkey"))

  /** x35 — row tracking through MERGE under the hard gate: updated
    * rows must keep their exact pre-merge `_row_id` while taking the
    * merge commit's version, carried rows keep both, deleted ids
    * vanish, and inserted rows' ids — whose physical placement is
    * layout-dependent — are hash-gated as the PREDICATE "fresh: above
    * the pre-merge watermark" (deterministic where the raw value is
    * not). The oracle replays the id assignment and both merges in
    * SQL.
    */
  def deltaRtMergeScan(spark: SparkSession, dir: String): DataFrame = {
    val t = deltaRtMergeCustomer(spark, dir)
    // the pre-merge watermark: every customer row got one id
    val hwm = spark.read.parquet(s"$dir/customer.parquet").count() - 1
    graft.sources.DeltaRowTracking.readRowIds(spark, t)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"),
        when(col("c_custkey") >= 1000000L,
          (col("_row_id") > lit(hwm)).cast("bigint"))
          .otherwise(col("_row_id")).as("row_id"),
        col("_row_commit_version").as("row_commit"))
      .orderBy(col("c_custkey"))
  }

  /** x36 — the cherry-picked table: main must hold evens + both odd
    * sets exactly once (a duplicated pick fails rows, a dropped
    * manifest fails the hash), indistinguishable from having appended
    * them directly — which is the point.
    */
  def icebergCherryScan(spark: SparkSession, dir: String): DataFrame =
    IcebergTable.read(spark, icebergCherryCustomer(spark, dir))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
      .orderBy(col("c_custkey"))

  /** x37 — the replaced table's final definition: the per-customer
    * aggregate, read through the log replay after REPLACE swapped
    * schema + content in one commit.
    */
  def deltaReplaceScan(spark: SparkSession, dir: String): DataFrame =
    DeltaLog.read(spark, deltaReplacedOrders(spark, dir))
      .select(col("o_custkey"), col("n_orders"), col("sum_price_cents"))
      .orderBy(col("o_custkey"))

  /** x38 — the Iceberg-native replace, held to x37's oracle SQL
    * VERBATIM: copy-on-write Delta REPLACE and snapshot-swap Iceberg
    * REPLACE must converge on the same table (the x27/x31 convergence
    * pattern applied to full redefinition).
    */
  def icebergReplaceScan(spark: SparkSession, dir: String): DataFrame =
    IcebergTable.read(spark, icebergReplacedOrders(spark, dir))
      .select(col("o_custkey"), col("n_orders"), col("sum_price_cents"))
      .orderBy(col("o_custkey"))

  /** x39 — the converted table read through the DELTA log (the
    * Iceberg-authored rows + DV-converted position deletes under the
    * hard gate): one mis-converted position resurrects or loses a row
    * and fails the hash.
    */
  def ice2DeltaScan(spark: SparkSession, dir: String): DataFrame =
    DeltaLog.read(spark, ice2DeltaCustomer(spark, dir))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
      .orderBy(col("c_custkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x39_iceberg_to_delta" -> ice2DeltaScan,
    "x38_iceberg_replace" -> icebergReplaceScan,
    "x36_iceberg_cherry_pick" -> icebergCherryScan,
    "x37_delta_replace" -> deltaReplaceScan,
    "x35_delta_rt_merge" -> deltaRtMergeScan,
    "x34_delta_row_ids" -> deltaRowIdsScan,
    "x33_iceberg_relayout" -> icebergRelayoutScan,
    "x22_delta_scan" -> deltaScan,
    "x27_delta_merge" -> deltaMergeScan,
    "x28_delta_merge_cdf" -> deltaMergeCdfScan,
    "x31_iceberg_upsert" -> icebergUpsertScan,
    "x32_iceberg_evolved" -> icebergEvolvedScan,
    "x29_iceberg_changelog" -> icebergChangelogScan,
    "x30_iceberg_v3_changelog" -> icebergV3ChangelogScan,
    "x26_delta_cdf" -> deltaCdfScan,
    "x23_iceberg_scan" -> icebergScan,
    "x24_transform_scan" -> transformScan,
    "x25_iceberg_v3_scan" -> icebergV3Scan,
    "x40_dsv2_delta_scan" -> deltaDsv2Scan,
    "x41_dsv2_iceberg_scan" -> icebergDsv2Scan,
    "x49_dsv2_iceberg_cdf" -> icebergDsv2CdfScan,
    "x45_dsv2_column_mapped" -> deltaMappedScan,
    "x46_dsv2_iceberg_evolved" -> icebergEvolvedDsv2Scan,
    "x47_sql_merge" -> sqlMergeScan,
    "x48_sql_update_delete" -> sqlDmlScan,
    "x42_delta_widened" -> deltaWidenedScan,
    "x43_variant_extract" -> variantExtract,
    "x50_shredded_variant" -> shreddedVariantExtract,
    "x44_sql_catalog_scan" -> sqlCatalogScan,
    "w23_scd2_delta_pit" -> scd2DeltaPit)

  val oracleSql: Map[String, String] = Map(
    // x40/x41/x44: the DSv2 + SQL read paths held to x22's / x23's
    // SQL VERBATIM
    "x44_sql_catalog_scan" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
         FROM customer
         WHERE c_custkey % 7 <> 0 AND c_nationkey < 13
         ORDER BY c_custkey""",
    "x40_dsv2_delta_scan" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
         FROM customer
         WHERE c_custkey % 7 <> 0 AND c_nationkey < 13
         ORDER BY c_custkey""",
    // x45: the mapped table holds the FULL customer set (mapping is
    // metadata; no delete in its history)
    "x45_dsv2_column_mapped" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
         FROM customer
         WHERE c_nationkey < 13
         ORDER BY c_custkey""",
    // x46: x32's oracle SQL verbatim — the DSv2 multi-era read must
    // converge byte-identically with the bespoke era resolution
    "x46_dsv2_iceberg_evolved" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
         FROM customer
         WHERE c_custkey % 9 <> 4
         ORDER BY c_custkey""",
    // x47: x27's oracle SQL VERBATIM — bespoke merge and SQL MERGE
    // INTO converge
    "x47_sql_merge" ->
      """WITH v1 AS (
           SELECT c_custkey,
                  CASE WHEN c_custkey % 4 = 1
                       THEN 'U:' || c_name ELSE c_name END AS c_name,
                  c_nationkey,
                  CASE WHEN c_custkey % 4 = 1
                       THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
           FROM customer
           UNION ALL
           SELECT c_custkey + 1000000, 'N:' || c_name, c_nationkey, c_acctbal
           FROM customer WHERE c_custkey % 100 = 0)
         SELECT c_custkey, c_name, c_nationkey, c_acctbal
         FROM v1 WHERE c_custkey % 10 <> 5
         ORDER BY c_custkey""",
    // x48: SQL UPDATE + DELETE replayed over the original parquet
    "x48_sql_update_delete" ->
      """SELECT c_custkey,
                CASE WHEN c_custkey % 4 = 1
                     THEN 'U:' || c_name ELSE c_name END AS c_name,
                c_nationkey,
                CASE WHEN c_custkey % 4 = 1
                     THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
         FROM customer
         WHERE c_custkey % 10 <> 5
         ORDER BY c_custkey""",
    "x41_dsv2_iceberg_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
         FROM orders
         WHERE o_orderkey % 5 <> 0 AND o_custkey % 10 <> 3
         ORDER BY o_orderkey""",
    // x49: x29's oracle SQL VERBATIM — the DSv2 CDF read and the
    // DataFrame changelog reader are pinned to the same bytes
    "x49_dsv2_iceberg_cdf" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                'insert' AS change_type, CAST(0 AS INTEGER) AS change_ordinal
         FROM orders
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                'delete', CAST(1 AS INTEGER)
         FROM orders WHERE o_orderkey % 5 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                'delete', CAST(2 AS INTEGER)
         FROM orders WHERE o_custkey % 10 = 3 AND o_orderkey % 5 <> 0
         ORDER BY change_ordinal, o_orderkey""",
    "x42_delta_widened" ->
      """SELECT s_suppkey, s_name, s_nationkey
         FROM supplier
         ORDER BY s_suppkey""",
    // x43: x5's oracle shape verbatim — DuckDB extracts from the
    // original JSON strings, the engine from the variant binaries
    "x43_variant_extract" ->
      """SELECT event_type,
                COUNT(*) AS n_events,
                CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    // x50: x43's oracle SQL VERBATIM — shredded files, same result
    "x50_shredded_variant" ->
      """SELECT event_type,
                COUNT(*) AS n_events,
                CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    "x39_iceberg_to_delta" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
         FROM customer
         WHERE c_custkey % 6 <> 2
         ORDER BY c_custkey""",
    "x38_iceberg_replace" ->
      """SELECT o_custkey,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_price_cents
         FROM orders
         GROUP BY o_custkey
         ORDER BY o_custkey""",
    "x36_iceberg_cherry_pick" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
         FROM customer
         WHERE c_custkey % 2 = 0 OR c_custkey % 4 = 1
            OR c_custkey % 8 = 3
         ORDER BY c_custkey""",
    "x37_delta_replace" ->
      """SELECT o_custkey,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_price_cents
         FROM orders
         GROUP BY o_custkey
         ORDER BY o_custkey""",
    "x35_delta_rt_merge" ->
      """WITH ids AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                  CAST(row_number() OVER (
                    PARTITION BY c_custkey % 2 ORDER BY c_custkey) - 1
                    + CASE WHEN c_custkey % 2 = 1
                        THEN (SELECT count(*) FROM customer
                              WHERE c_custkey % 2 = 0)
                        ELSE 0 END AS BIGINT) AS rid,
                  CAST(c_custkey % 2 AS BIGINT) AS rvc
           FROM customer),
         merged AS (
           SELECT c_custkey, 'U:' || c_name AS c_name, c_nationkey,
                  c_acctbal + 100.0 AS c_acctbal, rid AS row_id,
                  CAST(2 AS BIGINT) AS row_commit
           FROM ids WHERE c_custkey % 4 = 1
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                  rid AS row_id, rvc AS row_commit
           FROM ids WHERE c_custkey % 4 <> 1
           UNION ALL
           SELECT c_custkey + 1000000, 'N:' || c_name, c_nationkey,
                  c_acctbal, CAST(1 AS BIGINT), CAST(2 AS BIGINT)
           FROM customer WHERE c_custkey % 100 = 0)
         SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                row_id, row_commit
         FROM merged
         WHERE c_custkey % 10 <> 5
         ORDER BY c_custkey""",
    "x34_delta_row_ids" ->
      """WITH base AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                  CAST(row_number() OVER (
                    PARTITION BY c_custkey % 2 ORDER BY c_custkey) - 1
                    + CASE WHEN c_custkey % 2 = 1
                        THEN (SELECT count(*) FROM customer
                              WHERE c_custkey % 2 = 0)
                        ELSE 0 END AS BIGINT) AS row_id,
                  CAST(c_custkey % 2 AS BIGINT) AS row_commit
           FROM customer)
         SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                row_id, row_commit
         FROM base
         WHERE c_custkey % 7 <> 3
         ORDER BY c_custkey""",
    "x33_iceberg_relayout" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
         FROM customer
         WHERE c_custkey % 9 <> 4
         ORDER BY c_custkey""",
    "x32_iceberg_evolved" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
         FROM customer
         WHERE c_custkey % 9 <> 4
         ORDER BY c_custkey""",
    "x31_iceberg_upsert" ->
      """WITH v1 AS (
           SELECT c_custkey,
                  CASE WHEN c_custkey % 4 = 1
                       THEN 'U:' || c_name ELSE c_name END AS c_name,
                  c_nationkey,
                  CASE WHEN c_custkey % 4 = 1
                       THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
           FROM customer
           UNION ALL
           SELECT c_custkey + 1000000, 'N:' || c_name, c_nationkey, c_acctbal
           FROM customer WHERE c_custkey % 100 = 0)
         SELECT c_custkey, c_name, c_nationkey, c_acctbal
         FROM v1 WHERE c_custkey % 10 <> 5
         ORDER BY c_custkey""",
    "x27_delta_merge" ->
      """WITH v1 AS (
           SELECT c_custkey,
                  CASE WHEN c_custkey % 4 = 1
                       THEN 'U:' || c_name ELSE c_name END AS c_name,
                  c_nationkey,
                  CASE WHEN c_custkey % 4 = 1
                       THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
           FROM customer
           UNION ALL
           SELECT c_custkey + 1000000, 'N:' || c_name, c_nationkey, c_acctbal
           FROM customer WHERE c_custkey % 100 = 0)
         SELECT c_custkey, c_name, c_nationkey, c_acctbal
         FROM v1 WHERE c_custkey % 10 <> 5
         ORDER BY c_custkey""",
    "x28_delta_merge_cdf" ->
      """WITH v1 AS (
           SELECT c_custkey,
                  CASE WHEN c_custkey % 4 = 1
                       THEN 'U:' || c_name ELSE c_name END AS c_name,
                  c_nationkey,
                  CASE WHEN c_custkey % 4 = 1
                       THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
           FROM customer
           UNION ALL
           SELECT c_custkey + 1000000, 'N:' || c_name, c_nationkey, c_acctbal
           FROM customer WHERE c_custkey % 100 = 0)
         SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                'update_preimage' AS change_type,
                CAST(1 AS BIGINT) AS commit_version
         FROM customer WHERE c_custkey % 4 = 1
         UNION ALL
         SELECT c_custkey, 'U:' || c_name, c_nationkey, c_acctbal + 100.0,
                'update_postimage', CAST(1 AS BIGINT)
         FROM customer WHERE c_custkey % 4 = 1
         UNION ALL
         SELECT c_custkey + 1000000, 'N:' || c_name, c_nationkey, c_acctbal,
                'insert', CAST(1 AS BIGINT)
         FROM customer WHERE c_custkey % 100 = 0
         UNION ALL
         SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                'delete', CAST(2 AS BIGINT)
         FROM v1 WHERE c_custkey % 10 = 5
         ORDER BY commit_version, change_type, c_custkey""",
    "x29_iceberg_changelog" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                'insert' AS change_type, CAST(0 AS INTEGER) AS change_ordinal
         FROM orders
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                'delete', CAST(1 AS INTEGER)
         FROM orders WHERE o_orderkey % 5 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                'delete', CAST(2 AS INTEGER)
         FROM orders WHERE o_custkey % 10 = 3 AND o_orderkey % 5 <> 0
         ORDER BY change_ordinal, o_orderkey""",
    "x30_iceberg_v3_changelog" ->
      """SELECT s_suppkey, s_name, s_nationkey,
                'insert' AS change_type, CAST(0 AS INTEGER) AS change_ordinal
         FROM supplier
         UNION ALL
         SELECT s_suppkey, s_name, s_nationkey,
                'delete', CAST(1 AS INTEGER)
         FROM supplier WHERE s_suppkey % 3 = 0
         UNION ALL
         SELECT s_suppkey, s_name, s_nationkey,
                'delete', CAST(2 AS INTEGER)
         FROM supplier WHERE s_nationkey = 5 AND s_suppkey % 3 <> 0
         ORDER BY change_ordinal, s_suppkey""",
    "x22_delta_scan" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
         FROM customer
         WHERE c_custkey % 7 <> 0 AND c_nationkey < 13
         ORDER BY c_custkey""",
    "x23_iceberg_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
         FROM orders
         WHERE o_orderkey % 5 <> 0 AND o_custkey % 10 <> 3
         ORDER BY o_orderkey""",
    "x24_transform_scan" ->
      """SELECT l_orderkey, COUNT(*) AS n_lines,
                SUM(l_quantity) AS sum_qty
         FROM lineitem
         WHERE l_linenumber <> 7
         GROUP BY l_orderkey
         ORDER BY l_orderkey""",
    "x26_delta_cdf" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                'insert' AS change_type,
                CAST(0 AS BIGINT) AS commit_version
         FROM customer
         UNION ALL
         SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                'delete' AS change_type,
                CAST(1 AS BIGINT) AS commit_version
         FROM customer WHERE c_custkey % 7 = 0
         ORDER BY commit_version, c_custkey""",
    "x25_iceberg_v3_scan" ->
      """WITH base AS (
           SELECT s_suppkey, s_name, s_nationkey,
                  CAST(row_number() OVER (ORDER BY s_suppkey) - 1
                    AS BIGINT) AS row_id
           FROM supplier)
         SELECT s_suppkey, s_name, s_nationkey, row_id,
                CAST(1 AS BIGINT) AS last_seq
         FROM base
         WHERE s_suppkey % 3 <> 0 AND s_nationkey <> 5
         ORDER BY s_suppkey""",
    "w23_scd2_delta_pit" ->
      """WITH flagged AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus, event_type,
                  CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                       THEN 1 ELSE 0 END AS chg
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         ver AS (
           SELECT user_id, event_type, tus,
                  CAST(SUM(chg) OVER (PARTITION BY user_id
                    ORDER BY tus, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS version
           FROM flagged),
         v AS (
           SELECT user_id AS v_user, version,
                  MIN(event_type) AS state_type,
                  CAST(MIN(tus) AS BIGINT) AS valid_from_us
           FROM ver GROUP BY 1, 2),
         p AS (
           SELECT user_id, event_id AS purchase_id,
                  CAST(epoch_us(ts) AS BIGINT) AS purchase_us
           FROM events WHERE event_type = 'purchase'),
         j AS (
           SELECT p.user_id, p.purchase_id, p.purchase_us,
                  v.version, v.state_type,
                  row_number() OVER (PARTITION BY p.purchase_id
                    ORDER BY v.valid_from_us DESC, v.version DESC) AS rn
           FROM p JOIN v ON v.v_user = p.user_id
            AND v.valid_from_us <= p.purchase_us - 1)
         SELECT user_id, purchase_id, purchase_us, version, state_type
         FROM j WHERE rn = 1 ORDER BY purchase_id""")
}
