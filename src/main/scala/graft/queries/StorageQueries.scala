package graft.queries

import java.nio.file.Files

import graft.Graft.table
import graft.pipeline.Lakehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Storage-engine DML surface, oracle-gated end to end: the queries build a
  * real file-log table in a scratch dir from the driver's parquet, run the
  * storage op under test (deletion-vector DELETE, RESTORE), read the result
  * back through the log, and return it MATERIALIZED (the scratch lakehouse
  * is deleted before returning, so nothing leaks per run and the returned
  * frame owns its rows). DuckDB replays the visible-row semantics as plain
  * SELECTs over the same source parquet — the oracle checks that
  * merge-on-read subtraction and metadata-only restore produce EXACTLY the
  * rows a from-scratch filter would.
  */
object StorageQueries {

  private val money = DecimalType(12, 2)

  /** Collect `df`, drop the scratch dir, return a self-contained frame. */
  private def materialized(s: SparkSession, df: DataFrame,
      scratch: java.nio.file.Path): DataFrame = {
    val rows = java.util.Arrays.asList(df.collect(): _*)
    val out = s.createDataFrame(rows, df.schema)
    // the scratch lakehouse is gone before the caller ever runs the plan
    val w = Files.walk(scratch)
    try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
    finally w.close()
    out
  }

  /** Deletion-vector DELETE (merge-on-read): two appends land the sample
    * across files, two vector deletes subtract rows WITHOUT rewriting any
    * data file (the second merges into the first's vectors), and the read
    * back through the log must equal DuckDB's plain NOT-filter. Covers
    * vector write, merge, full-file drop, and the scan-time subtract. */
  val st01DvDelete = GraftQuery(
    "st01_dv_delete",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st01")
      val lake = new Lakehouse(s, scratch.toString)
      val base = table(s, dir, "orders")
        .filter(col("o_custkey") % 20 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast(money).as("price"))
      lake.appendBronze("ord", base.filter(col("o_orderkey") % 2 === 0).repartition(4))
      lake.appendBronze("ord", base.filter(col("o_orderkey") % 2 =!= 0).repartition(4))
      lake.deleteBronzeWhereDv("ord", col("o_orderkey") % 5 === 0)
      lake.deleteBronzeWhereDv("ord", col("o_orderkey") % 7 === 3)
      val res = lake.table("bronze", "ord")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("price").cast("double").as("price"))
        .orderBy(col("o_orderkey"))
      materialized(s, res, scratch)
    },
    Some("""
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      FROM orders
      WHERE o_custkey % 20 = 0
        AND NOT (o_orderkey % 5 = 0)
        AND NOT (o_orderkey % 7 = 3)
      ORDER BY o_orderkey"""))

  /** RESTORE TO VERSION AS OF: a vector delete removes rows, a
    * metadata-only restore to the pre-delete version resurrects them, and
    * the read back must equal the UNDELETED sample — proving restore
    * re-references the exact pre-delete file set (vectors dropped), not a
    * re-filtered approximation. */
  val st02RestoreRead = GraftQuery(
    "st02_restore_read",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st02")
      val lake = new Lakehouse(s, scratch.toString)
      val base = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal").cast(money).as("acctbal"))
      lake.appendBronze("cust", base.filter(col("c_custkey") % 10 === 0).repartition(2))
      lake.appendBronze("cust", base.filter(col("c_custkey") % 10 === 5).repartition(2))
      val preDelete = lake.tableVersions("bronze", "cust").max
      lake.deleteBronzeWhereDv("cust", col("acctbal") < 0)
      lake.restoreBronze("cust", preDelete)
      val res = lake.table("bronze", "cust")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("acctbal").cast("double").as("acctbal"))
        .orderBy(col("c_custkey"))
      materialized(s, res, scratch)
    },
    Some("""
      SELECT c_custkey, c_name, c_nationkey,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
      FROM customer
      WHERE c_custkey % 10 = 0 OR c_custkey % 10 = 5
      ORDER BY c_custkey"""))

  /** Change-data-feed read ([[Lakehouse.tableChanges]]): two appends land
    * the sample (v1, v2), a vector delete subtracts rows (v3), and the
    * feed over (v1, v3] must emit exactly v2's rows as inserts and the
    * deleted rows as deletes — derived from the log's add/remove + DV
    * diffs alone, with commit-version attribution the oracle replays as
    * literals. OPTIMIZE-skip and the insert/delete split are covered by
    * LakehouseSpec; this pins the row-level algebra against DuckDB. */
  val st03CdfRead = GraftQuery(
    "st03_cdf_read",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st03")
      val lake = new Lakehouse(s, scratch.toString)
      val base = table(s, dir, "orders")
        .filter(col("o_custkey") % 25 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast(money).as("price"))
      lake.appendBronze("ord", base.filter(col("o_orderkey") % 2 === 0).repartition(4)) // v1
      lake.appendBronze("ord", base.filter(col("o_orderkey") % 2 =!= 0).repartition(4)) // v2
      lake.deleteBronzeWhereDv("ord", col("o_orderkey") % 5 === 0) // v3
      val res = lake.tableChanges("ord", 1, 3)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("price").cast("double").as("price"),
          col("_change_type").as("change_type"),
          col("_commit_version").cast("bigint").as("commit_version"))
        .orderBy(col("commit_version"), col("change_type"), col("o_orderkey"))
      materialized(s, res, scratch)
    },
    Some("""
      WITH sample AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM orders WHERE o_custkey % 25 = 0)
      SELECT o_orderkey, o_orderstatus, price,
             'insert' AS change_type, CAST(2 AS BIGINT) AS commit_version
      FROM sample WHERE o_orderkey % 2 <> 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, price,
             'delete' AS change_type, CAST(3 AS BIGINT) AS commit_version
      FROM sample WHERE o_orderkey % 5 = 0
      ORDER BY commit_version, change_type, o_orderkey"""))

  /** MERGE INTO as log-managed DML ([[Lakehouse.mergeBronze]]): the
    * source updates every 20th key (+100 balance) and inserts new %10=3
    * keys; the merged table read back through the log must equal DuckDB's
    * anti-join + union — proving matched rows were vector-deleted and the
    * source appended in the same atomic commit. */
  val st04MergeUpsert = GraftQuery(
    "st04_merge_upsert",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st04")
      val lake = new Lakehouse(s, scratch.toString)
      val base = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast(money).as("acctbal"))
      lake.appendBronze("cust", base.filter(col("c_custkey") % 10 === 0).repartition(2))
      lake.appendBronze("cust", base.filter(col("c_custkey") % 10 === 5).repartition(2))
      val source = base.filter(col("c_custkey") % 20 === 0)
          .withColumn("acctbal", (col("acctbal") + lit(100)).cast(money))
        .unionByName(base.filter(col("c_custkey") % 10 === 3))
      lake.mergeBronze("cust", source, Seq("c_custkey"))
      val res = lake.table("bronze", "cust")
        .select(col("c_custkey"), col("c_name"),
          col("acctbal").cast("double").as("acctbal"))
        .orderBy(col("c_custkey"))
      materialized(s, res, scratch)
    },
    Some("""
      WITH target AS (
        SELECT c_custkey, c_name,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
        FROM customer WHERE c_custkey % 10 = 0 OR c_custkey % 10 = 5),
      src AS (
        SELECT c_custkey, c_name,
               CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 100 AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
        FROM customer WHERE c_custkey % 20 = 0
        UNION ALL
        SELECT c_custkey, c_name,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
        FROM customer WHERE c_custkey % 10 = 3)
      SELECT c_custkey, c_name, acctbal FROM target
      WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
      UNION ALL
      SELECT c_custkey, c_name, acctbal FROM src
      ORDER BY c_custkey"""))

  /** Idempotent writer transactions ([[Lakehouse.appendBronze]] with
    * `txn`, Delta's txnAppId/txnVersion): every append AND its exact
    * replay run back to back — the replays must be no-ops (skipped before
    * staging), so the table read back equals the union of each batch
    * EXACTLY ONCE. DuckDB replays the no-replay semantics as a plain
    * two-branch union. */
  val st05TxnIdempotent = GraftQuery(
    "st05_txn_idempotent",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st05")
      val lake = new Lakehouse(s, scratch.toString)
      val base = table(s, dir, "orders")
        .filter(col("o_custkey") % 20 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast(money).as("price"))
      val b1 = base.filter(col("o_orderkey") % 2 === 0).repartition(2)
      val b2 = base.filter(col("o_orderkey") % 2 =!= 0).repartition(2)
      lake.appendBronze("ord", b1, txn = Some(("loader", 1L)))
      lake.appendBronze("ord", b1, txn = Some(("loader", 1L))) // replayed batch: no-op
      lake.appendBronze("ord", b2, txn = Some(("loader", 2L)))
      lake.appendBronze("ord", b2, txn = Some(("loader", 2L))) // replayed batch: no-op
      lake.appendBronze("ord", b1, txn = Some(("loader", 1L))) // out-of-order replay: no-op
      val res = lake.table("bronze", "ord")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("price").cast("double").as("price"))
        .orderBy(col("o_orderkey"))
      materialized(s, res, scratch)
    },
    Some("""
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      FROM orders
      WHERE o_custkey % 20 = 1
      ORDER BY o_orderkey"""))

  /** Durable change-feed cursor ([[graft.streaming.Streams.changesSink]]):
    * the feed drains into a bronze table in TWO ticks (after v1; after
    * v2+v3), then a crash is simulated by rewinding the cursor to the
    * first tick's frontier and re-draining — each re-derived per-version
    * append is a txn no-op, so the materialized feed read back equals the
    * full CDF exactly once. DuckDB replays the three versions' change rows
    * as literal-tagged unions (same shape as st03). */
  val st06CdfCursor = GraftQuery(
    "st06_cdf_cursor",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st06")
      val lake = new Lakehouse(s, scratch.toString)
      val cursor = scratch.resolve("cursor")
      val base = table(s, dir, "orders")
        .filter(col("o_custkey") % 25 === 7)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast(money).as("price"))
      lake.appendBronze("ord", base.filter(col("o_orderkey") % 2 === 0).repartition(2)) // v1
      graft.streaming.Streams.changesSink(lake, "ord", cursor.toString, "feed") // tick 1: (0,1]
      lake.appendBronze("ord", base.filter(col("o_orderkey") % 2 =!= 0).repartition(2)) // v2
      lake.deleteBronzeWhereDv("ord", col("o_orderkey") % 5 === 0) // v3
      graft.streaming.Streams.changesSink(lake, "ord", cursor.toString, "feed") // tick 2: (1,3]
      // crash replay: the cursor never made it past tick 1 — re-drain
      val ms = Files.list(cursor)
      try ms.forEach(p => Files.deleteIfExists(p)) finally ms.close()
      lake.commitChangesCursor(cursor, 1)
      graft.streaming.Streams.changesSink(lake, "ord", cursor.toString, "feed")
      val res = lake.table("bronze", "feed")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("price").cast("double").as("price"),
          col("_change_type").as("change_type"),
          col("_commit_version").cast("bigint").as("commit_version"))
        .orderBy(col("commit_version"), col("change_type"), col("o_orderkey"))
      materialized(s, res, scratch)
    },
    Some("""
      WITH sample AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM orders WHERE o_custkey % 25 = 7)
      SELECT o_orderkey, o_orderstatus, price,
             'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version
      FROM sample WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, price,
             'insert' AS change_type, CAST(2 AS BIGINT) AS commit_version
      FROM sample WHERE o_orderkey % 2 <> 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, price,
             'delete' AS change_type, CAST(3 AS BIGINT) AS commit_version
      FROM sample WHERE o_orderkey % 5 = 0
      ORDER BY commit_version, change_type, o_orderkey"""))

  /** Incremental aggregate MV with retractions
    * ([[graft.streaming.Streams.cdfAggregateSink]]): per-custkey count and
    * price sum maintained from the change feed across three ticks —
    * inserts, a deletion-vector DELETE (retraction), and a MERGE upsert
    * (delete+insert pairs) — plus a crash-replayed tick whose merge the
    * writer txn must skip. The read face must equal DuckDB's from-scratch
    * GROUP BY of the final visible state: incremental fold ≡ recompute. */
  val st07CdfAggMv = GraftQuery(
    "st07_cdf_agg_mv",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st07")
      val lake = new Lakehouse(s, scratch.toString)
      val cursor = scratch.resolve("cursor")
      def tick() = graft.streaming.Streams.cdfAggregateSink(
        lake, "ord", "agg", Seq("o_custkey"), Seq("price"), cursor.toString)
      val base = table(s, dir, "orders")
        .filter(col("o_custkey") % 25 === 11)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast(money).as("price"))
      lake.appendBronze("ord", base.filter(col("o_orderkey") % 2 === 0).repartition(2))
      tick()
      lake.appendBronze("ord", base.filter(col("o_orderkey") % 2 =!= 0).repartition(2))
      lake.deleteBronzeWhereDv("ord", col("o_orderkey") % 5 === 0)
      val tick2 = tick()
      lake.mergeBronze("ord", base.filter(col("o_orderkey") % 7 === 1)
        .withColumn("price", (col("price") + lit(100)).cast(money)), Seq("o_orderkey"))
      tick()
      // crash replay of tick 3: rewind the cursor to tick 2's frontier and
      // re-tick — the merge's writer txn must skip the double-apply
      val ms = Files.list(cursor)
      try ms.forEach(p => Files.deleteIfExists(p)) finally ms.close()
      lake.commitChangesCursor(cursor, tick2.get._2)
      tick()
      val res = graft.streaming.Streams.cdfAggregate(lake, "agg")
        .select(col("o_custkey"), col("cnt"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy(col("o_custkey"))
      materialized(s, res, scratch)
    },
    Some("""
      WITH sample AS (
        SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
        FROM orders WHERE o_custkey % 25 = 11),
      final AS (
        SELECT o_custkey, price FROM sample
        WHERE NOT (o_orderkey % 5 = 0) AND NOT (o_orderkey % 7 = 1)
        UNION ALL
        SELECT o_custkey, CAST(price + 100 AS DECIMAL(12,2)) AS price
        FROM sample WHERE o_orderkey % 7 = 1)
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(price) AS DOUBLE) AS sum_price
      FROM final GROUP BY o_custkey
      ORDER BY o_custkey"""))

  /** Type widening ([[Lakehouse.widenBronzeColumnType]], Delta ALTER
    * COLUMN TYPE): the sample lands as INT keys + DECIMAL(10,2) prices,
    * the columns widen to LONG / DECIMAL(12,2) metadata-only, a second
    * batch arrives at the WIDE types, and a vector delete crosses both
    * eras — the mixed narrow/wide files must read back as exactly the
    * surviving sample (DuckDB never sees the widen; it checks the VALUES
    * survive it). */
  val st08TypeWiden = GraftQuery(
    "st08_type_widen",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st08")
      val lake = new Lakehouse(s, scratch.toString)
      val base = table(s, dir, "orders")
        .filter(col("o_custkey") % 25 === 13)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val narrow = base.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").cast("int").as("okey"), col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(10, 2)).as("price"))
      lake.appendBronze("ord", narrow.repartition(2))
      lake.widenBronzeColumnType("ord", "okey", org.apache.spark.sql.types.LongType)
      lake.widenBronzeColumnType("ord", "price", DecimalType(12, 2))
      val wideBatch = base.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"),
          col("o_totalprice").cast(money).as("price"))
      lake.appendBronze("ord", wideBatch.repartition(2))
      lake.deleteBronzeWhereDv("ord", col("okey") % 5 === 0)
      val res = lake.table("bronze", "ord")
        .select(col("okey"), col("o_orderstatus"),
          col("price").cast("double").as("price"))
        .orderBy(col("okey"))
      materialized(s, res, scratch)
    },
    Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS okey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      FROM orders
      WHERE o_custkey % 25 = 13 AND NOT (o_orderkey % 5 = 0)
      ORDER BY okey"""))

  /** Generated columns ([[Lakehouse.addGeneratedColumn]], Delta GENERATED
    * ALWAYS AS): `price_band = floor(price / 50000)` is declared on the
    * seeded table, the second batch OMITS the column (the writer computes
    * it before staging), a MERGE upsert omits it too, and the read back —
    * including the materialized band values from every write path — must
    * equal DuckDB computing the expression from scratch. */
  val st09GeneratedCol = GraftQuery(
    "st09_generated_col",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st09")
      val lake = new Lakehouse(s, scratch.toString)
      val base = table(s, dir, "orders")
        .filter(col("o_custkey") % 25 === 17)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast(money).as("price"))
      lake.appendBronze("ord", base.filter(col("o_orderkey") % 2 === 0)
        .withColumn("price_band", floor(col("price") / 50000)).repartition(2))
      lake.addGeneratedColumn("ord", "price_band", "floor(price / 50000)")
      // second batch omits the column: computed before staging
      lake.appendBronze("ord", base.filter(col("o_orderkey") % 2 =!= 0).repartition(2))
      // merge upsert omits it too (+100 keeps most rows in their band;
      // the computed value tracks the NEW price either way)
      lake.mergeBronze("ord", base.filter(col("o_orderkey") % 7 === 2)
        .withColumn("price", (col("price") + lit(100)).cast(money)), Seq("o_orderkey"))
      val res = lake.table("bronze", "ord")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("price").cast("double").as("price"),
          col("price_band").cast("bigint").as("price_band"))
        .orderBy(col("o_orderkey"))
      materialized(s, res, scratch)
    },
    Some("""
      WITH sample AS (
        SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price
        FROM orders WHERE o_custkey % 25 = 17),
      final AS (
        SELECT o_orderkey, o_orderstatus, price FROM sample WHERE NOT (o_orderkey % 7 = 2)
        UNION ALL
        SELECT o_orderkey, o_orderstatus, CAST(price + 100 AS DECIMAL(12,2)) AS price
        FROM sample WHERE o_orderkey % 7 = 2)
      SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price,
             CAST(FLOOR(price / 50000) AS BIGINT) AS price_band
      FROM final
      ORDER BY o_orderkey"""))

  /** Identity columns ([[Lakehouse.addIdentityColumn]], GENERATED ALWAYS
    * AS IDENTITY): the engine allocates values via log-atomic range
    * reservation. Three sorted single-sort appends allocate ranks 1..n1,
    * n1+1..n1+n2, … — and the third batch's offset proves the watermark
    * counts ALLOCATED rows, not visible ones (a vector delete between
    * batches must NOT reclaim ids). DuckDB replays the allocation as
    * ROW_NUMBER per batch plus the cumulative batch offsets. */
  val st10IdentityCol = GraftQuery(
    "st10_identity_col",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st10")
      val lake = new Lakehouse(s, scratch.toString)
      val src = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast(money).cast("double").as("acctbal"))
      // identity declares at table creation (the log exists before data)
      lake.addIdentityColumn("cust", "rid")
      // each batch lands SORTED: range partitions concatenate in partition
      // order, so allocation order = rank by key — deterministic for the oracle
      lake.appendBronze("cust",
        src.filter(col("c_custkey") % 20 === 0).orderBy(col("c_custkey")))
      lake.appendBronze("cust",
        src.filter(col("c_custkey") % 10 === 0 && col("c_custkey") % 20 =!= 0)
          .orderBy(col("c_custkey")))
      // a vector delete between batches does NOT reclaim allocated ids
      lake.deleteBronzeWhereDv("cust", col("acctbal") < 0)
      lake.appendBronze("cust",
        src.filter(col("c_custkey") % 10 === 5).orderBy(col("c_custkey")))
      val res = lake.table("bronze", "cust")
        .select(col("c_custkey"), col("c_name"), col("acctbal"), col("rid"))
        .orderBy(col("c_custkey"))
      materialized(s, res, scratch)
    },
    Some("""
      WITH s AS (
        SELECT c_custkey, c_name,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
        FROM customer),
      b1 AS (SELECT *, ROW_NUMBER() OVER (ORDER BY c_custkey) AS rid
             FROM s WHERE c_custkey % 20 = 0),
      b2 AS (SELECT *, (SELECT COUNT(*) FROM b1)
                       + ROW_NUMBER() OVER (ORDER BY c_custkey) AS rid
             FROM s WHERE c_custkey % 10 = 0 AND c_custkey % 20 <> 0),
      b3 AS (SELECT *, (SELECT COUNT(*) FROM b1) + (SELECT COUNT(*) FROM b2)
                       + ROW_NUMBER() OVER (ORDER BY c_custkey) AS rid
             FROM s WHERE c_custkey % 10 = 5)
      SELECT c_custkey, c_name, acctbal, rid FROM b1 WHERE acctbal >= 0
      UNION ALL
      SELECT c_custkey, c_name, acctbal, rid FROM b2 WHERE acctbal >= 0
      UNION ALL
      SELECT c_custkey, c_name, acctbal, rid FROM b3
      ORDER BY c_custkey"""))

  /** Column defaults ([[Lakehouse.setColumnDefault]]): a default applies
    * to writes AFTER its declaration — batch 1 (pre-declaration) reads
    * NULL, batch 2 (omits the column) lands the default, batch 3 keeps
    * its provided values unvalidated, batch 4 (after DROP DEFAULT) lands
    * NULL again. DuckDB replays the per-batch visibility as a CASE over
    * the batch key. */
  val st11ColumnDefault = GraftQuery(
    "st11_column_default",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st11")
      val lake = new Lakehouse(s, scratch.toString)
      val src = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      lake.appendBronze("sup", src.filter(col("s_suppkey") % 4 === 0).repartition(2))
      lake.setColumnDefault("sup", "tier", "'unrated'")
      lake.appendBronze("sup", src.filter(col("s_suppkey") % 4 === 1).repartition(2))
      lake.appendBronze("sup", src.filter(col("s_suppkey") % 4 === 2)
        .withColumn("tier", when(col("s_nationkey") < 12, lit("low")).otherwise(lit("high")))
        .repartition(2))
      lake.dropColumnDefault("sup", "tier")
      lake.appendBronze("sup", src.filter(col("s_suppkey") % 4 === 3).repartition(2))
      val res = lake.table("bronze", "sup")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("tier"))
        .orderBy(col("s_suppkey"))
      materialized(s, res, scratch)
    },
    Some("""
      SELECT s_suppkey, s_name, s_nationkey,
             CASE WHEN s_suppkey % 4 = 1 THEN 'unrated'
                  WHEN s_suppkey % 4 = 2 THEN
                    (CASE WHEN s_nationkey < 12 THEN 'low' ELSE 'high' END)
                  ELSE NULL END AS tier
      FROM supplier
      ORDER BY s_suppkey"""))

  /** Row tracking ([[Lakehouse.enableRowTracking]], Delta rowTracking):
    * stable logical row ids — enable backfills batch 1, batch 2 extends,
    * a deletion-vector delete leaves survivors' ids untouched, the
    * bin-packing rewrite MATERIALIZES them (rows move; vectors purge), and
    * batch 3 continues from the watermark. DuckDB replays the id
    * assignment as ROW_NUMBER per sorted batch plus cumulative offsets —
    * matching proves the ids survived the rewrite bit-for-bit. */
  val st12RowIds = GraftQuery(
    "st12_row_ids",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st12")
      val lake = new Lakehouse(s, scratch.toString)
      def slice(m: Int) = table(s, dir, "orders").filter(col("o_custkey") % 25 === m)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast(money).cast("double").as("price"))
      val src = slice(3)
      lake.appendBronze("ord",
        src.filter(col("o_orderkey") % 2 === 0).orderBy(col("o_orderkey")).coalesce(1))
      lake.enableRowTracking("ord")
      lake.appendBronze("ord",
        src.filter(col("o_orderkey") % 2 =!= 0).orderBy(col("o_orderkey")).coalesce(1))
      lake.deleteBronzeWhereDv("ord", col("o_orderkey") % 5 === 0)
      lake.compactSmall("bronze", "ord") // rewrites the vectored files, ids materialize
      lake.appendBronze("ord", slice(4).orderBy(col("o_orderkey")).coalesce(1))
      val res = lake.tableWithRowIds("ord")
        .select(col("o_orderkey"), col("o_orderstatus"), col("price"),
          col("_row_id").as("row_id"))
        .orderBy(col("o_orderkey"))
      materialized(s, res, scratch)
    },
    Some("""
      WITH s AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        FROM orders),
      b1 AS (SELECT o_orderkey, o_orderstatus, price,
                    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id
             FROM s WHERE o_custkey % 25 = 3 AND o_orderkey % 2 = 0),
      b2 AS (SELECT o_orderkey, o_orderstatus, price,
                    (SELECT COUNT(*) FROM b1)
                    + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id
             FROM s WHERE o_custkey % 25 = 3 AND o_orderkey % 2 <> 0),
      b3 AS (SELECT o_orderkey, o_orderstatus, price,
                    (SELECT COUNT(*) FROM b1) + (SELECT COUNT(*) FROM b2)
                    + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id
             FROM s WHERE o_custkey % 25 = 4)
      SELECT o_orderkey, o_orderstatus, price, CAST(row_id AS BIGINT) AS row_id
      FROM b1 WHERE o_orderkey % 5 <> 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, price, CAST(row_id AS BIGINT) AS row_id
      FROM b2 WHERE o_orderkey % 5 <> 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, price, CAST(row_id AS BIGINT) AS row_id
      FROM b3
      ORDER BY o_orderkey"""))

  /** CDF update pairing (Delta CDF's MERGE semantics): the MERGE commit
    * records its key columns (`#mkeys`), so the change feed classifies its
    * rows — matched keys emit update_preimage (the old row) +
    * update_postimage (the new row), unmatched source keys emit plain
    * inserts. DuckDB replays the classification from the target/source
    * key sets. */
  val st13CdfUpdates = GraftQuery(
    "st13_cdf_updates",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st13")
      val lake = new Lakehouse(s, scratch.toString)
      val base = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast(money).as("acctbal"))
      lake.appendBronze("cust", base.filter(col("c_custkey") % 10 === 0).repartition(2)) // v1
      val source = base.filter(col("c_custkey") % 20 === 0)
          .withColumn("acctbal", (col("acctbal") + lit(100)).cast(money))
        .unionByName(base.filter(col("c_custkey") % 10 === 3))
      lake.mergeBronze("cust", source, Seq("c_custkey")) // v2
      val res = lake.tableChanges("cust", 1, 2)
        .select(col("c_custkey"), col("c_name"),
          col("acctbal").cast("double").as("acctbal"),
          col("_change_type").as("change_type"),
          col("_commit_version").cast("bigint").as("commit_version"))
        .orderBy(col("change_type"), col("c_custkey"))
      materialized(s, res, scratch)
    },
    Some("""
      WITH t AS (
        SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS acctbal
        FROM customer)
      SELECT c_custkey, c_name, CAST(acctbal AS DOUBLE) AS acctbal,
             'update_preimage' AS change_type, CAST(2 AS BIGINT) AS commit_version
      FROM t WHERE c_custkey % 20 = 0
      UNION ALL
      SELECT c_custkey, c_name, CAST(acctbal + 100 AS DOUBLE) AS acctbal,
             'update_postimage' AS change_type, CAST(2 AS BIGINT) AS commit_version
      FROM t WHERE c_custkey % 20 = 0
      UNION ALL
      SELECT c_custkey, c_name, CAST(acctbal AS DOUBLE) AS acctbal,
             'insert' AS change_type, CAST(2 AS BIGINT) AS commit_version
      FROM t WHERE c_custkey % 10 = 3
      ORDER BY change_type, c_custkey"""))

  /** N-dimensional Z-order clustering ([[Lakehouse.compactClusteredN]]):
    * the table rewrites clustered by the 3-dim Morton code of
    * (custkey, orderkey-bucket, price-band) and a stats-pruned read on
    * the THIRD dimension must return exactly the rows a plain filter
    * returns — file skipping is a superset guarantee, and the clustered
    * rewrite is content-invariant. DuckDB sees only the filter. */
  val st14NdimClusterRead = GraftQuery(
    "st14_ndim_cluster_read",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st14")
      val lake = new Lakehouse(s, scratch.toString)
      val base = table(s, dir, "orders")
        .filter(col("o_custkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast(money).cast("double").as("price"))
        .withColumn("okb", (col("o_orderkey") % 64).cast("int"))
        .withColumn("band", (col("o_custkey") % 32).cast("int"))
      lake.appendBronze("ord", base.repartition(4), statsCols = Seq("o_custkey", "okb", "band"))
      lake.compactClusteredN("bronze", "ord", Seq("o_custkey", "okb", "band"),
        numFiles = 16, bits = 10)
      val preds = Seq(graft.pipeline.ManifestStats.StatGte("band", 0),
        graft.pipeline.ManifestStats.StatLte("band", 7))
      val res = lake.tableWhere("bronze", "ord", preds)
        .filter(col("band") < 8)
        .select(col("o_orderkey"), col("o_custkey"), col("price"))
        .orderBy(col("o_orderkey"))
      materialized(s, res, scratch)
    },
    Some("""
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      FROM orders
      WHERE o_custkey % 5 = 0 AND o_custkey % 32 < 8
      ORDER BY o_orderkey"""))

  /** CDF-driven latest-wins MV refresh ([[graft.pipeline.Silver
    * .latestWinsFeedTick]], the Lakeflow-"Enzyme" analog): four
    * bronze versions land observations of the orders sample (re-observed
    * rows carry a higher obs_seq and a shifted price), including a DV
    * delete that RETRACTS some grains' standing obs_seq=2 winners — the
    * fold must resurrect their obs_seq=1 rows from the source, something
    * snapshot-driven refresh cannot do. The feed drains in BOUNDED
    * two-version ticks through a durable cursor, and the multi-tick MV
    * must equal DuckDB's from-scratch latest-wins over the visible rows. */
  val st15CdfLatestWinsMv = GraftQuery(
    "st15_cdf_latestwins_mv",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st15")
      val lake = new Lakehouse(s, scratch.toString)
      val base = table(s, dir, "orders")
        .filter(col("o_custkey") % 20 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast(money).as("price"))
      def obs(seq: Int, f: org.apache.spark.sql.Column, bump: Int) = base
        .filter(f)
        .withColumn("price", (col("price") + lit(bump)).cast(money))
        .withColumn("obs_seq", lit(seq).cast("int"))
      val cursor = scratch.resolve("cur").toString
      def drain(): Unit = {
        var guard = 0
        while (graft.pipeline.Silver.latestWinsFeedTick(lake, "silver", "mv",
            "ord", Seq("o_orderkey"), Seq(col("obs_seq").desc),
            identity, cursor, maxVersions = 2).isDefined) {
          guard += 1
          require(guard <= 4, "capped feed drain failed to converge")
        }
      }
      lake.appendBronze("ord", obs(1, lit(true), 0).repartition(4))             // v1
      drain() // fresh cursor: ONE snapshot-bootstrap tick
      lake.appendBronze("ord", obs(2, col("o_orderkey") % 3 === 0, 10).repartition(2)) // v2
      lake.deleteBronzeWhereDv("ord",
        col("obs_seq") === 2 && col("o_orderkey") % 9 === 0)                    // v3
      lake.appendBronze("ord", obs(3, col("o_orderkey") % 5 === 0, 20).repartition(2)) // v4
      // bounded multi-tick INCREMENTAL drain: (1,3] folds the re-observation
      // and its retraction (winner falls back to obs_seq=1), (3,4] the new
      // obs_seq=3 — the feed path, not a re-bootstrap
      drain()
      val res = lake.table("silver", "mv")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("price").cast("double").as("price"),
          col("obs_seq").cast("bigint").as("obs_seq"))
        .orderBy(col("o_orderkey"))
      materialized(s, res, scratch)
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(12,2)) AS price
        FROM orders WHERE o_custkey % 20 = 0),
      obs AS (
        SELECT o_orderkey, o_orderstatus, price, 1 AS obs_seq FROM base
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               CAST(price + 10 AS DECIMAL(12,2)), 2 FROM base
        WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               CAST(price + 20 AS DECIMAL(12,2)), 3 FROM base
        WHERE o_orderkey % 5 = 0),
      vis AS (
        SELECT * FROM obs WHERE NOT (obs_seq = 2 AND o_orderkey % 9 = 0)),
      w AS (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey
                    ORDER BY obs_seq DESC) AS rn
        FROM vis)
      SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price,
             CAST(obs_seq AS BIGINT) AS obs_seq
      FROM w WHERE rn = 1
      ORDER BY o_orderkey"""))

  /** CDF-driven incremental SCD2 refresh ([[graft.pipeline.Silver
    * .scd2FeedTick]]): five bronze versions land
    * price OBSERVATIONS of the orders sample (obs_seq is the observation
    * clock), including an A→B→A price reversion (three versions must
    * segment), a hash-stable re-observation (must NOT open a version), and
    * a DV delete RETRACTING some ids' obs_seq=2 observations — their
    * version chains re-segment from post-retraction history, collapsing
    * the middle version. The feed drains in BOUNDED two-version ticks
    * through a durable cursor (bootstrap tick + two incremental ticks) and
    * the multi-tick segmented model must equal DuckDB's from-scratch SCD2
    * windowing over the visible observations. */
  val st16CdfScd2 = GraftQuery(
    "st16_cdf_scd2",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st16")
      val lake = new Lakehouse(s, scratch.toString)
      val base = table(s, dir, "orders")
        .filter(col("o_custkey") % 20 === 3)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast(money).as("price"))
      def obs(seq: Int, f: org.apache.spark.sql.Column, bump: Int) = base
        .filter(f)
        .withColumn("price", (col("price") + lit(bump)).cast(money))
        .withColumn("obs_seq", lit(seq).cast("int"))
      val segment: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = o => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderkey")).orderBy(col("obs_seq").asc)
        o.withColumn("prev_price", lag(col("price"), 1).over(w))
          .filter(col("prev_price").isNull || col("prev_price") =!= col("price"))
          .withColumn("valid_from_seq", col("obs_seq"))
          .withColumn("valid_to_seq",
            coalesce(lead(col("obs_seq"), 1).over(w) - 1, lit(999)))
          .withColumn("is_current", lead(col("obs_seq"), 1).over(w).isNull)
          .select(col("o_orderkey"), col("o_orderstatus"), col("price"),
            col("valid_from_seq"), col("valid_to_seq"), col("is_current"))
      }
      val cursor = scratch.resolve("cur").toString
      def drain(): Unit = {
        var guard = 0
        while (graft.pipeline.Silver.scd2FeedTick(lake, "silver", "scd2", "obs",
            "ord", Seq("o_orderkey"), Seq("o_orderkey", "obs_seq"),
            identity, segment, cursor, maxVersions = 2).isDefined) {
          guard += 1
          require(guard <= 5, "capped scd2 feed drain failed to converge")
        }
      }
      lake.appendBronze("ord", obs(1, lit(true), 0).repartition(4))                   // v1
      drain() // fresh cursor: ONE snapshot-bootstrap tick
      lake.appendBronze("ord", obs(2, col("o_orderkey") % 3 === 0, 10).repartition(2)) // v2
      lake.deleteBronzeWhereDv("ord",
        col("obs_seq") === 2 && col("o_orderkey") % 9 === 0)                           // v3
      lake.appendBronze("ord", obs(3, col("o_orderkey") % 6 === 0, 0).repartition(2))  // v4
      lake.appendBronze("ord", obs(4, col("o_orderkey") % 5 === 0, 20).repartition(2)) // v5
      // bounded multi-tick INCREMENTAL drain: (1,3] folds the re-observation
      // and its retraction (the %9 ids' chains collapse back), (3,5] the
      // reversion (%6∩%3 ids gain a THIRD version back at the base price;
      // %6\%3 ids' hash-stable obs_seq=3 must not open one) and obs_seq=4
      drain()
      val res = lake.table("silver", "scd2")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("price").cast("double").as("price"),
          col("valid_from_seq").cast("bigint").as("valid_from_seq"),
          col("valid_to_seq").cast("bigint").as("valid_to_seq"),
          col("is_current"))
        .orderBy(col("o_orderkey"), col("valid_from_seq"))
      materialized(s, res, scratch)
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(12,2)) AS price
        FROM orders WHERE o_custkey % 20 = 3),
      obs AS (
        SELECT o_orderkey, o_orderstatus, price, 1 AS obs_seq FROM base
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               CAST(price + 10 AS DECIMAL(12,2)), 2 FROM base
        WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, price, 3 FROM base
        WHERE o_orderkey % 6 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               CAST(price + 20 AS DECIMAL(12,2)), 4 FROM base
        WHERE o_orderkey % 5 = 0),
      vis AS (
        SELECT * FROM obs WHERE NOT (obs_seq = 2 AND o_orderkey % 9 = 0)),
      starts AS (
        SELECT * FROM (
          SELECT *, lag(price) OVER (PARTITION BY o_orderkey
                      ORDER BY obs_seq) AS prev_price
          FROM vis)
        WHERE prev_price IS NULL OR prev_price <> price),
      seg AS (
        SELECT o_orderkey, o_orderstatus, price,
               obs_seq AS valid_from_seq,
               COALESCE(lead(obs_seq) OVER (PARTITION BY o_orderkey
                          ORDER BY obs_seq) - 1, 999) AS valid_to_seq,
               (lead(obs_seq) OVER (PARTITION BY o_orderkey
                  ORDER BY obs_seq) IS NULL) AS is_current
        FROM starts)
      SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price,
             CAST(valid_from_seq AS BIGINT) AS valid_from_seq,
             CAST(valid_to_seq AS BIGINT) AS valid_to_seq, is_current
      FROM seg
      ORDER BY o_orderkey, valid_from_seq"""))

  /** CDF-driven star-mart refresh ([[graft.pipeline.Gold.starFeedTick]]):
    * a latest-wins
    * fact MV (orders observations) and a latest-wins lookup MV (customer
    * observations) are maintained from their bronze feeds, and the MART —
    * fact LEFT JOIN lookup + a derived column — is maintained from the
    * SAME feeds by grain-routed rebuild: fact changes (including a DV
    * retraction that resurrects older winners) name grains directly,
    * lookup changes (re-observed customers with renamed names, zero fact
    * churn) translate to grains via a semi-join on the current fact. Each
    * gold drain runs after the silver drain has converged, so gold never
    * outruns silver. The multi-tick
    * mart must equal DuckDB's from-scratch star over the visible
    * observations. */
  val st17CdfStarMart = GraftQuery(
    "st17_cdf_star_mart",
    (s, dir) => {
      val scratch = Files.createTempDirectory("graft-st17")
      val lake = new Lakehouse(s, scratch.toString)
      val fbase = table(s, dir, "orders")
        .filter(col("o_custkey") % 20 === 7)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast(money).as("price"))
      def fobs(seq: Int, f: org.apache.spark.sql.Column, bump: Int) = fbase
        .filter(f)
        .withColumn("price", (col("price") + lit(bump)).cast(money))
        .withColumn("obs_seq", lit(seq).cast("int"))
      val cbase = table(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val factCur = scratch.resolve("fcur").toString
      val dimCur = scratch.resolve("dcur").toString
      val goldCur = scratch.resolve("gcur").toString
      def silverDrain(): Unit = {
        var guard = 0
        while (graft.pipeline.Silver.latestWinsFeedTick(lake, "silver", "sfact",
            "fct", Seq("o_orderkey"), Seq(col("obs_seq").desc),
            identity, factCur, maxVersions = 2).isDefined ||
          graft.pipeline.Silver.latestWinsFeedTick(lake, "silver", "sdim",
            "cust", Seq("c_custkey"), Seq(col("obs_seq").desc),
            identity, dimCur, maxVersions = 2).isDefined) {
          guard += 1
          require(guard <= 6, "capped silver drain failed to converge")
        }
      }
      def goldDrain(): Unit = {
        // runs only after silverDrain() has converged: the mart must never
        // rebuild grains from a silver state behind the range it marks
        // consumed
        val factDep = graft.pipeline.Gold.FeedDep("fct", Seq("o_orderkey"), identity)
        val dimDep = graft.pipeline.Gold.FeedDep("cust", Seq("o_custkey"),
          d => d.select(col("c_custkey").as("o_custkey")))
        val build = (l: Lakehouse, f: org.apache.spark.sql.DataFrame) => {
          val d = l.table("silver", "sdim")
            .select(col("c_custkey").as("o_custkey"), col("c_name").as("customer_name"))
          f.join(broadcast(d), Seq("o_custkey"), "left")
            .select(col("o_orderkey"), col("o_custkey"), col("price"),
              col("customer_name"),
              (col("price") + lit(5)).cast(money).as("adjusted_price"))
        }
        var guard = 0
        while (graft.pipeline.Gold.starFeedTick(lake, "mart", Seq("o_orderkey"),
            factDep, Seq(dimDep), "sfact", build,
            goldCur, maxVersions = 2).isDefined) {
          guard += 1
          require(guard <= 6, "capped gold drain failed to converge")
        }
      }
      lake.appendBronze("fct", fobs(1, lit(true), 0).repartition(4))         // fct v1
      lake.appendBronze("cust",
        cbase.withColumn("obs_seq", lit(1).cast("int")).repartition(2))      // cust v1
      silverDrain(); goldDrain() // bootstraps: silver snapshots + full mart
      lake.appendBronze("fct",
        fobs(2, col("o_orderkey") % 3 === 0, 10).repartition(2))             // fct v2
      lake.deleteBronzeWhereDv("fct",
        col("obs_seq") === 2 && col("o_orderkey") % 9 === 0)                 // fct v3
      lake.appendBronze("cust",
        cbase.filter(col("c_custkey") % 4 === 0)
          .withColumn("c_name", concat(col("c_name"), lit("-x")))
          .withColumn("obs_seq", lit(2).cast("int")).repartition(2))         // cust v2
      silverDrain(); goldDrain() // incremental: fact grains + lookup-routed grains
      val res = lake.table("gold", "mart")
        .select(col("o_orderkey"), col("o_custkey"),
          col("price").cast("double").as("price"),
          col("customer_name"),
          col("adjusted_price").cast("double").as("adjusted_price"))
        .orderBy(col("o_orderkey"))
      materialized(s, res, scratch)
    },
    Some("""
      WITH fbase AS (
        SELECT o_orderkey, o_custkey,
               CAST(o_totalprice AS DECIMAL(12,2)) AS price
        FROM orders WHERE o_custkey % 20 = 7),
      fobs AS (
        SELECT o_orderkey, o_custkey, price, 1 AS obs_seq FROM fbase
        UNION ALL
        SELECT o_orderkey, o_custkey,
               CAST(price + 10 AS DECIMAL(12,2)), 2 FROM fbase
        WHERE o_orderkey % 3 = 0),
      fvis AS (
        SELECT * FROM fobs WHERE NOT (obs_seq = 2 AND o_orderkey % 9 = 0)),
      sfact AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey
                      ORDER BY obs_seq DESC) AS rn
          FROM fvis) WHERE rn = 1),
      cobs AS (
        SELECT c_custkey, c_name, 1 AS obs_seq FROM customer
        UNION ALL
        SELECT c_custkey, c_name || '-x', 2 FROM customer
        WHERE c_custkey % 4 = 0),
      sdim AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY c_custkey
                      ORDER BY obs_seq DESC) AS rn
          FROM cobs) WHERE rn = 1)
      SELECT f.o_orderkey, f.o_custkey, CAST(f.price AS DOUBLE) AS price,
             d.c_name AS customer_name,
             CAST(CAST(f.price + 5 AS DECIMAL(12,2)) AS DOUBLE) AS adjusted_price
      FROM sfact f LEFT JOIN sdim d ON f.o_custkey = d.c_custkey
      ORDER BY f.o_orderkey"""))

  val all: Seq[GraftQuery] = Seq(st01DvDelete, st02RestoreRead, st03CdfRead, st04MergeUpsert,
    st05TxnIdempotent, st06CdfCursor, st07CdfAggMv, st08TypeWiden, st09GeneratedCol,
    st10IdentityCol, st11ColumnDefault, st12RowIds, st13CdfUpdates, st14NdimClusterRead,
    st15CdfLatestWinsMv, st16CdfScd2, st17CdfStarMart)
}
