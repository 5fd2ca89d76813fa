package graft.queries

import graft.Graft.table
import graft.operators.{AsOf, Dedup, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Extended relational coverage beyond the reference's own surface (SURVEY
  * §2 notes what the reference lacks): window frames, full ranking family,
  * grouping sets, pivot, as-of join, range join, sessionization, exact
  * percentiles, approximate sketches, correlated scalar subqueries.
  *
  * A complete engine a reference user could switch to needs these; each is
  * oracle-checked (the approximate sketch via its exact count + an in-bound
  * boolean, since the raw HLL estimate is engine-specific).
  */
object Extended {

  private val money = DecimalType(12, 2)

  /** Explicit window frames: 3-row moving sum/avg + running total per
    * customer. Frames are ROWS-based with a unique order key, so both
    * engines window identical row sequences. */
  val q26WindowFrames = GraftQuery(
    "q26_window_frames",
    (s, dir) => {
      val base = table(s, dir, "orders").filter(col("o_custkey") < 100)
      val order3 = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val mov = order3.rowsBetween(-2, Window.currentRow)
      val run = order3.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(money)).over(mov).cast("double").as("moving_sum_3"),
        (sum(col("o_totalprice").cast(money)).over(mov).cast("double")
          / count(lit(1)).over(mov)).as("moving_avg_3"),
        sum(col("o_totalprice").cast(money)).over(run).cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum_3,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg_3,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      FROM orders
      WHERE o_custkey < 100
      ORDER BY o_custkey, o_orderkey"""))

  /** Full ranking family. rank/dense_rank/percent_rank/cume_dist order by a
    * tie-prone key (their values are tie-stable); ntile orders by a unique
    * key (its value depends on row position). */
  val q27Ranking = GraftQuery(
    "q27_ranking_family",
    (s, dir) => {
      val base = table(s, dir, "orders").filter(col("o_custkey") < 100)
      val tieW = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice").desc)
      val uniqW = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      base.select(
        col("o_orderstatus"), col("o_orderkey"),
        rank().over(tieW).as("price_rank"),
        dense_rank().over(tieW).as("price_dense_rank"),
        round(percent_rank().over(tieW), 6).as("price_percent_rank"),
        round(cume_dist().over(tieW), 6).as("price_cume_dist"),
        ntile(4).over(uniqW).as("price_quartile"))
        .orderBy(col("o_orderstatus"), col("o_orderkey"))
    },
    Some("""
      SELECT o_orderstatus, o_orderkey,
             CAST(rank() OVER tw AS BIGINT) AS price_rank,
             CAST(dense_rank() OVER tw AS BIGINT) AS price_dense_rank,
             round(percent_rank() OVER tw, 6) AS price_percent_rank,
             round(cume_dist() OVER tw, 6) AS price_cume_dist,
             CAST(ntile(4) OVER uw AS INT) AS price_quartile
      FROM orders
      WHERE o_custkey < 100
      WINDOW tw AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC),
             uw AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC)
      ORDER BY o_orderstatus, o_orderkey"""))

  /** GROUPING SETS with marker-free disambiguation (NULL key patterns are
    * unique across the three sets). */
  val q28GroupingSets = GraftQuery(
    "q28_grouping_sets",
    (s, dir) => {
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               count(*) AS line_count,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(count(*) AS BIGINT) AS line_count,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""))

  /** Pivot (long → wide) with an explicit value list — revenue by year ×
    * order status. Explicit values keep the output schema static, which is
    * the only scalable form (value discovery is a full extra scan). */
  val q29Pivot = GraftQuery(
    "q29_pivot_status",
    (s, dir) =>
      table(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast(money)).cast("double"))
        .orderBy(col("order_year")),
    Some("""
      SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS F,
             CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS O,
             CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS P
      FROM orders
      GROUP BY 1
      ORDER BY order_year"""))

  /** As-of join: each error event picks up the user's most recent click at
    * or before it (union-LOCF plan — one shuffle, no pair blowup; see
    * [[graft.operators.AsOf]]). Clicks deduped to one per (user, ts) so the
    * as-of winner is unique on both engines. */
  val q30AsOfJoin = GraftQuery(
    "q30_asof_join",
    (s, dir) => {
      val ev = table(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"), max(col("value")).as("click_value"))
        .select(col("user_id"), col("ts").as("click_ts"), col("click_id"), col("click_value"))
      AsOf.join(errors, clicks, key = "user_id", leftTime = "ts", rightTime = "click_ts",
          tieCol = "click_id", payload = Seq("click_id", "click_value", "click_ts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_click_id"), col("asof_click_value"),
          col("asof_click_ts"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH errors AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
      clicks AS (
        SELECT user_id, ts AS click_ts, MAX(event_id) AS click_id, MAX(value) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
      SELECT e.event_id, e.user_id, e.ts,
             c.click_id AS asof_click_id,
             c.click_value AS asof_click_value,
             c.click_ts AS asof_click_ts
      FROM errors e ASOF LEFT JOIN clicks c
        ON e.user_id = c.user_id AND e.ts >= c.click_ts
      ORDER BY e.event_id"""),
    bench = true)

  /** Range (interval) join against a small tier dim — broadcast nested-loop
    * on a non-equi predicate; correct plan when one side is tiny. */
  val q31RangeJoin = GraftQuery(
    "q31_range_join_tiers",
    (s, dir) => {
      import s.implicits._
      val tiers = Seq(
        (0.0, 10.0, "low"), (10.0, 50.0, "mid"), (50.0, 1e18, "high"))
        .toDF("lo", "hi", "tier")
      table(s, dir, "events")
        .join(broadcast(tiers), col("value") >= col("lo") && col("value") < col("hi"), "left")
        .groupBy(col("event_type"), col("tier"))
        .agg(count(lit(1)).as("event_count"))
        .orderBy(col("event_type"), col("tier"))
    },
    Some("""
      SELECT event_type, tier, CAST(COUNT(*) AS BIGINT) AS event_count
      FROM events LEFT JOIN (VALUES (0.0, 10.0, 'low'), (10.0, 50.0, 'mid'),
                                    (50.0, 1e18, 'high')) AS t(lo, hi, tier)
        ON value >= lo AND value < hi
      GROUP BY event_type, tier
      ORDER BY event_type, tier"""))

  /** Gap-based sessionization: lag → new-session flag → running sum as
    * session id (30-minute gap). Two stacked windows, one shuffle on
    * user_id. */
  val q32Sessionize = GraftQuery(
    "q32_sessionization",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull
            || unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(run))
        .groupBy(col("user_id"))
        .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      sess AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged)
      SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess
      GROUP BY user_id
      ORDER BY user_id"""),
    bench = true)

  /** Exact interpolated percentiles (percentile_cont semantics) per group. */
  val q33Percentiles = GraftQuery(
    "q33_percentiles",
    (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("p25_qty"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("p75_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
             round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
             round(quantile_cont(l_quantity, 0.75), 6) AS p75_qty,
             round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Approximate distinct sketch (HyperLogLog++). The sketch estimate itself
    * is engine-specific, so the oracle-checkable output is (exact count,
    * within_bound): Spark computes BOTH the HLL estimate and the exact
    * distinct count and asserts |approx-exact|/exact <= 3*rsd; the DuckDB
    * oracle computes the exact count and literal TRUE. A broken sketch flips
    * within_bound to false → hash mismatch. The ScalaTest spec additionally
    * bounds the error tighter. */
  val q34ApproxDistinct = GraftQuery(
    "q34_approx_distinct",
    (s, dir) =>
      table(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("event_count"))
        .select(
          col("event_type"), col("exact_users"), col("event_count"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * lit(0.06)).as("within_bound"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
             CAST(COUNT(*) AS BIGINT) AS event_count,
             TRUE AS within_bound
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Correlated scalar subquery per outer row (rewritten by Catalyst into a
    * left outer aggregate join — no per-row execution). */
  val q35ScalarSubquery = GraftQuery(
    "q35_scalar_subquery",
    (s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders")
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT o_orderkey, o_totalprice,
               (SELECT CAST(MAX(l_extendedprice) AS DOUBLE) FROM lineitem
                WHERE l_orderkey = o_orderkey) AS max_line_price
        FROM orders
        WHERE o_custkey < 50
        ORDER BY o_orderkey""")
    },
    Some("""
      SELECT o_orderkey, o_totalprice,
             (SELECT CAST(MAX(l_extendedprice) AS DOUBLE) FROM lineitem
              WHERE l_orderkey = o_orderkey) AS max_line_price
      FROM orders
      WHERE o_custkey < 50
      ORDER BY o_orderkey"""))

  /** Schema-on-read with an explicit DDL schema (SURVEY §2.8 F1 — the
    * bronze payload idiom over a driver table): from_json with a declared
    * struct, never inference (inference is a second full scan at 100 TB). */
  val q36FromJson = GraftQuery(
    "q36_from_json_schema",
    (s, dir) =>
      table(s, dir, "events")
        .withColumn("parsed",
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("event_count"),
          sum(col("parsed.k")).as("sum_k"),
          count(col("parsed.k")).as("k_present"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS event_count,
             CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
             CAST(COUNT(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_present
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Approximate percentile sketch (Greenwald-Khanna style), made
    * oracle-checkable the q34 way: output the exact interpolated median
    * plus a boolean asserting the sketch value lies within a ±0.005 rank
    * band around it (the sketch's accuracy parameter guarantees ±1e-4; the
    * band is 50× that). The oracle computes the exact median and literal
    * TRUE — a broken sketch flips the boolean and fails the hash. */
  val q37ApproxPercentile = GraftQuery(
    "q37_approx_percentile",
    (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("approx_p50"),
          expr("percentile(l_extendedprice, 0.495)").as("lo"),
          expr("percentile(l_extendedprice, 0.5)").as("exact_raw"),
          expr("percentile(l_extendedprice, 0.505)").as("hi"))
        .select(
          col("l_returnflag"),
          round(col("exact_raw"), 6).as("exact_p50"),
          (col("approx_p50") >= col("lo") && col("approx_p50") <= col("hi")).as("within_bound"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
             TRUE AS within_bound
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Salted skew join through the oracle gate: revenue by nation via
    * [[graft.operators.SaltedJoin]] (orders ⋈ customer on custkey, salt ×8).
    * The oracle is the PLAIN SQL join — salting must be output-invisible,
    * so the hash-match proves the operator changes only the partitioning.
    * Money sums go through DECIMAL(12,2) then DOUBLE on both engines. */
  val q38SaltedJoin = GraftQuery(
    "q38_salted_join",
    (s, dir) => {
      import graft.operators.SaltedJoin
      val orders = table(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val customer = table(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      SaltedJoin.join(orders, customer, "custkey", saltFactor = 8)
        .groupBy(col("c_nationkey"))
        .agg(
          count(lit(1)).as("order_count"),
          sum(col("o_totalprice").cast(money)).cast("double").as("total_revenue"))
        .orderBy(col("c_nationkey"))
    },
    Some("""
      SELECT c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS order_count,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey
      ORDER BY c_nationkey"""))

  /** Misra–Gries heavy hitters (frequent-items sketch) over the event
    * stream, k=4 counters against 5 event types — the sketch runs under
    * genuine eviction pressure. Oracle-checkable the q34 way, but here the
    * guarantees are DETERMINISTIC (MG has no randomness): every type with
    * count·(k+1) > N must be present in the summary, and its estimate e
    * must satisfy e ≤ f and (k+1)·e ≥ (k+1)·f − N — integer arithmetic on
    * both sides, no float boundary. The DuckDB oracle computes the exact
    * heavy-hitter set and literal TRUE for both sketch assertions; a broken
    * sketch (overcount, lost heavy hitter, bad merge) flips a boolean →
    * hash mismatch. The scale story is the plan: the MG aggregate
    * partial-aggregates, shipping ONE ≤k-entry map per task to the shuffle,
    * where exact counting shuffles every occurrence. */
  val q39HeavyHitters = GraftQuery(
    "q39_heavy_hitters",
    (s, dir) => {
      val k = 4
      val events = table(s, dir, "events").select(col("event_type"))
      val mgAgg = org.apache.spark.sql.graft.ColumnShim.column(
        graft.sql.MisraGries(
          org.apache.spark.sql.graft.ColumnShim.expression(col("event_type")), k)
          .toAggregateExpression())
      val sketch = events.agg(mgAgg.as("mg"), count(lit(1)).as("n_total"))
      val exact = events.groupBy(col("event_type")).agg(count(lit(1)).as("exact_count"))
      exact.crossJoin(broadcast(sketch))
        .filter(col("exact_count") * (k + 1) > col("n_total"))
        .withColumn("est", element_at(col("mg"), col("event_type")))
        .select(
          col("event_type"), col("exact_count"),
          col("est").isNotNull.as("in_sketch"),
          (col("est").isNotNull && col("est") <= col("exact_count") &&
            col("est") * (k + 1) >= col("exact_count") * (k + 1) - col("n_total"))
            .as("bounds_ok"))
        .orderBy(col("exact_count").desc, col("event_type"))
    },
    Some("""
      WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM events),
      exact AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM events GROUP BY event_type)
      SELECT event_type, exact_count, TRUE AS in_sketch, TRUE AS bounds_ok
      FROM exact, tot
      WHERE exact_count * 5 > n_total
      ORDER BY exact_count DESC, event_type"""))

  /** Z-order (Morton) clustering codes over two independent order
    * dimensions — the sort key behind OPTIMIZE ZORDER BY
    * ([[graft.operators.Layout]]). The code must be bit-exact or the
    * layout silently loses locality, so the oracle recomputes the
    * interleave arithmetically; the row-group pruning the layout buys is
    * CI-verified in LayoutSpec. */
  val q40ZorderCodes = GraftQuery(
    "q40_zorder_codes",
    (s, dir) =>
      table(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_custkey") % 256).cast("int").as("x"),
          (col("o_orderkey") % 256).cast("int").as("y"))
        .withColumn("zcode", graft.operators.Layout.mortonCode(col("x"), col("y"), bits = 8))
        .orderBy(col("zcode"), col("o_orderkey"))
        .limit(2000),
    Some {
      val interleave = (0 until 8).flatMap { i =>
        Seq(s"(((x >> $i) & 1) << ${2 * i})", s"(((y >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" + ")
      s"""
      WITH pts AS (
        SELECT o_orderkey,
               CAST(o_custkey % 256 AS INT) AS x,
               CAST(o_orderkey % 256 AS INT) AS y
        FROM orders)
      SELECT o_orderkey, x, y, CAST($interleave AS BIGINT) AS zcode
      FROM pts
      ORDER BY zcode, o_orderkey
      LIMIT 2000"""
    })

  /** Bucketed sort-merge join: both fact tables materialized as catalog
    * tables hash-bucketed + sorted on the join key, then joined WITHOUT any
    * Exchange — Spark's SortMergeJoin consumes the co-located bucketed scans
    * directly (PlanAuditSpec pins the Exchange-free plan; broadcast is
    * disabled for the join so the audit proves bucketing, not small-table
    * luck). At 100 TB this is the layout that amortizes the fact-to-fact
    * shuffle to a one-time write: every later join/aggregation on the
    * bucket key skips its largest cost. Result values are byte-identical
    * to the plain join, so the oracle is the straightforward SQL. */
  val q41SmbBucketJoin = GraftQuery(
    "q41_smb_bucket_join",
    (s, dir) => {
      import graft.operators.Layout
      val base = java.nio.file.Files.createTempDirectory("graft_buckets_").toString
      val li = Layout.bucketedTable(s,
        table(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount"),
        "q41_lineitem_b", Seq("l_orderkey"), buckets = 8, path = s"$base/lineitem")
      val ord = Layout.bucketedTable(s,
        table(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        "q41_orders_b", Seq("o_orderkey"), buckets = 8, path = s"$base/orders")
      // The "merge" hint forces SortMergeJoin regardless of the broadcast
      // threshold (no session-conf mutation — Verify shares one session);
      // with both sides bucketed on the key, that join plans Exchange-free.
      li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(
          sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
            (lit(1).cast(DecimalType(12, 2)) - col("l_discount").cast(DecimalType(12, 2))))
            .cast("double").as("revenue"),
          count(lit(1)).as("line_count"))
        .orderBy(col("priority"))
    },
    Some("""
      SELECT o_orderpriority AS priority,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS line_count
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority
      ORDER BY priority"""))

  /** One-pass multi-column profile (ANALYZE/data-quality stats): row count,
    * per-column non-null + exact distinct counts, min/max — one aggregation
    * over the table, unpivoted to a tall frame. Profiled columns here are
    * string/bigint so the min/max string casts render identically in both
    * engines (doubles would not — their shortest-repr formatting is
    * engine-specific, so numeric min/max is spec territory). */
  val q42Profile = GraftQuery(
    "q42_profile",
    (s, dir) =>
      graft.operators.Profiler.profile(
          table(s, dir, "events"), Seq("event_id", "user_id", "event_type"))
        .orderBy(col("column")),
    Some("""
      SELECT * FROM (
        SELECT 'event_id' AS "column", (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_rows,
               CAST(COUNT(event_id) AS BIGINT) AS n_nonnull,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
               CAST(MIN(event_id) AS VARCHAR) AS min_str, CAST(MAX(event_id) AS VARCHAR) AS max_str
        FROM events
        UNION ALL
        SELECT 'user_id', (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
               CAST(COUNT(user_id) AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT),
               CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
        FROM events
        UNION ALL
        SELECT 'event_type', (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
               CAST(COUNT(event_type) AS BIGINT), CAST(COUNT(DISTINCT event_type) AS BIGINT),
               CAST(MIN(event_type) AS VARCHAR), CAST(MAX(event_type) AS VARCHAR)
        FROM events)
      ORDER BY "column""""))

  /** Hopping (sliding) event-time windows — `window(ts, 10m, 5m)`: every
    * event lands in len/slide = 2 overlapping windows (the streaming
    * dashboard grain, computed in batch, §2.5). Value sums go through round-6 +
    * DECIMAL(18,6) so overlapping-window re-aggregation stays exact and
    * order-independent; the oracle restates Spark's epoch-aligned window
    * assignment with integer epoch arithmetic. */
  val q43HoppingWindows = GraftQuery(
    "q43_hopping_windows",
    (s, dir) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value"), 6).cast(DecimalType(18, 6))).cast("double").as("total_value"))
        .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy(col("window_start"), col("event_type")),
    Some("""
      WITH hopped AS (
        SELECT make_timestamp(((epoch_us(ts) // 300000000) - k) * 300000000) AS window_start,
               make_timestamp(((epoch_us(ts) // 300000000) - k + 2) * 300000000) AS window_end,
               event_type,
               CAST(round(value, 6) AS DECIMAL(18,6)) AS v6
        FROM events CROSS JOIN (SELECT unnest(range(0, 2)) AS k) u)
      SELECT window_start, window_end, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(v6) AS DOUBLE) AS total_value
      FROM hopped
      GROUP BY 1, 2, 3
      ORDER BY window_start, event_type"""))

  /** CUBE — the third of the grouping family (q24 ROLLUP, q28 GROUPING
    * SETS): all 2ⁿ subtotal combinations, with `grouping()` flags
    * disambiguating subtotal NULLs from data NULLs. */
  val q44Cube = GraftQuery(
    "q44_cube",
    (s, dir) =>
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("line_count"),
          sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double").as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(COUNT(*) AS BIGINT) AS line_count,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
             CAST(GROUPING(l_linestatus) AS INT) AS g_status
      FROM lineitem
      GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY g_flag, g_status,
               l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""))

  /** Hilbert-curve clustering codes (q40's Z-order successor — the key
    * Delta/Iceberg OPTIMIZE moved to): native stateful-walk expression on
    * the Spark side; the oracle re-runs the identical walk as a
    * `list_reduce` fold over bit levels with the (x, y, d) state PACKED
    * into one BIGINT (x≪24 | y≪16 | d), since SQL folds carry a single
    * accumulator value. Hash equality pins every rotation/reflection. */
  val q61HilbertCodes = GraftQuery(
    "q61_hilbert_codes",
    (s, dir) =>
      table(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_custkey") % 256).cast("int").as("x"),
          (col("o_orderkey") % 256).cast("int").as("y"))
        .withColumn("hcode",
          graft.operators.Layout.hilbertCode(col("x"), col("y"), bits = 8))
        .orderBy(col("hcode"), col("o_orderkey"))
        .limit(2000),
    Some("""
      WITH pts AS (
        SELECT o_orderkey,
               CAST(o_custkey % 256 AS INT) AS x,
               CAST(o_orderkey % 256 AS INT) AS y
        FROM orders)
      SELECT o_orderkey, x, y,
             CAST(list_reduce(list_prepend((CAST(x AS BIGINT) << 24) | (CAST(y AS BIGINT) << 16),
               list_transform(range(0, 8), i -> CAST(1 << (7 - CAST(i AS INT)) AS BIGINT))),
               (acc, s) -> (
                 ((CASE WHEN (((acc >> 16) & 255) & s) = 0
                    THEN (CASE WHEN ((acc >> 24) & s) > 0 THEN 255 - ((acc >> 16) & 255) ELSE ((acc >> 16) & 255) END)
                    ELSE (acc >> 24) END) << 24)
                 | ((CASE WHEN (((acc >> 16) & 255) & s) = 0
                    THEN (CASE WHEN ((acc >> 24) & s) > 0 THEN 255 - (acc >> 24) ELSE (acc >> 24) END)
                    ELSE ((acc >> 16) & 255) END) << 16)
                 | ((acc & 65535) + s * s * xor(3 * (CASE WHEN ((acc >> 24) & s) > 0 THEN 1 ELSE 0 END),
                                                (CASE WHEN (((acc >> 16) & 255) & s) > 0 THEN 1 ELSE 0 END)))
               )) & 65535 AS BIGINT) AS hcode
      FROM pts
      ORDER BY hcode, o_orderkey
      LIMIT 2000"""))

  /** Built-in gap-based session windows (`session_window(ts, gap)` — the
    * §2.5/§2.9 operator Spark added for exactly the q32 idiom, usable in
    * batch AND streaming): per-(user, session) frames with start, end =
    * last event + gap, and counts. The oracle recomputes sessions with the
    * lag/cumsum spelling, so the hash-match proves the built-in and the
    * manual idiom agree frame for frame. One user-keyed shuffle. */
  val q62SessionWindow = GraftQuery(
    "q62_session_window",
    (s, dir) =>
      table(s, dir, "events")
        .groupBy(col("user_id"), expr("session_window(ts, '30 minutes')").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(12, 2))).cast("double").as("session_value"))
        .select(col("user_id"),
          col("sw.start").as("session_start"), col("sw.end").as("session_end"),
          col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start")),
    Some("""
      WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      sess AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
      FROM sess
      GROUP BY user_id, sid
      ORDER BY user_id, session_start"""))

  /** Native UNPIVOT (melt) — the wide→long reshape as a first-class
    * operator (Spark's `Dataset.unpivot`, which plans an Expand over the
    * value columns, not a UNION of re-scans): per-nation wide aggregates
    * become (nation, measure, value) rows. Money goes through
    * DECIMAL(18,2) before the shared DOUBLE value column so the melt
    * never launders float sums. q42's profiler builds the same shape via
    * `stack`; this pins the dedicated API. */
  val q66Unpivot = GraftQuery(
    "q66_unpivot",
    (s, dir) => {
      val wide = table(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          count(lit(1)).cast("double").as("n_cust"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("total_bal"),
          max(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("max_bal"))
      wide.unpivot(
          ids = Array(col("c_nationkey")),
          values = Array(col("n_cust"), col("total_bal"), col("max_bal")),
          variableColumnName = "measure",
          valueColumnName = "value")
        .orderBy(col("c_nationkey"), col("measure"))
    },
    Some("""
      WITH wide AS (
        SELECT c_nationkey,
               CAST(COUNT(*) AS DOUBLE) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
               CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal
        FROM customer GROUP BY c_nationkey)
      SELECT c_nationkey, measure, value
      FROM (
        SELECT c_nationkey, 'n_cust' AS measure, n_cust AS value FROM wide
        UNION ALL
        SELECT c_nationkey, 'total_bal', total_bal FROM wide
        UNION ALL
        SELECT c_nationkey, 'max_bal', max_bal FROM wide)
      ORDER BY c_nationkey, measure"""))

  /** Count–min sketch point-frequency estimates
    * ([[graft.sql.CountMinSketch]], Cormode & Muthukrishnan 2005) over the
    * document token stream: ONE mergeable depth×width long array per map
    * task reaches the shuffle (vs shuffling every token occurrence for the
    * exact count), probed here for the exact top-20 terms. The sketch is
    * deterministic given the fixed portable hash family, so the oracle
    * reproduces the ESTIMATES bit-for-bit from the exact frequency table
    * (the overcount is exactly the per-row collision mass) — a stronger
    * gate than q39's bound-only check. Estimate ≥ exact always; the
    * `least` probe over 4 rows is all built-ins (element_at). */
  val q65CountMin = GraftQuery(
    "q65_count_min",
    (s, dir) => {
      val d = 4
      val w = 256
      val toks = table(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      val cmsAgg = org.apache.spark.sql.graft.ColumnShim.column(
        graft.sql.CountMinSketch(
          org.apache.spark.sql.graft.ColumnShim.expression(col("term")), d, w)
          .toAggregateExpression())
      val sketch = toks.agg(cmsAgg.as("cms"))
      val exact = toks.groupBy(col("term")).agg(count(lit(1)).as("exact_count"))
      val top = exact.orderBy(col("exact_count").desc, col("term")).limit(20)
      val h = Dedup.polyHashStr(col("term"))
      val est = (0 until d).map { i =>
        element_at(col("cms"),
          (lit(i * w) +
            (lit(graft.sql.Defaults.MinhashA(i)) * col("h") + lit(graft.sql.Defaults.MinhashB(i)))
              % lit(graft.sql.Defaults.P) % lit(w.toLong)).cast("int") + 1)
      }.reduce(least(_, _))
      top.crossJoin(broadcast(sketch))
        .withColumn("h", h)
        .withColumn("cms_estimate", est)
        .select(col("term"), col("exact_count"), col("cms_estimate"),
          (col("cms_estimate") - col("exact_count")).as("overcount"))
        .orderBy(col("exact_count").desc, col("term"))
    },
    Some {
      val termCodes =
        "list_transform(range(1, length(term)+1), j -> CAST(ascii(substr(term, CAST(j AS INT), 1)) AS BIGINT))"
      val rowsValues = (0 until 4).map { i =>
        s"(${i}, ${graft.sql.Defaults.MinhashA(i)}, ${graft.sql.Defaults.MinhashB(i)})"
      }.mkString(", ")
      s"""
      WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS term
        FROM documents),
      exact AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_count FROM toks GROUP BY term),
      hashed AS (
        SELECT term, exact_count,
               list_reduce(list_prepend(CAST(0 AS BIGINT), $termCodes),
                           (acc, x) -> (acc*31 + x) % 1000000007) AS h
        FROM exact),
      hrows AS (SELECT * FROM (VALUES $rowsValues) t(i, a, b)),
      buckets AS (
        SELECT term, exact_count, i, ((a*h + b) % 1000000007) % 256 AS bkt
        FROM hashed CROSS JOIN hrows),
      cell AS (SELECT i, bkt, SUM(exact_count) AS cell_total FROM buckets GROUP BY i, bkt),
      est AS (
        SELECT term, exact_count, CAST(MIN(cell_total) AS BIGINT) AS cms_estimate
        FROM buckets JOIN cell USING (i, bkt) GROUP BY term, exact_count),
      top AS (SELECT term FROM exact ORDER BY exact_count DESC, term LIMIT 20)
      SELECT e.term, e.exact_count, e.cms_estimate,
             e.cms_estimate - e.exact_count AS overcount
      FROM top t JOIN est e ON t.term = e.term
      ORDER BY e.exact_count DESC, e.term"""
    })

  /** Trailing-7-day distinct users per day via MERGEABLE daily HLL
    * sketches (q77) — the sketch-reuse window pattern: each day's raw
    * events are folded ONCE into a DataSketches HLL
    * (`hll_sketch_agg`), and every overlapping window merges the 7 daily
    * SKETCHES (`hll_union_agg`, bytes not rows) — at 100 TB the daily
    * sketch table is the at-rest artifact and each day's report touches
    * 7 tiny blobs instead of re-scanning a week of raw events (distinct
    * counts don't sum, so without sketches every window re-counts).
    * Oracle-checked the q34 way: the exact trailing count is computed on
    * both engines and the hash covers (exact, within_bound) — a broken
    * sketch/merge flips within_bound. */
  val q77SlidingDistinctSketch = GraftQuery(
    "q77_sliding_distinct_sketch",
    (s, dir) => {
      val ev = table(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val days = ev.select(col("day")).distinct()
      val daily = ev.groupBy(col("day"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val wd = days.select(col("day").as("wday"))
      val approx = wd.join(daily,
          col("day").between(date_sub(col("wday"), 6), col("wday")))
        .groupBy(col("wday"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx_users"))
      val exact = wd.join(ev,
          col("day").between(date_sub(col("wday"), 6), col("wday")))
        .groupBy(col("wday"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(approx, Seq("wday"))
        .select(col("wday").as("day"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * lit(0.06)).as("within_bound"))
        .orderBy(col("day"))
    },
    Some("""
      WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
      days AS (SELECT DISTINCT day FROM ev)
      SELECT d.day,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_users,
             TRUE AS within_bound
      FROM days d JOIN ev e ON e.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day
      ORDER BY d.day"""))

  val all: Seq[GraftQuery] = Seq(
    q26WindowFrames, q27Ranking, q28GroupingSets, q29Pivot, q30AsOfJoin,
    q31RangeJoin, q32Sessionize, q33Percentiles, q34ApproxDistinct,
    q35ScalarSubquery, q36FromJson, q37ApproxPercentile, q38SaltedJoin,
    q39HeavyHitters, q40ZorderCodes, q41SmbBucketJoin, q42Profile,
    q43HoppingWindows, q44Cube, q61HilbertCodes, q62SessionWindow,
    q65CountMin, q66Unpivot, q77SlidingDistinctSketch)
}
