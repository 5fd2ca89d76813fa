package graft.pipeline

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's full test suite as assertion functions: each returns the
  * OFFENDING rows — a check passes iff its DataFrame is empty (dbt singular
  * test semantics, reference `dbt test SQL files`; generic tests from
  * `dbt/models/schema.yml:18-125`; post-deploy smoke checks from
  * `scripts/post_deploy_smoke_checks.py:297-363`).
  */
object Checks {

  final case class Check(name: String, severity: String, run: Lakehouse => DataFrame)

  private def gold(lake: Lakehouse, name: String) = lake.table("gold", name)

  /** Uniqueness by grain (reference `dbt/tests/test_gold_..._unique.sql`). */
  private def uniqueByGrain(table: String, keys: Seq[String]): Check =
    Check(s"${table}_unique", "error", lake =>
      gold(lake, table).groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("row_count"))
        .filter(col("row_count") > 1))

  val uniqueness: Seq[Check] = Seq(
    uniqueByGrain("gold_channel_daily_summary", Seq("channel_id", "date")),
    uniqueByGrain("gold_video_daily_summary", Seq("video_id", "date")),
    uniqueByGrain("gold_video_country_daily_summary", Seq("video_id", "date", "country_code")),
    uniqueByGrain("gold_video_device_daily_summary", Seq("video_id", "date", "device_type")),
    uniqueByGrain("gold_video_traffic_source_daily_summary", Seq("video_id", "date", "source_id")))

  /** Non-negative metrics, stacked with null-padded comments
    * (reference `test_gold_metrics_non_negative.sql`). */
  val metricsNonNegative: Check = Check("gold_metrics_non_negative", "error", lake => {
    def slice(table: String, hasComments: Boolean) = {
      val base = gold(lake, table)
      base.select(
        lit(table).as("model_name"), col("views"),
        (if (hasComments) col("comments") else lit(null).cast("bigint")).as("comments"),
        col("estimated_minutes_watched"))
    }
    Seq(
      slice("gold_channel_daily_summary", hasComments = true),
      slice("gold_video_daily_summary", hasComments = true),
      slice("gold_video_country_daily_summary", hasComments = false),
      slice("gold_video_device_daily_summary", hasComments = false),
      slice("gold_video_traffic_source_daily_summary", hasComments = false))
      .reduce(_ unionByName _)
      .filter(coalesce(col("views"), lit(0L)) < 0
        || coalesce(col("comments"), lit(0L)) < 0
        || coalesce(col("estimated_minutes_watched"), lit(0L)) < 0)
  })

  /** Freshness: fail when max(date) is null or lags `asOf` by more than
    * `maxLagDays` (reference `test_gold_freshness_recency.sql`; lag
    * threshold var defaults to 7). `asOf` is injectable so tests are
    * deterministic (the reference hardwires current_date()). */
  def freshness(asOf: Date, maxLagDays: Int = 7): Check =
    Check("gold_freshness_recency", "error", lake => {
      val latest = Seq("gold_channel_daily_summary", "gold_video_daily_summary")
        .map(t => gold(lake, t).agg(max(col("date")).as("max_date"))
          .select(lit(t).as("model_name"), col("max_date")))
        .reduce(_ unionByName _)
      latest
        .withColumn("lag_days", datediff(lit(asOf), col("max_date")))
        .filter(col("max_date").isNull || col("lag_days") > maxLagDays)
    })

  /** accepted_values for device_type (reference `dbt/models/schema.yml:90-98`). */
  val deviceTypeAccepted: Check = Check("device_type_accepted_values", "error", lake =>
    gold(lake, "gold_video_device_daily_summary")
      .filter(col("device_type").isNotNull
        && !col("device_type").isin(Schemas.acceptedDeviceTypes.map(v => v: Any): _*)))

  /** relationships (referential integrity) gold → silver dims
    * (reference `dbt/models/schema.yml:48-53,69-74,99-104,120-125`). */
  private def relationship(goldTable: String, keyCol: String, dimTable: String, dimKey: String): Check =
    Check(s"${goldTable}_${keyCol}_relationship", "error", lake => {
      val known = lake.table("silver", dimTable).select(col(dimKey).as(keyCol))
      gold(lake, goldTable)
        .filter(col(keyCol).isNotNull)
        .select(col(keyCol))
        .join(broadcast(known), Seq(keyCol), "left_anti")
    })

  val relationships: Seq[Check] = Seq(
    relationship("gold_video_daily_summary", "video_id", "silver_videos", "video_id"),
    relationship("gold_video_country_daily_summary", "country_code", "dim_country", "country_code"),
    relationship("gold_video_device_daily_summary", "device_type", "dim_device", "device_type"),
    relationship("gold_video_traffic_source_daily_summary", "source_id", "dim_traffic_source", "source_id"))

  /** not_null on keys/metrics of the five gold models
    * (reference `dbt/models/schema.yml:18-125`). */
  val notNulls: Seq[Check] = Seq(
    ("gold_channel_daily_summary",
      Seq("channel_id", "date", "views", "comments", "estimated_minutes_watched")),
    ("gold_video_daily_summary", Seq("video_id", "date", "channel_id", "views")),
    ("gold_video_country_daily_summary", Seq("video_id", "date", "channel_id", "country_code", "views")),
    ("gold_video_device_daily_summary", Seq("video_id", "date", "channel_id", "device_type", "views")),
    ("gold_video_traffic_source_daily_summary", Seq("video_id", "date", "channel_id", "source_id", "views")))
    .map { case (table, cols) =>
      Check(s"${table}_not_null", "error", lake =>
        gold(lake, table).filter(cols.map(c => col(c).isNull).reduce(_ || _)))
    }

  /** Warn on traffic-source ids outside the 22 known values
    * (reference `warn_new_traffic_source_ids.sql` — severity warn). */
  val newTrafficSources: Check = Check("warn_new_traffic_source_ids", "warn", lake => {
    import lake.spark.implicits._
    val known = Schemas.knownTrafficSources.toDF("source_id")
    gold(lake, "gold_video_traffic_source_daily_summary")
      .filter(col("source_id").isNotNull && trim(col("source_id")) =!= "")
      .select(upper(col("source_id")).as("source_id")).distinct()
      .join(broadcast(known), Seq("source_id"), "left_anti")
  })

  /** Smoke: core gold tables non-empty
    * (reference `post_deploy_smoke_checks.py:259,343`). */
  val goldNonEmpty: Check = Check("gold_row_counts_positive", "error", lake => {
    import lake.spark.implicits._
    Seq("gold_channel_daily_summary", "gold_video_daily_summary")
      .map(t => gold(lake, t).agg(count(lit(1)).as("n")).select(lit(t).as("model_name"), col("n")))
      .reduce(_ unionByName _)
      .filter(col("n") === 0)
  })

  /** Smoke: the catalog's required objects exist — the reference's
    * REQUIRED_TABLES core list, layer by layer (offending rows = missing
    * tables; reference `post_deploy_smoke_checks.py:21-41,311-326`). */
  val requiredObjects: Check = Check("required_objects_exist", "error", lake => {
    import lake.spark.implicits._
    val required = Seq(
      "bronze" -> "run_context_log", "bronze" -> "channels_raw", "bronze" -> "videos_raw",
      "bronze" -> "analytics_channel_daily_raw", "bronze" -> "analytics_video_daily_raw",
      "silver" -> "silver_channels", "silver" -> "silver_videos",
      "silver" -> "fact_channel_daily_metrics", "silver" -> "fact_video_daily_metrics",
      "gold" -> "gold_channel_daily_summary", "gold" -> "gold_video_daily_summary",
      "gold" -> "gold_video_country_daily_summary", "gold" -> "gold_video_device_daily_summary",
      "gold" -> "gold_video_traffic_source_daily_summary")
    required.filterNot { case (l, t) => lake.exists(l, t) }.toDF("layer", "table_name")
  })

  /** Smoke: the most recent pipeline run (by finalize-else-ingest time)
    * finished `success`; a missing or empty run log offends too, matching
    * the reference's None-is-an-error handling
    * (`post_deploy_smoke_checks.py:240-255,328-341`). */
  val latestRunSuccess: Check = Check("latest_run_status_success", "error", lake => {
    import lake.spark.implicits._
    if (!lake.exists("bronze", "run_context_log"))
      Seq("missing: run_context_log").toDF("run_status")
    else {
      val latest = lake.table("bronze", "run_context_log")
        .orderBy(coalesce(col("finalized_ts_utc"), col("ingest_ts_utc")).desc)
        .limit(1)
      if (latest.isEmpty) Seq("empty: run_context_log").toDF("run_status")
      // null-safe compare: a crashed run leaves run_status NULL forever
      // (logRunStart writes null; only finalizeRun fills it) — a plain =!=
      // evaluates to NULL on that row and the filter would silently PASS
      // the very runs this check exists to catch
      else latest.filter(!(lower(col("run_status")) <=> "success"))
        .select(coalesce(col("run_status"), lit("null: never finalized")).as("run_status"))
    }
  })

  /** The in-pipeline suite (dbt tests + gold smoke): what the reference's
    * `dbt_test.py` task runs as part of a job. `latestRunSuccess` is NOT
    * here — mid-run the in-flight row cannot be success yet. */
  def all(asOf: Date, maxLagDays: Int = 7): Seq[Check] =
    uniqueness ++ Seq(metricsNonNegative, freshness(asOf, maxLagDays), deviceTypeAccepted) ++
      relationships ++ notNulls ++ Seq(newTrafficSources, goldNonEmpty, requiredObjects)

  /** The post-deploy smoke set (reference `post_deploy_smoke_checks.py` —
    * a separate script run AFTER the job finalizes, which is why the
    * latest-run gate belongs here and not in [[all]]). */
  def smoke(asOf: Date, maxLagDays: Int = 7): Seq[Check] =
    Seq(requiredObjects, latestRunSuccess, goldNonEmpty, freshness(asOf, maxLagDays))

  /** Run the post-deploy smoke checks; (name, severity, offendingRowCount). */
  def runSmoke(lake: Lakehouse, asOf: Date, maxLagDays: Int = 7): Seq[(String, String, Long)] =
    evaluate(lake, smoke(asOf, maxLagDays))

  /** Run checks; returns (name, severity, offendingRowCount). */
  def run(lake: Lakehouse, asOf: Date, maxLagDays: Int = 7): Seq[(String, String, Long)] =
    evaluate(lake, all(asOf, maxLagDays))

  /** Count the checks' offenders concurrently, so their small jobs'
    * driver-side gaps overlap; results in `checks` order. */
  private def evaluate(lake: Lakehouse, checks: Seq[Check]): Seq[(String, String, Long)] =
    Job.concurrently(implicit ec =>
      checks.map(c => scala.concurrent.Future((c.name, c.severity, c.run(lake).count()))))
}
