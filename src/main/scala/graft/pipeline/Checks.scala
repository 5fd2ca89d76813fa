package graft.pipeline

import java.sql.Date

import scala.concurrent.Future

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's full test suite as assertion functions: each returns the
  * OFFENDING rows — a check passes iff its DataFrame is empty (dbt singular
  * test semantics, reference `dbt test SQL files`; generic tests from
  * `dbt/models/schema.yml:18-125`; post-deploy smoke checks from
  * `scripts/post_deploy_smoke_checks.py:297-363`).
  *
  * Each check is defined ONCE, as a [[Measure]]. A check over gold marts is
  * one [[Probe]] per mart it reads, and both of its faces derive from that
  * definition: [[Check.run]] spells it as the offending rows (diagnosis,
  * [[runSmoke]]), and [[MartScan]] folds every probe of one mart into ONE
  * aggregate over one scan of it ([[run]], and `Job.run`'s model graph,
  * which starts each mart's scan as soon as the mart and the dims it
  * references have committed).
  */
object Checks {

  /** What a check measures on one gold mart's rows. */
  sealed trait Probe
  /** The rows matching `pred` offend; `show` is their diagnostic projection. */
  final case class RowsWhere(pred: Column, show: Seq[Column] = Seq(col("*"))) extends Probe
  /** The grain groups holding more than one row offend. */
  final case class DuplicateGrain(grain: Seq[String]) extends Probe
  /** The rows whose non-null `key` no row of silver `dim` carries as `dimKey` offend. */
  final case class Orphans(key: String, dim: String, dimKey: String) extends Probe
  /** The distinct values of `value` over the rows matching `pred` offend. */
  final case class DistinctWhere(value: Column, pred: Column) extends Probe
  /** The mart offends when its newest `date` is null or lags `asOf` by more
    * than `maxLagDays` days. */
  final case class Stale(asOf: Date, maxLagDays: Int) extends Probe
  /** The mart offends when it holds no row. */
  case object Empty extends Probe

  /** How a check finds its offenders. */
  sealed trait Measure
  /** One [[Probe]] per gold mart (mart name, probe); the count sums them. */
  final case class OnMarts(parts: Seq[(String, Probe)]) extends Measure
  /** The (layer, table) pairs without a committed version offend; decided
    * on the driver from the log. */
  final case class Missing(required: Seq[(String, String)]) extends Measure
  /** The rows of its own plan offend (outside the gold marts). */
  final case class Rows(offenders: Lakehouse => DataFrame) extends Measure

  final case class Check(name: String, severity: String, measure: Measure) {
    /** The offending rows: the check passes iff this is empty. A check over
      * several marts stacks each mart's offenders under its `model_name`. */
    def run(lake: Lakehouse): DataFrame = measure match {
      case OnMarts(Seq((mart, probe))) => offenders(lake, mart, probe)
      case OnMarts(parts) =>
        parts.map { case (mart, probe) =>
          offenders(lake, mart, probe).select(lit(mart).as("model_name"), col("*"))
        }.reduce(_ unionByName _)
      case Missing(required) =>
        import lake.spark.implicits._
        missing(lake, required).toDF("layer", "table_name")
      case Rows(rows) => rows(lake)
    }
  }

  private def gold(lake: Lakehouse, name: String) = lake.table("gold", name)

  /** The mart's rows beside the dim key a relationship probe matches, as
    * `as` (null where the dim has no such key). The dim side is its
    * DISTINCT keys, so the join never multiplies a mart row. */
  private def withDimKey(lake: Lakehouse, rows: DataFrame, o: Orphans, as: String): DataFrame =
    rows.join(broadcast(lake.table("silver", o.dim).select(col(o.dimKey).as(as)).distinct()),
      col(o.key) === col(as), "left")

  private def orphan(o: Orphans, dimKey: String): Column = col(o.key).isNotNull && col(dimKey).isNull

  /** Days `maxDate` lags the probe's `asOf`; None for a null date. */
  private def lagDays(p: Stale, maxDate: Date): Option[Long] =
    Option(maxDate).map(m => p.asOf.toLocalDate.toEpochDay - m.toLocalDate.toEpochDay)

  private def isStale(p: Stale, maxDate: Date): Boolean = lagDays(p, maxDate).forall(_ > p.maxLagDays)

  /** The offending rows of one probe on one mart. The two summary probes
    * decide on the driver with the rule the fused scan applies. */
  private def offenders(lake: Lakehouse, mart: String, probe: Probe): DataFrame = {
    import lake.spark.implicits._
    val rows = gold(lake, mart)
    probe match {
      case RowsWhere(pred, show) => rows.filter(pred).select(show: _*)
      case DuplicateGrain(grain) =>
        rows.groupBy(grain.map(col): _*).agg(count(lit(1)).as("row_count"))
          .filter(col("row_count") > 1)
      case o: Orphans => withDimKey(lake, rows, o, "__dim_key").filter(orphan(o, "__dim_key"))
          .select(col(o.key))
      case DistinctWhere(value, pred) => rows.filter(pred).select(value).distinct()
      case p: Stale =>
        val maxDate = rows.agg(max(col("date"))).head().getDate(0)
        (if (isStale(p, maxDate)) Seq((maxDate, lagDays(p, maxDate))) else Seq.empty)
          .toDF("max_date", "lag_days")
      case Empty =>
        val n = rows.count()
        (if (n == 0) Seq(n) else Seq.empty).toDF("n")
    }
  }

  private def missing(lake: Lakehouse, required: Seq[(String, String)]): Seq[(String, String)] =
    required.filterNot { case (l, t) => lake.exists(l, t) }

  /** One gold mart's probes as ONE aggregate over one scan of it.
    * `probes` pairs each probe with the index of its check in the suite.
    *
    *   1. each relationship probe left-joins its dim's distinct keys;
    *   2. a group-by on the mart's grain (its uniqueness probe's) counts the
    *      rows of each grain value, sums each row probe's offenders, takes
    *      `max(date)` and collects each distinct probe's offending values;
    *   3. a global fold counts the grain values held more than once and
    *      folds the rest, into one row.
    *
    * Freshness and non-emptiness finish on the driver, so no run-dependent
    * date is a literal of the plan (Spark inlines date literals into
    * generated code, which then compiles again every run). Over a mart
    * below the open cost, the read is one partition, and the scan plans no
    * Exchange; the broadcast of each dim's keys is its only other job. */
  final case class MartScan(mart: String, probes: Seq[(Int, Probe)]) {

    /** The tables the scan reads: the mart, then each dim a relationship
      * probe joins. */
    def reads: Seq[String] = (mart +: probes.collect { case (_, o: Orphans) => o.dim }).distinct

    /** The fused aggregate: one row, one column per probe. */
    def aggregate(lake: Lakehouse): DataFrame = {
      def p(j: Int) = s"__p$j"
      val rows = probes.map(_._2).zipWithIndex.foldLeft(gold(lake, mart)) {
        case (df, (o: Orphans, j)) => withDimKey(lake, df, o, s"__k$j")
        case (df, _) => df
      }
      val grain = probes.collectFirst { case (_, DuplicateGrain(g)) => g }.getOrElse(Seq.empty)
      def flagged(pred: Column) = sum(when(pred, 1L).otherwise(0L))
      val perGrain = count(lit(1)).as("__n") +: probes.map(_._2).zipWithIndex.collect {
        case (RowsWhere(pred, _), j) => flagged(pred).as(p(j))
        case (o: Orphans, j) => flagged(orphan(o, s"__k$j")).as(p(j))
        case (DistinctWhere(value, pred), j) => collect_set(when(pred, value)).as(p(j))
        case (_: Stale, j) => max(col("date")).as(p(j))
      }
      val folded = probes.map(_._2).zipWithIndex.map {
        case (_: RowsWhere | _: Orphans, j) => sum(col(p(j)))
        case (_: DuplicateGrain, _) => flagged(col("__n") > 1)
        case (_: DistinctWhere, j) => size(array_distinct(flatten(collect_list(col(p(j))))))
        case (_: Stale, j) => max(col(p(j)))
        case (Empty, _) => sum(col("__n"))
      }
      rows.groupBy(grain.map(col): _*).agg(perGrain.head, perGrain.tail: _*)
        .agg(folded.head, folded.tail: _*)
    }

    /** (check index, offending count) per probe. */
    def counts(lake: Lakehouse): Seq[(Int, Long)] = {
      val r = aggregate(lake).head()
      probes.zipWithIndex.map { case ((check, probe), j) =>
        check -> (probe match {
          case s: Stale => if (isStale(s, r.getDate(j))) 1L else 0L
          case Empty => if (r.isNullAt(j) || r.getLong(j) == 0L) 1L else 0L
          case _: DistinctWhere => r.getInt(j).toLong
          case _ => if (r.isNullAt(j)) 0L else r.getLong(j)
        })
      }
    }
  }

  /** The suite's mart probes grouped into one [[MartScan]] per mart, in
    * the order the marts first appear. */
  def martScans(checks: Seq[Check]): Seq[MartScan] = {
    val parts = checks.zipWithIndex.flatMap {
      case (Check(_, _, OnMarts(ps)), i) => ps.map { case (mart, probe) => (mart, (i, probe)) }
      case _ => Seq.empty
    }
    parts.map(_._1).distinct.map(m => MartScan(m, parts.collect { case (`m`, ip) => ip }))
  }

  /** `checks`' (name, severity, offending count), in order: the mart
    * probes' counts from their scans (`scanned`), the rest on the driver. */
  def tally(lake: Lakehouse, checks: Seq[Check],
      scanned: Seq[(Int, Long)]): Seq[(String, String, Long)] = {
    val byCheck = scanned.groupMapReduce(_._1)(_._2)(_ + _)
    checks.zipWithIndex.map { case (c, i) =>
      (c.name, c.severity, c.measure match {
        case OnMarts(_) => byCheck.getOrElse(i, 0L)
        case Missing(required) => missing(lake, required).size.toLong
        case Rows(_) => c.run(lake).count()
      })
    }
  }

  private def martCheck(name: String, severity: String, parts: (String, Probe)*): Check =
    Check(name, severity, OnMarts(parts))

  /** Uniqueness by grain (reference `dbt/tests/test_gold_..._unique.sql`). */
  private def uniqueByGrain(table: String, keys: Seq[String]): Check =
    martCheck(s"${table}_unique", "error", table -> DuplicateGrain(keys))

  val uniqueness: Seq[Check] = Seq(
    uniqueByGrain("gold_channel_daily_summary", Seq("channel_id", "date")),
    uniqueByGrain("gold_video_daily_summary", Seq("video_id", "date")),
    uniqueByGrain("gold_video_country_daily_summary", Seq("video_id", "date", "country_code")),
    uniqueByGrain("gold_video_device_daily_summary", Seq("video_id", "date", "device_type")),
    uniqueByGrain("gold_video_traffic_source_daily_summary", Seq("video_id", "date", "source_id")))

  /** Non-negative metrics, stacked with null-padded comments
    * (reference `test_gold_metrics_non_negative.sql`). */
  val metricsNonNegative: Check = {
    def slice(table: String, hasComments: Boolean) = {
      val comments = if (hasComments) col("comments") else lit(null).cast("bigint")
      table -> RowsWhere(
        Seq(col("views"), comments, col("estimated_minutes_watched"))
          .map(c => coalesce(c, lit(0L)) < 0).reduce(_ || _),
        Seq(col("views"), comments.as("comments"), col("estimated_minutes_watched")))
    }
    martCheck("gold_metrics_non_negative", "error",
      slice("gold_channel_daily_summary", hasComments = true),
      slice("gold_video_daily_summary", hasComments = true),
      slice("gold_video_country_daily_summary", hasComments = false),
      slice("gold_video_device_daily_summary", hasComments = false),
      slice("gold_video_traffic_source_daily_summary", hasComments = false))
  }

  /** Freshness: fail when max(date) is null or lags `asOf` by more than
    * `maxLagDays` (reference `test_gold_freshness_recency.sql`; lag
    * threshold var defaults to 7). `asOf` is injectable so tests are
    * deterministic (the reference hardwires current_date()). */
  def freshness(asOf: Date, maxLagDays: Int = 7): Check =
    martCheck("gold_freshness_recency", "error",
      Seq("gold_channel_daily_summary", "gold_video_daily_summary")
        .map(_ -> Stale(asOf, maxLagDays)): _*)

  /** accepted_values for device_type (reference `dbt/models/schema.yml:90-98`). */
  val deviceTypeAccepted: Check = martCheck("device_type_accepted_values", "error",
    "gold_video_device_daily_summary" -> RowsWhere(col("device_type").isNotNull
      && !col("device_type").isin(Schemas.acceptedDeviceTypes.map(v => v: Any): _*)))

  /** relationships (referential integrity) gold → silver dims
    * (reference `dbt/models/schema.yml:48-53,69-74,99-104,120-125`). */
  private def relationship(goldTable: String, keyCol: String, dimTable: String, dimKey: String): Check =
    martCheck(s"${goldTable}_${keyCol}_relationship", "error",
      goldTable -> Orphans(keyCol, dimTable, dimKey))

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
      martCheck(s"${table}_not_null", "error",
        table -> RowsWhere(cols.map(c => col(c).isNull).reduce(_ || _)))
    }

  /** Warn on traffic-source ids outside the 22 known values
    * (reference `warn_new_traffic_source_ids.sql` — severity warn). */
  val newTrafficSources: Check = {
    val id = upper(col("source_id"))
    martCheck("warn_new_traffic_source_ids", "warn",
      "gold_video_traffic_source_daily_summary" -> DistinctWhere(id.as("source_id"),
        col("source_id").isNotNull && trim(col("source_id")) =!= "" &&
          !id.isin(Schemas.knownTrafficSources.map(v => v: Any): _*)))
  }

  /** Smoke: core gold tables non-empty
    * (reference `post_deploy_smoke_checks.py:259,343`). */
  val goldNonEmpty: Check = martCheck("gold_row_counts_positive", "error",
    Seq("gold_channel_daily_summary", "gold_video_daily_summary").map(_ -> Empty): _*)

  /** Smoke: the catalog's required objects exist — the reference's
    * REQUIRED_TABLES core list, layer by layer (offending rows = missing
    * tables; reference `post_deploy_smoke_checks.py:21-41,311-326`). */
  val requiredObjects: Check = Check("required_objects_exist", "error", Missing(Seq(
    "bronze" -> "run_context_log", "bronze" -> "channels_raw", "bronze" -> "videos_raw",
    "bronze" -> "analytics_channel_daily_raw", "bronze" -> "analytics_video_daily_raw",
    "silver" -> "silver_channels", "silver" -> "silver_videos",
    "silver" -> "fact_channel_daily_metrics", "silver" -> "fact_video_daily_metrics",
    "gold" -> "gold_channel_daily_summary", "gold" -> "gold_video_daily_summary",
    "gold" -> "gold_video_country_daily_summary", "gold" -> "gold_video_device_daily_summary",
    "gold" -> "gold_video_traffic_source_daily_summary")))

  /** Smoke: the most recent pipeline run (by finalize-else-ingest time)
    * finished `success`; a missing or empty run log offends too, matching
    * the reference's None-is-an-error handling
    * (`post_deploy_smoke_checks.py:240-255,328-341`). */
  val latestRunSuccess: Check = Check("latest_run_status_success", "error", Rows(lake => {
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
  }))

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
    smoke(asOf, maxLagDays).map(c => (c.name, c.severity, c.run(lake).count()))

  /** Run the in-pipeline suite; (name, severity, offendingRowCount), in
    * [[all]]'s order. Each gold mart's checks are one fused scan
    * ([[MartScan]]); the five scans run concurrently. `Job.run` schedules
    * the same scans inside its model graph instead. */
  def run(lake: Lakehouse, asOf: Date, maxLagDays: Int = 7): Seq[(String, String, Long)] = {
    val checks = all(asOf, maxLagDays)
    tally(lake, checks, Job.concurrently(implicit ec =>
      martScans(checks).map(s => Future(s.counts(lake)))).flatten)
  }
}
