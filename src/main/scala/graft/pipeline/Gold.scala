package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gold layer: the five dbt models re-expressed as DataFrame functions
  * (reference `dbt model SQL files` — each ≤16 lines of SQL). Fact-side scans
  * dominate; the video/dim lookups are broadcast (silver_videos and the
  * dims are small relative to facts at any scale; if silver_videos grows
  * past broadcast size the hint drops out and AQE picks a shuffle join).
  */
object Gold {

  type Model = Silver.Model
  private val Model = Silver.Model

  /** reference `dbt/models/gold_channel_daily_summary.sql`:
    * net_subscribers = gained − lost. */
  val channelDailySummary: Model = Model("gold_channel_daily_summary",
    Seq("fact_channel_daily_metrics"), lake =>
      lake.table("silver", "fact_channel_daily_metrics").select(
        col("channel_id"), col("date"), col("views"), col("likes"), col("comments"),
        col("estimated_minutes_watched"), col("subscribers_gained"), col("subscribers_lost"),
        (col("subscribers_gained") - col("subscribers_lost")).as("net_subscribers"),
        col("snapshot_date"), col("ingest_ts_utc")))

  /** reference `dbt/models/gold_video_daily_summary.sql`. */
  val videoDailySummary: Model = Model("gold_video_daily_summary",
    Seq("fact_video_daily_metrics", "silver_videos"), lake => {
      val v = lake.table("silver", "silver_videos").select(col("video_id"), col("channel_id"))
      lake.table("silver", "fact_video_daily_metrics")
        .join(broadcast(v), Seq("video_id"), "left")
        .select(
          col("video_id"), col("channel_id"), col("date"), col("views"), col("likes"),
          col("comments"), col("estimated_minutes_watched"),
          col("average_view_duration_seconds"), col("snapshot_date"), col("ingest_ts_utc"))
    })

  /** Shared star shape of the three per-dimension summaries
    * (reference `dbt/models/gold_video_{country,device,traffic_source}_daily_summary.sql`):
    * fact LEFT JOIN silver_videos LEFT JOIN dim, estimated_minutes_watched
    * coalesced to 0. */
  private def dimensionalSummary(
      factTable: String, dimTable: String, dimKey: String, dimName: String): Lakehouse => DataFrame =
    lake => {
      val v = lake.table("silver", "silver_videos").select(col("video_id"), col("channel_id"))
      val d = lake.table("silver", dimTable).select(col(dimKey), col(dimName))
      lake.table("silver", factTable)
        .join(broadcast(v), Seq("video_id"), "left")
        .join(broadcast(d), Seq(dimKey), "left")
        .select(
          col("video_id"), col("channel_id"), col("date"), col(dimKey), col(dimName),
          col("views"),
          coalesce(col("estimated_minutes_watched"), lit(0L)).as("estimated_minutes_watched"),
          col("snapshot_date"), col("ingest_ts_utc"))
    }

  val videoCountryDailySummary: Model = Model("gold_video_country_daily_summary",
    Seq("fact_video_country_metrics", "silver_videos", "dim_country"),
    dimensionalSummary("fact_video_country_metrics", "dim_country", "country_code", "country_name"))

  val videoDeviceDailySummary: Model = Model("gold_video_device_daily_summary",
    Seq("fact_video_device_metrics", "silver_videos", "dim_device"),
    dimensionalSummary("fact_video_device_metrics", "dim_device", "device_type", "device_name"))

  val videoTrafficSourceDailySummary: Model = Model("gold_video_traffic_source_daily_summary",
    Seq("fact_video_traffic_source_metrics", "silver_videos", "dim_traffic_source"),
    dimensionalSummary("fact_video_traffic_source_metrics", "dim_traffic_source", "source_id", "source_name"))

  val models: Seq[Model] = Seq(
    channelDailySummary, videoDailySummary, videoCountryDailySummary,
    videoDeviceDailySummary, videoTrafficSourceDailySummary)

  /** Materialize all gold models (silver must be refreshed first). */
  def refresh(lake: Lakehouse): Seq[String] = {
    models.foreach(m => lake.materialize("gold", m.name, m.build(lake)))
    models.map(_.name)
  }

  // ───── change-feed star-mart tick ─────────────────────────────────────
  //
  // `Job.run` rebuilds every mart from silver (`refresh` above). The tick
  // below is the generic incremental alternative for a ROW-LEVEL star
  // projection of one fact (no aggregation: every mart row maps 1:1 to a
  // fact row at the fact's grain): the source change feeds name which
  // grains could have moved, and only those mart rows are rebuilt from
  // the CURRENT silver tables — cost ∝ changed grains, never mart size.
  // Exactly-once by idempotency (rebuild-from-visible-truth; a replayed
  // tick re-derives the same affected set and converges), same discipline
  // as the silver folds.

  /** One change-feed dependency of a mart: a bronze source whose feed
    * signals affected keys, with the projection turning its change rows
    * into key frames named in the MART's columns. */
  final case class FeedDep(
      source: String,
      keyCols: Seq[String],
      typedKeys: DataFrame => DataFrame)

  /** One change-feed tick of the generic star-mart fold — table-agnostic
    * so the storage suite can oracle-gate it over TPC-H samples (st17).
    *
    * Affected grains come from two places: the FACT dep's change rows name
    * grains directly (insert AND delete side — a deleted fact row's mart
    * row must vanish), and each LOOKUP dep's change rows name partial keys
    * (e.g. a video whose channel_id moved) that translate to grains via a
    * key-restricted semi-join on the current fact. The merge keeps every
    * other mart row untouched through an anti-join and rebuilds the
    * affected grains with `build` over the fact slice.
    *
    * A missing mart (fresh deployment, or deleted to force a rebuild)
    * rebuilds wholesale from the current silver state and jumps every
    * cursor to its (capped) head — never a version-0 history drain.
    * Between ticks the mart reflects the CURRENT silver tables for its
    * consumed ranges; it is exactly the from-scratch star once the silver
    * tables it reads have folded the same source versions. A gold tick
    * must never outrun silver, or it would rebuild affected grains from a
    * silver state that predates the range it then marks consumed: drain
    * the silver consumers of each source first. */
  def starFeedTick(lake: Lakehouse, mart: String, grain: Seq[String],
      factDep: FeedDep, lookupDeps: Seq[FeedDep],
      factTable: String,
      build: (Lakehouse, DataFrame) => DataFrame,
      cursorRoot: String, maxVersions: Int = Int.MaxValue): Option[(Int, Int)] = {
    def factCurrent(l: Lakehouse): DataFrame = l.table("silver", factTable)
    // no silver fact yet (partial ingest, silver drain skipped because its
    // source is still empty): nothing can be built sanely — stall with the
    // cursors untouched until the fact materializes
    if (!lake.exists("silver", factTable)) return None
    val deps = factDep +: lookupDeps
    val ticks = deps.map { d =>
      lake.registerCursor(d.source, s"$cursorRoot/${d.source}")
      val cur = java.nio.file.Paths.get(s"$cursorRoot/${d.source}")
      val from = lake.changesCursor(cur)
      val head = lake.committedBronzeVersion(d.source)
      (d, cur, from, lake.cappedTo(head, from, maxVersions))
    }
    val live = ticks.filter { case (_, _, from, to) => to > from }
    if (!lake.exists("gold", mart)) {
      // fresh or deleted mart: wholesale build from current silver; every
      // live cursor jumps to its (capped) head
      if (ticks.forall { case (d, _, _, _) => lake.committedBronzeVersion(d.source) == 0 })
        return None // nothing upstream yet
      lake.materialize("gold", mart, build(lake, factCurrent(lake)))
      live.foreach { case (_, cur, _, to) => lake.commitChangesCursor(cur, to) }
      return Some((ticks.map(_._3).min, ticks.map(_._4).max))
    }
    if (live.isEmpty) return None
    // PER-DEP BOOTSTRAP: a live cursor still at 0 (a dep whose source had
    // no commits when the mart materialized, or a standing mart adopted
    // into feed mode with fresh cursors) must never drain (0, head] — on a
    // mature lake the early manifests are pruned and that read fails fast
    // forever (the silver consumers snapshot-bootstrap around exactly
    // this). Rebuild the mart wholesale from the current silver state
    // instead and jump the live cursors; later ticks fold incrementally.
    if (live.exists { case (_, _, from, _) => from == 0 }) {
      lake.transactMerge("gold", mart)(_ => build(lake, factCurrent(lake)))
      live.foreach { case (_, cur, _, to) => lake.commitChangesCursor(cur, to) }
      return Some((live.map(_._3).min, live.map(_._4).max))
    }
    val metaCols = Seq("_change_type", "_commit_version")
    val keyFrames = live.map { case (d, _, from, to) =>
      val changes = lake.fillHeadColumns(d.source,
        lake.tableChanges(d.source, from, to))
      val keys = d.typedKeys(changes.drop(metaCols: _*))
        .select(d.keyCols.map(col): _*).distinct()
      (d, keys)
    }
    val factGrains = keyFrames.collect { case (d, keys) if d eq factDep => keys }
    val lookupGrains = keyFrames.collect {
      case (d, keys) if d ne factDep =>
        Silver.keyMatch(factCurrent(lake), keys, d.keyCols, "left_semi")
          .select(grain.map(col): _*).distinct()
    }
    val affected = (factGrains ++ lookupGrains).reduce(_ union _).distinct()
    if (affected.isEmpty) {
      // pure-maintenance ranges: advance without rewriting the mart
      live.foreach { case (_, cur, _, to) => lake.commitChangesCursor(cur, to) }
      return Some((live.map(_._3).min, live.map(_._4).max))
    }
    lake.transactMerge("gold", mart) { existing =>
      val untouched = Silver.keyMatch(existing, affected, grain, "left_anti")
      val rebuilt = build(lake,
        Silver.keyMatch(factCurrent(lake), affected, grain, "left_semi"))
      untouched.unionByName(rebuilt)
        .select(existing.columns.map(col).toSeq: _*)
    }
    live.foreach { case (_, cur, _, to) => lake.commitChangesCursor(cur, to) }
    Some((live.map(_._3).min, live.map(_._4).max))
  }
}
