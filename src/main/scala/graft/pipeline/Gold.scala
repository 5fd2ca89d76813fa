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
      channelSummaryOver(lake.table("silver", "fact_channel_daily_metrics")))

  /** reference `dbt/models/gold_video_daily_summary.sql`. */
  val videoDailySummary: Model = Model("gold_video_daily_summary",
    Seq("fact_video_daily_metrics", "silver_videos"), lake =>
      videoSummaryOver(lake, lake.table("silver", "fact_video_daily_metrics")))

  /** Shared star shape of the three per-dimension summaries
    * (reference `dbt/models/gold_video_{country,device,traffic_source}_daily_summary.sql`):
    * fact LEFT JOIN silver_videos LEFT JOIN dim, estimated_minutes_watched
    * coalesced to 0. */
  private def dimensionalSummary(
      factTable: String, dimTable: String, dimKey: String, dimName: String): Lakehouse => DataFrame =
    lake => dimensionalSummaryOver(lake, lake.table("silver", factTable),
      dimTable, dimKey, dimName)

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

  // ───── CDF-driven gold refresh ─────────────────────────────────────────
  //
  // The marts are ROW-LEVEL star projections of one silver fact (no
  // aggregation: every mart row maps 1:1 to a fact row at the fact's
  // grain), so incremental maintenance is a grain-routed rebuild: the
  // bronze change feeds name which grains could have moved, and only
  // those mart rows are rebuilt from the CURRENT silver tables — cost ∝
  // changed grains, never mart size. Exactly-once by idempotency
  // (rebuild-from-visible-truth; a replayed tick re-derives the same
  // affected set and converges), same discipline as the silver folds.

  /** One change-feed dependency of a mart: a bronze source whose feed
    * signals affected keys, with the projection turning its change rows
    * into key frames named in the MART's columns. `frontierCap` bounds the
    * tick at the version the corresponding SILVER consumer has folded
    * through — a gold tick must never outrun silver, or it would rebuild
    * affected grains from a silver state that predates the range it then
    * marks consumed. */
  final case class FeedDep(
      source: String,
      keyCols: Seq[String],
      typedKeys: DataFrame => DataFrame,
      frontierCap: Option[Int] = None)

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
    * consumed ranges; it is exactly the from-scratch star once the gold
    * cursors align with the silver frontiers (a drained [[refreshStream]]
    * behind drained silver streams ends aligned). */
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
      graft.streaming.Streams.registerCursor(lake.root, d.source, s"$cursorRoot/${d.source}")
      val cur = java.nio.file.Paths.get(s"$cursorRoot/${d.source}")
      val from = lake.changesCursor(cur)
      val head = lake.committedBronzeVersion(d.source)
      val to = math.min(
        lake.cappedTo(head, from, maxVersions),
        d.frontierCap.getOrElse(Int.MaxValue))
      (d, cur, from, math.max(to, from))
    }
    val live = ticks.filter { case (_, _, from, to) => to > from }
    if (!lake.exists("gold", mart)) {
      // fresh or deleted mart: wholesale build from current silver; every
      // cursor jumps to the version its silver counterpart has folded
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
      val changes = Silver.fillHeadColumns(lake, d.source,
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

  /** The five marts' feed wiring. The dimensional marts need NO separate
    * dim dependency: each dim shares its bronze source with its fact (an
    * observed value arrives/retracts only alongside fact rows naming it,
    * and the dim name is a pure function of the value), so the fact dep's
    * grains already cover every dim-driven change. silver_videos is the
    * one real lookup dep — a video's channel_id can move with zero fact
    * churn. The dims themselves are read as standing silver tables, so
    * they must be refreshed before the tick that folds a grain naming a
    * new dim value. `silverFrontier(source)` caps each dep at the version the
    * silver consumers have folded (None = uncapped). */
  private def martDeps(lake: Lakehouse,
      silverFrontier: String => Option[Int]): Map[String, (Seq[String], FeedDep, Seq[FeedDep], String, (Lakehouse, DataFrame) => DataFrame)] = {
    def dep(source: String, keyCols: Seq[String], typedKeys: DataFrame => DataFrame) =
      FeedDep(source, keyCols, typedKeys, silverFrontier(source))
    val videosDep = dep("videos_raw", Seq("video_id"),
      raw => Silver.videosSlimKeyFrame(raw))
    def factDep(model: String): FeedDep = {
      val spec = Silver.latestWinsSpecs(model)
      dep(spec.bronzeTable, spec.grain, raw => spec.typed(raw))
    }
    def dimensional(mart: String, factModel: String, dimTable: String,
        dimKey: String, dimName: String) = {
      val spec = Silver.latestWinsSpecs(factModel)
      mart -> (spec.grain, factDep(factModel), Seq(videosDep), factModel,
        (l: Lakehouse, f: DataFrame) =>
          dimensionalSummaryOver(l, f, dimTable, dimKey, dimName))
    }
    Map(
      "gold_channel_daily_summary" -> ((Seq("channel_id", "date"),
        dep("analytics_channel_daily_raw", Seq("channel_id", "date"),
          raw => Silver.channelDailyKeyFrame(lake, raw)),
        Seq.empty[FeedDep],
        "fact_channel_daily_metrics",
        (_: Lakehouse, f: DataFrame) => channelSummaryOver(f))),
      "gold_video_daily_summary" -> ((Seq("video_id", "date"),
        factDep("fact_video_daily_metrics"), Seq(videosDep),
        "fact_video_daily_metrics",
        (l: Lakehouse, f: DataFrame) => videoSummaryOver(l, f))),
      dimensional("gold_video_country_daily_summary", "fact_video_country_metrics",
        "dim_country", "country_code", "country_name"),
      dimensional("gold_video_device_daily_summary", "fact_video_device_metrics",
        "dim_device", "device_type", "device_name"),
      dimensional("gold_video_traffic_source_daily_summary",
        "fact_video_traffic_source_metrics",
        "dim_traffic_source", "source_id", "source_name"))
  }

  /** The durable cursor root a mart's feed consumers use. */
  def feedCursorRoot(lake: Lakehouse, mart: String): String =
    s"${lake.root}/_gold_cursors/$mart"

  /** Continuous face of one mart:
    * [[graft.streaming.Streams.feedRefreshStream]] wired with this mart's
    * feed deps. Each micro-batch rebuilds the dep list, so the per-dep
    * frontier caps re-read the CURRENT silver feed cursors: gold never
    * outruns silver. [[graft.streaming.Streams.silverRefreshStream]]
    * advances those cursors, so run it on the mart's silver inputs too, or
    * the gold stream stalls at the standing silver frontier. The
    * dimensional marts read their dims as standing silver tables with no
    * feed dep (see [[martDeps]]), so refresh the dims with
    * [[Silver.refresh]] BEFORE each gold tick that folds new fact ranges:
    * a grain folded against a stale dim keeps a null dim name until that
    * grain changes again. Caller starts the returned writer with
    * a checkpoint dir; AvailableNow drains-and-stops. ONE driver per mart
    * cursor tree.
    *
    * The channel mart resets before a tick whenever it holds a channel_id
    * the silver fact no longer does ([[resetChannelSummaryFeed]]): after a
    * channel-identity change the fact's new-id keys never name the dead
    * id's mart rows, so a grain-routed merge would keep them forever. */
  def refreshStream(lake: Lakehouse, mart: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(models.exists(_.name == mart), s"unknown gold mart: $mart")
    def tick(): Option[(Int, Int)] = {
      if (mart == channelDailySummary.name && channelMartOrphaned(lake))
        resetChannelSummaryFeed(lake)
      val (grain, fact, lookups, factCur, build) =
        martDeps(lake, Job.silverFeedFrontier(lake, _))(mart)
      starFeedTick(lake, mart, grain, fact, lookups, factCur, build,
        feedCursorRoot(lake, mart))
    }
    val triggerSource = martDeps(lake, _ => None)(mart)._2.source
    graft.streaming.Streams.feedRefreshStream(lake, mart, triggerSource, () => tick())
  }

  /** Whether the channel mart holds a channel_id the silver channel fact
    * does not — the fact was re-stamped under a new channel identity. */
  private def channelMartOrphaned(lake: Lakehouse): Boolean = {
    val mart = channelDailySummary.name
    val fact = "fact_channel_daily_metrics"
    lake.exists("gold", mart) && lake.exists("silver", fact) &&
      !lake.table("gold", mart).select(col("channel_id")).distinct()
        .join(lake.table("silver", fact).select(col("channel_id")).distinct(),
          Seq("channel_id"), "left_anti")
        .isEmpty
  }

  /** Reset the channel summary's feed state after a channel-identity
    * change: the silver fact was re-stamped wholesale, and a grain-level
    * merge could never retract the dead channel_id's mart rows — drop the
    * mart (next tick rebuilds from the re-stamped fact) and its cursors
    * (cursor first would leave a live cursor past a missing mart; mart
    * first is safe because a missing mart always full-rebuilds). */
  private def resetChannelSummaryFeed(lake: Lakehouse): Unit = {
    val mart = "gold_channel_daily_summary"
    if (lake.exists("gold", mart)) lake.deleteRecursively(lake.tableDir("gold", mart))
    val root = java.nio.file.Paths.get(feedCursorRoot(lake, mart))
    if (java.nio.file.Files.exists(root)) lake.deleteRecursively(root)
  }

  /** DECOMMISSION the gold feed consumers: deletes the whole
    * `_gold_cursors` tree, releasing held log + vacuum retention. */
  def decommissionFeedCursors(lake: Lakehouse): Unit = {
    val root = java.nio.file.Paths.get(s"${lake.root}/_gold_cursors")
    if (java.nio.file.Files.exists(root)) lake.deleteRecursively(root)
  }

  // the mart projections factored over an arbitrary fact slice, so the
  // feed path rebuilds exactly what the full models build
  private def channelSummaryOver(f: DataFrame): DataFrame =
    f.select(
      col("channel_id"), col("date"), col("views"), col("likes"), col("comments"),
      col("estimated_minutes_watched"), col("subscribers_gained"), col("subscribers_lost"),
      (col("subscribers_gained") - col("subscribers_lost")).as("net_subscribers"),
      col("snapshot_date"), col("ingest_ts_utc"))

  private def videoSummaryOver(lake: Lakehouse, f: DataFrame): DataFrame = {
    val v = lake.table("silver", "silver_videos").select(col("video_id"), col("channel_id"))
    f.join(broadcast(v), Seq("video_id"), "left")
      .select(
        col("video_id"), col("channel_id"), col("date"), col("views"), col("likes"),
        col("comments"), col("estimated_minutes_watched"),
        col("average_view_duration_seconds"), col("snapshot_date"), col("ingest_ts_utc"))
  }

  private def dimensionalSummaryOver(lake: Lakehouse, f: DataFrame,
      dimTable: String, dimKey: String, dimName: String): DataFrame = {
    val v = lake.table("silver", "silver_videos").select(col("video_id"), col("channel_id"))
    val d = lake.table("silver", dimTable).select(col(dimKey), col(dimName))
    f.join(broadcast(v), Seq("video_id"), "left")
      .join(broadcast(d), Seq(dimKey), "left")
      .select(
        col("video_id"), col("channel_id"), col("date"), col(dimKey), col(dimName),
        col("views"),
        coalesce(col("estimated_minutes_watched"), lit(0L)).as("estimated_minutes_watched"),
        col("snapshot_date"), col("ingest_ts_utc"))
  }
}
