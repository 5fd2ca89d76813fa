package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The silver layer: a declarative model registry + topo-sorted refresh —
  * our replacement for the reference's Lakeflow materialized-view pipeline
  * (`lakeflow/bronze_to_silver_pipeline.sql`, 13 MVs +
  * `country_reference.sql`). Each model is a plain
  * `Lakehouse => DataFrame`; "refresh" recomputes models in dependency
  * order and materializes them (SURVEY §3.2).
  *
  * The three reference idioms, factored once:
  *   - [[parseItems]]  — `from_json(payload, ddl)` → `explode_outer(items)`
  *     (12 uses in the reference);
  *   - [[latestWins]]  — `row_number() OVER (PARTITION BY grain ORDER BY
  *     snapshot_date DESC, ingest_ts_utc DESC, request_id DESC) = 1`
  *     (the dominant dedup idiom, 11 uses);
  *   - [[bind]]        — late name-driven header binding over the analytics
  *     report matrix: `element_at(rows, array_position(headers, name))`,
  *     guarded for absent columns (reference `:543-555`).
  *
  * Scale posture: every model is one linear scan + at most one window
  * shuffle on its dedup grain; payload JSON is parsed once per payload row
  * in each reader, with an explicit schema (never inferred — schema
  * inference is a second full scan); the one cross join broadcasts a single
  * row; dims join broadcast.
  */
object Silver {

  final case class Model(name: String, deps: Seq[String], build: Lakehouse => DataFrame)

  private val envelopeCols =
    Seq("snapshot_date", "ingest_ts_utc", "request_id", "run_id", "schema_version")

  /** Latest-wins ordering shared by every dedup (reference `:48-51`). */
  private val recencyOrder: Seq[Column] =
    Seq(col("snapshot_date").desc, col("ingest_ts_utc").desc, col("request_id").desc)

  /** from_json with explicit DDL + explode_outer(items), keeping the
    * envelope. explode_outer + downstream `item.id IS NOT NULL` filter is
    * deliberately NOT an inner explode: empty/malformed payloads must not
    * drop sibling envelope rows before the filter (SURVEY §7.4). */
  def parseItems(raw: DataFrame, ddl: String): DataFrame =
    raw.select(
      explode_outer(
        from_json(col("payload"), org.apache.spark.sql.types.DataType.fromDDL(ddl), Map.empty[String, String])
          .getField("items")).as("item") +: envelopeCols.map(col): _*)

  /** Keep the most recent row per grain. */
  def latestWins(df: DataFrame, grain: Seq[String], order: Seq[Column] = recencyOrder): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(grain.map(col): _*).orderBy(order: _*)))
      .filter(col("rn") === 1).drop("rn")

  /** Analytics report matrix → (header_names, row_values) long form. The
    * parse sits below the explode: in one select the optimizer re-inlines
    * `from_json(payload)` above it, a whole-report parse per exploded row. */
  def parseReport(raw: DataFrame): DataFrame = {
    val parsed = from_json(col("payload"), org.apache.spark.sql.types.DataType.fromDDL(Schemas.analyticsReportDdl),
      Map("primitivesAsString" -> "true"))
    raw.select(parsed.as("report") +: envelopeCols.map(col): _*)
      .select(transform(col("report.columnHeaders"), x => x.getField("name")).as("header_names") +:
        col("report.rows").as("rows") +: envelopeCols.map(col): _*)
      .select(col("header_names") +: explode_outer(col("rows")).as("row_values") +:
        envelopeCols.map(col): _*)
  }

  /** Name-driven positional bind, null when the column is absent —
    * generalizes the reference's guarded CASE (`:543-547`) to every lookup
    * (identical results on well-formed payloads, no index-0 error on
    * degraded ones). */
  def bind(name: String): Column =
    when(array_position(col("header_names"), name) > 0,
      element_at(col("row_values"), array_position(col("header_names"), name).cast("int")))

  /** Strict `day` bind (channel/video daily — reference `:404,475`: no
    * fallback; a null date is filtered). */
  private val strictDate: Column = to_date(bind("day")).as("date")

  /** `day` bind with snapshot_date fallback — dimensional facts only
    * (reference `:548-555`). */
  private val boundDate: Column =
    when(array_position(col("header_names"), "day") > 0,
      coalesce(to_date(bind("day")), col("snapshot_date")))
      .otherwise(col("snapshot_date")).as("date")

  /** Null-safe key routing shared by every feed fold (`<=>`):
    * latest-wins's window groups NULL grain values as one real grain, so
    * the joins that route rows around it must pair NULLs too — a plain
    * equality join would strand a standing NULL-grain winner past its
    * retraction and diverge from the from-scratch recompute. Key frames
    * are renamed before the condition join (both sides often share a
    * lineage — same-name references would be ambiguous). */
  private[pipeline] def keyMatch(left: DataFrame, keys: DataFrame, grain: Seq[String],
      how: String): DataFrame = {
    val renamed = grain.zipWithIndex.foldLeft(keys) {
      case (d, (k, i)) => d.withColumnRenamed(k, s"__g$i")
    }
    left.join(broadcast(renamed),
      grain.zipWithIndex.map { case (k, i) => left(k) <=> renamed(s"__g$i") }
        .reduce(_ && _), how)
  }

  /** One change-feed tick of the generic latest-wins fold — table-agnostic
    * so the storage suite can oracle-gate it over TPC-H samples (st15).
    * `Job.run` refreshes silver by full recompute; this tick maintains any
    * table of the form `latestWins(typed(source), grain, order)` from the
    * source's change feed instead. It folds correctly because latest-wins
    * is an idempotent, commutative merge on its grain:
    * `latestWins(existing ∪ typed(changedRows))` equals a full recompute
    * (each key's global max survives any grouping of the inputs).
    *
    * One tick drains the change feed since a durable cursor and folds it
    * into the standing table, so its cost tracks CHANGED ROWS, never table
    * history; it returns the `(from, to]` range folded, or None when
    * caught up. Deletes fold as retractions: a `delete`/`update_preimage`
    * row names a grain whose standing winner may have been retracted — the
    * tick re-derives those grains from the source's visible rows AS OF the
    * tick's end version (the correct new winner can be an OLDER source row
    * absent from the tick), a key-restricted scan. After any tick the table
    * is exactly latest-wins(source@frontier) — a consistent view of one
    * source version, even under capped drains or concurrent writers.
    * Everything else is churn-sized: the merge windows only affected
    * grains; existing rows elsewhere pass through an anti-join untouched.
    *
    * EXACTLY-ONCE by idempotency, not a txn ledger: a crash between the
    * OCC merge and the cursor advance replays the tick, and latest-wins
    * re-folding the same rows leaves every winner unchanged (contrast
    * [[graft.streaming.Streams.cdfAggregateSink]], whose retraction
    * arithmetic double-applies and therefore needs the writer-txn
    * dedupe). A FRESH cursor bootstraps from the source SNAPSHOT and jumps
    * to the head; a caught-up cursor whose table was deleted rebuilds it
    * the same way. `maxVersions` bounds each incremental tick's catch-up
    * exactly like the sinks in [[graft.streaming.Streams]]. */
  def latestWinsFeedTick(lake: Lakehouse, layer: String, target: String,
      source: String, grain: Seq[String], order: Seq[Column],
      typed: DataFrame => DataFrame, cursorDir: String,
      maxVersions: Int = Int.MaxValue): Option[(Int, Int)] = {
    lake.registerCursor(source, cursorDir)
    val cur = java.nio.file.Paths.get(cursorDir)
    val head = lake.committedBronzeVersion(source)
    def snapshot(): DataFrame = latestWins(typed(lake.table("bronze", source)), grain, order)
    def snapshotRebuild(): Unit = {
      val snap = snapshot()
      if (!lake.exists(layer, target)) lake.materialize(layer, target, snap)
      else lake.transactMerge(layer, target)(_ => snap)
    }
    // FRESH CURSOR → SNAPSHOT BOOTSTRAP, never a version-0 feed drain: on
    // a mature lake the early manifests are pruned (commit-time retention
    // keeps one checkpoint interval), so a from-0 change read would fail
    // fast forever — and even where it could run, replaying full history
    // including later-deleted rows costs strictly more than one
    // visible-rows scan. Crash-safe: a replay before the cursor commit
    // rebuilds the same snapshot (idempotent) and re-advances.
    val from = lake.changesCursor(cur)
    if (from == 0 && head > 0) {
      snapshotRebuild()
      lake.commitChangesCursor(cur, head)
      return Some((0, head))
    }
    // head and cursor were read once above — reuse them for the cap
    // arithmetic instead of re-listing the log and cursor dirs
    val to = lake.cappedTo(head, from, maxVersions)
    if (to <= from) {
      // caught-up cursor but the table is GONE (the delete-to-force-a-
      // rebuild idiom): rebuild from the snapshot without disturbing the
      // cursor — otherwise it would silently never materialize again
      if (head > 0 && !lake.exists(layer, target)) snapshotRebuild()
      return None
    }
    val changes0 = lake.tableChanges(source, from, to)
    // a range of pure OPTIMIZE/VACUUM commits (dataChange=false) carries no
    // rows: advance past it without rewriting the table — an unchanged
    // lake's refresh must cost cursor reads, not identical-content version
    // bumps
    if (lake.exists(layer, target) && changes0.isEmpty) {
      lake.commitChangesCursor(cur, to)
      return Some((from, to))
    }
    val changes = lake.fillHeadColumns(source, changes0)
    val metaCols = Seq("_change_type", "_commit_version")
    val freshAll = typed(changes
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .drop(metaCols: _*))
    val delKeys = typed(changes
      .filter(col("_change_type").isin("delete", "update_preimage"))
      .drop(metaCols: _*))
      .select(grain.map(col): _*).distinct()
    // fresh rows at a retraction-hit grain may THEMSELVES be retracted
    // later in the range (insert v5, delete v7) — those grains come
    // exclusively from the rebuild. The rebuild scan is PINNED to the
    // tick's end version `to` (not the live head): under a capped drain
    // or a concurrent writer a head read would commit rows from versions
    // beyond the cursor frontier — convergent under latest-wins, but the
    // table between ticks would not be a consistent view of ANY source
    // version. Pinned, every tick leaves it ≡ latest-wins(source@to), and a
    // replay re-derives the same affected grains and winners.
    val fresh = keyMatch(freshAll, delKeys, grain, "left_anti")
    // tableAt returns version `to`'s OWN schema — a capped tick whose range
    // ends before a later ADD COLUMNS would make the typed projection throw
    // on every retry of the same range (the livelock fillHeadColumns guards
    // on the changes frame), so the pinned rebuild gets the same NULL fill
    val rebuilt = keyMatch(
      typed(lake.fillHeadColumns(source, lake.tableAt("bronze", source, to))),
      delKeys, grain, "left_semi")
    if (!lake.exists(layer, target))
      // mid-stream missing target (deleted between ticks): the delta
      // alone would materialize a PARTIAL table — rebuild from the
      // snapshot (covers this tick's range too; later re-folds of the
      // overlap are idempotent under latest-wins)
      lake.materialize(layer, target, snapshot())
    else lake.transactMerge(layer, target) { existing =>
      val freshKeys = fresh.select(grain.map(col): _*).distinct()
      val affected = freshKeys.union(delKeys).distinct()
      // standing winners at insert-only grains still compete; winners at
      // retraction-hit grains are replaced by the rebuild wholesale
      val standing = keyMatch(existing, freshKeys, grain, "left_semi")
      val untouched = keyMatch(existing, affected, grain, "left_anti")
      untouched.unionByName(latestWins(
        standing.unionByName(fresh).unionByName(rebuilt), grain, order))
        .select(existing.columns.map(col).toSeq: _*)
    }
    lake.commitChangesCursor(cur, to)
    Some((from, to))
  }

  /** CDF-driven incremental SCD2 refresh — generic machinery, oracle-gated
    * over TPC-H samples (st16) exactly like [[latestWinsFeedTick]]/st15.
    * One tick drains the source's change feed since a durable cursor and
    * folds it into an observation log (`obsTable`: `typed(source)` unique
    * on `obsKey`, so any id's FULL history re-reads as columnar data, never
    * a re-parse of the source) and the segmented model. Per-tick cost ∝
    * churn + the retraction-hit ids' source history + the affected ids'
    * log slice:
    *
    *   1. the observation log folds the range — insert-side observations
    *      join, retraction-hit ids' slices are REPLACED wholesale from the
    *      source pinned at `to` (a retracted observation can resurrect an
    *      older version boundary; and a row inserted-then-deleted within
    *      the range must not survive via the insert branch);
    *   2. only the AFFECTED ids re-segment, from their complete log
    *      history — late observations that split an existing version and
    *      A→B→A reversions segment exactly like a full recompute;
    *   3. every other id's version rows pass through an anti-join
    *      untouched.
    *
    * A FRESH cursor bootstraps both tables from the source snapshot and
    * jumps to the head — never a version-0 history drain; a caught-up
    * cursor whose tables were deleted rebuilds them the same way. Idempotent:
    * a replay re-derives the same affected set (the feed is a pure function
    * of the log), the log re-merge collapses on `obsKey`, and re-segmenting
    * an id from its complete history is deterministic — so a crash between
    * the merges and the cursor commit is safe. */
  def scd2FeedTick(lake: Lakehouse, layer: String, target: String,
      obsTable: String, source: String, idCols: Seq[String],
      obsKey: Seq[String], typed: DataFrame => DataFrame,
      segment: DataFrame => DataFrame, cursorDir: String,
      maxVersions: Int = Int.MaxValue): Option[(Int, Int)] = {
    lake.registerCursor(source, cursorDir)
    val cur = java.nio.file.Paths.get(cursorDir)
    val head = lake.committedBronzeVersion(source)
    // one visible-rows scan; idempotent (re-running replaces both tables
    // with the same content)
    def snapshotRebuild(): Unit = {
      val obs = typed(lake.table("bronze", source)).dropDuplicates(obsKey)
      if (!lake.exists(layer, obsTable)) lake.materialize(layer, obsTable, obs)
      else lake.transactMerge(layer, obsTable)(_ => obs)
      val model = segment(lake.table(layer, obsTable))
      if (!lake.exists(layer, target)) lake.materialize(layer, target, model)
      else lake.transactMerge(layer, target)(_ => model)
      ()
    }
    def bothExist: Boolean = lake.exists(layer, target) && lake.exists(layer, obsTable)
    val from = lake.changesCursor(cur)
    if (from == 0 && head > 0) {
      snapshotRebuild()
      lake.commitChangesCursor(cur, head)
      return Some((0, head))
    }
    val to = lake.cappedTo(head, from, maxVersions)
    if (to <= from) {
      // caught up but a table is GONE (delete-to-force-a-rebuild): rebuild
      // from the snapshot without disturbing the cursor
      if (head > 0 && !bothExist) snapshotRebuild()
      return None
    }
    val changes0 = lake.tableChanges(source, from, to)
    if (!bothExist)
      // mid-stream missing piece (deleted between ticks): a delta-only
      // fold would leave a PARTIAL table — rebuild both from the snapshot
      // (covers this range too; replayed overlaps collapse on obsKey)
      snapshotRebuild()
    // a pure-maintenance range (no data change) advances without rewriting
    else if (!changes0.isEmpty) {
      val changes = lake.fillHeadColumns(source, changes0)
      val metaCols = Seq("_change_type", "_commit_version")
      val freshObs = typed(changes
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .drop(metaCols: _*))
      val retractedIds = typed(changes
        .filter(col("_change_type").isin("delete", "update_preimage"))
        .drop(metaCols: _*))
        .select(idCols.map(col): _*).distinct()
      val freshIds = freshObs.select(idCols.map(col): _*).distinct()
      val affected = freshIds.union(retractedIds).distinct()
      // pinned at `to` for the same between-tick consistency contract as
      // [[latestWinsFeedTick]]; head-schema NULL fill for the same
      // capped-range-predates-ADD-COLUMNS livelock guard as the changes frame
      val rebuiltObs = keyMatch(
        typed(lake.fillHeadColumns(source, lake.tableAt("bronze", source, to))),
        retractedIds, idCols, "left_semi")
      lake.transactMerge(layer, obsTable) { base =>
        keyMatch(base, retractedIds, idCols, "left_anti")
          .unionByName(keyMatch(freshObs, retractedIds, idCols, "left_anti"))
          .unionByName(rebuiltObs)
          .dropDuplicates(obsKey)
          .select(base.columns.map(col).toSeq: _*)
      }
      lake.transactMerge(layer, target) { existing =>
        val slice = keyMatch(lake.table(layer, obsTable), affected, idCols, "left_semi")
        keyMatch(existing, affected, idCols, "left_anti")
          .unionByName(segment(slice))
          .select(existing.columns.map(col).toSeq: _*)
      }
    }
    lake.commitChangesCursor(cur, to)
    Some((from, to))
  }

  // ---------------------------------------------------------------- models

  /** ISO-3166 static dim (reference `country_reference.sql`). */
  val dimCountryReference: Model = Model("dim_country_reference", Nil, lake => {
    import lake.spark.implicits._
    CountryRef.codes.toDF("country_code", "country_name")
  })

  /** reference `:8-71`. Grain: channel_id. */
  val silverChannels: Model = Model("silver_channels", Nil, lake =>
    latestWins(
      parseItems(lake.table("bronze", "channels_raw"), Schemas.channelsPayloadDdl)
        .select(
          col("item.id").as("channel_id"),
          col("item.snippet.title").as("channel_title"),
          col("item.snippet.description").as("channel_description"),
          col("item.snippet.customUrl").as("custom_url"),
          col("item.snippet.country").as("channel_country_code"),
          to_timestamp(col("item.snippet.publishedAt")).as("channel_published_at_utc"),
          col("item.statistics.viewCount").cast("bigint").as("channel_view_count"),
          col("item.statistics.subscriberCount").cast("bigint").as("channel_subscriber_count"),
          col("item.statistics.hiddenSubscriberCount").as("hidden_subscriber_count"),
          col("item.statistics.videoCount").cast("bigint").as("channel_video_count"),
          col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
          col("schema_version"))
        .filter(col("channel_id").isNotNull),
      Seq("channel_id")))

  /** reference `:73-130`. Grain: (video_id, fetched_at_utc); ties broken by
    * request_id only — preserved exactly (SURVEY §4 wart). */
  val silverVideoStatsSnapshot: Model = Model("silver_video_stats_snapshot", Nil, lake =>
    latestWins(
      parseItems(lake.table("bronze", "videos_raw"), Schemas.videoStatsPayloadDdl)
        .select(
          col("item.id").as("video_id"),
          col("item.snippet.channelId").as("channel_id"),
          col("ingest_ts_utc").as("fetched_at_utc"),
          col("snapshot_date"),
          col("item.statistics.viewCount").cast("bigint").as("view_count"),
          col("item.statistics.likeCount").cast("bigint").as("like_count"),
          col("item.statistics.favoriteCount").cast("bigint").as("favorite_count"),
          col("item.statistics.commentCount").cast("bigint").as("comment_count"),
          col("ingest_ts_utc"), col("request_id"), col("run_id"), col("schema_version"))
        .filter(col("video_id").isNotNull),
      Seq("video_id", "fetched_at_utc"), Seq(col("request_id").desc)))

  /** The 19 metadata fields hashed for change detection, in the exact
    * reference order (`:183-207`) — hash equality depends on field order
    * and on Spark's timestamp→string rendering (UTC pinned in the session). */
  private val scd2HashFields: Seq[Column] = Seq(
    col("channel_id"), col("video_title"), col("video_description"),
    col("video_published_at_utc").cast("string"),
    col("default_language"), col("default_audio_language"),
    col("duration_iso8601"), col("video_dimension"), col("video_definition"),
    col("caption_status"), col("licensed_content").cast("string"),
    col("projection_type"), col("upload_status"), col("privacy_status"),
    col("embeddable").cast("string"), col("public_stats_viewable").cast("string"),
    col("made_for_kids").cast("string"), col("self_declared_made_for_kids").cast("string"),
    col("topic_categories_csv"))

  /** Typed + hashed SCD2 observations from `videos_raw`: one row per
    * (video, ingest) observation with the 19 metadata fields, the
    * change-detection hash, and the envelope. */
  private def scd2Typed(raw: DataFrame): DataFrame = {
    val typed = parseItems(raw, Schemas.videoMetadataPayloadDdl)
      .select(
        col("item.id").as("video_id"),
        col("item.snippet.channelId").as("channel_id"),
        col("item.snippet.title").as("video_title"),
        col("item.snippet.description").as("video_description"),
        to_timestamp(col("item.snippet.publishedAt")).as("video_published_at_utc"),
        col("item.snippet.defaultLanguage").as("default_language"),
        col("item.snippet.defaultAudioLanguage").as("default_audio_language"),
        col("item.contentDetails.duration").as("duration_iso8601"),
        col("item.contentDetails.dimension").as("video_dimension"),
        col("item.contentDetails.definition").as("video_definition"),
        col("item.contentDetails.caption").as("caption_status"),
        col("item.contentDetails.licensedContent").as("licensed_content"),
        col("item.contentDetails.projection").as("projection_type"),
        col("item.status.uploadStatus").as("upload_status"),
        col("item.status.privacyStatus").as("privacy_status"),
        col("item.status.embeddable").as("embeddable"),
        col("item.status.publicStatsViewable").as("public_stats_viewable"),
        col("item.status.madeForKids").as("made_for_kids"),
        col("item.status.selfDeclaredMadeForKids").as("self_declared_made_for_kids"),
        concat_ws("|", col("item.topicDetails.topicCategories")).as("topic_categories_csv"),
        col("ingest_ts_utc").as("observed_at_utc"),
        col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
        col("schema_version"))
      .filter(col("video_id").isNotNull)
    typed.withColumn("metadata_hash",
      sha2(concat_ws("||", scd2HashFields.map(c => coalesce(c, lit(""))): _*), 256))
  }

  /** SCD2 segmentation over hashed observations: version starts where the
    * hash changes vs the per-id predecessor (lag), validity windows via
    * lead (next − 1µs, open-ended sentinel), surrogate key
    * sha2(video_id||valid_from). Pure function of the observation set. */
  private def scd2Segment(hashed: DataFrame): DataFrame = {
    // version starts: first observation or hash change vs the predecessor
    // (an A→B→A reversion correctly yields three versions)
    val w = Window.partitionBy(col("video_id"))
      .orderBy(col("observed_at_utc").asc, col("request_id").asc)
    val starts = hashed
      .withColumn("previous_metadata_hash", lag(col("metadata_hash"), 1).over(w))
      .filter(col("previous_metadata_hash").isNull
        || col("previous_metadata_hash") =!= col("metadata_hash"))
    starts
      .withColumn("valid_from_utc", col("observed_at_utc"))
      .withColumn("next_valid_from_utc", lead(col("observed_at_utc"), 1).over(w))
      .select(
        sha2(concat_ws("||", col("video_id"), col("valid_from_utc").cast("string")), 256)
          .as("video_meta_sk") +:
          (Seq("video_id", "channel_id", "video_title", "video_description",
            "video_published_at_utc", "default_language", "default_audio_language",
            "duration_iso8601", "video_dimension", "video_definition", "caption_status",
            "licensed_content", "projection_type", "upload_status", "privacy_status",
            "embeddable", "public_stats_viewable", "made_for_kids",
            "self_declared_made_for_kids", "topic_categories_csv", "metadata_hash",
            "valid_from_utc").map(col) ++
            Seq(
              coalesce(expr("next_valid_from_utc - INTERVAL 1 MICROSECOND"),
                lit("9999-12-31 23:59:59.999999").cast("timestamp")).as("valid_to_utc"),
              col("next_valid_from_utc").isNull.as("is_current")) ++
            envelopeCols.map(col)): _*)
  }

  /** reference `:132-297`: SCD2 versioning of video metadata — see
    * [[scd2Typed]] (parse + hash) and [[scd2Segment]] (windows). */
  val silverVideoMetadataScd2: Model = Model("silver_video_metadata_scd2", Nil, lake =>
    scd2Segment(scd2Typed(lake.table("bronze", "videos_raw"))))

  /** reference `:299-364`: latest video snapshot + current SCD2 FK. */
  val silverVideos: Model = Model("silver_videos", Seq("silver_video_metadata_scd2"), lake => {
    val latest = latestWins(
      parseItems(lake.table("bronze", "videos_raw"), Schemas.videosSlimPayloadDdl)
        .select(
          col("item.id").as("video_id"),
          col("item.snippet.channelId").as("channel_id"),
          col("item.snippet.title").as("latest_video_title"),
          to_timestamp(col("item.snippet.publishedAt")).as("video_published_at_utc"),
          col("item.status.privacyStatus").as("latest_privacy_status"),
          col("item.status.uploadStatus").as("latest_upload_status"),
          col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
          col("schema_version"))
        .filter(col("video_id").isNotNull),
      Seq("video_id"))
    val current = lake.table("silver", "silver_video_metadata_scd2")
      .filter(col("is_current"))
      .select(col("video_id"), col("video_meta_sk").as("current_video_meta_sk"))
    latest
      .join(broadcast(current), Seq("video_id"), "left")
      .select(
        (Seq("video_id", "channel_id", "current_video_meta_sk", "latest_video_title",
          "video_published_at_utc", "latest_privacy_status", "latest_upload_status") ++
          envelopeCols).map(col): _*)
  })

  /** reference `:366-443`: channel daily metrics — the single silver channel
    * id (top-1, deterministic ties) cross-joined onto every report row, then
    * name-bound metrics and latest-wins on (channel_id, date). */
  val factChannelDailyMetrics: Model =
    Model("fact_channel_daily_metrics", Seq("silver_channels"), lake => {
      val currentChannel = lake.table("silver", "silver_channels")
        .orderBy(col("ingest_ts_utc").desc, col("request_id").desc)
        .limit(1).select(col("channel_id"))
      latestWins(
        parseReport(lake.table("bronze", "analytics_channel_daily_raw"))
          .crossJoin(broadcast(currentChannel))
          .select(
            col("channel_id"), strictDate,
            bind("views").cast("bigint").as("views"),
            bind("likes").cast("bigint").as("likes"),
            bind("comments").cast("bigint").as("comments"),
            bind("estimatedMinutesWatched").cast("bigint").as("estimated_minutes_watched"),
            bind("subscribersGained").cast("bigint").as("subscribers_gained"),
            bind("subscribersLost").cast("bigint").as("subscribers_lost"),
            col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
            col("schema_version"))
          .filter(col("channel_id").isNotNull && col("date").isNotNull),
        Seq("channel_id", "date"))
    })

  /** reference `:445-512`. Grain: (video_id, date). */
  val factVideoDailyMetrics: Model = Model("fact_video_daily_metrics", Nil, lake =>
    latestWins(
      parseReport(lake.table("bronze", "analytics_video_daily_raw"))
        .select(
          bind("video").as("video_id"), strictDate,
          bind("views").cast("bigint").as("views"),
          bind("likes").cast("bigint").as("likes"),
          bind("comments").cast("bigint").as("comments"),
          bind("estimatedMinutesWatched").cast("bigint").as("estimated_minutes_watched"),
          bind("averageViewDuration").cast("double").as("average_view_duration_seconds"),
          col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
          col("schema_version"))
        .filter(col("video_id").isNotNull && col("date").isNotNull),
      Seq("video_id", "date")))

  /** Shared shape of the three per-dimension video facts
    * (reference `:514-603,605-694,696-785`): bind video/day/dim/metrics,
    * uppercase the dim, drop null/empty dims, latest-wins on
    * (video_id, date, dim). */
  private def dimensionalFact(rawTable: String, headerName: String, dimCol: String): Lakehouse => DataFrame =
    lake => latestWins(
      parseReport(lake.table("bronze", rawTable))
        .select(
          bind("video").as("video_id"), boundDate,
          upper(bind(headerName)).as(dimCol),
          bind("views").cast("bigint").as("views"),
          bind("estimatedMinutesWatched").cast("bigint").as("estimated_minutes_watched"),
          col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
          col("schema_version"))
        .filter(col("video_id").isNotNull && col("date").isNotNull
          && col(dimCol).isNotNull && col(dimCol) =!= ""),
      Seq("video_id", "date", dimCol))

  val factVideoTrafficSourceMetrics: Model = Model("fact_video_traffic_source_metrics", Nil,
    dimensionalFact("analytics_video_traffic_source_daily_raw", "insightTrafficSourceType", "source_id"))

  val factVideoCountryMetrics: Model = Model("fact_video_country_metrics", Nil,
    dimensionalFact("analytics_video_country_daily_raw", "country", "country_code"))

  val factVideoDeviceMetrics: Model = Model("fact_video_device_metrics", Nil,
    dimensionalFact("analytics_video_device_daily_raw", "deviceType", "device_type"))

  /** Shared shape of the observed-value dims (reference `:787-841,903-957`):
    * distinct uppercased dim values, latest-wins per value. */
  private def observedDim(rawTable: String, headerName: String, dimCol: String): Lakehouse => DataFrame =
    lake => latestWins(
      parseReport(lake.table("bronze", rawTable))
        .select(
          upper(bind(headerName)).as(dimCol),
          col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"),
          col("schema_version"))
        .filter(col(dimCol).isNotNull && col(dimCol) =!= ""),
      Seq(dimCol))

  val dimTrafficSource: Model = Model("dim_traffic_source", Nil, lake =>
    observedDim("analytics_video_traffic_source_daily_raw", "insightTrafficSourceType", "source_id")(lake)
      .select(col("source_id") +: col("source_id").as("source_name") +: envelopeCols.map(col): _*))

  /** reference `:844-901`: observed countries enriched from the static ISO
    * reference (broadcast — 249 rows). */
  val dimCountry: Model = Model("dim_country", Seq("dim_country_reference"), lake => {
    val ref = lake.table("silver", "dim_country_reference")
      .select(col("country_code"), col("country_name").as("ref_country_name"))
    observedDim("analytics_video_country_daily_raw", "country", "country_code")(lake)
      .join(broadcast(ref), Seq("country_code"), "left")
      .select(col("country_code") +:
        coalesce(col("ref_country_name"), col("country_code")).as("country_name") +:
        envelopeCols.map(col): _*)
  })

  val dimDevice: Model = Model("dim_device", Nil, lake =>
    observedDim("analytics_video_device_daily_raw", "deviceType", "device_type")(lake)
      .select(col("device_type") +: col("device_type").as("device_name") +: envelopeCols.map(col): _*))

  /** Calendar attributes — every column a pure function of `date`, so a
    * distinct() over derived rows equals a distinct over the dates. */
  private def dateAttrs(dates: DataFrame): DataFrame =
    dates.select(
      col("date"),
      year(col("date")).as("year"),
      month(col("date")).as("month"),
      dayofmonth(col("date")).as("day_of_month"),
      dayofweek(col("date")).as("day_of_week"),
      dayofweek(col("date")).isin(1, 7).as("is_weekend"))

  private val factTables = Seq("fact_channel_daily_metrics", "fact_video_daily_metrics",
    "fact_video_traffic_source_metrics", "fact_video_country_metrics",
    "fact_video_device_metrics")

  /** reference `:960-983`: calendar dim from the union of fact dates. */
  val dimDate: Model = Model("dim_date", factTables,
    lake => dateAttrs(
      factTables
        .map(t => lake.table("silver", t).select(col("date")).filter(col("date").isNotNull))
        .reduce(_ union _)
        .distinct()))

  /** All 14 silver models. */
  val models: Seq[Model] = Seq(
    dimCountryReference, silverChannels, silverVideoStatsSnapshot,
    silverVideoMetadataScd2, silverVideos, factChannelDailyMetrics,
    factVideoDailyMetrics, factVideoTrafficSourceMetrics, factVideoCountryMetrics,
    factVideoDeviceMetrics, dimTrafficSource, dimCountry, dimDevice, dimDate)

  /** Refresh all models in dependency order. */
  def refresh(lake: Lakehouse): Seq[String] = {
    val order = topoSort(models)
    order.foreach(m => lake.materialize("silver", m.name, m.build(lake)))
    order.map(_.name)
  }

  private def topoSort(ms: Seq[Model]): Seq[Model] = {
    val byName = ms.map(m => m.name -> m).toMap
    val visited = scala.collection.mutable.LinkedHashSet[String]()
    def visit(m: Model, path: List[String]): Unit = {
      require(!path.contains(m.name), s"model dependency cycle: ${path.reverse.mkString(" -> ")}")
      if (!visited.contains(m.name)) {
        m.deps.flatMap(byName.get).foreach(d => visit(d, m.name :: path))
        visited += m.name
      }
    }
    ms.foreach(visit(_, Nil))
    visited.toSeq.map(byName)
  }
}
