package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._

import Json._

/** The orchestrated run (reference job DAG, SURVEY §3.1): one call lands
  * bronze via both API ports, refreshes silver+gold, runs the check suite,
  * and ALWAYS finalizes the run log — success or failure. */
class JobSpec extends SparkSpec {

  private def report(headers: Seq[String], rows: Seq[Seq[JVal]]): JObj =
    JObj.of(
      "columnHeaders" -> JArr(headers.map(h => JObj.of(
        "name" -> JStr(h), "columnType" -> JStr("DIMENSION"), "dataType" -> JStr("STRING")))),
      "rows" -> JArr(rows.map(JArr(_))))

  private object DataClient extends DataApiIngest.DataApiClient {
    def getJson(path: String, params: Map[String, String]): JObj = path match {
      case "channels" => JObj.of("items" -> JArr(Seq(JObj.of(
        "id" -> JStr("UC_9"),
        "snippet" -> JObj.of("title" -> JStr("Job Chan"), "publishedAt" -> JStr("2019-05-01T10:00:00Z")),
        "statistics" -> JObj.of("viewCount" -> JStr("9"), "subscriberCount" -> JStr("1"),
          "hiddenSubscriberCount" -> JBool(false), "videoCount" -> JStr("1")),
        "contentDetails" -> JObj.of("relatedPlaylists" -> JObj.of("uploads" -> JStr("UU_9")))))))
      case "playlistItems" => JObj.of("items" -> JArr(Seq(
        JObj.of("contentDetails" -> JObj.of("videoId" -> JStr("V9"))))))
      case "videos" => JObj.of("items" -> JArr(Seq(JObj.of(
        "id" -> JStr("V9"),
        "snippet" -> JObj.of("channelId" -> JStr("UC_9"), "title" -> JStr("T9"),
          "publishedAt" -> JStr("2024-03-01T08:00:00Z")),
        "statistics" -> JObj.of("viewCount" -> JStr("3"), "likeCount" -> JStr("1"),
          "favoriteCount" -> JStr("0"), "commentCount" -> JStr("0")),
        "contentDetails" -> JObj.of("duration" -> JStr("PT1M")),
        "status" -> JObj.of("privacyStatus" -> JStr("public"))))))
    }
  }

  private object AnalyticsClient extends AnalyticsIngest.AnalyticsApiClient {
    def queryReports(params: Map[String, String]): Either[JVal, JObj] = {
      val dims = params("dimensions")
      if (dims == "day" && !params.contains("filters"))
        Right(report(Seq("day", "views", "likes", "comments", "estimatedMinutesWatched",
          "subscribersGained", "subscribersLost"),
          Seq(Seq(JStr("2025-05-31"), JStr("4"), JStr("1"), JStr("0"), JStr("2"),
            JStr("1"), JStr("0")))))
      else if (dims == "day" && params.contains("filters"))
        Right(report(Seq("day", "views", "likes", "comments", "estimatedMinutesWatched",
          "averageViewDuration"),
          Seq(Seq(JStr("2025-05-31"), JStr("4"), JStr("1"), JStr("0"), JStr("2"), JStr("30.5")))))
      else if (dims.startsWith("day,video,"))
        Right(report(Seq("day", "video", dims.split(",").last, "views", "estimatedMinutesWatched"),
          Seq(Seq(JStr("2025-05-31"), JStr("V9"), JStr("MOBILE"), JStr("4"), JStr("2")))))
      else Left(JObj.of("http_status" -> JInt(400)))
    }
  }

  test("full job run: bronze → silver → gold → checks → finalize success") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-job-lake").toString)
    val r = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-05-30", endDate = "2025-06-01",
      now = Timestamp.valueOf("2025-06-02 09:00:00"), runId = "jobrun1")
    assert(r.error.isEmpty, r.error.map(_.toString).getOrElse(""))
    assert(r.checkFailures.isEmpty, r.checkFailures.toString)
    assert(r.status == "success")
    // every layer materialized
    assert(lake.exists("silver", "fact_channel_daily_metrics"))
    assert(lake.exists("gold", "gold_channel_daily_summary"))
    // run log row finalized in place with the terminal status
    val log = lake.table("bronze", "run_context_log").filter(col("run_id") === "jobrun1").head()
    assert(log.getAs[String]("run_status") == "success")
    assert(log.getAs[Timestamp]("finalized_ts_utc") != null)
    // the OPTIMIZE pass ran (reference: optimize_tables every job) and
    // visited every bronze table without errors; whether a table packed
    // depends on its small-file backlog, but everything must be visited
    val maint = r.maintenance.get
    assert(maint.status == "ok", maint.toString)
    assert((maint.skipped ++ maint.optimized).contains("bronze.run_context_log"),
      maint.toString)
    assert((maint.skipped ++ maint.optimized).size >= 5, maint.toString)
    // r12: the pass covers ALL THREE layers (the reference OPTIMIZEs every
    // bronze+silver+gold table each run — optimize_tables.py:17-52)
    val visited = (maint.skipped ++ maint.optimized)
    Seq("bronze.", "silver.", "gold.").foreach { prefix =>
      assert(visited.exists(_.startsWith(prefix)),
        s"maintenance never visited a $prefix table: $maint")
    }
  }

  test("day-2 change-feed run equals a full recompute over the same bronze") {
    // the cdfRefresh mode: the six latest-wins models drain the bronze
    // change feed through durable cursors instead of snapshot-pruned merges
    val cdfLake = new Lakehouse(spark, Files.createTempDirectory("graft-job-cdf").toString)
    val fullLake = new Lakehouse(spark, Files.createTempDirectory("graft-job-cfull").toString)
    Seq(cdfLake, fullLake).foreach { lake =>
      val r1 = Job.run(lake, DataClient, AnalyticsClient,
        startDate = "2025-05-30", endDate = "2025-06-01",
        cdfRefresh = lake eq cdfLake,
        now = Timestamp.valueOf("2025-06-02 09:00:00"), runId = "day1")
      assert(r1.status == "success", r1.toString)
    }
    val r2cdf = Job.run(cdfLake, DataClient, AnalyticsClient,
      startDate = "2025-05-31", endDate = "2025-06-02", cdfRefresh = true,
      now = Timestamp.valueOf("2025-06-03 09:00:00"), runId = "day2")
    val r2full = Job.run(fullLake, DataClient, AnalyticsClient,
      startDate = "2025-05-31", endDate = "2025-06-02",
      now = Timestamp.valueOf("2025-06-03 09:00:00"), runId = "day2")
    assert(r2cdf.status == "success", r2cdf.toString)
    assert(r2full.status == "success", r2full.toString)
    Silver.models.map(_.name).foreach { m =>
      def rows(lake: Lakehouse) = lake.table("silver", m)
        .drop("request_id").collect().map(_.toString).sorted.toSeq
      assert(rows(cdfLake) == rows(fullLake),
        s"$m differs between change-feed and full day-2 refresh")
    }
    // FULL COVERAGE: every silver consumer left a durable cursor — the
    // six latest-wins models, the videos composite (SCD2 + silver_videos),
    // the channel fact, the three observed dims, and the five calendar-dim
    // count feeds — proving no model went through a snapshot path
    val consumers = Silver.latestWinsSpecs.keys.toSeq ++
      Seq("video_models", "fact_channel_daily_metrics",
        "dim_traffic_source", "dim_device", "dim_country") ++
      Seq("analytics_video_daily_raw", "analytics_video_traffic_source_daily_raw",
        "analytics_video_country_daily_raw", "analytics_video_device_daily_raw",
        "analytics_channel_daily_raw").map(s => s"dim_date/$s")
    consumers.foreach { c =>
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(Job.feedCursorDir(cdfLake, c))),
        s"feed cursor missing for $c — a snapshot path must have run")
    }
    // …and the GOLD marts match the full recompute and left their own
    // feed cursors (fact dep per mart; video/dimensional marts also watch
    // videos_raw for channel_id moves)
    Gold.models.map(_.name).foreach { m =>
      def rows(lake: Lakehouse) = lake.table("gold", m)
        .collect().map(_.toString).sorted.toSeq
      assert(rows(cdfLake) == rows(fullLake),
        s"$m differs between change-feed and full day-2 refresh")
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(Gold.feedCursorRoot(cdfLake, m))),
        s"gold feed cursors missing for $m")
    }
    // one more drain pass catches each cursor up past the maintenance
    // commits (OPTIMIZE is dataChange=false — the ticks advance cursors
    // WITHOUT rewriting any MV), then a second pass is all-caught-up and
    // touches nothing: an unchanged lake costs cursor reads only
    def drainAll(): Boolean = {
      var any = false
      Silver.latestWinsSpecs.keys.foreach { m =>
        any |= Silver.refreshFromChangeFeed(cdfLake, m, Job.feedCursorDir(cdfLake, m)).isDefined
      }
      any |= Silver.refreshVideoModelsFromChangeFeed(
        cdfLake, Job.feedCursorDir(cdfLake, "video_models")).isDefined
      any |= Silver.refreshChannelFactFromChangeFeed(
        cdfLake, Job.feedCursorDir(cdfLake, "fact_channel_daily_metrics")).isDefined
      Seq("dim_traffic_source", "dim_device", "dim_country").foreach { d =>
        any |= Silver.refreshDimFromChangeFeed(cdfLake, d, Job.feedCursorDir(cdfLake, d)).isDefined
      }
      any |= Silver.dimDateFeedTick(cdfLake, Job.feedCursorDir(cdfLake, "dim_date"))
      Gold.refreshFromChangeFeeds(cdfLake)
      any
    }
    def allVersions() =
      Silver.models.map(m => m.name -> cdfLake.tableVersion("silver", m.name)) ++
        Gold.models.map(m => m.name -> cdfLake.tableVersion("gold", m.name))
    val versBefore = allVersions()
    drainAll() // maintenance-commit catch-up: cursor advances, no rewrites
    assert(!drainAll(), "second drain pass on an unchanged lake still ticked")
    val versAfter = allVersions()
    assert(versBefore == versAfter,
      s"caught-up drains rewrote a model: before=$versBefore after=$versAfter")
    Silver.latestWinsSpecs.foreach { case (m, spec) =>
      val cur = java.nio.file.Paths.get(Job.feedCursorDir(cdfLake, m))
      assert(cdfLake.changesCursor(cur) ==
        cdfLake.committedBronzeVersion(spec.bronzeTable),
        s"$m cursor not caught up")
    }
    // and the MVs are still the recompute after the catch-up ticks
    Silver.models.map(_.name).foreach { m =>
      def rows(lake: Lakehouse) = lake.table("silver", m)
        .drop("request_id").collect().map(_.toString).sorted.toSeq
      assert(rows(cdfLake) == rows(fullLake), s"$m diverged after catch-up")
    }
    // decommission releases the retention hold: cursor dirs gone, registry
    // markers pointing at them are ignored from then on, and the calendar
    // dim's count-state tables go with them
    Job.decommissionFeedCursors(cdfLake)
    consumers.foreach { c =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(Job.feedCursorDir(cdfLake, c))))
    }
    assert(!cdfLake.tableNames("bronze").exists(_.startsWith("dim_date_counts_")),
      "decommission left calendar-dim count state behind")
    Gold.models.map(_.name).foreach { m =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(Gold.feedCursorRoot(cdfLake, m))),
        s"decommission left gold cursors for $m")
    }
  }

  /** Day-2 Data API persona: the account's channel id CHANGED. */
  private object NewChannelClient extends DataApiIngest.DataApiClient {
    def getJson(path: String, params: Map[String, String]): Json.JObj = path match {
      case "channels" => Json.JObj.of("items" -> Json.JArr(Seq(Json.JObj.of(
        "id" -> Json.JStr("UC_NEW"),
        "snippet" -> Json.JObj.of("title" -> Json.JStr("New Chan"),
          "publishedAt" -> Json.JStr("2020-01-01T10:00:00Z")),
        "statistics" -> Json.JObj.of("viewCount" -> Json.JStr("11"),
          "subscriberCount" -> Json.JStr("2"),
          "hiddenSubscriberCount" -> Json.JBool(false), "videoCount" -> Json.JStr("1")),
        "contentDetails" -> Json.JObj.of("relatedPlaylists" ->
          Json.JObj.of("uploads" -> Json.JStr("UU_NEW")))))))
      case other => DataClient.getJson(other, params)
    }
  }

  test("channel-identity change under cdfRefresh: fact, calendar counts and gold summary all re-stamp") {
    // day 1 runs under channel UC_9; day 2's Data API serves a NEW channel
    // id — the cross-joined "current channel" state changed, so the
    // channel fact recomputes wholesale (a grain merge could never retract
    // the dead id), the calendar dim's channel-source counts reset and
    // re-bootstrap under the new identity, and the gold channel summary's
    // feed state resets — all while staying ≡ a full recompute
    val DataClient2 = NewChannelClient
    val cdfLake = new Lakehouse(spark, Files.createTempDirectory("graft-job-chch").toString)
    val fullLake = new Lakehouse(spark, Files.createTempDirectory("graft-job-chfull").toString)
    Seq(cdfLake, fullLake).foreach { lake =>
      val r1 = Job.run(lake, DataClient, AnalyticsClient,
        startDate = "2025-05-30", endDate = "2025-06-01",
        cdfRefresh = lake eq cdfLake,
        now = Timestamp.valueOf("2025-06-02 09:00:00"), runId = "day1")
      assert(r1.status == "success", r1.toString)
    }
    assert(cdfLake.table("silver", "fact_channel_daily_metrics")
      .select(col("channel_id")).distinct().collect().map(_.getString(0)).toSeq == Seq("UC_9"))
    val r2cdf = Job.run(cdfLake, DataClient2, AnalyticsClient,
      startDate = "2025-05-31", endDate = "2025-06-02", cdfRefresh = true,
      now = Timestamp.valueOf("2025-06-03 09:00:00"), runId = "day2")
    val r2full = Job.run(fullLake, DataClient2, AnalyticsClient,
      startDate = "2025-05-31", endDate = "2025-06-02",
      now = Timestamp.valueOf("2025-06-03 09:00:00"), runId = "day2")
    assert(r2cdf.status == "success", r2cdf.toString)
    assert(r2full.status == "success", r2full.toString)
    // the new identity re-stamped HISTORY in the feed-refreshed lake too
    val ids = cdfLake.table("silver", "fact_channel_daily_metrics")
      .select(col("channel_id")).distinct().collect().map(_.getString(0)).toSeq
    assert(ids == Seq("UC_NEW"), s"stale channel ids survived the change: $ids")
    (Silver.models.map(_.name) ++ Gold.models.map(_.name)).foreach { m =>
      val layer = if (m.startsWith("gold_")) "gold" else "silver"
      def rows(lake: Lakehouse) = lake.table(layer, m)
        .drop("request_id").collect().map(_.toString).sorted.toSeq
      assert(rows(cdfLake) == rows(fullLake),
        s"$m differs between change-feed and full refresh after the identity change")
    }
  }

  test("two concurrent cdfRefresh runs serialize through the refresh lease to exactly-once") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-job-race").toString)
    val r1 = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-05-30", endDate = "2025-06-01", cdfRefresh = true,
      now = Timestamp.valueOf("2025-06-02 09:00:00"), runId = "day1")
    assert(r1.status == "success", r1.toString)
    // two full day-2 jobs race over the SAME cursor tree: both ingest
    // concurrently (writer-safe), the refresh phases serialize through the
    // lease — the second drains whatever the first left (usually nothing)
    val rs = Await.result(Future.sequence(Seq("day2a", "day2b").map(id => Future {
      Job.run(lake, DataClient, AnalyticsClient,
        startDate = "2025-05-31", endDate = "2025-06-02", cdfRefresh = true,
        now = Timestamp.valueOf("2025-06-03 09:00:00"), runId = id)
    })), 600.seconds)
    rs.foreach(r => assert(r.status == "success", r.toString))
    // every pending change is consumed: each run drains AFTER its own
    // ingest, so whichever refresh ran last covered both ingests. Final
    // exactly-once claim: every silver model and gold mart equals its
    // from-scratch recompute over the SAME bronze (no double-fold, no
    // stale-range overwrite, no lost update)
    (Silver.models.map(m => ("silver", m.name, m.build)) ++
      Gold.models.map(m => ("gold", m.name, m.build))).foreach {
      case (layer, name, build) =>
        val got = lake.table(layer, name).collect().map(_.toString).sorted.toSeq
        val want = build(lake).collect().map(_.toString).sorted.toSeq
        assert(got == want, s"$name != recompute after racing cdfRefresh runs")
    }
    // the lease is released
    assert(!java.nio.file.Files.exists(Job.refreshLeasePath(lake)))
  }

  test("refresh lease: a fresh lease blocks until timeout; a stale lease is stolen") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-job-lease").toString)
    val lock = Job.refreshLeasePath(lake)
    java.nio.file.Files.createDirectories(lock.getParent)
    java.nio.file.Files.write(lock, "holder".getBytes)
    // fresh lease: the contender waits, then fails loudly naming the lease
    val err = intercept[IllegalArgumentException] {
      Job.acquireRefreshLease(lake, "contender", staleMillis = 60000L, waitMillis = 500L)
    }
    assert(err.getMessage.contains("lease"), err.getMessage)
    // stale lease (crashed holder): exactly one stealer wins and acquires
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val got = Job.acquireRefreshLease(lake, "stealer", staleMillis = 1000L, waitMillis = 500L)
    assert(java.nio.file.Files.exists(got))
    assert(new String(java.nio.file.Files.readAllBytes(got)) == "stealer")
    java.nio.file.Files.delete(got)
  }

  test("standing mart adopted into feed mode on a mature source bootstraps per-dep " +
      "(never a version-0 drain)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val l = new Lakehouse(spark, Files.createTempDirectory("graft-goldadopt").toString)
    // mature the source BEFORE any cursor exists: commit-time retention
    // prunes the early manifests, so a (0, head] drain fails fast forever
    (1 to 14).foreach { i =>
      l.appendBronze("fct", Seq((i.toLong, i.toLong, s"r$i"))
        .toDF("k", "v", "run_id").repartition(1))
    }
    assert(l.tableVersions("bronze", "fct").min > 1, "expected pruned early manifests")
    def refreshSilver(): Unit = {
      val snap = Silver.latestWins(l.table("bronze", "fct"), Seq("k"), Seq(col("v").desc))
      if (!l.exists("silver", "sfact")) l.materialize("silver", "sfact", snap)
      else { l.transactMerge("silver", "sfact")(_ => snap); () }
    }
    refreshSilver()
    val build = (_: Lakehouse, f: DataFrame) => f.select(col("k"), (col("v") * 2).as("v2"))
    // the standing mart predates feed mode — no gold cursors exist yet
    l.materialize("gold", "mart", build(l, l.table("silver", "sfact")))
    val factDep = Gold.FeedDep("fct", Seq("k"), identity)
    val cur = Files.createTempDirectory("graft-goldadopt-cur").toString
    def tick() = Gold.starFeedTick(l, "mart", Seq("k"), factDep, Seq.empty, "sfact", build, cur)
    def expected = build(l, l.table("silver", "sfact")).collect().map(_.toString).sorted.toSeq
    def actual = l.table("gold", "mart").collect().map(_.toString).sorted.toSeq
    // adoption tick: per-dep bootstrap (wholesale rebuild + cursor jump),
    // NOT a version-0 history drain over the pruned manifests
    assert(tick().isDefined, "adoption tick should fold")
    assert(actual == expected, "adopted mart != recompute")
    assert(tick().isEmpty, "not caught up after adoption")
    // incremental from there
    l.appendBronze("fct", Seq((3L, 99L, "r99")).toDF("k", "v", "run_id").repartition(1))
    refreshSilver()
    assert(tick().isDefined)
    assert(actual == expected, "post-adoption incremental tick diverged")
  }

  test("OPTIMIZE-only commits advance dim_date cursors without re-materializing the calendar dim") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-job-dimmaint").toString)
    val r1 = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-05-30", endDate = "2025-06-01", cdfRefresh = true,
      now = Timestamp.valueOf("2025-06-02 09:00:00"), runId = "day1")
    assert(r1.status == "success", r1.toString)
    val root = Job.feedCursorDir(lake, "dim_date")
    // catch up past the run's own post-refresh maintenance commits first
    Silver.dimDateFeedTick(lake, root)
    val v0 = lake.tableVersion("silver", "dim_date")
    val src = "analytics_channel_daily_raw"
    val curBefore = lake.changesCursor(java.nio.file.Paths.get(s"$root/$src"))
    lake.compact("bronze", src, 1) // OPTIMIZE: a dataChange=false commit
    val ticked = Silver.dimDateFeedTick(lake, root)
    assert(!ticked, "a pure-maintenance range counted as a dim_date tick")
    // the cursor DID advance past the maintenance commit…
    assert(lake.changesCursor(java.nio.file.Paths.get(s"$root/$src")) > curBefore,
      "maintenance range did not advance the cursor")
    // …and Job's assembly gate therefore leaves the calendar dim untouched
    if (ticked || !lake.exists("silver", "dim_date")) Silver.assembleDimDate(lake)
    assert(lake.tableVersion("silver", "dim_date") == v0,
      "OPTIMIZE-only commits re-materialized dim_date on an unchanged lake")
  }

  test("identity-change resets survive a crash between the level-1 re-stamp and the gold stage") {
    // the evidence-erasure window: the level-1 channel-fact drain re-stamps
    // the standing fact to the new id, so a run that fails AFTER it (here:
    // a sabotaged dim_date tick) leaves nothing for the next run to detect.
    // The resets happen at detection time — before the re-stamp can erase
    // them — so day 3 still converges to the full recompute.
    val cdfLake = new Lakehouse(spark, Files.createTempDirectory("graft-job-chcrash").toString)
    val fullLake = new Lakehouse(spark, Files.createTempDirectory("graft-job-chcrashf").toString)
    Seq(cdfLake, fullLake).foreach { lake =>
      val r1 = Job.run(lake, DataClient, AnalyticsClient,
        startDate = "2025-05-30", endDate = "2025-06-01",
        cdfRefresh = lake eq cdfLake,
        now = Timestamp.valueOf("2025-06-02 09:00:00"), runId = "day1")
      assert(r1.status == "success", r1.toString)
    }
    // sabotage: a regular FILE where the dim_date cursor tree goes — the
    // level-2 dim_date tick throws after level 1 already re-stamped
    val dimDateCur = java.nio.file.Paths.get(Job.feedCursorDir(cdfLake, "dim_date"))
    cdfLake.deleteRecursively(dimDateCur)
    java.nio.file.Files.write(dimDateCur, Array[Byte](1))
    val r2 = Job.run(cdfLake, NewChannelClient, AnalyticsClient,
      startDate = "2025-05-31", endDate = "2025-06-02", cdfRefresh = true,
      now = Timestamp.valueOf("2025-06-03 09:00:00"), runId = "day2")
    assert(r2.status == "failed", s"sabotaged dim_date tick should fail the run: $r2")
    // the re-stamp DID land before the crash — day 3 cannot re-detect
    val ids = cdfLake.table("silver", "fact_channel_daily_metrics")
      .select(col("channel_id")).distinct().collect().map(_.getString(0)).toSeq
    assert(ids == Seq("UC_NEW"), s"expected the failed run to have re-stamped: $ids")
    java.nio.file.Files.delete(dimDateCur)
    val r3 = Job.run(cdfLake, NewChannelClient, AnalyticsClient,
      startDate = "2025-06-01", endDate = "2025-06-03", cdfRefresh = true,
      now = Timestamp.valueOf("2025-06-04 09:00:00"), runId = "day3")
    assert(r3.status == "success", r3.toString)
    // full-mode twin over the same day-2/day-3 ingests
    Seq(("day2", "2025-05-31", "2025-06-02", "2025-06-03"),
        ("day3", "2025-06-01", "2025-06-03", "2025-06-04")).foreach {
      case (id, s, e, nowDay) =>
        val r = Job.run(fullLake, NewChannelClient, AnalyticsClient,
          startDate = s, endDate = e,
          now = Timestamp.valueOf(s"$nowDay 09:00:00"), runId = id)
        assert(r.status == "success", r.toString)
    }
    (Silver.models.map(_.name) ++ Gold.models.map(_.name)).foreach { m =>
      val layer = if (m.startsWith("gold_")) "gold" else "silver"
      def rows(lake: Lakehouse) = lake.table(layer, m)
        .drop("request_id").collect().map(_.toString).sorted.toSeq
      assert(rows(cdfLake) == rows(fullLake),
        s"$m diverged after the crashed identity-change run")
    }
  }

  test("abandoned cdfRefresh: lingering cursors pin vacuum retention, warn loudly, release on decommission") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-job-abandon").toString)
    val r1 = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-05-30", endDate = "2025-06-01", cdfRefresh = true,
      now = Timestamp.valueOf("2025-06-02 09:00:00"), runId = "cdf1")
    assert(r1.status == "success", r1.toString)
    assert(r1.warnings.isEmpty, r1.warnings.toString)
    val src = "videos_raw"
    val head1 = lake.committedBronzeVersion(src)
    // ABANDONMENT: snapshot-mode runs from here on; the feed cursors linger
    // at head1 while new bronze versions land past them
    val r2 = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-05-31", endDate = "2025-06-02",
      now = Timestamp.valueOf("2025-06-03 09:00:00"), runId = "snap1")
    val r3 = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-06-01", endDate = "2025-06-03",
      now = Timestamp.valueOf("2025-06-04 09:00:00"), runId = "snap2")
    assert(r2.status == "success" && r3.status == "success")
    // the documented failure mode is now LOUD: both snapshot runs warn
    Seq(r2, r3).foreach { r =>
      assert(r.warnings.exists(_.contains("live feed cursor")),
        s"snapshot run against live cursors did not warn: ${r.warnings}")
    }
    // a CoW delete rewrites files, so pre-delete versions reference files
    // the head no longer does — the reclaimable debt vacuum acts on (on a
    // purely append-only history every old version shares the head's files
    // and there is nothing to physically drop)
    val held = lake.committedBronzeVersion(src) // pre-rewrite head
    assert(held >= head1 + 1, s"need post-abandonment commits, got $head1 -> $held")
    lake.deleteBronzeWhere(src, col("run_id") === "cdf1")
    // vacuum DEBT: an aggressive vacuum must keep the held version readable
    lake.vacuumBronze(src, keepVersions = 1, retainMillis = 0L)
    assert(lake.tableAt("bronze", src, held).count() >= 0,
      "cursor-held version was vacuumed while the cursor lingered")
    // decommission releases the hold; the same vacuum now drops it
    Job.decommissionFeedCursors(lake)
    lake.vacuumBronze(src, keepVersions = 1, retainMillis = 0L)
    val releasedGone =
      try { lake.tableAt("bronze", src, held).count(); false }
      catch { case _: Throwable => true }
    assert(releasedGone, s"version $held still resolvable after decommission + vacuum")
    // and a post-decommission snapshot run no longer warns
    val r4 = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-06-02", endDate = "2025-06-04",
      now = Timestamp.valueOf("2025-06-05 09:00:00"), runId = "snap3")
    assert(r4.status == "success" && r4.warnings.isEmpty, r4.toString)
  }

  test("incremental merge does not skip bronze landed by a FAILED run") {
    // day 1 success; day 2 lands Data-API bronze then fails in analytics
    // (silver never drained); day 3 must still fold day 2's landed rows —
    // the silver cursors advance only when a drain commits
    object FailingAnalytics extends AnalyticsIngest.AnalyticsApiClient {
      def queryReports(params: Map[String, String]): Either[JVal, JObj] =
        throw new RuntimeException("analytics outage")
    }
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-job-failcdf").toString)
    val r1 = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-05-30", endDate = "2025-06-01", cdfRefresh = true,
      now = Timestamp.valueOf("2025-06-02 09:00:00"), runId = "ok1")
    assert(r1.status == "success", r1.toString)
    val r2 = Job.run(lake, DataClient, FailingAnalytics,
      startDate = "2025-05-30", endDate = "2025-06-02", cdfRefresh = true,
      now = Timestamp.valueOf("2025-06-03 09:00:00"), runId = "boom")
    assert(r2.status == "failed")
    val r3 = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-05-30", endDate = "2025-06-03", cdfRefresh = true,
      now = Timestamp.valueOf("2025-06-04 09:00:00"), runId = "ok2")
    assert(r3.status == "success", r3.toString)
    // the failed run's video stats observation (snapshot 2025-06-03) made it
    // into silver: one snapshot per video per run that landed videos_raw
    val snaps = lake.table("silver", "silver_video_stats_snapshot")
      .select(col("run_id")).distinct().collect().map(_.getString(0)).toSet
    assert(snaps == Set("ok1", "boom", "ok2"), s"folded runs: $snaps")
  }

  test("a failing stage still finalizes the run log with status failed (ALL_DONE)") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-job-lake2").toString)
    object ThrowingClient extends DataApiIngest.DataApiClient {
      def getJson(path: String, params: Map[String, String]): JObj =
        throw new RuntimeException("simulated HTTP 500")
    }
    val r = Job.run(lake, ThrowingClient, AnalyticsClient,
      now = Timestamp.valueOf("2025-06-02 09:00:00"), runId = "jobrun2")
    assert(r.status == "failed")
    assert(r.error.exists(_.getMessage.contains("simulated HTTP 500")))
    val log = lake.table("bronze", "run_context_log").filter(col("run_id") === "jobrun2").head()
    assert(log.getAs[String]("run_status") == "failed")
    assert(log.getAs[Timestamp]("finalized_ts_utc") != null)
  }
}
