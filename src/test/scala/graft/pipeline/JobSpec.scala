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

  /** Janino compiles so far in this JVM: every whole-stage and expression
    * codegen compile, whichever suite ran it (suites run one at a time). */
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Empties Spark's JVM-wide generated-code cache, so the next plan compiles
    * cold whatever earlier suites left cached. The cache is private to
    * `CodeGenerator`; its `invalidateAll` is public. */
  private def clearCodegenCache(): Unit = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val accessor = CodeGenerator.getClass.getDeclaredMethod("cache")
    accessor.setAccessible(true)
    val cache = accessor.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("a later daily `Job.run` reuses the compiled code of the first") {
    // a daily run cycles through ~230 codegen cache entries; a cache smaller
    // than that (Spark's default is 100) recompiles all of them every run
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-job-codegen").toString)
    val day1 = java.time.LocalDate.parse("2025-06-01")
    def day(i: Int): Long = {
      val end = day1.plusDays(i - 1)
      val before = codegenCompiles
      val r = Job.run(lake, DataClient, AnalyticsClient,
        startDate = end.minusDays(2).toString, endDate = end.toString,
        now = Timestamp.valueOf(end.plusDays(1).atTime(9, 0)), runId = s"codegen$i")
      assert(r.status == "success", r.toString)
      codegenCompiles - before
    }
    clearCodegenCache()
    val first = day(1)
    day(2)
    val third = day(3)
    info(s"Janino compiles: run 1 $first, run 3 $third")
    // no run-dependent date or timestamp is a literal of any plan (Spark
    // inlines those into generated code), so a later run compiles nothing
    assert(third == 0, s"run 3 compiled $third times, run 1 $first")
  }

  test("concurrent landing: a table that fails fails the run with its own error, after the others land") {
    val root = Files.createTempDirectory("graft-job-land")
    val lake = new Lakehouse(spark, root.toString)
    // a plain file where playlist_items_raw's directory goes: that table's
    // delete-then-append fails, its sibling Data API tables are unaffected
    val blocker = root.resolve("bronze").resolve("playlist_items_raw")
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, Array[Byte](1))
    def run() = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-05-30", endDate = "2025-06-01",
      now = Timestamp.valueOf("2025-06-02 09:00:00"), runId = "land1")
    def landed(t: String) = lake.table("bronze", t).filter(col("run_id") === "land1")
    def statuses = landed("run_context_log").collect().map(_.getAs[String]("run_status")).toSeq
    val failed = run()
    assert(failed.status == "failed")
    assert(failed.error.exists(_.getMessage.contains("playlist_items_raw")), failed.error.toString)
    assert(landed("channels_raw").count() == 1 && landed("videos_raw").count() == 1)
    assert(statuses == Seq("failed"))
    // the re-run under the same run_id lands one copy of each payload
    Files.delete(blocker)
    val rerun = run()
    assert(rerun.status == "success", rerun.toString)
    Schemas.bronzeTables.filterNot(_ == "run_context_log").foreach { t =>
      val n = landed(t).count()
      assert(n > 0 && n == landed(t).select("payload").distinct().count(),
        s"$t holds $n rows of the re-run")
    }
    assert(statuses.nonEmpty && statuses.forall(_ == "success"), statuses.toString)
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

  test("channel-identity change: after day 2 the channel fact and gold summary carry only the new id") {
    // day 1 runs under channel UC_9; day 2's Data API serves a NEW channel
    // id — the cross-joined "current channel" re-stamps the whole channel
    // fact history, and the gold summary follows it
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-job-chch").toString)
    val r1 = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-05-30", endDate = "2025-06-01",
      now = Timestamp.valueOf("2025-06-02 09:00:00"), runId = "day1")
    assert(r1.status == "success", r1.toString)
    def ids(layer: String, t: String) = lake.table(layer, t)
      .select(col("channel_id")).distinct().collect().map(_.getString(0)).toSeq
    assert(ids("silver", "fact_channel_daily_metrics") == Seq("UC_9"))
    val r2 = Job.run(lake, NewChannelClient, AnalyticsClient,
      startDate = "2025-05-31", endDate = "2025-06-02",
      now = Timestamp.valueOf("2025-06-03 09:00:00"), runId = "day2")
    assert(r2.status == "success", r2.toString)
    Seq("silver" -> "fact_channel_daily_metrics", "gold" -> "gold_channel_daily_summary")
      .foreach { case (layer, t) =>
        assert(ids(layer, t) == Seq("UC_NEW"), s"stale channel ids survived in $t: ${ids(layer, t)}")
      }
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

  test("incremental merge does not skip bronze landed by a FAILED run") {
    // day 1 success; day 2 lands Data-API bronze then fails in analytics
    // (silver never refreshed); day 3 must still fold day 2's landed rows
    object FailingAnalytics extends AnalyticsIngest.AnalyticsApiClient {
      def queryReports(params: Map[String, String]): Either[JVal, JObj] =
        throw new RuntimeException("analytics outage")
    }
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-job-failcdf").toString)
    val r1 = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-05-30", endDate = "2025-06-01",
      now = Timestamp.valueOf("2025-06-02 09:00:00"), runId = "ok1")
    assert(r1.status == "success", r1.toString)
    val r2 = Job.run(lake, DataClient, FailingAnalytics,
      startDate = "2025-05-30", endDate = "2025-06-02",
      now = Timestamp.valueOf("2025-06-03 09:00:00"), runId = "boom")
    assert(r2.status == "failed")
    val r3 = Job.run(lake, DataClient, AnalyticsClient,
      startDate = "2025-05-30", endDate = "2025-06-03",
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
