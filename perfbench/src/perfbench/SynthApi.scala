package perfbench

import java.time.LocalDate

import scala.collection.mutable

import graft.pipeline.{AnalyticsIngest, DataApiIngest}
import graft.pipeline.Json._

/** Seeded synthetic YouTube Data API and Analytics API for one channel.
  *
  * The channel uploads `videos` videos spread evenly (with seeded jitter)
  * between `firstPublish` and `lastPublish`; the Data API lists only those
  * published by `today`, the clock the benchmark sets before each job run.
  * Analytics reports revise recent days upward as they mature, so each
  * lookback window re-reports earlier days with new values and the silver
  * facts must keep the latest report. The generator records that
  * latest-wins truth as it serves reports.
  *
  * Request shapes are the ones the pipeline sends: channels, paged
  * playlistItems, chunked videos; channel daily, per-video daily, and the
  * bulk `day,video,<dimension>` reports. Anything else answers HTTP 400.
  */
final class SynthApi(seed: Long, val videos: Int, firstPublish: LocalDate, lastPublish: LocalDate) {

  var today: LocalDate = lastPublish

  /** (video, day) → views of the most recent report that covered it. */
  val videoDailyTruth: mutable.HashMap[(String, LocalDate), Long] = mutable.HashMap.empty
  /** (video, day, country) → views of the most recent country report. */
  val countryTruth: mutable.HashMap[(String, LocalDate, String), Long] = mutable.HashMap.empty

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def h(parts: Long*): Long = parts.foldLeft(mix(seed))((acc, p) => mix(acc ^ p))
  private def u(parts: Long*): Double = (h(parts: _*) >>> 11) * (1.0 / (1L << 53))

  val channelId: String = f"UC${h(1) & 0xffffffL}%06x$seed%d"
  private val uploadsId = "UU" + channelId.drop(2)
  def videoId(i: Int): String = f"vid$seed%d_$i%04d"
  private val idIndex: Map[String, Int] = (0 until videos).map(i => videoId(i) -> i).toMap

  private val spanDays = java.time.temporal.ChronoUnit.DAYS.between(firstPublish, lastPublish)
  private val published: Array[LocalDate] = Array.tabulate(videos) { i =>
    val jitter = (h(2, i) % 3 + 3) % 3 - 1
    val d = i * spanDays / math.max(1, videos - 1) + jitter
    firstPublish.plusDays(math.max(0L, math.min(spanDays, d)))
  }
  private val popularity: Array[Double] = Array.tabulate(videos)(i => 40 + 900 * math.pow(u(3, i), 2))

  private val trafficShares = Seq(0.45, 0.3, 0.15, 0.1)
  private val sources: Array[Seq[String]] = Array.tabulate(videos) { i =>
    val pool = graft.pipeline.Schemas.knownTrafficSources.filterNot(_ == "UNKNOWN")
    (0 until 4).map(k => pool(((h(4, i, k) % pool.size + pool.size) % pool.size).toInt)).distinct
  }
  private val countries = Seq("US" -> 0.35, "PH" -> 0.25, "IN" -> 0.2, "GB" -> 0.12, "BR" -> 0.08)
  private val devices = Seq("MOBILE" -> 0.6, "DESKTOP" -> 0.3, "TV" -> 0.1)

  def live: Seq[Int] = (0 until videos).filter(i => !published(i).isAfter(today))

  /** Views video `i` earned on `day` once fully reported. */
  private def baseViews(i: Int, day: LocalDate): Long =
    if (day.isBefore(published(i))) 0L
    else {
      val age = java.time.temporal.ChronoUnit.DAYS.between(published(i), day)
      (popularity(i) / (1 + age / 14.0) * (0.75 + 0.5 * u(5, i, day.toEpochDay))).toLong
    }

  /** What a report issued on `today` says about `day`: young days are
    * under-counted and revised upward on later reports. */
  private def reportedViews(i: Int, day: LocalDate): Long = {
    val m = java.time.temporal.ChronoUnit.DAYS.between(day, today)
    val factor = if (m <= 1) 0.72 else if (m == 2) 0.9 else 1.0
    (baseViews(i, day) * factor).toLong
  }

  private def titleOf(i: Int): String = {
    var rev = 0
    var d = published(i)
    while (!d.isAfter(today)) { if (u(6, i, d.toEpochDay) < 0.03) rev += 1; d = d.plusDays(1) }
    if (rev == 0) s"Synthetic upload $i" else s"Synthetic upload $i (edit $rev)"
  }

  // ── Data API ──────────────────────────────────────────────────────────

  private def videoItem(i: Int): JObj = {
    val days = java.time.temporal.ChronoUnit.DAYS.between(published(i), today)
    val total = (0L until days).map(k => baseViews(i, published(i).plusDays(k))).sum
    JObj.of(
      "id" -> JStr(videoId(i)),
      "snippet" -> JObj.of(
        "channelId" -> JStr(channelId), "title" -> JStr(titleOf(i)),
        "description" -> JStr(s"Upload $i of channel $channelId"),
        "publishedAt" -> JStr(s"${published(i)}T12:00:00Z"),
        "defaultLanguage" -> JStr("en"), "defaultAudioLanguage" -> JStr("en")),
      "statistics" -> JObj.of(
        "viewCount" -> JStr(total.toString), "likeCount" -> JStr((total / 25).toString),
        "favoriteCount" -> JStr("0"), "commentCount" -> JStr((total / 120).toString)),
      "contentDetails" -> JObj.of(
        "duration" -> JStr(s"PT${3 + i % 17}M${i % 60}S"), "dimension" -> JStr("2d"),
        "definition" -> JStr(if (i % 4 == 0) "sd" else "hd"), "caption" -> JStr("false"),
        "licensedContent" -> JBool(i % 2 == 0), "projection" -> JStr("rectangular")),
      "status" -> JObj.of(
        "uploadStatus" -> JStr("processed"), "privacyStatus" -> JStr("public"),
        "embeddable" -> JBool(true), "publicStatsViewable" -> JBool(true),
        "madeForKids" -> JBool(false), "selfDeclaredMadeForKids" -> JBool(false)),
      "topicDetails" -> JObj.of("topicCategories" -> JArr(Seq(
        JStr("https://en.wikipedia.org/wiki/Knowledge")))))
  }

  private def channels: JObj = {
    val ids = live
    JObj.of("items" -> JArr(Seq(JObj.of(
      "id" -> JStr(channelId),
      "snippet" -> JObj.of("title" -> JStr(s"Synthetic channel $seed"),
        "description" -> JStr("Seeded benchmark channel"), "customUrl" -> JStr(s"@synthetic$seed"),
        "country" -> JStr("PH"), "publishedAt" -> JStr(s"${firstPublish}T08:00:00Z")),
      "statistics" -> JObj.of("viewCount" -> JStr((ids.size * 1000L).toString),
        "subscriberCount" -> JStr((ids.size * 10L).toString),
        "hiddenSubscriberCount" -> JBool(false), "videoCount" -> JStr(ids.size.toString)),
      "contentDetails" -> JObj.of("relatedPlaylists" -> JObj.of("uploads" -> JStr(uploadsId)))))))
  }

  private def playlistPage(token: Option[String]): JObj = {
    val ids = live.reverse // newest first, as the uploads playlist lists them
    val page = token.map(_.stripPrefix("p").toInt).getOrElse(0)
    val items = ids.slice(page * 50, page * 50 + 50).map(i => JObj.of(
      "snippet" -> JObj.of("title" -> JStr(titleOf(i))),
      "contentDetails" -> JObj.of("videoId" -> JStr(videoId(i)),
        "videoPublishedAt" -> JStr(s"${published(i)}T12:00:00Z")),
      "status" -> JObj.of("privacyStatus" -> JStr("public"))))
    val next = if ((page + 1) * 50 < ids.size) Seq("nextPageToken" -> (JStr(s"p${page + 1}"): JVal)) else Nil
    JObj((Seq("items" -> (JArr(items): JVal)) ++ next).toVector)
  }

  val dataClient: DataApiIngest.DataApiClient = new DataApiIngest.DataApiClient {
    def getJson(path: String, params: Map[String, String]): JObj =
      Trace.span("api.data_call") {
        path match {
          case "channels" => channels
          case "playlistItems" => playlistPage(params.get("pageToken"))
          case "videos" => JObj.of("items" -> JArr(
            params.getOrElse("id", "").split(",").toSeq.flatMap(idIndex.get).map(videoItem)))
          case other => throw new IllegalArgumentException(s"unknown Data API path $other")
        }
      }
  }

  // ── Analytics API ─────────────────────────────────────────────────────

  private def report(headers: Seq[(String, String)], rows: Seq[Seq[JVal]]): JObj = JObj.of(
    "kind" -> JStr("youtubeAnalytics#resultTable"),
    "columnHeaders" -> JArr(headers.map { case (n, t) => JObj.of(
      "name" -> JStr(n), "columnType" -> JStr(t),
      "dataType" -> JStr(if (t == "DIMENSION") "STRING" else "INTEGER")) }),
    "rows" -> JArr(rows.map(JArr(_))))

  private def days(params: Map[String, String]): Seq[LocalDate] = {
    val s = LocalDate.parse(params("startDate"))
    val e = LocalDate.parse(params("endDate"))
    Iterator.iterate(s)(_.plusDays(1)).takeWhile(!_.isAfter(e)).filter(_.isBefore(today)).toSeq
  }

  private def channelDaily(params: Map[String, String]): JObj = {
    val ids = live
    val rows = days(params).map { d =>
      val v = ids.map(reportedViews(_, d)).sum
      Seq(JStr(d.toString), JInt(v), JInt(v / 25), JInt(v / 120), JInt(v * 3), JInt(v / 50), JInt(v / 400))
    }
    report(Seq("day" -> "DIMENSION", "views" -> "METRIC", "likes" -> "METRIC",
      "comments" -> "METRIC", "estimatedMinutesWatched" -> "METRIC",
      "subscribersGained" -> "METRIC", "subscribersLost" -> "METRIC"), rows)
  }

  private def videoDaily(params: Map[String, String], vid: String): JObj = {
    val i = idIndex(vid)
    val full = params("metrics").contains("likes")
    val rows = days(params).filterNot(_.isBefore(published(i))).map { d =>
      val v = reportedViews(i, d)
      videoDailyTruth((vid, d)) = v
      if (full) Seq(JStr(d.toString), JInt(v), JInt(v / 25), JInt(v / 120), JInt(v * (2 + i % 5)),
        JDouble(45.0 + (i * 37 % 200)))
      else Seq(JStr(d.toString), JInt(v), JInt(v * (2 + i % 5)))
    }
    val metrics = if (full) Seq("views", "likes", "comments", "estimatedMinutesWatched", "averageViewDuration")
      else Seq("views", "estimatedMinutesWatched")
    report(("day" -> "DIMENSION") +: metrics.map(_ -> "METRIC"), rows)
  }

  private def bulkDimension(params: Map[String, String], dim: String): JObj = {
    val ids = live
    val rows = for {
      d <- days(params)
      i <- ids if !d.isBefore(published(i))
      (value, share) <- dim match {
        case "insightTrafficSourceType" =>
          sources(i).zip(trafficShares)
        case "country" => countries
        case "deviceType" => devices
        case other => throw new IllegalArgumentException(s"unknown dimension $other")
      }
    } yield {
      val v = (reportedViews(i, d) * share).toLong
      if (dim == "country") countryTruth((videoId(i), d, value)) = v
      Seq(JStr(d.toString), JStr(videoId(i)), JStr(value), JInt(v), JInt(v * (2 + i % 5)))
    }
    report(Seq("day" -> "DIMENSION", "video" -> "DIMENSION", dim -> "DIMENSION",
      "views" -> "METRIC", "estimatedMinutesWatched" -> "METRIC"), rows)
  }

  val analyticsClient: AnalyticsIngest.AnalyticsApiClient = new AnalyticsIngest.AnalyticsApiClient {
    def queryReports(params: Map[String, String]): Either[JVal, JObj] =
      Trace.span("api.analytics_call") {
        val dims = params.getOrElse("dimensions", "")
        val filter = params.get("filters").map(_.stripPrefix("video=="))
        if (dims == "day" && filter.isEmpty) Right(channelDaily(params))
        else if (dims == "day" && filter.exists(idIndex.contains)) Right(videoDaily(params, filter.get))
        else if (dims.startsWith("day,video,") && params("metrics") == "views,estimatedMinutesWatched")
          Right(bulkDimension(params, dims.stripPrefix("day,video,")))
        else Left(JObj.of("http_status" -> JInt(400), "message" -> JStr(s"unsupported report $dims")))
      }
  }
}
