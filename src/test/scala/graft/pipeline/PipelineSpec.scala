package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

import Fixtures._

/** End-to-end medallion pipeline spec: three ingest runs through bronze →
  * silver refresh → gold → full check suite, exercising every degraded
  * payload shape FIXTURES.md calls out plus the SCD2/latest-wins/idempotency
  * invariants (SURVEY §5).
  */
class PipelineSpec extends SparkSpec {

  private lazy val lake = new Lakehouse(spark, Files.createTempDirectory("graft-lake").toString)

  private val chHeaders = Seq(dim("day"), met("views"), met("likes"), met("comments"),
    met("estimatedMinutesWatched"), met("subscribersGained"), met("subscribersLost"))
  private val vidHeaders = Seq(dim("video"), dim("day"), met("views"), met("likes"),
    met("comments"), met("estimatedMinutesWatched"), ("averageViewDuration", "METRIC", "FLOAT"))

  private def ingestAll(): Unit = {
    // ---- run 1: 2025-06-01 ----
    val ctx1 = Bronze.RunContext("run1", "req1", d("2025-06-01"), ts("2025-06-01 10:00:00"))
    Bronze.logRunStart(lake, ctx1, """{"mode":"auto"}""")
    Bronze.ingest(lake, ctx1, _ => Map(
      "channels_raw" -> Seq(channelPayload("UC_1", "Chan A", 100, 10)),
      "videos_raw" -> Seq(videosPayload(
        videoItem("V1", "UC_1", "Title A", 10),
        videoItem("V2", "UC_1", "Other", 40))),
      "analytics_channel_daily_raw" -> Seq(report(chHeaders, Seq(
        Seq("2025-05-30", "11", "2", "1", "7", "3", "1"),
        Seq("2025-05-31", "12", "2", "1", "8", "2", "0")))),
      "analytics_video_daily_raw" -> Seq(report(vidHeaders, Seq(
        Seq("V1", "2025-05-31", "5", "1", "0", "3", "41.5"),
        Seq("V2", "2025-05-31", "7", "1", "1", "4", "60.25")))),
      // shuffled header order + lowercase + empty dim + unknown source
      "analytics_video_traffic_source_daily_raw" -> Seq(report(
        Seq(met("views"), dim("insightTrafficSourceType"), dim("video"), dim("day"),
          met("estimatedMinutesWatched")),
        Seq(
          Seq("3", "yt_search", "V1", "2025-05-31", "2"),
          Seq("2", "", "V1", "2025-05-31", "1"),
          Seq("1", "IMMERSIVE_LIVE", "V2", "2025-05-31", "1")))),
      // missing estimatedMinutesWatched column (→ NULL → gold coalesces 0)
      "analytics_video_country_daily_raw" -> Seq(report(
        Seq(dim("video"), dim("day"), dim("country"), met("views")),
        Seq(
          Seq("V1", "2025-05-31", "us", "4"),
          Seq("V1", "2025-05-31", "ph", "1")))),
      // missing day column entirely (→ snapshot_date fallback)
      "analytics_video_device_daily_raw" -> Seq(report(
        Seq(dim("video"), dim("deviceType"), met("views"), met("estimatedMinutesWatched")),
        Seq(
          Seq("V1", "desktop", "3", "2"),
          Seq("V1", "MOBILE", "2", "1"))))))
    Bronze.finalizeRun(lake, "run1", "success", ts("2025-06-01 10:05:00"))

    // ---- run 2: 2025-06-02 — updates + error payload ----
    val ctx2 = Bronze.RunContext("run2", "req2", d("2025-06-02"), ts("2025-06-02 10:00:00"))
    Bronze.logRunStart(lake, ctx2, """{"mode":"auto"}""")
    Bronze.ingest(lake, ctx2, _ => Map(
      "channels_raw" -> Seq(channelPayload("UC_1", "Chan A2", 150, 12)),
      // V1 title A -> B (new SCD2 version); V2 unchanged (no new version)
      "videos_raw" -> Seq(videosPayload(
        videoItem("V1", "UC_1", "Title B", 15),
        videoItem("V2", "UC_1", "Other", 40))),
      // overlapping date 05-31 re-reported with different numbers (latest wins)
      "analytics_channel_daily_raw" -> Seq(report(chHeaders, Seq(
        Seq("2025-05-31", "13", "3", "1", "9", "2", "1"),
        Seq("2025-06-01", "20", "4", "2", "11", "5", "1")))),
      "analytics_video_traffic_source_daily_raw" -> Seq(errorPayload)))
    Bronze.finalizeRun(lake, "run2", "success", ts("2025-06-02 10:05:00"))

    // ---- run 3: 2025-06-03 — A→B→A reversion ----
    val ctx3 = Bronze.RunContext("run3", "req3", d("2025-06-03"), ts("2025-06-03 10:00:00"))
    Bronze.ingest(lake, ctx3, _ => Map(
      "videos_raw" -> Seq(videosPayload(
        videoItem("V1", "UC_1", "Title A", 20),
        videoItem("V2", "UC_1", "Other", 45)))))
    Bronze.finalizeRun(lake, "run3", "success", ts("2025-06-03 10:05:00"))
  }

  private lazy val refreshed: Unit = {
    ingestAll()
    Silver.refresh(lake)
    Gold.refresh(lake)
  }

  test("silver refresh materializes all 14 models in dependency order") {
    refreshed
    Silver.models.foreach(m => assert(lake.exists("silver", m.name), m.name))
  }

  test("silver_channels: latest wins on channel_id") {
    refreshed
    val rows = lake.table("silver", "silver_channels").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("channel_title") == "Chan A2")
    assert(r.getAs[Long]("channel_view_count") == 150L)
    assert(r.getAs[String]("run_id") == "run2")
  }

  test("silver_video_stats_snapshot: unique on (video_id, fetched_at_utc), typed counters") {
    refreshed
    val df = lake.table("silver", "silver_video_stats_snapshot")
    assert(df.count() == 6) // 2 videos x 3 runs
    assert(df.groupBy("video_id", "fetched_at_utc").count().filter(col("count") > 1).isEmpty)
    val v1r3 = df.filter(col("video_id") === "V1" && col("run_id") === "run3").head()
    assert(v1r3.getAs[Long]("view_count") == 20L)
  }

  test("SCD2: A→B→A yields 3 contiguous versions; unchanged video stays at 1") {
    refreshed
    val scd = lake.table("silver", "silver_video_metadata_scd2")
    val v1 = scd.filter(col("video_id") === "V1")
      .orderBy(col("valid_from_utc")).collect()
    assert(v1.map(_.getAs[String]("video_title")).toSeq == Seq("Title A", "Title B", "Title A"))
    // windows partition time: valid_to = next valid_from − 1µs
    val v1b = scd.filter(col("video_id") === "V1")
      .orderBy(col("valid_from_utc"))
      .select(unix_micros(col("valid_from_utc")), unix_micros(col("valid_to_utc")),
        col("is_current"))
      .collect()
    assert(v1b(0).getLong(1) == v1b(1).getLong(0) - 1)
    assert(v1b(1).getLong(1) == v1b(2).getLong(0) - 1)
    assert(v1b.map(_.getBoolean(2)).toSeq == Seq(false, false, true))
    // open-ended sentinel on the current version
    val cur = scd.filter(col("video_id") === "V1" && col("is_current"))
      .select(col("valid_to_utc").cast("string")).head().getString(0)
    assert(cur == "9999-12-31 23:59:59.999999")
    // V2's metadata never changed (run3 only bumped statistics, which are
    // excluded from the hash) → a single version despite two observations
    assert(scd.filter(col("video_id") === "V2").count() == 1)
  }

  test("SCD2 surrogate key is stable sha2(video_id || valid_from)") {
    refreshed
    val scd = lake.table("silver", "silver_video_metadata_scd2")
    val bad = scd.filter(
      col("video_meta_sk") =!=
        sha2(concat_ws("||", col("video_id"), col("valid_from_utc").cast("string")), 256))
    assert(bad.isEmpty)
  }

  test("silver_videos: latest snapshot with current SCD2 FK resolved") {
    refreshed
    val v = lake.table("silver", "silver_videos")
    assert(v.count() == 2)
    val v1 = v.filter(col("video_id") === "V1").head()
    assert(v1.getAs[String]("latest_video_title") == "Title A") // run3 latest
    val currentSk = lake.table("silver", "silver_video_metadata_scd2")
      .filter(col("video_id") === "V1" && col("is_current"))
      .head().getAs[String]("video_meta_sk")
    assert(v1.getAs[String]("current_video_meta_sk") == currentSk)
  }

  test("fact_channel_daily_metrics: header binding + latest-wins on overlapping date") {
    refreshed
    val f = lake.table("silver", "fact_channel_daily_metrics")
    assert(f.count() == 3) // 05-30, 05-31, 06-01
    val d31 = f.filter(col("date") === lit("2025-05-31").cast("date")).head()
    assert(d31.getAs[Long]("views") == 13L) // run2 re-report wins
    assert(d31.getAs[String]("run_id") == "run2")
    assert(f.filter(col("date") === lit("2025-05-30").cast("date")).head()
      .getAs[Long]("subscribers_gained") == 3L)
  }

  test("traffic fact: shuffled headers bind by name; dims uppercased; empties dropped; error payload absorbed") {
    refreshed
    val f = lake.table("silver", "fact_video_traffic_source_metrics")
    val sources = f.select("source_id").collect().map(_.getString(0)).toSet
    assert(sources == Set("YT_SEARCH", "IMMERSIVE_LIVE")) // lowercase uppercased, '' dropped
    assert(f.count() == 2)
    val ytSearch = f.filter(col("source_id") === "YT_SEARCH").head()
    assert(ytSearch.getAs[Long]("views") == 3L) // bound by name despite shuffled order
  }

  test("country fact: missing estimatedMinutesWatched binds to NULL; gold coalesces to 0") {
    refreshed
    val f = lake.table("silver", "fact_video_country_metrics")
    assert(f.filter(col("estimated_minutes_watched").isNotNull).count() == 0)
    val g = lake.table("gold", "gold_video_country_daily_summary")
    assert(g.filter(col("estimated_minutes_watched") =!= 0L).count() == 0)
    assert(g.filter(col("country_code") === "US").head()
      .getAs[String]("country_name") == "United States of America")
  }

  test("device fact: missing day column falls back to snapshot_date") {
    refreshed
    val f = lake.table("silver", "fact_video_device_metrics")
    assert(f.count() == 2)
    assert(f.filter(col("date") === col("snapshot_date")).count() == 2)
    assert(f.select("device_type").collect().map(_.getString(0)).toSet
      == Set("DESKTOP", "MOBILE"))
  }

  test("dim_date: union of fact dates with calendar attributes") {
    refreshed
    val dd = lake.table("silver", "dim_date")
    val dates = dd.select(col("date").cast("string")).collect().map(_.getString(0)).toSet
    assert(dates == Set("2025-05-30", "2025-05-31", "2025-06-01")) // device fallback 06-01
    val sat = dd.filter(col("date") === lit("2025-05-31").cast("date")).head()
    assert(sat.getAs[Boolean]("is_weekend")) // 2025-05-31 is a Saturday
    assert(sat.getAs[Int]("day_of_week") == 7)
  }

  test("gold: net_subscribers arithmetic and star joins") {
    refreshed
    val g = lake.table("gold", "gold_channel_daily_summary")
    val d30 = g.filter(col("date") === lit("2025-05-30").cast("date")).head()
    assert(d30.getAs[Long]("net_subscribers") == 2L) // 3 gained - 1 lost
    val vd = lake.table("gold", "gold_video_daily_summary")
    assert(vd.filter(col("video_id") === "V1").head().getAs[String]("channel_id") == "UC_1")
  }

  test("full check suite: all error checks clean; warn fires on IMMERSIVE_LIVE") {
    refreshed
    val results = Checks.run(lake, d("2025-06-03"))
    // concurrent evaluation keeps the suite's order and the sequential counts
    val suite = Checks.all(d("2025-06-03"))
    assert(results.map(_._1) == suite.map(_.name))
    assert(results.map(_._3) == suite.map(_.run(lake).count()))
    val failures = results.filter { case (_, sev, n) => sev == "error" && n > 0 }
    assert(failures.isEmpty, s"failing checks: $failures")
    val warn = results.find(_._1 == "warn_new_traffic_source_ids").get
    assert(warn._3 == 1L) // exactly IMMERSIVE_LIVE
  }

  test("freshness check fails when asOf drifts past the lag budget") {
    refreshed
    val stale = Checks.freshness(d("2025-07-01"), maxLagDays = 7).run(lake)
    assert(stale.count() == 2) // both monitored models lag
  }

  /** Gold marts and the silver dims they reference, with no bronze table:
    * `dirty` marts fail every in-pipeline check but non-emptiness; otherwise
    * the channel and video marts are empty, which fails it. */
  private def checkFixture(dirty: Boolean): Lakehouse = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val l = new Lakehouse(spark, Files.createTempDirectory("graft-checks").toString)
    def table(layer: String, name: String, cols: Seq[String], rows: Seq[Any]*): Unit = {
      val schema = StructType(cols.map(c => StructField(c, c match {
        case "date" => DateType
        case "views" | "comments" | "estimated_minutes_watched" => LongType
        case _ => StringType
      })))
      l.materialize(layer, name, spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromSeq), 1), schema))
    }
    table("silver", "silver_videos", Seq("video_id"), Seq("V1"))
    table("silver", "dim_country", Seq("country_code"), Seq("US"))
    table("silver", "dim_device", Seq("device_type"), Seq("MOBILE"))
    table("silver", "dim_traffic_source", Seq("source_id"), Seq("YT_SEARCH"))
    val (d1, d2) = (d("2025-06-01"), d("2025-06-02"))
    // each mart: a duplicated grain, a negative metric, a null required
    // column and, where it has one, a key outside its dim
    val channel = Seq(Seq("UC_1", d1, 5L, 1L, 2L), Seq("UC_1", d1, 6L, -1L, 2L),
      Seq(null, d2, 1L, 0L, 1L))
    val video = Seq(Seq("V1", d1, "UC_1", 5L, 0L, 1L), Seq("V1", d1, "UC_1", 5L, 0L, -1L),
      Seq("V9", d2, null, 1L, 0L, 1L))
    table("gold", "gold_channel_daily_summary",
      Seq("channel_id", "date", "views", "comments", "estimated_minutes_watched"),
      (if (dirty) channel else Nil): _*)
    table("gold", "gold_video_daily_summary",
      Seq("video_id", "date", "channel_id", "views", "comments", "estimated_minutes_watched"),
      (if (dirty) video else Nil): _*)
    def keyed(key: String) =
      Seq("video_id", "date", "channel_id", key, "views", "estimated_minutes_watched")
    table("gold", "gold_video_country_daily_summary", keyed("country_code"),
      Seq("V1", d1, "UC_1", "US", 1L, 0L), Seq("V1", d1, "UC_1", "US", 1L, 0L),
      Seq("V1", d2, "UC_1", "ZZ", null, 0L), Seq("V1", d2, "UC_1", "US", -3L, 0L))
    table("gold", "gold_video_device_daily_summary", keyed("device_type"),
      Seq("V1", d1, "UC_1", "MOBILE", 1L, 0L), Seq("V1", d1, "UC_1", "MOBILE", 1L, 0L),
      Seq("V1", null, "UC_1", "TOASTER", 1L, -2L))
    // two spellings of one new id, a second new id and a blank one
    table("gold", "gold_video_traffic_source_daily_summary", keyed("source_id"),
      Seq("V1", d1, "UC_1", "YT_SEARCH", 1L, 0L), Seq("V1", d1, "UC_1", "YT_SEARCH", 1L, 0L),
      Seq("V1", d2, "UC_1", "new_src", 1L, 0L), Seq("V1", d2, "UC_1", "NEW_SRC", -1L, 0L),
      Seq("V1", d1, "UC_1", "OTHER_SRC", 1L, 0L), Seq(null, d2, "UC_1", "", 1L, 0L))
    l
  }

  test("fused check scans count exactly each check's offending rows, on marts failing every check") {
    val asOf = d("2025-07-01")
    val suite = Checks.all(asOf)
    val counts = Seq(true, false).map { dirty =>
      val l = checkFixture(dirty)
      val fused = Checks.run(l, asOf)
      assert(fused.map(_._1) == suite.map(_.name))
      assert(fused.map(_._2) == suite.map(_.severity))
      suite.zip(fused).foreach { case (c, (_, _, n)) =>
        assert(n == c.run(l).count(), s"${c.name}: the fused scan counts $n")
      }
      fused.map(_._3)
    }
    suite.zip(counts.transpose).foreach { case (c, ns) =>
      assert(ns.exists(_ > 0), s"${c.name} offends on neither fixture")
    }
    assert(counts.head(suite.indexWhere(_.name == "warn_new_traffic_source_ids")) == 2)
  }

  test("a table below the open cost reads as one partition: no shuffle under a model or a check scan") {
    refreshed
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    object plans extends AdaptiveSparkPlanHelper
    def shuffles(df: DataFrame): Int = {
      df.collect() // AQE fixes its final plan on execution
      plans.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.size
    }
    val report = lake.table("bronze", "analytics_channel_daily_raw")
    assert(lake.liveFileCount("bronze", "analytics_channel_daily_raw") > 1)
    assert(report.rdd.getNumPartitions == 1)
    // a latest-wins window, grouped aggregates and distincts plan no Exchange
    Silver.models.foreach(m => assert(shuffles(m.build(lake)) == 0, s"${m.name} shuffles"))
    Checks.martScans(Checks.all(d("2025-06-03"))).foreach(s =>
      assert(shuffles(s.aggregate(lake)) == 0, s"the check scan of ${s.mart} shuffles"))
    // with the open cost below the table's size, the same read keeps
    // Spark's split, and the window over it shuffles again
    val openCost = "spark.sql.files.openCostInBytes"
    val prior = spark.conf.get(openCost)
    spark.conf.set(openCost, "1")
    try {
      assert(lake.table("bronze", "analytics_channel_daily_raw").rdd.getNumPartitions > 1)
      assert(shuffles(Silver.factChannelDailyMetrics.build(lake)) > 0)
    } finally spark.conf.set(openCost, prior)
  }

  test("idempotent re-ingest: same run_id lands delete+append, results unchanged") {
    refreshed
    val before = lake.table("silver", "silver_channels").collect().toSeq
    val beforeBronze = lake.table("bronze", "channels_raw").count()
    // re-land run2's channel payload (simulating a task retry)
    val ctx2 = Bronze.RunContext("run2", "req2", d("2025-06-02"), ts("2025-06-02 10:00:00"))
    Bronze.ingest(lake, ctx2, _ => Map(
      "channels_raw" -> Seq(channelPayload("UC_1", "Chan A2", 150, 12))))
    assert(lake.table("bronze", "channels_raw").count() == beforeBronze)
    lake.materialize("silver", "silver_channels", Silver.silverChannels.build(lake))
    val after = lake.table("silver", "silver_channels").collect().toSeq
    assert(after == before)
  }

  test("bronze snapshot_date stats file-skip a date-bounded scan") {
    refreshed
    // run 4 lands one new snapshot; the older files carry earlier dates
    val ctx4 = Bronze.RunContext("run4", "req4", d("2025-06-04"), ts("2025-06-04 10:00:00"))
    Bronze.ingest(lake, ctx4, _ => Map(
      "analytics_video_daily_raw" -> Seq(report(vidHeaders, Seq(
        Seq("V1", "2025-06-03", "9", "2", "1", "5", "50.0"),
        Seq("V1", "2025-05-31", "6", "1", "0", "3", "42.0"))))))
    // the bound prunes at FILE level through the bronze log's per-file
    // snapshot_date stats — a date-bounded read scales with new data
    import graft.pipeline.ManifestStats.StatGte
    val since = Seq(StatGte("snapshot_date", d("2025-06-04")))
    val allFiles = lake.prunedFilePaths("bronze", "analytics_video_daily_raw", Nil)
    val newFiles = lake.prunedFilePaths("bronze", "analytics_video_daily_raw", since)
    assert(newFiles.nonEmpty && newFiles.size < allFiles.size,
      s"file skipping read ${newFiles.size}/${allFiles.size} files")
    // and the skipped scan returns exactly the filtered rows
    val viaSkip = lake.tableWhere("bronze", "analytics_video_daily_raw", since)
      .filter(col("snapshot_date") >= lit(d("2025-06-04")))
      .collect().map(_.toString).sorted.toSeq
    val viaFull = lake.table("bronze", "analytics_video_daily_raw")
      .filter(col("snapshot_date") >= lit(d("2025-06-04")))
      .collect().map(_.toString).sorted.toSeq
    assert(viaSkip.nonEmpty && viaSkip == viaFull)
  }

  private val allTables: Seq[(String, String)] =
    Silver.models.map(m => "silver" -> m.name) ++ Gold.models.map(m => "gold" -> m.name)

  private def tableRows(l: Lakehouse, layer: String, name: String): Seq[String] =
    l.table(layer, name).collect().map(_.toString).sorted.toSeq

  test("graph refresh builds the same 19 silver and gold tables as sequential") {
    refreshed
    // re-baseline sequentially first: earlier tests appended bronze data
    // (run4) without refreshing every downstream model
    Silver.refresh(lake)
    Gold.refresh(lake)
    assert(allTables.size == 19)
    val before = allTables.map { case (l, t) => t -> tableRows(lake, l, t) }.toMap
    val versions = allTables.map { case (l, t) => t -> lake.tableVersion(l, t) }.toMap
    Job.refreshGraph(lake)
    allTables.foreach { case (l, t) =>
      assert(lake.tableVersion(l, t) == versions(t) + 1, s"$t was not re-materialized")
      assert(tableRows(lake, l, t) == before(t), s"$t differs after the graph refresh")
    }
  }

  test("graph refresh: a missing bronze source fails with its own error; nothing downstream is built") {
    refreshed
    // a copy of the fixture lake without the video daily report
    val src = java.nio.file.Paths.get(lake.root)
    val dst = Files.createTempDirectory("graft-graph-fail")
    val walk = Files.walk(src)
    try walk.forEach(p => if (p != src) Files.copy(p, dst.resolve(src.relativize(p))))
    finally walk.close()
    val l = new Lakehouse(spark, dst.toString)
    l.deleteRecursively(l.tableDir("bronze", "analytics_video_daily_raw"))
    val layerOf = allTables.map(_.swap).toMap
    def version(t: String) = l.tableVersion(layerOf(t), t)
    val before = layerOf.keys.map(t => t -> version(t)).toMap
    val err = intercept[IllegalArgumentException](Job.refreshGraph(l))
    assert(err.getMessage.contains("bronze.analytics_video_daily_raw"), err.getMessage)
    // the failed model and everything downstream of it keep their version
    Seq("fact_video_daily_metrics", "dim_date", "gold_video_daily_summary").foreach(t =>
      assert(version(t) == before(t), s"$t was rebuilt past a failed dep"))
    // models that do not depend on it still settle before the call throws
    Seq("silver_videos", "dim_country", "gold_channel_daily_summary",
      "gold_video_country_daily_summary").foreach(t =>
      assert(version(t) == before(t) + 1, s"$t was not built"))
  }

  test("deps completeness: every silver or gold table a model reads is named in its deps") {
    refreshed
    val root = java.nio.file.Paths.get(lake.root).toAbsolutePath.normalize
    (Silver.models ++ Gold.models).foreach { m =>
      val reads = m.build(lake).inputFiles.toSeq.map { f =>
        val p = java.nio.file.Paths.get(new java.net.URI(f)).normalize
        assert(p.startsWith(root), s"${m.name} reads $f outside the lake")
        val rel = root.relativize(p)
        rel.getName(0).toString -> rel.getName(1).toString
      }.distinct
      val undeclared = reads.collect {
        case (layer, t) if layer != "bronze" && !m.deps.contains(t) => s"$layer.$t"
      }
      assert(undeclared.isEmpty, s"${m.name} reads ${undeclared.mkString(", ")} not in its deps")
    }
  }

  test("plan invariant: no executed-plan node above a Generate parses report JSON") {
    refreshed
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object plans extends AdaptiveSparkPlanHelper
    // every plan a daily run executes over the lake: the models, the marts
    // and the marts' fused check scans
    val planned = (Silver.models ++ Gold.models).map(m => m.name -> m.build(lake)) ++
      Checks.martScans(Checks.all(d("2025-06-03"))).map(s => s"checks of ${s.mart}" -> s.aggregate(lake))
    val generating = planned.count { case (name, df) =>
      df.collect() // AQE fixes its final plan on execution
      val plan = df.queryExecution.executedPlan
      val offenders = plans.collect(plan) {
        case n: SparkPlan
            if n.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs])) &&
              plans.find(n)(c => (c ne n) && c.isInstanceOf[GenerateExec]).isDefined =>
          n.nodeName
      }
      assert(offenders.isEmpty,
        s"$name: ${offenders.mkString(", ")} parse JSON above a Generate (once per exploded row)")
      plans.find(plan)(_.isInstanceOf[GenerateExec]).isDefined
    }
    // the eight report readers and the four item readers explode a payload
    assert(generating >= 12, s"only $generating silver plans hold a Generate")
  }

  test("run_context_log: finalize updates the run row in place") {
    refreshed
    val log = lake.table("bronze", "run_context_log")
    assert(log.count() == 2) // run1, run2 logged (run3 not logged in fixture)
    val r1 = log.filter(col("run_id") === "run1").head()
    assert(r1.getAs[String]("run_status") == "success")
    assert(r1.getAs[java.sql.Timestamp]("finalized_ts_utc") != null)
  }

  test("finalize is append-before-delete: an interrupted finalize is recoverable") {
    val l = new Lakehouse(spark, Files.createTempDirectory("graft-fin").toString)
    val ctx = Bronze.RunContext("runC", "reqC", d("2025-06-05"), ts("2025-06-05 10:00:00"))
    Bronze.logRunStart(l, ctx, "{}")
    // simulate a finalize interrupted between its append and its delete: the
    // superseding row landed, the stale null-status row was never removed
    val src = l.table("bronze", "run_context_log").filter(col("run_id") === "runC")
      .withColumn("run_status", lit("unknown"))
      .withColumn("finalized_ts_utc", lit(ts("2025-06-05 10:01:00")))
    val rows = src.collect()
    l.appendBronze("run_context_log",
      l.spark.createDataFrame(l.spark.sparkContext.parallelize(rows.toSeq, 1), src.schema))
    assert(l.table("bronze", "run_context_log").filter(col("run_id") === "runC").count() == 2)
    // readers already resolve to the finalized row (finalize-else-ingest order)
    val status = Checks.latestRunSuccess.run(l).collect().map(_.getString(0))
    assert(status.toSeq == Seq("unknown"))
    // a re-finalize converges back to exactly one row
    Bronze.finalizeRun(l, "runC", "unknown", ts("2025-06-05 10:02:00"))
    val after = l.table("bronze", "run_context_log").filter(col("run_id") === "runC").collect()
    assert(after.length == 1)
    assert(after.head.getAs[String]("run_status") == "unknown")
  }

  test("smoke checks offend on an empty lake: missing objects, no run log") {
    val empty = new Lakehouse(spark, Files.createTempDirectory("graft-empty").toString)
    assert(Checks.requiredObjects.run(empty).count() == 14) // all required missing
    val status = Checks.latestRunSuccess.run(empty).collect().map(_.getString(0))
    assert(status.toSeq == Seq("missing: run_context_log"))
  }

  test("post-deploy smoke: clean after a finalized pipeline; offends on a failed latest run") {
    refreshed
    val clean = Checks.runSmoke(lake, d("2025-06-03"))
    assert(clean.forall(_._3 == 0L), s"smoke failures: $clean")
    // a FAILED run finalized later than run1/run2 must trip the check; undo after
    val ctxF = Bronze.RunContext("runF", "reqF", d("2025-06-04"), ts("2025-06-04 10:00:00"))
    Bronze.logRunStart(lake, ctxF, """{"mode":"auto"}""")
    Bronze.finalizeRun(lake, "runF", "failed", ts("2025-06-04 10:05:00"))
    try {
      val bad = Checks.latestRunSuccess.run(lake).collect().map(_.getString(0))
      assert(bad.toSeq == Seq("failed"))
    } finally {
      // remove the failed run so later tests see a successful latest run
      lake.deleteByRunId("run_context_log", "runF")
      assert(Checks.latestRunSuccess.run(lake).isEmpty)
    }
  }

  test("SCD2 feed tick: an A→B→A reversion and a late arrival segment like a full recompute") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    val l = new Lakehouse(spark, Files.createTempDirectory("graft-scd2feed").toString)
    val cursor = Files.createTempDirectory("graft-scd2feed-cur").toString
    // observations (id, seq, v) with seq the observation clock: a version
    // starts where v differs from the id's previous observation
    val segment: DataFrame => DataFrame = df => {
      val w = Window.partitionBy("id").orderBy("seq")
      df.withColumn("prev_v", lag("v", 1).over(w))
        .filter(col("prev_v").isNull || col("prev_v") =!= col("v"))
        .withColumn("next_seq", lead("seq", 1).over(w))
        .select("id", "seq", "v", "next_seq")
    }
    def land(run: String, recs: (Long, Long, String)*): Unit =
      l.appendBronze("src", recs.map { case (id, seq, v) => (id, seq, v, run) }
        .toDF("id", "seq", "v", "run_id").repartition(1))
    // one-version ticks: every later landing folds incrementally
    def drain(): Unit = {
      var guard = 0
      while (Silver.scd2FeedTick(l, "silver", "scd2", "obs_log", "src", Seq("id"),
          Seq("id", "seq"), identity, segment, cursor, maxVersions = 1).isDefined) {
        guard += 1; require(guard <= 8, "scd2 feed drain failed to converge")
      }
    }
    def versions(id: Long): Seq[String] = l.table("silver", "scd2")
      .filter(col("id") === id).orderBy("seq").collect().map(_.getAs[String]("v")).toSeq
    def expected: Seq[String] = segment(l.table("bronze", "src").dropDuplicates(Seq("id", "seq")))
      .collect().map(_.toString).sorted.toSeq
    def actual: Seq[String] = l.table("silver", "scd2").collect().map(_.toString).sorted.toSeq

    land("r1", (1L, 10L, "A"), (2L, 10L, "S"))
    drain() // snapshot bootstrap
    land("r2", (1L, 20L, "B"), (2L, 20L, "S"))
    land("r3", (1L, 30L, "A"), (2L, 30L, "S"))
    drain()
    assert(versions(1L) == Seq("A", "B", "A"), s"A→B→A reversion missegmented: ${versions(1L)}")
    assert(versions(2L) == Seq("S"), "an unchanged id must stay at one version")
    assert(actual == expected, "A→B→A feed fold != full recompute")
    // LATE ARRIVAL: lands last but was observed between seq 10 and 20 —
    // the fold must re-segment the MIDDLE of id 1's version chain
    land("r4", (1L, 15L, "C"))
    drain()
    assert(versions(1L) == Seq("A", "C", "B", "A"), s"late arrival missegmented: ${versions(1L)}")
    assert(actual == expected, "late-arrival feed fold != full recompute")
  }

  test("fresh-cursor bootstrap works on a MATURE lake whose early manifests are pruned") {
    import spark.implicits._
    val l = new Lakehouse(spark, Files.createTempDirectory("graft-cdfmature").toString)
    // > one checkpoint interval of commits WITHOUT a registered cursor:
    // commit-time retention prunes the early manifests — a version-0 feed
    // drain would fail fast forever ('version 1 is not retained')
    (1 to 14).foreach { i =>
      l.appendBronze("src",
        Seq((i.toLong, s"g${i % 3}", i.toLong, s"r$i"))
          .toDF("id", "grp", "val", "run_id").repartition(1))
    }
    assert(l.tableVersions("bronze", "src").min > 1, "expected pruned early manifests")
    val cursor = Files.createTempDirectory("graft-cdfmature-cur").toString
    def tick() = Silver.latestWinsFeedTick(l, "silver", "mv", "src",
      Seq("grp"), Seq(col("id").desc), identity, cursor)
    def expected: Seq[String] =
      Silver.latestWins(l.table("bronze", "src"), Seq("grp"), Seq(col("id").desc))
        .collect().map(_.toString).sorted.toSeq
    def actual: Seq[String] =
      l.table("silver", "mv").collect().map(_.toString).sorted.toSeq
    // snapshot bootstrap: one tick, cursor jumps to the head
    assert(tick().contains((0, 14)))
    assert(actual == expected, "mature-lake bootstrap diverged")
    assert(tick().isEmpty)
    // incremental from there
    l.appendBronze("src",
      Seq((99L, "g1", 99L, "r99")).toDF("id", "grp", "val", "run_id").repartition(1))
    assert(tick().isDefined)
    assert(actual == expected)
    // the delete-to-force-a-rebuild idiom: MV gone + caught-up cursor must
    // REBUILD from the snapshot, not silently never materialize again
    val mvDir = java.nio.file.Paths.get(l.root, "silver", "mv")
    val w = Files.walk(mvDir)
    try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally w.close()
    assert(tick().isEmpty) // caught up — but the rebuild happened
    assert(actual == expected, "deleted MV was not rebuilt on the no-op tick")
  }

  test("feed fold pairs NULL grain values: retraction and re-observation of a NULL-key grain") {
    import spark.implicits._
    val l = new Lakehouse(spark, Files.createTempDirectory("graft-cdfnullg").toString)
    def obs(run: String, recs: Seq[(Long, Option[String], Long)]) =
      recs.map { case (id, g, v) => (id, g.orNull, v, run) }
        .toDF("id", "grp", "val", "run_id").repartition(1)
    val cursor = Files.createTempDirectory("graft-cdfnullg-cur").toString
    def tick() = Silver.latestWinsFeedTick(l, "silver", "mv", "src",
      Seq("grp"), Seq(col("id").desc), identity, cursor)
    def expected: Seq[String] =
      Silver.latestWins(l.table("bronze", "src"), Seq("grp"), Seq(col("id").desc))
        .collect().map(_.toString).sorted.toSeq
    def actual: Seq[String] =
      l.table("silver", "mv").collect().map(_.toString).sorted.toSeq
    // NULL-grain observations alongside a real grain
    l.appendBronze("src", obs("r1", Seq((1L, None, 10L), (2L, Some("a"), 3L))))
    assert(tick().isDefined)
    assert(actual == expected, "bootstrap with a NULL grain diverged")
    // a NEWER NULL-grain observation must REPLACE the standing NULL winner
    l.appendBronze("src", obs("r2", Seq((3L, None, 7L))))
    assert(tick().isDefined)
    assert(actual == expected, "NULL-grain re-observation stranded the old winner")
    assert(l.table("silver", "mv").filter(col("grp").isNull).count() == 1)
    // retracting the NULL winner falls back to the OLDER NULL observation
    l.deleteBronzeWhereDv("src", col("id") === 3L, Nil)
    assert(tick().isDefined)
    assert(actual == expected, "NULL-grain retraction diverged from recompute")
    val n = l.table("silver", "mv").filter(col("grp").isNull).collect()
    assert(n.length == 1 && n.head.getAs[Long]("id") == 1L,
      s"NULL-grain winner did not fall back: ${n.toSeq}")
  }

  test("latest-wins capped tick with a retraction across ADD COLUMNS does not " +
      "livelock (pinned rebuild NULL-fills head columns)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val l = new Lakehouse(spark, Files.createTempDirectory("graft-cdfwiden").toString)
    val cursor = Files.createTempDirectory("graft-cdfwiden-cur").toString
    // pre-widening model code, and the upgraded projection shipped with the
    // bronze ADD COLUMNS: references `flag` in a FILTER (output schema fixed)
    val narrow: DataFrame => DataFrame = _.select("id", "grp", "val", "run_id")
    val upgraded: DataFrame => DataFrame = df =>
      df.filter(col("flag").isNull || col("flag") =!= "drop")
        .select("id", "grp", "val", "run_id")
    def tick(typed: DataFrame => DataFrame) = Silver.latestWinsFeedTick(
      l, "silver", "mv", "src", Seq("grp"), Seq(col("id").desc), typed, cursor,
      maxVersions = 1)
    l.appendBronze("src", Seq((1L, "a", 10L, "r1"), (2L, "b", 20L, "r2"))
      .toDF("id", "grp", "val", "run_id").repartition(1))                    // v1
    assert(tick(narrow).isDefined)                        // snapshot bootstrap
    l.appendBronze("src", Seq((3L, "a", 30L, "r3"))
      .toDF("id", "grp", "val", "run_id").repartition(1))                    // v2
    l.deleteBronzeWhereDv("src", col("id") === 3L, Nil)                      // v3: retraction
    l.appendBronze("src",
      Seq((4L, "c", 40L, "r4", "ok"), (5L, "b", 50L, "r5", "drop"))
        .toDF("id", "grp", "val", "run_id", "flag").repartition(1))          // v4: ADD COLUMNS
    // one-version drains under the upgraded projection: the (2,3] range
    // contains the delete and ends before the widening — the pinned rebuild
    // read must NULL-fill `flag` or every retry of that range throws
    var guard = 0
    while (tick(upgraded).isDefined) {
      guard += 1; require(guard <= 6, "cross-widening capped drain failed to converge")
    }
    val expected = Silver.latestWins(upgraded(l.table("bronze", "src")),
      Seq("grp"), Seq(col("id").desc)).collect().map(_.toString).sorted.toSeq
    val actual = l.table("silver", "mv").collect().map(_.toString).sorted.toSeq
    assert(actual == expected, "cross-widening capped drain != recompute")
    // the retraction re-derived grain a's winner from the pinned source …
    val a = l.table("silver", "mv").filter(col("grp") === "a").collect()
    assert(a.length == 1 && a.head.getAs[Long]("id") == 1L, s"grain a: ${a.toSeq}")
    // … and the upgraded filter binds REAL flag values, not just the NULL fill
    val b = l.table("silver", "mv").filter(col("grp") === "b").collect()
    assert(b.length == 1 && b.head.getAs[Long]("id") == 2L, s"grain b: ${b.toSeq}")
  }

  test("SCD2 capped tick with a retraction across ADD COLUMNS does not livelock") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    val l = new Lakehouse(spark, Files.createTempDirectory("graft-scd2widen").toString)
    val cursor = Files.createTempDirectory("graft-scd2widen-cur").toString
    val narrow: DataFrame => DataFrame = _.select("id", "seq", "v", "run_id")
    val upgraded: DataFrame => DataFrame = df =>
      df.filter(col("flag").isNull || col("flag") =!= "drop")
        .select("id", "seq", "v", "run_id")
    val segment: DataFrame => DataFrame = df => {
      val w = Window.partitionBy("id").orderBy("seq")
      df.select("id", "seq", "v")
        .withColumn("next_seq", lead("seq", 1).over(w))
        .withColumn("is_current", col("next_seq").isNull)
    }
    def tick(typed: DataFrame => DataFrame) = Silver.scd2FeedTick(
      l, "silver", "scd2", "obs_log", "src2", Seq("id"), Seq("id", "seq"),
      typed, segment, cursor, maxVersions = 1)
    l.appendBronze("src2", Seq((1L, 1L, "x", "r1"), (2L, 1L, "y", "r1"))
      .toDF("id", "seq", "v", "run_id").repartition(1))                      // v1
    assert(tick(narrow).isDefined)                        // snapshot bootstrap
    l.appendBronze("src2", Seq((1L, 2L, "x2", "r2"))
      .toDF("id", "seq", "v", "run_id").repartition(1))                      // v2
    l.deleteBronzeWhereDv("src2", col("seq") === 2L, Nil)                    // v3: retraction
    l.appendBronze("src2",
      Seq((3L, 1L, "z", "r4", "ok"), (2L, 2L, "y2", "r5", "drop"))
        .toDF("id", "seq", "v", "run_id", "flag").repartition(1))            // v4: ADD COLUMNS
    var guard = 0
    while (tick(upgraded).isDefined) {
      guard += 1; require(guard <= 6, "cross-widening capped scd2 drain failed to converge")
    }
    val expected = segment(upgraded(l.table("bronze", "src2"))
      .dropDuplicates(Seq("id", "seq"))).collect().map(_.toString).sorted.toSeq
    val actual = l.table("silver", "scd2").collect().map(_.toString).sorted.toSeq
    assert(actual == expected, "cross-widening capped scd2 drain != recompute")
    // id 1's retracted observation re-segmented away; id 2's "drop" filtered
    assert(l.table("silver", "scd2").filter(col("id") === 1L).count() == 1)
    assert(l.table("silver", "scd2").filter(col("id") === 2L).count() == 1)
    assert(l.table("silver", "scd2").filter(col("id") === 3L).count() == 1)
  }
}
