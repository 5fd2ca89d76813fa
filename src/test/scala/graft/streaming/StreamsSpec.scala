package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Specs for the kept per-row operators on a MemoryStream and for the
  * change-feed ticks (`Silver.latestWinsFeedTick`, `Gold.starFeedTick`)
  * driven in drain loops over fixture bronze tables. */
class StreamsSpec extends SparkSpec {

  test("per-row curation operators run unchanged on a stream (sample + quality + redact)") {
    // hashSample's filter, the t07 repetition metrics, and redaction are all
    // stateless per-row expressions — the exact property that makes them
    // legal in a streaming SELECT with no watermark or state store. The
    // streaming result must equal the batch computation on the same rows.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._

    def curate(df: DataFrame): DataFrame =
      Curation.hashSample(df, "doc_id", 0.75)
        .select($"doc_id",
          TextAnalysis.distinctTokenFrac(TextAnalysis.tokens($"text")).as("distinct_frac"),
          TextAnalysis.redactEmails($"text").as("scrubbed"))

    val rows = (1L to 40L).map(i =>
      (i, s"tok$i tok$i mail$i@example.com the end"))
    val input = MemoryStream[(Long, String)]
    val q = curate(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curated_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(25): _*)
      q.processAllAvailable()
      input.addData(rows.drop(25): _*)
      q.processAllAvailable()
      val streamed = spark.table("curated_stream").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      val batch = curate(rows.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty && batch.size < 40, s"sample should be proper: ${batch.size}")
      assert(batch.forall(_._3.contains("<EMAIL>")))
    } finally q.stop()
  }

  /** The channel rows the `latestWinsFeedTick` cases fold: id and title
    * out of the fixture payload, plus the columns latest-wins orders by. */
  private def channelRows(raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, get_json_object}
    raw.select(
      get_json_object(col("payload"), "$.items[0].id").as("channel_id"),
      get_json_object(col("payload"), "$.items[0].snippet.title").as("channel_title"),
      col("snapshot_date"), col("ingest_ts_utc"), col("request_id"), col("run_id"))
  }

  /** Tick `channels_raw` into `silver.channels` on `cursor` until caught up. */
  private def drainChannels(lake: graft.pipeline.Lakehouse, cursor: String): Unit = {
    import org.apache.spark.sql.functions.col
    var guard = 0
    while (graft.pipeline.Silver.latestWinsFeedTick(lake, "silver", "channels",
        "channels_raw", Seq("channel_id"),
        Seq(col("snapshot_date").desc, col("ingest_ts_utc").desc, col("request_id").desc),
        channelRows, cursor).isDefined) {
      guard += 1
      require(guard <= 10, "channel feed drain failed to converge")
    }
  }

  private def foldedChannels(lake: graft.pipeline.Lakehouse): Seq[String] =
    lake.table("silver", "channels").collect().map(_.toString).sorted.toSeq

  /** Latest-wins over the visible bronze rows: what the folded table must equal. */
  private def recomputedChannels(lake: graft.pipeline.Lakehouse): Seq[String] =
    graft.pipeline.Silver.latestWins(channelRows(lake.table("bronze", "channels_raw")),
      Seq("channel_id")).collect().map(_.toString).sorted.toSeq

  test("latestWinsFeedTick folds a deletion-vector delete of a delivered run as a retraction") {
    import java.nio.file.Files
    import graft.pipeline.{Bronze, Lakehouse}
    import graft.pipeline.Fixtures.{channelPayload, d}
    import org.apache.spark.sql.functions.col
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-feeddel").toString)
    def land(run: String, snap: String, at: String, title: String, views: Long): Unit =
      Bronze.ingest(lake, Bronze.RunContext(run, s"req-$run", d(snap),
        graft.pipeline.Fixtures.ts(at)), _ => Map(
        "channels_raw" -> Seq(channelPayload("UC_1", title, views, 10))))
    val cursor = Files.createTempDirectory("graft-feeddel-cur").toString
    land("r1", "2025-06-01", "2025-06-01 10:00:00", "Chan A", 100)
    land("r2", "2025-06-02", "2025-06-02 10:00:00", "Chan B", 150)
    drainChannels(lake, cursor)
    assert(lake.table("silver", "channels")
      .filter(col("channel_title") === "Chan B").count() == 1)
    // a run-aligned re-ingest (delete + re-append of r1) converges
    land("r1", "2025-06-01", "2025-06-01 11:00:00", "Chan A2", 110)
    drainChannels(lake, cursor)
    assert(foldedChannels(lake) == recomputedChannels(lake), "re-ingest fold != recompute")
    // a PLAIN vector delete of the delivered winner: the tick reads it from
    // the change feed and the grain falls back to the older r1 row
    lake.deleteBronzeWhereDv("channels_raw", col("run_id") === "r2")
    drainChannels(lake, cursor)
    val ch = lake.table("silver", "channels").collect()
    assert(ch.length == 1 && ch.head.getAs[String]("channel_title") == "Chan A2",
      s"winner did not fall back to r1: ${ch.toSeq}")
    assert(foldedChannels(lake) == recomputedChannels(lake), "retraction fold != recompute")
  }

  test("latestWinsFeedTick starts fresh over a table with live deletion vectors") {
    import java.nio.file.Files
    import graft.pipeline.{Bronze, Lakehouse}
    import graft.pipeline.Fixtures.{channelPayload, d}
    import org.apache.spark.sql.functions.col
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-feeddv").toString)
    // both rows in ONE file, so a one-row delete writes a real vector
    lake.appendBronze("channels_raw", Bronze.envelopeDf(spark, Seq(
      Bronze.Envelope(d("2025-06-01"), graft.pipeline.Fixtures.ts("2025-06-01 10:00:00"),
        "yt", "req-r1", "1", "r1", channelPayload("UC_A", "A", 10, 1)),
      Bronze.Envelope(d("2025-06-01"), graft.pipeline.Fixtures.ts("2025-06-01 10:00:00"),
        "yt", "req-r1", "1", "r1", channelPayload("UC_B", "B", 20, 2))))
      .repartition(1))
    lake.deleteBronzeWhereDv("channels_raw",
      org.apache.spark.sql.functions.get_json_object(
        col("payload"), "$.items[0].id") === "UC_A")
    assert(lake.deletionVectorCount("channels_raw") > 0, "expected a live vector")
    // a fresh cursor bootstraps from the visible rows: the vector-deleted
    // row is still in the parquet file but must not reach silver
    drainChannels(lake, Files.createTempDirectory("graft-feeddv-cur").toString)
    assert(lake.table("silver", "channels")
      .select("channel_id").collect().map(_.getString(0)).toSeq == Seq("UC_B"),
      "a vector-deleted row reached silver")
    assert(foldedChannels(lake) == recomputedChannels(lake), "bootstrap != recompute")
  }

  test("latestWinsFeedTick is committed-only: crash debris never reaches silver; a late commit still folds in") {
    import java.nio.file.Files
    import graft.pipeline.{Bronze, Lakehouse}
    import graft.pipeline.Fixtures.{channelPayload, d}
    import org.apache.spark.sql.functions.lit
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-committed-only").toString)
    Bronze.ingest(lake, Bronze.RunContext("r1", "req-r1", d("2025-06-01"),
      graft.pipeline.Fixtures.ts("2025-06-01 10:00:00")), _ => Map(
      "channels_raw" -> Seq(channelPayload("UC_1", "Chan A", 100, 10))))
    val cursor = Files.createTempDirectory("graft-co-cur").toString
    drainChannels(lake, cursor) // bootstrap from the initial commit
    val v0 = lake.tableVersion("silver", "channels")
    // two CRASHED writers: append dirs fully written, manifest CAS never won
    // — exactly the debris vacuumBronze deletes
    val base = lake.tableDir("bronze", "channels_raw")
    def plantDebris(dirName: String, title: String, snap: String): Unit =
      lake.table("bronze", "channels_raw")
        .withColumn("payload", lit(channelPayload("UC_1", title, 999, 10)))
        .withColumn("snapshot_date", lit(d(snap)))
        .withColumn("run_id", lit(s"crash-$dirName"))
        .write.parquet(base.resolve(dirName).toString)
    plantDebris("_a8_gone", "Chan GONE", "2025-06-08")
    plantDebris("_a9_late", "Chan LATE", "2025-06-09")
    drainChannels(lake, cursor)
    // no commit landed, so the tick commits no silver version and neither
    // uncommitted file's rows reach silver
    assert(lake.tableVersion("silver", "channels") == v0,
      "uncommitted debris made the tick commit a silver version")
    val folded = foldedChannels(lake)
    assert(!folded.exists(_.contains("Chan GONE")), "uncommitted rows reached silver")
    assert(!folded.exists(_.contains("Chan LATE")), "uncommitted rows reached silver")
    assert(folded == recomputedChannels(lake), "folded silver != recompute from committed bronze")
    // one crashed writer's rows land after all, by a real append; vacuum
    // then removes both debris dirs (committed files survive it)
    lake.appendBronze("channels_raw", spark.read.parquet(base.resolve("_a9_late").toString))
    lake.vacuumBronze("channels_raw", retainMillis = 0L)
    assert(!Files.exists(base.resolve("_a8_gone")), "vacuum left uncommitted debris")
    assert(!Files.exists(base.resolve("_a9_late")), "vacuum left uncommitted debris")
    assert(lake.table("bronze", "channels_raw").filter(
      org.apache.spark.sql.functions.col("run_id") === "crash-_a9_late").count() > 0,
      "vacuum deleted committed files")
    // the late commit is in the log, so the next tick folds it
    drainChannels(lake, cursor)
    val after = foldedChannels(lake)
    assert(after.exists(_.contains("Chan LATE")), "late-committed file never reached silver")
    assert(!after.exists(_.contains("Chan GONE")))
    assert(after == recomputedChannels(lake), "final silver != recompute from committed bronze")
  }

  test("latestWinsFeedTick skips OPTIMIZE repacks: a dataChange=false range commits no silver version") {
    import java.nio.file.Files
    import graft.pipeline.{Bronze, Lakehouse}
    import graft.pipeline.Fixtures.{channelPayload, d}
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-nodata-feed").toString)
    def land(run: String, snap: String, title: String): Unit =
      Bronze.ingest(lake, Bronze.RunContext(run, s"req-$run", d(snap),
        graft.pipeline.Fixtures.ts(s"$snap 10:00:00")), _ => Map(
        "channels_raw" -> Seq(channelPayload("UC_1", title, 100, 10))))
    (1 to 5).foreach(i => land(s"r$i", f"2025-06-${i}%02d", s"Chan v$i"))
    val cursor = Files.createTempDirectory("graft-nodata-cur").toString
    drainChannels(lake, cursor) // bootstrap from the initial committed files
    val rows0 = foldedChannels(lake)
    val v0 = lake.tableVersion("silver", "channels")
    // maintenance packs the 5 small ingest files into one new _a* dir in a
    // dataChange=false commit: the feed range carries no rows
    assert(lake.compactSmall("bronze", "channels_raw",
      targetBytes = 1L << 20, minSmallFiles = 4))
    drainChannels(lake, cursor)
    assert(lake.tableVersion("silver", "channels") == v0,
      "a repack-only range must not commit a silver merge at all")
    assert(foldedChannels(lake) == rows0)
    // the consumer still works: a genuine append after the OPTIMIZE folds
    land("r6", "2025-06-09", "Chan v6")
    drainChannels(lake, cursor)
    val folded = foldedChannels(lake)
    assert(folded != rows0, "a real append after the OPTIMIZE must still fold")
    assert(folded == recomputedChannels(lake), "post-OPTIMIZE fold != recompute")
  }

  test("starFeedTick: cursor-driven mart fold under churn and retraction " +
      "equals the batch rebuild") {
    import java.nio.file.Files
    import graft.pipeline.{Gold, Lakehouse, Silver}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-goldfeed").toString)
    val silverCur = Files.createTempDirectory("graft-goldfeed-scur").toString
    def silverTick(): Unit =
      while (Silver.latestWinsFeedTick(lake, "silver", "sfact", "fct",
        Seq("k"), Seq(col("seq").desc), identity, silverCur).isDefined) ()
    val goldCur = Files.createTempDirectory("graft-goldfeed-gcur").toString
    val factDep = Gold.FeedDep("fct", Seq("k"), identity)
    val build = (_: Lakehouse, f: org.apache.spark.sql.DataFrame) =>
      f.select(col("k"), (col("v") * 2).as("v2"), col("seq"))
    // the gold tick reads the change feed through its durable cursor,
    // behind a silver drain that has already converged — which is why DV
    // retractions fold here
    def goldTick(): Unit = {
      var guard = 0
      while (Gold.starFeedTick(lake, "mart", Seq("k"), factDep, Seq.empty,
          "sfact", build, goldCur).isDefined) {
        guard += 1
        require(guard <= 10, "gold feed drain failed to converge")
      }
    }
    def expected = build(lake, lake.table("silver", "sfact"))
      .collect().map(_.toString).sorted.toSeq
    def actual = lake.table("gold", "mart").collect().map(_.toString).sorted.toSeq

    lake.appendBronze("fct",
      Seq((1L, 10L, 1L), (2L, 20L, 1L)).toDF("k", "v", "seq").repartition(1))
    silverTick(); goldTick()
    assert(actual == expected, "bootstrap mart != batch rebuild")
    // churn between drains: a re-observation, a new key, then a DV
    // RETRACTION of the re-observation — the catch-up drain must fold all
    // three
    lake.appendBronze("fct",
      Seq((1L, 11L, 2L), (3L, 30L, 1L)).toDF("k", "v", "seq").repartition(1))
    lake.deleteBronzeWhereDv("fct", col("k") === 1L && col("seq") === 2L, Nil)
    silverTick(); goldTick()
    assert(actual == expected, "churned mart != batch rebuild")
    // the retraction resurrected the OLDER observation in the mart
    val k1 = lake.table("gold", "mart").filter(col("k") === 1L).collect()
    assert(k1.length == 1 && k1.head.getAs[Long]("v2") == 20L,
      s"retraction did not resurrect k=1's older observation: ${k1.toSeq}")
  }
}
