package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import Streams.Event

/** Structured Streaming specs driven by MemoryStream micro-batches; event
  * time (not wall clock) drives every assertion, so tests are deterministic. */
class StreamsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Event(id, ts(t), user, typ, v)

  test("windowed counts aggregate into tumbling event-time windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.windowedEventCounts(input.toDF())
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:10", 1, "click", 1.0),
        ev(2, "2024-01-01 10:02:00", 2, "click", 2.0),
        ev(3, "2024-01-01 10:07:00", 1, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts").collect()
        .map(r => (r.getAs[Timestamp]("window_start").toString,
          r.getAs[String]("event_type"), r.getAs[Long]("event_count"),
          r.getAs[Double]("total_value"))).toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 10:05:00.0", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming dedup emits each event_id once across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.streamingDedup(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0), // duplicate
        ev(2, "2024-01-01 10:00:30", 1, "view", 2.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getAs[Long]("event_id")).toSeq
      assert(ids.sorted == Seq(1L, 2L))
    } finally q.stop()
  }

  test("bounded streaming dedup drops in-horizon duplicates AND evicts state past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.streamingDedupBounded(input.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_bounded_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      // duplicate inside the horizon: dropped
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:05:00", 1, "view", 2.0))
      q.processAllAvailable()
      // advance the watermark far past event 1, evicting its state...
      input.addData(ev(3, "2024-01-01 11:00:00", 1, "click", 3.0))
      q.processAllAvailable()
      input.addData(ev(4, "2024-01-01 11:30:00", 1, "click", 4.0))
      q.processAllAvailable()
      // ...so a very-late replay of event 1 is emitted AGAIN — the bounded
      // variant's documented trade: state O(watermark window), not O(stream)
      input.addData(ev(1, "2024-01-01 11:29:00", 1, "click", 1.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_bounded_out").collect()
        .map(_.getAs[Long]("event_id")).toSeq.sorted
      assert(ids == Seq(1L, 1L, 2L, 3L, 4L), s"got $ids")
    } finally q.stop()
  }

  test("file stream over the real events fixture equals the batch computation") {
    // stream/batch parity: the same windowed aggregation over the same
    // parquet must agree whether it arrives as one bounded micro-batch or a
    // batch scan — the "incremental execution mode of the engine" claim
    import graft.Graft
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val q = Streams.windowedEventCounts(
        Streams.eventFileStream(spark, dir.toString), windowLen = "1 day", watermark = "0 seconds")
      .writeStream.format("memory").queryName("file_win")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_win").collect()
        .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"))
          -> ((r.getAs[Long]("event_count"), r.getAs[Double]("total_value")))).toMap
      val batch = Graft.eventsTable(spark, "/root/testdata/sf0.001")
        .groupBy(window(org.apache.spark.sql.functions.col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("event_count"), sum(col("value")).as("total_value"))
        .select(col("window.start"), col("event_type"), col("event_count"), col("total_value"))
        .collect()
        .map(r => (r.getAs[Timestamp](0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      assert(streamed.nonEmpty)
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (k, (n, total)) =>
        assert(n == batch(k)._1, s"$k count")
        // double sums are order-dependent across exec modes: tolerance compare
        assert(math.abs(total - batch(k)._2) < 1e-6 * math.max(1.0, math.abs(total)), s"$k total")
      }
    } finally q.stop()
  }

  test("file stream defines on an EMPTY dir (DDL fallback) and picks up the first file") {
    // deployment order: the stream is defined before any file lands — the
    // pinned-schema footer read has nothing to pin from and must fall back
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-empty")
    val stream = Streams.eventFileStream(spark, dir.toString) // must not throw
    assert(stream.schema.fieldNames.toSet ==
      Set("event_id", "ts", "user_id", "event_type", "value"))
    val q = Streams.windowedEventCounts(stream, windowLen = "1 day", watermark = "0 seconds")
      .writeStream.format("memory").queryName("empty_start_win")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      assert(spark.table("empty_start_win").isEmpty) // no files yet
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
        dir.resolve("events.parquet"))
      q.processAllAvailable()
      assert(spark.table("empty_start_win").count() > 0)
    } finally q.stop()
  }

  test("near-dup gate: within-batch, cross-batch, and novel docs across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF.toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-ndg-idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ndg-out").resolve("survivors").toString
    val q = Streams.nearDupGate(docs, idx, out, minJaccard = 0.5)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ndg-ckpt").toString)
      .start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again " * 5
      input.addData(
        (1L, base),                         // novel
        (2L, base + " with a small tail"),  // near-dup of 1 WITHIN the batch → dropped
        (10L, "completely different content about spark engines and parquet files " * 5))
      q.processAllAvailable()
      input.addData(
        (20L, base + " minor edit"),        // near-dup of standing doc 1 → dropped
        (30L, "yet another unrelated corpus of words entirely fresh and new " * 5))
      q.processAllAvailable()
      val surv = Streams.batchedTable(spark, out).select("doc_id").as[Long].collect().toSet
      assert(surv == Set(1L, 10L, 30L), s"survivors were $surv")
      // the at-rest index covers exactly the survivors — later batches (or
      // a BATCH consumer: the same tables the curation funnel probes) see
      // every doc that ever passed
      val indexed = Streams.batchedTable(spark, s"$idx/shingles")
        .select("doc_id").as[Long].collect().toSet
      assert(indexed == Set(1L, 10L, 30L))
    } finally q.stop()
  }

  test("near-dup gate is exactly-once: a replayed batch rewrites, never duplicates") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-ndg2-idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ndg2-out").resolve("survivors").toString
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val b0 = Seq((1L, base),
      (10L, "completely different content about spark engines and parquet files " * 5))
      .toDF("doc_id", "text")
    val b1 = Seq((20L, base + " minor edit"), // near-dup of standing doc 1
      (30L, "yet another unrelated corpus of words entirely fresh and new " * 5))
      .toDF("doc_id", "text")
    Streams.gateBatch(b0, 0L, idx, out, 0.5)
    Streams.gateBatch(b1, 1L, idx, out, 0.5)
    def state() = (
      Streams.batchedTable(spark, out).select("doc_id").as[Long].collect().sorted.toSeq,
      Streams.batchedTable(spark, s"$idx/shingles").select("doc_id").as[Long].collect().sorted.toSeq,
      Streams.batchedTable(spark, s"$idx/postings").count())
    val clean = state()
    assert(clean._1 == Seq(1L, 10L, 30L), s"survivors were ${clean._1}")
    // full replay of batch 1 (crash after all three writes, before the
    // checkpoint commit): state is REWRITTEN, not appended
    Streams.gateBatch(b1, 1L, idx, out, 0.5)
    assert(state() == clean, "full replay changed on-disk state")
    // crash BETWEEN the three writes: survivors+shingles of batch 1 landed,
    // postings did not — replay must converge to the same clean state (its
    // probe ignores its own batch's debris, so doc 20 still drops)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$idx/postings/b1"))
    Streams.gateBatch(b1, 1L, idx, out, 0.5)
    assert(state() == clean, "partial-crash replay diverged")
  }

  test("compactBatches: mid-stream OPTIMIZE folds batch dirs into one segment — output, replays, and later batches unaffected") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-ndc-idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ndc-out").resolve("survivors").toString
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val batches = Seq(
      Seq((1L, base),
        (10L, "completely different content about spark engines and parquet files " * 5)),
      Seq((20L, base + " minor edit"), // near-dup of standing doc 1 → dropped
        (30L, "yet another unrelated corpus of words entirely fresh and new " * 5)),
      Seq((40L, "a third wholly distinct batch of tokens about lakehouse manifests " * 5)),
      Seq((50L, "fourth batch fresh material concerning adaptive query execution plans " * 5)))
      .map(_.toDF("doc_id", "text"))
    batches.zipWithIndex.foreach { case (b, i) => Streams.gateBatch(b, i.toLong, idx, out, 0.5) }
    def state() = (
      Streams.batchedTable(spark, out).select("doc_id").as[Long].collect().sorted.toSeq,
      Streams.batchedTable(spark, s"$idx/shingles").select("doc_id").as[Long].collect().sorted.toSeq,
      Streams.batchedTable(spark, s"$idx/postings").count())
    val before = state()
    assert(before._1 == Seq(1L, 10L, 30L, 40L, 50L), s"survivors were ${before._1}")
    def dirNames(d: String) = Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirNames(out).count(_.startsWith("b")) == 4)
    // frontier = 3: batch 3's checkpoint commit may not have landed, so it
    // stays untouched; batches 0-2 fold into one segment
    Streams.compactGate(spark, idx, out, belowBatchId = 3L)
    assert(state() == before, "compaction changed the gate's visible state")
    assert(dirNames(out) == Seq("b3", "c2"),
      s"expected one segment + the frontier tail, got ${dirNames(out)}")
    assert(Streams.compactedWatermark(out) == 2L)
    // replay of a SUBSUMED batch id (crash-recovery rerun straddling the
    // compaction) must be a no-op — its rows already live in the segment
    Streams.gateBatch(batches(1), 1L, idx, out, 0.5)
    assert(state() == before, "replay of a compacted batch changed state")
    assert(dirNames(out) == Seq("b3", "c2"), "replay re-created a subsumed batch dir")
    // the stream continues: a near-dup of a COMPACTED doc still drops (the
    // probe reads the segment), novel docs still pass
    Streams.gateBatch(Seq((60L, base + " tiny tail change"),
      (70L, "entirely novel fifth batch content regarding broadcast joins at scale " * 5))
      .toDF("doc_id", "text"), 4L, idx, out, 0.5)
    val after = state()
    assert(after._1 == Seq(1L, 10L, 30L, 40L, 50L, 70L), s"survivors were ${after._1}")
    // a second compaction folds the previous segment + the tail into c4
    Streams.compactGate(spark, idx, out, belowBatchId = 5L)
    assert(state() == after, "re-compaction changed the gate's visible state")
    assert(dirNames(out) == Seq("c4"), s"got ${dirNames(out)}")
    assert(Streams.batchedTable(spark, out).inputFiles.length == 1,
      "consolidation must also fix the small-files problem")
  }

  test("compactGateAuto derives the frontier from the dirs; a partial tail holds it back") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-ndca-idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ndca-out").resolve("survivors").toString
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val batches = Seq(
      Seq((1L, base)),
      Seq((10L, "completely different content about spark engines and parquet " * 5)),
      Seq((20L, "yet another unrelated corpus of words entirely fresh and new " * 5)),
      Seq((30L, "fourth batch fresh material concerning adaptive query plans " * 5)))
      .map(_.toDF("doc_id", "text"))
    batches.take(3).zipWithIndex.foreach { case (b, i) =>
      Streams.gateBatch(b, i.toLong, idx, out, 0.5) }
    def survivors() = Streams.batchedTable(spark, out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val clean = survivors()
    assert(Streams.gateCommittedFrontier(idx, out) == 3L)
    // batch 3 crashes between its three writes: survivors+shingles land,
    // postings does not — the frontier must hold at 3 (min across dirs)
    Streams.gateBatch(batches(3), 3L, idx, out, 0.5)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$idx/postings/b3"))
    assert(Streams.gateCommittedFrontier(idx, out) == 3L,
      "a partially-committed tail batch must not advance the frontier")
    Streams.compactGateAuto(spark, idx, out)
    assert(Streams.compactedWatermark(out) == 2L,
      "auto-compaction folded a batch whose index writes never committed")
    // the replay (Spark re-runs batch 3 after the crash) must still work
    // post-compaction and rebuild all three b3 dirs
    Streams.gateBatch(batches(3), 3L, idx, out, 0.5)
    assert(survivors() == (clean :+ 30L).sorted)
    // now fully committed: auto folds everything, zero tail, one segment
    Streams.compactGateAuto(spark, idx, out)
    assert(Streams.compactedWatermark(out) == 3L)
    assert(Streams.compactedWatermark(s"$idx/postings") == 3L)
    assert(survivors() == (clean :+ 30L).sorted,
      "auto-compaction changed the gate's visible state")
  }

  test("compactBatches on an index-maintenance stream preserves the folded assignment") {
    import spark.implicits._
    val assignDir = java.nio.file.Files.createTempDirectory("graft-imc").resolve("assign").toString
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11).toFloat + 1f)))
    val cells = graft.operators.Clustering.materializedCells(
      vecs.toDF("id", "embedding"), "id", "embedding")
    vecs.grouped(20).zipWithIndex.foreach { case (chunk, i) =>
      Streams.foldAssignBatch(chunk.toDF("id", "embedding"), cells, assignDir, i.toLong)
    }
    val before = Streams.batchedTable(spark, assignDir)
      .select("vec_id", "cell_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(before.size == 60)
    Streams.compactBatches(spark, assignDir, belowBatchId = 3L)
    val after = Streams.batchedTable(spark, assignDir)
      .select("vec_id", "cell_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(after == before, "compaction changed the standing assignment")
    assert(Streams.compactedWatermark(assignDir) == 2L)
  }

  test("running per-user stats accumulate state across micro-batches (mapGroupsWithState)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.runningUserStats(input.toDS())
      .writeStream.format("memory").queryName("user_stats")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:01:00", 1, "view", 2.0),
        ev(3, "2024-01-01 10:00:30", 2, "click", 5.0))
      q.processAllAvailable()
      input.addData(ev(4, "2024-01-01 10:05:00", 1, "click", 4.0))
      q.processAllAvailable()
      // update mode: latest state row per user wins
      val latest = spark.table("user_stats").collect()
        .map(r => (r.getAs[Long]("user_id"),
          (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"),
            r.getAs[Timestamp]("last_seen").toString)))
        .groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).maxBy(_._1) }
      assert(latest(1L) == ((3L, 7.0, "2024-01-01 10:05:00.0")))
      assert(latest(2L) == ((1L, 5.0, "2024-01-01 10:00:30.0")))
    } finally q.stop()
  }

  test("sessionization closes a session after the gap and evicts state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.sessionize(input.toDS(), gapSeconds = 1800, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // session 1: two events 5 minutes apart
      input.addData(
        ev(1, "2024-01-01 10:00:00", 7, "click", 1.0),
        ev(2, "2024-01-01 10:05:00", 7, "view", 2.0))
      q.processAllAvailable()
      // far-future event advances the watermark past 10:05 + 30min,
      // timing out user 7's session; it also opens a new session for user 8
      input.addData(ev(3, "2024-01-01 12:00:00", 8, "click", 1.0))
      q.processAllAvailable()
      // one more batch so the timeout fires after the watermark update
      input.addData(ev(4, "2024-01-01 12:00:10", 8, "click", 1.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start").toString,
          r.getAs[Timestamp]("session_end").toString, r.getAs[Long]("n_events"),
          r.getAs[Double]("total_value")))
      assert(sessions.toSeq.contains(
        (7L, "2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0", 2L, 3.0)))
    } finally q.stop()
  }

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

  test("within-batch gap splits produce multiple sessions immediately") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.sessionize(input.toDS(), gapSeconds = 60, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions2")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 5, "click", 1.0),
        ev(2, "2024-01-01 10:00:30", 5, "click", 1.0),
        ev(3, "2024-01-01 10:10:00", 5, "click", 1.0)) // > 60s gap: new session
      q.processAllAvailable()
      val closed = spark.table("sessions2").collect()
        .map(r => (r.getAs[Timestamp]("session_start").toString, r.getAs[Long]("n_events")))
      // the first session closed within the batch; the second stays open in state
      assert(closed.toSeq == Seq(("2024-01-01 10:00:00.0", 2L)))
    } finally q.stop()
  }

  test("stream-stream interval join pairs same-user events inside the bound only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = Streams.intervalJoin(views.toDF(), clicks.toDF(), withinSeconds = 600)
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData(
        ev(10, "2024-01-01 10:00:00", 1, "view", 0.0),
        ev(11, "2024-01-01 10:00:00", 2, "view", 0.0))
      clicks.addData(
        ev(20, "2024-01-01 10:05:00", 1, "click", 1.0),  // in bound, user 1
        ev(21, "2024-01-01 10:20:00", 1, "click", 1.0),  // out of bound (20 min)
        ev(22, "2024-01-01 10:01:00", 3, "click", 1.0))  // no matching user
      q.processAllAvailable()
      // a click arriving in a LATER micro-batch still joins (buffered state)
      clicks.addData(ev(23, "2024-01-01 10:09:00", 2, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("left_id"),
          r.getAs[Long]("right_id"), r.getAs[Long]("lag_seconds"))).toSet
      assert(rows == Set((1L, 10L, 20L, 300L), (2L, 11L, 23L, 540L)))
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched lefts only after the watermark closes their interval") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = Streams.intervalJoinOuter(views.toDF(), clicks.toDF(),
        withinSeconds = 600, watermark = "5 minutes")
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData(
        ev(10, "2024-01-01 10:00:00", 1, "view", 0.0),   // will convert
        ev(11, "2024-01-01 10:00:00", 2, "view", 0.0))   // never converts
      clicks.addData(ev(20, "2024-01-01 10:05:00", 1, "click", 1.0))
      q.processAllAvailable()
      def rows() = spark.table("attrib_outer").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("left_id"),
          Option(r.getAs[java.lang.Long]("right_id")).map(_.toLong))).toSet
      // user 2's non-conversion is NOT yet knowable: a click could still
      // arrive inside [10:00, 10:10] — only the match is out
      assert(rows() == Set((1L, 10L, Some(20L))))
      // advance BOTH watermarks past 10:10 + 5 min slack: user 2's
      // interval is closed, the null row must surface
      views.addData(ev(12, "2024-01-01 10:30:00", 9, "view", 0.0))
      clicks.addData(ev(21, "2024-01-01 10:30:00", 9, "click", 1.0))
      q.processAllAvailable()
      // one more micro-batch so the state store evicts + emits
      views.addData(ev(13, "2024-01-01 10:40:00", 9, "view", 0.0))
      clicks.addData(ev(22, "2024-01-01 10:40:00", 9, "click", 1.0))
      q.processAllAvailable()
      assert(rows().contains((2L, 11L, None)),
        s"unmatched left not emitted after watermark: ${rows()}")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog then terminates on its own") {
    // the nightly-catch-up mode: process everything that exists, checkpoint,
    // exit — the scheduled-batch complement of a continuously-running query
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(2, "2024-01-01 10:00:01", 2, "view", 2.0),
      ev(3, "2024-01-01 10:00:02", 1, "click", 3.0))
    val q = input.toDF().groupBy("event_type").count()
      .writeStream.format("memory").queryName("drain_out")
      .outputMode(OutputMode.Complete)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "AvailableNow query did not self-terminate")
    val got = spark.table("drain_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("click" -> 2L, "view" -> 1L), got.toString)
    // data arriving AFTER termination is not consumed by this run — it
    // belongs to the next scheduled invocation
    input.addData(ev(4, "2024-01-01 11:00:00", 3, "click", 1.0))
    Thread.sleep(200)
    assert(spark.table("drain_out").collect().length == 2)
  }

  test("stream-static enrichment joins each micro-batch against the dim; unmatched pass through") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[Event]
    val q = Streams.enrichWithDim(input.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:00:01", 2, "view", 2.0),
        ev(3, "2024-01-01 10:00:02", 7, "view", 3.0)) // no dim row
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getAs[Long]("event_id"), Option(r.getAs[String]("tier")))).toSet
      assert(rows == Set((1L, Some("gold")), (2L, Some("silver")), (3L, None)))
    } finally q.stop()
  }

  test("upsert sink merges each micro-batch into the target (latest wins)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsert_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("upsert_ckpt").toString
    val input = MemoryStream[Event]
    val q = Streams.upsertSink(input.toDF(), dir, keyCol = "user_id", orderCol = "ts")
      .option("checkpointLocation", ckpt).start()
    try {
      // batch 0: two users; user 1 appears twice → latest (10:05) wins
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:05:00", 1, "view", 2.0),
        ev(3, "2024-01-01 10:01:00", 2, "click", 3.0))
      q.processAllAvailable()
      val after0 = spark.read.parquet(s"$dir/current").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).toSet
      assert(after0 == Set((1L, 2L), (2L, 3L)))
      // batch 1: update user 2, insert user 5; user 1 untouched
      input.addData(
        ev(4, "2024-01-01 11:00:00", 2, "view", 4.0),
        ev(5, "2024-01-01 11:00:00", 5, "click", 5.0))
      q.processAllAvailable()
      val after1 = spark.read.parquet(s"$dir/current").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).toSet
      assert(after1 == Set((1L, 2L), (2L, 4L), (5L, 5L)))
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
    // one crashed append is ADOPTED (its commit finally lands); the other is
    // vacuumed away (committed files survive vacuum, debris does not)
    lake.adoptAppendDir("channels_raw", "_a9_late")
    lake.vacuumBronze("channels_raw", retainMillis = 0L)
    assert(!Files.exists(base.resolve("_a8_gone")), "vacuum left uncommitted debris")
    assert(Files.exists(base.resolve("_a9_late")), "vacuum deleted committed files")
    // the adoption commit is in the log, so the next tick folds it
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

  test("compactBatches folds only the contiguous prefix around a hole, and folds from the lowest id of an above-zero dir") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hole").resolve("state").toString
    def put(n: Long): Unit =
      Seq((n, s"row$n")).toDF("id", "v").write.parquet(s"$dir/b$n")
    Seq(0L, 1L, 3L, 4L).foreach(put) // b2 missing: a crashed replay in flight
    Streams.compactBatches(spark, dir, belowBatchId = 5L)
    assert(Streams.compactedWatermark(dir) == 1L,
      "the watermark must stop at the hole — advancing would subsume b2's replay")
    def names() = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(names() == Seq("b3", "b4", "c1"), s"got ${names()}")
    assert(Streams.batchedTable(spark, dir).select("id").as[Long].collect().sorted.toSeq
      == Seq(0L, 1L, 3L, 4L), "rows above the hole must stay visible exactly once")
    // the replay lands; the next pass folds everything
    put(2L)
    Streams.compactBatches(spark, dir, belowBatchId = 5L)
    assert(Streams.compactedWatermark(dir) == 4L)
    assert(names() == Seq("c4"), s"got ${names()}")
    assert(Streams.batchedTable(spark, dir).select("id").as[Long].collect().sorted.toSeq
      == (0L to 4L).toSeq)
    // a recreated state dir whose ids START above zero (retained checkpoint,
    // recreated dir) compacts from its lowest id instead of failing forever
    val dir2 = java.nio.file.Files.createTempDirectory("graft-hole2").resolve("state").toString
    Seq(7L, 8L).foreach(n => Seq((n, s"row$n")).toDF("id", "v").write.parquet(s"$dir2/b$n"))
    Streams.compactBatches(spark, dir2, belowBatchId = 9L)
    assert(Streams.compactedWatermark(dir2) == 8L,
      "an above-zero start must fold from the lowest id present")
    assert(Streams.batchedTable(spark, dir2).select("id").as[Long].collect().sorted.toSeq
      == Seq(7L, 8L))
  }

  test("index-maintenance stream: per-batch folds equal a one-shot assignment") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Clustering
    import org.apache.spark.sql.functions.col
    val e = graft.Graft.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val rows = e.as[(Long, Array[Float])].collect().sortBy(_._1).take(60)
    val cells = Clustering.materializedCells(
      spark.createDataset(rows.take(40).toSeq).toDF("id", "embedding"), "id", "embedding")
    val assignDir = java.nio.file.Files.createTempDirectory("graft-idxm").toString
    val input = MemoryStream[(Long, Array[Float])]
    val q = Streams.indexMaintenanceStream(
        input.toDF().toDF("id", "embedding"), cells, assignDir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-idxm-ckpt").toString)
      .start()
    try {
      input.addData(rows.take(30).toSeq: _*)
      q.processAllAvailable()
      input.addData(rows.drop(30).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Streams.batchedTable(spark, assignDir)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    val oneShot = Clustering.assignCells(
        spark.createDataset(rows.toSeq).toDF("id", "embedding"), "id", "embedding", cells)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(streamed == oneShot,
      "streamed per-batch index folds diverged from one-shot assignment")
  }

  test("batchedTable on a dir with no committed batch fails fast with a named error") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nobatch").toString
    val e = intercept[IllegalArgumentException](Streams.batchedTable(spark, dir))
    assert(e.getMessage.contains("no complete"))
  }

  test("corpus-report stream: the maintained index derives the exact batch report") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, String, String)]
    val docs = input.toDF.toDF("doc_id", "text", "lang", "source")
    val idx = java.nio.file.Files.createTempDirectory("graft-crs-idx").toString
    val q = Streams.corpusReportStream(docs, idx)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-crs-ckpt").toString)
      .start()
    try {
      input.addData(
        (1L, "alpha beta gamma", "en", "srcA"),
        (2L, "alpha  beta   gamma", "de", "srcA"))   // dup fingerprint of 1
      q.processAllAvailable()
      input.addData(
        (3L, "delta epsilon", "en", "srcA"),
        (4L, "zeta", "en", "srcB"))
      q.processAllAvailable()
      val v = Streams.latestReportIndexVersion(idx)
      assert(v.nonEmpty, "no complete index version on disk")
      // retention window: the committed version plus its predecessor stay
      // (in-flight readers of the just-replaced one finish their scan)
      assert(new java.io.File(idx).listFiles().count(_.getName.startsWith("v"))
        == Streams.reportIndexRetainVersions)
      val streamed = graft.operators.Reports.corpusReportFromIndex(
        spark.read.parquet(s"$idx/v${v.get}"))
      val direct = graft.operators.Reports.corpusReportFromIndex(
        graft.operators.Reports.corpusReportIndex(
          Seq((1L, "alpha beta gamma", "en", "srcA"),
              (2L, "alpha  beta   gamma", "de", "srcA"),
              (3L, "delta epsilon", "en", "srcA"),
              (4L, "zeta", "en", "srcB"))
            .toDF("doc_id", "text", "lang", "source")))
      assert(streamed.collect().map(_.toString).toSeq
        == direct.collect().map(_.toString).toSeq)
    } finally q.stop()
  }

  test("corpus-report stream replay: rerunning a committed batchId is a no-op") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-crs-replay").toString
    val b0 = Seq((1L, "alpha beta gamma", "en", "srcA"),
                 (2L, "alpha  beta   gamma", "de", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
    val b1 = Seq((3L, "delta epsilon", "en", "srcA"),
                 (4L, "zeta", "en", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
    Streams.foldReportBatch(b0, 0L, idx)
    Streams.foldReportBatch(b1, 1L, idx)
    def latest() = graft.operators.Reports.corpusReportFromIndex(
        spark.read.parquet(s"$idx/v${Streams.latestReportIndexVersion(idx).get}"))
      .collect().map(_.toString).sorted.toSeq
    val clean = latest()
    // crash AFTER v1 landed complete but BEFORE the checkpoint commit:
    // Spark replays batch 1 — the fold must neither double-count the batch
    // nor overwrite the path it reads
    Streams.foldReportBatch(b1, 1L, idx)
    assert(Streams.latestReportIndexVersion(idx).contains(1L))
    assert(latest() == clean, "replay of a committed batch changed the index")
    // crash MID-WRITE of v1 (incomplete dir, no _SUCCESS): the replay must
    // merge from the latest complete version BELOW it, never its own debris
    new java.io.File(s"$idx/v1/_SUCCESS").delete()
    Streams.foldReportBatch(b1, 1L, idx)
    assert(latest() == clean, "replay over an incomplete version diverged")
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
