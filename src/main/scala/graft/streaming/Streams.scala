package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface — the incremental execution mode of the
  * engine. The reference pipeline is batch-only (`continuous: false`,
  * SURVEY §2.9); these operators are the streaming analogues of its core
  * idioms so the same capabilities run over unbounded input:
  *
  *   - [[windowedEventCounts]] — watermarked tumbling-window aggregation
  *     (the daily-fact grain, computed incrementally);
  *   - [[streamingDedup]]     — watermarked drop-duplicates (the latest-wins
  *     dedup's streaming counterpart: exactly-once per key);
  *   - [[sessionize]]         — gap-based sessionization via
  *     `flatMapGroupsWithState` with event-time timeout (custom state the
  *     built-in operators can't express).
  *
  * Scale posture: state stores are keyed by the shuffle partitioning of the
  * group key; watermarks bound state size (late data beyond the watermark is
  * dropped, sessions time out and are evicted). No operator here keeps
  * unbounded state.
  */
object Streams {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  final case class Session(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)

  /** Internal per-user session accumulator (public: the state encoder's
    * generated code must reach the constructor). */
  final case class SessionState(
      start: Long, end: Long, n: Long, total: Double)

  /** Read the events table shape as a file stream (one new parquet file per
    * micro-batch at scale; schema pinned — streaming reads never infer).
    * The schema is pinned from a one-time batch snapshot of the directory
    * (footer read at stream definition, not per micro-batch), then `ts` is
    * normalized exactly like the batch reader (`Graft.normalizeEventTs`) —
    * the fixture's on-disk encoding has varied between TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS)/NTZ across generations, and stream and batch must see
    * identical µs values under either. */
  def eventFileStream(spark: SparkSession, dir: String): DataFrame = {
    // empty or not-yet-created stream dirs have no footer to pin from —
    // fall back to the canonical events DDL so a stream can be DEFINED
    // before its first file lands (the normal file-stream deployment order)
    val pinned =
      try spark.read.parquet(dir).schema
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
      }
    graft.Graft.normalizeEventTs(spark.readStream.schema(pinned).parquet(dir))
  }

  /** Tumbling-window counts per event type with a watermark bounding state:
    * late events beyond `watermark` are dropped, closed windows are evicted. */
  def windowedEventCounts(
      events: DataFrame, windowLen: String = "5 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("event_count"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("event_count"), col("total_value"))

  /** Exactly-once per event_id within the watermark horizon — the streaming
    * analogue of the bronze idempotent re-run + latest-wins dedup. */
  def streamingDedup(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  /** Streaming dedup with GUARANTEED-BOUNDED state
    * (`dropDuplicatesWithinWatermark`): a key's state is evicted once the
    * watermark passes its event time, so state size is O(keys per
    * watermark window) — where [[streamingDedup]]'s plain `dropDuplicates`
    * retains every key ever seen (state grows with the STREAM, the thing
    * that OOMs a year-long 100 TB pipeline). The contract traded away is
    * exact-once across unbounded time: a duplicate arriving after its
    * original's state was evicted is emitted again — acceptable whenever
    * the at-least-once sink is idempotent (our MERGE upsert sink is), and
    * the standard production pairing. */
  def streamingDedupBounded(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  final case class UserStats(
      user_id: Long, n_events: Long, total_value: Double, last_seen: Timestamp)

  /** Running per-user totals via `mapGroupsWithState` (update mode): ONE
    * state row and ONE output row per key per micro-batch — the
    * running-aggregate shape (counters, rate limits, feature freshness)
    * where `flatMapGroupsWithState` fan-out isn't needed. State stays
    * bounded at one fixed-size record per active user. */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(userId, 0L, 0.0, new Timestamp(0L)))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserStats(userId, acc.n_events + 1,
              acc.total_value + e.value,
              if (e.ts.after(acc.last_seen)) e.ts else acc.last_seen)
          }
          state.update(next)
          next
      }
  }

  /** Gap-based sessionization: a session closes when `gapSeconds` pass with
    * no event for the user (event-time, driven by the watermark). Emits one
    * row per closed session; state is evicted on emit. */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800, watermark: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed session end + gap: close and emit
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.n, s.total))
          } else {
            val events = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            events.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(SessionState(s.start, math.max(s.end, t), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-stream interval join (attribution shape: each left event pairs
    * with same-user right events in `[left.ts, left.ts + withinSeconds]`).
    * Both sides are watermarked and the join condition is time-bounded in
    * BOTH directions, which is what lets Spark evict buffered rows — state
    * per side is bounded by `watermark + withinSeconds` of input, never the
    * whole stream. Output columns: user_id, left_id, right_id, left_ts,
    * right_ts, lag_seconds. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      withinSeconds: Long = 600, watermark: String = "20 minutes"): DataFrame = {
    require(withinSeconds > 0, s"withinSeconds must be positive, got $withinSeconds")
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("left_id"), col("ts").as("left_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user_id"), col("event_id").as("right_id"),
        col("ts").as("right_ts"))
    l.join(r,
        col("user_id") === col("r_user_id") &&
          col("right_ts") >= col("left_ts") &&
          col("right_ts") <= col("left_ts") + expr(s"INTERVAL $withinSeconds SECONDS"))
      .select(col("user_id"), col("left_id"), col("right_id"),
        col("left_ts"), col("right_ts"),
        (unix_timestamp(col("right_ts")) - unix_timestamp(col("left_ts")))
          .as("lag_seconds"))
  }

  /** LEFT OUTER stream-stream interval join — [[intervalJoin]] that also
    * emits every UNMATCHED left event (null right columns): the
    * "unconverted users" side of attribution, which the inner join
    * silently drops. The subtlety is WHEN a non-match is known: only once
    * the watermark has passed the end of the left row's match interval can
    * no future right row join it, so null rows surface with watermark
    * latency rather than immediately — the spec drives exactly that.
    * State stays bounded the same way as the inner join (time bounds in
    * both directions + both sides watermarked). */
  def intervalJoinOuter(left: DataFrame, right: DataFrame,
      withinSeconds: Long = 600, watermark: String = "20 minutes"): DataFrame = {
    require(withinSeconds > 0, s"withinSeconds must be positive, got $withinSeconds")
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("left_id"), col("ts").as("left_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user_id"), col("event_id").as("right_id"),
        col("ts").as("right_ts"))
    l.join(r,
        col("user_id") === col("r_user_id") &&
          col("right_ts") >= col("left_ts") &&
          col("right_ts") <= col("left_ts") + expr(s"INTERVAL $withinSeconds SECONDS"),
        "leftOuter")
      .select(col("user_id"), col("left_id"), col("right_id"),
        col("left_ts"), col("right_ts"),
        (unix_timestamp(col("right_ts")) - unix_timestamp(col("left_ts")))
          .as("lag_seconds"))
  }

  /** Stream-static enrichment: join the unbounded stream against a bounded
    * dimension frame — the streaming counterpart of the silver layer's
    * broadcast dim joins (J2). The static side is re-planned per
    * micro-batch (so a refreshed dim table is picked up batch to batch —
    * the slowly-changing-dim behavior a nightly-updated reference dim
    * wants) and broadcasts when small; the stream side never buffers state
    * for this join. Left join keeps unmatched events flowing with null
    * enrichment rather than silently dropping them. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(dim, Seq(key), "left")

  /** Streaming MERGE (upsert) sink: each micro-batch is latest-wins deduped
    * on `keyCol` then merged into the parquet table at `targetPath` via
    * [[graft.operators.Merge.upsertSmallSource]] — the foreachBatch +
    * MERGE pattern a transactional format gives natively, here with the
    * engine's own write-new-then-swap. A micro-batch is small relative to
    * the standing table by construction, so the small-source plan applies:
    * the target is scanned once (anti-join against the BROADCAST batch
    * keys), never shuffled — the 100 TB nightly-increment shape. Swap is
    * rename-based; a crash between write and swap leaves the old table
    * intact (re-running the batch is idempotent because upsert is).
    *
    * Returns the DataStreamWriter; caller starts it with a checkpoint dir. */
  def upsertSink(stream: DataFrame, targetPath: String, keyCol: String,
      orderCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.expressions.Window
    stream.writeStream.outputMode(OutputMode.Update).foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol).desc)
        val deduped = batch.toDF
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
        import java.nio.file.{Files, Paths, StandardCopyOption}
        val live = Paths.get(targetPath, "current")
        val merged =
          if (Files.exists(live))
            graft.operators.Merge.upsertSmallSource(
              spark.read.parquet(live.toString), deduped, keyCol)
          else deduped
        // write-then-swap, the Lakehouse.materialize discipline: the live
        // table is never half-written, and the plan is fully executed
        // (tmp write) BEFORE the live dir is touched, so the merge's own
        // read of `live` has completed by swap time
        val tmp = Paths.get(targetPath, s".merge_b$batchId")
        merged.write.mode("overwrite").parquet(tmp.toString)
        def rmRf(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          val s = Files.walk(p)
          try s.iterator().asScala.toSeq.reverseIterator.foreach(Files.delete)
          finally s.close()
        }
        rmRf(live)
        Files.createDirectories(live.getParent)
        Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
        ()
    }
  }

  /** Streaming NEAR-DUP GATE over an unbounded document stream — the
    * continuous-ingest face of the batch dedup stack: each micro-batch
    *
    *   1. resolves its own internal near-dups (greedy min-id keeper over
    *      [[graft.operators.Dedup.lshNearDupPairs]], the d04 semantics);
    *   2. probes the standing corpus's AT-REST LSH index
    *      ([[graft.operators.Dedup.bandPostings]] + shingle sets — the
    *      same two tables the incremental curation funnel maintains) and
    *      drops every document with a corpus near-dup: the join touches
    *      |batch| band probes, NEVER the corpus pair-space;
    *   3. appends survivors to the output AND to both index halves, so
    *      every later batch dedups against everything that ever passed.
    *
    * `foreachBatch` is the composition point: inside it the micro-batch
    * is a plain DataFrame, so the whole batch operator stack applies
    * unchanged while the streaming engine contributes ordering,
    * checkpointing and restart semantics. State lives in the three
    * parquet dirs (not the state store) — it must outlive the query and
    * serve batch consumers too, exactly like the curation funnel's
    * standing corpus.
    *
    * EXACTLY-ONCE EFFECTS: each batch writes its survivor/shingle/posting
    * rows into a per-batch `b{batchId}` subdirectory (write-to-hidden-tmp,
    * then atomic rename — never a visible half-written dir), and the
    * standing-index probe reads only COMPLETE subdirs with id < batchId.
    * A foreachBatch replay after a crash therefore (a) recomputes the
    * identical survivor set — debris this batch left behind is excluded
    * from its own probe — and (b) REWRITES the same three subdirs instead
    * of appending duplicates. See [[gateBatch]]; read the output/index
    * with [[batchedTable]] (recursive lookup over the `b*` subdirs).
    *
    * `docs` schema: (doc_id BIGINT, text STRING). Returns the query;
    * survivors land under `survivorsDir`. */
  def nearDupGate(docs: DataFrame, indexDir: String, survivorsDir: String,
      minJaccard: Double = 0.5): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode(OutputMode.Append).foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        gateBatch(batch.toDF, batchId, indexDir, survivorsDir, minJaccard)
    }

  /** One [[nearDupGate]] micro-batch. Deterministic in (batch rows,
    * complete index subdirs with id < batchId), so re-invoking it with the
    * same batchId — Spark's replay after any crash — converges to the same
    * on-disk state regardless of which of the three writes the crashed
    * attempt completed. */
  def gateBatch(batch: DataFrame, batchId: Long, indexDir: String,
      survivorsDir: String, minJaccard: Double): Unit = {
    import graft.operators.Dedup
    // a replay of a batch a compaction already subsumed must be a no-op:
    // its rows live in the consolidated segment, and rewriting its b dir
    // would re-surface a second copy the reader can't distinguish
    if (batchId <= compactedWatermark(survivorsDir)) return
    val spark = batch.sparkSession
    val b = batch.select(col("doc_id"), col("text")).cache()
    try {
      // 1. within-batch greedy min-id dedup
      val internalDrops = Dedup.lshNearDupPairs(b, "doc_id", "text", minJaccard)
        .select(greatest(col("id_a"), col("id_b")).as("doc_id")).distinct()
      val selfKept = b.join(internalDrops, Seq("doc_id"), "left_anti")
      // 2. probe the standing at-rest index: complete batches BEFORE this
      //    one only (empty on the first batch; a replay never sees its own
      //    crashed attempt's output)
      val postings = completeBatchDirs(s"$indexDir/postings", batchId)
      val shingles = completeBatchDirs(s"$indexDir/shingles", batchId)
      val kept =
        if (postings.nonEmpty && shingles.nonEmpty) {
          val corpusDrops = Dedup.lshNearDupPairsAgainstIndex(
              selfKept, "doc_id", "text",
              spark.read.parquet(postings: _*),
              spark.read.parquet(shingles: _*), minJaccard)
            .select(col("id_a").as("doc_id")).distinct()
          selfKept.join(corpusDrops, Seq("doc_id"), "left_anti")
        } else selfKept
      // 3. survivors extend the output and BOTH index halves — versioned
      //    by batchId, so a replay rewrites rather than duplicates
      val keptC = kept.cache()
      try {
        writeBatchDir(keptC, survivorsDir, batchId)
        val base = Dedup.shingleSets(keptC, "doc_id", "text").cache()
        try {
          writeBatchDir(base, s"$indexDir/shingles", batchId)
          writeBatchDir(Dedup.bandPostings(base), s"$indexDir/postings", batchId)
        } finally base.unpersist()
      } finally keptC.unpersist()
    } finally b.unpersist()
  }

  /** Write one batch's rows as `dir/b{batchId}`: fully written to a hidden
    * tmp dir first (Spark file listings skip `.`/`_` prefixes), then
    * atomically renamed into place — a visible `b{N}` dir is always
    * complete, and a rewrite of the same batchId replaces it whole. */
  private def writeBatchDir(df: DataFrame, dir: String, batchId: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Paths.get(dir)
    Files.createDirectories(base)
    val tmp = base.resolve(s".tmp_b$batchId")
    deleteRecursively(tmp)
    df.write.mode("overwrite").parquet(tmp.toString)
    val live = base.resolve(s"b$batchId")
    deleteRecursively(live)
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Delete a file tree, closing the walk stream (a bare `Files.walk(...)
    * .forEach` leaks one directory fd per call until GC). No-op when
    * `p` does not exist. */
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }

  /** The standing-state read set for a batch: everything COMMITTED before
    * `belowBatchId`, nothing from its own replays — the consolidated
    * `c{W}` segment (when a compaction has run; it subsumes every batch id
    * ≤ W) plus the complete (`_SUCCESS`-marked) `b{N}` subdirs with
    * W < N < belowBatchId. */
  private def completeBatchDirs(dir: String, belowBatchId: Long): Seq[String] = {
    val d = new java.io.File(dir)
    val w = compactedWatermark(dir)
    val consolidated = {
      val c = new java.io.File(d, s"c$w")
      // the committed segment is load-bearing state: silently omitting it
      // when destroyed (e.g. by an out-of-band delete) would make every
      // subsumed row vanish from readers with no error — fail fast instead
      if (w >= 0 && !(c.isDirectory && new java.io.File(c, "_SUCCESS").exists()))
        throw new IllegalStateException(
          s"$dir: compacted watermark is $w but consolidated segment c$w is " +
            "absent or incomplete — the committed segment was destroyed " +
            "(concurrent compaction? out-of-band delete?); subsumed rows are " +
            "unrecoverable from the b{N} tail")
      if (w >= 0 && w >= belowBatchId)
        throw new IllegalStateException(
          s"$dir: read frontier $belowBatchId is at-or-below the compacted " +
            s"watermark $w — batches below the frontier were folded into c$w " +
            "and cannot be read in isolation")
      if (w >= 0) Seq(c.getAbsolutePath) else Seq.empty
    }
    consolidated ++ Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("b")
        && new java.io.File(f, "_SUCCESS").exists()
        && f.getName.drop(1).toLongOption.exists(n => n > w && n < belowBatchId))
      .sortBy(_.getName.drop(1).toLong)
      .map(_.getAbsolutePath)
  }

  /** Highest batch id subsumed by a [[compactBatches]] consolidation of
    * `dir` (−1 = never compacted): batch ids at-or-below this are SUBSUMED —
    * their rows live in the `c{W}` segment, their `b{N}` dirs are ignored
    * by readers, and a foreachBatch replay of one must be a no-op. */
  def compactedWatermark(dir: String): Long = {
    val m = java.nio.file.Paths.get(dir, "_compacted")
    if (!java.nio.file.Files.exists(m)) -1L
    else new String(java.nio.file.Files.readAllBytes(m),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
  }

  /** OPTIMIZE for the batch-versioned layout — the reference runs OPTIMIZE
    * every job (`job_tasks/ops/optimize_tables.py:116-132`) for exactly
    * this streaming-sink small-files problem: without it a long-lived
    * stream accumulates one `b{N}` dir per micro-batch FOREVER, so
    * per-batch listing cost and the reader's path count are O(stream
    * lifetime) and files stay micro-batch-sized. This folds every
    * complete batch dir strictly below `belowBatchId` (the stream's
    * committed frontier — batches at-or-above it may still be replayed
    * and must stay untouched), together with any previous consolidation,
    * into ONE `c{W}` segment of `numFiles` parquet files; after it, a
    * reader opens O(1) + O(batches since compaction) paths.
    *
    * Crash-safe commit discipline (the [[writeBatchDir]] family):
    * the consolidated segment is fully written to a hidden tmp, renamed to
    * `c{W}` (invisible to readers — the standing `_compacted` watermark
    * still points below it), and the atomic replace of `_compacted` is THE
    * commit point: before it readers see the old segment + all b dirs,
    * after it the new segment + the tail — never both copies of a batch.
    * Subsumed `b{N}` dirs and the previous segment are GC'd last; a crash
    * mid-GC leaves ignored debris the next compaction removes. Replays of
    * subsumed batch ids are no-ops ([[gateBatch]] and
    * [[indexMaintenanceStream]] check the watermark), so exactly-once
    * survives compaction. */
  def compactBatches(spark: SparkSession, dir: String, belowBatchId: Long,
      numFiles: Int = 1): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
    val base = Paths.get(dir)
    if (!Files.isDirectory(base)) return
    // one compaction per dir at a time: a concurrent run's debris sweep
    // would delete the other's just-committed c{X} segment (it only spares
    // its OWN stale w0), destroying every subsumed row. The OS releases
    // the lock on process death, so a crashed compaction never wedges the
    // dir; a same-JVM overlap surfaces as OverlappingFileLockException.
    val lockCh = java.nio.channels.FileChannel.open(base.resolve("._compact.lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val lock =
      try lockCh.tryLock()
      catch { case _: java.nio.channels.OverlappingFileLockException => null }
    if (lock == null) {
      lockCh.close()
      throw new IllegalStateException(
        s"another compaction holds $dir — one compactBatches per dir at a time")
    }
    try {
      val w0 = compactedWatermark(dir)
      // sweep debris a crash-mid-GC left behind: subsumed b dirs at-or-below
      // the watermark and abandoned segments that are not the committed one
      Option(base.toFile.listFiles()).getOrElse(Array.empty).toSeq
        .filter { f =>
          f.isDirectory && (
            (f.getName.startsWith("b") && f.getName.drop(1).toLongOption.exists(_ <= w0)) ||
            (f.getName.startsWith("c") && f.getName.drop(1).toLongOption.exists(_ != w0)))
        }
        .foreach(f => deleteRecursively(f.toPath))
      val bs = Option(base.toFile.listFiles()).getOrElse(Array.empty).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("b")
          && new java.io.File(f, "_SUCCESS").exists())
        .flatMap(f => f.getName.drop(1).toLongOption)
        .filter(n => n > w0 && n < belowBatchId)
      if (bs.isEmpty) return // nothing new below the frontier
      // the watermark advance declares every batch id ≤ newW SUBSUMED (its
      // replay becomes a no-op), so every id in (start, newW] must actually
      // be in the fold set — a hole is usually a batch still mid-replay
      // (crashed attempt whose b{N} will appear on restart), and advancing
      // past it would silently lose its rows forever. Instead of failing
      // the compaction permanently (which lets the b{N} count grow without
      // bound), fold only the CONTIGUOUS prefix and leave the hole and
      // everything above it for a later pass. The fold START is w0+1 when
      // a watermark exists; a never-compacted dir folds from its LOWEST id
      // — ids may legitimately begin above 0 (a stream restarted against a
      // retained checkpoint but a recreated state dir: the retained
      // checkpoint guarantees the missing low ids are never replayed).
      val ids = bs.toSet
      val start = if (w0 >= 0) w0 + 1 else bs.min
      if (!ids.contains(start)) {
        System.err.println(s"[compactBatches] $dir: b$start absent " +
          s"(watermark $w0, complete ids ${bs.sorted.mkString(",")}) — " +
          "nothing contiguous to fold yet; skipping this pass")
        return
      }
      var newW = start
      while (ids.contains(newW + 1)) newW += 1
      if (newW < bs.max)
        System.err.println(s"[compactBatches] $dir: hole at b${newW + 1} — " +
          s"folding only b$start..b$newW this pass " +
          s"(ids above the hole: ${bs.filter(_ > newW + 1).sorted.mkString(",")})")
      // read set shrinks with newW: folding rows of an above-the-hole batch
      // while its b{N} dir survives would double them for readers
      val readSet = completeBatchDirs(dir, newW + 1)
      if (readSet.size <= 1) return // already one segment
      val tmp = base.resolve(s".ctmp_$newW")
      deleteRecursively(tmp)
      spark.read.parquet(readSet: _*).repartition(numFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      val seg = base.resolve(s"c$newW")
      // debris of a crashed earlier attempt at this W
      deleteRecursively(seg)
      Files.move(tmp, seg, StandardCopyOption.ATOMIC_MOVE)
      // COMMIT: atomically advance the watermark — readers switch from
      // (c{w0} + b{≤newW} + tail) to (c{newW} + tail) in one step
      atomicWriteString(base.resolve("_compacted"), newW.toString)
      // GC the subsumed inputs (ignored by readers since the commit) —
      // ONLY ids at-or-below the committed watermark: ids above a hole
      // were not folded and remain the readers' live tail
      (bs.filter(_ <= newW).map(n => base.resolve(s"b$n")) ++
          (if (w0 >= 0) Seq(base.resolve(s"c$w0")) else Seq.empty))
        .foreach(deleteRecursively)
    } finally { lock.release(); lockCh.close() }
  }

  /** [[compactBatches]] over all three dirs of a [[nearDupGate]] stream
    * (survivors + both index halves) — one maintenance call per gate. */
  def compactGate(spark: SparkSession, indexDir: String, survivorsDir: String,
      belowBatchId: Long, numFiles: Int = 1): Unit = {
    compactBatches(spark, survivorsDir, belowBatchId, numFiles)
    compactBatches(spark, s"$indexDir/shingles", belowBatchId, numFiles)
    compactBatches(spark, s"$indexDir/postings", belowBatchId, numFiles)
  }

  /** Highest batch id COMMITTED in a batch-versioned dir — a complete
    * (`_SUCCESS`-marked) `b{N}` on disk, or already subsumed by a
    * compaction; −1 when neither. This is the signal a maintenance pass
    * derives the fold frontier from without any channel to the stream. */
  def committedBatchId(dir: String): Long = {
    val d = new java.io.File(dir)
    val maxB = Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("b")
        && new java.io.File(f, "_SUCCESS").exists())
      .flatMap(_.getName.drop(1).toLongOption)
      .maxOption.getOrElse(-1L)
    math.max(compactedWatermark(dir), maxB)
  }

  /** A [[nearDupGate]]'s committed frontier: the first batch id NOT yet
    * fully committed across all three state dirs. [[gateBatch]] writes
    * survivors → shingles → postings in order, so a crashed batch can
    * leave a partial tail (survivors landed, index halves missing);
    * folding past it would watermark the survivors copy as subsumed while
    * the replay that must rebuild the index halves no-ops — the index
    * would be missing that batch forever. Taking the MINIMUM committed id
    * across the three dirs keeps any partial tail replayable. A batch
    * fully committed in all three is safe to fold even if the engine
    * replays it (offset commit lost in a crash): the replay no-ops on the
    * watermark, and its rows already live in every `c` segment. */
  def gateCommittedFrontier(indexDir: String, survivorsDir: String): Long =
    Seq(survivorsDir, s"$indexDir/shingles", s"$indexDir/postings")
      .map(committedBatchId).min + 1

  /** [[compactGate]] at the frontier derived from the dirs themselves
    * ([[gateCommittedFrontier]]) — the form a job-level maintenance pass
    * calls ([[graft.pipeline.Maintenance]]); the reference runs OPTIMIZE
    * at the end of every job (`job_tasks/ops/optimize_tables.py:116-132`).
    * Run it quiesced or between micro-batches: a probe whose dir listing
    * raced the GC of just-subsumed `b{N}` dirs fails that micro-batch
    * (the engine's retry replays it against the new segment). */
  def compactGateAuto(spark: SparkSession, indexDir: String,
      survivorsDir: String, numFiles: Int = 1): Unit =
    compactGate(spark, indexDir, survivorsDir,
      gateCommittedFrontier(indexDir, survivorsDir), numFiles)

  // ---- streaming-state registry (maintenance auto-discovery) ---------------
  //
  // A deployment that forgets to pass its gate/state dirs to
  // Maintenance.run silently regrows unbounded b{N} dirs — the exact
  // failure compactGateAuto exists to prevent. The lake-aware stream
  // constructors below drop ONE marker file per state owner under
  // `<lakeRoot>/_stream_state/` at stream DEFINITION time, and
  // Maintenance.run folds every registered owner by default (the explicit
  // `gates`/`batchDirs` params remain as overrides/additions). Markers are
  // tiny tab-separated lines (kind + URL-encoded dirs), named by the md5
  // of their content so re-registration is idempotent; a marker whose
  // dirs have ALL vanished is dropped by the next discovery pass.

  private def registryDir(lakeRoot: String): java.nio.file.Path =
    java.nio.file.Paths.get(lakeRoot, "_stream_state")

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)

  private def writeRegistryMarker(lakeRoot: String, line: String): Unit = {
    val dir = registryDir(lakeRoot)
    java.nio.file.Files.createDirectories(dir)
    val name = java.security.MessageDigest.getInstance("MD5")
      .digest(line.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val p = dir.resolve(s"$name.state")
    if (!java.nio.file.Files.exists(p))
      java.nio.file.Files.write(p,
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Register a [[nearDupGate]]'s three state dirs for maintenance
    * discovery. Idempotent; called automatically by the lake-aware
    * [[nearDupGate]] overload. */
  def registerGate(lakeRoot: String, indexDir: String, survivorsDir: String): Unit =
    writeRegistryMarker(lakeRoot, s"gate\t${enc(indexDir)}\t${enc(survivorsDir)}")

  /** Register a standalone batch-versioned state dir (e.g. an
    * [[indexMaintenanceStream]] assignment dir) for maintenance
    * discovery. Idempotent. */
  def registerBatchDir(lakeRoot: String, dir: String): Unit =
    writeRegistryMarker(lakeRoot, s"dir\t${enc(dir)}")

  /** Register a change-feed CURSOR on a bronze table. A registered
    * cursor's frontier HOLDS VACUUM RETENTION on that table (every
    * version at-or-after the slowest frontier keeps its read set —
    * [[graft.pipeline.Lakehouse.vacuumBronze]]), so maintenance can never
    * strand a live consumer into a full re-sync. Called automatically by
    * [[changesSink]] and [[cdfAggregateSink]]; delete the cursor dir to
    * release the hold when a consumer is decommissioned. Idempotent. */
  def registerCursor(lakeRoot: String, table: String, cursorDir: String): Unit = {
    // the registration must HOLD retention from the moment the consumer
    // exists, not from its first cursor commit: create the (empty) cursor
    // dir NOW — an empty dir reads as frontier 0 (everything retained) and
    // keeps the marker alive through registeredState's vanished-dir sweep.
    // Without this, a maintenance pass during a consumer's FIRST (longest)
    // drain would both unregister it and vacuum the very versions it is
    // reading — the stranding the feature exists to prevent.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cursorDir))
    writeRegistryMarker(lakeRoot, s"cursor\t${enc(table)}\t${enc(cursorDir)}")
  }

  /** All registered (indexDir, survivorsDir) gates and standalone batch
    * dirs under a lake root. Markers whose dirs have ALL vanished are
    * dropped (state deleted out-of-band — nothing left to maintain). */
  def registeredState(lakeRoot: String): (Seq[(String, String)], Seq[String]) = {
    val dir = registryDir(lakeRoot)
    if (!java.nio.file.Files.isDirectory(dir)) return (Seq.empty, Seq.empty)
    val gates = Seq.newBuilder[(String, String)]
    val dirs = Seq.newBuilder[String]
    val s = java.nio.file.Files.list(dir)
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".state"))
      .sortBy(_.getFileName.toString)
      .foreach { p =>
        val parts = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8).trim.split('\t')
        def alive(d: String) = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d))
        parts.toSeq match {
          case Seq("gate", i, sv) if alive(dec(i)) || alive(dec(sv)) =>
            gates += ((dec(i), dec(sv)))
          case Seq("dir", d) if alive(dec(d)) => dirs += dec(d)
          case Seq("cursor", _, d) if alive(dec(d)) =>
            () // vacuum-retention hold — read by Lakehouse.vacuumBronze, kept here
          case _ => java.nio.file.Files.deleteIfExists(p) // vanished or malformed
        }
      }
    finally s.close()
    (gates.result(), dirs.result())
  }

  /** [[nearDupGate]] that also REGISTERS its state dirs under the lake
    * root, so the per-run maintenance pass folds them without any manual
    * `gates` wiring — the safe-by-default deployment shape. */
  def nearDupGate(lake: graft.pipeline.Lakehouse, docs: DataFrame,
      indexDir: String, survivorsDir: String, minJaccard: Double)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    registerGate(lake.root, indexDir, survivorsDir)
    nearDupGate(docs, indexDir, survivorsDir, minJaccard)
  }

  /** [[indexMaintenanceStream]] that also REGISTERS its assignment dir
    * under the lake root (see [[registerBatchDir]]). */
  def indexMaintenanceStream(lake: graft.pipeline.Lakehouse, embeddings: DataFrame,
      cells: DataFrame, assignDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    registerBatchDir(lake.root, assignDir)
    indexMaintenanceStream(embeddings, cells, assignDir)
  }

  /** Read a batch-versioned table ([[nearDupGate]] survivors or either
    * index half): recursive lookup over the complete `b*` subdirs. Fails
    * fast with a named error when no batch has committed yet — zero paths
    * would otherwise surface as Spark's opaque unable-to-infer-schema. */
  def batchedTable(spark: SparkSession, dir: String): DataFrame = {
    val dirs = completeBatchDirs(dir, Long.MaxValue)
    require(dirs.nonEmpty,
      s"no complete b{N} batch dir under $dir — no micro-batch has committed yet")
    spark.read.parquet(dirs: _*)
  }

  /** INCREMENTAL AGGREGATE MV WITH RETRACTIONS, maintained from the change
    * data feed: the target bronze table holds `keys ++ (cnt, sum_<c>…)`
    * for the source's visible rows, and one tick folds every change since
    * the cursor into it — `insert` rows add (+1, +value), `delete` rows
    * RETRACT (−1, −value). The latest-wins silver fold retracts by
    * re-deriving each retraction-hit grain instead (`Silver.latestWinsFeedTick`).
    *
    * Per-tick cost ∝ CHURN, never table size: the deltas are one groupBy
    * over the tick's changes, the current values for affected keys come
    * from the stats-bounded candidate scan inside
    * [[graft.pipeline.Lakehouse.mergeBronze]], and the commit touches
    * O(files covering affected keys). On a 100 TB source a tick costs the
    * tick's changes, not a re-aggregation.
    *
    * EXACTLY-ONCE end to end by composing two primitives of this log:
    * the merge commits under writer txn `("cdfagg:" + target, toVersion)`
    * — so a crash AFTER the merge but BEFORE the cursor advance replays
    * the same range, recomputes, and the replayed merge is a txn NO-OP
    * (the recomputed frame is discarded unread) — and the cursor advances
    * only after the merge returns. A key whose count reaches zero keeps a
    * `cnt = 0` tombstone row (merge cannot delete-without-replacing);
    * READS must filter `cnt > 0` — [[cdfAggregate]] is that read face.
    * Returns the `(from, to]` range folded, or None when caught up. */
  def cdfAggregateSink(lake: graft.pipeline.Lakehouse, source: String,
      target: String, keys: Seq[String], sumCols: Seq[String],
      cursorDir: String, maxVersions: Int = Int.MaxValue): Option[(Int, Int)] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
    require(keys.nonEmpty, "cdfAggregateSink needs at least one key column")
    registerCursor(lake.root, source, cursorDir)
    val cur = java.nio.file.Paths.get(cursorDir)
    val from = lake.changesCursor(cur)
    val to = lake.cappedChangesTo(source, from, maxVersions)
    if (to <= from) return None
    val changes0 = lake.tableChanges(source, from, to)
    // a range of pure OPTIMIZE/VACUUM commits (dataChange=false) carries
    // no rows: advance past it without merging — an unchanged source's
    // tick must cost a cursor read, not an empty-delta merge commit
    if (lake.exists("bronze", target) && changes0.isEmpty) {
      lake.commitChangesCursor(cur, to)
      return Some((from, to))
    }
    // a CAPPED range can end before an ADD COLUMNS landed a column the
    // key/sum list references: the feed's frames (self-consistent at the
    // RANGE's head) then lack it, and referencing it would throw on every
    // retry of the same capped range — a livelock. Fill every missing
    // head-schema column with a typed NULL: exactly what a from-scratch
    // read of those older files would see
    lazy val headSchema = lake.table("bronze", source).schema
    val changes = headSchema.fields
      .filterNot(f => changes0.columns.contains(f.name))
      .foldLeft(changes0)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
    val metaCols = Seq("_change_type", "_commit_version")
    val signed = changes
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .drop(metaCols: _*).withColumn("__s", lit(1L))
      .unionByName(changes
        .filter(col("_change_type").isin("delete", "update_preimage"))
        .drop(metaCols: _*).withColumn("__s", lit(-1L)))
    val aggs = (sum(col("__s")).as("cnt") +:
      sumCols.map(c => sum(col(c) * col("__s")).as(s"sum_$c")))
    val deltas = signed.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val merged =
      if (!lake.exists("bronze", target)) deltas
      else {
        val prev = lake.table("bronze", target)
        // additions widen DECIMAL precision — cast back to the delta
        // schema's types so the target schema is IDENTICAL every tick
        // (the log's schema evolution is ADD COLUMNS, never retype)
        // BOTH sides need the null-default: a tick whose rows for a key
        // all carry NULL in the summed column aggregates to a NULL delta,
        // and 500 + NULL = NULL would wipe the key's accumulated sum
        // (from-scratch SUM ignores NULLs — the fold must too)
        val sumExprs = sumCols.map { c =>
          (coalesce(prev.col(s"sum_$c"), lit(0))
            + coalesce(deltas.col(s"sum_$c"), lit(0)))
            .cast(deltas.schema(s"sum_$c").dataType).as(s"sum_$c")
        }
        // NULL-SAFE fold join: the capped-range missing-column fill above
        // can hand a KEY column typed NULLs, and a plain equality join
        // would miss the target's standing NULL-key row — the delta would
        // then overwrite instead of fold (and the merge below, null-safe
        // too, would otherwise strand a duplicate NULL-key row per tick)
        deltas.join(prev,
          keys.map(k => deltas(k) <=> prev(k)).reduce(_ && _), "left").select(
          keys.map(deltas.col) ++
            Seq((coalesce(prev.col("cnt"), lit(0L)) + deltas.col("cnt")).as("cnt")) ++
            sumExprs: _*)
      }
    // the txn appId carries the SOURCE too: two sources folding into one
    // target are independent writers — a shared appId would make the
    // second source's first merge look like a replay of the first's and
    // silently drop it while its cursor still advanced
    lake.mergeBronze(target, merged, keys,
      txn = Some((s"cdfagg:$source:$target", to.toLong)),
      nullSafeKeys = true)
    lake.commitChangesCursor(cur, to)
    Some((from, to))
  }

  /** The read face of a [[cdfAggregateSink]] target: visible aggregate
    * rows only (zero-count tombstones left by full retraction filtered
    * out; an OPTIMIZE rewrite purges them physically). */
  def cdfAggregate(lake: graft.pipeline.Lakehouse, target: String): DataFrame =
    lake.table("bronze", target)
      .filter(org.apache.spark.sql.functions.col("cnt") > 0)

  /** EXACTLY-ONCE materialization of a bronze table's change data feed: one
    * tick drains every version committed since the cursor
    * ([[graft.pipeline.Lakehouse.changesCursor]]) into per-version `b{V}`
    * batch dirs under `outDir`, then advances the cursor. Returns the
    * `(from, to]` range drained, or None when caught up.
    *
    * Exactly-once by construction, not by luck: each version's changes
    * land in a dir KEYED ON THAT VERSION, and
    * [[graft.pipeline.Lakehouse.tableChanges]] is a pure function of the
    * log — so a crash anywhere (mid-write, between writes, before the
    * cursor commit) makes the next tick re-derive byte-identical batches
    * into the same dirs (an atomic overwrite, [[writeBatchDir]]) and the
    * end state converges. The feed reads back as a table via
    * [[batchedTable]] and compacts via [[compactBatches]] like any other
    * batch-dir stream. The cursor must stay inside the table's vacuum
    * retention window — see the contract note at
    * [[graft.pipeline.Lakehouse.tableChangesSince]]. */
  def changesSink(lake: graft.pipeline.Lakehouse, name: String,
      cursorDir: String, outDir: String,
      maxVersions: Int = Int.MaxValue): Option[(Int, Int)] = {
    registerCursor(lake.root, name, cursorDir)
    val cur = java.nio.file.Paths.get(cursorDir)
    val from = lake.changesCursor(cur)
    // bounded catch-up: ONE shared cap ([[graft.pipeline.Lakehouse.cappedChangesTo]])
    val to = lake.cappedChangesTo(name, from, maxVersions)
    if (to <= from) None
    else {
      // per-version batches: O(versions since cursor) log resolves, each
      // O(that commit's changed files) — never a two-snapshot diff
      (from + 1 to to).foreach { v =>
        writeBatchDir(lake.tableChanges(name, v - 1, v), outDir, v.toLong)
      }
      lake.commitChangesCursor(cur, to)
      Some((from, to))
    }
  }

  /** CONTINUOUS dataset-card maintenance: each micro-batch folds its docs
    * into the standing [[graft.operators.Reports]] count index with a
    * versioned overwrite — `v{batchId}` is written complete before older
    * versions are pruned, so a reader always sees one whole index. Per-batch
    * cost scales with |standing index| + |batch|, never the corpus ever
    * ingested; the c27 report derives from the latest version at read time
    * via `Reports.corpusReportFromIndex`.
    *
    * Replay semantics (exactly-once effects): a foreachBatch replay whose
    * complete `v{batchId}` already landed is a NO-OP — merging again would
    * double-count the batch, and rewriting would overwrite the very path
    * the merge reads. When `v{batchId}` is absent or incomplete, the merge
    * base is the latest complete version STRICTLY BELOW batchId (never the
    * crashed attempt's own output). Pruning keeps the previous complete
    * version alongside the new one, so a concurrent reader that just
    * resolved it finishes its scan ([[reportIndexRetainVersions]]).
    *
    * `docs` schema: (doc_id, text, lang, source[, …]). */
  def corpusReportStream(docs: DataFrame, indexDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode(OutputMode.Append).foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldReportBatch(batch.toDF, batchId, indexDir)
    }

  /** How many complete report-index versions pruning retains (current +
    * predecessor — the [[graft.pipeline.Lakehouse]] retention window). */
  val reportIndexRetainVersions = 2

  /** One [[corpusReportStream]] micro-batch; idempotent under replays of
    * the same batchId (see the stream's doc for the contract). */
  def foldReportBatch(batch: DataFrame, batchId: Long, indexDir: String): Unit = {
    import graft.operators.Reports
    val spark = batch.sparkSession
    def complete(v: Long): Boolean = {
      val f = new java.io.File(s"$indexDir/v$v")
      f.isDirectory && new java.io.File(f, "_SUCCESS").exists()
    }
    if (!complete(batchId)) {
      val mergeBase = completeReportIndexVersions(indexDir).filter(_ < batchId).lastOption
      val merged = mergeBase match {
        case Some(v) => Reports.mergeCorpusReportIndex(
          spark.read.parquet(s"$indexDir/v$v"), batch)
        case None => Reports.corpusReportIndex(batch)
      }
      merged.write.mode("overwrite").parquet(s"$indexDir/v$batchId")
    }
    // prune AFTER the new version is complete, keeping the newest
    // `reportIndexRetainVersions` complete versions (in-flight readers of
    // the just-replaced one finish their scan); incomplete debris below the
    // retention window goes too. The filter mirrors the
    // isDirectory/_SUCCESS checks of [[latestReportIndexVersion]].
    val keep = completeReportIndexVersions(indexDir)
      .takeRight(reportIndexRetainVersions).toSet
    Option(new java.io.File(indexDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v") &&
        f.getName.drop(1).toLongOption.exists(v => !keep.contains(v) && v < batchId))
      .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
    ()
  }

  /** Complete (`_SUCCESS`-marked) report-index versions, ascending. */
  def completeReportIndexVersions(indexDir: String): Seq[Long] = {
    val dir = new java.io.File(indexDir)
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v")
        && new java.io.File(f, "_SUCCESS").exists())
      .flatMap(_.getName.drop(1).toLongOption)
      .sorted
  }

  /** Highest complete (`_SUCCESS`-marked) report-index version under
    * `indexDir`, if any — what both the next micro-batch and any report
    * reader should open. */
  def latestReportIndexVersion(indexDir: String): Option[Long] =
    completeReportIndexVersions(indexDir).lastOption

  /** Write-tmp-then-ATOMIC_MOVE replace: the ONE copy of the
    * last-writer-wins marker write (compaction watermarks).
    * Readers see the old content or the new, never a torn file; crash-
    * leaked `.tmp` siblings share one naming convention. */
  private def atomicWriteString(target: java.nio.file.Path, content: String): Unit = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}_${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    java.nio.file.Files.write(tmp,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** CONTINUOUS ANN-index maintenance — the streaming face of
    * `Clustering.foldIntoIndex`: each micro-batch of newly-ingested
    * embeddings assigns against the STANDING broadcast codebook (never a
    * rebuild) and lands in a per-batch `b{batchId}` dir with the
    * [[nearDupGate]] exactly-once discipline (hidden-tmp + atomic rename;
    * a replay rewrites its own dir instead of appending duplicates). Read
    * the standing assignment with [[batchedTable]]; because per-row
    * assignment against fixed centroids is order-independent, the batched
    * table equals a one-shot assignment of everything ever streamed
    * (spec-pinned). Per-batch cost is O(batch · √n) score work — the
    * 100 TB continuous-ingest shape; `Clustering.cellSkewReport` over the
    * folded table is the codebook-rebuild trigger.
    *
    * `embeddings` schema: (id BIGINT, embedding ARRAY<FLOAT>). */
  def indexMaintenanceStream(embeddings: DataFrame, cells: DataFrame, assignDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    embeddings.writeStream.outputMode(OutputMode.Append).foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldAssignBatch(batch.toDF, cells, assignDir, batchId)
    }

  /** One [[indexMaintenanceStream]] micro-batch: assign against the standing
    * codebook and land as `b{batchId}`. Replays of compaction-subsumed
    * batches are no-ops (see [[gateBatch]]). */
  def foldAssignBatch(batch: DataFrame, cells: DataFrame, assignDir: String,
      batchId: Long): Unit =
    if (batchId > compactedWatermark(assignDir))
      writeBatchDir(graft.operators.Clustering.assignCells(
        batch, "id", "embedding", cells), assignDir, batchId)
}
