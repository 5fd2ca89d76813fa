package graft.pipeline

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

import Fixtures.d

/** Round-13 third-wave storage parity: idempotent writer transactions
  * (Delta's SetTransaction — `txnAppId`/`txnVersion`), in-commit
  * timestamps, the reader-feature protocol gate (Delta `readerFeatures`:
  * fail fast instead of misreading a newer writer's state), and the
  * durable change-feed cursor behind
  * [[graft.streaming.Streams.changesSink]]. */
class TxnProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def mkLake(tag: String): Lakehouse =
    new Lakehouse(spark, Files.createTempDirectory(s"graft-$tag").toString)

  private def rows(run: String, ids: Seq[Long]) =
    ids.map(i => (i, d("2025-06-01"), run)).toDF("id", "snapshot_date", "run_id")
      .repartition(1)

  private def appendDirCount(lake: Lakehouse, table: String): Int = {
    val base = Paths.get(lake.root, "bronze", table)
    val s = Files.list(base)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.count(_.getFileName.toString.startsWith("_a"))
    } finally s.close()
  }

  test("txn append: a replayed transaction is a no-op, a newer version commits") {
    val lake = mkLake("txn")
    assert(lake.appendBronze("t", rows("r1", Seq(1L, 2L)), txn = Some(("ingest", 1L))))
    assert(lake.txnVersion("t", "ingest").contains(1L))
    val v1 = lake.committedBronzeVersion("t")
    val dirs1 = appendDirCount(lake, "t")

    // replay of the SAME txn version: skipped before staging — no new
    // version, no new append dir, no duplicate rows
    assert(!lake.appendBronze("t", rows("r1", Seq(1L, 2L)), txn = Some(("ingest", 1L))))
    assert(lake.committedBronzeVersion("t") == v1)
    assert(appendDirCount(lake, "t") == dirs1)
    assert(lake.table("bronze", "t").count() == 2)
    // a LOWER version (out-of-order replay) skips too — Delta's rule is
    // "applied iff strictly newer than the recorded version"
    assert(!lake.appendBronze("t", rows("r0", Seq(9L)), txn = Some(("ingest", 0L))))

    // the next version commits and advances the recorded txn
    assert(lake.appendBronze("t", rows("r2", Seq(3L)), txn = Some(("ingest", 2L))))
    assert(lake.txnVersion("t", "ingest").contains(2L))
    assert(lake.table("bronze", "t").count() == 3)
    // an unrelated app is tracked independently
    assert(lake.appendBronze("t", rows("x1", Seq(4L)), txn = Some(("other", 1L))))
    assert(lake.txnVersion("t", "ingest").contains(2L))
    assert(lake.txnVersion("t", "other").contains(1L))
  }

  test("txn map rides the log: visible to a fresh instance, re-emitted across unrelated commits") {
    val lake = mkLake("txnlog")
    lake.appendBronze("t", rows("r1", Seq(1L, 2L)), txn = Some(("app", 5L)))
    // unrelated commits in between (no txn of their own) must RE-EMIT the map
    lake.appendBronze("t", rows("r2", Seq(3L, 4L)))
    lake.deleteBronzeWhereDv("t", col("id") === 3L, Nil)
    val lake2 = new Lakehouse(spark, lake.root)
    assert(lake2.txnVersion("t", "app").contains(5L))
    // and the replay check holds on the fresh instance too
    assert(!lake2.appendBronze("t", rows("r1", Seq(1L, 2L)), txn = Some(("app", 5L))))
    assert(lake2.table("bronze", "t").count() == 3)
  }

  test("txn merge: a replayed upsert micro-batch is a no-op") {
    val lake = mkLake("txnmerge")
    lake.appendBronze("t", rows("r1", Seq(1L, 2L, 3L)))
    val batch = Seq((2L, d("2025-06-02"), "b7"), (9L, d("2025-06-02"), "b7"))
      .toDF("id", "snapshot_date", "run_id").repartition(1)
    assert(lake.mergeBronze("t", batch, Seq("id"), txn = Some(("sink", 7L))))
    val after = lake.table("bronze", "t")
    assert(after.count() == 4)
    assert(after.filter(col("id") === 2L && col("run_id") === "b7").count() == 1)
    val v = lake.committedBronzeVersion("t")
    // replay (a foreachBatch retry of batch 7): nothing moves
    assert(!lake.mergeBronze("t", batch, Seq("id"), txn = Some(("sink", 7L))))
    assert(lake.committedBronzeVersion("t") == v)
    assert(lake.table("bronze", "t").count() == 4)
    assert(lake.txnVersion("t", "sink").contains(7L))
  }

  test("history reports the in-commit clock, not the record file's mtime") {
    val lake = mkLake("tsasof")
    lake.appendBronze("t", rows("r1", Seq(1L)))
    lake.appendBronze("t", rows("r2", Seq(2L)))
    lake.appendBronze("t", rows("r3", Seq(3L)))
    val base = Paths.get(lake.root, "bronze", "t")
    // pin deterministic, strictly-increasing IN-COMMIT timestamps by
    // rewriting each record's #cts header; scramble the mtimes to prove
    // they are NOT consulted — a copied/restored table keeps its commit
    // times
    val vs = lake.tableVersions("bronze", "t")
    val t0 = 1700000000000L
    vs.zipWithIndex.foreach { case (v, i) =>
      val m = base.resolve(s"_files_v$v")
      val rewritten = new String(Files.readAllBytes(m)).linesIterator.map {
        case l if l.startsWith("#cts\t") => s"#cts\t${t0 + i * 60000L}"
        case l => l
      }.mkString("\n")
      Files.write(m, rewritten.getBytes)
      Files.setLastModifiedTime(m, FileTime.fromMillis(t0 + 999999999L)) // decoy
    }
    val hist = lake.history("bronze", "t")
      .orderBy(col("version")).select("timestamp").collect()
      .map(_.getTimestamp(0).getTime)
    assert(hist.toSeq == vs.indices.map(i => t0 + i * 60000L))
  }

  test("in-commit timestamps are monotonic even when the wall clock is behind the log") {
    val lake = mkLake("ctsmono")
    lake.appendBronze("t", rows("r1", Seq(1L)))
    val base = Paths.get(lake.root, "bronze", "t")
    // push v1's recorded instant into the FUTURE (clock-skew simulation)
    val v1 = lake.committedBronzeVersion("t")
    val m = base.resolve(s"_files_v$v1")
    val future = System.currentTimeMillis() + 3600000L
    val rewritten = new String(Files.readAllBytes(m)).linesIterator.map {
      case l if l.startsWith("#cts\t") => s"#cts\t$future"
      case l => l
    }.mkString("\n")
    Files.write(m, rewritten.getBytes)
    // the next commit must land STRICTLY AFTER it, not at the (earlier) now
    lake.appendBronze("t", rows("r2", Seq(2L)))
    val hist = lake.history("bronze", "t")
      .orderBy(col("version")).select("timestamp").collect()
      .map(_.getTimestamp(0).getTime)
    assert(hist.length == 2 && hist(1) == future + 1,
      s"expected ${future + 1}, got ${hist.toSeq}")
  }

  test("reader-feature gate: a record requiring an unknown feature fails fast, never misreads") {
    val lake = mkLake("protogate")
    lake.appendBronze("t", rows("r1", Seq(1L, 2L)))
    // current-era records with only known features read fine after a DV
    // delete (the writer declares `dv`; this build supports it)
    lake.deleteBronzeWhereDv("t", col("id") === 2L, Nil)
    assert(lake.table("bronze", "t").count() == 1)
    // simulate a writer this build cannot read: splice a required feature
    // into the newest record's header — a FUTURE one, or column mapping's
    // `colmap` (rename chains this build no longer resolves)
    val base = Paths.get(lake.root, "bronze", "t")
    val v = lake.committedBronzeVersion("t")
    val m = base.resolve(s"_files_v$v")
    val original = Files.readAllBytes(m)
    for (feature <- Seq("v9_row_lineage", "colmap")) {
      val lines = new String(original).linesIterator.toSeq
      val spliced = lines.head +: s"#features\t$feature" +: lines.tail
      Files.write(m, spliced.mkString("\n").getBytes)
      val lake2 = new Lakehouse(spark, lake.root)
      val err = intercept[IllegalArgumentException] { lake2.table("bronze", "t").count() }
      assert(err.getMessage.contains(feature), err.getMessage)
      assert(err.getMessage.contains("requires reader feature(s)"), err.getMessage)
      assert(err.getMessage.contains("does not support"), err.getMessage)
    }
  }

  test("a record carrying CHECK constraints fails fast instead of losing them on the next commit") {
    val lake = mkLake("consgate")
    lake.appendBronze("t", rows("r1", Seq(1L, 2L)))
    val base = Paths.get(lake.root, "bronze", "t")
    val m = base.resolve(s"_files_v${lake.committedBronzeVersion("t")}")
    val lines = new String(Files.readAllBytes(m)).linesIterator.toSeq
    def splice(line: String): Unit =
      Files.write(m, (lines.head +: line +: lines.tail).mkString("\n").getBytes)
    // the empty drop-to-zero marker holds no constraint: reads and commits go on
    splice("#constraints\t")
    assert(lake.table("bronze", "t").count() == 2)
    // a live constraint: every read and every commit refuses the record
    splice("#constraints\tid_pos:id+%3E+0")
    val v = lake.committedBronzeVersion("t")
    val read = intercept[IllegalArgumentException] { lake.table("bronze", "t").count() }
    assert(read.getMessage.contains("CHECK constraints"), read.getMessage)
    val write = intercept[IllegalArgumentException] {
      lake.appendBronze("t", rows("r2", Seq(3L)))
    }
    assert(write.getMessage.contains("CHECK constraints"), write.getMessage)
    assert(lake.committedBronzeVersion("t") == v, "a commit dropped the constraint line")
    assert(new String(Files.readAllBytes(m)).contains("#constraints\tid_pos"))
  }

  test("change-feed cursor: drains once, survives a crash before the cursor commit, refuses rewind") {
    val lake = mkLake("cdfcur")
    lake.appendBronze("t", rows("r1", Seq(1L, 2L)))
    lake.appendBronze("t", rows("r2", Seq(3L)))
    val cursor = Files.createTempDirectory("graft-cdfcur-cursor")
    val out = "feed"

    assert(lake.changesCursor(cursor) == 0)
    val Some((from1, to1)) =
      graft.streaming.Streams.changesSink(lake, "t", cursor.toString, out)
    assert(from1 == 0 && to1 == lake.committedBronzeVersion("t"))
    assert(lake.changesCursor(cursor) == to1)
    // caught up: nothing to drain
    assert(graft.streaming.Streams.changesSink(lake, "t", cursor.toString, out).isEmpty)

    // more DML: a DV delete lands as row-level deletes in the feed
    lake.deleteBronzeWhereDv("t", col("id") === 1L, Nil)
    val Some((_, to2)) =
      graft.streaming.Streams.changesSink(lake, "t", cursor.toString, out)
    assert(to2 == lake.committedBronzeVersion("t"))

    // the materialized feed equals the full CDF read, exactly once
    val full = lake.tableChanges("t", 0, to2)
      .select("id", "run_id", "_change_type", "_commit_version")
    val drained = lake.table("bronze", out)
      .select("id", "run_id", "_change_type", "_commit_version")
    assert(drained.exceptAll(full).isEmpty && full.exceptAll(drained).isEmpty)

    // CRASH SIMULATION: appends committed but the cursor never advanced —
    // wipe the cursor markers back to to1 and re-drain; the re-derived
    // appends are txn no-ops, end state unchanged
    val s = Files.list(cursor)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.foreach(Files.deleteIfExists(_))
    } finally s.close()
    lake.commitChangesCursor(cursor, to1)
    val Some((_, to3)) =
      graft.streaming.Streams.changesSink(lake, "t", cursor.toString, out)
    assert(to3 == to2)
    val redrained = lake.table("bronze", out)
      .select("id", "run_id", "_change_type", "_commit_version")
    assert(redrained.exceptAll(full).isEmpty && full.exceptAll(redrained).isEmpty)

    // rewinding a live cursor is refused — it would re-deliver as if new
    val err = intercept[IllegalArgumentException] { lake.commitChangesCursor(cursor, 1) }
    assert(err.getMessage.contains("re-deliver"))
  }

  test("change-feed cursor: a replay over a longer range appends each source version exactly once") {
    val lake = mkLake("cdfonce")
    val cursor = Files.createTempDirectory("graft-cdfonce-cursor")
    def sink() = graft.streaming.Streams.changesSink(lake, "t", cursor.toString, "feed")
    lake.appendBronze("t", rows("r1", Seq(1L, 2L)))  // v1
    lake.deleteBronzeWhereDv("t", col("id") === 1L, Nil) // v2
    assert(sink() == Some((0, 2)))
    val feedV = lake.tableVersion("bronze", "feed")
    // CRASH SIMULATION: the target appends of (0, 2] committed, the cursor
    // commit did not; then v3 lands before the consumer restarts
    val s = Files.list(cursor)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.foreach(Files.deleteIfExists(_))
    } finally s.close()
    assert(lake.changesCursor(cursor) == 0)
    lake.appendBronze("t", rows("r2", Seq(3L)))       // v3
    assert(sink() == Some((0, 3)))
    // v1 and v2 replay as txn no-ops: only v3's append commits
    assert(lake.tableVersion("bronze", "feed") == feedV + 1)
    val cols = Seq("id", "run_id", "_change_type", "_commit_version")
    val drained = lake.table("bronze", "feed").select(cols.map(col): _*)
    val full = lake.tableChanges("t", 0, 3).select(cols.map(col): _*)
    assert(drained.count() == full.count())
    assert(drained.exceptAll(full).isEmpty && full.exceptAll(drained).isEmpty)
  }

  test("vacuum holds the read set for a lagging registered cursor, reclaims once it catches up") {
    val lake = mkLake("curvac")
    val cursor = Files.createTempDirectory("graft-curvac-cursor")
    val out = "feed"
    lake.appendBronze("t", rows("r1", Seq(1L, 2L, 3L))) // v1
    // one drain registers the cursor and lands its frontier at v1
    assert(graft.streaming.Streams.changesSink(lake, "t", cursor.toString, out).isDefined)
    // a copy-on-write delete REMOVES v1's file from the head snapshot —
    // without the cursor hold an immediate vacuum could reclaim it
    lake.deleteBronzeWhere("t", col("id") === 2L) // v2 rewrites the file
    lake.appendBronze("t", rows("r2", Seq(4L)))   // v3
    lake.vacuumBronze("t", keepVersions = 1, retainMillis = 0)
    // the lagging cursor (frontier 1) still drains (1, 3] — v1's removed
    // file must still be readable for the delete emission
    val Some((_, to)) = graft.streaming.Streams.changesSink(lake, "t", cursor.toString, out)
    assert(to == lake.committedBronzeVersion("t"))
    // the CoW rewrite reads as remove-file + re-add: deletes {1,2,3} from
    // the VACUUM-HELD removed file, inserts {1,3} from its replacement —
    // net effect: row 2 gone (the log-walk property pins this algebra)
    val drained = lake.table("bronze", out)
    def ids(tpe: String) = drained
      .filter(col("_change_type") === tpe && col("_commit_version") === 2)
      .select("id").as[Long].collect().toSet
    assert(ids("delete") == Set(1L, 2L, 3L))
    assert(ids("insert") == Set(1L, 3L))
    // caught up: vacuum now reclaims what only the cursor was holding
    val before = lake.prunedFilePaths("bronze", "t", Nil).size
    lake.vacuumBronze("t", keepVersions = 1, retainMillis = 0)
    assert(lake.table("bronze", "t").count() == 3) // live data intact
    assert(lake.prunedFilePaths("bronze", "t", Nil).size == before)
  }
}
