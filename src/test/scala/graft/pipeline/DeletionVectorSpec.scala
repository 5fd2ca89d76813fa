package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

import Fixtures.d

/** Merge-on-read deletes: deletion vectors ([[DeletionVectors]],
  * [[Lakehouse.deleteBronzeWhereDv]]) — Delta's deletion-vector DELETE
  * re-expressed on the file log. The scale claim under test: a predicate
  * delete costs O(deleted rows) of metadata, never a file rewrite; reads
  * subtract vectors exactly; OPTIMIZE purges them. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def mkLake(tag: String, interval: Int = 10): Lakehouse =
    new Lakehouse(spark, Files.createTempDirectory(s"graft-$tag").toString,
      bronzeCheckpointInterval = interval)

  /** Append `runs` runs of `n` rows each, `filesPerRun` files per run. */
  private def seed(lake: Lakehouse, table: String, runs: Int, n: Int,
      filesPerRun: Int = 2): Unit =
    (1 to runs).foreach { r =>
      lake.appendBronze(table,
        (0 until n).map(i => ((r * 1000 + i).toLong, d("2025-06-01"), s"run$r"))
          .toDF("id", "snapshot_date", "run_id").repartition(filesPerRun))
    }

  private def liveParquet(lake: Lakehouse, table: String): Set[String] =
    lake.prunedFilePaths("bronze", table, Nil).toSet

  private def dvRefCount(lake: Lakehouse, table: String): Int =
    lake.prunedFilePathsMetered("bronze", table, Nil)._1.count(_._2.isDefined)

  private def appendDirCount(lake: Lakehouse, table: String): Int = {
    val base = Paths.get(lake.root, "bronze", table)
    val s = Files.list(base)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.count(_.getFileName.toString.startsWith("_a"))
    } finally s.close()
  }

  test("codec: write/read roundtrip, merge, relPath key derivation") {
    val tmp = Files.createTempDirectory("graft-dvcodec").resolve("x.dv")
    val rows = Array(0L, 3L, 7L, 1000000L)
    DeletionVectors.write(tmp, rows)
    assert(DeletionVectors.read(tmp).toSeq == rows.toSeq)
    DeletionVectors.write(tmp.resolveSibling("e.dv"), Array.emptyLongArray)
    assert(DeletionVectors.read(tmp.resolveSibling("e.dv")).isEmpty)
    intercept[IllegalArgumentException] {
      DeletionVectors.write(tmp.resolveSibling("bad.dv"), Array(3L, 3L))
    }
    assert(DeletionVectors.merge(Array(1L, 5L, 9L), Array(2L, 5L, 10L)).toSeq ==
      Seq(1L, 2L, 5L, 9L, 10L))
    assert(DeletionVectors.merge(Array.emptyLongArray, Array(4L)).toSeq == Seq(4L))
    assert(graft.sql.DvRowDeleted.relPathKey(
      "file:///x/y/bronze/t/_a1_ab/part-0.parquet") == "_a1_ab/part-0.parquet")
    // deterministic, filesystem-safe vector names
    assert(DeletionVectors.fileName("_a1_ab/part-0.parquet") ==
      DeletionVectors.fileName("_a1_ab/part-0.parquet"))
    assert(DeletionVectors.fileName("a/b") != DeletionVectors.fileName("a/c"))
  }

  test("vector delete removes rows without rewriting any data file") {
    val lake = mkLake("dvbasic")
    seed(lake, "t", runs = 3, n = 10)
    val before = liveParquet(lake, "t")
    val beforeDirs = appendDirCount(lake, "t")
    // delete a third of run2's rows — stats bound the scan to run2's files
    lake.deleteBronzeWhereDv("t", col("run_id") === "run2" && col("id") % 3 === 0,
      Seq(ManifestStats.StatEq("run_id", "run2")))
    val t = lake.table("bronze", "t")
    // run2 ids 2000..2009: 2001, 2004, 2007 match
    assert(t.count() == 27, s"expected 27 rows, got ${t.count()}")
    assert(t.filter(col("run_id") === "run2" && col("id") % 3 === 0).count() == 0)
    assert(t.filter(col("run_id") === "run1").count() == 10, "untouched run changed")
    // THE merge-on-read claim: the live data-file set is IDENTICAL — no
    // file was rewritten, no new append dir was created
    assert(liveParquet(lake, "t") == before, "vector delete rewrote data files")
    assert(appendDirCount(lake, "t") == beforeDirs, "vector delete created an append dir")
    assert(dvRefCount(lake, "t") > 0, "no manifest entry carries a vector reference")
    val ops = lake.history("bronze", "t").select("operation")
      .collect().map(_.getString(0)).toSeq
    assert(ops.head == "DELETE" || ops.last == "DELETE",
      s"history should record the DELETE, got $ops")
  }

  test("repeat vector delete merges; the superseded vector is vacuum debris") {
    val lake = mkLake("dvmerge")
    seed(lake, "t", runs = 2, n = 10)
    lake.deleteBronzeWhereDv("t", col("id") % 5 === 0) // 4 rows (x000, x005)
    assert(lake.table("bronze", "t").count() == 16)
    lake.deleteBronzeWhereDv("t", col("id") % 5 === 1) // 4 more
    assert(lake.table("bronze", "t").count() == 12)
    assert(lake.table("bronze", "t")
      .filter(col("id") % 5 === 0 || col("id") % 5 === 1).count() == 0)
    // two delete commits → two _dv dirs; after vacuum only the vectors the
    // retained window references survive, and reads stay exact
    lake.vacuumBronze("t", keepVersions = 1, retainMillis = 0L)
    assert(lake.table("bronze", "t").count() == 12, "vacuum broke vectored reads")
    val base = Paths.get(lake.root, "bronze", "t")
    val dvFiles = {
      val s = Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.getFileName.toString.endsWith(".dv"))
      } finally s.close()
    }
    // live vectors only: one per data file still carrying deletes
    assert(dvFiles == dvRefCount(lake, "t"),
      s"$dvFiles vector files on disk vs ${dvRefCount(lake, "t")} referenced")
  }

  test("a file whose visible rows all match drops from the manifest — pure metadata") {
    val lake = mkLake("dvdrop")
    seed(lake, "t", runs = 3, n = 10)
    val beforeDirs = appendDirCount(lake, "t")
    val preDelete = lake.tableVersions("bronze", "t").max
    lake.deleteBronzeWhereDv("t", col("run_id") === "run1",
      Seq(ManifestStats.StatEq("run_id", "run1")))
    assert(lake.table("bronze", "t").count() == 20)
    assert(lake.table("bronze", "t").filter(col("run_id") === "run1").count() == 0)
    // run1's files left the live set with NO rewrite and NO vector
    assert(liveParquet(lake, "t").size == 4, "full-match files were not dropped")
    assert(appendDirCount(lake, "t") == beforeDirs, "full-file drop wrote data")
    assert(dvRefCount(lake, "t") == 0, "full-file drop should not write vectors")
    // time travel: the pre-delete version still reads the dropped rows
    assert(lake.tableAt("bronze", "t", preDelete).count() == 30)
  }

  test("vector-deleting every row leaves a readable empty table that accepts appends") {
    val lake = mkLake("dvempty")
    seed(lake, "t", runs = 1, n = 5)
    lake.deleteBronzeWhereDv("t", lit(true))
    val t = lake.table("bronze", "t")
    assert(t.count() == 0)
    assert(t.columns.toSeq == Seq("id", "snapshot_date", "run_id"))
    seed(lake, "t", runs = 1, n = 3)
    assert(lake.table("bronze", "t").count() == 3)
  }

  test("null-condition rows are dropped (DML convention parity with CoW delete)") {
    val lake = mkLake("dvnull")
    lake.appendBronze("t",
      Seq((1L, d("2025-06-01"), "run1"), (2L, d("2025-06-01"), null),
        (3L, d("2025-06-01"), "run1"))
        .toDF("id", "snapshot_date", "run_id").repartition(1))
    // run_id != 'zzz' is NULL for the null row → it matches → dropped
    lake.deleteBronzeWhereDv("t", col("run_id") =!= "zzz")
    assert(lake.table("bronze", "t").count() == 0)
  }

  test("CoW delete on a vectored file honors the vector and purges it") {
    val lake = mkLake("dvcow")
    seed(lake, "t", runs = 1, n = 12, filesPerRun = 1)
    lake.deleteBronzeWhereDv("t", col("id") % 4 === 0) // drops 1000,1004,1008
    assert(lake.table("bronze", "t").count() == 9)
    lake.deleteBronzeWhere("t", col("id") % 4 === 1) // CoW: drops 1001,1005,1009
    val ids = lake.table("bronze", "t").select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1002L, 1003L, 1006L, 1007L, 1010L, 1011L),
      s"got ${ids.toSeq}")
    assert(dvRefCount(lake, "t") == 0, "CoW rewrite must drop the vector reference")
  }

  test("OPTIMIZE purges vectors: compactSmall rewrites vectored files clean") {
    val lake = mkLake("dvpurge")
    seed(lake, "t", runs = 3, n = 10)
    lake.deleteBronzeWhereDv("t", col("id") % 2 === 0)
    assert(lake.table("bronze", "t").count() == 15)
    assert(dvRefCount(lake, "t") > 0)
    val content = lake.table("bronze", "t").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(lake.compactSmall("bronze", "t"), "purge compaction did not trigger")
    assert(dvRefCount(lake, "t") == 0, "OPTIMIZE left vector references")
    assert(lake.table("bronze", "t").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == content, "purge changed visible rows")
    // the purge is a repack of already-delivered rows: dataChange=false
    assert(lake.nodataDirs("bronze", "t").nonEmpty,
      "purge commit should be attributed dataChange=false")
    // converged: a second pass finds nothing vectored to do
    assert(!lake.compactSmall("bronze", "t"), "purge compaction did not converge")
  }

  test("stats-pruned reads apply vectors — including through the checkpoint twin") {
    // 10 appends × 7 files = 70 entries ≥ CheckpointParquetMinEntries; the
    // delete commits at version 11 with interval 11 → a CHECKPOINT with a
    // parquet twin whose __dv column the distributed resolve must read
    val lake = mkLake("dvtwin", interval = 11)
    (1 to 10).foreach { r =>
      lake.appendBronze("t",
        (0 until 21).map(i => ((r * 1000 + i).toLong, d("2025-06-01"), s"run$r"))
          .toDF("id", "snapshot_date", "run_id").repartition(7))
    }
    lake.deleteBronzeWhereDv("t", col("id") % 3 === 0)
    assert(lake.tableVersions("bronze", "t").max == 11)
    val (paths, _) = lake.prunedFilePathsMetered("bronze", "t",
      Seq(ManifestStats.StatEq("run_id", "run4")))
    assert(paths.nonEmpty && paths.exists(_._2.isDefined),
      "twin resolve lost the vector references")
    val probe = lake.tableWhere("bronze", "t",
      Seq(ManifestStats.StatEq("run_id", "run4")))
      .filter(col("run_id") === "run4")
    assert(probe.count() == 14, s"expected 14 visible run4 rows, got ${probe.count()}")
    assert(probe.filter(col("id") % 3 === 0).count() == 0,
      "stats-pruned read resurrected vector-deleted rows")
  }

  test("rowCount answers from log metadata through vectors and full-file drops") {
    val lake = mkLake("dvrows")
    seed(lake, "t", runs = 2, n = 10)
    assert(lake.rowCount("bronze", "t").contains(20L))
    lake.deleteBronzeWhereDv("t", col("id") % 2 === 0) // vectors: 5 per run
    assert(lake.rowCount("bronze", "t").contains(10L), "vector cardinality not subtracted")
    lake.deleteBronzeWhereDv("t", col("run_id") === "run1") // full-file drops
    assert(lake.rowCount("bronze", "t").contains(5L))
    assert(lake.table("bronze", "t").count() == 5, "metadata count disagrees with scan")
  }

  test("RESTORE undoes a delete as pure metadata; history keeps both commits") {
    val lake = mkLake("dvrestore")
    seed(lake, "t", runs = 2, n = 10)
    val preDelete = lake.tableVersions("bronze", "t").max
    lake.deleteBronzeWhereDv("t", col("id") % 2 === 0)
    assert(lake.table("bronze", "t").count() == 10)
    val postDelete = lake.tableVersions("bronze", "t").max
    val dirsBefore = appendDirCount(lake, "t")
    lake.restoreBronze("t", preDelete)
    assert(lake.table("bronze", "t").count() == 20, "restore did not undo the delete")
    assert(appendDirCount(lake, "t") == dirsBefore, "restore copied data")
    // the bad commit stays inspectable (Delta model): time travel to it
    assert(lake.tableAt("bronze", "t", postDelete).count() == 10)
    val ops = lake.history("bronze", "t").select("operation")
      .collect().map(_.getString(0)).toSeq
    assert(ops.contains("RESTORE") && ops.contains("DELETE"), s"got $ops")
    // restore is itself undoable: restore to the deleted state
    lake.restoreBronze("t", postDelete)
    assert(lake.table("bronze", "t").count() == 10)
    // restoring to the current version is a no-op, not a new commit
    val v = lake.tableVersions("bronze", "t").max
    lake.restoreBronze("t", v)
    assert(lake.tableVersions("bronze", "t").max == v)
  }

  test("RESTORE to a vacuumed version fails fast naming the missing files") {
    val lake = mkLake("dvrestorevac")
    seed(lake, "t", runs = 2, n = 5, filesPerRun = 1)
    val preDelete = lake.tableVersions("bronze", "t").max
    lake.deleteBronzeWhereDv("t", col("run_id") === "run1") // drops run1's file
    lake.vacuumBronze("t", keepVersions = 1, retainMillis = 0L)
    val e = intercept[IllegalArgumentException] {
      lake.restoreBronze("t", preDelete)
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("vacuum protects vectors referenced by retained versions (time travel intact)") {
    val lake = mkLake("dvttravel")
    seed(lake, "t", runs = 2, n = 10)
    lake.deleteBronzeWhereDv("t", col("id") % 2 === 0)
    val vDelete = lake.tableVersions("bronze", "t").max
    seed(lake, "t", runs = 1, n = 4) // one more commit on top
    lake.vacuumBronze("t", keepVersions = 2, retainMillis = 0L)
    // the vectored version is inside keepVersions: its vector must survive
    assert(lake.tableAt("bronze", "t", vDelete).count() == 10,
      "vacuum removed a vector a retained version references")
    assert(lake.table("bronze", "t").count() == 14)
  }

  private def idsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("tableChanges: add/remove/DV-delta changes; OPTIMIZE contributes nothing; apply-algebra closes") {
    val lake = mkLake("cdf")
    // 4 files per run, so the point delete below touches a MINORITY of
    // files and its commit stays a DELTA (a commit whose diff is not
    // smaller than the snapshot lands as a checkpoint, which advances the
    // retention floor — the feed reads only retained ranges by contract)
    seed(lake, "t", runs = 2, n = 10, filesPerRun = 4) // v1 run1, v2 run2
    lake.deleteBronzeWhereDv("t", col("id") === 1000L || col("id") === 2005L) // v3 DV delta
    def ch(from: Int, to: Int) = lake.tableChanges("t", from, to)
    def part(df: org.apache.spark.sql.DataFrame, t: String) =
      idsOf(df.filter(col("_change_type") === t))
    // v2: run2's rows insert
    assert(part(ch(1, 2), "insert") == (0 until 10).map(i => 2000L + i))
    assert(part(ch(1, 2), "delete").isEmpty)
    // v3: exactly the newly-vectored rows delete — a DV DELTA, no file
    // was added or removed at this version
    assert(part(ch(2, 3), "delete") == Seq(1000L, 2005L))
    assert(part(ch(2, 3), "insert").isEmpty)
    // commit attribution rides every row
    assert(ch(1, 3).select("_commit_version").distinct().collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
    // apply algebra over the range: v1 + inserts − deletes = v3 state
    val v1Ids = idsOf(lake.tableAt("bronze", "t", 1))
    val all = ch(1, 3)
    val applied = (v1Ids ++ part(all, "insert")).diff(part(all, "delete")).sorted
    assert(applied == idsOf(lake.table("bronze", "t")), "CDF apply-algebra broke")
    // v4: run-aligned full-file drops delete the run's VISIBLE rows only
    // (1000 is already vector-deleted and must not re-appear as a delete)
    lake.deleteByRunId("t", "run1")
    assert(part(ch(3, 4), "delete") == (1 until 10).map(i => 1000L + i))
    assert(part(ch(3, 4), "insert").isEmpty)
    // v5 OPTIMIZE: rearrangement only — contributes nothing
    lake.compact("bronze", "t", numFiles = 1)
    assert(ch(4, 5).count() == 0, "OPTIMIZE leaked into the change feed")
    // RESTORE emits its diff as changes too; algebra closes across it
    lake.restoreBronze("t", 4) // v6: re-reference v4's file set
    val r = ch(5, 6)
    val appliedR = (idsOf(lake.tableAt("bronze", "t", 5)) ++ part(r, "insert"))
      .diff(part(r, "delete")).sorted
    assert(appliedR == idsOf(lake.table("bronze", "t")), "restore CDF algebra broke")
  }

  test("tableChanges resolves through a checkpoint-boundary base and fails fast on pruned versions") {
    val lake = mkLake("cdfckpt", interval = 4)
    seed(lake, "t", runs = 3, n = 6, filesPerRun = 1) // v1..v3
    seed(lake, "t", runs = 1, n = 6, filesPerRun = 1) // v4 — but run ids restart...
    lake.deleteBronzeWhereDv("t", col("id") % 3 === 0) // v5 (v4 was the checkpoint)
    // base v4 resolves FROM the checkpoint record; v5 is a delta on top
    val d5 = lake.tableChanges("t", 4, 5)
    assert(d5.filter(col("_change_type") === "insert").count() == 0)
    assert(idsOf(d5.filter(col("_change_type") === "delete")) ==
      idsOf(lake.tableAt("bronze", "t", 4)).filter(_ % 3 == 0))
    // v1/v2 fell below the retention floor (newest checkpoint ≤ head−1):
    // the feed refuses instead of returning a silent partial answer
    val e = intercept[IllegalArgumentException](lake.tableChanges("t", 1, 5))
    assert(e.getMessage.contains("not retained"), e.getMessage)
  }

  test("mergeBronze: matched rows vector-delete + source appends in ONE atomic commit") {
    val lake = mkLake("mrg")
    seed(lake, "t", runs = 2, n = 10) // ids 1000-1009, 2000-2009 across 4 files
    val vBefore = lake.tableVersions("bronze", "t").max
    val dirsBefore = appendDirCount(lake, "t")
    val filesBefore = liveParquet(lake, "t")
    val source = Seq(
      (1002L, d("2025-06-02"), "merged"), (1004L, d("2025-06-02"), "merged"),
      (9999L, d("2025-06-02"), "merged"))
      .toDF("id", "snapshot_date", "run_id").repartition(1)
    lake.mergeBronze("t", source, Seq("id"))
    // ONE commit, op MERGE
    assert(lake.tableVersions("bronze", "t").max == vBefore + 1, "merge must be atomic")
    // the merge's feed splits by the recorded key columns (#mkeys): matched
    // keys pair as update_preimage/update_postimage, the fresh key inserts
    // (read NOW — a later commit may prune this version's record)
    val first = lake.tableChanges("t", vBefore, vBefore + 1)
    assert(idsOf(first.filter(col("_change_type") === "update_preimage")) ==
      Seq(1002L, 1004L))
    assert(idsOf(first.filter(col("_change_type") === "update_postimage")) ==
      Seq(1002L, 1004L))
    assert(idsOf(first.filter(col("_change_type") === "insert")) == Seq(9999L))
    assert(lake.history("bronze", "t").orderBy(col("version").desc)
      .select("operation").first().getString(0) == "MERGE")
    // 20 − 2 matched + 3 source = 21 rows; matched keys carry source values
    val t = lake.table("bronze", "t")
    assert(t.count() == 21)
    assert(t.filter(col("id") === 1002L).select("run_id").first().getString(0) == "merged")
    assert(t.filter(col("id") === 9999L).count() == 1)
    assert(t.filter(col("run_id") === "run1").count() == 8)
    // merge-on-read: target files NOT rewritten — one staged dir added,
    // the touched file gains a vector
    assert(appendDirCount(lake, "t") == dirsBefore + 1, "merge rewrote target files")
    assert(filesBefore.subsetOf(liveParquet(lake, "t")), "merge dropped a live file")
    assert(dvRefCount(lake, "t") >= 1, "matched rows should be vector-deleted")
    // re-merging the same source is idempotent on row content
    lake.mergeBronze("t", source, Seq("id"))
    val again = lake.table("bronze", "t")
    assert(again.count() == 21)
    assert(again.filter(col("run_id") === "merged").count() == 3)
    // CDF classifies the merge via its recorded key columns (#mkeys):
    // matched keys pair as update_preimage/update_postimage in one version
    // (Delta CDF's MERGE semantics); an unmatched source key would emit a
    // plain insert — here the re-merge matched every key
    val vm = lake.tableVersions("bronze", "t").max
    val feed = lake.tableChanges("t", vm - 1, vm)
    assert(idsOf(feed.filter(col("_change_type") === "update_preimage")) ==
      Seq(1002L, 1004L, 9999L))
    assert(idsOf(feed.filter(col("_change_type") === "update_postimage")) ==
      Seq(1002L, 1004L, 9999L))
    assert(feed.filter(col("_change_type").isin("insert", "delete")).count() == 0)
  }

  test("a MERGE key that a later RESTORE removes degrades the feed to delete + insert") {
    val lake = mkLake("mrgrestore")
    // a registered cursor at frontier 0 holds every version's record
    lake.registerCursor("t", Files.createTempDirectory("graft-mrgrestore-cur").toString)
    lake.appendBronze("t", Seq((1L, d("2025-06-01"), "r1"))
      .toDF("id", "snapshot_date", "run_id").repartition(1))
    val preKey = lake.committedBronzeVersion("t")
    // ADD COLUMNS: an append carrying the key column k
    lake.appendBronze("t", Seq((2L, d("2025-06-01"), "r2", "a"), (3L, d("2025-06-01"), "r2", "b"))
      .toDF("id", "snapshot_date", "run_id", "k").repartition(1))
    val vAdd = lake.committedBronzeVersion("t")
    lake.mergeBronze("t", Seq((20L, d("2025-06-02"), "m", "a"))
      .toDF("id", "snapshot_date", "run_id", "k"), Seq("k"))
    val merged = lake.tableChanges("t", vAdd, vAdd + 1)
    assert(idsOf(merged.filter(col("_change_type") === "update_preimage")) == Seq(2L))
    // RESTORE to the version before k existed: the head schema loses k, so
    // a feed range spanning the MERGE reads frames without its key column
    lake.restoreBronze("t", preKey)
    assert(!lake.table("bronze", "t").columns.contains("k"))
    val feed = lake.tableChanges("t", vAdd, lake.committedBronzeVersion("t"))
    val types = feed.select("_change_type").distinct().collect().map(_.getString(0)).toSet
    assert(types == Set("insert", "delete"), s"got $types")
    val atMerge = feed.filter(col("_commit_version") === vAdd + 1)
    assert(idsOf(atMerge.filter(col("_change_type") === "delete")) == Seq(2L))
    assert(idsOf(atMerge.filter(col("_change_type") === "insert")) == Seq(20L))
  }

  test("mergeBronze: empty target appends; no-match merge is a pure insert") {
    val lake = mkLake("mrgedge")
    val src = Seq((5L, d("2025-06-01"), "r1")).toDF("id", "snapshot_date", "run_id")
    lake.mergeBronze("t", src, Seq("id")) // empty target → plain append
    assert(lake.table("bronze", "t").count() == 1)
    val noMatch = Seq((77L, d("2025-06-01"), "r2")).toDF("id", "snapshot_date", "run_id")
    lake.mergeBronze("t", noMatch, Seq("id"))
    assert(lake.table("bronze", "t").count() == 2)
    assert(dvRefCount(lake, "t") == 0, "pure-insert merge must not vector anything")
  }
}
