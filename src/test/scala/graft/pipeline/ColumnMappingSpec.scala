package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

import Fixtures.d

/** Column mapping ([[Lakehouse.renameBronzeColumn]] /
  * [[Lakehouse.dropBronzeColumn]]) — Delta's rename/drop-without-rewrite,
  * re-expressed as log-recorded RENAME CHAINS + a coalescing read view.
  * Under test: metadata-only rename (no file rewritten, mixed-name reads
  * correct), AS-OF reads under each version's own names, drop tombstones
  * blocking resurrection, DML and OPTIMIZE on renamed tables, RESTORE
  * carrying the mapping, and the reservation guards. */
class ColumnMappingSpec extends SparkSpec {
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

  test("rename is metadata-only: mixed old/new files read correctly; AS-OF keeps old names") {
    val lake = mkLake("cmren")
    lake.appendBronze("t", rows("r1", Seq(1L, 2L)))
    lake.appendBronze("t", rows("r2", Seq(3L, 4L)))
    val preRename = lake.tableVersions("bronze", "t").max
    val dirsBefore = appendDirCount(lake, "t")
    val filesBefore = lake.prunedFilePaths("bronze", "t", Nil).toSet

    lake.renameBronzeColumn("t", "id", "doc_id")
    // metadata-only: no file rewritten, no new dir
    assert(appendDirCount(lake, "t") == dirsBefore, "rename rewrote data")
    assert(lake.prunedFilePaths("bronze", "t", Nil).toSet == filesBefore)
    assert(lake.history("bronze", "t").orderBy(col("version").desc)
      .select("operation").first().getString(0) == "RENAME COLUMN")
    // old-named files read under the new name
    val t1 = lake.table("bronze", "t")
    assert(t1.columns.toSeq == Seq("doc_id", "snapshot_date", "run_id"))
    assert(t1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))

    // appends after the rename use the NEW name; mixed files still read
    lake.appendBronze("t", Seq((5L, d("2025-06-02"), "r3"))
      .toDF("doc_id", "snapshot_date", "run_id"))
    assert(lake.table("bronze", "t").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))

    // AS-OF the pre-rename version: that version's OWN column name
    val asOf = lake.tableAt("bronze", "t", preRename)
    assert(asOf.columns.contains("id") && !asOf.columns.contains("doc_id"))
    assert(asOf.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))

    // rename BACK onto the chain ancestor works and stays correct
    lake.renameBronzeColumn("t", "doc_id", "id")
    assert(lake.table("bronze", "t").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("DML and OPTIMIZE work through the mapping; rewrites migrate names") {
    val lake = mkLake("cmdml")
    lake.appendBronze("t", rows("r1", Seq(1L, 2L, 3L)))
    lake.renameBronzeColumn("t", "id", "doc_id")
    lake.appendBronze("t", Seq((4L, d("2025-06-01"), "r2"))
      .toDF("doc_id", "snapshot_date", "run_id"))
    // DV delete with a predicate on the NEW name hits old-named files too
    lake.deleteBronzeWhereDv("t", col("doc_id") === 2L)
    assert(lake.table("bronze", "t").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L))
    // merge keyed on the new name updates a row in an old-named file
    lake.mergeBronze("t", Seq((3L, d("2025-06-03"), "merged"))
      .toDF("doc_id", "snapshot_date", "run_id"), Seq("doc_id"))
    val t = lake.table("bronze", "t")
    assert(t.filter(col("doc_id") === 3L).select("run_id").first().getString(0) == "merged")
    assert(t.count() == 3)
    // skipping on the renamed column stays CORRECT (old files lack stats
    // under the new name and are kept, never wrongly pruned)
    val hit = lake.tableWhere("bronze", "t",
      Seq(ManifestStats.StatEq("doc_id", 1L))).filter(col("doc_id") === 1L)
    assert(hit.count() == 1)
    // OPTIMIZE migrates files onto the current names; reads unchanged
    lake.compact("bronze", "t", numFiles = 1)
    assert(lake.table("bronze", "t").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L))
    // CoW delete through the view
    lake.deleteBronzeWhere("t", col("doc_id") === 4L)
    assert(lake.table("bronze", "t").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("drop keeps a tombstone: reads exclude, time travel keeps, re-add refused") {
    val lake = mkLake("cmdrop")
    lake.appendBronze("t", rows("r1", Seq(1L, 2L)))
    val preDrop = lake.tableVersions("bronze", "t").max
    lake.dropBronzeColumn("t", "run_id")
    val t = lake.table("bronze", "t")
    assert(!t.columns.contains("run_id"))
    assert(t.count() == 2)
    // time travel to the pre-drop version still reads the column
    assert(lake.tableAt("bronze", "t", preDrop)
      .select("run_id").collect().map(_.getString(0)).toSet == Set("r1"))
    // re-adding the dropped name via a widening append is refused (the old
    // files still carry data under it — it would silently resurrect)
    val ex = intercept[IllegalArgumentException] {
      lake.appendBronze("t", Seq((3L, d("2025-06-02"), "ghost"))
        .toDF("id", "snapshot_date", "run_id"))
    }
    assert(ex.getMessage.contains("reserved"), ex.getMessage)
    assert(lake.table("bronze", "t").count() == 2, "refused append leaked rows")
    // renaming another column ONTO a reserved name is refused too
    val ex2 = intercept[IllegalArgumentException](
      lake.renameBronzeColumn("t", "id", "run_id"))
    assert(ex2.getMessage.contains("reserved"), ex2.getMessage)
  }

  test("constraints block rename/drop of referenced columns; RESTORE restores the mapping") {
    val lake = mkLake("cmrestore")
    lake.appendBronze("t", rows("r1", Seq(1L, 2L)))
    lake.addCheckConstraint("t", "id_pos", "id > 0")
    val exc = intercept[IllegalArgumentException](
      lake.renameBronzeColumn("t", "id", "doc_id"))
    assert(exc.getMessage.contains("id_pos"), exc.getMessage)
    intercept[IllegalArgumentException](lake.dropBronzeColumn("t", "id"))
    lake.dropCheckConstraint("t", "id_pos")
    val preRename = lake.tableVersions("bronze", "t").max
    lake.renameBronzeColumn("t", "id", "doc_id")
    assert(lake.table("bronze", "t").columns.contains("doc_id"))
    // restore to the pre-rename version: schema AND mapping restore
    lake.restoreBronze("t", preRename)
    val t = lake.table("bronze", "t")
    assert(t.columns.contains("id") && !t.columns.contains("doc_id"))
    assert(t.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // appends after the restore write the restored name and read correctly
    lake.appendBronze("t", rows("r2", Seq(3L)))
    assert(lake.table("bronze", "t").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("tableChanges and clones carry the mapping") {
    val lake = mkLake("cmcdf")
    lake.appendBronze("t", rows("r1", Seq(1L, 2L)))
    lake.renameBronzeColumn("t", "id", "doc_id")
    lake.deleteBronzeWhereDv("t", col("doc_id") === 1L)
    val head = lake.tableVersions("bronze", "t").max
    // the feed projects head-logical names over old-named files
    val feed = lake.tableChanges("t", head - 1, head)
    assert(feed.columns.contains("doc_id"))
    assert(feed.filter(col("_change_type") === "delete")
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a shallow clone reads identically (chains carried over)
    lake.cloneBronze("t", "t2")
    assert(lake.table("bronze", "t2").select("doc_id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // DESCRIBE DETAIL surfaces the mapping
    assert(lake.describeDetail("bronze", "t").head()
      .getAs[Long]("num_renamed_columns") == 1L)
  }

  test("a MERGE key dropped later degrades the feed to delete/insert instead of bricking it") {
    val lake = mkLake("cmmkdrop")
    // a registered cursor (the consumer the bug bricks) holds history
    // retention from frontier 0, so the whole range stays readable
    val cursor = Files.createTempDirectory("graft-cmmkdrop-cur").toString
    lake.registerCursor("t", cursor)
    lake.appendBronze("t", rows("r1", Seq(1L, 2L)))
    // a MERGE commit records its key columns (#mkeys) for CDF pairing
    lake.mergeBronze("t", rows("r2", Seq(2L, 3L)), Seq("id"))
    val mergeV = lake.tableVersions("bronze", "t").max
    // the key column is then DROPPED (tombstoned, not renamed): pairing on
    // it would throw AnalysisException on EVERY read spanning the MERGE,
    // permanently bricking cursor consumers until retention ages it out
    lake.dropBronzeColumn("t", "id")
    val headV = lake.tableVersions("bronze", "t").max
    // a range whose HEAD is at/after the drop reads with the head mapping:
    // the MERGE version's frames lack the key, pairing is impossible
    val feed = lake.tableChanges("t", mergeV - 1, headV)
    assert(!feed.columns.contains("id"))
    // delete+insert is the valid decomposition of the update pair
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("delete", 0L) == 1L &&
      byType.getOrElse("insert", 0L) == 2L &&
      !byType.contains("update_preimage"),
      s"dropped-key MERGE feed mis-tagged: $byType")
    // the full-history read (what a resuming cursor consumer does) works too
    val all = lake.tableChanges("t", 0, headV)
    assert(all.count() >= 4)
    // a range ENDING BEFORE the drop still pairs under its own mapping
    val paired = lake.tableChanges("t", mergeV - 1, mergeV)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(paired.getOrElse("update_preimage", 0L) == 1L &&
      paired.getOrElse("update_postimage", 0L) == 1L &&
      paired.getOrElse("insert", 0L) == 1L,
      s"pre-drop range lost MERGE pairing: $paired")
  }
}
