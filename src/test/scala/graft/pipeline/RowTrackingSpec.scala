package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Row tracking ([[Lakehouse.enableRowTracking]], Delta's rowTracking /
  * baseRowId): every row gets a stable logical id — base-per-file assigned
  * atomically at commit (pure metadata) — that SURVIVES deletion-vector
  * deletes (rows don't move), OPTIMIZE/bin-packing and copy-on-write
  * deletes (rows move; the rewrite materializes ids into a physical
  * column). The watermark only grows, so ids are never reissued. */
class RowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def mkLake(tag: String): Lakehouse =
    new Lakehouse(spark, Files.createTempDirectory(s"graft-$tag").toString)

  private def batch(ids: Seq[Long]) =
    ids.map(i => (i, s"v$i")).toDF("k", "payload").coalesce(1)

  private def idsOf(lake: Lakehouse, name: String): Map[Long, Long] =
    lake.tableWithRowIds(name).select("k", "_row_id").as[(Long, Long)].collect().toMap

  test("enable backfills live files; appends extend; ids are dense in commit order") {
    val lake = mkLake("rt")
    lake.appendBronze("t", batch(Seq(10L, 20L)).orderBy("k"))
    lake.enableRowTracking("t")
    assert(lake.rowIdWatermark("t").contains(2L))
    lake.appendBronze("t", batch(Seq(30L, 40L, 50L)).orderBy("k"))
    assert(lake.rowIdWatermark("t").contains(5L))
    assert(idsOf(lake, "t") ==
      Map(10L -> 0L, 20L -> 1L, 30L -> 2L, 40L -> 3L, 50L -> 4L))
    // enable is idempotent; writers cannot provide the engine-owned columns
    lake.enableRowTracking("t")
    assert(lake.rowIdWatermark("t").contains(5L))
    assert(lake.describeDetail("bronze", "t").head()
      .getAs[Long]("row_id_watermark") == 5L)
    val err = intercept[IllegalArgumentException] {
      lake.appendBronze("t", batch(Seq(60L)).withColumn("_row_id", lit(9L)))
    }
    assert(err.getMessage.contains("engine-owned"))
  }

  test("ids survive DV delete, bin-packing rewrite (DV purge) and full OPTIMIZE") {
    val lake = mkLake("rtstab")
    lake.appendBronze("t", batch(Seq(1L, 2L, 3L)).orderBy("k"))
    lake.enableRowTracking("t")
    lake.appendBronze("t", batch(Seq(4L, 5L, 6L)).orderBy("k"))
    val before = idsOf(lake, "t")
    // vector delete: positions don't move, survivors keep their ids
    lake.deleteBronzeWhereDv("t", col("k") % 3 === 0)
    val afterDv = idsOf(lake, "t")
    assert(afterDv == before.removedAll(Seq(3L, 6L)))
    // bin-packing rewrites the vectored files: ids MATERIALIZE and hold
    lake.compactSmall("bronze", "t")
    assert(idsOf(lake, "t") == afterDv, "bin-packing changed row ids")
    // a full OPTIMIZE rewrite (all files) holds them too
    lake.compact("bronze", "t", numFiles = 2)
    assert(idsOf(lake, "t") == afterDv, "OPTIMIZE changed row ids")
    // and fresh appends continue from the watermark, never reusing ids
    lake.appendBronze("t", batch(Seq(7L)).orderBy("k"))
    val ids = idsOf(lake, "t")
    assert(ids(7L) == 6L && ids.values.toSeq.distinct.size == ids.size)
  }

  test("copy-on-write delete preserves survivors' ids") {
    val lake = mkLake("rtcow")
    lake.appendBronze("t", batch(Seq(1L, 2L, 3L, 4L)).orderBy("k"))
    lake.enableRowTracking("t")
    val before = idsOf(lake, "t")
    lake.deleteBronzeWhere("t", col("k") % 2 === 0)
    assert(idsOf(lake, "t") == before.removedAll(Seq(2L, 4L)),
      "CoW rewrite changed surviving row ids")
  }

  test("merge keeps unmatched rows' ids; matched rows re-insert under fresh ids") {
    val lake = mkLake("rtmerge")
    lake.appendBronze("t", batch(Seq(1L, 2L, 3L)).orderBy("k"))
    lake.enableRowTracking("t")
    lake.mergeBronze("t", Seq((2L, "upd"), (9L, "new")).toDF("k", "payload")
      .orderBy("k").coalesce(1), Seq("k"))
    val ids = idsOf(lake, "t")
    assert(ids(1L) == 0L && ids(3L) == 2L, "untouched rows lost their ids")
    assert(Set(ids(2L), ids(9L)) == Set(3L, 4L),
      "merge batch did not draw fresh ids from the watermark")
  }

  test("RESTORE to a pre-enable version refuses instead of re-assigning ids") {
    val lake = mkLake("rtrespre")
    lake.appendBronze("t", batch(Seq(1L, 2L)).orderBy("k"))
    lake.appendBronze("t", batch(Seq(3L)).orderBy("k"))
    val preEnable = lake.committedBronzeVersion("t")
    lake.enableRowTracking("t")
    val before = idsOf(lake, "t")
    val err = intercept[IllegalArgumentException] {
      lake.restoreBronze("t", preEnable)
    }
    assert(err.getMessage.contains("predates"))
    assert(idsOf(lake, "t") == before, "failed restore disturbed row ids")
  }

  test("RESTORE never lowers the watermark") {
    val lake = mkLake("rtres")
    lake.appendBronze("t", batch(Seq(1L, 2L)).orderBy("k"))
    lake.enableRowTracking("t")
    val preV = lake.committedBronzeVersion("t")
    lake.appendBronze("t", batch(Seq(3L, 4L)).orderBy("k"))
    lake.restoreBronze("t", preV)
    assert(lake.rowIdWatermark("t").contains(4L), "restore lowered the watermark")
    lake.appendBronze("t", batch(Seq(5L)).orderBy("k"))
    assert(idsOf(lake, "t") == Map(1L -> 0L, 2L -> 1L, 5L -> 4L),
      "restored-away ids were reissued")
  }
}
