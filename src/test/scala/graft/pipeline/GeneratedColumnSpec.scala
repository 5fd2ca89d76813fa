package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

import Fixtures.d

/** Generated columns ([[Lakehouse.addGeneratedColumn]], Delta's GENERATED
  * ALWAYS AS): writers that omit the column get it computed before
  * staging; writers that provide it are validated row-for-row; the set
  * rides the log so enforcement binds any writer; RESTORE restores the
  * declaring version's set; schema changes on involved columns are
  * refused. */
class GeneratedColumnSpec extends SparkSpec {
  import spark.implicits._

  private def mkLake(tag: String): Lakehouse =
    new Lakehouse(spark, Files.createTempDirectory(s"graft-$tag").toString)

  private def rows(run: String, recs: Seq[(Long, Long)]) =
    recs.map { case (id, b) => (id, b, d("2025-06-01"), run) }
      .toDF("id", "bucket", "snapshot_date", "run_id").repartition(1)

  private def bare(run: String, ids: Seq[Long]) =
    ids.map(i => (i, d("2025-06-01"), run)).toDF("id", "snapshot_date", "run_id")
      .repartition(1)

  test("declare validates existing rows; appends compute when absent, validate when provided") {
    val lake = mkLake("gen")
    lake.appendBronze("t", rows("r1", Seq((10L, 0L), (17L, 7L))))
    // contradicting rows block the declaration
    val bad = intercept[IllegalArgumentException] {
      lake.addGeneratedColumn("t", "bucket", "id % 5")
    }
    assert(bad.getMessage.contains("contradict"))
    lake.addGeneratedColumn("t", "bucket", "id % 10")
    assert(lake.generatedColumns("t") == Seq("bucket" -> "id % 10"))

    // a batch WITHOUT the column gets it computed before staging
    lake.appendBronze("t", bare("r2", Seq(27L)))
    assert(lake.table("bronze", "t").filter(col("id") === 27L)
      .select("bucket").as[Long].head() == 7L)
    // a batch providing CORRECT values passes
    lake.appendBronze("t", rows("r3", Seq((33L, 3L))))
    // a batch providing WRONG values is rejected before commit
    val v = lake.committedBronzeVersion("t")
    val err = intercept[IllegalArgumentException] {
      lake.appendBronze("t", rows("r4", Seq((44L, 9L))))
    }
    assert(err.getMessage.contains("contradicting its expression"))
    assert(lake.committedBronzeVersion("t") == v, "violating batch committed")
    assert(lake.table("bronze", "t").count() == 4)

    // the binding rides the log: a fresh instance computes and validates too
    val lake2 = new Lakehouse(spark, lake.root)
    lake2.appendBronze("t", bare("r5", Seq(58L)))
    assert(lake2.table("bronze", "t").filter(col("id") === 58L)
      .select("bucket").as[Long].head() == 8L)
  }

  test("merge computes omitted generated columns and validates provided ones") {
    val lake = mkLake("genmerge")
    lake.appendBronze("t", rows("r1", Seq((10L, 0L), (21L, 1L))))
    lake.addGeneratedColumn("t", "bucket", "id % 10")
    // upsert WITHOUT the column: computed
    lake.mergeBronze("t", bare("m1", Seq(21L, 35L)), Seq("id"))
    val t = lake.table("bronze", "t")
    assert(t.count() == 3)
    assert(t.filter(col("id") === 35L).select("bucket").as[Long].head() == 5L)
    assert(t.filter(col("id") === 21L).select("run_id").as[String].head() == "m1")
    // upsert with WRONG values: rejected, target unchanged
    val v = lake.committedBronzeVersion("t")
    intercept[IllegalArgumentException] {
      lake.mergeBronze("t", rows("m2", Seq((35L, 4L))), Seq("id"))
    }
    assert(lake.committedBronzeVersion("t") == v)
  }

  test("RESTORE restores the target version's generated set; schema changes on involved columns are refused") {
    val lake = mkLake("genrestore")
    lake.appendBronze("t", rows("r1", Seq((10L, 0L))))
    val preDeclare = lake.committedBronzeVersion("t")
    lake.addGeneratedColumn("t", "bucket", "id % 10")

    // widening an involved column: refused even when the widening itself
    // would be legal (INT → LONG) — the expression's result type would shift
    val lw = mkLake("genwiden")
    lw.appendBronze("t", Seq((1L, 1, d("2025-06-01"), "r1"))
      .toDF("id", "b", "snapshot_date", "run_id").repartition(1))
    lw.addGeneratedColumn("t", "b", "cast(id % 10 as int)")
    assert(intercept[IllegalArgumentException] {
      lw.widenBronzeColumnType("t", "b", org.apache.spark.sql.types.LongType)
    }.getMessage.contains("generated column"))

    // restore to the pre-declare version drops the binding with the state
    lake.restoreBronze("t", preDeclare)
    assert(lake.generatedColumns("t").isEmpty)
    lake.appendBronze("t", bare("r2", Seq(7L))) // bare batch: no computation, NULL bucket
    assert(lake.table("bronze", "t").filter(col("id") === 7L)
      .filter(col("bucket").isNull).count() == 1)
  }

  test("validation-failure staged-dir hygiene never deletes a committed dir") {
    // the failure-path delete of a staged dir must skip any dir the
    // manifest ever owned (live OR deleted-since), else it destroys live
    // data
    val lake = mkLake("genstaged")
    lake.appendBronze("t", rows("r1", Seq((10L, 0L), (17L, 7L))))
    val base = java.nio.file.Paths.get(lake.root, "bronze", "t")
    val s = Files.list(base)
    val committedDir = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_a")).toSeq.sorted.head
    } finally s.close()
    lake.deleteStagedIfUncommitted(base, base.resolve(committedDir))
    assert(Files.isDirectory(base.resolve(committedDir)),
      "hygiene deleted a dir whose files are live in the manifest")
    assert(lake.table("bronze", "t").count() == 2)
    // a dir the manifest never owned IS debris and is removed
    val debris = base.resolve("_a99_debris")
    Files.createDirectories(debris)
    Files.write(debris.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    lake.deleteStagedIfUncommitted(base, debris)
    assert(!Files.exists(debris), "uncommitted staged debris survived hygiene")
  }
}
