package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Identity columns ([[Lakehouse.addIdentityColumn]], Delta's GENERATED
  * ALWAYS AS IDENTITY) and column defaults ([[Lakehouse.setColumnDefault]]):
  * engine-allocated values via log-atomic range reservation (unique,
  * gap-tolerant, never reissued — including across RESTORE), writer-side
  * default fill that applies only to writes after declaration, and the
  * schema-change guards both bindings demand. */
class IdentityDefaultSpec extends SparkSpec {
  import spark.implicits._

  private def mkLake(tag: String): Lakehouse =
    new Lakehouse(spark, Files.createTempDirectory(s"graft-$tag").toString)

  private def batch(ids: Seq[Long]) =
    ids.map(i => (i, s"v$i")).toDF("k", "payload").coalesce(1)

  test("identity allocates dense ranks per sorted batch, rides the log, refuses provided values") {
    val lake = mkLake("idc")
    // declares at table creation: the log exists before any data
    lake.addIdentityColumn("t", "rid")
    lake.appendBronze("t", batch(Seq(30L, 10L, 20L)).orderBy("k"))
    val after1 = lake.table("bronze", "t").select("k", "rid").as[(Long, Long)].collect().toMap
    assert(after1 == Map(10L -> 1L, 20L -> 2L, 30L -> 3L))
    // a fresh instance continues from the logged watermark
    val lake2 = new Lakehouse(spark, lake.root)
    lake2.appendBronze("t", batch(Seq(50L, 40L)).orderBy("k"))
    val after2 = lake2.table("bronze", "t").select("k", "rid").as[(Long, Long)].collect().toMap
    assert(after2 == after1 ++ Map(40L -> 4L, 50L -> 5L))
    assert(lake2.identityColumns("t").head.highWatermark.contains(5L))
    assert(lake2.describeDetail("bronze", "t").head()
      .getAs[Long]("num_identity_columns") == 1L)
    // GENERATED ALWAYS: a writer providing the column is refused
    val err = intercept[IllegalArgumentException] {
      lake2.appendBronze("t", batch(Seq(60L)).withColumn("rid", lit(99L)))
    }
    assert(err.getMessage.contains("GENERATED ALWAYS AS IDENTITY"))
    // declaring a second identity on a table with committed data is refused
    val err2 = intercept[IllegalArgumentException] {
      lake2.addIdentityColumn("t", "rid2")
    }
    assert(err2.getMessage.contains("committed data files"))
  }

  test("identity start/step respected; merge draws fresh ids for matched rows") {
    val lake = mkLake("idstep")
    lake.addIdentityColumn("t", "rid", start = 100L, step = 10L)
    lake.appendBronze("t", batch(Seq(1L, 2L, 3L)).orderBy("k"))
    val ids1 = lake.table("bronze", "t").select("k", "rid").as[(Long, Long)].collect().toMap
    assert(ids1 == Map(1L -> 100L, 2L -> 110L, 3L -> 120L))
    // merge re-inserts the matched row: it draws a FRESH id (delete +
    // insert semantics — documented), and the new row draws the next
    lake.mergeBronze("t", Seq((2L, "updated"), (4L, "new")).toDF("k", "payload")
      .orderBy("k").coalesce(1), Seq("k"))
    val ids2 = lake.table("bronze", "t").select("k", "rid").as[(Long, Long)].collect().toMap
    assert(ids2(1L) == 100L && ids2(3L) == 120L, "untouched rows keep their ids")
    assert(ids2(2L) == 130L && ids2(4L) == 140L, "merged rows draw fresh ids in batch order")
    assert(lake.identityColumns("t").head.highWatermark.contains(140L))
  }

  test("RESTORE keeps the watermark at the farthest point ever reached") {
    val lake = mkLake("idres")
    lake.addIdentityColumn("t", "rid")
    lake.appendBronze("t", batch(Seq(1L, 2L, 3L)).orderBy("k"))
    val preV = lake.committedBronzeVersion("t")
    lake.appendBronze("t", batch(Seq(4L, 5L)).orderBy("k"))
    // restore away the second batch: ids 4..5 were allocated by a version
    // that no longer exists — they must STILL never be reissued
    lake.restoreBronze("t", preV)
    assert(lake.table("bronze", "t").count() == 3)
    assert(lake.identityColumns("t").head.highWatermark.contains(5L),
      "restore lowered the identity watermark")
    lake.appendBronze("t", batch(Seq(6L, 7L)).orderBy("k"))
    val ids = lake.table("bronze", "t").select("rid").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L, 6L, 7L), s"reissued restored-away ids: $ids")
  }

  test("defaults fill omitted columns after declaration only; provided values pass unvalidated") {
    val lake = mkLake("def")
    lake.appendBronze("t", batch(Seq(1L)))              // pre-declaration
    lake.setColumnDefault("t", "tier", "'unrated'")
    lake.appendBronze("t", batch(Seq(2L)))              // filled
    lake.appendBronze("t", batch(Seq(3L)).withColumn("tier", lit("gold"))) // provided
    lake.dropColumnDefault("t", "tier")
    lake.appendBronze("t", batch(Seq(4L)))              // NULL again
    val got = lake.table("bronze", "t").select("k", "tier").as[(Long, Option[String])]
      .collect().toMap
    assert(got == Map(1L -> None, 2L -> Some("unrated"), 3L -> Some("gold"), 4L -> None))
    // the binding rides the log
    val lake2 = new Lakehouse(spark, lake.root)
    assert(lake2.columnDefaults("t") == Seq.empty)
  }

  test("default expressions must be column-free; bindings are mutually exclusive; schema guards hold") {
    val lake = mkLake("defguard")
    lake.appendBronze("t", batch(Seq(1L)))
    val err = intercept[IllegalArgumentException] {
      lake.setColumnDefault("t", "tier", "k * 2") // references a column
    }
    assert(err.getMessage.contains("column-free"))
    // `id` must not leak into scope from the probe frame (range(1) would
    // accept it and turn the "default" row-dependent)
    val errId = intercept[IllegalArgumentException] {
      lake.setColumnDefault("t", "tier", "id % 2")
    }
    assert(errId.getMessage.contains("column-free"))
    lake.setColumnDefault("t", "tier", "'x'")
    lake.appendBronze("t", batch(Seq(2L))) // lands tier='x', so the column exists in schema
    // a defaulted column cannot also be generated, and vice versa
    val mx = intercept[IllegalArgumentException] {
      lake.addGeneratedColumn("t", "tier", "'x'")
    }
    assert(mx.getMessage.contains("mutually exclusive"))
    // widening a defaulted column is refused until the default drops
    lake.setColumnDefault("t", "score", "cast(7 as int)")
    lake.appendBronze("t", batch(Seq(3L))) // lands score=7 as INT
    val wd = intercept[IllegalArgumentException] {
      lake.widenBronzeColumnType("t", "score", org.apache.spark.sql.types.LongType)
    }
    assert(wd.getMessage.contains("DEFAULT"))
    lake.dropColumnDefault("t", "score")
    lake.widenBronzeColumnType("t", "score", org.apache.spark.sql.types.LongType)
    assert(lake.table("bronze", "t").filter(col("k") === 3L)
      .select("score").as[Long].head() == 7L)
    // an identity column is LONG already: no widening applies to it
    val lake3 = mkLake("idguard")
    lake3.addIdentityColumn("u", "rid")
    lake3.appendBronze("u", batch(Seq(1L)))
    val ir = intercept[IllegalArgumentException] {
      lake3.widenBronzeColumnType("u", "rid", org.apache.spark.sql.types.LongType)
    }
    assert(ir.getMessage.contains("cannot widen"))
  }

  test("RESTORE restores the default set of the target version") {
    val lake = mkLake("defres")
    lake.appendBronze("t", batch(Seq(1L)))
    val preV = lake.committedBronzeVersion("t")
    lake.setColumnDefault("t", "tier", "'x'")
    lake.restoreBronze("t", preV)
    assert(lake.columnDefaults("t") == Seq.empty,
      "restore kept a default declared after the target version")
    lake.appendBronze("t", batch(Seq(2L)))
    assert(lake.table("bronze", "t").columns.forall(_ != "tier"))
  }
}
