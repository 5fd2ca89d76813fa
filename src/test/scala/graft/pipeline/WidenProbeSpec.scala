package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Type widening ([[Lakehouse.widenBronzeColumnType]], Delta's
  * `ALTER COLUMN TYPE` widening) — metadata-only: the log schema's column
  * type widens and old files' narrower pages decode at the wide type
  * natively. The first test is the PROBE the feature rests on: Spark's
  * parquet readers (vectorized and row-based) both widen
  * INT32→LONG / FLOAT→DOUBLE / DECIMAL(10,2)→DECIMAL(12,2) at scan time. */
class WidenProbeSpec extends SparkSpec {
  import spark.implicits._

  test("probe: both parquet readers decode narrower pages at the widened type") {
    val dir = Files.createTempDirectory("graft-widen").toString
    Seq((1, 1.5f, BigDecimal("12.34"))).toDF("i", "f", "d")
      .withColumn("d", col("d").cast(DecimalType(10, 2)))
      .repartition(1).write.mode("overwrite").parquet(dir)
    val wide = StructType(Seq(
      StructField("i", LongType), StructField("f", DoubleType),
      StructField("d", DecimalType(12, 2))))
    for (vec <- Seq(true, false)) {
      spark.conf.set("spark.sql.parquet.enableVectorizedReader", vec.toString)
      try {
        val r = spark.read.schema(wide).parquet(dir).collect().head
        assert(r.getLong(0) == 1L && r.getDouble(1) == 1.5d &&
          r.getDecimal(2) == new java.math.BigDecimal("12.34"))
      } finally spark.conf.set("spark.sql.parquet.enableVectorizedReader", "true")
    }
  }

  private def mkLake(tag: String): Lakehouse =
    new Lakehouse(spark, Files.createTempDirectory(s"graft-$tag").toString)

  private def rows(run: String, recs: Seq[(Int, Float)]) =
    recs.map { case (id, v) => (id, v, graft.pipeline.Fixtures.d("2025-06-01"), run) }
      .toDF("id", "score", "snapshot_date", "run_id").repartition(1)

  private def appendDirCount(lake: Lakehouse, table: String): Int = {
    val base = Paths.get(lake.root, "bronze", table)
    val s = Files.list(base)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.count(_.getFileName.toString.startsWith("_a"))
    } finally s.close()
  }

  test("widen is metadata-only; mixed narrow/wide files read at the wide type; AS-OF keeps the old type") {
    val lake = mkLake("widen1")
    lake.appendBronze("t", rows("r1", Seq((1, 1.5f), (2, 2.5f))),
      statsCols = Lakehouse.BronzeStatsCols :+ "id")
    val preWiden = lake.committedBronzeVersion("t")
    val dirsBefore = appendDirCount(lake, "t")

    lake.widenBronzeColumnType("t", "id", LongType)
    lake.widenBronzeColumnType("t", "score", DoubleType)
    assert(appendDirCount(lake, "t") == dirsBefore, "widen rewrote data")
    assert(lake.history("bronze", "t").orderBy(col("version").desc)
      .select("operation").first().getString(0) == "WIDEN COLUMN")

    // old (int/float) files read at the widened types
    val t = lake.table("bronze", "t")
    assert(t.schema("id").dataType == LongType)
    assert(t.schema("score").dataType == DoubleType)
    assert(t.select(sum("id")).as[Long].head() == 3L)

    // a post-widen append carries the NEW types; mixed files read together
    lake.appendBronze("t",
      Seq((3L, 3.5d, graft.pipeline.Fixtures.d("2025-06-02"), "r2"))
        .toDF("id", "score", "snapshot_date", "run_id").repartition(1),
      statsCols = Lakehouse.BronzeStatsCols :+ "id")
    assert(lake.table("bronze", "t").select(sum("id")).as[Long].head() == 6L)

    // a narrow-typed append after the widen is refused, not silently mixed
    val err = intercept[IllegalArgumentException] {
      lake.appendBronze("t", rows("r3", Seq((9, 9.0f))))
    }
    assert(err.getMessage.contains("incompatible type"))

    // AS-OF a pre-widen version reads that version's own narrower schema
    val old = lake.tableAt("bronze", "t", preWiden)
    assert(old.schema("id").dataType == IntegerType)
    assert(old.schema("score").dataType == FloatType)

    // stats skipping keeps working across the widen: a long-valued probe
    // prunes to the covering files only (old files' stats recorded from
    // INT pages, same 'l' tag)
    val hit = lake.prunedFilePaths("bronze", "t", Seq(ManifestStats.StatEq("id", 3L)))
    val miss = lake.prunedFilePaths("bronze", "t", Seq(ManifestStats.StatEq("id", 99L)))
    assert(hit.nonEmpty && miss.isEmpty)

    // the WIDEN commit itself contributes nothing to the change feed
    val feed = lake.tableChanges("t", preWiden, preWiden + 2)
    assert(feed.count() == 0)
  }

  test("unsupported changes are refused: narrowing, cross-family, decimal scale change") {
    val lake = mkLake("widen2")
    lake.appendBronze("t", rows("r1", Seq((1, 1.0f))))
    def refuse(colName: String, to: DataType): Unit = {
      val e = intercept[IllegalArgumentException] {
        lake.widenBronzeColumnType("t", colName, to)
      }
      assert(e.getMessage.contains("not a supported lossless widening"))
    }
    refuse("id", ShortType) // narrowing
    refuse("id", StringType) // cross-family
    refuse("score", FloatType) // identity
    refuse("run_id", LongType) // string → numeric
    intercept[IllegalArgumentException] {
      lake.widenBronzeColumnType("t", "nope", LongType)
    }
  }

  test("a vector delete over a widened column reads the pre-widen file at the wide type") {
    val lake = mkLake("widen3")
    lake.appendBronze("t", rows("r1", Seq((1, 1.0f), (2, 2.0f))))
    lake.widenBronzeColumnType("t", "id", LongType)
    // the pre-widen file reads at LONG
    val t = lake.table("bronze", "t")
    assert(t.schema("id").dataType == LongType)
    assert(t.select(sum("id")).as[Long].head() == 3L)
    // and survives DML on the widened column
    lake.deleteBronzeWhereDv("t", col("id") === 1L, Nil)
    assert(lake.table("bronze", "t").select(sum("id")).as[Long].head() == 2L)
  }
}
