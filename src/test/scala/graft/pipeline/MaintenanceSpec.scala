package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec

class MaintenanceSpec extends SparkSpec {

  import spark.implicits._

  test("fragmented bronze bin-packs its small files; settled tables skip; reruns converge") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-maint").toString)
    (1 to 6).foreach { i =>
      lake.appendBronze("frag", Seq((i.toLong, java.sql.Date.valueOf("2025-06-01"), s"run$i"))
        .toDF("id", "snapshot_date", "run_id").repartition(2))
    }
    lake.appendBronze("small", Seq((1L, java.sql.Date.valueOf("2025-06-01"), "run1"))
      .toDF("id", "snapshot_date", "run_id").repartition(1))
    assert(lake.liveFileCount("bronze", "frag") == 12)
    val smallVersion = lake.tableVersion("bronze", "small")

    val report = Maintenance.run(lake)
    assert(report.status == "ok", report.toString)
    assert(report.optimized == Seq("bronze.frag"))
    assert(report.skipped == Seq("bronze.small"),
      "a below-threshold table must skip without a rewrite")
    assert(lake.liveFileCount("bronze", "frag") == 1,
      s"12 tiny files should pack into one, got ${lake.liveFileCount("bronze", "frag")}")
    assert(lake.table("bronze", "frag").count() == 6, "OPTIMIZE changed the data")
    assert(lake.tableVersion("bronze", "small") == smallVersion,
      "a compact table was rewritten — the pass must stay cheap every run")

    // convergence: the packed output is itself under-sized, but ONE small
    // file never re-triggers — the second pass is a version-stable no-op
    val fragVersion = lake.tableVersion("bronze", "frag")
    val again = Maintenance.run(lake)
    assert(again.optimized.isEmpty, again.toString)
    assert(lake.tableVersion("bronze", "frag") == fragVersion,
      "repeated OPTIMIZE must converge, not rewrite forever")
  }

  test("compactSmall rewrites ONLY under-sized files; settled files keep their paths") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-binpack").toString)
    // one BIG append (well-sized at the test's targetBytes) + 5 tiny ones
    lake.appendBronze("t", (1 to 3000).map(i =>
        (i.toLong, java.sql.Date.valueOf("2025-06-01"), "bulk"))
      .toDF("id", "snapshot_date", "run_id").repartition(1))
    (1 to 5).foreach { i =>
      lake.appendBronze("t", Seq((100000L + i, java.sql.Date.valueOf("2025-06-02"), s"run$i"))
        .toDF("id", "snapshot_date", "run_id").repartition(1))
    }
    val before = lake.committedBronzeRelPaths("t").get
    val big = before.filter(_.startsWith("_a1_"))
    assert(big.size == 1 && before.size == 6)
    // candidates are files under target/2: the bulk file clears the
    // target itself, the tiny ones sit under half of it
    val target = 8192L
    assert(Files.size(lake.tableDir("bronze", "t").resolve(big.head)) > target)
    (before - big.head).foreach { p =>
      assert(Files.size(lake.tableDir("bronze", "t").resolve(p)) < target / 2) }

    assert(lake.compactSmall("bronze", "t", targetBytes = target, minSmallFiles = 4))
    val after = lake.committedBronzeRelPaths("t").get
    assert(after.contains(big.head), "a well-sized file was rewritten")
    assert((before - big.head).forall(p => !after.contains(p)),
      "an under-sized file survived the bin-pack")
    assert(lake.table("bronze", "t").count() == 3005, "bin-pack changed the data")
    // below the candidate floor: no-op, version stable
    val v = lake.tableVersion("bronze", "t")
    assert(!lake.compactSmall("bronze", "t", targetBytes = target, minSmallFiles = 4))
    assert(lake.tableVersion("bronze", "t") == v)
  }

  test("a merge-fragmented silver materialization bin-packs; settled and refresh-only tables skip; reruns converge") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-maint-silver").toString)
    // a silver table left fragmented by incremental merges: the live
    // version holds 8 tiny files (each far under target/2)
    lake.materialize("silver", "frag",
      (1 to 64).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(8))
    assert(lake.liveFileCount("silver", "frag") == 8)
    val rows0 = lake.table("silver", "frag").collect().map(_.toString).sorted.toSeq
    // a well-packed gold table must skip untouched
    lake.materialize("gold", "settled",
      (1 to 64).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(1))
    val settledV = lake.tableVersion("gold", "settled")

    val report = Maintenance.run(lake)
    assert(report.status == "ok", report.toString)
    assert(report.optimized == Seq("silver.frag"), report.toString)
    assert(report.skipped.contains("gold.settled"), report.toString)
    assert(lake.liveFileCount("silver", "frag") == 1,
      s"8 tiny files should pack into one, got ${lake.liveFileCount("silver", "frag")}")
    assert(lake.table("silver", "frag").collect().map(_.toString).sorted.toSeq == rows0,
      "OPTIMIZE changed the data")
    assert(lake.tableVersion("gold", "settled") == settledV)

    // convergence: one packed file never re-triggers
    val v = lake.tableVersion("silver", "frag")
    val again = Maintenance.run(lake)
    assert(again.optimized.isEmpty, again.toString)
    assert(lake.tableVersion("silver", "frag") == v,
      "repeated OPTIMIZE of a materialization must converge, not rewrite forever")
  }

  test("OPTIMIZE commits are dataChange=false: nodataDirs tracks packed dirs, appends never enter, attribution survives checkpoints") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-nodata").toString)
    def append(i: Long): Unit =
      lake.appendBronze("t", Seq((i, java.sql.Date.valueOf("2025-06-01"), s"run$i"))
        .toDF("id", "snapshot_date", "run_id").repartition(1))
    (1L to 5L).foreach(append)
    assert(lake.nodataDirs("bronze", "t").isEmpty, "appends must not be nodata")
    assert(lake.compactSmall("bronze", "t", targetBytes = 1L << 20, minSmallFiles = 4))
    val nd = lake.nodataDirs("bronze", "t")
    assert(nd.size == 1, s"exactly the packed dir should be nodata, got $nd")
    val live = lake.committedBronzeRelPaths("t").get
    assert(live.forall(r => nd(r.takeWhile(_ != '/'))),
      "all live files were packed — every one should sit under the nodata dir")
    // a fresh append's dir never enters the set
    append(100L)
    assert(lake.nodataDirs("bronze", "t") == nd)
    // attribution survives checkpoint pruning: cross the checkpoint cadence
    // (v10/v20 are checkpoints; records below the newest one are pruned)
    (101L to 112L).foreach(append)
    assert(lake.nodataDirs("bronze", "t") == nd,
      "nodata attribution lost across a log checkpoint")
    // a full-rewrite OPTIMIZE (compact) marks its output too
    lake.compact("bronze", "t")
    val nd2 = lake.nodataDirs("bronze", "t")
    val live2 = lake.committedBronzeRelPaths("t").get
    assert(live2.forall(r => nd2(r.takeWhile(_ != '/'))),
      "full-rewrite OPTIMIZE output must be nodata")
    assert(lake.table("bronze", "t").count() == 18, "OPTIMIZE changed the data")
  }

  test("opt-in vacuum reclaims expired debris but spares the retention window") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-maintv").toString)
    lake.appendBronze("t", Seq((1L, java.sql.Date.valueOf("2025-06-01"), "run1"))
      .toDF("id", "snapshot_date", "run_id").repartition(1))
    val base = lake.tableDir("bronze", "t")
    // a crashed writer's uncommitted dir
    Seq((9L, java.sql.Date.valueOf("2025-06-02"), "crashed"))
      .toDF("id", "snapshot_date", "run_id").repartition(1)
      .write.parquet(base.resolve("_a9_crashed").toString)
    // default 168h window: the fresh debris is potentially an in-flight
    // writer — the per-run vacuum must spare it
    val r1 = Maintenance.run(lake, vacuum = true)
    assert(r1.vacuumed == Seq("bronze.t"), r1.toString)
    assert(Files.exists(base.resolve("_a9_crashed")),
      "per-run vacuum deleted files inside the retention window")
    // the wall-clock floor is VISIBLE: the return counts what it retained
    assert(lake.vacuumBronze("t") > 0,
      "vacuum must report files retained only by the wall-clock window")
    // zero window (the explicit escape hatch): debris reclaims
    val r2 = Maintenance.run(lake, vacuum = true, vacuumRetainMillis = 0L)
    assert(r2.status == "ok", r2.toString)
    assert(!Files.exists(base.resolve("_a9_crashed")), "expired debris survived")
    assert(lake.table("bronze", "t").count() == 1, "vacuum touched live data")
  }
}
