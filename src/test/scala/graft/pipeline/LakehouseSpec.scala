package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

import Fixtures.{d, ts}

/** Storage-layer behaviors: compaction (the OPTIMIZE parity op) and the
  * delete-everything edge of the idempotent re-run primitive. */
class LakehouseSpec extends SparkSpec {
  import spark.implicits._

  test("compact rewrites a fragmented table to the target file count, data unchanged") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-compact").toString)
    // 40 tiny writes → a fragmented table (the small-files problem OPTIMIZE fixes)
    val df = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(40)
    lake.materialize("silver", "frag", df)
    def partFiles = lake.liveFileCount("silver", "frag")
    assert(partFiles > 10, s"fixture not fragmented: $partFiles files")
    val before = lake.table("silver", "frag").orderBy("id").collect().toSeq
    lake.compact("silver", "frag", numFiles = 2)
    assert(partFiles <= 2, s"compaction left $partFiles files")
    assert(lake.table("silver", "frag").orderBy("id").collect().toSeq == before)
  }

  test("deleteByRunId that removes every row leaves a readable empty table") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-delall").toString)
    val ctx = Bronze.RunContext("only-run", "r1", d("2025-06-01"), ts("2025-06-01 10:00:00"))
    Bronze.ingest(lake, ctx, _ => Map("channels_raw" -> Seq("""{"items": []}""")))
    assert(lake.table("bronze", "channels_raw").count() == 1)
    // the run covered ALL rows: a partitioned empty rewrite would leave an
    // unreadable directory (no data files to infer a schema from)
    lake.deleteByRunId("channels_raw", "only-run")
    val t = lake.table("bronze", "channels_raw")
    assert(t.count() == 0)
    assert(t.columns.contains("payload") && t.columns.contains("snapshot_date"))
    // and the table keeps accepting appends afterwards
    val ctx2 = Bronze.RunContext("run2", "r2", d("2025-06-02"), ts("2025-06-02 10:00:00"))
    Bronze.ingest(lake, ctx2, _ => Map("channels_raw" -> Seq("""{"items": []}""")))
    assert(lake.table("bronze", "channels_raw").count() == 1)
  }

  test("crash mid-ingest: bronze readers keep the committed file set; debris is GC'd") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-bcrash").toString)
    val ctx1 = Bronze.RunContext("run1", "r1", d("2025-06-01"), ts("2025-06-01 10:00:00"))
    Bronze.ingest(lake, ctx1, _ => Map("channels_raw" -> Seq("""{"items": [1]}""")))
    val committed = lake.table("bronze", "channels_raw").collect().map(_.toString).sorted.toSeq
    // a crashed append: data files fully written, manifest NEVER committed
    val base = Paths.get(lake.root, "bronze", "channels_raw")
    lake.table("bronze", "channels_raw").limit(1)
      .write.parquet(base.resolve("_a2").toString)
    assert(Files.exists(base.resolve("_a2")))
    // readers see exactly the committed version — the half-appended data
    // is invisible (the Delta-bronze guarantee)
    assert(lake.table("bronze", "channels_raw")
      .collect().map(_.toString).sorted.toSeq == committed)
    // the next successful append commits normally; VACUUM (the explicit
    // maintenance op, Delta semantics) then removes the orphaned files
    val ctx2 = Bronze.RunContext("run2", "r2", d("2025-06-02"), ts("2025-06-02 10:00:00"))
    Bronze.ingest(lake, ctx2, _ => Map("channels_raw" -> Seq("""{"items": [2]}""")))
    assert(lake.table("bronze", "channels_raw").count() == 2)
    lake.vacuumBronze("channels_raw", retainMillis = 0L)
    assert(!Files.exists(base.resolve("_a2")), "crashed-append debris survived vacuum")
    assert(lake.table("bronze", "channels_raw").count() == 2, "vacuum touched live files")
  }

  test("bronze schema evolution: a wider append widens the LOG schema (ADD COLUMNS parity)") {
    import spark.implicits._
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-bschema").toString)
    val ctx = Bronze.RunContext("run1", "r1", d("2025-06-01"), ts("2025-06-01 10:00:00"))
    Bronze.ingest(lake, ctx, _ => Map("channels_raw" -> Seq("""{"items": [1]}""")))
    val preWiden = lake.tableVersions("bronze", "channels_raw").max
    // the reference widens run tables with ALTER TABLE ADD COLUMNS
    // (finalize_run_log.py:82-93); here a wider append evolves the schema
    // tracked IN the log — no parquet footer merging at read time
    val wide = lake.table("bronze", "channels_raw")
      .withColumn("run_status", org.apache.spark.sql.functions.lit("success"))
      .withColumn("run_id", org.apache.spark.sql.functions.lit("run2"))
    lake.appendBronze("channels_raw", wide)
    val t = lake.table("bronze", "channels_raw")
    assert(t.columns.contains("run_status"))
    val byRun = t.collect().map(r =>
      r.getAs[String]("run_id") -> Option(r.getAs[String]("run_status"))).toMap
    assert(byRun("run1").isEmpty, "pre-widen rows must read NULL for the new column")
    assert(byRun("run2").contains("success"))
    // AS OF the pre-widen version: the old schema
    assert(!lake.tableAt("bronze", "channels_raw", preWiden).columns.contains("run_status"))
    // a delete rewrite preserves the widened schema
    lake.deleteByRunId("channels_raw", "run2")
    assert(lake.table("bronze", "channels_raw").columns.contains("run_status"))
    // type CHANGES are rejected — evolution is ADD COLUMNS only
    val clash = lake.table("bronze", "channels_raw")
      .withColumn("run_status", org.apache.spark.sql.functions.lit(7L))
    intercept[IllegalArgumentException] {
      lake.appendBronze("channels_raw", clash)
    }
  }

  test("concurrent bronze appends: every writer's rows commit (CAS, no lost update)") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-bconc").toString)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = 4
    val perWriter = 3
    val fs = (0 until writers).map { w =>
      Future {
        (0 until perWriter).foreach { i =>
          val ctx = Bronze.RunContext(s"run-$w-$i", s"r$w$i",
            d("2025-06-01"), ts("2025-06-01 10:00:00"))
          Bronze.ingest(lake, ctx,
            _ => Map("channels_raw" -> Seq(s"""{"items": ["$w-$i"]}""")))
        }
      }
    }
    fs.foreach(Await.result(_, 5.minutes))
    val runs = lake.table("bronze", "channels_raw")
      .select("run_id").collect().map(_.getString(0)).sorted.toSeq
    val expected = (for (w <- 0 until writers; i <- 0 until perWriter)
      yield s"run-$w-$i").sorted
    assert(runs == expected, s"lost updates: got ${runs.size}/${expected.size} rows")
    // the log advanced once per committed transaction (each ingest is a
    // no-op delete + one append): monotone versions, one winner each
    assert(lake.tableVersions("bronze", "channels_raw").max >= writers * perWriter)
  }

  test("compactClustered: OPTIMIZE ZORDER parity — rewrite + stats, skipping works, data unchanged") {
    import graft.pipeline.ManifestStats.{StatGte, StatLte}
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-optz").toString)
    val n = 128 * 128
    val grid = spark.range(n.toLong)
      .select((col("id") % 128).cast("int").as("x"),
        ((col("id") / 128) % 128).cast("int").as("y"),
        col("id").as("payload"))
    lake.materialize("silver", "g", grid) // unclustered, no stats
    val before = lake.table("silver", "g").orderBy("payload").collect().toSeq
    lake.compactClustered("silver", "g", "x", "y", numFiles = 16)
    assert(lake.table("silver", "g").orderBy("payload").collect().toSeq == before,
      "clustering must not change the data")
    val all = lake.prunedFilePaths("silver", "g", Nil)
    val corner = lake.prunedFilePaths("silver", "g",
      Seq(StatGte("x", 0), StatLte("x", 15), StatGte("y", 0), StatLte("y", 15)))
    assert(all.size >= 12 && corner.size <= all.size / 4,
      s"corner rectangle kept ${corner.size}/${all.size} files")
  }

  test("bronze compaction rewrites the live file set within the log, data unchanged") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-bcompact").toString)
    // 5 appends → 5 live files across 5 append dirs (the small-files problem)
    (1 to 5).foreach { i =>
      val ctx = Bronze.RunContext(s"run$i", s"r$i", d(f"2025-06-$i%02d"),
        ts(f"2025-06-$i%02d 10:00:00"))
      Bronze.ingest(lake, ctx, _ => Map("channels_raw" -> Seq(s"""{"items": [$i]}""")))
    }
    val before = lake.table("bronze", "channels_raw")
      .collect().map(_.toString).sorted.toSeq
    assert(lake.prunedFilePaths("bronze", "channels_raw", Nil).size >= 5)
    lake.compact("bronze", "channels_raw", numFiles = 1)
    assert(lake.prunedFilePaths("bronze", "channels_raw", Nil).size == 1,
      "compaction must leave one live file")
    assert(lake.table("bronze", "channels_raw")
      .collect().map(_.toString).sorted.toSeq == before)
    // stats were rebuilt: a run-scoped delete still prunes (now a no-op scan
    // is impossible — one file holds everything — but the predicate read
    // and rewrite stay correct)
    lake.deleteByRunId("channels_raw", "run3")
    assert(lake.table("bronze", "channels_raw").count() == 4)
  }

  test("bronze time travel: the pre-delete file set stays readable one commit back") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-btt").toString)
    val ctx1 = Bronze.RunContext("run1", "r1", d("2025-06-01"), ts("2025-06-01 10:00:00"))
    val ctx2 = Bronze.RunContext("run2", "r2", d("2025-06-02"), ts("2025-06-02 10:00:00"))
    Bronze.ingest(lake, ctx1, _ => Map("channels_raw" -> Seq("""{"items": [1]}""")))
    Bronze.ingest(lake, ctx2, _ => Map("channels_raw" -> Seq("""{"items": [2]}""")))
    val versions = lake.tableVersions("bronze", "channels_raw")
    assert(versions.size == 2, s"retention window should hold 2 versions, got $versions")
    // AS OF the first version: only run1's row
    val v1 = lake.tableAt("bronze", "channels_raw", versions.head)
    assert(v1.select("run_id").collect().map(_.getString(0)).toSeq == Seq("run1"))
    assert(lake.table("bronze", "channels_raw").count() == 2)
    // a delete commits a new version; the predecessor (both rows) stays
    // readable (retention reaches at least one commit back — further when
    // the checkpoint chain keeps more), GC'd versions fail fast
    lake.deleteByRunId("channels_raw", "run1")
    val after = lake.tableVersions("bronze", "channels_raw")
    val predecessor = after.takeRight(2).head
    assert(lake.tableAt("bronze", "channels_raw", predecessor).count() == 2)
    assert(lake.table("bronze", "channels_raw").count() == 1)
    intercept[IllegalArgumentException] {
      lake.tableAt("bronze", "channels_raw", versions.head - 1)
    }
  }

  test("delete with stats pruning: an absent run_id is a no-version no-op") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-bnoop").toString)
    val ctx1 = Bronze.RunContext("run1", "r1", d("2025-06-01"), ts("2025-06-01 10:00:00"))
    Bronze.ingest(lake, ctx1, _ => Map("channels_raw" -> Seq("""{"items": [1]}""")))
    def version: Int = lake.tableVersions("bronze", "channels_raw").max
    val v1 = version
    // run_id outside every file's [min,max] → candidate set empty → no scan,
    // no rewrite, no new version (the stats-bounded idempotent re-ingest)
    lake.deleteByRunId("channels_raw", "zzz-absent-run")
    assert(version == v1, "no-op delete must not commit a new version")
    assert(lake.table("bronze", "channels_raw").count() == 1)
  }

  test("bronze commit cost is O(new files): delta records + checkpoint cadence bound the log") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-dlog").toString,
      bronzeCheckpointInterval = 5)
    def append(t: String, i: Int): Unit =
      lake.appendBronze(t, Seq((i.toLong, s"v$i", d(f"2025-06-${i % 27 + 1}%02d"), s"run$i"))
        .toDF("id", "v", "snapshot_date", "run_id").repartition(1))
    (1 to 3).foreach(append("small", _))
    (1 to 23).foreach(append("big", _))
    append("small", 99) // v4: delta
    append("big", 99) // v24: delta
    val bigBase = Paths.get(lake.root, "bronze", "big")
    def manifestSize(t: String, v: Int): Long =
      Files.size(Paths.get(lake.root, "bronze", t).resolve(s"_files_v$v"))
    // the same one-file append must cost the same log bytes whether 3 or 23
    // files are live — THE commit-scaling property (pre-delta logs rewrote
    // the full manifest, so big's record was ~8x small's)
    val (s4, b24) = (manifestSize("small", 4), manifestSize("big", 24))
    assert(math.abs(s4 - b24) < 64,
      s"delta record size must track NEW files, not live files: small=$s4 big=$b24")
    // ...and be far smaller than a full snapshot (v20 is big's checkpoint)
    assert(manifestSize("big", 20) > b24 * 4,
      s"checkpoint=${manifestSize("big", 20)}B vs delta=${b24}B")
    // correctness through the chain: all 24 appends visible
    assert(lake.table("bronze", "big").count() == 24)
    // pruning keeps exactly checkpoint..current (the chain stays intact)
    assert(lake.tableVersions("bronze", "big") == (20 to 24),
      s"got ${lake.tableVersions("bronze", "big")}")
    // time travel to a mid-chain DELTA version resolves through its parents
    assert(lake.tableAt("bronze", "big", 22).count() == 22)
    // a delete commits as a remove-only delta (v26: the file holding run6
    // rewrites away entirely — no survivors, no added file)
    lake.deleteByRunId("big", "run5") // v25 → forced checkpoint (interval)
    lake.deleteByRunId("big", "run6") // v26 → delta
    val v26 = new String(Files.readAllBytes(bigBase.resolve("_files_v26")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(v26.linesIterator.toSeq.contains("#delta") && v26.contains("#rm"),
      s"remove-only delete must land as a delta record:\n$v26")
    assert(lake.table("bronze", "big").count() == 22)
    // vacuum reclaims the deleted files; the live chain still reads
    lake.vacuumBronze("big", keepVersions = 1, retainMillis = 0L)
    assert(lake.table("bronze", "big").count() == 22)
    assert(lake.tableAt("bronze", "big", lake.tableVersions("bronze", "big").max).count() == 22)
  }

  test("a record whose schema line is URL-encoded JSON, the earlier encoding, still reads") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-schemaenc").toString)
    lake.appendBronze("t", Seq((1L, d("2025-06-01"), "run1")).toDF("id", "snapshot_date", "run_id"))
    val rec = Paths.get(lake.root, "bronze", "t", "_files_v1")
    val lines = new String(Files.readAllBytes(rec), "UTF-8").split("\n", -1).toSeq
    // new records carry the schema as DDL text
    val logSchema = org.apache.spark.sql.types.StructType.fromDDL(
      lines.find(_.startsWith("#schema\t")).get.stripPrefix("#schema\t"))
    val before = lake.table("bronze", "t").schema
    Files.write(rec, lines.map(l => if (!l.startsWith("#schema\t")) l
      else "#schema\t" + java.net.URLEncoder.encode(logSchema.json, "UTF-8"))
      .mkString("\n").getBytes("UTF-8"))
    val back = new Lakehouse(spark, lake.root)
    assert(back.table("bronze", "t").schema == before)
    assert(back.table("bronze", "t").count() == 1)
  }

  test("schema override re-points a logical layer at a different physical schema") {
    // dbt-style indirection (reference dbt/models/schema.yml): the same code
    // writes to silver_dev when the override is set, silver when it isn't —
    // and the two tables are independent
    val root = Files.createTempDirectory("graft-schema").toString
    val dev = new Lakehouse(spark, root, Map("silver" -> "silver_dev"))
    val prod = new Lakehouse(spark, root)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    dev.materialize("silver", "t", df)
    assert(Files.exists(Paths.get(root, "silver_dev", "t")))
    assert(!Files.exists(Paths.get(root, "silver", "t")))
    assert(dev.table("silver", "t").count() == 2)
    assert(dev.exists("silver", "t") && !prod.exists("silver", "t"))
    prod.materialize("silver", "t", df.limit(1))
    assert(prod.table("silver", "t").count() == 1)
    assert(dev.table("silver", "t").count() == 2)
  }

  test("crash mid-materialize: readers keep the committed version; a re-run recovers") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-txn").toString)
    lake.materialize("silver", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = lake.table("silver", "t").orderBy("id").collect().toSeq
    assert(v1.size == 2)
    val base = Paths.get(lake.root, "silver", "t")
    def liveDirs = lake.prunedFilePaths("silver", "t", Nil)
      .map(p => Paths.get(p).getParent.getFileName.toString).toSet
    val v1Dirs = liveDirs
    // simulate a refresh that died mid-write: a half-written append dir
    // exists (invalid parquet debris) but its log record was never linked
    val crashed = base.resolve("_a2_crashed")
    Files.createDirectories(crashed)
    Files.write(crashed.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(lake.table("silver", "t").orderBy("id").collect().toSeq == v1,
      "reader saw the uncommitted version")
    // a re-run of the refresh commits atomically past the debris
    lake.materialize("silver", "t", Seq((1L, "a2"), (3L, "c")).toDF("id", "v"))
    val v2 = lake.table("silver", "t").orderBy("id").collect().toSeq
    assert(v2.map(_.getString(1)) == Seq("a2", "c"))
    val v2Dirs = liveDirs
    // the predecessor's data dir survives one commit (in-flight readers),
    // older ones are dropped by the next winning commit
    assert(v1Dirs.forall(d => Files.exists(base.resolve(d))))
    lake.materialize("silver", "t", Seq((9L, "z")).toDF("id", "v"))
    assert(v1Dirs.forall(d => !Files.exists(base.resolve(d))) &&
      v2Dirs.forall(d => Files.exists(base.resolve(d))))
    assert(lake.table("silver", "t").count() == 1)
    // the debris is in no commit: it waits for vacuum, like bronze debris
    assert(Files.exists(crashed))
    lake.vacuum("silver", "t", retainMillis = 0L)
    assert(!Files.exists(crashed))
    assert(lake.table("silver", "t").count() == 1)
  }

  test("a materialize that crashed before its commit leaves no table; the next one commits version 1") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-txn0").toString)
    val base = Paths.get(lake.root, "silver", "t")
    // the first refresh staged its append dir and died before the record link
    Seq((99L, "debris")).toDF("id", "v").write.parquet(base.resolve("_a1_crashed").toString)
    assert(!lake.exists("silver", "t"), "a directory of crash debris is not a table")
    val e = intercept[IllegalArgumentException](lake.table("silver", "t"))
    assert(e.getMessage.contains("silver.t"), e.getMessage)
    val rows = Seq((1L, "a"), (2L, "b"))
    lake.materialize("silver", "t", rows.toDF("id", "v"))
    assert(lake.exists("silver", "t"))
    assert(lake.tableVersion("silver", "t") == 1)
    assert(lake.table("silver", "t").orderBy("id").as[(Long, String)].collect().toSeq == rows)
  }

  test("a materialized table gets the log's history, rowCount, stats pruning and retained versions") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-mlog").toString)
    def batch(lo: Long) = (lo until lo + 100).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id"))
    lake.materialize("silver", "t", batch(0L), statsCols = Seq("id"))
    lake.materialize("silver", "t", batch(1000L), statsCols = Seq("id"))
    val h = lake.history("silver", "t").orderBy("version").collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(1, 2), h.mkString(","))
    assert(h.forall(_.getString(2) == "WRITE"), h.mkString(","))
    assert(lake.rowCount("silver", "t").contains(100L))
    val probe = Seq(ManifestStats.StatGte("id", 1075L))
    val all = lake.prunedFilePaths("silver", "t", Nil)
    val hit = lake.tableWhere("silver", "t", probe)
    assert(all.size >= 2 && hit.inputFiles.length < all.size,
      s"stats did not prune: ${hit.inputFiles.length} of ${all.size} files read")
    assert(hit.filter(col("id") >= 1075L).count() == 25)
    assert(lake.tableVersions("silver", "t") == Seq(1, 2))
  }

  test("time travel: the predecessor version stays readable until GC'd; others fail fast") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-tt").toString)
    lake.materialize("silver", "t", Seq((1L, "v1")).toDF("id", "v"))
    lake.materialize("silver", "t", Seq((1L, "v2"), (2L, "v2")).toDF("id", "v"))
    assert(lake.tableVersion("silver", "t") == 2)
    assert(lake.tableVersions("silver", "t") == Seq(1, 2))
    assert(lake.tableAt("silver", "t", 1).collect().map(_.getString(1)).toSeq == Seq("v1"))
    assert(lake.tableAt("silver", "t", 2).orderBy("id").collect().toSeq
      == lake.table("silver", "t").orderBy("id").collect().toSeq)
    lake.materialize("silver", "t", Seq((3L, "v3")).toDF("id", "v"))
    assert(lake.tableVersions("silver", "t") == Seq(2, 3)) // v1 GC'd
    val e = intercept[IllegalArgumentException](lake.tableAt("silver", "t", 1))
    assert(e.getMessage.contains("not on disk"))
  }

  test("OCC slot claim: a foreign commit marker pushes the writer to the next version") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-occ").toString)
    lake.materialize("silver", "t", Seq((1L, "v1")).toDF("id", "v"))
    // another writer already committed version 2 (here: a re-commit of v1's
    // files, the shape a blind-overwrite CAS loser lands)
    val base = Paths.get(lake.root, "silver", "t")
    val v1Record = new String(Files.readAllBytes(base.resolve("_files_v1")), "UTF-8")
    Files.write(base.resolve("_files_v2"),
      ("2" + v1Record.dropWhile(_ != '\n')).getBytes("UTF-8"))
    lake.materialize("silver", "t", Seq((1L, "v-next")).toDF("id", "v"))
    assert(lake.tableVersion("silver", "t") == 3, "writer must land past the foreign record")
    assert(lake.table("silver", "t").head().getString(1) == "v-next")
    assert(lake.tableVersions("silver", "t") == Seq(2, 3))
    assert(lake.tableAt("silver", "t", 2).head().getString(1) == "v1")
  }

  test("OCC: concurrent full refreshes of one table serialize without corruption") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-occ2").toString)
    lake.materialize("silver", "t", Seq((0L, "seed")).toDF("id", "v"))
    val writers = (1 to 2).map { w =>
      Future {
        for (round <- 1 to 3)
          lake.materialize("silver", "t",
            Seq((w.toLong, s"w$w-r$round")).toDF("id", "v"))
        w
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    // the committed record points at ONE writer's ONE round — never a torn
    // mix. Every CAS loser re-commits its files on the next version, so
    // every round lands: the head is 1 + 2×3, and the last commit is some
    // writer's final round
    val rows = lake.table("silver", "t").collect()
    assert(rows.length == 1)
    val v = rows.head.getString(1)
    assert(v.matches("w[12]-r3"), s"torn, foreign or stale final payload $v")
    assert(lake.tableVersion("silver", "t") == 7)
  }

  test("transactMerge: a commit landing after the read is a detected conflict, then the retry merges on top of it") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-txm").toString)
    lake.materialize("silver", "t", Seq((1L, "base")).toDF("id", "v"))
    // first attempt reads v1, a competitor commits v2 mid-transaction: the
    // v2 commit of the merge loses, and the second attempt merges on top
    // of the competitor's rows
    var calls = 0
    val attempts = lake.transactMerge("silver", "t") { existing =>
      calls += 1
      if (calls == 1)
        lake.materialize("silver", "t", Seq((2L, "interloper")).toDF("id", "v"))
      existing.unionByName(Seq((9L, "merged")).toDF("id", "v"))
    }
    assert(attempts == 2 && calls == 2)
    val rows = lake.table("silver", "t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((2L, "interloper"), (9L, "merged")),
      s"merge must build on the interloper's commit, got $rows")
    // the lost attempt committed nothing and deleted what it staged: the
    // append dirs on disk are exactly those of the retained versions
    assert(lake.tableVersions("silver", "t") == Seq(2, 3), "aborted txn left a version")
    val base = Paths.get(lake.root, "silver", "t")
    val onDisk = Files.list(base).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(_.getFileName.toString).filter(_.startsWith("_a")).toSet
    val retained = Seq(2, 3).flatMap(v => lake.tableAt("silver", "t", v).inputFiles)
      .map(p => Paths.get(new java.net.URI(p)).getParent.getFileName.toString).toSet
    assert(onDisk == retained, s"aborted txn left debris: ${onDisk -- retained}")
  }

  test("transactMerge: uncontended merge commits in one attempt with normal retention") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-txm1").toString)
    lake.materialize("silver", "t", Seq((1L, "a")).toDF("id", "v"))
    val attempts = lake.transactMerge("silver", "t")(
      _.unionByName(Seq((2L, "b")).toDF("id", "v")))
    assert(attempts == 1)
    assert(lake.tableVersion("silver", "t") == 2)
    assert(lake.table("silver", "t").count() == 2)
    assert(lake.tableVersions("silver", "t") == Seq(1, 2))
  }

  test("tableVersions exposes only the retention window, never sub-window debris") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-ttd").toString)
    (1 to 3).foreach(i => lake.materialize("silver", "t", Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val base = Paths.get(lake.root, "silver", "t")
    // a complete-looking append dir no record references (a crashed or
    // abandoned writer) must not read as history
    Seq((99L, "debris")).toDF("id", "v").write.parquet(base.resolve("_a1_debris").toString)
    assert(lake.tableVersions("silver", "t") == Seq(2, 3))
    intercept[IllegalArgumentException](lake.tableAt("silver", "t", 1))
    assert(lake.table("silver", "t").collect().map(_.getString(1)).toSeq == Seq("v3"))
  }

  test("vacuum wall-clock floor: versions inside the retention window keep their files") {
    // Delta's `VACUUM ... RETAIN n HOURS` contract, clock-injected: a
    // version committed within the window keeps its data files no matter
    // how small keepVersions is; once the clock passes the window the
    // same vacuum call reclaims them.
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-vacret").toString,
      bronzeCheckpointInterval = 5)
    (1 to 4).foreach { i =>
      lake.appendBronze("t", Seq((i.toLong, d("2025-06-01"), s"run$i"))
        .toDF("id", "snapshot_date", "run_id").repartition(1))
    }
    lake.deleteByRunId("t", "run1") // run1's file leaves the live set
    val versions = lake.tableVersions("bronze", "t")
    val t0 = System.currentTimeMillis()
    // inside the window: nothing reclaimed even at keepVersions = 1
    lake.vacuumBronze("t", keepVersions = 1, retainMillis = 60000L, now = t0)
    assert(lake.tableAt("bronze", "t", versions.head).count() == 1,
      "a version committed inside the retention window lost its files")
    // fresh UNREFERENCED debris survives too (it may be an in-flight writer)
    val base = Paths.get(lake.root, "bronze", "t")
    Seq((99L, d("2025-06-02"), "inflight")).toDF("id", "snapshot_date", "run_id")
      .repartition(1).write.parquet(base.resolve("_a99_inflight").toString)
    lake.vacuumBronze("t", keepVersions = 1, retainMillis = 60000L, now = t0)
    assert(Files.exists(base.resolve("_a99_inflight")),
      "vacuum deleted files younger than the retention window")
    // the clock passes the window: both reclaim
    lake.vacuumBronze("t", keepVersions = 1, retainMillis = 60000L, now = t0 + 120000L)
    assert(!Files.exists(base.resolve("_a99_inflight")), "expired debris survived")
    val e = intercept[IllegalArgumentException] {
      lake.tableAt("bronze", "t", versions.head)
    }
    assert(e.getMessage.contains("vacuumed") && e.getMessage.contains("retainMillis"),
      s"expected the fail-fast to cite the wall-clock floor, got: ${e.getMessage}")
    assert(lake.table("bronze", "t").count() == 3, "vacuum touched live rows")
  }

  test("tableAt fails fast (with the remedy) when a retained version's files were vacuumed") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-ttv").toString,
      bronzeCheckpointInterval = 5)
    (1 to 6).foreach { i =>
      lake.appendBronze("t", Seq((i.toLong, d("2025-06-01"), s"run$i"))
        .toDF("id", "snapshot_date", "run_id").repartition(1))
    }
    lake.deleteByRunId("t", "run1") // v7: run1's file leaves the live set
    val versions = lake.tableVersions("bronze", "t")
    assert(versions.size >= 3, s"need a checkpoint-chain window, got $versions")
    // vacuum protecting only the newest version: run1's file is reclaimed,
    // but the checkpoint chain still ADVERTISES the older versions
    lake.vacuumBronze("t", keepVersions = 1, retainMillis = 0L)
    val e = intercept[IllegalArgumentException] {
      lake.tableAt("bronze", "t", versions.head)
    }
    assert(e.getMessage.contains("vacuumed") && e.getMessage.contains("keepVersions"),
      s"expected a fail-fast with remedy, got: ${e.getMessage}")
    assert(lake.tableAt("bronze", "t", versions.max).count() == 5, "live version must still read")
  }

  test("bronzeCheckpointInterval < 1 is rejected at construction") {
    val root = Files.createTempDirectory("graft-ckpt0").toString
    intercept[IllegalArgumentException](new Lakehouse(spark, root, bronzeCheckpointInterval = 0))
    intercept[IllegalArgumentException](new Lakehouse(spark, root, bronzeCheckpointInterval = -3))
  }

  test("stats-pruned resolve goes distributed through the checkpoint parquet twin: driver holds O(matching + delta tail), not O(live files)") {
    import graft.pipeline.ManifestStats.StatEq
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-ckptpq").toString,
      bronzeCheckpointInterval = 5)
    // 15 appends x 5 files: v15 is a checkpoint with 75 live entries — over
    // the twin floor, so the parquet twin lands alongside the text record
    (1 to 15).foreach { i =>
      lake.appendBronze("t", (1 to 20).map(r =>
          ((i * 100 + r).toLong, d(f"2025-07-$i%02d"), s"run$i"))
        .toDF("id", "snapshot_date", "run_id").repartition(5))
    }
    val base = Paths.get(lake.root, "bronze", "t")
    assert(Files.list(base).toArray.map(_.toString)
      .exists(_.contains("_ckpt_v15_")), "checkpoint parquet twin missing")
    // a delta tail on top of the checkpoint
    (16 to 17).foreach { i =>
      lake.appendBronze("t", Seq((i.toLong * 100, d(f"2025-08-${i - 15}%02d"), s"run$i"))
        .toDF("id", "snapshot_date", "run_id").repartition(1))
    }
    // selective probe: one date = one append's 5 files out of 77 live
    val probe = Seq(StatEq("snapshot_date", d("2025-07-03")))
    val (paths, held) = lake.prunedFilePathsMetered("bronze", "t", probe)
    assert(paths.size == 5, s"expected the date's 5 files, got ${paths.size}")
    assert(held <= 8, s"driver materialized $held entries for a 5-file probe over 77 live files")
    assert(lake.tableWhere("bronze", "t", probe).count() == 20,
      "pruned scan must return exactly the probed date's rows")
    // no-match probe: the driver holds only the delta tail
    val (none, heldNone) = lake.prunedFilePathsMetered("bronze", "t",
      Seq(StatEq("snapshot_date", d("1999-01-01"))))
    assert(none.isEmpty && heldNone <= 2, s"got ${none.size} paths / $heldNone entries")
    assert(lake.tableWhere("bronze", "t",
      Seq(StatEq("snapshot_date", d("1999-01-01")))).count() == 0)
    // run-scoped probe through the same path (run_id stats are strings)
    val (runPaths, _) = lake.prunedFilePathsMetered("bronze", "t",
      Seq(StatEq("run_id", "run16")))
    assert(runPaths.size == 1, s"got ${runPaths.size}")
    // a delete rewrite stays correct through the twin chain: drop one run,
    // then the probe of a REMOVED file's date finds the post-delete state
    val preDelete = lake.tableVersions("bronze", "t").max
    lake.deleteByRunId("t", "run3")
    assert(lake.tableWhere("bronze", "t", probe).count() == 0,
      "distributed resolve must apply the delete's remove-list")
    assert(lake.table("bronze", "t").count() == 15 * 20 - 20 + 2)
    // AS-OF reads go through the same twin: a selective probe at the
    // PRE-DELETE version sees run3's rows again, and the driver still
    // holds O(matching + delta tail) — never that version's 77 entries
    val (asOf, heldAsOf) = lake.tableAtWhereMetered("bronze", "t", preDelete, probe)
    assert(asOf.count() == 20, "AS-OF pruned scan must see the pre-delete rows")
    assert(heldAsOf <= 8,
      s"driver materialized $heldAsOf entries for an AS-OF 5-file probe")
    val (asOfNone, heldAsOfNone) = lake.tableAtWhereMetered("bronze", "t", preDelete,
      Seq(StatEq("snapshot_date", d("1999-01-01"))))
    assert(asOfNone.count() == 0 && heldAsOfNone <= 2,
      s"got $heldAsOfNone entries for a no-match AS-OF probe")
  }

  test("footer-based stats collection equals the aggregate scan on every tracked type") {
    // the commit-side stats pass reads parquet FOOTERS (O(files) metadata)
    // instead of re-scanning the appended data; bounds must be IDENTICAL
    // to the aggregate pass for every type the encoding tracks — includes
    // a supplementary char (footer binary stats are unsigned byte order,
    // the cmp collation), a pre-epoch timestamp (floor micros), nulls,
    // and an empty output file
    val dir = Files.createTempDirectory("graft-footstats").resolve("data").toString
    val df = Seq(
      (1L, 42, d("2025-06-01"), ts("2025-06-01 10:00:00"), "alpha", true, 1.5,
        Option(7L), BigDecimal("12.34")),
      (2L, -7, d("2025-07-04"), java.sql.Timestamp.valueOf("1969-12-31 23:59:59.123456"),
        "Ω😀", false, -2.25, Option.empty[Long], BigDecimal("-0.5")),
      (3L, 0, d("2024-01-01"), ts("2025-08-15 00:00:00"), "zulu", true, 99.0,
        Option(-3L), BigDecimal("7.00")))
      .toDF("l", "i", "dt", "tstamp", "s", "b", "f", "opt", "dec")
    df.repartition(4).write.parquet(dir) // 3 rows / 4 files: one file empty
    val cols = Seq("l", "i", "dt", "tstamp", "s", "b", "f", "opt", "dec")
    val foot = ManifestStats.collectStats(spark, dir, cols, "p")
    val scan = ManifestStats.collectStatsScan(spark.read.parquet(dir), dir, cols, "p")
    assert(foot.map(_.relPath) == scan.map(_.relPath))
    foot.zip(scan).foreach { case (fe, se) =>
      // DECIMAL is deliberately untracked by the footer path (the scan
      // encodes it lossily through double); everything else must agree
      assert(fe.stats == (se.stats - "dec"), s"${fe.relPath}: ${fe.stats} vs ${se.stats}")
      assert(!fe.stats.contains("dec"))
    }
    val tags = foot.flatMap(_.stats.values.map(_.tag)).toSet
    assert(tags == Set('l', 'f', 's', 'b'), s"missing tracked tags: $tags")
    // the timestamp column actually carried stats through the footer path
    assert(foot.exists(_.stats.contains("tstamp")), "timestamp footer stats missing")
  }

  test("footer stats handle a NESTED statsCols entry instead of failing the commit") {
    // a statsCols entry naming a nested field ("s.a") matches the chunk's
    // dotted path; the type lookup must resolve by path ELEMENTS (a single
    // dotted element throws InvalidRecordException and would fail the
    // whole commit, where the old scan path just ignored the column)
    val dir = Files.createTempDirectory("graft-nested").resolve("data").toString
    Seq((1L, (10L, "x")), (2L, (20L, "y")))
      .toDF("id", "s").repartition(1).write.parquet(dir)
    val foot = ManifestStats.collectStats(spark, dir, Seq("id", "s._1", "nope"), "p")
    assert(foot.nonEmpty)
    val stats = foot.head.stats
    assert(stats.contains("id"))
    assert(stats.get("s._1").exists(s => s.min == "10" && s.max == "20"),
      s"nested column stats missing or wrong: $stats")
  }

  test("history records each commit's operation, kind and add/remove counts") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-hist").toString)
    (1 to 3).foreach { i =>
      lake.appendBronze("t", Seq((i.toLong, d("2025-06-01"), s"run$i"))
        .toDF("id", "snapshot_date", "run_id").repartition(1))
    }
    lake.deleteByRunId("t", "run1")
    lake.compact("bronze", "t", numFiles = 1)
    val h = lake.history("bronze", "t").orderBy("version").collect()
      .map(r => (r.getInt(0), r.getString(2), r.getString(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5)))
    assert(h.map(_._1).toSeq == lake.tableVersions("bronze", "t"))
    // v1-3 appends (v1 = first commit → checkpoint), v4 run-aligned delete
    // (op DELETE RUN, from deleteByRunId),
    // v5 OPTIMIZE
    assert(h.map(_._2).toSeq ==
      Seq("APPEND", "APPEND", "APPEND", "DELETE RUN", "OPTIMIZE"), h.mkString(","))
    assert(h.map(_._3).toSeq ==
      Seq("checkpoint", "delta", "delta", "delta", "checkpoint"), h.mkString(","))
    val byV = h.map(x => x._1 -> x).toMap
    assert(byV(2)._4 == 1 && byV(2)._5 == 0, byV(2).toString) // append: +1/-0
    assert(byV(4)._4 == 0 && byV(4)._5 == 1, byV(4).toString) // delete drops run1's file
    // checkpoints are header-peeked only: per-commit metrics read NULL
    // (deriving them would materialize O(live files) on the driver)
    assert(byV(1)._4 == -1 && byV(5)._4 == -1 && byV(5)._5 == -1, byV(5).toString)
    // ZORDER records its own operation name
    lake.compactClustered("bronze", "t", "id", "id", numFiles = 1)
    assert(lake.history("bronze", "t").orderBy(col("version").desc)
      .head().getString(2) == "OPTIMIZE ZORDER")
    // a materialized table commits on the same log: its refresh is history
    lake.materialize("silver", "m", Seq((1L, "a")).toDF("id", "v"))
    assert(lake.history("silver", "m").collect().map(_.getString(2)).toSeq == Seq("WRITE"))
    // a table that was never written: empty history, never an error
    assert(lake.history("gold", "nope").isEmpty)
  }

  test("describeDetail reports log-resolved metadata for each table format") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-detail").toString)
    (1 to 2).foreach { i =>
      lake.appendBronze("t", Seq((i.toLong, d("2025-06-01"), s"run$i"),
          (i + 10L, d("2025-06-01"), s"run$i"))
        .toDF("id", "snapshot_date", "run_id").repartition(1))
    }
    // a partial DV delete: one vector, cardinality 1, rows 4 -> 3
    lake.deleteBronzeWhereDv("t", col("id") === 1L)
    val r = lake.describeDetail("bronze", "t").head()
    assert(r.getAs[String]("format") == "file-log")
    assert(r.getAs[Int]("version") == lake.tableVersions("bronze", "t").max)
    assert(r.getAs[Long]("num_files") == 2)
    assert(r.getAs[Long]("size_bytes") > 0)
    assert(r.getAs[Long]("num_rows") == 3)
    assert(r.getAs[Long]("num_deletion_vectors") == 1)
    assert(r.getAs[Long]("dv_cardinality") == 1)
    assert(r.getAs[Long]("num_nodata_dirs") == 0)
    assert(!r.isNullAt(r.fieldIndex("last_modified")))
    // OPTIMIZE purges the vector and commits dataChange=false
    lake.compact("bronze", "t", numFiles = 1)
    val o = lake.describeDetail("bronze", "t").head()
    assert(o.getAs[Long]("num_deletion_vectors") == 0)
    assert(o.getAs[Long]("num_rows") == 3)
    assert(o.getAs[Long]("num_nodata_dirs") == 1)
    // the full log-feature surface: declare one of each, DESCRIBE reports it
    lake.setColumnDefault("t", "run_id", "'backfill'")
    lake.enableRowTracking("t")
    lake.appendBronze("t", Seq((100L, d("2025-06-02")))
      .toDF("id", "snapshot_date").repartition(1), txn = Some(("app-x", 1L)))
    val f = lake.describeDetail("bronze", "t").head()
    assert(!f.schema.fieldNames.exists(c => c.contains("constraint") || c.contains("renamed")))
    assert(f.getAs[Long]("num_column_defaults") == 1)
    assert(f.getAs[Long]("num_txn_app_ids") == 1)
    assert(!f.isNullAt(f.fieldIndex("row_id_watermark")) &&
      f.getAs[Long]("row_id_watermark") >= 4)
    // identity declares on an empty table, generated binds to an existing
    // column — both on their own table
    lake.addIdentityColumn("t2", "sk")
    lake.appendBronze("t2", Seq((1L, "a", 1L)).toDF("k", "tag", "k_mod").repartition(1))
    lake.addGeneratedColumn("t2", "k_mod", "k % 7")
    val f2 = lake.describeDetail("bronze", "t2").head()
    assert(f2.getAs[Long]("num_identity_columns") == 1)
    assert(f2.getAs[Long]("num_generated_columns") == 1)
    // materialized: the same log-resolved metadata; its log-feature
    // counters are zeros (a full rewrite commits plain rows) and the
    // row-id watermark stays NULL (row tracking was never enabled)
    lake.materialize("silver", "m", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val m = lake.describeDetail("silver", "m").head()
    assert(m.getAs[String]("format") == "file-log")
    assert(m.getAs[Int]("version") == 1 && m.getAs[Long]("num_files") > 0)
    assert(m.getAs[Long]("size_bytes") > 0)
    assert(m.getAs[Long]("num_rows") == 2, "materialized num_rows from the log")
    Seq("num_deletion_vectors", "dv_cardinality", "num_nodata_dirs",
      "num_identity_columns", "num_column_defaults", "num_generated_columns",
      "num_txn_app_ids")
      .foreach(c => assert(m.getAs[Long](c) == 0L, s"$c should be a definitive 0"))
    assert(m.isNullAt(m.fieldIndex("row_id_watermark")))
    // a table that was never written fails fast, naming the table
    val e = intercept[IllegalArgumentException](lake.describeDetail("gold", "nope"))
    assert(e.getMessage.contains("gold.nope"), e.getMessage)
  }

  test("footer stats merge across multiple row groups, equal to the scan") {
    // tiny parquet block size forces several row groups per file — the
    // footer path must merge chunk bounds across ALL blocks, and its
    // coverage rule must accept a column present in every block
    val dir = Files.createTempDirectory("graft-footrg").resolve("data").toString
    spark.range(50000L).select(col("id"),
        concat(lit("k"), lpad((col("id") * 37 % 1000).cast("string"), 4, "0")).as("s"),
        (col("id") % 2 === 0).as("b"))
      .repartition(1)
      .write.option("parquet.block.size", "4096").parquet(dir)
    val blocks = {
      val f = ManifestStats.listParquet(dir).head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/$f"),
        spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.size() finally r.close()
    }
    assert(blocks > 1, s"fixture must span row groups, got $blocks block(s)")
    val cols = Seq("id", "s", "b")
    val foot = ManifestStats.collectStats(spark, dir, cols, "p")
    val scan = ManifestStats.collectStatsScan(spark.read.parquet(dir), dir, cols, "p")
    assert(foot.size == 1 && foot.head.stats == scan.head.stats,
      s"${foot.head.stats} vs ${scan.head.stats}")
    assert(foot.head.stats.keySet ==
      Set("id", "s", "b", ManifestStats.SizeCol, ManifestStats.RowsCol))
  }

  test("footer stats of a bulk commit collect on the executors, same result") {
    // above DistributeFooterThreshold files the footer reads fan out to
    // executors (a bulk load's commit must not serialize tens of
    // thousands of metadata reads on the driver); result must be
    // identical to the driver-side path's ordering and bounds
    val dir = Files.createTempDirectory("graft-footdist").resolve("data").toString
    val n = ManifestStats.DistributeFooterThreshold + 6
    spark.range(1000L).select(col("id"),
        (col("id") % 97).cast("string").as("run_id"))
      .repartition(n).write.parquet(dir)
    val cols = Seq("id", "run_id")
    val dist = ManifestStats.collectStats(spark, dir, cols, "p")
    val scan = ManifestStats.collectStatsScan(spark.read.parquet(dir), dir, cols, "p")
    assert(dist.size == n)
    assert(dist.map(_.relPath) == scan.map(_.relPath))
    dist.zip(scan).foreach { case (de, se) =>
      assert(de.stats == se.stats, s"${de.relPath}: ${de.stats} vs ${se.stats}") }
  }

  test("envSchemaOverrides parses GRAFT_SCHEMA_* vars, ignoring unset layers") {
    val env = Map("GRAFT_SCHEMA_SILVER" -> "silver_ci", "GRAFT_SCHEMA_GOLD" -> "gold_blue")
    assert(Lakehouse.envSchemaOverrides(env.get) ==
      Map("silver" -> "silver_ci", "gold" -> "gold_blue"))
    assert(Lakehouse.envSchemaOverrides(_ => None) == Map.empty)
  }
  test("VACUUM keeps every live file and vector and leaves only referenced parquet") {
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-vacsafe").toString)
    def batch(run: String, ids: Seq[Long]) =
      ids.map(i => (i, d("2025-06-01"), run)).toDF("id", "snapshot_date", "run_id")
        .repartition(1)
    lake.appendBronze("t", batch("r1", Seq(1L, 2L, 3L)))
    lake.appendBronze("t", batch("r2", Seq(4L, 5L)))
    lake.compact("bronze", "t", numFiles = 1)       // strands r1's and r2's files
    lake.appendBronze("t", batch("r3", Seq(6L, 7L, 8L)))
    lake.deleteBronzeWhereDv("t", col("id") === 7L) // a vector on r3's file
    lake.deleteBronzeWhereDv("t", col("id") === 8L) // a merged one supersedes it
    val base = lake.tableDir("bronze", "t")
    def allFiles(): Set[String] = {
      val w = Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => base.relativize(p).toString.replace('\\', '/')).toSet
      } finally w.close()
    }
    // the head's entries: (data file, deletion vector) as table-relative paths
    def live(): Seq[(String, Option[String])] =
      lake.prunedFilePathsMetered("bronze", "t", Nil)._1.map { case (abs, dv) =>
        base.relativize(Paths.get(abs)).toString.replace('\\', '/') -> dv }
    val rowsBefore = lake.table("bronze", "t").orderBy("id").collect().toSeq
    val head = live()
    assert(head.exists(_._2.isDefined), "fixture needs a live deletion vector")
    val before = allFiles()
    assert(lake.vacuumBronze("t", keepVersions = 1, retainMillis = 0L) == 0)
    val after = allFiles()
    head.foreach { case (f, dv) =>
      assert(after.contains(f), s"vacuum deleted live file $f")
      dv.foreach(v => assert(after.contains(v), s"vacuum deleted live vector $v"))
    }
    val referenced = head.map(_._1).toSet
    val parquet = after.filter(f => f.startsWith("_a") && f.endsWith(".parquet"))
    assert(parquet == referenced, s"unreferenced parquet kept: ${parquet -- referenced}")
    // something was reclaimed: the stranded files and the superseded vector
    val dvFiles = (fs: Set[String]) => fs.filter(_.endsWith(".dv"))
    assert(dvFiles(before).size == 2 && dvFiles(after) == head.flatMap(_._2).toSet)
    assert((before -- after).exists(_.endsWith(".parquet")))
    assert(live() == head, "vacuum changed the head")
    assert(lake.table("bronze", "t").orderBy("id").collect().toSeq == rowsBefore)
  }

  test("log I/O of one table() read and one 1-row append is pinned") {
    // a table with no metadata lines (no txn, generated, identity, default
    // or row-tracking state) and a fixed short history: v1 a checkpoint,
    // v2 and v3 deltas
    val lake = new Lakehouse(spark, Files.createTempDirectory("graft-logio").toString)
    def batch(run: String, i: Long) =
      Seq((i, d("2025-06-01"), run)).toDF("id", "snapshot_date", "run_id").repartition(1)
    (1 to 3).foreach(i => lake.appendBronze("t", batch(s"r$i", i.toLong)))
    // (directory listings, record-header reads, full record reads)
    def cost(f: => Any): (Long, Long, Long) = {
      val (l0, h0, r0) = lake.logIo.counts
      f
      val (l1, h1, r1) = lake.logIo.counts
      (l1 - l0, h1 - h0, r1 - r0)
    }
    val read = cost(lake.table("bronze", "t"))
    val append = cost(lake.appendBronze("t", batch("r4", 4L)))
    assert(read == ((1L, 0L, 3L)), s"table() read: $read")
    assert(append == ((14L, 17L, 9L)), s"1-row append: $append")
    assert(lake.table("bronze", "t").count() == 4)
  }
}
