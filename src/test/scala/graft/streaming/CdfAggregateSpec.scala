package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.pipeline.Lakehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Streams.cdfAggregateSink]] — the incremental aggregate MV maintained
  * from the change data feed, WITH retractions: deletes shrink counts and
  * sums, full retraction leaves a filtered-out zero tombstone, and the
  * merge's writer txn makes a crash-replayed tick a no-op. The invariant
  * checked everywhere: after any tick, the MV equals the from-scratch
  * groupBy of the source's visible rows. */
class CdfAggregateSpec extends SparkSpec {
  import spark.implicits._

  private def mkLake(tag: String): Lakehouse =
    new Lakehouse(spark, Files.createTempDirectory(s"graft-$tag").toString)

  private def rows(run: String, recs: Seq[(Long, String, Long)]) =
    recs.map { case (id, k, v) => (id, k, v, run) }
      .toDF("id", "grp", "val", "run_id").repartition(1)

  /** From-scratch oracle: groupBy over the source's current visible rows. */
  private def scratch(lake: Lakehouse): DataFrame =
    lake.table("bronze", "src").groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("val").as("sum_val"))

  private def same(a: DataFrame, b: DataFrame): Boolean = {
    val an = a.select("grp", "cnt", "sum_val")
    val bn = b.select(col("grp"), col("cnt"),
      col("sum_val").cast(an.schema("sum_val").dataType).as("sum_val"))
    an.exceptAll(bn).isEmpty && bn.exceptAll(an).isEmpty
  }

  test("MV tracks the from-scratch aggregate through appends, deletes and merges") {
    val lake = mkLake("cdfagg")
    val cursor = Files.createTempDirectory("graft-cdfagg-cur").toString
    def tick() = Streams.cdfAggregateSink(lake, "src", "agg",
      Seq("grp"), Seq("val"), cursor)

    lake.appendBronze("src", rows("r1",
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))))
    assert(tick().isDefined)
    assert(same(Streams.cdfAggregate(lake, "agg"), scratch(lake)))

    // more inserts + a retraction in ONE tick
    lake.appendBronze("src", rows("r2", Seq((4L, "b", 7L), (5L, "c", 1L))))
    lake.deleteBronzeWhereDv("src", col("id") === 2L, Nil) // retract (a, 20)
    assert(tick().isDefined)
    assert(same(Streams.cdfAggregate(lake, "agg"), scratch(lake)))
    val a = Streams.cdfAggregate(lake, "agg").filter(col("grp") === "a").collect().head
    assert(a.getAs[Long]("cnt") == 1L)

    // an upsert (delete+insert pair in the feed) moves value between rows
    lake.mergeBronze("src", rows("r3", Seq((3L, "b", 50L))), Seq("id"))
    assert(tick().isDefined)
    assert(same(Streams.cdfAggregate(lake, "agg"), scratch(lake)))

    // caught up: no-op tick
    assert(tick().isEmpty)
  }

  test("full retraction of a key leaves a zero tombstone the read face hides") {
    val lake = mkLake("cdfagg0")
    val cursor = Files.createTempDirectory("graft-cdfagg0-cur").toString
    def tick() = Streams.cdfAggregateSink(lake, "src", "agg",
      Seq("grp"), Seq("val"), cursor)

    lake.appendBronze("src", rows("r1", Seq((1L, "a", 10L), (2L, "b", 3L))))
    tick()
    lake.deleteBronzeWhereDv("src", col("grp") === "a", Nil)
    tick()
    // the read face shows only b; the physical table keeps a's tombstone
    assert(Streams.cdfAggregate(lake, "agg").select("grp")
      .as[String].collect().toSeq == Seq("b"))
    val phys = lake.table("bronze", "agg")
    assert(phys.filter(col("grp") === "a").select("cnt").as[Long].collect().toSeq == Seq(0L))
    assert(same(Streams.cdfAggregate(lake, "agg"), scratch(lake)))
    // the key coming BACK resumes from the tombstone
    lake.appendBronze("src", rows("r2", Seq((9L, "a", 4L))))
    tick()
    assert(same(Streams.cdfAggregate(lake, "agg"), scratch(lake)))
  }

  test("a crash-replayed tick is exactly-once: the merge txn skips, the cursor catches up") {
    val lake = mkLake("cdfaggx")
    val cursorDir = Files.createTempDirectory("graft-cdfaggx-cur")
    def tick() = Streams.cdfAggregateSink(lake, "src", "agg",
      Seq("grp"), Seq("val"), cursorDir.toString)

    lake.appendBronze("src", rows("r1", Seq((1L, "a", 10L), (2L, "b", 3L))))
    val Some((_, to1)) = tick()
    lake.appendBronze("src", rows("r2", Seq((3L, "a", 5L))))
    val Some((_, to2)) = tick()
    val expected = scratch(lake)
    assert(same(Streams.cdfAggregate(lake, "agg"), expected))

    // CRASH between the merge and the cursor advance: rewind the cursor to
    // to1 (the merge for (to1, to2] HAS landed) and replay the tick — the
    // txn check must skip the double-apply, then the cursor catches up
    val ms = Files.list(cursorDir)
    try ms.forEach(p => Files.deleteIfExists(p)) finally ms.close()
    lake.commitChangesCursor(cursorDir, to1)
    val aggVersion = lake.committedBronzeVersion("agg")
    val Some((_, to3)) = tick()
    assert(to3 == to2)
    assert(lake.committedBronzeVersion("agg") == aggVersion, "replayed merge double-applied")
    assert(same(Streams.cdfAggregate(lake, "agg"), expected))
    assert(lake.changesCursor(cursorDir) == to2)
  }
  test("a tick whose delta sums are all NULL must not wipe a key's accumulated sum") {
    val lake = mkLake("cdfaggnull")
    val cursor = Files.createTempDirectory("graft-cdfaggnull-cur").toString
    def tick() = Streams.cdfAggregateSink(lake, "src", "agg",
      Seq("grp"), Seq("val"), cursor)
    lake.appendBronze("src", rows("r1", Seq((1L, "a", 10L), (2L, "a", 20L))))
    assert(tick().isDefined)
    // tick 2: rows for "a" whose summed column is entirely NULL — the fold
    // must add 0 (SQL SUM ignores NULLs), never NULL out the 30
    lake.appendBronze("src",
      Seq((3L, "a"), (4L, "a")).toDF("id", "grp")
        .withColumn("val", lit(null).cast("long"))
        .withColumn("run_id", lit("r2")).repartition(1))
    assert(tick().isDefined)
    val a = Streams.cdfAggregate(lake, "agg").filter(col("grp") === "a").collect().head
    assert(a.getAs[Long]("cnt") == 4L)
    assert(!a.isNullAt(a.fieldIndex("sum_val")) &&
      a.getAs[Number]("sum_val").longValue() == 30L,
      s"NULL-valued tick wiped the accumulated sum: $a")
    assert(same(Streams.cdfAggregate(lake, "agg"), scratch(lake)))
  }

  test("two sources folding into one target are independent writers") {
    val lake = mkLake("cdfagg2src")
    val cur1 = Files.createTempDirectory("graft-cdfagg-c1").toString
    val cur2 = Files.createTempDirectory("graft-cdfagg-c2").toString
    // src1 reaches a HIGH version before src2's first tick — a shared txn
    // appId would make src2's first merge look like a replay and drop it
    lake.appendBronze("src1", rows("r1", Seq((1L, "a", 10L))))
    lake.appendBronze("src1", rows("r2", Seq((2L, "a", 5L))))
    lake.appendBronze("src1", rows("r3", Seq((3L, "b", 1L))))
    assert(Streams.cdfAggregateSink(lake, "src1", "agg",
      Seq("grp"), Seq("val"), cur1).isDefined)
    lake.appendBronze("src2", rows("s1", Seq((9L, "a", 100L))))
    assert(Streams.cdfAggregateSink(lake, "src2", "agg",
      Seq("grp"), Seq("val"), cur2).isDefined)
    val a = Streams.cdfAggregate(lake, "agg").filter(col("grp") === "a").collect().head
    assert(a.getAs[Long]("cnt") == 3L &&
      a.getAs[Number]("sum_val").longValue() == 115L,
      s"second source's merge was dropped as a replay: $a")
  }

  test("a registered cursor holds vacuum retention BEFORE its first commit") {
    val lake = mkLake("curhold")
    lake.appendBronze("src", rows("r1", Seq((1L, "a", 10L))))
    lake.appendBronze("src", rows("r2", Seq((2L, "b", 20L))))
    val preV = lake.committedBronzeVersion("src")
    // consumer registers (changesSink/cdfAggregateSink do this first) but
    // has NOT committed a cursor yet — mid-first-drain state
    val cursor = Files.createTempDirectory("graft-curhold").resolve("cur")
    lake.registerCursor("src", cursor.toString)
    // a CoW delete rewrites files, then an aggressive vacuum runs: the
    // registration alone must hold every version from frontier 0 on
    lake.deleteBronzeWhere("src", col("id") === 1L)
    lake.vacuumBronze("src", keepVersions = 1, retainMillis = 0L)
    // the pre-delete version is still fully readable for the drain
    assert(lake.tableAt("bronze", "src", preV).count() == 2)
    val drained = lake.tableChangesSince("src", cursor)
    assert(drained.isDefined && drained.get._1.count() >= 2,
      "first drain lost changes to vacuum")
    // decommission (delete the cursor dir) releases the hold: the same
    // vacuum now drops the version the cursor was holding
    lake.deleteRecursively(cursor)
    lake.vacuumBronze("src", keepVersions = 1, retainMillis = 0L)
    val released =
      try { lake.tableAt("bronze", "src", preV).count(); false }
      catch { case _: Throwable => true }
    assert(released, s"version $preV still resolvable after decommission + vacuum")
    // the vanished cursor dir's registry marker is swept
    val markers = Option(new java.io.File(lake.root, "_stream_state").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".state"))
    assert(markers.isEmpty, s"decommissioned cursor left its marker: ${markers.toSeq}")
  }

  test("bounded catch-up: capped ticks converge to the uncapped result") {
    val lake = mkLake("cdfaggcap")
    val cursor = Files.createTempDirectory("graft-cdfaggcap-cur").toString
    // 5 commits land while the consumer is down
    lake.appendBronze("src", rows("r1", Seq((1L, "a", 1L))))
    lake.appendBronze("src", rows("r2", Seq((2L, "a", 2L))))
    lake.appendBronze("src", rows("r3", Seq((3L, "b", 3L))))
    lake.deleteBronzeWhereDv("src", col("id") === 1L)
    lake.appendBronze("src", rows("r4", Seq((4L, "b", 4L))))
    // catch up two versions per tick; each tick's (from, to) is bounded
    var ticks = 0
    var last: Option[(Int, Int)] = Some((0, 0))
    while ({
      last = Streams.cdfAggregateSink(lake, "src", "agg",
        Seq("grp"), Seq("val"), cursor, maxVersions = 2)
      last.isDefined
    }) {
      ticks += 1
      val (from, to) = last.get
      assert(to - from <= 2, s"tick exceeded the cap: ($from, $to]")
      assert(ticks <= 10, "bounded catch-up failed to converge")
    }
    assert(ticks >= 3, s"expected >= 3 capped ticks, got $ticks")
    assert(same(Streams.cdfAggregate(lake, "agg"), scratch(lake)))
  }

  test("capped catch-up converges across an ADD COLUMNS of the summed column") {
    val lake = mkLake("cdfaggwiden")
    val cursor = Files.createTempDirectory("graft-cdfaggwiden-cur").toString
    def bare(run: String, recs: Seq[(Long, String)]) =
      recs.map { case (id, k) => (id, k, run) }
        .toDF("id", "grp", "run_id").repartition(1)
    // two commits BEFORE the summed column exists, then the widening append
    lake.appendBronze("src", bare("r1", Seq((1L, "a"))))
    lake.appendBronze("src", bare("r2", Seq((2L, "a"), (3L, "b"))))
    lake.appendBronze("src", rows("r3", Seq((4L, "a", 10L), (5L, "b", 7L))))
    // one-version ticks: the first capped ranges end BEFORE `val` existed —
    // the consumer must fill, converge, and match the from-scratch fold
    var guard = 0
    while (Streams.cdfAggregateSink(lake, "src", "agg",
        Seq("grp"), Seq("val"), cursor, maxVersions = 1).isDefined) {
      guard += 1; assert(guard <= 10, "capped consumer failed to converge")
    }
    assert(guard == 3, s"expected 3 one-version ticks, got $guard")
    assert(same(Streams.cdfAggregate(lake, "agg"), scratch(lake)))
  }

  test("the txn appId is (source, target)-scoped: another writer's frontier on the target never swallows a source's ticks") {
    val lake = mkLake("cdfaggshim2")
    val cur2 = Files.createTempDirectory("graft-shim2-c2").toString
    // another writer folded an OLD source's history to version 5 under an
    // appId that names only the target — that frontier counts THAT
    // source's version sequence
    lake.appendBronze("src1", rows("r1", Seq((1L, "a", 10L), (2L, "a", 5L))))
    val fold1 = Seq(("a", 2L, 15L)).toDF("grp", "cnt", "sum_val")
    lake.mergeBronze("agg", fold1, Seq("grp"), txn = Some(("cdfagg:agg", 5L)))
    // a NEW source's versions (1, 2, …) all sit below that frontier —
    // every tick must still fold
    lake.appendBronze("src2", rows("s1", Seq((11L, "b", 100L))))
    assert(Streams.cdfAggregateSink(lake, "src2", "agg",
      Seq("grp"), Seq("val"), cur2).contains((0, 1)))
    val b1 = Streams.cdfAggregate(lake, "agg").filter(col("grp") === "b").collect()
    assert(b1.nonEmpty && b1.head.getAs[Long]("cnt") == 1L,
      "new source's first tick was swallowed by another writer's txn frontier")
    lake.appendBronze("src2", rows("s2", Seq((12L, "b", 7L))))
    assert(Streams.cdfAggregateSink(lake, "src2", "agg",
      Seq("grp"), Seq("val"), cur2).contains((1, 2)))
    val b2 = Streams.cdfAggregate(lake, "agg").filter(col("grp") === "b").collect().head
    assert(b2.getAs[Long]("cnt") == 2L &&
      b2.getAs[Number]("sum_val").longValue() == 107L,
      s"new source's later tick was swallowed: $b2")
  }

  test("NULL-key rows fold into ONE aggregate row across ticks, not one per tick") {
    val lake = mkLake("cdfaggnullkey")
    val cursor = Files.createTempDirectory("graft-cdfaggnullkey-cur").toString
    def tick() = Streams.cdfAggregateSink(lake, "src", "agg",
      Seq("grp"), Seq("val"), cursor)
    def withNulls(run: String, recs: Seq[(Long, Option[String], Long)]) =
      recs.map { case (id, k, v) => (id, k.orNull, v, run) }
        .toDF("id", "grp", "val", "run_id").repartition(1)
    // tick 1 seeds a NULL-key group alongside a normal one
    lake.appendBronze("src", withNulls("r1",
      Seq((1L, None, 10L), (2L, Some("a"), 3L))))
    assert(tick().isDefined)
    // tick 2 adds more NULL-key rows: a null-unsafe fold/merge would strand
    // the standing NULL-key row and insert a fresh one per tick
    lake.appendBronze("src", withNulls("r2",
      Seq((3L, None, 5L), (4L, Some("a"), 1L))))
    assert(tick().isDefined)
    val nulls = lake.table("bronze", "agg").filter(col("grp").isNull).collect()
    assert(nulls.length == 1,
      s"NULL-key aggregate rows accumulated: ${nulls.length} physical rows")
    assert(nulls.head.getAs[Long]("cnt") == 2L &&
      nulls.head.getAs[Number]("sum_val").longValue() == 15L,
      s"NULL-key fold wrong: ${nulls.head}")
    assert(same(Streams.cdfAggregate(lake, "agg"), scratch(lake)))
    // retraction of a NULL-key row folds too (delete pairs null-safely)
    lake.deleteBronzeWhereDv("src", col("id") === 1L, Nil)
    assert(tick().isDefined)
    val n2 = lake.table("bronze", "agg").filter(col("grp").isNull).collect()
    assert(n2.length == 1 && n2.head.getAs[Long]("cnt") == 1L &&
      n2.head.getAs[Number]("sum_val").longValue() == 5L,
      s"NULL-key retraction wrong: ${n2.toSeq}")
    assert(same(Streams.cdfAggregate(lake, "agg"), scratch(lake)))
  }
}
