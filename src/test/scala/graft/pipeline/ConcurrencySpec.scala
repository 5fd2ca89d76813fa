package graft.pipeline

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** REAL concurrent writers against one bronze log — the claims the CAS
  * machinery makes by construction, exercised by racing threads: blind
  * appends all land exactly once, identity reservations hand out DISJOINT
  * ranges, row-id bases never collide, and same-key merges serialize to a
  * consistent final state. Every writer shares one SparkSession (Spark
  * actions are thread-safe; the log's put-if-absent rename is the only
  * coordination point, exactly the multi-writer deployment shape). */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private implicit val ec: ExecutionContext = ExecutionContext.global

  private def mkLake(tag: String): Lakehouse =
    new Lakehouse(spark, Files.createTempDirectory(s"graft-$tag").toString)

  test("concurrent blind appends all land exactly once") {
    val lake = mkLake("capp")
    val writers = (1 to 6).map { w =>
      Future {
        (1 to 3).foreach { r =>
          lake.appendBronze("t",
            Seq.tabulate(4)(i => (w * 1000L + r * 10L + i, s"w$w-r$r"))
              .toDF("id", "run_id").repartition(2))
        }
        w
      }
    }
    Await.result(Future.sequence(writers), 180.seconds)
    val rows = lake.table("bronze", "t").select("id").as[Long].collect()
    assert(rows.length == 6 * 3 * 4, s"expected 72 rows, got ${rows.length}")
    assert(rows.distinct.length == rows.length, "an append landed twice")
    assert(lake.rowCount("bronze", "t").contains(72L))
  }

  test("concurrent identity appends reserve disjoint ranges - ids unique, watermark exact") {
    val lake = mkLake("cid")
    lake.addIdentityColumn("t", "rid")
    val writers = (1 to 6).map { w =>
      Future {
        (1 to 2).foreach { r =>
          lake.appendBronze("t",
            Seq.tabulate(5)(i => (w * 100L + r * 10L + i, s"w$w"))
              .toDF("k", "tag").coalesce(1))
        }
        w
      }
    }
    Await.result(Future.sequence(writers), 180.seconds)
    val ids = lake.table("bronze", "t").select("rid").as[Long].collect()
    assert(ids.length == 60)
    assert(ids.distinct.length == 60, "identity ranges collided under contention")
    assert(ids.toSet == (1L to 60L).toSet,
      "identity values are not the dense reserved union")
    assert(lake.identityColumns("t").head.highWatermark.contains(60L))
  }

  test("concurrent appends under row tracking never collide on bases") {
    val lake = mkLake("crow")
    lake.appendBronze("t", Seq((0L, "seed")).toDF("k", "tag").coalesce(1))
    lake.enableRowTracking("t")
    val writers = (1 to 5).map { w =>
      Future {
        (1 to 2).foreach { r =>
          lake.appendBronze("t",
            Seq.tabulate(4)(i => (w * 100L + r * 10L + i, s"w$w"))
              .toDF("k", "tag").repartition(2))
        }
        w
      }
    }
    Await.result(Future.sequence(writers), 180.seconds)
    val ids = lake.tableWithRowIds("t").select("_row_id").as[Long].collect()
    assert(ids.length == 1 + 5 * 2 * 4)
    assert(ids.distinct.length == ids.length, "row-id bases collided")
    assert(lake.rowIdWatermark("t").contains(ids.length.toLong))
    assert(ids.toSet == (0L until ids.length.toLong).toSet)
  }

  test("concurrent same-key merges serialize: one row per key, payload from a real writer") {
    val lake = mkLake("cmrg")
    lake.appendBronze("t",
      (0L to 9L).map(k => (k, "seed")).toDF("k", "tag").repartition(2))
    val writers = (1 to 4).map { w =>
      Future {
        lake.mergeBronze("t",
          (0L to 9L).filter(_ % 2 == w % 2).map(k => (k, s"w$w"))
            .toDF("k", "tag").coalesce(1), Seq("k"))
        w
      }
    }
    Await.result(Future.sequence(writers), 180.seconds)
    val t = lake.table("bronze", "t").select("k", "tag").as[(Long, String)].collect()
    assert(t.length == 10, s"merges duplicated or lost keys: ${t.length} rows")
    val byKey = t.toMap
    (0L to 9L).foreach { k =>
      val expect = if (k % 2 == 0) Set("w2", "w4") else Set("w1", "w3")
      assert(expect.contains(byKey(k)), s"key $k holds ${byKey(k)}")
    }
  }

  test("head row ids hold across an append and a vector delete") {
    val lake = mkLake("asofrid")
    lake.appendBronze("t", Seq((1L, "a"), (2L, "b")).toDF("k", "tag").coalesce(1))
    lake.enableRowTracking("t")
    lake.appendBronze("t", Seq((3L, "c")).toDF("k", "tag").coalesce(1))
    lake.deleteBronzeWhereDv("t", col("k") === 1L)
    val now = lake.tableWithRowIds("t").select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    assert(now == Map(2L -> 1L, 3L -> 2L))
  }

  test("racing writers x cursor consumers x mid-drain vacuum: exactly-once batches, retention held") {
    import graft.streaming.Streams
    val lake = mkLake("ccdf")
    // seed so consumers have a frontier to start from
    lake.appendBronze("src", Seq((1L, "seed")).toDF("id", "run_id").coalesce(1))
    // REGISTER BEFORE the writers start: the registration alone (frontier
    // 0) must hold retention through the whole drain
    val curs = (1 to 2).map(c =>
      Files.createTempDirectory(s"graft-ccdf-cur$c").toString)
    curs.foreach(lake.registerCursor("src", _))
    val writersF = Future.sequence((1 to 3).map { w =>
      Future {
        (1 to 5).foreach { r =>
          lake.appendBronze("src",
            Seq.tabulate(4)(i => (w * 1000L + r * 10L + i, s"w$w-r$r"))
              .toDF("id", "run_id").coalesce(1))
          Thread.sleep(100)
        }
        w
      }
    })
    // bounded-catch-up consumers drain WHILE writers commit; each keeps
    // draining until the writers are done AND it reads three quiet ticks
    val consumersF = Future.sequence(curs.zipWithIndex.map { case (cur, c) =>
      Future {
        val out = s"out$c"
        var quiet = 0
        var ticks = 0
        while (quiet < 3) {
          Streams.changesSink(lake, "src", cur, out, maxVersions = 2) match {
            case Some(_) =>
              quiet = 0; ticks += 1
              require(ticks <= 200, "consumer failed to converge")
            case None =>
              if (writersF.isCompleted) quiet += 1 else Thread.sleep(30)
          }
        }
        out
      }
    })
    // a MAINTAINER races the drain: compaction (dataChange=false, skipped
    // by the feed) keeps unreferencing old files, and age-guarded vacuums
    // try to reclaim them — cursor-held retention is the only thing
    // standing between a slow consumer and a stranded full re-sync.
    // retainMillis honors the documented vacuum contract (an in-flight
    // writer's staged-but-uncommitted files are younger than the window).
    val vacuumF = Future {
      (1 to 6).foreach { _ =>
        Thread.sleep(250)
        // maintenance YIELDS to writers: a compaction that keeps losing the
        // CAS to live appends just skips this cycle (prod would retry next)
        try lake.compactSmall("bronze", "src", minSmallFiles = 2)
        catch { case e: IllegalStateException
          if e.getMessage.contains("consecutive CAS races") => }
        lake.vacuumBronze("src", keepVersions = 1, retainMillis = 1200L)
      }
      // writers drained: one quiesced compact is guaranteed to land, so the
      // racing vacuums below it genuinely have unreferenced files to bite
      Await.result(writersF, 300.seconds)
      lake.compactSmall("bronze", "src", minSmallFiles = 2, maxAttempts = 50)
      Thread.sleep(1300)
      lake.vacuumBronze("src", keepVersions = 1, retainMillis = 1200L)
    }
    Await.result(writersF, 300.seconds)
    val outs = Await.result(consumersF, 300.seconds)
    Await.result(vacuumF, 300.seconds)
    // append-only source: each consumer's target table must equal the
    // source EXACTLY — a version delivered twice duplicates ids, a vacuumed
    // version skipped mid-drain loses them
    val expect = lake.table("bronze", "src").select("id").as[Long].collect().sorted.toSeq
    assert(expect.length == 1 + 3 * 5 * 4)
    outs.foreach { out =>
      val got = lake.table("bronze", out)
        .filter(col("_change_type") === "insert")
        .select("id").as[Long].collect().sorted.toSeq
      assert(got == expect,
        s"consumer $out diverged: ${got.length} rows vs ${expect.length}")
    }
    // quiesced now: an aggressive vacuum (no age guard) still honors the
    // advanced frontiers (no exception, table intact)
    lake.vacuumBronze("src", keepVersions = 1, retainMillis = 0L)
    assert(lake.table("bronze", "src").count() == expect.length)
  }
}
