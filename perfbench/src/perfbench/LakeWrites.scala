package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Lakehouse, ManifestStats}

/** Bulk rows through the bronze log's public API: 16 run-stamped slice
  * appends, a closed loop of small appends into the populated table, a
  * partial deletion-vector delete, a full scan with the vectors applied, a
  * copy-on-write run delete, clustered compaction and vacuum. Every step
  * is checked against row counts and a quantity checksum computed from the
  * generated input. */
object LakeWrites {

  val Slices = 16
  val Rows = 600000L
  val WarmRows = 5000L
  val MinSmallCommits = 40
  val SmallRows = 10

  /** A lineitem-shaped table (the columns the bronze ops touch), made
    * from the seed. */
  def lineitem(spark: SparkSession, seed: Long, rows: Long): DataFrame = {
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))
    spark.range(rows).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(h(1), lit(20000L)) + 1).as("l_partkey"),
      (pmod(h(2), lit(50L)) + 1).cast("decimal(12,2)").as("l_quantity"),
      (pmod(h(3), lit(10000000L)) / 100.0 + 900).cast("decimal(12,2)").as("l_extendedprice"),
      date_add(lit(java.sql.Date.valueOf("1992-01-01")), pmod(h(4), lit(2500L)).cast("int"))
        .as("l_shipdate"))
  }

  def layerNames: Seq[String] = Seq(
    "lakehouse.commit_log_bytes", "lakehouse.live_files", "lakehouse.dv_count",
    "lakehouse.append.task_cpu_s", "lakehouse.append.bytes_written",
    "lakehouse.compact.bytes_rewritten", "lakehouse.vacuum.files_removed",
    "lakehouse.scan.task_cpu_s")

  /** Files under the table dir, with their sizes; the bytes a step wrote
    * are the sizes of files that were not there before it. `dataBytes`
    * keeps the parquet share of what the appends wrote: the user data. */
  private final class Written(dir: Path) {
    private var seen = Map.empty[Path, Long]
    var total = 0L
    var dataBytes = 0L
    def append(): Unit = {
      val before = seen.keySet
      step()
      dataBytes += seen.collect {
        case (p, n) if !before.contains(p) && p.getFileName.toString.endsWith(".parquet") => n
      }.sum
    }
    def step(): Unit = {
      val now =
        if (!Files.exists(dir)) Map.empty[Path, Long]
        else {
          val s = Files.walk(dir)
          try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p -> Files.size(p)).toMap
          finally s.close()
        }
      total += now.collect { case (p, n) if !seen.contains(p) => n }.sum
      seen = now
    }
  }

  private final case class Outcome(appendS: Double, appendBytes: Long, smallMs: Vector[Double],
      deleteS: Double, scanS: Double, maintenanceS: Double, writtenBytes: Long,
      commitLogBytes: Long, liveFiles: Int, dvCount: Int, vacuumed: Int)

  /** The whole sequence on a fresh table under `root`. */
  private def sequence(spark: SparkSession, li: DataFrame, rows: Long, root: String,
      seconds: Double, res: Result): Outcome = {
    val lake = new Lakehouse(spark, root)
    val written = new Written(lake.tableDir("bronze", "facts"))
    def slice(i: Int) = li.filter(pmod(col("l_orderkey"), lit(Slices)) === i)
      .withColumn("snapshot_date", lit(java.sql.Date.valueOf(f"2026-01-${i + 1}%02d")))
      .withColumn("run_id", lit(f"run-$i%02d"))
    def quantity(): (Long, java.math.BigDecimal) = {
      val r = lake.table("bronze", "facts").agg(count(lit(1)), sum(col("l_quantity"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val expectedQty = li.agg(sum(col("l_quantity"))).head().getDecimal(0)
    val dvRows = li.filter(pmod(col("l_orderkey"), lit(Slices)) === 6 &&
      pmod(col("l_orderkey"), lit(32)) === 6).count()
    val run7Rows = li.filter(pmod(col("l_orderkey"), lit(Slices)) === 7).count()
    val small = li.limit(SmallRows).repartition(1).cache()
    val smallQty = small.agg(sum(col("l_quantity"))).head().getDecimal(0)

    val phase0 = System.nanoTime()
    Trace.newTrace("append")
    val (_, appendS) = Stats.timed(Trace.span("lakehouse.append") {
      (0 until Slices).foreach(i => lake.appendBronze("facts", slice(i)))
    })
    written.append()
    res.check(quantity() == ((rows, expectedQty)), s"after $Slices appends: ${quantity()}, expected $rows rows")

    val smallMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (smallMs.size < MinSmallCommits || Stats.seconds(phase0) < seconds) {
      val j = smallMs.size
      Trace.newTrace(s"small$j")
      val batch = small.withColumn("snapshot_date", lit(java.sql.Date.valueOf("2026-02-01")))
        .withColumn("run_id", lit(f"small-$j%04d"))
      val (_, s) = Stats.timed(Trace.span("lakehouse.small_append")(lake.appendBronze("facts", batch)))
      smallMs += s * 1000
      written.append()
    }
    val base = lake.tableDir("bronze", "facts")
    val commitLogBytes = Stats.newestLogRecordBytes(base)
    val liveFiles = lake.committedBronzeRelPaths("facts").map(_.size).getOrElse(0)
    val n = smallMs.size
    val afterSmall = rows + n.toLong * SmallRows
    val qtyAfterSmall = expectedQty.add(smallQty.multiply(java.math.BigDecimal.valueOf(n.toLong)))
    res.check(quantity() == ((afterSmall, qtyAfterSmall)), s"after $n small appends: ${quantity()}")

    Trace.newTrace("delete")
    val (_, dvS) = Stats.timed(Trace.span("lakehouse.delete_dv")(lake.deleteBronzeWhereDv("facts",
      col("run_id") === "run-06" && pmod(col("l_orderkey"), lit(32)) === 6,
      Seq(ManifestStats.StatEq("run_id", "run-06")))))
    written.step()
    val dvCount = lake.deletionVectorCount("facts")
    Trace.newTrace("scan")
    val (scanned, scanS) = Stats.timed(Trace.span("lakehouse.scan")(lake.table("bronze", "facts").count()))
    res.check(scanned == afterSmall - dvRows, s"scan with vectors: $scanned rows, expected ${afterSmall - dvRows}")
    Trace.newTrace("delete")
    val (_, cowS) = Stats.timed(Trace.span("lakehouse.delete_cow")(lake.deleteBronzeWhere("facts",
      col("run_id") === "run-07", Seq(ManifestStats.StatEq("run_id", "run-07")))))
    written.step()
    val afterDelete = afterSmall - dvRows - run7Rows
    val (cnt, _) = quantity()
    res.check(cnt == afterDelete, s"after run delete: $cnt rows, expected $afterDelete")

    Trace.newTrace("maintenance")
    val (_, compactS) = Stats.timed(Trace.span("lakehouse.compact")(
      lake.compactClustered("bronze", "facts", "l_orderkey", "l_partkey", numFiles = Slices)))
    written.step()
    val compacted = quantity()
    res.check(compacted._1 == afterDelete, s"after compaction: ${compacted._1} rows, expected $afterDelete")
    val filesBefore = Stats.dirBytes(base)._2
    val (_, vacuumS) = Stats.timed(Trace.span("lakehouse.vacuum")(
      lake.vacuumBronze("facts", keepVersions = 1, retainMillis = 0L)))
    val vacuumed = filesBefore - Stats.dirBytes(base)._2
    written.step()
    res.check(quantity() == compacted, s"after vacuum: ${quantity()}, before ${compacted}")
    small.unpersist()
    Outcome(appendS, written.dataBytes, smallMs.toVector, dvS + cowS, scanS,
      compactS + vacuumS, written.total, commitLogBytes, liveFiles, dvCount, vacuumed)
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, workDir: Path, trace: Boolean,
      res: Result): Unit = {
    val (_, warmS) = Stats.timed {
      // the append path only: the rest of the sequence runs cold
      val warm = new Lakehouse(spark, workDir.resolve("warm-lake").toString)
      val warmLi = lineitem(spark, seed + 7919, WarmRows)
      (0 until 3).foreach(i => warm.appendBronze("facts", warmLi
        .withColumn("snapshot_date", lit(java.sql.Date.valueOf("2026-01-01")))
        .withColumn("run_id", lit(s"warm-$i"))))
      res.check(warm.table("bronze", "facts").count() == 3 * WarmRows, "warm-up appends")
    }
    Stats.log(f"warm-up appends: $warmS%.3f s")
    val li = lineitem(spark, seed, Rows).cache()
    val (rows, genS) = Stats.timed(li.count())
    Stats.log(f"input: $rows rows in $genS%.3f s")
    res.setupDone()
    res.conditions("lineitem_rows") = rows.toString
    res.conditions("seed") = seed.toString
    if (trace) Trace.enable(spark.sparkContext)
    val compiles0 = Stats.codegenCompiles
    val o = sequence(spark, li, rows, workDir.resolve("lake").toString, seconds, res)
    val compiles = Stats.codegenCompiles - compiles0
    li.unpersist()
    val (tail, pct) = Stats.tail(o.smallMs)
    val batch = o.appendS + o.deleteS + o.scanS + o.maintenanceS
    res.endToEnd("op_ms") = Stats.median(o.smallMs)
    res.endToEnd("batch_s") = batch
    res.endToEnd("bytes_ratio") = o.writtenBytes.toDouble / o.appendBytes
    res.named("append_rows_per_s") = (rows / o.appendS, "rows/s")
    res.named("small_commit_p50_ms") = (Stats.median(o.smallMs), "ms")
    res.named("small_commit_tail_ms") = (tail, "ms")
    res.named("small_commit_tail_percentile") = (pct, "%")
    res.named("small_commits") = (o.smallMs.size.toDouble, "count")
    res.named("delete_s") = (o.deleteS, "s")
    res.named("scan_s") = (o.scanS, "s")
    res.named("maintenance_s") = (o.maintenanceS, "s")
    res.named("write_amp") = (o.writtenBytes.toDouble / o.appendBytes, "ratio")
    res.named("codegen_compiles") = (compiles.toDouble, "count")
    if (trace) {
      Trace.drain()
      val L = res.layers
      def spans(name: String) = Trace.all.filter(_.name == name).map(Trace.totals)
      L("lakehouse.commit_log_bytes") = o.commitLogBytes.toDouble
      L("lakehouse.live_files") = o.liveFiles.toDouble
      L("lakehouse.dv_count") = o.dvCount.toDouble
      L("lakehouse.append.task_cpu_s") = spans("lakehouse.append").map(_.taskCpuS).sum
      L("lakehouse.append.bytes_written") = spans("lakehouse.append").map(_.bytesWritten).sum.toDouble
      L("lakehouse.compact.bytes_rewritten") = spans("lakehouse.compact").map(_.bytesWritten).sum.toDouble
      L("lakehouse.vacuum.files_removed") = o.vacuumed.toDouble
      L("lakehouse.scan.task_cpu_s") = spans("lakehouse.scan").map(_.taskCpuS).sum
      L("codegen.compiles") = compiles.toDouble
    }
  }
}
