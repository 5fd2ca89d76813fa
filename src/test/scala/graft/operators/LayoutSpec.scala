package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Rows surviving row-group pruning = the scan leaf's numOutputRows.
    * SQL metrics accumulate via the async listener bus after collect()
    * returns, so poll until the value holds steady — a lagging update
    * would otherwise surface a partial count under full-suite load. */
  private def rowsScanned(path: String, pred: org.apache.spark.sql.Column): Long = {
    val q = spark.read.parquet(path).filter(pred)
    q.collect()
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no file scan"))
    def read(): Long = scan.metrics("numOutputRows").value
    var prev = read(); var stable = 0; var tries = 0
    while (stable < 3 && tries < 100) {
      Thread.sleep(50)
      val cur = read()
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      tries += 1
    }
    prev
  }

  test("mortonCode matches an independent bit-interleave reimplementation") {
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 255L), (170L, 85L), (12345L, 54321L))
    val got = pts.toDF("x", "y")
      .select(Layout.mortonCode($"x", $"y", 16).as("m")).as[Long].collect().toSeq
    assert(got == pts.map { case (x, y) => ref(x, y, 16) })
    // interleave masks above `bits`: 2^16 aliases to 0 at 16 bits
    val masked = Seq((65536L, 0L)).toDF("x", "y")
      .select(Layout.mortonCode($"x", $"y", 16).as("m")).as[Long].head()
    assert(masked == 0L)
  }

  test("z-order layout: row-group stats prune scans on BOTH dimensions") {
    // 256×256 uniform grid, 4 rows per cell — two independent dimensions.
    // Linear layout (sorted by x) clusters x only; z-order clusters both.
    val n = 256 * 256 * 4
    val grid = spark.range(n.toLong)
      .select((col("id") % 256).cast("int").as("x"),
        ((col("id") / 256) % 256).cast("int").as("y"),
        col("id").as("payload"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    // small row groups so one file holds many independently-prunable groups
    val opts = Map("parquet.block.size" -> (64 * 1024).toString)
    grid.repartitionByRange(4, col("x")).sortWithinPartitions(col("x"))
      .write.options(opts).mode("overwrite").parquet(s"$tmp/linear")
    Layout.zorderBy(grid, col("x"), col("y"), bits = 8, partitions = 4)
      .write.options(opts).mode("overwrite").parquet(s"$tmp/zorder")

    val ySlice = col("y") < 8 // 1/32 of the data
    val linearY = rowsScanned(s"$tmp/linear", ySlice)
    val zorderY = rowsScanned(s"$tmp/zorder", ySlice)
    // linear-on-x cannot prune a y filter: every row group spans all y
    assert(linearY.toDouble >= n * 0.9, s"linear layout unexpectedly pruned y: $linearY of $n")
    // z-order must skip the large majority of row groups for the y slice
    assert(zorderY.toDouble <= n * 0.35, s"z-order pruned too little on y: $zorderY of $n")

    // and x-filters still prune on the z-ordered layout
    val xSlice = col("x") < 8
    val zorderX = rowsScanned(s"$tmp/zorder", xSlice)
    assert(zorderX.toDouble <= n * 0.35, s"z-order pruned too little on x: $zorderX of $n")
  }

  test("hilbertCode matches an independent reimplementation; codes are a bijection") {
    val ref = (x0: Long, y0: Long, bits: Int) => {
      val bigN = 1L << bits
      var x = x0; var y = y0; var d = 0L; var s = bigN >> 1
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = bigN - 1 - x; y = bigN - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    val pts = spark.range(4096)
      .select((col("id") % 64).as("x"), expr("id div 64").as("y"))
    val got = pts.withColumn("h", Layout.hilbertCode(col("x"), col("y"), bits = 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, h) =>
      assert(h == ref(x, y, 6), s"($x, $y): got $h, want ${ref(x, y, 6)}")
    }
    // a space-filling curve is a bijection: 4096 grid cells → 4096 distinct codes
    assert(got.map(_._3).distinct.length == 4096)
  }

  test("hilbert layout prunes BOTH dimensions at least as well as z-order") {
    val n = 256 * 256 * 2
    val grid = spark.range(n.toLong)
      .select((col("id") % 256).cast("int").as("x"),
        ((col("id") / 256) % 256).cast("int").as("y"),
        col("id").as("payload"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-hilbert").toString
    val opts = Map("parquet.block.size" -> (64 * 1024).toString)
    Layout.zorderBy(grid, col("x"), col("y"), bits = 8, partitions = 4)
      .write.options(opts).mode("overwrite").parquet(s"$tmp/zorder")
    Layout.hilbertBy(grid, col("x"), col("y"), bits = 8, partitions = 4)
      .write.options(opts).mode("overwrite").parquet(s"$tmp/hilbert")
    val perPred = for (pred <- Seq(col("y") < 8, col("x") < 8)) yield {
      val z = rowsScanned(s"$tmp/zorder", pred)
      val h = rowsScanned(s"$tmp/hilbert", pred)
      // hilbert must genuinely prune each dimension on its own
      assert(h.toDouble <= n * 0.35, s"hilbert pruned too little: $h of $n for $pred")
      (z, h)
    }
    // same clustering family: across both dimensions together, hilbert must
    // not be worse than z-order beyond row-group boundary noise. Compared on
    // the SUM over predicates: the parquet writer flushes row groups at
    // memory-estimate checkpoints, so a single predicate's scanned-rows count
    // wobbles by one group (~8k rows here) run to run — per-predicate ratios
    // are not stable, the two-dimension total is.
    val zTotal = perPred.map(_._1).sum.toDouble
    val hTotal = perPred.map(_._2).sum.toDouble
    assert(hTotal <= zTotal * 1.3,
      s"hilbert ($hTotal) worse than z-order ($zTotal) across both dims")
  }

  test("dynamic partition pruning: a selective dim filter prunes fact partitions at runtime") {
    // hive-partition the fact by its join key, dim as a real file source
    // (a LocalRelation would fold to a static filter — DPP is the runtime
    // variant a 100 TB star join relies on when the dim filter isn't known
    // until execution)
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp_").toString
    spark.range(10000)
      .select(col("id"), (col("id") % 8).cast("int").as("part_key"))
      .write.mode("overwrite").partitionBy("part_key").parquet(s"$tmp/fact")
    Seq((1, "keep"), (2, "keep"), (3, "drop"), (4, "drop"))
      .toDF("dim_key", "tag")
      .write.mode("overwrite").parquet(s"$tmp/dim")
    val fact = spark.read.parquet(s"$tmp/fact")
    val dim = spark.read.parquet(s"$tmp/dim").filter(col("tag") === "keep")
    val joined = fact.join(dim, col("part_key") === col("dim_key"))
      .groupBy(col("part_key")).agg(count(lit(1)).as("n"))
    val formatted = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("dynamicpruning"),
      s"no DPP subquery in the fact scan:\n${formatted.take(4000)}")
    // execution proof: only the 2 surviving partitions' rows are scanned
    joined.collect()
    val scanned = joined.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).max
    assert(scanned <= 10000 / 8 * 2 + 4, s"fact scan read $scanned rows — DPP did not prune")
  }

  test("manifest stats skip whole FILES of a z-ordered table, not just row groups") {
    import graft.pipeline.{Lakehouse, ManifestStats}
    import graft.pipeline.ManifestStats.{StatGte, StatLte}
    // the OPTIMIZE ZORDER + stats story end-to-end: a z-ordered refresh
    // records per-file x/y min-max in its log record, and a
    // rectangle query resolves the file list from the manifest BEFORE
    // Spark lists anything — file-level data skipping on both dimensions
    val lake = new Lakehouse(spark, java.nio.file.Files.createTempDirectory("graft-skip").toString)
    val n = 256 * 256
    val grid = spark.range(n.toLong)
      .select((col("id") % 256).cast("int").as("x"),
        ((col("id") / 256) % 256).cast("int").as("y"),
        col("id").as("payload"))
    lake.materialize("silver", "zgrid",
      Layout.zorderBy(grid, col("x"), col("y"), bits = 8, partitions = 16),
      statsCols = Seq("x", "y"))
    val all = lake.prunedFilePaths("silver", "zgrid", Nil)
    assert(all.size >= 12, s"expected a multi-file table, got ${all.size}")
    val preds = Seq(StatGte("x", 0), StatLte("x", 31), StatGte("y", 0), StatLte("y", 31))
    val pruned = lake.prunedFilePaths("silver", "zgrid", preds)
    // one corner of the z-curve: the manifest must rule out most files
    assert(pruned.nonEmpty && pruned.size <= all.size / 4,
      s"file skipping kept ${pruned.size}/${all.size} files")
    // superset guarantee: skipped scan + exact filter == full scan + filter
    val exact = col("x") <= 31 && col("y") <= 31
    val viaSkip = lake.tableWhere("silver", "zgrid", preds).filter(exact)
      .agg(sum(col("payload"))).head().getLong(0)
    val viaFull = lake.table("silver", "zgrid").filter(exact)
      .agg(sum(col("payload"))).head().getLong(0)
    assert(viaSkip == viaFull)
  }
  test("N-dim z-order: 3-column layout prunes each dimension; K=2 reproduces mortonCode") {
    // bit parity: the generalized interleave at K=2 IS the 2-dim code
    val pairs = Seq((3, 200), (255, 0), (170, 85), (1, 1)).toDF("x", "y")
    val diff = pairs.select((Layout.mortonCodeN(Seq(col("x"), col("y")), 8)
      - Layout.mortonCode(col("x"), col("y"), 8)).as("d"))
      .filter(col("d") =!= 0L).count()
    assert(diff == 0, "mortonCodeN(K=2) diverged from mortonCode")

    // 32x32x32 grid, 8 rows per cell - three independent dimensions.
    // (Box geometry: a 32 KiB row group holds ~1.6k rows = ~205 cells, a
    // cube of side ~6 on the 32-grid, so a 1/8 slice on any dim overlaps
    // ~(4+6)/32 = ~31% of groups. K-dim pruning is inherently coarser than
    // 2-dim - the 62/K-bits resolution tradeoff the scaladoc documents.)
    val n = 32 * 32 * 32 * 8
    val grid = spark.range(n.toLong)
      .select((col("id") % 32).cast("int").as("x"),
        ((col("id") / 32) % 32).cast("int").as("y"),
        ((col("id") / 1024) % 32).cast("int").as("z"),
        col("id").as("payload"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-zorder3").toString
    val opts = Map("parquet.block.size" -> (32 * 1024).toString)
    grid.repartitionByRange(4, col("x")).sortWithinPartitions(col("x"))
      .write.options(opts).mode("overwrite").parquet(s"$tmp/linear")
    Layout.zorderByN(grid, Seq(col("x"), col("y"), col("z")), bits = 5, partitions = 4)
      .write.options(opts).mode("overwrite").parquet(s"$tmp/z3")
    // a 1/8 slice on EACH dimension must prune the majority of row groups;
    // the x-linear layout cannot prune y or z at all
    Seq("x", "y", "z").foreach { d =>
      val slice = col(d) < 4
      val z3 = rowsScanned(s"$tmp/z3", slice)
      assert(z3.toDouble <= n * 0.45, s"3-dim z-order pruned too little on $d: $z3 of $n")
    }
    assert(rowsScanned(s"$tmp/linear", col("z") < 4).toDouble >= n * 0.9,
      "linear layout unexpectedly pruned z")

    // end-to-end through the log: compactClusteredN records per-file stats
    // for all three keys and tableWhere skips files on the THIRD dimension
    import graft.pipeline.{Lakehouse, ManifestStats}
    import graft.pipeline.ManifestStats.{StatGte, StatLte}
    val lake = new Lakehouse(spark, java.nio.file.Files.createTempDirectory("graft-skip3").toString)
    lake.appendBronze("g3", grid, statsCols = Seq("x", "y", "z"))
    lake.compactClusteredN("bronze", "g3", Seq("x", "y", "z"), numFiles = 32, bits = 5)
    val all = lake.prunedFilePaths("bronze", "g3", Nil)
    assert(all.size >= 24, s"expected a multi-file table, got ${all.size}")
    val preds = Seq(StatGte("z", 0), StatLte("z", 3))
    val pruned = lake.prunedFilePaths("bronze", "g3", preds)
    // file boxes are ~10 cells wide at 32 files, so a 1/8 z-slice keeps
    // ~(4+10)/32 = ~44% - assert the manifest rules out a solid minority
    assert(pruned.nonEmpty && pruned.size <= all.size * 6 / 10,
      s"3rd-dimension file skipping kept ${pruned.size}/${all.size} files")
    val viaSkip = lake.tableWhere("bronze", "g3", preds).filter(col("z") < 4)
      .agg(sum(col("payload"))).head().getLong(0)
    val viaFull = lake.table("bronze", "g3").filter(col("z") < 4)
      .agg(sum(col("payload"))).head().getLong(0)
    assert(viaSkip == viaFull)
  }

}
