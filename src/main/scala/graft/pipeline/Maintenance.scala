package graft.pipeline

/** The end-of-job OPTIMIZE pass. The reference runs `OPTIMIZE` over every
  * table of its schemas at the end of every pipeline run
  * (`job_tasks/ops/optimize_tables.py:116-132`, wired as the job's last
  * task) — Delta's OPTIMIZE is cheap on an every-run cadence because it
  * only rewrites under-sized files and skips already-compact tables. This
  * pass keeps that contract for the graft engine:
  *
  *   - **Every table** of every layer commits on the same file log and
  *     runs [[Lakehouse.compactSmall]] — Delta's INCREMENTAL bin-packing,
  *     rewriting only files under `targetBytes / 2` when at least
  *     `minSmallFiles` of them exist. Cost tracks the small-file backlog,
  *     never the table: a well-compacted 100 TB table costs one manifest
  *     read to skip, a nightly append's small files rewrite without
  *     touching settled data, and a refresh that commits few files skips.
  *   - **Streaming batch-dir state** (a [[graft.streaming.Streams.nearDupGate]]'s
  *     survivors + index halves) accumulates one `b{N}` dir per
  *     micro-batch; each registered gate folds to its committed frontier
  *     ([[graft.streaming.Streams.compactGateAuto]]), and standalone
  *     batch-versioned dirs fold via
  *     [[graft.streaming.Streams.compactBatches]] the same way.
  *
  * Per-target failures are collected, not thrown (the reference's
  * non-strict mode: a failed OPTIMIZE yields `partial_error`, the run's
  * outcome is already decided by the pipeline stages).
  */
object Maintenance {

  /** State roots of one [[graft.streaming.Streams.nearDupGate]]. */
  final case class GateDirs(indexDir: String, survivorsDir: String)

  final case class Report(
      optimized: Seq[String],
      skipped: Seq[String],
      gatesCompacted: Seq[GateDirs],
      batchDirsCompacted: Seq[String],
      failed: Seq[(String, String)],
      vacuumed: Seq[String] = Seq.empty) {
    def status: String = if (failed.isEmpty) "ok" else "partial_error"
  }

  /** Run the pass. `layers` defaults to all three — the reference
    * OPTIMIZEs every bronze+silver+gold table each run
    * (`optimize_tables.py:17-52`). Every table bin-packs incrementally
    * (`targetBytes`/`minSmallFiles`); `targetFiles` is the gate segment
    * file count. `vacuum` opts every table into [[Lakehouse.vacuum]] with
    * the `vacuumRetainMillis` wall-clock floor. */
  def run(
      lake: Lakehouse,
      layers: Seq[String] = Seq("bronze", "silver", "gold"),
      gates: Seq[GateDirs] = Seq.empty,
      batchDirs: Seq[String] = Seq.empty,
      targetBytes: Long = Lakehouse.DefaultTargetFileBytes,
      minSmallFiles: Int = 4,
      targetFiles: Int = 8,
      vacuum: Boolean = false,
      vacuumRetainMillis: Long = Lakehouse.DefaultVacuumRetainMillis): Report = {
    val optimized = Seq.newBuilder[String]
    val skipped = Seq.newBuilder[String]
    val gatesDone = Seq.newBuilder[GateDirs]
    val dirsDone = Seq.newBuilder[String]
    val failed = Seq.newBuilder[(String, String)]
    val vacuumed = Seq.newBuilder[String]

    // AUTO-DISCOVERY: streams registered their state dirs under the lake
    // root at definition time (Streams.registerGate/registerBatchDir), so
    // a deployment that never wires `gates` still gets its b{N} growth
    // bounded — the silent-regrowth failure mode is gone. The explicit
    // params remain as overrides/additions (state living outside the lake
    // root, or a caller narrowing the pass).
    val (regGates, regDirs) = graft.streaming.Streams.registeredState(lake.root)
    val allGates = (gates ++ regGates.map { case (i, s) => GateDirs(i, s) }).distinct
    val allBatchDirs = (batchDirs ++ regDirs).distinct

    for (layer <- layers; name <- lake.tableNames(layer)) {
      val fqn = s"$layer.$name"
      try {
        if (lake.compactSmall(layer, name, targetBytes, minSmallFiles)) optimized += fqn
        else skipped += fqn
      } catch { case scala.util.control.NonFatal(t) =>
        failed += fqn -> t.toString }
      // opt-in scheduled VACUUM (the Delta cadence): safe on a live table
      // BECAUSE of the wall-clock floor — in-flight writers' fresh
      // uncommitted files and recently-committed versions are inside the
      // window; only readers time-traveling past the retention window can
      // lose files (the documented Delta trade). Bin-packing + vacuum
      // together bound the table dir's entry count, keeping per-commit
      // directory listings O(activity since maintenance), not O(table
      // lifetime). Separate try: a vacuum failure reports as
      // "<fqn> (vacuum)" and never doubles with the OPTIMIZE outcome.
      if (vacuum && lake.exists(layer, name)) {
        try {
          lake.vacuum(layer, name, retainMillis = vacuumRetainMillis)
          vacuumed += fqn
        } catch { case scala.util.control.NonFatal(t) =>
          failed += s"$fqn (vacuum)" -> t.toString }
      }
    }
    allGates.foreach { g =>
      try {
        graft.streaming.Streams.compactGateAuto(lake.spark, g.indexDir,
          g.survivorsDir, numFiles = targetFiles)
        gatesDone += g
      } catch { case scala.util.control.NonFatal(t) =>
        failed += g.survivorsDir -> t.toString }
    }
    allBatchDirs.foreach { d =>
      try {
        graft.streaming.Streams.compactBatches(lake.spark, d,
          graft.streaming.Streams.committedBatchId(d) + 1, numFiles = targetFiles)
        dirsDone += d
      } catch { case scala.util.control.NonFatal(t) =>
        failed += d -> t.toString }
    }
    Report(optimized.result(), skipped.result(), gatesDone.result(),
      dirsDone.result(), failed.result(), vacuumed.result())
  }
}
