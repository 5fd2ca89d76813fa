package graft.pipeline

/** The end-of-job OPTIMIZE pass. The reference runs `OPTIMIZE` over every
  * table of its schemas at the end of every pipeline run
  * (`job_tasks/ops/optimize_tables.py:116-132`, wired as the job's last
  * task) — Delta's OPTIMIZE is cheap on an every-run cadence because it
  * only rewrites under-sized files and skips already-compact tables. This
  * pass keeps that contract for the graft engine: every table of every
  * layer commits on the same file log and runs [[Lakehouse.compactSmall]]
  * — Delta's INCREMENTAL bin-packing, rewriting only files under
  * `targetBytes / 2` when at least `minSmallFiles` of them exist. Cost
  * tracks the small-file backlog, never the table: a well-compacted
  * 100 TB table costs one manifest read to skip, a nightly append's small
  * files rewrite without touching settled data, and a refresh that
  * commits few files skips.
  *
  * Per-target failures are collected, not thrown (the reference's
  * non-strict mode: a failed OPTIMIZE yields `partial_error`, the run's
  * outcome is already decided by the pipeline stages).
  */
object Maintenance {

  final case class Report(
      optimized: Seq[String],
      skipped: Seq[String],
      failed: Seq[(String, String)],
      vacuumed: Seq[String] = Seq.empty) {
    def status: String = if (failed.isEmpty) "ok" else "partial_error"
  }

  /** Run the pass. `layers` defaults to all three — the reference
    * OPTIMIZEs every bronze+silver+gold table each run
    * (`optimize_tables.py:17-52`). Every table bin-packs incrementally
    * (`targetBytes`/`minSmallFiles`). `vacuum` opts every table into
    * [[Lakehouse.vacuum]] with the `vacuumRetainMillis` wall-clock floor. */
  def run(
      lake: Lakehouse,
      layers: Seq[String] = Seq("bronze", "silver", "gold"),
      targetBytes: Long = Lakehouse.DefaultTargetFileBytes,
      minSmallFiles: Int = 4,
      vacuum: Boolean = false,
      vacuumRetainMillis: Long = Lakehouse.DefaultVacuumRetainMillis): Report = {
    val optimized = Seq.newBuilder[String]
    val skipped = Seq.newBuilder[String]
    val failed = Seq.newBuilder[(String, String)]
    val vacuumed = Seq.newBuilder[String]

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
    Report(optimized.result(), skipped.result(), failed.result(), vacuumed.result())
  }
}
