package graft.pipeline

import java.sql.{Date, Timestamp}
import java.util.UUID
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The orchestrated run — Scala counterpart of the reference's job task DAG
  * (`databricks.yml:34-155`, SURVEY §3.1):
  *
  * ```
  * init_run_context → ingest_data_api → ingest_analytics_api
  *   → silver + gold + checks model graph → finalize_run_log (run_if: ALL_DONE)
  * ```
  *
  * Semantics preserved from the reference:
  *   - one run context (run_id/request_id/snapshot_date/ingest_ts) shared by
  *     every stage (`init_run_context.py:75-101` + task values);
  *   - the analytics stage reads video ids back from the just-landed
  *     `videos_raw` (the one cluster→driver boundary,
  *     `ingest_analytics_api_to_bronze.py:469-492`);
  *   - finalize ALWAYS runs — success or failure — and records the outcome
  *     in `run_context_log` (`run_if: ALL_DONE`, `databricks.yml:150-155`;
  *     status update `finalize_run_log.py:191-202`).
  */
object Job {

  final case class RunReport(
      runId: String,
      status: String,
      checkFailures: Seq[(String, String, Long)],
      error: Option[Throwable],
      maintenance: Option[Maintenance.Report] = None)

  /** Execute one full run. `now` is injectable for deterministic tests.
    *
    * Each ingest stage lands its bronze tables concurrently
    * ([[Bronze.ingest]]). Silver recomputes every model from bronze and
    * gold rebuilds every mart from silver, as one dependency graph
    * ([[refreshGraph]]) — the reference's `CREATE OR REFRESH MATERIALIZED
    * VIEW`, one path per layer. The check suite runs inside the same
    * graph, as one fused scan per gold mart ([[Checks.MartScan]]). */
  def run(
      lake: Lakehouse,
      dataClient: DataApiIngest.DataApiClient,
      analyticsClient: AnalyticsIngest.AnalyticsApiClient,
      startDate: String = "auto",
      endDate: String = "auto",
      lookbackDays: Int = 7,
      optimize: Boolean = true,
      now: Timestamp = new Timestamp(System.currentTimeMillis()),
      runId: String = UUID.randomUUID().toString): RunReport = {

    val today = now.toLocalDateTime.toLocalDate
    val snapshot = Date.valueOf(today)
    val ctx = Bronze.RunContext(runId, UUID.randomUUID().toString, snapshot, now)

    // init_run_context: log the run before any ingest so a crashed run still
    // leaves a row for finalize to mark failed
    Bronze.logRunStart(lake, ctx,
      s"""{"mode":"job","start_date":"$startDate","end_date":"$endDate","lookback_days":$lookbackDays}""")

    var status = "success"
    var failure: Option[Throwable] = None
    var checkFailures: Seq[(String, String, Long)] = Seq.empty
    try {
      val (start, end, mode) =
        AnalyticsIngest.resolveWindow(startDate, endDate, lookbackDays, today)

      // stage: Data API → bronze (channels, playlist pages, chunked videos)
      Bronze.ingest(lake, ctx, new DataApiIngest.DataApiPayloadSource(dataClient))

      // stage: Analytics API → bronze, fed by the landed video ids
      val videoIds = DataApiIngest.latestVideoIds(lake)
      Bronze.ingest(lake, ctx,
        new AnalyticsIngest.AnalyticsPayloadSource(
          analyticsClient, start, end, mode, lookbackDays, videoIds))

      // stage: silver MVs, gold marts and the full check suite as one
      // dependency graph (the reference runs dbt with 4 threads; identity
      // with the sequential refresh is spec-pinned); any error-severity
      // offender fails the run
      val results = refreshGraph(lake, Checks.all(snapshot))
      checkFailures = results.filter { case (_, sev, n) => sev == "error" && n > 0 }
      if (checkFailures.nonEmpty) status = "failed"
    } catch {
      case t: Throwable =>
        status = "failed"
        failure = Some(t)
    }

    // finalize_run_log: ALL_DONE — records the terminal status even when a
    // stage threw
    Bronze.finalizeRun(lake, runId, status, new Timestamp(System.currentTimeMillis()))

    // OPTIMIZE pass, every run — the reference's optimize_tables task
    // (`job_tasks/ops/optimize_tables.py:116-132`). AFTER finalize so a
    // fatal error here can never leave the run log dangling; non-strict
    // like the reference's default — per-table failures land in the
    // report, never change the run's recorded outcome.
    val maint = if (optimize) Some(Maintenance.run(lake)) else None
    RunReport(runId, status, checkFailures, failure, maint)
  }

  /** Materialize the silver models and gold marts as one dependency graph,
    * with each gold mart's fused check scan ([[Checks.MartScan]]) as a node
    * of it: a model starts once every table its `deps` name has committed,
    * and a scan once its mart and the dims it references have. The checks
    * thus overlap the marts still building instead of waiting at a
    * barrier. Equal to [[Silver.refresh]], [[Gold.refresh]], then
    * [[Checks.run]] over `checks`, since a model reads only its `deps`
    * (spec-pinned). A failed model's dependents are never built; the rest
    * settle, then its own exception is thrown. Returns `checks`'
    * (name, severity, offending count), in order. */
  private[pipeline] def refreshGraph(lake: Lakehouse,
      checks: Seq[Checks.Check] = Seq.empty): Seq[(String, String, Long)] = {
    val models = Silver.models ++ Gold.models
    val byName = models.map(m => m.name -> m).toMap
    val layer = Silver.models.map(_.name -> "silver").toMap ++ Gold.models.map(_.name -> "gold")
    val scanned = concurrently { implicit ec =>
      val started = scala.collection.mutable.Map.empty[String, Future[Unit]]
      def start(m: Silver.Model): Future[Unit] = started.getOrElse(m.name, {
        val f = after(m.deps)(lake.materialize(layer(m.name), m.name, m.build(lake)))
        started(m.name) = f
        f
      })
      def after[A](deps: Seq[String])(task: => A): Future[A] =
        Future.sequence(deps.flatMap(byName.get).map(start)).map(_ => task)
      models.map(start(_).map(_ => Seq.empty[(Int, Long)])) ++
        Checks.martScans(checks).map(s => after(s.reads)(s.counts(lake)))
    }
    Checks.tally(lake, checks, scanned.flatten)
  }

  /** Settle the futures `tasks` starts on a per-call pool of one thread per
    * core; their values in order, or the first failure in order. The
    * threads descend from the caller's, so their Spark jobs carry its local
    * properties (the global pool's would not). Chain tasks, never block. */
  private[pipeline] def concurrently[A](tasks: ExecutionContext => Seq[Future[A]]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try {
      val fs = tasks(ExecutionContext.fromExecutorService(pool))
      fs.foreach(Await.ready(_, Duration.Inf))
      fs.map(_.value.get.get)
    } finally pool.shutdown()
  }
}
