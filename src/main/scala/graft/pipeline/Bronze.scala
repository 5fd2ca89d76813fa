package graft.pipeline

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Bronze ingestion: the envelope row builder + idempotent
  * delete-by-run_id-then-append sink (reference
  * `job_tasks/bronze/ingest_data_api_to_bronze.py:91-93,185-200`) and the
  * run-context log (reference `job_tasks/bronze/init_run_context.py`,
  * `job_tasks/ops/finalize_run_log.py`).
  *
  * Payload fetching stays behind [[PayloadSource]] so the real HTTP client
  * (YouTube Data/Analytics APIs, driver-side, paginated) is pluggable while
  * tests inject fixture JSON — the same seam the reference gets from
  * payloads being opaque strings until silver parses them.
  */
object Bronze {

  /** One bronze envelope row (fixed 7-column contract — SURVEY §1.2). */
  final case class Envelope(
      snapshotDate: Date,
      ingestTsUtc: Timestamp,
      sourceSystem: String,
      requestId: String,
      schemaVersion: String,
      runId: String,
      payload: String)

  /** Run context published between tasks
    * (reference `init_run_context.py:75-101`). */
  final case class RunContext(
      runId: String,
      requestId: String,
      snapshotDate: Date,
      ingestTsUtc: Timestamp,
      sourceSystem: String = "youtube",
      schemaVersion: String = "v1")

  /** A source of raw payload JSON per bronze table (fixture or live HTTP). */
  trait PayloadSource {
    /** table name -> payload JSON strings to land this run */
    def payloads(ctx: RunContext): Map[String, Seq[String]]
  }

  def envelopeDf(spark: SparkSession, rows: Seq[Envelope]): DataFrame = {
    val data = rows.map(e => Row(
      e.snapshotDate, e.ingestTsUtc, e.sourceSystem, e.requestId,
      e.schemaVersion, e.runId, e.payload))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, math.max(1, math.min(rows.size, 4))),
      Schemas.bronzeEnvelope)
  }

  /** Land one run's payloads: per table, delete any prior rows of this
    * run_id (idempotent re-run), then append one envelope row per payload.
    * The tables land concurrently (each on its own log, so they never
    * contend); within a table the delete still commits before the append.
    * A table that fails does not stop the others: every table settles,
    * then the first failure in the source's table order is thrown — a
    * re-run with the same run_id converges, since each table's delete
    * drops whatever the failed run landed. */
  def ingest(lake: Lakehouse, ctx: RunContext, source: PayloadSource): Unit = {
    val byTable = source.payloads(ctx).toSeq
    byTable.foreach { case (tableName, _) =>
      require(Schemas.bronzeTables.contains(tableName), s"unknown bronze table $tableName")
    }
    Job.concurrently(implicit ec => byTable.map { case (tableName, payloads) =>
      scala.concurrent.Future {
        lake.deleteByRunId(tableName, ctx.runId)
        val rows = payloads.map(p => Envelope(
          ctx.snapshotDate, ctx.ingestTsUtc, ctx.sourceSystem, ctx.requestId,
          ctx.schemaVersion, ctx.runId, p))
        if (rows.nonEmpty) lake.appendBronze(tableName, envelopeDf(lake.spark, rows))
      }
    })
  }

  /** Append the run-context log row (reference `init_run_context.py:143-158`);
    * finalize (status update) replaces the run_id's rows with one MERGE
    * on `run_id` — the parquet emulation of the reference's
    * `UPDATE ... WHERE run_id` (`finalize_run_log.py:191-202`). */
  def logRunStart(lake: Lakehouse, ctx: RunContext, contextJson: String): Unit = {
    import lake.spark.implicits._
    val df = Seq(
      (ctx.runId, ctx.requestId, ctx.snapshotDate, ctx.ingestTsUtc, ctx.sourceSystem,
        ctx.schemaVersion, contextJson, null.asInstanceOf[String],
        null.asInstanceOf[Timestamp]))
      .toDF("run_id", "request_id", "snapshot_date", "ingest_ts_utc", "source_system",
        "schema_version", "context_json", "run_status", "finalized_ts_utc")
    lake.appendBronze("run_context_log", df)
  }

  /** Record the run's terminal status. The superseding row is built on the
    * driver from the run's rows (tiny: one per run), so the run's status
    * and timestamp are values, not literals of a plan — Spark inlines a
    * timestamp literal into generated code, which would compile again on
    * every run. One `mergeBronze` on `run_id` then swaps it in for every
    * row of the run in a single commit: readers see the old row or the
    * new one, never neither, and a run left with two rows by an
    * interrupted finalize converges to one. */
  def finalizeRun(lake: Lakehouse, runId: String, status: String, finalizedTs: Timestamp): Unit = {
    require(Set("success", "failed", "cancelled", "unknown").contains(status))
    import org.apache.spark.sql.functions.col
    val log = lake.table("bronze", "run_context_log")
    val statusAt = log.schema.fieldIndex("run_status")
    val tsAt = log.schema.fieldIndex("finalized_ts_utc")
    // the rows differ only in the columns overwritten here, so an
    // interrupted earlier finalize's two rows collapse into one
    val updated = log.filter(col("run_id") === runId).collect().toSeq
      .map(r => Row.fromSeq(r.toSeq.updated(statusAt, status).updated(tsAt, finalizedTs)))
      .distinct
    if (updated.nonEmpty)
      lake.mergeBronze("run_context_log",
        lake.spark.createDataFrame(lake.spark.sparkContext.parallelize(updated, 1), log.schema),
        Seq("run_id"))
  }
}
