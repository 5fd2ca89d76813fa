package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one workload run reports back to `run.py`: operations attempted
  * and failed (with the reasons), the end-to-end metrics, the workload's
  * own named metrics (printed in the summary), the per-layer metrics of a
  * traced run, and the run's conditions. */
final class Result(val workload: String) {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  var attempted = 0
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val endToEnd: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val named: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val conditions: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  /** Query name → (directory holding its last-pass result, oracle SQL),
    * for the DuckDB compare `run.py` makes. */
  val oracleChecks: mutable.LinkedHashMap[String, (String, String)] = mutable.LinkedHashMap.empty

  /** Count one operation; a false `ok` records `what` as a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) errors += what
  }

  def fail(what: String): Unit = errors += what

  /** Set-up ends here: `setup_s` is the time since the JVM started. */
  def setupDone(): Unit = endToEnd("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def render: String = {
    import graft.pipeline.Json._
    def obj[A](m: Iterable[(String, A)])(f: A => JVal): JObj = JObj(m.toSeq.map { case (k, v) => k -> f(v) })
    JObj.of(
      "workload" -> JStr(workload),
      "attempted" -> JInt(attempted),
      "failed" -> JInt(errors.size),
      "errors" -> JArr(errors.toSeq.map(JStr)),
      "end_to_end" -> obj(endToEnd)(Stats.num),
      "named" -> obj(named) { case (v, u) => JObj.of("value" -> Stats.num(v), "unit" -> JStr(u)) },
      "per_layer" -> obj(layers)(Stats.num),
      "layer_names" -> JArr(Main.layerNames.map(JStr)),
      "conditions" -> obj(conditions)(JStr),
      "oracle_checks" -> obj(oracleChecks) { case (dir, sql) => JObj.of("dir" -> JStr(dir), "sql" -> JStr(sql)) }
    ).render
  }
}

object Stats {
  /** Progress line on stderr (the run's log). */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** A measured value as JSON: every digit kept, a non-finite one null. */
  def num(d: Double): graft.pipeline.Json.JVal =
    if (d.isNaN || d.isInfinite) graft.pipeline.Json.JNull else graft.pipeline.Json.JDouble(d)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** The highest percentile with at least ten samples beyond it: the
    * sample at rank n - 11 of the sorted series (0-based), with the
    * percentile it sits at. Needs at least 11 samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.size >= 11, s"tail needs at least 11 samples, got ${xs.size}")
    val s = xs.sorted
    val rank = s.size - 11
    (s(rank), 100.0 * (rank + 1) / s.size)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, seconds(t0))
  }

  /** Total size of the regular files under `dir`, and their count. */
  def dirBytes(dir: java.nio.file.Path, keep: java.nio.file.Path => Boolean = _ => true): (Long, Int) =
    if (!java.nio.file.Files.exists(dir)) (0L, 0)
    else {
      val s = java.nio.file.Files.walk(dir)
      try {
        val files = s.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) && keep(p)).toSeq
        (files.map(p => java.nio.file.Files.size(p)).sum, files.size)
      } finally s.close()
    }

  /** Size of the newest `_files_v<N>` record in a bronze table's log. */
  def newestLogRecordBytes(table: java.nio.file.Path): Long = {
    val logs = java.nio.file.Files.list(table)
    try {
      val records = logs.iterator().asScala.filter(_.getFileName.toString.startsWith("_files_v")).toSeq
      java.nio.file.Files.size(records.maxBy(_.getFileName.toString.stripPrefix("_files_v").toInt))
    } finally logs.close()
  }

  /** Compilations Spark's whole-stage and expression codegen has run in
    * this JVM so far. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
