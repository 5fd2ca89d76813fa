package perfbench

import java.nio.file.{Files, Paths}

/** One workload run in one JVM:
  *
  * {{{
  * perfbench.Main --workload <pipeline_daily|query_roster|lake_writes> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --data <roster data dir>
  *   --result <file> [--spans <file>] [--roster <session|all>]
  * }}}
  *
  * Writes the [[Result]] as JSON to `--result` (and the spans of a traced
  * run to `--spans`); `run.py` turns it into the benchmark's output line.
  */
object Main {

  /** Every per-layer metric some workload measures. */
  def layerNames: Seq[String] =
    (PipelineDaily.layerNames ++ QueryRoster.layerNames ++ LakeWrites.layerNames ++
      Seq("codegen.compiles")).distinct

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val res = new Result(workload)
    val spark = graft.Graft.session(appName = s"perfbench-$workload")
    try {
      res.conditions("cpus") = spark.sparkContext.defaultParallelism.toString
      res.conditions("driver_heap_mb") = (Runtime.getRuntime.maxMemory / 1048576).toString
      try workload match {
        case "pipeline_daily" => PipelineDaily.run(spark, seed, work, trace, res)
        case "query_roster" => QueryRoster.run(spark, seed, seconds, opts("data"),
          opts.get("roster").contains("all"), work, trace, res)
        case "lake_writes" => LakeWrites.run(spark, seed, seconds, work, trace, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          res.fail(s"$workload aborted: ${t.getClass.getName}: ${t.getMessage}")
      }
      if (trace) opts.get("spans").foreach(p => Trace.write(Paths.get(p)))
      Files.writeString(Paths.get(opts("result")), res.render)
    } finally spark.stop()
  }
}
