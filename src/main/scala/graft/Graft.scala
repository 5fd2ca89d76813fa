package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table access for the graft engine.
  *
  * Design notes (100 TB posture): the session pins UTC (the reference pins
  * UTC semantics in data — reference `job_tasks/bronze/init_run_context.py:76,94`),
  * enables AQE for runtime re-planning (skew joins, shuffle coalescing), and
  * keeps `spark.sql.shuffle.partitions` sized to the local core count — on a
  * real cluster this would be set to ~2-3x total executor cores or left to AQE
  * via `spark.sql.adaptive.coalescePartitions`. The generated-code cache is
  * sized above the working set a daily `Job.run` or a bench roster pass
  * cycles through, so a later run reuses the Java an earlier one compiled
  * instead of recompiling it with Janino: an LRU cache smaller than a cyclic
  * working set misses on every access.
  */
object Graft {

  def session(appName: String = "graft", master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); Spark 4 rejects it unless
      // read as a long — eventsTable() converts back to TimestampType.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Write timestamps as µs, not INT96: the SCD2 open-ended sentinel
      // 9999-12-31 23:59:59.999999 overflows int64 *nanoseconds*, so arrow-based
      // readers of INT96 parquet wrap it to 1816 — µs encoding round-trips it
      // exactly through every reader.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // The 4 MB default models remote-storage open cost; on local disk it
      // bin-packs an entire small multi-file table (at-rest index
      // artifacts, compacted lakehouse tables) into 1-2 scan partitions,
      // serializing CPU-heavy probe scans. 128 KB keeps small files
      // splittable locally; a cluster on object storage would raise it
      // back toward the default (env-overridable). `Lakehouse.table` reads
      // a whole table below this cost as one partition (never worth a
      // split); the small files of a larger table still split.
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST_BYTES", "131072"))
      .config("spark.ui.enabled", "false")
      // Static conf, so only the builder can set it. The generated-code
      // cache is an LRU, and an LRU smaller than a cyclic working set misses
      // on every access: at the default 100 entries each daily Job.run
      // (~230 entries) and each roster pass (~160; ~670 for all 32 queries)
      // recompiled all its Java. Entries are ~2x the distinct code bodies:
      // the key holds the class loader, and local mode compiles each body
      // for the driver's loader and again for the executor's.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Parquet schemas memoized per (path, dir mtime, file count) — schema
    * INFERENCE launches a one-task Spark job per `spark.read.parquet`
    * call, and a bench/verify run re-reads the same immutable tables
    * hundreds of times (measured ~40-70 ms + a driver gap per read, per
    * query, per run). A deployment reads schemas from its catalog, not
    * from footers, so the memo is the honest production shape; the mtime
    * component invalidates on fixture regeneration. Filter pushdown and
    * column pruning are unaffected (same relation, schema supplied). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** `spark.read.parquet` with the memoized schema (see [[schemaCache]]). */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    val key = s"$path|${f.lastModified}|${Option(f.list()).fold(0)(_.length)}"
    val known = schemaCache.get(key)
    if (known != null) spark.read.schema(known).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.put(key, df.schema)
      df
    }
  }

  /** Read one of the driver-provided parquet tables under `sfDir`.
    * Plain parquet read (schema memoized) so Catalyst pushes filters +
    * prunes columns into the scan (verify with `.explain`: PushedFilters /
    * ReadSchema). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") eventsTable(spark, sfDir)
    else if (name == "embeddings") embeddingsTable(spark, sfDir)
    else readParquet(spark, s"$sfDir/$name.parquet")

  /** `events.parquet`'s `ts` encoding has varied across testdata generations:
    * TIMESTAMP(NANOS) (arrives as nanos-since-epoch BIGINT under the
    * `nanosAsLong` session setting) vs TIMESTAMP(MICROS) without UTC
    * adjustment (arrives as TIMESTAMP_NTZ). Normalize both to TimestampType
    * so every downstream query sees identical microsecond values regardless
    * of which fixture generation is on disk — the session is pinned UTC, so
    * the NTZ→TZ cast is value-preserving, and the nanos branch floor-divides
    * exactly like DuckDB's ns→µs cast.
    */
  def eventsTable(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(readParquet(spark, s"$sfDir/events.parquet"))

  /** Schema-adaptive `ts` normalization of the events reader (see
    * [[eventsTable]] for the encoding history). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df // already TimestampType
    }
  }

  /** `embeddings.parquet` with the vector column normalized to
    * `array<float>` — the element type every native vector expression
    * ([[graft.sql.FloatVecDot]], [[graft.sql.SignPlaneKeys]], …) is typed
    * for. Defensive for the same reason [[normalizeEventTs]] exists: a
    * driver-side fixture regeneration that re-encodes the list as float64
    * would otherwise fail ANALYSIS on every ANN/clustering query (the r05
    * events `ts` failure class — a dead query produces no correctness row
    * at all, which is strictly worse than a value diff we would see and
    * react to). */
  def embeddingsTable(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val df = readParquet(spark, s"$sfDir/embeddings.parquet")
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case ArrayType(_, _) => df.withColumn("embedding", col("embedding").cast("array<float>"))
      case _ => df
    }
  }

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
