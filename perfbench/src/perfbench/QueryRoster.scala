package perfbench

import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.SparkEntry
import graft.queries._

/** An analyst session over the bench roster: one client runs a session of
  * `bench = true` queries of `SparkEntry.registry` (each through its
  * at-rest `benchRun` variant where one exists) in registry order, pass
  * after pass, and collects every result. Set-up builds the at-rest index
  * artifacts the session reads into the run's own temp dir; one untimed
  * pass precedes the timed ones. */
object QueryRoster {

  val Families: Seq[(String, Seq[GraftQuery])] = Seq(
    "Relational" -> Relational.all, "Extended" -> Extended.all, "Advanced" -> Advanced.all,
    "TextQueries" -> TextQueries.all, "DedupQueries" -> DedupQueries.all,
    "SimilarityQueries" -> SimilarityQueries.all, "ClusterQueries" -> ClusterQueries.all)

  /** One bench query per family. q49 reads the co-supply graph, s02 the
    * LSH postings and s05 the IVF lists; the other four run on the tables
    * alone. The full roster (32 queries: 38 s of artifact builds and about
    * 22 s a warm pass at sf0.01 on 4 cores) does not fit a run; `--roster
    * all` runs it by hand. */
  val Session: Seq[String] = Seq("q04_star_join_revenue", "q30_asof_join", "q49_pagerank",
    "t05_tfidf_top_terms", "d04_minhash_lsh_pairs", "s02_lsh_ann_topk", "s05_ivf_topk")

  def bench: Seq[GraftQuery] = SparkEntry.registry.filter(_.bench)

  def roster(all: Boolean): Seq[GraftQuery] = {
    val missing = Session.filterNot(n => bench.exists(_.name == n))
    require(missing.isEmpty, s"session queries not in the bench roster: ${missing.mkString(", ")}")
    if (all) bench else bench.filter(q => Session.contains(q.name))
  }

  /** Builds the at-rest artifacts `queries` read, with the parameters of
    * their call sites: every artifact (`BenchIndex.ensureArtifacts`) for
    * the full roster, else those of q49, s02 and s05. */
  def buildArtifacts(spark: SparkSession, dataDir: String, all: Boolean): Unit =
    if (all) BenchIndex.ensureArtifacts(spark, dataDir)
    else {
      BenchIndex.cosupplyGraph(spark, dataDir)
      BenchIndex.lshPostings(spark, dataDir)
      BenchIndex.ivf(spark, dataDir)
    }

  /** Timed passes after the untimed warm pass: at least this many, more
    * while the run's seconds last. */
  val MinPasses = 2

  private def familyOf(name: String): String =
    Families.collectFirst { case (f, qs) if qs.exists(_.name == name) => f }.getOrElse("other")

  def layerNames: Seq[String] =
    Session.map(q => s"query.${q}_s") ++
      Families.map(_._1).flatMap(f => Seq(s"$f.task_cpu_s", s"$f.driver_gap_s", s"$f.shuffle_mb")) ++
      Seq("bench_index.build_s")

  /** The client's session order: registry order, starting at a
    * seed-chosen query and wrapping around. */
  def sessionOrder(qs: Seq[GraftQuery], seed: Long): Seq[GraftQuery] = {
    val k = java.lang.Math.floorMod(seed, qs.size.toLong).toInt
    qs.drop(k) ++ qs.take(k)
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, dataDir: String, all: Boolean,
      workDir: Path, trace: Boolean, res: Result): Unit = {
    if (trace) Trace.enable(spark.sparkContext)
    val queries = roster(all)
    Trace.newTrace("setup")
    val (_, buildS) = Stats.timed(Trace.span("bench_index.build")(buildArtifacts(spark, dataDir, all)))
    Stats.log(f"index artifacts: $buildS%.3f s")
    res.setupDone()
    res.conditions("sf_dir") = Paths.get(dataDir).getFileName.toString
    res.conditions("queries") = queries.size.toString
    res.conditions("seed") = seed.toString

    val order = sessionOrder(queries, seed).map(q => q.benchRun.fold(q)(br => q.copy(run = br)))
    val oracle = SparkEntry.oracleSql
    val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    val hashes = scala.collection.mutable.HashMap.empty[String, Vector[Int]]
    val lastRows = scala.collection.mutable.HashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val passSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runPass(label: String, timed: Boolean): Unit = {
      Trace.newTrace(label)
      val p0 = System.nanoTime()
      order.foreach { q =>
        val q0 = System.nanoTime()
        val outcome = scala.util.Try(Trace.span(s"query.${q.name}") {
          val df = q.run(spark, dataDir)
          (df.collect(), df.schema)
        })
        val s = Stats.seconds(q0)
        outcome match {
          case scala.util.Success(rows) =>
            res.attempted += 1
            if (timed) {
              perQuery(q.name) = perQuery.getOrElse(q.name, Vector.empty) :+ s
              hashes(q.name) = hashes.getOrElse(q.name, Vector.empty) :+ rows._1.toSeq.map(_.toString).hashCode
              lastRows(q.name) = rows
            }
          case scala.util.Failure(t) =>
            res.check(ok = false, s"${q.name} $label: ${t.getClass.getName}: ${t.getMessage}")
        }
      }
      if (timed) passSeconds += Stats.seconds(p0)
      Stats.log(f"$label: ${Stats.seconds(p0)}%.3f s")
    }
    // one untimed pass warms the JIT, codegen and the artifact reads
    runPass("warm", timed = false)
    val compiles0 = Stats.codegenCompiles
    val start = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || Stats.seconds(start) < seconds) {
      runPass(s"pass$pass", timed = true)
      pass += 1
    }
    val compiles = Stats.codegenCompiles - compiles0

    // correctness, outside the timed passes: results with an oracle are
    // dumped for the DuckDB compare run.py makes; the rest must hash the
    // same on every pass
    val resultsDir = workDir.resolve("results")
    lastRows.foreach { case (name, (rows, schema)) =>
      if (oracle.contains(name)) {
        val df = spark.createDataFrame(rows.toSeq.asJava, schema)
        val dumped = schema.fields.filter(_.dataType == TimestampType)
          .foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampNTZType)))
        dumped.coalesce(1).write.parquet(resultsDir.resolve(name).toString)
        res.oracleChecks(name) = (resultsDir.resolve(name).toString, oracle(name))
      } else res.check(hashes(name).distinct.size == 1,
        s"$name: result differs between the ${hashes(name).size} timed passes")
    }

    val medians = perQuery.map { case (n, ts) => n -> Stats.median(ts) }
    val indexBytes = Stats.dirBytes(Paths.get(System.getProperty("java.io.tmpdir")),
      _.toString.contains("graft-bench-index-"))._1
    val dataBytes = Stats.dirBytes(Paths.get(dataDir))._1
    if (passSeconds.nonEmpty && medians.size == order.size) {
      val geomean = Stats.geomean(medians.values.toSeq)
      res.endToEnd("op_ms") = geomean * 1000
      res.endToEnd("batch_s") = Stats.median(passSeconds.toSeq)
      res.endToEnd("bytes_ratio") = indexBytes.toDouble / dataBytes
      res.named("roster_s") = (Stats.median(passSeconds.toSeq), "s")
      res.named("query_geomean_s") = (geomean, "s")
      res.named("passes") = (passSeconds.size.toDouble, "count")
      res.named("codegen_compiles") = (compiles.toDouble, "count")
    }

    if (trace) {
      Trace.drain()
      val L = res.layers
      layerNames.foreach(L(_) = 0.0)
      medians.foreach { case (n, m) => L(s"query.${n}_s") = m }
      val passes = Trace.all.map(_.trace).filter(_.startsWith("pass")).distinct
      Families.map(_._1).foreach { f =>
        def perPass(g: Trace.Totals => Double): Double = Stats.median(passes.map { p =>
          Trace.all.filter(s => s.trace == p && s.name.startsWith("query.") &&
            familyOf(s.name.stripPrefix("query.")) == f).map(s => g(Trace.totals(s))).sum
        })
        L(s"$f.task_cpu_s") = perPass(_.taskCpuS)
        L(s"$f.driver_gap_s") = perPass(_.driverGapS)
        L(s"$f.shuffle_mb") = perPass(_.shuffleMb)
      }
      L("bench_index.build_s") = buildS
      L("codegen.compiles") = compiles.toDouble
    }
  }
}
