package graft.pipeline

import java.sql.{Date, Timestamp}
import java.util.UUID

import graft.operators.{Curation, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The curation counterpart of [[Job]]: one orchestrated run that takes a
  * raw document corpus through the full funnel — exact dedup → near-dup
  * cluster drop → repetition quality gate → weighted language mix — and
  * materializes a `curated` layer next to bronze/silver/gold:
  *
  *   - `curated.curated_documents` — the surviving corpus subset;
  *   - `curated.curation_packs`   — (doc → shard/bin) token-budget packing
  *                                  assignments for the survivors;
  *   - `curated.curation_funnel_stats` — per-stage doc/token attrition,
  *                                  stamped with the run_id.
  *
  * Run lifecycle reuses the lakehouse run log (logRunStart → finalizeRun,
  * `run_if: ALL_DONE` semantics), so the post-deploy smoke checks govern
  * curation runs exactly like ingest runs. Every sampling decision is a
  * pure hash of doc_id (Curation.scala), so a re-run — or a run on a
  * differently-partitioned cluster — materializes the identical subset;
  * the spec pins re-run idempotence.
  */
object CurationJob {

  final case class CurationReport(
      runId: String,
      status: String,
      /** (stage, docs, tokens) in funnel order. */
      funnel: Seq[(String, Long, Long)],
      error: Option[Throwable],
      maintenance: Option[Maintenance.Report] = None)

  def run(
      lake: Lakehouse,
      docs: DataFrame,
      weights: Seq[(String, Double)],
      minJaccard: Double = 0.5,
      qualityMinDistinctFrac: Double = 0.35,
      qualityMaxTopBigramFrac: Double = 0.12,
      packBudget: Int = 512,
      packShards: Int = 8,
      classifierMinScoreMilli: Option[Long] = None,
      dsirTarget: Option[(org.apache.spark.sql.Column, Int)] = None,
      optimize: Boolean = true,
      now: Timestamp = new Timestamp(System.currentTimeMillis()),
      runId: String = UUID.randomUUID().toString): CurationReport = {

    val snapshot = Date.valueOf(now.toLocalDateTime.toLocalDate)
    val ctx = Bronze.RunContext(runId, UUID.randomUUID().toString, snapshot, now)
    Bronze.logRunStart(lake, ctx,
      s"""{"mode":"curation","min_jaccard":$minJaccard,"pack_budget":$packBudget,"classifier_gate":${classifierMinScoreMilli.isDefined},"dsir_gate":${dsirTarget.isDefined}}""")

    var status = "success"
    var failure: Option[Throwable] = None
    var funnel: Seq[(String, Long, Long)] = Seq.empty
    try {
      val stages = Curation.curationFunnel(docs, weights, minJaccard,
        qualityMinDistinctFrac, qualityMaxTopBigramFrac, classifierMinScoreMilli,
        dsirTarget)

      // Two actions read the funnel (the survivor materialization and the
      // stats write); persisting the intermediate stages keeps the
      // exact-dedup shuffle, the LSH pipeline, and the per-row quality
      // metrics at ONE execution each instead of once per consumer.
      val cached = stages.tail.map { case (n, df) => n -> df.persist() }
      try {
        lake.materialize("curated", "curated_documents", cached.last._2)

        val survivors = lake.table("curated", "curated_documents")
        lake.materialize("curated", "curation_packs",
          Curation.packSequences(survivors, "doc_id",
              TextAnalysis.tokenCount(col("text")).cast("bigint"), packBudget, packShards)
            .select(col("doc_id"), col("shard").cast("bigint").as("shard"), col("bin"),
              col("doc_tokens")))

        val stats = Curation.funnelStats(stages.head +: cached)
          .withColumn("run_id", lit(runId))
          .withColumn("snapshot_date", lit(snapshot))
        lake.materialize("curated", "curation_funnel_stats", stats)

        // the near-dup INDEX at rest: per-doc sorted shingle sets + LSH
        // band postings for the curated layer. Incremental runs probe
        // these tables instead of recomputing the corpus ([[runIncremental]]
        // stage 4); both are maintained append-only there.
        val curatedNow = lake.table("curated", "curated_documents")
        lake.materialize("curated", "curated_shingles",
          graft.operators.Dedup.shingleSets(curatedNow, "doc_id", "text"))
        lake.materialize("curated", "curated_postings",
          graft.operators.Dedup.bandPostings(lake.table("curated", "curated_shingles")))
      } finally cached.foreach(_._2.unpersist())

      funnel = lake.table("curated", "curation_funnel_stats")
        .orderBy(col("stage_idx")).collect()
        .map(r => (r.getAs[String]("stage"), r.getAs[Long]("docs"), r.getAs[Long]("tokens")))
        .toSeq

      // funnel sanity is a run gate: counts must be monotone non-increasing
      val counts = funnel.map(_._2)
      if (counts.isEmpty || counts.zip(counts.tail).exists { case (a, b) => b > a })
        throw new IllegalStateException(s"non-monotone funnel: $funnel")
    } catch {
      case scala.util.control.NonFatal(t) =>
        status = "failed"
        failure = Some(t)
      case t: Throwable =>
        // Fatal throwables (OOM, thread interruption) must not be converted
        // into a normal-looking failed run record: finalize best-effort with
        // status "unknown" — distinguishable in the log from a clean
        // nonfatal failure — so the run log isn't left dangling, then let
        // the VM see the error. finalizeRun appends the superseding row
        // before deleting the stale one, so even an interrupt mid-finalize
        // cannot lose the record.
        try Bronze.finalizeRun(lake, runId, "unknown",
          new Timestamp(System.currentTimeMillis()))
        catch { case _: Throwable => () }
        throw t
    }

    Bronze.finalizeRun(lake, runId, status, new Timestamp(System.currentTimeMillis()))

    // OPTIMIZE pass, every run (reference optimize_tables.py:116-132):
    // bronze fragments one append per run log write. AFTER
    // finalize (a fatal error here must not leave the run log dangling);
    // non-strict — failures land in the report, not the run status.
    val maint = if (optimize) Some(Maintenance.run(lake)) else None
    CurationReport(runId, status, funnel, failure, maint)
  }

  /** Incremental (day-N) curation: take a NEW batch through the funnel
    * against the standing curated layer, appending only what survives —
    * the production shape once the corpus exists ([[run]] is the day-0
    * bootstrap; re-funneling 100 TB because a day's batch landed is the
    * anti-pattern this avoids). The batch is deduped
    *   1. exactly within itself,            2. exactly against curated
    *      (fingerprint anti-join),             docs,
    *   3. near-dup within itself (LSH +     4. near-dup against curated —
    *      star components, min-id keeper),     the CROSS-corpus band join
    *                                           ([[graft.operators.Dedup.lshNearDupPairsAcross]]):
    *                                           |batch| band probes, the
    *                                           standing corpus never
    *                                           re-pairs itself,
    * then gated by the same quality + weighted-mix stages as the full
    * funnel. Contract: the standing curated set is IMMUTABLE — a batch
    * doc that near-dups an existing curated doc always drops, regardless
    * of quality (the full-funnel keeper policy applies only within a
    * batch). Survivors append to `curated_documents`; their packing rows
    * append to `curation_packs` (packed per run — bins are a run-local
    * concept); run-stamped funnel stats append to
    * `curation_funnel_stats`. */
  def runIncremental(
      lake: Lakehouse,
      batch: DataFrame,
      weights: Seq[(String, Double)],
      minJaccard: Double = 0.5,
      qualityMinDistinctFrac: Double = 0.35,
      qualityMaxTopBigramFrac: Double = 0.12,
      packBudget: Int = 512,
      packShards: Int = 8,
      classifierMinScoreMilli: Option[Long] = None,
      optimize: Boolean = true,
      now: Timestamp = new Timestamp(System.currentTimeMillis()),
      runId: String = UUID.randomUUID().toString): CurationReport = {
    import graft.operators.Dedup
    require(lake.exists("curated", "curated_documents"),
      "no standing curated layer — bootstrap with CurationJob.run first")

    val snapshot = Date.valueOf(now.toLocalDateTime.toLocalDate)
    val ctx = Bronze.RunContext(runId, UUID.randomUUID().toString, snapshot, now)
    Bronze.logRunStart(lake, ctx,
      s"""{"mode":"curation_incremental","min_jaccard":$minJaccard,"pack_budget":$packBudget}""")

    var status = "success"
    var failure: Option[Throwable] = None
    var funnel: Seq[(String, Long, Long)] = Seq.empty
    try {
      val standing = lake.table("curated", "curated_documents")
      val toks = TextAnalysis.tokens(col("text"))

      // 1. exact dedup within the batch (min-id keeper)
      val keepers = batch
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val s1 = batch.join(keepers, Seq("doc_id"), "left_semi")
      // 2. exact dedup against the curated layer
      val standingFps = standing
        .select(TextAnalysis.fingerprint(col("text")).as("__graft_fp")).distinct()
      val s2 = s1.withColumn("__graft_fp", TextAnalysis.fingerprint(col("text")))
        .join(standingFps, Seq("__graft_fp"), "left_anti")
        .drop("__graft_fp")
      // 3. near-dup within the batch (LSH → star components, min-id keeper)
      val nonCanonical = Curation.connectedComponents(
          Dedup.lshNearDupPairs(s2, "doc_id", "text", minJaccard))
        .filter(col("member_id") =!= col("cluster_id"))
        .select(col("member_id").as("doc_id"))
      val s3 = s2.join(nonCanonical, Seq("doc_id"), "left_anti")
      // 4. near-dup against the curated layer — cross-corpus band join.
      // With the at-rest index present (any bootstrap since it ships),
      // the corpus side is two table scans: nothing about the standing
      // corpus is recomputed, so the run's cost tracks the BATCH.
      val hasIndex = lake.exists("curated", "curated_postings") &&
        lake.exists("curated", "curated_shingles")
      val dupOfCurated = (if (hasIndex)
          Dedup.lshNearDupPairsAgainstIndex(s3, "doc_id", "text",
            lake.table("curated", "curated_postings"),
            lake.table("curated", "curated_shingles"), minJaccard)
        else Dedup.lshNearDupPairsAcross(s3, standing, "doc_id", "text", minJaccard))
        .select(col("id_a").as("doc_id")).distinct()
      val s4 = s3.join(dupOfCurated, Seq("doc_id"), "left_anti")
      // 5./6. the full funnel's quality gate (+ optional classifier gate)
      // + weighted mix — batch docs face the same bar as the bootstrap
      val s5 = s4.filter(
        round(TextAnalysis.distinctTokenFrac(toks), 6) >= qualityMinDistinctFrac &&
          round(TextAnalysis.topBigramFrac(toks), 6) <= qualityMaxTopBigramFrac)
      val preMix = Seq("raw_batch" -> batch, "exact_dedup" -> s1,
        "exact_vs_curated" -> s2, "neardup_batch" -> s3,
        "neardup_vs_curated" -> s4, "quality_filter" -> s5) ++
        classifierMinScoreMilli.map(minScore => "classifier_gate" ->
          s5.filter(TextAnalysis.hashedLinearScoreMilli(toks) > minScore))
      val s6 = Curation.weightedMix(preMix.last._2, "lang", "doc_id", weights)

      val stages = preMix :+ ("weighted_mix" -> s6)
      val cached = stages.tail.map { case (n, df) => n -> df.persist() }
      try {
        // Eager checkpoint cuts the survivors' lineage from the standing
        // table's FILES — the curated_documents swap below deletes those,
        // and a cache-evicted recompute may not read replaced paths. All
        // standing-derived reads (stats, survivors) complete BEFORE the
        // swap; the swap itself is the last write.
        val survivors = cached.last._2.select(standing.columns.map(col): _*)
          .localCheckpoint(true)

        val stats = Curation.funnelStats(stages.head +: cached)
          .withColumn("run_id", lit(runId))
          .withColumn("snapshot_date", lit(snapshot))
        lake.materialize("curated", "curation_funnel_stats",
          lake.table("curated", "curation_funnel_stats").unionByName(stats))

        val newPacks = Curation.packSequences(survivors,
            "doc_id", TextAnalysis.tokenCount(col("text")).cast("bigint"),
            packBudget, packShards)
          .select(col("doc_id"), col("shard").cast("bigint").as("shard"), col("bin"),
            col("doc_tokens"))
        lake.materialize("curated", "curation_packs",
          lake.table("curated", "curation_packs").unionByName(newPacks))

        lake.materialize("curated", "curated_documents",
          standing.unionByName(survivors))

        // append the survivors to the at-rest near-dup index (reads only
        // the OLD index tables + the checkpointed survivors — never the
        // just-swapped documents table)
        if (hasIndex) {
          val newShingles = Dedup.shingleSets(survivors, "doc_id", "text")
            .localCheckpoint(true)
          lake.materialize("curated", "curated_shingles",
            lake.table("curated", "curated_shingles").unionByName(newShingles))
          lake.materialize("curated", "curated_postings",
            lake.table("curated", "curated_postings")
              .unionByName(Dedup.bandPostings(newShingles)))
        }
      } finally cached.foreach(_._2.unpersist())

      funnel = lake.table("curated", "curation_funnel_stats")
        .filter(col("run_id") === runId)
        .orderBy(col("stage_idx")).collect()
        .map(r => (r.getAs[String]("stage"), r.getAs[Long]("docs"), r.getAs[Long]("tokens")))
        .toSeq
      val counts = funnel.map(_._2)
      if (counts.isEmpty || counts.zip(counts.tail).exists { case (a, b) => b > a })
        throw new IllegalStateException(s"non-monotone incremental funnel: $funnel")
    } catch {
      case scala.util.control.NonFatal(t) =>
        status = "failed"
        failure = Some(t)
      case t: Throwable =>
        try Bronze.finalizeRun(lake, runId, "unknown",
          new Timestamp(System.currentTimeMillis()))
        catch { case _: Throwable => () }
        throw t
    }

    Bronze.finalizeRun(lake, runId, status, new Timestamp(System.currentTimeMillis()))
    val maint = if (optimize) Some(Maintenance.run(lake)) else None
    CurationReport(runId, status, funnel, failure, maint)
  }
}
