package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-space clustering for the 100 TB curation/ANN path:
  *
  *   - [[seedCells]] — deterministic Voronoi cells from hash-selected seed
  *     vectors (~√n cells, so cells hold ~√n members). Seed selection is a
  *     pure per-row md5 predicate (no global sort, no RNG): any engine — and
  *     the DuckDB oracle — selects the identical seed set, which makes the
  *     whole IVF/SemDeDup pipeline hash-checkable end to end.
  *   - [[assignCells]] — nearest-seed assignment: corpus × broadcast(seeds)
  *     scored with the native codegen'd cosine kernel, argmax per vector via
  *     the bounded [[graft.sql.TopKPairs]] aggregate (each map task ships ONE
  *     candidate cell per vector to the shuffle — never the scored pairs).
  *   - [[ivfTopK]] — IVF approximate nearest neighbors: a query probes its
  *     `nprobe` nearest cells and exact-scores only their members. With
  *     ~√n cells, cost per query is ~nprobe·√n instead of n. This is the
  *     classic inverted-file ANN layout (Jégou et al., PAMI 2011); on a real
  *     deployment the corpus is written partitioned by cell_id so a probe
  *     becomes parquet partition PRUNING — the scan never touches unprobed
  *     cells.
  *   - [[kmeans]] — Lloyd refinement of the seed centroids: broadcast
  *     centroids, assign, recompute means with the native
  *     [[graft.sql.FloatVecSumAgg]] partial aggregate (k·dim doubles per map
  *     task on the shuffle — the vectors themselves never reshuffle).
  *     Centroid means are cross-row float sums, so refined centroids are
  *     engine/order-dependent in the last ulp; the oracle-gated queries
  *     (s05/d08) therefore run on the UNREFINED seed cells, and Lloyd is
  *     spec-verified by its invariants (WCSS non-increasing, argmin
  *     assignment).
  *   - [[semanticPairs]] / [[semanticDedup]] — SemDeDup-style semantic
  *     near-dup (Abbas et al. 2023, arXiv:2303.09540): pairwise cosine is
  *     computed only WITHIN a cell (the all-pairs product shrinks from n²
  *     to n^1.5 at √n cells), and any document with a smaller-id in-cell
  *     near-dup is dropped. Cross-cell duplicates are missed by design —
  *     the approximation that makes the operator linear-ish at scale.
  *
  * Scale shape: one broadcast of ~√n seed rows, one bounded-agg shuffle for
  * assignment, and joins keyed on cell_id whose per-key cardinality is
  * ~√n by construction — no hot keys, no all-pairs stage anywhere.
  */
object Clustering {

  /** Number of Voronoi cells for a corpus of n vectors: ⌈√n⌉ — balances
    * cell count against cell size (both ~√n), the standard IVF sizing. */
  def cellCount(n: Long): Long = math.ceil(math.sqrt(n.toDouble)).toLong

  /** Deterministic seed vectors: corpus rows whose md5-hash draw lands on
    * the stride. The stride is computed from a 1-row count aggregate and
    * broadcast into the filter (no driver action, no global window — the
    * predicate is per-row and scan-pushable).
    *
    * Output: (cell_id = seed's own id, c_emb, c_norm). */
  def seedCells(corpus: DataFrame, idCol: String, embCol: String): DataFrame = {
    // stride spelled with explicit floor()/ceil() so the oracle's integer
    // semantics can restate it verbatim (`/` is float division in both
    // engines)
    val n1 = corpus.agg(count(lit(1)).as("n"))
      .select(greatest(lit(1L),
        floor(col("n") / greatest(lit(1L), ceil(sqrt(col("n"))).cast("long"))).cast("long"))
        .as("stride"))
    corpus.join(broadcast(n1),
        pmod(conv(substring(Curation.hashKey(col(idCol)), 1, 8), 16, 10).cast("bigint"),
          col("stride")) === 0L)
      .select(col(idCol).cast("bigint").as("cell_id"),
        col(embCol).as("c_emb"),
        Similarity.l2Norm(col(embCol)).as("c_norm"))
  }

  /** Hard ceiling on cells/centroids pulled to the driver by
    * [[materializedCells]] / [[kmeans]]. √n sizing crosses it around
    * n ≈ 4·10¹² corpus rows (2M cells × ~264 B/row at dim 64 ≈ 0.5 GB of
    * driver heap — the same order a broadcast join already tolerates).
    * Mirrors `triangleCounts(closureBroadcastMaxEdges)`: an explicit,
    * parameterized gate instead of a silent driver OOM. Above the cap the
    * right structure is TWO-LEVEL assignment — a coarse codebook of ≤ cap
    * cells (collected/broadcast as today) routing each vector to a fine
    * cell refined distributively within its coarse partition — which keeps
    * every driver structure at ⁴√n; that variant belongs with the
    * deployment that needs it, so the gate fails fast and names it. */
  val MaxDriverCellsDefault: Int = 2000000

  /** [[seedCells]], materialized: collects the ~√n seed rows and
    * re-literalizes them as a local DataFrame. Every consumer broadcasts
    * the seed side anyway — the rows land on the driver either way — but a
    * plain subtree reference gets RECOMPUTED per consumer (assignment,
    * probing, member lookup each re-running the corpus count + filter scan:
    * 3 extra full scans at production scale). Collecting once pins a single
    * scan; at n = 10⁹ the seed set is ~√n·dim ≈ 8 MB — driver-safe by
    * construction, same order as any broadcast dim. Values are identical to
    * [[seedCells]] (same rows, same floats), so oracles are unaffected.
    * `maxDriverCells` gates the collect (see [[MaxDriverCellsDefault]]). */
  def materializedCells(corpus: DataFrame, idCol: String, embCol: String,
      maxDriverCells: Int = MaxDriverCellsDefault): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // limit(cap+1) bounds the transfer: on a compliant corpus it is a
    // no-op (seed count ≤ cap), and on an oversized one the driver sees
    // cap+1 rows — enough to fail — instead of the whole seed set
    val rows = seedCells(corpus, idCol, embCol)
      .select(col("cell_id"), col("c_emb"))
      .limit(maxDriverCells + 1)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toSeq
    require(rows.length <= maxDriverCells,
      s"seed cell count exceeds maxDriverCells=$maxDriverCells — the √n codebook no longer " +
        "fits the driver; use a two-level (coarse-then-fine) assignment or raise the cap")
    spark.createDataset(rows).toDF("cell_id", "c_emb")
      .select(col("cell_id"), col("c_emb"), Similarity.l2Norm(col("c_emb")).as("c_norm"))
  }

  /** Nearest-seed cell per corpus vector by cosine (ties → smallest
    * cell_id, exactly `row_number() OVER (ORDER BY cos DESC, cell_id ASC)`).
    * Zero-norm vectors score null against every seed and are dropped —
    * they have no direction to cluster on.
    *
    * Output: (vec_id, cell_id, cell_cos). */
  def assignCells(corpus: DataFrame, idCol: String, embCol: String,
      cells: DataFrame): DataFrame = {
    val scored = corpus
      .select(col(idCol).cast("bigint").as("vec_id"), col(embCol).as("v_emb"),
        Similarity.l2Norm(col(embCol)).as("v_norm"))
      .join(broadcast(cells))
      .select(col("vec_id"),
        (Similarity.dot(col("v_emb"), col("c_emb")) / (col("v_norm") * col("c_norm")))
          .as("cos"),
        col("cell_id"))
    // argmax = top-1 by (cos desc, cell_id asc): TopKPairs k=1 keeps exactly
    // the window idiom's first row, but partial-aggregates map-side.
    top1(scored, "vec_id", "cos", "cell_id")
      .select(col("vec_id"), col("id").as("cell_id"), col("score").as("cell_cos"))
  }

  /** Fold NEW vectors into a standing IVF index WITHOUT a rebuild: assign
    * the delta against the EXISTING cells and append to the standing
    * assignment — the append-only index maintenance a continuously-
    * ingesting corpus needs (a full codebook rebuild over 100 TB per
    * ingest batch is the anti-pattern; the codebook re-derives only when
    * [[cellSkewReport]] says the geometry drifted). Because assignment is
    * a per-row argmax against the same centroids, the folded index is
    * EXACTLY the one-shot assignment of the union — probes are identical,
    * not approximately so (spec-pinned). */
  def foldIntoIndex(delta: DataFrame, idCol: String, embCol: String,
      cells: DataFrame, standingAssign: DataFrame): DataFrame =
    standingAssign.unionByName(assignCells(delta, idCol, embCol, cells))

  /** Index-maintenance signal: per-cell member counts against the corpus
    * mean. `needs_split` flags cells above `splitFactor`× the mean — the
    * re-seed/split trigger after ingest drift (a hot cell degrades probe
    * cost toward a scan; a dead codebook degrades recall). One bounded
    * groupBy + a 1-row broadcast — never a corpus shuffle.
    *
    * Output: (cell_id, n_members, skew_ratio, needs_split). */
  def cellSkewReport(assign: DataFrame, splitFactor: Double = 2.0): DataFrame = {
    val counts = assign.groupBy(col("cell_id")).agg(count(lit(1)).as("n_members"))
    val mean = counts.agg(avg(col("n_members")).as("avg_members"))
    counts.join(broadcast(mean))
      .select(col("cell_id"), col("n_members"),
        round(col("n_members") / col("avg_members"), 6).as("skew_ratio"),
        (col("n_members") > col("avg_members") * splitFactor).as("needs_split"))
  }

  /** Bounded top-1 of (scoreCol, idCol) per group — shared argmax kernel. */
  private def top1(scored: DataFrame, groupCol: String, scoreCol: String,
      pickCol: String): DataFrame = {
    val agg = org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.TopKPairs(
        org.apache.spark.sql.graft.ColumnShim.expression(col(scoreCol)),
        org.apache.spark.sql.graft.ColumnShim.expression(col(pickCol)),
        1).toAggregateExpression())
    scored.groupBy(col(groupCol))
      .agg(agg.as("top"))
      .filter(size(col("top")) > 0)
      .select(col(groupCol), col("top")(0).getField("id").as("id"),
        col("top")(0).getField("score").as("score"))
  }

  /** IVF approximate top-k: each query probes its `nprobe` nearest cells
    * (by centroid cosine) and exact-scores only vectors assigned there.
    * Self-matches are excluded. `queries`/`corpus`: (id, embedding).
    *
    * Plan: seeds broadcast twice (corpus assignment + query probing — both
    * ~√n rows), candidate generation is an equi-join on cell_id (per-key
    * cardinality ~√n members × queries probing that cell), exact scores go
    * through the bounded TopKPairs top-k. At a production corpus the
    * assignment side is precomputed once and written partitioned by
    * cell_id, turning the probe join into partition pruning. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
      candidateBudget: Option[Long] = None,
      idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"k and nprobe must be >= 1, got k=$k nprobe=$nprobe")
    val cells = materializedCells(corpus, idCol, embCol)
    val assign = assignCells(corpus, idCol, embCol, cells)
    ivfTopKFromIndex(queries, corpus, cells, assign, k, nprobe, candidateBudget,
      idCol, embCol)
  }

  /** Scored (query × cell) frame every probe starts from:
    * (query_id, q_emb, q_norm, cos, cell_id). */
  private def qCellScores(queries: DataFrame, cells: DataFrame,
      idCol: String, embCol: String): DataFrame =
    queries
      .select(col(idCol).cast("bigint").as("query_id"), col(embCol).as("q_emb"),
        Similarity.l2Norm(col(embCol)).as("q_norm"))
      .join(broadcast(cells))
      .select(col("query_id"), col("q_emb"), col("q_norm"),
        (Similarity.dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
          .as("cos"),
        col("cell_id"))

  /** Probe-cell selection shared by the WHOLE IVF family (plain, PQ,
    * residual-ADC): cells in (centroid-cos desc, cell_id asc) order until
    * the probed cells' cumulative member count reaches `candidateBudget`
    * (crossing cell included; always ≥ 1 cell). This is the s18 budget
    * rule — fixed-nprobe cost is hostage to cell-size skew (one query
    * hitting hot cells exact-scores 10× another's candidates, a run of
    * near-empty cells starves recall at the same nprobe); budget probing
    * equalizes per-query work. `sizes` = (cell_id, cell_n) from the
    * assignment or any cell-carrying code table. Deterministic (cos desc,
    * cell_id asc prefix) so an external oracle replays it with a window
    * cumsum. Returns (query_id, q_emb, q_norm, cell_id). */
  private def budgetProbes(queries: DataFrame, cells: DataFrame, sizes: DataFrame,
      candidateBudget: Long, idCol: String, embCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cell_id").asc)
    qCellScores(queries, cells, idCol, embCol)
      .join(broadcast(sizes), Seq("cell_id"), "left")
      .withColumn("cell_n", coalesce(col("cell_n"), lit(0L))) // memberless cells cost nothing
      .withColumn("cum", sum(col("cell_n")).over(w))
      // prefix of cells that start BEFORE the budget fills (crossing cell
      // included; the first cell always qualifies at cum − cell_n = 0)
      .filter(col("cum") - col("cell_n") < candidateBudget)
      .select(col("query_id"), col("q_emb"), col("q_norm"), col("cell_id"))
  }

  /** Fixed-nprobe probe selection (bounded TopKPairs aggregate, k=nprobe).
    * Returns (query_id, q_emb, q_norm, cell_id). */
  private def fixedProbes(queries: DataFrame, cells: DataFrame, nprobe: Int,
      idCol: String, embCol: String): DataFrame = {
    val probeAgg = org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.TopKPairs(
        org.apache.spark.sql.graft.ColumnShim.expression(col("cos")),
        org.apache.spark.sql.graft.ColumnShim.expression(col("cell_id")),
        nprobe).toAggregateExpression())
    qCellScores(queries, cells, idCol, embCol)
      .groupBy(col("query_id"), col("q_emb"), col("q_norm"))
      .agg(probeAgg.as("cells"))
      .select(col("query_id"), col("q_emb"), col("q_norm"),
        explode(col("cells").getField("id")).as("cell_id"))
  }

  private def cellSizes(assign: DataFrame): DataFrame =
    assign.groupBy(col("cell_id")).agg(count(lit(1)).as("cell_n"))

  /** [[ivfTopK]] probing a PREBUILT index: `cells` (cell_id, c_emb, c_norm)
    * and `assign` (vec_id, cell_id, …) built once at write time and stored
    * at rest — the deployment shape, where index construction is amortized
    * across every query instead of paid per probe. Plan is identical to
    * [[ivfTopK]] from the probe step on. `candidateBudget` switches the
    * probe from fixed-nprobe to the [[budgetProbes]] rule (the shipped
    * s05/s18 config; `nprobe` is ignored then). */
  def ivfTopKFromIndex(queries: DataFrame, corpus: DataFrame,
      cells: DataFrame, assign: DataFrame, k: Int, nprobe: Int,
      candidateBudget: Option[Long] = None,
      idCol: String = "id", embCol: String = "embedding",
      /** At-rest (cell_id, cell_n) invlist lengths — an index stores them
        * in its header (FAISS invlist sizes); passing them spares the
        * budget probe a full scan + aggregate of the corpus-sized
        * assignment table PER QUERY. Must equal `cellSizes(assign)`
        * (content-checked by the oracle runs, which compute inline). */
      sizesAtRest: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"k and nprobe must be >= 1, got k=$k nprobe=$nprobe")
    require(candidateBudget.forall(_ >= 1),
      s"candidateBudget must be >= 1, got $candidateBudget")

    val probes = candidateBudget match {
      case Some(b) => budgetProbes(queries, cells,
        sizesAtRest.getOrElse(cellSizes(assign)), b, idCol, embCol)
      case None => fixedProbes(queries, cells, nprobe, idCol, embCol)
    }

    // candidates: members of probed cells (each corpus vector lives in
    // exactly ONE cell, so (query, neighbor) pairs are already distinct)
    val cEmb = corpus.select(col(idCol).cast("bigint").as("neighbor_id"),
      col(embCol).as("c_emb2"), Similarity.l2Norm(col(embCol)).as("c_norm2"))
    val cand = probes
      .join(assign, "cell_id")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_emb"), col("q_norm"), col("vec_id").as("neighbor_id"))
      .join(cEmb, "neighbor_id")
      .withColumn("cosine",
        Similarity.dot(col("q_emb"), col("c_emb2")) / (col("q_norm") * col("c_norm2")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    Similarity.topKByCosine(cand, k)
  }

  /** IVF probe with a CANDIDATE BUDGET instead of a fixed cell count
    * (adaptive nprobe): each query probes its nearest cells by centroid
    * cosine until the probed cells' member count reaches
    * `candidateBudget` (the budget-crossing cell included; always ≥ 1
    * cell). Fixed-nprobe cost is hostage to cell-size skew — one query
    * hitting hot cells exact-scores 10× another's candidates, while a
    * run of near-empty cells starves recall at the same nprobe.
    * Budget-probing equalizes the exact-scoring work per query and pairs
    * with [[cellSkewReport]]'s drift signal. Deterministic (cos desc,
    * cell_id asc prefix), so an external oracle replays the probe set
    * with a window cumsum.
    *
    * Plan: query×cells broadcast score (~√n rows per query), ONE bounded
    * window per query over those rows for the running member count (cell
    * sizes from a ~√n-row groupBy, broadcast), then the standard
    * cell-keyed candidate join + exact top-k — no new shuffle shape vs
    * the fixed-nprobe probe. */
  def ivfTopKAdaptive(queries: DataFrame, corpus: DataFrame,
      cells: DataFrame, assign: DataFrame, k: Int, candidateBudget: Long,
      idCol: String = "id", embCol: String = "embedding",
      sizesAtRest: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && candidateBudget >= 1,
      s"k and candidateBudget must be >= 1, got k=$k budget=$candidateBudget")
    ivfTopKFromIndex(queries, corpus, cells, assign, k, nprobe = 1,
      candidateBudget = Some(candidateBudget), idCol = idCol, embCol = embCol,
      sizesAtRest = sizesAtRest)
  }

  /** TWO-LEVEL (coarse→fine) cells — the above-cap layout the
    * [[materializedCells]] gate names, made concrete. The only structure
    * that ever reaches the driver/broadcast is the COARSE codebook of
    * ~⁴√n seeds (10⁴ rows at n = 10¹⁶ — trivially driver-safe at any
    * conceivable corpus); the FINE codebook (~√n cells total, ~⁴√n per
    * coarse cell) stays a DISTRIBUTED frame keyed by coarse cell, and
    * every fine-level computation is an equi-join on that key with
    * per-key cardinality bounded by coarse-cell size × fine-per-cell.
    *
    * Layout (inverted multi-index family — Babenko & Lempitsky, CVPR
    * 2012, on top of the [[seedCells]] hash-seed discipline):
    *   - sizing in EXACT integers both engines replay: S = ⌈√n⌉,
    *     K1 = ⌈√S⌉, coarse stride = n div K1, fine target/cell = S div K1
    *     (double-sqrt of integers — no cross-engine pow(x, 0.25) ulp risk);
    *   - coarse seeds: the [[seedCells]] md5 draw on the coarse stride;
    *   - fine seeds of a coarse cell: members on a SALTED md5 draw
    *     ("f|" || id — independent of the coarse draw) on stride
    *     cellSize div fineTarget, PLUS the cell's own coarse seed (so no
    *     cell is ever fine-seedless);
    *   - assignments: argmax cosine, ties to the smaller id — the
    *     [[assignCells]] semantics at both levels.
    *
    * Returns (coarse ≤ K1 rows materialized, fineAll distributed
    * (coarse_id, fine_id, f_emb, f_norm), assign (vec_id, coarse_id,
    * fine_id, fine_cos)). Deterministic and layout-invariant, so the
    * DuckDB oracle replays it bit-for-bit (s09). */
  def twoLevelIndex(corpus: DataFrame, idCol: String, embCol: String,
      maxDriverCells: Int = MaxDriverCellsDefault): (DataFrame, DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sizing = corpus.agg(count(lit(1)).as("n"))
      .select(col("n"),
        greatest(lit(1L), ceil(sqrt(col("n").cast("double"))).cast("long")).as("S"))
      .select(col("n"), col("S"),
        greatest(lit(1L), ceil(sqrt(col("S").cast("double"))).cast("long")).as("K1"))
      .select(
        greatest(lit(1L), expr("n div K1")).as("stride_c"),
        greatest(lit(1L), expr("S div K1")).as("fine_target"))
    // coarse codebook: unsalted md5 draw on the coarse stride, collected
    // under the same driver gate as materializedCells (≤ ⁴√n rows by
    // construction — far under any cap)
    val coarseRows = corpus.join(broadcast(sizing),
        pmod(conv(substring(Curation.hashKey(col(idCol)), 1, 8), 16, 10).cast("bigint"),
          col("stride_c")) === 0L)
      .select(col(idCol).cast("bigint").as("cell_id"), col(embCol).as("c_emb"))
      .limit(maxDriverCells + 1)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    require(coarseRows.length <= maxDriverCells,
      s"coarse cell count exceeds maxDriverCells=$maxDriverCells — raise the cap or deepen the hierarchy")
    val coarse = spark.createDataset(coarseRows).toDF("cell_id", "c_emb")
      .select(col("cell_id"), col("c_emb"), Similarity.l2Norm(col("c_emb")).as("c_norm"))

    val members = corpus
      .select(col(idCol).cast("bigint").as("vec_id"), col(embCol).as("emb"),
        Similarity.l2Norm(col(embCol)).as("norm"))
      .join(assignCells(corpus, idCol, embCol, coarse)
        .select(col("vec_id"), col("cell_id").as("coarse_id")), "vec_id")
    val cellSizes = members.groupBy(col("coarse_id")).agg(count(lit(1)).as("m"))
    val selected = members
      .join(cellSizes, "coarse_id")
      .crossJoin(broadcast(sizing.select(col("fine_target"))))
      .filter(pmod(
        conv(substring(md5(concat(lit("f|"), col("vec_id").cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast("bigint"),
        greatest(lit(1L), expr("m div fine_target"))) === 0L)
      .select(col("coarse_id"), col("vec_id").as("fine_id"),
        col("emb").as("f_emb"), col("norm").as("f_norm"))
    val fineAll = selected
      .unionByName(coarse.select(col("cell_id").as("coarse_id"), col("cell_id").as("fine_id"),
        col("c_emb").as("f_emb"), col("c_norm").as("f_norm")))
      .dropDuplicates("coarse_id", "fine_id")

    // fine assignment: equi-join on coarse_id — never a corpus×codebook product
    val fScored = members.join(fineAll, "coarse_id")
      .select(col("vec_id"), col("coarse_id"),
        (Similarity.dot(col("emb"), col("f_emb")) / (col("norm") * col("f_norm"))).as("cos"),
        col("fine_id"))
    val agg = org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.TopKPairs(
        org.apache.spark.sql.graft.ColumnShim.expression(col("cos")),
        org.apache.spark.sql.graft.ColumnShim.expression(col("fine_id")),
        1).toAggregateExpression())
    val assign = fScored.groupBy(col("vec_id"), col("coarse_id"))
      .agg(agg.as("top"))
      .filter(size(col("top")) > 0)
      .select(col("vec_id"), col("coarse_id"),
        col("top")(0).getField("id").as("fine_id"),
        col("top")(0).getField("score").as("fine_cos"))
    (coarse, fineAll, assign)
  }

  /** Two-level IVF top-k: probe `nprobeCoarse` coarse cells per query
    * (broadcast — ⁴√n rows), then the best `nprobeFine` FINE cells across
    * them (equi-join on coarse_id), then exact-score only those fine
    * cells' members. Candidate volume ≈ nprobeFine · n/S members per
    * query with no structure anywhere bigger than ⁴√n on the driver —
    * the shape that still stands at 10¹⁶ vectors where the flat √n
    * codebook ([[ivfTopK]]) would blow the driver gate. */
  def twoLevelTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nprobeCoarse: Int, nprobeFine: Int,
      candidateBudget: Option[Long] = None,
      idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    val (coarse, fineAll, assign) = twoLevelIndex(corpus, idCol, embCol)
    twoLevelTopKFromIndex(queries, corpus, coarse, fineAll, assign,
      k, nprobeCoarse, nprobeFine, candidateBudget, idCol, embCol)
  }

  /** [[twoLevelTopK]] probing a PREBUILT index (coarse, fineAll, assign
    * built once at write time) — the deployment/bench shape, matching
    * [[ivfTopKFromIndex]].
    *
    * `candidateBudget` extends the s18 BUDGET rule to BOTH levels of the
    * two-level probe (`nprobeCoarse`/`nprobeFine` are ignored then):
    * first the COARSE prefix — cells in (centroid-cos desc, cell_id asc)
    * order — expands until the REACHABLE member mass (members assigned
    * under the probed coarse cells) covers the budget, then fine cells —
    * ranked jointly across that prefix by (cos desc, fine_id asc) — are
    * taken until their cumulative member count reaches it (crossing cell
    * included at both levels; always ≥ 1). A fixed coarse prefix would
    * cap reachable members at nprobeCoarse·n/K1 and STARVE the fine
    * budget whenever the corpus is small relative to it (the r12 s09
    * recall limit: 3 of 7 coarse cells reached ~857 < 1200 budgeted
    * members); the two-level expansion guarantees the fine rule always
    * has ≥ budget members to choose from while exact-scored candidates
    * stay ≈ budget regardless of corpus size or cell skew. The
    * coarse-size aggregate is ≤ K1 ≈ ⁴√n rows (broadcast with the
    * codebook); the fine-size join is NOT broadcast — fine-cell count is
    * ~√n (beyond driver caps in exactly the regime this layout exists
    * for); the query-side frame is the small side and the sizes
    * aggregate is already distributed. */
  /** Coarse-prefix expansion factor for the budget probe: the coarse
    * prefix covers this multiple of the candidate budget in member mass,
    * so the fine-level rule selects its ~budget members from a wider
    * routed region (1× tracked the budget exactly but clipped recall —
    * the best fine cells of the (F+1)-th coarse cell beat the worst of
    * the F-th's). Exact-scoring stays budget-pinned regardless. */
  val CoarseOverprobe = 2L

  def twoLevelTopKFromIndex(queries: DataFrame, corpus: DataFrame,
      coarse: DataFrame, fineAll: DataFrame, assign: DataFrame, k: Int,
      nprobeCoarse: Int, nprobeFine: Int,
      candidateBudget: Option[Long] = None,
      idCol: String = "id", embCol: String = "embedding",
      /** At-rest (coarse_id, coarse_n) / (fine_id, cell_n) invlist
        * lengths for the two probe levels — see [[ivfTopKFromIndex]]. */
      coarseSizesAtRest: Option[DataFrame] = None,
      fineSizesAtRest: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && nprobeCoarse >= 1 && nprobeFine >= 1,
      s"k/nprobeCoarse/nprobeFine must be >= 1, got $k/$nprobeCoarse/$nprobeFine")
    require(candidateBudget.forall(_ >= 1),
      s"candidateBudget must be >= 1, got $candidateBudget")
    def topAgg(pick: String, kk: Int) = org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.TopKPairs(
        org.apache.spark.sql.graft.ColumnShim.expression(col("cos")),
        org.apache.spark.sql.graft.ColumnShim.expression(col(pick)),
        kk).toAggregateExpression())

    val q = queries.select(col(idCol).cast("bigint").as("query_id"), col(embCol).as("q_emb"),
      Similarity.l2Norm(col(embCol)).as("q_norm"))
    val qcScored = q.join(broadcast(coarse))
      .select(col("query_id"), col("q_emb"), col("q_norm"),
        (Similarity.dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))).as("cos"),
        col("cell_id"))
    val qc = candidateBudget match {
      case Some(b) =>
        // budget-expanded coarse prefix: probe coarse cells (cos desc,
        // cell_id asc) until their assigned-member mass covers
        // CoarseOverprobe × the budget, so the fine-level budget rule
        // below chooses its ~b members from a wider routed region — the
        // r12 fixed-nprobeCoarse routing starved it (reachable mass 857 <
        // 1200 pinned recall@5 at 0.585; 1× expansion read 0.795, the 2×
        // over-probe 0.835 ≥ the 0.80 target at the shipped 1200 budget,
        // sf0.1 RecallAb). Exact-scoring work stays pinned at ~b by the
        // fine rule; the over-probe only widens the FINE-CODEBOOK scoring
        // (≈ prefix cells · ⁴√n rows per query, still query-sized).
        import org.apache.spark.sql.expressions.Window
        val csizes = coarseSizesAtRest.getOrElse(
          assign.groupBy(col("coarse_id")).agg(count(lit(1)).as("coarse_n")))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("cell_id").asc)
        qcScored
          .join(broadcast(csizes), col("cell_id") === csizes("coarse_id"), "left")
          .withColumn("coarse_n", coalesce(col("coarse_n"), lit(0L)))
          .withColumn("cum", sum(col("coarse_n")).over(w))
          .filter(col("cum") - col("coarse_n") < b * CoarseOverprobe)
          .select(col("query_id"), col("q_emb"), col("q_norm"),
            col("cell_id").as("coarse_id"))
      case None =>
        qcScored
          .groupBy(col("query_id"), col("q_emb"), col("q_norm"))
          .agg(topAgg("cell_id", nprobeCoarse).as("cells"))
          .select(col("query_id"), col("q_emb"), col("q_norm"),
            explode(col("cells").getField("id")).as("coarse_id"))
    }
    val qfScored = qc.join(fineAll, "coarse_id")
      .select(col("query_id"), col("q_emb"), col("q_norm"),
        (Similarity.dot(col("q_emb"), col("f_emb")) / (col("q_norm") * col("f_norm"))).as("cos"),
        col("fine_id"))
    val qf = candidateBudget match {
      case Some(b) =>
        import org.apache.spark.sql.expressions.Window
        val sizes = fineSizesAtRest.getOrElse(
          assign.groupBy(col("fine_id")).agg(count(lit(1)).as("cell_n")))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("fine_id").asc)
        qfScored
          .join(sizes, Seq("fine_id"), "left")
          .withColumn("cell_n", coalesce(col("cell_n"), lit(0L)))
          .withColumn("cum", sum(col("cell_n")).over(w))
          .filter(col("cum") - col("cell_n") < b)
          .select(col("query_id"), col("q_emb"), col("q_norm"), col("fine_id"))
      case None =>
        qfScored
          .groupBy(col("query_id"), col("q_emb"), col("q_norm"))
          .agg(topAgg("fine_id", nprobeFine).as("fs"))
          .select(col("query_id"), col("q_emb"), col("q_norm"),
            explode(col("fs").getField("id")).as("fine_id"))
    }
    val cEmb = corpus.select(col(idCol).cast("bigint").as("neighbor_id"),
      col(embCol).as("c_emb2"), Similarity.l2Norm(col(embCol)).as("c_norm2"))
    val cand = qf
      .join(assign.select(col("fine_id"), col("vec_id")), "fine_id")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_emb"), col("q_norm"), col("vec_id").as("neighbor_id"))
      .join(cEmb, "neighbor_id")
      .withColumn("cosine",
        Similarity.dot(col("q_emb"), col("c_emb2")) / (col("q_norm") * col("c_norm2")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    Similarity.topKByCosine(cand, k)
  }

  /** SemDeDup candidate pairs: within-cell (id_a < id_b) embedding pairs
    * with cosine ≥ `minCosine`. The cell equi-join bounds the pair product
    * to cell size (~√n) instead of the corpus. */
  def semanticPairs(corpus: DataFrame, idCol: String, embCol: String,
      minCosine: Double): DataFrame = {
    val cells = materializedCells(corpus, idCol, embCol)
    val assign = assignCells(corpus, idCol, embCol, cells)
    val emb = corpus.select(col(idCol).cast("bigint").as("vec_id"), col(embCol).as("emb"),
      Similarity.l2Norm(col(embCol)).as("norm"))
    val m = assign.join(emb, "vec_id")
      .select(col("cell_id"), col("vec_id"), col("emb"), col("norm"))
    val a = m.select(col("cell_id"), col("vec_id").as("id_a"), col("emb").as("emb_a"),
      col("norm").as("norm_a"))
    val b = m.select(col("cell_id").as("cell_id_b"), col("vec_id").as("id_b"),
      col("emb").as("emb_b"), col("norm").as("norm_b"))
    a.join(b, col("cell_id") === col("cell_id_b") && col("id_a") < col("id_b"))
      .withColumn("cosine",
        Similarity.dot(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("cell_id"), col("id_a"), col("id_b"), col("cosine"))
  }

  /** SemDeDup keep/drop decision: drop any vector that has a smaller-id
    * near-dup in its own cell (greedy min-id keeper — deterministic without
    * transitive closure; chains keep their smallest id). Vectors that never
    * pair survive. Output: (vec_id, cell_id, kept). */
  def semanticDedup(corpus: DataFrame, idCol: String, embCol: String,
      minCosine: Double): DataFrame = {
    val cells = materializedCells(corpus, idCol, embCol)
    val assign = assignCells(corpus, idCol, embCol, cells)
    val dropped = semanticPairs(corpus, idCol, embCol, minCosine)
      .select(col("id_b").as("vec_id")).distinct()
    assign.join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"), col("hit").isNull.as("kept"))
  }

  /** One k-means model: centroids (float — assignments stay on the native
    * float kernels) and the within-cluster sum of squared distance per
    * Lloyd iteration (index 0 = seed assignment), for convergence checks. */
  final case class KMeansModel(centroids: Array[(Long, Array[Float])], wcss: Array[Double])

  /** Distributed Lloyd k-means over an `array<float>` column, refined from
    * the deterministic hash seeds. Per iteration: broadcast centroids →
    * per-row argmin squared-L2 (native dot kernel: ‖v−c‖² = ‖v‖² − 2v·c +
    * ‖c‖², one compiled pass per pair) → per-cell native vector-sum partial
    * aggregate → k·dim doubles to the driver → new centroid = mean (empty
    * cells keep their previous centroid). The corpus is scanned once per
    * iteration and never reshuffled — only (vec_id, cell) assignments and
    * k partial sums move.
    *
    * Returns the final model; [[assignKMeans]] replays the argmin for the
    * final centroids. */
  def kmeans(spark: SparkSession, corpus: DataFrame, idCol: String, embCol: String,
      iters: Int, maxDriverCells: Int = MaxDriverCellsDefault): KMeansModel = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // ~√n rows, k·dim floats; gated like materializedCells — the per-
    // iteration stats collect below is bounded by the same k
    val seedRows = seedCells(corpus, idCol, embCol)
      .select(col("cell_id"), col("c_emb")).limit(maxDriverCells + 1).collect()
    require(seedRows.length <= maxDriverCells,
      s"centroid count exceeds maxDriverCells=$maxDriverCells — the √n codebook no longer " +
        "fits the driver; use a two-level (coarse-then-fine) assignment or raise the cap")
    var centroids: Array[(Long, Array[Float])] = seedRows
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    val wcss = scala.collection.mutable.ArrayBuffer.empty[Double]

    var it = 0
    while (it <= iters) {
      val assigned = assignKMeansDist(spark, corpus, idCol, embCol, centroids)
      val stats = assigned
        .groupBy(col("cell_id"))
        .agg(
          org.apache.spark.sql.graft.ColumnShim.column(
            graft.sql.FloatVecSumAgg(
              org.apache.spark.sql.graft.ColumnShim.expression(col("emb")))
              .toAggregateExpression()).as("vec_sum"),
          count(lit(1)).as("members"),
          sum(col("dist2")).as("sum_dist2"))
        .collect()
      wcss += stats.map(_.getDouble(3)).sum
      if (it < iters) {
        val means = stats.map { r =>
          val s = r.getSeq[Double](1)
          val m = r.getLong(2).toDouble
          r.getLong(0) -> s.map(x => (x / m).toFloat).toArray
        }.toMap
        centroids = centroids.map { case (id, c) => id -> means.getOrElse(id, c) }
      }
      it += 1
    }
    KMeansModel(centroids, wcss.toArray)
  }

  /** Assignment under explicit centroids: (vec_id, cell_id, dist2). */
  def assignKMeans(spark: SparkSession, corpus: DataFrame, idCol: String, embCol: String,
      centroids: Array[(Long, Array[Float])]): DataFrame =
    assignKMeansDist(spark, corpus, idCol, embCol, centroids)
      .select(col("vec_id"), col("cell_id"), col("dist2"))

  private def assignKMeansDist(spark: SparkSession, corpus: DataFrame, idCol: String,
      embCol: String, centroids: Array[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    val cents = spark.createDataset(centroids.toSeq.map { case (id, c) => (id, c) })
      .toDF("cell_id", "c_emb")
      .select(col("cell_id"), col("c_emb"),
        Similarity.dot(col("c_emb"), col("c_emb")).as("c_sq"))
    val scored = corpus
      .select(col(idCol).cast("bigint").as("vec_id"), col(embCol).as("emb"),
        Similarity.dot(col(embCol), col(embCol)).as("v_sq"))
      .join(broadcast(cents))
      .select(col("vec_id"), col("emb"), col("v_sq"),
        (col("v_sq") - lit(2.0) * Similarity.dot(col("emb"), col("c_emb")) + col("c_sq"))
          .as("dist2"),
        col("cell_id"))
    // argmin dist2 = argmax −dist2; ties → smallest cell_id (TopKPairs order)
    val agg = org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.TopKPairs(
        org.apache.spark.sql.graft.ColumnShim.expression(-col("dist2")),
        org.apache.spark.sql.graft.ColumnShim.expression(col("cell_id")),
        1).toAggregateExpression())
    scored.groupBy(col("vec_id"), col("emb"))
      .agg(agg.as("top"))
      .filter(size(col("top")) > 0)
      .select(col("vec_id"), col("emb"),
        col("top")(0).getField("id").as("cell_id"),
        (-col("top")(0).getField("score")).as("dist2"))
  }

  // ---- product quantization (Jégou et al., PAMI 2011) ----------------------

  /** Codebook rows with a DENSE 1-based `pos` in ascending-id order. PQ
    * codes store the POSITION, not the entry's id: the ADC scan then
    * resolves each subspace distance by O(1) ARRAY indexing into a
    * per-query table sorted once at probe time, instead of the O(√n)
    * linear scan Catalyst's map `element_at` performs per lookup — at
    * numSub=16 that linear scan was the dominant per-candidate cost (16
    * scans of a ~√n-entry map per code row). Position order is id order,
    * so argmin ties (→ smallest pos) pick the same entry as the id-keyed
    * encoding and every estimate is bit-identical; external oracles keep
    * replaying the id-keyed spelling. The rank is computed by ONE
    * driver-side collect of the codebook ids — the codebook is
    * driver-bounded by the [[materializedCells]] gate by construction
    * (same discipline), and the join back broadcasts, so query plans stay
    * window-free. */
  private def withPos(cells: DataFrame, idCol: String): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val ids = cells.select(col(idCol).cast("bigint")).collect().map(_.getLong(0)).sorted
    require(ids.length <= MaxDriverCellsDefault,
      s"codebook of ${ids.length} entries exceeds the driver gate ($MaxDriverCellsDefault)")
    val pos = ids.zipWithIndex.map { case (id, i) => (id, (i + 1).toLong) }.toSeq
    cells.join(broadcast(pos.toDF("__pid", "pos")), col(idCol) === col("__pid"))
      .drop("__pid")
  }

  /** ALL per-subspace (pos → value) positional arrays from ONE sorted
    * collect per group: collect_list(struct(pos, v_0 … v_{numSub−1})),
    * array_sort'ed by the (unique — deterministic) leading pos once, then
    * each value column projected out with `transform`. The previous
    * one-aggregate-per-column spelling sorted the SAME group list once
    * PER SUBSPACE — numSub array_sorts of √n structs per group, which
    * serialized into ~1 s of single-task CPU inside the (AQE-coalesced,
    * group-count-tiny) final aggregate at sf0.1. Entry order and values
    * are identical (pos is unique, so the sort never reaches the value
    * fields); `element_at(arr, code)` with the 1-based positional code
    * stays the O(1) ADC lookup. */
  private def posArraysAgg(df: DataFrame, keyCol: String,
      valCols: Seq[String], outCols: Seq[String]): DataFrame = {
    val sorted = array_sort(collect_list(struct(col("pos") +: valCols.map(col): _*)))
    df.groupBy(col(keyCol)).agg(sorted.as("__ps"))
      .select(col(keyCol) +: valCols.zip(outCols).map { case (v, o) =>
        transform(col("__ps"), x => x.getField(v)).as(o) }: _*)
  }

  /** `CAST(round(x, 9) AS DECIMAL(28,9))` as a scaled long (e9 units) —
    * [[graft.sql.Round9E9]]. The ADC hash discipline's per-term rounding,
    * kept in a plain long so the candidate scan sums integers instead of
    * precision-28 (BigDecimal-backed) decimals; see
    * [[graft.sql.AdcFixedPoint]] for the bit-parity argument. */
  private def round9e9(x: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.Round9E9(org.apache.spark.sql.graft.ColumnShim.expression(x)))

  /** Per-candidate ADC estimate over a flattened e9-unit distance table —
    * ONE compiled loop ([[graft.sql.AdcLookupSum]]) replacing numSub
    * `element_at` lookups + a decimal(28,9) add chain per candidate row. */
  private def adcEstD2(codes: Seq[Column], table: Column): Column = {
    val sum = org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.AdcLookupSum(
        org.apache.spark.sql.graft.ColumnShim.expression(array(codes: _*)),
        org.apache.spark.sql.graft.ColumnShim.expression(table)))
    sum.cast("double") / lit(1e9)
  }

  /** [[posArraysAgg]] + subspace-major flatten: ONE `array<long|double>`
    * table column per group instead of numSub array columns — the plan
    * stays numSub-independent from here down (analysis/codegen cost was a
    * measured ~1.4 s/run driver constant on the 16-wide spellings). */
  private def posTableAgg(df: DataFrame, keyCol: String, valCols: Seq[String],
      outCol: String): DataFrame = {
    val tmp = valCols.indices.map(i => s"__t_$i")
    posArraysAgg(df, keyCol, valCols, tmp)
      .select(col(keyCol), concat(tmp.map(col): _*).as(outCol))
  }

  /** Squared L2 distance between the `m`-th `subDim`-wide subspace slices of
    * two `array<float>` columns, `|a|² + |b|² − 2·a·b` with each term a
    * sequential double fold — fixed op order, so an external oracle
    * restates the identical double arithmetic. One fused native expression
    * ([[graft.sql.FloatSubDist2]], bit-identical to the slice +
    * [[graft.sql.FloatVecDot]] composition it replaced): the ADC table
    * builds evaluate this Q·(nprobe·)√n·numSub times, and the composed
    * form paid three sliced-array allocations per call on that hot path. */
  private def subDist2(a: Column, b: Column, m: Int, subDim: Int): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.FloatSubDist2(
        org.apache.spark.sql.graft.ColumnShim.expression(a),
        org.apache.spark.sql.graft.ColumnShim.expression(b), m, subDim))

  /** Subspace dot product — [[graft.sql.FloatSubDot]], the single `a·b`
    * fold of [[subDist2]] on its own: the kernel of the factored
    * residual-ADC table build (see [[ivfAdcResidualFromIndex]]). */
  private def subDot(a: Column, b: Column, m: Int, subDim: Int): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.FloatSubDot(
        org.apache.spark.sql.graft.ColumnShim.expression(a),
        org.apache.spark.sql.graft.ColumnShim.expression(b), m, subDim))

  /** The slice+dot composition [[subDot]] fuses — the executable
    * specification its bit-parity spec pins against. */
  private[graft] def subDotComposed(a: Column, b: Column, m: Int, subDim: Int): Column =
    Similarity.dot(slice(a, m * subDim + 1, subDim), slice(b, m * subDim + 1, subDim))

  private[graft] def subDotNative(a: Column, b: Column, m: Int, subDim: Int): Column =
    subDot(a, b, m, subDim)

  /** The slice+dot composition [[subDist2]] fused — the executable
    * specification ShingleHashesSpec pins the native expression against
    * (bit-for-bit, all 16 subspaces + null/length edges). */
  private[graft] def subDist2Composed(a: Column, b: Column, m: Int, subDim: Int): Column = {
    val as = slice(a, m * subDim + 1, subDim)
    val bs = slice(b, m * subDim + 1, subDim)
    Similarity.dot(as, as) + Similarity.dot(bs, bs) - lit(2.0) * Similarity.dot(as, bs)
  }

  /** PQ codes: each vector's `numSub` subspace slices quantized to the
    * nearest codebook entry (argmin subspace-L2; ties → smallest cell_id).
    * The codebook is the [[seedCells]] seed set — one deterministic,
    * hash-selected row set shared by every subspace, so the whole encoding
    * is oracle-replayable (k-means-trained codebooks slot in the same way
    * Lloyd does for IVF: spec-verified, not oracle-gated).
    *
    * Output: (vec_id, code_0 … code_{numSub−1}) — each code the entry's
    * dense 1-based POSITION in ascending-cell_id codebook order (see
    * [[withPos]]; ties → smallest position ≡ smallest cell_id, so the
    * selected entry is identical to the id-keyed encoding). Cost: corpus ×
    * ~√n seed broadcast, then ONE partial `min(struct)` aggregate per
    * subspace — each map task ships numSub structs per vector to the
    * shuffle, never the scored candidates. A 64-dim float vector (256 B)
    * compresses to numSub codes (~numSub·log₂√n bits — 8 B here): the
    * memory lever that lets a 100 TB corpus's ANN index live in RAM. */
  def pqCodes(corpus: DataFrame, idCol: String, embCol: String,
      cells: DataFrame, numSub: Int, subDim: Int): DataFrame = {
    val scored = corpus
      .select(col(idCol).cast("bigint").as("vec_id"), col(embCol).as("v_emb"))
      .join(broadcast(withPos(cells.select(col("cell_id"), col("c_emb")), "cell_id")))
    val aggs = (0 until numSub).map { m =>
      min(struct(subDist2(col("v_emb"), col("c_emb"), m, subDim).as("d"),
        col("pos").as("c")))
        .getField("c").as(s"code_$m")
    }
    scored.groupBy(col("vec_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** PQ asymmetric-distance (ADC) approximate top-k: queries stay exact,
    * the corpus is its PQ codes. Per query, ONE broadcast row holds a
    * positional subspace-distance ARRAY per subspace (see [[withPos]]);
    * the corpus-code scan estimates
    * `d²(q, v) ≈ Σ_m d²(q_m, codebook[code_m])` by `numSub` O(1) array
    * indexes per row and the bounded TopKPairs aggregate keeps k — the
    * corpus never shuffles, never materializes scored pairs, and never
    * touches the original vectors. This is the scan shape that runs ANN
    * over a RAM-resident code table at 100 TB.
    *
    * Determinism: each subspace distance is rounded to 9 decimals and summed
    * as DECIMAL(28,9) — exact, order-independent addition (same discipline
    * as t11) — then ONE cast to double ranks (est ASC, neighbor ASC).
    *
    * `rerank > 0` adds the standard IVFADC refinement: the PQ estimate keeps
    * a shortlist of `rerank` candidates per query, and only those are
    * exact-scored against the original vectors (shortlist broadcast into the
    * corpus scan — the corpus still never shuffles). On the fixture corpus
    * (the hard near-orthogonal regime) raw ADC recall@5 is 0.16; with
    * rerank=100 it is 0.92 at sf0.001 / 0.61 at sf0.1 while exact-scoring
    * only 20% / 5% of the corpus — at the measured s02/s05 frontier with a
    * far smaller exact-score budget.
    *
    * Output: (query_id, rank, neighbor_id, pq_dist2) — pq_dist2 is the
    * ranking distance: the ADC estimate, or the exact d² after rerank. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      numSub: Int, subDim: Int, rerank: Int = 0,
      idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    val cells = materializedCells(corpus, idCol, embCol)
    val codes = pqCodes(corpus, idCol, embCol, cells, numSub, subDim)
    pqTopKFromCodes(queries, corpus, cells, codes, k, numSub, subDim, rerank, idCol, embCol)
  }

  /** [[pqTopK]] probing PREBUILT artifacts: the `cells` codebook
    * (cell_id, c_emb, …) and the corpus `codes` table
    * (vec_id, code_0 … code_{numSub−1}) built once at write time and stored
    * at rest — the deployment shape (the whole point of PQ is that the code
    * table, ~numSub·log₂√n bits/vector, is the only thing the ADC scan touches). Plan is
    * identical to [[pqTopK]] from the query-distance-table step on. */
  def pqTopKFromCodes(queries: DataFrame, corpus: DataFrame,
      cells: DataFrame, codes: DataFrame, k: Int,
      numSub: Int, subDim: Int, rerank: Int = 0,
      idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    require(k >= 1 && numSub >= 1 && subDim >= 1, s"bad k=$k numSub=$numSub subDim=$subDim")
    require(rerank == 0 || rerank >= k, s"rerank must be 0 or >= k, got $rerank")

    // per-term rounding in e9 units (scaled long ≡ the decimal(28,9)
    // discipline — [[round9e9]]); the per-query table flattens to ONE
    // subspace-major array (see [[posTableAgg]]), so the candidate scan is
    // one compiled lookup-sum loop instead of a numSub-wide decimal chain
    val qd = queries
      .select(col(idCol).cast("bigint").as("query_id"), col(embCol).as("q_emb"))
      .join(broadcast(withPos(cells.select(col("cell_id"), col("c_emb")), "cell_id")))
      .select(col("query_id") +: col("pos") +: (0 until numSub).map(m =>
        round9e9(subDist2(col("q_emb"), col("c_emb"), m, subDim)).as(s"ql_$m")): _*)
    // per-query POSITIONAL distance table (see [[withPos]]): the scan
    // resolves each subspace by O(1) array indexing, not a map scan
    val qMaps = posTableAgg(qd, "query_id",
      (0 until numSub).map(m => s"ql_$m"), "qtab")

    val scored = codes.join(broadcast(qMaps))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcEstD2((0 until numSub).map(m => col(s"code_$m")), col("qtab")).as("est_d2"))
    rankAdc(scored, queries, corpus, k, rerank, idCol, embCol)
  }

  /** Shared ADC ranking tail: top-k by estimated d² (ASC, neighbor ASC),
    * optionally refined by exact-scoring a `rerank`-sized shortlist against
    * the original vectors (shortlist broadcast into one corpus scan — the
    * corpus never shuffles). `scored`: (query_id, neighbor_id, est_d2). */
  private def rankAdc(scored: DataFrame, queries: DataFrame, corpus: DataFrame,
      k: Int, rerank: Int, idCol: String, embCol: String): DataFrame = {
    // top-k by distance ASC == TopKPairs score DESC on the negated estimate
    val negScored =
      scored.select(col("query_id"), col("neighbor_id"), (-col("est_d2")).as("cosine"))
    if (rerank == 0) {
      Similarity.topKByCosine(negScored, k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          (-col("cosine")).as("pq_dist2"))
    } else {
      // shortlist by the estimate, exact-score ONLY the shortlist: the
      // Q·rerank shortlist (with query vectors attached) broadcasts into
      // one corpus scan — exact distances without a corpus shuffle
      val qv = queries.select(col(idCol).cast("bigint").as("query_id"),
        col(embCol).as("q_emb2"))
      val shortlist = Similarity.topKByCosine(negScored, rerank)
        .select(col("query_id"), col("neighbor_id"))
        .join(broadcast(qv), "query_id")
      val exact = corpus
        .select(col(idCol).cast("bigint").as("neighbor_id"), col(embCol).as("c_emb2"))
        .join(broadcast(shortlist), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          (-(Similarity.dot(col("q_emb2"), col("q_emb2"))
            + Similarity.dot(col("c_emb2"), col("c_emb2"))
            - lit(2.0) * Similarity.dot(col("q_emb2"), col("c_emb2")))).as("cosine"))
      Similarity.topKByCosine(exact, k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          (-col("cosine")).as("pq_dist2"))
    }
  }

  /** IVFPQ / IVFADC (Jégou, Douze & Schmid 2011 — the FAISS `IVFx,PQy`
    * layout, non-residual variant): the coarse IVF cells restrict WHICH
    * code rows the ADC scan estimates, and PQ codes decide HOW each is
    * estimated — the composition that serves ANN from RAM at 100 TB
    * (codes ≈ numSub·log₂√n bits/vector, scan cost ≈ nprobe/√n of the corpus instead of
    * all of it).
    *
    * Plan: both codebooks are the same ~√n seed set (broadcast); the query
    * side computes its nprobe probe cells and per-subspace distance maps
    * (bounded TopKPairs + one collect_list agg — query-sized); the
    * at-rest code table carries its coarse cell_id, so candidate
    * restriction is ONE broadcast equi-join on cell_id (at rest the codes
    * are partitioned by cell_id, turning the join into partition pruning);
    * the estimate is numSub map lookups per candidate row and the bounded
    * top-k keeps k. The corpus data never shuffles at any step. Exact
    * rerank refines the shortlist exactly as [[pqTopKFromCodes]].
    *
    * Determinism: per-subspace distances round to 9 decimals and sum as
    * DECIMAL (t11 discipline); ranks tie-break (dist ASC, neighbor ASC).
    * Output: (query_id, rank, neighbor_id, pq_dist2). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
      numSub: Int, subDim: Int, rerank: Int = 0,
      candidateBudget: Option[Long] = None,
      idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    val cells = materializedCells(corpus, idCol, embCol)
    val assign = assignCells(corpus, idCol, embCol, cells)
    val codes = pqCodes(corpus, idCol, embCol, cells, numSub, subDim)
    ivfPqTopKFromIndex(queries, corpus, cells, assign, codes,
      k, nprobe, numSub, subDim, rerank, candidateBudget, idCol, embCol)
  }

  /** [[ivfPqTopK]] probing PREBUILT at-rest artifacts (`cells` codebook,
    * `assign` cell membership, `codes` PQ code table). `candidateBudget`
    * switches the coarse probe to the [[budgetProbes]] rule. */
  def ivfPqTopKFromIndex(queries: DataFrame, corpus: DataFrame,
      cells: DataFrame, assign: DataFrame, codes: DataFrame,
      k: Int, nprobe: Int, numSub: Int, subDim: Int, rerank: Int = 0,
      candidateBudget: Option[Long] = None,
      idCol: String = "id", embCol: String = "embedding",
      /** At-rest invlist lengths — see [[ivfTopKFromIndex]]. */
      sizesAtRest: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && nprobe >= 1 && numSub >= 1 && subDim >= 1,
      s"bad k=$k nprobe=$nprobe numSub=$numSub subDim=$subDim")
    require(rerank == 0 || rerank >= k, s"rerank must be 0 or >= k, got $rerank")

    // query → probed coarse cells (budget prefix or bounded TopKPairs)
    val probes = (candidateBudget match {
      case Some(b) => budgetProbes(queries, cells,
        sizesAtRest.getOrElse(cellSizes(assign)), b, idCol, embCol)
      case None => fixedProbes(queries, cells, nprobe, idCol, embCol)
    }).select(col("query_id"), col("cell_id"))

    // per-query POSITIONAL distance table in e9 units — query-sized (see
    // [[withPos]]: codes are positions, lookups O(1) array indexes; see
    // [[round9e9]]/[[posTableAgg]] for the scaled-long + flatten move)
    val qd = queries
      .select(col(idCol).cast("bigint").as("query_id"), col(embCol).as("q_emb"))
      .join(broadcast(withPos(cells.select(col("cell_id"), col("c_emb")), "cell_id")))
      .select(col("query_id") +: col("pos") +: (0 until numSub).map(m =>
        round9e9(subDist2(col("q_emb"), col("c_emb"), m, subDim)).as(s"ql_$m")): _*)
    val qMaps = posTableAgg(qd, "query_id",
      (0 until numSub).map(m => s"ql_$m"), "qtab")

    // candidate restriction: code rows of probed cells only — the at-rest
    // code table keyed by cell_id meets the broadcast (query, cell) probes.
    // A `codes` frame already carrying cell_id (the deployment layout —
    // codes are WRITTEN partitioned by their coarse cell) skips the
    // build-time corpus-sized codes⋈assign join entirely.
    val codesCell =
      if (codes.columns.contains("cell_id")) codes
      else codes.join(assign.select(col("vec_id"), col("cell_id")), "vec_id")
    val scored = codesCell
      .join(broadcast(probes.join(broadcast(qMaps), "query_id")), "cell_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcEstD2((0 until numSub).map(m => col(s"code_$m")), col("qtab")).as("est_d2"))
    rankAdc(scored, queries, corpus, k, rerank, idCol, embCol)
  }

  // ---- residual IVFADC (FAISS IVFx,PQy default: encode v − centroid) ------

  /** Residual PQ codebook: one entry per coarse cell — the cell centroid
    * MINUS its nearest other centroid (cosine argmax, ties → smallest id;
    * float subtraction). Rationale: residuals live near the origin with
    * magnitudes on the order of inter-centroid gaps, so centroid
    * DIFFERENCES sample that distribution — while staying a pure,
    * hash-seeded, oracle-replayable function of the corpus the way
    * [[seedCells]] is (a k-means-trained residual codebook slots into the
    * same frame spec-verified, like Lloyd does for IVF). √n × √n = O(n)
    * scoring work, broadcast join, one window on the √n rows.
    * Output: (rcode_id, r_emb). */
  def residualCodebook(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val other = cells.select(col("cell_id").as("o_id"), col("c_emb").as("o_emb"),
      col("c_norm").as("o_norm"))
    val scored = cells.select(col("cell_id"), col("c_emb"), col("c_norm"))
      .join(broadcast(other), col("cell_id") =!= col("o_id"))
      .select(col("cell_id"), col("c_emb"), col("o_id"), col("o_emb"),
        (Similarity.dot(col("c_emb"), col("o_emb")) / (col("c_norm") * col("o_norm")))
          .as("cos"))
    val w = Window.partitionBy(col("cell_id")).orderBy(col("cos").desc, col("o_id").asc)
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("cell_id").as("rcode_id"),
        zip_with(col("c_emb"), col("o_emb"), (x, y) => x - y).as("r_emb"))
  }

  /** Residual PQ codes: each vector's RESIDUAL against its coarse centroid
    * (v − c, float subtraction) quantized per subspace against the
    * [[residualCodebook]] — the FAISS IVFADC default encoding, which
    * spends the code budget on the within-cell offset instead of
    * re-describing the centroid the cell id already names. Same plan shape
    * as [[pqCodes]] plus one broadcast centroid join; carries `cell_id` so
    * the at-rest table is directly the IVF-partitioned deployment layout.
    * Output: (vec_id, cell_id, code_0 … code_{numSub−1}). */
  def residualPqCodes(corpus: DataFrame, idCol: String, embCol: String,
      cells: DataFrame, rcb: DataFrame, numSub: Int, subDim: Int): DataFrame = {
    val assign = assignCells(corpus, idCol, embCol, cells)
    val res = corpus
      .select(col(idCol).cast("bigint").as("vec_id"), col(embCol).as("v_emb"))
      .join(assign.select(col("vec_id"), col("cell_id")), "vec_id")
      .join(broadcast(cells.select(col("cell_id"), col("c_emb"))), "cell_id")
      .select(col("vec_id"), col("cell_id"),
        zip_with(col("v_emb"), col("c_emb"), (x, y) => x - y).as("v_res"))
    // codes are the entry's dense POSITION in rcode_id order (see
    // [[withPos]]; ties → smallest position ≡ smallest rcode_id)
    val scored = res.join(broadcast(withPos(rcb, "rcode_id")))
    val aggs = (0 until numSub).map { m =>
      min(struct(subDist2(col("v_res"), col("r_emb"), m, subDim).as("d"),
        col("pos").as("c")))
        .getField("c").as(s"code_$m")
    }
    scored.groupBy(col("vec_id"), col("cell_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Residual IVFADC top-k (Jégou, Douze & Schmid 2011, §IV-B — the FAISS
    * `IVFx,PQy` DEFAULT, closing the non-residual gap of [[ivfPqTopK]]):
    * candidates come from the nprobe coarse cells exactly as in
    * [[ivfPqTopKFromIndex]], but the estimate is
    * `d²(q − c_cell, codebook[code])` — the query re-expressed in each
    * probed cell's residual frame. Because distances now depend on the
    * (cell, code) PAIR, the query side builds one distance table per
    * probed cell (Q·nprobe·√n·numSub entries — the per-probe table FAISS
    * also computes per query; still query-sized, never corpus-sized) and
    * the scan keys its map lookups by (cell_id, code). The table build is
    * FACTORED so the subspace folds don't scale with nprobe: the only
    * (query × code) folds are the probe-independent q·r dots, the cell ×
    * code term is computed once per batch, and each probe's table
    * assembles by zip_with array arithmetic (see the inline derivation in
    * [[ivfAdcResidualFromIndex]]). Corpus data never shuffles; exact
    * rerank refines the shortlist as in [[pqTopKFromCodes]].
    *
    * Determinism: per-subspace distances round to 9 decimals and sum as
    * DECIMAL (t11 discipline); ranks tie-break (dist ASC, neighbor ASC).
    * Output: (query_id, rank, neighbor_id, pq_dist2). */
  def ivfAdcResidualTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
      numSub: Int, subDim: Int, rerank: Int = 0,
      candidateBudget: Option[Long] = None,
      idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    val cells = materializedCells(corpus, idCol, embCol)
    val rcb = residualCodebook(cells)
    val codes = residualPqCodes(corpus, idCol, embCol, cells, rcb, numSub, subDim)
    ivfAdcResidualFromIndex(queries, corpus, cells, rcb, codes,
      k, nprobe, numSub, subDim, rerank, candidateBudget, idCol, embCol)
  }

  /** [[ivfAdcResidualTopK]] probing PREBUILT at-rest artifacts (`cells`
    * coarse codebook, `rcb` residual codebook, `codes` cell-carrying
    * residual code table). `candidateBudget` switches the coarse probe to
    * the [[budgetProbes]] rule; cell sizes come from the code table
    * itself (one row per vector, cell_id-carrying), so no separate
    * assignment frame is needed. */
  def ivfAdcResidualFromIndex(queries: DataFrame, corpus: DataFrame,
      cells: DataFrame, rcb: DataFrame, codes: DataFrame,
      k: Int, nprobe: Int, numSub: Int, subDim: Int, rerank: Int = 0,
      candidateBudget: Option[Long] = None,
      idCol: String = "id", embCol: String = "embedding",
      /** At-rest invlist lengths — see [[ivfTopKFromIndex]]. */
      sizesAtRest: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && nprobe >= 1 && numSub >= 1 && subDim >= 1,
      s"bad k=$k nprobe=$nprobe numSub=$numSub subDim=$subDim")
    require(rerank == 0 || rerank >= k, s"rerank must be 0 or >= k, got $rerank")

    // query → probed coarse cells (budget prefix or bounded TopKPairs)
    val probes = (candidateBudget match {
      case Some(b) => budgetProbes(queries, cells,
        sizesAtRest.getOrElse(cellSizes(codes.select(col("cell_id")))), b, idCol, embCol)
      case None => fixedProbes(queries, cells, nprobe, idCol, embCol)
    }).select(col("query_id"), col("cell_id"))

    // FACTORED per-probe table build. The residual estimate decomposes as
    //   ‖(q−c)−r‖²_m = qc2_m + (rn2_m + 2·c·r_m) − 2·q·r_m
    // and only the LAST term has a (query × code) extent — computing it
    // probe-independently (once per query per code, not once per PROBED
    // CELL per code) cuts the dominant subspace-fold count by nprobe×.
    // The cell-side term sc_m = rn2_m + 2·c·r_m is query-independent
    // (once per batch, ~n·numSub folds); qc2_m has no code extent. The
    // combination association is FIXED — ((qc2 + sc) − 2·qr), sc's own
    // association (rn2 + 2·cr) — and the DuckDB oracle restates it
    // exactly, so the estimates stay hash-replayable (they differ from
    // the fused-subtraction form only in float rounding; recall is
    // unchanged — RecallAb re-witnesses).
    val rcbPos = withPos(rcb, "rcode_id").select(col("pos"), col("r_emb"))
    // probe-independent query×code dots, one flattened subspace-major table
    val qrArrs = posTableAgg(queries
      .select(col(idCol).cast("bigint").as("query_id"), col(embCol).as("q_emb"))
      .join(broadcast(rcbPos))
      .select(col("query_id") +: col("pos") +:
        (0 until numSub).map(m =>
          subDot(col("q_emb"), col("r_emb"), m, subDim).as(s"qr_$m")): _*),
      "query_id",
      (0 until numSub).map(m => s"qr_$m"), "qraf")

    // query-independent cell×code term, one flattened table per cell.
    // The cells codebook is ~√n rows in ONE parquet file, so without the
    // repartition the √n·√n·numSub subspace folds (537×537×32 at sf0.1 ≈
    // 9M fused dot-products) all land on a single task — measured 927 ms
    // of sequential CPU in an otherwise sub-200 ms-per-stage query. One
    // tiny exchange (√n rows) spreads the build across the executors.
    // (explicit partition count: the exchange payload is ~100 KB, so
    // keyed-only repartition gets AQE-coalesced straight back to 1 task —
    // the work here is CPU, not bytes)
    val scArrs = posTableAgg(cells.select(col("cell_id"), col("c_emb"))
      .repartition(cells.sparkSession.sparkContext.defaultParallelism, col("cell_id"))
      .join(broadcast(rcbPos))
      .select(col("cell_id") +: col("pos") +:
        (0 until numSub).map(m =>
          (subDot(col("r_emb"), col("r_emb"), m, subDim)
            + lit(2.0) * subDot(col("c_emb"), col("r_emb"), m, subDim)).as(s"sc_$m")): _*),
      "cell_id",
      (0 until numSub).map(m => s"sc_$m"), "scaf")

    // FUSED per-(query, probed cell) e9-unit table
    // ([[graft.sql.ResidualAdcTableE9]]): entry (m, p) is the exact double
    // association the per-candidate spelling evaluated —
    // (qc2_m + sca[m·S+p]) − 2·qra[m·S+p] — rounded to the hash
    // discipline's 9 decimals as a scaled long. Building it here moves the
    // rounding extent from Q·budget·numSub (every candidate row) to
    // Q·nprobe·numSub·√n (once per probed cell), and the candidate scan
    // becomes ONE compiled lookup-sum over ONE broadcast — the earlier
    // shape joined three broadcasts (probe scalars + query tables + cell
    // tables) and ran the decimal round/add chain per candidate. The
    // broadcast stays query-sided: Q·nprobe rows × numSub·√n longs (the
    // per-query table FAISS also materializes per probe).
    val resTable = org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.ResidualAdcTableE9(
        org.apache.spark.sql.graft.ColumnShim.expression(
          array((0 until numSub).map(m => col(s"qc2_$m")): _*)),
        org.apache.spark.sql.graft.ColumnShim.expression(col("scaf")),
        org.apache.spark.sql.graft.ColumnShim.expression(col("qraf"))))
    // the explicit repartition spreads the table build: Q·nprobe rows ×
    // numSub·√n round9E9 calls each is the heaviest CPU of the whole
    // query (sf0.1: ~0.8M roundings ≈ 0.4 s), and without it the rows sit
    // on the probe window's output — ONE AQE-coalesced partition (30 KB),
    // so the build ran single-task (measured stage: 1 task, 386 ms CPU).
    // Payload shipped is the ~200 B qc2 rows, BEFORE the fat table
    // columns attach; explicit count because a keyed-only repartition of
    // 30 KB gets coalesced straight back to 1 task (same move as scArrs).
    val qprobe = probes
      .join(queries.select(col(idCol).cast("bigint").as("query_id"),
        col(embCol).as("q_emb")), "query_id")
      .join(broadcast(cells.select(col("cell_id"), col("c_emb"))), "cell_id")
      .select(col("query_id") +: col("cell_id") +:
        (0 until numSub).map(m =>
          subDist2(col("q_emb"), col("c_emb"), m, subDim).as(s"qc2_$m")): _*)
      .repartition(queries.sparkSession.sparkContext.defaultParallelism)
      .join(broadcast(qrArrs), Seq("query_id"))
      .join(broadcast(scArrs), Seq("cell_id"))
      .select(col("query_id"), col("cell_id"), resTable.as("qtab"))

    val scored = codes
      .join(broadcast(qprobe), Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcEstD2((0 until numSub).map(m => col(s"code_$m")), col("qtab")).as("est_d2"))
    rankAdc(scored, queries, corpus, k, rerank, idCol, embCol)
  }

  /** Cluster-balanced (diversity-preserving) selection: at most `perCell`
    * members from every embedding cell, chosen in deterministic hash order
    * (the [[Curation.hashKey]] md5 rule — rerun/engine/layout invariant).
    *
    * This is coverage sampling in embedding space: a uniform random (or
    * hash) sample follows the density of the corpus, so dense regions —
    * boilerplate clusters, template families — dominate the selection and
    * sparse regions (rare languages, rare formats) vanish; capping each
    * cell flattens density exactly like [[Curation.temperatureMix]]
    * flattens source skew, but along learned geometry instead of metadata.
    * Dense cells are down-sampled to the cap, sparse cells are kept whole.
    *
    * Plan: cell assignment is the broadcast-argmax scan of
    * [[assignCells]]; the cap is ONE window shuffle keyed on cell_id.
    * Per-key work is bounded by cell size (~√n by seeding), and the
    * selection never materializes anything driver-side. Returns
    * (vec_id, cell_id, cell_n, pick_rank) for the selected rows. */
  def diverseSample(assigned: DataFrame, perCell: Int): DataFrame = {
    require(perCell >= 1, s"perCell must be >= 1, got $perCell")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell_id"))
      .orderBy(Curation.hashKey(col("vec_id")), col("vec_id"))
    assigned
      .withColumn("cell_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cell_id"))))
      .withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= perCell)
      .select(col("vec_id"), col("cell_id"), col("cell_n"), col("pick_rank"))
  }
}
