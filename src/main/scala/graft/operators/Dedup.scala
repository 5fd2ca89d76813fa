package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication primitives for large-scale training-data pipelines:
  * exact (fingerprint group-by), MinHash+LSH (shingle → minhash → band →
  * bucket-join), SimHash, and n-gram Jaccard verification.
  *
  * Shingles hash with `polyHash` — a portable polynomial rolling hash (fold
  * over char codes, mod 1e9+7) that any SQL engine with list lambdas can
  * recompute, so the DuckDB oracle can hash-match full MinHash/SimHash/LSH
  * outputs.
  *
  * Scale notes: MinHash-LSH replaces the O(n²) pair join with a shuffle on
  * (band_id, band_key) — only same-bucket pairs are generated, so the plan is
  * a hash-partitioned self-join per band, which survives a 100× scale-up as
  * long as bucket sizes stay bounded (k/b tuned so P(collision | low jaccard)
  * is small). The exact n-gram Jaccard join is the verification path for
  * candidates, never run all-pairs at scale.
  */
object Dedup {

  /** Modulus for the portable hash family (prime, < 2^30 so a*h fits long). */
  val P = graft.sql.Defaults.P

  /** MinHash affine-permutation constants (a_i * h + b_i mod P). Fixed
    * literals so the oracle can restate them.
    *
    * k=24 → 6 bands × 4 rows: LSH threshold ≈ (1/b)^(1/r) = 0.64. r=4 is
    * the load-bearing choice: band-collision probability is sim^r, and this
    * corpus has ~0.2 background pairwise similarity, so r=2 (the textbook
    * 0.5-threshold tuning) admits ~18% of ALL pairs as candidates — the
    * exact-verify stage then dominates the whole pipeline. At r=4 the
    * background admits ~0.2%/band while 0.85+ near-dups are still caught
    * with ≥98% probability — the standard near-dup operating point. */
  val MinhashA: Seq[Long] = graft.sql.Defaults.MinhashA
  val MinhashB: Seq[Long] = graft.sql.Defaults.MinhashB
  val NumHashes = 24
  val Bands = 6
  val RowsPerBand = 4

  /** 1-based char-code array of a string (ascii of each char). */
  def charCodes(s: Column): Column =
    transform(sequence(lit(1), length(s)), i => ascii(s.substr(i, lit(1))).cast("bigint"))

  /** Portable polynomial hash: fold acc = (acc*31 + code) mod P over chars. */
  def polyHash(codes: Column): Column =
    aggregate(codes, lit(0L), (acc, x) => (acc * lit(31L) + x) % lit(P))

  def polyHashStr(s: Column): Column = polyHash(charCodes(s))

  /** Portable-hashed shingles: one polyHash per sliding n-gram window,
    * computed by the native codegen'd expression [[graft.sql.ShingleHashes]]
    * (one compiled pass per row). Values are identical to
    * [[shingleHashesPortableHof]] — the oracle-checked definition — so the
    * DuckDB hash-match gate still covers every downstream signature. */
  def shingleHashes(s: Column, n: Int = 5): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.ShingleHashes(org.apache.spark.sql.graft.ColumnShim.expression(s), n))

  /** The same windowed hash as a pure `functions._` composition — three
    * nested higher-order functions, interpreted by Catalyst (HOFs are
    * CodegenFallback). Kept as the executable specification the native
    * expression is tested against. Note the lambda body only touches the
    * n-char window: embedding a shared char-code array expression here gets
    * re-evaluated per window by the interpreted path (O(len²) per row). */
  def shingleHashesPortableHof(s: Column, n: Int = 5): Column =
    transform(sequence(lit(1), greatest(length(s) - (n - 1), lit(1))),
      i => polyHash(charCodes(s.substr(i, lit(n)))))

  /** MinHash signature: array of k minima of affine-permuted shingle hashes,
    * fused into one compiled pass ([[graft.sql.MinHashSignature]]). */
  def minhashSignature(hashes: Column, k: Int = NumHashes): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.MinHashSignature(
        org.apache.spark.sql.graft.ColumnShim.expression(hashes),
        MinhashA.take(k), MinhashB.take(k)))

  /** HOF composition of the same signature — the executable specification
    * the native expression is tested against. */
  def minhashSignatureHof(hashes: Column, k: Int = NumHashes): Column =
    array((0 until k).map { j =>
      array_min(transform(hashes, h => (lit(MinhashA(j)) * h + lit(MinhashB(j))) % lit(P)))
    }: _*)

  /** LSH band keys: signature grouped into `bands` of `rowsPerBand`, each
    * band folded to ONE long (polynomial fold of its `rowsPerBand` minima
    * mod 1e9+7). Explode with posexplode → (band_id, band_key).
    *
    * Long keys, not the "v1_v2" string rendering: the band join shuffles a
    * key per (doc, band), and an 8-byte long beats a ~40-byte string for
    * shuffle width, hashing, and comparison. Fold collisions (two distinct
    * band tuples hashing equal) can only ADD candidates, and every
    * candidate passes exact verification — the emitted pair set is
    * unchanged; the oracle restates the same fold. */
  def bandKeys(sig: Column, bands: Int = Bands, rowsPerBand: Int = RowsPerBand): Column =
    array((0 until bands).map { b =>
      (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1))
        .foldLeft(lit(0L))((acc, v) => (acc * lit(31L) + v) % lit(P))
    }: _*)

  /** Fused shingle-hashes → band-keys native expression: the k affine
    * minima and all band folds in one compiled pass
    * ([[graft.sql.MinHashBandKeys]]). Value-identical to
    * `bandKeys(minhashSignature(hashes))`; skips materializing the
    * k-element signature the band join never ships. */
  def minhashBandKeys(hashes: Column, k: Int = NumHashes,
      rowsPerBand: Int = RowsPerBand): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.MinHashBandKeys(
        org.apache.spark.sql.graft.ColumnShim.expression(hashes),
        MinhashA.take(k), MinhashB.take(k), rowsPerBand))

  /** 32-bit SimHash over token hashes: bit j set iff the sum of (±1 per token,
    * + when token-hash bit j is 1) is positive. Term frequency weighted
    * (duplicate tokens count). Kept as the executable specification the
    * native fused expression [[simhashFromTokens]] is tested against — this
    * composition is 32 interpreted `aggregate` folds per row (HOFs are
    * CodegenFallback). */
  def simhash32Hof(tokenHashes: Column): Column =
    (0 until 32).map { j =>
      val bitSum = aggregate(tokenHashes, lit(0L),
        (acc, h) => acc + (shiftright(h, j) % lit(2L)) * lit(2L) - lit(1L))
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Fused native SimHash: portable token hash + 32 bit counters in one
    * compiled pass per row ([[graft.sql.SimHashFromTokens]]). Value-identical
    * to `simhash32Hof(transform(tokens, polyHashStr))`. */
  def simhashFromTokens(tokens: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.SimHashFromTokens(org.apache.spark.sql.graft.ColumnShim.expression(tokens)))

  /** Exact-dup groups: one row per fingerprint with the kept doc (min id) and
    * the group size. Single hash-shuffle on the fingerprint — the canonical
    * exact dedup at any scale. */
  def exactDedupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))

  /** Distinct shingle-hash set per doc, materialized behind a shuffle
    * barrier. The barrier matters: without it CollapseProject inlines this
    * expensive expression into every downstream column that references it
    * (8 signature mins + band keys → ~8× recompute per row); the exchange
    * materializes the array once and ReuseExchange shares it across
    * self-join branches. Payload is a few KB/doc — the shuffle is orders of
    * magnitude cheaper than the recompute at any scale. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("doc_text"))
      // Explicit partition count (the session's shuffle parallelism — a
      // cluster-config value, not a constant): with a bare repartition(col)
      // AQE coalesces this exchange by BYTE size, and shingle sets are
      // small in bytes but feed the band fan-out + intersect-verify
      // pipeline whose compute per byte is ~10⁴ ops — measured at sf0.1,
      // AQE shrank the stage to 4 tasks and d04 ran the whole verify on
      // 4 of 32 cores (2.8 s; 1.1 s with parallelism pinned). Byte-sized
      // coalescing is the wrong heuristic for compute-bound stages.
      //
      // The shuffle ships RAW TEXT and the hashing runs on the receiving
      // side: a small fixture file is one scan split, so hashing before
      // the exchange would run on ONE task no matter the cluster width —
      // and text is also the smaller payload (the hash set is ~3× the
      // bytes). At real scale the scan has thousands of splits either
      // way; post-shuffle compute keeps local benchmarks honest.
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"),
        array_sort(array_distinct(shingleHashes(col("doc_text"), n))).as("hset"))

  /** Default document-frequency cap for [[jaccardPairs]] candidate
    * generation, as a fraction of corpus size. A shingle present in over
    * half the corpus carries ~zero Jaccard signal (sharing it barely moves
    * the ratio) but generates O(df²) candidate pairs on ONE join key — the
    * named scale-killer: a stopword-like 5-gram in 10⁶ of 10⁹ docs is a
    * 10¹²-pair explosion on a single hot key. */
  val DefaultMaxDocFreqFraction = 0.5

  /** Absolute df ceiling applied alongside the fraction. The fractional cap
    * alone removes *relative* hot keys but still admits per-key fan-out
    * quadratic in corpus size (measured: on the fixture corpus the shingle
    * vocabulary is ~2k and fixed, so df grows linearly with n and a
    * 0.5-fraction cap at 10× scale admits ~10⁸ candidate pairs). The
    * absolute ceiling bounds any key's join fan-out at df² ≤ 10⁶ regardless
    * of corpus size — beyond it, exact inverted-index generation is the
    * wrong tool and candidate generation belongs to LSH ([[lshNearDupPairs]]),
    * which this operator family treats as the scale path. */
  val DefaultMaxDocFreqAbsolute = 1000L

  /** Candidate pairs from the df-capped inverted index: explode distinct
    * shingles, drop shingles whose document frequency exceeds
    * `min(maxDocFreqFraction × |corpus|, maxDocFreqAbsolute)`, self-join on
    * the surviving shingles. Per-key join fan-out is bounded by the cap, so
    * the shuffle has no hot keys by construction. */
  def cappedCandidatePairs(
      base: DataFrame,
      maxDocFreqFraction: Double = DefaultMaxDocFreqFraction,
      maxDocFreqAbsolute: Long = DefaultMaxDocFreqAbsolute,
      minJaccard: Double = 0.0): DataFrame = {
    val sh = base.select(col("doc_id"), size(col("hset")).as("nh"), explode(col("hset")).as("h"))
    // corpus size as a broadcast 1-row scalar — no driver action
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    val rare = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= least(col("n_docs") * maxDocFreqFraction, lit(maxDocFreqAbsolute.toDouble)))
      .select(col("h"))
    val capped = sh.join(rare, "h")
    capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      // same exact size-ratio prune as the LSH path: J ≤ min/max, so a pair
      // this lopsided can never reach minJaccard — dropped BEFORE the
      // distinct and the array-shipping verify joins, output unchanged
      .filter(least(col("a.nh"), col("b.nh")).cast("double") >=
        lit(minJaccard) * greatest(col("a.nh"), col("b.nh")).cast("double"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Pairwise Jaccard over distinct hashed shingles: df-capped inverted-index
    * candidate generation ([[cappedCandidatePairs]]) + exact verification on
    * the FULL shingle sets (native two-pointer intersect). Jaccard values are
    * exact for every emitted pair; the cap only bounds pair *discovery* —
    * a pair is found iff it shares at least one sub-cap shingle.
    *
    * CONTRACT — where the cap is blind, and why that is the intended
    * pipeline split rather than a silent recall hole:
    *   - Mass-duplicated text (boilerplate repeated in more documents than
    *     the cap) has NO sub-cap shingles, so this operator alone will not
    *     pair it. That content is exact-or-near-exact duplication at volume,
    *     which belongs to [[exactDedupGroups]] (normalized-fingerprint
    *     grouping, one shuffle, catches byte-identical mass exactly) — run
    *     it FIRST, as every production dedup pipeline does. Any operator
    *     that *did* emit those pairs would be generating a quadratic
    *     output (C(df, 2) true pairs per boilerplate cluster) — the blowup
    *     is in the answer, not the algorithm.
    *   - Near-dups of moderately-shared text keep their doc-specific rare
    *     shingles and are found normally.
    * Pass `maxDocFreqFraction = 1.0` for small corpora where exactness of
    * discovery matters more than bounded fan-out (the specs do). */
  def jaccardPairs(
      docs: DataFrame, idCol: String, textCol: String, minJaccard: Double,
      maxDocFreqFraction: Double = DefaultMaxDocFreqFraction,
      maxDocFreqAbsolute: Long = DefaultMaxDocFreqAbsolute): DataFrame = {
    val base = shingleSets(docs, idCol, textCol)
    verifyExact(cappedCandidatePairs(base, maxDocFreqFraction, maxDocFreqAbsolute, minJaccard),
      base, minJaccard)
  }

  /** Exact-Jaccard verification kernel: join candidate (id_a, id_b) pairs to
    * their full sorted shingle sets and compute shared counts with the native
    * two-pointer [[graft.sql.SortedIntersectSize]]. Bounded work per pair;
    * shared by the inverted-index and LSH candidate generators. */
  def verifyExact(candidates: DataFrame, base: DataFrame, minJaccard: Double): DataFrame = {
    def sortedIntersectSize(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.ColumnShim.column(
        graft.sql.SortedIntersectSize(
          org.apache.spark.sql.graft.ColumnShim.expression(a),
          org.apache.spark.sql.graft.ColumnShim.expression(b)))
    candidates
      .join(base.select(col("doc_id").as("id_a"), col("hset").as("hs_a")), "id_a")
      .join(base.select(col("doc_id").as("id_b"), col("hset").as("hs_b")), "id_b")
      .withColumn("shared", sortedIntersectSize(col("hs_a"), col("hs_b")).cast("double"))
      .withColumn("jaccard",
        col("shared") / (size(col("hs_a")) + size(col("hs_b")) - col("shared")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact set-similarity self-join via PREFIX FILTERING (AllPairs /
    * PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08): every pair
    * with Jaccard ≥ τ over distinct shingle sets, with NO recall loss and
    * NO all-pairs product.
    *
    * The prefix principle: order the shingle universe by a fixed total
    * order (here: global document frequency ascending, hash as the tie
    * break — rarest first, which provably minimizes candidates) and take
    * from each size-s set its first `s − ⌈τ·s⌉ + 1` shingles. Two sets
    * with J ≥ τ overlap in ≥ ⌈τ·max(s₁,s₂)⌉ elements, so they MUST share
    * at least one prefix shingle — an equi-join on prefix shingles is a
    * complete candidate generator, and the size filter 100·min ≥ τ%·max
    * (exact in integers, from J ≤ min/max) prunes lopsided pairs before
    * the verify.
    *
    * Contrast inside this family:
    *   - [[jaccardPairs]] (df-capped inverted index) bounds hot-key
    *     fan-out by DROPPING high-df shingles — bounded, but a pair
    *     sharing only capped shingles is silently missed;
    *   - LSH ([[lshNearDupPairs]]) is probabilistic — tunable recall < 1;
    *   - this operator is EXACT: candidates shrink because each doc joins
    *     only on its ~(1−τ) rarest shingles, not because anything is
    *     thrown away. Cost: the df ranking (one agg + one per-doc window,
    *     both keyed shuffles) and a candidate count that grows when the
    *     corpus is uniformly self-similar — τ is the knob (prefix length
    *     ∝ 1−τ).
    *
    * All arithmetic in the threshold path is integer (τ as a percent), so
    * emitted (inter_size, union_size) pairs are engine-exact for the
    * oracle. Returns (id_a, id_b, inter_size, union_size). */
  def prefixFilterPairs(
      docs: DataFrame, idCol: String, textCol: String, tauPct: Int): DataFrame = {
    require(tauPct >= 1 && tauPct <= 100, s"tauPct must be in [1,100], got $tauPct")
    def sortedIntersectSize(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.ColumnShim.column(
        graft.sql.SortedIntersectSize(
          org.apache.spark.sql.graft.ColumnShim.expression(a),
          org.apache.spark.sql.graft.ColumnShim.expression(b)))
    val base = shingleSets(docs, idCol, textCol)
    val sh = base.select(col("doc_id"), explode(col("hset")).as("h"))
    val dft = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ranked = sh.join(dft, "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    val prefix = ranked
      .filter(col("rn") <= col("sz") - expr(s"(($tauPct * sz + 99) div 100)") + 1)
      .select(col("doc_id"), col("h"), col("sz"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .filter(lit(100L) * least(col("a.sz"), col("b.sz")) >=
        lit(tauPct.toLong) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("id_a"), col("hset").as("hs_a")), "id_a")
      .join(base.select(col("doc_id").as("id_b"), col("hset").as("hs_b")), "id_b")
      .withColumn("inter_size", sortedIntersectSize(col("hs_a"), col("hs_b")).cast("bigint"))
      .withColumn("union_size",
        (size(col("hs_a")) + size(col("hs_b"))).cast("bigint") - col("inter_size"))
      .filter(lit(100L) * col("inter_size") >= lit(tauPct.toLong) * col("union_size"))
      .select(col("id_a"), col("id_b"), col("inter_size"), col("union_size"))
  }

  /** Asymmetric containment pairs: containment(A in B) = |A∩B| / |A| over
    * distinct shingle sets — the "quoted/partial copy" detector symmetric
    * Jaccard misses (a 100-shingle doc fully quoted inside a 10k-shingle
    * doc has J ≈ 0.01 but containment 1.0). Candidates come from the same
    * df-capped inverted index as [[jaccardPairs]] but WITHOUT the
    * size-ratio prune — lopsided pairs are exactly the signal here. The
    * smaller set is always the contained side (ties: lower id contained).
    * Same bounded-verify shape: exact two-pointer intersect per candidate. */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String, minContainment: Double,
      maxDocFreqFraction: Double = DefaultMaxDocFreqFraction,
      maxDocFreqAbsolute: Long = DefaultMaxDocFreqAbsolute): DataFrame = {
    def sortedIntersectSize(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.ColumnShim.column(
        graft.sql.SortedIntersectSize(
          org.apache.spark.sql.graft.ColumnShim.expression(a),
          org.apache.spark.sql.graft.ColumnShim.expression(b)))
    val base = shingleSets(docs, idCol, textCol)
    cappedCandidatePairs(base, maxDocFreqFraction, maxDocFreqAbsolute)
      .join(base.select(col("doc_id").as("id_a"), col("hset").as("hs_a")), "id_a")
      .join(base.select(col("doc_id").as("id_b"), col("hset").as("hs_b")), "id_b")
      .withColumn("shared", sortedIntersectSize(col("hs_a"), col("hs_b")).cast("double"))
      .withColumn("containment",
        col("shared") / least(size(col("hs_a")), size(col("hs_b"))).cast("double"))
      .filter(col("containment") >= minContainment)
      .select(
        when(size(col("hs_a")) <= size(col("hs_b")), col("id_a")).otherwise(col("id_b"))
          .as("contained_id"),
        when(size(col("hs_a")) <= size(col("hs_b")), col("id_b")).otherwise(col("id_a"))
          .as("container_id"),
        col("containment"))
  }

  /** Near-dup pairs DISCOVERED through the winnowed-fingerprint index
    * (MOSS — Schleimer et al. SIGMOD 2003), VERIFIED on full shingle
    * sets: candidates come from the df-capped inverted index over each
    * document's window minima (~2/(w+1) ≈ 22% of the shingle volume at
    * w=8), then exact two-pointer Jaccard over the FULL sets — the real
    * MOSS architecture (fingerprints locate candidates, full comparison
    * scores them).
    *
    * Why not Jaccard over the fingerprint sets themselves: measured on
    * the fixture corpus, winnow-set Jaccard has ~0.7 BACKGROUND (window
    * minima collapse onto the globally-smallest hashes of a shared
    * vocabulary — the same vocabulary-bias failure that sank SimHash
    * banding, see BASELINE "measured and rejected"), so it cannot rank.
    * As a DISCOVERY index it is sound: any shared run ≥ w+k−1 chars
    * contributes a common fingerprint (the winnowing guarantee), and the
    * df cap's blindness to mass-boilerplate pairs is the same documented
    * [[jaccardPairs]] contract. Every emitted Jaccard is exact and equals
    * d02's value for the same pair — the trade is index size (~22%)
    * against discovery requiring a shared sub-cap window MINIMUM rather
    * than any shared sub-cap shingle. */
  def winnowPairs(
      docs: DataFrame, idCol: String, textCol: String, minJaccard: Double,
      maxDocFreqFraction: Double = DefaultMaxDocFreqFraction,
      maxDocFreqAbsolute: Long = DefaultMaxDocFreqAbsolute): DataFrame = {
    val wbase = docs.select(col(idCol).as("doc_id"), col(textCol).as("doc_text"))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), TextAnalysis.winnowFingerprint(col("doc_text")).as("hset"))
    verifyExact(cappedCandidatePairs(wbase, maxDocFreqFraction, maxDocFreqAbsolute),
      shingleSets(docs, idCol, textCol), minJaccard)
  }

  /** Benchmark decontamination scan: for every corpus document, the
    * fraction of its distinct LONG shingles that appear ANYWHERE in the
    * eval (benchmark) corpus — the pre-training hygiene check that catches
    * test data leaked into training data. The window is LONG by design
    * (default 40 chars ≈ a 13-token run, the standard decontamination
    * n-gram scale): overlap then requires VERBATIM runs, where short
    * shingles merely measure vocabulary overlap (measured on the fixture:
    * 5-char shingles flag 100% of the corpus at 0.92 mean "contamination";
    * 40-char windows flag only genuine verbatim sharing). The eval shingle
    * vocabulary is small relative to the corpus (benchmarks are), so it
    * BROADCASTS and the corpus is scanned once with no shuffle of document
    * payloads; the only exchange is the per-doc hit-count aggregate.
    * Returns (doc_id, n_shingles, eval_hits). */
  def contaminationScan(
      corpus: DataFrame, evalSet: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 40): DataFrame = {
    val evalHashes = shingleSets(evalSet, idCol, textCol, shingleLen)
      .select(explode(col("hset")).as("h")).distinct()
    val base = shingleSets(corpus, idCol, textCol, shingleLen)
    base.select(col("doc_id"), size(col("hset")).as("n_shingles"), explode(col("hset")).as("h"))
      .join(broadcast(evalHashes.withColumn("hit", lit(1L))), Seq("h"), "left")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("eval_hits"))
  }

  /** [[contaminationScan]] with a BLOOM pre-filter on the probe side — the
    * runtime-filter pattern ([[graft.sql.Bloom]]) applied by hand: the eval
    * vocabulary aggregates into one bloom sketch (a few MB at 10⁶ shingles,
    * riding along as a scalar subquery), every corpus shingle probes the
    * sketch first, and only might-contain survivors reach the exact
    * membership join. Because bloom filters have NO false negatives, the
    * output is bit-identical to the exact scan — the sketch only prunes;
    * false positives are re-checked by the join. The win at 100 TB: clean
    * documents (the overwhelming majority) drop out at the codegen'd
    * probe, so the join's build+probe traffic shrinks by ~the clean
    * fraction; the broadcast shrinks from the full eval hash set to the
    * fixed-size sketch. */
  def bloomContaminationScan(
      corpus: DataFrame, evalSet: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 40, expectedEvalShingles: Long = 1000000L,
      fpp: Double = 0.03): DataFrame = {
    import graft.sql.Bloom
    val evalHashes = shingleSets(evalSet, idCol, textCol, shingleLen)
      .select(explode(col("hset")).as("h")).distinct()
    val sketch = evalHashes.agg(Bloom.bloomFilterAgg(col("h"), expectedEvalShingles, fpp).as("bf"))
    val base = shingleSets(corpus, idCol, textCol, shingleLen)
    val sh = base.select(col("doc_id"), explode(col("hset")).as("h"))
    val candidates = sh.filter(Bloom.mightContain(sketch.scalar(), col("h")))
    val hits = candidates
      .join(broadcast(evalHashes.withColumn("hit", lit(1L))), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
    base.select(col("doc_id"), size(col("hset")).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("hits"), lit(0L)).as("eval_hits"))
  }

  /** MinHash-LSH near-dup pairs: signature → band keys → bucket self-join →
    * size-ratio prune → distinct candidates → exact Jaccard verify →
    * threshold. No all-pairs product anywhere; the only shuffles are the
    * band-key join and the verify joins.
    *
    * The size-ratio prune is exact, not heuristic: shared ≤ min(na, nb) and
    * the union ≥ max(na, nb), so J ≤ min/max — a pair whose set sizes are
    * too lopsided can never reach `minJaccard`, and dropping it cannot
    * change the output. The sizes ride along on the (8-byte-key) band
    * postings as two ints, so the prune costs nothing and runs BEFORE both
    * the distinct and the verify joins that ship full multi-KB shingle
    * arrays per surviving pair — the expensive half of the pipeline.
    * (Measured at sf0.1: 240k → 89k candidates, d04 2.3 s → 1.5 s.)
    *
    * A minhash signature-estimate prefilter remains net-negative here (the
    * 0.2 background similarity means band collisions almost all pass a
    * loose estimate cut: 240k → 235k candidates for two extra joins); the
    * size bound prunes what the estimate cannot — structurally impossible
    * pairs — without any extra join. */
  /** Maximal duplicated TOKEN SPANS across document pairs — the
    * exact-substring dedup family (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): where Jaccard/MinHash score whole
    * documents, this finds and localizes the verbatim runs themselves, so a
    * pipeline can CUT the duplicated passage instead of dropping a document.
    *
    * Spark-first shape instead of the paper's suffix array (a global sorted
    * structure with no distributed equivalent): k-token gram inverted index
    * → same-gram position pairs → gaps-and-islands run merge.
    *  1. one row per (doc, pos, md5(gram of k tokens)) — per-row generate;
    *  2. df-cap: grams occurring > maxGramFreq times are dropped (bounds the
    *     self-join fan-out at df², the d02 hot-key rule; a run that loses an
    *     interior over-cap gram splits — boilerplate beyond the cap is
    *     exact-dedup's job, per the [[jaccardPairs]] contract);
    *  3. self-join on gram hash → (doc_a, doc_b, pos_a, pos_b), doc_a<doc_b;
    *  4. consecutive matches share an anti-diagonal (pos_a − pos_b): the
    *     row_number-vs-pos_a difference is constant per maximal run, so one
    *     window + one groupBy merges each run and its length is
    *     matches + k − 1 tokens.
    * Shuffles: gram df count, the pair join, the per-(pair, diagonal)
    * window — all on bounded keys (window partitions are bounded by doc
    * length, not corpus size). Output: (doc_a, doc_b, start_a, start_b,
    * span_tokens), 1-based starts, spans ≥ minSpanTokens. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minSpanTokens: Int = 12, maxGramFreq: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && minSpanTokens >= k, s"need k >= 1, minSpanTokens >= k; got k=$k min=$minSpanTokens")
    val toks = TextAnalysis.tokens(col(textCol))
    val grams = docs
      .select(col(idCol).as("doc_id"), toks.as("__graft_toks"))
      .filter(size(col("__graft_toks")) >= k)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("__graft_toks")) - (k - 1)),
          i => md5(concat_ws(" ", slice(col("__graft_toks"), i, lit(k)))))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("g"))
    val rare = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxGramFreq).select(col("g"))
    val capped = grams.join(rare, "g")
    val matches = capped.as("a").join(capped.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pos_a"))
    matches.withColumn("__graft_grp", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("__graft_grp"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        (count(lit(1)) + (k - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"), col("span_tokens"))
  }

  def lshNearDupPairs(docs: DataFrame, idCol: String, textCol: String, minJaccard: Double): DataFrame = {
    val base = shingleSets(docs, idCol, textCol)
    val bands = base.select(col("doc_id"), size(col("hset")).as("nh"),
      posexplode(minhashBandKeys(col("hset"))).as(Seq("band_id", "band_key")))
    val candidates = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(least(col("a.nh"), col("b.nh")).cast("double") >=
        lit(minJaccard) * greatest(col("a.nh"), col("b.nh")).cast("double"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyExact(candidates, base, minJaccard)
  }

  /** Content-defined chunking (CDC — the Rabin/gear family used by dedup
    * storage systems): chunk boundaries fall where the rolling `window`-
    * byte hash ≡ 0 (mod `divisor`), so they are anchored to CONTENT, not
    * offsets — an insertion near the start shifts every fixed-window frame
    * but only perturbs the chunks touching the edit. Mean chunk length ≈
    * `divisor` bytes. Returns the sorted distinct chunk-hash set (the
    * portable polynomial hash, so oracles recompute identical values).
    * Composition of built-ins + the native rolling-hash pass; the per-chunk
    * rehash is interpreted HOF — O(len) per doc total, and chunking runs
    * once per corpus before persisting, like [[shingleSets]]. */
  def cdcChunkHashes(s: Column, window: Int = 16, divisor: Long = 64L): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.CdcChunkHashes(
        org.apache.spark.sql.graft.ColumnShim.expression(s), window, divisor))

  /** The same chunking as a pure `functions._` composition — interpreted
    * (nested HOFs are CodegenFallback; measured ~200 ms/doc vs µs native).
    * Kept as the executable specification [[cdcChunkHashes]] is
    * parity-tested against. */
  def cdcChunkHashesHof(s: Column, window: Int = 16, divisor: Long = 64L): Column = {
    val hs = shingleHashes(s, window)
    val cuts = when(size(hs) >= 2,
        filter(sequence(lit(2), size(hs)), i => element_at(hs, i) % divisor === 0))
      .otherwise(array().cast("array<int>"))
    val bounds = concat(array(lit(1)), cuts, array(length(s) + 1))
    val chunks = transform(sequence(lit(1), size(bounds) - 1),
      k => s.substr(element_at(bounds, k), element_at(bounds, k + 1) - element_at(bounds, k)))
    array_sort(array_distinct(transform(chunks, c => polyHashStr(c))))
  }

  /** Near-dup pairs over CDC chunk sets — the shift-robust dedup for
    * binary/media payloads (re-muxed, prepended, or locally-edited copies
    * keep most chunks; fixed windows keep none). Same df-capped
    * inverted-index candidates + exact two-pointer verify as
    * [[jaccardPairs]], over chunk hashes instead of shingles. */
  def cdcNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, maxChunkFreqAbsolute: Long = DefaultMaxDocFreqAbsolute): DataFrame = {
    val base = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("doc_text"))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), cdcChunkHashes(col("doc_text")).as("hset"))
    verifyExact(
      cappedCandidatePairs(base, maxDocFreqFraction = 1.0, maxChunkFreqAbsolute, minJaccard),
      base, minJaccard)
  }

  /** The persistable halves of the LSH near-dup index: per-doc sorted
    * shingle sets ([[shingleSets]] output) and band postings. A standing
    * corpus materializes BOTH once and maintains them append-only; a new
    * batch then probes the posting table directly — nothing about the
    * corpus is ever recomputed. (At rest, bucket the postings on
    * (band_id, band_key) so the daily probe join is co-located.) */
  def bandPostings(base: DataFrame): DataFrame =
    base.select(col("doc_id"), size(col("hset")).as("nh"),
      posexplode(minhashBandKeys(col("hset"))).as(Seq("band_id", "band_key")))

  /** [[lshNearDupPairsAcross]] against a PRECOMPUTED corpus index:
    * `corpusPostings` = [[bandPostings]] rows, `corpusShingles` =
    * (doc_id, hset). Only the batch side computes anything; the corpus
    * contributes table scans. Output contract matches
    * [[lshNearDupPairsAcross]] (id_a = batch doc). */
  def lshNearDupPairsAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
      corpusPostings: DataFrame, corpusShingles: DataFrame,
      minJaccard: Double): DataFrame = {
    val baseA = shingleSets(batch, idCol, textCol)
    val bandsA = bandPostings(baseA)
    val candidates = bandsA.as("a").join(corpusPostings.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_key") === col("b.band_key"))
      .filter(least(col("a.nh"), col("b.nh")).cast("double") >=
        lit(minJaccard) * greatest(col("a.nh"), col("b.nh")).cast("double"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    candidates
      .join(baseA.select(col("doc_id").as("id_a"), col("hset").as("hs_a")), "id_a")
      .join(corpusShingles.select(col("doc_id").as("id_b"), col("hset").as("hs_b")), "id_b")
      .withColumn("shared",
        org.apache.spark.sql.graft.ColumnShim.column(
          graft.sql.SortedIntersectSize(
            org.apache.spark.sql.graft.ColumnShim.expression(col("hs_a")),
            org.apache.spark.sql.graft.ColumnShim.expression(col("hs_b")))).cast("double"))
      .withColumn("jaccard",
        col("shared") / (size(col("hs_a")) + size(col("hs_b")) - col("shared")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** CROSS-corpus MinHash-LSH near-dup pairs: every (new batch doc,
    * existing corpus doc) pair with Jaccard ≥ threshold — the INCREMENTAL
    * dedup shape. A growing lakehouse never re-pairs its whole corpus when
    * a day's batch lands; it asks "which existing documents does the new
    * data duplicate?" — a band-key EQUI-JOIN of the (small) batch against
    * the (huge) corpus, costing |batch| band probes instead of the
    * |corpus|² self-join. At rest the corpus side is the precomputed
    * (band_id, band_key, doc_id, nh) posting table, bucketed on the band
    * key (the [[graft.pipeline.Lakehouse.materializeBucketed]] layout), so
    * the daily join shuffles only the batch.
    *
    * Same candidate rules as [[lshNearDupPairs]] (size-ratio prune,
    * distinct, exact verify) with `id_a` = batch doc, `id_b` = corpus doc;
    * self-pairs are the caller's concern (disjoint id spaces by contract,
    * `require`d cheaply here only when both frames share the id column
    * name — the engine cannot see across frames). */
  def lshNearDupPairsAcross(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, minJaccard: Double): DataFrame = {
    def bands(df: DataFrame) = {
      val base = shingleSets(df, idCol, textCol)
      (base, base.select(col("doc_id"), size(col("hset")).as("nh"),
        posexplode(minhashBandKeys(col("hset"))).as(Seq("band_id", "band_key"))))
    }
    val (baseA, bandsA) = bands(batch)
    val (baseB, bandsB) = bands(corpus)
    val candidates = bandsA.as("a").join(bandsB.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_key") === col("b.band_key"))
      .filter(least(col("a.nh"), col("b.nh")).cast("double") >=
        lit(minJaccard) * greatest(col("a.nh"), col("b.nh")).cast("double"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    candidates
      .join(baseA.select(col("doc_id").as("id_a"), col("hset").as("hs_a")), "id_a")
      .join(baseB.select(col("doc_id").as("id_b"), col("hset").as("hs_b")), "id_b")
      .withColumn("shared",
        org.apache.spark.sql.graft.ColumnShim.column(
          graft.sql.SortedIntersectSize(
            org.apache.spark.sql.graft.ColumnShim.expression(col("hs_a")),
            org.apache.spark.sql.graft.ColumnShim.expression(col("hs_b")))).cast("double"))
      .withColumn("jaccard",
        col("shared") / (size(col("hs_a")) + size(col("hs_b")) - col("shared")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
