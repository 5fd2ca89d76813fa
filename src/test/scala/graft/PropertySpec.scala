package graft

import java.sql.Timestamp

import graft.operators.AsOf
import graft.pipeline.Silver
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import scala.util.Random

/** Randomized invariant checks (fixed seeds — deterministic): the Spark
  * operators vs naive in-memory reference implementations, across inputs
  * with deliberate timestamp collisions, key skew, and repeated values.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(ms)

  test("latestWins equals naive max-by-(recency, tiebreak) per key under ties") {
    val rnd = new Random(42)
    for (round <- 1 to 8) {
      val rows = (1 to 120).map { i =>
        (s"k${rnd.nextInt(10)}",
          java.sql.Date.valueOf(s"2025-06-0${1 + rnd.nextInt(5)}"),
          ts(1700000000000L + rnd.nextInt(3) * 1000L), // frequent collisions
          f"req${rnd.nextInt(50)}%03d",
          i.toLong)
      }
      val df = rows.toDF("key", "snapshot_date", "ingest_ts_utc", "request_id", "payload")
      val got = Silver.latestWins(df, Seq("key"))
        .select("key", "payload").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = rows.groupBy(_._1).map { case (k, g) =>
        // max by (snapshot_date, ingest_ts, request_id) — row_number picks
        // exactly one row even on full ties, matching max-by with a stable
        // total order on all three keys + input order irrelevance
        k -> g.maxBy(r => (r._2.toString, r._3.getTime, r._4))._5
      }
      // on FULL ties of all three ordering keys row_number is arbitrary among
      // tied rows; only compare keys where the winner is unique
      want.foreach { case (k, payload) =>
        val g = rows.filter(_._1 == k)
        val top = g.map(r => (r._2.toString, r._3.getTime, r._4)).max
        val tied = g.filter(r => (r._2.toString, r._3.getTime, r._4) == top)
        if (tied.size == 1) assert(got(k) == payload, s"round $round key $k")
        else assert(tied.map(_._5).contains(got(k)), s"round $round key $k (tied)")
      }
    }
  }

  test("SCD2 lag/lead idiom: versions = collapsed runs; windows partition time; one current") {
    val rnd = new Random(7)
    for (round <- 1 to 6) {
      val obs = (1 to 15).flatMap { _ =>
        val key = s"v${rnd.nextInt(4)}"
        Seq((key, ts(1700000000000L + rnd.nextInt(100) * 60000L), s"s${rnd.nextInt(3)}"))
      }.distinct
      val df = obs.toDF("id", "obs_ts", "state")
      val w = Window.partitionBy($"id").orderBy($"obs_ts".asc)
      val versions = df
        .withColumn("prev", lag($"state", 1).over(w))
        .filter($"prev".isNull || $"prev" =!= $"state")
        .withColumn("valid_to", lead($"obs_ts", 1).over(
          Window.partitionBy($"id").orderBy($"obs_ts".asc)))
        .select($"id", $"state", $"obs_ts".as("valid_from"), $"valid_to",
          $"valid_to".isNull.as("is_current"))
        .collect()
        .groupBy(_.getString(0))

      val naive = obs.groupBy(_._1).map { case (k, g) =>
        val sorted = g.sortBy(_._2.getTime)
        val collapsed = sorted.foldLeft(List.empty[(String, Timestamp)]) {
          case (acc, (_, t, s)) if acc.headOption.forall(_._1 != s) => (s, t) :: acc
          case (acc, _) => acc
        }.reverse
        k -> collapsed
      }

      naive.foreach { case (k, expected) =>
        val got = versions(k).sortBy(_.getTimestamp(2).getTime)
        assert(got.map(_.getString(1)).toSeq == expected.map(_._1), s"round $round $k states")
        // windows partition time: valid_to(i) == valid_from(i+1), exactly one open
        got.sliding(2).foreach {
          case Array(a, b) => assert(a.getTimestamp(3) == b.getTimestamp(2))
          case _ =>
        }
        assert(got.count(_.getBoolean(4)) == 1, s"round $round $k current-count")
      }
    }
  }

  test("bounded top-k aggregate equals naive sort-take on random data with heavy ties") {
    val rnd = new Random(99)
    for (round <- 1 to 6) {
      // few distinct scores → boundary ties are the norm, not the exception
      val rows = (1 to 400).map(i =>
        ((rnd.nextInt(5) + 1).toLong, rnd.nextInt(4).toDouble, i.toLong))
      val df = rows.toDF("grp", "score", "id")
      val topAgg = org.apache.spark.sql.graft.ColumnShim.column(
        graft.sql.TopKPairs(
          org.apache.spark.sql.graft.ColumnShim.expression($"score"),
          org.apache.spark.sql.graft.ColumnShim.expression($"id"), 3)
          .toAggregateExpression())
      val got = df.repartition(7) // force partial buffers + serialization
        .groupBy($"grp").agg(topAgg.as("top"))
        .select($"grp", explode($"top").as("hit"))
        .select($"grp", $"hit.score", $"hit.id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSeq).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val want = rs.map(r => (r._2, r._3)).sortBy { case (s, i) => (-s, i) }.take(3)
        assert(got(g) == want, s"round $round group $g")
      }
    }
  }

  test("TopKStrings aggregate equals naive sort-take under score ties and repartition") {
    val rnd = new Random(91)
    for (round <- 1 to 6) {
      // distinct (grp, score, term) triples — the aggregate's contract is the
      // window idiom over unique rows (t05's (doc, term) rows are unique);
      // frequent score ties keep the key tie-break load-bearing
      val rows = (1 to 150).map { _ =>
        (rnd.nextInt(8).toLong, rnd.nextInt(5).toDouble, s"term${rnd.nextInt(20)}")
      }.distinct
      val df = rows.toDF("grp", "score", "term")
      val topAgg = org.apache.spark.sql.graft.ColumnShim.column(
        graft.sql.TopKStrings(
          org.apache.spark.sql.graft.ColumnShim.expression($"score"),
          org.apache.spark.sql.graft.ColumnShim.expression($"term"), 3)
          .toAggregateExpression())
      val got = df.repartition(7) // force partial buffers + serialization
        .groupBy($"grp").agg(topAgg.as("top"))
        .select($"grp", explode($"top").as("hit"))
        .select($"grp", $"hit.score", $"hit.key")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSeq).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val want = rs.map(r => (r._2, r._3)).sortBy { case (s, t) => (-s, t) }.take(3)
        assert(got(g) == want, s"round $round group $g")
      }
    }
  }

  test("df-capped jaccard candidates are a subset of uncapped; verified pairs exact") {
    import graft.operators.Dedup
    val rnd = new Random(23)
    for (round <- 1 to 4) {
      val docs = (1 to 25).map { i =>
        val base = (1 to 6).map(_ => s"w${rnd.nextInt(12)}").mkString(" ")
        (i.toLong, if (rnd.nextInt(4) == 0) base + " shared suffix phrase" else base)
      }.toDF("doc_id", "text")
      val base = Dedup.shingleSets(docs, "doc_id", "text")
      def pairs(frac: Double) = Dedup.cappedCandidatePairs(base, frac)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val capped = pairs(0.5)
      val uncapped = pairs(1.0)
      assert(capped.subsetOf(uncapped), s"round $round")
      // every pair jaccardPairs emits carries the EXACT jaccard of the full
      // sets (the cap bounds discovery, never the value)
      val verified = Dedup.jaccardPairs(docs, "doc_id", "text", 0.1)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val sets = base.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      verified.foreach { case ((a, b), j) =>
        val inter = (sets(a) & sets(b)).size.toDouble
        val want = inter / (sets(a).size + sets(b).size - inter)
        assert(math.abs(j - want) < 1e-12, s"round $round pair ($a,$b)")
      }
    }
  }

  test("NaN scores rank first and never poison the top-k heaps") {
    // NaN via the total order (Spark sort semantics: NaN greatest): must
    // rank first, and later high scores must still displace worse elements
    val nan = Double.NaN
    val rowsL = Seq((1L, nan, 100L), (1L, 1.0, 101L), (1L, 2.0, 102L), (1L, 3.0, 103L))
    val dfL = rowsL.toDF("grp", "score", "id")
    val topL = org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.TopKPairs(
        org.apache.spark.sql.graft.ColumnShim.expression($"score"),
        org.apache.spark.sql.graft.ColumnShim.expression($"id"), 2).toAggregateExpression())
    val gotL = dfL.repartition(3).groupBy($"grp").agg(topL.as("t"))
      .select(explode($"t").as("h")).select($"h.id")
      .collect().map(_.getLong(0)).toSeq
    assert(gotL == Seq(100L, 103L), s"TopKPairs with NaN: $gotL") // NaN first, then 3.0

    val rowsS = Seq((1L, nan, "n"), (1L, 1.0, "a"), (1L, 2.0, "b"), (1L, 3.0, "c"))
    val dfS = rowsS.toDF("grp", "score", "term")
    val topS = org.apache.spark.sql.graft.ColumnShim.column(
      graft.sql.TopKStrings(
        org.apache.spark.sql.graft.ColumnShim.expression($"score"),
        org.apache.spark.sql.graft.ColumnShim.expression($"term"), 2).toAggregateExpression())
    val gotS = dfS.repartition(3).groupBy($"grp").agg(topS.as("t"))
      .select(explode($"t").as("h")).select($"h.key")
      .collect().map(_.getString(0)).toSeq
    assert(gotS == Seq("n", "c"), s"TopKStrings with NaN: $gotS")
  }

  test("hash samples nest: a lower rate always selects a subset of a higher rate") {
    import graft.operators.Curation
    // the md5-prefix rule makes samples monotone in the rate — the property
    // a re-tunable pipeline needs (shrinking the mix never ADDS documents)
    val df = (1L to 1500L).toDF("id")
    val rates = Seq(0.1, 0.25, 0.5, 0.9, 1.0)
    val selected = rates.map(r =>
      r -> Curation.hashSample(df, "id", r).select($"id").as[Long].collect().toSet)
    selected.sliding(2).foreach { case Seq((rLo, lo), (rHi, hi)) =>
      assert(lo.subsetOf(hi), s"sample at $rLo not nested in $rHi")
    }
    assert(selected.last._2.size == 1500)
  }

  test("weightedMix equals per-stratum hashSample row-for-row") {
    import graft.operators.Curation
    val rnd = new Random(7)
    val df = (1L to 900L).map(i => (i, s"s${rnd.nextInt(4)}")).toDF("id", "stratum")
    val weights = Seq("s0" -> 0.2, "s1" -> 0.75, "s2" -> 1.0) // s3 unlisted → dropped
    val mixed = Curation.weightedMix(df, "stratum", "id", weights)
      .select($"stratum", $"id").as[(String, Long)].collect().toSet
    val expect = weights.flatMap { case (s, r) =>
      Curation.hashSample(df.filter($"stratum" === s), "id", r)
        .select($"stratum", $"id").as[(String, Long)].collect()
    }.toSet
    assert(mixed == expect)
  }

  test("packSequences partitions the corpus: every doc lands in exactly one bin") {
    import graft.operators.Curation
    val rnd = new Random(99)
    val docs = (1L to 400L).map(i => (i, 5L + rnd.nextInt(120))).toDF("doc_id", "tok")
    val packed = Curation.packSequences(docs, "doc_id", $"tok", budget = 256, shards = 8)
    assert(packed.count() == 400)
    assert(packed.select($"doc_id").distinct().count() == 400)
    // shard-local running totals are consistent: per (shard, bin), the sum of
    // doc_tokens equals max(running) - (min(running) - its doc_tokens)
    val ok = packed.groupBy($"shard", $"bin")
      .agg(sum($"doc_tokens").as("s"), max($"running").as("hi"),
        min(col("running") - col("doc_tokens")).as("lo"))
      .filter(col("s") =!= col("hi") - col("lo"))
    assert(ok.isEmpty, "running-total gap inside a bin")
  }

  test("int8 quantization: codes in range, reconstruction error <= scale/2 + cast slack") {
    import graft.operators.Similarity
    val rnd = new Random(21)
    val vecs = Seq.tabulate(200)(i =>
      (i.toLong, Array.fill(16)((rnd.nextFloat() - 0.5f) * (1 + rnd.nextInt(100)))))
    val df = vecs.toDF("vec_id", "embedding")
    val out = df.select($"vec_id", $"embedding",
        Similarity.int8Scale($"embedding").as("scale"))
      .select($"vec_id", $"scale",
        Similarity.int8Codes($"embedding", $"scale").as("q"))
    val rows = df.join(out, "vec_id").collect()
    rows.foreach { r =>
      val emb = r.getSeq[Float](1)
      val scale = r.getDouble(2)
      val q = r.getSeq[Int](3)
      assert(q.forall(c => c >= -127 && c <= 127), s"code out of range: $q")
      emb.zip(q).foreach { case (v, c) =>
        val err = math.abs(v.toDouble - c * scale)
        assert(err <= scale / 2 + 1e-9, s"err $err > scale/2 ${scale / 2}")
      }
    }
  }

  test("as-of join equals naive latest-at-or-before scan on random data") {
    val rnd = new Random(13)
    for (round <- 1 to 6) {
      val left = (1 to 60).map(i =>
        (i.toLong, (1 + rnd.nextInt(5)).toLong, ts(1700000000000L + rnd.nextInt(50) * 1000L)))
      val right = (1 to 30).map(i =>
        (1000L + i, (1 + rnd.nextInt(5)).toLong, ts(1700000000000L + rnd.nextInt(50) * 1000L)))
      // unique (key, ts) on the right so the as-of winner is well-defined
      val rightU = right.groupBy(r => (r._2, r._3)).map(_._2.maxBy(_._1)).toSeq
      val l = left.toDF("lid", "key", "lts")
      val r = rightU.toDF("rid", "key", "rts")
      val got = AsOf.join(l, r, "key", "lts", "rts", "rid", Seq("rid"))
        .collect().map(x => x.getLong(0) -> Option(x.getAs[java.lang.Long]("asof_rid")).map(_.toLong)).toMap
      left.foreach { case (lid, k, lt) =>
        val want = rightU.filter(x => x._2 == k && !x._3.after(lt))
          .sortBy(x => (x._3.getTime, x._1)).lastOption.map(_._1)
        assert(got(lid) == want, s"round $round lid=$lid")
      }
    }
  }

  test("duplicateSpans equals naive maximal-common-run extraction on random corpora") {
    import graft.operators.Dedup
    val rnd = new Random(7)
    val (k, minSpan) = (4, 6)
    // naive reference: maximal runs of identical token sequences ≥ minSpan,
    // found by extending every matching position pair that is not a
    // continuation of a previous match (the textbook O(n·m) scan)
    def naive(a: Array[String], b: Array[String]): Set[(Int, Int, Int)] = {
      val out = scala.collection.mutable.Set.empty[(Int, Int, Int)]
      for (i <- a.indices; j <- b.indices
           if a(i) == b(j) && (i == 0 || j == 0 || a(i - 1) != b(j - 1))) {
        var len = 0
        while (i + len < a.length && j + len < b.length && a(i + len) == b(j + len)) len += 1
        if (len >= minSpan) out += ((i + 1, j + 1, len)) // 1-based starts
      }
      out.toSet
    }
    for (round <- 1 to 5) {
      // small vocab + planted shared block → frequent genuine runs
      val block = Array.fill(5 + rnd.nextInt(6))(s"s${rnd.nextInt(4)}")
      def doc() = {
        val pre = Array.fill(rnd.nextInt(8))(s"w${rnd.nextInt(6)}")
        val post = Array.fill(rnd.nextInt(8))(s"w${rnd.nextInt(6)}")
        pre ++ (if (rnd.nextBoolean()) block else Array.empty[String]) ++ post
      }
      val docs = (1L to 4L).map(id => (id, doc()))
      val df = docs.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
      val got = Dedup.duplicateSpans(df, "doc_id", "text", k, minSpan,
          maxGramFreq = Long.MaxValue)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getInt(2), r.getInt(3), r.getLong(4).toInt))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      for (Seq((ia, ta), (ib, tb)) <- docs.combinations(2)) {
        val want = naive(ta, tb)
        val have = got.getOrElse((ia, ib), Set.empty)
        assert(have == want, s"round $round pair ($ia,$ib): got $have want $want")
      }
    }
  }

  test("chunkWindows reconstructs every document: stride-step prefixes concatenate to the original") {
    val rnd = new Random(1234)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    for (round <- 1 to 6) {
      val size = 4 + rnd.nextInt(12)
      val stride = 1 + rnd.nextInt(size) // any 1 <= stride <= size
      val docs = (1 to 30).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val chunks = graft.operators.TextAnalysis
        .chunkWindows(docs.toDF("doc_id", "text"), "doc_id", "text", size, stride)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
          r.getAs[String]("chunk_text")))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
      docs.foreach { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty)
        val got = chunks(id)
        // each chunk's first `stride` tokens, then the last chunk's tail,
        // rebuild the document exactly (overlap carries the rest)
        val rebuilt = (got.init.flatMap(_.split(" ").filter(_.nonEmpty).take(stride)) ++
          got.last.split(" ").filter(_.nonEmpty)).toSeq
        assert(rebuilt == toks.toSeq,
          s"round $round doc $id size=$size stride=$stride: $rebuilt vs ${toks.toSeq}")
        // chunk count law
        val expect = math.max(1, math.ceil((toks.length - size).toDouble / stride).toInt + 1)
        assert(got.length == expect, s"round $round doc $id: ${got.length} chunks, want $expect")
      }
    }
  }

  test("PQ codes are partition-layout invariant (min-struct argmin has no order dependence)") {
    val e = graft.Graft.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cells = graft.operators.Clustering.materializedCells(e, "vec_id", "embedding")
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Clustering.pqCodes(df, "vec_id", "embedding", cells, 8, 8)
        .collect().map(r => r.getAs[Long]("vec_id") ->
          (0 until 8).map(m => r.getAs[Long](s"code_$m"))).toMap
    val a = codesOf(e)
    val b = codesOf(e.repartition(7, col("embedding")))
    val c = codesOf(e.repartition(3))
    assert(a == b && a == c, "codes changed under repartitioning")
  }

  test("temperatureMix totals: sum of targets within [total - strata, total]; shares flatten") {
    val rnd = new Random(777)
    for (round <- 1 to 5) {
      val strata = 2 + rnd.nextInt(5)
      val counts = (0 until strata).map(s => s"src$s" -> (1 + rnd.nextInt(400)))
      val df = counts.zipWithIndex.flatMap { case ((src, c), si) =>
        (1 to c).map(i => ((si * 100000 + i).toLong, src))
      }.toDF("doc_id", "source")
      val total = 1 + rnd.nextInt(counts.map(_._2).sum)
      val picked = graft.operators.Curation.temperatureMix(df, "source", "doc_id", total.toLong)
        .groupBy("source").count().as[(String, Long)].collect().toMap
      val n = picked.values.sum
      // floors lose < 1 per stratum; caps at count_s can only lower further
      assert(n <= total, s"round $round: picked $n > total $total")
      val uncapped = counts.forall { case (src, c) => picked.getOrElse(src, 0L) < c }
      if (uncapped) assert(n >= total - strata,
        s"round $round: picked $n < ${total - strata} (total=$total, strata=$strata)")
    }
  }

  test("funnel fold equals the sequential per-user reference on random event streams") {
    import graft.operators.Funnel
    val steps = Seq("view", "click", "purchase")
    val types = Array("view", "click", "purchase", "error", "signup")
    val rnd = new Random(4242)
    for (round <- 1 to 3) {
      val events = (1 to 800).map { i =>
        (i.toLong, new Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L),
          (rnd.nextInt(40) + 1).toLong, types(rnd.nextInt(types.length)))
      }
      // sequential reference: walk each user's events in (ts, id) order,
      // set step k at the first type-k event strictly after step k-1
      val expected = events.groupBy(_._3).flatMap { case (u, evs) =>
        val sorted = evs.sortBy(e => (e._2.getTime, e._1))
        val t = Array.fill[Option[Long]](steps.length)(None)
        sorted.foreach { case (_, ts, _, typ) =>
          val k = steps.indexOf(typ)
          if (k >= 0 && t(k).isEmpty &&
              (k == 0 || t(k - 1).exists(_ < ts.getTime)))
            t(k) = Some(ts.getTime)
        }
        if (t(0).isEmpty) None
        else Some(u -> (t.map(_.getOrElse(-1L)).toSeq, t.count(_.nonEmpty)))
      }
      val got = Funnel.funnelSteps(
          events.toDF("event_id", "ts", "user_id", "event_type"),
          "user_id", "event_type", "ts", steps)
        .collect().map { r =>
          val ts = (1 to 3).map(i => Option(r.getAs[Timestamp](s"t$i"))
            .map(_.getTime).getOrElse(-1L))
          r.getAs[Long]("user_id") -> ((ts, r.getAs[Int]("steps_reached")))
        }.toMap
      assert(got == expected, s"round $round: funnel fold diverged from reference")
    }
  }

  test("prefix-filter pairs equal naive all-pairs exact Jaccard on random corpora") {
    // corpora built from a small shared vocabulary (heavy overlap — the
    // regime where the filter admits most candidates) plus mutated clones
    // (the near-dup structure it must never miss)
    val rng = new Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    for (round <- 1 to 3; tau <- Seq(50, 80)) {
      val bases = (1 to 12).map { i =>
        (i.toLong, Seq.fill(6 + rng.nextInt(8))(vocab(rng.nextInt(vocab.size))).mkString(" "))
      }
      val clones = bases.take(4).map { case (id, t) =>
        (id + 100L, if (rng.nextBoolean()) t else t + " " + vocab(rng.nextInt(vocab.size)))
      }
      val docs = (bases ++ clones).toDF("doc_id", "text")
      val got = operators.Dedup.prefixFilterPairs(docs, "doc_id", "text", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val base = operators.Dedup.shingleSets(docs, "doc_id", "text")
      val naive = base.as("a").join(base.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          size(array_intersect(col("a.hset"), col("b.hset"))).cast("long").as("i"),
          (size(col("a.hset")) + size(col("b.hset"))).cast("long").as("t"))
        .filter(lit(100L) * col("i") >= lit(tau.toLong) * (col("t") - col("i")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == naive, s"round $round tau $tau: $got != $naive")
    }
  }

  test("triangle counts equal the naive all-triples reference across densities") {
    for ((n, e, seed) <- Seq((30, 60, 1), (30, 200, 2), (50, 120, 3))) {
      val rng = new Random(seed)
      val raw = Seq.fill(e)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val got = operators.Graphs.triangleCounts(raw.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val adj = raw.filter { case (a, b) => a != b }
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
      val nodes = adj.map(_._1).toSeq.sorted
      val naive = (for {
        i <- nodes; j <- nodes if j > i; k <- nodes if k > j
        if adj((i, j)) && adj((j, k)) && adj((i, k))
      } yield Seq(i, j, k)).flatten.groupBy(identity)
        .map { case (x, xs) => x -> xs.size.toLong }
      assert(got == naive, s"n=$n e=$e seed=$seed: diverged")
    }
  }

  test("paretoFrontier equals the naive quadratic filter; bucket-count invariant") {
    // heavy (x, y) collisions: duplicates must BOTH stay on the frontier,
    // same-x chains must keep only the max-y rows
    for ((n, vals, seed) <- Seq((80, 8, 11), (200, 20, 12), (150, 4, 13))) {
      val rng = new Random(seed)
      val rows = (1 to n).map(i => (i.toLong, rng.nextInt(vals).toDouble, rng.nextInt(vals).toLong))
      val naive = rows.filter { p =>
        !rows.exists(q => q._2 >= p._2 && q._3 >= p._3 && (q._2 > p._2 || q._3 > p._3))
      }.map(_._1).toSet
      for (buckets <- Seq(1, 7, 64)) {
        val got = operators.Stats.paretoFrontier(
            rows.toDF("id", "x", "y"), "id", "x", "y", pruneBuckets = buckets)
          .select("id").as[Long].collect().toSet
        assert(got == naive, s"n=$n vals=$vals seed=$seed buckets=$buckets: " +
          s"missing=${naive -- got} extra=${got -- naive}")
      }
    }
  }

  test("WAV encode→decode round-trips arbitrary PCM16 sample runs bit-exactly") {
    import graft.multimodal.Multimodal.{MediaDecoder, MediaMeta}
    val rnd = new Random(1234)
    def le16(v: Int): Seq[Byte] = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int): Seq[Byte] = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def wav(samples: Seq[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val b = Seq.newBuilder[Byte]
      b ++= "RIFF".getBytes; b ++= le32(36 + dataLen); b ++= "WAVE".getBytes
      b ++= "fmt ".getBytes; b ++= le32(16)
      b ++= le16(1); b ++= le16(1); b ++= le32(16000); b ++= le32(32000)
      b ++= le16(2); b ++= le16(16)
      b ++= "data".getBytes; b ++= le32(dataLen)
      samples.foreach(s => b ++= le16(s & 0xffff))
      b.result().toArray
    }
    val meta = MediaMeta("wav", 0, 0, 16000, 0L)
    for (round <- 1 to 25) {
      // lengths 0..999 incl. empty; extreme values seeded in every run
      val n = rnd.nextInt(1000)
      val samples = Seq(Short.MinValue, Short.MaxValue, 0.toShort) ++
        Seq.fill(n)(rnd.nextInt(65536).toShort)
      val decoded = MediaDecoder.Uncompressed.decodeAudio(wav(samples), meta)
      assert(decoded.toSeq == samples, s"round $round n=$n diverged")
    }
  }

  test("BMP encode→decode recovers the exact BT.601 luma for arbitrary pixel grids") {
    import graft.multimodal.Multimodal.{MediaDecoder, MediaMeta}
    val rnd = new Random(99)
    def le16(v: Int): Seq[Byte] = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int): Seq[Byte] = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def bmp(px: Seq[Seq[(Int, Int, Int)]], topDown: Boolean): Array[Byte] = {
      val h = px.length; val w = px.head.length
      val rowBytes = ((w * 3 + 3) / 4) * 4
      val b = Seq.newBuilder[Byte]
      b ++= "BM".getBytes; b ++= le32(54 + rowBytes * h); b ++= le32(0); b ++= le32(54)
      b ++= le32(40); b ++= le32(w); b ++= le32(if (topDown) -h else h)
      b ++= le16(1); b ++= le16(24); b ++= le32(0); b ++= le32(rowBytes * h)
      b ++= le32(2835); b ++= le32(2835); b ++= le32(0); b ++= le32(0)
      (if (topDown) px else px.reverse).foreach { row =>
        row.foreach { case (r, g, bl) => b += bl.toByte; b += g.toByte; b += r.toByte }
        (w * 3 until rowBytes).foreach(_ => b += 0.toByte)
      }
      b.result().toArray
    }
    for (round <- 1 to 20) {
      // widths 1..9 cover every row-padding residue; both storage orders
      val w = 1 + rnd.nextInt(9); val h = 1 + rnd.nextInt(6)
      val px = Seq.fill(h)(Seq.fill(w)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))))
      val expected = px.map(_.map { case (r, g, bl) =>
        ((299 * r + 587 * g + 114 * bl) / 1000).toByte })
      for (topDown <- Seq(false, true)) {
        val got = MediaDecoder.Uncompressed
          .decodeImage(bmp(px, topDown), MediaMeta("bmp", w, h, 0, 0L))
        assert(got.map(_.toSeq).toSeq == expected, s"round $round ${w}x$h topDown=$topDown")
      }
    }
  }

  test("retrievalMetrics invariants: bounds, identity, and naive-reference equality") {
    val rnd = new Random(1007)
    for (_ <- 1 to 6) {
      val k = 1 + rnd.nextInt(5)
      val queries = (1L to 8L)
      def ranked(pool: Int): Seq[(Long, Long, Long)] = queries.flatMap { q =>
        val ids = rnd.shuffle((1 to pool).map(_.toLong)).take(k)
        ids.zipWithIndex.map { case (n, i) => (q, (i + 1).toLong, n) }
      }
      val truth = ranked(12).toDF("query_id", "rank", "neighbor_id")
      val results = ranked(12).toDF("query_id", "rank", "neighbor_id")
      val got = graft.operators.Eval.retrievalMetrics(results, truth, k)
        .collect().map(r => r.getAs[Long]("query_id") ->
          ((r.getAs[Long]("n_hits"), r.getAs[Double]("recall_at_k"),
            r.getAs[Double]("mrr"), r.getAs[Double]("ndcg_at_k")))).toMap
      // naive reference
      val tMap = truth.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rMap = results.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      queries.foreach { q =>
        val (hits, recall, mrr, ndcg) = got(q)
        val rel = rMap(q).filter(x => tMap(q).contains(x._3))
        assert(hits == rel.size)
        assert(math.abs(recall - rel.size.toDouble / math.min(tMap(q).size, k)) < 1e-9)
        val wantMrr = rel.headOption.map(x => 1.0 / x._2).getOrElse(0.0)
        assert(math.abs(mrr - wantMrr) < 1e-9, s"q$q mrr $mrr != $wantMrr")
        assert(recall >= 0 && recall <= 1 && mrr >= 0 && mrr <= 1 && ndcg >= 0 && ndcg <= 1 + 1e-12,
          s"metric out of bounds: $recall $mrr $ndcg")
      }
      // identity: scoring truth against itself is perfect everywhere
      val ident = graft.operators.Eval.retrievalMetrics(truth, truth, k).collect()
      ident.foreach { r =>
        assert(r.getAs[Double]("recall_at_k") == 1.0 && r.getAs[Double]("mrr") == 1.0
          && math.abs(r.getAs[Double]("ndcg_at_k") - 1.0) < 1e-9, r.toString)
      }
    }
  }

  test("mattr bounds and all-distinct invariance across random docs") {
    val rnd = new Random(2027)
    val docs = (1L to 30L).map { i =>
      val n = 1 + rnd.nextInt(150)
      val vocab = 1 + rnd.nextInt(40)
      (i, (1 to n).map(_ => s"w${rnd.nextInt(vocab)}").mkString(" "), n)
    }
    val rows = docs.map { case (i, t, _) => (i, t) }.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.mattr(
          graft.operators.TextAnalysis.tokens(col("text")), 50).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    docs.foreach { case (i, _, n) =>
      val m = rows(i)
      assert(m > 0.0 && m <= 1.0, s"doc $i mattr $m out of (0,1]")
      assert(m >= 1.0 / 50 - 1e-9, s"doc $i mattr $m below the 1-distinct floor")
    }
    // all-distinct docs hit exactly 1.0 at ANY length
    val distinctDocs = Seq((1L, (1 to 7).map(i => s"u$i").mkString(" ")),
      (2L, (1 to 200).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    distinctDocs.select(graft.operators.TextAnalysis.mattr(
        graft.operators.TextAnalysis.tokens(col("text")), 50).as("m"))
      .collect().foreach(r => assert(r.getDouble(0) == 1.0))
  }

  test("budget probes are monotone in the budget and subset-consistent vs fixed nprobe") {
    import graft.operators.Clustering
    val rnd = new Random(777)
    val vecs = (0L until 120L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    val e = vecs.toDF("id", "embedding")
    val q = e.filter(col("id") % 11 === 0)
    val cells = Clustering.materializedCells(e, "id", "embedding")
    val assign = Clustering.assignCells(e, "id", "embedding", cells)
    def resultSet(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(1 + 1))).toSet
    def candSet(budget: Long) = Clustering
      .ivfTopKAdaptive(q, e, cells, assign, 5, budget)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // larger budget → probe-set prefix extends → results only improve in
    // candidate coverage; the returned top-k per query is over a SUPERSET
    // of candidates, so every (query, neighbor) at budget b that survives
    // at b' >= b must score identically (same exact cosine)
    val budgets = Seq(1L, 20L, 60L, 200L)
    budgets.sliding(2).foreach { case Seq(small, large) =>
      val sProbe = candSet(small)
      val lProbe = candSet(large)
      // top-k sets can differ, but the LARGE run found at-least-as-good
      // neighbors: per query, large's kth cosine >= small's kth cosine
      def kth(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("query_id").agg(min(col("cosine")).as("kth"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val sK = kth(Clustering.ivfTopKAdaptive(q, e, cells, assign, 5, small))
      val lK = kth(Clustering.ivfTopKAdaptive(q, e, cells, assign, 5, large))
      sK.foreach { case (qid, v) =>
        assert(lK(qid) >= v - 1e-12,
          s"budget $large worsened query $qid kth cosine: ${lK(qid)} < $v")
      }
      val _ = (sProbe, lProbe)
    }
    // a budget >= corpus size covers every populated cell: results equal
    // fixed nprobe = #cells (the bracketing identity, random-data variant)
    val nCells = cells.count().toInt
    assert(resultSet(Clustering.ivfTopKAdaptive(q, e, cells, assign, 5, 1000L))
      == resultSet(Clustering.ivfTopKFromIndex(q, e, cells, assign, 5, nCells)))
  }

  test("synthWav round-trips through the real decoder for random sizes") {
    val rnd = new Random(3001)
    for (_ <- 1 to 12) {
      val seed = rnd.nextInt(100000).toLong
      val n = 1 + rnd.nextInt(400)
      val got = graft.multimodal.Multimodal.MediaDecoder.Uncompressed.decodeAudio(
        graft.multimodal.Multimodal.synthWav(seed, n),
        graft.multimodal.Multimodal.MediaMeta("wav", 0, 0, 8000, 0L))
      assert(got.length == n)
      (0 until n).foreach { i =>
        assert(got(i) == (((seed * 31 + i * 7) % 65536) - 32768).toShort)
      }
    }
  }

  test("bronze log invariants hold through a random append/DV-delete/CoW/merge/add-columns/compact walk") {
    import graft.pipeline.{Lakehouse, ManifestStats}
    val rnd = new Random(7)
    val lake = new Lakehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-logwalk").toString,
      bronzeCheckpointInterval = 4)
    val day = java.sql.Date.valueOf("2025-06-01")
    var model = Map.empty[Long, String] // id -> run, the in-memory truth
    var nextId = 0L
    // `extra` adds one nullable column to the batch: ADD COLUMNS, the
    // reference's schema evolution (finalize_run_log.py:82-93)
    def appendRun(step: Int, extra: Option[String] = None): Unit = {
      val run = s"run$step"
      val ids = (1 to 1 + rnd.nextInt(5)).map { _ => nextId += 1; nextId }
      val batch = ids.map(i => (i, day, run)).toDF("id", "snapshot_date", "run_id")
      lake.appendBronze("t", extra.fold(batch)(c => batch.withColumn(c, lit(run)))
        .repartition(1 + rnd.nextInt(2)))
      model ++= ids.map(_ -> run)
    }
    def scanPairs(): Seq[(Long, String)] =
      lake.table("bronze", "t").select("id", "run_id").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
    appendRun(0)
    // row tracking rides the whole walk: ids must stay unique, stable for
    // untouched rows, below a non-decreasing watermark — across DV deletes,
    // CoW rewrites, merges, added columns and compactions
    lake.enableRowTracking("t")
    def rowIds(): Map[Long, Long] =
      lake.tableWithRowIds("t").select("id", "_row_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var prevIds = rowIds()
    var prevWm = lake.rowIdWatermark("t").get
    for (step <- 1 to 22) {
      val modelBefore = model
      val vBefore = lake.tableVersions("bronze", "t").max
      rnd.nextInt(7) match {
        case 0 | 1 => appendRun(step)
        case 2 => // merge-on-read delete by id residue
          val p = rnd.nextInt(4)
          lake.deleteBronzeWhereDv("t", pmod(col("id"), lit(4)) === p)
          model = model.filter { case (i, _) => i % 4 != p }
        case 3 if model.nonEmpty => // copy-on-write delete of one whole run
          val run = model.values.toSeq(rnd.nextInt(model.size))
          lake.deleteBronzeWhere("t", col("run_id") === run,
            Seq(ManifestStats.StatEq("run_id", run)))
          model = model.filter(_._2 != run)
        case 4 => // MERGE: update up to 2 existing keys + insert a new one
          val run = s"m$step"
          val existing = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
          val ids = existing :+ { nextId += 1; nextId }
          lake.mergeBronze("t",
            ids.map(i => (i, day, run)).toDF("id", "snapshot_date", "run_id"),
            Seq("id"))
          model ++= ids.map(_ -> run)
        case 5 => // ADD COLUMNS: an append carrying one extra nullable column
          appendRun(step, extra = Some(s"x$step"))
          assert(lake.table("bronze", "t").columns.contains(s"x$step"),
            s"step $step: ADD COLUMNS did not widen the log schema")
        case _ => lake.compactSmall("bronze", "t", minSmallFiles = 2) // may no-op
      }
      // invariants after EVERY step: scan content == model, metadata
      // rowCount == model size, DESCRIBE DETAIL agrees
      val got = scanPairs().toMap
      assert(got == model, s"step $step: scan diverged from model")
      assert(lake.rowCount("bronze", "t").contains(model.size.toLong),
        s"step $step: metadata rowCount != ${model.size}")
      assert(lake.describeDetail("bronze", "t").head()
        .getAs[Long]("num_rows") == model.size.toLong, s"step $step: detail num_rows")
      // CDF apply-algebra: modelBefore + inserts − deletes == model, for
      // every committed step (OPTIMIZE steps emit an empty feed)
      val vAfter = lake.tableVersions("bronze", "t").max
      if (vAfter > vBefore) {
        val feed = lake.tableChanges("t", vBefore, vAfter)
          .select(col("id"), col("run_id"), col("_change_type")).collect()
          .map(r => (r.getLong(0) -> r.getString(1), r.getString(2)))
        val ins = feed.filter(t => t._2 == "insert" || t._2 == "update_postimage")
          .map(_._1).toSeq
        val del = feed.filter(t => t._2 == "delete" || t._2 == "update_preimage")
          .map(_._1).toSeq
        val applied = (modelBefore.toSeq ++ ins).diff(del).sorted
        assert(applied == model.toSeq.sorted,
          s"step $step: CDF apply-algebra diverged (v$vBefore → v$vAfter)")
      }
      // row-id invariants: same key set as the model, no duplicates,
      // untouched (key,run) rows keep their exact id, everything below a
      // non-decreasing watermark
      val ids = rowIds()
      assert(ids.keySet == model.keySet, s"step $step: row-id read diverged")
      assert(ids.values.toSeq.distinct.size == ids.size,
        s"step $step: duplicate row ids")
      modelBefore.toSet.intersect(model.toSet).foreach { case (k, _) =>
        assert(ids(k) == prevIds(k), s"step $step: row id of key $k changed")
      }
      val wm = lake.rowIdWatermark("t").get
      assert(wm >= prevWm, s"step $step: watermark decreased")
      assert(ids.values.forall(_ < wm), s"step $step: id at/above watermark")
      prevIds = ids
      prevWm = wm
    }
  }

  test("adamicAdar equals the naive all-pairs reference on random graphs") {
    import graft.operators.Graphs
    val rnd = new Random(77)
    for (round <- 1 to 6) {
      val n = 12 + rnd.nextInt(12)
      val edges = (for {
        u <- 1 to n; v <- (u + 1) to n
        if rnd.nextDouble() < 0.22
      } yield (u.toLong, v.toLong)).toVector
      if (edges.nonEmpty) {
        val cap = if (round % 2 == 0) 5 else 64 // exercise the hub cap too
        val got = Graphs.adamicAdar(edges.toDF("u", "v"), maxDegree = cap)
          .collect()
          .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) ->
            (r.getAs[Long]("common_neighbors"), r.getAs[Long]("aa_e9"))).toMap
        // naive reference: adjacency sets, every non-adjacent pair, the sum
        // over common neighbors within the cap with the identical integer
        // fixed-point weight
        val adj = edges.foldLeft(Map.empty[Long, Set[Long]].withDefaultValue(Set.empty[Long])) {
          case (m, (u, v)) => m.updated(u, m(u) + v).updated(v, m(v) + u)
        }
        val eset = edges.toSet
        def w(z: Long): Option[Long] = {
          val d = adj(z).size
          if (d >= 2 && d <= cap) Some(math.round(1e9 / math.log(d.toDouble))) else None
        }
        val want = (for {
          u <- adj.keys; v <- adj.keys
          if u < v && !eset.contains((u, v))
          commons = (adj(u) & adj(v)).toSeq.flatMap(z => w(z))
          if commons.nonEmpty
        } yield (u, v) -> (commons.size.toLong, commons.sum)).toMap
        assert(got == want, s"round $round (n=$n cap=$cap): $got vs $want")
      }
    }
  }
}
