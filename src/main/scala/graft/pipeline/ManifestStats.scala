package graft.pipeline

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}

/** File-level metadata for the transaction-log manifests: one entry per
  * live data file, carrying per-column min/max statistics for DATA
  * SKIPPING — the slice of Delta's per-file stats (`add.stats`) that lets
  * a reader prune whole FILES from a scan before Spark ever lists them,
  * on top of the row-group pruning parquet footers already give.
  *
  * Values are stored with a one-character type tag so comparisons are
  * typed, not lexical: `l` integral (dates as epoch-day, timestamps as
  * epoch-micros — both order-preserving), `f` floating, `s` string,
  * `b` boolean. Stats are computed over NON-NULL values only (the
  * `min`/`max` aggregate convention), so pruning is sound exactly for
  * NULL-REJECTING predicates — which is all [[StatPred]] can express.
  * A column with no recorded stats (all-null file, type we don't encode,
  * or a pre-stats manifest line) never causes a skip.
  *
  * Line format (tab-separated, URL-encoded tokens — robust to any path or
  * string value): `relPath TAB col TAB tag TAB min TAB max [TAB col ...]`.
  * A bare `relPath` line (no tabs) is a stats-free entry, which keeps
  * round-1..7 manifests readable.
  */
object ManifestStats {

  final case class ColStats(tag: Char, min: String, max: String)

  final case class FileEntry(relPath: String, stats: Map[String, ColStats]) {
    def render: String = {
      val statsPart = stats.toSeq.sortBy(_._1).flatMap { case (c, s) =>
        Seq(enc(c), s.tag.toString, enc(s.min), enc(s.max))
      }
      (enc(relPath) +: statsPart).mkString("\t")
    }
  }

  /** Null-rejecting file-skipping predicates ("would any row of this file
    * survive?"). Compose with `Seq` = conjunction. */
  sealed trait StatPred { def column: String; def value: Any }
  final case class StatGte(column: String, value: Any) extends StatPred
  final case class StatLte(column: String, value: Any) extends StatPred
  final case class StatEq(column: String, value: Any) extends StatPred

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)

  /** Encode one collected aggregate value; None = type we don't track
    * (a file with such a column simply records no stats for it). */
  def encodeValue(v: Any): Option[(Char, String)] = v match {
    case null => None
    case d: java.sql.Date => Some(('l', d.toLocalDate.toEpochDay.toString))
    case d: java.time.LocalDate => Some(('l', d.toEpochDay.toString))
    case t: java.sql.Timestamp =>
      // floorDiv, not /: truncation toward zero mis-encodes pre-epoch
      // timestamps (getTime is floor-seconds*1000, getNanos ∈ [0,1e9)).
      // FORMAT NOTE: manifests persisted by the pre-floorDiv encoder carry
      // pre-epoch micros up to ~1s TOO HIGH; a floor-encoded probe against
      // such legacy stats could wrongly prune a boundary file. No shipped
      // stats column (snapshot_date/run_id + clustering keys over the
      // 2024+ fixtures) ever held a pre-epoch timestamp, so no legacy
      // manifest is affected; if one ever could be, compact the table
      // (stats are recollected on rewrite) before probing pre-epoch ranges.
      Some(('l', (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString))
    case t: java.time.Instant =>
      Some(('l', (t.getEpochSecond * 1000000L + t.getNano / 1000).toString))
    case n: Long => Some(('l', n.toString))
    case n: Int => Some(('l', n.toString))
    case n: Short => Some(('l', n.toString))
    case n: Byte => Some(('l', n.toString))
    case n: Double => Some(('f', n.toString))
    case n: Float => Some(('f', n.toDouble.toString))
    case n: java.math.BigDecimal => Some(('f', n.doubleValue.toString))
    case s: String => Some(('s', s))
    case b: Boolean => Some(('b', if (b) "1" else "0"))
    case _ => None
  }

  private def cmp(tag: Char, a: String, b: String): Int = tag match {
    case 'l' => java.lang.Long.compare(a.toLong, b.toLong)
    case 'f' => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ =>
      // UTF-8 byte order, matching how Spark's min/max aggregate compares
      // UTF8String (code-point order). String.compareTo is UTF-16 code-UNIT
      // order, which disagrees for supplementary characters and would make
      // mightMatch wrongly prune files (Delta compares its string stats the
      // same binary way).
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
  }

  /** Conservative survival test: keep the file unless its recorded range
    * PROVES no row can match every predicate. Missing stats → keep. */
  def mightMatch(entry: FileEntry, preds: Seq[StatPred]): Boolean =
    preds.forall { p =>
      val range = (entry.stats.get(p.column), encodeValue(p.value)) match {
        case (Some(s), Some((tag, v))) if tag == s.tag => p match {
          case _: StatGte => cmp(tag, s.max, v) >= 0
          case _: StatLte => cmp(tag, s.min, v) <= 0
          case _: StatEq => cmp(tag, s.min, v) <= 0 && cmp(tag, s.max, v) >= 0
        }
        case _ => true // no stats / tag mismatch: never skip on a guess
      }
      // equality probes additionally consult the file's bloom (if one was
      // recorded): range says "the value COULD fall here", the bloom says
      // "it definitely doesn't" — files that mix high-cardinality keys
      // (post-compaction) prune on membership where ranges cannot
      range && (p match {
        case _: StatEq => encodeValue(p.value) match {
          case Some((tag, v)) => bloomAdmits(entry, p.column, tag, v)
          case None => true
        }
        case _ => true
      })
    }

  def parseLine(line: String): FileEntry = {
    val toks = line.split("\t", -1)
    val stats = toks.drop(1).grouped(4).collect {
      case Array(c, tag, mn, mx) if tag.length == 1 =>
        dec(c) -> ColStats(tag.head, dec(mn), dec(mx))
    }.toMap
    FileEntry(dec(toks.head), stats)
  }

  /** Per-file min/max over `statsCols` for every parquet file under
    * `dataDir` — read from the files' own FOOTER statistics, so the
    * commit-side stats pass costs O(files) metadata reads and NEVER a
    * second scan over just-written data (the previous aggregate pass
    * re-read every appended byte; at a 100 TB ingest cadence that second
    * pass IS the commit cost. Delta avoids it the same way: stats ride
    * the writer's own metadata). Bounds are the parquet writer's exact
    * chunk statistics merged across row groups; any column whose physical
    * type falls outside the encoding we track — or whose chunk carries no
    * usable statistics — records nothing, which readers treat as
    * "never skip". Type mapping mirrors [[encodeValue]] exactly:
    * DATE→epoch-day, TIMESTAMP(UTC-adjusted micros/millis)→epoch-micros,
    * signed INT32/INT64→'l', FLOAT/DOUBLE→'f', UTF8 BINARY→'s' (parquet
    * binary stats compare in unsigned byte order — the same collation
    * [[cmp]] uses), BOOLEAN→'b'. NTZ timestamps, INT96, unsigned ints and
    * DECIMAL are deliberately skipped (their aggregate-side encoding is
    * absent or lossy, and missing stats are always sound). */
  def collectStats(spark: org.apache.spark.sql.SparkSession, dataDir: String,
      statsCols: Seq[String], relPrefix: String): Seq[FileEntry] = {
    val conf = spark.sessionState.newHadoopConf()
    val wanted = statsCols.toSet
    val names = listParquet(dataDir)
    val stats: Seq[(String, Map[String, ColStats])] =
      if (names.size <= DistributeFooterThreshold)
        names.map(f => f -> footerStats(s"$dataDir/$f", wanted, conf))
      else {
        // a big commit (bulk load, full rewrite) reads its footers on the
        // EXECUTORS: tens of thousands of sequential driver-side metadata
        // reads would otherwise be the commit's critical path. The result
        // (one entry per new file) is driver-sized by construction — it
        // IS the manifest being written.
        val sconf = org.apache.spark.sql.graft.ConfShim.serializable(conf)
        val dd = dataDir
        val parts = math.min(spark.sparkContext.defaultParallelism,
          math.max(1, names.size / 64))
        spark.sparkContext.parallelize(names, parts)
          .map(f => f -> footerStats(s"$dd/$f", wanted, sconf.value))
          .collect().toSeq.sortBy(_._1)
      }
    stats.map { case (f, s) => FileEntry(s"$relPrefix/$f", s) }
  }

  /** Footer reads distribute to executors above this many new files. */
  val DistributeFooterThreshold = 64

  /** Pseudo-column carrying the FILE SIZE in bytes (min = max = size) —
    * rides the stats map so the line format is unchanged and old
    * manifests simply lack it. [[graft.pipeline.Lakehouse.compactSmall]]
    * reads it to find under-sized files without stat-ing the filesystem
    * (Delta records `add.size` for the same reason). Never matches a
    * [[StatPred]] (no real column is named this). */
  val SizeCol = "__size"

  def sizeOf(e: FileEntry): Option[Long] =
    e.stats.get(SizeCol).map(_.min.toLong)

  /** Pseudo-column carrying the file's PHYSICAL ROW COUNT (min = max =
    * rows, from the footer's block metadata — free at commit time, like
    * [[SizeCol]]; Delta records `numRecords` the same way). Lets
    * `count(*)`-class questions resolve from the LOG instead of a scan:
    * [[graft.pipeline.Lakehouse.rowCount]] sums these minus any
    * deletion-vector cardinalities — on a 100 TB table that is one log
    * read, not a 100 TB scan. */
  val RowsCol = "__rows"

  def rowsOf(e: FileEntry): Option[Long] =
    e.stats.get(RowsCol).map(_.min.toLong)

  /** Pseudo-column carrying a file's BASE ROW ID (Delta's `add.baseRowId`,
    * row tracking): the stable logical id of the file's row at physical
    * position p is `base + p`. Assigned centrally at commit time from the
    * log's `#rowidwm` watermark — pure metadata, the file bytes never
    * change. The sentinel [[PhysicalRowIds]] marks a file REWRITTEN by
    * OPTIMIZE/DELETE, which carries the preserved ids as a physical
    * `__row_id` column instead (rows moved, so position arithmetic no
    * longer holds — Delta's materialized-row-id rule). */
  val RowBaseCol = "__rowbase"

  /** Sentinel base: ids live in the file's own `__row_id` column. */
  val PhysicalRowIds = -1L

  def rowBase(e: FileEntry): Option[Long] =
    e.stats.get(RowBaseCol).map(_.min.toLong)

  def withRowBase(e: FileEntry, base: Long): FileEntry =
    e.copy(stats = e.stats + (RowBaseCol -> ColStats('l', base.toString, base.toString)))

  /** Pseudo-column carrying a DELETION-VECTOR reference (Delta's
    * `add.deletionVector` descriptor): `min` = the vector's relPath under
    * the table dir, `max` = its cardinality (deleted-row count). Rides
    * the stats map like [[SizeCol]] so the manifest line format, delta
    * records and the checkpoint parquet twin all carry it unchanged.
    * Never matches a [[StatPred]]; a file's data min/max stay recorded
    * over ALL physical rows, which remains a sound SUPERSET bound for
    * skipping after rows are vector-deleted. */
  val DvCol = "__dv"

  /** (dv relPath, cardinality) of a file's deletion vector, if any. */
  def dvRef(e: FileEntry): Option[(String, Long)] =
    e.stats.get(DvCol).map(s => (s.min, s.max.toLong))

  def withDv(e: FileEntry, dvRelPath: String, cardinality: Long): FileEntry =
    e.copy(stats = e.stats + (DvCol -> ColStats('s', dvRelPath, cardinality.toString)))

  // ───── per-file bloom-filter skipping ───────────────────────────────
  //
  // min/max ranges cannot prune EQUALITY probes on high-cardinality
  // identity columns once files mix values (compaction packs many runs
  // into one file: every file's [min,max] covers most of the key space,
  // so a run-scoped delete or point lookup degenerates to a full scan).
  // A per-file bloom filter restores precise membership pruning at a few
  // bits per distinct value — Delta/iceberg solve the same problem with
  // writer-side bloom indexes. Stored like every pseudo-stat: key
  // `__bloom__<col>`, tag 's', min = base64 of Spark's statically-seeded
  // sketch (engine-deterministic), max = the distinct count it covers.
  //
  // OPT-IN (`appendBronze(..., bloomCols = ...)`) because building one
  // costs the second scan over just-written files that footer-based
  // min/max stats deliberately eliminated — enable it on tables probed by
  // equality on non-clustered keys, where the scan at ingest buys back
  // whole-file skips on every subsequent delete/lookup. A file without a
  // bloom simply never skips on membership — the usual superset rule.
  //
  // The bloom entry's ColStats TAG records the ITEM tag its members were
  // encoded with (uniform per column — one Spark type per column). A probe
  // whose encoded tag differs (Double 5.0 against a LONG column hashes to
  // 'f:5.0', absent from an 'l:…' bloom) must ADMIT, not skip — the same
  // "never skip on a guess" rule the min/max path applies on tag mismatch.
  // Legacy manifests recorded tag 's' unconditionally: for string columns
  // that IS the item tag (still prunes); for any other column type the
  // mismatch now admits-all until the file is rewritten.

  val BloomPrefix = "__bloom__"
  def bloomKey(col: String): String = BloomPrefix + col

  /** False-positive rate blooms are sized for: ~10 bits/value. */
  val BloomFpp = 0.01

  /** Per-file distinct-count cap: above it no bloom is recorded (the
    * manifest line would bloat past usefulness — a column this dense per
    * file is not an identity-probe column). */
  val MaxBloomItemsPerFile = 100000

  /** Values enter the bloom in the [[encodeValue]] encoding (`tag:value`),
    * so membership tests are typed exactly like min/max comparisons. */
  private def bloomItem(tag: Char, v: String): String = s"$tag:$v"

  /** One SCAN over `dataDir` building per-file bloom pseudo-stats for
    * `cols`: relPath → (bloomKey(col) → ColStats). Distinct values are
    * gathered per (file, column) executor-side and capped BEFORE they
    * reach the driver; the sketch itself is built on the driver (a few KB
    * per file·column at identity-column cardinalities). */
  def bloomStats(spark: org.apache.spark.sql.SparkSession, dataDir: String,
      cols: Seq[String], relPrefix: String): Map[String, Map[String, ColStats]] = {
    import org.apache.spark.sql.functions.{collect_set, input_file_name, slice}
    if (cols.isEmpty) return Map.empty
    val df = spark.read.parquet(dataDir)
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) return Map.empty
    val aggs = present.map(c =>
      slice(collect_set(col(c)), 1, MaxBloomItemsPerFile + 1).as(c))
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    rows.map { r =>
      val file = r.getString(0).split('/').last
      val stats = present.zipWithIndex.flatMap { case (c, i) =>
        val vals = r.getSeq[Any](i + 1)
        val pairs = vals.flatMap(encodeValue)
        val tags = pairs.map(_._1).distinct
        if (vals.size > MaxBloomItemsPerFile || pairs.isEmpty || tags.size != 1) None
        else {
          val bf = org.apache.spark.util.sketch.BloomFilter.create(pairs.size.toLong, BloomFpp)
          pairs.foreach { case (t, s) => bf.putString(bloomItem(t, s)) }
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          Some(bloomKey(c) -> ColStats(tags.head,
            java.util.Base64.getEncoder.encodeToString(bos.toByteArray),
            pairs.size.toString))
        }
      }.toMap
      s"$relPrefix/$file" -> stats
    }.toMap
  }

  /** Merge bloom stats into collected entries (missing files keep none). */
  def withBlooms(entries: Seq[FileEntry],
      blooms: Map[String, Map[String, ColStats]]): Seq[FileEntry] =
    entries.map(e => blooms.get(e.relPath) match {
      case Some(b) if b.nonEmpty => e.copy(stats = e.stats ++ b)
      case _ => e
    })

  /** Bloom membership test for an EQUALITY probe: false = the value is
    * definitely not in the file (no false negatives — safe to skip). A
    * probe whose tag differs from the bloom's recorded item tag admits
    * unconditionally — its encoding could never be a member, so "absent"
    * proves nothing about the column's actual values. */
  private def bloomAdmits(entry: FileEntry, column: String, tag: Char, v: String): Boolean =
    entry.stats.get(bloomKey(column)) match {
      case Some(b) if b.tag == tag =>
        val bytes = java.util.Base64.getDecoder.decode(b.min)
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
          .mightContainString(bloomItem(tag, v))
      case _ => true
    }

  /** One file's footer statistics, restricted to `wanted` columns, plus
    * the [[SizeCol]] pseudo-stat. */
  private def footerStats(file: String, wanted: Set[String],
      conf: org.apache.hadoop.conf.Configuration): Map[String, ColStats] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val acc = scala.collection.mutable.Map.empty[String, ColStats]
      reader.getFooter.getBlocks.forEach { block =>
        block.getColumns.forEach { cc =>
          val path = cc.getPath.toDotString
          if (wanted.contains(path)) {
            val st = cc.getStatistics
            if (st != null && !st.isEmpty && st.hasNonNullValue) {
              // resolve the chunk's type by its PATH ELEMENTS — getType with
              // the dotted string as one element throws on a nested column
              // (e.g. statsCols = ["a.b"]), where the old scan path just
              // ignored it; element-wise lookup handles both
              footerMinMax(schema.getType(cc.getPath.toArray: _*).asPrimitiveType(), st).foreach {
                case (tag, mn, mx) =>
                  acc.get(path) match {
                    case Some(prev) if prev.tag == tag =>
                      acc(path) = ColStats(tag,
                        if (cmp(tag, mn, prev.min) < 0) mn else prev.min,
                        if (cmp(tag, mx, prev.max) > 0) mx else prev.max)
                    case Some(_) => // tag clash across row groups: drop (never guess)
                      acc.remove(path)
                    case None => acc(path) = ColStats(tag, mn, mx)
                  }
              }
            }
          }
        }
      }
      // a column missing usable stats in ANY row group must not keep
      // partial bounds — footer bounds must cover every row or none (an
      // all-null chunk counts as covered: stats bound NON-NULL values,
      // the aggregate convention, and it contributes none)
      val blocks = reader.getFooter.getBlocks
      val complete = acc.filter { case (c, _) =>
        var covered = 0
        blocks.forEach { b => b.getColumns.forEach { cc =>
          if (cc.getPath.toDotString == c) {
            val st = cc.getStatistics
            if (st != null && !st.isEmpty) covered += 1
          }
        } }
        covered == blocks.size()
      }
      var rowCount = 0L
      blocks.forEach { b => rowCount += b.getRowCount }
      complete.toMap +
        (SizeCol -> ColStats('l', in.getLength.toString, in.getLength.toString)) +
        (RowsCol -> ColStats('l', rowCount.toString, rowCount.toString))
    } finally reader.close()
  }

  /** (tag, min, max) of one column chunk's footer statistics in the
    * [[encodeValue]] encoding; None for types we do not track. */
  private def footerMinMax(pt: org.apache.parquet.schema.PrimitiveType,
      st: org.apache.parquet.column.statistics.Statistics[_]): Option[(Char, String, String)] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val ann = pt.getLogicalTypeAnnotation
    (pt.getPrimitiveTypeName, ann) match {
      case (INT32, d: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
        val _ = d
        Some(('l', st.genericGetMin.toString, st.genericGetMax.toString))
      case (INT64, t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
          if t.isAdjustedToUTC =>
        val scale = t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => 1L
          case _ => return None // NANOS: not representable in our micros encoding
        }
        val mn = st.genericGetMin.asInstanceOf[java.lang.Long] * scale
        val mx = st.genericGetMax.asInstanceOf[java.lang.Long] * scale
        Some(('l', mn.toString, mx.toString))
      case (INT32 | INT64, null) =>
        Some(('l', st.genericGetMin.toString, st.genericGetMax.toString))
      case (INT32 | INT64, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation) if i.isSigned =>
        Some(('l', st.genericGetMin.toString, st.genericGetMax.toString))
      case (FLOAT, _) =>
        Some(('f', st.genericGetMin.asInstanceOf[java.lang.Float].doubleValue.toString,
          st.genericGetMax.asInstanceOf[java.lang.Float].doubleValue.toString))
      case (DOUBLE, _) =>
        Some(('f', st.genericGetMin.toString, st.genericGetMax.toString))
      case (BINARY, s: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
        val _ = s
        val mn = new String(st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
          .getBytes, UTF_8)
        val mx = new String(st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
          .getBytes, UTF_8)
        Some(('s', mn, mx))
      case (BOOLEAN, _) =>
        Some(('b', if (st.genericGetMin.asInstanceOf[java.lang.Boolean]) "1" else "0",
          if (st.genericGetMax.asInstanceOf[java.lang.Boolean]) "1" else "0"))
      case _ => None
    }
  }

  /** The pre-r11 stats pass: ONE Spark aggregate job re-reading the
    * just-written data. Kept as the parity reference for
    * [[collectStats]]'s footer path (the spec pins footer ≡ scan on every
    * tracked type) and as an escape hatch for files whose footers carry
    * no statistics. */
  def collectStatsScan(df: DataFrame, dataDir: String, statsCols: Seq[String],
      relPrefix: String): Seq[FileEntry] = {
    val spark = df.sparkSession
    val files = spark.read.parquet(dataDir)
    val cols = statsCols.filter(files.columns.contains)
    // `__rows` rides both paths (parity with the footer path's block-row
    // sum); a file the stats job never sees is empty → 0 rows
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))) :+
      count(lit(1)).as("__cnt")
    val rows = files.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val byFile = rows.map { r =>
      val name = r.getAs[String]("__file").split('/').last
      val stats = cols.flatMap { c =>
        (encodeValue(r.getAs[Any](s"__min_$c")), encodeValue(r.getAs[Any](s"__max_$c"))) match {
          case (Some((t1, mn)), Some((t2, mx))) if t1 == t2 => Some(c -> ColStats(t1, mn, mx))
          case _ => None
        }
      }.toMap
      val cnt = r.getAs[Long]("__cnt")
      name -> (stats + (RowsCol -> ColStats('l', cnt.toString, cnt.toString)))
    }.toMap
    // every file gets an entry even if the stats job missed it (empty file)
    listParquet(dataDir).map { f =>
      val size = new java.io.File(dataDir, f).length
      FileEntry(s"$relPrefix/$f",
        byFile.getOrElse(f, Map(RowsCol -> ColStats('l', "0", "0"))) +
          (SizeCol -> ColStats('l', size.toString, size.toString)))
    }
  }

  def listParquet(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).sorted
  }
}
