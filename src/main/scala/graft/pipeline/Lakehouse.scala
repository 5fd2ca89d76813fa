package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Path-backed three-layer medallion catalog: `bronze` / `silver` / `gold`
  * namespaces, one parquet directory per table under `root`.
  *
  * Plays the role Unity Catalog + Delta play for the reference
  * (`lakeflow/bootstrap_unity_catalog.sql`): bronze tables are
  * log-managed append+delete parquet ("DELETE WHERE run_id", the
  * reference's idempotent re-run primitive at
  * `ingest_data_api_to_bronze.py:91-93`, is file-granular copy-on-write —
  * exactly Delta's `add`/`remove` semantics); at cluster scale this slot
  * is filled by Delta (a one-line `format("delta")` swap); the engine
  * semantics above it are identical.
  *
  * Pruning posture for 100 TB: bronze manifests record per-file
  * `snapshot_date`/`run_id` min-max stats ([[ManifestStats]]) so silver
  * refreshes FILE-SKIP to the snapshots they need (the
  * Delta-data-skipping generalization of hive partition pruning — same
  * O(new data) scans, no small-partition-directory explosion);
  * silver/gold are full-refresh materializations (the reference's
  * `CREATE OR REFRESH MATERIALIZED VIEW` semantics — recompute is the
  * correctness baseline, incremental refresh an optimization on top).
  *
  * ONE COMMIT PROTOCOL for every layer — the file log, the minimal slice
  * of Delta's `_delta_log`: a write lands its files in a fresh immutable
  * `_a{N}_{uid}` append directory, then commits by put-if-absent creation
  * of the versioned `_files_v{N}` record (live file entries + per-file
  * stats + the table schema). Readers resolve the newest record first, so
  * they observe either the old version or the new one — never a
  * half-written directory — and a crash at ANY point before the record
  * link leaves the previous version live. Of any number of concurrent
  * writers racing for version N exactly one wins: blind appends and full
  * refreshes ([[materialize]]) re-commit their already-written files on
  * the next version; read-modify-write commits ([[transactMerge]], DML
  * deletes) restart from the winner. Bronze keeps every unreferenced file
  * until the explicit [[vacuumBronze]]; a winning commit to any other
  * layer deletes at once the committed append dirs that neither it nor
  * its predecessor references, so a refreshed table holds two versions'
  * bytes, no more.
  */
final class Lakehouse(val spark: SparkSession, val root: String,
    schemaOverrides: Map[String, String] = Lakehouse.envSchemaOverrides(),
    /** Every Nth bronze commit writes a full-snapshot checkpoint instead of
      * a delta record: bounds log-resolve cost AND the retained record
      * count to one interval. Delta's `delta.checkpointInterval` dial. */
    val bronzeCheckpointInterval: Int = Lakehouse.DefaultCheckpointInterval) {

  require(bronzeCheckpointInterval >= 1,
    s"bronzeCheckpointInterval must be >= 1, got $bronzeCheckpointInterval")

  /** Logical → physical schema name (dbt-style indirection; identity unless
    * overridden via constructor or `GRAFT_SCHEMA_*` env vars). */
  def physicalSchema(layer: String): String = schemaOverrides.getOrElse(layer, layer)

  /** Log I/O done by this instance: directory listings ([[listDir]]),
    * record-header peeks ([[readRecordHeader]]) and full record reads
    * ([[readRecord]]). A test seam: specs pin what a read and an append
    * cost. */
  private[pipeline] object logIo {
    val listings = new java.util.concurrent.atomic.AtomicLong
    val headerReads = new java.util.concurrent.atomic.AtomicLong
    val recordReads = new java.util.concurrent.atomic.AtomicLong
    def counts: (Long, Long, Long) = (listings.get, headerReads.get, recordReads.get)
  }

  /** Children of `p`, with the directory stream CLOSED before returning —
    * `Files.list` holds an open fd until closed, and per-batch/per-commit
    * callers (streaming refresh, CAS retry loops) would otherwise leak one
    * descriptor per call for the life of the JVM. */
  private def listDir(p: Path): Array[Path] = {
    logIo.listings.incrementAndGet()
    val s = Files.list(p)
    try s.toArray.map(_.asInstanceOf[Path]) finally s.close()
  }

  private def dir(layer: String, name: String): Path =
    Paths.get(root, physicalSchema(layer), name)

  /** Whether the table has a committed version (a log record) — a bare
    * directory holding only crash debris does not count. */
  def exists(layer: String, name: String): Boolean = bronzeVersions(dir(layer, name)).nonEmpty

  /** Table names under a layer (SHOW TABLES parity — every non-hidden
    * child directory of the layer's schema dir). */
  def tableNames(layer: String): Seq[String] = {
    val base = Paths.get(root, physicalSchema(layer))
    if (!Files.isDirectory(base)) Seq.empty
    else listDir(base).collect {
      case p if Files.isDirectory(p) && {
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      } => p.getFileName.toString
    }.sorted.toSeq
  }

  /** Number of LIVE data files backing a table — the OPTIMIZE trigger
    * signal (the log's entry count; no data is read). 0 when the table
    * has no committed version. */
  def liveFileCount(layer: String, name: String): Int =
    readFilesManifest(dir(layer, name)).fold(0)(_.entries.size)

  /** The committed snapshot of a table, or a fail-fast error naming it. */
  private def headSnapshot(layer: String, name: String): BronzeSnapshot =
    readFilesManifest(dir(layer, name)).getOrElse(throw noCommit(layer, name))

  private def noCommit(layer: String, name: String): IllegalArgumentException =
    new IllegalArgumentException(
      s"table $layer.$name has no committed version (no log record under ${dir(layer, name)})")

  /** The table AS OF its newest version, read under the LOG's schema
    * (older files yield null for later-added columns).
    *
    * A SMALL table reads as one partition: when every live entry records
    * its `__size` and the sizes sum to at most the session's
    * `spark.sql.files.openCostInBytes`, the read is `coalesce(1)`. Spark's
    * split planner charges each file that many bytes to open, so a whole
    * table below one open cost is never worth splitting — and with a
    * single-partition child, `EnsureRequirements` plans no Exchange under a
    * window, a grouped aggregate or a distinct over it: a model over small
    * tables runs as its write job alone. A larger table keeps Spark's
    * split. */
  def table(layer: String, name: String): DataFrame = {
    val base = dir(layer, name)
    val snap = headSnapshot(layer, name)
    onePartitionIfSmall(readEntriesWithDv(base, snap.schema, snap.entries), snap.entries)
  }

  /** `df`, a read of `entries`, as ONE partition when every entry records
    * its `__size` and they sum to at most the session's open cost — the
    * rule of [[table]]. */
  private def onePartitionIfSmall(df: DataFrame,
      entries: Seq[ManifestStats.FileEntry]): DataFrame = {
    val sizes = entries.map(ManifestStats.sizeOf)
    if (sizes.forall(_.isDefined) &&
        sizes.flatten.sum <= spark.sessionState.conf.filesOpenCostInBytes) df.coalesce(1)
    else df
  }

  /** Read a set of live entries applying DELETION VECTORS (merge-on-read —
    * see [[DeletionVectors]]): files without a vector take the plain scan
    * (no metadata columns, no per-row work — the fast path stays exactly
    * what it was); files WITH one read with `_metadata` and subtract their
    * deleted positions via the codegen'd [[graft.sql.DvRowDeleted]] filter.
    * The two branches union AFTER the filter, so only vector-carrying
    * files — bounded by one OPTIMIZE interval of deletes — pay anything. */
  private def readEntriesWithDv(base: Path,
      schemaOpt: Option[org.apache.spark.sql.types.StructType],
      entries: Seq[ManifestStats.FileEntry]): DataFrame = {
    def rd = schemaOpt.fold(spark.read)(spark.read.schema)
    val (dvd, plain) = entries.partition(e => ManifestStats.dvRef(e).isDefined)
    if (dvd.isEmpty)
      rd.parquet(entries.map(e => base.resolve(e.relPath).toString): _*)
    else {
      val masked = readDvFiltered(base, rd,
        dvd.map(e => base.resolve(e.relPath).toString),
        dvRefPairs(dvd))
      if (plain.isEmpty) masked
      else masked.unionByName(
        rd.parquet(plain.map(e => base.resolve(e.relPath).toString): _*))
    }
  }

  /** (data file KEY, dv relPath) pairs for vector-carrying entries. The
    * key is [[graft.sql.DvRowDeleted.relPathKey]] (last two path
    * segments) — the form the scan side derives from the absolute
    * `_metadata.file_path`. Append-dir names are UUID-unique, so the
    * two-segment key never collides. Callers needing resolvable paths use
    * `_._2` (dv rel, relative to the table's dir) or the entry's own
    * relPath. */
  private def dvRefPairs(entries: Seq[ManifestStats.FileEntry]): Seq[(String, String)] =
    entries.flatMap(e => ManifestStats.dvRef(e).map { case (p, _) =>
      graft.sql.DvRowDeleted.relPathKey(e.relPath) -> p })

  /** Scan `paths` subtracting the deletion vectors in `refs`. */
  private def readDvFiltered(base: Path, rd: org.apache.spark.sql.DataFrameReader,
      paths: Seq[String], refs: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.graft.ColumnShim
    val dvMap = DeletionVectors.loadMap(base, refs)
    val df = rd.parquet(paths: _*)
    df.filter(!ColumnShim.column(graft.sql.DvRowDeleted(
      ColumnShim.expression(df.col("_metadata.file_path")),
      ColumnShim.expression(df.col("_metadata.row_index")),
      dvMap)))
  }

  /** Scan `paths` keeping ONLY the rows at the listed physical positions
    * (`sel`: [[graft.sql.DvRowDeleted.relPathKey]] → sorted positions) —
    * the positive twin of [[readDvFiltered]], used by [[tableChanges]] to
    * materialize exactly a deletion-vector DELTA's rows. */
  private def readDvSelected(rd: org.apache.spark.sql.DataFrameReader,
      paths: Seq[String], sel: Map[String, Array[Long]]): DataFrame = {
    import org.apache.spark.sql.graft.ColumnShim
    val df = rd.parquet(paths: _*)
    df.filter(ColumnShim.column(graft.sql.DvRowDeleted(
      ColumnShim.expression(df.col("_metadata.file_path")),
      ColumnShim.expression(df.col("_metadata.row_index")),
      sel)))
  }

  /** Newest committed version of a table (0 = no commit yet). */
  def tableVersion(layer: String, name: String): Int =
    bronzeVersions(dir(layer, name)).lastOption.getOrElse(0)

  /** Versions whose log records are retained, ascending. Every commit
    * keeps the records back to the newest checkpoint at-or-below its
    * predecessor, so a table refreshed by full snapshots holds exactly the
    * committed version and its predecessor — enough for "what did the
    * last refresh change" diffs without Delta's unbounded log. */
  def tableVersions(layer: String, name: String): Seq[Int] =
    bronzeVersions(dir(layer, name))

  /** `DESCRIBE HISTORY` parity: one row per
    * RETAINED log record — (version, timestamp, operation, record kind,
    * files added/removed by that commit). The operation name is recorded
    * by the writer in the `#op` header (Delta's `commitInfo.operation`);
    * pre-r11 records read as `UNKNOWN`. Timestamps are the record's
    * commit (file) time.
    *
    * DRIVER COST: delta records parse (O(that commit's activity));
    * CHECKPOINT records are header-peeked ONLY — their per-commit
    * add/remove counts read as NULL (Delta reports operation metrics
    * only when the commit recorded them), because deriving them would
    * materialize O(live files) entries, the very cost the header peek
    * exists to avoid. A version pruned by a concurrent commit between
    * the listing and the read is skipped, not an error. Empty DataFrame
    * for a table with no committed version. */
  def history(layer: String, name: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = dir(layer, name)
    val rows = bronzeVersions(base).flatMap { v =>
      val m = base.resolve(s"_files_v$v")
      readRecordHeader(m).flatMap { h =>
        val ts = new java.sql.Timestamp(
          h.commitTs.getOrElse(Files.getLastModifiedTime(m).toMillis))
        val op = h.op.getOrElse("UNKNOWN")
        if (h.isDelta)
          readRecord(m).map(rec => Row(v, ts, op, "delta",
            rec.adds.size.toLong: java.lang.Long,
            rec.removes.size.toLong: java.lang.Long))
        else Some(Row(v, ts, op, "checkpoint",
          null: java.lang.Long, null: java.lang.Long))
      }
    }
    val schema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("timestamp", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("record", StringType, nullable = false),
      StructField("num_added_files", LongType, nullable = true),
      StructField("num_removed_files", LongType, nullable = true)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** `DESCRIBE DETAIL` parity: ONE row of table-level metadata resolved
    * from the log manifest and directory metadata alone — NEVER a data
    * scan (on a 100 TB table this is one log read). Fields mirror Delta's
    * where the concept exists:
    *   - `format`: `file-log`, the one table format;
    *   - `version` / `last_modified`: committed version and its commit
    *     (manifest file) time;
    *   - `num_files` / `size_bytes`: live file count and Σ `__size` stats
    *     (`size_bytes` NULL if any live entry predates size stats);
    *   - `num_rows`: [[rowCount]]'s metadata-only count (Σ `__rows` minus
    *     deletion-vector cardinalities; NULL if any live file predates
    *     row stats — the caller falls back to `count()`);
    *   - `num_deletion_vectors` / `dv_cardinality`: merge-on-read debt the
    *     next OPTIMIZE purges;
    *   - `num_nodata_dirs`: append dirs from dataChange=false rewrites
    *     (what streaming readers skip).
    * A table with no committed version fails fast, naming the table. */
  def describeDetail(layer: String, name: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = dir(layer, name)
    val s = headSnapshot(layer, name)
    def jl(v: Option[Long]): java.lang.Long = v.map(Long.box).orNull
    val v = s.version
    val mtime = new java.sql.Timestamp(commitTimeMillis(base, v))
    val sizes = s.entries.map(ManifestStats.sizeOf)
    val dvs = s.entries.flatMap(ManifestStats.dvRef)
    val row = Row(layer, name, base.toString, "file-log", v: java.lang.Integer, mtime,
      s.entries.size.toLong: java.lang.Long,
      jl(if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None),
      jl(rowCount(layer, name)),
      dvs.size.toLong: java.lang.Long,
      dvs.map(_._2).sum: java.lang.Long,
      nodataDirs(layer, name).size.toLong: java.lang.Long,
      idcolsOf(base).size.toLong: java.lang.Long,
      defaultsOf(base).size.toLong: java.lang.Long,
      gencolsOf(base).size.toLong: java.lang.Long,
      txnsOf(base).size.toLong: java.lang.Long,
      jl(rowIdWmOf(base)))
    val schema = StructType(Seq(
      StructField("layer", StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("location", StringType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("version", IntegerType, nullable = true),
      StructField("last_modified", TimestampType, nullable = true),
      StructField("num_files", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = true),
      StructField("num_rows", LongType, nullable = true),
      StructField("num_deletion_vectors", LongType, nullable = true),
      StructField("dv_cardinality", LongType, nullable = true),
      StructField("num_nodata_dirs", LongType, nullable = true),
      StructField("num_identity_columns", LongType, nullable = true),
      StructField("num_column_defaults", LongType, nullable = true),
      StructField("num_generated_columns", LongType, nullable = true),
      StructField("num_txn_app_ids", LongType, nullable = true),
      StructField("row_id_watermark", LongType, nullable = true)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(Seq(row)).asJava, schema)
  }

  /** Time-travel read: the table AS OF `version`. Only versions within the
    * retention window ([[tableVersions]]) are readable; asking for a GC'd
    * or uncommitted version fails fast. */
  def tableAt(layer: String, name: String, version: Int): DataFrame = {
    val avail = tableVersions(layer, name)
    require(avail.contains(version),
      s"version $version of $layer.$name is not on disk (available: ${avail.mkString(",")})")
    val base = dir(layer, name)
    val snap = resolveSnapshot(base, version).getOrElse(throw new IllegalStateException(
      s"version $version of $layer.$name did not resolve — log chain broken"))
    // the checkpoint chain can retain MORE versions than vacuumBronze's
    // keepVersions protects data files for — fail fast with the remedy
    // instead of an opaque FileNotFoundException mid-scan. Deletion
    // vectors are part of a version's read set, so a vacuumed vector
    // fails the same way (not as a resurrected-row silent wrong read)
    val missing = (snap.entries.map(_.relPath) ++ dvRefPairs(snap.entries).map(_._2))
      .filterNot(r => Files.exists(base.resolve(r)))
    require(missing.isEmpty,
      s"version $version of $layer.$name references ${missing.size} vacuumed file(s) " +
        s"(e.g. ${missing.head}); keep vacuumBronze keepVersions >= " +
        s"bronzeCheckpointInterval ($bronzeCheckpointInterval) — or rely on its " +
        "wall-clock floor (retainMillis, default 168h: versions committed inside " +
        "the window keep their files) — for full time travel")
    readEntriesWithDv(base, snap.schema, snap.entries)
  }

  /** CHANGE DATA FEED read over the log (Delta's `table_changes`): the
    * row-level changes committed after `fromVersion` (exclusive) up to
    * `toVersion` (inclusive), as the table's columns plus `_change_type`
    * (`insert` | `delete`) and `_commit_version`. Derived purely from the
    * log's add/remove diffs and deletion-vector deltas — the engine keeps
    * no separate change journal, so the feed costs O(changed files +
    * vector deltas), never a diff of two full table reads:
    *
    *   - a file ADDED at v contributes its v-visible rows as `insert`s;
    *   - a file REMOVED at v contributes its (v−1)-visible rows as
    *     `delete`s;
    *   - a carried-over file whose deletion VECTOR grew at v contributes
    *     exactly the newly-vectored positions as `delete`s (a shrink —
    *     RESTORE re-referencing a smaller vector — re-emits those rows as
    *     `insert`s);
    *   - OPTIMIZE commits (op `OPTIMIZE*`, dataChange=false) rearrange
    *     rows without changing them and contribute NOTHING — Delta's CDF
    *     skips non-dataChange adds the same way.
    *
    * The delete+append DML model (run re-ingest, [[mergeBronze]]) reads
    * as delete+insert pairs, Delta's own shape for DV-based MERGE.
    * Requires every version in [max(fromVersion,1), toVersion] retained
    * (time travel's vacuum caveat applies to the referenced files);
    * `fromVersion = 0` reads "from the empty table" — the whole history
    * as changes, Delta's `startingVersion = 0` — and is valid exactly
    * while version 1 is retained. Rows read under `toVersion`'s schema
    * (older files null-fill later columns). */
  def tableChanges(name: String, fromVersion: Int, toVersion: Int): DataFrame = {
    val base = dir("bronze", name)
    val avail = bronzeVersions(base).toSet
    require(fromVersion < toVersion,
      s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    // fromVersion 0 = "from the empty table" (Delta's startingVersion=0):
    // version 0 has no record, it IS the empty snapshot — valid only while
    // version 1 is still retained, which the loop below checks
    (math.max(fromVersion, 1) to toVersion).foreach(v => require(avail(v),
      s"version $v of bronze.$name is not retained " +
        s"(available: ${avail.toSeq.sorted.mkString(",")})"))
    val headSchema = resolveSnapshot(base, toVersion).flatMap(_.schema)
    def dvPositions(e: ManifestStats.FileEntry): Array[Long] =
      ManifestStats.dvRef(e) match {
        case Some((dvRel, _)) => DeletionVectors.loadMap(base,
          Seq("k" -> dvRel)).getOrElse("k", Array.emptyLongArray)
        case None => Array.emptyLongArray
      }
    val frames = (fromVersion + 1 to toVersion).flatMap { v =>
      val header = readRecordHeader(base.resolve(s"_files_v$v"))
      val op = header.flatMap(_.op).getOrElse("")
      if (op.startsWith("OPTIMIZE")) Seq.empty
      else {
        def snap(at: Int) =
          if (at == 0) BronzeSnapshot(0, None, Seq.empty) // the empty table
          else resolveSnapshot(base, at).getOrElse(
            throw new IllegalStateException(
              s"version $at of bronze.$name did not resolve — log chain broken"))
        val prev = snap(v - 1)
        val cur = snap(v)
        val pm = prev.entries.map(e => e.relPath -> e).toMap
        val cm = cur.entries.map(e => e.relPath -> e).toMap
        def tag(df: DataFrame, t: String) = df
          .withColumn("_change_type", org.apache.spark.sql.functions.lit(t))
          .withColumn("_commit_version", org.apache.spark.sql.functions.lit(v))
        val added = cur.entries.filterNot(e => pm.contains(e.relPath))
        val removed = prev.entries.filterNot(e => cm.contains(e.relPath))
        // deletion-vector deltas on carried-over files: grown = deletes,
        // shrunk = re-appearing inserts
        val (delSel, insSel) = {
          val del = scala.collection.mutable.Map.empty[String, Array[Long]]
          val ins = scala.collection.mutable.Map.empty[String, Array[Long]]
          cur.entries.foreach { e =>
            pm.get(e.relPath).filter(_.render != e.render).foreach { pe =>
              val before = dvPositions(pe).toSet
              val after = dvPositions(e).toSet
              val key = graft.sql.DvRowDeleted.relPathKey(e.relPath)
              val grown = (after -- before).toArray.sorted
              val shrunk = (before -- after).toArray.sorted
              if (grown.nonEmpty) del(key) = grown
              if (shrunk.nonEmpty) ins(key) = shrunk
            }
          }
          (del.toMap, ins.toMap)
        }
        def pathsOf(keys: Set[String]) = cur.entries
          .filter(e => keys(graft.sql.DvRowDeleted.relPathKey(e.relPath)))
          .map(e => base.resolve(e.relPath).toString)
        def rdv = headSchema.fold(spark.read)(spark.read.schema)
        val inserts = Seq(
          Option.when(added.nonEmpty)(readEntriesWithDv(base, headSchema, added)),
          Option.when(insSel.nonEmpty)(
            readDvSelected(rdv, pathsOf(insSel.keySet), insSel))).flatten
        val deletes = Seq(
          Option.when(removed.nonEmpty)(readEntriesWithDv(base, headSchema, removed)),
          Option.when(delSel.nonEmpty)(
            readDvSelected(rdv, pathsOf(delSel.keySet), delSel))).flatten
        // a merge key absent from toVersion's schema (a RESTORE to a version
        // before the key column's ADD COLUMNS) — pairing would throw
        // AnalysisException on EVERY read of a range spanning this MERGE,
        // bricking cursor consumers until the version ages out. Delete +
        // insert is a valid decomposition of an update pair (Delta reads
        // degrade the same way), so fall back to plain tagging instead.
        val mkeys = header.flatMap(_.mergeKeys).getOrElse(Seq.empty)
        val mkeysResolvable = mkeys.nonEmpty &&
          (deletes ++ inserts).forall(f => mkeys.forall(f.columns.contains))
        if (op == "MERGE" && mkeysResolvable && deletes.nonEmpty && inserts.nonEmpty) {
          // Delta CDF's MERGE classification: the commit recorded its key
          // columns (#mkeys), so its delete+insert rows sharing a key pair
          // up as update_preimage/update_postimage. mergeBronze only ever
          // deletes rows whose key is in the source, so every delete row
          // of a MERGE is a preimage by construction; the insert side
          // splits by a semi-join against the delete-side keys —
          // O(matched churn), broadcastable.
          val del = deletes.reduce(_.unionByName(_))
          val ins = inserts.reduce(_.unionByName(_))
          val delKeys = del
            .select(mkeys.map(org.apache.spark.sql.functions.col): _*).distinct()
          Seq(tag(del, "update_preimage"),
            tag(ins.join(delKeys, mkeys, "left_semi"), "update_postimage"),
            tag(ins.join(delKeys, mkeys, "left_anti"), "insert"))
        } else {
          inserts.map(tag(_, "insert")) ++ deletes.map(tag(_, "delete"))
        }
      }
    }
    if (frames.nonEmpty) frames.reduce(_.unionByName(_))
    else {
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      val dataSchema = headSchema.getOrElse(table("bronze", name).schema)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(dataSchema.fields ++ Seq(
          StructField("_change_type", StringType, nullable = false),
          StructField("_commit_version", IntegerType, nullable = false))))
    }
  }

  /** Fill the head-schema columns a change frame lacks with typed NULLs —
    * exactly what a from-scratch read of the older files would see. A
    * CAPPED range's frames are self-consistent at the RANGE's head, so a
    * range ending before an ADD COLUMNS lacks the added column, and a
    * consumer referencing it would throw on every retry of the same
    * capped range — a livelock. Every change-feed tick and sink fills
    * through here. Only source columns are fillable; typed projections
    * may reference derived names, which pass through. */
  private[graft] def fillHeadColumns(source: String, changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    table("bronze", source).schema.fields
      .filterNot(f => changes.columns.contains(f.name))
      .foldLeft(changes)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  // ───── incremental CDF consumption (durable cursor) ────────────────────
  //
  // A change-feed CONSUMER keeps a cursor — the version it has consumed
  // through — as `_cursor_v{N}` marker files in its own directory (one
  // per advance, put-if-absent like the log itself, older markers pruned).
  // The loop is: [[tableChangesSince]] → process the batch, committing its
  // effect under a writer txn keyed on the versions it covers →
  // [[commitChangesCursor]]. A crash between processing and the cursor
  // commit redelivers the SAME (from, to] range, and the replayed commits
  // are txn no-ops (e.g. [[graft.streaming.Streams.changesSink]]'s
  // per-version appends), so the consumer is exactly-once end to end. The
  // cursor must stay within the table's vacuum retention window — a
  // cursor older than the earliest retained version fails fast in
  // [[tableChanges]] rather than silently skipping history; a
  // [[registerCursor]]ed cursor holds that window open.

  /** The version a change-feed cursor has consumed through (0 = nothing
    * consumed yet). */
  def changesCursor(cursorDir: Path): Int = {
    if (!Files.isDirectory(cursorDir)) return 0
    val s = Files.list(cursorDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_cursor_v"))
        .flatMap(_.stripPrefix("_cursor_v").toIntOption)
        .maxOption.getOrElse(0)
    } finally s.close()
  }

  /** The change batch committed after the cursor: `Some((changes, from,
    * to))` — [[tableChanges]] over `(from, to]` — or None when the cursor
    * is caught up with the table. A fresh cursor (version 0) delivers the
    * whole table as `insert`s first, Delta's `startingVersion=0`. */
  def tableChangesSince(name: String, cursorDir: Path,
      maxVersions: Int = Int.MaxValue): Option[(DataFrame, Int, Int)] = {
    val from = changesCursor(cursorDir)
    val to = cappedChangesTo(name, from, maxVersions)
    if (to <= from) None else Some((tableChanges(name, from, to), from, to))
  }

  /** BOUNDED CATCH-UP (Delta's maxFilesPerTrigger analog): the tick's end
    * version — a consumer resuming after a long outage caps each tick at
    * `maxVersions` commits and converges over repeated ticks, so per-tick
    * work stays O(cap), not O(outage length), and cursor-held retention
    * releases incrementally. ONE copy of the cap arithmetic, shared by
    * every consumer (tableChangesSince, Streams.changesSink). */
  private[graft] def cappedChangesTo(name: String, from: Int, maxVersions: Int): Int =
    cappedTo(committedBronzeVersion(name), from, maxVersions)

  /** The cap arithmetic with the head already in hand — for callers that
    * listed the log themselves this tick (no second directory listing). */
  private[graft] def cappedTo(head: Int, from: Int, maxVersions: Int): Int = {
    require(maxVersions >= 1, s"maxVersions must be >= 1, got $maxVersions")
    math.min(head.toLong, from.toLong + maxVersions).toInt
  }

  /** The newest committed version of a bronze table (0 = no commit yet). */
  def committedBronzeVersion(name: String): Int = tableVersion("bronze", name)

  // ───── cursor registry ─────────────────────────────────────────────────
  //
  // One marker file per registered cursor under `<root>/_stream_state/`:
  // a `cursor\t<table>\t<dir>` line (URL-encoded fields), named by the md5
  // of its content so re-registration is idempotent. Commits and vacuum
  // read the frontiers back ([[registeredCursorFrontiers]]), and a marker
  // whose cursor dir has vanished is dropped there.

  private def cursorRegistry: Path = Paths.get(root, "_stream_state")

  /** Register a change-feed CURSOR on a bronze table. A registered
    * cursor's frontier HOLDS VACUUM RETENTION on that table (every
    * version at-or-after the slowest frontier keeps its read set —
    * [[vacuumBronze]]), so maintenance can never strand a live consumer
    * into a full re-sync. Every change-feed tick and sink calls this
    * first; delete the cursor dir to release the hold when a consumer is
    * decommissioned. Idempotent. */
  def registerCursor(table: String, cursorDir: String): Unit = {
    // the registration must HOLD retention from the moment the consumer
    // exists, not from its first cursor commit: create the (empty) cursor
    // dir NOW — an empty dir reads as frontier 0 (everything retained) and
    // keeps the marker alive through the vanished-dir sweep. Without this,
    // a vacuum during a consumer's FIRST (longest) drain would both
    // unregister it and vacuum the very versions it is reading.
    Files.createDirectories(Paths.get(cursorDir))
    def enc(x: String) = java.net.URLEncoder.encode(x, java.nio.charset.StandardCharsets.UTF_8)
    val line = s"cursor\t${enc(table)}\t${enc(cursorDir)}"
    Files.createDirectories(cursorRegistry)
    val name = java.security.MessageDigest.getInstance("MD5")
      .digest(line.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val p = cursorRegistry.resolve(s"$name.state")
    if (!Files.exists(p))
      Files.write(p, line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Frontiers of REGISTERED change-feed cursors on a bronze table
    * ([[registerCursor]]). A marker whose cursor dir vanished, or that is
    * not a cursor line, is deleted — a decommissioned consumer holds
    * nothing. */
  private def registeredCursorFrontiers(base: Path): Seq[Int] = {
    if (!isBronze(base) || !Files.isDirectory(cursorRegistry)) return Seq.empty
    val name = base.getFileName.toString
    val s = Files.list(cursorRegistry)
    val markers = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".state")).toSeq
    } finally s.close()
    def dec(x: String) =
      java.net.URLDecoder.decode(x, java.nio.charset.StandardCharsets.UTF_8)
    markers.flatMap { m =>
      val line = try new String(Files.readAllBytes(m), java.nio.charset.StandardCharsets.UTF_8)
        catch { case _: java.nio.file.NoSuchFileException => "" } // swept concurrently
      line.trim.split('\t').map(dec) match {
        case Array("cursor", t, d) if Files.isDirectory(Paths.get(d)) =>
          if (t == name) Some(changesCursor(Paths.get(d))) else None
        case _ =>
          Files.deleteIfExists(m) // vanished cursor dir or malformed
          None
      }
    }
  }

  /** Advance a change-feed cursor to `toVersion` — atomic (put-if-absent
    * marker; a concurrent consumer landing the same frontier is a no-op),
    * monotonic (rewinding would re-deliver consumed changes as if new),
    * and self-pruning (superseded markers are removed). */
  def commitChangesCursor(cursorDir: Path, toVersion: Int): Unit = {
    Files.createDirectories(cursorDir)
    val cur = changesCursor(cursorDir)
    require(toVersion >= cur,
      s"cursor at $cursorDir is already at $cur; rewinding to $toVersion would " +
        "re-deliver consumed changes — use a fresh cursor directory to re-read")
    if (toVersion == cur) return
    val tmp = cursorDir.resolve(
      s".cursor_${toVersion}_${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    Files.write(tmp, Array.emptyByteArray)
    try Files.createLink(cursorDir.resolve(s"_cursor_v$toVersion"), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException => }
    Files.delete(tmp)
    val top = changesCursor(cursorDir)
    val s = Files.list(cursorDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.startsWith("_cursor_v") &&
          p.getFileName.toString.stripPrefix("_cursor_v").toIntOption.exists(_ < top))
        .foreach(Files.deleteIfExists(_))
    } finally s.close()
  }

  // ───── transaction log (every layer) ──────────────────────────────────
  //
  // The log tracks live FILES across immutable `_a{N}_{uid}` append
  // directories: a full refresh commits one new dir, an append commits
  // O(new files), a predicate delete rewrites only the files that contain
  // matching rows (Delta's copy-on-write `add`/`remove` shape). The COMMIT is
  // put-if-absent creation of the `_files_v{N}` manifest itself — a
  // fully-written tmp hard-LINKED into place (`Files.createLink` is
  // atomic and fails if the name exists), which is exactly Delta's
  // log-entry CAS on a filesystem: of any number of CONCURRENT writers
  // racing for version N, exactly one wins; losers re-read the winning
  // manifest and retry on N+1 folding the winner's files in (blind
  // appends never conflict — their already-written data dir is reused
  // verbatim). A crash anywhere before the link leaves the previous
  // committed version live, never a half-appended table.
  //
  // Each manifest line carries per-file min/max stats ([[ManifestStats]])
  // for file-level data skipping; `snapshot_date` lives as a DATA column
  // (stats replace hive directory partitioning, the
  // Delta-without-partitioning layout), so pruning by snapshot range goes
  // through [[tableWhere]]. Unreferenced bronze data files are reclaimed
  // by the EXPLICIT [[vacuumBronze]] (Delta VACUUM semantics: run it
  // quiesced or with enough retained versions); commits prune history
  // manifests below the retention window, which is always safe, and a
  // non-bronze commit also drops the committed dirs no retained version
  // references ([[dropUnreferencedDirs]] — never an in-flight writer's).
  //
  // COMMIT SCALING (Delta's log-entry + checkpoint design): a routine
  // commit writes a DELTA record — only the file entries it adds and the
  // relPaths it removes — so an append's commit is O(new files) no matter
  // how many millions of files are live. Every
  // [[bronzeCheckpointInterval]]-th version (and any full rewrite, e.g.
  // compaction) writes a full-snapshot CHECKPOINT, which bounds both the
  // resolve chain ([[resolveSnapshot]] walks back to the nearest
  // checkpoint) and the retained record count to one interval. Pre-delta
  // manifests are plain checkpoints, so round-1..8 logs read unchanged.

  private val appendDir = "_a.*".r
  private val filesHistory = "_files_v(\\d+)".r

  private def bronzeVersions(base: Path): Seq[Int] =
    if (!Files.exists(base)) Seq.empty
    else listDir(base).collect {
      case p if filesHistory.pattern.matcher(p.getFileName.toString).matches() =>
        p.getFileName.toString.stripPrefix("_files_v").toInt
    }.sorted.toSeq

  /** One committed bronze version: number, the TABLE SCHEMA AS OF that
    * version (tracked in the log, Delta-style — reads never merge parquet
    * footers, and widening appends evolve it), and the live file entries. */
  private final case class BronzeSnapshot(version: Int,
      schema: Option[org.apache.spark.sql.types.StructType],
      entries: Seq[ManifestStats.FileEntry])

  /** One log record as WRITTEN: either a full snapshot (checkpoint — every
    * live file) or a delta (only the files this commit added/removed,
    * Delta's incremental log-entry shape). The schema line is always the
    * table schema AS OF this version. */
  private final case class LogRecord(version: Int, isDelta: Boolean,
      schema: Option[org.apache.spark.sql.types.StructType],
      adds: Seq[ManifestStats.FileEntry], removes: Seq[String])

  private def readFilesManifest(base: Path): Option[BronzeSnapshot] =
    bronzeVersions(base).lastOption.flatMap(v => resolveSnapshot(base, v))

  private val SchemaLine = "#schema\t(.*)".r
  private val RemoveLine = "#rm\t(.*)".r
  private val CkptLine = "#ckpt\t(.*)".r
  private val DirsLine = "#dirs\t(.*)".r
  private val NoDataDirsLine = "#nddirs\t(.*)".r
  private val OpLine = "#op\t(.*)".r
  private val ConstraintsLine = "#constraints\t(.*)".r
  private val TxnLine = "#txn\t(.*)".r
  private val FeaturesLine = "#features\t(.*)".r
  private val CommitTsLine = "#cts\t(\\d+)".r
  private val GenColsLine = "#gencols\t(.*)".r
  private val IdColsLine = "#idcols\t(.*)".r
  private val DefaultsLine = "#defaults\t(.*)".r
  private val RowIdWmLine = "#rowidwm\t(-?\\d+)".r
  private val MergeKeysLine = "#mkeys\t(.*)".r

  /** The `#schema` line's text: Spark DDL when it round-trips exactly
    * (about a quarter of the JSON's bytes, and the line rides every
    * retained record of every table), compact JSON otherwise — both are
    * single-line and tab-free. */
  private def schemaText(st: org.apache.spark.sql.types.StructType): String = {
    val ddl = st.toDDL
    val exact = ddl.nonEmpty && !ddl.exists(c => c == '\n' || c == '\t') &&
      scala.util.Try(parseSchema(ddl)).toOption.contains(st)
    if (exact) ddl else st.json
  }

  /** Parsed `#schema` texts: one parse per distinct schema, not one per
    * header peek. URL-encoded JSON ('%' first) is the encoding earlier
    * records carry; bronze logs written with it stay readable. */
  private val parsedSchemas =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  private def parseSchema(text: String): org.apache.spark.sql.types.StructType =
    parsedSchemas.getOrElseUpdate(text, text.head match {
      case '{' => org.apache.spark.sql.types.DataType.fromJson(text)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      case '%' => org.apache.spark.sql.types.DataType.fromJson(
          java.net.URLDecoder.decode(text, java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      case _ => org.apache.spark.sql.types.StructType.fromDDL(text)
    })

  /** Header-only peek at a log record — version, delta/checkpoint kind, and
    * the parquet-twin reference — WITHOUT parsing the entry lines. The
    * distributed resolve ([[resolvePrunedDistributed]]) needs exactly this:
    * parsing a 1M-entry checkpoint's lines into driver objects is the very
    * cost it exists to avoid. */
  private final case class RecordHeader(version: Int, isDelta: Boolean,
      ckptDir: Option[String], schema: Option[org.apache.spark.sql.types.StructType],
      addDirs: Seq[String] = Seq.empty, op: Option[String] = None,
      noDataDirs: Seq[String] = Seq.empty,
      // idempotent-writer transactions: appId → newest applied version
      // (Delta's SetTransaction action). None = no line.
      txns: Option[Map[String, Long]] = None,
      // reader features this record REQUIRES (Delta's readerFeatures):
      // a reader missing one must fail fast, never misread. Empty = the
      // base format suffices.
      features: Seq[String] = Seq.empty,
      // IN-COMMIT timestamp (Delta's inCommitTimestamps writer feature):
      // the commit instant recorded INSIDE the record, monotonic across
      // versions — survives file copies where mtimes do not.
      // None = pre-feature record (readers fall back to the mtime).
      commitTs: Option[Long] = None,
      // generated columns: column → generation expression SQL (Delta's
      // GENERATED ALWAYS AS). Re-emitted per commit, newest-record
      // resolution. None = no line (empty set).
      genCols: Option[Seq[(String, String)]] = None,
      // identity columns (Delta GENERATED ALWAYS AS IDENTITY): declaration
      // + allocation high watermark. None = no line; Some(Nil) = explicit
      // drop-to-zero marker (RESTORE to a pre-identity version must
      // override lower re-emitted lines).
      idCols: Option[Seq[Lakehouse.IdentityCol]] = None,
      // column DEFAULT values: column → default expression SQL (column-free,
      // filled when a writer omits the column). Same marker discipline.
      defaults: Option[Seq[(String, String)]] = None,
      // row-tracking high watermark (Delta rowTracking): total logical row
      // ids ever assigned. Presence of the line = the feature is ENABLED;
      // commits re-emit it (newest-record resolution, the txns discipline).
      rowIdWm: Option[Long] = None,
      // MERGE key columns — a PER-COMMIT attribute (like #op, never
      // re-emitted): lets the change feed pair the commit's delete+insert
      // rows into update_preimage/update_postimage (Delta CDF's MERGE).
      mergeKeys: Option[Seq[String]] = None)

  private def readRecordHeader(m: Path): Option[RecordHeader] =
    if (!Files.exists(m)) None
    else {
      logIo.headerReads.incrementAndGet()
      val in = Files.newBufferedReader(m, java.nio.charset.StandardCharsets.UTF_8)
      try {
        val version = in.readLine().trim.toInt
        var isDelta = false
        var ckpt: Option[String] = None
        var schema: Option[org.apache.spark.sql.types.StructType] = None
        var addDirs: Seq[String] = Seq.empty
        var op: Option[String] = None
        var noDataDirs: Seq[String] = Seq.empty
        var txns: Option[Map[String, Long]] = None
        var features: Seq[String] = Seq.empty
        var commitTs: Option[Long] = None
        var genCols: Option[Seq[(String, String)]] = None
        var idCols: Option[Seq[Lakehouse.IdentityCol]] = None
        var defaults: Option[Seq[(String, String)]] = None
        var rowIdWm: Option[Long] = None
        var mergeKeys: Option[Seq[String]] = None
        var line = in.readLine()
        // header lines all start with '#' and precede the entry lines
        // (#rm lines of a delta are skipped — this peek never needs them)
        while (line != null && line.startsWith("#")) {
          line match {
            case "#delta" => isDelta = true
            case CkptLine(enc) => ckpt = Some(
              java.net.URLDecoder.decode(enc, java.nio.charset.StandardCharsets.UTF_8))
            case NoDataDirsLine(enc) => noDataDirs = enc.split(',').toSeq.filter(_.nonEmpty)
              .map(java.net.URLDecoder.decode(_, java.nio.charset.StandardCharsets.UTF_8))
            case DirsLine(enc) => addDirs = enc.split(',').toSeq.filter(_.nonEmpty)
              .map(java.net.URLDecoder.decode(_, java.nio.charset.StandardCharsets.UTF_8))
            case OpLine(enc) => op = Some(
              java.net.URLDecoder.decode(enc, java.nio.charset.StandardCharsets.UTF_8))
            case ConstraintsLine(enc) => requireNoConstraints(m.getFileName.toString, enc)
            case TxnLine(enc) => txns = Some(
              enc.split(',').toSeq.filter(_.nonEmpty).map { pair =>
                val Array(a, v) = pair.split(":", 2)
                java.net.URLDecoder.decode(a, java.nio.charset.StandardCharsets.UTF_8) ->
                  v.toLong
              }.toMap)
            case FeaturesLine(enc) => // union across lines: requirements only add
              features = (features ++ enc.split(',').toSeq.filter(_.nonEmpty)).distinct
            case CommitTsLine(ms) => commitTs = Some(ms.toLong)
            case GenColsLine(enc) => genCols = Some(
              enc.split(',').toSeq.filter(_.nonEmpty).map { pair =>
                val Array(n, e) = pair.split(":", 2)
                (java.net.URLDecoder.decode(n, java.nio.charset.StandardCharsets.UTF_8),
                  java.net.URLDecoder.decode(e, java.nio.charset.StandardCharsets.UTF_8))
              })
            case IdColsLine(enc) => idCols = Some(
              enc.split(',').toSeq.filter(_.nonEmpty).map { quad =>
                val Array(n, st, sp, wm) = quad.split(":", 4)
                Lakehouse.IdentityCol(
                  java.net.URLDecoder.decode(n, java.nio.charset.StandardCharsets.UTF_8),
                  st.toLong, sp.toLong,
                  if (wm.isEmpty) None else Some(wm.toLong))
              })
            case DefaultsLine(enc) => defaults = Some(
              enc.split(',').toSeq.filter(_.nonEmpty).map { pair =>
                val Array(n, e) = pair.split(":", 2)
                (java.net.URLDecoder.decode(n, java.nio.charset.StandardCharsets.UTF_8),
                  java.net.URLDecoder.decode(e, java.nio.charset.StandardCharsets.UTF_8))
              })
            case RowIdWmLine(w) => rowIdWm = Some(w.toLong)
            case MergeKeysLine(enc) => mergeKeys = Some(
              enc.split(',').toSeq.filter(_.nonEmpty)
                .map(java.net.URLDecoder.decode(_, java.nio.charset.StandardCharsets.UTF_8)))
            case SchemaLine(text) => schema = Some(parseSchema(text))
            case _ =>
          }
          line = in.readLine()
        }
        Some(RecordHeader(version, isDelta, ckpt, schema, addDirs, op, noDataDirs,
          txns, features, commitTs, genCols, idCols, defaults, rowIdWm, mergeKeys))
      } finally in.close()
    }

  /** Every append-dir name EVER committed, as far as the retained log
    * records — live, or committed and its rows deleted since (the live
    * relPath set alone cannot tell the two apart). [[dropUnreferencedDirs]]
    * reads its retention candidates here, and [[deleteStagedIfUncommitted]]
    * never removes a dir in it. Resolved like a snapshot: union the
    * `#dirs` header of records newest→oldest until a checkpoint, whose
    * `#dirs` line is CUMULATIVE (deltas carry only their own new dirs,
    * keeping delta commits O(new files)). Checkpoints prune the cumulative
    * set to dirs still on disk, so the set stays bounded by dirs-on-disk.
    * Pre-`#dirs` records contribute nothing. */
  private def committedDirNames(base: Path): Set[String] = {
    val acc = scala.collection.mutable.Set.empty[String]
    val it = bronzeVersions(base).reverseIterator
    var done = false
    while (it.hasNext && !done) {
      readRecordHeader(base.resolve(s"_files_v${it.next()}")).foreach { h =>
        acc ++= h.addDirs
        if (!h.isDelta) done = true
      }
    }
    acc.toSet
  }

  /** Append-dir names whose files were added by dataChange=false commits
    * (OPTIMIZE / OPTIMIZE ZORDER — rewrites that rearrange existing rows
    * without adding data, Delta's `add.dataChange = false`). Resolved like
    * [[committedDirNames]]: union the `#nddirs` header newest→oldest until
    * a checkpoint (whose `#nddirs` is CUMULATIVE, pruned to dirs still on
    * disk). Dir-level attribution is exact because every commit writes
    * into its own fresh uid'd append dir — a dir never mixes data-bearing
    * and repack files. */
  private def nodataDirNames(base: Path): Set[String] = {
    val acc = scala.collection.mutable.Set.empty[String]
    val it = bronzeVersions(base).reverseIterator
    var done = false
    while (it.hasNext && !done) {
      readRecordHeader(base.resolve(s"_files_v${it.next()}")).foreach { h =>
        acc ++= h.noDataDirs
        if (!h.isDelta) done = true
      }
    }
    acc.toSet
  }

  /** PUBLIC face of [[nodataDirNames]] — the set a file-stream consumer of
    * the table's `_a*` append dirs must skip: files under these dirs are committed
    * but carry no new rows (an OPTIMIZE repack of rows the stream already
    * delivered). Delta's streaming source skips `dataChange = false` adds
    * for exactly this reason; without the skip every maintenance pass
    * re-delivers the packed rows to every file stream (full re-delivery
    * cost for idempotent sinks, duplicate rows for non-idempotent ones).
    * Empty for non-log-managed tables. */
  def nodataDirs(layer: String, name: String): Set[String] =
    nodataDirNames(dir(layer, name))

  /** The log schema as of the LATEST version, via header peeks only (every
    * commit writes its schema line, so this terminates at the newest
    * record in practice) — never materializes a snapshot's entries. */
  private def logSchemaLight(base: Path): Option[org.apache.spark.sql.types.StructType] = {
    val vs = bronzeVersions(base)
    vs.reverseIterator
      .flatMap(v => readRecordHeader(base.resolve(s"_files_v$v")).flatMap(_.schema))
      .nextOption()
  }

  private def readRecord(m: Path): Option[LogRecord] =
    if (!Files.exists(m)) None
    else {
      logIo.recordReads.incrementAndGet()
      val lines = new String(Files.readAllBytes(m), java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.toSeq
      // protocol gate (Delta readerFeatures): refuse to interpret a record
      // declaring a feature this build lacks — checked HERE, on the bytes
      // already in hand, so the gate costs zero extra file opens on the
      // snapshot-resolve hot path
      lines.tail.iterator.takeWhile(_.startsWith("#")).foreach {
        case FeaturesLine(enc) =>
          requireFeatureSupport(m.getFileName.toString,
            enc.split(',').toSeq.filter(_.nonEmpty))
        case ConstraintsLine(enc) => requireNoConstraints(m.getFileName.toString, enc)
        case _ =>
      }
      val schema = lines.tail.collectFirst { case SchemaLine(text) => parseSchema(text) }
      val removes = lines.tail.collect { case RemoveLine(enc) =>
        java.net.URLDecoder.decode(enc, java.nio.charset.StandardCharsets.UTF_8) }
      Some(LogRecord(lines.head.trim.toInt, lines.tail.contains("#delta"), schema,
        lines.tail.filter(l => l.nonEmpty && !l.startsWith("#"))
          .map(ManifestStats.parseLine), removes))
    }

  /** The LIVE STATE as of `version`: a checkpoint record is the state; a
    * delta record applies its add/remove entries on top of the resolved
    * predecessor. Pruning keeps every record back to the newest checkpoint
    * at-or-below the retention floor, so the chain is always intact —
    * resolve cost is O(records since last checkpoint), bounded by the
    * checkpoint cadence, never by table history. */
  private def resolveSnapshot(base: Path, version: Int): Option[BronzeSnapshot] = {
    // the reader-feature protocol gate rides [[readRecord]] itself (zero
    // extra file opens on this hot path)
    readRecord(base.resolve(s"_files_v$version")).map { rec =>
      if (!rec.isDelta) BronzeSnapshot(version, rec.schema, rec.adds)
      else {
        val parent = resolveSnapshot(base, version - 1).getOrElse(throw new IllegalStateException(
          s"delta record _files_v$version has no resolvable parent — log chain broken at $base"))
        val removed = rec.removes.toSet
        BronzeSnapshot(version, rec.schema.orElse(parent.schema),
          parent.entries.filterNot(e => removed(e.relPath)) ++ rec.adds)
      }
    }
  }

  /** Widen `existing` with any columns `incoming` adds (appended in
    * incoming order); same-name columns must keep their type — schema
    * evolution here is ADD COLUMNS only, the Delta default. */
  private def mergedSchema(existing: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val have = existing.fieldNames.toSet
    incoming.fields.filter(f => have(f.name)).foreach { f =>
      require(existing(f.name).dataType == f.dataType,
        s"column ${f.name}: incompatible type ${f.dataType} vs ${existing(f.name).dataType} " +
          "(bronze schema evolution is ADD COLUMNS only)")
    }
    org.apache.spark.sql.types.StructType(
      existing.fields ++ incoming.fields.filterNot(f => have(f.name)))
  }

  /** Write a checkpoint's PARQUET TWIN — the same entries as the text
    * record, one row per live file with TYPED per-column min/max stats —
    * so stats-pruned scans ([[tableWhere]]) can resolve through a
    * DISTRIBUTED filter with predicate pushdown instead of materializing
    * every live entry on the driver (Delta reads its checkpoint parquet
    * the same way, for the same reason). Written BEFORE the commit CAS and
    * referenced by a `#ckpt` header line; a CAS loser deletes its twin.
    * Column layout: `relPath` + (`__min__c`, `__max__c`) per stats column,
    * typed from the stats tag ('l'→LONG — dates as epoch-day, timestamps
    * as epoch-micros; 'f'→DOUBLE; 's'→STRING, binary-collated like the
    * text compare; 'b'→INT 0/1); files without stats for a column carry
    * NULLs, which the probe keeps (null = "can't prune"). Returns the twin
    * dir name. */
  private def writeCheckpointParquet(base: Path, version: Int,
      entries: Seq[ManifestStats.FileEntry]): String = {
    import org.apache.spark.sql.types._
    // a column participates only when every file that records it agrees on
    // the tag — a mixed-tag column can't be typed, so it's left to the
    // conservative keep-all rule
    val tags = entries.iterator.flatMap(_.stats.iterator.map { case (c, s) => c -> s.tag })
      .foldLeft(Map.empty[String, Char]) { case (acc, (c, t)) => acc.get(c) match {
        case None => acc + (c -> t)
        case Some(x) if x == t => acc
        case _ => acc + (c -> '!')
      } }.filter(_._2 != '!').toSeq.sortBy(_._1)
    def dec(t: Char, v: String): Any = t match {
      case 'l' => v.toLong
      case 'f' => v.toDouble
      case 'b' => if (v == "1") 1 else 0
      case _ => v
    }
    val schema = StructType(StructField("relPath", StringType, nullable = false) +:
      tags.flatMap { case (c, t) =>
        Seq(StructField(s"__min__$c", Lakehouse.tagType(t)),
          StructField(s"__max__$c", Lakehouse.tagType(t)))
      })
    val rows: java.util.List[org.apache.spark.sql.Row] = {
      val l = new java.util.ArrayList[org.apache.spark.sql.Row](entries.size)
      entries.foreach { e =>
        l.add(org.apache.spark.sql.Row.fromSeq(
          e.relPath +: tags.flatMap { case (c, t) => e.stats.get(c) match {
            case Some(s) if s.tag == t => Seq(dec(t, s.min), dec(t, s.max))
            case _ => Seq(null, null)
          } }))
      }
      l
    }
    val name = s"_ckpt_v${version}_${java.util.UUID.randomUUID.toString.take(8)}"
    spark.createDataFrame(rows, schema).repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(base.resolve(name).toString)
    name
  }

  /** Attempt to commit the transition `prev → entries` as `_files_v{version}`
    * by put-if-absent: the fully-written tmp is hard-linked to the versioned
    * name — atomic, and it FAILS if another writer claimed the version
    * first. Returns whether THIS writer won.
    *
    * RECORD SHAPE — the commit-scaling design (Delta's incremental log
    * entries + periodic checkpoints): when the predecessor state `prev` is
    * known, the record is a DELTA carrying only this commit's added entries
    * and removed relPaths, so a blind append's commit costs O(new files)
    * regardless of table size. Every [[bronzeCheckpointInterval]]-th
    * version — and any commit whose delta would not be smaller (a full
    * rewrite) or whose predecessor is unknown — writes a full-snapshot
    * CHECKPOINT instead, which (a) bounds resolve cost to O(records since
    * the last checkpoint) and (b) lets pruning drop everything below the
    * newest checkpoint at-or-below the retention floor (`version - 1`,
    * keeping the predecessor readable for in-flight readers — metadata
    * only, always safe). */
  private def commitFilesManifest(base: Path, version: Int,
      schema: Option[org.apache.spark.sql.types.StructType],
      entries: Seq[ManifestStats.FileEntry],
      prev: Option[Seq[ManifestStats.FileEntry]] = None,
      op: String = "WRITE",
      dataChange: Boolean = true,
      txns: Option[Map[String, Long]] = None,
      genCols: Option[Seq[(String, String)]] = None,
      idCols: Option[Seq[Lakehouse.IdentityCol]] = None,
      defaults: Option[Seq[(String, String)]] = None,
      rowIdWm: Option[Long] = None,
      mergeKeys: Option[Seq[String]] = None): Boolean = {
    def enc(s: String) =
      java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
    // ONE header peek at the newest retained record serves every re-emit
    // fallback below and the in-commit-timestamp monotonicity clamp
    val newestHeader = bronzeVersions(base).filter(_ < version).lastOption
      .flatMap(v => readRecordHeader(base.resolve(s"_files_v$v")).map(v -> _))
    // idempotent-writer txns persist like schema: every commit RE-EMITS
    // the current map while one exists, so the newest retained record
    // always carries the truth and log pruning can never lose it
    val effTxns = txns.orElse(newestHeader.flatMap(_._2.txns).filter(_.nonEmpty))
    val txnLine = effTxns.filter(_.nonEmpty).toSeq.map(m =>
      "#txn\t" + m.toSeq.sortBy(_._1).map { case (a, v) =>
        enc(a) + ":" + v.toString }.mkString(","))
    // generated columns re-emit on the same newest-record discipline
    val effGen = genCols.orElse(newestHeader.flatMap(_._2.genCols).filter(_.nonEmpty))
    val genLine = effGen.filter(_.nonEmpty).toSeq.map(gs =>
      "#gencols\t" + gs.map { case (n, e) => enc(n) + ":" + enc(e) }.mkString(","))
    // identity columns and column defaults re-emit the same way; an
    // explicit Some(Nil) marker is written so a RESTORE to a
    // pre-declaration version overrides re-emitted lines below it
    val effId = idCols.orElse(newestHeader.flatMap(_._2.idCols).filter(_.nonEmpty))
    val idLine = effId.toSeq.map(ids =>
      "#idcols\t" + ids.map(ic => enc(ic.col) + ":" + ic.start + ":" + ic.step +
        ":" + ic.highWatermark.map(_.toString).getOrElse("")).mkString(","))
    val effDefaults = defaults.orElse(newestHeader.flatMap(_._2.defaults).filter(_.nonEmpty))
    val defaultsLine = effDefaults.toSeq.map(ds =>
      "#defaults\t" + ds.map { case (n, e) => enc(n) + ":" + enc(e) }.mkString(","))
    // ROW TRACKING (Delta rowTracking): when enabled (the newest record
    // carries `#rowidwm`), every FRESH entry gets its base row id assigned
    // HERE, inside the commit CAS — pure metadata, atomic with the commit,
    // so no reservation protocol is needed (contrast identity columns,
    // whose values live in file bytes and must be reserved before staging).
    // Entries already carrying a base — surviving files, restored file
    // sets, rewrite outputs marked PhysicalRowIds — pass through unchanged,
    // so logical row ids are stable by construction.
    val effRowWm0 = rowIdWm.orElse(newestHeader.flatMap(_._2.rowIdWm))
    val (entriesB, effRowWm) = effRowWm0 match {
      case None => (entries, None)
      case Some(wm0) =>
        var wm = wm0
        val out = entries.map { e =>
          if (e.stats.contains(ManifestStats.RowBaseCol)) e
          else {
            val n = ManifestStats.rowsOf(e).getOrElse(throw new IllegalStateException(
              s"row tracking needs per-file __rows for ${e.relPath} — " +
                "compact the table (stats recollect on rewrite) first"))
            val b = wm; wm += n
            ManifestStats.withRowBase(e, b)
          }
        }
        (out, Some(wm))
    }
    val rowWmLine = effRowWm.toSeq.map(w => "#rowidwm\t" + w)
    // per-commit attribute, deliberately NOT re-emitted (it describes THIS
    // commit's operation, not table state)
    val mkeysLine = mergeKeys.filter(_.nonEmpty).toSeq.map(ks =>
      "#mkeys\t" + ks.map(enc).mkString(","))
    // reader-feature gate (Delta readerFeatures): declare the features a
    // reader MUST understand to interpret this record's state correctly —
    // deletion vectors (an entry with a dv ref is NOT "all its rows"). A
    // reader that does not know a declared feature fails fast instead of
    // silently misreading ([[requireReaderFeatures]]).
    val featuresLine =
      if (entriesB.exists(e => ManifestStats.dvRef(e).isDefined)) Seq("#features\tdv")
      else Seq.empty
    // in-commit timestamp (Delta inCommitTimestamps): the commit instant
    // rides the record itself, clamped STRICTLY ABOVE the predecessor's so
    // the sequence is monotonic even under clock skew — history, detail
    // and the vacuum floor read this instead of the mtime, which a copy or
    // restore-from-backup would silently rewrite
    val ctsLine = Seq("#cts\t" + (newestHeader match {
      case Some((pv, h)) => math.max(System.currentTimeMillis(),
        h.commitTs.getOrElse(
          Files.getLastModifiedTime(base.resolve(s"_files_v$pv")).toMillis) + 1)
      case None => System.currentTimeMillis()
    }))
    val schemaLine = (("#op\t" + enc(op)) +:
      schema.toSeq.map(st => "#schema\t" + schemaText(st))) ++
      txnLine ++ genLine ++ idLine ++
      defaultsLine ++ rowWmLine ++ mkeysLine ++ featuresLine ++ ctsLine
    val delta = prev.map { p =>
      // diff on the full RENDERED entry, not the relPath alone: a commit
      // that only changes a file's metadata (e.g. its deletion-vector
      // reference) keeps the relPath but must still land as remove+re-add
      // — resolveSnapshot applies removes before adds, so the pair
      // replaces the entry in place
      val prevRender = p.map(e => e.relPath -> e.render).toMap
      val newPaths = entriesB.map(_.relPath).toSet
      val changed = entriesB.filter(e =>
        prevRender.get(e.relPath).exists(_ != e.render)).map(_.relPath).toSet
      (entriesB.filterNot(e => prevRender.get(e.relPath).contains(e.render)),
        p.map(_.relPath).filter(r => !newPaths(r) || changed(r)))
    }
    val asDelta = delta.exists { case (adds, removes) =>
      version % bronzeCheckpointInterval != 0 &&
        adds.size + removes.size < entriesB.size }
    // large checkpoints get a parquet twin for the distributed stats-pruned
    // resolve; tiny tables skip it (a Spark job per commit would dominate,
    // and a driver-side scan of a small entry list is already O(small))
    val ckptDirName: Option[String] =
      if (!asDelta && entriesB.size >= Lakehouse.CheckpointParquetMinEntries)
        Some(writeCheckpointParquet(base, version, entriesB))
      else None
    val ckptLine = ckptDirName.toSeq.map(d => "#ckpt\t" +
      java.net.URLEncoder.encode(d, java.nio.charset.StandardCharsets.UTF_8))
    // committed-dir tracking (see [[committedDirNames]]): a delta's #dirs
    // line carries only the dirs of ITS adds; a checkpoint's is cumulative
    // (prior history ∪ this state's dirs), pruned to dirs still on disk
    def dirOf(rel: String): String = rel.takeWhile(_ != '/')
    val dirsOfRecord: Seq[String] =
      if (asDelta) delta.get._1.map(e => dirOf(e.relPath)).distinct
      else (committedDirNames(base) ++ entriesB.map(e => dirOf(e.relPath)))
        .toSeq.distinct.filter(d => Files.isDirectory(base.resolve(d)))
    val dirsLine = if (dirsOfRecord.isEmpty) Seq.empty else Seq("#dirs\t" +
      dirsOfRecord.map(java.net.URLEncoder.encode(_,
        java.nio.charset.StandardCharsets.UTF_8)).mkString(","))
    // dataChange=false attribution (see [[nodataDirNames]]): a delta's
    // #nddirs line carries the dirs of ITS adds when this commit is a
    // repack; a checkpoint's is cumulative (prior nodata set ∪ this
    // commit's, when applicable), pruned to dirs still on disk — the same
    // scaling discipline as #dirs
    val myNoDataDirs: Seq[String] =
      if (dataChange) Seq.empty
      else delta.map(_._1.map(e => dirOf(e.relPath)).distinct)
        .getOrElse(entriesB.map(e => dirOf(e.relPath)).distinct)
    val ndDirsOfRecord: Seq[String] =
      if (asDelta) myNoDataDirs
      else (nodataDirNames(base) ++ myNoDataDirs)
        .toSeq.distinct.filter(d => Files.isDirectory(base.resolve(d)))
    val ndLine = if (ndDirsOfRecord.isEmpty) Seq.empty else Seq("#nddirs\t" +
      ndDirsOfRecord.map(java.net.URLEncoder.encode(_,
        java.nio.charset.StandardCharsets.UTF_8)).mkString(","))
    val body = (delta match {
      case Some((adds, removes)) if asDelta =>
        (version.toString +: "#delta" +: (schemaLine ++ dirsLine ++ ndLine)) ++
          removes.map(r => "#rm\t" +
            java.net.URLEncoder.encode(r, java.nio.charset.StandardCharsets.UTF_8)) ++
          adds.map(_.render)
      case _ => (version.toString +: (schemaLine ++ ckptLine ++ dirsLine ++ ndLine)) ++
        entriesB.map(_.render)
    }).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tmp = base.resolve(s".manifest_${version}_${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    Files.write(tmp, body)
    // put-if-absent alone is no CAS here: retention deletes old records, so
    // a writer whose snapshot fell behind the floor finds its target slot
    // free again and would "win" a version below the head — its commit never
    // read, an identity range it reserved issued twice. A target at or below
    // a listed record has lost.
    val won = !bronzeVersions(base).exists(_ >= version) &&
      (try { Files.createLink(base.resolve(s"_files_v$version"), tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false })
    Files.delete(tmp)
    if (won) {
      // retention floor: the predecessor stays readable, so keep every
      // record back to the newest CHECKPOINT at-or-below version - 1
      // (deltas below it depend on their own parents; a checkpoint cuts
      // the chain). Bounded work: at most one checkpoint interval of
      // records is ever on disk above the floor. A REGISTERED change-feed
      // cursor lowers the floor to the newest checkpoint at-or-below its
      // frontier (tableChanges resolves snapshots from the frontier on);
      // a frontier below every checkpoint prunes nothing. No registry →
      // one existence check, zero cost.
      def newestCkptAtOrBelow(cap: Int): Option[Int] =
        bronzeVersions(base).filter(v => v <= cap &&
          readRecord(base.resolve(s"_files_v$v")).exists(!_.isDelta)).maxOption
      val cursorMin = registeredCursorFrontiers(base).minOption
      val floor = cursorMin match {
        case Some(c) if c < version - 1 =>
          newestCkptAtOrBelow(math.max(c, 1)).getOrElse(Int.MinValue)
        case _ => newestCkptAtOrBelow(version - 1).getOrElse(version)
      }
      bronzeVersions(base).filter(_ < floor).foreach { k =>
        val rec = base.resolve(s"_files_v$k")
        // a pruned checkpoint's parquet twin goes with it (metadata only)
        readRecordHeader(rec).flatMap(_.ckptDir)
          .foreach(d => deleteRecursively(base.resolve(d)))
        Files.deleteIfExists(rec)
      }
      if (!isBronze(base)) dropUnreferencedDirs(base, version)
    } else {
      // CAS loser: our never-referenced twin is debris — remove it now
      ckptDirName.foreach(d => deleteRecursively(base.resolve(d)))
    }
    won
  }

  /** Whether `base` is a bronze table dir: the layer whose unreferenced
    * files wait for the explicit [[vacuumBronze]] and whose change feed
    * registered cursors read. */
  private def isBronze(base: Path): Boolean =
    base.getParent == Paths.get(root, physicalSchema("bronze"))

  /** Retention outside bronze, run by a commit of `version` that WON:
    * delete every committed append dir (`#dirs`, see
    * [[committedDirNames]]) that no retained record references —
    * retained is this version, its predecessor and any later commit. The
    * candidates are read BEFORE the retained set, so a commit landing in
    * between only adds protection; a concurrent writer's staged dir is in
    * no `#dirs` line until it commits, so it is never touched. Crash
    * debris is in no `#dirs` line either: it waits for [[vacuum]]. */
  private def dropUnreferencedDirs(base: Path, version: Int): Unit =
    try {
      val candidates = committedDirNames(base)
      val referenced = bronzeVersions(base).filter(_ >= version - 1)
        .flatMap(v => resolveSnapshot(base, v).toSeq)
        .flatMap(_.entries.map(_.relPath.takeWhile(_ != '/'))).toSet
      (candidates -- referenced).foreach(d => deleteRecursively(base.resolve(d)))
    } catch {
      // a record pruned under us by a later commit: that commit's own
      // pass owns the retention now, and skipping only leaves bytes
      case _: java.nio.file.NoSuchFileException | _: IllegalStateException =>
    }

  /** A fresh, collision-free append directory for a write targeting
    * `version` (the version tag is cosmetic/debugging — uniqueness comes
    * from the uid, so concurrent writers never collide on a dir). */
  private def newAppendDir(base: Path, version: Int): Path =
    base.resolve(s"_a${version}_${java.util.UUID.randomUUID.toString.take(8)}")

  /** VACUUM: delete data files referenced by NONE of the retained history
    * manifests, plus emptied append dirs and stale tmps. Retention is the
    * UNION of two floors, so either alone protects a version's files:
    *
    *   - `keepVersions` newest versions (default: committed + predecessor,
    *     the window a non-bronze commit keeps), and
    *   - every version COMMITTED within `retainMillis` of `now` — the
    *     Delta `VACUUM ... RETAIN n HOURS` wall-clock contract (default
    *     168 h, Delta's default). This is the floor that makes the
    *     "keepVersions ≥ checkpointInterval for time travel" rule
    *     self-enforcing on any realistic maintenance cadence: a version
    *     younger than the window keeps its files regardless of how many
    *     commits landed after it. Commit time is the record's in-commit
    *     timestamp (mtime for pre-feature records — [[commitTimeMillis]]);
    *     `now` is injectable for deterministic tests.
    *
    * NOTE (default changed in r11): `retainMillis` defaults to 168 h, so a
    * bare `vacuumBronze(name)` is a near-no-op for a week after a write —
    * unreferenced files younger than the window are deliberately kept
    * (they may be an in-flight writer's). Callers wanting immediate
    * reclamation must pass `retainMillis = 0` explicitly (the pre-r11
    * behavior, Delta's "retentionDurationCheck disabled" escape hatch —
    * callers own the in-flight-reader risk). To make the floor visible,
    * the call RETURNS how many files it retained solely because of the
    * wall-clock window and logs one stderr line when that count is
    * non-zero — "vacuum reclaimed nothing" is then attributable.
    *
    * Like Delta VACUUM this is an EXPLICIT maintenance op with a
    * concurrency contract: run it quiesced, or keep enough retention that
    * no in-flight reader/writer references what it removes (a writer
    * mid-commit holds files not yet in any manifest — exactly what
    * retention cannot protect; quiesce for that). */
  def vacuumBronze(name: String, keepVersions: Int = 2,
      retainMillis: Long = Lakehouse.DefaultVacuumRetainMillis,
      now: Long = System.currentTimeMillis()): Int =
    vacuum("bronze", name, keepVersions, retainMillis, now)

  /** [[vacuumBronze]] for a table of any layer. Outside bronze a winning
    * commit already drops the dirs older versions referenced, so what is
    * left to reclaim is crash debris: staged dirs whose commit never
    * landed. */
  def vacuum(layer: String, name: String, keepVersions: Int = 2,
      retainMillis: Long = Lakehouse.DefaultVacuumRetainMillis,
      now: Long = System.currentTimeMillis()): Int = {
    require(retainMillis >= 0, s"retainMillis must be >= 0, got $retainMillis")
    val base = dir(layer, name)
    if (!Files.exists(base)) return 0
    var floorRetained = 0 // unreferenced files kept ONLY by the wall-clock floor
    val allVersions = bronzeVersions(base)
    val youngEnough = allVersions.filter { v =>
      Files.exists(base.resolve(s"_files_v$v")) &&
        commitTimeMillis(base, v) >= now - retainMillis
    }
    // REGISTERED change-feed cursors hold retention: a consumer at frontier
    // c still reads tableChanges over (c, head] — which resolves snapshots
    // from c on and emits a removed file's rows as deletes FROM THAT FILE —
    // so every version at-or-after the slowest registered frontier keeps
    // its read set. Without this, vacuum would strand the consumer into a
    // full re-sync (at 100 TB, the failure mode worth a guard). A consumer
    // that is gone (dir deleted) holds nothing; an abandoned-but-present
    // cursor is the operator's to delete.
    val cursorFrontier = registeredCursorFrontiers(base).minOption
    val cursorHeld = cursorFrontier.toSeq.flatMap(c => allVersions.filter(_ >= c))
    val cursorExtra =
      cursorHeld.toSet -- allVersions.takeRight(math.max(1, keepVersions)) -- youngEnough
    if (cursorExtra.nonEmpty)
      System.err.println(s"[vacuum] $layer.$name: ${cursorExtra.size} version(s) " +
        s"retained beyond the keepVersions/wall-clock floors for a registered " +
        s"change-feed cursor (slowest frontier ${cursorFrontier.get})")
    val retained =
      (allVersions.takeRight(math.max(1, keepVersions)) ++ youngEnough ++ cursorHeld)
        .distinct.sorted
    val retainedEntries = retained
      .flatMap(v => resolveSnapshot(base, v).toSeq)
      .flatMap(_.entries)
    // a retained version's read set includes its deletion vectors — a
    // vacuumed vector would silently RESURRECT deleted rows on that
    // version's reads, worse than a missing data file
    val keep = (retainedEntries.map(_.relPath) ++
      dvRefPairs(retainedEntries).map(_._2)).toSet
    // parquet twins referenced by ANY retained record stay (time travel
    // through the chain); the rest — crashed pre-CAS writers — are debris
    val liveTwins = allVersions
      .flatMap(v => readRecordHeader(base.resolve(s"_files_v$v")))
      .flatMap(_.ckptDir).toSet
    // the wall-clock floor applies to UNREFERENCED files too (the Delta
    // rule): a fresh file in no manifest is very likely an IN-FLIGHT
    // writer's — deleting it would fail that writer's commit. Only files
    // older than the window are provably abandoned debris.
    def expired(p: Path): Boolean =
      Files.getLastModifiedTime(p).toMillis < now - retainMillis
    listDir(base).foreach { p =>
      p.getFileName.toString match {
        case n if appendDir.pattern.matcher(n).matches() && Files.isDirectory(p) =>
          // captured BEFORE the child deletions below bump the dir's mtime
          val dirExpired = expired(p)
          listDir(p).foreach { f =>
            val fn = f.getFileName.toString
            if (fn.endsWith(".parquet") && !keep.contains(s"$n/$fn")) {
              if (expired(f)) {
                Files.delete(f)
                val crc = f.resolveSibling(s".$fn.crc")
                if (Files.exists(crc)) Files.delete(crc)
              } else floorRetained += 1
            }
          }
          // the emptied-dir sweep honors the floor too: a fresh dir with
          // no parquet yet is an in-flight writer's, not debris
          if (dirExpired && !listDir(p).exists(_.getFileName.toString.endsWith(".parquet")))
            deleteRecursively(p)
        case n if n.startsWith(DeletionVectors.DirPrefix) && Files.isDirectory(p) =>
          // superseded deletion vectors (a later delete re-merged them, or
          // OPTIMIZE purged the file) are debris like any unreferenced
          // file; referenced or young vectors stay
          val dirExpired = expired(p)
          listDir(p).foreach { f =>
            val fn = f.getFileName.toString
            if (fn.endsWith(".dv") && !keep.contains(s"$n/$fn")) {
              if (expired(f)) Files.delete(f) else floorRetained += 1
            }
          }
          if (dirExpired && !listDir(p).exists(_.getFileName.toString.endsWith(".dv")))
            deleteRecursively(p)
        case n if n.startsWith("_ckpt_v") && !liveTwins.contains(n) =>
          if (expired(p)) deleteRecursively(p) else floorRetained += 1
        case n if n.startsWith(".manifest_") =>
          if (expired(p)) Files.deleteIfExists(p) else floorRetained += 1
        case _ =>
      }
    }
    if (floorRetained > 0)
      System.err.println(f"[vacuum] $layer.$name retained $floorRetained " +
        f"unreferenced file(s) younger than the ${retainMillis / 3600000.0}%.1f h " +
        "wall-clock window (pass retainMillis=0 to reclaim immediately)")
    floorRetained
  }

  /** Append rows (bronze ingest) as a logged transaction: new files land
    * in a fresh immutable append dir, their min/max stats are recorded,
    * and the put-if-absent manifest link commits — a crash at any earlier
    * point leaves the table at the previous version (no half-appended
    * data is ever visible, the Delta-bronze guarantee the reference gets
    * from `USING DELTA`). CONCURRENT appends are safe: a writer losing
    * the version CAS re-reads the winner's manifest and re-commits its
    * already-written files on the next version — blind appends never
    * conflict, matching Delta's concurrent-append semantics.
    *
    * `txn = Some((appId, version))` makes the append an IDEMPOTENT WRITER
    * TRANSACTION (Delta's txnAppId/txnVersion): the log records the newest
    * applied version per appId, and an append whose version is at-or-below
    * the recorded one is SKIPPED (returns false) — the check rides the
    * commit CAS loop, so a replayed batch (restarted job, retried
    * micro-batch) can never double-apply even racing its own duplicate.
    * Returns true when this call committed. */
  def appendBronze(name: String, df: DataFrame,
      statsCols: Seq[String] = Lakehouse.BronzeStatsCols,
      bloomCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Boolean = {
    val base = dir("bronze", name)
    Files.createDirectories(base)
    // idempotent-writer fast path (Delta txnAppId/txnVersion): a replay of
    // an already-applied transaction skips BEFORE staging any files. The
    // authoritative check re-runs inside the commit CAS loop — this one
    // just avoids the wasted write.
    if (txn.exists { case (app, v) => txnsOf(base).get(app).exists(_ >= v) }) return false
    guardRowIdCols(base, name, df.columns.toSeq)
    val v0 = readFilesManifest(base).map(_.version).getOrElse(0)
    val dataDir = newAppendDir(base, v0 + 1)
    // defaulted, generated and identity columns the writer omitted are
    // computed BEFORE staging — the files carry materialized values like
    // any other column (defaults first: generation expressions may
    // reference defaulted columns; identity last: it reserves its range in
    // the log and must count the final row set)
    val (staged, idRdd, idRows) =
      fillIdentity(base, name, fillGenerated(base, fillDefaults(base, df)))
    try staged.write.mode(SaveMode.Overwrite).parquet(dataDir.toString)
    finally idRdd.foreach(_.unpersist(blocking = false))
    // footer min/max are free; blooms (opt-in) cost one scan over the
    // just-written files — see the tradeoff note at [[ManifestStats.bloomKey]]
    val mine = ManifestStats.withBlooms(
      ManifestStats.collectStats(spark, dataDir.toString, statsCols,
        dataDir.getFileName.toString),
      ManifestStats.bloomStats(spark, dataDir.toString, bloomCols,
        dataDir.getFileName.toString))
    guardIdentityCount(name, dataDir, mine, idRows)
    // provided generated columns validate against their expressions in one
    // staged-dir scan; the re-check rides the commit loop
    val gensValidated = enforceGenerated(base, name, dataDir, df.columns.toSet)
    val committed = commitAppendEntries(base, name, staged.schema, mine, dataDir,
      txn, gensValidated, df.columns.toSet)
    // lost the txn race: the staged files are debris
    if (!committed) deleteStagedIfUncommitted(base, dataDir)
    committed
  }

  /** CAS loop committing already-written file entries as an append: a lost
    * race re-reads the winner's manifest and folds our files into the next
    * version (blind appends never conflict). Schema evolution is
    * ADD COLUMNS (the reference's ALTER TABLE ADD COLUMNS,
    * finalize_run_log.py:82-93): a wider append widens the log schema.
    * The staged files sit in this writer's own fresh append dir, so no
    * other commit can hold them: every attempt commits all of them. */
  private def commitAppendEntries(base: Path, name: String,
      incoming: org.apache.spark.sql.types.StructType,
      mine: Seq[ManifestStats.FileEntry],
      dataDir: Path,
      txn: Option[(String, Long)],
      gensValidated: Seq[(String, String)],
      providedCols: Set[String]): Boolean = {
    var attempts = 0
    var committed = false
    var gensAgainst = gensValidated
    while (!committed) {
      attempts += 1
      require(attempts <= 1000, s"bronze append to $name lost 1000 consecutive CAS races")
      val snap = readFilesManifest(base)
      // idempotent-writer gate (Delta SetTransaction): the check rides the
      // SAME CAS loop as the commit, so a concurrent replay of this txn
      // that wins the race is seen on our retry — at most one of the two
      // appends lands, no double-apply window
      if (txn.exists { case (app, v) => txnsOf(base).get(app).exists(_ >= v) })
        return false
      // a generated-column set that changed under us re-validates the
      // staged dir (a column declared after staging fails there with the
      // retry remedy)
      if (gencolsOf(base) != gensAgainst)
        gensAgainst = enforceGenerated(base, name, dataDir, providedCols)
      // an identity column declared AFTER this batch staged cannot be
      // amended into its files — fail with the retry remedy (the writer
      // fills identity before staging)
      idcolsOf(base).foreach(ic => require(incoming.fieldNames.contains(ic.col),
        s"identity column ${ic.col} of bronze.$name was declared after this " +
          "batch staged — retry the append (the writer reserves and fills " +
          "identity values before staging)"))
      // same for defaults: fillDefaults materialized every default known at
      // staging, so a defaulted column ABSENT from the staged schema means
      // the default landed mid-flight — rows would read NULL forever
      defaultsOf(base).foreach { case (c, _) =>
        require(incoming.fieldNames.contains(c),
          s"default for column $c of bronze.$name was declared after this " +
            "batch staged — retry the append (the writer fills defaults " +
            "before staging)")
      }
      val entries = snap.map(_.entries).getOrElse(Seq.empty)
      val schema = mergedSchema(snap.flatMap(_.schema).getOrElse(incoming), incoming)
      committed = commitFilesManifest(base, snap.map(_.version).getOrElse(0) + 1,
        Some(schema), entries ++ mine, prev = snap.map(_.entries), op = "APPEND",
        txns = txn.map { case (app, tv) => txnsOf(base) + (app -> tv) })
    }
    true
  }

  /** Filesystem directory of a table (the log/aux root for log-managed
    * bronze — where `_files_v*` manifests and append dirs live). */
  def tableDir(layer: String, name: String): Path = dir(layer, name)

  /** Relative paths (`_aN_uid/part-*.parquet`) of the files in the current
    * COMMITTED bronze snapshot; None when the table is not log-managed
    * (plain layout — every file under the data dir is live by definition).
    * This is the committed-visibility boundary streaming readers filter
    * against: files on disk but absent here are crash debris or a commit
    * that has not landed yet. */
  def committedBronzeRelPaths(name: String): Option[Set[String]] =
    readFilesManifest(dir("bronze", name)).map(_.entries.map(_.relPath).toSet)

  /** Idempotent re-run delete: drop all rows of `run_id` before re-append.
    * The manifest's run_id file stats (min/max, plus bloom when recorded)
    * bound the scan to files whose range covers the run — a re-ingest
    * never touches unrelated history.
    *
    * Runs via the DELETION-VECTOR path ([[deleteBronzeWhereDv]]): ingest
    * appends are run-aligned, so the typical re-run delete finds files
    * whose every row matches and drops them from the manifest as PURE
    * METADATA — no rewrite, no vector, just a remove-list delta. Files
    * that mix runs (post-compaction) get a vector; the next OPTIMIZE
    * purges it. The copy-on-write alternative ([[deleteBronzeWhere]])
    * remains for callers that must not leave vectors behind.
    *
    * Commits under op `DELETE RUN` (not plain `DELETE`), so [[history]]
    * tells a run-aligned re-ingest delete from an ad-hoc one. */
  def deleteByRunId(name: String, runId: String): Unit =
    deleteBronzeWhereDv(name, org.apache.spark.sql.functions.col("run_id").equalTo(runId),
      Seq(ManifestStats.StatEq("run_id", runId)), opLabel = "DELETE RUN")

  /** Exact visible row count from LOG METADATA alone: Σ per-file physical
    * rows ([[ManifestStats.RowsCol]], recorded from footers at commit)
    * minus Σ deletion-vector cardinalities. One log resolve — never a
    * data scan — on any table whose live entries all carry the stat
    * (every r12+ commit); None otherwise (caller falls back to count()).
    * The Delta `numRecords` fast path for count(*)-class questions. */
  def rowCount(layer: String, name: String): Option[Long] =
    readFilesManifest(dir(layer, name)).flatMap { snap =>
      val per = snap.entries.map(e => ManifestStats.rowsOf(e)
        .map(_ - ManifestStats.dvRef(e).map(_._2).getOrElse(0L)))
      if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
    }

  /** Live manifest entries carrying a DELETION VECTOR (a raw parquet
    * read would deliver vector-deleted ghost rows; OPTIMIZE purges
    * vectors). One log resolve, never a scan. */
  def deletionVectorCount(name: String): Int =
    readFilesManifest(dir("bronze", name))
      .map(_.entries.count(e => ManifestStats.dvRef(e).isDefined)).getOrElse(0)

  // ───── idempotent writer transactions (Delta SetTransaction parity) ───

  /** AppId → newest applied transaction version. Resolution reads the
    * NEWEST record only (one header peek): every commit re-emits the map
    * while one exists, so absence of the line
    * in the newest record IS the empty map (including every pre-txn-era
    * log, whose records never carry it). */
  private def txnsOf(base: Path): Map[String, Long] =
    bronzeVersions(base).lastOption
      .flatMap(v => readRecordHeader(base.resolve(s"_files_v$v")).flatMap(_.txns))
      .getOrElse(Map.empty)

  /** The newest transaction version recorded for `appId` on a bronze
    * table, or None if the app never committed — Delta's
    * `txnVersion(appId)`. A resuming writer reads this to decide where to
    * restart; [[appendBronze]]/[[mergeBronze]] check it atomically inside
    * their commit loop, so the read here is advisory. */
  def txnVersion(name: String, appId: String): Option[Long] =
    txnsOf(dir("bronze", name)).get(appId)

  // ───── generated columns (Delta GENERATED ALWAYS AS parity) ───────────
  //
  // A generated column is an existing column the log BINDS to an
  // expression: writers that omit it get it COMPUTED at append/merge time
  // (before staging — the files carry the materialized values, so reads,
  // stats and skipping treat it like any column), and writers that supply
  // it are VALIDATED against the expression (null-safe equality, one
  // staged-dir scan) — a batch whose provided values contradict the
  // expression is rejected before its commit, Delta's writer contract.
  // The set rides the log (`#gencols`, newest-record resolution) so
  // enforcement binds ANY writer; RESTORE restores the target version's
  // set with the file set.

  /** Generated columns of a bronze table: (column, generation expression
    * SQL), in declaration order. */
  def generatedColumns(name: String): Seq[(String, String)] =
    gencolsOf(dir("bronze", name))

  private def gencolsOf(base: Path): Seq[(String, String)] =
    bronzeVersions(base).lastOption.map(gencolsAsOf(base, _)).getOrElse(Seq.empty)

  private def gencolsAsOf(base: Path, version: Int): Seq[(String, String)] =
    readRecordHeader(base.resolve(s"_files_v$version")).flatMap(_.genCols)
      .getOrElse(Seq.empty)

  /** Declare `colName` GENERATED ALWAYS AS (`exprSql`). The column must
    * already exist, and every existing visible row must satisfy the
    * expression (one scan, Delta's add-time validation); from this commit
    * on every append/merge computes the column when absent and validates
    * it when provided. TOCTOU guard: a lost CAS re-validates at the
    * winner's version. */
  def addGeneratedColumn(name: String, colName: String, exprSql: String,
      maxAttempts: Int = 5): Unit = {
    val base = dir("bronze", name)
    require(readFilesManifest(base).isDefined,
      s"bronze.$name is not log-managed (append first, then declare)")
    require(!gencolsOf(base).exists(_._1 == colName),
      s"column $colName of bronze.$name is already generated")
    require(!defaultsOf(base).exists(_._1 == colName),
      s"column $colName of bronze.$name carries a DEFAULT — generated and " +
        "default bindings are mutually exclusive")
    require(!idcolsOf(base).exists(_.col == colName),
      s"column $colName of bronze.$name is an identity column — it is already engine-generated")
    def validateExisting(): Int = {
      val cur = readFilesManifest(base).get
      require(cur.schema.exists(_.fieldNames.contains(colName)),
        s"no column $colName on bronze.$name — a generated column binds to an " +
          "existing column (land it with a widening append first)")
      val bad = table("bronze", name)
        .filter(s"NOT ($colName <=> ($exprSql))").limit(1).count()
      require(bad == 0,
        s"cannot declare $colName generated: existing rows of bronze.$name " +
          s"contradict ($exprSql)")
      cur.version
    }
    var validatedAt = validateExisting()
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val cur = readFilesManifest(base).get
      if (cur.version != validatedAt) validatedAt = validateExisting()
      if (commitFilesManifest(base, cur.version + 1, cur.schema, cur.entries,
          prev = Some(cur.entries), op = "ADD GENERATED",
          genCols = Some(gencolsOf(base) :+ (colName -> exprSql)))) return
    }
    throw new IllegalStateException(
      s"addGeneratedColumn($name, $colName) lost $maxAttempts consecutive CAS races")
  }

  /** Compute MISSING generated columns on an incoming frame (writer-side
    * fill, before staging). Provided columns are left for
    * [[enforceGenerated]] to validate post-staging. */
  private def fillGenerated(base: Path, df: DataFrame): DataFrame =
    gencolsOf(base).foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, org.apache.spark.sql.functions.expr(e))
    }

  /** Validate a staged dir against the current generated-column set:
    * columns in `provided` must MATCH their expression row-for-row
    * (null-safe); a generated column entirely absent from the staged
    * schema fails with the retry remedy (it was declared after the batch
    * staged — the files cannot be amended). Returns the set validated
    * against, for the commit loop's TOCTOU re-check. */
  private def enforceGenerated(base: Path, name: String, dataDir: Path,
      provided: Set[String]): Seq[(String, String)] = {
    val gens = gencolsOf(base)
    if (gens.isEmpty) return gens
    lazy val df = spark.read.parquet(dataDir.toString)
    gens.foreach { case (c, e) =>
      require(!provided.contains(c) || df.columns.contains(c), // defensive
        s"staged batch for bronze.$name lost generated column $c")
      if (!df.columns.contains(c)) {
        deleteStagedIfUncommitted(base, dataDir) // staged-dir hygiene
        throw new IllegalStateException(
          s"generated column $c of bronze.$name was declared after this batch " +
            "staged — its files cannot be amended; retry the append (the writer " +
            "computes the column before staging)")
      }
      if (provided.contains(c)) {
        val bad = df.filter(s"NOT ($c <=> ($e))").limit(1).count()
        if (bad != 0) {
          deleteStagedIfUncommitted(base, dataDir)
          throw new IllegalArgumentException(
            s"staged batch for bronze.$name provides generated column $c with " +
              s"values contradicting its expression ($e)")
        }
      }
    }
    gens
  }

  /** Staged-dir hygiene that cannot destroy live data — EVERY cleanup of a
    * staged append/merge dir goes through here: validation failures
    * ([[enforceGenerated]], guardIdentityCount) and lost-txn-race
    * cleanups. Skip the delete whenever the dir name is in the log's
    * ever-committed set (live, or deleted-since — either way the manifest
    * owns it; leftover physical debris is vacuum's job, not ours). */
  private[pipeline] def deleteStagedIfUncommitted(base: Path, dataDir: Path): Unit =
    if (!committedDirNames(base).contains(dataDir.getFileName.toString))
      deleteRecursively(dataDir)

  // ───── identity columns (Delta GENERATED ALWAYS AS IDENTITY parity) ───
  //
  // An identity column is a LongType column whose values the ENGINE
  // allocates: writers never provide it (GENERATED ALWAYS — an append
  // carrying the column is refused), every append/merge fills it from a
  // log-reserved range. Uniqueness comes from RESERVATION, not
  // coordination: before staging, the writer commits an O(1) metadata-only
  // `ID RESERVE` record that advances the column's high watermark by the
  // batch's row count — the log's put-if-absent CAS makes two concurrent
  // writers reserve DISJOINT ranges, so the data commit itself needs no
  // identity logic at all (and a writer that reserves then crashes leaks a
  // GAP, never a duplicate — exactly Delta's identity contract: unique,
  // monotonic per writer, not contiguous). RESTORE keeps the watermark at
  // the FARTHEST point ever reached so a restored-away allocation can
  // never be re-issued.

  /** Identity columns of a bronze table, declaration order. */
  def identityColumns(name: String): Seq[Lakehouse.IdentityCol] =
    idcolsOf(dir("bronze", name))

  private def idcolsOf(base: Path): Seq[Lakehouse.IdentityCol] =
    idcolsAsOf(base, Int.MaxValue)

  private def idcolsAsOf(base: Path, version: Int): Seq[Lakehouse.IdentityCol] =
    bronzeVersions(base).filter(_ <= version).reverseIterator
      .flatMap(v => readRecordHeader(base.resolve(s"_files_v$v")).flatMap(_.idCols))
      .nextOption().getOrElse(Seq.empty)

  /** Declare `colName` GENERATED ALWAYS AS IDENTITY (START WITH `start`
    * INCREMENT BY `step`). Creates the table's log when it does not exist
    * yet (Delta declares identity at CREATE TABLE; this is the
    * path-catalog equivalent); on an existing table the declaration is
    * refused unless the table is EMPTY — pre-existing rows can carry no
    * engine-allocated values, and backfilling would rewrite every file. */
  def addIdentityColumn(name: String, colName: String,
      start: Long = 1L, step: Long = 1L, maxAttempts: Int = 5): Unit = {
    require(step != 0, "identity step must be non-zero")
    val base = dir("bronze", name)
    Files.createDirectories(base)
    require(!idcolsOf(base).exists(_.col == colName),
      s"column $colName of bronze.$name is already an identity column")
    require(!gencolsOf(base).exists(_._1 == colName),
      s"column $colName of bronze.$name is GENERATED ALWAYS AS (${gencolsOf(base).find(_._1 == colName).map(_._2).getOrElse("")}) — cannot also be identity")
    require(!defaultsOf(base).exists(_._1 == colName),
      s"column $colName of bronze.$name carries a DEFAULT — drop it before declaring identity")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val cur = readFilesManifest(base)
      cur.foreach { c =>
        require(c.entries.isEmpty,
          s"bronze.$name has committed data files: GENERATED ALWAYS AS IDENTITY " +
            "declares at table creation (or while the table is empty) — the engine " +
            "cannot retrofit allocated values onto existing rows")
        require(!c.schema.exists(_.fieldNames.contains(colName)),
          s"column $colName already exists on bronze.$name — identity columns are " +
            "engine-owned from birth")
      }
      val ic = Lakehouse.IdentityCol(colName, start, step, None)
      if (commitFilesManifest(base, cur.map(_.version).getOrElse(0) + 1,
          cur.flatMap(_.schema), cur.map(_.entries).getOrElse(Seq.empty),
          prev = cur.map(_.entries), op = "ADD IDENTITY",
          idCols = Some(idcolsOf(base) :+ ic))) return
    }
    throw new IllegalStateException(
      s"addIdentityColumn($name, $colName) lost $maxAttempts consecutive CAS races")
  }

  /** Atomically reserve `n` values of every identity column: one
    * metadata-only `ID RESERVE` commit advancing each high watermark. The
    * CAS guarantees two concurrent writers get DISJOINT ranges; a crash
    * after this commit leaks an id gap (allowed) — never a duplicate.
    * Returns each column's FIRST reserved value. */
  private def reserveIdentity(base: Path, name: String,
      n: Long): Seq[(Lakehouse.IdentityCol, Long)] = {
    var attempts = 0
    while (attempts < 1000) {
      attempts += 1
      val cur = readFilesManifest(base).getOrElse(throw new IllegalStateException(
        s"bronze.$name lost its committed version mid-reserve"))
      val ids = idcolsOf(base)
      if (ids.isEmpty) return Seq.empty
      val allocated = ids.map { ic =>
        val first = ic.nextValue
        (ic.copy(highWatermark = Some(first + ic.step * (n - 1))), first)
      }
      if (commitFilesManifest(base, cur.version + 1, cur.schema, cur.entries,
          prev = Some(cur.entries), op = "ID RESERVE", dataChange = false,
          idCols = Some(allocated.map(_._1)))) return allocated
    }
    throw new IllegalStateException(
      s"identity reservation on bronze.$name lost 1000 consecutive CAS races")
  }

  /** Fill identity columns on an incoming frame: refuse writer-provided
    * values (GENERATED ALWAYS), count the batch, reserve the range, assign
    * per-partition (the two-pass `zipWithIndex` shape — one counting job,
    * offsets broadcast with the closure, no global sort). Returns the
    * filled frame plus the persisted RDD backing it, which the caller
    * unpersists AFTER staging (the assignment pass must see the exact rows
    * the counting pass saw). */
  private def fillIdentity(base: Path, name: String, df: DataFrame):
      (DataFrame, Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]], Option[Long]) = {
    val ids = idcolsOf(base)
    if (ids.isEmpty) return (df, None, None)
    ids.foreach(ic => require(!df.columns.contains(ic.col),
      s"column ${ic.col} of bronze.$name is GENERATED ALWAYS AS IDENTITY — " +
        "writers cannot provide it"))
    import org.apache.spark.sql.types.LongType
    val outSchema = ids.foldLeft(df.schema)((s, ic) => s.add(ic.col, LongType, nullable = true))
    val rdd = df.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = rdd.mapPartitionsWithIndex { (i, it) =>
        var c = 0L; while (it.hasNext) { it.next(); c += 1 }; Iterator(i -> c)
      }.collect().sortBy(_._1).map(_._2)
      val offsets = counts.scanLeft(0L)(_ + _)
      val n = offsets.lastOption.getOrElse(0L)
      if (n == 0) {
        rdd.unpersist(blocking = false)
        // zero rows: nothing to reserve; keep the columns for schema stability
        return (ids.foldLeft(df)((d, ic) => d.withColumn(ic.col,
          org.apache.spark.sql.functions.lit(null).cast(LongType))), None, None)
      }
      val firsts = reserveIdentity(base, name, n).map { case (ic, f) => (ic.step, f) }
      val withIds = rdd.mapPartitionsWithIndex { (pi, it) =>
        val off = offsets(pi)
        var k = 0L
        it.map { r =>
          val extra = firsts.map { case (step, first) => first + step * (off + k) }
          k += 1
          org.apache.spark.sql.Row.fromSeq(r.toSeq ++ extra)
        }
      }
      // callers verify the STAGED row count equals n ([[guardIdentityCount]]):
      // persist() is a cache, not a pin — a partition recomputed from a
      // nondeterministic lineage between the count and the write could hold
      // a different row count, running assignments past the reserved range.
      // The footer-count check turns that silent duplicate into an abort.
      (spark.createDataFrame(withIds, outSchema), Some(rdd), Some(n))
    } catch { case t: Throwable => rdd.unpersist(blocking = false); throw t }
  }

  /** Abort when a staged identity batch's footer row count disagrees with
    * the count its reservation was sized for (see [[fillIdentity]]). */
  private def guardIdentityCount(name: String, dataDir: Path,
      staged: Seq[ManifestStats.FileEntry], expected: Option[Long]): Unit =
    expected.foreach { n =>
      val got = staged.flatMap(ManifestStats.rowsOf).sum
      if (got != n) {
        deleteStagedIfUncommitted(dir("bronze", name), dataDir)
        throw new IllegalStateException(
          s"identity batch for bronze.$name staged $got rows but reserved ids for $n " +
            "(nondeterministic input recomputed between the count and the write?) — " +
            "staged files discarded; retry the append with a deterministic source")
      }
    }

  // ───── column DEFAULT values (Delta column defaults parity) ───────────
  //
  // A default binds a column to a COLUMN-FREE expression: appends/merges
  // that omit the column get it filled at write time (files carry
  // materialized values — stats and skipping see a normal column); writers
  // that provide the column keep their values unvalidated (GENERATED BY
  // DEFAULT semantics — contrast [[addGeneratedColumn]], which validates).
  // Delta's contract on history is preserved: a default applies to writes
  // AFTER its declaration; rows landed before (files lacking the column)
  // read as NULL, never retroactively as the default.

  /** Column defaults of a bronze table: (column, default expression SQL),
    * declaration order. */
  def columnDefaults(name: String): Seq[(String, String)] =
    defaultsOf(dir("bronze", name))

  private def defaultsOf(base: Path): Seq[(String, String)] =
    defaultsAsOf(base, Int.MaxValue)

  private def defaultsAsOf(base: Path, version: Int): Seq[(String, String)] =
    bronzeVersions(base).filter(_ <= version).reverseIterator
      .flatMap(v => readRecordHeader(base.resolve(s"_files_v$v")).flatMap(_.defaults))
      .nextOption().getOrElse(Seq.empty)

  /** Declare DEFAULT (`exprSql`) for `colName`. The expression must be
    * COLUMN-FREE (it evaluates against no row — Delta's same restriction);
    * it is probed once here by evaluating it over a single synthetic row,
    * so parse errors and column references fail at declaration, not at
    * some future writer's append. */
  def setColumnDefault(name: String, colName: String, exprSql: String,
      maxAttempts: Int = 5): Unit = {
    val base = dir("bronze", name)
    require(readFilesManifest(base).isDefined,
      s"bronze.$name is not log-managed (append first, then declare)")
    require(!gencolsOf(base).exists(_._1 == colName),
      s"column $colName of bronze.$name is GENERATED ALWAYS AS — generated and " +
        "default bindings are mutually exclusive")
    require(!idcolsOf(base).exists(_.col == colName),
      s"column $colName of bronze.$name is an identity column — it cannot carry a default")
    // column-free probe over a ONE-ROW, ZERO-COLUMN frame: any attribute
    // reference fails analysis outright (range(1) would leak its built-in
    // `id` column into scope and accept `id`-referencing expressions)
    try spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row()),
        org.apache.spark.sql.types.StructType(Seq.empty))
      .select(org.apache.spark.sql.functions.expr(exprSql)).collect()
    catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalArgumentException(
        s"default expression for $colName must be column-free and valid SQL " +
          s"($exprSql): ${e.getMessage}", e)
    }
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val cur = readFilesManifest(base).get
      if (commitFilesManifest(base, cur.version + 1, cur.schema, cur.entries,
          prev = Some(cur.entries), op = "SET DEFAULT",
          defaults = Some(defaultsOf(base).filterNot(_._1 == colName) :+ (colName -> exprSql))))
        return
    }
    throw new IllegalStateException(
      s"setColumnDefault($name, $colName) lost $maxAttempts consecutive CAS races")
  }

  /** Remove a column's default (the column and its data stay; future
    * writers that omit it land NULLs again). */
  def dropColumnDefault(name: String, colName: String, maxAttempts: Int = 5): Unit = {
    val base = dir("bronze", name)
    require(defaultsOf(base).exists(_._1 == colName),
      s"column $colName of bronze.$name carries no default")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val cur = readFilesManifest(base).getOrElse(throw new IllegalStateException(
        s"bronze.$name lost its committed version"))
      if (commitFilesManifest(base, cur.version + 1, cur.schema, cur.entries,
          prev = Some(cur.entries), op = "DROP DEFAULT",
          defaults = Some(defaultsOf(base).filterNot(_._1 == colName)))) return
    }
    throw new IllegalStateException(
      s"dropColumnDefault($name, $colName) lost $maxAttempts consecutive CAS races")
  }

  /** Fill MISSING defaulted columns on an incoming frame (writer-side,
    * before staging — and before [[fillGenerated]], whose expressions may
    * reference defaulted columns). Provided columns pass through as-is. */
  private def fillDefaults(base: Path, df: DataFrame): DataFrame =
    defaultsOf(base).foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, org.apache.spark.sql.functions.expr(e))
    }

  /** Refuse a widening of an identity or defaulted column — the
    * engine-owned binding keys on the column's type. Mirror of
    * [[guardGeneratedRefs]]. */
  private def guardIdentityDefaultRefs(base: Path, name: String, colName: String): Unit = {
    idcolsOf(base).find(_.col == colName).foreach(ic =>
      throw new IllegalArgumentException(
        s"column $colName of bronze.$name is GENERATED ALWAYS AS IDENTITY " +
          s"(start ${ic.start} step ${ic.step}): identity columns cannot be widened"))
    defaultsOf(base).find(_._1 == colName).foreach { case (_, e) =>
      throw new IllegalArgumentException(
        s"column $colName of bronze.$name carries DEFAULT ($e): drop the " +
          "default, widen, re-declare")
    }
  }

  // ───── row tracking (Delta rowTracking / baseRowId parity) ────────────
  //
  // Every row gets a STABLE LOGICAL ID that survives rewrites: fresh files
  // get a per-file BASE assigned atomically inside the commit CAS from the
  // log's `#rowidwm` watermark (pure metadata — a row's id is
  // base + physical position, nothing is written into data files), and any
  // rewrite that MOVES rows (OPTIMIZE, bin-packing, copy-on-write DELETE)
  // materializes the ids it read into a physical `__row_id` column of its
  // output files, marked [[ManifestStats.PhysicalRowIds]] in the manifest.
  // Deletion-vector deletes never move rows, so ids hold under them for
  // free. The watermark only grows (RESTORE re-emits the current one), so
  // an id is never reissued. Readers that do not know the feature are
  // unaffected: scans read under the LOG schema, which never contains
  // `__row_id` (Delta ships rowTracking reader-compatible the same way).

  /** The row-tracking watermark (total ids ever assigned), or None when
    * the feature is not enabled on this table. */
  def rowIdWatermark(name: String): Option[Long] = rowIdWmOf(dir("bronze", name))

  private def rowIdWmOf(base: Path): Option[Long] =
    bronzeVersions(base).lastOption
      .flatMap(v => readRecordHeader(base.resolve(s"_files_v$v")).flatMap(_.rowIdWm))

  private def rowIdWmAsOf(base: Path, version: Int): Option[Long] =
    bronzeVersions(base).filter(_ <= version).reverseIterator
      .flatMap(v => readRecordHeader(base.resolve(s"_files_v$v")).flatMap(_.rowIdWm))
      .nextOption()

  /** Enable row tracking: one metadata-only commit that BACKFILLS a base
    * row id onto every live file (from its recorded `__rows`) and starts
    * the watermark; every subsequent commit assigns bases to its fresh
    * files centrally ([[commitFilesManifest]]). Idempotent. */
  def enableRowTracking(name: String, maxAttempts: Int = 5): Unit = {
    val base = dir("bronze", name)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val cur = readFilesManifest(base).getOrElse(throw new IllegalArgumentException(
        s"bronze.$name is not log-managed (append first, then enable)"))
      if (rowIdWmOf(base).isDefined) return // already enabled
      cur.schema.foreach(s => Seq("_row_id", Lakehouse.PhysRowIdCol).foreach(c =>
        require(!s.fieldNames.contains(c),
          s"bronze.$name already has a $c column — row tracking owns that name")))
      if (commitFilesManifest(base, cur.version + 1, cur.schema, cur.entries,
          prev = Some(cur.entries), op = "ENABLE ROW TRACKING",
          rowIdWm = Some(0L))) return
    }
    throw new IllegalStateException(
      s"enableRowTracking($name) lost $maxAttempts consecutive CAS races")
  }

  /** The table with its stable `_row_id` column (Delta's
    * `row_tracking.enabled` read face). Ids are derived per file — base +
    * `_metadata.row_index` for log-based files (one plan-embedded map
    * lookup per file per thread, inside codegen), the physical `__row_id`
    * column for rewrite outputs — and survive OPTIMIZE, bin-packing, and
    * both delete flavors. */
  def tableWithRowIds(name: String): DataFrame = {
    val base = dir("bronze", name)
    val snap = readFilesManifest(base).getOrElse(throw new IllegalArgumentException(
      s"bronze.$name is not log-managed"))
    require(rowIdWmOf(base).isDefined,
      s"row tracking is not enabled on bronze.$name (enableRowTracking first)")
    readEntriesRowIds(base, snap.schema, snap.entries)
      .withColumnRenamed(Lakehouse.PhysRowIdCol, "_row_id")
  }

  /** Read live entries with their row ids as a `__row_id` column (table
    * columns first — the rewrite paths write this frame back out, so the
    * id column keeps its PHYSICAL name here). Deletion vectors are
    * applied; both file species union after their per-branch filter. */
  private def readEntriesRowIds(base: Path,
      schemaOpt: Option[org.apache.spark.sql.types.StructType],
      entries: Seq[ManifestStats.FileEntry]): DataFrame = {
    import org.apache.spark.sql.graft.ColumnShim
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = schemaOpt.getOrElse(throw new IllegalStateException(
      "row tracking needs a recorded log schema"))
    def dvFiltered(df: DataFrame, es: Seq[ManifestStats.FileEntry]): DataFrame = {
      val refs = dvRefPairs(es.filter(e => ManifestStats.dvRef(e).isDefined))
      if (refs.isEmpty) df
      else df.filter(!ColumnShim.column(graft.sql.DvRowDeleted(
        ColumnShim.expression(df.col("_metadata.file_path")),
        ColumnShim.expression(df.col("_metadata.row_index")),
        DeletionVectors.loadMap(base, refs))))
    }
    val (phys, based) = entries.partition(e =>
      ManifestStats.rowBase(e).contains(ManifestStats.PhysicalRowIds))
    based.find(e => ManifestStats.rowBase(e).isEmpty).foreach(e =>
      throw new IllegalStateException(
        s"live file ${e.relPath} carries no base row id — its commit predates " +
          "enableRowTracking? (enable backfills every live file)"))
    val parts = Seq.newBuilder[DataFrame]
    if (based.nonEmpty) {
      val df = spark.read.schema(schema)
        .parquet(based.map(e => base.resolve(e.relPath).toString): _*)
      val bases = based.map(e =>
        graft.sql.DvRowDeleted.relPathKey(e.relPath) -> ManifestStats.rowBase(e).get).toMap
      val id = (ColumnShim.column(graft.sql.FileBaseRowId(
        ColumnShim.expression(df.col("_metadata.file_path")), bases)) +
        df.col("_metadata.row_index")).as(Lakehouse.PhysRowIdCol)
      parts += dvFiltered(df, based).select(schema.fieldNames.map(df.col) :+ id: _*)
    }
    if (phys.nonEmpty) {
      val df = spark.read.schema(schema.add(Lakehouse.PhysRowIdCol, LongType))
        .parquet(phys.map(e => base.resolve(e.relPath).toString): _*)
      parts += dvFiltered(df, phys).select(
        schema.fieldNames.map(df.col) :+ df.col(Lakehouse.PhysRowIdCol): _*)
    }
    parts.result().reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(schema.fields :+ StructField(Lakehouse.PhysRowIdCol, LongType))))
  }

  /** Refuse writer-provided row-id columns on a row-tracked table — the
    * ids are engine-owned (the [[fillIdentity]] GENERATED ALWAYS rule). */
  private def guardRowIdCols(base: Path, name: String, cols: Seq[String]): Unit =
    if (rowIdWmOf(base).isDefined)
      Seq("_row_id", Lakehouse.PhysRowIdCol).filter(cols.contains).foreach(c =>
        throw new IllegalArgumentException(
          s"column $c of bronze.$name is engine-owned (row tracking) — " +
            "writers cannot provide it"))

  // ───── reader-feature protocol gate (Delta readerFeatures parity) ─────

  /** Features this build understands. A log record declaring anything
    * beyond these was written by a writer whose state this reader cannot
    * interpret (a newer one, or column mapping's `colmap`, which this
    * build no longer reads) — reads fail fast ([[requireReaderFeatures]])
    * instead of silently returning wrong rows (ghost deleted rows, raw
    * physical columns). */
  private[pipeline] val SupportedReaderFeatures: Set[String] = Set("dv")

  /** Commit instant of a retained version: the record's in-commit
    * timestamp (`#cts`, r13+ commits) when present, else the manifest
    * file's mtime (pre-feature records — same fallback Delta uses before
    * the inCommitTimestamps feature is enabled). */
  private def commitTimeMillis(base: Path, v: Int): Long = {
    val m = base.resolve(s"_files_v$v")
    readRecordHeader(m).flatMap(_.commitTs)
      .getOrElse(Files.getLastModifiedTime(m).toMillis)
  }

  private def requireReaderFeatures(base: Path, h: RecordHeader): Unit =
    requireFeatureSupport(s"_files_v${h.version} at $base", h.features)

  /** The ONE copy of the reader-feature check+remedy (shared by the
    * header-peek gate and [[readRecord]]'s already-parsed-lines gate). */
  private def requireFeatureSupport(label: String, features: Seq[String]): Unit = {
    val unknown = features.filterNot(SupportedReaderFeatures)
    require(unknown.isEmpty,
      s"log record $label requires reader feature(s) " +
        s"${unknown.mkString(",")} this build does not support " +
        s"(supported: ${SupportedReaderFeatures.toSeq.sorted.mkString(",")}); " +
        "upgrade the reader — interpreting the record without the feature " +
        "would silently return wrong rows")
  }

  /** A record carrying CHECK constraints (a non-empty `#constraints`
    * line, written by builds that enforced them) fails fast: this build
    * neither enforces nor re-emits them, so its next commit would drop the
    * table's constraints without a word. The empty drop-to-zero marker
    * holds no constraint and passes. */
  private def requireNoConstraints(label: String, enc: String): Unit =
    require(enc.isEmpty,
      s"log record $label carries CHECK constraints (#constraints), a table " +
        "feature this build does not support; a commit from it would drop " +
        "them silently — read the table with a build that enforces them")

  /** Refuse a widening of a column that is a GENERATED column or is
    * referenced by one's expression — the binding would silently change
    * meaning (a widened target can change the expression's result type). */
  private def guardGeneratedRefs(base: Path, name: String, colName: String): Unit = {
    val ident = ("""\b""" + java.util.regex.Pattern.quote(colName) + """\b""").r
    gencolsOf(base).find(g => g._1 == colName || ident.findFirstIn(g._2).isDefined)
      .foreach(g => throw new IllegalArgumentException(
        s"column $colName of bronze.$name is involved in generated column " +
          s"${g._1} (${g._2}): widening it would change what the binding computes"))
  }

  /** Widenings [[widenBronzeColumnType]] accepts: the value set of the old
    * type embeds losslessly in the new, AND the parquet reader decodes an
    * old file's pages directly at the new type (probed on this Spark:
    * integral up-casts, float→double, decimal precision growth at the same
    * scale), AND the stats/bloom tag encoding is unchanged (integrals all
    * encode 'l', float/double 'f' — file-skipping keeps working on old
    * files' recorded stats). */
  private def widensTo(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(t: DataType): Int = t match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 3; case LongType => 4
      case _ => -1
    }
    (from, to) match {
      case (f, t) if rank(f) > 0 && rank(t) > 0 => rank(f) < rank(t)
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        f.scale == t.scale && f.precision < t.precision
      case _ => false
    }
  }

  /** `ALTER TABLE ALTER COLUMN TYPE` (Delta's type widening) —
    * METADATA-ONLY: the log schema's column type widens (integral
    * up-casts, float→double, decimal precision growth), no file is
    * rewritten, and every read path already scans under the LOG schema —
    * the parquet reader decodes old files' narrower pages at the wide type
    * natively (WidenProbeSpec pins this on both the vectorized and
    * row-based readers). AS-OF reads keep each version's own narrower
    * type (schema rides the log per version); appends/merges after the
    * widen must supply the NEW type ([[mergedSchema]] stays strict — cast
    * upstream, Delta's writer contract). Stats-based skipping on old
    * files keeps working because the widenings are tag-preserving
    * ([[widensTo]]). Narrowing or any other change is refused. */
  def widenBronzeColumnType(name: String, colName: String,
      newType: org.apache.spark.sql.types.DataType, maxAttempts: Int = 5): Unit = {
    val base = dir("bronze", name)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val cur = readFilesManifest(base).getOrElse(throw new IllegalArgumentException(
        s"bronze.$name is not log-managed (append first, then widen)"))
      val schema = cur.schema.getOrElse(throw new IllegalStateException(
        s"bronze.$name carries no log schema — cannot widen"))
      val field = schema.fields.find(_.name == colName).getOrElse(
        throw new IllegalArgumentException(s"no column $colName on bronze.$name"))
      require(widensTo(field.dataType, newType),
        s"cannot widen $colName: ${field.dataType.simpleString} → " +
          s"${newType.simpleString} is not a supported lossless widening " +
          "(integral up-casts, float→double, decimal precision growth)")
      guardGeneratedRefs(base, name, colName)
      guardIdentityDefaultRefs(base, name, colName)
      val newSchema = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        if (f.name == colName) f.copy(dataType = newType) else f))
      if (commitFilesManifest(base, cur.version + 1, Some(newSchema), cur.entries,
          prev = Some(cur.entries), op = "WIDEN COLUMN")) return
    }
    throw new IllegalStateException(
      s"widenBronzeColumnType($name, $colName) lost $maxAttempts consecutive CAS races")
  }

  /** Predicate delete — "DELETE WHERE <condition>" over a bronze table,
    * copy-on-write at FILE granularity: stats-candidate files are scanned
    * for true matches, only files actually containing matching rows are
    * rewritten (their retained rows land in a fresh `_a{N}`), untouched
    * files stay live as-is, and the manifest rename commits the swap.
    * Rows where `condition` is null are treated as matching (dropped),
    * the DML convention the run-id variant above has always had.
    * `statPreds` (optional) conservatively describe the DELETED rows so
    * file stats can prune the candidate scan.
    *
    * Concurrency: the delete's read-set is the file list it scanned, so a
    * lost version CAS RESTARTS the whole computation from the winner's
    * manifest (a racing append may have landed files containing matching
    * rows) — the transactMerge discipline at the file-log level.
    *
    * Driver-memory bound: the only `collect` is the DISTINCT NAMES of
    * files that actually contain matching rows — bounded by the
    * stats-candidate set (for run-scoped deletes: the files whose run_id
    * range covers one run), never the table's live-file count; ~100 bytes
    * per name, and the commit itself records them as a remove-list delta
    * (same O(affected) scale). A delete whose predicate genuinely touches
    * millions of files rewrites millions of files — the collect is not
    * the bottleneck of that operation. */
  def deleteBronzeWhere(name: String, condition: org.apache.spark.sql.Column,
      statPreds: Seq[ManifestStats.StatPred] = Nil, maxAttempts: Int = 5): Unit = {
    import org.apache.spark.sql.functions.input_file_name
    val base = dir("bronze", name)
    if (!Files.exists(base)) return
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      readFilesManifest(base) match {
        case None => return // never written
        case Some(BronzeSnapshot(v, schemaOpt, entries)) =>
          val candidates = entries.filter(e => ManifestStats.mightMatch(e, statPreds))
          if (candidates.isEmpty) return
          // null condition counts as a match (dropped): detect via NOT(NOT cond)
          val matchCond = !org.apache.spark.sql.functions.coalesce(
            !condition, org.apache.spark.sql.functions.lit(false))
          // scans subtract any existing deletion vectors: an already
          // vector-deleted row neither triggers a rewrite nor survives one
          val affectedNames = readEntriesWithDv(base, schemaOpt, candidates)
            .withColumn("__f", input_file_name()).filter(matchCond)
            .select("__f").distinct().collect()
            .map(_.getString(0).split('/').takeRight(2).mkString("/")).toSet
          if (affectedNames.isEmpty) return
          // two-segment key match: the scan's file_path is absolute
          val (affected, untouched) = entries.partition(e =>
            affectedNames.contains(graft.sql.DvRowDeleted.relPathKey(e.relPath)))
          // copy-on-write moves the surviving rows: on a row-tracked table
          // they carry their ids into the rewrite as a physical column
          val tracked = rowIdWmOf(base).isDefined
          val retained = (if (tracked) readEntriesRowIds(base, schemaOpt, affected)
            else readEntriesWithDv(base, schemaOpt, affected))
            .filter(!condition)
          val newEntries =
            if (retained.isEmpty && untouched.nonEmpty) Seq.empty
            else {
              val dataDir = newAppendDir(base, v + 1)
              // zero-row rewrite keeps ONE schema file so an emptied table
              // stays readable
              val out = if (retained.isEmpty) retained.repartition(1) else retained
              out.write.mode(SaveMode.Overwrite).parquet(dataDir.toString)
              val collected = ManifestStats.collectStats(spark, dataDir.toString,
                Lakehouse.BronzeStatsCols, dataDir.getFileName.toString)
              if (tracked)
                collected.map(ManifestStats.withRowBase(_, ManifestStats.PhysicalRowIds))
              else collected
            }
          if (commitFilesManifest(base, v + 1, schemaOpt, untouched ++ newEntries,
              prev = Some(entries), op = "DELETE")) return
          // lost the CAS: the read-set is stale — recompute from the winner
      }
    }
    throw new IllegalStateException(
      s"deleteBronzeWhere($name) lost $maxAttempts consecutive CAS races")
  }

  /** Predicate delete — MERGE-ON-READ via deletion vectors, the scale
    * path [[deleteBronzeWhere]]'s copy-on-write is not: instead of
    * rewriting every file that contains a matching row, this records the
    * matching rows' PHYSICAL POSITIONS per file ([[DeletionVectors]], one
    * `.dv` file per affected data file) and commits updated manifest
    * entries pointing at them; reads subtract the positions at scan time.
    * A delete touching one row in each of 10 000 files costs O(deleted
    * rows) of metadata where copy-on-write re-writes every touched file —
    * Delta's deletion-vector DELETE, re-expressed on the file log.
    *
    *   - A file whose VISIBLE rows all match is dropped from the manifest
    *     entirely (pure metadata — no vector, no rewrite); if that empties
    *     the table, one zero-row schema file keeps it readable.
    *   - A repeat delete on a vectored file writes a NEW merged vector;
    *     the superseded one becomes vacuum debris.
    *   - Vectors are PURGED by OPTIMIZE ([[compactSmall]] treats any
    *     vectored file as a rewrite candidate) and by any full rewrite,
    *     so read-side subtract cost is bounded by one maintenance
    *     interval of deletes, never by delete history.
    *   - File min/max stats stay as written (a superset bound over the
    *     surviving rows — skipping remains sound, just less tight until
    *     the purge).
    *
    * Same stats-candidate pruning, null-matches-drop convention, and
    * lost-CAS-restarts-from-winner discipline as the CoW delete. The only
    * driver materialization is the matched positions themselves
    * (O(deleted rows in this delete) — the metadata being written) plus
    * any prior vectors of the affected files.
    *
    * STREAMING NOTE: like CoW deletes, vector deletes do NOT propagate to
    * file streams over the `_a*` append dirs — the deleted rows were
    * already delivered when their file was appended (Delta's streaming
    * source has the same contract: deletes require CDF, not the add-files
    * stream). */
  def deleteBronzeWhereDv(name: String, condition: org.apache.spark.sql.Column,
      statPreds: Seq[ManifestStats.StatPred] = Nil, maxAttempts: Int = 5,
      opLabel: String = "DELETE"): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, collect_list, count, lit, when, size => sizeFn}
    import org.apache.spark.sql.graft.ColumnShim
    val base = dir("bronze", name)
    if (!Files.exists(base)) return
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      readFilesManifest(base) match {
        case None => return // never written
        case Some(BronzeSnapshot(v, schemaOpt, entries)) =>
          val candidates = entries.filter(e => ManifestStats.mightMatch(e, statPreds))
          if (candidates.isEmpty) return
          def rd = schemaOpt.fold(spark.read)(spark.read.schema)
          // null condition counts as a match (dropped) — the DML convention
          val matchCond = !coalesce(!condition, lit(false))
          val priorRefs = dvRefPairs(candidates).toMap
          val priorVecs = DeletionVectors.loadMap(base, priorRefs.toSeq)
          val scan = rd.parquet(candidates.map(e => base.resolve(e.relPath).toString): _*)
          // file identity + physical position + match flag; existing
          // vectors applied so an already-deleted row is never re-counted
          val flagged0 = scan.select(col("_metadata.file_path").as("__f"),
            col("_metadata.row_index").as("__ridx"), matchCond.as("__m"))
          val flagged = if (priorVecs.isEmpty) flagged0
            else flagged0.filter(!ColumnShim.column(graft.sql.DvRowDeleted(
              ColumnShim.expression(col("__f")),
              ColumnShim.expression(col("__ridx")), priorVecs)))
          // one row per file that contains matches: its matched positions
          // (the vector being written — O(deleted rows), the only driver
          // materialization) and its visible-row count (full-file detect)
          val perFile = flagged
            .groupBy(col("__f"))
            .agg(collect_list(when(col("__m"), col("__ridx"))).as("__dels"),
              count(lit(1)).as("__visible"))
            .filter(sizeFn(col("__dels")) > 0)
            .collect()
          if (perFile.isEmpty) return
          val dvDirName =
            s"${DeletionVectors.DirPrefix}${v + 1}_${java.util.UUID.randomUUID.toString.take(8)}"
          val dvDir = base.resolve(dvDirName)
          val updates: Map[String, Option[(String, Long)]] = perFile.map { r =>
            val rel = graft.sql.DvRowDeleted.relPathKey(r.getString(0))
            val newDels = r.getSeq[Long](1).toArray.sorted
            if (newDels.length == r.getLong(2)) rel -> None // all visible rows match
            else {
              val prior = priorVecs.getOrElse(rel, Array.emptyLongArray)
              val merged = DeletionVectors.merge(prior, newDels)
              Files.createDirectories(dvDir)
              val fn = DeletionVectors.fileName(rel)
              DeletionVectors.write(dvDir.resolve(fn), merged)
              rel -> Some((s"$dvDirName/$fn", merged.length.toLong))
            }
          }.toMap
          val kept = entries.flatMap { e =>
            updates.get(graft.sql.DvRowDeleted.relPathKey(e.relPath)) match {
              case None => Some(e) // untouched by this delete
              case Some(None) => None // fully deleted: drop, pure metadata
              case Some(Some((dvRel, card))) => Some(ManifestStats.withDv(e, dvRel, card))
            }
          }
          val newEntries =
            if (kept.nonEmpty) kept
            else { // emptied table: one zero-row schema file keeps it readable
              val dataDir = newAppendDir(base, v + 1)
              val s = schemaOpt.getOrElse(scan.schema)
              spark.createDataFrame(
                  spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
                .repartition(1)
                .write.mode(SaveMode.Overwrite).parquet(dataDir.toString)
              ManifestStats.collectStats(spark, dataDir.toString,
                Lakehouse.BronzeStatsCols, dataDir.getFileName.toString)
            }
          if (commitFilesManifest(base, v + 1, schemaOpt, newEntries,
              prev = Some(entries), op = opLabel)) return
          // lost the CAS: our vectors reference a stale read-set — drop
          // them and recompute from the winner's manifest
          deleteRecursively(dvDir)
      }
    }
    throw new IllegalStateException(
      s"deleteBronzeWhereDv($name) lost $maxAttempts consecutive CAS races")
  }

  /** `MERGE INTO` as log-managed DML (upsert): delete the target's rows
    * whose `keys` tuple appears in `source`, and append ALL of `source`'s
    * rows — in ONE atomic commit (op `MERGE`), so readers never observe
    * the deleted-but-not-yet-inserted half state. Completes the
    * DELETE/UPDATE/MERGE triad at O(touched files): the delete side rides
    * the DELETION-VECTOR path (fully-matched files drop as pure metadata,
    * partially-matched files get a vector — never a rewrite), and the
    * insert side is a staged append dir whose files are written ONCE and
    * reused across CAS retries. `operators/Merge.scala` (q50) is the same
    * algebra as a pure transform; this is its storage-engine face.
    *
    * Scale shape: the only full scan is over the stats-CANDIDATE files
    * (the source's per-key min/max bound the probe — a merge keyed on a
    * clustered or bloom-indexed column touches only covering files), the
    * match flag is one equi-join against the source's distinct key set,
    * and the commit is a remove+re-add delta of O(touched + new files).
    *
    * Semantics notes (Delta's WHEN MATCHED DELETE + INSERT *): every
    * matched target row is replaced by the source's row(s) for that key;
    * source rows with new keys insert; duplicate keys WITHIN the source
    * all land (dedupe upstream for upsert-exactly-one). NULL key values
    * never match (SQL join semantics) — such source rows insert.
    * Generated columns are enforced on the staged batch exactly as in
    * [[appendBronze]], including the re-validate-on-change guard.
    * Concurrency: lost CAS restarts the delete computation from the
    * winner's manifest (the staged insert files are version-independent);
    * an empty target degenerates to a plain append. `txn` carries the
    * same idempotent-writer contract as [[appendBronze]] — pass the
    * sink's (queryId, batchId) and a replayed foreachBatch upsert is a
    * no-op (returns false; true = this call committed). */
  def mergeBronze(name: String, source: DataFrame, keys: Seq[String],
      maxAttempts: Int = 5,
      txn: Option[(String, Long)] = None,
      nullSafeKeys: Boolean = false): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, col, collect_list, count, lit, when, size => sizeFn}
    import org.apache.spark.sql.graft.ColumnShim
    require(keys.nonEmpty, "mergeBronze needs at least one key column")
    keys.foreach(k => require(source.columns.contains(k),
      s"merge source lacks key column $k"))
    val base = dir("bronze", name)
    Files.createDirectories(base)
    // idempotent-writer fast path (see [[appendBronze]]): a foreachBatch
    // upserter passing (queryId, batchId) as its txn replays micro-batches
    // safely after a sink crash — the authoritative re-check rides the
    // commit loop below
    def txnApplied(): Boolean =
      txn.exists { case (app, v) => txnsOf(base).get(app).exists(_ >= v) }
    if (txnApplied()) return false
    val head = readFilesManifest(base)
    if (head.isEmpty) return appendBronze(name, source, txn = txn)
    guardRowIdCols(base, name, source.columns.toSeq)
    // stage the source ONCE; files never change across CAS retries.
    // Defaulted/generated/identity columns the source omits are computed
    // here, before staging. NOTE on identity semantics: MERGE rewrites
    // matched rows as delete + re-insert, so a matched row's identity
    // value CHANGES (the re-inserted row draws a fresh id) — the CDF shows
    // exactly that delete/insert pair. Callers needing stable surrogate
    // keys across upserts should carry their own key column.
    val (filled, idRdd, idRows) = fillIdentity(base, name,
      fillGenerated(base, fillDefaults(base, source)))
    val dataDir = newAppendDir(base, head.get.version + 1)
    try filled.write.mode(SaveMode.Overwrite).parquet(dataDir.toString)
    finally idRdd.foreach(_.unpersist(blocking = false))
    val staged = ManifestStats.collectStats(spark, dataDir.toString,
      Lakehouse.BronzeStatsCols, dataDir.getFileName.toString)
    guardIdentityCount(name, dataDir, staged, idRows)
    var gensAgainst = enforceGenerated(base, name, dataDir, source.columns.toSet)
    // the staged files by their entry paths: Spark warns "All paths were
    // ignored" for a root path named `_…` (then reads it all the same)
    val stagedDf = onePartitionIfSmall(spark.read.schema(filled.schema)
      .parquet(staged.map(e => base.resolve(e.relPath).toString): _*), staged)
    // the source's per-key bounds prune the delete's candidate scan
    val keyBounds: Seq[ManifestStats.StatPred] = {
      val aggs = keys.flatMap(k => Seq(
        org.apache.spark.sql.functions.min(col(k)).as(s"__mn_$k"),
        org.apache.spark.sql.functions.max(col(k)).as(s"__mx_$k"),
        org.apache.spark.sql.functions.max(col(k).isNull).as(s"__nl_$k")))
      val r = stagedDf.agg(aggs.head, aggs.tail: _*).collect().head
      keys.flatMap { k =>
        // under null-safe matching a NULL source key pairs with NULL target
        // rows, which min/max stats (computed over non-nulls) cannot bound —
        // any bound on this key could prune the very file holding them
        if (nullSafeKeys && Option(r.getAs[Any](s"__nl_$k")).contains(true))
          Seq.empty
        else (Option(r.getAs[Any](s"__mn_$k")), Option(r.getAs[Any](s"__mx_$k"))) match {
          case (Some(mn), Some(mx)) =>
            Seq(ManifestStats.StatGte(k, mn), ManifestStats.StatLte(k, mx))
          case _ => Seq.empty // all-null source key: no sound bound
        }
      }
    }
    val keySet = stagedDf.select(keys.map(col): _*).distinct()
    def commitTxns: Option[Map[String, Long]] =
      txn.map { case (app, tv) => txnsOf(base) + (app -> tv) }
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val BronzeSnapshot(v, schemaOpt, entries) = readFilesManifest(base).getOrElse(
        throw new IllegalStateException(s"bronze.$name lost its committed version mid-merge"))
      if (txnApplied()) { deleteStagedIfUncommitted(base, dataDir); return false }
      if (gencolsOf(base) != gensAgainst)
        gensAgainst = enforceGenerated(base, name, dataDir, source.columns.toSet)
      idcolsOf(base).foreach(ic => require(filled.schema.fieldNames.contains(ic.col),
        s"identity column ${ic.col} of bronze.$name was declared after this " +
          "merge staged — retry the merge (the writer reserves and fills " +
          "identity values before staging)"))
      defaultsOf(base).foreach { case (c, _) =>
        require(filled.schema.fieldNames.contains(c),
          s"default for column $c of bronze.$name was declared after this " +
            "merge staged — retry the merge (the writer fills defaults " +
            "before staging)")
      }
      val mergedSch = mergedSchema(schemaOpt.getOrElse(filled.schema), filled.schema)
      val candidates = entries.filter(e => ManifestStats.mightMatch(e, keyBounds))
      if (candidates.isEmpty) {
        // pure insert: no target row matches any source key range
        if (commitFilesManifest(base, v + 1, Some(mergedSch), entries ++ staged,
            prev = Some(entries), op = "MERGE", txns = commitTxns,
              mergeKeys = Some(keys))) return true
      } else {
        def rd = schemaOpt.fold(spark.read)(spark.read.schema)
        val priorRefs = dvRefPairs(candidates).toMap
        val priorVecs = DeletionVectors.loadMap(base, priorRefs.toSeq)
        val scan = rd.parquet(candidates.map(e => base.resolve(e.relPath).toString): _*)
        val scanKeyed = onePartitionIfSmall(scan
          .select(col("_metadata.file_path").as("__f") +:
            col("_metadata.row_index").as("__ridx") +: keys.map(col): _*), candidates)
        // null-safe mode (`<=>`, still a hash-joinable equality): a NULL
        // source key REPLACES the target's NULL-key row instead of
        // stranding it — the contract [[graft.streaming.Streams
        // .cdfAggregateSink]] needs so repeated ticks can't accumulate
        // duplicate NULL-key aggregate rows. Default stays Delta's
        // `ON t.k = s.k` equality.
        val flagged0 = (if (nullSafeKeys) {
          val probe = keys.zipWithIndex.foldLeft(keySet) { case (d, (k, i)) =>
            d.withColumnRenamed(k, s"__k$i")
          }.withColumn("__hit", lit(true))
          scanKeyed.join(probe,
            keys.zipWithIndex.map { case (k, i) => scanKeyed(k) <=> probe(s"__k$i") }
              .reduce(_ && _), "left")
        } else {
          scanKeyed.join(keySet.withColumn("__hit", lit(true)), keys, "left")
        }).select(col("__f"), col("__ridx"),
          coalesce(col("__hit"), lit(false)).as("__m"))
        val flagged = if (priorVecs.isEmpty) flagged0
          else flagged0.filter(!ColumnShim.column(graft.sql.DvRowDeleted(
            ColumnShim.expression(col("__f")),
            ColumnShim.expression(col("__ridx")), priorVecs)))
        val perFile = flagged
          .groupBy(col("__f"))
          .agg(collect_list(when(col("__m"), col("__ridx"))).as("__dels"),
            count(lit(1)).as("__visible"))
          .filter(sizeFn(col("__dels")) > 0)
          .collect()
        if (perFile.isEmpty) {
          if (commitFilesManifest(base, v + 1, Some(mergedSch), entries ++ staged,
              prev = Some(entries), op = "MERGE", txns = commitTxns,
              mergeKeys = Some(keys))) return true
        } else {
          val dvDirName =
            s"${DeletionVectors.DirPrefix}${v + 1}_${java.util.UUID.randomUUID.toString.take(8)}"
          val dvDir = base.resolve(dvDirName)
          val updates: Map[String, Option[(String, Long)]] = perFile.map { r =>
            val rel = graft.sql.DvRowDeleted.relPathKey(r.getString(0))
            val newDels = r.getSeq[Long](1).toArray.sorted
            if (newDels.length == r.getLong(2)) rel -> None // all visible rows match
            else {
              val prior = priorVecs.getOrElse(rel, Array.emptyLongArray)
              val merged = DeletionVectors.merge(prior, newDels)
              Files.createDirectories(dvDir)
              val fn = DeletionVectors.fileName(rel)
              DeletionVectors.write(dvDir.resolve(fn), merged)
              rel -> Some((s"$dvDirName/$fn", merged.length.toLong))
            }
          }.toMap
          val kept = entries.flatMap { e =>
            updates.get(graft.sql.DvRowDeleted.relPathKey(e.relPath)) match {
              case None => Some(e)
              case Some(None) => None
              case Some(Some((dvRel, card))) => Some(ManifestStats.withDv(e, dvRel, card))
            }
          }
          if (commitFilesManifest(base, v + 1, Some(mergedSch), kept ++ staged,
              prev = Some(entries), op = "MERGE", txns = commitTxns,
              mergeKeys = Some(keys))) return true
          // lost the CAS: our vectors reference a stale read-set
          deleteRecursively(dvDir)
        }
      }
    }
    throw new IllegalStateException(
      s"mergeBronze($name) lost $maxAttempts consecutive CAS races")
  }

  /** `RESTORE TABLE ... TO VERSION AS OF n` — Delta parity: commit the
    * file set AND schema of a retained `version` as a NEW version on top
    * of the log. Pure metadata — the restored files are re-referenced,
    * never copied — so restoring a 100 TB table after a bad delete costs
    * one log record. History is preserved (the bad commit stays
    * inspectable; RESTORE lands as its own operation, Delta's model), and
    * the restore itself is undoable by another restore. Fails fast if any
    * of the target version's files (data or deletion vectors) were
    * already vacuumed. Concurrency: the usual CAS discipline — a lost
    * race re-commits the same target state on top of the winner (restore
    * semantics are "make the table look like version n", which is
    * insensitive to the intervening writer's version number). */
  def restoreBronze(name: String, version: Int, maxAttempts: Int = 5): Unit = {
    val base = dir("bronze", name)
    val avail = bronzeVersions(base)
    require(avail.contains(version),
      s"version $version of bronze.$name is not retained (available: ${avail.mkString(",")})")
    val target = resolveSnapshot(base, version).getOrElse(throw new IllegalStateException(
      s"version $version of bronze.$name did not resolve — log chain broken"))
    val missing = (target.entries.map(_.relPath) ++ dvRefPairs(target.entries).map(_._2))
      .filterNot(r => Files.exists(base.resolve(r)))
    require(missing.isEmpty,
      s"cannot restore bronze.$name to version $version: ${missing.size} file(s) " +
        s"already vacuumed (e.g. ${missing.headOption.getOrElse("")})")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val cur = readFilesManifest(base).getOrElse(throw new IllegalStateException(
        s"bronze.$name has no committed version to restore on top of"))
      if (cur.version == version) return // already there
      // restore table METADATA with the file set: the target version's own
      // generated columns, identity definitions and defaults, not the
      // current head's. Each identity high watermark stays at the FARTHEST
      // point ever reached —
      // re-issuing ids a restored-away version already allocated would
      // break the uniqueness contract (Delta's identity + RESTORE rule)
      val restoredIds = idcolsAsOf(base, version).map { ic =>
        ic.copy(highWatermark =
          ic.maxWatermark(idcolsOf(base).find(_.col == ic.col).flatMap(_.highWatermark)))
      }
      // row tracking: restoring to a PRE-enable version would hand every
      // restored row a FRESH base (its entries carry none), silently
      // re-assigning ids the stability contract promises never change —
      // refuse with the remedy instead (Delta fails protocol-violating
      // restores the same way)
      require(!(rowIdWmOf(base).isDefined && rowIdWmAsOf(base, version).isEmpty),
        s"cannot restore bronze.$name to version $version: it predates " +
          "enableRowTracking, so its rows carry no row-id bases and the restore " +
          "would re-assign every logical row id — restore to a post-enable " +
          "version instead")
      if (commitFilesManifest(base, cur.version + 1, target.schema, target.entries,
          prev = Some(cur.entries), op = "RESTORE",
          genCols = Some(gencolsAsOf(base, version)),
          idCols = Some(restoredIds),
          defaults = Some(defaultsAsOf(base, version)))) return
    }
    throw new IllegalStateException(
      s"restoreBronze($name) lost $maxAttempts consecutive CAS races")
  }

  /** One [[ManifestStats.StatPred]] as a Column over the parquet-twin
    * layout ([[writeCheckpointParquet]]). NULL stats are kept (can't
    * prune); a column or type the twin doesn't carry degrades to keep-all
    * for that predicate — skipping stays a superset guarantee. */
  private def ckptPredCond(schema: org.apache.spark.sql.types.StructType,
      p: ManifestStats.StatPred): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    ManifestStats.encodeValue(p.value) match {
      case Some((tag, s)) =>
        val (mn, mx) = (s"__min__${p.column}", s"__max__${p.column}")
        def litV = tag match {
          case 'l' => lit(s.toLong)
          case 'f' => lit(s.toDouble)
          case 'b' => lit(if (s == "1") 1 else 0)
          case _ => lit(s)
        }
        def has(c: String) = schema.fieldNames.contains(c) &&
          schema(c).dataType == Lakehouse.tagType(tag)
        p match {
          case _: ManifestStats.StatGte =>
            if (has(mx)) col(mx).isNull || col(mx) >= litV else lit(true)
          case _: ManifestStats.StatLte =>
            if (has(mn)) col(mn).isNull || col(mn) <= litV else lit(true)
          case _: ManifestStats.StatEq =>
            (if (has(mn)) col(mn).isNull || col(mn) <= litV else lit(true)) &&
              (if (has(mx)) col(mx).isNull || col(mx) >= litV else lit(true))
        }
      case None => lit(true)
    }
  }

  /** DISTRIBUTED stats-pruned resolve — the Delta checkpoint-parquet read:
    * the nearest checkpoint's parquet twin is filtered as a DataFrame
    * (min/max predicates pushed to the parquet scan), so the DRIVER
    * materializes only the MATCHING relPaths plus the delta-chain tail
    * (bounded by the checkpoint cadence), never the full live-file list —
    * at 1M live files a one-date probe holds the date's files, not 100 MB
    * of entries. Returns (matching paths, driver-materialized entry
    * count); None when the chain has no parquet twin (small table or
    * pre-twin log) — callers fall back to the in-memory resolve. */
  private def resolvePrunedDistributed(base: Path, version: Int,
      preds: Seq[ManifestStats.StatPred]): Option[(Seq[(String, Option[String])], Int)] = {
    import org.apache.spark.sql.functions.{col, lit}
    // walk down to the nearest checkpoint via header peeks only
    var deltas = List.empty[LogRecord]
    var ckptHeader: Option[RecordHeader] = None
    var v = version
    while (ckptHeader.isEmpty) {
      val h = readRecordHeader(base.resolve(s"_files_v$v")).getOrElse(return None)
      requireReaderFeatures(base, h)
      if (!h.isDelta) ckptHeader = Some(h)
      else {
        deltas = readRecord(base.resolve(s"_files_v$v")).get :: deltas
        v -= 1
      }
    }
    val ckptDir = ckptHeader.get.ckptDir.map(base.resolve)
      .filter(Files.exists(_)).getOrElse(return None)
    // fold the delta tail (ascending): O(interval activity) driver objects
    val adds = scala.collection.mutable.LinkedHashMap.empty[String, ManifestStats.FileEntry]
    val removed = scala.collection.mutable.Set.empty[String]
    deltas.foreach { d =>
      d.removes.foreach { r => if (adds.remove(r).isEmpty) removed += r }
      d.adds.foreach(e => adds(e.relPath) = e)
    }
    val df = spark.read.parquet(ckptDir.toString)
    val cond = preds.map(ckptPredCond(df.schema, _)).reduceOption(_ && _).getOrElse(lit(true))
    val filtered =
      if (removed.isEmpty) df.filter(cond)
      else df.filter(cond && !col("relPath").isInCollection(removed))
    // the deletion-vector reference rides the twin as the __min__ column of
    // the [[ManifestStats.DvCol]] pseudo-stat; pre-DV twins lack the column
    // and read as vector-free (correct: their entries predate vectors)
    val dvTwinCol = s"__min__${ManifestStats.DvCol}"
    val fromCkpt =
      if (df.schema.fieldNames.contains(dvTwinCol))
        filtered.select(col("relPath"), col(dvTwinCol)).collect()
          .map(r => (r.getString(0), Option(r.getString(1)))).toSeq
      else filtered.select("relPath").collect()
        .map(r => (r.getString(0), Option.empty[String])).toSeq
    val fromDeltas = adds.valuesIterator
      .filter(e => ManifestStats.mightMatch(e, preds))
      .map(e => (e.relPath, ManifestStats.dvRef(e).map(_._1))).toSeq
    Some(((fromCkpt ++ fromDeltas).map { case (r, dv) =>
      (base.resolve(r).toString, dv) }, fromCkpt.size + adds.size))
  }

  /** Live data files of a table after FILE-LEVEL DATA SKIPPING: entries
    * whose recorded min/max ranges cannot satisfy `preds` are pruned
    * before Spark ever lists them (a file without stats for a column is
    * never skipped on it). Large logs resolve DISTRIBUTED through the
    * checkpoint parquet twin ([[resolvePrunedDistributed]]); smaller ones
    * in driver memory. */
  def prunedFilePaths(layer: String, name: String,
      preds: Seq[ManifestStats.StatPred]): Seq[String] =
    prunedFilePathsMetered(layer, name, preds)._1.map(_._1)

  /** [[prunedFilePaths]] plus the number of entries the DRIVER materialized
    * to answer it — the observable the 100 TB scaling spec pins: with a
    * parquet-twin checkpoint, a selective probe must cost O(matching +
    * delta tail), not O(live files). */
  private[pipeline] def prunedFilePathsMetered(layer: String, name: String,
      preds: Seq[ManifestStats.StatPred]): (Seq[(String, Option[String])], Int) = {
    val base = dir(layer, name)
    val v = bronzeVersions(base).lastOption.getOrElse(throw noCommit(layer, name))
    prunedAtVersionMetered(base, v, preds)
  }

  /** Stats-pruned file paths AS OF any retained version: the twin
    * read ([[resolvePrunedDistributed]]) works at every version, not just
    * the latest — the walk to the nearest checkpoint starts wherever the
    * caller points it — so an AS-OF probe holds O(matching + delta tail)
    * on the driver too; falls back to the in-memory resolve when the
    * version's chain has no twin. */
  private def prunedAtVersionMetered(base: Path, version: Int,
      preds: Seq[ManifestStats.StatPred]): (Seq[(String, Option[String])], Int) =
    resolvePrunedDistributed(base, version, preds).getOrElse {
      val snap = resolveSnapshot(base, version).get
      (snap.entries.filter(e => ManifestStats.mightMatch(e, preds))
        .map(e => (base.resolve(e.relPath).toString, ManifestStats.dvRef(e).map(_._1))),
        snap.entries.size)
    }

  /** Scan pruned (absolute path, dv relPath) pairs applying any deletion
    * vectors — the pruned-read twin of [[readEntriesWithDv]]. */
  private def readPrunedWithDv(base: Path,
      schemaOpt: Option[org.apache.spark.sql.types.StructType],
      paths: Seq[(String, Option[String])]): DataFrame = {
    def rd = schemaOpt.fold(spark.read)(spark.read.schema)
    val (dvd, plain) = paths.partition(_._2.isDefined)
    if (dvd.isEmpty) rd.parquet(paths.map(_._1): _*)
    else {
      val masked = readDvFiltered(base, rd, dvd.map(_._1),
        dvd.map { case (p, dv) => graft.sql.DvRowDeleted.relPathKey(p) -> dv.get })
      if (plain.isEmpty) masked
      else masked.unionByName(rd.parquet(plain.map(_._1): _*))
    }
  }

  /** Time-travel scan WITH file skipping — [[tableWhere]] AS OF `version`:
    * only files of that version whose stats admit `preds` are read, and
    * the resolve goes through the checkpoint parquet twin exactly like the
    * latest-version path, so a selective AS-OF probe costs the driver
    * O(matching + delta tail), never O(live files at that version). The
    * caller still applies its exact row filter (skipping is a superset
    * guarantee). Also returns the driver-materialized entry count (the
    * AS-OF twin of [[prunedFilePathsMetered]], for the scaling spec). */
  private[pipeline] def tableAtWhereMetered(layer: String, name: String,
      version: Int, preds: Seq[ManifestStats.StatPred]): (DataFrame, Int) = {
    val avail = tableVersions(layer, name)
    require(avail.contains(version),
      s"version $version of $layer.$name is not on disk (available: ${avail.mkString(",")})")
    val base = dir(layer, name)
    val (paths, held) = prunedAtVersionMetered(base, version, preds)
    val missing = (paths.map(_._1) ++ paths.flatMap(_._2.map(r => base.resolve(r).toString)))
      .filterNot(p => Files.exists(Paths.get(p)))
    require(missing.isEmpty,
      s"version $version of $layer.$name references ${missing.size} vacuumed file(s) " +
        s"(e.g. ${missing.head}); keep vacuumBronze keepVersions >= " +
        s"bronzeCheckpointInterval ($bronzeCheckpointInterval) — or rely on its " +
        "wall-clock floor (retainMillis, default 168h) — for full time travel")
    // schema AS OF that version via a header peek (every commit writes
    // its schema line), never a snapshot resolve
    val schema = readRecordHeader(base.resolve(s"_files_v$version")).flatMap(_.schema)
    if (paths.isEmpty) {
      val s = schema.getOrElse(tableAt(layer, name, version).schema)
      return (spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s), held)
    }
    (readPrunedWithDv(base, schema, paths), held)
  }

  /** Scan with file skipping: only files whose stats admit `preds` are
    * read. The caller still applies its exact row filter — skipping is a
    * superset guarantee, like parquet row-group pruning one level up. */
  def tableWhere(layer: String, name: String,
      preds: Seq[ManifestStats.StatPred]): DataFrame = {
    val base = dir(layer, name)
    val (pruned, _) = prunedFilePathsMetered(layer, name, preds)
    // schema via header peeks — resolving the full snapshot here (even on
    // the no-match path) would re-materialize the very O(live-files) entry
    // list the distributed prune exists to avoid
    val light = logSchemaLight(base)
    if (pruned.isEmpty) {
      val schema = light.getOrElse(table(layer, name).schema)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    readPrunedWithDv(base, light, pruned)
  }

  /** Materialize one silver/gold model (MV refresh = full recompute):
    * `df` lands in a fresh append dir, its footer stats (`__size`,
    * `__rows`, plus min/max of `statsCols` for [[tableWhere]]) are read on
    * the driver, and ONE full-snapshot record commits it under `df`'s
    * schema — an overwrite replaces the schema, it never merges it. The
    * standing version stays live throughout, so a refresh can read its
    * own table.
    *
    * Concurrency contract: a lost CAS re-commits the same files on the
    * next version — concurrent full refreshes are blind overwrites (the
    * last commit wins, the correct semantics for recompute-from-upstream
    * MVs and Delta's blind-overwrite equivalence). Read-modify-write
    * refreshes must NOT use this entry point; [[transactMerge]] turns
    * their read-write race into a detected conflict + retry. */
  def materialize(layer: String, name: String, df: DataFrame,
      statsCols: Seq[String] = Nil): Unit = {
    val base = dir(layer, name)
    val entries = stageSnapshot(base, df, statsCols)._2
    var attempts = 1
    while (!commitFilesManifest(base, tableVersion(layer, name) + 1, Some(df.schema), entries)) {
      require(attempts < 1000, s"materialize of $layer.$name lost 1000 consecutive CAS races")
      attempts += 1
    }
  }

  /** Write `df` into a fresh append dir and collect its file entries;
    * nothing is committed here. */
  private def stageSnapshot(base: Path, df: DataFrame,
      statsCols: Seq[String]): (Path, Seq[ManifestStats.FileEntry]) = {
    Files.createDirectories(base)
    val dataDir = newAppendDir(base, bronzeVersions(base).lastOption.getOrElse(0) + 1)
    df.write.mode(SaveMode.Overwrite).parquet(dataDir.toString)
    (dataDir, ManifestStats.collectStats(spark, dataDir.toString, statsCols,
      dataDir.getFileName.toString))
  }

  /** Transactional (read-set-checked) refresh of one table — the
    * optimistic-concurrency semantics Delta gives the reference's
    * incremental MERGEs:
    *
    *   1. READ: note the head version v, hand the live table to `plan`;
    *   2. COMMIT at EXACTLY v + 1 — if any other writer committed since
    *      the read, the put-if-absent record link fails, the staged dir is
    *      deleted and the transaction retries from a fresh read, merging
    *      on top of the winner instead of silently overwriting it (the
    *      lost update Delta raises `ConcurrentModificationException` for).
    *
    * The conflict-checked read-set is the TARGET table (the standing rows
    * a merge folds new data into — the read whose staleness loses
    * updates). Upstream bronze inputs are append-only and re-read on
    * every attempt, so a retry always folds the latest data. Returns the
    * number of attempts taken (1 = no contention). */
  def transactMerge(layer: String, name: String, maxAttempts: Int = 5)(
      plan: DataFrame => DataFrame): Int = {
    val base = dir(layer, name)
    var attempt = 1
    while (true) {
      val readVersion = tableVersion(layer, name)
      val df = plan(table(layer, name))
      val (dataDir, entries) = stageSnapshot(base, df, Nil)
      if (commitFilesManifest(base, readVersion + 1, Some(df.schema), entries, op = "MERGE"))
        return attempt
      deleteRecursively(dataDir)
      require(attempt < maxAttempts,
        s"transactMerge($layer.$name) lost $maxAttempts consecutive OCC races")
      attempt += 1
    }
    -1 // unreachable
  }

  /** Compaction pass — the OPTIMIZE parity op
    * (reference `job_tasks/ops/optimize_tables.py:116-132`): all live
    * files rewrite at `numFiles` into one fresh append dir and the log
    * commits the swap, so readers never see a half-compacted table and
    * stats are rebuilt for the new files. */
  def compact(layer: String, name: String, numFiles: Int = 1): Unit =
    rewriteLive(dir(layer, name), s"$layer.$name", _.repartition(numFiles),
      Lakehouse.BronzeStatsCols)

  /** OPTIMIZE bin-packing — the INCREMENTAL semantics Delta's OPTIMIZE
    * actually has, which [[compact]]'s full rewrite lacks: only live
    * files smaller than `targetBytes / 2` rewrite (packed into
    * ~`targetBytes` outputs); well-sized files stay untouched, so an
    * every-run cadence costs the small-file BACKLOG, never the table —
    * on a 100 TB table whose nightly append landed 2 GB of small files,
    * this rewrites 2 GB, where [[compact]] would rewrite 100 TB. No-op
    * (returns false) below `minSmallFiles` candidates.
    *
    * CONVERGENCE: the candidate threshold is HALF the packing target
    * (Delta's minFileSize < maxFileSize split) precisely so outputs
    * cannot re-qualify forever — when total backlog ≥ targetBytes, each
    * packed output averages ≥ targetBytes/2 and leaves the candidate
    * set; a smaller backlog packs into ONE file, and one file never
    * re-triggers. A same-threshold rule would rewrite a large backlog on
    * every run (outputs land just UNDER the target).
    *
    * File sizes come from the manifest's `__size` pseudo-stat (recorded
    * by every r11+ commit, Delta's `add.size`); entries from older
    * manifests fall back to one filesystem stat each. Commits as a
    * remove+add DELTA through the normal CAS — a lost race (concurrent
    * append or delete) recomputes the candidate set from the winner's
    * manifest; the orphaned rewrite dir is vacuum debris. No-op on a
    * table with no committed version. */
  def compactSmall(layer: String, name: String,
      targetBytes: Long = Lakehouse.DefaultTargetFileBytes,
      minSmallFiles: Int = 4,
      statsCols: Seq[String] = Lakehouse.BronzeStatsCols,
      maxAttempts: Int = 5,
      bloomCols: Seq[String] = Nil): Boolean = {
    require(targetBytes > 0 && minSmallFiles >= 2,
      s"need targetBytes > 0 and minSmallFiles >= 2, got $targetBytes/$minSmallFiles")
    val base = dir(layer, name)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val BronzeSnapshot(v, schemaOpt, entries) =
        readFilesManifest(base).getOrElse(return false)
      def sizeOf(e: ManifestStats.FileEntry): Long =
        ManifestStats.sizeOf(e).getOrElse(Files.size(base.resolve(e.relPath)))
      // a file carrying a deletion vector is ALWAYS a candidate regardless
      // of size: the rewrite materializes its deletes and drops the vector
      // (Delta's OPTIMIZE-purges-DVs rule), which bounds both the vector
      // metadata a table accumulates and the per-read subtract cost to one
      // maintenance interval of deletes. Outputs are clean, so they never
      // re-qualify on this rule either — convergence holds.
      val smalls = entries.filter(e => sizeOf(e) < targetBytes / 2 ||
        ManifestStats.dvRef(e).isDefined)
      if (smalls.size < minSmallFiles &&
        !smalls.exists(e => ManifestStats.dvRef(e).isDefined)) return false
      val total = smalls.map(sizeOf).sum
      val outFiles = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      val dataDir = newAppendDir(base, v + 1)
      // row-tracked tables read through the row-id face and materialize
      // ids into the outputs
      val tracked = rowIdWmOf(base).isDefined
      (if (tracked) readEntriesRowIds(base, schemaOpt, smalls)
       else readEntriesWithDv(base, schemaOpt, smalls))
        .repartition(outFiles)
        .write.mode(SaveMode.Overwrite).parquet(dataDir.toString)
      // packed files MIX keys — exactly when membership pruning matters
      // most — so bloom-maintained tables re-collect blooms on the repack
      val newEntries0 = ManifestStats.withBlooms(
        ManifestStats.collectStats(spark, dataDir.toString,
          statsCols, dataDir.getFileName.toString),
        ManifestStats.bloomStats(spark, dataDir.toString, bloomCols,
          dataDir.getFileName.toString))
      val newEntries = if (tracked)
        newEntries0.map(ManifestStats.withRowBase(_, ManifestStats.PhysicalRowIds))
        else newEntries0
      val smallPaths = smalls.map(_.relPath).toSet
      val untouched = entries.filterNot(e => smallPaths(e.relPath))
      if (commitFilesManifest(base, v + 1, schemaOpt, untouched ++ newEntries,
          prev = Some(entries), op = "OPTIMIZE", dataChange = false)) return true
    }
    throw new IllegalStateException(
      s"OPTIMIZE bin-packing of $name lost $maxAttempts consecutive CAS races")
  }

  /** Full-rewrite commit over a table's live file set (compaction,
    * clustering): transform → fresh append dir → CAS; a lost race restarts
    * from the winner's manifest so a concurrent append's files are never
    * dropped by the rewrite. */
  private def rewriteLive(base: Path, label: String,
      transform: DataFrame => DataFrame, statsCols: Seq[String],
      maxAttempts: Int = 5, op: String = "OPTIMIZE"): Unit = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val BronzeSnapshot(v, schemaOpt, entries) = readFilesManifest(base).getOrElse(return)
      // deletion vectors are applied and PURGED by any full rewrite: the
      // output files carry only surviving rows and a clean entry;
      // row-tracked tables rewrite through the row-id read face: rows MOVE
      // here, so the ids materialize into the outputs' __row_id column and
      // the new entries carry the PhysicalRowIds marker instead of a base
      val tracked = rowIdWmOf(base).isDefined
      val src = if (tracked) readEntriesRowIds(base, schemaOpt, entries)
        else readEntriesWithDv(base, schemaOpt, entries)
      val df = transform(src)
      val dataDir = newAppendDir(base, v + 1)
      df.write.mode(SaveMode.Overwrite).parquet(dataDir.toString)
      val newEntries0 = ManifestStats.collectStats(spark, dataDir.toString, statsCols,
        dataDir.getFileName.toString)
      val newEntries = if (tracked)
        newEntries0.map(ManifestStats.withRowBase(_, ManifestStats.PhysicalRowIds))
        else newEntries0
      // prev provided, but a full rewrite's delta is never smaller than the
      // snapshot — this commit lands as a natural CHECKPOINT. Rewrites
      // rearrange existing rows, so they commit dataChange=false (streams
      // over the `_a*` glob skip the repacked files)
      if (commitFilesManifest(base, v + 1, schemaOpt, newEntries,
          prev = Some(entries), op = op,
          dataChange = false)) return
    }
    throw new IllegalStateException(
      s"rewrite of $label lost $maxAttempts consecutive CAS races")
  }

  /** `OPTIMIZE ... ZORDER BY (x, y)` parity: rewrite the table clustered
    * along a space-filling curve over two columns AND record per-file
    * min/max for both in the manifest — after this, [[tableWhere]]
    * rectangle predicates skip whole files on EITHER dimension (and
    * parquet row-group pruning continues below file level). `curve`:
    * "hilbert" (default — tighter envelopes, see `operators/Layout`) or
    * "zorder". The rewrite is a fresh committed version, readers never
    * see a half-clustered table. */
  def compactClustered(layer: String, name: String, xCol: String, yCol: String,
      numFiles: Int, curve: String = "hilbert"): Unit = {
    import org.apache.spark.sql.functions.col
    def clustered(df: DataFrame): DataFrame = curve match {
      case "hilbert" => graft.operators.Layout.hilbertBy(df, col(xCol), col(yCol),
        partitions = numFiles)
      case "zorder" => graft.operators.Layout.zorderBy(df, col(xCol), col(yCol),
        partitions = numFiles)
      case other => throw new IllegalArgumentException(s"unknown curve $other")
    }
    rewriteLive(dir(layer, name), s"$layer.$name", clustered,
      (Lakehouse.BronzeStatsCols ++ Seq(xCol, yCol)).distinct, op = "OPTIMIZE ZORDER")
  }

  /** `OPTIMIZE ... ZORDER BY (c1, …, cK)` for K ≥ 2 dimensions: rewrite
    * clustered by the K-dim Morton code ([[graft.operators.Layout.zorderByN]])
    * and record per-file min/max for every cluster column — [[tableWhere]]
    * then skips whole files for a selective filter on ANY of the K keys.
    * Per-dimension resolution shrinks as K grows (62/K bits); 3-4 keys is
    * the practical ceiling, the same guidance Delta gives for ZORDER BY. */
  def compactClusteredN(layer: String, name: String, clusterCols: Seq[String],
      numFiles: Int, bits: Int = 0): Unit = {
    import org.apache.spark.sql.functions.col
    require(clusterCols.size >= 2, s"need >= 2 cluster columns, got $clusterCols")
    def clustered(df: DataFrame): DataFrame =
      graft.operators.Layout.zorderByN(df, clusterCols.map(col), bits,
        partitions = numFiles)
    rewriteLive(dir(layer, name), s"$layer.$name", clustered,
      (Lakehouse.BronzeStatsCols ++ clusterCols).distinct, op = "OPTIMIZE ZORDER")
  }

  /** Materialize as a BUCKETED catalog table (`<layer>_<name>`): rows
    * hash-partitioned into `buckets` files on `bucketCols` at write time, so
    * joins/aggregations on those columns skip their shuffle entirely — the
    * co-located-join technique for fact tables repeatedly joined on the same
    * key at scale (bucket both sides the same way once, never shuffle them
    * again). Read back via [[bucketedTable]]; bucket metadata lives in the
    * session catalog. */
  def materializeBucketed(
      layer: String, name: String, df: DataFrame,
      bucketCols: Seq[String], buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", dir(layer, s"${name}__bucketed").toString)
      .saveAsTable(s"${physicalSchema(layer)}_$name")

  def bucketedTable(layer: String, name: String): DataFrame =
    spark.table(s"${physicalSchema(layer)}_$name")

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      // close the walk stream (it holds an fd) — same discipline as listDir
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

object Lakehouse {

  /** Physical column name carrying materialized row ids in REWRITTEN files
    * (row tracking). Never part of the log schema — plain reads, which scan
    * under the log schema, never see it. */
  val PhysRowIdCol = "__row_id"

  /** One identity-column declaration (Delta GENERATED ALWAYS AS IDENTITY):
    * values are allocated by the ENGINE as `start, start+step, …`;
    * `highWatermark` is the last value ever reserved (None until the first
    * allocation). Uniqueness is guaranteed by log-atomic range RESERVATION
    * ([[Lakehouse.reserveIdentity]]); contiguity is NOT — a writer that
    * reserves and then crashes leaks a gap, exactly Delta's contract. */
  final case class IdentityCol(col: String, start: Long, step: Long,
      highWatermark: Option[Long]) {
    /** First value of the next allocation. */
    def nextValue: Long = highWatermark.map(_ + step).getOrElse(start)
    /** The watermark FARTHER along the step direction — RESTORE must never
      * move allocation backwards (re-issuing ids a restored-away version
      * already handed out). */
    def maxWatermark(other: Option[Long]): Option[Long] = (highWatermark, other) match {
      case (Some(a), Some(b)) => Some(if (step > 0) math.max(a, b) else math.min(a, b))
      case (a, b) => a.orElse(b)
    }
  }

  /** Default file-stats columns for bronze logs: `snapshot_date` (the
    * date-bounded scan's prune key, [[tableWhere]] — file skipping
    * replaces hive partition pruning) and `run_id` (bounds idempotent
    * re-ingest deletes to the files a run actually touched). */
  val BronzeStatsCols: Seq[String] = Seq("snapshot_date", "run_id")

  /** Default bronze checkpoint cadence (see `bronzeCheckpointInterval`):
    * Delta's `delta.checkpointInterval` default. */
  val DefaultCheckpointInterval: Int = 10

  /** Entry-count floor for writing a checkpoint's parquet twin: below it
    * the driver-side resolve is already cheap and a Spark write job per
    * commit would dominate; above it stats-pruned scans resolve
    * distributed. */
  val CheckpointParquetMinEntries: Int = 64

  /** Default wall-clock retention for [[Lakehouse.vacuumBronze]] — 168 h,
    * Delta's `VACUUM ... RETAIN` default. */
  val DefaultVacuumRetainMillis: Long = 168L * 60 * 60 * 1000

  /** Target output size for [[Lakehouse.compactSmall]] bin-packing —
    * 128 MiB, one HDFS/parquet-friendly split. */
  val DefaultTargetFileBytes: Long = 128L << 20

  /** Spark type of a stats tag in the checkpoint parquet twin. */
  private[pipeline] def tagType(t: Char): org.apache.spark.sql.types.DataType = t match {
    case 'l' => org.apache.spark.sql.types.LongType
    case 'f' => org.apache.spark.sql.types.DoubleType
    case 'b' => org.apache.spark.sql.types.IntegerType
    case _ => org.apache.spark.sql.types.StringType
  }

  /** dbt-style runtime schema indirection (reference `dbt/models/schema.yml:5`
    * + `scripts/dbt_run_gold.py:211` resolve schema names per environment at
    * run time): `GRAFT_SCHEMA_BRONZE` / `GRAFT_SCHEMA_SILVER` /
    * `GRAFT_SCHEMA_GOLD` re-point a logical layer at a different physical
    * schema directory — the dev-sandbox / blue-green pattern — without any
    * code change. `env` is injectable so specs can exercise the parse
    * without mutating the process environment. */
  def envSchemaOverrides(env: String => Option[String] = sys.env.get): Map[String, String] =
    Seq("bronze", "silver", "gold")
      .flatMap(l => env(s"GRAFT_SCHEMA_${l.toUpperCase}").map(l -> _))
      .toMap
}
