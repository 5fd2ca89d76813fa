package graft.pipeline

import java.nio.file.{Files, Path}

/** On-disk codec + helpers for DELETION VECTORS — the merge-on-read
  * delete representation (Delta's deletion-vector table feature,
  * `remove`+`add` with `deletionVector` descriptors): instead of
  * copy-on-write rewriting every file that contains a matching row, a
  * delete records the POSITIONS of the deleted rows per file and readers
  * subtract them at scan time. On a 100 TB table a predicate delete that
  * touches one row in each of 10 000 files costs O(deleted rows) of
  * metadata (~80 KB of positions) instead of rewriting ~1 TB of parquet.
  *
  * FORMAT (one `.dv` file per data file, per delete commit): a magic int,
  * a count, then the deleted row indexes as big-endian longs, sorted
  * ascending, deduplicated. Row indexes are PHYSICAL positions within the
  * parquet file (the `_metadata.row_index` column of a parquet scan),
  * which are stable for immutable files — and every data file in the
  * bronze log IS immutable (appends create new dirs, rewrites create new
  * files). A later delete on the same file writes a NEW dv file carrying
  * the MERGED set (the manifest entry points at exactly one dv file, so
  * a reader never unions vectors); the superseded dv file becomes
  * unreferenced and is reclaimed by vacuum like any other file.
  *
  * Sorted-array representation (not a roaring bitmap): membership is one
  * binary search, merging is one linear pass, and the encoding is
  * byte-stable for tests. At the cardinalities the purge discipline
  * allows (OPTIMIZE rewrites any file whose vector exists — see
  * [[Lakehouse.compactSmall]]), the 8-bytes-per-row cost is bounded by
  * one maintenance interval of deletes, never by table history.
  */
object DeletionVectors {

  private val Magic = 0x47445631 // "GDV1"

  /** Directory prefix DV files live under (`_dv{version}_{uid}/`), chosen
    * to NOT match the `_a*` append-dir glob: a streaming file source over
    * a table's append dirs must never list a vector as data. */
  val DirPrefix = "_dv"

  /** Deterministic dv-file name for a data file's relPath — md5-derived so
    * any relPath maps to one flat, filesystem-safe name (the manifest
    * entry carries the mapping; the name needs no reverse decode). */
  def fileName(dataRelPath: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(dataRelPath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString + ".dv"
  }

  /** Write `rows` (sorted ascending, deduped — require()d) to `path`. */
  def write(path: Path, rows: Array[Long]): Unit = {
    var i = 1
    while (i < rows.length) {
      require(rows(i - 1) < rows(i),
        s"deletion vector rows must be sorted ascending and unique at $path")
      i += 1
    }
    val buf = java.nio.ByteBuffer.allocate(8 + 8 * rows.length)
    buf.putInt(Magic).putInt(rows.length)
    rows.foreach(buf.putLong)
    Files.write(path, buf.array())
  }

  /** Read a deletion vector; fails fast on a foreign or truncated file. */
  def read(path: Path): Array[Long] = {
    val bytes = Files.readAllBytes(path)
    val buf = java.nio.ByteBuffer.wrap(bytes)
    require(bytes.length >= 8 && buf.getInt() == Magic,
      s"$path is not a deletion vector (bad magic)")
    val n = buf.getInt()
    require(bytes.length == 8 + 8L * n,
      s"$path truncated: header says $n rows, file has ${bytes.length} bytes")
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = buf.getLong(); i += 1 }
    out
  }

  /** Merge two sorted-unique position arrays into one (set union). */
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x < y) { out(k) = x; i += 1 }
      else if (y < x) { out(k) = y; j += 1 }
      else { out(k) = x; i += 1; j += 1 }
      k += 1
    }
    while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
    while (j < b.length) { out(k) = b(j); j += 1; k += 1 }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** Load the dv map for a set of entries: data-file relPath (the LAST TWO
    * path segments, the key [[graft.sql.DvRowDeleted]] derives from
    * `_metadata.file_path`) → sorted deleted positions. Driver cost is
    * O(total deleted rows across the listed files) — bounded by the purge
    * discipline, and only paid on tables that currently carry vectors. */
  def loadMap(base: Path, refs: Seq[(String, String)]): Map[String, Array[Long]] =
    refs.map { case (dataRel, dvRel) => dataRel -> read(base.resolve(dvRel)) }.toMap
}
