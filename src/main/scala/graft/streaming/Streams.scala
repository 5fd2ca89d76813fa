package graft.streaming

import org.apache.spark.sql.DataFrame

/** Change-feed CONSUMERS of the bronze log: each tick reads the changes
  * committed since a durable cursor ([[graft.pipeline.Lakehouse.changesCursor]]),
  * commits its effect on the same log every table uses, then advances the
  * cursor. The reference pipeline is batch-only (`continuous: false`,
  * SURVEY §2.9); these are the incremental faces the storage oracles gate
  * (st06, st07):
  *
  *   - [[changesSink]]      — materializes a table's change feed into a
  *     bronze table, one idempotent append per source version;
  *   - [[cdfAggregateSink]] — an aggregate MV folded from the feed, with
  *     retractions; [[cdfAggregate]] is its read face.
  *
  * Both are exactly-once by the log's writer transactions (Delta's
  * SetTransaction `(appId, version)`): a tick replayed after a crash
  * before its cursor commit re-derives the same range, and every append or
  * merge it already committed is a txn no-op. Each sink registers its
  * cursor ([[graft.pipeline.Lakehouse.registerCursor]]), so vacuum keeps
  * the versions the consumer has yet to read.
  */
object Streams {

  /** INCREMENTAL AGGREGATE MV WITH RETRACTIONS, maintained from the change
    * data feed: the target bronze table holds `keys ++ (cnt, sum_<c>…)`
    * for the source's visible rows, and one tick folds every change since
    * the cursor into it — `insert` rows add (+1, +value), `delete` rows
    * RETRACT (−1, −value). The latest-wins silver fold retracts by
    * re-deriving each retraction-hit grain instead (`Silver.latestWinsFeedTick`).
    *
    * Per-tick cost ∝ CHURN, never table size: the deltas are one groupBy
    * over the tick's changes, the current values for affected keys come
    * from the stats-bounded candidate scan inside
    * [[graft.pipeline.Lakehouse.mergeBronze]], and the commit touches
    * O(files covering affected keys). On a 100 TB source a tick costs the
    * tick's changes, not a re-aggregation.
    *
    * EXACTLY-ONCE end to end by composing two primitives of this log:
    * the merge commits under writer txn
    * `("cdfagg:" + source + ":" + target, toVersion)`
    * — so a crash AFTER the merge but BEFORE the cursor advance replays
    * the same range, recomputes, and the replayed merge is a txn NO-OP
    * (the recomputed frame is discarded unread) — and the cursor advances
    * only after the merge returns. A key whose count reaches zero keeps a
    * `cnt = 0` tombstone row (merge cannot delete-without-replacing);
    * READS must filter `cnt > 0` — [[cdfAggregate]] is that read face.
    * Returns the `(from, to]` range folded, or None when caught up. */
  def cdfAggregateSink(lake: graft.pipeline.Lakehouse, source: String,
      target: String, keys: Seq[String], sumCols: Seq[String],
      cursorDir: String, maxVersions: Int = Int.MaxValue): Option[(Int, Int)] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
    require(keys.nonEmpty, "cdfAggregateSink needs at least one key column")
    lake.registerCursor(source, cursorDir)
    val cur = java.nio.file.Paths.get(cursorDir)
    val from = lake.changesCursor(cur)
    val to = lake.cappedChangesTo(source, from, maxVersions)
    if (to <= from) return None
    val changes0 = lake.tableChanges(source, from, to)
    // a range of pure OPTIMIZE/VACUUM commits (dataChange=false) carries
    // no rows: advance past it without merging — an unchanged source's
    // tick must cost a cursor read, not an empty-delta merge commit
    if (lake.exists("bronze", target) && changes0.isEmpty) {
      lake.commitChangesCursor(cur, to)
      return Some((from, to))
    }
    // a CAPPED range can end before an ADD COLUMNS landed a column the
    // key/sum list references
    val changes = lake.fillHeadColumns(source, changes0)
    val metaCols = Seq("_change_type", "_commit_version")
    val signed = changes
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .drop(metaCols: _*).withColumn("__s", lit(1L))
      .unionByName(changes
        .filter(col("_change_type").isin("delete", "update_preimage"))
        .drop(metaCols: _*).withColumn("__s", lit(-1L)))
    val aggs = (sum(col("__s")).as("cnt") +:
      sumCols.map(c => sum(col(c) * col("__s")).as(s"sum_$c")))
    val deltas = signed.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val merged =
      if (!lake.exists("bronze", target)) deltas
      else {
        val prev = lake.table("bronze", target)
        // additions widen DECIMAL precision — cast back to the delta
        // schema's types so the target schema is IDENTICAL every tick
        // (the log's schema evolution is ADD COLUMNS, never retype)
        // BOTH sides need the null-default: a tick whose rows for a key
        // all carry NULL in the summed column aggregates to a NULL delta,
        // and 500 + NULL = NULL would wipe the key's accumulated sum
        // (from-scratch SUM ignores NULLs — the fold must too)
        val sumExprs = sumCols.map { c =>
          (coalesce(prev.col(s"sum_$c"), lit(0))
            + coalesce(deltas.col(s"sum_$c"), lit(0)))
            .cast(deltas.schema(s"sum_$c").dataType).as(s"sum_$c")
        }
        // NULL-SAFE fold join: the capped-range missing-column fill above
        // can hand a KEY column typed NULLs, and a plain equality join
        // would miss the target's standing NULL-key row — the delta would
        // then overwrite instead of fold (and the merge below, null-safe
        // too, would otherwise strand a duplicate NULL-key row per tick)
        deltas.join(prev,
          keys.map(k => deltas(k) <=> prev(k)).reduce(_ && _), "left").select(
          keys.map(deltas.col) ++
            Seq((coalesce(prev.col("cnt"), lit(0L)) + deltas.col("cnt")).as("cnt")) ++
            sumExprs: _*)
      }
    // the txn appId carries the SOURCE too: two sources folding into one
    // target are independent writers — a shared appId would make the
    // second source's first merge look like a replay of the first's and
    // silently drop it while its cursor still advanced
    lake.mergeBronze(target, merged, keys,
      txn = Some((s"cdfagg:$source:$target", to.toLong)),
      nullSafeKeys = true)
    lake.commitChangesCursor(cur, to)
    Some((from, to))
  }

  /** The read face of a [[cdfAggregateSink]] target: visible aggregate
    * rows only (zero-count tombstones left by full retraction filtered
    * out; an OPTIMIZE rewrite purges them physically). */
  def cdfAggregate(lake: graft.pipeline.Lakehouse, target: String): DataFrame =
    lake.table("bronze", target)
      .filter(org.apache.spark.sql.functions.col("cnt") > 0)

  /** EXACTLY-ONCE materialization of a bronze table's change data feed: one
    * tick drains every version committed since the cursor
    * ([[graft.pipeline.Lakehouse.changesCursor]]) into the bronze table
    * `target`, one append per source version, then advances the cursor.
    * Returns the `(from, to]` range drained, or None when caught up.
    *
    * Exactly-once by the log's writer transactions: version `v`'s changes
    * append under txn `("changes:" + name + ":" + target, v)`, and
    * [[graft.pipeline.Lakehouse.tableChanges]] is a pure function of the
    * log. A crash after some appends and before the cursor commit makes
    * the next tick replay those versions as txn no-ops, even when newer
    * source versions landed meanwhile; the txn is keyed on each version,
    * not on the tick's end, because a replay over a longer range would
    * otherwise re-append the rows of the shorter one. A version with no
    * data change (an OPTIMIZE) commits nothing to the target. The cursor
    * must stay inside the source's vacuum retention window — see the
    * contract note at [[graft.pipeline.Lakehouse.tableChangesSince]]. */
  def changesSink(lake: graft.pipeline.Lakehouse, name: String,
      cursorDir: String, target: String,
      maxVersions: Int = Int.MaxValue): Option[(Int, Int)] = {
    lake.registerCursor(name, cursorDir)
    val cur = java.nio.file.Paths.get(cursorDir)
    val from = lake.changesCursor(cur)
    // bounded catch-up: ONE shared cap ([[graft.pipeline.Lakehouse.cappedChangesTo]])
    val to = lake.cappedChangesTo(name, from, maxVersions)
    if (to <= from) None
    else {
      // per-version appends: O(versions since cursor) log resolves, each
      // O(that commit's changed files) — never a two-snapshot diff
      (from + 1 to to).foreach { v =>
        val changes = lake.tableChanges(name, v - 1, v)
        if (!changes.isEmpty)
          lake.appendBronze(target, changes, txn = Some((s"changes:$name:$target", v.toLong)))
      }
      lake.commitChangesCursor(cur, to)
      Some((from, to))
    }
  }
}
