package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Set-oriented rewrites of the reference's row-at-a-time mutations.
  *
  * The reference updates row-by-row over ODBC — `update_data`
  * (`sql.py:191-249`) issues one UPDATE statement *per record*, and
  * `update_from_table` (`sql.py:253-289`) templates a single
  * UPDATE…FROM…JOIN. Both collapse to the same Spark shape: one shuffle
  * (or broadcast) join of the updates against the target plus a coalesce
  * projection — per-record commits become a single job commit
  * (SURVEY.md §3.3). At 100 TB this is the only viable shape: the join
  * shuffles on the key once, and a small updates side broadcasts.
  */
object Mutations {

  /** Apply `updates` to `target` by `keys`: rows whose key matches take the
    * updates' non-null column values; unmatched target rows pass through.
    * Column set of `updates` must be keys ⊆ cols ⊆ target cols.
    * This is `update_data`/`update_from_table` as one equi-join.
    *
    * No forced broadcast: an updates side of unbounded size must be
    * allowed to shuffle-join (a hardcoded hint OOMs the moment a backfill
    * ships a big update set). AQE still turns the join into a broadcast
    * at runtime whenever the updates side measures small; callers that
    * KNOW the side is tiny can pass `hintBroadcast = true`. */
  def applyUpdates(target: DataFrame, updates: DataFrame, keys: Seq[String],
      hintBroadcast: Boolean = false): DataFrame = {
    // a misspelled updates column would otherwise be dropped silently by
    // the projection below — the caller would believe the update applied
    require(updates.columns.toSet.subsetOf(target.columns.toSet),
      s"updates columns ${updates.columns.toSet -- target.columns.toSet} " +
        "not present in target")
    require(keys.forall(updates.columns.contains),
      s"updates must carry the key columns $keys")
    // CONTRACT: updates carries at most one row per key — a duplicate key
    // fans the left join out and multiplies target rows, which a per-row
    // UPDATE can never do. Deduplicate upstream (e.g. keep-latest CDC).
    val updatedCols = updates.columns.filterNot(keys.contains)
    val t = target.alias("t")
    val u0 = updates.alias("u")
    val u = if (hintBroadcast) broadcast(u0) else u0
    val joined = t.join(u, keys, "left")
    joined.select(target.columns.toIndexedSeq.map { c =>
      if (keys.contains(c)) col(c)
      else if (updatedCols.contains(c)) coalesce(col(s"u.$c"), col(s"t.$c")).as(c)
      else col(s"t.$c")
    }: _*)
  }

  /** Upsert: applyUpdates + insert of update rows whose key has no match
    * in the target (`sql.py:191-249` extended with insert-of-unmatched;
    * the post-image keyset is the union of both keysets). Updates must
    * carry the full target schema for the insert half. */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val updated = applyUpdates(target, updates, keys)
    val newRows = updates.join(target.select(keys.map(col): _*), keys, "left_anti")
    updated.unionByName(newRows.select(target.columns.toIndexedSeq.map(col): _*))
  }

  /** SCD Type-2 merge: apply a change batch to a versioned dimension,
    * preserving history — the standard warehouse shape the reference's
    * flat `update_data` overwrite cannot express (every flowbyte UPDATE
    * destroys the prior attribute values; `sql.py:191-249`).
    *
    * `dim` carries the full history: business key(s) + tracked
    * attribute columns + the three meta columns `valid_from`,
    * `valid_to` (null = open) and `is_current`. `changes` carries
    * exactly keys + tracked attributes (the post-image of each changed
    * entity). Per joined row:
    *   - change row equal on every tracked attribute (null-safe) →
    *     NO new version (idempotent re-delivery is a no-op);
    *   - attribute change → current row closes (`valid_to = eff`,
    *     `is_current = false`) and a new open version starts at `eff`;
    *   - unknown key → new open version (SCD2 insert);
    *   - no change row → current row passes through.
    * Closed history rows pass through untouched, never joined.
    *
    * Contract (same single-row discipline as [[applyUpdates]]): at most
    * one `is_current` row per key in `dim` and at most one row per key
    * in `changes` — dedupe upstream (keep-latest CDC).
    *
    * Scale shape: ONE key-keyed join of the current slice against the
    * batch (broadcast when the batch is small — AQE decides, or pass
    * `hintBroadcast`), and each joined row emits its 1-or-2 output rows
    * through a conditional struct-array explode — a single pass, no
    * second join or window, history untouched (zero shuffle on the
    * closed rows). This is the Delta/Iceberg MERGE access pattern
    * expressed on plain frames. */
  def scd2Merge(dim: DataFrame, changes: DataFrame, keys: Seq[String],
      eff: Column, hintBroadcast: Boolean = false): DataFrame = {
    val meta = Seq("valid_from", "valid_to", "is_current")
    require(meta.forall(dim.columns.contains),
      s"dim must carry the SCD2 meta columns $meta")
    require(changes.columns.toSet == dim.columns.toSet -- meta,
      "changes must carry exactly the dim's key + tracked columns; got " +
        s"${changes.columns.toSet} vs ${dim.columns.toSet -- meta}")
    require(keys.nonEmpty && keys.forall(changes.columns.contains),
      s"changes must carry the key columns $keys")
    val tracked = changes.columns.filterNot(keys.contains).toSeq
    val cur = dim.filter(col("is_current"))
    val hist = dim.filter(!col("is_current"))
    val u0 = changes.select(keys.map(col) ++
      tracked.map(c => col(c).as(s"u_$c")): _*)
    val u = if (hintBroadcast) broadcast(u0) else u0
    // full outer on the keys: current-only rows keep, matched rows diff,
    // change-only rows insert. Side presence is read off non-nullable
    // payload (is_current on the dim side, a changes-side marker lit).
    val j = cur.join(u.withColumn("u_present", lit(true)),
      keys, "full_outer")
    val matched = col("is_current").isNotNull && col("u_present").isNotNull
    val differs = tracked.map(c => !(col(c) <=> col(s"u_$c"))).reduce(_ || _)
    val nullTo = lit(null).cast(dim.schema("valid_to").dataType)
    def emit(trackedFrom: String => Column, vf: Column, vt: Column,
        curFlag: Column): Column =
      struct(dim.columns.toIndexedSeq.map {
        case k if keys.contains(k) => col(k).as(k)
        case "valid_from" => vf.as("valid_from")
        case "valid_to"   => vt.as("valid_to")
        case "is_current" => curFlag.as("is_current")
        case t => trackedFrom(t).as(t)
      }: _*)
    val keepRow = emit(col, col("valid_from"), col("valid_to"), lit(true))
    val closedRow = emit(col, col("valid_from"), eff, lit(false))
    val freshRow =
      emit(t => col(s"u_$t"), eff, nullTo, lit(true))
    val rows = array(
      when(col("is_current").isNotNull &&
        (col("u_present").isNull || !differs), keepRow),
      when(matched && differs, closedRow),
      when((matched && differs) || col("is_current").isNull, freshRow))
    val emitted = j
      .select(explode(filter(rows, r => r.isNotNull)).as("r"))
      .select(col("r.*"))
    hist.unionByName(emitted)
  }

  /** Merge pre-aggregated state tables (algebraic-aggregate roll-up) —
    * the incremental-ETL shape: a nightly pipeline keeps a keyed
    * aggregate table and folds each new partition's PARTIAL aggregate
    * in, never rescanning history. Works because sum/count/min/max are
    * mergeable (count merges as SUM of partial counts; avg is derived
    * sum/count at read time — never stored, stored averages don't
    * merge). All inputs must share the same schema: keys + `sums` +
    * `mins` + `maxs`.
    *
    * Scale: each state table is already aggregate-sized (keys, not
    * events); the merge is one key-keyed agg over their union with
    * map-side partials — cost proportional to the STATE, independent
    * of the history the state summarizes. */
  def mergeAggStates(states: Seq[DataFrame], keys: Seq[String],
      sums: Seq[String], mins: Seq[String], maxs: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state table")
    val cols = (keys ++ sums ++ mins ++ maxs).toSet
    states.foreach(st => require(st.columns.toSet == cols,
      s"state schema mismatch: ${st.columns.toSet} vs $cols"))
    val aggs = sums.map(c => sum(col(c)).as(c)) ++
      mins.map(c => min(col(c)).as(c)) ++ maxs.map(c => max(col(c)).as(c))
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Conditional delete (`sql.py:321-332`) as an anti-filter: keep exactly
    * the rows NOT matching the caller's predicate string. SQL DELETE
    * removes only rows where the predicate IS TRUE — rows where it
    * evaluates NULL (nullable columns) are KEPT, so the kept-set filter
    * is `NOT coalesce(pred, false)`; a plain `!pred` would silently
    * delete the NULL rows too. Catalyst parses the predicate (`expr`),
    * so filters still push down to the scan.
    *
    * `FlowEngine.deleteDataWithConditions` applies this to the rows of
    * only the files whose footer statistics admit a row where `pred` is
    * TRUE ([[Sinks.candidateFiles]]) and swaps the result in for exactly
    * those files ([[Sinks.overwriteInPlace]]); a file the delete empties
    * is removed, and the other files are not touched. */
  def deleteWhere(table: DataFrame, conditions: String): DataFrame =
    table.filter(!coalesce(expr(conditions), lit(false)))
}
