package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * A materialized [[MapIndex]] snapshot: the read + maintenance surface of
 * the reference engine, Spark-first.
 *
 * Read paths (reference `index.js:124-172`) are pruned parquet scans of
 * the version `_LATEST` names, resolved once per version: [[df]] reads
 * the pointer, then takes the version dir's relation from the store's
 * memo ([[ViewStore.readDir]]), so a read lists no files and infers no
 * schema — the analog of a LevelDB seek on an open snapshot. Range,
 * prefix and point predicates on the clustered `emit_key` column reach
 * the scan as `PushedFilters`, so only the matching files/row-groups are
 * read. The keys are bound by reference ([[ViewStore.keyIs]],
 * [[ViewStore.keyRange]]): reads that differ only in their keys generate
 * the same code, so after the first read of each shape (get, scan,
 * countRange over a given view schema) a read compiles nothing.
 * `get`/`scan` keep their order through [[ViewStore.ordered]]: a
 * view that fits one advisory partition is sorted inside one task (one
 * job, no exchange); a larger one keeps the parallel global sort.
 * Maintenance (`index.js:173-249`) is an anti-join + union upsert keyed
 * on `src_key`.
 */
final class MaterializedView(
    val spark: SparkSession,
    val store: ViewStore,
    val index: MapIndex) extends Serializable {

  /** Current snapshot of the emission relation. */
  def df: DataFrame = store.readLatest(index.name)

  /** Snapshot (time-travel) read of a retained earlier version. */
  def asOf(version: Int): DataFrame = store.readVersion(index.name, version)

  /** Change feed `(fromVersion, toVersion]` — see [[ViewStore.changesBetween]]. */
  def changesBetween(fromVersion: Int, toVersion: Int): DataFrame =
    store.changesBetween(index.name, fromVersion, toVersion)

  /** Netted change feed — final-state-only consumers; see
    * [[MaterializedView.netChanges]]. */
  def changesNetBetween(fromVersion: Int, toVersion: Int): DataFrame =
    MaterializedView.netChanges(changesBetween(fromVersion, toVersion))

  /**
   * Ordered range scan (O6, `index.js:124-138`), with the reference's
   * *intended* `[start, end)` semantics — v0.5.1's `end` option is broken
   * (`index.js:128` double-encodes `start` into the upper bound; SURVEY §2
   * O6) and we deliberately do not replicate that.
   */
  def scan(start: Option[Any] = None, end: Option[Any] = None): DataFrame =
    ViewStore.ordered(range(start, end), Seq("emit_key", "uid"))

  /** The `[start, end)` rows of the current snapshot, unordered. */
  private def range(start: Option[Any], end: Option[Any]): DataFrame = {
    val rows = df
    ViewStore.keyRange(start, end).fold(rows)(rows.filter)
  }

  /** Point/prefix lookup (O8, `index.js:151-172`): all values for one key,
    * in emission order. */
  def get(key: Any): DataFrame =
    ViewStore.ordered(df.filter(ViewStore.keyIs(key)), Seq("uid")).select("emit_value")

  /** COUNT over a range — the reference declared but never implemented this
    * (O16 stub, `index.js:148-150`). Counts the filtered rows directly; a
    * range that fits one advisory partition is counted in one task, so
    * the count needs no exchange either. */
  def countRange(start: Option[Any] = None, end: Option[Any] = None): Long = {
    val rows = range(start, end)
    (if (ViewStore.fitsOnePartition(rows)) rows.coalesce(1) else rows).count()
  }

  /**
   * Incremental view maintenance (O3/O4/O5, `index.js:173-249`): for every
   * changed source key, delete all previous emissions, then insert the new
   * ones. `upserts` is a source batch (rows to re-map); `deleteKeys` is a
   * single-column relation of tombstoned source keys (`{key, deleted:true}`,
   * `index.js:187-205`). An upserted row whose map emits nothing is the
   * empty-emission case (`index.js:218-230`) — its old rows vanish via the
   * anti-join and nothing replaces them.
   *
   * Scale note: the changed-key set of an incremental batch is small, so
   * the anti-join broadcasts it — the big view is scanned once, never
   * shuffled. (Partition-scoped rewrite via the clustered layout is the
   * planned refinement; at test scale a full rewrite per refresh is fine.)
   */
  def refresh(upserts: DataFrame, deleteKeys: Option[DataFrame] = None): MaterializedView = {
    // epoch = the version this refresh will write: keeps uid unique across
    // refreshes so (emit_key, uid) scan order stays deterministic
    val epoch = store.latestVersion(index.name).getOrElse(-1) + 1
    // The emission batch is consumed by TWO write actions (the snapshot and
    // the CDC sidecar) and uid comes from monotonically_increasing_id —
    // deterministic only for a fixed partitioning. Pin the batch once with
    // an eager localCheckpoint so both writes see IDENTICAL uids; without
    // it, a nondeterministically-ordered upserts source could persist one
    // uid in the snapshot and a different one in the sidecar, desyncing the
    // change feed from asOf reads. The batch is delta-sized, so the
    // checkpoint is cheap; a lost checkpoint block fails loudly instead of
    // silently recomputing different uids.
    val newEmissions = index.emissions(upserts, epoch.toLong).localCheckpoint(true)
    val upsertKeys = index.touchedKeys(upserts) // includes empty-emission keys
    val changed = deleteKeys match {
      case Some(d) => upsertKeys.union(d.toDF("src_key")).distinct()
      case None    => upsertKeys
    }
    // Single scan of the previous snapshot: one broadcast outer join tags
    // every row kept/retracted, and both outputs (the new snapshot and the
    // sidecar's delete half) split off the cached tag — the refresh reads
    // v<N-1> once instead of once per output. The cache spills to disk at
    // worst; the flat store rewrites O(view) per refresh anyway, so the
    // read saving is the win (the bucketed store is the 100 TB layout).
    val tagged = df.join(
        broadcast(changed.withColumn("_chg", lit(true))), Seq("src_key"), "left_outer")
      .persist()
    val kept = tagged.filter(col("_chg").isNull).drop("_chg")
    // CDC sidecar: the refresh has the retracted set and the inserted set
    // in hand RIGHT NOW; persisting them at write time is what makes the
    // change feed an O(delta) read instead of an O(view) snapshot diff
    // (ViewStore.changesBetween).
    val retracted = tagged.filter(col("_chg")).drop("_chg")
    val delta = retracted.withColumn("change_type", lit("delete"))
      .unionByName(newEmissions.withColumn("change_type", lit("insert")))
    val out = store.write(index, kept.unionByName(newEmissions), Some(delta))
    tagged.unpersist()
    Checkpoints.free(newEmissions) // both writes done — release the pin now
    out
  }

  /**
   * Grouped collect (O14, `index.js:64-89`) with the corrected semantics:
   * GROUP BY emitted key → all values in emission (uid) order, every
   * group complete — the reference dropped each group's boundary row
   * (`index.js:70-74`) and we deliberately do not.
   *
   * Order is explicit, not positional: collect `(uid, value)` structs and
   * `sort_array` them — correct under ANY aggregation strategy (hash,
   * object-hash, or the sort-based fallback ObjectHashAggregateExec
   * switches to past its group threshold), instead of relying on
   * `collect_list` preserving input row order.
   */
  def grouped(): DataFrame = MaterializedView.groupedInOrder(df)

  /**
   * The cascade source (O17, `index.js:244,250-253`): one row per source
   * key with all its emissions collected in emission order — exactly the
   * `{key, value: mapped}` shape a piped downstream index receives
   * (`tests/test-replication.js:18` reads `obj.value[0][1]`).
   */
  def cascadeSource: DataFrame = MaterializedView.cascadeSourceOf(df)

  /** Materialize a downstream index fed by this view (view-of-view). */
  def cascadeInto(next: MapIndex): MaterializedView =
    next.materialize(cascadeSource, store)

  /**
   * O(delta) cascade catch-up: bring an already-materialized downstream
   * index up to date from THIS view's change feed alone — no upstream
   * snapshot read. This is the consumer lifecycle the CDC sidecars exist
   * for: bootstrap the downstream once from a snapshot ([[cascadeInto]] /
   * [[MapIndex.materialize]] over `cascadeSourceOf(asOf(v))`), then replay
   * `(fromVersion, toVersion]` per refresh.
   *
   * Replay semantics over the gross log: a refresh retracts a changed
   * source key WHOLESALE, so a key's post-change emissions are exactly the
   * INSERT rows of the last version that touched it; a key whose last
   * touching version has only deletes was tombstoned (or re-mapped to
   * empty). Both reduce to one downstream refresh: upserts = the final
   * inserts grouped back into cascade shape, deleteKeys = every touched
   * key (refresh clears them all, then re-inserts the live ones).
   *
   * Scale shape: everything here is delta-sized until the downstream
   * refresh itself — the feed read is a sidecar union (no join), the
   * last-version resolution is a groupBy+join over delta rows, and the
   * downstream refresh broadcasts the touched-key set as usual.
   */
  def cascadeChangesInto(next: MapIndex, fromVersion: Int, toVersion: Int): MaterializedView = {
    val (changedSource, touched) =
      MaterializedView.replayDelta(changesBetween(fromVersion, toVersion))
    store.load(next).refresh(changedSource, Some(touched))
  }
}

object MaterializedView {

  /** `emit_key → [emit_value…]` in uid order, order made explicit via
    * sort_array over `(uid, value)` structs (uid is unique, so the struct
    * sort is total and value field order never matters). */
  def groupedInOrder(emissions: DataFrame): DataFrame =
    emissions.groupBy("emit_key")
      .agg(transform(
        sort_array(collect_list(struct(col("uid").as("u"), col("emit_value").as("v")))),
        e => e("v")).as("vals"))

  /** `src_key → [(emit_key, emit_value)…]` in uid (emission) order —
    * shared by the batch and bucketed-streaming cascade paths. */
  def cascadeSourceOf(emissions: DataFrame): DataFrame =
    emissions.groupBy(col("src_key").as("key"))
      .agg(transform(
        sort_array(collect_list(struct(col("uid").as("u"),
          struct(col("emit_key"), col("emit_value")).as("e")))),
        x => x("e")).as("value"))

  /**
   * Net (last-writer-wins) resolution of a gross CDC range, for consumers
   * that want FINAL state over a long range rather than every intermediate
   * retraction: replaying the result against the range's starting snapshot
   * lands exactly on its ending snapshot, in O(net delta) rows instead of
   * O(Σ per-version deltas).
   *
   * Per source key the gross log telescopes — a refresh retracts a changed
   * key WHOLESALE, so the deletes at the key's FIRST touching version are
   * its start-of-range rows, the inserts at its LAST touching version are
   * its end-of-range rows, and every intermediate insert is cancelled by
   * the next touching version's delete. Keeping exactly those two slices
   * nets the log: a key born mid-range contributes inserts only (no
   * first-version delete exists), a key tombstoned at the end contributes
   * deletes only, and a key born AND tombstoned inside the range vanishes
   * entirely. Cascaded consumers must keep using the gross feed — netting
   * loses the intermediate retractions they replay.
   *
   * Scale shape: ONE shuffle by `src_key` — the per-key version bounds are
   * whole-partition window aggregates over the gross feed itself, so there
   * is no second relation to join (a groupBy+join spelling would either
   * broadcast an unbounded delta-sized bounds table or shuffle twice). No
   * snapshot is read.
   */
  def netChanges(gross: DataFrame): DataFrame = {
    val perKey = org.apache.spark.sql.expressions.Window.partitionBy("src_key")
    gross
      .withColumn("_first", min("change_version").over(perKey))
      .withColumn("_last", max("change_version").over(perKey))
      .filter(
        (col("change_type") === "delete" && col("change_version") === col("_first")) ||
        (col("change_type") === "insert" && col("change_version") === col("_last")))
      .drop("_first", "_last")
  }

  /** Net a gross changefeed slice's opposite-direction duplicates in ONE
    * pass. Multiset-equivalent to the exceptAll-pair spelling
    * (`dels.exceptAll(ins) ∪ ins.exceptAll(dels)` over the feed minus its
    * `change_type` column): Spark plans EACH exceptAll as union(+1/−1) →
    * aggregate → ReplicateRows, so the pair evaluates the feed subtree
    * FOUR times (a feed typically reads CDC sidecars and projects/rounds
    * per scan) through TWO aggregation exchanges. The signed count per
    * distinct row — +1 per delete, −1 per insert — yields the same
    * multisets (a row survives as `delete` with multiplicity max(d−i, 0),
    * as `insert` with max(i−d, 0), never both) from ONE scan and ONE
    * exchange, re-expanded by sequence+explode. NULL grouping matches
    * set-op semantics: groupBy and exceptAll both treat NULLs as equal.
    * `feed` must carry a `change_type` column of 'delete'/'insert';
    * output column order (value columns, then `change_type`) matches the
    * exceptAll-pair spelling exactly. */
  def nettedFeed(feed: DataFrame): DataFrame = {
    val valueCols = feed.columns.filterNot(_ == "change_type").toSeq
    feed.groupBy(valueCols.map(col): _*)
      .agg(sum(when(col("change_type") === "delete", lit(1L)).otherwise(lit(-1L)))
        .as("_net"))
      .filter(col("_net") =!= 0)
      .withColumn("change_type",
        when(col("_net") > 0, lit("delete")).otherwise(lit("insert")))
      .withColumn("_rep", explode(sequence(lit(1L), abs(col("_net")))))
      .drop("_net", "_rep")
  }

  /** Resolve a gross CDC delta (`change_type`/`change_version`-tagged
    * emission rows from either store's `changesBetween`) into the inputs
    * of ONE downstream refresh: `(changedSource, touchedKeys)`. A key's
    * final state is the inserts of the LAST version that touched it (a
    * refresh retracts changed keys wholesale); a key whose last touching
    * version carries only deletes was tombstoned — it appears in
    * `touchedKeys` and not in `changedSource`. Everything here is
    * delta-sized. */
  def replayDelta(delta: DataFrame): (DataFrame, DataFrame) = {
    val lastV = delta.groupBy("src_key").agg(max("change_version").as("change_version"))
    val finalInserts = delta.join(lastV, Seq("src_key", "change_version"))
      .filter(col("change_type") === "insert")
    (cascadeSourceOf(finalInserts), delta.select("src_key").distinct())
  }
}
