package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, NumericType}

/**
 * Incrementally-maintained GROUP BY aggregate over a [[MapIndex]]'s
 * emissions — the "reduce" half of map/reduce that the reference declares
 * but stubs (`/root/reference/index.js:148-150` leaves `count` empty;
 * `group(finish)` never calls its `finish` argument, `index.js:64`).
 * Here it is completed with the property the reference's architecture was
 * reaching for: **maintenance cost proportional to the change batch, not
 * the view**.
 *
 * State relation (clustered by `emit_key`): one row per group —
 * `emit_key, cnt: bigint, sum_value: decimal(28,4), min_value, max_value`.
 * Contract: emission values are numeric; sums are carried in DECIMAL so
 * partial-aggregate merge is EXACT and associative — float sums would
 * drift by merge order and an incrementally-maintained state could never
 * promise equality with a full recompute.
 *
 * A refresh consumes the same change batch the base view's refresh takes
 * and splits the aggregates by their algebraic class:
 *
 *  - `cnt`/`sum` are **retractable**: old emissions of the changed source
 *    keys enter the delta at weight −1, new emissions at +1; the state
 *    merge touches only groups present in the delta. No base-view
 *    rescan for these at all.
 *  - `min`/`max` are **not retractable** under deletion (removing the
 *    current min says nothing about the runner-up), so they are
 *    recomputed from the refreshed base view — but ONLY for the touched
 *    groups, a predicate-pushed (bucket- or range-pruned) read.
 *
 * Scale shape: every join against a large relation (pre-refresh view,
 * state, post-refresh view) is a broadcast semi/anti join on the small
 * changed-key / touched-group sets — the big sides are scanned once and
 * never shuffled; the only shuffles are group-bys over delta-sized data.
 * At 100 TB the state write is the same clustered versioned write the
 * emission store uses ([[ViewStore.writeClustered]]); the bucketed
 * analog would rewrite only touched state buckets.
 */
final class AggView private[engine] (
    val spark: SparkSession,
    val store: ViewStore,
    val name: String) extends Serializable {

  /** Current state snapshot: `emit_key, cnt, sum_value, min_value, max_value`. */
  def state: DataFrame = store.readLatest(name)

  /** Read surface with derived aggregates (avg = exact sum / count). */
  def read: DataFrame =
    state.withColumn("avg_value",
      round(col("sum_value").cast("double") / col("cnt"), 4))

  /**
   * Refresh the base view AND this aggregate state from one change batch
   * (upserts + tombstoned source keys — the [[MaterializedView.refresh]]
   * contract), returning both post-refresh handles. Doing both here
   * pins the PRE-refresh snapshot for the retraction read; the store's
   * `graceVersions >= 1` keeps that version alive under the swap.
   */
  def refresh(
      base: MaterializedView,
      upserts: DataFrame,
      deleteKeys: Option[DataFrame] = None): (MaterializedView, AggView) = {
    require(base.store eq store,
      s"aggregate view '$name' maintained against a different store than its base")
    // pin the pre-refresh snapshot path BEFORE the base swap
    val preDf = base.df
    val post = base.refresh(upserts, deleteKeys)
    val (updated, touched, gateCleanup) = AggView.maintain(
      base.index, preDf, upserts, deleteKeys, post.df, state)
    // one scan of the current state, tagged touched/untouched — feeds the
    // rewrite AND the state CDC sidecar (a stream of aggregate updates for
    // downstream consumers: delete of each touched group's old aggregate,
    // insert of its new one; groups whose count reached zero appear as
    // deletes only). State rows are deterministic aggregates — no uid, so
    // no checkpoint pin is needed here.
    val tagged = state.join(
        broadcast(touched.withColumn("_chg", lit(true))), Seq("emit_key"), "left_outer")
      .persist()
    val untouched = tagged.filter(col("_chg").isNull).drop("_chg")
    val cols = untouched.columns.map(col).toIndexedSeq
    // persist `updated` too: it feeds BOTH the snapshot union and the
    // delta's insert half, and unlike the old-state scan it carries the
    // whole maintenance subplan (preDf/postBase/state joins) — without the
    // pin that delta-merge work executes twice per refresh. Deterministic
    // aggregates, so cache-level persistence suffices (no uid pin needed).
    val updatedP = updated.select(cols: _*).persist()
    val delta = tagged.filter(col("_chg")).drop("_chg")
      .withColumn("change_type", lit("delete"))
      .unionByName(updatedP.withColumn("change_type", lit("insert")))
    store.writeClustered(name,
      untouched.unionByName(updatedP),
      Seq("emit_key"), Some(delta))
    tagged.unpersist(); updatedP.unpersist(); gateCleanup()
    (post, this)
  }
}

object AggView {
  /** Canonical exact-sum type for state and deltas: wide enough that a
    * 10-digit-integer-part value summed over ~1e9 rows cannot overflow. */
  private[engine] val SumType = DecimalType(28, 4)

  private[engine] def partials(emissions: DataFrame, negate: Boolean): DataFrame = {
    val v = col("emit_value").cast(DecimalType(18, 4))
    emissions.select(col("emit_key"),
      lit(if (negate) -1L else 1L).as("d_cnt"),
      (if (negate) -v else v).as("d_sum"))
  }

  /** Fail at build time, not with silent null sums mid-maintenance: the
    * DECIMAL contract needs numeric emission values. */
  private[engine] def requireNumericValue(emissions: DataFrame): Unit = {
    val dt = emissions.schema("emit_value").dataType
    require(dt.isInstanceOf[NumericType],
      s"AggView requires numeric emission values, got $dt")
  }

  /** Full grouped-aggregate recompute of an emission relation — the state
    * relation both storage layouts materialize and maintain. The sum of an
    * all-null group is normalized to 0 (not SQL-null) so the build and
    * delta-merge paths agree on it. */
  private[engine] def aggregateOf(emissions: DataFrame): DataFrame = {
    requireNumericValue(emissions)
    emissions.groupBy("emit_key")
      .agg(count(lit(1)).as("cnt"),
        coalesce(sum(col("emit_value").cast(DecimalType(18, 4))), lit(0))
          .cast(SumType).as("sum_value"),
        min("emit_value").as("min_value"),
        max("emit_value").as("max_value"))
  }

  /** The delta-merge + touched-group min/max maintenance step shared by
    * the flat and bucketed layouts: given the pre-refresh base emissions,
    * the change batch, the post-refresh base emissions, and the current
    * state, returns `(updated state rows for touched groups, touched
    * group keys)` — the caller writes them into its layout.
    * `broadcastLimit` size-gates the changed-key/touched-group broadcast
    * joins (the [[BucketedViewStore.broadcastKeyLimit]] contract): an
    * ordinary delta broadcasts, a bulk backfill falls back to plain
    * shuffle joins on the same predicates — identical results, bounded
    * driver memory. Long.MaxValue (the flat test-scale layout's default)
    * skips the count entirely. The returned cleanup thunk unpersists the
    * size-gate's cached key set — the caller MUST invoke it after its
    * state writes execute, or every gated refresh leaks one cached
    * DataFrame into storage memory for the life of the session. */
  private[engine] def maintain(
      index: MapIndex,
      preBase: DataFrame,
      upserts: DataFrame,
      deleteKeys: Option[DataFrame],
      postBase: DataFrame,
      state: DataFrame,
      broadcastLimit: Long = Long.MaxValue): (DataFrame, DataFrame, () => Unit) = {
    requireNumericValue(preBase)
    val upsertKeys = index.touchedKeys(upserts)
    val changed = deleteKeys match {
      case Some(d) => upsertKeys.union(d.toDF("src_key")).distinct()
      case None    => upsertKeys
    }
    // one delta-sized count decides the plan for all three key joins
    var cleanup: () => Unit = () => ()
    val hint: DataFrame => DataFrame =
      if (broadcastLimit == Long.MaxValue) broadcast
      else {
        val c = changed.cache()
        cleanup = () => { c.unpersist(); () }
        if (c.count() <= broadcastLimit) broadcast else identity
      }
    val oldEmis = preBase.join(hint(changed), Seq("src_key"), "left_semi")
    val newEmis = index.emissions(upserts)
    val delta = partials(oldEmis, negate = true)
      .unionByName(partials(newEmis, negate = false))
      .groupBy("emit_key")
      .agg(sum("d_cnt").as("d_cnt"), sum("d_sum").cast(SumType).as("d_sum"))
    val touched = delta.select("emit_key").distinct()
    val touchedOld = state.join(hint(touched), Seq("emit_key"), "left_semi")
    val merged = touchedOld.join(delta, Seq("emit_key"), "full_outer")
      .select(col("emit_key"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("d_cnt"), lit(0L))).as("cnt"),
        (coalesce(col("sum_value"), lit(0).cast(SumType))
          + coalesce(col("d_sum"), lit(0).cast(SumType)))
          .cast(SumType).as("sum_value"))
      .filter(col("cnt") > 0) // a group whose count reaches zero vanishes
    val mm = postBase.join(hint(touched), Seq("emit_key"), "left_semi")
      .groupBy("emit_key")
      .agg(min("emit_value").as("min_value"), max("emit_value").as("max_value"))
    val updated = merged.join(mm, Seq("emit_key"), "inner")
      .select(col("emit_key"), col("cnt"), col("sum_value"),
        col("min_value"), col("max_value"))
    (updated, touched, cleanup)
  }

  /** Handle to an already-materialized state relation (resume paths,
    * streaming maintenance across micro-batches). */
  def attach(spark: SparkSession, store: ViewStore, name: String): AggView =
    new AggView(spark, store, name)

  /** Full build from the base view's current snapshot (first
    * materialization; also the recompute an equivalence check uses). */
  def build(base: MaterializedView, name: String): AggView = {
    base.store.writeClustered(name, aggregateOf(base.df), Seq("emit_key"))
    new AggView(base.spark, base.store, name)
  }
}

/**
 * The 100 TB layout for aggregate state: groups live in a
 * [[BucketedViewStore]] as a map view OF the state itself (src_key =
 * group key, one emission per group carrying the aggregate struct), so a
 * refresh rewrites ONLY the state buckets holding touched groups —
 * exactly the partition-scoped economics the emission store already has.
 * The flat [[AggView]] rewrites its whole (small) state relation per
 * refresh; this variant bounds state-write I/O by the batch even when the
 * group count itself is huge (per-user aggregates over billions of users).
 *
 * The base view lives in the same bucketed store; both are refreshed here
 * from one change batch (base first, then state), and the maintenance
 * math is the shared [[AggView.maintain]] delta-merge.
 */
final class BucketedAggView private (
    val spark: SparkSession,
    val store: BucketedViewStore,
    val stateName: String) extends Serializable {

  private val stateIdx = BucketedAggView.stateIndex(stateName)

  /** Current state snapshot: `emit_key, cnt, sum_value, min_value, max_value`. */
  def state: DataFrame =
    store.df(stateName).select(col("emit_key"),
      col("emit_value.cnt").as("cnt"),
      col("emit_value.sum_value").as("sum_value"),
      col("emit_value.min_value").as("min_value"),
      col("emit_value.max_value").as("max_value"))

  /** Single-group point read, pruned to one state bucket. */
  def get(groupKey: Any): DataFrame = store.get(stateName, groupKey)

  /** Joint base + state refresh from one change batch; returns per-layer
    * rewrite stats (`(base, state)`) so callers — and tests — can see the
    * bucket-scoped I/O bound hold. */
  def refresh(
      baseIndex: MapIndex,
      upserts: DataFrame,
      deleteKeys: Option[DataFrame] = None): (BucketedViewStore.RefreshStats, BucketedViewStore.RefreshStats) = {
    // pin the pre-refresh base paths BEFORE the manifest swap (the store's
    // grace version keeps them readable while the delta is consumed)
    val preBase = store.df(baseIndex.name)
    val baseStats = store.refresh(baseIndex, upserts, deleteKeys)
    val postBase = store.df(baseIndex.name)
    val preState = state
    val (updated, touched, gateCleanup) = AggView.maintain(
      baseIndex, preBase, upserts, deleteKeys, postBase, preState,
      store.broadcastKeyLimit)
    // delete-then-insert per touched group: groups with rows re-emit their
    // new aggregate; vanished groups fall under the delete set only
    val stateStats = store.refresh(stateIdx, updated,
      Some(touched.select(col("emit_key").cast("string").as("src_key"))))
    gateCleanup()
    (baseStats, stateStats)
  }
}

object BucketedAggView {
  /** The state relation viewed as its own map index: src_key = group key,
    * one emission per group with the aggregate struct as the value. */
  private def stateIndex(stateName: String): MapIndex =
    MapIndex.columns(stateName)(
      col("emit_key").cast("string"),
      array(MapIndex.emit(col("emit_key"),
        struct(col("cnt"), col("sum_value"), col("min_value"), col("max_value")))))

  /** Materialize base + state into the bucketed store from a source batch. */
  def build(
      store: BucketedViewStore,
      baseIndex: MapIndex,
      source: DataFrame,
      stateName: String): BucketedAggView = {
    store.materialize(baseIndex, source)
    val v = new BucketedAggView(store.spark, store, stateName)
    store.materialize(stateIndex(stateName), AggView.aggregateOf(store.df(baseIndex.name)))
    v
  }

  /** Handle to an already-materialized bucketed aggregate view. */
  def attach(store: BucketedViewStore, stateName: String): BucketedAggView =
    new BucketedAggView(store.spark, store, stateName)
}
