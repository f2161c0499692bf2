package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Stored map-index: the Spark-native re-expression of the reference's
 * materialized map view (mikeal/level-mapreduce `index.js:112-122`).
 *
 * A `MapIndex` is a named, user-defined flatMap from source rows to
 * `(emit_key, emit_value)` pairs. Where the reference runs a JS `map`
 * function per written entry and persists emissions under bytewise composite
 * LevelDB keys (`index.js:233-240`), we declare the map as a DataFrame
 * transformation (so Catalyst can prune/push down through it) and persist
 * the emission relation as parquet range-partitioned and sorted by
 * `emit_key` — parquet min/max stats then make every range or prefix scan
 * (`index.js:124-138`) a pruned read, the columnar analog of a LevelDB seek.
 *
 * mapPlan contract: `source → (src_key, emit: struct<emit_key, emit_value>)`
 * with one row per emission and `emit = NULL` for a source key whose map
 * emitted nothing (the empty-emission case, `index.js:218-230`) — keeping
 * that row is what lets [[MaterializedView.refresh]] retract the key's old
 * emissions without the reference's meta back-pointers.
 *
 * Emission schema after materialization: `(src_key, emit_key, emit_value, uid)`.
 *  - `src_key` replaces the meta back-pointers (`index.js:232-242`):
 *    incremental maintenance is an anti-join on `src_key` instead of
 *    pointer-chasing.
 *  - `uid` mirrors the uuid suffix of `['index', k, uuid()]`
 *    (`index.js:236`): duplicate emitted keys coexist, and `(emit_key, uid)`
 *    reproduces the reference's stable scan order.
 *
 * Scale note (100 TB): the map is a narrow transformation — no shuffle until
 * the single `repartitionByRange` that clusters the view by `emit_key`,
 * which is also what makes every later scan/get a pruned, shuffle-free read.
 */
final class MapIndex(val name: String, val mapPlan: DataFrame => DataFrame)
    extends Serializable {

  private def mapped(source: DataFrame): DataFrame = {
    val m = mapPlan(source)
    val need = Seq("src_key", "emit")
    require(need.forall(m.columns.contains),
      s"mapPlan for index '$name' must produce columns $need, got ${m.columns.toSeq}")
    m
  }

  /**
   * Emission relation for a source batch: `(src_key, emit_key, emit_value,
   * uid)`. Empty emissions drop out here, exactly as the reference stores
   * nothing for them (`index.js:218-230`).
   *
   * `epoch` is the refresh generation (stores pass their next version).
   * uid packs `(partition, row-in-partition, epoch)` so it stays unique
   * ACROSS refreshes — with a bare `monotonically_increasing_id()` two
   * batches would restart near 0 and `(emit_key, uid)` tie-breaks in
   * scan order would be nondeterministic (the reference's uuid suffix,
   * `index.js:236`, was globally unique). Bit budget: 25-bit partition
   * (33M partitions/batch), 26-bit row (67M rows/partition — generous at
   * 128 MB parquet splits), 12-bit epoch. Epochs recycle mod 4096, which
   * can only collide with rows 4096 refreshes old for a key never
   * rewritten since — and refresh retracts a changed key's rows wholesale,
   * so live rows for one src_key always come from a single epoch.
   */
  def emissions(source: DataFrame, epoch: Long = 0L): DataFrame = {
    val mid = monotonically_increasing_id() // (partitionId << 33) | row
    val part = shiftright(mid, 33)
    val row = mid.bitwiseAND(lit((1L << 33) - 1))
    // fail loud instead of silently colliding uids if a partition blows
    // the 26-bit row budget (67M emissions in one partition means the
    // batch needed repartitioning anyway)
    val safeRow = when(row < lit(1L << 26), row)
      .otherwise(raise_error(lit(
        s"partition exceeded ${1L << 26} emissions — uid bit budget; " +
          "repartition the source batch")).cast("long"))
    // symmetric guard on the 25-bit partition budget: past 2^25
    // partitions, shiftleft(part, 38) would overflow into the sign bit —
    // silent uid collisions and order flips instead of an error
    val safePart = when(part < lit(1L << 25), part)
      .otherwise(raise_error(lit(
        s"batch exceeded ${1L << 25} partitions — uid bit budget; " +
          "coalesce the source batch")).cast("long"))
    mapped(source)
      .filter(col("emit").isNotNull)
      .select(col("src_key"), col("emit.emit_key").as("emit_key"),
        col("emit.emit_value").as("emit_value"))
      .withColumn("uid",
        shiftleft(safePart, 38).bitwiseOR(shiftleft(safeRow, 12))
          .bitwiseOR(lit(epoch & 0xfffL)))
  }

  /** Every source key touched by a batch — including keys that emitted
    * nothing (the refresh retraction set). */
  def touchedKeys(source: DataFrame): DataFrame =
    mapped(source).select("src_key").distinct()

  /** Materialize the full view from a source batch (O1 + O3 batch path).
    *
    * Re-materializing an EXISTING view is a refresh whose delta happens to
    * be everything: deletes of the entire prior snapshot + inserts of the
    * entire new emission set. Writing that as the CDC sidecar keeps
    * [[ViewStore.changesBetween]] contiguous across a full rebuild —
    * without it the rebuilt version would be a permanent hole in the
    * change feed. The sidecar is O(view) here, but so is the rebuild
    * itself. Initial materialization (v0) writes no sidecar: the feed is
    * defined over `(from, to]` ranges between existing versions.
    */
  def materialize(source: DataFrame, store: ViewStore): MaterializedView =
    store.latestVersion(name) match {
      case None => store.write(this, emissions(source))
      case Some(v) =>
        // epoch continues past the prior version so uids stay unique
        // across the rebuild; localCheckpoint pins uids across the two
        // writes (see MaterializedView.refresh)
        val emis = emissions(source, (v + 1).toLong).localCheckpoint(true)
        val prior = store.readLatest(name)
        val delta = prior.withColumn("change_type", lit("delete"))
          .unionByName(emis.withColumn("change_type", lit("insert")))
        val out = store.write(this, emis, Some(delta))
        Checkpoints.free(emis)
        out
    }
}

object MapIndex {
  /**
   * Declarative construction: `srcKey` identifies the source entry,
   * `emits` is an `array<struct<emit_key, emit_value>>` column built from
   * [[emit]] / `array` / `transform` / `filter` — the codegen-friendly
   * analog of the reference's arbitrary JS map returning `[[k,v],...]`
   * (`tests/test-basic.js:14`). An empty or null array = empty emission.
   */
  def columns(name: String)(srcKey: Column, emits: Column): MapIndex =
    new MapIndex(name, src =>
      src.select(srcKey.as("src_key"), explode_outer(emits).as("emit")))

  /** One `[key, value]` emission pair. */
  def emit(key: Column, value: Column): Column =
    struct(key.as("emit_key"), value.as("emit_value"))
}
