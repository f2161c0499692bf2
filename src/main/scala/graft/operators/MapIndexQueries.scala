package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.language.reflectiveCalls
import graft.engine.{AsOfJoinView, BucketedViewStore, FilterJoinView, JoinAggView,
  JoinGroupingView, JoinView, MapIndex, Measures, Tables, Views}
import graft.engine.MapIndex.emit

/**
 * The reference's own operator surface (SURVEY.md §2 O1–O17) exercised over
 * the driver's `lineitem` table, each with a DuckDB oracle.
 *
 * Flagship fixture (SURVEY.md §7.2): index `lineitem` by `l_returnflag`
 * emitting `l_extendedprice` — the Spark analog of
 * `map = obj => [[obj.value.l_returnflag, obj.value.l_extendedprice]]`.
 */
object MapIndexQueries {

  /** The lineitem source key: `(orderkey, lineno)` joined by '-'. */
  private def lineitemKey = concat_ws("-", col("l_orderkey"), col("l_linenumber"))

  /** The flagship map: lineitems indexed by return flag, emitting the
    * extended price. Every maintained-layout twin below is this map under
    * its own view name. */
  private def flagIdx(name: String): MapIndex =
    MapIndex.columns(name)(lineitemKey,
      array(emit(col("l_returnflag"), col("l_extendedprice"))))

  /** O1: index definition. src_key = lineitem primary key (orderkey, lineno). */
  private val byFlag = flagIdx("lineitem_byflag")

  /** Two-stage cascade (O17): lineitem → (orderkey, revenue) → (orderkey%10, revenue). */
  private val byOrder = MapIndex.columns("lineitem_byorder")(
    lineitemKey,
    array(emit(col("l_orderkey"),
      col("l_extendedprice") * (lit(1) - col("l_discount")))))
  // the downstream map consumes the full upstream emission array — the
  // analog of a JS map looping over obj.value (tests/test-replication.js:18)
  private val byBucket = MapIndex.columns("order_bucket")(
    col("key"),
    transform(col("value"),
      e => emit(pmod(e("emit_key"), lit(10)), e("emit_value"))))

  private def flagView(s: SparkSession, dir: String) =
    Views.materialized(s, dir, byFlag)(Tables.lineitem(s, dir))

  /** The same index in the bucket-partitioned (100 TB) store, so the scale
    * configuration's read paths run under the driver's correctness gate. */
  private def bucketedFlag(s: SparkSession, dir: String): graft.engine.BucketedViewStore =
    Views.cached(dir, "bucketedFlag") {
      val st = graft.engine.BucketedViewStore.temp(s, numBuckets = 16)
      st.materialize(byFlag, Tables.lineitem(s, dir))
      st
    }

  /** The same index RANGE-bucketed (boundaries on the flag domain): an O6
    * range scan prunes to covering buckets — the partition-level pruning
    * the hash layout cannot give a range. Boundaries N,R,S put each live
    * flag (A/N/R) in its own bucket, so the [A,N) scan below provably
    * skips R's bucket (PlanAuditMapIndexSpec asserts the path count). */
  private def rangeBucketedFlag(s: SparkSession, dir: String): graft.engine.BucketedViewStore =
    Views.cached(dir, "rangeBucketedFlag") {
      val st = graft.engine.BucketedViewStore.tempRange(s, Seq("N", "R", "S"))
      st.materialize(byFlag, Tables.lineitem(s, dir))
      st
    }

  /** The range layout MAINTAINED, not just read: its own view name (the
    * scan/get fixture above stays pinned at epoch 0 for the pruning
    * assertions) taken through the SAME shared upsert+tombstone batch as
    * the flat and hash-bucketed fixtures — so staged writes, boundary
    * routing of the new 'X' key (≥ 'S' → the last bucket) and the CDC
    * sidecar are all graded against the identical from-scratch oracle. */
  private val byFlagRangeM = flagIdx("lineitem_byflag_range_m")

  private def rangeMaintained(s: SparkSession, dir: String): graft.engine.BucketedViewStore =
    Views.cached(dir, "rangeMaintained") {
      val st = graft.engine.BucketedViewStore.tempRange(s, Seq("N", "R", "S"))
      val li = Tables.lineitem(s, dir)
      st.materialize(byFlagRangeM, li)
      st.refresh(byFlagRangeM, reflaggedUpserts(li), Some(tombstoneKeys(li)))
      st
    }

  /** The maintained fixture taken through a COMPACTION epoch after its
    * refresh — the no-change-epoch claim graded through the driver's
    * from-scratch oracle: post-compaction reads must hash-match the same
    * SQL as the uncompacted maintained view (any perturbed row fails),
    * and a feed replay crossing the compaction must equal the refresh
    * delta alone (the compaction sidecar is empty). `maxFilesPerBucket=0`
    * forces every live bucket through the rewrite, so the epoch bump is
    * deterministic regardless of how the refresh's files coalesced. */
  private val byFlagCompact = flagIdx("lineitem_byflag_compact")

  private def compactedStore(s: SparkSession, dir: String): graft.engine.BucketedViewStore =
    Views.cached(dir, "compactedStore") {
      val st = graft.engine.BucketedViewStore.temp(s, numBuckets = 8)
      val li = Tables.lineitem(s, dir)
      st.materialize(byFlagCompact, li)
      st.refresh(byFlagCompact, reflaggedUpserts(li), Some(tombstoneKeys(li)))
      st.compact(byFlagCompact.name, maxFilesPerBucket = 0)
      st
    }

  /** Bucket-count DOUBLING (8 → 16) before the shared change batch: the
    * split's exchange-free rewrite (each old bucket fans locally into
    * `{b, b+8}`), the geometry stamp, and continued maintenance at the
    * new geometry are graded against the same from-scratch oracle as the
    * other layouts. The feed gate replays ACROSS the split epoch — its
    * sidecar is empty, so the range (0, 2] equals the refresh delta
    * alone, exactly like a compaction crossing. */
  private val byFlagSplit = flagIdx("lineitem_byflag_split")

  private def splitStore(s: SparkSession, dir: String): graft.engine.BucketedViewStore =
    Views.cached(dir, "splitStore") {
      val st = graft.engine.BucketedViewStore.temp(s, numBuckets = 8)
      val li = Tables.lineitem(s, dir)
      st.materialize(byFlagSplit, li)
      val wide = st.splitBuckets(byFlagSplit.name)
      wide.refresh(byFlagSplit, reflaggedUpserts(li), Some(tombstoneKeys(li)))
      wide
    }

  /** Incremental snapshot SHIP: materialize + full ship, then the shared
    * change batch + a second ship that moves only the refresh-touched
    * buckets (the manifest diff), then serve every read from the REPLICA
    * handle — a stale or partial replica is a hash mismatch against the
    * modified-source oracle. */
  private val byFlagShip = flagIdx("lineitem_byflag_ship")

  private def shippedReplica(s: SparkSession, dir: String): graft.engine.BucketedViewStore =
    Views.cached(dir, "shippedReplica") {
      val st = graft.engine.BucketedViewStore.temp(s, numBuckets = 8)
      val li = Tables.lineitem(s, dir)
      val destDir = java.nio.file.Files
        .createTempDirectory("graft-replica-").toString
      st.materialize(byFlagShip, li)
      st.shipTo(byFlagShip.name, destDir)
      st.refresh(byFlagShip, reflaggedUpserts(li), Some(tombstoneKeys(li)))
      st.shipTo(byFlagShip.name, destDir)
      new graft.engine.BucketedViewStore(s, destDir, numBuckets = 8)
    }

  private def bucketView(s: SparkSession, dir: String) = {
    val store = Views.store(s, dir)
    Views.unit(store.baseDir, byBucket.name)(store.load(byBucket)) {
      Views.materialized(s, dir, byOrder)(Tables.lineitem(s, dir))
        .cascadeInto(byBucket)
    }
  }

  /** Schema-free value model: the reference stores arbitrary JSON values
    * (`valueEncoding:'json'`, index.js:113); here the emission value is a
    * JSON document column and queries project typed fields back out. */
  private val byTypeJson = MapIndex.columns("events_bytype_json")(
    col("event_id").cast("string"),
    array(emit(col("event_type"), to_json(struct(col("user_id"), col("value"))))))

  private def jsonView(s: SparkSession, dir: String) =
    Views.materialized(s, dir, byTypeJson)(Tables.events(s, dir))

  /** Incrementally-maintained aggregate (the completed "reduce" half —
    * engine/AggView.scala): its OWN index name and state, so the shared
    * `flagView` other queries read stays untouched by the refresh below. */
  private val byFlagAgg = flagIdx("lineitem_byflag_agg")

  /** Build base + aggregate state, then push ONE deterministic change
    * batch through the incremental path: lineitems of `%97` orders
    * re-flagged to 'X' (upsert), lineitems of `%89` orders tombstoned.
    * The returned state must equal a from-scratch recompute of the
    * modified source — which is exactly what the DuckDB oracle does. */
  private def aggView(s: SparkSession, dir: String): graft.engine.AggView = {
    val store = Views.store(s, dir)
    // unit-gated like every other multi-step build: a process reopening
    // a durable store must ATTACH, not re-run the materialize+refresh —
    // the re-run advanced versions per process until the early sidecars
    // passed the GC horizon and every version-addressed consumer
    // (changefeeds) crashed by the ~3rd reopen
    Views.unit(store.baseDir, s"${byFlagAgg.name}_unit")(
      graft.engine.AggView.attach(s, store, "lineitem_byflag_agg__state")) {
      val li = Tables.lineitem(s, dir)
      val base = byFlagAgg.materialize(li, store)
      graft.engine.AggView.build(base, "lineitem_byflag_agg__state")
        .refresh(base, reflaggedUpserts(li), Some(tombstoneKeys(li)))._2
    }
  }

  /** Maintained per-group DISTINCT-value count — the classically
    * non-retractable aggregate (a deletion says nothing about whether
    * OTHER rows still carry the value) solved by REFCOUNT state: the
    * state relation keys by `(group, value)` and its `cnt` is the
    * value's multiplicity, maintained O(delta) by the ordinary
    * [[graft.engine.AggView]] delta-merge; a value whose refcount hits
    * zero drops out of the state, so `count(*)` per group over the
    * state IS the distinct count. Serving reads state (vocabulary-
    * sized), never the corpus. */
  private val distinctIdx = MapIndex.columns("lineitem_flagprice")(
    lineitemKey,
    array(emit(concat_ws("|", col("l_returnflag"), col("l_extendedprice")),
      lit(1L))))

  private def distinctView(s: SparkSession, dir: String): graft.engine.AggView =
    refcountUnit(s, dir, distinctIdx)

  /** One refcount state as a durable build unit: `idx` materialized on
    * lineitem, its `<name>__state` aggregate built, then the shared
    * change batch through the aggregate refresh. A reopen attaches. */
  private def refcountUnit(s: SparkSession, dir: String, idx: MapIndex): graft.engine.AggView = {
    val store = Views.store(s, dir)
    val state = s"${idx.name}__state"
    Views.unit(store.baseDir, idx.name)(graft.engine.AggView.attach(s, store, state)) {
      val li = Tables.lineitem(s, dir)
      val base = idx.materialize(li, store)
      graft.engine.AggView.build(base, state)
        .refresh(base, reflaggedUpserts(li), Some(tombstoneKeys(li)))._2
    }
  }

  /** The refcount distinct state in the BUCKETED (100 TB) layout: a
    * change batch rewrites only the state buckets of touched
    * (group, value) keys — distinct-count maintenance I/O ∝ delta at
    * any corpus size. */
  private val distinctIdxB = MapIndex.columns("lineitem_flagprice_b")(
    lineitemKey,
    array(emit(concat_ws("|", col("l_returnflag"), col("l_extendedprice")),
      lit(1L))))

  private def distinctBView(s: SparkSession, dir: String): graft.engine.BucketedAggView =
    Views.cached(dir, "distinctBView") {
      val store = graft.engine.BucketedViewStore.temp(s, numBuckets = 16)
      val li = Tables.lineitem(s, dir)
      val v = graft.engine.BucketedAggView.build(
        store, distinctIdxB, li, "lineitem_flagprice_b__state")
      v.refresh(distinctIdxB, reflaggedUpserts(li), Some(tombstoneKeys(li)))
      v
    }

  /** Maintained PERCENTILES from refcount state: quantiles are the
    * classically non-mergeable/non-retractable aggregate, but over a
    * discrete value domain the refcount state the distinct-count view
    * already maintains ((group, value) → multiplicity, delta-merged
    * O(delta) by the ordinary [[graft.engine.AggView]]) IS an exact,
    * deletion-safe quantile state: p50/p95 fall out of a weighted
    * cumulative sum over the (vocabulary-sized) state — the corpus is
    * never re-read at serve time. l_quantity's domain is 1..50, so the
    * state is ≤ |groups|·50 rows at ANY corpus size; for continuous
    * domains the same state over a rounded/bucketed value gives
    * bounded-error quantiles with the same O(delta) maintenance. */
  private val pctIdx = MapIndex.columns("lineitem_flagqty")(
    lineitemKey,
    array(emit(concat_ws("|", col("l_returnflag"), col("l_quantity").cast("int")),
      lit(1L))))

  private def percentileView(s: SparkSession, dir: String): graft.engine.AggView =
    refcountUnit(s, dir, pctIdx)

  /** CONTINUOUS-domain maintained quantiles: `l_extendedprice` has no
    * small discrete domain, so the refcount state keys on a FIXED VALUE
    * GRID (bucket = floor(price / 100)) — state size is bounded by
    * |groups| · (value range / grid), independent of corpus size, and
    * maintenance stays the ordinary O(delta) refcount delta-merge. The
    * estimate a grid state serves is the bucket holding the true
    * rank-⌈p·n⌉ value: its RANK is exact over the bucketed distribution
    * and its VALUE error is < one grid width — the bound the gate query
    * ASSERTS with boolean columns (exact anchors recomputed from the
    * modified corpus, `exact ∈ [bucket_lo, bucket_lo + grid)`), both
    * recomputed independently by the DuckDB oracle. */
  private val pctContIdx = MapIndex.columns("lineitem_flaggrid")(
    lineitemKey,
    array(emit(concat_ws("|", col("l_returnflag"),
      floor(col("l_extendedprice") / 100).cast("long")), lit(1L))))

  private def percentileContView(s: SparkSession, dir: String): graft.engine.AggView =
    refcountUnit(s, dir, pctContIdx)

  /** The quantile state in the BUCKETED (100 TB) layout: the same
    * refcount index through [[graft.engine.BucketedAggView]], so a change
    * batch rewrites only the state buckets of touched (group, value)
    * keys — percentile maintenance I/O ∝ delta at any corpus size. */
  private val pctIdxB = MapIndex.columns("lineitem_flagqty_b")(
    lineitemKey,
    array(emit(concat_ws("|", col("l_returnflag"), col("l_quantity").cast("int")),
      lit(1L))))

  private def percentileBView(s: SparkSession, dir: String): graft.engine.BucketedAggView =
    Views.cached(dir, "percentileBView") {
      val store = graft.engine.BucketedViewStore.temp(s, numBuckets = 16)
      val li = Tables.lineitem(s, dir)
      val v = graft.engine.BucketedAggView.build(
        store, pctIdxB, li, "lineitem_flagqty_b__state")
      v.refresh(pctIdxB, reflaggedUpserts(li), Some(tombstoneKeys(li)))
      v
    }

  /** Shared percentile serving: discrete (type-1) p50/p95 from refcount
    * `(group, value)` state via a weighted cumulative sum — the windows
    * run over the vocabulary-sized state (≤ |flags|·50 rows), never the
    * corpus. rank_p = ceil(p·n) spelled as exact small-integer arithmetic
    * (n/2, 19n/20): a 0.95·n double literal could land within an ulp of
    * an integer differently across engines; 19n/20's fractional part is
    * ≥ 1/20, so the double quotient's ceil is exact in both. */
  private def quantileServe(state: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = state
      .filter(col("cnt") > 0)
      .select(substring_index(col("emit_key"), "|", 1).as("flag"),
        substring_index(col("emit_key"), "|", -1).cast("int").as("qty"),
        col("cnt"))
    val cum = st
      .withColumn("cum", sum("cnt").over(Window.partitionBy("flag").orderBy("qty")))
      .withColumn("n", sum("cnt").over(Window.partitionBy("flag")))
    cum.groupBy("flag")
      .agg(min(when(col("cum") >= ceil(col("n") / 2), col("qty"))).as("p50"),
        min(when(col("cum") >= ceil(col("n") * 19 / 20), col("qty"))).as("p95"),
        max(col("n")).as("n"))
      .orderBy("flag")
  }

  /** The refcount distinct state built purely through STREAMING
    * micro-batches ([[graft.streaming.StreamingAggMapIndex]] — joint
    * base + aggregate-state refresh per batch): three insert batches
    * partitioning lineitem, then the shared upsert+tombstone batch. The
    * same from-scratch `count(DISTINCT)` oracle as the flat and bucketed
    * twins grades the whole streamed history. */
  private val distinctIdxS = MapIndex.columns("lineitem_flagprice_s")(
    lineitemKey,
    array(emit(concat_ws("|", col("l_returnflag"), col("l_extendedprice")),
      lit(1L))))

  private def distinctSView(s: SparkSession, dir: String): graft.engine.AggView = {
    val store = Views.store(s, dir)
    val state = "lineitem_flagprice_s__state"
    Views.unit(store.baseDir, distinctIdxS.name)(graft.engine.AggView.attach(s, store, state)) {
      val smi = new graft.streaming.StreamingAggMapIndex(distinctIdxS, store, state)
      val li = Tables.lineitem(s, dir)
      (0 to 2).foreach(r => smi.applyBatch(li.filter(col("l_orderkey") % 3 === r)))
      smi.applyBatch(streamedChangeBatch(li))
      graft.engine.AggView.attach(s, store, state)
    }
  }

  /** The shared deterministic change batch (lineitems of `%97` orders
    * re-flagged to 'X', lineitems of `%89` orders tombstoned) every
    * incremental-maintenance fixture pushes — so the flat, bucketed and
    * streaming layouts are all graded against the SAME from-scratch
    * oracle recompute. */
  private def reflaggedUpserts(li: DataFrame): DataFrame =
    li.filter(col("l_orderkey") % 97 === 0 && col("l_orderkey") % 89 =!= 0)
      .withColumn("l_returnflag", lit("X"))
  private def tombstoneKeys(li: DataFrame): DataFrame =
    li.filter(col("l_orderkey") % 89 === 0)
      .select(lineitemKey.as("src_key"))
      .distinct()

  /** The shared lineitem batch in DuckDB, as the CTE `name`: the
    * (possibly re-flagged) flag aliased `key`, then the item `value`. */
  private def lineitemSql(key: String, value: String, name: String = "src"): String =
    s"""$name AS (
       |  SELECT CASE WHEN l_orderkey % 97 = 0 THEN 'X' ELSE l_returnflag END AS $key,
       |         $value
       |  FROM lineitem WHERE l_orderkey % 89 <> 0)""".stripMargin

  /** The shared batch as ONE streaming micro-batch: upserts + tombstones
    * together, the streaming contract's `deleted` column splitting them
    * (index.js:178,187-205). */
  private def streamedChangeBatch(li: DataFrame): DataFrame =
    reflaggedUpserts(li).withColumn("key", lineitemKey).withColumn("deleted", lit(false))
      .unionByName(tombstoneKeys(li).withColumnRenamed("src_key", "key")
        .withColumn("deleted", lit(true)), allowMissingColumns = true)

  /** Fixture for the NET change feed: its own view taken through TWO
    * refreshes with overlapping key sets, so netting genuinely differs
    * from the gross feed. v1 = the shared batch (`%97` → 'X', `%89`
    * tombstoned); v2 re-flags the surviving `%97` keys AGAIN to 'Y' and
    * tombstones `%83` — a `%97` key's intermediate 'X' state must vanish
    * from the net feed (its delete@v1 carries the ORIGINAL flag, its
    * insert@v2 carries 'Y'), and a `%97∧%83` key contributes its original
    * delete only. */
  private val byFlagNet = flagIdx("lineitem_byflag_net")

  private def netFeedView(s: SparkSession, dir: String): graft.engine.MaterializedView = {
    val store = Views.store(s, dir)
    // unit-gated for durable reopens, like aggView: re-running the
    // two-refresh history per process advanced versions until the
    // replay range GC'd out from under the net-changefeed gate
    Views.unit(store.baseDir, s"${byFlagNet.name}_unit")(store.load(byFlagNet)) {
      val li = Tables.lineitem(s, dir)
      val (ups2, dels2) = secondNetBatch(li)
      byFlagNet.materialize(li, store)
        .refresh(reflaggedUpserts(li), Some(tombstoneKeys(li)))
        .refresh(ups2, Some(dels2))
    }
  }

  /** The net-feed fixtures' SECOND batch: the surviving `%97` keys
    * re-flagged again to 'Y', `%83` tombstoned. */
  private def secondNetBatch(li: DataFrame): (DataFrame, DataFrame) =
    (li.filter(col("l_orderkey") % 97 === 0 &&
        col("l_orderkey") % 89 =!= 0 && col("l_orderkey") % 83 =!= 0)
       .withColumn("l_returnflag", lit("Y")),
     li.filter(col("l_orderkey") % 83 === 0 && col("l_orderkey") % 89 =!= 0)
       .select(lineitemKey.as("src_key")).distinct())

  /** The NET-feed fixture in the bucket-partitioned (100 TB) layout: the
    * SAME two-refresh overlapping-key history as [[netFeedView]], so the
    * netted O(delta) feed — last-writer-wins per source key across the
    * replay range — is driver-gated in BOTH storage layouts against one
    * oracle ([[graft.engine.BucketedViewStore.changesNetBetween]] shares
    * the flat store's telescoping netting; this pins the sidecar
    * plumbing underneath it too). */
  private val byFlagNetB = flagIdx("lineitem_byflag_net_b")

  private def netFeedBView(s: SparkSession, dir: String): graft.engine.BucketedViewStore = {
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, byFlagNetB.name)(store) {
      val li = Tables.lineitem(s, dir)
      store.materialize(byFlagNetB, li)
      store.refresh(byFlagNetB, reflaggedUpserts(li), Some(tombstoneKeys(li)))
      val (ups2, dels2) = secondNetBatch(li)
      store.refresh(byFlagNetB, ups2, Some(dels2))
      store
    }
  }

  /** The aggregate view in the bucket-partitioned (100 TB) layout —
    * [[graft.engine.BucketedAggView]]: same base index, same change
    * batch, state living as bucketed emissions. Its refresh also writes
    * the base view's CDC sidecar, which `mapindex_bucketed_changefeed`
    * reads back. */
  private val byFlagAggB = flagIdx("lineitem_byflag_agg_b")

  private def bucketedAggView(s: SparkSession, dir: String): graft.engine.BucketedAggView =
    Views.cached(dir, "bucketedAggView") {
      val store = graft.engine.BucketedViewStore.temp(s, numBuckets = 16)
      val li = Tables.lineitem(s, dir)
      val v = graft.engine.BucketedAggView.build(
        store, byFlagAggB, li, "lineitem_byflag_agg_b__state")
      v.refresh(byFlagAggB, reflaggedUpserts(li), Some(tombstoneKeys(li)))
      v
    }

  /** A view built purely through the STREAMING maintenance path
    * ([[graft.streaming.StreamingMapIndex.applyBatch]] micro-batches):
    * three insert batches partitioning lineitem, then the shared
    * upsert+tombstone batch — so the driver's hash gate grades the
    * streaming write path against the same batch-recompute oracle. */
  private val byFlagStream = flagIdx("lineitem_byflag_stream")

  private def streamView(s: SparkSession, dir: String): graft.engine.MaterializedView = {
    val store = Views.store(s, dir)
    Views.unit(store.baseDir, byFlagStream.name)(store.load(byFlagStream)) {
      val smi = new graft.streaming.StreamingMapIndex(byFlagStream, store)
      val li = Tables.lineitem(s, dir)
      // micro-batch 0..2: disjoint thirds of the source (bootstrap + two
      // incremental inserts through the refresh path)
      (0 to 2).foreach(r => smi.applyBatch(li.filter(col("l_orderkey") % 3 === r)))
      smi.applyBatch(streamedChangeBatch(li))
      store.load(byFlagStream)
    }
  }

  /** A downstream consumer maintained purely from the upstream CHANGE
    * FEED: bootstrapped from the v0 snapshot, then caught up to v1 by
    * replaying the CDC delta ([[graft.engine.MaterializedView
    * .cascadeChangesInto]]) — the upstream view itself is never re-read.
    * The relay map forwards each entry's grouped emissions unchanged, so
    * the downstream must equal a from-scratch recompute of the modified
    * source if and only if the feed carries the exact delta. */
  private val byFlagRelay = MapIndex.columns("lineitem_byflag_relay")(
    col("key"),
    transform(col("value"), e => emit(e("emit_key"), e("emit_value"))))

  private def cascadeCdcView(s: SparkSession, dir: String): graft.engine.MaterializedView = {
    val store = Views.store(s, dir)
    // reopen-safe: the asOf(0) seed + (0,1] replay only make sense in
    // the JVM that just built byFlagAgg (a durable reopen finds it at
    // a later version with v0 past the GC horizon); once the relay is
    // marked complete, a reopening process serves the stored relay
    Views.unit(store.baseDir, byFlagRelay.name)(store.load(byFlagRelay)) {
      aggView(s, dir) // byFlagAgg at v1 with v0 retained + the CDC sidecar
      val base = store.load(byFlagAgg)
      // version-RELATIVE seed/replay: aggView just left byFlagAgg at
      // latest L via its deterministic materialize+refresh, so the
      // pre-refresh snapshot is L-1 and the replayable delta (L-1, L]
      // — identical to (0, 1] in a fresh store, and still correct in
      // a reopened durable store where L has moved past 1
      val l = store.latestVersion(byFlagAgg.name).getOrElse(
        sys.error(s"${byFlagAgg.name} missing after aggView build"))
      byFlagRelay.materialize(
        graft.engine.MaterializedView.cascadeSourceOf(base.asOf(l - 1)), store)
      base.cascadeChangesInto(byFlagRelay, l - 1, l)
    }
  }

  /** The same micro-batch sequence through the BUCKETED streaming path
    * ([[graft.streaming.BucketedStreamingMapIndex]]) — every batch's
    * delete-then-insert rewrites only the touched buckets, and the final
    * state must still hash-match the batch recompute. */
  private val byFlagStreamB = flagIdx("lineitem_byflag_stream_b")

  private def bucketedStreamView(s: SparkSession, dir: String): graft.engine.BucketedViewStore =
    Views.cached(dir, "bucketedStreamView") {
      val store = graft.engine.BucketedViewStore.temp(s, numBuckets = 16)
      val smi = new graft.streaming.BucketedStreamingMapIndex(byFlagStreamB, store)
      val li = Tables.lineitem(s, dir)
      (0 to 2).foreach(r => smi.applyBatch(li.filter(col("l_orderkey") % 3 === r)))
      smi.applyBatch(streamedChangeBatch(li))
      store
    }

  /** Mixed-type (bytewise) keys — the reference's schema-free key model:
    * LevelDB keys are arbitrary JSON ordered ACROSS types, null < false <
    * true < numbers < strings < arrays (`index.js:4,118` keyEncoding
    * bytewise; SURVEY §1.2). One index emits a key of a DIFFERENT JSON
    * type per source row class, encoded by
    * [[graft.functions.BytewiseKey]] into an order-preserving binary —
    * the view is clustered on those bytes, so cross-type iteration order
    * and range pruning both come from plain unsigned byte comparison. */
  private def mixedCls = pmod(col("event_id"), lit(5))
  // signed number domain so the double sign-flip encoding is exercised
  private def mixedNum = (col("user_id") % 1000) - 500
  private def mixedKeyJson =
    when(mixedCls === 0, lit("null"))
      .when(mixedCls === 1,
        when(col("user_id") % 2 === 0, lit("false")).otherwise(lit("true")))
      .when(mixedCls === 2, mixedNum.cast("string"))
      .when(mixedCls === 3, concat(lit("\""), col("event_type"), lit("\"")))
      .otherwise(concat(lit("[\""), col("event_type"), lit("\","),
        mixedNum.cast("string"), lit("]")))
  private def mixedKeyType =
    when(mixedCls === 0, "null").when(mixedCls === 1, "bool")
      .when(mixedCls === 2, "number").when(mixedCls === 3, "string")
      .otherwise("array")

  private val byMixedKey = MapIndex.columns("events_mixed_keys")(
    col("event_id").cast("string"),
    array(emit(call_function("bytewise_key", mixedKeyJson),
      struct(mixedKeyType.as("key_type"), mixedKeyJson.as("key_repr")))))

  private def mixedView(s: SparkSession, dir: String) = {
    graft.functions.BytewiseKey.register(s)
    Views.materialized(s, dir, byMixedKey)(Tables.events(s, dir))
  }

  /** A view fed by two-sided change batches: the maintained-join family
    * ([[graft.engine.JoinView]], [[graft.engine.FilterJoinView]],
    * [[graft.engine.AsOfJoinView]]) shares this surface. */
  private type TwoSided = {
    def build(left: DataFrame, right: DataFrame): Unit
    def refreshLeft(ups: DataFrame, dels: Option[DataFrame]): BucketedViewStore.RefreshStats
    def refreshRight(ups: DataFrame, dels: Option[DataFrame]): BucketedViewStore.RefreshStats
  }

  /** A consumer folding a maintained relation's CDC: rollups, lattices
    * and per-key sketches. */
  private type Fold = {
    def build(): Unit
    def catchUp(): BucketedViewStore.RefreshStats
  }

  /** One two-sided fixture history: build `views` on `(l, r)`, then the
    * left change batch, then the right one, each through the delta
    * rules (every view takes each step, in order). With `slices =
    * Some((lk, rk))` the build takes only the `%3 = 0` slices and the
    * rest arrive first as INTERLEAVED micro-batches, the left always one
    * slice ahead of the right — the streaming-ingest reality (an order
    * can land BEFORE its customer, a click after the purchase it
    * attributes), so a late right arrival must heal or steal pending
    * rows through the ordinary refresh. `epoch(e)` runs after the build
    * (e = 0) and after every refresh (e = refreshes so far): rollup
    * catch-ups, cascades into the next level. */
  private def twoSidedHistory(views: Seq[TwoSided], l: DataFrame, r: DataFrame,
      lBatch: (DataFrame, Option[DataFrame]), rBatch: (DataFrame, Option[DataFrame]),
      slices: Option[(String, String)] = None)(epoch: Int => Unit): Unit = {
    var e = 0
    def step(f: TwoSided => Any): Unit = { views.foreach(f); epoch(e); e += 1 }
    slices match {
      case Some((lk, rk)) =>
        def lS(i: Int) = l.filter(col(lk) % 3 === i)
        def rS(i: Int) = r.filter(col(rk) % 3 === i)
        step(_.build(lS(0), rS(0)))
        for (i <- 1 to 2) {
          step(_.refreshLeft(lS(i), None))
          step(_.refreshRight(rS(i), None))
        }
      case None => step(_.build(l, r))
    }
    step(_.refreshLeft(lBatch._1, lBatch._2))
    step(_.refreshRight(rBatch._1, rBatch._2))
  }

  /** Epoch callback building every fold after the base build and
    * catching all of them up after every refresh. */
  private def folding(folds: Fold*): Int => Unit = {
    case 0 => folds.foreach(_.build())
    case _ => folds.foreach(_.catchUp())
  }

  /** Epoch callback for a two-level cascade: `below` builds the next
    * level after the base build, and after every refresh `up`'s CDC
    * since the previous one replays into `down` — no level ever
    * re-reads its inputs. */
  private def cascading(up: graft.engine.MaintainedRelation,
      down: graft.engine.LeftKeyedConsumer)(below: => Unit): Int => Unit = {
    var from = 0
    e => if (e == 0) below else { up.cascadeInto(down, from, up.epoch); from = up.epoch }
  }

  /** One maintained view as a build unit named after the view: `open`
    * constructs the handle (the reopen branch serves it as-is),
    * `history` runs its store calls, and `compact` adds a no-change
    * compaction epoch on top (`maxFilesPerBucket = 0`: every live bucket
    * rewrites, so the epoch bump is deterministic). */
  private def viewUnit[V](s: SparkSession, dir: String, unit: String,
      open: (BucketedViewStore, String) => V, compact: Boolean = false)
      (history: V => Unit): V = {
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, unit)(open(store, unit)) {
      val v = open(store, unit)
      history(v)
      if (compact) store.compact(unit, maxFilesPerBucket = 0)
      v
    }
  }

  /** A maintained rollup (state `<unit>__rollup`) over the relation
    * `open` constructs, as one build unit: `history` takes the relation
    * and the rollup through their store calls; a reopen attaches. */
  private def rollupUnit[R <: graft.engine.MaintainedRelation](s: SparkSession,
      dir: String, unit: String, open: (BucketedViewStore, String) => R,
      group: String, measures: Measures, trackValues: Boolean = false)
      (history: (R, JoinAggView) => Unit): JoinAggView = {
    val store = Views.bucketedStore(s, dir)
    val state = s"${unit}__rollup"
    Views.unit(store.baseDir, unit)(
      JoinAggView.attach(open(store, unit), state, group, measures, trackValues)) {
      val r = open(store, unit)
      val agg = new JoinAggView(r, state, group, measures, trackValues)
      history(r, agg)
      agg
    }
  }

  /** [[rollupUnit]]'s lattice twin: one grouping-sets state
    * (`<unit>__roll`) over the relation `open` constructs. */
  private def latticeUnit[R <: graft.engine.MaintainedRelation](s: SparkSession,
      dir: String, unit: String, open: (BucketedViewStore, String) => R,
      groupCols: Seq[String], measures: Measures, sets: Seq[Seq[String]],
      trackValues: Boolean = false)(history: (R, JoinGroupingView) => Unit): JoinGroupingView = {
    val store = Views.bucketedStore(s, dir)
    val state = s"${unit}__roll"
    Views.unit(store.baseDir, unit)(JoinGroupingView.attach(open(store, unit), state,
      groupCols, measures, sets, trackValues)) {
      val r = open(store, unit)
      val gv = new JoinGroupingView(r, state, groupCols, measures, sets, trackValues)
      history(r, gv)
      gv
    }
  }

  private val OrderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  private val CustomerCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  /** The narrow orders payload of the filter and priority-dim fixtures. */
  private val PriorityOrderCols = Seq("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
  /** The lattices' grouping columns. */
  private val SegmentPriority = Seq("c_mktsegment", "o_orderpriority")

  /** The shared orders⋈customer [[graft.engine.JoinView]]: orders joined
    * to their customer, the eleven columns every orders⋈customer gate
    * serves. */
  private def ordersCustomer(store: BucketedViewStore, name: String,
      joinType: String = "inner", saltBuckets: Int = 1): JoinView =
    new JoinView(store, name, "o_orderkey", "o_custkey", OrderCols,
      "c_custkey", "c_custkey", CustomerCols, saltBuckets = saltBuckets, joinType = joinType)

  /** Orders filtered by customer membership ([[graft.engine.FilterJoinView]],
    * `mode` semi or anti); the right relation is stored as KEYS ONLY. */
  private def ordersByCustomer(store: BucketedViewStore, name: String, mode: String,
      payload: String, saltBuckets: Int = 1): FilterJoinView =
    new FilterJoinView(store, name, "o_orderkey", "o_custkey",
      Seq("o_orderkey", "o_custkey", payload, "o_totalprice"),
      "c_custkey", "c_custkey", mode, saltBuckets)

  /** The shared orders change batch: `%37` orders repriced (+1000),
    * `%41` tombstoned. `orphan` ALSO tombstones every order of the `%19`
    * customers — orphaning them entirely so genuine RIGHT-pads exist at
    * the full- and right-outer gates (the synthetic data gives every
    * customer surviving orders under the `%41`-only delete, which would
    * leave the rpad twin empty and the full join row-identical to the
    * left join). `reprice = false` upserts the `%37` orders unchanged. */
  private def ordersBatch(o: DataFrame, orphan: Boolean = false,
      reprice: Boolean = true): (DataFrame, Option[DataFrame]) = {
    val (kept, gone) =
      if (orphan) (col("o_orderkey") % 41 =!= 0 && col("o_custkey") % 19 =!= 0,
        col("o_orderkey") % 41 === 0 || col("o_custkey") % 19 === 0)
      else (col("o_orderkey") % 41 =!= 0, col("o_orderkey") % 41 === 0)
    val ups = o.filter(col("o_orderkey") % 37 === 0 && kept)
    (if (reprice) ups.withColumn("o_totalprice", col("o_totalprice") + 1000) else ups,
     Some(o.filter(gone).select(col("o_orderkey").cast("string")).distinct()))
  }

  /** [[ordersBatch]] in DuckDB, as the CTE `o`: `cols` and the repriced
    * `o_totalprice` of the surviving orders (`orphan` as there). */
  private def ordersSql(cols: String, orphan: Boolean = false): String =
    s"""o AS (
       |  SELECT $cols,
       |         CASE WHEN o_orderkey % 37 = 0 THEN o_totalprice + 1000
       |              ELSE o_totalprice END AS o_totalprice
       |  FROM orders WHERE o_orderkey % 41 <> 0${if (orphan) " AND o_custkey % 19 <> 0" else ""})""".stripMargin

  /** The shared customers change batch: `%13` customers re-balanced
    * (+100 acctbal), `%17` tombstoned. `rebalance = false` upserts them
    * unchanged (the semi/anti views store right keys only). */
  private def customersBatch(c: DataFrame,
      rebalance: Boolean = true): (DataFrame, Option[DataFrame]) = {
    val ups = c.filter(col("c_custkey") % 13 === 0 && col("c_custkey") % 17 =!= 0)
    (if (rebalance) ups.withColumn("c_acctbal", col("c_acctbal") + 100) else ups,
     Some(c.filter(col("c_custkey") % 17 === 0)
       .select(col("c_custkey").cast("string")).distinct()))
  }

  /** [[customersBatch]] in DuckDB, as the CTE `c`: `cols` of the
    * surviving customers, then (`rebalance`) their re-balanced
    * `c_acctbal`. */
  private def customerSql(cols: String, rebalance: Boolean = true): String =
    if (rebalance)
      s"""c AS (
         |  SELECT $cols,
         |         CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 100
         |              ELSE c_acctbal END AS c_acctbal
         |  FROM customer WHERE c_custkey % 17 <> 0)""".stripMargin
    else
      s"""c AS (
         |  SELECT $cols
         |  FROM customer WHERE c_custkey % 17 <> 0)""".stripMargin
  /** The surviving customer keys alone, as the CTE `c`. */
  private val customerKeysSql = "c AS (SELECT c_custkey FROM customer WHERE c_custkey % 17 <> 0)"

  /** The shared orders⋈customer history: [[twoSidedHistory]] over the
    * base orders and customers with [[ordersBatch]] on the left and
    * [[customersBatch]] on the right — one deterministic history, so
    * every gate over it is graded by the plain SQL over both modified
    * tables. `streamed` interleaves the `%3` slices first. */
  private def ordersCustomerHistory(s: SparkSession, dir: String, views: Seq[TwoSided],
      orphan: Boolean = false, streamed: Boolean = false, rebalance: Boolean = true,
      epoch: Int => Unit = _ => ()): Unit = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    twoSidedHistory(views, o, c, ordersBatch(o, orphan), customersBatch(c, rebalance),
      if (streamed) Some(("o_orderkey", "c_custkey")) else None)(epoch)
  }

  /** Level 2 of the three-way chain: level 1's orders⋈customer rows
    * joined to their nation. */
  private def nationLevel(store: BucketedViewStore, name: String): JoinView =
    new JoinView(store, name, "o_orderkey", "c_nationkey", OrderCols ++ CustomerCols,
      "n_nationkey", "n_nationkey", Seq("n_nationkey", "n_name"))

  /** Level 2's own right batch: nations `%5` renamed, `%7` tombstoned. */
  private def nationBatch(n: DataFrame): (DataFrame, Option[DataFrame]) =
    (n.filter(col("n_nationkey") % 5 === 0 && col("n_nationkey") % 7 =!= 0)
       .withColumn("n_name", concat(col("n_name"), lit("_X"))),
     Some(n.filter(col("n_nationkey") % 7 === 0)
       .select(col("n_nationkey").cast("string")).distinct()))

  /** [[nationBatch]] in DuckDB, as the CTE `n`. */
  private val nationSql =
    """n AS (
      |  SELECT n_nationkey,
      |         CASE WHEN n_nationkey % 5 = 0 THEN n_name || '_X'
      |              ELSE n_name END AS n_name
      |  FROM nation WHERE n_nationkey % 7 <> 0)""".stripMargin

  /** Orders joined to the derived per-priority dim. */
  private def ordersPriority(store: BucketedViewStore, name: String): JoinView =
    new JoinView(store, name, "o_orderkey", "o_orderpriority", PriorityOrderCols,
      "p_name", "p_name", Seq("p_name", "p_cnt"))

  /** The per-priority dim: one row per priority with its order count,
    * derived from the ORIGINAL orders (the oracles mirror this). */
  private def priorityDim(o: DataFrame): DataFrame =
    o.groupBy(col("o_orderpriority").as("p_name")).agg(count(lit(1)).as("p_cnt"))

  private def priorityDigit = substring(col("p_name"), 1, 1).cast("int")

  /** The priority dim's own batch: odd-digit priorities re-counted
    * (+7), the '5-LOW' digit dropped. */
  private def priorityDimBatch(dim: DataFrame): (DataFrame, Option[DataFrame]) =
    (dim.filter(priorityDigit % 2 === 1 && priorityDigit % 5 =!= 0)
       .withColumn("p_cnt", col("p_cnt") + 7),
     Some(dim.filter(priorityDigit % 5 === 0).select(col("p_name")).distinct()))

  /** Build the stored views eagerly (write-time cost, SURVEY.md §4.1) so
    * bench timings measure the read path the reference architecture pays. */
  /** Maintained orders⋈customer equi-join view ([[graft.engine.JoinView]]
    * — delta-join IVM): built on the base tables, then one change batch
    * to EACH side through the partition-scoped delta-join refresh —
    * orders `%37` repriced / `%41` tombstoned, then customers `%13`
    * re-balanced / `%17` tombstoned. The serving query's oracle is the
    * plain SQL join of both modified tables, so any stale join row (a
    * repriced order still carrying its old total, a deleted customer's
    * orders not retracted) is a hash mismatch. */
  private def ordersCustomerView(s: SparkSession, dir: String): JoinView =
    viewUnit(s, dir, "orders_customer", ordersCustomer(_, _))(
      jv => ordersCustomerHistory(s, dir, Seq(jv)))

  /** The join view built through INTERLEAVED two-sided micro-batches —
    * the streaming-ingest reality delta-join IVM has to survive: orders
    * and customers arrive out of order (an order can land BEFORE its
    * customer), each batch goes through the ordinary delta-join refresh,
    * and a late right arrival HEALS the pending join rows (its dirty key
    * re-reads the waiting left bucket). After full arrival the view must
    * equal the one-shot join; the same change batches as
    * [[ordersCustomerView]] then run on top, so the identical oracle
    * grades the whole history. */
  private def streamedOrdersCustomerView(s: SparkSession, dir: String): JoinView =
    viewUnit(s, dir, "orders_customer_s", ordersCustomer(_, _))(
      jv => ordersCustomerHistory(s, dir, Seq(jv), streamed = true))

  /** The join view with a COMPACTION epoch on top — the delta-join twin
    * of the pair/ANN compaction gates: build → both change batches →
    * `compact` (a no-change epoch folding the two refreshes' bucket
    * fragments). Serving afterwards must equal [[ordersCustomerView]]'s
    * answer exactly. */
  private def compactedOrdersCustomerView(s: SparkSession, dir: String): JoinView =
    viewUnit(s, dir, "orders_customer_c", ordersCustomer(_, _), compact = true)(
      jv => ordersCustomerHistory(s, dir, Seq(jv)))

  /** The join view under SALT-SHARDED emit keys (`saltBuckets = 4` — the
    * skew hardening: a hot join key's rows spread over 4 shard buckets,
    * so a delta's rewrite I/O stays ∝ delta under key skew). Same build
    * + two-sided change batches as [[ordersCustomerView]], same oracle:
    * the shard layout must be invisible to serving. */
  private def saltedOrdersCustomerView(s: SparkSession, dir: String): JoinView =
    viewUnit(s, dir, "orders_customer_sl", ordersCustomer(_, _, saltBuckets = 4))(
      jv => ordersCustomerHistory(s, dir, Seq(jv)))

  /** The LEFT-OUTER maintained join — outer-join IVM: an order whose
    * customer is missing (or tombstoned by the right-side batch) holds a
    * null-padded row instead of vanishing, and a late/restored customer
    * HEALS the null-pad into the real join row through the ordinary
    * ownership delete-then-insert. Same build + two-sided change batches
    * as [[ordersCustomerView]]; the oracle is the from-scratch LEFT JOIN
    * of both modified tables — the %17-tombstoned customers' orders MUST
    * appear null-padded (the inner twin drops them). */
  private def leftOuterOrdersCustomerView(s: SparkSession, dir: String): JoinView =
    viewUnit(s, dir, "orders_customer_lo", ordersCustomer(_, _, joinType = "left_outer"))(
      jv => ordersCustomerHistory(s, dir, Seq(jv)))

  /** The FULL-OUTER maintained join — the remaining published outer-join
    * delta rule: unmatched rows on EITHER side hold null-padded rows
    * (left-pads via the owned left_outer relation, right-pads via the
    * `__rpad` twin keyed by the right pk), and pads heal/re-form in BOTH
    * directions under the change batches. Same build + two-sided batches
    * as [[ordersCustomerView]]; the oracle is the from-scratch FULL JOIN
    * of both modified tables — %41-tombstoned orders' surviving customers
    * must appear right-padded, %17-tombstoned customers' orders
    * left-padded. */
  private def fullOuterOrdersCustomerView(s: SparkSession, dir: String): JoinView =
    viewUnit(s, dir, "orders_customer_fo", ordersCustomer(_, _, joinType = "full_outer"))(
      jv => ordersCustomerHistory(s, dir, Seq(jv), orphan = true))

  /** The RIGHT-OUTER maintained join: the inner-owned relation (matched
    * rows only) plus the same `__rpad` twin as full_outer — customers
    * whose orders all vanished appear right-padded; orders of tombstoned
    * customers DROP (no left-pads). Same build + batches as
    * [[fullOuterOrdersCustomerView]] (incl. the %19 orphaning that makes
    * genuine right-pads exist); the oracle is the from-scratch RIGHT
    * JOIN of both modified tables. */
  private def rightOuterOrdersCustomerView(s: SparkSession, dir: String): JoinView =
    viewUnit(s, dir, "orders_customer_ro", ordersCustomer(_, _, joinType = "right_outer"))(
      jv => ordersCustomerHistory(s, dir, Seq(jv), orphan = true))

  /** Maintained AGGREGATE-OVER-JOIN ([[graft.engine.JoinAggView]]): a
    * revenue-by-priority rollup fed from the orders⋈customer join view's
    * CDC sidecar — after EACH side's change batch the rollup catches up
    * by folding that refresh's join delta, never re-reading the join.
    * The oracle recomputes join+group-by from both modified tables from
    * scratch, so a stale group (a repriced order's old total still in
    * its priority's sum, a deleted customer's orders not retracted from
    * the rollup) is a hash mismatch. */
  private def ordersCustomerAggView(s: SparkSession, dir: String): JoinAggView =
    rollupUnit(s, dir, "orders_customer_g", ordersCustomer(_, _),
        "o_orderpriority", "o_totalprice") { (jv, agg) =>
      ordersCustomerHistory(s, dir, Seq(jv), epoch = folding(agg)) }

  /** The rollup with the VALUE-REFCOUNT companion state
    * (`trackValues = true`): alongside `(cnt, sum)` the engine maintains
    * one row per live (priority, totalprice) with its multiplicity —
    * the deletion-safe machinery serving exact per-group min / max /
    * distinct-count, the aggregates a plain (cnt,sum) state cannot
    * retract. Same join history as [[ordersCustomerAggView]]; the
    * oracle recomputes all six aggregates from scratch. */
  private def ordersCustomerAggMultiView(s: SparkSession, dir: String): JoinAggView =
    rollupUnit(s, dir, "orders_customer_gm", ordersCustomer(_, _),
        "o_orderpriority", "o_totalprice", trackValues = true) { (jv, agg) =>
      ordersCustomerHistory(s, dir, Seq(jv), epoch = folding(agg)) }

  /** The rollup OVER A FULL-OUTER view — the composition the engine
    * refused before the twin-feed fold: revenue by market segment where
    * unmatched orders (their customers tombstoned) aggregate under the
    * NULL segment and right-pads (orphaned customers) count into their
    * real segment with a null value. [[graft.engine.JoinAggView]] folds
    * BOTH CDC feeds (owned + `__rpad`) per catch-up; the oracle
    * recomputes FULL JOIN + GROUP BY from both modified tables. */
  private def fullOuterOrdersCustomerAggView(s: SparkSession, dir: String): JoinAggView =
    rollupUnit(s, dir, "orders_customer_fog", ordersCustomer(_, _, joinType = "full_outer"),
        "c_mktsegment", "o_totalprice") { (jv, agg) =>
      ordersCustomerHistory(s, dir, Seq(jv), orphan = true, epoch = folding(agg)) }

  /** ROLLUP-OVER-CASCADE at depth 2: a JoinAggView fed by the level-2
    * view of the three-way chain — the full base → join → join → group
    * delta path in one gate. Level 1 (orders⋈customer) refreshes push
    * into level 2 purely via [[graft.engine.JoinView.cascadeInto]] CDC
    * replay; the nation batch runs level 2's own right-side refresh; and
    * after EVERY level-2 epoch the revenue-by-nation rollup catches up
    * from level 2's CDC alone. No level ever re-reads its inputs. */
  private def ordersCustomerNationAggView(s: SparkSession, dir: String): JoinAggView =
    rollupUnit(s, dir, "ocn3g", nationLevel(_, _), "n_name", "o_totalprice") { (jv2, agg) =>
      val jv1 = ordersCustomer(jv2.store, "oc3g")
      val n = Tables.nation(s, dir)
      val (cascade, fold) = (cascading(jv1, jv2)(jv2.build(jv1.df, n)), folding(agg))
      ordersCustomerHistory(s, dir, Seq(jv1), epoch = e => { cascade(e); fold(e) })
      val (ups, dels) = nationBatch(n)
      jv2.refreshRight(ups, dels); agg.catchUp()
    }

  /** The rollup maintained through the STREAMING join history: the same
    * interleaved out-of-order micro-batches as
    * [[streamedOrdersCustomerView]], with the JoinAggView catching up
    * after EVERY batch — including the batches where a late customer
    * HEALS pending join rows (the heal's join delta must flow into the
    * rollup like any other delta). Final state must equal the same
    * from-scratch join+group-by oracle as the batch-built rollup. */
  private def streamedOrdersCustomerAggView(s: SparkSession, dir: String): JoinAggView =
    rollupUnit(s, dir, "orders_customer_gs", ordersCustomer(_, _),
        "o_orderpriority", "o_totalprice") { (jv, agg) =>
      ordersCustomerHistory(s, dir, Seq(jv), streamed = true, epoch = folding(agg)) }

  /** THREE-WAY delta join — (orders⋈customer)⋈nation at depth 2
    * ([[graft.engine.JoinView.cascadeInto]]): level 2's left side is
    * level 1's joined output, caught up after each level-1 refresh by
    * replaying level 1's CDC feed (O(delta) per level — no level ever
    * re-reads its inputs). A nation-side batch (renames + tombstones)
    * then exercises level 2's own right-side refresh: deleting a nation
    * must retract every surviving order of that nation's customers from
    * the final relation. */
  private def ordersCustomerNationView(s: SparkSession, dir: String): JoinView =
    viewUnit(s, dir, "ocn3", nationLevel(_, _)) { jv2 =>
      val jv1 = ordersCustomer(jv2.store, "oc3")
      val n = Tables.nation(s, dir)
      ordersCustomerHistory(s, dir, Seq(jv1), epoch = cascading(jv1, jv2)(jv2.build(jv1.df, n)))
      val (ups, dels) = nationBatch(n)
      jv2.refreshRight(ups, dels)
    }

  /** The maintained AS-OF join view ([[graft.engine.AsOfJoinView]]):
    * every purchase joined to the user's LAST click at-or-before it
    * (backward as-of, ties to the greatest click id; clickless purchases
    * null-padded) — last-touch attribution, kept fresh under change
    * batches to EACH side. The left batch re-values AND re-times
    * purchases `%37` (a moved probe must re-pick) and tombstones `%41`;
    * the right batch re-values and re-times clicks `%13` (a moved
    * candidate steals or releases matches) and tombstones `%17` (matched
    * purchases must fall back to the previous click or the null pad).
    * The oracle recomputes the as-of argmax per purchase from both
    * modified tables, so any stale pick is a hash mismatch. */
  private def purchaseClickView(s: SparkSession, dir: String): AsOfJoinView =
    viewUnit(s, dir, "purchase_click_asof", purchaseClick(_, _))(
      v => purchaseClickHistory(s, dir, Seq(v)))

  private val PurchaseCols = Seq("a_id", "a_user", "a_ts", "a_value")
  private val ClickCols = Seq("b_id", "b_user", "b_ts", "b_value")

  /** The shared purchase→click [[graft.engine.AsOfJoinView]] spec. */
  private def purchaseClick(store: BucketedViewStore, name: String,
      direction: String = "backward",
      tolerance: Option[(org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column] = None,
      saltBuckets: Int = 1, rightKeyed: Boolean = false,
      leftCols: Seq[String] = PurchaseCols): AsOfJoinView =
    new AsOfJoinView(store, name, "a_id", "a_user", "a_ts", leftCols,
      "b_id", "b_user", "b_ts", ClickCols, direction = direction, tolerance = tolerance,
      saltBuckets = saltBuckets, rightKeyed = rightKeyed)

  /** The shared purchase/click history: [[twoSidedHistory]] with the
    * purchase batch on the left and the click batch on the right;
    * `streamed` interleaves the `%3` slices first (late clicks steal
    * matches). */
  private def purchaseClickHistory(s: SparkSession, dir: String, views: Seq[TwoSided],
      streamed: Boolean = false, epoch: Int => Unit = _ => ()): Unit = {
    val (p, c) = purchasesClicks(s, dir)
    twoSidedHistory(views, p, c, (purchaseUps(p), Some(purchaseDels(p))),
      (clickUps(c), Some(clickDels(c))),
      if (streamed) Some(("a_id", "b_id")) else None)(epoch)
  }

  private def purchasesClicks(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, dir)
    (ev.filter(col("event_type") === "purchase")
       .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
         col("ts").as("a_ts"), col("value").as("a_value")),
     ev.filter(col("event_type") === "click")
       .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
         col("ts").as("b_ts"), col("value").as("b_value")))
  }
  private def purchaseUps(p: DataFrame): DataFrame =
    p.filter(col("a_id") % 37 === 0 && col("a_id") % 41 =!= 0)
      .withColumn("a_value", col("a_value") + 1000)
      .withColumn("a_ts", col("a_ts") + expr("INTERVAL 1 HOUR"))
  private def purchaseDels(p: DataFrame): DataFrame =
    p.filter(col("a_id") % 41 === 0).select(col("a_id").cast("string")).distinct()
  private def clickUps(c: DataFrame): DataFrame =
    c.filter(col("b_id") % 13 === 0 && col("b_id") % 17 =!= 0)
      .withColumn("b_value", col("b_value") + 100)
      .withColumn("b_ts", col("b_ts") + expr("INTERVAL 30 MINUTES"))
  private def clickDels(c: DataFrame): DataFrame =
    c.filter(col("b_id") % 17 === 0).select(col("b_id").cast("string")).distinct()

  /** Both sides after their batches in DuckDB: purchases as the CTE `p`
    * ([[purchaseUps]], [[purchaseDels]]), clicks as `c` ([[clickUps]],
    * [[clickDels]]). */
  private val purchaseClickSql =
    """p AS (
      |  SELECT event_id AS a_id, user_id AS a_user,
      |         CASE WHEN event_id % 37 = 0 THEN ts + INTERVAL 1 HOUR
      |              ELSE ts END AS a_ts,
      |         CASE WHEN event_id % 37 = 0 THEN value + 1000
      |              ELSE value END AS a_value
      |  FROM events WHERE event_type = 'purchase' AND event_id % 41 <> 0),
      |c AS (
      |  SELECT event_id AS b_id, user_id AS b_user,
      |         CASE WHEN event_id % 13 = 0 THEN ts + INTERVAL 30 MINUTE
      |              ELSE ts END AS b_ts,
      |         CASE WHEN event_id % 13 = 0 THEN value + 100
      |              ELSE value END AS b_value
      |  FROM events WHERE event_type = 'click' AND event_id % 17 <> 0)""".stripMargin

  /** The as-of pick rules in DuckDB: the WHERE … LIMIT 1 lines of the
    * correlated subquery that picks click `b` for purchase row `p`.
    * Backward: greatest ts <= the purchase's, ties to the greatest click
    * id; `tol` bounds the distance to one hour. */
  private def backwardPick(tol: Boolean)(p: String): String = {
    val within = if (tol) s"\n  AND epoch_us($p.a_ts) - epoch_us(b.b_ts) <= 3600000000" else ""
    s"""WHERE b.b_user = $p.a_user AND b.b_ts <= $p.a_ts$within
       |ORDER BY b.b_ts DESC, b.b_id DESC LIMIT 1""".stripMargin
  }
  /** Forward: least ts >= the purchase's, ties to the least click id. */
  private def forwardPick(p: String): String =
    s"""WHERE b.b_user = $p.a_user AND b.b_ts >= $p.a_ts
       |ORDER BY b.b_ts ASC, b.b_id ASC LIMIT 1""".stripMargin
  /** Nearest within one hour: least |dt|, distance ties backward, then
    * the side's own id rule (epoch_us: the engine reads microseconds). */
  private def nearestPick(p: String): String =
    s"""WHERE b.b_user = $p.a_user
       |  AND abs(epoch_us(b.b_ts) - epoch_us($p.a_ts)) <= 3600000000
       |ORDER BY abs(epoch_us(b.b_ts) - epoch_us($p.a_ts)) ASC,
       |         (b.b_ts <= $p.a_ts) DESC,
       |         CASE WHEN b.b_ts <= $p.a_ts THEN -b.b_id ELSE b.b_id END ASC
       |LIMIT 1""".stripMargin
  /** The `b_id` (and, with `value`, the rounded `b_value`) of the click
    * `rule` picks from relation `side` for purchase row `p`, as select
    * items indented by `ind`. */
  private def asOfPickSql(rule: String => String, p: String = "a", side: String = "c",
      ind: String = "  ", value: Boolean = true): String = {
    def pick(item: String, as: String) =
      s"$ind(SELECT $item FROM $side b\n" +
        rule(p).linesIterator.map(l => s"$ind $l").mkString("\n") + s") AS $as"
    if (value) s"${pick("b.b_id", "b_id")},\n${pick("round(b.b_value, 2)", "b_value")}"
    else pick("b.b_id", "b_id")
  }
  /** The backward as-of row of each purchase in `p` from clicks `c`, as
    * the body of a CTE. */
  private def asOfRowsSql(p: String, c: String): String =
    s"""  SELECT a.a_id, a.a_user, round(a.a_value, 2) AS a_value,
       |${asOfPickSql(backwardPick(tol = false), side = c, ind = "    ")}
       |  FROM $p a)""".stripMargin

  /** The as-of view built PURELY through interleaved out-of-order
    * micro-batches ([[purchaseClickView]]'s streaming twin): purchases
    * arrive one slice ahead of clicks, so early purchases serve with a
    * provisional (or null) match that a LATE click must STEAL on its
    * own refresh — the as-of analog of the equi twin's heal. The shared
    * change batches land on top; the final state is graded by the SAME
    * from-scratch oracle as the batch-built view. */
  private def purchaseClickStreamView(s: SparkSession, dir: String): AsOfJoinView =
    viewUnit(s, dir, "purchase_click_asof_s", purchaseClick(_, _))(
      v => purchaseClickHistory(s, dir, Seq(v), streamed = true))

  /** The as-of view under SALT-SHARDED emit keys (`saltBuckets = 4` —
    * the hot-user hardening: one user's facts and clicks spread over 4
    * shard buckets so delta rewrites stay shard-local). Same history as
    * [[purchaseClickView]], same oracle: shards must be invisible. */
  private def purchaseClickSaltedView(s: SparkSession, dir: String): AsOfJoinView =
    viewUnit(s, dir, "purchase_click_asof_sl", purchaseClick(_, _, saltBuckets = 4))(
      v => purchaseClickHistory(s, dir, Seq(v)))

  /** The as-of store COMPACTED after both change batches — bin-packing
    * the accreted bucket fragments of the joined relation must be
    * invisible to as-of serving (same oracle as the uncompacted twin). */
  private def purchaseClickCompactView(s: SparkSession, dir: String): AsOfJoinView =
    viewUnit(s, dir, "purchase_click_asof_c", purchaseClick(_, _), compact = true)(
      v => purchaseClickHistory(s, dir, Seq(v)))

  /** FORWARD and TOLERANCE variants of the maintained as-of view, each
    * under the SAME two-sided change-batch history: forward picks the
    * NEXT click at-or-after each purchase (least ts ≥, ties to least
    * id); tolerance bounds the backward pick to one hour. Both delta
    * rules re-pick under the variant semantics — a moved click must
    * steal/release forward matches and tolerance-expire stale ones. */
  private def purchaseClickFwdView(s: SparkSession, dir: String): AsOfJoinView =
    viewUnit(s, dir, "purchase_click_asof_f", purchaseClick(_, _, direction = "forward"))(
      v => purchaseClickHistory(s, dir, Seq(v)))

  private def purchaseClickTolView(s: SparkSession, dir: String): AsOfJoinView =
    viewUnit(s, dir, "purchase_click_asof_t", purchaseClick(_, _, tolerance = Some((lts, rts) =>
        unix_micros(lts) - unix_micros(rts) <= lit(3600000000L))))( // 1 h
      v => purchaseClickHistory(s, dir, Seq(v)))

  /** A [[graft.engine.JoinAggView]] OVER the as-of view — the maintained
    * last-touch attribution rollup ("revenue credited to each click,
    * always fresh"; the null group = unattributed revenue): the rollup
    * consumes the as-of view's CDC alone through the shared
    * [[graft.engine.MaintainedRelation]] contract, catching up after
    * every refresh. Same history as [[purchaseClickView]] on twin view
    * names; the oracle recomputes match + group-by from scratch. */
  private def purchaseClickAttribution(s: SparkSession, dir: String): JoinAggView =
    rollupUnit(s, dir, "purchase_click_asof_g", purchaseClick(_, _), "b_id", "a_value") {
      (v, agg) => purchaseClickHistory(s, dir, Seq(v), epoch = folding(agg)) }

  /** Maintained GROUPING-SETS lattices ([[graft.engine.JoinGroupingView]]):
    * ONE join view ("orders_customer_l", the shared change-batch history)
    * feeds TWO lattice states from the same CDC — the ROLLUP of
    * (c_mktsegment, o_orderpriority) and the full CUBE — each fold
    * updating every grouping set at once. The oracles are DuckDB's own
    * `GROUP BY ROLLUP` / `GROUP BY CUBE` over both modified tables, with
    * the gid bitmask recomputed via GROUPING(). */
  private def ordersCustomerLattice(s: SparkSession, dir: String,
      cube: Boolean): JoinGroupingView = {
    val store = Views.bucketedStore(s, dir)
    val rSets = JoinGroupingView.rollupSets(SegmentPriority)
    val cSets = JoinGroupingView.cubeSets(SegmentPriority)
    def lattices(jv: JoinView, mk: (JoinView, String, Seq[Seq[String]]) => JoinGroupingView) =
      (mk(jv, "orders_customer_l__roll", rSets), mk(jv, "orders_customer_l__cube", cSets))
    val (r, c) = Views.unit(store.baseDir, "orders_customer_l")(
      lattices(ordersCustomer(store, "orders_customer_l"),
        JoinGroupingView.attach(_, _, SegmentPriority, "o_totalprice", _))) {
      val jv = ordersCustomer(store, "orders_customer_l")
      val (r0, c0) = lattices(jv,
        new JoinGroupingView(_, _, SegmentPriority, "o_totalprice", _))
      ordersCustomerHistory(s, dir, Seq(jv), epoch = folding(r0, c0))
      (r0, c0)
    }
    if (cube) c else r
  }

  /** Maintained SEMI and ANTI join views ([[graft.engine.FilterJoinView]]
    * — the membership-flip delta rule): "orders of surviving customers"
    * and "orders orphaned by the customer purge", one store unit, both
    * under the shared two-sided change batches. The right relation is
    * stored as KEYS ONLY ((pk, jk) — membership needs no payload). The
    * customer `%17` tombstones guarantee genuine anti rows at the gate;
    * oracles are from-scratch EXISTS / NOT EXISTS over both modified
    * tables. */
  private def ordersCustomerFilterView(s: SparkSession, dir: String,
      mode: String): FilterJoinView = {
    val store = Views.bucketedStore(s, dir)
    def both = (ordersByCustomer(store, "orders_customer_semi", "semi", "o_orderstatus"),
      ordersByCustomer(store, "orders_customer_anti", "anti", "o_orderstatus"))
    val (semi, anti) = Views.unit(store.baseDir, "orders_customer_semianti")(both) {
      val (semi, anti) = both
      ordersCustomerHistory(s, dir, Seq(semi, anti), rebalance = false)
      (semi, anti)
    }
    if (mode == "semi") semi else anti
  }

  /** The SEMI view under SALT-SHARDED emit keys (`saltBuckets = 4`) —
    * a hot customer's orders spread over 4 shard buckets; membership
    * and serving must be shard-invisible. Same history and oracle as
    * [[ordersCustomerFilterView]]'s semi half. */
  private def saltedSemiView(s: SparkSession, dir: String): FilterJoinView =
    viewUnit(s, dir, "orders_customer_semisl",
        ordersByCustomer(_, _, "semi", "o_orderstatus", saltBuckets = 4))(
      fv => ordersCustomerHistory(s, dir, Seq(fv), rebalance = false))

  /** The ROLLUP lattice fed through the STREAMING join history: the
    * same interleaved out-of-order micro-batches as the streamed join
    * twin, with the whole lattice catching up from the CDC after EVERY
    * batch — heals included. Same oracle as the batch-built lattice. */
  private def streamedOrdersCustomerLattice(s: SparkSession, dir: String): JoinGroupingView =
    latticeUnit(s, dir, "orders_customer_ls", ordersCustomer(_, _), SegmentPriority,
        "o_totalprice", JoinGroupingView.rollupSets(SegmentPriority)) { (jv, gv) =>
      ordersCustomerHistory(s, dir, Seq(jv), streamed = true, epoch = folding(gv)) }

  /** The ROLLUP lattice over a FULL-OUTER view ([[graft.engine
    * .JoinGroupingView]] folding BOTH CDC feeds — owned + right-pad
    * twin): left-pads put a GENUINE NULL in the segment sets, right-pads
    * a null priority with a sum-invisible null value, and every pad,
    * heal and re-pad flows into every grouping set. Same orphaning
    * history as [[fullOuterOrdersCustomerView]] on twin names. */
  private def fullOuterOrdersCustomerLattice(s: SparkSession, dir: String): JoinGroupingView =
    latticeUnit(s, dir, "orders_customer_fol", ordersCustomer(_, _, joinType = "full_outer"),
        SegmentPriority, "o_totalprice", JoinGroupingView.rollupSets(SegmentPriority)) {
      (jv, gv) => ordersCustomerHistory(s, dir, Seq(jv), orphan = true, epoch = folding(gv)) }

  /** The attribution rollup WITH the value-refcount companion
    * (`trackValues = true`): exact deletion-safe per-click min / max /
    * distinct-count of attributed revenue alongside (cnt, sum), all
    * maintained from the as-of view's CDC. Same history as
    * [[purchaseClickAttribution]] on twin names. */
  private def purchaseClickAttributionMulti(s: SparkSession, dir: String): JoinAggView =
    rollupUnit(s, dir, "purchase_click_asof_gm", purchaseClick(_, _), "b_id", "a_value",
        trackValues = true) {
      (v, agg) => purchaseClickHistory(s, dir, Seq(v), epoch = folding(agg)) }

  /** A rollup OVER the maintained SEMI view — "revenue of live
    * customers' orders by priority, always fresh": the aggregate folds
    * the FilterJoinView's CDC through the shared [[graft.engine
    * .MaintainedRelation]] contract, so membership flips (a purged
    * customer's orders leaving the rollup, a late customer's orders
    * entering) arrive as ordinary ±1 deltas. */
  private def semiOrdersAggView(s: SparkSession, dir: String): JoinAggView =
    rollupUnit(s, dir, "orders_customer_semig",
        ordersByCustomer(_, _, "semi", "o_orderpriority"), "o_orderpriority", "o_totalprice") {
      (fv, agg) => ordersCustomerHistory(s, dir, Seq(fv), rebalance = false, epoch = folding(agg)) }


  /** COMPOSITE-KEY maintained join ([[graft.engine.JoinKey]]): orders
    * joined to a derived per-(custkey, orderstatus) profile dim on the
    * TWO-column key (o_custkey, o_orderstatus) — the state keys are the
    * escaped [[graft.engine.CompositeKey]] spelling (injective even for
    * separator-bearing parts; JoinViewSpec proves that adversarially),
    * while the refresh joins run part-wise on the original columns.
    * Both sides take change batches: the shared orders reprice/tombstone
    * on the left, dim re-values (%13) and deletes (%17, by custkey) on
    * the right. The oracle is the from-scratch two-column-ON join of
    * both modified relations in DuckDB. The salted twin (saltBuckets=4)
    * proves shard-invisibility on the same oracle. */
  private def compositeOrdersView(s: SparkSession, dir: String,
      salted: Boolean): JoinView =
    viewUnit(s, dir, if (salted) "orders_custstatus_sl" else "orders_custstatus",
      new JoinView(_, _, "o_orderkey", Seq("o_custkey", "o_orderstatus"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
        "d_pk", Seq("d_custkey", "d_status"),
        Seq("d_pk", "d_custkey", "d_status", "d_cnt"),
        saltBuckets = if (salted) 4 else 1)) { jv =>
      val o = Tables.orders(s, dir)
      // the dim: one row per (custkey, status) with its order count —
      // derived from the ORIGINAL orders (the oracle mirrors this)
      val dim = o.groupBy(col("o_custkey").as("d_custkey"),
          col("o_orderstatus").as("d_status"))
        .agg(count(lit(1)).as("d_cnt"))
        .withColumn("d_pk", concat_ws("-", col("d_custkey"), col("d_status")))
      val upsR = dim.filter(col("d_custkey") % 13 === 0 && col("d_custkey") % 17 =!= 0)
        .withColumn("d_cnt", col("d_cnt") + 5)
      val delsR = dim.filter(col("d_custkey") % 17 === 0).select(col("d_pk")).distinct()
      twoSidedHistory(Seq(jv), o, dim, ordersBatch(o), (upsR, Some(delsR)))(_ => ())
    }

  /** The ROLLUP lattice WITH the refcount value companion
    * ([[graft.engine.JoinGroupingView]] trackValues — the lattice analog
    * of [[ordersCustomerAggMultiView]]): exact deletion-safe min / max /
    * distinct-count per (grouping set, group) beside (cnt, sum), all
    * folded from the SAME join CDC. Same shared change-batch history on
    * twin view names; the oracle recomputes `GROUP BY ROLLUP` with
    * min/max/count(DISTINCT) over both modified tables from scratch. */
  private def latticeMultiView(s: SparkSession, dir: String): JoinGroupingView =
    latticeUnit(s, dir, "orders_customer_lm", ordersCustomer(_, _), SegmentPriority,
        "o_totalprice", JoinGroupingView.rollupSets(SegmentPriority), trackValues = true) {
      (jv, gv) => ordersCustomerHistory(s, dir, Seq(jv), epoch = folding(gv)) }

  /** A rollup OVER the maintained ANTI view — the purge-audit query
    * ("revenue of orders orphaned by the customer purge, by priority,
    * always fresh"): completes the membership x aggregation matrix next
    * to [[semiOrdersAggView]]. Anti membership flips flow into the
    * aggregate as ordinary CDC deltas; the oracle is the from-scratch
    * NOT EXISTS filter + GROUP BY over both modified tables. */
  private def antiOrdersAggView(s: SparkSession, dir: String): JoinAggView =
    rollupUnit(s, dir, "orders_customer_antig",
        ordersByCustomer(_, _, "anti", "o_orderpriority"), "o_orderpriority", "o_totalprice") {
      (fv, agg) => ordersCustomerHistory(s, dir, Seq(fv), rebalance = false, epoch = folding(agg)) }

  /** NEAREST maintained as-of WITH tolerance ([[graft.engine
    * .AsOfJoinView]] direction="nearest" — pandas merge_asof's third
    * direction): each purchase takes the click minimizing |dt| within
    * ONE HOUR either way, distance ties resolved backward (each side
    * keeping its own pk tie rule). Same two-sided change-batch history
    * as [[purchaseClickView]] on twin names; the oracle recomputes the
    * bounded argmin-|dt| per purchase with the same tie order. */
  private def purchaseClickNearestView(s: SparkSession, dir: String): AsOfJoinView =
    viewUnit(s, dir, "purchase_click_asof_n", purchaseClick(_, _, direction = "nearest",
        tolerance = Some((lts, rts) =>
          abs(unix_micros(lts) - unix_micros(rts)) <= lit(3600000000L))))( // 1 h
      v => purchaseClickHistory(s, dir, Seq(v)))


  /** Maintained MERGEABLE-SKETCH quantiles ([[graft.engine
    * .SketchQuantileView]] over [[graft.functions.QuantileSketch]]): the
    * unknown-domain member of the quantile family — the discrete state
    * needs a vocabulary, the grid state a chosen width, the sketch
    * neither, at a deterministic worst-case rank error. Insert deltas
    * fold O(delta) (stored ⊕ batch merge); the shared tombstone batch
    * exercises the documented REBUILD-ON-DELETE path for exactly the
    * affected groups. The gate serves exact anchors plus rank-error
    * booleans (the estimate's true rank within 5 % of the target rank —
    * actual bound ≈ 1.5 % at this k and n); the oracle recomputes the
    * anchors and emits literal `true`, so a bound violation is a hash
    * mismatch. */
  private val sketchQIdx = flagIdx("lineitem_flagsketchq")

  private def percentileSketchView(s: SparkSession, dir: String): graft.engine.SketchQuantileView =
    viewUnit(s, dir, "lineitem_flagsketchq",
        (st, _) => new graft.engine.SketchQuantileView(st, sketchQIdx,
          "lineitem_flagsketchq__state")) { v =>
      val li = Tables.lineitem(s, dir)
      v.build(li)
      v.refresh(reflaggedUpserts(li), Some(tombstoneKeys(li)))
    }

  /** The sketch state built PURELY through insert micro-batches (three
    * corpus slices — each fold takes the O(delta) `qsketch_merge` path,
    * no group ever rebuilt) before the shared upsert+tombstone batch
    * exercises rebuild-on-delete: the streamed-history twin every
    * maintained family carries. Same oracle as the batch-built gate. */
  private val sketchQSIdx = flagIdx("lineitem_flagsketchs")

  private def percentileSketchSView(s: SparkSession, dir: String): graft.engine.SketchQuantileView =
    viewUnit(s, dir, "lineitem_flagsketchs",
        (st, _) => new graft.engine.SketchQuantileView(st, sketchQSIdx,
          "lineitem_flagsketchs__state")) { v =>
      val li = Tables.lineitem(s, dir)
      v.build(li.filter(col("l_orderkey") % 3 === 0))
      v.refresh(li.filter(col("l_orderkey") % 3 === 1), None)
      v.refresh(li.filter(col("l_orderkey") % 3 === 2), None)
      v.refresh(reflaggedUpserts(li), Some(tombstoneKeys(li)))
    }

  /** Shared serve arm of the sketch-quantile gates: estimates from the
    * (possibly historical) state, exact anchors + true ranks of the
    * estimates recomputed from the matching corpus, booleans asserting
    * the 5 % rank bound. */
  private def sketchQuantileGate(v: graft.engine.SketchQuantileView,
      s: SparkSession, dir: String): DataFrame =
    sketchQuantileGateFrom(
      v.quantiles(Seq("est50" -> 0.5, "est95" -> 0.95))
        .withColumnRenamed("emit_key", "flag"),
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 89 =!= 0)
        .select(when(col("l_orderkey") % 97 === 0, lit("X"))
            .otherwise(col("l_returnflag")).as("flag"),
          col("l_extendedprice").as("v")))

  private def sketchQuantileGateFrom(est: DataFrame, src: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = src.groupBy("flag", "v").agg(count(lit(1)).as("cnt"))
    val cum = counts
      .withColumn("cum", sum("cnt").over(Window.partitionBy("flag").orderBy("v")))
      .withColumn("n2", sum("cnt").over(Window.partitionBy("flag")))
    val exact = cum.groupBy("flag")
      .agg(min(when(col("cum") >= ceil(col("n2") / 2), col("v"))).as("x50"),
        min(when(col("cum") >= ceil(col("n2") * 19 / 20), col("v"))).as("x95"))
    // ranks stay on the RAW src pass, deliberately NOT on the `counts`
    // relation the anchors aggregate: v is near-unique in the lineitem
    // gates, so counts ≈ src rows and routing ranks through it would
    // trade this broadcast-join + map-side partial agg (no shuffle of
    // src) for a (flag, v) shuffle of the same row count — measured
    // 0.5→1.3 s on mapindex_percentile_sketch when tried this round
    val ranks = src.join(est, Seq("flag"))
      .groupBy("flag")
      .agg(sum(when(col("v") <= col("est50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("v") <= col("est95"), 1L).otherwise(0L)).as("r95"))
    est.join(exact, Seq("flag")).join(ranks, Seq("flag"))
      .select(col("flag"), col("n"),
        round(col("x50"), 2).as("exact_p50"),
        round(col("x95"), 2).as("exact_p95"),
        (abs(col("r50") - ceil(col("n") / 2)) <= col("n") * 0.05)
          .as("p50_within_rank"),
        (abs(col("r95") - ceil(col("n") * 19 / 20)) <= col("n") * 0.05)
          .as("p95_within_rank"))
      .orderBy("flag")
  }


  /** GENERIC CASCADE from a non-join maintained relation: the SEMI view
    * ("orders of live customers") feeds a DOWNSTREAM [[graft.engine
    * .JoinView]] against a derived priority dim via
    * [[graft.engine.MaintainedRelation.cascadeInto]] CDC replay — the
    * composition the reference's cascade (O17) gestures at, generalized
    * to any producer: membership flips at level 1 (a purged customer's
    * orders leaving) arrive at level 2 as ordinary upsert/tombstone
    * batches, and level 2 then takes its OWN right-side batch (dim
    * re-values + the '5-LOW' priority dropped). The oracle recomputes
    * EXISTS + two-key join from all three modified relations, where the
    * EXISTS genuinely prunes (the dim join is on priority, not custkey).
    */
  private def semiCascadeView(s: SparkSession, dir: String): JoinView =
    viewUnit(s, dir, "semi_orders_pr", ordersPriority(_, _)) { jv =>
      val fv = ordersByCustomer(jv.store, "orders_customer_semic", "semi", "o_orderpriority")
      val dim = priorityDim(Tables.orders(s, dir))
      // level 1's batches (the shared orders reprice/tombstone, then the
      // customer purge flipping memberships) reach level 2 purely as CDC
      // replay off the semi view
      ordersCustomerHistory(s, dir, Seq(fv), rebalance = false,
        epoch = cascading(fv, jv)(jv.build(fv.df, dim)))
      // level-2's OWN right batch: odd-digit priorities re-counted,
      // '5-LOW' dropped (its orders must leave the view)
      val (ups, dels) = priorityDimBatch(dim)
      jv.refreshRight(ups, dels)
    }


  /** GENERIC CASCADE from the AS-OF family: the maintained last-touch
    * view (purchases → last click) feeds a DOWNSTREAM equi-JoinView
    * against a derived per-user activity dim via CDC replay — re-picked
    * attributions and tombstones arrive downstream as ordinary batches,
    * then the dim takes its OWN right-side refresh. Completes the
    * producer × cascade matrix next to [[semiCascadeView]]; the oracle
    * recomputes the as-of argmax AND the user-dim join from scratch. */
  private def asofCascadeView(s: SparkSession, dir: String): JoinView =
    viewUnit(s, dir, "asof_user_dim", userDimJoin(_, _, PurchaseCols ++ ClickCols)) { jv =>
      val v = purchaseClick(jv.store, "purchase_click_asof_cc")
      val dim = userDim(s, dir)
      purchaseClickHistory(s, dir, Seq(v), epoch = cascading(v, jv)(jv.build(v.df, dim)))
      val (ups, dels) = userDimBatch(dim)
      jv.refreshRight(ups, dels)
    }

  /** Purchase rows joined to the per-user activity dim. */
  private def userDimJoin(store: BucketedViewStore, name: String,
      leftCols: Seq[String]): JoinView =
    new JoinView(store, name, "a_id", "a_user", leftCols, "u_id", "u_id", Seq("u_id", "u_events"))

  /** The per-user activity dim: events per user. */
  private def userDim(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).groupBy(col("user_id").as("u_id")).agg(count(lit(1)).as("u_events"))

  /** The user dim's batch: `%13` users re-valued (+50), `%17` purged. */
  private def userDimBatch(dim: DataFrame): (DataFrame, Option[DataFrame]) =
    (dim.filter(col("u_id") % 13 === 0 && col("u_id") % 17 =!= 0)
       .withColumn("u_events", col("u_events") + 50),
     Some(dim.filter(col("u_id") % 17 === 0).select(col("u_id").cast("string")).distinct()))

  /** [[userDim]] after [[userDimBatch]] in DuckDB, as the CTEs `d0`, `d`. */
  private val userDimSql =
    """d0 AS (
      |  SELECT user_id AS u_id, count(*) AS u_events
      |  FROM events GROUP BY 1),
      |d AS (
      |  SELECT u_id,
      |         CASE WHEN u_id % 13 = 0 THEN u_events + 50
      |              ELSE u_events END AS u_events
      |  FROM d0 WHERE u_id % 17 <> 0)""".stripMargin

  /** MULTI-MEASURE maintained rollup ([[graft.engine.Measures]] — the
    * TPC-H-Q1 shape): ONE state row per segment carrying (cnt, vcnt,
    * sum) for BOTH o_totalprice and c_acctbal, folded in ONE pass from
    * a LEFT-OUTER join's CDC — not two parallel single-measure views at
    * 2× the fold and state I/O. The LEFT-OUTER base makes the
    * per-measure NULL-sum rule bite: the NULL segment (orders whose
    * customer was purged) has real revenue but an all-null acctbal, so
    * its acctbal sum must serve as SQL-NULL while its revenue is a
    * number. Oracle: from-scratch LEFT JOIN + GROUP BY of both modified
    * tables with both sums and both non-null counts. */
  private def ordersCustomerAggMeasuresView(s: SparkSession, dir: String): JoinAggView =
    rollupUnit(s, dir, "orders_customer_msr",
        new JoinView(_, _, "o_orderkey", "o_custkey", PriorityOrderCols,
          "c_custkey", "c_custkey", Seq("c_custkey", "c_acctbal", "c_mktsegment"),
          joinType = "left_outer"),
        "c_mktsegment", Seq("o_totalprice", "c_acctbal")) {
      (jv, agg) => ordersCustomerHistory(s, dir, Seq(jv), epoch = folding(agg)) }

  /** The MULTI-MEASURE lattice twin: the FULL-OUTER rollup lattice
    * ([[fullOuterOrdersCustomerLattice]]'s shape) folding BOTH measures
    * into every grouping set at once — left-pads carry acctbal but no
    * revenue, right-pads revenue but no acctbal, so each (set, group)
    * row proves the per-measure NULL-sum rule independently across the
    * whole lattice. Same orphaning history on twin view names. */
  private def fullOuterLatticeMeasuresView(s: SparkSession, dir: String): JoinGroupingView =
    latticeUnit(s, dir, "orders_customer_folm", ordersCustomer(_, _, joinType = "full_outer"),
        SegmentPriority, Seq("o_totalprice", "c_acctbal"),
        JoinGroupingView.rollupSets(SegmentPriority), trackValues = true) {
      (jv, gv) => ordersCustomerHistory(s, dir, Seq(jv), orphan = true, epoch = folding(gv)) }

  /** SEMI-over-JOIN cascade ([[graft.engine.LeftKeyedConsumer]] — the
    * generalized cascade target): a maintained equi-join (orders ⋈
    * customer, both sides batched) feeds a DOWNSTREAM [[graft.engine
    * .FilterJoinView]] by CDC replay — "enriched orders of LIVE
    * priorities, maintained end to end". Level-1 payload changes
    * (reprices, acctbal re-values) and retractions arrive at the
    * membership filter as ordinary upsert/tombstone batches; level 2
    * then takes its OWN right batch (the '5-LOW'-digit priorities
    * dropped, flipping their rows out). Oracle: from-scratch join of
    * both modified tables filtered by the surviving-priority EXISTS. */
  private def joinSemiCascadeView(s: SparkSession, dir: String): FilterJoinView =
    viewUnit(s, dir, "jsc_live_priority",
        new FilterJoinView(_, _, "o_orderkey", "o_orderpriority",
          PriorityOrderCols ++ Seq("c_custkey", "c_acctbal", "c_mktsegment"),
          "p_name", "p_name", "semi")) { fv =>
      val jv = new JoinView(fv.store, "orders_customer_jsc", "o_orderkey", "o_custkey",
        PriorityOrderCols, "c_custkey", "c_custkey", Seq("c_custkey", "c_acctbal", "c_mktsegment"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val dim = o.select(col("o_orderpriority").as("p_name")).distinct()
      // level 1's batches replay into the downstream SEMI view; the
      // customer purge reaches it as tombstones of the purged customers'
      // joined rows
      val (upsR, delsR) = customersBatch(c)
      twoSidedHistory(Seq(jv), o, c, ordersBatch(o),
        (upsR.select("c_custkey", "c_acctbal", "c_mktsegment"), delsR))(
        cascading(jv, fv)(fv.build(jv.df, dim)))
      // level-2's OWN right batch: '5-LOW'-digit priorities dropped —
      // their enriched rows must flip out of the membership view
      fv.refreshRight(dim.filter(priorityDigit % 5 =!= 0),
        Some(dim.filter(priorityDigit % 5 === 0).select(col("p_name")).distinct()))
    }

  /** The right-keyed twin under SALT SHARDS (`saltBuckets = 4` AND
    * `rightKeyed = true`): a hot click's attributed facts spread over 4
    * twin shards; the point read fans out to the bounded S sub-keys and
    * must stay shard-invisible — same history and oracle as the
    * unsalted right-keyed gate. */
  private def purchaseClickRightKeyedSaltedView(s: SparkSession, dir: String): AsOfJoinView =
    viewUnit(s, dir, "purchase_click_asof_rks",
        purchaseClick(_, _, saltBuckets = 4, rightKeyed = true))(
      v => purchaseClickHistory(s, dir, Seq(v)))

  /** The Q1 state built PURELY through insert micro-batches (three
    * corpus slices, a catch-up after each — every fold the O(delta)
    * multi-measure merge) before the shared reflag/tombstone batch and
    * the orders purge land on top: the streamed-history twin of
    * [[lineitemQ1View]], graded by the SAME oracle. */
  private def lineitemQ1StreamedView(s: SparkSession, dir: String): JoinGroupingView =
    latticeUnit(s, dir, "lineitem_orders_q1s", lineitemOrders(_, _), Q1Groups, Q1Measures,
        Seq(Q1Groups)) { (fv, gv) =>
      val li = Tables.lineitem(s, dir)
      val liu = uidLineitem(li)
      val o = Tables.orders(s, dir)
      fv.build(liu.filter(col("l_orderkey") % 3 === 0), o)
      gv.build()
      fv.refreshLeft(liu.filter(col("l_orderkey") % 3 === 1), None)
      gv.catchUp()
      fv.refreshLeft(liu.filter(col("l_orderkey") % 3 === 2), None)
      gv.catchUp()
      fv.refreshLeft(reflaggedUpserts(liu), Some(tombstoneKeys(li)))
      gv.catchUp()
      val (ups, dels) = ordersBatch(o, reprice = false)
      fv.refreshRight(ups, dels)
      gv.catchUp()
    }

  private val Q1Cols = Seq("l_uid", "l_orderkey", "l_linenumber", "l_returnflag",
    "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val Q1Groups = Seq("l_returnflag", "l_linestatus")
  private val Q1Measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Lineitems of SURVIVING orders: a semi membership keyed by the
    * lineitem uid. */
  private def lineitemOrders(store: BucketedViewStore, name: String): FilterJoinView =
    new FilterJoinView(store, name, "l_uid", "l_orderkey", Q1Cols,
      "o_orderkey", "o_orderkey", "semi")

  private def uidLineitem(li: DataFrame): DataFrame =
    li.withColumn("l_uid", lineitemKey).select(Q1Cols.map(col): _*)

  /** The RIGHT-KEYED as-of twin (`rightKeyed = true`): the attribution
    * view additionally emitted under the CLICK id, so "all purchases
    * attributed to click X" is a bucket-pruned point read
    * ([[graft.engine.AsOfJoinView.byRightKeys]]), not a view scan —
    * the secondary-index economics a serving path needs at 100 TB.
    * Same two-sided change-batch history as [[purchaseClickView]] on
    * twin names; re-picks and match losses must keep the twin exact. */
  private def purchaseClickRightKeyedView(s: SparkSession, dir: String): AsOfJoinView =
    viewUnit(s, dir, "purchase_click_asof_rk", purchaseClick(_, _, rightKeyed = true))(
      v => purchaseClickHistory(s, dir, Seq(v)))

  /** The TPC-H-Q1 SHAPE as a maintained view — the multi-measure
    * machinery's motivating workload: FOUR measures (quantity, base
    * price, discount, tax) folded in ONE pass into ONE state row per
    * (returnflag, linestatus) over "lineitems of SURVIVING orders" (a
    * maintained SEMI membership), kept fresh under the shared lineitem
    * reflag/tombstone batch AND the orders purge (whole orders' items
    * flipping out as membership retractions). Without [[graft.engine
    * .Measures]] this is four parallel states at 4× the CDC fold; here
    * it is one. Lineitem's (orderkey, linenumber) is NOT unique in the
    * synthetic data — the uid key owns duplicate rows as a multiset,
    * which the delete-then-insert ownership handles as long as batches
    * are keyed consistently (they are: both batch predicates key on
    * l_orderkey). */
  private def lineitemQ1View(s: SparkSession, dir: String): JoinGroupingView =
    latticeUnit(s, dir, "lineitem_orders_q1", lineitemOrders(_, _), Q1Groups, Q1Measures,
        Seq(Q1Groups)) { (fv, gv) =>
      val li = Tables.lineitem(s, dir)
      val liu = uidLineitem(li)
      val o = Tables.orders(s, dir)
      // the shared lineitem batch (%97 orders reflag to 'X', %89
      // tombstone — each a ±fold of all four measures at once), then the
      // orders purge: %41 orders die, their lineitems flip out of the
      // membership (a reprice on survivors flips nothing)
      twoSidedHistory(Seq(fv), liu, o, (reflaggedUpserts(liu), Some(tombstoneKeys(li))),
        ordersBatch(o, reprice = false))(folding(gv))
    }

  /** SKETCH-over-JOIN ([[graft.engine.JoinSketchView]]): maintained
    * per-join-key quantile sketches OVER the maintained priority-dim
    * join — "the order-value distribution per live priority, always
    * fresh". The reprice batch retracts old values (rebuild path,
    * bucket-pruned through the upstream's byKeys), the dim's '5-LOW'
    * drop vanishes a whole priority group, and the rollup row merges
    * the surviving per-key sketches from state alone. Gate = exact
    * oracle-recomputed anchors + rank-bound booleans at BOTH levels,
    * the sketch-family convention. */
  private def ordersPrioritySketchView(s: SparkSession, dir: String): graft.engine.JoinSketchView = {
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, "orders_pr_sk")(graft.engine.JoinSketchView.attach(
        ordersPriority(store, "orders_pr_sk"), "orders_pr_sk__state", "o_totalprice")) {
      val jv = ordersPriority(store, "orders_pr_sk")
      val sk = new graft.engine.JoinSketchView(jv, "orders_pr_sk__state", "o_totalprice")
      val o = Tables.orders(s, dir)
      val dim = priorityDim(o)
      // left batch: the reprice RETRACTS each touched key's old values
      // (rebuild path), the %41 tombstones drop rows; right batch:
      // odd-digit priorities re-count (payload rewrite → rebuild),
      // '5-LOW'-digit priorities DROP — their sketch groups must vanish
      twoSidedHistory(Seq(jv), o, dim, ordersBatch(o), priorityDimBatch(dim))(folding(sk))
      sk
    }
  }

  /** AS-OF-over-JOIN cascade (the remaining cell of the producer ×
    * consumer matrix): purchases enriched by a per-user activity dim
    * through a maintained equi-join, the ENRICHED relation feeding a
    * DOWNSTREAM [[graft.engine.AsOfJoinView]] (last-click attribution)
    * purely by CDC replay — reprices, dim re-values and the dim purge
    * (orphaning its users' purchases out of the inner join) all arrive
    * at the as-of view as ordinary left batches, then the CLICK side
    * takes its own refresh. Oracle: enrich-from-scratch + per-row argmax
    * over all three modified relations. */
  private def joinAsofCascadeView(s: SparkSession, dir: String): AsOfJoinView =
    viewUnit(s, dir, "jac_purchase_click",
        purchaseClick(_, _, leftCols = PurchaseCols ++ Seq("u_id", "u_events"))) { v =>
      val jv = userDimJoin(v.store, "purchase_user_jac", PurchaseCols)
      val (p, c) = purchasesClicks(s, dir)
      val dim = userDim(s, dir)
      // level-1 batches (re-timed/re-valued/tombstoned purchases, then
      // dim re-values + the %17 purge orphaning purchases out of the
      // inner join): the re-pick happens downstream off the replayed CDC
      twoSidedHistory(Seq(jv), p, dim, (purchaseUps(p), Some(purchaseDels(p))),
        userDimBatch(dim))(cascading(jv, v)(v.build(jv.df, c)))
      // the as-of view's OWN right batch: the shared click history
      v.refreshRight(clickUps(c), Some(clickDels(c)))
    }

  /** Each step is one independent build unit ([[Prewarm.all]] may overlap
    * them); steps sharing an underlying view serialize on its per-key
    * lock ([[graft.engine.Views.unit]] / [[graft.engine.Views.cached]]),
    * so overlap never double-builds or interleaves refreshes. */
  private[operators] def prewarmSteps(s: SparkSession, dir: String): Seq[(String, () => Unit)] = Seq[(String, () => Unit)](
    ("ordersCustomerView", () => { ordersCustomerView(s, dir); () }),
    ("streamedOrdersCustomerView", () => { streamedOrdersCustomerView(s, dir); () }),
    ("compactedOrdersCustomerView", () => { compactedOrdersCustomerView(s, dir); () }),
    ("ordersCustomerAggView", () => { ordersCustomerAggView(s, dir); () }),
    ("ordersCustomerAggMultiView", () => { ordersCustomerAggMultiView(s, dir); () }),
    ("streamedOrdersCustomerAggView", () => { streamedOrdersCustomerAggView(s, dir); () }),
    ("ordersCustomerNationView", () => { ordersCustomerNationView(s, dir); () }),
    ("ordersCustomerNationAggView", () => { ordersCustomerNationAggView(s, dir); () }),
    ("purchaseClickView", () => { purchaseClickView(s, dir); () }),
    ("purchaseClickStreamView", () => { purchaseClickStreamView(s, dir); () }),
    ("purchaseClickFwdView", () => { purchaseClickFwdView(s, dir); () }),
    ("purchaseClickTolView", () => { purchaseClickTolView(s, dir); () }),
    ("purchaseClickCompactView", () => { purchaseClickCompactView(s, dir); () }),
    ("purchaseClickSaltedView", () => { purchaseClickSaltedView(s, dir); () }),
    ("purchaseClickAttribution", () => { purchaseClickAttribution(s, dir); () }),
    ("purchaseClickAttributionMulti", () => { purchaseClickAttributionMulti(s, dir); () }),
    ("ordersCustomerLattice", () => { ordersCustomerLattice(s, dir, cube = false); () }),
    ("streamedOrdersCustomerLattice", () => { streamedOrdersCustomerLattice(s, dir); () }),
    ("fullOuterOrdersCustomerLattice", () => { fullOuterOrdersCustomerLattice(s, dir); () }),
    ("ordersCustomerFilterView(semi)", () => { ordersCustomerFilterView(s, dir, "semi"); () }),
    ("saltedSemiView", () => { saltedSemiView(s, dir); () }),
    ("semiOrdersAggView", () => { semiOrdersAggView(s, dir); () }),
    ("antiOrdersAggView", () => { antiOrdersAggView(s, dir); () }),
    ("semiCascadeView", () => { semiCascadeView(s, dir); () }),
    ("asofCascadeView", () => { asofCascadeView(s, dir); () }),
    ("compositeOrdersView", () => { compositeOrdersView(s, dir, salted = false); () }),
    ("compositeOrdersView(salted)", () => { compositeOrdersView(s, dir, salted = true); () }),
    ("latticeMultiView", () => { latticeMultiView(s, dir); () }),
    ("purchaseClickNearestView", () => { purchaseClickNearestView(s, dir); () }),
    ("ordersCustomerAggMeasuresView", () => { ordersCustomerAggMeasuresView(s, dir); () }),
    ("fullOuterLatticeMeasuresView", () => { fullOuterLatticeMeasuresView(s, dir); () }),
    ("ordersPrioritySketchView", () => { ordersPrioritySketchView(s, dir); () }),
    ("joinSemiCascadeView", () => { joinSemiCascadeView(s, dir); () }),
    ("joinAsofCascadeView", () => { joinAsofCascadeView(s, dir); () }),
    ("purchaseClickRightKeyedView", () => { purchaseClickRightKeyedView(s, dir); () }),
    ("purchaseClickRightKeyedSaltedView", () => { purchaseClickRightKeyedSaltedView(s, dir); () }),
    ("lineitemQ1View", () => { lineitemQ1View(s, dir); () }),
    ("lineitemQ1StreamedView", () => { lineitemQ1StreamedView(s, dir); () }),
    ("saltedOrdersCustomerView", () => { saltedOrdersCustomerView(s, dir); () }),
    ("leftOuterOrdersCustomerView", () => { leftOuterOrdersCustomerView(s, dir); () }),
    ("fullOuterOrdersCustomerView", () => { fullOuterOrdersCustomerView(s, dir); () }),
    ("rightOuterOrdersCustomerView", () => { rightOuterOrdersCustomerView(s, dir); () }),
    ("fullOuterOrdersCustomerAggView", () => { fullOuterOrdersCustomerAggView(s, dir); () }),
    ("percentileView", () => { percentileView(s, dir); () }),
    ("percentileBView", () => { percentileBView(s, dir); () }),
    ("percentileContView", () => { percentileContView(s, dir); () }),
    ("percentileSketchView", () => { percentileSketchView(s, dir); () }),
    ("percentileSketchSView", () => { percentileSketchSView(s, dir); () }),
    ("distinctSView", () => { distinctSView(s, dir); () }),
    ("mixedView", () => { mixedView(s, dir); () }),
    ("rangeBucketedFlag", () => { rangeBucketedFlag(s, dir); () }),
    ("rangeMaintained", () => { rangeMaintained(s, dir); () }),
    ("compactedStore", () => { compactedStore(s, dir); () }),
    ("flagView", () => { flagView(s, dir); () }),
    ("bucketView", () => { bucketView(s, dir); () }),
    ("bucketedFlag", () => { bucketedFlag(s, dir); () }),
    ("jsonView", () => { jsonView(s, dir); () }),
    ("aggView", () => { aggView(s, dir); () }),
    ("distinctView", () => { distinctView(s, dir); () }),
    ("distinctBView", () => { distinctBView(s, dir); () }),
    ("netFeedView", () => { netFeedView(s, dir); () }),
    ("netFeedBView", () => { netFeedBView(s, dir); () }),
    ("bucketedAggView", () => { bucketedAggView(s, dir); () }),
    ("streamView", () => { streamView(s, dir); () }),
    ("bucketedStreamView", () => { bucketedStreamView(s, dir); () }),
    ("cascadeCdcView", () => { cascadeCdcView(s, dir); () }),
    // the windowed families were the one view family missing from
    // prewarm: their (expensive) builds ran inside the first timed bench
    // pass — min-of-passes hid them from the recorded number, but the
    // stated methodology (view build is LOAD cost, query timings measure
    // the read path) and the per-pass timings both want them here
    ("eventsWindowedView(main)", () => { eventsWindowedView(s, dir, "main"); () }),
    ("eventsWindowedView(ev)", () => { eventsWindowedView(s, dir, "ev"); () }),
    ("eventsWindowedView(st)", () => { eventsWindowedView(s, dir, "st"); () }),
    ("eventsWindowedView(co)", () => { eventsWindowedView(s, dir, "co"); () }),
    ("eventsWindowedSketchView", () => { eventsWindowedSketchView(s, dir); () }),
    ("eventsWindowedSketchView(st)", () => { eventsWindowedSketchView(s, dir, "st"); () }),
    ("eventsWindowedDistinctView(1024)", () => { eventsWindowedDistinctView(s, dir, 1024); () }),
    ("eventsWindowedDistinctView(32)", () => { eventsWindowedDistinctView(s, dir, 32); () }),
    ("eventsWindowedTopFreqView", () => { eventsWindowedTopFreqView(s, dir); () }),
    ("ordersWindowedView", () => { ordersWindowedView(s, dir); () }),
    ("ordersSegmentWindowedRollup", () => { ordersSegmentWindowedRollup(s, dir); () }),
  )

  // ---- time-sliced windowed aggregates with watermark eviction ----

  /** Whole-events windowed aggregate (1-day slices): group = event_type,
    * `emit_value = struct(ts, value)`. The shared events change batch
    * (`%37` → ts+1h & value+1000 — which MIGRATES those events across a
    * day boundary — and `%41` tombstones) lands through the slice-local
    * refresh; the `ev` flavor additionally advances the watermark past the
    * first three days, dropping those slices wholesale. Oracles recompute
    * from the modified table from scratch, so a stale slice, an unmigrated
    * event, or an under- or over-evicted slice is a hash mismatch. */
  private def eventsWindowedView(s: SparkSession, dir: String,
      flavor: String): graft.engine.WindowedAggView = {
    val store = Views.store(s, dir)
    val name = s"events_windowed_$flavor"
    val root = java.nio.file.Paths.get(store.baseDir, name).toString
    Views.unit(store.baseDir, name)(graft.engine.WindowedAggView.attach(s, root, 86400L)) {
      val idx = eventsWindowBase(s"events_win_base_$flavor", col("value"))
      val ev = Tables.events(s, dir)
      // the streamed flavor builds from the FIRST micro-batch only and
      // folds the rest through ordinary refreshes — every batch spans
      // all 30 days, so each fold is a genuinely multi-slice delta and
      // arrives "late" relative to slices already holding newer events
      val w =
        if (flavor == "st") {
          def b(r: Int) = ev.filter(col("event_id") % 3 === r)
          val base = Views.materialized(s, dir, idx)(b(0))
          val w0 = graft.engine.WindowedAggView.build(base, root, 86400L)
          w0.refresh(base, b(1), None)
          w0.refresh(base, b(2), None)
          w0
        } else {
          val base = Views.materialized(s, dir, idx)(ev)
          graft.engine.WindowedAggView.build(base, root, 86400L)
        }
      val (ups, dels) = eventsBatch(ev)
      w.refresh(Views.materialized(s, dir, idx)(ev), ups, dels)
      if (flavor == "ev") w.evictBefore(w.liveSlices.min + 3 * 86400L)
      // rollup aging: everything up to ~3 weeks in coarsens to 7-day
      // slices (boundary snapped DOWN to the 7-day epoch grid)
      if (flavor == "co")
        w.coarsen(Math.floorDiv(w.liveSlices.min + 21 * 86400L, 604800L) * 604800L,
          604800L)
      w
    }
  }

  /** The events windowed base: one emission per event keyed by type,
    * carrying its timestamp and the windowed value `v`. */
  private def eventsWindowBase(name: String, v: org.apache.spark.sql.Column): MapIndex =
    MapIndex.columns(name)(
      col("event_id").cast("string"),
      array(emit(col("event_type"), struct(col("ts").as("ts"), v.as("v")))))

  /** The shared events change batch: `%37` events re-timed (+1 h — which
    * MIGRATES some across a day boundary) and re-valued (+1000), `%41`
    * tombstoned. */
  private def eventsBatch(ev: DataFrame): (DataFrame, Option[DataFrame]) =
    (ev.filter(col("event_id") % 37 === 0 && col("event_id") % 41 =!= 0)
       .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
       .withColumn("value", col("value") + 1000),
     Some(ev.filter(col("event_id") % 41 === 0)
       .select(col("event_id").cast("string")).distinct()))

  /** [[eventsBatch]] in DuckDB, as the CTE `e`: `key`, the re-timed `ts`
    * and the re-valued value aliased `value`. */
  private def eventsSql(key: String, value: String): String =
    s"""e AS (
       |  SELECT $key,
       |         CASE WHEN event_id % 37 = 0 THEN ts + INTERVAL 1 HOUR
       |              ELSE ts END AS ts,
       |         CASE WHEN event_id % 37 = 0 THEN value + 1000
       |              ELSE value END AS $value
       |  FROM events WHERE event_id % 41 <> 0)""".stripMargin

  /** The windowed SKETCH twin over the same events contract: one
    * mergeable quantile sketch per (day, event_type), maintained through
    * the shared batch (%37 migrations = rebuild of the dirty pairs, the
    * rest of the batch folds O(delta)); a trailing-window quantile is a
    * sketch MERGE across slices — the corpus is never re-read. */
  private def eventsWindowedSketchView(s: SparkSession, dir: String,
      flavor: String = "main"): graft.engine.WindowedSketchView = {
    val store = Views.store(s, dir)
    val name = if (flavor == "main") "events_windowed_sk" else s"events_windowed_sk_$flavor"
    val root = java.nio.file.Paths.get(store.baseDir, name).toString
    Views.unit(store.baseDir, name)(graft.engine.WindowedSketchView.attach(s, root, 86400L)) {
      val idx = eventsWindowBase(
        s"events_win_base_${if (flavor == "main") "sk" else s"sk_$flavor"}", col("value"))
      val ev = Tables.events(s, dir)
      // the streamed flavor builds from the first micro-batch and folds
      // the rest through refreshes — pure insert-only sketch MERGES
      // (the O(delta) path), before the shared batch drives rebuilds
      val w =
        if (flavor == "st") {
          def b(r: Int) = ev.filter(col("event_id") % 3 === r)
          val base = Views.materialized(s, dir, idx)(b(0))
          val w0 = graft.engine.WindowedSketchView.build(base, root, 86400L)
          w0.refresh(base, b(1), None)
          w0.refresh(base, b(2), None)
          w0
        } else {
          val base = Views.materialized(s, dir, idx)(ev)
          graft.engine.WindowedSketchView.build(base, root, 86400L)
        }
      val (ups, dels) = eventsBatch(ev)
      w.refresh(Views.materialized(s, dir, idx)(ev), ups, dels)
      // age the first ~3 weeks into 7-day sketch slices: the trailing-7
      // gate stays in the fine region, the coarse gate spans both tiers
      w.coarsen(Math.floorDiv(w.liveSlices.min + 21 * 86400L, 604800L) * 604800L,
        604800L)
      w
    }
  }

  /** Windowed DISTINCT-USER counts per event type via per-(day, type) KMV
    * states — distinct is non-additive across days, so the windowed serve
    * exists only because the state is a mergeable summary. `k` keyed into
    * the unit: the 1024 flavor stays in KMV's exact regime at gate scale
    * (the estimate IS the exact distinct count, hash-compared to DuckDB's
    * COUNT(DISTINCT)), the 32 flavor exercises the estimator with a
    * bound. */
  private def eventsWindowedDistinctView(s: SparkSession, dir: String,
      k: Int): graft.engine.WindowedDistinctView = {
    val store = Views.store(s, dir)
    val name = s"events_windowed_du$k"
    val root = java.nio.file.Paths.get(store.baseDir, name).toString
    Views.unit(store.baseDir, name)(
      graft.engine.WindowedDistinctView.attach(s, root, 86400L, k)) {
      val ev = Tables.events(s, dir)
      val base = Views.materialized(s, dir,
        eventsWindowBase(s"events_win_base_du$k", col("user_id").cast("double")))(ev)
      val w = graft.engine.WindowedDistinctView.build(base, root, 86400L, k)
      val (ups, dels) = eventsBatch(ev)
      w.refresh(base, ups, dels)
      w
    }
  }

  /** Windowed FREQUENT value-buckets per type via per-(day, type)
    * Misra-Gries states (k=16, genuinely lossy — ~10 buckets live per
    * type). The MG guarantee survives the slice merge, so the trailing
    * window's frequent set is always inside the candidates; the gate
    * joins candidates back to exact counts (the heavy_hitters verify
    * pattern). */
  private def eventsWindowedTopFreqView(s: SparkSession, dir: String): graft.engine.WindowedTopFreqView = {
    val store = Views.store(s, dir)
    val name = "events_windowed_tf"
    val root = java.nio.file.Paths.get(store.baseDir, name).toString
    Views.unit(store.baseDir, name)(
      graft.engine.WindowedTopFreqView.attach(s, root, 86400L, 16)) {
      val ev = Tables.events(s, dir)
      val base = Views.materialized(s, dir,
        eventsWindowBase("events_win_base_tf", floor(col("value") / 50)))(ev)
      val w = graft.engine.WindowedTopFreqView.build(base, root, 86400L, 16)
      val (ups, dels) = eventsBatch(ev)
      w.refresh(base, ups, dels)
      w
    }
  }

  /** The TPC-H-side windowed rollup: quarterly (90-day-grid) revenue per
    * priority over `orders`, maintained under the shared reprice/purge
    * batch, then ROLLUP-AGED — everything older than ~4.4 years coarsens
    * to 360-day tiers. Different table, slice width, and coarse ratio
    * than the events family; same layout invariants. */
  private def ordersWindowedView(s: SparkSession, dir: String): graft.engine.WindowedAggView = {
    val store = Views.store(s, dir)
    val name = "orders_windowed"
    val root = java.nio.file.Paths.get(store.baseDir, name).toString
    Views.unit(store.baseDir, name)(graft.engine.WindowedAggView.attach(s, root, 7776000L)) {
      val idx = MapIndex.columns("orders_win_base")(
        col("o_orderkey").cast("string"),
        array(emit(col("o_orderpriority"),
          struct(col("o_orderdate").as("ts"), col("o_totalprice").as("v")))))
      val o = Tables.orders(s, dir)
      val base = Views.materialized(s, dir, idx)(o)
      val w = graft.engine.WindowedAggView.build(base, root, 7776000L)
      val (ups, dels) = ordersBatch(o)
      w.refresh(base, ups, dels)
      w.coarsen(Math.floorDiv(w.liveSlices.min + 1600 * 86400L, 31104000L) * 31104000L,
        31104000L)
      w
    }
  }

  /** WINDOWED × JOIN-IVM: quarterly revenue per CUSTOMER SEGMENT,
    * maintained PURELY from a dedicated orders⋈customer [[graft.engine
    * .JoinView]]'s CDC feed — the rollup never reads the join after its
    * build-time snapshot; both shared change batches (orders reprice/
    * purge, customers reprice/purge) arrive as delete+insert feed rows
    * carrying full old values, so retraction is feed-local. */
  private def ordersSegmentWindowedRollup(s: SparkSession, dir: String): graft.engine.WindowedFeedRollup = {
    val bstore = Views.bucketedStore(s, dir)
    val flat = Views.store(s, dir)
    val root = java.nio.file.Paths.get(flat.baseDir, "orders_segment_winroll").toString
    Views.unit(flat.baseDir, "orders_segment_winroll")(
      graft.engine.WindowedFeedRollup.attach(s, root, 7776000L)) {
      val jv = new JoinView(bstore, "orders_customer_win",
        "o_orderkey", "o_custkey",
        Seq("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        "c_custkey", "c_custkey", Seq("c_custkey", "c_mktsegment"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      jv.build(o, c)
      val e0 = jv.epoch
      val wv = graft.engine.WindowedFeedRollup.build(jv.df,
        col("o_orderdate"), col("c_mktsegment"), col("o_totalprice"),
        s, root, 7776000L, e0)
      val (upsL, delsL) = ordersBatch(o)
      jv.refreshLeft(upsL, delsL)
      val (upsR, delsR) = customersBatch(c)
      jv.refreshRight(upsR, delsR)
      wv.applyChanges(jv.changes(e0, jv.epoch), jv.epoch,
        col("emit_value.o_orderdate"), col("emit_value.c_mktsegment"),
        col("emit_value.o_totalprice"))
      wv
    }
  }

  private def windowedServe(w: graft.engine.WindowedAggView): DataFrame =
    w.state.select(col("slice_start"), col("emit_key"), col("cnt"),
      round(col("sum_value").cast("double"), 2).as("sum_value"),
      round(col("min_value"), 2).as("min_value"),
      round(col("max_value"), 2).as("max_value"))
      .orderBy("slice_start", "emit_key")

  /** The coarse-aware serve: slice width joins the comparable surface so
    * an over- or under-coarsened slice is a hash mismatch, not a guess. */
  private def windowedServeW(w: graft.engine.WindowedAggView): DataFrame =
    w.state.select(col("slice_start"), col("slice_w"), col("emit_key"), col("cnt"),
      round(col("sum_value").cast("double"), 2).as("sum_value"),
      round(col("min_value"), 2).as("min_value"),
      round(col("max_value"), 2).as("max_value"))
      .orderBy("slice_start", "emit_key")

  private def nettedFeed(feed: DataFrame): DataFrame =
    graft.engine.MaterializedView.nettedFeed(feed)

  /** Right-keyed serving of as-of view `v`: the purchases attributed to
    * a deterministic probe subset of the surviving clicks (%7 == 3). */
  private def byRightServe(s: SparkSession, dir: String, v: AsOfJoinView): DataFrame = {
    val probes = Tables.events(s, dir)
      .filter(col("event_type") === "click" && col("event_id") % 17 =!= 0
        && col("event_id") % 7 === 3)
      .select(col("event_id").cast("string").as("emit_key")).distinct()
    v.byRightKeys(probes)
      .select(col("a_id"), col("a_user"),
        round(col("a_value"), 2).as("a_value"),
        col("b_id"), round(col("b_value"), 2).as("b_value"))
      .orderBy("a_id")
  }

  /** Trailing-7-day p50/p95 of sketch view `v`, gated against the exact
    * anchors of the same window of the modified events. */
  private def trailingSketchServe(s: SparkSession, dir: String,
      v: graft.engine.WindowedSketchView): DataFrame = {
    val est = v.trailingQuantiles(7, Seq("est50" -> 0.5, "est95" -> 0.95))
      .withColumnRenamed("emit_key", "flag")
    val e = Tables.events(s, dir)
      .filter(col("event_id") % 41 =!= 0)
      .select(col("event_type").as("flag"),
        when(col("event_id") % 37 === 0, col("ts") + expr("INTERVAL 1 HOUR"))
          .otherwise(col("ts")).as("ts"),
        when(col("event_id") % 37 === 0, col("value") + 1000)
          .otherwise(col("value")).as("v"))
      .withColumn("sl", (floor(unix_seconds(col("ts")) / 86400).cast("long")) * 86400)
    // newest event day from the slice LAYOUT, not an events-wide max()
    // scan: a slice is live iff an event of the modified corpus lands
    // in it (empty slices drop at publish), so liveSlices.max IS the
    // max sl — same window, one less corpus scan + driver action
    val mx = v.liveSlices.max
    sketchQuantileGateFrom(est,
      e.filter(col("sl") >= mx - 6 * 86400L).select("flag", "v"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the maintained orders⋈customer join view after a change batch to
    // EACH side ([[ordersCustomerView]] — delta-join IVM): serving is a
    // stored read; the oracle joins both modified base tables from
    // scratch, so stale rows on either side are a hash mismatch
    "mapindex_joinview" -> ((s, dir) =>
      ordersCustomerView(s, dir).df
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("o_orderkey")),

    // the join view's NET CDC across both refresh epochs: gross feed over
    // (build, latest], insert/delete multisets cancelled — must equal the
    // from-scratch diff of the post-batch join vs the build-time join
    "mapindex_joinview_changefeed" -> ((s, dir) => {
      val jv = ordersCustomerView(s, dir)
      val feed = jv.changes(0, jv.epoch)
        .select(col("emit_value.o_orderkey").as("o_orderkey"),
          col("emit_value.o_custkey").as("o_custkey"),
          round(col("emit_value.o_totalprice"), 2).as("o_totalprice"),
          round(col("emit_value.c_acctbal"), 2).as("c_acctbal"),
          col("change_type"))
      nettedFeed(feed)
        .orderBy("change_type", "o_orderkey")
    }),

    // the join view served AS OF the epoch BETWEEN its two refreshes —
    // time travel on the delta-join store: the historical read must
    // reproduce modified-orders ⋈ ORIGINAL-customers, proving the
    // right-side batch left the prior epoch intact and addressable
    // (epoch 0 has aged past the store's retention horizon, like the
    // other as-of gates)
    "mapindex_joinview_asof" -> ((s, dir) => {
      val jv = ordersCustomerView(s, dir)
      jv.store.dfAsOf("orders_customer", jv.epoch - 1)
        .select(col("emit_value.o_orderkey").as("o_orderkey"),
          col("emit_value.o_custkey").as("o_custkey"),
          col("emit_value.c_name").as("c_name"),
          round(col("emit_value.o_totalprice"), 2).as("o_totalprice"),
          round(col("emit_value.c_acctbal"), 2).as("c_acctbal"))
        .orderBy("o_orderkey")
    }),

    // the join store compacted after both refreshes
    // ([[compactedOrdersCustomerView]]): bin-packing the accreted bucket
    // fragments must be invisible to serving — same oracle as the
    // uncompacted twin
    "mapindex_joinview_compacted" -> ((s, dir) =>
      compactedOrdersCustomerView(s, dir).df
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("o_orderkey")),

    // the join view built through INTERLEAVED two-sided micro-batches
    // with out-of-order arrival ([[streamedOrdersCustomerView]]): late
    // right rows heal pending joins, then the shared change batches run
    // on top — the SAME oracle as mapindex_joinview grades the history
    "mapindex_joinview_streamed" -> ((s, dir) =>
      streamedOrdersCustomerView(s, dir).df
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("o_orderkey")),

    // the LEFT-OUTER maintained join ([[leftOuterOrdersCustomerView]]):
    // tombstoned customers' surviving orders must appear null-padded —
    // the oracle is the from-scratch LEFT JOIN of both modified tables
    "mapindex_joinview_outer" -> ((s, dir) =>
      leftOuterOrdersCustomerView(s, dir).df
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("o_orderkey")),

    // the FULL-OUTER maintained join ([[fullOuterOrdersCustomerView]]):
    // surviving orders of tombstoned customers appear left-padded AND
    // customers with no surviving orders appear right-padded — the
    // oracle is the from-scratch FULL JOIN of both modified tables
    "mapindex_joinview_full" -> ((s, dir) =>
      fullOuterOrdersCustomerView(s, dir).df
        .select(col("o_orderkey"), col("o_custkey"), col("c_custkey"),
          col("c_name"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("o_orderkey", "c_custkey")),

    // the RIGHT-OUTER maintained join ([[rightOuterOrdersCustomerView]]):
    // matched rows plus right-pads for customers with no surviving
    // orders; orders of tombstoned customers DROP — the oracle is the
    // from-scratch RIGHT JOIN of both modified tables
    "mapindex_joinview_right" -> ((s, dir) =>
      rightOuterOrdersCustomerView(s, dir).df
        .select(col("o_orderkey"), col("o_custkey"), col("c_custkey"),
          col("c_name"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("o_orderkey", "c_custkey")),

    // the rollup OVER the full-outer view ([[fullOuterOrdersCustomerAggView]]):
    // both CDC feeds (owned + right-pad twin) fold into one state —
    // unmatched orders group under the NULL segment, right-pads count
    // into their segment with no revenue; the oracle recomputes
    // FULL JOIN + GROUP BY from scratch
    "mapindex_joinview_full_agg" -> ((s, dir) =>
      fullOuterOrdersCustomerAggView(s, dir).state
        .select(col("emit_key").as("c_mktsegment"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("revenue"))
        .orderBy("c_mktsegment")),

    // the SALT-SHARDED join view ([[saltedOrdersCustomerView]]): the
    // skew-hardened emit layout must be invisible to serving — same
    // history and oracle as mapindex_joinview
    "mapindex_joinview_salted" -> ((s, dir) =>
      saltedOrdersCustomerView(s, dir).df
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("o_orderkey")),

    // maintained aggregate-over-join ([[ordersCustomerAggView]] —
    // JoinAggView): the revenue-by-priority rollup fed purely from the
    // join view's CDC after change batches to BOTH sides; the oracle
    // joins + groups both modified tables from scratch
    "mapindex_joinview_agg" -> ((s, dir) =>
      ordersCustomerAggView(s, dir).state
        .select(col("emit_key").as("o_orderpriority"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("revenue"))
        .orderBy("o_orderpriority")),

    // the rollup's MULTI-AGGREGATE surface ([[ordersCustomerAggMultiView]]
    // — trackValues): cnt/sum from the main state, exact deletion-safe
    // min/max/distinct-count from the value-refcount companion, all
    // maintained from the same CDC feed; the oracle recomputes all six
    // from both modified tables from scratch
    "mapindex_joinview_agg_multi" -> ((s, dir) => {
      val agg = ordersCustomerAggMultiView(s, dir)
      agg.state.join(agg.multiState, Seq("emit_key"), "left_outer")
        .select(col("emit_key").as("o_orderpriority"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("revenue"),
          round(col("min_value").cast("double"), 2).as("min_price"),
          round(col("max_value").cast("double"), 2).as("max_price"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
        .orderBy("o_orderpriority")
    }),

    // the MULTI-MEASURE rollup ([[ordersCustomerAggMeasuresView]] —
    // Measures): both sums + both non-null counts from ONE state row per
    // segment, folded in one pass from the left-outer join's CDC; the
    // NULL segment proves the per-measure NULL-sum rule (real revenue,
    // NULL acctbal); the oracle recomputes all five aggregates from the
    // modified tables from scratch
    "mapindex_joinview_agg_measures" -> ((s, dir) =>
      ordersCustomerAggMeasuresView(s, dir).state
        .select(col("emit_key").as("c_mktsegment"), col("cnt"),
          col("vcnt_o_totalprice").as("n_price"),
          round(col("sum_o_totalprice").cast("double"), 2).as("revenue"),
          col("vcnt_c_acctbal").as("n_acct"),
          round(col("sum_c_acctbal").cast("double"), 2).as("acctbal"))
        .orderBy("c_mktsegment")),

    // the MULTI-MEASURE lattice ([[fullOuterLatticeMeasuresView]]): both
    // measures folded into every grouping set of the FULL-OUTER rollup
    // at once — left-pads carry acctbal without revenue, right-pads the
    // reverse, so the per-measure NULL-sum rule is exercised per (set,
    // group); oracle = ROLLUP of the from-scratch FULL JOIN with both
    // sums and both non-null counts
    "mapindex_lattice_measures" -> ((s, dir) =>
      fullOuterLatticeMeasuresView(s, dir).state
        .select(col("gid"), col("c_mktsegment"), col("o_orderpriority"),
          col("cnt"),
          col("vcnt_o_totalprice").as("n_price"),
          round(col("sum_o_totalprice").cast("double"), 2).as("revenue"),
          col("vcnt_c_acctbal").as("n_acct"),
          round(col("sum_c_acctbal").cast("double"), 2).as("acctbal"))
        .orderBy("gid", "c_mktsegment", "o_orderpriority")),

    // the TPC-H-Q1 SHAPE as one maintained state ([[lineitemQ1View]]):
    // four measures per (returnflag, linestatus) over lineitems of
    // SURVIVING orders, fresh under the lineitem reflag/tombstone batch
    // and the orders purge; the oracle recomputes the EXISTS + four-sum
    // GROUP BY from both modified tables from scratch
    "mapindex_q1_measures" -> ((s, dir) =>
      lineitemQ1View(s, dir).state
        .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
          round(col("sum_l_quantity").cast("double"), 2).as("sum_qty"),
          round(col("sum_l_extendedprice").cast("double"), 2).as("sum_base"),
          round(col("sum_l_discount").cast("double"), 2).as("sum_disc"),
          round(col("sum_l_tax").cast("double"), 2).as("sum_tax"))
        .orderBy("l_returnflag", "l_linestatus")),

    // the multi-measure state served AS OF the epoch BETWEEN its two
    // catch-ups (after the left batch only): time travel on the
    // multi-measure composition — the historical read must reproduce
    // modified-orders LEFT JOIN ORIGINAL-customers with all five
    // aggregates; the per-measure NULL-sum rule applied at serve time
    // from the historical vcnt fields
    "mapindex_joinview_agg_measures_asof" -> ((s, dir) => {
      val agg = ordersCustomerAggMeasuresView(s, dir)
      agg.jv.store.dfAsOf(agg.stateName, 1)
        .filter(col("emit_key") =!= graft.engine.JoinAggView.WatermarkKey)
        .select(
          when(col("emit_key") === graft.engine.JoinAggView.NullGroupKey,
            lit(null).cast("string")).otherwise(col("emit_key"))
            .as("c_mktsegment"),
          col("emit_value.cnt").as("cnt"),
          col("emit_value.vcnt_o_totalprice").as("n_price"),
          round(when(col("emit_value.vcnt_o_totalprice") > 0,
            col("emit_value.sum_o_totalprice")).cast("double"), 2).as("revenue"),
          col("emit_value.vcnt_c_acctbal").as("n_acct"),
          round(when(col("emit_value.vcnt_c_acctbal") > 0,
            col("emit_value.sum_c_acctbal")).cast("double"), 2).as("acctbal"))
        .orderBy("c_mktsegment")
    }),

    // the measures lattice's FULL multi-aggregate surface (stateMulti —
    // trackValues over the FIRST measure): cnt + both sums from the
    // main state, exact deletion-safe min/max/distinct-count of
    // o_totalprice from the refcount companion, all-NULL (pad-only)
    // groups serving null min/max with distinct-count 0 via the
    // engine's left join; oracle = ROLLUP of the from-scratch FULL
    // JOIN with all seven aggregates
    "mapindex_lattice_measures_multi" -> ((s, dir) =>
      fullOuterLatticeMeasuresView(s, dir).stateMulti
        .select(col("gid"), col("c_mktsegment"), col("o_orderpriority"),
          col("cnt"),
          round(col("sum_o_totalprice").cast("double"), 2).as("revenue"),
          round(col("sum_c_acctbal").cast("double"), 2).as("acctbal"),
          round(col("min_value").cast("double"), 2).as("min_price"),
          round(col("max_value").cast("double"), 2).as("max_price"),
          col("n_distinct"))
        .orderBy("gid", "c_mktsegment", "o_orderpriority")),

    // the Q1 state built through pure insert micro-batches before the
    // shared batches — every fold the O(delta) multi-measure merge;
    // same oracle as the batch-built Q1 gate
    "mapindex_q1_measures_streamed" -> ((s, dir) =>
      lineitemQ1StreamedView(s, dir).state
        .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
          round(col("sum_l_quantity").cast("double"), 2).as("sum_qty"),
          round(col("sum_l_extendedprice").cast("double"), 2).as("sum_base"),
          round(col("sum_l_discount").cast("double"), 2).as("sum_disc"),
          round(col("sum_l_tax").cast("double"), 2).as("sum_tax"))
        .orderBy("l_returnflag", "l_linestatus")),

    // SEMI-over-JOIN cascade ([[joinSemiCascadeView]] — the generalized
    // LeftKeyedConsumer cascade): the maintained join's CDC replays into
    // a downstream membership filter, which then takes its own right
    // batch; oracle = from-scratch join of both modified tables under
    // the surviving-priority EXISTS
    "mapindex_joinview_semiview_cascade" -> ((s, dir) =>
      joinSemiCascadeView(s, dir).df
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
        .orderBy("o_orderkey")),

    // rollup-over-cascade at depth 2 ([[ordersCustomerNationAggView]]):
    // revenue by nation over the three-way chain, every delta flowing
    // base → join → join → group through CDC replay alone; the oracle is
    // the from-scratch three-way join + group-by of all three modified
    // tables
    "mapindex_joinview3_agg" -> ((s, dir) =>
      ordersCustomerNationAggView(s, dir).state
        .select(col("emit_key").as("n_name"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("revenue"))
        .orderBy("n_name")),

    // the rollup fed through the STREAMING join history
    // ([[streamedOrdersCustomerAggView]]): out-of-order arrivals, healed
    // joins and the shared change batches all flow through per-batch
    // catch-ups — same oracle as the batch-built rollup
    "mapindex_joinview_agg_streamed" -> ((s, dir) =>
      streamedOrdersCustomerAggView(s, dir).state
        .select(col("emit_key").as("o_orderpriority"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("revenue"))
        .orderBy("o_orderpriority")),

    // the rollup state served AS OF the epoch BETWEEN its two catch-ups
    // (state epoch 1 = after the left-side batch only): aggregate time
    // travel on the composition — the historical read must reproduce the
    // rollup of modified-orders ⋈ ORIGINAL-customers
    "mapindex_joinview_agg_asof" -> ((s, dir) => {
      val agg = ordersCustomerAggView(s, dir)
      agg.jv.store.dfAsOf(agg.stateName, 1)
        // drop the persisted catch-up watermark sentinel (it rides in the
        // state view so it commits atomically with the rollup rows)
        .filter(col("emit_key") =!= graft.engine.JoinAggView.WatermarkKey)
        .select(col("emit_key").as("o_orderpriority"),
          col("emit_value.cnt").as("cnt"),
          round(col("emit_value.sum_value").cast("double"), 2).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // maintained AS-OF join ([[purchaseClickView]] — AsOfJoinView):
    // every purchase's last click at-or-before it, kept fresh under
    // re-timed/re-valued/tombstoned batches to BOTH sides; the oracle
    // recomputes the per-purchase argmax from both modified tables
    "mapindex_asofjoinview" -> ((s, dir) =>
      purchaseClickView(s, dir).df
        .select(col("a_id"), col("a_user"),
          round(col("a_value"), 2).as("a_value"),
          col("b_id"), round(col("b_value"), 2).as("b_value"))
        .orderBy("a_id")),

    // AS-OF-over-JOIN cascade ([[joinAsofCascadeView]]): the enriched
    // purchase relation (join level) replays into the downstream as-of
    // pick, then the click side refreshes on its own; the oracle
    // re-derives the enrichment AND the per-row argmax from all three
    // modified relations from scratch
    "mapindex_joinview_asofview_cascade" -> ((s, dir) =>
      joinAsofCascadeView(s, dir).df
        .select(col("a_id"), col("a_user"),
          round(col("a_value"), 2).as("a_value"), col("u_events"),
          col("b_id"), round(col("b_value"), 2).as("b_value"))
        .orderBy("a_id")),

    // RIGHT-KEYED attribution serving ([[purchaseClickRightKeyedView]]
    // — AsOfJoinView.byRightKeys): "all purchases attributed to THESE
    // clicks" as a bucket-pruned point read over the right-keyed twin,
    // probed with a deterministic click-id subset (%7 == 3 of the
    // surviving clicks); the oracle recomputes the per-purchase argmax
    // and filters the picked click id to the same subset — a stale twin
    // row (a lost match not retracted, a re-pick not mirrored) is a
    // hash mismatch
    "mapindex_asofjoinview_byright" -> ((s, dir) =>
      byRightServe(s, dir, purchaseClickRightKeyedView(s, dir))),

    // the right-keyed twin under SALT SHARDS
    // ([[purchaseClickRightKeyedSaltedView]]): the point read fans out
    // to the bounded S sub-keys and the shard layout must be invisible
    // — same probe subset and oracle as the unsalted twin
    "mapindex_asofjoinview_byright_salted" -> ((s, dir) =>
      byRightServe(s, dir, purchaseClickRightKeyedSaltedView(s, dir))),

    // the as-of view's NET CDC across both refresh epochs: gross feed
    // over (build, latest], insert/delete multisets cancelled — must
    // equal the from-scratch diff of the post-batch as-of join vs the
    // build-time one
    "mapindex_asofjoinview_changefeed" -> ((s, dir) => {
      val v = purchaseClickView(s, dir)
      val feed = v.changes(0, v.epoch)
        .select(col("emit_value.a_id").as("a_id"),
          col("emit_value.a_user").as("a_user"),
          round(col("emit_value.a_value"), 2).as("a_value"),
          col("emit_value.b_id").as("b_id"),
          round(col("emit_value.b_value"), 2).as("b_value"),
          col("change_type"))
      nettedFeed(feed)
        .orderBy("change_type", "a_id")
    }),

    // the SALT-SHARDED as-of view ([[purchaseClickSaltedView]]): the
    // skew-hardened emit layout must be invisible to serving — same
    // history and oracle as mapindex_asofjoinview
    "mapindex_asofjoinview_salted" -> ((s, dir) =>
      purchaseClickSaltedView(s, dir).df
        .select(col("a_id"), col("a_user"),
          round(col("a_value"), 2).as("a_value"),
          col("b_id"), round(col("b_value"), 2).as("b_value"))
        .orderBy("a_id")),

    // the as-of store compacted after both refreshes
    // ([[purchaseClickCompactView]]): compaction must be invisible to
    // serving — same oracle as the uncompacted view
    "mapindex_asofjoinview_compacted" -> ((s, dir) =>
      purchaseClickCompactView(s, dir).df
        .select(col("a_id"), col("a_user"),
          round(col("a_value"), 2).as("a_value"),
          col("b_id"), round(col("b_value"), 2).as("b_value"))
        .orderBy("a_id")),

    // FORWARD maintained as-of ([[purchaseClickFwdView]]): the NEXT
    // click at-or-after each purchase, maintained under the same
    // two-sided batches
    "mapindex_asofjoinview_fwd" -> ((s, dir) =>
      purchaseClickFwdView(s, dir).df
        .select(col("a_id"), col("a_user"),
          round(col("a_value"), 2).as("a_value"),
          col("b_id"), round(col("b_value"), 2).as("b_value"))
        .orderBy("a_id")),

    // TOLERANCE maintained as-of ([[purchaseClickTolView]]): the last
    // click within ONE HOUR before each purchase — older closest picks
    // expire to the null pad
    "mapindex_asofjoinview_tol" -> ((s, dir) =>
      purchaseClickTolView(s, dir).df
        .select(col("a_id"), col("a_user"),
          round(col("a_value"), 2).as("a_value"),
          col("b_id"), round(col("b_value"), 2).as("b_value"))
        .orderBy("a_id")),

    // NEAREST maintained as-of with a 1 h tolerance
    // ([[purchaseClickNearestView]]): argmin |dt| within the bound,
    // distance ties backward — the remaining merge_asof direction,
    // maintained under both change batches
    "mapindex_asofjoinview_nearest" -> ((s, dir) =>
      purchaseClickNearestView(s, dir).df
        .select(col("a_id"), col("a_user"),
          round(col("a_value"), 2).as("a_value"),
          col("b_id"), round(col("b_value"), 2).as("b_value"))
        .orderBy("a_id")),

    // COMPOSITE-KEY maintained join ([[compositeOrdersView]]): orders x
    // per-(custkey, status) dim on the two-column key, both sides
    // refreshed; the oracle is the from-scratch two-column-ON join
    "mapindex_joinview_composite" -> ((s, dir) =>
      compositeOrdersView(s, dir, salted = false).df
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("d_cnt"))
        .orderBy("o_orderkey")),

    // the salted composite twin: shard layout invisible on the same oracle
    "mapindex_joinview_composite_salted" -> ((s, dir) =>
      compositeOrdersView(s, dir, salted = true).df
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("d_cnt"))
        .orderBy("o_orderkey")),

    // the MULTI-AGGREGATE lattice ([[latticeMultiView]] — trackValues):
    // cnt/sum from the main lattice state, exact deletion-safe
    // min/max/distinct-count per (set, group) from the refcount
    // companion, all from one CDC; all-null groups serve via the
    // engine's left-join (distinct 0, null min/max)
    "mapindex_lattice_multi" -> ((s, dir) =>
      latticeMultiView(s, dir).stateMulti
        .select(col("gid"), col("c_mktsegment"), col("o_orderpriority"),
          col("cnt"), round(col("sum_value").cast("double"), 2).as("revenue"),
          round(col("min_value").cast("double"), 2).as("min_price"),
          round(col("max_value").cast("double"), 2).as("max_price"),
          col("n_distinct"))
        .orderBy("gid", "c_mktsegment", "o_orderpriority")),

    // rollup OVER the maintained ANTI view ([[antiOrdersAggView]]): the
    // purge-audit rollup, completing the membership x aggregation matrix
    "mapindex_antiview_agg" -> ((s, dir) =>
      antiOrdersAggView(s, dir).state
        .select(col("emit_key").as("o_orderpriority"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("revenue"))
        .orderBy("o_orderpriority")),

    // GENERIC cascade ([[semiCascadeView]]): the semi view feeds a
    // downstream JoinView by CDC replay (membership flips arrive as
    // ordinary deltas), which then takes its own right-side batch; the
    // oracle recomputes EXISTS + the priority-key join from scratch
    "mapindex_semiview_cascade" -> ((s, dir) =>
      semiCascadeView(s, dir).df
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("p_cnt"))
        .orderBy("o_orderkey")),

    // GENERIC cascade from the as-of family ([[asofCascadeView]]):
    // re-picked attributions replay into the downstream user-dim join,
    // then the dim refreshes; oracle = as-of argmax + join from scratch
    "mapindex_asofjoinview_cascade" -> ((s, dir) =>
      asofCascadeView(s, dir).df
        .select(col("a_id"), col("a_user"),
          round(col("a_value"), 2).as("a_value"),
          col("b_id"), round(col("b_value"), 2).as("b_value"),
          col("u_events"))
        .orderBy("a_id")),

    // the attribution rollup's MULTI-AGGREGATE surface
    // ([[purchaseClickAttributionMulti]] — trackValues): cnt/sum from
    // the main state, exact deletion-safe min/max/distinct-count of
    // attributed revenue from the refcount companion; the NULL group
    // (unattributed) joins the two states null-safely
    "mapindex_asofjoinview_agg_multi" -> ((s, dir) => {
      val agg = purchaseClickAttributionMulti(s, dir)
      val nullK = " __nullgrp"
      val st = agg.state.withColumn("k", coalesce(col("emit_key"), lit(nullK)))
      val ms = agg.multiState.withColumn("k", coalesce(col("emit_key"), lit(nullK)))
        .drop("emit_key")
      // LEFT join: a group whose attributed values are ALL NULL lives in
      // the main state (cnt > 0, NULL sum) but has no refcount rows — it
      // must serve with null min/max and distinct 0, not vanish
      st.join(ms, Seq("k"), "left_outer")
        .select(col("emit_key").as("b_id"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("revenue"),
          round(col("min_value").cast("double"), 2).as("min_rev"),
          round(col("max_value").cast("double"), 2).as("max_rev"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
        .orderBy("b_id")
    }),

    // the as-of view built purely through out-of-order micro-batches
    // ([[purchaseClickStreamView]]): late clicks must steal already-
    // served matches; same oracle as the batch-built view
    "mapindex_asofjoinview_streamed" -> ((s, dir) =>
      purchaseClickStreamView(s, dir).df
        .select(col("a_id"), col("a_user"),
          round(col("a_value"), 2).as("a_value"),
          col("b_id"), round(col("b_value"), 2).as("b_value"))
        .orderBy("a_id")),

    // the ROLLUP lattice served AS OF the epoch between its two
    // catch-ups (state epoch 1 = the left-side batch folded, customers
    // still original): time travel on the whole lattice at once
    "mapindex_lattice_asof" -> ((s, dir) => {
      val gv = ordersCustomerLattice(s, dir, cube = false)
      gv.jv.store.dfAsOf(gv.stateName, 1)
        .filter(col("emit_key") =!= graft.engine.JoinAggView.WatermarkKey)
        .select(col("emit_value.gid").as("gid"),
          col("emit_value.g_c_mktsegment").as("c_mktsegment"),
          col("emit_value.g_o_orderpriority").as("o_orderpriority"),
          col("emit_value.cnt").as("cnt"),
          round(col("emit_value.sum_value").cast("double"), 2).as("revenue"))
        .orderBy("gid", "c_mktsegment", "o_orderpriority")
    }),

    // maintained LAST-TOUCH ATTRIBUTION ([[purchaseClickAttribution]] —
    // JoinAggView over the as-of view via the MaintainedRelation
    // contract): revenue credited per click, null group = unattributed;
    // served from the rollup state alone, fed purely by the as-of
    // view's CDC across both refreshes
    "mapindex_asofjoinview_agg" -> ((s, dir) =>
      purchaseClickAttribution(s, dir).state
        .select(col("emit_key").as("b_id"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("revenue"))
        .orderBy("b_id")),

    // maintained SEMI join ([[ordersCustomerFilterView]] —
    // FilterJoinView): orders of surviving customers, membership
    // flipped incrementally under both batches; oracle = EXISTS over
    // both modified tables
    "mapindex_semiview" -> ((s, dir) =>
      ordersCustomerFilterView(s, dir, "semi").df
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")),

    // the SALT-SHARDED semi view ([[saltedSemiView]]): shard layout
    // invisible to membership and serving — same oracle as
    // mapindex_semiview
    "mapindex_semiview_salted" -> ((s, dir) =>
      saltedSemiView(s, dir).df
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")),

    // maintained ANTI join: orders orphaned by the customer purge;
    // oracle = NOT EXISTS over both modified tables
    "mapindex_antiview" -> ((s, dir) =>
      ordersCustomerFilterView(s, dir, "anti").df
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")),

    // rollup OVER the maintained semi view ([[semiOrdersAggView]]):
    // revenue of live customers' orders by priority, membership flips
    // flowing into the aggregate as CDC deltas; oracle = EXISTS filter
    // + group-by over both modified tables from scratch
    "mapindex_semiview_agg" -> ((s, dir) =>
      semiOrdersAggView(s, dir).state
        .select(col("emit_key").as("o_orderpriority"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("revenue"))
        .orderBy("o_orderpriority")),

    // the ROLLUP lattice over the FULL-OUTER view
    // ([[fullOuterOrdersCustomerLattice]]): genuine null groups from
    // left-pads, sum-invisible right-pads, both CDC feeds folded into
    // every set; oracle = ROLLUP over the from-scratch FULL JOIN
    "mapindex_lattice_full" -> ((s, dir) =>
      fullOuterOrdersCustomerLattice(s, dir).state
        .select(col("gid"), col("c_mktsegment"), col("o_orderpriority"),
          col("cnt"), round(col("sum_value").cast("double"), 2).as("revenue"))
        .orderBy("gid", "c_mktsegment", "o_orderpriority")),

    // the ROLLUP lattice fed through the STREAMING join history
    // ([[streamedOrdersCustomerLattice]]): every micro-batch's delta —
    // heals included — folds into every grouping set; same oracle as
    // the batch-built lattice
    "mapindex_lattice_streamed" -> ((s, dir) =>
      streamedOrdersCustomerLattice(s, dir).state
        .select(col("gid"), col("c_mktsegment"), col("o_orderpriority"),
          col("cnt"), round(col("sum_value").cast("double"), 2).as("revenue"))
        .orderBy("gid", "c_mktsegment", "o_orderpriority")),

    // maintained ROLLUP lattice ([[ordersCustomerLattice]] —
    // JoinGroupingView): (segment, priority) / (segment) / () revenue,
    // every set folded from the SAME join CDC at once; gid = the
    // GROUPING bitmask (bit 0 = segment masked, bit 1 = priority masked)
    "mapindex_joinview_rollup_lattice" -> ((s, dir) =>
      ordersCustomerLattice(s, dir, cube = false).state
        .select(col("gid"), col("c_mktsegment"), col("o_orderpriority"),
          col("cnt"), round(col("sum_value").cast("double"), 2).as("revenue"))
        .orderBy("gid", "c_mktsegment", "o_orderpriority")),

    // the full CUBE lattice over the same maintained join and the same
    // CDC history — adds the (priority)-only set the rollup lacks
    "mapindex_joinview_cube_lattice" -> ((s, dir) =>
      ordersCustomerLattice(s, dir, cube = true).state
        .select(col("gid"), col("c_mktsegment"), col("o_orderpriority"),
          col("cnt"), round(col("sum_value").cast("double"), 2).as("revenue"))
        .orderBy("gid", "c_mktsegment", "o_orderpriority")),

    // three-way delta join ([[ordersCustomerNationView]]): level 2 caught
    // up from level 1's CDC after each level-1 refresh, then a nation
    // batch through level 2's own right-side refresh — the oracle is the
    // from-scratch three-way join of all three modified tables
    "mapindex_joinview3" -> ((s, dir) =>
      ordersCustomerNationView(s, dir).df
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("n_name"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")),

    // O14 grouped aggregation over the materialized view (+ O16 count)
    // the windowed (1-day-sliced) maintained aggregate after the shared
    // events change batch — slice-local merges, boundary migrations for
    // the +1 h upserts — served as the full per-slice state
    "mapindex_windowed_agg" -> ((s, dir) =>
      windowedServe(eventsWindowedView(s, dir, "main"))),

    // trailing-7-day window as of the newest live slice: the slice
    // partials merged group-wise WITHOUT rescanning events — the serve
    // shape this family exists for
    "mapindex_windowed_agg_window" -> ((s, dir) => {
      val w = eventsWindowedView(s, dir, "main")
      w.trailing(7)
        .select(col("emit_key"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("sum_value"),
          round(col("min_value"), 2).as("min_value"),
          round(col("max_value"), 2).as("max_value"))
        .orderBy("emit_key")
    }),

    // the eviction twin: watermark advanced past the first three days,
    // those slice DIRECTORIES dropped (no surviving-state rewrite — the
    // spec pins survivor versions); the remaining state must equal the
    // from-scratch recompute restricted to surviving slices
    "mapindex_windowed_agg_evict" -> ((s, dir) =>
      windowedServe(eventsWindowedView(s, dir, "ev"))),

    // the windowed state built PURELY through micro-batches (every fold
    // a multi-slice O(delta) merge over out-of-order arrivals) before the
    // shared change batch lands — same oracle as the batch-built twin
    "mapindex_windowed_agg_streamed" -> ((s, dir) =>
      windowedServe(eventsWindowedView(s, dir, "st"))),

    // ROLLUP AGING: after the shared batch, everything up to the 7-day
    // grid line below minSlice+21d coarsens into week slices (partials
    // merged exactly — cnt/sum add, min/max combine) while the tail stays
    // daily; served with the slice WIDTH in the comparable surface, so an
    // over- or under-coarsened slice hash-mismatches the oracle's
    // two-tier recompute
    "mapindex_windowed_agg_coarse" -> ((s, dir) =>
      windowedServeW(eventsWindowedView(s, dir, "co"))),

    // windowed SKETCH quantiles: the trailing-7-day per-type p50/p95
    // decoded from slice sketches MERGED across the window (zero event
    // rescans); exact fold counts + oracle-recomputed anchors + booleans
    // asserting each estimate's true rank within 5% of target — the
    // estimates themselves stay out of the hash (merge order may legally
    // move them within the bound, as in the other sketch gates)
    "mapindex_windowed_sketch" -> ((s, dir) =>
      trailingSketchServe(s, dir, eventsWindowedSketchView(s, dir))),

    // ONE group's per-day series (the metric-dashboard serve): the
    // emit_key equality pushes through the slice union into every slice
    // scan (PlanAuditSpec asserts the pushed filter, no events scan)
    "mapindex_windowed_history" -> ((s, dir) =>
      eventsWindowedView(s, dir, "main").history("purchase")
        .select(col("slice_start"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("sum_value"),
          round(col("min_value"), 2).as("min_value"),
          round(col("max_value"), 2).as("max_value"))
        .orderBy("slice_start")),

    // TIME TRAVEL on one slice: the oldest day served AS OF its
    // pre-batch version — the refresh swapped that slice to v1, and the
    // grace-retained v0 must still read as the ORIGINAL (unmodified)
    // day's aggregates, proving slice refreshes never mutate history
    "mapindex_windowed_agg_sliceasof" -> ((s, dir) => {
      val w = eventsWindowedView(s, dir, "main")
      val s0 = w.liveSlices.min
      w.sliceStateAsOf(s0, w.sliceVersion(s0) - 1)
        .select(col("emit_key"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("sum_value"),
          round(col("min_value"), 2).as("min_value"),
          round(col("max_value"), 2).as("max_value"))
        .orderBy("emit_key")
    }),

    // the TPC-H-side windowed rollup: quarterly revenue per priority over
    // orders, aged to 360-day tiers — a second table, slice width (90 d),
    // and coarse ratio (4:1) through the same layout; widths in the hash
    "mapindex_windowed_orders" -> ((s, dir) =>
      windowedServeW(ordersWindowedView(s, dir))),

    // the windowed state's own CDC: the oldest slice's aggregate-level
    // feed across its refresh (old row as delete, new row as insert,
    // version-stamped at read), netted — must equal the from-scratch
    // diff of the ORIGINAL day's aggregates vs the MODIFIED day's
    "mapindex_windowed_changefeed" -> ((s, dir) => {
      val w = eventsWindowedView(s, dir, "main")
      val s0 = w.liveSlices.min
      val feed = w.sliceChanges(s0, 0, w.sliceVersion(s0))
        .select(col("emit_key"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("sum_value"),
          round(col("min_value"), 2).as("min_value"),
          round(col("max_value"), 2).as("max_value"), col("change_type"))
      nettedFeed(feed)
        .orderBy("change_type", "emit_key")
    }),

    // WINDOWED × JOIN-IVM: quarterly revenue per customer segment folded
    // purely from the maintained join's CDC (build snapshot + two-sided
    // batch feed; the rollup never re-reads the join) — the oracle joins
    // both modified tables from scratch, so a missed retraction in any
    // slice is a hash mismatch
    "mapindex_windowed_joinfeed" -> ((s, dir) =>
      ordersSegmentWindowedRollup(s, dir).state
        .select(col("slice_start"), col("emit_key"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("sum_value"))
        .orderBy("slice_start", "emit_key")),

    // windowed DISTINCT users (trailing 7 days per type) from per-day KMV
    // states merged across the window — k=1024 keeps the gate corpus in
    // the exact regime, so the decoded estimate hash-compares to DuckDB's
    // COUNT(DISTINCT) and `estimated` must read false
    "mapindex_windowed_distinct" -> ((s, dir) =>
      eventsWindowedDistinctView(s, dir, 1024)
        .trailingDistinct(7)
        .withColumnRenamed("distinct_est", "distinct_users")
        .orderBy("emit_key")),

    // windowed FREQUENT value-buckets (trailing 7 days per type): MG
    // candidates from the slice merge joined back to exact window counts
    // and thresholded at total/8 — the MG n/(k+1) guarantee (k=16) makes
    // the frequent set provably inside the candidates, so the output IS
    // the exact frequent set; win_n is the sketch's exact fold count,
    // hash-compared to the oracle's window total
    "mapindex_windowed_topfreq" -> ((s, dir) => {
      val v = eventsWindowedTopFreqView(s, dir)
      val cand = v.trailingCandidates(7)
      val e = Tables.events(s, dir)
        .filter(col("event_id") % 41 =!= 0)
        .select(col("event_type").as("emit_key"),
          when(col("event_id") % 37 === 0, col("ts") + expr("INTERVAL 1 HOUR"))
            .otherwise(col("ts")).as("ts"),
          floor(when(col("event_id") % 37 === 0, col("value") + 1000)
            .otherwise(col("value")) / 50).cast("long").as("bucket"))
        .withColumn("sl", (floor(unix_seconds(col("ts")) / 86400).cast("long")) * 86400)
      // newest event day from the slice layout (see mapindex_windowed_sketch)
      val mx = v.liveSlices.max
      val win = e.filter(col("sl") >= mx - 6 * 86400L)
      val exact = win.groupBy("emit_key", "bucket").agg(count(lit(1)).as("cnt"))
      // window totals ARE the sum of the per-bucket counts — derive them
      // from `exact` instead of a second full aggregation over the events
      // window (one corpus-window scan + exchange instead of two)
      val tot = exact.groupBy("emit_key").agg(sum("cnt").as("total"))
      cand.select(col("emit_key"), col("n"), col("item").cast("long").as("bucket"))
        .join(exact, Seq("emit_key", "bucket"))
        .join(tot, Seq("emit_key"))
        .filter(col("cnt") > col("total") / lit(8.0))
        .select(col("emit_key"), col("bucket"), col("cnt"), col("n").as("win_n"))
        .orderBy("emit_key", "bucket")
    }),

    // the ESTIMATOR regime (k=32, well past full): per-type trailing-7
    // estimate bounded against the exact distinct recomputed in-arm —
    // within 40% (>2 sigma of the 1/sqrt(k-2) ~ 18% KMV error); exact
    // counts and the bound boolean are what the oracle rechecks
    "mapindex_windowed_distinct_est" -> ((s, dir) => {
      val v = eventsWindowedDistinctView(s, dir, 32)
      val est = v.trailingDistinct(7)
      val e = Tables.events(s, dir)
        .filter(col("event_id") % 41 =!= 0)
        .select(col("event_type").as("emit_key"),
          when(col("event_id") % 37 === 0, col("ts") + expr("INTERVAL 1 HOUR"))
            .otherwise(col("ts")).as("ts"),
          col("user_id"))
        .withColumn("sl", (floor(unix_seconds(col("ts")) / 86400).cast("long")) * 86400)
      // newest event day from the slice layout (see mapindex_windowed_sketch)
      val mx = v.liveSlices.max
      val exact = e.filter(col("sl") >= mx - 6 * 86400L)
        .groupBy("emit_key")
        .agg(countDistinct("user_id").as("exact_distinct"))
      est.join(exact, Seq("emit_key"))
        .select(col("emit_key"), col("exact_distinct"),
          (abs(col("distinct_est") - col("exact_distinct"))
            <= col("exact_distinct") * 0.4).as("within_bound"))
        .orderBy("emit_key")
    }),

    // the sketch state built through pure insert-only micro-batch MERGES
    // (the O(delta) fold path) before the shared batch drives rebuilds —
    // the streamed twin, same oracle as the batch-built trailing gate
    "mapindex_windowed_sketch_streamed" -> ((s, dir) =>
      trailingSketchServe(s, dir, eventsWindowedSketchView(s, dir, "st"))),

    // the sketch view's WHOLE history decoded across BOTH tiers — three
    // coarsened week slices merged with the daily tail in one serve
    // (mergeability across mixed widths); anchors = the full modified
    // corpus per type
    "mapindex_windowed_sketch_coarse" -> ((s, dir) => {
      val v = eventsWindowedSketchView(s, dir)
      val live = v.effectiveSlices
      val est = v.quantiles(live.map(_._1).min,
          live.map { case (s0, w0) => s0 + w0 }.max,
          Seq("est50" -> 0.5, "est95" -> 0.95))
        .withColumnRenamed("emit_key", "flag")
      val e = Tables.events(s, dir)
        .filter(col("event_id") % 41 =!= 0)
        .select(col("event_type").as("flag"),
          when(col("event_id") % 37 === 0, col("value") + 1000)
            .otherwise(col("value")).as("v"))
      sketchQuantileGateFrom(est, e)
    }),

    "mapindex_group" -> ((s, dir) =>
      flagView(s, dir).df
        .groupBy(col("emit_key"))
        .agg(round(sum("emit_value"), 2).as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("emit_key")),

    // O14 grouped collect, serialized hash-stably: values sorted, cast to
    // DECIMAL(12,2) strings, comma-joined — a list column is unhashable on
    // the driver's pandas side (uid-order preservation is covered by the
    // MapIndexSpec grouped() test; the value sort here is for the oracle)
    "mapindex_grouplist" -> ((s, dir) =>
      flagView(s, dir).df
        .groupBy(col("emit_key"))
        .agg(concat_ws(",",
          transform(sort_array(collect_list(col("emit_value"))),
            v => v.cast("decimal(12,2)").cast("string"))).as("vals"))
        .orderBy("emit_key")),

    // O8 point lookup: every value emitted under one key
    "mapindex_get" -> ((s, dir) =>
      flagView(s, dir).get("R").orderBy("emit_value")),

    // O6 ordered range scan with corrected [start, end) semantics
    "mapindex_scan" -> ((s, dir) =>
      flagView(s, dir).scan(Some("A"), Some("N"))
        .select("emit_key", "emit_value")
        .orderBy("emit_key", "emit_value")),

    // O16: the count the reference stubbed (index.js:148-150), implemented
    "mapindex_count" -> ((s, dir) =>
      flagView(s, dir).scan(Some("N"))
        .agg(count(lit(1)).as("cnt"))),

    // O14 over the bucket-partitioned store: same answer as mapindex_group,
    // served from hash-bucketed, per-bucket-sorted storage
    "mapindex_bucketed_group" -> ((s, dir) =>
      bucketedFlag(s, dir).df(byFlag.name)
        .groupBy(col("emit_key"))
        .agg(round(sum("emit_value"), 2).as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("emit_key")),

    // O8 over the bucketed store: the single-bucket pruned point lookup
    "mapindex_bucketed_get" -> ((s, dir) =>
      bucketedFlag(s, dir).get(byFlag.name, "R").orderBy("emit_value")),

    // O6 over the bucketed store: ordered [start, end) range scan — range
    // predicates push into every bucket's sorted files for row-group
    // pruning (hash layout cannot prune whole buckets by range)
    "mapindex_bucketed_scan" -> ((s, dir) =>
      bucketedFlag(s, dir).scan(byFlag.name, Some("A"), Some("N"))
        .select("emit_key", "emit_value")
        .orderBy("emit_key", "emit_value")),

    // O6 over the RANGE-bucketed store: same [start, end) answer as the
    // hash-bucketed scan, but served from only the covering buckets —
    // R's bucket is never opened (plan-asserted in PlanAuditSpec)
    "mapindex_rangebucketed_scan" -> ((s, dir) =>
      rangeBucketedFlag(s, dir).scan(byFlag.name, Some("A"), Some("N"))
        .select("emit_key", "emit_value")
        .orderBy("emit_key", "emit_value")),

    // O8 on the range layout: the boundary binary-search prunes the point
    // lookup to one bucket, like the hash layout's bucketOf
    "mapindex_rangebucketed_get" -> ((s, dir) =>
      rangeBucketedFlag(s, dir).get(byFlag.name, "R").orderBy("emit_value")),

    // O3/O4/O5 under the RANGE layout: the refreshed view read back after
    // the shared upsert+tombstone batch went through the staged-write
    // path — including the NEW 'X' key routed by the boundary search into
    // the last bucket, which no pre-refresh manifest entry covered
    "mapindex_rangebucketed_group" -> ((s, dir) =>
      rangeMaintained(s, dir).df(byFlagRangeM.name)
        .groupBy(col("emit_key"))
        .agg(round(sum("emit_value"), 2).as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("emit_key")),

    // post-COMPACTION read: refresh then compact(maxFilesPerBucket=0)
    // rewrote every live bucket as a no-change epoch; the grouped read
    // must still hash-match the identical from-scratch oracle
    "mapindex_compacted_group" -> ((s, dir) =>
      compactedStore(s, dir).df(byFlagCompact.name)
        .groupBy(col("emit_key"))
        .agg(round(sum("emit_value"), 2).as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("emit_key")),

    // feed replay ACROSS the compaction epoch (0, 2]: the compaction
    // sidecar is empty, so the replay equals the refresh delta alone —
    // same oracle as the uncompacted feeds
    "mapindex_compacted_changefeed" -> ((s, dir) => {
      val st = compactedStore(s, dir)
      st.changesBetween(byFlagCompact.name, 0, st.epoch(byFlagCompact.name))
        .groupBy(col("change_type"), col("emit_key"))
        .agg(count(lit(1)).as("cnt"), round(sum("emit_value"), 2).as("sum_value"))
        .orderBy("change_type", "emit_key")
    }),

    // post-SPLIT reads: 8 → 16 bucket doubling (exchange-free local
    // rewrite) then the shared change batch maintained at the new
    // geometry — same modified-source recompute as every other layout
    "mapindex_split_group" -> ((s, dir) =>
      splitStore(s, dir).df(byFlagSplit.name)
        .groupBy(col("emit_key"))
        .agg(round(sum("emit_value"), 2).as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("emit_key")),

    // point lookup under the DOUBLED geometry: bucketOf(key, 16) must
    // route to the bucket the split created — a geometry mismatch reads
    // an empty (or wrong) bucket and hash-fails
    "mapindex_split_get" -> ((s, dir) =>
      splitStore(s, dir).get(byFlagSplit.name, "R").orderBy("emit_value")),

    // feed replay ACROSS the split epoch (0, 2]: the split sidecar is
    // empty, so the replay equals the refresh delta alone — identical
    // oracle to the compaction crossing
    "mapindex_split_changefeed" -> ((s, dir) => {
      val st = splitStore(s, dir)
      st.changesBetween(byFlagSplit.name, 0, st.epoch(byFlagSplit.name))
        .groupBy(col("change_type"), col("emit_key"))
        .agg(count(lit(1)).as("cnt"), round(sum("emit_value"), 2).as("sum_value"))
        .orderBy("change_type", "emit_key")
    }),

    // reads served from the SHIPPED REPLICA after an incremental ship
    // (manifest-diff copy of only the refresh-touched buckets): a stale
    // or partially-shipped replica hash-fails the modified-source oracle
    "mapindex_shipped_group" -> ((s, dir) =>
      shippedReplica(s, dir).df(byFlagShip.name)
        .groupBy(col("emit_key"))
        .agg(round(sum("emit_value"), 2).as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("emit_key")),

    // the replica's change feed over its shipped sidecars: replaying
    // (0, current] on the REPLICA equals the source refresh's delta
    "mapindex_shipped_changefeed" -> ((s, dir) => {
      val st = shippedReplica(s, dir)
      st.changesBetween(byFlagShip.name, 0, st.epoch(byFlagShip.name))
        .groupBy(col("change_type"), col("emit_key"))
        .agg(count(lit(1)).as("cnt"), round(sum("emit_value"), 2).as("sum_value"))
        .orderBy("change_type", "emit_key")
    }),

    // the range layout's CDC sidecar over the same refresh: epoch 0 → 1,
    // same exact-delta oracle as the flat and hash-bucketed feeds — the
    // three layouts must emit byte-identical change semantics
    "mapindex_rangebucketed_changefeed" -> ((s, dir) => {
      val st = rangeMaintained(s, dir)
      st.changesBetween(byFlagRangeM.name, 0, 1)
        .groupBy(col("change_type"), col("emit_key"))
        .agg(count(lit(1)).as("cnt"), round(sum("emit_value"), 2).as("sum_value"))
        .orderBy("change_type", "emit_key")
    }),

    // snapshot read of the bucketed store one epoch back: the aggview
    // fixture's refresh moved the view to epoch 1, and dfAsOf(0) must
    // still show the PRE-refresh world (original flags, no tombstones)
    "mapindex_bucketed_asof" -> ((s, dir) => {
      val v = bucketedAggView(s, dir) // epoch 0 → 1 with grace retention
      v.store.dfAsOf(byFlagAggB.name, 0)
        .groupBy(col("emit_key"))
        .agg(round(sum("emit_value"), 2).as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("emit_key")
    }),

    // aggregate-state time travel: the state relation is itself a bucketed
    // view, so dfAsOf applies to it unchanged — epoch 0 must show the
    // PRE-refresh aggregates (the unmodified source, grouped from scratch
    // by the oracle)
    "mapindex_bucketed_agg_asof" -> ((s, dir) => {
      val v = bucketedAggView(s, dir)
      v.store.dfAsOf("lineitem_byflag_agg_b__state", 0)
        .select(col("emit_key"),
          col("emit_value.cnt").as("cnt"),
          round(col("emit_value.sum_value").cast("double"), 2).as("sum_value"),
          col("emit_value.min_value").as("min_value"),
          col("emit_value.max_value").as("max_value"))
        .orderBy("emit_key")
    }),

    // schema-free JSON values round-trip through the stored index and
    // project back to typed columns at read time (reference value model)
    "mapindex_json_values" -> ((s, dir) =>
      jsonView(s, dir).df
        .select(col("emit_key"),
          get_json_object(col("emit_value"), "$.user_id").cast("long").as("user_id"),
          get_json_object(col("emit_value"), "$.value").cast("double").as("value"))
        .groupBy(col("emit_key"))
        .agg(count(lit(1)).as("cnt"),
          round(sum("value"), 2).as("sum_value"),
          count_distinct(col("user_id")).as("users"))
        .orderBy("emit_key")),

    // O8's prefix variant: the reference's get() also serves prefix scans
    // (['index', key]..['index', key, {}], index.js:159-160); here a
    // StartsWith predicate pushes into the emit_key-sorted parquet scan
    "mapindex_prefix" -> ((s, dir) =>
      jsonView(s, dir).df
        .filter(col("emit_key").startsWith("p"))
        .groupBy(col("emit_key"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("emit_key")),

    // the stored index is a first-class SQL relation: register the view
    // snapshot and query it with text SQL (same engine, same storage)
    "mapindex_sql" -> ((s, dir) => {
      flagView(s, dir).df.createOrReplaceTempView("lineitem_byflag_v")
      s.sql(
        """SELECT emit_key, round(sum(emit_value), 2) AS sum_value, count(*) AS cnt
          |FROM lineitem_byflag_v GROUP BY emit_key ORDER BY emit_key""".stripMargin)
    }),

    // O17 cascade: view-of-view, grouped at the second stage
    "mapindex_cascade" -> ((s, dir) =>
      bucketView(s, dir).df
        .groupBy(col("emit_key").cast("long").as("bucket"))
        .agg(round(sum("emit_value"), 2).as("sum_rev"),
          count(lit(1)).as("cnt"))
        .orderBy("bucket")),

    // the completed reduce half: incrementally-maintained grouped
    // count/sum/min/max/avg, read AFTER an upsert+tombstone batch went
    // through the delta-merge path — the oracle recomputes the same final
    // state from scratch, so any maintenance error is a hash mismatch
    // per-group DISTINCT count served from MAINTAINED refcount state
    // ([[distinctView]]): count distinct is not retractable from the
    // count alone, so the state keys by (group, value) with the value's
    // multiplicity — a tombstone decrements, zero drops the row, and
    // count(*) per group over the state is the exact distinct count.
    // The oracle recomputes count(DISTINCT) from the modified corpus.
    "mapindex_distinct_view" -> ((s, dir) =>
      distinctView(s, dir).state
        .filter(col("cnt") > 0)
        .select(substring_index(col("emit_key"), "|", 1).as("flag"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n_distinct"))
        .orderBy("flag")),

    // the refcount distinct state in the bucketed layout: the same
    // serving aggregation over partition-scoped-maintained state
    "mapindex_bucketed_distinct_view" -> ((s, dir) =>
      distinctBView(s, dir).state
        .filter(col("cnt") > 0)
        .select(substring_index(col("emit_key"), "|", 1).as("flag"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n_distinct"))
        .orderBy("flag")),

    // the refcount distinct state built PURELY through streaming
    // micro-batches ([[distinctSView]]): same serving aggregation, same
    // from-scratch count(DISTINCT) oracle as the flat and bucketed twins
    "mapindex_distinct_view_streamed" -> ((s, dir) =>
      distinctSView(s, dir).state
        .filter(col("cnt") > 0)
        .select(substring_index(col("emit_key"), "|", 1).as("flag"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n_distinct"))
        .orderBy("flag")),

    // maintained p50/p95 served from the refcount (group, value) state
    // ([[percentileView]] → [[quantileServe]]): smallest value whose
    // cumulative multiplicity reaches ceil(p·n); the oracle recomputes
    // the identical definition from the modified corpus from scratch
    "mapindex_percentile_view" -> ((s, dir) =>
      quantileServe(percentileView(s, dir).state)),

    // the quantile state in the bucketed (100 TB) layout
    // ([[percentileBView]]): same serving, same oracle — flat and
    // bucketed percentile maintenance must agree exactly
    "mapindex_bucketed_percentile_view" -> ((s, dir) =>
      quantileServe(percentileBView(s, dir).state)),

    // CONTINUOUS-domain maintained quantiles ([[percentileContView]] —
    // grid-bucketed refcount state): the ESTIMATE arm reads only the
    // vocabulary-sized state (bucket lower edges at the exact bucketed
    // rank); the ANCHOR arm recomputes the exact type-1 p50/p95 from
    // the modified corpus; the boolean columns ASSERT the grid bound
    // (exact ∈ [estimate, estimate + grid)) — the oracle independently
    // recomputes estimates, anchors AND emits literal `true` bounds, so
    // a violated bound is a hash mismatch
    "mapindex_percentile_cont" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val st = percentileContView(s, dir).state
        .filter(col("cnt") > 0)
        .select(substring_index(col("emit_key"), "|", 1).as("flag"),
          substring_index(col("emit_key"), "|", -1).cast("long").as("b"),
          col("cnt"))
      val cum = st
        .withColumn("cum", sum("cnt").over(Window.partitionBy("flag").orderBy("b")))
        .withColumn("n", sum("cnt").over(Window.partitionBy("flag")))
      val est = cum.groupBy("flag")
        .agg(min(when(col("cum") >= ceil(col("n") / 2), col("b"))).as("b50"),
          min(when(col("cum") >= ceil(col("n") * 19 / 20), col("b"))).as("b95"),
          max("n").as("n"))
        .select(col("flag"), col("n"),
          (col("b50") * 100.0).as("p50_lo"), (col("b95") * 100.0).as("p95_lo"))
      // anchor arm: exact type-1 quantiles recomputed from the modified
      // corpus (the invariant pattern: served path reads stored state,
      // the anchor recomputes from scratch)
      val src = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 89 =!= 0)
        .select(when(col("l_orderkey") % 97 === 0, lit("X"))
            .otherwise(col("l_returnflag")).as("flag"),
          col("l_extendedprice").as("v"))
      val counts = src.groupBy("flag", "v").agg(count(lit(1)).as("cnt"))
      val cum2 = counts
        .withColumn("cum", sum("cnt").over(Window.partitionBy("flag").orderBy("v")))
        .withColumn("n2", sum("cnt").over(Window.partitionBy("flag")))
      val exact = cum2.groupBy("flag")
        .agg(min(when(col("cum") >= ceil(col("n2") / 2), col("v"))).as("x50"),
          min(when(col("cum") >= ceil(col("n2") * 19 / 20), col("v"))).as("x95"))
      est.join(exact, Seq("flag"))
        .select(col("flag"), col("n"),
          col("p50_lo"), col("p95_lo"),
          round(col("x50"), 2).as("exact_p50"),
          round(col("x95"), 2).as("exact_p95"),
          (col("p50_lo") <= col("x50") && col("x50") < col("p50_lo") + 100.0)
            .as("p50_within_grid"),
          (col("p95_lo") <= col("x95") && col("x95") < col("p95_lo") + 100.0)
            .as("p95_within_grid"))
        .orderBy("flag")
    }),

    // MERGEABLE-SKETCH maintained quantiles ([[percentileSketchView]]):
    // the served estimates come from the group-sized sketch state alone;
    // the ANCHOR arm recomputes exact type-1 p50/p95, the exact count,
    // and the TRUE RANK of each estimate from the modified corpus; the
    // boolean columns assert the deterministic rank-error bound
    // (|rank(est) - target| <= 5 % of n). Estimates themselves stay out
    // of the compared columns: merge order may legally move them within
    // the bound.
    "mapindex_percentile_sketch" -> ((s, dir) =>
      sketchQuantileGate(percentileSketchView(s, dir), s, dir)),

    // the sketch state built through pure insert micro-batches (merge
    // path only) before the shared batch (rebuild path) — the streamed
    // twin, same oracle as the batch-built gate
    "mapindex_percentile_sketch_streamed" -> ((s, dir) =>
      sketchQuantileGate(percentileSketchSView(s, dir), s, dir)),

    // SKETCH-over-JOIN ([[ordersPrioritySketchView]] — JoinSketchView):
    // per-priority order-value sketches maintained from the dim join's
    // CDC (reprice = rebuild via the upstream's bucket-pruned byKeys,
    // the dim drop vanishes its group), served at BOTH lattice levels
    // (per key + the merged ALL row); exact anchors + rank bounds
    // recomputed by the oracle over the modified join from scratch
    "mapindex_joinview_sketch" -> ((s, dir) => {
      val est = ordersPrioritySketchView(s, dir)
        .quantilesRollup(Seq("est50" -> 0.5, "est95" -> 0.95))
        .withColumnRenamed("emit_key", "flag")
      val o = Tables.orders(s, dir)
      // cast-free survivor predicate: the flag equi-join would let
      // Catalyst propagate an inferred substring-cast constraint onto
      // the est side, where the 'ALL' rollup row fails the ANSI cast
      val perKey = o.filter(col("o_orderkey") % 41 =!= 0)
        .filter(!col("o_orderpriority").startsWith("5"))
        .select(col("o_orderpriority").as("flag"),
          (when(col("o_orderkey") % 37 === 0, col("o_totalprice") + 1000)
            .otherwise(col("o_totalprice"))).as("v"))
      sketchQuantileGateFrom(est,
        perKey.unionByName(perKey.select(lit("ALL").as("flag"), col("v"))))
    }),

    // the SKETCH ROLLUP ([[graft.engine.SketchQuantileView
    // .quantilesRollup]]): per-flag AND global ('ALL') quantiles served
    // from ONE state — the global row is |groups| sketch MERGES over the
    // state alone (mergeability is the sketch's whole 100 TB payoff;
    // the corpus is never re-read). Exact anchors + the rank-bound
    // booleans are checked at BOTH lattice levels; the oracle recomputes
    // the per-flag anchors plus the same corpus re-labeled 'ALL'.
    "mapindex_percentile_sketch_rollup" -> ((s, dir) => {
      val est = percentileSketchView(s, dir)
        .quantilesRollup(Seq("est50" -> 0.5, "est95" -> 0.95))
        .withColumnRenamed("emit_key", "flag")
      val perFlag = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 89 =!= 0)
        .select(when(col("l_orderkey") % 97 === 0, lit("X"))
            .otherwise(col("l_returnflag")).as("flag"),
          col("l_extendedprice").as("v"))
      sketchQuantileGateFrom(est,
        perFlag.unionByName(perFlag.select(lit("ALL").as("flag"), col("v"))))
    }),

    // the sketch state served AS OF its pre-batch epoch (time travel on
    // the sketch itself): estimates decoded from the epoch-0 state must
    // bound the ORIGINAL corpus's exact quantiles — proving the refresh
    // left the prior sketch epoch intact and addressable
    "mapindex_percentile_sketch_asof" -> ((s, dir) => {
      val v = percentileSketchView(s, dir)
      graft.functions.QuantileSketch.register(s)
      val est = v.store.dfAsOf("lineitem_flagsketchq__state", 0)
        .select(col("emit_key").as("flag"),
          col("emit_value.sketch").as("sketch"))
        .select(col("flag"), expr("qsketch_n(sketch)").as("n"),
          expr("qsketch_quantile(sketch, 0.5)").as("est50"),
          expr("qsketch_quantile(sketch, 0.95)").as("est95"))
      val src = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
      sketchQuantileGateFrom(est, src)
    }),

    // maintained per-group TOP-K FREQUENT values from the SAME refcount
    // state — the exact, deletion-safe version of what Misra-Gries
    // approximates: the state's per-(group, value) multiplicity ranks
    // directly (cnt desc, value asc tie-break), serving O(state) with
    // the corpus never re-read. The oracle recomputes the identical
    // ranking from the modified corpus from scratch.
    "mapindex_topfreq_view" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val st = percentileView(s, dir).state
        .filter(col("cnt") > 0)
        .select(substring_index(col("emit_key"), "|", 1).as("flag"),
          substring_index(col("emit_key"), "|", -1).cast("int").as("qty"),
          col("cnt"))
      st.withColumn("rank", row_number()
          .over(Window.partitionBy("flag")
            .orderBy(col("cnt").desc, col("qty"))).cast("long"))
        .filter(col("rank") <= 3)
        .select("flag", "rank", "qty", "cnt")
        .orderBy("flag", "rank")
    }),

    "mapindex_aggview" -> ((s, dir) =>
      aggView(s, dir).read
        .select(col("emit_key"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("sum_value"),
          col("min_value"), col("max_value"), col("avg_value"))
        .orderBy("emit_key")),

    // the change feed between two view versions, hash-verified: the
    // aggview fixture leaves its base at v1 with v0 retained, so the CDC
    // rows for the %97-reflag/%89-tombstone batch are addressable — and
    // the oracle recomputes the exact same delta from the source table
    // (upserted keys surface as delete-of-old + insert-of-new, the
    // contract cascaded consumers replay). Aggregated per (change_type,
    // emit_key) so the compare is order-free.
    "mapindex_changefeed" -> ((s, dir) => {
      aggView(s, dir) // builds base v0, then the deterministic refresh → v1
      // version-RELATIVE range like the cascade relay: (L-1, L] is (0, 1]
      // in a fresh store and stays correct in durable stores written
      // before the aggView unit gate existed (where L moved past 1)
      val st = Views.store(s, dir)
      val l = st.latestVersion(byFlagAgg.name).getOrElse(
        sys.error(s"${byFlagAgg.name} missing after aggView build"))
      st.changesBetween(byFlagAgg.name, l - 1, l)
        .groupBy(col("change_type"), col("emit_key"))
        .agg(count(lit(1)).as("cnt"), round(sum("emit_value"), 2).as("sum_value"))
        .orderBy("change_type", "emit_key")
    }),

    // the NETTED feed over a two-refresh history (0, 2]: last-writer-wins
    // per src_key, so the v1-era 'X' rows — inserted at v1, retracted at
    // v2 — must not appear at all, while the gross feed carries both. The
    // oracle recomputes the net delta straight from the source: deletes =
    // original rows of every touched key, inserts = the final 'Y' rows.
    "mapindex_net_changefeed" -> ((s, dir) => {
      netFeedView(s, dir) // v0 build, then the two deterministic refreshes
      // version-relative (L-2, L] — (0, 2] on a fresh store; see
      // mapindex_changefeed
      val st = Views.store(s, dir)
      val l = st.latestVersion(byFlagNet.name).getOrElse(
        sys.error(s"${byFlagNet.name} missing after netFeedView build"))
      st.changesNetBetween(byFlagNet.name, l - 2, l)
        .groupBy(col("change_type"), col("emit_key"))
        .agg(count(lit(1)).as("cnt"), round(sum("emit_value"), 2).as("sum_value"))
        .orderBy("change_type", "emit_key")
    }),

    // the SAME netted two-refresh history off the bucket-partitioned
    // layout: last-writer-wins netting over the bucketed sidecars must
    // produce the identical delta the flat store nets — one oracle
    // grades both layouts' net feeds
    "mapindex_bucketed_net_changefeed" -> ((s, dir) => {
      val store = netFeedBView(s, dir)
      store.changesNetBetween(byFlagNetB.name, 0, 2)
        .groupBy(col("change_type"), col("emit_key"))
        .agg(count(lit(1)).as("cnt"), round(sum("emit_value"), 2).as("sum_value"))
        .orderBy("change_type", "emit_key")
    }),

    // the aggregate view in the bucketed (100 TB) layout, read after the
    // same upsert+tombstone batch went through the partition-scoped
    // delta-merge path — same from-scratch oracle as mapindex_aggview, so
    // flat and bucketed maintenance must agree exactly
    "mapindex_bucketed_aggview" -> ((s, dir) =>
      bucketedAggView(s, dir).state
        .select(col("emit_key"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("sum_value"),
          col("min_value"), col("max_value"),
          round(col("sum_value").cast("double") / col("cnt"), 4).as("avg_value"))
        .orderBy("emit_key")),

    // the bucketed store's change feed over the same refresh: epoch 0 → 1
    // CDC sidecar read back, no snapshot diff — same exact-delta oracle as
    // the flat mapindex_changefeed
    "mapindex_bucketed_changefeed" -> ((s, dir) => {
      val v = bucketedAggView(s, dir) // materialize e0, then the refresh → e1
      v.store.changesBetween(byFlagAggB.name, 0, 1)
        .groupBy(col("change_type"), col("emit_key"))
        .agg(count(lit(1)).as("cnt"), round(sum("emit_value"), 2).as("sum_value"))
        .orderBy("change_type", "emit_key")
    }),

    // the AGGREGATE-state change feed (flat layout): each refresh's state
    // rewrite also persists delete-of-old / insert-of-new aggregate rows
    // per touched group — the update stream a downstream consumer of a
    // materialized aggregate replays. Oracle recomputes both the
    // pre-refresh and post-refresh state from scratch.
    "mapindex_agg_changefeed" -> ((s, dir) => {
      aggView(s, dir) // state v0 (build), then the refresh → v1 + sidecar
      // version-relative (Ls-1, Ls] — (0, 1] on a fresh store; see
      // mapindex_changefeed
      val st = Views.store(s, dir)
      val ls = st.latestVersion("lineitem_byflag_agg__state").getOrElse(
        sys.error("lineitem_byflag_agg__state missing after aggView build"))
      st.changesBetween("lineitem_byflag_agg__state", ls - 1, ls)
        .select(col("change_type"), col("emit_key"), col("cnt"),
          round(col("sum_value").cast("double"), 2).as("sum_value"),
          col("min_value"), col("max_value"))
        .orderBy("change_type", "emit_key")
    }),

    // the same aggregate update stream off the bucketed (100 TB) layout:
    // the state store's refresh writes its CDC sidecar like any bucketed
    // view, so aggregate deltas are replayable at scale too
    "mapindex_bucketed_agg_changefeed" -> ((s, dir) => {
      val v = bucketedAggView(s, dir)
      v.store.changesBetween("lineitem_byflag_agg_b__state", 0, 1)
        .select(col("change_type"), col("emit_key"),
          col("emit_value.cnt").as("cnt"),
          round(col("emit_value.sum_value").cast("double"), 2).as("sum_value"),
          col("emit_value.min_value").as("min_value"),
          col("emit_value.max_value").as("max_value"))
        .orderBy("change_type", "emit_key")
    }),

    // a view built ONLY through streaming micro-batches (bootstrap + two
    // incremental inserts + upsert/tombstone batch), read under the same
    // hash gate: the streaming write path must land byte-identical state
    // to a batch recompute of the modified source
    "mapindex_streaming_group" -> ((s, dir) =>
      streamView(s, dir).df
        .groupBy(col("emit_key"))
        .agg(round(sum("emit_value"), 2).as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("emit_key")),

    // the same micro-batch history through the bucketed streaming path:
    // per-batch partition-scoped rewrites must land the identical state
    "mapindex_bucketed_streaming_group" -> ((s, dir) =>
      bucketedStreamView(s, dir).df(byFlagStreamB.name)
        .groupBy(col("emit_key"))
        .agg(round(sum("emit_value"), 2).as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("emit_key")),

    // mixed-type (bytewise) key collation: one index whose emitted keys
    // span null/bool/number/string/array, stored as the order-preserving
    // binary encoding. The scan's rank column is row_number over the RAW
    // BYTE ORDER of the encoded keys; the oracle recomputes the same rank
    // from the SEMANTIC cross-type order (type class, then value) — a
    // hash match proves the encoding collates exactly like the
    // reference's bytewise keys (index.js:4,118)
    "mapindex_mixed_keys" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      mixedView(s, dir).df
        .groupBy(col("emit_key"))
        .agg(first(col("emit_value.key_type")).as("key_type"),
          first(col("emit_value.key_repr")).as("key_repr"),
          count(lit(1)).as("cnt"))
        // distinct-key relation is small; the single-partition window is
        // over grouped output, not the emission scan
        .withColumn("rank",
          row_number().over(Window.orderBy(col("emit_key"))).cast("long"))
        .select("rank", "key_type", "key_repr", "cnt")
        .orderBy("rank")
    }),

    // a downstream view caught up purely by replaying the upstream CDC
    // feed (bootstrap from v0, replay (0,1] — upstream never re-read):
    // must equal a from-scratch recompute of the modified source
    "mapindex_cascade_cdc" -> ((s, dir) =>
      cascadeCdcView(s, dir).df
        .groupBy(col("emit_key"))
        .agg(round(sum("emit_value"), 2).as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("emit_key")),
  )

  /** The exact-anchor tail of the quantile-sketch gates over a `src` CTE
    * of (`flag`, `v`): exact n and the p50/p95 anchors per flag (the
    * smallest value whose cumulative count reaches ceil(p·n); window sums
    * cast BIGINT, as DuckDB sums BIGINT into HUGEINT). The rank-bound
    * booleans are literal TRUE — Spark's arm computing them from the
    * sketch state must agree or the hash mismatches. */
  private val exactAnchorsSql =
    """vcounts AS (
      |  SELECT flag, v, count(*) AS cnt FROM src GROUP BY flag, v),
      |vcum AS (
      |  SELECT flag, v,
      |         CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY v) AS BIGINT) AS cum,
      |         CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n2
      |  FROM vcounts),
      |exact AS (
      |  SELECT flag, max(n2) AS n,
      |         min(CASE WHEN cum >= ceil(n2 / 2.0) THEN v END) AS x50,
      |         min(CASE WHEN cum >= ceil(n2 * 19 / 20.0) THEN v END) AS x95
      |  FROM vcum GROUP BY flag)
      |SELECT flag, n, round(x50, 2) AS exact_p50, round(x95, 2) AS exact_p95,
      |       true AS p50_within_rank, true AS p95_within_rank
      |FROM exact ORDER BY flag""".stripMargin

  // windowed maintained aggregate: from-scratch per-day GROUP BY over the
  // MODIFIED events table (the %37 +1 h shift moves events across day
  // boundaries — a slice that failed to retract or receive them
  // mismatches); shared by the batch-built and streamed twins
  private val windowedAggOracle: String =
    s"""WITH ${eventsSql("event_type", "value")}
       |SELECT CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS slice_start,
       |       event_type AS emit_key, count(*) AS cnt,
       |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
       |       round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
       |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val windowedSketchOracle: String =
    s"""WITH ${eventsSql("event_type AS flag", "v")},
       |sl AS (SELECT flag, v,
       |              CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS sl FROM e),
       |m AS (SELECT max(sl) AS mx FROM sl),
       |src AS (SELECT flag, v FROM sl, m WHERE sl >= mx - 6*86400),
       |$exactAnchorsSql""".stripMargin

  /** Exact distinct users per type over the trailing 7-day window of the
    * modified events, aliased `distinctAs`, then the literal `flag`. */
  private def windowedDistinctSql(distinctAs: String, flag: String): String =
    s"""WITH e AS (
       |  SELECT event_type AS emit_key,
       |         CASE WHEN event_id % 37 = 0 THEN ts + INTERVAL 1 HOUR
       |              ELSE ts END AS ts,
       |         user_id
       |  FROM events WHERE event_id % 41 <> 0),
       |s AS (SELECT emit_key, user_id,
       |             CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS sl FROM e),
       |m AS (SELECT max(sl) AS mx FROM s)
       |SELECT emit_key, count(DISTINCT user_id) AS $distinctAs,
       |       $flag
       |FROM s, m WHERE sl >= mx - 6*86400
       |GROUP BY emit_key ORDER BY emit_key""".stripMargin

  /** The net change between the CTEs `before` and `after` (bag
    * difference: rows only before are deletes, rows only after are
    * inserts), each row headed by `cols`, ordered by `key`. */
  private def netDiffSql(cols: String, key: String): String =
    s"""SELECT $cols'delete' AS change_type
       |FROM (SELECT * FROM before EXCEPT ALL SELECT * FROM after)
       |UNION ALL
       |SELECT $cols'insert' AS change_type
       |FROM (SELECT * FROM after EXCEPT ALL SELECT * FROM before)
       |ORDER BY change_type, $key""".stripMargin

  /** The segment × priority lattice of `o` `join` `c`, grouped by
    * `grouping`, with `gid` rebuilt from GROUPING() in the engine's bit
    * layout; `measures` follow `cnt`. */
  private def latticeSql(join: String, measures: String, grouping: String = "ROLLUP"): String =
    s"""SELECT CAST(GROUPING(c_mktsegment) + 2 * GROUPING(o_orderpriority)
       |            AS INTEGER) AS gid,
       |       c_mktsegment, o_orderpriority, count(*) AS cnt,
       |$measures
       |FROM o $join c ON o_custkey = c_custkey
       |GROUP BY $grouping(c_mktsegment, o_orderpriority)
       |ORDER BY gid, c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin
  // the rollup measures on the DECIMAL(18,4) spelling the engine's sum
  // and refcount states key on
  private val revenueSql =
    """       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)
      |         AS revenue""".stripMargin
  private val acctbalSql =
    """       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2)
      |         AS acctbal""".stripMargin
  private val measuresSql =
    s"""       count(o_totalprice) AS n_price,
       |$revenueSql,
       |       count(c_acctbal) AS n_acct,
       |$acctbalSql""".stripMargin
  private val priceSpreadSql =
    """       round(CAST(min(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)
      |         AS min_price,
      |       round(CAST(max(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)
      |         AS max_price,
      |       count(DISTINCT CAST(o_totalprice AS DECIMAL(18,4))) AS n_distinct""".stripMargin

  private val oracleBase: Map[String, String] = Map(
    // the from-scratch join of both MODIFIED base tables
    "mapindex_joinview" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey")},
         |${customerSql("c_custkey, c_name")}
         |SELECT o_orderkey, o_custkey, c_name,
         |       round(o_totalprice, 2) AS o_totalprice,
         |       round(c_acctbal, 2) AS c_acctbal
         |FROM o JOIN c ON o_custkey = c_custkey
         |ORDER BY o_orderkey""".stripMargin,
    // net CDC = from-scratch diff of the post-batch join vs the original
    "mapindex_joinview_changefeed" ->
      s"""WITH before AS (
         |  SELECT o_orderkey, o_custkey,
         |         round(o_totalprice, 2) AS o_totalprice,
         |         round(c_acctbal, 2) AS c_acctbal
         |  FROM orders JOIN customer ON o_custkey = c_custkey),
         |${ordersSql("o_orderkey, o_custkey")},
         |${customerSql("c_custkey")},
         |after AS (
         |  SELECT o_orderkey, o_custkey,
         |         round(o_totalprice, 2) AS o_totalprice,
         |         round(c_acctbal, 2) AS c_acctbal
         |  FROM o JOIN c ON o_custkey = c_custkey)
         |${netDiffSql("o_orderkey, o_custkey, o_totalprice, c_acctbal,\n       ", "o_orderkey")}""".stripMargin,
    // the from-scratch LEFT JOIN of both modified tables: %17-tombstoned
    // customers' surviving orders appear null-padded
    "mapindex_joinview_outer" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey")},
         |${customerSql("c_custkey, c_name")}
         |SELECT o_orderkey, o_custkey, c_name,
         |       round(o_totalprice, 2) AS o_totalprice,
         |       round(c_acctbal, 2) AS c_acctbal
         |FROM o LEFT JOIN c ON o_custkey = c_custkey
         |ORDER BY o_orderkey""".stripMargin,
    // the from-scratch FULL JOIN of both modified tables: left-pads for
    // orders of tombstoned customers, right-pads for the %19 customers
    // whose orders the left batch tombstoned wholesale
    "mapindex_joinview_full" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey", orphan = true)},
         |${customerSql("c_custkey, c_name")}
         |SELECT o_orderkey, o_custkey, c_custkey, c_name,
         |       round(o_totalprice, 2) AS o_totalprice,
         |       round(c_acctbal, 2) AS c_acctbal
         |FROM o FULL JOIN c ON o_custkey = c_custkey
         |ORDER BY o_orderkey NULLS FIRST, c_custkey NULLS FIRST""".stripMargin,
    // the from-scratch RIGHT JOIN of both modified tables: right-pads
    // for the %19 customers whose orders the left batch tombstoned
    // wholesale, NO left-pads
    "mapindex_joinview_right" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey", orphan = true)},
         |${customerSql("c_custkey, c_name")}
         |SELECT o_orderkey, o_custkey, c_custkey, c_name,
         |       round(o_totalprice, 2) AS o_totalprice,
         |       round(c_acctbal, 2) AS c_acctbal
         |FROM o RIGHT JOIN c ON o_custkey = c_custkey
         |ORDER BY o_orderkey NULLS FIRST, c_custkey""".stripMargin,
    // FULL JOIN then GROUP BY recomputed from scratch: the NULL segment
    // collects left-pads (orders of tombstoned customers), right-pads
    // count into their real segment with a null (sum-invisible) value
    "mapindex_joinview_full_agg" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey", orphan = true)},
         |${customerSql("c_custkey, c_mktsegment", rebalance = false)}
         |SELECT c_mktsegment, count(*) AS cnt,
         |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
         |FROM o FULL JOIN c ON o_custkey = c_custkey
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    // the maintained rollup must equal join-then-group-by on both
    // modified tables, recomputed from scratch
    "mapindex_joinview_agg" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority")},
         |c AS (
         |  SELECT c_custkey FROM customer WHERE c_custkey % 17 <> 0)
         |SELECT o_orderpriority, count(*) AS cnt,
         |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
         |FROM o JOIN c ON o_custkey = c_custkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // all six aggregates recomputed from scratch; min/max/distinct run
    // over the same DECIMAL(18,4) spelling the refcount state keys on
    "mapindex_joinview_agg_multi" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority")},
         |c AS (
         |  SELECT c_custkey FROM customer WHERE c_custkey % 17 <> 0)
         |SELECT o_orderpriority, count(*) AS cnt,
         |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
         |       round(CAST(min(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS min_price,
         |       round(CAST(max(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS max_price,
         |       count(DISTINCT CAST(o_totalprice AS DECIMAL(18,4))) AS n_distinct
         |FROM o JOIN c ON o_custkey = c_custkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the multi-measure rollup: both sums + both non-null counts from
    // the from-scratch LEFT JOIN of both modified tables (the NULL
    // segment's acctbal sum is SQL-NULL, its revenue a number)
    "mapindex_joinview_agg_measures" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey")},
         |${customerSql("c_custkey, c_mktsegment")}
         |SELECT c_mktsegment, count(*) AS cnt,
         |$measuresSql
         |FROM o LEFT JOIN c ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    // multi-measure rollup as-of the inter-batch epoch: modified orders
    // LEFT JOIN original customers, all five aggregates from scratch
    "mapindex_joinview_agg_measures_asof" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey")}
         |SELECT c_mktsegment, count(*) AS cnt,
         |$measuresSql
         |FROM o LEFT JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    // the measures lattice's full multi-aggregate surface: ROLLUP of
    // the from-scratch FULL JOIN with cnt, both sums, and the first
    // measure's min/max/distinct-count (DECIMAL(18,4) spelling — the
    // refcount state's key domain)
    "mapindex_lattice_measures_multi" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority", orphan = true)},
         |${customerSql("c_custkey, c_mktsegment")}
         |${latticeSql("FULL JOIN", s"$revenueSql,\n$acctbalSql,\n$priceSpreadSql")}""".stripMargin,
    // the streamed Q1 twin converges to the batch-built state
    "mapindex_q1_measures_streamed" ->
      """WITH li AS (
        |  SELECT CASE WHEN l_orderkey % 97 = 0 THEN 'X'
        |              ELSE l_returnflag END AS l_returnflag,
        |         l_linestatus, l_orderkey, l_quantity, l_extendedprice,
        |         l_discount, l_tax
        |  FROM lineitem WHERE l_orderkey % 89 <> 0),
        |o AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 41 <> 0)
        |SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2)
        |         AS sum_qty,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2)
        |         AS sum_base,
        |       round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 2)
        |         AS sum_disc,
        |       round(CAST(sum(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE), 2)
        |         AS sum_tax
        |FROM li
        |WHERE EXISTS (SELECT 1 FROM o WHERE o.o_orderkey = li.l_orderkey)
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // the multi-measure FULL-OUTER lattice: ROLLUP of the from-scratch
    // FULL JOIN with both sums and both non-null counts per set
    "mapindex_lattice_measures" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority", orphan = true)},
         |${customerSql("c_custkey, c_mktsegment")}
         |${latticeSql("FULL JOIN", measuresSql)}""".stripMargin,
    // semi-over-join cascade: the from-scratch join of both modified
    // tables under the surviving-priority EXISTS
    "mapindex_joinview_semiview_cascade" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority")},
         |${customerSql("c_custkey, c_mktsegment")}
         |SELECT o_orderkey, o_custkey, o_orderpriority,
         |       round(o_totalprice, 2) AS o_totalprice,
         |       round(c_acctbal, 2) AS c_acctbal, c_mktsegment
         |FROM o JOIN c ON o_custkey = c_custkey
         |WHERE CAST(substr(o_orderpriority, 1, 1) AS INT) % 5 <> 0
         |ORDER BY o_orderkey""".stripMargin,
    // the depth-2 rollup equals the from-scratch three-way join+group-by
    "mapindex_joinview3_agg" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey")},
         |${customerSql("c_custkey, c_nationkey", rebalance = false)},
         |$nationSql
         |SELECT n_name, count(*) AS cnt,
         |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
         |FROM o JOIN c ON o_custkey = c_custkey
         |       JOIN n ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // rollup as-of the inter-batch epoch: modified orders ⋈ ORIGINAL
    // customers, grouped from scratch
    "mapindex_joinview_agg_asof" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority")}
         |SELECT o_orderpriority, count(*) AS cnt,
         |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
         |FROM o JOIN customer ON o_custkey = c_custkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the from-scratch THREE-WAY join of all three modified tables
    // as-of IVM: the oracle recomputes each purchase's backward argmax
    // (greatest ts <= purchase ts, ties to the greatest click id) from
    // both modified tables with a correlated subquery
    "mapindex_asofjoinview" ->
      s"""WITH $purchaseClickSql
         |SELECT a.a_id, a.a_user, round(a.a_value, 2) AS a_value,
         |${asOfPickSql(backwardPick(tol = false))}
         |FROM p a ORDER BY a.a_id""".stripMargin,
    // as-of-over-join cascade: enrichment + per-row argmax, all three
    // relations modified, from scratch
    "mapindex_joinview_asofview_cascade" ->
      s"""WITH $purchaseClickSql,
         |$userDimSql,
         |e AS (
         |  SELECT p.a_id, p.a_user, p.a_ts, p.a_value, d.u_events
         |  FROM p JOIN d ON p.a_user = d.u_id)
         |SELECT e.a_id, e.a_user, round(e.a_value, 2) AS a_value, e.u_events,
         |${asOfPickSql(backwardPick(tol = false), p = "e")}
         |FROM e ORDER BY e.a_id""".stripMargin,
    // the salted right-keyed twin: identical semantics, shard layout
    // invisible — same oracle as the unsalted twin
    "mapindex_asofjoinview_byright_salted" ->
      s"""WITH $purchaseClickSql,
         |m AS (
         |${asOfRowsSql("p", "c")}
         |SELECT a_id, a_user, a_value, b_id, b_value
         |FROM m WHERE b_id IS NOT NULL AND b_id % 7 = 3
         |ORDER BY a_id""".stripMargin,
    // net as-of CDC = diff of the post-batch as-of join vs build-time
    "mapindex_asofjoinview_changefeed" ->
      s"""WITH p0 AS (
         |  SELECT event_id AS a_id, user_id AS a_user, ts AS a_ts, value AS a_value
         |  FROM events WHERE event_type = 'purchase'),
         |c0 AS (
         |  SELECT event_id AS b_id, user_id AS b_user, ts AS b_ts, value AS b_value
         |  FROM events WHERE event_type = 'click'),
         |before AS (
         |${asOfRowsSql("p0", "c0")},
         |p AS (
         |  SELECT a_id, a_user,
         |         CASE WHEN a_id % 37 = 0 THEN a_ts + INTERVAL 1 HOUR
         |              ELSE a_ts END AS a_ts,
         |         CASE WHEN a_id % 37 = 0 THEN a_value + 1000
         |              ELSE a_value END AS a_value
         |  FROM p0 WHERE a_id % 41 <> 0),
         |c AS (
         |  SELECT b_id, b_user,
         |         CASE WHEN b_id % 13 = 0 THEN b_ts + INTERVAL 30 MINUTE
         |              ELSE b_ts END AS b_ts,
         |         CASE WHEN b_id % 13 = 0 THEN b_value + 100
         |              ELSE b_value END AS b_value
         |  FROM c0 WHERE b_id % 17 <> 0),
         |after AS (
         |${asOfRowsSql("p", "c")}
         |${netDiffSql("a_id, a_user, a_value, b_id, b_value, ", "a_id")}""".stripMargin,
    // forward maintained as-of: least ts >= purchase ts, ties to least id
    "mapindex_asofjoinview_fwd" ->
      s"""WITH $purchaseClickSql
         |SELECT a.a_id, a.a_user, round(a.a_value, 2) AS a_value,
         |${asOfPickSql(forwardPick)}
         |FROM p a ORDER BY a.a_id""".stripMargin,
    // tolerance maintained as-of: backward pick bounded to one hour
    "mapindex_asofjoinview_tol" ->
      s"""WITH $purchaseClickSql
         |SELECT a.a_id, a.a_user, round(a.a_value, 2) AS a_value,
         |${asOfPickSql(backwardPick(tol = true))}
         |FROM p a ORDER BY a.a_id""".stripMargin,
    // multi-aggregate attribution: all five recomputed from scratch
    "mapindex_asofjoinview_agg_multi" ->
      s"""WITH $purchaseClickSql,
         |m AS (
         |  SELECT a.a_value,
         |${asOfPickSql(backwardPick(tol = false), ind = "    ", value = false)}
         |  FROM p a)
         |SELECT CAST(b_id AS VARCHAR) AS b_id, count(*) AS cnt,
         |       round(CAST(sum(CAST(a_value AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
         |       round(CAST(min(CAST(a_value AS DECIMAL(18,4))) AS DOUBLE), 2) AS min_rev,
         |       round(CAST(max(CAST(a_value AS DECIMAL(18,4))) AS DOUBLE), 2) AS max_rev,
         |       count(DISTINCT CAST(a_value AS DECIMAL(18,4))) AS n_distinct
         |FROM m GROUP BY 1
         |ORDER BY b_id NULLS FIRST""".stripMargin,
    // lattice time travel: epoch 1 = modified orders x ORIGINAL customers
    "mapindex_lattice_asof" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority")},
         |c AS (SELECT c_custkey, c_mktsegment FROM customer)
         |${latticeSql("JOIN", revenueSql)}""".stripMargin,
    // attribution rollup: match per purchase, then group by the matched
    // click (NULL = unattributed), both recomputed from scratch
    "mapindex_asofjoinview_agg" ->
      s"""WITH $purchaseClickSql,
         |m AS (
         |  SELECT a.a_value,
         |${asOfPickSql(backwardPick(tol = false), ind = "    ", value = false)}
         |  FROM p a)
         |SELECT CAST(b_id AS VARCHAR) AS b_id, count(*) AS cnt,
         |       round(CAST(sum(CAST(a_value AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
         |FROM m GROUP BY 1
         |ORDER BY b_id NULLS FIRST""".stripMargin,
    // nearest as-of within 1 h: bounded argmin |dt| per purchase,
    // distance ties backward (then the side's own pk rule) — epoch_us
    // arithmetic matches the engine's microsecond read granularity
    "mapindex_asofjoinview_nearest" ->
      s"""WITH $purchaseClickSql
         |SELECT a.a_id, a.a_user, round(a.a_value, 2) AS a_value,
         |${asOfPickSql(nearestPick)}
         |FROM p a ORDER BY a.a_id""".stripMargin,
    // composite-key join: the from-scratch TWO-column-ON join of the
    // modified orders against the modified derived dim
    "mapindex_joinview_composite" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderstatus")},
         |d0 AS (
         |  SELECT o_custkey AS d_custkey, o_orderstatus AS d_status,
         |         count(*) AS d_cnt
         |  FROM orders GROUP BY 1, 2),
         |d AS (
         |  SELECT d_custkey, d_status,
         |         CASE WHEN d_custkey % 13 = 0 THEN d_cnt + 5 ELSE d_cnt END AS d_cnt
         |  FROM d0 WHERE d_custkey % 17 <> 0)
         |SELECT o_orderkey, o_custkey, o_orderstatus,
         |       round(o_totalprice, 2) AS o_totalprice, d_cnt
         |FROM o JOIN d ON o_custkey = d_custkey AND o_orderstatus = d_status
         |ORDER BY o_orderkey""".stripMargin,
    // the multi-aggregate lattice: ROLLUP with min/max/count(DISTINCT)
    // recomputed from scratch over both modified tables, on the same
    // DECIMAL(18,4) spelling the refcount state keys on
    "mapindex_lattice_multi" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority")},
         |${customerSql("c_custkey, c_mktsegment", rebalance = false)}
         |${latticeSql("JOIN", s"$revenueSql,\n$priceSpreadSql")}""".stripMargin,
    // rollup over the anti view: NOT EXISTS + group-by from scratch
    "mapindex_antiview_agg" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority")},
         |$customerKeysSql
         |SELECT o_orderpriority, count(*) AS cnt,
         |$revenueSql
         |FROM o WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.c_custkey = o.o_custkey)
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    // generic cascade: EXISTS membership + the priority-dim join, all
    // three relations modified, from scratch
    "mapindex_semiview_cascade" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority")},
         |$customerKeysSql,
         |d0 AS (
         |  SELECT o_orderpriority AS p_name, count(*) AS p_cnt
         |  FROM orders GROUP BY 1),
         |d AS (
         |  SELECT p_name,
         |         CASE WHEN CAST(substr(p_name, 1, 1) AS INT) % 2 = 1
         |              THEN p_cnt + 7 ELSE p_cnt END AS p_cnt
         |  FROM d0 WHERE CAST(substr(p_name, 1, 1) AS INT) % 5 <> 0)
         |SELECT o_orderkey, o_custkey, o_orderpriority,
         |       round(o_totalprice, 2) AS o_totalprice, p_cnt
         |FROM o JOIN d ON o_orderpriority = p_name
         |WHERE EXISTS (SELECT 1 FROM c WHERE c.c_custkey = o.o_custkey)
         |ORDER BY o_orderkey""".stripMargin,
    // as-of cascade: per-purchase argmax + user-dim join, all three
    // relations modified, from scratch
    "mapindex_asofjoinview_cascade" ->
      s"""WITH $purchaseClickSql,
         |m AS (
         |${asOfRowsSql("p", "c")},
         |$userDimSql
         |SELECT m.a_id, m.a_user, m.a_value, m.b_id, m.b_value, d.u_events
         |FROM m JOIN d ON m.a_user = d.u_id
         |ORDER BY m.a_id""".stripMargin,
    // rollup over the semi view: EXISTS filter + group-by from scratch
    "mapindex_semiview_agg" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority")},
         |$customerKeysSql
         |SELECT o_orderpriority, count(*) AS cnt,
         |$revenueSql
         |FROM o WHERE EXISTS (SELECT 1 FROM c WHERE c.c_custkey = o.o_custkey)
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    // lattice over the full-outer view: ROLLUP of the from-scratch FULL
    // JOIN (genuine null groups from pads, sum-invisible right-pads)
    "mapindex_lattice_full" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority", orphan = true)},
         |${customerSql("c_custkey, c_mktsegment", rebalance = false)}
         |${latticeSql("FULL JOIN", revenueSql)}""".stripMargin,
    // streamed lattice converges to the batch-built lattice's oracle
    "mapindex_lattice_streamed" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority")},
         |${customerSql("c_custkey, c_mktsegment", rebalance = false)}
         |${latticeSql("JOIN", revenueSql)}""".stripMargin,
    // semi/anti IVM: from-scratch EXISTS / NOT EXISTS on modified tables
    "mapindex_semiview" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey")},
         |$customerKeysSql
         |SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
         |FROM o WHERE EXISTS (SELECT 1 FROM c WHERE c.c_custkey = o.o_custkey)
         |ORDER BY o_orderkey""".stripMargin,
    "mapindex_antiview" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey")},
         |$customerKeysSql
         |SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
         |FROM o WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.c_custkey = o.o_custkey)
         |ORDER BY o_orderkey""".stripMargin,
    "mapindex_joinview_cube_lattice" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey, o_orderpriority")},
         |${customerSql("c_custkey, c_mktsegment", rebalance = false)}
         |${latticeSql("JOIN", revenueSql, grouping = "CUBE")}""".stripMargin,
    "mapindex_joinview3" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey")},
         |${customerSql("c_custkey, c_name, c_nationkey", rebalance = false)},
         |$nationSql
         |SELECT o_orderkey, o_custkey, c_name, n_name,
         |       round(o_totalprice, 2) AS o_totalprice
         |FROM o JOIN c ON o_custkey = c_custkey
         |       JOIN n ON c_nationkey = n_nationkey
         |ORDER BY o_orderkey""".stripMargin,
    // the inter-refresh epoch = modified orders ⋈ original customers
    "mapindex_joinview_asof" ->
      s"""WITH ${ordersSql("o_orderkey, o_custkey")}
         |SELECT o_orderkey, o_custkey, c_name,
         |       round(o_totalprice, 2) AS o_totalprice,
         |       round(c_acctbal, 2) AS c_acctbal
         |FROM o JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_orderkey""".stripMargin,
    // windowed maintained aggregate: from-scratch per-day GROUP BY over the
    // MODIFIED events table (the %37 +1 h shift moves events across day
    // boundaries — a slice that failed to retract or receive them mismatches)
    "mapindex_windowed_agg" -> windowedAggOracle,
    // the streamed twin converges to the same state — same oracle
    "mapindex_windowed_agg_streamed" -> windowedAggOracle,
    "mapindex_windowed_agg_window" ->
      s"""WITH ${eventsSql("event_type", "value")},
         |s AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS sl,
         |             event_type, value FROM e),
         |m AS (SELECT max(sl) AS mx FROM s)
         |SELECT event_type AS emit_key, count(*) AS cnt,
         |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
         |       round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
         |FROM s, m WHERE sl >= mx - 6*86400 AND sl < mx + 86400
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "mapindex_windowed_agg_evict" ->
      s"""WITH ${eventsSql("event_type", "value")},
         |s AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS sl,
         |             event_type, value FROM e),
         |b AS (SELECT min(sl) + 3*86400 AS bd FROM s)
         |SELECT sl AS slice_start, event_type AS emit_key, count(*) AS cnt,
         |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
         |       round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
         |FROM s, b WHERE sl >= bd
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // one group's per-day series off the modified table
    "mapindex_windowed_history" ->
      s"""WITH ${eventsSql("event_type", "value")}
         |SELECT CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS slice_start,
         |       count(*) AS cnt,
         |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
         |       round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
         |FROM e WHERE event_type = 'purchase'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // slice time travel: the oldest modified-table day recomputed from
    // the ORIGINAL table (no CASE, no delete filter) — what v0 held
    "mapindex_windowed_agg_sliceasof" ->
      """WITH e AS (
        |  SELECT CASE WHEN event_id % 37 = 0 THEN ts + INTERVAL 1 HOUR
        |              ELSE ts END AS ts
        |  FROM events WHERE event_id % 41 <> 0),
        |m AS (SELECT min(CAST(floor(epoch(ts)/86400) AS BIGINT)*86400) AS s0 FROM e),
        |o AS (SELECT event_type, value,
        |             CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS sl FROM events)
        |SELECT event_type AS emit_key, count(*) AS cnt,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
        |       round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
        |FROM o, m WHERE o.sl = m.s0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // windowed changefeed: symmetric diff of the oldest day's original
    // vs modified per-type aggregates
    "mapindex_windowed_changefeed" ->
      """WITH em AS (
        |  SELECT CASE WHEN event_id % 37 = 0 THEN ts + INTERVAL 1 HOUR
        |              ELSE ts END AS ts,
        |         CASE WHEN event_id % 37 = 0 THEN value + 1000
        |              ELSE value END AS value,
        |         event_type
        |  FROM events WHERE event_id % 41 <> 0),
        |m AS (SELECT min(CAST(floor(epoch(ts)/86400) AS BIGINT)*86400) AS s0 FROM em),
        |orig AS (
        |  SELECT event_type AS emit_key, count(*) AS cnt,
        |         round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
        |         round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
        |  FROM events, m
        |  WHERE CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 = s0 GROUP BY 1),
        |modd AS (
        |  SELECT event_type AS emit_key, count(*) AS cnt,
        |         round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
        |         round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
        |  FROM em, m
        |  WHERE CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 = s0 GROUP BY 1)
        |SELECT *, 'delete' AS change_type FROM (SELECT * FROM orig EXCEPT SELECT * FROM modd)
        |UNION ALL
        |SELECT *, 'insert' AS change_type FROM (SELECT * FROM modd EXCEPT SELECT * FROM orig)
        |ORDER BY change_type, emit_key""".stripMargin,
    // windowed-over-join: from-scratch join of both modified tables,
    // grouped per 90-day slice and segment
    "mapindex_windowed_joinfeed" ->
      s"""WITH ${ordersSql("o_custkey, o_orderdate")},
         |${customerSql("c_custkey, c_mktsegment", rebalance = false)},
         |j AS (
         |  SELECT (CAST(epoch(o_orderdate) AS BIGINT) // 7776000) * 7776000 AS slice_start,
         |         c_mktsegment AS emit_key, o_totalprice
         |  FROM o JOIN c ON o_custkey = c_custkey)
         |SELECT slice_start, emit_key, count(*) AS cnt,
         |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // windowed distinct: DuckDB's exact COUNT(DISTINCT) over the trailing
    // window of the modified table; the KMV serve is in its exact regime
    // at k=1024, so the estimate and the estimated=false flag both hash
    "mapindex_windowed_distinct" -> windowedDistinctSql("distinct_users", "false AS estimated"),
    // orders windowed rollup: two-tier recompute on the 90d/360d grids
    "mapindex_windowed_orders" ->
      s"""WITH ${ordersSql("o_orderpriority, o_orderdate")},
         |f AS (SELECT o_orderpriority, o_totalprice,
         |             (CAST(floor(epoch(o_orderdate)/86400) AS BIGINT)*86400
         |               // 7776000) * 7776000 AS fsl FROM o),
         |b AS (SELECT ((min(fsl) + 1600*86400) // 31104000) * 31104000 AS bd FROM f),
         |s AS (SELECT CASE WHEN fsl >= bd THEN fsl
         |                  ELSE (fsl // 31104000) * 31104000 END AS slice_start,
         |             CAST(CASE WHEN fsl >= bd THEN 7776000
         |                       ELSE 31104000 END AS BIGINT) AS slice_w,
         |             o_orderpriority, o_totalprice
         |      FROM f, b)
         |SELECT slice_start, slice_w, o_orderpriority AS emit_key, count(*) AS cnt,
         |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
         |       round(min(o_totalprice), 2) AS min_value,
         |       round(max(o_totalprice), 2) AS max_value
         |FROM s GROUP BY 1, 2, 3 ORDER BY slice_start, emit_key""".stripMargin,
    // windowed frequent buckets: the exact frequent set over the
    // trailing window of the modified table, threshold total/8
    "mapindex_windowed_topfreq" ->
      """WITH e AS (
        |  SELECT event_type AS emit_key,
        |         CASE WHEN event_id % 37 = 0 THEN ts + INTERVAL 1 HOUR
        |              ELSE ts END AS ts,
        |         CAST(floor((CASE WHEN event_id % 37 = 0 THEN value + 1000
        |                          ELSE value END) / 50) AS BIGINT) AS bucket
        |  FROM events WHERE event_id % 41 <> 0),
        |s AS (SELECT emit_key, bucket,
        |             CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS sl FROM e),
        |m AS (SELECT max(sl) AS mx FROM s),
        |w AS (SELECT emit_key, bucket FROM s, m WHERE sl >= mx - 6*86400),
        |c AS (SELECT emit_key, bucket, count(*) AS cnt FROM w GROUP BY 1, 2),
        |t AS (SELECT emit_key, count(*) AS total FROM w GROUP BY 1)
        |SELECT c.emit_key, c.bucket, c.cnt, t.total AS win_n
        |FROM c JOIN t USING (emit_key)
        |WHERE c.cnt > t.total/8.0
        |ORDER BY c.emit_key, c.bucket""".stripMargin,
    "mapindex_windowed_distinct_est" -> windowedDistinctSql("exact_distinct", "true AS within_bound"),
    // rollup aging: the two-tier recompute — fine slices at/above the
    // snapped boundary, 7-day coarse slices below it, width in the hash
    "mapindex_windowed_agg_coarse" ->
      s"""WITH ${eventsSql("event_type", "value")},
         |f AS (SELECT event_type, value,
         |             CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS fsl FROM e),
         |b AS (SELECT ((min(fsl) + 21*86400) // 604800) * 604800 AS bd FROM f),
         |s AS (SELECT CASE WHEN fsl >= bd THEN fsl
         |                  ELSE (fsl // 604800) * 604800 END AS slice_start,
         |             CAST(CASE WHEN fsl >= bd THEN 86400
         |                       ELSE 604800 END AS BIGINT) AS slice_w,
         |             event_type, value
         |      FROM f, b)
         |SELECT slice_start, slice_w, event_type AS emit_key, count(*) AS cnt,
         |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
         |       round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
         |FROM s GROUP BY 1, 2, 3 ORDER BY slice_start, emit_key""".stripMargin,
    // coarse sketch serve: anchors over the WHOLE modified corpus per
    // type (both tiers merged into one sketch per group)
    "mapindex_windowed_sketch_coarse" ->
      s"""WITH src AS (
         |  SELECT event_type AS flag,
         |         CASE WHEN event_id % 37 = 0 THEN value + 1000
         |              ELSE value END AS v
         |  FROM events WHERE event_id % 41 <> 0),
         |$exactAnchorsSql""".stripMargin,
    // windowed sketch: exact anchors over the trailing-7-day window of
    // the modified events, per type; rank-bound booleans literal true —
    // shared by the batch-built and streamed twins
    "mapindex_windowed_sketch" -> windowedSketchOracle,
    "mapindex_windowed_sketch_streamed" -> windowedSketchOracle,
    "mapindex_group" ->
      """SELECT l_returnflag AS emit_key, round(sum(l_extendedprice), 2) AS sum_value,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY emit_key""".stripMargin,
    "mapindex_grouplist" ->
      """SELECT l_returnflag AS emit_key,
        |       array_to_string(list_transform(
        |         list(l_extendedprice ORDER BY l_extendedprice),
        |         x -> CAST(CAST(x AS DECIMAL(12,2)) AS VARCHAR)), ',') AS vals
        |FROM lineitem GROUP BY l_returnflag ORDER BY emit_key""".stripMargin,
    "mapindex_get" ->
      """SELECT l_extendedprice AS emit_value FROM lineitem
        |WHERE l_returnflag = 'R' ORDER BY emit_value""".stripMargin,
    "mapindex_scan" ->
      """SELECT l_returnflag AS emit_key, l_extendedprice AS emit_value
        |FROM lineitem WHERE l_returnflag >= 'A' AND l_returnflag < 'N'
        |ORDER BY emit_key, emit_value""".stripMargin,
    "mapindex_count" ->
      "SELECT count(*) AS cnt FROM lineitem WHERE l_returnflag >= 'N'",
    "mapindex_json_values" ->
      """SELECT event_type AS emit_key, count(*) AS cnt,
        |       round(sum(value), 2) AS sum_value,
        |       count(DISTINCT user_id) AS users
        |FROM events GROUP BY event_type ORDER BY emit_key""".stripMargin,
    "mapindex_prefix" ->
      """SELECT event_type AS emit_key, count(*) AS cnt
        |FROM events WHERE event_type LIKE 'p%'
        |GROUP BY 1 ORDER BY emit_key""".stripMargin,
    // the refreshed range-layout view: the same modified-source recompute
    // the flat aggview and hash-bucketed reads are graded against
    "mapindex_rangebucketed_group" ->
      s"""WITH ${lineitemSql("emit_key", "l_extendedprice AS v")}
         |SELECT emit_key, round(sum(v), 2) AS sum_value, count(*) AS cnt
         |FROM src GROUP BY 1 ORDER BY emit_key""".stripMargin,
    // the feed across the compaction epoch equals the refresh delta
    // alone, recomputed from scratch: deletes = every old emission of a
    // changed source key (re-flagged or tombstoned), inserts = the
    // re-flagged keys' new emissions
    "mapindex_compacted_changefeed" ->
      """WITH del AS (
        |  SELECT l_returnflag AS emit_key, l_extendedprice AS v FROM lineitem
        |  WHERE l_orderkey % 89 = 0 OR (l_orderkey % 97 = 0 AND l_orderkey % 89 <> 0)),
        |ins AS (
        |  SELECT 'X' AS emit_key, l_extendedprice AS v FROM lineitem
        |  WHERE l_orderkey % 97 = 0 AND l_orderkey % 89 <> 0)
        |SELECT 'delete' AS change_type, emit_key, count(*) AS cnt,
        |       round(sum(v), 2) AS sum_value
        |FROM del GROUP BY 2
        |UNION ALL
        |SELECT 'insert' AS change_type, emit_key, count(*) AS cnt,
        |       round(sum(v), 2) AS sum_value
        |FROM ins GROUP BY 2
        |ORDER BY change_type, emit_key""".stripMargin,
    "mapindex_split_get" ->
      s"""WITH ${lineitemSql("emit_key", "l_extendedprice AS v")}
         |SELECT v AS emit_value FROM src WHERE emit_key = 'R'
         |ORDER BY emit_value""".stripMargin,
    // pre-refresh aggregate state recomputed from the unmodified source
    "mapindex_bucketed_agg_asof" ->
      """SELECT l_returnflag AS emit_key, count(*) AS cnt,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
        |       min(l_extendedprice) AS min_value, max(l_extendedprice) AS max_value
        |FROM lineitem GROUP BY 1 ORDER BY emit_key""".stripMargin,
    "mapindex_cascade" ->
      """SELECT l_orderkey % 10 AS bucket,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_rev,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,
    // from-scratch recompute of the incrementally-maintained state: the
    // same re-flag/%97 upsert and %89 tombstone batch applied as plain SQL
    // the bucketed layout must land the identical distinct counts
    "mapindex_bucketed_distinct_view" ->
      s"""WITH ${lineitemSql("flag", "l_extendedprice AS v")}
         |SELECT flag, count(DISTINCT v) AS n_distinct
         |FROM src GROUP BY flag ORDER BY flag""".stripMargin,
    // maintained p50/p95: the identical discrete-quantile definition
    // (smallest value whose cumulative count reaches ceil(p·n)),
    // recomputed from the modified corpus from scratch — window sums
    // cast to BIGINT (DuckDB sums BIGINT into HUGEINT)
    "mapindex_percentile_view" ->
      s"""WITH ${lineitemSql("flag", "CAST(l_quantity AS INTEGER) AS qty")},
         |counts AS (
         |  SELECT flag, qty, count(*) AS cnt FROM src GROUP BY flag, qty),
         |cum AS (
         |  SELECT flag, qty,
         |         CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY qty) AS BIGINT) AS cum,
         |         CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
         |  FROM counts)
         |SELECT flag,
         |       min(CASE WHEN cum >= ceil(n / 2.0) THEN qty END) AS p50,
         |       min(CASE WHEN cum >= ceil(n * 19 / 20.0) THEN qty END) AS p95,
         |       max(n) AS n
         |FROM cum GROUP BY flag ORDER BY flag""".stripMargin,
    // grid estimates, exact anchors and the grid bound all recomputed
    // from the modified corpus; window sums cast BIGINT (DuckDB HUGEINT)
    "mapindex_percentile_cont" ->
      s"""WITH ${lineitemSql("flag", "l_extendedprice AS v")},
         |bcounts AS (
         |  SELECT flag, CAST(floor(v / 100) AS BIGINT) AS b, count(*) AS cnt
         |  FROM src GROUP BY flag, b),
         |bcum AS (
         |  SELECT flag, b,
         |         CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY b) AS BIGINT) AS cum,
         |         CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
         |  FROM bcounts),
         |est AS (
         |  SELECT flag, max(n) AS n,
         |         CAST(min(CASE WHEN cum >= ceil(n / 2.0) THEN b END) * 100 AS DOUBLE) AS p50_lo,
         |         CAST(min(CASE WHEN cum >= ceil(n * 19 / 20.0) THEN b END) * 100 AS DOUBLE) AS p95_lo
         |  FROM bcum GROUP BY flag),
         |vcounts AS (
         |  SELECT flag, v, count(*) AS cnt FROM src GROUP BY flag, v),
         |vcum AS (
         |  SELECT flag, v,
         |         CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY v) AS BIGINT) AS cum,
         |         CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n2
         |  FROM vcounts),
         |exact AS (
         |  SELECT flag,
         |         min(CASE WHEN cum >= ceil(n2 / 2.0) THEN v END) AS x50,
         |         min(CASE WHEN cum >= ceil(n2 * 19 / 20.0) THEN v END) AS x95
         |  FROM vcum GROUP BY flag)
         |SELECT est.flag, n, p50_lo, p95_lo,
         |       round(x50, 2) AS exact_p50, round(x95, 2) AS exact_p95,
         |       (p50_lo <= x50 AND x50 < p50_lo + 100.0) AS p50_within_grid,
         |       (p95_lo <= x95 AND x95 < p95_lo + 100.0) AS p95_within_grid
         |FROM est JOIN exact ON est.flag = exact.flag
         |ORDER BY est.flag""".stripMargin,
    // sketch quantiles: exact anchors + exact n recomputed over the
    // modified corpus
    "mapindex_percentile_sketch" ->
      s"""WITH ${lineitemSql("flag", "l_extendedprice AS v")},
         |$exactAnchorsSql""".stripMargin,
    // sketch-over-join: anchors per surviving priority over the
    // modified orders, plus the same rows re-labeled 'ALL'
    "mapindex_joinview_sketch" ->
      s"""WITH ${ordersSql("o_orderpriority")},
         |base AS (
         |  SELECT o_orderpriority AS flag, o_totalprice AS v FROM o
         |  WHERE CAST(substr(o_orderpriority, 1, 1) AS INT) % 5 <> 0),
         |src AS (
         |  SELECT flag, v FROM base
         |  UNION ALL SELECT 'ALL' AS flag, v FROM base),
         |$exactAnchorsSql""".stripMargin,
    // sketch rollup: per-flag anchors plus the same corpus re-labeled
    // 'ALL' — both lattice levels' anchors recomputed exactly
    "mapindex_percentile_sketch_rollup" ->
      s"""WITH ${lineitemSql("flag", "l_extendedprice AS v", name = "base")},
         |src AS (
         |  SELECT flag, v FROM base
         |  UNION ALL SELECT 'ALL' AS flag, v FROM base),
         |$exactAnchorsSql""".stripMargin,
    // sketch time travel: anchors + n from the ORIGINAL corpus
    "mapindex_percentile_sketch_asof" ->
      s"""WITH src AS (
         |  SELECT l_returnflag AS flag, l_extendedprice AS v FROM lineitem),
         |$exactAnchorsSql""".stripMargin,
    // top-3 most frequent quantities per (possibly re-flagged) group on
    // the modified corpus, ties to the smaller quantity — row_number
    // mirrored; ranks cast BIGINT both sides
    "mapindex_topfreq_view" ->
      s"""WITH ${lineitemSql("flag", "CAST(l_quantity AS INTEGER) AS qty")},
         |counts AS (
         |  SELECT flag, qty, count(*) AS cnt FROM src GROUP BY flag, qty),
         |ranked AS (
         |  SELECT flag, qty, cnt,
         |         CAST(row_number() OVER (PARTITION BY flag
         |           ORDER BY cnt DESC, qty) AS BIGINT) AS rank
         |  FROM counts)
         |SELECT flag, rank, qty, cnt FROM ranked WHERE rank <= 3
         |ORDER BY flag, rank""".stripMargin,
    "mapindex_aggview" ->
      s"""WITH ${lineitemSql("k", "l_extendedprice AS v")}
         |SELECT k AS emit_key, count(*) AS cnt,
         |       round(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
         |       min(v) AS min_value, max(v) AS max_value,
         |       round(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_value
         |FROM src GROUP BY k ORDER BY emit_key""".stripMargin,
    // aggregate-state CDC, recomputed from scratch: touched groups = groups
    // with at least one emission from a changed source key; deletes = their
    // pre-refresh aggregates, inserts = their post-refresh aggregates
    "mapindex_agg_changefeed" ->
      """WITH touched AS (
        |  SELECT DISTINCT l_returnflag AS k FROM lineitem
        |  WHERE l_orderkey % 97 = 0 OR l_orderkey % 89 = 0
        |  UNION
        |  SELECT DISTINCT 'X' AS k FROM lineitem
        |  WHERE l_orderkey % 97 = 0 AND l_orderkey % 89 <> 0),
        |oldst AS (
        |  SELECT l_returnflag AS k, count(*) AS cnt,
        |         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sv,
        |         min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
        |  FROM lineitem GROUP BY 1),
        |newst AS (
        |  SELECT CASE WHEN l_orderkey % 97 = 0 THEN 'X' ELSE l_returnflag END AS k,
        |         count(*) AS cnt,
        |         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sv,
        |         min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
        |  FROM lineitem WHERE l_orderkey % 89 <> 0 GROUP BY 1)
        |SELECT 'delete' AS change_type, k AS emit_key, cnt, sv AS sum_value,
        |       mn AS min_value, mx AS max_value
        |FROM oldst WHERE k IN (SELECT k FROM touched)
        |UNION ALL
        |SELECT 'insert', k, cnt, sv, mn, mx
        |FROM newst WHERE k IN (SELECT k FROM touched)
        |ORDER BY change_type, emit_key""".stripMargin,
    // streaming-built view state = batch recompute of the modified source
    "mapindex_streaming_group" ->
      """SELECT CASE WHEN l_orderkey % 97 = 0 THEN 'X' ELSE l_returnflag END AS emit_key,
        |       round(sum(l_extendedprice), 2) AS sum_value, count(*) AS cnt
        |FROM lineitem WHERE l_orderkey % 89 <> 0
        |GROUP BY 1 ORDER BY emit_key""".stripMargin,
    // semantic cross-type order (type class, then value within class)
    // recomputed in plain SQL: the ranks only hash-match if the binary
    // encoding's byte order equals this order exactly
    "mapindex_mixed_keys" ->
      """WITH src AS (
        |  SELECT event_id % 5 AS cls,
        |         (user_id % 1000) - 500 AS num,
        |         user_id % 2 = 0 AS iseven,
        |         event_type AS et
        |  FROM events),
        |keys AS (
        |  SELECT CASE cls WHEN 0 THEN 'null' WHEN 1 THEN 'bool' WHEN 2 THEN 'number'
        |                  WHEN 3 THEN 'string' ELSE 'array' END AS key_type,
        |         CASE cls WHEN 0 THEN 'null'
        |                  WHEN 1 THEN CASE WHEN iseven THEN 'false' ELSE 'true' END
        |                  WHEN 2 THEN CAST(num AS VARCHAR)
        |                  WHEN 3 THEN '"' || et || '"'
        |                  ELSE '["' || et || '",' || CAST(num AS VARCHAR) || ']' END AS key_repr,
        |         CASE cls WHEN 0 THEN 0
        |                  WHEN 1 THEN CASE WHEN iseven THEN 1 ELSE 2 END
        |                  WHEN 2 THEN 3 WHEN 3 THEN 4 ELSE 5 END AS tord,
        |         CASE WHEN cls = 2 THEN num END AS nord,
        |         CASE WHEN cls IN (3, 4) THEN et END AS sord,
        |         CASE WHEN cls = 4 THEN num END AS aord
        |  FROM src),
        |grouped AS (
        |  SELECT key_type, key_repr, tord, nord, sord, aord, count(*) AS cnt
        |  FROM keys GROUP BY ALL)
        |SELECT row_number() OVER (ORDER BY tord, nord, sord, aord) AS rank,
        |       key_type, key_repr, cnt
        |FROM grouped ORDER BY rank""".stripMargin,
    // net replay over (0, 2]: deletes are the ORIGINAL rows of every key
    // touched anywhere in the range (first-touch retraction); inserts are
    // only the final 'Y' rows — the intermediate 'X' generation appears
    // nowhere. %89 keys were tombstoned at v1 (delete only); %83∧¬%89
    // keys were tombstoned at v2 after the v1 reflag (delete only, and
    // the delete still carries the v0 flag, not 'X').
    // identical history, identical netting contract → identical oracle
    // as the flat-layout net feed
    "mapindex_bucketed_net_changefeed" ->
      """WITH del AS (
        |  SELECT l_returnflag AS emit_key, l_extendedprice AS v FROM lineitem
        |  WHERE l_orderkey % 89 = 0
        |     OR (l_orderkey % 97 = 0 AND l_orderkey % 89 <> 0)
        |     OR (l_orderkey % 83 = 0 AND l_orderkey % 89 <> 0)),
        |ins AS (
        |  SELECT 'Y' AS emit_key, l_extendedprice AS v FROM lineitem
        |  WHERE l_orderkey % 97 = 0 AND l_orderkey % 89 <> 0 AND l_orderkey % 83 <> 0)
        |SELECT 'delete' AS change_type, emit_key, count(*) AS cnt,
        |       round(sum(v), 2) AS sum_value
        |FROM del GROUP BY 2
        |UNION ALL
        |SELECT 'insert' AS change_type, emit_key, count(*) AS cnt,
        |       round(sum(v), 2) AS sum_value
        |FROM ins GROUP BY 2
        |ORDER BY change_type, emit_key""".stripMargin,
  )

  /** Twin gates graded by another gate's oracle: a layout, salt,
    * compaction, replica or streamed history must be invisible to
    * serving, so the twin's expected answer is its base's. */
  val oracle: Map[String, String] = oracleBase ++ Seq(
    // compaction is invisible to join-view serving: same oracle as the
    // uncompacted twin
    "mapindex_joinview_compacted" -> "mapindex_joinview",
    // out-of-order two-sided arrival must converge to the same final
    // join as the one-shot build + batches
    "mapindex_joinview_streamed" -> "mapindex_joinview",
    // salt shards must be invisible: identical oracle to mapindex_joinview
    "mapindex_joinview_salted" -> "mapindex_joinview",
    // the Q1 shape: EXISTS + four-sum GROUP BY from scratch
    "mapindex_q1_measures" -> "mapindex_q1_measures_streamed",
    // the streamed rollup converges to the same final state
    "mapindex_joinview_agg_streamed" -> "mapindex_joinview_agg",
    // right-keyed serving: the same per-purchase argmax, kept only where
    // the PICKED click id falls in the probe subset (%7 == 3)
    "mapindex_asofjoinview_byright" -> "mapindex_asofjoinview_byright_salted",
    // salt shards invisible: same oracle as mapindex_asofjoinview
    "mapindex_asofjoinview_salted" -> "mapindex_asofjoinview",
    // compaction invisible: same oracle as mapindex_asofjoinview
    "mapindex_asofjoinview_compacted" -> "mapindex_asofjoinview",
    // the streamed twin converges to the identical final state
    "mapindex_asofjoinview_streamed" -> "mapindex_asofjoinview",
    // salt shards invisible: identical oracle to the unsalted composite
    "mapindex_joinview_composite_salted" -> "mapindex_joinview_composite",
    // salt shards invisible: same oracle as mapindex_semiview
    "mapindex_semiview_salted" -> "mapindex_semiview",
    // lattice IVM: DuckDB recomputes the whole ROLLUP from both modified
    // tables; gid rebuilt from GROUPING() with the engine's bit layout
    "mapindex_joinview_rollup_lattice" -> "mapindex_lattice_streamed",
    "mapindex_bucketed_group" -> "mapindex_group",
    "mapindex_sql" -> "mapindex_group",
    "mapindex_bucketed_get" -> "mapindex_get",
    "mapindex_bucketed_scan" -> "mapindex_scan",
    "mapindex_rangebucketed_scan" -> "mapindex_scan",
    "mapindex_rangebucketed_get" -> "mapindex_get",
    // post-compaction reads recompute against the SAME modified-source
    // SQL as the maintained views: compaction must not change a byte
    "mapindex_compacted_group" -> "mapindex_rangebucketed_group",
    // post-split reads recompute against the same modified-source SQL as
    // every other layout: the geometry doubling must not change a byte
    "mapindex_split_group" -> "mapindex_rangebucketed_group",
    // the feed across the split epoch equals the refresh delta alone
    "mapindex_split_changefeed" -> "mapindex_compacted_changefeed",
    // the replica serves the same modified-source answer as the source —
    // an unshipped (stale) or over-shipped bucket is a hash mismatch
    "mapindex_shipped_group" -> "mapindex_rangebucketed_group",
    "mapindex_shipped_changefeed" -> "mapindex_compacted_changefeed",
    // the range layout's sidecar must carry the identical delta as the
    // flat and hash-bucketed feeds
    "mapindex_rangebucketed_changefeed" -> "mapindex_compacted_changefeed",
    // the pre-refresh snapshot: the unmodified source, grouped
    "mapindex_bucketed_asof" -> "mapindex_group",
    // distinct prices per (possibly re-flagged) group on the modified
    // corpus; the engine serves this from refcount state, never the corpus
    "mapindex_distinct_view" -> "mapindex_bucketed_distinct_view",
    // the streamed refcount state must converge to the same distinct
    // counts as the flat and bucketed twins
    "mapindex_distinct_view_streamed" -> "mapindex_bucketed_distinct_view",
    // the streamed twin converges to the same final state: same oracle
    "mapindex_percentile_sketch_streamed" -> "mapindex_percentile_sketch",
    // bucketed quantile state: identical oracle to the flat twin
    "mapindex_bucketed_percentile_view" -> "mapindex_percentile_view",
    // bucketed state after the same change batch = the same from-scratch
    // recompute the flat aggview is graded against
    "mapindex_bucketed_aggview" -> "mapindex_aggview",
    // the bucketed CDC sidecar must carry the exact same delta the flat
    // feed (and this from-scratch SQL) computes
    "mapindex_bucketed_changefeed" -> "mapindex_compacted_changefeed",
    "mapindex_bucketed_agg_changefeed" -> "mapindex_agg_changefeed",
    "mapindex_bucketed_streaming_group" -> "mapindex_streaming_group",
    // CDC-replayed cascade = the same modified-source recompute: the relay
    // forwards emissions unchanged, so group sums must match exactly
    "mapindex_cascade_cdc" -> "mapindex_streaming_group",
    "mapindex_changefeed" -> "mapindex_compacted_changefeed",
    "mapindex_net_changefeed" -> "mapindex_bucketed_net_changefeed",
  ).map { case (twin, base) => twin -> oracleBase(base) }
}
