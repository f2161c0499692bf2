package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{BucketedViewStore, MapIndex, ViewStore}
import graft.engine.MapIndex.emit

/**
 * Partition-scoped incremental maintenance (the 100 TB refresh path):
 * correctness vs. the flat store, and the I/O bound — a small batch must
 * rewrite only the buckets its keys live in, never the whole view.
 */
class BucketedStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // two emissions per entry so meta back-pointers track multiple buckets
  private val idx = MapIndex.columns("bstore")(col("key"),
    array(emit(col("key"), col("v")), emit(concat(col("key"), lit("!")), col("v") * 2)))

  private def rows(n: Int): Seq[(String, Int)] =
    (0 until n).map(i => s"k$i" -> i)

  private def snapshot(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Int)] =
    df.select("src_key", "emit_key", "emit_value")
      .as[(String, String, Int)].collect().sorted.toSeq

  test("materialize + get round-trip; point lookup prunes to one bucket") {
    val store = BucketedViewStore.temp(spark, numBuckets = 16)
    idx.materialize(rows(200).toDF("key", "v"), ViewStore.temp(spark)) // flat for reference
    store.materialize(idx, rows(200).toDF("key", "v"))
    assert(store.get(idx.name, "k7").as[Int].collect().toSeq === Seq(7))
    assert(store.get(idx.name, "k7!").as[Int].collect().toSeq === Seq(14))
    assert(store.df(idx.name).count() === 400)
  }

  test("refresh rewrites only the touched buckets, not the view") {
    val store = BucketedViewStore.temp(spark, numBuckets = 16)
    store.materialize(idx, rows(200).toDF("key", "v"))
    val m0 = store.manifest(idx.name)
    val stats = store.refresh(idx, Seq("k7" -> 700).toDF("key", "v"))
    // one source key → at most 4 emit buckets (2 old + 2 new key-hashes)
    assert(stats.emitBucketsRewritten <= 4,
      s"rewrote ${stats.emitBucketsRewritten}/${stats.totalBuckets} buckets for 1 key")
    assert(stats.metaBucketsRewritten === 1)
    // manifest: only the affected buckets bumped a version (the epoch
    // counter entry increments every refresh by design — exclude it)
    val m1 = store.manifest(idx.name)
    val bumped = m1.count { case ((kind, b), v) =>
      kind != "epoch" && m0.get((kind, b)).exists(_ < v) }
    assert(bumped === stats.emitBucketsRewritten + stats.metaBucketsRewritten)
    // values: overwrite semantics held
    assert(store.get(idx.name, "k7").as[Int].collect().toSeq === Seq(700))
    assert(store.get(idx.name, "k7!").as[Int].collect().toSeq === Seq(1400))
    assert(store.df(idx.name).count() === 400)
  }

  test("bucketed refresh result equals the flat store's refresh result") {
    val bucketed = BucketedViewStore.temp(spark, numBuckets = 8)
    val flat = ViewStore.temp(spark)
    val src = rows(50).toDF("key", "v")
    bucketed.materialize(idx, src)
    val flatView = idx.materialize(src, flat)
    val upserts = Seq("k3" -> 33, "k44" -> 440, "kNew" -> 9).toDF("key", "v")
    val dels = Some(Seq("k10").toDF("src_key"))
    bucketed.refresh(idx, upserts, dels)
    val flatV2 = flatView.refresh(upserts, dels)
    assert(snapshot(bucketed.df(idx.name)) === snapshot(flatV2.df))
  }

  test("refresh garbage-collects superseded bucket versions (one grace kept)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val store = BucketedViewStore.temp(spark, numBuckets = 4)
    store.materialize(idx, rows(40).toDF("key", "v"))
    // repeated refreshes of the same key bump its buckets several times
    (1 to 3).foreach(i => store.refresh(idx, Seq("k1" -> (100 + i)).toDF("key", "v")))
    store.manifest(idx.name)
      .filter { case ((kind, _), _) => kind == "emit" || kind == "meta" }
      .foreach { case ((kind, b), v) =>
      val bdir = Paths.get(store.baseDir, idx.name)
        .resolve(if (kind == "emit") s"kb=$b" else s"meta/mb=$b")
      val onDisk = Files.list(bdir).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("v"))
        .map(_.drop(1).toInt).toSeq
      assert(onDisk.forall(_ >= v - 1),
        s"$kind bucket $b: live v$v but stale versions ${onDisk.sorted} on disk")
    }
    assert(store.get(idx.name, "k1").as[Int].collect().toSeq === Seq(103))
  }

  test("refresh epochs are monotone even when touched buckets lag the max version") {
    val store = BucketedViewStore.temp(spark, numBuckets = 8)
    store.materialize(idx, rows(30).toDF("key", "v"))
    // each refresh touches a different key (different buckets) — a
    // max-bucket-version-derived epoch would repeat here
    (1 to 3).foreach(i => store.refresh(idx, Seq(s"k$i" -> (100 + i)).toDF("key", "v")))
    assert(store.manifest(idx.name).get(("epoch", 0)).contains(3))
  }

  test("bucket that empties and later refills continues versioning past stale dirs") {
    val store = BucketedViewStore.temp(spark, numBuckets = 4)
    val one = MapIndex.columns("bstore_refill")(col("key"),
      array(emit(col("key"), col("v"))))
    store.materialize(one, Seq("a" -> 1).toDF("key", "v"))
    // tombstone the only key → its buckets go empty (dropped from the
    // manifest) but their v0 dirs stay on disk as the grace copy
    store.refresh(one, Seq.empty[(String, Int)].toDF("key", "v"),
      Some(Seq("a").toDF("src_key")))
    assert(store.get(one.name, "a").count() === 0)
    // refill the same bucket: the write must take a fresh version, not
    // collide with the stale v0 directory
    store.refresh(one, Seq("a" -> 2).toDF("key", "v"))
    assert(store.get(one.name, "a").as[Int].collect().toSeq === Seq(2))
  }

  test("change feed: per-epoch CDC sidecars replay the exact delta, join-free") {
    val store = BucketedViewStore.temp(spark, numBuckets = 8)
    store.materialize(idx, rows(20).toDF("key", "v"))
    store.refresh(idx, Seq("k3" -> 33, "kNew" -> 9).toDF("key", "v"),
      Some(Seq("k5").toDF("src_key")))
    val changes = store.changesBetween(idx.name, 0, 1)
      .select("change_type", "emit_key", "emit_value")
      .as[(String, String, Int)].collect().toSet
    assert(changes === Set(
      ("delete", "k3", 3), ("delete", "k3!", 6),
      ("delete", "k5", 5), ("delete", "k5!", 10),
      ("insert", "k3", 33), ("insert", "k3!", 66),
      ("insert", "kNew", 9), ("insert", "kNew!", 18)))
    // a multi-epoch range is the GROSS replay log, change_version ascending
    store.refresh(idx, Seq("k3" -> 300).toDF("key", "v"))
    val feed = store.changesBetween(idx.name, 0, 2)
    assert(feed.count() === 12) // e1: 8 rows; e2: 2 deletes + 2 inserts
    assert(feed.filter(col("change_version") === 2).count() === 4)
    // O(delta) by construction: a union of sidecar scans — no join, no
    // shuffle, no snapshot read
    val plan = feed.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("sidecar insert uids equal the snapshot's uids (pinned emission batch)") {
    // the emission batch feeds three writes; monotonically_increasing_id is
    // only deterministic for a fixed partitioning, so the batch is pinned
    // with a localCheckpoint — a recomputed uid would desync the feed from
    // the snapshot it describes
    val store = BucketedViewStore.temp(spark, numBuckets = 4)
    store.materialize(idx, rows(10).toDF("key", "v"))
    store.refresh(idx, Seq("k2" -> 22).toDF("key", "v"))
    val snapUids = store.df(idx.name).filter(col("src_key") === "k2")
      .select("emit_key", "uid").as[(String, Long)].collect().toSet
    val feedUids = store.changesBetween(idx.name, 0, 1)
      .filter(col("change_type") === "insert")
      .select("emit_key", "uid").as[(String, Long)].collect().toSet
    assert(feedUids === snapUids)
  }

  test("sidecars past the retention horizon are reclaimed; reads fail loudly") {
    val store = new BucketedViewStore(spark,
      java.nio.file.Files.createTempDirectory("graft-cdc-").toString,
      numBuckets = 4, graceVersions = 1, changeRetention = 2)
    store.materialize(idx, rows(6).toDF("key", "v"))
    (1 to 4).foreach(i => store.refresh(idx, Seq("k1" -> (100 + i)).toDF("key", "v")))
    assert(store.epoch(idx.name) === 4)
    // epochs 3,4 retained (each: 2 deletes + 2 inserts); 1,2 reclaimed
    assert(store.changesBetween(idx.name, 2, 4).count() === 8)
    val e = intercept[IllegalArgumentException](store.changesBetween(idx.name, 1, 4))
    assert(e.getMessage.contains("retention"))
    val e2 = intercept[IllegalArgumentException](store.changesBetween(idx.name, 4, 9))
    assert(e2.getMessage.contains("epoch"))
  }

  test("re-materialize continues the epoch and writes a full-rebuild delta") {
    val store = BucketedViewStore.temp(spark, numBuckets = 4)
    val one = MapIndex.columns("bstore_rebuild")(col("key"),
      array(emit(col("key"), col("v"))))
    store.materialize(one, Seq("a" -> 1, "b" -> 2).toDF("key", "v"))
    store.materialize(one, Seq("a" -> 10, "c" -> 3).toDF("key", "v"))
    assert(store.epoch(one.name) === 1)
    val changes = store.changesBetween(one.name, 0, 1)
      .select("change_type", "emit_key", "emit_value")
      .as[(String, String, Int)].collect().toSet
    assert(changes === Set(
      ("delete", "a", 1), ("delete", "b", 2),
      ("insert", "a", 10), ("insert", "c", 3)))
    assert(snapshot(store.df(one.name)) ===
      Seq(("a", "a", 10), ("c", "c", 3)))
  }

  test("dfAsOf pins a retained epoch; past the grace horizon it refuses") {
    val store = BucketedViewStore.temp(spark, numBuckets = 8)
    store.materialize(idx, rows(10).toDF("key", "v"))
    store.refresh(idx, Seq("k2" -> 22).toDF("key", "v"), Some(Seq("k5").toDF("src_key")))
    assert(store.readableEpochs(idx.name) === Seq(0, 1))
    // epoch 0 still shows the pre-refresh world
    assert(snapshot(store.dfAsOf(idx.name, 0)) === snapshot_unchanged(10))
    // live epoch agrees with df()
    assert(snapshot(store.dfAsOf(idx.name, 1)) === snapshot(store.df(idx.name)))
    // one more refresh pushes epoch 0 past the horizon (grace 1)
    store.refresh(idx, Seq("k3" -> 33).toDF("key", "v"))
    assert(store.readableEpochs(idx.name) === Seq(1, 2))
    val e = intercept[IllegalArgumentException](store.dfAsOf(idx.name, 0))
    assert(e.getMessage.contains("not readable"))
  }

  private def snapshot_unchanged(n: Int): Seq[(String, String, Int)] =
    (0 until n).flatMap(i =>
      Seq((s"k$i", s"k$i", i), (s"k$i", s"k$i!", i * 2))).sorted

  test("dfAsOf stays readable across a full re-materialize boundary") {
    val store = BucketedViewStore.temp(spark, numBuckets = 4)
    val one = MapIndex.columns("bstore_asof_rebuild")(col("key"),
      array(emit(col("key"), col("v"))))
    store.materialize(one, Seq("a" -> 1, "b" -> 2).toDF("key", "v"))
    store.materialize(one, Seq("a" -> 10, "c" -> 3).toDF("key", "v")) // rebuild → e1
    // epoch 0 still resolves through its retained manifest to the
    // pre-rebuild bucket versions (grace copies)
    assert(store.readableEpochs(one.name) === Seq(0, 1))
    assert(snapshot(store.dfAsOf(one.name, 0)) ===
      Seq(("a", "a", 1), ("b", "b", 2)))
    assert(snapshot(store.dfAsOf(one.name, 1)) ===
      Seq(("a", "a", 10), ("c", "c", 3)))
  }

  test("scan returns the ordered [start, end) range across buckets") {
    val store = BucketedViewStore.temp(spark, numBuckets = 8)
    val one = MapIndex.columns("bstore_scan")(col("key"),
      array(emit(col("key"), col("v"))))
    store.materialize(one,
      Seq("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4).toDF("key", "v"))
    val got = store.scan(one.name, Some("b"), Some("d"))
      .select("emit_key").as[String].collect()
    assert(got.toSeq === Seq("b", "c"))
    assert(store.scan(one.name).count() === 4)
    assert(store.scan(one.name, Some("c")).count() === 2)
  }

  test("range-bucketed store: scan prunes to covering buckets; refresh/get/CDC unchanged") {
    // boundaries c,e,g → buckets [<c], [c,e), [e,g), [>=g]
    val store = BucketedViewStore.tempRange(spark, Seq("c", "e", "g"))
    val one = MapIndex.columns("bstore_range")(col("key"),
      array(emit(col("key"), col("v"))))
    store.materialize(one,
      Seq("a" -> 1, "b" -> 2, "d" -> 4, "f" -> 6, "h" -> 8).toDF("key", "v"))
    // bucket assignment mirrors: the scan's path set is the covering range
    assert(BucketedViewStore.rangeBucketOf("a", Seq("c", "e", "g")) === 0)
    assert(BucketedViewStore.rangeBucketOf("d", Seq("c", "e", "g")) === 1)
    assert(BucketedViewStore.rangeBucketOf("g", Seq("c", "e", "g")) === 3)
    // [b, e) covers buckets 0..1 only — bucket 2 (f) and 3 (h) unopened
    val scanned = store.scan(one.name, Some("b"), Some("e"))
    assert(scanned.select("emit_key").as[String].collect().toSeq === Seq("b", "d"))
    // inputFiles, NOT executedPlan.toString: Spark truncates the scan's
    // Location at ~100 chars, so parsing the plan string can yield an
    // EMPTY set and pass vacuously (PlanAuditMapIndexSpec switched for the same
    // reason) — assert nonEmpty so the prune is genuinely verified
    val kb = scanned.inputFiles.toSeq
      .flatMap(f => "kb=\\d+".r.findAllIn(f).map(_.drop(3).toInt)).toSet
    assert(kb.nonEmpty, "covering-bucket check must see the scanned files")
    assert(kb.subsetOf(Set(0, 1)), s"scan must only open covering buckets, saw $kb")
    // point lookup prunes to exactly one bucket via the boundary search
    assert(store.get(one.name, "f").as[Int].collect().toSeq === Seq(6))
    // the layout-independent machinery holds: partition-scoped refresh,
    // overwrite semantics, CDC sidecar
    val stats = store.refresh(one, Seq("d" -> 40).toDF("key", "v"))
    assert(stats.emitBucketsRewritten === 1, "one key in one range bucket")
    assert(store.get(one.name, "d").as[Int].collect().toSeq === Seq(40))
    val feed = store.changesBetween(one.name, 0, 1)
      .select("change_type", "emit_key").as[(String, String)].collect().toSet
    assert(feed === Set("delete" -> "d", "insert" -> "d"))
  }

  test("getAll prunes to the requested keys' buckets and returns exactly their rows") {
    val store = BucketedViewStore.temp(spark, numBuckets = 16)
    val one = MapIndex.columns("bstore_getall")(col("key"),
      array(emit(col("key"), col("v"))))
    store.materialize(one, (0 until 500).map(i => s"k$i" -> i).toDF("key", "v"))
    val got = store.getAll(one.name, Seq("k1", "k2", "k3").toDF("emit_key"))
    assert(got.select("emit_value").as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
    // the scan opens only the buckets the keys hash to — the driver
    // collects bucket IDS, never the key list (inputFiles, not the plan
    // string: Location truncates at ~100 chars)
    val expectedKb = Seq("k1", "k2", "k3")
      .map(BucketedViewStore.bucketOf(_, 16)).toSet
    val kb = got.inputFiles.toSeq
      .flatMap("kb=(\\d+)".r.findFirstMatchIn(_)).map(_.group(1).toInt).toSet
    assert(kb.nonEmpty && kb.subsetOf(expectedKb),
      s"getAll must open only the keys' buckets, saw $kb vs $expectedKb")
  }

  test("compact folds accreted bucket files into one; reads and feed replay unchanged") {
    import scala.jdk.CollectionConverters._
    val store = new BucketedViewStore(spark,
      java.nio.file.Files.createTempDirectory("graft-compact-").toString,
      numBuckets = 2, writeSalt = 8)
    val one = MapIndex.columns("bstore_compact")(col("key"),
      array(emit(col("key"), col("v"))))
    // pin AQE coalescing off (see the salted-write test): at test size the
    // salted slices would merge back into one partition and the fixture
    // would have nothing to compact
    val coalesce0 = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      store.materialize(one, (0 until 2000).map(i => f"k$i%04d" -> i).toDF("key", "v"))
      store.refresh(one, Seq("k0001" -> 11).toDF("key", "v"))
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce0)

    def emitFiles(): Map[Int, Int] = store.manifest(one.name).collect {
      case (("emit", b), v) =>
        val dir = java.nio.file.Paths.get(store.baseDir, one.name, s"kb=$b", s"v$v")
        val files = java.nio.file.Files.list(dir)
        val n = try files.iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet")) finally files.close()
        b -> n
    }
    val before = emitFiles()
    assert(before.values.max > 1, s"fixture must accrete files, saw $before")
    val snapBefore = snapshot(store.df(one.name))
    val feedBefore = store.changesBetween(one.name, 0, 1)
      .select("change_type", "emit_key", "emit_value")
      .as[(String, String, Int)].collect().sorted.toSeq
    val e0 = store.epoch(one.name)

    val stats = store.compact(one.name, maxFilesPerBucket = 1)
    assert(stats.emitBucketsRewritten === 2, s"both emit buckets were over threshold, $stats")
    val after = emitFiles()
    assert(after.values.forall(_ === 1),
      s"compaction must leave one file per live bucket, saw $after")
    // no-change epoch: epoch advanced, rows identical, the compaction
    // sidecar is empty, and a feed replay crossing it is byte-identical
    assert(store.epoch(one.name) === e0 + 1)
    assert(snapshot(store.df(one.name)) === snapBefore)
    assert(store.changesBetween(one.name, e0, e0 + 1).count() === 0)
    val feedAfter = store.changesBetween(one.name, 0, e0 + 1)
      .select("change_type", "emit_key", "emit_value")
      .as[(String, String, Int)].collect().sorted.toSeq
    assert(feedAfter === feedBefore)
    assert(store.get(one.name, "k0001").as[Int].collect().toSeq === Seq(11))
    // nothing over the threshold anymore → pure no-op, no epoch bump
    val noop = store.compact(one.name, maxFilesPerBucket = 1)
    assert(noop.emitBucketsRewritten === 0 && noop.metaBucketsRewritten === 0)
    assert(store.epoch(one.name) === e0 + 1)
  }

  test("salted staged write splits a hot bucket across tasks; reads unchanged") {
    import scala.jdk.CollectionConverters._
    val store = new BucketedViewStore(spark,
      java.nio.file.Files.createTempDirectory("graft-salt-").toString,
      numBuckets = 4, writeSalt = 8)
    // every source key emits under ONE emit_key: the whole view lands in a
    // single hot bucket, the shape where an unsalted write serializes
    val hot = MapIndex.columns("bstore_hot")(col("key"),
      array(emit(lit("hot"), col("v"))))
    // test data is tiny, so AQE would (correctly) coalesce the salted
    // shuffle back to one partition — at scale a hot bucket exceeds the
    // advisory size and keeps its salted split; pin coalescing off here
    // so that split is observable at test size
    val coalesce0 = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try store.materialize(hot, (0 until 4000).map(i => s"k$i" -> i).toDF("key", "v"))
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce0)
    val b = BucketedViewStore.bucketOf("hot", 4)
    val m = store.manifest(hot.name)
    val dir = java.nio.file.Paths.get(store.baseDir, hot.name,
      s"kb=$b", s"v${m(("emit", b))}")
    val files = java.nio.file.Files.list(dir)
    val parts = try files.iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    finally files.close()
    assert(parts > 1, s"hot bucket must be written by >1 task, saw $parts file(s)")
    // results identical to the unsalted contract: all rows, ordered get
    assert(store.df(hot.name).count() === 4000)
    assert(store.get(hot.name, "hot").count() === 4000)
    assert(store.scan(hot.name, Some("hot"), None).count() === 4000)
    // refresh through the salted path keeps overwrite semantics
    store.refresh(hot, Seq("k7" -> 999999).toDF("key", "v"))
    assert(store.get(hot.name, "hot").as[Int].collect().max === 999999)
    assert(store.df(hot.name).count() === 4000)
  }

  test("tombstone removes the key from data and meta; get returns empty") {
    val store = BucketedViewStore.temp(spark, numBuckets = 8)
    store.materialize(idx, rows(20).toDF("key", "v"))
    store.refresh(idx, Seq.empty[(String, Int)].toDF("key", "v"),
      Some(Seq("k5").toDF("src_key")))
    assert(store.get(idx.name, "k5").count() === 0)
    assert(store.get(idx.name, "k5!").count() === 0)
    assert(store.df(idx.name).count() === 38)
    // second refresh of the same key is a no-op on data (idempotent delete)
    val stats = store.refresh(idx, Seq.empty[(String, Int)].toDF("key", "v"),
      Some(Seq("k5").toDF("src_key")))
    assert(store.df(idx.name).count() === 38)
    assert(stats.emitBucketsRewritten === 0) // no back-pointers left to chase
  }

  test("refresh past broadcastKeyLimit falls back to shuffle joins with identical results") {
    import java.nio.file.Files
    // limit 0: EVERY batch takes the non-broadcast path — the bulk-
    // backfill plan must land byte-identical view contents, meta
    // back-pointers and stats as the default broadcast plan
    val gated = new BucketedViewStore(spark,
      Files.createTempDirectory("graft-bkl-").toString, numBuckets = 8,
      broadcastKeyLimit = 0L)
    val plain = BucketedViewStore.temp(spark, numBuckets = 8)
    for (st <- Seq(gated, plain)) st.materialize(idx, rows(120).toDF("key", "v"))
    // a bulk batch: half the keys upserted, a sixth tombstoned
    val ups = (0 until 120 by 2).map(i => s"k$i" -> (i + 1000)).toDF("key", "v")
    val dels = Some((1 until 120 by 6).map(i => s"k$i").toDF("src_key"))
    val sg = gated.refresh(idx, ups, dels)
    val sp = plain.refresh(idx, ups, dels)
    assert(sg === sp, "refresh stats must not depend on the join strategy")
    assert(snapshot(gated.df(idx.name)) === snapshot(plain.df(idx.name)))
    // CDC sidecars agree too (delete/insert multisets)
    def feed(st: BucketedViewStore) =
      st.changesBetween(idx.name, 0, 1)
        .select("src_key", "emit_key", "emit_value", "change_type")
        .as[(String, String, Int, String)].collect().sorted.toSeq
    assert(feed(gated) === feed(plain))
    // a second refresh over the gated store keeps compounding correctly
    gated.refresh(idx, Seq("k2" -> 2).toDF("key", "v"),
      Some(Seq("k0").toDF("src_key")))
    plain.refresh(idx, Seq("k2" -> 2).toDF("key", "v"),
      Some(Seq("k0").toDF("src_key")))
    assert(snapshot(gated.df(idx.name)) === snapshot(plain.df(idx.name)))
  }

  test("bucketed agg maintenance past broadcastKeyLimit matches the broadcast plan") {
    import java.nio.file.Files
    import graft.engine.BucketedAggView
    val aggIdx = MapIndex.columns("bkl_agg")(col("key"),
      array(emit(concat(lit("g"), (col("v") % 3).cast("string")), col("v"))))
    val gatedStore = new BucketedViewStore(spark,
      Files.createTempDirectory("graft-bklagg-").toString, numBuckets = 8,
      broadcastKeyLimit = 0L)
    val plainStore = BucketedViewStore.temp(spark, numBuckets = 8)
    val src = rows(120).toDF("key", "v")
    val gated = BucketedAggView.build(gatedStore, aggIdx, src, "bkl_agg__state")
    val plain = BucketedAggView.build(plainStore, aggIdx, src, "bkl_agg__state")
    val ups = (0 until 120 by 2).map(i => s"k$i" -> (i + 500)).toDF("key", "v")
    val dels = Some((1 until 120 by 6).map(i => s"k$i").toDF("src_key"))
    val sg = gated.refresh(aggIdx, ups, dels)
    val sp = plain.refresh(aggIdx, ups, dels)
    assert(sg === sp, "agg refresh stats must not depend on the join strategy")
    def st(v: BucketedAggView) =
      v.state.select(col("emit_key"), col("cnt"),
          col("sum_value").cast("long"), col("min_value"), col("max_value"))
        .as[(String, Long, Long, Int, Int)].collect().sorted.toSeq
    assert(st(gated) === st(plain))
  }

  test("splitBuckets: exchange-free doubling preserves rows and pruning; stale handles fail") {
    val store = BucketedViewStore.temp(spark, numBuckets = 4)
    store.materialize(idx, rows(80).toDF("key", "v"))
    val before = snapshot(store.df(idx.name))

    // capture the split's staged-write plans: the doubling invariant means
    // they must carry NO exchange (partitionBy fans each slice locally
    // into its two child buckets). The sidecar write repartition(1)s but
    // goes to _changes/, not a _stage_ dir — the filter excludes it.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val s = qe.executedPlan.toString
        if (s.contains(store.baseDir) && s.contains("_stage_")) plans.add(s)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val wide = try {
      val w = store.splitBuckets(idx.name)
      // listener dispatch is async — wait for both staged writes
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      w
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size >= 2, "expected the emit and meta staged-write plans")
    plans.forEach(p => assert(!p.contains("Exchange"),
      s"split staged write must not shuffle:\n$p"))

    assert(wide.numBuckets === 8)
    assert(snapshot(wide.df(idx.name)) === before)
    // point lookup routes by the NEW geometry and reads one bucket dir
    val b = BucketedViewStore.bucketOf("k7", 8)
    val lookup = wide.get(idx.name, "k7")
    assert(lookup.as[Int].collect().toSeq === Seq(7))
    assert(lookup.inputFiles.nonEmpty &&
      lookup.inputFiles.forall(_.contains(s"kb=$b/")))
    // the pre-split handle cannot silently mis-prune at the old geometry
    val err = intercept[IllegalArgumentException](store.df(idx.name))
    assert(err.getMessage.contains("buckets"))
  }

  test("splitBuckets is a no-change epoch: empty sidecar, time travel, maintenance continues") {
    val store = BucketedViewStore.temp(spark, numBuckets = 4)
    store.materialize(idx, rows(60).toDF("key", "v"))
    store.refresh(idx, Seq("k3" -> 33).toDF("key", "v")) // epoch 1
    val preSplit = snapshot(store.df(idx.name))
    val wide = store.splitBuckets(idx.name)              // epoch 2
    assert(wide.epoch(idx.name) === 2)
    assert(wide.changesBetween(idx.name, 1, 2).count() === 0)
    // a replay crossing the split equals the refresh delta alone
    assert(wide.changesBetween(idx.name, 0, 2).count() ===
      wide.changesBetween(idx.name, 0, 1).count())
    // the pre-split epoch stays addressable through its grace copies
    assert(snapshot(wide.dfAsOf(idx.name, 1)) === preSplit)
    // maintenance continues at the new geometry
    val stats = wide.refresh(idx, Seq("k5" -> 55).toDF("key", "v"),
      Some(Seq("k9").toDF("src_key")))
    assert(stats.totalBuckets === 8)
    assert(wide.get(idx.name, "k5").as[Int].collect().toSeq === Seq(55))
    assert(wide.get(idx.name, "k9").count() === 0)
    assert(wide.df(idx.name).count() === 118)
    // range layout refuses: its rebalance is re-materialization
    val ranged = BucketedViewStore.tempRange(spark, Seq("k3", "k6"))
    ranged.materialize(idx, rows(10).toDF("key", "v"))
    intercept[IllegalArgumentException](ranged.splitBuckets(idx.name))
  }

  test("shipTo replicates incrementally: manifest-diff copies only; replica serves reads and feed") {
    val store = BucketedViewStore.temp(spark, numBuckets = 4)
    val dest = java.nio.file.Files.createTempDirectory("graft-ship-").toString
    store.materialize(idx, rows(60).toDF("key", "v"))
    val s1 = store.shipTo(idx.name, dest)
    assert(s1.bucketsCopied === s1.totalLiveBuckets)
    val replica = new BucketedViewStore(spark, dest, numBuckets = 4)
    assert(snapshot(replica.df(idx.name)) === snapshot(store.df(idx.name)))
    // refresh one key, re-ship: only its buckets (and the sidecar) move
    store.refresh(idx, Seq("k3" -> 33).toDF("key", "v"))
    val s2 = store.shipTo(idx.name, dest)
    assert(s2.bucketsCopied <= 5, // ≤ 4 emit (2 old + 2 new hashes) + 1 meta
      s"incremental ship copied ${s2.bucketsCopied}/${s2.totalLiveBuckets}")
    assert(s2.sidecarsCopied === 1)
    assert(snapshot(replica.df(idx.name)) === snapshot(store.df(idx.name)))
    assert(replica.epoch(idx.name) === 1)
    assert(replica.changesBetween(idx.name, 0, 1).count() ===
      store.changesBetween(idx.name, 0, 1).count())
    // same epoch → nothing moves (idempotent re-ship)
    val s3 = store.shipTo(idx.name, dest)
    assert(s3.bucketsCopied === 0 && s3.sidecarsCopied === 0)
    // a mis-geometry handle on the replica fails loudly
    intercept[IllegalArgumentException](
      new BucketedViewStore(spark, dest, numBuckets = 8).df(idx.name))
    // point lookups on the replica prune exactly as on the source
    assert(replica.get(idx.name, "k3").as[Int].collect().toSeq === Seq(33))
  }
}
