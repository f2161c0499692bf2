package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{MapIndex, ViewStore}
import graft.engine.MapIndex.emit

/**
 * Seed suite: the reference's own end-to-end scenarios
 * (`/root/reference/tests/test-basic.js`, `tests/test-replication.js`)
 * plus the gap fixtures SURVEY.md §5 calls out (multi-emit, empty-emit,
 * tombstone, range scan, grouped collect, count).
 */
class MapIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** map = obj => [['test', obj.value.test]]  (test-basic.js:14) */
  private def primaryIndex(name: String = "primary") =
    MapIndex.columns(name)(col("key"), array(emit(lit("test"), col("test"))))

  private def entries(rows: (String, Int)*): DataFrame =
    rows.toSeq.toDF("key", "test")

  private def values(df: DataFrame): Seq[Int] =
    df.as[Int].collect().toSeq

  test("write → get round-trip (test-basic.js:19-27)") {
    val store = ViewStore.temp(spark)
    val view = primaryIndex().materialize(entries("asdf" -> 123), store)
    assert(values(view.get("test")) === Seq(123))
  }

  test("overwrite replaces all previous emissions (test-basic.js:29-39)") {
    val store = ViewStore.temp(spark)
    val view = primaryIndex().materialize(entries("asdf" -> 123), store)
    val v2 = view.refresh(entries("asdf" -> 345))
    assert(values(v2.get("test")) === Seq(345)) // exactly one row, new value
  }

  test("tombstone deletes all emissions for the key (index.js:187-205)") {
    val store = ViewStore.temp(spark)
    val view = primaryIndex().materialize(entries("asdf" -> 123, "keep" -> 7), store)
    val v2 = view.refresh(entries(), deleteKeys = Some(Seq("asdf").toDF("src_key")))
    assert(values(v2.get("test")) === Seq(7))
  }

  test("multi-emit map: one entry, many pairs (index.js:233 loop)") {
    val store = ViewStore.temp(spark)
    val idx = MapIndex.columns("multi")(col("key"),
      array(emit(lit("a"), col("test")), emit(lit("b"), col("test") * 2)))
    val view = idx.materialize(entries("k1" -> 10), store)
    assert(values(view.get("a")) === Seq(10))
    assert(values(view.get("b")) === Seq(20))
  }

  test("empty emission drops the key from the view (index.js:218-230)") {
    val store = ViewStore.temp(spark)
    // emits only when test > 0 — a filtering map
    val idx = MapIndex.columns("maybe")(col("key"),
      when(col("test") > 0, array(emit(lit("test"), col("test"))))
        .otherwise(array().cast("array<struct<emit_key:string,emit_value:int>>")))
    val view = idx.materialize(entries("asdf" -> 123), store)
    assert(values(view.get("test")) === Seq(123))
    // rewrite with a value that emits nothing → key's emissions retracted
    val v2 = view.refresh(entries("asdf" -> -1))
    assert(v2.get("test").count() === 0)
  }

  test("duplicate emitted keys coexist via uid (index.js:236)") {
    val store = ViewStore.temp(spark)
    val view = primaryIndex().materialize(entries("k1" -> 1, "k2" -> 2), store)
    assert(values(view.get("test")).sorted === Seq(1, 2))
  }

  test("ordered range scan with [start, end) semantics (O6, corrected)") {
    val store = ViewStore.temp(spark)
    val idx = MapIndex.columns("bykey")(col("key"),
      array(emit(col("key"), col("test"))))
    val view = idx.materialize(
      entries("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4), store)
    val got = view.scan(Some("b"), Some("d")).select("emit_key").as[String].collect()
    assert(got.toSeq === Seq("b", "c"))
    assert(view.scan().count() === 4)
    assert(view.scan(Some("c")).count() === 2)
  }

  test("countRange implements the O16 stub for real (index.js:148-150)") {
    val store = ViewStore.temp(spark)
    val idx = MapIndex.columns("bykey2")(col("key"),
      array(emit(col("key"), col("test"))))
    val view = idx.materialize(entries("a" -> 1, "b" -> 2, "c" -> 3), store)
    assert(view.countRange(Some("b")) === 2)
    assert(view.countRange() === 3)
  }

  test("grouped collect preserves every group's first row (O14, corrected)") {
    val store = ViewStore.temp(spark)
    val idx = MapIndex.columns("groups")(col("key"),
      array(emit(substring(col("key"), 1, 1), col("test"))))
    val view = idx.materialize(
      entries("a1" -> 1, "a2" -> 2, "b1" -> 3, "c1" -> 4, "c2" -> 5), store)
    // corrected semantics: GROUP BY key → (key, all values); the reference
    // dropped each group's boundary row (index.js:70-74) — we must not.
    val groups = view.df.groupBy("emit_key")
      .agg(sort_array(collect_list("emit_value")).as("vals"))
      .orderBy("emit_key")
      .as[(String, Seq[Int])].collect().toSeq
    assert(groups === Seq(("a", Seq(1, 2)), ("b", Seq(3)), ("c", Seq(4, 5))))
  }

  test("grouped() preserves emission (uid) order within each group (O14)") {
    val store = ViewStore.temp(spark)
    // two emissions from one entry plus one from another, same emitted key
    val idx = MapIndex.columns("ordered")(col("key"),
      array(emit(lit("g"), col("test") * 10), emit(lit("g"), col("test") * 10 + 1)))
    val view = idx.materialize(entries("k1" -> 1, "k2" -> 2).coalesce(1), store)
    val groups = view.grouped().as[(String, Seq[Int])].collect().toMap
    // emission order = source order × per-entry emit order
    assert(groups("g") === Seq(10, 11, 20, 21))
  }

  test("repeated refresh garbage-collects old view versions (one grace kept)") {
    import java.nio.file.{Files, Paths}
    val store = ViewStore.temp(spark)
    var view = primaryIndex("gc_view").materialize(entries("a" -> 1), store)
    (1 to 3).foreach(i => view = view.refresh(entries("a" -> i)))
    val versions = Files.list(Paths.get(store.baseDir, "gc_view")).iterator()
    val vDirs = scala.jdk.CollectionConverters.IteratorHasAsScala(versions).asScala
      .map(_.getFileName.toString).filter(_.startsWith("v")).toSeq.sorted
    assert(vDirs === Seq("v2", "v3"), s"expected only grace+live, got $vDirs")
    assert(values(view.get("test")) === Seq(3))
  }

  test("scan keeps key order through the global sort when the view exceeds one advisory partition") {
    // every relation is "large" (the orderBy arm), and AQE keeps the
    // range-clustered write's partitions apart, so the view spans files
    val confs = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val store = ViewStore.temp(spark)
      val idx = MapIndex.columns("bykey_large")(col("key"),
        array(emit(col("test") % 37, col("test")), emit(col("test") % 11, col("test"))))
      val view = idx.materialize(
        (1 to 400).map(i => s"k$i" -> i).toDF("key", "test").repartition(4), store)
      assert(view.df.inputFiles.length > 1, "the range-clustered write must split the view")
      val df = view.scan(Some(3), Some(30))
      val keys = df.select("emit_key").as[Int].collect().toSeq
      val expected = (1 to 400).flatMap(i => Seq(i % 37, i % 11)).filter(k => k >= 3 && k < 30)
      assert(keys === expected.sorted)
      assert(df.queryExecution.executedPlan.toString.contains("rangepartitioning"),
        "a view above the advisory size must keep the parallel global sort")
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("a view dropped and rebuilt through another store is re-resolved, not served stale") {
    val dir = java.nio.file.Files.createTempDirectory("graft-views-").toString
    val (a, b) = (new ViewStore(spark, dir), new ViewStore(spark, dir))
    val idx = primaryIndex("rebuilt")
    val view = idx.materialize(entries("k1" -> 1, "k2" -> 2), a)
    assert(values(view.get("test")).sorted === Seq(1, 2))
    b.dropView("rebuilt")
    idx.materialize(entries("k3" -> 30), b) // the same v0 path, a new dir
    assert(values(view.get("test")) === Seq(30))
    assert(a.resolvedPaths.size === 1, "the stale entry must be replaced, not kept")
  }

  test("the read memo holds at most graceVersions + 1 versions of a refreshed view") {
    val store = ViewStore.temp(spark)
    var view = primaryIndex("memo_bound").materialize(entries("k" -> 0), store)
    for (i <- 1 to 5) {
      view = view.refresh(entries("k" -> i))
      assert(values(view.get("test")) === Seq(i))
      assert(values(view.asOf(i - 1).select("emit_value")) === Seq(i - 1))
    }
    val held = store.resolvedPaths.count(_.exists(_.contains("/memo_bound/")))
    assert(held >= 1 && held <= store.graceVersions + 1,
      s"memo holds $held versions: ${store.resolvedPaths}")
  }

  test("snapshot reads pin a retained version; the change feed replays the delta") {
    val store = ViewStore.temp(spark)
    val idx = MapIndex.columns("tt_view")(col("key"),
      array(emit(col("key"), col("test"))))
    var view = idx.materialize(entries("a" -> 1, "b" -> 2), store)
    view = view.refresh(entries("a" -> 10, "c" -> 3)) // overwrite a, insert c
    assert(store.readableVersions("tt_view") === Seq(0, 1))
    // time travel: v0 still shows the pre-refresh world
    assert(view.asOf(0).select("emit_value").as[Int].collect().sorted === Array(1, 2))
    assert(view.df.select("emit_value").as[Int].collect().sorted === Array(2, 3, 10))
    // change feed (0,1]: delete of a's old row, inserts of a's new row and c
    val changes = view.changesBetween(0, 1)
      .select("change_type", "emit_key", "emit_value")
      .as[(String, String, Int)].collect().toSet
    assert(changes === Set(
      ("delete", "a", 1), ("insert", "a", 10), ("insert", "c", 3)))
    // a reader cannot address a GC'd version
    view = view.refresh(entries("d" -> 4))
    assert(store.readableVersions("tt_view") === Seq(1, 2))
    val e = intercept[IllegalArgumentException](view.asOf(0))
    assert(e.getMessage.contains("not readable"))
  }

  test("change feed insert uids equal the snapshot's uids (pinned batch)") {
    // the refresh writes the emission batch twice (snapshot + sidecar);
    // the localCheckpoint pin guarantees both carry identical uids even
    // for a nondeterministically-ordered upserts source
    val store = ViewStore.temp(spark)
    val idx = MapIndex.columns("pin_view")(col("key"),
      array(emit(col("key"), col("test"))))
    var view = idx.materialize(entries("a" -> 1), store)
    view = view.refresh(entries("b" -> 2, "c" -> 3))
    val snapUids = view.df.filter(col("src_key").isin("b", "c"))
      .select("emit_key", "uid").as[(String, Long)].collect().toSet
    val feedUids = view.changesBetween(0, 1).filter(col("change_type") === "insert")
      .select("emit_key", "uid").as[(String, Long)].collect().toSet
    assert(feedUids === snapUids)
  }

  test("re-materialize writes a full-rebuild delta: the feed stays contiguous") {
    val store = ViewStore.temp(spark)
    val idx = MapIndex.columns("rebuild_view")(col("key"),
      array(emit(col("key"), col("test"))))
    var view = idx.materialize(entries("a" -> 1, "b" -> 2), store)
    view = idx.materialize(entries("a" -> 10, "c" -> 3), store) // full rebuild → v1
    val changes = view.changesBetween(0, 1)
      .select("change_type", "emit_key", "emit_value")
      .as[(String, String, Int)].collect().toSet
    assert(changes === Set(
      ("delete", "a", 1), ("delete", "b", 2),
      ("insert", "a", 10), ("insert", "c", 3)))
    assert(values(view.get("a")) === Seq(10))
  }

  test("sidecar GC sweeps _changes/ independently: a crash-orphaned sidecar is collected") {
    import java.nio.file.{Files, Paths}
    val store = ViewStore.temp(spark)
    val idx = MapIndex.columns("orphan_view")(col("key"),
      array(emit(col("key"), col("test"))))
    var view = idx.materialize(entries("a" -> 1), store)
    (1 to 2).foreach(i => view = view.refresh(entries("a" -> i))) // v2 live
    // simulate the crash window between snapshot-delete and sidecar-delete:
    // an ancient sidecar with no sibling snapshot
    val orphan = Paths.get(store.baseDir, "orphan_view", "_changes", "v0")
    Files.createDirectories(orphan)
    view = view.refresh(entries("a" -> 9)) // v3; the sweep must collect v0
    assert(!Files.exists(orphan))
    val left = Files.list(Paths.get(store.baseDir, "orphan_view", "_changes")).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(left).asScala
      .map(_.getFileName.toString).toSeq.sorted
    assert(names === Seq("v2", "v3"), s"retained sidecars: $names")
  }

  test("cascade catch-up from the change feed alone equals a recompute") {
    // grace 2: the (0, 2] replay below needs v0 still addressable
    val store = new ViewStore(spark,
      java.nio.file.Files.createTempDirectory("graft-cdc-casc-").toString,
      graceVersions = 2)
    val idx = MapIndex.columns("cdc_up")(col("key"),
      array(emit(col("key"), col("test"))))
    // downstream relays each entry's grouped emissions unchanged
    val relay = MapIndex.columns("cdc_down")(col("key"),
      transform(col("value"), e => emit(e("emit_key"), e("emit_value"))))
    var up = idx.materialize(entries("a" -> 1, "b" -> 2, "c" -> 3), store)
    // bootstrap downstream from the v0 snapshot
    relay.materialize(graft.engine.MaterializedView.cascadeSourceOf(up.asOf(0)), store)
    // v1: overwrite a, tombstone b, insert d; v2: overwrite a AGAIN,
    // tombstone d — multi-version replay must take each key's FINAL state
    up = up.refresh(entries("a" -> 10, "d" -> 4), Some(Seq("b").toDF("src_key")))
    up = up.refresh(entries("a" -> 100), Some(Seq("d").toDF("src_key")))
    val down = up.cascadeChangesInto(relay, 0, 2)
    val got = down.df.select("emit_key", "emit_value")
      .as[(String, Int)].collect().toSet
    assert(got === Set("a" -> 100, "c" -> 3))
    // and equals a from-scratch downstream rebuild of the current upstream
    val rebuilt = up.cascadeInto(MapIndex.columns("cdc_down2")(col("key"),
      transform(col("value"), e => emit(e("emit_key"), e("emit_value")))))
    assert(rebuilt.df.select("emit_key", "emit_value")
      .as[(String, Int)].collect().toSet === got)
  }

  test("grouped() order holds past the sort-based aggregation fallback") {
    val store = ViewStore.temp(spark)
    // 600 groups over 4 shuffle partitions = 150 groups/partition — past
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold (128), so
    // ObjectHashAggregateExec switches to sort-based merge mid-stream;
    // the explicit (uid, value) sort must keep per-group order regardless
    val src = spark.range(2400).select(
      concat(lit("s"), col("id")).as("key"),
      (col("id") % 600).cast("string").as("g"),
      col("id").as("v"))
    val idx = MapIndex.columns("manygroups")(col("key"),
      array(emit(col("g"), col("v"))))
    val view = idx.materialize(src.coalesce(1), store)
    val groups = view.grouped().as[(String, Seq[Long])].collect()
    assert(groups.length === 600)
    groups.foreach { case (g, vals) =>
      assert(vals.length === 4, s"group $g: $vals")
      assert(vals === vals.sorted, s"group $g out of emission order: $vals")
    }
  }

  test("cascade: secondary view sees upstream writes (test-replication.js:27-37)") {
    val store = ViewStore.temp(spark)
    val primary = primaryIndex()
    val view = primary.materialize(entries("asdf" -> 123), store)
    // mapSecondary = obj => [['test2', obj.value[0][1]]]  (test-replication.js:18)
    val secondary = MapIndex.columns("secondary")(col("key"),
      array(emit(lit("test2"), col("value")(0)("emit_value"))))
    val sview = view.cascadeInto(secondary)
    assert(values(sview.get("test2")) === Seq(123))
  }

  test("cascaded overwrite propagates (test-replication.js:39-51)") {
    val store = ViewStore.temp(spark)
    val primary = primaryIndex()
    val secondary = MapIndex.columns("secondary2")(col("key"),
      array(emit(lit("test2"), col("value")(0)("emit_value"))))
    val v1 = primary.materialize(entries("asdf" -> 123), store)
    v1.cascadeInto(secondary)
    val v2 = v1.refresh(entries("asdf" -> 345))
    // incremental propagation: only the changed upstream key flows down
    val changed = Seq("asdf").toDF("k")
    val sview2 = store.load(secondary).refresh(
      v2.cascadeSource.join(changed, col("key") === col("k"), "left_semi"))
    assert(values(sview2.get("test2")) === Seq(345))
  }

  test("tombstone retraction propagates through a cascade (index.js:190-205)") {
    val store = ViewStore.temp(spark)
    val primary = primaryIndex()
    val secondary = MapIndex.columns("secondary3")(col("key"),
      array(emit(lit("test2"), col("value")(0)("emit_value"))))
    val v1 = primary.materialize(entries("asdf" -> 123, "other" -> 9), store)
    v1.cascadeInto(secondary)
    val v2 = v1.refresh(entries(), Some(Seq("asdf").toDF("src_key")))
    // downstream receives the retraction {key, value: []} (index.js:190):
    // src key 'asdf' is deleted from the secondary too
    val emptyUpserts = Seq.empty[String].toDF("key").withColumn("value",
      lit(null).cast("array<struct<emit_key:string,emit_value:int>>"))
    val sview2 = store.load(secondary).refresh(
      emptyUpserts, Some(Seq("asdf").toDF("src_key")))
    assert(values(sview2.get("test2")) === Seq(9))
    // full recompute from the retracted upstream agrees
    val recomputed = v2.cascadeInto(MapIndex.columns("secondary3b")(col("key"),
      array(emit(lit("test2"), col("value")(0)("emit_value")))))
    assert(values(recomputed.get("test2")) === Seq(9))
  }

  test("durable store root: reopen reuses views on fingerprint match, rebuilds on roll") {
    import java.nio.file.Files
    val corpus = Files.createTempDirectory("graft-corpus-")
    entries("a" -> 1, "b" -> 2).write.parquet(corpus.resolve("t.parquet").toString)
    val root = Files.createTempDirectory("graft-durable-").toString
    val idx = MapIndex.columns("durable_view")(col("key"),
      array(emit(col("key"), col("test"))))

    val s1 = graft.engine.Views.durableStore(spark, root, corpus.toString)
    idx.materialize(spark.read.parquet(corpus.resolve("t.parquet").toString), s1)
    assert(s1.latestVersion(idx.name).contains(0))

    // a second store instance over the same root + unchanged corpus serves
    // the existing materialization — no recompute, same rows
    val s2 = graft.engine.Views.durableStore(spark, root, corpus.toString)
    assert(s2.latestVersion(idx.name).contains(0),
      "second open must reuse the on-disk materialization")
    assert(s2.load(idx).df.count() === 2)

    // rewriting the corpus under the same path rolls the fingerprint: the
    // store restarts empty rather than serving views of the old data
    entries("a" -> 1, "b" -> 2, "c" -> 3).write.mode("overwrite")
      .parquet(corpus.resolve("t.parquet").toString)
    val s3 = graft.engine.Views.durableStore(spark, root, corpus.toString)
    assert(s3.latestVersion(idx.name).isEmpty,
      "fingerprint roll must force a rebuild")
  }

  test("durable routing: ANN + pair-graph units serve on reopen; roll wipes them") {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    import graft.engine.Views
    import graft.operators.{PipelineQueries, SimilarityQueries}
    def copyTree(from: Path, to: Path): Unit = {
      val stream = Files.walk(from)
      try stream.forEach { p =>
        val dest = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dest)
        else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
      } finally stream.close()
    }
    // private corpus copy: the durable key is the corpus dir, so this
    // test never touches the shared testdata stores
    val corpus = Files.createTempDirectory("graft-durcorpus-")
    copyTree(Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      corpus.resolve("embeddings.parquet"))
    copyTree(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      corpus.resolve("documents.parquet"))
    val root = Files.createTempDirectory("graft-durroot-").toString
    sys.props("graft.views.root") = root
    try {
      SimilarityQueries.sqTopKFromView(spark, corpus.toString).collect()
      SimilarityQueries.ivfpqTopKFromView(spark, corpus.toString).collect()
      PipelineQueries.queries("dedup_pairs_incremental")(spark, corpus.toString).collect()
      val search = PipelineQueries.queries("search_bm25_incremental")(spark, corpus.toString)
        .collect().toSeq
      val flat = Views.store(spark, corpus.toString)
      val bm25V = flat.latestVersion("doc_postings_bm25_inc")
      val lenV = flat.latestVersion("doc_lengths_inc")
      assert(bm25V.isDefined && lenV.isDefined)
      val store = Views.bucketedStore(spark, corpus.toString)
      val sqE = store.epoch("emb_sq8_inc")
      val pqE = store.epoch("emb_ivfpq_cells")
      val pgE = store.epoch("pairgraph_inc_pairs")
      assert(Views.unitDone(store.baseDir, "emb_sq8_inc"))
      assert(Views.unitDone(store.baseDir, "emb_ivfpq_cells"))
      assert(Views.unitDone(store.baseDir, "pairgraph_inc"))
      // fresh-process simulation: per-JVM caches dropped, same root —
      // the reopened store must SERVE both units (same epochs, no
      // re-materialization, probe scale read from the persisted model)
      Views.dropStoresForTest(corpus.toString)
      SimilarityQueries.sqTopKFromView(spark, corpus.toString).collect()
      // the IVF-PQ reopen additionally parses the persisted mixed model
      // (64-dim centroid rows ++ 8-dim codebook rows, split by length)
      SimilarityQueries.ivfpqTopKFromView(spark, corpus.toString).collect()
      PipelineQueries.queries("dedup_pairs_incremental")(spark, corpus.toString).collect()
      assert(PipelineQueries.queries("search_bm25_incremental")(spark, corpus.toString)
        .collect().toSeq === search)
      val flat2 = Views.store(spark, corpus.toString)
      assert(flat2.latestVersion("doc_postings_bm25_inc") === bm25V,
        "reopen must serve the incremental BM25 postings unit, not rebuild it")
      assert(flat2.latestVersion("doc_lengths_inc") === lenV,
        "reopen must serve the incremental length-stats unit, not rebuild it")
      val store2 = Views.bucketedStore(spark, corpus.toString)
      assert(store2.epoch("emb_sq8_inc") === sqE,
        "reopen must serve the SQ8 unit, not rebuild it")
      assert(store2.epoch("emb_ivfpq_cells") === pqE,
        "reopen must serve the IVF-PQ unit from its persisted model")
      assert(store2.epoch("pairgraph_inc_pairs") === pgE,
        "reopen must serve the pair-graph unit, not rebuild it")
      // corpus rewrite rolls the fingerprint: the store restarts empty,
      // taking the unit markers (and models) with it. (The fingerprint
      // walks regular FILES — touch a part file, whether the table is a
      // single parquet file or a directory of parts.)
      val table = corpus.resolve("documents.parquet")
      val part =
        if (Files.isRegularFile(table)) table
        else {
          val s = Files.list(table)
          try s.filter(Files.isRegularFile(_)).findFirst().get finally s.close()
        }
      Files.setLastModifiedTime(part,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
      Views.dropStoresForTest(corpus.toString)
      val store3 = Views.bucketedStore(spark, corpus.toString)
      assert(!Views.unitDone(store3.baseDir, "pairgraph_inc"),
        "fingerprint roll must wipe the unit markers")
      assert(store3.manifest("pairgraph_inc_pairs").isEmpty)
    } finally {
      sys.props -= "graft.views.root"
      Views.dropStoresForTest(corpus.toString)
    }
  }

  test("durable bucketed store: reopen serves the manifest; roll rebuilds") {
    import java.nio.file.Files
    val corpus = Files.createTempDirectory("graft-corpus-")
    entries("a" -> 1, "b" -> 2, "c" -> 3).write
      .parquet(corpus.resolve("t.parquet").toString)
    val root = Files.createTempDirectory("graft-durable-").toString
    val idx = MapIndex.columns("durable_bucketed")(col("key"),
      array(emit(col("key"), col("test"))))

    val s1 = graft.engine.Views.durableBucketedStore(spark, root, corpus.toString,
      numBuckets = 4)
    s1.materialize(idx, spark.read.parquet(corpus.resolve("t.parquet").toString))
    assert(s1.manifest(idx.name).nonEmpty)

    // reopen over the unchanged corpus: manifest and data served as-is
    val s2 = graft.engine.Views.durableBucketedStore(spark, root, corpus.toString,
      numBuckets = 4)
    assert(s2.manifest(idx.name).nonEmpty, "reopen must reuse the manifest")
    assert(s2.get(idx.name, "b").as[Int].collect().toSeq === Seq(2))
    // a DIFFERENT bucketing opens a different (empty) flavor, never
    // misreads the existing layout
    val sOther = graft.engine.Views.durableBucketedStore(spark, root, corpus.toString,
      numBuckets = 8)
    assert(sOther.manifest(idx.name).isEmpty)

    // corpus rewrite rolls the fingerprint → the flavor restarts empty
    entries("a" -> 9).write.mode("overwrite")
      .parquet(corpus.resolve("t.parquet").toString)
    val s3 = graft.engine.Views.durableBucketedStore(spark, root, corpus.toString,
      numBuckets = 4)
    assert(s3.manifest(idx.name).isEmpty, "fingerprint roll must force a rebuild")
  }
}
