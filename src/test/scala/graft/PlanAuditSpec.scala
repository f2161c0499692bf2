package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the performance-critical plan shapes the engine
  * promises (pushdown, column pruning, broadcast dims, top-k without a
  * global sort, exchange reuse) asserted against the EXECUTED plan, so a
  * refactor that silently degrades a plan fails a test rather than a
  * benchmark at scale. */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Executed-plan string after the adaptive plan finalizes. AQE's
    * toString appends the pre-adaptive "Initial Plan" section — slice it
    * off so operator COUNTS reflect only what actually ran. */
  private def finalPlan(q: String, dir: String = sf): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("stored pair reads never re-derive the shingle pipeline in-plan") {
    // the whole point of materializing the pair graph: a consumer's plan
    // is a parquet read of the stored relation — no shingling, no
    // posting aggregation, no join anywhere in the executed plan. The
    // maintained components labeling earns the same contract: serving it
    // must be a stored read, not a per-query resolution loop
    for (q <- Seq("dedup_pairs_view", "dedup_pairs_incremental",
        "dedup_components_incremental")) {
      val p = finalPlan(q)
      assert(!p.contains("shingle_hashes"),
        s"$q must serve the STORED pairs, not re-derive them:\n$p")
      assert(!p.contains("Join"), s"$q must be a pure stored read:\n$p")
    }
  }

  test("bulk ANN paths: no driver In-list, no broadcast — shuffle joins throughout") {
    // the bulk-probe contract: nothing scales with an In-list and no
    // probe relation is broadcast; every candidate/score join is a
    // shuffle join, so the same plan survives a data-sized probe batch
    import graft.operators.SimilarityQueries
    for ((name, df) <- Seq(
        "lshTopKBulk" -> SimilarityQueries.lshTopKBulk(spark, sf),
        "ivfTopKBulk" -> SimilarityQueries.ivfTopKBulk(spark, sf))) {
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("ShuffledHashJoin"), s"$name: expected hinted shuffle joins:\n$p")
      assert(!p.contains("BroadcastHashJoin"),
        s"$name: bulk path must not broadcast probes or index rows:\n$p")
      assert(!p.contains("isInCollection") && !p.contains(" In(emit_key"),
        s"$name: bulk path must not collect keys to the driver:\n$p")
    }
  }

  test("sqTopKBulk: no probe broadcast, no windows — bounded-heap selection throughout") {
    import graft.operators.SimilarityQueries
    val df = SimilarityQueries.sqTopKBulk(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the corpus × probes scoring scan is a shuffle-replicated cartesian,
    // never a broadcast of either side
    assert(p.contains("CartesianProduct"), s"expected the hinted cartesian scan:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"bulk SQ path must not broadcast probes or corpus:\n$p")
    assert(!p.contains("isInCollection") && !p.contains(" In(emit_key"),
      s"bulk SQ path must not collect keys to the driver:\n$p")
    // per-probe selection is the bounded-heap aggregate (partial-merge
    // ObjectHashAggregate), not a window over every scored row
    assert(!p.contains("Window"), s"bulk SQ path must not window-sort:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"expected topk_by heap aggregation:\n$p")
  }

  test("LM scoring is served from maintained state — no corpus scan, no re-tokenization") {
    // the scale promise of text_lm_score: per-doc (token, tf, dl) from
    // the STORED postings, collection frequencies from the token-count
    // aggregate state, total from the one-row length stats — the
    // executed plan reads exactly those three stored relations and never
    // touches documents.parquet or re-tokenizes anything
    val p = finalPlan("text_lm_score")
    assert(!p.contains("documents.parquet"),
      s"LM scoring must not scan the corpus at query time:\n$p")
    for (v <- Seq("doc_postings_bm25", "doc_unigrams__state", "doc_lengths__state"))
      assert(p.contains(v), s"expected a stored read of $v:\n$p")
    assert(!p.contains("array_distinct") && !p.contains("split("),
      s"tokenization happens at view-write time, never in the serving plan:\n$p")
    // column pruning reaches the state scans: the token state reads only
    // (emit_key, sum_value), never cnt/min/max
    assert(p.contains("ReadSchema: struct<emit_key:string,sum_value:decimal(28,4)>"),
      s"token-count state scan must prune to key + sum:\n$p")
  }

  test("semanticDupPairs: within-cell equi-join, never a corpus-wide cartesian") {
    // SemDeDup's scale shape: the pair scan is an equi-join on the cell
    // id, so the quadratic work is bounded by cell populations — a plan
    // regression to a cartesian/theta-join would be O(n²) corpus-wide
    val df = graft.operators.SimilarityQueries.semanticDupPairs(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"within-cell pair scan must stay an equi-join on the cell id:\n$p")
  }

  test("pqTopKBulk: no probe broadcast, no windows — bounded-heap selection over stored codes") {
    import graft.operators.SimilarityQueries
    val df = SimilarityQueries.pqTopKBulk(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("CartesianProduct"), s"expected the hinted ADC cartesian scan:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"bulk flat-PQ path must not broadcast probes or corpus:\n$p")
    assert(!p.contains("isInCollection") && !p.contains(" In(emit_key"),
      s"bulk flat-PQ path must not collect keys to the driver:\n$p")
    assert(!p.contains("Window"), s"bulk flat-PQ path must not window-sort:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"expected topk_by heap aggregation:\n$p")
    assert(p.contains("array<tinyint>"), s"PQ codes must be read:\n$p")
  }

  test("span verify tier: the corpus is semi-join pruned, never shuffled to meet candidates") {
    // the hash-keyed span stores' exactness rests on re-extracting text
    // for the candidate set — the corpus side must reach that join
    // through a BROADCAST semi prune on candidate doc ids (duplicate-
    // sized), not a full hash shuffle of every document's token array
    val p = finalPlan("dedup_substring_removal")
    assert(!p.contains("SortMergeJoin") ||
      !p.linesIterator.exists(l => l.contains("SortMergeJoin") && l.contains("LeftSemi")),
      s"the corpus prune must not sort-merge-shuffle the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate doc ids must broadcast into the corpus prune:\n$p")
  }

  test("ivfsqTopKBulk: semi-join cell prune, heap selection, nothing broadcast") {
    import graft.operators.SimilarityQueries
    val df = SimilarityQueries.ivfsqTopKBulk(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ShuffledHashJoin"), s"expected hinted shuffle joins:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"bulk composed path must not broadcast probes or index rows:\n$p")
    assert(!p.contains("isInCollection") && !p.contains(" In(emit_key"),
      s"bulk composed path must not collect cell ids to the driver:\n$p")
    assert(!p.contains("Window"), s"bulk composed path must not window-sort:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"expected topk_by heap aggregation:\n$p")
    assert(p.contains("array<tinyint>"), s"quantized codes must be read:\n$p")
  }

  test("ivfpqTopKBulk: semi-join cell prune, heap selection, nothing broadcast") {
    import graft.operators.SimilarityQueries
    val df = SimilarityQueries.ivfpqTopKBulk(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ShuffledHashJoin"), s"expected hinted shuffle joins:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"bulk composed path must not broadcast probes or index rows:\n$p")
    assert(!p.contains("isInCollection") && !p.contains(" In(emit_key"),
      s"bulk composed path must not collect cell ids to the driver:\n$p")
    assert(!p.contains("Window"), s"bulk composed path must not window-sort:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"expected topk_by heap aggregation:\n$p")
    assert(p.contains("array<tinyint>"), s"PQ codes must be read:\n$p")
  }

  test("IVF-PQ: stored scan is cell-pruned and reads M-byte codes") {
    import graft.operators.SimilarityQueries
    val df = SimilarityQueries.ivfpqTopKFromView(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the probed cell ids reach the stored parquet scan as a pushed
    // In-filter, and candidate scoring reads array<tinyint> codes — the
    // only float-vector reads are the probe relation and the exact rerank
    assert(p.contains("In(emit_key"), s"cell prune must push to the stored scan:\n$p")
    assert(p.contains("array<tinyint>"), s"PQ codes must be read:\n$p")
    assert(p.contains("pq_adc"), s"ADC scoring must run on the stored codes:\n$p")
  }

  test("IVF-SQ8: stored scan is cell-pruned and reads int8 codes, no floats") {
    import graft.operators.SimilarityQueries
    val df = SimilarityQueries.ivfsqTopKFromView(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the probed cell ids reach the stored parquet scan as a pushed
    // In-filter — the search reads only the probed posting lists
    assert(p.contains("In(emit_key"), s"cell prune must push to the stored scan:\n$p")
    // the composed view stores int8 codes; the candidate scoring pass
    // reads array<tinyint>, and the ONLY float-vector reads left are the
    // probe relation and the K·refine rerank against the corpus table
    assert(p.contains("array<tinyint>"), s"quantized codes must be read:\n$p")
    assert(!p.contains("emb_ivfsq_cells") || {
      val scanLines = p.linesIterator.filter(l =>
        l.contains("emb_ivfsq_cells") && l.contains("ReadSchema")).toSeq
      scanLines.forall(!_.contains("array<double>"))
    }, s"the stored IVF-SQ8 scan must not read float vectors:\n$p")
  }

  test("topk_orders: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = finalPlan("topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"top-k must not range-shuffle the whole table:\n$p")
  }

  test("q3: every dim filter reaches its scan, dims broadcast, top-10 is TakeOrdered") {
    val p = finalPlan("q3_shipping")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), s"customer pushdown missing:\n$p")
    assert(p.contains("LessThan(o_orderdate"), s"orders pushdown missing:\n$p")
    assert(p.contains("GreaterThan(l_shipdate"), s"lineitem pushdown missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"filtered dim should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must not global-sort:\n$p")
  }

  test("q14: lineitem scan is column-pruned to the 4 needed columns and date-filtered") {
    val p = finalPlan("q14_promo")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"date pushdown missing:\n$p")
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp_ntz>"),
      s"lineitem read must prune to 4 columns:\n$p")
  }

  test("q5: the region filter is pushed and the dim chain broadcasts") {
    val p = finalPlan("q5_region_revenue")
    assert(p.contains("EqualTo(r_name,ASIA)"), s"region pushdown missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dims should broadcast:\n$p")
  }

  test("dedup_ngram_jaccard: the posting-list exchange is computed once and reused") {
    // the pair branch and the sizes branch both read the same shuffled
    // posting aggregation — the corpus is scanned and shingled exactly once
    val p = finalPlan("dedup_ngram_jaccard")
    assert(p.contains("ReusedExchange"), s"posting exchange must be shared:\n$p")
  }

  test("mapindex_asofjoinview_byright: pruned twin-bucket read, no serve-time re-pick") {
    val df = SparkEntry.queries("mapindex_asofjoinview_byright")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the attribution pick ran at maintenance time; serving the twin is
    // a key-addressed read (no window, no join against the main view)
    assert(!p.contains("Window"), s"byright serving must not re-pick:\n$p")
    val twinFiles = df.inputFiles.filter(_.contains("purchase_click_asof_rk__byright"))
    assert(twinFiles.nonEmpty, s"the right-keyed twin must feed the read:\n$p")
    val kb = twinFiles.flatMap("kb=\\d+".r.findFirstIn(_)).toSet
    val total = graft.engine.Views.bucketedStore(spark, sf).numBuckets
    assert(kb.size < total,
      s"expected a bucket-pruned twin read, saw ${kb.size}/$total buckets:\n$p")
  }

  test("multi-measure rollup and lattice serving is state-only") {
    for (q <- Seq("mapindex_joinview_agg_measures", "mapindex_lattice_measures")) {
      val pm = finalPlan(q)
      assert(!pm.contains("orders.parquet") && !pm.contains("customer.parquet"),
        s"$q must serve from its state relation alone:\n$pm")
      assert(!pm.contains("Join"), s"$q serving must be join-free:\n$pm")
    }
  }

  test("mapindex_get: the point lookup is pushed into the parquet scan") {
    val p = finalPlan("mapindex_get")
    assert(p.contains("EqualTo(emit_key"), s"emit_key lookup must push down:\n$p")
  }

  /** Jobs, stages and shuffle records of one action, counted by a
    * listener after the bus has delivered every event. */
  private def counted[T](body: => T): (T, Int, Int, Long) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffled.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
    }
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.TestListenerBus.drain(sc)
      (r, jobs.get, stages.get, shuffled.get)
    } finally sc.removeSparkListener(l)
  }

  test("small stored-view reads: a repeated get, scan and countRange run one job each, no exchange") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.engine.{MapIndex, ViewStore}
    val s = spark
    import s.implicits._
    val idx = MapIndex.columns("serve_small")(col("key"),
      array(MapIndex.emit(col("test") % 50, col("test"))))
    val view = idx.materialize((1 to 500).map(i => s"k$i" -> i).toDF("key", "test"),
      ViewStore.temp(spark))
    val reads = Seq[(String, () => Long)](
      "get" -> (() => view.get(7).collect().length.toLong),
      "scan" -> (() => view.scan(Some(3), Some(9)).collect().length.toLong),
      "countRange" -> (() => view.countRange(Some(3), Some(9))))
    for ((name, read) <- reads) {
      val first = read() // the first read of a version resolves its dir
      val (n, jobs, stages, shuffled) = counted(read())
      assert(n === first && n === (if (name == "get") 10L else 60L), s"$name answer")
      assert(jobs === 1 && stages === 1, s"$name ran $jobs jobs / $stages stages")
      assert(shuffled === 0L, s"$name shuffled $shuffled records")
    }
    for (df <- Seq(view.get(7), view.scan(Some(3), Some(9)))) {
      df.collect()
      // the helper's collect also walks an adaptive plan's final stages
      val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(df.queryExecution.executedPlan) { case e: Exchange => e }
      assert(exchanges.isEmpty, s"small reads need no exchange:\n${df.queryExecution.executedPlan}")
    }
  }

  test("small stored-view reads bind their keys: new keys compile nothing, push down, answer as lit") {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions._
    import graft.engine.{MapIndex, MaterializedView, ViewStore}
    val s = spark
    import s.implicits._
    val store = ViewStore.temp(spark)
    val src = (1 to 500).map(i => s"k$i" -> i).toDF("key", "test")
    def view(name: String, key: Column) =
      MapIndex.columns(name)(col("key"), array(MapIndex.emit(key, col("test")))).materialize(src, store)
    val ints = view("serve_small", col("test") % 50)
    val longs = view("serve_small_long", (col("test") % 50).cast("long") + 1000000L)
    val strings = view("serve_small_str", format_string("k%03d", col("test") % 50))

    // one warm get, scan and countRange, then five keys never read before
    def reads(k: Int): Unit = {
      ints.get(k).collect(); ints.scan(Some(k), Some(k + 6)).collect(); ints.countRange(Some(k), Some(k + 6))
    }
    reads(3)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Seq(11, 19, 23, 31, 42).foreach(reads)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles === 0L,
      "reads that differ only in their keys must reuse the compiled classes")

    def plan(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    def lits(lo: Option[Any], hi: Option[Any]): Column =
      (lo.map(col("emit_key") >= lit(_)) ++ hi.map(col("emit_key") < lit(_))).reduce(_ && _)
    // Int keys on an int column, Long and String keys on theirs, and Int
    // keys on the long column: the analyzer casts those, and the folded
    // cast is a plain literal again
    val cases = Seq[(String, MaterializedView, Any, Any)](
      ("int", ints, 7, 13), ("long", longs, 1000007L, 1000013L),
      ("string", strings, "k007", "k013"), ("int on long", longs, 1000007, 1000013))
    for ((name, v, k, hi) <- cases) {
      val get = v.get(k)
      val p = plan(get)
      assert(p.contains("EqualTo(emit_key"), s"$name: point lookup must push down:\n$p")
      val want = v.df.filter(col("emit_key") === lit(k)).orderBy("uid").select("emit_value").collect()
      assert(want.length === 10 && get.collect().toSeq === want.toSeq, s"$name get")
      val scan = v.scan(Some(k), Some(hi))
      val q = plan(scan)
      assert(q.contains("GreaterThanOrEqual(emit_key") && q.contains("LessThan(emit_key"),
        s"$name: range bounds must push down:\n$q")
      for ((lo, up) <- Seq((Some(k), Some(hi)), (Some(k), None), (None, Some(hi)))) {
        val ref = v.df.filter(lits(lo, up))
        assert(v.scan(lo, up).collect().toSeq ===
          ref.orderBy("emit_key", "uid").collect().toSeq, s"$name scan $lo $up")
        assert(v.countRange(lo, up) === ref.count(), s"$name countRange $lo $up")
      }
      assert(v.countRange(Some(k), Some(hi)) === 60L, s"$name range size")
    }
  }

  test("mapindex_bucketed_get: one bucket read, key pushed into its scan") {
    val df = SparkEntry.queries("mapindex_bucketed_get")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("EqualTo(emit_key"), s"point lookup must push down:\n$p")
    // the single-bucket prune: exactly one kb=<i> directory feeds the scan
    // (inputFiles, not the plan string — Spark truncates Location at ~100
    // chars, so a long temp-dir name can elide the kb= ids from the plan)
    val kbPaths = df.inputFiles.flatMap("kb=\\d+".r.findFirstIn(_)).toSet
    assert(kbPaths.size === 1, s"expected one bucket path, saw $kbPaths:\n$p")
  }

  test("join_cross plans as BroadcastNestedLoopJoin — no shuffle for tiny x tiny") {
    val p = finalPlan("join_cross")
    assert(p.contains("BroadcastNestedLoopJoin"), s"cartesian should broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"cross of broadcast-small sides must not shuffle:\n$p")
  }

  test("mapindex_prefix: the StartsWith predicate pushes into the scan") {
    val p = finalPlan("mapindex_prefix")
    assert(p.contains("StringStartsWith(emit_key,p"), s"prefix pushdown missing:\n$p")
  }

  test("mapindex_rangebucketed_scan: narrow range reads only covering buckets") {
    val df = SparkEntry.queries("mapindex_rangebucketed_scan")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // lineitem flags are A/N/R in three separate range buckets; the [A,N)
    // scan qualifies only A's bucket — a whole-bucket prune the hash
    // layout can't do.
    // inputFiles, not the plan string: Spark truncates Location at ~100
    // chars, so a long temp-dir name can elide the kb= ids from the plan
    val kbPaths = df.inputFiles
      .flatMap("kb=(\\d+)".r.findFirstMatchIn(_)).map(_.group(1).toInt).toSet
    // the covering set is EXACTLY {0}: the exclusive end N sits on the
    // first boundary, so N's own bucket (kb=1) holds no key < N and must
    // be pruned too — not just R's (the weaker assertion that once masked
    // a boundary-aligned off-by-one in the covering computation)
    assert(kbPaths === Set(0),
      s"covering set for [A,N) over boundaries N,R,S must be exactly {0}, saw $kbPaths:\n$p")
    // and the row-group pruning predicates still reach the scan
    assert(p.contains("GreaterThanOrEqual(emit_key"), s"range pushdown missing:\n$p")
    assert(p.contains("LessThan(emit_key"), s"upper bound pushdown missing:\n$p")
  }

  test("mapindex_bucketed_scan: range predicates push into the bucket files") {
    // hash layout cannot prune whole buckets by range, so the row-group
    // pruning inside each (emit_key, uid)-sorted bucket is the read bound
    val p = finalPlan("mapindex_bucketed_scan")
    assert(p.contains("GreaterThanOrEqual(emit_key"), s"range pushdown missing:\n$p")
    assert(p.contains("LessThan(emit_key"), s"upper bound pushdown missing:\n$p")
  }

  test("search_hybrid_rrf: per-arm top-50 is TakeOrderedAndProject; no single-partition sort") {
    // each fusion arm must select its top-50 with per-partition heaps
    // (TakeOrderedAndProject — 50·partitions rows move), never by pulling
    // every scored row through one task; the rank number is assigned
    // AFTER the limit, over the already-single-sorted-partition result,
    // so no Exchange SinglePartition and no global sort exist anywhere
    val p = finalPlan("search_hybrid_rrf")
    val takes = p.split("TakeOrderedAndProject").length - 1
    assert(takes >= 2, s"both arms must TakeOrdered their top-50, saw $takes:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no data-sized relation may funnel through one partition:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no arm may global-sort its scored relation:\n$p")
  }

  test("search_tfidf: the term filter reaches the postings scan; df broadcasts; top-k") {
    val p = finalPlan("search_tfidf")
    assert(p.contains("In(emit_key, [join,spark,stream,vector])"),
      s"term filter must push into the postings scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df side must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not global-sort:\n$p")
  }

  test("ivfTopKFromView: the probed-cell In-filter pushes into the stored cells scan") {
    // the persisted IVF index must serve a probe by reading ONLY the
    // probed posting lists: the (driver-bounded, nProbe·probes) cell-id
    // set becomes an In predicate on the clustered emit_key
    val df = operators.SimilarityQueries.ivfTopKFromView(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("In(emit_key"), s"probed-cell filter must push into the scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe side must broadcast:\n$p")
  }

  test("IVF assignment rides the centroid model as a reference object, never literals; probe scan is cell-pruned") {
    // the scale-true quantizer contract: nCells ∝ √n UNCLAMPED, which is
    // only possible because centroid assignment is ONE nearest_cells node
    // holding the matrix as a codegen reference — the per-centroid
    // literal spelling (array_min over nCells struct literals) bounds
    // nCells by Janino limits and once forced a MaxCells=64 clamp that
    // capped the prune at ~4x at any corpus size
    import graft.operators.SimilarityQueries
    val df = SimilarityQueries.ivfTopKFromView(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("nearest_cells"),
      s"probe cell ranking must be the reference-object expression:\n$p")
    // no literal-array assignment shape anywhere in the plan: the old
    // spelling rendered one `-2.0 * vec_dot(v, [..64 doubles..])` term
    // per centroid; the reference spelling renders none
    assert(!p.contains("array_min(array(struct") && !p.contains("-2.0"),
      s"assignment must not compile centroid literals into the plan:\n$p")
    // the pushed In-list enumerates at most nProbe cells per probe, and
    // strictly fewer cells than the store holds — the probe batch reads
    // a pruned subset, not the corpus
    val inList = "In\\(emit_key, \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(inList.isDefined, s"expected a pushed In(emit_key, [...]) filter:\n$p")
    val probedCells = inList.get.group(1).split(",").length
    val totalCells = graft.engine.Views.bucketedStore(spark, sf)
      .df("emb_ivf_cells").select("emit_key").distinct().count()
    val nProbe = SimilarityQueries.probesFor(
      SimilarityQueries.cellsFor(spark.read.parquet(s"$sf/embeddings.parquet").count()))
    assert(probedCells <= 10 * nProbe,
      s"10 probes x nProbe=$nProbe cells bound the In-list, saw $probedCells")
    assert(probedCells < totalCells,
      s"probe scan must read a strict subset of the $totalCells stored cells, saw $probedCells")
  }

  test("sample_cluster_balance: bounded-heap per cell over the stored view — no window, no join") {
    // diversity sampling must not sort cells (topk_by keeps an M-heap
    // per cell) and must read the maintained cell relation, not
    // re-cluster the corpus
    val p = finalPlan("sample_cluster_balance")
    assert(!p.contains("Window"), s"per-cell cap must not window-sort:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"expected topk_by heap aggregation:\n$p")
    assert(!p.contains("Join"), s"serving must be a stored read, join-free:\n$p")
  }

  test("mapindex_joinview serves as a stored read: no join in the executed plan") {
    // the whole point of the delta-join view: consumers read the
    // materialized relation — the join ran at maintenance time, never at
    // query time
    val p = finalPlan("mapindex_joinview")
    assert(!p.contains("Join"), s"join-view serving must not re-join:\n$p")
    assert(p.contains("parquet"), s"serving must be a parquet read:\n$p")
  }

  test("events_funnel: the cascaded stage windows share ONE user_id exchange") {
    // the funnel's sequential dependency is two strictly-preceding
    // windows + derived flags — all over the same (user_id, ts) spec, so
    // the fact must shuffle exactly once and both Window operators run
    // on that one partitioning (per-stage self-joins would shuffle it
    // three times)
    val p = finalPlan("events_funnel")
    assert(p.split("Window").length - 1 >= 2,
      s"expected the two cascaded window operators:\n$p")
    // exactly one user_id exchange feeds both windows (the only other
    // hash exchange is the count-DISTINCT Expand re-aggregation, which
    // runs over the distinct user sets, not the fact)
    assert(p.split(java.util.regex.Pattern.quote("Exchange hashpartitioning(user_id")).length - 1 == 1,
      s"the funnel must shuffle the fact on user_id exactly once:\n$p")
    assert(!p.contains("Join"), s"the funnel must be join-free:\n$p")
  }

  test("q9/q16/q20: dims broadcast; the fact is scanned once per query") {
    // q9: the name-filtered part list, supplier and nation are dim-sized
    // and must broadcast; lineitem (the fact) is scanned exactly once
    val p9 = finalPlan("q9_profit", "/root/testdata/sf0.01")
    assert(p9.contains("BroadcastHashJoin"), s"q9 dims must broadcast:\n$p9")
    assert(p9.split("lineitem.parquet").length - 1 == 1,
      s"q9 must scan the fact exactly once:\n$p9")
    // q16: the negative-balance exclusion list is #suppliers-sized — the
    // null-aware NOT IN must execute as a broadcast anti join, never a
    // shuffle of the fact against it
    val p16 = finalPlan("q16_supplier_cnt", "/root/testdata/sf0.01")
    assert(p16.contains("BroadcastNestedLoopJoin") || p16.contains("BroadcastHashJoin"),
      s"q16 NOT-IN exclusion must broadcast:\n$p16")
    // q20: the qualifying-supplier set (grouped HAVING over the promo
    // window) is dim-bounded and must come back as a broadcast semi join
    val p20 = finalPlan("q20_promo_suppliers", "/root/testdata/sf0.01")
    assert(p20.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"q20 qualification must be a broadcast semi join:\n$p20")
  }

  test("correlated/scalar-subquery TPC-H shapes decorrelate and reuse their aggregates") {
    // q2's correlated min MUST decorrelate into an aggregate + join —
    // a per-row subquery re-execution would be O(rows × corpus)
    val p2 = finalPlan("q2_min_cost", "/root/testdata/sf0.01")
    assert(!p2.contains("Subquery"),
      s"correlated min must decorrelate, not re-execute per row:\n$p2")
    // q15's global max derives from the SAME revenue aggregate (AQE
    // plans a scalar subquery as its own adaptive plan, which would scan
    // the fact twice): the fact scans once, the revenue exchange is
    // reused by the max arm, and the 1-row max broadcasts back
    val p15 = finalPlan("q15_top_supplier", "/root/testdata/sf0.01")
    assert(p15.split("lineitem.parquet").length - 1 == 1,
      s"q15 must scan the fact exactly once:\n$p15")
    assert(p15.contains("ReusedExchange"),
      s"the revenue aggregate must be shared between arm and max:\n$p15")
    assert(p15.contains("BroadcastHashJoin"),
      s"the 1-row max must broadcast back:\n$p15")
    // q11's share bar likewise aggregates the per-part aggregate itself
    val p11 = finalPlan("q11_significant_parts", "/root/testdata/sf0.01")
    assert(p11.split("lineitem.parquet").length - 1 == 1,
      s"q11 must scan the fact exactly once:\n$p11")
    assert(p11.contains("ReusedExchange"),
      s"the per-part aggregate must be shared between arm and bar:\n$p11")
    assert(p11.contains("BroadcastNestedLoopJoin"),
      s"the 1-row bar must broadcast back:\n$p11")
  }

  test("pipeline_pack_sequences: pack aggregation reuses the window's partitioning") {
    // window partitions by source; the (source, pack_id) groupBy must not
    // add another exchange — hash(source) already clusters it
    val p = finalPlan("pipeline_pack_sequences")
    val exchanges = p.split("Exchange hashpartitioning").length - 1
    assert(exchanges <= 1, s"expected one hash exchange (the window's), got $exchanges:\n$p")
  }

  test("join_asof_forward, _tolerance and _nearest_native plan through AsOfJoinExec") {
    for (q <- Seq("join_asof_forward", "join_asof_tolerance")) {
      val p = finalPlan(q)
      assert(p.contains("AsOfJoin "), s"$q must use the native operator:\n$p")
    }
    val pn = finalPlan("join_asof_nearest_native")
    assert(pn.contains("AsOfJoin "),
      s"nearest must plan through the native merge operator:\n$pn")
    assert(!pn.contains("Window"),
      s"the native nearest needs no window machinery:\n$pn")
  }

  test("q21: the late-lineitem subtree is exchange-reused between semi and anti sides") {
    // sf0.01: at sf0.001 the result is empty and AQE collapses the whole
    // plan to EmptyRelation before any join shape exists to audit
    val p = finalPlan("q21_waiting", "/root/testdata/sf0.01")
    assert(p.contains("ReusedExchange"),
      s"probe and anti-build must share the late relation's exchange:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier×nation should broadcast:\n$p")
  }

  test("change feeds execute as sidecar unions: no join between snapshots") {
    // the O(delta) contract for BOTH storage layouts: a CDC read is a
    // union of per-refresh sidecar scans — a Join in this plan means a
    // snapshot diff crept back in (the one scale-killer the sidecar
    // design removed)
    for (q <- Seq("mapindex_changefeed", "mapindex_bucketed_changefeed",
        "mapindex_agg_changefeed", "mapindex_bucketed_agg_changefeed")) {
      val p = finalPlan(q)
      assert(!p.contains("Join"), s"$q must not diff snapshots:\n$p")
    }
  }

  test("dedup_winnow: the posting-list exchange is computed once and reused") {
    // the shared-posting core serves both the pair branch and the sizes
    // branch; the fingerprint scan + shuffle must run exactly once
    val p = finalPlan("dedup_winnow")
    assert(p.contains("ReusedExchange"), s"posting exchange must be shared:\n$p")
  }

  test("bytewise-encoded mixed-type keys: binary range predicates push into the scan") {
    import org.apache.spark.sql.functions._
    import graft.engine.{MapIndex, Tables, ViewStore}
    import graft.functions.BytewiseKey
    BytewiseKey.register(spark)
    val store = ViewStore.temp(spark)
    val idx = MapIndex.columns("mixed_push_audit")(
      col("event_id").cast("string"),
      array(MapIndex.emit(
        call_function("bytewise_key",
          when(col("event_id") % 3 === 0, lit("null"))
            .when(col("event_id") % 3 === 1, (col("user_id") % 100).cast("string"))
            .otherwise(concat(lit("\""), col("event_type"), lit("\"")))),
        lit(1L))))
    val v = idx.materialize(Tables.events(spark, sf), store)
    // cross-type range [first number, first string): numbers only — the
    // predicates are plain binary comparisons on the clustered emit_key,
    // so they must reach the parquet scan like any string/long range
    val scanned = v.scan(Some(BytewiseKey.encode("-1e308")),
      Some(BytewiseKey.encode("\"\"")))
    val n = scanned.count()
    assert(n > 0, "range should cover the numeric keys")
    val p = scanned.queryExecution.executedPlan.toString
    assert(p.contains("GreaterThanOrEqual(emit_key"), s"lower bound must push down:\n$p")
    assert(p.contains("LessThan(emit_key"), s"upper bound must push down:\n$p")
  }

  test("sample_stratified and pipeline_mixture stay scan-local before one aggregation") {
    for (q <- Seq("sample_stratified", "pipeline_mixture")) {
      val p = finalPlan(q)
      // exactly one pre-agg exchange (plus the final orderBy range exchange)
      val hashEx = p.split("Exchange hashpartitioning").length - 1
      assert(hashEx === 1, s"$q keep decision must not shuffle, got $hashEx:\n$p")
      assert(!p.contains("Join"), s"$q must be join-free:\n$p")
    }
  }

  test("pipeline_mixture_temperature: derived rates broadcast back; corpus never shuffles pre-agg") {
    // the rates relation is #sources-sized — it must come back to the
    // corpus as a broadcast join, and the corpus side must reach its
    // per-source aggregation without any data-sized hash exchange (the
    // only hash exchanges allowed are over the #sources-row stats/agg
    // relations, never over documents)
    val p = finalPlan("pipeline_mixture_temperature")
    assert(p.contains("BroadcastHashJoin"),
      s"derived rates must broadcast to the corpus scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus must not shuffle to meet the rates:\n$p")
  }

  test("pipeline_domain_cap: quantile pre-filter broadcasts back; the corpus never shuffle-joins") {
    // the mega-domain pre-filter's inputs (per-source quantile cut +
    // keep-safety verdict) are #sources-sized aggregates that must come
    // back to the corpus as BROADCAST joins — a shuffle join here would
    // move the corpus to meet a model-sized relation; the exact
    // prefix-sum window then sorts only the admitted candidate set
    val p = finalPlan("pipeline_domain_cap")
    assert(p.contains("BroadcastHashJoin"),
      s"cut/safety relations must broadcast back to the corpus:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus must never shuffle to meet the pre-filter:\n$p")
    assert(p.split("Window").length - 1 >= 1, s"exact window must remain:\n$p")
  }

  test("maintained-state serving never touches a corpus: percentile, topfreq, rollup") {
    // the whole point of the refcount / rollup states: serving is a read
    // of the vocabulary- or group-sized STATE relation — no lineitem or
    // orders scan, no join against a base table anywhere in the executed
    // plan. (The quantile/topfreq windows run over state rows; the rollup
    // read is a pure bucket scan with zero joins.)
    for (q <- Seq("mapindex_percentile_view", "mapindex_topfreq_view")) {
      val p = finalPlan(q)
      assert(!p.contains("lineitem.parquet"),
        s"$q must serve from maintained state, not re-scan the corpus:\n$p")
      assert(!p.contains("Join"), s"$q serving must be join-free:\n$p")
    }
    val p = finalPlan("mapindex_joinview_agg")
    assert(!p.contains("orders.parquet") && !p.contains("customer.parquet"),
      s"the rollup must serve from state, not re-join the base tables:\n$p")
    assert(!p.contains("Join"), s"rollup serving must be join-free:\n$p")
    // the multi-aggregate surface joins the TWO state relations (both
    // vocabulary-sized) — that join is fine; what must never appear is a
    // base-table scan: min/max/distinct come from the refcount state,
    // not a re-read of the join or its inputs
    val pm = finalPlan("mapindex_joinview_agg_multi")
    assert(!pm.contains("orders.parquet") && !pm.contains("customer.parquet"),
      s"multi-agg serving must read only the two state relations:\n$pm")
    // depth-2 rollup: state-only and join-free like the level-1 rollup
    val p3 = finalPlan("mapindex_joinview3_agg")
    assert(!p3.contains("orders.parquet") && !p3.contains("customer.parquet") &&
      !p3.contains("nation.parquet"),
      s"the depth-2 rollup must serve from state alone:\n$p3")
    assert(!p3.contains("Join"), s"depth-2 rollup serving must be join-free:\n$p3")
  }

  test("as-of view and lattice serving is state-only: no events/base scan, no join") {
    // the maintained as-of join serves the stored joined relation — the
    // pick (window argmax) ran at maintenance time, never at read time
    val p = finalPlan("mapindex_asofjoinview")
    assert(!p.contains("events.parquet"),
      s"the as-of view must serve stored rows, not re-scan events:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"as-of serving must be join- and window-free:\n$p")
    // the salted twin: shards add no join or window to serving either
    val psl = finalPlan("mapindex_asofjoinview_salted")
    assert(!psl.contains("events.parquet") && !psl.contains("Window"),
      s"salted as-of serving must stay a stored read:\n$psl")
    // the attribution rollup reads only its group-sized state
    val pa = finalPlan("mapindex_asofjoinview_agg")
    assert(!pa.contains("events.parquet"),
      s"attribution must serve from rollup state:\n$pa")
    assert(!pa.contains("Join"), s"attribution serving must be join-free:\n$pa")
    // both lattices serve one bucket scan of the state relation
    for (q <- Seq("mapindex_joinview_rollup_lattice",
        "mapindex_joinview_cube_lattice", "mapindex_lattice_full")) {
      val pl = finalPlan(q)
      assert(!pl.contains("orders.parquet") && !pl.contains("customer.parquet"),
        s"$q must serve from the lattice state alone:\n$pl")
      assert(!pl.contains("Join"), s"$q serving must be join-free:\n$pl")
    }
    // the semi-view rollup and the streamed lattice serve their state
    // relations alone — the membership/grouping work happened at
    // maintenance time
    for (q <- Seq("mapindex_semiview_agg", "mapindex_lattice_streamed")) {
      val ps = finalPlan(q)
      assert(!ps.contains("orders.parquet") && !ps.contains("customer.parquet"),
        s"$q must serve from state alone:\n$ps")
      assert(!ps.contains("Join"), s"$q serving must be join-free:\n$ps")
    }
    // semi/anti views serve the stored filtered relation — the
    // membership test ran at maintenance time, never at read time
    for (q <- Seq("mapindex_semiview", "mapindex_antiview")) {
      val pf = finalPlan(q)
      assert(!pf.contains("orders.parquet") && !pf.contains("customer.parquet"),
        s"$q must serve stored rows, not re-derive membership:\n$pf")
      assert(!pf.contains("Join"), s"$q serving must be join-free:\n$pf")
    }
    // r16 additions — composite-key joins and the nearest as-of serve
    // stored rows (the spelling/pick work happened at maintenance time);
    // the anti rollup serves its state join-free
    for (q <- Seq("mapindex_joinview_composite",
        "mapindex_joinview_composite_salted")) {
      val pc = finalPlan(q)
      assert(!pc.contains("orders.parquet"),
        s"$q must serve stored rows, not re-derive the composite join:\n$pc")
      assert(!pc.contains("Join"), s"$q serving must be join-free:\n$pc")
    }
    val pn = finalPlan("mapindex_asofjoinview_nearest")
    assert(!pn.contains("events.parquet") && !pn.contains("Window"),
      s"nearest as-of serving must stay a stored read:\n$pn")
    // cascaded downstream views serve stored rows like any join view
    for (q <- Seq("mapindex_semiview_cascade", "mapindex_asofjoinview_cascade")) {
      val pcc = finalPlan(q)
      assert(!pcc.contains("orders.parquet") && !pcc.contains("events.parquet") &&
        !pcc.contains("Join"),
        s"$q must serve the cascaded store join-free:\n$pcc")
    }
    val pag = finalPlan("mapindex_antiview_agg")
    assert(!pag.contains("orders.parquet") && !pag.contains("customer.parquet") &&
      !pag.contains("Join"),
      s"the anti rollup must serve from state alone, join-free:\n$pag")
    // the multi-aggregate lattice joins its TWO state relations (fine);
    // no base table may appear
    val plm = finalPlan("mapindex_lattice_multi")
    assert(!plm.contains("orders.parquet") && !plm.contains("customer.parquet"),
      s"lattice multi-agg must read only its two state relations:\n$plm")
  }

  test("windowed serves read slice state only: no events scan, no join, no window fn") {
    // full-state serve = ONE multi-path scan over every live slice (the
    // 30-way per-slice union would cost 1-2 s of planning per serve —
    // plan size must stay O(1) in slice count)
    val pw = finalPlan("mapindex_windowed_agg")
    assert(!pw.contains("events.parquet"),
      s"windowed state serving must union slice relations, not re-scan events:\n$pw")
    assert(!pw.contains("Join"), s"windowed state serving must be join-free:\n$pw")
    assert(pw.split("FileScan parquet").length - 1 == 1,
      s"the slice serve must be ONE multi-path scan, not per-slice scans:\n$pw")
    // trailing-window serve = slice partials merged group-wise; the
    // events table never appears and neither does a window function
    // (the 'window' is slice selection, not a Window operator)
    val pt = finalPlan("mapindex_windowed_agg_window")
    assert(!pt.contains("events.parquet") && !pt.contains("Window"),
      s"trailing-window serving must merge slice partials only:\n$pt")
    assert(!pt.contains("Join"), s"trailing-window serving must be join-free:\n$pt")
    // one group's series: the emit_key equality pushes through the slice
    // union into every slice scan (file/row-group pruning on the
    // (slice_start, emit_key) clustering) — and still no events read
    val ph = finalPlan("mapindex_windowed_history")
    assert(!ph.contains("events.parquet"),
      s"history serving must read slice state only:\n$ph")
    assert(ph.contains("PushedFilters: [IsNotNull(emit_key), EqualTo(emit_key,purchase)]"),
      s"the group predicate must push into the slice scans:\n$ph")
  }
}
