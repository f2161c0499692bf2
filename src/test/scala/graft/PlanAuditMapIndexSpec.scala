package graft

/** Plan audits of the stored and maintained views (`MapIndexQueries` and
  * the engine's view reads): pushed keys and ranges, bucket pruning,
  * state-only serving, sidecar change feeds. */
class PlanAuditMapIndexSpec extends PlanAudit {

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

  test("mapindex_joinview serves as a stored read: no join in the executed plan") {
    // the whole point of the delta-join view: consumers read the
    // materialized relation — the join ran at maintenance time, never at
    // query time
    val p = finalPlan("mapindex_joinview")
    assert(!p.contains("Join"), s"join-view serving must not re-join:\n$p")
    assert(p.contains("parquet"), s"serving must be a parquet read:\n$p")
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
