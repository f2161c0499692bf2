package graft

/** Plan audits of the ANN and embedding family (`SimilarityQueries`):
  * bulk probes, quantized and cell-pruned index scans, per-cell heaps. */
class PlanAuditSimilaritySpec extends PlanAudit {

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
}
