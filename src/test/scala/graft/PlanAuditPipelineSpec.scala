package graft

/** Plan audits of the text pipeline family (`PipelineQueries`): stored
  * dedup pairs, shared posting exchanges, search and data-mixing shapes. */
class PlanAuditPipelineSpec extends PlanAudit {

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

  test("dedup_ngram_jaccard: the posting-list exchange is computed once and reused") {
    // the pair branch and the sizes branch both read the same shuffled
    // posting aggregation — the corpus is scanned and shingled exactly once
    val p = finalPlan("dedup_ngram_jaccard")
    assert(p.contains("ReusedExchange"), s"posting exchange must be shared:\n$p")
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

  test("pipeline_pack_sequences: pack aggregation reuses the window's partitioning") {
    // window partitions by source; the (source, pack_id) groupBy must not
    // add another exchange — hash(source) already clusters it
    val p = finalPlan("pipeline_pack_sequences")
    val exchanges = p.split("Exchange hashpartitioning").length - 1
    assert(exchanges <= 1, s"expected one hash exchange (the window's), got $exchanges:\n$p")
  }

  test("dedup_winnow: the posting-list exchange is computed once and reused") {
    // the shared-posting core serves both the pair branch and the sizes
    // branch; the fingerprint scan + shuffle must run exactly once
    val p = finalPlan("dedup_winnow")
    assert(p.contains("ReusedExchange"), s"posting exchange must be shared:\n$p")
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
}
