package graft

/** Plan audits of the relational and TPC-H family (`RelationalQueries`):
  * top-k, pushdown, broadcast dims, exchange reuse, as-of joins. */
class PlanAuditRelationalSpec extends PlanAudit {

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

  test("join_cross plans as BroadcastNestedLoopJoin — no shuffle for tiny x tiny") {
    val p = finalPlan("join_cross")
    assert(p.contains("BroadcastNestedLoopJoin"), s"cartesian should broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"cross of broadcast-small sides must not shuffle:\n$p")
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
}
