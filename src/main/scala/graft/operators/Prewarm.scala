package graft.operators

import org.apache.spark.sql.SparkSession

/**
 * Shared prewarm runner: executes every family's view-build steps with
 * per-step wall-clock timing on STDERR (the driver parses stdout; timing
 * lines must never land there) and labels each step's jobs so the UI /
 * event log attributes stages to builds (guide §1.5).
 *
 * Overlapping independent builds (guide §2.6) is the knob that matters
 * for fresh-store wall-clock: prewarm is untimed by the bench, but the
 * WHOLE bench invocation must fit the driver's step timeout, and the
 * builds are dozens of small sequential Spark jobs that leave most of
 * local[32] idle. `SPARK_GRAFT_PREWARM_PAR` sets the step parallelism
 * (default scales with cores — see [[parallelism]]); 1 = strictly
 * sequential. Failures in the parallel phase
 * fall back to a SEQUENTIAL retry of the failed steps in declared order:
 * store writes are claim-guarded (a racer fails loudly before bytes mix)
 * and release their claim on failure, and unit markers are written only
 * after a build unit completes, so a retried step either reloads the
 * winner's finished state or recomputes cleanly. A step that fails in
 * the retry too propagates — a broken build must fail the run, not hide.
 */
object Prewarm {
  // Default pool width scales with the session's core count: the steps
  // are mostly fixed driver-side overhead (planning/codegen/scheduling of
  // many small jobs), so the per-step times barely inflate under overlap
  // and the r18 PAR=4 wall sat exactly at sum/4 — fully packed, i.e. the
  // pool width itself was the limit. cores/4 keeps the executor slots
  // oversubscribed ~2x at most (each step's stages are cores-partitioned),
  // floored at the soak-tested 4 and capped at 8 (beyond that the two
  // ~5-minute streamed-build chains are the wall, not the pool).
  private def parallelism(spark: SparkSession): Int =
    sys.env.get("SPARK_GRAFT_PREWARM_PAR").map(_.toInt).getOrElse(
      math.min(8, math.max(4, spark.sparkContext.defaultParallelism / 4)))

  /** The prefix of every stderr line and job description. */
  private val Tag = "prewarm[all]"

  private def timed(spark: SparkSession, name: String)(f: => Unit): Unit = {
    // job descriptions are thread-local — safe under the pool
    spark.sparkContext.setJobDescription(s"$Tag: $name")
    val t0 = System.nanoTime()
    try f
    finally {
      System.err.println(
        f"$Tag $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      spark.sparkContext.setJobDescription(null)
    }
  }

  /** Measured sequential step seconds (fresh sf0.1 store, round-18
    * baseline — plans/r18/prewarm_baseline.log): longest-processing-time
    * ordering keeps the pool's tail short (a 5-minute step started last
    * IS the wall-clock tail). Unlisted steps keep declared order after
    * the heavies; staleness only costs packing efficiency, never
    * correctness — but every key must name a registered step
    * (PrewarmSpec), or a renamed step silently loses its place. */
  private[graft] val measuredWeight: Map[String, Int] = Map(
    "pipeline/streamedLmViews" -> 288,
    "mapindex/streamedOrdersCustomerView" -> 180,
    "mapindex/ordersCustomerView" -> 162,
    "mapindex/fullOuterLatticeMeasuresView" -> 127,
    "pipeline/streamedComponentsIdx" -> 127,
    "mapindex/joinSemiCascadeView" -> 104,
    "mapindex/streamedOrdersCustomerAggView" -> 101,
    "mapindex/ordersCustomerNationView" -> 97,
    "mapindex/streamedOrdersCustomerLattice" -> 94,
    "mapindex/fullOuterOrdersCustomerLattice" -> 88,
    "pipeline/postingsView" -> 86,
    "mapindex/lineitemQ1StreamedView" -> 82,
    "pipeline/incUnigramAgg" -> 81,
    "pipeline/incPostingsView" -> 79,
    "mapindex/ordersCustomerNationAggView" -> 73,
    "mapindex/fullOuterOrdersCustomerView" -> 73,
    "pipeline/bm25View" -> 71,
    "pipeline/incBm25View" -> 71,
  )

  /** Every family's build steps, named `<family>/<step>`. */
  private[graft] def steps(spark: SparkSession, dir: String): Seq[(String, () => Unit)] = {
    def tag(f: String, steps: Seq[(String, () => Unit)]) =
      steps.map { case (n, b) => (s"$f/$n", b) }
    tag("mapindex", MapIndexQueries.prewarmSteps(spark, dir)) ++
      tag("similarity", SimilarityQueries.prewarmSteps(spark, dir)) ++
      tag("pipeline", PipelineQueries.prewarmSteps(spark, dir)) ++
      tag("relational", RelationalQueries.prewarmSteps(spark, dir)) ++
      tag("layout", LayoutQueries.prewarmSteps(spark, dir))
  }

  /** One pool over EVERY family's steps — cross-family overlap lets the
    * cheap families back-fill the expensive ones' stragglers instead of
    * five sequential pools each draining to a tail.
    * Steps that reach the same build unit serialize on its lock
    * ([[graft.engine.Views.unit]]), so overlap never builds a unit twice.
    * Stable sort: heavies first by measured weight, everything else in
    * declared order behind them. */
  def all(spark: SparkSession, dir: String): Unit = {
    val ordered = steps(spark, dir).sortBy { case (n, _) => -measuredWeight.getOrElse(n, 0) }
    val t0 = System.nanoTime()
    val par = parallelism(spark)
    if (par <= 1) {
      ordered.foreach { case (n, f) => timed(spark, n)(f()) }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      val failed = new java.util.concurrent.ConcurrentHashMap[String, Boolean]
      try {
        ordered.map { case (n, f) =>
          pool.submit(new Runnable {
            def run(): Unit =
              try timed(spark, n)(f())
              catch {
                case e: Throwable =>
                  System.err.println(s"$Tag $n failed in parallel " +
                    s"phase (${e.getClass.getSimpleName}: ${e.getMessage}); " +
                    "queued for sequential retry")
                  failed.put(n, true)
              }
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      // guard: anything that lost a build race (or hit a transient) gets a
      // clean sequential second chance; a second failure is real and throws
      ordered.filter { case (n, _) => failed.containsKey(n) }
        .foreach { case (n, f) => timed(spark, s"$n (retry)")(f()) }
    }
    System.err.println(
      f"$Tag TOTAL ${(System.nanoTime() - t0) / 1e9}%8.1f s " +
        s"(parallelism $par)")
  }
}
