package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the performance-critical plan shapes the engine
  * promises (pushdown, column pruning, broadcast dims, top-k without a
  * global sort, exchange reuse) asserted against the EXECUTED plan, so a
  * refactor that silently degrades a plan fails a test rather than a
  * benchmark at scale. One suite per query family, so the forked test
  * groups can run the families side by side. */
trait PlanAudit extends AnyFunSuite with SparkSpec {

  protected val sf = "/root/testdata/sf0.001"

  /** Executed-plan string after the adaptive plan finalizes. AQE's
    * toString appends the pre-adaptive "Initial Plan" section — slice it
    * off so operator COUNTS reflect only what actually ran. */
  protected def finalPlan(q: String, dir: String = sf): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }
}
