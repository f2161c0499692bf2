package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The prewarm registry stays consistent: a weight keyed by a step name
  * that no family registers (a renamed step) would silently drop that
  * step out of longest-first ordering. Listing the steps builds nothing,
  * so no SparkSession is needed. */
class PrewarmSpec extends AnyFunSuite {
  test("every measured weight names a registered step, and step names are unique") {
    val names = Prewarm.steps(null, "unused").map(_._1)
    assert(names.distinct.size === names.size,
      s"duplicate step names: ${names.diff(names.distinct)}")
    val unregistered = Prewarm.measuredWeight.keySet -- names
    assert(unregistered.isEmpty, s"weights for unregistered steps: $unregistered")
  }
}
