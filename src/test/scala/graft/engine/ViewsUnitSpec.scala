package graft.engine

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The build-unit contract of [[Views.unit]] — lock, memo, marker, memo
  * only on success — and the lock + memo of [[Views.cached]], on plain
  * temp dirs: no SparkSession is created (a store handle needs none until
  * it reads or writes data). */
class ViewsUnitSpec extends AnyFunSuite {
  private def tmp(): String = Files.createTempDirectory("graft-unit-").toString

  test("six threads entering one unit at once run its build once and share the instance") {
    val dir = tmp()
    // the same contract for both memo primitives: the durable unit and
    // the per-JVM cached memo
    val inputs = Seq[(String, (=> AnyRef) => AnyRef)](
      "unit" -> (b => Views.unit[AnyRef](dir, "race")(fail("a fresh dir has no marker to reopen"))(b)),
      "cached" -> (b => Views.cached[AnyRef](dir, "race")(b)))
    for ((label, enter) <- inputs) {
      val builds = new AtomicInteger
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(6)
      try {
        val calls = (1 to 6).map(_ => pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            enter {
              builds.incrementAndGet()
              Thread.sleep(100) // hold the build open while the others arrive
              new Object
            }
          }
        }))
        start.countDown()
        val got = calls.map(_.get(60, TimeUnit.SECONDS))
        assert(builds.get === 1, s"$label: one build")
        assert(got.forall(_ eq got.head), s"$label: every thread must get the built instance")
      } finally pool.shutdown()
    }
    assert(Views.unitDone(dir, "race"))
  }

  test("a build that throws leaves no marker and no memo entry; the next call builds") {
    val dir = tmp()
    val e = intercept[IllegalStateException] {
      Views.unit(dir, "flaky")(fail("no marker yet"))(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage === "boom")
    assert(!Views.unitDone(dir, "flaky"), "a failed build must not write the marker")
    val builds = new AtomicInteger
    val v = Views.unit[String](dir, "flaky")(fail("no marker yet")) {
      builds.incrementAndGet(); "rebuilt"
    }
    assert(v === "rebuilt" && builds.get === 1, "no memo entry may survive the failure")
    assert(Views.unitDone(dir, "flaky"))
  }

  test("after dropStoresForTest a unit whose marker exists reopens instead of building") {
    val corpus = tmp()
    val dir = Views.store(null, corpus).baseDir
    assert(Views.unit[String](dir, "reopen")(fail("fresh store"))("built") === "built")
    assert(Views.unit[String](dir, "reopen")(fail("memo hit expected"))(fail("memo hit expected")) === "built")
    Views.dropStoresForTest(corpus)
    val reopens = new AtomicInteger
    val v = Views.unit[String](dir, "reopen") {
      reopens.incrementAndGet(); "reopened"
    }(fail("marker present: the unit must reopen, not build"))
    assert(v === "reopened" && reopens.get === 1)
  }
}
