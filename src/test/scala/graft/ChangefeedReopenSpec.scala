package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Views
import graft.operators.MapIndexQueries

/** The changefeed gates must survive DURABLE-STORE REOPENS: before the
  * round-18 fix, every process reopening a views root re-ran the
  * aggView/netFeedView materialize+refresh (no unit gate), advancing
  * versions until the early sidecars passed the GC horizon and the
  * hard-coded `(0, 1]` / `(0, 2]` ranges threw by the ~3rd reopen. The
  * fix is two-sided — unit-gated builds (a reopen ATTACHES) and
  * version-relative replay ranges like the cascade relay — and this spec
  * pins both: five reopens must serve the identical feed with no version
  * drift. The cascade, distinct, percentile and streamed lineitem gates
  * ride along: their builders are durable units too, so a reopen serves
  * them without rebuilding (before, every reopen advanced their views). */
class ChangefeedReopenSpec extends AnyFunSuite with SparkSpec {

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val stream = Files.walk(src)
    try stream.forEach { p =>
      val dest = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
    } finally stream.close()
  }

  test("changefeed gates serve identically across five durable reopens") {
    // private corpus copy: the durable key is the corpus dir, so this
    // test never touches the shared testdata stores
    val corpus = Files.createTempDirectory("graft-cfcorpus-")
    copyTree(Paths.get("/root/testdata/sf0.001/lineitem.parquet"),
      corpus.resolve("lineitem.parquet"))
    val root = Files.createTempDirectory("graft-cfroot-").toString
    sys.props("graft.views.root") = root
    val gates = Seq("mapindex_changefeed", "mapindex_agg_changefeed",
      "mapindex_net_changefeed", "mapindex_cascade_cdc", "mapindex_cascade",
      "mapindex_distinct_view", "mapindex_distinct_view_streamed",
      "mapindex_percentile_view", "mapindex_percentile_cont",
      "mapindex_streaming_group")
    // views whose builders rebuilt (and advanced them) on every reopen
    // before they became units
    val held = Seq("order_bucket", "lineitem_flagprice", "lineitem_flagprice_s",
      "lineitem_flagqty", "lineitem_flaggrid", "lineitem_byflag_stream")
    def serve(): Map[String, Seq[String]] = gates.map { q =>
      q -> MapIndexQueries.queries(q)(spark, corpus.toString)
        .collect().map(_.toString).toSeq.sorted
    }.toMap
    try {
      val first = serve()
      val store = Views.store(spark, corpus.toString)
      val v0 = store.latestVersion("lineitem_byflag_agg").get
      val n0 = store.latestVersion("lineitem_byflag_net").get
      val h0 = held.map(v => v -> store.latestVersion(v)).toMap
      assert(h0.values.forall(_.isDefined), s"a held view was never built: $h0")
      (1 to 5).foreach { i =>
        // fresh-process simulation: per-JVM stores and unit memos
        // dropped, same root
        Views.dropStoresForTest(corpus.toString)
        assert(serve() === first, s"reopen $i changed a gate's feed")
        val st = Views.store(spark, corpus.toString)
        assert(st.latestVersion("lineitem_byflag_agg").get === v0,
          s"reopen $i advanced the aggView base version (unit gate broken)")
        assert(st.latestVersion("lineitem_byflag_net").get === n0,
          s"reopen $i advanced the netFeed version (unit gate broken)")
        held.foreach { v =>
          assert(st.latestVersion(v) === h0(v), s"reopen $i advanced $v (unit gate broken)")
        }
      }
    } finally {
      sys.props -= "graft.views.root"
      Views.dropStoresForTest(corpus.toString)
    }
  }
}
