package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Tables

/** The corpus-table plan memo stays bounded in a long-lived process:
  * plans of stopped sessions are dropped. A JVM holds one live
  * SparkContext, and this suite shares its JVM with the other suites'
  * session, so the stop/restart runs in a child JVM ([[TablesStopProbe]]). */
class TablesSpec extends AnyFunSuite {
  test("a stopped session's memoized table plans are dropped on the next insert") {
    val dir = Files.createTempDirectory("graft-tables-")
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    // the parent's JVM flags (module opens) plus a small heap of our own
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(javaBin) ++ jvm ++ Seq("-Xmx768m", "-cp", sys.props("java.class.path"),
      "graft.TablesStopProbe", dir.toString)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() === 0, out)
    assert(out.linesIterator.contains("probe: held=true dropped=true live=true"), out)
  }
}

/** Child-JVM body of [[TablesSpec]]: memoize a table under session A, stop
  * A, memoize it under a new session B, and report the memo's sessions. */
object TablesStopProbe {
  def main(args: Array[String]): Unit = {
    def session() = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val dir = args(0)
    val a = session()
    a.range(3).write.parquet(s"$dir/t.parquet")
    Tables(a, dir, "t").count()
    val held = Tables.sessions.contains(a)
    a.stop()
    val b = session()
    Tables(b, dir, "t").count()
    println(s"probe: held=$held dropped=${!Tables.sessions.contains(a)} " +
      s"live=${Tables.sessions == Set(b)}")
    b.stop()
  }
}
