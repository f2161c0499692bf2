package graft.tools

import java.nio.file.{Files, Paths}

/** Dev-loop timing/plan harness (guide §1): time ONE query's serve path
  * without the full bench prewarm — dependencies build lazily on the
  * first (untimed-by-min) run, then `SPARK_GRAFT_QT_RUNS` timed runs
  * mirror the bench methodology (clearCache + count per run). With
  * `SPARK_GRAFT_QT_PLANDIR` set, each query's formatted plan is written
  * to `<dir>/<name>_<tag>.txt` (tag from `SPARK_GRAFT_QT_TAG`).
  * Not part of the driver contract; Bench.scala stays the bench. */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_QT_RUNS", "3").toInt
    val planDir = sys.env.get("SPARK_GRAFT_QT_PLANDIR")
    val tag = sys.env.getOrElse("SPARK_GRAFT_QT_TAG", "before")
    val spark = graft.Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names = args.toSeq
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      spark.sparkContext.setJobDescription(s"qtime: $name")
      // run 0 builds lazy dependencies (prewarm analog), untimed
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val build = (System.nanoTime() - t0) / 1e9
      val times = (1 to runs).map { _ =>
        spark.catalog.clearCache()
        val t = System.nanoTime()
        val df = fn(spark, sfDir)
        val tc = (System.nanoTime() - t) / 1e9
        df.count()
        ((System.nanoTime() - t) / 1e9, tc)
      }
      planDir.foreach { d =>
        Files.createDirectories(Paths.get(d))
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(d, s"${name}_$tag.txt"), plan)
      }
      println(f"QTIME $name%-40s first=$build%8.3f  " +
        times.map { case (t, c) => f"$t%7.3f(c$c%5.3f)" }.mkString(" "))
    }
    spark.stop()
  }
}
