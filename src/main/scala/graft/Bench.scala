package graft

import java.nio.file.{Files, Paths}

/** Benchmark harness: runs every registered query on SPARK_GRAFT_SF_DIR,
  * prints one JSON line with per-query wall-clock seconds.
  *
  * A failing query is recorded as `-1` (never a fast-looking near-zero
  * time) and its message lands in the `errors` object — a broken query
  * must be distinguishable from a cheap one. The same JSON is also
  * written to `bench_result.json` in the working directory so the signal
  * survives even if stdout is decorated by the build tool.
  */
object Bench {
  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // Materialize the stored map views up front: the reference computes
    // views at WRITE time and serves queries from the stored index
    // (SURVEY.md §4.1 compute-on-write); view build is load cost, query
    // timings below measure the read path.
    // one combined pool over every family's build steps (Prewarm.all):
    // prewarm is untimed, but the whole invocation must fit the driver's
    // step timeout, and the builds are dozens of small sequential Spark
    // jobs that leave local[N] mostly idle when run one at a time
    operators.Prewarm.all(spark, sfDir)
    // Untimed warm-up AFTER prewarm: first-use JVM costs (janino compile of
    // generated code, parquet reader + broadcast machinery init) otherwise
    // land on whichever queries run first — r6's bench showed the
    // alphabetically-first agg_* family inflated 2.5-4x on untouched code.
    // A few cheap representative shapes (scan+agg, broadcast join, window)
    // make JIT warmth uniform before the clock starts.
    val warmupNames = Seq("agg_rollup", "join_broadcast", "window_ntile")
    // fail loudly if a warm-up query is renamed: silently skipping would
    // re-introduce the first-alphabetical timing bias this warm-up exists
    // to remove, with no visible signal that it happened
    warmupNames.foreach { n =>
      require(SparkEntry.queries.contains(n), s"warm-up query '$n' missing from SparkEntry.queries")
      SparkEntry.queries(n)(spark, sfDir).count()
    }
    // dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the run to named queries;
    // SPARK_GRAFT_REPEATS=k reports each query's MIN over k runs (variance
    // isolation — dedup_components swung 3.5↔7 s across single-run rounds).
    // Default is 2: r7's driver-recorded total was 3.6x a quiet-machine run
    // of the identical commit purely from head-of-run CPU contention, and
    // min-of-2 absorbs that while keeping the full run inside the driver's
    // budget (~2 x 70 s at sf0.1).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val repeats = sys.env.get("SPARK_GRAFT_REPEATS").map(_.toInt).getOrElse(2)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)
    // repeats run as FULL PASSES over all queries, min taken ACROSS passes —
    // NOT back-to-back per-query repeats: a transient machine-contention
    // window covers both adjacent runs of one query (r13's q5–q8 block
    // inflated 2.5–12.5x in BOTH of its back-to-back runs), while full
    // passes put a query's repeats minutes apart so at most one pass is
    // inside any contention window and the min discards it.
    val passTimes: Seq[Map[String, (Double, Option[Throwable])]] =
      (1 to repeats).map { _ =>
        selected.map { case (name, fn) =>
          // isolate timings by construction: a query must not read (or
          // evict) another query's leftover cache — r2's bench charged
          // ~25 s of one query's persisted garbage to its neighbors
          spark.catalog.clearCache()
          // label jobs so the UI/event log maps stages to queries (guide §1.5)
          spark.sparkContext.setJobDescription(s"bench: $name")
          val t0 = System.nanoTime()
          val err = try { fn(spark, sfDir).count(); None }
                    catch { case e: Throwable => Some(e) }
          name -> (((System.nanoTime() - t0) / 1e9, err))
        }.toMap
      }
    val results = selected.map { case (name, _) =>
      val runs = passTimes.map(_(name))
      val err = runs.flatMap(_._2).headOption
      (name, if (err.isDefined) -1.0 else runs.map(_._1).min, err)
    }
    // 3-decimal timings: ms precision is all the signal there is, and the
    // compact line keeps the whole JSON inside the driver's stdout tail
    // window (r1/r2 "parsed": null — the 9-decimal line was long enough
    // that its head fell off the captured tail)
    // Locale.ROOT: the f interpolator formats in the default JVM locale,
    // which under comma-decimal locales would emit invalid JSON
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, _, Some(e)) =>
      "\"" + k + "\":\"" + esc(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) + "\""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    val nFailed = results.count(_._3.isDefined)
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$nFailed,"errors":$errors,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench_result.json"), json + "\n")
    // archive the full per-query record per round: bench_result.json is
    // overwritten every run, so without this the only durable copy of a
    // round's timings is whatever survived the driver's stdout tail
    sys.env.get("SPARK_GRAFT_ROUND").foreach { r =>
      Files.writeString(Paths.get(s"bench_result_r$r.json"), json + "\n")
    }
    println(json)
    // slowest-10 on its own compact line: when the full per-query record
    // overflows the driver's stdout tail from the head (r7 lost the first
    // 45 queries' timings exactly when they were the inflated ones), this
    // line still shows WHERE the time went
    val slowest = results.filter(_._3.isEmpty).sortBy(-_._2).take(10)
      .map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"slowest10","queries":$slowest}""")
    // the driver captures a bounded TAIL of stdout, and at ~100 queries the
    // full record overflows it from the head (r1–r5 "parsed": null). The
    // FINAL line is therefore a compact summary that always fits; per-query
    // timings live in the full line above and in bench_result.json.
    val summary =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failed":$nFailed,"n_queries":${results.size},"sf":"$sfDir","detail":"bench_result.json"}"""
    println(summary)
    spark.stop()
  }
}
