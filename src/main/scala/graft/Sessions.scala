package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession recipe of the mains (Bench, Verify,
  * Explain, tools.QTime): `cpus` local cores, one shuffle partition per
  * core. */
object Sessions {
  def local(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // static conf: Spark's stock generated-code cache (100 entries)
      // thrashes across this surface's ~800 codegen units per pass, so
      // every plan re-runs janino compilation on every pass. 5000 entries
      // holds the whole surface's generated classes (~tens of MB of
      // driver memory — the driver compiles the same code at any cluster
      // scale, so the saving transfers). Compiled-code reuse, NOT result
      // caching: every pass still scans parquet and computes every row.
      // Interleaved A/B/A/B, fresh JVM per side, full 281-query suite
      // (r18): 100 -> 5000 cut the suite total 85.4 -> 55.8 s and
      // 90.2 -> 72.1 s (faster on 277/281 and 205/281 queries; worst
      // single-query loss +3 ms).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
