package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Layout, Tables, Views}

/**
 * Oracle-backed queries over the shuffle-avoidance layout helpers
 * (`engine/Layout.scala`): a co-located bucketed join and a salted skew
 * aggregation. These demonstrate the physical strategies under the
 * driver's correctness gate — results are identical to the plain shuffled
 * plans (the DuckDB oracle runs on the raw tables), only the exchange
 * shape differs (asserted in LayoutSpec: no Exchange on either join side).
 */
object LayoutQueries {

  private val Buckets = 8

  /** Bucketed copies of orders/customer for one sf dir, built once per JVM
    * (write-time cost, like the map-view prewarm). */
  private def bucketedTables(s: SparkSession, dir: String): (String, String) =
    Views.cached(dir, "bucketedTables") {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val o = s"orders_bkt_$tag"
      val c = s"customer_bkt_$tag"
      Layout.saveBucketed(Tables.orders(s, dir), o, "o_custkey", Buckets)
      Layout.saveBucketed(Tables.customer(s, dir), c, "c_custkey", Buckets)
      (o, c)
    }

  /** Date-partitioned copy of events for one sf dir, built once per JVM. */
  private def partitionedEvents(s: SparkSession, dir: String): String =
    Views.cached(dir, "partitionedEvents") {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"events_part_$tag"
      Layout.savePartitioned(
        Tables.events(s, dir).withColumn("event_date", to_date(col("ts"))),
        t, "event_date")
      t
    }

  /** Z-ordered copy of lineitem on (l_partkey, l_suppkey), built once per
    * JVM. 64 files = 64 compact 2-D tiles. */
  private[graft] def zOrderedLineitem(s: SparkSession, dir: String): String =
    Views.cached(dir, "zOrderedLineitem") {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), s"lineitem_z_$tag").toString
      Layout.saveZOrdered(
        Tables.lineitem(s, dir)
          .select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"),
        path, "l_partkey", "l_suppkey", 64)
      path
    }

  /** Build the bucketed tables eagerly (write-time cost, like the map-view
    * prewarm) so bench timings measure the co-located read path. */
  private[operators] def prewarmSteps(s: SparkSession, dir: String): Seq[(String, () => Unit)] = Seq[(String, () => Unit)](
      ("bucketedTables", () => { bucketedTables(s, dir); () }),
      ("partitionedEvents", () => { partitionedEvents(s, dir); () }),
      ("zOrderedLineitem", () => { zOrderedLineitem(s, dir); () }),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // co-located fact-dim join: both sides bucketed by custkey, so the
    // equi-join needs no exchange on either side (the only shuffle left
    // is the tiny final aggregation)
    "layout_bucketed_join" -> ((s, dir) => {
      val (o, c) = bucketedTables(s, dir)
      s.table(o).join(s.table(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("c_mktsegment")
    }),

    // partition pruning: events stored date-partitioned, one week queried —
    // the scan lists only the 7 matching directories (asserted in
    // LayoutSpec), so I/O scales with the filter's selectivity, not the
    // table. At 100 TB this is the first and largest I/O lever.
    "layout_partition_prune" -> ((s, dir) => {
      val t = partitionedEvents(s, dir)
      s.table(t)
        .filter(col("event_date") >= lit("2024-01-08") &&
          col("event_date") <= lit("2024-01-14"))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .orderBy("event_date", "event_type")
    }),

    // two-round salted aggregation (hot-key safe): partials on (key, salt),
    // combine per key — same result as the direct groupBy
    "layout_salted_agg" -> ((s, dir) =>
      Layout.saltedSum(Tables.lineitem(s, dir), "l_returnflag", "l_quantity",
          salts = 16, out = "total")
        .select(col("l_returnflag"), round(col("total"), 2).as("total"), col("cnt"))
        .orderBy("l_returnflag")),

    // Z-order clustering: lineitem laid out on the interleaved
    // (l_partkey, l_suppkey) key, then a 2-D box predicate — every file
    // covers a compact tile so parquet min/max stats prune BOTH
    // dimensions at once (LayoutSpec asserts the scan reads a fraction
    // of the table; an unsorted copy reads all of it). The oracle scans
    // raw lineitem with the same box: layout changes I/O, never results.
    "layout_zorder" -> ((s, dir) =>
      s.read.parquet(zOrderedLineitem(s, dir))
        .filter(col("l_partkey").between(50, 80) && col("l_suppkey").between(2, 4))
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))),
  )

  val oracle: Map[String, String] = Map(
    "layout_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "layout_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS total, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the oracle scans raw events with the same date filter: partitioning
    // must change I/O, never results
    "layout_partition_prune" ->
      """SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS cnt,
        |       round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
        |  AND CAST(ts AS DATE) <= DATE '2024-01-14'
        |GROUP BY 1, 2 ORDER BY event_date, event_type""".stripMargin,
    "layout_zorder" ->
      """SELECT count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |WHERE l_partkey BETWEEN 50 AND 80 AND l_suppkey BETWEEN 2 AND 4""".stripMargin,
  )
}
