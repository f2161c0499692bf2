package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.engine.{MapIndex, MaterializedView, ViewStore}
import graft.operators.PipelineQueries

/** What one op did: whether its answer checked out, how many units of
  * work it completed, and counters for the traced run. */
final case class OpResult(kind: String, ok: Boolean, work: Double,
    counters: Map[String, Double] = Map.empty, error: String = "")

/** Timing of the engine and operator calls inside one op. Every call is
  * timed in every run; spans are recorded only while a traced op runs.
  * `before` runs ahead of each call, outside its timing. */
final class Calls(tracer: Option[Tracer], before: () => Unit = () => ()) {
  val ms = mutable.LinkedHashMap.empty[String, Double]
  def apply[T](name: String)(body: => T): T = {
    before()
    val t0 = System.nanoTime()
    try tracer.fold(body)(_.call(name)(body))
    finally ms(name) = ms.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
  }
}

/** Runs one named set-up step and keeps its counters; in a traced run the
  * step is traced like an op. The body returns counters it measured itself. */
trait Step {
  def apply(name: String)(body: Calls => Map[String, Double]): Unit
}

trait Workload {
  /** Builds inputs and stores; returns the materialization time in s. */
  def setup(step: Step): Double
  def warmupOps: Int
  /** Reference-kernel runs at each sampling point of a timed op: enough
    * for a steady median over the few ops of a run with long ops. */
  def kernelRuns: Int = 1
  def op(i: Int, rnd: Random, calls: Calls): OpResult
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: Path, data: Path): Workload = name match {
    case "view_serve"  => new ViewServe(spark, seed, work)
    case "dedup_batch" => new DedupBatch(spark, seed, work, data)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Size of every file under `dir`, by path relative to it. */
  def files(dir: Path): Map[String, Long] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.size(p)).toMap
    finally walk.close()
  }
}

/** Seeded synthetic `lineitem`: `Orders` orders with 1–7 lines each
  * (about 600k rows); order `o` has key `KeyBase + o`. */
object Lineitem {
  val Orders = 150000
  val KeyBase = 1000000L

  private def h(seed: Long, salt: Int, cols: org.apache.spark.sql.Column*) =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  def generate(spark: SparkSession, seed: Long): DataFrame =
    spark.range(Orders).select(col("id").as("o"))
      .withColumn("n", (pmod(h(seed, 1, col("o")), lit(7L)) + 1).cast("int"))
      .select(col("o"), explode(sequence(lit(1), col("n"))).as("l_linenumber"))
      .select(
        (lit(KeyBase) + col("o")).as("l_orderkey"),
        col("l_linenumber"),
        (pmod(h(seed, 2, col("o"), col("l_linenumber")), lit(200000L)) + 1).as("l_partkey"),
        (pmod(h(seed, 3, col("o"), col("l_linenumber")), lit(50L)) + 1).cast("double").as("l_quantity"),
        round(pmod(h(seed, 4, col("o"), col("l_linenumber")), lit(10000000L)) / 100.0 + 900.0, 2)
          .as("l_extendedprice"))

  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType)))

  /** The stored map view: one emission per line, keyed by order. */
  val index: MapIndex = MapIndex.columns("lineitem_by_order")(
    concat_ws("-", col("l_orderkey"), col("l_linenumber")),
    array(MapIndex.emit(col("l_orderkey"),
      struct(col("l_linenumber"), col("l_partkey"), col("l_quantity"), col("l_extendedprice")))))

  /** The source and its per-order line counts, computed from it. */
  def source(spark: SparkSession, seed: Long): (DataFrame, Array[Int]) = {
    val src = generate(spark, seed)
    val counts = new Array[Int](Orders)
    src.groupBy("l_orderkey").count().collect().foreach { r =>
      counts((r.getLong(0) - KeyBase).toInt) = r.getLong(1).toInt
    }
    (src, counts)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Point gets with hot-key skew, short ordered scans and range counts
  * against a flat [[MaterializedView]]. Each answer is a few rows, so an
  * op costs mostly the engine's and Spark's fixed per-query work. Set-up
  * materializes the view and applies one seeded change batch through
  * `refresh`, so reads are served from a maintained version and the
  * write path is measured once per run. */
final class ViewServe(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import Lineitem._
  private val storeDir = work.resolve("views")
  private var view: MaterializedView = _
  private var prefix: Array[Long] = _ // prefix(o) = rows of orders < o
  private var counts: Array[Int] = _
  // seeded bijection of order indexes: hot ranks land all over the key range
  private val mult = { var m = 7919L + (seed & 0xffff) * 2; while (BigInt(m).gcd(Orders) != 1) m += 1; m }
  // the op mix is dealt in shuffled blocks of 20 (16 gets, 3 scans, 1 count),
  // so every run holds the same mix and its tail is not set by chance
  private val mix = mutable.Queue.empty[String]

  def warmupOps: Int = 32

  def setup(step: Step): Double = {
    val (src, c) = source(spark, seed)
    counts = c
    val (v, s) = timed(index.materialize(src, new ViewStore(spark, storeDir.toString)))
    view = v
    step("refresh")(refresh)
    prefix = counts.scanLeft(0L)(_ + _)
    s
  }

  /** One change batch on recent orders: updates, tombstones and new lines,
    * then a read-back of a changed order and the version's change feed. */
  private def refresh(calls: Calls): Map[String, Double] = {
    val rnd = new Random(~seed)
    val (updates, tombs) = {
      val picks = mutable.LinkedHashSet.empty[(Int, Int)]
      while (picks.size < 50) {
        val o = Orders - 1 - (0.1 * Orders * math.pow(rnd.nextDouble(), 2)).toInt
        picks += ((o, 1 + rnd.nextInt(counts(o))))
      }
      picks.toSeq.splitAt(40)
    }
    val added = mutable.LinkedHashSet.empty[Int]
    while (added.size < 5) added += Orders - 1 - rnd.nextInt(Orders / 10)
    val q = 1000.0 // marks the batch's rows in the read-back
    val upRows = (updates ++ added.toSeq.map(o => (o, 8))).map { case (o, l) =>
      Row(KeyBase + o, l, 1L + rnd.nextInt(200000), q, 900.0 + rnd.nextInt(100000) / 100.0)
    }
    val upserts = spark.createDataFrame(java.util.Arrays.asList(upRows: _*), schema)
    val deletes = spark.createDataFrame(
      java.util.Arrays.asList(tombs.map { case (o, l) => Row(s"${KeyBase + o}-$l") }: _*),
      StructType(Seq(StructField("src_key", StringType))))
    tombs.foreach { case (o, _) => counts(o) -= 1 }
    added.foreach(o => counts(o) += 1)

    val before = Workload.files(storeDir)
    view = calls("engine.refresh")(view.refresh(upserts, Some(deletes)))
    val after = Workload.files(storeDir)
    val ro = upRows(rnd.nextInt(upRows.size)).getLong(0)
    val back = calls("engine.readback")(view.get(ro).collect()).map(_.getStruct(0))
    val changed = upRows.filter(_.getLong(0) == ro).map(_.getInt(1)).toSet
    val backOk = back.length == counts((ro - KeyBase).toInt) &&
      back.filter(r => changed.contains(r.getInt(0))).forall(_.getDouble(2) == q) &&
      back.count(r => changed.contains(r.getInt(0))) == changed.size
    val feed = calls("engine.feed")(
      view.changesBetween(0, 1).groupBy("change_type").count().collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val feedOk = feed.get("delete").contains(50L) && feed.get("insert").contains(upRows.size.toLong)
    val written = after.filter { case (p, _) => !before.contains(p) }
    val latest = view.store.latestVersion(index.name)
    Map(
      "ok" -> (if (backOk && feedOk && latest.contains(1)) 1.0 else 0.0),
      "rows_out" -> (back.length + feed.size).toDouble,
      "files_written" -> written.size.toDouble,
      "bytes_written" -> written.values.sum.toDouble,
      "change_bytes" -> after.collect { case (p, b) if p.startsWith(s"${index.name}/_changes/v1/") => b }.sum.toDouble,
      "disk_bytes" -> after.values.sum.toDouble,
      "live_bytes" -> after.collect { case (p, b) if p.startsWith(s"${index.name}/v1/") => b }.sum.toDouble)
  }

  private def rows(lo: Long, hi: Long): Long =
    prefix((hi - KeyBase).toInt) - prefix((lo - KeyBase).toInt)

  def op(i: Int, rnd: Random, calls: Calls): OpResult = {
    if (mix.isEmpty) mix ++= rnd.shuffle(Seq.fill(16)("get") ++ Seq.fill(3)("scan") :+ "count")
    val kind = mix.dequeue()
    if (kind == "get") {
      val rank = (Orders * math.pow(rnd.nextDouble(), 3)).toLong
      val o = ((rank * mult) % Orders).toInt
      val df = calls("engine.df_build")(view.get(KeyBase + o))
      val got = calls("engine.collect")(df.collect())
      OpResult("get", got.length == counts(o), 1, Map("rows_out" -> got.length))
    } else if (kind == "scan") {
      val lo = KeyBase + rnd.nextInt(Orders - 20)
      val hi = lo + 2 + rnd.nextInt(19)
      val df = calls("engine.df_build")(view.scan(Some(lo), Some(hi)))
      val got = calls("engine.collect")(df.collect())
      val keys = got.map(_.getAs[Long]("emit_key"))
      val ordered = keys.indices.drop(1).forall(j => keys(j - 1) <= keys(j))
      OpResult("scan", got.length == rows(lo, hi) && ordered, 1, Map("rows_out" -> got.length))
    } else {
      val lo = KeyBase + rnd.nextInt(Orders - 2000)
      val hi = lo + 100 + rnd.nextInt(1901)
      val n = calls("engine.count")(view.countRange(Some(lo), Some(hi)))
      OpResult("count", n == rows(lo, hi), 1, Map("rows_out" -> 1))
    }
  }
}

/** One near-duplicate pass over a corpus drawn by seed from the sf0.1
  * `documents` table (a copy is kept in `perfbench/data`): the registered
  * n-gram Jaccard query and the MinHash-LSH, SimHash and winnowing pair
  * APIs. Each pair set is checked against the first pass over the same
  * corpus (row count and an order-independent hash); the first full-corpus
  * n-gram, MinHash and winnowing pair sets are also written out for the
  * DuckDB oracle checks. Warm-up passes run over a smaller, disjoint draw. */
final class DedupBatch(spark: SparkSession, seed: Long, work: Path, data: Path) extends Workload {
  private val Docs = 2500
  private val SmallDocs = 500
  private val SmallOps = 3
  private val full = work.resolve("corpus")
  private val small = work.resolve("warm-corpus")
  private val reference = mutable.Map.empty[(Path, String), (Long, Long)]

  def warmupOps: Int = SmallOps + 1
  override def kernelRuns: Int = 3

  def setup(step: Step): Double = {
    val src = spark.read.parquet(data.resolve("documents.parquet").toString)
    val drawn = src.orderBy(xxhash64(lit(seed), col("doc_id"))).limit(Docs + SmallDocs).collect()
    for ((dir, rows) <- Seq(full -> drawn.take(Docs), small -> drawn.drop(Docs)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), src.schema).coalesce(1)
        .write.parquet(dir.resolve("documents.parquet").toString)
    for (q <- Seq("dedup_ngram_jaccard", "dedup_winnow"))
      Files.writeString(work.resolve(s"$q.sql"), SparkEntry.oracleSql(q))
    0.0
  }

  private def fingerprint(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.map(r => scala.util.hashing.MurmurHash3.seqHash(r.toSeq).toLong).sum)

  def op(i: Int, rnd: Random, calls: Calls): OpResult = {
    val dir = if (i < SmallOps) small else full
    val d = dir.toString
    val sets = Seq(
      "operators.ngram_jaccard" -> (() => SparkEntry.queries("dedup_ngram_jaccard")(spark, d)),
      "operators.minhash_lsh" -> (() => PipelineQueries.minhashLshPairs(spark, d)),
      "operators.simhash" -> (() => PipelineQueries.simhashPairs(spark, d)),
      "operators.winnow" -> (() => PipelineQueries.winnowPairs(spark, d))
    ).map { case (n, f) => n -> calls(n)(f().collect()) }
    if (dir == full && !reference.contains((dir, sets.head._1)))
      for ((n, rows) <- sets if n != "operators.simhash") {
        val lines = rows.map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)}")
        Files.write(work.resolve(s"${n.stripPrefix("operators.")}_pairs.csv"),
          java.util.Arrays.asList(lines: _*))
      }
    val ok = sets.forall { case (n, rows) =>
      fingerprint(rows) == reference.getOrElseUpdate((dir, n), fingerprint(rows))
    }
    val pairs = sets.map(_._2.length).sum.toDouble
    OpResult("pass", ok, if (dir == full) Docs else SmallDocs,
      Map("pairs_out" -> pairs, "rows_out" -> pairs))
  }
}
