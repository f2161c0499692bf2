package graft.engine

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Bucket-partitioned view storage with partition-scoped refresh — the
 * 100 TB path for incremental maintenance.
 *
 * The flat [[ViewStore]] rewrites the whole view per refresh; fine at test
 * scale, not at 100 TB. Here the emission relation is hash-bucketed by
 * `emit_key` (`kb = pmod(xxhash64(emit_key), B)`) and a **meta relation**
 * — the Spark analog of the reference's per-source-key back-pointers
 * (`{keys:[...]}` at `['meta', srcKey]`, `index.js:232-242,255-263`) —
 * is hash-bucketed by `src_key` and records which emit buckets each source
 * key has emissions in. A refresh then:
 *
 *   1. reads ONLY the meta buckets of the changed source keys,
 *   2. learns which emit buckets hold their old emissions,
 *   3. rewrites ONLY those emit buckets (one anti-join+union job,
 *      `partitionBy` staged write, per-bucket directory move),
 *   4. rewrites only the touched meta buckets the same way,
 *   5. atomically swaps a manifest mapping bucket → version.
 *
 * I/O is proportional to the buckets the batch touches, not to view size.
 * Point lookups read a single bucket (the LevelDB-seek analog for hash
 * layout); within each bucket files are sorted by `(emit_key, uid)` so
 * range scans still skip row groups via min/max stats.
 *
 * Layout: `<base>/<name>/kb=<i>/v<N>/part-….parquet`,
 *         `<base>/<name>/meta/mb=<i>/v<N>/part-….parquet`,
 *         `<base>/<name>/_changes/e<E>/part-….parquet` (CDC sidecars),
 *         `<base>/<name>/_MANIFEST` (lines `kind:bucket:version`).
 */
final class BucketedViewStore(
    val spark: SparkSession,
    val baseDir: String,
    val numBuckets: Int = 16,
    /** superseded bucket versions kept after a refresh for in-flight
      * readers of older snapshots. 1 covers a reader of the immediately
      * previous manifest; deployments with long-running scans under fast
      * micro-batches should retain more. */
    val graceVersions: Int = 1,
    /** refresh epochs whose CDC sidecars are retained for [[changesBetween]]
      * readers. The bucketed store has no per-version snapshots (buckets
      * version independently), so sidecar life is a consumer-lag budget,
      * not a snapshot tie-in: a cascaded consumer may lag up to this many
      * refreshes before its replay range is reclaimed (fail-loud). */
    val changeRetention: Int = 8,
    /** RANGE-partitioned mode: `numBuckets - 1` sorted boundary keys.
      * Bucket `i` holds keys in `[boundary(i-1), boundary(i))` (string
      * order, first bucket unbounded below, last unbounded above), so an
      * O6 range scan prunes to the COVERING buckets — the partition-level
      * pruning hash layout structurally cannot give a range (it only
      * prunes point/prefix lookups). Everything else — meta back-pointers
      * (always hash-bucketed on src_key), staged writes, manifest, CDC
      * sidecars, epochs, GC — is layout-independent and unchanged. At
      * 100 TB the boundaries come from a sample quantile pass (the same
      * way repartitionByRange picks them); they are fixed per store, so a
      * drifting key distribution is rebalanced by re-materializing into a
      * new store, not by splitting live buckets. */
    val rangeBoundaries: Option[Seq[String]] = None,
    /** shuffle salt for staged writes: a bucket's rewrite is split across
      * up to this many tasks (and files). Without it `repartition(bcol)`
      * gives ONE task per touched bucket, so a single hot bucket
      * serializes its whole rewrite — at large B with skewed keys that
      * task is the refresh's critical path. Each salted task still sorts
      * its slice by `(emit_key, uid)`, so per-file min/max pruning is
      * unchanged; reads never see the salt (partitionBy folds the slices
      * into one bucket directory). */
    val writeSalt: Int = 4,
    /** largest changed-key set a refresh may BROADCAST for its old-row
      * joins. Ordinary change batches are delta-sized and broadcasting
      * them is the right plan (the big sides — old emissions, meta —
      * scan once, never shuffle); a BULK BACKFILL (10 % of a 100 TB
      * view) would drive an arbitrarily large driver-held broadcast and
      * OOM it, so past this many keys the refresh falls back to plain
      * (shuffle) joins on the same predicates — identical results,
      * bounded driver memory. The count is one cheap job over the
      * already-cached key set. */
    val broadcastKeyLimit: Long = 2000000L) extends Serializable {

  require(graceVersions >= 0, s"graceVersions must be >= 0, got $graceVersions")
  require(changeRetention >= 1, s"changeRetention must be >= 1, got $changeRetention")
  require(writeSalt >= 1, s"writeSalt must be >= 1, got $writeSalt")
  require(broadcastKeyLimit >= 0,
    s"broadcastKeyLimit must be >= 0, got $broadcastKeyLimit")
  rangeBoundaries.foreach { bs =>
    require(bs.size == numBuckets - 1,
      s"range mode needs numBuckets - 1 = ${numBuckets - 1} boundaries, got ${bs.size}")
    // strict increase in UTF8String (UTF-8 byte) order — the SAME order
    // the runtime bucket expression and [[rangeBucketOf]] compare in.
    // Java String order (UTF-16 code units) disagrees for supplementary-
    // plane characters (U+10000+ sort below U+E000..U+FFFF in UTF-16 but
    // above in UTF-8), so validating with bs.sorted could reject a
    // runtime-valid list or accept an effectively-unsorted one,
    // silently mis-bucketing keys.
    require(bs.lazyZip(bs.drop(1)).forall { (a, b) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    }, s"range boundaries must be strictly increasing in UTF-8 byte order, got $bs")
  }

  import BucketedViewStore._

  private def root(name: String): Path = Paths.get(baseDir, name)
  private def manifestFile(name: String): Path = root(name).resolve("_MANIFEST")
  private def schemaFile(name: String): Path = root(name).resolve("_SCHEMA")

  /** Persisted emission schema: lets a view whose every bucket emptied
    * (all keys tombstoned) still read as an empty relation. The internal
    * `kb` bucket column is dropped — partitionBy strips it from data
    * files, so the normal read path never exposes it and the empty
    * relation must not either. */
  private def writeSchema(name: String, df: DataFrame): Unit = {
    Files.createDirectories(root(name))
    Files.writeString(schemaFile(name), df.drop("kb").schema.json)
  }

  private def emptyDf(name: String): DataFrame = {
    require(Files.exists(schemaFile(name)),
      s"view '$name' not materialized in $baseDir")
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(Files.readString(schemaFile(name)))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
  }

  private def hashBucketExpr(key: Column): Column =
    pmod(xxhash64(key.cast("string")), lit(numBuckets))

  /** Emit-bucket assignment: hash, or boundary count in range mode
    * (`bucket = #{boundaries <= key}` — a short codegen'd add chain;
    * string `>=` is UTF8 byte order, mirrored by [[rangeBucketOf]]). */
  private def emitBucketExpr(key: Column): Column = rangeBoundaries match {
    case None => hashBucketExpr(key)
    case Some(bs) =>
      bs.map(b => when(key.cast("string") >= lit(b), 1L).otherwise(0L))
        .reduce(_ + _)
  }

  /** Meta back-pointers are ALWAYS hash-bucketed: src_key lookups are
    * point-wise (the changed-key set of a refresh), never ranged. */
  private def metaBucketExpr(key: Column): Column = hashBucketExpr(key)

  /** JVM mirror of the emit-bucket assignment (scan pruning, get). */
  private def emitBucketOf(key: Any): Int = rangeBoundaries match {
    case None => bucketOf(key, numBuckets)
    case Some(bs) => rangeBucketOf(key, bs)
  }

  // ---- manifest ----------------------------------------------------------

  def manifest(name: String): Map[(String, Int), Int] = {
    val m =
      if (!Files.exists(manifestFile(name))) Map.empty[(String, Int), Int]
      else Files.readAllLines(manifestFile(name)).asScala.filter(_.nonEmpty).map { line =>
        val Array(kind, b, v) = line.split(":")
        (kind, b.toInt) -> v.toInt
      }.toMap
    // geometry stamp: a handle whose bucket count disagrees with what the
    // view was WRITTEN at would silently mis-prune every get/getAll/scan
    // (bucketOf is a function of numBuckets) — fail loudly instead. Views
    // written before the stamp existed carry none and stay readable.
    m.get((BucketsKind, 0)).foreach(b => require(b == numBuckets,
      s"view '$name' in $baseDir was written at $b buckets; this handle " +
        s"has $numBuckets — reopen at the written geometry (after a " +
        s"splitBuckets, use the handle it returned)"))
    m
  }

  private def manifestsRoot(name: String): Path = root(name).resolve("_manifests")

  private def writeManifest(name: String, m0: Map[(String, Int), Int]): Unit = {
    Files.createDirectories(root(name))
    // every write stamps the WRITER's geometry (see [[manifest]]'s check);
    // splitBuckets publishes through the widened handle, so the stamp
    // follows the split atomically with the manifest swap
    val m = m0 + ((BucketsKind, 0) -> numBuckets)
    val body = m.toSeq.sortBy(e => (e._1._1, e._1._2))
      .map { case ((k, b), v) => s"$k:$b:$v" }.mkString("\n")
    // epoch-stamped manifest history BEFORE the live swap: snapshot reads
    // ([[dfAsOf]]) resolve an epoch through its retained manifest, and the
    // per-bucket grace versions guarantee the previous graceVersions
    // epochs' bucket paths still exist — the same retention contract the
    // flat store's readableVersions gives. Older history is swept here.
    val epoch = m.getOrElse((EpochKind, 0), 0)
    Files.createDirectories(manifestsRoot(name))
    Files.writeString(manifestsRoot(name).resolve(s"e$epoch"), body)
    val sweep = Files.list(manifestsRoot(name))
    try sweep.iterator().forEachRemaining { c =>
      val n = c.getFileName.toString
      if (n.startsWith("e") && n.drop(1).nonEmpty && n.drop(1).forall(_.isDigit) &&
          n.drop(1).toInt < epoch - graceVersions)
        Files.deleteIfExists(c)
    } finally sweep.close()
    val tmp = root(name).resolve(s"_MANIFEST.tmp${System.nanoTime()}")
    Files.writeString(tmp, body)
    Files.move(tmp, manifestFile(name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def bucketPath(name: String, kind: String, b: Int, v: Int): String =
    root(name).resolve(if (kind == Emit) s"kb=$b/v$v" else s"meta/mb=$b/v$v").toString

  private def livePaths(name: String, kind: String,
      only: Option[Set[Int]] = None): Seq[String] =
    manifest(name).collect {
      case ((k, b), v) if k == kind && only.forall(_.contains(b)) =>
        bucketPath(name, k, b, v)
    }.toSeq

  /**
   * One staged write for many buckets: `partitionBy(bcol)` into a staging
   * dir, then move each `bcol=<i>` directory to its next version. Buckets
   * in `expected` that produced no rows go empty (dropped from the
   * manifest). Returns the new (bucket → version) entries.
   */
  private def stagedWrite(name: String, kind: String, df: DataFrame, bcol: String,
      expected: Set[Int], prev: Map[(String, Int), Int],
      salt: Int = -1, shuffle: Boolean = true): Map[(String, Int), Int] = {
    val staging = root(name).resolve(s"_stage_${kind}_${System.nanoTime()}")
    // salt the shuffle so a hot bucket's rewrite parallelizes across up to
    // writeSalt tasks instead of serializing in one; (uid, src_key) spreads
    // even a single key's emissions (uid is per-row) and the uid=0 meta
    // rows (src_key is per-row there). [[compact]] passes salt = 1: its
    // whole point is folding a bucket's accreted slices into one file.
    // [[splitBuckets]] passes shuffle = false: its doubling invariant
    // means each input slice already holds rows of at most two child
    // buckets, so partitionBy fans each task straight into its children —
    // re-partitioning would turn a local rewrite into a full exchange.
    val s = if (salt > 0) salt else writeSalt
    val arranged =
      if (shuffle) df.repartition(col(bcol),
          pmod(xxhash64(col("uid"), col("src_key")), lit(s)))
        .sortWithinPartitions(bcol, "emit_key", "uid")
      else df.sortWithinPartitions(bcol, "emit_key", "uid")
    arranged
      .write.partitionBy(bcol).option("compression", "zstd").parquet(staging.toString)
    val out = scala.collection.mutable.Map.empty[(String, Int), Int]
    expected.foreach { b =>
      val staged = staging.resolve(s"$bcol=$b")
      // next version continues past BOTH the manifest and any stale dirs on
      // disk: a bucket that went empty is dropped from the manifest but its
      // old version dirs remain (grace copy) — restarting at v0 would
      // collide with them when the bucket later gets rows again
      val onDisk = {
        val parent = Paths.get(bucketPath(name, kind, b, 0)).getParent
        if (!Files.exists(parent)) -1
        else {
          val stream = Files.list(parent)
          try stream.iterator().asScala
            .map(_.getFileName.toString)
            .collect { case s if s.startsWith("v") && s.drop(1).forall(_.isDigit) =>
              s.drop(1).toInt }
            .foldLeft(-1)(math.max)
          finally stream.close()
        }
      }
      val v1 = math.max(prev.get((kind, b)).getOrElse(-1), onDisk) + 1
      if (Files.exists(staged)) {
        val dest = Paths.get(bucketPath(name, kind, b, v1))
        Files.createDirectories(dest.getParent)
        Files.move(staged, dest)
        out((kind, b)) = v1
      } // else: bucket became empty — omit from manifest
    }
    // clear staging remnants (_SUCCESS, empty dirs)
    if (Files.exists(staging)) deleteRecursively(staging)
    out.toMap
  }

  /** rm -r with the walk stream closed (an unclosed Files.walk leaks one
    * fd per call — fatal eventually under per-micro-batch refresh). */
  private def deleteRecursively(p: Path): Unit = {
    val stream = Files.walk(p)
    try stream.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally stream.close()
  }

  // ---- change feed -------------------------------------------------------

  private def changesRoot(name: String): Path = root(name).resolve("_changes")
  private def changesPath(name: String, epoch: Long): Path =
    changesRoot(name).resolve(s"e$epoch")

  /** Current refresh epoch of the view (0 = initial materialization). */
  def epoch(name: String): Int = {
    val m = manifest(name)
    require(m.nonEmpty, s"view '$name' not materialized in $baseDir")
    m.getOrElse((EpochKind, 0), 0)
  }

  /**
   * Change feed over refresh epochs `(fromEpoch, toEpoch]` — the bucketed
   * analog of [[ViewStore.changesBetween]]. Each refresh persisted its
   * delta (retracted rows at `change_type=delete`, inserted rows at
   * `insert`, tagged `change_version` = epoch) as a `_changes/e<N>`
   * sidecar BEFORE the manifest swap, so the read is **O(delta)**: a union
   * of sidecar scans, no join, no shuffle — and a manifest epoch is never
   * visible without its sidecar. Replay order is `change_version`
   * ascending, deletes before inserts within one epoch (the
   * delete-then-insert contract cascaded consumers replay, SURVEY §2 O5).
   * Sidecars older than [[changeRetention]] epochs are reclaimed;
   * requesting one fails loudly.
   */
  def changesBetween(name: String, fromEpoch: Int, toEpoch: Int): DataFrame = {
    require(fromEpoch < toEpoch,
      s"change feed range must be non-empty: ($fromEpoch, $toEpoch]")
    // reject nonsense lower bounds up front (0 = the initial materialize
    // epoch, which writes no sidecar; -1 would ask for its delta) rather
    // than failing later with a confusing "sidecar e-3 missing"
    require(fromEpoch >= 0,
      s"fromEpoch must be >= 0 (epoch 0 is the initial materialization), " +
        s"got $fromEpoch")
    val cur = epoch(name)
    require(toEpoch <= cur,
      s"view '$name' is at epoch $cur; requested toEpoch $toEpoch does not exist")
    ((fromEpoch + 1) to toEpoch).map { e =>
      val p = changesPath(name, e.toLong)
      require(Files.exists(p),
        s"change sidecar e$e for view '$name' missing or past the " +
          s"$changeRetention-epoch retention horizon")
      spark.read.parquet(p.toString)
    }.reduce(_.unionByName(_))
  }

  /** Netted change feed over `(fromEpoch, toEpoch]` — final-state-only
    * consumers; see [[MaterializedView.netChanges]] for the telescoping
    * argument. Cascaded consumers keep using [[changesBetween]]. */
  def changesNetBetween(name: String, fromEpoch: Int, toEpoch: Int): DataFrame =
    MaterializedView.netChanges(changesBetween(name, fromEpoch, toEpoch))

  /** Reclaim sidecars at or below the retention horizon. Sweeps the
    * `_changes/` listing independently of any other state, so a sidecar
    * orphaned by a crash is still collected by the next pass. */
  private def gcOldSidecars(name: String, currentEpoch: Long): Unit = {
    val cd = changesRoot(name)
    if (Files.exists(cd)) {
      val stream = Files.list(cd)
      try stream.iterator().forEachRemaining { c =>
        val n = c.getFileName.toString
        if (n.startsWith("e") && n.drop(1).nonEmpty && n.drop(1).forall(_.isDigit) &&
            n.drop(1).toLong <= currentEpoch - changeRetention)
          deleteRecursively(c)
      } finally stream.close()
    }
  }

  // ---- reads -------------------------------------------------------------

  /** Full emission relation (all live emit buckets; empty-schema relation
    * when every bucket has been tombstoned away). */
  def df(name: String): DataFrame = {
    val paths = livePaths(name, Emit)
    if (paths.isEmpty) emptyDf(name)
    else spark.read.parquet(paths: _*)
  }

  /** Epochs currently addressable by [[dfAsOf]]: the live epoch plus up
    * to [[graceVersions]] predecessors whose manifests are retained (the
    * per-bucket grace copies guarantee their data paths still exist).
    * The live epoch is always readable even without a history file — a
    * store written before manifest history existed has no `e<N>` files
    * until its next write, and its current state must still be
    * addressable (dfAsOf falls back to the live `_MANIFEST`). */
  def readableEpochs(name: String): Seq[Int] = {
    val e = epoch(name)
    (math.max(0, e - graceVersions) to e)
      .filter(k => k == e || Files.exists(manifestsRoot(name).resolve(s"e$k")))
  }

  /** Snapshot (time-travel) read of a retained epoch — the bucketed
    * analog of [[ViewStore.readVersion]]: a reader pins an epoch's
    * manifest and sees that refresh's world regardless of later writes,
    * until the epoch passes the grace horizon. */
  def dfAsOf(name: String, atEpoch: Int): DataFrame = {
    require(readableEpochs(name).contains(atEpoch),
      s"view '$name' epoch $atEpoch not readable " +
        s"(retained: ${readableEpochs(name).mkString(",")})")
    val hist = manifestsRoot(name).resolve(s"e$atEpoch")
    // readableEpochs admits the live epoch without a history file (a store
    // from before manifest history gains one on its next write); for it,
    // the live _MANIFEST is exactly the epoch's manifest
    val m =
      if (Files.exists(hist))
        Files.readAllLines(hist).asScala.filter(_.nonEmpty).map { line =>
          val Array(kind, b, v) = line.split(":")
          (kind, b.toInt) -> v.toInt
        }.toMap
      else manifest(name)
    val paths = m.collect { case ((k, b), v) if k == Emit => bucketPath(name, k, b, v) }.toSeq
    paths.foreach(p => require(Files.exists(Paths.get(p)),
      s"view '$name' epoch $atEpoch references GC'd bucket data at $p"))
    if (paths.isEmpty) emptyDf(name)
    else spark.read.parquet(paths: _*)
  }

  /** Ordered range scan with `[start, end)` semantics (O6 parity on the
    * bucketed layout). Hash bucketing cannot prune whole buckets by key
    * range — every bucket is read and the pushed range predicates prune
    * row groups inside each `(emit_key, uid)`-sorted bucket. RANGE
    * bucketing ([[rangeBoundaries]]) additionally prunes to the COVERING
    * buckets before any file is opened: the buckets from the one holding
    * `start` through the one holding the largest key strictly below the
    * exclusive `end`, so a narrow scan touches O(1) bucket directories
    * instead of all of them. */
  def scan(name: String, start: Option[Any] = None, end: Option[Any] = None): DataFrame = {
    val covering: Option[Set[Int]] = rangeBoundaries.map { bs =>
      val lo = start.map(emitBucketOf).getOrElse(0)
      // `end` is EXCLUSIVE: its covering bucket is the one holding the
      // largest key strictly below it — the count of boundaries strictly
      // below `end`. Counting with `<=` (emitBucketOf) is one bucket too
      // wide exactly when `end` lands on a boundary: that bucket's keys
      // are all >= end and can never qualify, yet its files would all be
      // opened. An empty range ([x,x)) yields hi < lo → no buckets read.
      val hi = end.map(e => BucketedViewStore.rangeBucketBelow(e, bs))
        .getOrElse(numBuckets - 1)
      (lo to hi).toSet
    }
    val paths = livePaths(name, Emit, covering)
    val src = if (paths.isEmpty) emptyDf(name) else spark.read.parquet(paths: _*)
    ViewStore.keyRange(start, end).fold(src)(src.filter).orderBy("emit_key", "uid")
  }

  /** Batch keyed read — the set analog of [[get]] for consumers holding a
    * key RELATION: prune to the buckets that can hold any requested key
    * (the driver collects BUCKET IDS, at most [[numBuckets]] ints, never
    * the key list itself), then semi-join the pruned rows down to exactly
    * the requested keys. Reads O(|touched buckets|) of the view however
    * large the view or the key set is. */
  def getAll(name: String, keys: DataFrame): DataFrame = {
    import spark.implicits.newLongEncoder
    val k = keys.toDF("emit_key")
    val kb = k.select(emitBucketExpr(col("emit_key")).as("kb")).distinct()
      .as[Long].collect().map(_.toInt).toSet
    val paths = livePaths(name, Emit, Some(kb))
    if (paths.isEmpty) emptyDf(name)
    else spark.read.parquet(paths: _*)
      .join(k.distinct(), Seq("emit_key"), "left_semi")
  }

  /** Point lookup pruned to the single bucket that can hold the key
    * (hash in hash mode; boundary binary-search in range mode). */
  def get(name: String, key: Any): DataFrame = {
    val b = emitBucketOf(key)
    manifest(name).get((Emit, b)) match {
      case None => df(name).filter(lit(false)).select("emit_value")
      case Some(v) =>
        spark.read.parquet(bucketPath(name, Emit, b, v))
          .filter(ViewStore.keyIs(key))
          .orderBy("uid").select("emit_value")
    }
  }

  // ---- writes ------------------------------------------------------------

  /** Single-writer contract (the reference's level-mutex analog,
    * `index.js:114`), enforced atomically and UP FRONT: the refresh epoch
    * is acquired by `CREATE_NEW`-creating a per-epoch claim marker before
    * any data bytes are written, so two racers computing the same epoch
    * cannot both proceed — exactly one `createFile` succeeds, and the
    * loser fails before it can interleave staged files or clobber the
    * manifest. (The previous check compared the manifest after the full
    * bucket + sidecar write — a TOCTOU where both racers could pass.) */
  private def claimEpoch(name: String, e: Long): Unit = {
    Files.createDirectories(root(name))
    val marker = root(name).resolve(s"_CLAIM.e$e")
    try Files.createFile(marker)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val cur = manifest(name).get((EpochKind, 0)).getOrElse(-1)
        throw new IllegalStateException(
          s"concurrent writer detected on view '$name': epoch $e is " +
            s"already claimed (manifest epoch $cur). If the claiming " +
            s"writer crashed before publishing, remove $marker and retry.")
    }
  }

  /** Drop claim markers past the sidecar retention horizon — once an
    * epoch's sidecar is reclaimed, its claim has no remaining purpose. */
  private def gcOldClaims(name: String, currentEpoch: Long): Unit = {
    val stream = Files.list(root(name))
    try stream.iterator().forEachRemaining { c =>
      val n = c.getFileName.toString
      if (n.startsWith("_CLAIM.e") && n.drop(8).nonEmpty &&
          n.drop(8).forall(_.isDigit) &&
          n.drop(8).toLong <= currentEpoch - changeRetention)
        Files.deleteIfExists(c)
    } finally stream.close()
  }

  private def withBuckets(emissions: DataFrame): DataFrame =
    emissions.withColumn("kb", emitBucketExpr(col("emit_key")))

  private def metaOf(emissions: DataFrame): DataFrame =
    emissions.groupBy(col("src_key"))
      .agg(collect_set(col("kb")).as("emit_buckets"))
      .withColumn("mb", metaBucketExpr(col("src_key")))
      // stagedWrite sorts on these; give meta rows compatible columns
      .withColumn("emit_key", col("src_key"))
      .withColumn("uid", lit(0L))

  /** Full materialization of emissions + meta back-pointers.
    *
    * Re-materializing an EXISTING view continues the epoch counter (uid
    * uniqueness across the rebuild) and writes the rebuild's CDC sidecar —
    * deletes of the entire prior snapshot + inserts of the new emission
    * set — so [[changesBetween]] stays contiguous across a full rebuild.
    * Initial materialization is epoch 0 with no sidecar. */
  def materialize(index: MapIndex, source: DataFrame): Unit = {
    val name = index.name
    val m0 = manifest(name)
    val prevEpoch = m0.get((EpochKind, 0))
    val nextEpoch = prevEpoch.map(_ + 1).getOrElse(0)
    claimEpoch(name, nextEpoch.toLong)
    // A writer that FAILS before the manifest swap releases its own claim
    // (see ViewStore.writeClustered): staged output lands under fresh
    // nanoTime staging dirs and orphan bucket versions are skipped past by
    // stagedWrite's onDisk max, so a retry recomputing the same epoch is
    // safe. The claim survives a successful swap — only the genuine
    // concurrent-racer case keeps failing loudly in claimEpoch.
    var published = false
    try {
      val raw = withBuckets(index.emissions(source, nextEpoch.toLong))
      // rebuild writes the emission set twice (buckets + sidecar): pin uids
      // with an eager localCheckpoint (see MaterializedView.refresh); the
      // fresh path writes once per relation and a cache suffices (meta is
      // uid-independent)
      val emissions = if (prevEpoch.isDefined) raw.localCheckpoint(true) else raw.cache()
      writeSchema(name, emissions)
      val all = (0 until numBuckets).toSet
      val m = stagedWrite(name, Emit, emissions, "kb", all, m0) ++
        stagedWrite(name, Meta, metaOf(emissions), "mb", all, m0)
      prevEpoch.foreach { _ =>
        // prior snapshot read off the OLD manifest — not yet swapped
        val delta = df(name).withColumn("change_type", lit("delete"))
          .unionByName(emissions.drop("kb").withColumn("change_type", lit("insert")))
          .withColumn("change_version", lit(nextEpoch.toLong))
        delta.write.mode("overwrite").option("compression", "zstd")
          .parquet(changesPath(name, nextEpoch.toLong).toString)
      }
      if (prevEpoch.isEmpty) emissions.unpersist()
      else Checkpoints.free(emissions)
      writeManifest(name, m + ((EpochKind, 0) -> nextEpoch))
      published = true
      gcOldVersions(name, all.map((Emit, _)) ++ all.map((Meta, _)), m)
      gcOldSidecars(name, nextEpoch.toLong)
      gcOldClaims(name, nextEpoch.toLong)
    } finally {
      if (!published)
        // best-effort: a throwing deleteIfExists in a finally would REPLACE
        // the original write failure (see ViewStore.writeClustered)
        try Files.deleteIfExists(root(name).resolve(s"_CLAIM.e$nextEpoch"))
        catch { case _: java.io.IOException =>
          System.err.println(s"warn: could not release claim e$nextEpoch on '$name'") }
    }
  }

  /**
   * Partition-scoped refresh: delete-then-insert for the changed source
   * keys, touching only the buckets that hold their rows (plus the new
   * emissions' buckets). Returns how much of the view was rewritten.
   */
  def refresh(index: MapIndex, upserts: DataFrame,
      deleteKeys: Option[DataFrame] = None): RefreshStats = {
    import spark.implicits.newLongEncoder
    val name = index.name
    val m0 = manifest(name)
    // epoch for cross-refresh uid uniqueness: a dedicated monotone counter
    // in the manifest. (Deriving it from the max bucket version is NOT
    // monotone — a refresh that touches only low-version buckets leaves
    // the max unchanged, and the next refresh would reuse the epoch.)
    // Claimed atomically BEFORE any work: a racer computing the same
    // epoch fails here, not after both have interleaved staged writes.
    val epoch = (m0.getOrElse((EpochKind, 0), -1) + 1).toLong
    claimEpoch(name, epoch)
    // failed-writer claim release, same contract as [[materialize]]
    var published = false
    try {
    val changed = {
      val up = index.touchedKeys(upserts)
      deleteKeys.map(d => up.union(d.toDF("src_key"))).getOrElse(up).distinct()
        .withColumn("mb", metaBucketExpr(col("src_key"))).cache()
    }
    val changedKeys = changed.select("src_key")
    // ONE job over the cached key set answers both driver questions: the
    // broadcast size gate (count) and the touched meta buckets
    // (collect_set over ≤ numBuckets ints) — previously two jobs per
    // refresh for the same scan (guide §1.2: remove passes)
    val gateRow = changed
      .agg(count(lit(1)), collect_set(col("mb"))).head()
    // size-gate the changed-key joins: broadcast a delta-sized set (the
    // common case — big sides scan once, never shuffle), fall back to
    // plain shuffle joins past [[broadcastKeyLimit]] so a bulk backfill
    // cannot OOM the driver.
    val keyHint: DataFrame => DataFrame =
      if (gateRow.getLong(0) <= broadcastKeyLimit) broadcast else identity

    // 1-2: back-pointer lookup, pruned to the changed keys' meta buckets
    val metaBuckets: Set[Int] =
      gateRow.getSeq[Long](1).map(_.toInt).toSet
    val oldMetaPaths = livePaths(name, Meta, Some(metaBuckets))
    val oldEmitBuckets: Set[Int] =
      if (oldMetaPaths.isEmpty) Set.empty
      else spark.read.parquet(oldMetaPaths: _*)
        .join(keyHint(changedKeys), Seq("src_key"), "left_semi")
        .select(explode(col("emit_buckets")).as("kb"))
        .distinct().as[Long].collect().map(_.toInt).toSet

    // localCheckpoint, not cache: the batch feeds THREE writes (emit
    // buckets, meta, CDC sidecar) and uid must be identical in all of
    // them — see MaterializedView.refresh
    val newEmissions = withBuckets(index.emissions(upserts, epoch)).localCheckpoint(true)
    val newEmitBuckets = newEmissions.select("kb").distinct()
      .as[Long].collect().map(_.toInt).toSet

    // 3: rewrite only affected emit buckets — one job. A single outer
    // join tags each old row kept/retracted, so the affected buckets are
    // scanned once for BOTH the rewrite and the CDC sidecar's delete half.
    val affected = oldEmitBuckets ++ newEmitBuckets
    val oldAffectedPaths = livePaths(name, Emit, Some(affected))
    val taggedOld =
      if (oldAffectedPaths.isEmpty) None
      else Some(withBuckets(spark.read.parquet(oldAffectedPaths: _*))
        .join(keyHint(changedKeys.withColumn("_chg", lit(true))),
          Seq("src_key"), "left_outer")
        .persist())
    val kept = taggedOld.map(_.filter(col("_chg").isNull).drop("_chg"))
      .getOrElse(newEmissions.limit(0))
    val retracted = taggedOld.map(_.filter(col("_chg")).drop("_chg"))
      .getOrElse(newEmissions.limit(0))
    val mEmit = stagedWrite(name, Emit,
      kept.unionByName(newEmissions), "kb", affected, m0)

    // 4: rewrite only the changed keys' meta buckets — one job
    // (partitionBy drops the bucket column from data files; re-derive it)
    val oldMetaKept =
      if (oldMetaPaths.isEmpty) metaOf(newEmissions).limit(0)
      else spark.read.parquet(oldMetaPaths: _*)
        .join(keyHint(changedKeys), Seq("src_key"), "left_anti")
        .withColumn("mb", metaBucketExpr(col("src_key")))
    val mMeta = stagedWrite(name, Meta,
      oldMetaKept.unionByName(metaOf(newEmissions)), "mb", metaBuckets, m0)

    // 5: CDC sidecar — the retracted set (from the tagged scan above) and
    // the inserted set are in hand right now; persisting them per epoch
    // BEFORE the manifest swap is what gives the bucketed (100 TB) layout
    // an O(delta) change feed (changesBetween) with no snapshot diff. A
    // reader can never see the new epoch without its sidecar.
    val delta = retracted.drop("kb").withColumn("change_type", lit("delete"))
      .unionByName(newEmissions.drop("kb").withColumn("change_type", lit("insert")))
      .withColumn("change_version", lit(epoch))
    delta.write.mode("overwrite").option("compression", "zstd")
      .parquet(changesPath(name, epoch).toString)

    taggedOld.foreach(_.unpersist()); changed.unpersist()
    Checkpoints.free(newEmissions) // all three writes done — release the pin
    // 6: atomic manifest swap — readers see old or new snapshot, never a
    // mix. (Single-writer safety was established up front by claimEpoch —
    // no racer holding a different epoch can reach this swap.)
    val dropped = (affected.map((Emit, _)) ++ metaBuckets.map((Meta, _))) --
      mEmit.keySet -- mMeta.keySet
    writeManifest(name,
      m0 -- dropped ++ mEmit ++ mMeta + ((EpochKind, 0) -> epoch.toInt))
    published = true
    // 7: GC superseded versions — without this the streaming path leaks one
    // version per touched bucket per micro-batch. Keep one grace version
    // (v-1) for readers that resolved the previous manifest and are still
    // scanning; delete everything older. Sidecars past the retention
    // horizon go with them.
    gcOldVersions(name, affected.map((Emit, _)) ++ metaBuckets.map((Meta, _)),
      mEmit ++ mMeta)
    gcOldSidecars(name, epoch)
    gcOldClaims(name, epoch)
    RefreshStats(affected.size, metaBuckets.size, numBuckets)
    } finally {
      if (!published)
        // best-effort: a throwing deleteIfExists in a finally would REPLACE
        // the original write failure (see ViewStore.writeClustered)
        try Files.deleteIfExists(root(name).resolve(s"_CLAIM.e$epoch"))
        catch { case _: java.io.IOException =>
          System.err.println(s"warn: could not release claim e$epoch on '$name'") }
    }
  }

  /** Live parquet file count of one manifest-live bucket — the
    * fragmentation measure [[compact]] thresholds on. */
  private def liveFileCount(name: String, kind: String, b: Int, v: Int): Int = {
    val dir = Paths.get(bucketPath(name, kind, b, v))
    if (!Files.exists(dir)) 0
    else {
      val stream = Files.list(dir)
      try stream.iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      finally stream.close()
    }
  }

  /**
   * Compaction epoch: rewrite live buckets whose parquet file count
   * exceeds `maxFilesPerBucket`, folding each one's accreted slices into
   * a single file — a NO-CHANGE epoch. Long sequences of tiny refreshes
   * leave up to [[writeSalt]] small files per touched bucket per epoch;
   * at 100 TB that fragmentation taxes every subsequent read (per-file
   * open + footer decode) until a bucket happens to be fully rewritten.
   * Rows are preserved byte-identically (same uids, same
   * values — the rewrite is read-then-write with no transformation), the
   * epoch's CDC sidecar is EMPTY (a feed replay crossing a compaction
   * sees nothing from it), and snapshot grace/retention semantics are
   * unchanged — in-flight readers of the pre-compaction manifest keep
   * their grace copies exactly as with any refresh.
   *
   * Buckets at or under the threshold are untouched; if nothing is over
   * it, the call is a no-op (no epoch bump, no sidecar). Compaction uses
   * an UNSALTED write (one task, one file per bucket) — parallelism
   * across buckets, not within one; it is a background maintenance op,
   * not a latency-critical refresh.
   */
  def compact(name: String, maxFilesPerBucket: Int = 1): RefreshStats = {
    val m0 = manifest(name)
    require(m0.nonEmpty, s"view '$name' not materialized in $baseDir")
    // iterator, NOT m0.collect: collecting (kind, bucket) pairs straight
    // off a Map rebuilds a Map keyed by KIND, silently keeping one bucket
    // per kind — every other over-threshold bucket would be dropped
    val needs: Set[(String, Int)] = m0.iterator.collect {
      case ((k, b), v) if (k == Emit || k == Meta) &&
        liveFileCount(name, k, b, v) > maxFilesPerBucket => (k, b)
    }.toSet
    if (needs.isEmpty) return RefreshStats(0, 0, numBuckets)
    val epoch = (m0.getOrElse((EpochKind, 0), 0) + 1).toLong
    claimEpoch(name, epoch)
    var published = false
    try {
      val emitB = needs.collect { case (Emit, b) => b }
      val metaB = needs.collect { case (Meta, b) => b }
      val mEmit =
        if (emitB.isEmpty) Map.empty[(String, Int), Int]
        else stagedWrite(name, Emit,
          withBuckets(spark.read.parquet(livePaths(name, Emit, Some(emitB)): _*)),
          "kb", emitB, m0, salt = 1)
      val mMeta =
        if (metaB.isEmpty) Map.empty[(String, Int), Int]
        else stagedWrite(name, Meta,
          spark.read.parquet(livePaths(name, Meta, Some(metaB)): _*)
            .withColumn("mb", metaBucketExpr(col("src_key"))),
          "mb", metaB, m0, salt = 1)
      // EMPTY CDC sidecar, written before the swap like any refresh's: the
      // epoch participates in the feed (changesBetween ranges crossing it
      // keep their fail-loud contiguity contract) but contributes no rows.
      // repartition(1) forces one schema-bearing file — a zero-partition
      // empty write would leave nothing for the sidecar read to infer from
      df(name).limit(0)
        .withColumn("change_type", lit("insert"))
        .withColumn("change_version", lit(epoch))
        .repartition(1)
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(changesPath(name, epoch).toString)
      // compaction preserves rows, so no bucket can go empty — but mirror
      // refresh's dropped-bucket bookkeeping anyway (defense in depth)
      val dropped = needs -- mEmit.keySet -- mMeta.keySet
      writeManifest(name,
        m0 -- dropped ++ mEmit ++ mMeta + ((EpochKind, 0) -> epoch.toInt))
      published = true
      gcOldVersions(name, needs, mEmit ++ mMeta)
      gcOldSidecars(name, epoch)
      gcOldClaims(name, epoch)
      RefreshStats(emitB.size, metaB.size, numBuckets)
    } finally {
      if (!published)
        try Files.deleteIfExists(root(name).resolve(s"_CLAIM.e$epoch"))
        catch { case _: java.io.IOException =>
          System.err.println(s"warn: could not release claim e$epoch on '$name'") }
    }
  }

  /**
   * Bucket-count evolution: DOUBLE the view's bucket count in a NO-CHANGE
   * epoch and return a handle at the new geometry. A store sized for last
   * year's corpus accretes until per-bucket rewrites dominate refresh
   * latency; at 100 TB "re-materialize into a wider store" means
   * re-shuffling the whole view, which this avoids entirely:
   *
   * Hash bucketing makes doubling LOCAL — `h mod 2N` is either `h mod N`
   * or `h mod N + N`, so every new bucket's rows come from exactly one
   * old bucket. The rewrite is a single pass with **no exchange** (the
   * staged write fans each input slice into at most its two child
   * directories; `shuffle = false` above), i.e. embarrassingly parallel
   * per old bucket on a real cluster.
   *
   * Meta back-pointers split the same exchange-free way by
   * OVER-APPROXIMATION: a source key recorded in old emit bucket `b` is
   * recorded in `{b, b+N}` (deciding which of the two is real would need
   * the emissions re-hashed — a shuffle). The back-pointer contract
   * tolerates supersets — a refresh reads at most one extra bucket per
   * stale pointer and rewrites the pointer exactly on the key's next
   * change — so the approximation is self-correcting, costing bounded
   * extra read I/O and never correctness. Each meta ROW still moves
   * locally (`mb → mb or mb+N`, re-derived from `src_key`).
   *
   * Epoch semantics mirror [[compact]]: the epoch bumps with an EMPTY CDC
   * sidecar (feed replays crossing the split see nothing from it), grace
   * copies of the old-geometry buckets keep the pre-split epoch
   * time-travelable until it ages out, and the manifest swap is atomic.
   * The OLD handle fails loudly on its next manifest read (geometry
   * stamp); all further maintenance goes through the returned handle.
   *
   * Range-bucketed stores refuse: their rebalance is re-materialization
   * with fresh boundaries (see [[rangeBoundaries]] doc).
   */
  def splitBuckets(name: String): BucketedViewStore = {
    require(rangeBoundaries.isEmpty,
      "splitBuckets is hash-layout-only: range-bucketed stores rebalance " +
        "by re-materializing into a store with fresh boundaries")
    val m0 = manifest(name)
    require(m0.nonEmpty, s"view '$name' not materialized in $baseDir")
    val epoch = (m0.getOrElse((EpochKind, 0), 0) + 1).toLong
    claimEpoch(name, epoch)
    var published = false
    try {
      val wide = new BucketedViewStore(spark, baseDir, numBuckets * 2,
        graceVersions, changeRetention, None, writeSalt, broadcastKeyLimit)
      val all2 = (0 until wide.numBuckets).toSet
      // emissions: re-derive kb under 2N. No repartition — each row's new
      // bucket differs from its old one only by the +N bit.
      val mEmit = wide.stagedWrite(name, Emit, wide.withBuckets(df(name)),
        "kb", all2, m0, shuffle = false)
      // meta: local row move (mb re-derived from src_key under 2N) +
      // back-pointer over-approximation b → {b, b+N}
      val oldMetaPaths = livePaths(name, Meta)
      val mMeta =
        if (oldMetaPaths.isEmpty) Map.empty[(String, Int), Int]
        else {
          val n = lit(numBuckets.toLong)
          val remapped = spark.read.parquet(oldMetaPaths: _*)
            .withColumn("emit_buckets", array_distinct(flatten(
              transform(col("emit_buckets"), b => array(b, b + n)))))
            .withColumn("mb", wide.metaBucketExpr(col("src_key")))
          wide.stagedWrite(name, Meta, remapped, "mb", all2, m0, shuffle = false)
        }
      // EMPTY sidecar before the swap, like compact: the epoch
      // participates in the feed's contiguity contract, contributes no rows
      df(name).limit(0)
        .withColumn("change_type", lit("insert"))
        .withColumn("change_version", lit(epoch))
        .repartition(1)
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(changesPath(name, epoch).toString)
      // old-geometry data entries are replaced wholesale (ids < N continue
      // their version counters via stagedWrite's prev/onDisk max, so grace
      // copies of the old geometry survive for dfAsOf readers)
      val kept = m0.filterNot { case ((k, _), _) => k == Emit || k == Meta }
      wide.writeManifest(name,
        kept ++ mEmit ++ mMeta + ((EpochKind, 0) -> epoch.toInt))
      published = true
      val touched = all2.map((Emit, _)) ++ all2.map((Meta, _))
      gcOldVersions(name, touched, mEmit ++ mMeta)
      gcOldSidecars(name, epoch)
      gcOldClaims(name, epoch)
      wide
    } finally {
      if (!published)
        try Files.deleteIfExists(root(name).resolve(s"_CLAIM.e$epoch"))
        catch { case _: java.io.IOException =>
          System.err.println(s"warn: could not release claim e$epoch on '$name'") }
    }
  }

  /**
   * Incremental snapshot ship: publish this view's CURRENT epoch into a
   * replica store at `destDir`, copying only what the replica does not
   * already hold. Bucket versions are immutable once published, so
   * `(kind, bucket, version)` is content-addressed — a manifest diff is
   * exactly the set of bytes to move, and a steady-state re-ship after a
   * small refresh copies O(touched buckets), not the view. This is the
   * cross-region replica / publish-to-serving primitive: at 100 TB a full
   * copy per publish is a non-starter, while the manifest diff is the
   * same O(delta) the refresh itself wrote.
   *
   * The replica is a normal store (open it with a same-geometry handle):
   * reads, point lookups, scans, time travel over shipped epochs, and
   * [[changesBetween]] over the shipped sidecars all work. Ship order is
   * data → sidecars → atomic manifest swap, so a reader of the replica
   * never sees an epoch without its data or its sidecar. A crashed ship
   * re-runs idempotently (already-copied versions are skipped); the
   * replica's claim marker makes concurrent shippers fail loudly. Epochs
   * only move forward — shipping an older epoch over a newer replica
   * refuses.
   */
  def shipTo(name: String, destDir: String): ShipStats = {
    val mSrc = manifest(name)
    require(mSrc.nonEmpty, s"view '$name' not materialized in $baseDir")
    val dataCount = mSrc.count(e => e._1._1 == Emit || e._1._1 == Meta)
    val dest = new BucketedViewStore(spark, destDir, numBuckets, graceVersions,
      changeRetention, rangeBoundaries, writeSalt, broadcastKeyLimit)
    val mDst = dest.manifest(name) // geometry-stamp-checked
    val srcEpoch = mSrc.getOrElse((EpochKind, 0), 0)
    val dstEpoch = mDst.get((EpochKind, 0))
    if (dstEpoch.contains(srcEpoch)) return ShipStats(0, 0, dataCount)
    require(dstEpoch.forall(_ < srcEpoch),
      s"replica at $destDir is ahead of the source " +
        s"(epoch ${dstEpoch.getOrElse(-1)} > $srcEpoch) — refusing to ship backwards")
    dest.claimEpoch(name, srcEpoch.toLong)
    var published = false
    try {
      // 1: data — only versions the replica lacks, copied to a temp
      // sibling then moved so a crash never leaves a half-copied live dir
      val toCopy = mSrc.iterator.filter { case ((k, b), v) =>
        (k == Emit || k == Meta) && !mDst.get((k, b)).contains(v)
      }.toSeq
      toCopy.foreach { case ((k, b), v) =>
        val d = Paths.get(dest.bucketPath(name, k, b, v))
        if (!Files.exists(d)) {
          Files.createDirectories(d.getParent)
          val tmp = d.getParent.resolve(s"${d.getFileName}.ship${System.nanoTime()}")
          copyRecursively(Paths.get(bucketPath(name, k, b, v)), tmp)
          Files.move(tmp, d)
        }
      }
      // 2: schema (empty-view reads) + the CDC sidecars the replica lacks,
      // so its change feed serves the same retained window as the source's
      Files.createDirectories(dest.root(name))
      Files.copy(schemaFile(name), dest.schemaFile(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      var sidecars = 0
      if (Files.exists(changesRoot(name))) {
        val stream = Files.list(changesRoot(name))
        try stream.iterator().asScala.foreach { c =>
          val d = dest.changesRoot(name).resolve(c.getFileName.toString)
          if (!Files.exists(d)) {
            Files.createDirectories(d.getParent)
            val tmp = d.getParent.resolve(s"${d.getFileName}.ship${System.nanoTime()}")
            copyRecursively(c, tmp)
            Files.move(tmp, d)
            sidecars += 1
          }
        } finally stream.close()
      }
      // 3: atomic replica manifest swap, then replica-side GC (superseded
      // versions past grace — including buckets the source dropped —
      // and sidecars past retention)
      dest.writeManifest(name, mSrc)
      published = true
      val dropped = mDst.keySet.filter(e => e._1 == Emit || e._1 == Meta) --
        mSrc.keySet
      dest.gcOldVersions(name, toCopy.map(_._1).toSet ++ dropped,
        mSrc.filter(e => e._1._1 == Emit || e._1._1 == Meta))
      dest.gcOldSidecars(name, srcEpoch.toLong)
      dest.gcOldClaims(name, srcEpoch.toLong)
      ShipStats(toCopy.size, sidecars, dataCount)
    } finally {
      if (!published)
        try Files.deleteIfExists(dest.root(name).resolve(s"_CLAIM.e$srcEpoch"))
        catch { case _: java.io.IOException =>
          System.err.println(s"warn: could not release replica claim e$srcEpoch on '$name'") }
    }
  }

  /** Recursive file-tree copy with the walk stream closed (cf.
    * [[deleteRecursively]]). */
  private def copyRecursively(src: Path, dst: Path): Unit = {
    val stream = Files.walk(src)
    try stream.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally stream.close()
  }

  /** Delete superseded version dirs for every TOUCHED bucket, keeping
    * [[graceVersions]] trailing copies for in-flight readers of older
    * snapshots. Sweeps each touched bucket's parent directory listing —
    * NOT the live manifest entries — because a bucket dropped from the
    * manifest (went empty on this refresh or rebuild) still has old
    * `v<N>` dirs on disk; keying deletion off live entries (the previous
    * implementation) leaked those forever, one slow disk leak per emptied
    * bucket. For a dropped bucket the grace horizon is measured from its
    * highest on-disk version (the copy the previous manifest references). */
  private def gcOldVersions(name: String, touched: Set[(String, Int)],
      live: Map[(String, Int), Int]): Unit =
    touched.foreach { case (kind, b) =>
      val parent = Paths.get(bucketPath(name, kind, b, 0)).getParent
      if (Files.exists(parent)) {
        val versions = {
          val stream = Files.list(parent)
          try stream.iterator().asScala
            .map(_.getFileName.toString)
            .collect { case s if s.startsWith("v") && s.drop(1).nonEmpty &&
              s.drop(1).forall(_.isDigit) => s.drop(1).toInt }
            .toList
          finally stream.close()
        }
        if (versions.nonEmpty) {
          val horizon = live.get((kind, b)) match {
            case Some(v) => v - 1 - graceVersions
            case None    => versions.max - graceVersions
          }
          versions.filter(_ <= horizon)
            .foreach(v => deleteRecursively(parent.resolve(s"v$v")))
        }
      }
    }
}

object BucketedViewStore {
  private val Emit = "emit"
  private val Meta = "meta"
  /** manifest entry `(EpochKind, 0) -> e`: monotone refresh counter for
    * cross-refresh uid uniqueness (not a bucket). */
  private val EpochKind = "epoch"
  /** manifest entry `(BucketsKind, 0) -> B`: the geometry the view was
    * written at — handles at a different bucket count fail loudly. */
  private val BucketsKind = "buckets"

  final case class RefreshStats(
      emitBucketsRewritten: Int, metaBucketsRewritten: Int, totalBuckets: Int)

  /** What a [[BucketedViewStore.shipTo]] moved: `bucketsCopied` out of
    * `totalLiveBuckets` manifest data entries, plus CDC sidecar epochs. */
  final case class ShipStats(
      bucketsCopied: Int, sidecarsCopied: Int, totalLiveBuckets: Int)

  /** JVM-side mirror of the bucket expression (pmod(xxhash64(str), B)). */
  def bucketOf(key: Any, numBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(String.valueOf(key)),
      org.apache.spark.sql.types.StringType, 42L)
    (((h % numBuckets) + numBuckets) % numBuckets).toInt
  }

  /** JVM-side mirror of the range bucket expression: the count of
    * boundaries at or below the key, compared exactly as Spark compares
    * StringType (UTF8 byte order) so JVM pruning and Spark assignment
    * can never disagree. Linear over B-1 boundaries — B is small (a
    * directory fan-out), and this runs once per scan, not per row. */
  def rangeBucketOf(key: Any, boundaries: Seq[String]): Int = {
    val k = org.apache.spark.unsafe.types.UTF8String.fromString(String.valueOf(key))
    boundaries.count(b =>
      org.apache.spark.unsafe.types.UTF8String.fromString(b).compareTo(k) <= 0)
  }

  /** Covering bucket for an EXCLUSIVE upper bound: the bucket of the
    * largest key strictly below `end` = count of boundaries strictly
    * below it (same UTF8 byte order as [[rangeBucketOf]]). Differs from
    * [[rangeBucketOf]] only when `end` equals a boundary, where the
    * inclusive count would open one whole extra bucket for nothing. */
  def rangeBucketBelow(end: Any, boundaries: Seq[String]): Int = {
    val k = org.apache.spark.unsafe.types.UTF8String.fromString(String.valueOf(end))
    boundaries.count(b =>
      org.apache.spark.unsafe.types.UTF8String.fromString(b).compareTo(k) < 0)
  }

  def temp(spark: SparkSession, numBuckets: Int = 16): BucketedViewStore =
    new BucketedViewStore(spark,
      Files.createTempDirectory("graft-bucketed-").toString, numBuckets)

  /** Fresh throwaway RANGE-partitioned store (boundaries define the
    * bucket count). */
  def tempRange(spark: SparkSession, boundaries: Seq[String]): BucketedViewStore =
    new BucketedViewStore(spark,
      Files.createTempDirectory("graft-rangebucketed-").toString,
      numBuckets = boundaries.size + 1, rangeBoundaries = Some(boundaries))
}
