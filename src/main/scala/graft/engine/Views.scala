package graft.engine

import java.nio.file.{Files, Path, Paths}
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Per-JVM cache of materialized views, keyed by (sfDir, index name) —
 * optionally backed by a DURABLE store root that outlives the JVM.
 *
 * The reference materializes once at write time and serves every query from
 * the stored index (`index.js:173-249` vs `124-172`); this cache gives the
 * driver's Verify/Bench runs the same compute-on-write economics — the
 * first query materializes, subsequent queries are pure index reads.
 *
 * Durability: with `-Dgraft.views.root=<dir>` (or `GRAFT_VIEWS_ROOT`), each
 * corpus's views root under `<dir>/corpus-<key>` instead of a throwaway
 * temp dir, and a metadata-only corpus fingerprint decides reuse — a
 * second process (or a restarted one) over the same corpus serves
 * yesterday's materializations without recomputing them, while a corpus
 * rewrite under the same path rolls the fingerprint and forces a rebuild
 * rather than silently serving stale views. This is the same
 * staleness-check pattern the IVF quantizer cache uses for its trained
 * centroids (SimilarityQueries.corpusFingerprint). Default stays temp:
 * the test/bench driver wants per-run isolation.
 *
 * Every operator build memo goes through one of two primitives:
 *  - [[Views.unit]] for DURABLE multi-step state (a view or aggregate
 *    taken through several store calls): it takes the per-key lock, keeps
 *    the per-JVM memo, reopens a unit whose `_UNIT_<unit>` marker exists
 *    or else builds it and then writes the marker, and memoizes only after
 *    success;
 *  - [[Views.cached]] for PER-JVM state (temp stores, session-scoped
 *    tables, single-materialize views whose own `_LATEST` is the durable
 *    gate — [[Views.materialized]]): the same lock and memo, no marker.
 * Memo names are unique per corpus across the three: [[materialized]]
 * keys by the view name, so a [[cached]] or [[unit]] memo over a view
 * that is also materialized keys by its builder's name.
 */
object Views {
  private val stores = TrieMap.empty[String, ViewStore]
  private val bstores = TrieMap.empty[String, BucketedViewStore]
  private val cache = TrieMap.empty[(String, String), Any]

  /** Per-key build mutex. `TrieMap.getOrElseUpdate` evaluates its default
    * in EVERY racing thread (one result wins, the others are discarded) —
    * harmless for pure values, but a view BUILDER that runs twice
    * interleaves store writes: the claim markers catch same-version races
    * loudly, yet two full build UNITS stacked on one store dir would
    * publish extra versions and silently shift every version-addressed
    * consumer (changefeeds, asOf). Prewarm overlaps independent builds
    * ([[graft.operators.Prewarm]]), so every build memo here ([[unit]],
    * [[materialized]], [[cached]]) takes this per-key lock first; nesting
    * follows the build-dependency DAG (acyclic), so lock order cannot
    * cycle and `synchronized` reentrancy covers self-recursion. */
  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]
  private def locked[T](key: String)(body: => T): T =
    buildLocks.computeIfAbsent(key, _ => new Object).synchronized(body)

  /** Durable root directory, when configured. */
  private def durableRoot: Option[String] =
    sys.props.get("graft.views.root")
      .orElse(sys.env.get("GRAFT_VIEWS_ROOT")).filter(_.nonEmpty)

  def store(spark: SparkSession, sfDir: String): ViewStore =
    locked(s"store#$sfDir") {
      stores.getOrElseUpdate(sfDir, durableRoot match {
        case Some(root) => durableStore(spark, root, sfDir)
        case None       => ViewStore.temp(spark)
      })
    }

  /** Bucketed-store selection mirror of [[store]]: temp by default,
    * durable under the configured root. This is the route the persisted
    * ANN indexes (IVF cells, LSH bands, SQ8 codes) and the pair-graph /
    * components stores take — precisely the most expensive indexes the
    * engine maintains, so they are the ones that survive a JVM when
    * durability is on (previously they were hardwired to temp stores and
    * never did). One shared store per corpus; view names namespace it. */
  def bucketedStore(spark: SparkSession, sfDir: String,
      numBuckets: Int = 16): BucketedViewStore =
    locked(s"bstore#$sfDir#$numBuckets") {
      bstores.getOrElseUpdate(s"$sfDir#$numBuckets", durableRoot match {
        case Some(root) => durableBucketedStore(spark, root, sfDir, numBuckets)
        case None       => BucketedViewStore.temp(spark, numBuckets)
      })
    }

  /** Per-JVM memo of completed build units, keyed by (store dir, unit). */
  private val units = TrieMap.empty[(String, String), Any]

  /** One multi-step BUILD UNIT — an engine-maintained index whose on-disk
    * state is the product of several store calls (a pair graph's build +
    * change batch, an ANN view's materialize + refresh). The unit
    * contract, in one place:
    *  - lock: the whole lookup runs under the per-key lock ([[locked]]),
    *    so two prewarm steps reaching the same unit never run its build
    *    twice — by construction, whichever builders they share. Nested
    *    units lock in build-dependency order (acyclic), as above.
    *  - memo: a completed unit is served from the per-JVM memo.
    *  - marker: otherwise, if the store dir holds the `_UNIT_<unit>`
    *    marker, `reopen` attaches to the stored state; else `build` runs
    *    every store call and the marker is written after it returns. A
    *    reopening JVM over a durable, fingerprint-matching store therefore
    *    never serves a unit that crashed halfway (e.g. materialized but
    *    never refreshed) — it rebuilds through the stores' ordinary
    *    rebuild (full-retraction CDC) path. The marker lives inside the
    *    store dir, so a corpus-fingerprint roll wipes it with the views it
    *    gates.
    *  - memo only on success: a `build` that throws leaves neither marker
    *    nor memo entry, so [[graft.operators.Prewarm]]'s sequential retry
    *    rebuilds cleanly. */
  def unit[T](storeDir: String, unit: String)(reopen: => T)(build: => T): T =
    locked(s"unit#$storeDir#$unit") {
      units.getOrElse((storeDir, unit), {
        val v =
          if (unitDone(storeDir, unit)) reopen
          else {
            val built = build
            Files.createDirectories(Paths.get(storeDir))
            Files.writeString(Paths.get(storeDir, s"_UNIT_$unit"), "done")
            built
          }
        units.put((storeDir, unit), v)
        v
      }).asInstanceOf[T]
    }

  /** Has the unit's completion marker been written under `storeDir`? */
  def unitDone(storeDir: String, unit: String): Boolean =
    Files.exists(Paths.get(storeDir, s"_UNIT_$unit"))

  /** Persist a small numeric model next to a store's views (IVF
    * centroids, SQ8 scale): a reopening JVM must probe with EXACTLY the
    * model the stored index was built with — re-fitting would silently
    * disagree with the stored assignment/codes. Full-precision text
    * round-trip (`java.lang.Double.toString` is exact under
    * `parseDouble`); model-sized by definition, so one tiny file. */
  def writeModel(storeDir: String, name: String, rows: Seq[Seq[Double]]): Unit = {
    Files.createDirectories(Paths.get(storeDir))
    Files.writeString(Paths.get(storeDir, s"_MODEL_$name"),
      rows.map(_.map(java.lang.Double.toString).mkString(",")).mkString("\n"))
    ()
  }

  def readModel(storeDir: String, name: String): Option[Seq[Seq[Double]]] = {
    val p = Paths.get(storeDir, s"_MODEL_$name")
    if (!Files.exists(p)) None
    else Some(Files.readString(p).split("\n").toSeq
      .map(_.split(",").toSeq.map(java.lang.Double.parseDouble)))
  }

  /** A view materialized once from `source`. Its own `_LATEST` is the
    * durable gate: a store that already holds the view (written by a
    * previous JVM over a fingerprint-identical corpus) serves it without
    * re-running the materialization. */
  def materialized(spark: SparkSession, sfDir: String, index: MapIndex)
      (source: => DataFrame): MaterializedView =
    cached(sfDir, index.name) {
      val st = store(spark, sfDir)
      if (st.latestVersion(index.name).isDefined) st.load(index)
      else index.materialize(source, st)
    }

  /** Per-JVM memo of one corpus's `build`, under the per-key lock: the
    * build runs at most once per JVM (until [[dropStoresForTest]]), and a
    * build that throws memoizes nothing. */
  def cached[T](sfDir: String, name: String)(build: => T): T =
    locked(s"view#$sfDir#$name") {
      cache.getOrElseUpdate((sfDir, name), build).asInstanceOf[T]
    }

  /**
   * Open (or create) a durable view store under `root` for the corpus at
   * `corpusDir`. Reuse contract: if the recorded corpus fingerprint
   * matches the current one, the existing store (and every view in it) is
   * served as-is; otherwise the store is wiped and restarted so no view
   * can be served against data it was not derived from. The fingerprint
   * is metadata-only (one recursive listing — paths, lengths, mtimes; no
   * data read), so opening a warm store is O(#files) in the corpus.
   */
  def durableStore(spark: SparkSession, root: String, corpusDir: String): ViewStore =
    new ViewStore(spark, durableDir(root, corpusDir, "flat").toString)

  /** The bucketed twin of [[durableStore]] — the layout the persisted
    * ANN indexes (IVF cells, LSH bands) and other 100 TB views live in.
    * Same reuse contract; the caller must reopen with the same bucketing
    * parameters it created the store with (they are layout, not config —
    * the flavor key separates different bucketings so a mismatch opens a
    * different, empty store rather than misreading an existing one). */
  def durableBucketedStore(spark: SparkSession, root: String, corpusDir: String,
      numBuckets: Int = 16,
      rangeBoundaries: Option[Seq[String]] = None): BucketedViewStore = {
    val flavor = rangeBoundaries match {
      case Some(bs) => s"range${numBuckets}-${java.lang.Long.toHexString(
        fnv(bs.mkString("\u001f").getBytes("UTF-8")))}"
      case None     => s"hash$numBuckets"
    }
    new BucketedViewStore(spark, durableDir(root, corpusDir, flavor).toString,
      numBuckets = numBuckets, rangeBoundaries = rangeBoundaries)
  }

  /** Drop the cached store handles of one corpus, the unit memos of
    * those stores and the corpus's [[cached]] entries — lets a spec
    * simulate a fresh process reopening the same durable root (the reuse
    * decision itself is disk-gated, never cached). */
  private[graft] def dropStoresForTest(sfDir: String): Unit = {
    val dirs = stores.remove(sfDir).map(_.baseDir).toSet ++
      bstores.keySet.filter(_.startsWith(s"$sfDir#")).flatMap(bstores.remove).map(_.baseDir)
    units.keySet.filter(k => dirs(k._1)).foreach(units.remove)
    cache.keySet.filter(_._1 == sfDir).foreach(cache.remove)
    ()
  }

  /** Shared staleness gate: resolve `<root>/corpus-<key>/<flavor>`, reuse
    * it when its recorded fingerprint matches the corpus, wipe-and-stamp
    * otherwise. One fingerprint per flavor dir — flavors can be created
    * at different times against different corpus states. */
  private def durableDir(root: String, corpusDir: String, flavor: String): Path = {
    // path-derived subdir key: corpora never share a store root
    val key = java.lang.Long.toHexString(fnv(corpusDir.getBytes("UTF-8")))
    val dir = Paths.get(root, s"corpus-$key", flavor)
    val fp = corpusFingerprint(corpusDir)
    val fpFile = dir.resolve("_CORPUS_FP")
    val reusable = Files.exists(fpFile) && Files.readString(fpFile).trim == fp
    if (!reusable) {
      if (Files.exists(dir)) deleteTree(dir)
      Files.createDirectories(dir)
      Files.writeString(fpFile, fp)
    }
    dir
  }

  /** Metadata-only fingerprint of every file under `corpusDir` (sorted
    * paths × lengths × mtimes, FNV-folded): any rewrite bumps a length or
    * mtime and rolls the key — the cheap staleness test that makes
    * durable reuse safe. */
  def corpusFingerprint(corpusDir: String): String = {
    val rootP = Paths.get(corpusDir)
    require(Files.exists(rootP), s"corpus dir $corpusDir does not exist")
    val stream = Files.walk(rootP)
    val entries =
      try stream.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .sortBy(_._1)
      finally stream.close()
    val h = entries.foldLeft(1469598103934665603L) { case (acc, (p, len, mt)) =>
      val s1 = fnv(p.getBytes("UTF-8"), acc)
      val s2 = (s1 ^ len) * 1099511628211L
      (s2 ^ mt) * 1099511628211L
    }
    java.lang.Long.toHexString(h)
  }

  private def fnv(bytes: Array[Byte], seed: Long = 1469598103934665603L): Long =
    bytes.foldLeft(seed)((acc, b) => (acc ^ (b & 0xffL)) * 1099511628211L)

  private def deleteTree(p: Path): Unit = {
    val stream = Files.walk(p)
    try stream.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally stream.close()
  }
}
