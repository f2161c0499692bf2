package graft.engine

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims

/**
 * Versioned parquet storage for materialized [[MapIndex]] views.
 *
 * The reference mutates LevelDB in place under a write mutex
 * (`index.js:114`; level-mutex serializes batches). Parquet files are
 * immutable, so the equivalent single-writer consistency mechanism is
 * versioned directories with an atomically-renamed `_LATEST` pointer:
 * readers resolve `_LATEST` once and then read an immutable snapshot —
 * the same read-your-snapshot behavior a LevelDB iterator gives.
 *
 * Layout: `<base>/<indexName>/v<N>/part-*.parquet`, `<base>/<indexName>/_LATEST`.
 *
 * Reads of published directories go through one memo of resolved
 * relations ([[readDir]]): a version dir is write-once, so its file
 * listing and footer schema are resolved on the first read and reused
 * until the dir is deleted.
 *
 * Scale note: on a real cluster `<base>` is an object-store prefix and the
 * pointer swap is the usual metadata-commit pattern (what table formats do
 * with a transaction log); per-version data is written once, never mutated.
 */
final class ViewStore(
    val spark: SparkSession,
    val baseDir: String,
    /** superseded versions kept after a write for in-flight readers of
      * older snapshots (see [[BucketedViewStore.graceVersions]]). */
    val graceVersions: Int = 1) extends Serializable {

  require(graceVersions >= 0, s"graceVersions must be >= 0, got $graceVersions")

  private def dir(name: String): Path = Paths.get(baseDir, name)
  private def latestFile(name: String): Path = dir(name).resolve("_LATEST")

  def latestVersion(name: String): Option[Int] =
    if (Files.exists(latestFile(name)))
      Some(Files.readString(latestFile(name)).trim.toInt)
    else None

  def latestPath(name: String): String = {
    val v = latestVersion(name).getOrElse(
      throw new IllegalStateException(s"view '$name' not materialized in $baseDir"))
    dir(name).resolve(s"v$v").toString
  }

  /** The current snapshot of `name`: `_LATEST` resolved, then the memoized
    * relation of that version dir ([[readDir]]). */
  def readLatest(name: String): DataFrame = readDir(latestPath(name))

  /** Resolved relations of published dirs, keyed by their path list. Each
    * entry also records the dirs' identities (file key and modification
    * time): a dir deleted by another store over the same base and then
    * recreated under the same path — `dropView` then a re-materialize —
    * has a new identity, so its stale listing is replaced, never served.
    * Deletes through this store evict their entries ([[deleteTree]]), so
    * the memo holds only live dirs. Transient: a deserialized store
    * starts with an empty memo. */
  @transient private lazy val resolved =
    scala.collection.concurrent.TrieMap.empty[Seq[String], (Seq[(AnyRef, Long)], DataFrame)]

  /**
   * The relation of a published (write-once) directory: a version dir or
   * a CDC sidecar. `spark.read.parquet` lists the dir and runs a footer
   * schema-inference job on every call; this resolves it once per dir.
   * The memo holds the analyzed relation only — every action still scans
   * the parquet files, so no result is cached.
   */
  private[engine] def readDir(path: String): DataFrame = readDirs(Seq(path))

  /** [[readDir]] over several dirs as ONE multi-path scan (the slice
    * reads of [[SliceStore.readSlices]]). */
  private[engine] def readDirs(paths: Seq[String]): DataFrame = {
    val ids = paths.map { p =>
      val a = Files.readAttributes(Paths.get(p), classOf[BasicFileAttributes])
      (a.fileKey, a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS))
    }
    resolved.get(paths) match {
      case Some((`ids`, df)) => df
      case _ =>
        val df = spark.read.parquet(paths: _*)
        resolved.put(paths, (ids, df))
        df
    }
  }

  /** Path lists currently memoized by [[readDir]] (memo-bound checks). */
  private[graft] def resolvedPaths: Iterable[Seq[String]] = resolved.keys

  /** Versions currently readable: the latest plus up to `graceVersions`
    * superseded snapshots the GC has not reclaimed. */
  def readableVersions(name: String): Seq[Int] = {
    val latest = latestVersion(name).toSeq
    latest.flatMap(l => (math.max(0, l - graceVersions) to l))
      .filter(v => Files.exists(dir(name).resolve(s"v$v")))
  }

  /** Snapshot (time-travel) read of a specific retained version — the
    * read-your-snapshot guarantee made addressable: a reader pins `v` and
    * sees that refresh's world regardless of later writes (until the GC
    * horizon `latest - graceVersions` passes it). */
  def readVersion(name: String, version: Int): DataFrame = {
    require(readableVersions(name).contains(version),
      s"view '$name' version $version not readable " +
        s"(retained: ${readableVersions(name).mkString(",")})")
    readDir(dir(name).resolve(s"v$version").toString)
  }

  private def changesPath(name: String, version: Int): Path =
    dir(name).resolve("_changes").resolve(s"v$version")

  /** Raw sidecar read for one version — callers that stamp the version
    * themselves ([[SliceStore.sliceChanges]]); [[changesBetween]] remains
    * the stamped-at-write surface. */
  private[engine] def readChangesRaw(name: String, version: Int): DataFrame = {
    val p = changesPath(name, version)
    require(Files.exists(p),
      s"change sidecar v$version for view '$name' missing or past the GC horizon")
    readDir(p.toString)
  }

  /**
   * Change feed over `(fromVersion, toVersion]`: the per-refresh CDC
   * deltas, concatenated — a replay log. Each refresh persisted its delta
   * as a `_changes/v<N>` sidecar at write time (rows tagged `change_type`
   * ∈ {insert, delete} plus `change_version` = N), so this read is
   * **O(delta)**: a union of sidecar scans, no join, no shuffle. An
   * upserted source key appears as deletes of its old rows + inserts of
   * its new rows — exactly the delete-then-insert contract downstream
   * consumers replay (the cascade retraction model, SURVEY §2 O5); replay
   * order across versions is `change_version` ascending, deletes before
   * inserts within one version.
   *
   * (The previous implementation diffed two full snapshots with anti-joins
   * on uid — an O(view) shuffle per CDC read, which defeats the feature at
   * scale. Note one semantic refinement: over multi-version ranges this is
   * the GROSS replay log — a row inserted in v1 and deleted in v2 appears
   * twice, where a snapshot diff would net it out. Gross is what cascaded
   * consumers need; netting loses the intermediate retraction.)
   */
  def changesBetween(name: String, fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion < toVersion,
      s"change feed range must be non-empty: ($fromVersion, $toVersion]")
    // -1 = "from before the initial materialization" (version 0's sidecar
    // is the first replayed); anything lower is a caller bug — reject it
    // here rather than failing later with a confusing "sidecar v-4
    // missing" once the per-version loop runs
    require(fromVersion >= -1,
      s"fromVersion must be >= -1 (-1 replays from the initial " +
        s"materialization), got $fromVersion")
    // The replay needs exactly the sidecars covering (from, to] — NOT the
    // endpoint SNAPSHOTS. Requiring `readableVersions` to contain `from`
    // (the previous precondition) tied feed availability to snapshot GC,
    // so a grace-1 store that refreshed twice could never serve (0, 2]
    // even though sidecars v1 and v2 were both on disk: snapshot life is
    // a time-travel budget, sidecar life is a consumer-lag budget, and
    // the two are independent (same contract as
    // [[BucketedViewStore.changesBetween]]). `to` must not exceed the
    // published version — a crashed writer's orphan sidecar (written
    // before the _LATEST swap) must stay unreadable.
    val latest = latestVersion(name).getOrElse(
      throw new IllegalStateException(s"view '$name' not materialized in $baseDir"))
    require(toVersion <= latest,
      s"view '$name' is at version $latest; requested toVersion $toVersion does not exist")
    ((fromVersion + 1) to toVersion).map { v =>
      val p = changesPath(name, v)
      require(Files.exists(p),
        s"change sidecar v$v for view '$name' missing — either this version " +
          "was not written through MaterializedView.refresh/MapIndex.materialize, " +
          s"or the sidecar is past the graceVersions=$graceVersions GC horizon")
      readDir(p.toString)
    }.reduce(_.unionByName(_))
  }

  /** Netted change feed over `(fromVersion, toVersion]` — final-state-only
    * consumers; see [[MaterializedView.netChanges]] for the telescoping
    * argument. Cascaded consumers keep using [[changesBetween]]. */
  def changesNetBetween(name: String, fromVersion: Int, toVersion: Int): DataFrame =
    MaterializedView.netChanges(changesBetween(name, fromVersion, toVersion))

  /**
   * Write `emissions` as the next version of the view, clustered by
   * `emit_key`: `repartitionByRange` gives disjoint key ranges per file
   * (file-level min/max pruning for scans) and `sortWithinPartitions`
   * gives row-group/page-level pruning plus the reference's iteration
   * order (`index.js:137`) without a query-time sort.
   */
  def write(index: MapIndex, emissions: DataFrame,
      changes: Option[DataFrame] = None): MaterializedView = {
    writeClustered(index.name, emissions, Seq("emit_key", "uid"), changes)
    new MaterializedView(spark, this, index)
  }

  /** The same versioned write + atomic pointer swap + GC for ANY derived
    * relation (aggregate-view state, secondary structures), clustered by
    * the given columns for file/row-group pruning on their predicates.
    * `changes` (the refresh's retracted+inserted rows, `change_type`
    * tagged) is persisted as a `_changes/v<N>` sidecar BEFORE the pointer
    * swap, so a version is never visible without its CDC delta — this is
    * what makes [[changesBetween]] an O(delta) read instead of a
    * snapshot diff. */
  def writeClustered(name: String, df: DataFrame, clusterCols: Seq[String],
      changes: Option[DataFrame] = None): Unit = {
    val next = latestVersion(name).getOrElse(-1) + 1
    val path = dir(name).resolve(s"v$next")
    claimVersion(name, next)
    // A writer that FAILS between claiming and publishing (a Spark job
    // exception mid-write) releases its own claim so a retry can recompute
    // the same `next` and proceed — both writes below are mode("overwrite"),
    // so partial output from the failed attempt is clobbered, and the
    // unswapped _LATEST means no reader ever saw it. The marker survives
    // only a SUCCESSFUL publish (the genuine concurrent-racer case keeps
    // failing loudly in claimVersion); without this release, one failed
    // write wedged the view until manual marker removal.
    //
    // Assumption behind the auto-release: the retry happens only after the
    // failed attempt's Spark job has fully terminated. Within one JVM that
    // holds — the exception propagates only after job teardown and output
    // commit coordination fences straggler tasks. Multi-PROCESS
    // orchestration on shared storage that wants the strictly-safer
    // wedge-until-operator behavior should treat a release-then-reclaim
    // while the failed process may still have tasks in flight as its own
    // coordination problem (e.g. fence on the scheduler, not this marker).
    var published = false
    try {
      ViewStore.clustered(df, clusterCols)
        // zstd: ~30% smaller than snappy at comparable decode speed — at
        // 100 TB the stored view's scan cost is IO-bound, so the ratio wins
        .write.mode("overwrite").option("compression", "zstd").parquet(path.toString)
      // CDC sidecar: delta-sized, written once at refresh time — the change
      // feed's whole read cost. No re-clustering: a delta is small and its
      // consumer replays it wholesale.
      changes.foreach(_.withColumn("change_version", lit(next))
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(changesPath(name, next).toString))
      // atomic pointer swap: write sidecar then move over _LATEST
      val tmp = dir(name).resolve(s"_LATEST.tmp$next")
      Files.writeString(tmp, next.toString)
      Files.move(tmp, latestFile(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      published = true
    } finally {
      if (!published)
        // best-effort: deleteIfExists can itself throw (transient IO), and
        // an exception from a finally block would REPLACE the original
        // write failure — never let cleanup outrank the cause
        try Files.deleteIfExists(dir(name).resolve(s"_CLAIM.v$next"))
        catch { case _: java.io.IOException =>
          System.err.println(s"warn: could not release claim v$next on '$name'") }
    }
    gcAfterPublish(name, next)
  }

  /**
   * Publish an EXTERNALLY-STAGED directory as the next version of `name`
   * — the multi-relation single-job write path ([[WindowedAggView]]): a
   * caller maintaining many sibling relations (one per time slice) stages
   * all of their data in ONE Spark job (`partitionBy` on the slice
   * column), then each relation's staged subdir is adopted here by a
   * RENAME under the same claim / atomic-pointer-swap / GC contract as
   * [[writeClustered]] — k relations cost k metadata moves, not k Spark
   * jobs. `staged` must live on the same filesystem as the store (the
   * caller stages under `baseDir`); it is consumed (moved) on success.
   */
  def adoptStaged(name: String, staged: Path,
      stagedChanges: Option[Path] = None): Unit = {
    val next = latestVersion(name).getOrElse(-1) + 1
    claimVersion(name, next)
    var published = false
    try {
      Files.move(staged, dir(name).resolve(s"v$next"))
      // CDC sidecar adopted BEFORE the pointer swap (the writeClustered
      // ordering): a version is never visible without its delta. Staged
      // sidecar rows carry no change_version column — per-slice versions
      // differ, so the version is stamped at READ time from the path
      // ([[SliceStore.sliceChanges]]).
      stagedChanges.foreach { c =>
        Files.createDirectories(changesPath(name, next).getParent)
        Files.move(c, changesPath(name, next))
      }
      val tmp = dir(name).resolve(s"_LATEST.tmp$next")
      Files.writeString(tmp, next.toString)
      Files.move(tmp, latestFile(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      published = true
    } finally {
      if (!published)
        try Files.deleteIfExists(dir(name).resolve(s"_CLAIM.v$next"))
        catch { case _: java.io.IOException =>
          System.err.println(s"warn: could not release claim v$next on '$name'") }
    }
    gcAfterPublish(name, next)
  }

  /** Drop a whole view (every version, sidecars, markers) — the eviction
    * primitive ([[WindowedAggView.evictBefore]] drops expired slice
    * relations wholesale instead of rewriting surviving state). */
  private[graft] def dropView(name: String): Unit = deleteTree(dir(name))

  /** Post-publish housekeeping shared by [[writeClustered]] and
    * [[adoptStaged]]: snapshot GC, sidecar sweep, claim-marker GC. */
  private def gcAfterPublish(name: String, next: Int): Unit = {
    // GC superseded versions (keep graceVersions copies for in-flight
    // readers of older snapshots) — otherwise every refresh leaks a view
    var old = next - 1 - graceVersions
    var p = dir(name).resolve(s"v${math.max(old, 0)}")
    while (old >= 0 && Files.exists(p)) {
      deleteTree(p)
      old -= 1
      if (old >= 0) p = dir(name).resolve(s"v$old")
    }
    // Sidecars are swept INDEPENDENTLY of snapshot presence: retention
    // keeps the sidecars covering `(latest - graceVersions - 1, latest]`,
    // so [[changesBetween]] can serve any range starting at or above
    // `latest - graceVersions - 1` — a consumer-lag budget decoupled from
    // snapshot (time-travel) life. Keying this sweep off the snapshot
    // loop above (the previous implementation) left a permanent orphan if
    // a crash landed between the two deletes — the snapshot-keyed loop
    // breaks at the missing v<old> dir and never revisits its sidecar.
    val changesDir = dir(name).resolve("_changes")
    if (Files.exists(changesDir)) {
      val stream = Files.list(changesDir)
      try stream.iterator().forEachRemaining { c =>
        val n = c.getFileName.toString
        if (n.startsWith("v") && n.drop(1).nonEmpty && n.drop(1).forall(_.isDigit) &&
            n.drop(1).toInt <= next - 1 - graceVersions)
          deleteTree(c)
      } finally stream.close()
    }
    gcClaims(name, next - 1 - graceVersions)
  }

  /** Single-writer contract (the reference's level-mutex analog,
    * `index.js:114`), enforced ATOMICALLY and UP FRONT: the version number
    * is acquired by `CREATE_NEW`-creating a per-version claim marker
    * before any data bytes are written. Two racers computing the same
    * `next` cannot both pass — exactly one `createFile` succeeds; the
    * loser fails here, before it can interleave files into the same
    * `v<next>` directory. (The previous check ran AFTER the snapshot +
    * sidecar write and was not atomic with the pointer swap — a classic
    * TOCTOU where both racers could pass and corrupt one dir.) A marker
    * left by a CRASHED writer (claimed but never swapped `_LATEST`) is
    * distinguishable because `_LATEST` still points below it — reclaim it
    * rather than wedging the view forever. */
  protected[engine] def claimVersion(name: String, next: Int): Unit = {
    Files.createDirectories(dir(name))
    val marker = dir(name).resolve(s"_CLAIM.v$next")
    try Files.createFile(marker)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // marker exists: either a LIVE concurrent writer or a CRASHED one.
        // If _LATEST already reached `next` or beyond, the other writer
        // published — unambiguous concurrent-writer conflict. Otherwise the
        // claim is stale only if its holder died; we cannot observe
        // liveness on a filesystem, so fail loudly either way and tell the
        // operator which case the evidence supports.
        val cur = latestVersion(name).getOrElse(-1)
        throw new IllegalStateException(
          s"concurrent writer detected on view '$name': v$next is already " +
            s"claimed (_LATEST=$cur). If the claiming writer crashed " +
            s"before publishing, remove ${marker} and retry.")
    }
  }

  /** Drop claim markers at or below the GC horizon — a published version's
    * marker has served its purpose once the version itself is reclaimed. */
  private def gcClaims(name: String, horizon: Int): Unit = {
    val stream = Files.list(dir(name))
    try stream.iterator().forEachRemaining { c =>
      val n = c.getFileName.toString
      if (n.startsWith("_CLAIM.v") && n.drop(8).nonEmpty &&
          n.drop(8).forall(_.isDigit) && n.drop(8).toInt <= horizon)
        Files.deleteIfExists(c)
    } finally stream.close()
  }

  /** Delete `p` recursively and evict every memoized relation that reads
    * a dir under it. */
  private[engine] def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val stream = Files.walk(p) // close the stream: an unclosed walk leaks an fd
    try stream.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally stream.close()
    resolved.keys.filter(_.exists(Paths.get(_).startsWith(p))).foreach(resolved.remove)
  }

  def load(index: MapIndex): MaterializedView =
    new MaterializedView(spark, this, index)
}

object ViewStore {
  /** Fresh throwaway store under java.io.tmpdir (tests, per-run views). */
  def temp(spark: SparkSession): ViewStore =
    new ViewStore(spark,
      Files.createTempDirectory("graft-views-").toString)

  /**
   * Arrange a relation for a clustered write. `repartitionByRange` picks
   * its boundaries by SAMPLING the child plan — one extra execution of
   * the whole subtree per write (guide §1.2: remove passes before tuning
   * inside them). When the relation fits ONE advisory partition
   * ([[fitsOnePartition]]), a single sorted partition is the same
   * layout (one file, globally sorted ⇒ identical rows, identical
   * row-group pruning) without the sampling pass. Join-heavy plans that
   * OVERestimate merely keep the conservative range path.
   */
  private[engine] def clustered(df: DataFrame, clusterCols: Seq[String]): DataFrame = {
    val sortCols = clusterCols.map(col)
    if (fitsOnePartition(df)) df.repartition(1).sortWithinPartitions(sortCols: _*)
    else df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
  }

  /**
   * A read in `orderCols` order. A global `orderBy` costs a range-boundary
   * sampling job (one more scan of the input), a shuffle-map job and the
   * result job. When the relation fits ONE advisory partition, gathering
   * it into one task and sorting that partition gives the same rows in
   * the same order with one job and no exchange — the serve path of a
   * small `get`/`scan` over a stored view. Larger relations keep the
   * parallel sort.
   */
  private[engine] def ordered(df: DataFrame, orderCols: Seq[String]): DataFrame = {
    val sortCols = orderCols.map(col)
    if (fitsOnePartition(df)) df.coalesce(1).sortWithinPartitions(sortCols: _*)
    else df.orderBy(sortCols: _*)
  }

  /** `emit_key = key`, the point predicate of both stores' `get`. The key
    * is bound by reference ([[Shims.boundLit]]): reads that differ only in
    * their key generate the same code and share one compiled class, and
    * the predicate still pushes into the parquet scan as `EqualTo`. */
  private[engine] def keyIs(key: Any): Column = col("emit_key") === Shims.boundLit(key)

  /** `start <= emit_key < end` (either bound optional), the range
    * predicate of both stores' `scan`/`countRange`, bound by reference
    * like [[keyIs]]; `None` for an unbounded range. */
  private[engine] def keyRange(start: Option[Any], end: Option[Any]): Option[Column] =
    (start.map(col("emit_key") >= Shims.boundLit(_)) ++
      end.map(col("emit_key") < Shims.boundLit(_))).reduceOption(_ && _)

  /** The shared cutover of [[clustered]] and [[ordered]]: the optimizer's
    * size estimate at or below the advisory partition size. It reads a
    * property of the input, so it is scale-adaptive: a 100 TB view
    * estimates far above the advisory size and keeps the parallel path;
    * only genuinely small relations (delta-sized states, small views)
    * take the one-partition shortcut. */
  private[engine] def fitsOnePartition(df: DataFrame): Boolean = {
    val advisory = df.sparkSession.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= advisory
  }
}
