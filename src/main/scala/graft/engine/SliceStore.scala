package graft.engine

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The shared TIME-SLICE storage plumbing under the windowed maintained
 * families ([[WindowedAggView]], [[WindowedSketchView]]): one versioned
 * sub-relation per slice (`s<epochSec>` as an ordinary [[ViewStore]] view
 * under `rootDir`), a persisted eviction watermark, the single-job
 * staged-write publish path, the slice-ALIGNED window arithmetic, and the
 * COARSENING (rollup-aging) layout: slices may have different widths.
 *
 * The state SCHEMA per slice is the owner's business; this class owns
 * only the layout invariants:
 *
 *  - A slice is keyed by its start second; its WIDTH travels WITH its
 *    data as a `_WIDTH` marker inside the versioned directory (hidden
 *    from parquet readers by the underscore convention), absent =
 *    `sliceSeconds`. Widths are layout facts, not config — a
 *    crash can never leave a coarse slice readable under a fine width.
 *  - Eviction drops whole slice directories below an aligned boundary
 *    (watermark written BEFORE the drops — crash fails closed); a slice
 *    STRADDLING the boundary refuses rather than over-dropping.
 *  - COARSENING rewrites history below a FROZEN horizon into wider
 *    slices (the merged partials are the owner's job). The frozen marker
 *    persists before any publish, so refreshes into the rewritten range
 *    refuse from that point on; each coarse publish is an atomic
 *    per-slice version swap; a member directory surviving a crash
 *    between the coarse publish and the member drops is SHADOWED — its
 *    span nests inside the published coarse slice's span, and every
 *    reader skips nested slices — so the half-finished state serves
 *    correctly and a re-run (or the next coarsen) heals it by dropping
 *    the shadowed leftovers.
 *  - Every staged publish clusters by `(slice_start, emit_key)` for
 *    file/row-group pruning on the serve predicates.
 */
private[engine] final class SliceStore(
    val spark: SparkSession,
    val rootDir: String,
    val sliceSeconds: Long) extends Serializable {

  require(sliceSeconds > 0, s"sliceSeconds must be positive, got $sliceSeconds")

  /** Per-slice versioned storage — each slice gets the claim/swap/GC
    * contract and grace-version time travel of a normal view. */
  val slices = new ViewStore(spark, rootDir)

  def sliceName(start: Long): String = s"s$start"
  private def watermarkFile: Path = Paths.get(rootDir, "_WATERMARK")
  private def frozenFile: Path = Paths.get(rootDir, "_FROZEN")

  /** Eviction horizon (epoch seconds): slices ending at or below it are
    * gone and changes below it are refused. `Long.MinValue` = never. */
  def watermark: Long =
    if (Files.exists(watermarkFile)) Files.readString(watermarkFile).trim.toLong
    else Long.MinValue

  /** Coarsening horizon: history below it has been rewritten into wider
    * slices and is READ-ONLY — a refresh whose delta reaches below it
    * would fold fine-grained retractions against state that no longer
    * has that granularity. `Long.MinValue` = never coarsened. */
  def frozen: Long =
    if (Files.exists(frozenFile)) Files.readString(frozenFile).trim.toLong
    else Long.MinValue

  /** Raw live slice starts (epoch seconds), ascending — includes slices
    * shadowed by a wider coarse slice (crash leftovers). */
  def liveSlices: Seq[Long] = {
    val dir = Paths.get(rootDir)
    if (!Files.exists(dir)) Seq.empty
    else {
      val out = Seq.newBuilder[Long]
      val stream = Files.list(dir)
      try stream.iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        val digits = if (n.startsWith("s-")) n.drop(2) else n.drop(1)
        if (n.startsWith("s") && digits.nonEmpty && digits.forall(_.isDigit) &&
            Files.exists(p.resolve("_LATEST")))
          out += n.drop(1).toLong
      } finally stream.close()
      out.result().sorted
    }
  }

  /** Width of a live slice: the `_WIDTH` marker inside its current
    * version, absent = the fine `sliceSeconds`. */
  def widthOf(start: Long): Long = {
    val marker = Paths.get(slices.latestPath(sliceName(start)), "_WIDTH")
    if (Files.exists(marker)) Files.readString(marker).trim.toLong
    else sliceSeconds
  }

  /** Live `(start, width)` pairs, ascending, raw (shadows included). */
  def liveSliceWidths: Seq[(Long, Long)] = liveSlices.map(s0 => (s0, widthOf(s0)))

  /** The serving view of the layout: live slices minus any slice whose
    * span NESTS inside a wider live slice's span — a nested slice is by
    * construction a member directory that a crashed coarsen left behind
    * after its coarse slice (which already holds the merged content)
    * published. Readers skip them; [[dropShadowed]] heals them. */
  def effectiveSliceWidths: Seq[(Long, Long)] = {
    val all = liveSliceWidths
    all.filter { case (s0, w0) =>
      !all.exists { case (s1, w1) =>
        w1 > w0 && s1 <= s0 && s0 + w0 <= s1 + w1 }
    }
  }

  /** Drop crash-leftover member slices shadowed by a coarse slice. */
  def dropShadowed(): Seq[Long] = {
    val shadowed = liveSliceWidths.map(_._1).diff(effectiveSliceWidths.map(_._1))
    shadowed.foreach(s0 => slices.dropView(sliceName(s0)))
    shadowed
  }

  /** One slice's current state (owner-defined schema, no slice column). */
  def sliceState(start: Long): DataFrame = slices.readLatest(sliceName(start))

  /** A slice's current version number (each refresh of a slice is a
    * versioned swap, so slice history is addressable per slice). */
  def sliceVersion(start: Long): Int =
    slices.latestVersion(sliceName(start)).getOrElse(
      throw new IllegalStateException(s"slice $start not live in $rootDir"))

  /** Snapshot (time-travel) read of one slice's retained version — the
    * per-slice analog of [[ViewStore.readVersion]]: a reader pins the
    * pre-refresh version of a touched slice and sees that epoch's world
    * until the grace horizon passes it. */
  def sliceStateAsOf(start: Long, version: Int): DataFrame =
    slices.readVersion(sliceName(start), version)

  /**
   * Single-scan read of many slices: ONE multi-path parquet scan with the
   * slice identity recovered from the file path — 30 slices cost one scan
   * node, not a 30-way union, so serve-plan size and planning time stay
   * O(1) in slice count (pruning down to the covered slices already
   * happened at path selection, which is strictly stronger than any
   * in-plan filter). Paths have the shape `<root>/s<start>/v<N>/part-*`;
   * the extraction anchors on that `/s<digits>/v<digits>/` segment.
   *
   * The resolved relation comes from the slice store's memo, keyed by the
   * VERSION paths ([[ViewStore.readDirs]]): a serve of k slices would
   * otherwise pay k directory listings + a footer schema read per call,
   * and a refresh/evict/coarsen that swaps a version directory changes
   * the key, so a stale listing is never reused.
   */
  def readSlices(starts: Seq[Long],
      preFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(starts.nonEmpty, "readSlices over an empty slice set")
    val base = slices.readDirs(starts.map(s0 => slices.latestPath(sliceName(s0))))
    // predicates must land BEFORE the slice-identity projection:
    // input_file_name() is non-deterministic, so Catalyst will not push a
    // filter through it — applied here, the predicate reaches the scan
    // (PushedFilters) and row-group pruning on the emit_key clustering
    preFilter.map(base.filter).getOrElse(base)
      .withColumn("slice_start",
        regexp_extract(input_file_name(), "/s(-?\\d+)/v\\d+/", 1).cast("long"))
  }

  /** Full effective state with `slice_start` and `slice_w` columns. */
  def state: DataFrame = stateWhere(None)

  /** [[state]] with a scan-level predicate (pushed into the parquet
    * scans — see [[readSlices]] on why it cannot ride on top). */
  def stateWhere(pred: Option[org.apache.spark.sql.Column]): DataFrame = {
    val live = effectiveSliceWidths
    require(live.nonEmpty, s"windowed view at $rootDir has no live slices")
    val widths = map(live.flatMap { case (s0, w0) => Seq(lit(s0), lit(w0)) }: _*)
    readSlices(live.map(_._1), pred)
      .withColumn("slice_w", element_at(widths, col("slice_start")))
  }

  /** The slices covered by the ALIGNED window `[start, end)`, with the
    * shared refusals: sub-slice boundaries, windows SPLITTING a coarse
    * slice, and sub-watermark reaches are silent-wrongness bugs, not
    * serveable requests. Returns the covered slice starts plus one live
    * slice to source an empty-result schema. */
  def slicesIn(startSec: Long, endSec: Long): (Seq[Long], Long) = {
    require(startSec % sliceSeconds == 0 && endSec % sliceSeconds == 0,
      s"window [$startSec,$endSec) is not aligned to $sliceSeconds-second slices; " +
        "pre-aggregated slice state cannot answer sub-slice boundaries exactly")
    require(startSec < endSec, s"empty window [$startSec,$endSec)")
    require(startSec >= watermark,
      s"window start $startSec reaches below the eviction watermark ${watermark}; " +
        "those slices are gone and the result would silently under-count")
    val live = effectiveSliceWidths
    require(live.nonEmpty, s"windowed view at $rootDir has no live slices")
    val covered = live.filter { case (s0, w0) => s0 >= startSec && s0 + w0 <= endSec }
    val split = live.filter { case (s0, w0) =>
      s0 < endSec && s0 + w0 > startSec && !(s0 >= startSec && s0 + w0 <= endSec) }
    require(split.isEmpty,
      s"window [$startSec,$endSec) splits coarsened slice(s) " +
        split.map { case (s0, w0) => s"[$s0,${s0 + w0})" }.mkString(",") +
        " — aged history answers only windows aligned to its coarse width")
    (covered.map(_._1), live.head._1)
  }

  /** The covered slices' states in one scan (empty-but-typed when none). */
  def windowStates(startSec: Long, endSec: Long): DataFrame = {
    val (in, schemaSrc) = slicesIn(startSec, endSec)
    if (in.isEmpty) sliceState(schemaSrc).filter(lit(false))
    else readSlices(in).drop("slice_start")
  }

  /** Trailing `n`-fine-slice window bounds ending at the newest live
    * slice's end (a trailing reach into coarsened history refuses in
    * [[slicesIn]] unless it lands on the coarse boundary). */
  def trailingBounds(n: Int): (Long, Long) = {
    require(n > 0, s"trailing window must cover at least one slice, got $n")
    val live = effectiveSliceWidths
    require(live.nonEmpty, s"windowed view at $rootDir has no live slices")
    val end = live.map { case (s0, w0) => s0 + w0 }.max
    (math.max(end - n.toLong * sliceSeconds, watermark), end)
  }

  /** Advance the watermark to `boundarySec` (aligned, monotone) and drop
    * every slice ENDING at or below it; a slice straddling the boundary
    * refuses (evict at its own width's boundary instead of silently
    * over- or under-dropping). Watermark first, drops second — a crash
    * between them fails CLOSED. Returns the dropped starts. */
  def evictBefore(boundarySec: Long): Seq[Long] = {
    require(boundarySec % sliceSeconds == 0,
      s"eviction boundary $boundarySec is not aligned to $sliceSeconds-second slices")
    require(boundarySec >= watermark,
      s"watermark must advance monotonically: have ${watermark}, got $boundarySec")
    val all = liveSliceWidths
    val straddle = all.filter { case (s0, w0) => s0 < boundarySec && s0 + w0 > boundarySec }
    require(straddle.isEmpty,
      s"eviction boundary $boundarySec splits coarsened slice(s) " +
        straddle.map { case (s0, w0) => s"[$s0,${s0 + w0})" }.mkString(",") +
        " — evict at a boundary aligned to the coarse width")
    val expired = all.collect { case (s0, w0) if s0 + w0 <= boundarySec => s0 }
    Files.createDirectories(Paths.get(rootDir))
    Files.writeString(watermarkFile, boundarySec.toString)
    expired.foreach(s0 => slices.dropView(sliceName(s0)))
    expired
  }

  /** Refuse changes reaching below the maintenance horizon: below the
    * WATERMARK the state is gone (retractions would double-count on
    * replay); below the FROZEN horizon it has been coarsened and no
    * longer has the fine granularity a delta folds against. */
  def requireRefreshable(touched: Seq[Long]): Unit = {
    val wm = watermark
    val lateWm = touched.filter(_ < wm)
    require(lateWm.isEmpty,
      s"change batch touches evicted slices ${lateWm.mkString(",")} below the " +
        s"watermark $wm — their retractions would target dropped state and " +
        "double-count on replay; route late data to a fresh build instead")
    val fz = frozen
    val lateFz = touched.filter(_ < fz)
    require(lateFz.isEmpty,
      s"change batch touches coarsened slices ${lateFz.mkString(",")} below the " +
        s"frozen horizon $fz — aged history is read-only (its fine granularity " +
        "is gone); rebuild the view if that range must change")
  }

  /** Validate and plan a coarsen: every effective slice ending at or
    * below `boundarySec` (which must sit on the `toWidth` grid) is
    * grouped into its `toWidth`-wide bucket. Groups that are already a
    * single slice of exactly `toWidth` are skipped. Refuses members that
    * straddle a coarse bucket edge. Returns `(coarseStart, members)`
    * pairs, ascending. */
  def coarsenGroups(boundarySec: Long, toWidth: Long): Seq[(Long, Seq[Long])] = {
    require(toWidth > sliceSeconds && toWidth % sliceSeconds == 0,
      s"coarse width $toWidth must be a multiple of (and wider than) $sliceSeconds")
    require(boundarySec % toWidth == 0,
      s"coarsen boundary $boundarySec is not aligned to the coarse width $toWidth")
    val affected = effectiveSliceWidths.filter { case (s0, w0) => s0 + w0 <= boundarySec }
    val straddle = affected.filter { case (s0, w0) =>
      Math.floorDiv(s0, toWidth) != Math.floorDiv(s0 + w0 - 1, toWidth) }
    require(straddle.isEmpty,
      s"slice(s) ${straddle.map(_._1).mkString(",")} straddle the $toWidth-second " +
        "coarse grid — coarsen to a width their spans divide into")
    affected.groupBy { case (s0, _) => Math.floorDiv(s0, toWidth) * toWidth }
      .map { case (cs, members) => (cs, members.map(_._1).sorted) }
      .toSeq.sortBy(_._1)
      .filter { case (cs, members) =>
        !(members == Seq(cs) && widthOf(cs) == toWidth) }
  }

  /** Publish a coarsen: persist the frozen horizon FIRST (late refreshes
    * refuse from here on), stage every coarse slice's merged state in
    * ONE job, stamp each staged subdir's `_WIDTH`, adopt them, then drop
    * the member directories. A crash after any adopt leaves that coarse
    * slice's members SHADOWED (nested spans), which readers skip and the
    * next [[dropShadowed]]/coarsen heals. */
  def publishCoarsened(merged: DataFrame, groups: Seq[(Long, Seq[Long])],
      toWidth: Long, boundarySec: Long): Unit = {
    require(boundarySec >= frozen,
      s"frozen horizon must advance monotonically: have ${frozen}, got $boundarySec")
    Files.createDirectories(Paths.get(rootDir))
    Files.writeString(frozenFile, boundarySec.toString)
    val staging = Files.createTempDirectory(Paths.get(rootDir), "_staging-")
    try {
      val dataDir = staging.resolve("d")
      ViewStore.clustered(merged, Seq("slice_start", "emit_key"))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("slice_start").parquet(dataDir.toString)
      groups.foreach { case (cs, members) =>
        val sub = dataDir.resolve(s"slice_start=$cs")
        require(Files.exists(sub),
          s"coarse slice $cs staged no data — members ${members.mkString(",")} " +
            "were non-empty, so an empty merge is a bug, not an eviction")
        Files.writeString(sub.resolve("_WIDTH"), toWidth.toString)
        slices.adoptStaged(sliceName(cs), sub)
        members.filter(_ != cs).foreach(m => slices.dropView(sliceName(m)))
      }
      dropShadowed()
      ()
    } finally slices.deleteTree(staging)
  }

  /** Stage every touched slice's new content in ONE Spark job (dynamic
    * `partitionBy` on `slice_start`), then publish each subdir by rename
    * under the per-slice version contract ([[ViewStore.adoptStaged]]). A
    * touched slice with no staged subdir was EMPTIED by the batch — its
    * directory is dropped. `updated` must carry `slice_start, emit_key`
    * plus the owner's state columns. */
  def stageAndPublish(updated: DataFrame, touched: Seq[Long],
      changes: Option[DataFrame] = None): Unit = {
    Files.createDirectories(Paths.get(rootDir))
    val staging = Files.createTempDirectory(Paths.get(rootDir), "_staging-")
    try {
      val dataDir = staging.resolve("d")
      // clustered() skips repartitionByRange's sampling pass for
      // advisory-partition-sized state (partitionBy still splits the one
      // sorted partition into per-slice files — layout unchanged)
      ViewStore.clustered(updated, Seq("slice_start", "emit_key"))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("slice_start").parquet(dataDir.toString)
      // CDC sidecars staged in one more job (delta-sized, no
      // re-clustering — a delta is replayed wholesale by its consumer)
      val chDir = staging.resolve("c")
      changes.foreach(_.write.mode("overwrite").option("compression", "zstd")
        .partitionBy("slice_start").parquet(chDir.toString))
      touched.foreach { s0 =>
        val sub = dataDir.resolve(s"slice_start=$s0")
        val chSub = chDir.resolve(s"slice_start=$s0")
        if (Files.exists(sub))
          slices.adoptStaged(sliceName(s0), sub,
            Some(chSub).filter(Files.exists(_)))
        else slices.dropView(sliceName(s0))
      }
    } finally slices.deleteTree(staging)
  }

  /** One slice's CDC feed over versions `(fromV, toV]`, each version's
    * sidecar stamped with its `change_version` at read time (per-slice
    * versions differ, so the stamp cannot ride the one staged write).
    * Replay order: `change_version` ascending, deletes before inserts
    * within one version — the store-wide CDC contract. Builds and
    * coarsens write no sidecar; only refresh versions are replayable. */
  def sliceChanges(start: Long, fromV: Int, toV: Int): DataFrame = {
    require(fromV < toV, s"change feed range must be non-empty: ($fromV, $toV]")
    ((fromV + 1) to toV).map { v =>
      slices.readChangesRaw(sliceName(start), v).withColumn("change_version", lit(v))
    }.reduce(_.unionByName(_))
  }

  /** Stored-grid alignment check for reopen paths: slice widths are
    * layout, not config. Coarse starts stay on the fine grid (coarse
    * widths are multiples of the fine width), so this catches a reopen
    * under a DIFFERENT fine width. */
  def requireAlignedSlices(): Unit = {
    val off = liveSlices.filter(_ % sliceSeconds != 0)
    require(off.isEmpty,
      s"stored slices ${off.take(3).mkString(",")}… are not aligned to " +
        s"$sliceSeconds-second slices — this view was built with a different width")
  }
}
