package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{BucketedViewStore, MapIndex, Tables, Views}
import graft.engine.MapIndex.emit
import graft.functions.VectorFunctions

/**
 * Approximate-nearest-neighbor search over the `embeddings` table
 * (`Array[Float]`, 64-dim).
 *
 * `sim_brute_topk` is the exact baseline: probe set × corpus with a
 * codegen'd dot product (`zip_with` + `aggregate`), ranked per probe.
 * The probe side is broadcast, so the corpus is scanned once with no
 * shuffle — at 100 TB this is the right shape for a small probe batch.
 *
 * `sim_lsh_topk` is the scale path: random-hyperplane signatures in 8
 * bands of 4 bits; a corpus vector is a candidate when ANY band matches
 * the probe's (per-plane sign agreement probability is 1 - θ/π, so a
 * near-neighbor collides in some band with high probability while the
 * candidate set stays a fraction of the corpus). Banding — not one wide
 * bucket — is what keeps recall up when similarities are moderate.
 */
object SimilarityQueries {

  private val K = 5
  /** embedding near-dup threshold — low because the synthetic vectors are
    * random (max pairwise cosine ≈ 0.51); a real corpus runs ≥ 0.9 */
  private val EmbDupThreshold = 0.4
  /** band buckets above this df are pruned before the self-join (df² pairs
    * of noise). At production scale bits-per-band is the knob that keeps
    * bucket populations bounded: size 2^bits ≫ N / tolerable-bucket-df. */
  private val MaxBandDf = 500

  /** Native tight-loop dot product (graft.functions.VectorFunctions) —
    * the HOF spelling (`aggregate(zip_with(...))`) pays one interpreted
    * lambda dispatch per element on every (probe, candidate) pair.
    * Callers go through emb(), which registers the function. */
  private def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  private def emb(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("vec_dot(v, v)")))
      // an all-zero vector has no cosine; ANSI mode would throw on the
      // division, so exclude rather than crash (none exist in this data)
      .filter(col("norm") > 0)
  }

  private def rankTopK(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("probe_id"), col("neighbor_id"), col("cos"), col("rank"))
      .orderBy("probe_id", "rank")
  }

  /** LSH-banded ANN top-k `(probe_id, neighbor_id, cos, rank)`: candidate
    * iff any 4-bit hyperplane band matches. The user-facing API behind
    * the `sim_lsh_topk` recall-invariant query. */
  def lshTopKPairs(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // band relation carries ONLY (vec_id, band, bv): the 64-dim vector
    // would make the 8× explode and the distinct() 8× wider than needed;
    // vectors join back after the candidate ids are deduped. All 8 band
    // values come from ONE hyperplane_bands evaluation per vector.
    val bands = e.select(col("vec_id"),
      posexplode(expr("hyperplane_bands(v)")).as(Seq("band", "bv")))
    val probeBands = bands.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("band").as("pband"), col("bv").as("pbv"))
    val candIds = bands.join(broadcast(probeBands),
        col("band") === col("pband") && col("bv") === col("pbv") &&
          col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
      .distinct()
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
    val scored = candIds.join(e, Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    rankTopK(scored)
  }

  /** SemDeDup-style within-cell near-dup pairs `(i, j, cos)`: the corpus
    * k-means-cell assignment bounds the quadratic pair scan to
    * within-cell blocks — an EQUI-join on the cell id (plan-asserted:
    * never a corpus-wide cartesian), with exact-cosine verification on
    * the co-cell pairs only. The user-facing API behind `dedup_semantic`;
    * cluster granularity k ∝ n keeps per-cell populations bounded, so
    * the scan is O(n · cell_size) at any corpus size. */
  def semanticDupPairs(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cents = ivfCentroidsFor(s, dir)
    val cells = e.withColumn("cell", assignExpr(cents))
    val a = cells.select(col("cell"), col("vec_id").as("i"),
      col("v").as("vi"), col("norm").as("ni"))
    val b = cells.select(col("cell"), col("vec_id").as("j"),
      col("v").as("vj"), col("norm").as("nj"))
    a.join(b, Seq("cell")).filter(col("i") < col("j"))
      .withColumn("cos", round(dot(col("vi"), col("vj")) / (col("ni") * col("nj")), 6))
      .filter(col("cos") >= EmbDupThreshold)
      .select(col("i"), col("j"), col("cos"))
  }

  /** Embedding-cosine near-dup pairs `(i, j, cos)` over the whole corpus:
    * hyperplane-band candidate pairs (df-capped buckets) + exact cosine
    * verify — the all-pairs analog of the probe search. Dense exact
    * similarity join is inherently O(n²); banded candidate-gen is the
    * standard scale shape. The user-facing API behind `dedup_embedding`. */
  def embeddingPairs(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // candidate pairs via the shared posting-list core: one banding
    // evaluation, df-capped buckets (the hot-bucket prune), pairs from
    // a double explode instead of a self-join of recomputed subtrees
    val bands = e.select(col("vec_id"),
        posexplode(expr("hyperplane_bands(v)")).as(Seq("band", "bv")))
      .select(col("vec_id"), struct(col("band"), col("bv")).as("key"))
    val (pairs, _) = PipelineQueries.postingStats(bands, MaxBandDf)
    pairs.select("i", "j")
      .join(e.select(col("vec_id").as("i"), col("v").as("vi"), col("norm").as("ni")), Seq("i"))
      .join(e.select(col("vec_id").as("j"), col("v").as("vj"), col("norm").as("nj")), Seq("j"))
      .withColumn("cos", round(dot(col("vi"), col("vj")) / (col("ni") * col("nj")), 6))
      .filter(col("cos") >= EmbDupThreshold)
      .select(col("i"), col("j"), col("cos"))
      .orderBy("i", "j")
  }

  /** IVF coarse-quantizer parameters: the cell count follows the standard
    * √n rule UNCLAMPED (per-cell list size and cell count grow together
    * as the corpus scales — the rule any public IVF design uses), and a
    * probe scans its √nCells nearest cells, so the scanned fraction
    * nProbe/nCells = n^(-1/4) SHRINKS as the corpus grows: ~18% at 10³
    * vectors, ~3% at 10⁶, ~0.3% at 10¹⁰. Nothing bounds nCells anymore:
    * assignment rides the centroid matrix as one codegen reference
    * object ([[graft.functions.VectorFunctions.NearestCells]]), not
    * per-centroid literal expressions, so a 10⁵-cell quantizer costs a
    * ~50 MB broadcast-with-the-task-binary model — not a plan-size or
    * Janino explosion (the old `MaxCells = 64` clamp existed only to
    * bound that literal spelling, and capped the prune at ~4× forever).
    * Training runs a fixed number of Lloyd iterations (deterministic
    * round count — no data-dependent convergence). */
  private val MinCells = 16
  private[graft] def cellsFor(n: Long): Int =
    math.max(MinCells, math.round(math.sqrt(n.toDouble)).toInt)
  private[graft] def probesFor(nCells: Int): Int =
    math.max(4, math.ceil(math.sqrt(nCells.toDouble)).toInt)
  /** Probe count for the COMPOSED IVF-PQ index only: 2×√nCells (capped
    * at nCells). The composed index sits at its coarse tier's
    * cell-recall ceiling (~0.88 at √nCells — the residual ADC tier
    * itself reconstructs well, measured 0.87 vs IVF's 0.88), and its
    * per-candidate cost is M BYTES + M table reads — 64× below the
    * float tier — so doubling the probed cell mass costs less scan I/O
    * than √nCells probes of the uncompressed IVF while lifting the
    * union-of-cells recall past the single-tier ceiling (measured at
    * sf0.1: 0.87 → 0.93). Scanned code fraction stays ∝ 2·n^(-1/4). */
  private[graft] def ivfpqProbesFor(nCells: Int): Int =
    math.min(nCells, 2 * probesFor(nCells))
  private val KmeansIters = 5

  /** Per-JVM quantizer cache: like a real IVF index, the model is trained
    * once per corpus and served by every subsequent query (the `Views`
    * pattern). Keyed by the corpus dir PLUS a cheap content fingerprint
    * (file paths, sizes, mtimes of embeddings.parquet), so regenerating
    * the parquet under the same path invalidates the cached model instead
    * of silently serving a quantizer trained on the old data. Training is
    * deterministic up to floating-point summation order in the
    * distributed mean (partition layout can drift centroid low bits and
    * flip cell-boundary vectors); the recall invariant carries enough
    * margin to absorb that drift. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** Metadata-only fingerprint of the corpus files — one listStatus, no
    * data read; any rewrite bumps an mtime or length and rolls the key. */
  private def corpusFingerprint(s: SparkSession, dir: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val h = fs.listStatus(p).sortBy(_.getPath.toString)
      .foldLeft(1469598103934665603L) { (acc, st) =>
        val s1 = (acc ^ st.getPath.toString.hashCode.toLong) * 1099511628211L
        val s2 = (s1 ^ st.getLen) * 1099511628211L
        (s2 ^ st.getModificationTime) * 1099511628211L
      }
    java.lang.Long.toHexString(h)
  }

  private def ivfCentroidsFor(s: SparkSession, dir: String): Array[Array[Double]] =
    centroidCache.computeIfAbsent(s"$dir#${corpusFingerprint(s, dir)}",
      _ => ivfCentroids(emb(s, dir)))

  /** Train the IVF quantizer up front — index-build cost, not query cost,
    * the same compute-on-write stance as the stored map views (an IVF
    * index in production is fit once at ingest and served thereafter). */
  private[operators] def prewarmSteps(s: SparkSession, dir: String): Seq[(String, () => Unit)] = Seq[(String, () => Unit)](
      ("ivfCentroidsFor", () => { ivfCentroidsFor(s, dir); () }),
      ("ivfCellsView", () => { ivfCellsView(s, dir); () }),
      ("lshBandsView", () => { lshBandsView(s, dir); () }),
      ("sqView", () => { sqView(s, dir); () }),
      ("sqIncView", () => { sqIncView(s, dir); () }),
      ("ivfsqCellsView", () => { ivfsqCellsView(s, dir); () }),
      ("ivfpqCellsView", () => { ivfpqCellsView(s, dir); () }),
      ("pqIncView", () => { pqIncView(s, dir); () }),
      ("lshStreamedView", () => { lshStreamedView(s, dir); () }),
      ("ivfStreamedView", () => { ivfStreamedView(s, dir); () }),
      ("ivfpqIncView", () => { ivfpqIncView(s, dir); () }),
      ("ivfCmpView", () => { ivfCmpView(s, dir); () }),
  )

  /** Train the IVF coarse quantizer: Lloyd's algorithm with the centroid
    * model collected to the driver each round. This is the
    * broadcast-model iteration pattern (like any distributed ML fit):
    * the collect moves NCells×dim doubles — model parameters, not data —
    * and assignment runs as a codegen'd expression over array literals,
    * so each round is ONE scan of the corpus with no shuffle beyond the
    * per-cell mean aggregation. Init = first NCells vectors by vec_id
    * (deterministic). */
  private[operators] def ivfCentroids(e0: DataFrame): Array[Array[Double]] = {
    // persisted for the Lloyd loop: each round replans from this relation,
    // and without the cache every round re-scans the parquet and
    // recomputes the vec_dot norms — 6× the index-build I/O for nothing
    val e = e0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // √n cells (clamped); a corpus smaller than that trains what it has
      val targetCells = cellsFor(e.count())
      var cents: Array[Array[Double]] = e.orderBy("vec_id").limit(targetCells)
        .select("v").collect().map(_.getSeq[Double](0).toArray)
      val nCells = cents.length
      var it = 0
      while (it < KmeansIters) {
        val assigned = e.withColumn("cid", assignExpr(cents))
        // element-wise mean per cell: posexplode to (cid, pos, x), average,
        // reassemble in pos order — 64·NCells rows, trivially small
        val means = assigned
          .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cid", "pos").agg(avg("x").as("m"))
          .groupBy("cid")
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ms"))
          .select(col("cid"), expr("transform(ms, s -> s.m)").as("c"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
        // a cell that captured no vectors keeps its previous centroid
        cents = Array.tabulate(nCells)(i => means.getOrElse(i, cents(i)))
        it += 1
      }
      cents
    } finally e.unpersist(blocking = false)
  }

  /** `argmin_c dist²(v, c)` over the collected centroid model: dist² =
    * |v|² − 2·v·c + |c|², and |v|² is constant per row, so ranking uses
    * `−2·v·c + |c|²` only. One [[VectorFunctions.NearestCells]] node —
    * the matrix is a codegen reference object, NEVER literal expressions,
    * so codegen and plan size are O(1) in the cell count. Shared formula
    * with [[probeCellsCol]] — corpus assignment and probe cell selection
    * MUST rank identically or they silently disagree on cell boundaries. */
  private def assignExpr(cents: Array[Array[Double]]): Column =
    element_at(VectorFunctions.nearestCells(col("v"), cents, 1), 1)

  /** A probe's `nProbe` nearest cell ids, ascending by the same score as
    * [[assignExpr]] — `explode` it for one row per (probe, cell). */
  private def probeCellsCol(cents: Array[Array[Double]], nProbe: Int, v: Column): Column =
    VectorFunctions.nearestCells(v, cents, nProbe)

  // ---------------------------------------------------------------------
  // Persisted, incrementally-maintained IVF index
  // ---------------------------------------------------------------------

  /** Changed-corpus-fraction threshold above which the coarse quantizer is
    * re-fit and the cell view fully re-materialized. Below it the
    * centroids stay put and ONLY the changed vectors flow through the
    * map-view refresh path — the quantizer is model parameters, not data,
    * and a small corpus delta cannot move cell means enough to matter
    * (each centroid is an average over ~n/cells vectors). This is what
    * makes maintenance O(delta): a 100 TB corpus absorbing a 1 % daily
    * change re-buckets 1 % of its vectors, not all of them. */
  private val RefitDriftBound = 0.25

  /** The IVF index PERSISTED as a bucketed map view: cell id = emit key,
    * `(vec_id, v, norm)` = emit value. `get(cell)` is then a single-bucket
    * pruned read of one posting list, and maintenance (reassigning changed
    * vectors, dropping deleted ones) is the store's ordinary refresh —
    * CDC sidecars, epoch snapshots and the concurrent-writer guard come
    * for free. The assignment expression bakes the trained centroids in,
    * so a refresh reassigns upserted vectors with EXACTLY the quantizer
    * the stored cells were built with. */
  private def ivfIdx(cents: Array[Array[Double]]): MapIndex =
    MapIndex.columns("emb_ivf_cells")(
      col("vec_id").cast("string"),
      array(emit(assignExpr(cents).cast("string"),
        struct(col("vec_id"), col("v"), col("norm")))))

  /** Deterministic corpus change batch for the incremental-index query,
    * mirrored exactly by the DuckDB oracle: `%37` vectors rewritten to
    * their REVERSAL (norm-preserving, so the vector moves cells without
    * changing length), `%41` tombstoned. Returns (upserts, deleteKeys). */
  private def embChangeBatch(e: DataFrame): (DataFrame, DataFrame) = (
    e.filter(col("vec_id") % 37 === 0 && col("vec_id") % 41 =!= 0)
      .withColumn("v", reverse(col("v"))), // reversal preserves norm
    e.filter(col("vec_id") % 41 === 0)
      .select(col("vec_id").cast("string").as("src_key")).distinct())

  /** The embeddings corpus AFTER the change batch — what a fresh (non-
    * incremental) index would be built from; ground truth for the
    * incremental query's recall invariant. */
  private def modifiedEmb(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .filter(col("vec_id") % 41 =!= 0)
      .withColumn("v",
        when(col("vec_id") % 37 === 0, reverse(col("v"))).otherwise(col("v")))

  /** Measurement hook behind the PQ-family doc bounds ([[PqRecallBound]]
    * / [[IvfPqRecallBound]]): measured recall of each PQ path against its
    * exact ground truth — the numbers the bound comments record, re-run
    * whenever the PQ geometry (Ks, refine margin) changes. Dev-only; no
    * query serves from this. */
  private[graft] def pqMeasuredRecall(s: SparkSession, dir: String): Map[String, Double] = {
    def recall(approx: DataFrame, truth: DataFrame): Double = {
      val t = truth.select("probe_id", "neighbor_id")
      val hit = t.join(approx.select("probe_id", "neighbor_id"),
        Seq("probe_id", "neighbor_id"), "left_semi").count()
      hit.toDouble / t.count()
    }
    val bruteBase = queries("sim_brute_topk")(s, dir)
    val e = modifiedEmb(s, dir)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
    val bruteMod = rankTopK(
      e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
    Map(
      "pq_flat" -> recall(pqTopKPairs(s, dir), bruteBase),
      "pq_view" -> recall(pqTopKFromView(s, dir), bruteMod),
      "pq_bulk" -> recall(pqTopKBulk(s, dir), bruteMod),
      "ivfpq_view" -> recall(ivfpqTopKFromView(s, dir), bruteMod),
      "ivfpq_bulk" -> recall(ivfpqTopKBulk(s, dir), bruteMod))
  }

  /** Build the persisted cell view on the ORIGINAL corpus, then push the
    * deterministic change batch through it. Drift gate: if the batch
    * touches more than [[RefitDriftBound]] of the corpus the quantizer is
    * re-fit on the modified corpus and the view fully re-materialized
    * (same store, next epoch — CDC stays contiguous); otherwise only the
    * changed vectors are reassigned, through the ordinary refresh path.
    * The store comes from [[Views.bucketedStore]] (temp by default,
    * durable under `graft.views.root`); a durable reopen over an
    * unchanged corpus serves the completed unit as-is, probing with the
    * PERSISTED centroid model the stored cells were assigned under. */
  private def ivfCellsView(s: SparkSession, dir: String): (BucketedViewStore, Array[Array[Double]]) = {
    val store = Views.bucketedStore(s, dir)
    val unit = "emb_ivf_cells"
    Views.unit(store.baseDir, unit)((store, readCentroids(store, unit))) {
      val e = emb(s, dir)
      val cents = ivfCentroidsFor(s, dir)
      store.materialize(ivfIdx(cents), e)
      val (ups, dels) = embChangeBatch(e)
      // two count() actions over delta-sized frames — refresh-time cost,
      // same order as the refresh itself
      val changed = ups.count() + dels.count()
      val served =
        if (changed > e.count() * RefitDriftBound) {
          val m = modifiedEmb(s, dir)
          val refit = ivfCentroids(m)
          store.materialize(ivfIdx(refit), m)
          refit
        } else {
          store.refresh(ivfIdx(cents), ups, Some(dels))
          cents
        }
      Views.writeModel(store.baseDir, unit, served.map(_.toSeq).toSeq)
      (store, served)
    }
  }

  /** A unit's persisted centroid model (one row per centroid). */
  private def readCentroids(store: BucketedViewStore, unit: String): Array[Array[Double]] =
    Views.readModel(store.baseDir, unit).get.map(_.toArray).toArray

  /** A unit's persisted (centroids, PQ codebooks) model: 64-dim centroid
    * rows ++ 8-dim codebook rows (m-major, k-minor) — the row LENGTH
    * separates the two families (a flat-PQ model has no centroid rows). */
  private def readIvfpqModel(store: BucketedViewStore,
      unit: String): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val rows = Views.readModel(store.baseDir, unit).get
    val cents = rows.filter(_.length == 64).map(_.toArray).toArray
    val flat = rows.filter(_.length == PqSubDim).map(_.toArray).toArray
    val ks = flat.length / PqM
    (cents, Array.tabulate(PqM)(m => Array.tabulate(ks)(k => flat(m * ks + k))))
  }

  // ---------------------------------------------------------------------
  // Persisted, incrementally-maintained LSH band index
  // ---------------------------------------------------------------------

  /** The LSH band index PERSISTED as a bucketed map view — the same
    * treatment [[ivfIdx]] gives the IVF cells. Emit key = `band:value`
    * (each vector emits one row per hyperplane band, so a probe's 8 band
    * keys select exactly its collision lists); emit value =
    * `(vec_id, v, norm)` so candidates verify without a corpus join.
    * Unlike the quantizer, the hyperplanes are data-independent (seeded
    * splitmix64), so maintenance NEVER needs a re-fit: a corpus delta
    * re-bands only itself through the store's ordinary refresh — strictly
    * O(delta) at any scale, with CDC sidecars, epoch snapshots and the
    * concurrent-writer guard inherited from the store. */
  private val lshIdx: MapIndex =
    MapIndex.columns("emb_lsh_bands")(
      col("vec_id").cast("string"),
      expr("""transform(hyperplane_bands(v), (bv, band) ->
             |  named_struct(
             |    'emit_key', concat(cast(band as string), ':', cast(bv as string)),
             |    'emit_value', named_struct('vec_id', vec_id, 'v', v, 'norm', norm)))
             |""".stripMargin))

  /** Build the persisted band view on the ORIGINAL corpus, then push the
    * SAME deterministic change batch as the IVF index through its refresh
    * path — `%37` vectors re-banded at their reversal, `%41` retracted.
    * No model element (the hyperplanes are seeded-deterministic), so a
    * durable reopen needs only the completion marker to serve as-is. */
  private def lshBandsView(s: SparkSession, dir: String): BucketedViewStore = {
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, "emb_lsh_bands")(store) {
      VectorFunctions.register(s)
      val e = emb(s, dir)
      store.materialize(lshIdx, e)
      val (ups, dels) = embChangeBatch(e)
      store.refresh(lshIdx, ups, Some(dels))
      store
    }
  }

  /** LSH ANN top-k served from the PERSISTED, incrementally-maintained
    * band view (vs [[lshTopKPairs]]'s per-session banding). The probe
    * batch's band keys are collected to the driver — ≤ probes × bands
    * short strings, model-sized — so the In-filter is PUSHED to the
    * stored bands' parquet scan and the search reads only the probed
    * collision lists, never the corpus.
    *
    * Probe-batch scaling: the driver collect is right for MODEL-SIZED
    * probe batches (an online query set; tens to thousands of keys — the
    * same cost class as broadcasting the probes themselves, which this
    * plan also does). A BULK caller probing ~10⁶+ vectors should not
    * build a 10⁶-element In list or broadcast the probe relation:
    * replace both with a shuffle join — `stored.join(probeBands, "bkey")`
    * un-broadcast (equi-join on the band key, i.e. a left-semi against
    * the probe band set for the prune, then the same candidate dedupe +
    * cosine) — trading the pushed scan filter for a shuffle that scales
    * with probe volume. Same applies to [[ivfTopKFromView]]'s cell-id
    * list. */
  def lshTopKFromView(s: SparkSession, dir: String): DataFrame = {
    val store = lshBandsView(s, dir)
    val probes = modifiedEmb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
    lshTopKFromStored(store.df(lshIdx.name), probes)
  }

  /** The stored-band search core shared by every LSH serving path (the
    * maintained view, its pre-batch epoch, the streaming-built view):
    * probe band keys collected (model-sized) → pushed In-filter on the
    * stored emissions → candidate dedupe → exact cosine. */
  private def lshTopKFromStored(stored0: DataFrame, probes: DataFrame): DataFrame = {
    val probeBands = probes
      .select(col("probe_id"), col("pv"), col("pn"),
        posexplode(expr("hyperplane_bands(pv)")).as(Seq("band", "bv")))
      .withColumn("bkey", concat(col("band").cast("string"), lit(":"), col("bv").cast("string")))
      .drop("band", "bv")
    val bandKeys = probeBands.select("bkey").distinct()
      .collect().map(_.getString(0)).toSeq
    val stored = stored0
      .filter(col("emit_key").isInCollection(bandKeys))
      .select(col("emit_key").as("bkey"), col("emit_value.vec_id").as("neighbor_id"),
        col("emit_value.v").as("v"), col("emit_value.norm").as("norm"))
    // a (probe, neighbor) pair can collide in several bands: dedupe the
    // candidate ids BEFORE the cosine so each pair scores once
    val candIds = stored.join(broadcast(probeBands.select("probe_id", "bkey")), Seq("bkey"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select("probe_id", "neighbor_id").distinct()
    val scored = candIds
      .join(stored.select(col("neighbor_id"), col("v"), col("norm")).distinct(),
        Seq("neighbor_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("neighbor_id"), col("cos"))
    rankTopK(scored)
  }

  /** The maintained band view served AS OF its pre-batch epoch (the
    * store's ordinary time travel, [[BucketedViewStore.dfAsOf]]): the
    * search result over epoch `e-1` must equal what the ORIGINAL corpus's
    * index serves — a historical ANN query against a maintained index,
    * with no model-staleness caveat because the hyperplanes are
    * data-independent. */
  def lshTopKAsOf(s: SparkSession, dir: String): DataFrame = {
    val store = lshBandsView(s, dir)
    val e = store.epoch(lshIdx.name)
    val probes = emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
    lshTopKFromStored(store.dfAsOf(lshIdx.name, e - 1), probes)
  }

  /** The band index built PURELY through streaming micro-batches
    * ([[graft.streaming.BucketedStreamingMapIndex]] — three insert
    * thirds bootstrapping + incrementally refreshing the view, then the
    * deterministic upsert/tombstone change batch): per-batch
    * partition-scoped maintenance of an ANN index, the ingest shape a
    * production embedding pipeline runs. The served result must match
    * the batch-maintained view's exactly (same ground truth grades
    * both). */
  private val lshStreamIdx: MapIndex =
    MapIndex.columns("emb_lsh_stream")(
      col("vec_id").cast("string"),
      expr("""transform(hyperplane_bands(v), (bv, band) ->
             |  named_struct(
             |    'emit_key', concat(cast(band as string), ':', cast(bv as string)),
             |    'emit_value', named_struct('vec_id', vec_id, 'v', v, 'norm', norm)))
             |""".stripMargin))

  private def lshStreamedView(s: SparkSession, dir: String): BucketedViewStore = {
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, "emb_lsh_stream")(store) {
      VectorFunctions.register(s)
      val smi = new graft.streaming.BucketedStreamingMapIndex(lshStreamIdx, store)
      val e = emb(s, dir)
      (0 to 2).foreach(r => smi.applyBatch(e.filter(col("vec_id") % 3 === r)))
      smi.applyBatch(streamedEmbBatch(e))
      store
    }
  }

  /** [[embChangeBatch]] as ONE streaming micro-batch: upserts and
    * tombstones together, split by the `deleted` column. */
  private def streamedEmbBatch(e: DataFrame): DataFrame = {
    val (ups, dels) = embChangeBatch(e)
    ups.withColumn("key", col("vec_id").cast("string"))
      .withColumn("deleted", lit(false))
      .unionByName(
        dels.select(col("src_key").as("key")).withColumn("deleted", lit(true)),
        allowMissingColumns = true)
  }

  /** LSH ANN served from the STREAMING-built band view. */
  def lshTopKStreamed(s: SparkSession, dir: String): DataFrame = {
    val store = lshStreamedView(s, dir)
    val probes = modifiedEmb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
    lshTopKFromStored(store.df(lshStreamIdx.name), probes)
  }

  /** The IVF cell view built PURELY through streaming micro-batches —
    * the [[lshStreamedView]] pattern with a MODEL: the coarse quantizer
    * trains once at ingest start on the FIRST micro-batch (the only data
    * that exists yet), then each later batch is assigned under that
    * frozen model through the bucketed streaming refresh. The trained
    * centroids persist with the view so a durable reopen probes with
    * exactly the model the stored cells were assigned under. */

  private def ivfStreamedView(s: SparkSession, dir: String): (BucketedViewStore, Array[Array[Double]]) = {
    val store = Views.bucketedStore(s, dir)
    val unit = "emb_ivf_stream"
    Views.unit(store.baseDir, unit) {
      VectorFunctions.register(s)
      (store, readCentroids(store, unit))
    } {
      VectorFunctions.register(s)
      val e = emb(s, dir)
      // the quantizer trains on the FIRST micro-batch ONLY — at stream
      // start the rest of the corpus has not arrived, so training on it
      // would be time travel; k-means on a uniform first sample is the
      // standard streaming-ingest fit (cells ∝ √sample), and every later
      // batch is assigned under that frozen model
      val cents = ivfCentroids(e.filter(col("vec_id") % 3 === 0))
      val idx = MapIndex.columns(unit)(
        col("vec_id").cast("string"),
        array(emit(assignExpr(cents).cast("string"),
          struct(col("vec_id"), col("v"), col("norm")))))
      val smi = new graft.streaming.BucketedStreamingMapIndex(idx, store)
      (0 to 2).foreach(r => smi.applyBatch(e.filter(col("vec_id") % 3 === r)))
      smi.applyBatch(streamedEmbBatch(e))
      Views.writeModel(store.baseDir, unit, cents.map(_.toSeq).toSeq)
      (store, cents)
    }
  }

  /** IVF ANN served from the STREAMING-built cell view (the
    * [[ivfTopKFromView]] read path over the streamed store). */
  def ivfTopKStreamed(s: SparkSession, dir: String): DataFrame = {
    val (store, cents) = ivfStreamedView(s, dir)
    ivfSearchStored(store.df("emb_ivf_stream"), modifiedEmb(s, dir), cents,
      probeBoost = 2)
  }

  /** Refine factor for SQ8 search: exact-rerank the top `K · SqRefine`
    * quantized candidates per probe. */
  private val SqRefine = 4

  // ---------------------------------------------------------------------
  // Persisted, incrementally-maintained SQ8 (int8) corpus
  // ---------------------------------------------------------------------

  /** The SQ8 corpus as an engine-maintained bucketed map view, keyed by
    * vec_id (refresh = delete-then-insert of the changed vectors'
    * buckets, strictly O(delta)). Emit value = `(q, qn)` — the int8
    * vector and its quantized norm, so the candidate scan needs no
    * corpus join. The quantize expression appears three times in the
    * emission; that cost is paid once per STORED row at write time, not
    * in the per-pair search path. */
  private def sqIncIdx(scale: Double): MapIndex = {
    val quant = call_function("vec_quantize", col("v"), lit(scale))
    MapIndex.columns("emb_sq8_inc")(
      col("vec_id").cast("string"),
      array(emit(col("vec_id"), struct(
        quant.as("q"),
        sqrt(call_function("vec_dot_q", quant, quant).cast("double")).as("qn")))))
  }

  private def maxAbsComponent(e: DataFrame): Double =
    e.agg(coalesce(max(expr(
      "aggregate(v, cast(0.0 as double), (m, x) -> greatest(m, abs(x)))")), lit(0.0)))
      .head().getDouble(0)

  /** Build the SQ8 view over `corpus` at its own max-|component| scale;
    * returns that scale (the view's one model parameter). */
  private[graft] def sqBuild(store: BucketedViewStore, corpus: DataFrame): Double = {
    val scale = maxAbsComponent(corpus)
    store.materialize(sqIncIdx(scale), corpus)
    scale
  }

  /** The SQ8 change-batch gate, factored for direct testing: apply one
    * corpus batch to a stored SQ8 view. The scale can only go stale
    * UPWARD (an incoming component beyond it would CLAMP, distorting that
    * vector's direction; deletions and within-range rewrites leave every
    * stored code exact), so the gate is exact, not drift-bounded:
    * re-materialize at the re-fit scale iff the batch's own max
    * |component| exceeds the stored scale — the rebuild goes through
    * [[BucketedViewStore.materialize]]'s full-retraction path, keeping
    * the CDC feed contiguous across it — otherwise the ordinary O(delta)
    * refresh. Returns the scale the view now serves with. */
  private[graft] def sqApplyBatch(store: BucketedViewStore, scale: Double,
      ups: DataFrame, dels: Option[DataFrame],
      corpusAfter: => DataFrame): Double =
    if (maxAbsComponent(ups) > scale) {
      val m = corpusAfter
      val refit = maxAbsComponent(m)
      store.materialize(sqIncIdx(refit), m) // next epoch; CDC contiguous
      refit
    } else {
      store.refresh(sqIncIdx(scale), ups, dels)
      scale
    }

  /** Build the persisted SQ8 view on the ORIGINAL corpus, then push the
    * deterministic change batch through its refresh path. The scale is
    * the view's one model parameter, and unlike IVF's centroids it can
    * only go stale UPWARD: an incoming component beyond it would CLAMP
    * (distorting that vector's direction), while deletions and
    * within-range rewrites leave every stored code exact. So the re-fit
    * gate is exact, not drift-bounded — re-materialize iff the batch's
    * own max |component| exceeds the stored scale; otherwise the
    * ordinary O(delta) refresh. (The fixture's reversal batch is
    * component-preserving, so it exercises the refresh arm.) */
  private def sqIncView(s: SparkSession, dir: String): (BucketedViewStore, Double) = {
    val store = Views.bucketedStore(s, dir)
    val unit = "emb_sq8_inc"
    Views.unit(store.baseDir, unit) {
      VectorFunctions.register(s)
      (store, Views.readModel(store.baseDir, unit).get.head.head)
    } {
      val e = emb(s, dir)
      val scale = sqBuild(store, e)
      val (ups, dels) = embChangeBatch(e)
      val served = sqApplyBatch(store, scale, ups, Some(dels), modifiedEmb(s, dir))
      Views.writeModel(store.baseDir, unit, Seq(Seq(served)))
      (store, served)
    }
  }

  /** SQ8 search served from the PERSISTED, incrementally-maintained int8
    * view: integer-dot candidate scan over the stored `(q, qn)` rows
    * (4-8× less I/O than the float corpus), exact float rerank of the
    * `K · SqRefine` best per probe against the post-batch corpus. */
  def sqTopKFromView(s: SparkSession, dir: String): DataFrame = {
    val (store, scale) = sqIncView(s, dir)
    val m = modifiedEmb(s, dir)
    val probes = m.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("pq", call_function("vec_quantize", col("pv"), lit(scale)))
      .withColumn("pqn", sqrt(call_function("vec_dot_q", col("pq"), col("pq")).cast("double")))
      .filter(col("pqn") > 0)
    val qcorpus = store.df("emb_sq8_inc")
      .select(col("emit_key").cast("long").as("vec_id"),
        col("emit_value.q").as("q"), col("emit_value.qn").as("qn"))
      .filter(col("qn") > 0)
    val approx = qcorpus
      .join(broadcast(probes.select("probe_id", "pq", "pqn")),
        col("vec_id") =!= col("probe_id"))
      .withColumn("qcos",
        call_function("vec_dot_q", col("pq"), col("q")).cast("double") / (col("pqn") * col("qn")))
    val w = Window.partitionBy("probe_id").orderBy(col("qcos").desc, col("vec_id"))
    val cands = approx.withColumn("r", row_number().over(w))
      .filter(col("r") <= K * SqRefine)
      .select("probe_id", "vec_id")
    val scored = cands
      .join(m.select(col("vec_id"), col("v"), col("norm")), Seq("vec_id"))
      .join(broadcast(probes.select("probe_id", "pv", "pn")), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    rankTopK(scored)
  }

  // ---------------------------------------------------------------------
  // IVF-SQ8: the pruning tier composed with the compression tier
  // ---------------------------------------------------------------------

  /** The IVF-SQ8 index: int8 codes stored INSIDE the cell posting lists.
    * Emit key = cell id (the [[ivfIdx]] prune); emit value =
    * `(vec_id, q, qn)` (the [[sqIncIdx]] compression) — the stored view
    * holds NO float vector at all. A probe then scans only its nProbe
    * cells' lists AND reads 1-byte components inside them: prune × 4-8×
    * compression multiply, the standard IVF-SQ composition from the
    * public ANN literature, and what finally makes the SQ tier scale
    * past "scan the whole corpus 4× cheaper". Model parameters are the
    * centroids AND the quantization scale, persisted together so a
    * reopening process probes with exactly the model the stored codes
    * were assigned and quantized under. */
  private def ivfsqIdx(cents: Array[Array[Double]], scale: Double): MapIndex = {
    val quant = call_function("vec_quantize", col("v"), lit(scale))
    MapIndex.columns("emb_ivfsq_cells")(
      col("vec_id").cast("string"),
      array(emit(assignExpr(cents).cast("string"),
        struct(col("vec_id"), quant.as("q"),
          sqrt(call_function("vec_dot_q", quant, quant).cast("double")).as("qn")))))
  }

  /** Build the persisted IVF-SQ8 view on the ORIGINAL corpus, then push
    * the deterministic change batch through its refresh path. BOTH model
    * staleness gates compose: the IVF drift bound (a batch touching more
    * than [[RefitDriftBound]] of the corpus re-fits the quantizer) and
    * the SQ clamp gate (a component beyond the stored scale would clamp
    * — exact, not drift-bounded). Either firing re-materializes on the
    * modified corpus through the store's full-retraction rebuild path
    * (CDC stays contiguous); otherwise only the changed vectors re-cell
    * and re-quantize through the ordinary O(delta) refresh. Model rows
    * persist as centroids ++ one trailing `[scale]` row. */
  private def ivfsqCellsView(s: SparkSession, dir: String): (BucketedViewStore, Array[Array[Double]], Double) = {
    val store = Views.bucketedStore(s, dir)
    val unit = "emb_ivfsq_cells"
    Views.unit(store.baseDir, unit) {
      VectorFunctions.register(s)
      val rows = Views.readModel(store.baseDir, unit).get
      (store, rows.init.map(_.toArray).toArray, rows.last.head)
    } {
      val e = emb(s, dir)
      val cents = ivfCentroidsFor(s, dir)
      val scale = maxAbsComponent(e)
      store.materialize(ivfsqIdx(cents, scale), e)
      val (ups, dels) = embChangeBatch(e)
      val changed = ups.count() + dels.count()
      val (servedC, servedS) =
        if (changed > e.count() * RefitDriftBound || maxAbsComponent(ups) > scale) {
          val m = modifiedEmb(s, dir)
          val refitC = ivfCentroids(m)
          val refitS = maxAbsComponent(m)
          store.materialize(ivfsqIdx(refitC, refitS), m)
          (refitC, refitS)
        } else {
          store.refresh(ivfsqIdx(cents, scale), ups, Some(dels))
          (cents, scale)
        }
      Views.writeModel(store.baseDir, unit,
        servedC.map(_.toSeq).toSeq :+ Seq(servedS))
      (store, servedC, servedS)
    }
  }

  /** IVF-SQ8 search from the PERSISTED composed index: the probe's
    * nProbe cell ids prune the stored scan (pushed In-filter —
    * model-sized, like [[ivfTopKFromView]]), the candidate scoring pass
    * reads ONLY int8 codes (`vec_dot_q` over `array<tinyint>` — no
    * float vector exists in the view to read), and the top `K·SqRefine`
    * quantized candidates per probe exact-rerank against the float
    * corpus. Recall = IVF's cell recall × the SQ refine margin's
    * (measured 1.0) rank fidelity, so the [[IvfRecallBound]] carries. */
  def ivfsqTopKFromView(s: SparkSession, dir: String): DataFrame = {
    val (store, cents, scale) = ivfsqCellsView(s, dir)
    val nProbe = probesFor(cents.length)
    val m = modifiedEmb(s, dir)
    val probes = m.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("pq", call_function("vec_quantize", col("pv"), lit(scale)))
      .withColumn("pqn", sqrt(call_function("vec_dot_q", col("pq"), col("pq")).cast("double")))
      .filter(col("pqn") > 0)
    val probeCells = probes
      .withColumn("cid0", explode(probeCellsCol(cents, nProbe, col("pv"))))
      .withColumn("cid", col("cid0").cast("string"))
      .select("probe_id", "cid", "pq", "pqn")
    val cellIds = probeCells.select("cid").distinct()
      .collect().map(_.getString(0)).toSeq
    val qcells = store.df("emb_ivfsq_cells")
      .filter(col("emit_key").isInCollection(cellIds))
      .select(col("emit_key").as("cid"), col("emit_value.vec_id").as("vec_id"),
        col("emit_value.q").as("q"), col("emit_value.qn").as("qn"))
      .filter(col("qn") > 0)
    // a vector lives in exactly one cell — no candidate dedupe needed
    val approx = qcells.join(broadcast(probeCells), Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("qcos",
        call_function("vec_dot_q", col("pq"), col("q")).cast("double") / (col("pqn") * col("qn")))
    val w = Window.partitionBy("probe_id").orderBy(col("qcos").desc, col("vec_id"))
    val cands = approx.withColumn("r", row_number().over(w))
      .filter(col("r") <= K * SqRefine)
      .select("probe_id", "vec_id")
    val scored = cands
      .join(m.select(col("vec_id"), col("v"), col("norm")), Seq("vec_id"))
      .join(broadcast(probes.select("probe_id", "pv", "pn")), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    rankTopK(scored)
  }

  /** The BULK-probe spelling of [[ivfsqTopKFromView]] — the full
    * composition under the bulk contract: the cell PRUNE is a shuffle
    * semi-join against the probe batch's cell set (no driver In-list),
    * the pruned scan reads int8 CODES only, candidate selection and the
    * final exact rank are both the bounded-heap `topk_by` aggregate (no
    * windows), and nothing is broadcast. This is the plan a data-sized
    * probe batch runs at 100 TB: cost scales with probe volume × probed
    * cell mass ÷ compression, never with an In-list or a broadcast. */
  def ivfsqTopKBulk(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Sketches.register(s)
    val (store, cents, scale) = ivfsqCellsView(s, dir)
    val nProbe = probesFor(cents.length)
    val m = modifiedEmb(s, dir)
    val probes = m.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("pq", call_function("vec_quantize", col("pv"), lit(scale)))
      .withColumn("pqn", sqrt(call_function("vec_dot_q", col("pq"), col("pq")).cast("double")))
      .filter(col("pqn") > 0)
    val probeCells = probes
      .withColumn("cid0", explode(probeCellsCol(cents, nProbe, col("pv"))))
      .withColumn("cid", col("cid0").cast("string"))
      .select("probe_id", "cid", "pq", "pqn")
    val qcells = store.df("emb_ivfsq_cells")
      .select(col("emit_key").as("cid"), col("emit_value.vec_id").as("vec_id"),
        col("emit_value.q").as("q"), col("emit_value.qn").as("qn"))
      .filter(col("qn") > 0)
      .join(probeCells.select("cid").distinct().hint("shuffle_hash"),
        Seq("cid"), "left_semi")
    val approx = qcells.join(probeCells.hint("shuffle_hash"), Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("qcos",
        call_function("vec_dot_q", col("pq"), col("q")).cast("double") / (col("pqn") * col("qn")))
    val cands = approx.groupBy("probe_id")
      .agg(expr(s"topk_by(qcos, vec_id, ${K * SqRefine})").as("top"))
      .select(col("probe_id"), explode(expr("transform(top, t -> t.id)")).as("vec_id"))
    val scored = cands
      .join(m.select(col("vec_id"), col("v"), col("norm")).hint("shuffle_hash"), Seq("vec_id"))
      .join(probes.select("probe_id", "pv", "pn").hint("shuffle_hash"), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    scored.groupBy("probe_id")
      .agg(expr(s"topk_by(cos, neighbor_id, $K)").as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("r0", "t")))
      .select(col("probe_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cos"), (col("r0") + 1).cast("long").as("rank"))
      .orderBy("probe_id", "rank")
  }

  /** The BULK-probe spelling of [[sqTopKFromView]] — the SQ twin of the
    * LSH/IVF bulk contract ([[lshTopKBulk]]/[[ivfTopKBulk]]): no probe
    * broadcast, no driver In-list, and ZERO windows — per-probe
    * selection (both the quantized candidate cut and the final exact
    * rank) runs through the bounded-heap `topk_by` aggregate, whose
    * partial aggregation ships at most K·SqRefine pairs per probe per
    * map task through the shuffle where a window would shuffle every
    * scored row. SQ8 is the compression tier with no pruning key, so the
    * scoring scan IS corpus × probes (spelled as a hinted
    * shuffle-replicated cartesian — both sides partitioned, nothing
    * broadcast); the bulk contract is about everything AROUND that scan
    * scaling with probe volume. A data-sized probe batch wanting a
    * pruned scan composes tiers: [[ivfsqTopKFromView]]'s cell prune. */
  def sqTopKBulk(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Sketches.register(s)
    val (store, scale) = sqIncView(s, dir)
    val m = modifiedEmb(s, dir)
    val probes = m.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("pq", call_function("vec_quantize", col("pv"), lit(scale)))
      .withColumn("pqn", sqrt(call_function("vec_dot_q", col("pq"), col("pq")).cast("double")))
      .filter(col("pqn") > 0)
    val qcorpus = store.df("emb_sq8_inc")
      .select(col("emit_key").cast("long").as("vec_id"),
        col("emit_value.q").as("q"), col("emit_value.qn").as("qn"))
      .filter(col("qn") > 0)
    val approx = qcorpus
      .join(probes.select("probe_id", "pq", "pqn").hint("shuffle_replicate_nl"),
        col("vec_id") =!= col("probe_id"))
      .withColumn("qcos",
        call_function("vec_dot_q", col("pq"), col("q")).cast("double") / (col("pqn") * col("qn")))
    val cands = approx.groupBy("probe_id")
      .agg(expr(s"topk_by(qcos, vec_id, ${K * SqRefine})").as("top"))
      .select(col("probe_id"), explode(expr("transform(top, t -> t.id)")).as("vec_id"))
    val scored = cands
      .join(m.select(col("vec_id"), col("v"), col("norm")).hint("shuffle_hash"), Seq("vec_id"))
      .join(probes.select("probe_id", "pv", "pn").hint("shuffle_hash"), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    // final exact rank through the same bounded heap (score DESC, id ASC
    // — identical tie-break to [[rankTopK]]'s window ordering)
    scored.groupBy("probe_id")
      .agg(expr(s"topk_by(cos, neighbor_id, $K)").as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("r0", "t")))
      .select(col("probe_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cos"), (col("r0") + 1).cast("long").as("rank"))
      .orderBy("probe_id", "rank")
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ) and the composed IVF-PQ index
  // ---------------------------------------------------------------------

  /** PQ geometry: the 64-dim vector splits into [[PqM]] subspaces of
    * [[PqSubDim]] dims; each subspace gets its own [[PqKs]]-centroid
    * codebook (Lloyd-trained), and a vector's code is its M nearest
    * sub-centroid indices — M BYTES per vector (here 8 bytes for 512
    * bytes of doubles, 64×). Search scores candidates asymmetrically
    * (ADC): the probe precomputes an M×Ks table of sub-dot-products once,
    * then each candidate costs M byte-indexed table reads (`pq_adc`, a
    * native codegen'd expression). This is the standard PQ design from
    * the public ANN literature — the far-compression tier below SQ8's
    * 4×, paid for with a wider exact-rerank margin ([[PqRefine]]). */
  private[graft] val PqM = 8
  private[graft] val PqSubDim = 8
  /** Sub-quantizer resolution CEILING: up to 64 centroids per subspace
    * (6 bits of the byte each code already occupies — the hard byte-code
    * ceiling is 256); the effective ks scales with the corpus
    * ([[pqKsFor]]). Was a flat 16, which was the plan-size bound of the
    * literal-expression LUT spelling, not a design choice: with the LUT
    * as a native reference-object expression ([[VectorFunctions.PqLut]])
    * the table cost is M·ks doubles per probe regardless of how it is
    * spelled, and 64 sub-centroids measurably lift recall on weakly-
    * clustered corpora (sf0.1: flat 0.58 → 0.86 together with the wider
    * refine margin). */
  private[graft] val PqKs = 64
  /** Exact-rerank the top `K · PqRefine` ADC candidates: PQ reconstruction
    * error is far larger than SQ8's, so the refine margin is wider (and
    * rerank cost is K·PqRefine float dots per probe — parameters, not a
    * corpus term, so widening it is nearly free at any scale). */
  private val PqRefine = 16

  /** Nearest sub-centroid of `sub` in one subspace's codebook — same
    * dist² ranking trick as [[assignExpr]] (`-2·sub·c + |c|²`; `|sub|²`
    * is rank-constant), shared by training, encoding and (through the
    * LUT) probing so all three agree on code boundaries. Unlike the
    * coarse quantizer, Ks is bounded by DESIGN (codes are bytes, so
    * Ks ≤ 256 at any corpus size) — but the codebook still rides as a
    * [[VectorFunctions.NearestCells]] reference object, not literals,
    * so the encode expression stays M small nodes. */
  private[graft] def pqNearestExpr(book: Array[Array[Double]], sub: Column): Column =
    element_at(VectorFunctions.nearestCells(sub, book, 1), 1)

  /** PQ code of a full vector: `array<tinyint>` of the M nearest
    * sub-centroid indices. One pass over the row; 128 small dot
    * expressions in the plan (M·Ks), index-write cost only. */
  private[graft] def pqEncodeExpr(books: Array[Array[Array[Double]]], v: Column): Column =
    array((0 until PqM).map { m =>
      pqNearestExpr(books(m), slice(v, m * PqSubDim + 1, PqSubDim)).cast("byte")
    }: _*)

  /** The probe's flattened ADC lookup table: `lut[m·Ks + k] =
    * dot(probe_sub_m, books[m][k])` — M·Ks doubles computed ONCE per
    * probe, then every candidate is scored from its code alone. Native
    * reference-object expression ([[VectorFunctions.PqLut]]): the old
    * per-entry literal spelling put O(M·Ks) nodes in the plan, which is
    * what capped Ks at 16. */
  private[graft] def pqLutExpr(books: Array[Array[Array[Double]]], v: Column): Column =
    VectorFunctions.pqLut(v, books)

  /** Flattened `|books[m][k]|²` table: `pq_adc(codes, this)` is then the
    * squared norm of the RECONSTRUCTED vector — stored alongside the code
    * so ADC dot products can rank by approximate cosine (candidate norms
    * vary; ranking raw dots would bias toward long vectors). */
  private def pqNormLut(books: Array[Array[Array[Double]]]): Array[Double] =
    books.flatMap(_.map(c => c.map(x => x * x).sum))

  /** Effective sub-quantizer resolution for an n-vector corpus:
    * `min(PqKs, max(16, n/8))`. The corpus cap is NOT about plan size
    * (the reference-object LUT made Ks free there) — it keeps the
    * codebooks from MEMORIZING a small corpus: near-zero training error
    * would make the refit gate's relative-error test
    * ([[PqRefitErrFactor]] × baseErr) fire on ordinary in-distribution
    * batches, turning every refresh into a rebuild. n/8 keeps ≥8
    * training sub-vectors per centroid, the usual k-means floor. */
  private[graft] def pqKsFor(n: Long): Int =
    math.min(PqKs, math.max(16, (n / 8).toInt))

  /** Train the M codebooks: ONE exploded `(m, sub)` relation carries every
    * subspace, so each Lloyd round is a single corpus-scan + one
    * delta-small aggregation for ALL subspaces together (not M separate
    * fits). Same broadcast-model iteration shape as [[ivfCentroids]]:
    * the collected model is M·ks·SubDim doubles — parameters, not data.
    * Init = sub-slices of the first ks vectors by vec_id (deterministic).
    * ks scales with the corpus ([[pqKsFor]]); every downstream consumer
    * derives it from the books' SHAPE (`books(0).length`), so build,
    * encode, LUT, ADC and model reopen can never disagree on it. */
  private[graft] def pqCodebooks(e0: DataFrame): Array[Array[Array[Double]]] = {
    val subs = e0.select(col("vec_id"),
        posexplode(expr(
          s"transform(sequence(0, ${PqM - 1}), m -> slice(v, m * $PqSubDim + 1, $PqSubDim))"))
          .as(Seq("m", "sub")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ks = pqKsFor(e0.count())
      val initRows = e0.orderBy("vec_id").limit(ks)
        .select("v").collect().map(_.getSeq[Double](0).toArray)
      require(initRows.nonEmpty, "pqCodebooks: empty training corpus")
      // a corpus smaller than ks cycles its vectors: the duplicate
      // centroids are never chosen (nearest ties toward the lower code)
      // and empty sub-cells keep them, so the books stay ks-shaped
      val init = Array.tabulate(ks)(k => initRows(k % initRows.length))
      var books: Array[Array[Array[Double]]] =
        Array.tabulate(PqM)(m => init.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim)))
      var it = 0
      while (it < KmeansIters) {
        // assignment: a when-chain on the subspace id — each branch is the
        // same codegen'd nearest-centroid ranking the encoder uses
        val assign = (1 until PqM).foldLeft(
          when(col("m") === 0, pqNearestExpr(books(0), col("sub")))) {
          (acc, m) => acc.when(col("m") === m, pqNearestExpr(books(m), col("sub")))
        }.otherwise(lit(-1))
        val means = subs.withColumn("cid", assign)
          .select(col("m"), col("cid"), posexplode(col("sub")).as(Seq("pos", "x")))
          .groupBy("m", "cid", "pos").agg(avg("x").as("mu"))
          .groupBy("m", "cid")
          .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("ms"))
          .select(col("m"), col("cid"), expr("transform(ms, s -> s.mu)").as("c"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
        // an empty sub-cell keeps its previous centroid
        books = Array.tabulate(PqM)(m =>
          Array.tabulate(ks)(k => means.getOrElse((m, k), books(m)(k))))
        it += 1
      }
      books
    } finally subs.unpersist(blocking = false)
  }

  /** Per-JVM codebook cache, fingerprint-keyed like [[centroidCache]]. */
  private val pqBookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  private def pqBooksFor(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    pqBookCache.computeIfAbsent(s"$dir#${corpusFingerprint(s, dir)}",
      _ => pqCodebooks(emb(s, dir)))

  /** Flat-PQ ANN top-k over the base corpus: encode-on-the-fly ADC scan
    * (rank = adc / reconstructed-norm), refine top K·PqRefine, exact
    * rerank. The recall-invariant query behind `sim_pq_topk`; the
    * persisted, composed spelling is [[ivfpqTopKFromView]]. */
  def pqTopKPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.typedlit
    val e = emb(s, dir)
    val books = pqBooksFor(s, dir)
    val codes = pqEncodeExpr(books, col("v"))
    val corpus = e.select(col("vec_id"), codes.as("codes"),
      sqrt(call_function("pq_adc", codes, typedlit(pqNormLut(books)), lit(books(0).length))).as("qn"))
      .filter(col("qn") > 0)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("lut", pqLutExpr(books, col("pv")))
    val approx = corpus
      .join(broadcast(probes.select("probe_id", "lut")), col("vec_id") =!= col("probe_id"))
      .withColumn("adc",
        call_function("pq_adc", col("codes"), col("lut"), lit(books(0).length)) / col("qn"))
    val w = Window.partitionBy("probe_id").orderBy(col("adc").desc, col("vec_id"))
    val cands = approx.withColumn("r", row_number().over(w))
      .filter(col("r") <= K * PqRefine)
      .select("probe_id", "vec_id")
    val scored = cands
      .join(e.select(col("vec_id"), col("v"), col("norm")), Seq("vec_id"))
      .join(broadcast(probes.select("probe_id", "pv", "pn")), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    rankTopK(scored)
  }

  // ---------------------------------------------------------------------
  // Persisted, incrementally-maintained flat-PQ corpus
  // ---------------------------------------------------------------------

  /** Codebook-staleness gate factor: a change batch whose mean squared
    * reconstruction error under the STORED codebooks exceeds this
    * multiple of the build-time corpus error forces a codebook re-fit +
    * re-materialization — the PQ analog of the SQ scale clamp gate.
    * Unlike the SQ gate it cannot be exact (a codebook never "clamps";
    * it just reconstructs worse), so the gate is the measurable quantity
    * that actually degrades recall: reconstruction error. The norm-
    * preserving reversal fixture reconstructs like any other random
    * vector, so it exercises the refresh arm; a spec drives the re-fit
    * arm with deliberately out-of-distribution vectors. */
  private val PqRefitErrFactor = 2.0

  /** The composed (residual-encoded) index's gate factor. The recorded
    * base error is TRAINING error, which understates held-out error by
    * the codebooks' generalization gap — negligible for raw-vector books
    * (raw components have high irreducible variance; the 2× factor
    * suffices), but real for residual books (≈ n/ks ≈ 8 training
    * residuals per 8-dim sub-centroid: measured ≈ 2× on this corpus
    * family — an ordinary in-distribution batch would trip a 2× gate).
    * Out-of-distribution batches land ORDERS OF MAGNITUDE above (the
    * 100×-components fixture measures ~3·10⁴×), so 8× discriminates with
    * wide margin on both sides. */
  private val IvfPqRefitErrFactor = 8.0

  /** Mean squared PQ reconstruction error of `corpus` under `books`:
    * `|v|² − 2·v·recon(v) + |recon(v)|²` per vector via the ADC
    * machinery (encode → LUT dot → code-norm LUT), averaged — ONE scan,
    * model-sized output. */
  private[graft] def pqMeanSqError(
      corpus: DataFrame, books: Array[Array[Array[Double]]]): Double = {
    import org.apache.spark.sql.functions.typedlit
    val codes = pqEncodeExpr(books, col("v"))
    corpus.select(
        (call_function("vec_dot", col("v"), col("v"))
          - lit(2.0) * call_function("pq_adc", codes, pqLutExpr(books, col("v")), lit(books(0).length))
          + call_function("pq_adc", codes, typedlit(pqNormLut(books)), lit(books(0).length))).as("e"))
      .agg(coalesce(avg("e"), lit(0.0))).head().getDouble(0)
  }

  /** The flat-PQ corpus as an engine-maintained bucketed map view keyed
    * by vec_id (the [[sqIncIdx]] treatment at 8 bytes per vector):
    * emit value = `(codes, qn)` — no float vector in the stored view.
    * Refresh re-encodes changed vectors under EXACTLY the codebooks the
    * stored codes carry. */
  private def pqIncIdx(books: Array[Array[Array[Double]]]): MapIndex = {
    import org.apache.spark.sql.functions.typedlit
    val codes = pqEncodeExpr(books, col("v"))
    MapIndex.columns("emb_pq_inc")(
      col("vec_id").cast("string"),
      array(emit(col("vec_id"), struct(codes.as("codes"),
        sqrt(call_function("pq_adc", codes, typedlit(pqNormLut(books)), lit(books(0).length)))
          .as("qn")))))
  }

  /** Build the flat-PQ view over `corpus`; returns (codebooks, base
    * mean-sq reconstruction error) — the view's model parameters. */
  private[graft] def pqIncBuild(store: BucketedViewStore,
      corpus: DataFrame): (Array[Array[Array[Double]]], Double) = {
    val books = pqCodebooks(corpus)
    store.materialize(pqIncIdx(books), corpus)
    (books, pqMeanSqError(corpus, books))
  }

  /** The PQ change-batch gate, factored for direct testing (the
    * [[sqApplyBatch]] shape): apply one corpus batch to a stored flat-PQ
    * view. Re-fit + re-materialize (through the store's full-retraction
    * rebuild — CDC stays contiguous) iff the batch's mean reconstruction
    * error under the STORED codebooks exceeds [[PqRefitErrFactor]] × the
    * recorded base error; otherwise the ordinary O(delta) refresh
    * re-encodes only the changed vectors. Returns the (books, baseErr)
    * the view now serves with. */
  private[graft] def pqApplyBatch(store: BucketedViewStore,
      books: Array[Array[Array[Double]]], baseErr: Double,
      ups: DataFrame, dels: Option[DataFrame],
      corpusAfter: => DataFrame): (Array[Array[Array[Double]]], Double) = {
    val batchErr = pqMeanSqError(ups, books)
    if (batchErr > PqRefitErrFactor * baseErr && baseErr > 0) {
      val m = corpusAfter
      val refit = pqCodebooks(m)
      store.materialize(pqIncIdx(refit), m)
      (refit, pqMeanSqError(m, refit))
    } else {
      store.refresh(pqIncIdx(books), ups, dels)
      (books, baseErr)
    }
  }

  /** Build the flat-PQ view on the ORIGINAL corpus, then push the shared
    * deterministic change batch through [[pqApplyBatch]]'s gate. Model
    * rows persist as 8-dim codebook rows (m-major) ++ one trailing
    * `[baseErr]` row (length separates the families on reopen). */
  private def pqIncView(s: SparkSession, dir: String): (BucketedViewStore, Array[Array[Array[Double]]]) = {
    val store = Views.bucketedStore(s, dir)
    val unit = "emb_pq_inc"
    Views.unit(store.baseDir, unit) {
      VectorFunctions.register(s)
      (store, readIvfpqModel(store, unit)._2)
    } {
      val e = emb(s, dir)
      val (books, baseErr) = pqIncBuild(store, e)
      val (ups, dels) = embChangeBatch(e)
      val (servedB, servedErr) =
        pqApplyBatch(store, books, baseErr, ups, Some(dels), modifiedEmb(s, dir))
      Views.writeModel(store.baseDir, unit,
        servedB.flatten.map(_.toSeq).toSeq :+ Seq(servedErr))
      (store, servedB)
    }
  }

  /** Flat-PQ search served from the PERSISTED, incrementally-maintained
    * code view: ADC scan over the stored 8-byte codes (the probe's LUT
    * broadcast with it), exact float rerank of the top `K · PqRefine`
    * per probe against the post-batch corpus — [[sqTopKFromView]] with
    * 64× compression instead of 4×. */
  def pqTopKFromView(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.typedlit
    val (store, books) = pqIncView(s, dir)
    val m = modifiedEmb(s, dir)
    val probes = m.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("lut", pqLutExpr(books, col("pv")))
    val qcorpus = store.df("emb_pq_inc")
      .select(col("emit_key").cast("long").as("vec_id"),
        col("emit_value.codes").as("codes"), col("emit_value.qn").as("qn"))
      .filter(col("qn") > 0)
    val approx = qcorpus
      .join(broadcast(probes.select("probe_id", "lut")), col("vec_id") =!= col("probe_id"))
      .withColumn("adc",
        call_function("pq_adc", col("codes"), col("lut"), lit(books(0).length)) / col("qn"))
    val w = Window.partitionBy("probe_id").orderBy(col("adc").desc, col("vec_id"))
    val cands = approx.withColumn("r", row_number().over(w))
      .filter(col("r") <= K * PqRefine)
      .select("probe_id", "vec_id")
    val scored = cands
      .join(m.select(col("vec_id"), col("v"), col("norm")), Seq("vec_id"))
      .join(broadcast(probes.select("probe_id", "pv", "pn")), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    rankTopK(scored)
  }

  /** The BULK-probe spelling of [[pqTopKFromView]] — the flat-PQ twin of
    * [[sqTopKBulk]]'s contract: no probe broadcast, no driver In-list,
    * and ZERO windows — both the ADC candidate cut and the final exact
    * rank run through the bounded-heap `topk_by` aggregate. Flat PQ has
    * no pruning key, so the ADC scan IS corpus × probes (the hinted
    * shuffle-replicated cartesian, nothing broadcast) reading M-byte
    * codes; everything around the scan scales with probe volume. A
    * data-sized probe batch wanting a pruned scan composes tiers:
    * [[ivfpqTopKBulk]]. */
  def pqTopKBulk(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Sketches.register(s)
    val (store, books) = pqIncView(s, dir)
    val m = modifiedEmb(s, dir)
    val probes = m.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("lut", pqLutExpr(books, col("pv")))
    val qcorpus = store.df("emb_pq_inc")
      .select(col("emit_key").cast("long").as("vec_id"),
        col("emit_value.codes").as("codes"), col("emit_value.qn").as("qn"))
      .filter(col("qn") > 0)
    val approx = qcorpus
      .join(probes.select("probe_id", "lut").hint("shuffle_replicate_nl"),
        col("vec_id") =!= col("probe_id"))
      .withColumn("adc",
        call_function("pq_adc", col("codes"), col("lut"), lit(books(0).length)) / col("qn"))
    val cands = approx.groupBy("probe_id")
      .agg(expr(s"topk_by(adc, vec_id, ${K * PqRefine})").as("top"))
      .select(col("probe_id"), explode(expr("transform(top, t -> t.id)")).as("vec_id"))
    val scored = cands
      .join(m.select(col("vec_id"), col("v"), col("norm")).hint("shuffle_hash"), Seq("vec_id"))
      .join(probes.select("probe_id", "pv", "pn").hint("shuffle_hash"), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    scored.groupBy("probe_id")
      .agg(expr(s"topk_by(cos, neighbor_id, $K)").as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("r0", "t")))
      .select(col("probe_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cos"), (col("r0") + 1).cast("long").as("rank"))
      .orderBy("probe_id", "rank")
  }

  /** The residual relation a corpus leaves against a coarse quantizer:
    * `(vec_id, v = original − cents[nearest])` — what IVFADC trains its
    * codebooks on and encodes. One scan-local pass ([[VectorFunctions
    * .CellResidual]], centroids as a reference array — no join). */
  private[graft] def residualsOf(df: DataFrame, cents: Array[Array[Double]]): DataFrame =
    df.select(col("vec_id"),
      VectorFunctions.cellResidual(col("v"), assignExpr(cents), cents).as("v"))

  /** The composed IVF-PQ index, RESIDUAL-encoded (IVFADC — the standard
    * layout from the public ANN literature): PQ codes stored INSIDE the
    * cell posting lists encode `v − cents[cell]`, NOT `v` — residuals are
    * far tighter-distributed than raw vectors (the coarse quantizer has
    * already explained the cell-scale structure), so the same M-byte code
    * reconstructs much closer and recall rises for free. Emit key = cell
    * id, emit value = `(vec_id, codes, qn)` with `qn = |cents[cell] +
    * recon(codes)|` — no float vector in the view at all. A probe scores
    * a candidate as `(dot(p, cent_cell) + adc(codes, lut_p)) / qn`: the
    * coarse term is per (probe, cell) — model-sized — and the residual
    * term reads M bytes. Both model families bake into the map
    * expression, so refresh re-encodes changed vectors under exactly the
    * model the stored codes carry. */
  private def ivfpqIdx(
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): MapIndex =
    ivfpqIdxNamed("emb_ivfpq_cells", cents, books)

  private def ivfpqIdxNamed(name: String,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): MapIndex = {
    val cid = assignExpr(cents)
    val codes = pqEncodeExpr(books,
      VectorFunctions.cellResidual(col("v"), cid, cents))
    MapIndex.columns(name)(
      col("vec_id").cast("string"),
      array(emit(cid.cast("string"),
        struct(col("vec_id"), codes.as("codes"),
          sqrt(VectorFunctions.pqReconNorm2(cid, codes, cents, books)).as("qn")))))
  }

  /** Residual codebooks for a coarse quantizer: [[pqCodebooks]] over the
    * corpus's residual relation. Per-JVM cache keyed like the other
    * model caches. */
  private val ivfpqBookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  private def ivfpqBooksFor(s: SparkSession, dir: String,
      cents: Array[Array[Double]]): Array[Array[Array[Double]]] =
    ivfpqBookCache.computeIfAbsent(s"$dir#${corpusFingerprint(s, dir)}",
      _ => pqCodebooks(residualsOf(emb(s, dir), cents)))

  /** Build a composed IVF-PQ view over `corpus` under freshly-trained
    * models; returns (centroids, residual codebooks, base RESIDUAL
    * reconstruction error) — the [[pqIncBuild]] shape for the composed
    * index. The error yardstick is measured on residuals, the space the
    * codebooks actually encode. */
  private[graft] def ivfpqIncBuild(store: BucketedViewStore, unit: String,
      corpus: DataFrame): (Array[Array[Double]], Array[Array[Array[Double]]], Double) = {
    val cents = ivfCentroids(corpus)
    val books = pqCodebooks(residualsOf(corpus, cents))
    store.materialize(ivfpqIdxNamed(unit, cents, books), corpus)
    (cents, books, pqMeanSqError(residualsOf(corpus, cents), books))
  }

  /** The composed IVF-PQ change-batch gate, factored for direct testing
    * (the [[pqApplyBatch]] shape, both model families at once): apply one
    * corpus batch to a stored composed view. Re-fit BOTH tiers +
    * re-materialize (through the store's full-retraction rebuild — CDC
    * stays contiguous) iff the batch trips EITHER staleness gate — the
    * IVF drift bound ([[RefitDriftBound]] of `corpusSize`) or the
    * codebook reconstruction-error gate ([[PqRefitErrFactor]] × recorded
    * base error); otherwise the ordinary O(delta) refresh re-cells and
    * re-encodes only the changed vectors under the stored models. Returns
    * the (cents, books, baseErr) the view now serves with. */
  private[graft] def ivfpqApplyBatch(store: BucketedViewStore, unit: String,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      baseErr: Double, ups: DataFrame, dels: Option[DataFrame],
      corpusAfter: => DataFrame, corpusSize: Long)
      : (Array[Array[Double]], Array[Array[Array[Double]]], Double) = {
    val changed = ups.count() + dels.map(_.count()).getOrElse(0L)
    // the codebook gate measures the batch in RESIDUAL space under the
    // STORED models — the quantity the stored codes actually encode —
    // against the composed factor (see [[IvfPqRefitErrFactor]]: training
    // error understates held-out residual error by the books' ≈2×
    // generalization gap)
    if (changed > corpusSize * RefitDriftBound ||
        (baseErr > 0 &&
          pqMeanSqError(residualsOf(ups, cents), books) > IvfPqRefitErrFactor * baseErr)) {
      val m = corpusAfter
      val refitC = ivfCentroids(m)
      val refitB = pqCodebooks(residualsOf(m, refitC))
      store.materialize(ivfpqIdxNamed(unit, refitC, refitB), m)
      (refitC, refitB, pqMeanSqError(residualsOf(m, refitC), refitB))
    } else {
      store.refresh(ivfpqIdxNamed(unit, cents, books), ups, dels)
      (cents, books, baseErr)
    }
  }

  /** Build the persisted IVF-PQ view on the ORIGINAL corpus, then push the
    * shared change batch through its refresh path. Staleness gate = the
    * IVF drift bound (a batch above [[RefitDriftBound]] of the corpus
    * re-fits BOTH tiers and re-materializes through the store's
    * full-retraction rebuild); below it only changed vectors re-cell and
    * re-encode. Model rows persist as 64-dim centroid rows ++ 8-dim
    * codebook rows (m-major, k-minor) — the row LENGTH separates the two
    * families on reopen. */
  private def ivfpqCellsView(
      s: SparkSession, dir: String): (BucketedViewStore, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val store = Views.bucketedStore(s, dir)
    val unit = "emb_ivfpq_cells"
    Views.unit(store.baseDir, unit) {
      VectorFunctions.register(s)
      val (cents, books) = readIvfpqModel(store, unit)
      (store, cents, books)
    } {
      val e = emb(s, dir)
      val cents = ivfCentroidsFor(s, dir)
      val books = ivfpqBooksFor(s, dir, cents)
      val baseErr = pqMeanSqError(residualsOf(e, cents), books)
      store.materialize(ivfpqIdx(cents, books), e)
      val (ups, dels) = embChangeBatch(e)
      // BOTH staleness gates compose in [[ivfpqApplyBatch]]: the IVF
      // drift bound AND the codebook reconstruction-error gate (the PQ
      // analog of the SQ clamp gate); either firing re-fits both model
      // families and re-materializes through the store's
      // full-retraction rebuild (CDC stays contiguous)
      val (servedC, servedB, _) = ivfpqApplyBatch(store, unit,
        cents, books, baseErr, ups, Some(dels), modifiedEmb(s, dir), e.count())
      Views.writeModel(store.baseDir, unit,
        servedC.map(_.toSeq).toSeq ++ servedB.flatten.map(_.toSeq).toSeq)
      (store, servedC, servedB)
    }
  }

  /** The SECOND deterministic corpus change batch, applied on top of
    * [[embChangeBatch]]'s result (`m1` = the once-modified corpus):
    * `%31` survivors rewritten to the reversal OF THEIR CURRENT vector
    * (a `%37∧%31` vector reverses back to its original — the oracle's
    * XOR), `%29` survivors tombstoned. Returns (upserts, deleteKeys). */
  private def embChangeBatch2(m1: DataFrame): (DataFrame, DataFrame) = (
    m1.filter(col("vec_id") % 31 === 0 && col("vec_id") % 29 =!= 0)
      .withColumn("v", reverse(col("v"))),
    m1.filter(col("vec_id") % 29 === 0)
      .select(col("vec_id").cast("string").as("src_key")).distinct())

  /** The embeddings corpus after BOTH change batches — ground truth for
    * the multi-epoch incremental query: alive iff neither `%41` (batch 1)
    * nor `%29` (batch 2) divides, reversed iff EXACTLY ONE of `%37`
    * (batch 1) / `%31` (batch 2) divides (two reversals compose to the
    * identity). */
  private def modifiedEmb2(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .filter(col("vec_id") % 41 =!= 0 && col("vec_id") % 29 =!= 0)
      .withColumn("v",
        when((col("vec_id") % 37 === 0) =!= (col("vec_id") % 31 === 0),
          reverse(col("v"))).otherwise(col("v")))

  /** The multi-epoch maintenance gate for the composed index: build the
    * view on the ORIGINAL corpus (epoch 0), then push TWO successive
    * change batches through [[ivfpqApplyBatch]] (epochs 1 and 2). Both
    * fixtures are norm-preserving reversals, so both take the O(delta)
    * refresh arm — what this isolates beyond `sim_ivfpq_topk` is that
    * the refresh path COMPOSES: epoch 2's delete-then-insert runs against
    * state epoch 1 wrote, under the build-time model both epochs encode
    * with, and the CDC feed stays one contiguous history. A separate
    * store unit from [[ivfpqCellsView]] so the single-batch queries keep
    * their epoch arithmetic. */
  private def ivfpqIncView(
      s: SparkSession, dir: String): (BucketedViewStore, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val store = Views.bucketedStore(s, dir)
    val unit = "emb_ivfpq_inc"
    Views.unit(store.baseDir, unit) {
      VectorFunctions.register(s)
      val (cents, books) = readIvfpqModel(store, unit)
      (store, cents, books)
    } {
      val e = emb(s, dir)
      val cents = ivfCentroidsFor(s, dir)
      val books = ivfpqBooksFor(s, dir, cents)
      val baseErr = pqMeanSqError(residualsOf(e, cents), books)
      store.materialize(ivfpqIdxNamed(unit, cents, books), e)
      val (ups1, dels1) = embChangeBatch(e)
      val (c1, b1, err1) = ivfpqApplyBatch(store, unit,
        cents, books, baseErr, ups1, Some(dels1), modifiedEmb(s, dir), e.count())
      val m1 = modifiedEmb(s, dir)
      val (ups2, dels2) = embChangeBatch2(m1)
      val (c2, b2, _) = ivfpqApplyBatch(store, unit,
        c1, b1, err1, ups2, Some(dels2), modifiedEmb2(s, dir), m1.count())
      Views.writeModel(store.baseDir, unit,
        c2.map(_.toSeq).toSeq ++ b2.flatten.map(_.toSeq).toSeq)
      (store, c2, b2)
    }
  }

  /** IVF-PQ search from the twice-maintained view — the serving path
    * behind `sim_ivfpq_incremental`, graded against exact top-k on the
    * TWICE-modified corpus. */
  def ivfpqTopKIncremental(s: SparkSession, dir: String): DataFrame = {
    val (store, cents, books) = ivfpqIncView(s, dir)
    ivfpqSearchStored(store.df("emb_ivfpq_inc"), modifiedEmb2(s, dir), cents, books)
  }

  /** IVF-PQ search from the PERSISTED composed index: nProbe cell ids
    * prune the stored scan (pushed In-filter, model-sized), candidate
    * scoring reads M-BYTE codes via the probe's precomputed ADC table
    * (`pq_adc` — no float vector exists in the view), and the top
    * K·PqRefine refine set exact-reranks against the float corpus. */
  def ivfpqTopKFromView(s: SparkSession, dir: String): DataFrame = {
    val (store, cents, books) = ivfpqCellsView(s, dir)
    ivfpqSearchStored(store.df("emb_ivfpq_cells"), modifiedEmb(s, dir), cents, books)
  }

  /** The IVF-PQ view served AS OF its pre-batch epoch — time travel on
    * the composed index ([[lshTopKAsOf]]'s pattern): the epoch `e-1`
    * cells were assigned/encoded under the BUILD-time model, and the
    * fixture's change batch takes the refresh arm (neither gate fires),
    * so the served model IS that build-time model — the historical probe
    * is consistent by construction. (A batch that re-fit would need the
    * pre-refit model persisted per epoch to probe history — the store
    * keeps the epochs; versioning the model rows alongside is the
    * production spelling.) Must reproduce the ORIGINAL corpus's ground
    * truth. */
  def ivfpqTopKAsOf(s: SparkSession, dir: String): DataFrame = {
    val (store, cents, books) = ivfpqCellsView(s, dir)
    val e = store.epoch("emb_ivfpq_cells")
    ivfpqSearchStored(store.dfAsOf("emb_ivfpq_cells", e - 1), emb(s, dir), cents, books)
  }

  /** The IVF-PQ search core shared by the live and as-of serving paths:
    * nProbe cell ids prune the stored scan (pushed In-filter,
    * model-sized), residual-ADC scoring over stored M-byte codes —
    * `(dot(p, cent_cell) + adc(codes, lut_p)) / qn`, the coarse term
    * computed once per (probe, probed cell) — exact rerank against
    * `corpus`. */
  private def ivfpqSearchStored(stored: DataFrame, corpus: DataFrame,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]]): DataFrame = {
    val nProbe = ivfpqProbesFor(cents.length)
    val probes = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("lut", pqLutExpr(books, col("pv")))
    val probeCells = probes
      .withColumn("cid0", explode(probeCellsCol(cents, nProbe, col("pv"))))
      .withColumn("pc", VectorFunctions.cellDot(col("pv"), col("cid0"), cents))
      .withColumn("cid", col("cid0").cast("string"))
      .select("probe_id", "cid", "lut", "pc")
    val cellIds = probeCells.select("cid").distinct()
      .collect().map(_.getString(0)).toSeq
    val qcells = stored
      .filter(col("emit_key").isInCollection(cellIds))
      .select(col("emit_key").as("cid"), col("emit_value.vec_id").as("vec_id"),
        col("emit_value.codes").as("codes"), col("emit_value.qn").as("qn"))
      .filter(col("qn") > 0)
    // a vector lives in exactly one cell — no candidate dedupe needed
    val approx = qcells.join(broadcast(probeCells), Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adc",
        (col("pc") + call_function("pq_adc", col("codes"), col("lut"),
          lit(books(0).length))) / col("qn"))
    val w = Window.partitionBy("probe_id").orderBy(col("adc").desc, col("vec_id"))
    val cands = approx.withColumn("r", row_number().over(w))
      .filter(col("r") <= K * PqRefine)
      .select("probe_id", "vec_id")
    val scored = cands
      .join(corpus.select(col("vec_id"), col("v"), col("norm")), Seq("vec_id"))
      .join(broadcast(probes.select("probe_id", "pv", "pn")), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    rankTopK(scored)
  }

  /** The BULK-probe spelling of [[ivfpqTopKFromView]] — the IVF-PQ twin
    * of the bulk contract: cell prune via shuffle semi-join (no driver
    * In-list), ADC scoring over stored M-byte codes with the probe's
    * table carried through the equi-join (no broadcast), and both the
    * refine cut and the exact final rank through the bounded-heap
    * `topk_by` aggregate (no windows). The plan a data-sized probe batch
    * runs: cost scales with probe volume × probed cell mass ÷ 64×
    * compression. */
  def ivfpqTopKBulk(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Sketches.register(s)
    val (store, cents, books) = ivfpqCellsView(s, dir)
    val nProbe = ivfpqProbesFor(cents.length)
    val m = modifiedEmb(s, dir)
    val probes = m.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("lut", pqLutExpr(books, col("pv")))
    val probeCells = probes
      .withColumn("cid0", explode(probeCellsCol(cents, nProbe, col("pv"))))
      .withColumn("pc", VectorFunctions.cellDot(col("pv"), col("cid0"), cents))
      .withColumn("cid", col("cid0").cast("string"))
      .select("probe_id", "cid", "lut", "pc")
    val qcells = store.df("emb_ivfpq_cells")
      .select(col("emit_key").as("cid"), col("emit_value.vec_id").as("vec_id"),
        col("emit_value.codes").as("codes"), col("emit_value.qn").as("qn"))
      .filter(col("qn") > 0)
      .join(probeCells.select("cid").distinct().hint("shuffle_hash"),
        Seq("cid"), "left_semi")
    val approx = qcells.join(probeCells.hint("shuffle_hash"), Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adc",
        (col("pc") + call_function("pq_adc", col("codes"), col("lut"),
          lit(books(0).length))) / col("qn"))
    val cands = approx.groupBy("probe_id")
      .agg(expr(s"topk_by(adc, vec_id, ${K * PqRefine})").as("top"))
      .select(col("probe_id"), explode(expr("transform(top, t -> t.id)")).as("vec_id"))
    val scored = cands
      .join(m.select(col("vec_id"), col("v"), col("norm")).hint("shuffle_hash"), Seq("vec_id"))
      .join(probes.select("probe_id", "pv", "pn").hint("shuffle_hash"), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    scored.groupBy("probe_id")
      .agg(expr(s"topk_by(cos, neighbor_id, $K)").as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("r0", "t")))
      .select(col("probe_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cos"), (col("r0") + 1).cast("long").as("rank"))
      .orderBy("probe_id", "rank")
  }

  private val SqViewName = "emb_sq8"

  /** Materialize the SQ8 (symmetric int8) spelling of the corpus ONCE as
    * a stored clustered relation `(vec_id, q, qn)` and return the
    * quantization scale. The scan that generates candidates reads 1-byte
    * components instead of 8-byte doubles — at 100 TB that is the whole
    * point: 4-8× less candidate-scan I/O for the same recall (with exact
    * rerank on the float vectors restoring exact scores). The scale (the
    * corpus max |component|) is ONE driver scalar, the same model-sized
    * cost class as the IVF centroids. */
  private def sqView(s: SparkSession, dir: String): (DataFrame, Double) = {
    val store = Views.store(s, dir)
    val scale = Views.cached(dir, "sqView") {
      // durable reopen: serve the stored codes with their persisted scale
      // (quantizing probes under a re-fit scale would disagree with them)
      Views.readModel(store.baseDir, SqViewName) match {
        case Some(m) if store.latestVersion(SqViewName).isDefined => m.head.head
        case _ =>
          VectorFunctions.register(s)
          val e = emb(s, dir)
          val sc = e.agg(max(expr(
            "aggregate(v, cast(0.0 as double), (m, x) -> greatest(m, abs(x)))")))
            .head().getDouble(0)
          val q = e
            .withColumn("q", call_function("vec_quantize", col("v"), lit(sc)))
            .withColumn("qn", sqrt(call_function("vec_dot_q", col("q"), col("q")).cast("double")))
            // a vector that vanishes under quantization (all |v_i| ≪ scale)
            // has no quantized direction — it can never be a candidate; the
            // refine margin and the recall bound absorb the (empty, here)
            // residue rather than a divide-by-zero
            .filter(col("qn") > 0)
            .select("vec_id", "q", "qn")
          store.writeClustered(SqViewName, q, Seq("vec_id"))
          Views.writeModel(store.baseDir, SqViewName, Seq(Seq(sc)))
          sc
      }
    }
    (store.readLatest(SqViewName), scale)
  }

  /** SQ8 ANN top-k `(probe_id, neighbor_id, cos, rank)`: candidates from
    * an integer-dot scan of the STORED int8 corpus (reads only the
    * 1-byte-per-component columns), exact float rerank on the top
    * `K · SqRefine` per probe. The brute-force shape with a 4-8× smaller
    * scan — the right ANN when recall must be near-exact and the corpus
    * layout can't assume clusterability (SQ8 has no training step to go
    * stale, unlike IVF's quantizer). */
  def sqTopKPairs(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (qcorpus, scale) = sqView(s, dir)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("pq", call_function("vec_quantize", col("pv"), lit(scale)))
      .withColumn("pqn", sqrt(call_function("vec_dot_q", col("pq"), col("pq")).cast("double")))
      .filter(col("pqn") > 0)
    val approx = qcorpus
      .join(broadcast(probes.select("probe_id", "pq", "pqn")),
        col("vec_id") =!= col("probe_id"))
      .withColumn("qcos",
        call_function("vec_dot_q", col("pq"), col("q")).cast("double") / (col("pqn") * col("qn")))
    val w = Window.partitionBy("probe_id").orderBy(col("qcos").desc, col("vec_id"))
    val cands = approx.withColumn("r", row_number().over(w))
      .filter(col("r") <= K * SqRefine)
      .select("probe_id", "vec_id")
    val scored = cands
      .join(e.select(col("vec_id"), col("v"), col("norm")), Seq("vec_id"))
      .join(broadcast(probes.select("probe_id", "pv", "pn")), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    rankTopK(scored)
  }

  /** The BULK-probe spelling of [[lshTopKFromView]] — the variant its
    * Scaladoc promises for probe batches too large for an In-list or a
    * probe broadcast. NOTHING moves to the driver: the stored bands are
    * pruned by a left-semi join against the probe band-key set, and
    * candidates come from a shuffle equi-join on the band key (hinted
    * SHUFFLE_HASH so a small test batch exercises the same physical
    * shape a 10⁶-probe batch would get), so cost scales with probe
    * volume and collision-list size, never with an In-list length.
    * Trade vs the model-sized path: the stored-band scan is pruned by a
    * runtime semi-join instead of a pushed parquet filter — the right
    * trade exactly when the probe batch is itself data-sized. Both paths
    * read the same maintained view, so their results are identical. */
  def lshTopKBulk(s: SparkSession, dir: String): DataFrame = {
    val store = lshBandsView(s, dir)
    val probes = modifiedEmb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
    val probeBands = probes
      .select(col("probe_id"), col("pv"), col("pn"),
        posexplode(expr("hyperplane_bands(pv)")).as(Seq("band", "bv")))
      .withColumn("bkey", concat(col("band").cast("string"), lit(":"), col("bv").cast("string")))
      .drop("band", "bv")
    val stored = store.df(lshIdx.name)
      .select(col("emit_key").as("bkey"), col("emit_value.vec_id").as("neighbor_id"),
        col("emit_value.v").as("v"), col("emit_value.norm").as("norm"))
      .join(probeBands.select("bkey").distinct().hint("shuffle_hash"), Seq("bkey"), "left_semi")
    val candIds = stored
      .join(probeBands.select("probe_id", "bkey").hint("shuffle_hash"), Seq("bkey"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select("probe_id", "neighbor_id").distinct()
    val scored = candIds
      .join(stored.select(col("neighbor_id"), col("v"), col("norm")).distinct()
        .hint("shuffle_hash"), Seq("neighbor_id"))
      .join(probes.hint("shuffle_hash"), Seq("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("neighbor_id"), col("cos"))
    rankTopK(scored)
  }

  /** IVF ANN top-k served from the PERSISTED, incrementally-maintained
    * cell view (vs [[ivfTopKPairs]]'s per-session assignment). The probed
    * cell ids are collected to the driver — bounded by the cell count
    * (nProbe·probes cells — model-sized like the centroids) — so the
    * resulting In-filter is PUSHED to the stored cells' parquet scan and
    * the search reads only the probed posting lists, not the corpus. */
  def ivfTopKFromView(s: SparkSession, dir: String): DataFrame = {
    val (store, cents) = ivfCellsView(s, dir)
    ivfSearchStored(store.df(ivfIdx(cents).name), modifiedEmb(s, dir), cents)
  }

  /** The float-IVF search core shared by the maintained, streaming-built
    * and compacted serving paths: probe cell selection under the stored
    * model, driver In-list cell prune (model-sized — the bulk spelling
    * is [[ivfTopKBulk]]), exact cosine within the probed cells.
    * `probeBoost` widens the probe set for models trained on a SAMPLE of
    * the corpus (the streaming ingest fit): sample-trained centroids
    * carry higher assignment variance at cell boundaries, and the
    * standard remedy is more probes — a constant factor, so the scanned
    * fraction still shrinks as n^(-1/4). */
  private def ivfSearchStored(stored: DataFrame, corpus: DataFrame,
      cents: Array[Array[Double]], probeBoost: Int = 1): DataFrame = {
    val nProbe = math.min(cents.length, probesFor(cents.length) * probeBoost)
    val probesWithCells = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("cid0", explode(probeCellsCol(cents, nProbe, col("pv"))))
      .withColumn("cid", col("cid0").cast("string"))
      .drop("cid0")
    val cellIds = probesWithCells.select("cid").distinct()
      .collect().map(_.getString(0)).toSeq
    val cells = stored
      .filter(col("emit_key").isInCollection(cellIds))
      .select(col("emit_key").as("cid"), col("emit_value.vec_id").as("vec_id"),
        col("emit_value.v").as("v"), col("emit_value.norm").as("norm"))
    val cand = cells.join(broadcast(probesWithCells), Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    rankTopK(cand)
  }

  /** The [[ivfCellsView]] history with a COMPACTION epoch on top — the
    * ANN twin of the pair store's `dedup_pairs_compacted` gate: build
    * (epoch 0) → change-batch refresh (epoch 1) → `compact` (epoch 2 —
    * bin-packs each bucket's accreted delta fragments into one file per
    * bucket and contributes NO CDC rows). A long-lived index accreting
    * daily deltas degrades into many small files per bucket without
    * this; serving afterwards must observe nothing but faster scans. */
  private def ivfCmpView(s: SparkSession, dir: String): (BucketedViewStore, Array[Array[Double]]) = {
    val store = Views.bucketedStore(s, dir)
    val unit = "emb_ivf_cmp"
    Views.unit(store.baseDir, unit) {
      VectorFunctions.register(s)
      (store, readCentroids(store, unit))
    } {
      val e = emb(s, dir)
      val cents = ivfCentroidsFor(s, dir)
      val idx = MapIndex.columns(unit)(
        col("vec_id").cast("string"),
        array(emit(assignExpr(cents).cast("string"),
          struct(col("vec_id"), col("v"), col("norm")))))
      store.materialize(idx, e)
      val (ups, dels) = embChangeBatch(e)
      store.refresh(idx, ups, Some(dels))
      // maxFilesPerBucket = 0 forces every live bucket through the
      // fold (this fixture's buckets are single-file already; the gate
      // is about the epoch semantics, not the file counts)
      store.compact(unit, maxFilesPerBucket = 0)
      Views.writeModel(store.baseDir, unit, cents.map(_.toSeq).toSeq)
      (store, cents)
    }
  }

  /** IVF ANN served from the COMPACTED store — the serving path behind
    * `sim_ivf_compacted`. */
  def ivfTopKCompacted(s: SparkSession, dir: String): DataFrame = {
    val (store, cents) = ivfCmpView(s, dir)
    ivfSearchStored(store.df("emb_ivf_cmp"), modifiedEmb(s, dir), cents)
  }

  /** The BULK-probe spelling of [[ivfTopKFromView]] — same contract as
    * [[lshTopKBulk]]: no driver cell-id In-list, no probe broadcast. The
    * stored cells are pruned by a semi-join against the probe batch's
    * cell set and candidates come from a shuffle equi-join on the cell
    * id, so the plan scales with probe volume and probed-cell mass. */
  def ivfTopKBulk(s: SparkSession, dir: String): DataFrame = {
    val (store, cents) = ivfCellsView(s, dir)
    val nProbe = probesFor(cents.length)
    val probesWithCells = modifiedEmb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("cid0", explode(probeCellsCol(cents, nProbe, col("pv"))))
      .withColumn("cid", col("cid0").cast("string"))
      .drop("cid0")
    val corpus = store.df(ivfIdx(cents).name)
      .select(col("emit_key").as("cid"), col("emit_value.vec_id").as("vec_id"),
        col("emit_value.v").as("v"), col("emit_value.norm").as("norm"))
      .join(probesWithCells.select("cid").distinct().hint("shuffle_hash"),
        Seq("cid"), "left_semi")
    val cand = corpus
      .join(probesWithCells.hint("shuffle_hash"), Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    rankTopK(cand)
  }

  /** IVF ANN top-k `(probe_id, neighbor_id, cos, rank)`: corpus vectors
    * are bucketed by nearest centroid; a probe scans only its NProbe
    * nearest cells, then exact cosine ranks the candidates. The
    * user-facing API behind the `sim_ivf_topk` recall-invariant query. */
  def ivfTopKPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.typedlit
    val e = emb(s, dir)
    val cents = ivfCentroidsFor(s, dir)
    val corpus = e.withColumn("cid", assignExpr(cents))
      .select(col("vec_id"), col("v"), col("norm"), col("cid"))
    // probe side: rank cells with the SAME scoring loop as corpus
    // assignment (nearest_cells), keep the √nCells nearest, one row per
    // (probe, cell)
    val nProbe = probesFor(cents.length)
    val probesWithCells = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      .withColumn("cid", explode(probeCellsCol(cents, nProbe, col("pv"))))
    val cand = corpus.join(broadcast(probesWithCells), Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      // no distinct needed: a corpus vector lives in exactly one cell, so
      // each (probe, neighbor) pair joins at most once
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    rankTopK(cand)
  }

  /** IVF-tier hard-negative mining: candidates from the probe's nProbe
    * nearest cells (the same coarse-quantizer prune as [[ivfTopKPairs]]),
    * with the cross-label exclusion applied to the candidate stream
    * BEFORE the exact scoring/top-k — the ANN-tier composition
    * `sim_hard_negatives` documents. At mining scale (every training
    * example a probe) the same filter drops into the bulk plans
    * unchanged, because it is a per-candidate predicate, not a
    * post-selection pass. */
  def hardNegativesIvfPairs(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val lab = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val el = e.join(lab, Seq("vec_id"))
    val cents = ivfCentroidsFor(s, dir)
    val corpus = el.withColumn("cid", assignExpr(cents))
      .select(col("vec_id"), col("v"), col("norm"), col("label"), col("cid"))
    val nProbe = probesFor(cents.length)
    val probesWithCells = el.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("norm").as("pn"), col("label").as("plabel"))
      .withColumn("cid", explode(probeCellsCol(cents, nProbe, col("pv"))))
    val cand = corpus.join(broadcast(probesWithCells), Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id") && col("label") =!= col("plabel"))
      .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
    rankTopK(cand)
  }

  /** Drop every per-JVM cache — lets a spec simulate a fresh process
    * against a durable store root (the reuse path is disk-gated). */
  private[graft] def resetCachesForTest(): Unit = {
    centroidCache.clear(); pqBookCache.clear()
  }

  /** recall bounds asserted by the invariant queries below — measured at
    * sf0.001/0.01/0.1: ANN top-k 0.68/0.62/0.60; embedding near-dup
    * sample 0.85/0.83/0.65 (synthetic corpus has only moderate
    * similarities, where hyperplane collision probability 1-θ/π is
    * weakest; real near-dup corpora sit near cos 1.0 where it → 1).
    * Bounds sit well under the measured minima because both series
    * decline with corpus size — promises about this corpus family at
    * tested scales, re-measured if the corpus changes. */
  private val AnnRecallBound = 0.4
  private val EmbSampleRecallBound = 0.45
  /** `dedup_semantic` co-cell recall floor: measured 0.46/0.42/0.85 at
    * sf0.001/0.01/0.1 on the RANDOM synthetic vectors (τ = 0.4 pairs
    * co-cluster far less reliably than the ≥ 0.9 near-copies SemDeDup
    * targets in practice), and 0.50/0.42/0.82 for the incremental twin
    * served from the maintained cell view over the modified corpus;
    * bounded at 0.25 with margin for FP-drift cell-boundary flips in
    * the deterministic-up-to-summation-order quantizer. */
  private val SemRecallBound = 0.25
  /** IVF measured recall 0.90/0.94/0.88 at sf0.001/0.01/0.1 (√n cells,
    * √nCells probes — 5/22, 5/22, 7/45 cells scanned) — ≤23% of the
    * corpus scanned finds ~90% of exact top-5 even on weakly-clustered
    * random vectors, and the scanned fraction keeps SHRINKING as n grows
    * (n^(-1/4)); real embedding corpora cluster far harder. */
  private val IvfRecallBound = 0.7
  /** SQ8 measured recall 1.0 at sf0.001/0.01/0.1: int8 rounding on
    * 64-dim vectors perturbs cosine order far less than the K·SqRefine
    * refine margin — the conservative bound still leaves room for an
    * adversarially flat corpus. */
  private val SqRecallBound = 0.9
  /** PQ measured recall at sf0.001/0.01/0.1 ([[pqMeasuredRecall]], r15
    * geometry — corpus-scaled ks ([[pqKsFor]]: 62/62/64 at these sf),
    * K·16 refine, and DOUBLED probes on the composed index only
    * ([[ivfpqProbesFor]] = 2·√nCells)): flat 0.98/1.00/0.86, maintained
    * view 0.98/1.00/0.89, composed IVF-PQ 0.98/0.96/0.96 (view and bulk
    * agree; residual-encoded — IVFADC; raw-code IVF-PQ measured 0.82 at
    * sf0.1). The probe doubling is what lifted the composed index past
    * its coarse tier's single-√nCells cell-recall ceiling (r14 measured
    * 0.89/0.91/0.87 there): the union of 2√nCells cells recovers the
    * neighbors a single-tier probe set misses, and the scanned mass is
    * M-byte codes, 64× below the float tier, so the doubled probe I/O
    * still undercuts √nCells float probes. (The r13 geometry — Ks=16,
    * K·8 refine — measured 0.76/0.66/0.58 and 0.87/0.78/0.64; the
    * 16-centroid cap was the plan-size bound of the literal-expression
    * LUT, lifted by the reference-object
    * [[graft.functions.VectorFunctions.PqLut]].) Random synthetic
    * vectors remain the adversarial case for an 8-byte code — clustered
    * real embeddings reconstruct better. Bounds sit under the measured
    * minima with margin, same promise-about-this-corpus-family stance
    * as [[AnnRecallBound]]. */
  private val PqRecallBound = 0.7
  private val IvfPqRecallBound = 0.85
  /** brute-force ground truth inside the dedup_embedding invariant is
    * restricted to pairs touching vec_id < this (full brute is O(n²)). */
  private val SampleVecs = 50

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // per-label corpus health stats for an embedding table: vector counts
    // and the L2-norm envelope (min/max only — no cross-row float sums, so
    // the oracle compare is exact; per-row norm math is deterministic in
    // both engines). Scan-local + one partial-aggregated groupBy
    "embed_label_stats" -> ((s, dir) => {
      VectorFunctions.register(s)
      Tables.embeddings(s, dir)
        .select(col("label").cast("long").as("label"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("norm", sqrt(expr("vec_dot(v, v)")))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(min("norm"), 6).as("min_norm"),
          round(max("norm"), 6).as("max_norm"),
          min(size(col("v"))).cast("long").as("dim"))
        .orderBy("label")
    }),

    // exact cosine top-k: broadcast probes against the corpus scan
    "sim_brute_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val scored = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
      rankTopK(scored)
    }),

    // SemDeDup-style semantic dedup (public recipe: cluster the corpus
    // with k-means, then dedup QUADRATICALLY only WITHIN each cluster —
    // the cluster granularity k ∝ n keeps per-cell populations bounded,
    // so the pairwise scan is O(n · cell_size), never O(n²) corpus-wide).
    // Cells come from the SAME deterministic Lloyd quantizer the IVF
    // tier serves; within-cell pairs verify by exact cosine (a removal
    // pass composes downstream exactly like dedup_embedding's: feed the
    // pair set to the components labeling + keeper selection the
    // pipeline_dedup_removal chain already exercises). The invariant follows
    // dedup_embedding: the oracle recomputes the exact corpus-wide
    // sample pair set (every cos ≥ τ pair anchored on a sample vector),
    // and recall_ok asserts the within-cell scan captured ≥
    // SemRecallBound of them — on THIS synthetic corpus the vectors are
    // random, so τ = 0.4 pairs co-cluster far less reliably than the
    // ≥ 0.9 near-copies SemDeDup targets in practice; the bound is
    // calibrated to the measured floor across SFs with margin.
    // cluster-balanced DIVERSITY sampling (the curation op next to
    // SemDeDup in the published pipelines: cap each semantic cluster's
    // contribution so dominant modes don't swamp the mix): keep at most
    // M vectors per cell of the MAINTAINED IVF cell view, chosen by a
    // deterministic per-vector hash through the bounded-heap `topk_by`
    // aggregate — per-cell work is one heap of M, no window sort, and
    // the scan is the stored cell relation (no corpus re-clustering).
    // Cells are engine-defined (k-means), so the gate is the invariant
    // pattern: the corpus total is oracle-exact, the cap and the
    // Σ min(cell_size, M) keep-count identity are asserted booleans.
    "sample_cluster_balance" -> ((s, dir) => {
      graft.functions.Sketches.register(s)
      val (store, _) = ivfCellsView(s, dir)
      val m = 8
      val kept = store.df("emb_ivf_cells")
        .select(col("emit_key").as("cid"), col("emit_value.vec_id").as("vec_id"))
        .withColumn("score", xxhash64(col("vec_id")).cast("double"))
        .groupBy("cid")
        .agg(count(lit(1)).as("cell_n"), expr(s"topk_by(score, vec_id, $m)").as("top"))
        .select(col("cid"), col("cell_n"), size(col("top")).cast("long").as("kept_n"))
      kept.agg(
        sum("cell_n").cast("long").as("n_vecs"),
        (max(col("kept_n")) <= m).as("cap_ok"),
        (sum(col("kept_n")) === sum(least(col("cell_n"), lit(m.toLong))))
          .as("kept_exact_ok"))
    }),

    "dedup_semantic" -> ((s, dir) => {
      val e = emb(s, dir)
      val within = semanticDupPairs(s, dir).select("i", "j")
      val sample = e.filter(col("vec_id") < SampleVecs)
        .select(col("vec_id").as("a"), col("v").as("va"), col("norm").as("na"))
        .join(e.select(col("vec_id").as("b"), col("v").as("vb"), col("norm").as("nb")),
          col("a") =!= col("b"))
        .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
        .filter(col("cos") >= EmbDupThreshold)
        .select(least(col("a"), col("b")).as("i"), greatest(col("a"), col("b")).as("j"))
        .distinct()
      val found = within.withColumn("f", lit(1L))
      sample.join(found, Seq("i", "j"), "left_outer")
        .agg(count(lit(1)).as("n_sample_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_sample_pairs"),
          (col("nf") >= col("n_sample_pairs") * lit(SemRecallBound)).as("recall_ok"))
    }),

    // the same semantic dedup served from the MAINTAINED IVF cell view
    // after the corpus change batch: the within-cell scan reads the
    // stored posting lists (which the engine refreshed O(delta) — moved
    // vectors re-celled, tombstoned ones dropped), so the dedup pass
    // needs no assignment recompute at all; the oracle recomputes the
    // exact sample pair set over the MODIFIED corpus, so a stale cell
    // (a reversed vector still serving its old posting list) shifts the
    // co-cell pair set and recall against the fresh ground truth
    "dedup_semantic_incremental" -> ((s, dir) => {
      val (store, _) = ivfCellsView(s, dir)
      val cellsDf = store.df("emb_ivf_cells")
        .select(col("emit_key").as("cell"), col("emit_value.vec_id").as("vec_id"),
          col("emit_value.v").as("v"), col("emit_value.norm").as("norm"))
      val a = cellsDf.select(col("cell"), col("vec_id").as("i"),
        col("v").as("vi"), col("norm").as("ni"))
      val b = cellsDf.select(col("cell"), col("vec_id").as("j"),
        col("v").as("vj"), col("norm").as("nj"))
      val within = a.join(b, Seq("cell")).filter(col("i") < col("j"))
        .withColumn("cos", round(dot(col("vi"), col("vj")) / (col("ni") * col("nj")), 6))
        .filter(col("cos") >= EmbDupThreshold)
        .select("i", "j")
      val m = modifiedEmb(s, dir)
      val sample = m.filter(col("vec_id") < SampleVecs)
        .select(col("vec_id").as("a"), col("v").as("va"), col("norm").as("na"))
        .join(m.select(col("vec_id").as("b"), col("v").as("vb"), col("norm").as("nb")),
          col("a") =!= col("b"))
        .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
        .filter(col("cos") >= EmbDupThreshold)
        .select(least(col("a"), col("b")).as("i"), greatest(col("a"), col("b")).as("j"))
        .distinct()
      val found = within.withColumn("f", lit(1L))
      sample.join(found, Seq("i", "j"), "left_outer")
        .agg(count(lit(1)).as("n_sample_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_sample_pairs"),
          (col("nf") >= col("n_sample_pairs") * lit(SemRecallBound)).as("recall_ok"))
    }),

    // hard-negative mining for contrastive training: for each probe, the
    // top-k nearest CORPUS vectors whose label differs from the probe's —
    // high-similarity cross-label examples, the negatives an embedding /
    // retrieval model trains against. Exact tier (broadcast probes, one
    // corpus scan); the label predicate composes with any ANN tier the
    // same way — it filters candidates BEFORE the exact rerank, so the
    // IVF/LSH bulk plans serve the data-sized-anchor mining run (every
    // training example is a probe) with the same semi-join-prune shape.
    "sim_hard_negatives" -> ((s, dir) => {
      val lab = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val el = emb(s, dir).join(lab, Seq("vec_id"))
      val probes = el.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("norm").as("pn"), col("label").as("plabel"))
      val scored = el.join(broadcast(probes),
          col("vec_id") =!= col("probe_id") && col("label") =!= col("plabel"))
        .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
      rankTopK(scored)
    }),

    // the ANN-tier spelling of hard-negative mining: IVF cell prune +
    // per-candidate label exclusion + exact top-k; graded like the other
    // ANN invariants — the oracle recomputes the exact cross-label
    // ground truth, recall_ok asserts the pruned mine found enough of it
    "sim_hard_negatives_ivf" -> ((s, dir) => {
      val exact = queries("sim_hard_negatives")(s, dir)
        .select("probe_id", "neighbor_id")
      val ivf = hardNegativesIvfPairs(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      exact.join(ivf, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(IvfRecallBound)).as("recall_ok"))
    }),

    // ANN with a driver-checkable invariant: n_probes and n_pairs are
    // recomputed exactly by the DuckDB oracle from the brute-force top-k;
    // recall_ok asserts the banded LSH found ≥ AnnRecallBound of those
    // exact neighbors. Top-k output for users: [[lshTopKPairs]].
    "sim_lsh_topk" -> ((s, dir) => {
      val brute = queries("sim_brute_topk")(s, dir).select("probe_id", "neighbor_id")
      val lsh = lshTopKPairs(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(lsh, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(AnnRecallBound)).as("recall_ok"))
    }),

    // SQ8 (scalar-quantized) ANN under the same invariant: candidates
    // from the stored int8 corpus's integer-dot scan (4-8× less scan
    // I/O than the float relation), exact float rerank on the refine
    // set. Top-k output for users: [[sqTopKPairs]].
    "sim_sq_topk" -> ((s, dir) => {
      val brute = queries("sim_brute_topk")(s, dir).select("probe_id", "neighbor_id")
      val sq = sqTopKPairs(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(sq, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(SqRecallBound)).as("recall_ok"))
    }),

    // IVF ANN with the same invariant pattern as sim_lsh_topk: n_probes
    // and n_pairs oracle-recomputed from the brute-force top-k, recall_ok
    // asserting the cell-probed search found ≥ IvfRecallBound of the
    // exact neighbors. Top-k output for users: [[ivfTopKPairs]].
    "sim_ivf_topk" -> ((s, dir) => {
      val brute = queries("sim_brute_topk")(s, dir).select("probe_id", "neighbor_id")
      val ivf = ivfTopKPairs(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(ivf, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(IvfRecallBound)).as("recall_ok"))
    }),

    // the IVF search served from the PERSISTED index after the corpus
    // change batch went through the incremental refresh path — the oracle
    // recomputes the exact top-k ground truth from the MODIFIED corpus,
    // so a stale index (or a broken reassignment) shows up as lost recall
    // and a hash mismatch on n_probes/n_pairs
    "sim_ivf_incremental" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val ivf = ivfTopKFromView(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(ivf, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(IvfRecallBound)).as("recall_ok"))
    }),

    // the LSH search served from the PERSISTED band index after the same
    // corpus change batch went through its refresh path — the oracle
    // recomputes exact top-k ground truth from the MODIFIED corpus, so a
    // stale band list (a %37 vector still banded at its old position, a
    // %41 vector not retracted) shows up as lost recall / a wrong pair
    "sim_lsh_incremental" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val lsh = lshTopKFromView(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(lsh, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(AnnRecallBound)).as("recall_ok"))
    }),

    // the IVF view probed through the BULK plan ([[ivfTopKBulk]]): no
    // driver In-list, no probe broadcast — graded against the identical
    // modified-corpus ground truth as the model-sized path
    "sim_ivf_bulk" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val ivf = ivfTopKBulk(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(ivf, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(IvfRecallBound)).as("recall_ok"))
    }),

    // the SQ8 search served from the PERSISTED int8 view after the
    // corpus change batch went through its O(delta) refresh path — the
    // oracle recomputes exact top-k from the MODIFIED corpus, so a stale
    // code (a %37 vector still quantized at its old orientation, a %41
    // vector not retracted) shows up as lost recall / a wrong pair
    "sim_sq_incremental" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val sq = sqTopKFromView(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(sq, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(SqRecallBound)).as("recall_ok"))
    }),

    // the maintained band view served AS OF its pre-batch epoch
    // ([[lshTopKAsOf]]): time travel on an ANN index — the historical
    // search must reproduce the ORIGINAL corpus's recall invariant (the
    // same ground truth as sim_lsh_topk), proving the refresh left the
    // prior epoch intact and addressable
    "sim_lsh_asof" -> ((s, dir) => {
      val brute = queries("sim_brute_topk")(s, dir).select("probe_id", "neighbor_id")
      val lsh = lshTopKAsOf(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(lsh, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(AnnRecallBound)).as("recall_ok"))
    }),

    // the band index built PURELY through streaming micro-batches
    // ([[lshTopKStreamed]]): per-batch partition-scoped maintenance must
    // land the same index state the batch path maintains — identical
    // modified-corpus ground truth grades both
    "sim_lsh_streamed" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val lsh = lshTopKStreamed(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(lsh, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(AnnRecallBound)).as("recall_ok"))
    }),

    // the IVF cell view built PURELY through streaming micro-batches
    // ([[ivfTopKStreamed]]): per-batch partition-scoped maintenance under
    // a once-trained quantizer must land the same index state the batch
    // path maintains — identical modified-corpus ground truth grades both
    "sim_ivf_streamed" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val ivf = ivfTopKStreamed(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(ivf, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(IvfRecallBound)).as("recall_ok"))
    }),

    // the maintained cell view with a COMPACTION epoch on top
    // ([[ivfTopKCompacted]]): bin-packing each bucket's accreted delta
    // fragments must be invisible to the search — same modified-corpus
    // ground truth as sim_ivf_incremental (the spec asserts the
    // empty-sidecar epoch and file-count collapse; this gates serving)
    "sim_ivf_compacted" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val ivf = ivfTopKCompacted(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(ivf, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(IvfRecallBound)).as("recall_ok"))
    }),

    // the composed IVF-SQ8 index ([[ivfsqTopKFromView]]): cell-pruned
    // scan over stored int8 codes + exact rerank, after the corpus
    // change batch went through the view's refresh path — same
    // modified-corpus exact-top-k ground truth as sim_ivf_incremental,
    // so a stale cell, a stale code, or a broken composition is lost
    // recall / a wrong pair
    "sim_ivfsq_topk" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val ivfsq = ivfsqTopKFromView(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(ivfsq, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(IvfRecallBound)).as("recall_ok"))
    }),

    // the composed index probed through the BULK plan ([[ivfsqTopKBulk]]):
    // shuffle semi-join cell prune over int8 codes, bounded-heap
    // selection, nothing broadcast — graded against the identical
    // modified-corpus ground truth as the model-sized composed path
    "sim_ivfsq_bulk" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val ivfsq = ivfsqTopKBulk(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(ivfsq, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(IvfRecallBound)).as("recall_ok"))
    }),

    // flat product quantization ([[pqTopKPairs]]): 8-byte codes, ADC
    // table scoring, exact rerank of the K·PqRefine refine set — graded
    // as a recall invariant against the exact base-corpus top-k
    "sim_pq_topk" -> ((s, dir) => {
      val brute = queries("sim_brute_topk")(s, dir).select("probe_id", "neighbor_id")
      val pq = pqTopKPairs(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(pq, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(PqRecallBound)).as("recall_ok"))
    }),

    // the flat-PQ corpus served from its PERSISTED, incrementally-
    // maintained code view ([[pqTopKFromView]]) after the change batch
    // went through the codebook-gated refresh path — the oracle
    // recomputes exact top-k from the MODIFIED corpus, so a stale code
    // (a reversed vector still encoded at its old orientation, a
    // tombstoned one not retracted) is lost recall / a wrong pair
    "sim_pq_incremental" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val pq = pqTopKFromView(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(pq, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(PqRecallBound)).as("recall_ok"))
    }),

    // the maintained flat-PQ view probed through the BULK plan
    // ([[pqTopKBulk]]): shuffle-replicated ADC scan over stored M-byte
    // codes, bounded-heap selection, nothing broadcast — identical
    // modified-corpus ground truth as the model-sized path
    "sim_pq_bulk" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val pq = pqTopKBulk(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(pq, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(PqRecallBound)).as("recall_ok"))
    }),

    // the composed IVF-PQ index served AS OF its pre-batch epoch
    // ([[ivfpqTopKAsOf]]): time travel on the composed index must
    // reproduce the ORIGINAL corpus's recall invariant, proving the
    // refresh left the prior epoch intact and addressable
    "sim_ivfpq_asof" -> ((s, dir) => {
      val brute = queries("sim_brute_topk")(s, dir).select("probe_id", "neighbor_id")
      val ivfpq = ivfpqTopKAsOf(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(ivfpq, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(IvfPqRecallBound)).as("recall_ok"))
    }),

    // the composed IVF-PQ index ([[ivfpqTopKFromView]]): cell-pruned scan
    // over stored 8-byte codes + ADC tables + exact rerank, after the
    // corpus change batch went through the view's refresh path — same
    // modified-corpus exact-top-k ground truth as the other maintained
    // indexes, so a stale cell, a stale code, or a broken composition is
    // lost recall / a wrong pair
    "sim_ivfpq_topk" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val ivfpq = ivfpqTopKFromView(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(ivfpq, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(IvfPqRecallBound)).as("recall_ok"))
    }),

    // the composed index after TWO successive change batches through its
    // refresh path ([[ivfpqTopKIncremental]]): epoch 2's partition-scoped
    // delete-then-insert runs against state epoch 1 wrote — a stale cell
    // from EITHER batch (a %31 vector still celled at its pre-reversal
    // position, a %29 vector not retracted) is lost recall / a wrong pair
    // against exact top-k on the twice-modified corpus
    "sim_ivfpq_incremental" -> ((s, dir) => {
      val e = modifiedEmb2(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val ivfpq = ivfpqTopKIncremental(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(ivfpq, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(IvfPqRecallBound)).as("recall_ok"))
    }),

    // the composed IVF-PQ index probed through the BULK plan
    // ([[ivfpqTopKBulk]]): shuffle semi-join cell prune over 8-byte
    // codes, bounded-heap selection, nothing broadcast — identical
    // modified-corpus ground truth as the model-sized composed path
    "sim_ivfpq_bulk" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val ivfpq = ivfpqTopKBulk(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(ivfpq, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(IvfPqRecallBound)).as("recall_ok"))
    }),

    // the SQ8 view probed through the BULK plan ([[sqTopKBulk]]): no
    // probe broadcast, no driver In-list, bounded-heap selection instead
    // of windows — graded against the identical modified-corpus ground
    // truth as sim_sq_incremental (both read one maintained view)
    "sim_sq_bulk" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val sq = sqTopKBulk(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(sq, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(SqRecallBound)).as("recall_ok"))
    }),

    // the SAME persisted band view probed through the BULK plan
    // ([[lshTopKBulk]]): no driver In-list, no probe broadcast — shuffle
    // semi-join prune + equi-join, the shape a data-sized probe batch
    // needs. Graded against the identical modified-corpus ground truth
    // as the model-sized path (both read one maintained view)
    "sim_lsh_bulk" -> ((s, dir) => {
      val e = modifiedEmb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pn"))
      val brute = rankTopK(
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .withColumn("cos", round(dot(col("pv"), col("v")) / (col("pn") * col("norm")), 6))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos")))
        .select("probe_id", "neighbor_id")
      val lsh = lshTopKBulk(s, dir).select("probe_id", "neighbor_id")
        .withColumn("f", lit(1L))
      brute.join(lsh, Seq("probe_id", "neighbor_id"), "left_outer")
        .agg(count_distinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_probes"), col("n_pairs"),
          (col("nf") >= col("n_pairs") * lit(AnnRecallBound)).as("recall_ok"))
    }),

    // embedding near-dup with a driver-checkable invariant: the exact
    // cosine-threshold pair set over a sample frame (pairs touching
    // vec_id < SampleVecs) is recomputed by the DuckDB oracle;
    // recall_ok asserts the banded pipeline found ≥ bound of it.
    // Pair output for users: [[embeddingPairs]].
    "dedup_embedding" -> ((s, dir) => {
      val e = emb(s, dir)
      val sample = e.filter(col("vec_id") < SampleVecs)
        .select(col("vec_id").as("a"), col("v").as("va"), col("norm").as("na"))
        .join(e.select(col("vec_id").as("b"), col("v").as("vb"), col("norm").as("nb")),
          col("a") =!= col("b"))
        .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
        .filter(col("cos") >= EmbDupThreshold)
        .select(least(col("a"), col("b")).as("i"), greatest(col("a"), col("b")).as("j"))
        .distinct()
      val found = embeddingPairs(s, dir).select("i", "j").withColumn("f", lit(1L))
      sample.join(found, Seq("i", "j"), "left_outer")
        .agg(count(lit(1)).as("n_sample_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_sample_pairs"),
          (col("nf") >= col("n_sample_pairs") * lit(EmbSampleRecallBound)).as("recall_ok"))
    }),
  )

  // double-precision dot/norms spelled out: DuckDB's list_cosine_similarity
  // computes in float32, which disagrees with Spark's double math at 1e-6
  private val cosSql =
    """(list_sum([CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE) for i in range(64)])
      | / (sqrt(list_sum([CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE) for i in range(64)]))
      |   * sqrt(list_sum([CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE) for i in range(64)]))))""".stripMargin

  private def bruteTopkSqlOver(table: String) =
    s"""SELECT probe_id, neighbor_id, cos, rank FROM (
       |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
       |         round($cosSql, 6) AS cos,
       |         row_number() OVER (
       |           PARTITION BY a.vec_id
       |           ORDER BY round($cosSql, 6) DESC, b.vec_id) AS rank
       |  FROM $table a JOIN $table b ON a.vec_id < 10 AND b.vec_id <> a.vec_id) t
       |WHERE rank <= $K ORDER BY probe_id, rank""".stripMargin

  private val bruteTopkSql = bruteTopkSqlOver("embeddings")

  val oracle: Map[String, String] = Map(
    "embed_label_stats" ->
      """SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
        |  round(min(sqrt(list_sum([CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE) for i in range(64)]))), 6) AS min_norm,
        |  round(max(sqrt(list_sum([CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE) for i in range(64)]))), 6) AS max_norm,
        |  CAST(min(len(embedding)) AS BIGINT) AS dim
        |FROM embeddings GROUP BY 1 ORDER BY label""".stripMargin,
    "sim_brute_topk" -> bruteTopkSql,
    // the oracle recomputes the exact corpus-wide sample pair set the
    // the stored cell view holds exactly the post-batch corpus, so the
    // total is oracle-exact; cap and keep-count identity are engine
    // assertions over engine-defined cells
    "sample_cluster_balance" ->
      """SELECT count(*) AS n_vecs, true AS cap_ok, true AS kept_exact_ok
        |FROM embeddings WHERE vec_id % 41 <> 0""".stripMargin,
    // within-cell scan is graded against; recall_ok is the engine's bound
    "dedup_semantic" ->
      s"""WITH p AS (
         |  SELECT least(a.vec_id, b.vec_id) AS i, greatest(a.vec_id, b.vec_id) AS j
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id < $SampleVecs AND b.vec_id <> a.vec_id
         |  WHERE round($cosSql, 6) >= $EmbDupThreshold
         |  GROUP BY 1, 2)
         |SELECT count(*) AS n_sample_pairs, true AS recall_ok FROM p""".stripMargin,
    // the oracle recomputes the exact cross-label ground truth the
    // IVF-pruned mine is graded against
    "sim_hard_negatives_ivf" ->
      s"""SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |           row_number() OVER (
         |             PARTITION BY a.vec_id
         |             ORDER BY round($cosSql, 6) DESC, b.vec_id) AS rank
         |    FROM embeddings a JOIN embeddings b
         |      ON a.vec_id < 10 AND b.vec_id <> a.vec_id AND b.label <> a.label) t
         |  WHERE rank <= $K)""".stripMargin,
    // the incremental twin's ground truth is the MODIFIED corpus
    "dedup_semantic_incremental" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0),
         |p AS (
         |  SELECT least(a.vec_id, b.vec_id) AS i, greatest(a.vec_id, b.vec_id) AS j
         |  FROM corpus a JOIN corpus b
         |    ON a.vec_id < $SampleVecs AND b.vec_id <> a.vec_id
         |  WHERE round($cosSql, 6) >= $EmbDupThreshold
         |  GROUP BY 1, 2)
         |SELECT count(*) AS n_sample_pairs, true AS recall_ok FROM p""".stripMargin,
    // exact cross-label top-k: the brute ground truth with the label
    // exclusion inside the join predicate
    "sim_hard_negatives" ->
      s"""SELECT probe_id, neighbor_id, cos, rank FROM (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |         round($cosSql, 6) AS cos,
         |         row_number() OVER (
         |           PARTITION BY a.vec_id
         |           ORDER BY round($cosSql, 6) DESC, b.vec_id) AS rank
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id < 10 AND b.vec_id <> a.vec_id AND b.label <> a.label) t
         |WHERE rank <= $K ORDER BY probe_id, rank""".stripMargin,
    // the oracle recomputes the exact top-k ground truth the invariant
    // counts; recall_ok is the engine's asserted bound
    "sim_lsh_topk" ->
      s"""SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM ($bruteTopkSql)""".stripMargin,
    "sim_ivf_topk" ->
      s"""SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM ($bruteTopkSql)""".stripMargin,
    "sim_sq_topk" ->
      s"""SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM ($bruteTopkSql)""".stripMargin,
    // the exact top-k ground truth recomputed from the MODIFIED corpus
    // (the same %37-reversal / %41-tombstone batch the engine pushed
    // through the persisted index's refresh path)
    "sim_ivf_incremental" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // same modified-corpus ground truth as sim_ivf_incremental — the two
    // persisted indexes are graded against the identical change batch
    "sim_lsh_incremental" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // the IVF bulk plan reads the same maintained view as the model-sized
    // path, so the identical ground truth grades it
    "sim_ivf_bulk" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // the pre-batch epoch must serve the ORIGINAL corpus's ground truth
    // — same oracle as sim_lsh_topk
    "sim_lsh_asof" ->
      s"""SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM ($bruteTopkSql)""".stripMargin,
    // the streaming-built band view serves the same modified-corpus
    // ground truth as the batch-maintained one
    "sim_lsh_streamed" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // compaction is invisible to the search: same modified-corpus ground
    // truth as the incremental gate
    "sim_ivf_compacted" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // the streaming-built cell view serves the same modified-corpus
    // ground truth as the batch-maintained one
    "sim_ivf_streamed" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // the composed IVF-SQ8 index graded against the same modified-corpus
    // ground truth as the other maintained indexes
    "sim_ivfsq_topk" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // the composed bulk plan reads the same maintained view as the
    // model-sized composed path, so the identical ground truth grades it
    "sim_ivfsq_bulk" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // flat PQ graded against the exact base-corpus top-k
    "sim_pq_topk" ->
      s"""SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM ($bruteTopkSql)""".stripMargin,
    // the maintained flat-PQ view graded against the modified corpus
    "sim_pq_incremental" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // the flat-PQ bulk plan reads the same maintained view as the
    // model-sized path, so the identical ground truth grades it
    "sim_pq_bulk" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // the pre-batch epoch must serve the ORIGINAL corpus's ground truth
    "sim_ivfpq_asof" ->
      s"""SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM ($bruteTopkSql)""".stripMargin,
    // the composed IVF-PQ index graded against the same modified-corpus
    // ground truth as the other maintained indexes
    "sim_ivfpq_topk" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // the IVF-PQ bulk plan reads the same maintained view as the
    // model-sized composed path, so the identical ground truth grades it
    // the twice-modified corpus: alive iff neither %41 nor %29 divides,
    // reversed iff exactly one of %37 / %31 divides (XOR — a second
    // reversal composes to the identity)
    "sim_ivfpq_incremental" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN (vec_id % 37 = 0) <> (vec_id % 31 = 0)
         |              THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0 AND vec_id % 29 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    "sim_ivfpq_bulk" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // the SQ8 bulk plan reads the same maintained view as the model-sized
    // path, so the identical ground truth grades it
    "sim_sq_bulk" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // same modified-corpus ground truth as the other incremental indexes
    "sim_sq_incremental" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    // the bulk plan reads the same maintained view as the model-sized
    // path, so the identical ground truth grades it
    "sim_lsh_bulk" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 37 = 0 THEN list_reverse(embedding)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 41 <> 0)
         |SELECT count(DISTINCT probe_id) AS n_probes, count(*) AS n_pairs,
         |       true AS recall_ok
         |FROM (${bruteTopkSqlOver("corpus")})""".stripMargin,
    "dedup_embedding" ->
      s"""WITH p AS (
         |  SELECT least(a.vec_id, b.vec_id) AS i, greatest(a.vec_id, b.vec_id) AS j
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id < $SampleVecs AND b.vec_id <> a.vec_id
         |  WHERE round($cosSql, 6) >= $EmbDupThreshold
         |  GROUP BY 1, 2)
         |SELECT count(*) AS n_sample_pairs, true AS recall_ok FROM p""".stripMargin,
  )
}
