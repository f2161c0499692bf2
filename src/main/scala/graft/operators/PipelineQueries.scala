package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{MapIndex, Tables, Views}
import graft.engine.MapIndex.emit
import graft.functions.{Hashes, TextFunctions => T}

/**
 * Training-data pipeline operators over `documents`: deduplication (exact,
 * normalization-fingerprint, n-gram Jaccard, MinHash-LSH, SimHash) and
 * text analysis (quality metrics, language-ID heuristic, token stats).
 *
 * Scale design: every dedup variant is candidate-generation + verification.
 * Candidates come from an equi-join on a short key (content hash,
 * fingerprint, rare shingle, MinHash band, SimHash band) — never a
 * pairwise cross join — so the shuffle is on the key space and stays
 * linear in corpus size; only verified candidate pairs pay the exact
 * set-intersection cost.
 */
object PipelineQueries {

  private val JaccardThreshold = 0.5
  /** Invariant-query bounds: every bound is a property the engine PROMISES
    * (asserted as a boolean column the driver's DuckDB oracle checks
    * against `true`), set from measured behavior on the fixed synthetic
    * corpus with margin — sf0.001/0.01/0.1 measured recalls: minhash-LSH
    * candidates 1.0/1.0/1.0, simhash sample 1.0/0.99/0.51 (the band df
    * cap trades recall for boundedness — see dedup_simhash). The bounds
    * are promises about THIS corpus family at tested scales, not
    * universal constants; a corpus whose similarity structure differs
    * re-measures and re-sets them. */
  private val MinhashRecallBound = 0.9
  private val SimhashSampleRecallBound = 0.4
  /** sample frame for brute-force ground truth inside invariant queries:
    * pairs touching a doc_id below this bound. Brute force over the full
    * corpus would be O(n²) at bench scale for no extra signal. */
  private val SampleDocs = 100
  /** winnowing guarantees a shared fingerprint for shared byte runs
    * ≥ w+k-1 = 47; the containment invariant restricts to docs of ≥ 64
    * chars so every contained doc clears that floor with margin. */
  private val ContainMinLen = 64
  /** shingles seen in more than this many docs are dropped before the
    * pair join (stop-shingle pruning: bounds the self-join at
    * sum(df^2) and drops only shingles that carry no dedup signal).
    * Jaccard is computed over the pruned shingle sets on both sides. */
  private val MaxShingleDf = 1000
  /** LSH band buckets with more members than this are pruned before the
    * band self-join — df² candidate pairs for near-zero signal; a real
    * near-dup pair still collides in its other bands. */
  private val MaxBandDf = 200
  /** exact-substring span dedup window width (tokens): a run of SpanW
    * tokens shared verbatim across documents marks a duplicated span. */
  private val SpanW = 8

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  /** Tokens per training sequence for concat-and-chunk packing. */
  private val PackBudget = 256L

  /** Fixed keyword-search query terms (mid-frequency corpus words). */
  private val SearchTerms = Seq("spark", "vector", "join", "stream")

  /** One emission per DISTINCT token with its term frequency, derived in
    * O(dl log dl) per document: sort the token array once, mark run
    * STARTS and run ENDS by neighbor comparison (the k-th start pairs
    * with the k-th end), tf = run length. The `array_distinct` +
    * per-token `filter` spelling this replaces re-scans the token array
    * once per distinct token — O(dl²) at index-write time, quadratic on
    * long documents. `valueSql` builds the emission value; `si`/`ei`
    * (1-based run bounds) and `$ts` (the sorted array) are in scope —
    * tf = `ei - si + 1`. `split` never returns an empty array (worst
    * case one empty-string token), so `sequence(1, size)` is always
    * ascending; a null text propagates to a null emission array, which
    * [[MapIndex]] treats as the empty emission. */
  private def tokenTfEmits(valueSql: String): org.apache.spark.sql.Column = {
    val ts = "array_sort(split(lower(text), ' '))"
    expr(s"""zip_with(
      |  filter(sequence(1, size($ts)), i -> i = 1 OR element_at($ts, i) != element_at($ts, i - 1)),
      |  filter(sequence(1, size($ts)), i -> i = size($ts) OR element_at($ts, i) != element_at($ts, i + 1)),
      |  (si, ei) -> named_struct(
      |    'emit_key', element_at($ts, si),
      |    'emit_value', ${valueSql.replace("$ts", ts)}))""".stripMargin)
  }

  /** The inverted index as a stored map view OF THE DOCUMENTS TABLE:
    * src_key = doc_id, one emission per distinct term carrying
    * `(doc_id, tf)`, clustered by term — a query-time term filter reaches
    * the parquet scan as a pushed predicate, so search reads ONLY the
    * matching posting lists (the point of an inverted index at 100 TB;
    * re-tokenizing the corpus per query would scan everything).
    * Because the document IS the source entry, the index inherits the
    * engine's incremental maintenance whole: upserting a document
    * delete-then-inserts exactly its postings (terms it dropped vanish),
    * and a tombstone retracts them — no side pipeline to keep in sync
    * (spec: "inverted index is an incrementally-maintained map view"). */
  private[graft] val postingsIdx: MapIndex =
    MapIndex.columns("doc_postings")(
      col("doc_id").cast("string"),
      tokenTfEmits("named_struct('doc_id', doc_id, 'tf', cast(ei - si + 1 as bigint))"))

  private def postingsView(s: SparkSession, dir: String) =
    Views.materialized(s, dir, postingsIdx)(docs(s, dir))

  /** The inherited-maintenance claim made checkable: the same inverted
    * index (own name, own state) taken through a deterministic document
    * change batch — `%37` docs rewritten to a fixed text, `%41` docs
    * tombstoned — via ONE MaterializedView.refresh. The searcher then
    * reads the refreshed postings; the oracle re-derives them from the
    * modified corpus, so a stale or partially-updated index is a hash
    * mismatch. */
  private val postingsIncIdx: MapIndex =
    MapIndex.columns("doc_postings_inc")(
      col("doc_id").cast("string"),
      tokenTfEmits("named_struct('doc_id', doc_id, 'tf', cast(ei - si + 1 as bigint))"))

  /** The text every `%37` document is rewritten to. */
  private val RewrittenText = "spark join spark stream"

  /** The shared document change batch every maintained text fixture
    * pushes: `%37` docs rewritten to [[RewrittenText]], `%41`
    * tombstoned. Returns (upserts with every column of `d`, tombstoned
    * source keys); a fixture selects the upsert columns its index takes. */
  private def docChangeBatch(d: DataFrame): (DataFrame, DataFrame) =
    (d.filter(col("doc_id") % 37 === 0 && col("doc_id") % 41 =!= 0)
       .withColumn("text", lit(RewrittenText)),
     d.filter(col("doc_id") % 41 === 0)
       .select(col("doc_id").cast("string").as("src_key")).distinct())

  /** [[docChangeBatch]]'s result in DuckDB, as the CTE `name`: `cols`,
    * then the rewritten `text` (`lower`: lower-cased, as the tokenizing
    * gates read it). */
  private def modifiedCorpusSql(name: String, cols: String, lower: Boolean): String =
    s"""$name AS (
       |  SELECT $cols,
       |         CASE WHEN doc_id % 37 = 0 THEN 'spark join spark stream'
       |              ELSE ${if (lower) "lower(text)" else "text"} END AS text
       |  FROM documents WHERE doc_id % 41 <> 0)""".stripMargin
  /** The same corpus as a SQL relation. */
  private val modifiedDocsSql: String =
    """(SELECT doc_id,
      |        CASE WHEN doc_id % 37 = 0 THEN 'spark join spark stream'
      |             ELSE text END AS text
      | FROM documents WHERE doc_id % 41 <> 0)""".stripMargin

  /** The shared batch as ONE streaming micro-batch: `(doc_id, text)`
    * upserts and tombstones together, split by the streaming contract's
    * `deleted` column. A tombstone names its document both as `key` (the
    * map-view streams) and as `doc_id` (the pair-graph stream). */
  private def streamedDocChangeBatch(d: DataFrame): DataFrame = {
    val (ups, dels) = docChangeBatch(d)
    ups.select(col("doc_id"), col("text"), lit(false).as("deleted"))
      .unionByName(dels.select(col("src_key").as("key"),
        col("src_key").cast("long").as("doc_id"), lit(true).as("deleted")),
        allowMissingColumns = true)
  }

  /** The corpus AFTER the shared batch — the from-scratch input every
    * maintained fixture is graded against: `%41` docs gone, `%37` docs
    * carrying [[RewrittenText]]. */
  private def modifiedDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("doc_id") % 41 =!= 0)
      .withColumn("text", when(col("doc_id") % 37 === 0, lit(RewrittenText))
        .otherwise(col("text")))

  /** `idx` materialized on the corpus, then the shared change batch
    * through ONE refresh, as a durable build unit: a reopen loads it. */
  private def refreshedUnit(s: SparkSession, dir: String, idx: MapIndex) = {
    val store = Views.store(s, dir)
    Views.unit(store.baseDir, idx.name)(store.load(idx)) {
      val base = idx.materialize(docs(s, dir), store)
      val (ups, dels) = docChangeBatch(docs(s, dir))
      base.refresh(ups, Some(dels))
    }
  }

  private def incPostingsView(s: SparkSession, dir: String) =
    refreshedUnit(s, dir, postingsIncIdx)

  // --- BM25 ranked retrieval --------------------------------------------

  /** BM25 parameters (the standard Robertson/Spärck-Jones defaults). */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** BM25 postings: the same inverted-index map view as [[postingsIdx]]
    * but each posting additionally carries the DOCUMENT LENGTH, so the
    * per-(term, doc) score term needs no join back to the corpus — at
    * 100 TB the scorer touches only the matched terms' posting lists
    * plus one single-row stats relation, never a document. */
  private def bm25MapIndex(name: String): MapIndex =
    MapIndex.columns(name)(
      col("doc_id").cast("string"),
      tokenTfEmits("""named_struct('doc_id', doc_id,
        'tf', cast(ei - si + 1 as bigint), 'dl', cast(size($ts) as bigint))"""))
  private val bm25Idx = bm25MapIndex("doc_postings_bm25")

  private def bm25View(s: SparkSession, dir: String) =
    Views.materialized(s, dir, bm25Idx)(docs(s, dir))

  /** Corpus-wide length statistics (N, Σdl) as an incrementally-
    * maintained single-group [[graft.engine.AggView]] over a tiny
    * per-doc length view: BM25's `avgdl`/`N` come from this one stored
    * row, not from a corpus scan at query time, and a document change
    * batch maintains it at O(delta) through the ordinary aggregate
    * refresh path. */
  private def docLenMapIndex(name: String): MapIndex =
    MapIndex.columns(name)(
      col("doc_id").cast("string"),
      array(emit(lit("dl"), size(split(lower(col("text")), " ")).cast("long"))))

  /** The aggregate state `<idx>__state` over `idx` materialized on the
    * corpus — or on its target subset (lang = 'en') when `target` — as a
    * durable build unit (a reopen attaches). With `changed`, the shared
    * `%37`-rewrite / `%41`-tombstone batch then goes through
    * [[graft.engine.AggView.refresh]], its upserts restricted to the same
    * subset (a rewrite of a non-English doc does not touch the target
    * model); delete keys apply unrestricted — a tombstone for a doc the
    * target never indexed is a no-op by the refresh contract. */
  private def aggUnit(s: SparkSession, dir: String, idx: MapIndex,
      target: Boolean = false, changed: Boolean = false): graft.engine.AggView = {
    val store = Views.store(s, dir)
    val state = s"${idx.name}__state"
    def subset(d: DataFrame) = if (target) d.filter(col("lang") === "en") else d
    Views.unit(store.baseDir, idx.name)(graft.engine.AggView.attach(s, store, state)) {
      val base = idx.materialize(subset(docs(s, dir)), store)
      val agg = graft.engine.AggView.build(base, state)
      if (!changed) agg
      else {
        val (ups, dels) = docChangeBatch(docs(s, dir))
        agg.refresh(base, subset(ups), Some(dels))._2
      }
    }
  }

  /** Base-corpus stats view. */
  private def lenAgg(s: SparkSession, dir: String): graft.engine.AggView =
    aggUnit(s, dir, docLenMapIndex("doc_lengths"))

  /** Post-change-batch stats view: the SAME `%37`-rewrite / `%41`-
    * tombstone batch [[incPostingsView]] pushes, taken through
    * [[graft.engine.AggView.refresh]] — so the incremental BM25 search
    * proves BOTH maintained inputs (postings and stats) are current. */
  private def incLenAgg(s: SparkSession, dir: String): graft.engine.AggView =
    aggUnit(s, dir, docLenMapIndex("doc_lengths_inc"), changed = true)

  /** Unigram language-model counts: one emission per DISTINCT token per
    * doc, value = term frequency — the [[graft.engine.AggView]] over it
    * maintains the corpus-wide collection term frequency per token
    * (`sum_value` = Σtf) at O(delta) under document change batches, the
    * model state a CCNet/KenLM-style perplexity quality filter needs.
    * Token vocabulary scales sublinearly with the corpus, and the state
    * join in [[lmScores]] is an equi-join on the token key — co-keyed
    * shuffle, never a broadcast of the corpus side. */
  private def unigramMapIndex(name: String): MapIndex =
    MapIndex.columns(name)(
      col("doc_id").cast("string"),
      tokenTfEmits("cast(ei - si + 1 as bigint)"))

  /** Base-corpus token-count state. */
  private def unigramAgg(s: SparkSession, dir: String): graft.engine.AggView =
    aggUnit(s, dir, unigramMapIndex("doc_unigrams"))

  /** Post-change-batch token-count state: the shared `%37`-rewrite /
    * `%41`-tombstone batch through the aggregate refresh path. */
  private def incUnigramAgg(s: SparkSession, dir: String): graft.engine.AggView =
    aggUnit(s, dir, unigramMapIndex("doc_unigrams_inc"), changed = true)

  /** Per-doc average unigram log-probability — the perplexity-proxy
    * quality score — served ENTIRELY from maintained state: per-doc
    * `(token, tf, dl)` from the stored BM25 postings, collection term
    * frequencies from the token-count aggregate state, and the total
    * token count from the SAME single-row length stats BM25 reads
    * (Σdl ≡ Σctf). No corpus scan, no model-training pass at query time;
    * the arithmetic is written op-for-op like the DuckDB oracle so the
    * `round(…, 4)` hashes agree. */
  private def lmScores(post0: DataFrame, tokState: DataFrame, lenState: DataFrame): DataFrame = {
    val post = post0.select(col("emit_value.doc_id").as("doc_id"),
      col("emit_key").as("w"), col("emit_value.tf").as("tf"),
      col("emit_value.dl").as("dl"))
    val ctf = tokState.select(col("emit_key").as("w"),
      col("sum_value").cast("double").as("ctf"))
    val total = lenState.select(col("sum_value").cast("double").as("total"))
    post.join(ctf, Seq("w"))
      .crossJoin(broadcast(total))
      .withColumn("lp", col("tf") * log(col("ctf") / col("total")))
      .groupBy("doc_id", "dl")
      .agg(round(sum(col("lp")) / col("dl"), 4).as("avg_logprob"))
      .select(col("doc_id"), col("dl").as("n_tokens"), col("avg_logprob"))
      .orderBy("doc_id")
  }

  /** TARGET-distribution unigram model for importance weighting: the
    * same token-count aggregate state, fit only on the target subset
    * (lang = 'en' — stand-in for "high-quality reference corpus").
    * Both models are maintained views; a target-corpus change batch
    * flows through the ordinary aggregate refresh. */
  private def unigramTgtAgg(s: SparkSession, dir: String): graft.engine.AggView =
    aggUnit(s, dir, unigramMapIndex("doc_unigrams_tgt"), target = true)

  /** Target-subset token total (one-row stats state, like [[lenAgg]]). */
  private def lenTgtAgg(s: SparkSession, dir: String): graft.engine.AggView =
    aggUnit(s, dir, docLenMapIndex("doc_lengths_tgt"), target = true)

  /** Post-change-batch TARGET states: the shared batch, upserts
    * restricted to the target subset ([[aggUnit]]). */
  private def incUnigramTgtAgg(s: SparkSession, dir: String): graft.engine.AggView =
    aggUnit(s, dir, unigramMapIndex("doc_unigrams_tgt_inc"), target = true, changed = true)

  private def incLenTgtAgg(s: SparkSession, dir: String): graft.engine.AggView =
    aggUnit(s, dir, docLenMapIndex("doc_lengths_tgt_inc"), target = true, changed = true)

  /** The importance-weight scoring join over any (postings, raw state,
    * target state, raw total, target total) quintuple — shared by the
    * base and incremental queries so both serve the identical
    * arithmetic. */
  private def importanceWeights(post0: DataFrame, rawState: DataFrame,
      tgtState: DataFrame, lenState: DataFrame, lenTgtState: DataFrame): DataFrame = {
    val post = post0
      .select(col("emit_value.doc_id").as("doc_id"), col("emit_key").as("w"),
        col("emit_value.tf").as("tf"), col("emit_value.dl").as("dl"))
    val raw = rawState
      .select(col("emit_key").as("w"), col("sum_value").cast("double").as("cr"))
    val tgt = tgtState
      .select(col("emit_key").as("w"), col("sum_value").cast("double").as("ct"))
    val totalR = lenState.select(col("sum_value").cast("double").as("total_r"))
    val totalT = lenTgtState.select(col("sum_value").cast("double").as("total_t"))
    val vocab = raw.agg(count(lit(1)).as("v"))
    post.join(raw, Seq("w")).join(tgt, Seq("w"), "left_outer")
      .crossJoin(broadcast(totalR)).crossJoin(broadcast(totalT))
      .crossJoin(broadcast(vocab))
      .withColumn("lr", col("tf") *
        (log((coalesce(col("ct"), lit(0.0)) + lit(1.0)) / (col("total_t") + col("v"))) -
         log((col("cr") + lit(1.0)) / (col("total_r") + col("v")))))
      .groupBy("doc_id", "dl")
      // + 0.0 collapses IEEE −0.0 to +0.0 (a near-zero ratio can round
      // to either sign of zero depending on summation order; the
      // oracle does the same `+ 0`, so both sides serialize as 0.0)
      .agg((round(sum(col("lr")) / col("dl"), 4) + lit(0.0)).as("avg_logratio"))
      .select(col("doc_id"), col("dl").as("n_tokens"), col("avg_logratio"))
      .orderBy("doc_id")
  }

  /** All three LM-score inputs built PURELY through streaming
    * micro-batches — postings via [[graft.streaming.StreamingMapIndex]],
    * token counts and length stats via the joint base+state
    * [[graft.streaming.StreamingAggMapIndex]] refresh (zero-batch-lag
    * aggregate maintenance): three bootstrap thirds, then the shared
    * upsert+tombstone batch through the streaming contract's `deleted`
    * split. The driver's hash gate grades the streamed model against the
    * same modified-corpus recompute that grades the batch-incremental
    * one, so a batch-boundary effect in ANY of the three states is a
    * hash mismatch. */
  private val bm25StreamIdx = bm25MapIndex("doc_postings_bm25_stream")
  private val unigramStreamIdx = unigramMapIndex("doc_unigrams_stream")
  private val docLenStreamIdx = docLenMapIndex("doc_lengths_stream")

  private def streamedLmViews(s: SparkSession, dir: String): (graft.engine.MaterializedView, graft.engine.AggView, graft.engine.AggView) = {
    val store = Views.store(s, dir)
    def open() = (store.load(bm25StreamIdx),
      graft.engine.AggView.attach(s, store, "doc_unigrams_stream__state"),
      graft.engine.AggView.attach(s, store, "doc_lengths_stream__state"))
    Views.unit(store.baseDir, "doc_lm_stream")(open()) {
      val post = new graft.streaming.StreamingMapIndex(bm25StreamIdx, store)
      val toks = new graft.streaming.StreamingAggMapIndex(
        unigramStreamIdx, store, "doc_unigrams_stream__state")
      val lens = new graft.streaming.StreamingAggMapIndex(
        docLenStreamIdx, store, "doc_lengths_stream__state")
      def push(b: DataFrame): Unit = {
        post.applyBatch(b); toks.applyBatch(b); lens.applyBatch(b)
      }
      val d = docs(s, dir)
      (0 to 2).foreach(r =>
        push(d.filter(col("doc_id") % 3 === r).select("doc_id", "text")))
      push(streamedDocChangeBatch(d))
      open()
    }
  }

  private val bm25IncIdx = bm25MapIndex("doc_postings_bm25_inc")

  private def incBm25View(s: SparkSession, dir: String) =
    refreshedUnit(s, dir, bm25IncIdx)

  /** BM25 top-20 over [[SearchTerms]], served ENTIRELY from maintained
    * views: term-pruned posting read (pushed In-filter), per-term df from
    * the matched postings only, `N`/`avgdl` from the one-row stats state.
    * The idf/score arithmetic is written operation-for-operation like the
    * DuckDB oracle so the `round(…, 4)` hashes agree. */
  private def bm25Scores(post0: DataFrame, stats0: DataFrame): DataFrame = {
    val post = post0
      .filter(col("emit_key").isInCollection(SearchTerms))
      .select(col("emit_key").as("w"), col("emit_value.doc_id").as("doc_id"),
        col("emit_value.tf").as("tf"), col("emit_value.dl").as("dl"))
    val stats = stats0.select(col("cnt").as("n"),
      (col("sum_value").cast("double") / col("cnt")).as("avgdl"))
    val dfreq = post.groupBy("w").agg(count(lit(1)).as("df"))
    post.join(broadcast(dfreq), "w")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(round(sum("contrib"), 4).as("score"))
  }

  private def bm25Search(post0: DataFrame, stats0: DataFrame): DataFrame =
    bm25Scores(post0, stats0).orderBy(col("score").desc, col("doc_id")).limit(20)

  /** TF-IDF top-20 over [[SearchTerms]] from a stored postings view:
    * integer scores Σ tf · (1e6 div df). */
  private def tfidfSearch(postings: DataFrame): DataFrame = {
    val post = postings
      .filter(col("emit_key").isInCollection(SearchTerms))
      .select(col("emit_key").as("w"),
        col("emit_value.doc_id").as("doc_id"),
        col("emit_value.tf").as("tf"))
    val dfreq = post.groupBy("w").agg(count(lit(1)).as("df"))
    post.join(broadcast(dfreq), "w")
      .withColumn("contrib", col("tf") * expr("1000000 div df"))
      .groupBy(col("doc_id")).agg(sum("contrib").as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
  }

  /** Materialize the stored postings + pair graph eagerly (write-time
    * cost) so bench timings measure the indexed read path. */
  private[operators] def prewarmSteps(s: SparkSession, dir: String): Seq[(String, () => Unit)] = Seq[(String, () => Unit)](
      ("postingsView", () => { postingsView(s, dir); () }),
      ("incPostingsView", () => { incPostingsView(s, dir); () }),
      ("bm25View", () => { bm25View(s, dir); () }),
      ("incBm25View", () => { incBm25View(s, dir); () }),
      ("lenAgg", () => { lenAgg(s, dir); () }),
      ("incLenAgg", () => { incLenAgg(s, dir); () }),
      ("spanWinView", () => { spanWinView(s, dir); () }),
      ("incSpanWinView", () => { incSpanWinView(s, dir); () }),
      ("streamedSpanWinView", () => { streamedSpanWinView(s, dir); () }),
      ("spanAggView", () => { spanAggView(s, dir); () }),
      ("pairsView", () => { pairsView(s, dir); () }),
      ("incPairGraph", () => { incPairGraph(s, dir); () }),
      ("compactedPairGraph", () => { compactedPairGraph(s, dir); () }),
      ("incWinnowGraph", () => { incWinnowGraph(s, dir); () }),
      ("incComponentsIdx", () => { incComponentsIdx(s, dir); () }),
      ("baseComponentsView", () => { baseComponentsView(s, dir); () }),
      ("keeperView", () => { keeperView(s, dir); () }),
      ("streamedComponentsIdx", () => { streamedComponentsIdx(s, dir); () }),
      ("exactDedupView", () => { exactDedupView(s, dir); () }),
      ("unigramAgg", () => { unigramAgg(s, dir); () }),
      ("incUnigramAgg", () => { incUnigramAgg(s, dir); () }),
      ("streamedLmViews", () => { streamedLmViews(s, dir); () }),
      ("unigramTgtAgg", () => { unigramTgtAgg(s, dir); () }),
      ("lenTgtAgg", () => { lenTgtAgg(s, dir); () }),
      ("incUnigramTgtAgg", () => { incUnigramTgtAgg(s, dir); () }),
      ("incLenTgtAgg", () => { incLenTgtAgg(s, dir); () }),
  )

  /** Token counts of the span-eligible documents (length ≥ SpanW). */
  private def spanDocLengths(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= SpanW)

  /** The window relation AS A MAINTAINED MAP VIEW: src_key = doc_id, one
    * emission per window position carrying `(doc_id, pos)` under the
    * window's 64-bit HASH key (8 bytes, `xxhash64(win)`), never the
    * window text itself — a text-keyed store would hold ~SpanW× the
    * corpus bytes (every token appears in SpanW stored keys), where the
    * hash key makes the stored state O(corpus positions × ~8 bytes)
    * regardless of SpanW. Exactness is preserved by the candidate-verify
    * tier ([[verifySpanWindows]]): consumers prune on the stored hash,
    * then re-extract the exact text for the (duplicate-sized) candidate
    * set only — the same two-phase shape the detection query uses
    * in-plan. Because the document is the source entry, span dedup
    * inherits the engine's incremental maintenance whole — a rewrite
    * delete-then-inserts exactly that document's windows and a tombstone
    * retracts them; the `%37` rewrite text is SHORTER than SpanW, so
    * rewritten docs exercise the empty-emission path (all old windows
    * must vanish, no new ones appear). */
  private def spanWinMapIndex(name: String): MapIndex = {
    val toks = split(lower(col("text")), " ")
    val emits = when(size(toks) >= SpanW,
      transform(sequence(lit(1), size(toks) - lit(SpanW - 1)),
        p => emit(unhex(lpad(hex(xxhash64(array_join(slice(toks, p, lit(SpanW)), " "))), 16, "0")),
          struct(col("doc_id"), p.as("pos")))))
      .otherwise(array().cast(
        "array<struct<emit_key:binary,emit_value:struct<doc_id:bigint,pos:int>>>"))
    MapIndex.columns(name)(col("doc_id").cast("string"), emits)
  }

  /** The candidate-verify tier shared by every hash-keyed span-store
    * consumer: re-extract the exact window text at each candidate
    * `(doc_id, pos)` from the corpus. The corpus side is PRUNED by a
    * semi-join on the candidate doc-id set BEFORE tokenizing — the id
    * set is duplicate-involved-docs-sized, so AQE broadcasts it and the
    * corpus is never shuffled; only the pruned docs' token arrays ship
    * into the extraction join. (A naive single equi-join would hash-
    * shuffle EVERY document's token array to meet the small candidate
    * set — the difference between a duplicate-sized verify and moving
    * the corpus at 100 TB.) Tokenization matches the emission side
    * exactly (`split(lower(text), ' ')`), so the re-extracted text is
    * bit-identical to what was hashed. */
  private def verifySpanWindows(cands: DataFrame, corpus: DataFrame): DataFrame = {
    val toks = split(lower(col("text")), " ")
    val candDocs = cands.select("doc_id").distinct()
    val pruned = corpus.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), toks.as("toks"))
    cands.join(pruned, Seq("doc_id"))
      .withColumn("win", array_join(expr(s"slice(toks, pos, $SpanW)"), " "))
      .drop("toks")
  }

  /** Base-corpus window view, materialized once at prewarm (compute-on-
    * write): span-removal and any other span consumer read the stored
    * postings instead of re-tokenizing the corpus per query. */
  private val spanWinIdx = spanWinMapIndex("doc_spanwins")

  private def spanWinView(s: SparkSession, dir: String) =
    Views.materialized(s, dir, spanWinIdx)(docs(s, dir))

  private val spanWinIncIdx = spanWinMapIndex("doc_spanwins_inc")

  private def incSpanWinView(s: SparkSession, dir: String) =
    refreshedUnit(s, dir, spanWinIncIdx)

  /** The window view built PURELY through streaming micro-batches: three
    * bootstrap thirds, then the shared upsert+tombstone batch through the
    * streaming contract's `deleted` split — the driver's hash gate then
    * grades the streaming write path against the same modified-corpus
    * recompute that grades the batch-incremental view. */
  private val spanWinStreamIdx = spanWinMapIndex("doc_spanwins_stream")

  private def streamedSpanWinView(s: SparkSession, dir: String): graft.engine.MaterializedView = {
    val store = Views.store(s, dir)
    Views.unit(store.baseDir, spanWinStreamIdx.name)(store.load(spanWinStreamIdx)) {
      val smi = new graft.streaming.StreamingMapIndex(spanWinStreamIdx, store)
      val d = docs(s, dir)
      (0 to 2).foreach(r =>
        smi.applyBatch(d.filter(col("doc_id") % 3 === r).select("doc_id", "text")))
      smi.applyBatch(streamedDocChangeBatch(d))
      store.load(spanWinStreamIdx)
    }
  }

  /** Window OCCURRENCE emissions for the maintained removal decisions:
    * emit key = the window's 64-bit hash (8 bytes, like [[spanWinMapIndex]]
    * — text-keyed state would be ~SpanW× corpus bytes), emit value = the
    * packed occurrence `doc_id·1e6 + pos` — so a
    * [[graft.engine.BucketedAggView]] over it holds, per window hash,
    * the removal-decision PRUNE inputs: `cnt` = how many times the
    * window occurs anywhere in the corpus (the full repeated-substring
    * rule — within-doc repeats count, unlike the cross-doc detection
    * queries) and `min_value` = the candidate surviving occurrence. The
    * consumer re-verifies candidates on exact re-extracted text
    * ([[verifySpanWindows]]), so a hash collision can only ADD a
    * candidate that the verify tier rejects, never corrupt a decision.
    * A document change batch maintains both through the joint base+state
    * refresh in O(delta). */
  private def spanOccMapIndex(name: String): MapIndex = {
    val toks = split(lower(col("text")), " ")
    val emits = when(size(toks) >= SpanW,
      transform(sequence(lit(1), size(toks) - lit(SpanW - 1)),
        p => emit(unhex(lpad(hex(xxhash64(array_join(slice(toks, p, lit(SpanW)), " "))), 16, "0")),
          (col("doc_id") * lit(1000000L) + p).cast("long"))))
      .otherwise(array().cast("array<struct<emit_key:binary,emit_value:bigint>>"))
    MapIndex.columns(name)(col("doc_id").cast("string"), emits)
  }

  private val spanOccIdx = spanOccMapIndex("doc_spanocc")

  private def spanAggView(s: SparkSession, dir: String): graft.engine.BucketedAggView = {
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, "span_occ")(
      graft.engine.BucketedAggView.attach(store, "span_occ_state")) {
      val d = docs(s, dir)
      val v = graft.engine.BucketedAggView.build(store, spanOccIdx, d, "span_occ_state")
      val (ups, dels) = docChangeBatch(d)
      v.refresh(spanOccIdx, ups, Some(dels))
      v
    }
  }

  /** Spans per document of the windows shared by >= 2 documents.
    * `occs` holds window occurrences `(h, doc_id, pos)` keyed by the
    * 64-bit window hash: the hash gate prunes them to candidates, the
    * verify tier re-extracts their exact text from `corpus` and gates
    * again on it (a hash collision can only add candidates), and the
    * surviving positions merge into spans. */
  private def dupWindowSpans(occs: DataFrame, corpus: DataFrame): DataFrame = {
    // `>= 2 distinct docs` as min ≠ max: count_distinct plans as a
    // two-level distinct aggregate (an extra exchange on (h, doc_id) +
    // a second on h); min/max are plain O(1)-state aggregates — one
    // exchange, same predicate (nulls: both spellings reject a group
    // without two distinct non-null doc_ids).
    val dupH = occs.groupBy("h")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
    val cand = occs.join(dupH.select("h"), Seq("h"), "left_semi")
    val withWin = verifySpanWindows(cand, corpus)
    val dup = withWin.groupBy("win")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
    val hits = withWin.join(dup.select("win"), Seq("win"), "left_semi")
      .select("doc_id", "pos")
    mergeWindowSpans(hits)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("en") - col("st") + 1).as("dup_tokens"))
      .orderBy("doc_id")
  }

  /** Merge marked window-start positions `(doc_id, pos)` into maximal
    * token spans `[st, en]` (each window covers SpanW tokens):
    * gaps-and-islands over the per-doc position order — a window pass,
    * no join. */
  private def mergeWindowSpans(hits: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("prev_end", max(col("pos") + lit(SpanW - 1))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1).otherwise(0))
      .withColumn("g", sum("ni").over(byDoc))
      .groupBy("doc_id", "g")
      .agg(min("pos").as("st"), max(col("pos") + lit(SpanW - 1)).as("en"))
  }

  /** Per-domain token-budget cap over `(source, doc_id, n_chars, toks)`
    * rows (the `pipeline_domain_cap` engine — factored so a spec can
    * drive the prune path against the unfiltered spelling on a fixture
    * whose mega-domain actually exceeds the cap).
    *
    * `cut` = per-source approx 90th percentile of the quality key; it
    * applies only when the strictly-above-cut token mass ≥ cap (exact
    * aggregate check — see the query comment for the safety proof),
    * else the source admits everything (`cut = -1`; n_chars ≥ 0). The
    * exact prefix-sum window then sorts only the admitted candidates. */
  private[graft] def domainCapped(base0: DataFrame, cap: Long): DataFrame = {
    val base = base0
    // #sources-sized: the approx quantile of each source's quality key
    val cuts = base.groupBy("source")
      .agg(expr("approx_percentile(n_chars, 0.9)").cast("long").as("q90"))
    // exact keep-safety: the cut holds iff the strictly-above mass
    // already exhausts the cap (aggregate-only — no window, no sort)
    val safety = base.join(broadcast(cuts), Seq("source"))
      .groupBy("source")
      .agg(max(col("q90")).as("q90"),
        sum(when(col("n_chars") > col("q90"), col("toks")).otherwise(0L)).as("above_toks"),
        count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        when(col("above_toks") >= cap, col("q90")).otherwise(lit(-1L)).as("cut"))
    val admitted = base.join(broadcast(safety), Seq("source"))
      .filter(col("n_chars") >= col("cut"))
    val win = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    admitted
      .withColumn("strt", coalesce(sum("toks").over(win), lit(0L)))
      .withColumn("kept", (col("strt") < lit(cap)).cast("long"))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        sum("kept").as("n_kept"),
        sum(when(col("kept") === 1, col("toks")).otherwise(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  /** n-gram Jaccard near-dup pairs `(i, j, jaccard)` — the DERIVATION
    * plan (see `dedup_ngram_jaccard`'s entry for the full shape
    * commentary). Unordered; consumers sort or store. */
  private[operators] def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    Hashes.register(s)
    val sh = docs(s, dir)
      .select(col("doc_id"), explode(expr("shingle_hashes(text)")).as("sh"))
    val (inter, sizes) = postingStats(sh, MaxShingleDf)
    inter
      .join(sizes.select(col("doc_id").as("i"), col("n").as("n_i")), Seq("i"))
      .join(sizes.select(col("doc_id").as("j"), col("n").as("n_j")), Seq("j"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_i") + col("n_j") - col("inter")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("i"), col("j"), col("jaccard"))
  }

  /** The near-dup pair graph MATERIALIZED as a stored relation
    * (compute-on-write, SURVEY §4.1): the shingle→posting→pair derivation
    * is the most expensive plan in the dedup family, and FOUR consumers
    * need the same pairs (the pair listing itself, the LSH recall
    * invariant's exact arm, cluster resolution, end-to-end removal).
    * Writing the pairs once and serving every consumer from the stored
    * clustered relation is the engine's own compute-on-write thesis
    * applied to its own operators — exactly what [[postingsIdx]] already
    * does for search. Cross-query Spark caching is deliberately NOT the
    * tool here (cache squatting, see [[postingStats]]); storage is. The
    * relation is clustered by `(i, j)`, so per-doc pair lookups prune by
    * file min/max like any other stored view. */
  private val PairViewName = "dedup_pairs"
  private[operators] def pairsView(s: SparkSession, dir: String): DataFrame = {
    val store = Views.store(s, dir)
    // shared by two prewarm steps (itself and baseComponentsView): the
    // memo's lock serializes them
    Views.cached(dir, "pairsView") {
      // durable reopen over an unchanged corpus serves the stored pairs
      if (store.latestVersion(PairViewName).isEmpty)
        store.writeClustered(PairViewName, ngramJaccardPairs(s, dir), Seq("i", "j"))
    }
    store.readLatest(PairViewName)
  }

  /** The pair graph MAINTAINED, not just stored ([[PairGraphIndex]]):
    * built on the base corpus, then taken through the same deterministic
    * document change batch as the incremental postings fixture (`%37`
    * docs rewritten, `%41` tombstoned) via ONE incremental refresh. The
    * oracle re-derives every pair from the modified corpus from scratch,
    * so a stale pair, a missed retraction, or a wrong df-cap membership
    * after the batch is a hash mismatch. */
  private def incPairGraph(s: SparkSession, dir: String): PairGraphIndex =
    pairGraphUnit(s, dir, "pairgraph_inc")(
      new PairGraphIndex(s, _, "pairgraph_inc", MaxShingleDf, JaccardThreshold))

  /** One pair graph as a build unit: built on the base corpus, then
    * ONE incremental refresh through the shared document change batch;
    * `compact` adds the store's no-change compaction epoch over the
    * pair view on top. */
  private def pairGraphUnit(s: SparkSession, dir: String, unit: String,
      compact: Boolean = false)(open: graft.engine.BucketedViewStore => PairGraphIndex): PairGraphIndex = {
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, unit)(open(store)) {
      val g = open(store)
      val d = docs(s, dir)
      g.build(d)
      val (ups, dels) = docChangeBatch(d)
      g.refresh(ups.select("doc_id", "text"), Some(dels.select(col("src_key").as("doc_id"))))
      if (compact) store.compact(g.pairsName, maxFilesPerBucket = 0)
      g
    }
  }

  /** The same incremental machinery instantiated for WINNOW fingerprints
    * (containment overlap instead of Jaccard) — one parameterization of
    * [[PairGraphIndex]], same change batch, graded against the exhaustive
    * substring-containment oracle over the modified corpus. */
  private def incWinnowGraph(s: SparkSession, dir: String): PairGraphIndex =
    pairGraphUnit(s, dir, "winnowgraph_inc")(
      new PairGraphIndex(s, _, "winnowgraph_inc", MaxBandDf, JaccardThreshold,
        keysExpr = "winnow_hashes(text)", containment = true, scoreCol = "overlap"))

  /** The pair graph COMPACTED mid-history: own instance + view names
    * ("pairgraph_compact") in the shared bucketed store, so the shared
    * incremental graph stays untouched — build on the base corpus,
    * refresh through the shared change batch, then run the store's
    * no-change-epoch compaction over the pair view with
    * `maxFilesPerBucket = 0` (every live bucket rewrites, so the epoch
    * bump is deterministic). Two driver gates read it: serving must
    * still equal the modified-corpus from-scratch derivation, and a CDC
    * replay CROSSING the compaction epoch must equal the refresh delta
    * alone — the compaction epoch participates in the feed but
    * contributes no rows (the empty-sidecar property, also asserted
    * directly in PipelineSpec). */
  private[graft] def compactedPairGraph(s: SparkSession, dir: String): PairGraphIndex =
    pairGraphUnit(s, dir, "pairgraph_compact", compact = true)(
      new PairGraphIndex(s, _, "pairgraph_compact", MaxShingleDf, JaccardThreshold))

  /** The BASE corpus's cluster labeling materialized once
    * (compute-on-write): `pipeline_dedup_removal` and any other
    * keeper-set consumer read the stored `(doc_id, component)` relation
    * instead of re-resolving the pair graph per query. */
  private[operators] def baseComponentsView(s: SparkSession, dir: String): ComponentsIndex = {
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, "comp_base")(new ComponentsIndex(s, store, "comp_base")) {
      val ci = new ComponentsIndex(s, store, "comp_base")
      ci.build(pairsView(s, dir).select("i", "j"))
      ci
    }
  }

  /** The components LABELING maintained one relation downstream of the
    * maintained pair graph ([[ComponentsIndex]]): built on the PRE-batch
    * pair set, then updated from the batch's edge-level CDC
    * ([[PairGraphIndex.pairsChanges]]) — only the components an edge
    * change touches are re-resolved. The oracle recomputes the labeling
    * from the modified corpus from scratch (recursive CTE), so a stale
    * label, a missed merge, or an unsplit component is a hash mismatch. */
  private def incComponentsIdx(s: SparkSession, dir: String): ComponentsIndex = {
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, "compgraph_inc")(new ComponentsIndex(s, store, "compgraph_inc")) {
      val g = incPairGraph(s, dir) // built at epoch 0, refreshed to 1
      val ci = new ComponentsIndex(s, store, "compgraph_inc")
      val v = g.pairsVersion
      ci.build(g.pairsAt(v - 1))
      // dirty-region edges read bucket-pruned from the dual-keyed pair
      // view — the labeling refresh never scans the pair relation
      ci.refresh(g.pairsChanges(v - 1, v), g.incidentPairs _)
      ci
    }
  }

  /** The KEEPER MAP maintained one relation further downstream of the
    * labeling: a [[graft.engine.BucketedAggView]] whose base map view
    * emits `component → doc_id` per labeled doc, so the state's
    * `min_value` per component IS the keeper choice (the cluster's
    * minimum member). Built on the PRE-batch labeling, then maintained
    * from the labeling's own CDC feed ([[ComponentsIndex.changes]]) —
    * closing the chain docs → pairs → labeling → keeper map, each stage
    * consuming the previous stage's O(delta) feed with partition-scoped
    * state rewrites at every layer. A dedup-removal pass then reads the
    * keeper set instead of re-aggregating the corpus-sized labeling. */
  private val keeperBaseIdx = MapIndex.columns("keeper_base")(
    col("doc_id").cast("string"),
    array(emit(col("component").cast("string"), col("doc_id"))))
  private def keeperView(s: SparkSession, dir: String): graft.engine.BucketedAggView = {
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, "keeper_inc")(
      graft.engine.BucketedAggView.attach(store, "keeper_state")) {
      val ci = incComponentsIdx(s, dir) // labeling built at e0, refreshed to e1
      val e = ci.epoch
      val v = graft.engine.BucketedAggView.build(
        store, keeperBaseIdx, ci.componentsAt(e - 1), "keeper_state")
      // catch up from the labeling's O(delta) CDC: inserts are the
      // upserts, every touched doc is a delete key (the map-view
      // delete-then-insert contract — tombstoned docs simply re-insert
      // nothing)
      val delta = ci.changes(e - 1, e)
      val ups = delta.filter(col("change_type") === "insert")
        .select("doc_id", "component")
      val delKeys = delta.select(col("doc_id").cast("string").as("src_key")).distinct()
      v.refresh(keeperBaseIdx, ups, Some(delKeys))
      v
    }
  }

  /** The components labeling built PURELY through streaming micro-batches
    * ([[graft.streaming.StreamingPairGraph]] with the labeling chained):
    * three insert batches partitioning the corpus (bootstrap + two
    * incremental refreshes), then the deterministic upsert+tombstone
    * change batch — the full docs → pairs → clusters maintenance chain
    * running per micro-batch, each stage off the previous stage's CDC.
    * The final labeling must hash-match the from-scratch resolution over
    * the modified corpus (same oracle as the batch-incremental path). */
  private def streamedComponentsIdx(s: SparkSession, dir: String): ComponentsIndex = {
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, "compgraph_stream")(
      new ComponentsIndex(s, store, "compgraph_stream")) {
      val ci = new ComponentsIndex(s, store, "compgraph_stream")
      val g = new PairGraphIndex(s, store,
        "pairgraph_stream", MaxShingleDf, JaccardThreshold)
      val spg = new graft.streaming.StreamingPairGraph(g, Some(ci))
      val d = docs(s, dir)
      (0 to 2).foreach(r =>
        spg.applyBatch(d.filter(col("doc_id") % 3 === r)
          .select("doc_id", "text")))
      spg.applyBatch(streamedDocChangeBatch(d))
      ci
    }
  }

  /** EXACT dedup as a MAINTAINED index: a [[graft.engine.BucketedAggView]]
    * over `content_hash → doc_id` emissions, whose state rows ARE the
    * dedup decisions — `min_value` = the keeper, `cnt` = the duplicate
    * count per content hash. A document change batch flows through the
    * ordinary joint base+state refresh: counts delta-merge, keepers
    * recompute only for touched hashes (bucket-pruned), vanished hashes
    * tombstone out — so a 100 TB corpus absorbing a daily delta
    * maintains its exact-dedup index in O(delta) instead of re-hashing
    * the corpus (the `dedup_exact` derivation) per run. */
  private val exactDedupIdx = MapIndex.columns("exact_dedup_base")(
    col("doc_id").cast("string"),
    array(emit(md5(col("text")), col("doc_id"))))
  private def exactDedupView(s: SparkSession, dir: String): graft.engine.BucketedAggView = {
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, "exact_dedup")(
      graft.engine.BucketedAggView.attach(store, "exact_dedup_state")) {
      val d = docs(s, dir).select(col("doc_id").cast("long"), col("text"))
      val v = graft.engine.BucketedAggView.build(
        store, exactDedupIdx, d, "exact_dedup_state")
      val (ups, dels) = docChangeBatch(d)
      v.refresh(exactDedupIdx, ups, Some(dels))
      v
    }
  }

  /** Per-document mixture inputs as a MAINTAINED map view: one emission
    * per doc keyed by its source, carrying exactly what the
    * temperature-mixture accounting needs (the 4-hex md5 prefix that
    * decides inclusion and the token count the budget is denominated
    * in). A doc change batch flows through the ordinary refresh, so the
    * rebalancing pass over a 100 TB corpus reads this compact state
    * relation — clustered by source, two small columns — instead of
    * re-hashing and re-tokenizing every document per run. */
  private val mixtureIdx = MapIndex.columns("mixture_base")(
    col("doc_id").cast("string"),
    array(emit(col("source"), struct(
      substring(md5(col("text")), 1, 4).as("h4"),
      size(split(col("text"), " ")).cast("long").as("toks")))))

  private def mixtureState(s: SparkSession, dir: String): DataFrame = {
    // BUCKETED (keyed by source), not flat: a change batch rewrites only
    // the touched sources' buckets — the partition-scoped I/O contract
    // the store's own incremental thesis demands of corpus-sized state
    val store = Views.bucketedStore(s, dir)
    Views.unit(store.baseDir, "mixture")(()) {
      val d = docs(s, dir)
      store.materialize(mixtureIdx, d)
      val (ups, dels) = docChangeBatch(d)
      store.refresh(mixtureIdx, ups, Some(dels))
      ()
    }
    store.df(mixtureIdx.name)
  }

  /**
   * Shared candidate-generation core for set-overlap dedup: aggregate a
   * `(doc_id, key)` stream into per-key posting lists (df-capped — a hot
   * key is df² candidate pairs of noise), then derive BOTH the pair
   * intersection counts (double explode, i<j) and the per-doc set sizes
   * from that one persisted relation, so the input is computed exactly
   * once. Returns (inter: i,j,inter — sizes: doc_id,n).
   */
  private[operators] def postingStats(items: DataFrame, maxDf: Int): (DataFrame, DataFrame) = {
    // ONE hash-partitioned exchange of the raw (doc_id, key) stream feeds
    // the hot-key count, the anti-join's left side, and the posting-list
    // aggregate (ReuseExchange): without it the hot aggregate and the
    // posting aggregate each re-scan the corpus and re-evaluate the
    // expensive per-doc hash expression (shingle/winnow/band extraction)
    // under their own exchanges — and near-unique keys defeat partial
    // aggregation, so those exchanges carried the same per-item bytes
    // this repartition does (guide §2.4: two operations keyed the same
    // way share one exchange).
    val keyed = items.toDF("doc_id", "key").repartition(col("key"))
    // prune hot keys BEFORE collecting posting lists: count() carries O(1)
    // aggregation state per key, so a corpus-universal key costs nothing —
    // collecting first and filtering after would build an O(corpus) array
    // in one buffer (executor OOM at scale). The hot list is ≤ N/maxDf
    // rows; AQE broadcasts the anti-join.
    val hot = keyed.groupBy("key").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("key")
    // NOT persisted: callers that consume both branches in one action get
    // the scan+hash+shuffle computed once via the reused exchange above;
    // only the post-shuffle aggregates run per branch. A persist here
    // would outlive the query — cache squatting that contaminates
    // whatever runs next (bench-proven).
    val postings = keyed.join(hot, Seq("key"), "left_anti")
      .groupBy("key").agg(collect_list(col("doc_id")).as("docs"))
    val sizes = postings
      .select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = postings
      .select(explode(col("docs")).as("i"), col("docs"))
      .select(col("i"), explode(col("docs")).as("j"))
      .filter(col("i") < col("j"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("inter"))
    (inter, sizes)
  }

  /** Raw MinHash band-collision candidate pairs `(i, j)` — the LSH
    * candidate-generation layer on its own, before any verification.
    * `dedup_minhash_lsh`'s recall invariant measures THIS layer against
    * the exact pair set (banding either co-buckets a true pair or it
    * does not — no verify-definition mismatch in the measurement). */
  private[operators] def minhashCandidates(s: SparkSession, dir: String): DataFrame = {
    Hashes.register(s)
    // docs under 3 tokens have an empty shingle set → the constant
    // all-MaxValue signature → they collide with each other in EVERY
    // band (quadratic blowup on that cohort at scale) yet can never
    // pass the Jaccard verify (0/0). Drop them before banding.
    val d = docs(s, dir).filter(size(split(col("text"), " ")) >= 3)
    // one signature evaluation per doc; posexplode fans out the 16 bands;
    // candidate pairs come from the shared posting-list core, whose df
    // cap IS the hot-bucket prune (a bucket with df docs is df²/2 pairs
    // of noise; a true near-dup still collides in its other 15 bands)
    val bands = d.select(col("doc_id"),
        posexplode(expr("minhash_bands(text)")).as(Seq("band", "bh")))
      .select(col("doc_id"), struct(col("band"), col("bh")).as("key"))
    val (pairs, _) = postingStats(bands, MaxBandDf)
    pairs.select("i", "j")
  }

  /** MinHash+LSH near-dup pairs `(i, j, jaccard)` — 16 bands × 4 rows for
    * candidates, exact token-set Jaccard verify (over FULL shingle sets:
    * the user-facing similarity is the true one, intentionally not the
    * df-capped variant `dedup_ngram_jaccard` computes for scale). The
    * user-facing pair API; the registered `dedup_minhash_lsh` query
    * wraps the candidate layer in a driver-checkable recall invariant. */
  def minhashLshPairs(s: SparkSession, dir: String): DataFrame = {
    Hashes.register(s)
    val d = docs(s, dir).filter(size(split(col("text"), " ")) >= 3)
    val cand = minhashCandidates(s, dir)
    // verify candidates with the exact shingle-set Jaccard (same
    // similarity the signatures approximate); hashed shingle sets make
    // the per-pair intersection a long-array op, not string compares
    val tsets = d.select(col("doc_id"), expr("shingle_hashes(text)").as("ts"))
      .withColumn("nt", size(col("ts")))
    cand
      .join(tsets.select(col("doc_id").as("i"), col("ts").as("ts_i"), col("nt").as("nt_i")), Seq("i"))
      .join(tsets.select(col("doc_id").as("j"), col("ts").as("ts_j"), col("nt").as("nt_j")), Seq("j"))
      .withColumn("inter", size(array_intersect(col("ts_i"), col("ts_j"))))
      // sub-shingle-length docs collide on constant signatures but have
      // empty sets — guard the 0/0 before the threshold filter
      .filter(col("nt_i") + col("nt_j") - col("inter") > 0)
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("nt_i") + col("nt_j") - col("inter")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("i"), col("j"), col("jaccard"))
      .orderBy("i", "j")
  }

  /** SimHash near-dup pairs `(i, j, hamming)`: 8 bands × 8 bits for
    * candidates (any pair with hamming ≤ 7 shares a band), verified by
    * bit_count(xor). The user-facing pair API behind `dedup_simhash`. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    Hashes.register(s)
    // simhash_full = [sh64, band0..band7] in one pass over the tokens;
    // bands and the verify hashes each evaluate it once (the old shape
    // joined sh64 onto every band row BEFORE the self-join — wide rows
    // and ~4 evaluations of the signature)
    val full = docs(s, dir).select(col("doc_id"), expr("simhash_full(text)").as("arr"))
    val hashes = full.select(col("doc_id"), col("arr")(0).as("sh64"))
    val bands = full.select(col("doc_id"),
        posexplode(expr("slice(arr, 2, 8)")).as(Seq("band", "bh")))
      .select(col("doc_id"), struct(col("band"), col("bh")).as("key"))
    val (pairs, _) = postingStats(bands, MaxBandDf)
    pairs.select("i", "j")
      .join(hashes.select(col("doc_id").as("i"), col("sh64").as("h_i")), Seq("i"))
      .join(hashes.select(col("doc_id").as("j"), col("sh64").as("h_j")), Seq("j"))
      .withColumn("hamming", bit_count(col("h_i").bitwiseXOR(col("h_j"))))
      .filter(col("hamming") <= 7)
      .select(col("i"), col("j"), col("hamming"))
      .orderBy("i", "j")
  }

  /** Winnowing (rolling-hash) near-dup pairs `(i, j, overlap)`:
    * MOSS-style character-gram fingerprints guarantee any shared run of
    * ≥ w+k-1 bytes yields a shared fingerprint — catches copy-paste
    * overlap that token-set measures dilute. Overlap = shared /
    * min(|A|, |B|) (containment, so a short doc pasted into a long one
    * still scores high). The user-facing pair API behind `dedup_winnow`. */
  def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    Hashes.register(s)
    val fps = docs(s, dir)
      .select(col("doc_id"), explode(expr("winnow_hashes(text)")).as("fp"))
    // tighter cap than shingles: a 47-byte run shared by hundreds of
    // docs is boilerplate, not copying — and char-gram df distributions
    // are much heavier-tailed than 3-token shingles
    val (shared, sizes) = postingStats(fps, MaxBandDf)
    shared
      .join(sizes.select(col("doc_id").as("i"), col("n").as("n_i")), Seq("i"))
      .join(sizes.select(col("doc_id").as("j"), col("n").as("n_j")), Seq("j"))
      .withColumn("overlap",
        round(col("inter").cast("double") / least(col("n_i"), col("n_j")), 6))
      .filter(col("overlap") >= JaccardThreshold)
      .select(col("i"), col("j"), col("overlap"))
      .orderBy("i", "j")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup: group by content hash, keep lowest doc_id
    "dedup_exact" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("cnt"))
        .orderBy("content_hash")),

    // the exact-dedup decisions served from the MAINTAINED index
    // ([[exactDedupView]]) after the change batch: state rows must equal
    // a from-scratch group-by over the modified corpus — keepers (min
    // doc per hash), counts, and hash membership all exact, including
    // hashes that vanished (every doc tombstoned) or merged (the %37
    // rewrites all collapse onto one text)
    "dedup_exact_incremental" -> ((s, dir) =>
      exactDedupView(s, dir).state
        .select(col("emit_key").as("content_hash"),
          col("min_value").cast("long").as("keeper"), col("cnt"))
        .orderBy("content_hash")),

    // normalization-fingerprint dedup: order-insensitive token-set key
    "dedup_fingerprint" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(T.fingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("cnt"))
        .orderBy("fp")),

    // exact-substring span dedup (the span-level formulation from the
    // public training-data dedup literature): every SpanW-token window
    // shared VERBATIM across ≥2 documents marks its positions, and
    // overlapping/adjacent marked windows merge into maximal spans per
    // document (gaps-and-islands over a per-doc sort window). Shape: one
    // position-exploded window relation, TWO-PHASE dup detection — the
    // corpus-wide shuffle groups on the 64-bit window hash (8-byte keys,
    // not ~50-char strings), then the duplicated-hash candidate subset
    // re-groups on the exact window text (collision-proof, and that
    // subset is duplicated-window-sized, not corpus-sized) — a semi-join
    // back, and a per-doc window pass. No pairwise join anywhere: cost
    // is corpus tokens + duplicated-window volume, not doc pairs.
    "dedup_substring_spans" -> ((s, dir) => {
      // phase 1 hashes windows WITHOUT materializing their text: the
      // corpus-wide exchange previously carried every window's ~50-char
      // string only so the exact phase could group on it — the string
      // rode the shuffle as payload. Hashing the token slice directly
      // (no array_join, no string alloc) shuffles (h, doc_id, pos) only,
      // and the exact tier re-extracts text for the DUPLICATE-SIZED
      // candidate set via [[verifySpanWindows]] — the same two-phase
      // shape every hash-keyed span-store consumer already uses (guide
      // §2.3: shuffle keys and metadata, not payloads). A hash collision
      // can only ADD candidates; the exact `win` grouping below filters
      // them, so the result set is identical.
      val toks = split(lower(col("text")), " ")
      val wins = docs(s, dir).select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= SpanW)
        .select(col("doc_id"), posexplode(expr(
            s"transform(sequence(1, size(toks) - ${SpanW - 1}), p -> xxhash64(slice(toks, p, $SpanW)))"))
            .as(Seq("p0", "h")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
      dupWindowSpans(wins, docs(s, dir))
    }),

    // span detection served from the MAINTAINED window-posting view
    // after the shared document change batch went through its refresh
    // path — the oracle recomputes spans from the modified corpus, so
    // stale windows (a rewritten doc's old windows, a tombstoned doc's
    // any windows) hash-mismatch
    "dedup_substring_incremental" -> ((s, dir) => {
      // hash-keyed store: prune on the stored 64-bit key, then the
      // verify tier re-extracts exact text for the candidate subset only
      val occs = incSpanWinView(s, dir).df
        .select(col("emit_key").as("h"),
          col("emit_value.doc_id").as("doc_id"), col("emit_value.pos").as("pos"))
      // the stored postings are cheap to re-read for the semi-join side,
      // so no repartition here
      dupWindowSpans(occs, modifiedDocs(s, dir))
    }),

    // the same detection from the view built ONLY through streaming
    // micro-batches — identical modified-corpus oracle, so the streaming
    // write path must land exactly the state the batch paths land
    "dedup_substring_streamed" -> ((s, dir) => {
      val occs = streamedSpanWinView(s, dir).df
        .select(col("emit_key").as("h"),
          col("emit_value.doc_id").as("doc_id"), col("emit_value.pos").as("pos"))
      dupWindowSpans(occs, modifiedDocs(s, dir))
    }),

    // removal decisions served from the MAINTAINED window aggregate
    // after the change batch: the hash-keyed state holds, per window
    // hash, cnt (occurrences anywhere — the full repeated-substring
    // rule, within-doc repeats included) as the candidate PRUNE; the
    // verify tier re-extracts exact text for the candidate occurrences
    // and recomputes (cnt, first occurrence) per exact window. Both
    // stored relations are O(delta)-maintained, so query time is a
    // stored read + a duplicate-sized verify + the per-doc merge. The
    // oracle recomputes the decisions from the modified corpus from
    // scratch.
    "dedup_substring_removal_incremental" -> ((s, dir) => {
      val v = spanAggView(s, dir)
      // the state prunes on the stored hash key (cnt >= 2 candidates);
      // the verify tier re-extracts exact text for those occurrences and
      // recomputes the (cnt, first-occurrence) decision per exact window
      // — collision-proof, and the recompute is duplicate-sized
      val candH = v.state.filter(col("cnt") >= 2).select(col("emit_key").as("h"))
      val occs = v.store.df("doc_spanocc")
        .select(col("emit_key").as("h"), col("emit_value").cast("long").as("occ"))
        .join(candH, Seq("h"), "left_semi")
        .select(expr("occ div 1000000").as("doc_id"),
          expr("cast(occ % 1000000 as int)").as("pos"), col("occ"))
      val mod = modifiedDocs(s, dir)
      val withWin = verifySpanWindows(occs, mod)
      val dup = withWin.groupBy("win")
        .agg(count(lit(1)).as("nocc"), min("occ").as("firstk"))
        .filter(col("nocc") >= 2)
      val marked = withWin.join(dup.select("win", "firstk"), Seq("win"))
        .filter(col("occ") =!= col("firstk"))
        .select("doc_id", "pos")
      val modLens = mod.select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tokens"))
      mergeWindowSpans(marked)
        .groupBy("doc_id")
        .agg(sum(col("en") - col("st") + 1).as("removed_tokens"))
        .join(modLens, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("removed_tokens"))
        .orderBy("doc_id")
    }),

    // the REMOVAL accounting downstream of span detection: for every
    // cross-doc duplicated window, the globally-first occurrence (min
    // (doc_id, pos)) survives and every other occurrence is marked;
    // merged marked spans give the tokens a span-level trim pass would
    // cut per document. Same linear shape as the detection query — the
    // keeper choice rides the window groupBy that already exists.
    "dedup_substring_removal" -> ((s, dir) => {
      // served from the STORED window view (materialized at prewarm) —
      // the removal pass is a consumer of the maintained index, not a
      // re-derivation; only the oracle-mirrored detection query above
      // re-tokenizes the corpus
      val occs = spanWinView(s, dir).df
        .select(col("emit_value.doc_id").as("doc_id"),
          col("emit_value.pos").as("pos"), col("emit_key").as("h"))
      // same two-phase prune as the detection query — except the first
      // phase is FREE here: the stored key IS the 64-bit hash, so the
      // corpus-wide shuffle groups 8-byte keys and only the candidate
      // subset re-extracts exact text from the corpus
      // min ≠ max gates — see dedup_substring_spans
      val dupH = occs.groupBy("h")
        .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
        .filter(col("d0") =!= col("d1"))
      val cand0 = occs.join(dupH.select("h"), Seq("h"), "left_semi")
      val cand = verifySpanWindows(cand0, docs(s, dir))
      // (doc_id, pos) packed into one orderable key: pos < 1e6 always
      // (documents are ~100s of tokens; a longer corpus widens the pack)
      val occ = col("doc_id") * lit(1000000L) + col("pos")
      val dup = cand.groupBy("win")
        .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"),
          min(occ).as("firstk"))
        .filter(col("d0") =!= col("d1"))
      val marked = cand.join(dup.select("win", "firstk"), Seq("win"))
        .filter(occ =!= col("firstk"))
        .select("doc_id", "pos")
      mergeWindowSpans(marked)
        .groupBy("doc_id")
        .agg(sum(col("en") - col("st") + 1).as("removed_tokens"))
        .join(spanDocLengths(s, dir), Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("removed_tokens"))
        .orderBy("doc_id")
    }),

    // n-gram Jaccard near-dup over pruned shingle sets. Shape: ONE
    // aggregation of the shingle stream into per-shingle posting lists
    // (df-capped), from which BOTH the candidate pairs (double explode,
    // i<j) and the per-doc set sizes derive — the two consumers read the
    // same exchange (ReusedExchange), so the corpus is scanned and
    // shingled exactly once. No all-pairs join anywhere; the pair stream
    // is Σ df² over capped buckets.
    // one-pass native shingle hashing (no string shingles, no HOF
    // re-evaluation); aggregating on the 64-bit hash gives the same
    // counts at a fraction of the compute and shuffle bytes. No
    // broadcast hint on the sizes side: it is one row per document, so
    // a forced broadcast OOMs the driver at corpus scale — AQE
    // broadcasts it anyway while it is actually small.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      ngramJaccardPairs(s, dir).orderBy("i", "j")),

    // the SAME pair relation served from storage ([[pairsView]]): the
    // derivation above runs once at write time; this is the read path
    // every downstream dedup consumer pays per query
    "dedup_pairs_view" -> ((s, dir) =>
      pairsView(s, dir).orderBy("i", "j")),

    // the pair graph after an INCREMENTAL document change batch
    // ([[incPairGraph]]): O(delta·df) maintenance must reproduce the
    // from-scratch derivation over the modified corpus exactly
    "dedup_pairs_incremental" -> ((s, dir) =>
      incPairGraph(s, dir).pairs.orderBy("i", "j")),

    // winnowing over the INCREMENTALLY maintained fingerprint graph
    // ([[incWinnowGraph]]): candidates from the stored pairs after the
    // change batch, exact substring verify — must reproduce the
    // exhaustive containment pair set of the MODIFIED corpus (the %37
    // rewrites fall under the length floor, the %41 docs are gone; the
    // deletions also un-hot df-capped fingerprints, exercising the
    // downward cap crossing at driver scale)
    "dedup_winnow_incremental" -> ((s, dir) => {
      val d = modifiedDocs(s, dir)
      incWinnowGraph(s, dir).pairs.filter(col("overlap") === 1.0)
        .join(d.select(col("doc_id").as("i"), col("text").as("ti")), Seq("i"))
        .join(d.select(col("doc_id").as("j"), col("text").as("tj")), Seq("j"))
        .filter(least(length(col("ti")), length(col("tj"))) >= ContainMinLen &&
          (col("tj").contains(col("ti")) || col("ti").contains(col("tj"))))
        .select(col("i"), col("j"), col("overlap"))
        .orderBy("i", "j")
    }),

    // MinHash + LSH banding with a driver-checkable invariant: the exact
    // capped-shingle Jaccard pair set (same relation the DuckDB oracle
    // recomputes from scratch) is counted, and the engine asserts the
    // banding layer's recall over it — i.e. that candidate generation
    // co-buckets ≥ MinhashRecallBound of the true near-dup pairs.
    // Measuring the CANDIDATE layer keeps the invariant free of the
    // verify layer's (intentionally different) full-set jaccard
    // definition. `n_exact_pairs` is fully oracle-verified; `recall_ok`
    // is the engine's promise (measured candidate recall is 1.0 at
    // sf0.001/0.01/0.1). Pair-level output for users: [[minhashLshPairs]].
    "dedup_minhash_lsh" -> ((s, dir) => {
      val exact = pairsView(s, dir).select("i", "j")
      val found = minhashCandidates(s, dir).withColumn("f", lit(1L))
      exact.join(found, Seq("i", "j"), "left_outer")
        .agg(count(lit(1)).as("n_exact_pairs"),
          coalesce(sum(col("f")), lit(0L)).as("nf"))
        .select(col("n_exact_pairs"),
          (col("nf") >= col("n_exact_pairs") * lit(MinhashRecallBound)).as("recall_ok"))
    }),

    // SimHash banding with a driver-checkable invariant: against a
    // brute-force hamming-≤7 ground truth over a sample frame (pairs
    // touching doc_id < SampleDocs — full-corpus brute force is O(n²)),
    // assert sample recall ≥ bound and that every emitted pair is valid
    // (recomputed hamming ≤ 7, canonical i<j). The 8×8-bit banding finds
    // EVERY hamming-≤7 pair whose bucket survives the df cap; the cap is
    // the boundedness-vs-recall knob (measured sample recall 1.0 / 0.99 /
    // 0.51 at sf0.001/0.01/0.1 — 8-bit band values are a small key space,
    // so hot buckets appear as the corpus grows). Pair-level output:
    // [[simhashPairs]].
    "dedup_simhash" -> ((s, dir) => {
      Hashes.register(s)
      val hashes = docs(s, dir)
        .select(col("doc_id"), expr("simhash_full(text)")(0).as("h"))
      val brute = hashes.filter(col("doc_id") < SampleDocs)
        .select(col("doc_id").as("a"), col("h").as("ha"))
        .join(hashes.select(col("doc_id").as("b"), col("h").as("hb")),
          col("a") =!= col("b"))
        .withColumn("ham", bit_count(col("ha").bitwiseXOR(col("hb"))))
        .filter(col("ham") <= 7)
        .select(least(col("a"), col("b")).as("i"), greatest(col("a"), col("b")).as("j"))
        .distinct()
      val bp = simhashPairs(s, dir)
      val frame = bp.filter(col("i") < SampleDocs || col("j") < SampleDocs)
        .select(col("i"), col("j")).withColumn("f", lit(1L))
      val rec = brute.join(frame, Seq("i", "j"), "left_outer")
        .agg(count(lit(1)).as("nb"), coalesce(sum(col("f")), lit(0L)).as("nf"))
      // validity of whatever was emitted — an EMPTY pair set is valid (a
      // corpus with no near-dups must not fail the oracle); nonemptiness
      // on corpora known to contain dups is asserted in the spec instead
      val valid = bp.agg(
        coalesce(max(when(col("hamming") > 7 || col("i") >= col("j"), 1).otherwise(0)), lit(0)).as("bad"))
      docs(s, dir).agg(count(lit(1)).as("n_docs"))
        .crossJoin(rec).crossJoin(valid)
        .select(col("n_docs"),
          (col("nf") >= col("nb") * lit(SimhashSampleRecallBound)).as("sample_recall_ok"),
          (col("bad") === 0).as("pairs_valid"))
    }),

    // winnowing fingerprints with a REAL cross-engine oracle: winnow
    // candidate pairs at full containment (overlap = 1.0) verified by an
    // exact substring check must equal the exhaustive containment pair
    // set, because any doc of ≥ w+k-1 bytes contained in another shares
    // ALL its selected fingerprints (window-local selection over
    // identical gram runs picks identical minima). DuckDB recomputes the
    // ground truth with a quadratic contains() join — the scale shape
    // (winnow candidate-gen, exact verify only on candidates) must
    // reproduce it exactly. Boundary condition: a contained doc whose
    // EVERY fingerprint is df-hot (> MaxBandDf) drops out of the posting
    // core entirely and its pair would be missed — that takes ~49+
    // distinct fingerprints each shared by >200 docs, i.e. a doc that is
    // 100% heavily-recurring boilerplate; on such a corpus raise the cap
    // or pre-strip boilerplate. Pair-level overlap output: [[winnowPairs]].
    "dedup_winnow" -> ((s, dir) => {
      val d = docs(s, dir)
      winnowPairs(s, dir).filter(col("overlap") === 1.0)
        .join(d.select(col("doc_id").as("i"), col("text").as("ti")), Seq("i"))
        .join(d.select(col("doc_id").as("j"), col("text").as("tj")), Seq("j"))
        .filter(least(length(col("ti")), length(col("tj"))) >= ContainMinLen &&
          (col("tj").contains(col("ti")) || col("ti").contains(col("tj"))))
        .select(col("i"), col("j"), col("overlap"))
        .orderBy("i", "j")
    }),

    // near-dup cluster resolution: connected components over the
    // ngram-Jaccard pair graph (min-label propagation), so a dedup run
    // can pick ONE keeper per cluster instead of reasoning about pairs.
    // Pregel-style driver loop: each iteration is one join + one
    // aggregation, converging in O(cluster diameter) rounds — near-dup
    // clusters are shallow, so a handful of rounds; the per-round driver
    // work is a single scalar convergence count.
    "dedup_components" -> ((s, dir) =>
      // pairs come from the STORED pair view — each propagation round
      // reads a clustered parquet relation instead of re-deriving the
      // shingle→posting→pair plan inside its lineage (r2: 26 s); resolve
      // still persists it once and picks driver union-find vs the
      // distributed min-label loop by edge count
      Components.resolve(pairsView(s, dir).select("i", "j"))
        .orderBy("doc_id")),

    // the components labeling MAINTAINED as a stored view
    // ([[incComponentsIdx]]): after the incremental pair batch, the
    // stored labeling updated from the pair graph's edge CDC must equal
    // the from-scratch resolution over the modified corpus exactly
    "dedup_components_incremental" -> ((s, dir) =>
      incComponentsIdx(s, dir).components.orderBy("doc_id")),

    // the labeling built PURELY through streaming micro-batches
    // ([[streamedComponentsIdx]]): bootstrap + two incremental thirds +
    // the upsert/tombstone change batch, the whole docs → pairs →
    // clusters chain maintained per batch — the final state must equal
    // the same from-scratch resolution the batch-incremental path is
    // graded against
    "dedup_components_streamed" -> ((s, dir) =>
      streamedComponentsIdx(s, dir).components.orderBy("doc_id")),

    // end-to-end removal served from the MAINTAINED chain after the
    // change batch: keepers = the keeper-map aggregate's min-member per
    // live cluster ([[keeperView]], maintained from the labeling CDC)
    // ∪ never-paired docs (anti-join against the maintained labeling).
    // The oracle recomputes keepers from scratch over the modified
    // corpus with a recursive CTE — a stale keeper row, a missed
    // cluster merge, or an unretracted component is a hash mismatch
    "pipeline_dedup_removal_incremental" -> ((s, dir) => {
      val ci = incComponentsIdx(s, dir)
      val kv = keeperView(s, dir)
      val d = modifiedDocs(s, dir)
      val keepers = d.join(ci.components.select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id")
        .union(kv.state.select(col("min_value").cast("long").as("doc_id")))
      d.join(keepers, Seq("doc_id"), "left_semi")
        .withColumn("n_tokens", size(T.tokens(col("text"))).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("lang")
    }),

    // the pair graph's OWN change feed, driver-gated directly: the batch
    // refresh's CDC sidecar, netted (a pair retracted and re-inserted at
    // the same score is no change), must equal the logical diff between
    // the from-scratch pair derivations over the original and modified
    // corpora — DuckDB recomputes both sides and takes the symmetric
    // difference, so an over- or under-retraction in the sidecar is a
    // hash mismatch
    "dedup_pairs_changefeed" -> ((s, dir) => {
      val g = incPairGraph(s, dir)
      val feed = g.pairsChanges(g.pairsVersion - 1, g.pairsVersion)
        .select(col("i"), col("j"), col("jaccard"), col("change_type"))
      graft.engine.MaterializedView.nettedFeed(feed)
        .orderBy("change_type", "i", "j")
    }),

    // the pair graph served ACROSS a compaction epoch: after build +
    // incremental refresh, the store compacted every pair bucket (a
    // no-change epoch) — the served relation must still equal the
    // modified-corpus from-scratch derivation exactly (any row the
    // rewrite perturbed fails the hash gate)
    "dedup_pairs_compacted" -> ((s, dir) =>
      compactedPairGraph(s, dir).pairs.orderBy("i", "j")),

    // CDC replay CROSSING the compaction epoch: (build, latest] covers
    // the refresh AND the compaction, and must net to the refresh delta
    // alone because the compaction epoch contributes no rows — the same
    // before/after oracle as dedup_pairs_changefeed grades it
    "dedup_pairs_compacted_changefeed" -> ((s, dir) => {
      val g = compactedPairGraph(s, dir)
      val feed = g.pairsChanges(0, g.pairsVersion)
        .select(col("i"), col("j"), col("jaccard"), col("change_type"))
      graft.engine.MaterializedView.nettedFeed(feed)
        .orderBy("change_type", "i", "j")
    }),

    // deterministic content-hash train/valid split: assignment depends
    // only on the document bytes (stable across runs, partitionings, and
    // re-ingestion — unlike rand()-based sampling), ~1/16 to valid
    "sample_hash_split" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("split",
          when(substring(md5(col("text")), 1, 1) === "0", "valid").otherwise("train"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")),

    // stratified sampling with per-language target rates, deterministic:
    // hex digits compare lexicographically as their numeric value, so
    // `substr(md5(text),1,4) < threshold` keeps exactly threshold/0x10000
    // of the hash space per stratum — stable across runs, partitionings,
    // and cluster sizes (no rand()), and scan-local at 100 TB: the keep
    // decision needs only the row itself, no shuffle before the count agg
    "sample_stratified" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("thr",
          when(col("lang") === "en", "4000")        // 25 % of the dominant lang
            .when(col("lang") === "zh", "c000")     // 75 % of the rarest
            .otherwise("8000"))                     // 50 % elsewhere
        .withColumn("kept",
          (substring(md5(col("text")), 1, 4) < col("thr")).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_sampled"))
        .orderBy("lang")),

    // training-mix assembly: each source shard gets a target inclusion
    // rate (the "data mixture" a pretraining run specifies); inclusion is
    // the same deterministic hex-threshold hash as sample_stratified, and
    // the output accounts the mixture in TOKENS (what the training budget
    // is actually denominated in), not documents. Scan-local keep
    // decision + one aggregation — the 100 TB shape
    "pipeline_mixture" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("thr",
          // even-numbered sources are "high-quality" (75 %), the rest 25 %
          when(regexp_extract(col("source"), "\\d+", 0).cast("int") % 2 === 0, "c000")
            .otherwise("4000"))
        .withColumn("kept",
          (substring(md5(col("text")), 1, 4) < col("thr")).cast("long"))
        .withColumn("toks", size(T.tokens(col("text"))).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum("kept").as("n_sampled"),
          sum(when(col("kept") === 1, col("toks")).otherwise(0L)).as("sampled_tokens"),
          sum("toks").as("total_tokens"))
        .orderBy("source")),

    // temperature-rebalanced mixture (the multilingual/domain resampling
    // rule from public multilingual-pretraining recipes: sample source d
    // with probability ∝ n_d^τ, τ = 1/2, up-weighting rare sources
    // relative to their natural share). Unlike pipeline_mixture the rates
    // are DERIVED from corpus statistics, not hand-fixed: a #sources-row
    // aggregate computes integer weights w_d = floor(sqrt(n_d)), and the
    // acceptance threshold floor(65536·w_d·N / (Σw·n_d)) (clamped to the
    // full hash space) is EXACT integer arithmetic end-to-end — no
    // float-sum association at the keep boundary, so any engine
    // re-deriving the rates agrees bit-for-bit. The keep decision is the
    // same scan-local hex-threshold hash as sample_stratified; the rates
    // relation is #sources-sized → broadcast, so at 100 TB this is two
    // corpus scans (stats + apply) and zero data-sized shuffles
    "pipeline_mixture_temperature" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = d.groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("w", floor(sqrt(col("n"))))
      val tot = w.agg(sum("n").as("total"), sum("w").as("wsum"))
      val rates = w.crossJoin(broadcast(tot))
        .withColumn("thr_i",
          expr("least(65536L, (65536L * w * total) div (wsum * n))"))
        .select(col("source"), col("thr_i"))
      d.join(broadcast(rates), "source")
        .withColumn("kept",
          (col("thr_i") >= 65536L ||
            substring(md5(col("text")), 1, 4) <
              format_string("%04x", col("thr_i"))).cast("long"))
        .withColumn("toks", size(T.tokens(col("text"))).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("thr_i")).as("thr"),
          sum("kept").as("n_sampled"),
          sum(when(col("kept") === 1, col("toks")).otherwise(0L)).as("sampled_tokens"))
        .orderBy("source")
    }),

    // the SAME temperature rebalancing served from maintained state after
    // the shared change batch: per-doc hash prefix + token count come
    // from [[mixtureView]] (refreshed through the %37-rewrite/%41-
    // tombstone batch), per-source counts — and therefore the thresholds
    // themselves — are re-derived from that state, never from the
    // corpus. The oracle recomputes rates AND accounting from the
    // modified corpus, so a stale count, hash, or token sum anywhere in
    // the maintained state shifts a threshold or a sum and fails the
    // hash gate
    "pipeline_mixture_temperature_incremental" -> ((s, dir) => {
      val st = mixtureState(s, dir)
        .select(col("emit_key").as("source"),
          col("emit_value.h4").as("h4"), col("emit_value.toks").as("toks"))
      val w = st.groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("w", floor(sqrt(col("n"))))
      val tot = w.agg(sum("n").as("total"), sum("w").as("wsum"))
      val rates = w.crossJoin(broadcast(tot))
        .withColumn("thr_i",
          expr("least(65536L, (65536L * w * total) div (wsum * n))"))
        .select(col("source"), col("thr_i"))
      st.join(broadcast(rates), "source")
        .withColumn("kept",
          (col("thr_i") >= 65536L ||
            col("h4") < format_string("%04x", col("thr_i"))).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("thr_i")).as("thr"),
          sum("kept").as("n_sampled"),
          sum(when(col("kept") === 1, col("toks")).otherwise(0L)).as("sampled_tokens"))
        .orderBy("source")
    }),

    // per-domain token-budget cap with quality-ranked keep (the "cap how
    // much any one crawl domain contributes" curation rule): within each
    // source, documents are ranked best-first (n_chars as the quality
    // key, doc_id tiebreak) and kept while the budget lasts — a doc is
    // kept iff the tokens BEFORE it (exclusive prefix sum) are under the
    // cap, the same belongs-where-it-starts convention as
    // pipeline_pack_sequences, so every source keeps ≥ 1 doc. Scale
    // shape: a per-domain approx-quantile PRE-FILTER shrinks the exact
    // sort window to ~cap-sized candidates — without it a single
    // mega-domain serializes its whole doc set through one sort task
    // even though ranking stops mattering past the budget. Keep-safety
    // is exact, not probabilistic: a source's cut applies ONLY if the
    // strictly-above-cut token mass already exhausts the cap (so every
    // excluded doc's exclusive prefix provably ≥ cap → never kept, and
    // boundary ties are admitted); a source failing that check admits
    // everything. The output is therefore bit-identical to the
    // unfiltered spelling for ANY cut value. All pre-filter inputs are
    // #sources-sized aggregates broadcast back to the scan.
    "pipeline_domain_cap" -> ((s, dir) => domainCapped(
      docs(s, dir).withColumn("toks", size(T.tokens(col("text"))).cast("long"))
        .select(col("source"), col("doc_id"), col("n_chars"), col("toks")),
      10000L)),

    // concat-and-chunk sequence packing (the standard LLM-pretraining
    // packing): per source shard, documents are laid end-to-end in doc_id
    // order and the token stream is cut every PackBudget tokens; a doc
    // belongs to the pack where it STARTS. One window per source — the
    // 100 TB shape is embarrassingly parallel across shards (each source's
    // prefix-sum is independent; no global coordination), unlike a single
    // global greedy packer which would serialize the whole corpus
    "pipeline_pack_sequences" -> ((s, dir) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir)
        .withColumn("toks", size(T.tokens(col("text"))).cast("long"))
        .withColumn("strt", sum("toks").over(w) - col("toks"))
        .withColumn("pack_id", floor(col("strt") / PackBudget).cast("long"))
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("pack_tokens"))
        .orderBy("source", "pack_id")
    }),

    // keyword search served from the MATERIALIZED inverted index
    // (postingsView above), deterministic integer TF-IDF:
    // score = Σ_terms tf · (1e6 div df) — integer division keeps every
    // intermediate exact (float idf would make cross-engine hash equality
    // a rounding lottery). Scale shape: the term filter is a pushed
    // predicate on the clustered emit_key, so only the query terms'
    // posting lists are read (not the corpus); postings have one row per
    // (doc, term), so per-term df is a plain count; df is a tiny
    // broadcast; the final top-k is TakeOrderedAndProject (no global
    // sort materialization)
    "search_tfidf" -> ((s, dir) => tfidfSearch(postingsView(s, dir).df)),

    // the SAME search served from an index that was incrementally
    // refreshed (doc rewrites + tombstones through the map-view
    // maintenance path) — the oracle recomputes from the modified corpus,
    // so search results prove the index state is current, not stale
    "search_tfidf_incremental" -> ((s, dir) => tfidfSearch(incPostingsView(s, dir).df)),

    // BM25 ranked retrieval from the stored postings + the single-row
    // corpus-stats aggregate state: no corpus scan at query time at all —
    // the plan reads the matched terms' pruned posting lists and one
    // stored stats row (the spelling that holds at 100 TB)
    "search_bm25" -> ((s, dir) =>
      bm25Search(bm25View(s, dir).df, lenAgg(s, dir).state)),

    // the same search after a document change batch went through BOTH
    // maintained inputs' incremental refresh paths (postings via the map
    // view, N/avgdl via the aggregate state) — the oracle recomputes from
    // the modified corpus, so stale postings OR stale stats hash-mismatch
    "search_bm25_incremental" -> ((s, dir) =>
      bm25Search(incBm25View(s, dir).df, incLenAgg(s, dir).state)),

    // BM25 with every maintained input built PURELY through streaming
    // micro-batches ([[streamedLmViews]] — the postings map view AND the
    // N/avgdl length state bootstrap through three insert thirds, then
    // the shared upsert/tombstone batch through the streaming contract's
    // `deleted` split): the streaming write path must land exactly the
    // state the batch-incremental path lands, so the SAME modified-
    // corpus oracle as search_bm25_incremental grades it
    "search_bm25_streamed" -> ((s, dir) => {
      val (post, _, lens) = streamedLmViews(s, dir)
      bm25Search(post.df, lens.state)
    }),

    // unigram-LM quality scoring (the CCNet/KenLM perplexity-filter
    // shape): per-doc average token log-probability under the corpus's
    // own unigram model, every input a maintained view — postings for
    // per-doc (token, tf, dl), the token-count aggregate state for the
    // collection frequencies, the one-row length stats for the total
    "text_lm_score" -> ((s, dir) =>
      lmScores(bm25View(s, dir).df, unigramAgg(s, dir).state,
        lenAgg(s, dir).state)),

    // the same scores after the shared document change batch went through
    // ALL THREE maintained inputs' refresh paths — the oracle recomputes
    // the model and the scores from the modified corpus, so a stale
    // posting list, token count, or total is a hash mismatch
    "text_lm_score_incremental" -> ((s, dir) =>
      lmScores(incBm25View(s, dir).df, incUnigramAgg(s, dir).state,
        incLenAgg(s, dir).state)),

    // the same scores with every maintained input built PURELY through
    // streaming micro-batches (postings + token counts + length stats;
    // bootstrap thirds then the shared upsert/tombstone batch) — the
    // streaming write path graded against the identical modified-corpus
    // recompute as the batch-incremental query
    "text_lm_score_streamed" -> ((s, dir) => {
      val (post, toks, lens) = streamedLmViews(s, dir)
      lmScores(post.df, toks.state, lens.state)
    }),

    // DSIR-style importance weighting for data selection (public recipe:
    // "importance resampling" — score every raw document by the
    // log-likelihood RATIO between a target-distribution LM and the raw
    // LM, then sample by weight): avg per-token log(p_target/p_raw)
    // under add-1-smoothed unigram models, target = the lang='en'
    // subset. Every model input is a maintained view (raw + target
    // token-count states, raw + target totals, stored postings); the
    // vocabulary size for smoothing is an aggregate over the
    // vocabulary-sized state relation, never a corpus scan
    "pipeline_importance_weights" -> ((s, dir) =>
      importanceWeights(bm25View(s, dir).df,
        unigramAgg(s, dir).state, unigramTgtAgg(s, dir).state,
        lenAgg(s, dir).state, lenTgtAgg(s, dir).state)),

    // the same data-selection scores after the shared document change
    // batch went through EVERY model input's refresh path — postings,
    // both token-count states (raw and target), both totals. The oracle
    // recomputes both smoothed models over the modified corpus, so any
    // stale state (e.g. a target model still counting a rewritten
    // English document's old tokens) is a hash mismatch
    "pipeline_importance_weights_incremental" -> ((s, dir) =>
      importanceWeights(incBm25View(s, dir).df,
        incUnigramAgg(s, dir).state, incUnigramTgtAgg(s, dir).state,
        incLenAgg(s, dir).state, incLenTgtAgg(s, dir).state)),

    // hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25 arm
    // (maintained postings + stats) and the dense arm (cosine against a
    // fixed probe embedding, doc_id ↔ vec_id) — the keyword ∪ vector
    // union a modern retrieval stack serves. Each arm contributes
    // 1/(60+rank) over its top-50; ranks are total orders (rounded
    // score desc, id asc) so the fusion is exactly reproducible. The
    // dense arm here is the exact tier; any ANN tier (LSH/IVF/SQ/PQ)
    // plugs into the same fusion shape when recall<1 is acceptable.
    "search_hybrid_rrf" -> ((s, dir) => {
      graft.functions.VectorFunctions.register(s)
      val bmScored = bm25Scores(bm25View(s, dir).df, lenAgg(s, dir).state)
      // per-arm top-50 via orderBy().limit() — TakeOrderedAndProject, the
      // search_tfidf shape: per-partition heaps, 50·partitions rows to
      // the driver, NEVER every scored row through one task. The rank
      // number is assigned AFTER the limit: TakeOrderedAndProject emits
      // one already-sorted partition, so the row_number window over the
      // 50-row result needs no exchange and no sort (plan-asserted)
      val wB = Window.orderBy(col("score").desc, col("doc_id"))
      val bm50 = bmScored.orderBy(col("score").desc, col("doc_id")).limit(50)
        .withColumn("r", row_number().over(wB))
        .select(col("doc_id"), (lit(1.0) / (col("r") + 60)).as("s_bm"))
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("norm", sqrt(expr("vec_dot(v, v)")))
        .filter(col("norm") > 0)
      val probe = e.filter(col("vec_id") === 0)
        .select(col("v").as("pv"), col("norm").as("pn"))
      val cosd = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .withColumn("c", round(expr("vec_dot(pv, v)") / (col("pn") * col("norm")), 6))
        .select(col("vec_id").as("doc_id"), col("c"))
      val wV = Window.orderBy(col("c").desc, col("doc_id"))
      val v50 = cosd.orderBy(col("c").desc, col("doc_id")).limit(50)
        .withColumn("r", row_number().over(wV))
        .select(col("doc_id"), (lit(1.0) / (col("r") + 60)).as("s_v"))
      bm50.join(v50, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(coalesce(col("s_bm"), lit(0.0)) + coalesce(col("s_v"), lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    }),

    // end-to-end curation: fingerprint-dedup keepers ∩ language-ID
    // agreement ∩ minimum length — the composed filter chain a training
    // data pipeline actually ships, in one declarative plan (semi-join on
    // the keeper set, everything else scan-local predicates)
    "pipeline_curate" -> ((s, dir) => {
      val keepers = docs(s, dir)
        .groupBy(T.fingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("doc_id"))
      docs(s, dir)
        .join(keepers.select("doc_id"), Seq("doc_id"), "left_semi")
        .withColumn("pred_lang", T.langId(col("text")))
        .filter(col("pred_lang") === col("lang"))
        .withColumn("n_tokens", size(T.tokens(col("text"))).cast("long"))
        .filter(col("n_tokens") >= 20)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("lang")
    }),

    // end-to-end near-dup REMOVAL: resolve ngram-Jaccard pair clusters to
    // components, keep the minimum doc per cluster plus every unpaired
    // doc, and report the surviving corpus per language — the full
    // "dedup the training set" operation in one query. Oracle recomputes
    // the keeper set from scratch with a recursive CTE.
    "pipeline_dedup_removal" -> ((s, dir) => {
      // (doc_id, component=min of cluster) from the STORED labeling
      // ([[baseComponentsView]]) — the removal pass is a consumer of the
      // maintained chain, not a second resolution of it; the live
      // resolution path stays demonstrated by `dedup_components`
      val comp = baseComponentsView(s, dir).components
      val d = docs(s, dir)
      // keepers: each cluster's component id IS its minimum member, so
      // distinct components ∪ never-paired docs (anti-join) = keep set
      val keepers = d.join(comp.select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id")
        .union(comp.select(col("component").as("doc_id")).distinct())
      d.join(keepers, Seq("doc_id"), "left_semi")
        .withColumn("n_tokens", size(T.tokens(col("text"))).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("lang")
    }),

    // decontamination via bloom pruning: remove from the train split every
    // doc whose token-set fingerprint appears in the valid split (the
    // "eval-set leakage" removal every training pipeline runs). Scale
    // shape: the filter is built over the SMALL side and shipped into a
    // scan predicate over the big side — the "definitely clean" mass
    // (1 - fpp of it) skips the join entirely; only bloom hits pay the
    // exact anti-join that makes the final answer exact regardless of
    // false positives. A plain anti-join would shuffle the whole corpus;
    // Spark's own AQE runtime bloom filters use the identical pattern.
    // The one driver round-trip is the finished filter binary (~90 KB),
    // the same cost class as Spark's reused-subquery runtime filter.
    "pipeline_decontaminate" -> ((s, dir) => {
      graft.functions.Bloom.register(s)
      val d = docs(s, dir)
        .withColumn("fp", T.fingerprint(col("text")))
        .withColumn("split",
          when(substring(md5(col("text")), 1, 1) === "0", "valid").otherwise("train"))
      val evalSet = d.filter(col("split") === "valid")
      val train = d.filter(col("split") === "train")
      val bloomBytes = evalSet.select(xxhash64(col("fp")).as("h"))
        .agg(expr("bloom_build(h, 100000, 0.01)")).head.getAs[Array[Byte]](0)
      val probed = train.withColumn("maybe",
        call_function("bloom_contains", lit(bloomBytes), xxhash64(col("fp"))))
      val cols = Seq(col("doc_id"), col("lang"), col("text"))
      val keepClean = probed.filter(!col("maybe")).select(cols: _*)
      val keepVerified = probed.filter(col("maybe"))
        .join(evalSet.select("fp").distinct(), Seq("fp"), "left_anti")
        .select(cols: _*)
      keepClean.union(keepVerified)
        .withColumn("n_tokens", size(T.tokens(col("text"))).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("lang")
    }),

    // n-gram-overlap decontamination: remove from the train split every
    // doc sharing ANY token shingle with the valid split — the
    // "n-gram decontamination" rule training pipelines run against eval
    // sets (exact-fingerprint removal catches only verbatim copies; a
    // doc QUOTING an eval answer shares its n-grams without matching its
    // fingerprint). Scale shape: one equi-join on the 64-bit shingle
    // hash — the eval shingle set is deduped and the train side
    // semi-joins against it, so the shuffle is on the shingle key space
    // and the probe never materializes pairs. Shingle width is the
    // sensitivity knob (3-token here for the synthetic corpus; a
    // production run uses 13-grams, which make collisions rare enough
    // that the contaminated set stays small).
    "pipeline_decontaminate_ngram" -> ((s, dir) => {
      Hashes.register(s)
      val d = docs(s, dir)
        .withColumn("split",
          when(substring(md5(col("text")), 1, 1) === "0", "valid").otherwise("train"))
      val evalShingles = d.filter(col("split") === "valid")
        .select(explode(expr("shingle_hashes(text)")).as("sh")).distinct()
      val train = d.filter(col("split") === "train")
      val contaminated = train
        .select(col("doc_id"), explode(expr("shingle_hashes(text)")).as("sh"))
        .join(evalShingles, Seq("sh"), "left_semi")
        .select("doc_id").distinct()
      train.join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("n_tokens", size(T.tokens(col("text"))).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("lang")
    }),

    // ---- text analysis ---------------------------------------------------
    "text_quality" -> ((s, dir) => {
      val t = T.tokens(col("text"))
      val nTokens = size(t).cast("long")
      val sumLen = aggregate(t, lit(0), (acc, x) => acc + length(x)).cast("long")
      val nStop = T.stopwordCount(col("text")).cast("long")
      val nSub = size(split(col("text"), "[^a-z0-9]+")).cast("long")
      val avgTok = round(col("sum_len").cast("double") / col("n_tokens"), 4)
      val stopR = round(col("n_stop").cast("double") / col("n_tokens"), 6)
      docs(s, dir).select(col("doc_id"),
          nTokens.as("n_tokens"), sumLen.as("sum_len"), nStop.as("n_stop"), nSub.as("n_subtokens"))
        .withColumn("avg_tok_len", avgTok)
        .withColumn("stop_ratio", stopR)
        // weights chosen so the 7th decimal of the sum is never exactly 5:
        // ratio*0.4 ends in an even 1e-7 digit and the length term has only
        // 3 decimals — round(,6) then has no half-ulp tie to disagree on
        .withColumn("quality_score",
          round(col("stop_ratio") * 0.4 + least(col("n_tokens"), lit(100L)).cast("double") * 0.006, 6))
        .orderBy("doc_id")
    }),

    // composite rule-based quality gate (the C4/Gopher-style filter
    // chain a pretraining pipeline actually ships): length window, mean
    // token length, stopword floor, single-token repetition cap, distinct
    // -token floor — every rule scan-local, the verdict one boolean AND,
    // reported per source with a per-rule failure breakdown (the
    // operational view: WHICH rule is eating a source's docs)
    "text_c4_filters" -> ((s, dir) => {
      val toks = split(lower(col("text")), " ")
      val base = docs(s, dir).select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        aggregate(toks, lit(0), (a, x) => a + length(x)).cast("long").as("sum_len"),
        T.stopwordCount(col("text")).cast("long").as("n_stop"),
        array_max(transform(array_distinct(toks),
          t => size(filter(toks, x => x === t)))).cast("long").as("max_rep"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      val meanLen = col("sum_len").cast("double") / col("n_tokens")
      val flagged = base
        .withColumn("ok_len", col("n_tokens").between(20, 400))
        .withColumn("ok_mean", meanLen >= 3.0 && meanLen <= 6.0)
        .withColumn("ok_stop", col("n_stop") >= 1)
        .withColumn("ok_rep",
          col("max_rep").cast("double") / col("n_tokens") <= 0.2)
        .withColumn("ok_dist",
          col("n_distinct").cast("double") / col("n_tokens") >= 0.4)
        .withColumn("pass", col("ok_len") && col("ok_mean") && col("ok_stop") &&
          col("ok_rep") && col("ok_dist"))
      flagged.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(!col("ok_len"), 1L).otherwise(0L)).as("n_fail_len"),
          sum(when(!col("ok_mean"), 1L).otherwise(0L)).as("n_fail_meanlen"),
          sum(when(!col("ok_rep"), 1L).otherwise(0L)).as("n_fail_rep"),
          sum(when(!col("ok_dist"), 1L).otherwise(0L)).as("n_fail_distinct"),
          sum(when(col("pass"), col("n_tokens")).otherwise(0L)).as("pass_tokens"))
        .orderBy("source")
    }),

    // language-ID heuristic (marker-token argmax) vs the labeled lang:
    // confusion-matrix counts
    "text_langid" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("pred_lang", T.langId(col("text")))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "pred_lang")),

    // vocabulary heavy hitters: every token above 1% corpus frequency,
    // EXACTLY, through the Misra-Gries sketch — tokens are hashed to
    // 64-bit keys for the O(k)-state sketch pass, candidates semi-join
    // back to the token stream, and the exact count + threshold filter
    // pins the answer (a hash collision only ever ADDS a candidate,
    // which the exact filter then rejects; a frequent token's hash count
    // ≥ its own count, so the MG completeness guarantee still holds).
    "text_top_tokens" -> ((s, dir) => {
      graft.functions.Sketches.register(s)
      val toks = docs(s, dir)
        .select(explode(T.tokens(lower(col("text")))).as("token"))
      val hashed = toks.select(col("token"), xxhash64(col("token")).as("h"))
      val cand = hashed.agg(expr("heavy_hitters(h, 100)").as("cand"))
        .select(explode(col("cand")).as("h"))
      val total = toks.agg(count(lit(1)).as("n"))
      hashed.join(broadcast(cand), Seq("h"), "left_semi")
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") > col("n") / 100.0)
        .select(col("token"), col("cnt"))
        .orderBy("token")
    }),

    // overlapping token-window chunking — the pretraining/RAG chunker:
    // 32-token windows at stride 24 (8-token overlap), one output row per
    // chunk. Scale shape: a scan-local explode whose fan-out is
    // tokens/stride per doc — no shuffle until the caller aggregates;
    // chunk_hash stands in for shipping the chunk text through the gate
    "text_chunks" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("t", split(col("text"), " "))
        .withColumn("st", explode(expr("sequence(0, size(t) - 1, 24)")))
        .withColumn("chunk", expr("slice(t, st + 1, 32)"))
        .select(col("doc_id"), (col("st") / lit(24)).cast("long").as("chunk_id"),
          size(col("chunk")).cast("long").as("n_chunk_tokens"),
          md5(array_join(col("chunk"), " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")),

    // repeated-trigram ratio: the boilerplate/degenerate-text quality
    // signal (a doc that is one phrase looped has ratio → 1). Shingles
    // WITH multiplicity — intentionally not the distinct sets the dedup
    // family uses, repetition is exactly the multiplicity
    "text_repetition" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("t", split(col("text"), " "))
        .withColumn("sh", when(size(col("t")) >= 3,
            expr("transform(sequence(0, size(t) - 3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"))
          .otherwise(array().cast("array<string>")))
        .withColumn("n_sh", size(col("sh")).cast("long"))
        .withColumn("n_uniq", size(array_distinct(col("sh"))).cast("long"))
        .withColumn("rep_ratio", when(col("n_sh") > 0,
            round(lit(1.0) - col("n_uniq").cast("double") / col("n_sh"), 6))
          .otherwise(lit(0.0)))
        .select(col("doc_id"), col("n_sh"), col("n_uniq"), col("rep_ratio"))
        .orderBy("doc_id")),

    // PII scrub: count and redact email/phone patterns per document,
    // reported per language. Counting runs on the original text; the
    // redaction replaces emails first, then phones on the result — the
    // oracle applies the identical order so overlap resolves identically.
    "text_pii_scrub" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("n_email", regexp_count(col("text"), lit(T.EmailPattern)).cast("long"))
        .withColumn("n_phone", regexp_count(col("text"), lit(T.PhonePattern)).cast("long"))
        .withColumn("redacted",
          regexp_replace(regexp_replace(col("text"), T.EmailPattern, "<EMAIL>"),
            T.PhonePattern, "<PHONE>"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_email").as("n_emails"),
          sum("n_phone").as("n_phones"),
          sum(length(col("redacted")).cast("long")).as("redacted_chars"))
        .orderBy("lang")),

    "text_tokens" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("n_tokens", size(T.tokens(col("text"))).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          round(avg("n_tokens"), 4).as("avg_tokens"))
        .orderBy("lang")),

    // BPE-style pre-tokenizer counts (GPT-2-ish segmentation: contraction
    // suffixes, space-prefixed letter/digit runs, punctuation runs) — the
    // token-budget estimate a training pipeline runs before the real BPE
    "text_bpe_tokens" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("n_bpe",
          size(regexp_extract_all(col("text"), lit(T.BpeishPattern), lit(0))).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_bpe").as("total_bpe"),
          round(avg("n_bpe"), 4).as("avg_bpe"))
        .orderBy("lang")),
  )

  private def langScoreSql(markers: Seq[String]): String =
    s"len(list_filter(string_split(lower(text), ' '), x -> x IN (${markers.map(m => s"'$m'").mkString(", ")})))"

  private val langCaseSql: String = {
    val scores = T.langMarkers.map { case (l, m) => l -> langScoreSql(m) }
    val g = s"greatest(${scores.map(_._2).mkString(", ")})"
    val whens = scores.map { case (l, sc) => s"WHEN $sc = $g THEN '$l'" }.mkString(" ")
    s"CASE $whens ELSE 'en' END"
  }

  private val stopListSql = T.stopwords.map(w => s"'$w'").mkString(", ")

  /** The from-scratch pair derivation in DuckDB SQL, over any relation
    * exposing `(doc_id, text)` — `src` is a table name or parenthesized
    * subquery. Shared by the batch query, the stored view, and the
    * incrementally-maintained pair graph (over the modified corpus). */
  private def ngramJaccardSqlFrom(src: String): String =
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |sh AS (SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
       |       FROM tok, UNNEST(range(len(t) - 2)) AS u(i)),
       |rare AS (SELECT * FROM sh
       |         WHERE s IN (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MaxShingleDf)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
       |          FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT t.i, t.j, round(t.inter * 1.0 / (sa.n + sb.n - t.inter), 6) AS jaccard
       |FROM inter t
       |JOIN sizes sa ON sa.doc_id = t.i
       |JOIN sizes sb ON sb.doc_id = t.j
       |WHERE round(t.inter * 1.0 / (sa.n + sb.n - t.inter), 6) >= $JaccardThreshold
       |ORDER BY i, j""".stripMargin

  private val ngramJaccardSql: String = ngramJaccardSqlFrom("documents")

  /** Connected components (component = min reachable doc_id) over a pair
    * SQL relation, as a DuckDB recursive CTE — the cross-engine ground
    * truth both the per-query resolution and the maintained labeling are
    * graded against. */
  private def componentsSqlFrom(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS (SELECT i, j FROM ($pairsSql)),
       |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS doc_id, least(a, min(b)) AS component
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** The `tok` CTE of the tokenizing gates: each document's lower-cased
    * tokens, over the base corpus or (`modified`) over the preceding
    * `corpus` CTE of [[modifiedCorpusSql]]. */
  private def docTokensSql(modified: Boolean): String =
    if (modified)
      s"""${modifiedCorpusSql("corpus", "doc_id", lower = true)},
         |tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)""".stripMargin
    else
      """tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)""".stripMargin

  /** Substring dedup over [[docTokensSql]]: every 7-token window, the
    * duplicate windows `dupHit` picks (its `dup` and `hit` CTEs), their
    * gaps-and-islands merge over window start positions into maximal
    * `spans`, then `select`. */
  private def spanChainSql(modified: Boolean, dupHit: String, select: String): String =
    s"""WITH ${docTokensSql(modified)},
       |win AS (
       |  SELECT doc_id, pos, array_to_string(toks[pos:pos+7], ' ') AS win
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS pos FROM tok)),
       |$dupHit,
       |isl AS (
       |  SELECT doc_id, pos,
       |         max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM hit),
       |num AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END AS ni
       |  FROM isl),
       |sp AS (
       |  SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS g
       |  FROM num),
       |spans AS (
       |  SELECT doc_id, g, min(pos) AS st, max(pos + 7) AS en FROM sp GROUP BY 1, 2)
       |$select""".stripMargin
  /** Spans per document of the windows shared by >= 2 documents. */
  private def spanCountSql(modified: Boolean): String =
    spanChainSql(modified,
      """dup AS (
        |  SELECT win FROM win GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
        |hit AS (SELECT doc_id, pos FROM win JOIN dup USING (win))""".stripMargin,
      """SELECT doc_id, count(*) AS n_spans, CAST(sum(en - st + 1) AS BIGINT) AS dup_tokens
        |FROM spans GROUP BY 1 ORDER BY doc_id""".stripMargin)
  /** Keep-first removal accounting: per window whose `repeats` count is
    * >= 2, the occurrence with the smallest (doc_id, pos) — packed as
    * doc_id·1e6 + pos — survives; the rest are removed. */
  private def spanRemovalSql(modified: Boolean, repeats: String): String =
    spanChainSql(modified,
      s"""dup AS (
         |  SELECT win, min(doc_id * 1000000 + pos) AS firstk
         |  FROM win GROUP BY win HAVING $repeats >= 2),
         |hit AS (
         |  SELECT doc_id, pos FROM win JOIN dup USING (win)
         |  WHERE doc_id * 1000000 + pos <> firstk)""".stripMargin,
      """SELECT s.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |       CAST(sum(s.en - s.st + 1) AS BIGINT) AS removed_tokens
        |FROM spans s JOIN tok t ON s.doc_id = t.doc_id
        |GROUP BY 1, 2 ORDER BY s.doc_id""".stripMargin)

  /** The BM25 inputs over [[docTokensSql]] for the four query terms: the
    * CTEs `stats` (N, avgdl = double(Σdl)/N), `tf` and `dfq`. */
  private def bm25TermsSql(modified: Boolean): String =
    s"""${docTokensSql(modified)},
       |stats AS (
       |  SELECT count(*) AS n, CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
       |  FROM tok),
       |tf AS (
       |  SELECT doc_id, len(toks) AS dl, w, count(*) AS tf
       |  FROM (SELECT doc_id, toks, unnest(toks) AS w FROM tok) u
       |  WHERE w IN ('spark', 'vector', 'join', 'stream')
       |  GROUP BY 1, 2, 3),
       |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1)""".stripMargin
  /** BM25 top 20, k1=1.2 / b=0.75, the arithmetic written op-for-op like
    * the engine's scorer (idf = ln(1 + (N-df+0.5)/(df+0.5))) so
    * round(…,4) hashes agree. */
  private def bm25Sql(modified: Boolean): String =
    s"""WITH ${bm25TermsSql(modified)}
       |SELECT tf.doc_id,
       |       round(sum( ln(1 + (n - df + 0.5) / (df + 0.5))
       |                * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) ), 4) AS score
       |FROM tf JOIN dfq USING (w) CROSS JOIN stats
       |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Per-document unigram counts over [[docTokensSql]], as the CTE `tf`. */
  private def unigramTfSql(modified: Boolean): String =
    s"""${docTokensSql(modified)},
       |tf AS (
       |  SELECT doc_id, len(toks) AS dl, w, count(*) AS tf
       |  FROM (SELECT doc_id, toks, unnest(toks) AS w FROM tok) u
       |  GROUP BY 1, 2, 3)""".stripMargin
  /** Unigram model + scores: ctf/total as doubles, ln(ctf/total) in the
    * same operation order as the engine. */
  private def lmScoreSql(modified: Boolean): String =
    s"""WITH ${unigramTfSql(modified)},
       |ctf AS (SELECT w, CAST(sum(tf) AS DOUBLE) AS ctf FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM tf)
       |SELECT doc_id, dl AS n_tokens,
       |       round(sum(tf * ln(ctf / total)) / dl, 4) AS avg_logprob
       |FROM tf JOIN ctf USING (w) CROSS JOIN tot
       |GROUP BY doc_id, dl ORDER BY doc_id""".stripMargin

  /** TF-IDF top 20 of the four query terms, over the base corpus or the
    * modified one. */
  private def tfidfSql(modified: Boolean): String = {
    val tok =
      if (modified)
        s"""${modifiedCorpusSql("corpus", "doc_id", lower = true)},
           |tok AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)""".stripMargin
      else
        """tok AS (
          |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)""".stripMargin
    s"""WITH $tok,
       |tf AS (
       |  SELECT doc_id, w, count(*) AS tf FROM tok
       |  WHERE w IN ('spark', 'vector', 'join', 'stream') GROUP BY 1, 2),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1)
       |SELECT tf.doc_id, CAST(sum(tf.tf * (1000000 // df.df)) AS BIGINT) AS score
       |FROM tf JOIN df USING (w) GROUP BY tf.doc_id
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  /** Temperature-mixture rates (sqrt-count weights) and sampling
    * accounting per source, over the base corpus or the modified one. */
  private def temperatureMixtureSql(modified: Boolean): String = {
    val (corpus, docs) =
      if (modified) (modifiedCorpusSql("m", "doc_id, source", lower = false) + ",\n", "m")
      else ("", "documents")
    s"""WITH ${corpus}s AS (
       |  SELECT source, count(*) AS n,
       |         CAST(floor(sqrt(count(*))) AS BIGINT) AS w
       |  FROM $docs GROUP BY source),
       |t AS (SELECT sum(n) AS total, sum(w) AS wsum FROM s),
       |r AS (
       |  SELECT source,
       |         CAST(least(65536, (65536 * w * total) // (wsum * n))
       |              AS BIGINT) AS thr
       |  FROM s, t)
       |SELECT d.source, count(*) AS n_docs, max(r.thr) AS thr,
       |  CAST(sum(CASE WHEN r.thr >= 65536
       |                  OR substr(md5(d.text), 1, 4) < printf('%04x', r.thr)
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |  CAST(sum(CASE WHEN r.thr >= 65536
       |                  OR substr(md5(d.text), 1, 4) < printf('%04x', r.thr)
       |           THEN len(string_split(d.text, ' ')) ELSE 0 END) AS BIGINT)
       |    AS sampled_tokens
       |FROM $docs d JOIN r ON d.source = r.source
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  /** Near-duplicate removal accounting per language: the n-gram Jaccard
    * pair graph's components keep their least doc id, singletons stay;
    * over the base corpus or the modified one. */
  private def dedupRemovalSql(modified: Boolean): String = {
    val (corpus, docs, pairs) =
      if (modified) (modifiedCorpusSql("docs_m", "doc_id, lang", lower = false) + ",\n", "docs_m",
        ngramJaccardSqlFrom(modifiedDocsSql))
      else ("", "documents", ngramJaccardSql)
    s"""WITH RECURSIVE ${corpus}pairs AS (SELECT i, j FROM ($pairs)),
       |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
       |         FROM reach GROUP BY a),
       |keepers AS (
       |  SELECT DISTINCT component AS doc_id FROM comp
       |  UNION
       |  SELECT doc_id FROM $docs
       |  WHERE doc_id NOT IN (SELECT doc_id FROM comp))
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
       |FROM $docs JOIN keepers USING (doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Every containment pair of relation `docs` (one text a substring of
    * the other, both >= the winnow guarantee floor). */
  private def containmentSql(docs: String): String =
    s"""SELECT a.doc_id AS i, b.doc_id AS j, CAST(1.0 AS DOUBLE) AS overlap
       |FROM $docs a JOIN $docs b ON a.doc_id < b.doc_id
       |WHERE least(length(a.text), length(b.text)) >= $ContainMinLen
       |  AND (contains(a.text, b.text) OR contains(b.text, a.text))
       |ORDER BY i, j""".stripMargin

  private val oracleBase: Map[String, String] = Map(
    // the incrementally-maintained pair graph must equal the from-scratch
    // derivation over the MODIFIED corpus
    "dedup_pairs_incremental" -> ngramJaccardSqlFrom(modifiedDocsSql),
    // the incrementally-maintained winnow graph must reproduce the
    // exhaustive containment pair set of the MODIFIED corpus
    "dedup_winnow_incremental" -> containmentSql(modifiedDocsSql),
    // n_exact_pairs is recomputed from scratch by DuckDB; recall_ok is the
    // engine's asserted invariant (see the query's Scaladoc for measured
    // values behind the bound)
    "dedup_minhash_lsh" ->
      s"""SELECT count(*) AS n_exact_pairs, true AS recall_ok
         |FROM ($ngramJaccardSql)""".stripMargin,
    "dedup_simhash" ->
      """SELECT count(*) AS n_docs, true AS sample_recall_ok, true AS pairs_valid
        |FROM documents""".stripMargin,
    // exhaustive ground truth: every containment pair — the engine must
    // reproduce this exactly from winnow candidates + verify
    "dedup_winnow" -> containmentSql("documents"),
    "dedup_components" -> componentsSqlFrom(ngramJaccardSql),
    // the incrementally-maintained labeling must equal the from-scratch
    // resolution over the MODIFIED corpus's pair graph
    "dedup_components_incremental" ->
      componentsSqlFrom(ngramJaccardSqlFrom(modifiedDocsSql)),
    // keepers recomputed from scratch over the MODIFIED corpus — what the
    // CDC-maintained keeper map must serve
    "pipeline_dedup_removal_incremental" -> dedupRemovalSql(modified = true),
    // the netted pair CDC must equal the symmetric difference of the
    // from-scratch derivations over the original and modified corpora
    "dedup_pairs_changefeed" ->
      s"""WITH before AS (SELECT * FROM ($ngramJaccardSql)),
         |after AS (SELECT * FROM (${ngramJaccardSqlFrom(modifiedDocsSql)}))
         |SELECT i, j, jaccard, 'delete' AS change_type
         |FROM (SELECT * FROM before EXCEPT SELECT * FROM after)
         |UNION ALL
         |SELECT i, j, jaccard, 'insert' AS change_type
         |FROM (SELECT * FROM after EXCEPT SELECT * FROM before)
         |ORDER BY change_type, i, j""".stripMargin,
    "pipeline_dedup_removal" -> dedupRemovalSql(modified = false),
    "text_top_tokens" ->
      """WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS token
        |             FROM documents),
        |n AS (SELECT count(*) AS n FROM tok)
        |SELECT token, count(*) AS cnt FROM tok
        |GROUP BY token HAVING count(*) > (SELECT n FROM n) / 100.0
        |ORDER BY token""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS cnt
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,
    // the maintained exact-dedup index must equal the from-scratch
    // group-by over the MODIFIED corpus
    "dedup_exact_incremental" ->
      s"""SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS cnt
         |FROM $modifiedDocsSql GROUP BY md5(text) ORDER BY content_hash""".stripMargin,
    "dedup_fingerprint" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp,
        |       min(doc_id) AS keeper, count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    // spans recomputed from scratch: same window width, same
    // gaps-and-islands merge over window start positions
    "dedup_substring_spans" -> spanCountSql(modified = false),
    // spans recomputed from the MODIFIED corpus (the %37 rewrite is
    // 4 tokens — below the window width, so those docs contribute none)
    "dedup_substring_incremental" -> spanCountSql(modified = true),
    // keep-first removal accounting over windows shared by >= 2 docs
    "dedup_substring_removal" -> spanRemovalSql(modified = false, "count(DISTINCT doc_id)"),
    // the maintained-decision variant: OCCURRENCE-based rule (a window
    // repeated anywhere ≥2 times, within-doc included), recomputed from
    // the MODIFIED corpus from scratch
    "dedup_substring_removal_incremental" -> spanRemovalSql(modified = true, "count(*)"),
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "text_quality" ->
      s"""SELECT doc_id,
         |       len(string_split(text, ' ')) AS n_tokens,
         |       CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS BIGINT) AS sum_len,
         |       len(list_filter(string_split(lower(text), ' '), x -> x IN ($stopListSql))) AS n_stop,
         |       len(string_split_regex(text, '[^a-z0-9]+')) AS n_subtokens,
         |       round(list_sum(list_transform(string_split(text, ' '), x -> length(x))) * 1.0
         |             / len(string_split(text, ' ')), 4) AS avg_tok_len,
         |       round(len(list_filter(string_split(lower(text), ' '), x -> x IN ($stopListSql))) * 1.0
         |             / len(string_split(text, ' ')), 6) AS stop_ratio,
         |       round(round(len(list_filter(string_split(lower(text), ' '), x -> x IN ($stopListSql))) * 1.0
         |                   / len(string_split(text, ' ')), 6) * 0.4
         |             + least(len(string_split(text, ' ')), 100) * 0.006, 6) AS quality_score
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_c4_filters" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, source,
         |         len(toks) AS n_tokens,
         |         list_sum(list_transform(toks, x -> length(x))) AS sum_len,
         |         len(list_filter(toks, x -> x IN ($stopListSql))) AS n_stop,
         |         list_max(list_transform(list_distinct(toks),
         |           t2 -> len(list_filter(toks, x -> x = t2)))) AS max_rep,
         |         len(list_distinct(toks)) AS n_distinct
         |  FROM t),
         |f AS (
         |  SELECT source, n_tokens,
         |         (n_tokens BETWEEN 20 AND 400) AS ok_len,
         |         (CAST(sum_len AS DOUBLE) / n_tokens >= 3.0
         |          AND CAST(sum_len AS DOUBLE) / n_tokens <= 6.0) AS ok_mean,
         |         (n_stop >= 1) AS ok_stop,
         |         (CAST(max_rep AS DOUBLE) / n_tokens <= 0.2) AS ok_rep,
         |         (CAST(n_distinct AS DOUBLE) / n_tokens >= 0.4) AS ok_dist
         |  FROM m),
         |g AS (
         |  SELECT source, n_tokens, ok_len, ok_mean, ok_rep, ok_dist,
         |         (ok_len AND ok_mean AND ok_stop AND ok_rep AND ok_dist) AS pass
         |  FROM f)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |       CAST(sum(CASE WHEN NOT ok_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
         |       CAST(sum(CASE WHEN NOT ok_mean THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_meanlen,
         |       CAST(sum(CASE WHEN NOT ok_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_rep,
         |       CAST(sum(CASE WHEN NOT ok_dist THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_distinct,
         |       CAST(sum(CASE WHEN pass THEN n_tokens ELSE 0 END) AS BIGINT) AS pass_tokens
         |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "text_langid" ->
      s"""SELECT lang, $langCaseSql AS pred_lang, count(*) AS cnt
         |FROM documents GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin,
    "sample_hash_split" ->
      """SELECT lang,
        |       CASE WHEN substr(md5(text), 1, 1) = '0' THEN 'valid' ELSE 'train' END AS split,
        |       count(*) AS n_docs
        |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "sample_stratified" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN substr(md5(text), 1, 4) <
        |                  CASE lang WHEN 'en' THEN '4000' WHEN 'zh' THEN 'c000' ELSE '8000' END
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "pipeline_mixture" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN substr(md5(text), 1, 4) <
        |    CASE WHEN CAST(regexp_extract(source, '\d+', 0) AS INT) % 2 = 0
        |         THEN 'c000' ELSE '4000' END
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  CAST(sum(CASE WHEN substr(md5(text), 1, 4) <
        |    CASE WHEN CAST(regexp_extract(source, '\d+', 0) AS INT) % 2 = 0
        |         THEN 'c000' ELSE '4000' END
        |    THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS sampled_tokens,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "pipeline_mixture_temperature" -> temperatureMixtureSql(modified = false),
    // rates AND accounting re-derived from the MODIFIED corpus — the
    // incremental path must land on exactly this
    "pipeline_mixture_temperature_incremental" -> temperatureMixtureSql(modified = true),
    "pipeline_domain_cap" ->
      """WITH t AS (
        |  SELECT source, doc_id, n_chars,
        |         len(string_split(text, ' ')) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT source, toks,
        |         COALESCE(sum(toks) OVER (PARTITION BY source
        |             ORDER BY n_chars DESC, doc_id
        |             ROWS UNBOUNDED PRECEDING) - toks, 0) AS strt
        |  FROM t)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN strt < 10000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CASE WHEN strt < 10000 THEN toks ELSE 0 END) AS BIGINT)
        |    AS kept_tokens
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "pipeline_pack_sequences" ->
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS toks FROM documents),
        |c AS (
        |  SELECT source, toks,
        |         sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |                         ROWS UNBOUNDED PRECEDING) - toks AS strt
        |  FROM t)
        |SELECT source, CAST(floor(strt / 256.0) AS BIGINT) AS pack_id,
        |       count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS pack_tokens
        |FROM c GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin,
    "search_tfidf" -> tfidfSql(modified = false),
    // the search recomputed over the MODIFIED corpus — what the
    // incrementally-refreshed index must serve
    "search_tfidf_incremental" -> tfidfSql(modified = true),
    // BM25 recomputed from scratch: same k1 / b, op-for-op arithmetic
    "search_bm25" -> bm25Sql(modified = false),
    "search_bm25_incremental" -> bm25Sql(modified = true),
    // unigram model + scores recomputed from scratch
    "text_lm_score" -> lmScoreSql(modified = false),
    "text_lm_score_incremental" -> lmScoreSql(modified = true),
    // both smoothed unigram models recomputed from scratch; the ratio
    // arithmetic mirrors the engine op-for-op (add-1 numerators,
    // total+V denominators as doubles, ln of the quotient)
    "pipeline_importance_weights" ->
      s"""WITH ${unigramTfSql(modified = false)},
         |raw AS (SELECT w, CAST(sum(tf) AS DOUBLE) AS cr FROM tf GROUP BY 1),
         |tgt AS (
         |  SELECT w, CAST(sum(tf) AS DOUBLE) AS ct
         |  FROM tf JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1),
         |tots AS (SELECT CAST(sum(tf) AS DOUBLE) AS total_r,
         |                (SELECT count(*) FROM raw) AS v FROM tf),
         |tott AS (
         |  SELECT CAST(coalesce(sum(tf), 0) AS DOUBLE) AS total_t
         |  FROM tf JOIN documents USING (doc_id) WHERE lang = 'en')
         |SELECT tf.doc_id, dl AS n_tokens,
         |       round(sum(tf * (ln((coalesce(ct, 0) + 1) / (total_t + v))
         |                     - ln((cr + 1) / (total_r + v)))) / dl, 4) + 0 AS avg_logratio
         |FROM tf JOIN raw USING (w) LEFT JOIN tgt USING (w)
         |     CROSS JOIN tots CROSS JOIN tott
         |GROUP BY tf.doc_id, dl ORDER BY tf.doc_id""".stripMargin,
    // both smoothed models recomputed over the MODIFIED corpus (lang
    // rides along from documents — rewrites don't change it)
    "pipeline_importance_weights_incremental" ->
      s"""WITH ${modifiedCorpusSql("corpus", "doc_id, lang", lower = true)},
         |tok AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM corpus),
         |tf AS (
         |  SELECT doc_id, lang, len(toks) AS dl, w, count(*) AS tf
         |  FROM (SELECT doc_id, lang, toks, unnest(toks) AS w FROM tok) u
         |  GROUP BY 1, 2, 3, 4),
         |raw AS (SELECT w, CAST(sum(tf) AS DOUBLE) AS cr FROM tf GROUP BY 1),
         |tgt AS (
         |  SELECT w, CAST(sum(tf) AS DOUBLE) AS ct
         |  FROM tf WHERE lang = 'en' GROUP BY 1),
         |tots AS (SELECT CAST(sum(tf) AS DOUBLE) AS total_r,
         |                (SELECT count(*) FROM raw) AS v FROM tf),
         |tott AS (
         |  SELECT CAST(coalesce(sum(tf), 0) AS DOUBLE) AS total_t
         |  FROM tf WHERE lang = 'en')
         |SELECT tf.doc_id, dl AS n_tokens,
         |       round(sum(tf * (ln((coalesce(ct, 0) + 1) / (total_t + v))
         |                     - ln((cr + 1) / (total_r + v)))) / dl, 4) + 0 AS avg_logratio
         |FROM tf JOIN raw USING (w) LEFT JOIN tgt USING (w)
         |     CROSS JOIN tots CROSS JOIN tott
         |GROUP BY tf.doc_id, dl ORDER BY tf.doc_id""".stripMargin,
    // both arms recomputed from scratch: BM25 exactly as search_bm25,
    // dense cosine exactly as the similarity oracles (double math
    // spelled out), fused by rank only — so the engine's maintained-view
    // arms must land the identical ordering
    "search_hybrid_rrf" ->
      s"""WITH ${bm25TermsSql(modified = false)},
         |bm AS (
         |  SELECT tf.doc_id,
         |         round(sum( ln(1 + (n - df + 0.5) / (df + 0.5))
         |                  * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) ), 4) AS score
         |  FROM tf JOIN dfq USING (w) CROSS JOIN stats GROUP BY 1),
         |bmr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM bm),
         |bm50 AS (SELECT doc_id, CAST(1.0 AS DOUBLE) / (r + 60) AS s_bm FROM bmr WHERE r <= 50),
         |cosc AS (
         |  SELECT e.vec_id AS doc_id,
         |         round((list_sum([CAST(p.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE) for i in range(64)])
         |          / (sqrt(list_sum([CAST(p.embedding[i+1] AS DOUBLE) * CAST(p.embedding[i+1] AS DOUBLE) for i in range(64)]))
         |             * sqrt(list_sum([CAST(e.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE) for i in range(64)])))), 6) AS c
         |  FROM embeddings e, embeddings p
         |  WHERE p.vec_id = 0 AND e.vec_id <> 0),
         |vr AS (SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS r FROM cosc),
         |v50 AS (SELECT doc_id, CAST(1.0 AS DOUBLE) / (r + 60) AS s_v FROM vr WHERE r <= 50)
         |SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
         |       round(COALESCE(s_bm, 0) + COALESCE(s_v, 0), 6) AS rrf
         |FROM bm50 b FULL OUTER JOIN v50 v ON b.doc_id = v.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "pipeline_curate" ->
      s"""WITH k AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')))
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
         |FROM documents JOIN k USING (doc_id)
         |WHERE $langCaseSql = lang AND len(string_split(text, ' ')) >= 20
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // the bloom is an engine-side pruning detail — the exact verify step
    // makes the answer identical to the plain fingerprint anti-join the
    // oracle computes
    "pipeline_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |         md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp,
        |         CASE WHEN substr(md5(text), 1, 1) = '0' THEN 'valid' ELSE 'train' END AS split
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM t
        |WHERE split = 'train'
        |  AND fp NOT IN (SELECT fp FROM t WHERE split = 'valid')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the engine joins on 64-bit shingle hashes; the oracle recomputes
    // the SAME shingle sets as strings (the dedup_ngram_jaccard mirror),
    // so a dropped/spurious contamination hit is a hash mismatch
    "pipeline_decontaminate_ngram" ->
      """WITH d AS (
        |  SELECT doc_id, lang, text,
        |         CASE WHEN substr(md5(text), 1, 1) = '0' THEN 'valid' ELSE 'train' END AS split
        |  FROM documents),
        |tok AS (SELECT doc_id, split, string_split(text, ' ') AS t FROM d),
        |sh AS (SELECT DISTINCT doc_id, split, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
        |       FROM tok, UNNEST(range(len(t) - 2)) AS u(i)),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM sh
        |  WHERE split = 'train'
        |    AND s IN (SELECT s FROM sh WHERE split = 'valid'))
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM d
        |WHERE split = 'train'
        |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_chunks" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |c AS (SELECT doc_id, unnest(range(0, len(t), 24)) AS st, t FROM tok)
        |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id,
        |       CAST(len(t[st+1 : st+32]) AS BIGINT) AS n_chunk_tokens,
        |       md5(array_to_string(t[st+1 : st+32], ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "text_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(t) >= 3
        |              THEN list_transform(range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
        |              ELSE [] END AS s
        |       FROM tok)
        |SELECT doc_id, len(s) AS n_sh, len(list_distinct(s)) AS n_uniq,
        |       CASE WHEN len(s) > 0
        |            THEN round(1.0 - len(list_distinct(s)) * 1.0 / len(s), 6)
        |            ELSE 0.0 END AS rep_ratio
        |FROM sh ORDER BY doc_id""".stripMargin,
    "text_pii_scrub" -> {
      val e = T.EmailPattern
      val p = T.PhonePattern
      s"""SELECT lang, count(*) AS n_docs,
         |       CAST(sum(len(regexp_extract_all(text, '$e'))) AS BIGINT) AS n_emails,
         |       CAST(sum(len(regexp_extract_all(text, '$p'))) AS BIGINT) AS n_phones,
         |       CAST(sum(length(regexp_replace(regexp_replace(text, '$e', '<EMAIL>', 'g'),
         |                                      '$p', '<PHONE>', 'g'))) AS BIGINT) AS redacted_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
    },
    "text_tokens" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_bpe_tokens" -> {
      val p = T.BpeishPattern.replace("'", "''") // SQL string-literal quoting
      s"""SELECT lang, count(*) AS n_docs,
         |       CAST(sum(len(regexp_extract_all(text, '$p'))) AS BIGINT) AS total_bpe,
         |       round(avg(len(regexp_extract_all(text, '$p'))), 4) AS avg_bpe
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
    },
  )

  /** Twin gates graded by another gate's oracle: compaction, a streamed
    * build or a stored view must be invisible to serving, so the twin's
    * expected answer is its base's. */
  val oracle: Map[String, String] = oracleBase ++ Seq(
    // post-compaction serving: identical ground truth as the
    // uncompacted maintained graph
    "dedup_pairs_compacted" -> "dedup_pairs_incremental",
    // the feed across the compaction epoch nets to the same pair CDC
    "dedup_pairs_compacted_changefeed" -> "dedup_pairs_changefeed",
    // the streaming-built labeling is graded against the identical
    // from-scratch ground truth as the batch-incremental path
    "dedup_components_streamed" -> "dedup_components_incremental",
    // the streaming-built window view serves the same modified-corpus
    // ground truth as the batch-refreshed one
    "dedup_substring_streamed" -> "dedup_substring_incremental",
    // the stored pair view must serve byte-identical pairs to the
    // from-scratch derivation the oracle recomputes
    "dedup_pairs_view" -> "dedup_ngram_jaccard",
    // the streaming-built postings + stats must serve the identical
    // modified-corpus recompute as the batch-incremental pair
    "search_bm25_streamed" -> "search_bm25_incremental",
    // the streamed model must land the identical modified-corpus scores
    "text_lm_score_streamed" -> "text_lm_score_incremental",
  ).map { case (twin, base) => twin -> oracleBase(base) }
}
