package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming transforms (SURVEY.md §2.9): the reference's per-batch
  * semantics restated correctly, plus the stateful event-time operators
  * its architecture diagram aspired to but never implemented
  * (watermarked windows, streaming dedup).
  */
object StreamOps {

  /** Canonical stamped batch-id string — the ONE formatter shared by
    * the metadata stamp, the multi-sink counts, and the dashboard
    * (divergent formats would break the dashboard's id matching). */
  def formatBatchId(batchId: Long): String = f"batch_$batchId%06d"

  /** Per-micro-batch metadata stamp. The reference computes the batch id
    * ONCE at plan-construction time and injects it as a literal
    * (consumer/StreamProcessor.scala:34-38) — a run id, not a batch id.
    * The correct form takes foreachBatch's batchId argument; the column
    * contract (batch_id string + processing_time) is preserved.
    */
  def stampBatchMeta(df: DataFrame, batchId: Long): DataFrame =
    df.withColumn("batch_id", lit(formatBatchId(batchId)))
      .withColumn("processing_time", current_timestamp())

  /** Null event-time repair (consumer/StreamProcessor.scala:95-101):
    * missing timestamps fall back to processing time so downstream
    * event-time logic never sees null. */
  def repairNullTs(df: DataFrame, tsCols: Seq[String]): DataFrame =
    tsCols.foldLeft(df)((d, c) =>
      d.withColumn(c, coalesce(col(c), current_timestamp())))

  /** The reference's flagship per-batch aggregation
    * (consumer/StreamProcessor.scala:44-83): counts by two key columns,
    * tagged and unioned on a shared key name. Runs INSIDE foreachBatch
    * on the micro-batch frame — per-batch counts, not running totals,
    * exactly the reference's semantics. */
  def taggedKeyCounts(batch: DataFrame, keyA: String, tagA: String,
      keyB: String, tagB: String): DataFrame =
    graft.operators.Relational.taggedKeyCounts(batch, keyA, tagA, keyB, tagB,
      keyCast = "string")

  /** True streaming tumbling-window counts — the stateful form the
    * reference never reached: watermark bounds state, window() buckets
    * event time, partial aggregation happens map-side per micro-batch.
    * Output mode Update (or Append after watermark close).
    */
  def tumblingCounts(stream: DataFrame, tsCol: String, windowLen: String,
      keyCol: String, watermarkDelay: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(keyCol), col("n_events"))

  /** Sliding-window variant: window(ts, len, slide). */
  def slidingCounts(stream: DataFrame, tsCol: String, windowLen: String,
      slide: String, keyCol: String, watermarkDelay: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(keyCol), col("n_events"))

  /** Session windows on the stream via the session_window built-in:
    * state closes `gap` after the last event per key once the watermark
    * passes. Batch analog: Relational.sessionize (oracle-checked). */
  def sessionWindows(stream: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermarkDelay: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyCol), col("n_events"))

  /** Streaming exact dedup with bounded state: duplicates arriving
    * within the watermark horizon are dropped; state for a key is freed
    * once the watermark passes its event time. The streaming form of
    * Dedup.exactDupGroups' keep-first semantics. */
  def dedupWithinWatermark(stream: DataFrame, tsCol: String,
      keyCols: Seq[String], watermarkDelay: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-dup dedup on content signature: each row gains the
    * per-row portable simhash (a stateless expression —
    * Dedup.withSimhashColumn, bit-identical to the batch signature) and
    * duplicates-by-signature within the watermark horizon are dropped.
    * Catches reformatted re-posts of the same content (token-multiset-
    * identical docs share a signature: case, whitespace, layout), not
    * just byte-identical rows, while the dedup state is keyed by a
    * single long instead of the raw text — the streaming face of the
    * simhash dedup surface. First-in-horizon wins, same as
    * [[dedupWithinWatermark]].
    */
  def nearDupDedupWithinWatermark(stream: DataFrame, tsCol: String,
      textCol: String, watermarkDelay: String,
      signatureCol: String = "simhash"): DataFrame =
    graft.operators.Dedup.withSimhashColumn(stream, textCol, signatureCol)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq(signatureCol))

  /** Streaming self-information scoring against a FROZEN unigram model
    * (TextAnalysis.selfInfoModel output, typically read back from
    * parquet) — the fit-batch / score-stream shape of the CCNet-style
    * statistical quality filter: arriving documents explode to tokens,
    * stream-static join the (vocabulary-bounded) model for per-token
    * surprisal, and re-aggregate to a per-doc mean inside an
    * event-time window so state retires at the watermark (a bare
    * groupBy(id) would hold every doc id forever). A document's tokens
    * arrive in its own single row, so the windowed re-agg sees them
    * together — the window is state hygiene, not semantics. Algebraic
    * mean (the streaming-compatible flavor); OOV tokens are skipped by
    * the inner join, as in the batch scorer. Output: (window, id,
    * n_tokens, self_info).
    */
  def selfInfoWithinWindow(stream: DataFrame, model: DataFrame,
      idCol: String, textCol: String, tsCol: String,
      windowDuration: String, watermarkDelay: String): DataFrame =
    stream.select(col(idCol), col(tsCol),
        explode(graft.functions.TextFns.bpeishTokens(col(textCol)))
          .as("__tok"))
      .withWatermark(tsCol, watermarkDelay)
      .join(model, col("__tok") === col("__ftok"))
      .groupBy(window(col(tsCol), windowDuration), col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("__info")), 4).as("self_info"))

  /** Streaming n-GRAM self-information scoring against a FROZEN
    * conditional model (TextAnalysis.selfInfoNgramModel output) — the
    * order-aware sibling of [[selfInfoWithinWindow]], same shape:
    * arriving documents explode to (context, token) positions (pure
    * per-row expressions + one generator), stream-static join the
    * type-bounded model on (ctx, tok), and re-aggregate per doc
    * inside an event-time window so state retires at the watermark.
    * Out-of-model positions (and docs under n tokens) are skipped by
    * the inner join, as in the batch scorer. `n` MUST match the model
    * fit. Output: (window, id, n_ngrams, self_info_lm).
    */
  def selfInfoNgramWithinWindow(stream: DataFrame, model: DataFrame,
      idCol: String, textCol: String, tsCol: String, n: Int,
      windowDuration: String, watermarkDelay: String): DataFrame =
    graft.operators.TextAnalysis
      .ngramRows(stream, textCol, n, col(idCol), col(tsCol))
      .withWatermark(tsCol, watermarkDelay)
      .join(model, col("__prev") === col("__fprev") &&
        col("__tok2") === col("__ftok"))
      .groupBy(window(col(tsCol), windowDuration), col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        round(avg(col("__info2")), 4).as("self_info_lm"))

  /** Streaming OOV-rate scoring against a FROZEN vocabulary
    * (TextAnalysis.vocabulary output, typically read back from
    * parquet) — the tokenizer-coverage gate on the arrival path, same
    * shape as [[selfInfoWithinWindow]]: tokens explode per row (pure
    * expressions + one generator), the membership check is a
    * stream-static LEFT join against the size-bounded broadcast
    * vocab, and the per-doc re-aggregation runs inside an event-time
    * window so state retires at the watermark (a doc's tokens arrive
    * in its own single row — the window is state hygiene, not
    * semantics). Output: (window, id, n_tokens, n_oov, oov_rate).
    */
  def oovWithinWindow(stream: DataFrame, vocab: DataFrame,
      idCol: String, textCol: String, tsCol: String,
      windowDuration: String, watermarkDelay: String): DataFrame =
    stream.select(col(idCol), col(tsCol),
        explode(graft.functions.TextFns.bpeishTokens(col(textCol)))
          .as("__tok"))
      .withWatermark(tsCol, watermarkDelay)
      .join(broadcast(vocab.select(col("token").as("__vtok"),
        lit(1L).as("__in"))), col("__tok") === col("__vtok"), "left")
      .groupBy(window(col(tsCol), windowDuration), col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))

  /** The n = 2 windowed scorer, kept under its established name and
    * output columns (n_bigrams, self_info2). */
  def selfInfoBigramWithinWindow(stream: DataFrame, model: DataFrame,
      idCol: String, textCol: String, tsCol: String,
      windowDuration: String, watermarkDelay: String): DataFrame =
    selfInfoNgramWithinWindow(stream, model, idCol, textCol, tsCol, 2,
      windowDuration, watermarkDelay)
      .withColumnRenamed("n_ngrams", "n_bigrams")
      .withColumnRenamed("self_info_lm", "self_info2")

  /** Streaming incremental near-dup detection against a STATIC corpus
    * signature index (the output of Dedup.simhashBandIndex, typically
    * read back from parquet): each arriving document gains its per-row
    * stateless signature (Dedup.withSimhashColumn — bit-identical to
    * the batch/index signature), bands with the SAME combination
    * tables as the index, and stream-static equi-joins on (band, bv);
    * the exact hamming filter removes band false-positives. This is
    * the production arrival path at 100 TB: the corpus is indexed
    * once, each micro-batch probes it — no corpus rescan, no
    * stream-side state beyond the emit-dedup below. A pair within
    * maxDist shares a band key (pigeonhole — see
    * Dedup.simhashNearDupPairs), so recall vs the batch probe is
    * exact. Matches found via MULTIPLE band tables collapse through
    * dropDuplicatesWithinWatermark on (new_id, dup_of) — state keyed
    * by two longs, retired at the watermark horizon.
    * Emits (new_id, tsCol, dup_of, hamming_dist) — inner-join
    * semantics: only flagged arrivals; anti-join the source stream on
    * new_id for the novel ones. `maxDist`/`cleanBlocks` MUST match
    * the index build.
    */
  def incrementalNearDupFlags(stream: DataFrame, index: DataFrame,
      idCol: String, textCol: String, tsCol: String,
      watermarkDelay: String, maxDist: Int = 3,
      cleanBlocks: Int = 2): DataFrame = {
    val sig = "__sig"
    val dist = graft.operators.Dedup.hamming(col(sig), col("corpus_sh"))
    graft.operators.Dedup.withBandKeys(
        graft.operators.Dedup.withSimhashColumn(stream, textCol, sig),
        sig, maxDist, cleanBlocks)
      .withWatermark(tsCol, watermarkDelay)
      .join(index, Seq("band", "bv"))
      .filter(dist <= maxDist)
      .select(col(idCol).as("new_id"), col(tsCol),
        col("corpus_id").as("dup_of"),
        dist.cast("long").as("hamming_dist"))
      .dropDuplicatesWithinWatermark(Seq("new_id", "dup_of"))
  }

  /** Streaming EXACT-dup probe against a static corpus fingerprint
    * index (Dedup.exactDupGroups output, read back from parquet): each
    * arriving document gains its per-row normalized-content
    * fingerprint and stream-static equi-joins the index on the md5
    * key. STATELESS end-to-end — the fingerprint is a per-row
    * expression, the index holds exactly ONE row per distinct content
    * so the join cannot fan out, and a stream-static inner join keeps
    * no state store — hence no watermark parameter (nothing to
    * retire). The streaming face of Dedup.incrementalExactDups; same
    * inner-join semantics (only flagged arrivals emit; anti-join the
    * source stream on new_id for the novel ones). Output:
    * (new_id, tsCol, dup_of, content_hash).
    */
  def incrementalExactDupFlags(stream: DataFrame, index: DataFrame,
      idCol: String, textCol: String, tsCol: String): DataFrame =
    stream.select(col(idCol).as("new_id"), col(tsCol),
        graft.functions.TextFns.fingerprint(col(textCol))
          .as("content_hash"))
      .join(index.select(col("content_hash"),
        col("keep_id").as("dup_of")), Seq("content_hash"))
      .select(col("new_id"), col(tsCol), col("dup_of"),
        col("content_hash"))

  /** Streaming MinHash-LSH candidate probe against a static corpus
    * band index (Dedup.lshBandIndex output, read back from parquet):
    * each arriving document gains its per-row band keys
    * (Dedup.withLshBandKeys — bit-identical to the batch/index
    * banding) and stream-static equi-joins the index on
    * (band, band_hash). Candidate semantics as
    * Dedup.incrementalLshCandidates (probabilistic collision, no
    * distance filter — refine survivors with jaccard/editDistance);
    * matches colliding in MULTIPLE bands collapse through
    * dropDuplicatesWithinWatermark on (new_id, dup_of) — state keyed
    * by two ids, retired at the watermark horizon, the
    * incrementalNearDupFlags pattern. `k`/`bands` MUST match the
    * index build. Output: (new_id, tsCol, dup_of).
    */
  def incrementalLshFlags(stream: DataFrame, index: DataFrame,
      idCol: String, textCol: String, tsCol: String,
      watermarkDelay: String, k: Int, bands: Int): DataFrame =
    graft.operators.Dedup.withLshBandKeys(stream, textCol, k, bands)
      .withWatermark(tsCol, watermarkDelay)
      .join(index, Seq("band", "band_hash"))
      .select(col(idCol).as("new_id"), col(tsCol),
        col("corpus_id").as("dup_of"))
      .dropDuplicatesWithinWatermark(Seq("new_id", "dup_of"))

  /** Streaming per-source curation counters — the sourceReport stream
    * shape: per-row keep/quality signals
    * (TextAnalysis.withKeepQuality — the exact expressions the
    * oracle-gated batch report aggregates), then ONE windowed hash
    * aggregate per (event-time window, source). The ALGEBRAIC flavor
    * by construction: count/sum/avg keep (sum, count) state per
    * group, watermark retires closed windows — the streaming-
    * compatible half of the batch operator's two-flavor convention
    * (the ordered-fold portable flavor is oracle-only and cannot
    * stream). Output: (window_start, window_end, source, n_docs,
    * n_keep, avg_quality). Spec ties stream output == the same
    * definition run in batch mode per window.
    */
  def sourceReportWindowed(stream: DataFrame, sourceCol: String,
      textCol: String, tsCol: String, windowDuration: String,
      watermarkDelay: String, minWords: Int = 50,
      maxWords: Int = 100000, minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0, maxSymbolRatio: Double = 0.1,
      minStopwords: Int = 2): DataFrame =
    graft.operators.TextAnalysis.withKeepQuality(
        stream.select(col(sourceCol), col(tsCol), col(textCol)),
        textCol, minWords, maxWords, minMeanWordLen, maxMeanWordLen,
        maxSymbolRatio, minStopwords)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        round(avg(col("quality")), 4).as("avg_quality"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(sourceCol),
        col("n_docs"), col("n_keep"), col("avg_quality"))

  /** Streaming ANN probe against a STATIC IVFPQ index (the output of
    * Similarity.buildIvfPqIndex, typically read back from parquet) —
    * the ANN face of [[incrementalNearDupFlags]], completing the fit
    * once / index once / probe-per-arrival production loop: each
    * arriving vector computes its nprobe probe cells and ADC dot
    * tables as pure per-row expressions over the FROZEN artifacts
    * (Similarity.nearestCellsExpr — windowless, which is what makes
    * the probe legal on a stream), stream-static equi-joins the index
    * on cell, and scores each candidate in m table lookups
    * (Similarity.pqAdcTopK's ADC algebra, same zero-norm → 0.0
    * sentinel). STATELESS end-to-end: a corpus vector lives in
    * exactly ONE cell and probe cells are distinct, so a (new, index)
    * pair cannot repeat — no emit-dedup, no watermark, no state store
    * (the incrementalExactDupFlags argument). Emits one row per
    * candidate with ADC cosine ≥ `minSim`:
    * (new_id, tsCol, neighbor_id, adc_sim) — threshold semantics
    * rather than top-k because a per-key top-k on an unbounded stream
    * is a stateful aggregation; run the batch
    * Similarity.ivfPqProbeIndex inside foreachBatch when ranked
    * output is needed. `nprobe`/artifacts MUST match the index fit;
    * advance the index between batches with
    * Similarity.advanceIvfPqIndex (the probeAdmitAdvance pattern).
    */
  def annProbeFlags(stream: DataFrame, index: DataFrame,
      coarse: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      idCol: String, vecCol: String, tsCol: String,
      nprobe: Int, minSim: Double): DataFrame =
    graft.operators.Similarity
      .annProbeScored(stream, index, coarse, codebooks, idCol, vecCol,
        Seq(tsCol), nprobe)
      .filter(col("adc_sim") >= minSim)

  /** Streaming SEMANTIC dedup probe against a maintained IVFPQ index +
    * corpus vector table — the embedding face of
    * [[incrementalNearDupFlags]], completing the incremental family's
    * batch+stream convention (exact / LSH / simhash / semantic):
    * per-row cell assign + ADC dot tables over FROZEN artifacts,
    * stream-static join on cell, compressed-domain prefilter
    * (candidates ship m codes), exact cosine refine against the
    * corpus vectors — stateless end-to-end, no watermark (an arrival
    * probes exactly one cell and index rows are cell-disjoint, so a
    * (new, corpus) pair cannot repeat). `coarse`/`codebooks`/`index`/
    * `corpus` MUST be one maintained set — advance all of it between
    * batches with Similarity.semanticProbeAdmitAdvance inside
    * foreachBatch. Output: (new_id, tsCol, dup_of, cosine_sim);
    * inner-join semantics (only flagged arrivals emit — anti-join the
    * source on new_id for the novel ones). Spec ties stream output ==
    * the batch Similarity.incrementalSemanticDups over the same
    * arrivals.
    */
  def incrementalSemanticDupFlags(stream: DataFrame, index: DataFrame,
      corpus: DataFrame, coarse: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      idCol: String, vecCol: String, tsCol: String,
      candSim: Double, minSim: Double): DataFrame =
    graft.operators.Similarity.incrementalSemanticDupFlags(stream,
      index, corpus, coarse, codebooks, candSim, minSim,
      idCol, vecCol, tsCol)

  /** Streaming anomaly scores against FROZEN per-key stats — the
    * reference's designed-but-never-built ML stage (diagram.xml:10-17:
    * CSV → stream → "ML anomaly detection" → sinks) realized as the
    * score-against-model pattern: fit Relational.zscoreStats batch-side
    * on the reference window (persist to parquet), then every arriving
    * row standardizes against the broadcast stats table — a STATELESS
    * stream-static join + per-row expressions, no watermark, no state
    * store; refreshing the model is re-planned per micro-batch like
    * any static side ([[enrichWithDim]]). Novel keys (no stats row)
    * and degenerate groups (sd = 0) score z = null /
    * is_outlier = false. Output: input columns + (z, is_outlier) —
    * the batch analog rel_zscore oracle-checks the math; this wrapper
    * is the frozen-model stream shape (spec: stream scores ==
    * batch-scored arrivals).
    */
  def zscoreAgainstStats(stream: DataFrame, stats: DataFrame,
      grp: String, valueCol: String, threshold: Double): DataFrame =
    graft.operators.Relational.zscoreAgainstStats(stream, stats, grp,
      valueCol, threshold)

  /** Watermarked stream-stream interval join: left rows match right
    * rows with the same key whose event time falls in
    * [leftTs + lowerBound, leftTs + upperBound]. Both sides carry
    * watermarks so the engine can discard buffered state once no
    * in-interval match can still arrive — without the time bounds a
    * stream-stream join would buffer forever. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      lowerBound: String, upperBound: String,
      watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") + expr(s"INTERVAL $lowerBound") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $upperBound"))
      .drop(col(s"r.$key"))
  }

  /** Stream-static enrichment join: each micro-batch joins against the
    * (slowly-changing) dimension table. The dim side is broadcast — no
    * stream-side shuffle, no state: the engine re-plans the static side
    * per micro-batch, which is also what picks up dim refreshes when the
    * underlying table changes between batches. The standard shape for
    * attaching reference data (locations, users, rates) to a stream.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Running totals per key — the UNWINDOWED stateful aggregation
    * (output mode Update/Complete): state is one row per key, updated
    * every micro-batch, never evicted (no watermark applies to a global
    * groupBy). Key-cardinality-bounded state is the operator's contract;
    * unbounded key domains belong in tumblingCounts where the watermark
    * retires windows.
    */
  def runningCounts(stream: DataFrame, keyCol: String,
      valueCol: String): DataFrame =
    stream.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("sum_value"))

  /** The STREAMING curation DAG: per micro-batch, the full batch
    * assembly line (Packing.curateAndPack — gopher gate → line dedup →
    * keep-best → per-source token budget → sequence packing) runs
    * inside foreachBatch and the pack table is handed to `sink`
    * stamped with the batch id (the MultiSink shape: overwrite a
    * `batch_id=N` partition for the exactly-once replay contract).
    * The per-row stages are streaming-legal on their own, but
    * keep-best (self-join) and packing (prefix sums) are per-BATCH
    * aggregations by design — a pack straddles only documents that
    * arrived together, which is the training-pipeline contract anyway
    * (packs ship as complete units; cross-batch dedup composes
    * upstream via the incremental*Flags probes).
    *
    * Returns the started query; parameters mirror curateAndPack
    * unchanged. The per-batch output equals the batch DAG over the
    * same arrival set, spec-pinned. */
  def curateAndPackBatches(stream: DataFrame, idCol: String,
      sourceCol: String, textCol: String, budgets: Map[String, Long],
      packBudget: Long, packGroups: Int = 256, delim: String = "\n",
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minStopwords: Int = 2,
      nbModel: Option[DataFrame] = None, nbThreshold: Double = 0.0)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val packs = graft.operators.Packing.curateAndPack(
          batch.select(col(idCol), col(sourceCol), col(textCol)),
          idCol, sourceCol, textCol, budgets, packBudget, packGroups,
          delim, minWords, maxWords, minMeanWordLen, maxMeanWordLen,
          maxSymbolRatio, minStopwords, nbModel, nbThreshold)
        sink(packs.withColumn("batch_id", lit(batchId)), batchId)
        ()
    }.start()

  /** Per-micro-batch data-quality monitor: runs a
    * [[graft.operators.Quality.check]] suite over each arriving batch
    * and hands the verdict table (one row per constraint, stamped with
    * the batch id) to `sink` — the continuous face of the batch gate,
    * the curateAndPackBatches shape. State-free by construction: a
    * suite is ONE aggregate pass over the batch, so the monitor adds
    * no state store and no watermark, and each batch's verdicts equal
    * `Quality.check` on the same arrival set (spec-pinned). A load
    * gate composes in the sink: read the `pass` column and quarantine
    * or abort that batch's write — per-BATCH validation being exactly
    * what a streaming ingest wants (a corpus-wide constraint like
    * global uniqueness composes upstream via the incremental*Flags
    * probes instead). */
  def qualityVerdictBatches(stream: DataFrame,
      suite: Seq[graft.operators.Quality.Constraint])(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        sink(graft.operators.Quality.check(batch, suite)
          .withColumn("batch_id", lit(batchId)), batchId)
        ()
    }.start()

  /** Per-micro-batch PSI drift watch against a FROZEN baseline — the
    * streaming face of [[graft.operators.Quality.psi]], the
    * qualityVerdictBatches shape: each arriving batch bins once (one
    * aggregate pass over the batch), joins the persisted
    * [[graft.operators.Quality.binCounts]] artifact (≤ bins rows —
    * the baseline corpus is NEVER rescanned), and hands the per-bin
    * terms + bin = −1 total, stamped with the batch id, to `sink`.
    * State-free; `edges` MUST be the ones the baseline was built
    * with (fixed-literal edges are the PSI contract — re-deriving
    * them per batch would make the metric self-normalizing and
    * blind). */
  def psiBatches(stream: DataFrame, baselineCounts: DataFrame,
      c: String, edges: Seq[Double])(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        sink(graft.operators.Quality
          .psiFromBaseline(baselineCounts, batch, c, edges)
          .withColumn("batch_id", lit(batchId)), batchId)
        ()
    }.start()

  /** Streaming token-window substring-dup probe against a static
    * [[graft.operators.TextAnalysis.windowHashIndex]] (read back from
    * parquet) — the incremental face of dedupTokenWindows, the
    * incrementalExactDupFlags shape at span granularity: each
    * arriving document gains its per-row window-hash array (the SAME
    * expression the index build hashed with), explodes it, and
    * stream-static equi-joins the index on the hash. STATELESS
    * end-to-end — the index holds exactly ONE row per distinct window
    * hash so the join cannot fan out, no state store, no watermark
    * parameter. Output: one row per duplicated window occurrence —
    * (new_id, tsCol, wpos, dup_of, dup_pos); reassembly composes via
    * the shared span-removal expression (collect the wpos list per
    * doc in foreachBatch, then tokensOutsideSpans — the spec pins
    * probe+removal == the batch dedup against the same corpus).
    * `k`/`delim` MUST match the index build. */
  def incrementalWindowDupFlags(stream: DataFrame, index: DataFrame,
      idCol: String, textCol: String, tsCol: String, k: Int,
      delim: String = " "): DataFrame = {
    val esc = java.util.regex.Pattern.quote(delim)
    stream
      .select(col(idCol).as("new_id"), col(tsCol),
        split(col(textCol), esc).as("__ws"))
      .select(col("new_id"), col(tsCol),
        posexplode(graft.operators.TextAnalysis.windowHashes(
          col("__ws"), k, delim)).as(Seq("wpos", "whash")))
      .join(index, Seq("whash"))
      .select(col("new_id"), col(tsCol), col("wpos"),
        col("corpus_id").as("dup_of"),
        col("corpus_pos").as("dup_pos"))
  }

  /** Winnowed-fingerprint arrival probe — incrementalWindowDupFlags
    * at winnow granularity: arrivals fingerprint themselves with the
    * same per-row selection the index was built with (pure expression
    * tree — stream-legal as-is) and equi-join the persisted
    * TextAnalysis.winnowIndex on the fingerprint. One row per matched
    * fingerprint occurrence: (new_id, tsCol, fpos, dup_of, dup_pos) —
    * the MOSS containment signal per arrival at ~2/(w+1) the probe
    * volume of the full window-hash path. `k`/`w`/`delim` MUST match
    * the index build. */
  def incrementalWinnowDupFlags(stream: DataFrame, index: DataFrame,
      idCol: String, textCol: String, tsCol: String, k: Int, w: Int,
      delim: String = " "): DataFrame =
    graft.operators.TextAnalysis
      .winnowFingerprints(stream, idCol, textCol, k, w, delim,
        keep = Seq(col(tsCol)))
      .join(index, Seq("fp"))
      .select(col(idCol).as("new_id"), col(tsCol), col("fpos"),
        col("corpus_id").as("dup_of"), col("corpus_pos").as("dup_pos"))

  /** Streaming heavy hitters — the advance-loop form of
    * Relational.heavyHittersSketch, possible because Misra-Gries
    * summaries merge associatively: per micro-batch, sketch the batch
    * (per-partition MG counters + decrement totals), key-sum it into
    * the running candidate summary persisted at `stateDir` (the
    * frozen-artifact parquet round-trip every incremental family here
    * uses), and hand the (key, n_est, n_max) result to `sink` stamped
    * with the batch id. With `compactState` (the scale default) the
    * merged summary is re-bounded to `capacity` counters after every
    * batch (MG compaction — ≤ capacity+1 state rows on an UNBOUNDED
    * stream); without it the streamed state is EXACTLY the batch
    * sketch's internal state over the union of arrivals (spec-pinned
    * equality). The undercount bracket n_est ≤ true ≤ n_max holds
    * either way and is carried in-plan end-to-end — compaction only
    * widens n_max, never breaks the bracket. The merged state is
    * eagerly pinned (localCheckpoint) before the state dir is
    * overwritten, then its blocks are released — the Checkpoints
    * discipline.
    *
    * REPLAY-SAFE (the family's exactly-once contract): every state
    * row carries the batch id that produced it; a re-delivered
    * micro-batch (foreachBatch is at-least-once — a crash between the
    * state write and the streaming commit replays the batch) finds
    * its own id already in the state and skips the merge, re-emitting
    * the sink from the unchanged state — double-counting would
    * silently break the n_est ≤ true half of the bracket.
    *
    * The batch-id guard is only meaningful WITHIN one logical query:
    * `stateDir` must live and die with the streaming checkpoint, and
    * `runId` (any caller-stable identity — persist it with the
    * checkpoint path) is stamped into the state to enforce that. A
    * NEW query pointed at a survivor state dir restarts batch ids at
    * 0, which the id guard alone would misread as a replay — silently
    * dropping every early batch while re-emitting stale results — so
    * a run-id mismatch fails the query instead. Resume = same
    * checkpoint + same stateDir + same runId. */
  def heavyHittersBatches(stream: DataFrame, keyCol: String,
      capacity: Int, stateDir: String, runId: String,
      compactState: Boolean = true)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val R = graft.operators.Relational
        val statePath = new org.apache.hadoop.fs.Path(stateDir)
        val fs = statePath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val prev =
          if (fs.exists(statePath)) Some(spark.read.parquet(stateDir))
          else None
        prev.filter(p => !p.limit(1).isEmpty).foreach { p =>
          val stored = p.select(col("run_id")).head().getString(0)
          if (stored != runId) throw new IllegalStateException(
            s"heavy-hitter state at $stateDir belongs to run " +
              s"'$stored', not '$runId': the batch-id replay guard " +
              "cannot distinguish a fresh query's early batches from " +
              "replays, so refusing to merge — wipe the state dir for " +
              "a new query, or resume with the original runId")
        }
        val storedMax = prev.filter(p => !p.limit(1).isEmpty)
          .map(_.agg(max(col("last_batch"))).head().getLong(0))
        val alreadyApplied = storedMax.exists(_ >= batchId)
        val merged =
          if (alreadyApplied)
            prev.get.drop("last_batch", "run_id")
          else {
            val batchSummary =
              R.heavyHitterSummaries(batch, keyCol, capacity)
            val merged0 = prev match {
              case Some(p) => R.mergeHitterSummaries(
                p.drop("last_batch", "run_id"), batchSummary)
              case None => R.normalizeHitterSummaries(batchSummary)
            }
            if (compactState) R.compactHitterSummaries(merged0, capacity)
            else merged0
          }
        // last_batch is the replay watermark — pin it to the running MAX,
        // never the raw batchId: a replayed OLDER batch rewriting the
        // watermark down would let a later replay of an intermediate
        // batch slip past the guard and merge twice (breaking n_est <=
        // true). Content on replay is unchanged; only the stamp matters.
        val pinned = merged.withColumn("last_batch",
            lit(storedMax.fold(batchId)(math.max(_, batchId))))
          .withColumn("run_id", lit(runId))
          .localCheckpoint(true)
        try {
          pinned.write.mode("overwrite").parquet(stateDir)
          sink(R.hitterSummariesResult(
              pinned.drop("last_batch", "run_id"))
            .withColumn("batch_id", lit(batchId)), batchId)
        } finally graft.operators.Checkpoints.releaseIntermediate(pinned)
        ()
    }.start()

  /** Streaming KMV distinct sketches — the advance-loop form of
    * Sketches.kmvSketch, possible because KMV sketches are pure SET
    * functions (union + re-min-k is associative AND the merged sketch
    * is bit-identical to a direct sketch of the union — stronger than
    * the MG summaries' bracket): per micro-batch, sketch the batch,
    * kmvMerge it into the running state persisted at `stateDir`, and
    * hand (groups, n_kmv, d_est) to `sink` stamped with the batch id.
    * After ANY prefix of batches the state EQUALS the one-shot sketch
    * of the prefix's union (spec-pinned array equality, not just
    * estimate agreement), so distinct-count dashboards never drift
    * from their batch recomputation.
    *
    * Replay-safety and the run-id guard are the heavyHittersBatches
    * contract verbatim: state rows carry (last_batch, run_id); a
    * re-delivered batch skips the merge and re-emits from unchanged
    * state; a fresh query pointed at survivor state fails loudly. */
  def kmvBatches(stream: DataFrame, groupCols: Seq[String],
      valueCol: String, k: Int, stateDir: String, runId: String)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val S = graft.operators.Sketches
        val statePath = new org.apache.hadoop.fs.Path(stateDir)
        val fs = statePath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val prev =
          if (fs.exists(statePath)) Some(spark.read.parquet(stateDir))
          else None
        prev.filter(p => !p.limit(1).isEmpty).foreach { p =>
          val stored = p.select(col("run_id")).head().getString(0)
          if (stored != runId) throw new IllegalStateException(
            s"kmv state at $stateDir belongs to run '$stored', not " +
              s"'$runId': wipe the state dir for a new query, or " +
              "resume with the original runId")
        }
        val storedMax = prev.filter(p => !p.limit(1).isEmpty)
          .map(_.agg(max(col("last_batch"))).head().getLong(0))
        val alreadyApplied = storedMax.exists(_ >= batchId)
        val merged =
          if (alreadyApplied) prev.get.drop("last_batch", "run_id")
          else {
            val batchSk = S.kmvSketch(batch, groupCols, col(valueCol), k)
            prev match {
              case Some(p) => S.kmvMerge(
                p.drop("last_batch", "run_id").unionByName(batchSk),
                groupCols, k)
              case None => batchSk
            }
          }
        // monotone replay watermark — the heavyHittersBatches fix
        // verbatim: a replayed older batch must not regress last_batch
        // below the true high-water mark (KMV merge is idempotent, so
        // the hazard here is only the weakened guard contract, but the
        // two loops share one contract and now share one stamp rule)
        val pinned = merged.withColumn("last_batch",
            lit(storedMax.fold(batchId)(math.max(_, batchId))))
          .withColumn("run_id", lit(runId))
          .localCheckpoint(true)
        try {
          pinned.write.mode("overwrite").parquet(stateDir)
          sink(pinned.drop("last_batch", "run_id")
            .select(groupCols.map(col) :+
              size(col("kmv")).cast("long").as("n_kmv") :+
              S.kmvEstimate(col("kmv"), k).as("d_est"): _*)
            .withColumn("batch_id", lit(batchId)), batchId)
        } finally graft.operators.Checkpoints.releaseIntermediate(pinned)
        ()
    }.start()

  /** One reservoir item: the (priority, id, weight) triple the
    * streaming sampler keeps per kept row. */
  case class ReservoirItem(p: Double, id: Long, w: Double)
  private[streaming] case class ReservoirState(items: List[ReservoirItem])
  case class ReservoirOut(stratum: String, id: Long, weight: Double,
      priority: Double, tau: Double, w_hat: Double)

  /** Streaming weighted reservoir — [[graft.operators.Packing
    * .prioritySample]] lifted to an unbounded arrival stream. Per
    * stratum, state holds the k+1 LARGEST priorities seen so far
    * (priority = w/u with the same md5-derived uniform as the batch
    * sampler), and every micro-batch emits (Update mode) the current
    * k-row sample with the current threshold τ and estimator
    * ŵ = max(w, τ). Priority sampling is MERGEABLE — the top-(k+1) of
    * a union is the top-(k+1) of any partial top-(k+1)s unioned with
    * the rest — so after any prefix of batches the emitted reservoir
    * is EXACTLY `Packing.prioritySampleByGroup` of that prefix's union
    * (spec-pinned), and replays are idempotent: a re-delivered id
    * recomputes the same priority and deduplicates in-state instead of
    * occupying two slots.
    *
    * State per stratum is k+1 triples — bounded by the sample size,
    * never by the stream; per-batch work is one merge-sort of
    * (state ∪ arrivals) per stratum inside the task. At 100 TB-scale
    * arrival rates the strata (sources, languages) are the
    * parallelism, exactly as in the batch flavor. */
  def prioritySampleStream(stream: DataFrame, groupCol: String,
      idCol: String, weightCol: String, k: Int,
      salt: String = "|prio"): DataFrame = {
    require(k >= 1, s"prioritySampleStream k out of range: $k")
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    implicit val itemEnc: Encoder[(String, Long, Double, Double)] =
      Encoders.product[(String, Long, Double, Double)]
    implicit val outEnc: Encoder[ReservoirOut] =
      Encoders.product[ReservoirOut]
    implicit val stateEnc: Encoder[ReservoirState] =
      Encoders.product[ReservoirState]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    // same weight hygiene as the batch sampler (NULL/negative weights
    // are outside the DLT estimator's contract) — keeps the
    // prefix-union == batch-sampler equivalence exact on dirty input
    val scored = stream
      .where(col(weightCol).isNotNull && col(weightCol).cast("double") >= 0)
      .select(
        col(groupCol).cast("string"),
        col(idCol).cast("long"),
        col(weightCol).cast("double"),
        graft.operators.Packing.priorityCol(col(idCol), col(weightCol), salt))
      .as[(String, Long, Double, Double)]
    scored.groupByKey(_._1)
      .flatMapGroupsWithState[ReservoirState, ReservoirOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g, it, state) =>
          val arrivals = it.map { case (_, id, w, p) =>
            ReservoirItem(p, id, w) }
          val merged = (state.getOption.map(_.items).getOrElse(Nil) ++
            arrivals)
            .sortBy(i => (-i.p, i.id))
            .distinctBy(_.id) // replay idempotency: same id, same slot
            .take(k + 1)
          state.update(ReservoirState(merged))
          val tau = if (merged.size == k + 1) merged.last.p else 0.0
          merged.take(k).iterator.map(i =>
            ReservoirOut(g, i.id, i.w, i.p, tau, math.max(i.w, tau)))
      }.toDF()
  }
}
