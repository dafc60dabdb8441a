package graft

import graft.functions.TextFns
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7): one named query per implemented
  * operator, each with a DuckDB-equivalent oracle where SQL-expressible.
  *
  * Oracle-parity rules used throughout (hash compare is exact):
  *  - every computed column aliased identically on both sides;
  *  - integer-ish outputs cast to BIGINT on both sides (Spark int vs
  *    DuckDB BIGINT would hash-mismatch);
  *  - timestamps emitted as formatted strings (events.ts is
  *    nanosecond-precision parquet; Spark truncates to micros — raw
  *    timestamp output would differ);
  *  - double aggregates rounded at the edge; all hashing is md5 so both
  *    engines compute identical signatures;
  *  - DuckDB regexp_replace needs the 'g' flag to match Spark's
  *    replace-all semantics.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** The hybrid queries' shared lexical leg: BM25 over the fixed term
    * set, docs containing ≥ 1 term ranked by (bm25 desc, doc_id) inside
    * the top-[[HybridLegK]] window. One definition so the exact and
    * ANN hybrid flavors can never drift on the lexical side. */
  private def hybridLexLeg(s: SparkSession, d: String): DataFrame =
    Relational.withScalableOrdinal(
      TextAnalysis.bm25Scores(t(s, d, "documents"), "doc_id", "text",
        Bm25Terms).filter(col("bm25") > 0),
      Seq(col("bm25").desc, col("doc_id")), "rank")
      .filter(col("rank") <= HybridLegK)
      .select(col("doc_id"), col("rank"))

  /** The corpus-bisecting gopher thresholds, shared by EVERY call site
    * that gates on the rule (text_gopher, text_source_report,
    * text_curation_dag, the NB label frame) and by gopherKeepSql —
    * one definition, so the NB training labels cannot drift from the
    * text_gopher oracle. */
  val GopherMinWords = 40
  val GopherMaxWords = 100000
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 4.5
  val GopherMaxSymbolRatio = 0.1
  val GopherMinStopwords = 2

  /** documents + the gopher rule gate's `keep` boolean — the heuristic
    * label frame the NB-distillation queries train on (same thresholds
    * as text_gopher, which pins the label math to its own oracle). */
  private def gopherLabeledDocs(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    // pinned: every NB-distillation query consumes this frame 3-4x
    // (model fit tokenization + doc totals, scoring pass, and the
    // eval queries' label join) and each un-pinned reference re-ran
    // the WHOLE gopher labeling — rule stats over the corpus plus the
    // corpus scan itself (r18 final-plan audit: 32 document scans per
    // nb-family query). One materialization, corpus-bounded — the
    // curateAndPack gated-frame convention.
    docs.join(
      TextAnalysis.gopherRules(docs, "doc_id", "text",
        minWords = GopherMinWords, maxWords = GopherMaxWords,
        minMeanWordLen = GopherMinMeanWordLen,
        maxMeanWordLen = GopherMaxMeanWordLen,
        maxSymbolRatio = GopherMaxSymbolRatio,
        minStopwords = GopherMinStopwords)
        .select(col("doc_id"), col("keep")),
      "doc_id").localCheckpoint(true)
  }

  val MinhashK = 16
  val LshBands = 4
  /** Count-Min sketch width (rel_cms_freq): 512 cells × 4 public-LCG
    * hash rows ≈ e/512 ≈ 0.5% of N worst-case overestimate. */
  val CmsWidth = 512
  /** Funnel stages (rel_funnel): the view→click→purchase ordering over
    * the events domain — each later stage counts only at-or-after the
    * user's earliest completion of the previous one. */
  val FunnelStages = Seq("view", "click", "purchase")
  /** Trajectory truncation (rel_trajectories): sequences cap at the
    * first 40 events per user — the cap applies BEFORE any list
    * materializes, so per-user state never exceeds it. */
  val TrajMaxLen = 40
  /** Preference-pair grouping (text_pref_pairs): doc_id mod 64 stands
    * in for a shared prompt; n_chars is the stand-in reward. Pairs
    * with margin < 1 drop (can't-separate pairs are training noise). */
  val PrefGroups = 64
  val PrefMinMargin = 1.0
  /** Chat-template split (text_chat_template): first 16 whitespace
    * tokens = user turn, remainder = assistant turn (the masked span). */
  val ChatPromptWords = 16
  val ChatSystem = "You are a helpful assistant."
  /** Bradley-Terry MM rounds (rel_bradley_terry): 3 rounds over the
    * 25-nation tournament — enough for the ordering to stabilize;
    * the oracle unrolls the same 3 rounds. */
  val BtIters = 3
  /** Label-propagation rounds (graph_labelprop): 3 deterministic
    * synchronous rounds over the co-purchase graph; the oracle
    * unrolls the same 3. */
  val LpIters = 3
  /** Fellegi-Sunter linkage model (rel_record_linkage): three fields
    * over the customer-vs-perturbed-customer candidate pairs blocked
    * on (nation, segment). The m/u probabilities turn into log2
    * likelihood-ratio DOUBLE LITERALS driver-side — both engines sum
    * the same bits in the same field order. Thresholds sit so clean
    * pairs match (~24.6), single-field damage lands in the clerical
    * band (possible), and same-block strangers fall below it. */
  val LinkMatchTh = 15.0
  val LinkPossibleTh = 2.0
  /** Compaction planner (rel_compaction_plan): the synthetic inventory
    * is one "file" per (order month, priority) sized by its row count,
    * so file sizes and bin counts scale with SF while the target stays
    * fixed — small bins at sf0.001, healthy fills at sf0.1. */
  val CompactTargetBytes = 10000L
  /** k-anonymity ladder (rel_k_anonymity): k=10 over customer
    * quasi-identifiers, five generalization levels from
    * near-unique (nation, segment, whole-dollar balance) down to
    * nation-only — the suppression-vs-k curve at every SF. */
  val KAnonK = 10
  /** l-diversity (rel_l_diversity): l=3 distinct market segments per
    * equivalence class, over a QI ladder that EXCLUDES the sensitive
    * column — nation+balance buckets down to nation-only. Read next
    * to the k-anonymity curve: classes big enough for k can still be
    * segment-homogeneous. */
  val LDivL = 3
  /** Inverted-index probes (text_index_*): the conjunctive query pairs
    * the rarest corpus term ('dup', df≈5% of docs) with a common one —
    * candidate postings are bounded by the RAREST term's df, the
    * selectivity story a term-bucketed index exists for. The phrase
    * is a consecutive-bigram probe over positions. */
  val IndexAndTerms: Seq[String] = Seq("dup", "spark")
  val IndexPhrase: Seq[String] = Seq("spark", "join")
  val IndexBm25K = 50
  /** Attribution (rel_attribution): view/click touches credit purchase
    * value within a 3-day lookback, all four standard models at once. */
  val AttribTouches: Seq[String] = Seq("view", "click")
  val AttribConv = "purchase"
  val AttribLookbackSec: Long = 3L * 24 * 3600
  /** EWMA (rel_ewma): α=0.5 makes every lag weight a dyadic rational
    * (exactly representable, parses bit-identically as a SQL literal);
    * horizon 8 truncates 0.39% of the weight mass — the renormalized
    * divisor absorbs it. */
  val EwmaAlpha = 0.5
  val EwmaHorizon = 8
  /** Feature hashing (text_feature_hash): 32 buckets over a 31-term
    * vocabulary — collisions guaranteed, so the signed-count
    * cancellation path is actually exercised at every SF. */
  val FeatureHashDims = 32
  /** Matryoshka truncation (sim_matryoshka): 64-d fixture probed at a
    * 16-d prefix — the 4× flop/memory cut; `in_full_topk` reports the
    * overlap trade on this (non-MRL-trained) fixture honestly. */
  val MatryoshkaDims = 16
  /** LSH recall witness floor (dedup_lsh_recall): banding currently
    * surfaces 100% of the exact j≥0.5 answer at every SF (twins sit
    * near j=1); 90 leaves headroom for corpus drift while still
    * catching any banding regression. */
  val LshRecallFloorPct = 90
  /** Entity-coherent temporal split (rel_temporal_split): first-seen
    * boundaries inside day 1 of the events span, where user first
    * appearances actually spread (71/40/39 users at sf0.01). */
  val SplitTrainEnd = "2024-01-01 06:00:00"
  val SplitTestStart = "2024-01-01 12:00:00"
  /** Calibration bins (text_nb_calibration): edges spanning the NB
    * log-odds range (−5.3…2.8 at sf0.01), binned on the ROUNDED score
    * — the engines' rounded log_odds hash-match, so bins agree. */
  val NbCalibEdges: Seq[Double] = Seq(-4.0, -2.0, -1.0, 0.0, 1.0, 2.0)
  /** RBO persistence (sim_rbo): the Webber et al. convention p = 0.9
    * — ~86% of the weight mass inside the top 5 at k = 5. */
  val RboP = 0.9
  /** t-closeness threshold (rel_t_closeness): TVD > 0.5 flags a class
    * whose segment distribution sits more than half the total
    * variation from the global — small nation/balance classes cross
    * it, whole-nation classes don't, at every SF. */
  val TClosenessT = 0.5
  /** Frozen unigram piece table (text_unigram_tokenize): the sf0.01
    * fit artifact — vocab 40, maxPieceLen 4, 3 hard-EM rounds, seed
    * 120 — frozen as the demonstration vocabulary, the
    * scoreAgainstNbModel frozen-artifact convention: the FIT is
    * spec-verified (deterministic across partitionings, single-char
    * coverage, lossless segmentation) and NOT SQL-expressible (EM
    * rounds); the ENCODE under the frozen table is what the oracle
    * replays at every SF via a recursive-CTE Viterbi. */
  val UnigramMaxPieceLen = 4
  val UnigramPieces: Seq[Unigram.Piece] = Seq(
    Unigram.Piece("a", -2.6387758112912487),
    Unigram.Piece("b", -3.7325209993742914),
    Unigram.Piece("batc", -4.3759447445818065),
    Unigram.Piece("c", -4.402958812993062),
    Unigram.Piece("co", -4.379148164299344),
    Unigram.Piece("cust", -4.379148164299344),
    Unigram.Piece("d", -3.7125536138604227),
    Unigram.Piece("e", -2.4756847054912874),
    Unigram.Piece("er", -4.380218255359188),
    Unigram.Piece("f", -4.46859322465127),
    Unigram.Piece("filt", -4.380218255359188),
    Unigram.Piece("g", -3.0430219216395757),
    Unigram.Piece("h", -3.736450277514181),
    Unigram.Piece("hash", -4.365340191333009),
    Unigram.Piece("i", -3.3287379774491117),
    Unigram.Piece("j", -11.21969469358803),
    Unigram.Piece("join", -4.347566592249045),
    Unigram.Piece("k", -3.7370128654333796),
    Unigram.Piece("l", -3.312779204909444),
    Unigram.Piece("lumn", -4.379148164299344),
    Unigram.Piece("m", -4.429597458074126),
    Unigram.Piece("n", -3.725820806804472),
    Unigram.Piece("o", -3.7437887242206336),
    Unigram.Piece("omer", -4.379148164299344),
    Unigram.Piece("or", -3.7325209993742914),
    Unigram.Piece("p", -4.4117597498881045),
    Unigram.Piece("par", -3.7471939488504726),
    Unigram.Piece("q", -4.448905269679051),
    Unigram.Piece("r", -3.044991811118569),
    Unigram.Piece("row", -4.36956852744253),
    Unigram.Piece("s", -3.3257495553520715),
    Unigram.Piece("scan", -4.377011411349609),
    Unigram.Piece("st", -3.75633164806801),
    Unigram.Piece("t", -3.058319670390544),
    Unigram.Piece("ta", -3.7147526251918594),
    Unigram.Piece("u", -4.4117597498881045),
    Unigram.Piece("ue", -3.7415249994282456),
    Unigram.Piece("v", -3.7186125693281595),
    Unigram.Piece("w", -3.739266387513823),
    Unigram.Piece("y", -3.742090450390442))
  /** Frozen WordPiece vocabulary (text_wordpiece_tokenize/_ids): the
    * sf0.01 fit artifact — 24 merges over the documents corpus —
    * frozen as the demonstration vocabulary (the UnigramPieces
    * convention): the FIT's round-1 pair-score statistics are
    * oracle-gated standalone (text_wordpiece_pairs, fully
    * SQL-expressible); the full iterative fit is spec-verified
    * (WordPieceSpec: hand-scored merges, partitioning determinism);
    * the ENCODE under the frozen vocab is what the oracle replays at
    * every SF via a recursive-CTE greedy longest-match march. */
  val WordPieceVocab: Seq[String] = Seq(
    "##a", "##b", "##bl", "##c", "##ch", "##d",
    "##e", "##g", "##h", "##i", "##in", "##k",
    "##l", "##lu", "##lum", "##lumn", "##m", "##n",
    "##o", "##p", "##r", "##s", "##sh", "##t",
    "##u", "##up", "##us", "##w", "##y", "[UNK]",
    "a", "ag", "agg", "b", "bi", "big",
    "c", "cus", "d", "f", "fi", "fil",
    "g", "h", "j", "k", "l", "li",
    "lin", "m", "o", "p", "q", "qu",
    "r", "s", "sp", "t", "th", "v",
    "w", "wi", "win", "wind")
  /** Winnowing constants (text_winnow_fps / dedup_winnow_pairs):
    * k = 3-token grams (the corpus shingle convention), window w = 4
    * (guarantee threshold w + k − 1 = 6 tokens — well under the
    * corpus's ≥10-word docs), df-cap 64 (the mega-bucket guard). */
  val WinnowK = 3
  val WinnowW = 4
  val WinnowMaxBucket = 64
  /** KMV sketch size (rel_kmv_custkeys / rel_kmv_overlap): k = 64
    * (~13% relative error) — small enough that the ~130-distinct
    * groups at sf0.001 already overflow it, so the ESTIMATOR branch
    * (not the exact-small-set branch) is exercised at every SF. */
  val KmvK = 64
  /** Label-noise margin (text_label_noise): a confident disagreement
    * is |log-odds| > 1 against the given label (odds beyond e:1). */
  val NoiseMargin = 1.0
  /** MAD outlier multiplier (rel_mad_outliers): on the UNIFORM-ish
    * o_totalprice fixture |x−med|max/MAD sits at exactly 2 (MAD =
    * range/4), so k = 2.0 flags only the extreme tails and stays
    * non-vacuous at every SF (41/178/426 rows at sf0.001/0.01/0.1);
    * on Gaussian-ish production data the conventional k is 3 ≈ 2σ. */
  val MadK = 2.0
  val LinkFieldsDef: Seq[LinkField] = Seq(
    LinkField("name_exact", col("l_name") === col("r_name"),
      m = 0.75, u = 0.0005),
    LinkField("bal_close", abs(col("l_bal") - col("r_bal")) <= lit(0.01),
      m = 0.85, u = 0.001),
    LinkField("bal_coarse", abs(col("l_bal") - col("r_bal")) <= lit(5.0),
      m = 0.97, u = 0.05))

  /** The linkage fixture + Fellegi-Sunter scoring as a shared DuckDB
    * CTE chain (lft/rgt/sc/sw) — rel_record_linkage reads the
    * decisions, rel_golden_records continues into survivorship.
    * Weight literals go through CAST('…' AS DOUBLE): DuckDB parses
    * bare >16-digit numerics as DECIMAL and double-rounds the
    * conversion, an ulp off strtod. */
  private def linkageCtes: String = {
    def w(flag: String, f: LinkField) =
      s"CASE WHEN $flag IS NULL THEN CAST(0 AS DOUBLE) " +
        s"WHEN $flag THEN CAST('${f.agreeWeight}' AS DOUBLE) " +
        s"ELSE CAST('${f.disagreeWeight}' AS DOUBLE) END"
    val Seq(fn, fc, fo) = LinkFieldsDef
    "lft AS (SELECT c_custkey AS left_id, c_nationkey AS nat, " +
      "c_mktsegment AS seg, c_name AS l_name, c_acctbal AS l_bal FROM customer), " +
      "rgt AS (SELECT c_custkey + 1000000 AS right_id, c_nationkey AS nat, " +
      "c_mktsegment AS seg, " +
      "CASE WHEN c_custkey % 17 = 0 THEN NULL " +
      "WHEN c_custkey % 5 = 0 THEN c_name || '~' ELSE c_name END AS r_name, " +
      "c_acctbal + CASE WHEN c_custkey % 3 = 0 THEN CAST(0.005 AS DOUBLE) " +
      "WHEN c_custkey % 13 = 0 THEN CAST(3.0 AS DOUBLE) " +
      "WHEN c_custkey % 11 = 0 THEN CAST(1000.0 AS DOUBLE) " +
      "ELSE CAST(0 AS DOUBLE) END AS r_bal FROM customer), " +
      "sc AS (SELECT left_id, right_id, " +
      "l_name = r_name AS agree_name_exact, " +
      "abs(l_bal - r_bal) <= CAST(0.01 AS DOUBLE) AS agree_bal_close, " +
      "abs(l_bal - r_bal) <= CAST(5.0 AS DOUBLE) AS agree_bal_coarse " +
      "FROM lft JOIN rgt USING (nat, seg)), " +
      s"sw AS (SELECT *, ${w("agree_name_exact", fn)} + " +
      s"${w("agree_bal_close", fc)} + ${w("agree_bal_coarse", fo)} AS score FROM sc)"
  }

  /** The linkage fixture's clean side (rel_record_linkage /
    * rel_golden_records). */
  private def linkageLeft(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_custkey").as("left_id"),
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
      col("c_name").as("l_name"), col("c_acctbal").as("l_bal"))

  /** The deterministically-damaged side: NULLed names (%17), suffixed
    * names (%5), balance shifts at three magnitudes (%3/%13/%11). */
  private def linkageRight(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(
      (col("c_custkey") + 1000000L).as("right_id"),
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
      when(col("c_custkey") % 17 === 0, lit(null))
        .when(col("c_custkey") % 5 === 0, concat(col("c_name"), lit("~")))
        .otherwise(col("c_name")).as("r_name"),
      (col("c_acctbal") +
        when(col("c_custkey") % 3 === 0, lit(0.005))
          .when(col("c_custkey") % 13 === 0, lit(3.0))
          .when(col("c_custkey") % 11 === 0, lit(1000.0))
          .otherwise(lit(0.0))).as("r_bal"))
  /** Z-order layout parameters (rel_zorder_skip): dims are
    * (l_partkey mod 128, l_suppkey mod 8) so 7 interleave bits cover
    * the space and the one literal box stays selective at every SF;
    * 64 buckets stand in for files. */
  val ZorderBits = 7
  val ZorderBuckets = 64
  /** 3-D z-order witness parameters (rel_zorder3_skip): the
    * zorderValueN round-robin form on (l_partkey mod 32, l_suppkey
    * mod 8, l_linenumber) at 5 SHARED bits — the narrow dims (sy, ln
    * < 8) waste their two high interleave positions, the documented
    * equal-width trade-off every N-d Morton implementation makes, so
    * the witness shows pruning that survives it. One 3-D box
    * (~3.6% of rows) vs the arrival baseline. */
  val Zorder3Bits = 5
  val Zorder3Buckets = 64
  val Zorder3Box: Seq[(String, Long, Long)] =
    Seq(("px", 8L, 15L), ("sy", 2L, 5L), ("ln", 1L, 2L))
  /** Bloom-filter layout parameters (rel_bloom_skip): 8 "files",
    * probed with the 10 rarest customer keys (fewest orders, ties by
    * key — deterministic and SQL-replayable). */
  val BloomBuckets = 8
  val BloomProbeCount = 10
  /** The rel_quality_verdicts suite over events, paired POSITIONALLY
    * with [[qualityMetricsSql]] (each entry the DuckDB mirror of the
    * same-index metric). `value_cap` is the deliberate failure —
    * max(events.value) ≈ 327 at every SF — so pass=false is exercised
    * in the oracle row set, not just the spec. */
  private def qualitySuite: Seq[Quality.Constraint] = Seq(
    Quality.completeness("ts_complete", "ts"),
    Quality.completenessAtLeast("props_present", "props", 0.95),
    Quality.uniqueRatio("event_id_unique", "event_id", ">=", 1.0),
    Quality.fractionWhere("type_in_domain", "event_type",
      col("event_type").isin("click", "purchase", "error", "signup",
        "view"), ">=", 1.0),
    Quality.minOf("value_nonneg", "value", ">=", 0.0),
    Quality.maxOf("value_cap", "value", "<=", 100.0),
    Quality.meanOf("value_mean_cap", "value", "<=", 200.0))
  private def qualityMetricsSql: Seq[String] = Seq(
    "CAST(count(ts) AS DOUBLE) / count(*)",
    "CAST(count(props) AS DOUBLE) / count(*)",
    "CAST(count(DISTINCT event_id) AS DOUBLE) / greatest(count(event_id), 1)",
    "CAST(sum(CASE WHEN event_type IN ('click','purchase','error','signup','view') THEN 1 ELSE 0 END) AS DOUBLE) / count(*)",
    "CAST(min(value) AS DOUBLE)",
    "CAST(max(value) AS DOUBLE)",
    "CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / CAST(greatest(count(value), 1) AS DOUBLE)")
  /** Profile columns for rel_quality_profile: BIGINT/VARCHAR only, so
    * the min/max STRING rendering is engine-portable (the scaladoc on
    * [[Quality.profile]] — float/timestamp strings are not). */
  val QualityProfileCols: Seq[String] =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
  /** Drift thresholds for rel_quality_drift: the derived "today"
    * corpus nulls out ~20% of o_orderpriority and collapses o_custkey
    * to 100 values, so 0.05/0.02 trip at EVERY SF (measured: null
    * jump ≥ 0.18, ratio jump ≥ 0.033) while the untouched columns
    * stay quiet. */
  val QualityNullJump = 0.05
  val QualityCardJump = 0.02
  /** The derived "today" side of rel_quality_drift, SQL-replayable. */
  private def qualityDriftedSql: String =
    "(SELECT o_orderkey, o_custkey % 100 AS o_custkey, o_orderstatus, " +
      "nullif(o_orderpriority, '1-URGENT') AS o_orderpriority FROM orders) pert"
  /** The rel_quality_embeddings suite — the embedding-health gate an
    * ANN/near-dup pipeline runs before indexing (a NaN or zero vector
    * poisons cosine scores silently). Same positional pairing
    * convention as [[qualitySuite]]; every metric is a conditional
    * count over per-row array predicates, so the verdict set is
    * exact. */
  private def embQualitySuite: Seq[Quality.Constraint] = Seq(
    Quality.completeness("vec_present", "embedding"),
    Quality.uniqueRatio("vec_id_unique", "vec_id", ">=", 1.0),
    Quality.fractionWhere("dims_64", "embedding",
      size(col("embedding")) === 64, ">=", 1.0),
    Quality.fractionWhere("no_nan", "embedding",
      !exists(col("embedding"), x => isnan(x)), ">=", 1.0),
    Quality.fractionWhere("nonzero_norm", "embedding",
      aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))
        > lit(0.0), ">=", 1.0),
    // the deliberate failure: iid md5-uniform components are nowhere
    // near unit norm, so a unit-norm expectation trips at every SF
    Quality.fractionWhere("unit_norm", "embedding",
      abs(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))
        - lit(1.0)) <= lit(0.01), ">=", 0.99))
  private def embQualityMetricsSql: Seq[String] = {
    val norm2 = "list_aggregate(list_transform(embedding, " +
      "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')"
    Seq(
      "CAST(count(embedding) AS DOUBLE) / count(*)",
      "CAST(count(DISTINCT vec_id) AS DOUBLE) / greatest(count(vec_id), 1)",
      "CAST(sum(CASE WHEN len(embedding) = 64 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)",
      "CAST(sum(CASE WHEN len(list_filter(embedding, x -> isnan(x))) = 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)",
      s"CAST(sum(CASE WHEN $norm2 > 0.0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)",
      s"CAST(sum(CASE WHEN abs($norm2 - 1.0) <= 0.01 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")
  }
  /** PSI bin edges for rel_quality_psi: o_totalprice is ~uniform on
    * [1e3, 5e5] at every SF, so fixed 100k edges give populated bins
    * and the ×1.1 derived shift moves ~10% of mass per edge — PSI
    * lands in the "shifting" band, non-vacuous everywhere. */
  val PsiEdges: Seq[Double] = Seq(1e5, 2e5, 3e5, 4e5)
  val ZorderBox: Seq[(String, Long, Long)] =
    // sy range sits inside one y half-space — a box straddling the y
    // midpoint would cross every y-quadrant and z-order would degrade
    // to the single-key sort (measured: 47/64 skipped for both)
    Seq(("px", 32L, 63L), ("sy", 4L, 6L))
  /** Merge-rule count for the BPE tokenizer fit (text_bpe_* queries):
    * deep enough that whole frequent words emerge (merge 12 at sf0.01
    * is jo+in → "join"), small enough that the oracle's unrolled
    * per-round CTE chain stays tractable. */
  val BpeMergeCount = 12
  /** Fixed retrieval query for the BM25 scorer (real corpus terms). */
  val Bm25Terms: Seq[String] = Seq("stream", "join", "spark")
  /** Per-leg candidate window for hybrid RRF retrieval
    * (sim_hybrid_rrf): each leg contributes ranks only inside its own
    * top-K window — the Elasticsearch rrf `rank_window_size`. */
  val HybridLegK = 50
  /** Sample sizes for the priority-sampling queries: 50 global,
    * 10 per source in the stratified flavor. */
  val PrioritySampleK = 50
  val PrioritySampleGroupK = 10
  /** DSIR importance-resampling parameters: hashed-ngram bucket count
    * and resample size (buckets small enough that the model oracle is
    * readable, large enough that collisions don't flatten the LLRs). */
  val DsirBuckets = 1024
  val DsirSampleK = 50
  /** Sequence-packing parameters (token budget per pack, hash groups). */
  val PackBudget = 256L
  val PackGroups = 32
  /** Per-source token budgets for the token-budget sampler; sources
    * absent here are unlimited. */
  val TokenBudgets: Map[String, Long] = Map("src0" -> 500L, "src1" -> 800L)
  /** Mixture weights for the up-sampling mixture query: one key
    * up-sampled with a fractional epoch (2.5), one down-sampled (0.4),
    * one dropped (0), the rest at the default 1.0. */
  val MixtureWeights: Map[String, Double] =
    Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 0.0)
  /** Temperature for the share^α mixture (rel_mixture_temperature):
    * 0.5 flattens the 20-source corpus enough that small sources gain
    * integer epochs and large ones get fractional cuts — both sampler
    * paths exercised. */
  val MixtureAlpha = 0.5
  /** Product-quantization parameters for sim_ann_pq / sim_ann_ivfpq:
    * 64-dim embeddings → 4 sub-spaces of 16 dims, 8 centroids each
    * (codes = 4 bytes/vector vs 256 bytes of float — the compression
    * the family exists for), 2 Lloyd iterations (the ivf convention). */
  val PqM = 4
  val PqKsub = 8
  val PqIters = 2
  /** IVF parameters shared by the sim_ann_ivf* queries. Fixed nlist is
    * the right contract for the PROBE-side ANN family (per-query cost
    * is nprobe-bounded, and nlist is the user's recall/latency knob);
    * the cell-blocked PAIR stages (dedup_semantic /
    * dedup_embedding_ivf / dedup_split_embedding) instead derive nlist
    * from the corpus via [[graft.operators.Similarity.autoCellCount]]
    * — a fixed cell count makes their per-cell pair cost (n/nlist)²,
    * measured quadratic at sf10 (SCALE.md r17). */
  val IvfNlist = 16
  val IvfNprobe = 4
  /** Target coarse-cell occupancy for the auto-sized embedding-dedup
    * geometry (judge r17 task 1): nlist = ceil(n/1024) keeps expected
    * per-cell pair cost constant as the corpus grows — the setting the
    * r17 sf10 probe measured at 122.3 s vs fixed-16's 539.6 s
    * (semDedup) and 114.9 vs 386.9 s (nearDupPairsIvf). Deterministic
    * given one `count()`, so the DuckDB oracle computes the identical
    * nlist from the same count (a CTE) and the Lloyd-replay contract
    * survives. At sf0.01's ~500 vectors this derives nlist = 1 — the
    * single-cell degenerate case (exact all-pairs, best recall); the
    * multi-cell replay is exercised at sf1 (nlist ≈ 20) and by the
    * fixed-16 spec witnesses. */
  val AutoCellTarget = 1024L
  /** SemDeDup ε-ball cosine threshold (minSim = 1−ε). 0.35 on the
    * mixture fixture: ~6% of within-cell pairs qualify (measured at
    * sf0.01 — the tail above the cross-cluster bulk at ≤0.3), so the
    * oracle exercises multi-member clusters AND singletons. */
  val SemDedupMinSim = 0.35

  /** Memoized [[Similarity.fitIvfPq]] artifacts per (sfDir, params) —
    * the fit is PURE (md5-derived determinism end-to-end), so caching
    * it changes no result. ONLY the precomputed-artifact queries use
    * this (the *_probe production shapes and the dedup_embedding_*
    * compositions, whose contract is "artifacts already exist"); the
    * original sim_ann_pq/ivf/ivfpq keep their fit IN the timed body so
    * their bench numbers stay comparable across rounds (ADVICE r9).
    *
    * The fit runs OUTSIDE any map lock — it launches Spark jobs and a
    * computeIfAbsent remapping function would hold the bin lock for
    * the whole build (blocking concurrent suites; deadlock if a build
    * path ever re-entered the map). Losing a publish race is fine:
    * the fit is deterministic, both results are bit-identical. */
  private val ivfPqFits = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Float]], Array[Array[Array[Float]]])]()
  private def ivfPqArtifactsAt(s: SparkSession, d: String, nlist: Int)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val key = s"$d|64|$nlist|$PqM|$PqKsub|$PqIters|42"
    val hit = ivfPqFits.get(key)
    if (hit != null) hit
    else {
      val fit = Similarity.fitIvfPq(t(s, d, "embeddings"), "vec_id",
        "embedding", dims = 64, nlist = nlist, m = PqM, ksub = PqKsub,
        iters = PqIters, seed = 42L)
      val prev = ivfPqFits.putIfAbsent(key, fit)
      if (prev != null) prev else fit
    }
  }
  private def ivfPqArtifacts(s: SparkSession, d: String)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) =
    ivfPqArtifactsAt(s, d, IvfNlist)

  /** Memoized embeddings row count per SF directory — the ONE number
    * the auto-cell geometry derives from (a pure property of the
    * directory, so keyed by `d` alone). Both engines compute it: here
    * for [[autoNlist]], the oracle in its `nl` CTE. */
  private val embCounts = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.Long]()
  private def embeddingCount(s: SparkSession, d: String): Long = {
    val hit = embCounts.get(d)
    if (hit != null) hit.longValue
    else {
      val n = t(s, d, "embeddings").count()
      embCounts.putIfAbsent(d, n)
      n
    }
  }
  /** The corpus-derived coarse-cell count the three embedding-dedup
    * queries fit/probe at (judge r17 task 1 — the registered queries
    * must bench the scale-safe geometry, not the fixed-16 plan the
    * sf10 probe measured quadratic). */
  private def autoNlist(s: SparkSession, d: String): Int =
    Similarity.autoCellCount(embeddingCount(s, d), AutoCellTarget)

  /** Memoized PERSISTED IVFPQ index per (session, sfDir) — the probe
    * query's precomputed-artifact side. Production builds the (cell,
    * codes) index once and persists it (parquet); in-memory persist is
    * this process's analog, materialized eagerly so the probe query
    * measures what a user pays per query batch, not the index build
    * it amortizes. A cached plan is BOUND to its SparkSession, so the
    * entry stores the owning session and is validated by reference on
    * every hit — a fresh session (tests vs Verify vs a restarted
    * shell) rebuilds instead of receiving a dead session's frame
    * (an identity-hash key alone could collide after GC). */
  private val ivfPqIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, DataFrame)]()
  private def ivfPqIndexAt(s: SparkSession, d: String,
      nlist: Int): DataFrame = {
    val key = s"$d|$nlist"
    val hit = ivfPqIndexes.get(key)
    if (hit != null && (hit._1 eq s)) hit._2
    else {
      // build OUTSIDE the map lock (ADVICE r9): persist + count launch
      // Spark jobs, and a compute() remapper would pin the bin lock
      // for the whole build. Publish with a cheap compute afterwards;
      // if a concurrent builder won for the same session, drop ours.
      val (coarse, cb) = ivfPqArtifactsAt(s, d, nlist)
      val idx = Similarity.buildIvfPqIndex(t(s, d, "embeddings"),
        coarse, cb, "vec_id", "embedding").persist()
      idx.count()
      val winner = ivfPqIndexes.compute(key, (_, cur) =>
        if (cur != null && (cur._1 eq s)) cur else (s, idx))
      if (winner._2 ne idx) idx.unpersist()
      winner._2
    }
  }
  private def ivfPqIndex(s: SparkSession, d: String): DataFrame =
    ivfPqIndexAt(s, d, IvfNlist)

  /** Memoized postings-index artifacts (index, docLengths) for the
    * text_index_* probes — the lexical mirror of [[ivfPqIndex]]'s
    * build-once-probe-many loop, same publish discipline. */
  private val postingsIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, DataFrame, DataFrame)]()
  private def postingsIndex(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val hit = postingsIndexes.get(d)
    if (hit != null && (hit._1 eq s)) (hit._2, hit._3)
    else {
      val docs = t(s, d, "documents")
      val idx = Retrieval.invertedIndex(docs, "doc_id", "text").persist()
      idx.count()
      val dl = Retrieval.docLengths(docs, "doc_id", "text").persist()
      dl.count()
      val winner = postingsIndexes.compute(d, (_, cur) =>
        if (cur != null && (cur._1 eq s)) cur else (s, idx, dl))
      if (winner._2 ne idx) { idx.unpersist(); dl.unpersist() }
      (winner._2, winner._3)
    }
  }

  /** Shared body of the two ANN recall witnesses (sim_ann_recall on the
    * iid corpus, sim_ann_recall_clustered on the clustered fixture):
    * macro recall per facet gated at integer-percent floors with
    * integer-exact comparisons (h·100 ≥ t·pct — never float-boundary),
    * plus the exact side's row count and rank-ordered signature, which
    * the oracle replays in full. */
  private def annRecallFacets(exact: DataFrame, adcFull: DataFrame,
      ivfpq: DataFrame, ivf: DataFrame, ivfFloor: Int, pruningFloor: Int,
      quantFloor: Int, e2eFloor: Int): DataFrame = {
    val meta = exact.agg(
      count(lit(1)).as("n_exact_pairs"),
      md5(array_join(transform(
        array_sort(collect_list(
          struct(col("q_id"), col("rank"), col("n_id")))),
        x => concat_ws(":", x("q_id"), x("rank"), x("n_id"))), ","))
        .as("exact_sig"))
    def facet(name: String, truth: DataFrame, approx: DataFrame,
        thrPct: Int): DataFrame =
      truth.select("q_id", "n_id")
        .join(approx.select("q_id", "n_id"),
          Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("__h"))
        .crossJoin(truth.agg(count(lit(1)).as("__t")))
        .crossJoin(meta)
        .select(lit(name).as("facet"), col("n_exact_pairs"),
          col("exact_sig"),
          (col("__h") * 100L >= col("__t") * thrPct).as("recall_ok"))
    facet("ivf_vs_exact", exact, ivf, ivfFloor)
      .unionByName(facet("pruning_ivfpq_vs_adc", adcFull, ivfpq, pruningFloor))
      .unionByName(facet("quantization_adc_vs_exact", exact, adcFull, quantFloor))
      .unionByName(facet("end_to_end_ivfpq_vs_exact", exact, ivfpq, e2eFloor))
  }

  /** Deterministic PII seeding for the redaction query: the synthetic
    * corpus has no PII, so emails/phones/SSNs derive from doc_id (mod
    * classes leave some docs clean); `redactSql` replays the identical
    * construction so the redactor is exercised on non-zero hit counts. */
  /** Deterministic unfit-code-point seed for text_bpe_ids_bytes: the
    * corpus alphabet is 25 lowercase ASCII letters+space, so digits
    * (1-byte), é (2-byte), € (3-byte) and 𝄞 (4-byte) are all absent
    * from any fit — every UTF-8 width exercises the byte fallback.
    * Same expression replayed in the oracle ([[byteSeedSqlText]]). */
  private def byteSeedText: Column = concat(
    col("text"), lit(" v"), (col("doc_id") % 100).cast("string"),
    lit(" café 9€ 𝄞"))

  /** SQL mirror of [[byteSeedText]]. */
  private val byteSeedSqlText =
    "text || ' v' || CAST(doc_id % 100 AS VARCHAR) || ' café 9€ 𝄞'"

  private def piiSeededText: Column = concat(
    col("text"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail.example.com soon"))).otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit(" call 415-867-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" today"))).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      lit(" id 123-45-6789 on file")).otherwise(lit("")))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's pickup/dropoff tagged-count union
    * (consumer/StreamProcessor.scala:44-83) restated on lineitem. */
  def entry(spark: SparkSession): DataFrame =
    queries("rel_location_counts")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- aggregation / union (SURVEY §2.4, §2.7) ---
    "rel_location_counts" -> ((s, d) =>
      Relational.taggedKeyCounts(t(s, d, "lineitem"),
        "l_partkey", "pickup_location", "l_suppkey", "dropoff_location")),
    "rel_pricing_summary" -> ((s, d) =>
      Relational.pricingSummary(t(s, d, "lineitem"), "1999-01-01")),
    "rel_rollup" -> ((s, d) =>
      t(s, d, "lineitem").rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))),
    "rel_stats_aggs" -> ((s, d) => {
      // exact quantiles via sort (Relational.groupedQuantiles) instead
      // of the percentile() map-buffer aggregate — same bits, ~4x less
      // time at sf0.1 and bounded executor memory at 100 TB
      val li = t(s, d, "lineitem")
      val q = Relational.groupedQuantiles(li, "l_returnflag",
        Seq(("l_quantity", 0.5, "median_qty"),
          ("l_extendedprice", 0.95, "p95_price")))
      val stats = li.groupBy(col("l_returnflag"))
        .agg(round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4)
            .as("qty_price_corr"))
      q.join(stats, "l_returnflag")
        .select(col("l_returnflag"),
          round(col("median_qty"), 4).as("median_qty"),
          round(col("p95_price"), 4).as("p95_price"),
          col("sd_qty"), col("qty_price_corr"))
    }),
    "rel_grouping_sets" -> ((s, d) =>
      t(s, d, "lineitem").groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))),
    "rel_array_ops" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens_ws"),
        array_join(slice(sort_array(array_distinct(
          split(lower(col("text")), " "))), 1, 3), ",").as("first3_sorted"),
        element_at(split(col("text"), " "), 1).as("first_word"))),
    "rel_regex" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        regexp_extract(col("text"), "([A-Za-z]+)", 1).as("first_alpha"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_numbers"),
        regexp_replace(col("text"), "[aeiou]", "_").as("devoweled"))),
    "rel_cube" -> ((s, d) =>
      t(s, d, "orders").cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))),
    "rel_pivot_counts" -> ((s, d) =>
      t(s, d, "events").groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "error"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("view"), lit(0L)).as("n_view"),
          coalesce(col("error"), lit(0L)).as("n_error"))),
    "rel_distinct_counts" -> ((s, d) =>
      t(s, d, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))),
    "rel_approx_distinct" -> ((s, d) => {
      // HLL++ estimates are engine-specific, but |approx − exact| ≤
      // bound·exact is SQL-checkable: the comparison runs IN-PLAN
      // against the exact distinct (fine at verify/bench SF; at 100 TB
      // you'd ship the estimate alone) and the oracle checks the
      // boolean + the exact count. Bound = 3·rsd (default rsd 0.05):
      // the estimator is deterministic on the value SET, so the
      // boolean replays, and a >3σ miss SHOULD fail the gate.
      val one = t(s, d, "lineitem").agg(
        countDistinct(col("l_partkey")).as("__exp"),
        approx_count_distinct(col("l_partkey")).as("__app"),
        countDistinct(col("l_orderkey")).as("__exo"),
        approx_count_distinct(col("l_orderkey")).as("__apo"))
      def row(name: String, ex: String, ap: String) =
        struct(lit(name).as("key_col"), col(ex).as("n_exact"),
          (abs(col(ap) - col(ex)) <= col(ex) * lit(0.15))
            .as("within_tolerance"))
      one.select(explode(array(
          row("l_partkey", "__exp", "__app"),
          row("l_orderkey", "__exo", "__apo"))).as("r"))
        .select(col("r.key_col"), col("r.n_exact"),
          col("r.within_tolerance"))
    }),
    "rel_hll_distinct" -> ((s, d) => {
      // mergeable DataSketches HLL per key + sketch-only global rollup
      // (no rescan of the data — the union runs over the SKETCHES).
      // Same in-plan tolerance gating as rel_approx_distinct: per-flag
      // estimates AND the merged rollup each check against their exact
      // count at 3σ (lgK 12 ⇒ rsd ≈ 1.04/√4096 ≈ 1.6%, 3σ ≈ 5%), so
      // the merge path is oracle-gated, not just spec'd.
      val li = t(s, d, "lineitem")
      val sk = Relational.hllSketches(li, "l_returnflag", "l_partkey")
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
      val per = sk.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("estimate") - col("n_exact")) <=
            col("n_exact") * lit(0.05)).as("within_tolerance"))
      // 1×1 cross join: the scalar-subquery shape (rel_scalar_subquery)
      val all = Relational.hllMergedEstimate(sk)
        .crossJoin(li.agg(countDistinct(col("l_partkey")).as("n_exact")))
        .select(lit("ALL").as("l_returnflag"), col("n_exact"),
          (abs(col("merged_estimate") - col("n_exact")) <=
            col("n_exact") * lit(0.05)).as("within_tolerance"))
      per.unionByName(all)
    }),
    "rel_salted_distinct" -> ((s, d) =>
      Relational.saltedDistinctCount(t(s, d, "lineitem"),
        "l_returnflag", "l_partkey", 8)),
    "rel_zorder_skip" -> ((s, d) => {
      // physical-layout witness: cluster lineitem three ways (z-order
      // on (partkey, suppkey); single-key sort; arrival order), build
      // each layout's zone map, and report how much of the table a
      // stats-only reader skips for one 2-D box predicate. The z-order
      // layout prunes on BOTH dimensions; the single-key sort only on
      // its own key; arrival order barely at all — the numbers are the
      // point and the oracle replays all three layouts exactly.
      // clustering dims are modulo-derived so one literal box predicate
      // stays selective at every SF (raw key ranges grow with SF)
      // pin the projected input once: three layout witnesses each
      // re-scanned + re-derived it (count, sort, zone map) un-pinned
      // (r18 plan audit)
      val li = t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_partkey"), lit(128)).as("px"),
        pmod(col("l_suppkey"), lit(8)).as("sy"))
        .localCheckpoint(true)
      val tie = Seq(col("l_orderkey"), col("l_linenumber"))
      val z = Layout.zorderValue(col("px"), col("sy"), ZorderBits)
      val dims = Seq("px", "sy")
      def witness(layout: String, order: Seq[Column]) =
        Layout.skipWitness(
          Layout.zoneMap(
            Layout.bucketByOrder(li, order, ZorderBuckets), "bucket", dims),
          layout, ZorderBox)
      // the three witnesses are independent legs over the pinned
      // projection and each is EAGER inside bucketByOrder (count +
      // ordinal sort) — construct them concurrently (guide §2.6, r19)
      val Seq(wz, wp, wa) = Checkpoints.parEager(
        () => witness("zorder", z +: tie),
        () => witness("px_sort", col("px") +: tie),
        () => witness("arrival", tie))
      wz.unionByName(wp).unionByName(wa)
    }),
    "rel_bloom_skip" -> ((s, d) => {
      // bloom-filter layout witness — the POINT-predicate complement
      // to rel_zorder_skip's range story: cluster orders by orderkey
      // (8 buckets standing in for files), physically write them with
      // a parquet bloom filter on o_custkey, and probe the 10 RAREST
      // custkeys. Every bucket spans the full custkey range, so
      // min/max zone stats can never skip a custkey point predicate
      // (zone_scan_buckets = 8, exact, oracled); the bloom read back
      // from the real file footers scans only the buckets the key
      // might be in — never missing one it IS in (no_false_negatives,
      // exact per-bucket set containment) and staying within a small
      // false-positive margin of the truth (bloom_tight, the
      // tolerance-boolean convention — fp is the one thing the filter
      // is allowed to owe)
      import s.implicits._
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey"))
      val bucketed = Layout.bucketByOrder(orders, Seq(col("o_orderkey")),
        BloomBuckets)
      // probe selection: a BloomProbeCount-row collect (bounded
      // artifact, the fit-collect convention)
      val probes = orders.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("__c"))
        .orderBy(col("__c"), col("o_custkey")).limit(BloomProbeCount)
        .select(col("o_custkey")).as[Long].collect().toSeq
      val ndv = orders.select(
        countDistinct(col("o_custkey")).as("n")).as[Long].head()
      val dir = java.nio.file.Files
        .createTempDirectory("graft_bloom_").toString
      Layout.writeClusteredWithBloom(bucketed, "bucket", dir,
        "o_custkey", ndv)
      val bloomPairs = Layout.bloomProbeBuckets(s, dir, "o_custkey", probes)
      val probeDf = probes.toDF("probe")
      val truthPairs = bucketed
        .join(probeDf, col("o_custkey") === col("probe"))
        .select(col("probe"), col("bucket")).distinct()
      val truthCounts = truthPairs.groupBy(col("probe"))
        .agg(count(lit(1)).as("truth_buckets"))
      val zoneCounts = probeDf.join(
          Layout.zoneMap(bucketed, "bucket", Seq("o_custkey")),
          col("min_o_custkey") <= col("probe") &&
            col("probe") <= col("max_o_custkey"))
        .groupBy(col("probe")).agg(count(lit(1)).as("zone_scan_buckets"))
      val bloomCounts = bloomPairs.groupBy(col("probe"))
        .agg(count(lit(1)).as("__bloom_scan"))
      val fn = truthPairs.join(bloomPairs,
          Seq("probe", "bucket"), "left_anti")
        .groupBy(col("probe")).agg(count(lit(1)).as("__missed"))
      probeDf
        .join(truthCounts, Seq("probe"))
        .join(zoneCounts, Seq("probe"))
        .join(bloomCounts, Seq("probe"))
        .join(fn, Seq("probe"), "left")
        .select(col("probe").as("o_custkey"), col("truth_buckets"),
          col("zone_scan_buckets"),
          coalesce(col("__missed"), lit(0L)).equalTo(lit(0L))
            .as("no_false_negatives"),
          (col("__bloom_scan") <= col("truth_buckets") + 3)
            .as("bloom_tight"))
    }),
    "rel_zorder3_skip" -> ((s, d) => {
      // the N-dimensional witness: same zone-map/skip machinery as
      // rel_zorder_skip but clustered by zorderValueN over THREE dims;
      // two legs (zorder3 vs arrival) keep the timed cost at ~2/3 of
      // the 2-D query's three
      val li = t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_partkey"), lit(32)).as("px"),
        pmod(col("l_suppkey"), lit(8)).as("sy"),
        col("l_linenumber").as("ln"))
        .localCheckpoint(true)
      val tie = Seq(col("l_orderkey"), col("l_linenumber"))
      val z = Layout.zorderValueN(
        Seq(col("px"), col("sy"), col("ln")), Zorder3Bits)
      val dims = Zorder3Box.map(_._1)
      def witness(layout: String, order: Seq[Column]) =
        Layout.skipWitness(
          Layout.zoneMap(
            Layout.bucketByOrder(li, order, Zorder3Buckets), "bucket",
            dims), layout, Zorder3Box)
      // independent eager legs — concurrent (the rel_zorder_skip shape)
      val Seq(w3, wa3) = Checkpoints.parEager(
        () => witness("zorder3", z +: tie),
        () => witness("arrival", tie))
      w3.unionByName(wa3)
    }),
    "rel_quality_verdicts" -> ((s, d) =>
      // Deequ-shaped constraint suite: 7 named constraints = ONE
      // aggregate pass over events (QualitySpec pins the single-scan
      // plan); every metric exact-integer/decimal-derived so the
      // verdict row set is bit-deterministic cross-engine
      Quality.check(t(s, d, "events"), qualitySuite)),
    "rel_quality_profile" -> ((s, d) =>
      // discovery half: per-column null/distinct/min/max/completeness
      // in one scan, long format
      Quality.profile(t(s, d, "orders"), QualityProfileCols)),
    "rel_quality_profile_merged" -> ((s, d) => {
      // incremental profiling witness: shard orders by key parity,
      // profile each shard once, merge STATES (never rescan), and
      // check the merged profile — counts/min/max exact by merge
      // algebra, the HLL distinct estimate gated by an in-plan
      // tolerance boolean vs the full-table exact (the
      // rel_approx_distinct convention; DataSketches register unions
      // are order-insensitive, so the boolean is deterministic)
      val orders = t(s, d, "orders")
      val sh = Quality.profileShard(
          orders.where(col("o_orderkey") % 2 === 0), QualityProfileCols)
        .unionByName(Quality.profileShard(
          orders.where(col("o_orderkey") % 2 === 1), QualityProfileCols))
      Quality.mergeProfileShards(sh, QualityProfileCols)
        .join(Quality.profile(orders, QualityProfileCols)
          .select(col("column"), col("n_distinct")), "column")
        .select(col("column"), col("n_rows"), col("n_nulls"),
          col("completeness"), col("min_value"), col("max_value"),
          (abs(col("n_distinct_est") - col("n_distinct")) <=
            col("n_distinct") * lit(0.05))
            .as("distinct_within_tolerance"))
    }),
    "rel_quality_orphans" -> ((s, d) => {
      // referential integrity: lineitem→orders is intact by
      // construction (0 orphans); the broken leg shifts every third
      // child key out of the parent's range — orphan_rate lands at
      // ~1/3 at every SF, proving the counter counts (the derived-
      // fixture convention)
      val li = t(s, d, "lineitem")
      val orders = t(s, d, "orders")
      Quality.orphanRate(li, "l_orderkey", orders, "o_orderkey")
        .withColumn("leg", lit("intact"))
        .unionByName(
          Quality.orphanRate(
            li.select(when(col("l_orderkey") % 3 === 0,
                col("l_orderkey") + lit(100000000L))
              .otherwise(col("l_orderkey")).as("l_orderkey")),
            "l_orderkey", orders, "o_orderkey")
            .withColumn("leg", lit("broken")))
    }),
    "rel_quality_embeddings" -> ((s, d) =>
      // embedding-health gate: presence, key uniqueness, dims, NaN,
      // zero-norm — one pass over the vectors; the unit-norm
      // constraint is the deliberate failure (iid components)
      Quality.check(t(s, d, "embeddings"), embQualitySuite)),
    "rel_quality_psi" -> ((s, d) => {
      // distribution-drift monitor: PSI of o_totalprice against a
      // ×1.1-shifted derivation over fixed literal bin edges — per-bin
      // terms plus the bin=-1 ordered-fold total
      val orders = t(s, d, "orders")
      Quality.psi(orders,
        orders.select((col("o_totalprice") * lit(1.1))
          .as("o_totalprice")),
        "o_totalprice", PsiEdges)
    }),
    "rel_quality_js" -> ((s, d) => {
      // the bounded (≤ ln 2) symmetric drift companion to PSI: JSD on
      // the same fixture, bins, smoothing, and bin=-1 total — PSI
      // alarms (it explodes as a bin empties), JSD trends
      val orders = t(s, d, "orders")
      Quality.jsDivergence(orders,
        orders.select((col("o_totalprice") * lit(1.1))
          .as("o_totalprice")),
        "o_totalprice", PsiEdges)
    }),
    "rel_quality_psi_grouped" -> ((s, d) => {
      // the stratified drift watch: same shift, PSI per order status —
      // a global PSI can read stable while one stratum drifts
      val orders = t(s, d, "orders")
      Quality.psiByGroup(orders,
        orders.select(col("o_orderstatus"),
          (col("o_totalprice") * lit(1.1)).as("o_totalprice")),
        "o_totalprice", "o_orderstatus", PsiEdges)
    }),
    "rel_quality_drift" -> ((s, d) => {
      // profile-drift monitor: yesterday = orders as-is, today = a
      // derived corpus with ~20% of o_orderpriority nulled and
      // o_custkey collapsed to 100 values — null_drift and
      // cardinality_drift must trip on exactly those columns while
      // o_orderkey/o_orderstatus stay quiet (the derived-fixture
      // convention of the cdc_* family)
      val orders = t(s, d, "orders")
      val today = orders.select(col("o_orderkey"),
        (col("o_custkey") % lit(100)).as("o_custkey"),
        col("o_orderstatus"),
        nullif(col("o_orderpriority"), lit("1-URGENT"))
          .as("o_orderpriority"))
      Quality.profileDiff(
        Quality.profile(orders, QualityProfileCols),
        Quality.profile(today, QualityProfileCols),
        QualityNullJump, QualityCardJump)
    }),
    "rel_approx_quantiles" -> ((s, d) => {
      // the percentile sketch gated like the distinct sketches — but on
      // the estimator's ACTUAL guarantee, which is rank (not value)
      // error: the returned value's rank fraction must sit within
      // ±0.02 of the target 0.5 (accuracy 10000 ⇒ rank error ≤ 1e-4;
      // the slack covers sketch-merge wobble across partitionings, so
      // the boolean is deterministic however the value jitters). The
      // rank check runs in-plan via a broadcast of the per-group
      // medians (the zscore stats-join shape); ties on the discrete
      // quantity grid are handled by checking strict-below and
      // at-or-below separately.
      val li = t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"))
      val ap = li.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
          .as("__ap"))
      li.join(broadcast(ap), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("l_quantity") < col("__ap"), 1L).otherwise(0L))
            .as("__lt"),
          sum(when(col("l_quantity") <= col("__ap"), 1L).otherwise(0L))
            .as("__le"))
        .select(col("l_returnflag"), col("n_rows"),
          (col("__lt") <= col("n_rows") * lit(0.52) &&
            col("__le") >= col("n_rows") * lit(0.48))
            .as("within_tolerance"))
    }),
    "rel_conditional_agg" -> ((s, d) =>
      // conditional/ordered aggregate surface: count_if, bool_or/and,
      // filtered avg, and a DETERMINISTIC argmax — max(struct) orders
      // lexicographically so ties on price break on the key (max_by
      // alone picks an arbitrary row among ties)
      t(s, d, "orders").groupBy(col("o_orderpriority"))
        .agg(
          count_if(col("o_totalprice") > 150000).as("n_big"),
          bool_or(col("o_orderstatus") === "F").as("any_f"),
          bool_and(col("o_totalprice") > 0).as("all_positive"),
          max(struct(col("o_totalprice"), col("o_orderkey")))
            .getField("o_orderkey").as("best_key"),
          round(avg(when(col("o_orderstatus") === "O", col("o_totalprice"))), 2)
            .as("avg_open_price"))),

    // --- projection / filter / scalar functions (§2.2, §2.8) ---
    "rel_filter_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity").between(10, 20) && col("l_returnflag") === "R")
        // raw double product: bit-identical in Spark and DuckDB (no
        // summation-order noise per-row), whereas round() diverges on
        // .xx5 ties (Spark shortest-decimal HALF_UP vs binary rounding)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("net_price"))),
    "rel_null_repair" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        date_format(coalesce(col("ts"), to_timestamp(lit("2024-01-01"))),
          "yyyy-MM-dd HH:mm:ss").as("ts_fixed"),
        col("ts").isNull.as("was_null"))),
    "rel_scalar_docs" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        upper(substring(col("text"), 1, 12)).as("head_upper"),
        concat(col("source"), lit("_"), col("lang")).as("src_lang"),
        md5(col("text")).as("text_md5"),
        round(sqrt(col("n_chars")), 4).as("sqrt_chars"))),
    "rel_scalar_events" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        (weekday(col("ts")) + 1).cast("long").as("isodow"),
        get_json_object(col("props"), "$.k").cast("long").as("json_k"),
        round(sqrt(col("value")), 4).as("sqrt_value"))),
    "rel_string_pad" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        lpad(col("source"), 8, "*").as("src_lpad"),
        rpad(col("lang"), 5, "-").as("lang_rpad"),
        translate(col("source"), "aeiou", "AEIOU").as("src_upvowel"),
        reverse(col("source")).as("src_rev"),
        repeat(col("lang"), 3).as("lang_x3"))),
    "rel_bitwise" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        col("event_id").bitwiseAND(lit(255L)).as("lo8"),
        col("event_id").bitwiseOR(lit(4096L)).as("with_bit12"),
        col("event_id").bitwiseXOR(col("user_id")).as("xored"),
        shiftleft(col("event_id"), 2).as("shl2"),
        shiftright(col("event_id"), 3).as("shr3"),
        bitwise_not(col("event_id")).as("inverted"))),

    // --- generators / higher-order functions / reshaping (§2.8, §2.10) ---
    "rel_explode_words" -> ((s, d) =>
      // generator surface: posexplode of a bounded slice — the lateral-
      // view shape; the slice caps fan-out at 5 rows per doc
      t(s, d, "documents")
        .select(col("doc_id"), posexplode(slice(split(col("text"), " "), 1, 5)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("word"))),
    "rel_higher_order" -> ((s, d) => {
      // array lambdas (filter/exists/aggregate/transform) evaluated
      // per row over a words array materialized ONCE per row
      val w = col("__w")
      t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("__w"))
        .select(col("doc_id"),
          size(filter(w, x => length(x) > 5)).cast("long").as("n_long_words"),
          exists(w, x => x === "the").as("has_the"),
          aggregate(w, lit(0L), (acc, x) => acc + length(x)).as("total_chars"),
          array_max(transform(w, x => length(x))).cast("long")
            .as("max_word_len"))
    }),
    "rel_unpivot" -> ((s, d) =>
      // wide→long melt: one output row per (row, measure); Catalyst
      // plans Expand (no shuffle, no join against a measure table)
      t(s, d, "lineitem").unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "value")),

    // --- sorts / limits / window functions (§2.5, §2.6) ---
    "rel_topk_users" -> ((s, d) =>
      Relational.topKByCount(t(s, d, "events"), "user_id", 10)),
    "rel_heavy_hitters" -> ((s, d) =>
      // bounded-state exact heavy hitters: md5-bucket prefilter +
      // exact recount of candidates. minCount 80 sits INSIDE the
      // per-user count range (60-86) and above the 256-bucket average
      // (~39), so the prefilter genuinely drops buckets and the
      // surviving set is non-trivial; the oracle replays buckets,
      // recount and the in-plan capture boolean verbatim
      Relational.heavyHitters(t(s, d, "events"), "user_id",
        minCount = 80, nBuckets = 256)),
    "rel_batch_slice" -> ((s, d) =>
      // scalable ordinal (range-partitioned sort + per-partition offsets)
      // instead of ordinalSlice's global row_number window — same result
      // (RelationalSpec proves ordinal equality), but no single-partition
      // WindowExec; columns pruned before the sort
      Relational.withScalableOrdinal(
          t(s, d, "events").select(col("event_id"), col("ts")),
          Seq(col("ts"), col("event_id")))
        .filter(col("row_num").between(101, 200))
        .select(col("event_id"), col("row_num"))),
    "win_analytics" -> ((s, d) => {
      val e = t(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wv = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      e.select(col("event_id"), col("user_id"),
        row_number().over(w).cast("long").as("rn"),
        lag(col("value"), 1).over(w).as("prev_value"),
        rank().over(wv).cast("long").as("value_rank"),
        round(sum(col("value"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
          .as("running_sum"))
    }),

    "win_ranking_suite" -> ((s, d) => {
      val e = t(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val byValue = Window.partitionBy(col("user_id"))
        .orderBy(col("value"), col("event_id"))
      val range = Window.partitionBy(col("user_id"))
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-3600L, 0L)
      e.select(col("event_id"), col("user_id"),
        lead(col("value"), 1).over(w).as("next_value"),
        dense_rank().over(byValue).cast("long").as("value_dense_rank"),
        ntile(4).over(byValue).cast("long").as("value_quartile"),
        round(percent_rank().over(byValue), 6).as("value_pct_rank"),
        count(lit(1)).over(range).as("n_events_prev_hour"))
    }),
    "win_first_last" -> ((s, d) => {
      val e = t(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val upToHere = w.rowsBetween(Window.unboundedPreceding, 0)
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      e.select(col("event_id"), col("user_id"),
        first(col("value")).over(upToHere).as("first_value_user"),
        last(col("value")).over(full).as("last_value_user"),
        nth_value(col("value"), 2).over(full).as("second_value_user"))
    }),
    "win_moving_avg" -> ((s, d) => {
      val e = t(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      e.select(col("event_id"), col("user_id"),
        round(avg(col("value")).over(w.rowsBetween(-2, 0)), 4).as("mov_avg3"),
        round(max(col("value")).over(w.rowsBetween(-2, 0)), 4).as("mov_max3"),
        round(sum(col("value")).over(w.rowsBetween(1, 2)), 4).as("next2_sum"))
    }),

    // --- joins (§2.3 gap-fill) ---
    "join_brand_revenue" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val p = t(s, d, "part")
      // no broadcast hint: part grows with SF (not broadcast-safe at
      // 100 TB) — size-based planning + AQE pick the strategy
      li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n_items"))
    }),
    "join_multiway" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val su = t(s, d, "supplier")
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      // broadcast hints only on the fixed-size dims (nation=25,
      // region=5 rows at every SF); supplier/customer/orders grow with
      // SF and are left to size-based planning + AQE
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey")
          && su("s_nationkey") === c("c_nationkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n_items"))
    }),
    "join_left_orders" -> ((s, d) => {
      val o = t(s, d, "orders"); val li = t(s, d, "lineitem")
      // aggregation pushed below the join (TPC-H Q13 pattern): the fact
      // side collapses to one row per orderkey BEFORE the join, so the
      // join input shrinks from |lineitem| to |orders| rows — at 100 TB
      // that's the difference between shuffling the fact table and
      // shuffling its per-key counts. An unmatched order contributes
      // 0 items but 1 joined row, hence the two coalesce defaults.
      val cnt = li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("__cnt"))
      o.join(cnt, o("o_orderkey") === cnt("l_orderkey"), "left")
        .groupBy(col("o_orderpriority"))
        .agg(sum(coalesce(col("__cnt"), lit(0L))).as("n_items"),
          sum(coalesce(col("__cnt"), lit(1L))).as("n_rows"))
    }),
    "join_semi_customers" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),
    "join_anti_customers" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "join_asof_last_order" -> ((s, d) => {
      val e = t(s, d, "events"); val o = t(s, d, "orders")
      Relational.asofJoin(e, o, "event_id", "user_id", "ts",
          "o_custkey", "o_orderdate", "o_orderkey")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("o_orderkey").as("asof_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("asof_orderdate"))
    }),
    "join_full_outer" -> ((s, d) => {
      // both sides pre-aggregated to per-day counts, then full outer on
      // the day key — days present on one side only survive with a 0
      val o = t(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_orders"))
      val e = t(s, d, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"))
      o.join(e, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
    }),
    "join_cross" -> ((s, d) =>
      t(s, d, "nation").crossJoin(t(s, d, "region"))
        .select(col("n_name"), col("r_name"),
          concat(col("n_name"), lit("/"), col("r_name")).as("pair"))),
    "rel_scalar_subquery" -> ((s, d) => {
      // scalar-subquery shape: the single-row aggregate broadcasts and
      // every probe row compares against it — no shuffle of orders
      val o = t(s, d, "orders")
      val avgP = o.agg(avg(col("o_totalprice")).as("__avg"))
      o.join(broadcast(avgP)).filter(col("o_totalprice") > col("__avg"))
        .select(col("o_orderkey"), col("o_totalprice"))
    }),
    "join_bloom_prefilter" -> ((s, d) => {
      // bloom semi-join reduction: exact customers-with-big-orders
      // result; the customer side is prefiltered by a broadcast bloom
      // bitmap before the semi-join shuffle (Relational.bloomSemiJoin)
      val c = t(s, d, "customer")
      val hot = t(s, d, "orders").filter(col("o_totalprice") > 200000)
      Relational.bloomSemiJoin(c, hot, "c_custkey", "o_custkey",
          expectedItems = 100000L, numBits = 800000L)
        .select(col("c_custkey"), col("c_name"))
    }),
    "join_salted_skew" -> ((s, d) => {
      // explicit skew-salting (Relational.saltedJoin): the fact side
      // scatters each row across 8 sub-keys of its join key, the dim
      // side replicates 8× — a hot orderkey's rows land on 8 reducers
      // instead of one. Result is EXACTLY the plain equi-join; the
      // oracle computes the unsalted join, proving the rewrite changes
      // the shuffle shape and nothing else.
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderpriority"))
      Relational.saltedJoin(li, o, "l_orderkey", "o_orderkey",
          saltBy = col("l_partkey") * lit(7919) + col("l_linenumber"),
          salt = 8)
        .groupBy(col("o_orderpriority"))
        // sum in DECIMAL: the prices are an exact 2-decimal grid, so
        // the decimal sum is order-independent and bit-replays in any
        // engine — a double sum over 6M rows/group (sf1) drifted past
        // the round(,2) boundary (63001612641.51 vs .5), the one
        // artifact the sf1 oracle sweep surfaced
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("revenue"))
    }),
    "join_range_binned" -> ((s, d) =>
      Relational.binnedRangeCount(t(s, d, "events"), "event_id", "ts", 300L)),
    "join_range_orders" -> ((s, d) => {
      val e = t(s, d, "events"); val o = t(s, d, "orders")
      e.join(o, e("user_id") === o("o_custkey")
          && o("o_orderdate") >= e("ts") - expr("INTERVAL 90 DAYS")
          && o("o_orderdate") <= e("ts"), "left")
        .groupBy(e("event_id"))
        .agg(count(o("o_orderkey")).as("n_orders_90d"))
    }),

    "rel_sql_q3" -> ((s, d) => {
      // the SQL entry path (reference P3 runs SQL over a temp view of
      // the stream): TPC-H Q3 shipping-priority, full Catalyst
      // parse→analyze→optimize over registered views
      Seq("customer", "orders", "lineitem")
        .foreach(n => t(s, d, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate_s,
               o_orderpriority
        FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01'
          AND l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10""")
    }),
    "rel_try_errors" -> ((s, d) =>
      // error-tolerant scalar surface (bad-record quarantine shape):
      // try_cast to null on unparseable, try_divide to null on zero.
      // The cast input is MIXED (10% bad) on purpose: Spark's try_cast
      // pays a caught exception per FAILING row (measured ~10 µs/row),
      // so quarantine plans should keep failure the rare case — see
      // SCALE.md
      t(s, d, "events").select(col("event_id"),
        expr("try_cast(CASE WHEN event_id % 10 = 0 THEN event_type " +
          "ELSE CAST(event_id AS STRING) END AS INT)").cast("long")
          .as("mixed_cast"),
        expr("try_cast(get_json_object(props, '$.k') AS INT)").cast("long")
          .as("json_k_int"),
        expr("try_divide(value, user_id % 3)").as("safe_div"),
        get_json_object(col("props"), "$.missing").isNull.as("missing_key"))),

    // --- null semantics / date math (§2.8 hard corners) ---
    "rel_null_semantics" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        (col("props") <=> lit(null)).as("props_is_null_safe"),
        nullif(col("event_type"), lit("error")).as("type_or_null"),
        nvl2(col("ts"), lit("has_ts"), lit("no_ts")).as("ts_flag"))),
    "rel_date_math" -> ((s, d) =>
      t(s, d, "orders").select(col("o_orderkey"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("due_30d"),
        datediff(to_date(lit("2025-01-01")), col("o_orderdate")).cast("long")
          .as("age_days"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd")
          .as("quarter_start"))),

    // --- set operations (§2.7) ---
    "rel_set_nations" -> ((s, d) => {
      val cn = t(s, d, "customer").select(col("c_nationkey").as("nationkey")).distinct()
      val sn = t(s, d, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
      cn.intersect(sn).withColumn("tag", lit("both"))
        .unionByName(cn.except(sn).withColumn("tag", lit("cust_only")))
    }),

    "rel_set_all" -> ((s, d) => {
      val cheap = t(s, d, "lineitem").filter(col("l_quantity") < 3)
        .select(col("l_suppkey").as("k"))
      val ret = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_suppkey").as("k"))
      cheap.exceptAll(ret).groupBy(col("k")).agg(count(lit(1)).as("n"))
    }),

    // --- streaming batch analogs (§2.9; streaming forms in graft.streaming) ---
    "stream_tumbling_counts" -> ((s, d) =>
      Relational.tumblingCounts(t(s, d, "events"), "ts", "hour", "event_type", "value")),
    "stream_sessionize" -> ((s, d) =>
      Relational.sessionize(t(s, d, "events"), "user_id", "ts", "event_id", 1800)),
    "stream_sliding_counts" -> ((s, d) =>
      Relational.slidingCounts(t(s, d, "events"), "ts", 3, 2, "event_type")),

    "rel_cap_per_key" -> ((s, d) =>
      Relational.capPerKey(t(s, d, "events"), "user_id",
          Seq(col("ts"), col("event_id")), 5)
        .select(col("event_id"), col("user_id"), col("rn"))),
    "rel_resample_ffill" -> ((s, d) =>
      // portable flavor: the oracle's list_sort+list_aggregate fold is
      // bit-identical; the algebraic resampleFfill is the scale default
      // (spec proves 1e-9 agreement)
      Relational.resampleFfillPortable(t(s, d, "events"), "user_id",
        "ts", "event_id", "value", 86400L)),
    "rel_hash_split" -> ((s, d) =>
      Relational.deterministicSplit(t(s, d, "documents"), "doc_id")
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))),
    "rel_mixture_sample" -> ((s, d) =>
      // weighted mixture with UP-sampling: src0 replays 2.5× (every
      // row twice + the deterministic half a third time), src1 keeps
      // 40%, src2 drops, the rest pass through at epoch 0
      Packing.mixtureSample(t(s, d, "documents"), "source", "doc_id",
          MixtureWeights)
        .select(col("doc_id"), col("source"), col("epoch"))),
    "rel_mixture_tokens" -> ((s, d) =>
      // the TOKEN-weighted flavor: the fractional epoch is a token-
      // share prefix cut per source, not a row-rate — the recipe a
      // real LLM mixture specifies
      Packing.mixtureSampleByTokens(t(s, d, "documents"), "source",
          "doc_id", "text", MixtureWeights)
        .select(col("doc_id"), col("source"), col("epoch"))),
    "rel_mixture_temperature" -> ((s, d) =>
      // temperature sampling: weights DERIVED from the corpus's own
      // token shares (share^α renormalization, α=0.5 flattens) — the
      // oracle re-derives them from its own totals, so the weight
      // algebra is gated, not just the sampler; both sides round the
      // weights at 6dp so the admit comparisons are bit-identical
      Packing.temperatureMixtureByTokens(t(s, d, "documents"),
          "source", "doc_id", "text", MixtureAlpha)
        .select(col("doc_id"), col("source"), col("epoch"))),
    "rel_priority_sample" -> ((s, d) =>
      // Duffield–Lund–Thorup priority sampling: weighted sample of 50
      // docs by n_chars without replacement, with the unbiased
      // subset-sum estimator ŵ = max(w, τ). Priorities are md5-derived
      // IEEE-division-only arithmetic — bit-identical in the oracle
      Packing.prioritySample(t(s, d, "documents"), "doc_id", "n_chars",
        PrioritySampleK)),
    "rel_priority_sample_grouped" -> ((s, d) =>
      // the stratified flavor: 10 per source, per-group τ/ŵ — the
      // per-source-quota subsampler with estimator unbiasedness kept
      // within each stratum
      Packing.prioritySampleByGroup(t(s, d, "documents"), "source",
        "doc_id", "n_chars", PrioritySampleGroupK)),
    "rel_sample_by_key" -> ((s, d) =>
      // downweight the two dominant event types, keep the rest intact;
      // the kept row set is a pure hash filter, stable at any SF
      Relational.deterministicSampleByKey(t(s, d, "events"), "event_type",
          "event_id", Map("view" -> 0.25, "click" -> 0.5))
        .select(col("event_id"), col("event_type"))),
    "rel_histogram" -> ((s, d) =>
      // [0, 400) in 16 bins of exactly 25.0 (exact double literals in
      // both engines); values reach ~490 so the overflow bucket is live
      Relational.histogram(t(s, d, "events"), "value", 0.0, 400.0, 16)),
    "rel_zscore" -> ((s, d) =>
      // portable flavor: ordered-fold group stats are bit-identical to
      // the oracle's list_sort+list_aggregate; zscoreOutliers (algebraic
      // avg/stddev_pop) is the scale default — spec proves 1e-9 agreement
      Relational.zscoreOutliersPortable(t(s, d, "events"), "event_type",
          "value", 2.0)
        .select(col("event_id"), col("event_type"), col("value"),
          col("z"), col("is_outlier"))),
    "rel_winsorize" -> ((s, d) =>
      // per-type p05/p95 clipping — the numeric-tail curation step;
      // the oracle replays groupedQuantiles' exact interpolation
      // formula over sorted lists, so the clipped values hash-match
      // raw (no rounding anywhere)
      Relational.winsorize(t(s, d, "events"), "event_type", "value",
          0.05, 0.95)
        .select(col("event_id"), col("event_type"), col("value"),
          col("value_clipped"))),
    "rel_anomaly_model" -> ((s, d) => {
      // the frozen-model arrival path (the incremental-dedup split
      // pattern): per-type stats fit ONCE on the 90% "historical"
      // slice, every 10th event is the "arrival batch" scored against
      // them — nothing over the history recomputes per probe. Portable
      // stats so the oracle replays the fit bit-for-bit; zscoreStats
      // (algebraic) is the scale default, spec-tied. Same operator
      // runs the stream shape (StreamOps.zscoreAgainstStats).
      val ev = t(s, d, "events")
      Relational.zscoreAgainstStats(
          ev.filter(col("event_id") % 10 === 0),
          Relational.zscoreStatsPortable(
            ev.filter(col("event_id") % 10 =!= 0), "event_type", "value"),
          "event_type", "value", 2.0)
        .select(col("event_id"), col("event_type"), col("value"),
          col("z"), col("is_outlier"))
    }),
    "rel_train_order" -> ((s, d) =>
      Relational.trainingOrder(t(s, d, "documents"), "doc_id", "epoch0")
        .select(col("doc_id"), col("shuffle_rank"))),

    // --- text analysis ---
    "text_stats" -> ((s, d) => {
      val st = TextAnalysis.textStats(t(s, d, "documents"), "doc_id", "text")
      st.select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        col("n_words").cast("long").as("n_words"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("lexical_diversity"), col("avg_word_len"))
    }),
    "text_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(t(s, d, "documents"), "doc_id", "text")),
    "text_lang_id" -> ((s, d) =>
      TextAnalysis.langId(t(s, d, "documents"), "doc_id", "text")),
    "text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprints(t(s, d, "documents"), "doc_id", "text")),
    "text_ngram_freq" -> ((s, d) =>
      TextAnalysis.ngramFreq(t(s, d, "documents"), "text", 2, 20)),
    "text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionScore(t(s, d, "documents"), "doc_id", "text")),
    "text_bm25" -> ((s, d) =>
      TextAnalysis.bm25Scores(t(s, d, "documents"), "doc_id", "text",
        Bm25Terms)),
    "text_paragraph_dedup" -> ((s, d) =>
      // cross-doc span dedup at word granularity on the newline-free
      // corpus (the text_line_dedup convention; specs cover "\n"
      // paragraphs): each span survives once corpus-wide at its
      // lowest (doc_id, pos) occurrence
      TextAnalysis.dedupParagraphs(t(s, d, "documents"),
        "doc_id", "text", " ")),
    "text_span_corrupt" -> ((s, d) =>
      // T5-style span corruption: ~15% of tokens masked in 3-aligned
      // maximal runs, <extra_id_K> sentinels in the input, masked
      // tokens as the target — deterministic in (doc_id, pos), so a
      // re-run regenerates byte-identical training pairs
      TextAnalysis.spanCorrupt(t(s, d, "documents"), "doc_id", "text")),
    "text_fim_split" -> ((s, d) =>
      // fill-in-the-middle: two md5-uniform cuts per doc →
      // (prefix, middle, suffix) + the PSM training string. ONE
      // per-row projection — scan-speed, stream-ready
      TextAnalysis.fimSplit(t(s, d, "documents"), "doc_id", "text")),
    "text_window_dedup" -> ((s, d) =>
      // Lee et al.-style substring dedup: 8-token sliding windows,
      // first occurrence wins, covered tokens drop, kept spans merge
      // on reassembly — the alignment-free complement to
      // text_paragraph_dedup
      TextAnalysis.dedupTokenWindows(t(s, d, "documents"),
        "doc_id", "text", k = 8)),
    "text_window_dedup_exact" -> ((s, d) =>
      // the EXACT (suffix-ordered) flavor: same span semantics keyed
      // on raw window content — the distributed truncated suffix
      // sort, zero hash-collision false scrubs. Oracle compares
      // tokens, not digests; spec pins flavor equality on
      // collision-free corpora
      TextAnalysis.dedupTokenWindowsExact(t(s, d, "documents"),
        "doc_id", "text", k = 8)),
    "text_substring_dedup" -> ((s, d) =>
      // Lee et al. 2022 ExactSubstr proper: remove-ALL-copies — every
      // token covered by an 8-token window appearing >= 2 times
      // ANYWHERE (any doc, incl. its own) is scrubbed from EVERY
      // occurrence, and n_spans counts the maximal repeated regions.
      // The remove-all + extent semantics text_window_dedup's
      // keep-first rung deliberately does not have
      TextAnalysis.substringDedup(t(s, d, "documents"),
        "doc_id", "text", L = 8)),
    "dedup_substring_spans" -> ((s, d) =>
      // the EXTEND step as a first-class relation: maximal repeated
      // spans of >= 8 tokens with full token extents — the audit
      // report of what text_substring_dedup scrubs (anchor hash →
      // group → extend; never a monolithic suffix array)
      TextAnalysis.repeatedSpans(t(s, d, "documents"),
        "doc_id", "text", L = 8)),
    "text_winnow_fps" -> ((s, d) => {
      // MOSS winnowing selection per doc: n_fps vs n_windows is the
      // measured compression (expected density 2/(w+1)), fps_sig
      // gates the exact selected (pos, hash) set
      val docs = t(s, d, "documents")
      val nw = docs.select(col("doc_id"),
        greatest(size(split(col("text"), " ")) - (WinnowK - 1), lit(0))
          .cast("long").as("n_windows"))
      TextAnalysis.winnowFingerprints(docs, "doc_id", "text",
          WinnowK, WinnowW)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fps"),
          md5(array_join(transform(
            sort_array(collect_list(struct(col("fpos"), col("fp")))),
            x => concat(x("fpos").cast("string"), lit(":"), x("fp"))),
            " ")).as("fps_sig"))
        .join(nw, "doc_id")
        .select(col("doc_id"), col("n_windows"), col("n_fps"),
          col("fps_sig"))
    }),
    "dedup_winnow_pairs" -> ((s, d) =>
      // shared-fingerprint candidate pairs (the MOSS triage), df-cap
      // guarded — the compressed-index complement to the full
      // window-hash posting
      TextAnalysis.winnowPairs(t(s, d, "documents"), "doc_id", "text",
        WinnowK, WinnowW, WinnowMaxBucket)),
    "dedup_winnow_containment" -> ((s, d) =>
      // the MOSS percent-match: pairs normalized by the smaller
      // side's fingerprint budget — full-containment pairs score ~1
      TextAnalysis.winnowContainment(t(s, d, "documents"), "doc_id",
        "text", WinnowK, WinnowW, WinnowMaxBucket)),
    "dedup_winnow_spans" -> ((s, d) =>
      // the matched-SPAN report: shared fingerprints grouped by
      // alignment shift, merged into maximal runs — WHICH paragraph
      // leaked, with both sides' token extents, not just a pair score
      TextAnalysis.winnowSpans(t(s, d, "documents"), "doc_id",
        "text", WinnowK, WinnowW, WinnowMaxBucket)),
    "dedup_incremental_winnow" -> ((s, d) => {
      // the winnow production loop: 90% of the corpus builds the
      // compressed fingerprint index, every 10th doc is the arrival
      // batch probing it (the stream_window_dup_flags fixture at
      // winnow granularity) — stateless stream-static equi-join, so
      // the batch result IS the streamed result over these arrivals
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val arrivals = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("arrival_ts", col("doc_id"))
      graft.streaming.StreamOps.incrementalWinnowDupFlags(arrivals,
          TextAnalysis.winnowIndex(corpus, "doc_id", "text",
            WinnowK, WinnowW),
          "doc_id", "text", "arrival_ts", WinnowK, WinnowW)
        .select(col("new_id"), col("arrival_ts"),
          col("fpos").cast("long").as("fpos"), col("dup_of"),
          col("dup_pos").cast("long").as("dup_pos"))
    }),
    "dedup_winnow_delete" -> ((s, d) => {
      // the takedown loop: build the winnow index, DELETE every
      // corpus doc with doc_id % 7 = 0 (canonical re-election from
      // the persisted fingerprint posting), probe the arrivals
      // against the vacuumed index. The oracle expresses the
      // CONTRACT — an index rebuilt over corpus∖deleted — so the
      // cross-engine equality IS delete == rebuild at corpus scale
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val arrivals = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("arrival_ts", col("doc_id"))
      // ONE pinned fingerprint pass feeds both the index election and
      // the delete's occurrence posting (un-pinned, the corpus was
      // fingerprinted twice; r18)
      val occ = TextAnalysis.winnowFingerprints(corpus, "doc_id",
        "text", WinnowK, WinnowW).localCheckpoint(true)
      val idx = TextAnalysis.winnowIndexOfFps(occ, "doc_id")
      val vacuumed = TextAnalysis.deleteFromWinnowIndex(idx, occ,
        "doc_id",
        corpus.where(col("doc_id") % 7 === 0).select(col("doc_id")))
      graft.streaming.StreamOps.incrementalWinnowDupFlags(arrivals,
          vacuumed, "doc_id", "text", "arrival_ts", WinnowK, WinnowW)
        .select(col("new_id"), col("arrival_ts"),
          col("fpos").cast("long").as("fpos"), col("dup_of"),
          col("dup_pos").cast("long").as("dup_pos"))
    }),
    "text_vocab" -> ((s, d) =>
      TextAnalysis.vocabulary(t(s, d, "documents"), "text", 50)),
    "text_bpe_merges" -> ((s, d) =>
      // the tokenizer fit itself as the query result: 12 merge rules
      // learned from the corpus (fit in the timed body — the sim_ann
      // convention; production persists this table once). The oracle
      // replays every round's pair-count argmax as an unrolled CTE
      // chain, so the FIT is what's oracle-gated, not just its shape
      s.createDataFrame(TextAnalysis.fitBpeMerges(
        t(s, d, "documents"), "text", BpeMergeCount))),
    "text_bpe_tokenize" -> ((s, d) => {
      // fit + frozen-model apply in one query (the text_oov shape):
      // the oracle recomputes the merge sequence AND re-tokenizes, so
      // a fit drift and an apply drift both fail the hash
      val docs = t(s, d, "documents")
      TextAnalysis.bpeTokenize(docs, "doc_id", "text",
          TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount))
        .select(col("doc_id"), col("n_tokens"), col("tokens_sig"))
    }),
    "text_bpe_ids" -> ((s, d) => {
      // the tokenizer loop's final stage: fit → vocabulary → TOKEN
      // IDS (what packs ship). Fit-on-self ⇒ every token resolves
      // (n_oov ≡ 0, the in-plan witness); the oracle re-derives the
      // merges, the vocabulary (sorted corpus alphabet + merges by
      // rank) AND the id sequence
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount)
      TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges,
          TextAnalysis.bpeVocabulary(docs, "text", merges))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("ids_sig"))
    }),
    "text_bpe_ids_bytes" -> ((s, d) => {
      // the GPT-2 byte-fallback closure: fit merges + vocabulary on
      // the UNMODIFIED corpus, encode a corpus seeded with code
      // points the fit never saw (digits, é, €, 𝄞 — 1/2/3/4-byte
      // UTF-8; the piiSeededText convention, oracle replays the
      // seed): n_oov stays ≡0 and n_fallback witnesses the byte
      // path actually engaging
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount)
      TextAnalysis.bpeEncodeIdsBytes(
        docs.select(col("doc_id"), byteSeedText.as("text")),
        "doc_id", "text", merges,
        TextAnalysis.bpeVocabulary(docs, "text", merges))
        .select(col("doc_id"), col("n_tokens"), col("n_ids"),
          col("n_oov"), col("n_fallback"), col("ids_sig"))
    }),
    "text_chunk_stream" -> ((s, d) => {
      // the OTHER canonical pretraining format: the whole corpus's id
      // stream in deterministic hash order, sliced at 256 — docs split
      // across boundaries, every chunk but the tail exactly full; the
      // oracle re-derives ids, stream order, offsets and per-chunk
      // reassembly
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount)
      Packing.chunkTokenStream(
        TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges,
          TextAnalysis.bpeVocabulary(docs, "text", merges)),
        "doc_id", seqLen = 256)
        .select(col("chunk_id"), col("n_ids"), col("complete"),
          col("ids_sig"))
    }),
    "text_bpe_tokenize_fast" -> ((s, d) => {
      // the SCALE flavor of text_bpe_tokenize: same fit, but the apply
      // is the broadcast rank-map mapPartitions merger — per-row cost
      // independent of merge count (the literal chain is one
      // expression node per rule; at 32k+ rules analysis/codegen
      // dominates). Token-for-token equal by construction, so it
      // shares the unrolled-CTE oracle verbatim
      val docs = t(s, d, "documents")
      TextAnalysis.bpeTokenizeFast(docs, "doc_id", "text",
          TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount))
        .select(col("doc_id"), col("n_tokens"), col("tokens_sig"))
    }),
    "text_oov" -> ((s, d) => {
      // fit + score in one query (the oracle replays both); production
      // persists the vocabulary and scores arrivals against it. Size
      // 20 < the corpus's ~31 distinct tokens, so OOV is NON-trivial
      // (a vocab covering every token would gate a vacuous all-zero
      // column)
      val docs = t(s, d, "documents")
      TextAnalysis.oovRate(docs, "doc_id", "text",
        TextAnalysis.vocabulary(docs, "text", 20))
    }),
    "text_pack" -> ((s, d) =>
      Packing.packSequences(t(s, d, "documents"), "doc_id", "text",
        budget = PackBudget, numGroups = PackGroups)),
    "text_pack_ids" -> ((s, d) => {
      // the dataloader handoff: pack walk + BPE encode composed —
      // each pack's member id sequences flattened in pack order; the
      // oracle re-derives the merges, the vocabulary, the ids AND the
      // recursive pack walk, then re-concatenates per pack
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount)
      Packing.materializePackedIds(
        Packing.packSequences(docs, "doc_id", "text",
          budget = PackBudget, numGroups = PackGroups),
        TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges,
          TextAnalysis.bpeVocabulary(docs, "text", merges)),
        "doc_id")
        .select(col("pack_id"), col("n_docs"), col("n_missing"),
          col("n_ids"), col("ids_sig"))
    }),
    "text_pack_chunks" -> ((s, d) =>
      // RAG splitter → batch assembler: pack the overlapping word
      // chunks, a doc's chunks adjacent in pack order
      Packing.packChunks(t(s, d, "documents"), "doc_id", "text",
        chunkSize = 12, overlap = 4, budget = PackBudget,
        numGroups = PackGroups)),
    "text_redact" -> ((s, d) =>
      // the corpus has no real PII, so the query seeds deterministic
      // emails/phones/SSNs from doc_id (same expression replayed in the
      // oracle) — the redactor runs against non-trivial hit counts
      TextAnalysis.redactPii(
        t(s, d, "documents").select(col("doc_id"), piiSeededText.as("text")),
        "doc_id", "text")),
    "rel_profile" -> ((s, d) =>
      Relational.profile(t(s, d, "events"),
        Seq("event_id", "ts", "user_id", "event_type", "value", "props"))),
    "text_chunks" -> ((s, d) =>
      TextAnalysis.chunkWords(t(s, d, "documents"), "doc_id", "text",
        chunkSize = 12, overlap = 4)),
    "text_source_report" -> ((s, d) =>
      // the PORTABLE (ordered-fold) flavor so the per-source mean is
      // oracle-checkable bit-for-bit; TextAnalysis.sourceReport
      // (algebraic avg — bounded state per source at any corpus size)
      // is the scale default, spec-tied to this flavor
      TextAnalysis.sourceReportPortable(t(s, d, "documents"), "source",
        "doc_id", "text", minWords = GopherMinWords,
        maxWords = GopherMaxWords, minMeanWordLen = GopherMinMeanWordLen,
        maxMeanWordLen = GopherMaxMeanWordLen,
        maxSymbolRatio = GopherMaxSymbolRatio,
        minStopwords = GopherMinStopwords)),
    "text_self_info" -> ((s, d) =>
      // PORTABLE flavor (ordered fold) so the mean is oracle-checkable;
      // selfInfoScore (algebraic avg) is the scale default, spec-tied
      TextAnalysis.selfInfoScorePortable(t(s, d, "documents"),
        "doc_id", "text")),
    "text_self_info2" -> ((s, d) =>
      // bigram conditional surprisal (sees word ORDER) — same flavor
      // convention as text_self_info
      TextAnalysis.selfInfoBigramPortable(t(s, d, "documents"),
        "doc_id", "text")),
    "text_self_info3" -> ((s, d) =>
      // the general n-gram rung at n=3: two-token contexts
      TextAnalysis.selfInfoNgramPortable(t(s, d, "documents"),
        "doc_id", "text", 3)),
    "text_self_info_backoff" -> ((s, d) => {
      // stupid-backoff trigram scoring vs a model fit on HALF the
      // corpus (doc_id parity): fit-on-self never backs off (every
      // corpus trigram is in its own model — the spec anchor), so the
      // query freezes the even-doc model and scores ALL docs — 8k of
      // 26k positions at sf0.01 genuinely fall to bigram/unigram, and
      // n_backoff carries the non-vacuity witness into the oracle
      val docs = t(s, d, "documents")
      TextAnalysis.scoreAgainstBackoffModelPortable(docs,
        TextAnalysis.backoffNgramModel(
          docs.filter(col("doc_id") % 2 === 0), "text", 3),
        "doc_id", "text", 3)
    }),
    "text_ppl_buckets" -> ((s, d) => {
      // the CCNet head/middle/tail split: unigram self-info as the
      // perplexity proxy, terciles PER LANGUAGE (the paper buckets
      // per language — a hard global cut would just rank languages)
      val docs = t(s, d, "documents")
      TextAnalysis.pplBuckets(
        TextAnalysis.selfInfoScorePortable(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id"),
        "lang", "self_info")
        .select(col("doc_id"), col("lang"), col("self_info"),
          col("t1"), col("t2"), col("bucket"))
    }),
    "text_self_info_kn" -> ((s, d) => {
      // interpolated Kneser-Ney bigram scoring vs a model frozen on
      // HALF the corpus (doc_id parity — the backoff query's fixture):
      // fit-on-self never interpolates (every corpus bigram is in its
      // own model — the spec anchor), so scoring ALL docs makes
      // n_interp and n_ctx_unseen genuinely fire, and unlike the MLE
      // scorer no seen-context position is dropped (every P_KN > 0)
      val docs = t(s, d, "documents")
      TextAnalysis.scoreAgainstKnModelPortable(docs,
        TextAnalysis.kneserNeyModel(
          docs.filter(col("doc_id") % 2 === 0), "text"),
        "doc_id", "text")
    }),
    "text_self_info_kn3" -> ((s, d) => {
      // the trigram rung of interpolated KN (continuation counts at
      // every lower order — the form production LMs shipped): same
      // even-half frozen-model fixture; both backoff depths fire
      val docs = t(s, d, "documents")
      TextAnalysis.scoreAgainstKn3ModelPortable(docs,
        TextAnalysis.kneserNeyTrigramModel(
          docs.filter(col("doc_id") % 2 === 0), "text"),
        "doc_id", "text")
    }),
    "text_gopher" -> ((s, d) =>
      // thresholds chosen to BISECT this corpus (words 10-99 median 56,
      // mean word len 3.7-5.3) so both keep outcomes are exercised
      TextAnalysis.gopherRules(t(s, d, "documents"), "doc_id", "text",
        minWords = GopherMinWords, maxWords = GopherMaxWords,
        minMeanWordLen = GopherMinMeanWordLen,
        maxMeanWordLen = GopherMaxMeanWordLen,
        maxSymbolRatio = GopherMaxSymbolRatio,
        minStopwords = GopherMinStopwords)),
    "text_nb_model" -> ((s, d) => {
      // the NB fit artifact itself as the query result (the
      // text_bpe_merges convention): per-token class counts are exact
      // integers, so the FIT is hash-gated with no rounding at all
      val m = TextAnalysis.nbQualityModel(
        gopherLabeledDocs(s, d), "text", "keep")
      m.select(col("__ntok").as("token"), col("__np").as("n_pos"),
        col("__nn").as("n_neg"))
    }),
    "text_nb_quality" -> ((s, d) =>
      // quality-classifier distillation: fit multinomial NB on the
      // gopher rule gate's labels, score every doc with calibrated
      // log-odds. PORTABLE flavor (ordered fold); fit-on-self ⇒
      // n_oov ≡ 0 (spec anchor) — the frozen-model pair scores NEW
      // arrivals with the same math (TextAnalysisSpec)
      TextAnalysis.nbQualityScorePortable(
        gopherLabeledDocs(s, d), "doc_id", "text", "keep")),
    "text_dsir_model" -> ((s, d) => {
      // DSIR fit, inspectable half: exact hashed-ngram bucket counts
      // (unigrams + bigrams, md5-uniform buckets) of the TARGET
      // distribution (the English slice) vs the RAW corpus — pure
      // integers, ≤ DsirBuckets rows however large the corpus
      val docs = t(s, d, "documents")
      Dsir.dsirCounts(docs.filter(col("lang") === "en"), docs, "text",
        DsirBuckets)
    }),
    "text_dsir_score" -> ((s, d) => {
      // DSIR scoring: per-doc log importance weight Σ λ_bucket under
      // the frozen hashed-ngram model (target = English slice, raw =
      // whole corpus). Portable ordered fold, round(.,4) — the NB
      // scoring convention
      val docs = t(s, d, "documents")
      Dsir.dsirScorePortable(docs,
          Dsir.dsirModel(docs.filter(col("lang") === "en"), docs, "text",
            DsirBuckets), "doc_id", "text", DsirBuckets)
        .select(col("doc_id"), col("n_features"), col("log_w"))
    }),
    "text_dsir_sample" -> ((s, d) => {
      // DSIR selection: Gumbel top-k on log_w + g_id — k docs without
      // replacement ∝ importance weight, deterministic in ids (the
      // priority-sampling convention lifted to importance weights).
      // One bounded-heap top-k; rank over the ≤ k survivor frame
      val docs = t(s, d, "documents")
      Dsir.dsirResample(docs,
        Dsir.dsirModel(docs.filter(col("lang") === "en"), docs, "text",
          DsirBuckets), "doc_id", "text", DsirBuckets, DsirSampleK)
    }),
    "text_line_dedup" -> ((s, d) =>
      // the synthetic corpus has no newlines, so the delimiter is the
      // word boundary — same operator, line granularity is a parameter
      TextAnalysis.dedupLines(t(s, d, "documents"), "doc_id", "text",
        delim = " ")),
    "text_boilerplate" -> ((s, d) =>
      // corpus-relative threshold (60% of docs), derived IN-PLAN so
      // query construction is pure — no driver-side count job
      TextAnalysis.removeBoilerplateFrac(t(s, d, "documents"),
        "doc_id", "text", 0.6, delim = " ")),
    "rel_token_budget" -> ((s, d) =>
      Packing.tokenBudgetSampleByKey(t(s, d, "documents"), "source",
          "doc_id", "text", TokenBudgets)
        .select(col("doc_id"), col("source"))),
    "text_curation_dag" -> ((s, d) =>
      // the full assembly line in ONE query: gopher gate (text_gopher's
      // bisecting thresholds) → word-level line dedup → keep-best →
      // per-source token budget → packing; the corpus is scanned ONCE
      // (spec-pinned) and each stage is the oracle-gated operator
      Packing.curateAndPack(t(s, d, "documents"), "doc_id", "source",
        "text", TokenBudgets, PackBudget, PackGroups, delim = " ",
        minWords = GopherMinWords, maxWords = GopherMaxWords,
        minMeanWordLen = GopherMinMeanWordLen,
        maxMeanWordLen = GopherMaxMeanWordLen,
        maxSymbolRatio = GopherMaxSymbolRatio,
        minStopwords = GopherMinStopwords)),
    "text_curation_dag_nb" -> ((s, d) => {
      // the DAG with the classifier-distillation stage inserted after
      // the heuristic gate: the NB model fits on the gopher-labeled
      // corpus (text_nb_quality's fit-on-self convention — production
      // passes the persisted artifact instead) and gates survivors on
      // the calibrated log-odds sign; the DAG itself still scans the
      // corpus once (spec-pinned), the model rides in as a broadcast
      // join
      // materialize the model artifact ONCE (it IS an artifact — the
      // production pipeline passes a persisted table): the scorer
      // references it 2x (consts + term join) and the gated frame is
      // consumed 3x downstream — un-pinned, every reference re-ran
      // the NB fit including its corpus scan (r18 final-plan audit:
      // 79 document scans in this one query; plans/r18)
      val model = TextAnalysis.nbQualityModel(
        gopherLabeledDocs(s, d), "text", "keep").localCheckpoint(true)
      Packing.curateAndPack(t(s, d, "documents"), "doc_id", "source",
        "text", TokenBudgets, PackBudget, PackGroups, delim = " ",
        minWords = GopherMinWords, maxWords = GopherMaxWords,
        minMeanWordLen = GopherMinMeanWordLen,
        maxMeanWordLen = GopherMaxMeanWordLen,
        maxSymbolRatio = GopherMaxSymbolRatio,
        minStopwords = GopherMinStopwords,
        nbModel = Some(model))
    }),

    // --- dedup ---
    "dedup_exact_groups" -> ((s, d) =>
      Dedup.exactDupGroups(t(s, d, "documents"), "doc_id", "text")),
    "dedup_stats" -> ((s, d) =>
      Dedup.dedupStats(t(s, d, "documents"), "text")),
    "dedup_minhash_bands" -> ((s, d) =>
      Dedup.lshBands(t(s, d, "documents"), "doc_id", "text", MinhashK, LshBands)),
    "dedup_lsh_pairs" -> ((s, d) =>
      Dedup.lshCandidatePairs(t(s, d, "documents"), "doc_id", "text",
        MinhashK, LshBands)),
    "dedup_jaccard_top" -> ((s, d) =>
      // df-cap ON: the scale-safe configuration is the exercised one.
      // 1000 is far above this corpus's max shingle df (25 at sf0.1), so
      // results are identical to cap-off — at corpus scale the cap drops
      // ultra-common shingles whose posting lists expand quadratically
      Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text", 0.0,
          maxDocFreq = 1000L)
        .orderBy(col("jaccard").desc, col("a_id"), col("b_id")).limit(20)),
    "dedup_jaccard_est" -> ((s, d) => {
      // signature-only refine of the LSH candidates: the estimate is
      // permutation-agreement / k — never re-reads text
      val docs = t(s, d, "documents")
      Dedup.minhashJaccardEstimate(docs,
        Dedup.lshCandidatePairs(docs, "doc_id", "text", MinhashK, LshBands),
        "doc_id", "text", MinhashK)
    }),
    "dedup_jaccard_prefix" -> ((s, d) =>
      // PPJoin prefix-filtered EXACT Jaccard join at t=0.5: the full
      // answer set (no LSH recall trade) from rarest-first prefix
      // postings only; the oracle brute-forces every shingle-sharing
      // pair and filters — a missed pair fails the hash
      Dedup.jaccardPairsPrefix(t(s, d, "documents"), "doc_id", "text",
        minJaccard = 0.5)),
    "dedup_simhash" -> ((s, d) =>
      // the PORTABLE (md5-hash) flavor so the signature is
      // oracle-checkable bit-for-bit; Dedup.simhash (xxhash64) is the
      // single-engine throughput flavor, spec-tested
      Dedup.simhashPortable(t(s, d, "documents"), "doc_id", "text")),
    "dedup_simhash_pairs" -> ((s, d) =>
      // EXACT hamming<=3 pairs via pigeonhole banding (no recall loss)
      Dedup.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text", 3)),
    "dedup_incremental" -> ((s, d) => {
      // the arrival path: 90% of the corpus is the pre-built signature
      // index, every 10th doc is the "new batch" probing it — nothing
      // over the corpus recomputes per probe
      val docs = t(s, d, "documents")
      Dedup.incrementalNearDups(
        docs.filter(col("doc_id") % 10 === 0),
        Dedup.simhashBandIndex(docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text"),
        "doc_id", "text")
    }),
    "dedup_incremental_exact" -> ((s, d) => {
      // exact-fingerprint flavor; the corpus has no natural exact dups
      // so the arrival batch is SEEDED: every 7th doc re-posted
      // reformatted (fresh id, uppercased text) — each must flag back
      // to its original through the normalized fingerprint. The index
      // is the exactDupGroups table the curation pipeline persists
      // anyway.
      val docs = t(s, d, "documents")
      val arrivals = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          upper(col("text")).as("text"))
      Dedup.incrementalExactDups(arrivals,
        Dedup.exactDupGroups(docs, "doc_id", "text"), "doc_id", "text")
    }),
    "dedup_incremental_lsh" -> ((s, d) => {
      // same arrival split, MinHash-LSH candidate flavor
      val docs = t(s, d, "documents")
      Dedup.incrementalLshCandidates(
        docs.filter(col("doc_id") % 10 === 0),
        Dedup.lshBandIndex(docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", MinhashK, LshBands),
        "doc_id", "text", MinhashK, LshBands)
    }),
    "dedup_embedding_cos" -> ((s, d) =>
      Dedup.embeddingNearDupPairs(t(s, d, "embeddings"), "vec_id",
        "embedding", "label", 0.3)),
    "dedup_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.duplicateClusters(
        Dedup.lshCandidatePairs(docs, "doc_id", "text", MinhashK, LshBands))
    }),
    "dedup_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contamination(docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), "doc_id", "text")
    }),
    "dedup_scrub_spans" -> ((s, d) => {
      // span-level decontamination (same train/eval boundary as
      // dedup_contamination): eval 4-gram windows scrub out of
      // training docs, the rest of each doc survives (k chosen to
      // bisect this corpus: 43 of 475 train docs lose spans at
      // sf0.01 — k=8 catches only the one verbatim re-post)
      val docs = t(s, d, "documents")
      Dedup.decontaminateSpans(docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), "doc_id", "text", k = 4)
    }),
    "dedup_scrub_spans_exact" -> ((s, d) => {
      // the EXACT decontamination flavor at the same boundary and k:
      // train spans scrub only on a verbatim TOKEN match with an eval
      // window (the suffix-ordered key), never on a hash collision.
      // Agreement with dedup_scrub_spans on this corpus is the
      // collision-free expectation — both queries' oracles assert it
      // independently against the same SQL span algebra
      val docs = t(s, d, "documents")
      Dedup.decontaminateSpansExact(docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), "doc_id", "text", k = 4)
    }),
    "dedup_cluster_split" -> ((s, d) => {
      // leakage-safe split: near-dup clusters (LSH pairs) assign as a
      // unit, singletons fall back to their deterministicSplit bucket
      val docs = t(s, d, "documents")
      Dedup.clusterSafeSplit(docs, "doc_id",
          Dedup.lshCandidatePairs(docs, "doc_id", "text",
            MinhashK, LshBands))
        .select(col("doc_id"), col("split_key"), col("split"))
    }),
    "dedup_split_embedding" -> ((s, d) => {
      // leakage-safe split in EMBEDDING space: semantic near-dup pairs
      // from the IVFPQ learned blocking feed the same cluster-as-a-
      // unit assignment dedup_cluster_split runs on text LSH pairs —
      // a paraphrase of a train doc can never land in test even when
      // no textual signature catches it. Artifacts fit at the
      // corpus-derived cell count (autoNlist) — the scale-safe
      // geometry; fixed-16 measured quadratic at sf10 (SCALE.md r17)
      val emb = t(s, d, "embeddings")
      val nl = autoNlist(s, d)
      val (coarse, cb) = ivfPqArtifactsAt(s, d, nl)
      // pair table materialized ONCE (the dedup_curation convention):
      // the CC edge symmetrization consumes the pair frame twice, and
      // the IVFPQ pair plan is the expensive side of this composition
      val pairs = Similarity.nearDupPairsIvf(emb, coarse, cb,
          candSim = 0.2, minSim = 0.3,
          index = Some(ivfPqIndexAt(s, d, nl)))
        .select(col("a_id"), col("b_id"))
        .localCheckpoint(true)
      Dedup.clusterSafeSplit(emb, "vec_id", pairs)
        .select(col("vec_id"), col("split_key"), col("split"))
    }),
    "dedup_keep_best" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.keepBest(docs,
        TextAnalysis.qualityScore(docs, "doc_id", "text"), "doc_id", "text")
    }),
    "dedup_edit_distance" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.editDistancePairs(docs,
        Dedup.lshCandidatePairs(docs, "doc_id", "text", MinhashK, LshBands),
        "doc_id", "text", 64)
    }),
    "dedup_curation" -> ((s, d) =>
      // shared-stage pipeline: the LSH pair table is materialized once
      // and feeds BOTH edit-distance refine and cluster labeling
      Dedup.curationReport(t(s, d, "documents"), "doc_id", "text",
        MinhashK, LshBands)),
    "dedup_embedding_ivf" -> ((s, d) => {
      // corpus-scale embedding near-dup: the IVFPQ coarse cell is the
      // LEARNED blocking key (dedup_embedding_cos needs a label), the
      // pair join ships codes not floats, survivors refine exactly.
      // Artifacts at the corpus-derived cell count (autoNlist) — the
      // scale-safe geometry (judge r17 task 1)
      val emb = t(s, d, "embeddings")
      val nl = autoNlist(s, d)
      val (coarse, cb) = ivfPqArtifactsAt(s, d, nl)
      Similarity.nearDupPairsIvf(emb, coarse, cb,
        candSim = 0.2, minSim = 0.3,
        index = Some(ivfPqIndexAt(s, d, nl)))
    }),
    "dedup_semantic" -> ((s, d) => {
      // SemDeDup (Abbas et al. 2023): k-means cells → within-cell
      // ε-ball duplicate clusters → keep the LOWEST-centroid-cosine
      // member per cluster. Cells at the corpus-derived count
      // (semDedupAutoCells' sizing rule — the paper scales clusters
      // with data); the coarse fit is shared with the other two
      // auto-geometry queries via the memoized joint fit
      Similarity.semDedup(t(s, d, "embeddings"),
        ivfPqArtifactsAt(s, d, autoNlist(s, d))._1,
        minSim = SemDedupMinSim)
    }),
    "dedup_incremental_semantic" -> ((s, d) => {
      // the EMBEDDING member of the incremental-index family (judge
      // r17 task 4): 90% of the corpus is the maintained IVFPQ index,
      // every 10th vector is the arrival batch probing it — cell
      // assign + ADC prefilter per arrival, exact refine on survivors,
      // nothing over the corpus recomputes. Artifacts at the shared
      // auto-cell geometry; semanticProbeAdmitAdvance is the
      // admit/advance half (spec-pinned probe∘advance ≡ rebuild)
      val emb = t(s, d, "embeddings")
      val nl = autoNlist(s, d)
      val (coarse, cb) = ivfPqArtifactsAt(s, d, nl)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      Similarity.incrementalSemanticDups(
        emb.filter(col("vec_id") % 10 === 0),
        Similarity.buildIvfPqIndex(corpus, coarse, cb), corpus,
        coarse, cb, candSim = 0.2, minSim = 0.3)
    }),

    // --- similarity search ---
    "sim_knn_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
    }),
    "sim_hard_negatives" -> ((s, d) => {
      // contrastive-training negative mining: per anchor the 5 MOST
      // similar vectors of a DIFFERENT label (exclusion fused into the
      // join predicate — excluded pairs never reach scoring)
      val emb = t(s, d, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), 5)
    }),
    "sim_nn_blocked" -> ((s, d) =>
      Similarity.nearestInBlock(t(s, d, "embeddings"), "vec_id", "embedding",
        "label")),
    "sim_hybrid_rrf" -> ((s, d) => {
      // hybrid retrieval: a lexical BM25 leg (fixed term set) and a
      // dense cosine leg (one fixed query vector) fused by reciprocal
      // ranks — rank fusion needs no cross-leg score calibration,
      // which is why RRF is the production hybrid-search default.
      // Each leg ranks only inside its own top-K window
      val emb = t(s, d, "embeddings")
      // q_id -1: a synthetic query id outside the corpus domain, so
      // the scorer's self-pair exclusion never drops a real candidate
      val q = emb.filter(col("vec_id") === 0)
        .select(lit(-1L).as("vec_id"), col("embedding"))
      val dense = Similarity.bruteForceTopK(emb, q, HybridLegK)
        .select(col("n_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(
        Seq("lex" -> hybridLexLeg(s, d), "dense" -> dense), "doc_id",
        "rank", topN = 20)
    }),
    "sim_hybrid_rrf_ann" -> ((s, d) => {
      // the hybrid's PRODUCTION dense leg: the exact scorer swapped
      // for the IVF probe (nprobe/nlist of the corpus scored instead
      // of all of it) — the shape a 100 TB hybrid search runs, with
      // sim_hybrid_rrf as its exact anchor. Query = corpus vector 0
      // probing its nprobe nearest cells; self excluded, as in
      // sim_ann_ivf. As a probe-the-index production shape it uses the
      // memoized coarse quantizer (the *_probe precomputed-artifact
      // convention) — fitIvfPq's coarse equals fitCentroids at
      // (nlist, iters 2, seed 42) bit-for-bit (spec-asserted), so the
      // oracle's in-SQL fit replay is unchanged
      val emb = t(s, d, "embeddings")
      val dense = Similarity.ivfTopK(emb, emb.filter(col("vec_id") === 0),
          HybridLegK, nlist = IvfNlist, nprobe = IvfNprobe,
          coarse = Some(ivfPqArtifacts(s, d)._1))
        .select(col("n_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(
        Seq("lex" -> hybridLexLeg(s, d), "dense" -> dense), "doc_id",
        "rank", topN = 20)
    }),
    "sim_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.annTopK(emb, emb.filter(col("vec_id") < 10), 5, 64, 4)
    }),
    "sim_ann_multiprobe" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.annTopKMultiProbe(emb, emb.filter(col("vec_id") < 10), 5,
        64, 4)
    }),
    "sim_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.annTopKRerank(emb, emb.filter(col("vec_id") < 10), 5, 64, 4,
        rerankFactor = 3)
    }),
    "sim_centroids" -> ((s, d) =>
      // the PORTABLE (ordered-fold) flavor so the oracle hash-matches
      // bit-for-bit; Similarity.labelCentroids (algebraic avg) is the
      // bounded-state scale default, spec-proved to agree within 1e-9
      Similarity.labelCentroidsPortable(t(s, d, "embeddings"), "label",
        "embedding")),
    // The three in-query-fit ANN queries pay the FULL fit in their
    // timed body, exactly as they have since their introduction — the
    // round-9 memoization briefly moved their fit cost out of the
    // bench, which broke cross-round comparability under unchanged
    // names (ADVICE r9). The memoized-artifact production shape lives
    // in the *_probe variants; these remain the fit-included flavor.
    "sim_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5,
        nlist = IvfNlist, nprobe = IvfNprobe)
    }),
    "sim_ann_pq" -> ((s, d) => {
      // compressed-domain brute force: fit per-sub-space codebooks
      // (portable Lloyd, seed offset per sub-space), encode the corpus
      // to PqM codes, ADC-score against broadcast queries. The oracle
      // replays fit+encode+scan bit-for-bit (pqSql).
      val emb = t(s, d, "embeddings")
      val cb = Similarity.fitPqCodebooks(emb, "vec_id", "embedding",
        dims = 64, m = PqM, ksub = PqKsub, iters = PqIters, seed = 42L)
      Similarity.pqAdcTopK(emb, emb.filter(col("vec_id") < 10), 5, cb)
    }),
    "sim_ann_ivfpq" -> ((s, d) => {
      // the FAISS IndexIVFPQ composition: same coarse quantizer as
      // sim_ann_ivf (nlist/nprobe/seed identical), same codebooks as
      // sim_ann_pq — both index artifacts from ONE joint fit, the ADC
      // scan restricted to the probed cells
      val emb = t(s, d, "embeddings")
      val (coarse, cb) = Similarity.fitIvfPq(emb, "vec_id", "embedding",
        dims = 64, nlist = IvfNlist, m = PqM, ksub = PqKsub,
        iters = PqIters, seed = 42L)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), 5,
        nprobe = IvfNprobe, coarse, cb)
    }),
    "sim_ann_pq_probe" -> ((s, d) => {
      // the compressed brute force over the PERSISTED index: probing
      // every coarse cell (nprobe = nlist) makes the cell join a full
      // ADC scan — result identical to sim_ann_pq's in-query
      // encode+scan (spec-asserted; same ADC algebra, same ranking),
      // so the same pqSql oracle gates it. What a production user
      // pays per query batch when the codes are already on disk.
      val emb = t(s, d, "embeddings")
      val (coarse, cb) = ivfPqArtifacts(s, d)
      Similarity.ivfPqProbeIndex(ivfPqIndex(s, d),
        emb.filter(col("vec_id") < 10), 5,
        nprobe = IvfNlist, coarse, cb)
    }),
    "sim_ann_ivfpq_probe" -> ((s, d) => {
      // the PRODUCTION probe shape: frozen (memoized) artifacts, the
      // persisted-index build (scan → project, zero exchanges), and
      // the windowless expression-based probe — what a user pays per
      // query batch after the one-time fit. Same oracle as
      // sim_ann_ivfpq: the result is identical by construction
      // (spec-asserted), only the plan differs.
      val emb = t(s, d, "embeddings")
      val (coarse, cb) = ivfPqArtifacts(s, d)
      Similarity.ivfPqProbeIndex(ivfPqIndex(s, d),
        emb.filter(col("vec_id") < 10), 5,
        nprobe = IvfNprobe, coarse, cb)
    }),
    "sim_index_report" -> ((s, d) => {
      // index health over the persisted IVFPQ index: per-cell counts,
      // skew vs uniform, and self-ADC reconstruction quality — the
      // drift/probe-cost monitor that decides when advanceIvfPqIndex
      // must give way to a refit (ivfPqIndexHealth). Portable avg
      // flavor so the oracle replays the fold bit-for-bit.
      val cb = ivfPqArtifacts(s, d)._2
      Similarity.ivfPqIndexReportPortable(ivfPqIndex(s, d),
        t(s, d, "embeddings"), cb, IvfNlist)
    }),
    "sim_ann_recall" -> ((s, d) => {
      // ANSWER-quality witness for the ANN stack (the index HEALTH
      // monitor above watches cells/residuals, not recall): recall@5
      // against bruteForceTopK, decomposed FAISS-style into the two
      // loss sources — cell pruning (ivfpq probe vs the full-scan ADC:
      // what nprobe=4/16 forfeits) and quantization (full-scan ADC vs
      // exact: what the 4x8 codebooks forfeit) — plus end-to-end and
      // the uncompressed IVF probe. Booleans gate MACRO recall (total
      // hits over total truth pairs) at integer-percent floors set
      // from both verify SFs with margin; comparisons are integer-
      // exact (h*100 >= t*pct), never float-boundary. The LOW
      // quantization floor is honest corpus physics: iid-random 64-d
      // embeddings concentrate distances, so 4-byte PQ codes scramble
      // a top-5 whose margins are paper-thin — exactly the drift this
      // witness exists to surface (and why IVF, which scores probed
      // cells exactly, holds 30%+). The oracle replays the EXACT side
      // (n_exact_pairs + rank-ordered signature) and pins the booleans.
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val (coarse, cb) = ivfPqArtifacts(s, d)
      val idx = ivfPqIndex(s, d)
      // materialize each retrieval facet ONCE (the sim_ann_recall_
      // clustered convention, r18): annRecallFacets references `exact`
      // ~7x and the probes 2-3x inside its union — un-pinned, the
      // brute-force truth leg re-ran per reference (final-plan audit:
      // 46 scans / 61 exchanges; plans/r18). The four facets are
      // INDEPENDENT given (emb, idx, artifacts), so they materialize
      // concurrently (guide §2.6 — r19); `ivf` shares the memoized
      // joint fit's coarse (== fitCentroids at (nlist, iters 2, seed),
      // spec-asserted) — skips a redundant Lloyd re-fit, bit-identical
      val Seq(exact, adcFull, ivfpq, ivf) = Checkpoints.parEager(
        () => Similarity.bruteForceTopK(emb, q, 5)
          .localCheckpoint(true),
        () => Similarity.ivfPqProbeIndex(idx, q, 5,
          nprobe = IvfNlist, coarse, cb).localCheckpoint(true),
        () => Similarity.ivfPqProbeIndex(idx, q, 5,
          nprobe = IvfNprobe, coarse, cb).localCheckpoint(true),
        () => Similarity.ivfTopK(emb, q, 5,
          nlist = IvfNlist, nprobe = IvfNprobe, coarse = Some(coarse))
          .localCheckpoint(true))
      annRecallFacets(exact, adcFull, ivfpq, ivf,
        ivfFloor = 30, pruningFloor = 20, quantFloor = 4, e2eFloor = 2)
    }),
    "sim_ann_recall_clustered" -> ((s, d) => {
      // The recall witness on the fixture where ANN recall SHOULD be
      // high: 16 md5-deterministic clusters of EXACTLY 7 members
      // (112 ids — constant across SFs: the witness pins answer
      // quality, not throughput), centers ±40 vs noise ±5 so
      // in-cluster cosine ≈ 1 and cross-cluster ≈ 0 — the regime of
      // trained text embeddings, where exact top-5 and every ANN
      // flavor confine to a query's 6 co-members and recall floors at
      // 50%+ are meaningful (a drop = real drift). Closes the honest
      // weakness sim_ann_recall documents for the iid corpus table.
      // Floors sit below SimilaritySpec's measured actuals with margin.
      // the fixture is tiny and every downstream facet re-reads it:
      // materialize ONCE (lineage-truncating) so the fit's per-iteration
      // jobs and the four retrieval facets read cached blocks instead of
      // re-deriving the md5 generation expressions per job
      // ONE partition for the generator (r19): the fixture is a
      // CONSTANT 112 rows at every SF by design, but s.range(112)
      // defaults to defaultParallelism partitions, so every stage over
      // it ran 32 near-empty tasks — and the probe stages ship ~1 MB
      // task binaries (the unrolled centroid/codebook literals), so
      // each empty task still paid the deserialize (profile: 739
      // tasks, Σ task 134 s, ~181 ms/task average for a 112-row
      // query). A single partition is scale-INDEPENDENT here — the
      // witness never grows with the corpus
      val emb = Similarity.clusteredEmbeddings(
        s.range(0, 112, 1, 1).toDF("id"), "id", dims = 64, nClusters = 16)
        .localCheckpoint(true)
      val q = emb.filter(col("vec_id") < 10)
      val (coarse, cb) = Similarity.fitIvfPq(emb, "vec_id", "embedding",
        dims = 64, nlist = IvfNlist, m = PqM, ksub = PqKsub,
        iters = PqIters, seed = 42L)
      // the four facets below reference each retrieval frame 2-3×
      // inside one union — materialize the 112-row index and each
      // ≤50-row top-k ONCE so the union reads cached blocks instead of
      // re-running the probes (and rebuilding the index) per reference
      val idx = Similarity.buildIvfPqIndex(emb, coarse, cb,
        "vec_id", "embedding").localCheckpoint(true)
      // the four facets are independent given (emb, idx, fit) —
      // materialize concurrently (guide §2.6, the sim_ann_recall
      // shape); `ivf` shares the joint fit's coarse quantizer:
      // fitIvfPq's coarse IS fitCentroids at (nlist, iters 2, seed)
      // bit-for-bit (spec-asserted), so the short-circuit cannot move
      // the result — it only skips a second Lloyd fit
      val Seq(exact, adcFull, ivfpq, ivf) = Checkpoints.parEager(
        () => Similarity.bruteForceTopK(emb, q, 5).localCheckpoint(true),
        () => Similarity.ivfPqProbeIndex(idx, q, 5,
          nprobe = IvfNlist, coarse, cb).localCheckpoint(true),
        () => Similarity.ivfPqProbeIndex(idx, q, 5,
          nprobe = IvfNprobe, coarse, cb).localCheckpoint(true),
        () => Similarity.ivfTopK(emb, q, 5,
          nlist = IvfNlist, nprobe = IvfNprobe, coarse = Some(coarse))
          .localCheckpoint(true))
      annRecallFacets(exact, adcFull, ivfpq, ivf,
        ivfFloor = 70, pruningFloor = 50, quantFloor = 50, e2eFloor = 50)
    }),
    "stream_ann_probe_flags" -> ((s, d) => {
      // batch analog of StreamOps.annProbeFlags (the
      // stream_tumbling_counts convention): every 50th vector is the
      // arrival batch, probing the persisted IVFPQ index of the full
      // corpus through the SAME annProbeScored body the stream path
      // runs — stateless stream-static join, so the batch result IS
      // the streamed result over these arrivals. Raw-double threshold
      // filter (the nearDupPairsIvf candSim precedent), rounded sim
      // in the output (the sim_* convention).
      val emb = t(s, d, "embeddings")
      val arrivals = emb.filter(col("vec_id") % 50 === 0)
        .withColumn("arrival_ts", col("vec_id"))
      val (coarse, cb) = ivfPqArtifacts(s, d)
      graft.streaming.StreamOps.annProbeFlags(arrivals, ivfPqIndex(s, d),
          coarse, cb, "vec_id", "embedding", "arrival_ts",
          nprobe = IvfNprobe, minSim = 0.3)
        .select(col("new_id"), col("arrival_ts"), col("neighbor_id"),
          round(col("adc_sim"), 4).as("adc_sim"))
    }),
    "stream_window_dup_flags" -> ((s, d) => {
      // batch analog of StreamOps.incrementalWindowDupFlags: 90% of
      // the corpus builds the window-hash index, every 10th doc is
      // the arrival batch probing it — the span-granularity arrival
      // path (dedup_incremental's shape for substrings). Stateless
      // stream-static equi-join on the hash; one row per duplicated
      // window occurrence.
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val arrivals = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("arrival_ts", col("doc_id"))
      graft.streaming.StreamOps.incrementalWindowDupFlags(arrivals,
          TextAnalysis.windowHashIndex(corpus, "doc_id", "text", k = 8),
          "doc_id", "text", "arrival_ts", k = 8)
        .select(col("new_id"), col("arrival_ts"),
          col("wpos").cast("long").as("wpos"), col("dup_of"),
          col("dup_pos").cast("long").as("dup_pos"))
    }),

    // --- multimodal plumbing ---
    "media_chunks" -> ((s, d) =>
      Multimodal.chunkFrames(
          Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"), 256)
        .select(col("media_id"), col("n_bytes"), col("n_chunks"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_offset").cast("long").as("chunk_offset"),
          col("chunk_sig"))),
    "media_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
          Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"),
          256, 4)
        .select(col("media_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_sig"))),
    "media_windows" -> ((s, d) =>
      Multimodal.frameWindows(
          Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"),
          256, 128)
        .select(col("media_id"), col("n_windows"),
          col("window_idx").cast("long").as("window_idx"),
          col("window_offset").cast("long").as("window_offset"),
          col("window_sig"))),
    "media_resize" -> ((s, d) =>
      // REAL resize round trip: synthesize a P6 blob per doc (id-derived
      // dims), decode it with the byte parser, nearest-neighbor resample
      // to 5x4, re-encode, decode AGAIN, and report pixel features of
      // the result. The oracle derives the expected values from the
      // generator formula + the sampling arithmetic — any header-offset,
      // dimension, or kernel bug breaks the hash match
      Multimodal.decodeImageFeatures(s,
          Multimodal.resizePpm(s,
            Multimodal.synthesizePpm(s, t(s, d, "documents"), "doc_id")
              .toDF, 5, 4).toDF)
        .toDF.select(col("media_id"), col("width"), col("height"),
          col("n_px"), col("px_sum"), col("mean_r"), col("mean_g"),
          col("mean_b"), col("mean_luma"))),
    "media_features" -> ((s, d) =>
      // REAL decode: per-channel means + Rec.709 luma over PIXELS the
      // P6 parser extracted. RAW divisions of exact integer sums (the
      // textStats bit-identical convention); the oracle recomputes the
      // same sums from the pixel formula without ever seeing the bytes,
      // so a decode bug cannot cancel out
      Multimodal.decodeImageFeatures(s,
          Multimodal.synthesizePpm(s, t(s, d, "documents"), "doc_id").toDF)
        .toDF.select(col("media_id"), col("width"), col("height"),
          col("n_px"), col("px_sum"), col("mean_r"), col("mean_g"),
          col("mean_b"), col("mean_luma"))),
    "media_near_dups" -> ((s, d) =>
      // frame-signature video-dedup shape: 64-byte frames sampled at
      // stride 2, media paired through the frame-hash equi-join —
      // exact-dup payloads surface at overlap 1.0, partial re-posts
      // at their shared-frame fraction
      Multimodal.frameNearDups(
        Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"),
        chunkBytes = 64, everyN = 2, minShared = 1L)),
    "media_near_dups_px" -> ((s, d) =>
      // CONTENT-level media dedup: PPM corpus with planted duplicate
      // groups (id % 25), payloads DECODED to raw pixels before frame
      // fingerprinting — the dedup keys on what the image shows, not on
      // blob framing. Identical rasters share every sampled frame, so
      // groups surface as complete subgraphs at overlap 1.0; distinct
      // bases never collide (aperiodic pixel formula, MultimodalSpec)
      Multimodal.frameNearDups(
        Multimodal.decodedPixelPayloads(s,
          Multimodal.synthesizePpm(s,
            t(s, d, "documents").filter(col("doc_id") < 200),
            "doc_id", Some(25L)).toDF).toDF,
        chunkBytes = 64, everyN = 2, minShared = 2L)),
    "media_near_dups_phash" -> ((s, d) => {
      // TRUE perceptual dedup: planted duplicate groups (id % 25), with
      // every ODD id re-encoded as an exact 2x nearest-neighbor upscale
      // — byte-DIFFERENT payloads, same content. dHash64 is invariant
      // to the upscale, so every within-group pair surfaces at hamming
      // 0 regardless of scale; payload md5 (`same_bytes`) matches only
      // same-parity pairs — the exact-vs-perceptual gap, one oracle row
      // per pair. Cross-base hashes sit > maxHamming bits apart
      // (MultimodalSpec pins min cross-base distance), so the banded
      // join admits no false pairs
      // corpus pinned (consumed by the even/odd filters — un-pinned,
      // the synthesis codec ran twice); media pinned (consumed by the
      // hash pass and the signature projection); sigs pinned (both
      // pair-annotation joins). 200 bounded rows each — the pins cut
      // this query from 24 document scans to 1 (r18 final-plan audit)
      val corpus = Multimodal.synthesizePpm(s,
        t(s, d, "documents").filter(col("doc_id") < 200), "doc_id",
        Some(25L)).toDF.localCheckpoint(true)
      val media = corpus.filter(col("media_id") % 2 === 0).unionByName(
        Multimodal.upscalePpm(s,
          corpus.filter(col("media_id") % 2 === 1), 2).toDF)
        .localCheckpoint(true)
      val sigs = media.select(col("media_id"), md5(col("payload")).as("__sig"))
        .localCheckpoint(true)
      Multimodal.phashNearDups(
          Multimodal.perceptualHashes(s, media), maxHamming = 2)
        .join(sigs.select(col("media_id").as("a_id"),
          col("__sig").as("__sa")), "a_id")
        .join(sigs.select(col("media_id").as("b_id"),
          col("__sig").as("__sb")), "b_id")
        .select(col("a_id"), col("b_id"), col("hamming"),
          (col("__sa") === col("__sb")).as("same_bytes"))
    }),
    "media_near_dups_codec" -> ((s, d) => {
      // COMPRESSED-codec perceptual dedup: planted duplicate groups
      // (id % 25), with every ODD id transcoded to PNG through the JDK
      // ImageIO codec — byte-different payloads in a different FORMAT,
      // same content. PNG is lossless, so decode∘encode is the
      // identity on pixels and dHash is exactly invariant: every
      // within-group pair surfaces at hamming 0 whether it's PPM↔PPM,
      // PNG↔PNG or PPM↔PNG; payload md5 only ever matches same-parity
      // pairs (cross-format blobs can't be byte-equal). The
      // cross_format column witnesses which pairs NO byte-level
      // fingerprint could have caught
      // same pin set as media_near_dups_phash (corpus / media / sigs
      // each multiply consumed; 200 bounded rows each)
      val corpus = Multimodal.synthesizePpm(s,
        t(s, d, "documents").filter(col("doc_id") < 200), "doc_id",
        Some(25L)).toDF.localCheckpoint(true)
      val media = corpus.filter(col("media_id") % 2 === 0).unionByName(
        Multimodal.transcode(s,
          corpus.filter(col("media_id") % 2 === 1), "png").toDF)
        .localCheckpoint(true)
      val sigs = media.select(col("media_id"), md5(col("payload")).as("__sig"))
        .localCheckpoint(true)
      Multimodal.phashNearDups(
          Multimodal.perceptualHashes(s, media), maxHamming = 2)
        .join(sigs.select(col("media_id").as("a_id"),
          col("__sig").as("__sa")), "a_id")
        .join(sigs.select(col("media_id").as("b_id"),
          col("__sig").as("__sb")), "b_id")
        .select(col("a_id"), col("b_id"), col("hamming"),
          (col("__sa") === col("__sb")).as("same_bytes"),
          (col("a_id") % 2 =!= col("b_id") % 2).as("cross_format"))
    }),
    "media_codec_jpeg" -> ((s, d) => {
      // LOSSY-codec tolerance witness (the sketch-query convention:
      // exact values where they're deterministic, in-plan booleans
      // where the codec owns the noise). Smooth-gradient rasters
      // (synthesizeGradientPpm: adjacent downsample luma margins far
      // above JPEG's few-gray-level error) are JPEG-transcoded through
      // the JDK codec and rejoined to their originals: dimensions
      // survive exactly; the perceptual hash must land within hamming
      // 2 (measured 0 on this fixture); mean luma within 1.0 gray
      // level. A codec regression (or a decoder that silently returns
      // garbage) flips the booleans and fails the hash-match
      // orig consumed 3x (transcode, features, hashes) and jpeg 2x —
      // pinned so the synthesis/codec passes run once (100 bounded
      // rows each)
      val orig = Multimodal.synthesizeGradientPpm(s,
        t(s, d, "documents").filter(col("doc_id") < 100), "doc_id").toDF
        .localCheckpoint(true)
      val jpeg = Multimodal.transcode(s, orig, "jpg").toDF
        .localCheckpoint(true)
      val fo = Multimodal.decodeImageFeatures(s, orig).toDF
      val fj = Multimodal.decodeImageFeatures(s, jpeg).toDF
      val ho = Multimodal.perceptualHashes(s, orig)
      val hj = Multimodal.perceptualHashes(s, jpeg)
      fo.select(col("media_id"), col("width"), col("height"),
          col("mean_luma").as("__lo"))
        .join(fj.select(col("media_id"), col("width").as("__wj"),
          col("height").as("__hj"), col("mean_luma").as("__lj")), "media_id")
        .join(ho.withColumnRenamed("phash", "__po"), "media_id")
        .join(hj.withColumnRenamed("phash", "__pj"), "media_id")
        .select(col("media_id"), col("width"), col("height"),
          (col("width") === col("__wj") && col("height") === col("__hj"))
            .as("dims_match"),
          (expr("CAST(bit_count(__po ^ __pj) AS BIGINT)") <= 2)
            .as("phash_stable"),
          (abs(col("__lo") - col("__lj")) <= 1.0).as("luma_within"))
    }),
    "media_audio_features" -> ((s, d) =>
      // REAL audio decode: synthesize a WAV blob per doc (RIFF/PCM16,
      // id-derived length, planted silence blocks), parse it with the
      // chunk-walking RIFF reader, and reduce the DECODED samples to
      // clip features. The oracle recomputes every sum from the sample
      // formula without touching the bytes — a header-offset,
      // endianness, or sign bug breaks the hash match
      Audio.audioFeatures(s,
          Audio.synthesizeWav(s, t(s, d, "documents"), "doc_id").toDF)
        .toDF.select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("peak"), col("n_zero_cross"),
          col("sum_abs"), col("sum_sq"), col("mean_abs"), col("rms"))),
    "media_audio_silence" -> ((s, d) =>
      // VAD baseline: maximal quiet runs (|s| < 100) at least 40
      // samples long over the decoded stream. The synthesizer plants
      // exact-zero 50-sample blocks; the detector must find them (plus
      // any deterministic quiet-noise extensions) at the right offsets
      Audio.silenceSegments(s,
          Audio.synthesizeWav(s, t(s, d, "documents"), "doc_id").toDF,
          threshold = 100, minRun = 40)
        .toDF.select(col("media_id"), col("seg_idx"), col("start_idx"),
          col("n"))),
    "media_audio_resample" -> ((s, d) =>
      // decode → decimate ×4 → re-encode at 2 kHz → decode AGAIN and
      // feature the result: the full codec round trip under a kernel,
      // oracle replaying the decimated formula (sample j reads source
      // index 4j)
      Audio.audioFeatures(s,
          Audio.resampleWav(s,
            Audio.synthesizeWav(s, t(s, d, "documents"), "doc_id").toDF,
            factor = 4).toDF)
        .toDF.select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("peak"), col("n_zero_cross"),
          col("sum_abs"), col("sum_sq"), col("mean_abs"), col("rms"))),
    "media_video_frames" -> ((s, d) =>
      // REAL multi-frame decode: GVID clips (id-derived dims, 4-6
      // frames, planted scene structure) parsed by the container
      // walker, per-frame integer features — the frame-explode shape
      // (F rows per clip). Oracle replays the frame formula per pixel
      Video.videoFrameFeatures(s,
          Video.synthesizeGvid(s, t(s, d, "documents"), "doc_id").toDF)
        .toDF.select(col("media_id"), col("frame_idx"), col("width"),
          col("height"), col("px_sum"), col("mean_luma"))),
    "media_video_scenes" -> ((s, d) =>
      // shot-boundary detection: Σ|Δchannel| between consecutive
      // decoded frames, cut when the mean per-channel change exceeds 8
      // gray levels. The fixture makes this EXACT: in-scene frames
      // differ by +1 per channel, boundaries by ≥ 51 — so is_cut must
      // reproduce the planted scene structure precisely
      Video.sceneChanges(s,
          Video.synthesizeGvid(s, t(s, d, "documents"), "doc_id").toDF,
          meanDiffThr = 8)
        .toDF.select(col("media_id"), col("frame_idx"), col("diff_sum"),
          col("n_ch"), col("is_cut"))),
    "media_video_keyframes" -> ((s, d) =>
      // keyframe sampling: frame 0 + the first frame of every detected
      // shot, stamped with the shot ordinal. The oracle derives
      // keyframes from the PLANTED structure (f % sceneLen = 0), so the
      // detector must recover ground truth exactly, and the px_sum
      // proves the right frame block was decoded for each keyframe
      Video.keyframes(s,
          Video.synthesizeGvid(s, t(s, d, "documents"), "doc_id").toDF,
          meanDiffThr = 8)
        .toDF.select(col("media_id"), col("frame_idx"), col("scene_idx"),
          col("px_sum"))),

    "media_audio_near_dups" -> ((s, d) => {
      // CONTENT-level audio dedup: planted id%25 duplicate groups,
      // odd ids re-containered with a RIFF LIST/INFO metadata chunk —
      // byte-different payloads, identical decoded streams. Pairing
      // keys on what the clip SOUNDS like (content_sig over decoded
      // samples), so the re-tagged copies pair with their originals
      // while same_bytes exposes the container difference
      // base pinned: the even/odd filters each re-ran the WAV
      // synthesis un-pinned (200 bounded rows)
      val base = Audio.synthesizeWav(s,
        t(s, d, "documents").filter(col("doc_id") < 200), "doc_id",
        Some(25L)).toDF.localCheckpoint(true)
      Audio.contentNearDups(s,
        base.filter(col("media_id") % 2 === 0).unionByName(
          Audio.withInfoChunk(s,
            base.filter(col("media_id") % 2 === 1),
            "tagged-by-graft!").toDF))
    }),
    "media_video_near_dups" -> ((s, d) =>
      // clip-level near-dup on shared DECODED-frame content: planted
      // id%25 groups pair at overlap 1.0 sharing all 4-6 frames;
      // distinct bases never collide (mod-251 shift analysis in the
      // AudioVideoSpec distinctness check)
      Video.videoFrameNearDups(s,
        Video.synthesizeGvid(s,
          t(s, d, "documents").filter(col("doc_id") < 200), "doc_id",
          Some(25L)).toDF)),

    // --- iterative graph analytics ---
    "graph_pagerank" -> ((s, d) => {
      // PageRank (GraphX staticPageRank semantics, 3 rounds, α=0.85,
      // portable ordered folds — the link-reputation prior of web-
      // corpus curation) over the trade graph: customer→supplier for
      // every distinct order line, supplier→customer where the line
      // was returned (cycles, so iteration genuinely propagates).
      // Node ids: custkey·2 (even) / suppkey·2+1 (odd). Ranks are
      // pure IEEE +,/,· — no libm — so raw doubles hash-match
      val ol = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag")),
          col("o_orderkey") === col("l_orderkey"))
      val fwd = ol.select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      val back = ol.filter(col("l_returnflag") === "R")
        .select((col("l_suppkey") * 2 + 1).as("src"),
          (col("o_custkey") * 2).as("dst")).distinct()
      Graph.pageRank(fwd.unionByName(back), iters = 3, alpha = 0.85,
        portable = true)
    }),

    // --- incremental table maintenance (§2 gap-fill: the reference's
    // sink is append-only, but a maintained 100 TB corpus needs MERGE /
    // diff / log-replay / SCD2 — see operators/Incremental.scala) ---
    "cdc_upsert_orders" -> ((s, d) => {
      // daily-delta MERGE: price corrections replace same-key rows,
      // shifted-key arrivals insert, untouched base rows survive. One
      // anti-join + union; AQE broadcasts the small delta side
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      // the corrected price is ×0.5 — an exact IEEE scaling, so both
      // engines produce identical bits with no rounding boundary (a
      // round(×1.05, 2) fixture diverged at a half-cent)
      val corrections = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") * 0.5)
        .withColumn("o_orderstatus", lit("R"))
      val arrivals = base.filter(col("o_orderkey") % 100 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
        .withColumn("o_orderstatus", lit("N"))
      Incremental.mergeUpsert(base,
        corrections.unionByName(arrivals), Seq("o_orderkey"))
    }),
    "cdc_snapshot_diff" -> ((s, d) => {
      // snapshot-vs-snapshot change capture: a re-crawl drops every
      // 7th doc, uppercases lang on every 5th, and lands shifted-key
      // copies of every 11th — the diff tags each changed key I/U/D
      val old = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val recrawl = old.filter(col("doc_id") % 7 =!= 0)
        .withColumn("lang", when(col("doc_id") % 5 === 0,
          upper(col("lang"))).otherwise(col("lang")))
        .unionByName(old.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            lit("xx").as("lang"), col("source"), col("n_chars")))
      Incremental.snapshotDiff(old, recrawl, Seq("doc_id"))
    }),
    "cdc_change_log" -> ((s, d) => {
      // change-feed replay: pre-cutoff events collapse to a per-user
      // base snapshot; post-cutoff events are the feed ('error' =
      // delete, anything else = upsert); latest feed row per user wins
      val ev = t(s, d, "events")
      // events.ts is parquet TIMESTAMP_NTZ — keep the cutoff and the
      // epoch extraction in ntz space (session tz is UTC, so ntz micros
      // == DuckDB's naive epoch_us)
      val cutoff = lit("2024-01-16").cast("timestamp_ntz")
      val base = Incremental.latestPerKey(
        ev.filter(col("ts") < cutoff)
          .select(col("user_id"), col("value"), col("ts"), col("event_id")),
        Seq("user_id"), Seq(col("ts"), col("event_id"))).drop("event_id")
      val feed = ev.filter(col("ts") >= cutoff)
        .select(col("user_id"), col("value"), col("ts"), col("event_id"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"))
      Incremental.applyChangeLog(base, feed, Seq("user_id"),
          Seq(col("ts"), col("event_id")))
        .select(col("user_id"), round(col("value"), 4).as("value"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    }),
    "cdc_scd2_events" -> ((s, d) =>
      // change-compressed type-2 history: per user, the event_type
      // timeline with same-value runs collapsed, valid_from/valid_to
      // stamped from the row's ts and the next kept row's
      Incremental.scd2History(
          t(s, d, "events").select(col("user_id"), col("event_type"),
            col("ts"), col("event_id")),
          Seq("user_id"), Seq(col("ts"), col("event_id")),
          Seq("event_type"), "ts")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from").cast("timestamp")).as("valid_from_us"),
          unix_micros(col("valid_to").cast("timestamp")).as("valid_to_us"),
          col("is_current"))),

    // --- graph structure beyond PageRank ---
    "graph_triangles" -> ((s, d) => {
      // degree-ordered triangle count + clustering coefficient over
      // the co-purchase graph (parts sharing an order). The orientation
      // is the scale story: wedges enumerate at each edge's LOWER-
      // degree endpoint, so hub fan-out is bounded by oriented
      // out-degree (O(√m)), never raw degree
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("src"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("dst"))
      // big-SF single-box probes bound peak spill WITHOUT hand tuning:
      // SPARK_GRAFT_TRI_SPILL_BUDGET (bytes — the per-wave wedge-
      // shuffle target, ~1/4 of free scratch to leave room for the
      // wave's other exchanges) derives W from the exact wedge count
      // (Graph.triangleCountsBudgeted, judge-r16 task 2); unset = the
      // single-job W=1 cluster plan
      val triEdges = a.join(b, "l_orderkey")
        .where(col("src") < col("dst"))
        .select(col("src"), col("dst"))
      sys.env.get("SPARK_GRAFT_TRI_SPILL_BUDGET") match {
        case Some(budget) =>
          Graph.triangleCountsBudgeted(triEdges, budget.toLong)
        case None => Graph.triangleCounts(triEdges)
      }
    }),
    "graph_labelprop" -> ((s, d) => {
      // deterministic synchronous LPA over the same co-purchase graph:
      // 3 rounds of neighbor-majority labels (min-label tie-break) —
      // density communities, vs CC's connectivity clusters
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("src"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("dst"))
      Graph.labelPropagation(
        a.join(b, "l_orderkey").where(col("src") < col("dst"))
          .select(col("src"), col("dst")), LpIters)
    }),

    // --- mergeable frequency sketch (Count-Min) ---
    "rel_cms_freq" -> ((s, d) => {
      // build the 4×512 CMS over l_partkey, probe the 10 heaviest keys
      // (exact count desc, key asc — deterministic), and emit exact vs
      // estimate side by side. The universal (a·k+b) mod p mod w hash
      // is pure integer arithmetic, so the oracle replays the cells
      // bit-for-bit — the estimate itself is hash-gated, no tolerance
      val li = t(s, d, "lineitem")
      val sketch = Sketches.cmsBuild(li, "l_partkey", CmsWidth)
      val probes = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("l_partkey")).limit(10)
      Sketches.cmsEstimate(sketch, probes, "l_partkey", CmsWidth)
        .select(col("l_partkey"), col("n_exact"), col("n_est"),
          (col("n_est") >= col("n_exact")).as("never_under"))
    }),

    // --- event-sequence analytics (funnel / cohorts / trajectories) ---
    "rel_funnel" -> ((s, d) =>
      Events.funnel(t(s, d, "events"), "user_id", "ts", "event_type",
        FunnelStages)),
    "rel_cohorts" -> ((s, d) =>
      Events.cohortRetention(t(s, d, "events"), "user_id", "ts")),
    "rel_trajectories" -> ((s, d) =>
      Events.trajectories(t(s, d, "events"), "user_id", "ts",
        "event_id", "event_type", TrajMaxLen)),

    // --- post-training data assembly (DPO pairs / chat templates) ---
    "text_pref_pairs" -> ((s, d) =>
      Preference.preferencePairs(
          t(s, d, "documents")
            .withColumn("prompt_key", col("doc_id") % PrefGroups),
          "doc_id", "prompt_key", "n_chars", PrefMinMargin)
        .select(col("prompt_key"), col("chosen_id"), col("rejected_id"),
          col("chosen_score"), col("rejected_score"), col("margin"))),
    "text_chat_template" -> ((s, d) =>
      Preference.chatTemplate(t(s, d, "documents"), "doc_id", "text",
        ChatPromptWords, ChatSystem)),

    // --- pairwise-preference rating fit (Bradley-Terry MM) ---
    "rel_bradley_terry" -> ((s, d) => {
      // the 25-nation tournament: within each order, supplier nations
      // compete on total shipped quantity (integral-valued doubles —
      // exact sums, no tie-boundary hazard); equal totals are
      // undecided and drop. 3 MM rounds, portable ordered folds, raw
      // doubles hash-gated unrounded (the graph_pagerank convention)
      val li = t(s, d, "lineitem")
      val sup = t(s, d, "supplier")
      val byNat = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
        .groupBy(col("l_orderkey").as("o"),
          col("s_nationkey").cast("long").as("nat"))
        .agg(sum(col("l_quantity")).as("v"))
      val a = byNat.select(col("o"), col("nat").as("na"), col("v").as("va"))
      val b = byNat.select(col("o"), col("nat").as("nb"), col("v").as("vb"))
      val outcomes = a.join(b, "o")
        .where(col("na") < col("nb") && col("va") =!= col("vb"))
        .select(
          when(col("va") > col("vb"), col("na")).otherwise(col("nb"))
            .as("winner"),
          when(col("va") > col("vb"), col("nb")).otherwise(col("na"))
            .as("loser"))
      Preference.bradleyTerry(outcomes, "winner", "loser", BtIters,
        portable = true)
    }),

    // --- probabilistic record linkage (Fellegi-Sunter) ---
    "rel_record_linkage" -> ((s, d) => {
      // link customer against a deterministically-damaged copy of
      // itself: suffix-perturbed names (%5), NULLed names (%17 — the
      // zero-weight missing-data state), and balance shifts at three
      // magnitudes (%3 benign, %13 breaks the tight band, %11 breaks
      // both). Blocked on (nation, segment) — candidates are
      // block-bounded, never all-pairs
      Linkage.linkPairs(linkageLeft(s, d), linkageRight(s, d),
          Seq("nat", "seg"), LinkFieldsDef, LinkMatchTh, LinkPossibleTh)
        .select(col("left_id"), col("right_id"), col("agree_name_exact"),
          col("agree_bal_close"), col("agree_bal_coarse"), col("score"),
          col("verdict"))
    }),
    "rel_golden_records" -> ((s, d) => {
      // survivorship over the confirmed matches: members carry a
      // source priority (clean left = 0, damaged right = 1); the four
      // rules demonstrate why the choice matters — Prefer(name)
      // recovers the clean name while Longest(name) keeps the
      // '~'-suffixed damage
      val left = linkageLeft(s, d); val right = linkageRight(s, d)
      val matches = Linkage.linkPairs(left, right, Seq("nat", "seg"),
          LinkFieldsDef, LinkMatchTh, LinkPossibleTh)
        .where(col("verdict") === "match")
        .select(col("left_id"), col("right_id"))
      val members = left.join(matches, "left_id")
        .select(col("left_id").as("cluster"), lit(0L).as("prio"),
          col("l_name").as("name"), col("l_name").as("name_long"),
          col("l_bal").as("bal_hi"), col("l_bal").as("bal_lo"))
        .unionByName(right.join(matches, "right_id")
          .select(col("left_id").as("cluster"), lit(1L).as("prio"),
            col("r_name").as("name"), col("r_name").as("name_long"),
            col("r_bal").as("bal_hi"), col("r_bal").as("bal_lo")))
      Linkage.goldenRecords(members, "cluster", Seq(
        Linkage.Prefer("name", "prio"), Linkage.Longest("name_long"),
        Linkage.MaxOf("bal_hi"), Linkage.MinOf("bal_lo")))
    }),

    // --- SQ8 scalar quantization of embeddings ---
    "sim_scalar_quant" -> ((s, d) => {
      // fit the per-dim (lo,hi) ranges (dims-sized artifact), encode
      // every vector to int8 codes in one scan, and report the
      // reconstruction error the recall budget depends on. min/max
      // are exact, so the oracle REFITS in SQL and lands on the
      // identical doubles — no literals cross engines
      val emb = t(s, d, "embeddings")
      val ranges = Similarity.fitSqRanges(emb, "embedding")
      Similarity.sqEncode(emb, "vec_id", "embedding", ranges)
        .select(col("vec_id"), col("checksum"), col("max_abs_err"),
          col("mse"))
    }),

    // --- small-file compaction planning (the OPTIMIZE step) ---
    "rel_compaction_plan" -> ((s, d) => {
      // one synthetic "file" per (order month, priority) sized by row
      // count; the planner's sorted running-fill assigns rewrite bins
      // — summarized per bin (count, fill, lexical-first member)
      val inv = t(s, d, "orders")
        .groupBy(concat(date_format(col("o_orderdate"), "yyyy-MM"),
          lit("_"), col("o_orderpriority")).as("file_name"))
        .agg(count(lit(1)).as("bytes"))
      Layout.compactionPlan(inv, "file_name", "bytes", CompactTargetBytes)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("bytes")).as("bytes_total"),
          min(col("file_name")).as("first_file"))
    }),

    // --- privacy gate: k-anonymity over a generalization ladder ---
    "rel_k_anonymity" -> ((s, d) =>
      Quality.kAnonymity(t(s, d, "customer"), Seq(
        "nation_seg_bal1" -> Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal")).cast("long")),
        "nation_seg_bal100" -> Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 100.0).cast("long")),
        "nation_seg_bal1000" -> Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).cast("long")),
        "nation_seg" -> Seq(col("c_nationkey"), col("c_mktsegment")),
        "nation" -> Seq(col("c_nationkey"))), KAnonK)),

    // --- privacy gate: l-diversity on a sensitive column the QIs
    //     exclude (homogeneity attack check, read with k-anonymity) ---
    "rel_l_diversity" -> ((s, d) =>
      Quality.lDiversity(t(s, d, "customer"), Seq(
        "nation_bal100" -> Seq(col("c_nationkey"),
          floor(col("c_acctbal") / 100.0).cast("long")),
        "nation_bal1000" -> Seq(col("c_nationkey"),
          floor(col("c_acctbal") / 1000.0).cast("long")),
        "nation" -> Seq(col("c_nationkey"))),
        col("c_mktsegment"), LDivL)),

    // --- inverted-index retrieval: build-once, probe-many lexical
    //     search (the postings mirror of the ANN index loop) ---
    "text_index_stats" -> ((s, d) =>
      Retrieval.indexStats(postingsIndex(s, d)._1)),
    "text_index_probe" -> ((s, d) =>
      Retrieval.conjunctiveProbe(postingsIndex(s, d)._1, IndexAndTerms)),
    "text_index_phrase" -> ((s, d) =>
      Retrieval.phraseProbe(postingsIndex(s, d)._1, IndexPhrase)),
    "text_index_advance" -> ((s, d) => {
      // the incremental loop end-to-end: index 90% of the corpus,
      // advance with the remaining 10% as arrivals, report the
      // advanced index's stats — the oracle computes the same stats
      // over the FULL corpus (advance == rebuild, spec-pinned)
      val docs = t(s, d, "documents")
      val post = Retrieval.postings(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      val (p2, d2) = Retrieval.advancePostingsIndex(post,
        Retrieval.termDfs(post),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      Retrieval.indexStats(p2.join(d2, "term")
        .select(col("term"), col("df"), col("doc_id"), col("tf"),
          col("positions")))
    }),
    "text_index_bm25" -> ((s, d) => {
      val (idx, dl) = postingsIndex(s, d)
      Retrieval.bm25Probe(idx, dl, Bm25Terms, IndexBm25K)
    }),

    // --- multi-touch attribution over the event log ---
    "rel_attribution" -> ((s, d) =>
      Events.attribution(t(s, d, "events"), "user_id", "ts", "event_id",
        "event_type", "value", AttribTouches, AttribConv,
        AttribLookbackSec)),

    // --- bounded-horizon EWMA per user (time-series smoothing) ---
    "rel_ewma" -> ((s, d) =>
      Events.ewmaByKey(t(s, d, "events"), "user_id", "ts", "event_id",
        "value", EwmaAlpha, EwmaHorizon)),

    // --- hashing-trick vectorizer (fit-free sparse features) ---
    "text_feature_hash" -> ((s, d) =>
      TextAnalysis.featureHash(t(s, d, "documents"), "doc_id", "text",
        FeatureHashDims)),

    // --- LSH answer-quality witness (the sim_ann_recall convention
    //     applied to the dedup banding stack) ---
    "dedup_lsh_recall" -> ((s, d) =>
      Dedup.lshRecallReport(t(s, d, "documents"), "doc_id", "text",
        minJaccard = 0.5, MinhashK, LshBands, LshRecallFloorPct)),

    // --- matryoshka truncated-prefix retrieval + overlap witness ---
    "sim_matryoshka" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val full = Similarity.bruteForceTopK(emb, q, 5)
        .select(col("q_id"), col("n_id"), lit(true).as("in_full_topk"))
      Similarity.matryoshkaTopK(emb, q, 5, MatryoshkaDims)
        .join(full, Seq("q_id", "n_id"), "left")
        .select(col("q_id"), col("rank"), col("n_id"), col("cosine_sim"),
          coalesce(col("in_full_topk"), lit(false)).as("in_full_topk"))
    }),

    // --- entity-coherent temporal split with embargo ---
    "rel_temporal_split" -> ((s, d) =>
      Relational.entityTemporalSplit(t(s, d, "events"), "user_id", "ts",
          SplitTrainEnd, SplitTestStart)
        .groupBy(col("split"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))),

    // --- eval harness: classifier PR/F1, score calibration, nDCG ---
    "text_nb_eval" -> ((s, d) => {
      // the distillation loop's verdict: NB (fit on the gopher labels)
      // scored back against those labels — fit-on-self, so this is the
      // TRAINING fit quality, the ceiling a held-out eval reads against
      val labeled = gopherLabeledDocs(s, d)
      Quality.binaryEval(
        TextAnalysis.nbQualityScorePortable(labeled, "doc_id", "text",
            "keep")
          .select(col("doc_id"), col("predicted_keep"))
          .join(labeled.select(col("doc_id"), col("keep")), "doc_id"),
        col("predicted_keep"), col("keep"))
    }),
    "text_nb_calibration" -> ((s, d) => {
      val labeled = gopherLabeledDocs(s, d)
      Quality.calibrationBins(
        TextAnalysis.nbQualityScorePortable(labeled, "doc_id", "text",
            "keep")
          .select(col("doc_id"), col("log_odds"))
          .join(labeled.select(col("doc_id"), col("keep")), "doc_id"),
        "log_odds", col("keep"), NbCalibEdges)
    }),
    "sim_ndcg" -> ((s, d) => {
      // rank quality of the exact knn under same-label binary
      // relevance: rel = neighbor shares the query's cluster label;
      // n_rel = that label's corpus population minus the query itself
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val qLab = q.select(col("vec_id").as("q_id"),
        col("label").as("q_label"))
      val ranked = Similarity.bruteForceTopK(emb, q, 5)
        .join(emb.select(col("vec_id").as("n_id"),
          col("label").as("n_label")), "n_id")
        .join(broadcast(qLab), "q_id")
        .select(col("q_id"), col("rank"),
          (col("n_label") === col("q_label")).as("rel"))
      val nRel = qLab.join(
          emb.groupBy(col("label")).agg(count(lit(1)).as("__n")),
          col("q_label") === col("label"))
        .select(col("q_id"), (col("__n") - 1L).as("n_rel"))
      Similarity.ndcgBinary(ranked, nRel, 5)
    }),
    "sim_mrr" -> ((s, d) => {
      // the sim_ndcg fixture verbatim, scored by first-relevant rank
      // (the known-item / RAG metric) with the -1 mean row
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val qLab = q.select(col("vec_id").as("q_id"),
        col("label").as("q_label"))
      val ranked = Similarity.bruteForceTopK(emb, q, 5)
        .join(emb.select(col("vec_id").as("n_id"),
          col("label").as("n_label")), "n_id")
        .join(broadcast(qLab), "q_id")
        .select(col("q_id"), col("rank"),
          (col("n_label") === col("q_label")).as("rel"))
      val nRel = qLab.join(
          emb.groupBy(col("label")).agg(count(lit(1)).as("__n")),
          col("q_label") === col("label"))
        .select(col("q_id"), (col("__n") - 1L).as("n_rel"))
      Similarity.mrrAtK(ranked, nRel, 5)
    }),
    "sim_rbo" -> ((s, d) => {
      // list-agreement between the matryoshka first stage and the
      // full-width exact ranking — the quantified version of
      // sim_matryoshka's per-row overlap flag
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.rboOverlap(
        Similarity.bruteForceTopK(emb, q, 5),
        Similarity.matryoshkaTopK(emb, q, 5, MatryoshkaDims),
        k = 5, p = RboP)
    }),

    // --- source redundancy matrix (vocabulary Jaccard per pair) ---
    "text_source_overlap" -> ((s, d) =>
      TextAnalysis.sourceOverlap(t(s, d, "documents"), "source", "text")),

    // --- privacy ladder rung 3: t-closeness (distribution distance) ---
    "rel_t_closeness" -> ((s, d) =>
      Quality.tCloseness(t(s, d, "customer"), Seq(
        "nation_bal100" -> Seq(col("c_nationkey"),
          floor(col("c_acctbal") / 100.0).cast("long")),
        "nation_bal1000" -> Seq(col("c_nationkey"),
          floor(col("c_acctbal") / 1000.0).cast("long")),
        "nation" -> Seq(col("c_nationkey"))),
        col("c_mktsegment"), TClosenessT)),

    // --- confident-learning label-noise prune list ---
    "text_label_noise" -> ((s, d) => {
      val labeled = gopherLabeledDocs(s, d)
      Quality.confidentMislabels(
        TextAnalysis.nbQualityScorePortable(labeled, "doc_id", "text",
            "keep")
          .select(col("doc_id"), col("log_odds"))
          .join(labeled.select(col("doc_id"), col("keep")), "doc_id"),
        col("log_odds"), col("keep"), NoiseMargin)
    }),

    // --- KMV distinct sketches (deterministic, mergeable,
    //     intersection-capable — the sketch family HLL cannot
    //     hash-gate) ---
    "rel_kmv_custkeys" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val sk = Sketches.kmvSketch(orders, Seq("o_orderpriority"),
        col("o_custkey"), KmvK)
      val ex = orders.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      sk.join(ex, "o_orderpriority")
        .select(col("o_orderpriority"), col("n_exact"),
          size(col("kmv")).cast("long").as("n_kmv"),
          Sketches.kmvEstimate(col("kmv"), KmvK).as("d_est"))
        .withColumn("rel_err",
          (col("d_est") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"))
    }),
    "rel_kmv_overlap" -> ((s, d) =>
      // pairwise distinct-customer overlap between order priorities —
      // the intersection estimate HLL structurally cannot produce
      Sketches.kmvOverlap(
        Sketches.kmvSketch(t(s, d, "orders"), Seq("o_orderpriority"),
          col("o_custkey"), KmvK),
        "o_orderpriority", KmvK)),
    "rel_kmv_merged" -> ((s, d) => {
      // the merge-law cross-engine witness: the ENGINE sketches
      // per-month shards and kmvMerge-folds them; the ORACLE replays
      // the DIRECT one-shot sketch — a hash match proves
      // shard-then-merge ≡ direct across engines (the set-function
      // property production shard-maintenance relies on)
      val monthly = t(s, d, "orders")
        .withColumn("__m", date_trunc("month", col("o_orderdate")))
      val shards = Sketches.kmvSketch(monthly,
        Seq("o_orderpriority", "__m"), col("o_custkey"), KmvK)
      Sketches.kmvMerge(shards, Seq("o_orderpriority"), KmvK)
        .select(col("o_orderpriority"),
          size(col("kmv")).cast("long").as("n_kmv"),
          Sketches.kmvEstimate(col("kmv"), KmvK).as("d_est"))
    }),

    // --- robust (median/MAD) per-group outliers ---
    "rel_mad_outliers" -> ((s, d) =>
      Relational.madOutliers(t(s, d, "orders"), "o_orderpriority",
        "o_orderkey", "o_totalprice", MadK)),

    // --- Benford first-digit audit ---
    "rel_benford" -> ((s, d) =>
      Quality.benfordReport(t(s, d, "orders"), "o_totalprice")),

    // --- categorical concentration (entropy / HHI) — the mixture-
    //     planning signal over the corpus's source and language mix ---
    "rel_concentration" -> ((s, d) =>
      Quality.concentrationReport(t(s, d, "documents"),
        Seq("source", "lang"))),

    // --- unigram-LM tokenizer (the SentencePiece family, completing
    //     the BPE loop): seed statistics + frozen-vocab encode ---
    "text_unigram_seed" -> ((s, d) =>
      Unigram.seedCounts(
        Unigram.wordFrequencies(t(s, d, "documents"), "text"),
        UnigramMaxPieceLen)),
    "text_unigram_tokenize" -> ((s, d) =>
      // scalar-only projection: the driver's pandas canonicalizer can't
      // sort list cells, so the array travels as its md5 sig (the
      // text_bpe_tokenize convention); Unigram.tokenize itself keeps
      // returning the pieces array for callers
      Unigram.tokenize(t(s, d, "documents"), "doc_id", "text",
          UnigramPieces, UnigramMaxPieceLen)
        .select(col("doc_id"), col("n_pieces"), col("pieces_sig"))),
    "text_unigram_ids" -> ((s, d) =>
      // the unigram loop's final stage (the text_bpe_ids analog):
      // frozen vocab, alphabetical piece ids, unk singletons at -1
      Unigram.encodeIds(t(s, d, "documents"), "doc_id", "text",
          UnigramPieces, UnigramMaxPieceLen)
        .select(col("doc_id"), col("n_pieces"), col("n_oov"),
          col("ids_sig"))),
    // --- WordPiece tokenizer (the BERT family, completing the
    //     trilogy: BPE merges-by-count, unigram prunes-by-likelihood,
    //     WordPiece merges-by-likelihood-gain): round-1 fit statistics
    //     + frozen-vocab greedy encode ---
    "text_wordpiece_pairs" -> ((s, d) =>
      WordPiece.pairScores(t(s, d, "documents"), "text")),
    "text_wordpiece_tokenize" -> ((s, d) =>
      // scalar-only projection (the *_sig convention): the pieces
      // array travels as its md5 sig; WordPiece.tokenize itself keeps
      // returning the array for callers
      WordPiece.tokenize(t(s, d, "documents"), "doc_id", "text",
          WordPieceVocab)
        .select(col("doc_id"), col("n_pieces"), col("n_unk"),
          col("pieces_sig"))),
    "text_wordpiece_ids" -> ((s, d) =>
      // the WordPiece loop's final stage: sorted-vocab ranks; [UNK]
      // is a real vocabulary entry so there is no -1 channel — n_unk
      // counts UNK pieces instead
      WordPiece.encodeIds(t(s, d, "documents"), "doc_id", "text",
          WordPieceVocab)
        .select(col("doc_id"), col("n_pieces"), col("n_unk"),
          col("ids_sig"))),
    "text_tokenizer_report" -> ((s, d) => {
      // the family synthesis row: whitespace vs BPE (fit in-body, the
      // text_bpe_tokenize convention) vs unigram vs wordpiece (frozen
      // vocabs) on one corpus — pieces/word is the fertility metric a
      // tokenizer choice is judged by; chars/piece uses the shared
      // word-char total so the four flavors divide the same numerator
      val docs = t(s, d, "documents")
      // pinned 1-row frame: each of the four flavor rows broadcasts
      // it, and un-pinned each broadcast re-ran the corpus word
      // explode+agg (r18 plan audit)
      val base = docs
        .select(explode(TextFns.words(col("text"))).as("w"))
        .agg(count(lit(1)).as("__nw"),
          sum(length(col("w"))).as("__nc"))
        .localCheckpoint(true)
      def row(flavor: String, perDoc: DataFrame, np: String) =
        perDoc.agg(count(lit(1)).as("n_docs"),
            sum(col(np)).as("total_pieces"))
          .crossJoin(broadcast(base))
          .select(lit(flavor).as("flavor"), col("n_docs"),
            col("total_pieces"),
            (col("total_pieces").cast("double") /
              col("__nw").cast("double")).as("pieces_per_word"),
            (col("__nc").cast("double") /
              col("total_pieces").cast("double")).as("chars_per_piece"))
      row("whitespace",
        docs.select(size(TextFns.words(col("text"))).cast("long")
          .as("np")), "np")
        .unionByName(row("bpe",
          TextAnalysis.bpeTokenize(docs, "doc_id", "text",
            TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount))
            .select(col("n_tokens")), "n_tokens"))
        .unionByName(row("unigram",
          Unigram.tokenize(docs, "doc_id", "text", UnigramPieces,
            UnigramMaxPieceLen).select(col("n_pieces")), "n_pieces"))
        .unionByName(row("wordpiece",
          WordPiece.tokenize(docs, "doc_id", "text", WordPieceVocab)
            .select(col("n_pieces")), "n_pieces"))
    })
  )

  // ------------------------------------------------------------- oracle SQL

  /** Shared DuckDB CTE: normalized words + distinct 3-gram shingles per
    * doc (documents all have ≥3 words; asserted in DedupSpec). Mirrors
    * TextFns.normalize/shingles exactly. */
  private val shingleCte: String =
    "WITH words AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh " +
      "FROM words, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) t)"

  /** Mirrors TextFns.shingleHash + minhashPerm: one md5 per shingle,
    * 28-bit hex-parsed base hash, k integer affine permutations mod
    * 2^31-1 — exact BIGINT arithmetic in both engines. */
  private val sigCte: String = {
    val p = TextFns.MinhashP
    val cols = (0 until MinhashK).map { i =>
      val (a, b) = TextFns.permCoeffs(i)
      s"min((h * $a + $b) % $p) AS mh$i"
    }.mkString(", ")
    s", hashed AS (SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT) AS h FROM sh), " +
      s"sig AS (SELECT doc_id, $cols FROM hashed GROUP BY doc_id)"
  }

  private val bandSelects: String = {
    val r = MinhashK / LshBands
    (0 until LshBands).map { b =>
      val cols = (b * r until (b + 1) * r)
        .map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS band_hash FROM sig"
    }.mkString(" UNION ALL ")
  }

  /** SRP bucket as SQL: the ±1 plane signs come from the same public
    * md5 derivation Similarity.positiveCoeff uses, embedded as literal
    * sign patterns; the per-plane sum is the same left-to-right double
    * accumulation graft_dot performs, so bucket ids match bit-for-bit. */
  private def srpBucketSql(vec: String, dims: Int, planes: Int): String =
    (0 until planes).map { p =>
      val terms = (0 until dims).map { d =>
        val sign = if (Similarity.positiveCoeff(p, d)) "+" else "-"
        s"$sign CAST($vec[${d + 1}] AS DOUBLE)"
      }.mkString(" ")
      s"(CASE WHEN ($terms) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  /** The sim_ann_ivf oracle: replays Similarity.fitCentroids +
    * ivfTopK end-to-end in SQL. Possible because the fit is
    * deterministic AND portable — md5-derived sample/init ordering,
    * ordered-fold centroid means with the same float truncation
    * (CAST AS REAL = Double.toFloat), left-to-right double dot
    * products — so each unrolled Lloyd iteration reproduces the
    * broadcast centroids bit-for-bit. Tie conventions mirrored per
    * stage: fit assignment breaks equal sims to the HIGHEST cell
    * (Spark max(struct)), probe assignment to the LOWEST (row_number
    * ASC), final ranking by ascending neighbor id. Assumes the corpus
    * fits fitCentroids' sample cap (true at every test SF).
    */
  private def ivfSql(nlist: Int, nprobe: Int, k: Int, iters: Int,
      seed: Long, qPred: String = "vec_id < 10"): String = {
    val dot = oSqlDot _
    val nrm = oSqlNrm _
    "WITH emb AS (SELECT vec_id, embedding FROM embeddings), " +
      coarseLloydCtes("", nlist, iters, seed) + ", " +
      s"pc AS (SELECT e.vec_id, e.embedding, ${nrm("e.embedding")} AS vnorm, c.cell, ${oSqlSimDiv(dot("e.embedding", "c.cvec"), s"${nrm("e.embedding")} * c.cnorm")} AS csim FROM emb e CROSS JOIN c$iters c), " +
      "cb AS (SELECT vec_id AS n_id, embedding AS n_vec, vnorm AS n_norm, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM pc) t WHERE rn = 1), " +
      s"qb AS (SELECT vec_id AS q_id, embedding AS q_vec, vnorm AS q_norm, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM pc WHERE $qPred) t WHERE rn <= $nprobe), " +
      s"scored AS (SELECT q_id, n_id, ${oSqlSimDiv(dot("q_vec", "n_vec"), "q_norm * n_norm")} AS sim FROM cb JOIN qb USING (cell) WHERE n_id <> q_id), " +
      "ranked AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS \"rank\" FROM scored) " +
      s"SELECT q_id, \"rank\", n_id, round(sim, 4) AS cosine_sim FROM ranked WHERE \"rank\" <= $k"
  }

  /** The coarse-quantizer unrolled-Lloyd CTE chain, prefix-
    * parameterized and shared by the sim_ann_ivf and sim_ann_ivfpq
    * oracles — ONE definition of the fit replay (init from the
    * md5(id|seed) order, then `iters` assignment/update rounds over
    * the full `emb` vectors) so the two IVF oracles can never drift.
    * Ends in CTE `<p>c<iters>` carrying (cell, cvec, cnorm). */
  private def coarseLloydCtes(p: String, nlist: Int, iters: Int,
      seed: Long): String =
    coarseLloydCtes(p, nlist.toString, iters, seed)

  /** [[coarseLloydCtes]] with nlist as a SQL scalar expression — the
    * auto-cell geometry's hook: only the init CTE's `cell < nlist` cut
    * depends on the cell count (the unrolled iterations run over
    * whatever centroids exist), so a computed nlist drops in without
    * touching the Lloyd replay. */
  private def coarseLloydCtes(p: String, nlistSql: String, iters: Int,
      seed: Long): String = {
    val iterCtes = (1 to iters).map { i =>
      val prev = s"${p}c${i - 1}"
      s"${p}s$i AS (SELECT e.vec_id, c.cell, ${oSqlSimDiv(oSqlDot("e.embedding", "c.cvec"), "c.cnorm")} AS sim FROM emb e CROSS JOIN $prev c), " +
        s"${p}a$i AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn FROM ${p}s$i) t WHERE rn = 1), " +
        s"${p}u$i AS (SELECT a.cell, t.dim, CAST(list_aggregate(list_transform(list_sort(list({'k': a.vec_id, 'v': CAST(t.x AS DOUBLE)})), r -> r.v), 'sum') / count(*) AS REAL) AS m " +
        s"FROM ${p}a$i a JOIN emb e USING (vec_id), LATERAL (SELECT unnest(e.embedding) AS x, unnest(range(0, len(e.embedding))) AS dim) t GROUP BY a.cell, t.dim), " +
        s"${p}n$i AS (SELECT cell, list(m ORDER BY dim) AS cvec FROM ${p}u$i GROUP BY cell), " +
        s"${p}c$i AS (SELECT pp.cell, COALESCE(${p}n$i.cvec, pp.cvec) AS cvec, ${oSqlNrm(s"COALESCE(${p}n$i.cvec, pp.cvec)")} AS cnorm FROM $prev pp LEFT JOIN ${p}n$i USING (cell))"
    }.mkString(", ")
    s"${p}init AS (SELECT cell, cvec FROM (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || '|$seed')) AS INT) - 1 AS cell, embedding AS cvec FROM emb) t WHERE cell < $nlistSql), " +
      s"${p}c0 AS (SELECT cell, cvec, ${oSqlNrm("cvec")} AS cnorm FROM ${p}init), " +
      iterCtes
  }

  /** The auto-cell Lloyd chain: a `nl` CTE computes the corpus-derived
    * cell count — the SQL mirror of Similarity.autoCellCount(n,
    * target): ceil via `//` integer division (positive operands),
    * clamp [1, 65536] — from the SAME count the Spark side's
    * autoNlist reads, then the standard [[coarseLloydCtes]] replay
    * runs with that scalar as its init cut. Drop-in where
    * coarseLloydCtes was (callers emit `emb` first). */
  private def autoLloydCtes(p: String, target: Long, iters: Int,
      seed: Long): String =
    s"${p}nl AS (SELECT greatest(1, least(65536, (count(*) + ${target - 1}) // $target)) AS nl FROM emb), " +
      coarseLloydCtes(p, s"(SELECT nl FROM ${p}nl)", iters, seed)

  /** The sim_ann_pq oracle: replays fitPqCodebooks + pqEncode +
    * pqAdcTopK end-to-end in SQL. Per sub-space j the ivfSql unrolled-
    * Lloyd pattern runs on the 1-based slice [j·dsub+1, (j+1)·dsub]
    * with seed seed+j — bit-reproducible for the same reasons
    * (md5-derived init order, ordered-fold means CAST AS REAL,
    * left-to-right double dots). Encode is the deterministic L2 argmin
    * over d = ‖c‖² − 2⟨sub, c⟩, ties to the LOWER code (Spark
    * array_min struct order → ORDER BY d, cell); doubling a float sum
    * is exact in IEEE754, so Σ(2·sub·c) — Spark's form — equals
    * 2·Σ(sub·c) — this form — bit-for-bit. ADC recombines per-
    * sub-space query dots and literal squared norms in sub-space order
    * (SQL + is left-associative like Spark's reduce), with the same
    * zero-norm→0.0 guard. */
  private def oSqlDot(a: String, b: String) =
    s"(SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest($a) AS x, unnest($b) AS y) zz)"
  private def oSqlNrm(a: String) =
    s"sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest($a) AS x) zn))"
  /** Mirror of VectorFns.simDiv: a non-positive norm product scores
    * −Infinity instead of dividing — keeps the engines' degenerate-row
    * conventions identical (non-degenerate rows evaluate the untouched
    * quotient). */
  private def oSqlSimDiv(num: String, den: String): String =
    s"(CASE WHEN $den > 0 THEN $num / ($den) ELSE CAST('-infinity' AS DOUBLE) END)"

  private def oSqlSumsq(a: String) =
    s"(SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest($a) AS x) zs)"

  /** The per-sub-space CTE chain shared by the sim_ann_pq and
    * sim_ann_ivfpq oracles: for each sub-space j, the slice view, the
    * unrolled Lloyd fit at seed+j, the final codebook with squared
    * norms, the corpus encode (jXenc), the per-query dot table (jXqd),
    * and the joined `codes` table (vec_id, c0..c{m-1}). */
  private def pqSubCtes(dims: Int, m: Int, ksub: Int, iters: Int,
      seed: Long, qPred: String = "e.vec_id < 10"): String = {
    val dsub = dims / m
    val subCtes = (0 until m).map { j =>
      val sd = seed + j
      val p = s"j$j"
      val iterCtes = (1 to iters).map { i =>
        val prev = s"${p}c${i - 1}"
        s"${p}s$i AS (SELECT e.vec_id, c.cell, ${oSqlSimDiv(oSqlDot("e.sv", "c.cvec"), "c.cnorm")} AS sim FROM ${p}e e CROSS JOIN $prev c), " +
          s"${p}a$i AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn FROM ${p}s$i) t WHERE rn = 1), " +
          s"${p}u$i AS (SELECT a.cell, t.dim, CAST(list_aggregate(list_transform(list_sort(list({'k': a.vec_id, 'v': CAST(t.x AS DOUBLE)})), r -> r.v), 'sum') / count(*) AS REAL) AS m " +
          s"FROM ${p}a$i a JOIN ${p}e e USING (vec_id), LATERAL (SELECT unnest(e.sv) AS x, unnest(range(0, len(e.sv))) AS dim) t GROUP BY a.cell, t.dim), " +
          s"${p}n$i AS (SELECT cell, list(m ORDER BY dim) AS cvec FROM ${p}u$i GROUP BY cell), " +
          s"${p}c$i AS (SELECT pp.cell, COALESCE(${p}n$i.cvec, pp.cvec) AS cvec, ${oSqlNrm(s"COALESCE(${p}n$i.cvec, pp.cvec)")} AS cnorm FROM $prev pp LEFT JOIN ${p}n$i USING (cell))"
      }.mkString(", ")
      s"${p}e AS (SELECT vec_id, list_slice(embedding, ${j * dsub + 1}, ${j * dsub + dsub}) AS sv FROM emb), " +
        s"${p}init AS (SELECT cell, cvec FROM (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || '|$sd')) AS INT) - 1 AS cell, sv AS cvec FROM ${p}e) t WHERE cell < $ksub), " +
        s"${p}c0 AS (SELECT cell, cvec, ${oSqlNrm("cvec")} AS cnorm FROM ${p}init), " +
        iterCtes + ", " +
        s"${p}cb AS (SELECT cell, cvec, ${oSqlSumsq("cvec")} AS cn2 FROM ${p}c$iters), " +
        s"${p}encd AS (SELECT e.vec_id, c.cell, c.cn2 - 2 * ${oSqlDot("e.sv", "c.cvec")} AS d FROM ${p}e e CROSS JOIN ${p}cb c), " +
        s"${p}enc AS (SELECT vec_id, cell AS code FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn FROM ${p}encd) t WHERE rn = 1), " +
        s"${p}qd AS (SELECT e.vec_id AS q_id, c.cell, ${oSqlDot("e.sv", "c.cvec")} AS qdot, c.cn2 FROM ${p}e e CROSS JOIN ${p}cb c WHERE $qPred)"
    }.mkString(", ")
    val codeJoins = (1 until m)
      .map(j => s"JOIN j${j}enc e$j USING (vec_id)").mkString(" ")
    val codeCols = (0 until m).map(j => s"e$j.code AS c$j").mkString(", ")
    subCtes + ", " +
      s"codes AS (SELECT e0.vec_id, $codeCols FROM j0enc e0 $codeJoins)"
  }

  /** ADC scoring at PAIR SCALE: the per-sub-space qd tables fold into
    * ONE list per (q_id, sub-space) — `list(qdot ORDER BY cell)`, cell
    * unique per group so the fold is deterministic and index c+1 IS
    * cell c's qdot, bit-identical to the joined value — and the pair
    * stage reads them by `list_extract` instead of joining. The
    * [[pqAdcFragments]] form joins each of the m qd tables per PAIR on
    * the composite (q_id, cell=c_j): at sf1's ~10M candidate pairs the
    * optimizer is free to star-join the qd tables (8 rows per q_id
    * each → 8^m combinations per query) before attaching pairs, which
    * exhausted temp disk. Here every attached table is UNIQUE on q_id
    * — no join order can fan out — and per-pair work is m list
    * lookups, exactly the Spark side's dt-lookup shape. Returns
    * (qlCtes, joins-on-`q`, ip, rn2); sum order matches the joined
    * form (left-assoc over sub-spaces). */
  private def pqAdcListFragments(m: Int,
      q: String): (String, String, String, String) = {
    val ctes = (0 until m).map(j =>
      s"j${j}ql AS (SELECT q_id, list(qdot ORDER BY cell) AS ql, " +
        s"list(cn2 ORDER BY cell) AS nl FROM j${j}qd GROUP BY q_id)")
      .mkString(", ")
    val joins = (0 until m)
      .map(j => s"JOIN j${j}ql g$j ON g$j.q_id = $q.q_id")
      .mkString(" ")
    val ip = (0 until m)
      .map(j => s"list_extract(g$j.ql, n.c$j + 1)").mkString(" + ")
    val rn2 = (0 until m)
      .map(j => s"list_extract(g$j.nl, n.c$j + 1)").mkString(" + ")
    (ctes, joins, ip, rn2)
  }

  /** The ADC scoring fragments over the `codes` alias n and a query
    * alias `q` carrying (q_id, q_norm): per-sub-space qd joins, the
    * recombined inner product, and the reconstruction squared norm.
    * Right for the FEW-QUERY probe oracles (qPred bounds the q side);
    * pair-scale oracles use [[pqAdcListFragments]]. */
  private def pqAdcFragments(m: Int, q: String): (String, String, String) = {
    val qdJoins = (0 until m)
      .map(j => s"JOIN j${j}qd q$j ON q$j.q_id = $q.q_id AND q$j.cell = n.c$j")
      .mkString(" ")
    val ip = (0 until m).map(j => s"q$j.qdot").mkString(" + ")
    val rn2 = (0 until m).map(j => s"q$j.cn2").mkString(" + ")
    (qdJoins, ip, rn2)
  }

  private def pqSql(dims: Int, m: Int, ksub: Int, k: Int, iters: Int,
      seed: Long): String = {
    require(m > 0 && dims % m == 0, "dims must split into m sub-vectors")
    val (qdJoins, ip, rn2) = pqAdcFragments(m, "qn")
    "WITH emb AS (SELECT vec_id, embedding FROM embeddings), " +
      pqSubCtes(dims, m, ksub, iters, seed) + ", " +
      s"qn AS (SELECT vec_id AS q_id, ${oSqlNrm("embedding")} AS q_norm FROM emb WHERE vec_id < 10), " +
      s"scored AS (SELECT qn.q_id, n.vec_id AS n_id, " +
      s"CASE WHEN qn.q_norm > 0 AND $rn2 > 0 THEN ($ip) / (qn.q_norm * sqrt($rn2)) ELSE 0.0 END AS sim " +
      s"FROM codes n CROSS JOIN qn $qdJoins WHERE n.vec_id <> qn.q_id), " +
      "ranked AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS \"rank\" FROM scored) " +
      s"SELECT q_id, \"rank\", n_id, round(sim, 4) AS cosine_sim FROM ranked WHERE \"rank\" <= $k"
  }

  /** The sim_ann_ivfpq oracle: ivfSql's coarse quantizer CTEs (prefix
    * v, same seed/iters → identical cells to sim_ann_ivf) compose with
    * pqSubCtes' codebooks/codes — the scan is the pqSql ADC scoring
    * restricted to (corpus cell = probed cell) pairs instead of the
    * full cross join. */
  private def ivfPqSql(nlist: Int, nprobe: Int, k: Int, iters: Int,
      seed: Long, dims: Int, m: Int, ksub: Int): String = {
    require(m > 0 && dims % m == 0, "dims must split into m sub-vectors")
    val (qdJoins, ip, rn2) = pqAdcFragments(m, "vqb")
    "WITH emb AS (SELECT vec_id, embedding FROM embeddings), " +
      coarseLloydCtes("v", nlist, iters, seed) + ", " +
      s"vpc AS (SELECT e.vec_id, ${oSqlNrm("e.embedding")} AS vnorm, c.cell, ${oSqlSimDiv(oSqlDot("e.embedding", "c.cvec"), s"${oSqlNrm("e.embedding")} * c.cnorm")} AS csim FROM emb e CROSS JOIN vc$iters c), " +
      "vcb AS (SELECT vec_id AS n_id, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM vpc) t WHERE rn = 1), " +
      s"vqb AS (SELECT vec_id AS q_id, vnorm AS q_norm, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM vpc WHERE vec_id < 10) t WHERE rn <= $nprobe), " +
      pqSubCtes(dims, m, ksub, iters, seed) + ", " +
      s"scored AS (SELECT vqb.q_id, vcb.n_id, " +
      s"CASE WHEN vqb.q_norm > 0 AND $rn2 > 0 THEN ($ip) / (vqb.q_norm * sqrt($rn2)) ELSE 0.0 END AS sim " +
      s"FROM vcb JOIN vqb USING (cell) JOIN codes n ON n.vec_id = vcb.n_id $qdJoins WHERE vcb.n_id <> vqb.q_id), " +
      "ranked AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS \"rank\" FROM scored) " +
      s"SELECT q_id, \"rank\", n_id, round(sim, 4) AS cosine_sim FROM ranked WHERE \"rank\" <= $k"
  }

  /** The stream_ann_probe_flags oracle: ivfPqSql's CTE chain with the
    * arrival predicate (vec_id % 50 = 0) in place of the query one,
    * and a raw-double similarity THRESHOLD in place of the top-k
    * ranking — the flag set annProbeFlags emits. Self-pairs excluded,
    * sim rounded only in the projection (the filter replays raw — the
    * nearDupPairsIvf candSim precedent). */
  private def annProbeFlagsSql(nlist: Int, nprobe: Int, iters: Int,
      seed: Long, dims: Int, m: Int, ksub: Int, minSim: Double): String = {
    require(m > 0 && dims % m == 0, "dims must split into m sub-vectors")
    val (qdJoins, ip, rn2) = pqAdcFragments(m, "vqb")
    "WITH emb AS (SELECT vec_id, embedding FROM embeddings), " +
      coarseLloydCtes("v", nlist, iters, seed) + ", " +
      s"vpc AS (SELECT e.vec_id, ${oSqlNrm("e.embedding")} AS vnorm, c.cell, ${oSqlSimDiv(oSqlDot("e.embedding", "c.cvec"), s"${oSqlNrm("e.embedding")} * c.cnorm")} AS csim FROM emb e CROSS JOIN vc$iters c), " +
      "vcb AS (SELECT vec_id AS n_id, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM vpc) t WHERE rn = 1), " +
      s"vqb AS (SELECT vec_id AS q_id, vnorm AS q_norm, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM vpc WHERE vec_id % 50 = 0) t WHERE rn <= $nprobe), " +
      pqSubCtes(dims, m, ksub, iters, seed, qPred = "e.vec_id % 50 = 0") + ", " +
      s"scored AS (SELECT vqb.q_id, vcb.n_id, " +
      s"CASE WHEN vqb.q_norm > 0 AND $rn2 > 0 THEN ($ip) / (vqb.q_norm * sqrt($rn2)) ELSE 0.0 END AS sim " +
      s"FROM vcb JOIN vqb USING (cell) JOIN codes n ON n.vec_id = vcb.n_id $qdJoins WHERE vcb.n_id <> vqb.q_id) " +
      s"SELECT q_id AS new_id, CAST(q_id AS BIGINT) AS arrival_ts, n_id AS neighbor_id, round(sim, 4) AS adc_sim FROM scored WHERE sim >= $minSim"
  }

  /** The sim_index_report oracle: every vector's cell from the shared
    * coarse-Lloyd CTEs (ties to the lowest — the index build's
    * expression order), its codes and per-sub-space dot tables from
    * pqSubCtes with the UNRESTRICTED query predicate (the
    * dedup_embedding_ivf precedent), self-ADC similarity = each
    * vector scored against its OWN codes, then one GROUP BY cell.
    * skew_ratio is an exact-integer division both engines round
    * identically; the avg folds the sorted list (portable flavor). */
  private def indexReportSql(nlist: Int, iters: Int, seed: Long,
      dims: Int, m: Int, ksub: Int): String = {
    val (qdJoins, ip, rn2) = pqAdcFragments(m, "qn")
    "WITH emb AS (SELECT vec_id, embedding FROM embeddings), " +
      coarseLloydCtes("v", nlist, iters, seed) + ", " +
      s"vpc AS (SELECT e.vec_id, c.cell, ${oSqlSimDiv(oSqlDot("e.embedding", "c.cvec"), s"${oSqlNrm("e.embedding")} * c.cnorm")} AS csim FROM emb e CROSS JOIN vc$iters c), " +
      "vcb AS (SELECT vec_id AS n_id, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM vpc) t WHERE rn = 1), " +
      pqSubCtes(dims, m, ksub, iters, seed, qPred = "true") + ", " +
      s"qn AS (SELECT vec_id AS q_id, ${oSqlNrm("embedding")} AS q_norm FROM emb), " +
      s"selfsim AS (SELECT vcb.cell, CASE WHEN qn.q_norm > 0 THEN sqrt(greatest(qn.q_norm * qn.q_norm - 2.0 * ($ip) + ($rn2), 0.0)) / qn.q_norm ELSE 0.0 END AS res " +
      s"FROM vcb JOIN codes n ON n.vec_id = vcb.n_id JOIN qn ON qn.q_id = vcb.n_id $qdJoins), " +
      "rep AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs, " +
      "round(list_aggregate(list_sort(list(res)), 'sum') / count(*), 4) AS avg_residual, " +
      "max(res) AS max_residual FROM selfsim GROUP BY cell) " +
      s"SELECT cell, n_vecs, CAST(n_vecs * $nlist AS DOUBLE) / (SELECT count(*) FROM vcb) AS skew_ratio, " +
      "avg_residual, max_residual FROM rep"
  }

  /** The dedup_embedding_ivf oracle: replays nearDupPairsIvf — the
    * shared coarse-Lloyd CTEs assign every vector its cell (ties to
    * the lowest — the corpus-side expression's order), pqSubCtes with
    * an unrestricted query predicate gives every vector its codes AND
    * its ADC dot tables, same-cell a<b pairs prefilter on the ADC
    * cosine, and survivors refine on the exact guarded cosine. */
  private def nearDupIvfSql(target: Long, iters: Int, seed: Long,
      dims: Int, m: Int, ksub: Int, candSim: Double,
      minSim: Double): String =
    "WITH " + nearDupIvfCtes(target, iters, seed, dims, m, ksub,
      candSim) + " " +
      s"SELECT a_id, b_id, round(sim, 4) AS cosine_sim FROM exact WHERE sim >= $minSim"

  /** The nearDupPairsIvf CTE chain up to `exact` (a_id, b_id, raw
    * sim) — shared by the pair oracle and the embedding-split oracle
    * (which appends connected components + the split hash on top).
    * The coarse quantizer runs at the AUTO-CELL geometry
    * ([[autoLloydCtes]] — nlist from the corpus count, matching the
    * registered queries' autoNlist; judge r17 task 1). */
  private def nearDupIvfCtes(target: Long, iters: Int, seed: Long,
      dims: Int, m: Int, ksub: Int, candSim: Double): String = {
    val (qlCtes, qlJoins, ip, rn2) = pqAdcListFragments(m, "a")
    "emb AS (SELECT vec_id, embedding FROM embeddings), " +
      autoLloydCtes("v", target, iters, seed) + ", " +
      s"vpc AS (SELECT e.vec_id, ${oSqlNrm("e.embedding")} AS vnorm, c.cell, ${oSqlSimDiv(oSqlDot("e.embedding", "c.cvec"), s"${oSqlNrm("e.embedding")} * c.cnorm")} AS csim FROM emb e CROSS JOIN vc$iters c), " +
      "vcb AS (SELECT vec_id, vnorm, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM vpc) t WHERE rn = 1), " +
      pqSubCtes(dims, m, ksub, iters, seed, qPred = "TRUE") + ", " +
      qlCtes + ", " +
      "a AS (SELECT vec_id AS q_id, vnorm AS q_norm, cell FROM vcb), " +
      "adc AS (SELECT a.q_id AS a_id, n.vec_id AS b_id, " +
      s"CASE WHEN a.q_norm > 0 AND $rn2 > 0 THEN ($ip) / (a.q_norm * sqrt($rn2)) ELSE 0.0 END AS adcsim " +
      "FROM a JOIN vcb bb ON a.cell = bb.cell AND a.q_id < bb.vec_id " +
      s"JOIN codes n ON n.vec_id = bb.vec_id $qlJoins), " +
      s"cand AS (SELECT a_id, b_id FROM adc WHERE adcsim >= $candSim), " +
      // the refine runs per CANDIDATE PAIR — millions at copy-scaled
      // SFs — so it must use DuckDB's native list_dot_product over
      // DOUBLE[] (bit-identical to the correlated unnest-sum: both are
      // left-to-right double folds, verified exhaustively at sf0.01 in
      // r17's semDedup oracle) and the per-VECTOR norms vcb already
      // carries: the unnest form materialized a 64x join per pair and
      // exhausted temp disk at sf1's candidate volume
      s"exact AS (SELECT c.a_id, c.b_id, ${oSqlSimDiv("list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))", "na.vnorm * nb.vnorm")} AS sim " +
      "FROM cand c JOIN emb ea ON ea.vec_id = c.a_id JOIN emb eb ON eb.vec_id = c.b_id " +
      "JOIN vcb na ON na.vec_id = c.a_id JOIN vcb nb ON nb.vec_id = c.b_id)"
  }

  /** The dedup_split_embedding oracle: the nearDupPairsIvf chain's
    * pairs feed the dedup_cluster_split recursive-CC + split-hash
    * pattern, keyed on vec_id over embeddings. */
  private def embeddingSplitSql(target: Long, iters: Int, seed: Long,
      dims: Int, m: Int, ksub: Int, candSim: Double,
      minSim: Double): String =
    "WITH RECURSIVE " + nearDupIvfCtes(target, iters, seed, dims, m,
      ksub, candSim) + ", " +
      s"epairs AS (SELECT a_id, b_id FROM exact WHERE sim >= $minSim), " +
      // IDENTICAL-VECTOR COLLAPSE before the recursive CC — the
      // flooding recursion's working set is Σ_v |labels reachable to
      // v| = O(component²), and copy-scaled data (ScaleGen ×10/×100:
      // byte-identical embedding payloads) makes components scale with
      // the copy depth: the uncollapsed recursion spilled >37 GB of
      // temp at sf1 and did not converge in 25 min. Identical vectors
      // are interchangeable CC nodes ONLY when the group is internally
      // connected — for identical embeddings every within-group pair
      // has the same cell/ADC/exact values (orientation-symmetric), so
      // one observed within-group epair ⇒ the group is a clique ⇒
      // collapsing to its min-id representative preserves components
      // exactly; a group with NO within-group epair keeps its members
      // as individual nodes (their external edges may differ — the ADC
      // prefilter is orientation-asymmetric). Node ids are real member
      // ids (gid = group min), so min-label CC still yields the true
      // min-member cluster_id.
      "grp AS (SELECT embedding AS gvec, min(vec_id) AS gid FROM emb GROUP BY embedding), " +
      // IS NOT DISTINCT FROM: a NULL embedding must still land in its
      // (all-NULL) group — plain equality drops the row from gmap and
      // the oracle's output entirely, diverging from the Spark side
      // (clusterSafeSplit emits every emb row; NULL vectors form no
      // pairs so they keep split_key = vec_id, which the no-selfc path
      // below reproduces). Latent on generated data (no NULLs) but a
      // real fixture hazard.
      "gmap AS (SELECT e.vec_id, g.gid FROM emb e " +
      "JOIN grp g ON e.embedding IS NOT DISTINCT FROM g.gvec), " +
      "selfc AS (SELECT DISTINCT m1.gid FROM epairs p " +
      "JOIN gmap m1 ON m1.vec_id = p.a_id " +
      "JOIN gmap m2 ON m2.vec_id = p.b_id WHERE m1.gid = m2.gid), " +
      "nodemap AS (SELECT m.vec_id, m.gid, s.gid IS NOT NULL AS sc, " +
      "CASE WHEN s.gid IS NOT NULL THEN m.gid ELSE m.vec_id END AS nid " +
      "FROM gmap m LEFT JOIN selfc s ON s.gid = m.gid), " +
      "redge AS (SELECT DISTINCT na.nid AS src, nb.nid AS dst FROM epairs p " +
      "JOIN nodemap na ON na.vec_id = p.a_id " +
      "JOIN nodemap nb ON nb.vec_id = p.b_id WHERE na.nid <> nb.nid), " +
      "edges2 AS (SELECT src, dst FROM redge UNION ALL SELECT dst, src FROM redge), " +
      "enodes AS (SELECT src AS id FROM redge UNION SELECT dst FROM redge), " +
      "r(id, label) AS (SELECT id, id FROM enodes " +
      "UNION SELECT e.dst, r.label FROM r JOIN edges2 e ON e.src = r.id), " +
      "clusters AS (SELECT id, min(label) AS cluster_id FROM r GROUP BY id), " +
      // fallback mirrors the collapse: a clique-group member whose node
      // never edged externally still clusters at its group min; a
      // loner falls back to its own id (the full-graph semantics)
      "k AS (SELECT n.vec_id, coalesce(c.cluster_id, " +
      "CASE WHEN n.sc THEN n.gid ELSE n.vec_id END) AS split_key " +
      "FROM nodemap n LEFT JOIN clusters c ON c.id = n.nid), " +
      "b2 AS (SELECT vec_id, split_key, " +
      "CAST('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 7) AS BIGINT) % 100 AS h FROM k) " +
      "SELECT vec_id, split_key, CASE WHEN h < 80 THEN 'train' " +
      "WHEN h < 90 THEN 'val' ELSE 'test' END AS split FROM b2"

  /** The dedup_semantic oracle: replays Similarity.semDedup — the
    * shared coarse-Lloyd CTEs give every vector its cell (ties to the
    * lowest — the corpus-side expression's order) and its cosine to
    * that cell's centroid; same-cell a<b pairs at exact cosine ≥
    * minSim close transitively via the recursive-CC pattern
    * (embeddingSplitSql's); each cluster keeps its LOWEST-csim member
    * (ties to the lowest id — the paper's keep-low convention). */
  private def semDedupSql(target: Long, iters: Int, seed: Long,
      minSim: Double): String =
    "WITH RECURSIVE emb AS (SELECT vec_id, embedding FROM embeddings), " +
      autoLloydCtes("v", target, iters, seed) + ", " +
      s"vpc AS (SELECT e.vec_id, ${oSqlNrm("e.embedding")} AS vnorm, c.cell, ${oSqlSimDiv(oSqlDot("e.embedding", "c.cvec"), s"${oSqlNrm("e.embedding")} * c.cnorm")} AS csim FROM emb e CROSS JOIN vc$iters c), " +
      "vcb AS (SELECT vec_id, vnorm, cell, csim FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM vpc) t WHERE rn = 1), " +
      // the pair stage is the oracle's n² hot spot: DuckDB's NATIVE
      // list_dot_product over DOUBLE[] is bit-identical to the
      // correlated unnest-sum (verified exhaustively over every
      // sf0.01 pair — both are left-to-right double folds) but avoids
      // materializing a 64x unnest join per pair, which exhausted
      // temp disk at sf1's 12.5M within-cell pairs
      "spairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id " +
      "FROM vcb a JOIN vcb b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
      "JOIN emb ea ON ea.vec_id = a.vec_id JOIN emb eb ON eb.vec_id = b.vec_id " +
      s"WHERE ${oSqlSimDiv("list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))", "a.vnorm * b.vnorm")} >= $minSim), " +
      "edges2 AS (SELECT a_id AS src, b_id AS dst FROM spairs UNION ALL SELECT b_id, a_id FROM spairs), " +
      "enodes AS (SELECT a_id AS id FROM spairs UNION SELECT b_id FROM spairs), " +
      "r(id, label) AS (SELECT id, id FROM enodes " +
      "UNION SELECT e.dst, r.label FROM r JOIN edges2 e ON e.src = r.id), " +
      "clusters AS (SELECT id, min(label) AS cluster_id FROM r GROUP BY id), " +
      "k AS (SELECT v.vec_id, v.cell, v.csim, coalesce(c.cluster_id, v.vec_id) AS cluster_id " +
      "FROM vcb v LEFT JOIN clusters c ON v.vec_id = c.id), " +
      "ranked AS (SELECT vec_id, cell, csim, cluster_id, row_number() OVER (PARTITION BY cluster_id ORDER BY csim ASC, vec_id) AS rn FROM k) " +
      "SELECT vec_id, cell, round(csim, 4) AS centroid_sim, cluster_id, rn = 1 AS keep FROM ranked"

  /** The dedup_incremental_semantic oracle: replays
    * Similarity.incrementalSemanticDups — the shared auto-cell Lloyd
    * CTEs assign every vector its cell, pqSubCtes restricted to the
    * arrival half (`vec_id % 10 = 0`) gives arrivals their ADC dot
    * tables and every vector its codes; each arrival joins the CORPUS
    * half (`% 10 <> 0`) on cell, prefilters on the ADC cosine, and
    * survivors refine on the exact guarded cosine — nearDupIvfCtes'
    * adc/cand/exact chain with the a<b pair cut replaced by the
    * arrival/corpus split. */
  private def incrementalSemanticSql(target: Long, iters: Int,
      seed: Long, dims: Int, m: Int, ksub: Int, candSim: Double,
      minSim: Double): String = {
    val (qlCtes, qlJoins, ip, rn2) = pqAdcListFragments(m, "a")
    "WITH emb AS (SELECT vec_id, embedding FROM embeddings), " +
      autoLloydCtes("v", target, iters, seed) + ", " +
      s"vpc AS (SELECT e.vec_id, ${oSqlNrm("e.embedding")} AS vnorm, c.cell, ${oSqlSimDiv(oSqlDot("e.embedding", "c.cvec"), s"${oSqlNrm("e.embedding")} * c.cnorm")} AS csim FROM emb e CROSS JOIN vc$iters c), " +
      "vcb AS (SELECT vec_id, vnorm, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM vpc) t WHERE rn = 1), " +
      pqSubCtes(dims, m, ksub, iters, seed,
        qPred = "e.vec_id % 10 = 0") + ", " +
      qlCtes + ", " +
      "a AS (SELECT vec_id AS q_id, vnorm AS q_norm, cell FROM vcb WHERE vec_id % 10 = 0), " +
      "adc AS (SELECT a.q_id AS new_id, n.vec_id AS dup_of, " +
      s"CASE WHEN a.q_norm > 0 AND $rn2 > 0 THEN ($ip) / (a.q_norm * sqrt($rn2)) ELSE 0.0 END AS adcsim " +
      "FROM a JOIN vcb bb ON a.cell = bb.cell AND bb.vec_id % 10 <> 0 " +
      s"JOIN codes n ON n.vec_id = bb.vec_id $qlJoins), " +
      s"cand AS (SELECT new_id, dup_of FROM adc WHERE adcsim >= $candSim), " +
      // per-pair refine: native list_dot_product + vcb's per-vector
      // norms (nearDupIvfCtes' temp-disk note — the unnest form
      // explodes at copy-scaled candidate volumes)
      s"exact AS (SELECT c.new_id, c.dup_of, ${oSqlSimDiv("list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))", "na.vnorm * nb.vnorm")} AS sim " +
      "FROM cand c JOIN emb ea ON ea.vec_id = c.new_id JOIN emb eb ON eb.vec_id = c.dup_of " +
      "JOIN vcb na ON na.vec_id = c.new_id JOIN vcb nb ON nb.vec_id = c.dup_of) " +
      s"SELECT new_id, dup_of, round(sim, 4) AS cosine_sim FROM exact WHERE sim >= $minSim"
  }

  /** The sim_rerank oracle: replays annTopKRerank code-for-code — int8
    * quantize/dequantize per vector (floor(y+0.5) codes CAST AS
    * TINYINT, midpoint reconstruction CAST AS REAL — all pure double
    * math, bit-identical), SRP buckets from the shared md5 plane signs,
    * quantized-cosine shortlist of k·factor per query (ties to the
    * ascending id like graft_topk), then exact re-rank of the
    * shortlist on the original vectors. */
  private def rerankSql(dims: Int, planes: Int, k: Int,
      factor: Int): String = {
    def dot(a: String, b: String) =
      s"(SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest($a) AS x, unnest($b) AS y) zz)"
    def nrm(a: String) =
      s"sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest($a) AS x) zn))"
    // quantize -> dequantize of one element, exactly as
    // Similarity.quantizeEmbedding/dequantizeEmbedding compose
    val deq =
      "CAST(lo + (CAST(CAST((CASE WHEN hi - lo = 0 THEN 0.0 " +
        "ELSE floor((CAST(x AS DOUBLE) - lo) / (hi - lo) * 255 + 0.5) - 128 END) " +
        "AS TINYINT) AS DOUBLE) + 128.0) / 255.0 * (hi - lo) AS REAL)"
    "WITH emb AS (SELECT vec_id, embedding FROM embeddings), " +
      "qz AS (SELECT vec_id, embedding, CAST(list_min(embedding) AS DOUBLE) AS lo, " +
      "CAST(list_max(embedding) AS DOUBLE) AS hi FROM emb), " +
      s"dq AS (SELECT vec_id, embedding, list_transform(embedding, x -> $deq) AS dqv, " +
      s"${srpBucketSql("embedding", dims, planes)} AS bucket FROM qz), " +
      s"q AS (SELECT vec_id AS q_id, embedding AS q_vec, bucket, ${nrm("embedding")} AS q_norm FROM dq WHERE vec_id < 10), " +
      s"cand AS (SELECT q.q_id, c.vec_id AS n_id, ${oSqlSimDiv(dot("q.q_vec", "c.dqv"), s"q.q_norm * ${nrm("c.dqv")}")} AS qsim " +
      "FROM dq c JOIN q USING (bucket) WHERE c.vec_id <> q.q_id), " +
      "short AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, " +
      "row_number() OVER (PARTITION BY q_id ORDER BY qsim DESC, n_id) AS rn FROM cand) t " +
      s"WHERE rn <= ${k * factor}), " +
      s"exact AS (SELECT s.q_id, s.n_id, ${oSqlSimDiv(dot("eq.embedding", "en.embedding"), s"${nrm("eq.embedding")} * ${nrm("en.embedding")}")} AS sim " +
      "FROM short s JOIN emb eq ON eq.vec_id = s.q_id JOIN emb en ON en.vec_id = s.n_id), " +
      "ranked AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS \"rank\" FROM exact) " +
      s"SELECT q_id, \"rank\", n_id, round(sim, 4) AS cosine_sim FROM ranked WHERE \"rank\" <= $k"
  }

  /** The sim_ann_multiprobe oracle: the sim_ann_lsh shape plus the
    * query-side probe fan-out — each query's bucket string and its
    * `planes` one-bit flips, built with the same substring surgery as
    * Similarity.annTopKMultiProbe. */
  private def multiProbeSql(dims: Int, planes: Int, k: Int): String = {
    val flips = (0 until planes).map { i =>
      s"substr(b0, 1, $i) || (CASE WHEN substr(b0, ${i + 1}, 1) = '1' THEN '0' ELSE '1' END) || " +
        s"substr(b0, ${i + 2}, ${planes - i - 1})"
    }.mkString(", ")
    s"WITH c AS (SELECT vec_id AS n_id, embedding AS n_vec, ${srpBucketSql("embedding", dims, planes)} AS bucket FROM embeddings), " +
      s"q0 AS (SELECT vec_id AS q_id, embedding AS q_vec, ${srpBucketSql("embedding", dims, planes)} AS b0 FROM embeddings WHERE vec_id < 10), " +
      s"q AS (SELECT q_id, q_vec, t.bucket FROM q0, LATERAL (SELECT unnest([b0, $flips]) AS bucket) t), " +
      s"scored AS (SELECT q_id, n_id, ${cosSql("q_vec", "n_vec")} AS sim FROM q JOIN c USING (bucket) WHERE n_id <> q_id), " +
      "ranked AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS \"rank\" FROM scored) " +
      s"SELECT q_id, \"rank\", n_id, round(sim, 4) AS cosine_sim FROM ranked WHERE \"rank\" <= $k"
  }

  /** The hybrid-RRF oracle shell shared by the exact and ANN flavors:
    * lexical leg (the text_bm25 mirror, positive scores ranked inside
    * the top-K window) + the caller's dense-leg CTE chain (must end in
    * `dense(doc_id, rn)`) + rank fusion — coalesce'd 1/(60+rank) IEEE
    * divides summed in fixed order, top 20 by (rrf desc, doc_id). */
  private def hybridRrfSql(denseCtes: String): String =
    s"WITH lexall AS (SELECT doc_id, bm25 FROM (${bm25Sql(Bm25Terms, k1 = 1.2, b = 0.75)}) bb WHERE bm25 > 0), " +
      "lex AS (SELECT doc_id, rn FROM (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rn FROM lexall) t " +
      s"WHERE rn <= $HybridLegK), " +
      denseCtes + ", " +
      "u AS (SELECT doc_id, 'lex' AS leg, rn FROM lex UNION ALL SELECT doc_id, 'dense' AS leg, rn FROM dense), " +
      "g AS (SELECT doc_id, max(CASE WHEN leg = 'dense' THEN rn END) AS rank_dense, " +
      "max(CASE WHEN leg = 'lex' THEN rn END) AS rank_lex FROM u GROUP BY doc_id) " +
      "SELECT doc_id, rank_dense, rank_lex, " +
      "coalesce(1.0 / (60.0 + CAST(rank_dense AS DOUBLE)), 0.0) + " +
      "coalesce(1.0 / (60.0 + CAST(rank_lex AS DOUBLE)), 0.0) AS rrf " +
      "FROM g ORDER BY rrf DESC, doc_id LIMIT 20"

  /** DuckDB cosine with the same float math as VectorFns.cosine:
    * element-order double accumulation. */
  private def cosSql(a: String, b: String): String =
    oSqlSimDiv(
      s"(SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest($a) AS x, unnest($b) AS y) zz)",
      s"sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest($a) AS x) za)) * " +
        s"sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest($b) AS y) zb))")

  private val normSql =
    "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

  /** The text_gopher keep conjunction as one SQL expression (same
    * thresholds as the query registration) — the label the NB oracles
    * replay. (lazy: wordsSql is declared further down the object.) */
  private lazy val gopherKeepSql =
    s"(len($wordsSql) >= $GopherMinWords AND len($wordsSql) <= $GopherMaxWords " +
      s"AND (length($normSql) - len($wordsSql) + 1) / len($wordsSql) >= $GopherMinMeanWordLen " +
      s"AND (length($normSql) - len($wordsSql) + 1) / len($wordsSql) <= $GopherMaxMeanWordLen " +
      s"AND (len(string_split_regex(text, '#')) - 1 + len(string_split_regex(text, '\\.\\.\\.')) - 1) / len($wordsSql) <= $GopherMaxSymbolRatio " +
      s"AND len(list_intersect($wordsSql, ${TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) >= $GopherMinStopwords)"

  /** The BPE fit replayed as an unrolled CTE chain — one (pair-count,
    * argmax, merge-apply) round per CTE triple, exactly the ivfSql
    * Lloyd-unroll convention. The double-space symbol encoding makes
    * each round's apply ONE left-to-right string replace (see
    * TextAnalysis.bpeSeq for why that IS greedy BPE, runs included),
    * and the merge rules enter the apply as scalar subqueries, never
    * string literals — nothing to quote, and the oracle derives the
    * rules rather than trusting Spark's. MATERIALIZED hints keep
    * DuckDB from re-inlining the round chain into O(n²) corpus
    * scans. */
  private def bpeCtes(n: Int): String = {
    val w0 = "w0 AS MATERIALIZED (SELECT '  ' || regexp_replace(w, '(.)', " +
      "'\\1  ', 'g') AS seq, CAST(count(*) AS BIGINT) AS freq FROM " +
      s"(SELECT unnest(string_split($normSql, ' ')) AS w FROM documents) " +
      "WHERE w <> '' GROUP BY 1)"
    val rounds = (1 to n).map { i =>
      s"p$i AS (SELECT l[i] AS a, l[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt " +
        "FROM (SELECT l, freq, unnest(range(1, len(l))) AS i " +
        s"FROM (SELECT string_split(trim(seq, ' '), '  ') AS l, freq FROM w${i - 1}) s) t " +
        "GROUP BY 1, 2), " +
        s"m$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1), " +
        s"w$i AS MATERIALIZED (SELECT replace(seq, " +
        s"' ' || (SELECT a FROM m$i) || '  ' || (SELECT b FROM m$i) || ' ', " +
        s"' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ') AS seq, freq FROM w${i - 1})"
    }
    (w0 +: rounds).mkString(", ")
  }

  private def bpeMergesSql(n: Int): String = {
    val union = (1 to n).map(i =>
      s"SELECT CAST($i AS BIGINT) AS \"rank\", a AS lhs, b AS rhs, " +
        s"a || b AS merged, cnt AS pair_count FROM m$i")
      .mkString(" UNION ALL ")
    s"WITH ${bpeCtes(n)} SELECT * FROM ($union) ORDER BY \"rank\""
  }

  private def bpeTokenizeSql(n: Int): String = {
    val seq = (1 to n).foldLeft(
      s"'  ' || regexp_replace($normSql, '(.)', '\\1  ', 'g')") { (acc, i) =>
      s"replace($acc, ' ' || (SELECT a FROM m$i) || '  ' || (SELECT b FROM m$i) || ' ', " +
        s"' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ')"
    }
    s"WITH ${bpeCtes(n)}, tk AS (SELECT doc_id, " +
      s"string_split_regex(trim($seq, ' '), ' {2,}') AS toks FROM documents) " +
      "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
      "md5(array_to_string(toks, ' ')) AS tokens_sig FROM tk"
  }

  /** The tokenize + vocabulary + per-position-id CTE chain shared by
    * [[bpeIdsSql]] and [[packIdsSql]] (one definition — the walk-
    * mirroring discipline): appends to [[bpeCtes]] and ends with
    * `jj(doc_id, i, id)`. The vocabulary is re-derived (sorted corpus
    * alphabet then merges by rank), never trusted. */
  private def bpeIdCtes(n: Int): String = {
    val seq = (1 to n).foldLeft(
      s"'  ' || regexp_replace($normSql, '(.)', '\\1  ', 'g')") { (acc, i) =>
      s"replace($acc, ' ' || (SELECT a FROM m$i) || '  ' || (SELECT b FROM m$i) || ' ', " +
        s"' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ')"
    }
    val mergedRows = (1 to n)
      .map(i => s"SELECT a || b AS sym, $i AS rnk FROM m$i")
      .mkString(" UNION ALL ")
    s"${bpeCtes(n)}, tk AS (SELECT doc_id, " +
      s"string_split_regex(trim($seq, ' '), ' {2,}') AS toks FROM documents), " +
      s"alpha AS (SELECT DISTINCT c AS sym FROM (SELECT unnest(regexp_extract_all($normSql, '.')) AS c FROM documents) t WHERE c <> ' '), " +
      "vb AS (SELECT sym, row_number() OVER (ORDER BY sym) - 1 AS id FROM alpha), " +
      s"vm AS (SELECT sym, (SELECT count(*) FROM vb) + rnk - 1 AS id FROM ($mergedRows) mr), " +
      "voc AS (SELECT sym, CAST(min(id) AS BIGINT) AS id FROM (SELECT * FROM vb UNION ALL SELECT * FROM vm) u GROUP BY sym), " +
      "tk2 AS (SELECT doc_id, t.tok, t.i FROM tk, LATERAL (SELECT unnest(toks) AS tok, unnest(range(1, len(toks) + 1)) AS i) t), " +
      "jj AS (SELECT tk2.doc_id, tk2.i, coalesce(v.id, -1) AS id FROM tk2 LEFT JOIN voc v ON tk2.tok = v.sym)"
  }

  /** The next-fit pack walk CTEs shared by [[packSql]] and
    * [[packIdsSql]] (one copy of the recursive walk — Packing.packWalk
    * mirror discipline): base/o/packed, ending with
    * `packed(g, rn, doc_id, t, fill, pack)`. */
  private def packWalkCtes(budget: Long, groups: Int): String =
    "base AS (SELECT doc_id, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pack'), 1, 7) AS BIGINT) AS h, " +
      s"CAST(least($tokensSql, $budget) AS BIGINT) AS t FROM documents), " +
      s"o AS (SELECT doc_id, h % $groups AS g, h, t, " +
      s"row_number() OVER (PARTITION BY h % $groups ORDER BY h, doc_id) AS rn FROM base), " +
      "packed AS (" +
      "SELECT g, rn, doc_id, t, t AS fill, CAST(0 AS BIGINT) AS pack FROM o WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT o.g, o.rn, o.doc_id, o.t, " +
      s"CASE WHEN p.fill + o.t > $budget THEN o.t ELSE p.fill + o.t END AS fill, " +
      s"CASE WHEN p.fill + o.t > $budget THEN p.pack + 1 ELSE p.pack END AS pack " +
      "FROM o JOIN packed p ON o.g = p.g AND o.rn = p.rn + 1)"

  /** The full tokenizer-loop replay for text_bpe_ids over
    * [[bpeIdCtes]]. Fit-on-self ⇒ every token resolves; n_oov is the
    * witnessed zero. */
  private def bpeIdsSql(n: Int): String =
    s"WITH ${bpeIdCtes(n)} " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
      "md5(string_agg(CAST(id AS VARCHAR), ' ' ORDER BY i)) AS ids_sig FROM jj GROUP BY doc_id"

  /** The text_bpe_ids_bytes oracle: [[bpeCtes]]' fit and
    * [[bpeIdCtes]]' vocabulary derivation run on the UNMODIFIED
    * corpus, but the tokenize leg runs on the SEEDED text
    * ([[byteSeedSqlText]]); a token missing from the vocabulary
    * expands to its UTF-8 bytes (codepoint → 1-4 byte arithmetic,
    * validated against python's encode bit-for-bit) at RESERVED ids
    * [0,255], vocabulary ids shift +256 — the bpeEncodeIdsBytes id
    * space verbatim. Empty-id tokens are skipped in the sig (the
    * flatMap semantics); md5(coalesce(...,'')) matches Spark's md5 of
    * the empty join on an all-empty doc. */
  private def bpeByteIdsSql(n: Int): String = {
    val normSeed =
      s"regexp_replace(trim(lower($byteSeedSqlText)), '\\s+', ' ', 'g')"
    val seq = (1 to n).foldLeft(
      s"'  ' || regexp_replace($normSeed, '(.)', '\\1  ', 'g')") { (acc, i) =>
      s"replace($acc, ' ' || (SELECT a FROM m$i) || '  ' || (SELECT b FROM m$i) || ' ', " +
        s"' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ')"
    }
    val mergedRows = (1 to n)
      .map(i => s"SELECT a || b AS sym, $i AS rnk FROM m$i")
      .mkString(" UNION ALL ")
    val utf8Bytes =
      "flatten(list_transform(" +
        "list_transform(range(1, length(tok) + 1), j -> unicode(substring(tok, CAST(j AS INT), 1))), " +
        "u -> CASE WHEN u < 128 THEN [CAST(u AS BIGINT)] " +
        "WHEN u < 2048 THEN [CAST(192 + u // 64 AS BIGINT), CAST(128 + u % 64 AS BIGINT)] " +
        "WHEN u < 65536 THEN [CAST(224 + u // 4096 AS BIGINT), CAST(128 + (u // 64) % 64 AS BIGINT), CAST(128 + u % 64 AS BIGINT)] " +
        "ELSE [CAST(240 + u // 262144 AS BIGINT), CAST(128 + (u // 4096) % 64 AS BIGINT), CAST(128 + (u // 64) % 64 AS BIGINT), CAST(128 + u % 64 AS BIGINT)] END))"
    s"WITH ${bpeCtes(n)}, tk AS (SELECT doc_id, " +
      s"string_split_regex(trim($seq, ' '), ' {2,}') AS toks FROM documents), " +
      s"alpha AS (SELECT DISTINCT c AS sym FROM (SELECT unnest(regexp_extract_all($normSql, '.')) AS c FROM documents) t WHERE c <> ' '), " +
      "vb AS (SELECT sym, row_number() OVER (ORDER BY sym) - 1 AS id FROM alpha), " +
      s"vm AS (SELECT sym, (SELECT count(*) FROM vb) + rnk - 1 AS id FROM ($mergedRows) mr), " +
      "voc AS (SELECT sym, CAST(min(id) AS BIGINT) AS id FROM (SELECT * FROM vb UNION ALL SELECT * FROM vm) u GROUP BY sym), " +
      "tk2 AS (SELECT doc_id, t.tok, t.i FROM tk, LATERAL (SELECT unnest(toks) AS tok, unnest(range(1, len(toks) + 1)) AS i) t), " +
      "enc AS (SELECT tk2.doc_id, tk2.i, v.id IS NULL AS fb, " +
      s"CASE WHEN v.id IS NOT NULL THEN [v.id + 256] ELSE $utf8Bytes END AS ids " +
      "FROM tk2 LEFT JOIN voc v ON tk2.tok = v.sym) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "CAST(coalesce(sum(len(ids)), 0) AS BIGINT) AS n_ids, " +
      "CAST(sum(CASE WHEN len(ids) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
      "CAST(sum(CASE WHEN fb THEN 1 ELSE 0 END) AS BIGINT) AS n_fallback, " +
      "md5(coalesce(string_agg(CASE WHEN len(ids) > 0 THEN array_to_string(list_transform(ids, x -> CAST(x AS VARCHAR)), ' ') END, ' ' ORDER BY i), '')) AS ids_sig " +
      "FROM enc GROUP BY doc_id"
  }

  /** text_chunk_stream: [[bpeIdCtes]] composed with the stream-order
    * exclusive prefix (the naive single window replays the bucketed
    * plan — the rel_token_budget convention), absolute positions,
    * and per-chunk ordered reassembly. */
  private def chunkStreamSql(n: Int, seqLen: Int): String =
    s"WITH ${bpeIdCtes(n)}, " +
      "nid AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM jj GROUP BY doc_id), " +
      "ordd AS (SELECT doc_id, nt, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|stream'), 1, 7) AS BIGINT) AS h FROM nid), " +
      "pfx AS (SELECT doc_id, coalesce(sum(nt) OVER (ORDER BY h, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p0 FROM ordd), " +
      "pos AS (SELECT jj.id, pfx.p0 + jj.i - 1 AS pos FROM jj JOIN pfx USING (doc_id)) " +
      s"SELECT CAST(pos // $seqLen AS BIGINT) AS chunk_id, " +
      "CAST(count(*) AS BIGINT) AS n_ids, " +
      s"count(*) = $seqLen AS complete, " +
      "md5(string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos)) AS ids_sig " +
      s"FROM pos GROUP BY pos // $seqLen"

  /** text_pack_ids: [[bpeIdCtes]] composed with [[packWalkCtes]] —
    * per pack, the members' space-joined id strings re-concatenate in
    * rn order (single-space separators throughout, so the concat
    * equals the engine's flattened join). The ids join is LEFT with a
    * per-pack missing-member count, mirroring the engine's n_missing
    * witness (≡ 0 here — the composed query always encodes the same
    * corpus it packs). */
  private def packIdsSql(n: Int, budget: Long, groups: Int): String =
    s"WITH RECURSIVE ${bpeIdCtes(n)}, " +
      "ids AS (SELECT doc_id, string_agg(CAST(id AS VARCHAR), ' ' ORDER BY i) AS idstr, CAST(count(*) AS BIGINT) AS nid FROM jj GROUP BY doc_id), " +
      packWalkCtes(budget, groups) + " " +
      "SELECT CAST(g AS VARCHAR) || '-' || CAST(pack AS VARCHAR) AS pack_id, " +
      "count(*) AS n_docs, " +
      "CAST(sum(CASE WHEN ids.idstr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing, " +
      "CAST(coalesce(sum(ids.nid), 0) AS BIGINT) AS n_ids, " +
      "md5(coalesce(string_agg(ids.idstr, ' ' ORDER BY rn), '')) AS ids_sig " +
      "FROM packed LEFT JOIN ids USING (doc_id) GROUP BY g, pack"

  /** Mirrors Dedup.simhashPortable: 60-bit md5 token hashes, majority
    * vote per bit position, bits recombined as exact powers of two. */
  private val simhashSql: String = {
    val bits = 60
    val votes = (0 until bits).map(i => s"sum((h >> $i) & 1) AS v$i")
      .mkString(", ")
    val recombine = (0 until bits).map(i =>
      s"(CASE WHEN 2 * v$i > n THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    s"WITH tok AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok FROM documents), " +
      "h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok), " +
      s"v AS (SELECT doc_id, count(*) AS n, $votes FROM h GROUP BY doc_id) " +
      s"SELECT doc_id, CAST($recombine AS BIGINT) AS simhash FROM v"
  }

  /** Mirrors Dedup.simhashNearDupPairs' generalized pigeonhole: one
    * UNION ALL branch per C(maxDist+cleanBlocks, cleanBlocks) block
    * combination, key = the clean blocks' bits concatenated. */
  private def simhashPairSql(maxDist: Int, cleanBlocks: Int): String = {
    val bits = 60
    val nBlocks = maxDist + cleanBlocks
    // same contract as the Scala operator: a non-dividing block count
    // would silently truncate the key width (recall-safe but divergent)
    require(bits % nBlocks == 0,
      s"maxDist=$maxDist, cleanBlocks=$cleanBlocks needs $nBlocks equal " +
        s"blocks of $bits bits; choose maxDist+cleanBlocks dividing 60")
    val width = bits / nBlocks
    val mask = (1L << width) - 1
    val bandSelects = (0 until nBlocks).combinations(cleanBlocks)
      .toSeq.zipWithIndex.map { case (blocks, c) =>
        val key = blocks.zipWithIndex.map { case (b, pos) =>
          s"(((simhash >> ${b * width}) & $mask) << ${pos * width})"
        }.mkString(" | ")
        s"SELECT doc_id, simhash, $c AS band, $key AS bv FROM s"
      }.mkString(" UNION ALL ")
    s"WITH s AS ($simhashSql), b AS ($bandSelects), " +
      "p AS (SELECT DISTINCT a.doc_id AS a_id, b2.doc_id AS b_id, " +
      "CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming_dist " +
      "FROM b a JOIN b b2 ON a.band = b2.band AND a.bv = b2.bv AND a.doc_id < b2.doc_id) " +
      s"SELECT a_id, b_id, hamming_dist FROM p WHERE hamming_dist <= $maxDist"
  }

  /** The NB fit-on-self scoring chain (labels → token counts → llr
    * model → per-doc ordered-fold scores in `sc(doc_id, n_tokens,
    * lo)`, with the label CTE `g(doc_id, keep)` still in scope) —
    * shared by the score, eval and calibration oracles so the three
    * can never drift. */
  private lazy val nbScoredCtes: String =
    s"WITH g AS (SELECT doc_id, $gopherKeepSql AS keep FROM documents), " +
      s"tok AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS token FROM documents), " +
      "lt AS (SELECT t.doc_id, t.token, g.keep FROM tok t JOIN g USING (doc_id)), " +
      "c AS (SELECT token, CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS np, " +
      "CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS nn FROM lt GROUP BY token), " +
      "tt AS (SELECT CAST(sum(np) AS BIGINT) AS tp, CAST(sum(nn) AS BIGINT) AS tn, CAST(count(*) AS BIGINT) AS v FROM c), " +
      "dt AS (SELECT ln(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)) - ln(CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS DOUBLE)) AS prior FROM g), " +
      "m AS (SELECT token, (ln(CAST(np + 1 AS DOUBLE)) - ln(CAST(tp + v AS DOUBLE))) - (ln(CAST(nn + 1 AS DOUBLE)) - ln(CAST(tn + v AS DOUBLE))) AS llr FROM c, tt), " +
      "i AS (SELECT l.doc_id, m.llr FROM lt l JOIN m USING (token)), " +
      "sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "(SELECT prior FROM dt) + list_aggregate(list_sort(list(llr)), 'sum') AS lo FROM i GROUP BY doc_id)"

  private val wordsSql =
    "string_split_regex(trim(lower(text)), '\\s+')"

  private val tokensSql =
    s"CAST(len(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)"

  /** Mirrors Packing.packSequences: same hash groups and (hash, id)
    * order; the sequential next-fit walk replays as a linear recursive
    * CTE per group (recursion depth = max group size — fine at oracle
    * SF; the Spark side walks each group in a streaming task). */
  private def packSql(budget: Long, groups: Int): String =
    "WITH RECURSIVE " + packWalkCtes(budget, groups) + " " +
      "SELECT CAST(g AS VARCHAR) || '-' || CAST(pack AS VARCHAR) AS pack_id, " +
      "count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS total_tokens, " +
      s"CAST(sum(t) AS DOUBLE) / $budget AS fill_ratio, " +
      "string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS doc_ids " +
      "FROM packed GROUP BY g, pack"

  /** Mirrors Packing.tokenBudgetSampleByKey — the oracle replays the
    * NAIVE key-partitioned running sum (the bucketed plan is a pure
    * execution-shape change; PackingSpec proves row equality). */
  private def tokenBudgetSql(budgets: Map[String, Long],
      defaultBudget: Long): String = {
    val cases = budgets.toSeq.sortBy(_._1)
      .map { case (k, b) => s"WHEN '$k' THEN $b" }.mkString(" ")
    "SELECT doc_id, source FROM (SELECT doc_id, source, " +
      "coalesce(sum(t) OVER (PARTITION BY source ORDER BY h, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx, " +
      s"CASE source $cases ELSE $defaultBudget END AS b " +
      "FROM (SELECT doc_id, source, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|budget'), 1, 7) AS BIGINT) AS h, " +
      s"$tokensSql AS t FROM documents) z) zz WHERE b < 0 OR pfx < b"
  }

  /** Mirrors Packing.curateAndPack stage for stage — the text_gopher
    * keep mirror gates, the text_line_dedup first-occurrence filter
    * cleans (each CTE exposes its stage's text under the column name
    * `text`, so the shared wordsSql/normSql/tokensSql fragments apply
    * to the right stage's content), the dedup_keep_best window picks
    * survivors on the CLEANED text, the rel_token_budget running sum
    * samples, and the text_pack recursive walk packs.
    *
    * With `withNb`, the text_nb_quality fit + scoring CTEs insert
    * between the clean stage and keep-best: the NB model fits on the
    * RAW corpus under the g labels (reused from the gate stage —
    * ONE definition, the gopherKeepSql discipline), scores each
    * survivor's RAW text, and only prior + Σllr > 0 docs continue
    * (the UNROUNDED predicted_keep sign, matching the engine gate).
    * The sign margin is corpus-wide ≫ ln ulp (the text_nb_quality
    * adjudication), so the algebraic-sum engine flavor and this
    * replay agree on every keep decision. */
  private def curationDagSql(budgets: Map[String, Long],
      packBudget: Long, groups: Int, withNb: Boolean = false): String = {
    val keepExpr = gopherKeepSql
    val budgetCases = budgets.toSeq.sortBy(_._1)
      .map { case (k, b) => s"WHEN '$k' THEN $b" }.mkString(" ")
    val tokPat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
    val cRef = if (withNb) "cf" else "c"
    val nbCtes = if (!withNb) "" else
      s"nt AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '$tokPat')) AS token FROM documents), " +
        "nl AS (SELECT t.doc_id, t.token, g.keep FROM nt t JOIN g USING (doc_id)), " +
        "ncnt AS (SELECT token, CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS np, " +
        "CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS nn FROM nl GROUP BY token), " +
        "ntt AS (SELECT CAST(sum(np) AS BIGINT) AS tp, CAST(sum(nn) AS BIGINT) AS tn, CAST(count(*) AS BIGINT) AS v FROM ncnt), " +
        "ndt AS (SELECT ln(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)) - ln(CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS DOUBLE)) AS prior FROM g), " +
        "nm AS (SELECT token, (ln(CAST(np + 1 AS DOUBLE)) - ln(CAST(tp + v AS DOUBLE))) - (ln(CAST(nn + 1 AS DOUBLE)) - ln(CAST(tn + v AS DOUBLE))) AS llr FROM ncnt, ntt), " +
        "noov AS (SELECT (ln(CAST(tn + v AS DOUBLE)) - ln(CAST(tp + v AS DOUBLE))) AS oov FROM ntt), " +
        // scoring reads the RAW tokens (nt — the preprocessing the
        // model fit on), restricted to the gate's survivors
        "st AS (SELECT t.doc_id, t.token FROM nt t JOIN (SELECT doc_id FROM c) cd USING (doc_id)), " +
        // the gate is predicted_keep: the UNROUNDED sign (engine
        // parity — the sign margin is corpus-wide >> the cross-engine
        // sum-order ulp, the text_nb_quality adjudication)
        "nb AS (SELECT doc_id FROM (SELECT s.doc_id, max(ndt.prior) + sum(coalesce(m.llr, noov.oov)) AS lo " +
        "FROM st s LEFT JOIN nm m USING (token), ndt, noov GROUP BY s.doc_id) x WHERE lo > 0), " +
        "cf AS (SELECT c.* FROM c JOIN nb USING (doc_id)), "
    "WITH RECURSIVE " +
      // per-row stage: quality + keep on the RAW text, then the
      // first-occurrence word filter — survivors carry cleaned `text`
      s"q AS (SELECT doc_id, 0.4 * least(nw / 200.0, 1.0) + 0.3 * least(stop / nw * 4.0, 1.0) + 0.3 * (nd / nw) AS quality FROM " +
      s"(SELECT doc_id, CAST(len(list_filter($wordsSql, x -> x IN $stopListSql)) AS DOUBLE) AS stop, " +
      s"CAST(len($wordsSql) AS DOUBLE) AS nw, CAST(len(list_distinct($wordsSql)) AS DOUBLE) AS nd FROM documents) t), " +
      s"g AS (SELECT doc_id, $keepExpr AS keep FROM documents), " +
      "c AS (SELECT l.doc_id, l.source, q.quality, " +
      "array_to_string(list_filter(l.ws, (x, i) -> list_position(l.ws, x) = i), ' ') AS text " +
      "FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents) l " +
      "JOIN q USING (doc_id) JOIN g USING (doc_id) WHERE g.keep), " +
      nbCtes +
      // keep-best on the CLEANED content hash (ties: equal content ⇒
      // equal quality ⇒ min doc_id, the dedup_keep_best convention)
      s"h AS (SELECT doc_id, md5($normSql) AS content_hash FROM $cRef), " +
      "j AS (SELECT h.content_hash, c2.doc_id, " +
      "row_number() OVER (PARTITION BY h.content_hash ORDER BY c2.quality DESC, c2.doc_id) AS rn " +
      s"FROM h JOIN $cRef c2 USING (doc_id)), " +
      s"s0 AS (SELECT $cRef.* FROM $cRef JOIN (SELECT doc_id FROM j WHERE rn = 1) k USING (doc_id)), " +
      // per-source token budget over the survivors' cleaned text
      "z AS (SELECT doc_id, source, text, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|budget'), 1, 7) AS BIGINT) AS h2, " +
      s"$tokensSql AS tk FROM s0), " +
      "sampled AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
      "coalesce(sum(tk) OVER (PARTITION BY source ORDER BY h2, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx, " +
      s"CASE source $budgetCases ELSE -1 END AS b FROM z) zz WHERE b < 0 OR pfx < b), " +
      // the text_pack recursive next-fit walk over the sampled set
      "base AS (SELECT doc_id, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pack'), 1, 7) AS BIGINT) AS h3, " +
      s"CAST(least($tokensSql, $packBudget) AS BIGINT) AS t FROM sampled), " +
      s"o AS (SELECT doc_id, h3 % $groups AS grp, h3, t, " +
      s"row_number() OVER (PARTITION BY h3 % $groups ORDER BY h3, doc_id) AS rn FROM base), " +
      "packed AS (" +
      "SELECT grp, rn, doc_id, t, t AS fill, CAST(0 AS BIGINT) AS pack FROM o WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT o.grp, o.rn, o.doc_id, o.t, " +
      s"CASE WHEN p.fill + o.t > $packBudget THEN o.t ELSE p.fill + o.t END AS fill, " +
      s"CASE WHEN p.fill + o.t > $packBudget THEN p.pack + 1 ELSE p.pack END AS pack " +
      "FROM o JOIN packed p ON o.grp = p.grp AND o.rn = p.rn + 1) " +
      "SELECT CAST(grp AS VARCHAR) || '-' || CAST(pack AS VARCHAR) AS pack_id, " +
      "count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS total_tokens, " +
      s"CAST(sum(t) AS DOUBLE) / $packBudget AS fill_ratio, " +
      "string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS doc_ids " +
      "FROM packed GROUP BY grp, pack"
  }

  /** Mirrors Packing.mixtureSample: integer epochs + the fractional
    * epoch from the same md5-derived "|mix" bucket, epochs
    * materialized by range() — integer arithmetic end-to-end, exact
    * in both engines. */
  private def mixtureSql(weights: Map[String, Double],
      defaultWeight: Double): String = {
    def cases(f: Double => Long, dflt: Long) = {
      val cs = weights.toSeq.sortBy(_._1)
        .map { case (k, w) => s"WHEN '$k' THEN ${f(w)}" }.mkString(" ")
      s"CASE source $cs ELSE $dflt END"
    }
    val wi = cases(w => math.floor(w).toLong,
      math.floor(defaultWeight).toLong)
    val fbp = cases(w => math.round((w - math.floor(w)) * 10000),
      math.round((defaultWeight - math.floor(defaultWeight)) * 10000))
    "WITH z AS (SELECT doc_id, source, " +
      s"$wi + (CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mix'), 1, 7) AS BIGINT) % 10000 < $fbp THEN 1 ELSE 0 END) AS n " +
      "FROM documents) " +
      "SELECT doc_id, source, CAST(t.e AS BIGINT) AS epoch " +
      "FROM z, LATERAL (SELECT unnest(range(0, z.n)) AS e) t WHERE z.n > 0"
  }

  /** Mirrors Packing.temperatureMixtureByTokens END TO END: the
    * per-source token totals, the share^α weight algebra
    * w = round((p^α / p) / Σ p^α, 6), and the token-prefix sampler
    * are all re-derived from the data — the weights are gated, not
    * trusted. Agreement is STRUCTURAL (the temperatureWeights
    * contract): p^α is sqrt at α = 0.5 (correctly rounded per IEEE —
    * bit-identical across engines, unlike libm pow), the p^(α−1)
    * numerator is p^α / p (one correctly-rounded division, never a
    * second pow), and z folds the per-key terms in key-sorted order
    * via list_sort + list_aggregate — matching the driver's sorted
    * foldLeft — rather than an order-unspecified sum(). */
  private def mixtureTemperatureSql(alpha: Double): String = {
    def powA(x: String): String =
      if (alpha == 0.5) s"sqrt($x)"
      else s"pow($x, CAST($alpha AS DOUBLE))"
    "WITH z AS (SELECT doc_id, source, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mixtok'), 1, 7) AS BIGINT) AS h, " +
      s"$tokensSql AS tk FROM documents), " +
      "tot AS (SELECT source, CAST(sum(tk) AS DOUBLE) AS tot FROM z GROUP BY source), " +
      "gt AS (SELECT CAST(sum(tot) AS DOUBLE) AS T FROM tot), " +
      s"pa AS (SELECT source, tot, ${powA("tot / gt.T")} AS pa, tot / gt.T AS p FROM tot, gt), " +
      "zs AS (SELECT list_aggregate(list_transform(list_sort(list({'k': source, 'v': pa})), r -> r.v), 'sum') AS s FROM pa), " +
      "wt AS (SELECT source, tot, CASE WHEN tot = 0 THEN 0.0 ELSE " +
      "round((pa / p) / zs.s, 6) END AS w FROM pa, zs), " +
      "w2 AS (SELECT z.doc_id, z.source, wt.w, wt.tot, " +
      "coalesce(sum(z.tk) OVER (PARTITION BY z.source ORDER BY z.h, z.doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx " +
      "FROM z JOIN wt USING (source)), " +
      "n AS (SELECT doc_id, source, CAST(floor(w) AS BIGINT) + " +
      "(CASE WHEN pfx < (w - floor(w)) * tot THEN 1 ELSE 0 END) AS n FROM w2) " +
      "SELECT doc_id, source, CAST(t.e AS BIGINT) AS epoch " +
      "FROM n, LATERAL (SELECT unnest(range(0, n.n)) AS e) t WHERE n.n > 0"
  }

  /** Mirrors Packing.mixtureSampleByTokens: the naive key-partitioned
    * running sum replays the bucketed prefix (PackingSpec proves row
    * equality for the shared machinery); the fractional admit compares
    * the exclusive token prefix against f·total in DOUBLE math on both
    * engines (explicit CAST — a bare SQL decimal literal would compare
    * in decimal). */
  private def mixtureTokensSql(weights: Map[String, Double],
      defaultWeight: Double): String = {
    def cases(f: Double => String, dflt: String) = {
      val cs = weights.toSeq.sortBy(_._1)
        .map { case (k, w) => s"WHEN '$k' THEN ${f(w)}" }.mkString(" ")
      s"CASE source $cs ELSE $dflt END"
    }
    val wi = cases(w => math.floor(w).toLong.toString,
      math.floor(defaultWeight).toLong.toString)
    val fr = cases(w => s"CAST(${w - math.floor(w)} AS DOUBLE)",
      s"CAST(${defaultWeight - math.floor(defaultWeight)} AS DOUBLE)")
    "WITH z AS (SELECT doc_id, source, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mixtok'), 1, 7) AS BIGINT) AS h, " +
      s"$tokensSql AS tk FROM documents), " +
      "w AS (SELECT doc_id, source, " +
      "coalesce(sum(tk) OVER (PARTITION BY source ORDER BY h, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx, " +
      "sum(tk) OVER (PARTITION BY source) AS tot FROM z), " +
      s"n AS (SELECT doc_id, source, ($wi) + (CASE WHEN pfx < ($fr) * tot THEN 1 ELSE 0 END) AS n FROM w) " +
      "SELECT doc_id, source, CAST(t.e AS BIGINT) AS epoch " +
      "FROM n, LATERAL (SELECT unnest(range(0, n.n)) AS e) t WHERE n.n > 0"
  }

  /** Mirrors TextAnalysis.redactPii over the same seeded text: one CTE
    * per pattern stage, counts on the stage input, masks chained in
    * PiiPatterns order; DuckDB regexp_replace needs the explicit 'g'
    * flag to match Spark's replace-all default. */
  private def redactSql: String = {
    val seeded = "text || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.com soon' ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' call 415-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN ' id 123-45-6789 on file' ELSE '' END"
    val pats = TextAnalysis.PiiPatterns
    val ctes = pats.zipWithIndex.map { case ((name, pat, repl), i) =>
      val carried = pats.take(i).map { case (n, _, _) => s"n_$n, " }.mkString
      s"s${i + 1} AS (SELECT doc_id, $carried" +
        s"CAST(len(regexp_extract_all(t$i, '$pat')) AS BIGINT) AS n_$name, " +
        s"regexp_replace(t$i, '$pat', '$repl', 'g') AS t${i + 1} FROM s$i)"
    }.mkString(", ")
    val nCols = pats.map { case (n, _, _) => s"n_$n" }
    s"WITH s0 AS (SELECT doc_id, $seeded AS t0 FROM documents), $ctes " +
      s"SELECT doc_id, t${pats.size} AS clean_text, ${nCols.mkString(", ")}, " +
      s"CAST(${nCols.map(n => s"$n").mkString(" + ")} AS BIGINT) AS n_pii " +
      s"FROM s${pats.size}"
  }

  private val stopListSql =
    TextAnalysis.Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Mirrors TextAnalysis.bm25Scores verbatim: same constants, same
    * expression shape and associativity, so the only cross-engine
    * daylight is ulp-level log() noise absorbed by round(.,4). */
  private def bm25Sql(terms: Seq[String], k1: Double, b: Double): String = {
    val termExprs = terms.zipWithIndex.map { case (t, i) =>
      val tf = s"CAST(len(list_filter(w, x -> x = '$t')) AS DOUBLE)"
      s"(ln((__N - __df_$i + 0.5) / (__df_$i + 0.5) + 1.0) * ($tf * ${k1 + 1.0}) / " +
        s"($tf + $k1 * (${1.0 - b} + $b * dl / (__sumdl / __N))))"
    }.mkString(" + ")
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(count(*) FILTER (WHERE list_contains(w, '$t')) AS DOUBLE) AS __df_$i"
    }.mkString(", ")
    s"WITH base AS (SELECT doc_id, $wordsSql AS w, CAST(len($wordsSql) AS DOUBLE) AS dl FROM documents), " +
      s"stats AS (SELECT CAST(count(*) AS DOUBLE) AS __N, sum(dl) AS __sumdl, $dfCols FROM base) " +
      s"SELECT doc_id, round($termExprs, 4) AS bm25 FROM base, stats"
  }

  /** Mirrors Relational.profile (the exact oracle flavor): one UNION ALL
    * branch per column. Distinct counts are taken over VARCHAR casts on
    * BOTH engines — each engine's cast is injective for these scalar
    * types, so the counts agree even where the string renderings differ
    * (e.g. Spark vs DuckDB double formatting). count(DISTINCT) skips
    * NULLs in both engines, matching Spark's countDistinct. */
  private def profileSql(table: String, cols: Seq[String]): String =
    cols.map(c =>
      s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
        s"count(*) - count($c) AS n_nulls, " +
        s"count(DISTINCT CAST($c AS VARCHAR)) AS n_distinct FROM $table")
      .mkString(" UNION ALL ")

  /** Mirrors TextAnalysis.chunkWords: chunk starts every `stride` words
    * (integer-division count of starts = Spark's floor((n-1)/stride)),
    * list_slice is 1-based inclusive so [k*stride+1, k*stride+chunkSize]
    * is Spark's slice(ws, k*stride+1, chunkSize) — the tail chunk
    * truncates identically. */
  private def chunksSql(chunkSize: Int, overlap: Int): String = {
    val stride = chunkSize - overlap
    s"WITH l AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
      s"c AS (SELECT doc_id, ws, unnest(range(0, (len(ws) - 1) // $stride + 1)) AS k FROM l) " +
      s"SELECT doc_id, CAST(k AS BIGINT) AS chunk_id, " +
      s"CAST(len(list_slice(ws, k * $stride + 1, k * $stride + $chunkSize)) AS BIGINT) AS n_words, " +
      s"array_to_string(list_slice(ws, k * $stride + 1, k * $stride + $chunkSize), ' ') AS chunk_text FROM c"
  }

  /** Mirrors Packing.packChunks: the chunksSql window replay feeds the
    * same recursive-CTE next-fit walk as packSql, ordered by
    * (h, doc_id, chunk_id) so a doc's chunks stay adjacent. */
  private def packChunksSql(chunkSize: Int, overlap: Int, budget: Long,
      groups: Int): String = {
    val stride = chunkSize - overlap
    val ctNorm = "regexp_replace(trim(lower(ct)), '\\s+', ' ', 'g')"
    val ctTokens =
      s"len(regexp_extract_all($ctNorm, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))"
    "WITH RECURSIVE ch AS (SELECT doc_id, ws, " +
      s"unnest(range(0, (len(ws) - 1) // $stride + 1)) AS k " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) l), " +
      "c2 AS (SELECT doc_id, CAST(k AS BIGINT) AS cid, " +
      s"array_to_string(list_slice(ws, k * $stride + 1, k * $stride + $chunkSize), ' ') AS ct FROM ch), " +
      "base AS (SELECT doc_id, cid, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pack'), 1, 7) AS BIGINT) AS h, " +
      s"CAST(least($ctTokens, $budget) AS BIGINT) AS t FROM c2), " +
      s"o AS (SELECT doc_id, cid, h % $groups AS g, h, t, " +
      s"row_number() OVER (PARTITION BY h % $groups ORDER BY h, doc_id, cid) AS rn FROM base), " +
      "packed AS (" +
      "SELECT g, rn, doc_id, cid, t, t AS fill, CAST(0 AS BIGINT) AS pack FROM o WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT o.g, o.rn, o.doc_id, o.cid, o.t, " +
      s"CASE WHEN p.fill + o.t > $budget THEN o.t ELSE p.fill + o.t END AS fill, " +
      s"CASE WHEN p.fill + o.t > $budget THEN p.pack + 1 ELSE p.pack END AS pack " +
      "FROM o JOIN packed p ON o.g = p.g AND o.rn = p.rn + 1) " +
      "SELECT CAST(g AS VARCHAR) || '-' || CAST(pack AS VARCHAR) AS pack_id, " +
      "count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs, " +
      "CAST(sum(t) AS BIGINT) AS total_tokens, " +
      s"CAST(sum(t) AS DOUBLE) / $budget AS fill_ratio, " +
      "string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(cid AS VARCHAR), ',' ORDER BY rn) AS chunk_ids " +
      "FROM packed GROUP BY g, pack"
  }

  /** One layout leg of the rel_zorder_skip oracle: replays
    * Layout.bucketByOrder's exact integer rank formula, the zone map,
    * and the skip test for the given ORDER BY expression. */
  /** One layout leg of the rel_zorder3_skip oracle — the 3-D form of
    * [[zoneSkipSql]], box bounds from [[Zorder3Box]]. */
  private def zone3SkipSql(layout: String, orderExpr: String): String = {
    val skip = Zorder3Box.map { case (dc, lo, hi) =>
      s"max($dc) < $lo OR min($dc) > $hi"
    }.mkString("(", " OR ", ")")
    "SELECT count(*) AS buckets_total, " +
      "CAST(sum(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT) AS buckets_skipped, " +
      "CAST(sum(CASE WHEN skip THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned, " +
      s"'$layout' AS layout FROM (" +
      s"SELECT bucket, count(*) AS n_rows, $skip AS skip " +
      "FROM (" +
      s"SELECT px, sy, ln, ((row_number() OVER (ORDER BY $orderExpr) - 1) * $Zorder3Buckets) " +
      "// (SELECT count(*) FROM lineitem) AS bucket " +
      "FROM (SELECT l_orderkey, l_linenumber, l_partkey % 32 AS px, " +
      "l_suppkey % 8 AS sy, l_linenumber AS ln FROM lineitem)) GROUP BY bucket)"
  }

  private def zoneSkipSql(layout: String, orderExpr: String): String = {
    val (pxLo, pxHi) = (ZorderBox(0)._2, ZorderBox(0)._3)
    val (syLo, syHi) = (ZorderBox(1)._2, ZorderBox(1)._3)
    "SELECT count(*) AS buckets_total, " +
      "CAST(sum(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT) AS buckets_skipped, " +
      "CAST(sum(CASE WHEN skip THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned, " +
      s"'$layout' AS layout FROM (" +
      "SELECT bucket, count(*) AS n_rows, " +
      s"(max(px) < $pxLo OR min(px) > $pxHi OR max(sy) < $syLo OR min(sy) > $syHi) AS skip " +
      "FROM (" +
      s"SELECT px, sy, ((row_number() OVER (ORDER BY $orderExpr) - 1) * $ZorderBuckets) " +
      "// (SELECT count(*) FROM lineitem) AS bucket " +
      "FROM (SELECT l_orderkey, l_linenumber, l_partkey % 128 AS px, " +
      "l_suppkey % 8 AS sy FROM lineitem)) GROUP BY bucket)"
  }

  def oracleSql: Map[String, String] = Map(
    "text_bm25" -> bm25Sql(Bm25Terms, k1 = 1.2, b = 0.75),
    "text_pack_chunks" -> packChunksSql(chunkSize = 12, overlap = 4,
      budget = PackBudget, groups = PackGroups),
    "text_source_report" ->
      // quality expr = the text_quality mirror; keep = the text_gopher
      // mirror; mean via list_sort fold (ordered-fold convention)
      (s"WITH q AS (SELECT doc_id, 0.4 * least(nw / 200.0, 1.0) + 0.3 * least(stop / nw * 4.0, 1.0) + 0.3 * (nd / nw) AS quality FROM " +
        s"(SELECT doc_id, CAST(len(list_filter($wordsSql, x -> x IN $stopListSql)) AS DOUBLE) AS stop, " +
        s"CAST(len($wordsSql) AS DOUBLE) AS nw, CAST(len(list_distinct($wordsSql)) AS DOUBLE) AS nd FROM documents) t), " +
        s"g AS (SELECT doc_id, $gopherKeepSql AS keep FROM documents), " +
        "j AS (SELECT d.source, q.quality, g.keep FROM documents d JOIN q USING (doc_id) JOIN g USING (doc_id)) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep, " +
        "round(list_aggregate(list_sort(list(quality)), 'sum') / count(*), 4) AS avg_quality " +
        "FROM j GROUP BY source"),
    "text_self_info" ->
      // mirrors selfInfoScorePortable: same unigram model, surprisal
      // folded over the SORTED list (ordered-fold convention); the
      // ln() engine-ulp daylight is absorbed by round(.,4) (bm25
      // precedent)
      (s"WITH tok AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok FROM documents), " +
        "freq AS (SELECT tok, count(*) AS n FROM tok GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_n FROM freq), " +
        "i AS (SELECT doc_id, ln(CAST(total_n AS DOUBLE)) - ln(CAST(n AS DOUBLE)) AS info FROM tok JOIN freq USING (tok), tot) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "round(list_aggregate(list_sort(list(info)), 'sum') / count(*), 4) AS self_info " +
        "FROM i GROUP BY doc_id"),
    "text_self_info2" ->
      // mirrors selfInfoBigramPortable: adjacent-pair conditional
      // surprisal ln c(prev,·) − ln c(prev,tok), folded over the
      // SORTED list; ln() ulp absorbed by round(.,4)
      (s"WITH base AS (SELECT doc_id, regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts FROM documents), " +
        "big AS (SELECT doc_id, ts[i] AS prev, ts[i + 1] AS tok FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM base) t), " +
        "c2 AS (SELECT prev, tok, count(*) AS n2 FROM big GROUP BY 1, 2), " +
        "c1 AS (SELECT prev, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1), " +
        "i AS (SELECT doc_id, ln(CAST(n1 AS DOUBLE)) - ln(CAST(n2 AS DOUBLE)) AS info FROM big JOIN c2 USING (prev, tok) JOIN c1 USING (prev)) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "round(list_aggregate(list_sort(list(info)), 'sum') / count(*), 4) AS self_info2 " +
        "FROM i GROUP BY doc_id"),
    "text_self_info3" ->
      // the n=3 mirror: context = two preceding tokens space-joined
      (s"WITH base AS (SELECT doc_id, regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts FROM documents), " +
        "big AS (SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS ctx, ts[i + 2] AS tok FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM base) t), " +
        "c2 AS (SELECT ctx, tok, count(*) AS n2 FROM big GROUP BY 1, 2), " +
        "c1 AS (SELECT ctx, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1), " +
        "i AS (SELECT doc_id, ln(CAST(n1 AS DOUBLE)) - ln(CAST(n2 AS DOUBLE)) AS info FROM big JOIN c2 USING (ctx, tok) JOIN c1 USING (ctx)) " +
        "SELECT doc_id, count(*) AS n_ngrams, " +
        "round(list_aggregate(list_sort(list(info)), 'sum') / count(*), 4) AS self_info_lm " +
        "FROM i GROUP BY doc_id"),
    "text_self_info_backoff" ->
      // stupid backoff replayed: per-order conditional tables fit on
      // the even-doc half, scoring = left-join coalesce cascade with
      // the penalty as an exact CAST(0.9163 AS DOUBLE) literal (k
      // skipped orders add k·penalty; 2·CAST is an exact FP doubling,
      // so both engines add bit-identical constants — parsing 1.8326
      // directly could differ from 2·0.9163 in the last bit)
      (s"WITH base AS (SELECT doc_id, regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts FROM documents), " +
        "fbase AS (SELECT ts FROM base WHERE doc_id % 2 = 0), " +
        "tri AS (SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS ctx2, ts[i + 1] AS ctx1, ts[i + 2] AS tok FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM base) t), " +
        "ftri AS (SELECT ts[i] || ' ' || ts[i + 1] AS ctx, ts[i + 2] AS tok FROM (SELECT ts, unnest(range(1, len(ts) - 1)) AS i FROM fbase) t), " +
        "c3 AS (SELECT ctx, tok, count(*) AS n2 FROM ftri GROUP BY 1, 2), " +
        "c3t AS (SELECT ctx, CAST(sum(n2) AS BIGINT) AS n1 FROM c3 GROUP BY 1), " +
        "i3 AS (SELECT ctx, tok, ln(CAST(n1 AS DOUBLE)) - ln(CAST(n2 AS DOUBLE)) AS info FROM c3 JOIN c3t USING (ctx)), " +
        "fbi AS (SELECT ts[i] AS ctx, ts[i + 1] AS tok FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM fbase) t), " +
        "c2 AS (SELECT ctx, tok, count(*) AS n2 FROM fbi GROUP BY 1, 2), " +
        "c2t AS (SELECT ctx, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1), " +
        "i2 AS (SELECT ctx, tok, ln(CAST(n1 AS DOUBLE)) - ln(CAST(n2 AS DOUBLE)) AS info FROM c2 JOIN c2t USING (ctx)), " +
        "fu AS (SELECT unnest(ts) AS tok FROM fbase), " +
        "c1 AS (SELECT tok, count(*) AS n FROM fu GROUP BY 1), " +
        "i1 AS (SELECT tok, ln(CAST((SELECT sum(n) FROM c1) AS DOUBLE)) - ln(CAST(n AS DOUBLE)) AS info FROM c1), " +
        "sc AS (SELECT t.doc_id, coalesce(a.info, CAST(0.9163 AS DOUBLE) + b.info, 2 * CAST(0.9163 AS DOUBLE) + c.info) AS info, " +
        "CASE WHEN a.info IS NULL THEN 1 ELSE 0 END AS bo " +
        "FROM tri t LEFT JOIN i3 a ON t.ctx2 = a.ctx AND t.tok = a.tok " +
        "LEFT JOIN i2 b ON t.ctx1 = b.ctx AND t.tok = b.tok " +
        "LEFT JOIN i1 c ON t.tok = c.tok " +
        "WHERE coalesce(a.info, b.info, c.info) IS NOT NULL) " +
        "SELECT doc_id, count(*) AS n_ngrams, CAST(sum(bo) AS BIGINT) AS n_backoff, " +
        "round(list_aggregate(list_sort(list(info)), 'sum') / count(*), 4) AS self_info_bo " +
        "FROM sc GROUP BY doc_id"),
    "text_ppl_buckets" ->
      // CCNet buckets replayed: the self-info CTEs (rounded at 4 —
      // hash-equal inputs), per-language quantile_cont terciles at
      // the 4-decimal fractions, rounded cuts, <=-comparison
      (s"WITH tok AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok FROM documents), " +
        "freq AS (SELECT tok, count(*) AS n FROM tok GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_n FROM freq), " +
        "i AS (SELECT doc_id, ln(CAST(total_n AS DOUBLE)) - ln(CAST(n AS DOUBLE)) AS info FROM tok JOIN freq USING (tok), tot), " +
        "si AS (SELECT doc_id, round(list_aggregate(list_sort(list(info)), 'sum') / count(*), 4) AS self_info FROM i GROUP BY doc_id), " +
        "sl AS (SELECT si.doc_id, d.lang, si.self_info FROM si JOIN documents d USING (doc_id)), " +
        "cuts AS (SELECT lang, round(quantile_cont(self_info, 0.3333), 4) AS t1, " +
        "round(quantile_cont(self_info, 0.6667), 4) AS t2 FROM sl GROUP BY lang) " +
        "SELECT doc_id, lang, self_info, t1, t2, " +
        "CASE WHEN self_info <= t1 THEN 'head' WHEN self_info <= t2 THEN 'middle' ELSE 'tail' END AS bucket " +
        "FROM sl JOIN cuts USING (lang)"),
    "text_self_info_kn" ->
      // interpolated KN replayed: the fit is exact integer counts
      // (bigram types, context totals, continuation/type counts on
      // the even-doc half); the per-position probability mirrors the
      // engine's expression dag op-for-op (D = 0.75 is exact binary,
      // every step an exactly-rounded IEEE op on identical bits), so
      // ln sees identical inputs; ordered fold + round(.,4) as always
      (s"WITH base AS (SELECT doc_id, regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts FROM documents), " +
        "fbase AS (SELECT ts FROM base WHERE doc_id % 2 = 0), " +
        "bi AS (SELECT doc_id, ts[i] AS u, ts[i + 1] AS w FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM base) t), " +
        "fbi AS (SELECT ts[i] AS u, ts[i + 1] AS w FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM fbase) t), " +
        "bg AS (SELECT u, w, CAST(count(*) AS BIGINT) AS cuw FROM fbi GROUP BY 1, 2), " +
        "ctx AS (SELECT u, CAST(sum(cuw) AS BIGINT) AS cu, CAST(count(*) AS BIGINT) AS n1u FROM bg GROUP BY 1), " +
        "cont AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM bg GROUP BY 1), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n1tot FROM bg), " +
        "sc AS (SELECT b.doc_id, " +
        "CASE WHEN x.cu IS NULL THEN CAST(n.n1w AS DOUBLE) / CAST(t.n1tot AS DOUBLE) " +
        "ELSE (greatest(CAST(coalesce(g.cuw, 0) AS DOUBLE) - 0.75, 0.0) + " +
        "(0.75 * CAST(x.n1u AS DOUBLE)) * (CAST(n.n1w AS DOUBLE) / CAST(t.n1tot AS DOUBLE))) / CAST(x.cu AS DOUBLE) END AS p, " +
        "CASE WHEN x.cu IS NULL THEN 1 ELSE 0 END AS cb, " +
        "CASE WHEN g.cuw IS NULL AND x.cu IS NOT NULL THEN 1 ELSE 0 END AS ni " +
        "FROM bi b JOIN cont n ON b.w = n.w CROSS JOIN tot t " +
        "LEFT JOIN ctx x ON b.u = x.u " +
        "LEFT JOIN bg g ON b.u = g.u AND b.w = g.w) " +
        "SELECT doc_id, count(*) AS n_ngrams, CAST(sum(cb) AS BIGINT) AS n_ctx_unseen, " +
        "CAST(sum(ni) AS BIGINT) AS n_interp, " +
        "round(list_aggregate(list_sort(list(- ln(p))), 'sum') / count(*), 4) AS self_info_kn " +
        "FROM sc GROUP BY doc_id"),
    "text_self_info_kn3" ->
      // trigram interpolated KN replayed: raw counts at the top
      // order, continuation counts below (all exact integers), the
      // P2-inside-P3 dag mirrored with P2 as a named subquery column
      (s"WITH base AS (SELECT doc_id, regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts FROM documents), " +
        "fbase AS (SELECT ts FROM base WHERE doc_id % 2 = 0), " +
        "tri AS (SELECT doc_id, ts[i] AS v, ts[i + 1] AS u, ts[i + 2] AS w FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM base) t), " +
        "ftri AS (SELECT ts[i] AS v, ts[i + 1] AS u, ts[i + 2] AS w FROM (SELECT ts, unnest(range(1, len(ts) - 1)) AS i FROM fbase) t), " +
        "t3 AS (SELECT v, u, w, CAST(count(*) AS BIGINT) AS c3 FROM ftri GROUP BY 1, 2, 3), " +
        "c3 AS (SELECT v, u, CAST(sum(c3) AS BIGINT) AS c3tot, CAST(count(*) AS BIGINT) AS n13 FROM t3 GROUP BY 1, 2), " +
        "n2 AS (SELECT u, w, CAST(count(*) AS BIGINT) AS n1cuw FROM t3 GROUP BY 1, 2), " +
        "u2 AS (SELECT u, CAST(sum(n1cuw) AS BIGINT) AS n1cusum, CAST(count(*) AS BIGINT) AS n1ud FROM n2 GROUP BY u), " +
        "fbi AS (SELECT DISTINCT ts[i] AS u, ts[i + 1] AS w FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM fbase) t), " +
        "c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM fbi GROUP BY 1), " +
        "tt AS (SELECT CAST(count(*) AS BIGINT) AS n1tot FROM fbi), " +
        "sc AS (SELECT b.doc_id, " +
        "CASE WHEN x.n1cusum IS NULL THEN CAST(o.n1w AS DOUBLE) / CAST(t.n1tot AS DOUBLE) " +
        "ELSE (greatest(CAST(coalesce(n.n1cuw, 0) AS DOUBLE) - 0.75, 0.0) + " +
        "(0.75 * CAST(x.n1ud AS DOUBLE)) * (CAST(o.n1w AS DOUBLE) / CAST(t.n1tot AS DOUBLE))) / CAST(x.n1cusum AS DOUBLE) END AS p2, " +
        "g.c3tot, g.n13, y.c3 AS c3w, x.n1cusum " +
        "FROM tri b JOIN c1 o ON b.w = o.w CROSS JOIN tt t " +
        "LEFT JOIN u2 x ON b.u = x.u " +
        "LEFT JOIN n2 n ON b.u = n.u AND b.w = n.w " +
        "LEFT JOIN c3 g ON b.v = g.v AND b.u = g.u " +
        "LEFT JOIN t3 y ON b.v = y.v AND b.u = y.u AND b.w = y.w), " +
        "sc2 AS (SELECT doc_id, " +
        "CASE WHEN c3tot IS NULL THEN p2 " +
        "ELSE (greatest(CAST(coalesce(c3w, 0) AS DOUBLE) - 0.75, 0.0) + " +
        "(0.75 * CAST(n13 AS DOUBLE)) * p2) / CAST(c3tot AS DOUBLE) END AS p3, " +
        "CASE WHEN c3tot IS NULL THEN 1 ELSE 0 END AS b3, " +
        "CASE WHEN n1cusum IS NULL THEN 1 ELSE 0 END AS b2 FROM sc) " +
        "SELECT doc_id, count(*) AS n_ngrams, CAST(sum(b3) AS BIGINT) AS n_ctx3_unseen, " +
        "CAST(sum(b2) AS BIGINT) AS n_ctx2_unseen, " +
        "round(list_aggregate(list_sort(list(- ln(p3))), 'sum') / count(*), 4) AS self_info_kn3 " +
        "FROM sc2 GROUP BY doc_id"),
    "text_vocab" ->
      (s"WITH tok AS (SELECT unnest(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS token FROM documents), " +
        "f AS (SELECT token, count(*) AS n_occurrences FROM tok GROUP BY 1) " +
        "SELECT token, n_occurrences, CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS BIGINT) AS \"rank\" " +
        "FROM f ORDER BY n_occurrences DESC, token LIMIT 50"),
    "text_bpe_merges" -> bpeMergesSql(BpeMergeCount),
    "text_bpe_tokenize" -> bpeTokenizeSql(BpeMergeCount),
    // the fast flavor is token-for-token equal to the literal chain
    // (TextAnalysisSpec pins it), so the same unrolled-CTE replay
    // gates it — fit drift, apply drift, and flavor drift all fail
    "text_bpe_tokenize_fast" -> bpeTokenizeSql(BpeMergeCount),
    "text_bpe_ids" -> bpeIdsSql(BpeMergeCount),
    "text_bpe_ids_bytes" -> bpeByteIdsSql(BpeMergeCount),
    "text_pack_ids" -> packIdsSql(BpeMergeCount, PackBudget, PackGroups),
    "text_chunk_stream" -> chunkStreamSql(BpeMergeCount, seqLen = 256),
    "text_oov" ->
      (s"WITH tok AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok FROM documents), " +
        "f AS (SELECT tok AS token, count(*) AS n FROM tok GROUP BY 1), " +
        "v AS (SELECT token FROM f ORDER BY n DESC, token LIMIT 20) " +
        "SELECT t.doc_id, count(*) AS n_tokens, " +
        "CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_rate " +
        "FROM tok t LEFT JOIN v ON t.tok = v.token GROUP BY t.doc_id"),
    "text_gopher" ->
      (s"SELECT doc_id, CAST(len($wordsSql) AS BIGINT) AS n_words, " +
        s"(length($normSql) - len($wordsSql) + 1) / len($wordsSql) AS mean_word_len, " +
        s"(len(string_split_regex(text, '#')) - 1 + len(string_split_regex(text, '\\.\\.\\.')) - 1) / len($wordsSql) AS symbol_ratio, " +
        s"CAST(len(list_intersect($wordsSql, ${TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) AS BIGINT) AS n_stop_distinct, " +
        s"$gopherKeepSql AS keep " +
        "FROM documents"),
    "text_nb_model" ->
      // the NB fit replayed exactly: per-token class-occurrence counts
      // under the gopher label — pure integers, no rounding anywhere
      (s"WITH g AS (SELECT doc_id, $gopherKeepSql AS keep FROM documents), " +
        s"tok AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS token FROM documents), " +
        "lt AS (SELECT t.token, g.keep FROM tok t JOIN g USING (doc_id)) " +
        "SELECT token, CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, " +
        "CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_neg " +
        "FROM lt GROUP BY token"),
    "text_nb_quality" ->
      // mirrors nbQualityScorePortable: add-1 log-likelihood ratios
      // from exact integer counts (ln on bit-identical inputs — the
      // selfInfoModel convention), per-doc ordered fold + the prior;
      // fit-on-self ⇒ every token joins (n_oov ≡ 0); ln ulp daylight
      // absorbed by round(.,4), and the sign margin is corpus-wide
      // >> ulp (min |log_odds| ~ 1e0 at sf0.01 — TextAnalysisSpec pins a
      // planted-margin case)
      (nbScoredCtes +
        " SELECT doc_id, n_tokens, CAST(0 AS BIGINT) AS n_oov, " +
        "round(lo, 4) AS log_odds, lo > 0 AS predicted_keep FROM sc"),
    // classifier eval: the sc scores joined back on their own labels,
    // confusion counts + single-division rates
    "text_nb_eval" ->
      (nbScoredCtes + ", j AS (SELECT lo > 0 AS p, keep AS t FROM sc " +
        "JOIN g USING (doc_id)), " +
        "cm AS (SELECT CAST(coalesce(sum(CASE WHEN p AND t THEN 1 END), 0) AS BIGINT) AS tp, " +
        "CAST(coalesce(sum(CASE WHEN p AND NOT t THEN 1 END), 0) AS BIGINT) AS fp, " +
        "CAST(coalesce(sum(CASE WHEN NOT p AND t THEN 1 END), 0) AS BIGINT) AS fn, " +
        "CAST(coalesce(sum(CASE WHEN NOT p AND NOT t THEN 1 END), 0) AS BIGINT) AS tn, " +
        "CAST(coalesce(sum(CASE WHEN p IS NULL OR t IS NULL THEN 1 END), 0) AS BIGINT) AS n_null FROM j) " +
        "SELECT tp, fp, fn, tn, n_null, " +
        "CASE WHEN tp + fp + fn + tn > 0 THEN CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE) END AS accuracy, " +
        "CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision, " +
        "CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall, " +
        "CASE WHEN tp * 2 + fp + fn > 0 THEN CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE) END AS f1 FROM cm"),
    // calibration: the psi bin layout over the ROUNDED score (the
    // engines' rounded log_odds are hash-equal, so bins agree)
    "text_nb_calibration" -> {
      val binExpr = NbCalibEdges
        .map(e => s"(CASE WHEN s >= $e THEN 1 ELSE 0 END)")
        .mkString(" + ")
      nbScoredCtes + ", j AS (SELECT round(lo, 4) AS s, keep FROM sc " +
        "JOIN g USING (doc_id)) " +
        s"SELECT CAST($binExpr AS BIGINT) AS bin, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT) AS n_pos, " +
        "CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate " +
        "FROM j GROUP BY 1"
    },
    // span corruption: the mask decision, run grouping, sentinel
    // numbering and both reassemblies replayed with windows + ordered
    // string_agg — the mask is an md5-uniform of (doc, pos÷3), so both
    // engines decide every position identically
    "text_span_corrupt" ->
      (s"WITH tok AS (SELECT doc_id, p.i - 1 AS pos, ts[p.i] AS tok FROM " +
        s"(SELECT doc_id, regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts FROM documents) d0, " +
        "LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) p), " +
        "m AS (SELECT doc_id, pos, tok, CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|span|' || CAST(pos // 3 AS VARCHAR)), 1, 15) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0 < CAST(0.15 AS DOUBLE) AS msk FROM tok), " +
        "s AS (SELECT *, msk AND NOT coalesce(lag(msk) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS span_start FROM m), " +
        "k AS (SELECT *, sum(CASE WHEN span_start THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS kk FROM s), " +
        "pc AS (SELECT doc_id, pos, msk, span_start, " +
        "CASE WHEN NOT msk THEN tok WHEN span_start THEN '<extra_id_' || CAST(kk AS VARCHAR) || '>' END AS ip, " +
        "CASE WHEN msk THEN CASE WHEN span_start THEN '<extra_id_' || CAST(kk AS VARCHAR) || '> ' || tok ELSE tok END END AS tp FROM k) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN msk THEN 1 ELSE 0 END) AS BIGINT) AS n_masked, " +
        "CAST(sum(CASE WHEN span_start THEN 1 ELSE 0 END) AS BIGINT) AS n_spans, " +
        "coalesce(string_agg(ip, ' ' ORDER BY pos) FILTER (WHERE ip IS NOT NULL), '') AS input_text, " +
        "coalesce(string_agg(tp, ' ' ORDER BY pos) FILTER (WHERE tp IS NOT NULL), '') AS target_text " +
        "FROM pc GROUP BY doc_id"),
    // FIM: the two uniform cuts and all three slices replayed; DuckDB
    // array_to_string(empty) is NULL where Spark's array_join is '' —
    // coalesced at the edge
    "text_fim_split" ->
      (s"WITH d0 AS (SELECT doc_id, regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts FROM documents), " +
        "c0 AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n, " +
        "least(CAST(floor(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|fim|' || 'c1'), 1, 15) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0 * (len(ts) + 1)) AS BIGINT), CAST(len(ts) AS BIGINT)) AS cut1 FROM d0), " +
        "c1 AS (SELECT doc_id, ts, n, cut1, cut1 + least(CAST(floor(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|fim|' || 'c2'), 1, 15) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0 * (n - cut1 + 1)) AS BIGINT), n - cut1) AS cut2 FROM c0), " +
        "p AS (SELECT doc_id, n AS n_tokens, cut1, cut2, " +
        "coalesce(array_to_string(list_slice(ts, 1, CAST(cut1 AS INT)), ' '), '') AS prefix, " +
        "coalesce(array_to_string(list_slice(ts, CAST(cut1 + 1 AS INT), CAST(cut2 AS INT)), ' '), '') AS middle, " +
        "coalesce(array_to_string(list_slice(ts, CAST(cut2 + 1 AS INT), CAST(n AS INT)), ' '), '') AS suffix FROM c1) " +
        "SELECT doc_id, n_tokens, cut1, cut2, prefix, middle, suffix, " +
        "'<PRE> ' || prefix || ' <SUF> ' || suffix || ' <MID> ' || middle AS psm_text FROM p"),
    // DSIR oracles: hashed unigram+bigram features (md5-uniform mod
    // 1024 — the minhash bucket convention), exact integer counts for
    // the fit; λ and Gumbel keys take ln() of bit-identical integer-
    // derived doubles with ordered folds + round(.,4) (the NB scoring
    // convention)
    "text_dsir_model" ->
      (s"WITH tok AS (SELECT doc_id, lang, regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts FROM documents), " +
        "uni AS (SELECT doc_id, lang, unnest(ts) AS feat FROM tok), " +
        "bi AS (SELECT doc_id, lang, ts[t.i] || ' ' || ts[t.i + 1] AS feat FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS i) t), " +
        "fb AS (SELECT doc_id, lang, CAST('0x' || substr(md5(feat), 1, 15) AS BIGINT) % 1024 AS b FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)) " +
        "SELECT b AS bucket, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_target, " +
        "CAST(count(*) AS BIGINT) AS n_raw FROM fb GROUP BY b"),
    "text_dsir_score" ->
      (s"WITH tok AS (SELECT doc_id, lang, regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts FROM documents), " +
        "uni AS (SELECT doc_id, lang, unnest(ts) AS feat FROM tok), " +
        "bi AS (SELECT doc_id, lang, ts[t.i] || ' ' || ts[t.i + 1] AS feat FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS i) t), " +
        "fb AS (SELECT doc_id, lang, CAST('0x' || substr(md5(feat), 1, 15) AS BIGINT) % 1024 AS b FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)), " +
        "tt AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS r FROM fb), " +
        "m AS (SELECT b, (ln(CAST(nt + 1 AS DOUBLE)) - ln(CAST(t + 1024 AS DOUBLE))) - (ln(CAST(nr + 1 AS DOUBLE)) - ln(CAST(r + 1024 AS DOUBLE))) AS lam " +
        "FROM (SELECT b, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS nr FROM fb GROUP BY b), tt), " +
        "i AS (SELECT fb.doc_id, m.lam FROM fb JOIN m USING (b)) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features, " +
        "round(list_aggregate(list_sort(list(lam)), 'sum'), 4) AS log_w FROM i GROUP BY doc_id"),
    "text_dsir_sample" ->
      (s"WITH tok AS (SELECT doc_id, lang, regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts FROM documents), " +
        "uni AS (SELECT doc_id, lang, unnest(ts) AS feat FROM tok), " +
        "bi AS (SELECT doc_id, lang, ts[t.i] || ' ' || ts[t.i + 1] AS feat FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS i) t), " +
        "fb AS (SELECT doc_id, lang, CAST('0x' || substr(md5(feat), 1, 15) AS BIGINT) % 1024 AS b FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)), " +
        "tt AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS r FROM fb), " +
        "m AS (SELECT b, (ln(CAST(nt + 1 AS DOUBLE)) - ln(CAST(t + 1024 AS DOUBLE))) - (ln(CAST(nr + 1 AS DOUBLE)) - ln(CAST(r + 1024 AS DOUBLE))) AS lam " +
        "FROM (SELECT b, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS nr FROM fb GROUP BY b), tt), " +
        "i AS (SELECT fb.doc_id, m.lam FROM fb JOIN m USING (b)), " +
        "sc AS (SELECT doc_id, list_aggregate(list_sort(list(lam)), 'sum') AS lw FROM i GROUP BY doc_id), " +
        "g AS (SELECT doc_id, lw, lw - ln(-ln(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|dsir'), 1, 15) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0)) AS key FROM sc), " +
        "rk AS (SELECT doc_id, lw, key, row_number() OVER (ORDER BY key DESC, doc_id) AS rn FROM g) " +
        "SELECT doc_id, round(lw, 4) AS log_w, round(key, 4) AS sample_key, CAST(rn AS BIGINT) AS \"rank\" FROM rk WHERE rn <= 50"),
    "rel_profile" -> profileSql("events",
      Seq("event_id", "ts", "user_id", "event_type", "value", "props")),
    "text_chunks" -> chunksSql(chunkSize = 12, overlap = 4),
    "text_pack" -> packSql(PackBudget, PackGroups),
    "text_redact" -> redactSql,
    "text_line_dedup" ->
      // DuckDB lambdas index from 1 and list_position returns the FIRST
      // match — "first occurrence" is list_position(ws, x) = i, the
      // mirror of Spark's array_position(lines, l) == i + 1
      ("WITH l AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) " +
        "SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_lines, " +
        "CAST(len(list_distinct(ws)) AS BIGINT) AS n_kept, " +
        "array_to_string(list_filter(ws, (x, i) -> list_position(ws, x) = i), ' ') AS text_deduped FROM l"),
    "text_paragraph_dedup" ->
      // the window replay: rank every (hash, doc, pos) occurrence,
      // keep rank 1, reassemble in position order; all-dropped docs
      // restored by the LEFT join (the text_boilerplate shape)
      ("WITH l AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "e AS (SELECT doc_id, t.para, t.pos FROM l, LATERAL (SELECT unnest(ws) AS para, unnest(range(1, len(ws) + 1)) AS pos) t), " +
        "k AS (SELECT doc_id, para, pos FROM (SELECT doc_id, para, pos, row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn FROM e) t WHERE rn = 1), " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(para, ' ' ORDER BY pos) AS text_deduped FROM k GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_paras, " +
        "coalesce(a.n_kept, 0) AS n_kept, coalesce(a.text_deduped, '') AS text_deduped " +
        "FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id"),
    "text_winnow_fps" ->
      (s"WITH $winnowCtes " +
        "SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows, " +
        "CAST(count(*) AS BIGINT) AS n_fps, " +
        "md5(string_agg(CAST(fpos AS VARCHAR) || ':' || fp, ' ' ORDER BY fpos)) AS fps_sig " +
        "FROM wfe GROUP BY doc_id, n_windows"),

    "dedup_winnow_pairs" ->
      (s"WITH $winnowCtes, " +
        "fpd AS (SELECT DISTINCT doc_id, fp FROM wfe), " +
        s"cap AS (SELECT fp FROM fpd GROUP BY fp HAVING count(*) <= $WinnowMaxBucket) " +
        "SELECT a.doc_id AS left_id, b.doc_id AS right_id, " +
        "CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM fpd a JOIN fpd b USING (fp) JOIN cap USING (fp) " +
        "WHERE a.doc_id < b.doc_id GROUP BY 1, 2"),

    "dedup_winnow_containment" ->
      (s"WITH $winnowCtes, " +
        "fpd AS (SELECT DISTINCT doc_id, fp FROM wfe), " +
        "cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM fpd GROUP BY 1), " +
        s"cap AS (SELECT fp FROM fpd GROUP BY fp HAVING count(*) <= $WinnowMaxBucket), " +
        "pr AS (SELECT a.doc_id AS left_id, b.doc_id AS right_id, " +
        "CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM fpd a JOIN fpd b USING (fp) JOIN cap USING (fp) " +
        "WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT p.left_id, p.right_id, p.n_shared, ca.nf AS n_a, cb.nf AS n_b, " +
        "CAST(p.n_shared AS DOUBLE) / CAST(least(ca.nf, cb.nf) AS DOUBLE) AS containment " +
        "FROM pr p JOIN cnt ca ON p.left_id = ca.doc_id " +
        "JOIN cnt cb ON p.right_id = cb.doc_id"),

    "dedup_winnow_spans" ->
      // shared fps pair up on the fingerprint (df-capped), group by
      // alignment shift delta = left_fpos - right_fpos, consecutive
      // matches within w + k - 1 = 6 merge into maximal runs (lag +
      // running-sum islands), each run reported with both sides'
      // token extents (a fingerprint covers k = 3 tokens)
      (s"WITH $winnowCtes, " +
        "cap AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM wfe) fpd " +
        s"GROUP BY fp HAVING count(*) <= $WinnowMaxBucket), " +
        "pr AS (SELECT a.doc_id AS left_id, b.doc_id AS right_id, " +
        "a.fpos - b.fpos AS delta, a.fpos AS lp " +
        "FROM wfe a JOIN wfe b USING (fp) JOIN cap USING (fp) " +
        "WHERE a.doc_id < b.doc_id), " +
        "isl AS (SELECT left_id, right_id, delta, lp, " +
        "CASE WHEN lag(lp) OVER (PARTITION BY left_id, right_id, delta ORDER BY lp) IS NULL " +
        s"OR lp > lag(lp) OVER (PARTITION BY left_id, right_id, delta ORDER BY lp) + ${WinnowW + WinnowK - 1} " +
        "THEN 1 ELSE 0 END AS brk FROM pr), " +
        "g AS (SELECT left_id, right_id, delta, lp, " +
        "sum(brk) OVER (PARTITION BY left_id, right_id, delta ORDER BY lp ROWS UNBOUNDED PRECEDING) AS grp FROM isl) " +
        "SELECT left_id, right_id, CAST(delta AS BIGINT) AS delta, " +
        "CAST(min(lp) AS BIGINT) AS left_start, " +
        s"CAST(max(lp) + ${WinnowK - 1} AS BIGINT) AS left_end, " +
        "CAST(min(lp) - delta AS BIGINT) AS right_start, " +
        s"CAST(max(lp) + ${WinnowK - 1} - delta AS BIGINT) AS right_end, " +
        s"CAST(max(lp) + ${WinnowK - 1} - min(lp) + 1 AS BIGINT) AS span_len, " +
        "CAST(count(*) AS BIGINT) AS n_fps " +
        "FROM g GROUP BY left_id, right_id, delta, grp"),

    "dedup_incremental_winnow" ->
      // corpus + arrival winnow CTEs instantiated separately; the
      // index is the canonical (lowest (doc, pos)) occurrence per
      // corpus fingerprint; probe = equi-join on the fingerprint
      (s"WITH ${winnowCtesFor("c", "doc_id % 10 <> 0")}, " +
        s"${winnowCtesFor("a", "doc_id % 10 = 0")}, " +
        "idx AS (SELECT fp, doc_id AS dup_of, fpos AS dup_pos FROM " +
        "(SELECT fp, doc_id, fpos, row_number() OVER (PARTITION BY fp ORDER BY doc_id, fpos) AS rn FROM cwfe) r WHERE rn = 1) " +
        "SELECT a.doc_id AS new_id, CAST(a.doc_id AS BIGINT) AS arrival_ts, " +
        "CAST(a.fpos AS BIGINT) AS fpos, i.dup_of, CAST(i.dup_pos AS BIGINT) AS dup_pos " +
        "FROM awfe a JOIN idx i USING (fp)"),

    "text_substring_dedup" ->
      // ExactSubstr remove-all replay: a window is dup when its hash
      // count over ALL occurrences >= 2 (no rank — every copy
      // scrubs); n_spans = islands of dup starts merged at gap > 8
      // (lag + CASE), coverage/reassembly the text_window_dedup
      // algebra; docs with no dups restored by the LEFT joins
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "w AS (SELECT doc_id, i AS wpos, md5(array_to_string(list_slice(ws, i + 1, i + 8), ' ')) AS whash " +
        "FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS i FROM d WHERE len(ws) >= 8) t), " +
        "dup AS (SELECT doc_id, wpos FROM (SELECT doc_id, wpos, count(*) OVER (PARTITION BY whash) AS c FROM w) x WHERE c >= 2), " +
        "isl AS (SELECT doc_id, wpos, CASE WHEN lag(wpos) OVER (PARTITION BY doc_id ORDER BY wpos) IS NULL " +
        "OR wpos > lag(wpos) OVER (PARTITION BY doc_id ORDER BY wpos) + 8 THEN 1 ELSE 0 END AS brk FROM dup), " +
        "nsp AS (SELECT doc_id, CAST(sum(brk) AS BIGINT) AS n_spans FROM isl GROUP BY doc_id), " +
        "tok AS (SELECT doc_id, ws[p + 1] AS tk, p FROM (SELECT doc_id, ws, unnest(range(0, len(ws))) AS p FROM d) t), " +
        "keep AS (SELECT t.doc_id, t.tk, t.p FROM tok t WHERE NOT EXISTS " +
        "(SELECT 1 FROM dup u WHERE u.doc_id = t.doc_id AND u.wpos <= t.p AND t.p < u.wpos + 8)), " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(tk, ' ' ORDER BY p) AS text_deduped FROM keep GROUP BY doc_id) " +
        "SELECT d2.doc_id, CAST(len(string_split(d2.text, ' ')) AS BIGINT) AS n_tokens, " +
        "coalesce(n.n_spans, 0) AS n_spans, coalesce(a.n_kept, 0) AS n_kept, " +
        "coalesce(a.text_deduped, '') AS text_deduped " +
        "FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id " +
        "LEFT JOIN nsp n ON d2.doc_id = n.doc_id"),
    "dedup_substring_spans" ->
      // the extend step: same dup frame, islands keyed by running
      // break-sum, each island reports its maximal extent
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "w AS (SELECT doc_id, i AS wpos, md5(array_to_string(list_slice(ws, i + 1, i + 8), ' ')) AS whash " +
        "FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS i FROM d WHERE len(ws) >= 8) t), " +
        "dup AS (SELECT doc_id, wpos FROM (SELECT doc_id, wpos, count(*) OVER (PARTITION BY whash) AS c FROM w) x WHERE c >= 2), " +
        "isl AS (SELECT doc_id, wpos, CASE WHEN lag(wpos) OVER (PARTITION BY doc_id ORDER BY wpos) IS NULL " +
        "OR wpos > lag(wpos) OVER (PARTITION BY doc_id ORDER BY wpos) + 8 THEN 1 ELSE 0 END AS brk FROM dup), " +
        "g AS (SELECT doc_id, wpos, sum(brk) OVER (PARTITION BY doc_id ORDER BY wpos ROWS UNBOUNDED PRECEDING) AS grp FROM isl) " +
        "SELECT doc_id, CAST(min(wpos) AS BIGINT) AS span_start, " +
        "CAST(max(wpos) + 7 AS BIGINT) AS span_end, " +
        "CAST(max(wpos) + 7 - min(wpos) + 1 AS BIGINT) AS span_len, " +
        "CAST(count(*) AS BIGINT) AS n_windows " +
        "FROM g GROUP BY doc_id, grp"),
    "dedup_winnow_delete" ->
      // delete == rebuild IS the oracle: the index is built directly
      // over corpus∖deleted (doc_id % 10 <> 0 AND % 7 <> 0) — the
      // engine's build→delete→probe must land on exactly these rows
      (s"WITH ${winnowCtesFor("c",
          "doc_id % 10 <> 0 AND doc_id % 7 <> 0")}, " +
        s"${winnowCtesFor("a", "doc_id % 10 = 0")}, " +
        "idx AS (SELECT fp, doc_id AS dup_of, fpos AS dup_pos FROM " +
        "(SELECT fp, doc_id, fpos, row_number() OVER (PARTITION BY fp ORDER BY doc_id, fpos) AS rn FROM cwfe) r WHERE rn = 1) " +
        "SELECT a.doc_id AS new_id, CAST(a.doc_id AS BIGINT) AS arrival_ts, " +
        "CAST(a.fpos AS BIGINT) AS fpos, i.dup_of, CAST(i.dup_pos AS BIGINT) AS dup_pos " +
        "FROM awfe a JOIN idx i USING (fp)"),

    "text_window_dedup" ->
      // full replay: hash every 8-token window, rank occurrences by
      // (doc_id, wpos) per hash, rank>1 spans mark coverage, a token
      // survives iff no dup span covers it, string_agg reassembles in
      // position order; all-dropped and shorter-than-k docs restored
      // by the LEFT join (the text_paragraph_dedup shape)
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "w AS (SELECT doc_id, i AS wpos, md5(array_to_string(list_slice(ws, i + 1, i + 8), ' ')) AS whash " +
        "FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS i FROM d WHERE len(ws) >= 8) t), " +
        "dup AS (SELECT doc_id, wpos FROM (SELECT doc_id, wpos, row_number() OVER (PARTITION BY whash ORDER BY doc_id, wpos) AS rn FROM w) r WHERE rn > 1), " +
        "tok AS (SELECT doc_id, ws[p + 1] AS tk, p FROM (SELECT doc_id, ws, unnest(range(0, len(ws))) AS p FROM d) t), " +
        "keep AS (SELECT t.doc_id, t.tk, t.p FROM tok t WHERE NOT EXISTS " +
        "(SELECT 1 FROM dup u WHERE u.doc_id = t.doc_id AND u.wpos <= t.p AND t.p < u.wpos + 8)), " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(tk, ' ' ORDER BY p) AS text_deduped FROM keep GROUP BY doc_id) " +
        "SELECT d2.doc_id, CAST(len(string_split(d2.text, ' ')) AS BIGINT) AS n_tokens, " +
        "coalesce(a.n_kept, 0) AS n_kept, coalesce(a.text_deduped, '') AS text_deduped " +
        "FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id"),
    // text_window_dedup_exact oracle: the same span algebra keyed on
    // the RAW window string — the oracle compares tokens, not digests,
    // so it independently witnesses that the hash flavor's spans were
    // collision-free on this corpus
    "text_window_dedup_exact" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "w AS (SELECT doc_id, i AS wpos, array_to_string(list_slice(ws, i + 1, i + 8), ' ') AS whash " +
        "FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS i FROM d WHERE len(ws) >= 8) t), " +
        "dup AS (SELECT doc_id, wpos FROM (SELECT doc_id, wpos, row_number() OVER (PARTITION BY whash ORDER BY doc_id, wpos) AS rn FROM w) r WHERE rn > 1), " +
        "tok AS (SELECT doc_id, ws[p + 1] AS tk, p FROM (SELECT doc_id, ws, unnest(range(0, len(ws))) AS p FROM d) t), " +
        "keep AS (SELECT t.doc_id, t.tk, t.p FROM tok t WHERE NOT EXISTS " +
        "(SELECT 1 FROM dup u WHERE u.doc_id = t.doc_id AND u.wpos <= t.p AND t.p < u.wpos + 8)), " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(tk, ' ' ORDER BY p) AS text_deduped FROM keep GROUP BY doc_id) " +
        "SELECT d2.doc_id, CAST(len(string_split(d2.text, ' ')) AS BIGINT) AS n_tokens, " +
        "coalesce(a.n_kept, 0) AS n_kept, coalesce(a.text_deduped, '') AS text_deduped " +
        "FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id"),
    "text_boilerplate" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "l AS (SELECT doc_id, t.line, t.pos FROM d, LATERAL (SELECT unnest(ws) AS line, unnest(range(1, len(ws) + 1)) AS pos) t), " +
        "freq AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM l) dl GROUP BY line " +
        "HAVING count(*) >= (SELECT CAST(ceil(0.6 * count(*)) AS BIGINT) FROM documents)), " +
        "kept AS (SELECT doc_id, pos, line FROM l WHERE line NOT IN (SELECT line FROM freq)), " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(line, ' ' ORDER BY pos) AS text_clean FROM kept GROUP BY doc_id) " +
        "SELECT d2.doc_id, CAST(len(string_split(d2.text, ' ')) AS BIGINT) AS n_lines, " +
        "CAST(len(string_split(d2.text, ' ')) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed, " +
        "coalesce(a.text_clean, '') AS text_clean " +
        "FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id"),
    "rel_token_budget" -> tokenBudgetSql(TokenBudgets, defaultBudget = -1L),
    "text_curation_dag" -> curationDagSql(TokenBudgets, PackBudget,
      PackGroups),
    "text_curation_dag_nb" -> curationDagSql(TokenBudgets, PackBudget,
      PackGroups, withNb = true),
    // media_resize oracle: replays the synthesizer formula + the
    // nearest-neighbor sampling arithmetic WITHOUT parsing any bytes —
    // out pixel (x,y,c) reads source index ((y*H//4)*W + (x*W//5))*3+c,
    // value (id*31 + si*7 + si²%97) % 256. The Spark side must decode
    // its own re-encoded 5x4 blob to reproduce these sums, so header,
    // dims, and kernel are all on the hook. Raw divisions of exact
    // integer sums (textStats convention)
    "media_resize" ->
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, CAST(8 + doc_id % 5 AS BIGINT) AS w, CAST(6 + doc_id % 4 AS BIGINT) AS h FROM documents), " +
        "o AS (SELECT media_id, base, w, h, (t.i // 3) % 5 AS x, (t.i // 3) // 5 AS y, t.i % 3 AS c " +
        "FROM m, LATERAL (SELECT unnest(range(0, 60)) AS i) t), " +
        "v AS (SELECT media_id, c, (base*31 + si*7 + (si*si) % 97) % 256 AS v " +
        "FROM (SELECT media_id, c, (((y * h) // 4) * w + ((x * w) // 5)) * 3 + c AS si, base FROM o) s) " +
        "SELECT media_id, CAST(5 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height, CAST(20 AS BIGINT) AS n_px, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, " +
        "sum(CASE WHEN c = 0 THEN v END) / 20.0 AS mean_r, " +
        "sum(CASE WHEN c = 1 THEN v END) / 20.0 AS mean_g, " +
        "sum(CASE WHEN c = 2 THEN v END) / 20.0 AS mean_b, " +
        "sum(CASE c WHEN 0 THEN 2126*v WHEN 1 THEN 7152*v ELSE 722*v END) / (10000.0 * 20) AS mean_luma " +
        "FROM v GROUP BY media_id"),
    "rel_location_counts" ->
      ("SELECT CAST(l_partkey AS BIGINT) AS location_id, count(*) AS trip_count, 'pickup_location' AS aggregation_type FROM lineitem GROUP BY 1 " +
        "UNION ALL SELECT CAST(l_suppkey AS BIGINT), count(*), 'dropoff_location' FROM lineitem GROUP BY 1"),
    "rel_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_base_price, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, " +
        "round(avg(l_quantity), 4) AS avg_qty, round(avg(l_extendedprice), 4) AS avg_price, round(avg(l_discount), 4) AS avg_disc, count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-01-01' GROUP BY l_returnflag, l_linestatus"),
    "rel_rollup" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"),
    "rel_stats_aggs" ->
      ("SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS median_qty, " +
        "round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price, " +
        "round(stddev_samp(l_quantity), 4) AS sd_qty, " +
        "round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr " +
        "FROM lineitem GROUP BY l_returnflag"),
    "rel_grouping_sets" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"),
    "rel_array_ops" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws, " +
        "array_to_string(list_sort(list_distinct(string_split(lower(text), ' ')))[1:3], ',') AS first3_sorted, " +
        "string_split(text, ' ')[1] AS first_word FROM documents"),
    "rel_regex" ->
      ("SELECT doc_id, regexp_extract(text, '([A-Za-z]+)', 1) AS first_alpha, " +
        "CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers, " +
        "regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled FROM documents"),
    "rel_cube" ->
      ("SELECT o_orderpriority, o_orderstatus, count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_price " +
        "FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)"),
    "rel_pivot_counts" ->
      ("SELECT user_id, count(*) FILTER (WHERE event_type = 'click') AS n_click, " +
        "count(*) FILTER (WHERE event_type = 'view') AS n_view, " +
        "count(*) FILTER (WHERE event_type = 'error') AS n_error FROM events GROUP BY user_id"),
    "rel_distinct_counts" ->
      "SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps, count(DISTINCT l_orderkey) AS n_orders FROM lineitem",
    "rel_salted_distinct" ->
      "SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct FROM lineitem GROUP BY l_returnflag",
    "rel_zorder_skip" ->
      (zoneSkipSql("zorder",
          Layout.zorderSql("px", "sy", ZorderBits) + ", l_orderkey, l_linenumber") +
        " UNION ALL " +
        zoneSkipSql("px_sort", "px, l_orderkey, l_linenumber") +
        " UNION ALL " +
        zoneSkipSql("arrival", "l_orderkey, l_linenumber")),
    "join_salted_skew" ->
      ("SELECT o_orderpriority, count(*) AS n_rows, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority"),
    "rel_conditional_agg" ->
      ("SELECT o_orderpriority, count(*) FILTER (WHERE o_totalprice > 150000) AS n_big, " +
        "bool_or(o_orderstatus = 'F') AS any_f, bool_and(o_totalprice > 0) AS all_positive, " +
        "(max({'p': o_totalprice, 'k': o_orderkey})).k AS best_key, " +
        "round(avg(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS avg_open_price " +
        "FROM orders GROUP BY o_orderpriority"),
    "rel_explode_words" ->
      ("SELECT doc_id, CAST(t.i AS BIGINT) AS pos, t.word FROM documents, " +
        "LATERAL (SELECT unnest(string_split(text, ' ')[1:5]) AS word, " +
        "unnest(range(0, least(len(string_split(text, ' ')), 5))) AS i) t"),
    "rel_higher_order" ->
      // length() (chars) on both sides — strlen (bytes) would diverge
      // from Spark's length() on any multibyte character
      ("SELECT doc_id, " +
        "CAST(len(list_filter(string_split(lower(text), ' '), x -> length(x) > 5)) AS BIGINT) AS n_long_words, " +
        "list_contains(string_split(lower(text), ' '), 'the') AS has_the, " +
        "CAST(list_aggregate(list_transform(string_split(lower(text), ' '), x -> length(x)), 'sum') AS BIGINT) AS total_chars, " +
        "CAST(list_max(list_transform(string_split(lower(text), ' '), x -> length(x))) AS BIGINT) AS max_word_len " +
        "FROM documents"),
    "rel_unpivot" ->
      ("SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem"),
    "rel_filter_project" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice * (1 - l_discount) AS net_price " +
        "FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag = 'R'"),
    "rel_null_repair" ->
      ("SELECT event_id, strftime(coalesce(ts, TIMESTAMP '2024-01-01'), '%Y-%m-%d %H:%M:%S') AS ts_fixed, ts IS NULL AS was_null FROM events"),
    "rel_scalar_docs" ->
      ("SELECT doc_id, upper(substr(text, 1, 12)) AS head_upper, source || '_' || lang AS src_lang, md5(text) AS text_md5, " +
        "round(sqrt(n_chars), 4) AS sqrt_chars FROM documents"),
    "rel_scalar_events" ->
      ("SELECT event_id, year(ts) AS y, month(ts) AS m, isodow(ts) AS isodow, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS json_k, round(sqrt(value), 4) AS sqrt_value FROM events"),
    "rel_string_pad" ->
      ("SELECT doc_id, lpad(source, 8, '*') AS src_lpad, rpad(lang, 5, '-') AS lang_rpad, " +
        "translate(source, 'aeiou', 'AEIOU') AS src_upvowel, reverse(source) AS src_rev, " +
        "repeat(lang, 3) AS lang_x3 FROM documents"),
    "rel_bitwise" ->
      ("SELECT event_id, event_id & 255 AS lo8, event_id | 4096 AS with_bit12, " +
        "xor(event_id, user_id) AS xored, event_id << 2 AS shl2, event_id >> 3 AS shr3, " +
        "~event_id AS inverted FROM events"),
    "rel_topk_users" ->
      "SELECT user_id, count(*) AS n FROM events GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10",
    "rel_heavy_hitters" ->
      ("WITH k AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events), " +
        "b AS (SELECT key, CAST('0x' || substr(md5(key), 1, 15) AS BIGINT) % 256 AS bucket FROM k), " +
        "bc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS bucket_n FROM b GROUP BY 1 HAVING count(*) >= 80), " +
        "c AS (SELECT b.key, CAST(count(*) AS BIGINT) AS n_exact, min(bc.bucket_n) AS bucket_n " +
        "FROM b JOIN bc USING (bucket) GROUP BY 1 HAVING count(*) >= 80) " +
        "SELECT key, n_exact, bucket_n, bucket_n >= n_exact AS within_bound FROM c"),
    "rel_batch_slice" ->
      ("SELECT event_id, row_num FROM (SELECT event_id, CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS row_num FROM events) t " +
        "WHERE row_num BETWEEN 101 AND 200"),
    "win_analytics" ->
      ("SELECT event_id, user_id, CAST(row_number() OVER w AS BIGINT) AS rn, lag(value) OVER w AS prev_value, " +
        "CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS value_rank, " +
        "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 2) AS running_sum " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"),
    "win_ranking_suite" ->
      ("SELECT event_id, user_id, lead(value) OVER w AS next_value, " +
        "CAST(dense_rank() OVER v AS BIGINT) AS value_dense_rank, " +
        "CAST(ntile(4) OVER v AS BIGINT) AS value_quartile, " +
        "round(percent_rank() OVER v, 6) AS value_pct_rank, " +
        "count(*) OVER (PARTITION BY user_id ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT) " +
        "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_events_prev_hour " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id), " +
        "v AS (PARTITION BY user_id ORDER BY value, event_id)"),
    "win_first_last" ->
      ("SELECT event_id, user_id, " +
        "first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_value_user, " +
        "last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_value_user, " +
        "nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_value_user " +
        "FROM events"),
    "join_bloom_prefilter" ->
      ("SELECT c_custkey, c_name FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)"),
    "join_full_outer" ->
      ("WITH o AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, count(*) AS n_orders FROM orders GROUP BY 1), " +
        "e AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events FROM events GROUP BY 1) " +
        "SELECT COALESCE(o.day, e.day) AS day, COALESCE(n_orders, 0) AS n_orders, COALESCE(n_events, 0) AS n_events " +
        "FROM o FULL JOIN e ON o.day = e.day"),
    "join_cross" ->
      "SELECT n_name, r_name, n_name || '/' || r_name AS pair FROM nation CROSS JOIN region",
    "rel_scalar_subquery" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)"),
    "win_moving_avg" ->
      ("SELECT event_id, user_id, " +
        "round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg3, " +
        "round(max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_max3, " +
        "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING), 4) AS next2_sum " +
        "FROM events"),
    "join_brand_revenue" ->
      ("SELECT p_brand, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand"),
    "join_multiway" ->
      ("SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name"),
    "join_left_orders" ->
      ("SELECT o_orderpriority, count(l_orderkey) AS n_items, count(*) AS n_rows " +
        "FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_orderpriority"),
    "join_semi_customers" ->
      "SELECT c_custkey, c_name FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    "join_anti_customers" ->
      "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    "join_asof_last_order" ->
      ("SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s, o.o_orderkey AS asof_orderkey, " +
        "strftime(o.o_orderdate, '%Y-%m-%d') AS asof_orderdate FROM events e LEFT JOIN LATERAL (" +
        "SELECT o_orderkey, o_orderdate FROM orders o WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts " +
        "ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o ON true"),
    "join_range_binned" ->
      ("WITH e AS (SELECT event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec FROM events WHERE ts IS NOT NULL) " +
        "SELECT a.event_id, count(b.event_id) AS n_nearby FROM e a " +
        "LEFT JOIN e b ON b.sec >= a.sec - 300 AND b.sec <= a.sec + 300 AND b.event_id <> a.event_id " +
        "GROUP BY a.event_id"),
    "join_range_orders" ->
      ("SELECT e.event_id, count(o.o_orderkey) AS n_orders_90d FROM events e LEFT JOIN orders o " +
        "ON o.o_custkey = e.user_id AND o.o_orderdate BETWEEN e.ts - INTERVAL 90 DAY AND e.ts GROUP BY e.event_id"),
    "rel_sql_q3" ->
      ("SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "strftime(o_orderdate, '%Y-%m-%d') AS orderdate_s, o_orderpriority " +
        "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01' " +
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority ORDER BY revenue DESC, l_orderkey LIMIT 10"),
    "rel_try_errors" ->
      ("SELECT event_id, CAST(TRY_CAST(CASE WHEN event_id % 10 = 0 THEN event_type " +
        "ELSE CAST(event_id AS VARCHAR) END AS INT) AS BIGINT) AS mixed_cast, " +
        "CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT) AS BIGINT) AS json_k_int, " +
        "value / nullif(user_id % 3, 0) AS safe_div, " +
        "json_extract_string(props, '$.missing') IS NULL AS missing_key FROM events"),
    "rel_null_semantics" ->
      ("SELECT event_id, props IS NOT DISTINCT FROM NULL AS props_is_null_safe, " +
        "nullif(event_type, 'error') AS type_or_null, " +
        "CASE WHEN ts IS NOT NULL THEN 'has_ts' ELSE 'no_ts' END AS ts_flag FROM events"),
    "rel_date_math" ->
      ("SELECT o_orderkey, strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_30d, " +
        "datediff('day', CAST(o_orderdate AS DATE), DATE '2025-01-01') AS age_days, " +
        "strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end, " +
        "strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start FROM orders"),
    "rel_set_nations" ->
      ("SELECT nationkey, 'both' AS tag FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer INTERSECT SELECT DISTINCT s_nationkey FROM supplier) a " +
        "UNION ALL SELECT nationkey, 'cust_only' FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer EXCEPT SELECT DISTINCT s_nationkey FROM supplier) b"),
    "rel_set_all" ->
      ("SELECT k, count(*) AS n FROM (" +
        "SELECT l_suppkey AS k FROM lineitem WHERE l_quantity < 3 " +
        "EXCEPT ALL SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R') t GROUP BY k"),
    "stream_tumbling_counts" ->
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type, count(*) AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2"),
    "stream_sliding_counts" ->
      ("WITH e AS (SELECT event_type, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t FROM events), " +
        "c AS (SELECT event_type, t, t - t % 7200 AS s0 FROM e), " +
        "x AS (SELECT event_type, t, s0 AS ws FROM c UNION ALL SELECT event_type, t, s0 - 7200 FROM c) " +
        "SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start, event_type, count(*) AS n_events " +
        "FROM x WHERE ws > t - 10800 GROUP BY 1, 2"),
    "stream_sessionize" ->
      ("WITH e AS (SELECT user_id, event_id, ts, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec FROM events), " +
        "flagged AS (SELECT user_id, event_id, ts, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT user_id, ts, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM flagged) " +
        "SELECT user_id, session_seq, count(*) AS n_events, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, " +
        "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end FROM sess GROUP BY user_id, session_seq"),
    "rel_cap_per_key" ->
      ("SELECT event_id, user_id, rn FROM (SELECT event_id, user_id, " +
        "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn " +
        "FROM events) t WHERE rn <= 5"),
    "rel_resample_ffill" ->
      ("WITH e AS (SELECT user_id, event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec, value FROM events WHERE ts IS NOT NULL AND value IS NOT NULL), " +
        "s AS (SELECT user_id, sec - sec % 86400 AS slot, " +
        "list_aggregate(list_transform(list_sort(list({'k': event_id, 'v': CAST(value AS DOUBLE)})), r -> r.v), 'sum') / count(*) AS v FROM e GROUP BY 1, 2), " +
        "b AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM s GROUP BY 1), " +
        "g AS (SELECT user_id, unnest(range(lo, hi + 86400, 86400)) AS slot FROM b), " +
        "j AS (SELECT g.user_id, g.slot, s.v FROM g LEFT JOIN s ON g.user_id = s.user_id AND g.slot = s.slot) " +
        "SELECT user_id, strftime(make_timestamp(slot * 1000000), '%Y-%m-%d %H:%M:%S') AS slot_ts, v, " +
        "last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY slot ROWS UNBOUNDED PRECEDING) AS v_ffill FROM j"),
    "rel_hash_split" ->
      ("SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split, count(*) AS n_docs " +
        "FROM (SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 AS b FROM documents) t " +
        "GROUP BY 1"),
    "rel_mixture_sample" -> mixtureSql(MixtureWeights,
      defaultWeight = 1.0),
    "rel_mixture_tokens" -> mixtureTokensSql(MixtureWeights,
      defaultWeight = 1.0),
    "rel_mixture_temperature" -> mixtureTemperatureSql(MixtureAlpha),
    "rel_priority_sample" ->
      // priority = w / ((h+1)/2^60), h = the 60-bit md5 head (the
      // shingleHash convention) — int→double conversion and division
      // are correctly rounded per IEEE 754, so priorities, τ and ŵ
      // hash-match UNROUNDED; ties broken by doc_id on both sides
      (s"WITH p AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight, " +
        "CAST(n_chars AS DOUBLE) / (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|prio'), 1, 15) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0) AS priority " +
        "FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0), " +
        "r AS (SELECT doc_id, weight, priority, row_number() OVER (ORDER BY priority DESC, doc_id) AS rn FROM p), " +
        s"tau AS (SELECT coalesce(min(CASE WHEN rn = ${PrioritySampleK + 1} THEN priority END), 0.0) AS tau FROM r) " +
        "SELECT doc_id, weight, priority, tau, greatest(weight, tau) AS w_hat " +
        s"FROM r, tau WHERE rn <= $PrioritySampleK"),
    "rel_priority_sample_grouped" ->
      // per-source windows and per-source τ — the stratified mirror
      (s"WITH p AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS weight, " +
        "CAST(n_chars AS DOUBLE) / (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|prio'), 1, 15) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0) AS priority " +
        "FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0), " +
        "r AS (SELECT source, doc_id, weight, priority, row_number() OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS rn FROM p), " +
        s"t2 AS (SELECT source, coalesce(min(CASE WHEN rn = ${PrioritySampleGroupK + 1} THEN priority END), 0.0) AS tau FROM r GROUP BY source) " +
        "SELECT r.source, doc_id, weight, priority, tau, greatest(weight, tau) AS w_hat " +
        s"FROM r JOIN t2 USING (source) WHERE rn <= $PrioritySampleGroupK"),
    "rel_sample_by_key" ->
      ("SELECT event_id, event_type FROM events " +
        "WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|sample'), 1, 7) AS BIGINT) % 10000 < " +
        "CASE event_type WHEN 'view' THEN 2500 WHEN 'click' THEN 5000 ELSE 10000 END"),
    "rel_histogram" ->
      ("WITH b AS (SELECT CASE WHEN v < 0.0 THEN -1 WHEN v >= 400.0 THEN 16 " +
        "ELSE least(CAST(floor((v - 0.0) / 25.0) AS BIGINT), 15) END AS bucket " +
        "FROM (SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL) t) " +
        // bare 25.0 parses as DECIMAL in DuckDB — cast so edges are DOUBLE
        "SELECT bucket, CASE WHEN bucket >= 0 AND bucket < 16 THEN CAST(0.0 AS DOUBLE) + bucket * CAST(25.0 AS DOUBLE) END AS bucket_lo, " +
        "CASE WHEN bucket >= 0 AND bucket < 16 THEN CAST(0.0 AS DOUBLE) + (bucket + 1) * CAST(25.0 AS DOUBLE) END AS bucket_hi, " +
        "count(*) AS n FROM b GROUP BY 1"),
    "rel_zscore" ->
      // mirrors zscoreOutliersPortable: mean and variance from ordered
      // folds over the group's SORTED value list (bit-identical to
      // Spark's sort_array + aggregate), then per-row standardization
      // NULL hygiene mirrors Spark exactly: collect_list skips nulls →
      // the stats CTE filters them (DuckDB list() would keep them,
      // skewing mu/sd); zscoreAttach's null-safe left join keeps
      // null-keyed rows → LEFT JOIN ... IS NOT DISTINCT FROM. Latent at
      // current SFs (no nulls in events.value/event_type) but the
      // oracle should not be weaker than the operator it checks.
      ("WITH s AS (SELECT event_type, list_sort(list(CAST(value AS DOUBLE))) AS vs FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "m AS (SELECT event_type, vs, list_aggregate(vs, 'sum') / len(vs) AS mu FROM s), " +
        "st AS (SELECT event_type, mu, sqrt(list_aggregate(list_transform(vs, x -> (x - mu) * (x - mu)), 'sum') / len(vs)) AS sd FROM m) " +
        "SELECT e.event_id, e.event_type, e.value, " +
        "CASE WHEN st.sd > 0 THEN (CAST(e.value AS DOUBLE) - st.mu) / st.sd END AS z, " +
        "coalesce(abs(CASE WHEN st.sd > 0 THEN (CAST(e.value AS DOUBLE) - st.mu) / st.sd END) > 2.0, false) AS is_outlier " +
        "FROM events e LEFT JOIN st ON e.event_type IS NOT DISTINCT FROM st.event_type"),
    "rel_winsorize" -> {
      // groupedQuantiles' exact interpolation replayed per bound:
      // pos = p·(n−1) over the group's sorted non-null values,
      // q = (ceil(pos)−pos)·vs[floor+1] + (pos−floor(pos))·vs[ceil+1]
      // (Spark Percentile's association, NOT quantile_cont's
      // lo+(hi−lo)·frac — ulp-different), then least/greatest clip
      def q(p: String, name: String) =
        s"CASE WHEN floor($p) = ceil($p) THEN vs[CAST($p AS BIGINT) + 1] " +
          s"ELSE (ceil($p) - $p) * vs[CAST(floor($p) AS BIGINT) + 1] + " +
          s"($p - floor($p)) * vs[CAST(ceil($p) AS BIGINT) + 1] END AS $name"
      "WITH s AS (SELECT event_type, list_sort(list(CAST(value AS DOUBLE))) AS vs FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "p AS (SELECT event_type, vs, CAST(0.05 AS DOUBLE) * (len(vs) - 1) AS plo, CAST(0.95 AS DOUBLE) * (len(vs) - 1) AS phi FROM s), " +
        s"q AS (SELECT event_type, ${q("plo", "qlo")}, ${q("phi", "qhi")} FROM p) " +
        "SELECT e.event_id, e.event_type, e.value, " +
        "least(greatest(CAST(e.value AS DOUBLE), q.qlo), q.qhi) AS value_clipped " +
        "FROM events e LEFT JOIN q ON e.event_type IS NOT DISTINCT FROM q.event_type"
    },
    "rel_anomaly_model" ->
      // the rel_zscore mirror with the fit/score split: stats from the
      // historical slice only, standardization over the arrival slice
      ("WITH s AS (SELECT event_type, list_sort(list(CAST(value AS DOUBLE))) AS vs FROM events WHERE value IS NOT NULL AND event_id % 10 <> 0 GROUP BY 1), " +
        "m AS (SELECT event_type, vs, list_aggregate(vs, 'sum') / len(vs) AS mu FROM s), " +
        "st AS (SELECT event_type, mu, sqrt(list_aggregate(list_transform(vs, x -> (x - mu) * (x - mu)), 'sum') / len(vs)) AS sd FROM m) " +
        "SELECT e.event_id, e.event_type, e.value, " +
        "CASE WHEN st.sd > 0 THEN (CAST(e.value AS DOUBLE) - st.mu) / st.sd END AS z, " +
        "coalesce(abs(CASE WHEN st.sd > 0 THEN (CAST(e.value AS DOUBLE) - st.mu) / st.sd END) > 2.0, false) AS is_outlier " +
        "FROM (SELECT * FROM events WHERE event_id % 10 = 0) e " +
        "LEFT JOIN st ON e.event_type IS NOT DISTINCT FROM st.event_type"),
    "rel_train_order" ->
      ("SELECT doc_id, CAST(row_number() OVER (ORDER BY md5('epoch0|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS shuffle_rank " +
        "FROM documents"),
    "text_stats" ->
      (s"SELECT doc_id, length(text) AS n_chars, CAST(len($wordsSql) AS BIGINT) AS n_words, " +
        s"CAST(len(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens, " +
        s"len(list_distinct($wordsSql)) / len($wordsSql) AS lexical_diversity, " +
        s"(length($normSql) - len($wordsSql) + 1) / len($wordsSql) AS avg_word_len FROM documents"),
    "text_quality" ->
      (s"SELECT doc_id, stop / nw AS stopword_ratio, " +
        "0.4 * least(nw / 200.0, 1.0) + 0.3 * least(stop / nw * 4.0, 1.0) + 0.3 * (nd / nw) AS quality FROM " +
        s"(SELECT doc_id, CAST(len(list_filter($wordsSql, x -> x IN $stopListSql)) AS DOUBLE) AS stop, " +
        s"CAST(len($wordsSql) AS DOUBLE) AS nw, CAST(len(list_distinct($wordsSql)) AS DOUBLE) AS nd FROM documents) t"),
    "text_lang_id" ->
      (s"SELECT doc_id, stop / nw AS stopword_ratio, CASE WHEN stop / nw >= 0.05 THEN 'en' ELSE 'unk' END AS lang_guess FROM " +
        s"(SELECT doc_id, CAST(len(list_filter($wordsSql, x -> x IN $stopListSql)) AS DOUBLE) AS stop, " +
        s"CAST(len($wordsSql) AS DOUBLE) AS nw FROM documents) t"),
    "text_fingerprint" ->
      (s"SELECT doc_id, md5($normSql) AS fingerprint, substr(md5($normSql), 1, 16) AS bucket64 FROM documents"),
    "text_ngram_freq" ->
      ("WITH words AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents), " +
        "bg AS (SELECT array_to_string(w[i:i+1], ' ') AS ngram FROM words, " +
        "LATERAL (SELECT unnest(range(1, len(w))) AS i) t) " +
        "SELECT ngram, count(*) AS n FROM bg GROUP BY 1 ORDER BY n DESC, ngram LIMIT 20"),
    "dedup_exact_groups" ->
      (s"SELECT md5($normSql) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY 1"),
    "dedup_clusters" ->
      // the whole WITH chain must be RECURSIVE for the final member r
      (shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + sigCte +
        s", bands AS ($bandSelects), " +
        "edges AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id), " +
        "edges2 AS (SELECT a_id AS src, b_id AS dst FROM edges UNION ALL SELECT b_id, a_id FROM edges), " +
        "nodes AS (SELECT a_id AS id FROM edges UNION SELECT b_id FROM edges), " +
        "r(id, label) AS (" +
        "SELECT id, id FROM nodes " +
        "UNION SELECT e.dst, r.label FROM r JOIN edges2 e ON e.src = r.id) " +
        "SELECT id, min(label) AS cluster_id FROM r GROUP BY id"),
    "dedup_contamination" ->
      (shingleCte + " SELECT a.doc_id, count(*) AS n_shared_shingles FROM sh a " +
        "JOIN (SELECT DISTINCT sh FROM sh WHERE doc_id < 25) e ON a.sh = e.sh " +
        "WHERE a.doc_id >= 25 GROUP BY a.doc_id"),
    "dedup_scrub_spans" ->
      // eval window hashes, train coverage, NOT-EXISTS survival and
      // ordered reassembly — the text_window_dedup replay pointed at
      // the eval hash set
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "ev AS (SELECT DISTINCT md5(array_to_string(list_slice(ws, i + 1, i + 4), ' ')) AS whash " +
        "FROM (SELECT ws, unnest(range(0, len(ws) - 3)) AS i FROM d WHERE doc_id < 25 AND len(ws) >= 4) t), " +
        "w AS (SELECT doc_id, i AS wpos, md5(array_to_string(list_slice(ws, i + 1, i + 4), ' ')) AS whash " +
        "FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 3)) AS i FROM d WHERE doc_id >= 25 AND len(ws) >= 4) t), " +
        "dup AS (SELECT w.doc_id, w.wpos FROM w JOIN ev USING (whash)), " +
        "tok AS (SELECT doc_id, ws[p + 1] AS tk, p FROM (SELECT doc_id, ws, unnest(range(0, len(ws))) AS p FROM d WHERE doc_id >= 25) t), " +
        "keep AS (SELECT t.doc_id, t.tk, t.p FROM tok t WHERE NOT EXISTS " +
        "(SELECT 1 FROM dup u WHERE u.doc_id = t.doc_id AND u.wpos <= t.p AND t.p < u.wpos + 4)), " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(tk, ' ' ORDER BY p) AS text_clean FROM keep GROUP BY doc_id) " +
        "SELECT d2.doc_id, CAST(len(string_split(d2.text, ' ')) AS BIGINT) AS n_tokens, " +
        "coalesce(a.n_kept, 0) AS n_kept, coalesce(a.text_clean, '') AS text_clean " +
        "FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id WHERE d2.doc_id >= 25"),
    // dedup_scrub_spans_exact oracle: the scrub algebra on RAW window
    // strings — token-grounded spans, the suffix-ordered flavor's
    // no-false-scrub contract made checkable
    "dedup_scrub_spans_exact" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "ev AS (SELECT DISTINCT array_to_string(list_slice(ws, i + 1, i + 4), ' ') AS whash " +
        "FROM (SELECT ws, unnest(range(0, len(ws) - 3)) AS i FROM d WHERE doc_id < 25 AND len(ws) >= 4) t), " +
        "w AS (SELECT doc_id, i AS wpos, array_to_string(list_slice(ws, i + 1, i + 4), ' ') AS whash " +
        "FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 3)) AS i FROM d WHERE doc_id >= 25 AND len(ws) >= 4) t), " +
        "dup AS (SELECT w.doc_id, w.wpos FROM w JOIN ev USING (whash)), " +
        "tok AS (SELECT doc_id, ws[p + 1] AS tk, p FROM (SELECT doc_id, ws, unnest(range(0, len(ws))) AS p FROM d WHERE doc_id >= 25) t), " +
        "keep AS (SELECT t.doc_id, t.tk, t.p FROM tok t WHERE NOT EXISTS " +
        "(SELECT 1 FROM dup u WHERE u.doc_id = t.doc_id AND u.wpos <= t.p AND t.p < u.wpos + 4)), " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(tk, ' ' ORDER BY p) AS text_clean FROM keep GROUP BY doc_id) " +
        "SELECT d2.doc_id, CAST(len(string_split(d2.text, ' ')) AS BIGINT) AS n_tokens, " +
        "coalesce(a.n_kept, 0) AS n_kept, coalesce(a.text_clean, '') AS text_clean " +
        "FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id WHERE d2.doc_id >= 25"),
    "text_repetition" ->
      ("WITH words AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents), " +
        "tg AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS sh FROM words, " +
        "LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) t) " +
        "SELECT doc_id, count(*) AS n_ngrams, count(DISTINCT sh) AS n_distinct, " +
        "CAST(count(*) - count(DISTINCT sh) AS DOUBLE) / count(*) AS repetition FROM tg GROUP BY doc_id"),
    "dedup_stats" ->
      (s"SELECT count(*) AS n_total, count(DISTINCT md5($normSql)) AS n_distinct FROM documents"),
    "dedup_minhash_bands" ->
      (shingleCte + sigCte + " " + bandSelects),
    "dedup_lsh_pairs" ->
      (shingleCte + sigCte + s", bands AS ($bandSelects) " +
        "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id"),
    "dedup_jaccard_top" ->
      (shingleCte + ", sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT a_id, b_id, round(i / (sa.n + sb.n - i), 4) AS jaccard FROM inter " +
        "JOIN sizes sa ON inter.a_id = sa.doc_id JOIN sizes sb ON inter.b_id = sb.doc_id " +
        "ORDER BY jaccard DESC, a_id, b_id LIMIT 20"),
    "dedup_jaccard_prefix" ->
      // the exhaustive answer the prefix filter must reproduce: every
      // shingle-sharing pair scored, threshold filter on the raw ratio
      (shingleCte + ", sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT a_id, b_id, round(i / (sa.n + sb.n - i), 4) AS jaccard FROM inter " +
        "JOIN sizes sa ON inter.a_id = sa.doc_id JOIN sizes sb ON inter.b_id = sb.doc_id " +
        "WHERE i / (sa.n + sb.n - i) >= 0.5"),
    "dedup_jaccard_est" -> {
      val agree = (0 until MinhashK)
        .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      shingleCte + sigCte + s", bands AS ($bandSelects), " +
        "p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id) " +
        s"SELECT p.a_id, p.b_id, CAST($agree AS DOUBLE) / $MinhashK AS jaccard_est " +
        "FROM p JOIN sig sa ON sa.doc_id = p.a_id JOIN sig sb ON sb.doc_id = p.b_id"
    },
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_pairs" ->
      // combination-banding join mirrors the generalized pigeonhole; the
      // brute xor/bit_count hamming then applies the exact threshold
      simhashPairSql(maxDist = 3, cleanBlocks = 2),
    "dedup_incremental" ->
      // banding has EXACT recall (pigeonhole), so the oracle is the
      // brute-force hamming join between the new/corpus halves — any
      // banding bug that drops or invents a candidate hash-mismatches
      (s"WITH s AS ($simhashSql) " +
        "SELECT n.doc_id AS new_id, c.doc_id AS dup_of, " +
        "CAST(bit_count(xor(n.simhash, c.simhash)) AS BIGINT) AS hamming_dist " +
        "FROM s n JOIN s c ON n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0 " +
        "AND bit_count(xor(n.simhash, c.simhash)) <= 3"),
    "dedup_incremental_exact" ->
      (s"WITH idx AS (SELECT md5($normSql) AS content_hash, min(doc_id) AS dup_of " +
        "FROM documents GROUP BY 1), " +
        "arr AS (SELECT doc_id + 100000 AS new_id, upper(text) AS text " +
        "FROM documents WHERE doc_id % 7 = 0) " +
        s"SELECT a.new_id, i.dup_of, md5($normSql) AS content_hash " +
        s"FROM arr a JOIN idx i ON md5($normSql) = i.content_hash"),
    "dedup_incremental_lsh" ->
      // band collision between the halves — same candidate semantics as
      // dedup_lsh_pairs restricted to cross-batch pairs
      (shingleCte + sigCte + s", bands AS ($bandSelects), " +
        "n AS (SELECT doc_id AS new_id, band, band_hash FROM bands WHERE doc_id % 10 = 0), " +
        "c AS (SELECT doc_id AS dup_of, band, band_hash FROM bands WHERE doc_id % 10 <> 0) " +
        "SELECT DISTINCT new_id, dup_of FROM n JOIN c USING (band, band_hash)"),
    "dedup_cluster_split" ->
      // recursive-CTE cluster labels (the dedup_clusters mirror), then
      // the deterministicSplit bucket hash applied to the coalesced key
      (shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + sigCte +
        s", bands AS ($bandSelects), " +
        "pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id), " +
        "edges2 AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION ALL SELECT b_id, a_id FROM pairs), " +
        "nodes AS (SELECT a_id AS id FROM pairs UNION SELECT b_id FROM pairs), " +
        "r(id, label) AS (SELECT id, id FROM nodes " +
        "UNION SELECT e.dst, r.label FROM r JOIN edges2 e ON e.src = r.id), " +
        "clusters AS (SELECT id, min(label) AS cluster_id FROM r GROUP BY id), " +
        "k AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_key " +
        "FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id), " +
        "b2 AS (SELECT doc_id, split_key, " +
        "CAST('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 7) AS BIGINT) % 100 AS h FROM k) " +
        "SELECT doc_id, split_key, CASE WHEN h < 80 THEN 'train' " +
        "WHEN h < 90 THEN 'val' ELSE 'test' END AS split FROM b2"),
    "dedup_keep_best" ->
      (s"WITH q AS (SELECT doc_id, 0.4 * least(nw / 200.0, 1.0) + 0.3 * least(stop / nw * 4.0, 1.0) + 0.3 * (nd / nw) AS quality FROM " +
        s"(SELECT doc_id, CAST(len(list_filter($wordsSql, x -> x IN $stopListSql)) AS DOUBLE) AS stop, " +
        s"CAST(len($wordsSql) AS DOUBLE) AS nw, CAST(len(list_distinct($wordsSql)) AS DOUBLE) AS nd FROM documents) t), " +
        s"h AS (SELECT doc_id, md5($normSql) AS content_hash FROM documents), " +
        "j AS (SELECT h.content_hash, q.doc_id, q.quality, count(*) OVER (PARTITION BY h.content_hash) AS n_copies, " +
        "row_number() OVER (PARTITION BY h.content_hash ORDER BY q.quality DESC, q.doc_id) AS rn " +
        "FROM h JOIN q USING (doc_id)) " +
        "SELECT content_hash, doc_id AS keep_id, quality AS best_quality, n_copies FROM j WHERE rn = 1"),
    "dedup_edit_distance" ->
      (shingleCte + sigCte + s", bands AS ($bandSelects), " +
        "pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id), " +
        s"heads AS (SELECT doc_id, substr($normSql, 1, 64) AS head FROM documents) " +
        "SELECT a_id, b_id, CAST(levenshtein(ha.head, hb.head) AS BIGINT) AS edit_dist FROM pairs " +
        "JOIN heads ha ON pairs.a_id = ha.doc_id JOIN heads hb ON pairs.b_id = hb.doc_id"),
    "dedup_curation" ->
      // shared `pairs` CTE feeds both the edit-distance refine and the
      // recursive-CTE cluster labels — the SQL mirror of the
      // materialize-once pipeline
      (shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + sigCte +
        s", bands AS ($bandSelects), " +
        "pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id), " +
        s"heads AS (SELECT doc_id, substr($normSql, 1, 64) AS head FROM documents), " +
        "refined AS (SELECT a_id, b_id, CAST(levenshtein(ha.head, hb.head) AS BIGINT) AS edit_dist FROM pairs " +
        "JOIN heads ha ON pairs.a_id = ha.doc_id JOIN heads hb ON pairs.b_id = hb.doc_id), " +
        "edges2 AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION ALL SELECT b_id, a_id FROM pairs), " +
        "nodes AS (SELECT a_id AS id FROM pairs UNION SELECT b_id FROM pairs), " +
        "r(id, label) AS (SELECT id, id FROM nodes " +
        "UNION SELECT e.dst, r.label FROM r JOIN edges2 e ON e.src = r.id), " +
        "clusters AS (SELECT id, min(label) AS cluster_id FROM r GROUP BY id), " +
        "sizes AS (SELECT cluster_id, count(*) AS n_docs FROM clusters GROUP BY 1), " +
        "pc AS (SELECT c.cluster_id, count(*) AS n_pairs, min(edit_dist) AS min_edit, " +
        "max(edit_dist) AS max_edit FROM refined JOIN clusters c ON refined.a_id = c.id GROUP BY 1) " +
        "SELECT pc.cluster_id, n_docs, n_pairs, min_edit, max_edit " +
        "FROM pc JOIN sizes USING (cluster_id)"),
    "dedup_embedding_cos" ->
      ("WITH a AS (SELECT label, vec_id AS a_id, embedding AS a_vec FROM embeddings), " +
        "b AS (SELECT label, vec_id AS b_id, embedding AS b_vec FROM embeddings), " +
        s"scored AS (SELECT a_id, b_id, ${cosSql("a_vec", "b_vec")} AS sim FROM a JOIN b USING (label) WHERE a_id < b_id) " +
        "SELECT a_id, b_id, round(sim, 4) AS cosine_sim FROM scored WHERE sim >= 0.3"),
    "sim_ann_lsh" ->
      (s"WITH c AS (SELECT vec_id AS n_id, embedding AS n_vec, ${srpBucketSql("embedding", 64, 4)} AS bucket FROM embeddings), " +
        s"q AS (SELECT vec_id AS q_id, embedding AS q_vec, ${srpBucketSql("embedding", 64, 4)} AS bucket FROM embeddings WHERE vec_id < 10), " +
        s"scored AS (SELECT q_id, n_id, ${cosSql("q_vec", "n_vec")} AS sim FROM q JOIN c USING (bucket) WHERE n_id <> q_id), " +
        "ranked AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS \"rank\" FROM scored) " +
        "SELECT q_id, \"rank\", n_id, round(sim, 4) AS cosine_sim FROM ranked WHERE \"rank\" <= 5"),
    "sim_ann_pq" -> pqSql(dims = 64, m = PqM, ksub = PqKsub, k = 5,
      iters = PqIters, seed = 42L),
    // identical RESULT to sim_ann_pq (all-cells probe == full ADC
    // scan, spec-asserted) — the same oracle gates the probe plan
    "sim_ann_pq_probe" -> pqSql(dims = 64, m = PqM, ksub = PqKsub,
      k = 5, iters = PqIters, seed = 42L),
    "dedup_embedding_ivf" -> nearDupIvfSql(target = AutoCellTarget,
      iters = PqIters, seed = 42L, dims = 64, m = PqM, ksub = PqKsub,
      candSim = 0.2, minSim = 0.3),
    "dedup_split_embedding" -> embeddingSplitSql(target = AutoCellTarget,
      iters = PqIters, seed = 42L, dims = 64, m = PqM, ksub = PqKsub,
      candSim = 0.2, minSim = 0.3),
    "dedup_semantic" -> semDedupSql(target = AutoCellTarget,
      iters = PqIters, seed = 42L, minSim = SemDedupMinSim),
    "dedup_incremental_semantic" -> incrementalSemanticSql(
      target = AutoCellTarget, iters = PqIters, seed = 42L, dims = 64,
      m = PqM, ksub = PqKsub, candSim = 0.2, minSim = 0.3),
    "sim_ann_ivfpq" -> ivfPqSql(nlist = IvfNlist, nprobe = IvfNprobe,
      k = 5, iters = PqIters, seed = 42L, dims = 64, m = PqM,
      ksub = PqKsub),
    // identical RESULT to sim_ann_ivfpq by construction (prebuilt
    // index + expression-based probe cells, spec-asserted) — the same
    // oracle gates both plans
    "sim_ann_ivfpq_probe" -> ivfPqSql(nlist = IvfNlist,
      nprobe = IvfNprobe, k = 5, iters = PqIters, seed = 42L, dims = 64,
      m = PqM, ksub = PqKsub),
    "sim_index_report" -> indexReportSql(nlist = IvfNlist,
      iters = PqIters, seed = 42L, dims = 64, m = PqM, ksub = PqKsub),
    "stream_ann_probe_flags" -> annProbeFlagsSql(nlist = IvfNlist,
      nprobe = IvfNprobe, iters = PqIters, seed = 42L, dims = 64,
      m = PqM, ksub = PqKsub, minSim = 0.3),
    // stream_window_dup_flags oracle: the text_window_dedup hashing
    // replayed, split 90/10 — canonical (lowest (doc, pos)) occurrence
    // per hash over the corpus side is the index, arrival windows
    // equi-join it on the hash
    "stream_window_dup_flags" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "w AS (SELECT doc_id, i AS wpos, md5(array_to_string(list_slice(ws, i + 1, i + 8), ' ')) AS whash " +
        "FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS i FROM d WHERE len(ws) >= 8) t), " +
        "idx AS (SELECT whash, dup_of, dup_pos FROM (SELECT whash, doc_id AS dup_of, wpos AS dup_pos, " +
        "row_number() OVER (PARTITION BY whash ORDER BY doc_id, wpos) AS rn FROM w WHERE doc_id % 10 <> 0) r WHERE rn = 1), " +
        "arr AS (SELECT doc_id, wpos, whash FROM w WHERE doc_id % 10 = 0) " +
        "SELECT a.doc_id AS new_id, CAST(a.doc_id AS BIGINT) AS arrival_ts, CAST(a.wpos AS BIGINT) AS wpos, " +
        "i.dup_of, CAST(i.dup_pos AS BIGINT) AS dup_pos FROM arr a JOIN idx i USING (whash)"),
    "sim_ann_ivf" -> ivfSql(nlist = IvfNlist, nprobe = IvfNprobe, k = 5,
      iters = 2, seed = 42L),
    "sim_rerank" -> rerankSql(dims = 64, planes = 4, k = 5, factor = 3),
    "sim_ann_multiprobe" -> multiProbeSql(dims = 64, planes = 4, k = 5),
    "sim_centroids" ->
      ("SELECT label, CAST(t.i AS BIGINT) AS dim, " +
        "list_aggregate(list_transform(list_sort(list({'k': vec_id, 'v': CAST(t.x AS DOUBLE)})), r -> r.v), 'sum') / count(*) AS centroid_val, " +
        "count(*) AS n_vectors FROM embeddings, " +
        "LATERAL (SELECT unnest(embedding) AS x, unnest(range(0, len(embedding))) AS i) t " +
        "GROUP BY 1, 2"),
    "sim_hybrid_rrf" ->
      // both legs replayed in full (BM25 CTE = the text_bm25 mirror;
      // cosine = the sim_knn_topk mirror, no self-exclusion since the
      // query id is synthetic), ranks windowed per leg, fusion =
      // coalesce'd 1/(60+rank) sums — correctly-rounded IEEE divides
      // in a fixed order, so the doubles hash-match unrounded
      hybridRrfSql(
        "q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0), " +
          s"scored AS (SELECT vec_id AS n_id, ${cosSql("q_vec", "embedding")} AS sim FROM embeddings, q), " +
          "dense AS (SELECT n_id AS doc_id, rn FROM (SELECT n_id, CAST(row_number() OVER (ORDER BY sim DESC, n_id) AS BIGINT) AS rn FROM scored) t " +
          s"WHERE rn <= $HybridLegK)"),
    "sim_hybrid_rrf_ann" ->
      // the production flavor: dense leg = the sim_ann_ivf probe replay
      // (same fit CTEs, query restricted to vec 0, k widened to the
      // hybrid window) nested as a derived table; the lexical leg and
      // fusion come from the SAME builder as sim_hybrid_rrf
      hybridRrfSql(
        "dense AS (SELECT n_id AS doc_id, \"rank\" AS rn FROM (" +
          ivfSql(nlist = IvfNlist, nprobe = IvfNprobe, k = HybridLegK,
            iters = 2, seed = 42L, qPred = "vec_id = 0") + ") iv)"),
    "sim_knn_topk" ->
      ("WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings), " +
        s"scored AS (SELECT q_id, n_id, ${cosSql("q_vec", "n_vec")} AS sim FROM q CROSS JOIN c WHERE n_id <> q_id), " +
        "ranked AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS \"rank\" FROM scored) " +
        "SELECT q_id, \"rank\", n_id, round(sim, 4) AS cosine_sim FROM ranked WHERE \"rank\" <= 5"),
    // hard negatives: the knn oracle with the different-label predicate
    // fused into the pair filter
    "sim_hard_negatives" ->
      ("WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id AS n_id, embedding AS n_vec, label AS n_label FROM embeddings), " +
        s"scored AS (SELECT q_id, n_id, n_label, ${cosSql("q_vec", "n_vec")} AS sim FROM q CROSS JOIN c WHERE n_id <> q_id AND n_label <> q_label), " +
        "ranked AS (SELECT q_id, n_id, n_label, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS \"rank\" FROM scored) " +
        "SELECT q_id, \"rank\", n_id, n_label, round(sim, 4) AS cosine_sim FROM ranked WHERE \"rank\" <= 5"),
    // sim_ann_recall oracle: the EXACT side replayed in full (same
    // ranking CTE as sim_knn_topk, folded to a count + rank-ordered
    // signature), facet booleans pinned true — the rel_approx_distinct
    // convention: the estimate is engine-side, the ground truth and
    // the tolerance verdict are not
    "sim_ann_recall" ->
      ("WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings), " +
        s"scored AS (SELECT q_id, n_id, ${cosSql("q_vec", "n_vec")} AS sim FROM q CROSS JOIN c WHERE n_id <> q_id), " +
        "ranked AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rnk FROM scored), " +
        "top AS (SELECT q_id, rnk, n_id FROM ranked WHERE rnk <= 5), " +
        "meta AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs, " +
        "md5(string_agg(CAST(q_id AS VARCHAR) || ':' || CAST(rnk AS VARCHAR) || ':' || CAST(n_id AS VARCHAR), ',' ORDER BY q_id, rnk)) AS exact_sig FROM top) " +
        "SELECT f.facet, m.n_exact_pairs, m.exact_sig, true AS recall_ok " +
        "FROM (VALUES ('ivf_vs_exact'), ('pruning_ivfpq_vs_adc'), ('quantization_adc_vs_exact'), ('end_to_end_ivfpq_vs_exact')) f(facet) CROSS JOIN meta m"),
    // sim_ann_recall_clustered oracle: the exact side replayed over the
    // SQL-replayed clustered fixture (integer-valued floats — cosine
    // bit-identical across engines), booleans pinned true: the 50%+
    // floors are the point of the clustered fixture
    "sim_ann_recall_clustered" ->
      (s"WITH emb AS (${Similarity.clusteredEmbeddingsSql("range(0, 112) t(i)", 64, 16)}), " +
        "q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM emb WHERE vec_id < 10), " +
        "c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM emb), " +
        s"scored AS (SELECT q_id, n_id, ${cosSql("q_vec", "n_vec")} AS sim FROM q CROSS JOIN c WHERE n_id <> q_id), " +
        "ranked AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rnk FROM scored), " +
        "top AS (SELECT q_id, rnk, n_id FROM ranked WHERE rnk <= 5), " +
        "meta AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs, " +
        "md5(string_agg(CAST(q_id AS VARCHAR) || ':' || CAST(rnk AS VARCHAR) || ':' || CAST(n_id AS VARCHAR), ',' ORDER BY q_id, rnk)) AS exact_sig FROM top) " +
        "SELECT f.facet, m.n_exact_pairs, m.exact_sig, true AS recall_ok " +
        "FROM (VALUES ('ivf_vs_exact'), ('pruning_ivfpq_vs_adc'), ('quantization_adc_vs_exact'), ('end_to_end_ivfpq_vs_exact')) f(facet) CROSS JOIN meta m"),
    "sim_nn_blocked" ->
      ("WITH a AS (SELECT label, vec_id AS a_id, embedding AS a_vec FROM embeddings), " +
        "b AS (SELECT label, vec_id AS b_id, embedding AS b_vec FROM embeddings), " +
        s"scored AS (SELECT a_id, b_id, ${cosSql("a_vec", "b_vec")} AS sim FROM a JOIN b USING (label) WHERE a_id <> b_id), " +
        "ranked AS (SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn FROM scored) " +
        "SELECT a_id AS vec_id, b_id AS nn_id, round(sim, 4) AS cosine_sim FROM ranked WHERE rn = 1"),
    // media oracles: DuckDB substr() slices CHARACTERS while the Spark
    // side slices the UTF-8 payload BYTES — equivalent only on the
    // (deliberately ASCII) documents corpus; a multibyte corpus needs a
    // BLOB-slicing oracle
    "media_chunks" ->
      ("WITH m AS (SELECT doc_id AS media_id, text, CAST(strlen(text) AS BIGINT) AS n_bytes, " +
        "CAST(ceil(strlen(text) / 256.0) AS BIGINT) AS n_chunks FROM documents) " +
        "SELECT media_id, n_bytes, n_chunks, CAST(t.i AS BIGINT) AS chunk_idx, CAST(t.i * 256 AS BIGINT) AS chunk_offset, " +
        "md5(substr(text, CAST(t.i * 256 + 1 AS INT), 256)) AS chunk_sig " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.n_chunks)) AS i) t"),
    "media_windows" ->
      ("WITH m AS (SELECT doc_id AS media_id, text, CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents), " +
        "w AS (SELECT media_id, text, n_bytes, CASE WHEN n_bytes <= 256 THEN 1 " +
        "ELSE CAST(ceil((n_bytes - 256) / 128.0) AS BIGINT) + 1 END AS n_windows FROM m) " +
        "SELECT media_id, n_windows, CAST(t.i AS BIGINT) AS window_idx, CAST(t.i * 128 AS BIGINT) AS window_offset, " +
        "md5(substr(text, CAST(t.i * 128 + 1 AS INT), 256)) AS window_sig " +
        "FROM w, LATERAL (SELECT unnest(range(0, w.n_windows)) AS i) t"),
    "media_frames" ->
      ("WITH m AS (SELECT doc_id AS media_id, text, CAST(ceil(strlen(text) / 256.0) AS BIGINT) AS n_chunks FROM documents) " +
        "SELECT media_id, CAST(t.i AS BIGINT) AS chunk_idx, " +
        "md5(substr(text, CAST(t.i * 256 + 1 AS INT), 256)) AS chunk_sig " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.n_chunks)) AS i) t WHERE t.i % 4 = 0"),
    // media_features oracle: recomputes the channel sums from the PPM
    // synthesizer's pixel formula — pixel i of doc id is
    // (id*31 + i*7 + i²%97) % 256, channel i%3 — never touching the
    // encoded bytes. The Spark side only matches if decodePpm walked
    // the header to the right offset and read the right W·H·3 block.
    // Exact integer sums, raw double divisions (textStats convention)
    "media_features" ->
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, CAST(8 + doc_id % 5 AS BIGINT) AS w, CAST(6 + doc_id % 4 AS BIGINT) AS h FROM documents), " +
        "v AS (SELECT media_id, w, h, t.i % 3 AS c, (base*31 + t.i*7 + (t.i*t.i) % 97) % 256 AS v " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.w * m.h * 3)) AS i) t) " +
        "SELECT media_id, w AS width, h AS height, w * h AS n_px, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, " +
        "sum(CASE WHEN c = 0 THEN v END) / CAST(w * h AS DOUBLE) AS mean_r, " +
        "sum(CASE WHEN c = 1 THEN v END) / CAST(w * h AS DOUBLE) AS mean_g, " +
        "sum(CASE WHEN c = 2 THEN v END) / CAST(w * h AS DOUBLE) AS mean_b, " +
        "sum(CASE c WHEN 0 THEN 2126*v WHEN 1 THEN 7152*v ELSE 722*v END) / (10000.0 * (w * h)) AS mean_luma " +
        "FROM v GROUP BY media_id, w, h"),
    "media_near_dups" ->
      // the frame-pairing replay: sampled 64-byte frame signatures
      // (stride 2), boilerplate guard (HAVING <= 64 media per frame),
      // pair counts via the same equi-join, overlap as raw double of
      // exact integer counts
      ("WITH m AS (SELECT doc_id AS media_id, text, CAST(ceil(strlen(text) / 64.0) AS BIGINT) AS n_chunks FROM documents WHERE strlen(text) > 0), " +
        "f AS (SELECT DISTINCT media_id, md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS sig " +
        "FROM (SELECT media_id, text, unnest(range(0, n_chunks)) AS i FROM m) t WHERE i % 2 = 0), " +
        "g AS (SELECT sig FROM f GROUP BY sig HAVING count(*) <= 64), " +
        "e AS (SELECT f.media_id, f.sig FROM f JOIN g USING (sig)), " +
        "c AS (SELECT media_id, CAST(count(*) AS BIGINT) AS nf FROM e GROUP BY media_id), " +
        "p AS (SELECT a.media_id AS a_id, b.media_id AS b_id, CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM e a JOIN e b ON a.sig = b.sig AND a.media_id < b.media_id GROUP BY 1, 2 HAVING count(*) >= 1) " +
        "SELECT p.a_id, p.b_id, p.n_shared, CAST(p.n_shared AS DOUBLE) / least(ca.nf, cb.nf) AS overlap_frac " +
        "FROM p JOIN c ca ON p.a_id = ca.media_id JOIN c cb ON p.b_id = cb.media_id"),
    // media_near_dups_px oracle: pure group combinatorics — ids sharing
    // id % 25 carry byte-identical rasters, so every within-group pair
    // shares ALL ceil(n_chunks/2) sampled pixel frames (within-image and
    // cross-base frame signatures never collide: aperiodic i²%97 term,
    // pinned by MultimodalSpec's distinctness check), and no cross-group
    // pair shares any. n_bytes = W·H·3 of the DECODED raster
    "media_near_dups_px" ->
      ("WITH d AS (SELECT doc_id, doc_id % 25 AS base FROM documents WHERE doc_id < 200), " +
        "m AS (SELECT doc_id, base, (8 + base % 5) * (6 + base % 4) * 3 AS nb FROM d), " +
        "s AS (SELECT doc_id, base, CAST(ceil(ceil(nb / 64.0) / 2.0) AS BIGINT) AS nf FROM m) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.nf AS n_shared, CAST(1.0 AS DOUBLE) AS overlap_frac " +
        "FROM s a JOIN s b ON a.base = b.base AND a.doc_id < b.doc_id"),
    // media_near_dups_phash oracle: group combinatorics again — every
    // within-group pair has IDENTICAL dHash (the upscale invariance is
    // an exact integer identity, pinned in MultimodalSpec) so hamming 0;
    // payload bytes match iff both sides have the same parity (odd ids
    // are the 2x re-encodes). Cross-base pairs never appear (min
    // cross-base Hamming distance > 2, also spec-pinned)
    "media_near_dups_phash" ->
      ("WITH d AS (SELECT doc_id, doc_id % 25 AS base FROM documents WHERE doc_id < 200) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(0 AS BIGINT) AS hamming, " +
        "(a.doc_id % 2 = b.doc_id % 2) AS same_bytes " +
        "FROM d a JOIN d b ON a.base = b.base AND a.doc_id < b.doc_id"),
    // rel_bloom_skip oracle: probes, bucket rank formula, truth
    // membership and zone-map scan counts all replay exactly (the
    // zoneSkipSql conventions); the two bloom verdicts are literal
    // true — no-false-negatives is the filter's hard guarantee, and
    // the fp margin is the tolerance-boolean convention
    "rel_bloom_skip" ->
      ("WITH o AS (SELECT o_orderkey, o_custkey FROM orders), " +
        s"p AS (SELECT o_custkey AS probe FROM o GROUP BY 1 ORDER BY count(*), o_custkey LIMIT $BloomProbeCount), " +
        s"b AS (SELECT o_custkey, ((row_number() OVER (ORDER BY o_orderkey) - 1) * $BloomBuckets) // (SELECT count(*) FROM o) AS bucket FROM o), " +
        "t AS (SELECT p.probe, count(DISTINCT b.bucket) AS tb FROM p JOIN b ON b.o_custkey = p.probe GROUP BY 1), " +
        "z AS (SELECT bucket, min(o_custkey) AS mn, max(o_custkey) AS mx FROM b GROUP BY 1), " +
        "zc AS (SELECT p.probe, count(*) AS zb FROM p JOIN z ON z.mn <= p.probe AND p.probe <= z.mx GROUP BY 1) " +
        "SELECT p.probe AS o_custkey, t.tb AS truth_buckets, zc.zb AS zone_scan_buckets, " +
        "true AS no_false_negatives, true AS bloom_tight " +
        "FROM p JOIN t ON t.probe = p.probe JOIN zc ON zc.probe = p.probe"),
    // media_near_dups_codec oracle: group combinatorics once more —
    // PNG decode∘encode is the pixel identity, so every within-group
    // pair (any format mix) sits at dHash hamming 0; bytes can only
    // match within one format, i.e. same parity; cross_format is the
    // parity-mix flag. A lossy "PNG" or a decoder bug breaks hamming 0
    // and the hash-match with it
    "media_near_dups_codec" ->
      ("WITH d AS (SELECT doc_id, doc_id % 25 AS base FROM documents WHERE doc_id < 200) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(0 AS BIGINT) AS hamming, " +
        "(a.doc_id % 2 = b.doc_id % 2) AS same_bytes, " +
        "(a.doc_id % 2 <> b.doc_id % 2) AS cross_format " +
        "FROM d a JOIN d b ON a.base = b.base AND a.doc_id < b.doc_id"),
    // media_codec_jpeg oracle: dimensions replay the synthesizer
    // formula exactly; the codec-noise-owned comparisons gate through
    // in-plan tolerance booleans (the sketch-query convention)
    "media_codec_jpeg" ->
      ("SELECT doc_id AS media_id, CAST(8 + doc_id % 5 AS BIGINT) AS width, " +
        "CAST(6 + doc_id % 4 AS BIGINT) AS height, true AS dims_match, " +
        "true AS phash_stable, true AS luma_within " +
        "FROM documents WHERE doc_id < 100"),
    // audio oracles: replay the WAV synthesizer's sample formula —
    // sample i of clip id is 0 in every third 50-block, else
    // (id·37 + i·11 + i²%193) % 4001 − 2000 — never touching the
    // encoded bytes. Exact integer sums, raw divisions, one
    // correctly-rounded sqrt (bit-identical across engines)
    "media_audio_features" ->
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, CAST(400 + (doc_id % 7) * 40 AS BIGINT) AS n FROM documents), " +
        "s AS (SELECT media_id, n, t.i AS i, CASE WHEN (t.i // 50) % 3 = 2 THEN 0 ELSE (base*37 + t.i*11 + (t.i*t.i) % 193) % 4001 - 2000 END AS v " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.n)) AS i) t), " +
        "f AS (SELECT media_id, max(n) AS n, CAST(max(abs(v)) AS BIGINT) AS peak, CAST(sum(abs(v)) AS BIGINT) AS sum_abs, CAST(sum(v*v) AS BIGINT) AS sum_sq FROM s GROUP BY media_id), " +
        "z AS (SELECT media_id, CAST(count(*) FILTER (WHERE (v > 0 AND prev < 0) OR (v < 0 AND prev > 0)) AS BIGINT) AS n_zero_cross " +
        "FROM (SELECT media_id, v, lag(v) OVER (PARTITION BY media_id ORDER BY i) AS prev FROM s) GROUP BY media_id) " +
        "SELECT f.media_id, CAST(8000 AS BIGINT) AS sample_rate, f.n AS n_samples, (f.n * 1000) // 8000 AS duration_ms, " +
        "f.peak, z.n_zero_cross, f.sum_abs, f.sum_sq, f.sum_abs / CAST(f.n AS DOUBLE) AS mean_abs, sqrt(f.sum_sq / CAST(f.n AS DOUBLE)) AS rms " +
        "FROM f JOIN z USING (media_id)"),
    // silence oracle: run detection over the replayed samples via the
    // gaps-and-islands grouping (i − row_number within quiet rows)
    "media_audio_silence" ->
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, CAST(400 + (doc_id % 7) * 40 AS BIGINT) AS n FROM documents), " +
        "s AS (SELECT media_id, t.i AS i, CASE WHEN (t.i // 50) % 3 = 2 THEN 0 ELSE (base*37 + t.i*11 + (t.i*t.i) % 193) % 4001 - 2000 END AS v " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.n)) AS i) t), " +
        "r AS (SELECT media_id, i, i - row_number() OVER (PARTITION BY media_id ORDER BY i) AS grp FROM s WHERE abs(v) < 100), " +
        "g AS (SELECT media_id, min(i) AS start_idx, CAST(count(*) AS BIGINT) AS n FROM r GROUP BY media_id, grp HAVING count(*) >= 40) " +
        "SELECT media_id, CAST(row_number() OVER (PARTITION BY media_id ORDER BY start_idx) - 1 AS BIGINT) AS seg_idx, start_idx, n FROM g"),
    // resample oracle: decimated sample j reads source index 4j; clip
    // length becomes ceil(n/4), rate 2000
    "media_audio_resample" ->
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, (CAST(400 + (doc_id % 7) * 40 AS BIGINT) + 3) // 4 AS n FROM documents), " +
        "s AS (SELECT media_id, n, t.j*4 AS i, CASE WHEN ((t.j*4) // 50) % 3 = 2 THEN 0 ELSE (base*37 + (t.j*4)*11 + ((t.j*4)*(t.j*4)) % 193) % 4001 - 2000 END AS v " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.n)) AS j) t), " +
        "f AS (SELECT media_id, max(n) AS n, CAST(max(abs(v)) AS BIGINT) AS peak, CAST(sum(abs(v)) AS BIGINT) AS sum_abs, CAST(sum(v*v) AS BIGINT) AS sum_sq FROM s GROUP BY media_id), " +
        "z AS (SELECT media_id, CAST(count(*) FILTER (WHERE (v > 0 AND prev < 0) OR (v < 0 AND prev > 0)) AS BIGINT) AS n_zero_cross " +
        "FROM (SELECT media_id, v, lag(v) OVER (PARTITION BY media_id ORDER BY i) AS prev FROM s) GROUP BY media_id) " +
        "SELECT f.media_id, CAST(2000 AS BIGINT) AS sample_rate, f.n AS n_samples, (f.n * 1000) // 2000 AS duration_ms, " +
        "f.peak, z.n_zero_cross, f.sum_abs, f.sum_sq, f.sum_abs / CAST(f.n AS DOUBLE) AS mean_abs, sqrt(f.sum_sq / CAST(f.n AS DOUBLE)) AS rms " +
        "FROM f JOIN z USING (media_id)"),
    // video oracles: replay the GVID synthesizer's channel formula —
    // channel i of frame f is ((id·31 + (f÷L)·53 + i·7 + i²%97) % 251)
    // + f%L with L the id-derived scene length — never touching bytes
    "media_video_frames" ->
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, CAST(8 + doc_id % 5 AS BIGINT) AS w, CAST(6 + doc_id % 4 AS BIGINT) AS h, " +
        "CAST(4 + doc_id % 3 AS BIGINT) AS nf, CAST(2 + doc_id % 2 AS BIGINT) AS sl FROM documents), " +
        "v AS (SELECT media_id, w, h, fr.f AS f, t.i % 3 AS c, ((base*31 + (fr.f // sl)*53 + t.i*7 + (t.i*t.i) % 97) % 251) + fr.f % sl AS v " +
        "FROM m, LATERAL (SELECT unnest(range(0, m.nf)) AS f) fr, LATERAL (SELECT unnest(range(0, m.w*m.h*3)) AS i) t) " +
        "SELECT media_id, f AS frame_idx, w AS width, h AS height, CAST(sum(v) AS BIGINT) AS px_sum, " +
        "sum(CASE c WHEN 0 THEN 2126*v WHEN 1 THEN 7152*v ELSE 722*v END) / (10000.0 * (w*h)) AS mean_luma " +
        "FROM v GROUP BY media_id, f, w, h"),
    "media_video_scenes" ->
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, CAST(8 + doc_id % 5 AS BIGINT) AS w, CAST(6 + doc_id % 4 AS BIGINT) AS h, " +
        "CAST(4 + doc_id % 3 AS BIGINT) AS nf, CAST(2 + doc_id % 2 AS BIGINT) AS sl FROM documents), " +
        "d AS (SELECT media_id, w, h, fr.f AS f, " +
        "abs((((base*31 + (fr.f // sl)*53 + t.i*7 + (t.i*t.i) % 97) % 251) + fr.f % sl) - " +
        "(((base*31 + ((fr.f-1) // sl)*53 + t.i*7 + (t.i*t.i) % 97) % 251) + (fr.f-1) % sl)) AS ad " +
        "FROM m, LATERAL (SELECT unnest(range(1, m.nf)) AS f) fr, LATERAL (SELECT unnest(range(0, m.w*m.h*3)) AS i) t) " +
        "SELECT media_id, f AS frame_idx, CAST(sum(ad) AS BIGINT) AS diff_sum, w*h*3 AS n_ch, sum(ad) > 8*w*h*3 AS is_cut " +
        "FROM d GROUP BY media_id, f, w, h"),
    // keyframe oracle derives from the PLANTED structure (a shot starts
    // exactly where f % L = 0) — the detector must recover ground truth
    "media_video_keyframes" ->
      ("WITH m AS (SELECT doc_id AS media_id, doc_id AS base, CAST(8 + doc_id % 5 AS BIGINT) AS w, CAST(6 + doc_id % 4 AS BIGINT) AS h, " +
        "CAST(4 + doc_id % 3 AS BIGINT) AS nf, CAST(2 + doc_id % 2 AS BIGINT) AS sl FROM documents), " +
        "k AS (SELECT media_id, base, w, h, sl, fr.f AS f FROM m, LATERAL (SELECT unnest(range(0, m.nf)) AS f) fr WHERE fr.f % sl = 0), " +
        "v AS (SELECT media_id, f, sl, ((base*31 + (f // sl)*53 + t.i*7 + (t.i*t.i) % 97) % 251) + f % sl AS v " +
        "FROM k, LATERAL (SELECT unnest(range(0, k.w*k.h*3)) AS i) t) " +
        "SELECT media_id, f AS frame_idx, f // sl AS scene_idx, CAST(sum(v) AS BIGINT) AS px_sum FROM v GROUP BY media_id, f, sl"),
    // audio/video content near-dup oracles: pure group combinatorics
    // (the media_near_dups_px convention) — ids sharing id%25 carry
    // identical decoded content, so every within-group pair appears;
    // same_bytes is parity (the INFO-tagged odd ids share bytes among
    // themselves); video pairs share all 4+(base%3) frames at 1.0
    "media_audio_near_dups" ->
      ("WITH m AS (SELECT doc_id FROM documents WHERE doc_id < 200) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "(a.doc_id % 2) = (b.doc_id % 2) AS same_bytes " +
        "FROM m a JOIN m b ON a.doc_id % 25 = b.doc_id % 25 AND a.doc_id < b.doc_id"),
    "media_video_near_dups" ->
      ("WITH m AS (SELECT doc_id FROM documents WHERE doc_id < 200) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "CAST(4 + (a.doc_id % 25) % 3 AS BIGINT) AS n_shared, " +
        "CAST(1.0 AS DOUBLE) AS overlap_frac " +
        "FROM m a JOIN m b ON a.doc_id % 25 = b.doc_id % 25 AND a.doc_id < b.doc_id"),
    // pagerank oracle: the 3 rounds unrolled as CTEs — 1/N, rank/deg,
    // α-damping are all correctly-rounded IEEE ops on both engines, and
    // the per-node in-sums use the ordered list fold, so raw doubles
    // hash-match with no rounding anywhere (the RRF convention)
    "graph_pagerank" -> {
      val e = "SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "UNION ALL SELECT DISTINCT l_suppkey*2+1 AS src, o_custkey*2 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE l_returnflag = 'R'"
      def round(i: Int) =
        s"c$i AS (SELECT e.dst AS node, r${i - 1}.rank / CAST(d.deg AS DOUBLE) AS c " +
          s"FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node JOIN d ON e.src = d.src), " +
          s"s$i AS (SELECT node, list_aggregate(list_sort(list(c)), 'sum') AS inr FROM c$i GROUP BY node), " +
          s"r$i AS (SELECT nodes.node, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / CAST(n.n AS DOUBLE) " +
          s"+ CAST(0.85 AS DOUBLE) * coalesce(s$i.inr, CAST(0 AS DOUBLE)) AS rank " +
          s"FROM nodes CROSS JOIN n LEFT JOIN s$i ON nodes.node = s$i.node)"
      s"WITH e AS ($e), " +
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes), " +
        "d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src), " +
        "r0 AS (SELECT node, CAST(1 AS DOUBLE) / CAST(n.n AS DOUBLE) AS rank FROM nodes CROSS JOIN n), " +
        s"${round(1)}, ${round(2)}, ${round(3)} " +
        "SELECT node, rank FROM r3"
    },
    // the sketch queries gate through IN-PLAN tolerance booleans (the
    // estimates themselves are engine-specific; the exact counts and
    // the ≤3σ agreement are not) — every query is oracle-checked
    "rel_approx_distinct" ->
      ("SELECT 'l_partkey' AS key_col, count(DISTINCT l_partkey) AS n_exact, true AS within_tolerance FROM lineitem " +
        "UNION ALL SELECT 'l_orderkey', count(DISTINCT l_orderkey), true FROM lineitem"),
    "rel_hll_distinct" ->
      ("SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact, true AS within_tolerance FROM lineitem GROUP BY 1 " +
        "UNION ALL SELECT 'ALL', count(DISTINCT l_partkey), true FROM lineitem"),
    "rel_approx_quantiles" ->
      ("SELECT l_returnflag, count(*) AS n_rows, true AS within_tolerance " +
        "FROM lineitem GROUP BY 1"),
    "rel_zorder3_skip" ->
      (zone3SkipSql("zorder3",
          Layout.zorderSqlN(Seq("px", "sy", "ln"), Zorder3Bits) +
            ", l_orderkey, l_linenumber") +
        " UNION ALL " +
        zone3SkipSql("arrival", "l_orderkey, l_linenumber")),
    // quality-gate oracles: generated from the SAME suite object the
    // Spark query runs (Quality.checkSql/profileSql), so the constraint
    // list can never drift between engines
    "rel_quality_verdicts" ->
      Quality.checkSql("events", qualitySuite, qualityMetricsSql),
    "rel_quality_profile" ->
      Quality.profileSql("orders", QualityProfileCols),
    "rel_quality_profile_merged" ->
      // exact fields replay the full-table profile (shards partition
      // the table, merges are lossless); the sketch estimate is the
      // pinned tolerance boolean
      ("SELECT \"column\", n_rows, n_nulls, completeness, min_value, " +
        "max_value, true AS distinct_within_tolerance FROM (" +
        Quality.profileSql("orders", QualityProfileCols) + ")"),
    "rel_quality_orphans" ->
      ("SELECT 'intact' AS leg, * FROM (" +
        Quality.orphanRateSql("lineitem", "l_orderkey",
          "orders", "o_orderkey") + ") UNION ALL " +
        "SELECT 'broken' AS leg, * FROM (" +
        Quality.orphanRateSql(
          "(SELECT CASE WHEN l_orderkey % 3 = 0 " +
            "THEN l_orderkey + 100000000 ELSE l_orderkey END " +
            "AS l_orderkey FROM lineitem)",
          "l_orderkey", "orders", "o_orderkey") + ")"),
    "rel_quality_embeddings" ->
      Quality.checkSql("embeddings", embQualitySuite, embQualityMetricsSql),
    "rel_quality_psi" ->
      Quality.psiSql("orders",
        "(SELECT o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice " +
          "FROM orders) shifted",
        "o_totalprice", PsiEdges),
    "rel_quality_js" ->
      Quality.jsSql("orders",
        "(SELECT o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice " +
          "FROM orders) shifted",
        "o_totalprice", PsiEdges),
    "rel_quality_psi_grouped" ->
      Quality.psiByGroupSql("orders",
        "(SELECT o_orderstatus, o_totalprice * CAST(1.1 AS DOUBLE) " +
          "AS o_totalprice FROM orders) shifted",
        "o_totalprice", "o_orderstatus", PsiEdges),
    "rel_quality_drift" ->
      Quality.profileDiffSql(
        Quality.profileSql("orders", QualityProfileCols),
        Quality.profileSql(qualityDriftedSql, QualityProfileCols),
        QualityNullJump, QualityCardJump),
    // cdc oracles: the delta fixtures are derived from the base tables
    // with the same modular rules on both sides, so every branch
    // (update, insert, delete, survive) is replayed verbatim
    "cdc_upsert_orders" ->
      ("WITH base AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders), " +
        "src AS (SELECT o_orderkey, o_totalprice * 0.5 AS o_totalprice, 'R' AS o_orderstatus " +
        "FROM base WHERE o_orderkey % 10 = 3 " +
        "UNION ALL SELECT o_orderkey + 100000000, o_totalprice, 'N' FROM base WHERE o_orderkey % 100 = 7) " +
        "SELECT t.o_orderkey, t.o_totalprice, t.o_orderstatus FROM base t " +
        "WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey) " +
        "UNION ALL SELECT * FROM src"),
    "cdc_snapshot_diff" ->
      ("WITH olds AS (SELECT doc_id, lang, source, n_chars FROM documents), " +
        "news AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN upper(lang) ELSE lang END AS lang, " +
        "source, n_chars FROM olds WHERE doc_id % 7 <> 0 " +
        "UNION ALL SELECT doc_id + 1000000, 'xx', source, n_chars FROM olds WHERE doc_id % 11 = 0), " +
        "j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
        "CASE WHEN o.doc_id IS NULL THEN 'I' WHEN n.doc_id IS NULL THEN 'D' " +
        "WHEN NOT (o.lang IS NOT DISTINCT FROM n.lang AND o.source IS NOT DISTINCT FROM n.source " +
        "AND o.n_chars IS NOT DISTINCT FROM n.n_chars) THEN 'U' END AS op, " +
        "o.lang AS ol, o.source AS os, o.n_chars AS onc, n.lang AS nl, n.source AS ns, n.n_chars AS nnc " +
        "FROM olds o FULL JOIN news n ON o.doc_id = n.doc_id) " +
        "SELECT doc_id, op, CASE WHEN op = 'D' THEN ol ELSE nl END AS lang, " +
        "CASE WHEN op = 'D' THEN os ELSE ns END AS source, " +
        "CASE WHEN op = 'D' THEN onc ELSE nnc END AS n_chars FROM j WHERE op IS NOT NULL"),
    "cdc_change_log" ->
      ("WITH base AS (SELECT user_id, value, ts FROM (" +
        "SELECT user_id, value, ts, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events WHERE ts < TIMESTAMP '2024-01-16') WHERE rn = 1), " +
        "feed AS (SELECT user_id, value, ts, event_id, " +
        "CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op " +
        "FROM events WHERE ts >= TIMESTAMP '2024-01-16'), " +
        "latest AS (SELECT * FROM (SELECT feed.*, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM feed) WHERE rn = 1), " +
        "ups AS (SELECT user_id, value, ts FROM latest WHERE op <> 'delete'), " +
        "del AS (SELECT user_id FROM latest WHERE op = 'delete'), " +
        "merged AS (SELECT b.* FROM base b WHERE NOT EXISTS (SELECT 1 FROM ups u WHERE u.user_id = b.user_id) " +
        "UNION ALL SELECT * FROM ups) " +
        "SELECT user_id, round(value, 4) AS value, CAST(epoch_us(ts) AS BIGINT) AS ts_us " +
        "FROM merged m WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.user_id = m.user_id)"),
    "cdc_scd2_events" ->
      ("WITH c AS (SELECT user_id, event_type, ts, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
        "k AS (SELECT user_id, event_type, ts, event_id FROM c WHERE prev IS NULL OR prev <> event_type) " +
        "SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS valid_from_us, " +
        "CAST(epoch_us(lead(ts) OVER w) AS BIGINT) AS valid_to_us, " +
        "(lead(ts) OVER w) IS NULL AS is_current " +
        "FROM k WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"),
    // triangle oracle: the same degree-ordered orientation unrolled as
    // CTEs — counts are exact integers; the coefficient mirrors the
    // Spark op order (2·T, then /(d·(d−1))) so doubles are bit-equal
    "graph_triangles" ->
      ("WITH c AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b " +
        "FROM lineitem a JOIN lineitem b " +
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM " +
        "(SELECT a AS node FROM c UNION ALL SELECT b AS node FROM c) GROUP BY node), " +
        "o AS (SELECT CASE WHEN da.degree < db.degree OR (da.degree = db.degree AND c.a < c.b) THEN c.a ELSE c.b END AS src, " +
        "CASE WHEN da.degree < db.degree OR (da.degree = db.degree AND c.a < c.b) THEN c.b ELSE c.a END AS dst " +
        "FROM c JOIN deg da ON c.a = da.node JOIN deg db ON c.b = db.node), " +
        "wg AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS x " +
        "FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst), " +
        "tr AS (SELECT wg.u, wg.v, wg.x FROM wg JOIN c ON wg.v = c.a AND wg.x = c.b), " +
        "pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM " +
        "(SELECT u AS node FROM tr UNION ALL SELECT v FROM tr UNION ALL SELECT x FROM tr) GROUP BY node) " +
        "SELECT deg.node, deg.degree, coalesce(pn.n_tri, 0) AS n_tri, " +
        "round(CASE WHEN deg.degree >= 2 THEN " +
        "CAST(2 AS DOUBLE) * CAST(coalesce(pn.n_tri, 0) AS DOUBLE) / " +
        "(CAST(deg.degree AS DOUBLE) * (CAST(deg.degree AS DOUBLE) - CAST(1 AS DOUBLE))) " +
        "ELSE CAST(0 AS DOUBLE) END, 4) AS clustering " +
        "FROM deg LEFT JOIN pn ON deg.node = pn.node"),
    // CMS oracle: the universal-hash cells replayed exactly — the
    // estimate is integer-deterministic, so it hash-gates with no
    // tolerance boolean (unlike the engine-specific HLL sketches)
    "rel_cms_freq" ->
      ("WITH par(r, a, b) AS (VALUES (0, 1103515245, 12345), " +
        "(1, 214013, 2531011), (2, 134775813, 89), (3, 1664525, 1013904223)), " +
        s"cells AS (SELECT p.r, ((p.a * l_partkey + p.b) % 2147483647) % $CmsWidth AS c, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM lineitem CROSS JOIN par p GROUP BY 1, 2), " +
        "probes AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_exact " +
        "FROM lineitem GROUP BY 1 ORDER BY n_exact DESC, l_partkey LIMIT 10) " +
        "SELECT pr.l_partkey, pr.n_exact, CAST(min(cells.cnt) AS BIGINT) AS n_est, " +
        "min(cells.cnt) >= pr.n_exact AS never_under " +
        "FROM probes pr CROSS JOIN par p JOIN cells ON cells.r = p.r " +
        s"AND cells.c = ((p.a * pr.l_partkey + p.b) % 2147483647) % $CmsWidth " +
        "GROUP BY 1, 2"),
    // funnel oracle: per-stage earliest-qualifying-event chain
    "rel_funnel" ->
      ("WITH s0 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY user_id), " +
        "s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e " +
        "JOIN s0 ON e.user_id = s0.user_id AND e.ts >= s0.t " +
        "WHERE e.event_type = 'click' GROUP BY e.user_id), " +
        "s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e " +
        "JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t " +
        "WHERE e.event_type = 'purchase' GROUP BY e.user_id) " +
        "SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s0 " +
        "UNION ALL SELECT 1, 'click', count(*) FROM s1 " +
        "UNION ALL SELECT 2, 'purchase', count(*) FROM s2"),
    "rel_cohorts" ->
      ("WITH f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw FROM events GROUP BY user_id) " +
        "SELECT strftime(f.cw, '%Y-%m-%d') AS cohort_week, " +
        "CAST(date_diff('day', f.cw, CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset, " +
        "CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users " +
        "FROM events e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2"),
    "rel_trajectories" ->
      (s"WITH r AS (SELECT user_id, event_type, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, " +
        "count(*) OVER (PARTITION BY user_id) AS n FROM events) " +
        "SELECT user_id, CAST(max(n) AS BIGINT) AS n_events, " +
        "string_agg(event_type, '>' ORDER BY rn) AS traj " +
        s"FROM r WHERE rn <= $TrajMaxLen GROUP BY user_id"),
    // preference-pair oracle: both argmax windows replayed with the
    // same deterministic tie-breaks; scores/margins are integer-valued
    // doubles, so no rounding boundary exists
    "text_pref_pairs" ->
      (s"WITH s AS (SELECT doc_id % $PrefGroups AS prompt_key, doc_id, " +
        "CAST(n_chars AS DOUBLE) AS score FROM documents), " +
        "c AS (SELECT prompt_key, doc_id AS chosen_id, score AS chosen_score, " +
        "row_number() OVER (PARTITION BY prompt_key ORDER BY score DESC, doc_id ASC) AS rn FROM s), " +
        "rj AS (SELECT prompt_key, doc_id AS rejected_id, score AS rejected_score, " +
        "row_number() OVER (PARTITION BY prompt_key ORDER BY score ASC, doc_id DESC) AS rn FROM s) " +
        "SELECT c.prompt_key, chosen_id, rejected_id, chosen_score, rejected_score, " +
        "chosen_score - rejected_score AS margin " +
        "FROM c JOIN rj ON c.prompt_key = rj.prompt_key AND c.rn = 1 AND rj.rn = 1 " +
        s"WHERE chosen_id <> rejected_id AND chosen_score - rejected_score >= CAST($PrefMinMargin AS DOUBLE)"),
    "text_chat_template" ->
      (s"WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents), " +
        s"p AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n, " +
        s"array_to_string(list_slice(ts, 1, $ChatPromptWords), ' ') AS prompt, " +
        s"array_to_string(list_slice(ts, ${ChatPromptWords + 1}, len(ts)), ' ') AS response " +
        s"FROM t0 WHERE len(ts) > $ChatPromptWords) " +
        s"SELECT doc_id, '<|system|>$ChatSystem<|user|>' || prompt || '<|assistant|>' || response || '<|end|>' AS rendered, " +
        s"CAST(${"<|system|>".length + ChatSystem.length + "<|user|>".length} + length(prompt) + ${"<|assistant|>".length} AS BIGINT) AS mask_start, " +
        s"CAST(${"<|system|>".length + ChatSystem.length + "<|user|>".length} + length(prompt) + ${"<|assistant|>".length} + length(response) AS BIGINT) AS mask_end, " +
        s"n AS n_tokens, n - $ChatPromptWords AS n_tokens_masked FROM p"),
    // Bradley-Terry oracle: the same 3 MM rounds unrolled as CTEs,
    // ordered folds via list_aggregate(list_sort(...)) — raw doubles
    // hash-gate unrounded (the graph_pagerank precedent)
    "rel_bradley_terry" -> {
      def btRound(i: Int) =
        s"d$i AS (SELECT sym.i AS player, list_aggregate(list_sort(" +
          s"list(CAST(sym.n AS DOUBLE) / (ri.rating + rj.rating))), 'sum') AS den " +
          s"FROM sym JOIN r${i - 1} ri ON sym.i = ri.player " +
          s"JOIN r${i - 1} rj ON sym.j = rj.player GROUP BY 1), " +
          s"u$i AS (SELECT w.player, w.n_wins, CAST(w.n_wins AS DOUBLE) / d$i.den AS u " +
          s"FROM w JOIN d$i ON w.player = d$i.player), " +
          s"t$i AS (SELECT list_aggregate(list_sort(list(u)), 'sum') AS tot FROM u$i), " +
          s"r$i AS (SELECT player, n_wins, u * CAST(np.np AS DOUBLE) / t$i.tot AS rating " +
          s"FROM u$i CROSS JOIN np CROSS JOIN t$i)"
      "WITH bn AS (SELECT l_orderkey AS o, CAST(s_nationkey AS BIGINT) AS nat, " +
        "sum(l_quantity) AS v FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1, 2), " +
        "pr AS (SELECT CASE WHEN a.v > b.v THEN a.nat ELSE b.nat END AS winner, " +
        "CASE WHEN a.v > b.v THEN b.nat ELSE a.nat END AS loser " +
        "FROM bn a JOIN bn b ON a.o = b.o AND a.nat < b.nat AND a.v <> b.v), " +
        "cmp AS (SELECT least(winner, loser) AS a, greatest(winner, loser) AS b, " +
        "CAST(count(*) AS BIGINT) AS n FROM pr GROUP BY 1, 2), " +
        "sym AS (SELECT a AS i, b AS j, n FROM cmp UNION ALL SELECT b, a, n FROM cmp), " +
        "players AS (SELECT DISTINCT i AS player FROM sym), " +
        "np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM players), " +
        "wn AS (SELECT winner AS player, CAST(count(*) AS BIGINT) AS n_wins FROM pr GROUP BY 1), " +
        "w AS (SELECT players.player, coalesce(wn.n_wins, 0) AS n_wins " +
        "FROM players LEFT JOIN wn ON players.player = wn.player), " +
        "r0 AS (SELECT player, n_wins, CAST(1 AS DOUBLE) AS rating FROM w), " +
        s"${btRound(1)}, ${btRound(2)}, ${btRound(3)} " +
        "SELECT player, n_wins, rating FROM r3"
    },
    // LPA oracle: the same 3 synchronous rounds unrolled — integer
    // counts + min-label tie-break, no floating point anywhere
    "graph_labelprop" -> {
      def lpRound(i: Int) =
        s"g$i AS (SELECT sym.node, l.label, count(*) AS cnt " +
          s"FROM sym JOIN l${i - 1} l ON sym.nbr = l.node GROUP BY 1, 2), " +
          s"l$i AS (SELECT node, label FROM (SELECT node, label, " +
          "row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn " +
          s"FROM g$i) WHERE rn = 1)"
      "WITH c AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b " +
        "FROM lineitem a JOIN lineitem b " +
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "sym AS (SELECT a AS node, b AS nbr FROM c UNION ALL SELECT b, a FROM c), " +
        "l0 AS (SELECT DISTINCT node, node AS label FROM sym), " +
        s"${lpRound(1)}, ${lpRound(2)}, ${lpRound(3)}, " +
        "sz AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size " +
        "FROM l3 GROUP BY 1) " +
        "SELECT l3.node, l3.label, sz.community_size " +
        "FROM l3 JOIN sz ON l3.label = sz.label"
    },
    // Fellegi-Sunter oracle: the SAME LinkField instances supply the
    // weight literals, summed in the same field order. The literals
    // go through STRING casts — DuckDB parses a bare 17-digit numeric
    // as DECIMAL and its decimal→double conversion double-rounds
    // (10550746785383243 > 2^53), off strtod by an ulp; CAST('…' AS
    // DOUBLE) is strtod and returns Scala's exact bits
    "rel_record_linkage" ->
      (s"WITH $linkageCtes " +
        "SELECT left_id, right_id, agree_name_exact, agree_bal_close, " +
        "agree_bal_coarse, score, " +
        s"CASE WHEN score >= CAST($LinkMatchTh AS DOUBLE) THEN 'match' " +
        s"WHEN score >= CAST($LinkPossibleTh AS DOUBLE) THEN 'possible' " +
        "ELSE 'nonmatch' END AS verdict " +
        s"FROM sw WHERE score >= CAST($LinkPossibleTh AS DOUBLE)"),
    // survivorship oracle: same match CTEs, then struct-ordered
    // min/max aggregates — DuckDB orders {'k':…,'v':…} structs
    // field-by-field exactly like Spark
    "rel_golden_records" ->
      (s"WITH $linkageCtes, " +
        s"m AS (SELECT left_id, right_id FROM sw WHERE score >= CAST($LinkMatchTh AS DOUBLE)), " +
        "mem AS (SELECT left_id AS cluster, 0 AS prio, l_name AS name, " +
        "l_name AS name_long, l_bal AS bal_hi, l_bal AS bal_lo " +
        "FROM lft JOIN m USING (left_id) " +
        "UNION ALL SELECT m.left_id, 1, r_name, r_name, r_bal, r_bal " +
        "FROM rgt JOIN m USING (right_id)) " +
        "SELECT cluster, CAST(count(*) AS BIGINT) AS n_members, " +
        "min(CASE WHEN name IS NOT NULL THEN {'k': prio, 'v': name} END).v AS name, " +
        "max(CASE WHEN name_long IS NOT NULL THEN {'k': len(name_long), 'v': name_long} END).v AS name_long, " +
        "max(bal_hi) AS bal_hi, min(bal_lo) AS bal_lo " +
        "FROM mem GROUP BY 1"),
    // compaction oracle: the same sorted running-fill as ONE exclusive
    // prefix-sum window — all integers, bin = prefix // target
    "rel_compaction_plan" ->
      ("WITH inv AS (SELECT strftime(o_orderdate, '%Y-%m') || '_' || o_orderpriority AS file_name, " +
        "CAST(count(*) AS BIGINT) AS bytes FROM orders GROUP BY 1), " +
        "pre AS (SELECT file_name, bytes, coalesce(sum(bytes) OVER (" +
        "ORDER BY bytes DESC, file_name ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b4 FROM inv) " +
        s"SELECT CAST(b4 // $CompactTargetBytes AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_files, " +
        "CAST(sum(bytes) AS BIGINT) AS bytes_total, min(file_name) AS first_file " +
        "FROM pre GROUP BY 1"),
    // SQ8 oracle: refit the exact per-dim min/max in SQL, replay the
    // floor(x·255 + 0.5) code path and the sorted-fold MSE — raw
    // doubles hash-gate unrounded
    "sim_scalar_quant" ->
      ("WITH x AS (SELECT vec_id, t.i AS d, CAST(t.x AS DOUBLE) AS v " +
        "FROM embeddings, LATERAL (SELECT unnest(embedding) AS x, " +
        "unnest(range(0, len(embedding))) AS i) t), " +
        "st AS (SELECT d, min(v) AS lo, max(v) AS hi FROM x GROUP BY d), " +
        "q AS (SELECT vec_id, v, lo, hi, " +
        "CASE WHEN hi = lo THEN 0 ELSE greatest(CAST(0 AS BIGINT), " +
        "least(CAST(255 AS BIGINT), CAST(floor((v - lo) / (hi - lo) * 255 + 0.5) AS BIGINT))) END AS code " +
        "FROM x JOIN st USING (d)), " +
        "e AS (SELECT vec_id, code, " +
        "abs(v - (lo + CAST(code AS DOUBLE) / 255 * (hi - lo))) AS err FROM q) " +
        "SELECT vec_id, CAST(sum(code) AS BIGINT) AS checksum, " +
        "max(err) AS max_abs_err, " +
        "list_aggregate(list_sort(list(err * err)), 'sum') / 64 AS mse " +
        "FROM e GROUP BY vec_id"),
    // k-anonymity oracle: per-level mirrors generated by the shared
    // kAnonymitySql builder — the oracle groups by the raw QI
    // expressions (no key-string needed; class counts are identical)
    "rel_k_anonymity" -> Seq(
      (0, "nation_seg_bal1",
        "c_nationkey, c_mktsegment, CAST(floor(c_acctbal) AS BIGINT)"),
      (1, "nation_seg_bal100",
        "c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 100.0) AS BIGINT)"),
      (2, "nation_seg_bal1000",
        "c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000.0) AS BIGINT)"),
      (3, "nation_seg", "c_nationkey, c_mktsegment"),
      (4, "nation", "c_nationkey"))
      .map { case (i, name, qi) =>
        Quality.kAnonymitySql("customer", i, name, qi, KAnonK)
      }.mkString(" UNION ALL "),

    // l-diversity oracle: per-level mirrors from the shared builder,
    // sensitive column outside the QI ladder
    "rel_l_diversity" -> Seq(
      (0, "nation_bal100",
        "c_nationkey, CAST(floor(c_acctbal / 100.0) AS BIGINT)"),
      (1, "nation_bal1000",
        "c_nationkey, CAST(floor(c_acctbal / 1000.0) AS BIGINT)"),
      (2, "nation", "c_nationkey"))
      .map { case (i, name, qi) =>
        Quality.lDiversitySql("customer", i, name, qi, "c_mktsegment", LDivL)
      }.mkString(" UNION ALL "),

    // inverted-index oracles: postings rebuilt from scratch in DuckDB
    // (zip-unnest positions); the Spark side reads its persisted index
    "text_index_stats" -> (postingsCte +
      ", dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1) " +
      "SELECT term, df, CAST(sum(tf) AS BIGINT) AS total_tf, " +
      "CAST(max(tf) AS BIGINT) AS max_tf " +
      "FROM post JOIN dfs USING (term) GROUP BY term, df"),
    "text_index_probe" -> (postingsCte +
      s" SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms, " +
      "CAST(sum(tf) AS BIGINT) AS total_tf FROM post " +
      s"WHERE term IN ${IndexAndTerms.map(t => s"'$t'").mkString("(", ", ", ")")} " +
      s"GROUP BY doc_id HAVING count(*) = ${IndexAndTerms.distinct.size}"),
    "text_index_phrase" -> phraseSql(IndexPhrase),
    // advance == rebuild: the oracle is the full-corpus stats, same
    // SQL as text_index_stats
    "text_index_advance" -> (postingsCte +
      ", dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1) " +
      "SELECT term, df, CAST(sum(tf) AS BIGINT) AS total_tf, " +
      "CAST(max(tf) AS BIGINT) AS max_tf " +
      "FROM post JOIN dfs USING (term) GROUP BY term, df"),
    "text_index_bm25" ->
      ("SELECT doc_id, bm25, rank FROM (SELECT doc_id, bm25, " +
        "row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank " +
        s"FROM (${bm25Sql(Bm25Terms, k1 = 1.2, b = 0.75)}) s WHERE bm25 > 0) r " +
        s"WHERE rank <= $IndexBm25K"),

    "rel_attribution" -> attributionSql(AttribTouches, AttribConv,
      AttribLookbackSec),
    "rel_ewma" -> ewmaSql(EwmaAlpha, EwmaHorizon),

    "text_feature_hash" ->
      (s"WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents), " +
        "p AS (SELECT doc_id, unnest(ws) AS term FROM w) " +
        "SELECT doc_id, " +
        s"CAST('0x' || substr(md5(term), 1, 7) AS BIGINT) % $FeatureHashDims AS bucket, " +
        "CAST(sum(CASE WHEN CAST('0x' || substr(md5(term), 8, 1) AS BIGINT) % 2 = 0 " +
        "THEN 1 ELSE -1 END) AS BIGINT) AS weight " +
        "FROM p GROUP BY 1, 2"),

    // LSH recall witness oracle: truth = the dedup_jaccard_prefix
    // brute-force mirror, candidates = the dedup_lsh_pairs banding
    // mirror, counts + the integer-exact floor comparison
    "dedup_lsh_recall" ->
      (shingleCte + sigCte + s", bands AS ($bandSelects), " +
        "cd AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM sh a " +
        "JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "tr AS (SELECT a_id, b_id FROM inter " +
        "JOIN sizes sa ON inter.a_id = sa.doc_id JOIN sizes sb ON inter.b_id = sb.doc_id " +
        "WHERE i / (sa.n + sb.n - i) >= 0.5), " +
        "hit AS (SELECT a_id, b_id FROM tr WHERE EXISTS " +
        "(SELECT 1 FROM cd WHERE cd.a_id = tr.a_id AND cd.b_id = tr.b_id)) " +
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_true, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM cd) AS n_candidates, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit, " +
        "((SELECT count(*) FROM hit) * 100 >= " +
        s"(SELECT count(*) FROM tr) * $LshRecallFloorPct) AS recall_ok"),

    // matryoshka oracle: the sim_knn_topk ranking CTE at BOTH widths,
    // truncation via 1-based inclusive list slicing
    "sim_matryoshka" -> {
      val md = MatryoshkaDims
      "WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings), " +
        s"ts AS (SELECT q_id, n_id, ${cosSql(s"q_vec[1:$md]", s"n_vec[1:$md]")} AS sim " +
        "FROM q CROSS JOIN c WHERE n_id <> q_id), " +
        "tr AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS \"rank\" FROM ts), " +
        s"fs AS (SELECT q_id, n_id, ${cosSql("q_vec", "n_vec")} AS sim " +
        "FROM q CROSS JOIN c WHERE n_id <> q_id), " +
        "fr AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS r FROM fs) x WHERE r <= 5) " +
        "SELECT tr.q_id, tr.\"rank\", tr.n_id, round(tr.sim, 4) AS cosine_sim, " +
        "EXISTS (SELECT 1 FROM fr WHERE fr.q_id = tr.q_id AND fr.n_id = tr.n_id) AS in_full_topk " +
        "FROM tr WHERE tr.\"rank\" <= 5"
    },

    "rel_temporal_split" ->
      ("SELECT s AS split, CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(ne) AS BIGINT) AS n_events FROM (" +
        "SELECT user_id, count(*) AS ne, " +
        s"CASE WHEN min(ts) < TIMESTAMP '$SplitTrainEnd' THEN 'train' " +
        s"WHEN min(ts) >= TIMESTAMP '$SplitTestStart' THEN 'test' " +
        "ELSE 'embargo' END AS s " +
        "FROM events GROUP BY user_id) t GROUP BY 1"),

    // nDCG oracle: the knn ranking CTE + label relevance, DCG as the
    // rank-ordered struct fold, IDCG as the closed min(k, n_rel) sum
    "sim_ndcg" ->
      ("WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id AS n_id, embedding AS n_vec, label AS n_label FROM embeddings), " +
        s"scored AS (SELECT q_id, n_id, n_label, q_label, ${cosSql("q_vec", "n_vec")} AS sim FROM q CROSS JOIN c WHERE n_id <> q_id), " +
        "ranked AS (SELECT q_id, (n_label = q_label) AS rel, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS r FROM scored), " +
        "d AS (SELECT q_id, list_aggregate(list_transform(list_sort(list({'k': r, 'v': CASE WHEN rel THEN 1.0 / log2(CAST(r + 1 AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END})), s -> s.v), 'sum') AS dcg " +
        "FROM ranked WHERE r <= 5 GROUP BY q_id), " +
        "lc AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY 1), " +
        "nr AS (SELECT q.q_id, lc.n - 1 AS n_rel FROM q JOIN lc ON q.q_label = lc.label), " +
        // left-join from the label side, mirroring ndcgBinary: an
        // empty retrieval scores dcg 0, it does not drop the query row
        "f AS (SELECT nr.q_id, nr.n_rel, coalesce(d.dcg, CAST(0.0 AS DOUBLE)) AS dcg, " +
        "CASE WHEN nr.n_rel >= 1 THEN list_aggregate(list_transform(range(1, least(5, nr.n_rel) + 1), i -> 1.0 / log2(CAST(i + 1 AS DOUBLE))), 'sum') ELSE CAST(0.0 AS DOUBLE) END AS idcg " +
        "FROM nr LEFT JOIN d USING (q_id)) " +
        "SELECT q_id, n_rel, round(dcg, 4) AS dcg, round(idcg, 4) AS idcg, " +
        "CASE WHEN idcg > 0 THEN round(dcg / idcg, 4) END AS ndcg FROM f"),

    "sim_mrr" ->
      ("WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id AS n_id, embedding AS n_vec, label AS n_label FROM embeddings), " +
        s"scored AS (SELECT q_id, n_id, n_label, q_label, ${cosSql("q_vec", "n_vec")} AS sim FROM q CROSS JOIN c WHERE n_id <> q_id), " +
        "ranked AS (SELECT q_id, (n_label = q_label) AS rel, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS r FROM scored), " +
        "fst AS (SELECT q_id, CAST(min(r) AS BIGINT) AS first_rel_rank FROM ranked WHERE rel AND r <= 5 GROUP BY q_id), " +
        "lc AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY 1), " +
        "nr AS (SELECT q.q_id, lc.n - 1 AS n_rel FROM q JOIN lc ON q.q_label = lc.label), " +
        "pq AS (SELECT nr.q_id, nr.n_rel, f.first_rel_rank, " +
        "CASE WHEN nr.n_rel = 0 THEN NULL WHEN f.first_rel_rank IS NULL THEN CAST(0.0 AS DOUBLE) " +
        "ELSE 1.0 / CAST(f.first_rel_rank AS DOUBLE) END AS rr " +
        "FROM nr LEFT JOIN fst f USING (q_id)) " +
        "SELECT q_id, n_rel, first_rel_rank, rr FROM pq " +
        "UNION ALL " +
        "SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(NULL AS BIGINT), " +
        "round(list_aggregate(list_sort(list(rr)), 'sum') / count(*), 4) " +
        "FROM pq WHERE n_rel > 0"),

    "sim_rbo" -> rboSql(k = 5, p = RboP, md = MatryoshkaDims),

    "text_source_overlap" ->
      (s"WITH v AS (SELECT DISTINCT src, w FROM (SELECT source AS src, unnest($wordsSql) AS w FROM documents) t), " +
        "sz AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1), " +
        "i AS (SELECT a.src AS source_a, b.src AS source_b, CAST(count(*) AS BIGINT) AS n_common " +
        "FROM v a JOIN v b ON a.w = b.w AND a.src < b.src GROUP BY 1, 2) " +
        "SELECT sa.src AS source_a, sb.src AS source_b, sa.n AS n_a, sb.n AS n_b, " +
        "coalesce(i.n_common, 0) AS n_common, " +
        "CAST(coalesce(i.n_common, 0) AS DOUBLE) / CAST(sa.n + sb.n - coalesce(i.n_common, 0) AS DOUBLE) AS jaccard " +
        "FROM sz sa JOIN sz sb ON sa.src < sb.src " +
        "LEFT JOIN i ON i.source_a = sa.src AND i.source_b = sb.src"),

    "rel_t_closeness" -> Seq(
      (0, "nation_bal100",
        "c_nationkey, CAST(floor(c_acctbal / 100.0) AS BIGINT)"),
      (1, "nation_bal1000",
        "c_nationkey, CAST(floor(c_acctbal / 1000.0) AS BIGINT)"),
      (2, "nation", "c_nationkey"))
      .map { case (i, name, qi) =>
        Quality.tClosenessSql("customer", i, name, qi, "c_mktsegment",
          TClosenessT)
      }.mkString(" UNION ALL "),

    // label noise: the nb score chain, ROUNDED log-odds compared
    // against the margin (the rounded scores hash-match cross-engine)
    "text_label_noise" ->
      (nbScoredCtes + ", j AS (SELECT sc.doc_id, round(lo, 4) AS log_odds, keep " +
        "FROM sc JOIN g USING (doc_id)) " +
        "SELECT doc_id, log_odds, keep, " +
        s"CASE WHEN keep AND log_odds < -$NoiseMargin THEN 'labeled_pos_scored_neg' " +
        s"WHEN NOT keep AND log_odds > $NoiseMargin THEN 'labeled_neg_scored_pos' END AS noise_kind " +
        "FROM j WHERE (keep AND log_odds < -" + NoiseMargin +
        ") OR (NOT keep AND log_odds > " + NoiseMargin + ")"),

    "rel_kmv_custkeys" ->
      // KMV replay: 60-bit md5-prefix hashes of the distinct values,
      // per-group min-k via a partitioned rank, (k−1)·2^60/h_k with
      // 2^60 planted through a BIGINT cast (never a 19-digit decimal
      // literal), raw doubles end to end
      (s"WITH $kmvCtes, " +
        "km AS (SELECT g, CAST(count(*) AS BIGINT) AS n_kmv, max(h) AS hk FROM kmk GROUP BY g), " +
        "ex AS (SELECT o_orderpriority AS g, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact FROM orders GROUP BY 1), " +
        s"sel AS (SELECT g, n_exact, n_kmv, CASE WHEN n_kmv < $KmvK THEN CAST(n_kmv AS DOUBLE) " +
        s"ELSE (CAST(${KmvK - 1} AS DOUBLE) * CAST(CAST(1152921504606846976 AS BIGINT) AS DOUBLE)) / CAST(hk AS DOUBLE) END AS d_est " +
        "FROM km JOIN ex USING (g)) " +
        "SELECT g AS o_orderpriority, n_exact, n_kmv, d_est, " +
        "(d_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err FROM sel"),

    "rel_kmv_overlap" ->
      (s"WITH $kmvCtes, " +
        "ar AS (SELECT g, list(h ORDER BY h) AS kmv FROM kmk GROUP BY g), " +
        "pr AS (SELECT a.g AS g_a, b.g AS g_b, a.kmv AS ka, b.kmv AS kb FROM ar a JOIN ar b ON a.g < b.g), " +
        s"c AS (SELECT g_a, g_b, ka, kb, list_slice(list_sort(list_distinct(list_concat(ka, kb))), 1, $KmvK) AS m FROM pr), " +
        "s2 AS (SELECT g_a, g_b, CAST(len(ka) AS BIGINT) AS n_a, CAST(len(kb) AS BIGINT) AS n_b, " +
        "CAST(len(list_intersect(list_intersect(m, ka), kb)) AS BIGINT) AS shared_k, " +
        s"least($KmvK, len(m)) AS l, m, " +
        s"CASE WHEN len(m) < $KmvK THEN CAST(len(m) AS DOUBLE) " +
        s"ELSE (CAST(${KmvK - 1} AS DOUBLE) * CAST(CAST(1152921504606846976 AS BIGINT) AS DOUBLE)) / CAST(m[$KmvK] AS DOUBLE) END AS union_est FROM c) " +
        "SELECT g_a, g_b, n_a, n_b, shared_k, " +
        "CAST(shared_k AS DOUBLE) / CAST(l AS DOUBLE) AS jaccard_est, union_est, " +
        "(CAST(shared_k AS DOUBLE) / CAST(l AS DOUBLE)) * union_est AS inter_est FROM s2"),

    "rel_kmv_merged" ->
      // deliberately the DIRECT replay (no shard CTEs): equality with
      // the engine's shard-and-merge output IS the merge-law proof
      (s"WITH $kmvCtes, " +
        "km AS (SELECT g, CAST(count(*) AS BIGINT) AS n_kmv, max(h) AS hk FROM kmk GROUP BY g) " +
        s"SELECT g AS o_orderpriority, n_kmv, CASE WHEN n_kmv < $KmvK THEN CAST(n_kmv AS DOUBLE) " +
        s"ELSE (CAST(${KmvK - 1} AS DOUBLE) * CAST(CAST(1152921504606846976 AS BIGINT) AS DOUBLE)) / CAST(hk AS DOUBLE) END AS d_est " +
        "FROM km"),

    "rel_mad_outliers" ->
      ("WITH m AS (SELECT o_orderpriority AS g, round(quantile_cont(o_totalprice, 0.5), 4) AS med FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1), " +
        "w AS (SELECT o.o_orderpriority AS g, o.o_orderkey, o.o_totalprice, m.med, abs(CAST(o.o_totalprice AS DOUBLE) - m.med) AS ad " +
        "FROM orders o JOIN m ON o.o_orderpriority = m.g WHERE o.o_totalprice IS NOT NULL), " +
        "d AS (SELECT g, round(quantile_cont(ad, 0.5), 4) AS mad FROM w GROUP BY 1) " +
        "SELECT w.g AS o_orderpriority, w.o_orderkey, w.o_totalprice, w.med, d.mad, round(w.ad, 4) AS deviation " +
        s"FROM w JOIN d USING (g) WHERE w.ad > $MadK * d.mad"),

    "rel_benford" -> benfordSql("orders", "o_totalprice"),

    "rel_concentration" -> Seq("source", "lang")
      .map(Quality.concentrationSql("documents", _))
      .mkString(" UNION ALL "),

    "text_unigram_seed" ->
      (s"WITH wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM " +
        s"(SELECT unnest($wordsSql) AS word FROM documents) t " +
        "WHERE length(word) > 0 GROUP BY 1), " +
        "sub AS (SELECT substr(word, i, l) AS piece, freq FROM wf, " +
        "LATERAL (SELECT unnest(range(1, length(word) + 1)) AS i) a, " +
        s"LATERAL (SELECT unnest(range(1, least($UnigramMaxPieceLen, length(word) - i + 1) + 1)) AS l) b) " +
        "SELECT piece, CAST(sum(freq) AS BIGINT) AS n FROM sub GROUP BY 1"),

    "text_unigram_tokenize" ->
      ("SELECT doc_id, n_pieces, pieces_sig FROM " +
        s"(${unigramTokenizeSql(UnigramPieces, UnigramMaxPieceLen)}) t"),

    "text_unigram_ids" -> {
      val vocab = Unigram.vocabulary(UnigramPieces)
      val entries = vocab.toSeq.sortBy(_._1)
        .map { case (p, i) => s"'$p': $i" }.mkString(", ")
      s"SELECT doc_id, n_pieces, " +
        "CAST(len(list_filter(ids, i -> i = -1)) AS BIGINT) AS n_oov, " +
        "md5(array_to_string(list_transform(ids, i -> CAST(i AS VARCHAR)), ',')) AS ids_sig " +
        s"FROM (SELECT doc_id, n_pieces, list_transform(pieces, p -> " +
        s"coalesce((MAP {$entries})[p][1], -1)) AS ids " +
        s"FROM (${unigramTokenizeSql(UnigramPieces, UnigramMaxPieceLen)}) tt) ii"
    },

    "text_wordpiece_pairs" ->
      (s"WITH wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM " +
        s"(SELECT unnest($wordsSql) AS word FROM documents) t " +
        "WHERE length(word) > 0 GROUP BY 1), " +
        "sy AS (SELECT word, freq, i, CASE WHEN i = 1 THEN substr(word, 1, 1) " +
        "ELSE '##' || substr(word, i, 1) END AS s FROM wf, " +
        "LATERAL (SELECT unnest(range(1, length(word) + 1)) AS i) a), " +
        "sc AS (SELECT s, CAST(sum(freq) AS BIGINT) AS ns FROM sy GROUP BY 1), " +
        "pr AS (SELECT x.s AS a, y.s AS b, CAST(sum(x.freq) AS BIGINT) AS n_pair " +
        "FROM sy x JOIN sy y ON x.word = y.word AND y.i = x.i + 1 GROUP BY 1, 2) " +
        "SELECT p.a, p.b, p.n_pair, ca.ns AS n_a, cb.ns AS n_b, " +
        "CAST(p.n_pair AS DOUBLE) / (CAST(ca.ns AS DOUBLE) * CAST(cb.ns AS DOUBLE)) AS score " +
        "FROM pr p JOIN sc ca ON p.a = ca.s JOIN sc cb ON p.b = cb.s"),

    "text_wordpiece_tokenize" ->
      ("SELECT doc_id, n_pieces, n_unk, pieces_sig FROM " +
        s"(${wordpieceTokenizeSql(WordPieceVocab)}) t"),

    "text_wordpiece_ids" -> {
      val vocab = WordPiece.vocabulary(WordPieceVocab)
      val entries = vocab.toSeq.sortBy(_._1)
        .map { case (p, i) => s"'${p.replace("'", "''")}': $i" }
        .mkString(", ")
      s"SELECT doc_id, n_pieces, n_unk, " +
        "md5(array_to_string(list_transform(ids, i -> CAST(i AS VARCHAR)), ',')) AS ids_sig " +
        s"FROM (SELECT doc_id, n_pieces, n_unk, list_transform(pieces, p -> " +
        s"(MAP {$entries})[p][1]) AS ids " +
        s"FROM (${wordpieceTokenizeSql(WordPieceVocab)}) tt) ii"
    },

    "text_tokenizer_report" -> {
      val base = "(SELECT CAST(count(*) AS BIGINT) AS nw, " +
        "CAST(sum(length(w)) AS BIGINT) AS nc FROM " +
        s"(SELECT unnest($wordsSql) AS w FROM documents) t) b"
      def row(flavor: String, sub: String) =
        s"SELECT '$flavor' AS flavor, n_docs, total_pieces, " +
          "CAST(total_pieces AS DOUBLE) / CAST(nw AS DOUBLE) AS pieces_per_word, " +
          "CAST(nc AS DOUBLE) / CAST(total_pieces AS DOUBLE) AS chars_per_piece " +
          s"FROM ($sub) q, $base"
      row("whitespace",
        s"SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
          s"CAST(sum(len($wordsSql)) AS BIGINT) AS total_pieces FROM documents") +
        " UNION ALL " +
        row("bpe",
          "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
            "CAST(sum(n_tokens) AS BIGINT) AS total_pieces FROM " +
            s"(${bpeTokenizeSql(BpeMergeCount)}) bb") +
        " UNION ALL " +
        row("unigram",
          "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
            "CAST(sum(n_pieces) AS BIGINT) AS total_pieces FROM " +
            s"(${unigramTokenizeSql(UnigramPieces, UnigramMaxPieceLen)}) uu") +
        " UNION ALL " +
        row("wordpiece",
          "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
            "CAST(sum(n_pieces) AS BIGINT) AS total_pieces FROM " +
            s"(${wordpieceTokenizeSql(WordPieceVocab)}) ww")
    }
  )

  /** Mirrors Unigram.tokenize under the frozen piece table: a
    * recursive-CTE Viterbi over the DISTINCT corpus words (DP forward
    * pass accumulating best-score and back-pointer lists, struct-max
    * with the same longest-piece tie-break, then a backtrack CTE),
    * re-assembled per document in word order. Piece log-probs plant
    * as CAST('…' AS DOUBLE) map values; unknown single chars at
    * Unigram.UnkLogp, absent multi-char pieces at −1e18. */
  private def unigramTokenizeSql(pieces: Seq[Unigram.Piece],
      maxPieceLen: Int): String = {
    val entries = pieces.map(p =>
      s"'${p.piece}': CAST('${p.logp}' AS DOUBLE)").mkString(", ")
    val m = s"MAP {$entries}"
    val unk = s"CAST('${Unigram.UnkLogp}' AS DOUBLE)"
    s"WITH RECURSIVE w AS (SELECT doc_id, $wordsSql AS ws FROM documents), " +
      "seq AS (SELECT doc_id, unnest(ws) AS word, unnest(range(len(ws))) AS pos FROM w), " +
      "dw AS (SELECT DISTINCT word FROM seq WHERE length(word) > 0), " +
      "dp AS (" +
      "SELECT word, 0 AS j, [CAST(0.0 AS DOUBLE)] AS best, [0] AS back FROM dw " +
      "UNION ALL " +
      "SELECT dp.word, dp.j + 1, list_append(dp.best, c.sc), list_append(dp.back, c.bi) " +
      "FROM dp, LATERAL (" +
      "SELECT max(st).s AS sc, -(max(st).mi) AS bi FROM (" +
      "SELECT {'s': dp.best[i + 1] + CASE WHEN dp.j + 1 - i = 1 " +
      s"THEN coalesce(($m)[substr(dp.word, i + 1, 1)][1], $unk) " +
      s"ELSE coalesce(($m)[substr(dp.word, i + 1, dp.j + 1 - i)][1], CAST(-1e18 AS DOUBLE)) END, " +
      "'mi': -i} AS st " +
      s"FROM (SELECT unnest(range(greatest(0, dp.j + 1 - $maxPieceLen), dp.j + 1)) AS i) t) u) c " +
      "WHERE dp.j < length(dp.word)), " +
      "fin AS (SELECT word, back FROM dp WHERE j = length(word)), " +
      "bt AS (" +
      "SELECT word, length(word) AS k, back, CAST([] AS VARCHAR[]) AS pieces FROM fin " +
      "UNION ALL " +
      "SELECT word, back[k + 1] AS k, back, " +
      "list_prepend(substr(word, back[k + 1] + 1, k - back[k + 1]), pieces) " +
      "FROM bt WHERE k > 0), " +
      "seg AS (SELECT word, pieces FROM bt WHERE k = 0), " +
      "doc AS (SELECT s.doc_id, flatten(list(sg.pieces ORDER BY s.pos)) AS pieces " +
      "FROM seq s JOIN seg sg USING (word) GROUP BY s.doc_id) " +
      "SELECT doc_id, pieces, CAST(len(pieces) AS BIGINT) AS n_pieces, " +
      "md5(array_to_string(pieces, ' ')) AS pieces_sig FROM doc"
  }

  /** Mirrors TextAnalysis.winnowFingerprints (k = WinnowK,
    * w = WinnowW): k-gram md5 arrays per doc, per-window rightmost
    * minimum via `len − list_position(reversed window, min)` (the
    * exact formulation the engine uses — array_position over the
    * reversed slice), short-doc whole-array window, list_distinct.
    * Ends at CTE `wfe` = (doc_id, n_windows, fpos, fp). */
  /** Shared KMV CTEs: distinct (priority, 60-bit custkey hash) +
    * per-group min-k rows (the kmvSketch replay). Ends at CTE `kmk`
    * = (g, h) with rank ≤ KmvK. */
  private def kmvCtes: String =
    "kh AS (SELECT DISTINCT o_orderpriority AS g, " +
      "CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM orders), " +
      "kmk AS (SELECT g, h FROM (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM kh) r " +
      s"WHERE rn <= $KmvK)"

  private val winnowCtes: String = winnowCtesFor("", "TRUE")

  /** [[winnowCtes]] over a filtered doc subset with prefixed CTE
    * names, so one oracle can instantiate it twice (corpus +
    * arrivals — the incremental query). */
  private def winnowCtesFor(p: String, where: String): String = {
    val k = WinnowK
    val w = WinnowW
    s"${p}wd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE $where), " +
      s"${p}wh AS (SELECT doc_id, CASE WHEN len(ws) >= $k THEN " +
      s"list_transform(range(0, len(ws) - ${k - 1}), i -> md5(array_to_string(list_slice(ws, i + 1, i + $k), ' '))) " +
      s"ELSE [] END AS hs FROM ${p}wd), " +
      // selections travel as 'fpos:fp' strings: this DuckDB's
      // list_distinct cannot histogram STRUCT lists (md5 hex has no
      // ':', so the encoding is unambiguous)
      s"${p}wsel AS (SELECT doc_id, len(hs) AS n_windows, list_distinct(CASE " +
      s"WHEN len(hs) >= $w THEN list_transform(range(0, len(hs) - ${w - 1}), " +
      s"j -> CAST(j + $w - list_position(list_reverse(list_slice(hs, j + 1, j + $w)), list_min(list_slice(hs, j + 1, j + $w))) AS VARCHAR) || ':' || list_min(list_slice(hs, j + 1, j + $w))) " +
      "WHEN len(hs) >= 1 THEN [CAST(len(hs) - list_position(list_reverse(hs), list_min(hs)) AS VARCHAR) || ':' || list_min(hs)] " +
      s"ELSE [] END) AS fps FROM ${p}wh), " +
      s"${p}wfu AS (SELECT doc_id, n_windows, unnest(fps) AS s FROM ${p}wsel), " +
      s"${p}wfe AS (SELECT doc_id, n_windows, CAST(split_part(s, ':', 1) AS BIGINT) AS fpos, split_part(s, ':', 2) AS fp FROM ${p}wfu)"
  }

  /** Mirrors WordPiece.tokenize under the frozen vocabulary: a
    * recursive-CTE greedy longest-match march over the DISTINCT
    * corpus words (state = (word, offset, pieces); each step a
    * struct-max over candidate lengths probing the vocab MAP —
    * longest match wins, continuations probe with the '##' prefix; a
    * step with NO match jumps the offset to the end with pieces =
    * ['[UNK]'], the all-or-nothing BERT contract), re-assembled per
    * document in word order. */
  private def wordpieceTokenizeSql(vocab: Seq[String]): String = {
    val entries = vocab
      .map(p => s"'${p.replace("'", "''")}': 1").mkString(", ")
    val m = s"MAP {$entries}"
    val (maxInit, maxCont) = WordPiece.probeBounds(vocab)
    s"WITH RECURSIVE w AS (SELECT doc_id, $wordsSql AS ws FROM documents), " +
      "seq AS (SELECT doc_id, unnest(ws) AS word, unnest(range(len(ws))) AS pos FROM w), " +
      "dw AS (SELECT DISTINCT word FROM seq WHERE length(word) > 0), " +
      "gm AS (" +
      "SELECT word, 0 AS off, CAST([] AS VARCHAR[]) AS pieces FROM dw " +
      "UNION ALL " +
      "SELECT gm.word, " +
      "CASE WHEN c.len IS NULL THEN length(gm.word) ELSE gm.off + c.len END AS off, " +
      "CASE WHEN c.len IS NULL THEN ['[UNK]'] ELSE list_append(gm.pieces, c.piece) END AS pieces " +
      "FROM gm, LATERAL (" +
      "SELECT max(st).l AS len, max(st).p AS piece FROM (" +
      s"SELECT CASE WHEN ($m)[CASE WHEN gm.off = 0 THEN substr(gm.word, 1, t.l) " +
      "ELSE '##' || substr(gm.word, gm.off + 1, t.l) END][1] IS NOT NULL " +
      "THEN {'l': t.l, 'p': CASE WHEN gm.off = 0 THEN substr(gm.word, 1, t.l) " +
      "ELSE '##' || substr(gm.word, gm.off + 1, t.l) END} END AS st " +
      s"FROM (SELECT unnest(range(1, least(CASE WHEN gm.off = 0 THEN $maxInit " +
      s"ELSE $maxCont END, length(gm.word) - gm.off) + 1)) AS l) t) u) c " +
      "WHERE gm.off < length(gm.word)), " +
      "fin AS (SELECT word, pieces FROM gm WHERE off = length(word)), " +
      "doc AS (SELECT s.doc_id, flatten(list(f.pieces ORDER BY s.pos)) AS pieces " +
      "FROM seq s JOIN fin f USING (word) GROUP BY s.doc_id) " +
      "SELECT doc_id, pieces, CAST(len(pieces) AS BIGINT) AS n_pieces, " +
      "CAST(len(list_filter(pieces, p -> p = '[UNK]')) AS BIGINT) AS n_unk, " +
      "md5(array_to_string(pieces, ' ')) AS pieces_sig FROM doc"
  }

  /** Mirrors Quality.benfordReport: integer-rendered first digit,
    * CAST('…' AS DOUBLE) Benford probabilities, (n−e)·(n−e)/e terms,
    * psi-style −1 total row with the ordered fold. */
  private def benfordSql(table: String, c: String): String = {
    val pCase = (1 to 9).map { d =>
      s"WHEN $d THEN CAST('${math.log10(1.0 + 1.0 / d)}' AS DOUBLE)"
    }.mkString(" ")
    s"WITH src AS (SELECT abs(CAST($c AS DOUBLE)) AS v FROM $table " +
      s"WHERE $c IS NOT NULL AND abs(CAST($c AS DOUBLE)) >= 1.0 " +
      s"AND abs(CAST($c AS DOUBLE)) < 9.0e18), " +
      "cnt AS (SELECT CAST(substr(CAST(CAST(floor(v) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit, " +
      "CAST(count(*) AS BIGINT) AS n FROM src GROUP BY 1), " +
      "spine AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS digit), " +
      "b AS (SELECT s.digit, coalesce(cnt.n, 0) AS n FROM spine s LEFT JOIN cnt USING (digit)), " +
      "t AS (SELECT CAST(sum(n) AS DOUBLE) AS nn, CAST(sum(n) AS BIGINT) AS ntot FROM b), " +
      s"bins AS (SELECT digit, n, CASE digit $pCase END AS p, " +
      s"(CASE digit $pCase END) * t.nn AS e FROM b, t) " +
      "SELECT digit, n, p AS p_expected, e AS n_expected, " +
      "round((CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e, 4) AS chi_term FROM bins " +
      "UNION ALL " +
      "SELECT CAST(-1 AS BIGINT) AS digit, t.ntot AS n, CAST(1.0 AS DOUBLE) AS p_expected, " +
      "t.nn AS n_expected, " +
      "(SELECT round(list_aggregate(list_sort(list(round((CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e, 4))), 'sum'), 4) FROM bins) AS chi_term " +
      "FROM t"
  }

  /** Mirrors Similarity.rboOverlap over the (full-width, matryoshka)
    * leg pair: both ranking CTEs, the closed per-match weight W(m)
    * planted as CAST('…' AS DOUBLE) literals (DuckDB double-rounds
    * bare >16-digit numerics), ordered-fold sum. */
  private def rboSql(k: Int, p: Double, md: Int): String = {
    val wCase = (1 to k).map { m =>
      val v = (m to k).foldLeft(0.0)((acc, d) =>
        acc + (1 - p) * math.pow(p, d - 1) / d)
      s"WHEN $m THEN CAST('$v' AS DOUBLE)"
    }.mkString(" ")
    "WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10), " +
      "c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings), " +
      s"fs AS (SELECT q_id, n_id, ${cosSql("q_vec", "n_vec")} AS sim FROM q CROSS JOIN c WHERE n_id <> q_id), " +
      s"fa AS (SELECT q_id, n_id, r FROM (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS r FROM fs) x WHERE r <= $k), " +
      s"ts AS (SELECT q_id, n_id, ${cosSql(s"q_vec[1:$md]", s"n_vec[1:$md]")} AS sim FROM q CROSS JOIN c WHERE n_id <> q_id), " +
      s"ta AS (SELECT q_id, n_id, r FROM (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS r FROM ts) x WHERE r <= $k), " +
      "mm AS (SELECT fa.q_id, greatest(fa.r, ta.r) AS mx FROM fa JOIN ta ON fa.q_id = ta.q_id AND fa.n_id = ta.n_id), " +
      s"g AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_common, round(list_aggregate(list_sort(list(CASE mx $wCase END)), 'sum'), 4) AS rbo FROM mm GROUP BY q_id) " +
      "SELECT q.q_id, coalesce(g.n_common, 0) AS n_common, coalesce(g.rbo, CAST(0.0 AS DOUBLE)) AS rbo " +
      "FROM q LEFT JOIN g ON q.q_id = g.q_id"
  }

  /** Shared DuckDB postings CTE for the text_index_* oracles: tokens
    * with 0-based positions (parallel unnests zip in DuckDB), then
    * (term, doc) postings with tf — mirrors Retrieval.invertedIndex. */
  private def postingsCte: String =
    s"WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents), " +
      "p AS (SELECT doc_id, unnest(ws) AS term, unnest(range(len(ws))) AS pos FROM w), " +
      "post AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM p GROUP BY 1, 2)"

  /** Mirrors Retrieval.phraseProbe: the flat-positions join chain —
    * p0 anchors, each later word must sit at pos + i in the same doc. */
  private def phraseSql(phrase: Seq[String]): String = {
    val joins = phrase.zipWithIndex.drop(1).map { case (w, i) =>
      s"JOIN p p$i ON p$i.doc_id = p0.doc_id AND p$i.pos = p0.pos + $i " +
        s"AND p$i.term = '$w'"
    }.mkString(" ")
    postingsCte +
      s" SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences " +
      s"FROM p p0 $joins WHERE p0.term = '${phrase.head}' GROUP BY p0.doc_id"
  }

  /** Mirrors Events.attribution: same left-join qualification, same
    * per-conversion windows, the same exact-rational weight CASEs, and
    * the ordered-fold credit sum (list_sort + list_aggregate). */
  private def attributionSql(touches: Seq[String], conv: String,
      lookbackSec: Long): String = {
    val touchList = touches.map(t => s"'$t'").mkString("(", ", ", ")")
    val models = Seq(
      "first_touch" ->
        ("CASE WHEN n = 0 THEN CAST(1.0 AS DOUBLE) " +
          "WHEN rn = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"),
      "last_touch" ->
        ("CASE WHEN n = 0 THEN CAST(1.0 AS DOUBLE) " +
          "WHEN rn = n THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"),
      "linear" ->
        ("CASE WHEN n = 0 THEN CAST(1.0 AS DOUBLE) " +
          "ELSE CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) END"),
      "position" ->
        ("CASE WHEN n = 0 THEN CAST(1.0 AS DOUBLE) " +
          "WHEN n = 1 THEN CAST(1.0 AS DOUBLE) " +
          "WHEN n = 2 THEN CAST(0.5 AS DOUBLE) " +
          "WHEN rn = 1 OR rn = n THEN CAST(0.4 AS DOUBLE) " +
          "ELSE CAST(0.2 AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(2.0 AS DOUBLE)) END"))
    val unpivot = models.map { case (name, w) =>
      "SELECT CASE WHEN tid IS NULL THEN '(none)' ELSE ttype END AS touch_type, " +
        s"'$name' AS model, v * ($w) AS credit FROM st"
    }.mkString(" UNION ALL ")
    s"WITH c AS (SELECT user_id AS u, ts AS cts, event_id AS cid, value AS v " +
      s"FROM events WHERE event_type = '$conv'), " +
      "tch AS (SELECT user_id AS tu, ts AS tts, event_id AS tid, " +
      s"event_type AS ttype FROM events WHERE event_type IN $touchList), " +
      "j AS (SELECT c.u, c.cts, c.cid, c.v, t.tts, t.tid, t.ttype " +
      "FROM c LEFT JOIN tch t ON c.u = t.tu AND t.tts < c.cts " +
      s"AND t.tts >= c.cts - INTERVAL $lookbackSec SECOND), " +
      "st AS (SELECT *, count(tid) OVER (PARTITION BY cid) AS n, " +
      "row_number() OVER (PARTITION BY cid ORDER BY tts, tid) AS rn FROM j), " +
      s"un AS ($unpivot) " +
      "SELECT model, touch_type, CAST(count(*) AS BIGINT) AS n_touches, " +
      "round(list_aggregate(list_sort(list(credit)), 'sum'), 4) AS credit " +
      "FROM un GROUP BY 1, 2"
  }

  /** Mirrors Events.ewmaByKey: the same fixed left-associated lag-term
    * chain with dyadic weight literals (α = .5 ⇒ exact in DECIMAL and
    * DOUBLE alike), one rounded division at the edge. */
  private def ewmaSql(alpha: Double, horizon: Int): String = {
    val inner = "SELECT event_id, user_id, value, " +
      (0 until horizon).map { j =>
        (if (j == 0) "value" else s"lag(value, $j) OVER w") + s" AS l$j"
      }.mkString(", ") +
      " FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
    def weight(j: Int): Double = alpha * math.pow(1.0 - alpha, j)
    val num = (0 until horizon).map(j =>
      s"(CASE WHEN l$j IS NOT NULL THEN CAST(${weight(j)} AS DOUBLE) * l$j " +
        "ELSE CAST(0.0 AS DOUBLE) END)").mkString(" + ")
    val den = (0 until horizon).map(j =>
      s"(CASE WHEN l$j IS NOT NULL THEN CAST(${weight(j)} AS DOUBLE) " +
        "ELSE CAST(0.0 AS DOUBLE) END)").mkString(" + ")
    // den = 0 -> NULL on both engines (the Spark side's guard mirror)
    s"SELECT event_id, user_id, value, " +
      s"CASE WHEN ($den) > 0 THEN round(($num) / ($den), 4) END AS ewma " +
      s"FROM ($inner) t"
  }
}
