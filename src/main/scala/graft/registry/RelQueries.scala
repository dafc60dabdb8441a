package graft
package registry

import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Relational queries (`rel_*`): aggregation, windows, sets, sketches,
  * privacy gates, event analytics and table layout. */
object RelQueries {

  /** The mixture samplers' tail: one output row per epoch 0..n-1 of
    * each doc in `from` (a CTE carrying doc_id, source and n). */
  private def epochRowsSql(from: String): String =
    "SELECT doc_id, source, CAST(t.e AS BIGINT) AS epoch " +
      s"FROM $from, LATERAL (SELECT unnest(range(0, $from.n)) AS e) t WHERE $from.n > 0"

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

  /** Bradley-Terry MM rounds (rel_bradley_terry): 3 rounds over the
    * 25-nation tournament — enough for the ordering to stabilize;
    * the oracle unrolls the same 3 rounds. */
  val BtIters = 3

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

  /** Entity-coherent temporal split (rel_temporal_split): first-seen
    * boundaries inside day 1 of the events span, where user first
    * appearances actually spread (71/40/39 users at sf0.01). */
  val SplitTrainEnd = "2024-01-01 06:00:00"
  val SplitTestStart = "2024-01-01 12:00:00"

  /** t-closeness threshold (rel_t_closeness): TVD > 0.5 flags a class
    * whose segment distribution sits more than half the total
    * variation from the global — small nation/balance classes cross
    * it, whole-nation classes don't, at every SF. */
  val TClosenessT = 0.5

  /** KMV sketch size (rel_kmv_custkeys / rel_kmv_overlap): k = 64
    * (~13% relative error) — small enough that the ~130-distinct
    * groups at sf0.001 already overflow it, so the ESTIMATOR branch
    * (not the exact-small-set branch) is exercised at every SF. */
  val KmvK = 64

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

  /** Sample sizes for the priority-sampling queries: 50 global,
    * 10 per source in the stratified flavor. */
  val PrioritySampleK = 50
  val PrioritySampleGroupK = 10

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
      epochRowsSql("z")
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
      epochRowsSql("n")
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
      epochRowsSql("n")
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

  lazy val all: Seq[Query] = Seq(
    // --- aggregation / union (SURVEY §2.4, §2.7) ---
    Query("rel_location_counts", (s, d) =>
      Relational.taggedKeyCounts(t(s, d, "lineitem"),
        "l_partkey", "pickup_location", "l_suppkey", "dropoff_location"),
      ("SELECT CAST(l_partkey AS BIGINT) AS location_id, count(*) AS trip_count, 'pickup_location' AS aggregation_type FROM lineitem GROUP BY 1 " +
        "UNION ALL SELECT CAST(l_suppkey AS BIGINT), count(*), 'dropoff_location' FROM lineitem GROUP BY 1")),
    Query("rel_pricing_summary", (s, d) =>
      Relational.pricingSummary(t(s, d, "lineitem"), "1999-01-01"),
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_base_price, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, " +
        "round(avg(l_quantity), 4) AS avg_qty, round(avg(l_extendedprice), 4) AS avg_price, round(avg(l_discount), 4) AS avg_disc, count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-01-01' GROUP BY l_returnflag, l_linestatus")),
    Query("rel_rollup", (s, d) =>
      t(s, d, "lineitem").rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty")),
      ("SELECT l_returnflag, l_linestatus, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)")),
    Query("rel_stats_aggs", (s, d) => {
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
    },
      ("SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS median_qty, " +
        "round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price, " +
        "round(stddev_samp(l_quantity), 4) AS sd_qty, " +
        "round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr " +
        "FROM lineitem GROUP BY l_returnflag")),
    Query("rel_grouping_sets", (s, d) =>
      t(s, d, "lineitem").groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty")),
      ("SELECT l_returnflag, l_linestatus, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())")),
    Query("rel_array_ops", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens_ws"),
        array_join(slice(sort_array(array_distinct(
          split(lower(col("text")), " "))), 1, 3), ",").as("first3_sorted"),
        element_at(split(col("text"), " "), 1).as("first_word")),
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws, " +
        "array_to_string(list_sort(list_distinct(string_split(lower(text), ' ')))[1:3], ',') AS first3_sorted, " +
        "string_split(text, ' ')[1] AS first_word FROM documents")),
    Query("rel_regex", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        regexp_extract(col("text"), "([A-Za-z]+)", 1).as("first_alpha"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_numbers"),
        regexp_replace(col("text"), "[aeiou]", "_").as("devoweled")),
      ("SELECT doc_id, regexp_extract(text, '([A-Za-z]+)', 1) AS first_alpha, " +
        "CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers, " +
        "regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled FROM documents")),
    Query("rel_cube", (s, d) =>
      t(s, d, "orders").cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("sum_price")),
      ("SELECT o_orderpriority, o_orderstatus, count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_price " +
        "FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)")),
    Query("rel_pivot_counts", (s, d) =>
      t(s, d, "events").groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "error"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("view"), lit(0L)).as("n_view"),
          coalesce(col("error"), lit(0L)).as("n_error")),
      ("SELECT user_id, count(*) FILTER (WHERE event_type = 'click') AS n_click, " +
        "count(*) FILTER (WHERE event_type = 'view') AS n_view, " +
        "count(*) FILTER (WHERE event_type = 'error') AS n_error FROM events GROUP BY user_id")),
    Query("rel_distinct_counts", (s, d) =>
      t(s, d, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders")),
      "SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps, count(DISTINCT l_orderkey) AS n_orders FROM lineitem"),
    Query("rel_approx_distinct", (s, d) => {
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
    },
      // the sketch queries gate through IN-PLAN tolerance booleans (the
      // estimates themselves are engine-specific; the exact counts and
      // the ≤3σ agreement are not) — every query is oracle-checked
      ("SELECT 'l_partkey' AS key_col, count(DISTINCT l_partkey) AS n_exact, true AS within_tolerance FROM lineitem " +
        "UNION ALL SELECT 'l_orderkey', count(DISTINCT l_orderkey), true FROM lineitem")),
    Query("rel_hll_distinct", (s, d) => {
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
    },
      ("SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact, true AS within_tolerance FROM lineitem GROUP BY 1 " +
        "UNION ALL SELECT 'ALL', count(DISTINCT l_partkey), true FROM lineitem")),
    Query("rel_salted_distinct", (s, d) =>
      Relational.saltedDistinctCount(t(s, d, "lineitem"),
        "l_returnflag", "l_partkey", 8),
      "SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct FROM lineitem GROUP BY l_returnflag"),
    Query("rel_zorder_skip", (s, d) => {
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
      // ordinal sort) — construct them concurrently
      val Seq(wz, wp, wa) = Checkpoints.parEager(
        () => witness("zorder", z +: tie),
        () => witness("px_sort", col("px") +: tie),
        () => witness("arrival", tie))
      wz.unionByName(wp).unionByName(wa)
    },
      (zoneSkipSql("zorder",
          Layout.zorderSql("px", "sy", ZorderBits) + ", l_orderkey, l_linenumber") +
        " UNION ALL " +
        zoneSkipSql("px_sort", "px, l_orderkey, l_linenumber") +
        " UNION ALL " +
        zoneSkipSql("arrival", "l_orderkey, l_linenumber"))),
    Query("rel_bloom_skip", (s, d) => {
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
    },
      // rel_bloom_skip oracle: probes, bucket rank formula, truth
      // membership and zone-map scan counts all replay exactly (the
      // zoneSkipSql conventions); the two bloom verdicts are literal
      // true — no-false-negatives is the filter's hard guarantee, and
      // the fp margin is the tolerance-boolean convention
      ("WITH o AS (SELECT o_orderkey, o_custkey FROM orders), " +
        s"p AS (SELECT o_custkey AS probe FROM o GROUP BY 1 ORDER BY count(*), o_custkey LIMIT $BloomProbeCount), " +
        s"b AS (SELECT o_custkey, ((row_number() OVER (ORDER BY o_orderkey) - 1) * $BloomBuckets) // (SELECT count(*) FROM o) AS bucket FROM o), " +
        "t AS (SELECT p.probe, count(DISTINCT b.bucket) AS tb FROM p JOIN b ON b.o_custkey = p.probe GROUP BY 1), " +
        "z AS (SELECT bucket, min(o_custkey) AS mn, max(o_custkey) AS mx FROM b GROUP BY 1), " +
        "zc AS (SELECT p.probe, count(*) AS zb FROM p JOIN z ON z.mn <= p.probe AND p.probe <= z.mx GROUP BY 1) " +
        "SELECT p.probe AS o_custkey, t.tb AS truth_buckets, zc.zb AS zone_scan_buckets, " +
        "true AS no_false_negatives, true AS bloom_tight " +
        "FROM p JOIN t ON t.probe = p.probe JOIN zc ON zc.probe = p.probe")),
    Query("rel_zorder3_skip", (s, d) => {
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
    },
      (zone3SkipSql("zorder3",
          Layout.zorderSqlN(Seq("px", "sy", "ln"), Zorder3Bits) +
            ", l_orderkey, l_linenumber") +
        " UNION ALL " +
        zone3SkipSql("arrival", "l_orderkey, l_linenumber"))),
    Query("rel_quality_verdicts", (s, d) =>
      // Deequ-shaped constraint suite: 7 named constraints = ONE
      // aggregate pass over events (QualitySpec pins the single-scan
      // plan); every metric exact-integer/decimal-derived so the
      // verdict row set is bit-deterministic cross-engine
      Quality.check(t(s, d, "events"), qualitySuite),
      // quality-gate oracles: generated from the SAME suite object the
      // Spark query runs (Quality.checkSql/profileSql), so the constraint
      // list can never drift between engines
      Quality.checkSql("events", qualitySuite, qualityMetricsSql)),
    Query("rel_quality_profile", (s, d) =>
      // discovery half: per-column null/distinct/min/max/completeness
      // in one scan, long format
      Quality.profile(t(s, d, "orders"), QualityProfileCols),
      Quality.profileSql("orders", QualityProfileCols)),
    Query("rel_quality_profile_merged", (s, d) => {
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
    },
      // exact fields replay the full-table profile (shards partition
      // the table, merges are lossless); the sketch estimate is the
      // pinned tolerance boolean
      ("SELECT \"column\", n_rows, n_nulls, completeness, min_value, " +
        "max_value, true AS distinct_within_tolerance FROM (" +
        Quality.profileSql("orders", QualityProfileCols) + ")")),
    Query("rel_quality_orphans", (s, d) => {
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
    },
      ("SELECT 'intact' AS leg, * FROM (" +
        Quality.orphanRateSql("lineitem", "l_orderkey",
          "orders", "o_orderkey") + ") UNION ALL " +
        "SELECT 'broken' AS leg, * FROM (" +
        Quality.orphanRateSql(
          "(SELECT CASE WHEN l_orderkey % 3 = 0 " +
            "THEN l_orderkey + 100000000 ELSE l_orderkey END " +
            "AS l_orderkey FROM lineitem)",
          "l_orderkey", "orders", "o_orderkey") + ")")),
    Query("rel_quality_embeddings", (s, d) =>
      // embedding-health gate: presence, key uniqueness, dims, NaN,
      // zero-norm — one pass over the vectors; the unit-norm
      // constraint is the deliberate failure (iid components)
      Quality.check(t(s, d, "embeddings"), embQualitySuite),
      Quality.checkSql("embeddings", embQualitySuite, embQualityMetricsSql)),
    Query("rel_quality_psi", (s, d) => {
      // distribution-drift monitor: PSI of o_totalprice against a
      // ×1.1-shifted derivation over fixed literal bin edges — per-bin
      // terms plus the bin=-1 ordered-fold total
      val orders = t(s, d, "orders")
      Quality.psi(orders,
        orders.select((col("o_totalprice") * lit(1.1))
          .as("o_totalprice")),
        "o_totalprice", PsiEdges)
    },
      Quality.psiSql("orders",
        "(SELECT o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice " +
          "FROM orders) shifted",
        "o_totalprice", PsiEdges)),
    Query("rel_quality_js", (s, d) => {
      // the bounded (≤ ln 2) symmetric drift companion to PSI: JSD on
      // the same fixture, bins, smoothing, and bin=-1 total — PSI
      // alarms (it explodes as a bin empties), JSD trends
      val orders = t(s, d, "orders")
      Quality.jsDivergence(orders,
        orders.select((col("o_totalprice") * lit(1.1))
          .as("o_totalprice")),
        "o_totalprice", PsiEdges)
    },
      Quality.jsSql("orders",
        "(SELECT o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice " +
          "FROM orders) shifted",
        "o_totalprice", PsiEdges)),
    Query("rel_quality_psi_grouped", (s, d) => {
      // the stratified drift watch: same shift, PSI per order status —
      // a global PSI can read stable while one stratum drifts
      val orders = t(s, d, "orders")
      Quality.psiByGroup(orders,
        orders.select(col("o_orderstatus"),
          (col("o_totalprice") * lit(1.1)).as("o_totalprice")),
        "o_totalprice", "o_orderstatus", PsiEdges)
    },
      Quality.psiByGroupSql("orders",
        "(SELECT o_orderstatus, o_totalprice * CAST(1.1 AS DOUBLE) " +
          "AS o_totalprice FROM orders) shifted",
        "o_totalprice", "o_orderstatus", PsiEdges)),
    Query("rel_quality_drift", (s, d) => {
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
    },
      Quality.profileDiffSql(
        Quality.profileSql("orders", QualityProfileCols),
        Quality.profileSql(qualityDriftedSql, QualityProfileCols),
        QualityNullJump, QualityCardJump)),
    Query("rel_approx_quantiles", (s, d) => {
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
    },
      ("SELECT l_returnflag, count(*) AS n_rows, true AS within_tolerance " +
        "FROM lineitem GROUP BY 1")),
    Query("rel_conditional_agg", (s, d) =>
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
            .as("avg_open_price")),
      ("SELECT o_orderpriority, count(*) FILTER (WHERE o_totalprice > 150000) AS n_big, " +
        "bool_or(o_orderstatus = 'F') AS any_f, bool_and(o_totalprice > 0) AS all_positive, " +
        "(max({'p': o_totalprice, 'k': o_orderkey})).k AS best_key, " +
        "round(avg(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS avg_open_price " +
        "FROM orders GROUP BY o_orderpriority")),
    // --- projection / filter / scalar functions (§2.2, §2.8) ---
    Query("rel_filter_project", (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity").between(10, 20) && col("l_returnflag") === "R")
        // raw double product: bit-identical in Spark and DuckDB (no
        // summation-order noise per-row), whereas round() diverges on
        // .xx5 ties (Spark shortest-decimal HALF_UP vs binary rounding)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("net_price")),
      ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice * (1 - l_discount) AS net_price " +
        "FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag = 'R'")),
    Query("rel_null_repair", (s, d) =>
      t(s, d, "events").select(col("event_id"),
        date_format(coalesce(col("ts"), to_timestamp(lit("2024-01-01"))),
          "yyyy-MM-dd HH:mm:ss").as("ts_fixed"),
        col("ts").isNull.as("was_null")),
      ("SELECT event_id, strftime(coalesce(ts, TIMESTAMP '2024-01-01'), '%Y-%m-%d %H:%M:%S') AS ts_fixed, ts IS NULL AS was_null FROM events")),
    Query("rel_scalar_docs", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        upper(substring(col("text"), 1, 12)).as("head_upper"),
        concat(col("source"), lit("_"), col("lang")).as("src_lang"),
        md5(col("text")).as("text_md5"),
        round(sqrt(col("n_chars")), 4).as("sqrt_chars")),
      ("SELECT doc_id, upper(substr(text, 1, 12)) AS head_upper, source || '_' || lang AS src_lang, md5(text) AS text_md5, " +
        "round(sqrt(n_chars), 4) AS sqrt_chars FROM documents")),
    Query("rel_scalar_events", (s, d) =>
      t(s, d, "events").select(col("event_id"),
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        (weekday(col("ts")) + 1).cast("long").as("isodow"),
        get_json_object(col("props"), "$.k").cast("long").as("json_k"),
        round(sqrt(col("value")), 4).as("sqrt_value")),
      ("SELECT event_id, year(ts) AS y, month(ts) AS m, isodow(ts) AS isodow, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS json_k, round(sqrt(value), 4) AS sqrt_value FROM events")),
    Query("rel_string_pad", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        lpad(col("source"), 8, "*").as("src_lpad"),
        rpad(col("lang"), 5, "-").as("lang_rpad"),
        translate(col("source"), "aeiou", "AEIOU").as("src_upvowel"),
        reverse(col("source")).as("src_rev"),
        repeat(col("lang"), 3).as("lang_x3")),
      ("SELECT doc_id, lpad(source, 8, '*') AS src_lpad, rpad(lang, 5, '-') AS lang_rpad, " +
        "translate(source, 'aeiou', 'AEIOU') AS src_upvowel, reverse(source) AS src_rev, " +
        "repeat(lang, 3) AS lang_x3 FROM documents")),
    Query("rel_bitwise", (s, d) =>
      t(s, d, "events").select(col("event_id"),
        col("event_id").bitwiseAND(lit(255L)).as("lo8"),
        col("event_id").bitwiseOR(lit(4096L)).as("with_bit12"),
        col("event_id").bitwiseXOR(col("user_id")).as("xored"),
        shiftleft(col("event_id"), 2).as("shl2"),
        shiftright(col("event_id"), 3).as("shr3"),
        bitwise_not(col("event_id")).as("inverted")),
      ("SELECT event_id, event_id & 255 AS lo8, event_id | 4096 AS with_bit12, " +
        "xor(event_id, user_id) AS xored, event_id << 2 AS shl2, event_id >> 3 AS shr3, " +
        "~event_id AS inverted FROM events")),
    // --- generators / higher-order functions / reshaping (§2.8, §2.10) ---
    Query("rel_explode_words", (s, d) =>
      // generator surface: posexplode of a bounded slice — the lateral-
      // view shape; the slice caps fan-out at 5 rows per doc
      t(s, d, "documents")
        .select(col("doc_id"), posexplode(slice(split(col("text"), " "), 1, 5)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("word")),
      ("SELECT doc_id, CAST(t.i AS BIGINT) AS pos, t.word FROM documents, " +
        "LATERAL (SELECT unnest(string_split(text, ' ')[1:5]) AS word, " +
        "unnest(range(0, least(len(string_split(text, ' ')), 5))) AS i) t")),
    Query("rel_higher_order", (s, d) => {
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
    },
      // length() (chars) on both sides — strlen (bytes) would diverge
      // from Spark's length() on any multibyte character
      ("SELECT doc_id, " +
        "CAST(len(list_filter(string_split(lower(text), ' '), x -> length(x) > 5)) AS BIGINT) AS n_long_words, " +
        "list_contains(string_split(lower(text), ' '), 'the') AS has_the, " +
        "CAST(list_aggregate(list_transform(string_split(lower(text), ' '), x -> length(x)), 'sum') AS BIGINT) AS total_chars, " +
        "CAST(list_max(list_transform(string_split(lower(text), ' '), x -> length(x))) AS BIGINT) AS max_word_len " +
        "FROM documents")),
    Query("rel_unpivot", (s, d) =>
      // wide→long melt: one output row per (row, measure); Catalyst
      // plans Expand (no shuffle, no join against a measure table)
      t(s, d, "lineitem").unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "value"),
      ("SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem")),
    // --- sorts / limits / window functions (§2.5, §2.6) ---
    Query("rel_topk_users", (s, d) =>
      Relational.topKByCount(t(s, d, "events"), "user_id", 10),
      "SELECT user_id, count(*) AS n FROM events GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10"),
    Query("rel_heavy_hitters", (s, d) =>
      // bounded-state exact heavy hitters: md5-bucket prefilter +
      // exact recount of candidates. minCount 80 sits INSIDE the
      // per-user count range (60-86) and above the 256-bucket average
      // (~39), so the prefilter genuinely drops buckets and the
      // surviving set is non-trivial; the oracle replays buckets,
      // recount and the in-plan capture boolean verbatim
      Relational.heavyHitters(t(s, d, "events"), "user_id",
        minCount = 80, nBuckets = 256),
      ("WITH k AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events), " +
        "b AS (SELECT key, CAST('0x' || substr(md5(key), 1, 15) AS BIGINT) % 256 AS bucket FROM k), " +
        "bc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS bucket_n FROM b GROUP BY 1 HAVING count(*) >= 80), " +
        "c AS (SELECT b.key, CAST(count(*) AS BIGINT) AS n_exact, min(bc.bucket_n) AS bucket_n " +
        "FROM b JOIN bc USING (bucket) GROUP BY 1 HAVING count(*) >= 80) " +
        "SELECT key, n_exact, bucket_n, bucket_n >= n_exact AS within_bound FROM c")),
    Query("rel_batch_slice", (s, d) =>
      // scalable ordinal (range-partitioned sort + per-partition offsets)
      // instead of ordinalSlice's global row_number window — same result
      // (RelationalSpec proves ordinal equality), but no single-partition
      // WindowExec; columns pruned before the sort
      Relational.withScalableOrdinal(
          t(s, d, "events").select(col("event_id"), col("ts")),
          Seq(col("ts"), col("event_id")))
        .filter(col("row_num").between(101, 200))
        .select(col("event_id"), col("row_num")),
      ("SELECT event_id, row_num FROM (SELECT event_id, CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS row_num FROM events) t " +
        "WHERE row_num BETWEEN 101 AND 200")),
    Query("rel_scalar_subquery", (s, d) => {
      // scalar-subquery shape: the single-row aggregate broadcasts and
      // every probe row compares against it — no shuffle of orders
      val o = t(s, d, "orders")
      val avgP = o.agg(avg(col("o_totalprice")).as("__avg"))
      o.join(broadcast(avgP)).filter(col("o_totalprice") > col("__avg"))
        .select(col("o_orderkey"), col("o_totalprice"))
    },
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)")),
    Query("rel_sql_q3", (s, d) => {
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
    },
      ("SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "strftime(o_orderdate, '%Y-%m-%d') AS orderdate_s, o_orderpriority " +
        "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01' " +
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority ORDER BY revenue DESC, l_orderkey LIMIT 10")),
    Query("rel_try_errors", (s, d) =>
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
        get_json_object(col("props"), "$.missing").isNull.as("missing_key")),
      ("SELECT event_id, CAST(TRY_CAST(CASE WHEN event_id % 10 = 0 THEN event_type " +
        "ELSE CAST(event_id AS VARCHAR) END AS INT) AS BIGINT) AS mixed_cast, " +
        "CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT) AS BIGINT) AS json_k_int, " +
        "value / nullif(user_id % 3, 0) AS safe_div, " +
        "json_extract_string(props, '$.missing') IS NULL AS missing_key FROM events")),
    // --- null semantics / date math (§2.8 hard corners) ---
    Query("rel_null_semantics", (s, d) =>
      t(s, d, "events").select(col("event_id"),
        (col("props") <=> lit(null)).as("props_is_null_safe"),
        nullif(col("event_type"), lit("error")).as("type_or_null"),
        nvl2(col("ts"), lit("has_ts"), lit("no_ts")).as("ts_flag")),
      ("SELECT event_id, props IS NOT DISTINCT FROM NULL AS props_is_null_safe, " +
        "nullif(event_type, 'error') AS type_or_null, " +
        "CASE WHEN ts IS NOT NULL THEN 'has_ts' ELSE 'no_ts' END AS ts_flag FROM events")),
    Query("rel_date_math", (s, d) =>
      t(s, d, "orders").select(col("o_orderkey"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("due_30d"),
        datediff(to_date(lit("2025-01-01")), col("o_orderdate")).cast("long")
          .as("age_days"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd")
          .as("quarter_start")),
      ("SELECT o_orderkey, strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_30d, " +
        "datediff('day', CAST(o_orderdate AS DATE), DATE '2025-01-01') AS age_days, " +
        "strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end, " +
        "strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start FROM orders")),
    // --- set operations (§2.7) ---
    Query("rel_set_nations", (s, d) => {
      val cn = t(s, d, "customer").select(col("c_nationkey").as("nationkey")).distinct()
      val sn = t(s, d, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
      cn.intersect(sn).withColumn("tag", lit("both"))
        .unionByName(cn.except(sn).withColumn("tag", lit("cust_only")))
    },
      ("SELECT nationkey, 'both' AS tag FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer INTERSECT SELECT DISTINCT s_nationkey FROM supplier) a " +
        "UNION ALL SELECT nationkey, 'cust_only' FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer EXCEPT SELECT DISTINCT s_nationkey FROM supplier) b")),
    Query("rel_set_all", (s, d) => {
      val cheap = t(s, d, "lineitem").filter(col("l_quantity") < 3)
        .select(col("l_suppkey").as("k"))
      val ret = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_suppkey").as("k"))
      cheap.exceptAll(ret).groupBy(col("k")).agg(count(lit(1)).as("n"))
    },
      ("SELECT k, count(*) AS n FROM (" +
        "SELECT l_suppkey AS k FROM lineitem WHERE l_quantity < 3 " +
        "EXCEPT ALL SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R') t GROUP BY k")),
    Query("rel_cap_per_key", (s, d) =>
      Relational.capPerKey(t(s, d, "events"), "user_id",
          Seq(col("ts"), col("event_id")), 5)
        .select(col("event_id"), col("user_id"), col("rn")),
      ("SELECT event_id, user_id, rn FROM (SELECT event_id, user_id, " +
        "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn " +
        "FROM events) t WHERE rn <= 5")),
    Query("rel_resample_ffill", (s, d) =>
      // portable flavor: the oracle's list_sort+list_aggregate fold is
      // bit-identical; the algebraic resampleFfill is the scale default
      // (spec proves 1e-9 agreement)
      Relational.resampleFfillPortable(t(s, d, "events"), "user_id",
        "ts", "event_id", "value", 86400L),
      ("WITH e AS (SELECT user_id, event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec, value FROM events WHERE ts IS NOT NULL AND value IS NOT NULL), " +
        "s AS (SELECT user_id, sec - sec % 86400 AS slot, " +
        "list_aggregate(list_transform(list_sort(list({'k': event_id, 'v': CAST(value AS DOUBLE)})), r -> r.v), 'sum') / count(*) AS v FROM e GROUP BY 1, 2), " +
        "b AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM s GROUP BY 1), " +
        "g AS (SELECT user_id, unnest(range(lo, hi + 86400, 86400)) AS slot FROM b), " +
        "j AS (SELECT g.user_id, g.slot, s.v FROM g LEFT JOIN s ON g.user_id = s.user_id AND g.slot = s.slot) " +
        "SELECT user_id, strftime(make_timestamp(slot * 1000000), '%Y-%m-%d %H:%M:%S') AS slot_ts, v, " +
        "last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY slot ROWS UNBOUNDED PRECEDING) AS v_ffill FROM j")),
    Query("rel_hash_split", (s, d) =>
      Relational.deterministicSplit(t(s, d, "documents"), "doc_id")
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs")),
      ("SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split, count(*) AS n_docs " +
        "FROM (SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 AS b FROM documents) t " +
        "GROUP BY 1")),
    Query("rel_mixture_sample", (s, d) =>
      // weighted mixture with UP-sampling: src0 replays 2.5× (every
      // row twice + the deterministic half a third time), src1 keeps
      // 40%, src2 drops, the rest pass through at epoch 0
      Packing.mixtureSample(t(s, d, "documents"), "source", "doc_id",
          MixtureWeights)
        .select(col("doc_id"), col("source"), col("epoch")),
      mixtureSql(MixtureWeights,
        defaultWeight = 1.0)),
    Query("rel_mixture_tokens", (s, d) =>
      // the TOKEN-weighted flavor: the fractional epoch is a token-
      // share prefix cut per source, not a row-rate — the recipe a
      // real LLM mixture specifies
      Packing.mixtureSampleByTokens(t(s, d, "documents"), "source",
          "doc_id", "text", MixtureWeights)
        .select(col("doc_id"), col("source"), col("epoch")),
      mixtureTokensSql(MixtureWeights,
        defaultWeight = 1.0)),
    Query("rel_mixture_temperature", (s, d) =>
      // temperature sampling: weights DERIVED from the corpus's own
      // token shares (share^α renormalization, α=0.5 flattens) — the
      // oracle re-derives them from its own totals, so the weight
      // algebra is gated, not just the sampler; both sides round the
      // weights at 6dp so the admit comparisons are bit-identical
      Packing.temperatureMixtureByTokens(t(s, d, "documents"),
          "source", "doc_id", "text", MixtureAlpha)
        .select(col("doc_id"), col("source"), col("epoch")),
      mixtureTemperatureSql(MixtureAlpha)),
    Query("rel_priority_sample", (s, d) =>
      // Duffield–Lund–Thorup priority sampling: weighted sample of 50
      // docs by n_chars without replacement, with the unbiased
      // subset-sum estimator ŵ = max(w, τ). Priorities are md5-derived
      // IEEE-division-only arithmetic — bit-identical in the oracle
      Packing.prioritySample(t(s, d, "documents"), "doc_id", "n_chars",
        PrioritySampleK),
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
        s"FROM r, tau WHERE rn <= $PrioritySampleK")),
    Query("rel_priority_sample_grouped", (s, d) =>
      // the stratified flavor: 10 per source, per-group τ/ŵ — the
      // per-source-quota subsampler with estimator unbiasedness kept
      // within each stratum
      Packing.prioritySampleByGroup(t(s, d, "documents"), "source",
        "doc_id", "n_chars", PrioritySampleGroupK),
      // per-source windows and per-source τ — the stratified mirror
      (s"WITH p AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS weight, " +
        "CAST(n_chars AS DOUBLE) / (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|prio'), 1, 15) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0) AS priority " +
        "FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0), " +
        "r AS (SELECT source, doc_id, weight, priority, row_number() OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS rn FROM p), " +
        s"t2 AS (SELECT source, coalesce(min(CASE WHEN rn = ${PrioritySampleGroupK + 1} THEN priority END), 0.0) AS tau FROM r GROUP BY source) " +
        "SELECT r.source, doc_id, weight, priority, tau, greatest(weight, tau) AS w_hat " +
        s"FROM r JOIN t2 USING (source) WHERE rn <= $PrioritySampleGroupK")),
    Query("rel_sample_by_key", (s, d) =>
      // downweight the two dominant event types, keep the rest intact;
      // the kept row set is a pure hash filter, stable at any SF
      Relational.deterministicSampleByKey(t(s, d, "events"), "event_type",
          "event_id", Map("view" -> 0.25, "click" -> 0.5))
        .select(col("event_id"), col("event_type")),
      ("SELECT event_id, event_type FROM events " +
        "WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|sample'), 1, 7) AS BIGINT) % 10000 < " +
        "CASE event_type WHEN 'view' THEN 2500 WHEN 'click' THEN 5000 ELSE 10000 END")),
    Query("rel_histogram", (s, d) =>
      // [0, 400) in 16 bins of exactly 25.0 (exact double literals in
      // both engines); values reach ~490 so the overflow bucket is live
      Relational.histogram(t(s, d, "events"), "value", 0.0, 400.0, 16),
      ("WITH b AS (SELECT CASE WHEN v < 0.0 THEN -1 WHEN v >= 400.0 THEN 16 " +
        "ELSE least(CAST(floor((v - 0.0) / 25.0) AS BIGINT), 15) END AS bucket " +
        "FROM (SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL) t) " +
        // bare 25.0 parses as DECIMAL in DuckDB — cast so edges are DOUBLE
        "SELECT bucket, CASE WHEN bucket >= 0 AND bucket < 16 THEN CAST(0.0 AS DOUBLE) + bucket * CAST(25.0 AS DOUBLE) END AS bucket_lo, " +
        "CASE WHEN bucket >= 0 AND bucket < 16 THEN CAST(0.0 AS DOUBLE) + (bucket + 1) * CAST(25.0 AS DOUBLE) END AS bucket_hi, " +
        "count(*) AS n FROM b GROUP BY 1")),
    Query("rel_zscore", (s, d) =>
      // portable flavor: ordered-fold group stats are bit-identical to
      // the oracle's list_sort+list_aggregate; zscoreOutliers (algebraic
      // avg/stddev_pop) is the scale default — spec proves 1e-9 agreement
      Relational.zscoreOutliersPortable(t(s, d, "events"), "event_type",
          "value", 2.0)
        .select(col("event_id"), col("event_type"), col("value"),
          col("z"), col("is_outlier")),
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
        "FROM events e LEFT JOIN st ON e.event_type IS NOT DISTINCT FROM st.event_type")),
    Query("rel_winsorize", (s, d) =>
      // per-type p05/p95 clipping — the numeric-tail curation step;
      // the oracle replays groupedQuantiles' exact interpolation
      // formula over sorted lists, so the clipped values hash-match
      // raw (no rounding anywhere)
      Relational.winsorize(t(s, d, "events"), "event_type", "value",
          0.05, 0.95)
        .select(col("event_id"), col("event_type"), col("value"),
          col("value_clipped")),
      {
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
      }),
    Query("rel_anomaly_model", (s, d) => {
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
    },
      // the rel_zscore mirror with the fit/score split: stats from the
      // historical slice only, standardization over the arrival slice
      ("WITH s AS (SELECT event_type, list_sort(list(CAST(value AS DOUBLE))) AS vs FROM events WHERE value IS NOT NULL AND event_id % 10 <> 0 GROUP BY 1), " +
        "m AS (SELECT event_type, vs, list_aggregate(vs, 'sum') / len(vs) AS mu FROM s), " +
        "st AS (SELECT event_type, mu, sqrt(list_aggregate(list_transform(vs, x -> (x - mu) * (x - mu)), 'sum') / len(vs)) AS sd FROM m) " +
        "SELECT e.event_id, e.event_type, e.value, " +
        "CASE WHEN st.sd > 0 THEN (CAST(e.value AS DOUBLE) - st.mu) / st.sd END AS z, " +
        "coalesce(abs(CASE WHEN st.sd > 0 THEN (CAST(e.value AS DOUBLE) - st.mu) / st.sd END) > 2.0, false) AS is_outlier " +
        "FROM (SELECT * FROM events WHERE event_id % 10 = 0) e " +
        "LEFT JOIN st ON e.event_type IS NOT DISTINCT FROM st.event_type")),
    Query("rel_train_order", (s, d) =>
      Relational.trainingOrder(t(s, d, "documents"), "doc_id", "epoch0")
        .select(col("doc_id"), col("shuffle_rank")),
      ("SELECT doc_id, CAST(row_number() OVER (ORDER BY md5('epoch0|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS shuffle_rank " +
        "FROM documents")),
    Query("rel_profile", (s, d) =>
      Relational.profile(t(s, d, "events"),
        Seq("event_id", "ts", "user_id", "event_type", "value", "props")),
      profileSql("events",
        Seq("event_id", "ts", "user_id", "event_type", "value", "props"))),
    Query("rel_token_budget", (s, d) =>
      Packing.tokenBudgetSampleByKey(t(s, d, "documents"), "source",
          "doc_id", "text", TokenBudgets)
        .select(col("doc_id"), col("source")),
      tokenBudgetSql(TokenBudgets, defaultBudget = -1L)),
    // --- mergeable frequency sketch (Count-Min) ---
    Query("rel_cms_freq", (s, d) => {
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
    },
      // CMS oracle: the universal-hash cells replayed exactly — the
      // estimate is integer-deterministic, so it hash-gates with no
      // tolerance boolean (unlike the engine-specific HLL sketches)
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
        "GROUP BY 1, 2")),
    // --- event-sequence analytics (funnel / cohorts / trajectories) ---
    Query("rel_funnel", (s, d) =>
      Events.funnel(t(s, d, "events"), "user_id", "ts", "event_type",
        FunnelStages),
      // funnel oracle: per-stage earliest-qualifying-event chain
      ("WITH s0 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY user_id), " +
        "s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e " +
        "JOIN s0 ON e.user_id = s0.user_id AND e.ts >= s0.t " +
        "WHERE e.event_type = 'click' GROUP BY e.user_id), " +
        "s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e " +
        "JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t " +
        "WHERE e.event_type = 'purchase' GROUP BY e.user_id) " +
        "SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s0 " +
        "UNION ALL SELECT 1, 'click', count(*) FROM s1 " +
        "UNION ALL SELECT 2, 'purchase', count(*) FROM s2")),
    Query("rel_cohorts", (s, d) =>
      Events.cohortRetention(t(s, d, "events"), "user_id", "ts"),
      ("WITH f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw FROM events GROUP BY user_id) " +
        "SELECT strftime(f.cw, '%Y-%m-%d') AS cohort_week, " +
        "CAST(date_diff('day', f.cw, CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset, " +
        "CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users " +
        "FROM events e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2")),
    Query("rel_trajectories", (s, d) =>
      Events.trajectories(t(s, d, "events"), "user_id", "ts",
        "event_id", "event_type", TrajMaxLen),
      (s"WITH r AS (SELECT user_id, event_type, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, " +
        "count(*) OVER (PARTITION BY user_id) AS n FROM events) " +
        "SELECT user_id, CAST(max(n) AS BIGINT) AS n_events, " +
        "string_agg(event_type, '>' ORDER BY rn) AS traj " +
        s"FROM r WHERE rn <= $TrajMaxLen GROUP BY user_id")),
    // --- pairwise-preference rating fit (Bradley-Terry MM) ---
    Query("rel_bradley_terry", (s, d) => {
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
    },
      // Bradley-Terry oracle: the same 3 MM rounds unrolled as CTEs,
      // ordered folds via list_aggregate(list_sort(...)) — raw doubles
      // hash-gate unrounded (the graph_pagerank precedent)
      {
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
      }),
    // --- probabilistic record linkage (Fellegi-Sunter) ---
    Query("rel_record_linkage", (s, d) => {
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
    },
      // Fellegi-Sunter oracle: the SAME LinkField instances supply the
      // weight literals, summed in the same field order. The literals
      // go through STRING casts — DuckDB parses a bare 17-digit numeric
      // as DECIMAL and its decimal→double conversion double-rounds
      // (10550746785383243 > 2^53), off strtod by an ulp; CAST('…' AS
      // DOUBLE) is strtod and returns Scala's exact bits
      (s"WITH $linkageCtes " +
        "SELECT left_id, right_id, agree_name_exact, agree_bal_close, " +
        "agree_bal_coarse, score, " +
        s"CASE WHEN score >= CAST($LinkMatchTh AS DOUBLE) THEN 'match' " +
        s"WHEN score >= CAST($LinkPossibleTh AS DOUBLE) THEN 'possible' " +
        "ELSE 'nonmatch' END AS verdict " +
        s"FROM sw WHERE score >= CAST($LinkPossibleTh AS DOUBLE)")),
    Query("rel_golden_records", (s, d) => {
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
    },
      // survivorship oracle: same match CTEs, then struct-ordered
      // min/max aggregates — DuckDB orders {'k':…,'v':…} structs
      // field-by-field exactly like Spark
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
        "FROM mem GROUP BY 1")),
    // --- small-file compaction planning (the OPTIMIZE step) ---
    Query("rel_compaction_plan", (s, d) => {
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
    },
      // compaction oracle: the same sorted running-fill as ONE exclusive
      // prefix-sum window — all integers, bin = prefix // target
      ("WITH inv AS (SELECT strftime(o_orderdate, '%Y-%m') || '_' || o_orderpriority AS file_name, " +
        "CAST(count(*) AS BIGINT) AS bytes FROM orders GROUP BY 1), " +
        "pre AS (SELECT file_name, bytes, coalesce(sum(bytes) OVER (" +
        "ORDER BY bytes DESC, file_name ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b4 FROM inv) " +
        s"SELECT CAST(b4 // $CompactTargetBytes AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_files, " +
        "CAST(sum(bytes) AS BIGINT) AS bytes_total, min(file_name) AS first_file " +
        "FROM pre GROUP BY 1")),
    // --- privacy gate: k-anonymity over a generalization ladder ---
    Query("rel_k_anonymity", (s, d) =>
      Quality.kAnonymity(t(s, d, "customer"), Seq(
        "nation_seg_bal1" -> Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal")).cast("long")),
        "nation_seg_bal100" -> Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 100.0).cast("long")),
        "nation_seg_bal1000" -> Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).cast("long")),
        "nation_seg" -> Seq(col("c_nationkey"), col("c_mktsegment")),
        "nation" -> Seq(col("c_nationkey"))), KAnonK),
      // k-anonymity oracle: per-level mirrors generated by the shared
      // kAnonymitySql builder — the oracle groups by the raw QI
      // expressions (no key-string needed; class counts are identical)
      Seq(
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
        }.mkString(" UNION ALL ")),
    // --- privacy gate: l-diversity on a sensitive column the QIs
    //     exclude (homogeneity attack check, read with k-anonymity) ---
    Query("rel_l_diversity", (s, d) =>
      Quality.lDiversity(t(s, d, "customer"), Seq(
        "nation_bal100" -> Seq(col("c_nationkey"),
          floor(col("c_acctbal") / 100.0).cast("long")),
        "nation_bal1000" -> Seq(col("c_nationkey"),
          floor(col("c_acctbal") / 1000.0).cast("long")),
        "nation" -> Seq(col("c_nationkey"))),
        col("c_mktsegment"), LDivL),
      // l-diversity oracle: per-level mirrors from the shared builder,
      // sensitive column outside the QI ladder
      Seq(
        (0, "nation_bal100",
          "c_nationkey, CAST(floor(c_acctbal / 100.0) AS BIGINT)"),
        (1, "nation_bal1000",
          "c_nationkey, CAST(floor(c_acctbal / 1000.0) AS BIGINT)"),
        (2, "nation", "c_nationkey"))
        .map { case (i, name, qi) =>
          Quality.lDiversitySql("customer", i, name, qi, "c_mktsegment", LDivL)
        }.mkString(" UNION ALL ")),
    // --- multi-touch attribution over the event log ---
    Query("rel_attribution", (s, d) =>
      Events.attribution(t(s, d, "events"), "user_id", "ts", "event_id",
        "event_type", "value", AttribTouches, AttribConv,
        AttribLookbackSec),
      attributionSql(AttribTouches, AttribConv,
        AttribLookbackSec)),
    // --- bounded-horizon EWMA per user (time-series smoothing) ---
    Query("rel_ewma", (s, d) =>
      Events.ewmaByKey(t(s, d, "events"), "user_id", "ts", "event_id",
        "value", EwmaAlpha, EwmaHorizon),
      ewmaSql(EwmaAlpha, EwmaHorizon)),
    // --- entity-coherent temporal split with embargo ---
    Query("rel_temporal_split", (s, d) =>
      Relational.entityTemporalSplit(t(s, d, "events"), "user_id", "ts",
          SplitTrainEnd, SplitTestStart)
        .groupBy(col("split"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events")),
      ("SELECT s AS split, CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(ne) AS BIGINT) AS n_events FROM (" +
        "SELECT user_id, count(*) AS ne, " +
        s"CASE WHEN min(ts) < TIMESTAMP '$SplitTrainEnd' THEN 'train' " +
        s"WHEN min(ts) >= TIMESTAMP '$SplitTestStart' THEN 'test' " +
        "ELSE 'embargo' END AS s " +
        "FROM events GROUP BY user_id) t GROUP BY 1")),
    // --- privacy ladder rung 3: t-closeness (distribution distance) ---
    Query("rel_t_closeness", (s, d) =>
      Quality.tCloseness(t(s, d, "customer"), Seq(
        "nation_bal100" -> Seq(col("c_nationkey"),
          floor(col("c_acctbal") / 100.0).cast("long")),
        "nation_bal1000" -> Seq(col("c_nationkey"),
          floor(col("c_acctbal") / 1000.0).cast("long")),
        "nation" -> Seq(col("c_nationkey"))),
        col("c_mktsegment"), TClosenessT),
      Seq(
        (0, "nation_bal100",
          "c_nationkey, CAST(floor(c_acctbal / 100.0) AS BIGINT)"),
        (1, "nation_bal1000",
          "c_nationkey, CAST(floor(c_acctbal / 1000.0) AS BIGINT)"),
        (2, "nation", "c_nationkey"))
        .map { case (i, name, qi) =>
          Quality.tClosenessSql("customer", i, name, qi, "c_mktsegment",
            TClosenessT)
        }.mkString(" UNION ALL ")),
    // --- KMV distinct sketches (deterministic, mergeable,
    //     intersection-capable — the sketch family HLL cannot
    //     hash-gate) ---
    Query("rel_kmv_custkeys", (s, d) => {
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
    },
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
        "(d_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err FROM sel")),
    Query("rel_kmv_overlap", (s, d) =>
      // pairwise distinct-customer overlap between order priorities —
      // the intersection estimate HLL structurally cannot produce
      Sketches.kmvOverlap(
        Sketches.kmvSketch(t(s, d, "orders"), Seq("o_orderpriority"),
          col("o_custkey"), KmvK),
        "o_orderpriority", KmvK),
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
        "(CAST(shared_k AS DOUBLE) / CAST(l AS DOUBLE)) * union_est AS inter_est FROM s2")),
    Query("rel_kmv_merged", (s, d) => {
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
    },
      // deliberately the DIRECT replay (no shard CTEs): equality with
      // the engine's shard-and-merge output IS the merge-law proof
      (s"WITH $kmvCtes, " +
        "km AS (SELECT g, CAST(count(*) AS BIGINT) AS n_kmv, max(h) AS hk FROM kmk GROUP BY g) " +
        s"SELECT g AS o_orderpriority, n_kmv, CASE WHEN n_kmv < $KmvK THEN CAST(n_kmv AS DOUBLE) " +
        s"ELSE (CAST(${KmvK - 1} AS DOUBLE) * CAST(CAST(1152921504606846976 AS BIGINT) AS DOUBLE)) / CAST(hk AS DOUBLE) END AS d_est " +
        "FROM km")),
    // --- robust (median/MAD) per-group outliers ---
    Query("rel_mad_outliers", (s, d) =>
      Relational.madOutliers(t(s, d, "orders"), "o_orderpriority",
        "o_orderkey", "o_totalprice", MadK),
      ("WITH m AS (SELECT o_orderpriority AS g, round(quantile_cont(o_totalprice, 0.5), 4) AS med FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1), " +
        "w AS (SELECT o.o_orderpriority AS g, o.o_orderkey, o.o_totalprice, m.med, abs(CAST(o.o_totalprice AS DOUBLE) - m.med) AS ad " +
        "FROM orders o JOIN m ON o.o_orderpriority = m.g WHERE o.o_totalprice IS NOT NULL), " +
        "d AS (SELECT g, round(quantile_cont(ad, 0.5), 4) AS mad FROM w GROUP BY 1) " +
        "SELECT w.g AS o_orderpriority, w.o_orderkey, w.o_totalprice, w.med, d.mad, round(w.ad, 4) AS deviation " +
        s"FROM w JOIN d USING (g) WHERE w.ad > $MadK * d.mad")),
    // --- Benford first-digit audit ---
    Query("rel_benford", (s, d) =>
      Quality.benfordReport(t(s, d, "orders"), "o_totalprice"),
      benfordSql("orders", "o_totalprice")),
    // --- categorical concentration (entropy / HHI) — the mixture-
    //     planning signal over the corpus's source and language mix ---
    Query("rel_concentration", (s, d) =>
      Quality.concentrationReport(t(s, d, "documents"),
        Seq("source", "lang")),
      Seq("source", "lang")
        .map(Quality.concentrationSql("documents", _))
        .mkString(" UNION ALL "))
  )
}
