package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator surface (SURVEY.md §2.1–§2.8), re-expressed
  * as composable DataFrame transforms. Every function is a declarative
  * plan fragment — Catalyst handles pushdown / pruning / join strategy;
  * nothing here collects to the driver.
  */
object Relational {

  /** The reference's flagship shape (consumer/StreamProcessor.scala:44-83):
    * count rows by two different key columns, tag each branch, and union
    * them on a shared key name (reference: pickup vs dropoff location).
    *
    * Scale: two hash aggregates (map-side partial + final) + a union —
    * one shuffle per branch on its own key, no join. The tag column is a
    * literal projection (P1) and the key rename is P6.
    */
  def taggedKeyCounts(
      df: DataFrame,
      keyA: String, tagA: String,
      keyB: String, tagB: String,
      outKey: String = "location_id",
      countName: String = "trip_count",
      keyCast: String = "long"): DataFrame = {
    // keyCast unifies the two key columns' types for the union —
    // "string" when the keys are heterogeneous (e.g. id vs category)
    def leg(key: String, tag: String): DataFrame =
      df.groupBy(col(key).cast(keyCast).as(outKey))
        .agg(count(lit(1)).as(countName))
        .withColumn("aggregation_type", lit(tag))
    leg(keyA, tagA).unionByName(leg(keyB, tagB))
  }

  /** TPC-H Q1-style pricing summary: multi-measure hash aggregate with an
    * arithmetic expression inside the sums. Doubles are rounded at the
    * edge for oracle-stable output. Filter is pushed to the parquet scan
    * by Catalyst (verify via explain: PushedFilters).
    */
  def pricingSummary(lineitem: DataFrame, cutoff: String): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= to_timestamp(lit(cutoff)))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Scalable ordinal assignment: sort by range partitioning (Spark's
    * orderBy = range-partitioned sort, parallel), then add per-partition
    * offsets computed from partition sizes — no single-partition window.
    * Ordinals are 1-based and identical to a global
    * `row_number().over(Window.orderBy(orderCols))` (spec-pinned).
    *
    * Single-pass: the sorted data is materialized ONCE as a local
    * checkpoint, by the same job that counts each partition's rows; the
    * final rows read the checkpoint blocks instead of re-executing the
    * range sort (the previous `.rdd` formulation ran the sort twice and
    * dropped WholeStageCodegen for downstream — see RelationalSpec's
    * scan-count proof). monotonically_increasing_id encodes (partition,
    * local row number) post-sort, and range partitioning makes partition
    * ids globally sort-ordered, so checkpoint-partition offsets + local
    * ids reconstruct the exact global ordinal. Driver state: one long
    * per partition.
    *
    * Chosen trades, explicit: (1) localCheckpoint blocks are executor-
    * local with TRUNCATED lineage — an executor loss mid-consumption
    * fails the job (caller retries) instead of recomputing; on flaky
    * clusters, reliable-checkpoint the input or accept the retry.
    * (2) A Dataset-level persist would instead pin the cache in
    * CacheManager with no caller-reachable release (unpersist on the
    * returned derived frame is a no-op — measured); checkpoint blocks
    * are RDD-level and freed by the ContextCleaner when the frame is
    * dropped. EAGER — composing this runs the sort and the size job.
    */
  def withScalableOrdinal(df: DataFrame, orderCols: Seq[Column],
      ordinalName: String = "row_num"): DataFrame =
    withScalableOrdinalCounted(df, orderCols, ordinalName)._1

  /** [[withScalableOrdinal]] and the frame's row total, which the
    * partition-size pass already holds: a caller that needs both runs
    * no count job of its own. */
  def withScalableOrdinalCounted(df: DataFrame, orderCols: Seq[Column],
      ordinalName: String = "row_num"): (DataFrame, Long) = {
    // the nondeterministic id pins the projection ABOVE the sort
    // (Catalyst cannot reorder it below), so ids are assigned in sorted
    // order within each range partition: pid = upper 31 bits, local row
    // number = lower 33
    val sorted = df.orderBy(orderCols: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .localCheckpoint(false)
    val pid = shiftrightunsigned(col("__mid"), 33).cast("int")
    val localIdx = col("__mid").bitwiseAND(lit((1L << 33) - 1))
    // partition sizes -> cumulative offsets (tiny driver-side array).
    // One job, no shuffle: it computes every partition of the lazy
    // checkpoint, which caches its blocks and, when the job ends,
    // truncates the lineage — so it is also the materializing pass
    val sizeRows = sorted.select(pid).queryExecution.toRdd
      .mapPartitions { rows =>
        if (!rows.hasNext) Iterator.empty
        else {
          val p = rows.next().getInt(0)
          Iterator(p -> (1L + rows.size))
        }
      }.collect()
    // monotonically_increasing_id holds 33 bits of local row number —
    // a >8.6e9-row range partition would overflow into the pid bits and
    // corrupt ordinals SILENTLY. Unreachable with sane partition sizing
    // (it would be a ~0.5 TB single partition), but guard it loudly.
    require(sizeRows.forall(_._2 < (1L << 33)),
      s"withScalableOrdinal: a sort partition exceeds 2^33 rows; " +
        "repartition the input or raise spark.sql.shuffle.partitions")
    val nParts = sizeRows.map(_._1).foldLeft(-1)(math.max) + 1
    val sizes = Array.fill(nParts)(0L)
    sizeRows.foreach { case (p, n) => sizes(p) = n }
    val cumulative = sizes.scanLeft(0L)(_ + _)
    val offsets = cumulative.dropRight(1)
    (sorted
      .withColumn(ordinalName,
        element_at(typedLit(offsets), pid + 1) + localIdx + 1)
      .drop("__mid"), cumulative.last)
  }

  /** Top-k keys by row count with a deterministic tie-break on the key.
    * Catalyst plans orderBy+limit as TakeOrderedAndProject (no global
    * sort materialization). */
  def topKByCount(df: DataFrame, key: String, k: Int): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(key))
      .limit(k)

  /** All keys with count ≥ `minCount`, with aggregation state bounded
    * at UNBOUNDED key cardinality — the scale default [[topKByCount]]
    * is not: an exact groupBy over 100 TB of URLs/domains holds every
    * distinct key in the hash-agg state. Two passes, both bounded:
    *
    *  1. count md5-hash BUCKETS of the key (≤ `nBuckets` agg states
    *     per task, whatever the key cardinality);
    *  2. a bucket's count upper-bounds every member key's count, so
    *     every key with count ≥ minCount lives in a bucket with
    *     count ≥ minCount — broadcast the heavy-bucket list back
    *     (≤ totalRows/minCount buckets survive, by pigeonhole),
    *     semi-filter the corpus, and count EXACTLY over the
    *     survivors only.
    *
    * No false negatives by construction; bucket collisions only admit
    * extra candidates that the exact recount then rejects — so the
    * ANSWER is exact (the DuckDB oracle replays it verbatim: the
    * bucket hash is md5, the one cross-engine hash), only the plan's
    * memory shape changes. Emitted per key: (key, n_exact, bucket_n,
    * within_bound) with within_bound = bucket_n ≥ n_exact — the
    * capture invariant the prefilter relies on, checked IN-PLAN (the
    * rel_approx_distinct convention). Size nBuckets ≫ expected
    * hitters so heavy buckets stay sparse: survivors per bucket ≈
    * cardinality/nBuckets extra keys. */
  def heavyHitters(df: DataFrame, keyCol: String, minCount: Long,
      nBuckets: Int): DataFrame = {
    val key = col(keyCol).cast("string")
    def bucketOf(k: Column): Column =
      pmod(conv(substring(md5(k), 1, 15), 16, 10).cast("long"),
        lit(nBuckets.toLong))
    val heavyBuckets = df
      .groupBy(bucketOf(key).as("__bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") >= minCount)
    df.select(key.as("key"), bucketOf(key).as("__bucket"))
      .join(broadcast(heavyBuckets), "__bucket")
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_exact"), first(col("bucket_n")).as("bucket_n"))
      .filter(col("n_exact") >= minCount)
      .withColumn("within_bound", col("bucket_n") >= col("n_exact"))
  }

  /** Misra-Gries / space-saving heavy-hitter SKETCH: a fixed budget of
    * `capacity` counters per partition, merged by key, with the
    * undercount bound carried IN-PLAN. The estimate-only flavor for
    * when even the bucket pass of [[heavyHitters]] is too much (one
    * streaming-fashion scan, zero pre-shuffle state beyond the
    * counters); [[heavyHitters]] is the exact-answer scale default.
    *
    * Per partition (genuine per-row imperative state — the documented
    * mapPartitions case): the classic MG update — count if tracked,
    * insert if budget free, otherwise decrement ALL counters and drop
    * zeros, incrementing the partition's decrement total D_p. MG
    * guarantees true_p − D_p ≤ est_p ≤ true_p (est_p = 0 when
    * evicted), and summing over partitions: n_est ≤ true ≤ n_est +
    * ΣD_p. Output: (key, n_est, n_max = n_est + ΣD_p) — every true
    * count is bracketed, and any key with true count > ΣD_p is
    * GUARANTEED present (absent everywhere ⇒ true ≤ ΣD_p), with
    * ΣD_p ≤ totalRows/(capacity+1).
    *
    * Spec-gated, not oracle-gated: the emitted CANDIDATE SET depends
    * on partition layout (which light keys survive eviction), so rows
    * aren't cross-engine deterministic — the groupedQuantilesApprox
    * precedent. RelationalSpec asserts the bracket and the
    * completeness guarantee against exact counts. */
  def heavyHittersSketch(df: DataFrame, keyCol: String,
      capacity: Int): DataFrame =
    hitterSummariesResult(heavyHitterSummaries(df, keyCol, capacity))

  /** The MERGEABLE Misra-Gries summary behind [[heavyHittersSketch]]:
    * per input partition, `capacity` MG counters plus that partition's
    * decrement total, as (key, est, decr) rows — counter rows carry
    * (key, est, 0), one null-key row per partition carries
    * (null, 0, D_p). Summaries are associative DATA: key-summing
    * counter rows and adding decr rows of any two summaries yields a
    * valid summary of the concatenated inputs
    * ([[mergeHitterSummaries]]) — which is what makes the streaming
    * form a per-batch merge (StreamOps.heavyHittersBatches) and the
    * batch sketch a one-shot merge of its own partition summaries. */
  def heavyHitterSummaries(df: DataFrame, keyCol: String,
      capacity: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    // NULL keys are EXCLUDED from the sketch (filtered here, not
    // silently): a null counter row would be indistinguishable from
    // the per-partition decrement row and its count would vanish from
    // both the estimates and the undercount bound. Count nulls
    // upstream if they matter (the exact flavor's md5-bucket join
    // excludes them the same way).
    df.select(col(keyCol).cast("string").as("k"))
      .filter(col("k").isNotNull).as[String]
      .mapPartitions { it =>
        val m = new java.util.HashMap[String, Long](capacity * 2)
        var decr = 0L
        it.foreach { k =>
          val cur = m.getOrDefault(k, 0L)
          if (cur > 0L) m.put(k, cur + 1L)
          else if (m.size < capacity) m.put(k, 1L)
          else {
            decr += 1L
            val entries = m.entrySet().iterator()
            while (entries.hasNext) {
              val e = entries.next()
              if (e.getValue == 1L) entries.remove()
              else e.setValue(e.getValue - 1L)
            }
          }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[
          (Option[String], Long, Long)]
        m.forEach((k, v) => out += ((Some(k), v, 0L)))
        out += ((None, 0L, decr))
        out.iterator
      }
      .toDF("key", "est", "decr")
  }

  /** Canonical form of a summary: ONE counter row per key (est
    * key-summed) + ONE null-key row holding the total decrement. Any
    * stack of unioned summaries collapses to this without information
    * loss — the bracket est ≤ true ≤ est + Σdecr is unchanged. */
  def normalizeHitterSummaries(s: DataFrame): DataFrame = {
    val counters = s.filter(col("key").isNotNull)
      .groupBy(col("key")).agg(sum(col("est")).as("est"))
      .select(col("key"), col("est"), lit(0L).as("decr"))
    val d = s.agg(coalesce(sum(col("decr")), lit(0L)).as("decr"))
      .select(lit(null).cast("string").as("key"), lit(0L).as("est"),
        col("decr"))
    counters.unionByName(d)
  }

  /** The exact associative merge of two summaries: key-sum counters,
    * add decrement totals. Merging per-batch summaries of a stream
    * equals the batch sketch's internal state over the same partition
    * layout (spec-pinned), because the batch sketch itself never
    * compresses across partitions. The candidate set grows with the
    * number of merged summaries — re-bound it with
    * [[compactHitterSummaries]] on unbounded streams. */
  def mergeHitterSummaries(a: DataFrame, b: DataFrame): DataFrame =
    normalizeHitterSummaries(a.unionByName(b))

  /** MG compaction (the mergeable-summaries compression): re-bound a
    * merged summary to `capacity` counters by subtracting the
    * (capacity+1)-th largest estimate t from EVERY counter, dropping
    * the non-positive, and adding t to the undercount total. At most
    * `capacity` keys can exceed t, so state is ≤ capacity+1 rows
    * FOREVER — the shape an unbounded stream needs — and the bracket
    * survives: kept keys lose exactly t of estimate and gain exactly
    * t of slack; dropped keys had est ≤ t so true ≤ t + old_decr =
    * new_decr. In-plan throughout: t comes from a sort+limit over the
    * (small) candidate set, broadcast back as one row. */
  def compactHitterSummaries(s: DataFrame, capacity: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val counters = s.filter(col("key").isNotNull)
      .groupBy(col("key")).agg(sum(col("est")).as("est"))
    val t = broadcast(counters
      .orderBy(col("est").desc, col("key")).limit(capacity + 1)
      .agg(coalesce(
        when(count(lit(1)) > capacity, min(col("est"))), lit(0L))
        .as("__t")))
    val kept = counters.crossJoin(t)
      .filter(col("est") > col("__t"))
      .select(col("key"), (col("est") - col("__t")).as("est"),
        lit(0L).as("decr"))
    val d = s.agg(coalesce(sum(col("decr")), lit(0L)).as("__d"))
      .crossJoin(t)
      .select(lit(null).cast("string").as("key"), lit(0L).as("est"),
        (col("__d") + col("__t")).as("decr"))
    kept.unionByName(d)
  }

  /** Collapse a summary to the sketch's output shape:
    * (key, n_est, n_max = n_est + total undercount) — the in-plan
    * bracket n_est ≤ true ≤ n_max. */
  def hitterSummariesResult(summaries: DataFrame): DataFrame = {
    val totalDecr = broadcast(
      summaries.agg(sum(col("decr")).as("max_under")))
    summaries.filter(col("key").isNotNull)
      .groupBy(col("key")).agg(sum(col("est")).as("n_est"))
      .crossJoin(totalDecr)
      .select(col("key"), col("n_est"),
        (col("n_est") + col("max_under")).as("n_max"))
  }

  /** Batch restatement of a tumbling event-time window aggregation
    * (streaming form in graft.streaming): bucket by date_trunc, count +
    * sum. The string-formatted bucket keeps the oracle timestamp-
    * precision-agnostic. */
  def tumblingCounts(events: DataFrame, tsCol: String, unit: String,
      keyCol: String, valueCol: String): DataFrame =
    events
      .groupBy(
        date_format(date_trunc(unit, col(tsCol)), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 2).as("sum_value"))

  /** Sliding-window counts, batch form (streaming form:
    * StreamOps.slidingCounts): an event belongs to `windowLen/slide`
    * overlapping windows; membership is materialized by exploding the
    * window-start sequence per event — shuffle volume scales with the
    * overlap factor, which is why slides much smaller than the window
    * get expensive at 100 TB (prefer tumbling + rollup downstream).
    * Hour-granularity slide/length keeps the oracle expressible.
    */
  def slidingCounts(events: DataFrame, tsCol: String, windowHours: Int,
      slideHours: Int, keyCol: String): DataFrame = {
    val h = 3600L
    val slide = slideHours * h
    val len = windowHours * h
    val sec = unix_timestamp(col(tsCol))
    // epoch-grid-aligned starts covering t: s ≡ 0 (mod slide), t-len < s <= t
    val sMax = sec - pmod(sec, lit(slide))
    val overlaps = (windowHours + slideHours - 1) / slideHours - 1
    events
      .select(col(keyCol), sec.as("__sec"),
        explode(sequence(sMax - overlaps * slide, sMax, lit(slide))).as("ws"))
      .filter(col("ws") > col("__sec") - len)
      .groupBy(date_format(timestamp_seconds(col("ws")),
        "yyyy-MM-dd HH:mm:ss").as("window_start"), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
  }

  /** Session windows, batch form: a session is a run of events per user
    * with gaps < `gapSeconds`. lag → new-session flag → prefix-sum =
    * session ordinal; then one aggregate per (user, session).
    * Second-truncated epoch math keeps the oracle precision-agnostic.
    * Streaming form: session_window() in graft.streaming.
    */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val sec = unix_timestamp(col(tsCol))
    val newSession = when(
      sec - lag(sec, 1).over(byUser) > gapSeconds || lag(sec, 1).over(byUser).isNull,
      lit(1)).otherwise(lit(0))
    events
      .withColumn("session_seq",
        sum(newSession).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(userCol), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("session_end"))
  }

  /** Exact linearly-interpolated quantiles (`quantile_cont` semantics)
    * per group, computed with a sort instead of Spark's `percentile`
    * aggregate. `percentile` is a TypedImperativeAggregate holding a
    * value→count map per (task, group) buffer, serialized between the
    * partial and final phases — on a high-cardinality value column the
    * buffers approach the data size and dominate the runtime (measured
    * 4.9 s of a 40 s bench on one query at sf0.1). This formulation
    * shuffles on (group, measure, value) for a distinct-value count,
    * then rank-locates the two bracketing source values with a
    * partitioned running-count window over the ~2·margin·n in-bracket
    * distinct values. EXECUTOR MEMORY IS BOUNDED AT ANY GROUP SIZE:
    * aggregation state is algebraic counts, the window is a streaming
    * disk-spillable sort, and no per-group value array or map buffer
    * exists anywhere (an earlier formulation collect_list'ed the
    * in-bracket values — linear in group size, an OOM at 100 TB).
    *
    * Interpolation reproduces Spark's Percentile formula bit-for-bit —
    * `(ceil(pos)-pos)*lo + (pos-floor(pos))*hi`, integral positions
    * returning `lo` — so results are IEEE-identical to the built-in
    * (and to the DuckDB oracle the built-in already matched).
    *
    * measures: (valueCol, p, outName); all measures are unpivoted via
    * `stack` so they share the single shuffle.
    */
  /** THE SCALE-DEFAULT flavor of [[groupedQuantiles]]: the GK sketch's
    * answer taken directly (rank error deterministically ≤ n/accuracy,
    * state per (group, measure) bounded by the sketch — one pass, one
    * shuffle, no window). The exact operator is this sketch plus a
    * rank-refinement pass; use this one when a bounded-rank-error
    * quantile suffices (monitoring, winsor bounds on huge groups).
    * Same output schema as [[groupedQuantiles]] but NOT value-equal
    * even on small groups: GK returns a SOURCE value while the exact
    * flavor interpolates (quantile_cont) — the spec bounds this one by
    * the exact quantile's two bracketing source rows. Never substitute
    * it into an oracle-checked path. */
  def groupedQuantilesApprox(df: DataFrame, grp: String,
      measures: Seq[(String, Double, String)],
      accuracy: Int = 10000): DataFrame = {
    val aggs = measures.map { case (c, p, n) =>
      percentile_approx(col(c).cast("double"), lit(p), lit(accuracy)).as(n)
    }
    df.groupBy(col(grp)).agg(aggs.head, aggs.tail: _*)
  }

  def groupedQuantiles(df: DataFrame, grp: String,
      measures: Seq[(String, Double, String)],
      margin: Double = 0.01, accuracy: Int = 1000): DataFrame = {
    // Pass A — per-group rank brackets from approx_percentile. GK's
    // rank error is DETERMINISTICALLY <= n/accuracy, so the values at
    // p±margin are guaranteed (margin >> 1/accuracy; 100x here) to
    // bracket the exact quantile's two source rows.
    val bracketCols = measures.flatMap { case (c, p, n) =>
      val pl = math.max(0.0, p - margin)
      val ph = math.min(1.0, p + margin)
      Seq(
        expr(s"approx_percentile(CAST(`$c` AS DOUBLE), array($pl, $ph), $accuracy)")
          .as(s"__br_$n"),
        count(expr(s"`$c`")).as(s"__bn_$n"))
    }
    // backtick-quoted references throughout: special-character column
    // names (dots, spaces) must work everywhere, not only in the SQL
    // fragments
    val bracketAgg = df.groupBy(col(s"`$grp`"))
      .agg(bracketCols.head, bracketCols.tail: _*)
    // approx_percentile targets rank p·n where percentile interpolates
    // at p·(n-1) — a constant ~1-rank convention gap on top of the GK
    // error. For margin·n >= 4 the margin dominates both (gap <= 3 ranks
    // once n >= 4/margin, GK error = n/accuracy = margin·n/10); below
    // that the "bracket" is the whole group — n < 4/margin rows, a
    // bounded constant, so small groups are exact by construction.
    val smallN = lit(4.0 / margin)
    val stackExpr = s"stack(${measures.length}, " + measures.map {
      case (c, _, n) => s"'$n', CAST(`$c` AS DOUBLE)"
    }.mkString(", ") + ") AS (__m, __v)"
    def perMeasure(f: String => Column): Column =
      measures.foldLeft(lit(null).cast("double")) { case (acc, (_, _, n)) =>
        when(col("__m") === n, f(n)).otherwise(acc)
      }
    val pByName = measures.foldLeft(lit(null).cast("double")) {
      case (acc, (_, p, n)) => when(col("__m") === n, lit(p)).otherwise(acc)
    }
    val v = col("__v")
    // null-SAFE group join, RIGHT OUTER on the bracket aggregate: a
    // null group key is a legal group for percentile(), and a group
    // whose values are ALL null has no stacked rows at all but must
    // still emit an output row (with null quantiles) — the unmatched
    // bracket row flows through the whole pipeline as a null-__m row
    // (every derived column stays null) so NO re-join against the
    // group list is ever needed (a second bracketAgg consumption was
    // a measured third scan of the input)
    val br = bracketAgg.withColumnRenamed(grp, "__grp")
    val bounded = df.selectExpr(s"`$grp`", stackExpr)
      .filter(v.isNotNull) // percentile/quantile_cont ignore nulls
      .join(br, col(s"`$grp`") <=> col("__grp"), "right_outer")
      .withColumn("__lob", perMeasure(n =>
        when(col(s"__bn_$n") < smallN, lit(Double.NegativeInfinity))
          .otherwise(element_at(col(s"__br_$n"), 1))))
      .withColumn("__hib", perMeasure(n =>
        when(col(s"__bn_$n") < smallN, lit(Double.PositiveInfinity))
          .otherwise(element_at(col(s"__br_$n"), 2))))
    // Pass B, bounded state at any group size (no value array is ever
    // materialized): every value maps to a KEY — out-of-bracket values
    // collapse onto a ±Infinity sentinel, in-bracket values keep their
    // identity — and ONE aggregate counts rows per (group, measure,
    // key): algebraic, map-side combined, so a trillion duplicates or
    // a trillion below-bracket rows each cost one buffer slot. A
    // running count over the key-ordered partition then gives every
    // in-bracket value its exact GLOBAL rank range directly (the -Inf
    // sentinel sorts first and contributes the below-bracket total to
    // the prefix sum — no separate below/total pass; group sizes come
    // free from pass A's exact counts). The window input is in-bracket
    // distinct values + 2 sentinels ≈ 2·margin·n rows, streamed and
    // disk-spillable — never an in-memory per-group buffer like
    // collect_list or percentile()'s value→count map. Sentinels can
    // never be picked: the bracket guarantee puts the target ranks
    // strictly inside the in-bracket span. (Real ±Inf data values
    // merging into a sentinel is rank-correct: they ARE the extremes.)
    val dv = bounded
      .withColumn("__vk",
        when(v < col("__lob"), lit(Double.NegativeInfinity))
          .when(v > col("__hib"), lit(Double.PositiveInfinity))
          .otherwise(v))
      .groupBy(col("__grp"), col("__m"), col("__vk"))
      .agg(count(lit(1)).as("__cnt"),
        min(pByName).as("__p"),
        min(perMeasure(n => col(s"__bn_$n"))).as("__n"))
    val vk = col("__vk")
    val wRank = Window.partitionBy(col("__grp"), col("__m")).orderBy(vk)
    val ranked = dv
      .withColumn("__cum",
        sum(col("__cnt")).over(wRank.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__pos", col("__p") * (col("__n") - 1).cast("double"))
      // this key covers 0-based global ranks [__r0, __r1]
      .withColumn("__r0", col("__cum") - col("__cnt"))
      .withColumn("__r1", col("__cum") - 1)
    val picked = ranked.groupBy(col("__grp"), col("__m"))
      .agg(min(col("__pos")).as("__pos"),
        min(when(floor(col("__pos")).between(col("__r0"), col("__r1")), vk))
          .as("__lo"),
        min(when(ceil(col("__pos")).between(col("__r0"), col("__r1")), vk))
          .as("__hi"))
      // Spark Percentile's exact interpolation, reproduced bit-for-bit
      .withColumn("__q",
        when(floor(col("__pos")) === ceil(col("__pos")), col("__lo"))
          .otherwise((ceil(col("__pos")) - col("__pos")) * col("__lo") +
            (col("__pos") - floor(col("__pos"))) * col("__hi")))
    picked.groupBy(col("__grp"))
      .agg(
        measures.map { case (_, _, n) =>
          min(when(col("__m") === n, col("__q"))).as(n)
        }.head,
        measures.tail.map { case (_, _, n) =>
          min(when(col("__m") === n, col("__q"))).as(n)
        }: _*)
      .select(col("__grp").as(grp) +:
        measures.map { case (_, _, n) => col(n) }: _*)
  }

  /** Skew-safe exact distinct count per key. Algebraic aggregates
    * (sum/count/min/max) survive key skew on their own — map-side
    * partial aggregation collapses a hot key to one row per task before
    * the shuffle. Exact DISTINCT does not: every distinct value of the
    * hot key lands on one reducer. This salts the VALUE space —
    * distinct sets in different salt buckets are disjoint, so their
    * counts add — turning one giant reducer state into `salt` bounded
    * ones. (Joins skew is AQE's job; this covers aggregation skew.)
    */
  def saltedDistinctCount(df: DataFrame, key: String, valueCol: String,
      salt: Int): DataFrame =
    df.groupBy(col(key), pmod(xxhash64(col(valueCol)), lit(salt)).as("__salt"))
      .agg(countDistinct(col(valueCol)).as("__d"))
      .groupBy(col(key))
      .agg(sum(col("__d")).as("n_distinct"))

  /** Deterministic train/val/test assignment: a stable hash of the id
    * maps each row to a bucket in [0, 100); split boundaries are
    * cumulative percentages. Hash-based (not random) so the split is
    * reproducible across runs, engines, and re-partitions — the
    * property a training pipeline needs so examples never migrate
    * between train and eval when data is re-processed. The hash is the
    * md5-derived 28-bit integer (TextFns.shingleHash), exact in any
    * BIGINT SQL engine.
    */
  def deterministicSplit(df: DataFrame, idCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val bucket = pmod(
      graft.functions.TextFns.shingleHash(col(idCol).cast("string")),
      lit(100L))
    df.withColumn("split",
      when(bucket < trainPct, lit("train"))
        .when(bucket < trainPct + valPct, lit("val"))
        .otherwise(lit("test")))
  }

  /** Entity-coherent temporal split with an embargo gap — the
    * time-series counterpart of [[deterministicSplit]] (hash splits
    * leak FUTURE information into train when rows are time-ordered
    * observations). Every entity is assigned WHOLE, by its FIRST
    * event's timestamp: first-seen before `trainEnd` → train,
    * at-or-after `testStart` → test, first-seen inside the embargo
    * gap (or the boundary rows of a gapless split) → "embargo",
    * dropped by convention downstream. Whole-entity assignment kills
    * the subtler leak too: a user with rows in both train and test
    * lets a model memorize the entity, not the signal (the
    * clusterSafeSplit argument, keyed by time instead of content).
    * With `trainEnd == testStart` the embargo bucket is exactly empty.
    *
    * Scale shape: one key-partitioned aggregate for first-seen + one
    * key equi-join back — the cohortRetention shape. Deterministic:
    * timestamp comparisons only, no hashing, no sampling.
    *
    * Output: the input plus (first_ts, split). The no-cross-split
    * invariant (each key in exactly one split) holds by construction;
    * the rel_temporal_split oracle counts violators anyway (0). */
  def entityTemporalSplit(df: DataFrame, keyCol: String, tsCol: String,
      trainEnd: String, testStart: String): DataFrame = {
    require(java.sql.Timestamp.valueOf(trainEnd).compareTo(
      java.sql.Timestamp.valueOf(testStart)) <= 0,
      s"entityTemporalSplit: trainEnd $trainEnd after testStart $testStart")
    val first = df.groupBy(col(keyCol))
      .agg(min(col(tsCol)).as("first_ts"))
      .withColumn("split",
        when(col("first_ts") < to_timestamp(lit(trainEnd)), lit("train"))
          .when(col("first_ts") >= to_timestamp(lit(testStart)),
            lit("test"))
          .otherwise(lit("embargo")))
    df.join(first, keyCol)
  }

  /** Robust per-group outliers via median absolute deviation — the
    * heavy-tail-safe alternative to the z-score family (mean and
    * stddev are themselves dragged by the outliers they're meant to
    * find; the median and MAD are 50%-breakdown robust). A row flags
    * when |x − median| > k·MAD of its group; k = 3 on MAD units
    * roughly matches 2σ on Gaussian data (MAD ≈ 0.6745σ).
    *
    * Two grouped EXACT percentile aggregates (median, then median of
    * |x − median|) + one group-keyed join back — the zscore shape with
    * sorts inside the aggregates (they spill, never collect). Both
    * engines interpolate the even-count median identically
    * (lower + (upper−lower)·frac); med/MAD round at 4 — on
    * decimal-grid inputs (prices, counts) the grid survives rounding,
    * so the flag comparison sees identical bits cross-engine.
    *
    * Output: the outlier rows only — (group, id, value, med, mad,
    * deviation) with deviation = |x − med| rounded at 4. An all-equal
    * group has MAD 0: then ANY deviation > 0 flags (k·0 = 0) — the
    * strictest reading, documented rather than special-cased. */
  def madOutliers(df: DataFrame, grp: String, idCol: String,
      valueCol: String, k: Double): DataFrame = {
    require(k > 0, s"madOutliers: k must be > 0, got $k")
    val v = col(valueCol).cast("double")
    val med = df.where(v.isNotNull)
      .groupBy(col(grp))
      .agg(round(expr(s"percentile($valueCol, 0.5)"), 4).as("med"))
    val withMed = df.where(v.isNotNull).join(med, grp)
      .withColumn("__ad", abs(v - col("med")))
    val mad = withMed.groupBy(col(grp))
      .agg(round(expr("percentile(__ad, 0.5)"), 4).as("mad"))
    withMed.join(mad, grp)
      .where(col("__ad") > lit(k) * col("mad"))
      .select(col(grp), col(idCol), col(valueCol), col("med"), col("mad"),
        round(col("__ad"), 4).as("deviation"))
  }

  /** Deterministic per-key fractional sampling: keep ~`fraction` of
    * each key's rows, chosen by a stable content hash of the row id —
    * the dataset-balancing primitive that DOWNWEIGHTS overrepresented
    * sources/domains by rate (capPerKey bounds absolute counts; this
    * scales proportionally). Hash-based, not random: the same row is
    * kept or dropped on every rerun, engine, and partitioning — eval
    * sets stay disjoint from train across reprocessing. Selection is
    * a per-row filter (no shuffle, no state): id-hash mod 10000 <
    * fraction·10000, so per-key realized rates concentrate tightly
    * around the target at any volume. Keys absent from `fractions`
    * keep `defaultFraction`. The hash is DOMAIN-SEPARATED from
    * deterministicSplit's (a "|sample" salt): the raw id hash would
    * make sampling arithmetically correlated with split assignment
    * (H%100 = (H%10000)%100 — e.g. a 0.5% sample would land entirely
    * inside the train split).
    */
  def deterministicSampleByKey(df: DataFrame, keyCol: String, idCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 1.0): DataFrame = {
    val bucket = pmod(
      graft.functions.TextFns.shingleHash(
        concat(col(idCol).cast("string"), lit("|sample"))),
      lit(10000L))
    val threshold = fractions.toSeq.sortBy(_._1).foldLeft(
      lit(math.round(defaultFraction * 10000))) {
      case (acc, (k, f)) =>
        when(col(keyCol) === k, lit(math.round(f * 10000))).otherwise(acc)
    }
    df.filter(bucket < threshold)
  }

  /** Binned range self-join: for each event, count other events within
    * ±windowSeconds — a PURE range predicate, which Spark would
    * otherwise plan as a broadcast-nested-loop O(n²) join. Binning
    * equi-izes it: probe rows replicate into the 3 adjacent bins of
    * width `windowSeconds`, the join becomes a hash join on bin id, and
    * the exact range predicate filters inside each bin. Fan-out is
    * 3×|probe| + true-neighbor pairs — data-density-bounded, never n².
    * The same shape handles any interval/tolerance join (spatial grids,
    * numeric tolerance matching) at 100 TB.
    */
  def binnedRangeCount(events: DataFrame, idCol: String, tsCol: String,
      windowSeconds: Long): DataFrame = {
    val sec = unix_timestamp(col(tsCol))
    val bin = floor(sec / lit(windowSeconds))
    val a = events.filter(col(tsCol).isNotNull)
      .select(col(idCol).as("a_id"), sec.as("a_sec"), bin.as("a_bin"))
    val b = events.filter(col(tsCol).isNotNull)
      .select(col(idCol).as("b_id"), sec.as("b_sec"),
        explode(array(bin - 1, bin, bin + 1)).as("b_bin"))
    a.join(b,
        a("a_bin") === b("b_bin") &&
          abs(a("a_sec") - b("b_sec")) <= windowSeconds &&
          a("a_id") =!= b("b_id"),
        "left")
      .groupBy(col("a_id").as(idCol))
      .agg(count(col("b_id")).as("n_nearby"))
  }

  /** Regular-grid resampling with forward fill — the time-series
    * feature-engineering primitive (one row per (key, step) even where
    * no events landed; gaps carry the last observation forward).
    * Grid materialization is explode(sequence(min..max)) per key —
    * rows = key-count · range/step, independent of event count; the
    * fill is one watermark-free window whose state is a single value
    * carried through the per-key sort.
    *
    * THE SCALE DEFAULT: slot means are a plain algebraic `avg` — the
    * aggregation state per (key, slot) is (sum, count) regardless of
    * how many events land in a hot slot. The oracle-facing flavor with
    * order-deterministic folds is [[resampleFfillPortable]] (the
    * labelCentroids / simhash convention).
    */
  def resampleFfill(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, stepSeconds: Long): DataFrame =
    gridFfill(
      slottedEvents(events, keyCol, tsCol, valueCol, stepSeconds)
        .agg(avg(col(valueCol).cast("double")).as("v")),
      keyCol, stepSeconds)

  /** Oracle-portable flavor of [[resampleFfill]]: slot values are
    * ORDER-DETERMINISTIC means (fold over (id, value) pairs sorted per
    * slot) emitted raw — round(avg(...), n) is oracle-fragile when
    * averages land on rounding boundaries (see labelCentroids), and the
    * unordered sum is not bit-reproducible across partitionings. Per-
    * slot state holds the slot's value list — bounded by events/slot,
    * so use [[resampleFfill]] (bounded state at any slot size) as the
    * default and this flavor where bit-reproducibility matters.
    */
  def resampleFfillPortable(events: DataFrame, keyCol: String,
      tsCol: String, idCol: String, valueCol: String,
      stepSeconds: Long): DataFrame =
    gridFfill(
      slottedEvents(events, keyCol, tsCol, valueCol, stepSeconds)
        .agg(sort_array(collect_list(struct(col(idCol).as("k"),
          col(valueCol).cast("double").as("x")))).as("__ps"))
        .select(col(keyCol), col("slot"),
          (aggregate(col("__ps"), lit(0.0),
            (acc, p) => acc + p.getField("x"))
            / size(col("__ps"))).as("v")),
      keyCol, stepSeconds)

  /** Shared head of the resample flavors: bucket events into step-
    * aligned epoch slots, dropping rows a mean must ignore (null-valued
    * events would null-poison the portable fold; avg() skips them).
    */
  private def slottedEvents(events: DataFrame, keyCol: String,
      tsCol: String, valueCol: String,
      stepSeconds: Long): RelationalGroupedDataset = {
    val sec = unix_timestamp(col(tsCol))
    val slot = (sec - pmod(sec, lit(stepSeconds))).as("slot")
    events
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol), slot)
  }

  /** Shared tail of the resample flavors: materialize the per-key
    * min..max slot grid and forward-fill the slot means over it. */
  private def gridFfill(slotted: DataFrame, keyCol: String,
      stepSeconds: Long): DataFrame = {
    val grid = slotted.groupBy(col(keyCol))
      .agg(min(col("slot")).as("__lo"), max(col("slot")).as("__hi"))
      .select(col(keyCol),
        explode(sequence(col("__lo"), col("__hi"), lit(stepSeconds)))
          .as("slot"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("slot"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(slotted, Seq(keyCol, "slot"), "left")
      .select(col(keyCol),
        date_format(timestamp_seconds(col("slot")), "yyyy-MM-dd HH:mm:ss")
          .as("slot_ts"),
        col("v"),
        last(col("v"), ignoreNulls = true).over(w).as("v_ffill"))
  }

  /** Winsorization: clip a measure to its per-group [pLo, pHi] exact
    * quantiles — the outlier treatment that keeps rows (unlike a
    * filter) while bounding the tails feature-wise. Composition of
    * groupedQuantiles (2 scans, bounded state) + a broadcast-joined
    * clamp; adds `<col>_clipped` alongside the original.
    */
  def winsorize(df: DataFrame, grp: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    val q = groupedQuantiles(df, grp,
        Seq((valueCol, pLo, "__qlo"), (valueCol, pHi, "__qhi")))
      .withColumnRenamed(grp, "__grp")
    // null-safe join: rows in a null group must survive (and clip
    // against that group's quantiles), not vanish through an equi join
    df.join(broadcast(q), col(grp) <=> col("__grp"), "left")
      .withColumn(s"${valueCol}_clipped",
        least(greatest(col(valueCol), col("__qlo")), col("__qhi")))
      .drop("__grp", "__qlo", "__qhi")
  }

  /** Fixed-width histogram of a measure over [lo, hi): `nBuckets`
    * equal bins plus explicit underflow (bucket -1) and overflow
    * (bucket = nBuckets) rows — the distribution-profiling primitive
    * behind length/quality/score dashboards. One hash aggregate over a
    * per-row bucket expression; state is ≤ nBuckets + 2 groups
    * regardless of row count, so the plan is a map-side-combined
    * single shuffle at any scale. The in-range bucket index is clamped
    * with least(): (v-lo)/width can round UP to nBuckets when v sits
    * one ulp under hi. Bin edges are recomputed from the index (self-
    * describing output; out-of-range rows carry null edges). Null
    * measures are excluded — they belong in a null-count profile, not
    * a bin. Output: (bucket, bucket_lo, bucket_hi, n).
    */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      nBuckets: Int): DataFrame = {
    require(nBuckets > 0 && hi > lo, "need hi > lo and nBuckets > 0")
    val width = (hi - lo) / nBuckets
    val v = col(valueCol).cast("double")
    val bucket = when(v < lo, lit(-1L))
      .when(v >= hi, lit(nBuckets.toLong))
      .otherwise(least(floor((v - lit(lo)) / lit(width)).cast("long"),
        lit(nBuckets - 1L)))
    val inRange = col("bucket") >= 0 && col("bucket") < nBuckets
    df.filter(v.isNotNull)
      .select(bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        when(inRange, lit(lo) + col("bucket") * lit(width)).as("bucket_lo"),
        when(inRange, lit(lo) + (col("bucket") + 1) * lit(width))
          .as("bucket_hi"),
        col("n"))
  }

  /** Per-group z-score outlier flagging: every row gains its group's
    * standardized score and an |z| > threshold flag — the numeric
    * outlier gate of a curation pipeline (winsorize bounds values;
    * this marks rows for inspection or removal). THE SCALE DEFAULT:
    * group stats are algebraic avg/stddev_pop — (sum, sum², n) state
    * per group at any group size — broadcast back onto the rows, which
    * never shuffle. Degenerate groups (one row, or all-equal values ⇒
    * sd = 0) get z = null / is_outlier = false: no division blow-up.
    * Output: input columns + (z, is_outlier).
    */
  def zscoreOutliers(df: DataFrame, grp: String, valueCol: String,
      threshold: Double): DataFrame =
    zscoreAgainstStats(df, zscoreStats(df, grp, valueCol), grp, valueCol,
      threshold)

  /** The frozen per-group (mean, sd) table behind [[zscoreOutliers]] —
    * the PERSISTABLE artifact of the anomaly pipeline (the
    * selfInfoModel convention): fit ONCE on the reference window,
    * write to parquet, then score any batch ([[zscoreAgainstStats]])
    * or stream (StreamOps.zscoreAgainstStats) against it without
    * re-reading the history. Algebraic avg/stddev_pop — (sum, sum²,
    * n) state per group at any group size, THE SCALE DEFAULT. Columns
    * deliberately internal-named (__grp, __mu, __sd) so scoring joins
    * never collide with user data. */
  def zscoreStats(df: DataFrame, grp: String, valueCol: String): DataFrame =
    df.groupBy(col(grp))
      .agg(avg(col(valueCol).cast("double")).as("__mu"),
        stddev_pop(col(valueCol).cast("double")).as("__sd"))
      .withColumnRenamed(grp, "__grp")

  /** Oracle-portable flavor of [[zscoreOutliers]]: group mean and
    * variance from ORDER-DETERMINISTIC folds over the group's sorted
    * value list (bit-reproducible across engines and partitionings —
    * the resampleFfill/labelCentroids convention), at the cost of
    * per-group state holding the value list. Use the algebraic default
    * at scale; spec proves 1e-9 agreement.
    */
  def zscoreOutliersPortable(df: DataFrame, grp: String, valueCol: String,
      threshold: Double): DataFrame =
    zscoreAgainstStats(df, zscoreStatsPortable(df, grp, valueCol), grp,
      valueCol, threshold)

  /** Oracle-portable flavor of [[zscoreStats]]: mean and variance from
    * ORDER-DETERMINISTIC folds over each group's sorted value list —
    * bit-reproducible across engines, per-group state holds the list.
    * Fit THIS flavor when frozen stats must replay in an external
    * system/oracle; [[zscoreStats]] everywhere else. */
  def zscoreStatsPortable(df: DataFrame, grp: String,
      valueCol: String): DataFrame =
    df.groupBy(col(grp))
      .agg(sort_array(collect_list(col(valueCol).cast("double")))
        .as("__vs"))
      .select(col(grp).as("__grp"), col("__vs"),
        (aggregate(col("__vs"), lit(0.0), _ + _) / size(col("__vs")))
          .as("__mu"))
      .select(col("__grp"), col("__mu"),
        sqrt(aggregate(col("__vs"), lit(0.0),
          (acc, x) => acc + (x - col("__mu")) * (x - col("__mu")))
          / size(col("__vs"))).as("__sd"))

  /** Score rows against a FROZEN [[zscoreStats]] table — the arrival
    * path (the scoreAgainstModel pattern): the stats stay fixed while
    * new batches or streams are standardized against them. Broadcast
    * join (null-safe on the group key) + per-row expressions — no
    * shuffle of the scored rows, no state, so the SAME operator runs
    * on a streaming frame (StreamOps.zscoreAgainstStats). Groups
    * absent from the stats (novel keys) and degenerate groups (sd=0)
    * get z = null / is_outlier = false. [[zscoreOutliers]] is this
    * operator with stats fit on the scored frame itself. */
  def zscoreAgainstStats(df: DataFrame, stats: DataFrame, grp: String,
      valueCol: String, threshold: Double): DataFrame = {
    val taken = Seq("__grp", "__mu", "__sd", "z", "is_outlier")
      .filter(df.columns.contains)
    require(taken.isEmpty,
      s"input already has ${taken.mkString("/")} column(s) — rename " +
        "them; z/is_outlier are zscoreAgainstStats' output columns and " +
        "__grp/__mu/__sd are the stats table's reserved names (a " +
        "pre-existing column would be silently overwritten or make the " +
        "stats join ambiguous)")
    df.join(broadcast(stats), col(grp) <=> col("__grp"), "left")
      .withColumn("z",
        when(col("__sd") > 0,
          (col(valueCol).cast("double") - col("__mu")) / col("__sd")))
      .withColumn("is_outlier",
        coalesce(abs(col("z")) > threshold, lit(false)))
      .drop("__grp", "__mu", "__sd")
  }

  /** Deterministic global training order: a stable pseudo-random
    * permutation of the dataset, assigned as a dense rank — the
    * "shuffle the corpus before epoch 0" step, reproducible across
    * reruns, engines, and partitionings because the sort key is a
    * content hash of (seed, id), not a random draw. Changing the seed
    * is a fresh permutation; the id tie-break makes the order total
    * even under hash collisions. Built on [[withScalableOrdinal]] —
    * ONE range-partitioned sort, no global coordination beyond it.
    */
  def trainingOrder(df: DataFrame, idCol: String, seed: String,
      rankName: String = "shuffle_rank"): DataFrame =
    withScalableOrdinal(
      df.withColumn("__shuffle_key",
        md5(concat(lit(seed), lit("|"), col(idCol).cast("string")))),
      Seq(col("__shuffle_key"), col(idCol)), rankName)
      .drop("__shuffle_key")

  /** One-pass column profiling: per requested column, row count, null
    * count, and EXACT distinct count — the dataset health check before
    * any curation decision (schema drift, null explosions, key
    * collapse). Columns are stringified and unpivoted so the plan is
    * one narrow generate + ONE hash aggregate keyed by column name —
    * no per-column job, and none of the expand-operator blowup of
    * multi-column countDistinct in a single agg. Row volume into the
    * agg is rows × columns but two fields wide, map-side combined.
    * Stringification stays engine-internal (the output carries counts,
    * never values), so counts are exact for any round-trippable type.
    *
    * THE ORACLE FLAVOR: exact countDistinct shuffles the distinct
    * (col_name, value) set — for a unique-key column that is every row
    * of the table. Use [[profileApprox]] as the scale default (the
    * simhash/centroids/zscore flavor convention); this exact form is
    * the cross-engine-checkable one.
    * Output: (col_name, n_rows, n_nulls, n_distinct).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    profileAgg(df, cols, countDistinct(col("val")))

  /** THE SCALE DEFAULT flavor of [[profile]]: n_distinct from an
    * `approx_count_distinct` HLL++ sketch (relative error `rsd`,
    * default 5%). State per (column) group is one fixed-size sketch
    * regardless of cardinality — no distinct-value shuffle, so a
    * unique-key column costs the same as a constant one. Same output
    * schema as [[profile]]; spec bounds the relative error against the
    * exact flavor. */
  def profileApprox(df: DataFrame, cols: Seq[String],
      rsd: Double = 0.05): DataFrame =
    profileAgg(df, cols, approx_count_distinct(col("val"), rsd))

  /** Shared unpivot + single hash-agg body of the profile flavors. */
  private def profileAgg(df: DataFrame, cols: Seq[String],
      distinctAgg: Column): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    df.select(cols.map(c => col(c).cast("string").as(c)): _*)
      .unpivot(Array.empty[Column], cols.map(col).toArray,
        "col_name", "val")
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_nulls"),
        distinctAgg.as("n_distinct"))
  }

  /** Per-key contribution cap: keep at most `n` rows per key, chosen
    * by a deterministic order — the curation primitive that stops one
    * source/domain/user from dominating a training set. Window state is
    * one counter per key; rows beyond the cap stream out of the sort
    * without materializing. (A TopK-aggregate formulation ships only k
    * rows per task when n is small and rows are wide — this window form
    * keeps ALL columns without a self-join back.)
    */
  def capPerKey(df: DataFrame, keyCol: String, orderCols: Seq[Column],
      n: Int, ordinalName: String = "rn"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
    df.withColumn(ordinalName, row_number().over(w).cast("long"))
      .filter(col(ordinalName) <= n)
  }

  /** Tolerant column-subset projection (reference P7: the dashboard
    * selects display columns, skipping absent ones —
    * taxi_dashboard.py:143-152): select the requested columns that
    * exist, in request order. */
  def selectPresent(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    df.select(cols.filter(present).map(col): _*)
  }

  /** Explicitly salted equi-join for skewed keys: the skewed left side
    * scatters each row into one of `salt` sub-keys (deterministic hash
    * of `saltBy` — use a per-row unique column), the right side
    * replicates `salt`× so every sub-key finds its match. Result is
    * EXACTLY the plain join; a hot key's rows now land on `salt`
    * reducers instead of one. AQE's skew-join split handles sort-merge
    * skew automatically — this operator is for when the skew sits in a
    * non-AQE-splittable spot (e.g. feeding an aggregation that must
    * stay co-partitioned) or AQE is off. Cost: right side ×salt.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, saltBy: Column, salt: Int): DataFrame = {
    val l = left.withColumn("__salt", pmod(xxhash64(saltBy), lit(salt.toLong)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(salt.toLong - 1))))
    l.join(r, l(leftKey) === r(rightKey) && l("__salt") === r("__salt"))
      .drop("__salt")
  }

  /** Mergeable distinct-count sketches (DataSketches HLL): one sketch
    * per key, plus the estimate. Unlike approx_count_distinct's opaque
    * buffer, the SKETCH ITSELF is a first-class binary column —
    * persist per-partition/per-day sketches once and answer any later
    * rollup by hll_union without rescanning the data: the pattern that
    * makes distinct-counting 100 TB-cheap (reaggregation cost is
    * sketch-count, not row-count).
    */
  def hllSketches(df: DataFrame, key: String, valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(col(key))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
      .withColumn("estimate", hll_sketch_estimate(col("sketch")))

  /** Roll per-key sketches up to one global estimate — no data rescan,
    * input is the sketch table. */
  def hllMergedEstimate(sketches: DataFrame,
      sketchCol: String = "sketch"): DataFrame =
    sketches.agg(
      hll_sketch_estimate(hll_union_agg(col(sketchCol), lit(false)))
        .as("merged_estimate"))

  /** Bloom-filter semi-join reduction: build a bloom filter over the
    * right side's keys (one aggregate collapsing to a single bitmap),
    * broadcast it, and prefilter the left side BEFORE the real semi
    * join. The result is EXACT — bloom filters have no false negatives,
    * and the false positives that survive the prefilter are removed by
    * the semi join — but the left side entering the shuffle shrinks to
    * the true matches plus the false-positive rate. At 100 TB this is
    * the difference between shuffling the full probe table and shuffling
    * ~|matches| rows; it's the hand-rolled form of Spark's own runtime
    * row-level filtering, usable when the optimizer doesn't inject it.
    *
    * NOTE: EAGER — composing this operator runs one Spark job (the
    * bloom build over `right`, [[bloomBitmap]]); the returned frame is
    * lazy as usual.
    */
  def bloomSemiJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, expectedItems: Long, numBits: Long): DataFrame = {
    val bitmap = bloomBitmap(right, Seq(col(rightKey)), expectedItems,
      numBits)
    left
      .filter(bloomMightContain(bitmap, Seq(col(leftKey))))
      .join(right.select(col(rightKey)), col(leftKey) === col(rightKey),
        "left_semi")
  }

  /** EAGER half of the Bloom prefilter: one aggregate job folds
    * `xxhash64(keys)` over `df` into a serialized bitmap (Spark's
    * BloomFilterAggregate; `numBits` is capped by
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`). One row,
    * numBits/8 bytes, comes to the driver so it can re-enter plans as
    * the foldable literal [[bloomMightContain]] requires — the same
    * shape Spark's injected runtime filter gets from a reused subquery
    * result. Null when `df` is empty. */
  def bloomBitmap(df: DataFrame, keys: Seq[Column], expectedItems: Long,
      numBits: Long): Array[Byte] = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.agg(call_function("graft_bloom_agg", xxhash64(keys: _*),
        lit(expectedItems), lit(numBits)))
      .head().getAs[Array[Byte]](0)
  }

  /** Lazy half: a codegen'd predicate that is false only for rows whose
    * `xxhash64(keys)` is definitely not in `bitmap` (no false
    * negatives; a null bitmap — empty build side — rejects every
    * row). `keys` must match the build's key types in order. */
  def bloomMightContain(bitmap: Array[Byte], keys: Seq[Column]): Column =
    call_function("graft_might_contain", lit(bitmap), xxhash64(keys: _*))

  /** As-of join (merge formulation): for each left row, the single
    * latest right row with rightTs <= leftTs under the equi-key, ties
    * broken by `rightTie` descending.
    *
    * Instead of a range join (whose fan-out is every candidate right
    * row per left row) this UNIONS both sides into one stream per key,
    * sorts it by (ts, side, tie), and carries the most recent right row
    * forward with last(ignoreNulls) over a running window — the
    * distributed analog of a merge as-of. ONE shuffle (by the key) and
    * one sort; no join, no candidate blow-up, no aggregate. Right rows
    * sort before left rows at equal ts (<= semantics) and ascending tie
    * order makes `last` pick the max tie.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftId: String, leftKey: String, leftTs: String,
      rightKey: String, rightTs: String, rightTie: String): DataFrame = {
    val rightCols = right.columns.toSeq
    val l = left
      .withColumn("__key", col(leftKey))
      .withColumn("__t", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__tie", lit(null).cast(right.schema(rightTie).dataType))
      .withColumn("__r", lit(null).cast(
        org.apache.spark.sql.types.StructType(right.schema.fields)))
    val r = right
      .withColumn("__key", col(rightKey))
      .withColumn("__t", col(rightTs))
      .withColumn("__side", lit(0))
      .withColumn("__tie", col(rightTie))
      .withColumn("__r", struct(rightCols.map(col): _*))
    val lCols = left.columns.toSeq
    val both = l.select(
      (lCols.map(col) ++ Seq(col("__key"), col("__t"), col("__side"),
        col("__tie"), col("__r"))): _*)
      .unionByName(r.select(
        (lCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          Seq(col("__key"), col("__t"), col("__side"), col("__tie"),
            col("__r"))): _*))
    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__t"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, 0)
    both
      .withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(lCols.map(col) ++
        rightCols.map(c => col(s"__asof.$c").as(c)): _*)
  }
}
