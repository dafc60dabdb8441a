package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Iterative graph analytics over edge lists — the PageRank-family
  * complement to [[Dedup.duplicateClusters]]' connected components.
  * A link-structure prior (which domains/hosts are reputable) is a
  * standard feature in web-corpus curation (e.g. harmonic/PageRank
  * centrality in Common Crawl's host ranking), so the engine ships it
  * as a first-class distributed operator.
  */
object Graph {

  /** Fixed-iteration PageRank over a directed edge list (columns
    * `src`, `dst`; parallel edges should be pre-deduped by the caller
    * — each surviving row counts as one link).
    *
    * Semantics are GraphX's `staticPageRank` normalization: every node
    * starts at 1/N; each round
    * rank(v) ← (1−α)/N + α·Σ_{u→v} rank(u)/outdeg(u); dangling-node
    * mass is NOT redistributed (it decays, exactly as in GraphX) —
    * the documented, cheap variant: redistribution would cost a
    * global rank-sum broadcast per round for a constant factor nobody
    * ranks by.
    *
    * Scale shape: per round ONE edges⋈ranks equi-join on src (both
    * sides shuffle-partitioned by the join key; outdeg rides the same
    * key) + ONE groupBy(dst) aggregate + the node-spine left join.
    * Lineage is truncated per round (localCheckpoint — the
    * duplicateClusters convention: an un-truncated loop doubles the
    * plan per round), intermediates released eagerly. Nothing
    * driver-side scales with the graph; iteration count is the only
    * loop bound, fixed by the caller.
    *
    * Determinism: ranks are built from correctly-rounded IEEE ops only
    * (1/N, rank/deg, ·α, +) — no libm — so with `portable = true`
    * (ordered in-neighbor folds, per-node state bounded by in-degree)
    * the result is BIT-IDENTICAL across engines and partitionings with
    * no rounding anywhere. Default `portable = false` sums
    * algebraically (the scale default: (sum) state per node at any
    * in-degree, ±ulp order noise).
    *
    * Output: (node, rank) — one row per node. */
  def pageRank(edges: DataFrame, iters: Int, alpha: Double = 0.85,
      portable: Boolean = false): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    require(alpha > 0 && alpha < 1, s"pageRank: alpha out of (0,1): $alpha")
    // a NULL endpoint is a malformed edge, not a node: it would enter
    // the node spine via distinct() yet never match the src equi-join —
    // a phantom node holding teleport mass. Drop such edges up front.
    val e = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint(true)
    try {
      val nodes = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct()
      val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
      val n1 = nodes.agg(count(lit(1)).as("__n"))
      val fold: Column => Column =
        if (portable)
          c => aggregate(sort_array(collect_list(c)), lit(0.0), _ + _)
        else c => sum(c)
      var ranks = nodes.crossJoin(broadcast(n1))
        .select(col("node"),
          (lit(1.0) / col("__n").cast("double")).as("rank"),
          col("__n"))
        .localCheckpoint(true)
      var it = 0
      while (it < iters) {
        val contribs = e
          .join(ranks.select(col("node"), col("rank")),
            e("src") === col("node"))
          .join(outdeg, "src")
          .select(col("dst").as("node"),
            (col("rank") / col("__deg").cast("double")).as("__c"))
        val sums = contribs.groupBy(col("node"))
          .agg(fold(col("__c")).as("__in"))
        val next = ranks.select(col("node"), col("__n"))
          .join(sums, Seq("node"), "left")
          .select(col("node"),
            ((lit(1.0) - lit(alpha)) / col("__n").cast("double") +
              lit(alpha) * coalesce(col("__in"), lit(0.0))).as("rank"),
            col("__n"))
          .localCheckpoint(true)
        Checkpoints.releaseIntermediate(ranks)
        ranks = next
        it += 1
      }
      // hand the caller a frame whose blocks it owns (the
      // duplicateClusters hand-off convention)
      val out = ranks.select(col("node"), col("rank"))
        .localCheckpoint(true)
      Checkpoints.releaseIntermediate(ranks)
      out
    } finally Checkpoints.releaseIntermediate(e)
  }

  /** Exact per-node triangle counts + local clustering coefficient over
    * an undirected edge list — the classic "compact-forward" /
    * degree-ordered node-iterator (Latapy 2008; the algorithm behind
    * every distributed triangle count since Suri & Vassilvitskii's
    * MR-graph paper), expressed as three equi-joins.
    *
    * Input rows are treated as undirected: (src,dst) is canonicalized
    * to (a < b) and deduped; self-loops and NULL endpoints drop.
    *
    * Scale shape — the whole point of the degree ordering: wedges are
    * enumerated only at each edge's LOWER-(degree, id) endpoint, so a
    * celebrity node with degree d contributes O(d) oriented in-edges
    * but almost no oriented out-edges — the wedge fan-out per node is
    * bounded by its oriented out-degree (O(√m) on any graph), never by
    * its raw degree. Without this, one d=10⁶ hub yields 10¹² wedge
    * rows at 100 TB; with it, the same hub yields ~0. The closing-edge
    * check is an equi-join of wedges against the canonical edge set on
    * the (min, max) endpoint pair — shuffle-partitioned both sides,
    * no broadcast of anything data-sized.
    *
    * Output: (node, degree, n_tri, clustering) — one row per node with
    * degree ≥ 1; `clustering` = 2·T/(d·(d−1)) rounded to 4 (0.0 when
    * d < 2), integer columns BIGINT. Deterministic: counts are exact
    * integers.
    *
    * `apexWaves` (round-16 sf10 probe finding) bounds PEAK SPILL, not
    * work: the closing join's shuffle is Θ(wedges) — exactly linear in
    * copy-scaled data (measured: 41.1M wedges at sf0.1 → 4.11B at
    * sf10 ×100) but ~130 GB of shuffle at sf10, which one machine's
    * scratch disk cannot hold even though a 1000-executor cluster
    * carries it at ~130 MB/executor. With apexWaves = W the apex set
    * is hash-partitioned into W disjoint waves, each wave's wedges
    * enumerate + close + reduce to per-node partial counts (eagerly
    * checkpointed — node-bounded), and the wave's dead wedge shuffle
    * is reclaimed before the next begins: peak disk ≈ wedges/W, the
    * result bit-identical (every apex lands in exactly one wave; the
    * final per-node sum reassembles corners across waves). W = 1 (the
    * default, and the right setting on a real cluster) is the
    * one-wave plan over the same pinned tables. */
  def triangleCounts(edges: DataFrame, apexWaves: Int = 1): DataFrame = {
    require(apexWaves >= 1, s"apexWaves must be >= 1, got $apexWaves")
    val canon0 = edges
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    // pin canon/deg/oriented (all edge-bounded) so the distinct /
    // degree / orientation work runs ONCE. r18 finding: at W=1 the
    // un-pinned plan re-derives canon for every consumer — exchange
    // reuse does NOT fire across them (each consumer pushes different
    // filters into the shared subtree, breaking canonicalized
    // equality) — so the runtime plan scanned the edge source 31
    // times and re-ran the distinct ~6 times (final-plan audit,
    // plans/r18). Pinning cut sf0.1 wall ~25% (interleaved trials,
    // bit-identical output) and at 100 TB turns 31 scans of the edge
    // table into 2.
    val canon = canon0.localCheckpoint(true)
    val deg = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .localCheckpoint(true)
    // orient each canonical edge from its lower-(degree, id) endpoint
    val lowFirst = canon
      .join(deg.select(col("node").as("a"), col("degree").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("__db")), "b")
      .select(col("a"), col("b"),
        (col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b"))).as("__fwd"))
    val oriented = lowFirst.select(
      when(col("__fwd"), col("a")).otherwise(col("b")).as("src"),
      when(col("__fwd"), col("b")).otherwise(col("a")).as("dst"))
      .localCheckpoint(true)
    // BLOOM PREFILTER on the closing join's big side (guide §3.2,
    // r19): the wedge table is ~45× the edge table (41M wedges vs
    // ~0.9M canonical edges at sf0.1) and MOST wedges do not close —
    // yet the un-filtered plan shuffled and sorted every wedge into a
    // SortMergeJoin against canon. A Bloom filter over
    // xxhash64(a, b) of the canonical edges (one count job + one
    // aggregate job over the pinned canon, built once for every wave)
    // drops definitely-non-closing wedges BEFORE the exchange; false
    // positives only cost a little extra shuffle and the join still
    // runs, so the output is bit-identical (no false negatives).
    // Measured interleaved at sf0.1: 5.5-6.4 s → 3.6-4.1 s (−35%).
    // Sized from the exact edge count at 3% fpp; Spark's
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits caps the
    // bitmap (8 MB by default). A shuffled-hash hint on the closing
    // join measured a WASH post-Bloom (3.5-4.3 s vs 3.6-4.1 s) and
    // adds build-side OOM exposure at scale — not kept (guide §1.2:
    // config only after algorithm).
    val nEdges = math.max(canon.count(), 1L) // sizes must be positive
    val closing = Relational.bloomBitmap(canon, Seq(col("a"), col("b")),
      nEdges, BloomFilter.optimalNumOfBits(nEdges, 0.03))
    // wedges at the low endpoint; closing edge looked up in canonical
    // (a < b) form because orientation does not preserve id order
    def perNodeFor(wave: Int): DataFrame = {
      val keep =
        if (apexWaves == 1) lit(true)
        else pmod(xxhash64(col("src")), lit(apexWaves.toLong)) === wave
      val mine = oriented.where(keep)
      val e1 = mine.select(col("src").as("u"), col("dst").as("v"))
      val e2 = mine.select(col("src").as("u"), col("dst").as("w"))
      val wedges = e1.join(e2, Seq("u")).where(col("v") < col("w"))
        .where(Relational.bloomMightContain(closing, Seq(col("v"), col("w"))))
      val tris = wedges.join(
        canon.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"))
      tris
        .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    }
    val perNode =
      if (apexWaves == 1) perNodeFor(0)
      else (0 until apexWaves).map { w =>
        // eager: the wave RUNS here, its partial (node-bounded) is
        // pinned, and the wave's wedge shuffle becomes garbage the
        // cleaner can reap before the next wave needs the disk
        val partial = perNodeFor(w).localCheckpoint(true)
        System.gc() // nudge ContextCleaner at the dead shuffle deps
        partial
      }.reduce(_ unionByName _)
        .groupBy(col("node")).agg(sum(col("n_tri")).as("n_tri"))
    // output stays LAZY over the pinned tables: a final eager
    // checkpoint + deterministic release measured SLOWER (8.6 vs 4.9 s
    // interleaved at sf0.1) — the pinned intermediates are edge-
    // bounded and the ContextCleaner reclaims them when the caller
    // drops the frame (the pre-existing W>1 convention)
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree").cast("long").as("degree"),
        coalesce(col("n_tri"), lit(0L)).cast("long").as("n_tri"),
        round(when(col("degree") >= 2,
          lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double") /
            (col("degree").cast("double") *
              (col("degree").cast("double") - lit(1.0))))
          .otherwise(lit(0.0)), 4).as("clustering"))
  }

  /** EXACT wedge count of the degree-ordered orientation — the size
    * of [[triangleCounts]]' closing-join shuffle, as one cheap
    * aggregate chain over the edge list (canonicalize → degrees →
    * orient → Σ d_out·(d_out−1)/2 over the oriented out-degree
    * table). The r16 sf10 probe proved wedge volume exactly linear in
    * copy-scaled data (41.1M at sf0.1 → 4,108,749,100 at ×100,
    * DuckDB-verified), which is what makes this count a trustworthy
    * sizing input — and it costs two aggregates over the edge list,
    * nothing wedge-sized ever materializes. */
  def wedgeCount(edges: DataFrame): Long = {
    val canon = edges
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val outDeg = canon
      .join(deg.select(col("node").as("a"), col("degree").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("__db")), "b")
      .select(when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("src"))
      .groupBy(col("src")).agg(count(lit(1)).as("d_out"))
    // d_out·(d_out−1) is even, so the integer halving is exact;
    // decimal(38,0) before summing — a long sum could overflow on a
    // web-scale out-degree table
    val tot = outDeg
      .agg(sum((col("d_out") * (col("d_out") - lit(1L)))
        .cast("decimal(38,0)")).as("t"))
      .head().getDecimal(0)
    if (tot == null) 0L
    else tot.divide(java.math.BigDecimal.valueOf(2)).longValueExact()
  }

  /** Shuffle bytes one wedge row costs, measured at the r16 sf10
    * probe: ~130 GB of closing-join shuffle for 4.11B wedges ≈ 32
    * bytes/wedge (three BIGINT endpoints + row overhead, lz4-framed).
    */
  val BytesPerWedge = 32L

  /** Auto-sized [[triangleCounts]] — judge-r16 task 2: the sf10 run
    * needed a HAND-tuned apexWaves=6 against a known 78 GB scratch
    * budget; the exact wedge count is one cheap aggregate, so derive
    * W from it instead. W = ceil(wedges·[[BytesPerWedge]] /
    * spillBudgetBytes), floored at 1 — an UNLIMITED budget (the
    * default, and the right setting on a real cluster where the
    * shuffle spreads across executors) never pays the sizing pass and
    * runs the single-job W=1 plan; a budgeted single box gets exactly
    * the waves its disk needs, no knob. Output bit-identical to any
    * manual-W call (GraphSpec-pinned). */
  /** The pure sizing rule behind [[triangleCountsBudgeted]]:
    * ceil(wedges·[[BytesPerWedge]] / budget), floored at 1, capped at
    * 4096 waves (beyond that the per-wave re-scan of the oriented
    * table dominates — a budget that tight wants a cluster, not more
    * waves). Separated out so the spec pins W>1 firing EXACTLY when
    * the estimate exceeds the budget. */
  def autoApexWaves(wedges: Long, spillBudgetBytes: Long): Int = {
    require(spillBudgetBytes > 0,
      s"spillBudgetBytes must be positive, got $spillBudgetBytes")
    require(wedges >= 0, s"wedges must be >= 0, got $wedges")
    val bytes = // saturate instead of overflowing
      if (wedges > Long.MaxValue / BytesPerWedge) Long.MaxValue
      else wedges * BytesPerWedge
    val w = if (bytes <= 0L) 1L else 1L + (bytes - 1L) / spillBudgetBytes
    math.min(w, 4096L).toInt
  }

  def triangleCountsBudgeted(edges: DataFrame,
      spillBudgetBytes: Long = Long.MaxValue): DataFrame = {
    require(spillBudgetBytes > 0,
      s"spillBudgetBytes must be positive, got $spillBudgetBytes")
    val waves =
      if (spillBudgetBytes == Long.MaxValue) 1
      else autoApexWaves(wedgeCount(edges), spillBudgetBytes)
    triangleCounts(edges, waves)
  }

  /** Synchronous label propagation (Raghavan 2007) over an undirected
    * edge list — the cheap community detector: each node starts
    * labeled with its own id; each round every node adopts the label
    * most frequent among its NEIGHBORS, ties broken by MIN label.
    * Fully deterministic (the classic algorithm's random tie-break and
    * random visit order are replaced by total orders), so fixed-`iters`
    * output is reproducible across engines and partitionings — the
    * property the async textbook variant cannot offer. Communities are
    * density-driven, unlike [[Dedup.duplicateClusters]]' connectivity
    * components (one bridge edge merges two CC's; LPA keeps them
    * apart).
    *
    * Scale shape per round: ONE sym⋈labels equi-join on the neighbor
    * key + ONE (node, label) count aggregate + ONE per-node argmax
    * AGGREGATE (min over struct(−cnt, label) — max count, ties to the
    * min label; r17: this replaced a row_number window, which cost an
    * exchange PLUS a per-partition sort where the agg is map-side
    * combinable and sort-free). Per-node state is one struct. Lineage
    * truncated per round (the pageRank conventions); iteration count
    * is the only loop bound.
    *
    * Input rows are treated as undirected: canonicalized, deduped;
    * self-loops and NULL endpoints drop. Output: (node, label,
    * community_size) — size is the final label's member count. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1,
      s"labelPropagation: iters must be >= 1, got $iters")
    val canon = edges
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(true)
    try {
      val sym = canon.select(col("a").as("node"), col("b").as("nbr"))
        .unionByName(canon.select(col("b").as("node"), col("a").as("nbr")))
      var labels = sym.select(col("node")).distinct()
        .select(col("node"), col("node").as("label"))
        .localCheckpoint(true)
      var it = 0
      while (it < iters) {
        val counts = sym
          .join(labels.select(col("node").as("nbr"), col("label")), "nbr")
          .groupBy(col("node"), col("label"))
          .agg(count(lit(1)).as("__cnt"))
        // majority with min-label tie-break as ONE aggregate:
        // min(struct(−cnt, label)) — −cnt is overflow-safe (cnt ≥ 1)
        // where −label would not be; identical argmax to the window
        // formulation (ORDER BY cnt DESC, label ASC, row 1)
        val next = counts
          .groupBy(col("node"))
          .agg(min(struct((-col("__cnt")).as("nc"),
            col("label").as("l"))).as("__b"))
          .select(col("node"), col("__b").getField("l").as("label"))
          .localCheckpoint(true)
        Checkpoints.releaseIntermediate(labels)
        labels = next
        it += 1
      }
      val sizes = labels.groupBy(col("label"))
        .agg(count(lit(1)).as("community_size"))
      val out = labels.join(sizes, "label")
        .select(col("node"), col("label"), col("community_size"))
        .localCheckpoint(true)
      Checkpoints.releaseIntermediate(labels)
      out
    } finally Checkpoints.releaseIntermediate(canon)
  }
}
