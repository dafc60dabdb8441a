package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Document deduplication at training-pipeline scale: exact, MinHash+LSH,
  * n-gram Jaccard, and SimHash. All signature math is hash-based and
  * deterministic (md5, reproducible in the DuckDB oracle); nothing
  * collects to the driver; every stage is a shuffle-bounded groupBy/join.
  */
object Dedup {

  val ShingleN = 3

  /** (id, hashedShingle) rows: words materialized in their own
    * projection so the interpreted shingle lambda references an
    * attribute, not a re-executing regexp split (see TextFns.shingles
    * perf note); then distinct shingles hashed and exploded. */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
      hashFn: Column => Column, outName: String): DataFrame =
    df.select(col(idCol), TextFns.words(col(textCol)).as("__w"))
      .select(col(idCol),
        explode(transform(
          array_distinct(TextFns.shinglesOfWords(col("__w"), ShingleN)),
          hashFn)).as(outName))

  /** (id, shingle-hash) rows WITHOUT materializing shingle strings:
    * xxhash64 over the n-gram's words as separate arguments. For
    * operators that need only shingle IDENTITY (jaccard posting lists)
    * this skips per-shingle string building — measured 0.50 s vs
    * 0.88 s for the string form at sf0.1. MinHash/LSH stay on
    * shingleRows: their oracle reproduces md5(shingle-string) exactly.
    * Short docs collapse to one whole-text shingle (same contract as
    * TextFns.shinglesOfWords). */
  private def hashedShingleRows(df: DataFrame, idCol: String,
      textCol: String, n: Int, outName: String): DataFrame = {
    val w = col("__w")
    df.select(col(idCol), TextFns.words(col(textCol)).as("__w"))
      .select(col(idCol), explode(array_distinct(
        when(size(w) >= n,
          transform(sequence(lit(0), size(w) - n),
            i => xxhash64((1 to n).map(j => element_at(w, i + j)): _*)))
          .otherwise(array(xxhash64(array_join(w, " ")))))).as(outName))
  }

  /** Exact-dup groups keyed by the normalized-content fingerprint:
    * one row per distinct content with the surviving (minimum) id and
    * the duplicate count. A single hash aggregate — the 100 TB-safe
    * formulation of dropDuplicates (which keeps an arbitrary row;
    * min-id is deterministic).
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFns.fingerprint(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Corpus-level dedup stats: total vs distinct contents (exact; the
    * sketch-based variant lives in SparkEntry's q_approx_distinct). */
  def dedupStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_total"),
      countDistinct(TextFns.fingerprint(col(textCol))).as("n_distinct"))

  /** MinHash signatures: explode distinct shingles, hash each ONCE
    * (md5-derived 28-bit base), then ONE hash aggregate computing all k
    * affine-permutation minima (map-side partial aggregation makes this
    * a single shuffle keyed by doc id). Integer minima, not string —
    * k longs per shingle instead of k md5 computations.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val exploded = shingleRows(df, idCol, textCol,
      s => TextFns.shingleHash(s), "h")
    val aggs = (0 until k).map(i =>
      min(TextFns.minhashPerm(col("h"), i)).as(s"mh$i"))
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band hashes: k minhashes split into `bands` bands of k/bands
    * rows; each band hashed to one value. Output: (id, band, band_hash) —
    * candidate pairs are ids sharing any (band, band_hash) bucket.
    */
  def lshBands(df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    val sig = minhashSignatures(df, idCol, textCol, k)
    val bandCols = (0 until bands).map { b =>
      val rowCols = (b * r until (b + 1) * r).map(i => col(s"mh$i"))
      struct(lit(b).as("band"),
        md5(concat_ws("|", rowCols: _*)).as("band_hash"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"),
        col("bb.band_hash").as("band_hash"))
  }

  /** LSH candidate pairs, single-pass: group the band table by bucket,
    * collect each bucket's (sorted, distinct) ids, and expand a < b
    * pairs with array transforms — ONE aggregate instead of a self-join
    * that would recompute the whole minhash pipeline for both sides and
    * shuffle it twice.
    *
    * Scale: per-bucket state is a duplicate cluster, bounded by cluster
    * size, not corpus size; a pathological mega-cluster (m ids → m²/2
    * pairs from one bucket) is the signal to cap or sample upstream —
    * the same blow-up would hit the self-join formulation as join
    * fan-out.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, maxBucket: Int = 0,
      capMetrics: Option[Observation] = None): DataFrame = {
    val b = lshBands(df, idCol, textCol, k, bands)
    val buckets = b.groupBy(col("band"), col("band_hash"))
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
    expandPairs(capBuckets(buckets, "ids", maxBucket, capMetrics), "ids")
      .distinct()
  }

  /** Jaccard ESTIMATE from MinHash signatures for candidate pairs —
    * the refine stage that never re-reads TEXT: the estimator is the
    * fraction of the k permutations on which two signatures agree
    * (E[agreement] = J, the MinHash property), so refining a pair
    * costs k long comparisons against the signature table the LSH
    * index build already produces — no shingle posting lists, no text
    * scan, which at 100 TB means the refine touches k·8 bytes per doc
    * instead of documents (THAT form is
    * [[minhashJaccardEstimateFromSignatures]], fed the persisted
    * table; this convenience overload fits the signatures from text
    * in-query — the self-contained bench shape).
    * Standard error ≈ √(J(1−J)/k): at the
    * default k=16 this is coarse triage (thresholding obvious
    * dups/non-dups); raise k, or hand close calls to
    * [[jaccardPairs]] / [[editDistancePairs]]. Output:
    * (a_id, b_id, jaccard_est) — the estimate lives on the exact m/k
    * grid, so it is emitted raw (integer-count ÷ k is IEEE-exact in
    * any engine; no rounding needed).
    */
  def minhashJaccardEstimate(df: DataFrame, pairs: DataFrame,
      idCol: String, textCol: String, k: Int): DataFrame =
    minhashJaccardEstimateFromSignatures(
      minhashSignatures(df, idCol, textCol, k), pairs, idCol, k)

  /** [[minhashJaccardEstimate]] against an ALREADY-COMPUTED
    * [[minhashSignatures]] table — the production form that delivers
    * the operator's contract: the LSH build computes (and persists)
    * the signatures once, and the refine touches ONLY them — k longs
    * per doc, no text re-scan ([[minhashJaccardEstimate]] is this
    * with the signatures fit on the spot — the self-contained
    * bench/query shape). */
  def minhashJaccardEstimateFromSignatures(signatures: DataFrame,
      pairs: DataFrame, idCol: String, k: Int): DataFrame = {
    val sig = signatures.select(col(idCol),
      array((0 until k).map(i => col(s"mh$i")): _*).as("__sig"))
    pairs
      .join(sig.select(col(idCol).as("a_id"), col("__sig").as("__sa")),
        "a_id")
      .join(sig.select(col(idCol).as("b_id"), col("__sig").as("__sb")),
        "b_id")
      .select(col("a_id"), col("b_id"),
        (size(filter(zip_with(col("__sa"), col("__sb"), _ === _),
          b => b)).cast("double") / k).as("jaccard_est"))
  }

  /** Mega-bucket guard: cap every bucket's member array at `maxBucket`
    * elements via a DETERMINISTIC pseudo-random sample (members ordered
    * by their xxhash64, first maxBucket kept, re-sorted) — the scale
    * valve for a pathological cluster whose single bucket would expand
    * to m²/2 pairs and park one reducer for hours. Recall outside
    * capped buckets is untouched: the cap rewrites only arrays longer
    * than maxBucket. Hash-ordered sampling (not head-of-list) keeps
    * the sample unbiased w.r.t. id assignment, and identical across
    * runs/partitionings — reruns produce the same pairs. `maxBucket
    * <= 0` disables (exact mode, the oracle-checked configuration).
    * Pass an [[Observation]] to get (n_capped_buckets,
    * n_dropped_members) after the action completes — the WARN counter
    * without a second scan. */
  private def capBuckets(buckets: DataFrame, idsCol: String,
      maxBucket: Int, obs: Option[Observation]): DataFrame = {
    if (maxBucket <= 0) buckets
    else {
      require(maxBucket >= 2, "maxBucket must be >= 2 to emit any pair")
      val over = size(col(idsCol)) > maxBucket
      val observed = obs.map(o => buckets.observe(o,
        sum(when(over, 1L).otherwise(0L)).as("n_capped_buckets"),
        sum(when(over, size(col(idsCol)) - maxBucket).otherwise(0L))
          .as("n_dropped_members"))).getOrElse(buckets)
      observed.withColumn(idsCol,
        when(!over, col(idsCol)).otherwise(
          // order by member hash, keep maxBucket, restore sorted order
          // (expandPairs requires a SORTED array for a < b expansion)
          array_sort(slice(
            transform(
              array_sort(transform(col(idsCol),
                m => struct(xxhash64(m).as("o"), m.as("m")))),
              s => s.getField("m")),
            1, maxBucket))))
    }
  }

  /** All (a < b) pairs from rows holding a SORTED id array: two chained
    * generators (posexplode the anchor, explode the tail slice). Pairs
    * STREAM row-by-row through codegen — building the m²/2 pair array
    * per bucket as one value (the transform/flatten formulation) would
    * materialize a mega-bucket's entire pair set in a single allocation.
    */
  private def expandPairs(buckets: DataFrame, idsCol: String): DataFrame =
    buckets
      .select(col(idsCol), posexplode(col(idsCol)))
      .withColumnRenamed("col", "a_id")
      .select(col("a_id"),
        explode(slice(col(idsCol), col("pos") + 2, size(col(idsCol))))
          .as("b_id"))

  /** PREFIX-FILTERED exact Jaccard pair join — the PPJoin-style scale
    * flavor of [[jaccardPairs]], same output, far fewer candidates at
    * high thresholds. The inverted-index flavor generates a candidate
    * for EVERY shingle-sharing pair and filters after scoring; this
    * one exploits the prefix-filtering lemma: order every doc's
    * shingles by a GLOBAL rarest-first order (df asc, hash asc — no
    * global rank materialization, the (df, sh) struct IS the sort
    * key), keep only each doc's first n − ⌈t·n⌉ + 1 shingles as
    * postings, and pair docs through THOSE. Soundness (why no pair is
    * missed): if two docs share no prefix shingle, every shared
    * shingle lies in both suffixes, so |∩| ≤ ⌈t·min(na,nb)⌉ − 1 and
    * J ≤ t/(2−t) < t — any J ≥ t pair MUST collide in a prefix.
    * Survivors verify EXACTLY against the full shingle arrays
    * (array_intersect — no estimate anywhere). At t = 0.7 a doc posts
    * ~30% of its shingles instead of 100%, and candidate volume drops
    * quadratically with posting-list length — while the answer stays
    * the exact one, unlike LSH banding which trades recall.
    * Spec-pinned equal to [[jaccardPairs]] row-for-row at the same
    * (t, maxDocFreq); df-cap semantics identical (cap applies before
    * sizes and ordering). */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, maxDocFreq: Long = 0L): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      "minJaccard must be in (0, 1] — prefix filtering needs a " +
        "positive threshold")
    val (docs, _) =
      prefixPostings(df, idCol, textCol, minJaccard, maxDocFreq)
    // EXACT-DUPLICATE COLLAPSE (the round-16 sf10 probe finding):
    // jaccard and prefix-candidacy are pure functions of the shingle
    // SET, so docs with identical sets collapse to one representative
    // before any pair forms, and the full answer reconstructs exactly
    // afterwards. Without this, duplicate-heavy corpora (ScaleGen ×100
    // = 100 byte-identical copies per doc; real crawls are qualitatively
    // the same) pay Σ C(copies·df, 2) candidate rows per prefix shingle
    // AND ship two full shingle arrays per candidate through the verify
    // join — the sf10 probe measured that at > 78 GB of spill. With the
    // collapse, candidate generation + array verify run on DISTINCT
    // CONTENTS (the sf0.1-sized problem at any copy depth); only the
    // answer itself — (a, b, jaccard) triples — is copy-quadratic,
    // because it IS. Within-group pairs are jaccard-1 by definition and
    // are emitted algebraically, never verified.
    val sig = md5(concat_ws(",",
      transform(col("__toks"), _.getField("sh").cast("string"))))
    val groups = docs
      .select(col("doc"), sig.as("__sig"), col("__toks"), col("__n"))
      .groupBy(col("__sig"))
      .agg(sort_array(collect_list(col("doc"))).as("__members"),
        min(col("doc")).as("__rep"),
        first(col("__toks")).as("__toks"), first(col("__n")).as("__n"))
      // eager pin: the group frame feeds FOUR consumers (reps, both
      // expansion sides, within-group pairs) — without it the shingle
      // scan + group agg re-run per consumer (the withScalableOrdinal
      // convention; frame is distinct-content-bounded)
      .localCheckpoint(true)
    val reps = groups.select(col("__rep").as("doc"), col("__toks"),
      col("__n"))
    val pLen = greatest(
      (col("__n") - ceil(col("__n") * minJaccard - 1e-9) + 1)
        .cast("int"),
      lit(1))
    val prefixes = reps
      .select(col("doc"), explode(slice(col("__toks"), lit(1), pLen))
        .as("p"))
      .select(col("doc"), col("p.sh").as("sh"))
    val cands = expandPairs(
      prefixes.groupBy(col("sh"))
        .agg(sort_array(collect_set(col("doc"))).as("ids"))
        .filter(size(col("ids")) > 1),
      "ids").distinct()
    val full = reps.select(col("doc"),
      transform(col("__toks"), _.getField("sh")).as("__arr"),
      col("__n"))
    val repPairs = cands
      .join(full.select(col("doc").as("a_id"), col("__arr").as("__aa"),
        col("__n").as("na")), "a_id")
      .join(full.select(col("doc").as("b_id"), col("__arr").as("__ba"),
        col("__n").as("nb")), "b_id")
      .withColumn("i",
        size(array_intersect(col("__aa"), col("__ba"))).cast("long"))
      .withColumn("jaccard",
        round(col("i") / (col("na") + col("nb") - col("i")), 4))
      .filter(col("i") / (col("na") + col("nb") - col("i"))
        >= minJaccard)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    // cross-group expansion: every member pair inherits its
    // representatives' jaccard (identical sets); ids re-ordered so
    // a_id < b_id regardless of how the groups interleave
    val memA = groups.select(col("__rep").as("a_id"),
      col("__members").as("__ma"))
    val memB = groups.select(col("__rep").as("b_id"),
      col("__members").as("__mb"))
    val cross = repPairs.join(memA, "a_id").join(memB, "b_id")
      .select(explode(col("__ma")).as("__a"), col("__mb"),
        col("jaccard"))
      .select(col("__a"), explode(col("__mb")).as("__b"),
        col("jaccard"))
      .select(least(col("__a"), col("__b")).as("a_id"),
        greatest(col("__a"), col("__b")).as("b_id"), col("jaccard"))
    // within-group: all C(members, 2) pairs at exact jaccard 1.0
    val within = expandPairs(
      groups.filter(size(col("__members")) > 1)
        .select(col("__members").as("ids")), "ids")
      .select(col("a_id"), col("b_id"), lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** The (per-doc sorted shingle table, prefix posting rows) behind
    * [[jaccardPairsPrefix]] — factored out so the spec can count the
    * ACTUAL posting rows the join runs on. The prefix length is
    * n − ⌈t·n⌉ + 1 with the ceil taken on t·n NUDGED DOWN by an
    * epsilon: IEEE can evaluate t·n a hair ABOVE the true real
    * product (0.07·100 = 7.000…001), and rounding that up would
    * SHORTEN the prefix below the sound length — the one direction
    * prefix filtering cannot tolerate. The nudge can only lengthen a
    * prefix (extra candidates, verified away), never drop one. */
  private[graft] def prefixPostings(df: DataFrame, idCol: String,
      textCol: String, minJaccard: Double, maxDocFreq: Long)
      : (DataFrame, DataFrame) = {
    val sh = hashedShingleRows(df, idCol, textCol, ShingleN, "sh")
      .withColumnRenamed(idCol, "doc")
    val dfreq0 = sh.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
    val dfreq =
      if (maxDocFreq <= 0) dfreq0
      else dfreq0.filter(col("__df") <= maxDocFreq)
    val docs = sh.join(dfreq, "sh")
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("__df"), col("sh"))))
        .as("__toks"), count(lit(1)).as("__n"))
    val pLen = greatest(
      (col("__n") - ceil(col("__n") * minJaccard - 1e-9) + 1).cast("int"),
      lit(1))
    val prefixes = docs
      .select(col("doc"),
        explode(slice(col("__toks"), lit(1), pLen)).as("p"))
      .select(col("doc"), col("p.sh").as("sh"))
    (docs, prefixes)
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing at least one
    * shingle, via an inverted index: group by shingle, expand each
    * posting list into (a < b) pairs, count shared shingles per pair —
    * |A∩B| — and join per-doc shingle counts for |A|,|B|. One aggregate
    * replaces the classic posting-list self-join (which shuffles the
    * full index twice).
    *
    * Scale: an ultra-common shingle's posting list expands
    * quadratically — `maxDocFreq` drops shingles appearing in more than
    * that many docs (standard df-cap; disabled when 0; the self-join
    * formulation blows up on the same lists as join fan-out). Pairs
    * below `minJaccard` are filtered before output.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, maxDocFreq: Long = 0L): DataFrame = {
    // array_distinct already dedups within a doc — no extra distinct
    // shuffle; the posting key is a 64-bit hash of the shingle WORDS
    // (no string materialization; collisions ~1e-9 at 1e6 distinct
    // shingles)
    val sh = hashedShingleRows(df, idCol, textCol, ShingleN, "sh")
      .withColumnRenamed(idCol, "doc")
    // the df-cap is a FREE filter on the posting lists the index builds
    // anyway (list length = the shingle's doc frequency) — no separate
    // frequency aggregate, no join, no second scan of the shingle rows
    val buckets = sh.groupBy(col("sh"))
      .agg(sort_array(collect_set(col("doc"))).as("ids"))
    val capped =
      if (maxDocFreq <= 0) buckets
      else buckets.filter(size(col("ids")) <= maxDocFreq)
    // per-doc shingle counts AFTER the cap (dropped shingles must not
    // count toward |A|/|B|): explode the surviving posting lists
    val sizes = capped.select(explode(col("ids")).as("doc"))
      .groupBy(col("doc")).agg(count(lit(1)).as("n"))
    val inter = expandPairs(capped.filter(size(col("ids")) > 1), "ids")
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("i"))
    // `sizes` is DATA-SCALED (one row per doc) — it must never become a
    // driver-side broadcast. Catalyst's static estimate reads it as
    // small and picks BroadcastHashJoin; at sf1 × 32 threads the
    // broadcast build then races the pair-expansion tasks for the
    // unified execution pool and dies with "not enough memory to build
    // and broadcast" (measured, the sf1 sweep's one failure — passes at
    // 16 threads, fails at 32). shuffle_hash keeps the join distributed
    // (per-partition hash of the small side, no sort of the pair side)
    // and holds at any corpus size
    val withSizes = inter
      .join(sizes.select(col("doc").as("a_id"), col("n").as("na"))
        .hint("shuffle_hash"), "a_id")
      .join(sizes.select(col("doc").as("b_id"), col("n").as("nb"))
        .hint("shuffle_hash"), "b_id")
    withSizes
      .withColumn("jaccard",
        round(col("i") / (col("na") + col("nb") - col("i")), 4))
      .filter(col("i") / (col("na") + col("nb") - col("i")) >= minJaccard)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** 64-bit SimHash over BPE-ish tokens: per token a 64-bit hash votes
    * ±1 on each bit position weighted by the token's in-doc frequency;
    * the signature bit is the vote sign. One explode + one aggregate
    * (64 conditional sums) — single shuffle on the doc id.
    * xxhash64 is Spark-native (no DuckDB equivalent → no SQL oracle;
    * correctness is spec-tested: equal docs ⇒ equal simhash, hamming
    * distance monotone in edit size).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // token hash materialized ONCE per row — as a bare expression the 64
    // vote aggregates would each re-evaluate xxhash64
    val tok = df.select(col(idCol),
        explode(TextFns.bpeishTokens(col(textCol))).as("tok"))
      .select(col(idCol), xxhash64(col("tok")).as("__h"))
    val h = col("__h")
    // votes as plain bit sums: the ±1 vote sum v equals 2·ones − n, so
    // "v > 0" ⇔ "2·ones > n" — same signature, no per-bit branch in the
    // aggregate (64 shift+mask+sum columns, all algebraic)
    val ones = (0 until 64).map { i =>
      sum(shiftright(h, i).bitwiseAND(1)).as(s"v$i")
    }
    val voted = tok.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), ones: _*)
    val bits = (0 until 64).map(i =>
      when(col(s"v$i") * 2 > col("__n"), shiftleft(lit(1L), i))
        .otherwise(lit(0L)))
    voted.select(col(idCol),
      bits.reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** Hamming distance between two simhash columns (for near-dup pairing
    * on the signature table). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** EXACT simhash near-duplicate pairs: every (a < b) pair whose
    * portable 60-bit signatures differ in at most `maxDist` bit
    * positions. Generalized pigeonhole banding (Manku et al.'s
    * permuted-table design, WWW'07) makes it scale AND stay exact: the
    * signature splits into `maxDist + cleanBlocks` equal bit-slices —
    * a pair within maxDist has differing bits in at most maxDist
    * slices, so at least `cleanBlocks` slices agree verbatim, so the
    * pair shares a key in at least one of the C(blocks, cleanBlocks)
    * combination tables keyed on a cleanBlocks-slice concatenation.
    * Candidates come from grouping on (table, key), never an all-pairs
    * join, and the exact hamming filter only ever REMOVES false
    * candidates (no recall loss, unlike MinHash-LSH).
    *
    * `cleanBlocks` is the scale knob: key width = cleanBlocks·60/
    * (maxDist+cleanBlocks) bits, and expected candidate volume on
    * near-uniform signatures is ~C(blocks,q)·n²/2^keyWidth. At
    * maxDist=3 the q=1 degenerate form (the round-3 shape) has 15-bit
    * keys — n²/2^15 per table, all-pairs deferred rather than avoided —
    * while the q=2 default gives 10 tables of 24-bit keys (~205× fewer
    * candidates: C(4,1)/2^15 vs C(5,2)/2^24) and q=3 gives 20 tables of
    * 30-bit keys. Per-bucket
    * state is bounded by near-dup cluster size, same as
    * lshCandidatePairs. Output: (a_id, b_id, hamming_dist).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, cleanBlocks: Int = 2, maxBucket: Int = 0,
      capMetrics: Option[Observation] = None): DataFrame = {
    val sig = simhashPortable(df, idCol, textCol)
    val buckets = sig
      .select(col(idCol), col("simhash"),
        explode(simhashBandCols(col("simhash"), maxDist, cleanBlocks))
          .as("bb"))
      .groupBy(col("bb.band").as("band"), col("bb.bv").as("bv"))
      .agg(sort_array(collect_set(
        struct(col(idCol).as("id"), col("simhash").as("sh")))).as("members"))
      .filter(size(col("members")) > 1)
    expandPairs(capBuckets(buckets, "members", maxBucket, capMetrics),
        "members")
      .select(col("a_id.id").as("a_id"), col("b_id.id").as("b_id"),
        hamming(col("a_id.sh"), col("b_id.sh")).cast("long").as("hamming_dist"))
      .filter(col("hamming_dist") <= maxDist)
      .distinct()
  }

  /** The combination-table band keys for a 60-bit simhash column — one
    * struct (table id, key) per cleanBlocks-subset of the signature's
    * maxDist+cleanBlocks bit-slices (see [[simhashNearDupPairs]] for
    * the pigeonhole argument). Shared by the batch pair finder, the
    * persistent index builder, and the incremental probe, so all three
    * band IDENTICALLY — an index built today answers probes forever. */
  private def simhashBandCols(sh: Column, maxDist: Int,
      cleanBlocks: Int): Column = {
    val bits = 60
    require(cleanBlocks >= 1, "cleanBlocks must be >= 1")
    val nBlocks = maxDist + cleanBlocks
    require(bits % nBlocks == 0,
      s"maxDist=$maxDist, cleanBlocks=$cleanBlocks needs $nBlocks equal " +
        s"blocks of $bits bits; choose maxDist+cleanBlocks dividing 60 " +
        "(e.g. 4, 5, 6, 10)")
    val width = bits / nBlocks
    val mask = (1L << width) - 1
    array((0 until nBlocks).combinations(cleanBlocks)
      .toSeq.zipWithIndex.map { case (blocks, c) =>
        val key = blocks.zipWithIndex.map { case (b, pos) =>
          shiftleft(shiftright(sh, b * width)
            .bitwiseAND(lit(mask)), pos * width)
        }.reduce(_ bitwiseOR _)
        struct(lit(c).as("band"), key.as("bv"))
      }: _*)
  }

  /** Exact-dup flavor of the incremental probe: flag each NEW document
    * whose normalized-content fingerprint already exists in the corpus
    * index ([[exactDupGroups]] output — one (content_hash, keep_id,
    * n_copies) row per distinct content, a fraction of the corpus and
    * the natural thing to persist). One equi-join on the md5 key —
    * size-based planning broadcasts a small arrival batch; nothing
    * over the corpus recomputes. Output: (new_id, dup_of,
    * content_hash); anti-join the batch on new_id for the novel docs,
    * union the survivors' hashes into the index to advance it.
    */
  def incrementalExactDups(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String): DataFrame =
    newDocs.select(col(idCol).as("new_id"),
        TextFns.fingerprint(col(textCol)).as("content_hash"))
      .join(index.select(col("content_hash"),
        col("keep_id").as("dup_of")), Seq("content_hash"))
      .select(col("new_id"), col("dup_of"), col("content_hash"))

  /** The persistent MinHash-LSH band index of a corpus — the
    * [[lshBands]] table renamed for probing: (band, band_hash,
    * corpus_id). Persist it (bucketed by (band, band_hash) for
    * exchange-free probes) and feed [[incrementalLshCandidates]];
    * `k`/`bands` MUST match between build and probe. */
  def lshBandIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int): DataFrame =
    lshBands(df, idCol, textCol, k, bands)
      .select(col("band"), col("band_hash"), col(idCol).as("corpus_id"))

  /** Incremental MinHash-LSH candidates: NEW documents × persisted
    * [[lshBandIndex]] — a (new, corpus) pair surfaces iff some band of
    * their signatures collides, the same candidate semantics as
    * [[lshCandidatePairs]] restricted to cross-batch pairs. Unlike the
    * simhash probe there is no exact distance filter here (MinHash
    * collision is probabilistic, as in the batch operator) — refine
    * survivors with jaccard/editDistance as usual. Output: (new_id,
    * dup_of) distinct.
    */
  def incrementalLshCandidates(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String, k: Int, bands: Int): DataFrame =
    lshBands(newDocs, idCol, textCol, k, bands)
      .select(col("band"), col("band_hash"), col(idCol).as("new_id"))
      .join(index, Seq("band", "band_hash"))
      .select(col("new_id"), col("corpus_id").as("dup_of"))
      .distinct()

  /** Attach exploded band keys to any frame holding a simhash column:
    * each row becomes C(maxDist+cleanBlocks, cleanBlocks) rows carrying
    * (band, bv). Pure expression + one generator — works on BATCH and
    * STREAMING frames alike, which is what lets a stream probe a static
    * [[simhashBandIndex]] (StreamOps.incrementalNearDupFlags). */
  def withBandKeys(df: DataFrame, shCol: String, maxDist: Int = 3,
      cleanBlocks: Int = 2): DataFrame = {
    val taken = Seq("__bb", "band", "bv").filter(df.columns.contains)
    require(taken.isEmpty,
      s"input already has ${taken.mkString("/")} column(s) — rename " +
        "them; __bb is reserved scratch space and band/bv are the " +
        "output key columns of withBandKeys")
    df.withColumn("__bb",
        explode(simhashBandCols(col(shCol), maxDist, cleanBlocks)))
      .withColumn("band", col("__bb.band"))
      .withColumn("bv", col("__bb.bv"))
      .drop("__bb")
  }

  /** Attach exploded MinHash-LSH band keys to any frame as PURE
    * PER-ROW expressions + one generator — no groupBy, so it works on
    * BATCH and STREAMING frames alike ([[lshBands]] aggregates
    * exploded shingle rows: same values, but a stateful aggregation on
    * a stream). Each row becomes `bands` rows carrying
    * (band, band_hash), keyed bit-identically to [[lshBands]] /
    * [[lshBandIndex]]: the per-permutation minimum runs over the same
    * distinct-shingle hash set (array_min vs the groupBy min — same
    * multiset, same integer math) and the band hash is md5 over the
    * same '|'-joined minima — so an index built by the batch path
    * answers probes banded by this one (DedupSpec proves key
    * equality). This is what lets a stream probe a static
    * [[lshBandIndex]] (StreamOps.incrementalLshFlags).
    * `k`/`bands` MUST match the index build.
    */
  def withLshBandKeys(df: DataFrame, textCol: String, k: Int,
      bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val taken = Seq("__lw", "__lsh", "__lmh", "__lbb", "band", "band_hash")
      .filter(df.columns.contains)
    require(taken.isEmpty,
      s"input already has ${taken.mkString("/")} column(s) — rename " +
        "them; __lw/__lsh/__lmh/__lbb are reserved scratch space and " +
        "band/band_hash are the output key columns of withLshBandKeys")
    val r = k / bands
    // words → hashed shingles → k minima, each materialized in its own
    // projection: HOF lambdas re-evaluate non-attribute operands per
    // element (see TextFns.shingles perf note)
    val mins = array((0 until k).map(i =>
      array_min(transform(col("__lsh"),
        h => TextFns.minhashPerm(h, i)))): _*)
    val bandCols = (0 until bands).map { b =>
      val rowCols = (b * r until (b + 1) * r)
        .map(i => element_at(col("__lmh"), i + 1))
      struct(lit(b).as("band"),
        md5(concat_ws("|", rowCols: _*)).as("band_hash"))
    }
    df.withColumn("__lw", TextFns.words(col(textCol)))
      .withColumn("__lsh", transform(
        array_distinct(TextFns.shinglesOfWords(col("__lw"), ShingleN)),
        s => TextFns.shingleHash(s)))
      .withColumn("__lmh", mins)
      .withColumn("__lbb", explode(array(bandCols: _*)))
      .withColumn("band", col("__lbb.band"))
      .withColumn("band_hash", col("__lbb.band_hash"))
      .drop("__lw", "__lsh", "__lmh", "__lbb")
  }

  /** The persistent signature index of a corpus: one row per (band
    * table, band key, member) — `(band, bv, corpus_id, corpus_sh)`.
    * THE PRODUCTION SHAPE AT 100 TB: the corpus is signed and banded
    * ONCE, the result persisted (parquet, ideally bucketed by
    * (band, bv)); arriving batches probe it via
    * [[incrementalNearDups]] without ever re-reading corpus text.
    * Size = n docs × C(maxDist+cleanBlocks, cleanBlocks) rows of four
    * fixed-width fields (10 rows/doc at the defaults) — a fraction of
    * the text it replaces. */
  def simhashBandIndex(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, cleanBlocks: Int = 2): DataFrame =
    simhashPortable(df, idCol, textCol)
      .select(col(idCol).as("corpus_id"), col("simhash").as("corpus_sh"),
        explode(simhashBandCols(col("simhash"), maxDist, cleanBlocks))
          .as("bb"))
      .select(col("bb.band").as("band"), col("bb.bv").as("bv"),
        col("corpus_id"), col("corpus_sh"))

  /** Incremental near-dup detection: flag each NEW document whose
    * signature is within `maxDist` bits of any indexed corpus document
    * — without recomputing anything over the corpus. The new batch is
    * signed and banded with the same tables as the index, equi-joined
    * on (band, bv) (the new side is the small one — size-based
    * planning broadcasts it against a corpus-scale index), and the
    * exact hamming filter removes band false-positives. Recall is
    * exact by the same pigeonhole argument as [[simhashNearDupPairs]]:
    * a (new, corpus) pair within maxDist shares at least one band key.
    * `maxDist`/`cleanBlocks` MUST match the index build — the band
    * keys are meaningless otherwise.
    * Output: (new_id, dup_of, hamming_dist), one row per matching
    * corpus doc; anti-join on new_id to admit only novel documents.
    */
  def incrementalNearDups(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String,
      maxDist: Int = 3, cleanBlocks: Int = 2): DataFrame =
    simhashPortable(newDocs, idCol, textCol)
      .select(col(idCol).as("new_id"), col("simhash"),
        explode(simhashBandCols(col("simhash"), maxDist, cleanBlocks))
          .as("bb"))
      .select(col("new_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
      .join(index, Seq("band", "bv"))
      .select(col("new_id"), col("corpus_id").as("dup_of"),
        hamming(col("simhash"), col("corpus_sh")).cast("long")
          .as("hamming_dist"))
      .filter(col("hamming_dist") <= maxDist)
      .distinct()

  /** Advance a persisted [[simhashBandIndex]] with a new batch —
    * the maintenance half of the incremental loop: probe arrivals
    * ([[incrementalNearDups]]), then fold the admitted ones into the
    * index so the NEXT batch sees them. Signatures are per-document
    * (independent of the rest of the corpus), so advancing is a pure
    * union — band rows for the new docs only, nothing over the
    * existing index recomputes — plus an idempotency dedup on
    * (band, bv, corpus_id) so re-advancing an overlapping batch (a
    * replayed micro-batch, an at-least-once upstream) cannot double
    * rows. DedupSpec proves advance(index(A), B) == rebuild(A ∪ B)
    * row-for-row. Ids must be unique across batches (the reserved-id
    * contract of every incremental operator here); `maxDist`/
    * `cleanBlocks` MUST match the original build. */
  def advanceSimhashIndex(index: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, maxDist: Int = 3,
      cleanBlocks: Int = 2): DataFrame =
    index.unionByName(
        simhashBandIndex(newDocs, idCol, textCol, maxDist, cleanBlocks))
      .dropDuplicates("band", "bv", "corpus_id")

  /** DELETE documents from a persisted [[simhashBandIndex]] — the
    * takedown/recrawl half of the incremental loop. Every index row
    * is per-document (a doc owns exactly its own band rows; nothing
    * canonical to re-elect), so deletion is ONE anti-join and the
    * result is row-for-row the rebuild over corpus∖deleted; delete
    * commutes with [[advanceSimhashIndex]] under the reserved-id
    * contract (spec-pinned). The interim tombstone pattern — persist
    * `deleted` beside the index and filter probe results on
    * `dup_of` — yields IDENTICAL probe output for this family (each
    * match row carries its corpus doc), so vacuum here is purely a
    * space/scan reclaim, run on whatever cadence amortizes the
    * rewrite. `deleted`: one column named `idCol`. */
  def deleteFromSimhashIndex(index: DataFrame, idCol: String,
      deleted: DataFrame): DataFrame =
    index.join(
        deleted.select(col(idCol).as("corpus_id")).distinct(),
        Seq("corpus_id"), "left_anti")
      .select(index.columns.map(col).toSeq: _*)

  /** Advance a persisted [[exactDupGroups]] fingerprint index with a
    * new batch: new-batch groups union in, colliding content hashes
    * MERGE (keep_id = min across batches — exactly the rebuilt
    * table's min; counts add). One aggregate over index ∪ new-groups;
    * the spec proves advance == rebuild bit-for-bit.
    *
    * REPLAY CAVEAT — unlike the simhash/LSH advances (pure unions,
    * dedup-idempotent), n_copies is an OCCURRENCE aggregate: the
    * index cannot distinguish a replayed batch from genuinely new
    * copies without holding every member id, so re-advancing the
    * same batch re-adds its counts. The probe contract survives
    * replay untouched (keep_id is a min — idempotent; the
    * (content_hash, dup_of) mapping [[incrementalExactDups]] reads
    * never changes), only the count column inflates. Feed this
    * advance exactly-once (foreachBatch + per-batchId output
    * commits, the MultiSink pattern) when n_copies must stay exact. */
  def advanceExactIndex(index: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    index.unionByName(exactDupGroups(newDocs, idCol, textCol))
      .groupBy(col("content_hash"))
      .agg(min(col("keep_id")).as("keep_id"),
        sum(col("n_copies")).as("n_copies"))

  /** Advance a persisted [[lshBandIndex]] with a new batch: MinHash
    * signatures are per-document, so the new docs' band rows union in
    * unchanged (same pure-union + idempotency-dedup shape as
    * [[advanceSimhashIndex]]). `k`/`bands` MUST match the build. */
  def advanceLshIndex(index: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, k: Int, bands: Int): DataFrame =
    index.unionByName(lshBandIndex(newDocs, idCol, textCol, k, bands))
      .dropDuplicates("band", "band_hash", "corpus_id")

  /** One probe→admit→advance step of the incremental dedup loop — the
    * complete arrival pipeline as a single call, composing
    * [[incrementalNearDups]] (flag arrivals matching the index),
    * an anti-join (admit only novel documents), and
    * [[advanceSimhashIndex]] (fold the admitted ones in, so the NEXT
    * batch sees them). Returns (flags, advanced index). Run it inside
    * foreachBatch for the streaming loop — and MATERIALIZE the
    * advanced index between batches (localCheckpoint, or overwrite
    * the index parquet): feeding the returned frame back in directly
    * would stack one probe's lineage on top of another's forever.
    * A batch's internal duplicates are NOT flagged against each other
    * (the index is the reference corpus, not the batch) — they all
    * admit and dedup via the batch operators if needed.
    */
  def probeAdmitAdvance(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String, maxDist: Int = 3,
      cleanBlocks: Int = 2): (DataFrame, DataFrame) = {
    val flags = incrementalNearDups(batch, index, idCol, textCol,
      maxDist, cleanBlocks)
    val novel = batch.join(flags.select(col("new_id")).distinct(),
      batch(idCol) === col("new_id"), "left_anti")
    (flags,
      advanceSimhashIndex(index, novel, idCol, textCol, maxDist,
        cleanBlocks))
  }

  /** Cross-engine-reproducible simhash: 60-bit token hashes from md5
    * (first 15 hex chars — exact in any BIGINT SQL engine) instead of
    * Spark-native xxhash64; same vote math over 60 bit positions.
    * Slightly slower than `simhash` (md5 per token vs xxhash64) — use
    * THIS flavor when signatures must match an external system or an
    * oracle, `simhash` for throughput inside one engine. */
  def simhashPortable(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val bits = 60
    val tok = df.select(col(idCol),
        explode(TextFns.bpeishTokens(col(textCol))).as("tok"))
      .select(col(idCol),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("__h"))
    val h = col("__h")
    val ones = (0 until bits).map { i =>
      sum(shiftright(h, i).bitwiseAND(1)).as(s"v$i")
    }
    val voted = tok.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), ones: _*)
    val bitCols = (0 until bits).map(i =>
      when(col(s"v$i") * 2 > col("__n"), shiftleft(lit(1L), i))
        .otherwise(lit(0L)))
    voted.select(col(idCol),
      bitCols.reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** Per-row (stateless) portable simhash: the same 60-bit signature as
    * [[simhashPortable]] computed as a pure expression tree over the
    * row's own token array — no explode, no groupBy, no shuffle. This
    * is the STREAMING flavor: an append-only stream gains a signature
    * column without a stateful aggregation, so the only state in a
    * signature-dedup pipeline is the dropDuplicates watermark store
    * (see StreamOps.nearDupDedupWithinWatermark). Token hashes and the
    * vote array are materialized in their own projections — the 60
    * signature-bit terms reference the vote ATTRIBUTE, so the fold
    * runs once per row, not 60× — and the fold itself is one pass with
    * 60 zip-adds per token: the same total work as the batch explode,
    * kept local to the row. A doc with no tokens gets signature 0
    * (the batch flavor emits no row for it — both mean "no content").
    */
  def withSimhashColumn(df: DataFrame, textCol: String,
      outCol: String = "simhash"): DataFrame = {
    val tmp = Seq("__sh_hashes", "__sh_n", "__sh_votes")
    require(!df.columns.exists(tmp.contains),
      s"input already has a ${tmp.mkString("/")} column — rename it; " +
        "these names are reserved scratch space of withSimhashColumn")
    val bits = 60
    val hashes = transform(TextFns.bpeishTokens(col(textCol)),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val votes = aggregate(col("__sh_hashes"),
      array_repeat(lit(0L), bits),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(bits - 1)),
          i => bit_get(h, i).cast("long")),
        _ + _))
    val sig = (0 until bits).map(i =>
      when(element_at(col("__sh_votes"), i + 1) * 2 > col("__sh_n"),
        lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    df.withColumn("__sh_hashes", hashes)
      .withColumn("__sh_n", size(col("__sh_hashes")))
      .withColumn("__sh_votes", votes)
      .withColumn(outCol, sig)
      .drop("__sh_hashes", "__sh_n", "__sh_votes")
  }

  /** Canonical-document selection: one surviving row per exact-content
    * group, chosen by (score, id) argmax — the curation step after
    * dedup ("of these copies, keep the best one"). `scores` is any
    * (id, quality) frame (e.g. TextAnalysis.qualityScore output). The
    * window is partitioned by the content hash, so state per task is
    * one duplicate group; ties on quality (guaranteed for exact dups —
    * same content ⇒ same score) break to the MINIMUM id — the same
    * canonical-survivor convention as exactDupGroups, so pipelines
    * mixing the two operators select the same representative.
    */
  def keepBest(df: DataFrame, scores: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = df.select(col(idCol),
      TextFns.fingerprint(col(textCol)).as("content_hash"))
    val grp = Window.partitionBy(col("content_hash"))
    val best = grp.orderBy(col("quality").desc, col(idCol))
    hashed.join(scores.select(col(idCol), col("quality")), idCol)
      .withColumn("n_copies", count(lit(1)).over(grp))
      .withColumn("__rn", row_number().over(best))
      .filter(col("__rn") === 1)
      .select(col("content_hash"), col(idCol).as("keep_id"),
        col("quality").as("best_quality"), col("n_copies"))
  }

  /** Duplicate CLUSTERS from candidate pairs — connected components by
    * iterative min-label propagation: every node starts as its own
    * cluster id; each round, a node adopts the minimum id among itself
    * and its neighbors; fixpoint = components labeled by their minimum
    * member. The step between pair generation (LSH/jaccard) and
    * canonical selection: transitivity means A~B and B~C must
    * deduplicate {A,B,C} together even though (A,C) was never a
    * candidate pair.
    *
    * Scale: the edge table is SELF-LOOPED once up front (min over
    * neighbors ∪ self ≡ min over neighbors of the self-looped graph),
    * which makes one hop a SINGLE-REFERENCE plan — join + min-agg,
    * no `∪ labels` term — so a round can compose TWO hops in one
    * materialization with nothing recomputed (r18: from round 3 on —
    * the adaptive schedule in the loop; measured −33% wall on the
    * deep semantic pair graph, output bit-identical). Hops are
    * followed by
    * POINTER-JUMPING compression (label ← label∘label, a self-join
    * over the n-row label table, iterated to its own fixpoint — each
    * step halves remaining chain depth): edge-list joins needed drop
    * from the component diameter to O(log diameter) — the difference
    * between 20 and ~7 on the long-chain components a dense ε-ball
    * pair graph produces (the auto-cell semDedup geometry surfaced
    * exactly this: a sparse sf0.001 similarity graph with diameter
    * > 20). Compression never moves a label outside its component and
    * never below the component minimum (labels are ids with
    * lab(x) ≤ x), so the fixpoint — and therefore the output — is
    * bit-identical to plain propagation; duplicate near-cliques still
    * converge in a handful of rounds (their first compress pass is
    * already stable). Every round/pass intermediate is a LAZY local
    * checkpoint whose blocks the convergence-witness aggregate itself
    * materializes — one job per pass where eager-checkpoint + sum was
    * two (r18).
    * `maxIters` caps pathological chains, counted in ROUNDS, not hops
    * (one round = a single hop for the first two rounds, a DOUBLE hop
    * after — the adaptive schedule above), so since r18 the default
    * cap of 20 rounds permits up to ~38 propagation hops where r17's
    * permitted 20; callers that tuned maxIters as a hop budget should
    * halve it (the extra reach only ever helps convergence — it cannot
    * change a converged result). If the FINAL permitted round still
    * changed labels,
    * convergence is unconfirmed (the result may be truncated, or may
    * have reached the fixpoint on exactly that round — only a
    * zero-change round proves it; labels are monotone non-increasing,
    * so a sum-unchanged DOUBLE hop proves the single-hop fixpoint
    * too): a WARN is logged, and `requireConvergence` escalates it to
    * an exception so an unproven clustering can't masquerade as a
    * clean one. The driver sees only the per-round change COUNT.
    * Output: (id, cluster_id), returned as an eager local checkpoint —
    * every iteration cache is released before returning, and the
    * result's blocks are freed when the caller drops the frame.
    */
  // iteration intermediates release BOTH their CacheManager entry and
  // their localCheckpoint blocks — see Checkpoints.releaseIntermediate
  private def releaseIntermediate(df: DataFrame): Unit =
    Checkpoints.releaseIntermediate(df)

  def duplicateClusters(pairs: DataFrame,
      maxIters: Int = 20,
      requireConvergence: Boolean = false): DataFrame = {
    val sym = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
    // self-loops replace the per-round `∪ labels` term: min over
    // (neighbors ∪ self) ≡ min over neighbors in the self-looped
    // graph, and a single-reference hop plan lets two hops compose in
    // ONE materialization without recomputing the inner hop.
    // MEASURED NON-WIN (r19, kept out): repartition(src)+persist for
    // the edges (cached partitioning would delete the per-hop edges
    // exchange) read SLOWER than the checkpoint on both pair graphs
    // (lsh 0.8-1.0 → 0.8-1.1 s, sem 3.0-3.8 → 3.4-4.2 s interleaved)
    // — the same result as r18's pageRank persist attempt: at these
    // row counts the InMemoryRelation scan overhead costs more than
    // the exchange it saves, and AQE cannot coalesce through a cached
    // plan.
    val edges = sym.unionByName(
        sym.select(col("src"), col("src").as("dst")).distinct())
      .localCheckpoint(true)
    try {
      var labels = edges.select(col("src").as("id"))
        .distinct()
        .withColumn("cluster_id", col("id"))
        .persist()
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head.getDecimal(0)
      var curSum = labelSum(labels)
      var labelsBk = labels
      def sumsEqual(a: java.math.BigDecimal,
          b: java.math.BigDecimal): Boolean =
        (a == null && b == null) ||
          (a != null && b != null && a.compareTo(b) == 0)
      def stripStats(df: DataFrame): DataFrame = Checkpoints.stripStats(df)
      def hop(l: DataFrame): DataFrame = edges
        .join(l, edges("src") === l("id"))
        .select(edges("dst").as("id"), col("cluster_id"))
        .groupBy(col("id"))
        .agg(min(col("cluster_id")).as("cluster_id"))
      var iters = 0
      var converged = false
      while (!converged && iters < maxIters) {
        // ADAPTIVE hop schedule (r18): near-clique duplicate graphs —
        // the common dedup case — converge in 1-2 hops, where an
        // unconditional double hop wastes a full edge join per round
        // (measured +23% on the LSH pair graph); long-chain graphs
        // (sparse ε-ball components) need many hops, where doubling
        // halves the materialization count (measured −33% on the
        // semantic pair graph, rounds 8→5). So: single hops for the
        // first two rounds, two hops per materialization after (each
        // level references its input exactly once, so nothing
        // recomputes). Monotone labels mean a sum-unchanged DOUBLE
        // hop proves the single-hop fixpoint too; the fixpoint label
        // set is hop-schedule-independent, so the output is identical
        // either way.
        var nextBk = (if (iters < 2) hop(labels)
          else hop(hop(labels)))
          .localCheckpoint(false)
        var next: DataFrame = nextBk
        var nextSum = labelSum(next)
        converged = sumsEqual(curSum, nextSum)
        if (!converged) {
          var stable = false
          var guard = 0
          // pointer-jump pass: label ← label∘label (self-join)
          def jump(l: DataFrame): DataFrame = {
            val parents = l.select(col("id").as("__pid"),
              col("cluster_id").as("__plab"))
            l.join(parents, l("cluster_id") === col("__pid"), "left")
              .select(l("id"),
                coalesce(col("__plab"), l("cluster_id"))
                  .as("cluster_id"))
          }
          // one jump per materialization. MEASURED NON-WIN (kept out):
          // composing two jumps per pass after the first read slower
          // on the duplicateClusters queries (interleaved at sf0.1 on
          // a 4-core local[4] session: dedup_clusters 2.6-3.1 s single
          // vs 2.7-3.5 s composed, dedup_semantic 5.2-6.7 vs 6.6-7.0 s)
          while (!stable && guard < 64) {
            val compBk = jump(next).localCheckpoint(false)
            val comp = stripStats(compBk)
            val compSum = labelSum(comp)
            stable = sumsEqual(nextSum, compSum)
            if (nextBk ne labelsBk) releaseIntermediate(nextBk)
            nextBk = compBk
            next = comp
            nextSum = compSum
            guard += 1
          }
        }
        curSum = nextSum
        if (labelsBk ne nextBk) releaseIntermediate(labelsBk)
        labels = next
        labelsBk = nextBk
        iters += 1
      }
      if (!converged) {
        val msg = s"duplicateClusters stopped at maxIters=$maxIters with " +
          "labels still changing in the final round — convergence NOT " +
          "confirmed (no fixpoint round observed); raise maxIters to " +
          "verify or accept possibly-truncated clusters"
        if (requireConvergence) { releaseIntermediate(labelsBk); sys.error(msg) }
        org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      }
      val out = labels.localCheckpoint(true)
      releaseIntermediate(labelsBk)
      out
    } finally { releaseIntermediate(edges) }
  }

  /** Leakage-safe train/val/test split: assign splits at NEAR-DUP
    * CLUSTER granularity so two copies (or near-copies) of one
    * document can never straddle train and eval — the decontamination-
    * by-construction step a per-row split silently violates (a
    * reformatted re-post of a training doc landing in test is
    * leakage). `pairs` is any (a_id, b_id) near-dup pair table (LSH,
    * simhash, jaccard — caller's choice of family and threshold); the
    * split key is the doc's connected-component label from
    * [[duplicateClusters]], falling back to the doc's own id for
    * singletons — so un-clustered docs get EXACTLY the assignment of
    * Relational.deterministicSplit (same hash, same buckets:
    * consistent when pipelines mix the two). One label join against
    * the (pairs-bounded, small) cluster table; the split itself stays
    * a per-row hash expression. Output: input columns + (split_key,
    * split).
    */
  def clusterSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int = 80, valPct: Int = 10, maxIters: Int = 20,
      requireConvergence: Boolean = true): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      "need trainPct > 0, valPct >= 0, trainPct + valPct <= 100")
    val taken = Seq("split_key", "split", "cluster_id", "__cs_id")
      .filter(df.columns.contains)
    require(taken.isEmpty,
      s"input already has ${taken.mkString("/")} column(s) — rename " +
        "them; split_key/split are clusterSafeSplit's output columns " +
        "and cluster_id/__cs_id are reserved scratch space (a " +
        "pre-existing column would be silently overwritten or make " +
        "the label join ambiguous)")
    // STRICT by default, unlike bare duplicateClusters: an unconverged
    // clustering means two members of one component can carry different
    // split keys — silently voiding the no-leakage guarantee that is
    // this operator's entire purpose. Opt out only for exploration.
    val labels = duplicateClusters(pairs, maxIters, requireConvergence)
      .select(col("id").as("__cs_id"), col("cluster_id"))
    val bucket = pmod(
      TextFns.shingleHash(col("split_key").cast("string")), lit(100L))
    df.join(labels, col(idCol) === col("__cs_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("split",
        when(bucket < trainPct, lit("train"))
          .when(bucket < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
      .drop("__cs_id", "cluster_id")
  }

  /** Train/eval decontamination: training docs sharing at least
    * `minShared` word-shingles with ANY eval document. The eval side
    * collapses to a DISTINCT shingle-hash set (benchmarks are small —
    * the set broadcasts; Catalyst picks that automatically), so the
    * train corpus is ONE scan + one semi-structured join + one count
    * aggregate, never a doc×doc comparison. The screening step every
    * serious training pipeline runs before shipping a dataset.
    */
  def contamination(docs: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, minShared: Long = 1L): DataFrame = {
    val d = hashedShingleRows(docs, idCol, textCol, ShingleN, "sh")
      .withColumnRenamed(idCol, "__doc")
    val e = hashedShingleRows(evalDocs, idCol, textCol, ShingleN, "sh")
      .select(col("sh")).distinct()
    d.join(e, "sh")
      .groupBy(col("__doc").as(idCol))
      .agg(count(lit(1)).as("n_shared_shingles"))
      .filter(col("n_shared_shingles") >= minShared)
  }

  /** SPAN-level decontamination — the scrubbing upgrade of
    * [[contamination]] (which flags whole documents): remove from each
    * training document every k-token window that appears VERBATIM in
    * any eval document and keep the rest, overlapping clean spans
    * merging on reassembly — the GPT-3/PaLM-style n-gram scrub that
    * saves a mostly-clean document instead of dropping it. Machinery =
    * TextAnalysis.dedupTokenWindows' coverage fold pointed at an EVAL
    * window-hash set instead of a corpus-canonical ranking (the shared
    * windowHashes expression guarantees both sides hash
    * bit-identically). The eval side collapses to a DISTINCT hash set
    * (benchmarks are small — Catalyst broadcasts it), so the train
    * corpus is ONE scan + a semi-join + a per-doc span fold — never
    * doc×doc, and no shuffle of the corpus at all when the eval set
    * broadcasts. A fully-contaminated doc stays in the output with
    * n_kept = 0 (scrubbing is not a row filter; compose with
    * [[contamination]] to drop). Output: (id, n_tokens, n_kept,
    * text_clean).
    *
    * STREAMING form is a composition of existing pieces, not a new
    * operator: index the EVAL set once with
    * TextAnalysis.windowHashIndex and probe arrivals with
    * StreamOps.incrementalWindowDupFlags — the flagged spans plus the
    * shared tokensOutsideSpans reassembly equal this operator per
    * arrival set (spec-pinned in StreamingSpec). */
  def decontaminateSpans(docs: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, k: Int,
      delim: String = " "): DataFrame =
    decontaminateSpansKeyed(docs, evalDocs, idCol, textCol, k, delim,
      ws => TextAnalysis.windowHashes(ws, k, delim))

  /** EXACT span decontamination via bounded suffix ordering — the
    * [[decontaminateSpans]] semantics keyed on RAW
    * `TextAnalysis.suffixKeys` window content instead of md5: a train
    * span is only scrubbed when its TOKENS verbatim-match an eval
    * window, never on a hash collision (a false scrub that silently
    * deletes clean training text). The eval side stays a DISTINCT
    * broadcast-sized set; its keys widen from 32 hex chars to k
    * tokens — fine for eval suites (small by construction), the same
    * width trade dedupTokenWindowsExact documents for the corpus
    * side. */
  def decontaminateSpansExact(docs: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, k: Int,
      delim: String = " "): DataFrame =
    decontaminateSpansKeyed(docs, evalDocs, idCol, textCol, k, delim,
      ws => TextAnalysis.suffixKeys(ws, k, delim))

  private def decontaminateSpansKeyed(docs: DataFrame,
      evalDocs: DataFrame, idCol: String, textCol: String, k: Int,
      delim: String, keyArr: Column => Column): DataFrame = {
    require(k >= 2, "window must span at least 2 tokens")
    val esc = java.util.regex.Pattern.quote(delim)
    val toks = docs.select(col(idCol), split(col(textCol), esc).as("__ws"))
    val evalHashes = evalDocs
      .select(explode(keyArr(split(col(textCol), esc))).as("whash"))
      .distinct()
    val spans = toks
      .select(col(idCol),
        posexplode(keyArr(col("__ws")))
          .as(Seq("wpos", "whash")))
      .join(evalHashes, "whash")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("wpos"))).as("__dws"))
    toks.join(spans, Seq(idCol), "left")
      .select(col(idCol), col("__ws"),
        coalesce(col("__dws"), array().cast("array<int>")).as("__dws"))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_tokens"),
        TextAnalysis.tokensOutsideSpans(col("__ws"), col("__dws"), k)
          .as("__kept"))
      .select(col(idCol), col("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), delim).as("text_clean"))
  }

  /** Edit-distance verification of candidate pairs (the refine stage
    * after LSH): joins each (a_id, b_id) pair to the docs' normalized
    * text heads and scores Levenshtein distance. Distance on bounded
    * `headLen`-char prefixes — O(headLen²) per pair, constant-bounded,
    * instead of O(|doc|²) which is quadratic-blowup territory on long
    * documents. The join is two hash joins on the id (the pair table is
    * LSH-bucket-bounded, far smaller than docs² by construction).
    */
  def editDistancePairs(df: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, headLen: Int = 64): DataFrame = {
    val heads = df.select(col(idCol),
      substring(TextFns.normalize(col(textCol)), 1, headLen).as("__head"))
    pairs
      .join(heads.select(col(idCol).as("a_id"), col("__head").as("a_head")), "a_id")
      .join(heads.select(col(idCol).as("b_id"), col("__head").as("b_head")), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_head"), col("b_head")).cast("long").as("edit_dist"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs within a
    * blocking key whose cosine similarity meets the threshold. The
    * block bounds the pair fan-out (largest block², not corpus²) — at
    * scale the block is an SRP-LSH bucket (Similarity.srpBucket) or an
    * upstream cluster id; the scoring join is identical. Norms are
    * computed per row before the join; the threshold filters the raw
    * cosine (rounding only at the output edge).
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    import graft.functions.VectorFns
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("a_id"),
      col(vecCol).as("a_vec"), VectorFns.norm2(col(vecCol)).as("a_norm"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("b_id"),
      col(vecCol).as("b_vec"), VectorFns.norm2(col(vecCol)).as("b_norm"))
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", VectorFns.simDiv(
        VectorFns.dot(col("a_vec"), col("b_vec")),
        col("a_norm") * col("b_norm")))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("sim"), 4).as("cosine_sim"))
  }

  /** Shared-stage curation report: the multi-stage shape a real
    * curation run uses — the LSH candidate-pair table is materialized
    * ONCE (eager localCheckpoint) and feeds BOTH downstream refine
    * stages, edit-distance verification and connected-component cluster
    * labeling, instead of each stage rebuilding the minhash pipeline
    * from raw text (the per-query formulation recomputes the
    * shingle→signature→band chain per consumer — Spark does NOT reuse
    * forked DAG branches across actions). Input scan multiplicity is
    * exactly 2 — one for the pair materialization, one for the
    * edit-distance text heads — regardless of cluster iteration count
    * (spec-pinned with a per-row accumulator).
    *
    * Output: one row per duplicate cluster — (cluster_id, n_docs,
    * n_pairs, min_edit, max_edit); every candidate pair lands in
    * exactly one cluster (both endpoints share it by construction).
    */
  def curationReport(df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, headLen: Int = 64): DataFrame = {
    val pairs = lshCandidatePairs(df, idCol, textCol, k, bands)
      .localCheckpoint(true)
    val refined = editDistancePairs(df, pairs, idCol, textCol, headLen)
    val clusters = duplicateClusters(pairs)
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
    refined
      .join(clusters.withColumnRenamed("id", "a_id"), "a_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("edit_dist")).as("min_edit"),
        max(col("edit_dist")).as("max_edit"))
      .join(sizes, "cluster_id")
      .select(col("cluster_id"), col("n_docs"), col("n_pairs"),
        col("min_edit"), col("max_edit"))
  }

  /** ANSWER-quality witness for the LSH banding stack (the
    * sim_ann_recall convention applied to dedup): what fraction of the
    * EXACT Jaccard-join answer ([[jaccardPairsPrefix]], the full
    * no-recall-trade truth) does [[lshCandidatePairs]]' banding
    * surface as candidates? A banding regression (bad permutation
    * constants, broken band split, over-aggressive bucket cap) shows
    * up here as a recall drop long before any downstream metric moves.
    *
    * One row: (n_true, n_candidates, n_hit, recall_ok) — `recall_ok`
    * is the INTEGER-EXACT floor comparison n_hit·100 ≥ n_true·floorPct
    * (never a float boundary; vacuously true on an empty truth set).
    * n_candidates is the cost side of the trade — recall alone can be
    * gamed by emitting everything.
    *
    * Cost: the exact join IS the witness's price (prefix-filtered, so
    * candidate generation is df-capped, never all-pairs); run it at
    * audit cadence on a sample split, not per-ingest. */
  def lshRecallReport(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, k: Int, bands: Int,
      floorPct: Int = 90): DataFrame = {
    require(floorPct >= 0 && floorPct <= 100,
      s"lshRecallReport: floorPct in [0,100], got $floorPct")
    // pin both pair tables: each is referenced twice below (its count
    // + the semi-join), and un-pinned the exact prefix-join — the
    // witness's expensive leg — ran twice (r18 final-plan audit).
    // The two pins are INDEPENDENT (different plans over the same
    // input), so they materialize concurrently (guide §2.6 — r19):
    // sequentially each job's straggler tail left the box idle
    val Seq(truth, cand) = Checkpoints.parEager(
      () => jaccardPairsPrefix(df, idCol, textCol, minJaccard)
        .select(col("a_id"), col("b_id"))
        .localCheckpoint(true),
      () => lshCandidatePairs(df, idCol, textCol, k, bands)
        .select(col("a_id"), col("b_id"))
        .localCheckpoint(true))
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nHit = truth.join(cand, Seq("a_id", "b_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nTrue.crossJoin(nCand).crossJoin(nHit)
      .select(col("n_true"), col("n_candidates"), col("n_hit"),
        (col("n_hit") * 100L >= col("n_true") * floorPct.toLong)
          .as("recall_ok"))
  }
}
