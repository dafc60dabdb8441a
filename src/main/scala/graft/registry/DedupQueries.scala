package graft
package registry

import graft.functions.TextFns
import graft.operators._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Shared._

/** Deduplication queries (`dedup_*`): exact, MinHash/LSH, SimHash,
  * winnowing, embedding near-dups, clusters and leakage-safe splits. */
object DedupQueries {

  /** The banding oracles' prefix: shingles, MinHash signatures, band
    * hashes, and every same-band doc pair (a < b) as CTE `name`.
    * `recursive` opens the chain WITH RECURSIVE for a later
    * cluster-labeling CTE. */
  private def bandPairsCtes(name: String,
      recursive: Boolean = false): String =
    (if (recursive) shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")
     else shingleCte) + sigCte + s", bands AS ($bandSelects), " +
      s"$name AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id), "

  /** Connected components as a recursive CTE over `edges2` (both edge
    * directions): `r` spreads labels from every `nodes` row, `clusters`
    * keeps each node's minimum. */
  private def clusterLabelCtes(nodes: String): String =
    s"r(id, label) AS (SELECT id, id FROM $nodes " +
      "UNION SELECT e.dst, r.label FROM r JOIN edges2 e ON e.src = r.id), " +
      "clusters AS (SELECT id, min(label) AS cluster_id FROM r GROUP BY id), "

  /** Exact shingle-set Jaccard inputs: `sizes` per doc, `inter` per
    * shingle-sharing pair (a < b). */
  private val jaccardCtes =
    "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)"

  val MinhashK = 16
  val LshBands = 4

  /** LSH recall witness floor (dedup_lsh_recall): banding currently
    * surfaces 100% of the exact j≥0.5 answer at every SF (twins sit
    * near j=1); 90 leaves headroom for corpus drift while still
    * catching any banding regression. */
  val LshRecallFloorPct = 90

  /** Winnowing df-cap (dedup_winnow_pairs): 64, the mega-bucket guard. */
  val WinnowMaxBucket = 64

  /** Target coarse-cell occupancy for the auto-sized embedding-dedup
    * geometry: nlist = ceil(n/1024) keeps expected
    * per-cell pair cost constant as the corpus grows — the setting an
    * sf10 probe measured at 122.3 s vs fixed-16's 539.6 s
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
    * queries fit/probe at (the registered queries must bench the
    * scale-safe geometry, not the fixed-16 plan the sf10 probe
    * measured quadratic). */
  private def autoNlist(s: SparkSession, d: String): Int =
    Similarity.autoCellCount(embeddingCount(s, d), AutoCellTarget)

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
    * registered queries' autoNlist). */
  private def nearDupIvfCtes(target: Long, iters: Int, seed: Long,
      dims: Int, m: Int, ksub: Int, candSim: Double): String = {
    val (qlCtes, qlJoins, ip, rn2) = pqAdcListFragments(m, "a")
    "emb AS (SELECT vec_id, embedding FROM embeddings), " +
      autoLloydCtes("v", target, iters, seed) + ", " +
      vCellSimCte(iters) +
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
      // the semDedup oracle) and the per-VECTOR norms vcb already
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
      clusterLabelCtes("enodes") +
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
    "WITH RECURSIVE " + embCte +
      autoLloydCtes("v", target, iters, seed) + ", " +
      vCellSimCte(iters) +
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
      clusterLabelCtes("enodes") +
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
    "WITH " + embCte +
      autoLloydCtes("v", target, iters, seed) + ", " +
      vCellSimCte(iters) +
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

  /** Mirrors Dedup.simhashPortable: 60-bit md5 token hashes, majority
    * vote per bit position, bits recombined as exact powers of two. */
  private val simhashSql: String = {
    val bits = 60
    val votes = (0 until bits).map(i => s"sum((h >> $i) & 1) AS v$i")
      .mkString(", ")
    val recombine = (0 until bits).map(i =>
      s"(CASE WHEN 2 * v$i > n THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    s"WITH tok AS (SELECT doc_id, unnest($tokenListSql) AS tok FROM documents), " +
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

  lazy val all: Seq[Query] = Seq(
    Query("dedup_substring_spans", (s, d) =>
      // the EXTEND step as a first-class relation: maximal repeated
      // spans of >= 8 tokens with full token extents — the audit
      // report of what text_substring_dedup scrubs (anchor hash →
      // group → extend; never a monolithic suffix array)
      TextAnalysis.repeatedSpans(t(s, d, "documents"),
        "doc_id", "text", L = 8),
      // the extend step: same dup frame, islands keyed by running
      // break-sum, each island reports its maximal extent
      (spaceWordsCte +
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
        "FROM g GROUP BY doc_id, grp")),
    Query("dedup_winnow_pairs", (s, d) =>
      // shared-fingerprint candidate pairs (the MOSS triage), df-cap
      // guarded — the compressed-index complement to the full
      // window-hash posting
      TextAnalysis.winnowPairs(t(s, d, "documents"), "doc_id", "text",
        WinnowK, WinnowW, WinnowMaxBucket),
      (s"WITH $winnowCtes, " +
        "fpd AS (SELECT DISTINCT doc_id, fp FROM wfe), " +
        s"cap AS (SELECT fp FROM fpd GROUP BY fp HAVING count(*) <= $WinnowMaxBucket) " +
        "SELECT a.doc_id AS left_id, b.doc_id AS right_id, " +
        "CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM fpd a JOIN fpd b USING (fp) JOIN cap USING (fp) " +
        "WHERE a.doc_id < b.doc_id GROUP BY 1, 2")),
    Query("dedup_winnow_containment", (s, d) =>
      // the MOSS percent-match: pairs normalized by the smaller
      // side's fingerprint budget — full-containment pairs score ~1
      TextAnalysis.winnowContainment(t(s, d, "documents"), "doc_id",
        "text", WinnowK, WinnowW, WinnowMaxBucket),
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
        "JOIN cnt cb ON p.right_id = cb.doc_id")),
    Query("dedup_winnow_spans", (s, d) =>
      // the matched-SPAN report: shared fingerprints grouped by
      // alignment shift, merged into maximal runs — WHICH paragraph
      // leaked, with both sides' token extents, not just a pair score
      TextAnalysis.winnowSpans(t(s, d, "documents"), "doc_id",
        "text", WinnowK, WinnowW, WinnowMaxBucket),
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
        "FROM g GROUP BY left_id, right_id, delta, grp")),
    Query("dedup_incremental_winnow", (s, d) => {
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
    },
      // corpus + arrival winnow CTEs instantiated separately; the
      // index is the canonical (lowest (doc, pos)) occurrence per
      // corpus fingerprint; probe = equi-join on the fingerprint
      (s"WITH ${winnowCtesFor("c", "doc_id % 10 <> 0")}, " +
        s"${winnowCtesFor("a", "doc_id % 10 = 0")}, " +
        "idx AS (SELECT fp, doc_id AS dup_of, fpos AS dup_pos FROM " +
        "(SELECT fp, doc_id, fpos, row_number() OVER (PARTITION BY fp ORDER BY doc_id, fpos) AS rn FROM cwfe) r WHERE rn = 1) " +
        "SELECT a.doc_id AS new_id, CAST(a.doc_id AS BIGINT) AS arrival_ts, " +
        "CAST(a.fpos AS BIGINT) AS fpos, i.dup_of, CAST(i.dup_pos AS BIGINT) AS dup_pos " +
        "FROM awfe a JOIN idx i USING (fp)")),
    Query("dedup_winnow_delete", (s, d) => {
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
      // fingerprinted twice)
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
    },
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
        "FROM awfe a JOIN idx i USING (fp)")),
    // --- dedup ---
    Query("dedup_exact_groups", (s, d) =>
      Dedup.exactDupGroups(t(s, d, "documents"), "doc_id", "text"),
      (s"SELECT md5($normSql) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY 1")),
    Query("dedup_stats", (s, d) =>
      Dedup.dedupStats(t(s, d, "documents"), "text"),
      (s"SELECT count(*) AS n_total, count(DISTINCT md5($normSql)) AS n_distinct FROM documents")),
    Query("dedup_minhash_bands", (s, d) =>
      Dedup.lshBands(t(s, d, "documents"), "doc_id", "text", MinhashK, LshBands),
      (shingleCte + sigCte + " " + bandSelects)),
    Query("dedup_lsh_pairs", (s, d) =>
      Dedup.lshCandidatePairs(t(s, d, "documents"), "doc_id", "text",
        MinhashK, LshBands),
      (shingleCte + sigCte + s", bands AS ($bandSelects) " +
        "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id")),
    Query("dedup_jaccard_top", (s, d) =>
      // df-cap ON: the scale-safe configuration is the exercised one.
      // 1000 is far above this corpus's max shingle df (25 at sf0.1), so
      // results are identical to cap-off — at corpus scale the cap drops
      // ultra-common shingles whose posting lists expand quadratically
      Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text", 0.0,
          maxDocFreq = 1000L)
        .orderBy(col("jaccard").desc, col("a_id"), col("b_id")).limit(20),
      (shingleCte + ", " + jaccardCtes + " " +
        "SELECT a_id, b_id, round(i / (sa.n + sb.n - i), 4) AS jaccard FROM inter " +
        "JOIN sizes sa ON inter.a_id = sa.doc_id JOIN sizes sb ON inter.b_id = sb.doc_id " +
        "ORDER BY jaccard DESC, a_id, b_id LIMIT 20")),
    Query("dedup_jaccard_est", (s, d) => {
      // signature-only refine of the LSH candidates: the estimate is
      // permutation-agreement / k — never re-reads text
      val docs = t(s, d, "documents")
      Dedup.minhashJaccardEstimate(docs,
        Dedup.lshCandidatePairs(docs, "doc_id", "text", MinhashK, LshBands),
        "doc_id", "text", MinhashK)
    },
      {
        val agree = (0 until MinhashK)
          .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        shingleCte + sigCte + s", bands AS ($bandSelects), " +
          "p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
          "JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id) " +
          s"SELECT p.a_id, p.b_id, CAST($agree AS DOUBLE) / $MinhashK AS jaccard_est " +
          "FROM p JOIN sig sa ON sa.doc_id = p.a_id JOIN sig sb ON sb.doc_id = p.b_id"
      }),
    Query("dedup_jaccard_prefix", (s, d) =>
      // PPJoin prefix-filtered EXACT Jaccard join at t=0.5: the full
      // answer set (no LSH recall trade) from rarest-first prefix
      // postings only; the oracle brute-forces every shingle-sharing
      // pair and filters — a missed pair fails the hash
      Dedup.jaccardPairsPrefix(t(s, d, "documents"), "doc_id", "text",
        minJaccard = 0.5),
      // the exhaustive answer the prefix filter must reproduce: every
      // shingle-sharing pair scored, threshold filter on the raw ratio
      (shingleCte + ", " + jaccardCtes + " " +
        "SELECT a_id, b_id, round(i / (sa.n + sb.n - i), 4) AS jaccard FROM inter " +
        "JOIN sizes sa ON inter.a_id = sa.doc_id JOIN sizes sb ON inter.b_id = sb.doc_id " +
        "WHERE i / (sa.n + sb.n - i) >= 0.5")),
    Query("dedup_simhash", (s, d) =>
      // the PORTABLE (md5-hash) flavor so the signature is
      // oracle-checkable bit-for-bit; Dedup.simhash (xxhash64) is the
      // single-engine throughput flavor, spec-tested
      Dedup.simhashPortable(t(s, d, "documents"), "doc_id", "text"),
      simhashSql),
    Query("dedup_simhash_pairs", (s, d) =>
      // EXACT hamming<=3 pairs via pigeonhole banding (no recall loss)
      Dedup.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text", 3),
      // combination-banding join mirrors the generalized pigeonhole; the
      // brute xor/bit_count hamming then applies the exact threshold
      simhashPairSql(maxDist = 3, cleanBlocks = 2)),
    Query("dedup_incremental", (s, d) => {
      // the arrival path: 90% of the corpus is the pre-built signature
      // index, every 10th doc is the "new batch" probing it — nothing
      // over the corpus recomputes per probe
      val docs = t(s, d, "documents")
      Dedup.incrementalNearDups(
        docs.filter(col("doc_id") % 10 === 0),
        Dedup.simhashBandIndex(docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text"),
        "doc_id", "text")
    },
      // banding has EXACT recall (pigeonhole), so the oracle is the
      // brute-force hamming join between the new/corpus halves — any
      // banding bug that drops or invents a candidate hash-mismatches
      (s"WITH s AS ($simhashSql) " +
        "SELECT n.doc_id AS new_id, c.doc_id AS dup_of, " +
        "CAST(bit_count(xor(n.simhash, c.simhash)) AS BIGINT) AS hamming_dist " +
        "FROM s n JOIN s c ON n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0 " +
        "AND bit_count(xor(n.simhash, c.simhash)) <= 3")),
    Query("dedup_incremental_exact", (s, d) => {
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
    },
      (s"WITH idx AS (SELECT md5($normSql) AS content_hash, min(doc_id) AS dup_of " +
        "FROM documents GROUP BY 1), " +
        "arr AS (SELECT doc_id + 100000 AS new_id, upper(text) AS text " +
        "FROM documents WHERE doc_id % 7 = 0) " +
        s"SELECT a.new_id, i.dup_of, md5($normSql) AS content_hash " +
        s"FROM arr a JOIN idx i ON md5($normSql) = i.content_hash")),
    Query("dedup_incremental_lsh", (s, d) => {
      // same arrival split, MinHash-LSH candidate flavor
      val docs = t(s, d, "documents")
      Dedup.incrementalLshCandidates(
        docs.filter(col("doc_id") % 10 === 0),
        Dedup.lshBandIndex(docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", MinhashK, LshBands),
        "doc_id", "text", MinhashK, LshBands)
    },
      // band collision between the halves — same candidate semantics as
      // dedup_lsh_pairs restricted to cross-batch pairs
      (shingleCte + sigCte + s", bands AS ($bandSelects), " +
        "n AS (SELECT doc_id AS new_id, band, band_hash FROM bands WHERE doc_id % 10 = 0), " +
        "c AS (SELECT doc_id AS dup_of, band, band_hash FROM bands WHERE doc_id % 10 <> 0) " +
        "SELECT DISTINCT new_id, dup_of FROM n JOIN c USING (band, band_hash)")),
    Query("dedup_embedding_cos", (s, d) =>
      Dedup.embeddingNearDupPairs(t(s, d, "embeddings"), "vec_id",
        "embedding", "label", 0.3),
      ("WITH a AS (SELECT label, vec_id AS a_id, embedding AS a_vec FROM embeddings), " +
        "b AS (SELECT label, vec_id AS b_id, embedding AS b_vec FROM embeddings), " +
        s"scored AS (SELECT a_id, b_id, ${cosSql("a_vec", "b_vec")} AS sim FROM a JOIN b USING (label) WHERE a_id < b_id) " +
        "SELECT a_id, b_id, round(sim, 4) AS cosine_sim FROM scored WHERE sim >= 0.3")),
    Query("dedup_clusters", (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.duplicateClusters(
        Dedup.lshCandidatePairs(docs, "doc_id", "text", MinhashK, LshBands))
    },
      // the whole WITH chain must be RECURSIVE for the final member r
      (bandPairsCtes("edges", recursive = true) +
        "edges2 AS (SELECT a_id AS src, b_id AS dst FROM edges UNION ALL SELECT b_id, a_id FROM edges), " +
        "nodes AS (SELECT a_id AS id FROM edges UNION SELECT b_id FROM edges), " +
        "r(id, label) AS (" +
        "SELECT id, id FROM nodes " +
        "UNION SELECT e.dst, r.label FROM r JOIN edges2 e ON e.src = r.id) " +
        "SELECT id, min(label) AS cluster_id FROM r GROUP BY id")),
    Query("dedup_contamination", (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contamination(docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), "doc_id", "text")
    },
      (shingleCte + " SELECT a.doc_id, count(*) AS n_shared_shingles FROM sh a " +
        "JOIN (SELECT DISTINCT sh FROM sh WHERE doc_id < 25) e ON a.sh = e.sh " +
        "WHERE a.doc_id >= 25 GROUP BY a.doc_id")),
    Query("dedup_scrub_spans", (s, d) => {
      // span-level decontamination (same train/eval boundary as
      // dedup_contamination): eval 4-gram windows scrub out of
      // training docs, the rest of each doc survives (k chosen to
      // bisect this corpus: 43 of 475 train docs lose spans at
      // sf0.01 — k=8 catches only the one verbatim re-post)
      val docs = t(s, d, "documents")
      Dedup.decontaminateSpans(docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), "doc_id", "text", k = 4)
    },
      // eval window hashes, train coverage, NOT-EXISTS survival and
      // ordered reassembly — the text_window_dedup replay pointed at
      // the eval hash set
      (spaceWordsCte +
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
        "FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id WHERE d2.doc_id >= 25")),
    Query("dedup_scrub_spans_exact", (s, d) => {
      // the EXACT decontamination flavor at the same boundary and k:
      // train spans scrub only on a verbatim TOKEN match with an eval
      // window (the suffix-ordered key), never on a hash collision.
      // Agreement with dedup_scrub_spans on this corpus is the
      // collision-free expectation — both queries' oracles assert it
      // independently against the same SQL span algebra
      val docs = t(s, d, "documents")
      Dedup.decontaminateSpansExact(docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), "doc_id", "text", k = 4)
    },
      // dedup_scrub_spans_exact oracle: the scrub algebra on RAW window
      // strings — token-grounded spans, the suffix-ordered flavor's
      // no-false-scrub contract made checkable
      (spaceWordsCte +
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
        "FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id WHERE d2.doc_id >= 25")),
    Query("dedup_cluster_split", (s, d) => {
      // leakage-safe split: near-dup clusters (LSH pairs) assign as a
      // unit, singletons fall back to their deterministicSplit bucket
      val docs = t(s, d, "documents")
      Dedup.clusterSafeSplit(docs, "doc_id",
          Dedup.lshCandidatePairs(docs, "doc_id", "text",
            MinhashK, LshBands))
        .select(col("doc_id"), col("split_key"), col("split"))
    },
      // recursive-CTE cluster labels (the dedup_clusters mirror), then
      // the deterministicSplit bucket hash applied to the coalesced key
      (bandPairsCtes("pairs", recursive = true) +
        "edges2 AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION ALL SELECT b_id, a_id FROM pairs), " +
        "nodes AS (SELECT a_id AS id FROM pairs UNION SELECT b_id FROM pairs), " +
        clusterLabelCtes("nodes") +
        "k AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_key " +
        "FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id), " +
        "b2 AS (SELECT doc_id, split_key, " +
        "CAST('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 7) AS BIGINT) % 100 AS h FROM k) " +
        "SELECT doc_id, split_key, CASE WHEN h < 80 THEN 'train' " +
        "WHEN h < 90 THEN 'val' ELSE 'test' END AS split FROM b2")),
    Query("dedup_split_embedding", (s, d) => {
      // leakage-safe split in EMBEDDING space: semantic near-dup pairs
      // from the IVFPQ learned blocking feed the same cluster-as-a-
      // unit assignment dedup_cluster_split runs on text LSH pairs —
      // a paraphrase of a train doc can never land in test even when
      // no textual signature catches it. Artifacts fit at the
      // corpus-derived cell count (autoNlist) — the scale-safe
      // geometry; fixed-16 measured quadratic at sf10 (SCALE.md)
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
    },
      embeddingSplitSql(target = AutoCellTarget,
        iters = PqIters, seed = 42L, dims = 64, m = PqM, ksub = PqKsub,
        candSim = 0.2, minSim = 0.3)),
    Query("dedup_keep_best", (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.keepBest(docs,
        TextAnalysis.qualityScore(docs, "doc_id", "text"), "doc_id", "text")
    },
      (s"WITH q AS ($qualitySql), " +
        s"h AS (SELECT doc_id, md5($normSql) AS content_hash FROM documents), " +
        "j AS (SELECT h.content_hash, q.doc_id, q.quality, count(*) OVER (PARTITION BY h.content_hash) AS n_copies, " +
        "row_number() OVER (PARTITION BY h.content_hash ORDER BY q.quality DESC, q.doc_id) AS rn " +
        "FROM h JOIN q USING (doc_id)) " +
        "SELECT content_hash, doc_id AS keep_id, quality AS best_quality, n_copies FROM j WHERE rn = 1")),
    Query("dedup_edit_distance", (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.editDistancePairs(docs,
        Dedup.lshCandidatePairs(docs, "doc_id", "text", MinhashK, LshBands),
        "doc_id", "text", 64)
    },
      (bandPairsCtes("pairs") +
        s"heads AS (SELECT doc_id, substr($normSql, 1, 64) AS head FROM documents) " +
        "SELECT a_id, b_id, CAST(levenshtein(ha.head, hb.head) AS BIGINT) AS edit_dist FROM pairs " +
        "JOIN heads ha ON pairs.a_id = ha.doc_id JOIN heads hb ON pairs.b_id = hb.doc_id")),
    Query("dedup_curation", (s, d) =>
      // shared-stage pipeline: the LSH pair table is materialized once
      // and feeds BOTH edit-distance refine and cluster labeling
      Dedup.curationReport(t(s, d, "documents"), "doc_id", "text",
        MinhashK, LshBands),
      // shared `pairs` CTE feeds both the edit-distance refine and the
      // recursive-CTE cluster labels — the SQL mirror of the
      // materialize-once pipeline
      (bandPairsCtes("pairs", recursive = true) +
        s"heads AS (SELECT doc_id, substr($normSql, 1, 64) AS head FROM documents), " +
        "refined AS (SELECT a_id, b_id, CAST(levenshtein(ha.head, hb.head) AS BIGINT) AS edit_dist FROM pairs " +
        "JOIN heads ha ON pairs.a_id = ha.doc_id JOIN heads hb ON pairs.b_id = hb.doc_id), " +
        "edges2 AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION ALL SELECT b_id, a_id FROM pairs), " +
        "nodes AS (SELECT a_id AS id FROM pairs UNION SELECT b_id FROM pairs), " +
        clusterLabelCtes("nodes") +
        "sizes AS (SELECT cluster_id, count(*) AS n_docs FROM clusters GROUP BY 1), " +
        "pc AS (SELECT c.cluster_id, count(*) AS n_pairs, min(edit_dist) AS min_edit, " +
        "max(edit_dist) AS max_edit FROM refined JOIN clusters c ON refined.a_id = c.id GROUP BY 1) " +
        "SELECT pc.cluster_id, n_docs, n_pairs, min_edit, max_edit " +
        "FROM pc JOIN sizes USING (cluster_id)")),
    Query("dedup_embedding_ivf", (s, d) => {
      // corpus-scale embedding near-dup: the IVFPQ coarse cell is the
      // LEARNED blocking key (dedup_embedding_cos needs a label), the
      // pair join ships codes not floats, survivors refine exactly.
      // Artifacts at the corpus-derived cell count (autoNlist) — the
      // scale-safe geometry
      val emb = t(s, d, "embeddings")
      val nl = autoNlist(s, d)
      val (coarse, cb) = ivfPqArtifactsAt(s, d, nl)
      Similarity.nearDupPairsIvf(emb, coarse, cb,
        candSim = 0.2, minSim = 0.3,
        index = Some(ivfPqIndexAt(s, d, nl)))
    },
      nearDupIvfSql(target = AutoCellTarget,
        iters = PqIters, seed = 42L, dims = 64, m = PqM, ksub = PqKsub,
        candSim = 0.2, minSim = 0.3)),
    Query("dedup_semantic", (s, d) => {
      // SemDeDup (Abbas et al. 2023): k-means cells → within-cell
      // ε-ball duplicate clusters → keep the LOWEST-centroid-cosine
      // member per cluster. Cells at the corpus-derived count
      // (semDedupAutoCells' sizing rule — the paper scales clusters
      // with data); the coarse fit is shared with the other two
      // auto-geometry queries via the memoized joint fit
      Similarity.semDedup(t(s, d, "embeddings"),
        ivfPqArtifactsAt(s, d, autoNlist(s, d))._1,
        minSim = SemDedupMinSim)
    },
      semDedupSql(target = AutoCellTarget,
        iters = PqIters, seed = 42L, minSim = SemDedupMinSim)),
    Query("dedup_incremental_semantic", (s, d) => {
      // the EMBEDDING member of the incremental-index family: 90% of
      // the corpus is the maintained IVFPQ index,
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
    },
      incrementalSemanticSql(
        target = AutoCellTarget, iters = PqIters, seed = 42L, dims = 64,
        m = PqM, ksub = PqKsub, candSim = 0.2, minSim = 0.3)),
    // --- LSH answer-quality witness (the sim_ann_recall convention
    //     applied to the dedup banding stack) ---
    Query("dedup_lsh_recall", (s, d) =>
      Dedup.lshRecallReport(t(s, d, "documents"), "doc_id", "text",
        minJaccard = 0.5, MinhashK, LshBands, LshRecallFloorPct),
      // LSH recall witness oracle: truth = the dedup_jaccard_prefix
      // brute-force mirror, candidates = the dedup_lsh_pairs banding
      // mirror, counts + the integer-exact floor comparison
      (bandPairsCtes("cd") +
        jaccardCtes + ", " +
        "tr AS (SELECT a_id, b_id FROM inter " +
        "JOIN sizes sa ON inter.a_id = sa.doc_id JOIN sizes sb ON inter.b_id = sb.doc_id " +
        "WHERE i / (sa.n + sb.n - i) >= 0.5), " +
        "hit AS (SELECT a_id, b_id FROM tr WHERE EXISTS " +
        "(SELECT 1 FROM cd WHERE cd.a_id = tr.a_id AND cd.b_id = tr.b_id)) " +
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_true, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM cd) AS n_candidates, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit, " +
        "((SELECT count(*) FROM hit) * 100 >= " +
        s"(SELECT count(*) FROM tr) * $LshRecallFloorPct) AS recall_ok"))
  )
}
