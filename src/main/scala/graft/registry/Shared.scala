package graft
package registry

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture constants, SQL fragments and memo caches used by more than
  * one query family. */
object Shared {

  private[registry] def t(s: SparkSession, dir: String,
      name: String): DataFrame =
    Tables(s, dir, name)

  /** Winnowing constants (text_winnow_fps / dedup_winnow_pairs):
    * k = 3-token grams (the corpus shingle convention), window w = 4
    * (guarantee threshold w + k − 1 = 6 tokens — well under the
    * corpus's ≥10-word docs). */
  val WinnowK = 3
  val WinnowW = 4

  /** Fixed retrieval query for the BM25 scorer (real corpus terms). */
  val Bm25Terms: Seq[String] = Seq("stream", "join", "spark")

  /** Per-source token budgets for the token-budget sampler; sources
    * absent here are unlimited. */
  val TokenBudgets: Map[String, Long] = Map("src0" -> 500L, "src1" -> 800L)

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
    * measured quadratic at sf10 (SCALE.md). */
  val IvfNlist = 16
  val IvfNprobe = 4

  /** Memoized [[Similarity.fitIvfPq]] artifacts per (sfDir, params) —
    * the fit is PURE (md5-derived determinism end-to-end), so caching
    * it changes no result. ONLY the precomputed-artifact queries use
    * this (the *_probe production shapes and the dedup_embedding_*
    * compositions, whose contract is "artifacts already exist"); the
    * original sim_ann_pq/ivf/ivfpq keep their fit IN the timed body so
    * their bench numbers keep measuring the fit.
    *
    * The fit runs OUTSIDE any map lock — it launches Spark jobs and a
    * computeIfAbsent remapping function would hold the bin lock for
    * the whole build (blocking concurrent suites; deadlock if a build
    * path ever re-entered the map). Losing a publish race is fine:
    * the fit is deterministic, both results are bit-identical. */
  private[registry] val ivfPqFits =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Array[Array[Float]], Array[Array[Array[Float]]])]()
  private[registry] def ivfPqArtifactsAt(s: SparkSession, d: String, nlist: Int)
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
  private[registry] def ivfPqArtifacts(s: SparkSession, d: String)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) =
    ivfPqArtifactsAt(s, d, IvfNlist)

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
  private[registry] val ivfPqIndexes =
    new java.util.concurrent.ConcurrentHashMap[
      String, (SparkSession, DataFrame)]()
  private[registry] def ivfPqIndexAt(s: SparkSession, d: String,
      nlist: Int): DataFrame = {
    val key = s"$d|$nlist"
    val hit = ivfPqIndexes.get(key)
    if (hit != null && (hit._1 eq s)) hit._2
    else {
      // build OUTSIDE the map lock: persist + count launch
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
  private[registry] def ivfPqIndex(s: SparkSession, d: String): DataFrame =
    ivfPqIndexAt(s, d, IvfNlist)

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
  private[registry] def ivfSql(nlist: Int, nprobe: Int, k: Int, iters: Int,
      seed: Long, qPred: String = "vec_id < 10"): String = {
    val dot = oSqlDot _
    val nrm = oSqlNrm _
    "WITH " + embCte +
      coarseLloydCtes("", nlist, iters, seed) + ", " +
      s"pc AS (SELECT e.vec_id, e.embedding, ${nrm("e.embedding")} AS vnorm, c.cell, ${oSqlSimDiv(dot("e.embedding", "c.cvec"), s"${nrm("e.embedding")} * c.cnorm")} AS csim FROM emb e CROSS JOIN c$iters c), " +
      "cb AS (SELECT vec_id AS n_id, embedding AS n_vec, vnorm AS n_norm, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM pc) t WHERE rn = 1), " +
      s"qb AS (SELECT vec_id AS q_id, embedding AS q_vec, vnorm AS q_norm, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM pc WHERE $qPred) t WHERE rn <= $nprobe), " +
      s"scored AS (SELECT q_id, n_id, ${oSqlSimDiv(dot("q_vec", "n_vec"), "q_norm * n_norm")} AS sim FROM cb JOIN qb USING (cell) WHERE n_id <> q_id), " +
      topKSql("scored", k)
  }

  /** The coarse-quantizer unrolled-Lloyd CTE chain, prefix-
    * parameterized and shared by the sim_ann_ivf and sim_ann_ivfpq
    * oracles — ONE definition of the fit replay (init from the
    * md5(id|seed) order, then `iters` assignment/update rounds over
    * the full `emb` vectors) so the two IVF oracles can never drift.
    * Ends in CTE `<p>c<iters>` carrying (cell, cvec, cnorm). */
  private[registry] def coarseLloydCtes(p: String, nlist: Int, iters: Int,
      seed: Long): String =
    coarseLloydCtes(p, nlist.toString, iters, seed)

  /** [[coarseLloydCtes]] with nlist as a SQL scalar expression — the
    * auto-cell geometry's hook: only the init CTE's `cell < nlist` cut
    * depends on the cell count (the unrolled iterations run over
    * whatever centroids exist), so a computed nlist drops in without
    * touching the Lloyd replay. */
  private[registry] def coarseLloydCtes(p: String, nlistSql: String, iters: Int,
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
  private[registry] def oSqlDot(a: String, b: String) =
    s"(SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest($a) AS x, unnest($b) AS y) zz)"
  private[registry] def oSqlNrm(a: String) =
    s"sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest($a) AS x) zn))"
  /** Mirror of VectorFns.simDiv: a non-positive norm product scores
    * −Infinity instead of dividing — keeps the engines' degenerate-row
    * conventions identical (non-degenerate rows evaluate the untouched
    * quotient). */
  private[registry] def oSqlSimDiv(num: String, den: String): String =
    s"(CASE WHEN $den > 0 THEN $num / ($den) ELSE CAST('-infinity' AS DOUBLE) END)"

  private[registry] def oSqlSumsq(a: String) =
    s"(SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest($a) AS x) zs)"

  /** The per-sub-space CTE chain shared by the sim_ann_pq and
    * sim_ann_ivfpq oracles: for each sub-space j, the slice view, the
    * unrolled Lloyd fit at seed+j, the final codebook with squared
    * norms, the corpus encode (jXenc), the per-query dot table (jXqd),
    * and the joined `codes` table (vec_id, c0..c{m-1}). */
  private[registry] def pqSubCtes(dims: Int, m: Int, ksub: Int, iters: Int,
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
  private[registry] def pqAdcListFragments(m: Int,
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
  private[registry] def pqAdcFragments(m: Int,
      q: String): (String, String, String) = {
    val qdJoins = (0 until m)
      .map(j => s"JOIN j${j}qd q$j ON q$j.q_id = $q.q_id AND q$j.cell = n.c$j")
      .mkString(" ")
    val ip = (0 until m).map(j => s"q$j.qdot").mkString(" + ")
    val rn2 = (0 until m).map(j => s"q$j.cn2").mkString(" + ")
    (qdJoins, ip, rn2)
  }

  private[registry] def pqSql(dims: Int, m: Int, ksub: Int, k: Int, iters: Int,
      seed: Long): String = {
    require(m > 0 && dims % m == 0, "dims must split into m sub-vectors")
    val (qdJoins, ip, rn2) = pqAdcFragments(m, "qn")
    "WITH " + embCte +
      pqSubCtes(dims, m, ksub, iters, seed) + ", " +
      s"qn AS (SELECT vec_id AS q_id, ${oSqlNrm("embedding")} AS q_norm FROM emb WHERE vec_id < 10), " +
      s"scored AS (SELECT qn.q_id, n.vec_id AS n_id, " +
      s"CASE WHEN qn.q_norm > 0 AND $rn2 > 0 THEN ($ip) / (qn.q_norm * sqrt($rn2)) ELSE 0.0 END AS sim " +
      s"FROM codes n CROSS JOIN qn $qdJoins WHERE n.vec_id <> qn.q_id), " +
      topKSql("scored", k)
  }

  /** The sim_ann_ivfpq oracle: ivfSql's coarse quantizer CTEs (prefix
    * v, same seed/iters → identical cells to sim_ann_ivf) compose with
    * pqSubCtes' codebooks/codes — the scan is the pqSql ADC scoring
    * restricted to (corpus cell = probed cell) pairs instead of the
    * full cross join. */
  private[registry] def ivfPqSql(nlist: Int, nprobe: Int, k: Int, iters: Int,
      seed: Long, dims: Int, m: Int, ksub: Int): String = {
    require(m > 0 && dims % m == 0, "dims must split into m sub-vectors")
    val (qdJoins, ip, rn2) = pqAdcFragments(m, "vqb")
    "WITH " + embCte +
      coarseLloydCtes("v", nlist, iters, seed) + ", " +
      vCellSimCte(iters) +
      nearestCellCte +
      s"vqb AS (SELECT vec_id AS q_id, vnorm AS q_norm, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM vpc WHERE vec_id < 10) t WHERE rn <= $nprobe), " +
      pqSubCtes(dims, m, ksub, iters, seed) + ", " +
      s"scored AS (SELECT vqb.q_id, vcb.n_id, " +
      s"CASE WHEN vqb.q_norm > 0 AND $rn2 > 0 THEN ($ip) / (vqb.q_norm * sqrt($rn2)) ELSE 0.0 END AS sim " +
      s"FROM vcb JOIN vqb USING (cell) JOIN codes n ON n.vec_id = vcb.n_id $qdJoins WHERE vcb.n_id <> vqb.q_id), " +
      topKSql("scored", k)
  }

  /** DuckDB cosine with the same float math as VectorFns.cosine:
    * element-order double accumulation. */
  private[registry] def cosSql(a: String, b: String): String =
    oSqlSimDiv(
      s"(SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest($a) AS x, unnest($b) AS y) zz)",
      s"sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest($a) AS x) za)) * " +
        s"sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest($b) AS y) zb))")

  private[registry] val normSql =
    "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

  private[registry] val wordsSql =
    "string_split_regex(trim(lower(text)), '\\s+')"

  private[registry] val tokensSql =
    s"CAST(len(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)"

  private[registry] val stopListSql =
    TextAnalysis.Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** The tokenizer's regex split of the normalized text, as a list. */
  private[registry] val tokenListSql =
    s"regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')"

  /** Mirrors TextAnalysis.qualityScore: stop-word, word and
    * distinct-word counts per doc, blended into `quality`. */
  private[registry] val qualitySql =
    "SELECT doc_id, 0.4 * least(nw / 200.0, 1.0) + 0.3 * least(stop / nw * 4.0, 1.0) + 0.3 * (nd / nw) AS quality FROM " +
      s"(SELECT doc_id, CAST(len(list_filter($wordsSql, x -> x IN $stopListSql)) AS DOUBLE) AS stop, " +
      s"CAST(len($wordsSql) AS DOUBLE) AS nw, CAST(len(list_distinct($wordsSql)) AS DOUBLE) AS nd FROM documents) t"

  /** Each doc's words split on single spaces (the corpus delimiter). */
  private[registry] val spaceWordsCte =
    "WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "

  /** The 8-token window frame over `spaceWordsCte`: each window's start
    * `wpos` and its key `whash` — the md5 of the window text for the
    * hashed flavors, the raw text for the exact ones. */
  private[registry] def windowsCte(hashed: Boolean): String = {
    val win = "array_to_string(list_slice(ws, i + 1, i + 8), ' ')"
    s"w AS (SELECT doc_id, i AS wpos, ${if (hashed) s"md5($win)" else win} AS whash " +
      "FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS i FROM d WHERE len(ws) >= 8) t), "
  }

  /** Every embedding by id, the input of the ANN and cell oracles. */
  private[registry] val embCte =
    "emb AS (SELECT vec_id, embedding FROM embeddings), "

  /** Each vector's norm and its cosine to every centroid of the
    * `v`-prefixed Lloyd CTEs after `iters` rounds. */
  private[registry] def vCellSimCte(iters: Int): String =
    s"vpc AS (SELECT e.vec_id, ${oSqlNrm("e.embedding")} AS vnorm, c.cell, ${oSqlSimDiv(oSqlDot("e.embedding", "c.cvec"), s"${oSqlNrm("e.embedding")} * c.cnorm")} AS csim FROM emb e CROSS JOIN vc$iters c), "

  /** Each `vpc` vector's nearest cell (ties to the lowest cell). */
  private[registry] val nearestCellCte =
    "vcb AS (SELECT vec_id AS n_id, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM vpc) t WHERE rn = 1), "

  /** The top-k tail of the kNN oracles: each query's `from` rows ranked
    * by (sim desc, n_id), ranks 1..k kept. */
  private[registry] def topKSql(from: String, k: Int): String =
    "ranked AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS \"rank\" " +
      s"FROM $from) SELECT q_id, \"rank\", n_id, round(sim, 4) AS cosine_sim FROM ranked WHERE \"rank\" <= $k"

  /** Mirrors TextAnalysis.bm25Scores verbatim: same constants, same
    * expression shape and associativity, so the only cross-engine
    * daylight is ulp-level log() noise absorbed by round(.,4). */
  private[registry] def bm25Sql(terms: Seq[String], k1: Double,
      b: Double): String = {
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

  private[registry] val winnowCtes: String = winnowCtesFor("", "TRUE")

  /** [[winnowCtes]] over a filtered doc subset with prefixed CTE
    * names, so one oracle can instantiate it twice (corpus +
    * arrivals — the incremental query). */
  private[registry] def winnowCtesFor(p: String, where: String): String = {
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
}
