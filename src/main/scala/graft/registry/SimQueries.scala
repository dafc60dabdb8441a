package graft
package registry

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Similarity-search queries (`sim_*`): exact kNN, LSH, IVF, PQ,
  * re-ranking, hybrid retrieval and ranking metrics. */
object SimQueries {

  /** The exact-kNN oracles' inputs: the 10 query vectors `q` and the
    * corpus `c`. */
  private val knnCtes =
    "WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10), " +
      "c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings), "

  /** `knnCtes` with each side's label, for the label-aware oracles. */
  private val labeledKnnCtes =
    "WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label FROM embeddings WHERE vec_id < 10), " +
      "c AS (SELECT vec_id AS n_id, embedding AS n_vec, label AS n_label FROM embeddings), "

  /** Exact cosine of every (query, other corpus vector) pair. */
  private val exactScoredCte =
    s"scored AS (SELECT q_id, n_id, ${cosSql("q_vec", "n_vec")} AS sim FROM q CROSS JOIN c WHERE n_id <> q_id), "

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

  /** Matryoshka truncation (sim_matryoshka): 64-d fixture probed at a
    * 16-d prefix — the 4× flop/memory cut; `in_full_topk` reports the
    * overlap trade on this (non-MRL-trained) fixture honestly. */
  val MatryoshkaDims = 16

  /** RBO persistence (sim_rbo): the Webber et al. convention p = 0.9
    * — ~86% of the weight mass inside the top 5 at k = 5. */
  val RboP = 0.9

  /** Per-leg candidate window for hybrid RRF retrieval
    * (sim_hybrid_rrf): each leg contributes ranks only inside its own
    * top-K window — the Elasticsearch rrf `rank_window_size`. */
  val HybridLegK = 50

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
    "WITH " + embCte +
      coarseLloydCtes("v", nlist, iters, seed) + ", " +
      s"vpc AS (SELECT e.vec_id, c.cell, ${oSqlSimDiv(oSqlDot("e.embedding", "c.cvec"), s"${oSqlNrm("e.embedding")} * c.cnorm")} AS csim FROM emb e CROSS JOIN vc$iters c), " +
      nearestCellCte +
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
    "WITH " + embCte +
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
      topKSql("exact", k)
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
      topKSql("scored", k)
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
    knnCtes +
      s"fs AS (SELECT q_id, n_id, ${cosSql("q_vec", "n_vec")} AS sim FROM q CROSS JOIN c WHERE n_id <> q_id), " +
      s"fa AS (SELECT q_id, n_id, r FROM (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS r FROM fs) x WHERE r <= $k), " +
      s"ts AS (SELECT q_id, n_id, ${cosSql(s"q_vec[1:$md]", s"n_vec[1:$md]")} AS sim FROM q CROSS JOIN c WHERE n_id <> q_id), " +
      s"ta AS (SELECT q_id, n_id, r FROM (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS r FROM ts) x WHERE r <= $k), " +
      "mm AS (SELECT fa.q_id, greatest(fa.r, ta.r) AS mx FROM fa JOIN ta ON fa.q_id = ta.q_id AND fa.n_id = ta.n_id), " +
      s"g AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_common, round(list_aggregate(list_sort(list(CASE mx $wCase END)), 'sum'), 4) AS rbo FROM mm GROUP BY q_id) " +
      "SELECT q.q_id, coalesce(g.n_common, 0) AS n_common, coalesce(g.rbo, CAST(0.0 AS DOUBLE)) AS rbo " +
      "FROM q LEFT JOIN g ON q.q_id = g.q_id"
  }

  lazy val all: Seq[Query] = Seq(
    // --- similarity search ---
    Query("sim_knn_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
    },
      (knnCtes +
        exactScoredCte +
        topKSql("scored", 5))),
    Query("sim_hard_negatives", (s, d) => {
      // contrastive-training negative mining: per anchor the 5 MOST
      // similar vectors of a DIFFERENT label (exclusion fused into the
      // join predicate — excluded pairs never reach scoring)
      val emb = t(s, d, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), 5)
    },
      // hard negatives: the knn oracle with the different-label predicate
      // fused into the pair filter
      (labeledKnnCtes +
        s"scored AS (SELECT q_id, n_id, n_label, ${cosSql("q_vec", "n_vec")} AS sim FROM q CROSS JOIN c WHERE n_id <> q_id AND n_label <> q_label), " +
        "ranked AS (SELECT q_id, n_id, n_label, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS \"rank\" FROM scored) " +
        "SELECT q_id, \"rank\", n_id, n_label, round(sim, 4) AS cosine_sim FROM ranked WHERE \"rank\" <= 5")),
    Query("sim_nn_blocked", (s, d) =>
      Similarity.nearestInBlock(t(s, d, "embeddings"), "vec_id", "embedding",
        "label"),
      ("WITH a AS (SELECT label, vec_id AS a_id, embedding AS a_vec FROM embeddings), " +
        "b AS (SELECT label, vec_id AS b_id, embedding AS b_vec FROM embeddings), " +
        s"scored AS (SELECT a_id, b_id, ${cosSql("a_vec", "b_vec")} AS sim FROM a JOIN b USING (label) WHERE a_id <> b_id), " +
        "ranked AS (SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn FROM scored) " +
        "SELECT a_id AS vec_id, b_id AS nn_id, round(sim, 4) AS cosine_sim FROM ranked WHERE rn = 1")),
    Query("sim_hybrid_rrf", (s, d) => {
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
    },
      // both legs replayed in full (BM25 CTE = the text_bm25 mirror;
      // cosine = the sim_knn_topk mirror, no self-exclusion since the
      // query id is synthetic), ranks windowed per leg, fusion =
      // coalesce'd 1/(60+rank) sums — correctly-rounded IEEE divides
      // in a fixed order, so the doubles hash-match unrounded
      hybridRrfSql(
        "q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0), " +
          s"scored AS (SELECT vec_id AS n_id, ${cosSql("q_vec", "embedding")} AS sim FROM embeddings, q), " +
          "dense AS (SELECT n_id AS doc_id, rn FROM (SELECT n_id, CAST(row_number() OVER (ORDER BY sim DESC, n_id) AS BIGINT) AS rn FROM scored) t " +
          s"WHERE rn <= $HybridLegK)")),
    Query("sim_hybrid_rrf_ann", (s, d) => {
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
    },
      // the production flavor: dense leg = the sim_ann_ivf probe replay
      // (same fit CTEs, query restricted to vec 0, k widened to the
      // hybrid window) nested as a derived table; the lexical leg and
      // fusion come from the SAME builder as sim_hybrid_rrf
      hybridRrfSql(
        "dense AS (SELECT n_id AS doc_id, \"rank\" AS rn FROM (" +
          ivfSql(nlist = IvfNlist, nprobe = IvfNprobe, k = HybridLegK,
            iters = 2, seed = 42L, qPred = "vec_id = 0") + ") iv)")),
    Query("sim_ann_lsh", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.annTopK(emb, emb.filter(col("vec_id") < 10), 5, 64, 4)
    },
      (s"WITH c AS (SELECT vec_id AS n_id, embedding AS n_vec, ${srpBucketSql("embedding", 64, 4)} AS bucket FROM embeddings), " +
        s"q AS (SELECT vec_id AS q_id, embedding AS q_vec, ${srpBucketSql("embedding", 64, 4)} AS bucket FROM embeddings WHERE vec_id < 10), " +
        s"scored AS (SELECT q_id, n_id, ${cosSql("q_vec", "n_vec")} AS sim FROM q JOIN c USING (bucket) WHERE n_id <> q_id), " +
        topKSql("scored", 5))),
    Query("sim_ann_multiprobe", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.annTopKMultiProbe(emb, emb.filter(col("vec_id") < 10), 5,
        64, 4)
    },
      multiProbeSql(dims = 64, planes = 4, k = 5)),
    Query("sim_rerank", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.annTopKRerank(emb, emb.filter(col("vec_id") < 10), 5, 64, 4,
        rerankFactor = 3)
    },
      rerankSql(dims = 64, planes = 4, k = 5, factor = 3)),
    Query("sim_centroids", (s, d) =>
      // the PORTABLE (ordered-fold) flavor so the oracle hash-matches
      // bit-for-bit; Similarity.labelCentroids (algebraic avg) is the
      // bounded-state scale default, spec-proved to agree within 1e-9
      Similarity.labelCentroidsPortable(t(s, d, "embeddings"), "label",
        "embedding"),
      ("SELECT label, CAST(t.i AS BIGINT) AS dim, " +
        "list_aggregate(list_transform(list_sort(list({'k': vec_id, 'v': CAST(t.x AS DOUBLE)})), r -> r.v), 'sum') / count(*) AS centroid_val, " +
        "count(*) AS n_vectors FROM embeddings, " +
        "LATERAL (SELECT unnest(embedding) AS x, unnest(range(0, len(embedding))) AS i) t " +
        "GROUP BY 1, 2")),
    // The three in-query-fit ANN queries pay the FULL fit in their
    // timed body: memoizing it would move the fit cost out of the
    // bench under unchanged names. The memoized-artifact production
    // shape lives in the *_probe variants; these remain the
    // fit-included flavor.
    Query("sim_ann_ivf", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5,
        nlist = IvfNlist, nprobe = IvfNprobe)
    },
      ivfSql(nlist = IvfNlist, nprobe = IvfNprobe, k = 5,
        iters = 2, seed = 42L)),
    Query("sim_ann_pq", (s, d) => {
      // compressed-domain brute force: fit per-sub-space codebooks
      // (portable Lloyd, seed offset per sub-space), encode the corpus
      // to PqM codes, ADC-score against broadcast queries. The oracle
      // replays fit+encode+scan bit-for-bit (pqSql).
      val emb = t(s, d, "embeddings")
      val cb = Similarity.fitPqCodebooks(emb, "vec_id", "embedding",
        dims = 64, m = PqM, ksub = PqKsub, iters = PqIters, seed = 42L)
      Similarity.pqAdcTopK(emb, emb.filter(col("vec_id") < 10), 5, cb)
    },
      pqSql(dims = 64, m = PqM, ksub = PqKsub, k = 5,
        iters = PqIters, seed = 42L)),
    Query("sim_ann_ivfpq", (s, d) => {
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
    },
      ivfPqSql(nlist = IvfNlist, nprobe = IvfNprobe,
        k = 5, iters = PqIters, seed = 42L, dims = 64, m = PqM,
        ksub = PqKsub)),
    Query("sim_ann_pq_probe", (s, d) => {
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
    },
      // identical RESULT to sim_ann_pq (all-cells probe == full ADC
      // scan, spec-asserted) — the same oracle gates the probe plan
      pqSql(dims = 64, m = PqM, ksub = PqKsub,
        k = 5, iters = PqIters, seed = 42L)),
    Query("sim_ann_ivfpq_probe", (s, d) => {
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
    },
      // identical RESULT to sim_ann_ivfpq by construction (prebuilt
      // index + expression-based probe cells, spec-asserted) — the same
      // oracle gates both plans
      ivfPqSql(nlist = IvfNlist,
        nprobe = IvfNprobe, k = 5, iters = PqIters, seed = 42L, dims = 64,
        m = PqM, ksub = PqKsub)),
    Query("sim_index_report", (s, d) => {
      // index health over the persisted IVFPQ index: per-cell counts,
      // skew vs uniform, and self-ADC reconstruction quality — the
      // drift/probe-cost monitor that decides when advanceIvfPqIndex
      // must give way to a refit (ivfPqIndexHealth). Portable avg
      // flavor so the oracle replays the fold bit-for-bit.
      val cb = ivfPqArtifacts(s, d)._2
      Similarity.ivfPqIndexReportPortable(ivfPqIndex(s, d),
        t(s, d, "embeddings"), cb, IvfNlist)
    },
      indexReportSql(nlist = IvfNlist,
        iters = PqIters, seed = 42L, dims = 64, m = PqM, ksub = PqKsub)),
    Query("sim_ann_recall", (s, d) => {
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
      // clustered convention): annRecallFacets references `exact`
      // ~7x and the probes 2-3x inside its union — un-pinned, the
      // brute-force truth leg re-ran per reference (46 scans / 61
      // exchanges). The four facets are INDEPENDENT given (emb, idx,
      // artifacts), so they materialize concurrently; `ivf` shares the memoized
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
    },
      // sim_ann_recall oracle: the EXACT side replayed in full (same
      // ranking CTE as sim_knn_topk, folded to a count + rank-ordered
      // signature), facet booleans pinned true — the rel_approx_distinct
      // convention: the estimate is engine-side, the ground truth and
      // the tolerance verdict are not
      (knnCtes +
        exactScoredCte +
        "ranked AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rnk FROM scored), " +
        "top AS (SELECT q_id, rnk, n_id FROM ranked WHERE rnk <= 5), " +
        "meta AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs, " +
        "md5(string_agg(CAST(q_id AS VARCHAR) || ':' || CAST(rnk AS VARCHAR) || ':' || CAST(n_id AS VARCHAR), ',' ORDER BY q_id, rnk)) AS exact_sig FROM top) " +
        "SELECT f.facet, m.n_exact_pairs, m.exact_sig, true AS recall_ok " +
        "FROM (VALUES ('ivf_vs_exact'), ('pruning_ivfpq_vs_adc'), ('quantization_adc_vs_exact'), ('end_to_end_ivfpq_vs_exact')) f(facet) CROSS JOIN meta m")),
    Query("sim_ann_recall_clustered", (s, d) => {
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
      // ONE partition for the generator: the fixture is a
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
    },
      // sim_ann_recall_clustered oracle: the exact side replayed over the
      // SQL-replayed clustered fixture (integer-valued floats — cosine
      // bit-identical across engines), booleans pinned true: the 50%+
      // floors are the point of the clustered fixture
      (s"WITH emb AS (${Similarity.clusteredEmbeddingsSql("range(0, 112) t(i)", 64, 16)}), " +
        "q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM emb WHERE vec_id < 10), " +
        "c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM emb), " +
        exactScoredCte +
        "ranked AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rnk FROM scored), " +
        "top AS (SELECT q_id, rnk, n_id FROM ranked WHERE rnk <= 5), " +
        "meta AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs, " +
        "md5(string_agg(CAST(q_id AS VARCHAR) || ':' || CAST(rnk AS VARCHAR) || ':' || CAST(n_id AS VARCHAR), ',' ORDER BY q_id, rnk)) AS exact_sig FROM top) " +
        "SELECT f.facet, m.n_exact_pairs, m.exact_sig, true AS recall_ok " +
        "FROM (VALUES ('ivf_vs_exact'), ('pruning_ivfpq_vs_adc'), ('quantization_adc_vs_exact'), ('end_to_end_ivfpq_vs_exact')) f(facet) CROSS JOIN meta m")),
    // --- SQ8 scalar quantization of embeddings ---
    Query("sim_scalar_quant", (s, d) => {
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
    },
      // SQ8 oracle: refit the exact per-dim min/max in SQL, replay the
      // floor(x·255 + 0.5) code path and the sorted-fold MSE — raw
      // doubles hash-gate unrounded
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
        "FROM e GROUP BY vec_id")),
    // --- matryoshka truncated-prefix retrieval + overlap witness ---
    Query("sim_matryoshka", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val full = Similarity.bruteForceTopK(emb, q, 5)
        .select(col("q_id"), col("n_id"), lit(true).as("in_full_topk"))
      Similarity.matryoshkaTopK(emb, q, 5, MatryoshkaDims)
        .join(full, Seq("q_id", "n_id"), "left")
        .select(col("q_id"), col("rank"), col("n_id"), col("cosine_sim"),
          coalesce(col("in_full_topk"), lit(false)).as("in_full_topk"))
    },
      // matryoshka oracle: the sim_knn_topk ranking CTE at BOTH widths,
      // truncation via 1-based inclusive list slicing
      {
        val md = MatryoshkaDims
        knnCtes +
          s"ts AS (SELECT q_id, n_id, ${cosSql(s"q_vec[1:$md]", s"n_vec[1:$md]")} AS sim " +
          "FROM q CROSS JOIN c WHERE n_id <> q_id), " +
          "tr AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS \"rank\" FROM ts), " +
          s"fs AS (SELECT q_id, n_id, ${cosSql("q_vec", "n_vec")} AS sim " +
          "FROM q CROSS JOIN c WHERE n_id <> q_id), " +
          "fr AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS r FROM fs) x WHERE r <= 5) " +
          "SELECT tr.q_id, tr.\"rank\", tr.n_id, round(tr.sim, 4) AS cosine_sim, " +
          "EXISTS (SELECT 1 FROM fr WHERE fr.q_id = tr.q_id AND fr.n_id = tr.n_id) AS in_full_topk " +
          "FROM tr WHERE tr.\"rank\" <= 5"
      }),
    Query("sim_ndcg", (s, d) => {
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
    },
      // nDCG oracle: the knn ranking CTE + label relevance, DCG as the
      // rank-ordered struct fold, IDCG as the closed min(k, n_rel) sum
      (labeledKnnCtes +
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
        "CASE WHEN idcg > 0 THEN round(dcg / idcg, 4) END AS ndcg FROM f")),
    Query("sim_mrr", (s, d) => {
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
    },
      (labeledKnnCtes +
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
        "FROM pq WHERE n_rel > 0")),
    Query("sim_rbo", (s, d) => {
      // list-agreement between the matryoshka first stage and the
      // full-width exact ranking — the quantified version of
      // sim_matryoshka's per-row overlap flag
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.rboOverlap(
        Similarity.bruteForceTopK(emb, q, 5),
        Similarity.matryoshkaTopK(emb, q, 5, MatryoshkaDims),
        k = 5, p = RboP)
    },
      rboSql(k = 5, p = RboP, md = MatryoshkaDims))
  )
}
