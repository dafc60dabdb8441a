package graft
package registry

import graft.operators._
import org.apache.spark.sql.functions._
import Shared._

/** Batch forms of the streaming operators (`stream_*`). */
object StreamQueries {

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
    "WITH " + embCte +
      coarseLloydCtes("v", nlist, iters, seed) + ", " +
      vCellSimCte(iters) +
      nearestCellCte +
      s"vqb AS (SELECT vec_id AS q_id, vnorm AS q_norm, cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn FROM vpc WHERE vec_id % 50 = 0) t WHERE rn <= $nprobe), " +
      pqSubCtes(dims, m, ksub, iters, seed, qPred = "e.vec_id % 50 = 0") + ", " +
      s"scored AS (SELECT vqb.q_id, vcb.n_id, " +
      s"CASE WHEN vqb.q_norm > 0 AND $rn2 > 0 THEN ($ip) / (vqb.q_norm * sqrt($rn2)) ELSE 0.0 END AS sim " +
      s"FROM vcb JOIN vqb USING (cell) JOIN codes n ON n.vec_id = vcb.n_id $qdJoins WHERE vcb.n_id <> vqb.q_id) " +
      s"SELECT q_id AS new_id, CAST(q_id AS BIGINT) AS arrival_ts, n_id AS neighbor_id, round(sim, 4) AS adc_sim FROM scored WHERE sim >= $minSim"
  }

  lazy val all: Seq[Query] = Seq(
    // --- streaming batch analogs (§2.9; streaming forms in graft.streaming) ---
    Query("stream_tumbling_counts", (s, d) =>
      Relational.tumblingCounts(t(s, d, "events"), "ts", "hour", "event_type", "value"),
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type, count(*) AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2")),
    Query("stream_sessionize", (s, d) =>
      Relational.sessionize(t(s, d, "events"), "user_id", "ts", "event_id", 1800),
      ("WITH e AS (SELECT user_id, event_id, ts, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec FROM events), " +
        "flagged AS (SELECT user_id, event_id, ts, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT user_id, ts, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM flagged) " +
        "SELECT user_id, session_seq, count(*) AS n_events, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, " +
        "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end FROM sess GROUP BY user_id, session_seq")),
    Query("stream_sliding_counts", (s, d) =>
      Relational.slidingCounts(t(s, d, "events"), "ts", 3, 2, "event_type"),
      ("WITH e AS (SELECT event_type, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t FROM events), " +
        "c AS (SELECT event_type, t, t - t % 7200 AS s0 FROM e), " +
        "x AS (SELECT event_type, t, s0 AS ws FROM c UNION ALL SELECT event_type, t, s0 - 7200 FROM c) " +
        "SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start, event_type, count(*) AS n_events " +
        "FROM x WHERE ws > t - 10800 GROUP BY 1, 2")),
    Query("stream_ann_probe_flags", (s, d) => {
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
    },
      annProbeFlagsSql(nlist = IvfNlist,
        nprobe = IvfNprobe, iters = PqIters, seed = 42L, dims = 64,
        m = PqM, ksub = PqKsub, minSim = 0.3)),
    Query("stream_window_dup_flags", (s, d) => {
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
    },
      // stream_window_dup_flags oracle: the text_window_dedup hashing
      // replayed, split 90/10 — canonical (lowest (doc, pos)) occurrence
      // per hash over the corpus side is the index, arrival windows
      // equi-join it on the hash
      (spaceWordsCte + windowsCte(hashed = true) +
        "idx AS (SELECT whash, dup_of, dup_pos FROM (SELECT whash, doc_id AS dup_of, wpos AS dup_pos, " +
        "row_number() OVER (PARTITION BY whash ORDER BY doc_id, wpos) AS rn FROM w WHERE doc_id % 10 <> 0) r WHERE rn = 1), " +
        "arr AS (SELECT doc_id, wpos, whash FROM w WHERE doc_id % 10 = 0) " +
        "SELECT a.doc_id AS new_id, CAST(a.doc_id AS BIGINT) AS arrival_ts, CAST(a.wpos AS BIGINT) AS wpos, " +
        "i.dup_of, CAST(i.dup_pos AS BIGINT) AS dup_pos FROM arr a JOIN idx i USING (whash)"))
  )
}
