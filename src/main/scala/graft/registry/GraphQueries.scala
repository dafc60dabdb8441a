package graft
package registry

import graft.operators._
import org.apache.spark.sql.functions._
import Shared._

/** Graph queries (`graph_*`): PageRank, label propagation and
  * triangle counts. */
object GraphQueries {

  /** Label-propagation rounds (graph_labelprop): 3 deterministic
    * synchronous rounds over the co-purchase graph; the oracle
    * unrolls the same 3. */
  val LpIters = 3

  lazy val all: Seq[Query] = Seq(
    // --- iterative graph analytics ---
    Query("graph_pagerank", (s, d) => {
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
    },
      // pagerank oracle: the 3 rounds unrolled as CTEs — 1/N, rank/deg,
      // α-damping are all correctly-rounded IEEE ops on both engines, and
      // the per-node in-sums use the ordered list fold, so raw doubles
      // hash-match with no rounding anywhere (the RRF convention)
      {
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
      }),
    // --- graph structure beyond PageRank ---
    Query("graph_triangles", (s, d) => {
      // degree-ordered triangle count + clustering coefficient over
      // the co-purchase graph (parts sharing an order). The orientation
      // is the scale story: wedges enumerate at each edge's LOWER-
      // degree endpoint, so hub fan-out is bounded by oriented
      // out-degree (O(√m)), never raw degree
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("src"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("dst"))
      // the single-job W=1 cluster plan; a big-SF single-box probe that
      // must bound peak spill calls Graph.triangleCountsBudgeted itself
      Graph.triangleCounts(a.join(b, "l_orderkey")
        .where(col("src") < col("dst"))
        .select(col("src"), col("dst")))
    },
      // triangle oracle: the same degree-ordered orientation unrolled as
      // CTEs — counts are exact integers; the coefficient mirrors the
      // Spark op order (2·T, then /(d·(d−1))) so doubles are bit-equal
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
        "FROM deg LEFT JOIN pn ON deg.node = pn.node")),
    Query("graph_labelprop", (s, d) => {
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
    },
      // LPA oracle: the same 3 synchronous rounds unrolled — integer
      // counts + min-label tie-break, no floating point anywhere
      {
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
      })
  )
}
