package graft
package registry

import graft.operators._
import org.apache.spark.sql.functions._
import Shared._

/** Join queries (`join_*`): equi, semi/anti, range, as-of and
  * Bloom-prefiltered joins. */
object JoinQueries {

  lazy val all: Seq[Query] = Seq(
    // --- joins (§2.3 gap-fill) ---
    Query("join_brand_revenue", (s, d) => {
      val li = t(s, d, "lineitem"); val p = t(s, d, "part")
      // no broadcast hint: part grows with SF (not broadcast-safe at
      // 100 TB) — size-based planning + AQE pick the strategy
      li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n_items"))
    },
      ("SELECT p_brand, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand")),
    Query("join_multiway", (s, d) => {
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
    },
      ("SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name")),
    Query("join_left_orders", (s, d) => {
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
    },
      ("SELECT o_orderpriority, count(l_orderkey) AS n_items, count(*) AS n_rows " +
        "FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_orderpriority")),
    Query("join_semi_customers", (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
      "SELECT c_custkey, c_name FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"),
    Query("join_anti_customers", (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
      "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"),
    Query("join_asof_last_order", (s, d) => {
      val e = t(s, d, "events"); val o = t(s, d, "orders")
      Relational.asofJoin(e, o, "event_id", "user_id", "ts",
          "o_custkey", "o_orderdate", "o_orderkey")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("o_orderkey").as("asof_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("asof_orderdate"))
    },
      ("SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s, o.o_orderkey AS asof_orderkey, " +
        "strftime(o.o_orderdate, '%Y-%m-%d') AS asof_orderdate FROM events e LEFT JOIN LATERAL (" +
        "SELECT o_orderkey, o_orderdate FROM orders o WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts " +
        "ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o ON true")),
    Query("join_full_outer", (s, d) => {
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
    },
      ("WITH o AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, count(*) AS n_orders FROM orders GROUP BY 1), " +
        "e AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events FROM events GROUP BY 1) " +
        "SELECT COALESCE(o.day, e.day) AS day, COALESCE(n_orders, 0) AS n_orders, COALESCE(n_events, 0) AS n_events " +
        "FROM o FULL JOIN e ON o.day = e.day")),
    Query("join_cross", (s, d) =>
      t(s, d, "nation").crossJoin(t(s, d, "region"))
        .select(col("n_name"), col("r_name"),
          concat(col("n_name"), lit("/"), col("r_name")).as("pair")),
      "SELECT n_name, r_name, n_name || '/' || r_name AS pair FROM nation CROSS JOIN region"),
    Query("join_bloom_prefilter", (s, d) => {
      // bloom semi-join reduction: exact customers-with-big-orders
      // result; the customer side is prefiltered by a broadcast bloom
      // bitmap before the semi-join shuffle (Relational.bloomSemiJoin)
      val c = t(s, d, "customer")
      val hot = t(s, d, "orders").filter(col("o_totalprice") > 200000)
      Relational.bloomSemiJoin(c, hot, "c_custkey", "o_custkey",
          expectedItems = 100000L, numBits = 800000L)
        .select(col("c_custkey"), col("c_name"))
    },
      ("SELECT c_custkey, c_name FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)")),
    Query("join_salted_skew", (s, d) => {
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
    },
      ("SELECT o_orderpriority, count(*) AS n_rows, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority")),
    Query("join_range_binned", (s, d) =>
      Relational.binnedRangeCount(t(s, d, "events"), "event_id", "ts", 300L),
      ("WITH e AS (SELECT event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec FROM events WHERE ts IS NOT NULL) " +
        "SELECT a.event_id, count(b.event_id) AS n_nearby FROM e a " +
        "LEFT JOIN e b ON b.sec >= a.sec - 300 AND b.sec <= a.sec + 300 AND b.event_id <> a.event_id " +
        "GROUP BY a.event_id")),
    Query("join_range_orders", (s, d) => {
      val e = t(s, d, "events"); val o = t(s, d, "orders")
      e.join(o, e("user_id") === o("o_custkey")
          && o("o_orderdate") >= e("ts") - expr("INTERVAL 90 DAYS")
          && o("o_orderdate") <= e("ts"), "left")
        .groupBy(e("event_id"))
        .agg(count(o("o_orderkey")).as("n_orders_90d"))
    },
      ("SELECT e.event_id, count(o.o_orderkey) AS n_orders_90d FROM events e LEFT JOIN orders o " +
        "ON o.o_custkey = e.user_id AND o.o_orderdate BETWEEN e.ts - INTERVAL 90 DAY AND e.ts GROUP BY e.event_id"))
  )
}
