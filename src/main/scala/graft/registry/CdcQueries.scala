package graft
package registry

import graft.operators._
import org.apache.spark.sql.functions._
import Shared._

/** Change-data-capture queries (`cdc_*`): upserts, snapshot diffs,
  * change logs and SCD2. */
object CdcQueries {

  lazy val all: Seq[Query] = Seq(
    // --- incremental table maintenance (§2 gap-fill: the reference's
    // sink is append-only, but a maintained 100 TB corpus needs MERGE /
    // diff / log-replay / SCD2 — see operators/Incremental.scala) ---
    Query("cdc_upsert_orders", (s, d) => {
      // daily-delta MERGE: price corrections replace same-key rows,
      // shifted-key arrivals insert, untouched base rows survive. One
      // anti-join + union; AQE broadcasts the small delta side
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      // the corrected price is ×0.5 — an exact IEEE scaling, so both
      // engines produce identical bits with no rounding boundary (a
      // round(×1.05, 2) fixture diverged at a half-cent)
      val corrections = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") * 0.5)
        .withColumn("o_orderstatus", lit("R"))
      val arrivals = base.filter(col("o_orderkey") % 100 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
        .withColumn("o_orderstatus", lit("N"))
      Incremental.mergeUpsert(base,
        corrections.unionByName(arrivals), Seq("o_orderkey"))
    },
      // cdc oracles: the delta fixtures are derived from the base tables
      // with the same modular rules on both sides, so every branch
      // (update, insert, delete, survive) is replayed verbatim
      ("WITH base AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders), " +
        "src AS (SELECT o_orderkey, o_totalprice * 0.5 AS o_totalprice, 'R' AS o_orderstatus " +
        "FROM base WHERE o_orderkey % 10 = 3 " +
        "UNION ALL SELECT o_orderkey + 100000000, o_totalprice, 'N' FROM base WHERE o_orderkey % 100 = 7) " +
        "SELECT t.o_orderkey, t.o_totalprice, t.o_orderstatus FROM base t " +
        "WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey) " +
        "UNION ALL SELECT * FROM src")),
    Query("cdc_snapshot_diff", (s, d) => {
      // snapshot-vs-snapshot change capture: a re-crawl drops every
      // 7th doc, uppercases lang on every 5th, and lands shifted-key
      // copies of every 11th — the diff tags each changed key I/U/D
      val old = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val recrawl = old.filter(col("doc_id") % 7 =!= 0)
        .withColumn("lang", when(col("doc_id") % 5 === 0,
          upper(col("lang"))).otherwise(col("lang")))
        .unionByName(old.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            lit("xx").as("lang"), col("source"), col("n_chars")))
      Incremental.snapshotDiff(old, recrawl, Seq("doc_id"))
    },
      ("WITH olds AS (SELECT doc_id, lang, source, n_chars FROM documents), " +
        "news AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN upper(lang) ELSE lang END AS lang, " +
        "source, n_chars FROM olds WHERE doc_id % 7 <> 0 " +
        "UNION ALL SELECT doc_id + 1000000, 'xx', source, n_chars FROM olds WHERE doc_id % 11 = 0), " +
        "j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
        "CASE WHEN o.doc_id IS NULL THEN 'I' WHEN n.doc_id IS NULL THEN 'D' " +
        "WHEN NOT (o.lang IS NOT DISTINCT FROM n.lang AND o.source IS NOT DISTINCT FROM n.source " +
        "AND o.n_chars IS NOT DISTINCT FROM n.n_chars) THEN 'U' END AS op, " +
        "o.lang AS ol, o.source AS os, o.n_chars AS onc, n.lang AS nl, n.source AS ns, n.n_chars AS nnc " +
        "FROM olds o FULL JOIN news n ON o.doc_id = n.doc_id) " +
        "SELECT doc_id, op, CASE WHEN op = 'D' THEN ol ELSE nl END AS lang, " +
        "CASE WHEN op = 'D' THEN os ELSE ns END AS source, " +
        "CASE WHEN op = 'D' THEN onc ELSE nnc END AS n_chars FROM j WHERE op IS NOT NULL")),
    Query("cdc_change_log", (s, d) => {
      // change-feed replay: pre-cutoff events collapse to a per-user
      // base snapshot; post-cutoff events are the feed ('error' =
      // delete, anything else = upsert); latest feed row per user wins
      val ev = t(s, d, "events")
      // events.ts is parquet TIMESTAMP_NTZ — keep the cutoff and the
      // epoch extraction in ntz space (session tz is UTC, so ntz micros
      // == DuckDB's naive epoch_us)
      val cutoff = lit("2024-01-16").cast("timestamp_ntz")
      val base = Incremental.latestPerKey(
        ev.filter(col("ts") < cutoff)
          .select(col("user_id"), col("value"), col("ts"), col("event_id")),
        Seq("user_id"), Seq(col("ts"), col("event_id"))).drop("event_id")
      val feed = ev.filter(col("ts") >= cutoff)
        .select(col("user_id"), col("value"), col("ts"), col("event_id"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"))
      Incremental.applyChangeLog(base, feed, Seq("user_id"),
          Seq(col("ts"), col("event_id")))
        .select(col("user_id"), round(col("value"), 4).as("value"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    },
      ("WITH base AS (SELECT user_id, value, ts FROM (" +
        "SELECT user_id, value, ts, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events WHERE ts < TIMESTAMP '2024-01-16') WHERE rn = 1), " +
        "feed AS (SELECT user_id, value, ts, event_id, " +
        "CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op " +
        "FROM events WHERE ts >= TIMESTAMP '2024-01-16'), " +
        "latest AS (SELECT * FROM (SELECT feed.*, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM feed) WHERE rn = 1), " +
        "ups AS (SELECT user_id, value, ts FROM latest WHERE op <> 'delete'), " +
        "del AS (SELECT user_id FROM latest WHERE op = 'delete'), " +
        "merged AS (SELECT b.* FROM base b WHERE NOT EXISTS (SELECT 1 FROM ups u WHERE u.user_id = b.user_id) " +
        "UNION ALL SELECT * FROM ups) " +
        "SELECT user_id, round(value, 4) AS value, CAST(epoch_us(ts) AS BIGINT) AS ts_us " +
        "FROM merged m WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.user_id = m.user_id)")),
    Query("cdc_scd2_events", (s, d) =>
      // change-compressed type-2 history: per user, the event_type
      // timeline with same-value runs collapsed, valid_from/valid_to
      // stamped from the row's ts and the next kept row's
      Incremental.scd2History(
          t(s, d, "events").select(col("user_id"), col("event_type"),
            col("ts"), col("event_id")),
          Seq("user_id"), Seq(col("ts"), col("event_id")),
          Seq("event_type"), "ts")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from").cast("timestamp")).as("valid_from_us"),
          unix_micros(col("valid_to").cast("timestamp")).as("valid_to_us"),
          col("is_current")),
      ("WITH c AS (SELECT user_id, event_type, ts, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
        "k AS (SELECT user_id, event_type, ts, event_id FROM c WHERE prev IS NULL OR prev <> event_type) " +
        "SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS valid_from_us, " +
        "CAST(epoch_us(lead(ts) OVER w) AS BIGINT) AS valid_to_us, " +
        "(lead(ts) OVER w) IS NULL AS is_current " +
        "FROM k WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"))
  )
}
