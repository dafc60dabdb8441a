package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter,
  StreamingQueryListener}

/** Engine-side streaming observability: a
  * [[StreamingQueryListener]] that records one row per micro-batch to
  * a parquet metrics log — (query_id, run_id, name, batch_id,
  * trigger_ts, rows, wall_ms, state_rows) — so the dashboard's
  * freshness story has an engine-side metrics table behind it (the
  * analog of the reference sidebar's last-refresh panel,
  * taxi_dashboard.py:83-104, which polls FILE mtimes because the
  * reference engine records nothing).
  *
  * Scale shape: the listener runs on the driver's listener bus and
  * writes ONE tiny append per trigger — no executor work beyond a
  * single-row parquet job, no state held. The log is append-only (a
  * replayed batch appends a second row; [[freshness]] collapses
  * duplicates deterministically). File-count hygiene at long uptimes
  * is `Sources.compact` on the metrics dir, same as any streaming
  * sink output.
  *
  * Attachment is BY QUERY NAME, not id: the id exists only after
  * `.start()` returns, and attaching afterwards can lose batch 0 of a
  * fast drain — so [[writeStream]] names the query and attaches the
  * name-filtered listener before the caller starts it.
  */
object StreamMetrics {

  /** One micro-batch observation (the progress event's stable core).
    * `rows` is the progress event's numInputRows — Spark's cumulative
    * source-scan counter for the trigger (the Spark-UI number). It
    * equals the rows shipped when the sink scans its source once, as
    * MultiSink does; a sink that re-reads the batch counts each scan.
    */
  final case class BatchMetric(query_id: String, run_id: String,
      name: String, batch_id: Long, trigger_ts: java.sql.Timestamp,
      rows: Long, wall_ms: Long, state_rows: Long)

  /** `stream.writeStream`, and with a `metricsDir`, named
    * `namePrefix` + a random suffix, with a listener registered BEFORE
    * the caller starts it that appends each progress event of that
    * query name to `metricsDir` and removes itself when the query
    * terminates. The query claims its id on the started event, which
    * carries the name, so a query that dies before its first progress
    * event still detaches the listener. */
  def writeStream(stream: DataFrame, namePrefix: String,
      metricsDir: Option[String]): DataStreamWriter[Row] =
    metricsDir.fold(stream.writeStream) { dir =>
      val spark = stream.sparkSession
      val name = namePrefix + java.util.UUID.randomUUID().toString.take(8)
      spark.streams.addListener(new StreamingQueryListener {
        @volatile private var queryId: java.util.UUID = null

        override def onQueryStarted(
            event: StreamingQueryListener.QueryStartedEvent): Unit =
          if (event.name == name) queryId = event.id

        override def onQueryProgress(
            event: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = event.progress
          if (p.name == name) {
            val wall = Option(p.durationMs.get("triggerExecution"))
              .map(_.longValue()).getOrElse(0L)
            val stateRows =
              if (p.stateOperators == null) 0L
              else p.stateOperators.map(_.numRowsTotal).sum
            val ts = java.sql.Timestamp.from(
              java.time.Instant.parse(p.timestamp))
            val row = BatchMetric(p.id.toString, p.runId.toString, name,
              p.batchId, ts, p.numInputRows, wall, stateRows)
            // a metrics hiccup must never kill the listener bus or the
            // query it observes — log and carry on
            try spark.createDataFrame(Seq(row))
              .write.mode("append").parquet(dir)
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[stream-metrics] append failed: $e")
            }
          }
        }

        override def onQueryTerminated(
            event: StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (event.id == queryId) spark.streams.removeListener(this)
      })
      stream.writeStream.queryName(name)
    }

  /** The freshness view over a metrics log: latest batch per query
    * run — (name, batch_id, trigger_ts, rows, wall_ms, state_rows,
    * lag_s = asOfMillis − trigger_ts). Duplicate rows from a replayed
    * batch collapse to one deterministically (struct max — highest
    * batch first, ties by trigger_ts). `asOfMillis` is
    * caller-supplied so displays and specs replay exactly. */
  def freshness(spark: SparkSession, metricsDir: String,
      asOfMillis: Long): DataFrame = {
    val m = spark.read.parquet(metricsDir)
    m.groupBy(col("query_id"), col("run_id"), col("name"))
      .agg(max(struct(col("batch_id"), col("trigger_ts"), col("rows"),
        col("wall_ms"), col("state_rows"))).as("b"))
      .select(col("name"), col("b.batch_id").as("batch_id"),
        col("b.trigger_ts").as("trigger_ts"),
        col("b.rows").as("rows"), col("b.wall_ms").as("wall_ms"),
        col("b.state_rows").as("state_rows"),
        round((lit(asOfMillis) -
          col("b.trigger_ts").cast("double") * 1000.0) / 1000.0, 1)
          .as("lag_s"))
  }
}
