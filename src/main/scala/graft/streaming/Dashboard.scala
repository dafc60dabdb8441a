package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The dashboard's data access (SURVEY.md §2.1 S11), engine-side: the
  * reference polls output directories, sorts files by mtime and loads
  * the newest two (src/main/python/taxi_dashboard.py:18-58). Here the
  * batch id IS the recency key — `MultiSink` writes
  * `<dataset>/batch_id=N` — so "latest N batches" is partition pruning
  * on the batch_id partition column, not filesystem mtime races.
  */
object Dashboard {

  /** Latest `n` numeric batch ids for a dataset — a FILESYSTEM listing
    * of the `batch_id=N` directory names (numeric sort, so no
    * zero-padding rollover), zero data read. The previous formulation
    * scanned every batch's rows just to learn the ids. */
  def latestBatchNumbers(spark: SparkSession, datasetDir: String,
      n: Int): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(datasetDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
      .sorted(Ordering[Long].reverse).take(n)
  }

  /** The newest `n` batches of a dataset, batch id attached. Only the
    * selected directories are ever read — true pruning by path, not a
    * filter over the full dataset. A declared `schema` skips the
    * footer-inference job a schema-less parquet read runs. */
  def latestBatches(spark: SparkSession, datasetDir: String,
      n: Int, schema: Option[StructType] = None): DataFrame = {
    val nums = latestBatchNumbers(spark, datasetDir, n)
    // zero-path spark.read.parquet() throws an opaque schema-inference
    // error — surface "no batches yet" instead (poll loops should gate
    // on latestBatchNumbers before reading)
    require(nums.nonEmpty,
      s"no batch_id=N partitions under $datasetDir — nothing written yet?")
    schema.foldLeft(spark.read)(_ schema _)
      .parquet(nums.map(b => s"$datasetDir/batch_id=$b"): _*)
  }

  /** Top locations by trip count over the latest `n` batches — the
    * reference's bar-chart query (taxi_dashboard.py:170-197), read
    * with the sink's declared aggregate schema. */
  def topLocations(spark: SparkSession, aggDir: String, n: Int,
      k: Int): DataFrame =
    latestBatches(spark, aggDir, n, Some(MultiSink.AggSchema))
      .groupBy(col("location_id"))
      .agg(sum(col("trip_count")).as("trip_count"))
      .orderBy(col("trip_count").desc, col("location_id"))
      .limit(k)

  /** One dashboard panel's BOUNDED, already-collected data — the
    * renderer-independent form both the console and HTML emitters
    * consume, so data access (pruned latest-batch reads, counts,
    * aggregations — all Spark jobs) lives in exactly one place. */
  sealed trait Panel { def title: String }
  final case class TablePanel(title: String, header: Seq[String],
      rows: Seq[Seq[String]]) extends Panel
  final case class BarPanel(title: String,
      bars: Seq[(String, Long)]) extends Panel
  final case class NoticePanel(title: String, text: String) extends Panel

  /** The reference dashboard's three panels (taxi_dashboard.py:127-201)
    * as data — latest raw rows (tolerant display-column subset, P7),
    * then pickup/dropoff top-location bar charts — over a MultiSink
    * output root. Driver-side data is bounded by construction: the raw
    * preview is `previewRows` rows, each bar panel `topK` rows. Missing
    * datasets become the reference's "no data yet" notice instead of
    * failing. */
  def collectPanels(spark: SparkSession, processedDir: String,
      nBatches: Int = 2, topK: Int = 10,
      previewRows: Int = 10,
      metricsDir: Option[String] = None): Seq[Panel] = {
    val rawDir = s"$processedDir/raw"
    val rawPanel =
      if (latestBatchNumbers(spark, rawDir, nBatches).isEmpty)
        NoticePanel("latest trips", "no batches yet")
      else {
        val raw = latestBatches(spark, rawDir, nBatches)
        val display = graft.operators.Relational.selectPresent(raw,
          Seq("batch_id", "event_id", "ts", "user_id", "event_type", "value"))
        TablePanel(
          s"latest trips ($nBatches batches, ${raw.count()} rows)",
          display.columns.toSeq,
          display.limit(previewRows).collect()
            .map(_.toSeq.map(String.valueOf)).toSeq)
      }
    val main = rawPanel +: Seq("pickup_agg" -> "top pickup locations",
        "dropoff_agg" -> "top dropoff locations").map { case (d, title) =>
      val dir = s"$processedDir/$d"
      if (latestBatchNumbers(spark, dir, nBatches).isEmpty)
        NoticePanel(title, "no batches yet")
      else BarPanel(title,
        topLocations(spark, dir, nBatches, topK).collect()
          .map(r => (String.valueOf(r.get(0)), r.getLong(1))).toSeq)
    }
    // engine-side freshness: latest micro-batch per
    // query run from the StreamMetrics parquet log — batch id, rows,
    // wall and LAG vs now; the reference sidebar's last-refresh panel
    // (taxi_dashboard.py:83-104) backed by engine metrics instead of
    // file mtimes. ONLY a missing/empty log maps to the "no data yet"
    // convention; a genuine read error (corrupt parquet, permission,
    // schema drift) surfaces its message in the panel instead of
    // masquerading as an empty log
    val freshness = metricsDir.map { dir =>
      val title = "stream freshness"
      // classify by the read's OWN failure, not a local-FS pre-check:
      // metricsDir is a Hadoop path (file:/, hdfs://, s3a:// all
      // legal), so java.io.File emptiness tests would misread every
      // URI-schemed dir as forever-empty. Missing path / no parquet
      // yet (Spark's PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA) → the
      // "no data yet" convention; anything else is a genuine error
      // and surfaces its message instead of masquerading as an empty
      // log.
      def noDataYet(e: Throwable): Boolean = e match {
        case a: org.apache.spark.sql.AnalysisException =>
          val c = Option(a.getCondition).getOrElse("")
          c.contains("PATH_NOT_FOUND") ||
            c.contains("UNABLE_TO_INFER_SCHEMA")
        case _ => false
      }
      scala.util.Try {
        val f = StreamMetrics
          .freshness(spark, dir, System.currentTimeMillis())
          .orderBy(col("name"), col("batch_id"))
        TablePanel(title, f.columns.toSeq,
          f.collect().map(_.toSeq.map(String.valueOf)).toSeq): Panel
      }.recover {
        case e if noDataYet(e) => NoticePanel(title, "no metrics yet")
        case scala.util.control.NonFatal(e) =>
          NoticePanel(title, s"metrics read FAILED: ${e.getMessage}")
      }.get
    }
    main ++ freshness
  }

  /** Render already-collected panels as console text — so a caller
    * emitting BOTH faces (console + HTML) runs the panel Spark jobs
    * once per tick and renders twice from the same Seq[Panel]. */
  def renderPanelsText(panels: Seq[Panel]): String =
    panels.map {
      case NoticePanel(t, txt) => s"== $t ==\n$txt\n"
      case TablePanel(t, header, rows) =>
        s"== $t ==\n" + (header.mkString("\t") +:
          rows.map(_.mkString("\t"))).mkString("\n") + "\n"
      case BarPanel(t, bars) =>
        val max = math.max(1L, if (bars.isEmpty) 1L else bars.map(_._2).max)
        s"== $t ==\n" + bars.map { case (id, c) =>
          f"$id%12s $c%6d ${"#" * ((c * 40) / max).toInt}"
        }.mkString("\n") + "\n"
    }.mkString

  /** Already-collected panels as a self-contained HTML page — the
    * engine-side analog of the reference's auto-refreshing Streamlit UI
    * (taxi_dashboard.py:127-206 + its 5 s rerun loop): a
    * `<meta http-equiv="refresh">` tag makes any static file server —
    * or a file:// URL — a live dashboard over a MultiSink output root.
    * Values are HTML-escaped; bars are proportional-width divs. */
  def renderHtmlFromPanels(panels: Seq[Panel],
      refreshSeconds: Long = 5L): String = {
    val body = panels.map {
      case NoticePanel(t, txt) =>
        s"<section><h2>${esc(t)}</h2><p>${esc(txt)}</p></section>"
      case TablePanel(t, header, rows) =>
        s"<section><h2>${esc(t)}</h2><table><thead><tr>" +
          header.map(h => s"<th>${esc(h)}</th>").mkString +
          "</tr></thead><tbody>" +
          rows.map(r => "<tr>" +
            r.map(v => s"<td>${esc(v)}</td>").mkString + "</tr>").mkString +
          "</tbody></table></section>"
      case BarPanel(t, bars) =>
        val max = math.max(1L, if (bars.isEmpty) 1L else bars.map(_._2).max)
        s"<section><h2>${esc(t)}</h2>" + bars.map { case (id, c) =>
          val pct = (c * 100) / max
          s"""<div class="row"><span class="lbl">${esc(id)}</span>""" +
            s"""<span class="bar" style="width:$pct%"></span>""" +
            s"""<span class="val">$c</span></div>"""
        }.mkString + "</section>"
    }.mkString
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8">
       |<meta http-equiv="refresh" content="$refreshSeconds">
       |<title>graft dashboard</title>
       |<style>
       |body{font-family:sans-serif;margin:2em}
       |table{border-collapse:collapse}
       |th,td{border:1px solid #ccc;padding:2px 8px;font-size:13px}
       |.row{display:flex;align-items:center;margin:2px 0}
       |.lbl{width:8em;text-align:right;margin-right:8px}
       |.bar{background:#4a78c4;height:14px;display:inline-block}
       |.val{margin-left:8px}
       |</style></head>
       |<body><p>refreshed ${java.time.Instant.now()}</p>
       |$body</body></html>
       |""".stripMargin
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** SERVE the dashboard — the reference runs a Streamlit process on
    * :8501 with a 5 s rerun loop (taxi_dashboard.py:204-206,
    * docker-compose.yml:39-50); this is the engine-side equivalent on
    * the JDK's built-in HTTP server, no extra dependency. Unlike the
    * reference's rerun loop (which re-queries on every page load), GET /
    * serves the LATEST RENDERED SNAPSHOT and re-collects the panels
    * only when the sink has advanced: the cache key is the batch_id
    * frontier of the three dataset dirs — a pure filesystem listing,
    * zero Spark jobs — so a polled production dashboard costs Spark
    * exactly one panel collection per written batch, however many
    * clients poll (StreamPipelineSpec pins rapid repeat GETs at zero
    * additional jobs). The page's meta-refresh drives the cadence
    * client-side. `port = 0` binds an ephemeral port — read it off the
    * returned server (tests do). Panel collection runs Spark jobs on
    * the serving thread; the single-threaded default executor plus the
    * cache lock serialize concurrent refreshes instead of stacking
    * Spark jobs. Stop with `server.stop(0)`. GET /healthz answers
    * without touching Spark — the liveness probe a deployment points
    * at. */
  def serve(spark: SparkSession, processedDir: String, port: Int,
      nBatches: Int = 2, topK: Int = 10, previewRows: Int = 10,
      refreshSeconds: Long = 5L,
      metricsDir: Option[String] = None)
      : com.sun.net.httpserver.HttpServer = {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    def respond(ex: HttpExchange, code: Int, contentType: String,
        body: String): Unit = {
      val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(code, bytes.length.toLong)
      try ex.getResponseBody.write(bytes) finally ex.close()
    }
    server.createContext("/healthz", new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        respond(ex, 200, "text/plain; charset=utf-8", "ok\n")
    })
    server.createContext("/", new HttpHandler {
      // latest rendered snapshot, keyed by the batch_id frontier
      private val lock = new Object
      private var cached: Option[(Seq[Seq[Long]], String)] = None
      def handle(ex: HttpExchange): Unit =
        try {
          val key = Seq("raw", "pickup_agg", "dropoff_agg").map(d =>
            latestBatchNumbers(spark, s"$processedDir/$d", nBatches))
          val html = lock.synchronized {
            cached match {
              case Some((k, h)) if k == key => h
              case _ =>
                // the freshness panel rides the same batch-frontier
                // cache: metrics rows advance exactly when batches do,
                // and a cached page's lag_s only ages by the client's
                // own refresh period
                val h = renderHtmlFromPanels(collectPanels(spark,
                  processedDir, nBatches, topK, previewRows, metricsDir),
                  refreshSeconds)
                cached = Some((key, h))
                h
            }
          }
          respond(ex, 200, "text/html; charset=utf-8", html)
        } catch { case scala.util.control.NonFatal(e) =>
          respond(ex, 500, "text/plain; charset=utf-8",
            s"dashboard render failed: ${e.getMessage}\n")
        }
    })
    server.start()
    server
  }
}
