package graft.streaming

import graft.GraftConfig

/** Live console dashboard over a MultiSink output root — the engine-side
  * analog of the reference's Streamlit app (src/main/python/
  * taxi_dashboard.py): poll the latest batches every refresh interval
  * and redraw the three panels. Config-driven like every other main;
  * point it at a running StreamDemo's output to watch batches arrive.
  *
  * Usage: runMain graft.streaming.DashboardDemo [site.conf] [processedDir]
  */
object DashboardDemo {
  def main(args: Array[String]): Unit = {
    val c = GraftConfig.loadWithDefaults(args.find(_.endsWith(".conf")))
    val processed = args.filterNot(_.endsWith(".conf")).headOption
      .getOrElse(c.str("graft.consumer.output.directory"))
    val ticks = c.int("graft.dashboard.ticks")
    val refreshSeconds = c.long("graft.dashboard.refreshSeconds")
    val topK = c.int("graft.dashboard.topK")
    val htmlFile = c.str("graft.dashboard.htmlFile")
    val port = c.int("graft.dashboard.port")
    val metricsDir = Some(c.str("graft.dashboard.metricsDir"))
      .filter(_.nonEmpty)
    val spark = graft.GraftSession.build("4")
    // the SERVED face (reference: Streamlit on :8501): every GET /
    // re-collects panels live; runs alongside the tick loop below
    val server =
      if (port >= 0) {
        val s = Dashboard.serve(spark, processed, port,
          topK = topK, refreshSeconds = refreshSeconds,
          metricsDir = metricsDir)
        println(s"DASHBOARD_URL=http://127.0.0.1:${s.getAddress.getPort}/")
        Some(s)
      } else None
    (1 to ticks).foreach { i =>
      println(s"--- refresh $i/$ticks (${java.time.Instant.now()}) ---")
      // collect once per tick; both faces render from the same panels
      val panels = Dashboard.collectPanels(spark, processed, topK = topK,
        metricsDir = metricsDir)
      println(Dashboard.renderPanelsText(panels))
      // the web face of the same panels: a static file any browser (or
      // file server) re-reads on its own meta-refresh cadence — the
      // engine-side analog of the reference's Streamlit rerun loop
      if (htmlFile.nonEmpty)
        java.nio.file.Files.write(java.nio.file.Paths.get(htmlFile),
          Dashboard.renderHtmlFromPanels(panels, refreshSeconds)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (i < ticks) Thread.sleep(refreshSeconds * 1000L)
    }
    server.foreach(_.stop(0))
    spark.stop()
  }
}
