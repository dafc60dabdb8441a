package graft

import graft.streaming.{Dashboard, MultiSink, Replay, StreamOps,
  StreamSources}
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation,
  CreatableRelationProvider}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.StructType

/** A write format whose tasks block for 60 s: a trigger that is still
  * writing when the spec stops its query. */
class SlowWriteFormat extends CreatableRelationProvider {
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    data.rdd.foreachPartition(_ => Thread.sleep(60000))
    val s = data.schema
    new BaseRelation {
      def sqlContext: SQLContext = ctx
      def schema: StructType = s
    }
  }
}

/** End-to-end producer → file-drop → consumer pipeline under test:
  * the reference's three-process flow in-process, plus the idempotency
  * guarantee the reference lacked (re-delivery must overwrite, not
  * duplicate). */
class StreamPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(n: Int) = (1 to n).map { i =>
    (i.toLong, Timestamp.valueOf(f"2024-01-01 ${i % 24}%02d:00:00"),
      (i % 5).toLong, if (i % 3 == 0) "click" else "view", i * 1.5,
      s"""{"k":$i}""")
  }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private def sinkConfig(work: String) = MultiSink.Config(
    outDir = s"$work/processed", checkpointDir = s"$work/checkpoint",
    keyA = "user_id", tagA = "pickup_location",
    keyB = "event_type", tagB = "dropoff_location",
    triggerSeconds = 1L)

  private val Datasets =
    Seq("raw", "pickup_agg", "dropoff_agg", "combined_agg")

  /** `n` events in `n / size` drop files of `size` rows each. */
  private def dropEvents(incoming: String, n: Int, size: Int): Unit = {
    val prepared = Replay.prepare(mkEvents(n),
      Seq(col("ts"), col("event_id")))
    Replay.writeBatches(prepared, incoming, size, n / size)
    prepared.unpersist()
  }

  private def runPipeline(incoming: String, work: String): Long = {
    // one file per micro-batch (the reference's pacing) -> batch ids
    // advance per dropped file
    val stream = StreamSources.fileStream(spark, s"$incoming/*",
      maxFilesPerTrigger = 1)
    val q = MultiSink.start(stream, sinkConfig(work))
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(s"$work/processed/raw/batch_id=*").count()
  }

  test("replay -> file stream -> 4 idempotent sinks preserves rows") {
    val base = Files.createTempDirectory("graft_pipe").toString
    val events = mkEvents(60)
    val (prepared, total) =
      Replay.prepareCounted(events, Seq(col("ts"), col("event_id")))
    val nb = Replay.batchCount(total, 20)
    assert(nb === 3)
    Replay.writeBatches(prepared, s"$base/incoming", 20, nb)
    prepared.unpersist()

    assert(runPipeline(s"$base/incoming", s"$base/run1") === 60L)
    Seq("pickup_agg", "dropoff_agg", "combined_agg").foreach { d =>
      val df = spark.read.parquet(s"$base/run1/processed/$d/batch_id=*")
      assert(df.count() > 0, d)
      assert(df.columns.contains("trip_count") &&
        df.columns.contains("aggregation_type"), d)
    }
    // per-batch tagged counts sum back to the row count per tag
    val combined = spark.read
      .parquet(s"$base/run1/processed/combined_agg/batch_id=*")
    combined.groupBy("aggregation_type")
      .agg(sum("trip_count").as("s")).as[(String, Long)].collect()
      .foreach { case (tag, s) => assert(s === 60L, tag) }

    // dashboard source: latest-N batches by batch id, top locations
    import graft.streaming.Dashboard
    val pickupDir = s"$base/run1/processed/pickup_agg"
    assert(Dashboard.latestBatchNumbers(spark, pickupDir, 2)
      .map(graft.streaming.StreamOps.formatBatchId) ===
      Seq("batch_000002", "batch_000001"))
    val top = Dashboard.topLocations(spark, pickupDir, 3, 3)
      .as[(String, Long)].collect()
    assert(top.nonEmpty && top.map(_._2).toSeq.sorted.reverse === top.map(_._2).toSeq)
  }

  test("the same pipeline runs over the in-memory bus — the EventBus " +
      "seam the reference's Kafka design promised") {
    import graft.streaming.{FileBus, MemoryBus}
    val base = Files.createTempDirectory("graft_membus").toString
    val events = mkEvents(60)
    val (prepared, total) =
      Replay.prepareCounted(events, Seq(col("ts"), col("event_id")))
    val nb = Replay.batchCount(total, 20)

    // memory transport: publish through the seam, consume the seam's
    // stream — zero filesystem between producer and consumer
    val bus = new MemoryBus(spark)
    bus.publishBatches(prepared, 20, nb, 0)
    val q = MultiSink.start(bus.subscribe(spark), MultiSink.Config(
      outDir = s"$base/mem/processed",
      checkpointDir = s"$base/mem/checkpoint",
      keyA = "user_id", tagA = "pickup_location",
      keyB = "event_type", tagB = "dropoff_location",
      triggerSeconds = 1L))
    q.processAllAvailable()
    q.stop()

    // file transport THROUGH THE SAME SEAM: must reproduce the
    // hard-wired runPipeline results byte-for-byte in dataset terms
    val fileBus = new FileBus(s"$base/incoming")
    fileBus.publishBatches(prepared, 20, nb, 0)
    assert(runPipeline(s"$base/incoming", s"$base/file") === 60L)
    prepared.unpersist()

    // both transports conserve rows and per-tag counts identically
    Seq("mem/processed", "file/processed").foreach { p =>
      assert(spark.read.parquet(s"$base/$p/raw/batch_id=*")
        .count() === 60L, p)
      spark.read.parquet(s"$base/$p/combined_agg/batch_id=*")
        .groupBy("aggregation_type")
        .agg(sum("trip_count").as("s")).as[(String, Long)].collect()
        .foreach { case (tag, s) => assert(s === 60L, s"$p/$tag") }
    }
    // same tagged totals per key on both transports
    def tagged(p: String) = spark.read
      .parquet(s"$base/$p/combined_agg/batch_id=*")
      .groupBy(col("aggregation_type"),
        col("location_id").cast("string").as("k"))
      .agg(sum("trip_count").as("n"))
      .as[(String, String, Long)].collect().toSet
    assert(tagged("mem/processed") === tagged("file/processed"))
  }

  test("AvailableNow drain processes the backlog and terminates itself") {
    val base = Files.createTempDirectory("graft_pipe3").toString
    val events = mkEvents(40)
    val prepared = Replay.prepare(events, Seq(col("ts"), col("event_id")))
    Replay.writeBatches(prepared, s"$base/incoming", 20, 2)
    prepared.unpersist()
    val stream = StreamSources.fileStream(spark, s"$base/incoming/*",
      maxFilesPerTrigger = 1)
    val q = MultiSink.start(stream, MultiSink.Config(
      outDir = s"$base/processed", checkpointDir = s"$base/checkpoint",
      keyA = "user_id", tagA = "pickup_location",
      keyB = "event_type", tagB = "dropoff_location",
      drainOnce = true))
    // no stop() call: AvailableNow terminates on its own once the
    // backlog is drained (bounded wait as a test guard)
    assert(q.awaitTermination(120000), "drain did not self-terminate")
    assert(spark.read.parquet(s"$base/processed/raw/batch_id=*")
      .count() === 40L)
  }

  test("cleanSource=archive moves consumed drop files out of the bus dir") {
    val base = Files.createTempDirectory("graft_pipe4").toString
    val events = mkEvents(20)
    val prepared = Replay.prepare(events, Seq(col("ts"), col("event_id")))
    Replay.writeBatches(prepared, s"$base/incoming", 10, 2)
    prepared.unpersist()
    val stream = StreamSources.fileStream(spark, s"$base/incoming/*",
      maxFilesPerTrigger = 1, cleanSource = Some("archive"),
      archiveDir = Some(s"$base/archive"))
    val q = MultiSink.start(stream, MultiSink.Config(
      outDir = s"$base/processed", checkpointDir = s"$base/checkpoint",
      keyA = "user_id", tagA = "pickup_location",
      keyB = "event_type", tagB = "dropoff_location",
      drainOnce = true))
    assert(q.awaitTermination(120000))
    assert(spark.read.parquet(s"$base/processed/raw/batch_id=*")
      .count() === 20L)
    // archival is asynchronous but AvailableNow's final commit runs it;
    // at least one consumed file must have left the incoming tree
    def countFiles(p: String): Int = {
      val d = new java.io.File(p)
      if (!d.exists) 0
      else d.listFiles.map(f =>
        if (f.isDirectory) countFiles(f.getPath)
        else if (f.getName.endsWith(".json")) 1 else 0).sum
    }
    assert(countFiles(s"$base/archive") > 0 ||
      countFiles(s"$base/incoming") < 2)
  }

  test("re-delivery of the same batches overwrites instead of appending") {
    val base = Files.createTempDirectory("graft_pipe2").toString
    val events = mkEvents(30)
    val prepared = Replay.prepare(events, Seq(col("ts"), col("event_id")))
    Replay.writeBatches(prepared, s"$base/incoming", 10, 3)
    prepared.unpersist()
    def allCounts(work: String): Map[String, Long] =
      Seq("raw", "pickup_agg", "dropoff_agg", "combined_agg").map(d =>
        d -> spark.read.parquet(s"$work/processed/$d/batch_id=*").count())
        .toMap
    // two fresh consumers over the same drop dir, same output dir:
    // identical batch ids -> per-batch overwrite -> no duplicates
    assert(runPipeline(s"$base/incoming", s"$base/run") === 30L)
    val first = allCounts(s"$base/run")
    val checkpoint2 = s"$base/run/checkpoint"
    // wipe the checkpoint so the second run re-delivers everything
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(checkpoint2))
    assert(runPipeline(s"$base/incoming", s"$base/run") === 30L)
    // exactly-once across ALL FOUR datasets, not just raw: every batch
    // replayed into the same batch_id directory, zero appended dupes
    val second = allCounts(s"$base/run")
    assert(second === first)
    assert(second("combined_agg") ===
      second("pickup_agg") + second("dropoff_agg"))

    // the console dashboard renders its three panels over this output:
    // raw preview header + both top-location bar charts with real bars
    val collected = Dashboard.collectPanels(spark, s"$base/run/processed")
    val panels = Dashboard.renderPanelsText(collected)
    assert(panels.contains("latest trips (2 batches, 20 rows)"))
    assert(panels.contains("top pickup locations"))
    assert(panels.contains("top dropoff locations"))
    assert(panels.contains("#"))
    assert(panels.contains("batch_id\tevent_id"))

    // the HTML face of the SAME panels: auto-refresh tag, a table row
    // per preview row, a proportional bar div per location
    val html = Dashboard.renderHtmlFromPanels(collected, refreshSeconds = 7L)
    assert(html.contains("""<meta http-equiv="refresh" content="7">"""))
    assert(html.contains("latest trips (2 batches, 20 rows)"))
    assert(html.contains("<th>batch_id</th>"))
    assert(html.contains("""style="width:100%""""))
    assert(html.count(_ == '<') === html.count(_ == '>')) // well-formed-ish
  }

  test("dashboard renders 'no batches yet' on an empty output root") {
    val empty = Files.createTempDirectory("graft_dash_empty").toString
    val collected = Dashboard.collectPanels(spark, empty)
    val panels = Dashboard.renderPanelsText(collected)
    assert(panels.linesIterator.count(_.contains("no batches yet")) === 3)
    val html = Dashboard.renderHtmlFromPanels(collected)
    assert(html.sliding(17).count(_ == "no batches yet</p") === 3)
  }

  test("dashboard SERVES over HTTP: GET / serves the rendered " +
      "snapshot (repeat GETs run ZERO extra Spark jobs), recomputes " +
      "only when the batch frontier advances; /healthz without Spark") {
    val base = Files.createTempDirectory("graft_dash_http").toString
    // a MultiSink-shaped output root, written directly
    mkEvents(12).withColumn("batch_id", lit("batch_000000"))
      .write.parquet(s"$base/processed/raw/batch_id=0")
    Seq(("7", 9L, "pickup_location"), ("3", 3L, "pickup_location"))
      .toDF("location_id", "trip_count", "aggregation_type")
      .write.parquet(s"$base/processed/pickup_agg/batch_id=0")
    Seq(("click", 8L, "dropoff_location"))
      .toDF("location_id", "trip_count", "aggregation_type")
      .write.parquet(s"$base/processed/dropoff_agg/batch_id=0")
    val server = Dashboard.serve(spark, s"$base/processed", port = 0,
      refreshSeconds = 3L)
    try {
      val port = server.getAddress.getPort
      def get(path: String): (Int, String) = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val body = scala.io.Source.fromInputStream(
          if (code < 400) conn.getInputStream else conn.getErrorStream)
          .mkString
        (code, body)
      }
      val (hc, hb) = get("/healthz")
      assert(hc === 200 && hb === "ok\n")
      val (code, body) = get("/")
      assert(code === 200)
      assert(body.contains("<title>graft dashboard</title>"))
      assert(body.contains("""<meta http-equiv="refresh" content="3">"""))
      assert(body.contains("latest trips"))
      assert(body.contains("top pickup locations"))
      // the bar chart rendered real data: widest bar is location 7
      assert(body.contains("""<span class="lbl">7</span>"""))
      assert(body.contains("""style="width:100%""""))

      // SNAPSHOT SERVING: the frontier hasn't moved, so rapid repeat
      // GETs return the byte-identical rendered page (the embedded
      // render timestamp included — proof the page was not re-rendered) and
      // start zero additional Spark jobs
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        Thread.sleep(300) // drain listener-bus stragglers from GET 1
        jobs.set(0)
        val (c2, b2) = get("/")
        val (c3, b3) = get("/")
        Thread.sleep(300) // async bus: give any (wrong) job time to land
        assert(c2 === 200 && c3 === 200)
        assert(b2 === body && b3 === body)
        assert(jobs.get() === 0,
          s"repeat GETs started ${jobs.get()} Spark jobs; want 0")
        // a NEW batch advances the frontier: the next GET recomputes
        Seq(("9", 20L, "pickup_location"))
          .toDF("location_id", "trip_count", "aggregation_type")
          .write.parquet(s"$base/processed/pickup_agg/batch_id=1")
        val (c4, b4) = get("/")
        assert(c4 === 200 && b4 != body)
        assert(b4.contains("""<span class="lbl">9</span>"""))
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally server.stop(0)
  }

  test("S8/S9 debug side-channel: per-batch preview blocks; an empty " +
      "drop file leaves an idempotent empty-batch marker") {
    val base = Files.createTempDirectory("graft_pipe_dbg").toString
    val prepared = Replay.prepare(mkEvents(10),
      Seq(col("ts"), col("event_id")))
    Replay.writeBatches(prepared, s"$base/incoming", 10, 1)
    prepared.unpersist()
    val stream = StreamSources.fileStream(spark, s"$base/incoming/*",
      maxFilesPerTrigger = 1)
    val q = MultiSink.start(stream,
      sinkConfig(base).copy(debugDir = Some(s"$base/debug")))
    try {
      q.processAllAvailable()
      // now drop an EMPTY file -> one zero-row micro-batch
      Files.write(java.nio.file.Paths.get(s"$base/incoming/zz_empty.json"),
        Array.emptyByteArray)
      q.processAllAvailable()
    } finally q.stop()
    val preview = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/debug/batch_preview.txt")), "UTF-8")
    // S8: header + bounded JSON preview of the non-empty batch
    assert(preview.contains("===== BATCH #0 (10 rows) ====="))
    assert(preview.contains("\"event_id\""))
    assert(preview.contains("... (more rows)")) // 10 > 5: truncated
    // S9: the empty batch left its marker, keyed by batch id
    val markers = new java.io.File(s"$base/debug").listFiles()
      .map(_.getName).filter(_.startsWith("empty-batch-"))
    assert(markers.length === 1)
    val marker = new String(Files.readAllBytes(java.nio.file.Paths.get(
      s"$base/debug/${markers.head}")), "UTF-8")
    assert(marker.contains("was empty"))
    // the data path is unaffected by the side-channel, and the empty
    // batch wrote no dataset
    assert(spark.read.parquet(s"$base/processed/raw/batch_id=*")
      .count() === 10L)
    Datasets.foreach { d =>
      assert(new java.io.File(s"$base/processed/$d/batch_id=0").isDirectory, d)
      assert(!new java.io.File(s"$base/processed/$d/batch_id=1").exists, d)
    }
  }

  test("StreamMetrics: one metrics row per micro-batch with sane " +
      "wall/rows; dashboard freshness panel shows batch + lag") {
    import graft.streaming.StreamMetrics
    val base = Files.createTempDirectory("graft_metrics").toString
    val events = mkEvents(60)
    val prepared = Replay.prepare(events, Seq(col("ts"), col("event_id")))
    Replay.writeBatches(prepared, s"$base/incoming", 20, 3)
    prepared.unpersist()
    val stream = StreamSources.fileStream(spark, s"$base/incoming/*",
      maxFilesPerTrigger = 1)
    val metricsDir = s"$base/metrics"
    val q = MultiSink.start(stream,
      sinkConfig(base).copy(metricsDir = Some(metricsDir)))
    try q.processAllAvailable() finally q.stop()
    // listener events are async on the bus — poll until the three
    // per-batch appends land (bounded)
    val deadline = System.currentTimeMillis() + 60000
    while (System.currentTimeMillis() < deadline &&
        scala.util.Try(spark.read.parquet(metricsDir).count())
          .getOrElse(0L) < 3L)
      Thread.sleep(200)
    val m = spark.read.parquet(metricsDir)
      .select("batch_id", "rows", "wall_ms", "state_rows", "name")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    // exactly one row per micro-batch (3 files × maxFilesPerTrigger=1)
    assert(m.map(_._1).toSeq === Seq(0L, 1L, 2L))
    // numInputRows is Spark's source-scan counter (what the UI shows):
    // MultiSink scans each batch's source once, so it is exactly the
    // rows shipped
    assert(m.map(_._2).forall(_ === 20L),
      s"per-batch rows: ${m.map(_._2).toSeq}")
    assert(m.forall(_._3 > 0L), "per-batch wall must be positive")
    assert(m.forall(_._4 === 0L)) // stateless sink: no state rows
    assert(m.forall(_._5.startsWith("graft_multisink_")))
    // the freshness view: latest batch per run, lag vs the supplied
    // as-of instant (deterministic given the stored trigger_ts)
    val asOf = System.currentTimeMillis()
    val f = StreamMetrics.freshness(spark, metricsDir, asOf)
      .as[(String, Long, Timestamp, Long, Long, Long, Double)]
      .collect()
    assert(f.length === 1)
    assert(f.head._2 === 2L) // latest batch wins
    assert(f.head._7 >= 0.0 && f.head._7 < 600.0,
      "lag is nonnegative and test-recent")
    // the dashboard surfaces it as a panel; absent dir → notice
    val panels = Dashboard.collectPanels(spark, s"$base/processed",
      metricsDir = Some(metricsDir))
    val fresh = panels.collectFirst {
      case p: Dashboard.TablePanel if p.title == "stream freshness" => p
    }
    assert(fresh.nonEmpty, "freshness TablePanel present")
    assert(fresh.get.header.contains("lag_s") &&
      fresh.get.rows.length === 1)
    val missing = Dashboard.collectPanels(spark, s"$base/processed",
      metricsDir = Some(s"$base/nope"))
    assert(missing.exists {
      case Dashboard.NoticePanel("stream freshness", _) => true
      case _ => false
    })
  }

  test("freshness panel failure classification: empty/missing dirs " +
      "(any path scheme) read as 'no metrics yet'; a corrupt log " +
      "surfaces the read error instead of masquerading as empty") {
    // positive control: the panel classifies the Spark read's OWN
    // failure, so the three outcomes must stay distinguishable — and
    // the URI-schemed case pins that no local
    // java.io.File pre-check sneaks back in (it would misread every
    // file:/-schemed dir as forever-empty)
    val base = Files.createTempDirectory("graft_fresh_cls").toString
    def freshPanel(dir: String): Dashboard.Panel =
      Dashboard.collectPanels(spark, s"$base/processed",
        metricsDir = Some(dir)).last
    val empty = s"$base/metrics_empty"
    new java.io.File(empty).mkdirs()
    assert(freshPanel(empty) ===
      Dashboard.NoticePanel("stream freshness", "no metrics yet"))
    assert(freshPanel(s"file:$base/metrics_nope") ===
      Dashboard.NoticePanel("stream freshness", "no metrics yet"))
    val bad = s"$base/metrics_bad"
    new java.io.File(bad).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$bad/part-00000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    freshPanel(bad) match {
      case Dashboard.NoticePanel("stream freshness", txt) =>
        assert(txt.startsWith("metrics read FAILED"),
          s"corrupt log must surface, got: $txt")
      case p => fail(s"expected a failure notice, got $p")
    }
  }

  test("SOAK: 100 sustained micro-batches through the compose " +
      "pipeline — no metrics drop, wall time does not trend up, " +
      "stateful leg's state_rows plateaus at the key domain") {
    // the per-batch metrics pin proves one row per
    // batch, but nothing pinned that LAG STAYS BOUNDED under
    // sustained load — a state leak or accumulating-file pathology
    // shows up as monotonically growing per-batch wall (the consumer
    // falls ever further behind a fixed arrival rate) and the
    // freshness panel would dutifully render the growing lag with no
    // test failing. Drive 100 back-to-back batches (arrival ≥ service
    // — the saturation case) through the real consumer and gate on
    // the trend, not one batch.
    import graft.streaming.StreamMetrics
    val base = Files.createTempDirectory("graft_soak").toString
    val nBatches = 100
    val events = mkEvents(4 * nBatches)
    val prepared = Replay.prepare(events, Seq(col("ts"), col("event_id")))
    Replay.writeBatches(prepared, s"$base/incoming", 4, nBatches)
    prepared.unpersist()
    val metricsDir = s"$base/metrics"
    // BOTH legs run CONCURRENTLY over the same drop (the compose
    // shape: several consumers on one bus), back-to-back triggers
    // (ProcessingTime 0 — arrival ≥ service, the saturation case; a
    // 1 s trigger would pace the soak to ≥100 s of idle waiting).
    // Consumer leg: the 4-sink MultiSink.
    val q = MultiSink.start(
      StreamSources.fileStream(spark, s"$base/incoming/*",
        maxFilesPerTrigger = 1),
      MultiSink.Config(
        outDir = s"$base/processed", checkpointDir = s"$base/checkpoint",
        keyA = "user_id", tagA = "pickup_location",
        keyB = "event_type", tagB = "dropoff_location",
        triggerSeconds = 0L, metricsDir = Some(metricsDir)))
    // stateful leg: running per-user totals over the same drop —
    // user_id domain is BOUNDED (ids mod 5), so its state must
    // plateau, not grow with batches
    val statePrefix = "graft_soak_stateful_"
    val sq = StreamMetrics.writeStream(
        StreamSources.fileStream(spark, s"$base/incoming/*",
          maxFilesPerTrigger = 1).groupBy(col("user_id")).count(),
        statePrefix, Some(metricsDir))
      .outputMode("update")
      .option("checkpointLocation", s"$base/state_checkpoint")
      .format("noop").start()
    try { q.processAllAvailable(); sq.processAllAvailable() }
    finally { q.stop(); sq.stop() }
    // async listener appends — settle until both legs' rows land
    val deadline = System.currentTimeMillis() + 120000
    while (System.currentTimeMillis() < deadline &&
        scala.util.Try(spark.read.parquet(metricsDir).count())
          .getOrElse(0L) < 2L * nBatches)
      Thread.sleep(200)
    val m = spark.read.parquet(metricsDir)
      .select("name", "batch_id", "wall_ms", "state_rows")
      .as[(String, Long, Long, Long)].collect()
    // (1) completeness: one metrics row per batch per leg — sustained
    // load drops nothing
    val sink = m.filter(_._1.startsWith("graft_multisink_"))
      .sortBy(_._2)
    val state = m.filter(_._1.startsWith(statePrefix)).sortBy(_._2)
    assert(sink.map(_._2).toSeq === (0L until nBatches).toSeq,
      s"multisink leg recorded ${sink.length}/$nBatches batches")
    assert(state.map(_._2).toSeq === (0L until nBatches).toSeq,
      s"stateful leg recorded ${state.length}/$nBatches batches")
    // (2) bounded lag: per-batch wall must not TREND up across the
    // soak — compare decile medians, not single batches (GC noise).
    // A leak shows as last-decile >> first-decile; a healthy consumer
    // holds a flat service time, so 3x + 200 ms headroom is generous
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.length / 2)
    Seq("multisink" -> sink, "stateful" -> state).foreach {
      case (leg, rows) =>
        val first = median(rows.take(10).map(_._3).toSeq)
        val last = median(rows.takeRight(10).map(_._3).toSeq)
        assert(last <= 3 * first + 200,
          s"$leg leg wall trending up: first-decile median $first ms, " +
            s"last-decile median $last ms over $nBatches batches")
    }
    // (3) the stateful leg's state PLATEAUS at the bounded key domain
    // (5 distinct user_ids) — by construction every key arrives in the
    // first few batches and no batch may grow state past the domain
    assert(state.map(_._4).max === 5L,
      s"state_rows must reach the 5-key domain: ${state.map(_._4).max}")
    assert(state.takeRight(50).map(_._4).forall(_ === 5L),
      "state_rows must plateau, not grow, over the soak's second half")
    // dashboard face of the same gate: the freshness panel renders
    // both legs' final batch with sane lag
    val f = StreamMetrics
      .freshness(spark, metricsDir, System.currentTimeMillis())
      .select("name", "batch_id", "state_rows", "lag_s")
      .as[(String, Long, Long, Double)].collect()
    assert(f.length === 2)
    assert(f.forall(_._2 === (nBatches - 1).toLong))
    assert(f.forall(r => r._4 >= 0.0 && r._4 < 3600.0))
  }

  test("StreamMetrics state_rows: POSITIVE control — a stateful " +
      "running aggregate reports its state store rows (the stateless " +
      "test's ==0 is not vacuous)") {
    import graft.streaming.StreamMetrics
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("graft_state_metrics").toString
    val in = MemoryStream[(Long, String)]
    val listeners = spark.streams.listListeners().length
    val q = StreamMetrics.writeStream(
        in.toDF().toDF("user_id", "event_type")
          .groupBy(col("user_id")).count(),
        "graft_state_metrics_", Some(s"$base/metrics"))
      .outputMode("update")
      .option("checkpointLocation", s"$base/checkpoint")
      .format("noop").start()
    assert(spark.streams.listListeners().length === listeners + 1)
    try {
      in.addData((1L, "a"), (2L, "b"), (1L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    // the listener removes itself once its query terminates
    assert(within(60)(spark.streams.listListeners().length == listeners))
    val deadline = System.currentTimeMillis() + 60000
    while (System.currentTimeMillis() < deadline &&
        scala.util.Try(spark.read.parquet(s"$base/metrics").count())
          .getOrElse(0L) < 1L)
      Thread.sleep(200)
    val m = spark.read.parquet(s"$base/metrics")
      .select("state_rows", "rows").as[(Long, Long)].collect()
    assert(m.nonEmpty)
    // two distinct user keys live in the state store
    assert(m.map(_._1).max === 2L,
      s"stateful query must report state rows: ${m.toSeq}")
  }

  /** Part files directly under a batch directory. */
  private def partFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .count(_.getName.startsWith("part-"))

  test("one 500-row drop: fewer jobs than the probe-and-serial sink's " +
      "8, one file per aggregate, aggregates equal a recount of raw") {
    val base = Files.createTempDirectory("graft_sink_shape").toString
    dropEvents(s"$base/incoming", 500, 500)
    // jobs per job group: the sink's jobs carry the query's run id
    val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicInteger]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(g =>
          jobsByGroup.computeIfAbsent(g,
            _ => new java.util.concurrent.atomic.AtomicInteger())
            .incrementAndGet())
    }
    spark.sparkContext.addSparkListener(listener)
    val cfg = sinkConfig(base)
    val q = MultiSink.start(StreamSources.fileStream(spark,
      s"$base/incoming/*", maxFilesPerTrigger = 1), cfg)
    try q.processAllAvailable() finally q.stop()
    Thread.sleep(500) // async bus: let the trigger's job events land
    spark.sparkContext.removeSparkListener(listener)
    val out = s"$base/processed"
    assert(new java.io.File(out).list().sorted.toSeq === Datasets.sorted)
    Seq("pickup_agg", "dropoff_agg", "combined_agg").foreach { d =>
      assert(partFiles(s"$out/$d/batch_id=0") === 1, d)
    }
    val jobs = Option(jobsByGroup.get(q.runId.toString)).map(_.get).getOrElse(0)
    assert(jobs > 0 && jobs < 8, s"jobs for the one trigger: $jobs")
    val raw = spark.read.parquet(s"$out/raw/batch_id=0")
    assert(raw.count() === 500L)
    val recount = StreamOps.taggedKeyCounts(raw, cfg.keyA, cfg.tagA,
      cfg.keyB, cfg.tagB)
      .withColumn("batch_id", lit(StreamOps.formatBatchId(0L)))
    def same(d: String, expected: DataFrame): Unit = {
      val got = spark.read.parquet(s"$out/$d/batch_id=0")
      assert(got.columns.toSeq === expected.columns.toSeq, d)
      assert(got.exceptAll(expected).isEmpty, s"$d has rows raw lacks")
      assert(expected.exceptAll(got).isEmpty, s"$d lacks rows of raw")
    }
    same("pickup_agg", recount.filter(col("aggregation_type") === cfg.tagA))
    same("dropoff_agg", recount.filter(col("aggregation_type") === cfg.tagB))
    same("combined_agg", recount)
  }

  test("a failed write fails the batch and leaves no job running; a " +
      "restart from the checkpoint writes every event exactly once") {
    val base = Files.createTempDirectory("graft_sink_fail").toString
    dropEvents(s"$base/incoming", 60, 20)
    // a regular file where the combined_agg directory belongs: only
    // that one of the four writes fails
    val blocker = new java.io.File(s"$base/processed/combined_agg")
    blocker.getParentFile.mkdirs()
    Files.write(blocker.toPath, "not a directory".getBytes("UTF-8"))
    val cfg = sinkConfig(base)
    def start() = MultiSink.start(StreamSources.fileStream(spark,
      s"$base/incoming/*", maxFilesPerTrigger = 1), cfg)
    val q = start()
    val e = try intercept[StreamingQueryException](q.processAllAvailable())
      finally q.stop()
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(chain.exists(c => String.valueOf(c.getMessage)
      .contains("processed/combined_agg")), chain.mkString("\n"))
    val tracker = spark.sparkContext.statusTracker
    assert(within(5)(tracker.getActiveJobIds.isEmpty),
      tracker.getActiveJobIds.mkString(","))

    assert(blocker.delete())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = s"$base/processed"
    val raw = spark.read.parquet(s"$out/raw/batch_id=*")
    assert(raw.count() === 60L)
    assert(raw.select("event_id").distinct().count() === 60L)
    assert(raw.select("event_id").as[Long].collect().toSet ===
      (1L to 60L).toSet)
    def perBatch(d: String, value: org.apache.spark.sql.Column) =
      spark.read.parquet(s"$out/$d/batch_id=*")
        .select(regexp_extract(input_file_name(), "batch_id=(\\d+)", 1)
          .cast("long").as("b"), value.as("v"))
        .groupBy("b").agg(sum("v").as("v")).as[(Long, Long)]
        .collect().toMap
    val rows = perBatch("raw", lit(1L))
    assert(rows.keySet === Set(0L, 1L, 2L))
    assert(perBatch("pickup_agg", col("trip_count")) === rows)
    assert(perBatch("dropoff_agg", col("trip_count")) === rows)
    assert(perBatch("combined_agg", col("trip_count")) ===
      rows.map { case (b, n) => b -> 2 * n })
  }

  test("stop() during a trigger whose writes are still running leaves " +
      "no Spark job active") {
    val base = Files.createTempDirectory("graft_sink_stop").toString
    dropEvents(s"$base/incoming", 20, 20)
    val q = MultiSink.start(StreamSources.fileStream(spark,
      s"$base/incoming/*", maxFilesPerTrigger = 1),
      sinkConfig(base).copy(format = classOf[SlowWriteFormat].getName))
    val tracker = spark.sparkContext.statusTracker
    try {
      // all four writes are blocked in their 60 s tasks
      assert(within(60)(tracker.getActiveJobIds.length >= 4),
        s"active jobs: ${tracker.getActiveJobIds.mkString(",")}")
    } finally q.stop()
    assert(within(5)(tracker.getActiveJobIds.isEmpty),
      tracker.getActiveJobIds.mkString(","))
  }

  // the producer's default source, the sf0.001 fixture `events`, where
  // `ts` is timestamp_ntz; its rows, and a directory holding the same
  // rows as `micros/events.parquet` and `nanos/events.parquet`
  private lazy val producerSources = {
    import java.time.ZoneOffset.UTC
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val fixture = GraftConfig.Defaults("graft.producer.data.sourceDir")
    val base = Files.createTempDirectory("graft_producer").toString
    val rows = Tables(spark, fixture, "events").collect().toSeq
    def instant(r: Row) =
      Option(r.getAs[java.time.LocalDateTime]("ts")).map(_.toInstant(UTC))

    // the shape the stream benchmark writes: StreamSources.eventSchema,
    // so `ts` is TIMESTAMP (UTC-adjusted) parquet
    spark.createDataFrame(rows.map(r => Row(r.get(0),
        instant(r).map(Timestamp.from).orNull, r.get(2), r.get(3), r.get(4),
        r.get(5))).asJava, StreamSources.eventSchema)
      .coalesce(1).write.parquet(s"$base/micros/events.parquet")

    // the shape pandas writes by default: INT64 TIMESTAMP(NANOS), which
    // Spark cannot write
    {
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.schema.MessageTypeParser
      val schema = MessageTypeParser.parseMessageType(
        """message events {
          |  optional int64 event_id;
          |  optional int64 ts (TIMESTAMP(NANOS,false));
          |  optional int64 user_id;
          |  optional binary event_type (STRING);
          |  optional double value;
          |  optional binary props (STRING);
          |}""".stripMargin)
      val groups = new SimpleGroupFactory(schema)
      val w = ExampleParquetWriter
        .builder(new Path(s"$base/nanos/events.parquet/part-0.parquet"))
        .withType(schema).build()
      try rows.foreach { r =>
        val g = groups.newGroup()
        if (!r.isNullAt(0)) g.add("event_id", r.getLong(0))
        instant(r).foreach(i =>
          g.add("ts", i.getEpochSecond * 1000000000L + i.getNano))
        if (!r.isNullAt(2)) g.add("user_id", r.getLong(2))
        if (!r.isNullAt(3)) g.add("event_type", r.getString(3))
        if (!r.isNullAt(4)) g.add("value", r.getDouble(4))
        if (!r.isNullAt(5)) g.add("props", r.getString(5))
        w.write(g)
      } finally w.close()
    }
    (fixture, rows.sortBy(_.getLong(0)).map(instant), base)
  }

  test("the producer publishes the same rows from a timestamp_ntz, a " +
      "timestamp and a pandas nanosecond ts, and leaves the session's " +
      "nanos conf unset") {
    import graft.streaming.{MemoryBus, ProducerMain}
    import org.apache.spark.sql.Row
    val (fixture, instants, base) = producerSources
    def published(sourceDir: String): Seq[Row] = {
      val bus = new MemoryBus(spark)
      ProducerMain.produce(spark, GraftConfig.loadWithDefaults()
        .overlay(Map("graft.producer.data.sourceDir" -> sourceDir)),
        Some(bus))
      val name = s"published_${java.util.UUID.randomUUID().toString
        .replace("-", "")}"
      val q = bus.subscribe(spark).writeStream.format("memory")
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).collect().toSeq.sortBy(_.getLong(0))
    }
    val fromFixture = published(fixture)
    assert(fromFixture.size === instants.size)
    assert(fromFixture.map(r => Option(r.getTimestamp(1)).map(_.toInstant))
      === instants)
    assert(published(s"$base/micros") === fromFixture)
    assert(published(s"$base/nanos") === fromFixture)
    assert(!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .contains("true"))
  }

  test("the producer runs in the caller's session: a query execution " +
      "listener registered on it sees every bus write, also for a " +
      "nanosecond source") {
    import graft.streaming.ProducerMain
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val (_, _, base) = producerSources
    val written = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical.collectFirst {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        }.foreach(written.add)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try for (source <- Seq("micros", "nanos")) {
      val bus = s"$base/bus_$source"
      val n = ProducerMain.produce(spark, GraftConfig.loadWithDefaults()
        .overlay(Map("graft.producer.data.sourceDir" -> s"$base/$source",
          "graft.producer.file.outputDir" -> bus)))
      assert(n === 5L)
      // one write publishes every batch
      def seen = written.asScala.count(_.contains(s"/bus_$source/"))
      assert(within(10)(seen == 1), s"$source: $seen bus writes seen, " +
        s"$n batches published")
    } finally spark.listenerManager.unregister(listener)
  }

  // --- the file bus's publish contract ---

  private def batchDirs(bus: String): Seq[java.io.File] =
    Option(new java.io.File(bus).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("batch_")).sortBy(_.getName)

  private def partFiles(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles.toSeq.filter(_.getName.startsWith("part-"))

  private val EventId = """"event_id":(\d+)""".r

  /** Event ids of a bus batch directory's one file, in file order. */
  private def fileIds(dir: java.io.File): Seq[Long] = {
    val Seq(f) = partFiles(dir)
    val src = scala.io.Source.fromFile(f)
    try src.getLines().map(l =>
      EventId.findFirstMatchIn(l).get.group(1).toLong).toList
    finally src.close()
  }

  /** Event ids of `mkEvents(n)` in the producer's (ts, event_id) order. */
  private def orderedIds(n: Int): Seq[Long] =
    (1 to n).sortBy(i => (i % 24, i)).map(_.toLong)

  private def publish(n: Int, bus: String, size: Long, nBatches: Long,
      intervalMillis: Long = 0L): Unit = {
    val prepared = Replay.prepare(mkEvents(n),
      Seq(col("ts"), col("event_id")))
    Replay.writeBatches(prepared, bus, size, nBatches, intervalMillis)
  }

  test("every published batch dir holds one part- JSON file, its rows " +
      "in (ts, event_id) order, and no staging dir is left") {
    val bus = s"${Files.createTempDirectory("graft_pub1")}/bus"
    publish(50, bus, 7, 8)
    val dirs = batchDirs(bus)
    assert(dirs.map(_.getName) === (0 until 8).map(b => f"batch_$b%06d"))
    dirs.foreach(d => assert(partFiles(d).size === 1, d.getName))
    assert(dirs.map(fileIds) === orderedIds(50).grouped(7).toSeq)
    assert(new java.io.File(bus).list().toSet ===
      dirs.map(_.getName).toSet)
  }

  test("with maxFilesPerTrigger = 1, batch files sharing an mtime are " +
      "consumed one per trigger, in batch order") {
    import graft.streaming.FileBus
    import scala.collection.mutable.ArrayBuffer
    val base = Files.createTempDirectory("graft_pub2").toString
    val bus = s"$base/bus"
    publish(18, bus, 3, 6)
    // a single-task write of small files can close them all within one
    // tick of the file system's clock
    val mtime = System.currentTimeMillis() - 1000
    batchDirs(bus).flatMap(partFiles).foreach(f =>
      assert(f.setLastModified(mtime)))
    val triggers = ArrayBuffer.empty[Seq[Long]]
    val q = new FileBus(bus, maxFilesPerTrigger = 1).subscribe(spark)
      .writeStream.option("checkpointLocation", s"$base/checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        triggers += batch.select("event_id").as[Long].collect().toSeq
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(triggers.filter(_.nonEmpty).toSeq ===
      orderedIds(18).grouped(3).toSeq)
  }

  test("a publish of fewer batches than the rows fill writes only those") {
    val bus = s"${Files.createTempDirectory("graft_pub3")}/bus"
    publish(30, bus, 5, 3)
    val dirs = batchDirs(bus)
    assert(dirs.map(_.getName) === (0 until 3).map(b => f"batch_$b%06d"))
    assert(dirs.map(fileIds) === orderedIds(30).take(15).grouped(5).toSeq)
  }

  test("an empty source publishes no batch and leaves no staging dir") {
    val bus = s"${Files.createTempDirectory("graft_pub4")}/bus"
    val (prepared, total) = Replay.prepareCounted(
      mkEvents(10).filter(lit(false)), Seq(col("ts"), col("event_id")))
    assert(total === 0L)
    assert(Replay.batchCount(total, 5) === 0L)
    Replay.writeBatches(prepared, bus, 5, 0)
    assert(!new java.io.File(bus).exists)
    // asked for batches that hold no rows: still nothing
    Replay.writeBatches(prepared, bus, 5, 2)
    assert(Option(new java.io.File(bus).list()).toSeq.flatten.isEmpty)
  }

  test("re-publishing into the same bus leaves one file per batch") {
    val bus = s"${Files.createTempDirectory("graft_pub5")}/bus"
    publish(20, bus, 5, 4)
    publish(20, bus, 5, 4)
    val dirs = batchDirs(bus)
    assert(dirs.size === 4)
    dirs.foreach(d => assert(partFiles(d).size === 1, d.getName))
    assert(dirs.flatMap(fileIds) === orderedIds(20))
  }

  test("with intervalMillis > 0, batch k+1 appears no earlier than " +
      "intervalMillis after batch k") {
    val bus = s"${Files.createTempDirectory("graft_pub6")}/bus"
    val interval = 400L
    val names = (0 until 3).map(b => f"batch_$b%06d")
    val seenAt = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    @volatile var polling = true
    val poller = new Thread(() =>
      while (polling) {
        names.foreach(n =>
          if (new java.io.File(s"$bus/$n").exists)
            seenAt.putIfAbsent(n, System.nanoTime()))
        Thread.sleep(1)
      })
    poller.start()
    try {
      publish(12, bus, 4, 3, intervalMillis = interval)
      within(5)(seenAt.size == names.size)
    } finally { polling = false; poller.join() }
    val at = names.map(n => Option(seenAt.get(n)))
    assert(at.forall(_.isDefined), seenAt)
    // the poll period and the file checks bound how late a batch is seen
    val slackMs = 25L
    at.flatten.sliding(2).foreach { case Seq(a, b) =>
      assert((b - a) / 1000000L >= interval - slackMs,
        s"drops ${(b - a) / 1000000L} ms apart")
    }
  }

  test("produce runs as many Spark jobs for 2 batches as for 8") {
    import graft.streaming.ProducerMain
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("graft_pub7").toString
    mkEvents(80).coalesce(1).write.parquet(s"$base/src/events.parquet")
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    val sc = spark.sparkContext
    def jobs(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once a later job's start is
      // seen, so is every start of the group's
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(within(10)(groups.contains(marker)))
      groups.asScala.count(_ == group)
    }
    def produce(batchSize: Int): Long = ProducerMain.produce(spark,
      GraftConfig.loadWithDefaults().overlay(Map(
        "graft.producer.data.sourceDir" -> s"$base/src",
        "graft.producer.file.outputDir" -> s"$base/bus_$batchSize",
        "graft.producer.data.batchSize" -> batchSize.toString)))
    sc.addSparkListener(listener)
    try {
      var published = Seq.empty[Long]
      val two = jobs("produce-2")(published :+= produce(40))
      val eight = jobs("produce-8")(published :+= produce(10))
      assert(published === Seq(2L, 8L))
      assert(two === eight, s"$two jobs for 2 batches, $eight for 8")
    } finally sc.removeSparkListener(listener)
  }

  test("a stray partition-style dir in the bus does not reach a running " +
      "FileBus consumer") {
    import graft.streaming.FileBus
    val base = Files.createTempDirectory("graft_pub8").toString
    val bus = s"$base/bus"
    publish(20, bus, 10, 2)
    val q = new FileBus(bus).subscribe(spark).writeStream
      .format("parquet").option("path", s"$base/out")
      .option("checkpointLocation", s"$base/checkpoint").start()
    try {
      q.processAllAvailable()
      // what an interrupted publish or a foreign writer leaves behind
      val stray = new java.io.File(s"$bus/stray/x=1")
      assert(stray.mkdirs())
      Files.write(new java.io.File(stray, "part-00000.json").toPath,
        "{\"event_id\":999}\n".getBytes("UTF-8"))
      val late = new java.io.File(s"$bus/batch_000002")
      assert(late.mkdirs())
      Files.write(new java.io.File(late, "part-00000.json").toPath,
        "{\"event_id\":21}\n".getBytes("UTF-8"))
      q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, q.exception)
    assert(spark.read.parquet(s"$base/out").select("event_id").as[Long]
      .collect().sorted.toSeq === (1L to 21L))
  }

  test("a consumer restarted from a checkpoint written under the old " +
      "dir/* subscription re-reads no consumed file") {
    import graft.streaming.FileBus
    val base = Files.createTempDirectory("graft_pub9").toString
    val bus = s"$base/bus"
    def drain(stream: DataFrame): Unit = {
      val q = stream.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/checkpoint").start()
      try q.processAllAvailable() finally q.stop()
    }
    publish(20, bus, 10, 2)
    drain(StreamSources.fileStream(spark, s"$bus/*"))
    // a third batch lands; the consumer comes back on the FileBus
    val late = new java.io.File(s"$bus/batch_000002")
    assert(late.mkdirs())
    Files.write(new java.io.File(late, "part-00000.json").toPath,
      "{\"event_id\":21}\n".getBytes("UTF-8"))
    drain(new FileBus(bus).subscribe(spark))
    assert(spark.read.parquet(s"$base/out").select("event_id").as[Long]
      .collect().sorted.toSeq === (1L to 21L))
  }
}
