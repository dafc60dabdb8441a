package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.GraftConfig
import graft.streaming.{ConsumerMain, Dashboard, ProducerMain, StreamSources}

/** Seeded events in `StreamSources.eventSchema` shape: skewed user ids
  * over about 1,500 keys, five event types, about 1% null timestamps. */
object EventGen {
  final case class Event(id: Long, tsMs: Option[Long], user: Long,
      kind: String, value: Double, k: Int)

  private val kinds = Array("click", "view", "purchase", "signup", "error")
  private val epoch0 = 1704067200000L // 2024-01-01T00:00:00Z

  def events(seed: Long, firstId: Long, n: Int): IndexedSeq[Event] = {
    val r = new scala.util.Random(seed * 1000003L + firstId)
    (0 until n).map { i =>
      val id = firstId + i
      val u = r.nextDouble()
      Event(id,
        if (r.nextDouble() < 0.01) None
        else Some(epoch0 + id * 1700L + r.nextInt(1000)),
        (1500 * u * u).toLong, kinds(r.nextInt(kinds.length)),
        math.round(r.nextDouble() * 10000) / 100.0, r.nextInt(100))
    }
  }

  /** JSON lines as the file bus carries them (a null field is omitted,
    * as Spark's JSON writer does). */
  def jsonLines(es: Seq[Event]): String = es.map { e =>
    val ts = e.tsMs.map(ms => s""""ts":"${java.time.Instant.ofEpochMilli(ms)}",""")
      .getOrElse("")
    s"""{"event_id":${e.id},$ts"user_id":${e.user},"event_type":"${e.kind}",""" +
      s""""value":${e.value},"props":"{\\"k\\": ${e.k}}"}"""
  }.mkString("", "\n", "\n")

  def rows(es: Seq[Event]): Seq[Row] = es.map(e => Row(e.id,
    e.tsMs.map(new java.sql.Timestamp(_)).orNull, e.user, e.kind, e.value,
    s"""{"k": ${e.k}}"""))
}

/** Progress events of the streaming queries, as the public
  * `StreamingQueryListener` reports them. */
final class ProgressObserver extends StreamingQueryListener {
  final case class Trigger(runId: String, batchId: Long, startMs: Long,
      rows: Long, durations: Map[String, Long]) {
    def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
    /** Key of this trigger's jobs in `SchedulerObserver.jobsByBatch`. */
    def key: String = s"$runId:$batchId"
  }
  private val q = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    q.add(Trigger(p.runId.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def all: Seq[Trigger] = q.asScala.toSeq
  def clear(): Unit = q.clear()
}

/** The streaming workloads: the reference's producer -> file bus ->
  * consumer -> four-dataset sink pipeline, driven through
  * `ProducerMain.produce`, `ConsumerMain.startConsumer` and
  * `Dashboard.collectPanels`. */
object Streams {
  private val Datasets = Seq("raw", "pickup_agg", "dropoff_agg", "combined_agg")

  /** Drain phase: events produced, and rows per producer batch. */
  val DrainRows = 80000
  val DrainBatchRows = 20000
  /** Paced phase: rows per drop, and one drop per period. A 500-row
    * trigger takes 1.2 to 1.9 s on 4 cores, so a 3 s period keeps the
    * consumer about half busy and latency free of queueing. */
  val RowsPerDrop = 500
  val PeriodMs = 3000L
  /** Dashboard refresh period, the reference's cadence. */
  val RefreshMs = 5000L

  /** Drops of the paced phase: one per 3 s of the window, at least six.
    * The count depends on the window alone, not on how fast the drain
    * phase ran. */
  def drops(o: Main.Opts): Int = math.max(6, (o.seconds / 3).toInt)

  /** Shipped configuration with every directory moved under `dir`. */
  def conf(dir: Path, extra: (String, String)*): GraftConfig =
    GraftConfig.loadWithDefaults(None).overlay(Map(
      "graft.producer.file.outputDir" -> dir.resolve("bus").toString,
      "graft.consumer.source.directory" -> dir.resolve("bus").toString,
      "graft.consumer.output.directory" -> dir.resolve("processed").toString,
      "graft.consumer.output.checkpointDir" -> dir.resolve("checkpoint").toString
    ) ++ extra)

  /** Drop one batch file into the bus: written under a staging
    * directory, then renamed into the `batch_N` layout the consumer
    * watches, so the consumer never sees a partial file. */
  def drop(dir: Path, k: Long, content: String): Unit = {
    val staging = dir.resolve("staging").resolve(f"batch_$k%06d")
    Files.createDirectories(staging)
    Files.write(staging.resolve("part-00000.json"), content.getBytes(UTF_8))
    Files.createDirectories(dir.resolve("bus"))
    Files.move(staging, dir.resolve("bus").resolve(f"batch_$k%06d"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Small warmup, in a directory no timed phase uses: 200 events
    * through `produce`, a draining consumer and one dashboard refresh. */
  private def warmup(spark: SparkSession, dir: Path): Unit = {
    val src = dir.resolve("source")
    spark.createDataFrame(EventGen.rows(EventGen.events(-1, 0L, 200)).asJava,
      StreamSources.eventSchema).coalesce(1)
      .write.parquet(src.resolve("events.parquet").toString)
    val c = conf(dir, "graft.producer.data.sourceDir" -> src.toString,
      "graft.producer.data.batchSize" -> "100",
      "graft.consumer.output.drainOnce" -> "true")
    ProducerMain.produce(spark, c)
    val q = ConsumerMain.startConsumer(spark, c)
    q.awaitTermination()
    Dashboard.collectPanels(spark, dir.resolve("processed").toString)
    ()
  }

  /** The `stream` workload: a closed-loop drain phase, then an
    * open-loop paced phase for the rest of the window, in one session.
    * `drain_only` runs the drain phase alone (the single-core baseline). */
  def run(o: Main.Opts, res: Result): Unit = {
    val t = new Tracer(o.trace)
    val spark = Main.setUp(o, res, t) { s => warmup(s, o.work.resolve("warm")) }
    val actions = new ActionObserver(t)
    spark.listenerManager.register(actions)
    val progress = new ProgressObserver
    spark.streams.addListener(progress)
    val sched = new SchedulerObserver(t)
    drain(o, res, spark, t, actions, progress, sched)
    if (!o.args.get("drain_only").contains("1"))
      paced(o, res, spark, t, actions, progress, sched)
    if (o.trace) {
      res.record("self_time_s", t.selfSeconds)
      t.writeJsonLines(o.work.resolve("trace.jsonl"))
    }
    spark.stop()
  }

  /** Closed loop: a seeded events table through `ProducerMain.produce`
    * in large batches, then drained by an AvailableNow consumer with
    * the metrics listener off. Traced runs trace this phase whole. */
  private def drain(o: Main.Opts, res: Result, spark: SparkSession, t: Tracer,
      actions: ActionObserver, progress: ProgressObserver,
      sched: SchedulerObserver): Unit = {
    val nRows = DrainRows
    val batchSize = DrainBatchRows
    val events = EventGen.events(o.seed, 0L, nRows)
    val dir = o.work.resolve("drain")
    val srcDir = dir.resolve("source")
    spark.createDataFrame(EventGen.rows(events).asJava, StreamSources.eventSchema)
      .coalesce(1).write.parquet(srcDir.resolve("events.parquet").toString)
    // producer batch of each event: the producer orders by (ts, event_id),
    // nulls first
    val order = events.sortBy(e => (e.tsMs.isDefined, e.tsMs.getOrElse(0L), e.id))
    val groups = order.grouped(batchSize).toIndexedSeq
    val c = conf(dir,
      "graft.producer.data.sourceDir" -> srcDir.toString,
      "graft.producer.data.batchSize" -> batchSize.toString,
      "graft.consumer.output.drainOnce" -> "true")
    if (o.trace) spark.sparkContext.addSparkListener(sched)
    actions.clear()
    progress.clear()
    val p0 = System.nanoTime()
    t.span("producer.produce") {
      SpanProp.set(spark, t)
      ProducerMain.produce(spark, c)
    }
    val p1 = System.nanoTime()
    if (o.inject) {
      // self-test: lose one published row
      val f = Files.walk(dir.resolve("bus")).iterator().asScala
        .filter(_.toString.endsWith(".json")).next()
      Files.write(f, Files.readAllLines(f).asScala.drop(1).asJava)
      // the local file system checks the writer's checksum file on read
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    }
    val p2 = System.nanoTime()
    val q = t.span("consumer.drain") {
      val q = ConsumerMain.startConsumer(spark, c)
      q.awaitTermination()
      q
    }
    val p3 = System.nanoTime()
    if (o.trace) spark.sparkContext.removeSparkListener(sched)
    // listener events are asynchronous: let the last ones land
    val settle = System.nanoTime() + 10000000000L
    while (progress.all.map(_.batchId).maxOption.forall(_ < q.lastProgress.batchId) &&
        System.nanoTime() < settle) Thread.sleep(5)
    val checks = verify(spark, dir, groups, res, "producer batch")
    val produceS = (p1 - p0) / 1e9
    val drainS = (p3 - p2) / 1e9
    res.e2e("throughput", nRows / (produceS + drainS), "1/s")
    res.info("publish_rows_per_s", nRows / produceS, "1/s")
    res.info("drain_rows_per_s", nRows / drainS, "1/s")
    res.record("drain_s", Seq(produceS, drainS))
    res.record("drain_input_rows", nRows)
    res.record("drain_batch_rows", batchSize)
    if (o.trace) {
      val triggers = progress.all.filter(_.rows > 0)
      val acts = actions.all
      val publish = acts.filter(_.outputPath.exists(_.contains("/bus/")))
        .map(a => (a.endNs - a.startNs) / 1e9)
      res.layer("producer.publish_batch_ms", Stats.median(publish) * 1000)
      res.layer("producer.prepare_s", produceS - publish.sum)
      res.layer("drain.source.read_amplification", triggers.map(_.rows).sum.toDouble / nRows)
      res.layer("drain.trigger.count", triggers.size.toDouble)
      def phase(k: String) = Stats.median(triggers.map(_.durations.getOrElse(k, 0L).toDouble))
      res.layer("drain.trigger.execution_ms", phase("triggerExecution"))
      res.layer("drain.trigger.addBatch_ms", phase("addBatch"))
      res.layer("drain.sink.raw_ms", Stats.median(acts
        .filter(_.outputPath.exists(_.contains("/processed/raw/")))
        .map(a => (a.endNs - a.startNs) / 1e6)))
      res.layer("drain.sink.jobs_per_batch", Stats.median(triggers.map(tr =>
        sched.jobsByBatch.getOrElse(tr.key, 0L).toDouble)))
      val s = sched.snapshot
      s.foreach { case (k, v) => res.layer(s"spark.$k", v) }
      res.layer("spark.core_busy_frac", s("task_s") / ((p3 - p0) / 1e9 * o.cpus))
    }
  }

  /** Open loop: one 500-row drop every 3 s on a fixed schedule into a
    * ProcessingTime consumer with the shipped settings and the metrics
    * listener on, while a dashboard poller refreshes every 5 s. Drops
    * are due half a second after a wall-clock second: the consumer's
    * 1 s triggers fire on wall-clock seconds, so every drop waits the
    * same 0.5 s for its trigger and the latency's spread is the
    * pipeline's, not the sampling phase's. */
  private def paced(o: Main.Opts, res: Result, spark: SparkSession, t: Tracer,
      actions: ActionObserver, progress: ProgressObserver,
      sched: SchedulerObserver): Unit = {
    val dir = o.work.resolve("paced")
    val processed = dir.resolve("processed").toString
    val metricsDir = dir.resolve("metrics").toString
    val c = conf(dir, "graft.consumer.output.metricsDir" -> metricsDir)
    Files.createDirectories(dir.resolve("bus"))
    val nDrops = drops(o)
    val batches = (0 until nDrops).map { k =>
      val es = EventGen.events(o.seed, 1000000L + k.toLong * RowsPerDrop, RowsPerDrop)
      // the self-test drops a batch with one row missing
      if (o.inject && k == 0) es -> es.drop(1) else es -> es
    }
    actions.clear()
    val q = t.span("consumer.start") {
      ConsumerMain.startConsumer(spark, c)
    }
    // first (empty) trigger done: the consumer is up
    val upBy = System.nanoTime() + 60000000000L
    while (q.lastProgress == null && System.nanoTime() < upBy) Thread.sleep(10)
    progress.clear()

    // dashboard poller: the reference's 5 s cadence, beside the sink
    val refreshes = new ConcurrentLinkedQueue[Double]()
    @volatile var polling = true
    val t0 = (System.currentTimeMillis() / 1000 + 1) * 1000
    val poller = new Thread(() => {
      var n = 1
      while (polling) {
        val due = t0 + n * RefreshMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(math.min(wait, 100))
        else {
          val r0 = System.nanoTime()
          t.span("dashboard.refresh") {
            SpanProp.set(spark, t)
            Dashboard.collectPanels(spark, processed, metricsDir = Some(metricsDir))
          }
          refreshes.add((System.nanoTime() - r0) / 1e6)
          n += 1
        }
      }
    }, "graftbench-dashboard")
    poller.setDaemon(true)
    poller.start()

    // generator: a single thread on a fixed schedule; a drop is timed
    // from when it was due, so a stall counts against later drops.
    // Traced runs attach the scheduler listener for every second drop's
    // period only, so the tracing overhead is measured within the run
    // between neighbouring drops.
    val scheduled = mutable.ArrayBuffer.empty[Long]
    val lateMs = mutable.ArrayBuffer.empty[Double]
    def traced(k: Int) = o.trace && k % 2 == 1
    batches.zipWithIndex.foreach { case ((_, sent), k) =>
      val due = t0 + k * PeriodMs + 500
      while (System.currentTimeMillis() < due) Thread.sleep(1)
      if (traced(k)) spark.sparkContext.addSparkListener(sched)
      else if (traced(k - 1)) spark.sparkContext.removeSparkListener(sched)
      lateMs += (System.currentTimeMillis() - due).toDouble
      t.span("generator.drop", Map("drop" -> k.toString)) {
        drop(dir, k, EventGen.jsonLines(sent))
      }
      scheduled += due
    }
    t.span("consumer.catch_up") { q.processAllAvailable() }
    polling = false
    poller.join()
    q.stop()
    if (o.trace) {
      // one refresh on its own with the scheduler listener on, for the
      // dashboard's jobs per refresh
      if (!traced(nDrops - 1)) spark.sparkContext.addSparkListener(sched)
      spark.sparkContext.setLocalProperty(SchedulerObserver.LaneKey, "dashboard")
      t.span("dashboard.refresh") {
        SpanProp.set(spark, t)
        Dashboard.collectPanels(spark, processed, metricsDir = Some(metricsDir))
      }
      spark.sparkContext.setLocalProperty(SchedulerObserver.LaneKey, null)
    }

    // map every drop to the trigger that committed it
    val expected = batches.map(_._1)
    val checks = verify(spark, dir, expected, res, "drop")
    if (o.trace) spark.sparkContext.removeSparkListener(sched)
    val triggers = progress.all.filter(_.rows > 0)
    val endOf = triggers.map(tr => tr.batchId -> tr.endMs).toMap
    val latencies = expected.indices.flatMap { k =>
      checks.batchOfGroup.get(k).flatMap(endOf.get).map(e => (k, (e - scheduled(k)).toDouble))
    }
    val lat = latencies.map(_._2)
    res.e2e("latency_p50_ms", Stats.median(lat), "ms")
    res.info("latency_p90_ms", Stats.quantile(lat, 0.9), "ms")
    res.info("refresh_p50_ms", Stats.median(refreshes.asScala.toSeq), "ms")
    res.info("generator_late_ms_max", lateMs.max, "ms")
    res.record("latency_samples", lat.size)
    res.record("latency_ms", lat)
    res.record("refresh_ms", refreshes.asScala.toSeq)
    res.record("drops", nDrops)
    res.record("paced_input_rows", expected.map(_.size).sum)
    res.record("period_ms", PeriodMs)
    // bus lag at each due time: drops made but not yet committed
    val commitAt = latencies.map { case (k, l) => k -> (scheduled(k) + l) }.toMap
    val lag = scheduled.indices.map { k =>
      (0 until k).count(j => commitAt.get(j).forall(_ > scheduled(k)))
    }
    // a generator that fell behind its schedule is reported, never kept
    if (lateMs.max > PeriodMs / 2)
      res.fail(s"generator fell behind its schedule by ${lateMs.max} ms")
    res.layer("generator.late_ms_max", lateMs.max)
    res.layer("bus.lag_batches_max", lag.max.toDouble)
    res.layer("source.read_amplification",
      triggers.map(_.rows).sum.toDouble / expected.map(_.size).sum)
    res.layer("metrics.append_ms", Stats.median(actions.all
      .filter(_.outputPath.exists(_.contains("/paced/metrics")))
      .map(a => (a.endNs - a.startNs) / 1e6)))
    streamLayers(res, triggers, actions.all, checks, dir)
    if (o.trace) {
      val (dashJobs, dashRefreshes) = sched.lane("dashboard")
      res.layer("dashboard.jobs_per_refresh", dashJobs.toDouble / math.max(1L, dashRefreshes))
      // jobs of the triggers that ran wholly inside a traced period
      val inTraced = triggers.filter { tr =>
        scheduled.indices.exists(k => traced(k) &&
          scheduled(k) <= tr.startMs && tr.endMs < scheduled(k) + PeriodMs)
      }
      res.layer("sink.jobs_per_batch", Stats.median(inTraced
        .map(tr => sched.jobsByBatch.getOrElse(tr.key, 0L).toDouble)))
      val (tr, untr) = latencies.partition { case (k, _) => traced(k) }
      res.layer("trace.overhead_frac",
        Stats.median(tr.map(_._2)) / Stats.median(untr.map(_._2)) - 1)
    }
  }

  /** Per-trigger phase times and per-dataset write times. */
  private def streamLayers(res: Result, triggers: Seq[ProgressObserver#Trigger],
      actions: Seq[ActionEvent], checks: Checks, dir: Path): Unit = {
    def phase(k: String) = Stats.median(triggers.map(_.durations.getOrElse(k, 0L).toDouble))
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets").foreach(k => res.layer(s"trigger.${k}_ms", phase(k)))
    res.layer("trigger.execution_ms", phase("triggerExecution"))
    res.layer("trigger.count", triggers.size.toDouble)
    Datasets.foreach { d =>
      val ms = actions.filter(_.outputPath.exists(_.contains(s"/processed/$d/")))
        .map(a => (a.endNs - a.startNs) / 1e6)
      res.layer(s"sink.${d}_ms", Stats.median(ms))
    }
    res.layer("sink.files_per_batch", Stats.median(checks.sinkBatches.map { b =>
      Datasets.map(d => dataFiles(dir.resolve("processed").resolve(d)
        .resolve(s"batch_id=$b"))).sum.toDouble
    }))
  }

  private def dataFiles(d: Path): Int =
    if (!Files.isDirectory(d)) 0
    else Files.list(d).iterator().asScala.count(_.getFileName.toString.startsWith("part-"))

  /** Result of the stream output checks. `batchOfGroup` maps each
    * input group (a drop, or a producer batch) to the sink batch that
    * committed it. */
  final case class Checks(batchOfGroup: Map[Int, Long], sinkBatches: Seq[Long])

  /** Check the four datasets against the input groups: no lost or
    * duplicate event id, `trip_count` summing to the rows of each sink
    * batch in both aggregates (twice in the combined one), and distinct
    * keys per sink batch matching the aggregates' row counts. Each
    * group that fails counts as one failed operation. */
  def verify(spark: SparkSession, dir: Path, groups: Seq[Seq[EventGen.Event]],
      res: Result, what: String): Checks = {
    val out = dir.resolve("processed")
    def batchDirs(d: String): Seq[(Long, String)] = {
      val p = out.resolve(d)
      if (!Files.isDirectory(p)) Nil
      else Files.list(p).iterator().asScala.toSeq.map(_.getFileName.toString)
        .filter(_.startsWith("batch_id=")).map(n =>
          n.stripPrefix("batch_id=").toLong -> p.resolve(n).toString)
    }
    def read(d: String) = {
      val ps = batchDirs(d)
      if (ps.isEmpty) None
      else Some(spark.read.parquet(ps.map(_._2): _*).withColumn("__b",
        regexp_extract(input_file_name(), "batch_id=(\\d+)", 1).cast("long")))
    }
    val raw = read("raw").map(_.select(col("event_id"), col("user_id").cast("string").as("u"),
      col("event_type"), col("__b")).collect().toSeq).getOrElse(Nil)
    def aggs(d: String): Map[Long, (Long, Long)] = read(d).map(_.groupBy("__b")
      .agg(sum("trip_count"), count(lit(1))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap).getOrElse(Map.empty)
    val pickup = aggs("pickup_agg")
    val dropoff = aggs("dropoff_agg")
    val combined = aggs("combined_agg")
    val byBatch = raw.groupBy(_.getLong(3))
    val badBatch = byBatch.map { case (b, rs) =>
      val n = rs.size.toLong
      val users = rs.map(_.getString(1)).distinct.size.toLong
      val kinds = rs.map(_.getString(2)).distinct.size.toLong
      b -> !(pickup.get(b).contains((n, users)) && dropoff.get(b).contains((n, kinds)) &&
        combined.get(b).contains((2 * n, users + kinds)))
    }
    val seen = raw.groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(3)) }
    val batchOf = mutable.Map.empty[Int, Long]
    groups.zipWithIndex.foreach { case (g, k) =>
      res.attempted += 1
      val homes = g.map(e => seen.getOrElse(e.id, Nil))
      val lost = homes.count(_.isEmpty)
      val dup = homes.count(_.size > 1)
      val bs = homes.flatten.distinct
      bs.headOption.foreach(b => batchOf(k) = b)
      if (lost > 0 || dup > 0) res.fail(s"$what $k: $lost rows lost, $dup duplicated")
      else if (bs.exists(badBatch)) res.fail(s"$what $k: aggregates of sink batch ${bs.mkString(",")} miscounted")
    }
    val known = groups.flatten.map(_.id).toSet
    val extra = seen.keys.count(id => !known.contains(id))
    if (extra > 0) res.fail(s"$extra rows in raw that no $what sent")
    Checks(batchOf.toMap, byBatch.keys.toSeq.sorted)
  }
}
