package graft.streaming

import graft.{GraftConfig, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Standalone service entry points for the three-process deployment
  * (docker-compose.yml / DEPLOY.md): the reference runs its producer and
  * consumer as SEPARATE containers sharing a volume
  * (docker-compose.yml:5-50), while [[StreamDemo]] runs both halves in
  * one process for the deterministic end-to-end check. These mains are
  * the per-container faces of the SAME bodies — StreamDemo delegates
  * here, so the demo and the deployment cannot drift.
  *
  * Usage:
  *   runMain graft.streaming.ProducerMain [site.conf] [sfDir] [busDir]
  *   runMain graft.streaming.ConsumerMain [site.conf] [watchDir] [outDir]
  */
object ProducerMain {

  /** Producer half: slice the configured source table into ordered
    * batch publishes on the event bus (pacing from config). The
    * transport is the [[EventBus]] seam — `bus = None` builds the
    * deployment [[FileBus]] from config; tests pass a `MemoryBus`; a
    * Kafka bus drops in the same way. Returns the number of batches
    * published. */
  def produce(spark: SparkSession, c: GraftConfig,
      bus: Option[EventBus] = None): Long = {
    // the source is a file from outside the program (Tables.foreign);
    // its columns are cast to the bus's event schema, so a `ts` read as
    // timestamp_ntz publishes the same rows as one read as timestamp
    val events = Tables.foreign(spark,
        c.str("graft.producer.data.sourceDir"),
        c.str("graft.producer.data.table"))
      .select(StreamSources.eventSchema.fields.map(f =>
        col(f.name).cast(f.dataType)): _*)
    // the row total comes from the ordinal's size pass: no count job
    val (prepared, total) =
      Replay.prepareCounted(events, Seq(col("ts"), col("event_id")))
    val confBatch = c.long("graft.producer.data.batchSize")
    val batchSize = if (confBatch > 0) confBatch else math.max(1L, total / 5)
    val nBatches = Replay.batchCount(total, batchSize)
    bus.getOrElse(new FileBus(c.str("graft.producer.file.outputDir"),
        format = c.str("graft.producer.file.format")))
      .publishBatches(prepared, batchSize, nBatches,
        intervalMillis =
          c.long("graft.producer.data.intervalSeconds") * 1000L)
    nBatches
  }

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.endsWith(".conf")).toSeq
    val c = GraftConfig.loadWithDefaults(args.find(_.endsWith(".conf")))
      .overlay(
        pos.lift(0).map(d =>
          Map("graft.producer.data.sourceDir" -> d)).getOrElse(Map.empty) ++
        pos.lift(1).map(b =>
          Map("graft.producer.file.outputDir" -> b)).getOrElse(Map.empty))
    val spark = graft.GraftSession.build(
      c.str("graft.consumer.spark.shufflePartitions"))
    try println(s"PRODUCED_BATCHES=${produce(spark, c)}")
    finally spark.stop()
  }
}

object ConsumerMain {

  /** Consumer half: checkpointed file-source stream through MultiSink's
    * four per-batch datasets. The returned query is AvailableNow when
    * `drainOnce` is set (catch up from the checkpoint and terminate —
    * the cron-run shape) and ProcessingTime otherwise (the always-on
    * container shape). */
  def startConsumer(spark: SparkSession, c: GraftConfig,
      bus: Option[EventBus] = None): StreamingQuery = {
    val watchDir = c.str("graft.consumer.source.directory",
      c.str("graft.producer.file.outputDir"))
    val stream = bus.getOrElse(new FileBus(watchDir,
        format = c.str("graft.consumer.source.format"),
        maxFilesPerTrigger =
          c.int("graft.consumer.source.maxFilesPerTrigger")))
      .subscribe(spark)
    MultiSink.start(stream, MultiSink.Config.fromConf(c,
      keyA = "user_id", tagA = "pickup_location",
      keyB = "event_type", tagB = "dropoff_location"))
  }

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.endsWith(".conf")).toSeq
    val c = GraftConfig.loadWithDefaults(args.find(_.endsWith(".conf")))
      .overlay(
        pos.lift(0).map(w =>
          Map("graft.consumer.source.directory" -> w)).getOrElse(Map.empty) ++
        pos.lift(1).map(o => Map(
          "graft.consumer.output.directory" -> o,
          "graft.consumer.output.checkpointDir" -> s"$o/_checkpoint"))
          .getOrElse(Map.empty))
    val spark = graft.GraftSession.build(
      c.str("graft.consumer.spark.shufflePartitions"))
    val q = startConsumer(spark, c)
    // AvailableNow self-terminates once caught up; ProcessingTime runs
    // until the container is stopped — both are one awaitTermination
    q.awaitTermination()
    // metrics are delivered on the ASYNC listener bus: stopping the
    // session right after termination can drop the final batches'
    // rows (observed: a 3-trigger drain recorded 2). Settle until the
    // log's max batch_id reaches the query's last progress (bounded —
    // a wedged bus must not hang the drain-and-exit shape)
    val metricsDir = c.str("graft.consumer.output.metricsDir")
    if (metricsDir.nonEmpty && q.lastProgress != null) {
      val want = q.lastProgress.batchId
      // filter by THIS query's runId: the metrics dir is append-only
      // across runs, so after a checkpoint wipe (batch ids restart at
      // 0) a stale prior-run row would satisfy the global max
      // immediately and the final batches' async appends could still
      // drop — the exact loss this loop prevents
      val runId = q.lastProgress.runId.toString
      val deadline = System.currentTimeMillis() + 30000
      def seen(): Long =
        try {
          val r = spark.read.parquet(metricsDir)
            .filter(org.apache.spark.sql.functions.col("run_id") === runId)
            .agg(org.apache.spark.sql.functions.max("batch_id"))
            .head()
          if (r.isNullAt(0)) -1L else r.getLong(0)
        }
        catch { case scala.util.control.NonFatal(_) => -1L }
      while (seen() < want && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
    }
    spark.stop()
  }
}
