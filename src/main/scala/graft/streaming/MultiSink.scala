package graft.streaming

import graft.operators.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** The consumer pipeline (SURVEY.md §3.2), idiomatic and idempotent:
  * one checkpointed foreachBatch sink writing four datasets per
  * micro-batch — raw, pickup-key counts, dropoff-key counts, combined —
  * the reference's data contract (consumer/StreamProcessor.scala:142-193)
  * with its two defects fixed:
  *
  *  - batch_id is foreachBatch's real batchId, not a plan-time literal
  *    (reference bug at StreamProcessor.scala:34-38);
  *  - each dataset writes to <dir>/<name>/batch_id=N with
  *    mode("overwrite") — a replayed micro-batch overwrites its own
  *    directory instead of appending duplicates (reference appends,
  *    StreamProcessor.scala:156-184, duplicate-prone on recovery).
  *
  * Per micro-batch the fixed cost is one materialization plus the
  * slowest of the four writes: one job caches the stamped batch and
  * counts it (a count of 0 writes nothing), the tagged counts are
  * computed once into one partition, and the four writes — one part
  * file per aggregate — run together through `Checkpoints.parEager`.
  * A failed write cancels the others and fails the batch; the replay
  * overwrites whatever the cancelled writes left.
  */
object MultiSink {

  final case class Config(
      outDir: String,
      checkpointDir: String,
      keyA: String, tagA: String,
      keyB: String, tagB: String,
      tsCols: Seq[String] = Seq("ts"),
      format: String = "parquet",
      triggerSeconds: Long = 10L,
      // AvailableNow: drain everything already present in micro-batches
      // (respecting maxFilesPerTrigger etc.), then terminate — the
      // incremental-batch pattern: a cron-scheduled run catches up from
      // the checkpoint and exits, no always-on cluster
      drainOnce: Boolean = false,
      // SURVEY §2.1 S8/S9 byte-compat option (reference
      // producer/FileSender.scala:31-67,82-109): when set, every batch
      // appends a bounded preview block to <debugDir>/batch_preview.txt
      // (header, first 5 rows as JSON truncated to 1000 chars, footer)
      // and an EMPTY batch leaves an empty-batch-<id>.txt marker. One
      // deliberate deviation: the marker name carries the batch id,
      // not a wall-clock stamp, so a replayed batch overwrites its own
      // marker — the sink family's idempotency contract
      debugDir: Option[String] = None,
      // engine-side observability: when set, the
      // query is named and a name-filtered StreamingQueryListener
      // appends one (batch_id, trigger_ts, rows, wall_ms, state_rows)
      // row per micro-batch to this parquet dir — what the dashboard's
      // freshness panel reads (Dashboard.collectPanels metricsDir)
      metricsDir: Option[String] = None)

  object Config {
    /** Sink side from the config file's `graft.consumer.output` block
      * (reference: consumer/MainConsumer.scala:18-37 reading
      * application.conf) — re-pointing dirs/format/trigger needs no
      * recompile. Key columns/tags stay code-side: they are the data
      * contract, not deployment knobs.
      */
    def fromConf(c: graft.GraftConfig,
        keyA: String, tagA: String, keyB: String, tagB: String): Config = {
      // fallbacks come from the one Defaults map — a dropped resource
      // file cannot silently change behavior or drift from the docs
      Config(
        outDir = c.str("graft.consumer.output.directory"),
        checkpointDir = c.str("graft.consumer.output.checkpointDir"),
        keyA = keyA, tagA = tagA, keyB = keyB, tagB = tagB,
        format = c.str("graft.consumer.output.format"),
        triggerSeconds = c.long("graft.consumer.output.triggerSeconds"),
        drainOnce = c.bool("graft.consumer.output.drainOnce"),
        metricsDir = Some(c.str("graft.consumer.output.metricsDir"))
          .filter(_.nonEmpty))
    }
  }

  /** Schema of `pickup_agg`, `dropoff_agg` and `combined_agg` as the
    * sink writes them, for readers that declare it instead of paying a
    * footer-inference job per read. Every column is nullable, as Spark
    * writes file columns. */
  val AggSchema: StructType = StructType(Seq(
    StructField("location_id", StringType),
    StructField("trip_count", LongType),
    StructField("aggregation_type", StringType),
    StructField("batch_id", StringType)))

  /** Console sink (SURVEY §2.1 S6) — the reference's debug output
    * (consumer/StreamProcessor.scala:199-202), wrapped so pipelines can
    * tee a stream to the terminal with the same trigger cadence as the
    * real sink. */
  def console(stream: DataFrame, numRows: Int = 20,
      truncate: Boolean = false, triggerSeconds: Long = 10L,
      mode: String = "append"): StreamingQuery =
    stream.writeStream
      .outputMode(mode)
      .format("console")
      .option("numRows", numRows)
      .option("truncate", truncate)
      .trigger(Trigger.ProcessingTime(s"$triggerSeconds seconds"))
      .start()

  /** The S8 debug side-channel: append a bounded preview block for a
    * batch — driver-side, ≤ 5 rows collected, content truncated. The
    * reference's shape (header / preview / footer per batch). */
  private def appendDebugPreview(batch: DataFrame, n: Long, batchId: Long,
      debugDir: String): Unit = {
    val rows = batch.limit(5).toJSON.collect()
    val preview =
      if (rows.isEmpty) "EMPTY BATCH - no rows to write"
      else rows.mkString("\n").take(1000) +
        (if (n > 5) "\n... (more rows)" else "")
    val block = s"===== BATCH #$batchId ($n rows) =====\n" +
      preview + "\n======================================\n\n"
    val dir = new org.apache.hadoop.fs.Path(debugDir)
    val fs = dir.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val file = new org.apache.hadoop.fs.Path(dir, "batch_preview.txt")
    // local FS supports append; object stores would rotate per batch
    val out = if (fs.exists(file)) fs.append(file) else fs.create(file)
    try out.write(block.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The S9 empty-batch marker: a tiny witness file so an operator can
    * tell "no data arrived" from "the sink died". Keyed by batch id
    * (idempotent on replay — see Config.debugDir). */
  private def writeEmptyMarker(batch: DataFrame, batchId: Long,
      debugDir: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(debugDir)
    val fs = dir.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val f = fs.create(
      new org.apache.hadoop.fs.Path(dir, s"empty-batch-$batchId.txt"), true)
    try f.write(s"batch #$batchId was empty - nothing written\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally f.close()
  }

  def start(stream: DataFrame, cfg: Config): StreamingQuery = {
    def write(df: DataFrame, name: String, batchId: Long): Unit =
      df.write.mode("overwrite").format(cfg.format)
        .save(s"${cfg.outDir}/$name/batch_id=$batchId")

    StreamMetrics.writeStream(stream, "graft_multisink_", cfg.metricsDir)
      .outputMode("append")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(
        if (cfg.drainOnce) Trigger.AvailableNow()
        else Trigger.ProcessingTime(s"${cfg.triggerSeconds} seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val repaired = StreamOps.repairNullTs(batch, cfg.tsCols)
        val stamped = StreamOps.stampBatchMeta(repaired, batchId)
        // the batch's one scan of its source: the count materializes the
        // cache every write below reads. An RDD count is one job, where
        // Dataset.count's global aggregate adds a shuffle and, under AQE,
        // a job for the cache stage and one for the map stage
        stamped.persist()
        try {
          val n = stamped.rdd.count()
          if (n == 0L)
            cfg.debugDir.foreach(writeEmptyMarker(batch, batchId, _))
          else {
            cfg.debugDir.foreach(appendDebugPreview(stamped, n, batchId, _))
            // one row per key and tag, computed once for the three
            // writes. The batch has one partition per input file; counted
            // in one partition there is no shuffle, and each aggregate
            // dataset gets one file. A lazy local checkpoint keeps the
            // result for the other two writes without a job of its own
            // (a persisted aggregate adds one per write under AQE)
            val counts = StreamOps.taggedKeyCounts(
              stamped.coalesce(1), cfg.keyA, cfg.tagA, cfg.keyB, cfg.tagB)
              .withColumn("batch_id", lit(StreamOps.formatBatchId(batchId)))
              .coalesce(1).localCheckpoint(eager = false)
            try Checkpoints.parEager(
              () => write(stamped, "raw", batchId),
              () => write(counts.filter(col("aggregation_type") === cfg.tagA),
                "pickup_agg", batchId),
              () => write(counts.filter(col("aggregation_type") === cfg.tagB),
                "dropoff_agg", batchId),
              () => write(counts, "combined_agg", batchId))
            finally Checkpoints.releaseIntermediate(counts)
          }
        } finally stamped.unpersist()
        ()
      }
      .start()
  }
}
