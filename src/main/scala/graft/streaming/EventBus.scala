package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The transport seam between the producer and consumer halves of the
  * pipeline. The reference's DESIGNED topology is CSV → producer →
  * Kafka → consumer (diagram.xml:10-17), but its Kafka config is dead
  * (application.conf:34-41 — nothing reads it) and the shipped flow is
  * the shared-volume file drop. This trait is the seam that design
  * promised: the producer publishes ordered batches through
  * [[EventBus.publishBatches]], the consumer gets one unbounded
  * streaming frame from [[EventBus.subscribe]], and NOTHING else in
  * either main knows the transport. Implementations:
  *
  *   - [[FileBus]] — the deployment default: one file per batch,
  *     overwrite-idempotent dirs, file-source stream with per-file
  *     pacing.
  *   - `MemoryBus` (src/test — it rides Spark-internal MemoryStream,
  *     which must not ship in the production jar): in-process, for
  *     tests; the same pipeline runs against a MemoryStream with no
  *     filesystem at all.
  *   - Kafka (when a broker exists — none in this offline sandbox):
  *     publish = `foreachPartition` of each batch into a producer,
  *     subscribe = `spark.readStream.format("kafka")` + `from_json`
  *     over [[StreamSources.eventSchema]]. Drops into these same two
  *     methods; no main changes.
  */
trait EventBus {
  /** Publish `prepared` ([[Replay.prepare]]'d: ordered, `row_num`-
    * stamped) as `nBatches` ordered batch drops of `batchSize` rows,
    * pausing `intervalMillis` between drops (0 = no pacing). */
  def publishBatches(prepared: DataFrame, batchSize: Long,
      nBatches: Long, intervalMillis: Long): Unit

  /** The consumer-side unbounded frame of everything published, in
    * [[StreamSources.eventSchema]] shape. */
  def subscribe(spark: SparkSession): DataFrame
}

/** Shared-volume file bus — the deployment transport. Publishing is
  * exactly [[Replay.writeBatches]]: one Spark write stages every batch
  * under `dir/_publish`, then each is renamed into its own
  * `batch_NNNNNN` dir (one JSON-lines file each, overwrite-idempotent)
  * in batch order. Subscribing is exactly [[StreamSources.fileStream]]
  * over `dir/batch_NNNNNN` dirs, the layout the bus writes, so neither
  * the staging dir nor any other stray dir in `dir` reaches the
  * consumer. */
final class FileBus(dir: String, format: String = "json",
    maxFilesPerTrigger: Int = 1,
    cleanSource: Option[String] = None,
    archiveDir: Option[String] = None) extends EventBus {
  override def publishBatches(prepared: DataFrame, batchSize: Long,
      nBatches: Long, intervalMillis: Long): Unit =
    Replay.writeBatches(prepared, dir, batchSize, nBatches,
      intervalMillis, format)

  override def subscribe(spark: SparkSession): DataFrame =
    StreamSources.fileStream(spark, s"$dir/batch_*", format = format,
      maxFilesPerTrigger = maxFilesPerTrigger,
      cleanSource = cleanSource, archiveDir = archiveDir)
}

