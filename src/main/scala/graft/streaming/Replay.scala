package graft.streaming

import graft.operators.Relational
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Replay producer (SURVEY.md §3.1, §7.1 item 4): slices a static table
  * into deterministic ordered batches and drops each as one file into a
  * directory a file-source stream watches — the reference's
  * Kafka-on-a-filesystem simulation (producer/MainProducer.scala:77-124)
  * without its two anti-patterns:
  *
  *  - the ordinal is computed ONCE (single sort + window), then each
  *    row's batch is its ordinal divided by the batch size — the
  *    reference re-ran the full row_number window over the entire
  *    dataset per batch (producer/ProducerOperations.scala:138-142,
  *    O(total) per batch);
  *  - rows are written by executors, never collect()ed to the driver
  *    (reference: MainProducer.scala:98), and every batch of a publish
  *    comes out of ONE write job (one task, partitioned by batch) that
  *    is then renamed into the bus batch by batch.
  */
object Replay {

  /** One-time preparation: ordinal-stamped frame. Ordinals are 1-based,
    * dense, and deterministic given a total order (callers pass a
    * unique tie-breaker). withScalableOrdinal already materializes the
    * sorted data as a local checkpoint, so every later read of the
    * frame reads those blocks — no extra persist layer, no re-sort. */
  def prepare(df: DataFrame, orderCols: Seq[Column]): DataFrame =
    prepareCounted(df, orderCols)._1

  /** [[prepare]] and the prepared frame's row total, taken from the
    * ordinal's own partition-size pass (no count job). */
  def prepareCounted(df: DataFrame,
      orderCols: Seq[Column]): (DataFrame, Long) =
    Relational.withScalableOrdinalCounted(df, orderCols)

  /** Number of batches of `batchSize` rows that hold `total` rows. */
  def batchCount(total: Long, batchSize: Long): Long =
    (total + batchSize - 1) / batchSize

  /** Batch b (0-based) of the prepared frame: a pure range filter. */
  def batch(prepared: DataFrame, batchSize: Long, b: Long): DataFrame =
    prepared.filter(col("row_num")
        .between(b * batchSize + 1, (b + 1) * batchSize))
      .drop("row_num")

  /** Staging directory of a publish, inside the bus directory: the
    * rename into `batch_NNNNNN` stays on one filesystem, and the bus
    * subscription (`batch_*`) never matches it. */
  private val StagingDir = "_publish"

  /** Write batches [0, n) as one JSON-lines file each into `dir`, as
    * `dir/batch_NNNNNN/part-*` (the reference's wire contract: one file
    * per batch, producer/FileSender.scala:117-132). A re-run of batch b
    * replaces its directory rather than duplicating it; consumers watch
    * the `batch_*` glob (the file source does not recurse on its own).
    *
    * One Spark write stages every batch: the rows are tagged with their
    * batch, sorted by (batch, row_num) in a single task and written
    * partitioned by batch into `dir/_publish`. The single task closes
    * the files in batch order, so their modification times — the order
    * a file source consumes new files in — follow the batches. Each
    * staged batch directory is then renamed to `batch_NNNNNN` in batch
    * order, `intervalMillis` apart (0 = no pacing, for tests): the first
    * drop lands once the whole write is done. The staging directory is
    * removed at the end; an empty range writes nothing.
    */
  def writeBatches(prepared: DataFrame, dir: String, batchSize: Long,
      nBatches: Long, intervalMillis: Long = 0L,
      format: String = "json"): Unit = if (nBatches > 0) {
    val staging = new Path(dir, StagingDir)
    prepared
      .filter(col("row_num") <= nBatches * batchSize)
      .withColumn("batch", expr(s"(row_num - 1) div $batchSize"))
      .coalesce(1).sortWithinPartitions("batch", "row_num")
      .drop("row_num")
      .write.mode("overwrite").format(format).partitionBy("batch")
      .save(staging.toString)
    val fs = staging.getFileSystem(
      prepared.sparkSession.sparkContext.hadoopConfiguration)
    val staged = (0L until nBatches)
      .map(b => b -> new Path(staging, s"batch=$b"))
      .filter { case (_, p) => fs.exists(p) }
    staged.zipWithIndex.foreach { case ((b, p), i) =>
      if (i > 0 && intervalMillis > 0) Thread.sleep(intervalMillis)
      val target = new Path(dir, StreamOps.formatBatchId(b))
      fs.delete(target, true)
      if (!fs.rename(p, target))
        throw new java.io.IOException(s"could not move $p to $target")
    }
    fs.delete(staging, true)
  }
}
