package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One published event as the MemoryStream carries it. Top-level: the
  * encoder Spark generates for a case class nested in a class cannot
  * construct it, and falls back to interpreted mode with an ERROR. */
final case class BusEvent(event_id: java.lang.Long,
    ts: java.sql.Timestamp, user_id: java.lang.Long,
    event_type: String, value: java.lang.Double, props: String)

/** In-process bus over a MemoryStream — the TEST transport (and the
  * template a Kafka impl follows: publish rows, subscribe a stream).
  * Each published batch becomes one MemoryStream block, so
  * maxFilesPerTrigger=1 pacing is mirrored by one-block-per-trigger.
  * Publishing collects each batch to the driver — fine for the test
  * corpus sizes this exists for, NEVER the production path (the file
  * and Kafka impls write executor-side).
  *
  * Lives in src/test: MemoryStream is a Spark-INTERNAL
  * test utility (`org.apache.spark.sql.execution.streaming.runtime`)
  * with no stability guarantee — the production jar must not depend
  * on it, and tests are this class's only consumer.
  */
final class MemoryBus(spark: SparkSession) extends EventBus {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  private implicit val enc: org.apache.spark.sql.Encoder[BusEvent] =
    org.apache.spark.sql.Encoders.product[BusEvent]
  private implicit val sql: org.apache.spark.sql.SQLContext =
    spark.sqlContext
  private val in = MemoryStream[BusEvent]

  override def publishBatches(prepared: DataFrame, batchSize: Long,
      nBatches: Long, intervalMillis: Long): Unit =
    (0L until nBatches).foreach { b =>
      val rows = Replay.batch(prepared, batchSize, b)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .collect().toSeq
        .map(r => BusEvent(
          if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
          if (r.isNullAt(1)) null else r.getTimestamp(1),
          if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)),
          if (r.isNullAt(3)) null else r.getString(3),
          if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4)),
          if (r.isNullAt(5)) null else r.getString(5)))
      in.addData(rows)
      if (intervalMillis > 0) Thread.sleep(intervalMillis)
    }

  override def subscribe(spark: SparkSession): DataFrame =
    in.toDF().select(
      col("event_id").cast("long"), col("ts"),
      col("user_id").cast("long"), col("event_type"),
      col("value").cast("double"), col("props"))
}
