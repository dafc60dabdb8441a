package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Streaming sources (SURVEY.md §2.1 S2): explicit-schema unbounded
  * scans. Schema inference is never used on a stream — the reference
  * makes the same deliberate choice (consumer/FileReader.scala:22-24,
  * producer/ProducerOperations.scala:21), but declares the schema twice
  * by hand; here one shared StructType serves producer and consumer.
  */
object StreamSources {

  /** The events wire schema — the single source of truth shared by the
    * replay producer (writer) and the consumer (reader). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)))

  /** Unbounded file-drop scan: the reference's ingestion primitive
    * (consumer/FileReader.scala:59-63). `maxFilesPerTrigger` paces the
    * stream (1 = one dropped file per micro-batch, the reference's
    * Kafka-on-a-filesystem simulation).
    *
    * Scale: the file source tracks seen files in the checkpoint log;
    * at high file counts set cleanSource/maxFileAge upstream. For real
    * 100 TB ingestion this swaps for a Kafka source with the same
    * downstream plan — format("kafka") + from_json(value, schema).
    */
  def fileStream(spark: SparkSession, dir: String,
      schema: StructType = eventSchema, format: String = "json",
      maxFilesPerTrigger: Int = 1,
      // source-side retention: "archive" moves consumed files to
      // archiveDir, "delete" removes them — without one of these a
      // long-lived file bus accumulates millions of consumed files and
      // listing dominates every trigger
      cleanSource: Option[String] = None,
      archiveDir: Option[String] = None): DataFrame = {
    val r0 = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    val r1 = cleanSource.fold(r0)(r0.option("cleanSource", _))
    val r2 = archiveDir.fold(r1)(r1.option("sourceArchiveDir", _))
    r2.schema(schema).format(format).load(dir)
  }

  /** Kafka-wire value decode: expand a binary/string `value` column
    * (the Kafka record payload shape) into typed columns via from_json.
    * The same plan consumes a real Kafka source —
    * spark.readStream.format("kafka") yields exactly this value column;
    * no broker exists in this environment, so tests drive it from
    * memory/file streams carrying encoded values. */
  def decodeJsonValue(df: org.apache.spark.sql.DataFrame,
      schema: StructType = eventSchema): org.apache.spark.sql.DataFrame =
    df.select(org.apache.spark.sql.functions.from_json(
        org.apache.spark.sql.functions.col("value").cast("string"), schema)
      .as("__v")).select("__v.*")

  /** Inverse wire encode (producer side of the Kafka contract). */
  def encodeJsonValue(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(org.apache.spark.sql.functions.to_json(
      org.apache.spark.sql.functions.struct(df.columns.map(
        org.apache.spark.sql.functions.col): _*)).as("value"))
}
