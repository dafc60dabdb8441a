package graft.streaming

import graft.{GraftConfig, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end runtime check of the streaming pipeline — the reference's
  * three-process flow (producer → file-drop dir → consumer → four
  * datasets) in one deterministic run:
  *
  *   1. Replay slices sf events into JSON batch files (the producer);
  *   2. a file-source stream consumes them through MultiSink (the
  *      consumer): raw + pickup/dropoff/combined counts per micro-batch;
  *   3. row counts of every output dataset print as KEY=N lines.
  *
  * Every knob — source/bus/output/checkpoint paths, batch size, pacing,
  * formats, trigger, rate limit — comes from GraftConfig (bundled
  * graft.conf defaults, optionally overlaid by a site conf), mirroring
  * the reference's application.conf-driven mains
  * (producer/MainProducer.scala:18-23, consumer/MainConsumer.scala:18-37).
  *
  * Usage: runMain graft.streaming.StreamDemo [site.conf] [sfDir] [workDir]
  *   - a .conf argument overlays the bundled defaults;
  *   - positional sfDir/workDir (legacy form) override the path keys.
  */
object StreamDemo {

  /** Path overrides derived from legacy positional args. */
  private def positionalOverrides(pos: Seq[String]): Map[String, String] =
    pos.lift(0).map(d =>
      Map("graft.producer.data.sourceDir" -> d)).getOrElse(Map.empty) ++
      pos.lift(1).map(w => Map(
        "graft.producer.file.outputDir" -> s"$w/incoming",
        "graft.consumer.source.directory" -> s"$w/incoming",
        "graft.consumer.output.directory" -> s"$w/processed",
        "graft.consumer.output.checkpointDir" -> s"$w/checkpoint"))
        .getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val c = GraftConfig.loadWithDefaults(args.find(_.endsWith(".conf")))
      .overlay(positionalOverrides(args.filterNot(_.endsWith(".conf")).toSeq))
    val spark = graft.GraftSession.build(
      c.str("graft.consumer.spark.shufflePartitions"))
    run(spark, c)
    spark.stop()
  }

  def run(spark: SparkSession, c: GraftConfig): Unit = {
    // every fallback resolves through the single Defaults map
    val sfDir = c.str("graft.producer.data.sourceDir")
    val table = c.str("graft.producer.data.table")
    val busDir = c.str("graft.producer.file.outputDir")
    val watchDir = c.str("graft.consumer.source.directory", busDir)
    val processed = c.str("graft.consumer.output.directory")
    val checkpoint = c.str("graft.consumer.output.checkpointDir")

    // --- producer: slice the source table into ordered JSON batch drops
    // (the SAME body the standalone ProducerMain container runs)
    val total = Tables.foreign(spark, sfDir, table).count()
    val nBatches = ProducerMain.produce(spark, c)
    println(s"PRODUCED_BATCHES=$nBatches")

    // --- consumer: file stream -> four checkpointed datasets (the SAME
    // body the standalone ConsumerMain container runs), subscribed
    // through the FileBus
    val q = ConsumerMain.startConsumer(spark, c)
    q.processAllAvailable()
    q.stop()

    // --- verify: every dataset materialized, raw row count preserved.
    // The listed batch_id=N dirs are read by path: a glob path makes
    // Spark's sink-metadata probe stat it literally and log a
    // FileNotFoundException per dataset
    Seq("raw", "pickup_agg", "dropoff_agg", "combined_agg").foreach { d =>
      val n = Dashboard.latestBatches(spark, s"$processed/$d", Int.MaxValue)
        .count()
      println(s"${d.toUpperCase}_ROWS=$n")
    }
    println(s"SOURCE_ROWS=$total")

    // --- stateful operators smoke: session windows over the same bus
    val sess = StatefulSessions.sessions(
      new FileBus(watchDir, format = c.str("graft.consumer.source.format"),
        maxFilesPerTrigger = 100).subscribe(spark),
      gapSeconds = 1800L, watermarkDelay = "0 seconds")
    val sq = sess.writeStream.outputMode("append").format("memory")
      .queryName("sessions_out")
      .option("checkpointLocation", s"${checkpoint}_sessions")
      .start()
    sq.processAllAvailable()
    sq.stop()
    println(s"SESSIONS_EMITTED=${spark.table("sessions_out").count()}")
  }
}
