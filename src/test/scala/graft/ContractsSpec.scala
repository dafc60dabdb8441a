package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source-level contracts no runtime test would notice breaking: the
  * query registry and its oracle map stay key-for-key in step, and the
  * operators depend only on their inputs and the session's conf — no
  * process-global switches on the product path; and a schema the
  * program declares for its own output is the one Spark infers from
  * it. */
class ContractsSpec extends SparkSpec {

  test("every registered query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries.diff(oracles).isEmpty, "queries without an oracle")
    assert(oracles.diff(queries).isEmpty, "oracles without a query")
  }

  test("a registry with a repeated query name fails, naming it") {
    import graft.registry.Query
    val q = Query("dup_q", (s, _) => s.range(1).toDF(), "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Query.requireUniqueNames(Seq(q, q.copy(oracleSql = "SELECT 2"))))
    assert(e.getMessage.contains("dup_q"))
    assert(Query.requireUniqueNames(Seq(q)) === Seq(q))
  }

  private val processGlobalReads =
    """sys\.props|sys\.env|System\.getProperty|System\.getenv""".r

  test("operators read no system property or environment variable") {
    val dir = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(dir), s"run from the repo root: $dir")
    val files = Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size >= 10, "operator sources not found")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if processGlobalReads.findFirstIn(line).isDefined
    } yield s"${dir.relativize(f)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the operator lint flags each forbidden read (anti-vacuity)") {
    Seq("""sys.props.get("k")""", """sys.env.getOrElse("K", "")""",
        """System.getProperty("k")""", """System.getenv("K")""")
      .foreach(l => assert(processGlobalReads.findFirstIn(l).isDefined, l))
  }

  test("MultiSink's declared aggregate schema is the one Spark infers " +
      "from a written aggregate batch") {
    import graft.streaming.{MultiSink, Replay, StreamSources}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = Files.createTempDirectory("graft_agg_schema").toString
    val events = (1 to 10).map(i => (i.toLong,
      java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$i%02d"), (i % 3).toLong,
      if (i % 2 == 0) "click" else "view", i * 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val prepared = Replay.prepare(events, Seq(col("ts"), col("event_id")))
    Replay.writeBatches(prepared, s"$base/incoming", 10, 1)
    prepared.unpersist()
    val q = MultiSink.start(
      StreamSources.fileStream(spark, s"$base/incoming/*"),
      MultiSink.Config(outDir = s"$base/processed",
        checkpointDir = s"$base/checkpoint",
        keyA = "user_id", tagA = "pickup_location",
        keyB = "event_type", tagB = "dropoff_location", drainOnce = true))
    assert(q.awaitTermination(120000), "drain did not self-terminate")
    Seq("pickup_agg", "dropoff_agg", "combined_agg").foreach { d =>
      val inferred = spark.read.parquet(s"$base/processed/$d/batch_id=0")
        .schema
      assert(inferred === MultiSink.AggSchema, d)
    }
  }
}
