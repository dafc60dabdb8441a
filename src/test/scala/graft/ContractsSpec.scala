package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source-level contracts no runtime test would notice breaking: the
  * query registry and its oracle map stay key-for-key in step, and the
  * operators and registered queries depend only on their inputs and
  * the session's conf — no process-global switches on the product
  * path; and a schema the program declares, for its own output or for
  * a fixture table it reads, is the one Spark infers from the file. */
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

  private def scalaFiles(root: String): Seq[java.nio.file.Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"run from the repo root: $dir")
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  private def linesOf(f: java.nio.file.Path): Seq[String] =
    Files.readAllLines(f).asScala.toSeq

  private val processGlobalReads =
    """sys\.props|sys\.env|System\.getProperty|System\.getenv""".r

  // the operators and the registered queries built from them
  test("operators read no system property or environment variable") {
    val hits = Seq("operators", "registry").flatMap { pkg =>
      val files = scalaFiles(s"src/main/scala/graft/$pkg")
      assert(files.size >= 10, s"$pkg sources not found")
      for {
        f <- files
        (line, i) <- linesOf(f).zipWithIndex
        if processGlobalReads.findFirstIn(line).isDefined
      } yield s"$f:${i + 1}: ${line.trim}"
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the operator lint flags each forbidden read (anti-vacuity)") {
    Seq("""sys.props.get("k")""", """sys.env.getOrElse("K", "")""",
        """System.getProperty("k")""", """System.getenv("K")""")
      .foreach(l => assert(processGlobalReads.findFirstIn(l).isDefined, l))
  }

  // a member def of a top-level object: two-space indent, not private
  private val memberDef =
    """^  (?:final |@inline |implicit )*def ([A-Za-z_]\w*)""".r
  private val defName = """\bdef ([A-Za-z_]\w*)""".r
  private val identifier = """[A-Za-z_]\w*""".r

  private def isCode(line: String): Boolean = {
    val t = line.trim
    !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
  }

  /** (name, where) of each public member def of a top-level object. */
  private def publicObjectDefs(file: String,
      lines: Seq[String]): Seq[(String, String)] = {
    var inObject = false
    lines.zipWithIndex.flatMap { case (line, i) =>
      if (line.headOption.exists(_.isLetter))
        inObject = line.matches("""(?:case |final )*object \w.*""")
      if (!inObject) None
      else memberDef.findFirstMatchIn(line)
        .map(m => (m.group(1), s"$file:${i + 1}"))
    }
  }

  /** The defs whose name no code line uses outside a def of that name.
    * `main` is exempt: the JVM calls it. */
  private def unreferenced(defs: Seq[(String, String)],
      corpus: Seq[String]): Seq[String] = {
    val used = corpus.filter(isCode).flatMap { line =>
      identifier.findAllIn(line).toSet --
        defName.findAllMatchIn(line).map(_.group(1))
    }.toSet
    defs.collect { case (n, at) if n != "main" && !used(n) => s"$at: $n" }
  }

  test("every public def of an object in src/main has a caller or a " +
      "test") {
    val defs = scalaFiles("src/main/scala/graft")
      .flatMap(f => publicObjectDefs(f.toString, linesOf(f)))
    assert(defs.size >= 400, s"object defs not found: ${defs.size}")
    val corpus = Seq("src/main", "src/test", "perfbench/src")
      .flatMap(scalaFiles).flatMap(linesOf)
    val hits = unreferenced(defs, corpus)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the caller lint flags an unreferenced def (anti-vacuity)") {
    val defs = publicObjectDefs("Fake.scala", Seq(
      "object Fake {",
      "  def neverCalled(x: Int): Int = x",
      "  private def hidden(): Unit = ()",
      "  def called(): Unit = ()",
      "  def main(args: Array[String]): Unit = ()",
      "}",
      "class Other {",
      "  def notAnObjectMember(): Unit = ()",
      "}"))
    assert(defs.map(_._1) === Seq("neverCalled", "called", "main"))
    val corpus = Seq("Fake.called()", "  // neverCalled in a comment",
      "  * neverCalled in a doc line", "  def neverCalled(y: Long) = y")
    assert(unreferenced(defs, corpus) === Seq("Fake.scala:2: neverCalled"))
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

  // the fixture root: the producer's default source is its sf0.001
  private val testdata = Paths.get(
    GraftConfig.Defaults("graft.producer.data.sourceDir")).getParent.toString
  private val fixtureDirs = Seq(s"$testdata/sf0.001", s"$testdata/sf0.01",
    "perfbench/data/sf0.01")

  test("each table's declared schema is the one Spark infers from the " +
      "fixtures: names, order, types, field and element nullability") {
    assert(Tables.all.size === 10)
    assert(Tables.all.toSet === Tables.schema.keySet)
    for (dir <- fixtureDirs; name <- Tables.all) {
      assert(Files.exists(Paths.get(s"$dir/$name.parquet")), s"$dir/$name")
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      // StructType equality covers names, order, data types (element
      // nullability included) and field nullability; the tree string
      // shows where they differ
      assert(inferred === Tables.schema(name),
        s"$dir/$name\ninferred:\n${inferred.treeString}" +
          s"declared:\n${Tables.schema(name).treeString}")
      assert(Tables(spark, dir, name).schema === inferred, s"$dir/$name")
    }
  }

  test("reading and planning over every fixture table runs no Spark " +
      "job; an inferring read runs one or more") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.collection.concurrent.TrieMap
    val sc = spark.sparkContext
    val jobsByGroup = TrieMap.empty[String, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(g =>
          jobsByGroup.put(g, jobsByGroup.getOrElse(g, 0) + 1))
    }
    val run = java.util.UUID.randomUUID()
    // jobs started in `group` by `body`; a marker job run afterwards
    // in a group of its own is delivered after them on the listener bus
    def jobsIn(group: String)(body: => Unit): Int = {
      sc.setJobGroup(s"$run-$group", group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$run-$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(within(30)(jobsByGroup.contains(s"$run-$group-marker")))
      jobsByGroup.getOrElse(s"$run-$group", 0)
    }
    sc.addSparkListener(listener)
    try {
      val dir = s"$testdata/sf0.01"
      val declared = jobsIn("declared") {
        val t = Tables.all.map(n => n -> Tables(spark, dir, n)).toMap
        import org.apache.spark.sql.functions.col
        t("lineitem").join(t("orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t("customer"), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment").count()
          .queryExecution.executedPlan
        Tables.all.foreach(n => t(n).queryExecution.executedPlan)
      }
      assert(declared === 0)
      val inferred = jobsIn("inferred") {
        spark.read.parquet(s"$dir/orders.parquet")
      }
      assert(inferred >= 1)
    } finally sc.removeSparkListener(listener)
  }

  test("ScaleGen's output check counts a table written with its declared " +
      "schema and fails, naming the table, on any other schema") {
    val dir = Files.createTempDirectory("graft_scalegen_check").toString
    Tables(spark, s"$testdata/sf0.001", "region")
      .write.parquet(s"$dir/region.parquet")
    assert(ScaleGen.checkedCount(spark, dir, "region") === 5L)
    spark.range(3).toDF("n_nationkey").write.parquet(s"$dir/nation.parquet")
    val e = intercept[IllegalArgumentException](
      ScaleGen.checkedCount(spark, dir, "nation"))
    assert(e.getMessage.contains("nation was written as"), e.getMessage)
  }
}
