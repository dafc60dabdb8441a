package graftbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** The `queries` workload: a fixed number of passes over a frozen list
  * of `SparkEntry.queries`, each pass on a fresh copy of the tables and
  * in a seeded order. One operation is one query: the call of its body
  * (eager fits and pins run there) plus the `noop` write that
  * materializes every output row — the timed action of `graft.Bench`. */
object Queries {
  /** The frozen query list: the shuffle-heavy Jaccard prefix join, then
    * cheap queries from every family. */
  val Names: Seq[String] = Seq("dedup_jaccard_prefix", "rel_pricing_summary",
    "rel_location_counts", "rel_grouping_sets", "join_semi_customers",
    "text_stats", "text_bpe_merges", "media_features", "sim_ann_lsh",
    "dedup_stats", "cdc_upsert_orders", "stream_tumbling_counts")

  /** Timed tables, and the small tables used only for warmup. */
  val Tables = "sf0.01"
  val WarmTables = "sf0.001"

  /** Passes of an untraced run: one per 5 s of the window, at least
    * two. A pass takes 6 to 8 s on 4 cores; the count depends on the
    * window alone, so every commit is measured over the same number of
    * passes. A traced run makes five passes, untraced and traced in
    * turn. */
  def passes(o: Main.Opts): Int =
    if (o.trace) 5 else math.max(2, (o.seconds / 5).toInt)

  /** Expected output of one query, recorded at the seed commit. */
  final case class Expected(rows: Long, checksum: Option[String])

  def run(o: Main.Opts, res: Result): Unit = {
    val t = new Tracer(o.trace)
    val names = Names
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(",")}")
    val fns = graft.SparkEntry.queries
    val expected = loadExpected(o.bench.resolve("expected.json"))
    val data = o.bench.resolve("data").resolve(Tables)
    // warmup runs every query once on the small tables, in a directory
    // no timed pass uses: it compiles the plans' generated code and
    // warms the JIT, while caches keyed by the timed tables stay cold
    val spark = Main.setUp(o, res, t) { s =>
      val dir = Main.copyDir(o.bench.resolve("data").resolve(WarmTables),
        o.work.resolve("warm"))
      names.foreach(n => noopWrite(fns(n)(s, dir)))
    }
    val actions = new ActionObserver(t)
    spark.listenerManager.register(actions)
    val sched = new SchedulerObserver(t)

    val passTimes = mutable.ArrayBuffer.empty[Double]
    val tracedPass = mutable.ArrayBuffer.empty[Boolean]
    // seconds of each query in each pass
    val perPass = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Double]]
    val layerSums = mutable.ArrayBuffer.empty[Map[String, Double]]
    // the first pass also verifies content checksums, outside the
    // timed spans
    (0 until passes(o)).foreach { pass =>
      val dir = Main.copyDir(data, o.work.resolve(s"pass_$pass"))
      val order = new scala.util.Random(o.seed * 7919 + pass).shuffle(names)
      // traced runs alternate untraced and traced passes, so the
      // tracing overhead is measured in the same run
      val traced = o.trace && pass % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(sched)
      val before = sched.snapshot
      var passS = 0.0
      val times = mutable.LinkedHashMap.empty[String, Double]
      var construct, plan, execute = 0.0
      val peak = new StoragePeak(spark, traced)
      val p0 = System.nanoTime()
      order.foreach { name =>
        res.attempted += 1
        val noopsBefore = actions.all.count(_.outputPath.contains(ActionObserver.Noop))
        val q0 = System.nanoTime()
        try {
          val df = t.span("query.construct", Map("query" -> name)) {
            SpanProp.set(spark, t)
            fns(name)(spark, dir)
          }
          val c1 = System.nanoTime()
          val out = if (o.inject && pass == 0 && name == order.head)
            df.union(df.limit(1)) else df
          t.span("query.execute", Map("query" -> name)) {
            SpanProp.set(spark, t)
            noopWrite(out)
          }
          val q1 = System.nanoTime()
          val ev = awaitNoop(actions, noopsBefore)
          val secs = (q1 - q0) / 1e9
          passS += secs
          times(name) = secs
          construct += (c1 - q0) / 1e9
          plan += ev.planMs / 1000
          execute += (q1 - c1) / 1e9 - ev.planMs / 1000
          check(name, out, ev, expected.get(name), pass == 0, res)
        } catch {
          case scala.util.control.NonFatal(e) =>
            res.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
      }
      val wall = (System.nanoTime() - p0) / 1e9
      peak.stop()
      if (traced) {
        spark.sparkContext.removeSparkListener(sched)
        val after = sched.snapshot
        val d = after.map { case (k, v) => k -> (v - before(k)) }
        layerSums += d ++ Map("construct_s" -> construct, "plan_s" -> plan,
          "execute_s" -> execute, "wall_s" -> wall,
          "storage_peak_mb" -> peak.peakMb)
      }
      passTimes += passS
      tracedPass += traced
      perPass += times
    }
    spark.stop()

    // every successful query execution of the untraced passes counts,
    // so no timed work drops out of the figures; a failed one has no time
    val untraced = perPass.zip(tracedPass).collect { case (m, false) => m }.toSeq
    val ms = untraced.flatMap(_.values).map(_ * 1000)
    res.e2e("latency_p50_ms", Stats.median(ms), "ms")
    res.e2e("throughput", ms.size / (ms.sum / 1000), "1/s")
    res.info("latency_p90_ms", Stats.quantile(ms, 0.9), "ms")
    // graft.Bench's figure: the sum of each query's best pass
    res.info("query_total_s",
      names.flatMap(n => untraced.flatMap(_.get(n)).minOption).sum, "s")
    res.record("passes", passTimes.size)
    res.record("pass_s", passTimes.toSeq)
    res.record("queries", names)
    res.record("tables", data.getFileName.toString)
    res.record("per_query_s", names.map(n => n -> perPass.flatMap(_.get(n)).toSeq).toMap)
    res.record("latency_samples", ms.size)
    if (o.trace) {
      // traced passes against the untraced passes after the first
      val warm = passTimes.zip(tracedPass).drop(1)
      res.layer("trace.overhead_frac",
        Stats.median(warm.collect { case (s, true) => s }.toSeq) /
          Stats.median(warm.collect { case (s, false) => s }.toSeq) - 1)
      def med(k: String) = Stats.median(layerSums.map(_(k)).toSeq)
      Seq("construct_s", "plan_s", "execute_s").foreach(k => res.layer(s"query.$k", med(k)))
      Seq("task_s", "task_cpu_s", "shuffle_write_mb", "shuffle_read_mb",
        "spill_mb", "input_mb", "jobs", "stages", "tasks", "gc_s",
        "storage_peak_mb").foreach(k => res.layer(s"spark.$k", med(k)))
      res.layer("spark.core_busy_frac", Stats.median(layerSums.map(m =>
        m("task_s") / (m("wall_s") * o.cpus)).toSeq))
      res.record("self_time_s", t.selfSeconds)
      t.writeJsonLines(o.work.resolve("trace.jsonl"))
    }
  }

  def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The `noop` write's listener event; the listener bus is
    * asynchronous, so wait for it (bounded). */
  private def awaitNoop(actions: ActionObserver, before: Int): ActionEvent = {
    val deadline = System.nanoTime() + 20000000000L
    var ev: Option[ActionEvent] = None
    while (ev.isEmpty && System.nanoTime() < deadline) {
      val noops = actions.all.filter(_.outputPath.contains(ActionObserver.Noop))
      if (noops.size > before) ev = Some(noops.last) else Thread.sleep(2)
    }
    ev.getOrElse(sys.error("no listener event for the noop write"))
  }

  /** Row count from the executed plan (every pass); on the first pass
    * also a content checksum, computed outside the timed span. */
  private def check(name: String, df: DataFrame, ev: ActionEvent,
      exp: Option[Expected], withChecksum: Boolean, res: Result): Unit = {
    val rows = ev.rows.getOrElse(df.count())
    val sum = if (withChecksum) Some(checksum(df)) else None
    sum.foreach(s => res.record(s"observed.$name", Map("rows" -> rows, "checksum" -> s)))
    val problems = exp match {
      case None => Seq("no expected output recorded")
      case Some(e) =>
        Seq(s"rows $rows, expected ${e.rows}").filter(_ => rows != e.rows) ++
          (for (c <- e.checksum; s <- sum if s != c) yield s"checksum $s, expected $c")
    }
    if (problems.nonEmpty) res.fail(s"$name: ${problems.mkString("; ")}")
  }

  /** Order-independent content hash: row count, and the sum and xor of
    * a per-row hash of the row's JSON form. Top-level floating-point
    * columns are rounded to 6 decimals first, so summation order does
    * not move the hash. */
  def checksum(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6).as(f.name)
        case _ => col(f.name)
      }
    }
    val h = xxhash64(to_json(struct(cols.toIndexedSeq: _*)))
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))),
        bit_xor(col("h"))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0 else r.getLong(1)}:" +
      s"${if (r.isNullAt(2)) 0 else r.getLong(2)}"
  }

  /** `expected.json`: query name -> {rows, checksum (null when the
    * output is not deterministic)}. */
  def loadExpected(f: java.nio.file.Path): Map[String, Expected] = {
    if (!Files.exists(f)) Map.empty
    else new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
      .fields().asScala.map { e =>
        val c = Option(e.getValue.get("checksum")).filterNot(_.isNull).map(_.asText)
        e.getKey -> Expected(e.getValue.get("rows").asLong, c)
      }.toMap
  }
}

/** Samples the storage memory in use every 50 ms while a pass runs. */
final class StoragePeak(spark: SparkSession, on: Boolean) {
  @volatile private var run = on
  @volatile var peakMb = 0.0
  private val th = new Thread(() => {
    while (run) {
      val used = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
      peakMb = math.max(peakMb, used / 1e6)
      Thread.sleep(50)
    }
  }, "graftbench-storage-peak")
  th.setDaemon(true)
  if (on) th.start()
  def stop(): Unit = { run = false; if (on) th.join() }
}
