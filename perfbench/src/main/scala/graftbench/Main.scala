package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload run. `perfbench/run.py` builds
  * the classpath, launches this main and turns its result file into
  * the printed result line.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * bench (the benchmark directory: `data/` tables and `expected.json`,
  * read-only), work (scratch directory inside the checkout), out
  * (result file), launch_ms (epoch ms when the JVM was launched),
  * inject (1 = feed one deliberately wrong output through the checks)
  * and drain_only (1 = the stream workload's drain phase alone).
  */
object Main {
  /** `startedNs`, `startedMs`: `System.nanoTime` and epoch ms when
    * `main` was entered. */
  final case class Opts(args: Map[String, String], startedNs: Long,
      startedMs: Long) {
    def apply(k: String): String =
      args.getOrElse(k, sys.error(s"missing --$k"))
    def workload: String = apply("workload")
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def trace: Boolean = apply("trace") == "1"
    def inject: Boolean = args.get("inject").contains("1")
    def work: Path = Paths.get(apply("work"))
    def bench: Path = Paths.get(apply("bench"))
    /** `System.nanoTime` of the JVM launch. */
    def launchNs: Long =
      startedNs - (startedMs - apply("launch_ms").toLong) * 1000000L
    def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
  }

  def main(argv: Array[String]): Unit = {
    val startedNs = System.nanoTime()
    val startedMs = System.currentTimeMillis()
    require(argv.length % 2 == 0, "arguments come as --key value pairs")
    val o = Opts(argv.grouped(2).map { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap, startedNs, startedMs)
    val res = new Result
    o.workload match {
      case "queries" => Queries.run(o, res)
      case "stream" => Streams.run(o, res)
      case other => sys.error(s"unknown workload $other")
    }
    Files.writeString(Paths.get(o("out")), res.json)
    // a stuck non-daemon thread must not keep a finished run alive
    System.exit(0)
  }

  /** Build the session and warm it once. `setup_s` runs from the JVM
    * launch to the end of the warmup: JVM start, class loading, the
    * first session build and the warmup. Returns the session, open. */
  def setUp(o: Opts, res: Result, t: Tracer)(
      warmup: SparkSession => Unit): SparkSession = {
    val s0 = System.nanoTime()
    val spark = t.span("setup.session") {
      graft.GraftSession.build(o.cpus.toString)
    }
    val s1 = System.nanoTime()
    t.span("setup.warmup") { warmup(spark) }
    val s2 = System.nanoTime()
    res.e2e("setup_s", (s2 - o.launchNs) / 1e9, "s")
    res.layer("setup.jvm_s", (o.startedNs - o.launchNs) / 1e9)
    res.layer("setup.session_s", (s1 - s0) / 1e9)
    res.layer("setup.warmup_s", (s2 - s1) / 1e9)
    val sc = spark.sparkContext
    res.record("cores", o.cpus)
    res.record("master", sc.master)
    res.record("default_parallelism", sc.defaultParallelism)
    res.record("shuffle_partitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    res.record("jdk", System.getProperty("java.version"))
    res.record("spark", spark.version)
    spark
  }

  /** Fresh copy of a table directory, so caches the program keys by
    * data directory start cold for every copy. */
  def copyDir(from: Path, to: Path): String = {
    Files.createDirectories(to)
    Files.list(from).forEach { f =>
      Files.copy(f, to.resolve(f.getFileName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    to.toString
  }
}

/** What one run produced: gated end-to-end metrics, ungated figures
  * printed beside them, per-layer metrics, counts and the run record. */
final class Result {
  private val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val infoM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layerM = mutable.LinkedHashMap.empty[String, Double]
  private val rec = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def e2e(name: String, v: Double, unit: String): Unit = e2eM(name) = (v, unit)
  def info(name: String, v: Double, unit: String): Unit = infoM(name) = (v, unit)
  def layer(name: String, v: Double): Unit = layerM(name) = v
  def record(name: String, v: Any): Unit = rec(name) = v
  def fail(what: String): Unit = { failed += 1; failures += what }

  def json: String = {
    def m(x: mutable.LinkedHashMap[String, (Double, String)]) =
      x.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Json.obj(Seq("attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.take(50).toSeq, "e2e" -> m(e2eM),
      "info" -> m(infoM), "per_layer" -> layerM, "record" -> rec))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
