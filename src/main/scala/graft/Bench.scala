package graft

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. An untimed warmup pass
  * runs first so the timed pass measures steady state — without it the
  * first query absorbs all JVM/codegen/parquet-footer warmup (~9 s)
  * and the per-query numbers are meaningless.
  *
  * Each timed run splits into construction (`fn(spark, sfDir)`, which
  * executes any eager prefix: memoized fits, iterative loops ending in
  * localCheckpoint) and execution (the noop write). A [[Bench.Layers]]
  * listener attributes the Spark work of each run to it through a job
  * tag of the run's own, and the archive file records, per query, the
  * split and the work of the run whose time is reported.
  */
object Bench {

  private val TagPrefix = "graft-bench-"
  private val FenceTag = s"${TagPrefix}fence"

  /** One timed run of one query; `tag` names its Spark jobs. */
  private final case class Run(tag: String, constructS: Double, executeS: Double,
      ok: Boolean) {
    def seconds: Double = constructS + executeS
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev knob: comma-separated query names to bench in isolation
    // (adjudicating one query's drift without 95 interleaved plans);
    // absent = the driver's full sweep, unchanged
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSeq)
    val selected = SparkEntry.select(only)
    val spark = GraftSession.build("32")
    val sc = spark.sparkContext
    val layers = new Layers(sc)
    sc.addSparkListener(layers)
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    var runs = 0
    def timed(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Run = {
      runs += 1
      val tag = s"${TagPrefix}run-$runs"
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      var t1 = 0L
      // noop sink: materializes every output row (count() would let
      // Catalyst prune the projections and under-measure per-row work)
      val ok =
        try {
          val df = fn(spark, sfDir)
          t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case _: Throwable => false }
        finally sc.removeJobTag(tag)
      val t2 = System.nanoTime()
      // a construction failure is all construction
      if (t1 == 0L) t1 = t2
      Run(tag, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok)
    }
    def runAll(): Seq[(String, Run)] =
      selected.map { case (name, fn) =>
        val r = timed(fn)
        if (!r.ok) failed += name
        name -> r
      }
    // dev knob for BIG-SF probes (sf10 ScaleGen sweeps, SCALE.md):
    // per-query wall-times there are MINUTES, so the default
    // warmup + 2-timed-pass protocol triples a multi-hour run to
    // shave ~10 s of codegen warmup — passes=1 skips the warmup and
    // times one cold pass. NEVER set for the driver's sf0.1 gate:
    // the steady-state protocol below stays the default
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .map(_.toInt).getOrElse(2)
    require(passes == 1 || passes == 2,
      s"SPARK_GRAFT_BENCH_PASSES must be 1 or 2, got $passes")
    if (passes == 2)
      runAll() // warmup: codegen, parquet footers, shuffle machinery
    // two timed passes, per-query MIN: the machine is shared and single
    // runs swing 2-4x on noise; min is the standard robust estimator
    val first = runAll()
    val swept =
      if (passes == 1) first
      else {
        val p1 = first.toMap
        runAll().map { case (k, r) =>
          k -> (if (p1(k).seconds < r.seconds) p1(k) else r)
        }
      }
    // AUTO-ADJUDICATION — the ABA drift protocol (BASELINE.md),
    // mechanized. Some query bodies (try_-expression exception paths
    // above all) are pathologically sensitive to the 239-plan JVM
    // interleave: rel_try_errors read 4-9x its isolated time in full
    // sweeps. So: after the sweep, any query whose min exceeds 1.3x its
    // recorded historical floor (bench_floors.json — min over every
    // archived sweep + isolated adjudication at the sweep SF; regen
    // with tools/make_floors.py) by more than 0.4 s absolute is
    // re-run ISOLATED in this same JVM, twice, and both readings land
    // in the JSON under "adjudicated". The reported per-query value is
    // then min(in_sweep, isolated) — the same min-of-passes estimator,
    // with one pass taken outside the interleave. Bounded at 16
    // queries (worst excess first) so a globally-noisy window cannot
    // double the bench; floors-file absence degrades to no-op.
    // floors are recorded at ONE SF (the file's "sf" field, sf0.1 —
    // make_floors.py's SWEEP_SF). A big-SF probe (sf1/sf10 ScaleGen
    // sweeps) comparing multi-minute times against sf0.1 floors would
    // flag ~everything as drifting and burn up to 16 isolated reruns
    // mislabeling healthy queries — so unless this sweep's SF directory
    // matches the floors' SF, degrade to no floors
    val floors: Map[String, Double] =
      if (only.isDefined) Map.empty
      else scala.util.Try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get("bench_floors.json"))
        val floorsSf = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        val sweepSf = java.nio.file.Paths.get(sfDir)
          .getFileName.toString
        if (floorsSf != sweepSf) Map.empty[String, Double]
        else {
          val sec = txt.substring(txt.indexOf("\"floors\""))
          "\"([A-Za-z][A-Za-z0-9_]*)\":\\s*([0-9]+\\.?[0-9]*)".r
            .findAllMatchIn(sec)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }.getOrElse(Map.empty)
    val drifting = swept.flatMap { case (name, r) =>
      floors.get(name).collect {
        case f if r.seconds > 1.3 * f && r.seconds - f > 0.4 => (name, r, f)
      }
    }.sortBy { case (_, r, f) => f - r.seconds }.take(16)
    // an adjudication-only failure must NOT poison the record: the
    // query already succeeded in the sweep, so a failed rerun is
    // dropped (min keeps the genuine sweep time, never a fast-fail
    // duration) and the name stays out of `failed`
    val adjudicated = drifting.map { case (name, inSweep, _) =>
      val fn = SparkEntry.queries(name)
      val iso = Seq(timed(fn), timed(fn)).filter(_.ok)
      name -> (inSweep, iso.minByOption(_.seconds))
    }.toMap
    adjudicated.foreach { case (name, (_, iso)) =>
      // both isolated reruns threw: keep the sweep number, but KEEP the
      // entry in the JSON with isolated:null — the machine-readable
      // record must show the query was flagged as drifting but
      // unverifiable, or downstream floor/drift tooling reads it as a
      // never-drifting query
      if (iso.isEmpty)
        System.err.println(s"[bench] adjudication rerun failed for $name; keeping in-sweep time")
    }
    val results = swept.map { case (k, r) =>
      k -> (adjudicated.get(k).flatMap(_._2) match {
        case Some(iso) if iso.seconds < r.seconds => iso
        case _ => r
      })
    }
    val total = results.map(_._2.seconds).sum
    // CANARY-NORMALIZED TOTAL: the shared box's load swings totals
    // 10-20%, so the raw total needs a window estimate beside it. One
    // scan+agg canary over-corrected — its sweeps swung normalized
    // MORE than raw, because scan load doesn't track the shuffle-heavy
    // tail — so the window factor is the MEDIAN floor-ratio over four
    // fixed-plan canaries spanning the sweep's plan shapes: scan+agg
    // (rel_pricing_summary), join/shuffle (join_brand_revenue), window
    // (win_ranking_suite), and pair-join (dedup_minhash_bands).
    // total_normalized = total * median(floor_i / now_i) rescales the
    // sweep as if run at floor conditions. Emitted beside the raw
    // total, never instead of it; per-canary ratios land in the JSON
    // so the spread itself is auditable. Canaries missing a floor or
    // failed this sweep drop out; absent entirely when none qualify
    // (partial sweep, SF mismatch).
    val canaries = Seq("rel_pricing_summary", "join_brand_revenue",
      "win_ranking_suite", "dedup_minhash_bands")
    val canaryRatios = canaries.flatMap { c =>
      for {
        floor <- floors.get(c)
        now <- results.collectFirst { case (k, r) if k == c => r.seconds }
        if now > 0 && !failed.contains(c)
      } yield c -> (floor / now)
    }
    val normalized =
      if (canaryRatios.isEmpty) None
      else {
        val rs = canaryRatios.map(_._2).sorted
        val mid = rs.length / 2
        val med = if (rs.length % 2 == 1) rs(mid)
          else (rs(mid - 1) + rs(mid)) / 2
        Some(total * med)
      }
    // the core count (N of the applied local[N] master; null for any
    // other master) and parallelism the sweep actually ran with, so a
    // reader of the JSON need not trust the environment it was given
    val cpus = "local\\[(\\d+)".r.findPrefixMatchOf(sc.master)
      .fold("null")(_.group(1))
    val drained = layers.drain()
    System.err.println(s"[bench] untagged jobs: ${layers.untagged}" +
      (if (drained) "" else " (listener bus not drained)"))
    // failed queries are NAMED, not silently timed-to-exception — a
    // broken query must never read as a performance win
    val fails = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // a filtered run carries an explicit in-band marker so NOTHING
    // downstream can mistake it for a full sweep, wherever it lands
    val partialMark =
      if (only.isDefined) ""","partial":true""" else ""
    // the JSON line is built twice from the SAME numbers: full
    // precision, with the per-query layer record, for the archive
    // file; 3-decimal and without it for the PRINTED line. A stdout
    // capture that keeps only a tail once truncated a 246-query
    // full-precision line (~14 KB), losing the sweep's per-query
    // table — 3 decimals (noise is ±10-20%, so nothing real lives
    // below a millisecond) halves the line and keeps it robustly
    // inside the capture window. Not a timing-methodology change: the
    // measured values are identical.
    def mkJson(fmt: Double => String, withLayers: Boolean): String = {
      val qs = results.map { case (k, r) => s"\"" + k + "\":" + fmt(r.seconds) }
        .mkString("{", ",", "}")
      val normMark = normalized.fold("") { n =>
        val ratios = canaryRatios
          .map { case (c, r) => s"\"" + c + "\":" + fmt(r) }
          .mkString("{", ",", "}")
        s""","total_normalized":${fmt(n)},"canary_ratios":$ratios"""
      }
      val adj = adjudicated.map { case (k, (s, i)) =>
        // a failed rerun serializes isolated:null — flagged-but-
        // unverifiable stays distinguishable from never-drifting
        val iso = i.fold("null")(r => fmt(r.seconds))
        s"\"" + k + s"""\":{"in_sweep":${fmt(s.seconds)},"isolated":$iso}"""
      }.mkString("{", ",", "}")
      val layerMark =
        if (!withLayers) ""
        else {
          val ls = results.map { case (k, r) =>
            val w = layers.work(r.tag)
            s"\"" + k + s"""\":{"construct_s":${fmt(r.constructS)},""" +
              s""""execute_s":${fmt(r.executeS)},"jobs":${w.jobs},""" +
              s""""stages":${w.stages},"tasks":${w.tasks},""" +
              s""""task_s":${fmt(w.taskMs / 1e3)},""" +
              s""""shuffle_write_bytes":${w.shuffleWriteBytes},""" +
              s""""spill_bytes":${w.spillBytes}}"""
          }.mkString("{", ",", "}")
          s""","untagged_jobs":${layers.untagged},"layers":$ls"""
        }
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec"$normMark,"queries":$qs,"failed":$fails,"adjudicated":$adj$partialMark,"sf":"$sfDir","cpus":$cpus,"default_parallelism":${sc.defaultParallelism}$layerMark}"""
    }
    val json = mkJson(_.toString, withLayers = true)
    // Locale.ROOT: a comma decimal separator would corrupt the JSON
    println(mkJson(v => String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v)), withLayers = false))
    // the driver's stdout capture keeps only a tail — at 100+ queries
    // that truncates the per-query map, so the full line ALSO lands in
    // a file the round archive picks up (cwd = the repo). A BENCH_ONLY-
    // filtered sweep ALWAYS writes to bench_partial.json —
    // SPARK_GRAFT_BENCH_OUT is honored only for full sweeps, otherwise
    // pointing it at the archive file (its historical default) would
    // overwrite a full measurement with a valid-looking partial one;
    // the JSON "partial" marker is the second line of defense. The
    // file is a convenience copy: any write failure (unwritable path,
    // malformed SPARK_GRAFT_BENCH_OUT) must not turn a completed sweep
    // (metric already printed) into a nonzero exit
    val outPath =
      if (only.isDefined) "bench_partial.json"
      else sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath),
      json + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write bench file: $e")
    }
    spark.stop()
  }

  /** Spark work per bench run, attributed through the job tag the run
    * sets. Threads a run creates (parEager pools, streaming query
    * threads) inherit a copy of its local properties, job tags among
    * them, and Spark's broadcast and subquery threads capture them, so
    * their jobs carry the run's tag too; a job without one is counted
    * in `untagged`. A stage is attributed through the properties of
    * the job that submitted it. The fields are written on the listener
    * bus thread and read after [[drain]]. */
  private final class Layers(sc: SparkContext) extends SparkListener {
    /** Counts and sums over a run's jobs and completed stages; spill
      * is what the tasks wrote to disk. */
    final class Work {
      var jobs, stages, tasks, taskMs, shuffleWriteBytes, spillBytes = 0L
    }
    private val byTag = scala.collection.concurrent.TrieMap.empty[String, Work]
    private val stageTags = mutable.HashMap.empty[Int, String]
    private val fenced = new CountDownLatch(1)
    @volatile var untagged = 0L

    /** The work recorded for `tag`; zero when it ran no Spark job. */
    def work(tag: String): Work = byTag.getOrElse(tag, new Work)

    private def tagOf(p: Properties): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
        .flatMap(_.split(",").find(_.startsWith(TagPrefix)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      tagOf(e.properties) match {
        case Some(FenceTag) => fenced.countDown()
        case Some(t) => byTag.getOrElseUpdate(t, new Work).jobs += 1
        case None => untagged += 1
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      tagOf(e.properties).filter(_ != FenceTag)
        .foreach(stageTags(e.stageInfo.stageId) = _)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (t <- stageTags.remove(si.stageId)) {
        val w = byTag.getOrElseUpdate(t, new Work)
        w.stages += 1
        w.tasks += si.numTasks
        Option(si.taskMetrics).foreach { m =>
          w.taskMs += m.executorRunTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.diskBytesSpilled
        }
      }
    }

    /** Run one fence job and wait until the listener has seen it: the
      * bus delivers events in order, so every earlier job's events have
      * been counted. False when the fence did not arrive in a minute. */
    def drain(): Boolean = {
      sc.addJobTag(FenceTag)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.removeJobTag(FenceTag)
      fenced.await(1, TimeUnit.MINUTES)
    }
  }
}
