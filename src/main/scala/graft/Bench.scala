package graft

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. An untimed warmup pass
  * runs first so the timed pass measures steady state — without it the
  * first query absorbs all JVM/codegen/parquet-footer warmup (~9 s)
  * and the per-query numbers are meaningless.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev knob: comma-separated query names to bench in isolation
    // (adjudicating one query's drift without 95 interleaved plans);
    // absent = the driver's full sweep, unchanged
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSeq)
    val selected = SparkEntry.select(only)
    val spark = GraftSession.build("32")
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def runAll(): Seq[(String, Double)] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // noop sink: materializes every output row (count() would let
        // Catalyst prune the projections and under-measure per-row work)
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => failed += name; () }
        name -> (System.nanoTime() - t0) / 1e9
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
        runAll().map { case (k, v) => k -> math.min(v, p1(k)) }
      }
    // AUTO-ADJUDICATION — the round-7 ABA protocol, mechanized (judge
    // r15 tasks 3+7). Some query bodies (try_-expression exception
    // paths above all) are pathologically sensitive to the 239-plan
    // JVM interleave: 3 rounds running, rel_try_errors read 4-9x its
    // isolated time in the full sweep and burned a manual re-run each
    // time. So: after the sweep, any query whose min exceeds 1.3x its
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
    // matches the floors' SF, degrade to no floors (ADVICE r16)
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
    val drifting = swept.flatMap { case (name, v) =>
      floors.get(name).collect {
        case f if v > 1.3 * f && v - f > 0.4 => (name, v, f)
      }
    }.sortBy { case (_, v, f) => f - v }.take(16)
    val adjudicated = drifting.map { case (name, inSweep, _) =>
      val fn = SparkEntry.queries(name)
      // an adjudication-only failure must NOT poison the record: the
      // query already succeeded in the sweep, so a rerun exception
      // reads as Double.MaxValue (min keeps the genuine sweep time,
      // never a fast-fail duration) and the name stays out of `failed`
      // (ADVICE r16)
      def once(): Double = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => Double.MaxValue }
      }
      name -> (inSweep, math.min(once(), once()))
    }.toMap
    adjudicated.foreach { case (name, (_, iso)) =>
      // both isolated reruns threw: keep the sweep number, but KEEP the
      // entry in the JSON with isolated:null — the machine-readable
      // record must show the query was flagged as drifting but
      // unverifiable, or downstream floor/drift tooling reads it as a
      // never-drifting query (ADVICE r17)
      if (iso == Double.MaxValue)
        System.err.println(s"[bench] adjudication rerun failed for $name; keeping in-sweep time")
    }
    val results = swept.map { case (k, v) =>
      k -> adjudicated.get(k)
        .fold(v) { case (_, iso) => math.min(v, iso) }
    }
    val total = results.map(_._2).sum
    // CANARY-NORMALIZED TOTAL (judge r16 task 4, widened per judge r17
    // task 2): the shared box's load swings totals 10-20%, so the raw
    // total needs a window estimate beside it. One scan+agg canary
    // over-corrected — r17's own sweeps swung normalized MORE than raw
    // because scan load doesn't track the shuffle-heavy tail — so the
    // window factor is now the MEDIAN floor-ratio over four fixed-plan
    // canaries spanning the sweep's plan shapes: scan+agg
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
        now <- results.collectFirst { case (k, v) if k == c => v }
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
    // failed queries are NAMED, not silently timed-to-exception — a
    // broken query must never read as a performance win
    val fails = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // a filtered run carries an explicit in-band marker so NOTHING
    // downstream can mistake it for a full sweep, wherever it lands
    val partialMark =
      if (only.isDefined) ""","partial":true""" else ""
    // the JSON line is built twice from the SAME numbers: full
    // precision for the archive file, 3-decimal for the PRINTED line.
    // The driver's stdout capture keeps only a tail, and r17's
    // 246-query full-precision line (~14 KB) was truncated there,
    // losing the round's per-query PERF table — 3 decimals (noise is
    // ±10-20%, so nothing real lives below a millisecond) halves the
    // line and keeps it robustly inside the capture window. Not a
    // timing-methodology change: the measured values are identical.
    def mkJson(fmt: Double => String): String = {
      val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
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
        val iso = if (i == Double.MaxValue) "null" else fmt(i)
        s"\"" + k + s"""\":{"in_sweep":${fmt(s)},"isolated":$iso}"""
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec"$normMark,"queries":$qs,"failed":$fails,"adjudicated":$adj$partialMark,"sf":"$sfDir"}"""
    }
    val json = mkJson(_.toString)
    // Locale.ROOT: a comma decimal separator would corrupt the JSON
    println(mkJson(v => String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v))))
    // the driver's stdout capture keeps only a tail — at 100+ queries
    // that truncates the per-query map, so the full line ALSO lands in
    // a file the round archive picks up (cwd = the repo). A BENCH_ONLY-
    // filtered sweep ALWAYS writes to bench_partial.json —
    // SPARK_GRAFT_BENCH_OUT is honored only for full sweeps, otherwise
    // pointing it at the archive file (its historical default) would
    // overwrite a full measurement with a valid-looking partial one
    // (ADVICE r9); the JSON "partial" marker is the second line of
    // defense. The file is a convenience copy: any write failure
    // (unwritable path, malformed SPARK_GRAFT_BENCH_OUT) must not turn
    // a completed sweep (metric already printed) into a nonzero exit
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
}
