package graft

import graft.operators.Relational
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("taggedKeyCounts: both legs sum to the row count, tags partition") {
    val df = Seq((1, 10), (1, 20), (2, 10)).toDF("a", "b")
    val out = Relational.taggedKeyCounts(df, "a", "ta", "b", "tb").collect()
    val byTag = out.groupBy(_.getString(2))
    assert(byTag.keySet === Set("ta", "tb"))
    byTag.values.foreach(rows => assert(rows.map(_.getLong(1)).sum === 3))
    assert(out.filter(r => r.getString(2) == "ta" && r.getLong(0) == 1L)
      .head.getLong(1) === 2)
  }

  /** The reference's batching primitive (producer/ProducerOperations
    * .scala:131-149): a global row_number over a total order, then a
    * range filter — single-partition at the window step, so it lives
    * here only as the parity reference for withScalableOrdinal. */
  private def ordinalSlice(df: DataFrame, orderCols: Seq[Column],
      start: Long, n: Long): DataFrame =
    df.withColumn("row_num", row_number().over(Window.orderBy(orderCols: _*)))
      .filter(col("row_num").between(start + 1, start + n))

  test("ordinalSlice and withScalableOrdinal assign identical ordinals") {
    val df = (1 to 97).map(i => (i * 37 % 101, i)).toDF("k", "id")
    val order = Seq(col("k"), col("id"))
    val a = ordinalSlice(df, order, 0, 1000)
      .select("id", "row_num").as[(Int, Int)].collect().toMap
    val b = Relational.withScalableOrdinal(df, order)
      .select("id", "row_num").as[(Int, Long)].collect().toMap
    assert(a.size === 97 && b.size === 97)
    a.foreach { case (id, rn) => assert(b(id) === rn.toLong, s"id=$id") }
  }

  test("withScalableOrdinal sorts once: no shuffle lineage, no input re-scans") {
    // accumulator-instrumented source: every pass over the input adds n.
    // Construction may read the input at most twice (orderBy's range-
    // bounds sampling + the one shuffle write) — the old formulation
    // ADDITIONALLY re-ran the reduce-side sort on every consumption.
    val acc = spark.sparkContext.longAccumulator("ordinal-input-scans")
    val base = spark.range(500).map { x => acc.add(1); x }.toDF("v")
    val out = Relational.withScalableOrdinal(base, Seq(col("v")))
    val constructionScans = acc.value
    assert(constructionScans <= 1000L, "construction: sampling + one sort")
    // checkpoint truncation is the single-sort proof: with no shuffle
    // dependency anywhere in the result's lineage, NO consumption can
    // re-execute the exchange or the reduce-side sort
    def hasShuffle(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
      rdd.dependencies.exists {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => true
        case d => hasShuffle(d.rdd)
      }
    assert(!hasShuffle(out.rdd))
    assert(out.count() === 500L)
    assert(out.filter(col("row_num") <= 10).count() === 10L)
    assert(acc.value === constructionScans, "consumptions re-scanned input")
  }

  test("batch slices are disjoint and cover all rows (parameter sweep)") {
    for (n <- Seq(1, 7, 23, 40); size <- Seq(1, 3, 10, 25)) {
      val df = (1 to n).map(i => (i * 13 % 17, i)).toDF("k", "id")
      val prepared =
        Relational.withScalableOrdinal(df, Seq(col("k"), col("id")))
      val batches = (0L to (n / size).toLong).map(b =>
        prepared.filter(col("row_num").between(b * size + 1, (b + 1) * size))
          .select("id").as[Int].collect().toSet)
      assert(batches.map(_.size).sum === n, s"n=$n size=$size")
      assert(batches.flatten.toSet.size === n, s"n=$n size=$size")
    }
  }

  test("asofJoin picks the latest right row at or before the left ts") {
    val left = Seq(
      (1L, 100L, ts("2024-01-10")),
      (2L, 777L, ts("2024-01-10"))  // no matching right rows
    ).toDF("id", "k", "ts")
    val right = Seq(
      (100L, ts("2024-01-01"), 11L),
      (100L, ts("2024-01-09"), 12L),
      (100L, ts("2024-01-11"), 13L), // after left ts: excluded
      (999L, ts("2024-01-09"), 14L)  // other key: excluded
    ).toDF("rk", "rts", "rid")
    val out = Relational.asofJoin(left, right,
      "id", "k", "ts", "rk", "rts", "rid")
      .select("id", "rid").as[(Long, Option[Long])].collect().toMap
    assert(out === Map(1L -> Some(12L), 2L -> None)) // unmatched -> null
  }

  test("asofJoin matches brute force on randomized data") {
    val rnd = new scala.util.Random(13)
    val left = (1 to 200).map(i =>
      (i.toLong, rnd.nextInt(10).toLong, ts(f"2024-01-${rnd.nextInt(28) + 1}%02d")))
      .toDF("id", "k", "ts")
    val right = (1 to 150).map(i =>
      (rnd.nextInt(10).toLong, ts(f"2024-01-${rnd.nextInt(28) + 1}%02d"), i.toLong))
      .toDF("rk", "rts", "rid")
    val out = Relational.asofJoin(left, right,
      "id", "k", "ts", "rk", "rts", "rid")
      .select("id", "rid").as[(Long, Option[Long])].collect().toMap
    val rights = right.as[(Long, java.sql.Timestamp, Long)].collect()
    val lefts = left.as[(Long, Long, java.sql.Timestamp)].collect()
    lefts.foreach { case (id, k, lts) =>
      val expected = rights
        .filter { case (rk, rts, _) => rk == k && !rts.after(lts) }
        .sortBy { case (_, rts, rid) => (rts.getTime, rid) }
        .lastOption.map(_._3)
      assert(out(id) === expected, s"left id=$id")
    }
  }

  test("sessionize splits on gaps > gapSeconds") {
    val e = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L),
      (1L, ts("2024-01-01 00:10:00"), 2L), // same session (600s gap)
      (1L, ts("2024-01-01 02:00:00"), 3L), // new session
      (2L, ts("2024-01-01 00:00:00"), 4L)
    ).toDF("user_id", "ts", "event_id")
    val out = Relational.sessionize(e, "user_id", "ts", "event_id", 1800)
      .orderBy("user_id", "session_seq")
      .select("user_id", "session_seq", "n_events")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("deterministicSplit: stable, covers all rows, respects boundaries") {
    val df = (1 to 500).map(_.toLong).toDF("id")
    val s1 = Relational.deterministicSplit(df, "id")
      .select("id", "split").as[(Long, String)].collect().toMap
    val s2 = Relational.deterministicSplit(df.repartition(7), "id")
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(s1 === s2) // reproducible across partitionings
    val counts = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    assert(counts.values.sum === 500)
  }

  test("deterministicSampleByKey: stable, rate-accurate, key-independent") {
    val df = (1 to 8000).map(i =>
      (i.toLong, if (i % 2 == 0) "hot" else "cold")).toDF("id", "k")
    def kept(fr: Map[String, Double]) =
      Relational.deterministicSampleByKey(df, "k", "id", fr)
        .select("id").as[Long].collect().toSet
    val a = kept(Map("hot" -> 0.25))
    // reruns are identical (hash, not random)
    assert(a === kept(Map("hot" -> 0.25)))
    // realized per-key rates near target; unlisted key untouched
    val hotKept = a.count(_ % 2 == 0) / 4000.0
    assert(math.abs(hotKept - 0.25) < 0.05)
    assert(a.count(_ % 2 == 1) === 4000)
    // a row's fate depends only on ITS id + ITS key's fraction: adding
    // another key's fraction never changes hot's selection
    val b = kept(Map("hot" -> 0.25, "cold" -> 0.5))
    assert(a.filter(_ % 2 == 0) === b.filter(_ % 2 == 0))
  }

  test("topKByCount returns k highest with deterministic ties") {
    val df = (1 to 10).flatMap(i => Seq.fill(i)(i)).toDF("k")
    val out = Relational.topKByCount(df, "k", 3)
      .select("k", "n").as[(Int, Long)].collect()
    assert(out.toSeq === Seq((10, 10L), (9, 9L), (8, 8L)))
  }

  test("capPerKey keeps the first n rows of each key in the given order") {
    val events = (1 to 20).map(i => (i.toLong, i % 3, i.toDouble))
      .toDF("id", "k", "v")
    val out = Relational.capPerKey(events, "k", Seq(col("id")), 2)
    assert(out.count() === 6L)
    assert(out.select("id", "rn").as[(Long, Long)].collect().toSet ===
      Set((3L, 1L), (6L, 2L), (1L, 1L), (4L, 2L), (2L, 1L), (5L, 2L)))
  }

  test("groupedQuantiles matches the built-in percentile() bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 400).map(i =>
      (if (i % 2 == 0) "a" else "b", rnd.nextDouble() * 100, rnd.nextInt(50).toDouble))
      .toDF("g", "x", "y")
    val ours = Relational.groupedQuantiles(df, "g",
      Seq(("x", 0.95, "p95_x"), ("y", 0.5, "med_y")))
      .select("g", "p95_x", "med_y").as[(String, Double, Double)]
      .collect().map { case (g, a, b) => g -> (a, b) }.toMap
    val builtin = df.groupBy(col("g"))
      .agg(expr("percentile(x, 0.95)").as("p"), expr("percentile(y, 0.5)").as("m"))
      .select("g", "p", "m").as[(String, Double, Double)]
      .collect().map { case (g, a, b) => g -> (a, b) }.toMap
    assert(ours === builtin) // exact equality, not approximate
  }

  test("groupedQuantiles reads its input exactly twice for two measures") {
    // accumulator-instrumented source: every pass over the input adds n.
    // Pass A's bracket aggregate and pass B's per-group counts are the
    // two scans; a DAG fork that re-scans the base (Spark reuses
    // nothing across plan branches unless exchange reuse fires) reads
    // as a third multiple of n.
    val n = 5000
    val acc = spark.sparkContext.longAccumulator("quantile-input-scans")
    val base = spark.range(n)
      .map { x => acc.add(1); ("g" + (x % 3), x.toDouble % 97) }
      .toDF("g", "x")
    Relational.groupedQuantiles(base, "g",
      Seq(("x", 0.5, "med"), ("x", 0.95, "p95"))).collect()
    assert(acc.value === 2L * n)
  }

  test("groupedQuantilesApprox: exact below the sketch accuracy") {
    // GK with accuracy > n is exact — on these 200-row groups the
    // sketch flavor must agree with the exact operator's values up to
    // interpolation (GK returns a SOURCE value; exact interpolates, so
    // compare against the built-in's bracketing source rows)
    val rnd = new scala.util.Random(11)
    val df = (1 to 400).map(i =>
      (if (i % 2 == 0) "a" else "b", rnd.nextDouble() * 100))
      .toDF("g", "x")
    val approx = Relational.groupedQuantilesApprox(df, "g",
        Seq(("x", 0.5, "med"), ("x", 0.95, "p95")))
      .select("g", "med", "p95").as[(String, Double, Double)]
      .collect().map { case (g, a, b) => g -> (a, b) }.toMap
    val vals = df.as[(String, Double)].collect()
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).sorted }
    approx.foreach { case (g, (med, p95)) =>
      val v = vals(g); val n = v.length
      def bracket(p: Double): (Double, Double) = {
        val r = p * (n - 1)
        (v(r.floor.toInt), v(r.ceil.toInt))
      }
      val (ml, mh) = bracket(0.5); val (pl, ph) = bracket(0.95)
      assert(med >= ml && med <= mh, s"median at $g")
      assert(p95 >= pl && p95 <= ph, s"p95 at $g")
    }
  }

  test("groupedQuantiles sweep: sizes x percentiles x ties match percentile()") {
    val rnd = new scala.util.Random(11)
    // n spans both quantile paths: whole-group fallback (group < 400
    // rows) and the approx-bracket path (groups of ~600 and ~1300);
    // nulls must be ignored exactly as percentile() ignores them
    for (n <- Seq(1, 2, 3, 10, 101, 901, 2001); ties <- Seq(false, true)) {
      val df = (1 to n).map { i =>
        val v: java.lang.Double =
          if (i % 11 == 0 && n > 3) null
          else if (ties) (i % 5).toDouble
          else rnd.nextDouble() * 1000 - 500
        (if (i % 3 == 0) "a" else "b", v)
      }.toDF("g", "x")
      val ps = Seq(0.0, 0.005, 0.5, 0.95, 0.995, 1.0)
      val measures = ps.zipWithIndex.map { case (p, i) => ("x", p, s"q$i") }
      val ours = Relational.groupedQuantiles(df, "g", measures)
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      val builtin = df.groupBy(col("g"))
        .agg(expr(s"percentile(x, ${ps.head})"),
          ps.tail.map(p => expr(s"percentile(x, $p)")): _*)
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      assert(ours === builtin, s"n=$n ties=$ties")
    }
  }

  test("bloomSemiJoin equals the plain semi join (exact despite the bloom)") {
    val left = (1 to 300).map(_.toLong).toDF("k")
    val right = (1 to 300 by 3).map(_.toLong).toDF("rk")
    val ours = Relational.bloomSemiJoin(left, right, "k", "rk", 200L, 4096L)
      .as[Long].collect().toSet
    val plain = left.join(right, col("k") === col("rk"), "left_semi")
      .as[Long].collect().toSet
    assert(ours === plain)
  }

  test("groupedQuantiles keeps null-keyed and all-null-value groups") {
    val df = Seq(
      (Some("a"), Some(1.0)), (Some("a"), Some(3.0)),
      (None, Some(5.0)), (None, Some(7.0)),     // null group key
      (Some("b"), None), (Some("b"), None)      // all-null values
    ).toDF("g", "x")
    val ours = Relational.groupedQuantiles(df, "g", Seq(("x", 0.5, "med")))
      .collect().map(r => Option(r.getString(0)) ->
        Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    val builtin = df.groupBy(col("g")).agg(expr("percentile(x, 0.5)").as("m"))
      .collect().map(r => Option(r.getString(0)) ->
        Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(ours === builtin)
    assert(ours(None) === Some(6.0) && ours(Some("b")) === None)
  }

  test("groupedQuantiles: massive-duplicate group matches percentile()") {
    // a hot group whose values are 99% one duplicate — the distinct-
    // value collapse must keep state tiny AND land the quantile on the
    // correct side of the duplicate run (rank-range arithmetic over
    // counted values, not positions in a materialized array)
    val rows = (1 to 5000).map(i => ("hot", 42.0)) ++
      (1 to 25).map(i => ("hot", i.toDouble)) ++
      (1 to 30).map(i => ("cold", i.toDouble))
    val df = rows.toDF("g", "x")
    for (p <- Seq(0.004, 0.01, 0.5, 0.95, 0.999)) {
      val ours = Relational.groupedQuantiles(df, "g", Seq(("x", p, "q")))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val builtin = df.groupBy(col("g"))
        .agg(expr(s"percentile(x, $p)").as("q"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(ours === builtin, s"p=$p")
    }
  }

  test("winsorize keeps rows whose group key is null") {
    val df = Seq((Some("a"), 1.0), (Some("a"), 9.0), (None, 5.0), (None, 6.0))
      .toDF("g", "x")
    val out = Relational.winsorize(df, "g", "x", 0.0, 1.0)
    assert(out.count() === 4L)
  }

  test("saltedDistinctCount equals exact countDistinct under skew") {
    val rnd = new scala.util.Random(3)
    val df = (1 to 5000).map { i =>
      val k = if (i % 10 == 0) "cold" + (i % 7) else "hot" // 90% one key
      (k, rnd.nextInt(800))
    }.toDF("k", "v")
    val salted = Relational.saltedDistinctCount(df, "k", "v", 16)
      .as[(String, Long)].collect().toMap
    val exact = df.groupBy(col("k"))
      .agg(countDistinct(col("v")).as("n")).as[(String, Long)]
      .collect().toMap
    assert(salted === exact)
  }

  test("winsorize clips to the exact group quantiles, keeps all rows") {
    val rnd = new scala.util.Random(5)
    val df = (1 to 1000).map(i =>
      (if (i % 2 == 0) "a" else "b", rnd.nextDouble() * 100)).toDF("g", "x")
    val out = Relational.winsorize(df, "g", "x", 0.05, 0.95)
    assert(out.count() === 1000L)
    val bounds = Relational.groupedQuantiles(df, "g",
      Seq(("x", 0.05, "lo"), ("x", 0.95, "hi")))
      .as[(String, Double, Double)].collect()
      .map { case (g, lo, hi) => g -> (lo, hi) }.toMap
    out.select("g", "x_clipped").as[(String, Double)].collect()
      .foreach { case (g, v) =>
        assert(v >= bounds(g)._1 && v <= bounds(g)._2, s"$g $v")
      }
  }

  test("selectPresent keeps requested order, skips absent columns") {
    val df = Seq((1, "a", 2.0)).toDF("x", "y", "z")
    assert(Relational.selectPresent(df, Seq("z", "missing", "x"))
      .columns.toSeq === Seq("z", "x"))
  }

  test("saltedJoin equals the plain join on skewed data") {
    val left = ((1 to 900).map(_ => 7L) ++ (1 to 100).map(_.toLong))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "id")
    val right = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("rk", "name")
    val salted = Relational.saltedJoin(left, right, "k", "rk",
        saltBy = col("id"), salt = 8)
      .select("id", "name").as[(Long, String)].collect().toSet
    val plain = left.join(right, col("k") === col("rk"))
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(salted === plain && plain.nonEmpty)
  }

  test("hll sketches estimate within 2% and merge without rescan") {
    val df = (1 to 20000).map(i => (if (i % 2 == 0) "a" else "b", i % 5000))
      .toDF("g", "v")
    val sk = Relational.hllSketches(df, "g", "v")
    val est = sk.select("g", "estimate").as[(String, Double)].collect().toMap
    // per group: evens 2500 distinct, odds 2500 distinct
    assert(math.abs(est("a") - 2500) / 2500.0 < 0.02, est("a"))
    assert(math.abs(est("b") - 2500) / 2500.0 < 0.02, est("b"))
    val merged = Relational.hllMergedEstimate(sk).as[Double].head()
    assert(math.abs(merged - 5000) / 5000.0 < 0.02, merged)
  }

  test("resampleFfill (avg) agrees with the portable fold within 1e-9") {
    // the scale default (algebraic avg, bounded slot state) and the
    // oracle flavor (ordered fold, bit-exact) differ only by summation
    // order — on a hot-slot workload the grids and means must coincide
    val rnd = new scala.util.Random(11)
    val rows = (1 to 3000).map { i =>
      val key = "k" + (i % 5)
      // 10 coarse slots, one of them hot (half of all events)
      val slotIdx = if (i % 2 == 0) 3 else rnd.nextInt(10)
      val sec = slotIdx * 3600L + rnd.nextInt(3600)
      (key, ts("2024-01-01 00:00:00").toLocalDateTime
        .plusSeconds(sec).toString.replace('T', ' '), i.toLong,
        rnd.nextDouble() * 100 - 50)
    }
    val df = rows.toDF("user_id", "tss", "event_id", "value")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    val a = Relational.resampleFfill(df, "user_id", "ts", "value", 3600L)
      .select("user_id", "slot_ts", "v_ffill")
      .as[(String, String, Double)].collect()
      .map { case (k, s, v) => (k, s) -> v }.toMap
    val b = Relational.resampleFfillPortable(df, "user_id", "ts",
        "event_id", "value", 3600L)
      .select("user_id", "slot_ts", "v_ffill")
      .as[(String, String, Double)].collect()
      .map { case (k, s, v) => (k, s) -> v }.toMap
    assert(a.keySet === b.keySet && a.nonEmpty)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-9, s"at $k") }
  }

  test("histogram: bins, clamped top edge, explicit under/overflow") {
    val df = Seq(-5.0, 0.0, 0.5, 9.99999999, 10.0, 25.0, 99.9, 100.0, 123.0)
      .map(Tuple1(_)).toDF("v")
      .union(Seq(Tuple1(null.asInstanceOf[java.lang.Double]))
        .toDF("v").select(col("v").cast("double")))
    val out = Relational.histogram(df, "v", 0.0, 100.0, 10)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), r.getLong(3)))).toMap
    assert(out(-1L) === ((None, None, 1L)))           // -5.0
    assert(out(0L) === ((Some(0.0), Some(10.0), 3L))) // 0, 0.5, 9.99…
    assert(out(1L) === ((Some(10.0), Some(20.0), 1L)))
    assert(out(2L) === ((Some(20.0), Some(30.0), 1L)))
    assert(out(9L) === ((Some(90.0), Some(100.0), 1L))) // 99.9
    assert(out(10L) === ((None, None, 2L)))           // 100.0, 123.0
    assert(out.values.map(_._3).sum === 9L)           // null excluded
  }

  test("zscoreOutliers flags tails, degenerate groups stay quiet") {
    val df = (Seq.fill(20)(10.0) ++ Seq(10.5, 9.5, 100.0)).map(("a", _))
      .++(Seq(("b", 5.0), ("b", 5.0), ("c", 1.0))) // sd=0 and singleton
      .toDF("g", "v")
    val out = Relational.zscoreOutliers(df, "g", "v", 3.0)
    val flagged = out.filter(col("is_outlier"))
      .select("g", "v").as[(String, Double)].collect().toSet
    assert(flagged === Set(("a", 100.0)))
    assert(out.filter(col("g") =!= "a").filter(col("z").isNotNull)
      .count() === 0L)
    assert(out.count() === 26L) // flagging, not filtering
  }

  test("zscoreOutliers (algebraic) agrees with the portable fold 1e-9") {
    val rnd = new scala.util.Random(23)
    val df = (1 to 4000).map(i =>
      ("g" + i % 3, rnd.nextDouble() * 100 - 50)).toDF("g", "v")
    def zs(d: org.apache.spark.sql.DataFrame) =
      d.select("g", "v", "z").as[(String, Double, Double)]
        .collect().map { case (g, v, z) => (g, v) -> z }.toMap
    val a = zs(Relational.zscoreOutliers(df, "g", "v", 2.0))
    val b = zs(Relational.zscoreOutliersPortable(df, "g", "v", 2.0))
    assert(a.keySet === b.keySet && a.nonEmpty)
    a.foreach { case (k, z) => assert(math.abs(z - b(k)) < 1e-9, s"at $k") }
  }

  test("profile counts rows, nulls and exact distincts per column") {
    val df = Seq(
      (Some(1L), Some("a"), Some(1.5)),
      (Some(2L), Some("a"), None),
      (Some(2L), None, Some(2.5)),
      (None, Some("b"), Some(1.5))
    ).toDF("id", "s", "v")
    val out = Relational.profile(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("id") === ((4L, 1L, 2L)))
    assert(out("s") === ((4L, 1L, 2L)))
    assert(out("v") === ((4L, 1L, 2L)))
  }

  test("profileApprox: same rows/nulls, distinct within the sketch bound") {
    // cardinalities from 1 (constant) to n (unique key) — the unique
    // column is exactly the case where the exact flavor's distinct
    // shuffle melts at scale and the sketch must stand in
    val n = 5000
    val df = (1 to n).map(i =>
      (i.toLong, s"u${i % 37}", if (i % 10 == 0) None else Some("k")))
      .toDF("id", "u", "c")
    val exact = Relational.profile(df, Seq("id", "u", "c"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val approx = Relational.profileApprox(df, Seq("id", "u", "c"), rsd = 0.02)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (c, (rows, nulls, dist)) =>
      val (eRows, eNulls, eDist) = exact(c)
      assert(rows === eRows && nulls === eNulls, s"counts at $c")
      // HLL++ rsd=0.02: allow 5 relative sigma (and an absolute floor
      // of 1 for the tiny-cardinality columns, where the sketch is
      // exact anyway)
      val tol = math.max(1.0, 5 * 0.02 * eDist)
      assert(math.abs(dist - eDist) <= tol,
        s"distinct at $c: approx $dist vs exact $eDist")
    }
  }

  test("trainingOrder: a total permutation, stable under repartitioning") {
    val df = (1 to 500).map(i => (i.toLong, s"payload$i")).toDF("id", "p")
    val once = Relational.trainingOrder(df, "id", "epoch0")
      .select("id", "shuffle_rank").as[(Long, Long)].collect().toMap
    assert(once.values.toSeq.sorted === (1L to 500L))
    val again = Relational.trainingOrder(df.repartition(13), "id", "epoch0")
      .select("id", "shuffle_rank").as[(Long, Long)].collect().toMap
    assert(again === once)
    val reseeded = Relational.trainingOrder(df, "id", "epoch1")
      .select("id", "shuffle_rank").as[(Long, Long)].collect().toMap
    assert(reseeded !== once)
    // a hash order, not the input order
    assert(once.toSeq.sortBy(_._2).map(_._1) !== (1L to 500L).toSeq)
  }

  test("heavyHitters equals the exact groupBy answer; capture bound holds") {
    import spark.implicits._
    // 2 heavy keys + 100 singletons: singleton buckets (counts 1-4)
    // must be dropped by the prefilter, never a heavy key's bucket
    val rows = Seq.fill(40)("hot1") ++ Seq.fill(25)("hot2") ++
      (1 to 100).map(i => s"cold$i")
    val df = rows.toDF("k").repartition(7)
    val out = Relational.heavyHitters(df, "k", minCount = 20, nBuckets = 64)
      .select("key", "n_exact", "within_bound")
      .as[(String, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(out.map(r => (r._1, r._2)) === Seq(("hot1", 40L), ("hot2", 25L)))
    assert(out.forall(_._3), "capture invariant bucket_n >= n_exact broken")
    // the prefilter is NON-vacuous on this layout: the bucket pass
    // must admit strictly fewer rows than the corpus
    val buckets = df.select(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.conv(
            org.apache.spark.sql.functions.substring(
              org.apache.spark.sql.functions.md5(col("k")), 1, 15),
            16, 10).cast("long"), lit(64L)).as("b"))
      .groupBy("b").count().filter(col("count") >= 20).count()
    assert(buckets < 64, "every bucket heavy — prefilter vacuous")
  }

  test("heavyHittersSketch brackets every true count; heavy keys survive") {
    import spark.implicits._
    val rows = Seq.fill(1000)("h1") ++ Seq.fill(500)("h2") ++
      (1 to 800).map(i => s"noise$i")
    val df = rows.toDF("k").repartition(7)
    val exact = df.groupBy("k").count().as[(String, Long)].collect().toMap
    val total = rows.size.toLong
    val cap = 10
    val sk = Relational.heavyHittersSketch(df, "k", cap)
      .as[(String, Long, Long)].collect()
    val est = sk.map(r => r._1 -> ((r._2, r._3))).toMap
    // bracket: n_est <= true <= n_max for every emitted key
    sk.foreach { case (k, nEst, nMax) =>
      assert(nEst <= exact(k) && exact(k) <= nMax,
        s"$k: [$nEst, $nMax] misses true ${exact(k)}")
    }
    // completeness: ΣD_p <= N/(capacity+1); any key above that bound
    // cannot have been evicted everywhere
    val maxUnder = sk.head._3 - sk.head._2
    assert(maxUnder <= total / (cap + 1))
    exact.filter(_._2 > maxUnder).keys.foreach(k =>
      assert(est.contains(k), s"guaranteed-present key $k missing"))
    assert(est.contains("h1") && est.contains("h2"))
  }

  test("mergeHitterSummaries of per-batch summaries == batch sketch, " +
      "layout pinned, eviction exercised") {
    import spark.implicits._
    // two single-partition arrival sets; capacity small enough that
    // both runs genuinely evict (decr > 0), so equality is not the
    // trivial exact-count case
    val batchA = (Seq.fill(40)("h1") ++ (1 to 30).map(i => s"a$i"))
      .toDF("k").coalesce(1)
    val batchB = (Seq.fill(25)("h2") ++ Seq.fill(10)("h1") ++
      (1 to 30).map(i => s"b$i")).toDF("k").coalesce(1)
    val cap = 5
    val streamed = Relational.hitterSummariesResult(
      Relational.mergeHitterSummaries(
        Relational.heavyHitterSummaries(batchA, "k", cap),
        Relational.heavyHitterSummaries(batchB, "k", cap)))
      .as[(String, Long, Long)].collect().toSet
    // union of two coalesce(1) frames keeps them as two partitions in
    // arrival order — the exact layout the per-batch runs saw
    val batch = Relational.heavyHittersSketch(
        batchA.union(batchB), "k", cap)
      .as[(String, Long, Long)].collect().toSet
    assert(streamed === batch)
    // the equality must not be vacuous: eviction really happened
    assert(streamed.head._3 > streamed.head._2,
      "no eviction — capacity too high for this corpus")
  }

  test("heavyHitterSummaries excludes null keys explicitly — no " +
      "decr-row conflation") {
    import spark.implicits._
    val df = (Seq.fill(50)(Some("h")) ++ Seq.fill(200)(None) ++
      (1 to 10).map(i => Some(s"x$i"))).toDF("k")
    val s = Relational.heavyHitterSummaries(df, "k", 4).collect()
    // null-key rows in the summary are ONLY decrement rows (est 0) —
    // a null input key never becomes a counter row whose count would
    // vanish from both the estimates and the bound
    assert(s.filter(_.isNullAt(0)).forall(_.getLong(1) === 0L))
    val res = Relational.hitterSummariesResult(
        Relational.normalizeHitterSummaries(
          spark.createDataFrame(spark.sparkContext.parallelize(s.toSeq),
            Relational.heavyHitterSummaries(df, "k", 4).schema)))
      .as[(String, Long, Long)].collect()
    // the non-null bracket is unaffected by the 200 null rows
    val h = res.find(_._1 == "h").get
    assert(h._2 <= 50L && 50L <= h._3)
  }

  test("compactHitterSummaries re-bounds state; bracket and " +
      "completeness survive compaction") {
    import spark.implicits._
    val rows = Seq.fill(300)("h1") ++ Seq.fill(150)("h2") ++
      (1 to 400).map(i => s"noise$i")
    val df = rows.toDF("k").repartition(5)
    val exact = df.groupBy("k").count().as[(String, Long)].collect().toMap
    val cap = 8
    val compacted = Relational.compactHitterSummaries(
      Relational.heavyHitterSummaries(df, "k", cap), cap)
    // bounded: at most capacity counter rows + the one decr row
    val stateRows = compacted.collect()
    assert(stateRows.count(r => !r.isNullAt(0)) <= cap)
    assert(stateRows.count(r => r.isNullAt(0)) === 1)
    val res = Relational.hitterSummariesResult(compacted)
      .as[(String, Long, Long)].collect()
    val present = res.map(_._1).toSet
    res.foreach { case (k, nEst, nMax) =>
      assert(nEst <= exact(k) && exact(k) <= nMax,
        s"$k: [$nEst, $nMax] misses true ${exact(k)}")
    }
    // completeness: any key truer than the widened slack is present
    val maxUnder = res.head._3 - res.head._2
    exact.filter(_._2 > maxUnder).keys.foreach(k =>
      assert(present.contains(k), s"guaranteed-present key $k missing"))
    assert(present.contains("h1"))
  }

  test("entityTemporalSplit: whole-entity assignment by FIRST event, " +
      "embargo bucket, gapless split leaves embargo empty") {
    import spark.implicits._
    val df = Seq(
      // user 1 first-seen day 1 but ALSO active day 9 — stays train whole
      (1L, ts("2024-01-01"), 1L), (1L, ts("2024-01-09"), 2L),
      // user 2 first-seen inside the gap
      (2L, ts("2024-01-04"), 3L),
      // user 3 first-seen exactly at testStart (>= boundary -> test)
      (3L, ts("2024-01-05"), 4L), (3L, ts("2024-01-06"), 5L),
      // user 4 first-seen exactly at trainEnd -> embargo (not < bound)
      (4L, ts("2024-01-03"), 6L))
      .toDF("user_id", "ts", "event_id")
    val out = Relational.entityTemporalSplit(df, "user_id", "ts",
      "2024-01-03 00:00:00", "2024-01-05 00:00:00")
    val byUser = out.select(col("user_id"), col("split")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // exactly one split per user (the no-leak invariant)
    assert(byUser.map(_._1).distinct.length == byUser.length)
    val m = byUser.toMap
    assert(m == Map(1L -> "train", 2L -> "embargo", 3L -> "test",
      4L -> "embargo"))
    // every ROW of a user carries the user's split (day-9 row included)
    assert(out.filter(col("user_id") === 1L && col("split") =!= "train")
      .count() == 0)
    // gapless: trainEnd == testStart -> embargo exactly empty
    val gapless = Relational.entityTemporalSplit(df, "user_id", "ts",
      "2024-01-05 00:00:00", "2024-01-05 00:00:00")
    assert(gapless.filter(col("split") === "embargo").count() == 0)
    intercept[IllegalArgumentException](
      Relational.entityTemporalSplit(df, "user_id", "ts",
        "2024-01-06 00:00:00", "2024-01-05 00:00:00"))
  }

  test("madOutliers: robust to the outlier itself, exact medians, " +
      "all-equal group flags any deviation, threshold exclusive") {
    import spark.implicits._
    // group a: median 3, MAD 1 (|1,2,3,4,100|-3 -> 2,1,0,1,97)
    val df = Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0), ("a", 4L, 4.0),
      ("a", 5L, 100.0),
      // group b: all equal -> MAD 0, the off row flags at any k
      ("b", 6L, 7.0), ("b", 7L, 7.0), ("b", 8L, 7.0), ("b", 9L, 7.1))
      .toDF("g", "id", "v")
    val out = Relational.madOutliers(df, "g", "id", "v", k = 3.0)
      .collect().map(r => (r.getLong(1),
        (r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // the 100 outlier did NOT drag the median (3) or MAD (1):
    // a z-score over this group (mean 22, huge σ) would flag nothing
    assert(out.keySet == Set(5L, 9L))
    assert(out(5L) == ((3.0, 1.0, 97.0)))
    assert(out(9L)._2 == 0.0 && out(9L)._3 == 0.1)
    // rows AT k·MAD exactly do not flag (strict >): {1,2,3} has
    // med 2, MAD 1 — at k = 1 the extremes sit exactly on the bound
    val boundary = Relational.madOutliers(
      Seq(("c", 10L, 1.0), ("c", 11L, 2.0), ("c", 12L, 3.0))
        .toDF("g", "id", "v"), "g", "id", "v", 1.0)
    assert(boundary.count() == 0)
    intercept[IllegalArgumentException](
      Relational.madOutliers(df, "g", "id", "v", 0.0))
  }

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(if (s.length == 10) s + " 00:00:00" else s)
}
