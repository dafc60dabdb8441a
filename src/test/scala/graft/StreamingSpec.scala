package graft

import graft.operators.{Packing, Relational, TextAnalysis}
import graft.streaming.{StatefulSessions, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{array, array_join, coalesce, col,
  collect_set, concat_ws, sort_array, split, when}
import java.sql.Timestamp

case class TestEvt(user_id: Long, ts: Timestamp, event_type: String,
    value: Double)

case class TestDoc(doc_id: Long, ts: Timestamp, text: String)

case class TestVec(vec_id: Long, ts: Timestamp, embedding: Array[Float])

case class TestSrcDoc(doc_id: Long, ts: Timestamp, source: String,
    text: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private var n = 0
  private def fresh(): String = { n += 1; s"graft_stream_spec_$n" }

  test("tumblingCounts aggregates into event-time windows") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TestEvt]
    val out = StreamOps.tumblingCounts(in.toDF(), "ts", "1 hour",
      "event_type", "10 minutes")
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    in.addData(
      TestEvt(1, ts("2024-01-01 00:05:00"), "click", 1.0),
      TestEvt(2, ts("2024-01-01 00:55:00"), "click", 1.0),
      TestEvt(3, ts("2024-01-01 01:05:00"), "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select("window_start", "event_type", "n_events")
      .as[(Timestamp, String, Long)].collect().toSet
    assert(rows === Set(
      (ts("2024-01-01 00:00:00"), "click", 2L),
      (ts("2024-01-01 01:00:00"), "view", 1L)))
  }

  test("enrichWithDim joins each micro-batch against the static dim") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TestEvt]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val out = StreamOps.enrichWithDim(in.toDF(), dim, "user_id")
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(
      TestEvt(1, ts("2024-01-01 00:00:00"), "click", 1.0),
      TestEvt(3, ts("2024-01-01 00:01:00"), "view", 2.0)) // no dim row
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).select("user_id", "tier")
      .as[(Long, Option[String])].collect().toSet
    assert(rows === Set((1L, Some("gold")), (3L, None)))
  }

  test("runningCounts keeps per-key totals across micro-batches") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TestEvt]
    val out = StreamOps.runningCounts(in.toDF(), "user_id", "value")
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    in.addData(TestEvt(1, ts("2024-01-01 00:00:00"), "click", 1.5),
      TestEvt(2, ts("2024-01-01 00:00:00"), "view", 10.0))
    q.processAllAvailable()
    in.addData(TestEvt(1, ts("2024-01-01 00:10:00"), "view", 2.5))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    // state carried across batches; a key the second batch misses keeps
    // its totals
    assert(rows === Set((1L, 2L, 4.0), (2L, 1L, 10.0)))
  }

  test("dedupWithinWatermark drops in-horizon duplicates") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TestEvt]
    val out = StreamOps.dedupWithinWatermark(in.toDF(), "ts",
      Seq("user_id", "event_type"), "1 hour")
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(
      TestEvt(1, ts("2024-01-01 00:00:00"), "click", 1.0),
      TestEvt(1, ts("2024-01-01 00:10:00"), "click", 2.0), // dup key in horizon
      TestEvt(1, ts("2024-01-01 00:20:00"), "view", 3.0))
    q.processAllAvailable()
    q.stop()
    assert(spark.table(name).count() === 2L)
  }

  test("sessionWindows emits a key's session once the watermark passes " +
      "its end, splitting on the gap") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TestEvt]
    val out = StreamOps.sessionWindows(in.toDF(), "ts", "user_id",
      "10 minutes", "0 seconds")
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    def rows(): Set[(Timestamp, Timestamp, Long, Long)] =
      spark.table(name)
        .select("session_start", "session_end", "user_id", "n_events")
        .as[(Timestamp, Timestamp, Long, Long)].collect().toSet
    in.addData(
      TestEvt(1, ts("2024-01-01 00:00:00"), "click", 1.0),
      TestEvt(1, ts("2024-01-01 00:05:00"), "click", 1.0),
      TestEvt(2, ts("2024-01-01 00:02:00"), "view", 1.0))
    q.processAllAvailable()
    assert(rows() === Set.empty) // watermark 00:05: both sessions open
    // 25 min after user 1's last event: a new session for user 1, and
    // the watermark (00:30) passes both first sessions' ends
    in.addData(TestEvt(1, ts("2024-01-01 00:30:00"), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    assert(rows() === Set(
      (ts("2024-01-01 00:00:00"), ts("2024-01-01 00:15:00"), 1L, 2L),
      (ts("2024-01-01 00:02:00"), ts("2024-01-01 00:12:00"), 2L, 1L)))
  }

  test("nearDupDedup drops reformatted content by signature, keeps first") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TestDoc]
    val out = StreamOps.nearDupDedupWithinWatermark(in.toDF(), "ts",
      "text", "1 hour")
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(
      TestDoc(1, ts("2024-01-01 00:00:00"),
        "the quick brown fox jumps over the lazy dog"),
      // token-multiset-identical re-post: case + whitespace differ,
      // bytes differ, signature identical → dropped
      TestDoc(2, ts("2024-01-01 00:05:00"),
        "  The  Quick   brown fox JUMPS over the lazy dog "),
      TestDoc(3, ts("2024-01-01 00:10:00"),
        "completely different content about spark engines here"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table(name).select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L))
    // the survivor carries its signature column for downstream joins
    assert(spark.table(name).columns.contains("simhash"))
  }

  test("per-row curation ops apply to a stream unchanged (gopher gate)") {
    implicit val ctx = spark.sqlContext
    // gopherRules is a pure expression tree, so the SAME operator that
    // gates batches gates a stream — no streaming flavor needed
    val in = MemoryStream[TestDoc]
    val out = graft.operators.TextAnalysis.gopherRules(in.toDF(),
      "doc_id", "text", minWords = 4, maxWords = 100,
      minMeanWordLen = 2.0, maxMeanWordLen = 10.0,
      maxSymbolRatio = 0.5, minStopwords = 1)
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(
      TestDoc(1, ts("2024-01-01 00:00:00"),
        "the quick brown fox jumps over it"),
      TestDoc(2, ts("2024-01-01 00:01:00"), "too short"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).select("doc_id", "keep")
      .as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> false))
  }

  test("streaming self-info against a frozen model equals batch scoring") {
    implicit val ctx = spark.sqlContext
    import graft.operators.TextAnalysis
    val corpus = Seq(
      (1L, "the the the quick brown fox fox"),
      (2L, "the lazy dog sleeps while the fox runs"),
      (3L, "entirely different words about engines")
    ).toDF("doc_id", "text")
    val model = TextAnalysis.selfInfoModel(corpus, "text")
    val arrivals = Seq(
      TestDoc(10, ts("2024-01-01 00:00:00"), "the quick fox"),
      TestDoc(20, ts("2024-01-01 00:01:00"), "lazy dog engines oovtoken"))
    val in = MemoryStream[TestDoc]
    val out = StreamOps.selfInfoWithinWindow(in.toDF(), model,
      "doc_id", "text", "ts", "10 minutes", "1 hour")
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    in.addData(arrivals: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name)
      .select("doc_id", "n_tokens", "self_info")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = TextAnalysis.scoreAgainstModel(
        arrivals.toDF().select(col("doc_id"), col("text")),
        model, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === batch.keySet && got.keySet === Set(10L, 20L))
    got.foreach { case (id, (n, s)) =>
      assert(n === batch(id)._1, s"n_tokens at $id")
      assert(math.abs(s - batch(id)._2) <= 1.01e-4, s"score at $id")
    }
    // OOV token skipped: doc 20 has 4 words, 3 in-vocabulary
    assert(got(20L)._1 === 3L)
  }

  test("streaming bigram self-info against a frozen model equals batch") {
    implicit val ctx = spark.sqlContext
    import graft.operators.TextAnalysis
    val corpus = Seq(
      (1L, "the quick fox the quick fox the quick fox"),
      (2L, "the lazy dog sleeps while the fox rests"))
      .toDF("doc_id", "text")
    val model = TextAnalysis.selfInfoBigramModel(corpus, "text")
    val arrivals = Seq(
      TestDoc(10, ts("2024-01-01 00:00:00"), "the quick fox runs"),
      TestDoc(20, ts("2024-01-01 00:01:00"), "single"))  // <2 tokens
    val in = MemoryStream[TestDoc]
    val out = StreamOps.selfInfoBigramWithinWindow(in.toDF(), model,
      "doc_id", "text", "ts", "10 minutes", "1 hour")
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    in.addData(arrivals: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name)
      .select("doc_id", "n_bigrams", "self_info2")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = TextAnalysis.scoreAgainstBigramModel(
        arrivals.toDF().select(col("doc_id"), col("text")),
        model, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 20 emits nothing on both sides; (fox, runs) is out-of-model
    // so doc 10 scores over its in-model pairs only
    assert(got.keySet === batch.keySet && got.keySet === Set(10L))
    assert(got(10L)._1 === batch(10L)._1 && got(10L)._1 === 2L)
    assert(math.abs(got(10L)._2 - batch(10L)._2) <= 1.01e-4)
  }

  test("incrementalNearDupFlags probes a static index per micro-batch") {
    implicit val ctx = spark.sqlContext
    // corpus indexed ONCE (batch); arrivals probe it stream-static
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content about spark engines here now"))
      .toDF("doc_id", "text")
    val index = graft.operators.Dedup
      .simhashBandIndex(corpus, "doc_id", "text")
    val in = MemoryStream[TestDoc]
    val out = StreamOps.incrementalNearDupFlags(in.toDF(), index,
      "doc_id", "text", "ts", "1 hour")
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(
      // reformatted re-post of corpus doc 1 → flagged (signature match)
      TestDoc(10, ts("2024-01-01 00:00:00"),
        "  THE  quick brown fox JUMPS over the lazy dog tonight "),
      // novel content → not emitted (inner-join semantics)
      TestDoc(20, ts("2024-01-01 00:05:00"),
        "entirely unrelated words describing database internals deeply"))
    q.processAllAvailable()
    q.stop()
    val flags = spark.table(name)
      .select("new_id", "dup_of", "hamming_dist")
      .as[(Long, Long, Long)].collect().toSet
    // one flag row despite the match appearing in all 10 band tables —
    // the within-watermark dedup collapsed them
    assert(flags === Set((10L, 1L, 0L)))
  }

  test("incrementalExactDupFlags probes the fingerprint index statelessly") {
    implicit val ctx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content about spark engines here now"))
      .toDF("doc_id", "text")
    val index = graft.operators.Dedup.exactDupGroups(corpus, "doc_id", "text")
    val in = MemoryStream[TestDoc]
    val out = StreamOps.incrementalExactDupFlags(in.toDF(), index,
      "doc_id", "text", "ts")
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(
      // reformatted re-post of corpus doc 1 → flagged via the
      // normalized fingerprint (case + whitespace noise survives)
      TestDoc(10, ts("2024-01-01 00:00:00"),
        "  THE  Quick brown fox JUMPS over the lazy dog tonight "),
      // novel content → not emitted (inner-join semantics)
      TestDoc(20, ts("2024-01-01 00:05:00"),
        "entirely unrelated words describing database internals deeply"))
    q.processAllAvailable()
    q.stop()
    val flags = spark.table(name).select("new_id", "dup_of")
      .as[(Long, Long)].collect().toSet
    assert(flags === Set((10L, 1L)))
  }

  test("incrementalLshFlags probes the band index, collapses multi-band hits") {
    implicit val ctx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content about spark engines here now"))
      .toDF("doc_id", "text")
    val index = graft.operators.Dedup
      .lshBandIndex(corpus, "doc_id", "text", 8, 4)
    val in = MemoryStream[TestDoc]
    val out = StreamOps.incrementalLshFlags(in.toDF(), index,
      "doc_id", "text", "ts", "1 hour", 8, 4)
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(
      // identical content (fresh id) → every band collides; the
      // within-watermark dedup must collapse the 4 hits to one row
      TestDoc(10, ts("2024-01-01 00:00:00"),
        "the quick brown fox jumps over the lazy dog tonight"),
      // novel content → not emitted
      TestDoc(20, ts("2024-01-01 00:05:00"),
        "entirely unrelated words describing database internals deeply"))
    q.processAllAvailable()
    q.stop()
    val flags = spark.table(name).select("new_id", "dup_of")
      .as[(Long, Long)].collect().toSet
    assert(flags === Set((10L, 1L)))
  }

  test("oovWithinWindow scores a stream against a frozen vocabulary") {
    implicit val ctx = spark.sqlContext
    val fitDocs = Seq((1L, "aa aa bb bb cc"), (2L, "aa bb dd"))
      .toDF("doc_id", "text")
    val vocab = TextAnalysis.vocabulary(fitDocs, "text", 2) // aa, bb
    val in = MemoryStream[TestDoc]
    val out = StreamOps.oovWithinWindow(in.toDF(), vocab,
      "doc_id", "text", "ts", "1 hour", "10 minutes")
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    in.addData(
      TestDoc(10, ts("2024-01-01 00:05:00"), "aa bb zz zz"),
      TestDoc(20, ts("2024-01-01 00:10:00"), "aa aa"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name)
      .select("doc_id", "n_tokens", "n_oov", "oov_rate")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set((10L, 4L, 2L, 0.5), (20L, 2L, 0L, 0.0)))
    // equals the batch scorer on the same arrivals (frozen-model spec)
    val batch = TextAnalysis.oovRate(
        Seq((10L, "aa bb zz zz"), (20L, "aa aa")).toDF("doc_id", "text"),
        "doc_id", "text", vocab)
      .select("doc_id", "n_tokens", "n_oov", "oov_rate")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === batch)
  }

  test("mixtureSample applies to a stream unchanged (per-row + generator)") {
    implicit val ctx = spark.sqlContext
    // the sampler is a per-row hash filter + one generator — both
    // streaming-legal, so the SAME operator call runs on a stream; the
    // epochs match the batch run exactly (hash determinism)
    val in = MemoryStream[TestDoc]
    val weights = Map("even" -> 2.0, "odd" -> 0.5)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Packing.mixtureSample(
        df.withColumn("par", when(col("doc_id") % 2 === 0, "even")
          .otherwise("odd")),
        "par", "doc_id", weights)
    val name = fresh()
    val q = keyed(in.toDF()).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    val docs = (1L to 20L).map(i => TestDoc(i, ts("2024-01-01 00:00:00"),
      s"doc number $i"))
    in.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).select("doc_id", "epoch")
      .as[(Long, Long)].collect().toSet
    val want = keyed(docs.toDF()).select("doc_id", "epoch")
      .as[(Long, Long)].collect().toSet
    assert(got === want)
    assert(got.count(_._1 % 2 == 0) === 20) // every even doc exactly twice
  }

  test("sourceReportWindowed: stream == batch report per window") {
    implicit val ctx = spark.sqlContext
    val good = "the quick brown fox jumps over a lazy dog and then " +
      "it runs far away into the woods to rest for the night"
    val docs = Seq(
      TestSrcDoc(1, ts("2024-01-01 00:10:00"), "a", good),
      TestSrcDoc(2, ts("2024-01-01 00:20:00"), "a", "too short"),
      TestSrcDoc(3, ts("2024-01-01 00:30:00"), "b", good),
      TestSrcDoc(4, ts("2024-01-01 01:15:00"), "a", good + " again"))
    val in = MemoryStream[TestSrcDoc]
    def report(df: org.apache.spark.sql.DataFrame) =
      StreamOps.sourceReportWindowed(df, "source", "text", "ts",
        "1 hour", "10 minutes", minWords = 5)
    val name = fresh()
    val q = report(in.toDF()).writeStream.format("memory")
      .queryName(name).outputMode("update").start()
    in.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("window_start", "source", "n_docs", "n_keep", "avg_quality")
      .as[(Timestamp, String, Long, Long, Double)].collect().toSet
    val got = rows(spark.table(name))
    // ground truth 1: the SAME definition in batch mode (shared
    // per-row expressions + one windowed agg)
    assert(got === rows(report(docs.toDF())))
    // ground truth 2: window 0's rows equal the ORACLE-GATED batch
    // operator run on window 0's documents (algebraic flavor)
    val w0 = TextAnalysis.sourceReport(
        docs.filter(_.ts.before(ts("2024-01-01 01:00:00")))
          .toDF().select(col("doc_id"), col("source"), col("text")),
        "source", "doc_id", "text", minWords = 5)
      .select(col("source"), col("n_docs"), col("n_keep"),
        col("avg_quality"))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(got.filter(_._1 == ts("2024-01-01 00:00:00"))
      .map(r => (r._2, r._3, r._4, r._5)) === w0)
    // the short doc failed the gate, the good ones passed
    assert(got.find(r => r._1 == ts("2024-01-01 00:00:00") && r._2 == "a")
      .exists(r => r._3 == 2L && r._4 == 1L))
  }

  test("annProbeFlags probes a static IVFPQ index, equals batch scoring") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Similarity
    // corpus of two clusters separated WITHIN each 2-dim sub-space
    // (the PQ codebooks are per-sub-space cosine fits — sub-space-
    // orthogonal clusters quantize cleanly at ksub = 2, so the ADC
    // scores of a true re-post stay near 1); fit + index ONCE
    val corpus = Seq(
      (1L, Array(1f, 0.05f, 0.9f, 0f)), (2L, Array(0.95f, 0f, 1f, 0.05f)),
      (3L, Array(0f, 0.9f, 0.05f, 1f)), (4L, Array(0.05f, 1f, 0f, 0.95f)))
      .toDF("vec_id", "embedding")
    val (coarse, cb) = Similarity.fitIvfPq(corpus, "vec_id", "embedding",
      dims = 4, nlist = 2, m = 2, ksub = 2, iters = 2, seed = 7L)
    val index = Similarity.buildIvfPqIndex(corpus, coarse, cb,
      "vec_id", "embedding")
    val arrivals = Seq(
      // re-post of cluster (1, 2)'s direction → high ADC cosine, flagged
      TestVec(10, ts("2024-01-01 00:00:00"), Array(1f, 0f, 1f, 0f)),
      // between-clusters arrival (ADC ≈ 0.7): whatever it scores,
      // stream == batch
      TestVec(20, ts("2024-01-01 00:05:00"), Array(0.5f, 0.5f, 0.5f, 0.5f)))
    val in = MemoryStream[TestVec]
    val out = StreamOps.annProbeFlags(in.toDF(), index, coarse, cb,
      "vec_id", "embedding", "ts", nprobe = 1, minSim = 0.9)
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(arrivals: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name)
      .select("new_id", "neighbor_id", "adc_sim")
      .as[(Long, Long, Double)].collect().toSet
    // the SAME definition run in batch mode over the same arrivals is
    // the ground truth (annProbeScored is shared by both paths)
    val want = StreamOps.annProbeFlags(
        arrivals.toDF("vec_id", "ts", "embedding"), index, coarse, cb,
        "vec_id", "embedding", "ts", nprobe = 1, minSim = 0.9)
      .select("new_id", "neighbor_id", "adc_sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
    assert(got.map(_._1).contains(10L)) // the cluster-0 re-post flagged
    assert(got.forall(_._3 >= 0.9))
  }

  test("incrementalSemanticDupFlags probes index + corpus statelessly, " +
      "equals the batch operator") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Similarity
    // same sub-space-separated two-cluster corpus as the ANN probe
    // test (PQ codebooks are per-sub-space fits — clean quantization
    // at ksub = 2); fit + index ONCE, the maintained-state shape
    val corpus = Seq(
      (1L, Array(1f, 0.05f, 0.9f, 0f)), (2L, Array(0.95f, 0f, 1f, 0.05f)),
      (3L, Array(0f, 0.9f, 0.05f, 1f)), (4L, Array(0.05f, 1f, 0f, 0.95f)))
      .toDF("vec_id", "embedding")
    val (coarse, cb) = Similarity.fitIvfPq(corpus, "vec_id", "embedding",
      dims = 4, nlist = 2, m = 2, ksub = 2, iters = 2, seed = 7L)
    val index = Similarity.buildIvfPqIndex(corpus, coarse, cb,
      "vec_id", "embedding")
    val arrivals = Seq(
      // semantic re-post of cluster (1, 2)'s direction — exact cosine
      // vs both members clears minSim after the ADC prefilter
      TestVec(10, ts("2024-01-01 00:00:00"), Array(1f, 0f, 1f, 0f)),
      // between-clusters drifter: whatever cell it lands in, the
      // EXACT refine scores ≈ 0.7 < minSim — not flagged
      TestVec(20, ts("2024-01-01 00:05:00"), Array(0.5f, 0.5f, 0.5f, 0.5f)))
    val in = MemoryStream[TestVec]
    val out = StreamOps.incrementalSemanticDupFlags(in.toDF(), index,
      corpus, coarse, cb, "vec_id", "embedding", "ts",
      candSim = 0.5, minSim = 0.9)
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(arrivals: _*)
    q.processAllAvailable()
    // stateless contract: two stream-static joins, no watermark —
    // the state store must hold ZERO rows
    val state = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    assert(state === 0L, "semantic probe must keep no state store rows")
    val got = spark.table(name)
      .select("new_id", "dup_of", "cosine_sim")
      .as[(Long, Long, Double)].collect().toSet
    // ground truth: the batch operator over the same arrivals — same
    // cell assign, same ADC prefilter, same exact refine
    val want = Similarity.incrementalSemanticDups(
        arrivals.toDF("vec_id", "ts", "embedding"), index, corpus,
        coarse, cb, candSim = 0.5, minSim = 0.9, "vec_id", "embedding")
      .select("new_id", "dup_of", "cosine_sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
    assert(got.map(_._1) === Set(10L)) // re-post flagged, drifter not
    assert(got.forall(_._3 >= 0.9))
  }

  test("annProbeAdmitAdvance inside foreachBatch runs the full ANN loop") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Similarity
    // artifacts fit ONCE on a representative sample covering both
    // clusters (the production shape: a frozen quantizer must span the
    // space arrivals come from); the index starts from cluster-A only
    val sample = Seq(
      (1L, Array(1f, 0.05f, 0.9f, 0f)), (2L, Array(0.95f, 0f, 1f, 0.05f)),
      (3L, Array(0f, 0.9f, 0.05f, 1f)), (4L, Array(0.05f, 1f, 0f, 0.95f)))
      .toDF("vec_id", "embedding")
    val (coarse, cb) = Similarity.fitIvfPq(sample, "vec_id", "embedding",
      dims = 4, nlist = 2, m = 2, ksub = 2, iters = 2, seed = 7L)
    var index = Similarity.buildIvfPqIndex(
        sample.filter(col("vec_id") <= 2), coarse, cb,
        "vec_id", "embedding")
      .localCheckpoint(true)
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val in = MemoryStream[TestVec]
    val q = in.toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (flags, advanced) = Similarity.annProbeAdmitAdvance(
          batch.select(col("vec_id"), col("embedding")), index,
          coarse, cb, nprobe = 1, minSim = 0.9)
        flagged ++= flags.select("new_id", "neighbor_id")
          .as[(Long, Long)].collect()
        val next = advanced.localCheckpoint(true)
        index.unpersist()
        index = next
        ()
    }.start()
    // batch 1: an A-direction re-post (flagged vs the index) and a
    // NOVEL B-direction vector (its probe cell is empty -> admitted)
    in.addData(
      TestVec(10, ts("2024-01-01 00:00:00"), Array(1f, 0f, 1f, 0f)),
      TestVec(20, ts("2024-01-01 00:01:00"), Array(0f, 1f, 0f, 1f)))
    q.processAllAvailable()
    assert(flagged.nonEmpty && flagged.forall(_._1 == 10L))
    // batch 2: a re-post of 20 — which was NOT in the original index;
    // flagging it against 20 proves the advance step actually took
    in.addData(
      TestVec(30, ts("2024-01-01 00:02:00"), Array(0f, 1f, 0f, 1f)))
    q.processAllAvailable()
    q.stop()
    assert(flagged.filter(_._1 == 30L).map(_._2).toSet === Set(20L))
  }

  test("curateAndPackBatches: per-batch stream packs == the batch DAG") {
    implicit val ctx = spark.sqlContext
    val good = "the quick brown fox jumps over a lazy dog and then " +
      "it runs far away into the woods to rest for the night"
    val b1 = Seq(
      TestSrcDoc(1, ts("2024-01-01 00:00:00"), "a", good),
      TestSrcDoc(2, ts("2024-01-01 00:01:00"), "a", "too short"),
      TestSrcDoc(3, ts("2024-01-01 00:02:00"), "b", good + " tonight"),
      TestSrcDoc(4, ts("2024-01-01 00:03:00"), "b", good))  // dup of 1 content-wise? distinct text
    val b2 = Seq(
      TestSrcDoc(10, ts("2024-01-01 00:10:00"), "a", good + " later on"),
      TestSrcDoc(11, ts("2024-01-01 00:11:00"), "b", good))
    val budgets = Map("a" -> 200L)
    def dag(df: org.apache.spark.sql.DataFrame) =
      Packing.curateAndPack(df.select(col("doc_id"), col("source"),
          col("text")),
        "doc_id", "source", "text", budgets, packBudget = 64L,
        packGroups = 4, delim = " ", minWords = 5, minStopwords = 1)
    val perBatch = scala.collection.mutable.Map.empty[
      Long, Set[(String, Long, Long, String)]]
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("pack_id").cast("string"), col("n_docs"),
        col("total_tokens"), concat_ws(",", col("doc_ids")).as("ids"))
      .as[(String, Long, Long, String)].collect().toSet
    val in = MemoryStream[TestSrcDoc]
    val q = StreamOps.curateAndPackBatches(in.toDF(), "doc_id", "source",
        "text", budgets, packBudget = 64L, packGroups = 4, delim = " ",
        minWords = 5, minStopwords = 1) {
      (packs, batchId) => perBatch(batchId) = rows(packs.drop("batch_id"))
    }
    in.addData(b1: _*)
    q.processAllAvailable()
    in.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // each micro-batch's pack table equals the BATCH DAG over exactly
    // that arrival set — same gate, dedup, budget and packing
    assert(perBatch.keySet === Set(0L, 1L))
    assert(perBatch(0L) === rows(dag(b1.toDF())) && perBatch(0L).nonEmpty)
    assert(perBatch(1L) === rows(dag(b2.toDF())) && perBatch(1L).nonEmpty)
    // the gate actually dropped the short doc in batch 0
    assert(!perBatch(0L).exists(_._4.split(",").contains("2")))
  }

  test("qualityVerdictBatches: per-batch verdicts == the batch gate, " +
      "stamped with the batch id") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Quality
    val suite = Seq(
      Quality.uniqueRatio("uid_unique", "user_id", ">=", 1.0),
      Quality.fractionWhere("no_errors", "event_type",
        col("event_type") =!= "error", ">=", 1.0),
      Quality.maxOf("value_cap", "value", "<=", 10.0))
    val b1 = Seq( // clean batch: all three pass
      TestEvt(1, ts("2024-01-01 00:00:00"), "click", 1.0),
      TestEvt(2, ts("2024-01-01 00:00:01"), "view", 2.0))
    val b2 = Seq( // dup user + an error + an outlier: all three fail
      TestEvt(3, ts("2024-01-01 00:01:00"), "error", 99.0),
      TestEvt(3, ts("2024-01-01 00:01:01"), "click", 1.0))
    def verdicts(df: org.apache.spark.sql.DataFrame) = df
      .select(col("name"), col("metric"), col("pass"))
      .as[(String, Double, Boolean)].collect().toSet
    val perBatch = scala.collection.mutable.Map.empty[
      Long, Set[(String, Double, Boolean)]]
    val in = MemoryStream[TestEvt]
    val q = StreamOps.qualityVerdictBatches(in.toDF(), suite) {
      (v, batchId) =>
        // the stamp matches the callback id on every row
        assert(v.select(col("batch_id")).distinct()
          .as[Long].collect().toSeq === Seq(batchId))
        perBatch(batchId) = verdicts(v.drop("batch_id"))
    }
    in.addData(b1: _*)
    q.processAllAvailable()
    in.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    assert(perBatch.keySet === Set(0L, 1L))
    // each micro-batch's verdict table equals the BATCH gate over
    // exactly that arrival set
    assert(perBatch(0L) === verdicts(Quality.check(b1.toDF(), suite)))
    assert(perBatch(1L) === verdicts(Quality.check(b2.toDF(), suite)))
    assert(perBatch(0L).forall(_._3), "clean batch all-pass")
    assert(perBatch(1L).forall(!_._3), "dirty batch all-fail")
  }

  test("psiBatches: per-batch drift vs a frozen baseline == batch psi " +
      "on the same arrivals") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Quality
    val edges = Seq(2.0, 5.0)
    val baselineDf = Seq(1.0, 1.5, 3.0, 4.0, 6.0, 7.0).toDF("value")
    val baseline = Quality.binCounts(baselineDf, "value", edges)
      .cache() // frozen artifact, read per batch, never rebuilt
    val b1 = Seq(TestEvt(1, ts("2024-01-01 00:00:00"), "click", 1.0),
      TestEvt(2, ts("2024-01-01 00:00:01"), "view", 3.0))
    val b2 = Seq(TestEvt(3, ts("2024-01-01 00:01:00"), "click", 8.0),
      TestEvt(4, ts("2024-01-01 00:01:01"), "view", 9.0))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("bin"), col("n_old"), col("n_new"), col("psi_term"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val perBatch = scala.collection.mutable.Map.empty[
      Long, Set[(Long, Long, Long, Double)]]
    val in = MemoryStream[TestEvt]
    val q = StreamOps.psiBatches(in.toDF(), baseline, "value", edges) {
      (psi, batchId) => perBatch(batchId) = rows(psi.drop("batch_id"))
    }
    in.addData(b1: _*)
    q.processAllAvailable()
    in.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    assert(perBatch.keySet === Set(0L, 1L))
    assert(perBatch(0L) ===
      rows(Quality.psiFromBaseline(baseline, b1.toDF(), "value", edges)))
    assert(perBatch(1L) ===
      rows(Quality.psiFromBaseline(baseline, b2.toDF(), "value", edges)))
    // batch 2's values all land in the top bin: its total must read
    // as more drifted than batch 1's in-distribution arrivals
    def total(s: Set[(Long, Long, Long, Double)]) =
      s.find(_._1 == -1L).get._4
    assert(total(perBatch(1L)) > total(perBatch(0L)))
  }

  test("probeAdmitAdvance inside foreachBatch runs the full dedup loop") {
    implicit val ctx = spark.sqlContext
    // the production arrival pipeline end-to-end: every micro-batch
    // probes the CURRENT index, admits novels, and advances the index
    // so the next batch sees them
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    var index = graft.operators.Dedup
      .simhashBandIndex(corpus, "doc_id", "text").localCheckpoint(true)
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val in = MemoryStream[TestDoc]
    val q = in.toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (flags, advanced) = graft.operators.Dedup.probeAdmitAdvance(
          batch.select(col("doc_id"), col("text")), index,
          "doc_id", "text")
        flagged ++= flags.select("new_id", "dup_of")
          .as[(Long, Long)].collect()
        // materialize the advanced index before the next batch — the
        // operator's contract (lineage must not stack across batches)
        val next = advanced.localCheckpoint(true)
        index.unpersist()
        index = next
        ()
    }.start()
    // batch 1: a novel doc (20) and a re-post of corpus doc 1 (10)
    in.addData(
      TestDoc(10, ts("2024-01-01 00:00:00"),
        "  THE  quick brown fox JUMPS over the lazy dog tonight "),
      TestDoc(20, ts("2024-01-01 00:01:00"),
        "entirely unrelated words describing database internals deeply"))
    q.processAllAvailable()
    assert(flagged.toSet === Set((10L, 1L)))
    // batch 2: a re-post of doc 20 — which was NOT in the original
    // index; flagging it proves the advance step actually took
    in.addData(
      TestDoc(30, ts("2024-01-01 00:02:00"),
        "ENTIRELY unrelated  words describing database internals deeply"))
    q.processAllAvailable()
    q.stop()
    assert(flagged.toSet === Set((10L, 1L), (30L, 20L)))
  }

  test("zscoreAgainstStats scores a stream against frozen stats") {
    implicit val ctx = spark.sqlContext
    // frozen model: clicks centered at 10 (sd 2), views constant (sd 0)
    val history = Seq(
      (1L, "click", 8.0), (2L, "click", 12.0),
      (3L, "view", 5.0), (4L, "view", 5.0)
    ).toDF("event_id", "event_type", "value")
    val stats = graft.operators.Relational
      .zscoreStats(history, "event_type", "value")
    val in = MemoryStream[TestEvt]
    val out = StreamOps.zscoreAgainstStats(in.toDF(), stats,
      "event_type", "value", 2.0)
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(
      TestEvt(10, ts("2024-01-01 00:00:00"), "click", 16.0), // z = 3 → outlier
      TestEvt(11, ts("2024-01-01 00:01:00"), "click", 11.0), // z = 0.5
      TestEvt(12, ts("2024-01-01 00:02:00"), "view", 9.0),   // sd 0 → null z
      TestEvt(13, ts("2024-01-01 00:03:00"), "scroll", 1.0)) // novel key
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select("user_id", "z", "is_outlier")
      .as[(Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(10L) === ((Some(3.0), true)))
    assert(rows(11L) === ((Some(0.5), false)))
    assert(rows(12L) === ((None, false))) // degenerate group: no blow-up
    assert(rows(13L) === ((None, false))) // novel key: kept, unscored
    // the stream scores equal the batch operator's on the same arrivals
    val arrivals = Seq((10L, "click", 16.0), (11L, "click", 11.0),
      (12L, "view", 9.0), (13L, "scroll", 1.0))
      .toDF("user_id", "event_type", "value")
    val batch = graft.operators.Relational
      .zscoreAgainstStats(arrivals, stats, "event_type", "value", 2.0)
      .select("user_id", "z", "is_outlier")
      .as[(Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(batch === rows)
  }

  test("stateful sessions emit when the watermark passes session close") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TestEvt]
    val sessions = StatefulSessions.sessions(in.toDF(), gapSeconds = 600,
      watermarkDelay = "0 seconds")
    val name = fresh()
    val q = sessions.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    // session: two events 5 min apart
    in.addData(
      TestEvt(7, ts("2024-01-01 00:00:00"), "click", 1.0),
      TestEvt(7, ts("2024-01-01 00:05:00"), "click", 2.0))
    q.processAllAvailable()
    assert(spark.table(name).count() === 0L) // watermark hasn't passed close
    // a much later event advances the watermark past 00:05 + 10min gap
    in.addData(TestEvt(8, ts("2024-01-01 06:00:00"), "click", 1.0))
    q.processAllAvailable()
    // one more batch so the timeout fires after the watermark update
    in.addData(TestEvt(8, ts("2024-01-01 06:00:01"), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect()
    assert(rows.toSeq === Seq((7L, 2L, 3.0)))
  }

  test("stateful sessions merge late events, lowering session_start") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TestEvt]
    val sessions = StatefulSessions.sessions(in.toDF(), gapSeconds = 1800,
      watermarkDelay = "6 hours")
    val name = fresh()
    val q = sessions.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(TestEvt(1, ts("2024-01-01 12:00:00"), "click", 1.0))
    q.processAllAvailable()
    // LATE event 5 min before the open session's start: must merge and
    // lower session_start (the old code glued it to the end instead)
    in.addData(TestEvt(1, ts("2024-01-01 11:55:00"), "click", 2.0))
    q.processAllAvailable()
    // a far-later event closes the session (emitted immediately)
    in.addData(TestEvt(1, ts("2024-01-01 20:00:00"), "click", 5.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select("session_start", "n_events", "sum_value")
      .as[(Timestamp, Long, Double)].collect().toSet
    assert(rows === Set((ts("2024-01-01 11:55:00"), 2L, 3.0)))
  }

  test("stateful sessions: far-out-of-range late event closes separately") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TestEvt]
    val sessions = StatefulSessions.sessions(in.toDF(), gapSeconds = 1800,
      watermarkDelay = "12 hours")
    val name = fresh()
    val q = sessions.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    in.addData(TestEvt(1, ts("2024-01-01 12:00:00"), "click", 1.0))
    q.processAllAvailable()
    // 3h before the open session (beyond the gap): its own session,
    // closed immediately; the open 12:00 session must survive untouched
    in.addData(TestEvt(1, ts("2024-01-01 09:00:00"), "click", 7.0))
    q.processAllAvailable()
    in.addData(TestEvt(1, ts("2024-01-01 20:00:00"), "click", 5.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select("session_start", "n_events", "sum_value")
      .as[(Timestamp, Long, Double)].collect().toSet
    assert(rows === Set(
      (ts("2024-01-01 09:00:00"), 1L, 7.0),
      (ts("2024-01-01 12:00:00"), 1L, 1.0)))
  }

  test("streaming slidingCounts agrees with the oracle-checked batch analog") {
    implicit val ctx = spark.sqlContext
    val evts = Seq(
      TestEvt(1, ts("2024-01-01 00:30:00"), "click", 1.0),
      TestEvt(2, ts("2024-01-01 01:30:00"), "click", 1.0),
      TestEvt(3, ts("2024-01-01 03:10:00"), "view", 1.0),
      TestEvt(4, ts("2024-01-01 05:45:00"), "click", 1.0))
    val in = MemoryStream[TestEvt]
    val out = StreamOps.slidingCounts(in.toDF(), "ts", "3 hours", "2 hours",
      "event_type", "10 minutes")
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    in.addData(evts: _*) // one batch -> one emission per window
    q.processAllAvailable()
    q.stop()
    val streaming = spark.table(name)
      .select(org.apache.spark.sql.functions.date_format(
        col("window_start"), "yyyy-MM-dd HH:mm:ss"),
        col("event_type"), col("n_events"))
      .as[(String, String, Long)].collect().toSet
    val batch = graft.operators.Relational.slidingCounts(
      evts.toDF(), "ts", 3, 2, "event_type")
      .select("window_start", "event_type", "n_events")
      .as[(String, String, Long)].collect().toSet
    assert(streaming === batch)
  }

  test("stream-stream interval join matches within time bounds only") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[TestEvt]
    val buys = MemoryStream[TestEvt]
    val joined = StreamOps.intervalJoin(
      clicks.toDF().select(col("user_id"), col("ts").as("click_ts")),
      buys.toDF().select(col("user_id"), col("ts").as("buy_ts")),
      "user_id", "click_ts", "buy_ts",
      "0 seconds", "1 hour", "10 minutes")
    val name = fresh()
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    clicks.addData(TestEvt(1, ts("2024-01-01 10:00:00"), "click", 1.0))
    buys.addData(
      TestEvt(1, ts("2024-01-01 10:30:00"), "buy", 1.0), // in window
      TestEvt(1, ts("2024-01-01 12:00:00"), "buy", 1.0), // too late
      TestEvt(2, ts("2024-01-01 10:30:00"), "buy", 1.0)) // other user
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select(col("user_id"), col("buy_ts")).as[(Long, Timestamp)].collect()
    assert(rows.toSeq === Seq((1L, ts("2024-01-01 10:30:00"))))
  }

  test("Kafka-wire json value encode/decode round-trips the schema") {
    val df = Seq(
      (7L, ts("2024-01-01 01:02:03"), 3L, "click", 2.5, """{"k":1}""")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val wire = graft.streaming.StreamSources.encodeJsonValue(df)
    assert(wire.columns.toSeq === Seq("value"))
    val back = graft.streaming.StreamSources.decodeJsonValue(wire)
    assert(back.schema === graft.streaming.StreamSources.eventSchema)
    assert(back.select("event_id", "event_type").as[(Long, String)].head()
      === ((7L, "click")))
  }

  test("console sink drains a memory stream and terminates cleanly") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TestEvt]
    in.addData(TestEvt(1L, ts("2024-01-01 00:00:00"), "click", 1.0),
      TestEvt(2L, ts("2024-01-01 00:01:00"), "view", 2.0))
    val q = graft.streaming.MultiSink.console(in.toDF(), numRows = 5,
      triggerSeconds = 1L)
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.map(_.numInputRows).sum === 2L)
  }

  test("stampBatchMeta adds the real batch id") {
    val df = Seq((1L, "x")).toDF("id", "v")
    val stamped = StreamOps.stampBatchMeta(df, 42L)
    assert(stamped.select("batch_id").as[String].head() === "batch_000042")
    assert(stamped.columns.contains("processing_time"))
  }

  test("incrementalWindowDupFlags probes a static window-hash index; " +
      "probe + span removal == batch dedup") {
    implicit val ctx = spark.sqlContext
    val corpus = Seq(
      (1L, "p q r s t u v w"),
      (2L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val index = TextAnalysis.windowHashIndex(corpus, "doc_id", "text", 4)
    val in = MemoryStream[TestDoc]
    val out = StreamOps.incrementalWindowDupFlags(in.toDF(), index,
      "doc_id", "text", "ts", 4)
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val arrivals = Seq(
      // corpus doc 1's run re-posted at shifted alignment
      TestDoc(10, ts("2024-01-01 00:00:00"), "x y p q r s t z"),
      TestDoc(20, ts("2024-01-01 00:01:00"),
        "totally novel words here now"))
    try { in.addData(arrivals: _*); q.processAllAvailable() }
    finally q.stop()
    val flags = spark.table(name)
    // exactly doc 10's windows at pos 2 and 3, each pointing at the
    // canonical corpus occurrence; the novel doc emits nothing
    // arrival windows at pos 2/3 ("p q r s", "q r s t") match the
    // corpus's pos-0/1 canonical occurrences — shifted alignment
    assert(flags.select("new_id", "wpos", "dup_of", "dup_pos")
      .as[(Long, Int, Long, Int)].collect().toSet ===
      Set((10L, 2, 1L, 0), (10L, 3, 1L, 1)))
    // reassembly through the SHARED span-removal expression equals
    // the batch operator over corpus ∪ arrivals (arrival ids are
    // higher, so batch first-occurrence = the corpus, as probed)
    val arrDf = arrivals.toDF().select(col("doc_id"), col("text"))
    val spans = flags.groupBy(col("new_id"))
      .agg(sort_array(collect_set(col("wpos"))).as("dws"))
    val rebuilt = arrDf
      .join(spans, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"), array_join(
        TextAnalysis.tokensOutsideSpans(split(col("text"), " "),
          coalesce(col("dws"), array().cast("array<int>")), 4), " ")
        .as("t"))
      .as[(Long, String)].collect().toMap
    val batch = TextAnalysis.dedupTokenWindows(
        corpus.unionByName(arrDf), "doc_id", "text", 4)
      .filter(col("doc_id") >= 10L)
      .select("doc_id", "text_deduped")
      .as[(Long, String)].collect().toMap
    assert(rebuilt === batch)
  }

  test("streaming decontamination = eval window index + probe + " +
      "shared span removal == batch decontaminateSpans") {
    implicit val ctx = spark.sqlContext
    val eval = Seq(
      (1L, "what is the capital of france"),
      (2L, "name the largest planet")).toDF("doc_id", "text")
    // the eval set indexed ONCE — the same index shape the dedup
    // probe uses, pointed at benchmarks instead of the corpus
    val index = TextAnalysis.windowHashIndex(eval, "doc_id", "text", 4)
    val arrivals = Seq(
      TestDoc(10, ts("2024-01-01 00:00:00"),
        "quiz intro what is the capital of france answer paris"),
      TestDoc(20, ts("2024-01-01 00:01:00"),
        "france exports wine and the capital markets rally"))
    val in = MemoryStream[TestDoc]
    val out = StreamOps.incrementalWindowDupFlags(in.toDF(), index,
      "doc_id", "text", "ts", 4)
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try { in.addData(arrivals: _*); q.processAllAvailable() }
    finally q.stop()
    val arrDf = arrivals.toDF().select(col("doc_id"), col("text"))
    val spans = spark.table(name).groupBy(col("new_id"))
      .agg(sort_array(collect_set(col("wpos"))).as("dws"))
    val streamed = arrDf
      .join(spans, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"), array_join(
        TextAnalysis.tokensOutsideSpans(split(col("text"), " "),
          coalesce(col("dws"), array().cast("array<int>")), 4), " ")
        .as("t"))
      .as[(Long, String)].collect().toMap
    val batch = graft.operators.Dedup.decontaminateSpans(arrDf, eval,
        "doc_id", "text", 4)
      .select("doc_id", "text_clean")
      .as[(Long, String)].collect().toMap
    assert(streamed === batch)
    // non-vacuous: the embedded eval question really scrubbed
    assert(batch(10L) === "quiz intro answer paris")
  }

  test("kmvBatches: streamed state is BIT-EQUAL to the one-shot " +
      "sketch of the arrival union; replay guard refuses a foreign " +
      "run id") {
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_kmv_state").toString
    def evts(users: Range): Seq[TestEvt] = users.map(u =>
      TestEvt(u.toLong, ts("2024-01-01 00:00:00"), "click", 1.0)).toSeq
    val b1 = evts(0 until 300)
    val b2 = evts(150 until 500) // overlaps b1 — set semantics matter
    val results = scala.collection.mutable.Map.empty[Long,
      Array[(String, Long, Double)]]
    val in = MemoryStream[TestEvt]
    val q = StreamOps.kmvBatches(in.toDF(), Seq("event_type"),
      "user_id", k = 64, s"$base/state", runId = "run-k") { (res, id) =>
      results(id) = res.select("event_type", "n_kmv", "d_est")
        .as[(String, Long, Double)].collect()
    }
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(results.keySet === Set(0L, 1L))
    // the persisted state's arrays equal a direct sketch of the union
    val state = spark.read.parquet(s"$base/state")
      .select("event_type", "kmv")
      .as[(String, Seq[Long])].collect().toMap
    val direct = graft.operators.Sketches.kmvSketch((b1 ++ b2).toDF(),
        Seq("event_type"), col("user_id"), 64)
      .select("event_type", "kmv")
      .as[(String, Seq[Long])].collect().toMap
    assert(state.view.mapValues(_.toList).toMap ===
      direct.view.mapValues(_.toList).toMap, "set function: bit-equal")
    // and the emitted estimate matches the batch estimate
    val batchEst = graft.operators.Sketches.kmvSketch((b1 ++ b2).toDF(),
        Seq("event_type"), col("user_id"), 64)
      .select(col("event_type"), graft.operators.Sketches.kmvEstimate(col("kmv"), 64))
      .as[(String, Double)].collect().toMap
    results(1L).foreach { case (g, _, est) =>
      assert(est === batchEst(g)) }
    // a new query against the survivor state must fail loudly
    val in2 = MemoryStream[TestEvt]
    val q2 = StreamOps.kmvBatches(in2.toDF(), Seq("event_type"),
      "user_id", k = 64, s"$base/state", runId = "other") { (_, _) => () }
    try {
      in2.addData(b1: _*)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
    } finally q2.stop()
  }

  test("heavyHittersBatches (uncompacted): streamed result == batch " +
      "sketch over the union of arrivals") {
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_hh_state").toString
    def evts(kinds: (String, Int)*): Seq[TestEvt] =
      kinds.toSeq.flatMap { case (k, n) => Seq.fill(n)(
        TestEvt(1L, ts("2024-01-01 00:00:00"), k, 1.0)) }
    // capacity >= distinct keys per batch: every per-partition summary
    // is the exact count whatever the engine's batch partitioning, so
    // the merged state is layout-independent and exactly comparable
    val cap = 16
    val b1 = evts("click" -> 30, "view" -> 5, "scroll" -> 2)
    val b2 = evts("click" -> 10, "view" -> 20, "hover" -> 1)
    val b3 = evts("click" -> 5, "hover" -> 8)
    val results = scala.collection.mutable.Map.empty[Long,
      Array[(String, Long, Long)]]
    val in = MemoryStream[TestEvt]
    val q = StreamOps.heavyHittersBatches(in.toDF(), "event_type",
      cap, s"$base/state", runId = "run-u", compactState = false) { (res, id) =>
      results(id) = res.select("key", "n_est", "n_max")
        .as[(String, Long, Long)].collect()
    }
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    assert(results.keySet === Set(0L, 1L, 2L))
    val batch = Relational.heavyHittersSketch(
        (b1 ++ b2 ++ b3).toDF(), "event_type", cap)
      .as[(String, Long, Long)].collect().toSet
    assert(results(2L).toSet === batch)
    // no eviction at this capacity: the bracket is tight and exact
    val exact = (b1 ++ b2 ++ b3).groupBy(_.event_type)
      .view.mapValues(_.size.toLong).toMap
    results(2L).foreach { case (k, nEst, nMax) =>
      assert(nEst === exact(k) && nMax === exact(k)) }
  }

  test("heavyHittersBatches (compacted): state stays bounded, bracket " +
      "holds across batches") {
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_hh_state").toString
    val stateDir = s"$base/state"
    def mk(k: String, n: Int): Seq[TestEvt] =
      Seq.fill(n)(TestEvt(1L, ts("2024-01-01 00:00:00"), k, 1.0))
    val cap = 3
    val b1 = mk("h1", 40) ++ (1 to 10).flatMap(i => mk(s"a$i", 1))
    val b2 = mk("h1", 15) ++ mk("h2", 25) ++
      (1 to 10).flatMap(i => mk(s"b$i", 1))
    var last = Array.empty[(String, Long, Long)]
    val in = MemoryStream[TestEvt]
    val q = StreamOps.heavyHittersBatches(in.toDF(), "event_type",
      cap, stateDir, runId = "run-c") { (res, _) =>
      last = res.select("key", "n_est", "n_max")
        .as[(String, Long, Long)].collect()
    }
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // persisted state re-bounded to <= capacity counters + 1 decr row
    val state = spark.read.parquet(stateDir).collect()
    assert(state.count(r => !r.isNullAt(0)) <= cap)
    val exact = (b1 ++ b2).groupBy(_.event_type)
      .view.mapValues(_.size.toLong).toMap
    val present = last.map(_._1).toSet
    last.foreach { case (k, nEst, nMax) =>
      assert(nEst <= exact(k) && exact(k) <= nMax,
        s"$k: [$nEst, $nMax] misses true ${exact(k)}") }
    // completeness through compaction: keys truer than the slack are
    // present — h1 (55) and h2 (25) must both survive
    val maxUnder = last.head._3 - last.head._2
    exact.filter(_._2 > maxUnder).keys.foreach(k =>
      assert(present.contains(k), s"guaranteed-present $k missing"))
    assert(present.contains("h1") && present.contains("h2"))

    // REPLAY GUARD: a re-delivered batch id WITHIN THE SAME RUN
    // (here: a resumed query's batch 0 against state stamped
    // last_batch=1 — the code path an at-least-once foreachBatch
    // replay takes) must SKIP the merge and leave the counters
    // untouched; double-merging would break n_est <= true
    val before = spark.read.parquet(stateDir)
      .filter(col("key").isNotNull)
      .select("key", "est").as[(String, Long)].collect().toSet
    val in2 = MemoryStream[TestEvt]
    val q2 = StreamOps.heavyHittersBatches(in2.toDF(), "event_type",
      cap, stateDir, runId = "run-c") { (_, _) => () }
    try { in2.addData(mk("h1", 30): _*); q2.processAllAvailable() }
    finally q2.stop()
    val after = spark.read.parquet(stateDir)
      .filter(col("key").isNotNull)
      .select("key", "est").as[(String, Long)].collect().toSet
    assert(after === before, "replayed batch id double-merged")

    // RUN-ID GUARD: a DIFFERENT run pointed at the survivor state dir
    // must FAIL, not silently treat its fresh batches as replays —
    // without the stamp, every batch id <= the stored last_batch
    // would drop its data while re-emitting stale results
    val in3 = MemoryStream[TestEvt]
    val q3 = StreamOps.heavyHittersBatches(in3.toDF(), "event_type",
      cap, stateDir, runId = "a-new-query") { (_, _) => () }
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { in3.addData(mk("h9", 3): _*); q3.processAllAvailable() }
      finally q3.stop()
    }
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    assert(causes(err).exists(c =>
      c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("belongs to run")))
    // and the state survived the refusal untouched
    val after3 = spark.read.parquet(stateDir)
      .filter(col("key").isNotNull)
      .select("key", "est").as[(String, Long)].collect().toSet
    assert(after3 === before)
  }

  test("prioritySampleStream: streamed reservoir == batch sampler on " +
      "every prefix; replays change nothing") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[TestEvt]
    val k = 3
    val out = StreamOps.prioritySampleStream(in.toDF(), "event_type",
      "user_id", "value", k)
    val results =
      scala.collection.mutable.Map.empty[Long, Set[(String, Long, Double,
        Double, Double, Double)]]
    val q = out.writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], bid: Long) =>
        results(bid) = df.select("stratum", "id", "weight", "priority",
          "tau", "w_hat").as[(String, Long, Double, Double, Double,
          Double)].collect().toSet
        ()
      }.start()
    def mk(ids: Range, typ: String): Seq[TestEvt] = ids.map(i =>
      TestEvt(i.toLong, ts("2024-01-01 00:00:00"), typ, (i % 7 + 1).toDouble))
    def batchRef(evts: Seq[TestEvt]) = {
      import spark.implicits._
      Packing.prioritySampleByGroup(evts.toDF(), "event_type", "user_id",
          "value", k)
        .select(col("event_type"), col("user_id"), col("weight"),
          col("priority"), col("tau"), col("w_hat"))
        .as[(String, Long, Double, Double, Double, Double)].collect().toSet
    }
    // prefix 1: both strata, fewer than k+1 rows each -> tau = 0
    val b0 = mk(1 to 2, "click") ++ mk(101 to 102, "view")
    in.addData(b0: _*); q.processAllAvailable()
    assert(results(0L) === batchRef(b0))
    assert(results(0L).forall(_._5 === 0.0)) // tau: under-full reservoir
    // prefix 2: spill past k+1 in both strata -> live tau, k rows each
    val b1 = mk(3 to 8, "click") ++ mk(103 to 108, "view")
    in.addData(b1: _*); q.processAllAvailable()
    assert(results(1L) === batchRef(b0 ++ b1))
    assert(results(1L).count(_._1 == "click") === k)
    assert(results(1L).count(_._1 == "view") === k)
    // prefix 3: one stratum only — the untouched stratum is NOT
    // re-emitted (consumers keep latest-per-stratum), the touched one
    // still equals the batch sampler over its full prefix
    val b2 = mk(9 to 12, "click")
    in.addData(b2: _*); q.processAllAvailable()
    assert(results(2L).forall(_._1 == "click"))
    assert(results(2L) ===
      batchRef((b0 ++ b1 ++ b2).filter(_.event_type == "click")))
    // replay: re-deliver already-seen rows — reservoir unchanged
    in.addData(b2: _*); q.processAllAvailable()
    assert(results(3L) === results(2L))
    q.stop()
  }

  test("Linkage.linkPairs is stream-legal as-is: arrivals probe a " +
      "static registry statelessly and match the batch run exactly") {
    import graft.operators.{LinkField, Linkage}
    implicit val ctx = spark.sqlContext
    // static clean registry: (block, name, balance)
    val registry = Seq((101L, 0L, "ann", 10.0), (102L, 0L, "bob", 50.0),
        (103L, 1L, "cam", 70.0))
      .toDF("right_id", "blk", "r_name", "r_bal")
    val fields = Seq(
      LinkField("name", col("l_name") === col("r_name"), 0.9, 0.01),
      LinkField("bal", org.apache.spark.sql.functions.abs(
        col("l_bal") - col("r_bal")) <= org.apache.spark.sql.functions
        .lit(0.5), 0.8, 0.05))
    val in = MemoryStream[(Long, Long, String, Double)]
    val arrivals = in.toDF()
      .toDF("left_id", "blk", "l_name", "l_bal")
    val flagged = Linkage.linkPairs(arrivals, registry, Seq("blk"),
      fields, matchThreshold = 5.0, possibleThreshold = 0.0)
    assert(flagged.isStreaming, "the probe must remain a stream")
    val name = fresh()
    val q = flagged.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val batch1 = Seq((1L, 0L, "ann", 10.2), (2L, 0L, "zed", 999.0),
      (3L, 1L, "cam", 70.0))
    in.addData(batch1: _*); q.processAllAvailable()
    val got = spark.table(name)
      .select("left_id", "right_id", "verdict").as[(Long, Long, String)]
      .collect().toSet
    // (1,ann) both agree -> match; (3,cam) both agree -> match;
    // (2,zed) disagrees everything -> dropped nonmatch; cross-block
    // pairs never scored
    assert(got == Set((1L, 101L, "match"), (3L, 103L, "match")))
    // the stream result IS the batch result on the same arrivals
    val batchRun = Linkage.linkPairs(
        batch1.toDF("left_id", "blk", "l_name", "l_bal"), registry,
        Seq("blk"), fields, 5.0, 0.0)
      .select("left_id", "right_id", "verdict").as[(Long, Long, String)]
      .collect().toSet
    assert(got == batchRun)
    q.stop()
  }

  test("unigram tokenize is stream-legal AS-IS: per-batch output == " +
      "the batch run on the same arrivals") {
    implicit val ctx = spark.sqlContext
    val pieces = Seq(graft.operators.Unigram.Piece("ab", -1.0),
      graft.operators.Unigram.Piece("a", -2.0),
      graft.operators.Unigram.Piece("b", -2.0),
      graft.operators.Unigram.Piece("c", -3.0))
    val in = MemoryStream[TestDoc]
    val out = graft.operators.Unigram.tokenize(in.toDF(), "doc_id",
      "text", pieces, maxPieceLen = 2)
    assert(out.isStreaming) // a stateful op here would have failed plan
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val docs = Seq(
      TestDoc(1L, ts("2024-01-01 00:00:00"), "abc ab"),
      TestDoc(2L, ts("2024-01-01 00:00:01"), "cab"))
    in.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .select("doc_id", "pieces", "pieces_sig")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toList,
        r.getString(2))).toSet
    val batch = graft.operators.Unigram.tokenize(
        docs.toDF(), "doc_id", "text", pieces, 2)
      .select("doc_id", "pieces", "pieces_sig")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toList,
        r.getString(2))).toSet
    assert(streamed == batch)
    assert(streamed.find(_._1 == 1L).get._2 == List("ab", "c", "ab"))
  }

  test("wordpiece tokenize is stream-legal AS-IS: per-batch output " +
      "== the batch run on the same arrivals") {
    implicit val ctx = spark.sqlContext
    val vocab = Seq("[UNK]", "ab", "a", "##a", "##b", "##c", "c")
    val in = MemoryStream[TestDoc]
    val out = graft.operators.WordPiece.tokenize(in.toDF(), "doc_id",
      "text", vocab)
    assert(out.isStreaming) // a stateful op here would have failed plan
    val name = fresh()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val docs = Seq(
      TestDoc(1L, ts("2024-01-01 00:00:00"), "abc ab"),
      TestDoc(2L, ts("2024-01-01 00:00:01"), "cab xq"))
    in.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .select("doc_id", "pieces", "n_unk", "pieces_sig")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toList,
        r.getLong(2), r.getString(3))).toSet
    val batch = graft.operators.WordPiece.tokenize(
        docs.toDF(), "doc_id", "text", vocab)
      .select("doc_id", "pieces", "n_unk", "pieces_sig")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toList,
        r.getLong(2), r.getString(3))).toSet
    assert(streamed == batch)
    assert(streamed.find(_._1 == 1L).get._2 == List("ab", "##c", "ab"))
    assert(streamed.find(_._1 == 2L).get._3 == 1L) // xq -> [UNK]
  }
}
