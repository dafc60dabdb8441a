package graft

import graft.functions.VectorFns
import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f), "a"),
    (1L, Array(0.9f, 0.1f, 0f, 0f), "a"),
    (2L, Array(0f, 1f, 0f, 0f), "a"),
    (3L, Array(0f, 0f, 1f, 0f), "b"),
    (4L, Array(0f, 0f, 0.95f, 0.05f), "b")
  ).toDF("vec_id", "embedding", "label")

  test("VectorFns: dot / norm / cosine match hand math") {
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
    val (d, c) = df.select(
      VectorFns.dot(col("a"), col("b")),
      VectorFns.cosine(col("a"), col("b"))).as[(Double, Double)].head()
    assert(d === 32.0)
    assert(math.abs(c - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
  }

  test("bruteForceTopK ranks the nearest neighbor first") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 2)
      .select("rank", "n_id").as[(Long, Long)].collect().toMap
    assert(out(1L) === 1L) // closest to e1 is the 0.9/0.1 vector
    assert(out.size === 2)
  }

  test("hardNegatives excludes the anchor's OWN label even when it is " +
      "the most similar vector, and ranks the rest by cosine") {
    // anchor 0 (label a): vector 1 is its nearest neighbor but shares
    // the label — a contrastive negative must NEVER be a positive
    val out = Similarity.hardNegatives(vecs,
      vecs.filter(col("vec_id") === 0), 3)
      .select("rank", "n_id", "n_label").as[(Long, Long, String)]
      .collect().sortBy(_._1)
    assert(out.forall(_._3 === "b"))
    assert(out.map(_._2).toSet === Set(3L, 4L))
    // the different-label list is exactly the label-filtered knn
    val knn = Similarity.bruteForceTopK(
      vecs.filter(col("label") === "b"),
      vecs.filter(col("vec_id") === 0), 3)
      .select("rank", "n_id").as[(Long, Long)].collect().toMap
    out.foreach { case (r, id, _) => assert(knn(r) === id) }
  }

  test("nearestInBlock only pairs within the blocking key") {
    val out = Similarity.nearestInBlock(vecs, "vec_id", "embedding", "label")
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toMap
    assert(out(0L) === 1L && out(1L) === 0L)
    assert(out(3L) === 4L && out(4L) === 3L)
    assert(out(2L) === 0L || out(2L) === 1L) // same block 'a' only
  }

  test("annTopK finds identical vectors (same bucket by construction)") {
    val dup = Seq(
      (10L, Array(1f, 1f, 0f, 0f), "x"),
      (11L, Array(1f, 1f, 0f, 0f), "x")).toDF("vec_id", "embedding", "label")
    val corpus = vecs.unionByName(dup)
    val out = Similarity.annTopK(corpus, dup.filter(col("vec_id") === 10), 3,
      dims = 4, planes = 2)
      .select("rank", "n_id", "cosine_sim").as[(Long, Long, Double)].collect()
    assert(out.head._2 === 11L && out.head._3 === 1.0)
  }

  test("graft_topk aggregate matches the row_number window formulation") {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    // deterministic pseudo-random scores incl. duplicate-score ties
    val scored = (1 to 500).map { i =>
      (i % 7L, (i * 31 % 97) / 97.0, i.toLong)
    }.toDF("q_id", "sim", "n_id")
    val viaAgg = scored.groupBy(col("q_id"))
      .agg(call_function("graft_topk", col("sim"), col("n_id"), lit(5)).as("t"))
      .select(col("q_id"), posexplode(col("t")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("n_id"), col("col.score").as("sim"))
      .as[(Long, Int, Long, Double)].collect().toSet
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val viaWindow = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(viaAgg === viaWindow)
  }

  test("ivfTopK finds identical vectors (same cell by construction)") {
    val many = (0 until 40).map { i =>
      val a = (i % 4).toFloat
      (i.toLong, Array(a, 4 - a, (i % 3).toFloat, 1f), "x")
    }
    val dup = Seq(
      (100L, Array(9f, 9f, 9f, 9f), "x"),
      (101L, Array(9f, 9f, 9f, 9f), "x"))
    val corpus = (many ++ dup).toDF("vec_id", "embedding", "label")
    val out = Similarity.ivfTopK(corpus,
      corpus.filter(col("vec_id") === 100), k = 3, nlist = 4, nprobe = 2)
      .select("rank", "n_id", "cosine_sim").as[(Long, Long, Double)].collect()
    assert(out.head._2 === 101L && out.head._3 === 1.0)
  }

  test("labelCentroids averages per (label, dim) with counts") {
    val df = Seq(
      (1L, Array(1f, 3f), "x"), (2L, Array(3f, 5f), "x"),
      (3L, Array(10f, 20f), "y")
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(df, "label", "embedding")
      .select("label", "dim", "centroid_val", "n_vectors")
      .as[(String, Long, Double, Long)].collect().toSet
    assert(out === Set(
      ("x", 0L, 2.0, 2L), ("x", 1L, 4.0, 2L),
      ("y", 0L, 10.0, 1L), ("y", 1L, 20.0, 1L)))
  }

  test("annTopKMultiProbe: recall never below single-probe, same contract") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    def kth(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "cosine_sim")
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).map { case (id, rs) =>
          id -> (rs.size, rs.map(_._3).min)
        }
    val single = kth(Similarity.annTopK(emb, q, 5, 64, 4))
    val multi = kth(Similarity.annTopKMultiProbe(emb, q, 5, 64, 4))
    // multi-probe candidates are a superset (own bucket is probed too):
    // with a FULL k from single-probe the worst kept similarity can
    // only improve; an underfilled single-probe list instead gets at
    // least as many rows back (extra probes can only add candidates)
    single.foreach { case (id, (n, s)) =>
      if (n == 5) assert(multi(id)._2 >= s - 1e-12, s"query $id")
      else assert(multi(id)._1 >= n, s"query $id")
    }
    assert(multi.nonEmpty)
  }

  test("annTopKRerank: full-coverage factor equals annTopK exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "n_id", "cosine_sim")
        .as[(Long, Long, Long, Double)].collect().toSet
    // a factor covering every same-bucket candidate makes the re-rank
    // score ALL candidates exactly -> identical to the exact annTopK
    val full = rows(Similarity.annTopKRerank(emb, q, 5, 64, 4,
      rerankFactor = 1000))
    val exact = rows(Similarity.annTopK(emb, q, 5, 64, 4))
    assert(full === exact && exact.nonEmpty)
    // the production factor returns k rows per query drawn from the
    // same buckets (recall <= 1 by construction, never extra rows)
    val small = rows(Similarity.annTopKRerank(emb, q, 5, 64, 4,
      rerankFactor = 2))
    assert(small.map(r => (r._1, r._3))
      .subsetOf(rows(Similarity.annTopK(emb, q, 200, 64, 4))
        .map(r => (r._1, r._3))))
  }

  test("labelCentroids (avg) agrees with the portable fold within 1e-9 on sf0.1") {
    // the scale default (algebraic avg, bounded state) and the oracle
    // flavor (ordered fold, bit-exact) differ only by summation order —
    // on the real sf0.1 embeddings the means must agree to ±ulp noise
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val a = Similarity.labelCentroids(emb, "label", "embedding")
      .select("label", "dim", "centroid_val")
      .as[(String, Long, Double)].collect()
      .map { case (l, d, v) => (l, d) -> v }.toMap
    val b = Similarity.labelCentroidsPortable(emb, "label", "embedding")
      .select("label", "dim", "centroid_val")
      .as[(String, Long, Double)].collect()
      .map { case (l, d, v) => (l, d) -> v }.toMap
    assert(a.keySet === b.keySet && a.nonEmpty)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-9, s"at $k") }
  }

  test("int8 quantization: bounded error, high cosine, constant-safe") {
    val rnd = new scala.util.Random(9)
    val vecs = (1 to 50).map(i =>
      (i.toLong, Array.fill(32)(rnd.nextFloat() * 4 - 2))) :+
      (99L, Array.fill(32)(1.5f)) // constant vector
    val df = vecs.toDF("vec_id", "embedding")
    val out = df.select(col("vec_id"), col("embedding"),
        Similarity.dequantizeEmbedding(
          Similarity.quantizeEmbedding(col("embedding"))).as("deq"))
      .as[(Long, Array[Float], Array[Float])].collect()
    out.foreach { case (id, orig, deq) =>
      val range = orig.max - orig.min
      val maxErr = orig.zip(deq).map { case (a, b) => math.abs(a - b) }.max
      assert(maxErr <= range / 255.0 + 1e-4, s"id=$id err=$maxErr")
      if (range > 0) {
        val dot = orig.zip(deq).map { case (a, b) => a.toDouble * b }.sum
        val cos = dot / (math.sqrt(orig.map(x => x.toDouble * x).sum) *
          math.sqrt(deq.map(x => x.toDouble * x).sum))
        assert(cos > 0.999, s"id=$id cos=$cos")
      } else assert(deq.forall(_ == orig.head))
    }
  }

  test("PQ: codes in range, encode deterministic, ADC recall vs exact") {
    // clustered synthetic set: 8 well-separated direction clusters in
    // 8 dims, 8 members each with small deterministic jitter
    val rnd = new scala.util.Random(5)
    val base = (0 until 8).map { c =>
      Array.tabulate(8)(i => if (i == c) 1f else 0f)
    }
    val corpus = (0 until 64).map { i =>
      val c = i % 8
      val v = base(c).clone()
      (0 until 8).foreach(j => v(j) += (rnd.nextFloat() - 0.5f) * 0.1f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cb = Similarity.fitPqCodebooks(corpus, "vec_id", "embedding",
      dims = 8, m = 4, ksub = 4, iters = 3, seed = 42L)
    assert(cb.length === 4 && cb.forall(_.length === 4) &&
      cb.forall(_.forall(_.length === 2)))
    // codes bounded and deterministic under repartitioning
    val codes = corpus.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), cb).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.values.forall(cs => cs.length == 4 &&
      cs.forall(c => c >= 0 && c < 4)))
    val again = corpus.repartition(7).select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), cb).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(again === codes)
    // the broadcast-join encode (the large-ksub escape hatch) must
    // produce bit-identical codes to the literal form
    val joined = Similarity.pqEncodeJoined(corpus, "vec_id", "embedding", cb)
      .as[(Long, Seq[Int])].collect().toMap
    assert(joined === codes)
    // ADC top-k vs the exact scan. PQ has ZERO within-cell resolution
    // (members sharing codes tie, break by id), so the guarantee to
    // pin is CLUSTER recall: every ADC neighbor must come from the
    // query's own cluster (i % 8), and the exact NN's cluster is the
    // query's — the shortlist an exact re-rank would then resolve,
    // exactly the int8-rerank composition pattern.
    val queries = corpus.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, 1)
      .filter(col("rank") === 1)
      .select("q_id", "n_id").as[(Long, Long)].collect().toMap
    exact.foreach { case (q, n) => assert(n % 8 === q % 8) }
    val adc = Similarity.pqAdcTopK(corpus, queries, 3, cb)
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    assert(adc.keySet.size === 8)
    val clusterHits = adc.map { case (q, ns) =>
      ns.count(_ % 8 == q % 8) }.sum
    assert(clusterHits >= 22,
      s"cluster recall too low: $clusterHits/24 ($adc)")
    // scores are valid cosines
    val sims = Similarity.pqAdcTopK(corpus, queries, 3, cb)
      .select("cosine_sim").as[Double].collect()
    assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
    // plan shape: queries broadcast against the code-compressed corpus
    // (no corpus shuffle before the bounded-heap top-k aggregate)
    val plan = Similarity.pqAdcTopK(corpus, queries, 3, cb)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan.take(600))
  }

  test("ivfPqTopK: cell-pruned ADC recall tracks the IVF baseline") {
    // same clustered fixture as the PQ test: 8 direction clusters in
    // 8 dims, 8 members each
    val rnd = new scala.util.Random(5)
    val base = (0 until 8).map { c =>
      Array.tabulate(8)(i => if (i == c) 1f else 0f)
    }
    val corpus = (0 until 64).map { i =>
      val c = i % 8
      val v = base(c).clone()
      (0 until 8).foreach(j => v(j) += (rnd.nextFloat() - 0.5f) * 0.1f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 8)
    // the joint index fit must equal the separate fits bit-for-bit —
    // that identity is what keeps the composed oracle valid. NOTE the
    // coarse fit runs fitCentroids' iters=2 convention inside ivfTopK,
    // so the joint fit here uses iters=2 for comparability of cells
    val (coarse, cb) = Similarity.fitIvfPq(corpus, "vec_id", "embedding",
      dims = 8, nlist = 8, m = 4, ksub = 4, iters = 2, seed = 42L)
    val coarseAlone = Similarity.fitCentroids(corpus, "vec_id",
      "embedding", nlist = 8, iters = 2, seed = 42L)
    val cbAlone = Similarity.fitPqCodebooks(corpus, "vec_id", "embedding",
      dims = 8, m = 4, ksub = 4, iters = 2, seed = 42L)
    assert(coarse.map(_.toSeq).toSeq === coarseAlone.map(_.toSeq).toSeq)
    assert(cb.map(_.map(_.toSeq).toSeq).toSeq
      === cbAlone.map(_.map(_.toSeq).toSeq).toSeq)
    def clusterHits(df: org.apache.spark.sql.DataFrame): Int =
      df.select("q_id", "n_id").as[(Long, Long)].collect()
        .count { case (q, n) => n % 8 == q % 8 }
    // at equal probe width the composition loses only within-cell
    // resolution vs plain IVF (reconstruction error), never cluster
    // membership on well-separated clusters — recall must track the
    // IVF baseline, not collapse
    val ivf = clusterHits(Similarity.ivfTopK(corpus, queries, 3,
      nlist = 8, nprobe = 2))
    val ivfpq = clusterHits(Similarity.ivfPqTopK(corpus, queries, 3,
      nprobe = 2, coarse, cb))
    assert(ivf >= 20, s"ivf baseline degenerate: $ivf/24")
    assert(ivfpq >= ivf - 2, s"ivfpq $ivfpq vs ivf $ivf")
    // scores are valid cosines and per-query results are ranked
    val out = Similarity.ivfPqTopK(corpus, queries, 3,
      nprobe = 2, coarse, cb)
      .select("q_id", "rank", "cosine_sim")
      .as[(Long, Long, Double)].collect()
    assert(out.forall(r => r._3 >= -1.0001 && r._3 <= 1.0001))
    out.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted === (1L to rs.length))
    }
  }

  test("IVFPQ index loop: advance == rebuild, probe-after-advance == in-query") {
    // the production loop's invariant (the Dedup advance*Index bar):
    // an index advanced batch-by-batch against FROZEN artifacts must
    // equal the index rebuilt from scratch, row for row — and probing
    // either must equal the in-query ivfPqTopK composition exactly
    val rnd = new scala.util.Random(9)
    val base = (0 until 8).map { c =>
      Array.tabulate(8)(i => if (i == c) 1f else 0f)
    }
    val all = (0 until 64).map { i =>
      val v = base(i % 8).clone()
      (0 until 8).foreach(j => v(j) += (rnd.nextFloat() - 0.5f) * 0.1f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val a = all.filter(col("vec_id") < 48)   // the initial corpus
    val b = all.filter(col("vec_id") >= 48)  // the arriving batch
    // artifacts frozen at the initial fit — arrivals encode against
    // them, exactly the production contract
    val (coarse, cb) = Similarity.fitIvfPq(a, "vec_id", "embedding",
      dims = 8, nlist = 8, m = 4, ksub = 4, iters = 2, seed = 42L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("corpus_id", "cell", "codes")
        .as[(Long, Int, Seq[Int])].collect().toSet
    val rebuilt = Similarity.buildIvfPqIndex(all, coarse, cb,
      "vec_id", "embedding")
    assert(rebuilt.columns.toSeq === Seq("corpus_id", "cell", "codes"))
    val advanced = Similarity.advanceIvfPqIndex(
      Similarity.buildIvfPqIndex(a, coarse, cb, "vec_id", "embedding"),
      b, coarse, cb, "vec_id", "embedding")
    assert(rows(advanced) === rows(rebuilt))
    // re-advancing the same batch (at-least-once replay) changes nothing
    assert(rows(Similarity.advanceIvfPqIndex(advanced, b, coarse, cb,
      "vec_id", "embedding")) === rows(rebuilt))
    // probing advanced == probing rebuilt == the in-query composition
    val queries = all.filter(col("vec_id") < 4)
    def topk(idx: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqProbeIndex(idx, queries, 3, nprobe = 2, coarse, cb)
        .select("q_id", "rank", "n_id", "cosine_sim")
        .as[(Long, Long, Long, Double)].collect().toSet
    val viaRebuilt = topk(rebuilt)
    assert(topk(advanced) === viaRebuilt)
    assert(viaRebuilt ===
      Similarity.ivfPqTopK(all, queries, 3, nprobe = 2, coarse, cb)
        .select("q_id", "rank", "n_id", "cosine_sim")
        .as[(Long, Long, Long, Double)].collect().toSet)
  }

  test("incremental semantic dedup: duplicates flag and drop, novelty " +
      "admits, probe∘advance == rebuild, replay-idempotent") {
    // the EMBEDDING member of the incremental-index family, pinned to
    // the four-text-family convention (DedupSpec's advance == rebuild
    // bar): arrivals probe a maintained IVFPQ index + corpus table,
    // duplicates are flagged against the indexed member (keep-first),
    // novel vectors fold into BOTH halves of the state, and the
    // advanced state is row-identical to a from-scratch rebuild
    val rnd = new scala.util.Random(31)
    def jitter(c: Int): Array[Float] = {
      val v = Array.tabulate(8)(i => if (i == c) 1f else 0f)
      (0 until 8).foreach(j => v(j) += (rnd.nextFloat() - 0.5f) * 0.1f)
      v
    }
    val corpus0 = (0 until 48).map(i => (i.toLong, jitter(i % 8)))
      .toDF("vec_id", "embedding")
    // batch 1: 4 near-duplicates of corpus clusters 0..3 and 4 NOVEL
    // vectors — equal mixtures of two adjacent cluster directions:
    // cosine ≈ 0.71 to their nearest corpus cluster (below minSim, so
    // nothing flags them) yet still INSIDE the frozen quantizer's
    // representable space, so their codes reconstruct well enough for
    // a later copy to pass the ADC prefilter (a negated/off-manifold
    // novel vector would be admitted but invisible to future probes —
    // the documented frozen-artifact recall caveat)
    def mix(c: Int): Array[Float] = {
      val v = jitter(c)
      val w = Array.tabulate(8)(j =>
        ((v(j) + (if (j == (c + 1) % 8) 1f else 0f)) / math.sqrt(2.0))
          .toFloat)
      w
    }
    val b1 = ((100 until 104).map(i => (i.toLong, jitter(i % 4))) ++
      (104 until 108).map(i => (i.toLong, mix(i % 4))))
      .toDF("vec_id", "embedding")
    val (coarse, cb) = Similarity.fitIvfPq(corpus0, "vec_id",
      "embedding", dims = 8, nlist = 8, m = 4, ksub = 4, iters = 2,
      seed = 42L)
    val idx0 = Similarity.buildIvfPqIndex(corpus0, coarse, cb,
      "vec_id", "embedding")
    val (flags1, idx1, corp1) = Similarity.semanticProbeAdmitAdvance(
      b1, idx0, corpus0, coarse, cb, candSim = 0.5, minSim = 0.9)
    val flagged1 = flags1.select("new_id").distinct()
      .as[Long].collect().toSet
    assert(flagged1 === Set(100L, 101L, 102L, 103L),
      "duplicates flag, novelty does not")
    // every flag names an indexed duplicate at high exact cosine
    val fr = flags1.select("new_id", "dup_of", "cosine_sim")
      .as[(Long, Long, Double)].collect()
    assert(fr.forall(_._3 >= 0.9))
    assert(fr.forall(r => r._2 < 48L))
    // advanced corpus = corpus ∪ novel only
    assert(corp1.select("vec_id").as[Long].collect().toSet ===
      (0L until 48L).toSet ++ Set(104L, 105L, 106L, 107L))
    // advanced index == index rebuilt from scratch over the advanced
    // corpus with the SAME frozen artifacts
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("corpus_id", "cell", "codes")
        .as[(Long, Int, Seq[Int])].collect().toSet
    assert(rows(idx1) === rows(Similarity.buildIvfPqIndex(corp1,
      coarse, cb, "vec_id", "embedding")))
    // probe AFTER advance == probe against the rebuild: batch 2 holds
    // a near-copy of a vector admitted in batch 1 — only a LIVE
    // advanced index can flag it
    val b2 = Seq((200L,
      corp1.filter(col("vec_id") === 104L)
        .select("embedding").as[Array[Float]].head()))
      .toDF("vec_id", "embedding")
    def probe(idx: org.apache.spark.sql.DataFrame,
        corp: org.apache.spark.sql.DataFrame) =
      Similarity.incrementalSemanticDups(b2, idx, corp, coarse, cb,
          candSim = 0.5, minSim = 0.9)
        .select("new_id", "dup_of", "cosine_sim")
        .as[(Long, Long, Double)].collect().toSet
    val viaAdvance = probe(idx1, corp1)
    assert(viaAdvance.exists(r => r._1 === 200L && r._2 === 104L),
      s"batch-2 copy of an admitted vector must flag against it: $viaAdvance")
    assert(viaAdvance === probe(Similarity.buildIvfPqIndex(corp1,
      coarse, cb, "vec_id", "embedding"), corp1))
    // replaying batch 1 (at-least-once upstream) changes neither half:
    // its duplicates re-flag, its novel ids now match THEMSELVES in
    // the index (excluded) and dedup out of the corpus union
    val (_, idx1r, corp1r) = Similarity.semanticProbeAdmitAdvance(
      b1, idx1, corp1, coarse, cb, candSim = 0.5, minSim = 0.9)
    assert(rows(idx1r) === rows(idx1))
    assert(corp1r.count() === corp1.count())
  }

  test("deleteFromIvfPqIndex: delete∘advance == rebuild over " +
      "corpus∖ids with the same frozen artifacts; probe-equal") {
    val rnd = new scala.util.Random(23)
    val all = (0 until 48).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val a = all.filter(col("vec_id") < 40)
    val b = all.filter(col("vec_id") >= 40)
    val (coarse, cb) = Similarity.fitIvfPq(a, "vec_id", "embedding",
      dims = 8, nlist = 4, m = 4, ksub = 4, iters = 2, seed = 7L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("corpus_id", "cell", "codes")
        .as[(Long, Int, Seq[Int])].collect().toSet
    val dead = Seq(0L, 5L, 41L).toDF("vec_id")
    val deleted = Similarity.deleteFromIvfPqIndex(
      Similarity.advanceIvfPqIndex(
        Similarity.buildIvfPqIndex(a, coarse, cb, "vec_id", "embedding"),
        b, coarse, cb, "vec_id", "embedding"), dead)
    val rebuilt = Similarity.buildIvfPqIndex(
      all.where(!col("vec_id").isin(0L, 5L, 41L)), coarse, cb,
      "vec_id", "embedding")
    assert(rows(deleted) === rows(rebuilt), "delete == rebuild")
    // idempotent; unknown ids are a no-op
    assert(rows(Similarity.deleteFromIvfPqIndex(deleted,
      Seq(0L, 999L).toDF("vec_id"))) === rows(rebuilt))
    // probing the vacuumed index == probing the rebuild, and deleted
    // vectors can never surface as neighbors
    val queries = all.filter(col("vec_id") < 3)
    def topk(idx: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqProbeIndex(idx, queries, 3, nprobe = 2, coarse, cb)
        .select("q_id", "rank", "n_id", "cosine_sim")
        .as[(Long, Long, Long, Double)].collect().toSet
    val got = topk(deleted)
    assert(got === topk(rebuilt))
    assert(got.forall(r => !Set(0L, 5L, 41L).contains(r._3)))
  }

  test("IVFPQ index round-trips through parquet (the persisted shape)") {
    // the production claim is "persist the index, probe forever" — so
    // prove the parquet round-trip: write, read back, probe-equal
    val rnd = new scala.util.Random(17)
    val corpus = (0 until 32).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val (coarse, cb) = Similarity.fitIvfPq(corpus, "vec_id", "embedding",
      dims = 8, nlist = 4, m = 4, ksub = 4, iters = 1, seed = 5L)
    val idx = Similarity.buildIvfPqIndex(corpus, coarse, cb,
      "vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_idx").toString
    idx.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val queries = corpus.filter(col("vec_id") < 3)
    def topk(i: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqProbeIndex(i, queries, 3, nprobe = 2, coarse, cb)
        .select("q_id", "rank", "n_id", "cosine_sim")
        .as[(Long, Long, Long, Double)].collect().toSet
    assert(topk(back) === topk(idx))
    // and the advance works on the read-back frame too
    assert(Similarity.advanceIvfPqIndex(back,
        corpus.limit(0), coarse, cb, "vec_id", "embedding").count()
      === idx.count())
    // probing EVERY cell turns the indexed probe into the compressed
    // brute force: result equals pqAdcTopK exactly (the sim_ann_pq /
    // sim_ann_pq_probe shared-oracle identity)
    assert(Similarity.ivfPqProbeIndex(idx, queries, 3, nprobe = 4,
        coarse, cb)
      .select("q_id", "rank", "n_id", "cosine_sim")
      .as[(Long, Long, Long, Double)].collect().toSet ===
      Similarity.pqAdcTopK(corpus, queries, 3, cb)
        .select("q_id", "rank", "n_id", "cosine_sim")
        .as[(Long, Long, Long, Double)].collect().toSet)
    // the fit ARTIFACTS round-trip too: save as a table, load, and the
    // reconstructed quantizer is bit-identical (probe equality follows)
    val adir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_art").toString
    Similarity.artifactsToDf(spark, coarse, cb)
      .write.mode("overwrite").parquet(adir)
    val (c2, cb2) = Similarity.artifactsFromDf(spark.read.parquet(adir))
    assert(c2.map(_.toSeq).toSeq === coarse.map(_.toSeq).toSeq)
    assert(cb2.map(_.map(_.toSeq).toSeq).toSeq ===
      cb.map(_.map(_.toSeq).toSeq).toSeq)
    assert(Similarity.ivfPqProbeIndex(back, queries, 3, nprobe = 2,
        c2, cb2)
      .select("q_id", "rank", "n_id", "cosine_sim")
      .as[(Long, Long, Long, Double)].collect().toSet === topk(idx))
  }

  test("nearDupPairsIvf: exact-subset semantics, full recall at nlist=1") {
    val rnd = new scala.util.Random(13)
    val base = (0 until 4).map { c =>
      Array.tabulate(8)(i => if (i == c * 2 || i == c * 2 + 1) 1f else 0f)
    }
    val corpus = (0 until 32).map { i =>
      val v = base(i % 4).clone()
      (0 until 8).foreach(j => v(j) += (rnd.nextFloat() - 0.5f) * 0.1f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    // ground truth: brute-force all-pairs exact cosine at the threshold
    val a = corpus.select(col("vec_id").as("a_id"),
      col("embedding").as("av"))
    val b = corpus.select(col("vec_id").as("b_id"),
      col("embedding").as("bv"))
    val brute = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("sim", graft.functions.VectorFns.cosine(
        col("av"), col("bv")))
      .filter(col("sim") >= 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(brute.size >= 28, s"fixture degenerate: ${brute.size} pairs")
    val (coarse, cb) = Similarity.fitIvfPq(corpus, "vec_id", "embedding",
      dims = 8, nlist = 4, m = 4, ksub = 4, iters = 2, seed = 42L)
    def pairs(nl: Array[Array[Float]], cand: Double) =
      Similarity.nearDupPairsIvf(corpus, nl, cb, cand, 0.8)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // cell-blocked candidates + exact refine can only MISS pairs
    // (cell-boundary straddlers), never invent them
    val blocked = pairs(coarse, -2.0)
    assert(blocked.subsetOf(brute))
    assert(blocked.size >= brute.size / 2, // well-separated clusters: high recall
      s"recall collapsed: ${blocked.size}/${brute.size}")
    // degenerate single cell + no ADC prefilter == the brute force
    val oneCell = Similarity.fitIvfPq(corpus, "vec_id", "embedding",
      dims = 8, nlist = 1, m = 4, ksub = 4, iters = 1, seed = 42L)._1
    assert(pairs(oneCell, -2.0) === brute)
  }

  test("PQ/IVF degenerate edges: tiny corpus trims, zero-norm cell unpicked") {
    // corpus smaller than ksub: codebooks come back SHORTER (the
    // fitCentroids limit(k) shape), never null-padded, and encoding
    // against them works
    val tiny = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 1f))
    ).toDF("vec_id", "embedding")
    val cb = Similarity.fitPqCodebooks(tiny, "vec_id", "embedding",
      dims = 4, m = 2, ksub = 8, iters = 1, seed = 1L)
    assert(cb.length === 2 && cb.forall(_.length === 3))
    val codes = tiny.select(Similarity.pqEncode(col("embedding"), cb))
      .as[Seq[Int]].collect()
    assert(codes.forall(cs => cs.length == 2 &&
      cs.forall(c => c >= 0 && c < 3)))
    // a zero-norm coarse centroid must never win corpus assignment
    // (its cosine is pinned to -inf, the window form's NULLS LAST):
    // with cell 0 dead, every corpus row lands in cell 1 and results
    // equal the single-cell scan
    val coarse = Array(Array(0f, 0f, 0f, 0f), Array(1f, 1f, 1f, 1f))
    val out = Similarity.ivfPqTopK(tiny, tiny.filter(col("vec_id") === 1), 2,
      nprobe = 2, coarse, cb)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (1L, 3L))) // all corpus reachable
  }

  test("pqEncode matches a driver-side argmin reference on random inputs") {
    // randomized cross-check of the literal-codebook expression against
    // an independent Scala replay of its own contract (d = ‖c‖² −
    // Σ subᵢ·2centᵢ left-to-right, ties to the lower code) — sparse
    // vectors included (1-in-5 zero coordinates, so some sub-slices go
    // all-zero: the L2 rule's motivating case)
    val rnd = new scala.util.Random(11)
    val m = 4; val dsub = 4; val ksub = 5
    val cb: Array[Array[Array[Float]]] =
      Array.fill(m, ksub, dsub)(rnd.nextFloat() - 0.5f)
    val vecs = (0 until 40).map(i => (i.toLong,
      Array.fill(m * dsub)(
        if (rnd.nextInt(5) == 0) 0f else rnd.nextFloat() - 0.5f)))
    val got = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), cb).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    vecs.foreach { case (id, v) =>
      val want = (0 until m).map { j =>
        val sub = v.slice(j * dsub, (j + 1) * dsub)
        val ds = cb(j).map { cent =>
          val cn2 = cent.map(x => x.toDouble * x).sum
          cn2 - sub.indices.map(i => sub(i).toDouble * (2.0 * cent(i))).sum
        }
        ds.indices.minBy(c => (ds(c), c))
      }
      assert(got(id) === want, s"vec $id")
    }
  }

  test("index health report: drifted advance trips refit, refit recovers") {
    val rnd = new scala.util.Random(13)
    val base = (0 until 8).map { c =>
      Array.tabulate(8)(i => if (i == c) 1f else 0f)
    }
    val corpus = (0 until 64).map { i =>
      val v = base(i % 8).clone()
      (0 until 8).foreach(j => v(j) += (rnd.nextFloat() - 0.5f) * 0.1f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val (coarse, cb) = Similarity.fitIvfPq(corpus, "vec_id", "embedding",
      dims = 8, nlist = 8, m = 4, ksub = 8, iters = 2, seed = 42L)
    val idx = Similarity.buildIvfPqIndex(corpus, coarse, cb,
      "vec_id", "embedding")
    val report = Similarity.ivfPqIndexReport(idx, corpus, cb, nlist = 8)
    // SELF-CALIBRATED thresholds (the production pattern: baseline the
    // report at fit time, alert on departures): the fit corpus's own
    // worst cell plus a margin. Everything below is deterministic
    // (fixed seeds, md5-ordered init), so the margins are exact
    val healthy = Similarity.ivfPqIndexHealth(report).head()
    val healthyWorst = healthy.getAs[Double]("max_cell_avg_residual")
    val resBar = healthyWorst + 0.05
    assert(!Similarity.ivfPqNeedsRefit(report, maxSkew = 4.0,
      maxAvgResidual = resBar))
    assert(healthy.getAs[Long]("n_cells_used") >= 6)

    // DRIFT: 64 arrivals all in one direction the fit never saw
    // (negative diagonal) — they pile into one frozen cell (skew) and
    // the frozen codebooks cannot reconstruct them (residual)
    val drift = (100 until 164).map { i =>
      val v = Array.tabulate(8)(_ => -1f)
      (0 until 8).foreach(j => v(j) += (rnd.nextFloat() - 0.5f) * 0.05f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val grown = corpus.unionByName(drift)
    val advanced = Similarity.advanceIvfPqIndex(idx, drift, coarse, cb,
      "vec_id", "embedding")
    val driftedReport = Similarity.ivfPqIndexReport(advanced, grown, cb,
      nlist = 8)
    assert(Similarity.ivfPqNeedsRefit(driftedReport, maxSkew = 4.0,
      maxAvgResidual = resBar),
      "planted drift did not trip the refit threshold")
    val drifted = Similarity.ivfPqIndexHealth(driftedReport).head()
    // BOTH signals fire independently: the drift cell holds 64+8 of
    // 128 rows (skew 4.5 > 4) and reconstructs at ~0.87 relative
    // residual — far beyond the healthy worst cell
    assert(drifted.getAs[Double]("max_skew") > 4.0)
    assert(drifted.getAs[Double]("max_cell_avg_residual") > resBar)

    // REFIT on the grown corpus: the rebuilt index probes identically
    // to a from-scratch build, skew normalizes (Lloyd splits the
    // drifted mass across cells), and the worst-cell reconstruction
    // improves — the drifted direction now owns codebook mass
    val (coarse2, cb2) = Similarity.fitIvfPq(grown, "vec_id", "embedding",
      dims = 8, nlist = 8, m = 4, ksub = 8, iters = 2, seed = 42L)
    val refitIdx = Similarity.buildIvfPqIndex(grown, coarse2, cb2,
      "vec_id", "embedding")
    val q = grown.filter(col("vec_id") < 4)
    val viaIndex = Similarity.ivfPqProbeIndex(refitIdx, q, 3,
        nprobe = 2, coarse2, cb2)
      .select("q_id", "rank", "n_id").as[(Long, Long, Long)].collect().toSet
    val inQuery = Similarity.ivfPqTopK(grown, q, 3, nprobe = 2,
        coarse2, cb2)
      .select("q_id", "rank", "n_id").as[(Long, Long, Long)].collect().toSet
    assert(viaIndex === inQuery)
    val after = Similarity.ivfPqIndexHealth(
      Similarity.ivfPqIndexReport(refitIdx, grown, cb2, nlist = 8)).head()
    assert(after.getAs[Double]("max_skew") <= 4.0,
      "refit did not normalize cell skew")
    assert(after.getAs[Double]("max_cell_avg_residual") <
      drifted.getAs[Double]("max_cell_avg_residual") - 0.1,
      "refit did not improve worst-cell reconstruction")
    // the drifted mass itself now reconstructs nearly perfectly: the
    // cells holding the 64 arrivals sit at ~0.01 residual
    val refitCells = Similarity.ivfPqIndexReport(refitIdx, grown, cb2,
        nlist = 8)
      .select("cell", "n_vecs", "avg_residual")
      .as[(Int, Long, Double)].collect()
    assert(refitCells.filter(_._3 < 0.05).map(_._2).sum >= 60L,
      "drifted arrivals did not gain codebook mass after refit")

    // two-flavor agreement (algebraic vs ordered fold)
    val a = report.select("cell", "avg_residual")
      .as[(Int, Double)].collect().toMap
    val p = Similarity.ivfPqIndexReportPortable(idx, corpus, cb, nlist = 8)
      .select("cell", "avg_residual").as[(Int, Double)].collect().toMap
    assert(a.keySet === p.keySet)
    a.foreach { case (c, v) => assert(math.abs(v - p(c)) < 1e-9, s"cell $c") }
  }

  test("maintainIvfPqIndex: benign arrivals advance, drift refits " +
      "mid-loop, post-refit probes == fresh fit") {
    val rnd = new scala.util.Random(13)
    val base = (0 until 8).map { c =>
      Array.tabulate(8)(i => if (i == c) 1f else 0f)
    }
    def around(i: Int, spread: Float) = {
      val v = base(i % 8).clone()
      (0 until 8).foreach(j => v(j) += (rnd.nextFloat() - 0.5f) * spread)
      v
    }
    val corpus = (0 until 64).map(i => (i.toLong, around(i, 0.1f)))
      .toDF("vec_id", "embedding")
    val (coarse, cb) = Similarity.fitIvfPq(corpus, "vec_id", "embedding",
      dims = 8, nlist = 8, m = 4, ksub = 8, iters = 2, seed = 42L)
    val state0 = Similarity.IvfPqState(coarse, cb,
      Similarity.buildIvfPqIndex(corpus, coarse, cb, "vec_id", "embedding"))
    // self-calibrated residual bar (the drift test's production pattern)
    val resBar = Similarity.ivfPqIndexHealth(
        Similarity.ivfPqIndexReport(state0.index, corpus, cb, nlist = 8))
      .head().getAs[Double]("max_cell_avg_residual") + 0.05

    // STEP 1 — benign arrivals (same distribution): no refit, the
    // index is the pure advance, artifacts untouched
    val benign = (100 until 116).map(i => (i.toLong, around(i, 0.1f)))
      .toDF("vec_id", "embedding")
    val grown1 = corpus.unionByName(benign)
    val m1 = Similarity.maintainIvfPqIndex(state0, grown1, benign,
      "vec_id", "embedding", dims = 8, nlist = 8, m = 4, ksub = 8,
      iters = 2, seed = 42L, maxAvgResidual = resBar)
    assert(!m1.refitted && m1.state.refitCount === 0L)
    assert(m1.state.coarse eq state0.coarse)
    assert(m1.state.index.count() === 80L)

    // STEP 2 — drift-heavy arrivals: the trigger trips INSIDE the
    // loop and the returned state is a full refit of the grown corpus
    val drift = (200 until 264).map { i =>
      val v = Array.tabulate(8)(_ => -1f)
      (0 until 8).foreach(j => v(j) += (rnd.nextFloat() - 0.5f) * 0.05f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val grown2 = grown1.unionByName(drift)
    val m2 = Similarity.maintainIvfPqIndex(m1.state, grown2, drift,
      "vec_id", "embedding", dims = 8, nlist = 8, m = 4, ksub = 8,
      iters = 2, seed = 42L, maxAvgResidual = resBar)
    assert(m2.refitted && m2.state.refitCount === 1L)
    assert(m2.health.getAs[Boolean]("needs_refit"))

    // the refit state IS a fresh fit of the grown corpus: identical
    // artifacts, identical probe results
    val (coarseF, cbF) = Similarity.fitIvfPq(grown2, "vec_id",
      "embedding", dims = 8, nlist = 8, m = 4, ksub = 8, iters = 2,
      seed = 42L)
    assert(m2.state.coarse.map(_.toSeq).toSeq === coarseF.map(_.toSeq).toSeq)
    val q = grown2.filter(col("vec_id") < 4)
    def probes(st: Similarity.IvfPqState,
        c2: Array[Array[Float]], cb2: Array[Array[Array[Float]]]) =
      Similarity.ivfPqProbeIndex(st.index, q, 3, nprobe = 2, c2, cb2)
        .select("q_id", "rank", "n_id").as[(Long, Long, Long)]
        .collect().toSet
    val fresh = Similarity.buildIvfPqIndex(grown2, coarseF, cbF,
      "vec_id", "embedding")
    assert(probes(m2.state, m2.state.coarse, m2.state.codebooks) ===
      Similarity.ivfPqProbeIndex(fresh, q, 3, nprobe = 2, coarseF, cbF)
        .select("q_id", "rank", "n_id").as[(Long, Long, Long)]
        .collect().toSet)
    // and the refit recovered: skew normalized, worst-cell
    // reconstruction well under the drifted reading (the absolute bar
    // re-calibrates against the new fit, the documented pattern —
    // the grown corpus's own geometry sets its own baseline)
    val after = Similarity.ivfPqIndexHealth(
      Similarity.ivfPqIndexReport(m2.state.index, grown2,
        m2.state.codebooks, nlist = 8)).head()
    assert(after.getAs[Double]("max_skew") <= 4.0)
    assert(after.getAs[Double]("max_cell_avg_residual") <
      m2.health.getAs[Double]("max_cell_avg_residual") - 0.1)
  }

  test("maintainIvfPqIndex: empty first tick measures nothing and " +
      "does not refit (no NPE on the null health row)") {
    val empty = Seq.empty[(Long, Array[Float])]
      .toDF("vec_id", "embedding")
    val coarse = Array(Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
    val cb = Array.fill(4)(Array(Array(0f, 0f)))
    val st = Similarity.IvfPqState(coarse, cb,
      Similarity.buildIvfPqIndex(empty, coarse, cb, "vec_id", "embedding"))
    val m = Similarity.maintainIvfPqIndex(st, empty, empty,
      "vec_id", "embedding", dims = 8, nlist = 1, m = 4, ksub = 1,
      iters = 1, seed = 1L)
    assert(!m.refitted && m.state.refitCount === 0L)
    assert(m.health.isNullAt(m.health.fieldIndex("needs_refit")))
  }

  test("clusteredEmbeddings: well-separated deterministic clusters, " +
      "and ANN recall on them clears the sim_ann_recall_clustered " +
      "floors with margin (the floors are meaningful, not vacuous)") {
    val emb = Similarity.clusteredEmbeddings(
      spark.range(112).toDF("id"), "id", dims = 64, nClusters = 16)
      .persist()
    try {
      // structure sanity: exact top-5 of each query is ENTIRELY within
      // its own 7-member cluster (in-cluster cosine >> cross-cluster)
      val q = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, q, 5)
      val offCluster = exact.filter(
        col("q_id") % 16 =!= col("n_id") % 16).count()
      assert(offCluster === 0L)
      assert(exact.count() === 50L)

      val (coarse, cb) = Similarity.fitIvfPq(emb, "vec_id", "embedding",
        dims = 64, nlist = 16, m = 4, ksub = 8, iters = 2, seed = 42L)
      val idx = Similarity.buildIvfPqIndex(emb, coarse, cb,
        "vec_id", "embedding")
      val adcFull = Similarity.ivfPqProbeIndex(idx, q, 5, nprobe = 16,
        coarse, cb)
      val ivfpq = Similarity.ivfPqProbeIndex(idx, q, 5, nprobe = 4,
        coarse, cb)
      val ivf = Similarity.ivfTopK(emb, q, 5, nlist = 16, nprobe = 4)
      def recallPct(truth: org.apache.spark.sql.DataFrame,
          approx: org.apache.spark.sql.DataFrame): Long = {
        val t = truth.select("q_id", "n_id")
        t.join(approx.select("q_id", "n_id"),
          Seq("q_id", "n_id"), "left_semi").count() * 100L / t.count()
      }
      val ivfR = recallPct(exact, ivf)
      val pruneR = recallPct(adcFull, ivfpq)
      val quantR = recallPct(exact, adcFull)
      val e2eR = recallPct(exact, ivfpq)
      info(s"measured recalls: ivf=$ivfR pruning=$pruneR " +
        s"quantization=$quantR end_to_end=$e2eR")
      // floors in sim_ann_recall_clustered: 70 / 50 / 50 / 50 — each
      // measured value must clear its floor by >= 10 points so normal
      // jitter cannot flip the oracle-gated booleans
      assert(ivfR >= 80, s"ivf recall $ivfR")
      assert(pruneR >= 60, s"pruning recall $pruneR")
      assert(quantR >= 60, s"quantization recall $quantR")
      assert(e2eR >= 60, s"end-to-end recall $e2eR")
    } finally emb.unpersist()
  }

  test("srpBucket is deterministic and splits opposite vectors") {
    val df = Seq((Array(1f, 0f, 0f, 0f), Array(-1f, 0f, 0f, 0f)))
      .toDF("a", "b")
    val (ba, bb) = df.select(
      Similarity.srpBucket(col("a"), 4, 8),
      Similarity.srpBucket(col("b"), 4, 8)).as[(String, String)].head()
    assert(ba.length === 8 && bb.length === 8)
    assert(ba !== bb) // antipodal vectors differ on every non-boundary plane
  }

  test("rrfFuse: hand-checkable fusion, missing legs contribute zero") {
    // leg A ranks docs 1,2,3; leg B ranks 2,1,4 — doc 2 should win
    // (1/61 + 1/62 > 1/61 + 1/62? no: doc1 = 1/61 + 1/62, doc2 =
    // 1/62 + 1/61 — a TIE by symmetry, broken by id), then docs 3, 4
    // on single-leg contributions with the rank-3 tie broken by id
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "r")
    val b = Seq((2L, 1L), (1L, 2L), (4L, 3L)).toDF("id", "r")
    val out = Similarity.rrfFuse(Seq("lex" -> a, "dense" -> b),
      "id", "r", topN = 10).collect()
    assert(out.map(_.getAs[Long]("id")).toSeq === Seq(1L, 2L, 3L, 4L))
    val top = out.head
    assert(top.getAs[Long]("rank_lex") === 1L)
    assert(top.getAs[Long]("rank_dense") === 2L)
    assert(math.abs(top.getAs[Double]("rrf") -
      (1.0 / 61 + 1.0 / 62)) < 1e-15)
    // single-leg docs: the missing leg's rank is null, score = one term
    val d3 = out(2)
    assert(d3.getAs[Long]("id") === 3L)
    assert(d3.isNullAt(d3.fieldIndex("rank_dense")))
    assert(math.abs(d3.getAs[Double]("rrf") - 1.0 / 63) < 1e-15)
    // topN truncates by (score desc, id)
    val top2 = Similarity.rrfFuse(Seq("lex" -> a, "dense" -> b),
      "id", "r", topN = 2).collect()
    assert(top2.map(_.getAs[Long]("id")).toSeq === Seq(1L, 2L))
    // duplicate leg names refuse loudly
    assertThrows[IllegalArgumentException] {
      Similarity.rrfFuse(Seq("x" -> a, "x" -> b), "id", "r", 5)
    }
  }

  test("rrfFuse: a duplicated id within a leg contributes its best " +
      "rank once, never a double score") {
    val clean = Seq((1L, 1L), (2L, 2L)).toDF("id", "r")
    // dirty leg: id 1 appears at ranks 1 AND 3 (an upstream bug the
    // fuser must not amplify — pre-fix it summed both terms while
    // rank_dirty showed only max(rank))
    val dirty = Seq((1L, 1L), (1L, 3L), (2L, 2L)).toDF("id", "r")
    val fusedDirty = Similarity.rrfFuse(Seq("leg" -> dirty), "id", "r",
      topN = 10).collect()
    val fusedClean = Similarity.rrfFuse(Seq("leg" -> clean), "id", "r",
      topN = 10).collect()
    def byId(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("rank_leg"), r.getAs[Double]("rrf")))).toMap
    assert(byId(fusedDirty) === byId(fusedClean),
      "dedupe to min rank: the dup row must change nothing")
    assert(byId(fusedDirty)(1L) === ((1L, 1.0 / 61)))
  }

  test("sqEncode: codes hit the range endpoints exactly, constant dims " +
      "code to 0, and a perfectly-grid-aligned corpus reconstructs " +
      "losslessly") {
    // dim0 spans [0, 255] on integer grid points -- SQ8 on a 255-wide
    // range is exact; dim1 is constant
    val df = Seq((1L, Seq(0f, 7f)), (2L, Seq(255f, 7f)),
        (3L, Seq(51f, 7f))).toDF("id", "vec")
    val ranges = Similarity.fitSqRanges(df, "vec")
    assert(ranges.toSeq == Seq((0.0, 255.0), (7.0, 7.0)))
    val out = Similarity.sqEncode(df, "id", "vec", ranges).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[scala.collection.Seq[Long]]("codes").toSeq, r.getAs[Long]("checksum"),
          r.getAs[Double]("max_abs_err"), r.getAs[Double]("mse")))).toMap
    assert(out(1L) == ((Seq(0L, 0L), 0L, 0.0, 0.0)))
    assert(out(2L) == ((Seq(255L, 0L), 255L, 0.0, 0.0)))
    assert(out(3L) == ((Seq(51L, 0L), 51L, 0.0, 0.0)))
  }

  test("sqEncode: off-grid values round to the nearest code and the " +
      "error stats bound the quantization step") {
    // range [0, 2]: step = 2/255; v = 1.0 -> 127.5 -> floor(+0.5) = 128
    val df = Seq((1L, Seq(0f)), (2L, Seq(2f)), (3L, Seq(1f)))
      .toDF("id", "vec")
    val ranges = Similarity.fitSqRanges(df, "vec")
    assert(ranges.toSeq == Seq((0.0, 2.0)))
    val out = Similarity.sqEncode(df, "id", "vec", ranges).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[scala.collection.Seq[Long]]("codes").toSeq, r.getAs[Double]("max_abs_err"))))
      .toMap
    assert(out(1L)._1 == Seq(0L) && out(2L)._1 == Seq(255L))
    assert(out(3L)._1 == Seq(128L))
    // dequant error of the midpoint is at most half a step
    val step = 2.0 / 255.0
    assert(out(3L)._2 <= step / 2 + 1e-12 && out(3L)._2 > 0.0)
    intercept[IllegalArgumentException](
      Similarity.sqEncode(df, "id", "vec", Array.empty))
  }

  test("matryoshkaTopK: prefix cosine reorders where the tail disagrees; " +
      "full-width truncation degenerates to bruteForceTopK") {
    import spark.implicits._
    // query q: prefix (first 2 dims) favors n=20, full vector favors
    // n=10 via the tail — truncation must flip the top-1
    val corpus = Seq(
      (10L, Array(1f, 0f, 10f, 10f)),
      (20L, Array(2f, 0.1f, -1f, 1f)),
      (30L, Array(-1f, -1f, -1f, -1f))).toDF("vec_id", "embedding")
    val q = Seq((1L, Array(2f, 0.1f, 5f, 5f))).toDF("vec_id", "embedding")
    val trunc = Similarity.matryoshkaTopK(corpus, q, 3, dims = 2)
      .orderBy(col("rank")).collect().map(_.getLong(2)).toSeq
    val full = Similarity.bruteForceTopK(corpus, q, 3)
      .orderBy(col("rank")).collect().map(_.getLong(2)).toSeq
    assert(trunc.head == 20L) // exact prefix match wins at 2 dims
    assert(full.head == 10L)  // the tail flips it at 4 dims
    // dims >= width: identical to the full scan, row for row
    val same = Similarity.matryoshkaTopK(corpus, q, 3, dims = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val ref = Similarity.bruteForceTopK(corpus, q, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(same == ref)
    intercept[IllegalArgumentException](
      Similarity.matryoshkaTopK(corpus, q, 3, dims = 0))
  }

  test("ndcgBinary: hand-computed gains, ideal normalization, " +
      "perfect ranking = 1.0, zero-relevant query stays NULL") {
    import spark.implicits._
    def l2(x: Double) = math.log(x) / math.log(2.0)
    val ranked = Seq(
      // q1: rel at ranks 1 and 3 of 5; 2 relevant exist in total
      (1L, 1L, true), (1L, 2L, false), (1L, 3L, true),
      (1L, 4L, false), (1L, 5L, false),
      // q2: perfect — both relevant docs at the top
      (2L, 1L, true), (2L, 2L, true), (2L, 3L, false),
      // q3: nothing relevant exists
      (3L, 1L, false), (3L, 2L, false))
      .toDF("q_id", "rank", "rel")
    // q4: labeled (n_rel = 1) but retrieval returned ZERO rows — must
    // still appear, scoring dcg 0 / ndcg 0, not silently drop
    val nRel = Seq((1L, 2L), (2L, 2L), (3L, 0L), (4L, 1L))
      .toDF("q_id", "n_rel")
    val out = Similarity.ndcgBinary(ranked, nRel, k = 5)
      .collect().map(r => (r.getLong(0), r)).toMap
    assert(out.contains(4L) && out(4L).getDouble(2) == 0.0 &&
      out(4L).getDouble(4) == 0.0)
    val ideal2 = 1.0 / l2(2.0) + 1.0 / l2(3.0)
    val dcg1 = 1.0 / l2(2.0) + 1.0 / l2(4.0)
    assert(out(1L).getDouble(2) ==
      BigDecimal(dcg1).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(out(1L).getDouble(3) ==
      BigDecimal(ideal2).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(out(2L).getDouble(4) == 1.0) // perfect ranking
    assert(out(3L).getDouble(2) == 0.0 && out(3L).isNullAt(4))
    intercept[IllegalArgumentException](
      Similarity.ndcgBinary(ranked, nRel, 0))
  }

  test("mrrAtK: first-relevant reciprocal ranks, empty retrieval " +
      "scores 0, zero-relevant stays NULL, mean row over defined " +
      "queries only") {
    import spark.implicits._
    val ranked = Seq(
      (1L, 1L, false), (1L, 2L, false), (1L, 3L, true), // first at 3
      (2L, 1L, true), (2L, 2L, true), // first at 1
      (3L, 1L, false), (3L, 2L, false), // nothing relevant exists
      (5L, 6L, true)) // relevant but BEYOND k -> counts as miss
      .toDF("q_id", "rank", "rel")
    val nRel = Seq((1L, 2L), (2L, 2L), (3L, 0L), (4L, 1L), (5L, 1L))
      .toDF("q_id", "n_rel")
    val out = Similarity.mrrAtK(ranked, nRel, k = 5)
      .collect().map(r => (r.getLong(0), r)).toMap
    assert(out(1L).getLong(2) == 3L && out(1L).getDouble(3) == 1.0 / 3)
    assert(out(2L).getLong(2) == 1L && out(2L).getDouble(3) == 1.0)
    assert(out(3L).isNullAt(2) && out(3L).isNullAt(3), "n_rel 0: NULL")
    assert(out(4L).isNullAt(2) && out(4L).getDouble(3) == 0.0,
      "empty retrieval: rr 0, row kept")
    assert(out(5L).isNullAt(2) && out(5L).getDouble(3) == 0.0,
      "relevant beyond k is a miss")
    // mean over defined queries: (1/3 + 1 + 0 + 0) / 4
    val want = BigDecimal((1.0 / 3 + 1.0) / 4)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(-1L).getDouble(3) == want)
    intercept[IllegalArgumentException](
      Similarity.mrrAtK(ranked, nRel, 0))
  }

  test("rboOverlap: identical lists hit the truncated max 1-p^k, " +
      "disjoint lists score 0 on the spine, hand-weighted partial") {
    import spark.implicits._
    def leg(rows: (Long, Long, Long)*) =
      rows.toDF("q_id", "rank", "n_id")
    val a = leg((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L),
      (2L, 1L, 10L), (2L, 2L, 20L),
      (3L, 1L, 77L))
    val b = leg((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L),
      (2L, 1L, 88L), (2L, 2L, 99L))
    val out = Similarity.rboOverlap(a, b, k = 3, p = 0.9)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .toMap
    val maxRbo = BigDecimal(1.0 - math.pow(0.9, 3))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((3L, maxRbo)))
    assert(out(2L) == ((0L, 0.0))) // disjoint, still reported
    assert(out(3L) == ((0L, 0.0))) // q only in leg A: spine keeps it
    // partial: A=[x,y], B=[y,z] at k=2, p=0.5 -> only y, m=2,
    // W(2) = (1-p)·p/2 = 0.125
    val pa = leg((9L, 1L, 1L), (9L, 2L, 2L))
    val pb = leg((9L, 1L, 2L), (9L, 2L, 3L))
    val partial = Similarity.rboOverlap(pa, pb, k = 2, p = 0.5)
      .collect().head
    assert(partial.getLong(1) == 1L && partial.getDouble(2) == 0.125)
    intercept[IllegalArgumentException](
      Similarity.rboOverlap(pa, pb, 2, 1.0))
    // a dirty leg (duplicated id) collapses to its BEST rank and
    // contributes once — the rrfFuse hardening
    val dirty = leg((9L, 1L, 1L), (9L, 2L, 1L)) // id 1 at ranks 1 AND 2
    val clean = leg((9L, 1L, 1L))
    val dd = Similarity.rboOverlap(dirty, clean, k = 2, p = 0.5)
      .collect().head
    assert(dd.getLong(1) == 1L && dd.getDouble(2) == 0.625) // W(1) once
  }

  test("semDedupAutoCells: nlist derives from corpus/targetCellSize " +
      "and the result equals semDedup over the same explicit fit") {
    // 30 vectors in 3 well-separated directions -> targetCellSize 10
    // must fit nlist = 3
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 30).map { i =>
      val axis = i % 3
      val v = Array.tabulate(8)(d =>
        (if (d == axis) 1f else 0f) + rnd.nextFloat() * 0.05f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val auto = Similarity.semDedupAutoCells(corpus, minSim = 0.95,
        targetCellSize = 10L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getLong(3), r.getBoolean(4))).toSet
    val manual = Similarity.semDedup(corpus,
        Similarity.fitCentroids(corpus, "vec_id", "embedding",
          nlist = 3, iters = 2, seed = 42L), minSim = 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getLong(3), r.getBoolean(4))).toSet
    assert(auto === manual)
    assert(auto.size === 30)
    // keep-set non-trivial: at least one cluster collapsed, and every
    // cluster keeps exactly one member
    assert(auto.count(_._5) < 30)
    auto.groupBy(_._4).foreach { case (_, rows) =>
      assert(rows.count(_._5) == 1)
    }
    intercept[IllegalArgumentException](
      Similarity.semDedupAutoCells(corpus, 0.9, targetCellSize = 0L))
  }

  test("semDedup: planted paraphrases collapse to ONE keep-low " +
      "survivor, singletons keep themselves, keep-set covers every " +
      "cluster exactly once") {
    // two hand-made cells (axis e1, axis e3); ids 0/1/2 are planted
    // paraphrases with DISTINCT centroid cosines (1.0 > ~0.98 > ~0.96)
    // so keep-low is determinate; 3 shares cell 0 but sits ~45 deg off
    // (below the 0.9 ball); 10/11 pair up in cell 1; 12 is cell 1's
    // below-threshold singleton
    val corpus = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.98f, 0.2f, 0f, 0f)),
      (2L, Array(0.96f, 0.28f, 0f, 0f)),
      (3L, Array(0.7f, 0.7f, 0f, 0f)),
      (10L, Array(0f, 0f, 1f, 0f)),
      (11L, Array(0f, 0f, 0.98f, 0.05f)),
      (12L, Array(0f, 0.6f, 0.8f, 0f))
    ).toDF("vec_id", "embedding")
    val coarse = Array(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val out = Similarity.semDedup(corpus, coarse, minSim = 0.9)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    // one output row per corpus vector; keep ids are corpus ids
    assert(out.keySet === Set(0L, 1L, 2L, 3L, 10L, 11L, 12L))
    // cells: the e1 family in cell 0, the e3 family in cell 1
    assert(Seq(0L, 1L, 2L, 3L).forall(out(_)._1 == 0))
    assert(Seq(10L, 11L, 12L).forall(out(_)._1 == 1))
    // the paraphrase ball is ONE cluster and its keeper is the member
    // FARTHEST from the centroid (lowest csim = id 2), per the paper
    assert(Seq(0L, 1L, 2L).map(out(_)._3).distinct.size == 1)
    assert(!out(0L)._4 && !out(1L)._4 && out(2L)._4)
    // 10/11 cluster together; 3 and 12 are singletons keeping themselves
    assert(out(10L)._3 == out(11L)._3)
    assert(out(3L)._3 == 3L && out(3L)._4)
    assert(out(12L)._3 == 12L && out(12L)._4)
    // exactly one keep per cluster — the keep-set IS the dedup result
    val byCluster = out.values.groupBy(_._3)
    byCluster.foreach { case (_, rows) =>
      assert(rows.count(_._4) == 1)
    }
    // csim sanity: the on-axis members score cosine 1.0 to their cell
    assert(math.abs(out(0L)._2 - 1.0) < 1e-9)
    assert(math.abs(out(10L)._2 - 1.0) < 1e-9)
  }
}
