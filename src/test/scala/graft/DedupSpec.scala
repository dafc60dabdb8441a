package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "  The  Quick   brown fox JUMPS over the lazy dog "), // same normalized
    (3L, "the quick brown fox jumps over the lazy cat"),       // near-dup
    (4L, "completely different content about spark engines here")
  ).toDF("doc_id", "text")

  test("exactDupGroups: normalization-equal docs share a group, keep min id") {
    val out = Dedup.exactDupGroups(docs, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("dedupStats counts distinct normalized contents") {
    val (total, distinct) = Dedup.dedupStats(docs, "text")
      .as[(Long, Long)].head()
    assert(total === 4L && distinct === 3L)
  }

  test("minhash signatures: equal docs equal, different docs differ") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(4L))
  }

  test("lshCandidatePairs finds exact and near duplicates, a < b") {
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", 8, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))       // identical: all bands collide
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near-dup
    pairs.foreach { case (a, b) => assert(a < b) }
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("withLshBandKeys matches lshBands keys bit-for-bit") {
    // the per-row (streaming-capable) banding must produce exactly the
    // batch aggregation's (id, band, band_hash) set — an index built by
    // lshBandIndex answers probes banded by withLshBandKeys
    val batch = Dedup.lshBands(docs, "doc_id", "text", 8, 4)
      .select("doc_id", "band", "band_hash")
      .as[(Long, Int, String)].collect().toSet
    val perRow = Dedup.withLshBandKeys(docs, "text", 8, 4)
      .select("doc_id", "band", "band_hash")
      .as[(Long, Int, String)].collect().toSet
    assert(perRow === batch)
    // reserved-column guard
    assertThrows[IllegalArgumentException] {
      Dedup.withLshBandKeys(docs.withColumn("band_hash", lit(1)),
        "text", 8, 4)
    }
  }

  test("minhashJaccardEstimate: signature agreement tracks exact jaccard") {
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", 16, 4)
    val est = Dedup.minhashJaccardEstimate(docs, pairs, "doc_id", "text", 16)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, e) => (a, b) -> e }.toMap
    // identical docs: every permutation minimum agrees
    assert(est((1L, 2L)) === 1.0)
    // estimates live on the m/k grid within [0, 1]
    est.values.foreach { e =>
      assert(e >= 0.0 && e <= 1.0 && (e * 16).isWhole)
    }
    // the near-dup pair's estimate is within the k=16 sampling noise
    // of its exact jaccard (deterministic fixture — no flakiness)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.0)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    est.filter { case (k2, _) => exact.contains(k2) }
      .foreach { case (k2, e) =>
        assert(math.abs(e - exact(k2)) <= 0.35, s"$k2: est $e vs ${exact(k2)}")
      }
  }

  test("jaccardPairs: identical docs = 1.0, near-dups high, ordered a < b") {
    val j = Dedup.jaccardPairs(docs, "doc_id", "text", 0.0)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((1L, 2L)) === 1.0)
    assert(j((1L, 3L)) > 0.5 && j((1L, 3L)) < 1.0)
    assert(!j.keySet.exists { case (a, b) => a >= b })
  }

  test("decontaminateSpans scrubs verbatim eval windows at any " +
      "alignment, keeps the rest") {
    val eval = Seq(
      (1L, "what is the capital of france"),
      (2L, "name the largest planet")).toDF("doc_id", "text")
    val train = Seq(
      // eval question embedded mid-document at shifted alignment
      (10L, "quiz intro what is the capital of france answer paris"),
      // clean doc: untouched even though it shares single words
      (11L, "france exports wine and the capital markets rally"),
      // fully contaminated: emptied but still present
      (12L, "name the largest planet")).toDF("doc_id", "text")
    val out = Dedup.decontaminateSpans(train, eval, "doc_id", "text",
        k = 4)
      .select("doc_id", "n_tokens", "n_kept", "text_clean")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // windows at pos 2..4 of doc 10 hit eval doc 1 → coverage 2..7;
    // survivors are the intro and the answer tail
    assert(out(10L) === ((10L, 4L, "quiz intro answer paris")))
    assert(out(11L) === ((8L, 8L,
      "france exports wine and the capital markets rally")))
    assert(out(12L) === ((4L, 0L, "")))

    // the EXACT (suffix-ordered) flavor agrees span-for-span on a
    // collision-free corpus — and its keys are the raw tokens, so
    // the agreement here doubly witnesses that no md5 collision
    // contributed a span above
    val exact = Dedup.decontaminateSpansExact(train, eval, "doc_id",
        "text", k = 4)
      .select("doc_id", "n_tokens", "n_kept", "text_clean")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(exact === out)
  }

  test("jaccardPairsPrefix == jaccardPairs row-for-row; prefix " +
      "postings genuinely shrink the index") {
    // wider corpus: dup pair, near-dup, sub-threshold overlap, noise,
    // PLUS a 4-deep byte-identical copy group (8,9,10 of doc 5) — the
    // duplicate-density shape that exercises the exact-set COLLAPSE
    // (cross-group pairs inherit the representatives' jaccard,
    // within-group pairs emit algebraically at 1.0; ids interleave
    // across groups so the least/greatest re-order is load-bearing)
    val corpus = (docs.as[(Long, String)].collect().toSeq ++ Seq(
      (5L, "the quick brown fox jumps over the lazy dog tonight"),
      (6L, "spark engines here differ completely from other content"),
      (7L, "totally unrelated words about weather and mountains peaks"),
      (8L, "the quick brown fox jumps over the lazy dog tonight"),
      (9L, "the quick brown fox jumps over the lazy dog tonight"),
      (10L, "the quick brown fox jumps over the lazy dog tonight")))
      .toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val full = Dedup.jaccardPairs(corpus, "doc_id", "text", t)
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.jaccardPairsPrefix(corpus, "doc_id", "text", t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref === full, s"flavor drift at t=$t")
      assert(full.nonEmpty || t > 0.5, s"vacuous corpus at t=$t")
    }
    // the efficiency claim measured on the IMPLEMENTATION's own
    // frames: the actual prefix posting rows the join runs on vs the
    // full inverted index's distinct posting rows
    val (docs8, prefixes8) =
      Dedup.prefixPostings(corpus, "doc_id", "text", 0.8, 0L)
    val fullPostings = docs8
      .select(explode(col("__toks"))).count()
    val prefixRows = prefixes8.count()
    assert(prefixRows < fullPostings,
      s"prefix postings ($prefixRows) not smaller than the full " +
        s"index ($fullPostings)")
  }

  test("jaccardPairs maxDocFreq drops ultra-common shingles") {
    // shingle shared by all 4 docs disappears at cap 3 -> no pair left
    val common = Seq(
      (1L, "alpha shared tail words"), (2L, "beta shared tail words"),
      (3L, "gamma shared tail words"), (4L, "delta shared tail words")
    ).toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairs(common, "doc_id", "text", 0.0)
    val capped = Dedup.jaccardPairs(common, "doc_id", "text", 0.0, maxDocFreq = 3)
    assert(uncapped.count() === 6L) // all pairs share "shared tail words"
    assert(capped.count() === 0L)
  }

  test("embeddingNearDupPairs: same-block pairs above threshold only") {
    val vecs = Seq(
      (1L, Array(1f, 0f), "x"), (2L, Array(0.99f, 0.14f), "x"), // cos ~ .99
      (3L, Array(0f, 1f), "x"),                                 // cos ~ 0 to 1
      (4L, Array(1f, 0f), "y")                                  // other block
    ).toDF("vec_id", "embedding", "label")
    val out = graft.operators.Dedup.embeddingNearDupPairs(
      vecs, "vec_id", "embedding", "label", 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L)))
  }

  test("simhash: equal docs equal; near-dup hamming < far-dup hamming") {
    val s = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(s(1L) === s(2L))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(s(1L), s(3L)) < ham(s(1L), s(4L)))
  }

  test("simhashPortable: equal docs equal, hamming monotone (like simhash)") {
    val s = Dedup.simhashPortable(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(s(1L) === s(2L))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(s(1L), s(3L)) < ham(s(1L), s(4L)))
  }

  test("withSimhashColumn matches the batch simhashPortable bit-for-bit") {
    // the per-row expression flavor (streaming: no explode, no groupBy)
    // and the batch explode+agg flavor must produce the SAME signature
    // on every tokenized doc — same hashes, same votes, same threshold
    val rnd = new scala.util.Random(17)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "Eta", "THETA", "iota", "kappa", "12", "345", "!", "?")
    val corpus = ((1 to 120).map { i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(40))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } :+ (999L, "")).toDF("doc_id", "text")
    val perRow = Dedup.withSimhashColumn(corpus, "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    val batch = Dedup.simhashPortable(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    batch.foreach { case (id, s) => assert(perRow(id) === s, s"doc $id") }
    assert(perRow(999L) === 0L) // no tokens → signature 0 (batch: no row)
    assert(!batch.contains(999L))
  }

  test("simhashNearDupPairs equals brute-force hamming pairs (pigeonhole)") {
    // a corpus with exact dups, near-dups, and unrelated docs
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, " THE  quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy cat tonight"),
      (4L, "the quick brown fox leaps over the lazy cat today"),
      (5L, "completely different content about spark engines here now"),
      (6L, "entirely unrelated words describing database internals deeply")
    ).toDF("doc_id", "text")
    // brute force over all signature pairs — banding must lose NOTHING,
    // at EVERY cleanBlocks parameterization (q=1 legacy 4×15-bit shape,
    // q=2 default, q=3 wide): all of maxDist+q ∈ {4,5,6} divide 60
    val sig = Dedup.simhashPortable(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sig.keys; b <- sig.keys if a < b
      d = java.lang.Long.bitCount(sig(a) ^ sig(b)) if d <= 3
    } yield (a, b, d.toLong)).toSet
    for (q <- Seq(1, 2, 3)) {
      val banded =
        Dedup.simhashNearDupPairs(corpus, "doc_id", "text", 3, cleanBlocks = q)
          .as[(Long, Long, Long)].collect().toSet
      assert(banded === brute, s"cleanBlocks=$q")
      assert(banded.contains((1L, 2L, 0L))) // normalized-identical pair
    }
  }

  test("incrementalNearDups equals brute-force new-vs-corpus hamming") {
    val all = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, " THE  quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy cat tonight"),
      (4L, "the quick brown fox leaps over the lazy cat today"),
      (5L, "completely different content about spark engines here now"),
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1/2
      (20L, "entirely unrelated words describing database internals deeply"),
      (30L, "the quick brown fox jumps over the lazy cat tonight") // dup of 3
    ).toDF("doc_id", "text")
    val corpus = all.filter(col("doc_id") < 10)
    val fresh = all.filter(col("doc_id") >= 10)
    val index = Dedup.simhashBandIndex(corpus, "doc_id", "text")
    val hits = Dedup.incrementalNearDups(fresh, index, "doc_id", "text")
    assert(hits.columns.toSeq === Seq("new_id", "dup_of", "hamming_dist"))
    val got = hits.as[(Long, Long, Long)].collect().toSet
    // brute force: every (new, corpus) signature pair within 3 bits
    val sig = Dedup.simhashPortable(all, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val brute = (for {
      n <- Seq(10L, 20L, 30L); c <- 1L to 5L
      d = java.lang.Long.bitCount(sig(n) ^ sig(c)) if d <= 3
    } yield (n, c, d.toLong)).toSet
    assert(got === brute)
    assert(got.contains((10L, 1L, 0L)) && got.contains((30L, 3L, 0L)))
    // the novel doc is flagged against nothing
    assert(!got.exists(_._1 == 20L))
  }

  test("incrementalExactDups flags fingerprint matches against the index") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines here")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "  The  Quick   brown fox JUMPS over the lazy dog "), // = 1
      (20L, "genuinely novel content never indexed before")
    ).toDF("doc_id", "text")
    val index = Dedup.exactDupGroups(corpus, "doc_id", "text")
    val got = Dedup.incrementalExactDups(fresh, index, "doc_id", "text")
      .select("new_id", "dup_of").as[(Long, Long)].collect().toSet
    assert(got === Set((10L, 1L)))
  }

  test("incrementalLshCandidates = cross-batch slice of the batch pairs") {
    val all = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy cat tonight"),
      (5L, "completely different content about spark engines here now"),
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (20L, "entirely unrelated words describing database internals deeply")
    ).toDF("doc_id", "text")
    val corpus = all.filter(col("doc_id") < 10)
    val fresh = all.filter(col("doc_id") >= 10)
    val got = Dedup.incrementalLshCandidates(fresh,
        Dedup.lshBandIndex(corpus, "doc_id", "text", 8, 4),
        "doc_id", "text", 8, 4)
      .as[(Long, Long)].collect().toSet
    // same candidate semantics as the batch operator restricted to
    // (corpus, new) pairs — band collision, batch halves on both sides
    val batchAll: Set[(Long, Long)] =
      Dedup.lshCandidatePairs(all, "doc_id", "text", 8, 4)
        .as[(Long, Long)].collect().toSet
    val batch = batchAll
      .filter { case (a, b) => a < 10 && b >= 10 }
      .map { case (a, b) => (b, a) }
    assert(got === batch)
    assert(got.contains((10L, 1L))) // identical doc: all bands collide
  }

  test("maxBucket caps a planted mega-cluster, leaves the rest exact") {
    // 30 identical docs = one mega-bucket per band; 1 near-dup pair
    // (ids 1, 2) entirely outside it
    val mega = (100L until 130L).map(i =>
      (i, "this exact boilerplate sentence repeats across the corpus"))
    val outside = Seq(
      (1L, "a genuinely unique document about streaming engines today"),
      (2L, "a genuinely unique document about streaming engines tonight"))
    val corpus = (mega ++ outside).toDF("doc_id", "text")
    val full = Dedup.lshCandidatePairs(corpus, "doc_id", "text", 8, 4)
      .as[(Long, Long)].collect().toSet
    assert(full.count { case (a, b) => a >= 100L && b >= 100L } === 30 * 29 / 2)
    val obs = new org.apache.spark.sql.Observation()
    val capped = Dedup.lshCandidatePairs(corpus, "doc_id", "text", 8, 4,
        maxBucket = 5, capMetrics = Some(obs))
      .as[(Long, Long)].collect().toSet
    // identical docs collide in every band with the same members, so the
    // deterministic hash-ordered sample picks the same 5 ids in each →
    // exactly C(5,2) mega pairs survive
    assert(capped.count { case (a, b) => a >= 100L && b >= 100L } === 10)
    // recall outside the capped bucket is untouched
    assert(full.filter { case (a, b) => a < 100L && b < 100L } ===
      capped.filter { case (a, b) => a < 100L && b < 100L })
    assert(capped.subsetOf(full))
    // the observation is the WARN counter: 4 band buckets capped,
    // 25 members dropped from each
    val m = obs.get
    assert(m("n_capped_buckets") === 4L && m("n_dropped_members") === 100L)
    // deterministic: a rerun samples identically
    val again = Dedup.lshCandidatePairs(corpus.repartition(7), "doc_id",
        "text", 8, 4, maxBucket = 5)
      .as[(Long, Long)].collect().toSet
    assert(again === capped)
  }

  test("maxBucket on simhashNearDupPairs keeps pairs a subset, exact outside") {
    val mega = (100L until 120L).map(i =>
      (i, "this exact boilerplate sentence repeats across the corpus"))
    val outside = Seq(
      (1L, "a genuinely unique document about streaming engines today"),
      (2L, "a genuinely unique document about streaming engines tonight"))
    val corpus = (mega ++ outside).toDF("doc_id", "text")
    val full = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", 3)
      .as[(Long, Long, Long)].collect().toSet
    val capped = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", 3,
        maxBucket = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped.subsetOf(full))
    assert(capped.count { case (a, b, _) => a >= 100L && b >= 100L } <
      full.count { case (a, b, _) => a >= 100L && b >= 100L })
    assert(full.filter { case (a, b, _) => a < 100L && b < 100L } ===
      capped.filter { case (a, b, _) => a < 100L && b < 100L })
  }

  test("clusterSafeSplit: clusters split as a unit, singletons unchanged") {
    // 1-2 near-dup pair, 3 unrelated, 4 unrelated
    val docsX = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, " THE  quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different content about spark engines here now"),
      (4L, "entirely unrelated words describing database internals deeply")
    ).toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(docsX, "doc_id", "text", 8, 4)
    val out = Dedup.clusterSafeSplit(docsX, "doc_id", pairs)
      .select("doc_id", "split_key", "split")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out.size === 4)
    // the near-dup pair shares key AND split (min-id label)
    assert(out(1L) === out(2L) && out(1L)._1 === 1L)
    // singletons keep their own id as key and EXACTLY the
    // deterministicSplit assignment (same hash, same buckets)
    val rowSplit = graft.operators.Relational
      .deterministicSplit(docsX, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    Seq(3L, 4L).foreach { id =>
      assert(out(id)._1 === id && out(id)._2 === rowSplit(id))
    }
    out.values.foreach { case (_, s) =>
      assert(Set("train", "val", "test").contains(s))
    }
  }

  test("keepBest keeps one row per content group, max quality then MIN id") {
    import graft.operators.TextAnalysis
    val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
    val kept = Dedup.keepBest(docs, q, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    // docs 1 and 2 normalize identically (same quality) -> min id 1
    // survives: the SAME canonical-survivor convention as exactDupGroups
    assert(kept === Set((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("keepBest and exactDupGroups agree on the surviving id") {
    import graft.operators.TextAnalysis
    val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
    val viaBest = Dedup.keepBest(docs, q, "doc_id", "text")
      .select("content_hash", "keep_id").as[(String, Long)].collect().toSet
    val viaExact = Dedup.exactDupGroups(docs, "doc_id", "text")
      .select("content_hash", "keep_id").as[(String, Long)].collect().toSet
    // quality is content-determined, so ties happen exactly on dup groups
    // and both operators must pick the same representative
    assert(viaBest === viaExact)
  }

  test("duplicateClusters: transitivity groups chains, singletons apart") {
    // A-B, B-C chain plus an unrelated D-E pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val out = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out(1L) === 1L && out(2L) === 1L && out(3L) === 1L)
    assert(out(10L) === 10L && out(11L) === 10L)
  }

  test("duplicateClusters surfaces non-convergence at the iteration cap") {
    // a 6-node path needs ~5 label-propagation rounds; maxIters=1 cannot
    // finish — requireConvergence must throw instead of returning the
    // partially-merged labels as if they were final
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    assertThrows[RuntimeException] {
      Dedup.duplicateClusters(chain, maxIters = 1, requireConvergence = true)
    }
    // the default still returns (with a WARN) and a full run converges
    val full = Dedup.duplicateClusters(chain).as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(full(_) == 1L))
  }

  test("contamination flags train docs sharing shingles with eval docs") {
    val train = Seq(
      (10L, "the quick brown fox jumps today"),  // shares shingles with eval 1
      (11L, "completely unrelated text about databases")
    ).toDF("doc_id", "text")
    val eval_ = Seq((1L, "the quick brown fox sleeps")).toDF("doc_id", "text")
    val hits = Dedup.contamination(train, eval_, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(hits.contains(10L) && hits(10L) >= 1L)
    assert(!hits.contains(11L))
  }

  test("deleteFromSimhashIndex: delete∘advance == rebuild over " +
      "corpus∖ids; tombstone-filtered probe == vacuumed probe") {
    import spark.implicits._
    val a = docs.filter(col("doc_id") <= 2)
    val b = docs.filter(col("doc_id") > 2)
    def shSet(df: org.apache.spark.sql.DataFrame) =
      df.select("band", "bv", "corpus_id", "corpus_sh")
        .as[(Int, Long, Long, Long)].collect().toSet
    val grown = Dedup.advanceSimhashIndex(
      Dedup.simhashBandIndex(a, "doc_id", "text"), b, "doc_id", "text")
    val deleted = Dedup.deleteFromSimhashIndex(grown, "doc_id",
      Seq(1L).toDF("doc_id"))
    val rebuilt = Dedup.simhashBandIndex(
      docs.where(col("doc_id") =!= 1), "doc_id", "text")
    assert(shSet(deleted) === shSet(rebuilt), "delete == rebuild")
    // delete commutes with advance (ids disjoint from the batch)
    assert(shSet(Dedup.advanceSimhashIndex(
      Dedup.deleteFromSimhashIndex(
        Dedup.simhashBandIndex(a, "doc_id", "text"), "doc_id",
        Seq(1L).toDF("doc_id")), b, "doc_id", "text")) === shSet(rebuilt))
    // tombstone interim: filtering probe results on dup_of equals
    // probing the vacuumed index (per-doc rows — nothing canonical)
    val arrivals = Seq((11L, "the quick brown fox jumps over the " +
      "lazy dog")).toDF("doc_id", "text")
    def probe(idx: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalNearDups(arrivals, idx, "doc_id", "text")
        .as[(Long, Long, Long)].collect().toSet
    assert(probe(grown).filter(_._2 != 1L) === probe(deleted))
    assert(probe(deleted).nonEmpty,
      "doc 2 (the surviving normalized twin) still matches")
  }

  test("advance*Index equals a batch rebuild of the grown corpus") {
    val a = docs.filter(col("doc_id") <= 2)
    val b = docs.filter(col("doc_id") > 2)
    // simhash band index: advance == rebuild, and re-advancing the
    // same batch (an at-least-once replay) changes nothing
    val shAdv = Dedup.advanceSimhashIndex(
      Dedup.simhashBandIndex(a, "doc_id", "text"), b, "doc_id", "text")
    val shReb = Dedup.simhashBandIndex(docs, "doc_id", "text")
    def shSet(df: org.apache.spark.sql.DataFrame) =
      df.select("band", "bv", "corpus_id", "corpus_sh")
        .as[(Int, Long, Long, Long)].collect().toSet
    assert(shSet(shAdv) === shSet(shReb))
    assert(shSet(Dedup.advanceSimhashIndex(shAdv, b, "doc_id", "text"))
      === shSet(shReb))
    // exact fingerprint index: colliding hashes merge to the rebuilt
    // (min keep_id, summed counts) — docs 1 and 2 share content, so
    // the A-index group for doc 1/2 merges with nothing and doc 3/4
    // groups append; split the shared pair across batches too
    val a2 = docs.filter(col("doc_id") % 2 === 1) // 1, 3
    val b2 = docs.filter(col("doc_id") % 2 === 0) // 2 (dup of 1), 4
    val exAdv = Dedup.advanceExactIndex(
      Dedup.exactDupGroups(a2, "doc_id", "text"), b2, "doc_id", "text")
    def exSet(df: org.apache.spark.sql.DataFrame) =
      df.select("content_hash", "keep_id", "n_copies")
        .as[(String, Long, Long)].collect().toSet
    assert(exSet(exAdv) === exSet(Dedup.exactDupGroups(docs, "doc_id", "text")))
    // documented replay caveat: the keep_id/probe mapping survives a
    // re-advance (min is idempotent) while n_copies — an occurrence
    // aggregate — re-adds the replayed batch
    val exReplay = Dedup.advanceExactIndex(exAdv, b2, "doc_id", "text")
      .select("content_hash", "keep_id", "n_copies")
      .as[(String, Long, Long)].collect()
    assert(exReplay.map(r => r._1 -> r._2).toSet
      === exSet(exAdv).map(r => r._1 -> r._2))
    assert(exReplay.map(_._3).sum > exSet(exAdv).toSeq.map(_._3).sum)
    // lsh band index: advance == rebuild + idempotent re-advance
    val lshAdv = Dedup.advanceLshIndex(
      Dedup.lshBandIndex(a, "doc_id", "text", 8, 4), b, "doc_id", "text",
      8, 4)
    def lshSet(df: org.apache.spark.sql.DataFrame) =
      df.select("band", "band_hash", "corpus_id")
        .as[(Int, String, Long)].collect().toSet
    assert(lshSet(lshAdv)
      === lshSet(Dedup.lshBandIndex(docs, "doc_id", "text", 8, 4)))
    assert(lshSet(Dedup.advanceLshIndex(lshAdv, b, "doc_id", "text", 8, 4))
      === lshSet(lshAdv))
  }

  test("clusterSafeSplit rejects reserved output/scratch columns") {
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    Seq("split_key", "split", "cluster_id", "__cs_id").foreach { c =>
      assertThrows[IllegalArgumentException] {
        Dedup.clusterSafeSplit(docs.withColumn(c, lit(1)), "doc_id", pairs)
      }
    }
  }

  test("editDistancePairs: identical pair 0, near-dup pair small positive") {
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a_id", "b_id")
    val d = Dedup.editDistancePairs(docs, pairs, "doc_id", "text", 64)
      .as[(Long, Long, Long)].collect().map { case (a, b, e) => (a, b) -> e }
      .toMap
    assert(d((1L, 2L)) === 0L)  // normalization-equal heads
    assert(d((1L, 3L)) === 3L)  // dog -> cat
  }

  test("lshRecallReport: banding surfaces planted near-dups; floor " +
      "boolean integer-exact; empty truth is vacuously ok") {
    import spark.implicits._
    // two byte-identical pairs (j=1, always banded) + unrelated docs
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six seven"),
      (5L, "completely unrelated words here instead now"))
      .toDF("doc_id", "text")
    val report = Dedup.lshRecallReport(docs, "doc_id", "text",
      minJaccard = 0.5, k = 16, bands = 4, floorPct = 90)
    assert(report.columns.toSeq ===
      Seq("n_true", "n_candidates", "n_hit", "recall_ok"))
    val out = report.collect().head
    assert(out.getLong(0) == 2L) // n_true: the two identical pairs
    assert(out.getLong(2) == 2L) // n_hit: identical sigs always collide
    assert(out.getLong(1) >= 2L) // candidates at least cover them
    assert(out.getBoolean(3))
    // no pair reaches j >= 0.9 -> empty truth -> vacuous true
    val empty = Dedup.lshRecallReport(
      Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text"),
      "doc_id", "text", minJaccard = 0.9, k = 16, bands = 4).collect().head
    assert(empty.getLong(0) == 0L && empty.getBoolean(3))
    intercept[IllegalArgumentException](
      Dedup.lshRecallReport(docs, "doc_id", "text", 0.5, 16, 4, 101))
  }
}
