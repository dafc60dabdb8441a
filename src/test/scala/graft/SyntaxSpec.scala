package graft

import graft.operators.Dedup
import graft.syntax._
import org.apache.spark.sql.functions._

/** The fluent facade must forward to the operator objects verbatim. */
class SyntaxSpec extends SparkSpec {
  import spark.implicits._

  test("fluent calls produce the same results as the operator objects") {
    val docs = Seq((1L, "a b c"), (2L, "a  B C"), (3L, "x y z"))
      .toDF("doc_id", "text")
    assert(docs.dedupExactGroups("doc_id", "text").collect().toSet ===
      Dedup.exactDupGroups(docs, "doc_id", "text")
        .collect().toSet)
    val events = (1 to 20).map(i => (i.toLong, i % 3, i.toDouble))
      .toDF("id", "k", "v")
    assert(events.capPerKey("k", Seq(col("id")), 2).count() === 6L)
    assert(events.topKByCount("k", 1).as[(Int, Long)].head()._2 === 7L)
    // round-7 forwarders
    assert(docs.gopherRules("doc_id", "text").columns.contains("keep"))
    assert(docs.selfInfoScore("doc_id", "text").collect().toSet ===
      graft.operators.TextAnalysis.selfInfoScore(docs, "doc_id", "text")
        .collect().toSet)
    assert(docs.chunkWords("doc_id", "text", 2, 1).count() ===
      graft.operators.TextAnalysis
        .chunkWords(docs, "doc_id", "text", 2, 1).count())
    assert(docs.packChunks("doc_id", "text", 2, 1, 10L).collect().toSet ===
      graft.operators.Packing
        .packChunks(docs, "doc_id", "text", 2, 1, 10L).collect().toSet)
    val index = docs.filter(col("doc_id") < 3)
      .simhashBandIndex("doc_id", "text")
    assert(docs.filter(col("doc_id") >= 3)
      .incrementalNearDups(index, "doc_id", "text").columns.toSeq ===
      Seq("new_id", "dup_of", "hamming_dist"))
    // round-9 forwarders
    assert(docs.mixtureSample("text", "doc_id", Map.empty)
      .columns.contains("epoch"))
    assert(docs.withKeepQuality("text").columns
      .containsSlice(Seq("keep", "quality")))
    val vecs = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(4)(j => if (j == i % 2) 1f else 0.1f)))
      .toDF("vec_id", "embedding")
    val (coarse, cb) = graft.operators.Similarity.fitIvfPq(vecs,
      "vec_id", "embedding", dims = 4, nlist = 2, m = 2, ksub = 2,
      iters = 1, seed = 3L)
    val ivfIdx = vecs.buildIvfPqIndex(coarse, cb)
    assert(ivfIdx.columns.toSeq === Seq("corpus_id", "cell", "codes"))
    assert(ivfIdx.ivfPqProbeIndex(vecs.filter(col("vec_id") < 2), 2, 2,
      coarse, cb).collect().toSet ===
      graft.operators.Similarity.ivfPqTopK(vecs,
        vecs.filter(col("vec_id") < 2), 2, 2, coarse, cb)
        .collect().toSet)
    // round-13 forwarders
    val weighted = (1 to 30).map(i => (i.toLong, (i % 5 + 1).toLong))
      .toDF("id", "w")
    assert(weighted.prioritySample("id", "w", 5).collect().toSet ===
      graft.operators.Packing.prioritySample(weighted, "id", "w", 5)
        .collect().toSet)
    val legA = Seq((1L, 1L), (2L, 2L)).toDF("id", "r")
    val legB = Seq((2L, 1L), (3L, 2L)).toDF("id", "r")
    assert(rrfFuse(Seq("a" -> legA, "b" -> legB), "id", "r", 3)
      .collect().toSet ===
      graft.operators.Similarity.rrfFuse(
        Seq("a" -> legA, "b" -> legB), "id", "r", 3).collect().toSet)
    // quality forwarders
    val q = graft.operators.Quality
    val suite = Seq(q.completeness("id_ok", "id"),
      q.maxOf("w_cap", "w", "<=", 5.0))
    assert(weighted.qualityCheck(suite).collect().toSet ===
      q.check(weighted, suite).collect().toSet)
    assert(weighted.qualityProfile(Seq("id", "w")).collect().toSet ===
      q.profile(weighted, Seq("id", "w")).collect().toSet)
    assert(weighted.qualityEnforce(suite).count() === 30L)
    assert(weighted.psiAgainst(weighted, "w", Seq(3.0)).collect().toSet ===
      q.psi(weighted, weighted, "w", Seq(3.0)).collect().toSet)
    val grouped = weighted.withColumn("src",
      when(col("id") % 2 === 0, "a").otherwise("b"))
    assert(grouped.psiByGroupAgainst(grouped, "w", "src", Seq(3.0))
      .collect().toSet ===
      q.psiByGroup(grouped, grouped, "w", "src", Seq(3.0)).collect().toSet)
    assert(q.mergeProfileShards(
        weighted.qualityProfileShard(Seq("id")), Seq("id"))
      .collect().head.getLong(1) === 30L)
    assert(weighted.qualityApproxProfile(Seq("id")).collect().toSet ===
      q.approxProfile(weighted, Seq("id")).collect().toSet)
    // round-14 forwarders
    val priv = Seq(("A", "x"), ("A", "y"), ("B", "x"), ("B", "x"))
      .toDF("qi", "sens")
    assert(priv.kAnonymity(Seq("l0" -> Seq(col("qi"))), 2)
      .collect().toSet ===
      q.kAnonymity(priv, Seq("l0" -> Seq(col("qi"))), 2).collect().toSet)
    assert(priv.lDiversity(Seq("l0" -> Seq(col("qi"))), col("sens"), 2)
      .collect().toSet ===
      q.lDiversity(priv, Seq("l0" -> Seq(col("qi"))), col("sens"), 2)
        .collect().toSet)
    val idx2 = docs.invertedIndex("doc_id", "text")
    assert(idx2.collect().toSet ===
      graft.operators.Retrieval.invertedIndex(docs, "doc_id", "text")
        .collect().toSet)
    assert(idx2.conjunctiveProbe(Seq("a", "b")).count() === 2L)
    assert(idx2.phraseProbe(Seq("a", "b")).count() === 2L)
    assert(idx2.bm25ProbeWith(docs.docLengths("doc_id", "text"),
      Seq("a"), 10).count() === 2L)
    val evts = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L,
        "view", 0.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 2L,
        "purchase", 8.0)).toDF("user_id", "ts", "event_id",
      "event_type", "value")
    assert(evts.attribution("user_id", "ts", "event_id", "event_type",
      "value", Seq("view"), "purchase", 3600).collect().toSet ===
      graft.operators.Events.attribution(evts, "user_id", "ts",
        "event_id", "event_type", "value", Seq("view"), "purchase", 3600)
        .collect().toSet)
    assert(evts.ewmaByKey("user_id", "ts", "event_id", "value", 0.5, 4)
      .count() === 2L)
    assert(docs.featureHash("doc_id", "text", 16).collect().toSet ===
      graft.operators.TextAnalysis.featureHash(docs, "doc_id", "text", 16)
        .collect().toSet)
    assert(docs.lshRecallReport("doc_id", "text", 0.5, 16, 4)
      .columns.toSeq ===
      Seq("n_true", "n_candidates", "n_hit", "recall_ok"))
    assert(evts.entityTemporalSplit("user_id", "ts",
      "2024-01-01 10:00:30", "2024-01-01 10:00:30")
      .select("split").distinct().collect().map(_.getString(0)).toSet
      === Set("train"))
    val mvecs = (0 until 6).map(i =>
      (i.toLong, Array.tabulate(4)(j => (i + j + 1).toFloat)))
      .toDF("vec_id", "embedding")
    assert(mvecs.matryoshkaTopK(mvecs.filter(col("vec_id") < 1), 2, 2)
      .collect().toSet ===
      graft.operators.Similarity.matryoshkaTopK(mvecs,
        mvecs.filter(col("vec_id") < 1), 2, 2).collect().toSet)
    val keys = (1 to 10).map(i => (i.toLong, s"r$i")).toDF("k", "tag")
    val probe = Seq(2L, 5L, 40L).toDF("pk")
    assert(keys.bloomSemiJoinTo(probe, "k", "pk", 3L, 1024L)
      .collect().toSet ===
      graft.operators.Relational.bloomSemiJoin(keys, probe, "k", "pk",
        3L, 1024L).collect().toSet)
    val evalDocs = Seq((9L, "a b c")).toDF("doc_id", "text")
    assert(docs.contaminationAgainst(evalDocs, "doc_id", "text")
      .collect().toSet ===
      Dedup.contamination(docs, evalDocs, "doc_id", "text")
        .collect().toSet)
    assert(mvecs.knnTopK(mvecs.filter(col("vec_id") < 2), 2)
      .collect().toSet ===
      graft.operators.Similarity.bruteForceTopK(mvecs,
        mvecs.filter(col("vec_id") < 2), 2).collect().toSet)
    val legA2 = Seq((1L, 1L, 10L), (1L, 2L, 20L)).toDF("q_id", "rank", "n_id")
    val legB2 = Seq((1L, 1L, 20L), (1L, 2L, 30L)).toDF("q_id", "rank", "n_id")
    assert(legA2.rboAgainst(legB2, 2, 0.5).collect().toSet ===
      graft.operators.Similarity.rboOverlap(legA2, legB2, 2, 0.5)
        .collect().toSet)
    val pieces = Seq("a", "b", "c", "ab").map(graft.operators.Unigram
      .Piece(_, -1.0))
    assert(docs.unigramTokenize("doc_id", "text", pieces, 2)
      .collect().toSet ===
      graft.operators.Unigram.tokenize(docs, "doc_id", "text", pieces, 2)
        .collect().toSet)
  }
}
