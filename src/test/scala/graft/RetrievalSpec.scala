package graft

import graft.operators.{Retrieval, TextAnalysis}
import graft.registry.Shared
import org.apache.spark.sql.functions._

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma alpha"),
    (2L, "beta beta beta"),
    (3L, "gamma alpha beta gamma"),
    (4L, "delta")).toDF("doc_id", "text")

  private lazy val idx = Retrieval.invertedIndex(docs, "doc_id", "text")

  test("invertedIndex: tf, df and 0-based positions are exact") {
    val rows = idx.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getSeq[Long](4))).toSet
    assert(rows.contains(("alpha", 2L, 1L, 2L, Seq(0L, 3L))))
    assert(rows.contains(("beta", 3L, 2L, 3L, Seq(0L, 1L, 2L))))
    assert(rows.contains(("delta", 1L, 4L, 1L, Seq(0L))))
    // df = number of docs holding the term, identical on every posting
    assert(idx.filter(col("term") === "gamma")
      .select(col("df")).distinct().collect().map(_.getLong(0)).toSeq
      == Seq(2L))
  }

  test("invertedIndex: maxDf drops exactly the too-common terms") {
    val capped = Retrieval.invertedIndex(docs, "doc_id", "text",
      maxDf = Some(2L))
    val terms = capped.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(terms == Set("alpha", "gamma", "delta")) // beta has df = 3
  }

  test("conjunctiveProbe: only docs holding EVERY term; duplicate " +
      "query terms collapse") {
    val hits = Retrieval.conjunctiveProbe(idx, Seq("alpha", "gamma", "alpha"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(hits.keySet == Set(1L, 3L)) // doc 2 lacks alpha/gamma, 4 both
    assert(hits(1L) == 3L) // tf(alpha)=2 + tf(gamma)=1
    assert(hits(3L) == 3L) // tf(alpha)=1 + tf(gamma)=2
  }

  test("phraseProbe: consecutive positions only, overlapping repeats " +
      "count per start") {
    val ab = Retrieval.phraseProbe(idx, Seq("alpha", "beta"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ab == Map(1L -> 1L, 3L -> 1L)) // "alpha beta" in docs 1 and 3
    // "beta beta beta" holds TWO overlapping "beta beta" starts
    val bb = Retrieval.phraseProbe(idx, Seq("beta", "beta"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(bb == Map(2L -> 2L))
    // three-word phrase crosses two joins
    val abg = Retrieval.phraseProbe(idx, Seq("gamma", "alpha", "beta"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(abg == Map(3L -> 1L))
  }

  test("bm25Probe equals the full-scan bm25Scores on matched docs — " +
      "index and scan flavors cannot drift") {
    val corpus = Tables(spark, "/root/testdata/sf0.001", "documents")
    val terms = Shared.Bm25Terms
    val index = Retrieval.invertedIndex(corpus, "doc_id", "text")
    val dl = Retrieval.docLengths(corpus, "doc_id", "text")
    val probe = Retrieval.bm25Probe(index, dl, terms, k = 1000000)
      .select(col("doc_id"), col("bm25"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val scan = TextAnalysis.bm25Scores(corpus, "doc_id", "text", terms)
      .filter(col("bm25") > 0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(probe.keySet == scan.keySet)
    // BIT-identical, not approximately equal: same stats, same
    // expression shape, same rounding edge
    probe.foreach { case (id, s) => assert(s == scan(id), s"doc $id") }
    assert(probe.nonEmpty)
  }

  test("advancePostingsIndex == rebuild over corpus ∪ arrivals; " +
      "idempotent; indexed ids immutable") {
    val arrivals = Seq(
      (5L, "alpha epsilon"),
      (6L, "beta alpha beta")).toDF("doc_id", "text")
    val post = Retrieval.postings(docs, "doc_id", "text")
    val dfs = Retrieval.termDfs(post)
    val (p2, d2) = Retrieval.advancePostingsIndex(post, dfs, arrivals,
      "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3))).toSet
    val rebuilt = Retrieval.postings(docs.unionByName(arrivals),
      "doc_id", "text")
    assert(rows(p2.select(col("term"), col("doc_id"), col("tf"),
      col("positions"))) ==
      rows(rebuilt.select(col("term"), col("doc_id"), col("tf"),
        col("positions"))))
    val d2Map = d2.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(d2Map == Map("alpha" -> 4L, "beta" -> 4L, "gamma" -> 2L,
      "delta" -> 1L, "epsilon" -> 1L))
    // replay: the same batch contributes nothing
    val (p3, d3) = Retrieval.advancePostingsIndex(p2, d2, arrivals,
      "doc_id", "text")
    assert(p3.count() == p2.count())
    assert(d3.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      == d2Map)
    // an indexed id with DIFFERENT text is ignored, not merged
    val (p4, d4) = Retrieval.advancePostingsIndex(p2, d2,
      Seq((5L, "zeta zeta")).toDF("doc_id", "text"), "doc_id", "text")
    assert(p4.filter(col("term") === "zeta").count() == 0)
    assert(d4.filter(col("term") === "zeta").count() == 0)
  }

  test("bm25Probe: rank is dense from 1 and ordered by (bm25 desc, id)") {
    val corpus = Tables(spark, "/root/testdata/sf0.001", "documents")
    val index = Retrieval.invertedIndex(corpus, "doc_id", "text")
    val dl = Retrieval.docLengths(corpus, "doc_id", "text")
    val top = Retrieval.bm25Probe(index, dl, Shared.Bm25Terms, k = 10)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(top.map(_._3).toSeq == (1L to 10L))
    val resorted = top.sortBy(t => (-t._2, t._1)).map(_._3).toSeq
    assert(resorted == (1L to 10L))
  }
}
