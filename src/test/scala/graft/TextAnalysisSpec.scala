package graft

import graft.functions.TextFns
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("textStats on a known sentence") {
    val df = Seq((1L, "The quick brown fox")).toDF("doc_id", "text")
    val r = TextAnalysis.textStats(df, "doc_id", "text").head()
    assert(r.getAs[Int]("n_chars") === 19)
    assert(r.getAs[Int]("n_words") === 4)
    assert(r.getAs[Int]("n_tokens") === 4)
    assert(r.getAs[Double]("lexical_diversity") === 1.0)
    assert(r.getAs[Double]("avg_word_len") === 4.0) // (19-4+1)/4
  }

  test("bpeish tokens split letters / digits / symbols") {
    val df = Seq("abc123!x").toDF("t")
    val toks = df.select(TextFns.bpeishTokens(col("t"))).as[Seq[String]].head()
    assert(toks === Seq("abc", "123", "!", "x"))
  }

  test("qualityScore stays in [0,1]; stopword-rich beats gibberish") {
    val df = Seq(
      (1L, "the cat sat on the mat and it was a good day for the cat"),
      (2L, "zzz qqq xxx zzz qqq xxx zzz qqq xxx")
    ).toDF("doc_id", "text")
    val q = TextAnalysis.qualityScore(df, "doc_id", "text")
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    q.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
    assert(q(1L) > q(2L))
  }

  test("langId: English text flagged en, gibberish unk") {
    val df = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "xyzzy plugh qwerty asdf zxcv")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(df, "doc_id", "text")
      .select("doc_id", "lang_guess").as[(Long, String)].collect().toMap
    assert(out(1L) === "en" && out(2L) === "unk")
  }

  test("fingerprint is whitespace/case invariant, differs across content") {
    val df = Seq(
      (1L, "Hello   World"), (2L, " hello world "), (3L, "hello there")
    ).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(df, "doc_id", "text")
      .select("doc_id", "fingerprint").as[(Long, String)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("shingles: n-grams in order; short docs collapse to whole text") {
    val df = Seq("a b c d", "a b").toDF("t")
    val sh = df.select(TextFns.shingles(col("t"), 3)).as[Seq[String]].collect()
    assert(sh(0) === Seq("a b c", "b c d"))
    assert(sh(1) === Seq("a b"))
  }

  test("repetitionScore: looping text scores high, varied text zero") {
    val df = Seq(
      (1L, "a b c a b c a b c"),   // trigrams repeat
      (2L, "one two three four five six")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionScore(df, "doc_id", "text")
      .select("doc_id", "repetition").as[(Long, Double)].collect().toMap
    assert(r(1L) > 0.5)
    assert(r(2L) === 0.0)
  }

  test("bm25: matching docs outrank non-matching; tf and rarity help") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "spark streams join the batch world"),       // 1x spark
      (2L, "spark spark spark everywhere in spark"),    // heavy tf
      (3L, "nothing relevant lives here at all"),       // no match
      (4L, "rareword appears once in this doc")         // rare term
    ).toDF("doc_id", "text")
    val s = TextAnalysis.bm25Scores(docs, "doc_id", "text",
        Seq("spark", "rareword"))
      .as[(Long, Double)].collect().toMap
    assert(s(3L) === 0.0)
    assert(s(2L) > s(1L))                  // higher tf, same term
    assert(s(1L) > 0.0 && s(4L) > 0.0)
    // "rareword" (df=1) carries more idf than "spark" (df=2)
    assert(s(4L) > s(1L))
  }

  test("ngramFreq counts occurrences (not per-doc distinct), ordered") {
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.ngramFreq(df, "text", 2, 10)
      .as[(String, Long)].collect().toSeq
    // "a b" occurs 3 times (twice in doc 1), "b a" and "b c" once each
    assert(out === Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  private def redact(rows: (Long, String)*) =
    TextAnalysis.redactPii(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_email"),
          r.getAs[Long]("n_phone"), r.getAs[Long]("n_ssn"),
          r.getAs[Long]("n_pii")))).toMap

  test("redactPii masks emails, phones and SSNs with per-pattern counts") {
    val out = redact(
      (1L, "mail a.b+c%d@sub.example.co.uk or x9@y.io today"),
      (2L, "call 415-867-5309 or 415-867-5310"),
      (3L, "ssn 078-05-1120 on record"),
      (4L, "mixed: u@v.com, 415-867-5309, 078-05-1120"))
    assert(out(1L) === (("mail <EMAIL> or <EMAIL> today", 2L, 0L, 0L, 2L)))
    assert(out(2L) === (("call <PHONE> or <PHONE>", 0L, 2L, 0L, 2L)))
    assert(out(3L) === (("ssn <SSN> on record", 0L, 0L, 1L, 1L)))
    assert(out(4L) === (("mixed: <EMAIL>, <PHONE>, <SSN>", 1L, 1L, 1L, 3L)))
  }

  test("redactPii adversarial: boundaries, overlaps, near-misses") {
    val out = redact(
      // \b keeps a phone/ssn from matching inside a longer digit run
      (1L, "order 9415-867-53091 and 1078-05-11201 stay"),
      // ssn-shaped middle group ({2} digits) is not a phone and
      // vice versa; both present, each matched by exactly one pattern
      (2L, "p 415-867-5309 s 078-05-1120"),
      // an email's digits are masked at the email stage, so the phone
      // stage sees <EMAIL> and counts nothing inside it
      (3L, "415-867-5309x@example.com"),
      // no PII at all: text passes through byte-identical
      (4L, "plain words with numbers 12345 and dots a.b"))
    assert(out(1L) === (("order 9415-867-53091 and 1078-05-11201 stay",
      0L, 0L, 0L, 0L)))
    assert(out(2L) === (("p <PHONE> s <SSN>", 0L, 1L, 1L, 2L)))
    assert(out(3L) === (("<EMAIL>", 1L, 0L, 0L, 1L)))
    assert(out(4L) === (("plain words with numbers 12345 and dots a.b",
      0L, 0L, 0L, 0L)))
  }

  test("redactPii is idempotent: redacting redacted text changes nothing") {
    val once = redact(
      (1L, "u@v.com and 415-867-5309 and 078-05-1120"),
      (2L, "clean"))
    val twice = TextAnalysis.redactPii(
        once.toSeq.map { case (id, (t, _, _, _, _)) => (id, t) }
          .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_pii")))).toMap
    assert(twice(1L) === ((once(1L)._1, 0L)))
    assert(twice(2L) === (("clean", 0L)))
  }

  test("dedupLines keeps first occurrence, preserves order, counts") {
    val docs = Seq(
      (1L, "menu\nintro text\nmenu\nbody text\nintro text\nfooter"),
      (2L, "only\nunique\nlines"),
      (3L, "same\nsame\nsame")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupLines(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((6L, 4L, "menu\nintro text\nbody text\nfooter")))
    assert(out(2L) === ((3L, 3L, "only\nunique\nlines")))
    assert(out(3L) === ((3L, 1L, "same")))
  }

  test("chunkWords: overlap shared, full coverage, short tail kept") {
    val docs = Seq((1L, (1 to 20).map("w" + _).mkString(" ")),
      (2L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkWords(docs, "doc_id", "text",
        chunkSize = 8, overlap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getString(3)))).toMap
    // stride 5: starts at 0, 5, 10, 15 → 4 chunks for 20 words
    assert(out((1L, 0L)) === ((8L, (1 to 8).map("w" + _).mkString(" "))))
    assert(out((1L, 1L)) === ((8L, (6 to 13).map("w" + _).mkString(" "))))
    assert(out((1L, 3L)) === ((5L, (16 to 20).map("w" + _).mkString(" "))))
    assert(!out.contains((1L, 4L)))
    // consecutive chunks share exactly `overlap` words
    assert(out((1L, 0L))._2.split(" ").takeRight(3) ===
      out((1L, 1L))._2.split(" ").take(3))
    // a doc shorter than chunkSize is one whole-doc chunk
    assert(out((2L, 0L)) === ((3L, "a b c")) && !out.contains((2L, 1L)))
  }

  test("selfInfoScore: common-token docs score low, flavors agree") {
    // "common common ..." tokens dominate the corpus → low surprisal;
    // doc 3 is all rare singletons → high surprisal
    val docs = Seq(
      (1L, Seq.fill(20)("common").mkString(" ")),
      (2L, Seq.fill(10)("common").mkString(" ") + " middling middling"),
      (3L, "unique rare singular tokens everywhere")
    ).toDF("doc_id", "text")
    val dflt = TextAnalysis.selfInfoScore(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "self_info")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(dflt(1L)._1 === 20L)
    assert(dflt(1L)._2 < dflt(2L)._2 && dflt(2L)._2 < dflt(3L)._2)
    // flavor agreement: both round to 4 decimals; the algebraic and
    // ordered-fold means may straddle a rounding boundary by at most
    // one ulp of the grid
    val port = TextAnalysis.selfInfoScorePortable(docs, "doc_id", "text")
      .select("doc_id", "self_info").as[(Long, Double)].collect().toMap
    dflt.foreach { case (id, (_, s)) =>
      assert(math.abs(s - port(id)) <= 1.01e-4, s"doc $id")
    }
  }

  test("selfInfoBigram: order-sensitive scoring, flavors + frozen model agree") {
    // docs 1 and 2 share the SAME unigram multiset; doc 1 repeats one
    // fixed pattern (common bigrams), doc 2 scrambles the order (rarer
    // bigrams) — only an order-aware scorer separates them
    val docs = Seq(
      (1L, Seq.fill(10)("alpha beta").mkString(" ")),
      (2L, "alpha alpha beta alpha beta beta alpha beta " +
        "beta alpha alpha beta beta beta alpha alpha beta alpha beta alpha"),
      (3L, "x")  // under 2 tokens: emits nothing
    ).toDF("doc_id", "text")
    val uni = TextAnalysis.selfInfoScore(docs, "doc_id", "text")
      .select("doc_id", "self_info").as[(Long, Double)].collect().toMap
    assert(math.abs(uni(1L) - uni(2L)) < 1e-9) // unigram-blind
    val dflt = TextAnalysis.selfInfoBigram(docs, "doc_id", "text")
      .select("doc_id", "n_bigrams", "self_info2")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!dflt.contains(3L))
    assert(dflt(1L)._1 === 19L)
    assert(dflt(1L)._2 < dflt(2L)._2) // the pattern doc scores lower
    // flavor agreement on the rounding grid
    val port = TextAnalysis.selfInfoBigramPortable(docs, "doc_id", "text")
      .select("doc_id", "self_info2").as[(Long, Double)].collect().toMap
    dflt.foreach { case (id, (_, s)) =>
      assert(math.abs(s - port(id)) <= 1.01e-4, s"doc $id")
    }
    // frozen-model scoring reproduces the self-fit scores
    val model = TextAnalysis.selfInfoBigramModel(docs, "text")
    val frozen = TextAnalysis.scoreAgainstBigramModel(docs, model,
      "doc_id", "text")
      .select("doc_id", "self_info2").as[(Long, Double)].collect().toMap
    dflt.foreach { case (id, (_, s)) =>
      assert(math.abs(s - frozen(id)) <= 1e-12, s"doc $id")
    }
    // the general n-gram rung: at n=3 the pattern doc (one repeated
    // trigram context) still scores below the scrambled doc, counts
    // drop by one per document vs n=2, and a 2-token doc emits nothing
    val tri = TextAnalysis.selfInfoNgram(docs, "doc_id", "text", 3)
      .select("doc_id", "n_ngrams", "self_info_lm")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(tri(1L)._1 === 18L && !tri.contains(3L))
    assert(tri(1L)._2 < tri(2L)._2)
    val tinyDoc = Seq((9L, "two tokens")).toDF("doc_id", "text")
    assert(TextAnalysis.selfInfoNgram(
      tinyDoc.union(docs), "doc_id", "text", 3)
      .filter(col("doc_id") === 9L).count() === 0L)
  }

  test("sourceReport: per-source counts correct, flavors agree") {
    val stop20 = Seq.fill(10)("the of").mkString(" ")
    // srcA: one passing doc + one too-short doc; srcB: one passing doc
    val docs = Seq(
      (1L, "srcA", s"$stop20 information"),
      (2L, "srcA", "too short"),
      (3L, "srcB", s"$stop20 different content here")
    ).toDF("doc_id", "source", "text")
    def run(fn: (org.apache.spark.sql.DataFrame, String, String, String,
        Int, Int, Double, Double, Double, Int) => org.apache.spark.sql.DataFrame) =
      fn(docs, "source", "doc_id", "text",
          20, 100000, 2.0, 10.0, 0.1, 2)
        .select("source", "n_docs", "n_keep", "avg_quality")
        .as[(String, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // the shared per-row core appends its two signals as adjacent columns
    assert(TextAnalysis.withKeepQuality(docs, "text").columns
      .containsSlice(Seq("keep", "quality")))
    val dflt = run(TextAnalysis.sourceReport)
    assert(dflt("srcA")._1 === 2L && dflt("srcA")._2 === 1L)
    assert(dflt("srcB")._1 === 1L && dflt("srcB")._2 === 1L)
    assert(dflt.values.forall(v => v._3 > 0.0 && v._3 <= 1.0))
    // flavor agreement: both round to 4 decimals; the algebraic and
    // ordered-fold means may straddle a rounding boundary by at most
    // one ulp of the grid (the selfInfoScore convention)
    val port = run(TextAnalysis.sourceReportPortable)
    dflt.foreach { case (src, (n, k, q)) =>
      assert(port(src)._1 === n && port(src)._2 === k)
      assert(math.abs(q - port(src)._3) <= 1.01e-4, s"source $src")
    }
  }

  test("gopherRules: each rule gates; signals reported per doc") {
    val stop20 = Seq.fill(10)("the of").mkString(" ")
    val docs = Seq(
      // passes everything: 21 words, mean len ~3, stopwords present
      (1L, s"$stop20 information"),
      (2L, "too short"),                            // word-count gate
      (3L, Seq.fill(25)("a").mkString(" ")),        // mean word len < 3
      (4L, s"$stop20 " + "#### #### ####"),         // symbol ratio
      (5L, Seq.fill(21)("word").mkString(" "))      // no stopwords
    ).toDF("doc_id", "text")
    val gated = TextAnalysis.gopherRules(docs, "doc_id", "text",
        minWords = 5, maxWords = 100, minMeanWordLen = 2.0,
        maxMeanWordLen = 10.0, maxSymbolRatio = 0.1, minStopwords = 2)
    assert(gated.columns.contains("keep"))
    val out = gated.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    assert(out(1L)._5 === true)
    assert(out(2L)._5 === false && out(2L)._1 === 2L)        // n_words
    assert(out(3L)._5 === false && out(3L)._2 < 2.0)         // mean len
    assert(out(4L)._5 === false && out(4L)._3 > 0.1)         // symbols
    assert(out(5L)._5 === false && out(5L)._4 === 0L)        // stopwords
  }

  test("removeBoilerplate drops corpus-frequent lines from every doc") {
    val docs = Seq(
      (1L, "unique one\nCOOKIE BANNER\nreal content here"),
      (2L, "COOKIE BANNER\nother prose\nfine print"),
      (3L, "COOKIE BANNER\nfine print"),
      (4L, "nothing shared at all")
    ).toDF("doc_id", "text")
    // banner in 3 docs, "fine print" in 2, others in 1
    val out = TextAnalysis.removeBoilerplate(docs, "doc_id", "text",
        minDocs = 2L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((3L, 1L, "unique one\nreal content here")))
    assert(out(2L) === ((3L, 2L, "other prose")))
    assert(out(3L) === ((2L, 2L, ""))) // all-boilerplate doc SURVIVES
    assert(out(4L) === ((1L, 0L, "nothing shared at all")))

    // the corpus-relative flavor derives ceil(0.5 * 4) = 2 IN-PLAN and
    // must agree with the absolute form row-for-row
    val frac = TextAnalysis.removeBoilerplateFrac(docs, "doc_id", "text",
        minDocFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(frac === out)
  }

  test("vocabulary + oovRate: frequency ranks and hand-checked coverage") {
    val docs = Seq(
      (1L, "aa aa aa bb bb cc"),
      (2L, "aa bb dd"),
      (3L, "ee ee ee ee")
    ).toDF("doc_id", "text")
    // counts: aa=4, ee=4, bb=3, cc=1, dd=1 → ties: (aa,ee) by count,
    // break lexicographically; top-3 = aa, ee, bb
    val vocab = TextAnalysis.vocabulary(docs, "text", 3)
    assert(vocab.select("token", "n_occurrences", "rank")
      .as[(String, Long, Long)].collect().toSeq ===
      Seq(("aa", 4L, 1L), ("ee", 4L, 2L), ("bb", 3L, 3L)))
    val oov = TextAnalysis.oovRate(docs, "doc_id", "text", vocab)
      .select("doc_id", "n_tokens", "n_oov", "oov_rate")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(oov(1L) === ((6L, 1L, 1.0 / 6)))  // cc is OOV
    assert(oov(2L) === ((3L, 1L, 1.0 / 3)))  // dd is OOV
    assert(oov(3L) === ((4L, 0L, 0.0)))
  }

  test("dedupParagraphs: a cross-doc span survives once, at its first home") {
    val docs = Seq(
      (1L, "A\nB"),
      (2L, "B\nC"),
      (3L, "A\nA"),
      (4L, "X\nX\nY")).toDF("doc_id", "text")
    val out = TextAnalysis.dedupParagraphs(docs, "doc_id", "text", "\n")
      .select("doc_id", "n_paras", "n_kept", "text_deduped")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 owns both its paragraphs (first corpus-wide occurrences)
    assert(out(1L) === ((2L, 2L, "A\nB")))
    // B already lives in doc 1 — doc 2 keeps only C, order preserved
    assert(out(2L) === ((2L, 1L, "C")))
    // every paragraph of doc 3 is owned elsewhere (A by doc 1; its own
    // second A by position) — the doc stays in the output, emptied
    assert(out(3L) === ((2L, 0L, "")))
    // within-doc semantics unchanged: doc 4's repeat dedups to the
    // first occurrence even with no cross-doc sharer
    assert(out(4L) === ((3L, 2L, "X\nY")))
  }

  test("dedupTokenWindows: planted cross-doc span drops at any " +
      "alignment; overlapping dup spans merge") {
    val docs = Seq(
      (1L, "p q r s t u v w"),
      // the 5-token run "p q r s t" re-occurs here at offset 2 — two
      // overlapping dup windows whose coverage must union to 2..6
      (2L, "x y p q r s t z"),
      // shorter than k: no windows, intact by construction
      (3L, "a b c"),
      // within-doc repeat: the second "m n o p" dedups to the first
      (4L, "m n o p m n o p")).toDF("doc_id", "text")
    val out = TextAnalysis.dedupTokenWindows(docs, "doc_id", "text", 4)
      .select("doc_id", "n_tokens", "n_kept", "text_deduped")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // first corpus-wide occurrence keeps everything
    assert(out(1L) === ((8L, 8L, "p q r s t u v w")))
    // dup windows at pos 2 and 3 cover tokens 2..6; survivors x y z
    // reassemble across the removed middle
    assert(out(2L) === ((8L, 3L, "x y z")))
    assert(out(3L) === ((3L, 3L, "a b c")))
    // only the second occurrence's window (pos 4) is a dup: tokens
    // 4..7 drop, the first occurrence stays whole
    assert(out(4L) === ((8L, 4L, "m n o p")))
  }

  test("dedupTokenWindowsExact == dedupTokenWindows row-for-row on a " +
      "collision-free corpus (the suffix-ordered flavor)") {
    val docs = Seq(
      (1L, "p q r s t u v w"), (2L, "x y p q r s t z"),
      (3L, "a b c"), (4L, "m n o p m n o p"),
      (5L, "alpha beta gamma delta alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "n_kept", "text_deduped")
        .as[(Long, Long, Long, String)].collect().toSet
    assert(
      rows(TextAnalysis.dedupTokenWindowsExact(docs, "doc_id", "text", 4))
        === rows(TextAnalysis.dedupTokenWindows(docs, "doc_id", "text", 4)))
  }

  test("exact flavor at the protected run length catches the planted " +
      "sub-window duplicate an ambient k=8 pass misses") {
    // a 6-token run repeats across docs: EVERY k=8 window pass (hash
    // or exact) sees nothing — the run never fills a window — while
    // the exact flavor re-run at k=6 (= the min protected run, the
    // knob the suffix formulation makes cheap to lower: keys stay
    // token-exact at any k, no second hash family to trust) scrubs
    // exactly the later occurrence
    val docs = Seq(
      (1L, "one two three four five six tail1 tail2"),
      (2L, "head1 head2 one two three four five six")).toDF("doc_id", "text")
    val at8 = TextAnalysis.dedupTokenWindows(docs, "doc_id", "text", 8)
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
    assert(at8 === Map(1L -> 8L, 2L -> 8L)) // both intact: missed
    val at8x = TextAnalysis.dedupTokenWindowsExact(docs, "doc_id", "text", 8)
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
    assert(at8x === Map(1L -> 8L, 2L -> 8L)) // same semantics at same k
    val at6 = TextAnalysis.dedupTokenWindowsExact(docs, "doc_id", "text", 6)
      .select("doc_id", "n_kept", "text_deduped")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(at6(1L) === ((8L, "one two three four five six tail1 tail2")))
    assert(at6(2L) === ((2L, "head1 head2")))
  }

  test("advanceWindowHashIndex == rebuild over corpus ∪ arrivals; " +
      "idempotent on replay") {
    val corpus = Seq(
      (1L, "p q r s t u v w"),
      (2L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val idx = TextAnalysis.windowHashIndex(corpus, "doc_id", "text", 4)
    val arrivals = Seq(
      // shares a span with the corpus (those hashes must NOT move)
      (10L, "x y p q r s t z"),
      // entirely novel (its hashes enter with arrival provenance)
      (20L, "one two three four five")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("whash", "corpus_id", "corpus_pos")
        .as[(String, Long, Int)].collect().toSet
    val advanced = TextAnalysis.advanceWindowHashIndex(idx, arrivals,
      "doc_id", "text", 4)
    val rebuilt = TextAnalysis.windowHashIndex(
      corpus.unionByName(arrivals), "doc_id", "text", 4)
    assert(rows(advanced) === rows(rebuilt))
    // replaying the same batch adds nothing
    assert(rows(TextAnalysis.advanceWindowHashIndex(advanced, arrivals,
      "doc_id", "text", 4)) === rows(advanced))
    // and the shared span's canonical stayed with corpus doc 1
    assert(rows(advanced).filter(_._2 == 1L).size === 5)
  }

  test("backoff equals MLE where every context is seen (fit-on-self)") {
    val docs = Seq(
      (1L, "the fast join runs the fast scan"),
      (2L, "the fast join beats the slow scan")).toDF("doc_id", "text")
    val mle = TextAnalysis.selfInfoNgram(docs, "doc_id", "text", 3)
      .select("doc_id", "n_ngrams", "self_info_lm")
      .as[(Long, Long, Double)].collect()
      .map { case (d, n, s) => d -> ((n, s)) }.toMap
    val bo = TextAnalysis.selfInfoNgramBackoff(docs, "doc_id", "text", 3)
      .select("doc_id", "n_ngrams", "n_backoff", "self_info_bo")
      .as[(Long, Long, Long, Double)].collect()
    assert(bo.nonEmpty)
    bo.foreach { case (d, n, nb, s) =>
      assert(nb === 0L, s"fit-on-self backed off on doc $d")
      assert((n, s) === mle(d), s"doc $d diverges from MLE")
    }
  }

  test("backoff scores OOV-context positions MLE skips, penalty per order") {
    val fit = Seq((1L, "a b c a b d")).toDF("doc_id", "text")
    val model = TextAnalysis.backoffNgramModel(fit, "text", 3)
    val score = Seq((10L, "x b d"), (11L, "z z a"), (12L, "z z q"))
      .toDF("doc_id", "text")
    // MLE drops every position (no context is in-model)...
    assert(TextAnalysis.scoreAgainstNgramModel(
      score, TextAnalysis.selfInfoNgramModel(fit, "text", 3),
      "doc_id", "text", 3).count() === 0L)
    // ...backoff scores all but the truly-OOV token
    val out = TextAnalysis.scoreAgainstBackoffModel(
        score, model, "doc_id", "text", 3)
      .select("doc_id", "n_ngrams", "n_backoff", "self_info_bo")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val pen = TextAnalysis.BackoffPenalty
    // "x b d": ctx "x b" unseen → bigram c(d|b) = 1/2 → ln2 + pen
    assert(out(10L) ===
      ((1L, 1L, math.rint((math.log(2.0) + pen) * 1e4) / 1e4)))
    // "z z a": down to unigram c(a)/N = 2/6 → ln3 + 2·pen
    assert(out(11L) ===
      ((1L, 1L, math.rint((math.log(3.0) + 2 * pen) * 1e4) / 1e4)))
    // "z z q": q absent even from the unigram table → skipped entirely
    assert(!out.contains(12L))
  }

  test("backoff flavors agree within 1e-9 (algebraic vs ordered fold)") {
    val docs = Seq(
      (1L, "the fast join runs the fast scan merge"),
      (2L, "slow scan the fast join merge runs"),
      (3L, "merge the slow join")).toDF("doc_id", "text")
    val model = TextAnalysis.backoffNgramModel(
      docs.filter(col("doc_id") =!= 3L), "text", 3)
    val a = TextAnalysis.scoreAgainstBackoffModel(
        docs, model, "doc_id", "text", 3)
      .select("doc_id", "self_info_bo").as[(Long, Double)].collect().toMap
    val p = TextAnalysis.scoreAgainstBackoffModelPortable(
        docs, model, "doc_id", "text", 3)
      .select("doc_id", "self_info_bo").as[(Long, Double)].collect().toMap
    assert(a.keySet === p.keySet)
    a.foreach { case (d, v) => assert(math.abs(v - p(d)) < 1e-9, s"doc $d") }
  }

  // driver-side reference winnow (Schleimer et al. fig. 5, rightmost-
  // min tie rule) for property checks
  private def refWinnow(text: String, k: Int, w: Int): Set[(Int, String)] = {
    val ws = text.split(" ", -1)
    if (ws.length < k) return Set.empty
    val hs = (0 to ws.length - k).map { i =>
      val s = ws.slice(i, i + k).mkString(" ")
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    val wins =
      if (hs.length >= w) (0 to hs.length - w).map(j => (j, w))
      else Seq((0, hs.length))
    wins.map { case (j, len) =>
      val win = hs.slice(j, j + len)
      val m = win.min
      val off = win.lastIndexOf(m)
      (j + off, m)
    }.toSet
  }

  test("winnowFingerprints equals the reference implementation, " +
      "including rightmost-min ties and the short-doc window") {
    val docs = Seq(
      (1L, "a b c a b c a b c"), // duplicate k-grams -> in-window ties
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "x y z"), // exactly one window (< w windows)
      (4L, "p q")) // shorter than k: no fingerprints
      .toDF("doc_id", "text")
    val got = TextAnalysis.winnowFingerprints(docs, "doc_id", "text",
        k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSet).toMap
    val texts = Map(1L -> "a b c a b c a b c",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      3L -> "x y z", 4L -> "p q")
    texts.foreach { case (id, tx) =>
      val want = refWinnow(tx, 3, 4)
      assert(got.getOrElse(id, Set.empty) === want, s"doc $id")
    }
    assert(!got.contains(4L), "sub-k doc has no fingerprints")
    assert(got(3L).size === 1, "short doc selects one whole-doc window")
    // doc 1's k-grams repeat with period 3, so every window of 4 holds
    // a duplicated minimum -- the rightmost-min rule must have fired
    assert(got(1L) === refWinnow("a b c a b c a b c", 3, 4))
  }

  test("winnowFingerprints equals the reference on 40 seeded-random " +
      "docs across (k, w) configs — ties exercised by a tiny vocab") {
    val rnd = new scala.util.Random(20260816L)
    val vocab = Vector("aa", "b", "ccc", "dd", "e", "fff", "gg", "h")
    val docs = (1 to 40).map(i => (i.toLong,
      Seq.fill(3 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    Seq((2, 3), (3, 4), (4, 2)).foreach { case (k, w) =>
      val got = TextAnalysis.winnowFingerprints(df, "doc_id", "text",
          k, w)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .groupBy(_._1).view
        .mapValues(_.map(x => (x._2, x._3)).toSet).toMap
      docs.foreach { case (id, tx) =>
        assert(got.getOrElse(id, Set.empty) === refWinnow(tx, k, w),
          s"doc $id at (k=$k, w=$w)")
      }
    }
  }

  test("winnowing guarantee: docs sharing a run of >= w+k-1 tokens " +
      "share a fingerprint; density lands near 2/(w+1)") {
    val shared = "alpha beta gamma delta epsilon zeta" // 6 = w+k-1
    val docs = Seq(
      (1L, s"one two $shared three four five six seven"),
      (2L, s"red green blue $shared yellow purple orange pink"))
      .toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowPairs(docs, "doc_id", "text",
      k = 3, w = 4, maxBucket = 64).collect()
    assert(pairs.length === 1 && pairs.head.getLong(0) === 1L &&
      pairs.head.getLong(1) === 2L && pairs.head.getLong(2) >= 1L,
      "guaranteed shared fingerprint for a w+k-1 run")
    // density: a long diverse doc selects far fewer fingerprints than
    // windows (expected 2/(w+1) = 0.4), never more than windows
    val long = (1 to 200).map(i => s"tok$i").mkString(" ")
    val fps = TextAnalysis.winnowFingerprints(
      Seq((9L, long)).toDF("doc_id", "text"), "doc_id", "text", 3, 4)
      .count()
    val nWindows = 200 - 2
    assert(fps <= nWindows && fps < nWindows * 0.6,
      s"density $fps/$nWindows should sit near 0.4")
    assert(fps >= nWindows * 0.2)
  }

  test("winnowPairs: the df-cap drops boilerplate fingerprints") {
    // 70 docs share a 6-token (= w+k-1) boilerplate prefix, so EVERY
    // one is guaranteed to select the same in-region fingerprint
    // (df = 70 > cap); their tails are unique, so boilerplate is their
    // only overlap. Two other docs share a genuine rare run.
    val boiler = (1 to 70).map(i =>
      (i.toLong, s"c1 c2 c3 c4 c5 c6 filler$i middle$i end$i"))
    val rare = Seq(
      (101L, "unique alpha beta gamma delta epsilon zeta one"),
      (102L, "other alpha beta gamma delta epsilon zeta two"))
    val docs = (boiler ++ rare).toDF("doc_id", "text")
    def pairsAt(cap: Int) = TextAnalysis.winnowPairs(docs, "doc_id",
        "text", k = 3, w = 4, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairsAt(64)
    val open = pairsAt(5000)
    assert(capped.contains((101L, 102L)) && open.contains((101L, 102L)),
      "rare shared run survives the cap")
    // the guaranteed in-prefix fingerprint has df = 70 > 64: capping
    // can only REMOVE pairs, and must remove at least the boiler
    // pairs whose only overlap was capped fingerprints
    assert(capped.subsetOf(open), "cap only removes pairs")
    assert(capped.size < open.size, "df-70 fingerprint pairs dropped")
    assert(open.size >= 70 * 69 / 2,
      "uncapped: every boiler pair present via the shared prefix")
  }

  test("substringDedup: remove-ALL copies scrubs every occurrence; " +
      "keepFirst recovers the dedupTokenWindows rule; spans counted") {
    val docs = Seq(
      (1L, "p q r s t u v w"),
      (2L, "x y p q r s t z"),
      (3L, "a b c"),
      (4L, "m n o p m n o p")).toDF("doc_id", "text")
    val all = TextAnalysis.substringDedup(docs, "doc_id", "text", L = 4)
      .select("doc_id", "n_tokens", "n_spans", "n_kept", "text_deduped")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // remove-all: doc 1's copy of the shared run scrubs TOO (windows
    // at 0,1 are duplicated by doc 2's at 2,3 — coverage 0..4)
    assert(all(1L) === ((8L, 1L, 3L, "u v w")))
    assert(all(2L) === ((8L, 1L, 3L, "x y z")))
    assert(all(3L) === ((3L, 0L, 3L, "a b c")))
    // within-doc repeat: dup windows at 0 and 4 are ADJACENT (4 = 0+4)
    // so they merge into ONE span covering the whole doc
    assert(all(4L) === ((8L, 1L, 0L, "")))
    // keepFirst flavor = dedupTokenWindows semantics, same plan
    val kept = TextAnalysis.substringDedup(docs, "doc_id", "text",
        L = 4, keepFirst = true)
      .select("doc_id", "n_tokens", "n_kept", "text_deduped")
      .as[(Long, Long, Long, String)].collect().toSet
    val windows = TextAnalysis.dedupTokenWindows(docs, "doc_id",
        "text", k = 4)
      .select("doc_id", "n_tokens", "n_kept", "text_deduped")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(kept === windows)
  }

  test("repeatedSpans: maximal extents exact on planted repeats; " +
      "adjacent dup windows merge; keepFirst spares the canonical") {
    val docs = Seq(
      (1L, "p q r s t u v w"),
      (2L, "x y p q r s t z"),
      (3L, "a b c"),
      (4L, "m n o p m n o p")).toDF("doc_id", "text")
    def spans(keepFirst: Boolean) =
      TextAnalysis.repeatedSpans(docs, "doc_id", "text", L = 4,
          keepFirst = keepFirst)
        .select("doc_id", "span_start", "span_end", "span_len",
          "n_windows")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(spans(keepFirst = false) === Set(
      (1L, 0L, 4L, 5L, 2L),  // the shared 5-token run, both copies
      (2L, 2L, 6L, 5L, 2L),
      (4L, 0L, 7L, 8L, 2L))) // within-doc: two adjacent dup windows
    assert(spans(keepFirst = true) === Set(
      (2L, 2L, 6L, 5L, 2L),  // doc 1's canonical copy is spared
      (4L, 4L, 7L, 4L, 1L))) // only the second occurrence's window
  }

  test("winnowSpans: planted containment reports one matched run " +
      "with the right alignment and a floor on the extent") {
    // P = 20 contained tokens; fillers are doc-unique so P is the
    // pair's only overlap. k=3, w=4: detection floor w+k-1 = 6,
    // boundary slack w+k-2 = 5 per side.
    val p = (0 until 20).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, (0 until 10).map(i => s"a$i").mkString(" ") + " " + p +
        " " + (10 until 20).map(i => s"a$i").mkString(" ")),
      (2L, (0 until 5).map(i => s"b$i").mkString(" ") + " " + p +
        " " + (5 until 10).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.winnowSpans(docs, "doc_id", "text",
        k = 3, w = 4, maxBucket = 64)
      .select("left_id", "right_id", "delta", "left_start", "left_end",
        "right_start", "right_end", "span_len", "n_fps")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect()
    assert(out.length === 1, s"one matched run, got ${out.toSeq}")
    val r = out.head
    assert(r._1 === 1L && r._2 === 2L)
    // P starts at token 10 in doc 1, token 5 in doc 2
    assert(r._3 === 5L, "alignment shift = 10 - 5")
    assert(r._4 >= 10L && r._5 <= 29L, "left extent inside P")
    assert(r._6 === r._4 - 5 && r._7 === r._5 - 5,
      "right extent is the left extent shifted by delta")
    assert(r._8 >= 20L - 2 * 5, "extent floor: |P| - slack per side")
    assert(r._9 >= 1L)
  }

  test("deleteFromWinnowIndex / deleteFromWindowHashIndex: " +
      "delete∘advance == rebuild over corpus∖ids, canonical " +
      "re-election included; idempotent; sole-owner keys drop") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      // doc 2 shares the 6-token run — doc 1 owns its canonicals
      (2L, "x1 x2 alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (11L, "alpha beta gamma delta epsilon zeta nine ten"))
      .toDF("doc_id", "text")
    val all = corpus.unionByName(arrivals)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getInt(2))).toSet
    def only(ids: Long*) = ids.toDF("doc_id")

    // --- winnow flavor ---
    val wIdx = TextAnalysis.advanceWinnowIndex(
      TextAnalysis.winnowIndex(corpus, "doc_id", "text", 3, 4),
      arrivals, "doc_id", "text", 3, 4)
    val wOcc = TextAnalysis.winnowFingerprints(all, "doc_id", "text",
      3, 4)
    val wDel = TextAnalysis.deleteFromWinnowIndex(wIdx, wOcc,
      "doc_id", only(1L))
    val wReb = TextAnalysis.winnowIndex(all.where(col("doc_id") =!= 1),
      "doc_id", "text", 3, 4)
    assert(rows(wDel) === rows(wReb),
      "winnow delete == rebuild (shared fps re-elect to doc 2, " +
        "doc-1-only fps drop)")
    // the shared run's fp moved to the NEXT-lowest owner, doc 2
    assert(wDel.where(col("corpus_id") === 1).isEmpty)
    assert(!wDel.where(col("corpus_id") === 2).isEmpty)
    // idempotent; deleting an unknown id is a no-op
    assert(rows(TextAnalysis.deleteFromWinnowIndex(wDel, wOcc,
      "doc_id", only(1L, 99L))) === rows(wReb))
    // deleting every owner of the shared run drops its fps entirely
    val wGone = TextAnalysis.deleteFromWinnowIndex(wIdx, wOcc,
      "doc_id", only(1L, 2L, 11L))
    assert(rows(wGone) === rows(TextAnalysis.winnowIndex(
      all.where(col("doc_id") === 3), "doc_id", "text", 3, 4)))

    // --- every-window flavor, same contract ---
    val hIdx = TextAnalysis.advanceWindowHashIndex(
      TextAnalysis.windowHashIndex(corpus, "doc_id", "text", 4),
      arrivals, "doc_id", "text", 4)
    val hOcc = TextAnalysis.windowPostings(all, "doc_id", "text", 4)
    val hDel = TextAnalysis.deleteFromWindowHashIndex(hIdx, hOcc,
      "doc_id", only(1L))
    assert(rows(hDel) === rows(TextAnalysis.windowHashIndex(
      all.where(col("doc_id") =!= 1), "doc_id", "text", 4)),
      "window-hash delete == rebuild")
  }

  test("winnowIndex: canonical per fingerprint; advance equals " +
      "rebuild under the reserved-id contract and is idempotent") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (11L, "alpha beta gamma delta epsilon zeta nine ten"),
      (12L, "fresh words only here nothing shared at all"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getInt(2))).toSet
    val idx = TextAnalysis.winnowIndex(corpus, "doc_id", "text", 3, 4)
    // one row per distinct fp
    val fps = idx.select("fp").collect().map(_.getString(0))
    assert(fps.length === fps.distinct.length)
    val advanced = TextAnalysis.advanceWinnowIndex(idx, arrivals,
      "doc_id", "text", 3, 4)
    val rebuilt = TextAnalysis.winnowIndex(corpus.unionByName(arrivals),
      "doc_id", "text", 3, 4)
    assert(rows(advanced) === rows(rebuilt), "advance == rebuild")
    // idempotent: re-advancing the same batch changes nothing
    assert(rows(TextAnalysis.advanceWinnowIndex(advanced, arrivals,
      "doc_id", "text", 3, 4)) === rows(advanced))
    // the shared 6-token run's fingerprint stayed canonical at doc 1
    val probe = graft.streaming.StreamOps.incrementalWinnowDupFlags(
      arrivals.withColumn("ts", col("doc_id")), idx,
      "doc_id", "text", "ts", 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(probe.nonEmpty && probe.forall(_ == ((11L, 1L))),
      "only the sharing arrival flags, against corpus doc 1")
  }

  test("pplBuckets: per-group terciles split head/middle/tail " +
      "evenly and never mix orders; cuts are group-local") {
    val scored = ((1 to 9).map(i => (i.toLong, "en", i.toDouble)) ++
      (1 to 9).map(i => (100L + i, "fr", 1000.0 + i)))
      .toDF("doc_id", "lang", "self_info")
    val out = TextAnalysis.pplBuckets(scored, "lang", "self_info")
      .select("doc_id", "lang", "self_info", "t1", "t2", "bucket")
      .as[(Long, String, Double, Double, Double, String)].collect()
    assert(out.length === 18)
    Seq("en", "fr").foreach { g =>
      val rows = out.filter(_._2 == g)
      val byB = rows.groupBy(_._6).view.mapValues(_.map(_._3)).toMap
      assert(byB.keySet === Set("head", "middle", "tail"))
      assert(byB("head").size === 3 && byB("middle").size === 3 &&
        byB("tail").size === 3, s"$g: even tercile split of 9")
      assert(byB("head").max < byB("middle").min)
      assert(byB("middle").max < byB("tail").min)
    }
    // cuts are PER GROUP: every fr score lands above every en cut,
    // yet fr still has a head -- a global cut would put all of fr
    // in tail
    val fr = out.filter(_._2 == "fr")
    assert(fr.forall(r => r._4 > 1000.0 && r._5 > 1000.0))
    assert(fr.exists(_._6 == "head"))
  }

  test("kneserNey: hand-computed probabilities -- seen pair, " +
      "interpolated pair, unseen context, OOV token") {
    // fit "a b a b a c": bg (a,b)=2 (b,a)=2 (a,c)=1; ctx a:(3,2) b:(2,1);
    // cont b/a/c each 1; n1tot=3 bigram types
    val fit = Seq((0L, "a b a b a c")).toDF("doc_id", "text")
    val model = TextAnalysis.kneserNeyModel(fit, "text")
    val score = Seq((10L, "a b"), (11L, "a a"), (12L, "c b"),
      (13L, "a q")).toDF("doc_id", "text")
    val out = TextAnalysis.scoreAgainstKnModel(score, model,
        "doc_id", "text")
      .select("doc_id", "n_ngrams", "n_ctx_unseen", "n_interp",
        "self_info_kn")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    // seen pair (a,b): p = (max(2-.75,0) + .75*2*(1/3)) / 3
    assert(out(10L) ===
      ((1L, 0L, 0L, r4(-math.log((1.25 + 0.75 * 2 * (1.0 / 3)) / 3)))))
    // unseen pair, seen ctx (a,a): p = (.75*2*(1/3)) / 3 = 1/6
    assert(out(11L) === ((1L, 0L, 1L, r4(math.log(6.0)))))
    // unseen ctx c: p = pcont(b) = 1/3
    assert(out(12L) === ((1L, 1L, 0L, r4(math.log(3.0)))))
    // q has no continuation entry: position skipped, doc emits nothing
    assert(!out.contains(13L))
  }

  test("kneserNey: fit-on-self never interpolates; continuation " +
      "prior ignores raw frequency (the bursty-token fix)") {
    val docs = Seq(
      (1L, "the fast join runs the fast scan"),
      (2L, "the fast join beats the slow scan")).toDF("doc_id", "text")
    val self = TextAnalysis.selfInfoKneserNey(docs, "doc_id", "text")
      .select("doc_id", "n_ctx_unseen", "n_interp", "self_info_kn")
      .as[(Long, Long, Long, Double)].collect()
    assert(self.nonEmpty)
    self.foreach { case (d, cb, ni, s) =>
      assert(cb === 0L && ni === 0L, s"fit-on-self fired on doc $d")
      assert(s > 0.0)
    }
    // "francisco" occurs 3x but only ever after "san"; "york" once.
    // After an UNSEEN context both score the continuation prior, and
    // the priors are EQUAL (1 distinct context each) -- raw frequency
    // does not leak in. That is Kneser-Ney's defining property.
    val burst = Seq((0L,
      "san francisco san francisco san francisco new york new delhi"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.kneserNeyModel(burst, "text")
    val probes = Seq((20L, "q francisco"), (21L, "q york"))
      .toDF("doc_id", "text")
    val p = TextAnalysis.scoreAgainstKnModel(probes, m, "doc_id", "text")
      .select("doc_id", "n_ctx_unseen", "self_info_kn")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(p(20L)._1 === 1L && p(21L)._1 === 1L)
    assert(p(20L)._2 === p(21L)._2,
      "continuation prior must not favor the frequent-but-bursty token")
  }

  test("kneserNey trigram: hand-computed probabilities at every " +
      "backoff depth; fit-on-self never leaves the top order") {
    // fit "a b c a b c a b d": trigram types (abc)x2 (bca)x2 (cab)x2
    // (abd)x1; bigram types (a,b)(b,c)(c,a)(b,d) -> n1tot = 4
    val fit = Seq((0L, "a b c a b c a b d")).toDF("doc_id", "text")
    val model = TextAnalysis.kneserNeyTrigramModel(fit, "text")
    val score = Seq((10L, "a b c"), (11L, "x b c"), (12L, "x y c"),
      (13L, "x y q")).toDF("doc_id", "text")
    val out = TextAnalysis.scoreAgainstKn3Model(score, model,
        "doc_id", "text")
      .select("doc_id", "n_ngrams", "n_ctx3_unseen", "n_ctx2_unseen",
        "self_info_kn3")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    val pc = 1.0 / 4 // N1+(.c)=1 over 4 bigram types
    val p2 = (math.max(1 - 0.75, 0.0) + (0.75 * 2) * pc) / 2 // u=b
    val p3 = (math.max(2 - 0.75, 0.0) + (0.75 * 2) * p2) / 3 // ctx(a,b)
    assert(out(10L) === ((1L, 0L, 0L, r4(-math.log(p3)))))
    assert(out(11L) === ((1L, 1L, 0L, r4(-math.log(p2)))),
      "unseen (v,u) falls to the continuation bigram")
    assert(out(12L) === ((1L, 1L, 1L, r4(-math.log(pc)))),
      "unseen u falls to the continuation prior")
    assert(!out.contains(13L), "OOV token skipped")
    // fit-on-self: every position stays at the top order
    val self = TextAnalysis.selfInfoKneserNey3(fit, "doc_id", "text")
      .select("n_ctx3_unseen", "n_ctx2_unseen")
      .as[(Long, Long)].head()
    assert(self === ((0L, 0L)))
  }

  test("kneserNey trigram flavors agree within 1e-9") {
    val docs = Seq(
      (1L, "the fast join runs the fast scan merge"),
      (2L, "slow scan the fast join merge runs"),
      (3L, "merge the slow join")).toDF("doc_id", "text")
    val model = TextAnalysis.kneserNeyTrigramModel(
      docs.filter(col("doc_id") =!= 3L), "text")
    val a = TextAnalysis.scoreAgainstKn3Model(
        docs, model, "doc_id", "text")
      .select("doc_id", "self_info_kn3").as[(Long, Double)].collect().toMap
    val p = TextAnalysis.scoreAgainstKn3ModelPortable(
        docs, model, "doc_id", "text")
      .select("doc_id", "self_info_kn3").as[(Long, Double)].collect().toMap
    assert(a.keySet === p.keySet && a.nonEmpty)
    a.foreach { case (d, v) => assert(math.abs(v - p(d)) < 1e-9, s"doc $d") }
  }

  test("kneserNey flavors agree within 1e-9 (algebraic vs ordered " +
      "fold); probabilities always positive so no seen-context drop") {
    val docs = Seq(
      (1L, "the fast join runs the fast scan merge"),
      (2L, "slow scan the fast join merge runs"),
      (3L, "merge the slow join")).toDF("doc_id", "text")
    val model = TextAnalysis.kneserNeyModel(
      docs.filter(col("doc_id") =!= 3L), "text")
    val a = TextAnalysis.scoreAgainstKnModel(
        docs, model, "doc_id", "text")
      .select("doc_id", "self_info_kn").as[(Long, Double)].collect().toMap
    val p = TextAnalysis.scoreAgainstKnModelPortable(
        docs, model, "doc_id", "text")
      .select("doc_id", "self_info_kn").as[(Long, Double)].collect().toMap
    assert(a.keySet === p.keySet && a.nonEmpty)
    a.foreach { case (d, v) => assert(math.abs(v - p(d)) < 1e-9, s"doc $d") }
    // every doc-3 position whose TOKEN is in the continuation table
    // scores (MLE would drop their unseen contexts/pairs): of the 3
    // bigrams, (the,slow) is skipped -- "slow" never follows anything
    // in the fit half -- and (merge,the) + (slow,join) both score
    val d3 = TextAnalysis.scoreAgainstKnModel(
        docs.filter(col("doc_id") === 3L), model, "doc_id", "text")
      .select("n_ngrams", "n_interp").as[(Long, Long)].head()
    assert(d3 === ((2L, 2L)), "both in-vocab doc-3 bigrams interpolate")
  }

  test("fitBpeMerges learns the classic low/lower/newest merges") {
    val docs = Seq((1L, "low low low lower lower newest")).toDF("doc_id", "text")
    val merges = TextAnalysis.fitBpeMerges(docs, "text", 3)
    // round 1: (l,o)=5 ties (o,w)=5 → lexicographic lower pair wins;
    // round 2: (lo,w)=5; round 3: (low,e)=2 ties (e,r)=2 → (e,r)
    assert(merges.map(m => (m.lhs, m.rhs, m.pair_count)) ===
      Seq(("l", "o", 5L), ("lo", "w", 5L), ("e", "r", 2L)))
    assert(merges.map(_.rank) === Seq(1L, 2L, 3L))
    assert(merges.map(_.merged) === Seq("lo", "low", "er"))
  }

  test("fitBpeMerges is prefix-stable: fit(5) starts with fit(3)") {
    val docs = Seq((1L, "low low low lower lower newest widest")).toDF("doc_id", "text")
    val m3 = TextAnalysis.fitBpeMerges(docs, "text", 3)
    val m5 = TextAnalysis.fitBpeMerges(docs, "text", 5)
    assert(m5.take(3) === m3)
    assert(m5.size === 5)
  }

  test("batched fitBpeMerges: symbol-disjoint pairs admit in one " +
      "recount, matching sequential BPE exactly") {
    // counts: (a,b)=3, (c,d)=2, (e,f)=1 — pairwise symbol-disjoint, so
    // one batched recount must reproduce sequential BPE rule for rule
    val docs = Seq((1L, "ab ab ab cd cd ef")).toDF("doc_id", "text")
    val seq = TextAnalysis.fitBpeMerges(docs, "text", 3)
    val bat = TextAnalysis.fitBpeMerges(docs, "text", 3, batchSize = 8)
    assert(bat === seq)
    assert(bat.map(m => (m.lhs, m.rhs, m.pair_count)) ===
      Seq(("a", "b", 3L), ("c", "d", 2L), ("e", "f", 1L)))
  }

  test("batched fitBpeMerges: a conflicting pair waits for the next " +
      "recount instead of merging on a stale count") {
    // counts: (l,o)=5 ties (o,w)=5 → (l,o) admits first (lex tie);
    // (o,w) SHARES o, so it must not admit this round on count 5 —
    // after (l,o) merges, "o w" occurrences are gone ((lo,w)=5 is the
    // real successor, found by the next recount). Batched output must
    // therefore still equal sequential output here
    val docs = Seq((1L, "low low low low low")).toDF("doc_id", "text")
    val seq = TextAnalysis.fitBpeMerges(docs, "text", 2)
    val bat = TextAnalysis.fitBpeMerges(docs, "text", 2, batchSize = 8)
    assert(bat === seq)
    assert(bat.map(m => (m.lhs, m.rhs)) === Seq(("l", "o"), ("lo", "w")))
  }

  test("fitBpeMerges small-vocab local path is merge-for-merge " +
      "identical to the distributed loop (r19 fast path)") {
    // localFitWords = 0 forces the distributed rounds; the default
    // takes the collected fast path — same corpus, same output,
    // sequential AND batched, including tie rounds and under-filled
    // batches (the bit-parity the BPE oracles rely on)
    val docs = Seq(
      (1L, "low low low lower lower newest widest"),
      (2L, "new newer newest low slow slower"),
      (3L, "wide wider widest lowest lowest")).toDF("doc_id", "text")
    val localSeq = TextAnalysis.fitBpeMerges(docs, "text", 12)
    val distSeq = TextAnalysis.fitBpeMerges(docs, "text", 12,
      localFitWords = 0)
    assert(localSeq === distSeq)
    assert(localSeq.size === 12)
    val localBat = TextAnalysis.fitBpeMerges(docs, "text", 12,
      batchSize = 4)
    val distBat = TextAnalysis.fitBpeMerges(docs, "text", 12,
      batchSize = 4, localFitWords = 0)
    assert(localBat === distBat)
  }

  test("fitBpeMerges local and distributed fits agree on words holding " +
      "the line terminators U+0085, U+2028 and U+2029") {
    // normalize() keeps these (Java \s excludes them) and a bare regex
    // "." skips them, so both fits must frame them as symbols of their own
    val docs = Seq(
      (1L, "x\u2028y x\u2028y x\u2028y a\u0085b a\u0085b"),
      (2L, "p\u2029q p\u2029q x\u2028y a\u0085b")).toDF("doc_id", "text")
    val local = TextAnalysis.fitBpeMerges(docs, "text", 6)
    val dist = TextAnalysis.fitBpeMerges(docs, "text", 6,
      localFitWords = 0)
    assert(dist === local)
    assert(local.head.lhs === "x" && local.head.rhs === "\u2028")
    assert(TextAnalysis.fitBpeMerges(docs, "text", 6, batchSize = 3,
      localFitWords = 0) ===
      TextAnalysis.fitBpeMerges(docs, "text", 6, batchSize = 3))
  }

  test("fitBpeMerges takes the distributed rounds once distinct words " +
      "× merges exceed the local budget, with the local fit's merges") {
    val docs = Seq(
      (1L, "low lower newest"),
      (2L, "low newer wide")).toDF("doc_id", "text")
    val nWords = 5L
    // far more merges than the corpus has pairs: both fits stop when
    // every word is one symbol, so they must return the same sequence
    val local = TextAnalysis.fitBpeMerges(docs, "text", 64)
    assert(local.nonEmpty && local.size < 64)
    val overBudget = (TextAnalysis.BpeLocalFitBudget / nWords + 1).toInt
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val dist =
      try TextAnalysis.fitBpeMerges(docs, "text", overBudget)
      finally spark.sparkContext.removeSparkListener(listener)
    assert(dist === local)
    // the distributed loop runs one recount job per merge (plus the
    // exhausted round); the local path is the probe's collect alone
    assert(jobs.get > local.size, s"${jobs.get} jobs")
  }

  test("fitBpeMerges local and distributed fits agree on generated " +
      "words with line terminators and supplementary code points") {
    import org.scalacheck.{Gen, Prop, Test}
    // U+0085/U+2028/U+2029 are not Java \s (they stay inside words);
    // the supplementary and U+FF21 symbols order differently in UTF-16
    // and UTF-8, which the tie-break must get right
    val symbols = Seq("a", "b", "\u0085", "\u2028", "\u2029",
      "\uD83D\uDE00", "\uD835\uDC00", "\uFF21")
    val word = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(symbols)).map(_.mkString))
    val text = Gen.choose(2, 6).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val prop = Prop.forAllNoShrink(Gen.listOfN(2, text)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      TextAnalysis.fitBpeMerges(docs, "text", 4) ===
        TextAnalysis.fitBpeMerges(docs, "text", 4, localFitWords = 0)
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(25).withWorkers(1),
      prop)
    assert(result.passed, result.status.toString)
  }

  test("batched fitBpeMerges: ranks stay strictly increasing across " +
      "under-filled rounds (the bpeTokenizeFast contract)") {
    val docs = Seq(
      (1L, "low low low lower lower newest widest"),
      (2L, "new newer newest low slow slower"),
      (3L, "wide wider widest lowest")).toDF("doc_id", "text")
    val bat = TextAnalysis.fitBpeMerges(docs, "text", 12, batchSize = 4)
    assert(bat.map(_.rank) === (1L to bat.size.toLong))
    // and the frozen-model apply accepts them (requires the invariant)
    val out = TextAnalysis.bpeTokenizeFast(docs, "doc_id", "text", bat)
    assert(out.count() === docs.count())
  }

  test("bpeTokenize applies merges greedily left-to-right, runs included") {
    def toks(text: String, merges: Seq[(String, String)]): Seq[String] = {
      val ms = merges.zipWithIndex.map { case ((a, b), i) =>
        TextAnalysis.BpeMerge(i + 1L, a, b, a + b, 0L) }
      TextAnalysis.bpeTokenize(Seq((1L, text)).toDF("doc_id", "text"),
          "doc_id", "text", ms)
        .select("tokens").as[Seq[String]].head()
    }
    // run of four: greedy pairs BOTH — the single-space encoding bug
    // this would catch yields [aa, a, a]
    assert(toks("aaaa", Seq(("a", "a"))) === Seq("aa", "aa"))
    assert(toks("aaa", Seq(("a", "a"))) === Seq("aa", "a"))
    // adjacent occurrences sharing a boundary space
    assert(toks("abab", Seq(("a", "b"))) === Seq("ab", "ab"))
    // merges never cross word boundaries, and a symbol PREFIX must not
    // fake a match ("bc" starts with b but is not the symbol b)
    assert(toks("a bc", Seq(("a", "b"))) === Seq("a", "b", "c"))
    // ...nor a symbol SUFFIX ("xa" ends with a)
    assert(toks("xab", Seq(("x", "a"))) === Seq("xa", "b"))
    assert(toks("aab", Seq(("a", "b"))) === Seq("a", "ab"))
    // merges chain in rank order: (l,o) then (lo,w)
    assert(toks("low lower", Seq(("l", "o"), ("lo", "w"))) ===
      Seq("low", "low", "e", "r"))
  }

  test("bpeTokenizeFast: token-for-token equal to the literal chain " +
      "on planted edge shapes") {
    def both(text: String, merges: Seq[(String, String)]):
        (Seq[String], Seq[String]) = {
      val ms = merges.zipWithIndex.map { case ((a, b), i) =>
        TextAnalysis.BpeMerge(i + 1L, a, b, a + b, 0L) }
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val lit = TextAnalysis.bpeTokenize(df, "doc_id", "text", ms)
        .select("tokens").as[Seq[String]].head()
      val fast = TextAnalysis.bpeTokenizeFast(df, "doc_id", "text", ms)
        .select("tokens").as[Seq[String]].head()
      (lit, fast)
    }
    // runs, adjacency reuse, prefix/suffix fakes, rank chaining —
    // every planted case the literal-chain test pins, plus the
    // pathological pair-recurrence shapes
    val cases = Seq(
      ("aaaa", Seq(("a", "a"))),
      ("aaa", Seq(("a", "a"))),
      ("abab", Seq(("a", "b"))),
      ("a bc", Seq(("a", "b"))),
      ("xab", Seq(("x", "a"))),
      ("aab", Seq(("a", "b"))),
      ("low lower lowest", Seq(("l", "o"), ("lo", "w"), ("e", "s"))),
      // rule 2 re-creates rule 1's pair (x next to y via merged "x"?
      // here: merging (b,c)->bc puts "a" adjacent to "bc"; the
      // EARLIER rule (a,bc) must NOT fire (it is past its turn) while
      // the LATER duplicate (a,bc) at rank 3 must
      ("abc abc", Seq(("a", "bc"), ("b", "c"), ("a", "bc"))),
      // empty text: literal chain yields the single empty token
      ("", Seq(("a", "b"))),
      ("   ", Seq(("a", "b"))))
    cases.foreach { case (text, ms) =>
      val (lit, fast) = both(text, ms)
      assert(fast === lit, s"flavor drift on '$text' with $ms")
    }
  }

  test("bpeTokenizeFast rejects rank sequences the literal chain " +
      "would silently diverge from") {
    val df = Seq((1L, "aa")).toDF("doc_id", "text")
    // rank 0 (lastRank starts there), duplicate ranks, out-of-order
    for (ranks <- Seq(Seq(0L, 1L), Seq(3L, 3L), Seq(2L, 1L))) {
      val ms = ranks.zipWithIndex.map { case (r, i) =>
        TextAnalysis.BpeMerge(r, "a", "a" + i, "a" + "a" + i, 0L) }
      assertThrows[IllegalArgumentException] {
        TextAnalysis.bpeTokenizeFast(df, "doc_id", "text", ms)
      }
    }
  }

  test("bpeTokenizeFast == bpeTokenize on a fitted corpus, full row") {
    val docs = Seq(
      (1L, "stream stream streams join joins join"),
      (2L, "join stream joins streams"),
      (3L, "the window aggregates the stream"),
      (4L, "")).toDF("doc_id", "text")
    val merges = TextAnalysis.fitBpeMerges(docs, "text", 8)
    val lit = TextAnalysis.bpeTokenize(docs, "doc_id", "text", merges)
      .select("doc_id", "tokens", "n_tokens", "tokens_sig")
      .as[(Long, Seq[String], Long, String)].collect().sortBy(_._1)
    val fast = TextAnalysis.bpeTokenizeFast(docs, "doc_id", "text", merges)
      .select("doc_id", "tokens", "n_tokens", "tokens_sig")
      .as[(Long, Seq[String], Long, String)].collect().sortBy(_._1)
    assert(fast === lit)
  }

  test("bpeVocabulary + bpeEncodeIds: hand-computed ids; frozen-vocab " +
      "arrival counts OOV") {
    val docs = Seq((1L, "low low low lower lower newest")).toDF("doc_id", "text")
    val merges = TextAnalysis.fitBpeMerges(docs, "text", 3)
    // fit (pinned elsewhere): (l,o)→lo, (lo,w)→low, (e,r)→er
    val vocab = TextAnalysis.bpeVocabulary(docs, "text", merges)
      .as[(String, Long)].collect().toMap
    // alphabet sorted: e,l,n,o,r,s,t,w → 0..7; merges lo=8 low=9 er=10
    assert(vocab === Map("e" -> 0L, "l" -> 1L, "n" -> 2L, "o" -> 3L,
      "r" -> 4L, "s" -> 5L, "t" -> 6L, "w" -> 7L,
      "lo" -> 8L, "low" -> 9L, "er" -> 10L))
    val out = TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges,
        TextAnalysis.bpeVocabulary(docs, "text", merges))
      .select("doc_id", "token_ids", "n_oov")
      .as[(Long, Seq[Long], Long)].head()
    // "low low low lower lower newest" →
    // [low low low low er low er n e w e s t]
    assert(out._2 === Seq(9L, 9L, 9L, 9L, 10L, 9L, 10L,
      2L, 0L, 7L, 0L, 5L, 6L))
    assert(out._3 === 0L)
    // frozen artifacts against an arrival with NEW code points: every
    // unknown token encodes as oovId and the witness counts it
    val arrival = Seq((2L, "lox zz")).toDF("doc_id", "text")
    val a = TextAnalysis.bpeEncodeIds(arrival, "doc_id", "text", merges,
        TextAnalysis.bpeVocabulary(docs, "text", merges))
      .select("token_ids", "n_oov").as[(Seq[Long], Long)].head()
    // "lox" → lo,x ; "zz" → z,z — x and z are OOV
    assert(a._1 === Seq(8L, -1L, -1L, -1L))
    assert(a._2 === 3L)
  }

  test("bpeEncodeIdsBytes: NO OOV outcome — unknown tokens become " +
      "UTF-8 bytes at reserved ids [0,255], vocab ids shift +256, " +
      "and the byte ids decode back to the exact token") {
    val docs = Seq((1L, "low low low lower lower newest")).toDF("doc_id", "text")
    val merges = TextAnalysis.fitBpeMerges(docs, "text", 3)
    val vocab = TextAnalysis.bpeVocabulary(docs, "text", merges)
    // fit-on-self: same sequence as bpeEncodeIds shifted +256
    val self = TextAnalysis.bpeEncodeIdsBytes(docs, "doc_id", "text",
        merges, vocab)
      .select("token_ids", "n_oov", "n_fallback")
      .as[(Seq[Long], Long, Long)].head()
    assert(self._1 === Seq(9L, 9L, 9L, 9L, 10L, 9L, 10L,
      2L, 0L, 7L, 0L, 5L, 6L).map(_ + 256L))
    assert(self._2 === 0L && self._3 === 0L)
    // arrival with code points the fit never saw: 1-byte (x, z),
    // 2-byte (é), 3-byte (€), 4-byte (𝄞) — every width falls back,
    // nothing is OOV, and the byte runs are the exact UTF-8 encoding
    val arrival = Seq((2L, "lox zé €𝄞")).toDF("doc_id", "text")
    val a = TextAnalysis.bpeEncodeIdsBytes(arrival, "doc_id", "text",
        merges, vocab)
      .select("token_ids", "n_tokens", "n_ids", "n_oov", "n_fallback")
      .as[(Seq[Long], Long, Long, Long, Long)].head()
    def bytes(s: String) = s.getBytes(
      java.nio.charset.StandardCharsets.UTF_8).toSeq.map(b => (b & 0xff).toLong)
    // "lox" → symbols [lo, x]: lo in vocab (8+256), x falls back;
    // "zé" and "€𝄞" have no vocab symbols at all
    assert(a._1 === (Seq(264L) ++ bytes("x") ++ bytes("z") ++
      bytes("é") ++ bytes("€") ++ bytes("𝄞")))
    assert(a._4 === 0L) // the closure: no OOV outcome exists
    assert(a._5 === 5L) // x, z, é, €, 𝄞 each took the byte path
    assert(a._3 === a._1.length.toLong)
    // id spaces are disjoint: bytes below 256, vocab at/above it
    assert(a._1.filter(_ < 256L).forall(id => id >= 0L))
    assert(self._1.forall(_ >= 256L))
    // lossless: byte ids below 256 decode back to the exact text
    val fbBytes = a._1.filter(_ < 256L).map(_.toByte).toArray
    assert(new String(fbBytes,
      java.nio.charset.StandardCharsets.UTF_8) === "xzé€𝄞")
  }

  test("BPE merge table round-trips through parquet; rehydrated " +
      "tokenization bit-equal") {
    val docs = Seq(
      (1L, "stream stream streams join joins join"),
      (2L, "join stream joins streams")).toDF("doc_id", "text")
    val merges = TextAnalysis.fitBpeMerges(docs, "text", 6)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bpe_artifact").toString
    TextAnalysis.bpeMergesToDf(spark, merges)
      .write.mode("overwrite").parquet(dir)
    val back = TextAnalysis.bpeMergesFromDf(spark.read.parquet(dir))
    assert(back === merges)
    val want = TextAnalysis.bpeTokenizeFast(docs, "doc_id", "text", merges)
      .select("doc_id", "tokens_sig").as[(Long, String)].collect().toSet
    val got = TextAnalysis.bpeTokenizeFast(docs, "doc_id", "text", back)
      .select("doc_id", "tokens_sig").as[(Long, String)].collect().toSet
    assert(got === want)
  }

  test("bpeTokenize agrees with the fit's own final symbol state") {
    val docs = Seq(
      (1L, "stream stream streams join joins join"),
      (2L, "join stream joins streams")).toDF("doc_id", "text")
    val merges = TextAnalysis.fitBpeMerges(docs, "text", 6)
    val out = TextAnalysis.bpeTokenize(docs, "doc_id", "text", merges)
      .select("doc_id", "tokens").as[(Long, Seq[String])].collect().toMap
    // every token must be a vocab entry reachable from the merges
    // (a char or a merged symbol) — no token invented by the apply
    val vocab = merges.map(_.merged).toSet
    val allToks = out.values.flatten.toSet
    assert(allToks.forall(t => t.length == 1 || vocab.contains(t)),
      s"tokens not derivable from merges: ${allToks.filterNot(t =>
        t.length == 1 || vocab.contains(t))}")
    // and re-joining tokens reconstructs the normalized text exactly
    assert(out(1L).mkString === "streamstreamstreamsjoinjoinsjoin")
  }

  test("nbQualityModel: hand-computed counts, llr, prior, oov") {
    // pos docs: "a a b" + "a c"  /  neg doc: "b b c"
    // counts: a=(3,0) b=(1,2) c=(1,1); T_pos=5 T_neg=3 V=3; docs 2/1
    val df = Seq((1L, "a a b", true), (2L, "a c", true),
      (3L, "b b c", false)).toDF("doc_id", "text", "lab")
    val m = TextAnalysis.nbQualityModel(df, "text", "lab")
      .collect().map(r => r.getAs[String]("__ntok") ->
        (r.getAs[Long]("__np"), r.getAs[Long]("__nn"),
          r.getAs[Double]("__llr"), r.getAs[Double]("__prior"),
          r.getAs[Double]("__oov"))).toMap
    assert(m("a")._1 === 3L && m("a")._2 === 0L)
    assert(m("b")._1 === 1L && m("b")._2 === 2L)
    assert(m("c")._1 === 1L && m("c")._2 === 1L)
    def llr(np: Long, nn: Long) =
      (math.log(np + 1.0) - math.log(5 + 3.0)) -
        (math.log(nn + 1.0) - math.log(3 + 3.0))
    assert(math.abs(m("a")._3 - llr(3, 0)) < 1e-12)
    assert(math.abs(m("b")._3 - llr(1, 2)) < 1e-12)
    assert(math.abs(m("a")._4 - math.log(2.0)) < 1e-12)
    // OOV: ln(1/(T_pos+V)) − ln(1/(T_neg+V)) = ln(6) − ln(8)
    assert(math.abs(m("a")._5 - (math.log(6.0) - math.log(8.0))) < 1e-12)
  }

  test("scoreAgainstNbModel: frozen model scores arrivals, OOV counted") {
    val fit = Seq((1L, "a a b", true), (2L, "a c", true),
      (3L, "b b c", false)).toDF("doc_id", "text", "lab")
    val model = TextAnalysis.nbQualityModel(fit, "text", "lab")
    // arrival: "a z" — a in vocab, z OOV
    val out = TextAnalysis.scoreAgainstNbModel(
        Seq((10L, "a z")).toDF("doc_id", "text"), model, "doc_id", "text")
      .head()
    assert(out.getAs[Long]("n_tokens") === 2L)
    assert(out.getAs[Long]("n_oov") === 1L)
    val llrA = (math.log(4.0) - math.log(8.0)) -
      (math.log(1.0) - math.log(6.0))
    val oov = math.log(6.0) - math.log(8.0)
    val want = math.log(2.0) + llrA + oov
    assert(math.abs(out.getAs[Double]("log_odds") -
      math.rint(want * 1e4) / 1e4) < 1e-9)
    assert(out.getAs[Boolean]("predicted_keep") === (want > 0))
  }

  test("nbQualityScore: fit-on-self has zero OOV; portable agrees " +
      "with the algebraic default on the rounding grid") {
    val docs = Seq(
      (1L, "the cat sat on the mat and it was a good day for the cat"),
      (2L, "zzz qqq xxx zzz qqq xxx zzz qqq xxx"),
      (3L, "the dog ran in the park and it was a fine day"),
      (4L, "qqq zzz mmm qqq zzz mmm")).toDF("doc_id", "text")
    val lab = docs.withColumn("lab", col("doc_id") % 2 === 1)
    val dflt = TextAnalysis.nbQualityScore(lab, "doc_id", "text", "lab")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_oov"), r.getAs[Double]("log_odds"),
          r.getAs[Boolean]("predicted_keep"))).toMap
    val port = TextAnalysis.nbQualityScorePortable(lab, "doc_id", "text",
        "lab")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_oov"), r.getAs[Double]("log_odds"),
          r.getAs[Boolean]("predicted_keep"))).toMap
    dflt.values.foreach { case (noov, _, _) => assert(noov === 0L) }
    dflt.foreach { case (id, (_, lo, pred)) =>
      assert(math.abs(lo - port(id)._2) <= 1e-4 + 1e-12)
      assert(pred === port(id)._3)
    }
    // stopword-rich odd docs (the positive class) score positive,
    // gibberish even docs negative — the classifier separates them
    assert(dflt(1L)._3 && dflt(3L)._3)
    assert(!dflt(2L)._3 && !dflt(4L)._3)
  }

  test("spanCorrupt: splicing each target span back at its sentinel " +
      "reconstructs the original token stream exactly (the lossless-" +
      "pair invariant), sentinels number 0..n_spans-1 in order, and " +
      "the output is repartition-deterministic") {
    import graft.functions.TextFns
    val docs = (0L until 40L).map(id =>
      (id, ("the quick brown fox jumps over the lazy dog and then " +
        s"runs far away home again x$id y$id z$id ") * 4))
      .toDF("doc_id", "text")
    val out = TextAnalysis.spanCorrupt(docs, "doc_id", "text").collect()
    assert(out.length === 40)
    val orig = docs.select(col("doc_id"),
        TextFns.bpeishTokens(col("text")).as("ts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val sentinelRe = "<extra_id_(\\d+)>".r
    var sawMask = false
    out.foreach { r =>
      val id = r.getLong(0)
      val input = r.getAs[String]("input_text").split(" ").toSeq
      val target = r.getAs[String]("target_text")
      val nSpans = r.getAs[Long]("n_spans")
      // parse the target into span_k -> tokens
      val spans: Map[Long, Seq[String]] =
        if (target.isEmpty) Map.empty
        else {
          val parts = sentinelRe.split(target).toSeq.map(_.trim)
          val ks = sentinelRe.findAllMatchIn(target)
            .map(_.group(1).toLong).toSeq
          assert(parts.head.isEmpty) // target starts with a sentinel
          ks.zip(parts.tail).map { case (k, p) =>
            k -> p.split(" ").toSeq.filter(_.nonEmpty) }.toMap
        }
      assert(spans.keySet === (0L until nSpans).toSet)
      // splice: each sentinel in the input expands to its span tokens
      val rebuilt = input.flatMap {
        case sentinelRe(k) => spans(k.toLong)
        case t => Seq(t)
      }
      assert(rebuilt === orig(id), s"doc $id")
      // sentinels appear in increasing order in the input
      val ksInInput = input.collect { case sentinelRe(k) => k.toLong }
      assert(ksInInput === ksInInput.sorted)
      assert(r.getAs[Long]("n_masked") >= nSpans)
      if (nSpans > 0) sawMask = true
    }
    assert(sawMask) // the fixture is long enough that masking happened
    // repartition-deterministic (mask is a pure id+pos function)
    val again = TextAnalysis.spanCorrupt(docs.repartition(7), "doc_id",
      "text").collect().map(r => r.getLong(0) ->
      (r.getAs[String]("input_text"), r.getAs[String]("target_text")))
      .toMap
    out.foreach { r =>
      assert(again(r.getLong(0)) ===
        ((r.getAs[String]("input_text"), r.getAs[String]("target_text"))))
    }
  }

  test("fimSplit: prefix+middle+suffix is exactly the original token " +
      "stream, cuts are ordered and in-range, empty docs survive, and " +
      "the plan is a pure projection (no exchange)") {
    import graft.functions.TextFns
    val docs = ((0L until 50L).map(id =>
      (id, s"one two three four five six seven eight nine ten x$id")) :+
      (99L, "")).toDF("doc_id", "text")
    val fim = TextAnalysis.fimSplit(docs, "doc_id", "text")
    assert(!fim.queryExecution.executedPlan.toString.contains("Exchange"))
    val out = fim.collect()
    assert(out.length === 51) // the empty doc is a row, not a drop
    val orig = docs.select(col("doc_id"),
        TextFns.bpeishTokens(col("text")).as("ts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    def toks(s: String) = s.split(" ").toSeq.filter(_.nonEmpty)
    var sawMiddle = false
    out.foreach { r =>
      val id = r.getLong(0)
      val (n, c1, c2) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cut1"), r.getAs[Long]("cut2"))
      assert(0 <= c1 && c1 <= c2 && c2 <= n, s"doc $id: $c1 $c2 $n")
      val (p, m, sfx) = (r.getAs[String]("prefix"),
        r.getAs[String]("middle"), r.getAs[String]("suffix"))
      assert(toks(p) ++ toks(m) ++ toks(sfx) === orig(id), s"doc $id")
      assert(toks(p).length === c1 && toks(m).length === c2 - c1)
      assert(r.getAs[String]("psm_text") ===
        s"<PRE> $p <SUF> $sfx <MID> $m")
      if (m.nonEmpty) sawMiddle = true
    }
    assert(sawMiddle) // the cuts actually produce non-degenerate splits
    val again = TextAnalysis.fimSplit(docs.repartition(5), "doc_id",
      "text").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("psm_text")).toMap
    out.foreach(r =>
      assert(again(r.getLong(0)) === r.getAs[String]("psm_text")))
  }

  test("featureHash: stable buckets in range, repeated tokens stack " +
      "their sign, weight mass bounded by token count") {
    import spark.implicits._
    val df = Seq((1L, "foo foo foo"), (2L, "foo bar"), (3L, "foo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.featureHash(df, "doc_id", "text", dims = 32)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(out.forall { case ((_, b), _) => b >= 0 && b < 32 })
    val byDoc = out.groupBy(_._1._1)
    // same token, same bucket, same sign: "foo foo foo" is one ±3 cell
    assert(byDoc(1L).map(_._2).toSeq.map(math.abs) == Seq(3L))
    assert(byDoc(3L).map(_._2).toSeq.map(math.abs) == Seq(1L))
    // foo's cell in doc 1 and doc 3 agree on bucket and sign direction
    val fooCell1 = byDoc(1L).head
    val fooCell3 = byDoc(3L).head
    assert(fooCell1._1._2 == fooCell3._1._2)
    assert(fooCell1._2.sign == fooCell3._2.sign)
    assert(byDoc(2L).map(c => math.abs(c._2)).sum <= 2)
    // deterministic under repartition
    val again = TextAnalysis.featureHash(df.repartition(7), "doc_id",
      "text", dims = 32).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(again == out.toMap)
    intercept[IllegalArgumentException](
      TextAnalysis.featureHash(df, "doc_id", "text", 1))
  }

  test("sourceOverlap: exact vocabulary Jaccard per pair, disjoint " +
      "pair reported as 0, repeats collapse to distinct vocab") {
    import spark.implicits._
    val df = Seq(
      ("a", "cat dog cat dog"),    // vocab {cat, dog}
      ("a", "dog bird"),           // a: {cat, dog, bird}
      ("b", "dog bird fish"),      // b: {dog, bird, fish}
      ("c", "zebra")).toDF("source", "text")
    val out = TextAnalysis.sourceOverlap(df, "source", "text")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(out(("a", "b")) == ((3L, 3L, 2L, 2.0 / 4.0)))
    assert(out(("a", "c")) == ((3L, 1L, 0L, 0.0)))
    assert(out(("b", "c")) == ((3L, 1L, 0L, 0.0)))
    assert(out.size == 3)
  }
}
