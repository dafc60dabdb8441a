package graft
package registry

import graft.functions.TextFns
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Text queries (`text_*`): normalization, quality gates, n-gram
  * models, tokenizers, span dedup, packing and curation. */
object TextQueries {

  /** The span-scrub tail of the window-dedup oracles: a token survives
    * iff no `dup` window start covers it, and `agg` reassembles the
    * survivors in position order. */
  private val keptTokensCtes =
    "tok AS (SELECT doc_id, ws[p + 1] AS tk, p FROM (SELECT doc_id, ws, unnest(range(0, len(ws))) AS p FROM d) t), " +
      "keep AS (SELECT t.doc_id, t.tk, t.p FROM tok t WHERE NOT EXISTS " +
      "(SELECT 1 FROM dup u WHERE u.doc_id = t.doc_id AND u.wpos <= t.p AND t.p < u.wpos + 8)), " +
      "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(tk, ' ' ORDER BY p) AS text_deduped FROM keep GROUP BY doc_id) " +
      "SELECT d2.doc_id, CAST(len(string_split(d2.text, ' ')) AS BIGINT) AS n_tokens, "

  /** Each doc's token list as `ts`, and the even-doc half `fbase` the
    * n-gram models fit on. */
  private val fitHalfCtes =
    s"WITH base AS (SELECT doc_id, $tokenListSql AS ts FROM documents), " +
      "fbase AS (SELECT ts FROM base WHERE doc_id % 2 = 0), "

  /** The hashed-feature frame: unigram and adjacent-bigram features per
    * (doc, lang). */
  private val langFeatureCtes =
    s"WITH tok AS (SELECT doc_id, lang, $tokenListSql AS ts FROM documents), " +
      "uni AS (SELECT doc_id, lang, unnest(ts) AS feat FROM tok), " +
      "bi AS (SELECT doc_id, lang, ts[t.i] || ' ' || ts[t.i + 1] AS feat FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS i) t), "

  /** The corpus-bisecting gopher thresholds, shared by EVERY call site
    * that gates on the rule (text_gopher, text_source_report,
    * text_curation_dag, the NB label frame) and by gopherKeepSql —
    * one definition, so the NB training labels cannot drift from the
    * text_gopher oracle. */
  val GopherMinWords = 40
  val GopherMaxWords = 100000
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 4.5
  val GopherMaxSymbolRatio = 0.1
  val GopherMinStopwords = 2

  /** documents + the gopher rule gate's `keep` boolean — the heuristic
    * label frame the NB-distillation queries train on (same thresholds
    * as text_gopher, which pins the label math to its own oracle). */
  private def gopherLabeledDocs(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    // pinned: every NB-distillation query consumes this frame 3-4x
    // (model fit tokenization + doc totals, scoring pass, and the
    // eval queries' label join) and each un-pinned reference re-ran
    // the WHOLE gopher labeling — rule stats over the corpus plus the
    // corpus scan itself (32 document scans per nb-family query).
    // One materialization, corpus-bounded — the
    // curateAndPack gated-frame convention.
    docs.join(
      TextAnalysis.gopherRules(docs, "doc_id", "text",
        minWords = GopherMinWords, maxWords = GopherMaxWords,
        minMeanWordLen = GopherMinMeanWordLen,
        maxMeanWordLen = GopherMaxMeanWordLen,
        maxSymbolRatio = GopherMaxSymbolRatio,
        minStopwords = GopherMinStopwords)
        .select(col("doc_id"), col("keep")),
      "doc_id").localCheckpoint(true)
  }

  /** Preference-pair grouping (text_pref_pairs): doc_id mod 64 stands
    * in for a shared prompt; n_chars is the stand-in reward. Pairs
    * with margin < 1 drop (can't-separate pairs are training noise). */
  val PrefGroups = 64
  val PrefMinMargin = 1.0
  /** Chat-template split (text_chat_template): first 16 whitespace
    * tokens = user turn, remainder = assistant turn (the masked span). */
  val ChatPromptWords = 16
  val ChatSystem = "You are a helpful assistant."

  /** Inverted-index probes (text_index_*): the conjunctive query pairs
    * the rarest corpus term ('dup', df≈5% of docs) with a common one —
    * candidate postings are bounded by the RAREST term's df, the
    * selectivity story a term-bucketed index exists for. The phrase
    * is a consecutive-bigram probe over positions. */
  val IndexAndTerms: Seq[String] = Seq("dup", "spark")
  val IndexPhrase: Seq[String] = Seq("spark", "join")
  val IndexBm25K = 50

  /** Feature hashing (text_feature_hash): 32 buckets over a 31-term
    * vocabulary — collisions guaranteed, so the signed-count
    * cancellation path is actually exercised at every SF. */
  val FeatureHashDims = 32

  /** Calibration bins (text_nb_calibration): edges spanning the NB
    * log-odds range (−5.3…2.8 at sf0.01), binned on the ROUNDED score
    * — the engines' rounded log_odds hash-match, so bins agree. */
  val NbCalibEdges: Seq[Double] = Seq(-4.0, -2.0, -1.0, 0.0, 1.0, 2.0)

  /** Frozen unigram piece table (text_unigram_tokenize): the sf0.01
    * fit artifact — vocab 40, maxPieceLen 4, 3 hard-EM rounds, seed
    * 120 — frozen as the demonstration vocabulary, the
    * scoreAgainstNbModel frozen-artifact convention: the FIT is
    * spec-verified (deterministic across partitionings, single-char
    * coverage, lossless segmentation) and NOT SQL-expressible (EM
    * rounds); the ENCODE under the frozen table is what the oracle
    * replays at every SF via a recursive-CTE Viterbi. */
  val UnigramMaxPieceLen = 4
  val UnigramPieces: Seq[Unigram.Piece] = Seq(
    Unigram.Piece("a", -2.6387758112912487),
    Unigram.Piece("b", -3.7325209993742914),
    Unigram.Piece("batc", -4.3759447445818065),
    Unigram.Piece("c", -4.402958812993062),
    Unigram.Piece("co", -4.379148164299344),
    Unigram.Piece("cust", -4.379148164299344),
    Unigram.Piece("d", -3.7125536138604227),
    Unigram.Piece("e", -2.4756847054912874),
    Unigram.Piece("er", -4.380218255359188),
    Unigram.Piece("f", -4.46859322465127),
    Unigram.Piece("filt", -4.380218255359188),
    Unigram.Piece("g", -3.0430219216395757),
    Unigram.Piece("h", -3.736450277514181),
    Unigram.Piece("hash", -4.365340191333009),
    Unigram.Piece("i", -3.3287379774491117),
    Unigram.Piece("j", -11.21969469358803),
    Unigram.Piece("join", -4.347566592249045),
    Unigram.Piece("k", -3.7370128654333796),
    Unigram.Piece("l", -3.312779204909444),
    Unigram.Piece("lumn", -4.379148164299344),
    Unigram.Piece("m", -4.429597458074126),
    Unigram.Piece("n", -3.725820806804472),
    Unigram.Piece("o", -3.7437887242206336),
    Unigram.Piece("omer", -4.379148164299344),
    Unigram.Piece("or", -3.7325209993742914),
    Unigram.Piece("p", -4.4117597498881045),
    Unigram.Piece("par", -3.7471939488504726),
    Unigram.Piece("q", -4.448905269679051),
    Unigram.Piece("r", -3.044991811118569),
    Unigram.Piece("row", -4.36956852744253),
    Unigram.Piece("s", -3.3257495553520715),
    Unigram.Piece("scan", -4.377011411349609),
    Unigram.Piece("st", -3.75633164806801),
    Unigram.Piece("t", -3.058319670390544),
    Unigram.Piece("ta", -3.7147526251918594),
    Unigram.Piece("u", -4.4117597498881045),
    Unigram.Piece("ue", -3.7415249994282456),
    Unigram.Piece("v", -3.7186125693281595),
    Unigram.Piece("w", -3.739266387513823),
    Unigram.Piece("y", -3.742090450390442))
  /** Frozen WordPiece vocabulary (text_wordpiece_tokenize/_ids): the
    * sf0.01 fit artifact — 24 merges over the documents corpus —
    * frozen as the demonstration vocabulary (the UnigramPieces
    * convention): the FIT's round-1 pair-score statistics are
    * oracle-gated standalone (text_wordpiece_pairs, fully
    * SQL-expressible); the full iterative fit is spec-verified
    * (WordPieceSpec: hand-scored merges, partitioning determinism);
    * the ENCODE under the frozen vocab is what the oracle replays at
    * every SF via a recursive-CTE greedy longest-match march. */
  val WordPieceVocab: Seq[String] = Seq(
    "##a", "##b", "##bl", "##c", "##ch", "##d",
    "##e", "##g", "##h", "##i", "##in", "##k",
    "##l", "##lu", "##lum", "##lumn", "##m", "##n",
    "##o", "##p", "##r", "##s", "##sh", "##t",
    "##u", "##up", "##us", "##w", "##y", "[UNK]",
    "a", "ag", "agg", "b", "bi", "big",
    "c", "cus", "d", "f", "fi", "fil",
    "g", "h", "j", "k", "l", "li",
    "lin", "m", "o", "p", "q", "qu",
    "r", "s", "sp", "t", "th", "v",
    "w", "wi", "win", "wind")

  /** Label-noise margin (text_label_noise): a confident disagreement
    * is |log-odds| > 1 against the given label (odds beyond e:1). */
  val NoiseMargin = 1.0

  /** Merge-rule count for the BPE tokenizer fit (text_bpe_* queries):
    * deep enough that whole frequent words emerge (merge 12 at sf0.01
    * is jo+in → "join"), small enough that the oracle's unrolled
    * per-round CTE chain stays tractable. */
  val BpeMergeCount = 12

  /** DSIR importance-resampling parameters: hashed-ngram bucket count
    * and resample size (buckets small enough that the model oracle is
    * readable, large enough that collisions don't flatten the LLRs). */
  val DsirBuckets = 1024
  val DsirSampleK = 50
  /** Sequence-packing parameters (token budget per pack, hash groups). */
  val PackBudget = 256L
  val PackGroups = 32

  /** Memoized postings-index artifacts (index, docLengths) for the
    * text_index_* probes — the lexical mirror of [[ivfPqIndex]]'s
    * build-once-probe-many loop, same publish discipline. */
  private val postingsIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, DataFrame, DataFrame)]()
  private def postingsIndex(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val hit = postingsIndexes.get(d)
    if (hit != null && (hit._1 eq s)) (hit._2, hit._3)
    else {
      val docs = t(s, d, "documents")
      val idx = Retrieval.invertedIndex(docs, "doc_id", "text").persist()
      idx.count()
      val dl = Retrieval.docLengths(docs, "doc_id", "text").persist()
      dl.count()
      val winner = postingsIndexes.compute(d, (_, cur) =>
        if (cur != null && (cur._1 eq s)) cur else (s, idx, dl))
      if (winner._2 ne idx) { idx.unpersist(); dl.unpersist() }
      (winner._2, winner._3)
    }
  }

  /** Deterministic PII seeding for the redaction query: the synthetic
    * corpus has no PII, so emails/phones/SSNs derive from doc_id (mod
    * classes leave some docs clean); `redactSql` replays the identical
    * construction so the redactor is exercised on non-zero hit counts. */
  /** Deterministic unfit-code-point seed for text_bpe_ids_bytes: the
    * corpus alphabet is 25 lowercase ASCII letters+space, so digits
    * (1-byte), é (2-byte), € (3-byte) and 𝄞 (4-byte) are all absent
    * from any fit — every UTF-8 width exercises the byte fallback.
    * Same expression replayed in the oracle ([[byteSeedSqlText]]). */
  private def byteSeedText: Column = concat(
    col("text"), lit(" v"), (col("doc_id") % 100).cast("string"),
    lit(" café 9€ 𝄞"))

  /** SQL mirror of [[byteSeedText]]. */
  private val byteSeedSqlText =
    "text || ' v' || CAST(doc_id % 100 AS VARCHAR) || ' café 9€ 𝄞'"

  private def piiSeededText: Column = concat(
    col("text"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail.example.com soon"))).otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit(" call 415-867-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" today"))).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      lit(" id 123-45-6789 on file")).otherwise(lit("")))

  /** The text_gopher keep conjunction as one SQL expression (same
    * thresholds as the query registration) — the label the NB oracles
    * replay. (lazy: wordsSql is declared further down the object.) */
  private lazy val gopherKeepSql =
    s"(len($wordsSql) >= $GopherMinWords AND len($wordsSql) <= $GopherMaxWords " +
      s"AND (length($normSql) - len($wordsSql) + 1) / len($wordsSql) >= $GopherMinMeanWordLen " +
      s"AND (length($normSql) - len($wordsSql) + 1) / len($wordsSql) <= $GopherMaxMeanWordLen " +
      s"AND (len(string_split_regex(text, '#')) - 1 + len(string_split_regex(text, '\\.\\.\\.')) - 1) / len($wordsSql) <= $GopherMaxSymbolRatio " +
      s"AND len(list_intersect($wordsSql, ${TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) >= $GopherMinStopwords)"

  /** The BPE fit replayed as an unrolled CTE chain — one (pair-count,
    * argmax, merge-apply) round per CTE triple, exactly the ivfSql
    * Lloyd-unroll convention. The double-space symbol encoding makes
    * each round's apply ONE left-to-right string replace (see
    * TextAnalysis.bpeSeq for why that IS greedy BPE, runs included),
    * and the merge rules enter the apply as scalar subqueries, never
    * string literals — nothing to quote, and the oracle derives the
    * rules rather than trusting Spark's. MATERIALIZED hints keep
    * DuckDB from re-inlining the round chain into O(n²) corpus
    * scans. */
  private def bpeCtes(n: Int): String = {
    val w0 = "w0 AS MATERIALIZED (SELECT '  ' || regexp_replace(w, '(.)', " +
      "'\\1  ', 'g') AS seq, CAST(count(*) AS BIGINT) AS freq FROM " +
      s"(SELECT unnest(string_split($normSql, ' ')) AS w FROM documents) " +
      "WHERE w <> '' GROUP BY 1)"
    val rounds = (1 to n).map { i =>
      s"p$i AS (SELECT l[i] AS a, l[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt " +
        "FROM (SELECT l, freq, unnest(range(1, len(l))) AS i " +
        s"FROM (SELECT string_split(trim(seq, ' '), '  ') AS l, freq FROM w${i - 1}) s) t " +
        "GROUP BY 1, 2), " +
        s"m$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1), " +
        s"w$i AS MATERIALIZED (SELECT replace(seq, " +
        s"' ' || (SELECT a FROM m$i) || '  ' || (SELECT b FROM m$i) || ' ', " +
        s"' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ') AS seq, freq FROM w${i - 1})"
    }
    (w0 +: rounds).mkString(", ")
  }

  private def bpeMergesSql(n: Int): String = {
    val union = (1 to n).map(i =>
      s"SELECT CAST($i AS BIGINT) AS \"rank\", a AS lhs, b AS rhs, " +
        s"a || b AS merged, cnt AS pair_count FROM m$i")
      .mkString(" UNION ALL ")
    s"WITH ${bpeCtes(n)} SELECT * FROM ($union) ORDER BY \"rank\""
  }

  private def bpeTokenizeSql(n: Int): String = {
    val seq = (1 to n).foldLeft(
      s"'  ' || regexp_replace($normSql, '(.)', '\\1  ', 'g')") { (acc, i) =>
      s"replace($acc, ' ' || (SELECT a FROM m$i) || '  ' || (SELECT b FROM m$i) || ' ', " +
        s"' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ')"
    }
    s"WITH ${bpeCtes(n)}, tk AS (SELECT doc_id, " +
      s"string_split_regex(trim($seq, ' '), ' {2,}') AS toks FROM documents) " +
      "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
      "md5(array_to_string(toks, ' ')) AS tokens_sig FROM tk"
  }

  /** The tokenize + vocabulary + per-position-id CTE chain shared by
    * [[bpeIdsSql]] and [[packIdsSql]] (one definition — the walk-
    * mirroring discipline): appends to [[bpeCtes]] and ends with
    * `jj(doc_id, i, id)`. The vocabulary is re-derived (sorted corpus
    * alphabet then merges by rank), never trusted. */
  private def bpeIdCtes(n: Int): String = {
    val seq = (1 to n).foldLeft(
      s"'  ' || regexp_replace($normSql, '(.)', '\\1  ', 'g')") { (acc, i) =>
      s"replace($acc, ' ' || (SELECT a FROM m$i) || '  ' || (SELECT b FROM m$i) || ' ', " +
        s"' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ')"
    }
    val mergedRows = (1 to n)
      .map(i => s"SELECT a || b AS sym, $i AS rnk FROM m$i")
      .mkString(" UNION ALL ")
    s"${bpeCtes(n)}, tk AS (SELECT doc_id, " +
      s"string_split_regex(trim($seq, ' '), ' {2,}') AS toks FROM documents), " +
      s"alpha AS (SELECT DISTINCT c AS sym FROM (SELECT unnest(regexp_extract_all($normSql, '.')) AS c FROM documents) t WHERE c <> ' '), " +
      "vb AS (SELECT sym, row_number() OVER (ORDER BY sym) - 1 AS id FROM alpha), " +
      s"vm AS (SELECT sym, (SELECT count(*) FROM vb) + rnk - 1 AS id FROM ($mergedRows) mr), " +
      "voc AS (SELECT sym, CAST(min(id) AS BIGINT) AS id FROM (SELECT * FROM vb UNION ALL SELECT * FROM vm) u GROUP BY sym), " +
      "tk2 AS (SELECT doc_id, t.tok, t.i FROM tk, LATERAL (SELECT unnest(toks) AS tok, unnest(range(1, len(toks) + 1)) AS i) t), " +
      "jj AS (SELECT tk2.doc_id, tk2.i, coalesce(v.id, -1) AS id FROM tk2 LEFT JOIN voc v ON tk2.tok = v.sym)"
  }

  /** The next-fit pack walk CTEs shared by [[packSql]] and
    * [[packIdsSql]] (one copy of the recursive walk — Packing.packWalk
    * mirror discipline): base/o/packed, ending with
    * `packed(g, rn, doc_id, t, fill, pack)`. */
  private def packWalkCtes(budget: Long, groups: Int): String =
    "base AS (SELECT doc_id, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pack'), 1, 7) AS BIGINT) AS h, " +
      s"CAST(least($tokensSql, $budget) AS BIGINT) AS t FROM documents), " +
      s"o AS (SELECT doc_id, h % $groups AS g, h, t, " +
      s"row_number() OVER (PARTITION BY h % $groups ORDER BY h, doc_id) AS rn FROM base), " +
      "packed AS (" +
      "SELECT g, rn, doc_id, t, t AS fill, CAST(0 AS BIGINT) AS pack FROM o WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT o.g, o.rn, o.doc_id, o.t, " +
      s"CASE WHEN p.fill + o.t > $budget THEN o.t ELSE p.fill + o.t END AS fill, " +
      s"CASE WHEN p.fill + o.t > $budget THEN p.pack + 1 ELSE p.pack END AS pack " +
      "FROM o JOIN packed p ON o.g = p.g AND o.rn = p.rn + 1)"

  /** The full tokenizer-loop replay for text_bpe_ids over
    * [[bpeIdCtes]]. Fit-on-self ⇒ every token resolves; n_oov is the
    * witnessed zero. */
  private def bpeIdsSql(n: Int): String =
    s"WITH ${bpeIdCtes(n)} " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
      "md5(string_agg(CAST(id AS VARCHAR), ' ' ORDER BY i)) AS ids_sig FROM jj GROUP BY doc_id"

  /** The text_bpe_ids_bytes oracle: [[bpeCtes]]' fit and
    * [[bpeIdCtes]]' vocabulary derivation run on the UNMODIFIED
    * corpus, but the tokenize leg runs on the SEEDED text
    * ([[byteSeedSqlText]]); a token missing from the vocabulary
    * expands to its UTF-8 bytes (codepoint → 1-4 byte arithmetic,
    * validated against python's encode bit-for-bit) at RESERVED ids
    * [0,255], vocabulary ids shift +256 — the bpeEncodeIdsBytes id
    * space verbatim. Empty-id tokens are skipped in the sig (the
    * flatMap semantics); md5(coalesce(...,'')) matches Spark's md5 of
    * the empty join on an all-empty doc. */
  private def bpeByteIdsSql(n: Int): String = {
    val normSeed =
      s"regexp_replace(trim(lower($byteSeedSqlText)), '\\s+', ' ', 'g')"
    val seq = (1 to n).foldLeft(
      s"'  ' || regexp_replace($normSeed, '(.)', '\\1  ', 'g')") { (acc, i) =>
      s"replace($acc, ' ' || (SELECT a FROM m$i) || '  ' || (SELECT b FROM m$i) || ' ', " +
        s"' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ')"
    }
    val mergedRows = (1 to n)
      .map(i => s"SELECT a || b AS sym, $i AS rnk FROM m$i")
      .mkString(" UNION ALL ")
    val utf8Bytes =
      "flatten(list_transform(" +
        "list_transform(range(1, length(tok) + 1), j -> unicode(substring(tok, CAST(j AS INT), 1))), " +
        "u -> CASE WHEN u < 128 THEN [CAST(u AS BIGINT)] " +
        "WHEN u < 2048 THEN [CAST(192 + u // 64 AS BIGINT), CAST(128 + u % 64 AS BIGINT)] " +
        "WHEN u < 65536 THEN [CAST(224 + u // 4096 AS BIGINT), CAST(128 + (u // 64) % 64 AS BIGINT), CAST(128 + u % 64 AS BIGINT)] " +
        "ELSE [CAST(240 + u // 262144 AS BIGINT), CAST(128 + (u // 4096) % 64 AS BIGINT), CAST(128 + (u // 64) % 64 AS BIGINT), CAST(128 + u % 64 AS BIGINT)] END))"
    s"WITH ${bpeCtes(n)}, tk AS (SELECT doc_id, " +
      s"string_split_regex(trim($seq, ' '), ' {2,}') AS toks FROM documents), " +
      s"alpha AS (SELECT DISTINCT c AS sym FROM (SELECT unnest(regexp_extract_all($normSql, '.')) AS c FROM documents) t WHERE c <> ' '), " +
      "vb AS (SELECT sym, row_number() OVER (ORDER BY sym) - 1 AS id FROM alpha), " +
      s"vm AS (SELECT sym, (SELECT count(*) FROM vb) + rnk - 1 AS id FROM ($mergedRows) mr), " +
      "voc AS (SELECT sym, CAST(min(id) AS BIGINT) AS id FROM (SELECT * FROM vb UNION ALL SELECT * FROM vm) u GROUP BY sym), " +
      "tk2 AS (SELECT doc_id, t.tok, t.i FROM tk, LATERAL (SELECT unnest(toks) AS tok, unnest(range(1, len(toks) + 1)) AS i) t), " +
      "enc AS (SELECT tk2.doc_id, tk2.i, v.id IS NULL AS fb, " +
      s"CASE WHEN v.id IS NOT NULL THEN [v.id + 256] ELSE $utf8Bytes END AS ids " +
      "FROM tk2 LEFT JOIN voc v ON tk2.tok = v.sym) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "CAST(coalesce(sum(len(ids)), 0) AS BIGINT) AS n_ids, " +
      "CAST(sum(CASE WHEN len(ids) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
      "CAST(sum(CASE WHEN fb THEN 1 ELSE 0 END) AS BIGINT) AS n_fallback, " +
      "md5(coalesce(string_agg(CASE WHEN len(ids) > 0 THEN array_to_string(list_transform(ids, x -> CAST(x AS VARCHAR)), ' ') END, ' ' ORDER BY i), '')) AS ids_sig " +
      "FROM enc GROUP BY doc_id"
  }

  /** text_chunk_stream: [[bpeIdCtes]] composed with the stream-order
    * exclusive prefix (the naive single window replays the bucketed
    * plan — the rel_token_budget convention), absolute positions,
    * and per-chunk ordered reassembly. */
  private def chunkStreamSql(n: Int, seqLen: Int): String =
    s"WITH ${bpeIdCtes(n)}, " +
      "nid AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM jj GROUP BY doc_id), " +
      "ordd AS (SELECT doc_id, nt, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|stream'), 1, 7) AS BIGINT) AS h FROM nid), " +
      "pfx AS (SELECT doc_id, coalesce(sum(nt) OVER (ORDER BY h, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p0 FROM ordd), " +
      "pos AS (SELECT jj.id, pfx.p0 + jj.i - 1 AS pos FROM jj JOIN pfx USING (doc_id)) " +
      s"SELECT CAST(pos // $seqLen AS BIGINT) AS chunk_id, " +
      "CAST(count(*) AS BIGINT) AS n_ids, " +
      s"count(*) = $seqLen AS complete, " +
      "md5(string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos)) AS ids_sig " +
      s"FROM pos GROUP BY pos // $seqLen"

  /** text_pack_ids: [[bpeIdCtes]] composed with [[packWalkCtes]] —
    * per pack, the members' space-joined id strings re-concatenate in
    * rn order (single-space separators throughout, so the concat
    * equals the engine's flattened join). The ids join is LEFT with a
    * per-pack missing-member count, mirroring the engine's n_missing
    * witness (≡ 0 here — the composed query always encodes the same
    * corpus it packs). */
  private def packIdsSql(n: Int, budget: Long, groups: Int): String =
    s"WITH RECURSIVE ${bpeIdCtes(n)}, " +
      "ids AS (SELECT doc_id, string_agg(CAST(id AS VARCHAR), ' ' ORDER BY i) AS idstr, CAST(count(*) AS BIGINT) AS nid FROM jj GROUP BY doc_id), " +
      packWalkCtes(budget, groups) + " " +
      "SELECT CAST(g AS VARCHAR) || '-' || CAST(pack AS VARCHAR) AS pack_id, " +
      "count(*) AS n_docs, " +
      "CAST(sum(CASE WHEN ids.idstr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing, " +
      "CAST(coalesce(sum(ids.nid), 0) AS BIGINT) AS n_ids, " +
      "md5(coalesce(string_agg(ids.idstr, ' ' ORDER BY rn), '')) AS ids_sig " +
      "FROM packed LEFT JOIN ids USING (doc_id) GROUP BY g, pack"

  /** The NB fit-on-self scoring chain (labels → token counts → llr
    * model → per-doc ordered-fold scores in `sc(doc_id, n_tokens,
    * lo)`, with the label CTE `g(doc_id, keep)` still in scope) —
    * shared by the score, eval and calibration oracles so the three
    * can never drift. */
  private lazy val nbScoredCtes: String =
    s"WITH g AS (SELECT doc_id, $gopherKeepSql AS keep FROM documents), " +
      s"tok AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS token FROM documents), " +
      "lt AS (SELECT t.doc_id, t.token, g.keep FROM tok t JOIN g USING (doc_id)), " +
      "c AS (SELECT token, CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS np, " +
      "CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS nn FROM lt GROUP BY token), " +
      "tt AS (SELECT CAST(sum(np) AS BIGINT) AS tp, CAST(sum(nn) AS BIGINT) AS tn, CAST(count(*) AS BIGINT) AS v FROM c), " +
      "dt AS (SELECT ln(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)) - ln(CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS DOUBLE)) AS prior FROM g), " +
      "m AS (SELECT token, (ln(CAST(np + 1 AS DOUBLE)) - ln(CAST(tp + v AS DOUBLE))) - (ln(CAST(nn + 1 AS DOUBLE)) - ln(CAST(tn + v AS DOUBLE))) AS llr FROM c, tt), " +
      "i AS (SELECT l.doc_id, m.llr FROM lt l JOIN m USING (token)), " +
      "sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "(SELECT prior FROM dt) + list_aggregate(list_sort(list(llr)), 'sum') AS lo FROM i GROUP BY doc_id)"

  /** Mirrors Packing.packSequences: same hash groups and (hash, id)
    * order; the sequential next-fit walk replays as a linear recursive
    * CTE per group (recursion depth = max group size — fine at oracle
    * SF; the Spark side walks each group in a streaming task). */
  private def packSql(budget: Long, groups: Int): String =
    "WITH RECURSIVE " + packWalkCtes(budget, groups) + " " +
      "SELECT CAST(g AS VARCHAR) || '-' || CAST(pack AS VARCHAR) AS pack_id, " +
      "count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS total_tokens, " +
      s"CAST(sum(t) AS DOUBLE) / $budget AS fill_ratio, " +
      "string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS doc_ids " +
      "FROM packed GROUP BY g, pack"

  /** Mirrors Packing.curateAndPack stage for stage — the text_gopher
    * keep mirror gates, the text_line_dedup first-occurrence filter
    * cleans (each CTE exposes its stage's text under the column name
    * `text`, so the shared wordsSql/normSql/tokensSql fragments apply
    * to the right stage's content), the dedup_keep_best window picks
    * survivors on the CLEANED text, the rel_token_budget running sum
    * samples, and the text_pack recursive walk packs.
    *
    * With `withNb`, the text_nb_quality fit + scoring CTEs insert
    * between the clean stage and keep-best: the NB model fits on the
    * RAW corpus under the g labels (reused from the gate stage —
    * ONE definition, the gopherKeepSql discipline), scores each
    * survivor's RAW text, and only prior + Σllr > 0 docs continue
    * (the UNROUNDED predicted_keep sign, matching the engine gate).
    * The sign margin is corpus-wide ≫ ln ulp (the text_nb_quality
    * adjudication), so the algebraic-sum engine flavor and this
    * replay agree on every keep decision. */
  private def curationDagSql(budgets: Map[String, Long],
      packBudget: Long, groups: Int, withNb: Boolean = false): String = {
    val keepExpr = gopherKeepSql
    val budgetCases = budgets.toSeq.sortBy(_._1)
      .map { case (k, b) => s"WHEN '$k' THEN $b" }.mkString(" ")
    val tokPat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
    val cRef = if (withNb) "cf" else "c"
    val nbCtes = if (!withNb) "" else
      s"nt AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '$tokPat')) AS token FROM documents), " +
        "nl AS (SELECT t.doc_id, t.token, g.keep FROM nt t JOIN g USING (doc_id)), " +
        "ncnt AS (SELECT token, CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS np, " +
        "CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS nn FROM nl GROUP BY token), " +
        "ntt AS (SELECT CAST(sum(np) AS BIGINT) AS tp, CAST(sum(nn) AS BIGINT) AS tn, CAST(count(*) AS BIGINT) AS v FROM ncnt), " +
        "ndt AS (SELECT ln(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)) - ln(CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS DOUBLE)) AS prior FROM g), " +
        "nm AS (SELECT token, (ln(CAST(np + 1 AS DOUBLE)) - ln(CAST(tp + v AS DOUBLE))) - (ln(CAST(nn + 1 AS DOUBLE)) - ln(CAST(tn + v AS DOUBLE))) AS llr FROM ncnt, ntt), " +
        "noov AS (SELECT (ln(CAST(tn + v AS DOUBLE)) - ln(CAST(tp + v AS DOUBLE))) AS oov FROM ntt), " +
        // scoring reads the RAW tokens (nt — the preprocessing the
        // model fit on), restricted to the gate's survivors
        "st AS (SELECT t.doc_id, t.token FROM nt t JOIN (SELECT doc_id FROM c) cd USING (doc_id)), " +
        // the gate is predicted_keep: the UNROUNDED sign (engine
        // parity — the sign margin is corpus-wide >> the cross-engine
        // sum-order ulp, the text_nb_quality adjudication)
        "nb AS (SELECT doc_id FROM (SELECT s.doc_id, max(ndt.prior) + sum(coalesce(m.llr, noov.oov)) AS lo " +
        "FROM st s LEFT JOIN nm m USING (token), ndt, noov GROUP BY s.doc_id) x WHERE lo > 0), " +
        "cf AS (SELECT c.* FROM c JOIN nb USING (doc_id)), "
    "WITH RECURSIVE " +
      // per-row stage: quality + keep on the RAW text, then the
      // first-occurrence word filter — survivors carry cleaned `text`
      s"q AS ($qualitySql), " +
      s"g AS (SELECT doc_id, $keepExpr AS keep FROM documents), " +
      "c AS (SELECT l.doc_id, l.source, q.quality, " +
      "array_to_string(list_filter(l.ws, (x, i) -> list_position(l.ws, x) = i), ' ') AS text " +
      "FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents) l " +
      "JOIN q USING (doc_id) JOIN g USING (doc_id) WHERE g.keep), " +
      nbCtes +
      // keep-best on the CLEANED content hash (ties: equal content ⇒
      // equal quality ⇒ min doc_id, the dedup_keep_best convention)
      s"h AS (SELECT doc_id, md5($normSql) AS content_hash FROM $cRef), " +
      "j AS (SELECT h.content_hash, c2.doc_id, " +
      "row_number() OVER (PARTITION BY h.content_hash ORDER BY c2.quality DESC, c2.doc_id) AS rn " +
      s"FROM h JOIN $cRef c2 USING (doc_id)), " +
      s"s0 AS (SELECT $cRef.* FROM $cRef JOIN (SELECT doc_id FROM j WHERE rn = 1) k USING (doc_id)), " +
      // per-source token budget over the survivors' cleaned text
      "z AS (SELECT doc_id, source, text, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|budget'), 1, 7) AS BIGINT) AS h2, " +
      s"$tokensSql AS tk FROM s0), " +
      "sampled AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
      "coalesce(sum(tk) OVER (PARTITION BY source ORDER BY h2, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx, " +
      s"CASE source $budgetCases ELSE -1 END AS b FROM z) zz WHERE b < 0 OR pfx < b), " +
      // the text_pack recursive next-fit walk over the sampled set
      "base AS (SELECT doc_id, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pack'), 1, 7) AS BIGINT) AS h3, " +
      s"CAST(least($tokensSql, $packBudget) AS BIGINT) AS t FROM sampled), " +
      s"o AS (SELECT doc_id, h3 % $groups AS grp, h3, t, " +
      s"row_number() OVER (PARTITION BY h3 % $groups ORDER BY h3, doc_id) AS rn FROM base), " +
      "packed AS (" +
      "SELECT grp, rn, doc_id, t, t AS fill, CAST(0 AS BIGINT) AS pack FROM o WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT o.grp, o.rn, o.doc_id, o.t, " +
      s"CASE WHEN p.fill + o.t > $packBudget THEN o.t ELSE p.fill + o.t END AS fill, " +
      s"CASE WHEN p.fill + o.t > $packBudget THEN p.pack + 1 ELSE p.pack END AS pack " +
      "FROM o JOIN packed p ON o.grp = p.grp AND o.rn = p.rn + 1) " +
      "SELECT CAST(grp AS VARCHAR) || '-' || CAST(pack AS VARCHAR) AS pack_id, " +
      "count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS total_tokens, " +
      s"CAST(sum(t) AS DOUBLE) / $packBudget AS fill_ratio, " +
      "string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS doc_ids " +
      "FROM packed GROUP BY grp, pack"
  }

  /** Mirrors TextAnalysis.redactPii over the same seeded text: one CTE
    * per pattern stage, counts on the stage input, masks chained in
    * PiiPatterns order; DuckDB regexp_replace needs the explicit 'g'
    * flag to match Spark's replace-all default. */
  private def redactSql: String = {
    val seeded = "text || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.com soon' ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' call 415-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN ' id 123-45-6789 on file' ELSE '' END"
    val pats = TextAnalysis.PiiPatterns
    val ctes = pats.zipWithIndex.map { case ((name, pat, repl), i) =>
      val carried = pats.take(i).map { case (n, _, _) => s"n_$n, " }.mkString
      s"s${i + 1} AS (SELECT doc_id, $carried" +
        s"CAST(len(regexp_extract_all(t$i, '$pat')) AS BIGINT) AS n_$name, " +
        s"regexp_replace(t$i, '$pat', '$repl', 'g') AS t${i + 1} FROM s$i)"
    }.mkString(", ")
    val nCols = pats.map { case (n, _, _) => s"n_$n" }
    s"WITH s0 AS (SELECT doc_id, $seeded AS t0 FROM documents), $ctes " +
      s"SELECT doc_id, t${pats.size} AS clean_text, ${nCols.mkString(", ")}, " +
      s"CAST(${nCols.map(n => s"$n").mkString(" + ")} AS BIGINT) AS n_pii " +
      s"FROM s${pats.size}"
  }

  /** Mirrors TextAnalysis.chunkWords: chunk starts every `stride` words
    * (integer-division count of starts = Spark's floor((n-1)/stride)),
    * list_slice is 1-based inclusive so [k*stride+1, k*stride+chunkSize]
    * is Spark's slice(ws, k*stride+1, chunkSize) — the tail chunk
    * truncates identically. */
  private def chunksSql(chunkSize: Int, overlap: Int): String = {
    val stride = chunkSize - overlap
    s"WITH l AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
      s"c AS (SELECT doc_id, ws, unnest(range(0, (len(ws) - 1) // $stride + 1)) AS k FROM l) " +
      s"SELECT doc_id, CAST(k AS BIGINT) AS chunk_id, " +
      s"CAST(len(list_slice(ws, k * $stride + 1, k * $stride + $chunkSize)) AS BIGINT) AS n_words, " +
      s"array_to_string(list_slice(ws, k * $stride + 1, k * $stride + $chunkSize), ' ') AS chunk_text FROM c"
  }

  /** Mirrors Packing.packChunks: the chunksSql window replay feeds the
    * same recursive-CTE next-fit walk as packSql, ordered by
    * (h, doc_id, chunk_id) so a doc's chunks stay adjacent. */
  private def packChunksSql(chunkSize: Int, overlap: Int, budget: Long,
      groups: Int): String = {
    val stride = chunkSize - overlap
    val ctNorm = "regexp_replace(trim(lower(ct)), '\\s+', ' ', 'g')"
    val ctTokens =
      s"len(regexp_extract_all($ctNorm, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))"
    "WITH RECURSIVE ch AS (SELECT doc_id, ws, " +
      s"unnest(range(0, (len(ws) - 1) // $stride + 1)) AS k " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) l), " +
      "c2 AS (SELECT doc_id, CAST(k AS BIGINT) AS cid, " +
      s"array_to_string(list_slice(ws, k * $stride + 1, k * $stride + $chunkSize), ' ') AS ct FROM ch), " +
      "base AS (SELECT doc_id, cid, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pack'), 1, 7) AS BIGINT) AS h, " +
      s"CAST(least($ctTokens, $budget) AS BIGINT) AS t FROM c2), " +
      s"o AS (SELECT doc_id, cid, h % $groups AS g, h, t, " +
      s"row_number() OVER (PARTITION BY h % $groups ORDER BY h, doc_id, cid) AS rn FROM base), " +
      "packed AS (" +
      "SELECT g, rn, doc_id, cid, t, t AS fill, CAST(0 AS BIGINT) AS pack FROM o WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT o.g, o.rn, o.doc_id, o.cid, o.t, " +
      s"CASE WHEN p.fill + o.t > $budget THEN o.t ELSE p.fill + o.t END AS fill, " +
      s"CASE WHEN p.fill + o.t > $budget THEN p.pack + 1 ELSE p.pack END AS pack " +
      "FROM o JOIN packed p ON o.g = p.g AND o.rn = p.rn + 1) " +
      "SELECT CAST(g AS VARCHAR) || '-' || CAST(pack AS VARCHAR) AS pack_id, " +
      "count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs, " +
      "CAST(sum(t) AS BIGINT) AS total_tokens, " +
      s"CAST(sum(t) AS DOUBLE) / $budget AS fill_ratio, " +
      "string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(cid AS VARCHAR), ',' ORDER BY rn) AS chunk_ids " +
      "FROM packed GROUP BY g, pack"
  }

  /** Mirrors Unigram.tokenize under the frozen piece table: a
    * recursive-CTE Viterbi over the DISTINCT corpus words (DP forward
    * pass accumulating best-score and back-pointer lists, struct-max
    * with the same longest-piece tie-break, then a backtrack CTE),
    * re-assembled per document in word order. Piece log-probs plant
    * as CAST('…' AS DOUBLE) map values; unknown single chars at
    * Unigram.UnkLogp, absent multi-char pieces at −1e18. */
  private def unigramTokenizeSql(pieces: Seq[Unigram.Piece],
      maxPieceLen: Int): String = {
    val entries = pieces.map(p =>
      s"'${p.piece}': CAST('${p.logp}' AS DOUBLE)").mkString(", ")
    val m = s"MAP {$entries}"
    val unk = s"CAST('${Unigram.UnkLogp}' AS DOUBLE)"
    s"WITH RECURSIVE w AS (SELECT doc_id, $wordsSql AS ws FROM documents), " +
      "seq AS (SELECT doc_id, unnest(ws) AS word, unnest(range(len(ws))) AS pos FROM w), " +
      "dw AS (SELECT DISTINCT word FROM seq WHERE length(word) > 0), " +
      "dp AS (" +
      "SELECT word, 0 AS j, [CAST(0.0 AS DOUBLE)] AS best, [0] AS back FROM dw " +
      "UNION ALL " +
      "SELECT dp.word, dp.j + 1, list_append(dp.best, c.sc), list_append(dp.back, c.bi) " +
      "FROM dp, LATERAL (" +
      "SELECT max(st).s AS sc, -(max(st).mi) AS bi FROM (" +
      "SELECT {'s': dp.best[i + 1] + CASE WHEN dp.j + 1 - i = 1 " +
      s"THEN coalesce(($m)[substr(dp.word, i + 1, 1)][1], $unk) " +
      s"ELSE coalesce(($m)[substr(dp.word, i + 1, dp.j + 1 - i)][1], CAST(-1e18 AS DOUBLE)) END, " +
      "'mi': -i} AS st " +
      s"FROM (SELECT unnest(range(greatest(0, dp.j + 1 - $maxPieceLen), dp.j + 1)) AS i) t) u) c " +
      "WHERE dp.j < length(dp.word)), " +
      "fin AS (SELECT word, back FROM dp WHERE j = length(word)), " +
      "bt AS (" +
      "SELECT word, length(word) AS k, back, CAST([] AS VARCHAR[]) AS pieces FROM fin " +
      "UNION ALL " +
      "SELECT word, back[k + 1] AS k, back, " +
      "list_prepend(substr(word, back[k + 1] + 1, k - back[k + 1]), pieces) " +
      "FROM bt WHERE k > 0), " +
      "seg AS (SELECT word, pieces FROM bt WHERE k = 0), " +
      "doc AS (SELECT s.doc_id, flatten(list(sg.pieces ORDER BY s.pos)) AS pieces " +
      "FROM seq s JOIN seg sg USING (word) GROUP BY s.doc_id) " +
      "SELECT doc_id, pieces, CAST(len(pieces) AS BIGINT) AS n_pieces, " +
      "md5(array_to_string(pieces, ' ')) AS pieces_sig FROM doc"
  }

  /** Mirrors WordPiece.tokenize under the frozen vocabulary: a
    * recursive-CTE greedy longest-match march over the DISTINCT
    * corpus words (state = (word, offset, pieces); each step a
    * struct-max over candidate lengths probing the vocab MAP —
    * longest match wins, continuations probe with the '##' prefix; a
    * step with NO match jumps the offset to the end with pieces =
    * ['[UNK]'], the all-or-nothing BERT contract), re-assembled per
    * document in word order. */
  private def wordpieceTokenizeSql(vocab: Seq[String]): String = {
    val entries = vocab
      .map(p => s"'${p.replace("'", "''")}': 1").mkString(", ")
    val m = s"MAP {$entries}"
    val (maxInit, maxCont) = WordPiece.probeBounds(vocab)
    s"WITH RECURSIVE w AS (SELECT doc_id, $wordsSql AS ws FROM documents), " +
      "seq AS (SELECT doc_id, unnest(ws) AS word, unnest(range(len(ws))) AS pos FROM w), " +
      "dw AS (SELECT DISTINCT word FROM seq WHERE length(word) > 0), " +
      "gm AS (" +
      "SELECT word, 0 AS off, CAST([] AS VARCHAR[]) AS pieces FROM dw " +
      "UNION ALL " +
      "SELECT gm.word, " +
      "CASE WHEN c.len IS NULL THEN length(gm.word) ELSE gm.off + c.len END AS off, " +
      "CASE WHEN c.len IS NULL THEN ['[UNK]'] ELSE list_append(gm.pieces, c.piece) END AS pieces " +
      "FROM gm, LATERAL (" +
      "SELECT max(st).l AS len, max(st).p AS piece FROM (" +
      s"SELECT CASE WHEN ($m)[CASE WHEN gm.off = 0 THEN substr(gm.word, 1, t.l) " +
      "ELSE '##' || substr(gm.word, gm.off + 1, t.l) END][1] IS NOT NULL " +
      "THEN {'l': t.l, 'p': CASE WHEN gm.off = 0 THEN substr(gm.word, 1, t.l) " +
      "ELSE '##' || substr(gm.word, gm.off + 1, t.l) END} END AS st " +
      s"FROM (SELECT unnest(range(1, least(CASE WHEN gm.off = 0 THEN $maxInit " +
      s"ELSE $maxCont END, length(gm.word) - gm.off) + 1)) AS l) t) u) c " +
      "WHERE gm.off < length(gm.word)), " +
      "fin AS (SELECT word, pieces FROM gm WHERE off = length(word)), " +
      "doc AS (SELECT s.doc_id, flatten(list(f.pieces ORDER BY s.pos)) AS pieces " +
      "FROM seq s JOIN fin f USING (word) GROUP BY s.doc_id) " +
      "SELECT doc_id, pieces, CAST(len(pieces) AS BIGINT) AS n_pieces, " +
      "CAST(len(list_filter(pieces, p -> p = '[UNK]')) AS BIGINT) AS n_unk, " +
      "md5(array_to_string(pieces, ' ')) AS pieces_sig FROM doc"
  }

  /** Shared DuckDB postings CTE for the text_index_* oracles: tokens
    * with 0-based positions (parallel unnests zip in DuckDB), then
    * (term, doc) postings with tf — mirrors Retrieval.invertedIndex. */
  private def postingsCte: String =
    s"WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents), " +
      "p AS (SELECT doc_id, unnest(ws) AS term, unnest(range(len(ws))) AS pos FROM w), " +
      "post AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM p GROUP BY 1, 2)"

  /** Mirrors Retrieval.phraseProbe: the flat-positions join chain —
    * p0 anchors, each later word must sit at pos + i in the same doc. */
  private def phraseSql(phrase: Seq[String]): String = {
    val joins = phrase.zipWithIndex.drop(1).map { case (w, i) =>
      s"JOIN p p$i ON p$i.doc_id = p0.doc_id AND p$i.pos = p0.pos + $i " +
        s"AND p$i.term = '$w'"
    }.mkString(" ")
    postingsCte +
      s" SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences " +
      s"FROM p p0 $joins WHERE p0.term = '${phrase.head}' GROUP BY p0.doc_id"
  }

  lazy val all: Seq[Query] = Seq(
    // --- text analysis ---
    Query("text_stats", (s, d) => {
      val st = TextAnalysis.textStats(t(s, d, "documents"), "doc_id", "text")
      st.select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        col("n_words").cast("long").as("n_words"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("lexical_diversity"), col("avg_word_len"))
    },
      (s"SELECT doc_id, length(text) AS n_chars, CAST(len($wordsSql) AS BIGINT) AS n_words, " +
        s"CAST(len(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens, " +
        s"len(list_distinct($wordsSql)) / len($wordsSql) AS lexical_diversity, " +
        s"(length($normSql) - len($wordsSql) + 1) / len($wordsSql) AS avg_word_len FROM documents")),
    Query("text_quality", (s, d) =>
      TextAnalysis.qualityScore(t(s, d, "documents"), "doc_id", "text"),
      (s"SELECT doc_id, stop / nw AS stopword_ratio, " +
        "0.4 * least(nw / 200.0, 1.0) + 0.3 * least(stop / nw * 4.0, 1.0) + 0.3 * (nd / nw) AS quality FROM " +
        s"(SELECT doc_id, CAST(len(list_filter($wordsSql, x -> x IN $stopListSql)) AS DOUBLE) AS stop, " +
        s"CAST(len($wordsSql) AS DOUBLE) AS nw, CAST(len(list_distinct($wordsSql)) AS DOUBLE) AS nd FROM documents) t")),
    Query("text_lang_id", (s, d) =>
      TextAnalysis.langId(t(s, d, "documents"), "doc_id", "text"),
      (s"SELECT doc_id, stop / nw AS stopword_ratio, CASE WHEN stop / nw >= 0.05 THEN 'en' ELSE 'unk' END AS lang_guess FROM " +
        s"(SELECT doc_id, CAST(len(list_filter($wordsSql, x -> x IN $stopListSql)) AS DOUBLE) AS stop, " +
        s"CAST(len($wordsSql) AS DOUBLE) AS nw FROM documents) t")),
    Query("text_fingerprint", (s, d) =>
      TextAnalysis.fingerprints(t(s, d, "documents"), "doc_id", "text"),
      (s"SELECT doc_id, md5($normSql) AS fingerprint, substr(md5($normSql), 1, 16) AS bucket64 FROM documents")),
    Query("text_ngram_freq", (s, d) =>
      TextAnalysis.ngramFreq(t(s, d, "documents"), "text", 2, 20),
      ("WITH words AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents), " +
        "bg AS (SELECT array_to_string(w[i:i+1], ' ') AS ngram FROM words, " +
        "LATERAL (SELECT unnest(range(1, len(w))) AS i) t) " +
        "SELECT ngram, count(*) AS n FROM bg GROUP BY 1 ORDER BY n DESC, ngram LIMIT 20")),
    Query("text_repetition", (s, d) =>
      TextAnalysis.repetitionScore(t(s, d, "documents"), "doc_id", "text"),
      ("WITH words AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents), " +
        "tg AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS sh FROM words, " +
        "LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) t) " +
        "SELECT doc_id, count(*) AS n_ngrams, count(DISTINCT sh) AS n_distinct, " +
        "CAST(count(*) - count(DISTINCT sh) AS DOUBLE) / count(*) AS repetition FROM tg GROUP BY doc_id")),
    Query("text_bm25", (s, d) =>
      TextAnalysis.bm25Scores(t(s, d, "documents"), "doc_id", "text",
        Bm25Terms),
      bm25Sql(Bm25Terms, k1 = 1.2, b = 0.75)),
    Query("text_paragraph_dedup", (s, d) =>
      // cross-doc span dedup at word granularity on the newline-free
      // corpus (the text_line_dedup convention; specs cover "\n"
      // paragraphs): each span survives once corpus-wide at its
      // lowest (doc_id, pos) occurrence
      TextAnalysis.dedupParagraphs(t(s, d, "documents"),
        "doc_id", "text", " "),
      // the window replay: rank every (hash, doc, pos) occurrence,
      // keep rank 1, reassemble in position order; all-dropped docs
      // restored by the LEFT join (the text_boilerplate shape)
      ("WITH l AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "e AS (SELECT doc_id, t.para, t.pos FROM l, LATERAL (SELECT unnest(ws) AS para, unnest(range(1, len(ws) + 1)) AS pos) t), " +
        "k AS (SELECT doc_id, para, pos FROM (SELECT doc_id, para, pos, row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn FROM e) t WHERE rn = 1), " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(para, ' ' ORDER BY pos) AS text_deduped FROM k GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_paras, " +
        "coalesce(a.n_kept, 0) AS n_kept, coalesce(a.text_deduped, '') AS text_deduped " +
        "FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id")),
    Query("text_span_corrupt", (s, d) =>
      // T5-style span corruption: ~15% of tokens masked in 3-aligned
      // maximal runs, <extra_id_K> sentinels in the input, masked
      // tokens as the target — deterministic in (doc_id, pos), so a
      // re-run regenerates byte-identical training pairs
      TextAnalysis.spanCorrupt(t(s, d, "documents"), "doc_id", "text"),
      // span corruption: the mask decision, run grouping, sentinel
      // numbering and both reassemblies replayed with windows + ordered
      // string_agg — the mask is an md5-uniform of (doc, pos÷3), so both
      // engines decide every position identically
      (s"WITH tok AS (SELECT doc_id, p.i - 1 AS pos, ts[p.i] AS tok FROM " +
        s"(SELECT doc_id, regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts FROM documents) d0, " +
        "LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) p), " +
        "m AS (SELECT doc_id, pos, tok, CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|span|' || CAST(pos // 3 AS VARCHAR)), 1, 15) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0 < CAST(0.15 AS DOUBLE) AS msk FROM tok), " +
        "s AS (SELECT *, msk AND NOT coalesce(lag(msk) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS span_start FROM m), " +
        "k AS (SELECT *, sum(CASE WHEN span_start THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS kk FROM s), " +
        "pc AS (SELECT doc_id, pos, msk, span_start, " +
        "CASE WHEN NOT msk THEN tok WHEN span_start THEN '<extra_id_' || CAST(kk AS VARCHAR) || '>' END AS ip, " +
        "CASE WHEN msk THEN CASE WHEN span_start THEN '<extra_id_' || CAST(kk AS VARCHAR) || '> ' || tok ELSE tok END END AS tp FROM k) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN msk THEN 1 ELSE 0 END) AS BIGINT) AS n_masked, " +
        "CAST(sum(CASE WHEN span_start THEN 1 ELSE 0 END) AS BIGINT) AS n_spans, " +
        "coalesce(string_agg(ip, ' ' ORDER BY pos) FILTER (WHERE ip IS NOT NULL), '') AS input_text, " +
        "coalesce(string_agg(tp, ' ' ORDER BY pos) FILTER (WHERE tp IS NOT NULL), '') AS target_text " +
        "FROM pc GROUP BY doc_id")),
    Query("text_fim_split", (s, d) =>
      // fill-in-the-middle: two md5-uniform cuts per doc →
      // (prefix, middle, suffix) + the PSM training string. ONE
      // per-row projection — scan-speed, stream-ready
      TextAnalysis.fimSplit(t(s, d, "documents"), "doc_id", "text"),
      // FIM: the two uniform cuts and all three slices replayed; DuckDB
      // array_to_string(empty) is NULL where Spark's array_join is '' —
      // coalesced at the edge
      (s"WITH d0 AS (SELECT doc_id, regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts FROM documents), " +
        "c0 AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n, " +
        "least(CAST(floor(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|fim|' || 'c1'), 1, 15) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0 * (len(ts) + 1)) AS BIGINT), CAST(len(ts) AS BIGINT)) AS cut1 FROM d0), " +
        "c1 AS (SELECT doc_id, ts, n, cut1, cut1 + least(CAST(floor(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|fim|' || 'c2'), 1, 15) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0 * (n - cut1 + 1)) AS BIGINT), n - cut1) AS cut2 FROM c0), " +
        "p AS (SELECT doc_id, n AS n_tokens, cut1, cut2, " +
        "coalesce(array_to_string(list_slice(ts, 1, CAST(cut1 AS INT)), ' '), '') AS prefix, " +
        "coalesce(array_to_string(list_slice(ts, CAST(cut1 + 1 AS INT), CAST(cut2 AS INT)), ' '), '') AS middle, " +
        "coalesce(array_to_string(list_slice(ts, CAST(cut2 + 1 AS INT), CAST(n AS INT)), ' '), '') AS suffix FROM c1) " +
        "SELECT doc_id, n_tokens, cut1, cut2, prefix, middle, suffix, " +
        "'<PRE> ' || prefix || ' <SUF> ' || suffix || ' <MID> ' || middle AS psm_text FROM p")),
    Query("text_window_dedup", (s, d) =>
      // Lee et al.-style substring dedup: 8-token sliding windows,
      // first occurrence wins, covered tokens drop, kept spans merge
      // on reassembly — the alignment-free complement to
      // text_paragraph_dedup
      TextAnalysis.dedupTokenWindows(t(s, d, "documents"),
        "doc_id", "text", k = 8),
      // full replay: hash every 8-token window, rank occurrences by
      // (doc_id, wpos) per hash, rank>1 spans mark coverage, a token
      // survives iff no dup span covers it, string_agg reassembles in
      // position order; all-dropped and shorter-than-k docs restored
      // by the LEFT join (the text_paragraph_dedup shape)
      (spaceWordsCte + windowsCte(hashed = true) +
        "dup AS (SELECT doc_id, wpos FROM (SELECT doc_id, wpos, row_number() OVER (PARTITION BY whash ORDER BY doc_id, wpos) AS rn FROM w) r WHERE rn > 1), " +
        keptTokensCtes +
        "coalesce(a.n_kept, 0) AS n_kept, coalesce(a.text_deduped, '') AS text_deduped " +
        "FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id")),
    Query("text_window_dedup_exact", (s, d) =>
      // the EXACT (suffix-ordered) flavor: same span semantics keyed
      // on raw window content — the distributed truncated suffix
      // sort, zero hash-collision false scrubs. Oracle compares
      // tokens, not digests; spec pins flavor equality on
      // collision-free corpora
      TextAnalysis.dedupTokenWindowsExact(t(s, d, "documents"),
        "doc_id", "text", k = 8),
      // text_window_dedup_exact oracle: the same span algebra keyed on
      // the RAW window string — the oracle compares tokens, not digests,
      // so it independently witnesses that the hash flavor's spans were
      // collision-free on this corpus
      (spaceWordsCte + windowsCte(hashed = false) +
        "dup AS (SELECT doc_id, wpos FROM (SELECT doc_id, wpos, row_number() OVER (PARTITION BY whash ORDER BY doc_id, wpos) AS rn FROM w) r WHERE rn > 1), " +
        keptTokensCtes +
        "coalesce(a.n_kept, 0) AS n_kept, coalesce(a.text_deduped, '') AS text_deduped " +
        "FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id")),
    Query("text_substring_dedup", (s, d) =>
      // Lee et al. 2022 ExactSubstr proper: remove-ALL-copies — every
      // token covered by an 8-token window appearing >= 2 times
      // ANYWHERE (any doc, incl. its own) is scrubbed from EVERY
      // occurrence, and n_spans counts the maximal repeated regions.
      // The remove-all + extent semantics text_window_dedup's
      // keep-first rung deliberately does not have
      TextAnalysis.substringDedup(t(s, d, "documents"),
        "doc_id", "text", L = 8),
      // ExactSubstr remove-all replay: a window is dup when its hash
      // count over ALL occurrences >= 2 (no rank — every copy
      // scrubs); n_spans = islands of dup starts merged at gap > 8
      // (lag + CASE), coverage/reassembly the text_window_dedup
      // algebra; docs with no dups restored by the LEFT joins
      (spaceWordsCte + windowsCte(hashed = true) +
        "dup AS (SELECT doc_id, wpos FROM (SELECT doc_id, wpos, count(*) OVER (PARTITION BY whash) AS c FROM w) x WHERE c >= 2), " +
        "isl AS (SELECT doc_id, wpos, CASE WHEN lag(wpos) OVER (PARTITION BY doc_id ORDER BY wpos) IS NULL " +
        "OR wpos > lag(wpos) OVER (PARTITION BY doc_id ORDER BY wpos) + 8 THEN 1 ELSE 0 END AS brk FROM dup), " +
        "nsp AS (SELECT doc_id, CAST(sum(brk) AS BIGINT) AS n_spans FROM isl GROUP BY doc_id), " +
        keptTokensCtes +
        "coalesce(n.n_spans, 0) AS n_spans, coalesce(a.n_kept, 0) AS n_kept, " +
        "coalesce(a.text_deduped, '') AS text_deduped " +
        "FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id " +
        "LEFT JOIN nsp n ON d2.doc_id = n.doc_id")),
    Query("text_winnow_fps", (s, d) => {
      // MOSS winnowing selection per doc: n_fps vs n_windows is the
      // measured compression (expected density 2/(w+1)), fps_sig
      // gates the exact selected (pos, hash) set
      val docs = t(s, d, "documents")
      val nw = docs.select(col("doc_id"),
        greatest(size(split(col("text"), " ")) - (WinnowK - 1), lit(0))
          .cast("long").as("n_windows"))
      TextAnalysis.winnowFingerprints(docs, "doc_id", "text",
          WinnowK, WinnowW)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fps"),
          md5(array_join(transform(
            sort_array(collect_list(struct(col("fpos"), col("fp")))),
            x => concat(x("fpos").cast("string"), lit(":"), x("fp"))),
            " ")).as("fps_sig"))
        .join(nw, "doc_id")
        .select(col("doc_id"), col("n_windows"), col("n_fps"),
          col("fps_sig"))
    },
      (s"WITH $winnowCtes " +
        "SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows, " +
        "CAST(count(*) AS BIGINT) AS n_fps, " +
        "md5(string_agg(CAST(fpos AS VARCHAR) || ':' || fp, ' ' ORDER BY fpos)) AS fps_sig " +
        "FROM wfe GROUP BY doc_id, n_windows")),
    Query("text_vocab", (s, d) =>
      TextAnalysis.vocabulary(t(s, d, "documents"), "text", 50),
      (s"WITH tok AS (SELECT unnest(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS token FROM documents), " +
        "f AS (SELECT token, count(*) AS n_occurrences FROM tok GROUP BY 1) " +
        "SELECT token, n_occurrences, CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS BIGINT) AS \"rank\" " +
        "FROM f ORDER BY n_occurrences DESC, token LIMIT 50")),
    Query("text_bpe_merges", (s, d) =>
      // the tokenizer fit itself as the query result: 12 merge rules
      // learned from the corpus (fit in the timed body — the sim_ann
      // convention; production persists this table once). The oracle
      // replays every round's pair-count argmax as an unrolled CTE
      // chain, so the FIT is what's oracle-gated, not just its shape
      s.createDataFrame(TextAnalysis.fitBpeMerges(
        t(s, d, "documents"), "text", BpeMergeCount)),
      bpeMergesSql(BpeMergeCount)),
    Query("text_bpe_tokenize", (s, d) => {
      // fit + frozen-model apply in one query (the text_oov shape):
      // the oracle recomputes the merge sequence AND re-tokenizes, so
      // a fit drift and an apply drift both fail the hash
      val docs = t(s, d, "documents")
      TextAnalysis.bpeTokenize(docs, "doc_id", "text",
          TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount))
        .select(col("doc_id"), col("n_tokens"), col("tokens_sig"))
    },
      bpeTokenizeSql(BpeMergeCount)),
    Query("text_bpe_ids", (s, d) => {
      // the tokenizer loop's final stage: fit → vocabulary → TOKEN
      // IDS (what packs ship). Fit-on-self ⇒ every token resolves
      // (n_oov ≡ 0, the in-plan witness); the oracle re-derives the
      // merges, the vocabulary (sorted corpus alphabet + merges by
      // rank) AND the id sequence
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount)
      TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges,
          TextAnalysis.bpeVocabulary(docs, "text", merges))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("ids_sig"))
    },
      bpeIdsSql(BpeMergeCount)),
    Query("text_bpe_ids_bytes", (s, d) => {
      // the GPT-2 byte-fallback closure: fit merges + vocabulary on
      // the UNMODIFIED corpus, encode a corpus seeded with code
      // points the fit never saw (digits, é, €, 𝄞 — 1/2/3/4-byte
      // UTF-8; the piiSeededText convention, oracle replays the
      // seed): n_oov stays ≡0 and n_fallback witnesses the byte
      // path actually engaging
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount)
      TextAnalysis.bpeEncodeIdsBytes(
        docs.select(col("doc_id"), byteSeedText.as("text")),
        "doc_id", "text", merges,
        TextAnalysis.bpeVocabulary(docs, "text", merges))
        .select(col("doc_id"), col("n_tokens"), col("n_ids"),
          col("n_oov"), col("n_fallback"), col("ids_sig"))
    },
      bpeByteIdsSql(BpeMergeCount)),
    Query("text_chunk_stream", (s, d) => {
      // the OTHER canonical pretraining format: the whole corpus's id
      // stream in deterministic hash order, sliced at 256 — docs split
      // across boundaries, every chunk but the tail exactly full; the
      // oracle re-derives ids, stream order, offsets and per-chunk
      // reassembly
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount)
      Packing.chunkTokenStream(
        TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges,
          TextAnalysis.bpeVocabulary(docs, "text", merges)),
        "doc_id", seqLen = 256)
        .select(col("chunk_id"), col("n_ids"), col("complete"),
          col("ids_sig"))
    },
      chunkStreamSql(BpeMergeCount, seqLen = 256)),
    Query("text_bpe_tokenize_fast", (s, d) => {
      // the SCALE flavor of text_bpe_tokenize: same fit, but the apply
      // is the broadcast rank-map mapPartitions merger — per-row cost
      // independent of merge count (the literal chain is one
      // expression node per rule; at 32k+ rules analysis/codegen
      // dominates). Token-for-token equal by construction, so it
      // shares the unrolled-CTE oracle verbatim
      val docs = t(s, d, "documents")
      TextAnalysis.bpeTokenizeFast(docs, "doc_id", "text",
          TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount))
        .select(col("doc_id"), col("n_tokens"), col("tokens_sig"))
    },
      // the fast flavor is token-for-token equal to the literal chain
      // (TextAnalysisSpec pins it), so the same unrolled-CTE replay
      // gates it — fit drift, apply drift, and flavor drift all fail
      bpeTokenizeSql(BpeMergeCount)),
    Query("text_oov", (s, d) => {
      // fit + score in one query (the oracle replays both); production
      // persists the vocabulary and scores arrivals against it. Size
      // 20 < the corpus's ~31 distinct tokens, so OOV is NON-trivial
      // (a vocab covering every token would gate a vacuous all-zero
      // column)
      val docs = t(s, d, "documents")
      TextAnalysis.oovRate(docs, "doc_id", "text",
        TextAnalysis.vocabulary(docs, "text", 20))
    },
      (s"WITH tok AS (SELECT doc_id, unnest($tokenListSql) AS tok FROM documents), " +
        "f AS (SELECT tok AS token, count(*) AS n FROM tok GROUP BY 1), " +
        "v AS (SELECT token FROM f ORDER BY n DESC, token LIMIT 20) " +
        "SELECT t.doc_id, count(*) AS n_tokens, " +
        "CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_rate " +
        "FROM tok t LEFT JOIN v ON t.tok = v.token GROUP BY t.doc_id")),
    Query("text_pack", (s, d) =>
      Packing.packSequences(t(s, d, "documents"), "doc_id", "text",
        budget = PackBudget, numGroups = PackGroups),
      packSql(PackBudget, PackGroups)),
    Query("text_pack_ids", (s, d) => {
      // the dataloader handoff: pack walk + BPE encode composed —
      // each pack's member id sequences flattened in pack order; the
      // oracle re-derives the merges, the vocabulary, the ids AND the
      // recursive pack walk, then re-concatenates per pack
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount)
      Packing.materializePackedIds(
        Packing.packSequences(docs, "doc_id", "text",
          budget = PackBudget, numGroups = PackGroups),
        TextAnalysis.bpeEncodeIds(docs, "doc_id", "text", merges,
          TextAnalysis.bpeVocabulary(docs, "text", merges)),
        "doc_id")
        .select(col("pack_id"), col("n_docs"), col("n_missing"),
          col("n_ids"), col("ids_sig"))
    },
      packIdsSql(BpeMergeCount, PackBudget, PackGroups)),
    Query("text_pack_chunks", (s, d) =>
      // RAG splitter → batch assembler: pack the overlapping word
      // chunks, a doc's chunks adjacent in pack order
      Packing.packChunks(t(s, d, "documents"), "doc_id", "text",
        chunkSize = 12, overlap = 4, budget = PackBudget,
        numGroups = PackGroups),
      packChunksSql(chunkSize = 12, overlap = 4,
        budget = PackBudget, groups = PackGroups)),
    Query("text_redact", (s, d) =>
      // the corpus has no real PII, so the query seeds deterministic
      // emails/phones/SSNs from doc_id (same expression replayed in the
      // oracle) — the redactor runs against non-trivial hit counts
      TextAnalysis.redactPii(
        t(s, d, "documents").select(col("doc_id"), piiSeededText.as("text")),
        "doc_id", "text"),
      redactSql),
    Query("text_chunks", (s, d) =>
      TextAnalysis.chunkWords(t(s, d, "documents"), "doc_id", "text",
        chunkSize = 12, overlap = 4),
      chunksSql(chunkSize = 12, overlap = 4)),
    Query("text_source_report", (s, d) =>
      // the PORTABLE (ordered-fold) flavor so the per-source mean is
      // oracle-checkable bit-for-bit; TextAnalysis.sourceReport
      // (algebraic avg — bounded state per source at any corpus size)
      // is the scale default, spec-tied to this flavor
      TextAnalysis.sourceReportPortable(t(s, d, "documents"), "source",
        "doc_id", "text", minWords = GopherMinWords,
        maxWords = GopherMaxWords, minMeanWordLen = GopherMinMeanWordLen,
        maxMeanWordLen = GopherMaxMeanWordLen,
        maxSymbolRatio = GopherMaxSymbolRatio,
        minStopwords = GopherMinStopwords),
      // quality expr = the text_quality mirror; keep = the text_gopher
      // mirror; mean via list_sort fold (ordered-fold convention)
      (s"WITH q AS ($qualitySql), " +
        s"g AS (SELECT doc_id, $gopherKeepSql AS keep FROM documents), " +
        "j AS (SELECT d.source, q.quality, g.keep FROM documents d JOIN q USING (doc_id) JOIN g USING (doc_id)) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep, " +
        "round(list_aggregate(list_sort(list(quality)), 'sum') / count(*), 4) AS avg_quality " +
        "FROM j GROUP BY source")),
    Query("text_self_info", (s, d) =>
      // PORTABLE flavor (ordered fold) so the mean is oracle-checkable;
      // selfInfoScore (algebraic avg) is the scale default, spec-tied
      TextAnalysis.selfInfoScorePortable(t(s, d, "documents"),
        "doc_id", "text"),
      // mirrors selfInfoScorePortable: same unigram model, surprisal
      // folded over the SORTED list (ordered-fold convention); the
      // ln() engine-ulp daylight is absorbed by round(.,4) (bm25
      // precedent)
      (s"WITH tok AS (SELECT doc_id, unnest($tokenListSql) AS tok FROM documents), " +
        "freq AS (SELECT tok, count(*) AS n FROM tok GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_n FROM freq), " +
        "i AS (SELECT doc_id, ln(CAST(total_n AS DOUBLE)) - ln(CAST(n AS DOUBLE)) AS info FROM tok JOIN freq USING (tok), tot) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "round(list_aggregate(list_sort(list(info)), 'sum') / count(*), 4) AS self_info " +
        "FROM i GROUP BY doc_id")),
    Query("text_self_info2", (s, d) =>
      // bigram conditional surprisal (sees word ORDER) — same flavor
      // convention as text_self_info
      TextAnalysis.selfInfoBigramPortable(t(s, d, "documents"),
        "doc_id", "text"),
      // mirrors selfInfoBigramPortable: adjacent-pair conditional
      // surprisal ln c(prev,·) − ln c(prev,tok), folded over the
      // SORTED list; ln() ulp absorbed by round(.,4)
      (s"WITH base AS (SELECT doc_id, $tokenListSql AS ts FROM documents), " +
        "big AS (SELECT doc_id, ts[i] AS prev, ts[i + 1] AS tok FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM base) t), " +
        "c2 AS (SELECT prev, tok, count(*) AS n2 FROM big GROUP BY 1, 2), " +
        "c1 AS (SELECT prev, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1), " +
        "i AS (SELECT doc_id, ln(CAST(n1 AS DOUBLE)) - ln(CAST(n2 AS DOUBLE)) AS info FROM big JOIN c2 USING (prev, tok) JOIN c1 USING (prev)) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "round(list_aggregate(list_sort(list(info)), 'sum') / count(*), 4) AS self_info2 " +
        "FROM i GROUP BY doc_id")),
    Query("text_self_info3", (s, d) =>
      // the general n-gram rung at n=3: two-token contexts
      TextAnalysis.selfInfoNgramPortable(t(s, d, "documents"),
        "doc_id", "text", 3),
      // the n=3 mirror: context = two preceding tokens space-joined
      (s"WITH base AS (SELECT doc_id, $tokenListSql AS ts FROM documents), " +
        "big AS (SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS ctx, ts[i + 2] AS tok FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM base) t), " +
        "c2 AS (SELECT ctx, tok, count(*) AS n2 FROM big GROUP BY 1, 2), " +
        "c1 AS (SELECT ctx, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1), " +
        "i AS (SELECT doc_id, ln(CAST(n1 AS DOUBLE)) - ln(CAST(n2 AS DOUBLE)) AS info FROM big JOIN c2 USING (ctx, tok) JOIN c1 USING (ctx)) " +
        "SELECT doc_id, count(*) AS n_ngrams, " +
        "round(list_aggregate(list_sort(list(info)), 'sum') / count(*), 4) AS self_info_lm " +
        "FROM i GROUP BY doc_id")),
    Query("text_self_info_backoff", (s, d) => {
      // stupid-backoff trigram scoring vs a model fit on HALF the
      // corpus (doc_id parity): fit-on-self never backs off (every
      // corpus trigram is in its own model — the spec anchor), so the
      // query freezes the even-doc model and scores ALL docs — 8k of
      // 26k positions at sf0.01 genuinely fall to bigram/unigram, and
      // n_backoff carries the non-vacuity witness into the oracle
      val docs = t(s, d, "documents")
      TextAnalysis.scoreAgainstBackoffModelPortable(docs,
        TextAnalysis.backoffNgramModel(
          docs.filter(col("doc_id") % 2 === 0), "text", 3),
        "doc_id", "text", 3)
    },
      // stupid backoff replayed: per-order conditional tables fit on
      // the even-doc half, scoring = left-join coalesce cascade with
      // the penalty as an exact CAST(0.9163 AS DOUBLE) literal (k
      // skipped orders add k·penalty; 2·CAST is an exact FP doubling,
      // so both engines add bit-identical constants — parsing 1.8326
      // directly could differ from 2·0.9163 in the last bit)
      (fitHalfCtes +
        "tri AS (SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS ctx2, ts[i + 1] AS ctx1, ts[i + 2] AS tok FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM base) t), " +
        "ftri AS (SELECT ts[i] || ' ' || ts[i + 1] AS ctx, ts[i + 2] AS tok FROM (SELECT ts, unnest(range(1, len(ts) - 1)) AS i FROM fbase) t), " +
        "c3 AS (SELECT ctx, tok, count(*) AS n2 FROM ftri GROUP BY 1, 2), " +
        "c3t AS (SELECT ctx, CAST(sum(n2) AS BIGINT) AS n1 FROM c3 GROUP BY 1), " +
        "i3 AS (SELECT ctx, tok, ln(CAST(n1 AS DOUBLE)) - ln(CAST(n2 AS DOUBLE)) AS info FROM c3 JOIN c3t USING (ctx)), " +
        "fbi AS (SELECT ts[i] AS ctx, ts[i + 1] AS tok FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM fbase) t), " +
        "c2 AS (SELECT ctx, tok, count(*) AS n2 FROM fbi GROUP BY 1, 2), " +
        "c2t AS (SELECT ctx, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1), " +
        "i2 AS (SELECT ctx, tok, ln(CAST(n1 AS DOUBLE)) - ln(CAST(n2 AS DOUBLE)) AS info FROM c2 JOIN c2t USING (ctx)), " +
        "fu AS (SELECT unnest(ts) AS tok FROM fbase), " +
        "c1 AS (SELECT tok, count(*) AS n FROM fu GROUP BY 1), " +
        "i1 AS (SELECT tok, ln(CAST((SELECT sum(n) FROM c1) AS DOUBLE)) - ln(CAST(n AS DOUBLE)) AS info FROM c1), " +
        "sc AS (SELECT t.doc_id, coalesce(a.info, CAST(0.9163 AS DOUBLE) + b.info, 2 * CAST(0.9163 AS DOUBLE) + c.info) AS info, " +
        "CASE WHEN a.info IS NULL THEN 1 ELSE 0 END AS bo " +
        "FROM tri t LEFT JOIN i3 a ON t.ctx2 = a.ctx AND t.tok = a.tok " +
        "LEFT JOIN i2 b ON t.ctx1 = b.ctx AND t.tok = b.tok " +
        "LEFT JOIN i1 c ON t.tok = c.tok " +
        "WHERE coalesce(a.info, b.info, c.info) IS NOT NULL) " +
        "SELECT doc_id, count(*) AS n_ngrams, CAST(sum(bo) AS BIGINT) AS n_backoff, " +
        "round(list_aggregate(list_sort(list(info)), 'sum') / count(*), 4) AS self_info_bo " +
        "FROM sc GROUP BY doc_id")),
    Query("text_ppl_buckets", (s, d) => {
      // the CCNet head/middle/tail split: unigram self-info as the
      // perplexity proxy, terciles PER LANGUAGE (the paper buckets
      // per language — a hard global cut would just rank languages)
      val docs = t(s, d, "documents")
      TextAnalysis.pplBuckets(
        TextAnalysis.selfInfoScorePortable(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id"),
        "lang", "self_info")
        .select(col("doc_id"), col("lang"), col("self_info"),
          col("t1"), col("t2"), col("bucket"))
    },
      // CCNet buckets replayed: the self-info CTEs (rounded at 4 —
      // hash-equal inputs), per-language quantile_cont terciles at
      // the 4-decimal fractions, rounded cuts, <=-comparison
      (s"WITH tok AS (SELECT doc_id, unnest($tokenListSql) AS tok FROM documents), " +
        "freq AS (SELECT tok, count(*) AS n FROM tok GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_n FROM freq), " +
        "i AS (SELECT doc_id, ln(CAST(total_n AS DOUBLE)) - ln(CAST(n AS DOUBLE)) AS info FROM tok JOIN freq USING (tok), tot), " +
        "si AS (SELECT doc_id, round(list_aggregate(list_sort(list(info)), 'sum') / count(*), 4) AS self_info FROM i GROUP BY doc_id), " +
        "sl AS (SELECT si.doc_id, d.lang, si.self_info FROM si JOIN documents d USING (doc_id)), " +
        "cuts AS (SELECT lang, round(quantile_cont(self_info, 0.3333), 4) AS t1, " +
        "round(quantile_cont(self_info, 0.6667), 4) AS t2 FROM sl GROUP BY lang) " +
        "SELECT doc_id, lang, self_info, t1, t2, " +
        "CASE WHEN self_info <= t1 THEN 'head' WHEN self_info <= t2 THEN 'middle' ELSE 'tail' END AS bucket " +
        "FROM sl JOIN cuts USING (lang)")),
    Query("text_self_info_kn", (s, d) => {
      // interpolated Kneser-Ney bigram scoring vs a model frozen on
      // HALF the corpus (doc_id parity — the backoff query's fixture):
      // fit-on-self never interpolates (every corpus bigram is in its
      // own model — the spec anchor), so scoring ALL docs makes
      // n_interp and n_ctx_unseen genuinely fire, and unlike the MLE
      // scorer no seen-context position is dropped (every P_KN > 0)
      val docs = t(s, d, "documents")
      TextAnalysis.scoreAgainstKnModelPortable(docs,
        TextAnalysis.kneserNeyModel(
          docs.filter(col("doc_id") % 2 === 0), "text"),
        "doc_id", "text")
    },
      // interpolated KN replayed: the fit is exact integer counts
      // (bigram types, context totals, continuation/type counts on
      // the even-doc half); the per-position probability mirrors the
      // engine's expression dag op-for-op (D = 0.75 is exact binary,
      // every step an exactly-rounded IEEE op on identical bits), so
      // ln sees identical inputs; ordered fold + round(.,4) as always
      (fitHalfCtes +
        "bi AS (SELECT doc_id, ts[i] AS u, ts[i + 1] AS w FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM base) t), " +
        "fbi AS (SELECT ts[i] AS u, ts[i + 1] AS w FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM fbase) t), " +
        "bg AS (SELECT u, w, CAST(count(*) AS BIGINT) AS cuw FROM fbi GROUP BY 1, 2), " +
        "ctx AS (SELECT u, CAST(sum(cuw) AS BIGINT) AS cu, CAST(count(*) AS BIGINT) AS n1u FROM bg GROUP BY 1), " +
        "cont AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM bg GROUP BY 1), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n1tot FROM bg), " +
        "sc AS (SELECT b.doc_id, " +
        "CASE WHEN x.cu IS NULL THEN CAST(n.n1w AS DOUBLE) / CAST(t.n1tot AS DOUBLE) " +
        "ELSE (greatest(CAST(coalesce(g.cuw, 0) AS DOUBLE) - 0.75, 0.0) + " +
        "(0.75 * CAST(x.n1u AS DOUBLE)) * (CAST(n.n1w AS DOUBLE) / CAST(t.n1tot AS DOUBLE))) / CAST(x.cu AS DOUBLE) END AS p, " +
        "CASE WHEN x.cu IS NULL THEN 1 ELSE 0 END AS cb, " +
        "CASE WHEN g.cuw IS NULL AND x.cu IS NOT NULL THEN 1 ELSE 0 END AS ni " +
        "FROM bi b JOIN cont n ON b.w = n.w CROSS JOIN tot t " +
        "LEFT JOIN ctx x ON b.u = x.u " +
        "LEFT JOIN bg g ON b.u = g.u AND b.w = g.w) " +
        "SELECT doc_id, count(*) AS n_ngrams, CAST(sum(cb) AS BIGINT) AS n_ctx_unseen, " +
        "CAST(sum(ni) AS BIGINT) AS n_interp, " +
        "round(list_aggregate(list_sort(list(- ln(p))), 'sum') / count(*), 4) AS self_info_kn " +
        "FROM sc GROUP BY doc_id")),
    Query("text_self_info_kn3", (s, d) => {
      // the trigram rung of interpolated KN (continuation counts at
      // every lower order — the form production LMs shipped): same
      // even-half frozen-model fixture; both backoff depths fire
      val docs = t(s, d, "documents")
      TextAnalysis.scoreAgainstKn3ModelPortable(docs,
        TextAnalysis.kneserNeyTrigramModel(
          docs.filter(col("doc_id") % 2 === 0), "text"),
        "doc_id", "text")
    },
      // trigram interpolated KN replayed: raw counts at the top
      // order, continuation counts below (all exact integers), the
      // P2-inside-P3 dag mirrored with P2 as a named subquery column
      (fitHalfCtes +
        "tri AS (SELECT doc_id, ts[i] AS v, ts[i + 1] AS u, ts[i + 2] AS w FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM base) t), " +
        "ftri AS (SELECT ts[i] AS v, ts[i + 1] AS u, ts[i + 2] AS w FROM (SELECT ts, unnest(range(1, len(ts) - 1)) AS i FROM fbase) t), " +
        "t3 AS (SELECT v, u, w, CAST(count(*) AS BIGINT) AS c3 FROM ftri GROUP BY 1, 2, 3), " +
        "c3 AS (SELECT v, u, CAST(sum(c3) AS BIGINT) AS c3tot, CAST(count(*) AS BIGINT) AS n13 FROM t3 GROUP BY 1, 2), " +
        "n2 AS (SELECT u, w, CAST(count(*) AS BIGINT) AS n1cuw FROM t3 GROUP BY 1, 2), " +
        "u2 AS (SELECT u, CAST(sum(n1cuw) AS BIGINT) AS n1cusum, CAST(count(*) AS BIGINT) AS n1ud FROM n2 GROUP BY u), " +
        "fbi AS (SELECT DISTINCT ts[i] AS u, ts[i + 1] AS w FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM fbase) t), " +
        "c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM fbi GROUP BY 1), " +
        "tt AS (SELECT CAST(count(*) AS BIGINT) AS n1tot FROM fbi), " +
        "sc AS (SELECT b.doc_id, " +
        "CASE WHEN x.n1cusum IS NULL THEN CAST(o.n1w AS DOUBLE) / CAST(t.n1tot AS DOUBLE) " +
        "ELSE (greatest(CAST(coalesce(n.n1cuw, 0) AS DOUBLE) - 0.75, 0.0) + " +
        "(0.75 * CAST(x.n1ud AS DOUBLE)) * (CAST(o.n1w AS DOUBLE) / CAST(t.n1tot AS DOUBLE))) / CAST(x.n1cusum AS DOUBLE) END AS p2, " +
        "g.c3tot, g.n13, y.c3 AS c3w, x.n1cusum " +
        "FROM tri b JOIN c1 o ON b.w = o.w CROSS JOIN tt t " +
        "LEFT JOIN u2 x ON b.u = x.u " +
        "LEFT JOIN n2 n ON b.u = n.u AND b.w = n.w " +
        "LEFT JOIN c3 g ON b.v = g.v AND b.u = g.u " +
        "LEFT JOIN t3 y ON b.v = y.v AND b.u = y.u AND b.w = y.w), " +
        "sc2 AS (SELECT doc_id, " +
        "CASE WHEN c3tot IS NULL THEN p2 " +
        "ELSE (greatest(CAST(coalesce(c3w, 0) AS DOUBLE) - 0.75, 0.0) + " +
        "(0.75 * CAST(n13 AS DOUBLE)) * p2) / CAST(c3tot AS DOUBLE) END AS p3, " +
        "CASE WHEN c3tot IS NULL THEN 1 ELSE 0 END AS b3, " +
        "CASE WHEN n1cusum IS NULL THEN 1 ELSE 0 END AS b2 FROM sc) " +
        "SELECT doc_id, count(*) AS n_ngrams, CAST(sum(b3) AS BIGINT) AS n_ctx3_unseen, " +
        "CAST(sum(b2) AS BIGINT) AS n_ctx2_unseen, " +
        "round(list_aggregate(list_sort(list(- ln(p3))), 'sum') / count(*), 4) AS self_info_kn3 " +
        "FROM sc2 GROUP BY doc_id")),
    Query("text_gopher", (s, d) =>
      // thresholds chosen to BISECT this corpus (words 10-99 median 56,
      // mean word len 3.7-5.3) so both keep outcomes are exercised
      TextAnalysis.gopherRules(t(s, d, "documents"), "doc_id", "text",
        minWords = GopherMinWords, maxWords = GopherMaxWords,
        minMeanWordLen = GopherMinMeanWordLen,
        maxMeanWordLen = GopherMaxMeanWordLen,
        maxSymbolRatio = GopherMaxSymbolRatio,
        minStopwords = GopherMinStopwords),
      (s"SELECT doc_id, CAST(len($wordsSql) AS BIGINT) AS n_words, " +
        s"(length($normSql) - len($wordsSql) + 1) / len($wordsSql) AS mean_word_len, " +
        s"(len(string_split_regex(text, '#')) - 1 + len(string_split_regex(text, '\\.\\.\\.')) - 1) / len($wordsSql) AS symbol_ratio, " +
        s"CAST(len(list_intersect($wordsSql, ${TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) AS BIGINT) AS n_stop_distinct, " +
        s"$gopherKeepSql AS keep " +
        "FROM documents")),
    Query("text_nb_model", (s, d) => {
      // the NB fit artifact itself as the query result (the
      // text_bpe_merges convention): per-token class counts are exact
      // integers, so the FIT is hash-gated with no rounding at all
      val m = TextAnalysis.nbQualityModel(
        gopherLabeledDocs(s, d), "text", "keep")
      m.select(col("__ntok").as("token"), col("__np").as("n_pos"),
        col("__nn").as("n_neg"))
    },
      // the NB fit replayed exactly: per-token class-occurrence counts
      // under the gopher label — pure integers, no rounding anywhere
      (s"WITH g AS (SELECT doc_id, $gopherKeepSql AS keep FROM documents), " +
        s"tok AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS token FROM documents), " +
        "lt AS (SELECT t.token, g.keep FROM tok t JOIN g USING (doc_id)) " +
        "SELECT token, CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, " +
        "CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_neg " +
        "FROM lt GROUP BY token")),
    Query("text_nb_quality", (s, d) =>
      // quality-classifier distillation: fit multinomial NB on the
      // gopher rule gate's labels, score every doc with calibrated
      // log-odds. PORTABLE flavor (ordered fold); fit-on-self ⇒
      // n_oov ≡ 0 (spec anchor) — the frozen-model pair scores NEW
      // arrivals with the same math (TextAnalysisSpec)
      TextAnalysis.nbQualityScorePortable(
        gopherLabeledDocs(s, d), "doc_id", "text", "keep"),
      // mirrors nbQualityScorePortable: add-1 log-likelihood ratios
      // from exact integer counts (ln on bit-identical inputs — the
      // selfInfoModel convention), per-doc ordered fold + the prior;
      // fit-on-self ⇒ every token joins (n_oov ≡ 0); ln ulp daylight
      // absorbed by round(.,4), and the sign margin is corpus-wide
      // >> ulp (min |log_odds| ~ 1e0 at sf0.01 — TextAnalysisSpec pins a
      // planted-margin case)
      (nbScoredCtes +
        " SELECT doc_id, n_tokens, CAST(0 AS BIGINT) AS n_oov, " +
        "round(lo, 4) AS log_odds, lo > 0 AS predicted_keep FROM sc")),
    Query("text_dsir_model", (s, d) => {
      // DSIR fit, inspectable half: exact hashed-ngram bucket counts
      // (unigrams + bigrams, md5-uniform buckets) of the TARGET
      // distribution (the English slice) vs the RAW corpus — pure
      // integers, ≤ DsirBuckets rows however large the corpus
      val docs = t(s, d, "documents")
      Dsir.dsirCounts(docs.filter(col("lang") === "en"), docs, "text",
        DsirBuckets)
    },
      // DSIR oracles: hashed unigram+bigram features (md5-uniform mod
      // 1024 — the minhash bucket convention), exact integer counts for
      // the fit; λ and Gumbel keys take ln() of bit-identical integer-
      // derived doubles with ordered folds + round(.,4) (the NB scoring
      // convention)
      (langFeatureCtes +
        "fb AS (SELECT doc_id, lang, CAST('0x' || substr(md5(feat), 1, 15) AS BIGINT) % 1024 AS b FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)) " +
        "SELECT b AS bucket, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_target, " +
        "CAST(count(*) AS BIGINT) AS n_raw FROM fb GROUP BY b")),
    Query("text_dsir_score", (s, d) => {
      // DSIR scoring: per-doc log importance weight Σ λ_bucket under
      // the frozen hashed-ngram model (target = English slice, raw =
      // whole corpus). Portable ordered fold, round(.,4) — the NB
      // scoring convention
      val docs = t(s, d, "documents")
      Dsir.dsirScorePortable(docs,
          Dsir.dsirModel(docs.filter(col("lang") === "en"), docs, "text",
            DsirBuckets), "doc_id", "text", DsirBuckets)
        .select(col("doc_id"), col("n_features"), col("log_w"))
    },
      (langFeatureCtes +
        "fb AS (SELECT doc_id, lang, CAST('0x' || substr(md5(feat), 1, 15) AS BIGINT) % 1024 AS b FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)), " +
        "tt AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS r FROM fb), " +
        "m AS (SELECT b, (ln(CAST(nt + 1 AS DOUBLE)) - ln(CAST(t + 1024 AS DOUBLE))) - (ln(CAST(nr + 1 AS DOUBLE)) - ln(CAST(r + 1024 AS DOUBLE))) AS lam " +
        "FROM (SELECT b, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS nr FROM fb GROUP BY b), tt), " +
        "i AS (SELECT fb.doc_id, m.lam FROM fb JOIN m USING (b)) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features, " +
        "round(list_aggregate(list_sort(list(lam)), 'sum'), 4) AS log_w FROM i GROUP BY doc_id")),
    Query("text_dsir_sample", (s, d) => {
      // DSIR selection: Gumbel top-k on log_w + g_id — k docs without
      // replacement ∝ importance weight, deterministic in ids (the
      // priority-sampling convention lifted to importance weights).
      // One bounded-heap top-k; rank over the ≤ k survivor frame
      val docs = t(s, d, "documents")
      Dsir.dsirResample(docs,
        Dsir.dsirModel(docs.filter(col("lang") === "en"), docs, "text",
          DsirBuckets), "doc_id", "text", DsirBuckets, DsirSampleK)
    },
      (langFeatureCtes +
        "fb AS (SELECT doc_id, lang, CAST('0x' || substr(md5(feat), 1, 15) AS BIGINT) % 1024 AS b FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)), " +
        "tt AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS r FROM fb), " +
        "m AS (SELECT b, (ln(CAST(nt + 1 AS DOUBLE)) - ln(CAST(t + 1024 AS DOUBLE))) - (ln(CAST(nr + 1 AS DOUBLE)) - ln(CAST(r + 1024 AS DOUBLE))) AS lam " +
        "FROM (SELECT b, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS nr FROM fb GROUP BY b), tt), " +
        "i AS (SELECT fb.doc_id, m.lam FROM fb JOIN m USING (b)), " +
        "sc AS (SELECT doc_id, list_aggregate(list_sort(list(lam)), 'sum') AS lw FROM i GROUP BY doc_id), " +
        "g AS (SELECT doc_id, lw, lw - ln(-ln(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|dsir'), 1, 15) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0)) AS key FROM sc), " +
        "rk AS (SELECT doc_id, lw, key, row_number() OVER (ORDER BY key DESC, doc_id) AS rn FROM g) " +
        "SELECT doc_id, round(lw, 4) AS log_w, round(key, 4) AS sample_key, CAST(rn AS BIGINT) AS \"rank\" FROM rk WHERE rn <= 50")),
    Query("text_line_dedup", (s, d) =>
      // the synthetic corpus has no newlines, so the delimiter is the
      // word boundary — same operator, line granularity is a parameter
      TextAnalysis.dedupLines(t(s, d, "documents"), "doc_id", "text",
        delim = " "),
      // DuckDB lambdas index from 1 and list_position returns the FIRST
      // match — "first occurrence" is list_position(ws, x) = i, the
      // mirror of Spark's array_position(lines, l) == i + 1
      ("WITH l AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) " +
        "SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_lines, " +
        "CAST(len(list_distinct(ws)) AS BIGINT) AS n_kept, " +
        "array_to_string(list_filter(ws, (x, i) -> list_position(ws, x) = i), ' ') AS text_deduped FROM l")),
    Query("text_boilerplate", (s, d) =>
      // corpus-relative threshold (60% of docs), derived IN-PLAN so
      // query construction is pure — no driver-side count job
      TextAnalysis.removeBoilerplateFrac(t(s, d, "documents"),
        "doc_id", "text", 0.6, delim = " "),
      (spaceWordsCte +
        "l AS (SELECT doc_id, t.line, t.pos FROM d, LATERAL (SELECT unnest(ws) AS line, unnest(range(1, len(ws) + 1)) AS pos) t), " +
        "freq AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM l) dl GROUP BY line " +
        "HAVING count(*) >= (SELECT CAST(ceil(0.6 * count(*)) AS BIGINT) FROM documents)), " +
        "kept AS (SELECT doc_id, pos, line FROM l WHERE line NOT IN (SELECT line FROM freq)), " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(line, ' ' ORDER BY pos) AS text_clean FROM kept GROUP BY doc_id) " +
        "SELECT d2.doc_id, CAST(len(string_split(d2.text, ' ')) AS BIGINT) AS n_lines, " +
        "CAST(len(string_split(d2.text, ' ')) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed, " +
        "coalesce(a.text_clean, '') AS text_clean " +
        "FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id")),
    Query("text_curation_dag", (s, d) =>
      // the full assembly line in ONE query: gopher gate (text_gopher's
      // bisecting thresholds) → word-level line dedup → keep-best →
      // per-source token budget → packing; the corpus is scanned ONCE
      // (spec-pinned) and each stage is the oracle-gated operator
      Packing.curateAndPack(t(s, d, "documents"), "doc_id", "source",
        "text", TokenBudgets, PackBudget, PackGroups, delim = " ",
        minWords = GopherMinWords, maxWords = GopherMaxWords,
        minMeanWordLen = GopherMinMeanWordLen,
        maxMeanWordLen = GopherMaxMeanWordLen,
        maxSymbolRatio = GopherMaxSymbolRatio,
        minStopwords = GopherMinStopwords),
      curationDagSql(TokenBudgets, PackBudget,
        PackGroups)),
    Query("text_curation_dag_nb", (s, d) => {
      // the DAG with the classifier-distillation stage inserted after
      // the heuristic gate: the NB model fits on the gopher-labeled
      // corpus (text_nb_quality's fit-on-self convention — production
      // passes the persisted artifact instead) and gates survivors on
      // the calibrated log-odds sign; the DAG itself still scans the
      // corpus once (spec-pinned), the model rides in as a broadcast
      // join
      // materialize the model artifact ONCE (it IS an artifact — the
      // production pipeline passes a persisted table): the scorer
      // references it 2x (consts + term join) and the gated frame is
      // consumed 3x downstream — un-pinned, every reference re-ran
      // the NB fit including its corpus scan (79 document scans in
      // this one query)
      val model = TextAnalysis.nbQualityModel(
        gopherLabeledDocs(s, d), "text", "keep").localCheckpoint(true)
      Packing.curateAndPack(t(s, d, "documents"), "doc_id", "source",
        "text", TokenBudgets, PackBudget, PackGroups, delim = " ",
        minWords = GopherMinWords, maxWords = GopherMaxWords,
        minMeanWordLen = GopherMinMeanWordLen,
        maxMeanWordLen = GopherMaxMeanWordLen,
        maxSymbolRatio = GopherMaxSymbolRatio,
        minStopwords = GopherMinStopwords,
        nbModel = Some(model))
    },
      curationDagSql(TokenBudgets, PackBudget,
        PackGroups, withNb = true)),
    // --- post-training data assembly (DPO pairs / chat templates) ---
    Query("text_pref_pairs", (s, d) =>
      Preference.preferencePairs(
          t(s, d, "documents")
            .withColumn("prompt_key", col("doc_id") % PrefGroups),
          "doc_id", "prompt_key", "n_chars", PrefMinMargin)
        .select(col("prompt_key"), col("chosen_id"), col("rejected_id"),
          col("chosen_score"), col("rejected_score"), col("margin")),
      // preference-pair oracle: both argmax windows replayed with the
      // same deterministic tie-breaks; scores/margins are integer-valued
      // doubles, so no rounding boundary exists
      (s"WITH s AS (SELECT doc_id % $PrefGroups AS prompt_key, doc_id, " +
        "CAST(n_chars AS DOUBLE) AS score FROM documents), " +
        "c AS (SELECT prompt_key, doc_id AS chosen_id, score AS chosen_score, " +
        "row_number() OVER (PARTITION BY prompt_key ORDER BY score DESC, doc_id ASC) AS rn FROM s), " +
        "rj AS (SELECT prompt_key, doc_id AS rejected_id, score AS rejected_score, " +
        "row_number() OVER (PARTITION BY prompt_key ORDER BY score ASC, doc_id DESC) AS rn FROM s) " +
        "SELECT c.prompt_key, chosen_id, rejected_id, chosen_score, rejected_score, " +
        "chosen_score - rejected_score AS margin " +
        "FROM c JOIN rj ON c.prompt_key = rj.prompt_key AND c.rn = 1 AND rj.rn = 1 " +
        s"WHERE chosen_id <> rejected_id AND chosen_score - rejected_score >= CAST($PrefMinMargin AS DOUBLE)")),
    Query("text_chat_template", (s, d) =>
      Preference.chatTemplate(t(s, d, "documents"), "doc_id", "text",
        ChatPromptWords, ChatSystem),
      (s"WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents), " +
        s"p AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n, " +
        s"array_to_string(list_slice(ts, 1, $ChatPromptWords), ' ') AS prompt, " +
        s"array_to_string(list_slice(ts, ${ChatPromptWords + 1}, len(ts)), ' ') AS response " +
        s"FROM t0 WHERE len(ts) > $ChatPromptWords) " +
        s"SELECT doc_id, '<|system|>$ChatSystem<|user|>' || prompt || '<|assistant|>' || response || '<|end|>' AS rendered, " +
        s"CAST(${"<|system|>".length + ChatSystem.length + "<|user|>".length} + length(prompt) + ${"<|assistant|>".length} AS BIGINT) AS mask_start, " +
        s"CAST(${"<|system|>".length + ChatSystem.length + "<|user|>".length} + length(prompt) + ${"<|assistant|>".length} + length(response) AS BIGINT) AS mask_end, " +
        s"n AS n_tokens, n - $ChatPromptWords AS n_tokens_masked FROM p")),
    // --- inverted-index retrieval: build-once, probe-many lexical
    //     search (the postings mirror of the ANN index loop) ---
    Query("text_index_stats", (s, d) =>
      Retrieval.indexStats(postingsIndex(s, d)._1),
      // inverted-index oracles: postings rebuilt from scratch in DuckDB
      // (zip-unnest positions); the Spark side reads its persisted index
      (postingsCte +
        ", dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1) " +
        "SELECT term, df, CAST(sum(tf) AS BIGINT) AS total_tf, " +
        "CAST(max(tf) AS BIGINT) AS max_tf " +
        "FROM post JOIN dfs USING (term) GROUP BY term, df")),
    Query("text_index_probe", (s, d) =>
      Retrieval.conjunctiveProbe(postingsIndex(s, d)._1, IndexAndTerms),
      (postingsCte +
        s" SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms, " +
        "CAST(sum(tf) AS BIGINT) AS total_tf FROM post " +
        s"WHERE term IN ${IndexAndTerms.map(t => s"'$t'").mkString("(", ", ", ")")} " +
        s"GROUP BY doc_id HAVING count(*) = ${IndexAndTerms.distinct.size}")),
    Query("text_index_phrase", (s, d) =>
      Retrieval.phraseProbe(postingsIndex(s, d)._1, IndexPhrase),
      phraseSql(IndexPhrase)),
    Query("text_index_advance", (s, d) => {
      // the incremental loop end-to-end: index 90% of the corpus,
      // advance with the remaining 10% as arrivals, report the
      // advanced index's stats — the oracle computes the same stats
      // over the FULL corpus (advance == rebuild, spec-pinned)
      val docs = t(s, d, "documents")
      val post = Retrieval.postings(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      val (p2, d2) = Retrieval.advancePostingsIndex(post,
        Retrieval.termDfs(post),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      Retrieval.indexStats(p2.join(d2, "term")
        .select(col("term"), col("df"), col("doc_id"), col("tf"),
          col("positions")))
    },
      // advance == rebuild: the oracle is the full-corpus stats, same
      // SQL as text_index_stats
      (postingsCte +
        ", dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1) " +
        "SELECT term, df, CAST(sum(tf) AS BIGINT) AS total_tf, " +
        "CAST(max(tf) AS BIGINT) AS max_tf " +
        "FROM post JOIN dfs USING (term) GROUP BY term, df")),
    Query("text_index_bm25", (s, d) => {
      val (idx, dl) = postingsIndex(s, d)
      Retrieval.bm25Probe(idx, dl, Bm25Terms, IndexBm25K)
    },
      ("SELECT doc_id, bm25, rank FROM (SELECT doc_id, bm25, " +
        "row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank " +
        s"FROM (${bm25Sql(Bm25Terms, k1 = 1.2, b = 0.75)}) s WHERE bm25 > 0) r " +
        s"WHERE rank <= $IndexBm25K")),
    // --- hashing-trick vectorizer (fit-free sparse features) ---
    Query("text_feature_hash", (s, d) =>
      TextAnalysis.featureHash(t(s, d, "documents"), "doc_id", "text",
        FeatureHashDims),
      (s"WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents), " +
        "p AS (SELECT doc_id, unnest(ws) AS term FROM w) " +
        "SELECT doc_id, " +
        s"CAST('0x' || substr(md5(term), 1, 7) AS BIGINT) % $FeatureHashDims AS bucket, " +
        "CAST(sum(CASE WHEN CAST('0x' || substr(md5(term), 8, 1) AS BIGINT) % 2 = 0 " +
        "THEN 1 ELSE -1 END) AS BIGINT) AS weight " +
        "FROM p GROUP BY 1, 2")),
    // --- eval harness: classifier PR/F1, score calibration, nDCG ---
    Query("text_nb_eval", (s, d) => {
      // the distillation loop's verdict: NB (fit on the gopher labels)
      // scored back against those labels — fit-on-self, so this is the
      // TRAINING fit quality, the ceiling a held-out eval reads against
      val labeled = gopherLabeledDocs(s, d)
      Quality.binaryEval(
        TextAnalysis.nbQualityScorePortable(labeled, "doc_id", "text",
            "keep")
          .select(col("doc_id"), col("predicted_keep"))
          .join(labeled.select(col("doc_id"), col("keep")), "doc_id"),
        col("predicted_keep"), col("keep"))
    },
      // classifier eval: the sc scores joined back on their own labels,
      // confusion counts + single-division rates
      (nbScoredCtes + ", j AS (SELECT lo > 0 AS p, keep AS t FROM sc " +
        "JOIN g USING (doc_id)), " +
        "cm AS (SELECT CAST(coalesce(sum(CASE WHEN p AND t THEN 1 END), 0) AS BIGINT) AS tp, " +
        "CAST(coalesce(sum(CASE WHEN p AND NOT t THEN 1 END), 0) AS BIGINT) AS fp, " +
        "CAST(coalesce(sum(CASE WHEN NOT p AND t THEN 1 END), 0) AS BIGINT) AS fn, " +
        "CAST(coalesce(sum(CASE WHEN NOT p AND NOT t THEN 1 END), 0) AS BIGINT) AS tn, " +
        "CAST(coalesce(sum(CASE WHEN p IS NULL OR t IS NULL THEN 1 END), 0) AS BIGINT) AS n_null FROM j) " +
        "SELECT tp, fp, fn, tn, n_null, " +
        "CASE WHEN tp + fp + fn + tn > 0 THEN CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE) END AS accuracy, " +
        "CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision, " +
        "CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall, " +
        "CASE WHEN tp * 2 + fp + fn > 0 THEN CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE) END AS f1 FROM cm")),
    Query("text_nb_calibration", (s, d) => {
      val labeled = gopherLabeledDocs(s, d)
      Quality.calibrationBins(
        TextAnalysis.nbQualityScorePortable(labeled, "doc_id", "text",
            "keep")
          .select(col("doc_id"), col("log_odds"))
          .join(labeled.select(col("doc_id"), col("keep")), "doc_id"),
        "log_odds", col("keep"), NbCalibEdges)
    },
      // calibration: the psi bin layout over the ROUNDED score (the
      // engines' rounded log_odds are hash-equal, so bins agree)
      {
        val binExpr = NbCalibEdges
          .map(e => s"(CASE WHEN s >= $e THEN 1 ELSE 0 END)")
          .mkString(" + ")
        nbScoredCtes + ", j AS (SELECT round(lo, 4) AS s, keep FROM sc " +
          "JOIN g USING (doc_id)) " +
          s"SELECT CAST($binExpr AS BIGINT) AS bin, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT) AS n_pos, " +
          "CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate " +
          "FROM j GROUP BY 1"
      }),
    // --- source redundancy matrix (vocabulary Jaccard per pair) ---
    Query("text_source_overlap", (s, d) =>
      TextAnalysis.sourceOverlap(t(s, d, "documents"), "source", "text"),
      (s"WITH v AS (SELECT DISTINCT src, w FROM (SELECT source AS src, unnest($wordsSql) AS w FROM documents) t), " +
        "sz AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1), " +
        "i AS (SELECT a.src AS source_a, b.src AS source_b, CAST(count(*) AS BIGINT) AS n_common " +
        "FROM v a JOIN v b ON a.w = b.w AND a.src < b.src GROUP BY 1, 2) " +
        "SELECT sa.src AS source_a, sb.src AS source_b, sa.n AS n_a, sb.n AS n_b, " +
        "coalesce(i.n_common, 0) AS n_common, " +
        "CAST(coalesce(i.n_common, 0) AS DOUBLE) / CAST(sa.n + sb.n - coalesce(i.n_common, 0) AS DOUBLE) AS jaccard " +
        "FROM sz sa JOIN sz sb ON sa.src < sb.src " +
        "LEFT JOIN i ON i.source_a = sa.src AND i.source_b = sb.src")),
    // --- confident-learning label-noise prune list ---
    Query("text_label_noise", (s, d) => {
      val labeled = gopherLabeledDocs(s, d)
      Quality.confidentMislabels(
        TextAnalysis.nbQualityScorePortable(labeled, "doc_id", "text",
            "keep")
          .select(col("doc_id"), col("log_odds"))
          .join(labeled.select(col("doc_id"), col("keep")), "doc_id"),
        col("log_odds"), col("keep"), NoiseMargin)
    },
      // label noise: the nb score chain, ROUNDED log-odds compared
      // against the margin (the rounded scores hash-match cross-engine)
      (nbScoredCtes + ", j AS (SELECT sc.doc_id, round(lo, 4) AS log_odds, keep " +
        "FROM sc JOIN g USING (doc_id)) " +
        "SELECT doc_id, log_odds, keep, " +
        s"CASE WHEN keep AND log_odds < -$NoiseMargin THEN 'labeled_pos_scored_neg' " +
        s"WHEN NOT keep AND log_odds > $NoiseMargin THEN 'labeled_neg_scored_pos' END AS noise_kind " +
        "FROM j WHERE (keep AND log_odds < -" + NoiseMargin +
        ") OR (NOT keep AND log_odds > " + NoiseMargin + ")")),
    // --- unigram-LM tokenizer (the SentencePiece family, completing
    //     the BPE loop): seed statistics + frozen-vocab encode ---
    Query("text_unigram_seed", (s, d) =>
      Unigram.seedCounts(
        Unigram.wordFrequencies(t(s, d, "documents"), "text"),
        UnigramMaxPieceLen),
      (s"WITH wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM " +
        s"(SELECT unnest($wordsSql) AS word FROM documents) t " +
        "WHERE length(word) > 0 GROUP BY 1), " +
        "sub AS (SELECT substr(word, i, l) AS piece, freq FROM wf, " +
        "LATERAL (SELECT unnest(range(1, length(word) + 1)) AS i) a, " +
        s"LATERAL (SELECT unnest(range(1, least($UnigramMaxPieceLen, length(word) - i + 1) + 1)) AS l) b) " +
        "SELECT piece, CAST(sum(freq) AS BIGINT) AS n FROM sub GROUP BY 1")),
    Query("text_unigram_tokenize", (s, d) =>
      // scalar-only projection: the driver's pandas canonicalizer can't
      // sort list cells, so the array travels as its md5 sig (the
      // text_bpe_tokenize convention); Unigram.tokenize itself keeps
      // returning the pieces array for callers
      Unigram.tokenize(t(s, d, "documents"), "doc_id", "text",
          UnigramPieces, UnigramMaxPieceLen)
        .select(col("doc_id"), col("n_pieces"), col("pieces_sig")),
      ("SELECT doc_id, n_pieces, pieces_sig FROM " +
        s"(${unigramTokenizeSql(UnigramPieces, UnigramMaxPieceLen)}) t")),
    Query("text_unigram_ids", (s, d) =>
      // the unigram loop's final stage (the text_bpe_ids analog):
      // frozen vocab, alphabetical piece ids, unk singletons at -1
      Unigram.encodeIds(t(s, d, "documents"), "doc_id", "text",
          UnigramPieces, UnigramMaxPieceLen)
        .select(col("doc_id"), col("n_pieces"), col("n_oov"),
          col("ids_sig")),
      {
        val vocab = Unigram.vocabulary(UnigramPieces)
        val entries = vocab.toSeq.sortBy(_._1)
          .map { case (p, i) => s"'$p': $i" }.mkString(", ")
        s"SELECT doc_id, n_pieces, " +
          "CAST(len(list_filter(ids, i -> i = -1)) AS BIGINT) AS n_oov, " +
          "md5(array_to_string(list_transform(ids, i -> CAST(i AS VARCHAR)), ',')) AS ids_sig " +
          s"FROM (SELECT doc_id, n_pieces, list_transform(pieces, p -> " +
          s"coalesce((MAP {$entries})[p][1], -1)) AS ids " +
          s"FROM (${unigramTokenizeSql(UnigramPieces, UnigramMaxPieceLen)}) tt) ii"
      }),
    // --- WordPiece tokenizer (the BERT family, completing the
    //     trilogy: BPE merges-by-count, unigram prunes-by-likelihood,
    //     WordPiece merges-by-likelihood-gain): round-1 fit statistics
    //     + frozen-vocab greedy encode ---
    Query("text_wordpiece_pairs", (s, d) =>
      WordPiece.pairScores(t(s, d, "documents"), "text"),
      (s"WITH wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM " +
        s"(SELECT unnest($wordsSql) AS word FROM documents) t " +
        "WHERE length(word) > 0 GROUP BY 1), " +
        "sy AS (SELECT word, freq, i, CASE WHEN i = 1 THEN substr(word, 1, 1) " +
        "ELSE '##' || substr(word, i, 1) END AS s FROM wf, " +
        "LATERAL (SELECT unnest(range(1, length(word) + 1)) AS i) a), " +
        "sc AS (SELECT s, CAST(sum(freq) AS BIGINT) AS ns FROM sy GROUP BY 1), " +
        "pr AS (SELECT x.s AS a, y.s AS b, CAST(sum(x.freq) AS BIGINT) AS n_pair " +
        "FROM sy x JOIN sy y ON x.word = y.word AND y.i = x.i + 1 GROUP BY 1, 2) " +
        "SELECT p.a, p.b, p.n_pair, ca.ns AS n_a, cb.ns AS n_b, " +
        "CAST(p.n_pair AS DOUBLE) / (CAST(ca.ns AS DOUBLE) * CAST(cb.ns AS DOUBLE)) AS score " +
        "FROM pr p JOIN sc ca ON p.a = ca.s JOIN sc cb ON p.b = cb.s")),
    Query("text_wordpiece_tokenize", (s, d) =>
      // scalar-only projection (the *_sig convention): the pieces
      // array travels as its md5 sig; WordPiece.tokenize itself keeps
      // returning the array for callers
      WordPiece.tokenize(t(s, d, "documents"), "doc_id", "text",
          WordPieceVocab)
        .select(col("doc_id"), col("n_pieces"), col("n_unk"),
          col("pieces_sig")),
      ("SELECT doc_id, n_pieces, n_unk, pieces_sig FROM " +
        s"(${wordpieceTokenizeSql(WordPieceVocab)}) t")),
    Query("text_wordpiece_ids", (s, d) =>
      // the WordPiece loop's final stage: sorted-vocab ranks; [UNK]
      // is a real vocabulary entry so there is no -1 channel — n_unk
      // counts UNK pieces instead
      WordPiece.encodeIds(t(s, d, "documents"), "doc_id", "text",
          WordPieceVocab)
        .select(col("doc_id"), col("n_pieces"), col("n_unk"),
          col("ids_sig")),
      {
        val vocab = WordPiece.vocabulary(WordPieceVocab)
        val entries = vocab.toSeq.sortBy(_._1)
          .map { case (p, i) => s"'${p.replace("'", "''")}': $i" }
          .mkString(", ")
        s"SELECT doc_id, n_pieces, n_unk, " +
          "md5(array_to_string(list_transform(ids, i -> CAST(i AS VARCHAR)), ',')) AS ids_sig " +
          s"FROM (SELECT doc_id, n_pieces, n_unk, list_transform(pieces, p -> " +
          s"(MAP {$entries})[p][1]) AS ids " +
          s"FROM (${wordpieceTokenizeSql(WordPieceVocab)}) tt) ii"
      }),
    Query("text_tokenizer_report", (s, d) => {
      // the family synthesis row: whitespace vs BPE (fit in-body, the
      // text_bpe_tokenize convention) vs unigram vs wordpiece (frozen
      // vocabs) on one corpus — pieces/word is the fertility metric a
      // tokenizer choice is judged by; chars/piece uses the shared
      // word-char total so the four flavors divide the same numerator
      val docs = t(s, d, "documents")
      // pinned 1-row frame: each of the four flavor rows broadcasts
      // it, and un-pinned each broadcast re-ran the corpus word
      // explode+agg
      val base = docs
        .select(explode(TextFns.words(col("text"))).as("w"))
        .agg(count(lit(1)).as("__nw"),
          sum(length(col("w"))).as("__nc"))
        .localCheckpoint(true)
      def row(flavor: String, perDoc: DataFrame, np: String) =
        perDoc.agg(count(lit(1)).as("n_docs"),
            sum(col(np)).as("total_pieces"))
          .crossJoin(broadcast(base))
          .select(lit(flavor).as("flavor"), col("n_docs"),
            col("total_pieces"),
            (col("total_pieces").cast("double") /
              col("__nw").cast("double")).as("pieces_per_word"),
            (col("__nc").cast("double") /
              col("total_pieces").cast("double")).as("chars_per_piece"))
      row("whitespace",
        docs.select(size(TextFns.words(col("text"))).cast("long")
          .as("np")), "np")
        .unionByName(row("bpe",
          TextAnalysis.bpeTokenize(docs, "doc_id", "text",
            TextAnalysis.fitBpeMerges(docs, "text", BpeMergeCount))
            .select(col("n_tokens")), "n_tokens"))
        .unionByName(row("unigram",
          Unigram.tokenize(docs, "doc_id", "text", UnigramPieces,
            UnigramMaxPieceLen).select(col("n_pieces")), "n_pieces"))
        .unionByName(row("wordpiece",
          WordPiece.tokenize(docs, "doc_id", "text", WordPieceVocab)
            .select(col("n_pieces")), "n_pieces"))
    },
      {
        val base = "(SELECT CAST(count(*) AS BIGINT) AS nw, " +
          "CAST(sum(length(w)) AS BIGINT) AS nc FROM " +
          s"(SELECT unnest($wordsSql) AS w FROM documents) t) b"
        def row(flavor: String, sub: String) =
          s"SELECT '$flavor' AS flavor, n_docs, total_pieces, " +
            "CAST(total_pieces AS DOUBLE) / CAST(nw AS DOUBLE) AS pieces_per_word, " +
            "CAST(nc AS DOUBLE) / CAST(total_pieces AS DOUBLE) AS chars_per_piece " +
            s"FROM ($sub) q, $base"
        row("whitespace",
          s"SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
            s"CAST(sum(len($wordsSql)) AS BIGINT) AS total_pieces FROM documents") +
          " UNION ALL " +
          row("bpe",
            "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
              "CAST(sum(n_tokens) AS BIGINT) AS total_pieces FROM " +
              s"(${bpeTokenizeSql(BpeMergeCount)}) bb") +
          " UNION ALL " +
          row("unigram",
            "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
              "CAST(sum(n_pieces) AS BIGINT) AS total_pieces FROM " +
              s"(${unigramTokenizeSql(UnigramPieces, UnigramMaxPieceLen)}) uu") +
          " UNION ALL " +
          row("wordpiece",
            "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
              "CAST(sum(n_pieces) AS BIGINT) AS total_pieces FROM " +
              s"(${wordpieceTokenizeSql(WordPieceVocab)}) ww")
      })
  )
}
