package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

/** Text-quality operators for a training-data pipeline: token counting,
  * quality scoring, language ID, fingerprinting. Pure expression trees
  * over built-ins — per-row, shuffle-free, codegen-friendly; they
  * compose with any upstream scan and push column pruning down to it.
  */
object TextAnalysis {

  /** English-ish stopwords used by the quality / language heuristics. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "in", "to", "is", "it", "for")

  /** Materialize the normalized text + words array once per row before
    * the consuming expressions — every direct reference to
    * TextFns.words(text) re-executes the regexp split (see
    * TextFns.shingles perf note). */
  private def withWords(df: DataFrame, idCol: String, textCol: String,
      extra: Column*): DataFrame =
    df.select((col(idCol) +: extra :+
      TextFns.normalize(col(textCol)).as("__norm")): _*)
      .withColumn("__w", split(col("__norm"), " "))

  /** Per-document surface statistics: char/word/token counts, average
    * word length, lexical diversity (distinct/total words).
    *
    * Ratios are emitted as RAW doubles: per-row arithmetic is
    * bit-identical across engines, whereas round(x, 4) is the fragile
    * op — Spark rounds the shortest-decimal repr HALF_UP while SQL
    * engines round the binary double, so any ratio landing on a .xxxx5
    * boundary diverges (found by the sf0.001 oracle sweep). */
  def textStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = col("__w")
    withWords(df, idCol, textCol, length(col(textCol)).as("n_chars"))
      .select(
        col(idCol),
        col("n_chars"),
        size(w).as("n_words"),
        size(TextFns.bpeishTokensOfNorm(col("__norm"))).as("n_tokens"),
        (size(array_distinct(w)).cast("double") / size(w))
          .as("lexical_diversity"),
        ((length(col("__norm")) - size(w) + 1)
          .cast("double") / size(w)).as("avg_word_len"))
  }

  /** Heuristic quality score in [0,1]:
    *   0.4 · length score (words/200 capped at 1)
    * + 0.3 · stopword score (stopword ratio ×4 capped at 1)
    * + 0.3 · lexical diversity.
    * The standard cheap pre-filter shape for corpus curation (length /
    * stopword / repetition signals).
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = col("__w")
    val nWords = size(w).cast("double")
    val stop = size(filter(w, t => t.isInCollection(Stopwords))).cast("double")
    val lenScore = least(nWords / 200.0, lit(1.0))
    val stopScore = least(stop / nWords * 4.0, lit(1.0))
    val diversity = size(array_distinct(w)).cast("double") / nWords
    // raw doubles on purpose — see textStats note on round() fragility
    withWords(df, idCol, textCol).select(
      col(idCol),
      (stop / nWords).as("stopword_ratio"),
      (lit(0.4) * lenScore + lit(0.3) * stopScore + lit(0.3) * diversity)
        .as("quality"))
  }

  /** Stopword-profile language ID: score = stopword hit ratio; 'en' when
    * above threshold, else 'unk'. (Real corpora: per-language stopword /
    * char-n-gram profiles, same plan shape — a per-row expression.)
    */
  def langId(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.05): DataFrame = {
    val w = col("__w")
    val ratio = size(filter(w, t => t.isInCollection(Stopwords)))
      .cast("double") / size(w)
    withWords(df, idCol, textCol).select(col(idCol),
      ratio.as("stopword_ratio"),
      when(ratio >= threshold, lit("en")).otherwise(lit("unk"))
        .as("lang_guess"))
  }

  /** Within-document repetition: the fraction of word n-grams that are
    * repeats of an earlier n-gram in the same document — the signal
    * that catches degenerate/boilerplate/looping text that length and
    * stopword ratios miss. Pure per-row array expressions (no
    * shuffle); the ratio is a raw double (bit-stable per-row math).
    */
  def repetitionScore(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    df.select(col(idCol), TextFns.words(col(textCol)).as("__w"))
      .select(col(idCol),
        TextFns.shinglesOfWords(col("__w"), n).as("__sh"))
      .select(col(idCol),
        size(col("__sh")).cast("long").as("n_ngrams"),
        size(array_distinct(col("__sh"))).cast("long").as("n_distinct"))
      .withColumn("repetition",
        (col("n_ngrams") - col("n_distinct")).cast("double")
          / col("n_ngrams"))

  /** Corpus-level n-gram frequency: top-k word n-grams by occurrence
    * count (not per-doc-distinct — repeats inside a document count).
    * The vocabulary-building / contamination-screening primitive. One
    * explode + one hash aggregate; orderBy+limit plans as
    * TakeOrderedAndProject (per-partition top-k, k rows shuffled). */
  def ngramFreq(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    df.select(TextFns.words(col(textCol)).as("__w"))
      .select(explode(TextFns.shinglesOfWords(col("__w"), n)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram")).limit(k)

  /** Token vocabulary of a corpus: the `size` most frequent BPE-ish
    * tokens (TextFns.bpeishTokens — the one corpus-wide token
    * definition), deterministic ties to the lexicographically lower
    * token. The tokenizer-prep primitive: fit it once, persist, and
    * score coverage with [[oovRate]] — the fit/score shape of
    * selfInfoModel. One explode + one hash aggregate; orderBy+limit
    * plans as TakeOrderedAndProject (per-partition top-k, `size` rows
    * shuffled — never a corpus-wide sort). Output:
    * (token, n_occurrences, rank), rank 1 = most frequent. */
  def vocabulary(df: DataFrame, textCol: String, size: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = df.select(
        explode(TextFns.bpeishTokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token")).limit(size)
    // the rank window runs over the ALREADY-LIMITED `size` rows (a
    // bounded single partition by construction, like rel_batch_slice's
    // post-limit ordinal) — never over the token table
    top.withColumn("rank", row_number().over(
      Window.orderBy(col("n_occurrences").desc, col("token")))
      .cast("long"))
  }

  /** Per-document out-of-vocabulary rate against a FROZEN vocabulary
    * ([[vocabulary]] output, typically read back from parquet) — the
    * tokenizer-coverage signal: a doc whose tokens the tokenizer
    * mostly cannot represent is noise to the model regardless of its
    * other quality scores. Tokens explode per row and LEFT join the
    * (size-bounded, broadcast) vocab on the token — the frozen-model
    * shape of selfInfoScore; the streaming flavor is
    * StreamOps.oovWithinWindow (the membership join is stream-static,
    * but the per-doc re-aggregation needs an event-time window so its
    * state retires — the selfInfoWithinWindow convention). Output:
    * (id, n_tokens, n_oov, oov_rate raw double — per-row division,
    * bit-stable cross-engine). */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    df.select(col(idCol),
        explode(TextFns.bpeishTokens(col(textCol))).as("__tok"))
      .join(broadcast(vocab.select(col("token").as("__vtok"),
        lit(1L).as("__in"))), col("__tok") === col("__vtok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))

  /** One learned BPE merge rule: `lhs`+`rhs` → `merged`, with the
    * adjacent-pair count that made it the argmax of its round. */
  final case class BpeMerge(rank: Long, lhs: String, rhs: String,
      merged: String, pair_count: Long)

  /** The double-space symbol-sequence encoding shared by the BPE fit
    * and apply: symbols separated by TWO spaces, the whole sequence
    * padded so every symbol is single-space-framed (`"low"` →
    * `"  l  o  w  "`). Applying merge (a,b) is then ONE literal
    * string replace of `" a  b "` with `" ab "` — and because the
    * pattern takes one space from each double-space frame and the
    * replacement restores it, a left-to-right non-overlapping
    * replace (Spark and DuckDB implement exactly that scan) IS
    * greedy leftmost BPE application, including on runs: `a a a a`
    * merges to `aa aa`, not `aa a a`. A single-space encoding
    * cannot do this — the shared boundary space is consumed by the
    * first match and the second adjacent occurrence is missed. */
  private def bpeSeq(word: Column): Column =
    concat(lit("  "), regexp_replace(word, "(?s)(.)", "$1  "))

  private def bpeApplyMerge(seq: Column, a: String, b: String): Column =
    call_function("replace", seq, lit(s" $a  $b "), lit(s" $a$b "))

  /** The local BPE fit's driver budget, in distinct words × merges:
    * 12 merges (the registered queries' fit) over 2^20 words. */
  val BpeLocalFitBudget: Long = 12L << 20

  /** Fit `numMerges` BPE merge rules over the corpus — the tokenizer-
    * prep artifact [[vocabulary]] stops short of (it ranks whole
    * tokens; a trained tokenizer is a merge SEQUENCE). Classic BPE
    * (Sennrich et al. 2016): start from characters, repeatedly take
    * the adjacent symbol pair with the highest corpus count (weighted
    * by word frequency), merge it everywhere, recount. The Lloyd-fit
    * conventions apply: bounded driver state (a `4·batch+8`-row
    * collect per round), deterministic ties (count desc, then
    * lexicographic pair — replayable in ANSI SQL), bounded
    * iterations, and frozen-model application via [[bpeTokenize]].
    *
    * `batchSize = 1` (the default, and the oracle's path) is EXACT
    * classic BPE: one rule per recount. `batchSize = M` is the scale
    * fit: each recount admits up to M rules greedily in count-desc
    * order, skipping any pair sharing a symbol with one already
    * admitted this round. Symbol-disjoint merges commute — applying
    * one cannot create, destroy, or reweight occurrences of the other
    * (no shared symbol, and the merged symbol is brand-new) — so every
    * admitted count is the count sequential BPE would have seen had it
    * picked that pair next. The one divergence from sequential: a
    * symbol CREATED by this round's earlier merges cannot enter the
    * ranking until the next recount, so a freshly merged pair that
    * would outrank the batch's tail waits one round — the standard
    * batched-trainer approximation, traded for driver round-trips
    * dropping from `numMerges` to `numMerges / M`. At a production
    * 32k-merge fit with M = 256 that is 125 jobs, not 32k (measured
    * in SCALE.md's BPE section).
    *
    * Scale: the loop runs over the DISTINCT-WORD table (vocab-
    * bounded, checkpointed once — never the corpus; 100 TB of text is
    * a few hundred million distinct words, one hash agg away), each
    * round is one explode+agg job returning ≤ `4·batch+8` rows, and
    * the merge apply is a lazy per-row replace stacked on the
    * checkpoint — re-checkpointed every 16 applied rules so the plan
    * stays constant-size at large merge counts (the CC fixpoint
    * lesson). */
  def fitBpeMerges(df: DataFrame, textCol: String,
      numMerges: Int, batchSize: Int = 1,
      localFitWords: Int = 1 << 20): Seq[BpeMerge] = {
    require(batchSize >= 1, "batchSize >= 1 required")
    val wordFreq = df
      .select(explode(TextFns.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // SMALL-VOCAB FAST PATH (guide §5 "the driver should do almost no
    // data work" — but a FIT over bounded state is the
    // budgets-map/fitSampleCap convention): the sequential argmax loop
    // below is one distributed job PER ROUND — numMerges driver
    // round-trips over a table that for most corpora is tiny (the
    // distinct-word table, vocab-bounded). When it fits the cap,
    // collect it ONCE and run the identical loop over local state:
    // 1 job total instead of numMerges+2 (measured: the 12-merge fit
    // dropped ~1.3 s per query at sf0.1 across the 7-query BPE family;
    // profile showed 30 single-task jobs for text_bpe_ids before).
    // Every local merge rescans every collected word, so the cap also
    // holds words × numMerges within [[BpeLocalFitBudget]]: a near-cap
    // vocabulary fitted with 32k merges would otherwise run ~10^10
    // string scans on the driver.
    // The limit(cap+1) probe is the size gate: if it returns ≤ cap
    // rows it returned ALL rows and the local loop is exact; above
    // the cap (a 100 TB corpus has hundreds of millions of distinct
    // words) the distributed loop below runs unchanged, paying one
    // extra vocab-bounded agg job for the probe. Parity is
    // spec-pinned (local vs distributed fit, same merges bit-for-bit)
    // and every BPE oracle replays the merge sequence anyway.
    val cap = math.min(localFitWords.toLong,
      BpeLocalFitBudget / math.max(numMerges, 1)).toInt
    val probe = wordFreq.limit(cap + 1).collect()
    if (probe.length <= cap)
      return fitBpeMergesLocal(
        probe.map(r => (r.getString(0), r.getLong(1))),
        numMerges, batchSize)
    var words = wordFreq
      .select(bpeSeq(col("w")).as("seq"), col("freq"))
      .localCheckpoint(true)
    try {
      val merges = Seq.newBuilder[BpeMerge]
      var rank = 1
      var sinceCheckpoint = 0
      var exhausted = false
      while (rank <= numMerges && !exhausted) {
        val want = math.min(batchSize, numMerges - rank + 1)
        val l = split(trim(col("seq")), "  ")
        val pairs = when(size(col("__l")) >= 2,
          transform(sequence(lit(0), size(col("__l")) - 2),
            i => struct(element_at(col("__l"), i + 1).as("a"),
              element_at(col("__l"), i + 2).as("b"))))
          .otherwise(array_repeat(
            struct(lit("").as("a"), lit("").as("b")), 0))
        val top = words.select(l.as("__l"), col("freq"))
          .select(explode(pairs).as("p"), col("freq"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(4 * want + 8)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          // greedy symbol-disjoint admission in ranking order; under-
          // filled batches (conflict-heavy candidate lists) just
          // recount sooner — progress is ≥ 1 rule per round
          val used = scala.collection.mutable.HashSet.empty[String]
          val picked = top.iterator
            .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
            .filter { case (a, b, _) =>
              !used(a) && !used(b) && { used += a; used += b; true } }
            .take(want).toVector
          for ((a, b, cnt) <- picked) {
            merges += BpeMerge(rank.toLong, a, b, a + b, cnt)
            words = words.withColumn("seq", bpeApplyMerge(col("seq"), a, b))
            rank += 1
            sinceCheckpoint += 1
            if (sinceCheckpoint >= 16) {
              val next = words.localCheckpoint(true)
              Checkpoints.releaseIntermediate(words)
              words = next
              sinceCheckpoint = 0
            }
          }
        }
      }
      merges.result()
    } finally Checkpoints.releaseIntermediate(words)
  }

  /** Spark-string ascending order = unsigned UTF-8 byte order (what
    * UTF8String compares); Java String.compareTo is UTF-16 code-unit
    * order, which DIVERGES for supplementary-plane vs [U+E000,U+FFFF]
    * symbols — the local fit must tie-break exactly like the
    * DataFrame orderBy, so compare bytes. */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length < b.length
  }

  /** The [[fitBpeMerges]] loop over a COLLECTED distinct-word table —
    * merge-for-merge identical to the distributed rounds (spec-pinned):
    * the same double-space framed encoding ([[bpeSeq]] replayed on code
    * points), the same per-round adjacent-pair recount weighted by word
    * freq, the same (count desc, a, b) order with UTF-8-byte string
    * comparison (= Spark's), the same `4·want+8` candidate window with
    * greedy symbol-disjoint batch admission, and the same leftmost
    * non-overlapping replace (Java String.replace ≡ the SQL replace).
    * Space-only trim (not String.trim, which also strips control
    * chars a pathological corpus could carry into symbols). */
  private def fitBpeMergesLocal(wordFreq: Array[(String, Long)],
      numMerges: Int, batchSize: Int): Seq[BpeMerge] = {
    var seqs: Array[(String, Long)] = wordFreq.map { case (w, f) =>
      val sb = new java.lang.StringBuilder("  ")
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        sb.appendCodePoint(cp).append("  ")
        i += Character.charCount(cp)
      }
      (sb.toString, f)
    }
    def spaceTrim(s: String): String = {
      var lo = 0
      var hi = s.length
      while (lo < hi && s.charAt(lo) == ' ') lo += 1
      while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
      s.substring(lo, hi)
    }
    val merges = Seq.newBuilder[BpeMerge]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val want = math.min(batchSize, numMerges - rank + 1)
      val counts =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((s, f) <- seqs) {
        // split on the literal two-space separator, trailing empties
        // impossible after the space trim (seq ends on a symbol)
        val syms = spaceTrim(s).split("  ", -1)
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val top = counts.toArray
          .sortWith { case (((a1, b1), c1), ((a2, b2), c2)) =>
            if (c1 != c2) c1 > c2
            else if (a1 != a2) utf8Lt(a1, a2)
            else utf8Lt(b1, b2)
          }
          .take(4 * want + 8)
        val used = scala.collection.mutable.HashSet.empty[String]
        val picked = top.iterator
          .filter { case ((a, b), _) =>
            !used(a) && !used(b) && { used += a; used += b; true } }
          .take(want).toVector
        for (((a, b), cnt) <- picked) {
          merges += BpeMerge(rank.toLong, a, b, a + b, cnt)
          val pat = s" $a  $b "
          val rep = s" $a$b "
          seqs = seqs.map { case (s, f) => (s.replace(pat, rep), f) }
          rank += 1
        }
      }
    }
    merges.result()
  }

  /** Tokenize with a FROZEN merge sequence ([[fitBpeMerges]] output,
    * typically read back from its persisted artifact table) — the
    * frozen-model shape of oovRate/scoreAgainstModel. The whole
    * normalized text is symbol-encoded at once (word boundaries
    * become ≥5 spaces, which no ` a  b ` pattern can cross, so merges
    * stay word-local by construction), the merges apply in rank order
    * as a chain of literal replaces — one codegen'd per-row
    * expression tree, no shuffle, no UDF — and tokens are the
    * `≥2-space`-separated fragments. Output: (id, tokens, n_tokens,
    * tokens_sig md5-of-joined — tokens never contain spaces, so the
    * single-space join is unambiguous). */
  def bpeTokenize(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge]): DataFrame = {
    val base = bpeSeq(TextFns.normalize(col(textCol)))
    val seq = merges.foldLeft(base)((c, m) => bpeApplyMerge(c, m.lhs, m.rhs))
    df.select(col(idCol), split(trim(seq), " {2,}").as("tokens"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
      .withColumn("tokens_sig", md5(array_join(col("tokens"), " ")))
  }

  /** Scale flavor of [[bpeTokenize]] — identical token output, per-row
    * cost INDEPENDENT of merge count. The literal-replace chain builds
    * one expression node per merge rule: free at the oracle's 12
    * merges, but at a production tokenizer's 32k–100k rules the
    * analysis/codegen cost of the giant literal tree dominates
    * execution (the SCALE.md giant-expression micro-finding). This
    * flavor broadcasts the merge table once and tokenizes in a typed
    * mapPartitions (the heavyHittersSketch imperative-state
    * convention): per word, repeatedly find the LOWEST-rank rule
    * beyond the last applied one whose pair occurs in the current
    * symbol sequence, and apply it in one leftmost-greedy
    * non-overlapping pass. That is EXACTLY the literal chain's
    * semantics — rules fire in rank order, a rule whose pair is absent
    * at its turn is a no-op, and a rule already past its turn never
    * re-fires on pairs an intervening merge re-creates — at
    * O(word_len) hash lookups per fired merge instead of O(numMerges)
    * expression nodes per row. Null text → null row tail, empty text →
    * the single empty token, both matching the literal chain's
    * null/trim algebra (spec-pinned token-for-token;
    * text_bpe_tokenize_fast shares text_bpe_tokenize's unrolled-CTE
    * oracle). */
  def bpeTokenizeFast(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge]): DataFrame = {
    // the flavor-equality proof fires rules by RANK VALUE while the
    // literal chain folds the Seq in order — they coincide only when
    // ranks are strictly positive and strictly increasing in sequence
    // order (what fitBpeMerges emits); anything else would silently
    // diverge between the flavors, so reject it here
    require(merges.forall(_.rank > 0L) &&
      merges.iterator.map(_.rank).sliding(2)
        .forall(w => w.length < 2 || w.head < w(1)),
      "merge ranks must be strictly positive and strictly increasing " +
        "in sequence order (fitBpeMerges output order)")
    val spark = df.sparkSession
    // pair -> ascending ranks (a pair CAN recur at a later rank when an
    // intervening merge re-creates the adjacency) + rank -> pair for
    // the apply pass
    val byPair: Map[(String, String), Array[Long]] = merges
      .groupBy(m => (m.lhs, m.rhs))
      .map { case (p, ms) => p -> ms.map(_.rank).sorted.toArray }
    val byRank: Map[Long, (String, String)] =
      merges.map(m => m.rank -> ((m.lhs, m.rhs))).toMap
    val bcPair = spark.sparkContext.broadcast(byPair)
    val bcRank = spark.sparkContext.broadcast(byRank)
    val outSchema = StructType(Seq(
      df.schema(idCol).copy(name = idCol),
      StructField("tokens", ArrayType(StringType, containsNull = true)),
      StructField("n_tokens", LongType),
      StructField("tokens_sig", StringType)))
    df.select(col(idCol), TextFns.normalize(col(textCol)).as("__norm"))
      .mapPartitions { rows =>
        val pairRanks = bcPair.value
        val rankRule = bcRank.value
        // one digest per PARTITION (digest() resets it per row) — a
        // per-row getInstance would put a JCA provider lookup on the
        // hot path this flavor exists to keep minimal
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          if (r.isNullAt(1)) Row(r.get(0), null, null, null)
          else {
            val norm = r.getString(1)
            val tokens: Seq[String] =
              if (norm.isEmpty) Seq("")
              else norm.split(" ", -1).toIndexedSeq
                .flatMap(w => mergeWord(w, pairRanks, rankRule))
            val joined = tokens.mkString(" ")
            val sig = md
              .digest(joined.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              .map(b => f"$b%02x").mkString
            Row(r.get(0), tokens, tokens.length.toLong, sig)
          }
        }
      }(Encoders.row(outSchema))
  }

  /** Deterministic id vocabulary for a fitted merge sequence — the
    * artifact that turns tokens into the TOKEN IDS a training pipeline
    * actually ships: base symbols are the fit corpus's distinct
    * non-space code points sorted ascending (ids 0..B−1), then merged
    * symbols in rank order (ids B..B+n−1). The alphabet is bounded, so
    * the chars collect to the driver (the budgets-map convention) and
    * the table materializes literally — no global-rank window anywhere
    * in a plan. A pathological duplicate merged STRING (pair
    * recurrence re-deriving the same symbol) keeps its lowest id so
    * the encode join is unambiguous. Output: (sym, id). */
  def bpeVocabulary(df: DataFrame, textCol: String,
      merges: Seq[BpeMerge]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // sort by CODE POINT, not Scala's default UTF-16 code-unit string
    // order: surrogate pairs would sort before [U+E000, U+FFFF] chars
    // under code units while the SQL oracle's binary UTF-8 collation
    // sorts them after — code-point order equals UTF-8 byte order, so
    // both engines derive identical ids on any alphabet
    val chars = df.select(explode(array_distinct(
        regexp_extract_all(TextFns.normalize(col(textCol)),
          lit("(?s)."), lit(0)))).as("sym"))
      .filter(col("sym") =!= " ").distinct()
      .as[String].collect().sortBy(s => s.codePointAt(0))
    val rows = (chars.zipWithIndex.map { case (c, i) => (c, i.toLong) } ++
      merges.sortBy(_.rank).zipWithIndex.map { case (m, j) =>
        (m.merged, (chars.length + j).toLong) })
      .groupBy(_._1).map { case (s, ids) => (s, ids.map(_._2).min) }
    spark.createDataFrame(rows.toSeq).toDF("sym", "id")
  }

  /** Encode documents to TOKEN IDS against frozen merge + vocabulary
    * artifacts — the final stage of the tokenizer production loop
    * (fit → tokenize → encode; packs ship ids, not strings). Rides
    * [[bpeTokenizeFast]]'s tokens through a second mapPartitions with
    * the vocabulary broadcast as a plain map (vocab-bounded — chars +
    * merges — so the collect is tiny and the encode is shuffle-free
    * and merge-count-independent like the tokenizer itself). A token
    * absent from the vocabulary (an arrival introducing new code
    * points) encodes as `oovId`, counted in the in-plan `n_oov`
    * witness (the oovRate convention). Output: (id, token_ids,
    * n_tokens, n_oov, ids_sig = md5 of the space-joined ids). */
  def bpeEncodeIds(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge], vocab: DataFrame,
      oovId: Long = -1L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vmap = vocab.select(col("sym"), col("id").cast("long"))
      .as[(String, Long)].collect().toMap
    val bc = spark.sparkContext.broadcast(vmap)
    val outSchema = StructType(Seq(
      df.schema(idCol).copy(name = idCol),
      StructField("token_ids", ArrayType(LongType, containsNull = true)),
      StructField("n_tokens", LongType),
      StructField("n_oov", LongType),
      StructField("ids_sig", StringType)))
    bpeTokenizeFast(df, idCol, textCol, merges)
      .select(col(idCol), col("tokens"))
      .mapPartitions { rows =>
        val v = bc.value
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          if (r.isNullAt(1)) Row(r.get(0), null, null, null, null)
          else {
            val toks = r.getSeq[String](1)
            val ids = toks.map(t => v.getOrElse(t, oovId))
            val nOov = toks.count(t => !v.contains(t)).toLong
            val sig = md
              .digest(ids.mkString(" ")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              .map(b => f"$b%02x").mkString
            Row(r.get(0), ids, toks.length.toLong, nOov, sig)
          }
        }
      }(Encoders.row(outSchema))
  }

  /** BYTE-FALLBACK flavor of [[bpeEncodeIds]] — the GPT-2 closure:
    * production byte-level BPE has NO out-of-vocabulary outcome, so a
    * token absent from the vocabulary encodes as its UTF-8 bytes via
    * 256 RESERVED single-byte ids. Id space: bytes own [0, 255]
    * verbatim (byte value = id), every vocabulary id shifts up by 256
    * — disjoint by construction, and an arrival introducing code
    * points the fit never saw (new scripts, digits, emoji) still
    * round-trips losslessly. Same broadcast-map mapPartitions shape
    * as [[bpeEncodeIds]] (shuffle-free, merge-count-independent).
    *
    * Witnesses: `n_oov` is tokens that produced NO ids — impossible
    * by construction (every non-empty token has UTF-8 bytes; the
    * tokenizer never emits empty symbols), computed not asserted, so
    * the oracle row proves the ≡0; `n_fallback` counts tokens that
    * took the byte path — NONZERO on a corpus with unfit code points,
    * the anti-vacuity witness that the fallback actually engaged.
    * Output: (id, token_ids, n_tokens, n_ids, n_oov, n_fallback,
    * ids_sig = md5 of the space-joined ids). */
  def bpeEncodeIdsBytes(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge], vocab: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vmap = vocab.select(col("sym"), col("id").cast("long"))
      .as[(String, Long)].collect().toMap
    val bc = spark.sparkContext.broadcast(vmap)
    val outSchema = StructType(Seq(
      df.schema(idCol).copy(name = idCol),
      StructField("token_ids", ArrayType(LongType, containsNull = true)),
      StructField("n_tokens", LongType),
      StructField("n_ids", LongType),
      StructField("n_oov", LongType),
      StructField("n_fallback", LongType),
      StructField("ids_sig", StringType)))
    bpeTokenizeFast(df, idCol, textCol, merges)
      .select(col(idCol), col("tokens"))
      .mapPartitions { rows =>
        val v = bc.value
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          if (r.isNullAt(1)) Row(r.get(0), null, null, null, null, null, null)
          else {
            val toks = r.getSeq[String](1)
            val ids = toks.flatMap { t =>
              v.get(t) match {
                case Some(id) => Seq(id + 256L)
                case None => t.getBytes(
                    java.nio.charset.StandardCharsets.UTF_8)
                  .toSeq.map(b => (b & 0xff).toLong)
              }
            }
            val nFallback = toks.count(t => !v.contains(t)).toLong
            val nOov = toks.count(t =>
              !v.contains(t) && t.isEmpty).toLong
            val sig = md
              .digest(ids.mkString(" ")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              .map(b => f"$b%02x").mkString
            Row(r.get(0), ids, toks.length.toLong, ids.length.toLong,
              nOov, nFallback, sig)
          }
        }
      }(Encoders.row(outSchema))
  }

  /** The fitted merge sequence as its persistable artifact table —
    * the Similarity.artifactsToDf convention for the tokenizer: write
    * this once after [[fitBpeMerges]], read it back with
    * [[bpeMergesFromDf]] wherever arrivals tokenize. Columns are the
    * [[BpeMerge]] fields verbatim (rank is the apply order). */
  def bpeMergesToDf(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[BpeMerge]): DataFrame =
    spark.createDataFrame(merges)

  /** Rehydrate a [[bpeMergesToDf]] table (e.g. off parquet) into the
    * rank-ordered merge sequence both apply flavors take. */
  def bpeMergesFromDf(df: DataFrame): Seq[BpeMerge] =
    df.select(col("rank"), col("lhs"), col("rhs"), col("merged"),
        col("pair_count"))
      .collect()
      .map(r => BpeMerge(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .sortBy(_.rank).toSeq

  /** One word through the frozen merge sequence, replicating the
    * literal-replace chain exactly: rules in rank order, one
    * leftmost-greedy non-overlapping pass per fired rule (after a
    * merge the scan resumes AFTER the merged symbol, so runs pair up:
    * a a a a → aa aa, never aa a a). Symbols are code points, matching
    * the fit/apply regex "(?s)(.)" (DOTALL: a bare "." would skip the
    * line terminators U+0085, U+2028 and U+2029). */
  private def mergeWord(w: String,
      pairRanks: Map[(String, String), Array[Long]],
      rankRule: Map[Long, (String, String)]): Seq[String] = {
    val syms = scala.collection.mutable.ArrayBuffer.empty[String]
    var ci = 0
    while (ci < w.length) {
      val n = Character.charCount(w.codePointAt(ci))
      syms += w.substring(ci, ci + n)
      ci += n
    }
    var lastRank = 0L
    var done = syms.length < 2
    while (!done) {
      // lowest rank past lastRank whose pair is present RIGHT NOW —
      // between merges the sequence is static, so every skipped rank
      // was genuinely a no-op at its sequential turn
      var best = Long.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        pairRanks.get((syms(i), syms(i + 1))) match {
          case Some(rs) =>
            var j = 0
            while (j < rs.length && rs(j) <= lastRank) j += 1
            if (j < rs.length && rs(j) < best) best = rs(j)
          case None => ()
        }
        i += 1
      }
      if (best == Long.MaxValue) done = true
      else {
        val (a, b) = rankRule(best)
        var k = 0
        while (k < syms.length - 1) {
          if (syms(k) == a && syms(k + 1) == b) {
            syms(k) = a + b
            syms.remove(k + 1)
          }
          k += 1
        }
        lastRank = best
        if (syms.length < 2) done = true
      }
    }
    syms.toSeq
  }

  /** BM25 relevance of every document against a fixed term set — the
    * retrieval scorer a curation pipeline uses to mine topical subsets
    * ("find docs about X") or to weight near-query documents during
    * decontamination triage. Corpus statistics (N, Σdl, per-term df)
    * collapse to ONE broadcast row (the scalar-subquery shape —
    * rel_scalar_subquery); per-document scoring is then a pure
    * expression tree over the words array: no shuffle of the corpus,
    * no UDF, term count fixed at plan time.
    *
    * Determinism: tf/df/N are exact integers, Σdl an exact integer sum
    * in doubles (order-independent), and the per-row float math is a
    * fixed-shape expression mirrored verbatim by the DuckDB oracle —
    * log() may differ by an ulp across libm implementations, so the
    * score rounds at the output edge (irrational values never sit on
    * rounding-tie boundaries, unlike grid-valued ratios).
    */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = df.select(col(idCol), TextFns.words(col(textCol)).as("__w"))
      .withColumn("__dl", size(col("__w")).cast("double"))
    val statCols =
      count(lit(1)).cast("double").as("__N") +:
        sum(col("__dl")).as("__sumdl") +:
        terms.zipWithIndex.map { case (t, i) =>
          count_if(array_contains(col("__w"), t)).cast("double").as(s"__df_$i")
        }
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("__w"), w => w === lit(t))).cast("double")
      val dfT = col(s"__df_$i")
      val idf = log((col("__N") - dfT + 0.5) / (dfT + 0.5) + 1.0)
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("__dl") / (col("__sumdl") / col("__N"))))
    }.reduce(_ + _)
    base.join(broadcast(stats))
      .select(col(idCol), round(score, 4).as("bm25"))
  }

  /** Hashing-trick (feature-hashing) vectorizer: each token maps to a
    * bucket in [0, dims) via the md5-head hash and contributes a
    * Weinberger-style ±1 signed count (the sign hash cancels collision
    * bias in expectation), yielding a fixed-width sparse vector per
    * document with NO vocabulary fit, no dictionary to broadcast, and
    * no OOV path — the classic scale move when the vocabulary is
    * unbounded (URLs, code identifiers, typo soup). Feeds the same
    * model surface as the NB classifier's word features, but its width
    * is a constant chosen up front, whatever the corpus.
    *
    * Scale shape: explode + ONE (doc, bucket) hash aggregate — tokens
    * never leave their rows unaggregated past the map-side partial;
    * output is ≤ dims rows per doc. Determinism: md5-derived bucket
    * and sign (exact in any BIGINT engine), integer weights.
    *
    * Output: (id, bucket, weight) — zero-weight cells (full ± sign
    * cancellation) are kept: downstream dot products treat the row as
    * an explicit zero, and dropping them would make the sparsity
    * pattern depend on collision luck. */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      dims: Int): DataFrame = {
    require(dims >= 2, s"featureHash: dims must be >= 2, got $dims")
    df.select(col(idCol), explode(TextFns.words(col(textCol))).as("__t"))
      .select(col(idCol),
        (TextFns.shingleHash(col("__t")) % dims).as("bucket"),
        when(conv(substring(md5(col("__t")), 8, 1), 16, 10)
          .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L)).as("__s"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("__s")).as("weight"))
  }

  /** Source-pair vocabulary overlap — the redundancy matrix of a
    * multi-source corpus: the Jaccard of each source pair's DISTINCT
    * word vocabularies. A curation recipe reads it before setting
    * mixture weights (two near-identical crawls shouldn't both get
    * full weight) and before decontamination triage (high-overlap
    * pairs are where cross-source dups hide). Vocabulary, not token,
    * overlap: size-invariant, so a 100× bigger source doesn't read as
    * "similar to everything".
    *
    * Scale shape: one distinct (source, word) aggregate (map-side
    * partials collapse repeats), one word-keyed self-join bounded by
    * vocabulary × source count, one sources²-sized output with a
    * zero-overlap spine (disjoint pairs report 0, not nothing).
    * Exact integer counts, one IEEE division.
    *
    * Output: (source_a, source_b, n_a, n_b, n_common, jaccard) for
    * every unordered pair, source_a < source_b. */
  def sourceOverlap(df: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    val vocab = df.select(col(sourceCol).as("__src"),
        explode(TextFns.words(col(textCol))).as("__w"))
      .distinct()
    val sizes = vocab.groupBy(col("__src")).agg(count(lit(1)).as("n"))
    val inter = vocab.select(col("__src").as("source_a"), col("__w"))
      .join(vocab.select(col("__src").as("source_b"), col("__w")), "__w")
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    sizes.select(col("__src").as("source_a"), col("n").as("n_a"))
      .join(sizes.select(col("__src").as("source_b"), col("n").as("n_b")))
      .where(col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (coalesce(col("n_common"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") -
            coalesce(col("n_common"), lit(0L))).cast("double"))
          .as("jaccard"))
  }

  /** Content fingerprints: normalized md5 plus a coarse 16-char prefix
    * "rolling" bucket (first 64 bits) usable as a shard key. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      TextFns.fingerprint(col(textCol)).as("fingerprint"),
      substring(TextFns.fingerprint(col(textCol)), 1, 16).as("bucket64"))

  /** PII mask patterns applied IN ORDER: (name, regex, replacement).
    * Patterns deliberately use only character classes, exact-count
    * quantifiers and `\b` — constructs on which Java's leftmost-first
    * and RE2's leftmost-longest matching coincide, so the redaction is
    * bit-identical across engines (no ambiguous alternation). Order
    * matters where patterns could nest (an email's local part contains
    * digits): each pattern counts and masks the PREVIOUS stage's
    * output, never the raw text. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b", "<PHONE>"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"))

  /** PII redaction + quarantine signal: masks each pattern in
    * `patterns` sequentially and emits per-pattern hit counts plus the
    * total — the curation step between quality gating and packing
    * (mask what's redactable, quarantine rows where `n_pii` exceeds a
    * policy threshold). Pure per-row regexp expressions: shuffle-free,
    * embarrassingly parallel, and idempotent (mask tokens contain no
    * pattern-matchable characters, so redact∘redact = redact —
    * spec-pinned). Counts are taken on the stage input (before that
    * stage's mask), so a phone inside an already-masked email is never
    * double-counted. Output: (id, clean_text, n_<pattern>…, n_pii). */
  def redactPii(df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[(String, String, String)] = PiiPatterns): DataFrame = {
    val staged = patterns.zipWithIndex.foldLeft(
      df.select(col(idCol), col(textCol).as("__t0"))) {
      case (d, ((name, pat, repl), i)) =>
        d.withColumn(s"n_$name",
            regexp_count(col(s"__t$i"), lit(pat)).cast("long"))
          .withColumn(s"__t${i + 1}", regexp_replace(col(s"__t$i"), pat, repl))
    }
    val countCols = patterns.map { case (n, _, _) => col(s"n_$n") }
    staged.select(
      (col(idCol) +:
        col(s"__t${patterns.size}").as("clean_text") +:
        countCols :+
        countCols.reduce(_ + _).as("n_pii")): _*)
  }

  /** Unigram self-information quality score — the CCNet-shape
    * statistical filter one step up from heuristic ratios: a document's
    * score is the mean surprisal −ln(n_tok/N) of its tokens under the
    * corpus's own unigram model (token frequencies n_tok over total
    * count N). Low = built from common tokens (boilerplate, templates);
    * high = rare-token soup (garbled text, lists of ids). Two corpus
    * aggregates build the model: a vocab-bounded frequency table and a
    * one-row total (broadcast); scoring is then one join on the token —
    * vocabulary-bounded, never doc×doc.
    * THE SCALE DEFAULT: algebraic avg over each doc's token surprisals
    * — (sum, count) state per doc at any length. Scores are
    * round(·, 4): the ln() ulp may differ across engines (the bm25
    * convention). Output: (id, n_tokens, self_info).
    */
  def selfInfoScore(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    selfInfoAgg(df, idCol, textCol,
      (info, _) => avg(info))

  /** Oracle-portable flavor of [[selfInfoScore]]: the doc mean from an
    * ORDER-DETERMINISTIC fold over the sorted surprisal list
    * (bit-reproducible across engines/partitionings — the zscore/
    * centroids convention), at the cost of per-doc state holding the
    * token surprisals. Spec proves 1e-9 agreement with the default. */
  def selfInfoScorePortable(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    selfInfoAgg(df, idCol, textCol, (info, n) =>
      aggregate(sort_array(collect_list(info)), lit(0.0), _ + _) / n)

  /** Trigram position rows — (keep..., __v, __u, __w): like
    * [[ngramRows]] at n = 3 but with the two context tokens SEPARATE
    * (the KN recursion backs off through (v,u) → u → ∅ and needs u
    * alone for the mid-order joins). Docs under 3 tokens emit
    * nothing. */
  private def triRows(df: DataFrame, textCol: String,
      keep: Column*): DataFrame = {
    val ts = col("__ts")
    val tri = when(size(ts) >= 3,
      transform(sequence(lit(1), size(ts) - 2),
        i => struct(element_at(ts, i).as("v"),
          element_at(ts, i + 1).as("u"),
          element_at(ts, i + 2).as("w"))))
    df.select((keep :+ TextFns.bpeishTokens(col(textCol)).as("__ts")): _*)
      .select((keep :+ explode(tri).as("__t")): _*)
      .select((keep :+ col("__t.v").as("__v") :+ col("__t.u").as("__u")
        :+ col("__t.w").as("__w")): _*)
  }

  /** The persistable INTERPOLATED KNESER-NEY TRIGRAM bundle — the
    * full production form of [[kneserNeyModel]]: the top order uses
    * raw trigram counts; every LOWER order uses CONTINUATION counts
    * (how many distinct contexts an event completes, not how often it
    * occurs — Chen & Goodman 1998 eq. 4.24's interpolated KN):
    *
    *   Pc(w)      = N1+(·w) / N1+(··)                (over bigram types)
    *   P2(w|u)    = (max(N1+(·uw) − D, 0) + D·N1+(u·cont)·Pc(w)) / N1+(·u·)
    *   P3(w|v,u)  = (max(c3(vuw) − D, 0) + D·N1+(vu·)·P2(w|u)) / c3(vu·)
    *
    * One `__part`-tagged bundle, all exact integer counts
    * (fully SQL-replayable), rows bounded by trigram TYPES:
    * "t3" (v,u,w, c3); "c3" (v,u, c3tot, N1+(vu·)); "n2" (u,w,
    * N1+(·uw)); "u2" (u, N1+(·u·), N1+(u·) over continuation types);
    * "c1" (w, N1+(·w)); "tt" (N1+(··)). */
  def kneserNeyTrigramModel(df: DataFrame, textCol: String): DataFrame = {
    // pin the tokenizing subtrees AND the bundle (all type-bounded —
    // the fit is a persistable artifact): t3types feeds 4 bundle
    // parts, bgTypes 2, and the scorer filters the bundle once per
    // part — un-pinned, each reference re-tokenized the corpus (r18
    // final-plan audit: 14 corpus scans in text_self_info_kn3)
    // the two tokenizing pins are independent corpus passes —
    // materialize concurrently (guide §2.6, r19)
    val Seq(t3types, bgTypes) = Checkpoints.parEager(
      () => triRows(df, textCol)
        .groupBy(col("__v"), col("__u"), col("__w"))
        .agg(count(lit(1)).as("__c3"))
        .localCheckpoint(true),
      () => bigramRows(df, textCol)
        .select(col("__prev").as("__u"), col("__tok2").as("__w"))
        .distinct()
        .localCheckpoint(true))
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    def part(name: String, d: DataFrame, v: Column, u: Column,
        w: Column, c1: Column, c2: Column) =
      d.select(lit(name).as("__part"), v.as("__kv"), u.as("__ku"),
        w.as("__kw"), c1.as("__c1"), c2.as("__c2"))
    part("t3", t3types, col("__v"), col("__u"), col("__w"),
        col("__c3"), nullL)
      .unionByName(part("c3",
        t3types.groupBy(col("__v"), col("__u"))
          .agg(sum(col("__c3")).as("a"), count(lit(1)).as("b")),
        col("__v"), col("__u"), nullS, col("a"), col("b")))
      .unionByName(part("n2",
        t3types.groupBy(col("__u"), col("__w"))
          .agg(count(lit(1)).as("a")),
        nullS, col("__u"), col("__w"), col("a"), nullL))
      .unionByName(part("u2",
        t3types.groupBy(col("__u"), col("__w")).agg(count(lit(1)).as("x"))
          .groupBy(col("__u"))
          .agg(sum(col("x")).as("a"), count(lit(1)).as("b")),
        nullS, col("__u"), nullS, col("a"), col("b")))
      .unionByName(part("c1",
        bgTypes.groupBy(col("__w")).agg(count(lit(1)).as("a")),
        nullS, nullS, col("__w"), col("a"), nullL))
      .unionByName(part("tt", bgTypes.agg(count(lit(1)).as("a")),
        nullS, nullS, nullS, col("a"), nullL))
      .localCheckpoint(true)
  }

  /** Score documents against a FROZEN [[kneserNeyTrigramModel]] —
    * the bigram scorer's contract one order up: positions whose TOKEN
    * lacks a continuation entry are skipped (OOV convention); an
    * unseen (v,u) context falls to P2, an unseen u to Pc — every
    * probability strictly positive, no seen-context drop. Output:
    * (id, n_ngrams, n_ctx3_unseen, n_ctx2_unseen, self_info_kn3). */
  def scoreAgainstKn3Model(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String,
      d: Double = KnDiscount): DataFrame =
    kn3Agg(df, model, idCol, textCol, d, (i, _) => avg(i))

  /** Oracle-portable flavor (ordered fold). */
  def scoreAgainstKn3ModelPortable(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String,
      d: Double = KnDiscount): DataFrame =
    kn3Agg(df, model, idCol, textCol, d,
      (i, cnt) => aggregate(sort_array(collect_list(i)), lit(0.0), _ + _) / cnt)

  /** Fit-on-self anchor: no position ever leaves the top order. */
  def selfInfoKneserNey3(df: DataFrame, idCol: String, textCol: String,
      d: Double = KnDiscount): DataFrame =
    scoreAgainstKn3Model(df, kneserNeyTrigramModel(df, textCol),
      idCol, textCol, d)

  private def kn3Agg(df: DataFrame, model: DataFrame, idCol: String,
      textCol: String, d: Double,
      mean: (Column, Column) => Column): DataFrame = {
    require(d > 0 && d < 1, s"Kneser-Ney discount in (0,1), got $d")
    val rows = triRows(df, textCol, col(idCol))
    def p(n: String) = model.filter(col("__part") === n)
    val t3 = p("t3").select(col("__kv").as("__tv"), col("__ku").as("__tu"),
      col("__kw").as("__tw"), col("__c1").as("__c3w"))
    val c3 = p("c3").select(col("__kv").as("__cv"), col("__ku").as("__cu"),
      col("__c1").as("__c3tot"), col("__c2").as("__n13"))
    val n2 = p("n2").select(col("__ku").as("__nu"), col("__kw").as("__nw"),
      col("__c1").as("__n1cuw"))
    val u2 = p("u2").select(col("__ku").as("__uu"),
      col("__c1").as("__n1cuSum"), col("__c2").as("__n1uD"))
    val c1 = p("c1").select(col("__kw").as("__ow"), col("__c1").as("__n1w"))
    val tt = p("tt").select(col("__c1").as("__n1tot"))
    val pc = col("__n1w").cast("double") / col("__n1tot").cast("double")
    val p2 = when(col("__n1cuSum").isNull, pc)
      .otherwise((greatest(
        coalesce(col("__n1cuw"), lit(0L)).cast("double") - lit(d),
        lit(0.0)) +
        (lit(d) * col("__n1uD").cast("double")) * pc) /
        col("__n1cuSum").cast("double"))
    rows
      .join(c1, col("__w") === col("__ow"))
      .crossJoin(broadcast(tt))
      .join(u2, col("__u") === col("__uu"), "left")
      .join(n2, col("__u") === col("__nu") &&
        col("__w") === col("__nw"), "left")
      .join(c3, col("__v") === col("__cv") &&
        col("__u") === col("__cu"), "left")
      .join(t3, col("__v") === col("__tv") &&
        col("__u") === col("__tu") && col("__w") === col("__tw"), "left")
      .withColumn("__p2", p2)
      .withColumn("__p3", when(col("__c3tot").isNull, col("__p2"))
        .otherwise((greatest(
          coalesce(col("__c3w"), lit(0L)).cast("double") - lit(d),
          lit(0.0)) +
          (lit(d) * col("__n13").cast("double")) * col("__p2")) /
          col("__c3tot").cast("double")))
      .withColumn("__info", -log(col("__p3")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("__c3tot").isNull, 1L).otherwise(0L))
          .as("n_ctx3_unseen"),
        sum(when(col("__n1cuSum").isNull, 1L).otherwise(0L))
          .as("n_ctx2_unseen"),
        round(mean(col("__info"), count(lit(1))), 4).as("self_info_kn3"))
  }

  /** CCNet-style perplexity buckets (Wenzek et al. 2020): split a
    * SCORED corpus into head / middle / tail by per-group terciles of
    * the score — the published language-model-filtering recipe (CCNet
    * buckets per LANGUAGE on KenLM perplexity; any of this engine's
    * LM scores — [[selfInfoScore]], [[selfInfoNgram]],
    * [[scoreAgainstKnModel]] — slots in as the score column, lower =
    * more predictable = head). Head+middle is the conventional keep.
    *
    * Determinism: cut points are EXACT per-group percentiles of the
    * (already 4-rounded, hash-equal) score, themselves rounded at 4
    * (the madOutliers convention); the tercile fractions are the
    * 4-decimal literals 0.3333/0.6667 — short enough that both
    * engines' decimal→double conversion is the same nearest double
    * (the >16-digit literal hazard avoided), with negligible
    * distance from the exact thirds. Bucket compare is then a
    * comparison of bit-identical doubles.
    *
    * Scale shape: one grouped exact-percentile aggregate (per-group
    * sort state — swap in approx_percentile upstream if group counts
    * explode; groups here are languages) + one group-count-bounded
    * broadcast join back. Output: input columns + (t1, t2, bucket).
    *
    * NULL scores: the cut computation excludes them (a NULL cannot
    * rank), and a NULL-scored ROW lands in `tail` — explicitly, below
    * — the conservative call for a filtering recipe (an unscoreable
    * doc is never promoted into the keep buckets). A group whose
    * scores are ALL NULL has no cut row and its rows drop entirely
    * via the inner join: no terciles exist for it, and emitting
    * unranked rows as `tail` would fabricate a ranking. */
  def pplBuckets(scored: DataFrame, groupCol: String,
      scoreCol: String): DataFrame = {
    // pinned: consumed by BOTH the percentile aggregate and the join
    // back — un-pinned, a computed `scored` subtree (fit-on-self LM
    // scoring is several corpus scans) re-ran per reference (r18
    // final-plan audit: text_ppl_buckets carried 16 document scans).
    // Materialization is bounded by the scored frame itself.
    val pinned = scored.localCheckpoint(true)
    val cuts = pinned.where(col(scoreCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(round(expr(s"percentile($scoreCol, 0.3333)"), 4).as("t1"),
        round(expr(s"percentile($scoreCol, 0.6667)"), 4).as("t2"))
    pinned.join(broadcast(cuts), groupCol)
      .withColumn("bucket",
        when(col(scoreCol).isNull, "tail") // explicit, not via NULL<=t fallthrough
          .when(col(scoreCol) <= col("t1"), "head")
          .when(col(scoreCol) <= col("t2"), "middle")
          .otherwise("tail"))
  }

  /** The frozen unigram model of a corpus: one (token, surprisal) row
    * per vocabulary entry — surprisal = ln(N) − ln(n_tok). This is the
    * PERSISTABLE artifact of the self-information pipeline: fit once on
    * the reference corpus, score any batch ([[scoreAgainstModel]]) or
    * stream (StreamOps.selfInfoWithinWindow) against it without
    * re-reading the corpus. Vocabulary-bounded (orders of magnitude
    * below corpus rows). Columns are deliberately internal-named
    * (__ftok, __info) so scoring joins never collide with user data. */
  def selfInfoModel(df: DataFrame, textCol: String): DataFrame = {
    val freq = df
      .select(explode(TextFns.bpeishTokens(col(textCol))).as("__ftok"))
      .groupBy(col("__ftok")).agg(count(lit(1)).as("__n"))
    val total = freq.agg(sum(col("__n")).as("__total_n"))
    freq.crossJoin(broadcast(total))
      .select(col("__ftok"),
        (log(col("__total_n").cast("double")) -
          log(col("__n").cast("double"))).as("__info"))
  }

  /** Score documents against a FROZEN [[selfInfoModel]] — the arrival
    * path: the production model stays fixed while new batches are
    * scored (algebraic mean; out-of-vocabulary tokens are skipped by
    * the inner join — they have no model probability). Same output as
    * [[selfInfoScore]]; that operator is this one with the model fit
    * on the scored corpus itself. */
  def scoreAgainstModel(df: DataFrame, model: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        explode(TextFns.bpeishTokens(col(textCol))).as("__tok"))
      .join(model, col("__tok") === col("__ftok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("__info")), 4).as("self_info"))

  /** Shared body of the self-information flavors: `mean` builds the
    * per-doc average from (surprisal column, token count column). */
  private def selfInfoAgg(df: DataFrame, idCol: String, textCol: String,
      mean: (Column, Column) => Column): DataFrame =
    df.select(col(idCol),
        explode(TextFns.bpeishTokens(col(textCol))).as("__tok"))
      .join(selfInfoModel(df, textCol), col("__tok") === col("__ftok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(mean(col("__info"), count(lit(1))), 4).as("self_info"))

  /** (keep..., __prev, __tok2) rows — one per (context, next-token)
    * position of each document, context = the space-joined n−1
    * preceding tokens (docs under n tokens emit nothing: the guarded
    * `when` yields null and explode drops it). The token array is
    * materialized in its own projection before the window transform
    * (HOF lambda rule); everything is per-row expressions + ONE
    * generator — which is why it runs on BATCH and STREAMING frames
    * alike (StreamOps.selfInfoBigramWithinWindow). */
  private[graft] def ngramRows(df: DataFrame, textCol: String, n: Int,
      keep: Column*): DataFrame = {
    require(n >= 2, "n >= 2 (unigram scoring is selfInfoScore)")
    val ts = col("__ts")
    val nCtx = n - 1
    // n = 2's context IS the single preceding token — skip the
    // 1-element slice + array_join the general form would pay per
    // position (identical output string, measurably cheaper on the
    // hot bigram path)
    def ctx(i: Column): Column =
      if (nCtx == 1) element_at(ts, i)
      else array_join(slice(ts, i, lit(nCtx)), " ")
    val pairs = when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - nCtx),
        i => struct(ctx(i).as("p"), element_at(ts, i + nCtx).as("t"))))
    df.select((keep :+ TextFns.bpeishTokens(col(textCol)).as("__ts")): _*)
      .select((keep :+ explode(pairs).as("__bg")): _*)
      .select((keep :+ col("__bg.p").as("__prev")
        :+ col("__bg.t").as("__tok2")): _*)
  }

  /** Adjacent token pairs — [[ngramRows]] at n = 2 (kept as the named
    * entry point the streaming scorer builds on). */
  private[graft] def bigramRows(df: DataFrame, textCol: String,
      keep: Column*): DataFrame = ngramRows(df, textCol, 2, keep: _*)

  /** The frozen n-GRAM conditional model of a corpus — the ladder
    * from [[selfInfoModel]] toward the CCNet-style KenLM filter: one
    * row per observed (context, token) with the conditional surprisal
    * −ln P(tok | ctx) = ln c(ctx,·) − ln c(ctx, tok), MLE over n-gram
    * occurrences (context = the n−1 preceding tokens, space-joined).
    * n-gram-TYPE-bounded (far below corpus rows for natural text),
    * persistable, and — like the unigram model — the artifact batches
    * and streams score against without re-reading the corpus. No
    * smoothing/backoff: out-of-model contexts are skipped at scoring
    * time by the inner join (the OOV convention), which is the honest
    * MLE contract — add interpolation upstream if coverage matters
    * more than calibration. Columns internal-named
    * (__fprev, __ftok, __info2) — interchangeable across n at
    * scoring time as long as fit and score use the same n. */
  def selfInfoNgramModel(df: DataFrame, textCol: String,
      n: Int): DataFrame = {
    val c2 = ngramRows(df, textCol, n)
      .groupBy(col("__prev").as("__fprev"), col("__tok2").as("__ftok"))
      .agg(count(lit(1)).as("__n2"))
    // c(ctx,·) folds from the pair counts — one extra type-bounded
    // aggregate, no second corpus scan
    val c1 = c2.groupBy(col("__fprev")).agg(sum(col("__n2")).as("__n1"))
    c2.join(c1, Seq("__fprev"))
      .select(col("__fprev"), col("__ftok"),
        (log(col("__n1").cast("double")) - log(col("__n2").cast("double")))
          .as("__info2"))
  }

  /** The n = 2 model ([[selfInfoNgramModel]]). */
  def selfInfoBigramModel(df: DataFrame, textCol: String): DataFrame =
    selfInfoNgramModel(df, textCol, 2)

  /** n-gram self-information score: a document's mean conditional
    * surprisal under the corpus's own n-gram model — sharper than the
    * unigram [[selfInfoScore]] (it sees word ORDER: templated text
    * with common words in fixed patterns scores low even when the
    * unigram mix looks diverse; each +1 of n sharpens the context).
    * THE SCALE DEFAULT: algebraic avg per doc; joins are
    * (ctx, tok)-keyed against the type-bounded model. Docs under n
    * tokens (and docs whose every n-gram is out-of-model) emit
    * nothing — the unigram scorer's OOV-skip convention. Output:
    * (id, n_ngrams, self_info_lm rounded to 4).
    */
  def selfInfoNgram(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    ngramAgg(df, selfInfoNgramModel(df, textCol, n), idCol, textCol, n,
      (i, _) => avg(i))

  /** Oracle-portable flavor of [[selfInfoNgram]] (ordered fold over
    * the sorted surprisal list — the selfInfoScorePortable
    * convention; per-doc state bounded by doc length). */
  def selfInfoNgramPortable(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    ngramAgg(df, selfInfoNgramModel(df, textCol, n), idCol, textCol, n,
      (i, cnt) => aggregate(sort_array(collect_list(i)), lit(0.0), _ + _) / cnt)

  /** Score documents against a FROZEN [[selfInfoNgramModel]] — the
    * arrival path (the scoreAgainstModel pattern). `n` MUST match the
    * model fit. */
  def scoreAgainstNgramModel(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    ngramAgg(df, model, idCol, textCol, n, (i, _) => avg(i))

  /** Bigram (n = 2) flavors, kept under their established names and
    * output columns (n_bigrams, self_info2). */
  def selfInfoBigram(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    asBigramColumns(selfInfoNgram(df, idCol, textCol, 2))

  /** See [[selfInfoBigram]]; ordered-fold oracle flavor. */
  def selfInfoBigramPortable(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    asBigramColumns(selfInfoNgramPortable(df, idCol, textCol, 2))

  /** Score against a frozen n = 2 model; see [[scoreAgainstNgramModel]]. */
  def scoreAgainstBigramModel(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String): DataFrame =
    asBigramColumns(scoreAgainstNgramModel(df, model, idCol, textCol, 2))

  private def asBigramColumns(df: DataFrame): DataFrame =
    df.withColumnRenamed("n_ngrams", "n_bigrams")
      .withColumnRenamed("self_info_lm", "self_info2")

  /** Shared body of the n-gram-scoring flavors. */
  private def ngramAgg(df: DataFrame, model: DataFrame, idCol: String,
      textCol: String, n: Int,
      mean: (Column, Column) => Column): DataFrame =
    ngramRows(df, textCol, n, col(idCol))
      .join(model, col("__prev") === col("__fprev") &&
        col("__tok2") === col("__ftok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        round(mean(col("__info2"), count(lit(1))), 4).as("self_info_lm"))

  /** Default backoff penalty in SURPRISAL units: ≈ −ln 0.4, the
    * stupid-backoff α = 0.4 of Brants et al. 2007 (Large Language
    * Models in Machine Translation). Parameterized as an exact double
    * LITERAL rather than computed ln(0.4) so the Spark plan and the
    * DuckDB oracle add bit-identical constants — two engines' libm
    * ln may differ in the last ulp, and a 4-decimal round tie would
    * expose it. */
  val BackoffPenalty = 0.9163

  /** The persistable STUPID-BACKOFF model bundle: every order's
    * conditional table ([[selfInfoNgramModel]] for k = n..2) plus the
    * unigram [[selfInfoModel]], unioned with an `__order` column —
    * ONE artifact to fit, persist and ship. Row count is the sum of
    * the per-order n-gram type counts (still corpus-type-bounded,
    * never corpus rows). The backoff weight is NOT baked in: scoring
    * adds (n−k)·penalty per skipped order, so one artifact serves any
    * penalty. */
  def backoffNgramModel(df: DataFrame, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, "n >= 2 (order 1 alone is selfInfoModel)")
    val orders = (2 to n).map { k =>
      selfInfoNgramModel(df, textCol, k)
        .select(lit(k).as("__order"), col("__fprev"), col("__ftok"),
          col("__info2").as("__info_bo"))
    }
    val uni = selfInfoModel(df, textCol)
      .select(lit(1).as("__order"), lit("").as("__fprev"), col("__ftok"),
        col("__info").as("__info_bo"))
    // pin the bundle: the backoff scorer left-joins one ORDER SLICE
    // per rung, and un-pinned each slice re-ran its order's fit
    (orders :+ uni).reduce(_ unionByName _).localCheckpoint(true)
  }

  /** Score documents against a FROZEN [[backoffNgramModel]] with
    * stupid backoff — the smoothing [[scoreAgainstNgramModel]]
    * deliberately lacks: where MLE SKIPS an out-of-model context
    * (scoring goes partial exactly where a quality filter needs
    * signal), backoff scores it against the longest SEEN suffix
    * context, adding `penalty` surprisal per skipped order:
    * S(w|ctx_k) = c(ctx_k w)/c(ctx_k) if seen, else α·S(w|ctx_{k−1})
    * — in log space a left-join coalesce cascade, one type-bounded
    * equi-join per order (n−1 context joins + the unigram join).
    * Positions whose TOKEN is absent even from the unigram table are
    * still skipped (the OOV convention — no vocabulary-size prior
    * here). Output: (id, n_ngrams, n_backoff, self_info_bo) —
    * n_backoff counts positions that fell past the top order, the
    * in-plan non-vacuity witness. */
  def scoreAgainstBackoffModel(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String, n: Int,
      penalty: Double = BackoffPenalty): DataFrame =
    backoffAgg(df, model, idCol, textCol, n, penalty, (i, _) => avg(i))

  /** Oracle-portable flavor (ordered fold — the selfInfoNgramPortable
    * convention). */
  def scoreAgainstBackoffModelPortable(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String, n: Int,
      penalty: Double = BackoffPenalty): DataFrame =
    backoffAgg(df, model, idCol, textCol, n, penalty,
      (i, cnt) => aggregate(sort_array(collect_list(i)), lit(0.0), _ + _) / cnt)

  /** Fit-on-self flavor: backoff NEVER fires when the model is fit on
    * the scored corpus itself (every corpus n-gram is in its own
    * model), so this equals [[selfInfoNgram]] with n_backoff ≡ 0 —
    * the spec anchor. The operator earns its keep on FROZEN models
    * over new text (the query fits on half the corpus for exactly
    * that reason). */
  def selfInfoNgramBackoff(df: DataFrame, idCol: String, textCol: String,
      n: Int, penalty: Double = BackoffPenalty): DataFrame =
    scoreAgainstBackoffModel(df, backoffNgramModel(df, textCol, n),
      idCol, textCol, n, penalty)

  private def backoffAgg(df: DataFrame, model: DataFrame, idCol: String,
      textCol: String, n: Int, penalty: Double,
      mean: (Column, Column) => Column): DataFrame = {
    val rows = ngramRows(df, textCol, n, col(idCol))
    val joined = (n to 2 by -1).foldLeft(rows) { (acc, k) =>
      val mk = model.filter(col("__order") === k)
        .select(col("__fprev").as(s"__p$k"), col("__ftok").as(s"__t$k"),
          col("__info_bo").as(s"__i$k"))
      // the order-k context is the LAST k−1 tokens of the full context
      val ctxK =
        if (k == n) col("__prev")
        else array_join(
          slice(split(col("__prev"), " "), -(k - 1), k - 1), " ")
      acc.join(mk, ctxK === col(s"__p$k") &&
        col("__tok2") === col(s"__t$k"), "left")
    }
    val uni = model.filter(col("__order") === 1)
      .select(col("__ftok").as("__t1"), col("__info_bo").as("__i1"))
    val scored = joined
      .join(uni, col("__tok2") === col("__t1"), "left")
      .withColumn("__info", coalesce(
        (col(s"__i$n") +:
          ((n - 1) to 2 by -1).map(k =>
            col(s"__i$k") + lit((n - k).toDouble * penalty)) :+
          (col("__i1") + lit((n - 1).toDouble * penalty))): _*))
      .filter(col("__info").isNotNull)
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col(s"__i$n").isNull, 1L).otherwise(0L)).as("n_backoff"),
        round(mean(col("__info"), count(lit(1))), 4).as("self_info_bo"))
  }

  /** Kneser-Ney absolute discount: the standard D = 0.75 of Chen &
    * Goodman 1998's empirical study — exactly representable in
    * binary (3/4), so subtracting and multiplying it is exact FP in
    * both engines. */
  val KnDiscount = 0.75

  /** The persistable INTERPOLATED KNESER-NEY bigram bundle — the
    * production rung of the LM-scoring ladder (MLE [[selfInfoNgramModel]]
    * skips unseen contexts; stupid backoff [[backoffNgramModel]]
    * penalizes a fixed α per skipped order; KN (Kneser & Ney 1995,
    * Chen & Goodman 1998) redistributes a fixed discount D of every
    * seen pair's mass to a CONTINUATION prior P_cont(w) =
    * N1+(·,w)/N1+(·,·) — how many distinct contexts w follows, not
    * how often w occurs — the fix for bursty tokens like "francisco"
    * that are frequent but only ever follow one context).
    *
    * One `__part`-tagged bundle (the backoffNgramModel convention):
    * "bg" (u, w, c(u,w)); "ctx" (u, c(u,·), N1+(u,·)); "cont"
    * (w, N1+(·,w)); "tot" (N1+(·,·)). All exact integers — the fit
    * is fully SQL-replayable; row count is bigram-TYPE-bounded. */
  def kneserNeyModel(df: DataFrame, textCol: String): DataFrame = {
    // pin bg (4 bundle parts read it) and the bundle (the scorer
    // filters it once per part) — the trigram builder's convention
    val bg = bigramRows(df, textCol)
      .groupBy(col("__prev").as("__u"), col("__tok2").as("__w"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint(true)
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    bg.select(lit("bg").as("__part"), col("__u"), col("__w"),
        col("__n").as("__c1"), nullL.as("__c2"))
      .unionByName(bg.groupBy(col("__u"))
        .agg(sum(col("__n")).as("__c1"), count(lit(1)).as("__c2"))
        .select(lit("ctx").as("__part"), col("__u"), nullS.as("__w"),
          col("__c1"), col("__c2")))
      .unionByName(bg.groupBy(col("__w"))
        .agg(count(lit(1)).as("__c1"))
        .select(lit("cont").as("__part"), nullS.as("__u"), col("__w"),
          col("__c1"), nullL.as("__c2")))
      .unionByName(bg.agg(count(lit(1)).as("__c1"))
        .select(lit("tot").as("__part"), nullS.as("__u"),
          nullS.as("__w"), col("__c1"), nullL.as("__c2")))
      .localCheckpoint(true)
  }

  /** Score documents against a FROZEN [[kneserNeyModel]]:
    * P_KN(w|u) = (max(c(u,w) − D, 0) + D·N1+(u,·)·P_cont(w)) / c(u,·)
    * for a seen context u, and P_cont(w) outright for an unseen one;
    * positions whose TOKEN w has no continuation entry are skipped
    * (the OOV convention — no vocabulary-size prior). Every
    * probability is strictly positive, so unlike the MLE scorer no
    * seen-context position is ever dropped. Plan shape: three
    * type-bounded equi-joins + one broadcast 1-row cross — the
    * scoreAgainstBackoffModel shape. Output: (id, n_ngrams,
    * n_ctx_unseen — positions scored by the continuation prior alone,
    * n_interp — seen context but UNSEEN pair, where interpolation
    * carries everything; both are in-plan non-vacuity witnesses —
    * self_info_kn rounded at 4). */
  def scoreAgainstKnModel(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String,
      d: Double = KnDiscount): DataFrame =
    knAgg(df, model, idCol, textCol, d, (i, _) => avg(i))

  /** Oracle-portable flavor (ordered fold — the
    * selfInfoNgramPortable convention). */
  def scoreAgainstKnModelPortable(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String,
      d: Double = KnDiscount): DataFrame =
    knAgg(df, model, idCol, textCol, d,
      (i, cnt) => aggregate(sort_array(collect_list(i)), lit(0.0), _ + _) / cnt)

  /** Fit-on-self flavor: every corpus bigram is in its own model, so
    * n_ctx_unseen ≡ 0 and n_interp ≡ 0 — the spec anchor. The
    * operator earns its keep on FROZEN models over new text. */
  def selfInfoKneserNey(df: DataFrame, idCol: String, textCol: String,
      d: Double = KnDiscount): DataFrame =
    scoreAgainstKnModel(df, kneserNeyModel(df, textCol),
      idCol, textCol, d)

  private def knAgg(df: DataFrame, model: DataFrame, idCol: String,
      textCol: String, d: Double,
      mean: (Column, Column) => Column): DataFrame = {
    require(d > 0 && d < 1, s"Kneser-Ney discount in (0,1), got $d")
    val rows = bigramRows(df, textCol, col(idCol))
    val bg = model.filter(col("__part") === "bg")
      .select(col("__u").as("__bu"), col("__w").as("__bw"),
        col("__c1").as("__cuw"))
    val ctx = model.filter(col("__part") === "ctx")
      .select(col("__u").as("__xu"), col("__c1").as("__cu"),
        col("__c2").as("__n1u"))
    val cont = model.filter(col("__part") === "cont")
      .select(col("__w").as("__cw"), col("__c1").as("__n1w"))
    val tot = model.filter(col("__part") === "tot")
      .select(col("__c1").as("__n1tot"))
    // expression structure mirrored EXACTLY by the DuckDB oracle: the
    // per-position probability is a fixed dag of exactly-rounded IEEE
    // ops over exact integer counts + the exactly-representable D, so
    // both engines feed ln identical bits (ln ulp daylight absorbed
    // by the 4-decimal round — the backoff-scorer convention)
    val pcont = col("__n1w").cast("double") / col("__n1tot").cast("double")
    val p = when(col("__cu").isNull, pcont)
      .otherwise((greatest(
        coalesce(col("__cuw"), lit(0L)).cast("double") - lit(d),
        lit(0.0)) +
        (lit(d) * col("__n1u").cast("double")) * pcont) /
        col("__cu").cast("double"))
    rows
      .join(cont, col("__tok2") === col("__cw"))
      .crossJoin(broadcast(tot))
      .join(ctx, col("__prev") === col("__xu"), "left")
      .join(bg, col("__prev") === col("__bu") &&
        col("__tok2") === col("__bw"), "left")
      .withColumn("__info", -log(p))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("__cu").isNull, 1L).otherwise(0L))
          .as("n_ctx_unseen"),
        sum(when(col("__cuw").isNull && col("__cu").isNotNull, 1L)
          .otherwise(0L)).as("n_interp"),
        round(mean(col("__info"), count(lit(1))), 4).as("self_info_kn"))
  }

  /** Gopher-style rule filter (Rae et al. 2021's quality heuristics,
    * the industry-standard cheap gate): word-count bounds, mean-word-
    * length bounds, symbol-to-word ratio (hash + ellipsis), and a
    * minimum count of DISTINCT stopwords present. Pure per-row
    * expressions — emits every signal plus the conjunction as `keep`,
    * so pipelines can audit which rule fired before filtering.
    * Output: (id, n_words, mean_word_len, symbol_ratio,
    * n_stop_distinct, keep).
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minStopwords: Int = 2): DataFrame = {
    val w = col("__w")
    val nWords = size(w)
    val meanLen = (length(col("__norm")) - nWords + 1)
      .cast("double") / nWords
    val symbols = size(split(col("__raw"), "#")) - 1 +
      size(split(col("__raw"), "\\.\\.\\.")) - 1
    val symRatio = symbols.cast("double") / nWords
    val nStop = size(array_intersect(w,
      array(Stopwords.map(lit): _*)))
    withWords(df, idCol, textCol, col(textCol).as("__raw"))
      .select(col(idCol),
        nWords.cast("long").as("n_words"),
        meanLen.as("mean_word_len"),
        symRatio.as("symbol_ratio"),
        nStop.cast("long").as("n_stop_distinct"),
        (nWords >= minWords && nWords <= maxWords &&
          meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen &&
          symRatio <= maxSymbolRatio &&
          nStop >= minStopwords).as("keep"))
  }

  /** Per-source curation report — volume, rule-gate pass count, and
    * mean quality per source: the numbers a data engineer reads before
    * deciding mixture weights. Composes [[gopherRules]] (same
    * threshold parameters) and [[qualityScore]], then ONE hash
    * aggregate keyed by source.
    * THE SCALE DEFAULT: the mean is algebraic avg(quality) — map-side
    * partial aggregation keeps per-source state at one (sum, count)
    * pair, so a source with billions of documents costs nothing extra.
    * The trade (the selfInfoScore/labelCentroids convention): parallel
    * avg's summation order carries ±ulp noise across engines and
    * partitionings, so for bit-exact cross-engine comparison use
    * [[sourceReportPortable]]. Output: (source, n_docs, n_keep,
    * avg_quality rounded to 4).
    */
  def sourceReport(df: DataFrame, sourceCol: String, idCol: String,
      textCol: String, minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minStopwords: Int = 2): DataFrame =
    sourceReportAgg(df, sourceCol, idCol, textCol, minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, maxSymbolRatio, minStopwords,
      (q, _) => avg(q))

  /** Oracle-portable flavor of [[sourceReport]]: the per-source mean
    * quality from an ORDER-DETERMINISTIC fold over the sorted quality
    * list (bit-reproducible across engines/partitionings), at the cost
    * of per-source state holding every document's score — group size
    * is corpus/sources, so use THIS flavor for oracle parity and the
    * algebraic default everywhere at scale. Spec proves rounding-grid
    * agreement with the default.
    */
  def sourceReportPortable(df: DataFrame, sourceCol: String, idCol: String,
      textCol: String, minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minStopwords: Int = 2): DataFrame =
    sourceReportAgg(df, sourceCol, idCol, textCol, minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, maxSymbolRatio, minStopwords,
      (q, n) => aggregate(sort_array(collect_list(q)), lit(0.0), _ + _) / n)

  /** Attach the two curation per-row signals — [[gopherRules]]' `keep`
    * boolean and [[qualityScore]]'s `quality` — as COLUMNS on the
    * input frame, preserving every input column. The SAME expressions
    * as the standalone operators (their oracles pin the math), but as
    * pure per-row projections with no self-joins and no aggregation —
    * which makes this the shared core of the batch sourceReport
    * flavors AND streaming-legal (StreamOps.sourceReportWindowed
    * builds its windowed aggregate directly on it). */
  def withKeepQuality(df: DataFrame, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minStopwords: Int = 2): DataFrame = {
    val taken = Seq("__norm", "__w", "keep", "quality")
      .filter(df.columns.contains)
    require(taken.isEmpty,
      s"input already has ${taken.mkString("/")} column(s) — rename " +
        "them; __norm/__w are reserved scratch space and keep/quality " +
        "are the output columns of withKeepQuality")
    val w = col("__w")
    val nWords = size(w)
    val meanLen = (length(col("__norm")) - nWords + 1)
      .cast("double") / nWords
    val symbols = size(split(col(textCol), "#")) - 1 +
      size(split(col(textCol), "\\.\\.\\.")) - 1
    val symRatio = symbols.cast("double") / nWords
    val nStop = size(array_intersect(w, array(Stopwords.map(lit): _*)))
    val nWordsD = nWords.cast("double")
    val stop = size(filter(w, t => t.isInCollection(Stopwords)))
      .cast("double")
    val lenScore = least(nWordsD / 200.0, lit(1.0))
    val stopScore = least(stop / nWordsD * 4.0, lit(1.0))
    val diversity = size(array_distinct(w)).cast("double") / nWordsD
    df.withColumn("__norm", TextFns.normalize(col(textCol)))
      .withColumn("__w", split(col("__norm"), " "))
      .withColumn("keep",
        nWords >= minWords && nWords <= maxWords &&
          meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen &&
          symRatio <= maxSymbolRatio && nStop >= minStopwords)
      .withColumn("quality",
        lit(0.4) * lenScore + lit(0.3) * stopScore + lit(0.3) * diversity)
      .drop("__norm", "__w")
  }

  /** Shared body of the source-report flavors: `mean` builds the
    * per-source average from (quality column, doc count column).
    * Built on [[withKeepQuality]] — one scan, no self-joins (the
    * signals are per-row; the earlier join-on-id composition of the
    * standalone operators re-read the corpus three times for the
    * same values). */
  private def sourceReportAgg(df: DataFrame, sourceCol: String,
      idCol: String, textCol: String, minWords: Int, maxWords: Int,
      minMeanWordLen: Double, maxMeanWordLen: Double,
      maxSymbolRatio: Double, minStopwords: Int,
      mean: (Column, Column) => Column): DataFrame =
    withKeepQuality(df.select(col(idCol), col(sourceCol), col(textCol)),
        textCol, minWords, maxWords, minMeanWordLen, maxMeanWordLen,
        maxSymbolRatio, minStopwords)
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        round(mean(col("quality"), count(lit(1))), 4).as("avg_quality"))

  /** Overlapping word-window chunking — the RAG / embedding-prep
    * splitter: fixed `chunkSize`-word chunks starting every
    * `chunkSize - overlap` words, so consecutive chunks share `overlap`
    * words of context. Chunk starts are a pure expression
    * (transform over sequence + slice) evaluated per row, then ONE
    * posexplode — no shuffle, output rows = Σ ceil(words/stride),
    * proportional to corpus size. The tail chunk may be shorter than
    * `chunkSize` (greedy splitting; n_words carries the real length).
    * Output: (id, chunk_id, n_words, chunk_text).
    */
  def chunkWords(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int, delim: String = " "): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    require(!df.columns.contains("__ws") && !df.columns.contains("__chunks"),
      "input already has a __ws/__chunks column — rename it; these names " +
        "are reserved scratch space of chunkWords")
    val stride = chunkSize - overlap
    val esc = java.util.regex.Pattern.quote(delim)
    df.withColumn("__ws", split(col(textCol), esc))
      .withColumn("__chunks",
        transform(
          sequence(lit(0),
            floor((size(col("__ws")) - 1).cast("double") / stride)
              .cast("int")),
          k => slice(col("__ws"), k * stride + 1, lit(chunkSize))))
      .select(col(idCol),
        posexplode(col("__chunks")).as(Seq("chunk_id", "__c")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        size(col("__c")).cast("long").as("n_words"),
        array_join(col("__c"), delim).as("chunk_text"))
  }

  /** Intra-document line dedup (the RefinedWeb/CCNet cleanup step:
    * navigation menus, repeated headers, chat quoting): keep only the
    * FIRST occurrence of each line within a document and reassemble the
    * text in original order. Pure per-row expression — the first-
    * occurrence filter is `array_position(lines, l) == index`, so the
    * operator is shuffle-free and composes with any scan. Work per row
    * is O(lines²) line comparisons, bounded by document size (the
    * cross-DOCUMENT analog with unbounded cardinality is
    * [[removeBoilerplate]]). `delim` is a literal separator used for
    * both split and rejoin (the synthetic corpus has no newlines, so
    * the exercised query runs word-level with " "; specs cover "\n").
    * Output: (id, n_lines, n_kept, text_deduped).
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame = {
    val esc = java.util.regex.Pattern.quote(delim)
    df.withColumn("__lines", split(col(textCol), esc))
      .select(col(idCol),
        size(col("__lines")).cast("long").as("n_lines"),
        size(array_distinct(col("__lines"))).cast("long").as("n_kept"),
        firstOccurrenceJoin(col("__lines"), delim).as("text_deduped"))
  }

  /** The [[dedupLines]] reassembly expression over a materialized lines
    * array — shared so the column-preserving flavor below cannot drift
    * from the oracle-gated operator. */
  private def firstOccurrenceJoin(lines: Column, delim: String): Column =
    array_join(
      filter(lines, (l, i) => array_position(lines, l) === i + 1),
      delim)

  /** [[dedupLines]] as a column ATTACHED to the input frame (every
    * input column preserved) — the composition-friendly flavor for
    * multi-stage pipelines that must carry source/quality/etc. through
    * the cleanup (Packing.curateAndPack). Same expression as
    * dedupLines' text_deduped, shared verbatim. */
  def withDedupedText(df: DataFrame, textCol: String, outCol: String,
      delim: String = "\n"): DataFrame = {
    require(!df.columns.contains("__lines") && !df.columns.contains(outCol),
      s"input already has __lines/$outCol — rename it; __lines is " +
        "reserved scratch space and outCol is the output column")
    val esc = java.util.regex.Pattern.quote(delim)
    df.withColumn("__lines", split(col(textCol), esc))
      .withColumn(outCol, firstOccurrenceJoin(col("__lines"), delim))
      .drop("__lines")
  }

  /** Cross-document boilerplate removal: a line occurring in at least
    * `minDocs` DISTINCT documents is dropped from every document
    * (cookie banners, footers, license headers — the corpus-frequency
    * complement of [[dedupLines]]). Two shuffles by construction: one
    * distinct+count keyed on the line to build the frequency table,
    * one re-aggregation keyed on the doc to reassemble texts. The
    * boilerplate table is the SMALL side (lines above a corpus-wide
    * threshold) and is broadcast into the anti join — document rows
    * never shuffle for the membership test. Line order inside a doc is
    * preserved via posexplode + an ordered fold. Output:
    * (id, n_lines, n_removed, text_clean).
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long, delim: String = "\n"): DataFrame =
    boilerplateDrop(df, idCol, textCol, delim,
      freq => freq.filter(col("n_docs") >= minDocs))

  /** Corpus-relative flavor of [[removeBoilerplate]]: the threshold is
    * `ceil(minDocFrac * corpus size)`, derived INSIDE the plan (a
    * one-row count aggregate broadcast onto the line-frequency table)
    * so building the DataFrame stays pure — no driver-side count job
    * at construction time, and the threshold re-derives correctly if
    * the same plan is run over a different snapshot of the input. */
  def removeBoilerplateFrac(df: DataFrame, idCol: String, textCol: String,
      minDocFrac: Double, delim: String = "\n"): DataFrame = {
    require(minDocFrac > 0.0 && minDocFrac <= 1.0,
      "need 0 < minDocFrac <= 1")
    boilerplateDrop(df, idCol, textCol, delim, freq => {
      val thresh = df.agg(
        ceil(lit(minDocFrac) * count(lit(1))).cast("long").as("__min_docs"))
      freq.crossJoin(broadcast(thresh))
        .filter(col("n_docs") >= col("__min_docs"))
    })
  }

  /** CROSS-document paragraph dedup — the remaining real-world dedup
    * granularity between [[dedupLines]] (within-doc only) and
    * [[removeBoilerplate]] (drops only corpus-FREQUENT lines): a span
    * repeated across documents survives exactly ONCE corpus-wide, at
    * its first occurrence. Canonical occurrence = the lowest
    * (doc, position) among every occurrence of the paragraph's md5 —
    * deterministic under any partitioning, and within-doc repeats
    * dedup to their first occurrence as a special case (the
    * dedupLines semantics, now global).
    *
    * Plan: one posexplode, ONE shuffle — a row_number window
    * PARTITIONED BY the paragraph hash (unbounded-cardinality key —
    * never a single-partition choke; the per-hash group is the
    * occurrence count of one span, the skew-bounded quantity) — then
    * the boilerplate reassembly (ordered fold per doc, state bounded
    * by doc length). Shuffling the exploded corpus once is the price
    * of any exact global dedup (exactDupGroups pays the same).
    * Docs losing every paragraph stay in the output with n_kept = 0
    * and empty text (dedup is not a row filter). Output:
    * (id, n_paras, n_kept, text_deduped). */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val esc = java.util.regex.Pattern.quote(delim)
    val paras = df.select(col(idCol),
      posexplode(split(col(textCol), esc)).as(Seq("pos", "para")))
    val w = Window.partitionBy(md5(col("para")))
      .orderBy(col(idCol), col("pos"))
    paras.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            sort_array(collect_list(struct(col("pos"), col("para")))),
            _.getField("para")),
          delim).as("text_deduped"))
      .join(df.select(col(idCol),
        size(split(col(textCol), esc)).cast("long").as("n_paras")),
        Seq(idCol), "right")
      .select(col(idCol), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** Cross-document TOKEN-WINDOW substring dedup — the Lee et al.
    * 2022 granularity, between [[dedupParagraphs]] (spans = delimiter-
    * framed paragraphs, alignment-sensitive) and [[dedupLines]]
    * (within-doc only): every k-token sliding window is hashed; an
    * occurrence whose window hash has an earlier occurrence corpus-
    * wide (canonical = lowest (doc, pos), the dedupParagraphs
    * convention) marks its k-token span as duplicated; a token
    * survives iff NO duplicated window covers it; kept tokens
    * reassemble in order, so overlapping kept spans merge by
    * construction. Catches verbatim substrings at ANY alignment,
    * including spans crossing paragraph framing.
    *
    * Plan: per-doc window hashes are a pure expression (slice +
    * md5 over the token array — the shinglesOfWords shape; md5 is the
    * cross-engine-replayable stand-in for a Karp-Rabin rolling hash,
    * the TextFns.shingleHash convention), then ONE shuffle — a
    * row_number window PARTITIONED BY the window hash (unbounded-
    * cardinality key, per-group size = one span's occurrence count,
    * the skew-bounded quantity) — then duplicated spans collapse per
    * doc (collect_list bounded by the doc's dup-window count) and
    * coverage is a per-row higher-order filter: O(n_tokens ×
    * n_dup_spans) worst case, zero further shuffles. Docs shorter
    * than k tokens have no windows and survive intact; a fully-
    * duplicated doc stays in the output with n_kept = 0 (dedup is
    * not a row filter). Output: (id, n_tokens, n_kept,
    * text_deduped). */
  /** The k-token sliding-window hash array of a token-array column —
    * one md5 per position over the joined slice (the shinglesOfWords
    * shape); empty when the doc is shorter than k. Shared by the
    * batch dedup, the index build and the streaming probe so all
    * three hash bit-identically. */
  private[graft] def windowHashes(ws: Column, k: Int,
      delim: String): Column =
    when(size(ws) >= k,
      transform(sequence(lit(0), size(ws) - k),
        i => md5(array_join(slice(ws, i + 1, lit(k)), delim))))
      .otherwise(array().cast("array<string>"))

  /** The RAW bounded suffix key at each position: the next k tokens
    * re-joined (unambiguous — tokens cannot contain the delimiter
    * they were split on). The un-hashed sibling of [[windowHashes]]:
    * grouping/sorting on this key IS a distributed suffix sort
    * truncated at depth k — the shuffle range-partitions the key
    * space and sorts within partitions, so suffixes sharing a ≥ k
    * prefix land adjacent, exactly the suffix-array neighborhood the
    * Lee et al. ExactSubstr formulation scans — at zero collision
    * risk (md5 keys make span removal exact only up to a hash
    * collision, which is a FALSE SCRUB when it fires). */
  private[graft] def suffixKeys(ws: Column, k: Int,
      delim: String): Column =
    when(size(ws) >= k,
      transform(sequence(lit(0), size(ws) - k),
        i => array_join(slice(ws, i + 1, lit(k)), delim)))
      .otherwise(array().cast("array<string>"))

  /** Tokens of `ws` NOT covered by any k-span starting at a position
    * in `dupStarts` — the span-removal half of [[dedupTokenWindows]],
    * a pure per-row expression (reused by the streaming reassembly). */
  private[graft] def tokensOutsideSpans(ws: Column, dupStarts: Column,
      k: Int): Column =
    filter(ws, (_, p) =>
      !exists(dupStarts, w0 => w0 <= p && p < w0 + k))

  /** T5/UL2-style span corruption — the pretraining-TARGET generator:
    * deterministically mask ~`ratio` of each document's tokens in
    * `groupSize`-aligned spans, replace each maximal masked run with a
    * `<extra_id_K>` sentinel in the input, and emit the masked tokens
    * (sentinel-prefixed, in order) as the target sequence. Masking is
    * a pure id+position function (md5-uniform of (id, salt, pos÷g) —
    * reproducible across engines, partitionings, reprocessings), so a
    * re-run regenerates byte-identical training pairs: the property a
    * resumable 100 TB target-generation job needs.
    *
    * Shape: one generator + two windows and one aggregate ALL
    * partitioned by the document id (never global), reassembly via the
    * sorted-struct fold (the text-op convention — collect_list order
    * is not trusted). Adjacent masked groups merge into ONE span
    * (maximal runs), exactly as T5's span-corruption objective
    * specifies. Output: (id, n_tokens, n_masked, n_spans, input_text,
    * target_text). Zero-token docs emit nothing (the tokenize-then-agg
    * convention). */
  def spanCorrupt(df: DataFrame, idCol: String, textCol: String,
      groupSize: Int = 3, ratio: Double = 0.15,
      salt: String = "|span|"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupSize >= 1, s"spanCorrupt: groupSize must be >= 1")
    require(ratio > 0 && ratio < 1, s"spanCorrupt: ratio out of (0,1)")
    val tok = df.select(col(idCol),
      posexplode(TextFns.bpeishTokens(col(textCol))).as(Seq("pos", "tok")))
    val h = conv(substring(md5(concat(col(idCol).cast("string"), lit(salt),
      expr(s"pos div $groupSize").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val masked = (h + lit(1L)).cast("double") / lit(TwoPow60Span) <
      lit(ratio)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val withRuns = tok.withColumn("__m", masked)
      .withColumn("__start",
        col("__m") && !coalesce(lag(col("__m"), 1).over(w), lit(false)))
      .withColumn("__k",
        sum(col("__start").cast("long")).over(w) - 1)
    val sentinel = concat(lit("<extra_id_"), col("__k").cast("string"),
      lit(">"))
    val inputPiece = when(!col("__m"), col("tok"))
      .when(col("__start"), sentinel)
    val targetPiece = when(col("__m"),
      when(col("__start"), concat(sentinel, lit(" "), col("tok")))
        .otherwise(col("tok")))
    def joined(piece: Column) = array_join(
      transform(sort_array(collect_list(when(piece.isNotNull,
        struct(col("pos").as("p"), piece.as("s"))))), x => x("s")), " ")
    withRuns.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__m").cast("long")).as("n_masked"),
        sum(col("__start").cast("long")).as("n_spans"),
        joined(inputPiece).as("input_text"),
        joined(targetPiece).as("target_text"))
  }

  /** 2^60 — the md5-uniform denominator (the priorityCol constant). */
  private val TwoPow60Span: Double = 1152921504606846976.0d

  /** Fill-in-the-middle transformation (Bavarian et al. 2022 — the
    * code-model pretraining transform): split each document's token
    * stream at two deterministic cut points into (prefix, middle,
    * suffix) and emit the PSM-ordered training string
    * `<PRE> prefix <SUF> suffix <MID> middle`. Cuts are md5-uniforms
    * of (id, salt): c1 uniform on [0, n], c2 uniform on [c1, n] — a
    * pure id function, so re-runs regenerate byte-identical pairs
    * (the spanCorrupt property). ONE per-row projection — no explode,
    * no window, no shuffle: the transform runs at scan speed on batch
    * and streaming frames alike. Output: (id, n_tokens, cut1, cut2,
    * prefix, middle, suffix, psm_text). Zero-token docs emit the empty
    * triple (cuts 0,0) rather than dropping — FIM is a row transform,
    * not an aggregate. */
  def fimSplit(df: DataFrame, idCol: String, textCol: String,
      salt: String = "|fim|"): DataFrame = {
    def u(tag: String) = (conv(substring(md5(concat(
      col(idCol).cast("string"), lit(salt), lit(tag))), 1, 15), 16, 10)
      .cast("long") + lit(1L)).cast("double") / lit(TwoPow60Span)
    val ts = TextFns.bpeishTokens(col(textCol))
    df.select(col(idCol), ts.as("__ts"))
      .withColumn("n_tokens", size(col("__ts")).cast("long"))
      // floor(u·(n+1)) lands uniformly on 0..n; u ∈ (0,1] makes the
      // top value a measure-zero edge both engines floor identically
      .withColumn("cut1",
        floor(u("c1") * (col("n_tokens") + 1).cast("double"))
          .cast("long"))
      .withColumn("cut1", least(col("cut1"), col("n_tokens")))
      .withColumn("cut2", col("cut1") +
        least(floor(u("c2") *
          (col("n_tokens") - col("cut1") + 1).cast("double")).cast("long"),
          col("n_tokens") - col("cut1")))
      .select(col(idCol), col("n_tokens"), col("cut1"), col("cut2"),
        array_join(slice(col("__ts"), lit(1), col("cut1").cast("int")),
          " ").as("prefix"),
        array_join(slice(col("__ts"), col("cut1").cast("int") + 1,
          (col("cut2") - col("cut1")).cast("int")), " ").as("middle"),
        array_join(slice(col("__ts"), col("cut2").cast("int") + 1,
          (col("n_tokens") - col("cut2")).cast("int") + 1), " ")
          .as("suffix"))
      .withColumn("psm_text", concat(lit("<PRE> "), col("prefix"),
        lit(" <SUF> "), col("suffix"), lit(" <MID> "), col("middle")))
  }

  def dedupTokenWindows(df: DataFrame, idCol: String, textCol: String,
      k: Int, delim: String = " "): DataFrame =
    dedupTokenWindowsKeyed(df, idCol, textCol, k, delim,
      ws => windowHashes(ws, k, delim))

  /** EXACT substring dedup via bounded suffix ordering — identical
    * span semantics to [[dedupTokenWindows]] but keyed on the RAW
    * [[suffixKeys]] window content instead of its md5: the shuffle's
    * range-partition + sort on the truncated suffix is the
    * distributed suffix sort of Lee et al.'s ExactSubstr, and equal
    * keys mean equal TOKENS, so a span is only ever scrubbed for a
    * real repeat — no hash-collision false scrubs, which is what
    * makes the removal exact rather than exact-with-probability-
    * 1-minus-2^-128. Trade (SCALE.md): the shuffle key widens from 32
    * hex chars to ~k tokens of text; at large k dictionary-encode
    * tokens to ints first, or accept the hash flavor's collision
    * bound. */
  def dedupTokenWindowsExact(df: DataFrame, idCol: String,
      textCol: String, k: Int, delim: String = " "): DataFrame =
    dedupTokenWindowsKeyed(df, idCol, textCol, k, delim,
      ws => suffixKeys(ws, k, delim))

  private def dedupTokenWindowsKeyed(df: DataFrame, idCol: String,
      textCol: String, k: Int, delim: String,
      keyArr: Column => Column): DataFrame = {
    require(k >= 2, "window must span at least 2 tokens")
    import org.apache.spark.sql.expressions.Window
    val esc = java.util.regex.Pattern.quote(delim)
    val toks = df.select(col(idCol), split(col(textCol), esc).as("__ws"))
    val wins = toks.select(col(idCol),
      posexplode(keyArr(col("__ws")))
        .as(Seq("wpos", "whash")))
    val w = Window.partitionBy(col("whash"))
      .orderBy(col(idCol), col("wpos"))
    val dups = wins.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("wpos"))).as("__dws"))
    toks.join(dups, Seq(idCol), "left")
      .select(col(idCol), col("__ws"),
        coalesce(col("__dws"), array().cast("array<int>")).as("__dws"))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_tokens"),
        tokensOutsideSpans(col("__ws"), col("__dws"), k).as("__kept"))
      .select(col(idCol), col("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), delim).as("text_deduped"))
  }

  /** Duplicated length-`L` window START positions — the shared first
    * half of the ExactSubstr family ([[repeatedSpans]] /
    * [[substringDedup]]): every L-token sliding window hashed
    * ([[windowHashes]]), per-hash (count, first-occurrence) computed
    * as ONE map-side-combinable aggregate, positions of duplicated
    * windows recovered by equi-join. Deliberately NO hash-partitioned
    * window function: a boilerplate window repeated 10^6 times would
    * make row_number sort a 10^6-row partition, while the aggregate
    * folds it to one (count, min-struct) row and the join back is a
    * plain shuffle equi-join AQE can skew-split.
    *
    * `keepFirst = false` (Lee et al. 2022 ExactSubstr, the released
    * deduplicate-text-datasets behavior): EVERY occurrence of a
    * window seen >= 2 times is a dup. `keepFirst = true`: the
    * canonical (lowest (id, wpos)) occurrence survives — the
    * [[dedupTokenWindows]] keep-one rule. */
  private def repeatedWindowStarts(toks: DataFrame, idCol: String,
      L: Int, delim: String, keepFirst: Boolean): DataFrame = {
    val wins = toks.select(col(idCol),
      posexplode(windowHashes(col("__ws"), L, delim))
        .as(Seq("wpos", "whash")))
    val stats = wins.groupBy(col("whash"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol), col("wpos"))).as("__first"))
      .where(col("__cnt") >= 2)
    val joined = wins.join(stats, "whash")
    (if (keepFirst)
      joined.where(struct(col(idCol), col("wpos")) =!= col("__first"))
    else joined)
      .select(col(idCol), col("wpos"))
  }

  /** Maximal repeated spans of length >= `L` tokens — the EXTEND step
    * of Lee et al. 2022's ExactSubstr deduplication, as a first-class
    * relation: duplicated L-windows ([[repeatedWindowStarts]]) merge
    * into maximal runs per document (two overlapping-or-adjacent dup
    * windows — next start <= previous start + L — belong to one
    * repeated region), each run reported with its full extent. A
    * repeated substring of length M >= L produces dup windows at
    * every start inside it, so the merged run recovers the maximal
    * extent EXACTLY — blocked anchor-hash + group + extend, never a
    * monolithic suffix array (the distributed answer to the paper's
    * single-node suffix-array build).
    *
    * Exact up to an md5 collision (2^-128/pair); the raw
    * [[suffixKeys]] flavor of the same algebra exists downstream in
    * [[dedupTokenWindowsExact]] when even that bound is unwanted.
    *
    * Shape: 1 map-combined agg + 1 equi-join + doc-partitioned
    * windows (partition = one doc's dup starts, bounded by doc
    * length). Output: (idCol, span_start, span_end, span_len,
    * n_windows) — token-index extents, end inclusive. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      L: Int, delim: String = " ",
      keepFirst: Boolean = false): DataFrame = {
    require(L >= 2, "repeatedSpans: L must span at least 2 tokens")
    import org.apache.spark.sql.expressions.Window
    val esc = java.util.regex.Pattern.quote(delim)
    val toks = df.select(col(idCol), split(col(textCol), esc).as("__ws"))
    val dups = repeatedWindowStarts(toks, idCol, L, delim, keepFirst)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("wpos"))
    dups
      .withColumn("__prev", lag(col("wpos"), 1).over(byDoc))
      .withColumn("__brk",
        when(col("__prev").isNull || col("wpos") > col("__prev") + L, 1)
          .otherwise(0))
      .withColumn("__g", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__g"))
      .agg(min(col("wpos")).cast("long").as("span_start"),
        (max(col("wpos")) + (L - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_windows"))
  }

  /** ExactSubstr DEDUPLICATION (Lee et al. 2022): remove every token
    * covered by a duplicated L-window, merge what survives. The
    * default `keepFirst = false` is the paper implementation's
    * remove-ALL-copies semantics — a substring of >= L tokens that
    * appears anywhere else in the corpus (any doc, including this
    * one) is scrubbed from every occurrence; `keepFirst = true`
    * recovers [[dedupTokenWindows]]'s keep-canonical rule from the
    * same plan (spec-pinned equal). Every input doc survives in the
    * output (possibly with empty text) — the LEFT-join restore
    * convention of the text family.
    *
    * Output: (idCol, n_tokens, n_spans, n_kept, text_deduped) —
    * n_spans counts the maximal repeated regions [[repeatedSpans]]
    * would report (computed here as a pure array expression over the
    * per-doc sorted dup starts: no second shuffle). */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      L: Int, delim: String = " ",
      keepFirst: Boolean = false): DataFrame = {
    require(L >= 2, "substringDedup: L must span at least 2 tokens")
    val esc = java.util.regex.Pattern.quote(delim)
    val toks = df.select(col(idCol), split(col(textCol), esc).as("__ws"))
    val dups = repeatedWindowStarts(toks, idCol, L, delim, keepFirst)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("wpos"))).as("__dws"))
    val ds = col("__dws")
    // element_at is 1-based, so index i probes the PREVIOUS element;
    // greatest(i, 1) keeps ANSI element_at off index 0 (SQL `or` does
    // not promise short-circuit order) — the i === 0 disjunct wins
    // before the harmless ds[1] probe matters
    val nSpans = size(filter(ds, (v, i) =>
      i === 0 || v > element_at(ds, greatest(i, lit(1))) + L))
    toks.join(dups, Seq(idCol), "left")
      .select(col(idCol), col("__ws"),
        coalesce(ds, array().cast("array<int>")).as("__dws"))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_tokens"),
        nSpans.cast("long").as("n_spans"),
        tokensOutsideSpans(col("__ws"), col("__dws"), L).as("__kept"))
      .select(col(idCol), col("n_tokens"), col("n_spans"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), delim).as("text_deduped"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    * SIGMOD'03 — the MOSS algorithm): from each window of `w`
    * consecutive k-gram hashes select the RIGHTMOST MINIMUM, then
    * dedupe selections. The index-compression lever over
    * [[windowHashIndex]]'s every-window posting: expected density
    * 2/(w+1) of all windows, WITH the paper's guarantee — any shared
    * token run of ≥ w+k−1 tokens between two documents shares at
    * least one selected fingerprint (both sides select the same
    * minimum inside the shared region), so containment detection
    * keeps a hard floor instead of LSH's probabilistic recall.
    *
    * Rightmost-minimum is the stateless tie rule: md5 hex strings
    * give a total lexicographic order shared verbatim by the oracle,
    * and the rightmost occurrence is `w − position-in-reversed-window`
    * — one array_position over the reversed slice, no sequential
    * state, identical in both engines. A document with fewer than `w`
    * windows (shorter than w+k−1 tokens) selects the minimum of ALL
    * its windows — one whole-doc window — so short docs still
    * fingerprint instead of vanishing.
    *
    * Pure per-row expression tree over the materialized hash array
    * (O(n·w) per doc) + one explode — batch and streaming legal, no
    * shuffle. Output: (id, fpos, fp) — 0-based window position and
    * the selected hash, distinct per doc. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, delim: String = " ",
      keep: Seq[Column] = Nil): DataFrame = {
    require(k >= 2, "k-grams must span at least 2 tokens")
    require(w >= 1, "winnow window must hold at least 1 hash")
    val esc = java.util.regex.Pattern.quote(delim)
    val h = col("__h")
    def winSel(start: Column, len: Column): Column = {
      val win = slice(h, start + 1, len)
      val m = array_min(win)
      struct((start + len - array_position(reverse(win), m))
        .cast("int").as("fpos"), m.as("fp"))
    }
    val sel =
      when(size(h) >= w,
        transform(sequence(lit(0), size(h) - w),
          j => winSel(j, lit(w))))
        .when(size(h) >= 1, array(winSel(lit(0), size(h))))
        .otherwise(array().cast("array<struct<fpos:int,fp:string>>"))
    val lead = col(idCol) +: keep
    df.select(lead :+ split(col(textCol), esc).as("__ws"): _*)
      .select(lead :+ windowHashes(col("__ws"), k, delim).as("__h"): _*)
      .select(lead :+ explode(array_distinct(sel)).as("__s"): _*)
      .select(lead :+ col("__s.fpos").as("fpos")
        :+ col("__s.fp").as("fp"): _*)
  }

  /** MOSS-style candidate pairs from shared winnowed fingerprints:
    * group by fingerprint (the blocking key — never all-pairs), drop
    * hashes shared by more than `maxBucket` docs (the mega-bucket /
    * df-cap guard: a boilerplate k-gram every doc contains is
    * evidence of nothing and would quadratically explode its bucket),
    * emit each co-occurring doc pair once with its shared-fingerprint
    * count — the triage score MOSS ranks matches by. Output:
    * (left_id, right_id, n_shared). */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxBucket: Int, delim: String = " "): DataFrame = {
    require(maxBucket >= 2, "maxBucket must allow at least a pair")
    winnowPairsOfDistinctFps(
      winnowFingerprints(df, idCol, textCol, k, w, delim)
        .select(col(idCol).as("__id"), col("fp")).distinct(),
      maxBucket)
  }

  /** [[winnowPairs]]' tail over an already-built distinct (doc, fp)
    * table — split out (r18) so [[winnowContainment]] can share ONE
    * fingerprint pass between the pair join and the per-doc budgets
    * instead of re-fingerprinting the corpus per consumer. */
  private def winnowPairsOfDistinctFps(fps: DataFrame,
      maxBucket: Int): DataFrame = {
    val capped = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"),
        collect_list(col("__id")).as("__ids"))
      .where(col("__df") <= maxBucket)
    capped
      .select(explode(col("__ids")).as("left_id"), col("fp"),
        col("__ids"))
      .select(col("left_id"), explode(col("__ids")).as("right_id"),
        col("fp"))
      .where(col("left_id") < col("right_id"))
      .groupBy(col("left_id"), col("right_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** MOSS percent-match report: [[winnowPairs]] normalized by each
    * side's fingerprint budget — containment = n_shared /
    * min(|fps_a|, |fps_b|), the score MOSS ranks submissions by (a
    * small doc fully contained in a big one scores ~1 where jaccard
    * would dilute it). n_shared counts CAP-SURVIVING shared
    * fingerprints while the denominators count ALL of each doc's
    * fingerprints, so boilerplate past the df-cap can only LOWER the
    * score — the triage stays conservative. Output: (left_id,
    * right_id, n_shared, n_a, n_b, containment). */
  def winnowContainment(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxBucket: Int, delim: String = " "): DataFrame = {
    require(maxBucket >= 2, "maxBucket must allow at least a pair")
    // ONE pinned fingerprint pass feeds both the pair join and the
    // per-doc budgets (un-pinned, the corpus was fingerprinted 3x:
    // r18 final-plan audit)
    val fpsD = winnowFingerprints(df, idCol, textCol, k, w, delim)
      .select(col(idCol).as("__id"), col("fp")).distinct()
      .localCheckpoint(true)
    val counts = fpsD
      .select(col("__id").as("__cid"), col("fp"))
      .groupBy(col("__cid")).agg(count(lit(1)).as("__nf"))
    winnowPairsOfDistinctFps(fpsD, maxBucket)
      .join(counts.select(col("__cid").as("left_id"),
        col("__nf").as("n_a")), "left_id")
      .join(counts.select(col("__cid").as("right_id"),
        col("__nf").as("n_b")), "right_id")
      .select(col("left_id"), col("right_id"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
          .as("containment"))
  }

  /** MOSS matched-SPAN report — [[winnowContainment]] sharpened from
    * whole-doc scores to the matched extents a contamination check
    * wants (WHICH eval paragraph leaked, not just "these docs
    * overlap"): shared fingerprints of a pair group by their
    * alignment shift `delta = left_fpos − right_fpos` (a verbatim
    * shared token run places the same selected minimum at the same
    * offset from each side's run start, so its fingerprints share one
    * delta), then consecutive same-delta matches merge into maximal
    * runs (winnowing selects at least one fingerprint per `w`
    * windows, so in-run neighbors are <= w apart; the merge gap
    * `w + k − 1` adds boundary slack). Each run is reported with both
    * sides' token extents.
    *
    * Detection floor (the winnowing guarantee's converse): a shared
    * run of >= w + k − 1 tokens yields >= 1 matched fingerprint;
    * interior selections agree on both sides, so the reported extent
    * under-covers the true shared span by at most w + k − 2 tokens at
    * each BOUNDARY — a floor, never an overstatement, and the spec
    * pins it on planted containment. Mega-bucket fingerprints drop
    * via the [[winnowPairs]] df-cap before any pair forms.
    *
    * Shape: fingerprint equi-join (blocking key = fp, the winnowPairs
    * plan) + pair-partitioned windows (partition = one pair's one
    * alignment — bounded by the shared run's fingerprint count).
    * Output: (left_id, right_id, delta, left_start, left_end,
    * right_start, right_end, span_len, n_fps); extents are token
    * indices, end inclusive (a fingerprint covers k tokens). */
  def winnowSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxBucket: Int, delim: String = " "): DataFrame = {
    require(maxBucket >= 2, "maxBucket must allow at least a pair")
    import org.apache.spark.sql.expressions.Window
    // pinned: referenced three times below (the df-cap distinct and
    // both sides of the alignment self-join) — un-pinned, the corpus
    // was fingerprinted 3x (r18 final-plan audit)
    val fps = winnowFingerprints(df, idCol, textCol, k, w, delim)
      .select(col(idCol).as("__id"), col("fpos"), col("fp"))
      .localCheckpoint(true)
    val cap = fps.select(col("__id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxBucket)
      .select(col("fp"))
    val capped = fps.join(cap, "fp")
    val pairs = capped.select(col("fp"), col("__id").as("left_id"),
        col("fpos").as("__lp"))
      .join(capped.select(col("fp"), col("__id").as("right_id"),
        col("fpos").as("__rp")), "fp")
      .where(col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id"), col("__lp"), col("__rp"),
        (col("__lp") - col("__rp")).as("delta"))
    val byAlign = Window
      .partitionBy(col("left_id"), col("right_id"), col("delta"))
      .orderBy(col("__lp"))
    val gap = w + k - 1
    pairs
      .withColumn("__prev", lag(col("__lp"), 1).over(byAlign))
      .withColumn("__brk",
        when(col("__prev").isNull || col("__lp") > col("__prev") + gap, 1)
          .otherwise(0))
      .withColumn("__g", sum(col("__brk")).over(byAlign
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("left_id"), col("right_id"), col("delta"), col("__g"))
      .agg(min(col("__lp")).cast("long").as("left_start"),
        (max(col("__lp")) + (k - 1)).cast("long").as("left_end"),
        count(lit(1)).as("n_fps"))
      .select(col("left_id"), col("right_id"),
        col("delta").cast("long").as("delta"),
        col("left_start"), col("left_end"),
        (col("left_start") - col("delta")).as("right_start"),
        (col("left_end") - col("delta")).as("right_end"),
        (col("left_end") - col("left_start") + 1).as("span_len"),
        col("n_fps"))
  }

  /** The persistable WINNOWED fingerprint index — [[windowHashIndex]]
    * at winnow granularity: one row per DISTINCT selected fingerprint
    * with its canonical (lowest (doc, pos)) occurrence, at an
    * expected 2/(w+1) of the full posting's rows while keeping the
    * w+k−1 detection guarantee. The production containment-detection
    * index (build once, persist, probe arrivals). */
  def winnowIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, delim: String = " "): DataFrame =
    winnowIndexOfFps(
      winnowFingerprints(df, idCol, textCol, k, w, delim), idCol)

  /** [[winnowIndex]]' canonical-election tail over an already-built
    * fingerprint posting — split out (r18) so a caller that needs
    * BOTH the index and the raw occurrences (the delete/vacuum loop)
    * can fingerprint the corpus once and share the frame. */
  def winnowIndexOfFps(fps: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col("fp"))
      .orderBy(col(idCol), col("fpos"))
    fps
      .withColumn("__rn", row_number().over(win))
      .filter(col("__rn") === 1)
      .select(col("fp"), col(idCol).as("corpus_id"),
        col("fpos").as("corpus_pos"))
  }

  /** Advance a persisted [[winnowIndex]] with newly-admitted docs —
    * the [[advanceWindowHashIndex]] contract verbatim: arrivals' own
    * canonical fingerprints anti-joined against what the index owns,
    * union in; idempotent; equals a rebuild over corpus ∪ arrivals
    * under the reserved-id contract (spec-pinned). */
  def advanceWinnowIndex(index: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, k: Int, w: Int,
      delim: String = " "): DataFrame =
    index.unionByName(
      winnowIndex(newDocs, idCol, textCol, k, w, delim)
        .join(index.select(col("fp")), Seq("fp"), "left_anti"))

  /** DELETE documents from a persisted canonical (key, corpus_id,
    * corpus_pos) index — the missing half of the advance loop
    * (takedowns, recrawls). A canonical index cannot delete by
    * anti-join alone: a key whose canonical OWNER dies may survive in
    * other documents, so its canonical must be RE-ELECTED — which
    * needs the per-document occurrence posting `occurrences`
    * (keyCol, idCol, posCol rows for every doc, the frame the build
    * aggregated; persist it bucketed by the key at build time so
    * deletes never re-read text). Three bounded steps: surviving
    * rows keep their slot (a surviving canonical is still the min
    * over survivors); orphaned keys (owned by a deleted doc) re-elect
    * min(struct(id, pos)) over SURVIVING occurrences of just those
    * keys (semi-join pruned — cost scales with the deleted fraction,
    * not the index); keys with no surviving occurrence drop. The
    * result is row-for-row the rebuild over corpus∖deleted
    * (spec-pinned), and delete commutes with advance under the
    * reserved-id contract. */
  private def deleteFromCanonicalIndex(index: DataFrame,
      occurrences: DataFrame, keyCol: String, idCol: String,
      posCol: String, deleted: DataFrame): DataFrame = {
    val dead = deleted.select(col(idCol)).distinct()
    // the USING-join can surface the join column first — re-project to
    // the index's own column order so union/compare stay positional-safe
    val keep = index.join(dead.select(col(idCol).as("corpus_id")),
        Seq("corpus_id"), "left_anti")
      .select(index.columns.map(col).toSeq: _*)
    val orphanKeys = index
      .join(dead.select(col(idCol).as("corpus_id")), Seq("corpus_id"),
        "left_semi")
      .select(col(keyCol))
    val reelect = occurrences
      .join(dead, Seq(idCol), "left_anti")
      .join(orphanKeys, Seq(keyCol), "left_semi")
      .groupBy(col(keyCol))
      .agg(min(struct(col(idCol), col(posCol))).as("__c"))
      .select(col(keyCol), col("__c")(idCol).as("corpus_id"),
        col("__c")(posCol).as("corpus_pos"))
    keep.unionByName(reelect.select(keep.columns.map(col).toSeq: _*))
  }

  /** [[deleteFromCanonicalIndex]] for [[winnowIndex]]: `occurrences`
    * is the [[winnowFingerprints]] posting (idCol, fpos, fp) of the
    * indexed corpus, `deleted` a one-column idCol frame. Equals
    * `winnowIndex(corpus∖deleted)` row-for-row. */
  def deleteFromWinnowIndex(index: DataFrame, occurrences: DataFrame,
      idCol: String, deleted: DataFrame): DataFrame =
    deleteFromCanonicalIndex(index, occurrences, "fp", idCol, "fpos",
      deleted)

  /** [[deleteFromCanonicalIndex]] for [[windowHashIndex]]:
    * `occurrences` is the every-window posting (idCol, wpos, whash)
    * the build exploded — [[windowPostings]] re-derives it from text
    * when no persisted copy exists. */
  def deleteFromWindowHashIndex(index: DataFrame,
      occurrences: DataFrame, idCol: String,
      deleted: DataFrame): DataFrame =
    deleteFromCanonicalIndex(index, occurrences, "whash", idCol, "wpos",
      deleted)

  /** The per-document window posting (idCol, wpos, whash) —
    * [[windowHashIndex]]'s pre-aggregation frame, exposed so builds
    * can persist the occurrence store the delete path re-elects from. */
  def windowPostings(df: DataFrame, idCol: String, textCol: String,
      k: Int, delim: String = " "): DataFrame = {
    require(k >= 2, "window must span at least 2 tokens")
    val esc = java.util.regex.Pattern.quote(delim)
    df.select(col(idCol), split(col(textCol), esc).as("__ws"))
      .select(col(idCol),
        posexplode(windowHashes(col("__ws"), k, delim))
          .as(Seq("wpos", "whash")))
  }

  /** The persistable window-hash index behind the INCREMENTAL form of
    * [[dedupTokenWindows]] — one row per DISTINCT window hash with its
    * canonical (lowest (doc, pos)) occurrence, the exactDupGroups-
    * index shape at span granularity. Build once over the corpus
    * (same single shuffle as the batch dedup), persist to parquet,
    * probe arrivals against it (StreamOps.incrementalWindowDupFlags);
    * advance = union new canonical hashes (arrival windows absent
    * from the index), the reserved-id contract as everywhere. */
  def windowHashIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int, delim: String = " "): DataFrame = {
    require(k >= 2, "window must span at least 2 tokens")
    import org.apache.spark.sql.expressions.Window
    val wins = windowPostings(df, idCol, textCol, k, delim)
    val w = Window.partitionBy(col("whash"))
      .orderBy(col(idCol), col("wpos"))
    wins.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("whash"), col(idCol).as("corpus_id"),
        col("wpos").cast("int").as("corpus_pos"))
  }

  /** Advance a persisted [[windowHashIndex]] with newly-admitted
    * documents — the maintenance half of the incremental window-dedup
    * loop (the advanceIvfPqIndex shape): the arrivals' own canonical
    * window occurrences, anti-joined against hashes the index already
    * owns, union in. Pure union — nothing over the existing index
    * recomputes — and idempotent (a replayed batch's hashes all
    * collide with what it already contributed). Equals a rebuild over
    * corpus ∪ arrivals under the reserved-id contract (arrival ids
    * sort AFTER every indexed id, so no arrival can steal an existing
    * hash's canonical slot — spec-pinned). */
  def advanceWindowHashIndex(index: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, k: Int,
      delim: String = " "): DataFrame =
    index.unionByName(
      windowHashIndex(newDocs, idCol, textCol, k, delim)
        .join(index.select(col("whash")), Seq("whash"), "left_anti"))

  /** Multinomial Naive-Bayes quality classifier FIT — the frozen
    * artifact of quality-classifier distillation: train a cheap
    * generative classifier on heuristic labels (e.g. [[gopherRules]]'
    * `keep`, or a curated-vs-crawl source flag) and score every
    * document with a calibrated log-odds instead of a brittle rule
    * conjunction. The model is one row per vocabulary token carrying
    * the add-1-smoothed log-likelihood ratio
    * ln P(tok|pos) − ln P(tok|neg), plus the class-prior log-ratio and
    * the out-of-vocabulary ratio as constant columns (the
    * scalar-subquery shape at scoring time). Everything is counts →
    * ln on exact integer-cast doubles (the selfInfoModel convention —
    * both engines feed ln bit-identical inputs), so the artifact is
    * exactly oracle-replayable. Vocabulary-bounded rows; fit cost is
    * ONE corpus scan + one hash aggregate. Both classes must be
    * non-empty (an empty class has no ln-defined prior — the caller
    * picks labels that bisect the corpus, as the gopher thresholds
    * do). Columns are internal-named (__ntok, __llr, __prior, __oov)
    * so scoring joins never collide with user data. */
  def nbQualityModel(df: DataFrame, textCol: String,
      labelCol: String): DataFrame = {
    val tok = df.select(col(labelCol).cast("boolean").as("__lab"),
      explode(TextFns.bpeishTokens(col(textCol))).as("__ntok"))
    val counts = tok.groupBy(col("__ntok")).agg(
      sum(when(col("__lab"), 1L).otherwise(0L)).as("__np"),
      sum(when(!col("__lab"), 1L).otherwise(0L)).as("__nn"))
    val tokTotals = counts.agg(
      sum(col("__np")).as("__tp"), sum(col("__nn")).as("__tn"),
      count(lit(1)).as("__v"))
    val docTotals = df.agg(
      sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
        .as("__dp"),
      sum(when(!col(labelCol).cast("boolean"), 1L).otherwise(0L))
        .as("__dn"))
    val lnD = (c: Column) => log(c.cast("double"))
    counts
      .crossJoin(broadcast(tokTotals))
      .crossJoin(broadcast(docTotals))
      .select(col("__ntok"), col("__np"), col("__nn"),
        ((lnD(col("__np") + 1) - lnD(col("__tp") + col("__v"))) -
          (lnD(col("__nn") + 1) - lnD(col("__tn") + col("__v"))))
          .as("__llr"),
        (lnD(col("__dp")) - lnD(col("__dn"))).as("__prior"),
        // an unseen token contributes count 0 to BOTH classes:
        // ln(1/(T_pos+V)) − ln(1/(T_neg+V)) — the add-1 floor
        (lnD(col("__tn") + col("__v")) - lnD(col("__tp") + col("__v")))
          .as("__oov"))
  }

  /** Score documents against a FROZEN [[nbQualityModel]] — the arrival
    * path: tokenize, LEFT-join the vocabulary-bounded model (Catalyst
    * broadcasts it), coalesce misses to the model's add-1 OOV ratio,
    * ONE hash aggregate per doc. log_odds = prior + Σ per-token
    * ratios; `predicted_keep` is its sign. Algebraic sum = the scale
    * default; ±ulp summation-order noise trades exactly as
    * selfInfoScore's (use the Portable flavor for bit-stable
    * cross-engine comparison). Output:
    * (id, n_tokens, n_oov, log_odds, predicted_keep).
    *
    * Edge semantics (engine-wide conventions, not accidents): a
    * document whose text tokenizes to ZERO tokens yields no explode
    * rows and therefore NO output row — the same drop every
    * tokenize-then-aggregate operator applies (selfInfoScore,
    * text_vocab/OOV); score it as unkeepable upstream if that matters.
    * An EMPTY model frame (violates [[nbQualityModel]]'s both-classes-
    * non-empty contract) empties the 1-row consts projection and with
    * it the whole result — garbage-in guard, not a silent-partial
    * hazard, since the model is a fit artifact the caller built. */
  def scoreAgainstNbModel(df: DataFrame, model: DataFrame, idCol: String,
      textCol: String): DataFrame =
    nbScoreAgg(df, model, idCol, textCol, (term, _) => sum(term))

  /** Oracle-portable flavor of [[scoreAgainstNbModel]]: the per-doc sum
    * from an ORDER-DETERMINISTIC fold over the sorted term list (the
    * sourceReportPortable convention) — per-doc state holds every
    * token's term, bounded by document length. */
  def scoreAgainstNbModelPortable(df: DataFrame, model: DataFrame,
      idCol: String, textCol: String): DataFrame =
    nbScoreAgg(df, model, idCol, textCol,
      (term, _) => aggregate(sort_array(collect_list(term)), lit(0.0), _ + _))

  /** Fit-on-self flavor — [[nbQualityModel]] on the scored corpus
    * itself, then score: the one-call operator for "distill my rule
    * gate into a classifier over this corpus". No position is OOV by
    * construction (n_oov ≡ 0, the spec anchor); the frozen-model pair
    * earns its keep on NEW arrivals. */
  def nbQualityScore(df: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame =
    // the model is PINNED: the scorer references it twice (consts +
    // term join) and exchange reuse does not fire across the two
    // (different projections) — un-pinned, the fit (with its corpus
    // scan) re-ran per reference (r18 final-plan audit: the nb family
    // carried 32 document scans per query). Vocabulary-bounded rows.
    scoreAgainstNbModel(df,
      nbQualityModel(df, textCol, labelCol).localCheckpoint(true),
      idCol, textCol)

  /** Portable fit-on-self flavor (the oracle mirror). */
  def nbQualityScorePortable(df: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame =
    // pinned for the same reason as [[nbQualityScore]]
    scoreAgainstNbModelPortable(df,
      nbQualityModel(df, textCol, labelCol).localCheckpoint(true),
      idCol, textCol)

  /** Shared body of the NB scoring flavors; `fold` builds the per-doc
    * term sum. The prior/OOV constants ride in on a broadcast 1-row
    * projection of the model (every model row carries them — the
    * scalar-subquery shape, same as the threshold joins). */
  private def nbScoreAgg(df: DataFrame, model: DataFrame, idCol: String,
      textCol: String, fold: (Column, Column) => Column): DataFrame = {
    val consts = model.select(col("__prior"), col("__oov")).limit(1)
    val terms = df
      .select(col(idCol),
        explode(TextFns.bpeishTokens(col(textCol))).as("__tok"))
      .join(model.select(col("__ntok"), col("__llr")),
        col("__tok") === col("__ntok"), "left")
      .crossJoin(broadcast(consts))
      .select(col(idCol), col("__prior"),
        coalesce(col("__llr"), col("__oov")).as("__term"),
        col("__llr").isNull.cast("long").as("__is_oov"))
    terms
      .groupBy(col(idCol), col("__prior"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__is_oov")).as("n_oov"),
        (col("__prior") + fold(col("__term"), count(lit(1))))
          .as("__lo"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        round(col("__lo"), 4).as("log_odds"),
        (col("__lo") > 0).as("predicted_keep"))
  }

  /** Shared body of the boilerplate flavors; `keepFrequent` applies the
    * threshold to the (line, n_docs) frequency table. */
  private def boilerplateDrop(df: DataFrame, idCol: String,
      textCol: String, delim: String,
      keepFrequent: DataFrame => DataFrame): DataFrame = {
    val esc = java.util.regex.Pattern.quote(delim)
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), esc)).as(Seq("pos", "line")))
    val frequent = keepFrequent(
      lines.select(col(idCol), col("line")).distinct()
        .groupBy(col("line")).agg(count(lit(1)).as("n_docs")))
      .select(col("line"))
    lines
      .join(broadcast(frequent), Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            sort_array(collect_list(struct(col("pos"), col("line")))),
            _.getField("line")),
          delim).as("text_clean"))
      // docs whose EVERY line was boilerplate drop out of the agg —
      // restore them with an empty text (removal is not a row filter)
      .join(df.select(col(idCol),
        size(split(col(textCol), esc)).cast("long").as("n_lines")),
        Seq(idCol), "right")
      .select(col(idCol), col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }
}
