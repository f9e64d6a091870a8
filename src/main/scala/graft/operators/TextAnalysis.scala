package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality signals, language ID, fingerprinting,
  * shingling. All pure `functions._` expressions — codegen'd, no UDFs,
  * embarrassingly parallel (no shuffle), so they scale linearly with
  * input splits at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokenization (the only tokenizer the synthetic corpus
    * needs; a BPE-ish regex variant is [[regexTokens]]). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish pre-tokenizer: words, numbers, or single punctuation. */
  def regexTokens(text: Column): Column =
    // Drop ALL-whitespace fragments with a \s class check — `trim`
    // strips only spaces, so a lone tab/newline split fragment would
    // otherwise survive as a "token" (and diverge from any count of
    // alnum runs + non-space punctuation, e.g. the t30 oracle).
    filter(split(text, "(?=[^\\p{L}\\p{N}])|(?<=[^\\p{L}\\p{N}])"),
      t => length(regexp_replace(t, "\\s", "")) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  def avgTokenLen(text: Column): Column =
    length(regexp_replace(text, "\\s", "")).cast("double") /
      tokenCount(text).cast("double")

  /** Character-class ratios over the raw text. */
  def charRatio(text: Column, charClassRe: String): Column =
    when(length(text) === 0, 0.0).otherwise(
      (length(text) - length(regexp_replace(text, charClassRe, ""))).cast("double") /
        length(text).cast("double"))

  def digitRatio(text: Column): Column = charRatio(text, "[0-9]")
  def punctRatio(text: Column): Column = charRatio(text, "[\\p{Punct}]")
  def spaceRatio(text: Column): Column = charRatio(text, "\\s")

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val ts = tokens(text)
    size(filter(ts, t => t.isInCollection(stopwords))).cast("double") /
      size(ts).cast("double")
  }

  /** A simple document quality score in [0,1]: rewards stopword
    * presence and sane token lengths, penalizes digit/punct noise
    * (the length/punct/stopword-ratio family used by corpus filters). */
  def qualityScore(text: Column): Column = {
    val stop = least(stopwordRatio(text) * 5.0, lit(1.0)) // ≥20% stopwords → full marks
    val lenOk = when(avgTokenLen(text).between(2.0, 12.0), 1.0).otherwise(0.3)
    val noise = greatest(lit(0.0), lit(1.0) - (digitRatio(text) + punctRatio(text)) * 3.0)
    round((stop * 0.4 + lenOk * 0.3 + noise * 0.3), 6)
  }

  /** Language-ID heuristic: non-ASCII script check, then stopword
    * profiles with a deterministic preference ladder (en ≥ de ≥ es ≥
    * fr). Mirrors are SQL-expressible for the oracle. */
  def langId(text: Column): Column = {
    val ts = tokens(lower(text))
    def score(words: Seq[String]) = size(filter(ts, t => t.isInCollection(words)))
    val en = score(Seq("the", "a", "of", "to", "and", "is", "in"))
    val de = score(Seq("der", "die", "das", "und", "ist", "nicht"))
    val es = score(Seq("el", "los", "las", "que", "por", "una"))
    val fr = score(Seq("le", "les", "des", "et", "une", "est"))
    when(text.rlike("[^\\x00-\\x7F]"), "other")
      .when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Whitespace-normalized lowercase form used for fingerprinting.
    * Collapse-THEN-trim, matching [[graft.sources.CorpusReader]]'s
    * doc_id derivation: `trim` strips only spaces (in both Spark and
    * DuckDB), so trimming first would leave edge `\n`/`\t` to become
    * stray spaces after the collapse — and a text-sink round trip
    * (which appends a final newline) would then change the
    * fingerprint while the doc keeps its content-addressed id. One
    * normalization order everywhere keeps doc_id == fingerprint(text)
    * an invariant. */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Content fingerprint of the normalized text (md5 — stable across
    * engines; a cheap 64-bit variant is [[fingerprint64]]). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Unicode-canonical form: NFKC compatibility fold (ligatures,
    * full-width forms), accent strip, locale-free lowercase,
    * whitespace collapse — the cross-script upgrade of [[normalized]]
    * for corpora where "the same text" differs only in rendering
    * (one kernel pass per row;
    * [[graft.functions.HashExpressions.NormalizeUtf8]]). */
  def normalizedUnicode(text: Column): Column =
    graft.functions.HashExpressions.normalize_utf8(text)

  /** md5 fingerprint of [[normalizedUnicode]] — the dedup key that
    * treats accent/case/width/ligature variants as copies. */
  def fingerprintUnicode(text: Column): Column = md5(normalizedUnicode(text))

  /** xxhash64 fingerprint — the cheap in-engine form for shuffles/keys. */
  def fingerprint64(text: Column): Column = xxhash64(normalized(text))

  /** Winnowing fingerprint set (rolling-hash k-grams, window minima):
    * overlap between two documents' sets localizes shared passages —
    * the passage-level dedup signal a whole-document digest can't give.
    * See [[graft.functions.HashExpressions.Winnow]]. */
  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 4,
      md5Parity: Boolean = false): Column =
    graft.functions.HashExpressions.winnow(normalized(text), k, w, md5Parity)

  /** k-word shingles of the token stream; documents shorter than k
    * tokens contribute their whole (normalized) token string as a
    * single shingle. Distinct-ified (set semantics for Jaccard).
    *
    * Built by zipping k shifted views of the token array — array-level
    * operations only, so the tokenizer runs k+1 times per ROW. (The
    * index-lambda formulation `element_at(tokens, i+j)` re-evaluates
    * the split per shingle element — ~60× slower on real documents.)
    * zip_with pads the shorter side with null and `concat` propagates
    * it, so padded tails drop out in the filter. */
  def wordShingles(text: Column, k: Int): Column =
    graft.functions.HashExpressions.ngrams(tokens(text), k, distinct = true)

  /** Like [[wordShingles]] but keeps duplicate shingles (multiset
    * semantics) — repetition analysis needs exactly the counts that the
    * set form erases. */
  def wordShinglesAll(text: Column, k: Int): Column =
    graft.functions.HashExpressions.ngrams(tokens(text), k, distinct = false)

  /** Per-document n-gram novelty: the fraction of a document's k-word
    * shingles appearing in NO other document — the curation signal
    * orthogonal to duplication (template soup scores near 0, fresh
    * content near 1). Scale shape: text never shuffles — shingles
    * reduce to md5 fingerprints at the scan, one (fp → distinct-doc
    * count) aggregate, one narrow fp join back; both sides are
    * fixed-width keys and the agg side is one row per distinct shingle
    * regardless of corpus size. Returns (idCol, n_shingles, n_novel,
    * novelty_ppm) — the ppm is an integer so the audit hashes exactly
    * across engines (t24's gate; property-tested vs an in-memory
    * reference in PropertySpec). */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    // fingerprints are the RAW 16-byte digest (unhex), not the 32-char
    // hex string: the fp column is internal (outputs are counts), and
    // halving the key halves the bytes of both fp-keyed exchanges
    // below. Tracked/cached: ds feeds the df-count aggregate AND the
    // join probe side — uncached, the corpus shingle explode runs
    // twice. Fixed-width (id, 16 B) rows, spill-backed, released per
    // run.
    val ds = OpCaches.track(df
      .select(col(idCol), explode(wordShingles(col(textCol), k)).as("_s"))
      .select(col(idCol), unhex(md5(col("_s"))).as("_fp")))
    // (id, fp) pairs are UNIQUE by construction (wordShingles is
    // distinct-ified per document), so the docs-per-shingle count is a
    // plain count — countDistinct would rebuild that distinctness with
    // an extra (fp, id) aggregate layer before the exchange for nothing
    val fpc = ds.groupBy(col("_fp"))
      .agg(count(lit(1)).as("_nd"))
    ds.join(fpc, "_fp")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_nd") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col(idCol), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles") * 1e6)
          .cast("long").as("novelty_ppm"))
  }

  /** Pure-builtin shingle reference (k-1 chained zip_with lambdas) —
    * kept as the cross-check for the NGrams expression in tests; the
    * HOF lambdas evaluate interpreted per element, so the hot paths use
    * [[wordShingles]]/[[wordShinglesAll]] instead. */
  def wordShinglesHof(text: Column, k: Int, distinct: Boolean = true): Column = {
    val ts = tokens(text)
    val n = size(ts)
    val shifted = (1 until k).map(j => slice(ts, lit(j + 1), greatest(n - j, lit(0))))
    val combined = shifted.foldLeft(ts)((acc, s) =>
      zip_with(acc, s, (a, b) => concat(a, lit(" "), b)))
    val sh = filter(combined, x => x.isNotNull)
    val all = when(n >= k, sh).otherwise(array(concat_ws(" ", ts)))
    if (distinct) array_distinct(all) else all
  }

  /** Exact Jaccard similarity of two (distinct) shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter).cast("double")
  }

  // ------------------------------------------------------- PII redaction

  /** (tag, regex) pairs applied in order by [[redactPii]]. Patterns are
    * deliberately RE2-compatible (no backrefs/lookarounds) so the same
    * strings run in Java regex and RE2-family engines identically.
    * EMAIL runs before URL so an address is tagged even when a URL
    * follows it in the fold. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "EMAIL" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "URL" -> "https?://[\\w./-]+",
    "PHONE" -> "\\+\\d{1,2}[ -]\\d{3}-\\d{4}",
    "IP" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")

  /** Replace each PII match with its `[TAG]` — pure map-side
    * `regexp_replace` fold, codegen'd, no shuffle: scales linearly with
    * input splits. */
  def redactPii(text: Column,
      patterns: Seq[(String, String)] = piiPatterns): Column =
    patterns.foldLeft(text) { case (c, (tag, re)) =>
      regexp_replace(c, re, s"[$tag]")
    }

  /** Number of matches of `re` in the raw text. */
  def countPattern(text: Column, re: String): Column =
    regexp_count(text, lit(re)).cast("long")

  // -------------------------------------------------------------- markup

  /** A markup tag: '<', a non-'>' run, '>'. RE2-compatible like
    * [[piiPatterns]], so external engines replay it byte-identically. */
  val markupTagRe = "<[^>]*>"

  /** An opening anchor tag — the numerator of link-density signals. */
  val anchorTagRe = "<a [^>]*>"

  /** Markup stripped from web-scraped text (tags removed; entity
    * decoding is out of scope for a regex pass). Pure map-side
    * `regexp_replace`, codegen'd, no shuffle. */
  def stripMarkup(text: Column): Column =
    regexp_replace(text, markupTagRe, "")

  /** Fraction of raw characters that are markup — the C4/Gopher-style
    * "mostly chrome" page signal. 0 for markup-free text; null only on
    * empty input. */
  def markupCharFrac(text: Column): Column =
    (length(text) - length(stripMarkup(text))).cast("double") / length(text)

  // ------------------------------------------------------------- chunking

  /** Context-window chunking: split each doc's token stream into
    * `chunkSize`-token windows starting every `stride` tokens
    * (overlapping when stride < chunkSize) — the sliding-window prep
    * that turns documents into LM training sequences. Pure map-side
    * sequence/posexplode/slice: no shuffle, output rows ≈
    * tokens/stride per doc, embarrassingly parallel at any corpus
    * size. Returns (idCol, chunk_idx, chunk_tokens). */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1, "chunkSize and stride must be >= 1")
    df.withColumn("_ts", tokens(col(textCol)))
      .select(col(idCol), col("_ts"),
        posexplode(sequence(lit(0), greatest(size(col("_ts")) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_idx", "_start")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("_ts"), col("_start") + 1, lit(chunkSize)).as("chunk_tokens"))
  }

  // --------------------------------------------------------------- tf-idf

  /** Top-k tf-idf terms per document: tf = term count in doc, idf =
    * ln(N / df). Two shuffle aggregations (doc-term tf, then term df)
    * plus one UNHINTED equi-join of the df table back onto tf — the
    * vocab table is usually orders of magnitude smaller than the
    * corpus, and AQE broadcasts it when its measured size allows; but
    * it is data-derived (Heaps' law on a raw crawl), so no explicit
    * `broadcast()` hint, which would be honored regardless of size
    * and fail with a broadcast limit instead of falling back.
    * Ranking is on the ROUNDED score with the term as tiebreak, so
    * downstream hash-comparison is engine-independent. `docCount` is
    * one distributed count job, passed in as a literal. */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int,
      docCount: Long, roundTo: Int = 6): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("tfidf",
        round(col("tf") * log(lit(docCount.toDouble) / col("df")), roundTo))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"),
        col("term"), col("tfidf"))
  }

  // ------------------------------------------------------- bigram LM

  /** Lowercased token bigrams as (w1, w2) structs — row-local, no
    * shuffle: the two shifted slices of one token array zipped
    * together. Empty for docs with fewer than two tokens. */
  def bigrams(text: Column): Column = {
    val t = tokens(lower(text))
    val n = greatest(size(t) - 1, lit(0))
    zip_with(slice(t, lit(1), n), slice(t, lit(2), n),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** Bigram language-model scoring — the KenLM/CCNet-style perplexity
    * quality filter: train add-k-smoothed bigram probabilities
    * P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V) on `train`, then score each
    * doc in `docs` by its mean negative log-likelihood (low = fluent /
    * in-domain, high = noise). `vocabSize` (V = distinct train tokens)
    * ships as a plan literal from one driver-side agg job.
    *
    * Scale shape: both count tables are corpus-sized, so the score
    * joins are shuffle hash/sort-merge on fixed-width word keys with
    * map-side partial counts on both builds — nothing is collected or
    * broadcast. Unseen bigrams/contexts coalesce to 0 (the smoothing
    * keeps the log finite), so held-out scoring works unchanged. The
    * final per-doc mean shuffles only (id, logp). */
  def bigramLmScore(docs: DataFrame, train: DataFrame, idCol: String,
      textCol: String, vocabSize: Long, addK: Double = 0.5,
      roundTo: Int = 6): DataFrame = {
    def explodedBigrams(df: DataFrame, extra: Column*): DataFrame =
      df.select(extra :+ explode(bigrams(col(textCol))).as("_bg"): _*)
        .select(extra :+ col("_bg.w1").as("w1") :+ col("_bg.w2").as("w2"): _*)
    // NOT operator-cached, measured (r15): consumed twice, but
    // exchange reuse dedups the train-side aggregate's shuffle within
    // the job; caching was measured slower (t11 0.76→0.99 s at sf0.1).
    val bigramCounts = explodedBigrams(train)
      .groupBy("w1", "w2").agg(count(lit(1)).as("_cb"))
    // context (unigram) counts derive from the bigram aggregate: every
    // train token appears as w1 exactly once except each doc's last,
    // which a row-level projection counts without a second explode —
    // so the heavy token-stream shuffle happens once, and this branch
    // shuffles vocab-bounded aggregates instead of O(corpus tokens)
    val lastTokCounts = train
      .select(element_at(tokens(lower(col(textCol))), -1).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("_cl"))
    val contextCounts = bigramCounts
      .groupBy("w1").agg(sum(col("_cb")).as("_c1"))
      .join(lastTokCounts, Seq("w1"), "full_outer")
      .select(col("w1"),
        (coalesce(col("_c1"), lit(0L)) + coalesce(col("_cl"), lit(0L))).as("_cu"))
    explodedBigrams(docs, col(idCol))
      .join(bigramCounts, Seq("w1", "w2"), "left")
      .join(contextCounts, Seq("w1"), "left")
      .withColumn("_lp",
        log((coalesce(col("_cb"), lit(0L)) + lit(addK)) /
          (coalesce(col("_cu"), lit(0L)) + lit(addK * vocabSize))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(col("_lp")), roundTo).as("avg_nll"))
  }

  // ------------------------------------------------------------ BM25

  /** BM25 keyword retrieval — top-k docs for a bag of query terms
    * (Robertson/Sparck-Jones idf, k1/b length normalization).
    * `docCount` and `avgDl` ship as plan literals from one driver-side
    * agg job over the corpus.
    *
    * Scale shape: the token explode filters to the query's terms
    * BEFORE any shuffle, so only matching (id, term) rows leave the
    * map side — selectivity |terms|/|vocab|; df is a tiny per-term
    * aggregate that broadcasts back; doc length joins on the id key;
    * the global top-k is TakeOrderedAndProject (per-partition heaps,
    * k rows to the driver), never a full sort. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, docCount: Long, avgDl: Double,
      k1: Double = 1.2, b: Double = 0.75, roundTo: Int = 4): DataFrame = {
    val dl = docs.select(col(idCol), tokenCount(col(textCol)).cast("double").as("_dl"))
    val tf = docs
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .filter(col("term").isInCollection(queryTerms))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("_tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("_df"))
    tf.join(broadcast(dfreq), "term")
      .join(dl, idCol)
      .withColumn("_idf",
        log((lit(docCount.toDouble) - col("_df") + 0.5) / (col("_df") + 0.5) + 1))
      .withColumn("_s",
        col("_idf") * (col("_tf") * (k1 + 1)) /
          (col("_tf") + lit(k1) * (lit(1 - b) + lit(b) * col("_dl") / avgDl)))
      .groupBy(col(idCol))
      .agg(round(sum(col("_s")), roundTo).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Order-preserving within-document token dedup: each token keeps
    * its FIRST occurrence, later repeats are dropped — the "unique
    * word sequence" normalization some near-dup pipelines use as a
    * repetition-insensitive document signature (a doc and its
    * copy-paste-inflated variant collapse to the same key, unlike a
    * raw fingerprint, and unlike a sorted bag it still distinguishes
    * word order).
    *
    * Row-local (no shuffle). The indexed-lambda filter is O(n²) per
    * document in the token count; for signature use, cap the input
    * with [[chunk]]-style slicing first if documents are huge.
    *
    * `toks` must be a materialized array column (bind [[tokens]] via
    * `withColumn` first), NOT the `split(...)` expression itself: a
    * non-attribute argument referenced inside an indexed lambda is
    * re-evaluated per element, turning O(n²) contains-checks into
    * O(n²) full re-splits. */
  def uniqueTokens(toks: Column): Column =
    // keep token i (0-based) iff it does not appear among tokens [0, i)
    filter(toks, (t, i) => !array_contains(slice(toks, lit(1), i), t))

  /** [[uniqueTokens]] rejoined to a signature string. */
  def uniqueTokenSeq(toks: Column): Column = array_join(uniqueTokens(toks), " ")

  // ------------------------------------------- encoding-quality signals
  // Mojibake / transcoding-damage detection for web-crawl curation: a
  // document that went through a wrong-charset decode carries U+FFFD
  // replacement characters; binary spill shows up as C0/C1 control
  // bytes. All row-local length arithmetic — no shuffle, no UDF.

  /** Count of U+FFFD REPLACEMENT CHARACTER occurrences (each one marks
    * an undecodable byte sequence in some upstream decode). */
  def replacementCharCount(text: Column): Column =
    (length(text) - length(replace(text, lit("�"), lit("")))).cast("long")

  /** Count of control characters other than tab/newline/carriage-return
    * (C0 minus whitespace, plus DEL) — text that should never appear in
    * clean prose. */
  def controlCharCount(text: Column): Column =
    (length(text) -
      length(regexp_replace(text,
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""))).cast("long")

  /** Fraction of characters in the 7-bit ASCII range — a cheap prior
    * for charset sanity on corpora expected to be mostly Latin-script. */
  def asciiRatio(text: Column): Column =
    length(regexp_replace(text, "[^\\x00-\\x7F]", "")) / length(text)

  /** Shannon entropy (bits/code point) of the character distribution —
    * the information-density signal for filtering degenerate text
    * (repeated-char filler, keyboard mashing). Runs as the row-local
    * [[graft.functions.HashExpressions.CharEntropy]] kernel; SQL name
    * `char_entropy`. */
  def charEntropy(text: Column): Column =
    graft.functions.HashExpressions.char_entropy(text)

  /** Pairwise source-divergence matrix: Jensen-Shannon divergence (nats)
    * between each source pair's smoothed unigram distributions over the
    * corpus-wide top-`vocabSize` vocabulary (deterministic heap cut:
    * rank by count DESC, then word). Add-`alpha` smoothing over the
    * FIXED vocab makes every probability strictly positive, so the
    * formula is total; 0 = identical word mix, ln 2 = disjoint support.
    * The number a dataset card quotes for "how different are my slices"
    * and a mixture planner reads before setting weights.
    *
    * Scale shape: the corpus-sized work is one token explode into a
    * map-side-combined (word → count) aggregate; everything after runs
    * on a |sources| × vocabSize grid with the vocab broadcast. Output:
    * (source_a, source_b, js_div) for a < b, js_div rounded to 6 dp
    * (the two Σ p·ln(p/m) sums are unordered double reductions — the
    * rounding grain absorbs sum-order ulp drift). */
  def sourceDivergenceMatrix(docs: org.apache.spark.sql.DataFrame,
      sourceCol: String, textCol: String, vocabSize: Int = 200,
      alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    require(vocabSize >= 1, s"vocabSize=$vocabSize must be >= 1")
    require(alpha > 0, s"alpha=$alpha must be positive (zero probabilities " +
      "would make the KL terms partial)")
    val tok = docs.select(col(sourceCol).as("_src"),
      explode(tokens(col(textCol))).as("word"))
    // Exactly TWO corpus scans, however many times the plan references
    // the counts (the naive DAG re-derived the corpus aggregate per
    // reference — 10 scans observed at 2 pair-join branches × 5 uses):
    //   scan 1 — global word counts, TakeOrdered heap cut, and the
    //     ≤vocabSize words collect to the driver (bounded, the
    //     IvfIndex-training-collect pattern) to become a literal
    //     filter;
    //   scan 2 — the (source, in-vocab word) counts, a ≤|sources| ×
    //     vocabSize frame cached via OpCaches so the grid join and both
    //     pair-join branches reuse it instead of rescanning.
    val vocabWords: Array[String] = tok.groupBy(col("word"))
      .agg(count(lit(1)).as("_n"))
      .orderBy(col("_n").desc, col("word"))
      .limit(vocabSize)
      .select(col("word")).collect().map(_.getString(0))
    val vocab = docs.sparkSession
      .createDataset(vocabWords.toSeq)(org.apache.spark.sql.Encoders.STRING)
      .toDF("word")
    val cnt = OpCaches.track(
      tok.filter(col("word").isin(vocabWords.toSeq: _*))
        .groupBy(col("_src"), col("word"))
        .agg(count(lit(1)).as("_nsw")))
    val tot = cnt.groupBy(col("_src")).agg(sum(col("_nsw")).as("_ns"))
    val grid = tot.crossJoin(broadcast(vocab))
    val p = grid.join(cnt, Seq("_src", "word"), "left")
      .select(col("_src"), col("word"),
        ((coalesce(col("_nsw"), lit(0L)).cast("double") + alpha) /
          (col("_ns").cast("double") + alpha * vocabSize)).as("_p"))
    val a = p.select(col("_src").as("source_a"), col("word"),
      col("_p").as("_pa"))
    val b = p.select(col("_src").as("source_b"), col("word"),
      col("_p").as("_pb"))
    // the pair join runs over the |sources| × vocabSize grid — bounded
    // by construction, so broadcast it rather than letting a size
    // estimate pick a sort-merge join over two re-computed branches
    a.join(broadcast(b), Seq("word"))
      .filter(col("source_a") < col("source_b"))
      .withColumn("_m", (col("_pa") + col("_pb")) / 2)
      .groupBy(col("source_a"), col("source_b"))
      .agg(round(
        sum(col("_pa") * log(col("_pa") / col("_m"))) * 0.5 +
          sum(col("_pb") * log(col("_pb") / col("_m"))) * 0.5,
        6).as("js_div"))
  }

  /** Kneser–Ney-smoothed bigram scorer — the production upgrade of the
    * add-k model ([[bigramLmScore]]): absolute discount with the
    * EXACT-RATIONAL d = 3/4, continuation probability from bigram-type
    * counts. Every probability is then a ratio of integers,
    *
    *   P(w|v) = [max(4·c(vw)−3, 0)·B + 3·N1+(v·)·N1+(·w)]
    *            / [4·c(v·)·B]
    *
    * (B = distinct bigram types in train), so the per-bigram score
    * ships as the exact integer `floor(10⁶·num/den)` and the per-doc
    * sum is exact — SQL-replayable with no float variance anywhere
    * (the q48 lesson applied from the start). Scoring contract: a doc
    * bigram is scored iff its context v AND continuation w were both
    * seen in train (c(v·) > 0 and N1+(·w) > 0) — there is no unigram
    * back-off level in a bigram-only model, so out-of-model bigrams
    * are skipped rather than given an arbitrary floor; `n_bigrams`
    * counts what was scored. Exactness domain: the per-bigram
    * numerator is ≤ 7·T²·10⁶ for T train tokens, which overflows
    * int64 at T ≈ 1.1·10⁶ — and Spark with ANSI off WRAPS long
    * overflow silently while the DuckDB oracle errors, so the ratio
    * is computed in DECIMAL(38,0) (the q01 escape hatch): exact to
    * T ≈ 5·10¹⁵, i.e. any conceivable corpus. `DIV` on decimals
    * still returns BIGINT, so the gated output schema is unchanged.
    *
    * Scale shape: one train-side token-stream aggregate (the only
    * corpus-sized shuffle). `ctx` (keyed by w1) and `cont` (keyed by
    * w2) are vocab-bounded model tables and broadcast; `cb` — the
    * bigram-TYPE table — is NOT vocab-bounded (it grows with train
    * tokens under Heaps' law, the same shape [[bigramLmScore]]
    * refuses to broadcast), so its join carries no hint: AQE
    * broadcasts it when measured-small, shuffles otherwise. The B
    * scalar rides the plan as a 1-row broadcast cross join (the hits
    * L1-totals pattern) — never a separate driver count job. */
  def knBigramScore(docs: DataFrame, train: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def explodedBigrams(df: DataFrame, extra: Column*): DataFrame =
      df.select(extra :+ explode(bigrams(col(textCol))).as("_bg"): _*)
        .select(extra :+ col("_bg.w1").as("w1") :+ col("_bg.w2").as("w2"): _*)
    // NOT operator-cached, measured (r15): cb feeds four consumers,
    // but within one job exchange reuse dedups its shuffle, and
    // caching it was measured slower (t37 1.09→1.36 s at sf0.1).
    val cb = explodedBigrams(train).groupBy("w1", "w2")
      .agg(count(lit(1)).as("_cb"))
    val ctx = cb.groupBy("w1")
      .agg(sum(col("_cb")).as("_cv"), count(lit(1)).as("_n1f"))
    val cont = cb.groupBy("w2").agg(count(lit(1)).as("_n1b"))
    // B (distinct bigram types) as a 1-row broadcast scalar IN the
    // plan, not a separate driver count job: cb.count() was its own
    // action, paying the whole train-side explode + aggregate once
    // more before the scoring job even started (and a job boundary
    // can never share exchanges). A 1-row cross join costs one
    // broadcast of 8 bytes and keeps every consumer in one job.
    val bt = cb.agg(count(lit(1)).as("_bt"))
    explodedBigrams(docs, col(idCol))
      .join(broadcast(ctx), Seq("w1"))
      .join(broadcast(cont), Seq("w2"))
      .join(cb, Seq("w1", "w2"), "left")
      .crossJoin(broadcast(bt))
      .withColumn("_kn_ppm", expr(
        """(CAST(1000000 AS DECIMAL(38,0)) *
             (CAST(greatest(4 * coalesce(_cb, CAST(0 AS BIGINT)) - 3,
                 CAST(0 AS BIGINT)) AS DECIMAL(38,0))
                * CAST(_bt AS DECIMAL(38,0))
              + CAST(3 AS DECIMAL(38,0)) * CAST(_n1f AS DECIMAL(38,0))
                * CAST(_n1b AS DECIMAL(38,0))))
          DIV (CAST(4 AS DECIMAL(38,0)) * CAST(_cv AS DECIMAL(38,0))
               * CAST(_bt AS DECIMAL(38,0)))"""))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("_kn_ppm")).as("kn_ppm_sum"))
  }

  /** Fixed-round, deterministic logistic-regression training over
    * ready-made feature columns — the fastText-style quality-classifier
    * production step (t17/t32/c01 SCORE with fixed coefficients; this
    * is where such coefficients come from). Plain batch gradient
    * descent, `iters` rounds, zero init:
    *
    *   w ← w − lr · avg_docs( (σ(w·x) − y) · x )
    *
    * Returns the coefficient vector (intercept first). Every round is
    * ONE narrow aggregate over the checkpointed feature frame (map-side
    * partials; only the |w|+1 partial sums cross the shuffle) and a
    * 1-row collect — the model-parameter pattern; the round body is
    * plan-audited via [[IterTrace]] ("logit_gd"). Fully deterministic:
    * the feature frame is coalesced to ONE partition before the
    * checkpoint, so each round's `avg` folds the doubles in a single
    * fixed order — partition-count changes (bigger sf, different
    * shuffle settings) cannot re-associate the float sums and flake
    * the 6-dp coefficient gate. The frame is |w|+2 doubles per doc —
    * at a corpus size where one partition of doubles is a problem,
    * the 12-round 1-row-collect pattern is the wrong trainer anyway
    * (sample the feature frame first). */
  def trainLogisticGd(feats: DataFrame, featCols: Seq[String],
      labelCol: String, iters: Int, lr: Double): Seq[Double] = {
    require(iters >= 1 && featCols.nonEmpty)
    val f = feats
      .select((labelCol +: featCols).map(c => col(c).cast("double")): _*)
      .coalesce(1)
      .localCheckpoint(false) // lazy: round 1's head() materializes it
    var w = Vector.fill(featCols.size + 1)(0.0)
    for (_ <- 1 to iters) {
      val z = featCols.zipWithIndex.foldLeft(lit(w(0))) {
        case (acc, (c, i)) => acc + lit(w(i + 1)) * col(c) }
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val g = IterTrace.record("logit_gd",
        f.select(
          avg(p - col(labelCol)).as("g0") +:
            featCols.zipWithIndex.map { case (c, i) =>
              avg((p - col(labelCol)) * col(c)).as(s"g${i + 1}") }: _*))
        .head()
      w = w.indices.map(i => w(i) - lr * g.getDouble(i)).toVector
    }
    w
  }
}
