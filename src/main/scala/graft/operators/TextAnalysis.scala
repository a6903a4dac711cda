package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * Everything here is a composition of built-in (codegen'd) expressions —
  * no UDFs — so each operator is a narrow map over the text column:
  * embarrassingly parallel, no shuffle, scales linearly to 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  // explicit class, not \s: Java \s also matches vertical tab (U+000B),
  // RE2 (DuckDB, and most non-JVM engines) does not — the oracle SQL
  // uses \s, so the Spark side must match RE2's definition exactly or a
  // U+000B in any document silently diverges every token-derived result
  def tokens(text: Column): Column = split(trim(text), "[ \t\n\f\r]+")

  /** Evaluate `e` ONCE per row and hand the result to `f` as a bound
    * lambda variable. Spark performs no common-subexpression
    * elimination inside higher-order-function lambdas, so an expensive
    * expression referenced from a `transform`/`filter` lambda body is
    * re-evaluated on EVERY element — a gram builder that slices
    * `split(text)` inside its lambda re-runs the regex split once per
    * gram, O(tokens²) per document (measured 5.6 s → 0.9 s on the
    * sf0.1 bigram-stats gate). Binding through a one-element
    * `transform` makes the value a lambda attribute: computed once,
    * then only referenced. Null rides through unchanged (`array(e)`
    * yields a one-null array and `f` sees the null, exactly as if
    * inlined).
    */
  private[graft] def bindOnce(e: Column, f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** BPE-ish subword count: split on word/non-word boundaries the way a
    * byte-pair tokenizer fragments text (letters runs, digit runs, and
    * punctuation all count) — a cheap upper estimate of token cost.
    */
  def bpeishTokenCount(text: Column): Column =
    size(filter(split(text, "(?<=[^\\p{L}\\p{N}])|(?=[^\\p{L}\\p{N}])"),
      t => length(trim(t)) > 0))

  def tokenCount(text: Column): Column = size(tokens(text))

  def charCount(text: Column): Column = length(text)

  /** Punctuation character ratio (0..1). */
  def punctRatio(text: Column): Column = {
    val punct = length(text) - length(regexp_replace(text, "\\p{Punct}", ""))
    when(length(text) > 0, punct.cast("double") / length(text).cast("double"))
      .otherwise(lit(0.0))
  }

  /** English stopword ratio among tokens (0..1). */
  def stopwordRatio(text: Column, stopwords: Seq[String] = EN_STOPWORDS): Column = {
    val toks = tokens(lower(text))
    val sw = array(stopwords.map(lit): _*)
    when(size(toks) > 0,
      size(filter(toks, t => array_contains(sw, t))).cast("double") /
        size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  def meanTokenLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
        .cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  // ---------------------------------------- repetition/heuristic filters
  //
  // The cheap document-level filters used by published web-corpus
  // cleaning recipes (Gopher/C4-style): repetition ratios catch
  // boilerplate and degenerate generations, symbol-per-word catches
  // markup and spam, digit ratio catches tables/logs. All exact integer
  // arithmetic + one double division, so every engine reproduces them
  // bit-for-bit.

  /** Fraction of duplicated words: 1 − distinct/total over lowercased
    * whitespace tokens. High values flag keyword stuffing and
    * copy-paste loops.
    */
  def wordRepetitionRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    when(size(toks) > 0,
      lit(1.0) - size(array_distinct(toks)).cast("double") /
        size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Fraction of duplicated lines: 1 − distinct/total over newline
    * splits. Catches templated pages and chat transcripts.
    */
  def lineRepetitionRatio(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => l =!= "")
    when(size(lines) > 0,
      lit(1.0) - size(array_distinct(lines)).cast("double") /
        size(lines).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Symbols (`#`, `...`) per word — the Gopher symbol-to-word ratio. */
  def symbolWordRatio(text: Column): Column = {
    val hashes = length(text) - length(replace(text, lit("#"), lit("")))
    val ellipses = (length(text) - length(replace(text, lit("..."), lit("")))) / 3
    val toks = tokens(text)
    when(size(toks) > 0,
      (hashes + ellipses).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Fraction of characters that are ASCII digits. */
  def digitRatio(text: Column): Column = {
    val digits = length(text) - length(regexp_replace(text, "[0-9]", ""))
    when(length(text) > 0,
      digits.cast("double") / length(text).cast("double"))
      .otherwise(lit(0.0))
  }

  /** The classic UTF-8-decoded-as-Latin-1 artifact shapes: a C3/C2
    * lead byte surfacing as `Ã`/`Â` glued to the misread continuation
    * char, the E2-80 punctuation family surfacing as `â€` + one more,
    * and the replacement character itself. One alternation, anchored
    * nowhere — the same regex runs under Java (Spark) and RE2 (DuckDB)
    * with identical semantics (`.` excludes newline in both).
    */
  private val MojibakeRe = "(Ã.|Â.|â€.|�)"

  /** Mojibake mass per character, exact integer ppm: the share of
    * characters participating in wrong-charset double-decode artifacts
    * ([[MojibakeRe]]) — the cleaning signal that catches text whose
    * bytes were decoded with the wrong charset upstream, which
    * length/stopword heuristics and even perplexity miss when the
    * damage is sparse. Integer division, so the twin is bit-exact;
    * empty text scores 0.
    */
  def mojibakeRatioPpm(text: Column): Column = {
    val bad = length(text) - length(regexp_replace(text, MojibakeRe, ""))
    when(length(text) > 0,
      call_function("div", bad.cast("long") * lit(1000000L),
        length(text).cast("long")))
      .otherwise(lit(0L))
  }

  /** Control-character mass per character, exact integer ppm —
    * C0 controls and DEL, EXCLUDING tab/newline/carriage-return
    * (legitimate text structure): binary junk, terminal escapes, and
    * truncated-decode residue show up here. Empty text scores 0.
    */
  def controlCharRatioPpm(text: Column): Column = {
    val bad = length(text) -
      length(regexp_replace(text,
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""))
    when(length(text) > 0,
      call_function("div", bad.cast("long") * lit(1000000L),
        length(text).cast("long")))
      .otherwise(lit(0L))
  }

  /** Engine-portable rounding to 6 decimals: `floor(x·10⁶ + 0.5)/10⁶`
    * in pure IEEE double arithmetic, identical on any engine. SQL
    * `round(x, 6)` is NOT portable at representability boundaries —
    * DuckDB rounds x's shortest decimal representation while Spark
    * rounds the exact binary value, so a double like
    * 0.63031249999999994 (shortest repr "0.6303125") rounds to
    * 0.630313 in DuckDB and 0.630312 in Spark. Oracles must mirror
    * this expression verbatim: FLOOR(x * 1000000 + 0.5) / 1000000.0.
    * Halves round toward +infinity for negatives — a convention both
    * engines then share.
    */
  private[operators] def round6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)

  /** Engine-portable fixed-point round-to-long of `c` (same boundary
    * argument as [[round6]]); oracle form: CAST(FLOOR(x + 0.5) AS BIGINT).
    */
  private[operators] def fxLong(c: Column): Column =
    floor(c + lit(0.5)).cast("long")

  /** Shannon character entropy (nats) over the engine-safe alphabet
    * (`[a-z0-9 ]` of the lowercased text) — low entropy flags repetitive
    * or degenerate text, high entropy flags noise/encoded blobs.
    *
    * Engine-exact by construction: each `p·ln p` term is rounded to a
    * fixed-point long (15 fractional digits) before summing, so the
    * fold is order-independent (double summation order differs between
    * engines) and integer-exact; the final `round(·, 6)` absorbs the
    * ≤1-ulp cross-engine `ln` difference in the terms. No overflow:
    * |term| ≤ 0.4·10¹⁵, ≤37 terms. Per-row cost is O(distinct × len) —
    * bounded by the 37-symbol alphabet.
    */
  def charEntropy(text: Column): Column = {
    val chars = fpChars(text)
    val total = size(chars)
    val d = array_distinct(chars)
    val acc = aggregate(d, lit(0L), (a, c) => {
      val p = size(filter(chars, x => x === c)).cast("double") / total.cast("double")
      a + fxLong(p * log(p) * lit(1e15))
    })
    // "+ 0.0" folds IEEE −0.0 (single-symbol text) to 0.0 — a hash
    // comparison would otherwise see −0.0 ≠ 0.0 across engines
    when(total > 0,
      round6(-(acc.cast("double") / lit(1e15))) + lit(0.0))
      .otherwise(lit(0.0))
  }

  /** Composite quality score in [0,1]: favors medium-length documents
    * with low punctuation density, a healthy stopword ratio, and
    * plausible word lengths — the standard cheap pre-filter in front of
    * expensive model-based quality classifiers.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(charCount(text).cast("double") / lit(500.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val swr = stopwordRatio(text)
    val swScore = lit(1.0) - least(abs(swr - lit(0.4)) * 2.5, lit(1.0))
    val mtl = meanTokenLength(text)
    val mtlScore = lit(1.0) - least(abs(mtl - lit(5.0)) / 5.0, lit(1.0))
    round6((lenScore + punctScore + swScore + mtlScore) / 4.0)
  }

  /** N-gram-heuristic language ID: scores each candidate language by its
    * marker-token hit count over the document's tokens, returns the
    * argmax (ties broken by language code order). Marker sets are tiny
    * and inlined as literals — broadcast-free, fully codegen'd.
    */
  def langId(text: Column, profiles: Map[String, Seq[String]] = LANG_PROFILES): Column = {
    val toks = tokens(lower(text))
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, markers) =>
      val m = array(markers.map(lit): _*)
      struct(
        (size(filter(toks, t => array_contains(m, t))) * -1).as("neg_score"),
        lit(lang).as("lang")
      )
    }
    // struct sort is field-by-field: ascending neg_score = descending
    // score, ties broken by first language code
    val best = array_sort(array(scored: _*)).getItem(0)
    when(length(trim(text)) === 0, lit("und")).otherwise(best.getField("lang"))
  }

  // ------------------------------------ script-adaptive tokenization
  //
  // The whitespace tokenizer is wrong for space-free scripts: a CJK or
  // Thai sentence has no spaces, so every "token" is the whole
  // sentence — BM25, TF-IDF, vocabulary coverage, and stopword rates
  // all silently degrade to document-granularity matching. The
  // standard fix (what Lucene's CJKAnalyzer and the n-gram indexing
  // literature do) is character bigrams for those scripts. Everything
  // here is deterministic BMP-range arithmetic, so the whole chain —
  // detect → strip → bigram → re-space — replays in ANSI SQL.

  /** BMP ranges of the major space-free scripts: CJK Unified
    * ideographs, kana, hangul syllables, Thai. (One character class,
    * shared by detection and the oracle twins — RE2 spells it
    * `\x{4E00}` where Java spells `一`, same codepoints.)
    */
  private val SpaceFreeScriptClass =
    "[\u4E00-\u9FFF\u3040-\u30FF\uAC00-\uD7AF\u0E00-\u0E7F]"

  /** True when the document is MAJORITY space-free-script: more than
    * half its non-whitespace characters fall in
    * [[SpaceFreeScriptClass]]. A Latin document quoting one ideograph
    * stays on the whitespace path; a CJK document quoting one Latin
    * word flips to bigrams — per-document, deterministic, and exactly
    * reproducible cross-engine (no statistical language model).
    */
  def isSpaceFreeScript(text: Column): Column = {
    // U+3000 (ideographic space) counts as whitespace here: it is the
    // standard separator in CJK text, and counting it as content would
    // both skew the majority test and leak into bigrams downstream
    val nonSpace = length(regexp_replace(text, "[ \t\n\f\r　]", ""))
    val scriptChars =
      length(text) - length(regexp_replace(text, SpaceFreeScriptClass, ""))
    scriptChars * 2 > nonSpace
  }

  /** Re-space a space-free-script document into character bigrams:
    * whitespace is stripped (a bigram spanning an incidental space is
    * noise), then overlapping 2-char grams are joined by single
    * spaces — "東京都" → "東京 京都". Documents shorter than 2 chars
    * pass through stripped (a single ideograph IS its own token).
    * The expansion is ~2× the character count — the standard n-gram
    * indexing trade. The gram transform is a higher-order function
    * (interpreted, not codegen); it runs only on the detected
    * space-free rows, a narrow map either way.
    */
  private def charBigramText(text: Column): Column =
    // bindOnce: the stripped string is referenced from the bigram
    // lambda — inlined, the regexp_replace would re-run once per
    // CHARACTER of every space-free document (O(len²) regex work)
    bindOnce(regexp_replace(text, "[ \t\n\f\r　]", ""), stripped =>
      when(length(stripped) >= 2,
        array_join(
          transform(sequence(lit(1), length(stripped) - 1),
            i => substring(stripped, i, lit(2))),
          " "))
        .otherwise(stripped))

  /** Script-adaptive re-tokenization — the ONE entry point that makes
    * the whole text family CJK-correct: space-free-script documents
    * ([[isSpaceFreeScript]]) are rewritten into space-joined character
    * bigrams, and every space-delimited document passes through with
    * ONLY the ideographic space U+3000 normalized to ASCII space —
    * byte-identical otherwise, so existing gates and indexes are
    * unaffected by adopting it unless they carried the one separator
    * the ASCII-whitespace tokenizers cannot split on.
    * Because the output is ordinary space-joined text, the EXISTING
    * downstream machinery consumes it verbatim:
    * `writeBm25Index(docs.withColumn("text", adaptiveRetokenize(col("text"))), …)`,
    * same for [[tfidfTopTerms]], [[vocabCoverage]], [[topTermsPerGroup]]
    * and the BPE corpus paths — one projection, zero new operator
    * variants.
    */
  def adaptiveRetokenize(text: Column): Column =
    // the pass-through branch normalizes ONLY U+3000 → ASCII space:
    // it is the one CJK separator the downstream ASCII-whitespace
    // tokenizers cannot split on, so a Latin-majority doc quoting a
    // "東京　大阪" phrase would otherwise keep it glued as one token;
    // text without U+3000 passes through byte-identically
    when(isSpaceFreeScript(text), charBigramText(text))
      .otherwise(regexp_replace(text, "　", " "))

  /** 64-bit content fingerprint: hash of the whitespace-normalized,
    * lowercased text. Identical fingerprints ⇒ exact duplicates modulo
    * whitespace/case — the first-stage key for exact dedup.
    */
  def fingerprint(text: Column): Column =
    xxhash64(array_join(tokens(lower(text)), " "))

  // ------------------------------------------------ rolling-hash kernels

  /** Fingerprint normalization: lowercase, restricted to `[a-z0-9 ]` so
    * the hash is stable across engines and unicode encodings (non-BMP
    * codepoints split differently between UTF-16 and codepoint views).
    */
  private def fpNorm(text: Column): Column =
    regexp_replace(lower(text), "[^a-z0-9 ]", "")

  /** Karp–Rabin polynomial hash of a char array:
    * fold(acc*31 + code) mod 1e9+7. Exact long arithmetic — no overflow
    * (acc < 2^30, 31*acc + 127 < 2^35) — so bit-identical everywhere.
    */
  private def polyHash(chars: Column): Column =
    aggregate(chars, lit(0L),
      (acc, c) => (acc * lit(31L) + ascii(c).cast("long")) % lit(1000000007L))

  private def fpChars(text: Column): Column =
    filter(split(fpNorm(text), ""), c => length(c) > 0)

  /** Full-document rolling-hash fingerprint (content-defined, engine-
    * portable — unlike [[fingerprint]]'s xxhash64 it has an exact ANSI-SQL
    * oracle). Native fused kernel ([[graft.functions.KrHashExpression]]);
    * the HOF composition it replaces is kept as [[rollingHashBuiltin]]
    * for the bit-compat cross-check.
    */
  def rollingHash(text: Column): Column =
    graft.functions.KrHashExpression.krHash(text)

  /** The normalize+split+fold composition the kernel replaces. */
  private[graft] def rollingHashBuiltin(text: Column): Column = polyHash(fpChars(text))

  /** Min-gram fingerprint: the minimum polynomial hash over all `k`-char
    * grams of the normalized text — a 1-window winnowing fingerprint.
    * Two documents sharing any region ≥ k chars that contains the global
    * minimizing gram collide, which makes this the cheap blocking key for
    * content-overlap detection (the single-fingerprint degenerate case of
    * the winnowing scheme of Schleimer/Wilkerson/Aiken, SIGMOD'03).
    *
    * Cost is O(n·k) per doc with k constant (each gram hashed
    * independently) — the elementwise form keeps every gram's hash inside
    * one codegen'd `transform`, trading the classic O(n) incremental
    * recurrence for parallel, branch-free evaluation.
    */
  def minGramFingerprint(text: Column, k: Int = 8): Column = {
    val chars = fpChars(text)
    when(size(chars) < k, polyHash(chars))
      .otherwise(array_min(transform(
        sequence(lit(0), size(chars) - k),
        i => polyHash(slice(chars, i + 1, lit(k))))))
  }

  /** TF-IDF top-`k` salient terms per document — the keyword-extraction
    * primitive of corpus curation (topic routing, boilerplate spotting,
    * per-domain vocabulary drift).
    *
    * Terms are single-space-split tokens of the raw text (the corpus
    * fixtures are pre-normalized; callers with messy text should lower/
    * strip first). Scoring: `tf · ln((N+1)/(df+1))` with N = document
    * count and df = number of documents containing the term — the
    * smoothed-idf form that never goes negative on corpus-wide terms.
    *
    * Scale shape (100 TB): one shuffle on (doc, term) for tf, one on
    * term for df, a key-aligned join of tf against the (small) term
    * dictionary — AQE broadcasts it when it fits — a broadcast of the
    * single-row N aggregate, and a final doc-keyed window for top-k.
    * Nothing driver-side, no collect.
    *
    * Output is deterministic across engines: the idf is quantized ONCE
    * to integer micro-units — `idf_fx = FLOOR(ln((N+1)/(df+1))·10^6 +
    * 0.5)` — and everything downstream (`score_fx = tf·idf_fx`, the
    * ranking, the tie-break on the term string) is exact integer
    * arithmetic. Quantizing at the idf (value ~1e0) instead of the
    * final score (value ~1e3) shrinks the window where a 1-ulp `ln`
    * divergence between engines could flip a FLOOR from ~1e-7 to
    * ~1e-10 per row, and removes the cross-engine double multiply
    * entirely. (See [[round6]] for why SQL `round` is not portable.)
    */
  def tfidfTopTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = df
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("n_docs"))
    tfidfScoreTail(tf, nDocs, k)
  }

  /** [[tfidfTopTerms]] over a materialized BM25 postings index
    * ([[writeBm25Index]]) — the second consumer of the same persisted
    * tokenize: the postings rows ARE the (doc_id, term, tf) frame
    * TF-IDF aggregates, and the stats row carries N, so keyword
    * extraction re-pays neither the corpus scan nor the token explode.
    * One shared tokenize serving retrieval AND salience is the point
    * of persisting it at 100 TB. Results are bit-identical to the
    * in-memory path (shared scoring tail, identical tf/df/N inputs;
    * the contract assumes the unique doc ids every index write/append
    * already requires).
    */
  def tfidfTopTermsFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      k: Int
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = bm25LivePostings(spark, tableName).select("doc_id", "term", "tf")
    val nDocs = bm25CurrentStats(spark, tableName).select(col("n_docs"))
    tfidfScoreTail(tf, nDocs, k)
  }

  /** The TF-IDF scoring tail shared verbatim by the tokenize-per-call
    * and postings-index paths: df aggregates from the (doc, term, tf)
    * frame (always current, so index appends can't serve stale idf),
    * the smoothed idf quantizes once to micro-units, and the per-doc
    * rank window reads exact integers.
    */
  private def tfidfScoreTail(
      tf: DataFrame, nDocs: DataFrame, k: Int): DataFrame = {
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("__idf_fx",
        floor(log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double"))
          * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("score_fx", col("tf") * col("__idf_fx"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_fx").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(
        col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score_fx"))
  }

  /** The milli-unit idf quantization both cosine forms share — one
    * definition so the exact-rational contract cannot drift between
    * the all-pairs and the index-backed paths (or their twins).
    */
  private def cosineIdfFx(dfCol: Column, nCol: Column): Column =
    floor(log((nCol + 1).cast("double") / (dfCol + 1).cast("double"))
      * lit(1000.0) + lit(0.5)).cast("long")

  /** Exact Σ(a·b) over fixed-point longs for the PER-CALL cosine
    * sums (the index path's numerator and batch norms, and through
    * [[fxMul]] the all-pairs norms and numerators). Under ANSI — this
    * build's session default — the accumulation stays in primitive
    * LONG: identical values inside the documented exact-compare domain
    * (the outputs are long via [[cosineLongExact]] anyway, so a sum
    * past ~9.2e18 was ALREADY a refusal), and overflow still fails
    * loudly (Spark raises ARITHMETIC_OVERFLOW on the sum or the
    * product). The DECIMAL(38,0) accumulation survives only for
    * ANSI-off sessions, where a long sum would wrap silently — there
    * the decimal-null loudness contract ([[cosineThresholdFilter]],
    * [[cosineLongExact]]) still catches it. Why: Decimal(38,0) partial
    * sums allocate and box on every row, and the numerator aggregate
    * processes |batch terms ∩ doc terms| rows per (batch, history)
    * pair — the suite's single hottest aggregate ran entirely in
    * decimal for values that fit a long. (The STORED norms sidecar is
    * untouched: its on-disk decimal schema is a persisted format.)
    */
  // BUILD-TIME BINDING, by design: the branch reads the calling
  // thread's session conf when the plan is CONSTRUCTED (every cosine
  // entry point builds its plan per call, so build==execute session in
  // this codebase). A caller that builds a frame, flips
  // spark.sql.ansi.enabled OFF, and only then executes it keeps the
  // primitive long sum — and with it ANSI's loud-overflow guarantee
  // GONE (a wrap would be silent). Don't hold cosine frames across an
  // ANSI toggle; rebuild them.
  private def fxMulSum(a: Column, b: Column): Column = sum(fxMul(a, b))

  private def fxMul(a: Column, b: Column): Column =
    if (org.apache.spark.sql.internal.SQLConf.get.ansiEnabled) a * b
    else a.cast(org.apache.spark.sql.types.DecimalType(38, 0)) * b

  /** [[fxMulSum]]'s per-row form: Σ f(x) over an array, accumulated
    * the same way (LONG under ANSI, DECIMAL(38,0) without), so `f`
    * returns [[fxMul]]'s type.
    */
  private def fxArraySum(xs: Column, f: Column => Column): Column = {
    val zero =
      if (org.apache.spark.sql.internal.SQLConf.get.ansiEnabled) lit(0L)
      else lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0))
    aggregate(xs, zero, (acc, x) => acc + f(x))
  }

  /** The shared loud-overflow threshold filter: under ANSI (this
    * build's default) decimal overflow throws before any null exists;
    * with ANSI off a null product means overflow and must raise, not
    * silently drop the pair.
    */
  private def cosineThresholdFilter(
      lhs: Column, rhs: Column, opName: String): Column =
    when(lhs.isNull || rhs.isNull,
      raise_error(lit(s"$opName: fixed-point overflow — a document's " +
        "weight mass exceeds the exact-compare domain " +
        "(Σ(tf·idf_fx)² ≲ 1e19); chunk or cap documents first"))
        .cast("boolean"))
      .otherwise(lhs >= rhs)

  /** Long output cast that cannot silently null on overflow: under
    * ANSI the cast itself throws; with ANSI off a non-null decimal
    * casting to null long means overflow and raises.
    */
  private def cosineLongExact(c: Column, what: String, opName: String): Column =
    when(c.isNotNull && c.cast("long").isNull,
      raise_error(lit(s"$opName: $what exceeds Long range — the " +
        "exact-compare domain was exceeded; chunk or cap documents first"))
        .cast("long"))
      .otherwise(c.cast("long"))

  /** The prefix length of a document for the exact cosine bound:
    * `ws` are its weights in global rarest-first order, `nrm` its
    * squared norm. It is the shortest head whose remaining squared
    * mass `tail` satisfies `tail·q² < p²·nrm`, i.e. whose head mass
    * `h` satisfies `h·q² > nrm·(q² − p²)`; the whole doc when none
    * does (p = 0). Compared in DECIMAL(38,0) like
    * [[cosineThresholdFilter]], in one pass with running state (h, k):
    * a per-position tail sum would be O(n²) per doc. Soundness is in
    * [[lexicalCosinePairs]]' scale note.
    */
  private def cosinePrefixLen(
      ws: Column, nrm: Column, minCosNum: Int, minCosDen: Int): Column = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q2 = minCosDen.toLong * minCosDen
    val bound = nrm.cast(dec) * lit(q2 - minCosNum.toLong * minCosNum)
    aggregate(ws, struct(lit(0).cast(dec).as("h"), lit(0).as("k")),
      (s, x) => when(s("h") * lit(q2) > bound, s)
        .otherwise(struct((s("h") + x.cast(dec) * x).as("h"), (s("k") + 1).as("k"))),
      s => s("k"))
  }

  /** TF-IDF-weighted lexical cosine similarity join: all unordered
    * document pairs whose weighted-term cosine clears
    * `minCosNum / minCosDen` — the third classic text-similarity
    * measure beside MinHash Jaccard ([[graft.operators.Dedup]]) and
    * dense embedding cosine ([[graft.operators.Similarity]]): Jaccard
    * sees shared shingles, embeddings see latent meaning, weighted
    * lexical cosine sees shared RARE vocabulary — near-dup detection
    * for re-writes that share topic words but not phrasing.
    *
    * Exactness: weights are `tf · idf_fx` with the house milli-unit
    * idf quantization (`floor(ln((N+1)/(df+1))·1000 + 0.5)` — the one
    * accepted float→int rounding, shared with [[tfidfTopTerms]]'s
    * micro-unit variant), and the threshold is an exact RATIONAL:
    * `cos ≥ p/q  ⇔  num ≥ 0 ∧ num²·q² ≥ p²·‖a‖²·‖b‖²`, compared in
    * DECIMAL(38,0) — no sqrt, no float sums, so the SQL twin matches
    * bit-for-bit. Terms with idf_fx ≤ 0 (present in every document)
    * carry no signal and leave the vectors by definition, identically
    * in both engines. The compare is exact for per-doc
    * `Σ(tf·idf_fx)² ≲ 1e19`; beyond that the arithmetic FAILS LOUDLY —
    * on this build's default ANSI mode the decimal overflow itself
    * throws, and with ANSI off the explicit guards catch the
    * null-on-overflow (threshold compare AND the long output casts) —
    * never a silently dropped pair or null column; chunk pathological
    * documents first. Tokenization is the single-space split of the
    * BM25/TF-IDF postings family (twin parity with `str_split`);
    * pre-normalize whitespace (or run [[adaptiveRetokenize]]) for
    * tab/newline-separated corpora.
    *
    * Scale shape: one tokenize feeds one exchange by term, which
    * serves both the (doc, term) count and the df window, so the
    * tokens are written once. One persisted row per doc then serves
    * every consumer: its terms and weights in the global rarest-first
    * order `(df, term)`, its norm and its prefix ([[cosinePrefixLen]]).
    * N joins those per-doc rows, not the postings, so its count runs
    * beside the postings' stages. The bound is exact (Cauchy–Schwarz,
    * no estimate): the prefix is the shortest head whose remaining
    * squared mass `tail` satisfies `tail·q² < p²·‖x‖²`; if the first
    * term a pair shares lay past x's prefix, then
    * `cos ≤ ‖x_tail‖/‖x‖ < p/q`. So every pair that clears the
    * threshold shares a term inside both prefixes, and only prefix ⋈
    * prefix pairs form, each once, at the first prefix term they
    * share. The join's fan-out is Σ_t dfₚ(t)² over prefix postings
    * (each doc's rarest terms), not the Σ_t df(t)² of all postings.
    * Each candidate's numerator is the exact dot product of the two
    * full weight maps, with no pair aggregate. At p = 0 the prefix is
    * the whole doc, and the candidates are every pair sharing a term,
    * the same rows as an all-pairs join. At corpus scale, restrict the
    * candidate universe first (a partition, a near-dup bucket, a top-k
    * shortlist from the ANN/BM25 indexes) and run the exact measure
    * inside it.
    */
  def lexicalCosinePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCosNum: Int = 4,
      minCosDen: Int = 5
  ): DataFrame = {
    require(minCosDen > 0 && minCosNum >= 0 && minCosNum <= minCosDen,
      "threshold must be a rational in [0, 1]")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val toks = df
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val nDocs = df.agg(countDistinct(col(idCol)).as("n_docs"))
    // one exchange, by term, serves both the tf aggregate and the df
    // window
    val postings = toks.repartition(col("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))
    // N joins the per-doc rows, not the postings: its count then runs
    // beside the postings' stages instead of holding them up
    val weighted = transform(col("v"), t => struct(t("term").as("term"),
      (t("tf") * cosineIdfFx(t("df"), col("n_docs"))).as("w")))
    // pinned like the minhash signature frames: repeated structurally
    // identical calls share one entry; loop callers release between
    // epochs via their cache-clear cadence (the CorpusIngest rule)
    val docs = org.apache.spark.sql.graftbridge.CacheBridge.persistOnce(
      postings.groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("term"), col("tf")))).as("v"))
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), filter(weighted, t => t("w") > 0).as("v"))
        .select(col("doc_id"), col("v.term").as("terms"), col("v.w").as("ws"))
        .withColumn("nrm", fxArraySum(col("ws"), x => fxMul(x, x)))
        .select(col("doc_id"), col("nrm"),
          slice(col("terms"), lit(1),
            cosinePrefixLen(col("ws"), col("nrm"), minCosNum, minCosDen)).as("pre"),
          map_from_arrays(col("terms"), col("ws")).as("wv")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // a null norm is an ANSI-off overflow: refuse it for every doc, not
      // only for the docs that reach a candidate pair (read off the cache,
      // so the filter does not re-derive the norm)
      .filter(cosineThresholdFilter(col("nrm"), lit(0), "lexicalCosinePairs"))
    def side(s: String) = docs.select(explode(col("pre")).as("term"),
      col("doc_id").as(s"id_$s"), col("nrm").as(s"norm_$s"),
      col("wv").as(s"wv_$s"), col("pre").as(s"pre_$s"))
    val lhs = col("num").cast(dec) * col("num") * lit(minCosDen.toLong * minCosDen)
    val rhs = col("norm_a").cast(dec) * col("norm_b") * lit(minCosNum.toLong * minCosNum)
    side("a").join(side("b"), Seq("term"))
      .filter(col("id_a") < col("id_b"))
      // each pair once, at the first term (in the global order) that
      // its two prefixes share
      .filter(element_at(array_intersect(col("pre_a"), col("pre_b")), 1) === col("term"))
      .withColumn("num", fxArraySum(
        map_values(map_zip_with(col("wv_a"), col("wv_b"), (_, x, y) => fxMul(x, y))),
        // a term of only one doc zips to null
        v => coalesce(v, lit(0))))
      .filter(cosineThresholdFilter(lhs, rhs, "lexicalCosinePairs"))
      .select(col("id_a"), col("id_b"),
        cosineLongExact(col("num"), "num", "lexicalCosinePairs").as("num_fx"),
        cosineLongExact(col("norm_a"), "norm_a", "lexicalCosinePairs").as("norm_a"),
        cosineLongExact(col("norm_b"), "norm_b", "lexicalCosinePairs").as("norm_b"))
  }

  /** [[lexicalCosinePairs]]'s INCREMENTAL form — a new batch scored
    * against ALL history through the materialized BM25 postings index
    * ([[writeBm25Index]]): the restrict-then-measure path the all-pairs
    * scaladoc prescribes, realized. The index's STORED df snapshot
    * (`<table>_terms` + the `_stats` build stamp N) DEFINES the vector
    * space: idf is served from the snapshot, and per-history-doc norms
    * are served from the `<table>_norms` sidecar
    * ([[refreshCosineNorms]]) — so a per-batch call aggregates NOTHING
    * over the full postings. Scores are therefore deterministic
    * BETWEEN SNAPSHOT REFRESHES: appends move the live df but not the
    * stored snapshot; when [[isStaleBm25Index]] flips on df drift, one
    * [[restampBm25Index]] re-derives snapshot and norms together and
    * scores move then — exactly then, never silently per batch. Batch
    * terms the snapshot has never seen weight at `ln((N+1)/1)` and
    * count toward the batch norm (they can't match history, and
    * ignoring them would inflate every cosine). Same exact-rational
    * threshold, same DECIMAL compare, same loud-overflow contract as
    * the all-pairs form.
    *
    * Replay contract (the incremental-MinHash rule): same-id pairs are
    * EXCLUDED, so a replayed batch that already appended its own rows
    * re-scores without self-colliding at cos = 1. Replay-residue
    * posting rows (a crash-replayed append's byte-identical
    * duplicates) are dropped before the numerator sums — scores do NOT
    * assume a compacted index.
    *
    * Scale shape — O(batch) per epoch: idf is an O(|vocabulary|) read
    * of `_terms`, history norms an O(n_docs) read of `_norms`, and the
    * ONE postings pass is the numerator join, semi-restricted to the
    * batch's terms before the dedup and the sum — pushed as a literal
    * IN() on the term-bucketed scan when the batch's vocabulary fits
    * `pruneKeys`, so the read itself bucket-prunes to the touched
    * terms (a bounded batch against a wide-vocabulary history never
    * scans the whole index). Validity is checked
    * loudly per call with three bounded aggregates: the `_terms`
    * fingerprint must match the one the norms were stamped with
    * (else the snapshot moved — [[refreshCosineNorms]]), and the live
    * roster and live norms must cover the same documents (else an
    * append died mid-protocol — [[repairCosineNorms]]).
    */
  def lexicalCosineAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      minCosNum: Int = 4,
      minCosDen: Int = 5,
      pruneKeys: Int = 4096,
      normForm: String = NormForm.Default
  ): DataFrame = {
    require(minCosDen > 0 && minCosNum >= 0 && minCosNum <= minCosDen,
      "threshold must be a rational in [0, 1]")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // ---- per-call validation: ONE Spark job (r19 ran four) ----
    // The four validation reads — norm-form stamp (`_stats`), norms
    // stamp (`_norms_stats`), live `_terms` fingerprint, and the
    // roster↔norms set-difference — are all one-row aggregates; a
    // UNION of them collects in a single action (a crossJoin would
    // broadcast-build each side, one sub-job apiece, saving nothing).
    // The named refusals stay distinct: the checks run DRIVER-side
    // below in the r19 order (norm form → snapshot staleness →
    // coverage), each with its original message.
    NormForm.validate(normForm)
    if (!spark.catalog.tableExists(tableName + "_norms") ||
        !spark.catalog.tableExists(tableName + "_norms_stats")) {
      // refusal path, not the hot path — the standalone stamp read and
      // its r19-order precedence (norm-form mismatch outranks the
      // missing sidecar) are preserved here
      NormForm.check(bm25NormForm(spark, tableName), normForm, tableName)
      throw new IllegalArgumentException(
        s"$tableName has no cosine norms sidecar — run refreshCosineNorms " +
          "once to materialize it (the incremental cosine serves history " +
          "norms and idf from stored state, O(batch) per call)")
    }
    val statsT = spark.table(tableName + "_stats")
    val nullL = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    val fpB = spark.table(tableName + "_terms").agg(
      lit("fp").as("src"),
      count(lit(1)).as("l1"),
      coalesce(sum(col("df")), lit(0L)).as("l2"),
      coalesce(sum(pmod(xxhash64(col("term"), col("df")), lit(1000000007L))),
        lit(0L)).as("l3"),
      nullL.as("l4"), nullS.as("s1"))
    val nsB = spark.table(tableName + "_norms_stats").select(
      lit("ns").as("src"),
      col("n_terms").cast("long").as("l1"),
      col("df_mass").cast("long").as("l2"),
      col("df_hash").cast("long").as("l3"),
      col("snapshot_docs").cast("long").as("l4"),
      nullS.as("s1"))
    val nfB = statsT.select(
      lit("nf").as("src"),
      nullL.as("l1"), nullL.as("l2"), nullL.as("l3"), nullL.as("l4"),
      (if (statsT.columns.contains("norm_form")) col("norm_form")
       else nullS).as("s1"))
    // completeness: the live roster and the live norms must cover the
    // SAME document set — validated by set difference, not count
    // equality (a sidecar holding a norm for a non-roster doc while
    // missing a roster doc — e.g. a repairBm25Index roster prune
    // interleaved with a crashed norms append — passes a count compare
    // and then scores with wrong/missing history norms). Still bounded
    // aggregates over the slim side tables, never the postings.
    val rosterIds = bm25LiveDocs(spark, tableName).select(col("doc_id"))
    val normIds = cosineLiveNorms(spark, tableName).select(col("doc_id")).distinct()
    val mmB = rosterIds.withColumn("__r", lit(1))
      .join(normIds.withColumn("__n", lit(1)), Seq("doc_id"), "full_outer")
      .agg(
        lit("mm").as("src"),
        coalesce(sum(when(col("__n").isNull, 1L).otherwise(0L)), lit(0L)).as("l1"),
        coalesce(sum(when(col("__r").isNull, 1L).otherwise(0L)), lit(0L)).as("l2"),
        nullL.as("l3"), nullL.as("l4"), nullS.as("s1"))
    val vrows = fpB.unionByName(nsB).unionByName(nfB).unionByName(mmB)
      .collect().map(r => r.getString(0) -> r).toMap
    val fpR = vrows("fp"); val nsR = vrows("ns"); val mmR = vrows("mm")
    NormForm.check(Option(vrows("nf").getString(5)), normForm, tableName)
    require(fpR.getLong(1) == nsR.getLong(1) &&
      fpR.getLong(2) == nsR.getLong(2) && fpR.getLong(3) == nsR.getLong(3),
      s"$tableName's df snapshot moved since the cosine norms were " +
        "built (a restamp or rebuild ran without refreshing them) — " +
        "run refreshCosineNorms")
    val nSnap = nsR.getLong(4)
    val missingNorms = mmR.getLong(1)
    val orphanNorms = mmR.getLong(2)
    require(missingNorms == 0 && orphanNorms == 0,
      s"$tableName: norms sidecar diverges from the live roster " +
        s"($missingNorms roster docs without a norm, $orphanNorms norm " +
        "rows for non-roster docs) — an append or repair died " +
        "mid-protocol; run repairCosineNorms to reconcile")
    val terms = spark.table(tableName + "_terms")
    val bTf = batch
      .select(col(idCol).as("batch_id"), explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("batch_id", "term").agg(count(lit(1)).as("tf"))
    // materialized ONCE per call: this subtree is consumed three times
    // (the termKeys collect, the numerator join and the batch norms)
    // and each consumer re-ran the batch tokenize+explode+aggregate
    // from the source. localCheckpoint(eager), NOT persistOnce: the
    // r19 persistOnce pin registered one MEMORY_AND_DISK CacheManager
    // entry per DISTINCT batch plan with no release valve — a
    // perpetual streaming caller invoking this per micro-batch grew
    // storage without bound (r19 advice). The checkpoint's blocks are
    // GC-managed (ContextCleaner drops them when the caller releases
    // the result frame) and register nothing with the CacheManager.
    val wBatch = bTf.join(terms, Seq("term"), "left")
      .withColumn("w",
        col("tf") * cosineIdfFx(coalesce(col("df"), lit(0L)), lit(nSnap)))
      .filter(col("w") > 0)
      .select("batch_id", "term", "w")
      .localCheckpoint(true)
    // MEASURED broadcast decision for the numerator join: the r19 shape
    // relied on the cache's post-materialization InMemoryRelation stats
    // to get a BroadcastHashJoin (the SortMergeJoin on `term` — a
    // 31-distinct-value hot key — was the suite's worst skew); a
    // localCheckpoint carries no such stats, so the operator compares
    // the checkpoint's ACTUAL block bytes against the session's own
    // broadcast threshold. A huge batch still falls back to the
    // shuffled join — the threshold decides, nothing forces.
    val wBatchBytes =
      org.apache.spark.sql.graftbridge.CacheBridge.localCheckpointSize(wBatch)
    val wBatchBroadcastable = wBatchBytes >= 0 &&
      wBatchBytes <= spark.sessionState.conf.autoBroadcastJoinThreshold
    val batchNorms = wBatch.groupBy("batch_id")
      .agg(fxMulSum(col("w"), col("w")).as("norm_b"))
    // the ONE postings pass: semi-restrict to the batch's terms FIRST,
    // then drop replay-residue duplicates — the dedup aggregate sees
    // only the batch-term postings, not the index. When the batch's
    // distinct terms fit a literal list (≤ pruneKeys) they are pushed
    // as an IN() on the term-bucketed scan — Spark bucket-prunes the
    // read to the touched buckets (the portableMinhashPairsAgainstIndex
    // shape), so a bounded batch against a wide-vocabulary history
    // reads only its own terms' postings instead of scanning the
    // index. Bounded collect: at most pruneKeys+1 one-column rows,
    // the batch's own vocabulary.
    val batchTerms = wBatch.select("term").distinct()
    val termKeys = batchTerms.limit(pruneKeys + 1).collect()
    val postings = bm25LivePostings(spark, tableName)
      .select("doc_id", "term", "tf")
    val wHist = (if (termKeys.length <= pruneKeys)
      postings.filter(col("term").isin(
        termKeys.map(_.getString(0)).toIndexedSeq: _*))
    else postings.join(batchTerms, Seq("term"), "left_semi"))
      .dropDuplicates("doc_id", "term")
      // the numerator join and its partial aggregate inherit THIS
      // frame's partitioning: a `buckets`-file index caps the whole
      // heavy stage at `buckets`-way parallelism (8 tasks on a 32-core
      // session, measured). One round-robin exchange of the slim
      // (doc_id, term, tf) rows — already pruned to the batch's terms
      // and deduped bucket-locally — buys core-count parallelism for
      // the expensive part; the count scales with the session instead
      // of a constant (guide §2.2/§2.5: never repartition by the
      // skewed `term` key itself)
      .repartition(spark.sparkContext.defaultParallelism)
      .join(terms, Seq("term"), "left")
      .withColumn("w",
        col("tf") * cosineIdfFx(coalesce(col("df"), lit(0L)), lit(nSnap)))
      .filter(col("w") > 0)
      .select("doc_id", "term", "w")
    val num = (if (wBatchBroadcastable) broadcast(wBatch) else wBatch)
      .select(col("batch_id"), col("term"), col("w").as("w_b"))
      .join(wHist.select(col("doc_id"), col("term"), col("w").as("w_h")), Seq("term"))
      .filter(col("batch_id") =!= col("doc_id"))
      .groupBy("batch_id", "doc_id")
      .agg(fxMulSum(col("w_b"), col("w_h")).as("num"))
    val histNorms = cosineLiveNorms(spark, tableName)
      .select(col("doc_id"), col("nrm").as("norm_h"))
    val lhs = col("num").cast(dec) * col("num") * lit(minCosDen.toLong * minCosDen)
    val rhs = col("norm_b").cast(dec) * col("norm_h") * lit(minCosNum.toLong * minCosNum)
    // batchNorms aggregates the checkpointed batch frame (≤ one row per
    // batch doc), so the same measured smallness extends to it — the
    // LogicalRDD's unknown stats otherwise demote this join to a
    // SortMergeJoin over the scored pairs
    num.join(if (wBatchBroadcastable) broadcast(batchNorms) else batchNorms,
        "batch_id")
      .join(histNorms, "doc_id")
      .filter(cosineThresholdFilter(lhs, rhs, "lexicalCosineAgainstIndex"))
      .select(col("batch_id"), col("doc_id"),
        cosineLongExact(col("num"), "num", "lexicalCosineAgainstIndex").as("num_fx"),
        cosineLongExact(col("norm_b"), "norm_b", "lexicalCosineAgainstIndex").as("norm_b"),
        cosineLongExact(col("norm_h"), "norm_h", "lexicalCosineAgainstIndex").as("norm_h"))
  }

  /** Exact content fingerprint of the `<table>_terms` df snapshot:
    * (row count, Σdf, Σ pmod(xxhash64(term, df), 1e9+7)) — one bounded
    * aggregate over the vocabulary-sized table. Stamped into
    * `<table>_norms_stats` at norm-build time and re-derived per
    * cosine call, so norms built against an OLDER snapshot (a restamp
    * or rebuild that died before refreshing them) fail loudly instead
    * of silently mixing two vector spaces.
    */
  private def termsFingerprint(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): (Long, Long, Long) = {
    val r = spark.table(tableName + "_terms")
      .agg(
        count(lit(1)).as("n_terms"),
        coalesce(sum(col("df")), lit(0L)).as("df_mass"),
        coalesce(sum(pmod(xxhash64(col("term"), col("df")), lit(1000000007L))),
          lit(0L)).as("df_hash"))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Validate the norms sidecar against the live `_terms` snapshot and
    * return the snapshot N the norms were built with. Raises when the
    * sidecar is missing (never materialized) or stale (the snapshot
    * moved underneath it).
    */
  private def requireFreshCosineNorms(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): Long = {
    require(spark.catalog.tableExists(tableName + "_norms") &&
      spark.catalog.tableExists(tableName + "_norms_stats"),
      s"$tableName has no cosine norms sidecar — run refreshCosineNorms " +
        "once to materialize it (the incremental cosine serves history " +
        "norms and idf from stored state, O(batch) per call)")
    val ns = spark.table(tableName + "_norms_stats").head()
    val (nT, mass, hash) = termsFingerprint(spark, tableName)
    require(nT == ns.getAs[Long]("n_terms") &&
      mass == ns.getAs[Long]("df_mass") && hash == ns.getAs[Long]("df_hash"),
      s"$tableName's df snapshot moved since the cosine norms were " +
        "built (a restamp or rebuild ran without refreshing them) — " +
        "run refreshCosineNorms")
    ns.getAs[Long]("snapshot_docs")
  }

  /** Live (non-tombstoned) rows of the cosine norms sidecar — distinct
    * on read like every side table (replayed appends land
    * byte-identical rows).
    */
  private def cosineLiveNorms(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): DataFrame =
    graft.plans.Tombstones.live(spark, tableName, "doc_id",
      spark.table(tableName + "_norms").distinct())

  /** Materialize (or re-derive) the cosine norms sidecar of a BM25
    * index: `<table>_norms` (doc_id, nrm) holds every roster doc's
    * Σ(tf·idf_fx)² in DECIMAL(38,0) under the CURRENT `_terms`/`_stats`
    * df snapshot, and `<table>_norms_stats` stamps the snapshot's
    * fingerprint + N beside it. One O(index) pass (postings ⨝ terms,
    * replay-residue rows dropped first) at enable/refresh cadence buys
    * [[lexicalCosineAgainstIndex]] its O(batch) per-epoch shape; once
    * materialized, [[appendToBm25Index]] maintains the sidecar
    * incrementally and [[restampBm25Index]] re-derives it whenever the
    * snapshot moves. Norm rows are written for EVERY roster doc (0 for
    * docs with no positive-weight term), so sidecar completeness is
    * checkable by a count compare. Tombstoned docs' rows are filtered
    * at read like every index surface; [[purgeBm25Index]] sweeps them
    * physically.
    *
    * @return number of documents stamped
    */
  def refreshCosineNorms(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): Long = {
    require(spark.catalog.tableExists(tableName + "_terms") &&
      spark.catalog.tableExists(tableName + "_stats"),
      s"$tableName is not a BM25 index (missing _terms/_stats)")
    require(spark.catalog.tableExists(tableName + "_docs"),
      s"$tableName has no ${tableName}_docs roster (pre-roster index) — " +
        "run repairBm25Index once to materialize it first")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val nSnap = spark.table(tableName + "_stats").head().getAs[Long]("built_docs")
    val terms = spark.table(tableName + "_terms")
    val sums = spark.table(tableName)
      .select("doc_id", "term", "tf")
      .dropDuplicates("doc_id", "term")
      .join(terms, Seq("term"), "left")
      .withColumn("w",
        col("tf") * cosineIdfFx(coalesce(col("df"), lit(0L)), lit(nSnap)))
      .filter(col("w") > 0)
      .groupBy("doc_id")
      .agg(sum(col("w").cast(dec) * col("w")).as("nrm"))
    val obs = org.apache.spark.sql.Observation(
      s"graft-cosnorms-$tableName-${java.util.UUID.randomUUID()}")
    spark.table(tableName + "_docs").select("doc_id").distinct()
      .join(sums, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("nrm"), lit(0).cast(dec)).as("nrm"))
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(tableName + "_norms")
    val (nT, mass, hash) = termsFingerprint(spark, tableName)
    spark.range(1)
      .select(lit(nT).as("n_terms"), lit(mass).as("df_mass"),
        lit(hash).as("df_hash"), lit(nSnap).as("snapshot_docs"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(tableName + "_norms_stats")
    spark.catalog.refreshTable(tableName + "_norms")
    spark.catalog.refreshTable(tableName + "_norms_stats")
    obs.get("n").asInstanceOf[Long]
  }

  /** Backfill norm rows for live roster docs the sidecar lacks — the
    * crash triage for [[appendToBm25Index]]'s death between the roster
    * and the norms append (and the follow-up to a [[repairBm25Index]]
    * roster backfill: repair the roster FIRST, then the norms).
    * Computes only the missing docs' norms — the postings scan is
    * semi-restricted to them. Idempotent; refuses on a stale snapshot
    * (backfilling against a moved snapshot would mix vector spaces —
    * run [[refreshCosineNorms]] instead, it re-derives everything).
    *
    * @return (normDocsBefore, backfilledDocs)
    */
  def repairCosineNorms(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): (Long, Long) = {
    val nSnap = requireFreshCosineNorms(spark, tableName)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val have = spark.table(tableName + "_norms").select("doc_id").distinct()
    val before = have.count()
    val missing = bm25LiveDocs(spark, tableName).select("doc_id")
      .join(have, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val n = missing.count()
    if (n > 0) {
      val terms = spark.table(tableName + "_terms")
      val sums = spark.table(tableName)
        .select("doc_id", "term", "tf")
        .join(broadcast(missing), Seq("doc_id"), "left_semi")
        .dropDuplicates("doc_id", "term")
        .join(terms, Seq("term"), "left")
        .withColumn("w",
          col("tf") * cosineIdfFx(coalesce(col("df"), lit(0L)), lit(nSnap)))
        .filter(col("w") > 0)
        .groupBy("doc_id")
        .agg(sum(col("w").cast(dec) * col("w")).as("nrm"))
      missing.join(sums, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("nrm"), lit(0).cast(dec)).as("nrm"))
        .write.mode("append").format("parquet")
        .saveAsTable(tableName + "_norms")
      spark.catalog.refreshTable(tableName + "_norms")
    }
    (before, n)
  }

  /** Exact per-group heavy hitters: the k most frequent whitespace
    * tokens of each group's concatenated text (corpus-level "top tokens
    * per language / per domain" profiling). Two-stage shape: the
    * (group, term) counts aggregate FIRST — partial (map-side) combine
    * collapses each partition's token stream to its local vocabulary,
    * so the one shuffle carries distinct (group, term) pairs, not
    * tokens — and the rank window then sorts only the aggregated
    * vocabulary rows per group, not the corpus. Exactness costs
    * state proportional to the true vocabulary; when the term domain
    * is unbounded (URLs, hosts), [[Sketches.heavyHitters]] is the
    * bounded-state Misra–Gries path with the same output shape plus a
    * per-group error certificate.
    */
  def topTermsPerGroup(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val counts = df
      .select(col(groupCol), explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(groupCol), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("cnt").desc, col("term"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col("term"), col("cnt"))
  }

  /** BM25 top-k document retrieval for a bag-of-words query — the
    * retrieval scorer a training-data pipeline uses for quality
    * search / decontamination probes (Robertson–Spärck Jones BM25,
    * k1/b in their standard roles). Dataflow is three aggregates and
    * one broadcast join, no collect:
    *
    *   - per-document length `dl` — a row-local codegen'd map;
    *   - corpus stats (N, avgdl) — a single-row aggregate, broadcast;
    *   - per-term document frequency `df_t` — aggregated over the
    *     posting rows of the QUERY terms only (the `isin` filter
    *     prunes the tokenized stream before the shuffle, so the
    *     aggregate sees |docs containing a query term| rows, not the
    *     corpus vocabulary);
    *   - final top-k by total score = `orderBy.limit(k)` — Spark plans
    *     TakeOrdered (per-partition heaps + driver merge of k·p rows),
    *     no global sort, no single-partition window.
    *
    * Cross-engine determinism mirrors [[tfidfTopTerms]]: the only
    * transcendental — `ln(1 + (N − df + 0.5)/(df + 0.5))` — is
    * quantized ONCE to integer micro-units; the per-(doc, term) score
    * `idf_fx · (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl))` is then a
    * fixed sequence of IEEE-754 double ops on identical inputs (both
    * engines round each op to nearest — bit-identical given the same
    * operation order, which the oracle SQL mirrors parenthesis for
    * parenthesis), floored to `score_fx` and summed in exact BIGINT.
    */
  def bm25TopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      query: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(k > 0, "k must be positive")
    require(query.nonEmpty, "query must have at least one term")
    bm25TermScores(df, idCol, textCol, query, k1, b)
      .groupBy("doc_id")
      .agg(sum(col("__score_fx")).as("score_fx"),
        count(lit(1)).cast("long").as("n_terms_hit"))
      .orderBy(col("score_fx").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-(doc, term) BM25 integer scores for `terms` — the shared
    * scorer behind [[bm25TopK]] and [[bm25TopKBatch]]; see
    * [[bm25TopK]]'s scaladoc for the dataflow and cross-engine
    * determinism story.
    */
  private def bm25TermScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double,
      b: Double
  ): DataFrame = {
    val docs = bm25Docs(df, idCol, textCol)
    val toks = docs
      .select(col("doc_id"), col("dl"),
        explode(split(col("__text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .filter(col("term").isin(terms: _*))
    val tf = toks.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    bm25ScorePostings(tf, stats, k1, b)
  }

  /** (doc_id, __text, dl[, carry…]) projection shared by the in-memory
    * scorer and the postings-index build/append — dl MUST be computed
    * identically everywhere or stored postings stop being equal to a
    * fresh tokenize.
    */
  private def bm25Docs(
      df: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil): DataFrame =
    df.select(
      col(idCol).as("doc_id") +:
        col(textCol).as("__text") +:
        size(filter(split(col(textCol), " "), t => length(t) > 0))
          .cast("long").as("dl") +:
        carryCols.map(col): _*)

  /** Tokenize → per-(doc, term) tf, carrying metadata columns through
    * the aggregate (they are functionally dependent on doc_id, so they
    * ride the groupBy keys) — shared by the index build and append so
    * the two can never tokenize differently.
    */
  private def bm25Tf(docs: DataFrame, carryCols: Seq[String]): DataFrame =
    docs
      .select(col("doc_id") +: col("dl") +:
        explode(split(col("__text"), " ")).as("term") +: carryCols.map(col): _*)
      .filter(length(col("term")) > 0)
      .groupBy(("doc_id" +: "dl" +: carryCols :+ "term").map(col): _*)
      .agg(count(lit(1)).as("tf"))

  /** The BM25 scoring kernel over PRE-PRUNED posting rows: `tf` is
    * (doc_id, dl, term, tf) restricted to the query terms, `stats` one
    * row (n_docs, sum_dl). Document frequency is aggregated HERE, over
    * the pruned postings — term-local, so pruning doesn't change it,
    * and always current, so an index append can never serve stale idf.
    * Shared verbatim by the tokenize-per-call path ([[bm25TermScores]])
    * and the materialized-index path ([[bm25TopKBatchFromIndex]]) —
    * identical op sequence is what makes the two paths bit-equal.
    */
  private def bm25ScorePostings(
      tf: DataFrame,
      stats: DataFrame,
      k1: Double,
      b: Double,
      candidateFilter: Option[Column] = None
  ): DataFrame = {
    // df aggregates BEFORE any candidate filter: filtered retrieval
    // restricts who may be returned, never the corpus statistics —
    // surviving docs score exactly as in the unfiltered run (the
    // contract the filtered gate pins)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    candidateFilter.map(tf.filter).getOrElse(tf)
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("__idf_fx",
        floor(log(lit(1.0) +
          (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)))
          * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("__ratio",
        (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + (lit(b) * col("dl").cast("double")) / col("__avgdl"))))
      .withColumn("__score_fx",
        floor(col("__idf_fx").cast("double") * col("__ratio") + lit(0.5)).cast("long"))
      .select(col("doc_id"), col("term"), col("__score_fx"))
  }

  /** Batched BM25: top-k documents for EVERY query of a (query_id,
    * term) bag at once — the decontamination-screen shape, where
    * thousands of eval probes scan the corpus together instead of
    * re-tokenizing it per query. One tokenize pass serves all queries
    * (the `isin` over the union of query terms prunes before the tf
    * shuffle); per-(doc, term) scores join the tiny query bag
    * broadcast; and the per-query reduction rides the k-bounded
    * `CollectTopK` queue — O(k) aggregate state per query in update
    * AND merge, so the shuffle carries ≤ partitions·k rows per query
    * where a rank window would sort every candidate doc (the same
    * queue the ANN family uses, [[Similarity]]).
    *
    * Ties break on doc_id ascending (struct order on (−score, doc)),
    * matching the oracle's `ORDER BY score_fx DESC, doc_id`.
    */
  def bm25TopKBatch(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame, // (query_id, term)
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val bag = queries.select(col("query_id"), col("term")).distinct()
    val terms = bag.select("term").distinct()
      .collect().map(_.getString(0)).toSeq // bounded: the query vocabulary
    require(terms.nonEmpty, "query bag must have at least one term")
    bm25BatchReduce(bm25TermScores(df, idCol, textCol, terms, k1, b), bag, k)
  }

  /** Per-query top-k reduction shared by [[bm25TopKBatch]] and the
    * indexed path: per-(doc, term) scores join the broadcast query bag,
    * sum per (query, doc), and reduce on the k-bounded CollectTopK
    * queue (O(k) aggregate state in update AND merge — never a rank
    * window over every candidate doc). Ties break doc_id ascending.
    */
  private def bm25BatchReduce(
      perTerm: DataFrame, bag: DataFrame, k: Int): DataFrame = {
    val perDoc = perTerm
      .join(broadcast(bag), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__score_fx")).as("score_fx"))
    val item = struct((col("score_fx") * -1).as("neg"), col("doc_id"))
    perDoc
      .groupBy("query_id")
      .agg(array_sort(org.apache.spark.sql.graftbridge.ColumnBridge
        .collectTopK(item, k, reverse = true)).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__r", "__i")))
      .select(
        col("query_id"),
        (col("__r") + 1).cast("long").as("rank"),
        col("__i.doc_id").as("doc_id"),
        (col("__i.neg") * -1).as("score_fx"))
  }

  /** Materialize the BM25 postings index for a corpus — the
    * build-once/query-many form of [[bm25TopKBatch]], which (like
    * [[bm25TopK]]) re-tokenizes and re-scans the raw text on every
    * call. A decontamination service issuing query bags daily re-pays
    * that full tokenize+tf pass each time; this persists it once, the
    * same repeated-cost elimination the MinHash and IVF index families
    * perform for their domains ([[Dedup.writeMinhashIndex]],
    * [[Similarity.writeIvfSqIndex]]).
    *
    * Layout: the postings table `(term, doc_id, tf, dl)` BUCKETED by
    * `term` ([[graft.plans.ScaleJoins.writeBucketed]]) — a query bag's
    * literal term filter then bucket-prunes the scan to the query
    * terms' buckets (`SelectedBucketsCount` in the plan), so retrieval
    * reads O(postings of the query terms), never the corpus and never
    * even the whole index. Three side tables ride along:
    *
    *  - `<table>_docs`, the per-document roster `(doc_id, dl)` — THE
    *    durable source of truth for corpus size and length mass.
    *    Queries aggregate (n_docs, sum_dl) from it live (distinct
    *    rows, minus tombstones), so there is no read-modify-write
    *    stats row to corrupt: a crashed append either landed a doc's
    *    roster row or it didn't, and a replayed epoch lands
    *    byte-identical rows the distinct collapses. The roster exists
    *    separately from postings because zero-token documents have no
    *    posting rows yet still belong in N and avgdl. Its scan cost is
    *    two columns over one row per document — ~10⁻⁴ of the corpus
    *    bytes, dwarfed by any postings read.
    *  - `<table>_stats`, ONE row `(n_docs, sum_dl, built_docs,
    *    built_sum_dl)` — BUILD-TIME stamps only (the [[bm25IndexStats]]
    *    drift reference), written once and never updated; the two
    *    current-value columns are retained for pre-roster readers.
    *  - `<table>_terms`, the build-time per-term document frequency.
    *    For BM25/TF-IDF retrieval it is a drift reference only
    *    (query-time idf aggregates df from the live pruned postings,
    *    so appends and deletes can never serve stale scores); for the
    *    incremental cosine it IS the scoring snapshot (see
    *    [[lexicalCosineAgainstIndex]]).
    *  - `<table>_norms` + `<table>_norms_stats` (OPTIONAL — created by
    *    [[refreshCosineNorms]], then maintained by every append,
    *    swept by the purge): per-doc Σ(tf·idf_fx)² under the `_terms`
    *    snapshot, the stored history norms that make the incremental
    *    cosine O(batch) per call.
    *
    * Deletion: [[deleteFromBm25Index]] appends ids to
    * `<table>_tombstones`; every query path anti-joins the roster and
    * the postings against it, so a tombstoned document is gone from
    * candidates AND from df/N/avgdl in the same instant — scoring
    * after a delete is bit-identical to a rebuild without those docs.
    * [[purgeBm25Index]] makes the deletion physical.
    */
  /** The postings table's own column names — the carryCols collision
    * guard and the append-time carried-column discovery share ONE
    * definition (the [[Similarity]] IVF index convention).
    */
  private val Bm25IndexReservedCols = Set("term", "doc_id", "tf", "dl")

  def writeBm25Index(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tableName: String,
      buckets: Int = 16,
      carryCols: Seq[String] = Nil,
      normForm: String = NormForm.Default
  ): Unit = {
    require(buckets > 0)
    NormForm.validate(normForm)
    // carryCols = document metadata stored verbatim on each posting row
    // (lang, source, license, date …) — the payload
    // [[bm25TopKBatchFromIndexWhere]] predicates filter against.
    // Denormalized per posting (a doc's metadata repeats once per
    // distinct term), the standard search-index trade: the filter
    // applies during the pruned scan with no join back to a doc table.
    require(carryCols.forall(c => !Bm25IndexReservedCols.contains(c)),
      s"carryCols collide with index columns: " +
        carryCols.filter(Bm25IndexReservedCols).mkString(", "))
    val spark = df.sparkSession
    // (n_docs, sum_dl) observed ON the postings write itself — a
    // separate stats aggregate would re-scan and re-tokenize the whole
    // corpus for two numbers (the Compaction.compactBucketedTable
    // pattern: never re-scan just to read a count)
    val obs = org.apache.spark.sql.Observation(s"graft-bm25-build-$tableName")
    val docs = bm25Docs(df, idCol, textCol, carryCols)
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("s"))
    val tf = bm25Tf(docs, carryCols)
    graft.plans.ScaleJoins.writeBucketed(
      tf.select(("term" +: "doc_id" +: "tf" +: "dl" +: carryCols).map(col): _*),
      tableName, "term", buckets)
    // build-time df per term — the staleness reference, NOT the
    // scorer's input (scoring df stays live; see the class doc).
    // Aggregated from the WRITTEN postings (index-sized), not the text
    spark.table(tableName)
      .groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(tableName + "_terms")
    // the per-document roster — dl recomputed by the same shared
    // projection (no explode, so this second corpus pass is a narrow
    // map); zero-token docs land here with dl = 0 even though they
    // have no posting rows
    bm25Docs(df, idCol, textCol).select(col("doc_id"), col("dl"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(tableName + "_docs")
    graft.plans.Tombstones.reset(spark, tableName)
    // a rebuild re-creates the world: a cosine norms sidecar from the
    // previous build would be stale against the new snapshot — drop it
    // (re-enable explicitly via refreshCosineNorms)
    spark.sql(s"DROP TABLE IF EXISTS `${tableName}_norms`")
    spark.sql(s"DROP TABLE IF EXISTS `${tableName}_norms_stats`")
    val n = obs.get("n").asInstanceOf[Long]
    val s = obs.get("s").asInstanceOf[Long]
    writeBm25Stats(spark, tableName, n, s, n, s, normForm)
  }

  /** The document roster, deleted docs included: distinct `(doc_id,
    * dl)` rows of `<table>_docs` (replayed epochs land byte-identical
    * rows). A pre-roster index falls back to postings, where zero-token
    * legacy docs are invisible — run [[repairBm25Index]] once.
    */
  private def bm25Roster(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): DataFrame =
    if (spark.catalog.tableExists(tableName + "_docs"))
      spark.table(tableName + "_docs").distinct()
    else
      spark.table(tableName)
        .groupBy("doc_id").agg(max(col("dl")).as("dl"))

  /** [[bm25Roster]] minus deleted docs — the frame every (n_docs,
    * sum_dl) aggregate and every deletion-aware read derives from.
    */
  private def bm25LiveDocs(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): DataFrame =
    graft.plans.Tombstones.live(spark, tableName, "doc_id", bm25Roster(spark, tableName))

  /** One-row (n_docs, sum_dl) of the CURRENT corpus — aggregated live
    * from the roster (see [[bm25LiveDocs]]); `_stats`' stored values
    * are build-time stamps, never read on the query path.
    */
  private def bm25CurrentStats(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): DataFrame =
    bm25LiveDocs(spark, tableName).agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))

  /** Postings restricted to live (non-tombstoned) documents — the
    * frame the scoring kernel must see so df, candidates, and carried
    * metadata all forget a deleted doc in the same instant.
    */
  private def bm25LivePostings(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): DataFrame =
    graft.plans.Tombstones.live(spark, tableName, "doc_id", spark.table(tableName))

  private def writeBm25Stats(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      nDocs: Long, sumDl: Long,
      builtDocs: Long, builtSumDl: Long,
      normForm: String): Unit =
    spark.range(1)
      .select(
        lit(nDocs).as("n_docs"), lit(sumDl).as("sum_dl"),
        lit(builtDocs).as("built_docs"), lit(builtSumDl).as("built_sum_dl"),
        lit(normForm).as("norm_form"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(tableName + "_stats")

  /** The stored normalization-form stamp of a BM25 index, `None` for
    * a pre-stamp `_stats` row — the documented accept-as-is path
    * (see [[NormForm]]).
    */
  private def bm25NormForm(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): Option[String] = {
    val t = spark.table(tableName + "_stats")
    if (t.columns.contains("norm_form"))
      Some(t.select(col("norm_form")).head().getString(0))
    else None
  }

  /** [[bm25TopKBatch]] over a materialized index
    * ([[writeBm25Index]]): the query bag's term vocabulary becomes a
    * literal filter on the bucketed postings scan — bucket pruning plus
    * the pushed `In` restrict the read to the query terms' buckets —
    * and the shared scoring kernel runs over the stored (tf, dl) rows
    * with (n_docs, sum_dl) from the maintained stats row. Results are
    * bit-identical to the in-memory batch path over the same corpus
    * (the round-trip-equality contract the ANN indexes carry), because
    * the kernel, the op order, and the live-df aggregation are shared
    * code, and the postings store exactly what a fresh tokenize would
    * produce.
    */
  def bm25TopKBatchFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      queries: DataFrame, // (query_id, term)
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val bag = queries.select(col("query_id"), col("term")).distinct()
    val terms = bag.select("term").distinct()
      .collect().map(_.getString(0)).toSeq // bounded: the query vocabulary
    require(terms.nonEmpty, "query bag must have at least one term")
    val postings = bm25LivePostings(spark, tableName)
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    val stats = bm25CurrentStats(spark, tableName)
    bm25BatchReduce(bm25ScorePostings(postings, stats, k1, b), bag, k)
  }

  /** Filtered retrieval over the materialized index: like
    * [[bm25TopKBatchFromIndex]], but only documents whose CARRIED
    * metadata (the build's `carryCols` — lang, source, license …)
    * satisfies `predicate` may be returned — the "retrieve within
    * lang = 'en'" shape, the lexical twin of
    * [[Similarity.ivfQuantizedTopKFromIndexWhere]]. The predicate
    * applies during the already-term-pruned postings scan (no join
    * back to a document table), and it restricts CANDIDATES only:
    * df/N/avgdl stay the corpus-wide statistics, so a surviving doc
    * scores bit-identically to the unfiltered run and the filtered
    * top-k IS the top-k of the restriction — the contract the gate
    * pins cross-engine.
    */
  def bm25TopKBatchFromIndexWhere(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      queries: DataFrame, // (query_id, term)
      k: Int,
      predicate: Column,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val bag = queries.select(col("query_id"), col("term")).distinct()
    val terms = bag.select("term").distinct()
      .collect().map(_.getString(0)).toSeq // bounded: the query vocabulary
    require(terms.nonEmpty, "query bag must have at least one term")
    val postings = bm25LivePostings(spark, tableName)
      .filter(col("term").isin(terms: _*))
    val stats = bm25CurrentStats(spark, tableName)
    bm25BatchReduce(
      bm25ScorePostings(postings, stats, k1, b, Some(predicate)), bag, k)
  }

  /** Incremental postings maintenance: tokenize a NEW batch of
    * documents, append its posting rows through the table's own bucket
    * spec, then append its `(doc_id, dl)` rows to the roster — each
    * ingest epoch costs O(batch), never a corpus re-tokenize (the same
    * append policy as [[Similarity.appendToIvfSqIndex]]). Scoring
    * stays exact after any number of appends: df aggregates live from
    * the postings and N/avgdl aggregate live from the roster.
    *
    * Durability, stated exactly: both writes are APPENDS of
    * deterministic rows — there is no read-modify-write anywhere, so
    * no crash can corrupt existing state. A death between the two
    * appends leaves the batch's postings present and its roster rows
    * missing (df sees the docs, N/avgdl don't — a skew
    * [[repairBm25Index]] detects as a non-zero backfill); re-running
    * the SAME epoch heals it
    * completely (every row lands byte-identically; distinct-on-read
    * collapses the duplicates), and [[repairBm25Index]] heals it
    * without the batch by backfilling the roster from postings (only a
    * crashed epoch's ZERO-TOKEN docs are unrecoverable that way — they
    * have no posting rows — and they vanish consistently, as if never
    * appended).
    *
    * Contract: batch doc ids must be NEW documents (re-appending an id
    * double-counts its tf and df — the same new-rows contract the ANN
    * appends carry); replayed epochs produce byte-identical duplicate
    * rows that [[graft.plans.Compaction.compactBucketedTable]] and the
    * roster's distinct-on-read drop.
    */
  def appendToBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      normForm: String = NormForm.Default
  ): Unit = {
    NormForm.check(bm25NormForm(spark, tableName), normForm, tableName)
    val carried = graft.plans.Compaction.carriedColumns(
      spark, tableName, Bm25IndexReservedCols.toSeq, batch)
    require(spark.catalog.tableExists(tableName + "_docs"),
      s"$tableName has no ${tableName}_docs roster (pre-roster index) — " +
        "run repairBm25Index once to materialize it before appending")
    // cosine sidecar precondition CHECKED BEFORE ANY WRITE: appending
    // under a snapshot the norms weren't built against would mix two
    // vector spaces — fail clean, land nothing
    val maintainNorms = spark.catalog.tableExists(tableName + "_norms")
    val nSnap = if (maintainNorms) requireFreshCosineNorms(spark, tableName) else 0L
    val docs = bm25Docs(batch, idCol, textCol, carried)
    val tf = bm25Tf(docs, carried)
    graft.plans.Compaction.appendBucketed(spark, tableName,
      tf.select(("term" +: "doc_id" +: "tf" +: "dl" +: carried).map(col): _*))
    // roster rows SECOND: a death in between is the repairable /
    // replay-healable window documented above (postings-first means the
    // backfill repair can always reconstruct tokenful docs)
    docs.select(col("doc_id"), col("dl"))
      .write.mode("append").format("parquet")
      .saveAsTable(tableName + "_docs")
    spark.catalog.refreshTable(tableName + "_docs")
    if (maintainNorms) {
      // norms LAST, under the SAME stored snapshot — appended docs are
      // scorable history for the very next batch without any index
      // rescan; death before this write is repairCosineNorms' window
      // (caught by the count compare on the next cosine call)
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val sums = tf
        .select("doc_id", "term", "tf")
        .join(spark.table(tableName + "_terms"), Seq("term"), "left")
        .withColumn("w",
          col("tf") * cosineIdfFx(coalesce(col("df"), lit(0L)), lit(nSnap)))
        .filter(col("w") > 0)
        .groupBy("doc_id")
        .agg(sum(col("w").cast(dec) * col("w")).as("nrm"))
      docs.select("doc_id").join(sums, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("nrm"), lit(0).cast(dec)).as("nrm"))
        .write.mode("append").format("parquet")
        .saveAsTable(tableName + "_norms")
      spark.catalog.refreshTable(tableName + "_norms")
    }
  }

  /** Reconcile a BM25 index's roster with its postings — the crash
    * triage for [[appendToBm25Index]]'s one residual window (death
    * between the postings append and the roster append) and the
    * one-time upgrade path for a pre-roster index. Every doc_id
    * present in postings but missing from the roster gets its
    * `(doc_id, dl)` row backfilled (dl rides every posting row, so
    * the reconstruction is exact); doc_ids the roster has that
    * postings lack are NOT touched — they are the legitimate
    * zero-token documents. Idempotent: a repaired index repairs to
    * zero backfills.
    *
    * @return (rosterRowsBefore, backfilledDocs) — a non-zero backfill
    *         after a clean history means an append died mid-protocol;
    *         for a pre-roster upgrade, compare the result against the
    *         legacy `_stats` n_docs: a shortfall is the count of
    *         zero-token legacy docs whose ids are unrecoverable
    */
  def repairBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): (Long, Long) = {
    val hadRoster = spark.catalog.tableExists(tableName + "_docs")
    val roster =
      if (hadRoster) Some(spark.table(tableName + "_docs").distinct()) else None
    val before = roster.map(_.count()).getOrElse(0L)
    val fromPostings = spark.table(tableName)
      .groupBy("doc_id").agg(max(col("dl")).as("dl"))
    val missing = roster match {
      case Some(r) =>
        fromPostings.join(r.select("doc_id"), Seq("doc_id"), "left_anti")
      case None => fromPostings
    }
    // materialize the backfill BEFORE writing: the append below reads
    // the roster table it writes to
    val rows = missing.localCheckpoint(true)
    val n = rows.count()
    if (n > 0 || !hadRoster) {
      rows.write.mode(if (hadRoster) "append" else "overwrite")
        .format("parquet").saveAsTable(tableName + "_docs")
      spark.catalog.refreshTable(tableName + "_docs")
    }
    (before, n)
  }

  /** Re-stamp a BM25 index's staleness REFERENCES to "now" — the cheap
    * alternative to a full rebuild when [[isStaleBm25Index]] flips on
    * append mass or avgdl drift: retrieval itself never went stale
    * (df is live, N/avgdl aggregate from the roster), so what a
    * "rebuild" actually refreshes is the drift baseline — the
    * `<table>_terms` df snapshot and the `_stats` build stamps. This
    * recomputes both from the LIVE index state: O(index) + O(roster),
    * never a corpus re-tokenize. Answers are untouched by
    * construction (the query path reads neither table). Downstream
    * systems exporting the `_terms` snapshot as a cached idf table get
    * the refresh they were being warned about; a tombstone-driven
    * flag still needs [[purgeBm25Index]] — restamping doesn't reclaim
    * bytes.
    */
  def restampBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): Unit = {
    val cur = bm25CurrentStats(spark, tableName).head()
    val n = cur.getAs[Long]("n_docs")
    val s = cur.getAs[Long]("sum_dl")
    // the restamp rewrites the stats row — the normalization stamp
    // must survive it (a restamp moves the drift baseline, not the
    // text contract); a pre-stamp index stays pre-stamp
    val form = bm25NormForm(spark, tableName)
    bm25LivePostings(spark, tableName)
      .groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(tableName + "_terms")
    form match {
      case Some(f) => writeBm25Stats(spark, tableName, n, s, n, s, f)
      case None => // preserve the pre-stamp 4-column shape
        spark.range(1)
          .select(lit(n).as("n_docs"), lit(s).as("sum_dl"),
            lit(n).as("built_docs"), lit(s).as("built_sum_dl"))
          .write.mode("overwrite").format("parquet")
          .saveAsTable(tableName + "_stats")
    }
    // the restamp MOVES the snapshot — a cosine norms sidecar built
    // against the old one is now stale; re-derive it in the same
    // breath (a death in between leaves the fingerprint mismatch the
    // next cosine call refuses on, and a rerun completes)
    if (spark.catalog.tableExists(tableName + "_norms"))
      refreshCosineNorms(spark, tableName)
  }

  /** Delete documents from a materialized BM25 index — the takedown /
    * PII-purge verb (license revocation, deduplication-driven removal,
    * a compliance request), O(|ids|) however large the index: every
    * query path drops the deleted documents from candidates, df, N and
    * avgdl in the same instant. Scoring after a delete is therefore
    * bit-identical to an index REBUILT without those documents (the
    * delete == rebuild contract, mirror of the append == rebuild one) —
    * df was always live, and N/avgdl aggregate from the live roster.
    * The protocol, physical removal included, is
    * [[graft.plans.Tombstones]].
    *
    * @param ids one-column frame of doc ids to remove
    * @return number of distinct NEW ids tombstoned (already-tombstoned
    *         ids and ids absent from the roster excluded) — the
    *         takedown receipt
    */
  def deleteFromBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      ids: DataFrame): Long =
    graft.plans.Tombstones.delete(spark, tableName, "doc_id", ids,
      bm25Roster(spark, tableName))

  /** Make BM25 deletions physical — the crash-ordered purge of
    * [[graft.plans.Tombstones]], sweeping the roster and the cosine norms
    * sidecar too. Answers never change; the deleted bytes leave the
    * disk, which is what a compliance purge requires.
    *
    * @return (postingRowsBefore, postingRowsAfter)
    */
  def purgeBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): (Long, Long) =
    graft.plans.Tombstones.purge(spark, tableName, "doc_id", Seq("_docs", "_norms"))

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher) of ranked
    * retrieval runs: each channel contributes `1/(k0 + rank)` per
    * (query, doc) and the fused ranking orders by the sum — the
    * standard way to blend heterogeneous retrieval channels (lexical
    * BM25 beside an ANN run, a relevance run beside a recency run)
    * without comparing their incomparable raw scores; `k0` (60 in the
    * original paper) damps the head so one channel's #1 can't drown
    * agreement further down.
    *
    * Every input is rank-domain only — (query_id, doc_id, rank) — so
    * the operator is channel-agnostic. Contributions are fixed-point:
    * `1_000_000 div (k0 + rank)` in exact BIGINT, so the fused order
    * is engine-portable (full DuckDB oracle), summed per (query, doc)
    * and reduced on the k-bounded CollectTopK queue — the same O(k)
    * aggregate state per query as [[bm25TopKBatch]], never a rank
    * window over the union of candidate lists. Ties break on doc_id
    * ascending.
    */
  def reciprocalRankFusion(
      runs: Seq[DataFrame], // each (query_id, doc_id, rank)
      k: Int,
      k0: Int = 60
  ): DataFrame = {
    require(runs.nonEmpty, "need at least one ranked run")
    // k0 ≥ 1, not ≥ 0: ranks start at 1 in every producer here, but a
    // defensive rank-0 row under k0 = 0 would hit div(·, 0), which is
    // NULL under non-ANSI SQL — silently dropping that row's
    // contribution from the fused sum instead of failing
    require(k > 0 && k0 >= 1, "need k > 0 and k0 >= 1")
    val contrib = runs
      .map(_.select(col("query_id"), col("doc_id"),
        call_function("div", lit(1000000L), lit(k0.toLong) + col("rank").cast("long"))
          .as("__c")))
      .reduce(_.unionByName(_))
    val perDoc = contrib
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__c")).as("score_fx"))
    val item = struct((col("score_fx") * -1).as("neg"), col("doc_id"))
    perDoc
      .groupBy("query_id")
      .agg(array_sort(org.apache.spark.sql.graftbridge.ColumnBridge
        .collectTopK(item, k, reverse = true)).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__r", "__i")))
      .select(
        col("query_id"),
        (col("__r") + 1).cast("long").as("rank"),
        col("__i.doc_id").as("doc_id"),
        (col("__i.neg") * -1).as("score_fx"))
  }

  /** Staleness telemetry for a materialized BM25 index — the mirror of
    * [[Similarity.ivfIndexStats]]. Retrieval itself never goes stale
    * (df is live, N/avgdl additive — see [[appendToBm25Index]]); what
    * drifts is everything stamped at BUILD time: the `<table>_terms`
    * df snapshot (which downstream systems export as cached idf
    * tables) and the length statistics the corpus had when the index
    * was laid out. High drift says "the corpus this index describes is
    * no longer the corpus you built from" — refresh exported
    * snapshots, and recompact ([[graft.plans.Compaction
    * .compactBucketedTable]]) the small files the append epochs left.
    *
    * @param totalDocs        documents the index covers now
    * @param builtDocs        documents at build time
    * @param appendedFraction (totalDocs − builtDocs) / totalDocs
    * @param avgdl            current mean document length
    * @param builtAvgdl       mean document length at build time
    * @param avgdlDriftPpm    |avgdl − builtAvgdl| / builtAvgdl, in ppm
    * @param newTermPpm       fraction (ppm) of the CURRENT vocabulary
    *                         absent from the build-time snapshot
    * @param maxDfDriftPpm    worst per-term relative df drift (ppm)
    *                         over terms present at build time
    * @param tombstoneFraction deleted docs still physically present /
    *                         (live + deleted) — disk and scan waste
    *                         [[purgeBm25Index]] reclaims; answers are
    *                         already delete-exact regardless
    */
  final case class Bm25IndexStats(
      totalDocs: Long,
      builtDocs: Long,
      appendedFraction: Double,
      avgdl: Double,
      builtAvgdl: Double,
      avgdlDriftPpm: Long,
      newTermPpm: Long,
      maxDfDriftPpm: Long,
      tombstoneFraction: Double = 0.0)

  /** Measure [[Bm25IndexStats]]: the one-row stats side table plus ONE
    * aggregate over the postings (per-term current df, joined to the
    * build-time `<table>_terms` snapshot — at most |vocabulary| rows
    * shuffle, never posting rows). Run between ingest epochs; feed
    * [[isStaleBm25Index]] or alert directly.
    */
  def bm25IndexStats(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): Bm25IndexStats = {
    val s = spark.table(tableName + "_stats").head()
    val bDocs = s.getAs[Long]("built_docs")
    val bSumDl = s.getAs[Long]("built_sum_dl")
    // current values aggregate LIVE from the roster (minus tombstones)
    // — the _stats row holds build-time stamps only; the extra scan is
    // two columns over one row per doc
    val cur = bm25CurrentStats(spark, tableName).head()
    val nDocs = cur.getAs[Long]("n_docs")
    val sumDl = cur.getAs[Long]("sum_dl")
    // tombstone mass: dead docs still in the roster — the signal that
    // a purge pass is due
    val deadDocs = graft.plans.Tombstones.deadRows(spark, tableName, "doc_id",
      bm25Roster(spark, tableName).select("doc_id").distinct())
    val appended =
      if (nDocs == 0L) 0.0 else math.max(0L, nDocs - bDocs).toDouble / nDocs
    val avgdl = if (nDocs == 0L) 0.0 else sumDl.toDouble / nDocs
    val bAvgdl = if (bDocs == 0L) 0.0 else bSumDl.toDouble / bDocs
    val avgdlDrift =
      if (bAvgdl == 0.0) 0L
      else math.round(math.abs(avgdl - bAvgdl) / bAvgdl * 1e6)
    val curDf = bm25LivePostings(spark, tableName)
      .groupBy("term").agg(count(lit(1)).as("cur_df"))
    val built = spark.table(tableName + "_terms")
    val d = curDf.join(built, Seq("term"), "left_outer")
      .agg(
        count(lit(1)).as("n_terms"),
        coalesce(sum(when(col("df").isNull, 1L).otherwise(0L)), lit(0L))
          .as("new_terms"),
        max(when(col("df").isNotNull,
          call_function("div",
            abs(col("cur_df") - col("df")) * lit(1000000L), col("df"))))
          .as("max_drift"))
      .head()
    val nTerms = d.getAs[Long]("n_terms")
    Bm25IndexStats(
      nDocs, bDocs, appended, avgdl, bAvgdl, avgdlDrift,
      if (nTerms == 0L) 0L else d.getAs[Long]("new_terms") * 1000000L / nTerms,
      if (d.isNullAt(2)) 0L else d.getAs[Long]("max_drift"),
      if (nDocs + deadDocs == 0L) 0.0
      else deadDocs.toDouble / (nDocs + deadDocs))
  }

  /** The operational refresh threshold for a BM25 index, mirroring
    * [[Similarity.isStaleIvfSqIndex]]: flags when appends dominate the
    * index (`appendedFraction`) or the corpus' length profile has moved
    * (`avgdlDriftPpm`) — the two signals that say build-time snapshots
    * (exported idf tables, capacity plans sized to avgdl) are
    * describing a corpus that no longer exists. Remediation: re-run
    * [[writeBm25Index]] over the full corpus (refreshing the stamps),
    * or — when the only symptom is append-file accumulation —
    * [[graft.plans.Compaction.compactBucketedTable]], which rewrites
    * the layout without touching the stamps.
    */
  def isStaleBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      maxAppendedFraction: Double = 0.5,
      maxAvgdlDriftPpm: Long = 200000L,
      maxTombstoneFraction: Double = 0.2): Boolean = {
    val st = bm25IndexStats(spark, tableName)
    st.appendedFraction > maxAppendedFraction ||
      st.avgdlDriftPpm > maxAvgdlDriftPpm ||
      // answers stay exact under tombstones; what degrades is bytes
      // scanned and stored — past the threshold, run purgeBm25Index
      st.tombstoneFraction > maxTombstoneFraction
  }

  /** Feature-hashed document vectors — the hashing trick (HashingTF
    * with signed buckets): every token lands in dimension
    * `hash mod d` carrying a ±1 sign read from an independent bit of
    * the same mixed hash, and the document's vector is the signed
    * count per dimension. Model-free document geometry: when no
    * encoder is available (or before one runs), these vectors feed
    * the same clustering / ANN / dedup machinery real embeddings do.
    * The sign makes bucket collisions cancel in expectation instead
    * of compounding (the signed-hash variant of Weinberger et al.).
    *
    * Sparse long format `(doc_id, dim_idx, f)` — a relational shape
    * whose partial aggregation bounds the shuffle at docs × d rows.
    * Hashes are the portable KR fold + Knuth mix, every value an
    * exact integer: full DuckDB oracle.
    */
  def hashFeatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      d: Int
  ): DataFrame = {
    require(d >= 2, "feature dimension must be >= 2")
    val h = graft.operators.Sketches.tokenHash(col("term"))
    df.select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .filter(length(col("term")) > 0)
      .select(col("doc_id"),
        pmod(h, lit(d.toLong)).as("dim_idx"),
        (lit(1L) - lit(2L) *
          pmod(call_function("div", h, lit(65536L)), lit(2L))).as("__s"))
      .groupBy("doc_id", "dim_idx")
      .agg(sum(col("__s")).as("f"))
  }

  /** [[hashFeatures]] densified to `(doc_id, vec: array<double>)` — the
    * actual bridge into the ANN machinery: [[Similarity.writeIvfSqIndex]]
    * and friends take a dense vector column, so this is what makes the
    * "model-free geometry feeds the same indexes real embeddings do"
    * claim executable rather than rhetorical (gated end-to-end by
    * `q_sim_hashed_ann`). Values stay the exact signed integer counts,
    * carried as doubles (< 2^53, so arithmetic downstream — norms,
    * dots, int8 quantization — is exact and engine-portable).
    *
    * Shape: the sparse aggregate bounds the shuffle at docs × d rows;
    * assembly is a per-doc map build plus d codegen'd `element_at`
    * lookups — no interpreted higher-order fold. Documents with zero
    * tokens have no sparse rows and therefore NO vector (nothing to
    * retrieve by); filter upstream if every doc must appear.
    */
  def hashFeatureVectors(
      df: DataFrame,
      idCol: String,
      textCol: String,
      d: Int
  ): DataFrame =
    hashFeatures(df, idCol, textCol, d)
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("dim_idx"), col("f"))))
        .as("__m"))
      .select(col("doc_id"),
        array((0 until d).map(j =>
          coalesce(element_at(col("__m"), lit(j.toLong)), lit(0L))
            .cast("double")): _*).as("vec"))

  /** Gopher-style top-n-gram occupancy: for each document, the count of
    * its single most frequent word `n`-gram and that count's share of
    * all the document's n-grams. A high share means one phrase dominates
    * the text — the repetition signal the Gopher cleaning rules cut on
    * (their "top 2-gram character fraction" family, simplified to gram
    * counts so the statistic is exactly integer-derived).
    *
    * This is a ROW-LOCAL statistic, computed row-locally: one pass per
    * document through the native [[graft.functions.GramStatsExpression]]
    * kernel — ZERO exchanges, stays inside whole-stage codegen. (The
    * relational explode → groupBy(doc, gram) → groupBy(doc) form it
    * replaces shuffled ~the whole tokenized corpus twice for a per-row
    * number: grams are near-unique within a document, so map-side
    * combine barely helped — 3.4 s at sf0.1 and linear in corpus size,
    * a genuine 100×-scale killer.) The fraction is a ratio of two
    * integers — exact in double, engine-portable. Documents shorter
    * than `n` tokens count their whole token list as one gram (the
    * [[Dedup.shingles]] degenerate-case rule).
    */
  def topNgramStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    require(n > 0, "n must be positive")
    val toks = split(trim(col(textCol)), "[ \t\n\f\r]+")
    df.select(col(idCol).as("doc_id"),
        graft.functions.GramStatsExpression.gramStats(toks, n).as("__gs"))
      .select(col("doc_id"),
        col("__gs.n_grams").as("n_grams"),
        col("__gs.top_count").as("top_count"))
      .withColumn("top_frac_fx",
        floor(col("top_count").cast("double") / col("n_grams").cast("double") * lit(1e6) + lit(0.5))
          .cast("long"))
  }

  /** Annotate a documents DataFrame with the full analysis surface. */
  def analyze(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("ta_n_chars", charCount(t))
      .withColumn("ta_n_tokens", tokenCount(t))
      .withColumn("ta_n_bpeish", bpeishTokenCount(t))
      .withColumn("ta_punct_ratio", punctRatio(t))
      .withColumn("ta_stopword_ratio", stopwordRatio(t))
      .withColumn("ta_quality", qualityScore(t))
      .withColumn("ta_word_rep", wordRepetitionRatio(t))
      .withColumn("ta_symbol_ratio", symbolWordRatio(t))
      .withColumn("ta_digit_ratio", digitRatio(t))
      .withColumn("ta_entropy", charEntropy(t))
      .withColumn("ta_lang", langId(t))
      .withColumn("ta_fingerprint", fingerprint(t))
  }

  /** Corpus-level PMI (pointwise mutual information) collocations: the
    * top-`k` adjacent word pairs that co-occur far more than their
    * unigram frequencies predict — the phrase-induction signal behind
    * tokenizer vocab merges and multi-word expression mining.
    *
    * `PMI(a,b) = ln( p(ab) / (p(a)·p(b)) )` with `p(ab) = c_ab/N2`
    * over bigram events and `p(a) = c_a/N1` over token events, i.e.
    * `ln(c_ab·N1·N1 / (N2·c_a·c_b))`. `minCount` suppresses the
    * low-count pairs whose PMI is spuriously high (the classic PMI
    * pathology). The log is quantized once to integer micro-units
    * (`pmi_fx`, same recipe as [[tfidfTopTerms]]'s idf) and every
    * comparison downstream — ranking, ties on the words — is exact.
    *
    * Scale shape (100 TB): one shuffled count on (w1,w2) with map-side
    * combine (bounded by observed-bigram vocabulary, not corpus size),
    * one on tokens; the unigram dictionary joins back by key (AQE
    * broadcasts it when small); the two scalar totals broadcast; the
    * final top-k is a TakeOrdered, never a global sort.
    */
  def pmiCollocations(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Int = 5,
      k: Int = 20
  ): DataFrame = {
    require(minCount >= 1 && k >= 1)
    val w = tokens(lower(col(textCol)))
    val base = df.select(col(idCol).as("doc_id"), w.as("__w"))
    val uni = base
      .select(explode(col("__w")).as("term"))
      .filter(length(col("term")) > 0)
    val n1 = uni.agg(count(lit(1)).as("n1"))
    val ug = uni.groupBy("term").agg(count(lit(1)).as("c"))
    val bg = base
      .filter(size(col("__w")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("__w")) - 2),
        i => struct(element_at(col("__w"), i + 1).as("w1"),
          element_at(col("__w"), i + 2).as("w2")))).as("__b"))
      .select(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    val n2 = bg.agg(count(lit(1)).as("n2"))
    val bgc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bgc
      .join(ug.select(col("term").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(ug.select(col("term").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(n1))
      .crossJoin(broadcast(n2))
      // identical association order on both engines: ((c_ab·N1)·N1) /
      // ((N2·c_a)·c_b), one double division, one ln, one quantize
      .withColumn("pmi_fx",
        floor(log(
          (col("c_ab").cast("double") * col("n1").cast("double") * col("n1").cast("double")) /
            (col("n2").cast("double") * col("c_a").cast("double") * col("c_b").cast("double")))
          * lit(1e6) + lit(0.5)).cast("long"))
      .orderBy(col("pmi_fx").desc, col("w1"), col("w2"))
      .limit(k)
      .select("w1", "w2", "c_ab", "c_a", "c_b", "pmi_fx")
  }

  /** The distinct-word frequency table `(__n, __sym)` — the ONLY
    * corpus-sized computation in BPE training. persistOnce keeps
    * repeat trainings on the same corpus (bench reps, a following
    * [[bpeTokenCounts]] gate, the [[bpeMergesDistributed]] oracle
    * twin) from paying the corpus pass twice — same policy as the
    * minhash-signature and IVF-SQ index caches.
    */
  private def bpeWordCounts(df: DataFrame, textCol: String): DataFrame = {
    val chars = transform(sequence(lit(1), length(col("__w"))),
      i => substring(col("__w"), i, lit(1)))
    org.apache.spark.sql.graftbridge.CacheBridge.persistOnce(
      df.select(explode(tokens(lower(col(textCol)))).as("__w"))
        .filter(length(col("__w")) > 0)
        .groupBy("__w").agg(count(lit(1)).as("__n"))
        .select(col("__n"), chars.as("__sym")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Unsigned byte-wise UTF-8 comparison — the binary collation BOTH
    * Spark and DuckDB order strings by. Java's `String.compareTo`
    * orders UTF-16 code units instead, which diverges for
    * supplementary-plane text ([U+E000,U+FFFF] sorts above surrogate
    * pairs), so driver-side tie-breaks must not use it.
    */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Greedy left-to-right merge of (l, r) over a symbol array —
    * driver-side twin of [[mergeFold]], same rule: an occurrence of
    * (l, r) merges unless its left symbol was itself just produced by
    * the previous merge (automatic, since a just-produced `l+r` never
    * equals `l`).
    */
  private def mergeFoldLocal(w: Array[String], l: String, r: String): Array[String] = {
    val acc = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var j = 0
    while (j < w.length) {
      if (acc.nonEmpty && acc(acc.length - 1) == l && w(j) == r)
        acc(acc.length - 1) = l + r
      else acc += w(j)
      j += 1
    }
    acc.toArray
  }

  /** Learned-merge memo: repeat trainings on the same corpus (bench
    * reps, the encode gate re-deriving its tokenizer) return the
    * cached table without re-collecting the vocabulary. Keyed by the
    * ANALYZED plan's semantic hash PLUS the resolved input-file
    * listing, so two lexically different reads of the same table still
    * share while an in-place fixture rewrite (fresh part-file names)
    * misses instead of serving stale merges. Bounded; cleared
    * wholesale when full (training inputs per process are few).
    */
  private val mergeMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, String, Int, Long, Int), Seq[(Long, String, String, Long)]]()

  /** BPE merge training — learn the first `nMerges` byte-pair merges
    * of the corpus, the core loop of tokenizer training (the merge
    * table IS the tokenizer).
    *
    * Scale shape: the corpus is touched EXACTLY ONCE — one
    * tokenize+explode pass builds the distinct-word frequency table
    * ([[bpeWordCounts]], persistOnce'd) — and the merge loop itself
    * runs DRIVER-SIDE over the collected vocabulary. The vocabulary is
    * bounded by language, not corpus size (~10⁶ distinct words for
    * 100 TB of text), so shipping it to the driver once and looping
    * locally costs ZERO Spark jobs per merge round; the previous
    * distributed loop (kept as [[bpeMergesDistributed]], the oracle
    * twin) scheduled one vocab shuffle + collect PER round — correct,
    * but scheduler-bound at a production tokenizer's 32–50 k merges.
    *
    * The local loop is the standard incremental trainer: pair counts
    * and a pair→word-index postings list are maintained under each
    * merge — only words actually containing the merged pair are
    * re-scanned — and the argmax comes from a lazy max-heap (stale
    * entries discarded against the live count on pop), so a round
    * costs O(words touched × their length), not O(vocab). Driver
    * memory is O(total vocabulary characters); `maxVocab` caps it by
    * pruning to the most frequent words (count desc, then symbol
    * order) — pruning trades exactness in the tail, and the default
    * (2²⁰ words) keeps every word of any natural-language corpus.
    *
    * Merging is the standard greedy left-to-right fold: scanning each
    * word's symbols, an occurrence of (left, right) merges unless its
    * left symbol was itself just produced by the previous merge — the
    * same rule every BPE implementation uses. Ties in pair frequency
    * break lexicographically on the UTF-8 BYTES of (left, right) —
    * the binary collation Spark and DuckDB sort strings by — so the
    * learned merge sequence is deterministic and oracle-exact.
    *
    * @return (rank, left, right, pair_count) — one row per learned
    *         merge, in learning order; stops early when no pair
    *         reaches `minCount`
    */
  def bpeMerges(
      df: DataFrame,
      textCol: String,
      nMerges: Int,
      minCount: Long = 2L,
      maxVocab: Int = 1 << 20,
      useMemo: Boolean = true
  ): DataFrame = {
    require(nMerges >= 1 && nMerges <= 65536, "nMerges in [1,65536]")
    require(maxVocab >= 1, "maxVocab >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // the memo key folds a DATA fingerprint (the resolved input-file
    // listing) in beside the plan hash: a fixture rewritten in place
    // under the same path gets fresh part-file names, so the memo
    // cannot serve stale merges for it (a byte-identical listing with
    // changed contents could still alias — parquet writers don't do
    // that). `useMemo = false` bypasses the lookup entirely — the
    // bench's cold-training measurement.
    val dataFp = df.inputFiles.sorted.mkString("\n").hashCode
    val memoKey = (df.queryExecution.analyzed.semanticHash(), dataFp,
      textCol, nMerges, minCount, maxVocab)
    if (useMemo) {
      val memoed = mergeMemo.get(memoKey)
      if (memoed != null) return memoed.toDF("rank", "left", "right", "pair_count")
    }

    val wc = bpeWordCounts(df, textCol)
    val total = wc.count()
    val pruned =
      if (total <= maxVocab) wc
      else wc.orderBy(col("__n").desc, col("__sym")).limit(maxVocab)
    val rows = pruned.select("__n", "__sym").collect()
    val counts = new Array[Long](rows.length)
    val words = new Array[Array[String]](rows.length)
    var i = 0
    while (i < rows.length) {
      counts(i) = rows(i).getLong(0)
      words(i) = rows(i).getSeq[String](1).toArray
      i += 1
    }

    // preferred = higher count, then byte-smaller (l, r) — so the
    // max-heap head is exactly `ORDER BY cnt DESC, l, r LIMIT 1`
    final case class Cand(cnt: Long, l: String, r: String)
    val heap = scala.collection.mutable.PriorityQueue.empty[Cand](new Ordering[Cand] {
      def compare(a: Cand, b: Cand): Int = {
        if (a.cnt != b.cnt) java.lang.Long.compare(a.cnt, b.cnt)
        else {
          val cl = utf8Compare(b.l, a.l)
          if (cl != 0) cl else utf8Compare(b.r, a.r)
        }
      }
    })
    val pairCount = scala.collection.mutable.HashMap.empty[(String, String), Long]
    // postings may hold stale/duplicate indices (entries are never
    // removed on decrement) — consumers re-verify against the word
    val pairWords = scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.ArrayBuffer[Int]]

    def addPairs(w: Array[String], n: Long, idx: Int): Unit = {
      var j = 0
      while (j + 1 < w.length) {
        val k = (w(j), w(j + 1))
        val c = pairCount.getOrElse(k, 0L) + n
        pairCount(k) = c
        pairWords.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty[Int]) += idx
        heap.enqueue(Cand(c, k._1, k._2))
        j += 1
      }
    }
    def subPairs(w: Array[String], n: Long): Unit = {
      var j = 0
      while (j + 1 < w.length) {
        val k = (w(j), w(j + 1))
        val c = pairCount.getOrElse(k, 0L) - n
        if (c <= 0L) pairCount.remove(k)
        else { pairCount(k) = c; heap.enqueue(Cand(c, k._1, k._2)) }
        j += 1
      }
    }

    i = 0
    while (i < words.length) { addPairs(words(i), counts(i), i); i += 1 }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    while (!done && merges.size < nMerges) {
      var top: Cand = null
      while (top == null && heap.nonEmpty) {
        val c = heap.dequeue()
        if (pairCount.get((c.l, c.r)).contains(c.cnt)) top = c
      }
      if (top == null || top.cnt < minCount) done = true
      else {
        val (l, r) = (top.l, top.r)
        merges += ((merges.size + 1L, l, r, top.cnt))
        val touched = pairWords.remove((l, r)).getOrElse(scala.collection.mutable.ArrayBuffer.empty[Int])
        touched.foreach { idx =>
          val w = words(idx)
          var has = false
          var j = 0
          while (!has && j + 1 < w.length) { has = w(j) == l && w(j + 1) == r; j += 1 }
          if (has) {
            subPairs(w, counts(idx))
            words(idx) = mergeFoldLocal(w, l, r)
            addPairs(words(idx), counts(idx), idx)
          }
        }
      }
    }
    if (mergeMemo.size > 64) mergeMemo.clear()
    mergeMemo.put(memoKey, merges.toSeq)
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** Fully-distributed BPE merge training — the oracle/audit twin of
    * [[bpeMerges]]: identical merge rule, identical tie-breaks,
    * identical output, but every merge round runs as a Spark job
    * (vocab-sized pair-count aggregate + single-row argmax collect +
    * narrow merge map + localCheckpoint). Kept because its per-round
    * SQL maps one-to-one onto the unrolled DuckDB CTE oracle and it
    * never ships the vocabulary to the driver — use it when driver
    * memory, not round count, is the binding constraint; use
    * [[bpeMerges]] (zero jobs per round) for production merge counts.
    */
  def bpeMergesDistributed(
      df: DataFrame,
      textCol: String,
      nMerges: Int,
      minCount: Long = 2L
  ): DataFrame = {
    require(nMerges >= 1 && nMerges <= 1000, "nMerges in [1,1000]")
    val spark = df.sparkSession
    var cur: DataFrame = bpeWordCounts(df, textCol)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    var round = 0
    while (!done && round < nMerges) {
      val top = cur
        .select(col("__n"), explode(zip_with(
          slice(col("__sym"), lit(1), greatest(size(col("__sym")) - 1, lit(0))),
          slice(col("__sym"), lit(2), greatest(size(col("__sym")) - 1, lit(0))),
          (a, b) => struct(a.as("l"), b.as("r")))).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("__n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < minCount) done = true
      else {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((merges.size + 1L, l, r, cnt))
        cur = cur.select(col("__n"), mergeFold(col("__sym"), l, r).as("__sym"))
          .localCheckpoint(true)
        round += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** Apply a learned BPE merge table ([[bpeMerges]] output, in rank
    * order) and report per-document token counts under that tokenizer
    * — the "how many tokens will this corpus cost" accounting question
    * every training-data budget starts with.
    *
    * Scale shape: the merge folds run once per DISTINCT word (the
    * vocabulary), never once per occurrence — encode is a vocab-bounded
    * compute followed by a word-keyed join back to the corpus and a
    * per-doc aggregate. The merge chain nests one `aggregate` HOF per
    * merge, so keep driver-supplied tables to O(100) merges (a full
    * 50k-merge production tokenizer would ship as a broadcast
    * dictionary instead).
    *
    * @return (idCol, n_words, n_bpe_tokens) for every document with at
    *         least one token
    */
  /** Greedy left-to-right BPE merge of (l, r) over a symbol array —
    * the ONE fold both the trainer and the encoder share: an
    * occurrence of (l, r) merges unless its left symbol was itself
    * just produced by the previous merge, the rule every BPE
    * implementation uses.
    */
  private def mergeFold(arr: Column, l: String, r: String): Column =
    aggregate(
      arr,
      array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(s))))

  /** [[bpeTokenCounts]] at PRODUCTION merge counts: the per-word
    * encode runs through the native [[graft.functions.BpeEncodeExpression]]
    * dictionary kernel — one reference-object rank map, flat in merge
    * count — instead of a fold chain nested once per merge. Same
    * vocab-bounded shape (encode per DISTINCT word, word-keyed join
    * back, per-doc aggregate), same output, no 200-merge ceiling: a
    * 50 k-merge tokenizer is one Map away. Spec-gated equal to the
    * fold composition; oracle-gated end-to-end at 64 merges.
    */
  def bpeTokenCountsDict(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]
  ): DataFrame = {
    val words = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("__w"))
      .filter(length(col("__w")) > 0)
    val vocab = words.select("__w").distinct()
      .select(col("__w"),
        size(graft.functions.BpeEncodeExpression.bpeEncode(col("__w"), merges)).as("__ntok"))
    words.join(vocab, Seq("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__ntok")).as("n_bpe_tokens"))
  }

  /** Tokenizer FERTILITY per corpus slice — BPE tokens per whitespace
    * word under a trained merge table, the metric that tells you which
    * languages/domains your tokenizer serves badly (fertility ≫ 1
    * means the vocabulary fragments that slice's words, inflating its
    * effective sequence lengths and training cost). Encoding rides the
    * native [[graft.functions.BpeEncodeExpression]] rank-map kernel
    * over the DISTINCT word vocabulary (the [[bpeTokenCountsDict]]
    * shape — the corpus stream only joins word → token count), and
    * the ratio is exact integer ppm. Output: (groupCol, n_words,
    * n_bpe_tokens, fertility_ppm).
    */
  def bpeFertilityStats(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      merges: Seq[(String, String)]
  ): DataFrame = {
    val words = df
      .select(col(groupCol), explode(tokens(lower(col(textCol)))).as("__w"))
      .filter(length(col("__w")) > 0)
    val vocab = words.select("__w").distinct()
      .select(col("__w"),
        size(graft.functions.BpeEncodeExpression.bpeEncode(col("__w"), merges)).as("__ntok"))
    words.join(vocab, Seq("__w"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__ntok")).as("n_bpe_tokens"))
      .withColumn("fertility_ppm",
        expr("n_bpe_tokens * 1000000 div n_words"))
  }

  def bpeTokenCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]
  ): DataFrame = {
    require(merges.size <= 200, "inline merge chains cap at 200; broadcast a dictionary instead")
    val words = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("__w"))
      .filter(length(col("__w")) > 0)
    val chars = transform(sequence(lit(1), length(col("__w"))),
      i => substring(col("__w"), i, lit(1)))
    val folded = merges.foldLeft(chars) { case (arr, (l, r)) =>
      mergeFold(arr, l, r)
    }
    val vocab = words.select("__w").distinct()
      .select(col("__w"), size(folded).as("__ntok"))
    words.join(vocab, Seq("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__ntok")).as("n_bpe_tokens"))
  }

  /** HTML → visible text: the first step of every web-crawl corpus
    * pipeline (WET-style extraction). Drops non-content subtrees
    * (script/style/head/comments) wholesale, turns block-level
    * boundaries into newlines so paragraph structure survives, strips
    * remaining tags, decodes the common entities, and normalizes
    * whitespace.
    *
    * Pure chained `regexp_replace` — one codegen'd projection, no UDF,
    * no per-row allocation beyond the string rewrites; linear in
    * document size and embarrassingly parallel at 100 TB. Every pattern
    * is RE2-compatible (no backreferences, inline `(?is)` flags only)
    * so the DuckDB oracle twin (`q_text_html_extract`) runs the
    * IDENTICAL chain — the gate pins Spark-vs-portable parity the same
    * way the simhash/minhash portable twins do.
    *
    * Entity decode happens after tag-strip (so `&lt;p&gt;` in content
    * survives as the literal `<p>` rather than being re-stripped) and
    * `&amp;` decodes last (so `&amp;lt;` yields the literal `&lt;`).
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noHead = regexp_replace(noStyle, "(?is)<head\\b[^>]*>.*?</head>", " ")
    val noComment = regexp_replace(noHead, "(?s)<!--.*?-->", " ")
    val blockBreaks = regexp_replace(noComment,
      "(?i)<(br|hr)\\s*/?>|</(p|div|li|tr|td|h1|h2|h3|h4|h5|h6|ul|ol|table)\\s*>",
      "\n")
    val noTags = regexp_replace(blockBreaks, "(?s)<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (ent, ch)) => regexp_replace(c, ent, ch) }
    val oneSpace = regexp_replace(decoded, "[ \\t\\r]+", " ")
    val tightLines = regexp_replace(oneSpace, " ?\\n ?", "\n")
    val oneNewline = regexp_replace(tightLines, "\\n+", "\n")
    regexp_replace(oneNewline, "^\\s+|\\s+$", "")
  }

  val EN_STOPWORDS: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "this", "that", "be",
    "from", "has", "have", "not", "but")

  /** Tiny marker-token profiles per language (top function words). */
  val LANG_PROFILES: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "con"),
    "fr" -> Seq("le", "la", "les", "est", "et", "que", "dans", "une"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "不")
  )
}
