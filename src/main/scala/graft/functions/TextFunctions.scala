package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-data-pipeline surface (north star in
  * `BASELINE.json`). All are composed from codegen'd Spark built-ins — no
  * UDFs — so they stay inside whole-stage codegen and scale linearly with
  * input at 100 TB (pure map-side work, no shuffle).
  */
object TextFunctions {

  /** Whitespace-collapsed, lowercased canonical form — the normalization step
    * shared by fingerprinting and dedup. */
  def canonicalText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Document fingerprint: md5 of the canonical form. Exact-dup key that is
    * stable across whitespace/case noise. */
  def fingerprint(text: Column): Column = md5(canonicalText(text))

  /** Unicode NFC normalization via the [[NfcNormalize]] expression. */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      NfcNormalize(org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric glyphs — a cheap proxy for subword token pressure. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Hashed-feature linear text score — the fastText-style classifier
    * shape used for model-based quality filtering (CCNet/Llama-style
    * "does this look like reference text" gates): tokens → hashing-trick
    * buckets (md5 mod `buckets`), one weight per bucket, mean weight →
    * sigmoid. The weight table here is pseudo-random but DETERMINISTIC —
    * each bucket's weight derives from the salted md5 of the bucket id —
    * standing in for a trained model's so the oracle gate can replay the
    * score bit-for-bit; swapping in real weights is a literal CASE/lookup
    * over the same plumbing.
    *
    * Scale: one projection — tokenize, transform, fold, all inside
    * whole-stage codegen on arrays (no explode, no shuffle, no UDF). A
    * 100 TB corpus scores in a single map pass; the fold order is the
    * array order, so any engine summing left-to-right reproduces the
    * exact doubles.
    */
  def hashedLinearScore(text: Column, buckets: Int = 64,
      salt: String = "graftq"): Column = {
    val toks = filter(split(lower(text), "\\s+"), t => length(t) > 0)
    val wts = transform(toks, t => {
      val b = conv(substring(md5(concat(lit(salt), t)), 1, 4), 16, 10)
        .cast("int") % buckets
      (conv(substring(md5(concat(lit(salt + "w"), b.cast("string"))), 1, 6),
        16, 10).cast("double") / 16777216.0) * 2 - 1
    })
    val n = size(toks)
    val raw = when(n > 0,
      aggregate(wts, lit(0.0), (acc, x) => acc + x) / n).otherwise(lit(0.0))
    round(lit(1.0) / (lit(1.0) + exp(raw * -4.0)), 6)
  }

  /** HTML boilerplate stripping — the first step of web-corpus curation:
    * drop script/style blocks wholesale, drop every remaining tag, decode
    * the common entities, collapse whitespace. Pure regexp chain (map-side,
    * codegen'd); patterns avoid backreferences so the SAME expressions run
    * under Java regex (Spark) and RE2 (DuckDB oracle) byte-identically.
    * Entity decode runs AFTER tag removal and decodes `&amp;` LAST — the
    * standard ordering that keeps `&amp;lt;` from turning into a tag.
    */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (ent, ch)) =>
      regexp_replace(c, ent, java.util.regex.Matcher.quoteReplacement(ch))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Gopher-style document quality counters (Rae et al. 2021, §A1.1 —
    * the published heuristics web-corpus curation standardized on). All
    * INTEGER counters, so the derived rule booleans can be evaluated in
    * pure integer arithmetic (`3·n ≤ total ≤ 10·n` instead of float mean
    * comparisons) — engine-exact with zero rounding anywhere.
    */
  def gopherCounters(text: Column): Seq[(String, Column)] = {
    val words = regexp_extract_all(text, lit("\\S+"), lit(0))
    Seq(
      "n_words" -> size(words).cast("long"),
      "n_word_chars" -> aggregate(words, lit(0L), (a, w) => a + length(w)),
      "n_alpha_words" -> size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long"),
      "n_symbols" -> (occurrences(text, "#") + occurrences(text, "...")).cast("long"))
  }

  /** The Gopher keep decision from [[gopherCounters]] values, entirely in
    * integer arithmetic: word count in [minWords, maxWords], mean word
    * length in [3, 10] (as `3·n ≤ chars ≤ 10·n`), symbol-to-word ratio
    * below 10% (`10·symbols < n`), ≥ 80% words containing a letter
    * (`5·alpha ≥ 4·n`).
    */
  def gopherKeep(nWords: Column, nWordChars: Column, nAlphaWords: Column,
      nSymbols: Column, minWords: Long = 50, maxWords: Long = 100000): Column =
    nWords >= minWords && nWords <= maxWords &&
      nWordChars >= nWords * 3 && nWordChars <= nWords * 10 &&
      nSymbols * 10 < nWords &&
      nAlphaWords * 5 >= nWords * 4

  /** C4-style line filtering (Raffel et al. 2020, §2.2): keep only lines
    * that end in terminal punctuation AND have at least `minWords` words;
    * rejoin survivors with newlines. Line-level curation as pure
    * higher-order array ops — map-side, codegen'd, no explode/re-group
    * shuffle round trip.
    */
  def c4LineFilter(text: Column, minWords: Int = 5): Column = {
    val kept = filter(split(text, "\n"), l =>
      trim(l).rlike("[.!?\"']$") &&
        size(regexp_extract_all(trim(l), lit("\\S+"), lit(0))) >= minWords)
    array_join(kept, "\n")
  }

  /** URL canonicalization — the normalization that makes URLs usable as a
    * web-corpus dedup key: drop the fragment, strip tracking parameters
    * (utm_*, fbclid, gclid), clean dangling separators, lowercase the
    * scheme+host (ONLY — paths are case-sensitive), drop a trailing slash.
    * Pure regexp/substr chain, RE2-portable (no backreferences), map-side.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val noTrack = regexp_replace(noFrag,
      "(utm_[a-z]+|fbclid|gclid)=[^&]*&?", "")
    val noDangle = regexp_replace(noTrack, "[?&]$", "")
    val head = regexp_extract(noDangle, "(?i)^[a-z][a-z0-9+.-]*://[^/?]*", 0)
    val canon = concat(lower(head),
      noDangle.substr(length(head) + 1, length(noDangle)))
    regexp_replace(canon, "/$", "")
  }

  /** Count of occurrences of `needle` (plain string) in `text`. */
  def occurrences(text: Column, needle: String): Column =
    ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(needle), "")))
      / needle.length).cast("int")

  /** Quality-scoring counters (integers — exact across engines): chars,
    * whitespace tokens, digit chars, punctuation chars, uppercase chars. */
  def qualityCounters(text: Column): Seq[(String, Column)] = Seq(
    "n_chars" -> length(text),
    "n_tokens" -> tokenCount(text),
    "n_digits" -> (length(text) - length(regexp_replace(text, "[0-9]", ""))),
    "n_punct" -> (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))),
    "n_upper" -> (length(text) - length(regexp_replace(text, "[A-Z]", ""))))

  /** Stopword-profile language ID: per-language stopword hit counts, argmax
    * with a fixed preference order (en > de > fr > es > zh) for determinism.
    * An n-gram/stopword heuristic in the fastText tradition, reduced to
    * pure SQL expressions.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " les "),
    "es" -> Seq(" el ", " y ", " los "))

  def langScore(text: Column, stopwords: Seq[String]): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    stopwords.map(w => occurrences(padded, w)).reduce(_ + _)
  }

  /** Predicted language: argmax of profile scores; `und` when all zero. */
  def langId(text: Column): Column = {
    val scores = langProfiles.map { case (l, ws) => (l, langScore(text, ws)) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // First profile in declaration order wins ties (en > de > fr > es).
    scores.reverse.foldLeft(lit("und"): Column) {
      case (els, (l, s)) => when(s === best && s > 0, lit(l)).otherwise(els)
    }
  }

  /** PII redaction: emails and IPv4 literals replaced with typed tokens.
    * Pure regexp_replace — map-side, codegen'd. The pattern set is the
    * pipeline's policy surface; extend per deployment.
    */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      Ipv4Pattern, "<IP>")

  /** Count of PII hits (before redaction) — audit metric for the scrub. */
  def piiCount(text: Column): Column =
    (size(regexp_extract_all(text, lit(EmailPattern), lit(0))) +
      size(regexp_extract_all(text, lit(Ipv4Pattern), lit(0)))).cast("long")

  /** Fixed-size overlapping word-window chunking — the training-data prep
    * step that turns long documents into model-sized pieces. `window` tokens
    * per chunk, stepping `stride` tokens (overlap = window - stride). All
    * array built-ins; one row per document until the caller explodes.
    */
  def chunkTokens(tokens: Column, window: Int, stride: Int): Column = {
    val n = size(tokens)
    val numChunks = when(n <= window, lit(1))
      .otherwise(ceil((n - window).cast("double") / stride).cast("int") + 1)
    transform(sequence(lit(0), numChunks - 1),
      i => array_join(slice(tokens, i * stride + 1, lit(window)), " "))
  }

  /** Word n-grams of a MATERIALIZED token-array column (space-joined).
    * Empty when the document has fewer than `n` tokens — guarded explicitly
    * because Spark's `sequence(1, 0)` counts DOWN ([1, 0]), it does not
    * return an empty array. Same inlining caveat as
    * [[shinglesOfCanonical]]: pass an attribute, not the
    * `regexp_extract_all` expression.
    */
  def wordNgrams(tokens: Column, n: Int): Column =
    when(size(tokens) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(tokens) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(tokens, i + lit(j))): _*)))

  /** Intra-document repetition (Gopher-style quality signal): the fraction
    * of word n-gram occurrences that are repeats of an earlier n-gram in the
    * same document. Pure map-side array work — no explode, no shuffle.
    */
  def ngramDupFraction(ngrams: Column): Column =
    when(size(ngrams) === 0, lit(0.0))
      .otherwise(round(lit(1.0) -
        size(array_distinct(ngrams)).cast("double") / size(ngrams), 6))

  /** Character k-gram shingles of an ALREADY-CANONICAL text column,
    * distinct. IMPORTANT: the column is referenced inside the `transform`
    * lambda, so any expression passed here is re-evaluated per shingle
    * position — callers must materialize `canonicalText` in a projection
    * first (see Dedup) and pass the attribute. The input to MinHash and
    * n-gram Jaccard.
    *
    * Do NOT `explode` this array directly off an un-materialized projection:
    * the optimizer collapses the canonicalization into the Generate's
    * generator and re-runs the regex per shingle position (O(len²)/doc,
    * measured 10× at sf0.1). Either explode POSITIONS and substr after the
    * Generate (see Corpus.contaminationCheck) or checkpoint the array frame
    * first (see Dedup's gram-hash front).
    */
  def shinglesOfCanonical(canonical: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(canonical) - (k - 1), lit(1))),
      i => canonical.substr(i, lit(k))))

  /** Convenience form that canonicalizes inline — fine for single-row tests;
    * on data paths use [[shinglesOfCanonical]] over a materialized column. */
  def shingles(text: Column, k: Int): Column =
    shinglesOfCanonical(canonicalText(text), k)
}
