package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-corpus pipelines (tokenize, quality,
  * language-ID, fingerprinting). All are compositions of built-in codegen'd
  * expressions or graft's own codegen'd kernels (`graft.plans`) — no UDFs,
  * no higher-order-function lambdas in the quality gate — so they stay
  * inside whole-stage codegen and their filters/projections push down to
  * the scan.
  *
  * The reference has no scalar-function catalog (every transform is host-
  * language code in a conduit — SURVEY §2.7); these are the Spark-native
  * equivalents of the transforms its examples perform (`B.words`
  * tokenization, examples/WordCount.hs:24; MD5 hashing,
  * Controller.hs:518-522) plus the text-pipeline set a 100 TB training-data
  * corpus needs.
  */
object Text {

  /** Canonical text normalization — the standard pre-dedup stage:
    * Unicode NFC (graft's codegen'd `nfc_normalize` expression —
    * composed and decomposed accents must hash identically before ANY
    * fingerprint/shingle/minhash runs), simple lowercase, whitespace
    * runs collapsed to one space, ends trimmed.
    *
    * The whitespace class is the EXPLICIT `[ \t\n\r]` — not regex
    * `\s`, whose membership differs by engine (Java includes \x0B and
    * \f; RE2's differs again), and cross-engine byte-identity is this
    * function's contract. Null propagates.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      lower(call_function("nfc_normalize", c)), "[ \t\n\r]+", " "))

  /** Whitespace tokenization — `B.words` analog: split on runs of
    * whitespace, drop empty tokens (leading/trailing whitespace artifacts).
    */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= "")

  /** `size(tokens(c))` as one pass over the text (`token_count`, a
    * `graft.plans.TextKernels` kernel); null propagates.
    */
  def tokenCount(c: Column): Column = call_function("token_count", c)

  /** BPE-ish subword split: letters runs, digit runs, single punctuation —
    * a deterministic regex proxy for tokenizer-sized units.
    */
  def subwordTokens(c: Column): Column =
    filter(split(c, "(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])"), t => t.rlike("\\S"))

  /** Subword-unit COUNT — `size(subwordTokens(c))` re-expressed without
    * the lookaround split so it replays in RE2 engines (lookarounds are
    * Java-regex-only): a unit is a maximal alphanumeric run or a single
    * non-alphanumeric non-whitespace char, counted via
    * `regexp_extract_all`. Equal to `size(subwordTokens(c))` whenever
    * the text's whitespace is the explicit [ \t\n\r] set (spec-pinned);
    * the tokenizer-fertility metric needs only the count, and this form
    * is the cross-engine-verifiable one.
    */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(c,
      lit("[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\r]"), lit(0)))

  /** Character k-shingles. Guarded so short strings yield an empty array
    * (Spark's `sequence(1, 0)` would count DOWN, not produce empty).
    */
  def charShingles(c: Column, k: Int): Column =
    when(length(c) >= k,
      transform(sequence(lit(1), length(c) - (k - 1)),
        i => c.substr(i, lit(k))))
      .otherwise(array().cast("array<string>"))

  /** Word n-grams over a token array. */
  def wordShingles(toks: Column, n: Int): Column = {
    // chained zip_with, NOT transform+slice: zip_with's array arguments
    // evaluate once per ROW, while a transform lambda re-evaluates the
    // token array per ELEMENT under interpreted HOF evaluation — the
    // measured q79 blowup (7.3 s -> sub-second at sf0.1; the r16ops
    // ladder re-measured the same cliff on vocabGrowth/drift). Output
    // strings are bit-identical to the old formulation (spec-pinned).
    // Each slice has exactly `len` elements when len > 0 (remaining =
    // size - i + 1 >= len for i <= n), so no null padding ever reaches
    // the concat; size < n gives len 0 and an empty result like before.
    val len = greatest(size(toks) - (n - 1), lit(0))
    var acc = slice(toks, lit(1), len)
    for (i <- 2 to n)
      acc = zip_with(acc, slice(toks, lit(i), len),
        (a, b) => concat(a, lit(" "), b))
    acc
  }

  /** Ratio of punctuation characters to total characters. ASCII punct
    * class spelled as explicit ranges (not \p{Punct}) so the regex means
    * the same thing in Java regex and RE2-based engines.
    */
  def punctRatio(c: Column): Column = {
    val stripped = regexp_replace(c, "[!-/:-@\\[-`{-~]", "")
    when(length(c) > 0,
      (length(c) - length(stripped)).cast("double") / length(c).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Ratio of alphabetic characters. */
  def alphaRatio(c: Column): Column =
    when(length(c) > 0,
      length(regexp_replace(c, "[^A-Za-z]", "")).cast("double") /
        length(c).cast("double"))
      .otherwise(lit(0.0))

  /** Fraction of [[tokens]] that are (English) stopwords, matched after
    * `lower` — a standard quality signal for web-scraped corpora. 0.0 for
    * a document without tokens, and for null. One pass over the text
    * (`stopword_ratio`, a `graft.plans.TextKernels` kernel).
    */
  def stopwordRatio(c: Column): Column = call_function("stopword_ratio", c)

  /** N-gram-heuristic language ID over {en, de, fr}: highest stopword-hit
    * count over [[tokens]] (matched after `lower`) wins, ties broken by
    * that fixed order, no hits ⇒ "und" (undetermined). Deterministic and
    * oracle-expressible. A null document reads "fr", the value the
    * former composition's fall-through branch gave. One pass over the
    * text (`lang_id`, a `graft.plans.TextKernels` kernel).
    */
  def langId(c: Column): Column = call_function("lang_id", c)

  /** Composite quality score in [0,1]: penalize very short docs, high
    * punctuation density, low stopword mass. Weights are arbitrary but
    * fixed; the value is a deterministic pure-arithmetic column.
    */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / lit(500.0), lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(c) * 4, lit(0.0))
    val stopScore = least(stopwordRatio(c) * 5, lit(1.0))
    lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3
  }

  /** The Gopher quality rule set (Rae et al. 2021, Table A1) as one
    * map-only struct column — the standard named pre-filter every
    * web-corpus pipeline (Gopher, RefinedWeb, Dolma, FineWeb) applies
    * before any dedup pass. Each rule is its own boolean field so a
    * pipeline can report per-rule rejection counts (the way the papers
    * tune them), plus the conjunction as `pass`:
    *
    *  - `ok_words`: word count in [minWords, maxWords]
    *  - `ok_mean_word_len`: mean word length in [minMeanWordLen,
    *    maxMeanWordLen]
    *  - `ok_symbol_ratio`: (# of `#` chars + # of `...` runs) / words
    *    ≤ maxSymbolRatio — the "hash/ellipsis spam" rule
    *  - `ok_bullet_lines`: fraction of lines starting with `-`/`*`
    *    ≤ maxBulletRatio
    *  - `ok_ellipsis_lines`: fraction of lines ending with `...`
    *    ≤ maxEllipsisRatio
    *  - `ok_alpha_words`: fraction of words containing ≥1 [A-Za-z]
    *    ≥ minAlphaRatio
    *  - `ok_stopwords`: ≥ minStopwordHits distinct Gopher stopwords
    *    (Rae et al. 2021, §A1.1: the, be, to, of, and, that, have, with —
    *    the "is this prose at all" check), matched after `lower`
    *
    * Exactness contract: every ratio threshold is an exact rational
    * `(num, den)` compared by integer cross-multiplication — no float
    * division anywhere, so the booleans are bit-identical in any
    * engine. `...` runs are counted via plain (non-regex) replace —
    * leftmost non-overlapping in every engine; lines split on the
    * literal newline character, never regex `\s`. A doc with zero
    * words fails `ok_words` (and therefore `pass`); the ratio rules
    * then compare 0 ≤/≥ 0 and are not meaningful on their own.
    *
    * Kernel contract: one `gopher_rules` call (a
    * `graft.plans.TextKernels` kernel, thresholds passed as int
    * literals) reads the text once and yields the whole struct; words
    * are [[tokens]] (Java `\s` runs), word lengths count code points,
    * bullets and ellipses see lines trimmed of U+0020 only. The kernel
    * is codegen'd, so a filter on `pass` stays in the scan's
    * whole-stage-codegen stage. A null text yields a struct of nulls.
    * The reference has no quality filtering at all (SURVEY §2.7); this
    * is the LLM-pipeline extension set's named counterpart of
    * [[qualityScore]]'s continuous signal.
    */
  def gopherRules(
      c: Column,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Int = 3,
      maxMeanWordLen: Int = 10,
      maxSymbolRatio: (Int, Int) = (1, 10),
      maxBulletRatio: (Int, Int) = (9, 10),
      maxEllipsisRatio: (Int, Int) = (3, 10),
      minAlphaRatio: (Int, Int) = (4, 5),
      minStopwordHits: Int = 2): Column =
    call_function("gopher_rules", (c +: Seq(minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, maxSymbolRatio._1, maxSymbolRatio._2,
      maxBulletRatio._1, maxBulletRatio._2, maxEllipsisRatio._1,
      maxEllipsisRatio._2, minAlphaRatio._1, minAlphaRatio._2,
      minStopwordHits).map(lit)): _*)

  /** The C4 cleaning rule set (Raffel et al. 2020, §2.2) as one
    * map-only struct column — the line-level counterpart of
    * [[gopherRules]]' document-level ratios, and the other canonical
    * named web-corpus filter (C4 cleans LINES then rejects pages; Gopher
    * scores pages whole). Returned fields:
    *
    *  - `n_lines` / `n_lines_kept`: line totals before/after the line
    *    pass. A line is KEPT iff it has ≥ `minLineWords` whitespace
    *    words, ends (after right-trim) in a terminal punctuation mark
    *    (`.` `!` `?` `"`), and does not contain the word "javascript"
    *    (case-insensitive) — C4's three line rules.
    *  - `clean_text`: the kept lines re-joined with `\n` — what the
    *    next pipeline stage (dedup, LM scoring) should consume.
    *  - `n_sentences`: terminal-punctuation count (`.` `!` `?`) in the
    *    CLEANED text — C4's sentence-count proxy.
    *  - `ok_sentences`: `n_sentences ≥ minSentences` (C4 drops pages
    *    with fewer than 3 sentences).
    *  - `ok_lorem`: page does not contain "lorem ipsum" (placeholder
    *    text ⇒ scraped template).
    *  - `ok_brace`: page does not contain `{` (code, not prose).
    *  - `pass`: the page-rule conjunction AND ≥1 kept line.
    *
    * Exactness contract: lines split on the literal newline (never
    * regex `\s`), whitespace words via [[tokens]], right trim of U+0020
    * only, plain `contains` after `lower`, sentence count as `.!?` bytes
    * of the cleaned text — every field bit-identical in any engine.
    *
    * Kernel contract: one `c4_rules` call (a `graft.plans.TextKernels`
    * kernel, thresholds passed as int literals) reads the text once and
    * yields the whole struct, `clean_text` included; it is codegen'd, so
    * a filter on `pass` stays in the scan's whole-stage-codegen stage. A
    * null text yields a struct of nulls. The reference has no quality
    * filtering at all (SURVEY §2.7).
    */
  def c4Rules(
      c: Column,
      minLineWords: Int = 5,
      minSentences: Int = 3): Column =
    call_function("c4_rules", c, lit(minLineWords), lit(minSentences))

  /** Strip HTML down to visible text — the extraction stage between a
    * raw crawl and every filter above (quality/langid scores on markup
    * measure the markup, not the prose). Deliberately a tag/entity
    * pass, not a DOM parser: `<script>`/`<style>` blocks removed
    * whole (their text content is code, not prose), then all tags
    * replaced by a space (so `a</p><p>b` keeps its word boundary),
    * then the predefined XML entities + the two ubiquitous web ones
    * (`&nbsp;`, `&#39;`) decoded — `&amp;` strictly LAST, so
    * `&amp;lt;` correctly yields the literal text `&lt;` — and
    * whitespace collapsed with the explicit `[ \t\n\r]` class (the
    * [[normalizeText]] cross-engine rule).
    *
    * Patterns stay in the shared Java-regex/RE2 subset: `(?is)` flags
    * and lazy `.*?` are common to both; entity decoding is plain
    * non-regex replace. Map-only, no UDF.
    */
  def stripHtml(c: Column): Column = {
    val noScript =
      regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&apos;" -> "'",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (e, r)) =>
        replace(acc, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "[ \t\n\r]+", " "))
  }

  /** Document fingerprint: md5 of case-folded, whitespace/punct-normalized
    * text — the standard exact-near-exact dedup key (casing/spacing
    * variants collapse). md5 rather than a bespoke rolling hash: identical
    * in every engine, so results are verifiable cross-engine.
    */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(c), "[^a-z0-9]+", " ").cast("binary"))

  /** URL canonicalization — the key for URL-level dedup, the FIRST
    * dedup stage of every web-corpus pipeline (C4, CCNet, RefinedWeb
    * all dedup by normalized URL before any content pass): the same
    * page arrives under scheme/host case variants, with or without
    * `www.`, default ports, trailing slashes, tracking parameters, and
    * fragments, and each variant would survive exact content dedup
    * whenever the crawl captured different page chrome.
    *
    * Rules (each deliberately cheap and engine-reproducible):
    * scheme and host lowercase; leading `www.` dropped; default port
    * dropped (`:80` for http, `:443` for https — a NON-default port is
    * meaningful and kept); trailing slash runs stripped from the path
    * (so `/docs/` = `/docs`, and a bare root becomes the empty path);
    * the fragment dropped; query parameters split on `&`, tracking
    * params dropped (`utm_*`, `fbclid`, `gclid`, `msclkid`, `ref`),
    * the rest SORTED bytewise and rejoined (param order is transport
    * noise). Path case is preserved — paths are case-sensitive by
    * spec. Input without a `scheme://` is returned trimmed, unparsed
    * (this canonicalizes crawl URLs, it does not repair them).
    *
    * Pure composition of codegen'd built-ins + two higher-order array
    * ops — map-only, no UDF, patterns in the shared Java-regex/RE2
    * subset and every one anchored (single-match, so Spark's
    * replace-all and DuckDB's replace-first agree).
    */
  def canonicalizeUrl(u: Column): Column = {
    val t0 = trim(u)
    val scheme = lower(regexp_extract(t0, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(t0, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hp = regexp_replace(
      lower(regexp_extract(rest, "^([^/?#]*)", 1)), "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(hp, ":80$", ""))
      .when(scheme === "https", regexp_replace(hp, ":443$", ""))
      .otherwise(hp)
    // path + query, fragment dropped (anchored from the first '#')
    val pq = regexp_replace(regexp_replace(rest, "^[^/?#]*", ""), "#.*$", "")
    val path = regexp_replace(regexp_extract(pq, "^([^?]*)", 1), "/+$", "")
    val params = filter(
      split(regexp_extract(pq, "\\?(.*)$", 1), "&"),
      p => p =!= "" &&
        !p.rlike("^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)"))
    val qs = array_join(array_sort(params), "&")
    when(scheme === "", t0).otherwise(concat(
      scheme, lit("://"), host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs))))
  }

  // ----------------------------------------------------------------
  // PII detection / redaction. Patterns deliberately stay in the
  // common subset of Java regex and RE2 (no lookaround, no backrefs,
  // ASCII \b) so counts and replacements are engine-identical — the
  // same portability rule as punctRatio's explicit ranges. These are
  // the coarse web-corpus scrubbers (C4/RefinedWeb-style), not a
  // compliance-grade NER pass.

  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val PhoneRe = "(\\+\\d{1,3}[- ])?\\d{3}-\\d{3,4}-\\d{4}\\b"

  def emailCount(c: Column): Column = regexp_count(c, lit(EmailRe))
  def ipv4Count(c: Column): Column = regexp_count(c, lit(Ipv4Re))
  def phoneCount(c: Column): Column = regexp_count(c, lit(PhoneRe))

  /** Replace emails, IPv4 addresses and phone numbers with typed
    * placeholder tokens, in that fixed order (email first: an address
    * can embed digit runs the later patterns would half-eat). Pure
    * codegen'd Column — the redaction fuses into the scan like every
    * other map-only stage here.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")

  /** EXACT Flesch reading ease in milli-points — the readability
    * score every quality pipeline wants and most implement with
    * float syllable heuristics that never replay. Integer
    * formulation (206.835 − 1.015·W/S − 84.6·Y/W, scaled ×1000):
    *
    *   flesch_mil = 206835 − (1015·W) div S − (84600·Y) div W
    *
    * with W = whitespace tokens, S = sentence-boundary runs
    * ([.!?]+, floored at 1 — a fragment is one sentence), and Y =
    * vowel-group count ([aeiouy]+ over the lowercased text — the
    * classic syllable proxy; vowel groups never span whitespace, so
    * the whole-text count equals the per-word sum). Both divisions
    * truncate on non-negative operands — every engine agrees.
    * Clamped nowhere: genuinely unreadable text goes negative, and
    * that is signal, not error. Returns NULL when W = 0 (readability
    * of nothing is undefined) — callers filter or coalesce.
    *
    * Map-only column expression: fuses into the scan, no shuffle.
    */
  def fleschMil(c: Column): Column = {
    // exact truncating division on non-negative longs: (a − a mod b)
    // is a multiple of b, and multiple/b is exact in double for the
    // word/syllable magnitudes here (< 2^40 product)
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val w = tokenCount(c).cast("long")
    val s = greatest(lit(1L), regexp_count(c, lit("[.!?]+")).cast("long"))
    val y = regexp_count(lower(c), lit("[aeiouy]+")).cast("long")
    when(w > 0L,
      lit(206835L) - idiv(lit(1015L) * w, s) - idiv(lit(84600L) * y, w))
  }
}
