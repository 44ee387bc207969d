package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis primitives for LLM-data pipelines, all pure `Column`
  * expressions (no UDFs) so they stay inside Catalyst/codegen and
  * vectorize per partition — every one is narrow (no shuffle), which
  * is what makes a 100 TB corpus pass affordable: one scan, all
  * metrics in a single projection.
  *
  * The reference repo has no text layer (SURVEY.md §2 marks the whole
  * category engine-side); these implement the north-star operators:
  * tokenization, token counting, quality scoring, language ID,
  * shingling, and document fingerprinting.
  */
object TextFunctions {

  /** Unicode normalization for corpus text — the
    * [[graft.expressions.NfcClean]] native expression (NFC composition
    * + C0/C1 control strip, tab/newline/CR kept). Requires
    * GraftExtensions on the session, like [[VectorFunctions.cosineFast]]. */
  def nfcClean(text: Column): Column =
    call_function("nfc_clean", text)

  /** Whitespace tokenization (lowercased). */
  def whitespaceTokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** BPE-ish tokenization: runs of alphanumerics, or single
    * non-space symbols — the classic pre-tokenizer regex shape. */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  def tokenCount(text: Column): Column = size(whitespaceTokens(text))
  def bpeishTokenCount(text: Column): Column = size(bpeishTokens(text))

  /** Word k-shingles: join of each k-token sliding window. Empty
    * array when the doc has fewer than k tokens. */
  def wordShingles(tokens: Column, k: Int): Column =
    when(size(tokens) >= k,
      transform(sequence(lit(1), size(tokens) - (k - 1)),
        i => array_join(slice(tokens, i, lit(k)), " ")))
      .otherwise(array().cast(ArrayType(StringType)))

  /** Overlapping token chunks: windows of `window` tokens starting
    * every `stride` tokens, space-joined; one chunk when the doc fits
    * in a window, else `ceil((n - window) / stride) + 1` so the last
    * chunk always reaches the doc end (it may be short). The shared
    * chunk builder of line-decomposition (stride == window) and
    * sliding-window chunking (stride < window). `tokens` MUST be a
    * projected attribute — Catalyst does not CSE inside lambdas, so
    * an inlined tokenizer would re-split the text once per chunk. */
  def tokenChunks(tokens: Column, window: Int, stride: Int): Column = {
    require(window > 0, s"window must be positive, got $window")
    require(stride > 0 && stride <= window,
      s"stride must be in [1, window], got $stride")
    val n = size(tokens)
    val nChunks = when(n <= window, lit(1))
      .otherwise(floor((n - window + stride - 1).cast(DoubleType) / stride)
        .cast(IntegerType) + 1)
    when(n > 0,
      transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(tokens, i * stride + 1, lit(window)), " ")))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Character k-shingles over the raw text (distinct set). */
  def charShingles(text: Column, k: Int): Column =
    when(length(text) >= k,
      array_distinct(transform(sequence(lit(1), length(text) - (k - 1)),
        i => text.substr(i, lit(k)))))
      .otherwise(array().cast(ArrayType(StringType)))

  // ---- quality scoring ------------------------------------------------

  private val punctClass = "[.,;:!?'\"()\\-]"

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, punctClass, ""))

  def upperCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[A-Z]", ""))

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "in",
    "to", "is", "it", "that", "for", "on", "with", "as")

  def stopwordCount(tokens: Column): Column =
    size(filter(tokens, t => array_contains(typedLit(stopwords), t)))

  /** Per-doc quality metrics. Ratios are rounded to 6dp at the row
    * level so downstream exact-decimal aggregation is reproducible
    * across engines and partitionings. */
  def qualityMetrics(text: Column): Column = {
    val toks = whitespaceTokens(text)
    struct(
      length(text).as("n_chars"),
      size(toks).as("n_words"),
      round(punctCount(text).cast(DoubleType) / greatest(length(text), lit(1)), 6)
        .as("punct_ratio"),
      round(upperCount(text).cast(DoubleType) / greatest(length(text), lit(1)), 6)
        .as("upper_ratio"),
      round(stopwordCount(toks).cast(DoubleType) / greatest(size(toks), lit(1)), 6)
        .as("stopword_ratio"))
  }

  /** The script classes [[scriptCounts]] censuses: fixed Unicode BMP
    * ranges in `\x{...}` syntax (the subset Java regex and RE2 share,
    * so the DuckDB oracle runs the IDENTICAL patterns), plus U+FFFD —
    * the replacement character every broken transcode leaves behind,
    * the cheapest mojibake witness a corpus scan can count. */
  val scriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]",
    "devanagari" -> "[\\x{0900}-\\x{097F}]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}]",
    "replacement" -> "\\x{FFFD}")

  /** Per-script code-point counts as a struct column — the
    * script-census primitive beside [[langid]] (which guesses ONE
    * language; this measures what alphabets the bytes actually carry,
    * the standard multilingual-curation signal for catching mis-tagged
    * languages, transliterated spam and encoding damage). One
    * codegen'd `regexp_count` per class over the raw text — a narrow
    * projection, no tokenization, no shuffle: at 100 TB the census is
    * one corpus scan feeding a lang-sized aggregate. */
  def scriptCounts(text: Column): Column =
    struct(scriptClasses.map { case (name, pat) =>
      regexp_count(text, lit(pat)).as(name)
    }: _*)

  // ---- mojibake repair ------------------------------------------------

  /** (mojibake, fixed) pairs for the classic transcoding accident —
    * UTF-8 bytes decoded as Windows-1252 ("Ã©" for "é", "â€™" for
    * "’") — GENERATED from the JDK's own charset tables rather than
    * hand-listed: for each target char, its mojibake spelling is
    * `new String(utf8Bytes, "windows-1252")`. Targets are the
    * printable Latin-1 supplement plus the common General-Punctuation
    * set; pairs whose mojibake contains an unprintable char are
    * dropped — the five undefined CP1252 bytes decode to U+FFFD
    * under the JDK's REPLACE action, which would make five distinct
    * targets share one mojibake spelling (a non-injective chain that
    * repairs Í to Á). The surviving map is asserted injective both
    * ways. Ordered
    * longest-mojibake-first (3-byte UTF-8 sequences like "â€™" before
    * 2-byte like "Ã©"): lead bytes differ per length class, so the
    * sequential replace chain in [[fixMojibake]] — and the IDENTICAL
    * chain the DuckDB oracle runs — never half-consumes a longer
    * sequence. */
  val mojibakePairs: Seq[(String, String)] = {
    val targets = ((0xA1 to 0xFF).map(_.toChar) ++
      Seq('–', '—', '‘', '’', '‚', '“',
        '”', '„', '†', '‡', '•', '…',
        '‰', '‹', '›', '€', '™')).map(_.toString)
    val pairs = targets.flatMap { t =>
      val moji = new String(t.getBytes("UTF-8"), "windows-1252")
      if (moji.length >= 2 && moji != t &&
        moji.forall(c => !Character.isISOControl(c) && c != '�'))
        Some(moji -> t)
      else None
    }.sortBy { case (m, _) => (-m.length, m) }
    require(pairs.map(_._1).distinct.size == pairs.size &&
      pairs.map(_._2).distinct.size == pairs.size,
      "mojibake map must be injective both ways")
    pairs
  }

  /** Repair CP1252-mojibake in place: one sequential `replace` chain
    * over [[mojibakePairs]] — pure codegen'd string work, no regex
    * backtracking, no UDF; a narrow per-row map at any scale. Repairs
    * ONE round of mis-decoding (the overwhelmingly common case);
    * doubly-encoded text needs two applications. Text with no
    * mojibake passes through byte-identical, so the repair is safe to
    * run unconditionally in a cleaning recipe — gate on
    * [[scriptCounts]]' replacement/CJK census only to SKIP the scan
    * cost, never for correctness. */
  def fixMojibake(text: Column): Column =
    mojibakePairs.foldLeft(text) { case (c, (m, t)) =>
      replace(c, lit(m), lit(t))
    }

  // ---- PII detection and redaction ------------------------------------

  /** (name, pattern, replacement) triples for the free-text PII scrub
    * (C4/RefinedWeb-style pre-training hygiene). Patterns are the
    * RE2-safe subset shared VERBATIM with the DuckDB oracle — no
    * backreferences, no lookaround — so detection counts replay
    * exactly. Order matters and is part of the contract: the
    * redaction chain in [[redactPii]] applies them in THIS order
    * (email before phone before card before IP, so a number embedded
    * in an email local part is consumed by the email rule first). */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("card", "\\b[0-9]{16}\\b", "<CARD>"),
    ("ipv4", "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"))

  /** Luhn checksum over a 16-digit string: double every second digit
    * from the right (left positions 1,3,…,15 for length 16), subtract
    * 9 when the double exceeds 9, valid iff the sum is ≡ 0 (mod 10).
    * Pure codegen'd integer arithmetic (an intra-row fold — no UDF),
    * replayable bit-for-bit by any engine; the classifier that
    * separates card-SHAPED digit runs from actual card numbers, so a
    * redaction census can report both. Callers pass a 16-char digit
    * string (the `card` pattern's match). */
  def luhnValid16(card: Column): Column = {
    val total = aggregate(
      transform(sequence(lit(1), lit(16)), i => {
        val d = card.substr(i, lit(1)).cast(IntegerType)
        val doubled = d * 2
        when(i % 2 === 1,
          when(doubled > 9, doubled - 9).otherwise(doubled)).otherwise(d)
      }),
      lit(0), (acc, x) => acc + x)
    total % 10 === 0
  }

  /** Count of `pattern` matches in `text` — one codegen'd
    * `regexp_extract_all` per pattern, no shuffle. */
  def piiMatches(text: Column, pattern: String): Column =
    regexp_extract_all(text, lit(pattern), lit(0))

  /** Redact all [[piiPatterns]] in order: a sequential
    * `regexp_replace` chain (email → phone → card → IP), each match
    * replaced by its typed placeholder. Narrow per-row map at any
    * scale; run AFTER detection censuses, which want the raw text. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, lit(pat), lit(repl))
    }

  // ---- language identification ---------------------------------------

  /** Lowercased letter-run tokens — the single regex pass shared by
    * all marker counters (codegen subexpression elimination reuses
    * one extraction across the four languages). */
  def letterTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** Marker-word hit count for one language: membership filter over
    * the shared token array — no per-language regex pass. */
  def langHits(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => array_contains(typedLit(markers), t)))

  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  /** Heuristic language ID: CJK presence wins outright (a find-first
    * `rlike`, not a whole-string rewrite), otherwise the language with
    * the most marker hits among the shared letter-run tokens (priority
    * order en, fr, de, es on ties; 'und' when nothing matches). */
  def langid(text: Column): Column =
    langidFromTokens(letterTokens(text), text)

  /** [[langid]] with the token array supplied by the caller — the
    * form to use when the consumer can project (and FENCE, see
    * `no_inline`) the tokens first: the decision ladder's branch
    * conditions are CaseWhen branches, which whole-stage codegen
    * EXEMPTS from common-subexpression elimination, so an inlined
    * `letterTokens` regex re-runs once per branch reached (up to 4×
    * per row — q47 measured 0.9 s → 0.35 s at sf0.1 when its query
    * switched to a fenced token projection). The marker-hit array
    * scans per branch are cheap; the regex is not. */
  def langidFromTokens(toks: Column, text: Column): Column = {
    val cjk = text.rlike("[\\u4e00-\\u9fff]")
    val en = langHits(toks, langMarkers("en"))
    val fr = langHits(toks, langMarkers("fr"))
    val de = langHits(toks, langMarkers("de"))
    val es = langHits(toks, langMarkers("es"))
    when(cjk, "zh")
      .when(en === 0 && fr === 0 && de === 0 && es === 0, "und")
      .when(en >= fr && en >= de && en >= es, "en")
      .when(fr >= de && fr >= es, "fr")
      .when(de >= es, "de")
      .otherwise("es")
  }

  // ---- document fingerprinting ----------------------------------------

  private val FpMod = 1000000007L
  private val FpMul = 1000003L

  /** Portable 32-bit token hash: first 8 hex chars of md5, parsed as
    * an unsigned int — chosen because every engine (and the DuckDB
    * oracle) computes the same md5 bytes, unlike engine-native hash
    * functions. */
  def tokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast(LongType) % FpMod

  /** Order-sensitive rolling-hash fingerprint over the token stream:
    * h = (h * 1000003 + hash(tok)) mod 1e9+7. All intermediate values
    * stay < 2^60, so it's exact in 64-bit arithmetic everywhere. */
  def fingerprint(tokens: Column): Column =
    aggregate(tokens, lit(0L),
      (acc, t) => (acc * FpMul + tokenHash(t)) % FpMod)

  /** HTML/markup stripping — the first transform every web-crawl
    * pipeline applies before any text analysis: drops `<script>` and
    * `<style>` blocks wholesale (their CONTENT is code, not prose),
    * removes every remaining tag, unescapes the six entities that
    * dominate crawl text, and collapses whitespace runs. A chain of
    * `regexp_replace` calls — narrow, codegen'd, zero-shuffle, and
    * deliberately RE2-compatible (no backreferences, inline `(?is)`
    * flags only) so an external engine can replay it exactly.
    *
    * `&amp;` is unescaped LAST — the standard ordering, so
    * `&amp;lt;` yields the literal text `&lt;`, not `<` (double-
    * unescaping is the classic stripper bug). Not a sanitizer:
    * malformed markup (an unclosed `<` ) degrades to dropping the
    * run to the next `>`, which is the usual crawl-pipeline choice —
    * lost prose beats leaked tags. */
  def stripMarkup(text: Column): Column = {
    val noScript = regexp_replace(text,
      "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]*>", " ")
    val ent = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        // entity names are regex-metachar-free — kept literal (no
        // \Q…\E quoting, which RE2 replayers don't support)
        regexp_replace(c, from, to) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** URL canonicalization — the crawl-frontier dedup key: the same
    * page arrives spelled a dozen ways (`HTTP://WWW.Host:80/p/`,
    * `http://host/p#frag`, …) and a frontier keyed on raw strings
    * re-fetches every spelling. Normalizes, in order: fragment
    * stripped, scheme+authority lowercased (the case-insensitive
    * parts per RFC 3986 — the PATH keeps its case, it is
    * case-sensitive), default ports dropped (`:80` for http, `:443`
    * for https), a leading `www.` dropped, trailing path slashes
    * trimmed. A chain of codegen'd regexp ops, zero-shuffle,
    * RE2-compatible (the lowercase leg splits authority from path
    * relationally — no \L case-fold escapes, which RE2 replayers
    * lack). Contract: absolute http(s) URLs; query strings pass
    * through verbatim (param reordering is site-semantic, not
    * syntax — deliberately NOT normalized), and the trailing-slash
    * trim applies only when NO query string is present (the `[^?]`
    * guard) — `?next=/` is query DATA, not a path slash; collapsing
    * it would merge genuinely distinct frontier keys. */
  /** Sitemap URL discovery — the crawl-frontier's feed: every `<loc>`
    * entry of a sitemap XML body, whitespace-trimmed, document order
    * preserved. Non-greedy RE2-compatible extraction (sitemaps are
    * flat by spec — `<loc>` never nests), one narrow codegen'd
    * projection; pair with [[urlNormalize]] before the frontier
    * dedup. */
  def sitemapLocs(xml: Column): Column =
    regexp_extract_all(xml, lit("(?s)<loc>\\s*(.*?)\\s*</loc>"), lit(1))

  /** The sitemaps protocol's OTHER record type: big sites ship a
    * sitemap INDEX whose `<sitemap><loc>…</loc></sitemap>` entries
    * point at more sitemaps, not at pages — and [[sitemapLocs]] over
    * an index would hand child-SITEMAP URLs to the frontier as if
    * they were pages (fetched once, scored as documents, never
    * expanded). These two functions split the record types: the
    * document is cut at the closing entry tag (RE2-safe — the
    * `(?!…)` lookahead that could scope a single pattern per entry
    * does not exist in RE2, and the oracle must replay this) and each
    * fragment yields its one `<loc>` (entries hold exactly one by
    * spec; `<lastmod>`/`<changefreq>` noise rides along either side).
    * Index entries feed the FETCH queue for another sitemap pass;
    * url entries feed [[urlNormalize]] and the frontier. */
  def sitemapIndexLocs(xml: Column): Column =
    filter(transform(split(xml, "</sitemap>"),
      s => regexp_extract(s, "(?s)<sitemap>.*<loc>\\s*(.*?)\\s*</loc>", 1)),
      x => length(x) > 0)

  /** Page (`<url>`) entries only — [[sitemapIndexLocs]]' complement;
    * see its scaladoc for the record-type contract. */
  def sitemapUrlLocs(xml: Column): Column =
    filter(transform(split(xml, "</url>"),
      s => regexp_extract(s, "(?s)<url>.*<loc>\\s*(.*?)\\s*</loc>", 1)),
      x => length(x) > 0)

  /** The block-boundary tags [[htmlBlocks]] segments on — the
    * block-LEVEL HTML elements (paragraphs, headings, list items,
    * table cells, sectioning and landmark tags, breaks): text on
    * opposite sides of any of these renders as separate visual blocks,
    * which is the granularity boilerplate classification works at
    * (jusText/trafilatura's unit). Inline tags (`<a>`, `<b>`, `<span>`)
    * deliberately do NOT split — an anchor inside a paragraph is the
    * paragraph's link DENSITY, not its own block. */
  val blockBoundaryRe: String =
    "(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td" +
      "|th|section|article|aside|header|footer|nav|main|figure" +
      "|figcaption|blockquote|pre|form|fieldset|hr|br)(?:\\s[^>]*)?/?>"

  /** The function words the block verdict's stopword density counts —
    * deliberately a SMALL heuristic list, not a language-complete one
    * (the [[twoPartSuffixes]] convention: the operator is the
    * machinery; a deployment swaps in a full per-language stopword
    * table and raises [[htmlBlocks]]' density cutoff to jusText's
    * ~30%). */
  val contentStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for",
    "with", "is", "are", "was", "were", "be", "as", "at", "by", "it",
    "that", "this", "these", "those", "from", "but", "not", "we",
    "you", "they")

  /** Main-content extraction — the boilerplate-removal tier between
    * [[markup-strip]]-everything and duplicate-span excision (VERDICT
    * r11 Missing #1): a real CC-scale cleaner extracts the ARTICLE
    * before quality scoring, else nav/footer text pollutes the LM
    * terciles and the span exciser only catches boilerplate that is
    * corpus-duplicated. jusText-shaped, made relational:
    *
    *  1. `<script>`/`<style>` element CONTENT and comments are
    *     removed first (they render nothing; their text would poison
    *     every density below);
    *  2. the document splits into blocks on [[blockBoundaryRe]]
    *     (block-level tag boundaries — the visual-block granularity);
    *  3. per block, three densities decide the verdict:
    *     word count (< 5 words never carries main content — headings
    *     and button labels), LINK density (chars of `<a>` anchor text
    *     over all chars — nav/promo blocks are mostly link text;
    *     cutoff 1/3), and STOPWORD density (function words over
    *     words — real prose uses them, keyword lists and copyright
    *     lines do not; cutoff 3%, calibrated for
    *     [[contentStopwords]]' deliberately small list);
    *  4. `good = words ≥ 5 AND link_ppm ≤ 333333 AND
    *     stop_ppm ≥ 30000`, all integer ppm arithmetic (the q101 DIV
    *     convention — oracle-replayable, no float anywhere).
    *
    * One narrow projection, zero shuffle: the
    * [[graft.expressions.HtmlBlocks]] kernel runs each step above once
    * per document or block — the per-record enrichment shape
    * (ecommerce-order-processor.py:122–161 is the reference's
    * analogue) at 100 TB cost: one scan.
    *
    * @return array<struct<text, n_chars, n_words, link_ppm, stop_ppm,
    *         good>> — empty-text blocks dropped, document order kept. */
  def htmlBlocks(html: Column): Column =
    org.apache.spark.sql.GraftPlanBridge.columnOf(
      graft.expressions.HtmlBlocks(
        org.apache.spark.sql.GraftPlanBridge.exprOf(html)))

  /** Integer `div` over arbitrary Columns — the Column API has no
    * integral-divide operator and `expr("a div b")` cannot reference
    * LAMBDA variables by name, so the Catalyst node is built directly
    * (the GraftPlanBridge doorway; same node SQL `div` parses to). */
  private def intDiv(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftPlanBridge.columnOf(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftPlanBridge.exprOf(a),
        org.apache.spark.sql.GraftPlanBridge.exprOf(b)))

  /** Good blocks joined with newlines — the extracted main content;
    * empty string when no block passes (the caller's length gate then
    * drops the doc: extraction never deletes ROWS, the q290/excise
    * convention). */
  def mainContent(html: Column): Column =
    array_join(transform(
      filter(htmlBlocks(html), s => s.getField("good")),
      s => s.getField("text")), "\n")

  /** Full `<url>` entries — [[sitemapUrlLocs]] extended to the
    * METADATA the sitemaps protocol carries per page (VERDICT r11
    * Missing #2): `<lastmod>` and `<changefreq>` are the server's own
    * recrawl hints, and a crawler that extracts only `<loc>`
    * re-validates everything pointlessly. Same RE2-safe cut at the
    * closing entry tag; each optional tag extracts independently of
    * order within its entry and NULLs when absent.
    *
    * @return array<struct<loc, lastmod, changefreq>> — entries with
    *         no `<loc>` dropped, document order kept. */
  def sitemapUrlEntries(xml: Column): Column =
    filter(transform(split(xml, "</url>"), s => {
      val lm = regexp_extract(s,
        "(?s)<url>.*<lastmod>\\s*(.*?)\\s*</lastmod>", 1)
      val cf = regexp_extract(s,
        "(?s)<url>.*<changefreq>\\s*(.*?)\\s*</changefreq>", 1)
      struct(
        regexp_extract(s, "(?s)<url>.*<loc>\\s*(.*?)\\s*</loc>", 1)
          .as("loc"),
        when(length(lm) > 0, lm).as("lastmod"),
        when(length(cf) > 0, cf).as("changefreq"))
    }), x => length(x.getField("loc")) > 0)

  /** `<changefreq>` → revisit TTL in the recrawl gate's logical-clock
    * units, scaled off `baseTtl` (the gate's default): always/hourly
    * revisit at a quarter of the default, daily at half, weekly at
    * the default, monthly/yearly at 2×/4×, `never` effectively
    * freezes (10⁹ — revalidation still happens at the heat death of
    * the schedule, never silently "always"), and an absent or unknown
    * value falls back to the default. Integer DIV throughout —
    * oracle-replayable. The sitemaps protocol calls changefreq a
    * HINT; the gate treats it exactly that way (it stretches or
    * shrinks the TTL, it never overrides a lastmod that says
    * modified). */
  def changefreqTtl(cf: Column, baseTtl: Column): Column = {
    val base = baseTtl.cast(LongType)
    when(lower(cf).isin("always", "hourly"),
        greatest(lit(1L), intDiv(base, lit(4L))))
      .when(lower(cf) === "daily", greatest(lit(1L), intDiv(base, lit(2L))))
      .when(lower(cf) === "weekly", base)
      .when(lower(cf) === "monthly", base * 2L)
      .when(lower(cf) === "yearly", base * 4L)
      .when(lower(cf) === "never", lit(1000000000L))
      .otherwise(base)
  }

  /** Anchor-link extraction — what closes the crawl LOOP (fetch →
    * discover → frontier): every `<a href="…">`/`<a href='…'>` target
    * in a fetched HTML body, resolved against `pageUrl` (the URL the
    * body was fetched from — a full URL, path included):
    *
    *  - absolute http(s) targets kept as-is;
    *  - root-relative (`/x`) resolved against the page's scheme+host;
    *  - page-relative (`x`, `./x`) resolved against the page's
    *    DIRECTORY (the majority shape on real pages — a crawler that
    *    drops them misses most of a site), and one `../x` level
    *    against the parent directory;
    *  - fragment-only, protocol-relative (`//…` — the scheme is
    *    ambiguous without context), other-scheme (`mailto:`,
    *    `javascript:`) and deeper-than-one `../../…` targets dropped
    *    (the documented contract: only unambiguous fetchable URLs
    *    enter the frontier; multi-level dot-normalization is the
    *    long tail, not the 90% case).
    *
    * A page with no path (`https://h`) resolves relatives against the
    * root. Non-greedy RE2 extraction + one filter/transform — narrow,
    * no shuffle; feed through [[urlNormalize]] before the frontier
    * dedup. */
  def extractLinks(html: Column, pageUrl: Column): Column = {
    val (base, dirPath, parentPath) = pageParts(pageUrl)
    val hrefs = regexp_extract_all(html,
      lit("(?is)<a\\s[^>]*href\\s*=\\s*[\"']([^\"']+)[\"']"), lit(1))
    filter(
      transform(hrefs, h => resolveHref(h, base, dirPath, parentPath)),
      x => x.isNotNull)
  }

  /** The page URL decomposed for relative-href resolution:
    * (scheme+host, directory path with trailing '/', parent
    * directory path) — shared by [[extractLinks]] and
    * [[extractAnchors]] so their resolution can never drift. */
  private def pageParts(pageUrl: Column): (Column, Column, Column) = {
    val base = regexp_extract(pageUrl, "^(https?://[^/]+)", 1)
    // the page's directory path: host-relative, up to and including
    // the last '/' — "/" when the page sits at the root
    val dirPath = when(pageUrl.rlike("^https?://[^/]+/"),
      regexp_replace(regexp_replace(pageUrl, "^https?://[^/]+", ""),
        "[^/]*$", "")).otherwise(lit("/"))
    val parentPath = regexp_replace(dirPath, "[^/]+/$", "")
    (base, dirPath, parentPath)
  }

  /** One href through the [[extractLinks]] resolution contract;
    * NULL = drop (fragment-only / protocol-relative / other-scheme /
    * deeper than one `../`). */
  private def resolveHref(h: Column, base: Column, dirPath: Column,
                          parentPath: Column): Column =
    when(h.rlike("^https?://"), h)
      .when(h.rlike("^//"), lit(null))
      .when(h.rlike("^/"), concat(base, h))
      .when(h.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), lit(null))
      .when(h.rlike("^#"), lit(null))
      .when(h.rlike("^\\.\\./"),
        when(regexp_replace(h, "^\\.\\./", "")
            .rlike("^\\.\\.?(/|$)"), lit(null))
          .otherwise(concat(base, parentPath,
            regexp_replace(h, "^\\.\\./", ""))))
      .when(h.rlike("^\\.\\.?$"), lit(null))
      .when(h.rlike("^\\./"),
        concat(base, dirPath, regexp_replace(h, "^\\./", "")))
      .otherwise(concat(base, dirPath, h))

  /** Anchor (target, text) pairs — the WAT-shaped signal beside
    * [[extractLinks]]' frontier feed: what OTHER pages' authors call
    * a URL is a query-independent description of it (anchor-text
    * censuses are how web corpora mint titles/keywords for pages, and
    * a classic retrieval signal). Each `<a href="…">text</a>` whose
    * text is tag-free (nested-markup anchors drop by contract — both
    * capture groups ride ONE pattern, so href and text can never
    * pair off different anchors) resolves through the identical
    * [[extractLinks]] chain; unresolvable targets drop WITH their
    * text. Returns `array<struct<url, text>>` — narrow, no shuffle;
    * normalize `url` before any census. */
  def extractAnchors(html: Column, pageUrl: Column): Column = {
    val (base, dirPath, parentPath) = pageParts(pageUrl)
    val pat = "(?is)<a\\s[^>]*href\\s*=\\s*[\"']([^\"']+)[\"'][^>]*>([^<]*)</a>"
    val hrefs = regexp_extract_all(html, lit(pat), lit(1))
    val texts = regexp_extract_all(html, lit(pat), lit(2))
    filter(
      zip_with(hrefs, texts, (h, t) =>
        struct(resolveHref(h, base, dirPath, parentPath).as("url"),
          t.as("text"))),
      x => x.getField("url").isNotNull)
  }

  /** `<link rel=canonical>` extraction (VERDICT r11 Missing #4) — the
    * CONTENT-identity signal beside the SURT key's SPELLING identity:
    * normalize/SURT collapse syntactic variants of one URL, while
    * rel=canonical is the page author declaring which URL this
    * content IS (tracking-parameter spellings, mirrors, pagination
    * views all point at one canonical), and it beats any syntactic
    * key when present. First declaration wins; `rel` and `href` match
    * in either attribute order (two patterns, rel-first preferred);
    * the target resolves through the [[extractLinks]] contract
    * (relative canonicals are common), NULL when absent or
    * unresolvable. */
  def extractCanonical(html: Column, pageUrl: Column): Column = {
    val (base, dirPath, parentPath) = pageParts(pageUrl)
    val relFirst = regexp_extract(html,
      "(?is)<link\\s[^>]*rel\\s*=\\s*[\"']?canonical[\"']?[^>]*" +
        "href\\s*=\\s*[\"']([^\"']+)[\"']", 1)
    val hrefFirst = regexp_extract(html,
      "(?is)<link\\s[^>]*href\\s*=\\s*[\"']([^\"']+)[\"'][^>]*" +
        "rel\\s*=\\s*[\"']?canonical[\"']?", 1)
    val h = when(length(relFirst) > 0, relFirst)
      .when(length(hrefFirst) > 0, hrefFirst)
    when(h.isNotNull, resolveHref(h, base, dirPath, parentPath))
  }

  /** Canonical-aware dedup key: the author-declared canonical when
    * present (normalized — the frontier's exact-identity convention),
    * else the page's own normalized URL. This is the key URL-level
    * dedup and the frontier should collapse on; compose with
    * [[surtKey]] for the index-lookup spelling. */
  def canonicalKey(html: Column, pageUrl: Column): Column =
    coalesce(urlNormalize(extractCanonical(html, pageUrl)),
      urlNormalize(pageUrl))

  /** HTML meta-charset sniff — the in-document fallback when the
    * HTTP `Content-Type` header declares no charset (the common case
    * on real crawls): the first `<meta charset="x">` or
    * `<meta http-equiv=Content-Type content="…; charset=x">`
    * declaration, lowercased; NULL when absent. One case-insensitive
    * non-greedy RE2 extraction over the head of the document — both
    * forms reduce to the first `charset=` inside a `<meta` tag. The
    * effective charset is then
    * `coalesce(header_charset, htmlCharset(body), 'utf-8')` — the
    * priority order the WHATWG encoding sniff prescribes. */
  def htmlCharset(html: Column): Column = {
    val cs = lower(regexp_extract(html,
      "(?is)<meta[^>]*charset\\s*=\\s*[\"']?([A-Za-z0-9_.:-]+)", 1))
    when(length(cs) > 0, cs)
  }

  /** The two-part effective-TLD suffixes [[registeredDomain]]
    * recognizes — the common ccTLD second-level forms. Deliberately a
    * HEURISTIC subset, not the Public Suffix List: the PSL is a data
    * file (thousands of entries, updated continuously, and this
    * engine takes no runtime data dependencies); the operator is the
    * machinery, and a deployment swaps in the full list as a config
    * table without touching the rollup logic. */
  val twoPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ac.jp", "co.kr", "com.br", "com.cn", "com.mx", "co.in",
    "co.nz")

  /** Registered-domain extraction — the rollup key domain-level
    * curation aggregates on (C4/FineWeb-style domain priors, UT1
    * blocklists, per-domain crawl budgets all key on the REGISTERED
    * domain, not the host: `news.bbc.co.uk` and `www.bbc.co.uk` are
    * one publisher). Last two host labels, or three when the last two
    * form a known second-level suffix ([[twoPartSuffixes]] — `co.uk`
    * is a TLD in effect, so `bbc.co.uk` is the registration). A host
    * that IS a suffix (or shorter) passes through unchanged. One
    * codegen'd split/element_at chain, zero shuffle. */
  def registeredDomain(host: Column): Column = {
    val parts = split(host, "\\.")
    val last2 = concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    val last3 = concat_ws(".", element_at(parts, -3), element_at(parts, -2),
      element_at(parts, -1))
    when(size(parts) <= 2, host)
      .when(array_contains(typedLit(twoPartSuffixes), last2), last3)
      .otherwise(last2)
  }

  /** SURT (Sort-friendly URI Reordering Transform) key — the `urlkey`
    * a CDX-style capture index sorts and prefix-scans on (the Common
    * Crawl index layout): host labels REVERSED and comma-joined
    * (`example.com` → `com,example` — every page of a registered
    * domain becomes one contiguous key range, the property the whole
    * index format exists for), non-default port kept (`:8080`), `)`
    * separator, then the path LOWERCASED and the query string with
    * its `&`-separated parameters SORTED and lowercased (`?b=2&a=1`
    * and `?a=1&b=2` are the same capture). The case-fold is
    * deliberate and DIFFERENT from [[urlNormalize]]: the normalize
    * key is the frontier's exact-identity key (paths are
    * case-sensitive per RFC 3986), while the SURT key is a LOOKUP
    * key — case-folded so index scans match how users query, with
    * the record digest disambiguating any collision. Scheme is
    * dropped (an index lookup for a page must find it under either
    * scheme). Input contract: an already-[[urlNormalize]]d absolute
    * http(s) URL (lowercase scheme+host, no fragment, no default
    * port, no leading www). One codegen'd
    * split/reverse/sort/concat chain — narrow, zero shuffle;
    * parameter sort is lexicographic over the raw `k=v` strings
    * (ASCII keys — the multibyte-key caveat is the documented long
    * tail). */
  def surtKey(u: Column): Column = {
    val hostPort = regexp_extract(u, "^[a-z]+://([^/?]*)", 1)
    val host = regexp_extract(hostPort, "^([^:]*)", 1)
    val port = regexp_extract(hostPort, "(:\\d+)$", 1)
    val revHost = array_join(reverse(split(host, "\\.")), ",")
    val rest = regexp_replace(u, "^[a-z]+://[^/?]*", "")
    val path = lower(regexp_extract(rest, "^([^?]*)", 1))
    val q = regexp_extract(rest, "\\?(.*)$", 1)
    concat(revHost, port, lit(")"),
      when(length(path) > 0, path).otherwise(lit("/")),
      when(length(q) > 0,
        concat(lit("?"), lower(array_join(array_sort(split(q, "&")), "&"))))
        .otherwise(lit("")))
  }

  def urlNormalize(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val auth = lower(regexp_extract(noFrag, "^([A-Za-z]+://[^/]*)", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z]+://[^/]*", "")
    val noPort = regexp_replace(
      regexp_replace(auth, "^(http://[^/:]*):80$", "$1"),
      "^(https://[^/:]*):443$", "$1")
    val noWww = regexp_replace(noPort, "^(https?://)www\\.", "$1")
    concat(noWww, regexp_replace(rest, "^([^?]*?)/+$", "$1"))
  }
}
