package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines.
  *
  * Everything here is built from codegen'd built-in expressions and
  * higher-order array functions — no UDFs — so the hot path stays inside
  * whole-stage codegen and scales linearly with input splits (the operators
  * are embarrassingly parallel: no shuffle at all until a caller aggregates).
  */
object text {

  /** Whitespace tokenization. Empty input → empty array (not [""]). */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => length(t) > 0)

  /** Unicode normalization via the native codegen'd
    * [[graft.expressions.NormalizeUnicodeExpr]]. `form`: NFC (canonical
    * compose — the storage/dedup default), NFD, NFKC (compatibility —
    * folds ligatures/fullwidth, the aggressive pre-tokenization form),
    * NFKD. Apply BEFORE hashing/shingling: byte-level identities
    * fragment across composed/decomposed variants of the same text.
    */
  def normalizeUnicode(c: Column, form: String = "NFC"): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.NormalizeUnicodeExpr(
      ColumnBridge.eagerExpression(c), form))
  }

  def tokenCount(c: Column): Column = size(tokens(c))

  /** One-pass multi-phrase scan via the native Aho–Corasick
    * [[graft.expressions.MultiPhraseMatchExpr]]: the DISTINCT
    * dictionary phrases appearing in the text (byte substring match,
    * case-sensitive — lowercase/normalize upstream), lexicographic
    * order. O(bytes) per document regardless of dictionary size —
    * the blocklist / taxonomy-routing scan; a 10k-alternative regex
    * or a `contains` loop is O(bytes × phrases).
    */
  def matchPhrases(c: Column, phrases: Seq[String]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.MultiPhraseMatchExpr(
      ColumnBridge.eagerExpression(c), phrases))
  }

  /** True iff ANY dictionary phrase appears — the blocklist predicate
    * face of [[matchPhrases]] (same single automaton walk).
    */
  def hasAnyPhrase(c: Column, phrases: Seq[String]): Column =
    size(matchPhrases(c, phrases)) > 0

  /** Accent/diacritic removal via the native codegen'd
    * [[graft.expressions.StripAccentsExpr]]: NFD-decompose, drop
    * combining marks, NFC-recompose — mark removal, not ASCII
    * transliteration (`ø`/`ß` survive). Apply AFTER
    * [[normalizeUnicode]] is irrelevant — it decomposes internally,
    * so composed and decomposed inputs fold identically.
    */
  def stripAccents(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.StripAccentsExpr(
      ColumnBridge.eagerExpression(c)))
  }

  /** Tokens with consecutive exact repeats collapsed to one — the
    * stutter-cleaning step for OCR/crawl text ("the the the" → "the").
    * Keep token i iff it differs from its predecessor; non-adjacent
    * repeats survive (they are language, not stutter). Pure array
    * filter, zero shuffle.
    */
  def collapseRuns(c: Column): Column = {
    val toks = tokens(c)
    // element_at is 1-based: the predecessor of 0-based index i is
    // element_at(toks, i)
    filter(toks, (t, i) => (i === 0) || (t =!= element_at(toks, i)))
  }

  /** [[collapseRuns]] rendered back to text (single-space joined — run
    * collapsing is a token-level decision, so the rebuilt string is
    * whitespace-normalized by construction).
    */
  def collapseRunsText(c: Column): Column = array_join(collapseRuns(c), " ")

  /** BPE-ish subword count: word-chunks + digits + punctuation each count
    * as one token — a cheap deterministic stand-in for a real tokenizer's
    * token count (regex, no vocab lookup).
    */
  def subwordCount(c: Column): Column =
    size(filter(
      split(lower(c), "(?=[^a-z0-9])|(?<=[^a-z0-9])"),
      // \S, not length(trim(t)) > 0: Spark's trim strips only U+0020, so a
      // tab/newline piece would count as a subword while the oracle's
      // \s-based filter drops it.
      t => t.rlike("\\S")))

  /** Word k-shingles: ["a b c","b c d",...] from the token stream. */
  def shingles(c: Column, k: Int): Column = {
    val toks = tokens(c)
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(
        transform(
          sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  // --- Quality scoring (length / punctuation / stopword ratios) ---

  val englishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be", "this")

  /** Fraction of characters that are ASCII punctuation. */
  def punctRatio(c: Column): Column = {
    val len = length(c)
    when(len === 0, lit(0.0))
      .otherwise(
        length(regexp_replace(c, "[^\\p{Punct}]", "")).cast("double") / len.cast("double"))
  }

  /** Fraction of tokens that are common English stopwords. */
  def stopwordRatio(c: Column, stop: Seq[String] = englishStopwords): Column = {
    val toks = tokens(lower(c))
    val hits = size(filter(toks, t => t.isin(stop: _*)))
    when(size(toks) === 0, lit(0.0))
      .otherwise(hits.cast("double") / size(toks).cast("double"))
  }

  /** Mean token length — word-salad / boilerplate indicator. */
  def meanTokenLen(c: Column): Column = {
    val toks = tokens(c)
    when(size(toks) === 0, lit(0.0))
      .otherwise(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
          size(toks).cast("double"))
  }

  // --- Language identification (stopword-hit heuristic) ---

  /** Stopword lists per language; langId picks the argmax-hit language. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "fr" -> Seq("le", "la", "les", "des", "est", "dans", "que", "une", "pour", "qui"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"))

  def langHits(c: Column, stop: Seq[String]): Column =
    size(filter(tokens(lower(c)), t => t.isin(stop: _*)))

  /** Argmax language by stopword hits; 'und' (undetermined) when all zero.
    * Ties resolve in `langStopwords` declaration order — deterministic.
    *
    * One tokenization pass builds the whole per-language hit vector (the
    * stopword lists ride along as a literal array-of-arrays); the previous
    * per-language `langHits` form re-tokenized once per language per
    * comparison under expression inlining. Adding a language is one more
    * list entry, not another pass.
    *
    * The argmax lives in `aggregate`'s finish lambda: there the hit vector
    * is a bound lambda variable — computed once, each of its three reads a
    * slot lookup. As a plain column it would be a subexpression that
    * ProjectCollapse inlines (and interpreted HOFs re-evaluate) at every
    * use site, re-running the whole tokenize+vote fold up to 3x per row.
    */
  def langId(c: Column): Column = {
    val langs = langStopwords.map(_._1)
    val stopLists = typedLit(langStopwords.map(_._2))
    aggregate(
      tokens(lower(c)),
      array_repeat(lit(0), langs.length),
      (acc, t) => zip_with(acc, stopLists, (a, stop) =>
        a + when(array_contains(stop, t), 1).otherwise(0)),
      hits =>
        when(array_max(hits) > 0,
          element_at(typedLit(langs), array_position(hits, array_max(hits)).cast("int")))
          .otherwise(lit("und")))
  }

  /** Unicode SCRIPT ranges for [[scriptCounts]]/[[scriptId]] — explicit
    * BMP codepoint intervals, NOT `\p{Script=…}` classes: property-class
    * tables differ across regex engines (and Unicode versions), while a
    * literal range means the same thing to Java's regex, RE2, and any
    * oracle. Complements [[langId]]: stopword voting needs SPACED text in
    * a known language; script histograms work on CJK/Arabic/Devanagari
    * where there may be no spaces to tokenize on. Declared order is the
    * [[scriptId]] tie-break priority.
    */
  val scriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z\\u00C0-\\u024F",
    "cyrillic" -> "\\u0400-\\u04FF",
    "greek" -> "\\u0370-\\u03FF",
    "arabic" -> "\\u0600-\\u06FF",
    "devanagari" -> "\\u0900-\\u097F",
    "cjk" -> "\\u4E00-\\u9FFF\\u3040-\\u30FF\\uAC00-\\uD7AF")

  /** Per-script codepoint count: `length(c) − length(c without the
    * range)` — one codegen'd regexp pass per script over the row, zero
    * shuffle (the counting trick DuckDB replays verbatim, so the whole
    * histogram oracle-gates). NULL text → NULL counts.
    */
  def scriptCount(c: Column, rangeClass: String): Column =
    (length(c) - length(regexp_replace(c, s"[$rangeClass]", ""))).cast("long")

  /** Dominant script by codepoint count — first of [[scriptRanges]]'s
    * declared order among the maxima ('unknown' when no scripted
    * codepoint appears, e.g. digits/punctuation-only text).
    */
  def scriptId(c: Column): Column = {
    val cnts = scriptRanges.map { case (n, r) => n -> scriptCount(c, r) }
    val top = greatest(cnts.map(_._2): _*)
    cnts.foldLeft(when(top <= 0L, lit("unknown"))) { case (acc, (n, cnt)) =>
      acc.when(cnt === top, lit(n))
    }
  }

  /** Fraction of word k-shingles that are repeats (Gopher-style repetition
    * signal: boilerplate and keyword-stuffed pages score high). 0.0 for
    * docs too short to have more than one shingle.
    */
  def repetitionRatio(c: Column, k: Int = 2): Column =
    // Single-eval discipline: the shingle array is wrapped in a 1-element
    // array and referenced only through transform's lambda variable — a
    // slot read — so the tokenize+shingle pass runs once per row. As a
    // plain subexpression its four use sites would each re-run it
    // (ProjectCollapse inlines; interpreted HOFs have no CSE).
    element_at(
      transform(array(shingles(c, k)), sh =>
        when(size(sh) <= 1, lit(0.0))
          .otherwise(
            (size(sh) - size(array_distinct(sh))).cast("double") / size(sh).cast("double"))),
      1)

  /** Scrub emails and (NANP-style) phone numbers with typed placeholders —
    * the minimal PII pass every training corpus gets. Patterns restricted
    * to syntax Java and RE2 regex engines agree on, so the DuckDB oracle
    * replays them verbatim.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // country code optional, area code with or without parens — "(555)
  // 123-4567" and "555-123-4567" are the common NANP shapes and must not
  // leak just because no +1 precedes them
  val phonePattern =
    "(\\+?[0-9]{1,2} ?)?(\\([0-9]{3}\\) ?|[0-9]{3}[-. ])[0-9]{3}-[0-9]{4}"

  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(c, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Undo CP1252↔UTF-8 double encoding (`cafÃ©` → `café`, `â€™` → `’`)
    * via the native codegen'd [[graft.expressions.FixMojibakeExpr]]:
    * strict re-encode + strict re-decode, up to 3 nested rounds, with
    * hard guarantees that ASCII, genuine single-encoded text, CJK/
    * emoji, and lone CP1252 specials pass through untouched. Apply
    * BEFORE [[normalizeUnicode]]/hashing — mojibake fragments every
    * byte-level identity downstream.
    */
  def fixMojibake(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.FixMojibakeExpr(
      ColumnBridge.eagerExpression(c)))
  }

  /** Digit runs (optionally space/dash-separated) long enough to be a
    * payment card — the CANDIDATE pattern; [[luhnValid]] decides.
    * Java and RE2 agree on this syntax (the [[emailPattern]] rule).
    */
  val cardCandidatePattern = "[0-9](?:[ -]?[0-9]){12,18}"

  /** Luhn checksum validity (ISO/IEC 7812 mod-10) of a digits-only
    * string of 13–19 digits — the test that separates real payment
    * cards from arbitrary digit runs, killing the false positives a
    * bare regex redactor produces on IDs/timestamps. Unrolled over
    * the 19 maximum positions as pure integer CASE arithmetic: one
    * fixed expression both engines evaluate identically, usable
    * inside array lambdas (which run interpreted — the CaseWhen
    * guard short-circuits, so out-of-range positions never cast).
    */
  def luhnValid(c: Column): Column = {
    val len = length(c)
    val total = (1 to 19).map { i =>
      // i-th digit from the RIGHT (1-based); double every second one
      val d = c.substr(len - lit(i) + lit(1), lit(1)).cast("int")
      val contrib = if (i % 2 == 0) when(d * 2 > 9, d * 2 - 9).otherwise(d * 2) else d
      when(len >= i, contrib).otherwise(lit(0))
    }.reduce(_ + _)
    c.rlike("^[0-9]{13,19}$") && total % 10 === 0
  }

  /** The card-detection prefix ladder: over a candidate's separator
    * `groups` (split on `[ -]`), the digit prefixes that end at a group
    * boundary, longest first — each NULL unless the prefix is
    * Luhn-valid 13–19 digits ([[luhnValid]] embeds the length bounds).
    *
    * Boundary windows close the card+CVV adjacency leak the greedy
    * [[cardCandidatePattern]] creates — '4111-1111-1111-1111-123' is
    * consumed as one 19-digit candidate that fails Luhn whole, but its
    * 16-digit boundary prefix IS the card — while an UNSEPARATED digit
    * run (epoch timestamp, order id) has no internal boundaries, so
    * only the whole run is ever tested and such runs keep the original
    * never-false-positive guarantee. The residual, irreducible gap: a
    * card concatenated DIRECTLY with extra digits (no separator) is
    * arithmetically indistinguishable from a long id and still leaks;
    * the trade-off is documented, not silent.
    *
    * PRECISION on separated runs (documented, round-15 advice): each
    * boundary prefix of 13–19 digits is an independent ~1/10 chance of
    * a coincidental Luhn pass, so a grouped NON-card run faces up to
    * ~7 trials where an unseparated run faces one. Two mitigations
    * bound it: (a) PROPER-prefix rungs require card-plausible group
    * shapes — every group in the window ≤ 6 digits (real formats:
    * 4-4-4-4, 4-6-5, 4-4-4-4-3), except the single-group rung, which
    * is the unseparated-card+separated-CVV leak shape — so serials/
    * invoice numbers with any wider group skip most of the prefix
    * ladder; (b) group widths
    * quantize prefix lengths, so e.g. an all-4s run (spaced IBAN
    * digits) exposes exactly one proper-prefix length (16) in range —
    * ~2 trials, ~19% false-detection odds on a random such run, vs the
    * unconstrained ladder's worst-case ~50%. The whole-run rung stays
    * UNCONDITIONAL — whole-candidate recall and the unseparated
    * guarantee are unchanged; no IIN/MII first-digit filter, because
    * ISO 7812 assigns digits 1–9 to live issuer categories (airline,
    * petroleum, telecom) and a digit filter would trade silent card
    * LEAKS for modest precision.
    */
  private def cardPrefixLadder(
      groups: Column, firstWide: Column): Seq[Column] = {
    (19 to 1 by -1).map { g =>
      val pfx = array_join(slice(groups, 1, g), "")
      // && short-circuits, so rungs beyond the group count cost one
      // size check; only real boundaries pay the join + checksum
      // g == 1 stays allowed: an unseparated card followed by a
      // separated CVV ('4111111111111111-123') is a real leak shape
      // whose covering prefix is exactly one 13–19 digit group
      val plausible =
        if (g == 1) lit(true)
        else size(groups) === g || firstWide.isNull || firstWide > g
      when(size(groups) >= g && plausible && luhnValid(pfx), pfx)
    }
  }

  /** Candidates' split groups, MATERIALIZED once per
    * candidate: interpreted lambdas have no CSE, so referencing
    * `split(x, …)` in each of the ladder's 19 rungs would re-run the
    * regex split 19× per candidate — this struct hop evaluates it once
    * and the rungs read the stored array.
    */
  private def cardCandidatesWithGroups(c: Column): Column =
    transform(
      regexp_extract_all(c, lit(cardCandidatePattern), lit(0)),
      x => {
        val g = split(x, "[ -]")
        // fw: 1-based index of the first separator group wider than 6
        // digits (NULL when none) — the card-plausibility horizon the
        // ladder's proper-prefix rungs read; materialized once here
        // like the split itself (interpreted lambdas have no CSE)
        val fw = array_min(transform(g, (grp, i) => when(length(grp) > 6, i + lit(1))))
        struct(g.as("g"), fw.as("fw"))
      })

  /** Luhn-valid payment-card numbers appearing in the text, separator-
    * normalized (digits only), distinct, lexicographic — the DETECTION
    * face for audits ("which documents leak card numbers, and which").
    * Candidates come from one [[cardCandidatePattern]] scan; validation
    * is per-candidate [[luhnValid]] arithmetic over the candidate and
    * its separator-boundary prefix windows ([[cardPrefixLadder]] — the
    * card+CVV adjacency case; unseparated runs are tested whole-only,
    * so order IDs and timestamps never false-positive). Cost is
    * O(bytes + candidates), zero shuffle.
    */
  def detectPaymentCards(c: Column): Column = {
    val found = transform(cardCandidatesWithGroups(c), s =>
      coalesce(cardPrefixLadder(s.getField("g"), s.getField("fw")): _*))
    array_sort(array_distinct(filter(found, d => d.isNotNull)))
  }

  // --- Gopher-style rule signals (Rae et al. 2021, "Scaling Language
  // Models: ... Gopher", §A1.1 — public heuristics; formulas restated
  // here, thresholds live in the caller) ---

  /** Fraction of tokens containing at least one ASCII letter — word-salad
    * and markup pages score low. 0.0 for empty docs.
    */
  def alphaWordRatio(c: Column): Column = {
    val toks = tokens(c)
    when(size(toks) === 0, lit(0.0))
      .otherwise(
        size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") /
          size(toks).cast("double"))
  }

  /** Count of DISTINCT stopwords present — Gopher's "contains at least 2
    * stopwords" naturalness check (a real sentence hits several; keyword
    * lists hit none).
    */
  def distinctStopwordHits(c: Column, stop: Seq[String] = englishStopwords): Column =
    size(array_distinct(filter(tokens(lower(c)), t => t.isin(stop: _*))))

  /** Hash-sign + ellipsis occurrences per token (Gopher's symbol-to-word
    * ratio). Occurrence counts by length-delta of `replace` — pure string
    * arithmetic, identical in any engine; the `...` count divides by 3
    * AFTER the delta so the division is exact. 0.0 for empty docs.
    */
  def symbolRatio(c: Column): Column = {
    val toks = tokens(c)
    val hashes = (length(c) - length(regexp_replace(c, "#", ""))).cast("double")
    val dots = ((length(c) - length(regexp_replace(c, "\\.\\.\\.", ""))) / lit(3)).cast("double")
    when(size(toks) === 0, lit(0.0))
      .otherwise((hashes + dots) / size(toks).cast("double"))
  }

  private def nonEmptyLines(c: Column): Column =
    filter(split(c, "\n"), l => length(trim(l)) > 0)

  /** Fraction of non-empty lines that start with a bullet ('-', '*', '•')
    * — link farms and nav menus are bullet walls. 0.0 when no lines.
    */
  def bulletLineRatio(c: Column): Column = {
    val lns = nonEmptyLines(c)
    when(size(lns) === 0, lit(0.0))
      .otherwise(
        size(filter(lns, l => trim(l).rlike("^[-*•]"))).cast("double") /
          size(lns).cast("double"))
  }

  /** Fraction of non-empty lines ending in an ellipsis — truncated
    * search-result snippets. 0.0 when no lines.
    */
  def ellipsisLineRatio(c: Column): Column = {
    val lns = nonEmptyLines(c)
    when(size(lns) === 0, lit(0.0))
      .otherwise(
        size(filter(lns, l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("double") /
          size(lns).cast("double"))
  }

  // --- Fingerprinting ---

  /** Canonical-text MD5: lowercase, collapse whitespace, trim. Collapse
    * happens BEFORE the trim: trim strips only U+0020, so trimming first
    * leaves a trailing tab/newline that the collapse then turns into a
    * trailing space — "foo\t" and "foo" would fingerprint differently
    * (caught by TextProperties). Oracle-friendly (MD5 is identical
    * everywhere) and the basis of exact dedup.
    */
  def fingerprintMd5(c: Column): Column =
    md5(trim(regexp_replace(lower(c), "\\s+", " ")).cast("binary"))

  /** Rolling-hash content fingerprint: min of 64-bit shingle hashes
    * (winnowing-style). Robust to token reordering at the edges; one value
    * per document, no shuffle. `hash` is injectable (the q48c/q26c move):
    * the default xxhash64 is the production face; passing
    * [[graft.operators.Dedup.linearTokenHash]] gives the ANSI-reproducible
    * oracle face (q27c) — the min-of-shingle-hashes machinery is shared.
    */
  def rollingFingerprint(
      c: Column, k: Int = 3, hash: Column => Column = xxhash64(_)): Column =
    array_min(transform(shingles(c, k), s => hash(s)))
}
