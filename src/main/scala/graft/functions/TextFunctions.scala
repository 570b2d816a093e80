package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for the large-scale training-data pipeline tier
  * (north star in BASELINE.json): tokenization, shingling, fingerprinting,
  * MinHash/SimHash sketches, language-ID heuristics, quality features.
  *
  * All pure Column compositions over Spark higher-order functions — the
  * whole layer is codegen'd and embarrassingly parallel (no shuffle, no
  * UDF), so it scales linearly with input splits at 100 TB.
  */
object TextFunctions {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish token pieces: letter runs, digit runs, or single non-space
    * symbols (a practical pre-tokenizer regex).
    */
  val PreTokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token count via the pre-tokenizer regex (codegen'd `regexp_count`). */
  def tokenCountRegex(text: Column): Column = regexp_count(text, lit(PreTokenRegex))

  /** Token count via whitespace split. */
  def tokenCountWs(text: Column): Column = size(tokens(text))

  /** Unicode normalization (default NFC) — the first cleaning pass of a
    * multilingual corpus: byte-variant spellings (decomposed marks,
    * ligatures, fullwidth forms) must collapse BEFORE any content hash
    * (exact dedup, shingles, split buckets) sees the text. Backed by the
    * codegen'd [[graft.expressions.UnicodeNormalize]] with a zero-alloc
    * already-normalized fast path.
    */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.UnicodeNormalize(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), form))

  /** Deflate compression ratio of the UTF-8 text — the codec-based
    * repetitiveness gate (boilerplate/spam compresses far below prose).
    * Backed by the codegen'd [[graft.expressions.DeflateRatio]]; a UDF
    * would leave whole-stage codegen and allocate a Deflater per call.
    */
  def compressionRatio(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.DeflateRatio(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  /** Exact level-0 (stored-mode) deflate output length in bytes — the
    * oracle-replayable integer face of the deflate tier; see
    * [[graft.expressions.DeflateStoredLen]].
    */
  def deflateStoredLen(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.DeflateStoredLen(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  /** Markup stripping for filing bodies (SEC documents embed HTML/SGML):
    * drop tags, collapse runs of whitespace, trim — the minimal cleaning
    * pass before text analysis. Pure codegen'd regex chain.
    */
  def stripMarkup(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "<[^>]*>", " "), "\\s+", " "))

  /** PII scrubbing: replace emails, NANP-style phone numbers, and IPv4
    * addresses with typed placeholder tokens — the minimal redaction
    * pass a training-data pipeline runs before sharing a corpus. Regexes
    * stay in the Java∩RE2 common dialect so the DuckDB oracle replays
    * them verbatim; pure codegen'd `regexp_replace` chain.
    */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
  val Ipv4Regex = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRegex, "<EMAIL>"),
        PhoneRegex, "<PHONE>"),
      Ipv4Regex, "<IP>")

  /** Candidate payment-card numbers: 13-19 digit runs where each digit may
    * be followed by one space/dash separator (the common 4-4-4-4 / 4-6-5
    * groupings). Pattern stays in the Java∩RE2 dialect so the DuckDB
    * oracle replays it verbatim. A digit-run regex alone over-redacts
    * (order ids, timestamps); the Luhn gate below keeps only strings that
    * actually checksum as card numbers.
    */
  val CardCandidateRegex = "\\b(?:[0-9][ -]?){12,18}[0-9]\\b"

  /** Luhn mod-10 checksum over a digits-only string: from the RIGHT, odd
    * positions count as-is, even positions double (minus 9 when the double
    * exceeds 9); a valid number sums to ≡ 0 (mod 10). Pure integer
    * `aggregate` over character positions — no UDF, codegen-friendly, and
    * bit-identical in any engine, so the checksum itself is an
    * oracle-checkable evidence column (not just the boolean).
    */
  def luhnSum(digits: Column): Column = {
    val r = reverse(digits)
    when(length(r) === 0, lit(0)).otherwise(
      aggregate(
        sequence(lit(1), length(r)),
        lit(0),
        (acc, i) => {
          val d = r.substr(i, lit(1)).cast(IntegerType)
          val dbl = d * 2
          acc + when(pmod(i, lit(2)) === 1, d)
            .otherwise(when(dbl > 9, dbl - 9).otherwise(dbl))
        }))
  }

  /** Luhn-valid payment-card predicate: plausible card length (13-19
    * digits) AND checksum ≡ 0 (mod 10). Matches Spark's builtin
    * `luhn_check` on the digits (spec-pinned) while exposing the integer
    * sum for the oracle gate.
    */
  def luhnValid(digits: Column): Column =
    length(digits).between(13, 19) && pmod(luhnSum(digits), lit(10)) === 0

  /** Candidate card substrings of `text` (whole matches, in order). */
  def cardCandidates(text: Column): Column =
    regexp_extract_all(text, lit(CardCandidateRegex), lit(0))

  /** Digits-only form of a candidate (space/dash separators stripped). */
  def cardDigits(cand: Column): Column = regexp_replace(cand, "[ -]", "")

  /** Redact Luhn-valid card numbers: fold the VALIDATED candidates through
    * a literal `replace` — only substrings that actually checksum as card
    * numbers are touched, so order ids and timestamps survive. Pure
    * higher-order Column chain, map-side only.
    */
  def scrubCards(text: Column): Column =
    aggregate(
      filter(cardCandidates(text), c => luhnValid(cardDigits(c))),
      text,
      (acc, c) => replace(acc, c, lit("<CARD>")))

  /** Distinct character n-gram shingles — the near-dup blocking unit for
    * short texts where word shingles are too coarse. `sequence` +
    * `transform`(substring) + `array_distinct`, all built-ins.
    */
  def charShingles(text: Column, n: Int): Column =
    // guard: sequence(1, 0) would DESCEND in Spark, so short texts get an
    // explicit empty array
    when(length(text) >= n,
      array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Word n-gram shingles (distinct), the dedup unit.
    *
    * Built as a `zip_with` chain over shifted copies of the token array —
    * NOT as `transform(sequence(...), i => slice(toks, i, n))`: lambda
    * bodies get no subexpression elimination, so the slice form re-splits
    * the text once per shingle index (O(tokens²) per document — measured
    * as the dominant cost of MinHash at sf0.1). Here every argument is
    * evaluated once per row; the chain is O(n × tokens).
    */
  def wordShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.WordShingles(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), n))

  /** HOF reference formulation of [[wordShingles]] (kept as the semantic
    * spec the native expression is tested against — three interpreted
    * lambda passes, so not the hot-path form).
    */
  def wordShinglesHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    // zip_with pads the shorter side with null; concat propagates the null
    // so incomplete trailing shingles drop in the filter
    val chained = (2 to n).foldLeft(toks) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j), size(toks)),
        (a, b) => concat(a, lit(" "), b))
    }
    array_distinct(filter(chained, x => x.isNotNull))
  }

  /** Word n-gram shingles with positions preserved (NOT deduplicated):
    * one element per starting token, `len(tokens) - n + 1` of them. The
    * unit for duplicate-SPAN accounting ([[graft.operators.CorpusOps.dupSpans]]),
    * where a gram repeated inside one document must count once per
    * occurrence. Same O(n × tokens) zip_with chain as [[wordShinglesHof]].
    */
  def wordShinglesAll(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val chained = (2 to n).foldLeft(toks) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j), size(toks)),
        (a, b) => concat(a, lit(" "), b))
    }
    filter(chained, x => x.isNotNull)
  }

  /** Deterministic per-token value used by the SQL-expressible fingerprint:
    * mixes length with first/last character codes. Chosen to be exactly
    * reproducible in any ANSI engine (for the DuckDB oracle).
    */
  private def tokenValue(t: Column): Column =
    length(t) * lit(131) + ascii(substring(t, 1, 1)) * lit(7) +
      ascii(substring(t, -1, 1))

  val FingerprintMod = 1000000007L

  /** Order-sensitive document fingerprint: position-weighted token-value
    * sum mod a prime. Commutative integer addition ⇒ identical under any
    * aggregation order (safe for distributed execution AND for the oracle).
    */
  def docFingerprint(text: Column): Column = {
    val terms = transform(tokens(text),
      (t, i) => ((i + lit(1)).cast(LongType) * lit(1000003L)
        * tokenValue(t).cast(LongType)) % FingerprintMod)
    aggregate(terms, lit(0L), (acc, x) => acc + x) % FingerprintMod
  }

  /** LSH band keys: the signature split into `bands` bands of
    * `k/bands` rows, each band hashed to one bucket key. Documents sharing
    * any band key are near-dup candidates.
    */
  def lshBandKeys(signature: Column, k: Int, bands: Int): Column = {
    val rows = k / bands
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(concat_ws(",",
          transform(slice(signature, lit(b * rows + 1), lit(rows)),
            v => v.cast(StringType)))).as("bucket"))
    }: _*)
  }

  /** 64-bit SimHash over the token multiset: per bit, sign of the sum of
    * ±1 votes from each token's xxhash64 bit.
    */
  def simhash64(text: Column): Column = {
    val toks = tokens(text)
    (0 until 64).map { b =>
      val vote = aggregate(toks, lit(0L),
        (acc, t) => acc + shiftright(xxhash64(t), b)
          .bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, x) => a.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit sketches. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // --- language ID (n-gram/stopword heuristic) ---------------------------

  /** Tiny public stopword profiles. Order is the deterministic tie-break
    * (first profile wins on equal score).
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "du", "est", "dans"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "人", "这", "他"))

  /** Number of tokens of `text` inside `words` (with multiplicity). */
  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(tokens(text), t => array_contains(set, t)))
  }

  /** Heuristic language: argmax of profile scores, ties broken by profile
    * order. Emits the winning language code.
    */
  def langIdHeuristic(text: Column): Column = {
    val scored = LangProfiles.map { case (lang, words) =>
      (lang, stopwordHits(text, words))
    }
    // strict > keeps the earlier profile on ties: deterministic
    scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
          when(score > bestScore, score).otherwise(bestScore))
    }._1
  }

  // --- quality features ---------------------------------------------------

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    regexp_count(text, lit("[\\.,;:!\\?'\"()\\[\\]{}-]"))
}
