package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text cleaning + analysis functions.
  *
  * Part 1 re-expresses the reference's wrangling kernel
  * (/root/reference/ProjectCodeUsed/data.py:89-118 street normalization,
  * /root/reference/Lesson6Quizes/tags.py:21-38 key classification,
  * /root/reference/Lesson6Quizes/audit.py:18 street-type extraction) as
  * pure column expressions — every one stays inside whole-stage codegen;
  * no UDFs.
  *
  * Part 2 is the large-scale training-data-pipeline surface: language
  * ID (stopword-overlap heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting — all
  * built-in-function compositions that distribute trivially (per-row,
  * no shuffle).
  */
object TextFunctions {

  // ---------------------------------------------------------------------
  // Part 1 — the reference's cleaning kernel
  // ---------------------------------------------------------------------

  /** Street-suffix normalization map (behavior spec from
    * /root/reference/ProjectCodeUsed/data.py:98-108 — incl. the three
    * whole-suffix one-offs Arthur/Wellesley/Main). */
  val streetMapping: Map[String, String] = Map(
    "St" -> "Street", "St." -> "Street",
    "Rd" -> "Road", "Rd." -> "Road",
    "Ave" -> "Avenue",
    "Blvd" -> "Boulevard", "Blvd." -> "Boulevard",
    "Arthur" -> "Arthur St",
    "Wellesley" -> "Wellesley Avenue",
    "Main" -> "Main Avenue")

  /** `update_name` (data.py:110-118) on one value, for ingest shaping
    * and the repair kernel alike: split like Python's `name.split()`
    * (whitespace of every kind, tabs and newlines too), replace the last
    * token iff it is a `streetMapping` key, else return `name` as is. */
  def updateName(name: String): String = {
    val parts = name.trim.split("\\s+")
    streetMapping.get(parts.last) match {
      case Some(rep) => (parts.init :+ rep).mkString(" ")
      case None => name
    }
  }

  /** Last whitespace token of a street name — the reference's
    * `street_type_re = r'\b\S+\.?$'` (audit.py:18). On a
    * whitespace-split name the regex always selects the final token. */
  def streetType(name: Column): Column =
    element_at(split(trim(name), "\\s+"), -1)

  /** `update_name` (data.py:110-118): replace the LAST whitespace token
    * iff it is a key of `mapping`; otherwise return the name unchanged.
    * Expressed with split / slice / concat_ws + a literal map lookup —
    * no UDF, so it survives codegen and is usable in SQL.
    */
  def normalizeStreet(name: Column, mapping: Map[String, String] = streetMapping): Column = {
    val parts = split(trim(name), "\\s+")
    val last = element_at(parts, -1)
    val replaced = element_at(typedLit(mapping), last)
    val head = slice(parts, lit(1), size(parts) - lit(1))
    when(replaced.isNotNull,
      concat_ws(" ", concat(head, array(replaced))))
      .otherwise(name)
  }

  /** Street names whose type is not in the expected suffix list —
    * the audit predicate (audit.py:33-38). */
  val expectedStreetTypes: Seq[String] = Seq(
    "Street", "Avenue", "Boulevard", "Drive", "Court", "Place", "Square",
    "Lane", "Road", "Trail", "Parkway", "Commons")

  def isUnexpectedStreetType(name: Column): Column =
    !streetType(name).isin(expectedStreetTypes: _*)

  /** Tag-key classifier (tags.py:26-38). Evaluation order matters and is
    * preserved: problemchars (search anywhere) → lower_colon (anchored)
    * → lower (anchored) → other. */
  def keyType(key: Column): Column =
    when(key.rlike("[=\\+/&<>;'\"\\?%#$@,\\. \\t\\r\\n]"), "problemchars")
      .when(key.rlike("^([a-z]|_)*:([a-z]|_)*$"), "lower_colon")
      .when(key.rlike("^([a-z]|_)*$"), "lower")
      .otherwise("other")

  // ---------------------------------------------------------------------
  // Part 2 — training-data pipeline text analysis
  // ---------------------------------------------------------------------

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish pre-tokenizer count: letter-runs, digit-runs, and single
    * non-space symbols (a GPT-2-style pretoken split, approximated with
    * a regex). Pattern is RE2-safe (no lookarounds) so the same regex
    * runs in Java and in the DuckDB oracle. */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  /** Tiny per-language stopword lists for the n-gram/stopword language
    * ID heuristic. Deliberately small: the point is the distributed
    * shape (per-row set-overlap scoring), not lexicographic quality. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "es", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "他", "这", "中"))

  /** Fraction of tokens that are stopwords of `lang`. */
  def stopwordRatio(text: Column, lang: String): Column = {
    val sw = typedLit(stopwords(lang))
    size(filter(tokens(text), t => array_contains(sw, lower(t)))) /
      greatest(tokenCount(text), lit(1)).cast("double")
  }

  /** Language-ID: argmax over per-language stopword ratios; "und"
    * (undetermined) when no list scores > 0. Native one-pass expression
    * (plans.LanguageIdExpr) — the Column form ([[languageIdSpec]])
    * re-tokenizes the text once per language through interpreted HOFs;
    * value parity pinned in TextFunctionsSpec. */
  def languageId(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // coalesce first: the Column spec form maps NULL text to 'und'
    // (null scores → best.score > 0 is null → otherwise branch), and a
    // bare UnaryExpression would null-propagate instead
    ColumnBridge.column(graft.plans.LanguageIdExpr(
      ColumnBridge.expression(coalesce(text, lit(""))),
      stopwords.view.mapValues(_.toSeq).toMap))
  }

  /** Column-form value spec for [[languageId]]: builds a (score, lang)
    * struct array and takes the max. */
  def languageIdSpec(text: Column): Column = {
    val scored = stopwords.keys.toSeq.sorted.map { lang =>
      struct(stopwordRatio(text, lang).as("score"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))) /
      greatest(length(text), lit(1)).cast("double")

  /** Mean whitespace-token length. */
  def meanTokenLen(text: Column): Column =
    (length(regexp_replace(text, "\\s+", ""))) /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Composite quality score in [0,1]: penalizes very short docs, high
    * punctuation density, and degenerate token lengths — the standard
    * cheap pre-filter shape for web-scale corpus cleaning. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 50.0, lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(text) * 5.0, lit(0.0))
    val tokLen = meanTokenLen(text)
    val tokScore = when(tokLen.between(2.0, 12.0), 1.0).otherwise(0.3)
    round(lenScore * 0.4 + punctScore * 0.3 + tokScore * 0.3, 4)
  }

  /** Order-insensitive content fingerprint: sha256 over the sorted token
    * multiset. Equal iff same bag of words — the cheap "shuffled
    * near-dup" catcher. */
  def sortedTokenFingerprint(text: Column): Column =
    sha2(concat_ws(" ", sort_array(tokens(text))), 256)

  /** Rolling (chained) hash over tokens — an order-SENSITIVE
    * fingerprint, computed with `aggregate` over the token array (no
    * UDF). Each step hashes (accumulator, token) together, so token
    * order changes the result. An xxhash64 chain instead of the classic
    * base-31 polynomial: the polynomial's deliberate Long overflow
    * throws under Spark 4's default ANSI mode. */
  def rollingHash(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => xxhash64(acc, t))

  /** Normalized text for exact dedup: lowercase, collapse whitespace,
    * trim. */
  def normalizeForDedup(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Unicode NFC normalization ([[graft.plans.NfcNormalizeExpr]] —
    * native, zero-copy for already-normal text): composes combining
    * sequences so byte-compare dedup/indexing sees through encoding
    * differences. */
  def nfc(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.NfcNormalizeExpr(
      ColumnBridge.expression(text)))
  }

  /** Crawl-text cleanup: NFC-compose, strip C0/DEL control characters
    * (keeping \t \n \r), collapse multi-space runs, trim. Exactly
    * mirrorable in SQL engines (nfc_normalize + two regexp_replace),
    * which is what the tx10 oracle does. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfc(text),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      " {2,}", " "))

  // ---------------------------------------------------------------------
  // Part 3 — repetition stats & document quality rules (the published
  // Gopher/MassiveText + C4 web-filtering family). All pure column
  // expressions — per-document metrics evaluate inside the scan with no
  // shuffle and no UDF. The run-length scans use `aggregate` over a
  // sorted array (interpreted HOF, like [[rollingHash]]); per-doc
  // arrays are line/n-gram sized, so the interpretation cost is
  // bounded by document length, not corpus size.
  // ---------------------------------------------------------------------

  /** Non-empty lines of a document. */
  def docLines(text: Column): Column =
    filter(split(text, "\n"), l => length(trim(l)) > 0)

  private def nonSpaceLen(c: Column): Column =
    length(regexp_replace(c, "\\s", ""))

  /** Fraction of non-empty lines that are repeats of another line
    * (1 - distinct/total) — the dup-line repetition gauge. 0 for
    * empty/whitespace-only docs. */
  def dupLineFraction(text: Column): Column = {
    val ls = docLines(text)
    when(size(ls) === 0, 0.0).otherwise(
      round(lit(1.0) - size(array_distinct(ls)).cast("double") /
        greatest(size(ls), lit(1)).cast("double"), 4))
  }

  /** Fraction of (non-space) characters inside lines that occur more
    * than once, counting every occurrence — one run-length scan over
    * the sorted line array. */
  def dupLineCharFraction(text: Column): Column = {
    val sorted = sort_array(docLines(text))
    val dup = aggregate(sorted,
      struct(lit("").as("prev"), lit(1).as("run"), lit(0L).as("dup")),
      (st, l) => {
        val cl = nonSpaceLen(l).cast("long")
        val same = st.getField("prev") === l
        struct(l.as("prev"),
          when(same, st.getField("run") + 1).otherwise(lit(1)).as("run"),
          (st.getField("dup") + when(same,
            // a run's 2nd member retro-counts the 1st occurrence too
            when(st.getField("run") === 1, cl * 2).otherwise(cl))
            .otherwise(lit(0L))).as("dup"))
      },
      st => st.getField("dup"))
    round(least(dup.cast("double") /
      greatest(nonSpaceLen(text), lit(1)).cast("double"), lit(1.0)), 4)
  }

  /** Word n-grams WITH repeats (unlike [[graft.operators.Dedup.shingles]]'
    * distinct sets — repetition metrics need the multiplicity). */
  private def wordNgrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))
  }

  /** Fraction of non-space characters covered by the most frequent
    * word n-gram (all its occurrences) — Gopher's top-2/3/4-gram
    * repetition gauge. Capped at 1 (overlapping occurrences can
    * over-count). */
  def topNgramCharFraction(text: Column, n: Int): Column = {
    val sorted = sort_array(wordNgrams(text, n))
    val best = aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (st, g) => {
        val cl = nonSpaceLen(g).cast("long")
        val run = when(st.getField("prev") === g, st.getField("run") + cl)
          .otherwise(cl)
        struct(g.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    round(least(best.cast("double") /
      greatest(nonSpaceLen(text), lit(1)).cast("double"), lit(1.0)), 4)
  }

  /** Fraction of non-space characters inside word n-grams that occur
    * more than once, every occurrence counted — Gopher's dup-5..10-gram
    * gauge. Capped at 1 (n-gram occurrences overlap). */
  def dupNgramCharFraction(text: Column, n: Int): Column = {
    val sorted = sort_array(wordNgrams(text, n))
    val dup = aggregate(sorted,
      struct(lit("").as("prev"), lit(1).as("run"), lit(0L).as("dup")),
      (st, g) => {
        val cl = nonSpaceLen(g).cast("long")
        val same = st.getField("prev") === g
        struct(g.as("prev"),
          when(same, st.getField("run") + 1).otherwise(lit(1)).as("run"),
          (st.getField("dup") + when(same,
            when(st.getField("run") === 1, cl * 2).otherwise(cl))
            .otherwise(lit(0L))).as("dup"))
      },
      st => st.getField("dup"))
    round(least(dup.cast("double") /
      greatest(nonSpaceLen(text), lit(1)).cast("double"), lit(1.0)), 4)
  }

  /** The four repetition gauges as ONE native pass —
    * struct(dup_line_frac, dup_line_char_frac, top_ngram_char_frac,
    * dup_ngram_char_frac), with [[dupLineFraction]] /
    * [[dupLineCharFraction]] / [[topNgramCharFraction]] /
    * [[dupNgramCharFraction]] as the Column-form value specs (each
    * re-derives lines/tokens through interpreted sorts; field-for-field
    * parity pinned in TextFunctionsSpec). */
  def repetitionStats(text: Column, topN: Int = 2, dupN: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.RepetitionStatsExpr(
      ColumnBridge.expression(text), topN, dupN))
  }

  /** The Gopher/MassiveText document-quality rules as one struct of
    * 0/1 flags plus the overall `pass` conjunction:
    *
    *  - `word_count_ok`: 50 ≤ words ≤ 100,000
    *  - `mean_word_len_ok`: mean token length in [3, 10]
    *  - `symbol_ok`: (# chars + "..." occurrences) / words ≤ 0.1
    *  - `bullet_ok`: ≤ 90% of lines start with a bullet (-, *, •)
    *  - `ellipsis_ok`: ≤ 30% of lines end with "..." / "…"
    *  - `alpha_word_ok`: ≥ 80% of words contain an alphabetic char
    *  - `stopword_ok`: ≥ 2 distinct English stopwords present
    *
    * Flags are ints (not booleans) so the struct round-trips through
    * parquet/DuckDB oracles without dialect boolean quirks.
    *
    * Native one-pass expression (plans.GopherStatsExpr) — the Column
    * form ([[gopherFlagsSpec]]) re-tokenizes the text ~6× through
    * interpreted HOFs; field-for-field parity pinned in
    * TextFunctionsSpec. Null text → null struct (the spec form yields
    * a struct of null fields; both fail a `pass = 1` filter). */
  def gopherFlags(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.GopherStatsExpr(
      ColumnBridge.expression(text), stopwords("en")))
  }

  /** Column-form value spec for [[gopherFlags]]. */
  def gopherFlagsSpec(text: Column): Column = {
    val toks = tokens(text)
    val n = greatest(size(toks), lit(1)).cast("double")
    val ls = docLines(text)
    val nl = greatest(size(ls), lit(1)).cast("double")
    val wordCountOk = size(toks).between(50, 100000)
    val meanOk = meanTokenLen(text).between(3.0, 10.0)
    val nHash = (length(text) - length(regexp_replace(text, "#", ""))).cast("double")
    val nEllipsis = size(regexp_extract_all(text, lit("\\.\\.\\.|…"), lit(0))).cast("double")
    val symbolOk = (nHash + nEllipsis) / n <= 0.1
    val bulletOk =
      size(filter(ls, l => trim(l).rlike("^[-*•]"))).cast("double") / nl <= 0.9
    val ellipsisOk =
      size(filter(ls, l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("double") / nl <= 0.3
    val alphaOk =
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / n >= 0.8
    val stopwordOk =
      size(array_intersect(transform(toks, t => lower(t)),
        typedLit(stopwords("en")))) >= 2
    val flags = Seq(
      "word_count_ok" -> wordCountOk, "mean_word_len_ok" -> meanOk,
      "symbol_ok" -> symbolOk, "bullet_ok" -> bulletOk,
      "ellipsis_ok" -> ellipsisOk, "alpha_word_ok" -> alphaOk,
      "stopword_ok" -> stopwordOk)
    struct(
      flags.map { case (name, c) => c.cast("int").as(name) } :+
        flags.map(_._2).reduce(_ && _).cast("int").as("pass"): _*)
  }

  /** Keep only documents passing every Gopher rule — the filter form
    * of [[gopherFlags]]. */
  def gopherFilter(df: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame =
    df.filter(gopherFlags(col(textCol)).getField("pass") === 1)

  // ---------------------------------------------------------------------
  // Part 4 — PII redaction (training corpora must not memorize
  // addresses/credentials; the standard scrub pass before tokenization).
  // Chained regexp_replace — per-row, codegen'd, no shuffle. Patterns
  // are deliberately conservative (precision over recall): a scrub
  // pass that mangles ordinary prose does more harm at 100 TB than one
  // that misses an exotic format.
  // ---------------------------------------------------------------------

  /** Redaction patterns in APPLICATION ORDER (IP before phone so
    * dotted quads never half-match the phone pattern; SSN and phone
    * shapes are disjoint: 3-2-4 vs 3-3-4). */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b", "<IP>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<ID>"),
    // no leading \b: a "(" opener has no word boundary against a
    // preceding space, so an anchored pattern would skip "(555) ..."
    ("phone", "(\\+?\\d{1,2}[-. ])?(\\(\\d{3}\\)[-. ]?|\\d{3}[-. ])\\d{3}[-. ]\\d{4}\\b",
      "<PHONE>"))

  /** Text with every PII match replaced by its category token. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Per-category PII match counts as a struct (n_email, n_ip, n_ssn,
    * n_phone) — the audit side of the scrub: at corpus scale these
    * aggregate to the leak-rate dashboard. Counts are sequential (each
    * category counted on text already scrubbed of earlier categories,
    * matching [[redactPii]]'s application order). */
  def piiStats(text: Column): Column = {
    val (_, counts) = piiPatterns.foldLeft((text, Seq.empty[Column])) {
      case ((c, acc), (name, pat, repl)) =>
        (regexp_replace(c, pat, repl),
          acc :+ size(regexp_extract_all(c, lit(pat), lit(0))).as(s"n_$name"))
    }
    struct(counts: _*)
  }

  // ---------------------------------------------------------------------
  // Part 5 — C4-style web-text cleaning (line-level retention + the
  // document-level drop rules of the published C4 recipe).
  // ---------------------------------------------------------------------

  /** C4 line retention: keep only lines that end in terminal
    * punctuation (optionally close-quoted) AND contain at least three
    * words; rejoin with newlines. Per-row array ops — no shuffle. */
  def c4CleanText(text: Column): Column =
    array_join(filter(docLines(text), l =>
      trim(l).rlike("[.!?][\"']?$") &&
        size(split(trim(l), "\\s+")) >= 3), "\n")

  /** C4 document-level flags over the line-cleaned text, as 0/1 ints
    * (parquet/DuckDB-stable like [[gopherFlags]]):
    *
    *  - `no_lorem`: no "lorem ipsum" placeholder text
    *  - `no_brace`: no "{" (code masquerading as prose)
    *  - `sentences_ok`: ≥ 5 terminal-punctuation marks survive the
    *    line cleaning
    *  - `pass`: all of the above. */
  def c4Flags(text: Column): Column = {
    val noLorem = !lower(text).contains("lorem ipsum")
    val noBrace = !text.contains("{")
    val sentencesOk =
      size(regexp_extract_all(c4CleanText(text), lit("[.!?]"), lit(0))) >= 5
    struct(noLorem.cast("int").as("no_lorem"),
      noBrace.cast("int").as("no_brace"),
      sentencesOk.cast("int").as("sentences_ok"),
      (noLorem && noBrace && sentencesOk).cast("int").as("pass"))
  }

  /** Canonical URL form for URL-level dedup — the crawl pipeline's
    * cheapest dedup tier, upstream of any content hashing (rules +
    * safety rationale: [[graft.plans.UrlCanon]] scaladoc). One fused
    * native pass per row; null propagates. */
  def canonicalUrl(url: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.UrlCanonExpr(ColumnBridge.expression(url)))
  }
}
