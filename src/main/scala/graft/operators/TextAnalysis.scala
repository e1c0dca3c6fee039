package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.ExprUtils.bind

/** Text-analysis columns for web-text pipelines: language ID, quality
  * scoring, token counting, fingerprinting. All pure `functions._`
  * expressions — codegen'd, no UDFs, fully pushdown-transparent. */
object TextAnalysis {

  /** Whitespace token count (non-empty runs of non-whitespace chars —
    * tabs/newlines separate tokens too, matching real web text). */
  def tokenCount(text: Column): Column =
    size(array_remove(split(text, "\\s+"), ""))

  /** BPE-ish subword count estimate: word tokens + extra splits at
    * letter/digit and case boundaries (a cheap, deterministic proxy for a
    * real tokenizer's token count — enough for length filtering). */
  def subwordCountEstimate(text: Column): Column =
    size(array_remove(split(text,
      "\\s+|(?<=\\p{Ll})(?=\\p{Lu})|(?<=\\p{L})(?=\\p{N})|(?<=\\p{N})(?=\\p{L})"), ""))

  /** Portable BPE-ish subword estimate: whitespace tokens + case/digit
    * boundary count via NON-OVERLAPPING two-char matches — Java regex and
    * RE2 share the left-to-right non-overlapping scan for these patterns,
    * so a DuckDB oracle replays it exactly. (The lookaround variant
    * [[subwordCountEstimate]] counts overlapping boundaries too but RE2
    * has no lookarounds — spec-only.) */
  def subwordCountPortable(text: Column): Column =
    tokenCount(text).cast("long") +
      regexp_count(text, lit("[a-z][A-Z]|[A-Za-z][0-9]|[0-9][A-Za-z]"))

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double")
        / length(text).cast("double"))
      .otherwise(lit(0.0))

  /** Ratio of whitespace-delimited tokens that are in the stopword list. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    bind(Dedup.tokens(text)) { toks =>
      when(size(toks) > 0,
        size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
          .cast("double") / size(toks).cast("double"))
        .otherwise(lit(0.0))
    }

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on", "with")

  /** Composite quality score from PRE-COMPUTED stats columns — use this on
    * hot paths so tokenization runs once: materialize (tokenCount,
    * punctRatio, stopwordRatio) behind a barrier and derive the score from
    * them (CollapseProject would otherwise inline the regex splits into
    * every consumer — the d_quality query paid 52 s for that in round 1). */
  def qualityScoreFromStats(nTok: Column, praw: Column, sraw: Column): Column = {
    val lenScore = when(nTok.between(5, 10000), lit(0.4)).otherwise(lit(0.0))
    val punctScore = when(praw <= 0.2, lit(0.3)).otherwise(lit(0.0))
    val stopScore = when(sraw >= 0.05, lit(0.3)).otherwise(lit(0.0))
    round(lenScore + punctScore + stopScore, 1)
  }

  /** Per-language marker stopwords for the n-gram/stopword language-ID
    * heuristic. Deterministic and tiny by design. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "es", "y"),
    "pl" -> Seq("i", "w", "z", "na", "jest"))

  /** Language guess: the language whose marker set has the most hits among
    * the text's tokens; ties and zero-hits resolve to "und" then
    * lexicographic order (deterministic). */
  def langGuess(text: Column): Column =
    langGuessFromTokens(Dedup.tokens(text))

  /** As langGuess, over a pre-tokenized array column (materialize it behind
    * a cache/checkpoint barrier on hot paths — the 5 marker intersections
    * would otherwise each re-run tokenization after CollapseProject). */
  def langGuessFromTokens(toks: Column): Column = bind(array_distinct(toks)) { dt =>
    // the distinct token set is bound once — the 5 marker intersections
    // each re-computed array_distinct over the full token array before
    val scored = LangMarkers.map { case (lang, markers) =>
      struct(size(array_intersect(dt,
        array(markers.map(lit): _*))).as("hits"), lit(lang).as("lang"))
    }
    // argmax by (hits desc, lang asc): sort the struct array and take last
    val best = element_at(array_sort(array(scored: _*),
      (a, b) => when(a("hits") =!= b("hits"), a("hits") - b("hits"))
        .otherwise(when(a("lang") < b("lang"), lit(1)).when(a("lang") > b("lang"), lit(-1)).otherwise(lit(0)))), -1)
    when(best("hits") > 0, best("lang")).otherwise(lit("und"))
  }

  // ------------------------------------------------------------------
  // Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
  // Models: ...Gopher", Table A1 — public methodology). All are narrow
  // per-document expressions: single pass over the document's own
  // lines/tokens, no shuffle, exact integer outputs (permyriad via floor
  // division) so the DuckDB oracle reproduces them bit-for-bit.
  // ------------------------------------------------------------------

  /** Non-empty lines of a document (the unit for duplicate-line signals). */
  def textLines(text: Column): Column =
    array_remove(split(text, "\n"), "")

  /** Non-empty paragraphs: blank-line-separated blocks. */
  def textParagraphs(text: Column): Column =
    array_remove(split(text, "\n{2,}"), "")

  /** Non-overlapping `width`-token chunks of a token array, joined with
    * single spaces — a deterministic synthetic "line" structure for
    * corpora whose text carries no newlines (the documents fixture). */
  def tokenChunks(toks: Column, width: Int): Column =
    bind(toks) { tk => // callers may pass a full tokenization TREE; bound,
                       // it is evaluated once instead of once per chunk
      when(size(tk) > 0,
        transform(
          sequence(lit(1), ((size(tk) + lit(width - 1)) / lit(width)).cast("int")),
          i => concat_ws(" ", slice(tk, (i - lit(1)) * lit(width) + lit(1), lit(width)))))
        .otherwise(array().cast("array<string>"))
    }

  /** Overlapping n-token word n-grams WITH multiplicity — repetition
    * signals measure duplicates, so this deliberately does NOT dedupe
    * (unlike [[Dedup.shingles]], whose set semantics feed Jaccard). */
  def ngramsAll(toks: Column, n: Int): Column =
    bind(toks) { tk => // same per-element re-evaluation guard as tokenChunks
      when(size(tk) >= n,
        transform(sequence(lit(1), size(tk) - (n - 1)),
          i => concat_ws(" ", slice(tk, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }

  /** ⌊10000·num/den⌋ as a long, 0 when den = 0 — the exact-integer
    * permyriad encoding shared with the DuckDB oracle (`(10000*num)//den`).
    * The subtraction-of-remainder form keeps the final `/` exact (the
    * numerator is divisible by den, quotient ≤ 10000·n — double-safe). */
  def permyriad(num: Column, den: Column): Column = scaledRatio(num, den, 10000L)

  /** Fraction of unit occurrences that are repeats beyond the first
    * (1 − distinct/total), permyriad. Gopher's "duplicate line fraction" /
    * "duplicate paragraph fraction" with `units` = lines / paragraphs. */
  def dupUnitFracE4(units: Column): Column =
    bind(units)(u => permyriad(size(u) - size(array_distinct(u)), size(u)))

  /** Fraction of CHARACTERS sitting in repeat occurrences of a duplicated
    * unit (chars of all occurrences minus chars of the distinct set, over
    * total unit chars), permyriad — Gopher's "duplicate line character
    * fraction". */
  def dupUnitCharFracE4(units: Column): Column = {
    def chars(arr: Column) =
      aggregate(arr, lit(0L), (acc, u) => acc + length(u).cast("long"))
    // unit array and total char count bound once: the unbound form walked
    // `units` three times (re-BUILDING it each time when the caller passed
    // a chunking expression)
    bind(units)(u => bind(chars(u))(cu =>
      permyriad(cu - chars(array_distinct(u)), cu)))
  }

  /** (count, value) of the most frequent element, ties → lexicographically
    * smallest. Single O(n log n) pass: sort, then one run-length aggregate
    * with a scalar struct state — no per-distinct-value rescan (the naive
    * count-per-element form is O(n²) per doc, fatal on book-sized docs). */
  def topRunStats(arr: Column): Column = {
    val stepped = aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit("").as("bestv")),
      (acc, x) => {
        // ascending order ⇒ strict > keeps the FIRST (lex-smallest) max
        val run = when(x === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          when(run > acc("best"), run).otherwise(acc("best")).as("best"),
          when(run > acc("best"), x).otherwise(acc("bestv")).as("bestv"))
      })
    bind(stepped)(st => struct(st("best").as("cnt"), st("bestv").as("value")))
  }

  /** Gopher's "fraction of characters contained within the most
    * frequently-occurring n-gram": top-ngram occurrences × its character
    * length (single-space-joined), over the document's total characters,
    * permyriad. Overlapping occurrences may over-count past 10000 by
    * design — it is a repetition signal, not a partition. */
  def topNgramCharFracE4(toks: Column, n: Int, textLen: Column): Column =
    // bound: `top` is a full sort+run-length aggregate; referenced twice
    // unbound, the whole O(n log n) pass ran twice per row
    bind(topRunStats(ngramsAll(toks, n))) { top =>
      permyriad(top("cnt") * length(top("value")).cast("long"), textLen)
    }

  /** Gopher symbol-to-word ratio: occurrences of '#', '…' and '...' per
    * word token, permyriad. The '…' is counted before '...' never
    * double-counts because the counts are independent substring counts of
    * DIFFERENT patterns ('...' count uses the text with '…' intact). */
  def symbolWordRatioE4(text: Column, nTokens: Column): Column = {
    val hashes = length(text) - length(regexp_replace(text, "#", ""))
    val ellipsisChar = length(text) - length(regexp_replace(text, "…", ""))
    val threeDots =
      (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / lit(3)
    permyriad((hashes + ellipsisChar + threeDots).cast("long"), nTokens)
  }

  /** ⌊scale·num/den⌋ as a long, 0 when den = 0 — the general exact-integer
    * scaled ratio behind [[permyriad]] (scale 10⁴) and the ×100 mean word
    * length. Same subtraction-of-remainder exactness argument. */
  def scaledRatio(num: Column, den: Column, scale: Long): Column =
    when(den > 0,
      ((lit(scale) * num - pmod(lit(scale) * num, den)) / den).cast("long"))
      .otherwise(lit(0L))

  /** Gopher mean word length ×100 (exact integer): ⌊100·Σlen(token)/n⌋.
    * Gopher drops documents whose mean is outside [3, 10]. */
  def meanWordLenE2(toks: Column): Column =
    scaledRatio(aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long")),
      size(toks).cast("long"), 100L)

  /** Gopher "fraction of words with at least one alphabetic character",
    * permyriad (the rule drops docs below 0.8 — pure-number/symbol spam). */
  def alphaWordFracE4(toks: Column): Column =
    permyriad(size(filter(toks, t => t.rlike("[a-z]"))), size(toks))

  /** Gopher "fraction of lines starting with a bullet point", permyriad. */
  def bulletLineFracE4(lines: Column): Column =
    bind(lines)(l => permyriad(size(filter(l, x => x.rlike("^(•|- )"))), size(l)))

  /** Gopher "fraction of lines ending with an ellipsis", permyriad. */
  def ellipsisLineFracE4(lines: Column): Column =
    bind(lines)(l => permyriad(size(filter(l, x => x.rlike("(…|\\.\\.\\.)$"))), size(l)))

  /** 64-bit document fingerprint: polynomial rolling hash over the token
    * sequence (order-sensitive, whitespace-normalization-insensitive —
    * the "document fingerprinting" primitive). */
  def fingerprint64(text: Column): Column =
    aggregate(Dedup.tokens(text), lit(1469598103934665603L),
      (acc, t) => xxhash64(acc, t))

  /** Oracle-portable rolling fingerprint: md5 chained over the token
    * sequence (hex-string state). Same order-sensitivity contract as
    * fingerprint64; reproducible in DuckDB via list_reduce + md5. */
  def fingerprintChain(text: Column): Column =
    aggregate(Dedup.tokens(text), lit("graft"),
      (acc, t) => md5(to_binary(concat(acc, lit("|"), t), lit("utf-8"))))
}
