package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Document-curation transforms a pretraining pipeline applies AFTER
  * quality scoring and BEFORE training: PII redaction and C4-style
  * line/document filtering (Raffel et al. 2020 §2.2 — public
  * methodology). All pure `functions._` column expressions — codegen'd,
  * no UDFs, no shuffle; every regex is written in the RE2-compatible
  * subset (no backrefs, no lookaround) so the DuckDB oracle replays the
  * exact same patterns. */
object Curation {

  // RE2-compatible PII patterns. Kept deliberately simple and anchored on
  // \b — a curation redactor wants predictable, auditable matches, not a
  // full RFC parser.
  final val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  final val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  final val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII redaction with SEQUENTIAL semantics: emails are replaced first,
    * then IPs are counted+replaced on the email-redacted text, then
    * phones on the IP-redacted text. Counting each pattern on the
    * previous step's output (not the original) is what makes the counts
    * well-defined when patterns could overlap (an IP inside an email's
    * host is the email's, not an IP) — and it is exactly replayable as a
    * chain of regexp_replace/extract_all calls in the oracle.
    *
    * Returns struct(redacted, n_email, n_ip, n_phone). */
  def redactPii(text: Column): Column = {
    // each intermediate redaction is LET-BOUND (ExprUtils.bind): as plain
    // Column vals, t1 was inlined into nIp AND t2 (and t2 into nPhone AND
    // t3), so the email regex ran 3× and the IP regex 2× per row
    import graft.functions.ExprUtils.bind
    bind(regexp_replace(text, EmailRe, "<EMAIL>")) { t1 =>
      bind(regexp_replace(t1, Ipv4Re, "<IP>")) { t2 =>
        struct(
          regexp_replace(t2, PhoneRe, "<PHONE>").as("redacted"),
          regexp_count(text, lit(EmailRe)).as("n_email"),
          regexp_count(t1, lit(Ipv4Re)).as("n_ip"),
          regexp_count(t2, lit(PhoneRe)).as("n_phone"))
      }
    }
  }

  /** A C4 "retained line": ends in terminal punctuation and carries at
    * least `minWords` whitespace-delimited words (Raffel et al. §2.2,
    * rules 1–2). */
  private def keepLine(l: Column, minWords: Int): Column =
    l.rlike("[.!?\"]$") &&
      size(array_remove(split(l, "\\s+"), "")) >= minWords

  /** C4 line-level cleaning + document-level keep decision, one struct:
    *
    *   - `clean_text`: only the retained lines, newline-joined
    *   - `n_kept` / `n_total`: retained / original line counts
    *   - `keep_doc`: ≥ `minSentences` terminal punctuation marks in the
    *     cleaned text, AND no '{' (code page), AND no "lorem ipsum"
    *     (placeholder page) anywhere in the ORIGINAL text — the document
    *     drops are judged pre-cleaning, as C4 does
    *
    * Sentence counting is the standard terminal-punct-count
    * approximation; exact integers throughout, so the oracle replays it
    * with the same list/regex functions. */
  def c4Clean(text: Column, minWords: Int = 5, minSentences: Int = 3): Column = {
    // the whole chain is LET-BOUND (ExprUtils.bind): `text` is often an
    // expensive synthesized expression (d_c4_filter builds the line
    // structure inline) and was re-evaluated for lines + the two document
    // drops; `lines`/`kept`/`cleanText` were each inlined into every
    // consumer (kept 2×, lines 2×, cleanText 3×), multiplying the line
    // split and the per-line keep predicate per output field
    import graft.functions.ExprUtils.bind
    bind(text) { t =>
      bind(TextAnalysis.textLines(t)) { lines =>
        bind(filter(lines, l => keepLine(l, minWords))) { kept =>
          bind(array_join(kept, "\n")) { cleanText =>
            val nSentences =
              length(cleanText) - length(regexp_replace(cleanText, "[.!?]", ""))
            val keepDoc = nSentences >= minSentences &&
              !t.contains("{") && !lower(t).contains("lorem ipsum")
            struct(cleanText.as("clean_text"), size(kept).as("n_kept"),
              size(lines).as("n_total"), keepDoc.as("keep_doc"))
          }
        }
      }
    }
  }
}
