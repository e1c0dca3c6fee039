package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.DerivedTables._
import Results.sortedResult

/** Training-data ops: dedup / text / similarity / sampling / curation. */
object CorpusQueries {

  /** Deterministic messy-URL synthesis from (doc_id, source): the
    * documents fixture has no URL column, so both the Spark queries and
    * the DuckDB oracle build the SAME raw string (mixed-case scheme/host,
    * www + deeper subdomains, default and non-default ports, trailing
    * slash, unsorted query with a utm_ tracker, fragment) and
    * canonicalize it independently. */
  private def messyUrl: Column = concat(
    when(col("doc_id") % 3 === 0, lit("HTTPS://"))
      .when(col("doc_id") % 3 === 1, lit("http://"))
      .otherwise(lit("https://")),
    when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
    col("source"), lit(".Example"),
    when(col("doc_id") % 5 === 0, lit(".CO.UK")).otherwise(lit(".COM")),
    when(col("doc_id") % 7 === 0, lit(":443")).otherwise(lit("")),
    lit("/Docs/"), col("doc_id").cast("string"),
    when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
    lit("?utm_source=feed&b="), (col("doc_id") % 3).cast("string"), lit("&a=1"),
    when(col("doc_id") % 2 === 1, lit("#sec2")).otherwise(lit("")))

  /** DuckDB twin of [[messyUrl]]. Interpolated into stripMargin oracle
    * strings, so NO line may start with `|` (a leading `||` would lose
    * its first pipe to the margin stripper) — concatenation operators sit
    * at end-of-line. */
  private val messyUrlSql: String =
    """CASE doc_id % 3 WHEN 0 THEN 'HTTPS://' WHEN 1 THEN 'http://' ELSE 'https://' END ||
      |CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END ||
      |source || '.Example' ||
      |CASE WHEN doc_id % 5 = 0 THEN '.CO.UK' ELSE '.COM' END ||
      |CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
      |'/Docs/' || CAST(doc_id AS VARCHAR) ||
      |CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
      |'?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR) || '&a=1' ||
      |CASE WHEN doc_id % 2 = 1 THEN '#sec2' ELSE '' END""".stripMargin

  /** DuckDB re-implementation of the UrlOps canonicalization recipe (CTE
    * body over a `raw(doc_id, url)` relation) — regexes are ANCHORED so
    * DuckDB's replace-first and Spark's replace-all semantics coincide. */
  private val urlPartsSql: String =
    """parts AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS sch,
      |    regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.\-]*://', ''), '#.*$', '') AS nf
      |  FROM raw
      |), parts2 AS (
      |  SELECT *, regexp_replace(regexp_extract(nf, '^([^/?]*)', 1), '^.*@', '') AS hp,
      |            regexp_replace(nf, '^[^/?]*', '') AS pathq
      |  FROM parts
      |), parts3 AS (
      |  SELECT *,
      |    regexp_replace(lower(regexp_replace(hp, ':[0-9]+$', '')), '\.$', '') AS host,
      |    regexp_extract(hp, ':([0-9]+)$', 1) AS port,
      |    regexp_replace(regexp_replace(pathq, '\?.*$', ''), '/+$', '') AS path,
      |    regexp_extract(nf, '\?(.*)$', 1) AS q
      |  FROM parts2
      |), parts4 AS (
      |  SELECT *,
      |    array_to_string(list_sort(list_filter(string_split(q, '&'),
      |      p -> len(p) > 0 AND NOT (starts_with(lower(p), 'utm_')
      |        OR starts_with(lower(p), 'fbclid') OR starts_with(lower(p), 'gclid')))), '&') AS cq,
      |    CASE WHEN port <> '' AND NOT ((sch = 'http' AND port = '80')
      |      OR (sch = 'https' AND port = '443')) THEN ':' || port ELSE '' END AS cport,
      |    string_split(regexp_replace(lower(regexp_replace(hp, ':[0-9]+$', '')), '\.$', ''), '.') AS hl
      |  FROM parts3
      |), canon AS (
      |  SELECT doc_id,
      |    sch || '://' || host || cport || path ||
      |      CASE WHEN len(cq) > 0 THEN '?' || cq ELSE '' END AS url_canon,
      |    CASE WHEN len(hl) >= 3 AND (hl[-2] || '.' || hl[-1]) IN
      |           ('co.uk', 'org.uk', 'gov.uk', 'ac.uk', 'co.jp', 'com.au', 'com.br')
      |         THEN hl[-3] || '.' || hl[-2] || '.' || hl[-1]
      |         WHEN len(hl) >= 2 THEN hl[-2] || '.' || hl[-1]
      |         ELSE host END AS domain
      |  FROM parts4
      |)""".stripMargin

  /** DuckDB fold of 15 md5 hex chars (from 1-based `start`) into a BIGINT. */
  private def hexFoldSql(expr: String, start: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(" +
      s"regexp_extract_all(substr(md5($expr), $start, 15), '.'), " +
      s"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), (acc, v) -> acc * 16 + v)"

  /** DuckDB twin of Dedup.hash60: fold of the first 15 md5 hex chars. */
  private def hash60Sql(expr: String): String = hexFoldSql(expr, 1)

  /** Shared tokenization CTE body (DuckDB twin of Dedup.tokens on the
    * ASCII-only documents fixture). */
  private val toksCte: String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS tk
      |  FROM documents
      |)""".stripMargin

  /** Exact corpus dedup by text md5: the survivor is the lowest doc_id. */
  private val exactDedupSql: String =
    """SELECT md5(text) AS text_md5, min(doc_id) AS survivor_id, count(*) AS dup_count
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact 3-token-shingle Jaccard pairs at or above `threshold` (the SQL
    * literal) — the full self-join every candidate plan must equal. */
  private def jaccardPairsSql(threshold: String): String =
    s"""WITH $toksCte, sh AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
       |      THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
       |      ELSE [] END) AS sh
       |    FROM toks)
       |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(round((i * 1.0 / (sa.n + sb.n - i)) * 10000.0) AS BIGINT) AS jaccard_e4
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |WHERE i * 1.0 / (sa.n + sb.n - i) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** `documents` as (doc_id, _toks) in doc_id order: one tokenization
    * behind the sort tail's checkpoint, read by the per-document signals
    * projected above it. */
  private def sortedTokens(s: SparkSession, d: String): DataFrame =
    sortedResult(documents(s, d).select(col("doc_id"),
      Dedup.tokens(col("text")).as("_toks")), col("doc_id"))

  /** Full MinHash+LSH oracle: Kirsch–Mitzenmacher lane family (one md5 →
    * two 60-bit halves → 32 lanes) → 16 band buckets → distinct candidate
    * pairs → est-jaccard verify. Mirrors
    * Dedup.minhashLshPairs(signature = Dedup.minhashSignaturePortable) exactly. */
  private val minhashCtes: String = {
    val h1 = hexFoldSql("s", 1)
    val h2 = hexFoldSql("s", 17)
    s"""$toksCte, sh AS (
       |  SELECT doc_id, CASE WHEN len(tk) >= 2
       |    THEN list_distinct(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')))
       |    ELSE [] END AS sh
       |  FROM toks
       |), hp AS (
       |  SELECT doc_id, list_transform(sh, s -> [$h1, $h2 >> 5]) AS hp
       |  FROM sh WHERE len(sh) > 0
       |), sig AS (
       |  SELECT doc_id, list_transform(range(0, 32), i ->
       |    coalesce(list_min(list_transform(hp, p -> (p[1] + i * p[2]) & 1152921504606846975)), 9223372036854775807)) AS sig
       |  FROM hp
       |), banded AS (
       |  SELECT doc_id, sig, b, array_to_string(sig[b*2+1:b*2+2], ',') AS h
       |  FROM sig, unnest(range(0, 16)) AS t(b)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
       |  FROM banded a JOIN banded b ON a.b = b.b AND a.h = b.h AND a.doc_id < b.doc_id
       |), est AS (
       |  SELECT id_a, id_b,
       |    CAST(list_sum(list_transform(range(1, 33), i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS agree
       |  FROM cand
       |)""".stripMargin
  }

  /** Shared by d_decontaminate and d_decontaminate_bloom: the bloom
    * prefilter has no false negatives and its exact verify join removes
    * false positives, so both plans must produce THIS exact result. */
  private val decontaminateOracleSql: String =
    s"""WITH $toksCte, sh AS (
       |  SELECT doc_id, CASE WHEN len(tk) >= 4
       |    THEN list_distinct(list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' ')))
       |    ELSE [] END AS sh
       |  FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(sh) AS s FROM sh
       |), evh AS (
       |  SELECT DISTINCT ${hash60Sql("s")} AS h FROM ex WHERE doc_id % 50 = 0
       |), trh AS (
       |  SELECT doc_id, ${hash60Sql("s")} AS h FROM ex WHERE doc_id % 50 <> 0
       |)
       |SELECT t.doc_id, count(DISTINCT t.h) AS n_shared
       |FROM trh t JOIN evh e ON t.h = e.h
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Duplicate-cluster oracle: the minhash pair pipeline (minhashCtes), then the
    * transitive closure as a recursive CTE (UNION dedup terminates it) and
    * min-reachable-id labels; singletons fall out of the LEFT JOIN. */
  private val dupLabelCtes: String =
    s"""$minhashCtes, pairs AS (
       |  SELECT id_a, id_b FROM est WHERE agree / 32.0 >= 0.1
       |), sym AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs
       |), reach(n, m) AS (
       |  SELECT u, v FROM sym
       |  UNION SELECT r.n, s.v FROM reach r JOIN sym s ON s.u = r.m
       |), labels AS (
       |  SELECT n, least(n, min(m)) AS comp FROM reach GROUP BY n
       |)""".stripMargin

  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("d_html_extract", (s, d) => {
      // input_hint closure: html:binary → extracted text (the reference
      // pipeline's text column is DERIVED from html; byte-identical text
      // per url is the per-row invariant). Two surfaces in one query:
      // the full recipe (script/style drop, tag strip, entity decode with
      // the &amp;-last ordering, whitespace collapse) over a synthesized
      // rich document the oracle rebuilds + extracts independently, and
      // the roundtrip invariant extract(pages.html) == pages.text as a
      // computed column over the REAL binary html
      val rich = concat(
        lit("<html><head><title>T</title><style>p{c:1}</style>"),
        lit("<script>if (1 < 2) { x(); }</script></head><body><p class=\"a\">"),
        col("text"),
        lit("</p><br/>&amp;lt; stays &lt;b&gt; &#39;q&#39;&nbsp;end</body></html>"))
      // extraction above the sort: the exchange carries raw pages
      sortedResult(pages(s, d)
        .select(col("page_id"), col("text"), col("html")), col("page_id"))
        .select(col("page_id"),
          Html.extractText(rich).as("extracted"),
          (Html.extractText(col("html").cast("string")) === col("text")).as("roundtrip"))
    },
      // independent DuckDB re-extraction of the same synthesized rich html;
      // roundtrip is the Spark-side byte-identity invariant (a FALSE would
      // hash-mismatch the constant-TRUE oracle column)
      s"""WITH pg AS (
         |  SELECT (l_orderkey * 8 + l_linenumber)::BIGINT AS page_id,
         |         'page body ' || CAST((l_orderkey * 8 + l_linenumber)::BIGINT AS VARCHAR)
         |           || ' marker ' || CAST((l_orderkey * 8 + l_linenumber)::BIGINT % 97 AS VARCHAR)
         |           || ' éè' AS text
         |  FROM lineitem
         |), rich AS (
         |  SELECT page_id,
         |    '<html><head><title>T</title><style>p{c:1}</style><script>if (1 < 2) { x(); }</script></head><body><p class="a">'
         |      || text ||
         |    '</p><br/>&amp;lt; stays &lt;b&gt; &#39;q&#39;&nbsp;end</body></html>' AS rh
         |  FROM pg
         |)
         |SELECT page_id, ${graft.operators.Html.extractTextSql("rh")} AS extracted,
         |       TRUE AS roundtrip
         |FROM rich ORDER BY page_id""".stripMargin),

    CatalogEntry("d_pii_redact", (s, d) => {
      // PII redaction with sequential count-then-replace semantics
      // (emails → IPs → phones, each counted on the previous step's
      // output); deterministic PII is injected into the fixture text so
      // every pattern fires, and the oracle replays the identical
      // RE2-subset regex chain. Narrow per-row compute — a pure map at
      // 100 TB, nothing to shuffle.
      val withPii = documents(s, d).withColumn("_t", concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 or call 555-123-4567 ext "), (col("doc_id") % 10).cast("string"),
        lit(".")))
      sortedResult(withPii.select(col("doc_id"), col("_t")), col("doc_id"))
        .select(col("doc_id"), Curation.redactPii(col("_t")).as("_p"))
        .select(col("doc_id"), col("_p.redacted").as("redacted"),
          col("_p.n_email").cast("long").as("n_email"),
          col("_p.n_ip").cast("long").as("n_ip"),
          col("_p.n_phone").cast("long").as("n_phone"))
    },
      // identical RE2-subset regex chain, identical sequential semantics:
      // count emails on the raw text, replace; count IPs on the
      // email-redacted text, replace; count phones on the IP-redacted text
      s"""WITH raw AS (
         |  SELECT doc_id, text || ' contact user' || doc_id || '@example.com from 10.0.'
         |    || (doc_id % 256) || '.7 or call 555-123-4567 ext ' || (doc_id % 10) || '.' AS t
         |  FROM documents
         |), s1 AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(t, '${Curation.EmailRe}'))::BIGINT AS n_email,
         |    regexp_replace(t, '${Curation.EmailRe}', '<EMAIL>', 'g') AS t1
         |  FROM raw
         |), s2 AS (
         |  SELECT doc_id, n_email,
         |    len(regexp_extract_all(t1, '${Curation.Ipv4Re}'))::BIGINT AS n_ip,
         |    regexp_replace(t1, '${Curation.Ipv4Re}', '<IP>', 'g') AS t2
         |  FROM s1
         |), s3 AS (
         |  SELECT doc_id, n_email, n_ip,
         |    len(regexp_extract_all(t2, '${Curation.PhoneRe}'))::BIGINT AS n_phone,
         |    regexp_replace(t2, '${Curation.PhoneRe}', '<PHONE>', 'g') AS redacted
         |  FROM s2
         |)
         |SELECT doc_id, redacted, n_email, n_ip, n_phone
         |FROM s3 ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_c4_filter", (s, d) => {
      // C4-style line filtering + document drops (Raffel et al. 2020
      // §2.2): line structure is synthesized deterministically (3-token
      // chunks, terminator cycling '.', '', '!') because the fixture text
      // is single-line, and docs id%37==0 / id%41==0 get a brace / lorem
      // line appended so both document-drop rules fire. Same recipe in
      // the oracle; narrow per-row compute throughout.
      // token array let-bound (the Dedup.shingles O(tokens²) lesson): the
      // unbound tree re-tokenized once per synthesized line
      val txt = graft.functions.ExprUtils.bind(Dedup.tokens(col("text"))) { toks =>
        val n = ((size(toks) + lit(2)) / lit(3)).cast("int")
        val lines = transform(sequence(lit(1), n), i => concat(
          concat_ws(" ", slice(toks, (i - lit(1)) * lit(3) + lit(1), lit(3))),
          when(pmod(i - lit(1), lit(3)) === 0, lit("."))
            .when(pmod(i - lit(1), lit(3)) === 1, lit(""))
            .otherwise(lit("!"))))
        val base = when(size(toks) > 0, array_join(lines, "\n")).otherwise(lit(""))
        when(col("doc_id") % 37 === 0, concat(base, lit("\ncode { x }")))
          .when(col("doc_id") % 41 === 0, concat(base, lit("\nLorem Ipsum dolor sit amet.")))
          .otherwise(base)
      }
      // the synthetic line build + C4 rules run above the sort. The raw
      // table, not `documents`: the range exchange spreads the rows, and
      // the checkpoint would keep documents' round-robin shuffle, which
      // the optimizer merges into the range one when nothing is between
      sortedResult(graft.sources.TableSource.table(s, d, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), Curation.c4Clean(txt, minWords = 3, minSentences = 2).as("_c"))
        .select(col("doc_id"), col("_c.clean_text").as("clean_text"),
          col("_c.n_kept").cast("long").as("n_kept"),
          col("_c.n_total").cast("long").as("n_total"),
          col("_c.keep_doc").as("keep_doc"))
    },
      // same synthesized line structure (3-token chunks, '.'/''/'!' cycling
      // terminators, brace/lorem lines appended for id%37 / id%41), same
      // C4 rules: keep lines ending in terminal punct with >= 3 words;
      // keep docs with >= 2 terminal marks in the CLEANED text and no
      // '{' / 'lorem ipsum' in the ORIGINAL
      s"""WITH $toksCte, nl AS (
         |  SELECT d.doc_id,
         |    CASE WHEN len(t.tk) > 0 THEN
         |      array_to_string(list_transform(range(1, CAST(ceil(len(t.tk)/3.0) AS BIGINT) + 1),
         |        i -> array_to_string(t.tk[(i-1)*3+1:i*3], ' ') ||
         |             CASE ((i-1) % 3) WHEN 0 THEN '.' WHEN 1 THEN '' ELSE '!' END), chr(10))
         |    ELSE '' END AS base_text
         |  FROM documents d JOIN toks t USING (doc_id)
         |), txt AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 37 = 0 THEN base_text || chr(10) || 'code { x }'
         |         WHEN doc_id % 41 = 0 THEN base_text || chr(10) || 'Lorem Ipsum dolor sit amet.'
         |         ELSE base_text END AS t
         |  FROM nl
         |), lined AS (
         |  SELECT doc_id, t,
         |    list_filter(string_split(t, chr(10)), l -> len(l) > 0) AS all_lines
         |  FROM txt
         |), cleaned AS (
         |  SELECT doc_id, t, all_lines,
         |    array_to_string(list_filter(all_lines,
         |      l -> regexp_matches(l, '[.!?"]$$')
         |           AND len(list_filter(regexp_split_to_array(l, '\\s+'), w -> len(w) > 0)) >= 3),
         |      chr(10)) AS clean_text,
         |    len(list_filter(all_lines,
         |      l -> regexp_matches(l, '[.!?"]$$')
         |           AND len(list_filter(regexp_split_to_array(l, '\\s+'), w -> len(w) > 0)) >= 3))::BIGINT AS n_kept
         |  FROM lined
         |)
         |SELECT doc_id, clean_text, n_kept, len(all_lines)::BIGINT AS n_total,
         |  (len(clean_text) - len(regexp_replace(clean_text, '[.!?]', '', 'g')) >= 2
         |   AND t NOT LIKE '%{%' AND NOT contains(lower(t), 'lorem ipsum')) AS keep_doc
         |FROM cleaned ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_para_dedup", (s, d) => {
      // corpus-wide paragraph-level exact dedup (RefinedWeb/MassiveText
      // repeat-paragraph removal): keep the globally FIRST occurrence of
      // every unit (8-token chunks here — the synthetic paragraph for the
      // newline-free fixture), reassemble documents from their surviving
      // units. One shuffle on the unit md5; survivor pick is a
      // map-side-combining min aggregate, never a window.
      Dedup.paraDedup(documents(s, d), "text", "doc_id",
          t => TextAnalysis.tokenChunks(Dedup.tokens(t), 8))
        .select(col("doc_id"), col("clean_text"), col("n_kept"), col("n_total"))
        .orderBy(col("doc_id"))
    },
      // global first-occurrence keep over 8-token chunks: the (doc_id, pos)
      // min is a total order, so the window-rank oracle and the engine's
      // min-struct aggregate agree exactly
      s"""WITH $toksCte, units AS (
         |  SELECT doc_id,
         |    unnest(range(1, CAST(ceil(len(tk)/8.0) AS BIGINT) + 1)) AS i, tk
         |  FROM toks WHERE len(tk) > 0
         |), u2 AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[(i-1)*8+1:i*8], ' ') AS unit
         |  FROM units
         |), marked AS (
         |  SELECT doc_id, pos, unit,
         |    row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn
         |  FROM u2
         |)
         |SELECT doc_id,
         |  coalesce(array_to_string(list(unit ORDER BY pos) FILTER (WHERE rn = 1), ' '), '') AS clean_text,
         |  count(*) FILTER (WHERE rn = 1)::BIGINT AS n_kept,
         |  count(*)::BIGINT AS n_total
         |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_gopher_quality", (s, d) => {
      // the remaining Gopher Table A1 document rules beyond d_repetition:
      // mean word length (×100), alpha-word fraction, bullet-/ellipsis-
      // line fractions (permyriad), and the composite keep flag. Line
      // structure synthesized (4-token chunks; '• ' prefix when
      // (doc_id+i)%7==0, '...' suffix when (doc_id+i)%11==0) because the
      // fixture text is single-line; all exact integers, pure per-row map.
      val base = sortedTokens(s, d)
      val n = ((size(col("_toks")) + lit(3)) / lit(4)).cast("int")
      val lines = when(size(col("_toks")) > 0,
        transform(sequence(lit(1), n), i => concat(
          when(pmod(col("doc_id") + i - 1, lit(7)) === 0, lit("• ")).otherwise(lit("")),
          concat_ws(" ", slice(col("_toks"), (i - lit(1)) * lit(4) + lit(1), lit(4))),
          when(pmod(col("doc_id") + i - 1, lit(11)) === 0, lit("...")).otherwise(lit("")))))
        .otherwise(array().cast("array<string>"))
      base.select(col("doc_id"),
          size(col("_toks")).cast("long").as("n_tokens"),
          TextAnalysis.meanWordLenE2(col("_toks")).as("mean_word_len_e2"),
          TextAnalysis.alphaWordFracE4(col("_toks")).as("alpha_word_e4"),
          TextAnalysis.bulletLineFracE4(lines).as("bullet_line_e4"),
          TextAnalysis.ellipsisLineFracE4(lines).as("ellipsis_line_e4"))
        .withColumn("gopher_keep",
          col("n_tokens").between(5, 100000) &&
            col("mean_word_len_e2").between(150, 1000) &&
            col("alpha_word_e4") >= 5000 &&
            col("bullet_line_e4") <= 9000 && col("ellipsis_line_e4") <= 3000)
    },
      // same synthesized line structure (4-token chunks, bullet/ellipsis
      // markers on the %7 / %11 residues), same exact-integer rules
      s"""WITH $toksCte, lined AS (
         |  SELECT d.doc_id, t.tk,
         |    CASE WHEN len(t.tk) > 0 THEN
         |      list_transform(range(1, CAST(ceil(len(t.tk)/4.0) AS BIGINT) + 1),
         |        i -> (CASE WHEN (d.doc_id + i - 1) % 7 = 0 THEN '• ' ELSE '' END)
         |             || array_to_string(t.tk[(i-1)*4+1:i*4], ' ')
         |             || (CASE WHEN (d.doc_id + i - 1) % 11 = 0 THEN '...' ELSE '' END))
         |    ELSE [] END AS ln
         |  FROM documents d JOIN toks t USING (doc_id)
         |), stats AS (
         |  SELECT doc_id, len(tk)::BIGINT AS n_tokens,
         |    CASE WHEN len(tk) > 0 THEN
         |      (100 * coalesce(list_sum(list_transform(tk, x -> len(x))), 0)) // len(tk)
         |    ELSE 0 END::BIGINT AS mean_word_len_e2,
         |    CASE WHEN len(tk) > 0 THEN
         |      (10000 * len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))) // len(tk)
         |    ELSE 0 END::BIGINT AS alpha_word_e4,
         |    CASE WHEN len(ln) > 0 THEN
         |      (10000 * len(list_filter(ln, x -> regexp_matches(x, '^(•|- )')))) // len(ln)
         |    ELSE 0 END::BIGINT AS bullet_line_e4,
         |    CASE WHEN len(ln) > 0 THEN
         |      (10000 * len(list_filter(ln, x -> regexp_matches(x, '(…|\\.\\.\\.)$$')))) // len(ln)
         |    ELSE 0 END::BIGINT AS ellipsis_line_e4
         |  FROM lined
         |)
         |SELECT doc_id, n_tokens, mean_word_len_e2, alpha_word_e4,
         |  bullet_line_e4, ellipsis_line_e4,
         |  (n_tokens BETWEEN 5 AND 100000 AND mean_word_len_e2 BETWEEN 150 AND 1000
         |   AND alpha_word_e4 >= 5000 AND bullet_line_e4 <= 9000
         |   AND ellipsis_line_e4 <= 3000) AS gopher_keep
         |FROM stats ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_curate_e2e", (s, d) => {
      // the curation pipeline COMPOSED end-to-end in one plan: quality
      // gate (≥ 5 tokens) → corpus-wide paragraph dedup over the
      // survivors (so dedup outcomes depend on the gate) → drop
      // fully-boilerplate docs → per-registered-domain cap (the 500→2
      // domain fold makes it the hot-domain skew case) → deterministic
      // split assignment. Every stage is an already-oracled operator;
      // this query gates that they compose.
      val docs = documents(s, d)
        .withColumn("domain", UrlOps.registeredDomain(messyUrl))
      val kept = docs.where(size(Dedup.tokens(col("text"))) >= 5)
      val deduped = Dedup.paraDedup(kept, "text", "doc_id",
          t => TextAnalysis.tokenChunks(Dedup.tokens(t), 8))
        .where(col("n_kept") > 0)
      val capped = Sampling.perKeyCap(
        deduped.join(docs.select(col("doc_id"), col("domain")), "doc_id"),
        "domain", Dedup.hash60(col("doc_id").cast("string")), "doc_id",
        k = 50, salt = 8)
      sortedResult(capped.select(col("doc_id"), col("domain"), col("n_kept"),
        Sampling.hashSplit(col("doc_id"), 1000, 50).as("split")), col("doc_id"))
    },
      // the composed pipeline: each stage's oracle CTE chained in the same
      // order — gate, paragraph dedup over survivors, boilerplate drop,
      // per-domain cap (plain-window twin of the salted cap), hash split
      s"""WITH $toksCte, raw AS (
         |  SELECT doc_id, $messyUrlSql AS url FROM documents
         |), $urlPartsSql, quality AS (
         |  SELECT doc_id, tk FROM toks WHERE len(tk) >= 5
         |), units AS (
         |  SELECT doc_id,
         |    unnest(range(1, CAST(ceil(len(tk)/8.0) AS BIGINT) + 1)) AS i, tk
         |  FROM quality WHERE len(tk) > 0
         |), u2 AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[(i-1)*8+1:i*8], ' ') AS unit
         |  FROM units
         |), marked AS (
         |  SELECT doc_id, pos, unit,
         |    row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn
         |  FROM u2
         |), dd AS (
         |  SELECT doc_id, count(*) FILTER (WHERE rn = 1)::BIGINT AS n_kept
         |  FROM marked GROUP BY doc_id
         |  HAVING count(*) FILTER (WHERE rn = 1) > 0
         |), ranked AS (
         |  SELECT dd.doc_id, c.domain, dd.n_kept, row_number() OVER (
         |    PARTITION BY c.domain
         |    ORDER BY ${hash60Sql("CAST(dd.doc_id AS VARCHAR)")} ASC, dd.doc_id ASC) AS rn2
         |  FROM dd JOIN canon c USING (doc_id)
         |)
         |SELECT doc_id, domain, n_kept,
         |  CASE WHEN ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 1000 < 50
         |       THEN 'holdout' ELSE 'train' END AS split
         |FROM ranked WHERE rn2 <= 50 ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_dedup_exact", (s, d) => {
      Dedup.exactDedupByHash(documents(s, d), "text", "doc_id")
        .orderBy(col("text_md5"))
    },
      exactDedupSql),

    CatalogEntry("d_dedup_incremental", (s, d) => {
      // the daily-crawl delta: docs < 400 are yesterday's state, docs
      // >= 400 today's batch; the (min, sum) monoid merge must equal the
      // full recompute — the oracle IS the full-corpus dedup SQL
      val docs = documents(s, d)
      val state = Dedup.exactDedupByHash(
        docs.where(col("doc_id") < 400), "text", "doc_id")
      Dedup.exactDedupIncrement(state,
          docs.where(col("doc_id") >= 400), "text", "doc_id")
        .orderBy(col("text_md5"))
    },
      // the incremental merge must EQUAL the full recompute — same SQL
      exactDedupSql),

    CatalogEntry("d_token_count", (s, d) => {
      documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_quality", (s, d) => {
      // one tokenization pass: raw stats materialized behind the sort's
      // checkpoint, the three outputs derived from them above it
      // (CollapseProject would otherwise re-run the regex splits per
      // output column)
      val stats = documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.stopwordRatio(col("text"), TextAnalysis.EnglishStopwords).as("_sraw"),
        TextAnalysis.punctRatio(col("text")).as("_praw"))
      sortedResult(stats, col("doc_id")).select(col("doc_id"), col("n_tokens"),
        round(col("_sraw") * 1000).cast("long").as("stop_permille"),
        TextAnalysis.qualityScoreFromStats(col("n_tokens"), col("_praw"), col("_sraw")).as("quality"))
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS n_tokens,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks,
        |    (len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g'))) * 1.0 / greatest(len(text), 1) AS praw
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with'], x))) * 1.0 / len(toks) ELSE 0.0 END AS sraw,
        |    praw FROM t
        |)
        |SELECT doc_id, n_tokens,
        |  CAST(round(sraw * 1000) AS BIGINT) AS stop_permille,
        |  round((CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 0.4 ELSE 0.0 END) +
        |        (CASE WHEN praw <= 0.2 THEN 0.3 ELSE 0.0 END) +
        |        (CASE WHEN sraw >= 0.05 THEN 0.3 ELSE 0.0 END), 1) AS quality
        |FROM r ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_lang_guess", (s, d) => {
      // tokenize once behind a barrier; 5 marker intersections read the array
      sortedTokens(s, d).select(col("doc_id"),
          TextAnalysis.langGuessFromTokens(col("_toks")).as("lang_guess"))
    },
      // Language-ID oracle: max marker hits, ties → lexicographically smallest
      // language, zero hits → 'und' (mirrors TextAnalysis.langGuess).
      {
        val markers = TextAnalysis.LangMarkers.sortBy(_._1) // lex order = tie preference
        val hits = markers.map { case (lang, ms) =>
          val arr = ms.map(m => s"'$m'").mkString("[", ", ", "]")
          s"len(list_intersect(list_distinct(toks), $arr)) AS hits_$lang"
        }.mkString(", ")
        val langs = markers.map(_._1)
        val caseChain = langs.map { l =>
          val geAll = langs.filter(_ != l).map(o => s"hits_$l >= hits_$o").mkString(" AND ")
          s"WHEN $geAll THEN '$l'"
        }.mkString(" ")
        val anyPos = langs.map(l => s"hits_$l > 0").mkString(" OR ")
        s"""WITH toksd AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS toks
           |  FROM documents
           |), scored AS (
           |  SELECT doc_id, $hits FROM toksd
           |)
           |SELECT doc_id, CASE WHEN NOT ($anyPos) THEN 'und' $caseChain END AS lang_guess
           |FROM scored ORDER BY doc_id""".stripMargin
      }),

    CatalogEntry("d_jaccard_pairs", (s, d) => {
      // t = 0.4 dispatches to the Bayardo prefix-filter plan — the
      // dedup-typical, scale-representative path (the low-threshold corner,
      // the banded-MinHash verify plan, is exercised by d_jaccard_lowt)
      sortedResult(Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
          shingleLen = 3, threshold = 0.4, maxShingleFreq = 10000)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 10000).cast("long").as("jaccard_e4")),
        col("id_a"), col("id_b"))
    },
      jaccardPairsSql("0.4")),

    CatalogEntry("d_jaccard_lowt", (s, d) => {
      // the low-threshold corner, now on its real scale path: banded
      // MinHash candidates (r=1, b=64 — miss probability (1-J)^64 ≤
      // 2.8e-4 at J=t) + EXACT per-pair Jaccard verify. The oracle below
      // is the full exact join — a recall miss would fail the hash gate,
      // so the green result certifies the banding caught every pair
      sortedResult(Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
          shingleLen = 3, threshold = 0.12, maxShingleFreq = 10000)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 10000).cast("long").as("jaccard_e4")),
        col("id_a"), col("id_b"))
    },
      jaccardPairsSql("0.12")),

    CatalogEntry("d_vocab", (s, d) => {
      // A3 analog: DISTINCT over an unnested (exploded) collection
      documents(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("token"))
    },
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)) AS token
        |  FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    CatalogEntry("d_minhash_pairs", (s, d) => {
      // MinHash+LSH near-dup candidates with the PORTABLE lane hash —
      // the DuckDB oracle reproduces signatures, banding, and the
      // est-jaccard verify bit-for-bit (statistical recall vs brute force
      // is separately proven in DedupSpec with the fast engine hash)
      sortedResult(Dedup.minhashLshPairs(documents(s, d), "text", "doc_id",
          shingleLen = 2, numHashes = 32, bands = 16, threshold = 0.1,
          signature = Dedup.minhashSignaturePortable)
        .select(col("id_a"), col("id_b"),
          round(col("est_jaccard") * 10000).cast("long").as("est_e4")),
        col("id_a"), col("id_b"))
    },
      s"""WITH $minhashCtes
         |SELECT id_a, id_b, CAST(round(agree * 10000.0 / 32) AS BIGINT) AS est_e4
         |FROM est WHERE agree / 32.0 >= 0.1 ORDER BY id_a, id_b""".stripMargin),

    CatalogEntry("d_simhash_pairs", (s, d) => {
      // 4 bands of 15 bits ⇒ complete recall for Hamming <= 3 (pigeonhole)
      Dedup.simhashPairs(documents(s, d), "text", "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // Full SimHash oracle: portable token hashes → 60-bit sign-vote
      // fingerprint → 4×15-bit band buckets → exact Hamming <= 3 verify.
      // Mirrors Dedup.simhashPairs exactly.
      {
        val th = hash60Sql("t")
        s"""WITH $toksCte, th AS (
           |  SELECT doc_id, list_transform(tk, t -> $th) AS th FROM toks
           |), fp AS (
           |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), i ->
           |    CASE WHEN coalesce(list_sum(list_transform(th, h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
           |    THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
           |  FROM th WHERE len(th) > 0
           |), banded AS (
           |  SELECT doc_id, fp, q, (fp >> CAST(q * 15 AS INT)) & 32767 AS v
           |  FROM fp, unnest(range(0, 4)) AS t(q)
           |)
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
           |FROM banded a JOIN banded b ON a.q = b.q AND a.v = b.v AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.fp, b.fp)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    CatalogEntry("d_fingerprint", (s, d) => {
      documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprintChain(col("text")).as("fp_hex"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  list_reduce(list_prepend('graft', list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)),
        |    (acc, t) -> md5(acc || '|' || t)) AS fp_hex
        |FROM documents ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_dup_clusters", (s, d) => {
      // the step AFTER pair generation in a real dedup pipeline: collapse
      // the near-dup pair graph (same params as d_minhash_pairs) into
      // duplicate clusters via large-star/small-star connected components;
      // component == min doc_id, so `doc_id = component` marks the
      // representative a keep-one pass would retain
      val docs = documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
        shingleLen = 2, numHashes = 32, bands = 16, threshold = 0.1,
        signature = Dedup.minhashSignaturePortable)
      sortedResult(Components.labelNodes(docs, "doc_id", pairs, "id_a", "id_b"),
        col("doc_id"))
    },
      s"""WITH RECURSIVE $dupLabelCtes
         |SELECT d.doc_id, CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS component
         |FROM documents d LEFT JOIN labels l ON l.n = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    CatalogEntry("d_dedup_keep_best", (s, d) => {
      // representative selection — the pipeline's final step: pairs →
      // clusters → keep ONE doc per cluster (longest, tie = lowest id).
      // One row_number window partitioned by component; the pair graph
      // and labels are the same plan as d_dup_clusters
      val docs = documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
        shingleLen = 2, numHashes = 32, bands = 16, threshold = 0.1,
        signature = Dedup.minhashSignaturePortable)
      val labels = Components.labelNodes(docs, "doc_id", pairs, "id_a", "id_b")
      val withLen = docs
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .join(labels, "doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component"))
        .orderBy(col("n_tokens").desc, col("doc_id").asc)
      sortedResult(withLen.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select(col("component"), col("doc_id").as("keep_id"), col("n_tokens")),
        col("component"))
    },
      // Keep-best oracle: the d_dup_clusters labels (dupLabelCtes), then one
      // representative per cluster by (n_tokens desc, doc_id asc).
      s"""WITH RECURSIVE $dupLabelCtes, comp AS (
         |  SELECT d.doc_id, CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS component,
         |    len(list_filter(string_split_regex(d.text, '\\s+'), x -> len(x) > 0)) AS n_tokens
         |  FROM documents d LEFT JOIN labels l ON l.n = d.doc_id
         |), ranked AS (
         |  SELECT component, doc_id AS keep_id, n_tokens, row_number() OVER (
         |    PARTITION BY component ORDER BY n_tokens DESC, doc_id ASC) AS rn
         |  FROM comp
         |)
         |SELECT component, keep_id, n_tokens FROM ranked WHERE rn = 1
         |ORDER BY component""".stripMargin),

    CatalogEntry("d_decontaminate", (s, d) => {
      // benchmark decontamination: docs with doc_id % 50 == 0 play the
      // held-out benchmark; every train doc sharing a 4-token shingle
      // with it is flagged with its distinct shared-shingle count. The
      // eval shingle-hash set is benchmark-sized → broadcast; the train
      // side is never shuffled before the per-doc aggregation
      val docs = documents(s, d)
      val evalDocs = docs.where(col("doc_id") % 50 === 0)
      val trainDocs = docs.where(col("doc_id") % 50 =!= 0)
      CorpusOps.flagOverlap(trainDocs, evalDocs, "text", "doc_id", n = 4)
        .orderBy(col("doc_id"))
    },
      // same tokenize → 4-shingle → 60-bit md5 hash → eval-set semi machinery
      decontaminateOracleSql),

    CatalogEntry("d_decontaminate_bloom", (s, d) => {
      // the SAME sweep on its large-benchmark scale path: eval hashes
      // folded into Spark's own distributed BloomFilterAggregate, train
      // side prefiltered by a narrow codegen'd might_contain (still never
      // shuffled), exact join only over the surviving sliver. Bloom has
      // no false negatives and the exact join removes false positives, so
      // the oracle is IDENTICAL to d_decontaminate's
      val docs = documents(s, d)
      val evalDocs = docs.where(col("doc_id") % 50 === 0)
      val trainDocs = docs.where(col("doc_id") % 50 =!= 0)
      CorpusOps.flagOverlapBloom(trainDocs, evalDocs, "text", "doc_id",
          n = 4, expectedItems = 100000L, fpp = 0.01)
        .orderBy(col("doc_id"))
    },
      // bloom prefilter + exact verify ≡ the exact broadcast sweep (no false
      // negatives; false positives removed) — the oracle IS d_decontaminate's
      decontaminateOracleSql),

    CatalogEntry("d_lm_score", (s, d) => {
      // perplexity-filter signal in exact integers: corpus bigram MLE
      // (prefix-count denominator), floor-averaged per doc — no float
      // log-likelihood to drift; model joins unhinted (AQE decides)
      CorpusOps.lmScore(documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))
    },
      // bigram MLE replayed: same 2-shingles, prefix-count denominator,
      // floor division at both the probability and the per-doc average
      s"""WITH $toksCte, bgx AS (
         |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
         |    THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
         |    ELSE [] END) AS bg
         |  FROM toks
         |), occ AS (
         |  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bgx
         |), c2 AS (
         |  SELECT w1, bg, count(*) AS c2 FROM occ GROUP BY 1, 2
         |), c1 AS (
         |  SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1
         |), p AS (
         |  SELECT bg, (c2 * 1000000) // c1 AS p_e6 FROM c2 JOIN c1 USING (w1)
         |), pd AS (
         |  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(p_e6) // count(*) AS BIGINT) AS avg_p_e6
         |  FROM occ o JOIN p USING (bg) GROUP BY 1
         |)
         |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
         |  coalesce(avg_p_e6, 0) AS avg_p_e6
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_heavy_hitters", (s, d) => {
      // exact heavy hitters WITHOUT aggregating the unbounded term
      // domain: one Misra-Gries pass (k=256 counters, typed Aggregator)
      // proposes a guaranteed superset of terms with freq >= total/50,
      // one exact count restricted to the <= k candidates removes the
      // overshoot — sketch-then-verify, exact result
      import s.implicits._
      val terms = documents(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("term"))
        .as[String]
      Sketches.heavyHitters(terms, denom = 50)
        .orderBy(col("term"))
    },
      // the sketch is invisible in the answer: exact threshold count
      s"""WITH $toksCte, tok AS (
         |  SELECT unnest(tk) AS term FROM toks
         |)
         |SELECT term, CAST(count(*) AS BIGINT) AS n
         |FROM tok GROUP BY term
         |HAVING count(*) * 50 >= (SELECT count(*) FROM tok)
         |ORDER BY term""".stripMargin),

    CatalogEntry("d_top_terms", (s, d) => {
      // distinctive-term extraction: tf-idf ranking in exact integer
      // arithmetic — (tf desc, df asc, term asc), top 3 per doc
      CorpusOps.topTerms(documents(s, d), "text", "doc_id", k = 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("rank").as("term_rank"))
        .orderBy(col("doc_id"), col("term_rank"))
    },
      s"""WITH $toksCte, tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(tk) AS term FROM toks
         |  ) GROUP BY doc_id, term
         |), dfreq AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), ranked AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, row_number() OVER (
         |    PARTITION BY tf.doc_id ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS term_rank
         |  FROM tf JOIN dfreq USING (term)
         |)
         |SELECT doc_id, term, tf, df, term_rank FROM ranked WHERE term_rank <= 3
         |ORDER BY doc_id, term_rank""".stripMargin),

    CatalogEntry("d_repetition", (s, d) => {
      // Gopher-style repetition quality signals (Rae et al. 2021 Table A1):
      // duplicate-line / duplicate-paragraph fractions, duplicate-line
      // CHARACTER fraction, top-2/3/4-gram character fractions, and the
      // symbol-to-word ratio — all exact permyriad integers. The fixture
      // text is single-line, so "lines" are synthesized deterministically
      // as 2-token chunks and "paragraphs" as 3-token chunks (the operator
      // API itself takes any unit array — textLines/textParagraphs for
      // real newline-structured corpora, spec-covered). One tokenization
      // behind the sort's checkpoint; the seven signal aggregates are
      // narrow per-row compute above it — the 100 TB plan is a pure map
      // plus the output sort.
      val base = sortedResult(documents(s, d).select(
        col("doc_id"), col("text"), length(col("text")).cast("long").as("_len"),
        Dedup.tokens(col("text")).as("_toks")), col("doc_id"))
      val lines = TextAnalysis.tokenChunks(col("_toks"), 2)
      val paras = TextAnalysis.tokenChunks(col("_toks"), 3)
      base.select(col("doc_id"),
          TextAnalysis.dupUnitFracE4(lines).as("dup_line_e4"),
          TextAnalysis.dupUnitCharFracE4(lines).as("dup_line_char_e4"),
          TextAnalysis.dupUnitFracE4(paras).as("dup_para_e4"),
          TextAnalysis.topNgramCharFracE4(col("_toks"), 2, col("_len")).as("top2_char_e4"),
          TextAnalysis.topNgramCharFracE4(col("_toks"), 3, col("_len")).as("top3_char_e4"),
          TextAnalysis.topNgramCharFracE4(col("_toks"), 4, col("_len")).as("top4_char_e4"),
          TextAnalysis.symbolWordRatioE4(col("text"), size(col("_toks")).cast("long")).as("sym_word_e4"))
    },
      // Gopher repetition signals: same tokenize → chunk → count machinery,
      // permyriad = (10000*num) // den (floor division, exact integers)
      s"""WITH $toksCte, base AS (
         |  SELECT d.doc_id, d.text, len(d.text)::BIGINT AS tl, t.tk,
         |    list_transform(range(1, CAST(ceil(len(t.tk)/2.0) AS BIGINT) + 1),
         |      i -> array_to_string(t.tk[(i-1)*2+1:i*2], ' ')) AS lines,
         |    list_transform(range(1, CAST(ceil(len(t.tk)/3.0) AS BIGINT) + 1),
         |      i -> array_to_string(t.tk[(i-1)*3+1:i*3], ' ')) AS paras
         |  FROM documents d JOIN toks t USING (doc_id)
         |), uf AS (
         |  SELECT doc_id,
         |    len(lines)::BIGINT AS nl, len(list_distinct(lines))::BIGINT AS ndl,
         |    coalesce(list_sum(list_transform(lines, x -> len(x))), 0)::BIGINT AS lc,
         |    coalesce(list_sum(list_transform(list_distinct(lines), x -> len(x))), 0)::BIGINT AS ldc,
         |    len(paras)::BIGINT AS np, len(list_distinct(paras))::BIGINT AS ndp
         |  FROM base
         |), tops AS (
         |  SELECT n, doc_id, c, g FROM (
         |    SELECT n, doc_id, c, g, row_number() OVER (
         |      PARTITION BY n, doc_id ORDER BY c DESC, g ASC) AS rn
         |    FROM (
         |      SELECT n, doc_id, g, count(*)::BIGINT AS c FROM (
         |        SELECT ns.n, b.doc_id,
         |          unnest(CASE WHEN len(b.tk) >= ns.n
         |            THEN list_transform(range(1, len(b.tk) - ns.n + 2),
         |                                i -> array_to_string(b.tk[i:i+ns.n-1], ' '))
         |            ELSE [] END) AS g
         |        FROM base b CROSS JOIN (SELECT unnest([2, 3, 4]) AS n) ns
         |      ) GROUP BY n, doc_id, g
         |    )
         |  ) WHERE rn = 1
         |), sym AS (
         |  SELECT doc_id,
         |    (len(text) - len(replace(text, '#', '')))::BIGINT
         |    + (len(text) - len(replace(text, '…', '')))::BIGINT
         |    + ((len(text) - len(replace(text, '...', ''))) // 3)::BIGINT AS nsym,
         |    len(tk)::BIGINT AS ntok
         |  FROM base
         |)
         |SELECT b.doc_id,
         |  CASE WHEN uf.nl > 0 THEN (10000 * (uf.nl - uf.ndl)) // uf.nl ELSE 0 END AS dup_line_e4,
         |  CASE WHEN uf.lc > 0 THEN (10000 * (uf.lc - uf.ldc)) // uf.lc ELSE 0 END AS dup_line_char_e4,
         |  CASE WHEN uf.np > 0 THEN (10000 * (uf.np - uf.ndp)) // uf.np ELSE 0 END AS dup_para_e4,
         |  coalesce(CASE WHEN b.tl > 0 THEN (10000 * t2.c * len(t2.g)) // b.tl END, 0) AS top2_char_e4,
         |  coalesce(CASE WHEN b.tl > 0 THEN (10000 * t3.c * len(t3.g)) // b.tl END, 0) AS top3_char_e4,
         |  coalesce(CASE WHEN b.tl > 0 THEN (10000 * t4.c * len(t4.g)) // b.tl END, 0) AS top4_char_e4,
         |  CASE WHEN sym.ntok > 0 THEN (10000 * sym.nsym) // sym.ntok ELSE 0 END AS sym_word_e4
         |FROM base b
         |JOIN uf USING (doc_id) JOIN sym USING (doc_id)
         |LEFT JOIN (SELECT * FROM tops WHERE n = 2) t2 USING (doc_id)
         |LEFT JOIN (SELECT * FROM tops WHERE n = 3) t3 USING (doc_id)
         |LEFT JOIN (SELECT * FROM tops WHERE n = 4) t4 USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_dup_spans", (s, d) => {
      // corpus-level duplicated-span fraction — the exact-substring-dedup
      // signal (Lee et al. 2021 proxy): every rolling 8-token window
      // hashed, duplicated = its hash occurs >= 2 times corpus-wide
      // (cross-doc or within-doc). Occurrences reduce to (doc, hash, m)
      // map-side before any corpus-wide exchange; the hash (8 bytes)
      // stands in for the span end-to-end
      CorpusOps.dupSpans(documents(s, d), "text", "doc_id", n = 8)
        .orderBy(col("doc_id"))
    },
      // dupSpans replayed: rolling (non-distinct) 8-token windows, the same
      // 60-bit md5 fold standing in for the span, duplicated = corpus
      // occurrence count >= 2; permyriad = floor division, exact integers
      s"""WITH $toksCte, w AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 8
         |    THEN list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))
         |    ELSE [] END AS ws
         |  FROM toks
         |), occ AS (
         |  SELECT doc_id, ${hash60Sql("s")} AS h
         |  FROM (SELECT doc_id, unnest(ws) AS s FROM w)
         |), dm AS (
         |  SELECT doc_id, h, count(*) AS m FROM occ GROUP BY 1, 2
         |), hc AS (
         |  SELECT h, sum(m) AS c FROM dm GROUP BY 1
         |), pd AS (
         |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_windows,
         |    CAST(sum(CASE WHEN c >= 2 THEN m ELSE 0 END) AS BIGINT) AS dup_windows
         |  FROM dm JOIN hc USING (h) GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(n_windows, 0) AS n_windows,
         |  coalesce(dup_windows, 0) AS dup_windows,
         |  CASE WHEN coalesce(n_windows, 0) > 0
         |    THEN (10000 * dup_windows) // n_windows ELSE 0 END AS dup_frac_e4
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_chunk_pack", (s, d) => {
      // concat-and-chunk sequence packing (the GPT-style pretraining
      // layout): global token offsets via the two-phase distributed
      // prefix sum — deterministic id-range buckets, per-bucket totals
      // collected (dimension data) and prefix-summed, per-bucket window
      // cumsum shifted by the bucket offset. Nothing sorts globally.
      CorpusOps.packChunks(documents(s, d), "text", "doc_id",
          chunkTokens = 512, buckets = 32)
        .orderBy(col("doc_id"))
    },
      // packChunks replayed as the SEQUENTIAL layout the distributed
      // prefix sum must equal: one ordered window cumsum over doc_id
      s"""WITH $toksCte, t AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks
         |), c AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, tok_start,
         |  tok_start // 512 AS chunk_first,
         |  CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
         |    ELSE tok_start // 512 END AS chunk_last
         |FROM c ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_pack_segments", (s, d) => {
      // the loader-facing packing view: one row per (chunk, doc) overlap
      // with in-chunk / in-doc offsets; a doc spanning a boundary splits.
      // Bounded fan-out explode after the prefix sum — no new exchange
      CorpusOps.packSegments(documents(s, d), "text", "doc_id",
          chunkTokens = 512, buckets = 32)
        .orderBy(col("chunk_id"), col("doc_id"))
    },
      // packSegments replayed: the same sequential cumsum, then one row per
      // chunk in [chunk_first, chunk_last] with clamped segment arithmetic
      s"""WITH $toksCte, t AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks
         |), c AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
         |  FROM t
         |), e AS (
         |  SELECT doc_id, n_tokens, tok_start,
         |    unnest(range(tok_start // 512, (tok_start + n_tokens - 1) // 512 + 1)) AS chunk_id
         |  FROM c WHERE n_tokens > 0
         |)
         |SELECT chunk_id, doc_id,
         |  greatest(tok_start, chunk_id * 512) - chunk_id * 512 AS chunk_off,
         |  greatest(tok_start, chunk_id * 512) - tok_start AS doc_off,
         |  least(tok_start + n_tokens, (chunk_id + 1) * 512)
         |    - greatest(tok_start, chunk_id * 512) AS seg_len
         |FROM e ORDER BY chunk_id, doc_id""".stripMargin),

    CatalogEntry("d_token_bpe", (s, d) => {
      // portable BPE-ish subword estimate: whitespace tokens + case/digit
      // boundary count (non-overlapping 2-char matches — identical scan
      // semantics in Java regex and RE2). The fixture text is lowercase,
      // so a camelCase+digit suffix is synthesized deterministically per
      // doc to exercise every boundary class
      documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" Doc"), col("doc_id"), lit("Xy")).as("_t"))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("_t")).cast("long").as("n_tokens"),
          TextAnalysis.subwordCountPortable(col("_t")).as("subword_est"))
        .orderBy(col("doc_id"))
    },
      // subwordCountPortable replayed: same whitespace token count + the
      // same non-overlapping boundary patterns via regexp_extract_all
      """WITH t AS (
        |  SELECT doc_id, text || ' Doc' || doc_id || 'Xy' AS t2 FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(t2, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split_regex(t2, '\s+'), x -> len(x) > 0))
        |    + len(regexp_extract_all(t2, '[a-z][A-Z]|[A-Za-z][0-9]|[0-9][A-Za-z]')) AS BIGINT) AS subword_est
        |FROM t ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_curate_full", (s, d) => {
      // the COMPLETE modern pretraining recipe as ONE composed plan:
      // dup-span quality gate (train-corpus-wide counts) → benchmark
      // decontamination (anti-join of flagged docs) → stratified
      // per-language budget sampling → concat-and-chunk packing. Each
      // stage is individually exact-oracled elsewhere; this query gates
      // that they COMPOSE (stage order visible in the offsets: rates are
      // computed over the post-filter corpus, offsets over the sample)
      val docs = documents(s, d)
      val evalDocs = docs.where(col("doc_id") % 50 === 0)
      val train = docs.where(col("doc_id") % 50 =!= 0)
      val kept = train.join(
        CorpusOps.dupSpans(train, "text", "doc_id", n = 8)
          .where(col("dup_frac_e4") < 3000).select("doc_id"), "doc_id")
      val clean = kept.join(
        CorpusOps.flagOverlap(kept, evalDocs, "text", "doc_id", n = 4)
          .select("doc_id"), Seq("doc_id"), "left_anti")
      // barrier: `sampled` is consumed TWICE (packChunks input + the lang
      // re-join) and its upstream is the entire gate → anti-join → sample
      // chain — without it the whole pipeline ran once per consumer
      val sampled = Sampling.stratifiedSample(clean, "lang", "doc_id",
        perKeyBudget = 25)
        .select(col("doc_id"), col("lang"), col("text")).localCheckpoint(eager = false)
      sortedResult(CorpusOps.packChunks(sampled, "text", "doc_id", chunkTokens = 512,
          buckets = 32)
        .join(sampled.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("tok_start"), col("chunk_first"), col("chunk_last")), col("doc_id"))
    },
      // the full pretraining recipe, each stage's oracle CTE chained in
      // composition order: train-corpus dup-span gate (< 3000 e4) →
      // 4-shingle decontamination anti-join → per-lang rates over the
      // CLEAN corpus → hash sampling → sequential cumsum + chunking
      s"""WITH $toksCte, w AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 8
         |    THEN list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))
         |    ELSE [] END AS ws
         |  FROM toks WHERE doc_id % 50 <> 0
         |), occ AS (
         |  SELECT doc_id, ${hash60Sql("s")} AS h
         |  FROM (SELECT doc_id, unnest(ws) AS s FROM w)
         |), dm AS (
         |  SELECT doc_id, h, count(*) AS m FROM occ GROUP BY 1, 2
         |), hc AS (
         |  SELECT h, sum(m) AS c FROM dm GROUP BY 1
         |), pd AS (
         |  SELECT doc_id, CASE WHEN sum(m) > 0
         |    THEN (10000 * sum(CASE WHEN c >= 2 THEN m ELSE 0 END)) // sum(m)
         |    ELSE 0 END AS dup_frac_e4
         |  FROM dm JOIN hc USING (h) GROUP BY doc_id
         |), kept AS (
         |  SELECT d.doc_id, d.lang FROM documents d LEFT JOIN pd USING (doc_id)
         |  WHERE d.doc_id % 50 <> 0 AND coalesce(pd.dup_frac_e4, 0) < 3000
         |), sh4 AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 4
         |    THEN list_distinct(list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' ')))
         |    ELSE [] END AS sh
         |  FROM toks
         |), ex AS (
         |  SELECT doc_id, unnest(sh) AS s FROM sh4
         |), evh AS (
         |  SELECT DISTINCT ${hash60Sql("s")} AS h FROM ex WHERE doc_id % 50 = 0
         |), trh AS (
         |  SELECT doc_id, ${hash60Sql("s")} AS h FROM ex WHERE doc_id % 50 <> 0
         |), flagged AS (
         |  SELECT DISTINCT t.doc_id FROM trh t JOIN evh e ON t.h = e.h
         |), clean AS (
         |  SELECT k.doc_id, k.lang FROM kept k
         |  WHERE k.doc_id NOT IN (SELECT doc_id FROM flagged)
         |), nl AS (
         |  SELECT lang, count(*) AS n FROM clean GROUP BY 1
         |), r AS (
         |  SELECT lang, least(10000, (10000 * 25) // n) AS rate_e4 FROM nl
         |), samp AS (
         |  SELECT c2.doc_id, c2.lang FROM clean c2 JOIN r USING (lang)
         |  WHERE ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 10000 < rate_e4
         |), tt AS (
         |  SELECT s2.doc_id, s2.lang, CAST(len(t2.tk) AS BIGINT) AS n_tokens
         |  FROM samp s2 JOIN toks t2 USING (doc_id)
         |), cc AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
         |  FROM tt
         |)
         |SELECT doc_id, lang, n_tokens, tok_start,
         |  tok_start // 512 AS chunk_first,
         |  CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
         |    ELSE tok_start // 512 END AS chunk_last
         |FROM cc ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_sample_hash", (s, d) => {
      // reproducible train/holdout assignment: hash the id, never rand()
      documents(s, d).select(col("doc_id"),
          Sampling.hashBucket(col("doc_id"), 1000).as("bucket"),
          Sampling.hashSplit(col("doc_id"), 1000, 50).as("split"))
        .orderBy(col("doc_id"))
    },
      // DuckDB twin of Sampling.hashBucket/hashSplit: same 60-bit md5 fold
      s"""SELECT doc_id,
         |  ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
         |  CASE WHEN ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 1000 < 50
         |       THEN 'holdout' ELSE 'train' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_sample_stratified", (s, d) => {
      // per-language budget rebalancing: keep-rate = min(1, budget/count)
      // in exact permyriad, survivor iff deterministic hash bucket < rate.
      // The fact side is never shuffled — counts are one map-side agg,
      // the filter is narrow after a keyed (unhinted) join with rates
      Sampling.stratifiedSample(documents(s, d), "lang", "doc_id",
          perKeyBudget = 30)
        .select(col("doc_id"), col("lang"), col("rate_e4"))
        .orderBy(col("doc_id"))
    },
      // stratifiedSample replayed: exact permyriad rates from group counts,
      // the same md5-fold bucket, floor division throughout
      s"""WITH n AS (
         |  SELECT lang, count(*) AS n FROM documents GROUP BY 1
         |), r AS (
         |  SELECT lang, least(10000, (10000 * 30) // n) AS rate_e4 FROM n
         |)
         |SELECT doc_id, lang, rate_e4
         |FROM documents JOIN r USING (lang)
         |WHERE ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 10000 < rate_e4
         |ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_source_cap", (s, d) => {
      // per-source document quota (web-corpus domain balancing): at most
      // 10 docs per source, chosen by the deterministic hash order; the
      // salted two-phase plan is proven identical to the plain window in
      // SamplingSpec — the oracle is the plain window
      Sampling.perKeyCap(documents(s, d), "source",
          Dedup.hash60(col("doc_id").cast("string")), "doc_id", k = 10, salt = 8)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // the salted two-phase cap is proven identical to the plain window in
      // SamplingSpec, so the oracle IS the plain window
      s"""WITH ranked AS (
         |  SELECT doc_id, source, row_number() OVER (
         |    PARTITION BY source
         |    ORDER BY ${hash60Sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rn
         |  FROM documents
         |)
         |SELECT doc_id, source FROM ranked WHERE rn <= 10 ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_url_canonical", (s, d) => {
      // canonical-URL dedup key + registered domain — the fixture has no
      // URL column, so a messy URL is synthesized deterministically from
      // (doc_id, source) in BOTH engines and canonicalized independently
      // (the oracle re-implements the full recipe in DuckDB SQL). Narrow
      // builtin string expressions only: at 100 TB this is a pure map.
      documents(s, d)
        .withColumn("_url", messyUrl)
        .select(col("doc_id"),
          UrlOps.canonicalUrl(col("_url")).as("url_canon"),
          UrlOps.registeredDomain(col("_url")).as("domain"))
        .orderBy(col("doc_id"))
    },
      // full canonicalization recipe re-implemented in DuckDB over the same
      // synthesized messy URL
      s"""WITH raw AS (
         |  SELECT doc_id, $messyUrlSql AS url FROM documents
         |), $urlPartsSql
         |SELECT doc_id, url_canon, domain FROM canon ORDER BY doc_id""".stripMargin),

    CatalogEntry("d_domain_cap", (s, d) => {
      // per-REGISTERED-DOMAIN quota — d_source_cap rekeyed through real
      // URL machinery: every www.srcN.example.com subdomain folds into
      // example.com (and the %5 residue into example.co.uk), so 500 docs
      // collapse onto 2 domains — exactly the hot-domain skew the salted
      // two-phase cap exists for
      Sampling.perKeyCap(
          documents(s, d).withColumn("domain", UrlOps.registeredDomain(messyUrl)),
          "domain", Dedup.hash60(col("doc_id").cast("string")), "doc_id",
          k = 10, salt = 8)
        .select(col("doc_id"), col("domain"))
        .orderBy(col("doc_id"))
    },
      // registered-domain quota: the salted two-phase cap ≡ plain window
      // (proven in SamplingSpec), so the oracle is the window over the
      // DuckDB-computed domain
      s"""WITH raw AS (
         |  SELECT doc_id, $messyUrlSql AS url FROM documents
         |), $urlPartsSql, ranked AS (
         |  SELECT doc_id, domain, row_number() OVER (
         |    PARTITION BY domain
         |    ORDER BY ${hash60Sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rn
         |  FROM canon
         |)
         |SELECT doc_id, domain FROM ranked WHERE rn <= 10 ORDER BY doc_id""".stripMargin))
}
