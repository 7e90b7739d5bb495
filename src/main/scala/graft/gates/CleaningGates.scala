package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._

/** Text normalization, HTML extraction, URL/link and redaction gates over `documents`. */
private[graft] object CleaningGates {

  /** The smallest url_id per canonical URL of the golden URL fixture,
    * which the batch and the streaming URL dedup both keep. */
  private[gates] val urlDedupSql =
    "SELECT CAST(MIN(url_id) AS BIGINT) AS url_id " +
      s"FROM read_parquet('$goldenDir/urls_sf001.parquet') " +
      "GROUP BY canonical"

  val gates: Seq[Gate] = Seq(
    // PII redaction: email/IPv4/digit-run scrub with RE2-safe patterns; the
    // PII is synthesized from doc_id (corpus text carries none by itself)
    // unicode canonicalization kernel: the fixture text is ASCII, so the
    // gate plants the hazards — a decomposed accent (NFC composes it),
    // control chars (stripped), ragged whitespace (collapsed/trimmed) —
    // and hash-compares the normalized strings against DuckDB's
    // nfc_normalize + regex replay of the same semantics.
    Gate("canonicalize_text", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextFunctions.canonicalizeText(
          concat(col("text"), lit(" cafe\u0301\u0001\u000b x\tY  z ")))
          .as("norm_text")),
      // the kernel's exact contract: NFC compose, strip C0-except-\t\n\f\r
      // plus DEL, collapse [\t\n\f\r ] runs, trim — replayed as
      // nfc_normalize + two regex passes over the same planted suffix
      "SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(" +
        "text || ' cafe' || chr(769) || chr(1) || chr(11) || ' x' || chr(9) || 'Y  z '), " +
        "'[\\x00-\\x08\\x0b\\x0e-\\x1f\\x7f]', '', 'g'), " +
        "'[\\t\\n\\f\\r ]+', ' ', 'g')) AS norm_text FROM documents"),

    // HTML-to-text extraction: each document wrapped in synthetic markup
    // (tags, script, comment, entities) in-plan, then stripped — both
    // engines build the identical input and replay the identical RE2-safe
    // regex chain, so the extraction itself is what hash-matches
    Gate("html_extract", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.Html.stripHtml(concat(
          lit("<html><head><style>p{color:red}</style>" +
            "<script type=\"text/javascript\">var x=1;</script></head>" +
            "<body><!-- crawl artifact --><p>"),
          col("text"),
          lit("</p><div>&quot;quoted&quot; &amp;amp; x &lt; y&#65;</div></body></html>")))
          .as("clean_text")),
      // single alternation pass, identical pattern text in both engines
      // the same synthetic wrap + the same RE2-safe chain, nested
      // programmatically so the step order is readable and the parens match
      {
      val wrapped =
        "'<html><head><style>p{color:red}</style>" +
          "<script type=\"text/javascript\">var x=1;</script></head>" +
          "<body><!-- crawl artifact --><p>' || text || " +
          "'</p><div>&quot;quoted&quot; &amp;amp; x &lt; y&#65;</div></body></html>'"
      val steps: Seq[(String, String)] = Seq(
        "'(?is)<script\\b[^>]*>.*?</script>|<style\\b[^>]*>.*?</style>'" -> "' '",
        "'(?s)<!--.*?-->'" -> "' '",
        "'<[^>]*>'" -> "' '",
        "'&nbsp;'" -> "' '",
        "'&lt;'" -> "'<'",
        "'&gt;'" -> "'>'",
        "'&quot;'" -> "'\"'",
        "'&apos;'" -> "''''",
        "'&#[0-9]{1,8};|&#[xX][0-9A-Fa-f]{1,6};'" -> "' '",
        "'&amp;'" -> "'&'",
        "'[ \\t\\r\\n]+'" -> "' '")
      val chain = steps.foldLeft(s"($wrapped)") { case (acc, (pat, rep)) =>
        s"regexp_replace($acc, $pat, $rep, 'g')"
      }
      s"SELECT doc_id, trim($chain) AS clean_text FROM documents"
    }),

    // the decode mode: numeric character references become their actual
    // code points via the codegen'd kernel (a computed character is not
    // expressible as a portable regex), so the oracle is the planted golden
    // fixture — expected outputs computed by an independent python
    // replication of the chain + decode rules (tools/make_golden.py)
    Gate("html_extract_decoded", (s, dir) =>
      s.read.parquet(s"$goldenDir/html.parquet").select(col("html_id"),
        graft.text.Html.stripHtml(col("html"), decodeNumericEntities = true)
          .as("clean_text")),
      "SELECT html_id, clean_text " +
        s"FROM read_parquet('$goldenDir/html.parquet')"),

    // mojibake repair (P76): UTF-8-read-as-cp1252 corruption inverted by
    // the codegen'd kernel (explicit cp1252 inverse table + strict UTF-8
    // re-decode to a fixpoint, whole-string-or-nothing). Oracle: planted
    // golden fixture from an independent python replication of the exact
    // table and rules (tools/make_golden.py make_mojibake_fixture), with
    // every real document's text corrupted the way the wild does
    Gate("fix_mojibake", (s, dir) =>
      s.read.parquet(s"$goldenDir/mojibake_sf001.parquet").select(col("moji_id"),
        graft.functions.vectors.fix_mojibake(col("corrupted")).as("fixed_text")),
      "SELECT moji_id, fixed_text " +
        s"FROM read_parquet('$goldenDir/mojibake_sf001.parquet')"),

    // line-break dehyphenation (P107): the crawl/OCR/PDF-text repair —
    // `exam-\nple` rejoins to `example` under a fully-specified byte-level
    // single-pass rule (lowercase continuation only; '--', uppercase,
    // digits, mid-line hyphens preserved; chained breaks repair in one
    // pass). Oracle: golden fixture from the independent python replication
    // (tools/make_golden.py make_dehyphenate_fixture) over every document
    // plus planted edge cases
    Gate("text_dehyphenate", (s, dir) =>
      s.read.parquet(s"$goldenDir/dehyphenate_sf001.parquet").select(col("hy_id"),
        graft.functions.vectors.dehyphenate(col("broken")).as("fixed_text")),
      "SELECT hy_id, fixed_text " +
        s"FROM read_parquet('$goldenDir/dehyphenate_sf001.parquet')"),

    // P121 Luhn-validated card redaction: maximal digit runs with single
    // space/dash group separators redact ONLY when 13..19 digits pass the
    // ISO/IEC 7812 mod-10 checksum — the precision upgrade over the bare
    // digit-run regex (order ids / timestamps survive). Fixture expected
    // values come from the independent byte-level python replication
    // (tools/make_golden.py make_luhn_fixture).
    Gate("redact_cards", (s, dir) =>
      s.read.parquet(s"$goldenDir/luhn_sf001.parquet").select(col("card_id"),
        graft.functions.vectors.redact_valid_cards(col("raw")).as("redacted"),
        graft.functions.vectors.valid_card_count(col("raw")).as("n_cards")),
      "SELECT card_id, redacted, n_cards " +
        s"FROM read_parquet('$goldenDir/luhn_sf001.parquet')"),

    // link-density stats over text-embedded URLs (the link-farm/nav-page
    // quality signal): URLs planted in-plan (incl. a duplicate and
    // prose-boundary parens), extraction + counts + one IEEE division all
    // replayed by DuckDB with the IDENTICAL regex (plain RE2 syntax)
    Gate("link_density", (s, dir) => {
      val t0 = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" see https://ex.com/a?b=1 and " +
          "http://sub.ex.org/p, again (https://ex.com/a?b=1) end")).as("tt"))
      graft.text.Urls.withLinkStats(t0, col("tt"))
        .select(col("doc_id"), col("n_urls"), col("n_distinct_urls"),
          col("url_chars"), col("link_density"))
    },
      // identical RE2 pattern text in both engines; counts exact integers,
      // link_density one IEEE division
      "WITH t AS (SELECT doc_id, text || ' see https://ex.com/a?b=1 and " +
        "http://sub.ex.org/p, again (https://ex.com/a?b=1) end' AS tt FROM documents), " +
        "u AS (SELECT doc_id, tt, " +
        "regexp_extract_all(tt, 'https?://[^\\s<>\"'')\\]]+') AS urls FROM t) " +
        "SELECT doc_id, CAST(len(urls) AS INT) AS n_urls, " +
        "CAST(len(list_distinct(urls)) AS INT) AS n_distinct_urls, " +
        "CAST(COALESCE(list_sum(list_transform(urls, x -> length(x))), 0) AS INT) AS url_chars, " +
        "CASE WHEN length(tt) = 0 THEN 0.0 ELSE " +
        "CAST(COALESCE(list_sum(list_transform(urls, x -> length(x))), 0) AS DOUBLE) / " +
        "CAST(length(tt) AS DOUBLE) END AS link_density FROM u"),

    // URL canonicalization family (P64): planted hazard URLs + per-doc
    // synthetic pairs, kernels vs the independent python replication of
    // the documented rule set (tools/make_golden.py)
    Gate("url_canonicalize", (s, dir) =>
      s.read.parquet(s"$goldenDir/urls_sf001.parquet").select(col("url_id"),
        graft.text.Urls.canonicalizeUrl(col("url")).as("canonical"),
        graft.text.Urls.urlHost(col("url")).as("host"),
        graft.text.Urls.registrableDomain(col("url")).as("domain")),
      "SELECT url_id, canonical, host, domain " +
        s"FROM read_parquet('$goldenDir/urls_sf001.parquet')"),

    // URL-level dedup: keep the smallest id per canonical form; the oracle
    // re-derives the keep set in DuckDB from the fixture's canonical column
    Gate("url_dedup", (s, dir) =>
      graft.text.Urls.dedupByCanonicalUrl(
        s.read.parquet(s"$goldenDir/urls_sf001.parquet"), col("url_id"), col("url"))
        .select(col("url_id")),
      urlDedupSql),

    // per-domain cap (anti-boilerplate guard): deterministic md5-ranked
    // k-per-registrable-domain draw; oracle replays the ranking in DuckDB
    // over the fixture's domain column
    Gate("url_domain_cap", (s, dir) =>
      graft.text.Urls.capPerDomain(
        s.read.parquet(s"$goldenDir/urls_sf001.parquet").select(col("url_id"), col("url")),
        col("url_id"), col("url"), maxPerDomain = 5)
        .select(col("url_id")),
      "SELECT url_id FROM (SELECT url_id, row_number() OVER " +
        "(PARTITION BY domain ORDER BY md5('graft' || CAST(url_id AS VARCHAR)), url_id) AS rk " +
        s"FROM read_parquet('$goldenDir/urls_sf001.parquet')) WHERE rk <= 5"),

    // P94 link-graph authority rank: a deterministic synthetic citation
    // graph over the documents sources (two derived outlinks per doc into
    // the same namespace => cycles, self-loops, varying degrees), 3
    // fixed-point-integer PageRank iterations — the oracle replays the
    // documented integer recurrence bit-for-bit (no float summation
    // anywhere, so engine accumulation order cannot matter)
    Gate("link_rank", (s, dir) => {
      val docs = t(s, dir, "documents")
      val e = docs.select(col("source").as("src"),
          concat(lit("src"), pmod(col("doc_id") * 7 + 3, lit(20))).as("dst"))
        .union(docs.select(col("source").as("src"),
          concat(lit("src"), pmod(col("doc_id") * 13 + 5, lit(20))).as("dst")))
      graft.graph.LinkRank.rank(e, col("src"), col("dst"), iterations = 3)
        .select(col("node"), col("rank_fp"), col("rank").as("rank_score"))
    },
      // the whole fixed-point PageRank recurrence replayed in integer
      // arithmetic: same edge construction, same left-associated integer
      // divisions, 3 unrolled iterations — bit-for-bit by construction
      {
      val base = "((1000000000000 * 15 // 100) // p.n)"
      def step(i: Int): String = {
        val prev = if (i == 1) "r0" else s"r${i - 1}"
        s"s$i AS (SELECT e.dst, SUM($prev.r // od.outdeg) AS inflow " +
          s"FROM e JOIN $prev ON e.src = $prev.node " +
          "JOIN od ON e.src = od.src GROUP BY e.dst), " +
          s"r$i AS (SELECT nodes.node, $base + ((85 * COALESCE(s$i.inflow, 0)) // 100) AS r " +
          s"FROM nodes CROSS JOIN p LEFT JOIN s$i ON nodes.node = s$i.dst)"
      }
      "WITH e0 AS (" +
        "SELECT source AS src, 'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst FROM documents " +
        "UNION ALL " +
        "SELECT source AS src, 'src' || CAST((doc_id * 13 + 5) % 20 AS VARCHAR) AS dst FROM documents), " +
        "e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e), " +
        "p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes), " +
        "od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src), " +
        "r0 AS (SELECT node, 1000000000000 // p.n AS r FROM nodes CROSS JOIN p), " +
        step(1) + ", " + step(2) + ", " + step(3) + " " +
        // DuckDB SUM(BIGINT) promotes to HUGEINT -> pandas float64; cast back
        // so the oracle compare hashes int64 against Spark's LongType.
        "SELECT node, CAST(r AS BIGINT) AS rank_fp, CAST(r AS DOUBLE) / 1000000000000.0 AS rank_score FROM r3"
    }),

    // the full-entity mode: the HTML 4.01 named set (+ apos) AND numeric
    // refs decode in ONE left-to-right kernel pass (double escapes drop
    // exactly one level, unknown names stay literal). Oracle: planted
    // golden fixture replicated in python against the stdlib
    // html.entities table — never this kernel's own map
    Gate("html_extract_entities", (s, dir) =>
      s.read.parquet(s"$goldenDir/html_entities.parquet").select(col("html_id"),
        graft.text.Html.stripHtml(col("html"), decodeNamedEntities = true)
          .as("clean_text")),
      "SELECT html_id, clean_text " +
        s"FROM read_parquet('$goldenDir/html_entities.parquet')"),

    // accent folding: planted diacritics over every doc; NFD-drop-Mn must
    // agree with DuckDB's strip_accents on the decomposable set
    Gate("fold_accents", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextFunctions.foldAccents(concat(col("text"),
          lit(" café über niño ça čech à ö")))
          .as("folded")),
      "SELECT doc_id, strip_accents(text || ' café über niño ça čech à ö') " +
        "AS folded FROM documents"),

    Gate("redact_pii", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.Redact.redactPii(concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.org or 10.2."), (col("doc_id") % 256).cast("string"),
          lit(".77 acct 900123456789"))).as("redacted")),
      "SELECT doc_id, regexp_replace(" +
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org or 10.2.' || " +
        "CAST(doc_id % 256 AS VARCHAR) || '.77 acct 900123456789', " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" +
        "|\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" +
        "|\\b\\d{9,}\\b', '[REDACTED]', 'g') AS redacted FROM documents"),
  )
}
