package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._

/** Text statistics, quality signals and n-gram gates over `documents`. */
private[graft] object TextGates {

  // first 16 md5 bits of "<d>:<key>" mod 1024 — the CountMinKernels.bucket
  // contract, decoded hex-char-by-hex-char (the classifier_score idiom)
  private def cmsBucket(key: String): String =
    s"((strpos('0123456789abcdef', substring(md5(d || ':' || $key), 1, 1)) - 1) * 4096 + " +
      s"(strpos('0123456789abcdef', substring(md5(d || ':' || $key), 2, 1)) - 1) * 256 + " +
      s"(strpos('0123456789abcdef', substring(md5(d || ':' || $key), 3, 1)) - 1) * 16 + " +
      s"(strpos('0123456789abcdef', substring(md5(d || ':' || $key), 4, 1)) - 1)) % 1024"

  /** The DSIR fit over the token+bigram feature stream: md5-first-byte
    * buckets, add-one-smoothed target (English) and raw counts, totals. */
  private val dsirFitCtes =
    s"WITH $docTokCte, " +
      "feats AS (SELECT doc_id, u.t AS g FROM tok, unnest(toks) AS u(t) " +
      "UNION ALL SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g " +
      "FROM tok, unnest(range(1, len(toks))) AS r(i)), " +
      "fb AS (SELECT f.doc_id, " +
      "(strpos('0123456789abcdef', substring(md5(f.g), 1, 1)) - 1) * 16 + " +
      "(strpos('0123456789abcdef', substring(md5(f.g), 2, 1)) - 1) AS bucket FROM feats f), " +
      "tcnt AS (SELECT bucket, COUNT(*) AS c FROM fb JOIN documents d USING (doc_id) " +
      "WHERE d.lang = 'en' GROUP BY bucket), " +
      "rcnt AS (SELECT bucket, COUNT(*) AS c FROM fb GROUP BY bucket), " +
      "all_b AS (SELECT r.b AS bucket FROM range(0, 256) AS r(b)), " +
      "j AS (SELECT all_b.bucket, COALESCE(tcnt.c, 0) AS target_cnt, " +
      "COALESCE(rcnt.c, 0) AS raw_cnt FROM all_b " +
      "LEFT JOIN tcnt USING (bucket) LEFT JOIN rcnt USING (bucket)), "

  /** Every token 3-gram window of every doc with its md5-prefix hash. */
  private val spanWindowsCte =
    s"WITH $docTokCte, " +
      "w AS (SELECT doc_id, i - 1 AS pos, " +
      "substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 16) AS h " +
      "FROM tok, unnest(range(1, len(toks) - 1)) AS r(i)), "

  /** Duplicate windows `dw` merged into per-doc token islands [s, e]. */
  private val spanIslandCtes =
    "i0 AS (SELECT doc_id, pos, MAX(pos + 2) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM dw), " +
      "i1 AS (SELECT doc_id, pos, CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END AS ni FROM i0), " +
      "i2 AS (SELECT doc_id, pos, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i1), " +
      "isl AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos + 2) AS e FROM i2 GROUP BY doc_id, island), "

  /** Each doc rebuilt without its island tokens, with the removed count. */
  private val spanRemovalSql =
    "cp AS (SELECT doc_id, r.ti FROM isl, unnest(range(s, e + 1)) AS r(ti)), " +
      "idx AS (SELECT t.doc_id, r.ti, t.toks[r.ti + 1] AS tok " +
      "FROM tok t, unnest(range(0, len(t.toks))) AS r(ti)), " +
      "kept AS (SELECT idx.doc_id, idx.ti, idx.tok FROM idx " +
      "LEFT JOIN cp ON cp.doc_id = idx.doc_id AND cp.ti = idx.ti WHERE cp.doc_id IS NULL), " +
      "reb AS (SELECT doc_id, array_to_string(list(tok ORDER BY ti), ' ') AS clean_text, " +
      "CAST(COUNT(*) AS BIGINT) AS kept FROM kept GROUP BY doc_id) " +
      "SELECT t.doc_id, COALESCE(reb.clean_text, '') AS clean_text, " +
      "CAST(len(t.toks) - COALESCE(reb.kept, 0) AS BIGINT) AS removed_tokens " +
      "FROM tok t LEFT JOIN reb USING (doc_id)"

  /** Marker-word hits per language (s_en, s_fr, s_de, s_es) over `toks`:
    * the langid scores of the langid and curation oracles. */
  private[gates] val langScoreCols =
    "len(list_intersect(list_distinct(toks), ['the','and','of','to','in','is','that','it','for','with'])) AS s_en, " +
      "len(list_intersect(list_distinct(toks), ['le','la','les','des','et','une','est','que','pour','dans'])) AS s_fr, " +
      "len(list_intersect(list_distinct(toks), ['der','die','das','und','ist','nicht','ein','mit','von','auf'])) AS s_de, " +
      "len(list_intersect(list_distinct(toks), ['el','los','las','una','es','que','por','para','como','pero'])) AS s_es"

  val gates: Seq[Gate] = Seq(
    // text analysis: token/quality stats (ASCII tokens for oracle parity).
    // One fused codegen'd kernel pass per document — no interpreted HOFs;
    // token chars == bytes for ASCII tokens, so avg length matches the oracle.
    Gate("text_stats", (s, dir) => {
      import graft.text.TextFunctions._
      t(s, dir, "documents")
        .withColumn("st", tokenStatsAscii(col("text"), EnglishStopwords))
        .select(
          col("doc_id"),
          col("st")(0).as("n_tokens"),
          col("st")(1).as("distinct_tokens"),
          when(col("st")(0) === 0, lit(0.0))
            .otherwise(col("st")(2).cast("double") / col("st")(0).cast("double"))
            .as("avg_token_len"),
          when(col("st")(0) === 0, lit(0.0))
            .otherwise(col("st")(3).cast("double") / col("st")(0).cast("double"))
            .as("stopword_ratio"))
    },
      s"WITH $docTokCte SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_distinct(toks)) AS BIGINT) AS distinct_tokens, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS avg_token_len, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)]) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stopword_ratio " +
        "FROM tok"),

    // unicode script-mix profile (multilingual curation signal): explicit
    // codepoint ranges — engine-portable by construction, unlike
    // Character.UnicodeScript whose tables move with the JDK. One fused
    // kernel pass per document, narrow.
    Gate("script_mix", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.vectors.script_profile(col("text")).as("sp"))
        .select(col("doc_id"),
          col("sp")(0).as("n_codepoints"), col("sp")(1).as("latin"),
          col("sp")(2).as("cyrillic"), col("sp")(3).as("greek"),
          col("sp")(4).as("arabic"), col("sp")(5).as("cjk"),
          col("sp")(6).as("digit")),
      // the same explicit ranges as regex classes; length() counts
      // codepoints in DuckDB exactly as the kernel does (astral = 1)
      "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_codepoints, " +
        "CAST(length(regexp_replace(text, '[^A-Za-z\\x{00C0}-\\x{024F}]', '', 'g')) AS BIGINT) AS latin, " +
        "CAST(length(regexp_replace(text, '[^\\x{0400}-\\x{04FF}]', '', 'g')) AS BIGINT) AS cyrillic, " +
        "CAST(length(regexp_replace(text, '[^\\x{0370}-\\x{03FF}]', '', 'g')) AS BIGINT) AS greek, " +
        "CAST(length(regexp_replace(text, '[^\\x{0600}-\\x{06FF}]', '', 'g')) AS BIGINT) AS arabic, " +
        "CAST(length(regexp_replace(text, '[^\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}\\x{AC00}-\\x{D7AF}]', '', 'g')) AS BIGINT) AS cjk, " +
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit " +
        "FROM documents"),

    // multi-pattern substring blocklist: which fixed phrases occur verbatim
    // in each document — ONE Aho-Corasick byte pass regardless of list size
    // (N contains() calls would each rescan the text). Overlapping patterns
    // ("can" inside "scan") exercise the fail links; one row per hit.
    Gate("pattern_hits", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        explode(graft.functions.vectors.matched_patterns(col("text"),
          PatternList)).as("pattern_id")),
      // one literal list, replayed as a VALUES join with contains()
      "WITH p(i, s) AS (VALUES " +
        PatternList.zipWithIndex
          .map { case (s, i) => s"($i, '$s')" }.mkString(", ") +
        ") SELECT d.doc_id, CAST(p.i AS INT) AS pattern_id " +
        "FROM documents d, p WHERE contains(d.text, p.s)"),

    // Flesch readability counters + score (a standard cheap quality
    // signal): one fused kernel pass; planted suffix exercises the
    // vowel-less floor ("zzz", "brr", the lone "N"), multi-run syllables
    // ("queueing"), and punctuation-run sentence counting. DuckDB replays
    // the identical regex rules + the one fixed IEEE expression.
    Gate("text_readability", (s, dir) => {
      import graft.text.TextFunctions._
      val t0 = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" Planted: zzz brr!!! A queueing bee? N0 v0wels end")).as("tt"))
      t0.select(col("doc_id"),
        get(readabilityStats(col("tt")), lit(0)).as("n_words"),
        get(readabilityStats(col("tt")), lit(1)).as("n_sentences"),
        get(readabilityStats(col("tt")), lit(2)).as("n_syllables"),
        fleschScore(col("tt")).as("flesch"))
    },
      // identical letter/punctuation/vowel-run regex rules + the fixed IEEE
      // Flesch expression, replayed on the same planted suffix
      "WITH t AS (SELECT doc_id, text || " +
        "' Planted: zzz brr!!! A queueing bee? N0 v0wels end' AS tt FROM documents), " +
        "c AS (SELECT doc_id, regexp_extract_all(tt, '[A-Za-z]+') AS ws, " +
        "GREATEST(1, len(regexp_extract_all(tt, '[.!?]+'))) AS ns FROM t), " +
        "m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, " +
        "CAST(ns AS BIGINT) AS n_sentences, " +
        "CAST(COALESCE(list_sum(list_transform(ws, w -> " +
        "GREATEST(1, len(regexp_extract_all(lower(w), '[aeiouy]+'))))), 0) AS BIGINT) AS n_syllables " +
        "FROM c) " +
        "SELECT doc_id, n_words, n_sentences, n_syllables, " +
        "CASE WHEN n_words = 0 THEN 0.0 ELSE " +
        "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) " +
        "- 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) END AS flesch FROM m"),

    // blocklist masking (the removal twin of pattern_hits): leftmost-longest
    // non-overlapping occurrences replaced in place, one Aho-Corasick pass.
    // Oracle: golden fixture from an independent python replication of the
    // documented selection rule over UTF-8 bytes (tools/make_golden.py
    // make_mask_fixture — planted nested/overlapping/adjacent/multibyte
    // hazards + every sf0.01 doc text with planted phrases)
    Gate("mask_blocklist", (s, dir) =>
      s.read.parquet(s"$goldenDir/mask_sf001.parquet").select(col("mask_id"),
        graft.functions.vectors.mask_patterns(col("text"), MaskGatePatterns)
          .as("masked_text")),
      // planted golden from the independent python replication of the
      // leftmost-longest byte-level masking contract (make_mask_fixture)
      "SELECT mask_id, masked_text " +
        s"FROM read_parquet('$goldenDir/mask_sf001.parquet')"),

    // language identification (marker-word heuristic, deterministic tie-break)
    Gate("text_langid", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextFunctions.langId(col("text"),
          graft.text.TextFunctions.AsciiTokenPattern).as("pred_lang")),
      s"WITH $docTokCte, sc AS (SELECT doc_id, " +
        langScoreCols + " FROM tok) " +
        "SELECT doc_id, CASE WHEN s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0 THEN 'und' " +
        "WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en' " +
        "WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr' " +
        "WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS pred_lang FROM sc"),

    // document fingerprinting (md5 over normalized text; engine-portable)
    Gate("text_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextFunctions.fingerprintMd5(col("text")).as("fp")),
      "SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM documents"),

    // n-gram repetition signals (Gopher-style quality filters): total/top
    // occurrence counts for 1/2/3-grams plus the top-bigram fraction. One
    // fused codegen'd kernel pass per n — no interpreted HOFs; the fraction
    // is int/int division in double (bitwise-identical across engines).
    Gate("text_repetition", (s, dir) => {
      import graft.text.TextFunctions._
      t(s, dir, "documents")
        .withColumn("s1", topNgramStats(col("text"), 1))
        .withColumn("s2", topNgramStats(col("text"), 2))
        .withColumn("s3", topNgramStats(col("text"), 3))
        .select(
          col("doc_id"),
          col("s1")(0).as("n1_total"), col("s1")(1).as("n1_top"),
          col("s2")(0).as("n2_total"), col("s2")(1).as("n2_top"),
          col("s3")(0).as("n3_total"), col("s3")(1).as("n3_top"),
          when(col("s2")(0) === 0, lit(0.0))
            .otherwise(col("s2")(1).cast("double") / col("s2")(0).cast("double"))
            .as("top_bigram_fraction"))
    },
      s"WITH $docTokCte, g AS (SELECT doc_id, toks, " +
        "CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS g2, " +
        "CASE WHEN len(toks) < 3 THEN [] ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)] END AS g3 " +
        "FROM tok), m AS (SELECT doc_id, " +
        "len(toks) AS t1, CASE WHEN len(toks) = 0 THEN 0 ELSE COALESCE(list_max([len([y for y in toks if y = x]) for x in list_distinct(toks)]), 0) END AS p1, " +
        "len(g2) AS t2, CASE WHEN len(g2) = 0 THEN 0 ELSE COALESCE(list_max([len([y for y in g2 if y = x]) for x in list_distinct(g2)]), 0) END AS p2, " +
        "len(g3) AS t3, CASE WHEN len(g3) = 0 THEN 0 ELSE COALESCE(list_max([len([y for y in g3 if y = x]) for x in list_distinct(g3)]), 0) END AS p3 " +
        "FROM g) " +
        "SELECT doc_id, CAST(t1 AS BIGINT) AS n1_total, CAST(p1 AS BIGINT) AS n1_top, " +
        "CAST(t2 AS BIGINT) AS n2_total, CAST(p2 AS BIGINT) AS n2_top, " +
        "CAST(t3 AS BIGINT) AS n3_total, CAST(p3 AS BIGINT) AS n3_top, " +
        "CASE WHEN t2 = 0 THEN 0.0 ELSE CAST(p2 AS DOUBLE) / CAST(t2 AS DOUBLE) END AS top_bigram_fraction " +
        "FROM m"),

    // corpus-wide boilerplate report: the 20 bigrams present in the most
    // documents. Kernel shingles + map-side-combined count + TakeOrdered
    // top-k (no global sort).
    Gate("top_ngrams", (s, dir) =>
      graft.text.CorpusStats.topNgrams(t(s, dir, "documents"), col("text"), n = 2, k = 20),
      s"WITH $docTokCte, g AS (SELECT doc_id, " +
        "CASE WHEN len(toks) < 2 THEN [] ELSE list_distinct([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) END AS g2 " +
        "FROM tok), ex AS (SELECT u.g AS gram FROM g, unnest(g.g2) AS u(g)) " +
        "SELECT gram, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM ex " +
        "GROUP BY gram ORDER BY doc_freq DESC, gram LIMIT 20"),

    // per-document duplicate-text-mass profile: fraction of each document's
    // distinct trigram set shared with >= 2 documents. Doc-freq agg combines
    // map-side; only the duplicated gram mass re-enters a shuffle (left-semi
    // on the dup-gram set); per-doc totals are a narrow kernel size() column.
    Gate("novelty_profile", (s, dir) =>
      graft.text.CorpusStats.noveltyProfile(
        t(s, dir, "documents"), col("doc_id"), col("text"), n = 3),
      // same tokenizer, distinct trigrams per doc, doc-freq >= 2 marks a
      // gram duplicated; dup_fraction is the same IEEE division of two longs
      s"WITH $docTokCte, g AS (SELECT doc_id, " +
        "CASE WHEN len(toks) < 3 THEN [] ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) END AS gs " +
        "FROM tok), " +
        "ex AS (SELECT doc_id, u.g AS gram FROM g, unnest(g.gs) AS u(g)), " +
        "dfq AS (SELECT gram FROM ex GROUP BY gram HAVING count(*) >= 2), " +
        "dup AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup FROM ex JOIN dfq USING (gram) GROUP BY doc_id) " +
        "SELECT g.doc_id AS id, CAST(len(g.gs) AS BIGINT) AS n_grams, " +
        "COALESCE(d.dup, 0) AS dup_grams, " +
        "CASE WHEN len(g.gs) = 0 THEN NULL ELSE " +
        "CAST(COALESCE(d.dup, 0) AS DOUBLE) / CAST(len(g.gs) AS DOUBLE) END AS dup_fraction " +
        "FROM g LEFT JOIN dup d USING (doc_id)"),

    // one-row corpus duplicate-mass report over the same trigrams: one
    // map-side-combining gram aggregation + a scalar aggregate over the
    // vocabulary-sized doc-freq table — decides whether span dedup is worth
    // running before paying for it.
    Gate("dup_gram_mass", (s, dir) =>
      graft.text.CorpusStats.duplicateGramMass(
        t(s, dir, "documents"), col("text"), n = 3),
      s"WITH $docTokCte, g AS (SELECT doc_id, " +
        "CASE WHEN len(toks) < 3 THEN [] ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) END AS gs " +
        "FROM tok), " +
        "ex AS (SELECT doc_id, u.g AS gram FROM g, unnest(g.gs) AS u(g)), " +
        "dfq AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY gram) " +
        "SELECT CAST(sum(df) AS BIGINT) AS gram_occurrences, " +
        "CAST(count(*) AS BIGINT) AS distinct_grams, " +
        "CAST(sum(CASE WHEN df >= 2 THEN df ELSE 0 END) AS BIGINT) AS dup_occurrences, " +
        "CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS distinct_dup_grams, " +
        "CAST(sum(CASE WHEN df >= 2 THEN df ELSE 0 END) AS DOUBLE) / CAST(sum(df) AS DOUBLE) AS dup_mass_fraction " +
        "FROM dfq"),

    // adaptive per-source quality cut: keep each source's top 30% by token
    // count (rank <= ceil(0.3 * group size)) — the threshold adapts to the
    // source instead of a global bar emptying weak sources. One exchange on
    // source; the group count rides the same partitioning as a window agg.
    Gate("quality_cut_per_source", (s, dir) => {
      import graft.text.TextFunctions._
      val scored = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        tokenStatsAscii(col("text"), EnglishStopwords)(0).as("n_tokens"))
      graft.agg.TopK.topFractionPerGroup(
        scored, Seq(col("source")),
        Seq(col("n_tokens").desc, col("doc_id").asc), 0.3)
    },
      // same tokenizer count, same total order, same IEEE ceil threshold
      s"WITH $docTokCte, t AS (SELECT d.doc_id, d.source, " +
        "CAST(len(tok.toks) AS BIGINT) AS n_tokens " +
        "FROM documents d JOIN tok ON tok.doc_id = d.doc_id), " +
        "r AS (SELECT t.*, row_number() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS rk, " +
        "count(*) OVER (PARTITION BY source) AS cnt FROM t) " +
        "SELECT doc_id, source, n_tokens, CAST(rk AS INT) AS rank " +
        "FROM r WHERE CAST(rk AS DOUBLE) <= ceil(0.3 * CAST(cnt AS DOUBLE))"),

    // the approximate (100 TB) quality-cut path: per-group threshold from
    // one mergeable percentile_approx + a narrow filter — no corpus sort,
    // no window. Sketch thresholds aren't engine-portable, so the gate is
    // a per-group boolean (kept count within the documented tolerance of
    // ceil(fraction·n)); DuckDB replays the group sizes and asserts TRUE.
    // The exact referee is quality_cut_per_source above.
    Gate("quality_cut_approx", (s, dir) => {
      import graft.text.TextFunctions._
      val scored = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        tokenStatsAscii(col("text"), EnglishStopwords)(0).as("n_tokens"))
      val kept = graft.agg.TopK.approxTopFractionPerGroup(
        scored, Seq(col("source")), col("n_tokens"), 0.3)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      scored.groupBy(col("source")).agg(count(lit(1)).as("n_rows"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_rows"),
          (coalesce(col("n_kept"), lit(0L)) >= lit(1L) &&
            abs(coalesce(col("n_kept"), lit(0L)).cast("double") -
              ceil(lit(0.3) * col("n_rows").cast("double")).cast("double")) <=
              greatest(lit(2.0), lit(0.15) * col("n_rows").cast("double")))
            .as("cut_ok"))
    },
      // boolean gate: DuckDB reproduces the per-source row counts and
      // asserts the tolerance verdict is true; a broken sketch/threshold/
      // join flips it to false on the Spark side
      "SELECT source, CAST(count(*) AS BIGINT) AS n_rows, TRUE AS cut_ok " +
        "FROM documents GROUP BY source"),

    // token-window chunking for training-data prep: one row per overlapping
    // 32-token chunk (stride 24). Narrow plan: kernel + partition-local
    // posexplode next to the scan, no shuffle.
    Gate("text_chunks", (s, dir) =>
      graft.text.TextFunctions.chunkByTokens(
        t(s, dir, "documents"), col("text"), 32, 8, col("doc_id")),
      s"WITH $docTokCte, c AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 24.0) AS BIGINT) AS nc " +
        "FROM tok WHERE len(toks) > 0) " +
        "SELECT doc_id, CAST(u.i AS INT) AS chunk_index, " +
        "array_to_string(toks[u.i * 24 + 1 : u.i * 24 + 32], ' ') AS chunk_text " +
        "FROM c, unnest(range(0, nc)) AS u(i)"),

    // per-source corpus quality report: integer counts aggregated exactly,
    // ratios as one double division of two exact sums (engine-portable).
    // One groupBy shuffle over tiny per-doc stat rows — the kernel runs
    // next to the scan, only (source, 4 longs) reaches the exchange.
    Gate("corpus_quality_report", (s, dir) => {
      import graft.text.TextFunctions._
      t(s, dir, "documents")
        .withColumn("st", tokenStatsAscii(col("text"), EnglishStopwords))
        .withColumn("g2", topNgramStats(col("text"), 2))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("st")(0)).as("total_tokens"),
          when(sum(col("st")(0)) === 0, lit(0.0))
            .otherwise(sum(col("st")(3)).cast("double") / sum(col("st")(0)).cast("double"))
            .as("stopword_ratio"),
          when(sum(col("g2")(0)) === 0, lit(0.0))
            .otherwise(sum(col("g2")(1)).cast("double") / sum(col("g2")(0)).cast("double"))
            .as("rep_bigram_fraction"))
    },
      s"WITH $docTokCte, st AS (SELECT doc_id, toks, " +
        "len(toks) AS n_tok, " +
        "len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)]) AS n_stop, " +
        "CASE WHEN len(toks) < 2 THEN 0 ELSE len(toks) - 1 END AS n_g2, " +
        "CASE WHEN len(toks) < 2 THEN 0 ELSE COALESCE(list_max([len([y for y in g2 if y = x]) for x in list_distinct(g2)]), 0) END AS p_g2 " +
        "FROM (SELECT doc_id, toks, CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS g2 FROM tok)) " +
        "SELECT d.source, COUNT(*) AS n_docs, " +
        "CAST(SUM(st.n_tok) AS BIGINT) AS total_tokens, " +
        "CASE WHEN SUM(st.n_tok) = 0 THEN 0.0 ELSE CAST(SUM(st.n_stop) AS DOUBLE) / CAST(SUM(st.n_tok) AS DOUBLE) END AS stopword_ratio, " +
        "CASE WHEN SUM(st.n_g2) = 0 THEN 0.0 ELSE CAST(SUM(st.p_g2) AS DOUBLE) / CAST(SUM(st.n_g2) AS DOUBLE) END AS rep_bigram_fraction " +
        "FROM documents d JOIN st ON d.doc_id = st.doc_id GROUP BY d.source"),

    // per-group drift between two corpus snapshots: one fused-kernel
    // aggregate per side, full-outer joined on the group. The "after"
    // snapshot is built in plan — drops every 7th doc, appends drift
    // tokens to every 5th, renames src2 to srcNEW so the report exercises
    // both one-sided join cases (src2 before-only, srcNEW after-only).
    Gate("corpus_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      val after = docs.filter(col("doc_id") % 7 =!= 0)
        .select(
          when(col("source") === "src2", lit("srcNEW"))
            .otherwise(col("source")).as("source"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" drifted tokens appended here")))
            .otherwise(col("text")).as("text"))
      graft.text.CorpusDrift.report(docs, after, col("source"), col("text"))
        .withColumnRenamed("group", "source")
    },
      // both snapshots tokenized and aggregated independently, full-outer
      // joined with zero-coalesce — the same ratio-of-sums arithmetic as
      // corpus_quality_report on each side
      "WITH bt AS (SELECT source AS grp, " +
        "[x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM documents), " +
        "at2 AS (SELECT CASE WHEN source = 'src2' THEN 'srcNEW' ELSE source END AS grp, " +
        "[x for x in string_split_regex(lower(CASE WHEN doc_id % 5 = 0 THEN text || ' drifted tokens appended here' ELSE text END), '[^a-z0-9]+') if x <> ''] AS toks " +
        "FROM documents WHERE doc_id % 7 <> 0), " +
        "ba AS (SELECT grp, COUNT(*) AS nd, CAST(SUM(len(toks)) AS BIGINT) AS nt, " +
        "CAST(SUM(len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)])) AS BIGINT) AS ns " +
        "FROM bt GROUP BY grp), " +
        "aa AS (SELECT grp, COUNT(*) AS nd, CAST(SUM(len(toks)) AS BIGINT) AS nt, " +
        "CAST(SUM(len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)])) AS BIGINT) AS ns " +
        "FROM at2 GROUP BY grp) " +
        "SELECT COALESCE(ba.grp, aa.grp) AS source, " +
        "CAST(COALESCE(ba.nd, 0) AS BIGINT) AS n_docs_before, " +
        "CAST(COALESCE(aa.nd, 0) AS BIGINT) AS n_docs_after, " +
        "CAST(COALESCE(aa.nd, 0) - COALESCE(ba.nd, 0) AS BIGINT) AS n_docs_delta, " +
        "COALESCE(ba.nt, 0) AS n_tokens_before, " +
        "COALESCE(aa.nt, 0) AS n_tokens_after, " +
        "COALESCE(aa.nt, 0) - COALESCE(ba.nt, 0) AS n_tokens_delta, " +
        "CASE WHEN COALESCE(ba.nt, 0) = 0 THEN 0.0 ELSE CAST(ba.ns AS DOUBLE) / CAST(ba.nt AS DOUBLE) END AS stopword_ratio_before, " +
        "CASE WHEN COALESCE(aa.nt, 0) = 0 THEN 0.0 ELSE CAST(aa.ns AS DOUBLE) / CAST(aa.nt AS DOUBLE) END AS stopword_ratio_after " +
        "FROM ba FULL OUTER JOIN aa ON ba.grp = aa.grp"),

    // TF-IDF distinctive terms per source: exact integer scoring
    // (tf * floor_log2(N/df), no libm), map-side-combined counts, top-k as
    // a WindowGroupLimit rank filter
    Gate("tfidf_terms", (s, dir) =>
      graft.text.CorpusStats.tfidfTerms(
        t(s, dir, "documents"), col("source"), col("text"), k = 5)
        .withColumnRenamed("group_key", "source"),
      // integer TF-IDF: df over per-doc DISTINCT tokens, idf_bits as a
      // bit-length (no libm), BIGINT score, row_number top-k per source
      s"WITH $docTokCte, " +
        "u AS (SELECT t.doc_id, d.source, x.term FROM tok t " +
        "JOIN documents d USING (doc_id), unnest(list_distinct(t.toks)) AS x(term)), " +
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents), " +
        "dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_docs FROM u GROUP BY term), " +
        "idf AS (SELECT term, df_docs, " +
        "CAST(length(format('{:b}', n_docs // df_docs)) - 1 AS BIGINT) AS idf_bits FROM dfc, n), " +
        "tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf_docs FROM u GROUP BY source, term), " +
        "sc AS (SELECT tf.source, tf.term, tf.tf_docs, idf.df_docs, " +
        "CAST(tf.tf_docs * idf.idf_bits AS BIGINT) AS score FROM tf JOIN idf USING (term)) " +
        "SELECT source, term, tf_docs, df_docs, score, CAST(rank AS INT) AS rank FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rank FROM sc) " +
        "WHERE rank <= 5"),

    // hashing-trick linear classifier inference (fasttext-shaped quality
    // filter): integer weights -> exact BIGINT logit from one fused kernel
    // pass; the weight table is the same generated literal in both engines
    Gate("classifier_score", (s, dir) =>
      graft.text.Classifier.score(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("text"), classifierGateWeights)
        .select(col("doc_id"), col("logit"), col("keep")),
      // classifier: same generated weight table as a DuckDB list literal;
      // the feature index decodes the md5 first byte via hex-char positions
      s"WITH $docTokCte, " +
        "uni AS (SELECT doc_id, u.t AS g FROM tok, unnest(toks) AS u(t)), " +
        "big AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g " +
        "FROM tok, unnest(range(1, len(toks))) AS r(i)), " +
        "feats AS (SELECT * FROM uni UNION ALL SELECT * FROM big), " +
        s"wl AS (SELECT [${classifierGateWeights.mkString(", ")}] AS w), " +
        "sc AS (SELECT f.doc_id, SUM(w.w[" +
        "(strpos('0123456789abcdef', substring(md5(f.g), 1, 1)) - 1) * 16 + " +
        "(strpos('0123456789abcdef', substring(md5(f.g), 2, 1)) - 1) + 1]) AS s " +
        "FROM feats f CROSS JOIN wl w GROUP BY f.doc_id) " +
        "SELECT t.doc_id, CAST(COALESCE(sc.s, 0) AS BIGINT) AS logit, " +
        "COALESCE(sc.s, 0) >= 0 AS keep " +
        "FROM tok t LEFT JOIN sc USING (doc_id)"),

    // DSIR importance resampling (Xie et al. 2023): fit integer bits-ratio
    // weights over the hashed feature buckets (target = English docs, raw =
    // whole corpus), then select the most target-like docs with the same
    // fused kernel classifier_score uses. Every number is an exact integer
    // (md5 bucketing + floor-log2 bits), so DuckDB replays the whole fit.
    Gate("dsir_weights", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Dsir.weightTable(
        docs.filter(col("lang") === "en"), docs, col("text"), col("text"))
    },
      // DSIR: full fit replication — same token+bigram feature stream and
      // md5-first-byte bucketing as classifier_score, add-one-smoothed
      // counts, floor-log2 bits via length(bin(x))-1
      dsirFitCtes +
        "tot AS (SELECT SUM(target_cnt + 1) AS tt, SUM(raw_cnt + 1) AS rt FROM j) " +
        "SELECT CAST(j.bucket AS INT) AS bucket, CAST(target_cnt AS BIGINT) AS target_cnt, " +
        "CAST(raw_cnt AS BIGINT) AS raw_cnt, " +
        "CAST((length(bin(target_cnt + 1)) - 1) - (length(bin(tt)) - 1) " +
        "- (length(bin(raw_cnt + 1)) - 1) + (length(bin(rt)) - 1) AS BIGINT) AS weight " +
        "FROM j CROSS JOIN tot"),

    Gate("dsir_select", (s, dir) => {
      val docs = t(s, dir, "documents")
      val w = graft.text.Dsir.fitWeights(
        docs.filter(col("lang") === "en"), docs, col("text"), col("text"))
      graft.text.Dsir.selectTop(docs, col("doc_id"), col("text"), w, n = 100)
        .select(col("doc_id"), col("dsir_score"))
    },
      dsirFitCtes +
        "tot AS (SELECT SUM(target_cnt + 1) AS tt, SUM(raw_cnt + 1) AS rt FROM j), " +
        "wl AS (SELECT bucket, (length(bin(target_cnt + 1)) - 1) - (length(bin(tt)) - 1) " +
        "- (length(bin(raw_cnt + 1)) - 1) + (length(bin(rt)) - 1) AS w FROM j CROSS JOIN tot), " +
        "sc AS (SELECT fb.doc_id, SUM(wl.w) AS s FROM fb JOIN wl USING (bucket) GROUP BY fb.doc_id) " +
        "SELECT t.doc_id, CAST(COALESCE(sc.s, 0) AS BIGINT) AS dsir_score " +
        "FROM tok t LEFT JOIN sc USING (doc_id) " +
        "ORDER BY dsir_score DESC, doc_id LIMIT 100"),

    // repeated-span detection/removal (substring-level dedup at token
    // granularity): duplicate decision on the md5-prefix window hash both
    // engines compute byte-identically; coverage = per-doc interval union
    Gate("repeated_spans", (s, dir) =>
      graft.text.SpanDedup.repeatedSpanStats(
        t(s, dir, "documents"), col("doc_id"), col("text"), k = 3),
      // repeated spans: same window hash (md5 prefix over the space-joined
      // 3-gram), same >= 2 duplicate rule, same interval-union island SQL
      spanWindowsCte +
        "dh AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2), " +
        "dw AS (SELECT w.doc_id, w.pos FROM w JOIN dh USING (h)), " +
        spanIslandCtes +
        "per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_windows FROM dw GROUP BY doc_id), " +
        "cov AS (SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS covered_tokens FROM isl GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens, " +
        "COALESCE(per.dup_windows, 0) AS dup_windows, " +
        "COALESCE(cov.covered_tokens, 0) AS covered_tokens " +
        "FROM tok t LEFT JOIN per USING (doc_id) LEFT JOIN cov USING (doc_id)"),

    Gate("remove_repeated_spans", (s, dir) =>
      graft.text.SpanDedup.removeRepeatedSpans(
        t(s, dir, "documents"), col("doc_id"), col("text"), k = 3),
      spanWindowsCte +
        "dh AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2), " +
        "dw AS (SELECT w.doc_id, w.pos FROM w JOIN dh USING (h)), " +
        spanIslandCtes +
        spanRemovalSql),

    // the keep-one rule (P50b, Lee et al. 2021 suffix-array dedup): the
    // smallest-(doc_id, pos) occurrence of each duplicated window survives;
    // the oracle exempts the same canonical copy via the identical
    // (doc_id, pos) rank window over the shared md5-prefix hash
    Gate("remove_repeated_spans_keepfirst", (s, dir) =>
      graft.text.SpanDedup.removeRepeatedSpans(
        t(s, dir, "documents"), col("doc_id"), col("text"), k = 3,
        keepFirst = true),
      // keep-one variant: identical pipeline, but the canonical occurrence
      // (rank 1 by (doc_id, pos) within each window hash) is exempted
      spanWindowsCte +
        "own AS (SELECT doc_id, pos, " +
        "ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk, " +
        "COUNT(*) OVER (PARTITION BY h) AS cnt FROM w), " +
        "dw AS (SELECT doc_id, pos FROM own WHERE cnt >= 2 AND rk > 1), " +
        spanIslandCtes +
        spanRemovalSql),

    // count-min sketch over the token stream (depth 4 x width 1024,
    // md5-bucketed = engine-portable): ONE 32 KB mergeable buffer per task
    // instead of a corpus-sized groupBy, then point queries against the
    // broadcast one-row sketch. The oracle replays the ENTIRE sketch —
    // counters, collisions and all — so estimates match bit-for-bit; the
    // one-sided (estimate >= exact) guarantee is pinned in CountMinSuite.
    Gate("cms_token_counts", (s, dir) => {
      val depth = 4; val width = 1024
      val toks = t(s, dir, "documents")
        .select(explode(graft.text.TextFunctions.tokenize(col("text"))).as("token"))
      val sketch = toks.agg(
        graft.agg.CountMin.cmsSketch(col("token"), depth, width).as("sk"))
      val top = toks.groupBy("token").agg(count(lit(1)).as("exact_count"))
        .orderBy(desc("exact_count"), asc("token")).limit(20)
      top.crossJoin(broadcast(sketch))
        .select(col("token"), col("exact_count"),
          graft.agg.CountMin.cmsEstimate(col("sk"), col("token"), depth, width)
            .as("cms_estimate"))
    },
      // full count-min replay: counters over ALL tokens (collisions
      // included), then min-over-rows point queries for the top-20
      s"WITH $docTokCte, " +
        "flat AS (SELECT x.term AS token FROM tok t, unnest(t.toks) AS x(term)), " +
        "ds AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS v(d)), " +
        s"hashed AS (SELECT d, token, ${cmsBucket("token")} AS bucket FROM flat CROSS JOIN ds), " +
        "counters AS (SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM hashed GROUP BY d, bucket), " +
        "top AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count FROM flat " +
        "GROUP BY token ORDER BY exact_count DESC, token LIMIT 20), " +
        s"tb AS (SELECT t.token, t.exact_count, ds.d, ${cmsBucket("t.token")} AS bucket " +
        "FROM top t CROSS JOIN ds) " +
        "SELECT tb.token, tb.exact_count, CAST(MIN(c.c) AS BIGINT) AS cms_estimate " +
        "FROM tb JOIN counters c ON c.d = tb.d AND c.bucket = tb.bucket " +
        "GROUP BY tb.token, tb.exact_count"),

    // quantized bigram-LM scoring (perplexity filter, integer bits): exact
    // BIGINT sums + one division — engine-portable, fully oracle-checked
    Gate("lm_score_bits", (s, dir) =>
      graft.text.LanguageModel.scoreBits(
        t(s, dir, "documents"), "doc_id", col("text")),
      s"WITH $docTokCte, " +
        "big AS (SELECT doc_id, CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS bgs FROM tok), " +
        "occ AS (SELECT doc_id, u.g AS bigram FROM big, unnest(big.bgs) AS u(g)), " +
        "c2 AS (SELECT bigram, COUNT(*) AS cnt FROM occ GROUP BY bigram), " +
        "uocc AS (SELECT u.t AS tok FROM tok, unnest(tok.toks) AS u(t)), " +
        "c1 AS (SELECT tok, COUNT(*) AS cnt FROM uocc GROUP BY tok), " +
        "bits AS (SELECT c2.bigram, (length(format('{:b}', c1.cnt)) - length(format('{:b}', c2.cnt))) AS bits " +
        "FROM c2 JOIN c1 ON split_part(c2.bigram, ' ', 1) = c1.tok), " +
        "agg AS (SELECT occ.doc_id, COUNT(*) AS n_bigrams, CAST(SUM(bits.bits) AS BIGINT) AS sum_bits " +
        "FROM occ JOIN bits ON occ.bigram = bits.bigram GROUP BY occ.doc_id) " +
        "SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams, " +
        "COALESCE(agg.sum_bits, 0) AS sum_bits, " +
        "CASE WHEN COALESCE(agg.n_bigrams, 0) = 0 THEN 0.0 " +
        "ELSE CAST(agg.sum_bits AS DOUBLE) / CAST(agg.n_bigrams AS DOUBLE) END AS avg_bits " +
        "FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id"),

    // compression-ratio boilerplate signal: DEFLATE length kernel next to
    // the scan; ratio is one division of two exact ints. Oracle: DuckDB has
    // no deflate, so expected lengths come from the python-zlib golden
    // fixture (byte-identical stream to the JVM Deflater — same zlib).
    Gate("compression_signal", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), octet_length(col("text")).as("raw_bytes"),
          graft.functions.compression.deflate_length(col("text")).as("deflate_bytes"))
      d.select(col("doc_id"), col("raw_bytes"), col("deflate_bytes"),
        when(col("deflate_bytes") === 0, lit(0.0))
          .otherwise(col("raw_bytes").cast("double") / col("deflate_bytes").cast("double"))
          .as("compression_ratio"))
    },
      // DuckDB has no deflate: expected lengths come from the python-zlib
      // golden (byte-identical raw stream, level 6); raw bytes and the ratio
      // are still recomputed in SQL from the documents table.
      "SELECT d.doc_id, CAST(octet_length(encode(d.text)) AS INTEGER) AS raw_bytes, " +
        "g.deflate_bytes, " +
        "CASE WHEN g.deflate_bytes = 0 THEN 0.0 " +
        "ELSE CAST(octet_length(encode(d.text)) AS DOUBLE) / g.deflate_bytes END AS compression_ratio " +
        s"FROM documents d JOIN read_parquet('$goldenDir/deflate_sf001.parquet') g USING (doc_id)"),

    // P101 sentence-aware chunking: the shared RE2-safe sentence pattern +
    // the budget-line chunk rule (tokens-before div budget), both replayed
    // relationally by DuckDB (unnest -> renumber -> windowed cumsum ->
    // integer div -> string_agg)
    Gate("sentence_chunks", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(". First tail sentence here. Second one!" +
          " A third?? And a trailing fragment")).as("tt"))
      graft.text.Sentences.chunkBySentences(docs, col("doc_id"), col("tt"),
        tokenBudget = 12)
        .select(col("id").as("doc_id"), col("chunk_id"),
          col("n_sentences").cast("long").as("n_sentences"),
          col("n_tokens"), col("chunk_text"))
    },
      // auto_detect=false: DuckDB's sniffer balks at 10% planted-malformed
      // lines; the dialect is fixed anyway
      "WITH t AS (SELECT doc_id, text || '. First tail sentence here. Second one!" +
        " A third?? And a trailing fragment' AS tt FROM documents), " +
        "s0 AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(tt, '[^.!?]+[.!?]+\\s*|[^.!?]+$')) AS raw, " +
        "generate_subscripts(regexp_extract_all(tt, '[^.!?]+[.!?]+\\s*|[^.!?]+$'), 1) AS i " +
        "FROM t), " +
        "s1 AS (SELECT doc_id, trim(raw) AS s, i FROM s0 WHERE length(trim(raw)) > 0), " +
        "s2 AS (SELECT doc_id, s, " +
        "CAST(len(string_split_regex(s, '\\s+')) AS BIGINT) AS tok, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS si FROM s1), " +
        "s3 AS (SELECT doc_id, s, tok, si, " +
        // CAST: DuckDB windowed/grouped SUM(BIGINT) promotes to HUGEINT ->
        // pandas float64 -> oracle hash mismatch vs Spark's LongType.
        "CAST(COALESCE(SUM(tok) OVER (PARTITION BY doc_id ORDER BY si " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 12 AS BIGINT) AS chunk_id " +
        "FROM s2) " +
        "SELECT doc_id, chunk_id, COUNT(*) AS n_sentences, CAST(SUM(tok) AS BIGINT) AS n_tokens, " +
        "string_agg(s, ' ' ORDER BY si) AS chunk_text " +
        "FROM s3 GROUP BY doc_id, chunk_id"),
  )
}
