package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._

/** Exact, near-duplicate, overlap and contamination gates over `documents`. */
private[graft] object DedupGates {

  private val docPairsSql =
    s"WITH $docTokCte, $docShCte, $docPairCte " +
      "SELECT ia AS \"idA\", ib AS \"idB\", j AS jaccard FROM p WHERE j >= 0.8"

  /** Every new-batch doc (src10+) not within Jaccard 0.8 of any reference
    * doc (src0-9): the direct and the indexed cross-corpus dedup agree. */
  private val crossCorpusSql =
    s"WITH $docTokCte, $docShCte, " +
      "d AS (SELECT doc_id, CAST(substring(source, 4) AS INT) AS sn FROM documents), " +
      "cp AS (SELECT sh.doc_id, sh.s FROM sh JOIN d USING (doc_id) WHERE d.sn >= 10), " +
      "rf AS (SELECT sh.doc_id, sh.s FROM sh JOIN d USING (doc_id) WHERE d.sn < 10), " +
      "m AS (SELECT DISTINCT cp.doc_id FROM cp JOIN rf ON " +
      "CAST(len(list_intersect(cp.s, rf.s)) AS DOUBLE) / " +
      "CAST(len(list_distinct(list_concat(cp.s, rf.s))) AS DOUBLE) >= 0.8) " +
      "SELECT doc_id FROM d WHERE sn >= 10 AND doc_id NOT IN (SELECT doc_id FROM m)"

  /** Keep-first exact dedup over the corpus plus its whitespace-padded
    * copies of every 7th doc: the smallest id per normalized-text md5 —
    * the batch dedup and the streaming replay both keep exactly these. */
  private[gates] val exactDedupSql =
    "WITH corpus AS (SELECT doc_id, text FROM documents " +
      "UNION ALL SELECT doc_id + 100000 AS doc_id, text || '  ' AS text FROM documents WHERE doc_id % 7 = 0), " +
      "fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f FROM corpus) " +
      "SELECT doc_id FROM fp QUALIFY ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) = 1"

  /** Exact all-pairs set containment `p(ia, ib, c)` over the corpus plus
    * an excerpt (tokens 3-32) of every doc with doc_id % 5 = 1; docs under
    * 10 shingles are excluded on both sides (a 2-shingle doc hits 0.5 by
    * one accidental shared gram). */
  private[gates] val containmentCte =
    "WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 100000 AS doc_id, array_to_string(" +
      "([x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''])[3:32], ' ') AS text " +
      "FROM documents WHERE doc_id % 5 = 1), " +
      "tok AS (SELECT doc_id, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM corpus), " +
      "sh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS s FROM tok WHERE len(toks) >= 3), " +
      "sf AS (SELECT doc_id, s FROM sh WHERE len(s) >= 10), " +
      "p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, " +
      "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(LEAST(len(a.s), len(b.s)) AS DOUBLE) AS c " +
      "FROM sf a JOIN sf b ON a.doc_id < b.doc_id) "

  val gates: Seq[Gate] = Seq(
    // contamination severity REPORT: per-doc shingle/overlap counts and
    // fraction from the same broadcast sorted-array binary-search probe as
    // decontaminate (zero shuffles) — the score survives instead
    // of becoming a drop decision
    Gate("contamination_report", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.Dedup.contaminationReport(
        docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 97 === 0), col("text"), shingleSize = 5)
        .withColumnRenamed("id", "doc_id")
    },
      // same shingle identity as the decontamination gates, but counts
      // survive: distinct 5-gram shingles per doc, overlap vs the blocklist
      // set, one ratio division
      s"WITH $docTokCte, sh5 AS (SELECT doc_id, " +
        "CASE WHEN len(toks) < 5 THEN [] ELSE list_distinct([array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)]) END AS s " +
        "FROM tok), " +
        "ex AS (SELECT doc_id, u.g FROM sh5, unnest(sh5.s) AS u(g)), " +
        "bl AS (SELECT DISTINCT g FROM ex WHERE doc_id % 97 = 0), " +
        "ovc AS (SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ov FROM ex JOIN bl USING (g) GROUP BY ex.doc_id) " +
        "SELECT s.doc_id, CAST(len(s.s) AS BIGINT) AS n_shingles, " +
        "CAST(COALESCE(ovc.n_ov, 0) AS BIGINT) AS n_overlap, " +
        "CASE WHEN len(s.s) = 0 THEN 0.0 ELSE CAST(COALESCE(ovc.n_ov, 0) AS DOUBLE) / CAST(len(s.s) AS DOUBLE) END AS contamination " +
        "FROM sh5 s LEFT JOIN ovc USING (doc_id)"),

    // fuzzy entity-resolution join: all customer-name pairs within edit
    // distance 1 via deletion-neighborhood blocking (FastSS) — hash join on
    // short signatures + exact levenshtein verify, never a cross join
    Gate("fuzzy_pairs", (s, dir) =>
      graft.join.FuzzyJoin.editDistance1Pairs(
        t(s, dir, "customer"), col("c_custkey"), col("c_name")),
      "SELECT a.c_custkey AS \"idA\", b.c_custkey AS \"idB\", " +
        "CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist " +
        "FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey " +
        "AND a.c_name <> b.c_name AND levenshtein(a.c_name, b.c_name) <= 1"),

    // P122 record linkage: soundex-blocked candidates verified with exact
    // fixed-point Jaro-Winkler (floor(jw * 2^20), pure integer algebra).
    // The fixture carries the input names AND the expected pairs, both
    // produced by the independent python replication of the full
    // block-join + greedy-Jaro spec (tools/make_golden.py).
    Gate("record_linkage", (s, dir) => {
      val inp = s.read.parquet(s"$goldenDir/linkage_input_sf001.parquet")
      graft.join.Linkage.linkRecords(
        inp.filter(col("side") === "L"), inp.filter(col("side") === "R"),
        col("rec_id"), col("name"), col("rec_id"), col("name"))
    },
      "SELECT id_a, id_b, score_fp " +
        s"FROM read_parquet('$goldenDir/linkage_pairs_sf001.parquet')"),

    // benchmark decontamination: drop documents sharing any 5-word shingle
    // with the synthetic blocklist (doc_id % 97 == 0); the blocklist's sorted
    // shingle set is broadcast and probed by a codegen'd binary search, so
    // the corpus side is one narrow filter (zero shuffles/joins).
    Gate("decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val blocklist = docs.filter(col("doc_id") % 97 === 0)
      graft.dedup.Dedup.decontaminate(
        docs, col("text"), blocklist, col("text"),
        shingleSize = 5, minOverlap = 1)
        .select(col("doc_id"))
    },
      s"WITH $docTokCte, sh5 AS (SELECT doc_id, " +
        "CASE WHEN len(toks) < 5 THEN [] ELSE list_distinct([array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)]) END AS s " +
        "FROM tok), " +
        "ex AS (SELECT doc_id, u.g FROM sh5, unnest(sh5.s) AS u(g)), " +
        "bl AS (SELECT DISTINCT g FROM ex WHERE doc_id % 97 = 0), " +
        "cont AS (SELECT DISTINCT ex.doc_id FROM ex JOIN bl USING (g)) " +
        "SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM cont)"),

    // content-defined chunking (P78): splitmix64 Gear rolling hash cuts,
    // FNV-1a 64 chunk ids — every step exact 64-bit integer arithmetic the
    // python fixture replication mirrors literally. Arrays ship as
    // comma-joined strings (the oracle compare is scalar-typed).
    Gate("cdc_chunks", (s, dir) =>
      s.read.parquet(s"$goldenDir/cdc_sf001.parquet").select(col("pay_id"),
        graft.multimodal.Cdc.cdcChunks(col("payload"),
          avgBits = 5, minSize = 16, maxSize = 128).as("c"))
        .select(col("pay_id"),
          concat_ws(",", transform(col("c.hashes"), _.cast("string"))).as("chunk_hashes"),
          concat_ws(",", transform(col("c.sizes"), _.cast("string"))).as("chunk_sizes"),
          size(col("c.hashes")).cast("long").as("n_chunks")),
      // COALESCE: DuckDB's array_to_string of an EMPTY list is NULL, not ''
      "SELECT pay_id, COALESCE(array_to_string(hashes, ','), '') AS chunk_hashes, " +
        "COALESCE(array_to_string(sizes, ','), '') AS chunk_sizes, " +
        "CAST(len(hashes) AS BIGINT) AS n_chunks " +
        s"FROM read_parquet('$goldenDir/cdc_sf001.parquet')"),

    // corpus chunk-dedup report: how much payload byte mass a
    // content-addressed chunk store would NOT write — the planted shared
    // block on every 3rd payload is invisible to whole-payload dedup but
    // shows up here as repeated chunk hashes
    Gate("cdc_dedup_report", (s, dir) =>
      graft.multimodal.Cdc.chunkDedupReport(
        s.read.parquet(s"$goldenDir/cdc_sf001.parquet"), col("payload"),
        avgBits = 5, minSize = 16, maxSize = 128),
      // replay the dedup aggregate from the fixture's chunk lists: per-hash
      // copy counts (sizes are content-determined, min==max per hash), then
      // the one-row totals and the exact IEEE ratio division
      "WITH z AS (SELECT unnest(hashes) AS hash, unnest(sizes) AS size " +
        s"FROM read_parquet('$goldenDir/cdc_sf001.parquet')), " +
        "g AS (SELECT hash, CAST(count(*) AS BIGINT) AS copies, min(size) AS size FROM z GROUP BY hash) " +
        "SELECT CAST(sum(copies) AS BIGINT) AS total_chunks, " +
        "CAST(count(*) AS BIGINT) AS distinct_chunks, " +
        "CAST(sum(copies * size) AS BIGINT) AS total_bytes, " +
        "CAST(sum(size) AS BIGINT) AS distinct_bytes, " +
        "CAST(1.0 AS DOUBLE) - CAST(sum(size) AS DOUBLE) / CAST(sum(copies * size) AS DOUBLE) AS dedup_ratio " +
        "FROM g"),

    // payload near-dup pairs from shared chunk mass: the 167-payload
    // boilerplate block is capped away (maxChunkCopies=20 — the
    // boilerplate-chunk guard working as designed) while genuinely
    // near-identical payload pairs survive the 0.5-containment bar
    Gate("cdc_near_dup_pairs", (s, dir) =>
      graft.multimodal.Cdc.payloadNearDupPairs(
        s.read.parquet(s"$goldenDir/cdc_sf001.parquet"),
        col("pay_id"), col("payload"),
        minContainment = 0.5, maxChunkCopies = 20,
        avgBits = 5, minSize = 16, maxSize = 128),
      // the same distinct-chunk-set / hot-chunk-cap / containment pipeline
      // replayed relationally from the fixture's chunk lists
      "WITH z AS (SELECT pay_id, unnest(hashes) AS hash, unnest(sizes) AS size " +
        s"FROM read_parquet('$goldenDir/cdc_sf001.parquet')), " +
        "d AS (SELECT pay_id, hash, min(size) AS size FROM z GROUP BY pay_id, hash), " +
        "ok AS (SELECT hash FROM d GROUP BY hash HAVING count(*) <= 20), " +
        "k AS (SELECT d.pay_id, d.hash, d.size FROM d JOIN ok USING (hash)), " +
        "tot AS (SELECT pay_id, CAST(sum(size) AS BIGINT) AS total FROM d GROUP BY pay_id), " +
        "p AS (SELECT a.pay_id AS ia, b.pay_id AS ib, CAST(sum(a.size) AS BIGINT) AS sb " +
        "FROM k a JOIN k b ON a.hash = b.hash AND a.pay_id < b.pay_id GROUP BY 1, 2) " +
        "SELECT p.ia AS \"idA\", p.ib AS \"idB\", p.sb AS shared_bytes, " +
        "CAST(p.sb AS DOUBLE) / CAST(LEAST(ta.total, tb.total) AS DOUBLE) AS containment " +
        "FROM p JOIN tot ta ON ta.pay_id = p.ia JOIN tot tb ON tb.pay_id = p.ib " +
        "WHERE p.sb >= 1 AND " +
        "CAST(p.sb AS DOUBLE) / CAST(LEAST(ta.total, tb.total) AS DOUBLE) >= 0.5"),

    // C4-style line dedup: synthesized 3-line docs — a mostly-unique prefix
    // line, a corpus-wide boilerplate line (survives only in the first doc),
    // and a per-doc unique line. Winner selection is a combine-friendly
    // min-aggregate on the line hash; survivors semi-join on (doc, pos).
    Gate("dedup_lines", (s, dir) => {
      val synth = t(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 50), lit("\n"),
          lit("shared footer all rights reserved"), lit("\n"),
          lit("doc "), col("doc_id").cast("string")).as("text"))
      graft.dedup.Dedup.deduplicateLines(synth, col("doc_id"), col("text"))
    },
      "WITH src AS (SELECT doc_id, substring(text, 1, 50) || chr(10) || " +
        "'shared footer all rights reserved' || chr(10) || 'doc ' || CAST(doc_id AS VARCHAR) AS text " +
        "FROM documents), " +
        "pp AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM src), " +
        "parts AS (SELECT doc_id, unnest(parts) AS line, unnest(range(1, len(parts) + 1)) AS pos FROM pp), " +
        "kept AS (SELECT doc_id, pos, line FROM parts " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1), " +
        "agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text FROM kept GROUP BY doc_id) " +
        "SELECT s.doc_id, COALESCE(a.text, '') AS text FROM src s LEFT JOIN agg a ON s.doc_id = a.doc_id"),

    // CCNet-style boilerplate removal: lines planted in >= minDocs distinct
    // docs ("all rights reserved" in every doc, "promo k" in ~1/7 of them)
    // are dropped EVERYWHERE incl. their first occurrence; unique lines stay
    Gate("boilerplate_lines", (s, dir) => {
      val synth = t(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 40), lit("\n"),
          lit("all rights reserved"), lit("\n"),
          lit("promo "), (col("doc_id") % 7).cast("string"), lit("\n"),
          lit("doc "), col("doc_id").cast("string")).as("text"))
      graft.dedup.Dedup.removeBoilerplateLines(
        synth, col("doc_id"), col("text"), minDocs = 50)
    },
      "WITH src AS (SELECT doc_id, substring(text, 1, 40) || chr(10) || " +
        "'all rights reserved' || chr(10) || 'promo ' || CAST(doc_id % 7 AS VARCHAR) || " +
        "chr(10) || 'doc ' || CAST(doc_id AS VARCHAR) AS text FROM documents), " +
        "pp AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM src), " +
        "parts AS (SELECT doc_id, unnest(parts) AS line, unnest(range(1, len(parts) + 1)) AS pos FROM pp), " +
        "freq AS (SELECT line FROM parts GROUP BY line HAVING count(DISTINCT doc_id) >= 50), " +
        "kept AS (SELECT doc_id, pos, line FROM parts WHERE line NOT IN (SELECT line FROM freq)), " +
        "agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text FROM kept GROUP BY doc_id) " +
        "SELECT s.doc_id, COALESCE(a.text, '') AS text FROM src s LEFT JOIN agg a ON s.doc_id = a.doc_id"),

    // exact dedup: corpus with planted normalized-duplicate copies
    Gate("dedup_exact", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), concat(col("text"), lit("  ")).as("text")))
      graft.dedup.Dedup.dropExactTextDuplicates(corpus, col("text"), col("doc_id"))
        .select("doc_id")
    },
      exactDedupSql),

    // P119 near-dup explanation: the matched token runs behind each
    // verified MinHash pair — k-window hash matches merged along diagonals
    // into maximal spans (the evidence a takedown queue needs).
    // Oracle replays pair generation, windows, diagonal islands exactly.
    Gate("neardup_spans", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.dedup.Dedup.nearDupPairsMinHash(
        docs, col("doc_id"), col("text"), threshold = 0.8)
      graft.dedup.Explain.explainPairs(docs, col("doc_id"), col("text"),
        pairs, col("idA"), col("idB"), k = 3)
    },
      // P119: verified pairs -> window-hash matches -> diagonal islands
      s"WITH $docTokCte, $docShCte, $docPairCte, " +
        "pp AS (SELECT ia, ib FROM p WHERE j >= 0.8), " +
        "w AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, " +
        "substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 16) AS h " +
        "FROM tok, unnest(range(1, len(toks) - 1)) AS r(i) " +
        "WHERE doc_id IN (SELECT ia FROM pp UNION SELECT ib FROM pp)), " +
        "m AS (SELECT pp.ia AS id_a, pp.ib AS id_b, wa.pos AS pos_a, wb.pos AS pos_b, " +
        "wa.pos - wb.pos AS diag FROM pp " +
        "JOIN w wa ON wa.doc_id = pp.ia JOIN w wb ON wb.doc_id = pp.ib AND wb.h = wa.h), " +
        "i0 AS (SELECT *, CASE WHEN LAG(pos_a) OVER dw IS NULL " +
        "OR pos_a != LAG(pos_a) OVER dw + 1 THEN 1 ELSE 0 END AS ni FROM m " +
        "WINDOW dw AS (PARTITION BY id_a, id_b, diag ORDER BY pos_a)), " +
        "i1 AS (SELECT *, SUM(ni) OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS isl FROM i0) " +
        "SELECT id_a, id_b, CAST(MIN(pos_a) AS BIGINT) AS a_start, " +
        "CAST(MAX(pos_a + 2) AS BIGINT) AS a_end, " +
        "CAST(MIN(pos_b) AS BIGINT) AS b_start, " +
        "CAST(MAX(pos_b + 2) AS BIGINT) AS b_end, " +
        "CAST(MAX(pos_a + 2) - MIN(pos_a) + 1 AS BIGINT) AS match_tokens " +
        "FROM i1 GROUP BY id_a, id_b, diag, isl"),

    // MinHash-LSH near-dup pairs verified by exact shingle Jaccard
    Gate("dedup_minhash_pairs", (s, dir) =>
      graft.dedup.Dedup.nearDupPairsMinHash(
        t(s, dir, "documents"), col("doc_id"), col("text"), threshold = 0.8), docPairsSql),

    // EXACT similarity self-join via prefix filtering (AllPairs/PPJoin):
    // the same (idA, idB, jaccard) contract as dedup_minhash_pairs but
    // GUARANTEED complete — the oracle match here is a theorem, not a
    // property of the datagen's collision luck
    Gate("dedup_jaccard_prefix", (s, dir) =>
      graft.dedup.PrefixJoin.jaccardJoinPrefix(
        t(s, dir, "documents"), col("doc_id"), col("text"), threshold = 0.8),
      // the prefix-filter join must equal the exact all-pairs oracle BY
      // CONSTRUCTION (no LSH luck involved) — same SQL, stronger claim
      docPairsSql),

    // keep-first near-dup dedup (drop larger id of each verified pair)
    Gate("dedup_minhash", (s, dir) =>
      graft.dedup.Dedup.deduplicateMinHash(
        t(s, dir, "documents"), col("doc_id"), col("text"), threshold = 0.8)
        .select("doc_id"),
      s"WITH $docTokCte, $docShCte, $docPairCte " +
        "SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT ib FROM p WHERE j >= 0.8)"),

    // cross-corpus dedup (batch ingest vs an already-clean reference):
    // src10+ is "today's crawl", src0-9 the reference; candidates from an
    // equi-join of the two sides' band buckets, exact-Jaccard verified,
    // survivors anti-joined.
    Gate("dedup_cross_corpus", (s, dir) => {
      val docs = t(s, dir, "documents")
      val isNew = expr("CAST(substring(source, 4) AS INT) >= 10")
      graft.dedup.Dedup.deduplicateAgainst(
        docs.filter(isNew), docs.filter(!isNew), col("doc_id"), col("text"),
        threshold = 0.8)
        .select("doc_id")
    },
      // exact cross-corpus near-dup reference: every new-batch doc (src10+)
      // within Jaccard 0.8 of ANY reference doc (src0-9) is dropped
      crossCorpusSql),

    // incremental ingest: the reference corpus's shingle sets + pruned band
    // buckets persist as a parquet index; the "increment" (new sources) is
    // the only side shingled at query time — reference text is never read.
    // Same split and same oracle as dedup_cross_corpus: with equal caps the
    // index path is row-for-row the direct two-sided path.
    Gate("dedup_against_index", (s, dir) => {
      val docs = t(s, dir, "documents")
      val isNew = expr("CAST(substring(source, 4) AS INT) >= 10")
      val idx = graft.createTemporaryDir("dedup-index")
      graft.dedup.DedupIndex.saveDedupIndex(
        docs.filter(!isNew), col("doc_id"), col("text"), idx)
      graft.dedup.DedupIndex.deduplicateAgainstIndex(
        docs.filter(isNew), col("doc_id"), col("text"), idx, threshold = 0.8)
        .select("doc_id")
    },
      // identical semantics to dedup_cross_corpus (the index path is the
      // direct path with the reference side amortized) — same oracle
      crossCorpusSql),

    // P112 deletion propagation into the persisted dedup index: the same
    // reference index as dedup_against_index, then doc_id % 7 == 3 rows are
    // scrubbed (file-surgical rewrite of only the files that carry them),
    // then the same increment dedup. Oracle: the direct replay with the
    // reference filtered — a scrubbed index must answer exactly like one
    // built on the filtered reference.
    Gate("dedup_scrub", (s, dir) => {
      val docs = t(s, dir, "documents")
      val isNew = expr("CAST(substring(source, 4) AS INT) >= 10")
      val idx = graft.createTemporaryDir("dedup-scrub-index")
      graft.dedup.DedupIndex.saveDedupIndex(
        docs.filter(!isNew), col("doc_id"), col("text"), idx)
      graft.privacy.Deletion.scrubDedupIndex(s, idx,
        docs.filter(!isNew && col("doc_id") % 7 === 3).select(col("doc_id")),
        col("doc_id"))
      graft.dedup.DedupIndex.deduplicateAgainstIndex(
        docs.filter(isNew), col("doc_id"), col("text"), idx, threshold = 0.8)
        .select("doc_id")
    },
      // P112: the same replay with the reference FILTERED — the scrubbed
      // index must answer exactly like one built without the doomed ids
      s"WITH $docTokCte, $docShCte, " +
        "d AS (SELECT doc_id, CAST(substring(source, 4) AS INT) AS sn FROM documents), " +
        "cp AS (SELECT sh.doc_id, sh.s FROM sh JOIN d USING (doc_id) WHERE d.sn >= 10), " +
        "rf AS (SELECT sh.doc_id, sh.s FROM sh JOIN d USING (doc_id) " +
        "WHERE d.sn < 10 AND sh.doc_id % 7 <> 3), " +
        "m AS (SELECT DISTINCT cp.doc_id FROM cp JOIN rf ON " +
        "CAST(len(list_intersect(cp.s, rf.s)) AS DOUBLE) / " +
        "CAST(len(list_distinct(list_concat(cp.s, rf.s))) AS DOUBLE) >= 0.8) " +
        "SELECT doc_id FROM d WHERE sn >= 10 AND doc_id NOT IN (SELECT doc_id FROM m)"),

    // P120 per-source overlap matrix: ONE grouped KMV pass, then pairwise
    // coordinated-sample estimates over the bounded sketch table — planted
    // shared values (even ids share 'sh'||id div 6 across all 3 groups)
    // give a nonzero, fully determined matrix the oracle replays exactly.
    Gate("source_overlap_matrix", (s, dir) => {
      val docs = t(s, dir, "documents").select(
        concat(lit("s"), col("doc_id") % 3).as("g"),
        when(col("doc_id") % 2 === 0, concat(lit("sh"), expr("doc_id div 6")))
          .otherwise(concat(lit("own"), col("doc_id"))).as("v"))
      graft.dedup.CorpusOverlap.overlapMatrix(docs, col("g"), col("v"), k = 64)
    },
      // P120: grouped bottom-64 sketches, pairwise coordinated estimates
      "WITH v AS (SELECT 's' || (doc_id % 3) AS g, " +
        "md5(CASE WHEN doc_id % 2 = 0 THEN 'sh' || (doc_id // 6) " +
        "ELSE 'own' || doc_id END) AS h FROM documents), " +
        "s AS (SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rk " +
        "FROM (SELECT DISTINCT g, h FROM v)), " +
        "sk AS (SELECT g, list(h ORDER BY h) AS kmv FROM s WHERE rk <= 64 GROUP BY g), " +
        "pr AS (SELECT a.g AS group_a, b.g AS group_b, a.kmv AS ka, b.kmv AS kb " +
        "FROM sk a JOIN sk b ON a.g < b.g), " +
        "e AS (SELECT group_a, group_b, " +
        "list_sort(list_distinct(list_concat(ka, kb)))[1:64] AS x, ka, kb FROM pr) " +
        "SELECT group_a, group_b, CAST(len(x) AS INTEGER) AS k_used, " +
        "CAST(len(list_intersect(list_intersect(x, ka), kb)) AS INTEGER) AS n_both, " +
        "CASE WHEN len(x) > 0 THEN " +
        "CAST(len(list_intersect(list_intersect(x, ka), kb)) AS DOUBLE) / CAST(len(x) AS DOUBLE) " +
        "ELSE 0.0 END AS j_estimate FROM e"),

    // KMV corpus-overlap estimate: two corpora with a planted ~1/5 overlap
    // (doc_id % 5 == 2 in both) reduce to bottom-64 md5 sketches; the
    // Jaccard estimate is a deterministic function of the hashes, replayed
    // exactly by the oracle — no tolerance band
    Gate("corpus_overlap_kmv", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.CorpusOverlap.overlapEstimate(
        docs.filter(col("doc_id") % 5 < 3), col("text"),
        docs.filter(col("doc_id") % 5 > 1), col("text"), k = 64)
    },
      // KMV overlap: bottom-64 distinct md5 per corpus, X = bottom-64 of
      // their union, J = |X ∩ A ∩ B| / |X| — pure hash arithmetic, so the
      // oracle recomputes the estimate exactly
      "WITH ha AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 < 3), " +
        "sa AS (SELECT h FROM ha ORDER BY h LIMIT 64), " +
        "hb AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 > 1), " +
        "sb AS (SELECT h FROM hb ORDER BY h LIMIT 64), " +
        "x AS (SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)) ORDER BY h LIMIT 64) " +
        "SELECT CAST(count(*) AS INTEGER) AS k_used, " +
        "CAST(sum(CASE WHEN h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb) THEN 1 ELSE 0 END) AS INTEGER) AS n_both, " +
        "CAST(sum(CASE WHEN h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb) THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) AS j_estimate FROM x"),

    // join-size pre-flight: estimate |orders ⋈ lineitem| from coordinated
    // KMV key samples + exact sampled multiplicities, never shuffling the
    // join key; deterministic hash/integer/IEEE arithmetic end to end, so
    // the DuckDB oracle replays the ESTIMATE bit-for-bit (u_k hex parse =
    // 8 manual digits, the classifier-gate trick)
    Gate("join_size_estimate", (s, dir) =>
      graft.dedup.CorpusOverlap.joinSizeEstimate(
        t(s, dir, "orders"), col("o_orderkey"),
        t(s, dir, "lineitem"), col("l_orderkey"), k = 256),
      // join-size estimate: exact top-64 heavy keys per side + KMV-sampled
      // tail (X = bottom-256 of the key-space union); u_k parsed from 8
      // manual hex digits (exact integer arithmetic), then the same IEEE
      // expression order as the Spark side — the estimate replays exactly
      "WITH ha AS (SELECT md5(CAST(o_orderkey AS VARCHAR)) AS h FROM orders WHERE o_orderkey IS NOT NULL), " +
        "hb AS (SELECT md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem WHERE l_orderkey IS NOT NULL), " +
        "ta AS (SELECT h FROM (SELECT h, COUNT(*) AS c FROM ha GROUP BY h ORDER BY c DESC, h LIMIT 64)), " +
        "tb AS (SELECT h FROM (SELECT h, COUNT(*) AS c FROM hb GROUP BY h ORDER BY c DESC, h LIMIT 64)), " +
        "hv AS (SELECT DISTINCT h FROM (SELECT h FROM ta UNION ALL SELECT h FROM tb)), " +
        "sa AS (SELECT h FROM (SELECT DISTINCT h FROM ha) ORDER BY h LIMIT 256), " +
        "sb AS (SELECT h FROM (SELECT DISTINCT h FROM hb) ORDER BY h LIMIT 256), " +
        "x AS (SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)) ORDER BY h LIMIT 256), " +
        "probe AS (SELECT DISTINCT h FROM (SELECT h FROM x UNION ALL SELECT h FROM hv)), " +
        "ca AS (SELECT h, COUNT(*) AS ca FROM ha WHERE h IN (SELECT h FROM probe) GROUP BY h), " +
        "cb AS (SELECT h, COUNT(*) AS cb FROM hb WHERE h IN (SELECT h FROM probe) GROUP BY h), " +
        "pairs AS (SELECT ca.h AS h, ca.ca * cb.cb AS p FROM ca JOIN cb USING (h)), " +
        "heavy AS (SELECT CAST(COALESCE(SUM(p), 0) AS BIGINT) AS heavy_mass FROM pairs WHERE h IN (SELECT h FROM hv)), " +
        "rest AS (SELECT CAST(COALESCE(SUM(p), 0) AS BIGINT) AS sum_products_rest FROM pairs " +
        "WHERE h NOT IN (SELECT h FROM hv) AND h IN (SELECT h FROM x)), " +
        "krest AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_rest FROM x WHERE h NOT IN (SELECT h FROM hv)), " +
        "nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_heavy FROM hv), " +
        "kth AS (SELECT h AS hk FROM x ORDER BY h OFFSET 255 LIMIT 1), " +
        "stats AS (SELECT CAST((SELECT COUNT(*) FROM x) AS BIGINT) AS k_used, (SELECT " +
        "(strpos('0123456789abcdef', substring(hk, 1, 1)) - 1) * 268435456 + " +
        "(strpos('0123456789abcdef', substring(hk, 2, 1)) - 1) * 16777216 + " +
        "(strpos('0123456789abcdef', substring(hk, 3, 1)) - 1) * 1048576 + " +
        "(strpos('0123456789abcdef', substring(hk, 4, 1)) - 1) * 65536 + " +
        "(strpos('0123456789abcdef', substring(hk, 5, 1)) - 1) * 4096 + " +
        "(strpos('0123456789abcdef', substring(hk, 6, 1)) - 1) * 256 + " +
        "(strpos('0123456789abcdef', substring(hk, 7, 1)) - 1) * 16 + " +
        "(strpos('0123456789abcdef', substring(hk, 8, 1)) - 1) FROM kth) AS v), " +
        "d AS (SELECT k_used, CASE WHEN k_used < 256 THEN CAST(k_used AS DOUBLE) " +
        "ELSE 255.0 / ((CAST(v AS DOUBLE) + 0.5) / 4294967296.0) END AS d_union FROM stats) " +
        "SELECT d.k_used, nh.n_heavy, heavy.heavy_mass, krest.k_rest, rest.sum_products_rest, d.d_union, " +
        "CAST(heavy.heavy_mass AS DOUBLE) + CASE WHEN krest.k_rest = 0 THEN 0.0 ELSE " +
        "(GREATEST(d.d_union - CAST(nh.n_heavy AS DOUBLE), CAST(krest.k_rest AS DOUBLE)) / CAST(krest.k_rest AS DOUBLE)) * " +
        "CAST(rest.sum_products_rest AS DOUBLE) END AS join_estimate " +
        "FROM d CROSS JOIN nh CROSS JOIN heavy CROSS JOIN krest CROSS JOIN rest"),

    // containment (excerpt-in-document): every 5th doc contributes a planted
    // 30-token excerpt (tokens 3..32, re-joined) under doc_id+100000 —
    // contiguous by construction, so the winnowing guarantee (shared runs
    // >= w+n-1 tokens always share a selected print) makes candidate
    // recall exact; the oracle computes exact all-pairs set containment
    Gate("containment_pairs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = graft.text.TextFunctions.tokenize(
        col("text"), graft.text.TextFunctions.AsciiTokenPattern)
      val excerpts = t(s, dir, "documents")
        .filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat_ws(" ", slice(toks, 3, 30)).as("text"))
      graft.dedup.Containment.containmentPairs(
        docs.unionAll(excerpts), col("doc_id"), col("text"))
    },
      // exact all-pairs set containment over the planted-excerpt corpus;
      // docs under 10 shingles excluded on both sides (a 2-shingle doc hits
      // 0.5 by one accidental shared gram)
      containmentCte +
        "SELECT ia AS \"idA\", ib AS \"idB\", c AS containment FROM p WHERE c >= 0.5"),

    // transitive near-dup clustering: alternating large-star/small-star
    // connected components over the verified MinHash pair list; every
    // document gets its component-minimum cluster id (own id if unique).
    Gate("dedup_clusters", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.dedup.Dedup.nearDupPairsMinHash(
        docs, col("doc_id"), col("text"), threshold = 0.8)
      graft.dedup.Clustering.assignClusters(
        docs.select(col("doc_id")), col("doc_id"), pairs)
        .select(col("doc_id"), col("cluster_id"))
    },
      // connected components via recursive reachability over the (symmetric)
      // verified pair edges; cluster id = min reachable doc id (incl. self)
      s"WITH RECURSIVE $docTokCte, $docShCte, $docPairCte, " +
        "e AS (SELECT ia AS a, ib AS b FROM p WHERE j >= 0.8 " +
        "UNION SELECT ib AS a, ia AS b FROM p WHERE j >= 0.8), " +
        "r(a, b) AS (SELECT a, b FROM e " +
        "UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a WHERE e.b <> r.a) " +
        "SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS cluster_id " +
        "FROM documents d LEFT JOIN r ON d.doc_id = r.a GROUP BY d.doc_id"),

    // quality-prior canonical selection: one survivor per near-dup cluster,
    // the LONGEST text (ties: smallest doc_id) — per-cluster argmax planned
    // as a map-side WindowGroupLimit rank-1 filter, O(clusters) shuffle rows
    Gate("dedup_keep_best", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.dedup.Dedup.nearDupPairsMinHash(
        docs, col("doc_id"), col("text"), threshold = 0.8)
      graft.dedup.Clustering.keepBestByClusters(
        docs.select(col("doc_id"), length(col("text")).as("n_chars")),
        col("doc_id"), col("n_chars"), pairs)
        .select(col("doc_id"), col("n_chars"))
    },
      // same recursive-CTE components as dedup_clusters, then the
      // per-cluster argmax on text length with smallest-doc_id tie-break
      s"WITH RECURSIVE $docTokCte, $docShCte, $docPairCte, " +
        "e AS (SELECT ia AS a, ib AS b FROM p WHERE j >= 0.8 " +
        "UNION SELECT ib AS a, ia AS b FROM p WHERE j >= 0.8), " +
        "r(a, b) AS (SELECT a, b FROM e " +
        "UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a WHERE e.b <> r.a), " +
        "c AS (SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS cluster_id " +
        "FROM documents d LEFT JOIN r ON d.doc_id = r.a GROUP BY d.doc_id), " +
        "s AS (SELECT c.doc_id, c.cluster_id, CAST(length(d.text) AS INT) AS n_chars " +
        "FROM c JOIN documents d USING (doc_id)) " +
        "SELECT doc_id, n_chars FROM " +
        "(SELECT doc_id, n_chars, row_number() OVER " +
        "(PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn FROM s) " +
        "WHERE rn = 1"),

    // leakage-safe split: the split hash is computed on the near-dup
    // CLUSTER id, so a whole family of near-duplicates lands in exactly one
    // split — a doc-hash split would put copy A in train and copy B in test
    Gate("split_leakage_safe", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.dedup.Dedup.nearDupPairsMinHash(
        docs, col("doc_id"), col("text"), threshold = 0.8)
      graft.dedup.Clustering.splitByClusters(
        docs.select(col("doc_id")), col("doc_id"), pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("cluster_id"), col("split"))
    },
      // same recursive-CTE components, then the split_assign CASE on the
      // CLUSTER id's md5 (cumulative thresholds 0.8 -> cccccccd, 0.9 ->
      // e6666666) — the leakage-safety claim is structural: split is a
      // pure function of cluster_id, so no cluster can straddle splits
      s"WITH RECURSIVE $docTokCte, $docShCte, $docPairCte, " +
        "e AS (SELECT ia AS a, ib AS b FROM p WHERE j >= 0.8 " +
        "UNION SELECT ib AS a, ia AS b FROM p WHERE j >= 0.8), " +
        "r(a, b) AS (SELECT a, b FROM e " +
        "UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a WHERE e.b <> r.a), " +
        "c AS (SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS cluster_id " +
        "FROM documents d LEFT JOIN r ON d.doc_id = r.a GROUP BY d.doc_id) " +
        "SELECT doc_id, cluster_id, CASE " +
        "WHEN substring(md5('graft' || CAST(cluster_id AS VARCHAR)), 1, 8) < 'cccccccd' THEN 'train' " +
        "WHEN substring(md5('graft' || CAST(cluster_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val' " +
        "ELSE 'test' END AS split FROM c"),

    // soft dedup: near-duplicates get weight 1/cluster_size instead of
    // being dropped — every cluster contributes one unit of total weight
    Gate("soft_dedup_weights", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.dedup.Dedup.nearDupPairsMinHash(
        docs, col("doc_id"), col("text"), threshold = 0.8)
      graft.dedup.Clustering.softDedupWeights(
        docs.select(col("doc_id")), col("doc_id"), pairs)
        .select(col("doc_id"), col("cluster_id"), col("dedup_weight"))
    },
      // same components, weight = the literal IEEE division 1.0/size —
      // bit-identical across engines, so the gate hashes exactly
      s"WITH RECURSIVE $docTokCte, $docShCte, $docPairCte, " +
        "e AS (SELECT ia AS a, ib AS b FROM p WHERE j >= 0.8 " +
        "UNION SELECT ib AS a, ia AS b FROM p WHERE j >= 0.8), " +
        "r(a, b) AS (SELECT a, b FROM e " +
        "UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a WHERE e.b <> r.a), " +
        "c AS (SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS cluster_id " +
        "FROM documents d LEFT JOIN r ON d.doc_id = r.a GROUP BY d.doc_id), " +
        "sz AS (SELECT cluster_id, COUNT(*) AS n FROM c GROUP BY cluster_id) " +
        "SELECT c.doc_id, c.cluster_id, " +
        "CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS dedup_weight " +
        "FROM c JOIN sz USING (cluster_id)"),

    // SimHash bit-band candidates verified by exact shingle Jaccard
    Gate("dedup_simhash_pairs", (s, dir) =>
      graft.dedup.Dedup.nearDupPairsSimHash(
        t(s, dir, "documents"), col("doc_id"), col("text"), threshold = 0.8), docPairsSql),
  )
}
