package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Source parsing, curation, packing and shard gates: the trainer-ready chain. */
private[graft] object PipelineGates {

  /** Build 4 gzip WET shards from (doc_id, payload) rows — byte-for-byte
    * headers + octet Content-Length, doc d on shard d%4 — shared by the
    * warc_ingest and warc_curation gates. Returns the shard directory. */
  private def writeWetShards(rows: Array[(Long, String)],
                             prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    val crlf = "\r\n"
    (0 until 4).foreach { shardIdx =>
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write((s"WARC/1.0${crlf}WARC-Type: warcinfo$crlf" +
        s"Content-Length: 0$crlf$crlf$crlf$crlf")
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      rows.filter(_._1 % 4 == shardIdx).foreach { case (docId, text) =>
        val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        gz.write((s"WARC/1.0${crlf}WARC-Type: conversion$crlf" +
          s"WARC-Target-URI: http://ex.test/$docId$crlf" +
          s"WARC-Date: 2026-08-15T00:00:00Z$crlf" +
          s"Content-Length: ${body.length}$crlf$crlf")
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        gz.write(body)
        gz.write(s"$crlf$crlf".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      }
      gz.close()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/shard$shardIdx.warc.wet.gz"),
        bos.toByteArray)
    }
    root
  }

  /** The declared schema of the golden JSONL and CSV ingest fixtures. */
  private val docsSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("lang", StringType), StructField("n_chars", LongType)))

  /** Every document's text, a null as empty: what a pack-then-unpack
    * round trip must decode. */
  private val packRoundtripSql =
    "SELECT doc_id, COALESCE(text, '') AS decoded FROM documents"

  /** The Gopher quality metrics over `toks` and its bigrams `g2`: average
    * token length, stopword ratio, bigram count and top-bigram count. */
  private[gates] val qualityCols =
    "CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_len, " +
      "CAST(len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)]) AS DOUBLE) / len(toks) AS stop_ratio, " +
      "len(g2) AS t2, CASE WHEN len(g2) = 0 THEN 0 ELSE COALESCE(list_max([len([y for y in g2 if y = x]) for x in list_distinct(g2)]), 0) END AS p2"

  /** Curation stages 1 and 2 over `lsc` and `tok`: the English langid
    * survivors `l1`, then their quality metrics `qm`. */
  private val curationQualityCtes =
    "l1 AS (SELECT doc_id FROM lsc WHERE NOT (s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0) " +
      "AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_es), " +
      "qg AS (SELECT doc_id, toks, CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS g2 " +
      "FROM tok WHERE doc_id IN (SELECT doc_id FROM l1)), " +
      "qm AS (SELECT doc_id, len(toks) AS n, " +
      qualityCols + " FROM qg), "

  /** `docs`' texts as byte-BPE ids in `__ids`, encoded once and pinned:
    * the ids feed several packs and passes. */
  private def encoded(docs: DataFrame, model: graft.text.ByteBpe.ByteBpeModel): DataFrame =
    docs.select(col("doc_id"),
      graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model)
        .as("__ids")).localCheckpoint(true)

  /** The shard artifact at `shardDir` read back from disk: each doc's text
    * decoded with the artifact's own tokenizer, beside the verdict of
    * `verifyShards` in `all_ok`. */
  private def readBack(s: SparkSession, docs: DataFrame,
                       shardDir: String): (graft.text.Shards.ShardSet, DataFrame) = {
    val loaded = graft.text.Shards.loadShards(s, shardDir)
    val verify = graft.text.Shards.verifyShards(s, shardDir, loaded)
    val unpacked = graft.text.Shards.unpackShards(loaded, 1L << 22)
    val mapping = graft.agg.PrefixSum.withRunningTotal(
      docs.select(col("doc_id")), lit(1L), Seq(col("doc_id")), "doc_idx")
    (loaded, mapping.join(unpacked, Seq("doc_idx"), "left_outer")
      .select(col("doc_id"),
        loaded.tokenizer.get.decodeIds(
          coalesce(col("ids"), array().cast("array<int>"))).as("decoded"))
      .crossJoin(broadcast(verify.select(col("all_ok")))))
  }

  /** `name`: whether the loaded artifact's sequences hash equal to a
    * one-shot pack of `docs`' `ids` (order-insensitive content hash). */
  private def equalsOneShot(loaded: graft.text.Shards.ShardSet, docs: DataFrame,
                            ids: Column, sep: Int, name: String): DataFrame = {
    def contentHash(df: DataFrame) =
      df.agg(bit_xor(xxhash64(col("seq_id"), col("ids"), col("n_docs"))).as("h"))
    val oneShot = graft.text.Packing.packTokenIds(docs, ids,
      Seq(col("doc_id")), capacity = 512, sepId = sep)
    contentHash(loaded.data)
      .crossJoin(contentHash(oneShot).withColumnRenamed("h", "h2"))
      .select((col("h") <=> col("h2")).as(name))
  }

  val gates: Seq[Gate] = Seq(
    // end-to-end curation pass: langid -> quality -> exact dedup -> minhash
    // near-dup -> decontaminate -> hash sample, composed by
    // Curation.curate with the same parameterizations as the individual
    // stage gates. Output = the per-stage attrition report (stage, n_rows):
    // every count must match a DuckDB replication of the whole chained
    // pipeline, which certifies stage ORDER and inter-stage dataflow, not
    // just each stage in isolation.
    Gate("curation_report", (s, dir) => {
      val docs = t(s, dir, "documents")
      val handle = UnpersistHandle()
      val (_, report) = graft.pipeline.Curation.curate(
        docs, col("doc_id"), col("text"),
        keepLangs = Set("en"),
        minTokens = 30, maxTokens = 90,
        minAvgTokenLen = 3.0, maxAvgTokenLen = 6.0,
        minStopwordRatio = 0.02, maxTopBigramFraction = 0.2,
        classifierWeights = Some(classifierGateWeights),
        blocklist = Some((docs.filter(col("doc_id") % 97 === 0), col("text"))),
        sampleRate = 0.25,
        unpersistHandle = handle)
      // the report is driver-local rows; the curated cache can go at once
      handle.unpersist()
      report
    },
      s"WITH $docTokCte, " +
        "lsc AS (SELECT doc_id, " +
        TextGates.langScoreCols + " FROM tok), " +
        curationQualityCtes +
        "l2 AS (SELECT doc_id FROM qm WHERE n >= 30 AND n <= 90 AND avg_len >= 3.0 AND avg_len <= 6.0 " +
        "AND stop_ratio >= 0.02 AND (CASE WHEN t2 = 0 THEN 0.0 ELSE CAST(p2 AS DOUBLE) / CAST(t2 AS DOUBLE) END) <= 0.2), " +
        "cuni AS (SELECT doc_id, u.t AS g FROM tok, unnest(toks) AS u(t)), " +
        "cbig AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g " +
        "FROM tok, unnest(range(1, len(toks))) AS r(i)), " +
        s"cwl AS (SELECT [${classifierGateWeights.mkString(", ")}] AS w), " +
        "cscore AS (SELECT f.doc_id, SUM(w.w[" +
        "(strpos('0123456789abcdef', substring(md5(f.g), 1, 1)) - 1) * 16 + " +
        "(strpos('0123456789abcdef', substring(md5(f.g), 2, 1)) - 1) + 1]) AS s " +
        "FROM (SELECT * FROM cuni UNION ALL SELECT * FROM cbig) f CROSS JOIN cwl w GROUP BY f.doc_id), " +
        "l2b AS (SELECT l2.doc_id FROM l2 LEFT JOIN cscore USING (doc_id) WHERE COALESCE(cscore.s, 0) >= 0), " +
        "cfp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f FROM documents " +
        "WHERE doc_id IN (SELECT doc_id FROM l2b)), " +
        "l3 AS (SELECT doc_id FROM cfp QUALIFY ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) = 1), " +
        "csh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS s " +
        "FROM tok WHERE len(toks) >= 3 AND doc_id IN (SELECT doc_id FROM l3)), " +
        "cp AS (SELECT a.doc_id AS ia, b.doc_id AS ib, " +
        "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j " +
        "FROM csh a JOIN csh b ON a.doc_id < b.doc_id), " +
        "l4 AS (SELECT doc_id FROM l3 WHERE doc_id NOT IN (SELECT ib FROM cp WHERE j >= 0.8)), " +
        "csh5 AS (SELECT doc_id, CASE WHEN len(toks) < 5 THEN [] ELSE list_distinct([array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)]) END AS s FROM tok), " +
        "cex AS (SELECT doc_id, u.g FROM csh5, unnest(csh5.s) AS u(g)), " +
        "cbl AS (SELECT DISTINCT g FROM cex WHERE doc_id % 97 = 0), " +
        "ccont AS (SELECT DISTINCT cex.doc_id FROM cex JOIN cbl USING (g) WHERE cex.doc_id IN (SELECT doc_id FROM l4)), " +
        "l5 AS (SELECT doc_id FROM l4 WHERE doc_id NOT IN (SELECT doc_id FROM ccont)), " +
        "l6 AS (SELECT doc_id FROM l5 WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000') " +
        "SELECT '0_input' AS stage, (SELECT COUNT(*) FROM documents) AS n_rows " +
        "UNION ALL SELECT '1_langid', COUNT(*) FROM l1 " +
        "UNION ALL SELECT '2_quality', (SELECT COUNT(*) FROM l2) " +
        "UNION ALL SELECT '2b_classifier', (SELECT COUNT(*) FROM l2b) " +
        "UNION ALL SELECT '3_exact', (SELECT COUNT(*) FROM l3) " +
        "UNION ALL SELECT '4_neardup', (SELECT COUNT(*) FROM l4) " +
        "UNION ALL SELECT '5_decontaminate', (SELECT COUNT(*) FROM l5) " +
        "UNION ALL SELECT '6_sample', (SELECT COUNT(*) FROM l6)"),

    // the daily-ingest loop: reference sources (src0..src9) become a
    // persisted dedup index; the new sources (src10+) curate as an
    // increment — narrow quality stages, batch-internal exact + near-dup
    // dedup, near-dup against the index (reference text never re-read),
    // survivors appended. Output is the attrition report; DuckDB replays
    // every stage relationally (the curation_report predicates + the
    // dedup_against_index cross-side all-pairs verify).
    Gate("curation_increment", (s, dir) => {
      val docs = t(s, dir, "documents")
      val isNew = expr("CAST(substring(source, 4) AS INT) >= 10")
      val idx = graft.createTemporaryDir("cur-inc-index")
      graft.dedup.DedupIndex.saveDedupIndex(
        docs.filter(!isNew), col("doc_id"), col("text"), idx)
      val handle = UnpersistHandle()
      val (_, report) = graft.pipeline.Curation.curateIncrement(
        docs.filter(isNew), col("doc_id"), col("text"), idx,
        keepLangs = Set("en"), minTokens = 30, maxTokens = 90,
        minAvgTokenLen = 3.0, maxAvgTokenLen = 6.0,
        minStopwordRatio = 0.02, maxTopBigramFraction = 0.2,
        unpersistHandle = handle)
      handle.unpersist()
      report
    },
      // chained-pipeline replication: each stage's survivor set feeds the
      // next, so every count checks inter-stage dataflow, not one stage
      // the increment loop replayed stage by stage on the src10+ batch:
      // langid + quality (the curation_report predicates), exact keep-first,
      // within-batch all-pairs near-dup, then the cross-side verify against
      // the src0..src9 reference shingle sets
      s"WITH $docTokCte, $docShCte, " +
        "d AS (SELECT doc_id, CAST(substring(source, 4) AS INT) AS sn FROM documents), " +
        "bids AS (SELECT doc_id FROM d WHERE sn >= 10), " +
        "lsc AS (SELECT doc_id, " +
        TextGates.langScoreCols + " " +
        "FROM tok WHERE doc_id IN (SELECT doc_id FROM bids)), " +
        curationQualityCtes +
        "l2 AS (SELECT doc_id FROM qm WHERE n >= 30 AND n <= 90 AND avg_len >= 3.0 AND avg_len <= 6.0 " +
        "AND stop_ratio >= 0.02 AND (CASE WHEN t2 = 0 THEN 0.0 ELSE CAST(p2 AS DOUBLE) / CAST(t2 AS DOUBLE) END) <= 0.2), " +
        "cfp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f FROM documents " +
        "WHERE doc_id IN (SELECT doc_id FROM l2)), " +
        "l3 AS (SELECT doc_id FROM cfp QUALIFY ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) = 1), " +
        "csh AS (SELECT sh.doc_id, sh.s FROM sh WHERE sh.doc_id IN (SELECT doc_id FROM l3)), " +
        "cp AS (SELECT a.doc_id AS ia, b.doc_id AS ib, " +
        "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j " +
        "FROM csh a JOIN csh b ON a.doc_id < b.doc_id), " +
        "l4 AS (SELECT doc_id FROM l3 WHERE doc_id NOT IN (SELECT ib FROM cp WHERE j >= 0.8)), " +
        "rf AS (SELECT sh.doc_id, sh.s FROM sh JOIN d USING (doc_id) WHERE d.sn < 10), " +
        "c4 AS (SELECT sh.doc_id, sh.s FROM sh WHERE sh.doc_id IN (SELECT doc_id FROM l4)), " +
        "m AS (SELECT DISTINCT c4.doc_id FROM c4 JOIN rf ON " +
        "CAST(len(list_intersect(c4.s, rf.s)) AS DOUBLE) / " +
        "CAST(len(list_distinct(list_concat(c4.s, rf.s))) AS DOUBLE) >= 0.8), " +
        "l5 AS (SELECT doc_id FROM l4 WHERE doc_id NOT IN (SELECT doc_id FROM m)) " +
        "SELECT '0_input' AS stage, (SELECT COUNT(*) FROM bids) AS n_rows " +
        "UNION ALL SELECT '1_langid', COUNT(*) FROM l1 " +
        "UNION ALL SELECT '2_quality', COUNT(*) FROM l2 " +
        "UNION ALL SELECT '3_exact', COUNT(*) FROM l3 " +
        "UNION ALL SELECT '4_neardup_batch', COUNT(*) FROM l4 " +
        "UNION ALL SELECT '5_neardup_index', COUNT(*) FROM l5"),

    // sequence packing: where each doc lands in the fixed-capacity token
    // stream — global prefix sum via the three-phase plan (no
    // single-partition window), seq id/offset by integer division
    Gate("pack_sequences", (s, dir) => {
      import graft.text.TextFunctions._
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", tokenStatsAscii(col("text"), EnglishStopwords)(0))
      graft.text.Packing.packSequences(docs, col("n_tokens"), Seq(col("doc_id")), 256)
        .select(col("doc_id"), col("n_tokens"), col("seq_id"), col("seq_offset"))
    },
      s"WITH $docTokCte, t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok), " +
        "c AS (SELECT doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM t) " +
        "SELECT doc_id, n_tokens, CAST(floor(cb / 256) AS BIGINT) AS seq_id, " +
        "CAST(cb % 256 AS BIGINT) AS seq_offset FROM c"),

    // P37b the shard writer: concatenated token-ID streams + separators cut
    // into capacity-id training rows. Oracle: the whole boundary algebra
    // (per-seq id count, docs touching, docs ENDING = separators) derived
    // in SQL from the independently-replicated golden token counts — any
    // off-by-one in start/slice arithmetic breaks a cell.
    Gate("pack_token_ids", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val sep = graft.text.ByteBpe.vocabSize(model)
      // encode ONCE into a materialized column: the pack's range sort
      // samples its input before shuffling it, so an inline encode
      // expression runs the BPE kernel over the corpus twice
      val encDocs = encoded(docs, model)
      graft.text.Packing.packTokenIds(encDocs, col("__ids"),
          Seq(col("doc_id")), capacity = 512, sepId = sep)
        .select(col("seq_id"), size(col("ids")).cast("long").as("n_ids"),
          col("n_docs"),
          size(filter(col("ids"), i => i === sep)).cast("long").as("n_seps"))
    },
      // the packing boundary algebra derived entirely from the golden
      // token counts: doc n = n_byte_tokens + 1 (the separator), exclusive
      // running start over doc_id order, spans = the sequences a doc
      // touches; per seq — ids covered, docs touching, docs ending
      "WITH g AS (SELECT doc_id, n_byte_tokens + 1 AS n " +
        s"FROM read_parquet('$goldenDir/byte_bpe_sf001.parquet') " +
        "WHERE doc_id >= 0), " +
        "c AS (SELECT doc_id, n, COALESCE(SUM(n) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s FROM g), " +
        "sp AS (SELECT doc_id, n, s, CAST(s // 512 AS BIGINT) AS fs, " +
        "CAST((s + n - 1) // 512 AS BIGINT) AS ls FROM c), " +
        "x AS (SELECT doc_id, u.sq AS seq_id, s, n " +
        "FROM sp, unnest(range(sp.fs, sp.ls + 1)) AS u(sq)) " +
        "SELECT seq_id, " +
        "CAST(SUM(LEAST((seq_id + 1) * 512, s + n) - GREATEST(seq_id * 512, s)) AS BIGINT) AS n_ids, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN (s + n - 1) // 512 = seq_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seps " +
        "FROM x GROUP BY 1"),

    // P37g per-sequence document-boundary metadata — the varlen-attention
    // side table (cu_seqlens lineage): offsets where a document BEGINS in
    // each sequence, derived from the packed ids alone (position after
    // each separator; position 0 via the previous sequence's last id).
    // Oracle: every document's start is its golden-counts running sum —
    // seq s DIV 512, offset s % 512 — so any drift in the derivation
    // (trailing separator, empty docs, boundary-straddle) breaks rows.
    Gate("pack_doc_starts", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val sep = graft.text.ByteBpe.vocabSize(model)
      // encode once (the sort sampler re-evaluates inline expressions) and
      // materialize the pack once (docBoundaries self-joins it on seq_id-1)
      val encDocs = encoded(docs, model)
      val packed = graft.text.Packing.packTokenIds(encDocs, col("__ids"),
        Seq(col("doc_id")), capacity = 512, sepId = sep)
        .localCheckpoint(true)
      graft.text.Packing.docBoundaries(packed, sep)
        .select(col("seq_id"), explode(col("doc_starts")).as("start_pos"))
        .select(col("seq_id"), col("start_pos").cast("long").as("start_pos"))
    },
      // every document's start position from the golden counts' running
      // sum: sequence = s DIV 512, offset = s % 512 (empty docs start at
      // their bare separator; nothing starts after the final separator)
      "WITH g AS (SELECT doc_id, n_byte_tokens + 1 AS n " +
        s"FROM read_parquet('$goldenDir/byte_bpe_sf001.parquet') " +
        "WHERE doc_id >= 0), " +
        "c AS (SELECT doc_id, COALESCE(SUM(n) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s FROM g) " +
        "SELECT CAST(s // 512 AS BIGINT) AS seq_id, " +
        "CAST(s % 512 AS BIGINT) AS start_pos FROM c"),

    // P37i per-sequence token provenance: the mixture accounting per
    // shard ("how many ids of sequence s come from source x"), computed
    // from counts alone — no ids materialize. Oracle: the same span
    // algebra as pack_token_ids derived from the golden token counts,
    // grouped by (seq, doc_id % 3); the per-seq provenance must also sum
    // back to pack_token_ids' n_ids, so the two gates cross-check.
    Gate("pack_provenance", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      graft.text.Packing.tokenProvenance(docs,
        graft.text.ByteBpe.tokenCount(coalesce(col("text"), lit("")), model),
        Seq(col("doc_id")), capacity = 512,
        source = (col("doc_id") % 3).cast("long"))
    },
      // the provenance spans from the golden counts: per (seq, doc_id%3)
      // sum of covered ids, separator charged to its document
      "WITH g AS (SELECT doc_id, n_byte_tokens + 1 AS n " +
        s"FROM read_parquet('$goldenDir/byte_bpe_sf001.parquet') " +
        "WHERE doc_id >= 0), " +
        "c AS (SELECT doc_id, n, COALESCE(SUM(n) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s FROM g), " +
        "sp AS (SELECT doc_id, n, s, CAST(s // 512 AS BIGINT) AS fs, " +
        "CAST((s + n - 1) // 512 AS BIGINT) AS ls FROM c), " +
        "x AS (SELECT doc_id, u.sq AS seq_id, s, n " +
        "FROM sp, unnest(range(sp.fs, sp.ls + 1)) AS u(sq)) " +
        "SELECT seq_id, CAST(doc_id % 3 AS BIGINT) AS source, " +
        "CAST(SUM(LEAST((seq_id + 1) * 512, s + n) - GREATEST(seq_id * 512, s)) AS BIGINT) AS n_ids " +
        "FROM x GROUP BY 1, 2"),

    // P37h no-split bin packing (histogram best-fit, SPFHP lineage): every
    // document lands WHOLE in one fixed-capacity bin — padding-free
    // batches withOUT cross-document attention (contrast P37b's stream
    // cut). The ≤capacity-row histogram solve runs on the driver; the
    // oracle is a committed fixture from the independent python
    // replication of the exact deterministic spec (tools/make_golden.py
    // make_binpack_fixture) over the same golden token counts — any
    // divergence in fit/tie/open/split rules breaks rows.
    Gate("bin_pack_assign", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      graft.text.BinPack.packBins(docs,
          graft.text.ByteBpe.tokenCount(coalesce(col("text"), lit("")), model),
          Seq(col("doc_id")), capacity = 512)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("bin_id").cast("long").as("bin_id"),
          col("slot").cast("long").as("slot"))
    },
      // the committed replication of the bin-packing spec over the same
      // golden token counts
      "SELECT doc_id, n_tokens, bin_id, slot " +
        s"FROM read_parquet('$goldenDir/binpack_sf001.parquet')"),

    // P37h the materialized no-split artifact round-trip — fixture-free:
    // re-split every bin at its doc_starts, decode each block, and every
    // document must come back byte-for-byte (doc identity recovered by
    // joining the deterministic assignment on (bin, slot)). Any error in
    // slot ordering, doc_starts arithmetic, or concatenation breaks rows.
    Gate("bin_pack_roundtrip", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val enc = graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model)
      // ONE histogram solve: assign over the id arrays themselves
      // (tokenCount == size(encodeIds) by definition, so the assignment is
      // identical), then assemble the sequences from that same assignment
      // instead of re-running packBins inside packBinSequences.
      // Encode-once discipline: the BPE encode is checkpointed before the
      // solve, and the assignment itself is checkpointed because TWO
      // consumers read it (the sequence assembly and the (bin, slot)
      // identity join) — unpinned, each consumer would re-run the rank
      // window and the event join
      val encDocs = docs.select(col("doc_id"), enc.as("__ids"))
        .localCheckpoint(true)
      val assigned = graft.text.BinPack.packBins(
        encDocs, size(col("__ids")),
        Seq(col("doc_id")), capacity = 512)
        .localCheckpoint(true)
      val seqs = graft.text.BinPack.binSequencesFromAssigned(
        assigned, col("__ids"), capacity = 512)
      val perDoc = seqs
        .select(col("bin_id"), col("ids"), col("doc_starts"),
          posexplode(col("doc_starts")).as(Seq("slot", "start")))
        .select(col("bin_id"), col("slot"),
          slice(col("ids"), col("start") + 1,
            coalesce(get(col("doc_starts"), col("slot") + 1), size(col("ids")))
              - col("start")).as("doc_ids"))
      docs.join(
          assigned.join(perDoc, Seq("bin_id", "slot"))
            .select(col("doc_id"),
              graft.text.ByteBpe.decodeIds(col("doc_ids"), model).as("dec")),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("dec"), lit("")).as("decoded"))
    },
      // the no-split artifact decodes every document back byte-for-byte
      // (empty/null docs drop from bins and re-join as '')
      packRoundtripSql),

    // P37h the layout report: exact-integer bins/docs/tokens/capacity and
    // the ceil(total/capacity) lower bound — the oracle re-derives all
    // five from the fixture, so bins-used must match the replication's
    // count exactly (102 bins over 500 docs at 99.2% fill at sf0.01)
    Gate("bin_pack_report", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val assigned = graft.text.BinPack.packBins(docs,
        graft.text.ByteBpe.tokenCount(coalesce(col("text"), lit("")), model),
        Seq(col("doc_id")), capacity = 512)
      graft.text.BinPack.binPackReport(assigned, 512)
    },
      // all five report fields re-derived from the fixture (bins used
      // must equal the replication's solve exactly)
      "SELECT CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, " +
        "CAST(COUNT(DISTINCT bin_id) * 512 AS BIGINT) AS slot_capacity, " +
        "CAST((SUM(n_tokens) + 511) // 512 AS BIGINT) AS min_bins " +
        s"FROM read_parquet('$goldenDir/binpack_sf001.parquet')"),

    // P37c the full content round-trip — pack → unpack → decode must give
    // every document back byte-for-byte (the strongest possible shard-QA
    // gate: zero fixtures, zero replication; doc_idx joins back to doc_id
    // through the repo's own three-phase global row number)
    Gate("pack_roundtrip", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val sep = graft.text.ByteBpe.vocabSize(model)
      // the unpack consumes the pack twice (separator census + segment
      // explode) — materialize the packed table once, as a disk-backed
      // artifact would be, instead of re-running the pack per consumer
      val encDocs = encoded(docs, model)
      val packed = graft.text.Packing.packTokenIds(encDocs, col("__ids"),
        Seq(col("doc_id")), capacity = 512, sepId = sep)
        .localCheckpoint(true)
      val unpacked = graft.text.Packing.unpackTokenIds(packed, 512, sep)
      val mapping = graft.agg.PrefixSum.withRunningTotal(
        docs.select(col("doc_id")), lit(1L), Seq(col("doc_id")), "doc_idx")
      // empty documents pack as a bare separator and unpack to nothing —
      // they must still round-trip to '' (left join + typed empty array)
      mapping.join(unpacked, Seq("doc_idx"), "left_outer")
        .select(col("doc_id"),
          graft.text.ByteBpe.decodeIds(
            coalesce(col("ids"), array().cast("array<int>")), model)
            .as("decoded"))
    },
      // pack -> unpack -> decode == the raw table, byte for byte
      packRoundtripSql),

    // P37c persisted training shards — the one-call artifact loop a
    // trainer consumes: saveShards (pack → sized seq_id-range-clustered
    // parquet + P92 manifest + bundled tokenizer artifact + params-last)
    // → verifyShards (manifest + dense/sized structure) must say all_ok
    // → unpackShards → decode with the tokenizer LOADED FROM THE
    // DIRECTORY == the raw documents byte-for-byte. sepId is the
    // tokenizer's own <|endoftext|> reserved id — the composition a real
    // stack ships. The tiny targetFileBytes deliberately trips the
    // sizing rewrite so the resize path is gate-covered.
    Gate("shards_write_readback", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val tok = graft.text.TokenizerArtifact.Tokenizer(
        model, Seq("<|endoftext|>"))
      val sep = graft.text.ByteBpe.vocabSize(model) // <|endoftext|>'s reserved id
      val shardDir = graft.createTemporaryDir("shards")
      val encDocs = encoded(docs, model)
      graft.text.Shards.saveShards(encDocs, col("__ids"),
        Seq(col("doc_id")), capacity = 512, sepId = sep, dir = shardDir,
        tokenizer = Some(tok), targetFileBytes = 64L * 1024)
      readBack(s, docs, shardDir)._2
    },
      // the full artifact loop from disk: save -> verify -> unpack ->
      // decode with the bundled tokenizer == the raw table, and the
      // manifest/structure verdict is all_ok on every row
      "SELECT doc_id, COALESCE(text, '') AS decoded, true AS all_ok FROM documents"),

    // P37d incremental shard append — the daily-ingest loop: save the
    // first half, append the second at startOffset = total_ids, and the
    // artifact must be CONTENT-IDENTICAL to a one-shot pack over the
    // whole corpus (order-insensitive bit_xor content hash, asserted
    // in-plan as append_equals_oneshot), with the old partial tail
    // sequence rewritten under the crash-safe swap and verifyShards
    // still all_ok. Round-trip: unpack + decode == the raw table.
    Gate("shards_append_readback", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val tok = graft.text.TokenizerArtifact.Tokenizer(
        model, Seq("<|endoftext|>"))
      val sep = graft.text.ByteBpe.vocabSize(model)
      // encode the corpus ONCE: the ids feed the save, the append, and the
      // one-shot comparison pack — six kernel passes as an inline expression
      val encDocs = encoded(docs, model)
      val ids = col("__ids")
      val shardDir = graft.createTemporaryDir("shards-append")
      graft.text.Shards.saveShards(encDocs.filter(col("doc_id") < 250), ids,
        Seq(col("doc_id")), capacity = 512, sepId = sep, dir = shardDir,
        tokenizer = Some(tok))
      graft.text.Shards.appendShards(encDocs.filter(col("doc_id") >= 250), ids,
        Seq(col("doc_id")), shardDir)
      val (loaded, decoded) = readBack(s, docs, shardDir)
      decoded.crossJoin(broadcast(equalsOneShot(loaded, encDocs, ids, sep,
        "append_equals_oneshot")))
    },
      // append == one-shot (content hash equal, in-plan), the swapped
      // artifact verifies, and the disk round-trip still returns the
      // raw corpus byte-for-byte
      "SELECT doc_id, COALESCE(text, '') AS decoded, true AS all_ok, " +
        "true AS append_equals_oneshot FROM documents"),

    // P37f streaming shard append — the live-ingest twin of the artifact
    // loop: replay the corpus as THREE ordered micro-batches (doc_id
    // ranges, so each batch's order sorts after every earlier one)
    // through the foreachBatch sink (first batch bootstraps, later ones
    // append under the recorded-batch-id idempotence), then the streamed
    // artifact must verify all_ok, content-hash-equal the one-shot pack,
    // and round-trip every document byte-for-byte from disk.
    Gate("streaming_shard_append", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val tok = graft.text.TokenizerArtifact.Tokenizer(
        model, Seq("<|endoftext|>"))
      val sep = graft.text.ByteBpe.vocabSize(model)
      val ids = graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model)
      val shardDir = graft.createTemporaryDir("stream-shards")
      val root = java.nio.file.Files
        .createTempDirectory("graft_stream_shards").toString
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val span = maxId / 3 + 1
      val schema = graft.streaming.StreamHarness.writeOrderedBatches(
        docs, least(expr(s"doc_id DIV ${span}L"), lit(2L)).cast("int"),
        numBatches = 3, s"$root/in")
      val stream = graft.streaming.StreamHarness.readOrderedBatches(
        s, s"$root/in", schema)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = graft.streaming.StreamingShards.appendStream(
          stream, ids, Seq(col("doc_id")), capacity = 512, sepId = sep,
          dir = shardDir, tokenizer = Some(tok), checkpointDir = s"$root/ck")
        try { q.processAllAvailable() } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val (loaded, decoded) = readBack(s, docs, shardDir)
      decoded.crossJoin(broadcast(equalsOneShot(loaded, docs, ids, sep,
        "stream_equals_oneshot")))
    },
      // the STREAMED artifact (3 ordered micro-batches through the
      // foreachBatch sink) == the one-shot pack, verified and
      // round-tripped from disk
      "SELECT doc_id, COALESCE(text, '') AS decoded, true AS all_ok, " +
        "true AS stream_equals_oneshot FROM documents"),

    // P37e range-restricted unpack — the sampled-QA mode for packs where
    // full per-token unpacking is out of budget: decode ONLY sequences
    // [2, 5) and the COMPLETE documents inside (left edge exact via the
    // previous sequence's last-id peek, right edge via the separator
    // census) must equal exactly the corpus rows whose absolute positions
    // the oracle derives from the golden token counts.
    Gate("unpack_range", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val sep = graft.text.ByteBpe.vocabSize(model)
      // census + range explode + left-edge peek all re-read the pack:
      // materialize it once (the disk-artifact shape)
      val encDocs = encoded(docs, model)
      val packed = graft.text.Packing.packTokenIds(encDocs, col("__ids"),
        Seq(col("doc_id")), capacity = 512, sepId = sep)
        .localCheckpoint(true)
      graft.text.Packing.unpackTokenIdsRange(packed, 512, sep,
          fromSeq = 2, untilSeq = 5)
        .select(col("doc_idx"),
          graft.text.ByteBpe.decodeIds(col("ids"), model).as("decoded"))
    },
      // the complete-docs-in-range rule derived from first principles:
      // doc positions from the golden counts' running sum; complete in
      // [2*512, 5*512) iff it starts at/after the left edge and its
      // separator (start + n - 1) lands before the right edge; empty
      // docs (n = 1, bare separator) emit nothing
      "WITH g AS (SELECT doc_id, n_byte_tokens + 1 AS n " +
        s"FROM read_parquet('$goldenDir/byte_bpe_sf001.parquet') " +
        "WHERE doc_id >= 0), " +
        "c AS (SELECT doc_id, n, COALESCE(SUM(n) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS doc_idx FROM g) " +
        "SELECT c.doc_idx, COALESCE(d.text, '') AS decoded " +
        "FROM c JOIN documents d USING (doc_id) " +
        "WHERE c.s >= 2 * 512 AND c.s + c.n - 1 < 5 * 512 AND c.n > 1"),

    // P97 validated JSONL ingest: every line either parses against the
    // DECLARED schema or lands verbatim in quarantine. The fixture carries
    // only SYNTAX-level corruption (truncated objects + garbage), so
    // Spark's PERMISSIVE corrupt set and DuckDB's json_valid() agree
    // exactly; type-mismatch flagging (where engines differ) is sbt-pinned
    Gate("jsonl_parse", (s, dir) => {
      graft.sources.Jsonl.good(graft.sources.Jsonl.readValidated(
        s, s"$goldenDir/docs_sf001.jsonl", docsSchema))
    },
      "SELECT CAST(json_extract(line, '$.doc_id') AS BIGINT) AS doc_id, " +
        "json_extract_string(line, '$.lang') AS lang, " +
        "CAST(json_extract(line, '$.n_chars') AS BIGINT) AS n_chars " +
        s"FROM read_csv('$goldenDir/docs_sf001.jsonl', " +
        "columns={'line':'VARCHAR'}, delim=chr(1), quote='', escape='', " +
        "header=false) WHERE json_valid(line)"),

    Gate("jsonl_quarantine", (s, dir) => {
      graft.sources.Jsonl.quarantine(graft.sources.Jsonl.readValidated(
        s, s"$goldenDir/docs_sf001.jsonl", docsSchema))
    },
      s"SELECT line FROM read_csv('$goldenDir/docs_sf001.jsonl', " +
        "columns={'line':'VARCHAR'}, delim=chr(1), quote='', escape='', " +
        "header=false) WHERE NOT json_valid(line)"),

    // P100 schema drift report: two deliberately drifted vintages of the
    // orders export — added, removed, type-changed, unchanged each planted;
    // footer-only read; oracle is the fully determined literal table
    Gate("schema_drift", (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_schemadrift").toString
      val orders = t(s, dir, "orders")
      orders.select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .limit(100).write.mode("overwrite").parquet(s"$root/left")
      orders.select(col("o_orderkey").cast("int").as("o_orderkey"),
          col("o_totalprice"), col("o_orderstatus"))
        .limit(100).write.mode("overwrite").parquet(s"$root/right")
      graft.diff.SchemaDiff.schemaDiffDirs(s, s"$root/left", s"$root/right")
    },
      "SELECT * FROM (VALUES " +
        "('o_orderkey', 'type_changed', 'BIGINT', 'INT'), " +
        "('o_totalprice', 'unchanged', 'DOUBLE', 'DOUBLE'), " +
        "('o_orderpriority', 'removed', 'STRING', NULL), " +
        "('o_orderstatus', 'added', NULL, 'STRING')" +
        ") AS t(\"column\", status, left_type, right_type)"),

    // P97b validated CSV ingest (the positional twin): arity-only fixture
    // corruption, where PERMISSIVE from_csv and read_csv(ignore_errors)
    // provably agree; type-mismatch flagging is sbt-pinned
    Gate("csv_parse", (s, dir) => {
      graft.sources.Csvl.good(graft.sources.Csvl.readValidated(
        s, s"$goldenDir/docs_sf001.csv", docsSchema))
    },
      s"SELECT doc_id, lang, n_chars FROM read_csv('$goldenDir/docs_sf001.csv', " +
        "columns={'doc_id':'BIGINT','lang':'VARCHAR','n_chars':'BIGINT'}, " +
        "header=false, ignore_errors=true, null_padding=false, " +
        "auto_detect=false, delim=',', quote='\"', escape='\"')"),

    Gate("csv_quarantine", (s, dir) => {
      graft.sources.Csvl.quarantine(graft.sources.Csvl.readValidated(
        s, s"$goldenDir/docs_sf001.csv", docsSchema))
    },
      s"SELECT line FROM read_csv('$goldenDir/docs_sf001.csv', " +
        "columns={'line':'VARCHAR'}, delim=chr(1), quote='', escape='', " +
        "header=false) WHERE len(string_split(line, ',')) <> 3"),

    // P106 WARC/WET ingest: the gate builds gzip WET shards from the
    // documents table byte-for-byte (headers + octet Content-Length),
    // reads them back through binaryFile + the warc_records kernel, and
    // the oracle recomputes every field directly from the table — uri
    // derivation, OCTET lengths (strlen), payload text
    Gate("warc_ingest", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .filter(col("doc_id") < 200)
        .orderBy("doc_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val root = writeWetShards(docs, "graft_wet")
      graft.sources.Warc.readWarc(s, root)
        .where(col("warc_type") === "conversion")
        .select(col("target_uri"), col("content_length"), col("payload"))
    },
      "SELECT 'http://ex.test/' || CAST(doc_id AS VARCHAR) AS target_uri, " +
        "CAST(strlen(COALESCE(text, '')) AS BIGINT) AS content_length, " +
        "COALESCE(text, '') AS payload FROM documents WHERE doc_id < 200"),

    // P131 end-to-end crawl composition: the front door chained into the
    // curation pipeline — gzip WET shards whose payloads carry REAL
    // mojibake corruption (the golden fixture's corrupted texts), read
    // back through the warc_records kernel, repaired (P76), canonicalized
    // (P54), then the P47 curation chain (langid -> quality -> exact ->
    // near-dup). The DuckDB oracle replays the whole chain from the
    // fixture's repaired texts; each attrition count certifies the
    // inter-stage dataflow starting from raw gzip bytes.
    Gate("warc_curation", (s, dir) => {
      val moji = s.read.parquet(s"$goldenDir/mojibake_sf001.parquet")
        .filter(col("moji_id") >= 0 && col("moji_id") < 200)
        .orderBy("moji_id")
        .select(col("moji_id"), col("corrupted"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val root = writeWetShards(moji, "graft_wet_cur")
      val repaired = graft.sources.Warc.readWarc(s, root)
        .where(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          graft.text.TextFunctions.canonicalizeText(
            graft.functions.vectors.fix_mojibake(col("payload"))).as("text"))
      val handle = UnpersistHandle()
      val (_, report) = graft.pipeline.Curation.curate(
        repaired, col("doc_id"), col("text"),
        keepLangs = Set("en"), minTokens = 30, maxTokens = 96,
        minAvgTokenLen = 3.0, maxAvgTokenLen = 6.0,
        minStopwordRatio = 0.02, maxTopBigramFraction = 0.2,
        sampleRate = 1.0, unpersistHandle = handle)
      handle.unpersist()
      report
    },
      // the whole crawl->curation chain replayed: the fixture's REPAIRED
      // texts (the mojibake inverse is golden-pinned) -> the canonicalize
      // algebra -> the curation_report stage predicates, each stage
      // feeding the next
      s"WITH fx AS (SELECT moji_id AS doc_id, fixed_text " +
        s"FROM read_parquet('$goldenDir/mojibake_sf001.parquet') " +
        "WHERE moji_id >= 0 AND moji_id < 200), " +
        "cn AS (SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(fixed_text), " +
        "'[\\x00-\\x08\\x0b\\x0e-\\x1f\\x7f]', '', 'g'), " +
        "'[\\t\\n\\f\\r ]+', ' ', 'g')) AS text FROM fx), " +
        "tok AS (SELECT doc_id, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM cn), " +
        "lsc AS (SELECT doc_id, " +
        TextGates.langScoreCols + " FROM tok), " +
        curationQualityCtes +
        "l2 AS (SELECT doc_id FROM qm WHERE n >= 30 AND n <= 96 AND avg_len >= 3.0 AND avg_len <= 6.0 " +
        "AND stop_ratio >= 0.02 AND (CASE WHEN t2 = 0 THEN 0.0 ELSE CAST(p2 AS DOUBLE) / CAST(t2 AS DOUBLE) END) <= 0.2), " +
        "cfp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f FROM cn " +
        "WHERE doc_id IN (SELECT doc_id FROM l2)), " +
        "l3 AS (SELECT doc_id FROM cfp QUALIFY ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) = 1), " +
        "csh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS s " +
        "FROM tok WHERE len(toks) >= 3 AND doc_id IN (SELECT doc_id FROM l3)), " +
        "cp AS (SELECT a.doc_id AS ia, b.doc_id AS ib, " +
        "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j " +
        "FROM csh a JOIN csh b ON a.doc_id < b.doc_id), " +
        "l4 AS (SELECT doc_id FROM l3 WHERE doc_id NOT IN (SELECT ib FROM cp WHERE j >= 0.8)) " +
        "SELECT '0_input' AS stage, (SELECT COUNT(*) FROM cn) AS n_rows " +
        "UNION ALL SELECT '1_langid', COUNT(*) FROM l1 " +
        "UNION ALL SELECT '2_quality', (SELECT COUNT(*) FROM l2) " +
        "UNION ALL SELECT '3_exact', (SELECT COUNT(*) FROM l3) " +
        "UNION ALL SELECT '4_neardup', (SELECT COUNT(*) FROM l4)"),

    // Gopher-style composite quality filter over the fused kernels —
    // thresholds tuned so the synthetic corpus splits nontrivially
    Gate("quality_filter", (s, dir) =>
      graft.text.QualityFilters.gopherFilter(
        t(s, dir, "documents"), col("text"),
        minTokens = 30, maxTokens = 90,
        minAvgTokenLen = 3.0, maxAvgTokenLen = 6.0,
        minStopwordRatio = 0.02, maxTopBigramFraction = 0.2)
        .select(col("doc_id")),
      s"WITH $docTokCte, g AS (SELECT doc_id, toks, " +
        "CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS g2 " +
        "FROM tok), " +
        "m AS (SELECT doc_id, len(toks) AS n, " +
        qualityCols + " " +
        "FROM g) " +
        "SELECT doc_id FROM m WHERE n >= 30 AND n <= 90 " +
        "AND avg_len >= 3.0 AND avg_len <= 6.0 AND stop_ratio >= 0.02 " +
        "AND (CASE WHEN t2 = 0 THEN 0.0 ELSE CAST(p2 AS DOUBLE) / CAST(t2 AS DOUBLE) END) <= 0.2"),
  )
}
