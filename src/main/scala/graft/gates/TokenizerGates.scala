package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Vocabulary, BPE, byte-BPE, Unigram and WordPiece tokenizer gates. */
private[graft] object TokenizerGates {

  /** The golden Unigram segmentation both Unigram paths must reproduce. */
  private val unigramTokensSql =
    "SELECT doc_id, n_ug_tokens, ug_text " +
      s"FROM read_parquet('$goldenDir/unigram_tokens_sf001.parquet')"

  val gates: Seq[Gate] = Seq(
    // vocabulary coverage / OOV report: corpus top-100 tokens by occurrence
    // (deterministic tie-break), then per-doc occurrence coverage from one
    // fused broadcast-probe kernel pass — DuckDB replays the fit and joins
    // on the token STRINGS (hash collisions are 2^-64)
    Gate("vocab_top_tokens", (s, dir) =>
      graft.text.Vocab.topTokens(t(s, dir, "documents"), col("text"), n = 100),
      // vocabulary coverage: same tokenization, top-100 fit replayed with
      // the same (cnt desc, token asc) tie-break, membership on the token
      // strings themselves
      s"WITH $docTokCte, " +
        "uni AS (SELECT u.t AS token FROM tok, unnest(toks) AS u(t)) " +
        "SELECT token, COUNT(*) AS cnt FROM uni GROUP BY token " +
        "ORDER BY cnt DESC, token LIMIT 100"),

    Gate("vocab_coverage", (s, dir) =>
      graft.text.Vocab.selfCoverageReport(
        t(s, dir, "documents"), col("doc_id"), col("text"), vocabSize = 100)
        .withColumnRenamed("id", "doc_id"),
      s"WITH $docTokCte, " +
        "uni AS (SELECT doc_id, u.t AS token FROM tok, unnest(toks) AS u(t)), " +
        "v AS (SELECT token FROM (SELECT token, COUNT(*) AS cnt FROM uni GROUP BY token " +
        "ORDER BY cnt DESC, token LIMIT 100)), " +
        "cov AS (SELECT uni.doc_id, COUNT(*) AS n_in FROM uni JOIN v USING (token) " +
        "GROUP BY uni.doc_id) " +
        "SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens, " +
        "CAST(COALESCE(cov.n_in, 0) AS BIGINT) AS n_in_vocab, " +
        "CASE WHEN len(t.toks) = 0 THEN 0.0 ELSE " +
        "1.0 - CAST(COALESCE(cov.n_in, 0) AS DOUBLE) / CAST(len(t.toks) AS DOUBLE) END AS oov_rate " +
        "FROM tok t LEFT JOIN cov USING (doc_id)"),

    // real BPE tokenization (P63): merges learned from THIS corpus's word-
    // frequency table (deterministic — ties by smallest pair), text encoded
    // to the actual subword stream by the codegen'd kernel. Oracle: golden
    // fixture from an independent python replication of the whole algorithm
    // (word count -> merge loop -> greedy lowest-rank encode,
    // tools/make_golden.py)
    Gate("bpe_tokens", (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.text.Bpe.train(docs, col("text"), numMerges = 200)
      docs.select(col("doc_id"),
        size(graft.text.Bpe.encode(col("text"), model)).cast("long").as("n_bpe_tokens"),
        concat_ws(" ", graft.text.Bpe.encode(col("text"), model)).as("bpe_text"))
    },
      "SELECT doc_id, n_bpe_tokens, bpe_text " +
        s"FROM read_parquet('$goldenDir/bpe_tokens_sf001.parquet')"),

    // P63b byte-level BPE (GPT-2/tiktoken lineage): merges learned over
    // UTF-8 bytes under the fully-specified byte-class pre-token scanner —
    // case/punctuation-faithful, zero OOV, the unit real context windows
    // charge. Oracle: golden fixture from an independent python
    // replication of the ENTIRE algorithm (scanner -> capped frequency
    // table -> merge loop -> greedy encode, tools/make_golden.py).
    Gate("bpe_bytes", (s, dir) => {
      import s.implicits._
      // the shared hazard rows exercise every scanner path the synthetic
      // corpus lacks; 80 merges keeps the tiny vocabulary UNsaturated
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(docs, col("text"), numMerges = 80)
      val enc = graft.text.ByteBpe.encode(coalesce(col("text"), lit("")), model)
      docs.select(col("doc_id"),
        size(enc).cast("long").as("n_byte_tokens"),
        concat_ws(" ", enc).as("byte_bpe_text"))
    },
      "SELECT doc_id, n_byte_tokens, byte_bpe_text " +
        s"FROM read_parquet('$goldenDir/byte_bpe_sf001.parquet')"),

    // P63d byte-BPE round-trip: decode is the EXACT inverse of encode by
    // construction (display map is a byte bijection; merges only
    // concatenate), so the gate is SELF-VERIFYING — the oracle is the raw
    // documents table, no fixture, no replication. Hazard rows (every
    // scanner path) round-trip in sbt; here every corpus row must.
    Gate("bpe_bytes_roundtrip", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      docs.select(col("doc_id"),
        graft.text.ByteBpe.decode(
          graft.text.ByteBpe.encode(col("text"), model)).as("decoded"))
    },
      // decode(encode(x)) == x by construction: the oracle is the RAW
      // table — the strongest kind of gate (no fixture, no replication)
      "SELECT doc_id, text AS decoded FROM documents"),

    // P63f byte-BPE token-ID codec: the artifact a trainer consumes —
    // array<int> ids under the GPT-2 vocab construction (0..255 = bytes,
    // 256+i = merge i) + the persisted (id, token) vocab. Doubly gated:
    // decodeIds(encodeIds(x)) == x against the RAW table (exact inverse),
    // and n_ids must equal the independently-replicated golden's
    // n_byte_tokens (same model, same segmentation — the id stream is the
    // token stream, just re-labeled).
    Gate("bpe_bytes_ids_roundtrip", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val ids = graft.text.ByteBpe.encodeIds(
        coalesce(col("text"), lit("")), model)
      docs.select(col("doc_id"),
        graft.text.ByteBpe.decodeIds(ids, model).as("decoded"),
        size(ids).cast("long").as("n_ids"))
    },
      // ids round-trip to the raw text AND the id-stream length ties to
      // the independently-replicated golden token counts (same model)
      "SELECT d.doc_id, COALESCE(d.text, '') AS decoded, " +
        "g.n_byte_tokens AS n_ids FROM documents d " +
        s"JOIN read_parquet('$goldenDir/byte_bpe_sf001.parquet') g " +
        "USING (doc_id)"),

    // P63g special-token-aware id codec (tiktoken allowed_special): a
    // planted mid-document `<|endoftext|>` must surface as EXACTLY its
    // reserved id (never split into byte tokens) and the round-trip must
    // reproduce the planted text byte-for-byte. Oracle: the planted
    // rebuild + a replace-arithmetic occurrence count.
    Gate("bpe_bytes_special_roundtrip", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val sp = Seq("<|endoftext|>", "<|pad|>")
      val base = graft.text.ByteBpe.vocabSize(model)
      val planted = docs.select(col("doc_id"),
        concat(substring(coalesce(col("text"), lit("")), 1, 30),
          lit("<|endoftext|>"),
          substring(coalesce(col("text"), lit("")), 31, 1000000),
          lit("<|pad|>")).as("t2"))
      val ids = graft.text.ByteBpe.encodeIds(col("t2"), model, sp)
      planted.select(col("doc_id"),
        graft.text.ByteBpe.decodeIds(ids, model, sp).as("decoded"),
        size(filter(ids, i => i >= base)).cast("long").as("n_special"))
    },
      // the planted rebuild round-trips, and the reserved-id count equals
      // the literal occurrence count (replace arithmetic — robust even if
      // a special ever appeared naturally)
      "WITH p AS (SELECT doc_id, " +
        "substring(COALESCE(text, ''), 1, 30) || '<|endoftext|>' || " +
        "substring(COALESCE(text, ''), 31) || '<|pad|>' AS t2 FROM documents) " +
        "SELECT doc_id, t2 AS decoded, " +
        "CAST((length(t2) - length(replace(t2, '<|endoftext|>', ''))) / 13 " +
        "+ (length(t2) - length(replace(t2, '<|pad|>', ''))) / 7 AS BIGINT) " +
        "AS n_special FROM p"),

    // P63h unified tokenizer artifact: merges + vocab + specials + params
    // persisted/loaded as ONE directory (params written last — the
    // DedupIndex fail-loud discipline), so encode/decode config can never
    // drift from its artifact. Gate: encode via the LOADED artifact must
    // equal the in-memory encode id-for-id, planted control tokens
    // round-trip through their reserved ids from disk, and decode
    // reproduces the planted text byte-for-byte ('<|'-scrubbed on both
    // sides so only the plants can alias a special).
    Gate("tokenizer_artifact_roundtrip", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val tok = graft.text.TokenizerArtifact.Tokenizer(
        model, graft.text.Chat.templateSpecials())
      val art = graft.createTemporaryDir("tokenizer-artifact")
      graft.text.TokenizerArtifact.save(s, tok, art)
      val loaded = graft.text.TokenizerArtifact.load(s, art)
      val scrubbed = regexp_replace(coalesce(col("text"), lit("")), "<\\|", "")
      val planted = docs.select(col("doc_id"),
        concat(lit("<|system|>"), substring(scrubbed, 1, 30), lit("<|end|>"),
          substring(scrubbed, 31, 1000000)).as("t2"))
      val ids = loaded.encodeIds(col("t2"))
      planted.select(col("doc_id"),
        loaded.decodeIds(ids).as("decoded"),
        (ids === tok.encodeIds(col("t2"))).as("ids_equal"),
        size(filter(ids, i => i >= loaded.baseVocabSize)).cast("long")
          .as("n_special"))
    },
      // the disk-loaded artifact must reproduce the in-memory codec: the
      // planted markers are the ONLY special-alias candidates ('<|'
      // scrubbed both sides), so decoded == planted text, ids_equal holds
      // by construction, and exactly the 2 plants reserve ids
      "WITH p AS (SELECT doc_id, " +
        "regexp_replace(COALESCE(text, ''), '<\\|', '', 'g') AS tx FROM documents), " +
        "q AS (SELECT doc_id, '<|system|>' || substring(tx, 1, 30) || '<|end|>' || " +
        "substring(tx, 31) AS t2 FROM p) " +
        "SELECT doc_id, t2 AS decoded, true AS ids_equal, " +
        "CAST(2 AS BIGINT) AS n_special FROM q"),

    // P63e lossy-family detokenizers under their DOCUMENTED whitespace
    // contracts: word-BPE and unigram streams carry no word-boundary
    // marker → decode = the concatenated ascii-token stream; WordPiece's
    // `##` marks carry boundaries → decode = the space-joined word
    // stream. The oracle derives all three directly from raw text — so
    // the gate simultaneously proves each encoder loses no within-word
    // characters AND each decoder honors its contract, with zero
    // tokenizer replication.
    Gate("tokenizer_detok", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bpeModel = graft.text.Bpe.train(docs, col("text"), numMerges = 200)
      val wpModel = graft.text.WordPiece.train(docs, col("text"), vocabSize = 300)
      val ugModel = graft.text.Unigram.train(docs, col("text"), vocabSize = 300)
      docs.select(col("doc_id"),
        graft.text.Bpe.decode(
          graft.text.Bpe.encode(col("text"), bpeModel)).as("bpe_detok"),
        graft.text.WordPiece.decode(
          graft.text.WordPiece.encode(col("text"), wpModel)).as("wordpiece_detok"),
        graft.text.Unigram.decode(
          graft.text.Unigram.encode(col("text"), ugModel)).as("unigram_detok"))
    },
      // each lossy family's documented contract derived straight from raw
      // text: no-marker streams (word-BPE, unigram) concatenate the ascii
      // token stream; WordPiece's ## marks rebuild space-joined words
      s"WITH $docTokCte " +
        "SELECT doc_id, array_to_string(toks, '') AS bpe_detok, " +
        "array_to_string(toks, ' ') AS wordpiece_detok, " +
        "array_to_string(toks, '') AS unigram_detok FROM tok"),

    // P63c tokenizer fertility report: per-source BIGINT token sums under
    // whitespace, word-BPE, and byte-BPE counting — the cross-tokenizer
    // budget comparison, one map-side-combined pass. Counts tie to the
    // SAME models the bpe_tokens / bpe_bytes gates train, so the oracle
    // re-aggregates the committed goldens against the documents table.
    Gate("tokenizer_fertility", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val bpeModel = graft.text.Bpe.train(docs, col("text"), numMerges = 200)
      val corpus = docs.select(col("doc_id"), col("text"))
        .unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val bbModel = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      graft.text.CorpusStats.tokenizerFertility(
        docs, col("source"), col("text"), Seq(
          "ws" -> ((t: Column) =>
            size(regexp_extract_all(t, lit("\\S+"), lit(0)))),
          "bpe" -> ((t: Column) => size(graft.text.Bpe.encode(t, bpeModel))),
          "byte_bpe" -> ((t: Column) =>
            size(graft.text.ByteBpe.encode(t, bbModel)))))
    },
      // re-aggregate the committed per-doc goldens against documents —
      // the group sums must match the in-plan kernels exactly
      s"WITH b AS (SELECT doc_id, n_bpe_tokens " +
        s"FROM read_parquet('$goldenDir/bpe_tokens_sf001.parquet')), " +
        s"bb AS (SELECT doc_id, n_byte_tokens " +
        s"FROM read_parquet('$goldenDir/byte_bpe_sf001.parquet') WHERE doc_id >= 0) " +
        "SELECT source AS \"group\", COUNT(*) AS n_docs, " +
        "CAST(SUM(length(text)) AS BIGINT) AS n_chars, " +
        "CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS ws_tokens, " +
        "CAST(SUM(n_bpe_tokens) AS BIGINT) AS bpe_tokens, " +
        "CAST(SUM(n_byte_tokens) AS BIGINT) AS byte_bpe_tokens " +
        "FROM documents JOIN b USING (doc_id) JOIN bb USING (doc_id) " +
        "GROUP BY source"),

    // P96 WordPiece tokenizer: greedy longest-match-first segmentation
    // against a vocab selected on the bounded word table; doc_id-derived
    // planted words LONGER than maxPieceLen force genuine multi-piece
    // paths. Fixture = independent python replication of the whole
    // algorithm (word count -> substring scoring -> vocab cut -> greedy
    // encode, tools/make_golden.py)
    // P105: unigram-LM tokenizer (the third subword family — Viterbi
    // globally-best segmentation under exact fixed-point log2 scores,
    // hard-EM trained). Fixture = an independent python replication of
    // the ENTIRE algorithm (word count -> seed -> EM -> encode),
    // tools/make_golden.py make_unigram_fixture — integer arithmetic end
    // to end, so the match is bit-for-bit, no tolerance.
    Gate("unigram_tokens", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" frag"), col("doc_id"),
          lit("mentation inter"), col("doc_id"), lit("ation")).as("tt"))
      val model = graft.text.Unigram.train(docs, col("tt"), vocabSize = 300)
      docs.select(col("doc_id"),
        size(graft.text.Unigram.encode(col("tt"), model)).cast("long")
          .as("n_ug_tokens"),
        concat_ws(" ", graft.text.Unigram.encode(col("tt"), model))
          .as("ug_text"))
    },
      unigramTokensSql),

    // the save -> SQL round-trip of the same model: train, persist the
    // artifact, then encode PURELY through spark.sql and the registered
    // unigram_encode_model function — must hit the identical fixture
    // P63b SQL-artifact path: train -> saveByteBpe -> encode from PURE SQL
    // against the persisted artifact (the P105 pattern) — must hit the
    // same golden fixture as the in-plan bpe_bytes gate on the shared
    // document rows (the SQL view carries no planted rows, so the oracle
    // filters the fixture to doc_id >= 0)
    Gate("bpe_bytes_sql", (s, dir) => {
      import s.implicits._
      val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val path = java.nio.file.Files
        .createTempDirectory("graft_bbsql").toString + "/m"
      graft.text.ByteBpe.saveByteBpe(s, model, path)
      graft.GraftExtensions.registerAll(s)
      t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("tt"))
        .createOrReplaceTempView("graft_bb_docs")
      s.sql(s"SELECT doc_id, " +
        s"CAST(size(byte_bpe_encode_model('$path', tt)) AS BIGINT) AS n_byte_tokens, " +
        s"concat_ws(' ', byte_bpe_encode_model('$path', tt)) AS byte_bpe_text " +
        "FROM graft_bb_docs")
    },
      "SELECT doc_id, n_byte_tokens, byte_bpe_text " +
        s"FROM read_parquet('$goldenDir/byte_bpe_sf001.parquet') " +
        "WHERE doc_id >= 0"),

    Gate("unigram_tokens_sql", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" frag"), col("doc_id"),
          lit("mentation inter"), col("doc_id"), lit("ation")).as("tt"))
      val model = graft.text.Unigram.train(docs, col("tt"), vocabSize = 300)
      val path = java.nio.file.Files
        .createTempDirectory("graft_ugsql").toString + "/m"
      graft.text.Unigram.saveUnigram(s, model, path)
      graft.GraftExtensions.registerAll(s)
      docs.createOrReplaceTempView("graft_ug_docs")
      s.sql(s"SELECT doc_id, " +
        s"CAST(size(unigram_encode_model('$path', tt)) AS BIGINT) AS n_ug_tokens, " +
        s"concat_ws(' ', unigram_encode_model('$path', tt)) AS ug_text " +
        "FROM graft_ug_docs")
    },
      unigramTokensSql),

    Gate("wordpiece_tokens", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" frag"), col("doc_id"),
          lit("mentation inter"), col("doc_id"), lit("ation")).as("tt"))
      val model = graft.text.WordPiece.train(docs, col("tt"), vocabSize = 300)
      docs.select(col("doc_id"),
        size(graft.text.WordPiece.encode(col("tt"), model)).cast("long")
          .as("n_wp_tokens"),
        concat_ws(" ", graft.text.WordPiece.encode(col("tt"), model))
          .as("wp_text"))
    },
      "SELECT doc_id, n_wp_tokens, wp_text " +
        s"FROM read_parquet('$goldenDir/wordpiece_tokens_sf001.parquet')"),
  )
}
