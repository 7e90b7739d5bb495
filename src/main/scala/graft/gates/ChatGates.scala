package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Chat transcript parse, trim, render, loss-mask and FIM gates. */
private[graft] object ChatGates {

  /** Deterministic chat-transcript fixture over a document row — the SAME
    * expression the DuckDB chat oracles rebuild: a system turn plus two
    * turns from text slices, then a planted violation (doc_id %13 a
    * double-user break, %17 a role-less line) or a clean closing pair. */
  private def chatTranscript(docId: Column, text: Column): Column = {
    val t0 = concat(lit("system: be concise\nuser: "), substring(text, 1, 40),
      lit("\nassistant: "), substring(text, 41, 40))
    when(docId % 13 === 0, concat(t0, lit("\nuser: one more\nuser: double user")))
      .when(docId % 17 === 0, concat(t0, lit("\nbad line no colon")))
      .otherwise(concat(t0, lit("\nuser: follow up\nassistant: done")))
  }

  /** Shared CTE chain for the chat oracles: transcript -> lines -> parsed
    * turns with whitespace token counts (the exact [[graft.text.Chat]]
    * parse, re-expressed in DuckDB SQL). */
  private val chatTurnsCte: String =
    "t AS (SELECT doc_id, 'system: be concise' || chr(10) || 'user: ' || " +
      "substr(text, 1, 40) || chr(10) || 'assistant: ' || substr(text, 41, 40) || " +
      "CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'user: one more' || chr(10) || 'user: double user' " +
      "WHEN doc_id % 17 = 0 THEN chr(10) || 'bad line no colon' " +
      "ELSE chr(10) || 'user: follow up' || chr(10) || 'assistant: done' END AS tr " +
      "FROM documents), " +
      // a NULL text nulls the whole transcript (|| propagates) — coalesce
      // so the doc reads as ONE empty invalid line, matching explodeTurns,
      // instead of vanishing from the audit
      "pp AS (SELECT doc_id, string_split(COALESCE(tr, ''), chr(10)) AS parts FROM t), " +
      "lines AS (SELECT doc_id, CAST(r.i - 1 AS BIGINT) AS turn_idx, parts[r.i] AS l " +
      "FROM pp, unnest(range(1, len(parts) + 1)) AS r(i)), " +
      "turns AS (SELECT doc_id, turn_idx, " +
      "regexp_extract(l, '^(system|user|assistant|tool): ', 1) AS role, " +
      "CASE WHEN regexp_extract(l, '^(system|user|assistant|tool): ', 1) <> '' " +
      "THEN substr(l, length(regexp_extract(l, '^(system|user|assistant|tool): ', 1)) + 3) " +
      "ELSE l END AS content FROM lines), " +
      "tt AS (SELECT doc_id, turn_idx, role, content, " +
      "CAST(len(regexp_extract_all(content, '\\S+')) AS BIGINT) AS n_tokens FROM turns)"

  /** Deterministic MESSAGES-format chat fixture — a JSON `{"messages":
    * [...]}` document per row with the hazards real SFT corpora carry:
    * content embedding a newline (the line format cannot represent it),
    * an unknown role (%13), a truncated/malformed JSON payload (%19), an
    * EMPTY messages array (%23), and a missing `messages` key (%29).
    * Built with to_json so escaping is canonical; the DuckDB oracle
    * builds its own JSON with its own to_json and parses it back — both
    * sides replay the identical parsed turns. */
  private def chatMessagesJson(docId: Column, text: Column): Column =
    when(docId % 19 === 0, lit("{\"messages\": [{\"role\": \"user\""))
      .when(docId % 23 === 0, lit("{\"messages\": []}"))
      .when(docId % 29 === 0, lit("{\"other\": 1}"))
      .otherwise(to_json(struct(array(
        struct(lit("system").as("role"), lit("be concise").as("content")),
        struct(lit("user").as("role"),
          concat(substring(text, 1, 20), lit("\n"), substring(text, 21, 20))
            .as("content")),
        struct(when(docId % 13 === 0, lit("narrator")).otherwise(lit("assistant"))
          .as("role"), substring(text, 41, 30).as("content")),
        struct(lit("user").as("role"), lit("thanks").as("content")),
        struct(lit("assistant").as("role"), lit("done").as("content"))
      ).as("messages"))))

  /** Shared CTE chain for the MESSAGES-format chat oracles: the same
    * fixture JSON built with DuckDB's to_json, then genuinely parsed back
    * through json_extract — malformed/empty/missing-messages rows become
    * the single role-'' invalid turn carrying the raw payload, exactly
    * the [[graft.text.Chat.parseMessages]] contract. */
  private val chatMessagesCte: String =
    "mj AS (SELECT doc_id, CASE " +
      "WHEN doc_id % 19 = 0 THEN '{\"messages\": [{\"role\": \"user\"' " +
      "WHEN doc_id % 23 = 0 THEN '{\"messages\": []}' " +
      "WHEN doc_id % 29 = 0 THEN '{\"other\": 1}' " +
      "ELSE CAST(to_json(struct_pack(messages := [" +
      "struct_pack(role := 'system', content := 'be concise'), " +
      "struct_pack(role := 'user', content := substr(text, 1, 20) || chr(10) || substr(text, 21, 20)), " +
      "struct_pack(role := CASE WHEN doc_id % 13 = 0 THEN 'narrator' ELSE 'assistant' END, content := substr(text, 41, 30)), " +
      "struct_pack(role := 'user', content := 'thanks'), " +
      "struct_pack(role := 'assistant', content := 'done')])) AS VARCHAR) END AS j " +
      "FROM documents), " +
      "pm AS (SELECT doc_id, j, json_extract(TRY_CAST(j AS JSON), '$.messages') AS msgs FROM mj), " +
      "base AS (SELECT doc_id, j, CASE WHEN msgs IS NULL OR json_type(msgs) <> 'ARRAY' " +
      "OR json_array_length(msgs) = 0 THEN NULL ELSE msgs END AS msgs FROM pm), " +
      // json_array_length is UBIGINT; range() needs BIGINT
      "" +
      "inv AS (SELECT doc_id, CAST(0 AS BIGINT) AS turn_idx, '' AS role, " +
      "COALESCE(j, '') AS content FROM base WHERE msgs IS NULL), " +
      "tm AS (SELECT doc_id, CAST(r.i AS BIGINT) AS turn_idx, " +
      "json_extract_string(msgs, '$[' || r.i || '].role') AS role0, " +
      "json_extract_string(msgs, '$[' || r.i || '].content') AS content0 " +
      "FROM base, unnest(range(0, CAST(json_array_length(msgs) AS BIGINT))) AS r(i) WHERE msgs IS NOT NULL), " +
      "turns AS (SELECT doc_id, turn_idx, role, content FROM inv " +
      "UNION ALL SELECT doc_id, turn_idx, " +
      "CASE WHEN role0 IN ('system','user','assistant','tool') AND content0 IS NOT NULL " +
      "THEN role0 ELSE '' END AS role, " +
      "CASE WHEN role0 IN ('system','user','assistant','tool') AND content0 IS NOT NULL " +
      "THEN content0 ELSE COALESCE(content0, '') END AS content FROM tm), " +
      "tt AS (SELECT doc_id, turn_idx, role, content, " +
      "CAST(len(regexp_extract_all(content, '\\S+')) AS BIGINT) AS n_tokens FROM turns)"

  /** The stats/trim selects shared by BOTH chat wire formats' oracles —
    * each consumes the `tt(doc_id, turn_idx, role, content, n_tokens)`
    * CTE its format-specific parse chain ends with. */
  private val chatStatsSelect: String =
    "SELECT doc_id AS id, COUNT(*) AS n_turns, " +
      "COUNT(CASE WHEN role = 'user' THEN 1 END) AS n_user, " +
      "COUNT(CASE WHEN role = 'assistant' THEN 1 END) AS n_assistant, " +
      "COUNT(CASE WHEN role = '' THEN 1 END) AS n_invalid, " +
      "(COUNT(CASE WHEN role = '' THEN 1 END) = 0 AND " +
      "COUNT(CASE WHEN role = 'tool' THEN 1 END) = 0 AND " +
      "COUNT(CASE WHEN role = 'system' AND turn_idx > 0 THEN 1 END) = 0 AND " +
      "COUNT(CASE WHEN role IN ('user', 'assistant') AND " +
      "(((turn_idx - has_sys) % 2 = 0 AND role <> 'user') OR " +
      "((turn_idx - has_sys) % 2 = 1 AND role <> 'assistant')) THEN 1 END) = 0" +
      ") AS alternation_ok " +
      "FROM (SELECT *, MAX(CASE WHEN turn_idx = 0 AND role = 'system' " +
      "THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id) AS has_sys FROM tt) " +
      "GROUP BY doc_id"

  // one definition of the trim algebra: the flag-view select routes
  // through the same kept-CTE the reassembly oracles consume (leading
  // comma: callers have already opened WITH and defined tt)
  private def chatTrimSelect(budget: Long = 16L): String =
    s", ${chatKeptCte(budget)} " +
      "SELECT doc_id AS id, turn_idx, role, n_tokens, kept FROM tr"

  /** The trim decision as a CTE over `tt` (all columns retained) — the
    * reassembly oracles consume the kept rows with their content. */
  private def chatKeptCte(budget: Long): String =
    // SELECT * so the same CTE serves both tt shapes (the golden-backed
    // trim table has no content column; the wire-format parses do)
    "tr AS (SELECT *, " +
      "CASE WHEN turn_idx = 0 AND role = 'system' THEN TRUE " +
      s"ELSE suffix <= $budget - COALESCE(sys_tokens, 0) END AS kept " +
      "FROM (SELECT *, SUM(n_tokens) OVER (PARTITION BY doc_id " +
      "ORDER BY turn_idx DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS suffix, " +
      "MAX(CASE WHEN turn_idx = 0 AND role = 'system' THEN n_tokens END) " +
      "OVER (PARTITION BY doc_id) AS sys_tokens FROM tt))"

  /** The transcript rebuilt from `<|`-scrubbed text and split into
    * numbered lines with their parsed role: the SFT render oracles' input. */
  private val scrubbedTurnsCte =
    "WITH d AS (SELECT doc_id, " +
      "regexp_replace(COALESCE(text, ''), '<\\|', '', 'g') AS tx FROM documents), " +
      "t AS (SELECT doc_id, 'system: be concise' || chr(10) || 'user: ' || " +
      "substr(tx, 1, 40) || chr(10) || 'assistant: ' || substr(tx, 41, 40) || " +
      "CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'user: one more' || chr(10) || 'user: double user' " +
      "WHEN doc_id % 17 = 0 THEN chr(10) || 'bad line no colon' " +
      "ELSE chr(10) || 'user: follow up' || chr(10) || 'assistant: done' END AS tr FROM d), " +
      "pp AS (SELECT doc_id, string_split(tr, chr(10)) AS parts FROM t), " +
      "lines AS (SELECT doc_id, r.i AS idx, parts[r.i] AS l " +
      "FROM pp, unnest(range(1, len(parts) + 1)) AS r(i)), " +
      "turns AS (SELECT doc_id, idx, " +
      "regexp_extract(l, '^(system|user|assistant|tool): ', 1) AS role, l FROM lines), "

  /** Each doc's transcript rendered `<|role|>content<|end|>`, built from
    * its text with '<|' scrubbed so no natural text can alias a marker. */
  private def scrubbedRender: Column = graft.text.Chat.renderTemplate(chatTranscript(
    col("doc_id"), regexp_replace(coalesce(col("text"), lit("")), "<\\|", "")))

  val gates: Seq[Gate] = Seq(
    // P124 chat-transcript audit: per-conversation turn parse + the strict
    // SFT alternation contract (leading system only, user/assistant
    // alternation, no invalid lines). Transcripts built deterministically
    // from documents with planted violations: %13 double-user, %17 a line
    // with no role prefix.
    Gate("chat_turns", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Chat.chatStats(
        docs, col("doc_id"), chatTranscript(col("doc_id"), col("text")))
    }, s"WITH $chatTurnsCte $chatStatsSelect"),

    // P124b context-window trimming: keep the LAST turns fitting a token
    // budget, never splitting a turn, leading system turn always pinned
    // (its tokens charge the budget first). One framed window per
    // conversation; kept = suffix_sum <= remaining budget.
    Gate("chat_truncate", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Chat.truncateToBudget(
        docs, col("doc_id"), chatTranscript(col("doc_id"), col("text")), budget = 16L)
    }, s"WITH $chatTurnsCte ${chatTrimSelect()}"),

    // P124c MESSAGES-format chat audit: real SFT corpora ship JSON
    // {"messages": [...]} documents whose content embeds newlines — the
    // permissive from_json parse feeds the SAME stats algebra, with
    // malformed/empty/missing-messages rows quarantined as one invalid
    // turn each (never dropped). Oracle: DuckDB builds the same fixture
    // with ITS to_json and genuinely re-parses via json_extract.
    Gate("chat_messages", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Chat.chatStatsMessages(
        docs, col("doc_id"), chatMessagesJson(col("doc_id"), col("text")))
    }, s"WITH $chatMessagesCte $chatStatsSelect"),

    // P124d the trim twin over the MESSAGES format — same framed-window
    // keep-last algebra, newline-bearing contents counted correctly.
    Gate("chat_messages_truncate", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Chat.truncateMessagesToBudget(
        docs, col("doc_id"), chatMessagesJson(col("doc_id"), col("text")),
        budget = 16L)
    }, s"WITH $chatMessagesCte ${chatTrimSelect()}"),

    // P124f trim reassembly, LINE format: the trim APPLIED — kept turns
    // re-joined `role: content` in order, the artifact a trainer consumes.
    // Exact string compare against DuckDB's ordered string_agg replay.
    Gate("chat_rebuilt", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Chat.rebuildTranscript(
        docs, col("doc_id"), chatTranscript(col("doc_id"), col("text")),
        budget = 16L)
    },
      s"WITH $chatTurnsCte, ${chatKeptCte(16L)} " +
        "SELECT doc_id AS id, string_agg(" +
        "CASE WHEN role <> '' THEN role || ': ' || content ELSE content END, " +
        "chr(10) ORDER BY turn_idx) AS trimmed_text " +
        "FROM tr WHERE kept GROUP BY doc_id"),

    // P124g trim reassembly, MESSAGES format: kept turns re-serialized as
    // a {"messages": [...]} document. Cross-engine JSON-string equality
    // is escaping-fragile, so the gate proves the stronger property
    // instead: the rebuilt JSON RE-PARSES (round-trip through the same
    // permissive parse) to exactly the kept turns, newlines included —
    // compared against the oracle's re-indexed kept-turn table.
    Gate("chat_messages_rebuilt", (s, dir) => {
      val docs = t(s, dir, "documents")
      val rebuilt = graft.text.Chat.rebuildMessages(
        docs, col("doc_id"), chatMessagesJson(col("doc_id"), col("text")),
        budget = 16L)
      graft.text.Chat.explodeMessages(rebuilt, col("id"), col("messages_json"))
    },
      s"WITH $chatMessagesCte, ${chatKeptCte(16L)}, " +
        "k AS (SELECT doc_id, role, content, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY turn_idx) - 1 AS new_idx " +
        "FROM tr WHERE kept) " +
        "SELECT doc_id AS id, CAST(new_idx AS BIGINT) AS turn_idx, role, content, " +
        "CAST(len(regexp_extract_all(content, '\\S+')) AS BIGINT) AS n_tokens FROM k"),

    // P124i chat template rendering + the P63g codec, end to end: the SFT
    // prep chain — transcript → `<|role|>content<|end|>` render →
    // special-aware encode (every control token ONE reserved id) →
    // decode must reproduce the render byte-for-byte, and the reserved-id
    // count must be exactly 2 per turn (contents are '<|'-scrubbed in
    // BOTH engines so no natural text can alias a marker).
    Gate("chat_sft_roundtrip", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val sp = graft.text.Chat.templateSpecials()
      val base = graft.text.ByteBpe.vocabSize(model)
      val ids = graft.text.ByteBpe.encodeIds(scrubbedRender, model, sp)
      docs.select(col("doc_id"),
        graft.text.ByteBpe.decodeIds(ids, model, sp).as("decoded"),
        size(filter(ids, i => i >= base)).cast("long").as("n_special"))
    },
      // the full SFT render replayed: scrub '<|', rebuild the transcript,
      // split/parse lines exactly as the chat CTE does, re-render
      // <|role|>content<|end|> in turn order; n_special = 2 per turn
      scrubbedTurnsCte +
        "r AS (SELECT doc_id, string_agg(" +
        "CASE WHEN role = '' THEN '<|invalid|>' ELSE '<|' || role || '|>' END || " +
        "CASE WHEN role = '' THEN l ELSE substr(l, length(role) + 3) END || " +
        "'<|end|>', '' ORDER BY idx) AS decoded, 2 * COUNT(*) AS n_special " +
        "FROM turns GROUP BY doc_id) " +
        "SELECT doc_id, decoded, CAST(n_special AS BIGINT) AS n_special FROM r"),

    // P124j configurable chat templates: the same render → special-encode
    // → decode chain under a SECOND per-model spec (ChatML-style
    // `<|im_start|>role\n` openers, `<|im_end|>\n` closer, `<|endoftext|>`
    // EOS) with the injection scrub built into the template
    // (scrubContents strips `<+|+` runs from contents — the safe
    // composition is one call, no caller discipline). Specials derive
    // FROM the spec, so renderer and reserved-id space cannot drift.
    // n_special = 2 per turn + 1 EOS.
    Gate("chat_sft_roundtrip_chatml", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val tpl = graft.text.Chat.ChatTemplate.ChatMl
      val sp = tpl.specials
      val base = graft.text.ByteBpe.vocabSize(model)
      val rendered = graft.text.Chat.renderTemplate(
        chatTranscript(col("doc_id"), coalesce(col("text"), lit(""))), tpl)
      val ids = graft.text.ByteBpe.encodeIds(rendered, model, sp)
      docs.select(col("doc_id"),
        graft.text.ByteBpe.decodeIds(ids, model, sp).as("decoded"),
        size(filter(ids, i => i >= base)).cast("long").as("n_special"))
    },
      // the ChatML-spec render replayed: transcript from RAW text, parse
      // lines, scrub '<+|+' runs from CONTENTS only (the template's own
      // scrubContents contract), wrap <|im_start|>role\n … <|im_end|>\n,
      // append the <|endoftext|> EOS; n_special = 2 per turn + 1
      "WITH t AS (SELECT doc_id, 'system: be concise' || chr(10) || 'user: ' || " +
        "substr(COALESCE(text, ''), 1, 40) || chr(10) || 'assistant: ' || " +
        "substr(COALESCE(text, ''), 41, 40) || " +
        "CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'user: one more' || chr(10) || 'user: double user' " +
        "WHEN doc_id % 17 = 0 THEN chr(10) || 'bad line no colon' " +
        "ELSE chr(10) || 'user: follow up' || chr(10) || 'assistant: done' END AS tr FROM documents), " +
        "pp AS (SELECT doc_id, string_split(tr, chr(10)) AS parts FROM t), " +
        "lines AS (SELECT doc_id, r.i AS idx, parts[r.i] AS l " +
        "FROM pp, unnest(range(1, len(parts) + 1)) AS r(i)), " +
        "turns AS (SELECT doc_id, idx, " +
        "regexp_extract(l, '^(system|user|assistant|tool): ', 1) AS role, l FROM lines), " +
        "r AS (SELECT doc_id, string_agg(" +
        "CASE WHEN role = '' THEN '<|im_start|>invalid' || chr(10) " +
        "ELSE '<|im_start|>' || role || chr(10) END || " +
        "regexp_replace(CASE WHEN role = '' THEN l ELSE substr(l, length(role) + 3) END, " +
        "'<+\\|+', '', 'g') || '<|im_end|>' || chr(10), '' ORDER BY idx) AS body, " +
        "2 * COUNT(*) + 1 AS n_special FROM turns GROUP BY doc_id) " +
        "SELECT doc_id, body || '<|endoftext|>' AS decoded, " +
        "CAST(n_special AS BIGINT) AS n_special FROM r"),

    // P132 fill-in-the-middle: the infilling pretraining transform — a
    // deterministic md5-threshold fraction of docs re-renders in PSM
    // order <|fim_pre|>P<|fim_suf|>S<|fim_mid|>M with md5-mod cut points
    // in character units; no RNG anywhere, so the oracle replays the
    // WHOLE transform verbatim (same hashes, same mod, same substr
    // algebra) and compares the output string exactly.
    Gate("fim_transform", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.select(col("doc_id"),
        graft.text.Fim.fimTransform(col("text"), col("doc_id"), 0.5)
          .as("fim_text"),
        graft.text.Fim.applied(col("doc_id"), 0.5).as("applied"))
    },
      // the FIM transform replayed verbatim: same md5 apply threshold
      // (0.5 -> '80000000'), same tagged md5-mod cuts in char units,
      // same substr algebra
      "WITH d AS (SELECT doc_id, COALESCE(text, '') AS t, " +
        "length(COALESCE(text, '')) AS L FROM documents), " +
        "c AS (SELECT doc_id, t, L, " +
        "CAST(('0x' || substring(md5('graft:fim1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % (L + 1) AS a, " +
        "CAST(('0x' || substring(md5('graft:fim2:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % (L + 1) AS b, " +
        "substring(md5('graft:fim' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000' AS applied FROM d), " +
        "k AS (SELECT doc_id, t, L, applied, LEAST(a, b) AS c1, GREATEST(a, b) AS c2 FROM c) " +
        "SELECT doc_id, CASE WHEN applied THEN " +
        "'<|fim_pre|>' || substr(t, 1, c1) || '<|fim_suf|>' || " +
        "substr(t, c2 + 1, L - c2) || '<|fim_mid|>' || " +
        "substr(t, c1 + 1, c2 - c1) ELSE t END AS fim_text, applied FROM k"),

    // P124k SFT loss mask: the per-token trainability column between the
    // render→encode chain and the trainer — mask 1 exactly on assistant
    // CONTENT tokens + the end marker closing an assistant turn.
    // The gate proves the strongest property: the trainable subset of
    // ids DECODES to exactly the assistant turns' contents + '<|end|>'
    // closers in turn order (segments between specials encode
    // independently, so the mask cutting at markers is byte-exact), and
    // the only reserved ids inside the mask are the assistant-turn end
    // markers (n_train_special == assistant turn count, SQL-replayable).
    Gate("chat_loss_mask", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val sp = graft.text.Chat.templateSpecials()
      val base = graft.text.ByteBpe.vocabSize(model)
      val ids = graft.text.ByteBpe.encodeIds(scrubbedRender, model, sp)
      val mask = graft.text.Chat.sftLossMask(ids, base)
      val trained = filter(
        zip_with(ids, mask, (i, m) => when(m === 1, i)), x => x.isNotNull)
      docs.select(col("doc_id"),
        graft.text.ByteBpe.decodeIds(trained, model, sp).as("trained_text"),
        size(filter(trained, i => i >= base)).cast("long").as("n_train_special"),
        (size(mask) === size(ids)).as("mask_aligned"))
    },
      // the loss mask replayed at the TEXT level: the trainable subset
      // must decode to the assistant turns' contents + '<|end|>' closers
      // in turn order, and the masked reserved ids are exactly one end
      // marker per assistant turn
      scrubbedTurnsCte +
        "r AS (SELECT doc_id, COALESCE(string_agg(" +
        "CASE WHEN role = 'assistant' THEN substr(l, length(role) + 3) || '<|end|>' END, " +
        "'' ORDER BY idx), '') AS trained_text, " +
        "COUNT(*) FILTER (WHERE role = 'assistant') AS n_train_special " +
        "FROM turns GROUP BY doc_id) " +
        "SELECT doc_id, trained_text, CAST(n_train_special AS BIGINT) AS n_train_special, " +
        "true AS mask_aligned FROM r"),

    // P124l the SFT shard shape, end to end: render → special-encode →
    // loss mask → ALIGNED pack (ids and mask fused as one int stream, so
    // drift is structurally impossible) → unpack → BOTH decodes must
    // survive the trip: the full id stream reproduces the render, and
    // the masked subset reproduces exactly the assistant contents +
    // closers. This is the artifact a chat trainer actually consumes —
    // sequences with their trainability bits.
    Gate("chat_mask_pack", (s, dir) => {
      val (docs, model) = docsAndByteBpe(s, dir)
      val sp = graft.text.Chat.templateSpecials()
      val base = graft.text.ByteBpe.vocabSize(model)
      // render + encode ONCE into a materialized column: the mask is a
      // function of the SAME id stream (inline, the kernel would run once
      // for ids and again inside the mask expression), and the pack's
      // range-sort sampler re-evaluates its input
      val encDocs = docs.select(col("doc_id"),
        graft.text.ByteBpe.encodeIds(scrubbedRender, model, sp).as("__ids"))
        .localCheckpoint(true)
      val mask = graft.text.Chat.sftLossMask(col("__ids"), base)
      val sep = base + sp.size // one past the last reserved id
      // the unpack consumes the pack twice (census + segments) —
      // materialize it once (the disk-artifact shape)
      val packed = graft.text.Packing.packTokenIdsWithMask(
        encDocs, col("__ids"), mask, Seq(col("doc_id")), capacity = 512,
        sepId = sep)
        .localCheckpoint(true)
      val unpacked = graft.text.Packing.unpackTokenIdsWithMask(
        packed, 512, sep)
      val mapping = graft.agg.PrefixSum.withRunningTotal(
        docs.select(col("doc_id")), lit(1L), Seq(col("doc_id")), "doc_idx")
      val trained = filter(
        zip_with(col("ids"), col("mask"), (i, m) => when(m === 1, i)),
        x => x.isNotNull)
      mapping.join(unpacked, Seq("doc_idx"), "left_outer")
        .select(col("doc_id"),
          graft.text.ByteBpe.decodeIds(
            coalesce(col("ids"), array().cast("array<int>")), model, sp)
            .as("decoded"),
          graft.text.ByteBpe.decodeIds(
            coalesce(trained, array().cast("array<int>")), model, sp)
            .as("trained_text"),
          size(filter(coalesce(trained, array().cast("array<int>")),
            i => i >= base)).cast("long").as("n_train_special"))
    },
      // the SFT shard shape: the full stream re-renders, the masked
      // subset is the assistant contents + closers — both after the
      // aligned pack/unpack trip
      scrubbedTurnsCte +
        "r AS (SELECT doc_id, string_agg(" +
        "CASE WHEN role = '' THEN '<|invalid|>' ELSE '<|' || role || '|>' END || " +
        "CASE WHEN role = '' THEN l ELSE substr(l, length(role) + 3) END || " +
        "'<|end|>', '' ORDER BY idx) AS decoded, " +
        "COALESCE(string_agg(CASE WHEN role = 'assistant' " +
        "THEN substr(l, length(role) + 3) || '<|end|>' END, '' ORDER BY idx), '') AS trained_text, " +
        "COUNT(*) FILTER (WHERE role = 'assistant') AS n_train_special " +
        "FROM turns GROUP BY doc_id) " +
        "SELECT doc_id, decoded, trained_text, " +
        "CAST(n_train_special AS BIGINT) AS n_train_special FROM r"),

    // P124h conversation-level near-dup: the SFT-corpus dedup pass — the
    // fingerprint is the content-only canonical form (roles and turn
    // scaffolding excluded), so the planted role-scrambled re-wraps
    // (doc_id%7, every `assistant:` relabeled `user:`) land at jaccard
    // 1.0 with their originals. MinHash+LSH candidates + exact verify;
    // oracle = exact all-pairs Jaccard over the content the parse must
    // recover.
    Gate("chat_neardup", (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(length(coalesce(col("text"), lit(""))) >= 60)
      val a = docs.select(col("doc_id"),
        chatTranscript(col("doc_id"), col("text")).as("tr"))
      val b = a.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("tr"), "(?m)^assistant: ", "user: ").as("tr"))
      graft.text.Chat.conversationNearDupPairs(
        a.unionAll(b), col("doc_id"), col("tr"), threshold = 0.8)
    },
      // exact all-pairs Jaccard over the CONTENT the parse must recover:
      // the role-scrambled +100000 re-wraps carry identical content, so
      // role words leaking into the fingerprint would break the match
      "WITH d AS (SELECT doc_id, text FROM documents " +
        "WHERE length(COALESCE(text, '')) >= 60), " +
        "c AS (SELECT doc_id, 'be concise' || chr(10) || substr(text, 1, 40) || " +
        "chr(10) || substr(text, 41, 40) || " +
        "CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'one more' || chr(10) || 'double user' " +
        "WHEN doc_id % 17 = 0 THEN chr(10) || 'bad line no colon' " +
        "ELSE chr(10) || 'follow up' || chr(10) || 'done' END AS content FROM d), " +
        "u AS (SELECT doc_id, content FROM c " +
        "UNION ALL SELECT doc_id + 100000, content FROM c WHERE doc_id % 7 = 0), " +
        "ctok AS (SELECT doc_id, [x for x in string_split_regex(lower(content), '[^a-z0-9]+') if x <> ''] AS toks FROM u), " +
        "csh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS s " +
        "FROM ctok WHERE len(toks) >= 3), " +
        "cp AS (SELECT a.doc_id AS ia, b.doc_id AS ib, " +
        "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j " +
        "FROM csh a JOIN csh b ON a.doc_id < b.doc_id) " +
        "SELECT ia AS \"idA\", ib AS \"idB\", j AS jaccard FROM cp WHERE j >= 0.8"),

    // P124e token-accurate context trimming: the same keep-last algebra,
    // but n_tokens comes from a TRAINED byte-level BPE model (P63b) over
    // each turn's content — the kept set is exact in the units a real
    // model charges, not whitespace pieces. Oracle: golden per-turn
    // counts from the independent python replication of transcript
    // build + parse + byte-BPE, with the trim window replayed in SQL.
    Gate("chat_truncate_bpe", (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.text.ByteBpe.train(docs, col("text"), numMerges = 80)
      graft.text.Chat.truncateToBudgetCounted(
        docs, col("doc_id"), chatTranscript(col("doc_id"), col("text")),
        budget = 24L, graft.text.ByteBpe.tokenCount(_, model))
    },
      // per-turn byte-BPE counts come from the golden replication; the
      // trim window itself replays in SQL at budget 24
      s"WITH tt AS (SELECT doc_id, turn_idx, role, n_tokens " +
        s"FROM read_parquet('$goldenDir/chat_bpe_turns_sf001.parquet')) " +
        chatTrimSelect(24L)),
  )
}
