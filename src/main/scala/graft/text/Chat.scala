package graft.text

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Chat-transcript operations for instruction/dialog corpora — the format
 * checks and context-window trimming every SFT/RLHF data pipeline runs
 * before an example reaches a trainer.
 *
 * Two wire formats share one stats/trim algebra:
 *
 *  - LINE format (fully specified, engine-portable): one turn per line,
 *    `role: content` with role ∈ {system, user, assistant, tool} and the
 *    single separator `": "`; a line that does not match keeps role `''`
 *    (the invalid marker — [[chatStats]] surfaces it, nothing is silently
 *    dropped). No continuation lines: the parse is per-line
 *    `regexp_extract` + a 1-based offset substring, so DuckDB replays it
 *    with the identical pattern and arithmetic. Cheap, but it CANNOT
 *    represent a turn whose content embeds a newline.
 *  - MESSAGES format (what real SFT/RLHF corpora ship): a JSON document
 *    `{"messages": [{"role": ..., "content": ...}, ...]}` parsed with
 *    permissive `from_json` — content may embed newlines freely. The
 *    P97-quarantine discipline for malformed rows: unparseable JSON, a
 *    missing/empty `messages` array, an unknown role, or a null content
 *    all surface as role-`''` invalid turns (a malformed document reads
 *    as ONE invalid turn carrying the raw payload), never a dropped row.
 *
 * Scale shape: [[parseTurns]]/[[parseMessages]] are narrow per-row Column
 * algebra (split/from_json + transform — no explode, no shuffle,
 * streaming-legal). [[chatStats]] and [[truncateToBudget]] explode to one
 * row per turn and use windows partitioned BY CONVERSATION — bounded by
 * transcript length, never corpus-sized — and the stats explode feeds a
 * map-side-combined re-aggregation.
 */
object Chat {

  val Roles: Seq[String] = Seq("system", "user", "assistant", "tool")

  private val RolePattern = "^(system|user|assistant|tool): "

  /** The permissive parse target for the MESSAGES format. */
  val MessagesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("messages",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("role",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("content",
              org.apache.spark.sql.types.StringType)))))))

  /** `array<struct<role, content>>` from a transcript; role `''` marks an
    * unparseable line (content = the raw line). Pure per-row algebra. */
  def parseTurns(text: Column): Column =
    transform(split(text, "\n"), l => {
      val role = regexp_extract(l, RolePattern, 1)
      struct(role.as("role"),
        when(role =!= "", l.substr(length(role) + lit(3), length(l)))
          .otherwise(l).as("content"))
    })

  /**
   * `array<struct<role, content>>` from a JSON `{"messages": [...]}`
   * document. A document whose JSON fails to parse, lacks a `messages`
   * array, or carries an EMPTY one reads as one role-`''` turn whose
   * content is the raw payload (the audit must not lose the row); a
   * message with an unknown role or null content keeps role `''` with
   * content `coalesce(content, '')`. Pure per-row algebra.
   */
  def parseMessages(json: Column): Column = {
    val msgs = from_json(json, MessagesSchema).getField("messages")
    val norm = transform(msgs, m => {
      val ok = m.getField("role").isin(Roles: _*) &&
        m.getField("content").isNotNull
      struct(
        when(ok, m.getField("role")).otherwise(lit("")).as("role"),
        coalesce(m.getField("content"), lit("")).as("content"))
    })
    when(msgs.isNull || size(msgs) === 0,
      array(struct(lit("").as("role"), coalesce(json, lit("")).as("content"))))
      .otherwise(norm)
  }

  /** One row per (conversation, turn): `(id, turn_idx, role, content,
    * n_tokens)`; `n_tokens` = whitespace-separated pieces of content. */
  def explodeTurns(df: DataFrame, id: Column, text: Column): DataFrame =
    // a NULL transcript must not vanish from the audit (posexplode of a
    // null array emits nothing): it reads as one empty line — role '',
    // content '' — so chatStats reports it as one invalid turn
    explodeParsed(df, id, parseTurns(coalesce(text, lit(""))))

  /** [[explodeTurns]] for the MESSAGES format: one row per message with
    * the same `(id, turn_idx, role, content, n_tokens)` schema. */
  def explodeMessages(df: DataFrame, id: Column, json: Column): DataFrame =
    explodeParsed(df, id, parseMessages(json))

  private def explodeParsed(df: DataFrame, id: Column,
                            turns: Column): DataFrame =
    df.select(id.as("id"), posexplode(turns).as(Seq("turn_idx", "__m")))
      .select(col("id"), col("turn_idx").cast("long").as("turn_idx"),
        col("__m.role").as("role"), col("__m.content").as("content"))
      .withColumn("n_tokens",
        size(expr("regexp_extract_all(content, '\\\\S+', 0)")).cast("long"))

  /**
   * Per-conversation format audit: `(id, n_turns, n_user, n_assistant,
   * n_invalid, alternation_ok)`. `alternation_ok` = the strict SFT
   * contract: no invalid lines, no `tool` turns, at most one `system`
   * turn and only at index 0, and the remaining roles alternate
   * `user, assistant, user, …` starting with `user`.
   */
  def chatStats(df: DataFrame, id: Column, text: Column): DataFrame =
    statsFromTurns(explodeTurns(df, id, text))

  /** [[chatStats]] over the MESSAGES format — same audit columns, same
    * contract (a malformed document is one invalid turn). */
  def chatStatsMessages(df: DataFrame, id: Column, json: Column): DataFrame =
    statsFromTurns(explodeMessages(df, id, json))

  private def statsFromTurns(exploded: DataFrame): DataFrame = {
    val turns = exploded
      .withColumn("__has_sys",
        max(when(col("turn_idx") === 0 && col("role") === "system", 1)
          .otherwise(0)).over(Window.partitionBy(col("id"))))
      .withColumn("__core_idx", col("turn_idx") - col("__has_sys"))
    turns
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_turns"),
        count(when(col("role") === "user", 1)).as("n_user"),
        count(when(col("role") === "assistant", 1)).as("n_assistant"),
        count(when(col("role") === "", 1)).as("n_invalid"),
        (count(when(col("role") === "", 1)) === 0 &&
          count(when(col("role") === "tool", 1)) === 0 &&
          count(when(col("role") === "system" && col("turn_idx") > 0, 1)) === 0 &&
          count(when(col("role").isin("user", "assistant") &&
            ((col("__core_idx") % 2 === 0 && col("role") =!= "user") ||
              (col("__core_idx") % 2 === 1 && col("role") =!= "assistant")),
            1)) === 0).as("alternation_ok"))
  }

  /**
   * Context-window trimming: keep the LAST turns whose token total fits
   * `budget`, never splitting a turn, and ALWAYS keep a leading `system`
   * turn (the standard system pin — its tokens charge the budget first).
   * Output: one row per turn `(id, turn_idx, role, n_tokens, kept)`.
   *
   * Token counts are non-negative, so suffix sums grow monotonically
   * toward the front: the kept set is exactly `suffix_sum <= budget −
   * system_tokens` — ONE framed window per conversation, no iterative
   * fold, and DuckDB replays the same frame.
   */
  def truncateToBudget(df: DataFrame, id: Column, text: Column,
                       budget: Long): DataFrame =
    truncateTurns(explodeTurns(df, id, text), budget)

  /** [[truncateToBudget]] over the MESSAGES format — same framed-window
    * keep-last algebra, same system-turn pin. */
  def truncateMessagesToBudget(df: DataFrame, id: Column, json: Column,
                               budget: Long): DataFrame =
    truncateTurns(explodeMessages(df, id, json), budget)

  /**
   * [[truncateToBudget]] with a caller-supplied token counter over the
   * turn content — the hook that upgrades trimming from whitespace
   * counts to REAL tokenizer units (e.g. a persisted byte-level BPE
   * model: `truncateToBudgetCounted(df, id, text, b,
   * ByteBpe.tokenCount(_, model))`), so the kept set is exact in the
   * units the model will actually charge. The counter must be a narrow
   * per-row Column (the kernel encoders are), keeping the whole parse +
   * count pass shuffle-free before the per-conversation window.
   */
  def truncateToBudgetCounted(df: DataFrame, id: Column, text: Column,
                              budget: Long,
                              tokenCount: Column => Column): DataFrame =
    truncateTurns(explodeTurns(df, id, text)
      .withColumn("n_tokens", tokenCount(col("content")).cast("long")), budget)

  /** [[truncateToBudgetCounted]] over the MESSAGES format. */
  def truncateMessagesToBudgetCounted(df: DataFrame, id: Column, json: Column,
                                      budget: Long,
                                      tokenCount: Column => Column): DataFrame =
    truncateTurns(explodeMessages(df, id, json)
      .withColumn("n_tokens", tokenCount(col("content")).cast("long")), budget)

  private def truncateTurns(turns: DataFrame, budget: Long): DataFrame =
    withKept(turns, budget)
      .select(col("id"), col("turn_idx"), col("role"), col("n_tokens"), col("kept"))

  /** The trim decision with ALL columns retained (content included) —
    * shared by the flag view ([[truncateToBudget]]) and the reassembly
    * operators. */
  private def withKept(turns: DataFrame, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    val byConv = Window.partitionBy(col("id"))
    val suffix = Window.partitionBy(col("id")).orderBy(col("turn_idx").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    turns
      .withColumn("__sys_tokens",
        max(when(col("turn_idx") === 0 && col("role") === "system",
          col("n_tokens"))).over(byConv))
      .withColumn("__suffix", sum(col("n_tokens")).over(suffix))
      .withColumn("kept",
        when(col("turn_idx") === 0 && col("role") === "system", lit(true))
          .otherwise(col("__suffix") <=
            lit(budget) - coalesce(col("__sys_tokens"), lit(0L))))
  }

  /**
   * Apply the trim and REASSEMBLE the surviving conversation in wire
   * format — the artifact a trainer actually consumes, not just kept
   * flags. `(id, trimmed_text)` in the LINE format (kept turns re-joined
   * `role: content`, invalid turns re-emitted as their raw line), turns
   * in original order. A conversation with NO kept turn is absent (there
   * is nothing to emit). Per-conversation sorted-collect — bounded by
   * transcript length, never corpus-sized.
   */
  def rebuildTranscript(df: DataFrame, id: Column, text: Column,
                        budget: Long): DataFrame =
    assembleKept(withKept(explodeTurns(df, id, text), budget), line = true)

  /** [[rebuildTranscript]] for the MESSAGES format: `(id, messages_json)`
    * — the kept turns re-serialized as a `{"messages": [...]}` document
    * ([[parseMessages]] round-trips it, newlines included). */
  def rebuildMessages(df: DataFrame, id: Column, json: Column,
                      budget: Long): DataFrame =
    assembleKept(withKept(explodeMessages(df, id, json), budget), line = false)

  /** The conversation's content-only canonical form: turn CONTENTS joined
    * by newlines — role labels and turn boundaries deliberately stay OUT
    * (SFT corpora are template-heavy: the same dialogue re-wrapped with
    * different role scaffolding must fingerprint identically). Pure
    * per-row algebra (no explode), NULL-safe (a NULL transcript reads as
    * one empty turn, matching [[explodeTurns]]). */
  def conversationContent(text: Column): Column =
    array_join(transform(parseTurns(coalesce(text, lit(""))),
      m => m.getField("content")), "\n")

  /** [[conversationContent]] for the MESSAGES wire format. */
  def conversationContentMessages(json: Column): Column =
    array_join(transform(parseMessages(json),
      m => m.getField("content")), "\n")

  /**
   * A per-model chat-template spec — what [[renderTemplate]] renders and
   * what the P63g codec reserves, kept in lockstep BY CONSTRUCTION:
   * [[ChatTemplate.specials]] is derived from the same fields the
   * renderer reads, so a template change can never silently desynchronize
   * the id space (the P81 "banding comes FROM the index" discipline).
   *
   *  - `roleMarkers` opens each turn (one full-literal marker per role —
   *    a ChatML-style `<|im_start|>user\n` opener is ONE reserved token
   *    here, a documented simplification of stacks that split it);
   *  - `invalidMarker` wraps unparseable turns (surfaced, never dropped);
   *  - `endMarker` closes every turn;
   *  - `bos`/`eos` (optional, empty = absent) bracket the conversation —
   *    the BOS/EOS placement real SFT stacks pin per model;
   *  - `defaultSystem` (optional) is the per-model system-prompt folding:
   *    a conversation whose FIRST turn is not a `system` turn renders a
   *    synthetic leading system turn with this content (a present system
   *    turn wins — the fold never overrides data);
   *  - `scrubContents = true` makes injection-safety the template's own
   *    contract: every `<+|+` run is stripped from turn CONTENTS before
   *    wrapping (single regex pass; the run-greedy pattern cannot
   *    regenerate a `<|` the way a literal `<|`-strip can — `<<||`
   *    stripped of one `<|` leaves another). Requires every special to
   *    contain `<|` so scrubbed content provably contains no special;
   *    templates over a different marker alphabet must pre-scrub
   *    contents themselves (e.g. a [[graft.functions.MultiMatch]] P83b
   *    mask pass).
   */
  case class ChatTemplate(
      roleMarkers: Map[String, String] =
        Chat.Roles.map(r => r -> s"<|$r|>").toMap,
      invalidMarker: String = "<|invalid|>",
      endMarker: String = "<|end|>",
      bos: String = "",
      eos: String = "",
      scrubContents: Boolean = false,
      defaultSystem: Option[String] = None) {
    require(Chat.Roles.forall(roleMarkers.contains),
      s"roleMarkers must cover ${Chat.Roles.mkString(", ")}: " +
        s"missing ${Chat.Roles.filterNot(roleMarkers.contains).mkString(", ")}")
    require(roleMarkers.values.forall(_.nonEmpty) && invalidMarker.nonEmpty &&
      endMarker.nonEmpty, "role/invalid/end markers must be non-empty")

    /** The template's reserved control tokens in the P63g specials order:
      * role markers in [[Chat.Roles]] order, invalid, end, then bos/eos
      * when present — deduplicated keeping first occurrence, so the
      * reserved-id assignment is a pure function of the spec. */
    def specials: Seq[String] =
      (Chat.Roles.map(roleMarkers) ++ Seq(invalidMarker, endMarker) ++
        Seq(bos, eos).filter(_.nonEmpty)).distinct

    if (scrubContents) require(specials.forall(_.contains("<|")),
      "scrubContents strips '<|' runs, which only guards templates whose " +
        "specials all contain '<|'; pre-scrub contents yourself for: " +
        specials.filterNot(_.contains("<|")).mkString(", "))
  }

  object ChatTemplate {
    /** The repo default: `<|role|>content<|end|>`, no BOS/EOS. */
    val Default: ChatTemplate = ChatTemplate()

    /** ChatML-flavored spec: `<|im_start|>role\ncontent<|im_end|>\n` per
      * turn with an `<|endoftext|>` EOS after the conversation (the
      * document separator a packed trainer expects), contents scrubbed by
      * default. The opener is one reserved token per role (see
      * [[ChatTemplate]] note). */
    val ChatMl: ChatTemplate = ChatTemplate(
      roleMarkers = Chat.Roles.map(r => r -> s"<|im_start|>$r\n").toMap,
      invalidMarker = "<|im_start|>invalid\n",
      endMarker = "<|im_end|>\n",
      eos = "<|endoftext|>",
      scrubContents = true)
  }

  /** The content scrub [[ChatTemplate]] applies when `scrubContents` is
    * set: strip every maximal `<+|+` run (see the class scaladoc for why
    * runs, not the literal `<|`). Exposed so oracles/tests replay it. */
  val ScrubPattern: String = "<+\\|+"

  /**
   * Render a conversation in a control-token chat template — the standard
   * SFT preprocessing step between the wire format and the tokenizer:
   * every turn becomes `roleMarker + content + endMarker` (an unparseable
   * turn keeps its raw line under `invalidMarker` — surfaced, never
   * dropped), concatenated in turn order and bracketed by the template's
   * BOS/EOS. The markers are exactly [[ChatTemplate.specials]], so
   * `encodeIds(renderTemplate(t, tpl), model, tpl.specials)` yields the
   * id stream a chat trainer consumes, with every control token a single
   * reserved id. Pure per-row Column algebra (no explode,
   * streaming-legal).
   *
   * Injection note: a turn CONTENT that itself contains a marker literal
   * renders indistinguishably from a real control token (the classic
   * special-token injection). `scrubContents = true` on the template
   * makes the safe composition one call; otherwise scrub `<|` from
   * contents first (the `chat_sft_roundtrip` gate does exactly this) or
   * choose markers outside the corpus alphabet.
   */
  def renderTemplate(text: Column, template: ChatTemplate): Column =
    renderParsed(parseTurns(coalesce(text, lit(""))), template)

  /** [[renderTemplate]] with the default markers (back-compat surface). */
  def renderTemplate(text: Column, endMarker: String = "<|end|>",
                     invalidMarker: String = "<|invalid|>"): Column =
    renderTemplate(text, ChatTemplate(
      invalidMarker = invalidMarker, endMarker = endMarker))

  /** [[renderTemplate]] for the MESSAGES wire format. */
  def renderMessagesTemplate(json: Column, template: ChatTemplate): Column =
    renderParsed(parseMessages(json), template)

  /** [[renderMessagesTemplate]] with the default markers. */
  def renderMessagesTemplate(json: Column, endMarker: String = "<|end|>",
                             invalidMarker: String = "<|invalid|>"): Column =
    renderMessagesTemplate(json, ChatTemplate(
      invalidMarker = invalidMarker, endMarker = endMarker))

  /** The template's reserved control tokens, in the P63g specials order. */
  def templateSpecials(endMarker: String = "<|end|>",
                       invalidMarker: String = "<|invalid|>"): Seq[String] =
    ChatTemplate(invalidMarker = invalidMarker, endMarker = endMarker).specials

  /**
   * Per-token SFT loss mask over the rendered-and-encoded id stream — the
   * last metadata column between [[renderTemplate]] +
   * `ByteBpe.encodeIds(_, model, template.specials)` and the trainer:
   * `mask[i] = 1` exactly where a chat trainer computes loss — content
   * tokens of `trainRoles` turns (default: `assistant`) plus, when
   * `trainEndMarker` (default), the end marker CLOSING such a turn (the
   * model must learn to emit its stop token); everything else — BOS/EOS,
   * role markers themselves, system/user/tool/invalid turns — masks 0.
   *
   * `vocabSize` is the tokenizer's base vocab size, so reserved id
   * `vocabSize + i` is `template.specials(i)` — the same arithmetic the
   * P63g codec uses, which keeps mask and id space in lockstep BY
   * CONSTRUCTION (a template change re-derives both from one spec).
   * Output has the input's length (one narrow codegen kernel pass,
   * no shuffle, streaming-legal); the trainable subset decodes to exactly
   * the trainable turns' contents (+ end markers) because segments
   * between specials encode independently — the `chat_loss_mask` gate
   * asserts that equality byte-for-byte.
   *
   * Ambiguity guard: a marker literal shared between a trainable role
   * and any non-trainable opener (another role or the invalid marker)
   * would make trainability undecidable at the token level — rejected.
   */
  def sftLossMask(ids: Column, vocabSize: Int,
                  template: ChatTemplate = ChatTemplate.Default,
                  trainRoles: Seq[String] = Seq("assistant"),
                  trainEndMarker: Boolean = true): Column = {
    require(trainRoles.nonEmpty, "trainRoles must be non-empty")
    require(trainRoles.forall(Roles.contains),
      s"unknown trainRoles: ${trainRoles.filterNot(Roles.contains).mkString(", ")}")
    val sp = template.specials
    def idOf(marker: String): Int = vocabSize + sp.indexOf(marker)
    val trainMarkers = trainRoles.map(template.roleMarkers).distinct
    val otherOpeners = (Roles.filterNot(trainRoles.contains)
      .map(template.roleMarkers) :+ template.invalidMarker).distinct
    val clash = trainMarkers.intersect(otherOpeners)
    require(clash.isEmpty,
      s"marker(s) ${clash.mkString(", ")} open both a trainable and a " +
        "non-trainable turn — trainability would be undecidable")
    val openers = (trainMarkers ++ otherOpeners).map(idOf).toIndexedSeq
    org.apache.spark.sql.graftext.toColumn(graft.functions.SftLossMask(
      org.apache.spark.sql.graftext.toExpression(ids), vocabSize,
      openers, trainMarkers.map(idOf).toIndexedSeq,
      idOf(template.endMarker), trainEndMarker))
  }

  private def renderParsed(turns: Column, t: ChatTemplate): Column = {
    val scrub: Column => Column =
      if (t.scrubContents) c => regexp_replace(c, ScrubPattern, "")
      else identity
    val body = array_join(transform(turns, m => {
      val role = m.getField("role")
      val marker = Roles.foldLeft(lit(t.invalidMarker)) { (acc, r) =>
        when(role === r, lit(t.roleMarkers(r))).otherwise(acc)
      }
      concat(marker, scrub(m.getField("content")), lit(t.endMarker))
    }), "")
    // system-prompt folding: a constant per-template turn, rendered (and
    // scrubbed) once on the driver, prefixed only when the data carries
    // no leading system turn
    val folded = t.defaultSystem match {
      case None => body
      case Some(sys) =>
        val content =
          if (t.scrubContents) sys.replaceAll(ScrubPattern, "") else sys
        val rendered = t.roleMarkers("system") + content + t.endMarker
        concat(
          when(coalesce(get(turns, lit(0)).getField("role") === "system",
            lit(false)), lit("")).otherwise(lit(rendered)),
          body)
    }
    concat(lit(t.bos), folded, lit(t.eos))
  }

  /**
   * Conversation-level near-dup pairs for SFT/dialog corpora: canonicalize
   * each transcript to its content-only form ([[conversationContent]] —
   * roles and turn structure excluded) and run the standard MinHash+LSH
   * machinery over it ([[graft.dedup.Dedup.nearDupPairsMinHash]]: fused
   * signature+band kernel → banded equi-join → capped in-bucket candidate
   * pairs → exact Jaccard verification at `threshold`). Output:
   * `(idA, idB, jaccard)`, `idA < idB`, pinned, with no cache held. Same
   * 100 TB shape as document near-dup — never an all-pairs join; the only
   * new work is one narrow parse column.
   */
  def conversationNearDupPairs(
      df: DataFrame, id: Column, text: Column,
      shingleSize: Int = 3, bands: Int = 16, rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      maxBucketSize: Int = graft.dedup.Dedup.DefaultMaxBucketSize): DataFrame =
    graft.dedup.Dedup.nearDupPairsMinHash(
      df.select(id.as("id"), conversationContent(text).as("__content")),
      col("id"), col("__content"), shingleSize, bands, rowsPerBand,
      threshold, maxBucketSize)

  /** [[conversationNearDupPairs]] over the MESSAGES wire format. */
  def conversationNearDupPairsMessages(
      df: DataFrame, id: Column, json: Column,
      shingleSize: Int = 3, bands: Int = 16, rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      maxBucketSize: Int = graft.dedup.Dedup.DefaultMaxBucketSize): DataFrame =
    graft.dedup.Dedup.nearDupPairsMinHash(
      df.select(id.as("id"), conversationContentMessages(json).as("__content")),
      col("id"), col("__content"), shingleSize, bands, rowsPerBand,
      threshold, maxBucketSize)

  private def assembleKept(kept: DataFrame, line: Boolean): DataFrame = {
    val ordered = kept.filter(col("kept"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("turn_idx"),
        struct(col("role"), col("content")).as("m")))).as("__arr"))
    if (line)
      ordered.select(col("id"),
        array_join(transform(col("__arr"), x => {
          val m = x.getField("m")
          when(m.getField("role") =!= "",
            concat(m.getField("role"), lit(": "), m.getField("content")))
            .otherwise(m.getField("content"))
        }), "\n").as("trimmed_text"))
    else
      ordered.select(col("id"),
        to_json(struct(transform(col("__arr"), x => x.getField("m"))
          .as("messages"))).as("messages_json"))
  }
}
