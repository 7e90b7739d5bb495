package graft

import graft.diff._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 that is implemented gets an entry in
  * [[queries]]; where the semantics are ANSI-SQL-expressible an equivalent
  * DuckDB oracle query lives in [[oracleSql]] (same column names — the
  * driver's compare sorts columns by name before hashing).
  *
  * Numeric policy for oracle parity: aggregates over doubles are computed on
  * DECIMAL(18,2) casts (exact, order-independent) and cast back to DOUBLE, so
  * Spark's and DuckDB's summation order cannot produce differing floats.
  */
/** Typed row for the sorted-group query (top-level for TypeTag derivation). */
case class CustOrder(o_custkey: Long, o_orderkey: Long,
                     o_orderdate: java.sql.Timestamp, o_totalprice: Double)

/** Typed row for diffWith/diffAs queries. */
case class Ord(o_orderkey: Long, o_custkey: Long, o_orderstatus: String, o_totalprice: Double)

/** Subset encoder target for the diffAs query. */
case class OrdDiff(diff: String, o_orderkey: Long,
                   left_o_totalprice: Option[Double], right_o_totalprice: Option[Double])

/** Case-insensitive string equivalence for the custom-equiv diff query.
  * Operates on Catalyst-internal UTF8String values (codegen'd, no boxing of
  * row data beyond the value itself). */
object CaseInsensitiveEquiv extends math.Equiv[UTF8String] with Serializable {
  override def equiv(a: UTF8String, b: UTF8String): Boolean =
    a.toLowerCase.equals(b.toLowerCase)
}

object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Replay `staged` as ordered file-source micro-batches (batch b = rows
    * with `batchCol == b`) through the streaming transform `op`, drain the
    * result into a parquet sink, and return the sink read back — the
    * [[graft.streaming.StreamHarness]] pattern that gives the streaming
    * operators the same DuckDB hash gate as the batch ones. */
  private def streamReplay(s: SparkSession, staged: DataFrame, batchCol: Column,
                           numBatches: Int, awaitNoDataBatch: Boolean = false)(
      op: DataFrame => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_stream_gate").toString
    val schema = graft.streaming.StreamHarness.writeOrderedBatches(
      staged, batchCol, numBatches, s"$root/in")
    val stream = graft.streaming.StreamHarness.readOrderedBatches(s, s"$root/in", schema)
    // gate-scale state partitioning: the state-store instance count is
    // pinned per checkpoint at query start from shuffle.partitions; 32
    // instances x batches x stateful operators of delta-file IO is pure
    // harness floor at gate volume, so the replay runs its (fresh)
    // checkpoint at 4. Results are key-hashed identically either way; a
    // production run keeps the session's own setting.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try graft.streaming.StreamHarness.drainToParquet(
      op(stream), s"$root/sink", s"$root/ck", awaitNoDataBatch)
    finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /**
   * `events.ts` as epoch MICROseconds, robust to how the datagen typed the
   * column across rounds: parquet TIMESTAMP(NANOS) read as long nanos
   * (spark.sql.legacy.parquet.nanosAsLong=true), TIMESTAMP_NTZ (timestamp[us]
   * with isAdjustedToUTC=false — the current datagen), or an instant
   * TIMESTAMP. DuckDB's `epoch_us(ts)` treats the naive value as UTC, so the
   * NTZ branch casts through the session timezone — Verify/Bench pin it to
   * UTC, making both engines see identical integers.
   */
  private[graft] def eventTsUs(ev: DataFrame): org.apache.spark.sql.Column =
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType => unix_micros(col("ts"))
      case other =>
        throw new IllegalStateException(s"unsupported events.ts type: $other")
    }

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

  /** Planted byte-BPE hazard rows (ids -1..-8): contractions, case,
    * whitespace runs, digits/punctuation, multi-byte UTF-8,
    * trailing/leading space, empty — the scanner paths the synthetic
    * corpus lacks. ONE definition for both the in-plan and SQL-artifact
    * gates; the third copy in tools/make_golden.py is deliberate
    * (independent-replication discipline), so edits must land there too. */
  private val byteBpeHazards: Seq[(Long, String)] = Seq(
    "it's the'll 've 'd mix",
    "Hello World HELLO hello",
    "a  b   c\td\ne f  ",
    "version 2.0 has 123 bugs, v2>v1!",
    "café naïve €9",
    "",
    "'s start and end'",
    "  leading spaces").zipWithIndex
    .map { case (p, i) => (-(i + 1).toLong, p) }

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

  /** Shared CTE chain for the funnel oracles: the sequential-min algebra of
    * [[graft.events.Funnel.funnelTimes]] over signup → view → click →
    * purchase with the 30-day window anchored at the first step. */
  private val funnelChainCte: String =
    "e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS ty FROM events " +
      "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
      "s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE ty = 'signup' GROUP BY 1), " +
      "s2 AS (SELECT e.user_id, MIN(e.t) AS t2, ANY_VALUE(s1.t1) AS t1 FROM e " +
      "JOIN s1 USING (user_id) WHERE e.ty = 'view' AND e.t > s1.t1 AND " +
      "e.t - s1.t1 <= 2592000000000 GROUP BY 1), " +
      "s3 AS (SELECT e.user_id, MIN(e.t) AS t3, ANY_VALUE(s2.t1) AS t1 FROM e " +
      "JOIN s2 USING (user_id) WHERE e.ty = 'click' AND e.t > s2.t2 AND " +
      "e.t - s2.t1 <= 2592000000000 GROUP BY 1), " +
      "s4 AS (SELECT e.user_id, MIN(e.t) AS t4 FROM e " +
      "JOIN s3 USING (user_id) WHERE e.ty = 'purchase' AND e.t > s3.t3 AND " +
      "e.t - s3.t1 <= 2592000000000 GROUP BY 1)"

  /** The per-step-anchored twin ("within W of the PREVIOUS step",
    * [[graft.events.Funnel.AnchorPreviousStep]]) with a 3-day window —
    * each chain condition subtracts the previous step's time, not t1. */
  private val funnelStepCte: String =
    "e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS ty FROM events " +
      "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
      "s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE ty = 'signup' GROUP BY 1), " +
      "s2 AS (SELECT e.user_id, MIN(e.t) AS t2 FROM e " +
      "JOIN s1 USING (user_id) WHERE e.ty = 'view' AND e.t > s1.t1 AND " +
      "e.t - s1.t1 <= 259200000000 GROUP BY 1), " +
      "s3 AS (SELECT e.user_id, MIN(e.t) AS t3 FROM e " +
      "JOIN s2 USING (user_id) WHERE e.ty = 'click' AND e.t > s2.t2 AND " +
      "e.t - s2.t2 <= 259200000000 GROUP BY 1), " +
      "s4 AS (SELECT e.user_id, MIN(e.t) AS t4 FROM e " +
      "JOIN s3 USING (user_id) WHERE e.ty = 'purchase' AND e.t > s3.t3 AND " +
      "e.t - s3.t3 <= 259200000000 GROUP BY 1)"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("diff_orders")(spark, "/root/testdata/sf0.001")

  // --- diff fixtures: two deterministic variants of `orders` -----------------
  // left:  orders except keys divisible by 3, projected to 4 columns
  // right: orders except keys divisible by 5, totalprice bumped for keys % 7 == 0
  private def diffLeft(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .filter(col("o_orderkey") % 3 =!= 0)

  private def diffRight(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .filter(col("o_orderkey") % 5 =!= 0)

  // --- SCD2 fixture: four monthly vintages of a 300-key orders slice --------
  // Presence/attr are pure functions of (key, vintage ordinal vn): price +7.0
  // from v3 for k%150==0 (run break), absent from v3 on for k%11==0 (delete),
  // absent at v2..v3 only for k%7==0 (delete + re-insert = two runs).
  private def scd2Snapshots(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
        col("o_totalprice").as("price"))
      .withColumn("vn", explode(sequence(lit(1), lit(4))))
      .where(!(col("vn").isin(2, 3) && col("o_orderkey") % 7 === 0) &&
        !(col("vn") >= 3 && col("o_orderkey") % 11 === 0))
      .select(col("o_orderkey"), col("prio"),
        when(col("vn") >= 3 && col("o_orderkey") % 150 === 0, col("price") + 7.0)
          .otherwise(col("price")).as("price"),
        concat(lit("2024-0"), col("vn")).as("v"))

  // timestamp variants for the duration-comparator query
  private def dateLeft(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
      .filter(col("o_orderkey") % 3 =!= 0)

  private def dateRight(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 13 === 0, col("o_orderdate") + expr("INTERVAL 3 HOURS"))
          .when(col("o_orderkey") % 7 === 0, col("o_orderdate") + expr("INTERVAL 30 MINUTES"))
          .otherwise(col("o_orderdate")).as("o_orderdate"))
      .filter(col("o_orderkey") % 5 =!= 0)

  /**
   * Committed golden fixtures (src/test/resources/golden), produced by
   * tools/make_golden.py with INDEPENDENT reimplementations (python zlib for
   * DEFLATE, struct-based image header parsing, a java.util.Random + LSH/IVF
   * replication in numpy). They oracle the gate queries DuckDB cannot express
   * natively; override via GRAFT_GOLDEN_DIR when the repo lives elsewhere.
   */
  private val goldenDir: String =
    sys.env.getOrElse("GRAFT_GOLDEN_DIR", "/root/repo/src/test/resources/golden")

  /** Deterministic 256-bucket weight table for the classifier gate — the
    * SAME generated literal feeds the Spark kernel and the DuckDB oracle's
    * list, so there is one source of truth for the model. */
  private val classifierGateWeights: Array[Int] =
    Array.tabulate(256)(i => ((i * 37 + 11) % 21) - 10)

  /** Fixed phrase blocklist for the `pattern_hits` gate — ONE literal list
    * feeds both the Aho–Corasick kernel and the DuckDB VALUES oracle.
    * Deliberately overlapping ("can" is inside "scan", "scan slow" extends
    * "scan") to exercise fail-link reporting; the last entry never occurs. */
  private[graft] val PatternList: Seq[String] = Seq(
    "scan slow", "scan", "can", "fast sort", "table key",
    "spark", "park", "zzz never present")

  /** Must match tools/make_golden.py make_mask_fixture PATTERNS exactly —
    * the fixture's masked_text column is the oracle for this list. */
  private[graft] val MaskGatePatterns: Seq[String] = Seq(
    "she", "he", "hers", "can", "scan", "café",
    "lorem ipsum", "click here", "subscribe now")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O-agg baseline: TPC-H Q1-flavor pricing summary over lineitem
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // O1 diff: default ColumnByColumn mode
    "diff_orders" -> ((s, dir) =>
      diffLeft(s, dir).diff(diffRight(s, dir), "o_orderkey")),

    // patch closure: replay the diff over the left snapshot and get the
    // right snapshot back, row for row — the oracle recomputes the right
    // side DIRECTLY, never touching the diff
    "diff_patch_right" -> ((s, dir) =>
      graft.diff.Diff.patchRight(
        diffLeft(s, dir).diff(diffRight(s, dir), "o_orderkey"))),

    // P95 incremental snapshot diff: two manifest'd hive-partitioned
    // snapshots of orders (partitioned by o_orderpriority); the right
    // snapshot perturbs '1-URGENT' prices (keys % 10 == 0), deletes
    // '2-HIGH' keys % 7 == 0, and adds a 'Z-NEW' partition. diffSnapshots
    // detects changed partitions from the MANIFESTS alone and row-diffs
    // only those (static partition pruning pinned in SnapshotDiffSuite).
    // Oracle: the full relational diff restricted to partitions with any
    // multiset difference — identical to fingerprint detection on data
    // with no XOR-cancelling even-multiplicity swaps (none planted).
    "snapshot_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
          col("o_totalprice"))
      val right = orders
        .withColumn("o_totalprice",
          when(col("prio") === "1-URGENT" && col("o_orderkey") % 10 === 0,
            col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
        .where(!(col("prio") === "2-HIGH" && col("o_orderkey") % 7 === 0))
        .unionAll(orders
          .where(col("prio") === "5-LOW" && col("o_orderkey") % 100 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("Z-NEW").as("prio"), col("o_totalprice")))
      val root = java.nio.file.Files
        .createTempDirectory("graft_snapdiff_gate").toString
      graft.diff.SnapshotDiff.writePartitionedWithManifest(
        orders, s"$root/left", Seq("prio"))
      graft.diff.SnapshotDiff.writePartitionedWithManifest(
        right, s"$root/right", Seq("prio"))
      graft.diff.SnapshotDiff.diffSnapshots(s, s"$root/left", s"$root/right",
        Seq("o_orderkey"), Seq("prio"))
        .select(col("diff"), col("o_orderkey"),
          col("left_prio"), col("right_prio"),
          col("left_o_totalprice"), col("right_o_totalprice"))
    }),

    // the partition-level change report of the same two snapshots, read
    // from the manifest sidecars only (KB of IO at any snapshot size)
    "snapshot_changed" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
          col("o_totalprice"))
      val right = orders
        .withColumn("o_totalprice",
          when(col("prio") === "1-URGENT" && col("o_orderkey") % 10 === 0,
            col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
        .where(!(col("prio") === "2-HIGH" && col("o_orderkey") % 7 === 0))
        .unionAll(orders
          .where(col("prio") === "5-LOW" && col("o_orderkey") % 100 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("Z-NEW").as("prio"), col("o_totalprice")))
      val root = java.nio.file.Files
        .createTempDirectory("graft_snapchg_gate").toString
      graft.diff.SnapshotDiff.writePartitionedWithManifest(
        orders, s"$root/left", Seq("prio"))
      graft.diff.SnapshotDiff.writePartitionedWithManifest(
        right, s"$root/right", Seq("prio"))
      graft.diff.SnapshotDiff.changedPartitions(
        graft.diff.SnapshotDiff.partitionManifestSummary(s, s"$root/left", Seq("prio")),
        graft.diff.SnapshotDiff.partitionManifestSummary(s, s"$root/right", Seq("prio")),
        Seq("prio"))
        .select(col("prio"), col("status"), col("rows_left"), col("rows_right"))
    }),

    // P110 SCD2 history build: four deterministic monthly vintages of a
    // 300-key orders slice — price changes from v3 (k%150), hard deletes
    // from v3 (k%11), and a delete+re-insert hole at v2..v3 (k%7, which
    // must yield TWO runs for the same key/attrs — the gap rule). Oracle:
    // DuckDB replays the full window algebra (version index → lag-based
    // run breaks → run grouping → exclusive valid_to lookup).
    "scd2_history" -> ((s, dir) => {
      graft.diff.History.fromSnapshots(
        scd2Snapshots(s, dir), "v", Seq("o_orderkey"))
        .select(col("o_orderkey"), col("prio"), col("price"),
          col("valid_from"), col("valid_to"), col("is_current"))
    }),

    // P128 incremental SCD2 apply: history of vintages 1..3, then the
    // 2024-04 snapshot applied WITHOUT a rebuild — the oracle replays the
    // full four-vintage build, so incremental == rebuild is the gate.
    "scd2_apply" -> ((s, dir) => {
      val snaps = scd2Snapshots(s, dir)
      val hist = graft.diff.History.fromSnapshots(
        snaps.filter(col("v") < "2024-04"), "v", Seq("o_orderkey"))
      graft.diff.History.applySnapshot(hist,
        snaps.filter(col("v") === "2024-04").drop("v"),
        "2024-04", "v", Seq("o_orderkey"))
        .select(col("o_orderkey"), col("prio"), col("price"),
          col("valid_from"), col("valid_to"), col("is_current"))
    }),

    // P110 round-trip: snapshotAt reconstructs the 2024-03 vintage exactly
    // from the history table — the oracle recomputes that vintage DIRECTLY
    // from orders, never touching the history.
    "scd2_snapshot_at" -> ((s, dir) => {
      val hist = graft.diff.History.fromSnapshots(
        scd2Snapshots(s, dir), "v", Seq("o_orderkey"))
      graft.diff.History.snapshotAt(hist, "2024-03", "v")
        .select(col("o_orderkey"), col("prio"), col("price"), col("v"))
    }),

    // O6 diff modes: LeftSide projection
    "diff_orders_leftside" -> ((s, dir) =>
      diffLeft(s, dir).diff(diffRight(s, dir),
        DiffOptions.default.withDiffMode(DiffMode.LeftSide), "o_orderkey")),

    // O6 diff modes: SideBySide (same column names as ColumnByColumn; layout
    // differs, and the driver's compare is order-insensitive by design)
    "diff_orders_sidebyside" -> ((s, dir) =>
      diffLeft(s, dir).diff(diffRight(s, dir),
        DiffOptions.default.withDiffMode(DiffMode.SideBySide), "o_orderkey")),

    // O7 sparse mode
    "diff_orders_sparse" -> ((s, dir) =>
      diffLeft(s, dir).diff(diffRight(s, dir),
        DiffOptions.default.withSparseMode(true), "o_orderkey")),

    // O4 change column
    "diff_orders_changes" -> ((s, dir) =>
      diffLeft(s, dir).diff(diffRight(s, dir),
        DiffOptions.default.withChangeColumn("changed"), "o_orderkey")
        .withColumn("changed",
          when(col("changed").isNull, lit(null)).otherwise(concat_ws(",", col("changed"))))),

    // O10 ignore columns: right side's o_orderstatus is lowercased — a default
    // diff would flag C; ignoring the column keeps N while carrying both sides
    "diff_orders_ignore" -> ((s, dir) =>
      Diff.of(diffLeft(s, dir),
        diffRight(s, dir).withColumn("o_orderstatus", lower(col("o_orderstatus"))),
        Seq("o_orderkey"), Seq("o_orderstatus"))),

    // O13 epsilon comparator: totalprice bump of +10 within relative epsilon
    "diff_orders_epsilon" -> ((s, dir) =>
      diffLeft(s, dir).diff(diffRight(s, dir),
        DiffOptions.default.withComparator(
          DiffComparators.epsilon(0.001).asRelative().asInclusive(), "o_totalprice"),
        "o_orderkey")),

    // O14 whitespace-agnostic string comparator: right status padded with
    // tabs/spaces compares equal
    "diff_orders_whitespace" -> ((s, dir) =>
      diffLeft(s, dir).diff(
        diffRight(s, dir).withColumn("o_orderstatus",
          concat(lit("\t"), col("o_orderstatus"), lit("  "))),
        DiffOptions.default.withComparator(DiffComparators.string(), "o_orderstatus"),
        "o_orderkey")),

    // O15 duration comparator: 30min skew within 1h tolerance, 3h skew beyond
    "diff_orders_duration" -> ((s, dir) =>
      dateLeft(s, dir).diff(dateRight(s, dir),
        DiffOptions.default.withComparator(
          DiffComparators.duration(java.time.Duration.ofHours(1)), "o_orderdate"),
        "o_orderkey")),

    // O17 custom Equiv Catalyst expression: case-insensitive status compare
    "diff_orders_equiv" -> ((s, dir) =>
      diffLeft(s, dir).diff(
        diffRight(s, dir).withColumn("o_orderstatus", lower(col("o_orderstatus"))),
        DiffOptions.default.withComparator(
          DiffComparators.equiv(CaseInsensitiveEquiv, StringType), "o_orderstatus"),
        "o_orderkey")),

    // O16 map comparator: same entries, opposite key order on the right —
    // order-insensitive equality keeps N; only the %7 price bump flags C.
    // Output is action+id only, so the oracle derives the action from the
    // underlying scalars without needing map values.
    "diff_orders_map" -> ((s, dir) => {
      val l = t(s, dir, "orders").filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"),
          map(lit("price"), col("o_totalprice"),
            lit("cust"), col("o_custkey").cast("double")).as("m"))
      val r = t(s, dir, "orders").filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          map(lit("cust"), col("o_custkey").cast("double"),
            lit("price"), when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
              .otherwise(col("o_totalprice"))).as("m"))
      l.diff(r, DiffOptions.default.withComparator(DiffComparators.map[String, Double](), "m"),
        "o_orderkey")
        .select(col("diff"), col("o_orderkey"))
    }),

    // O9 diffWith: typed (action, left, right) tuples, flattened for the gate
    "diff_with_orders" -> ((s, dir) => {
      import s.implicits._
      Diff.ofWith(diffLeft(s, dir).as[Ord], diffRight(s, dir).as[Ord], Seq("o_orderkey"))
        .select(col("_1").as("diff"),
          col("_2.o_orderkey").as("l_o_orderkey"), col("_2.o_custkey").as("l_o_custkey"),
          col("_2.o_orderstatus").as("l_o_orderstatus"), col("_2.o_totalprice").as("l_o_totalprice"),
          col("_3.o_orderkey").as("r_o_orderkey"), col("_3.o_custkey").as("r_o_custkey"),
          col("_3.o_orderstatus").as("r_o_orderstatus"), col("_3.o_totalprice").as("r_o_totalprice"))
    }),

    // O8 diffAs: typed subset encoder (deserialization forced via map(identity))
    "diff_as_orders" -> ((s, dir) => {
      import s.implicits._
      Diff.ofAs[Ord, Ord, OrdDiff](diffLeft(s, dir).as[Ord], diffRight(s, dir).as[Ord],
        Seq("o_orderkey")).map(identity).toDF()
    }),

    // O23 global row numbers: 3-phase plan, no single-partition window
    "row_numbers" -> ((s, dir) =>
      RowNumbers.withRowNumbers(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        order = Seq(col("o_orderkey")))
        .withColumn("row_number", col("row_number").cast("long"))),

    // O22 histogram: single-pass bucket counts per group
    "histogram_totalprice" -> ((s, dir) =>
      t(s, dir, "orders")
        .histogram(Seq(100000, 200000, 300000, 400000), col("o_totalprice"), col("o_orderstatus"))),

    // O18 groupByKey by column expression (partitioning stays visible to Catalyst)
    "group_by_key_count" -> ((s, dir) => {
      import s.implicits._
      new ExtendedDataset(t(s, dir, "orders")).groupByKey[Long](col("o_custkey")).count()
        .toDF("o_custkey", "cnt")
    }),

    // O19/O21 sorted-group iteration: per-customer running order totals
    "group_sorted_running" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .as[CustOrder]
        .groupBySorted[Long]($"o_custkey")($"o_orderdate", $"o_orderkey")
        .flatMapSortedGroups { (cust, orders) =>
          var rn = 0L
          var running = java.math.BigDecimal.ZERO
          orders.map { o =>
            rn += 1
            running = running.add(
              new java.math.BigDecimal(o.o_totalprice).setScale(2, java.math.RoundingMode.HALF_UP))
            (cust, o.o_orderkey, rn, running.doubleValue)
          }
        }.toDF("o_custkey", "o_orderkey", "rn", "running_total")
    }),

    // O20 lambda-keyed sorted grouping, reverse order: latest order per customer
    "group_key_sorted_latest" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .as[CustOrder]
        .groupByKeySorted[Long, (java.sql.Timestamp, Long)](_.o_custkey)(
          o => (o.o_orderdate, o.o_orderkey), reverse = true)
        .flatMapSortedGroups { (_, orders) => Iterator.single(orders.next()) }
        .map(o => (o.o_custkey, o.o_orderkey, o.o_totalprice))
        .toDF("o_custkey", "o_orderkey", "o_totalprice")
    }),

    // O20 default ascending order + explicit partitions variant: earliest
    // order per customer. Together with group_key_sorted_latest this pins
    // BOTH reverse settings and the partitions overload against the oracle
    // (the explicit count only fixes the exchange width — results must be
    // partitioning-invariant).
    "group_key_sorted_earliest" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .as[CustOrder]
        .groupByKeySorted[Long, (java.sql.Timestamp, Long)](
          _.o_custkey, partitions = Some(8))(
          o => (o.o_orderdate, o.o_orderkey))
        .flatMapSortedGroups { (_, orders) => Iterator.single(orders.next()) }
        .map(o => (o.o_custkey, o.o_orderkey, o.o_totalprice))
        .toDF("o_custkey", "o_orderkey", "o_totalprice")
    }),

    // as-of join: for each click, the latest prior error state of the same
    // user — one hash shuffle on user_id (union + per-key sort + running
    // last), no inequality-join nested loop. Compared in epoch microseconds
    // so both engines use the same integers regardless of the parquet
    // timestamp physical type (see eventTsUs).
    "asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val us = eventTsUs(ev)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), us.as("ts_us"))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("user_id"), us.as("ts_us"), col("value"))
        .groupBy(col("user_id"), col("ts_us")).agg(max(col("value")).as("err_value"))
      graft.join.Joins.asofJoin(
        clicks, errs, Seq("user_id"), "ts_us", "ts_us", Seq("err_value"), prefix = "m_")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("m_ts"), col("m_err_value").as("m_value"))
    }),

    // range join: attach each order to the price bands it falls in —
    // fixed-width binning turns the interval predicate into an equi-join
    // on the bin id (no broadcast-nested-loop), exact BETWEEN as post-filter
    "range_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val points = o.select(col("o_orderkey"), col("o_totalprice"))
      val bands = o.filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey").as("band_id"),
          (col("o_totalprice") - 1000.0).as("lo"), (col("o_totalprice") + 1000.0).as("hi"))
      graft.join.Joins.rangeJoin(points, "o_totalprice", bands, "lo", "hi", 2000.0)
        .select(col("band_id"), col("o_orderkey"), col("o_totalprice"))
    }),

    // skew-safe salted equi-join: bit-identical to the plain join (the salt
    // is internal), fact side salted, dimension side replicated 8x
    "salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.join.Joins.saltedJoin(li, sup, Seq("l_suppkey"), saltFactor = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("s_name"))
    }),

    // sessionization: per-user view sessions split at 30-minute gaps —
    // one shuffle on user_id, both window passes share a single sort
    "sessionize" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), eventTsUs(ev).as("ts_us"))
      graft.events.Sessionize.withSessionIndex(
        views, col("user_id"), col("ts_us"), lit(1800000000L)) // 30 min in us
    }),

    // P125 funnel analysis: per-user ordered step progression under a
    // 30-day conversion window anchored at the first step — sequential
    // min-aggregate algebra, every exchange keyed on user_id, exact
    // integer micros throughout.
    "funnel_users" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.funnelTimes(ev, col("user_id"), eventTsUs(ev),
        col("event_type"), Seq("signup", "view", "click", "purchase"),
        windowUs = 2592000000000L)
    }),

    "funnel_report" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.funnelReport(ev, col("user_id"), eventTsUs(ev),
        col("event_type"), Seq("signup", "view", "click", "purchase"),
        windowUs = 2592000000000L)
    }),

    // P125b the per-step-anchored funnel ("within 3 days of the PREVIOUS
    // step", the product-analytics default) — same sequential-min plan,
    // only the window subtraction re-anchors.
    "funnel_users_stepwin" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.funnelTimes(ev, col("user_id"), eventTsUs(ev),
        col("event_type"), Seq("signup", "view", "click", "purchase"),
        windowUs = 259200000000L,
        anchor = graft.events.Funnel.AnchorPreviousStep)
    }),

    // P125d streaming funnel: the greedy k-longs-per-user chain over an
    // ordered replay (batches cut on global event-time rank, the regime
    // where greedy == batch min-aggregate), depth transitions drained to
    // the sink and re-aggregated — the oracle is the BATCH funnel chain,
    // so the gate certifies the streaming/batch equivalence itself.
    "streaming_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val stepsSeq = Seq("signup", "view", "click", "purchase")
      val staged = ev
        .filter(col("event_type").isin(stepsSeq: _*) &&
          col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_type"), col("event_id"),
          timestamp_micros(eventTsUs(ev)).as("ts"))
      val n = 6
      val pr = percent_rank().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id")))
      val batchC = least(floor(pr * n), lit(n - 1)).cast("int")
      streamReplay(s, staged, batchC, n)(st =>
        graft.streaming.StreamingFunnel.funnelProgress(
          st, col("user_id"), "ts", col("event_type"), stepsSeq,
          windowUs = 2592000000000L).toDF())
        .groupBy(col("user_id"))
        .agg(max(col("depth")).as("depth"),
          min(col("t_us")).as("first_step_us"),
          max(col("t_us")).as("last_step_us"))
    }),

    // P126c streaming retention: the live activity triangle — cohort +
    // offset-bitmask state per user, first-hit-per-cell emission; the
    // ordered replay must reproduce the BATCH retention triangle exactly
    // (the streaming_funnel discipline; horizon 256 comfortably covers
    // the testdata's week span).
    "streaming_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val staged = ev
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          timestamp_micros(eventTsUs(ev)).as("ts"))
      val n = 6
      val pr = percent_rank().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id")))
      val batchC = least(floor(pr * n), lit(n - 1)).cast("int")
      streamReplay(s, staged, batchC, n)(st =>
        graft.streaming.StreamingRetention.retentionHits(
          st, col("user_id"), "ts", periodUs = 604800000000L,
          horizon = 256).toDF())
        .groupBy(col("cohort_period"), col("period_offset"))
        .agg(count(lit(1)).as("users"))
    }),

    // P125c the long view of the funnel chain: one row per reached step
    // per user — the raw material for time-to-convert analysis.
    "funnel_step_times" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.funnelStepTimes(ev, col("user_id"), eventTsUs(ev),
        col("event_type"), Seq("signup", "view", "click", "purchase"),
        windowUs = 2592000000000L)
    }),

    // P125d time-to-convert report: per step, users reached + exact
    // BIGINT lag bounds (min/max/sum) from the PREVIOUS step — mean is a
    // trivial downstream division; step 1 lags are 0 by definition.
    "funnel_lags" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.funnelLags(ev, col("user_id"), eventTsUs(ev),
        col("event_type"), Seq("signup", "view", "click", "purchase"),
        windowUs = 2592000000000L)
    }),

    // P129 purged temporal split: time-axis leakage guard — rows within
    // 12h after each cutoff are embargoed out of both sides.
    "temporal_split" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.sample.Sampling.withTemporalSplit(
        ev.select(col("event_id"), eventTsUs(ev).as("ts_us")), col("ts_us"),
        bounds = Seq(1704326400000000L, 1704585600000000L),
        names = Seq("train", "val", "test"), embargoUs = 43200000000L)
        .select(col("event_id"), col("split"))
    }),

    // P127 event transition matrix: Markov estimation table — per-user
    // lead over the total (ts, event_id) order, corpus-wide pair counts.
    "event_transitions" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.transitionMatrix(ev, col("user_id"), eventTsUs(ev),
        col("event_id"), col("event_type"))
    }),

    // P127b top user paths: the matrix generalized to whole journeys —
    // each user's first 5 events in (ts, event_id) total order join into
    // one path string; the 20 most-travelled paths (deterministic ties)
    // are the sankey behind every product-analytics dashboard.
    "event_paths" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.topPaths(ev, col("user_id"), eventTsUs(ev),
        col("event_id"), col("event_type"), maxSteps = 5, k = 20)
    }),

    // P133 k-center diversity coreset: greedy farthest-first over the
    // int8 code space — selections and the exact integer radius curve
    // must equal the independent python replication of the spec (any
    // drift in encode, distance identity, seed or tie rules breaks rows).
    "kcenter_select" -> ((s, dir) =>
      graft.sample.Coreset.kCenterSelect(t(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), k = 16)
        .select(col("rank").cast("long").as("rank"),
          col("id").as("vec_id"), col("d2"))),

    // P126 retention cohorts: cohort = integer-DIV week of a user's first
    // event; each (cohort, offset) cell counts distinct users active that
    // many weeks later.
    "retention_cohorts" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.retentionCohorts(ev, col("user_id"), eventTsUs(ev),
        periodUs = 604800000000L)
    }),

    // P126b approximate retention: the HLL tier (map-side-combined
    // sketches, no corpus-sized distinct shuffle) gated against the exact
    // tier with the P34 recall-gate pattern — the oracle predicts the
    // exact counts AND that every cell's estimate lands within tolerance.
    "retention_cohorts_approx" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val exact = graft.events.Funnel.retentionCohorts(
        ev, col("user_id"), eventTsUs(ev), periodUs = 604800000000L)
      val approx = graft.events.Funnel.retentionCohortsApprox(
        ev, col("user_id"), eventTsUs(ev), periodUs = 604800000000L)
      exact.join(approx, Seq("cohort_period", "period_offset"))
        .select(col("cohort_period"), col("period_offset"), col("users"),
          (abs(col("users_estimate") - col("users")).cast("double") /
            col("users").cast("double") <= lit(0.05)).as("hll_ok"))
    }),

    // P115 watermark planning: deterministic disorder planted (event id%10
    // == k arrives k*3 minutes "early" in event time, i.e. up to 27 min
    // late vs the watermark its successors advance); lateness = exclusive
    // arrival-order running max minus event time in exact integer micros,
    // report = drops per candidate delay. DuckDB replays the watermark
    // recurrence with the framed window MAX.
    "watermark_plan" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val ev2 = ev.select(col("event_id"),
        timestamp_micros(eventTsUs(ev) -
          (col("event_id") % 10) * 180000000L).as("ts2"))
      graft.events.Lateness.watermarkPlan(ev2, col("event_id"), col("ts2"),
        Seq(0L, 60L, 300L, 900L, 1800L))
    }),

    // F2 count_null aggregate (nulls synthesized: no raw nulls in testdata)
    "count_null_events" -> ((s, dir) => {
      t(s, dir, "events").agg(
        graft.functions.count_null(
          when(col("event_type") === "error", lit(null)).otherwise(col("value"))).as("value_nulls"),
        count(lit(1)).as("n"))
    }),

    // F3-F8 .Net ticks codecs: full round-trip over order timestamps
    "ticks_roundtrip" -> ((s, dir) => {
      // o_orderdate is TIMESTAMP_NTZ; ticks codecs operate on instants
      // (session TZ is UTC in Verify/Bench, so the cast is lossless)
      val ticks = graft.functions.timestampToDotNetTicks(col("o_orderdate").cast("timestamp"))
      t(s, dir, "orders").select(
        col("o_orderkey"),
        ticks.as("ticks"),
        graft.functions.dotNetTicksToTimestamp(ticks).cast("timestamp_ntz").as("ts_rt"),
        graft.functions.dotNetTicksToUnixEpochNanos(ticks).as("epoch_nanos"),
        graft.functions.unixEpochNanosToDotNetTicks(
          graft.functions.dotNetTicksToUnixEpochNanos(ticks)).as("ticks_rt"),
        graft.functions.dotNetTicksToUnixEpoch(ticks)
          .cast(DecimalType(20, 6)).cast("double").as("epoch_sec"))
    }),

    // O24 writePartitionedBy: range-partitioned, sorted-file write + read-back
    "write_partitioned_readback" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_wpb").toString + "/out"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .writePartitionedBy(Seq(col("o_orderstatus")), Seq(col("o_orderkey")))
        .format("parquet").mode("overwrite").save(tmp)
      s.read.parquet(tmp).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
    }),

    // small-file compaction round-trip: fragment orders into 50 tiny files,
    // compact by footer-metadata sizing, and hash-verify the data survived
    // the move exactly (the file-count pin lives in sbt via parquetMetadata)
    "compact_readback" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_cp").toString
      val frag = base + "/frag"
      val out = base + "/out"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(50)
        .write.mode("overwrite").parquet(frag)
      graft.write.Compaction.compactParquet(s, frag, out,
        targetFileBytes = 512L * 1024 * 1024)
      s.read.parquet(out)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast(DecimalType(18, 2)).cast("double").as("o_totalprice"))
    }),

    // JSONL sink/source round-trip: the dominant web-corpus interchange
    // format. Write documents as line-delimited JSON, read back with an
    // EXPLICIT schema (inference would re-scan the data — never at 100 TB),
    // compare against the source table — pins JSON string escaping and
    // unicode fidelity through the whole sink+source path.
    "jsonl_readback" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_jl").toString + "/out"
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      docs.write.mode("overwrite").json(tmp)
      s.read.schema(docs.schema).json(tmp)
    }),

    // z-order layout round-trip: re-layout lineitem along the Morton curve
    // of (l_partkey, l_suppkey) — per-file min/max narrowing asserted in
    // sbt; the gate checks the data survives the re-layout exactly
    "zorder_write_readback" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_zw").toString + "/out"
      graft.write.ZOrder.zorderBy(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")),
        Seq("l_partkey", "l_suppkey"), partitions = 8)
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_partkey")).as("sum_part"), sum(col("l_suppkey")).as("sum_supp"),
          min(col("l_orderkey")).as("min_okey"), max(col("l_orderkey")).as("max_okey"),
          sum(col("l_orderkey") * col("l_linenumber")).as("checksum"))
    }),

    // Hilbert-curve layout (the locality-tightened z-order sibling): same
    // content-preservation contract as zorder_write_readback; the curve
    // properties themselves (bijectivity, unit-step adjacency) are
    // theorem-tested in HilbertSuite
    "hilbert_write_readback" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_hw").toString + "/out"
      graft.write.Hilbert.hilbertOrderBy(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")),
        Seq("l_partkey", "l_suppkey"), partitions = 8)
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_partkey")).as("sum_part"), sum(col("l_suppkey")).as("sum_supp"),
          min(col("l_orderkey")).as("min_okey"), max(col("l_orderkey")).as("max_okey"),
          sum(col("l_orderkey") * col("l_linenumber")).as("checksum"))
    }),

    // export manifest: write-then-certify — the manifest is computed from
    // the files that actually landed, verification re-aggregates the
    // CURRENT directory and full-outer-joins it. Order-insensitive XOR
    // fingerprints make producer/verifier agree under any parallelism;
    // drift classes (missing/extra/corrupt file) are pinned in ManifestSuite.
    "manifest_verify" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_mf").toString + "/out"
      graft.write.Manifest.writeWithManifest(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")),
        tmp)
      graft.write.Manifest.verifySummary(s, tmp)
        .select(col("total_rows"), col("all_ok"))
    }),

    // Bloom sidecar index (equality-predicate file skipping, the zone-map
    // companion): write range-clustered, build per-file blooms in one
    // grouped-aggregate scan, then answer an IN-list by scanning ONLY the
    // surviving files + re-filtering. No false negatives by construction,
    // so the result must equal the plain filtered read — which is what the
    // oracle computes. Skip counts and FP behavior pinned in BloomIndexSuite.
    "bloom_skip_readback" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bl").toString + "/out"
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .repartitionByRange(8, col("l_orderkey"))
        .write.mode("overwrite").parquet(tmp)
      graft.parquet.BloomIndex.writeBloomIndex(s, tmp, "l_orderkey", logBits = 18, k = 5)
      graft.parquet.BloomIndex.prunedParquet(s, tmp, "l_orderkey",
        Seq(1L, 7L, 325L, 1000L))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    }),

    // zone-map pruning report over a freshly written sorted layout: the
    // oracle reads THE SAME FOOTERS via DuckDB's parquet_metadata at a fixed
    // path, so the per-row-group skip decisions must agree bit-for-bit no
    // matter where the writer placed group boundaries
    "zonemap_prune" -> ((s, dir) => {
      // the path is part of the oracle contract (DuckDB reads THE SAME
      // footers) and must be SF-specific: a concurrent or later run at
      // another SF (sbt's sf0.001 gate sweep, bench at sf0.1) would
      // otherwise overwrite the footers between the query and the compare
      val out = s"/tmp/graft_zonemap_gate/${new java.io.File(dir).getName}/out"
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        .repartition(1).sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .option("parquet.block.size", "65536")
        .parquet(out)
      graft.parquet.ZoneMap.pruningReport(s, Seq(out), "l_orderkey", 500.0, 2000.0)
        .select(col("block"), col("n_values"), col("skippable"))
    }),

    // bucketed-table co-location end-to-end: write both sides bucketed on the
    // join key (shuffle paid once at write), then join them back with zero
    // Exchange (sbt pins the plan shape; the gate checks the data round-trip)
    "write_bucketed_readback" -> ((s, dir) => {
      import graft.write.BucketedWrite
      // a managed table's directory can outlive the (in-memory) catalog entry
      // across JVM runs; clear both so saveAsTable always starts clean
      def freshTable(name: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), name)
        val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(wh)) fs.delete(wh, true)
      }
      freshTable("graft_bkt_orders")
      freshTable("graft_bkt_lineitem")
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      BucketedWrite.writeBucketedBy(orders, 8, Seq(col("o_orderkey")))
        .mode("overwrite").format("parquet").saveAsTable("graft_bkt_orders")
      BucketedWrite.writeBucketedBy(li, 8, Seq(col("l_orderkey")))
        .mode("overwrite").format("parquet").saveAsTable("graft_bkt_lineitem")
      s.table("graft_bkt_orders").hint("merge")
        .join(s.table("graft_bkt_lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    }),

    // O30 Diff App CLI end-to-end: write inputs, run app with --statistics, read back
    "diff_app_stats" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_app").toString
      diffLeft(s, dir).write.mode("overwrite").parquet(s"$tmp/left")
      diffRight(s, dir).write.mode("overwrite").parquet(s"$tmp/right")
      graft.app.DiffApp.run(s, graft.app.DiffApp.parse(Seq(
        "--id", "o_orderkey", "--statistics", s"$tmp/left", s"$tmp/right", s"$tmp/out")))
      s.read.parquet(s"$tmp/out")
    }),

    // O27 parquet row-group scan (oracle: DuckDB parquet_metadata())
    "parquet_blocks" -> ((s, dir) =>
      graft.parquet.ParquetMeta.parquetBlocks(s, None, Seq(s"$dir/lineitem.parquet"))
        .select(col("block"), col("rows"), col("columns").cast("long").as("columns"),
          col("compressedBytes"), col("uncompressedBytes"), col("values"), col("nulls"))),

    // O28 per-(block, column) facts vs DuckDB parquet_metadata()
    "parquet_block_columns" -> ((s, dir) =>
      graft.parquet.ParquetMeta.parquetBlockColumns(s, None, Seq(s"$dir/lineitem.parquet"))
        .select(col("block"), col("column"), col("values"),
          col("compressedBytes"), col("uncompressedBytes"), col("nulls"))),

    // --- LLM-pipeline operators over documents/embeddings ------------------

    // text analysis: token/quality stats (ASCII tokens for oracle parity).
    // One fused codegen'd kernel pass per document — no interpreted HOFs;
    // token chars == bytes for ASCII tokens, so avg length matches the oracle.
    "text_stats" -> ((s, dir) => {
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
    }),

    // unicode script-mix profile (multilingual curation signal): explicit
    // codepoint ranges — engine-portable by construction, unlike
    // Character.UnicodeScript whose tables move with the JDK. One fused
    // kernel pass per document, narrow.
    "script_mix" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.vectors.script_profile(col("text")).as("sp"))
        .select(col("doc_id"),
          col("sp")(0).as("n_codepoints"), col("sp")(1).as("latin"),
          col("sp")(2).as("cyrillic"), col("sp")(3).as("greek"),
          col("sp")(4).as("arabic"), col("sp")(5).as("cjk"),
          col("sp")(6).as("digit"))),

    // multi-pattern substring blocklist: which fixed phrases occur verbatim
    // in each document — ONE Aho-Corasick byte pass regardless of list size
    // (N contains() calls would each rescan the text). Overlapping patterns
    // ("can" inside "scan") exercise the fail links; one row per hit.
    "pattern_hits" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        explode(graft.functions.vectors.matched_patterns(col("text"),
          PatternList)).as("pattern_id"))),

    // Flesch readability counters + score (a standard cheap quality
    // signal): one fused kernel pass; planted suffix exercises the
    // vowel-less floor ("zzz", "brr", the lone "N"), multi-run syllables
    // ("queueing"), and punctuation-run sentence counting. DuckDB replays
    // the identical regex rules + the one fixed IEEE expression.
    "text_readability" -> ((s, dir) => {
      import graft.text.TextFunctions._
      val t0 = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" Planted: zzz brr!!! A queueing bee? N0 v0wels end")).as("tt"))
      t0.select(col("doc_id"),
        get(readabilityStats(col("tt")), lit(0)).as("n_words"),
        get(readabilityStats(col("tt")), lit(1)).as("n_sentences"),
        get(readabilityStats(col("tt")), lit(2)).as("n_syllables"),
        fleschScore(col("tt")).as("flesch"))
    }),

    // blocklist masking (the removal twin of pattern_hits): leftmost-longest
    // non-overlapping occurrences replaced in place, one Aho-Corasick pass.
    // Oracle: golden fixture from an independent python replication of the
    // documented selection rule over UTF-8 bytes (tools/make_golden.py
    // make_mask_fixture — planted nested/overlapping/adjacent/multibyte
    // hazards + every sf0.01 doc text with planted phrases)
    "mask_blocklist" -> ((s, dir) =>
      s.read.parquet(s"$goldenDir/mask_sf001.parquet").select(col("mask_id"),
        graft.functions.vectors.mask_patterns(col("text"), MaskGatePatterns)
          .as("masked_text"))),

    // language identification (marker-word heuristic, deterministic tie-break)
    "text_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextFunctions.langId(col("text"),
          graft.text.TextFunctions.AsciiTokenPattern).as("pred_lang"))),

    // document fingerprinting (md5 over normalized text; engine-portable)
    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextFunctions.fingerprintMd5(col("text")).as("fp"))),

    // n-gram repetition signals (Gopher-style quality filters): total/top
    // occurrence counts for 1/2/3-grams plus the top-bigram fraction. One
    // fused codegen'd kernel pass per n — no interpreted HOFs; the fraction
    // is int/int division in double (bitwise-identical across engines).
    "text_repetition" -> ((s, dir) => {
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
    }),

    // corpus-wide boilerplate report: the 20 bigrams present in the most
    // documents. Kernel shingles + map-side-combined count + TakeOrdered
    // top-k (no global sort).
    "top_ngrams" -> ((s, dir) =>
      graft.text.CorpusStats.topNgrams(t(s, dir, "documents"), col("text"), n = 2, k = 20)),

    // per-document duplicate-text-mass profile: fraction of each document's
    // distinct trigram set shared with >= 2 documents. Doc-freq agg combines
    // map-side; only the duplicated gram mass re-enters a shuffle (left-semi
    // on the dup-gram set); per-doc totals are a narrow kernel size() column.
    "novelty_profile" -> ((s, dir) =>
      graft.text.CorpusStats.noveltyProfile(
        t(s, dir, "documents"), col("doc_id"), col("text"), n = 3)),

    // one-row corpus duplicate-mass report over the same trigrams: one
    // map-side-combining gram aggregation + a scalar aggregate over the
    // vocabulary-sized doc-freq table — decides whether span dedup is worth
    // running before paying for it.
    "dup_gram_mass" -> ((s, dir) =>
      graft.text.CorpusStats.duplicateGramMass(
        t(s, dir, "documents"), col("text"), n = 3)),

    // adaptive per-source quality cut: keep each source's top 30% by token
    // count (rank <= ceil(0.3 * group size)) — the threshold adapts to the
    // source instead of a global bar emptying weak sources. One exchange on
    // source; the group count rides the same partitioning as a window agg.
    "quality_cut_per_source" -> ((s, dir) => {
      import graft.text.TextFunctions._
      val scored = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        tokenStatsAscii(col("text"), EnglishStopwords)(0).as("n_tokens"))
      graft.agg.TopK.topFractionPerGroup(
        scored, Seq(col("source")),
        Seq(col("n_tokens").desc, col("doc_id").asc), 0.3)
    }),

    // the approximate (100 TB) quality-cut path: per-group threshold from
    // one mergeable percentile_approx + a narrow filter — no corpus sort,
    // no window. Sketch thresholds aren't engine-portable, so the gate is
    // a per-group boolean (kept count within the documented tolerance of
    // ceil(fraction·n)); DuckDB replays the group sizes and asserts TRUE.
    // The exact referee is quality_cut_per_source above.
    "quality_cut_approx" -> ((s, dir) => {
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
    }),

    // token-window chunking for training-data prep: one row per overlapping
    // 32-token chunk (stride 24). Narrow plan: kernel + partition-local
    // posexplode next to the scan, no shuffle.
    "text_chunks" -> ((s, dir) =>
      graft.text.TextFunctions.chunkByTokens(
        t(s, dir, "documents"), col("text"), 32, 8, col("doc_id"))),

    // per-source corpus quality report: integer counts aggregated exactly,
    // ratios as one double division of two exact sums (engine-portable).
    // One groupBy shuffle over tiny per-doc stat rows — the kernel runs
    // next to the scan, only (source, 4 longs) reaches the exchange.
    "corpus_quality_report" -> ((s, dir) => {
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
    }),

    // contamination severity REPORT: per-doc shingle/overlap counts and
    // fraction from the same broadcast sorted-array binary-search probe as
    // decontaminate (zero shuffles) — the score survives instead
    // of becoming a drop decision
    "contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.Dedup.contaminationReport(
        docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 97 === 0), col("text"), shingleSize = 5)
        .withColumnRenamed("id", "doc_id")
    }),

    // per-group drift between two corpus snapshots: one fused-kernel
    // aggregate per side, full-outer joined on the group. The "after"
    // snapshot is built in plan — drops every 7th doc, appends drift
    // tokens to every 5th, renames src2 to srcNEW so the report exercises
    // both one-sided join cases (src2 before-only, srcNEW after-only).
    "corpus_drift" -> ((s, dir) => {
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
    }),

    // end-to-end curation pass: langid -> quality -> exact dedup -> minhash
    // near-dup -> decontaminate -> hash sample, composed by
    // Curation.curate with the same parameterizations as the individual
    // stage gates. Output = the per-stage attrition report (stage, n_rows):
    // every count must match a DuckDB replication of the whole chained
    // pipeline, which certifies stage ORDER and inter-stage dataflow, not
    // just each stage in isolation.
    "curation_report" -> ((s, dir) => {
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
    }),

    // the daily-ingest loop: reference sources (src0..src9) become a
    // persisted dedup index; the new sources (src10+) curate as an
    // increment — narrow quality stages, batch-internal exact + near-dup
    // dedup, near-dup against the index (reference text never re-read),
    // survivors appended. Output is the attrition report; DuckDB replays
    // every stage relationally (the curation_report predicates + the
    // dedup_against_index cross-side all-pairs verify).
    "curation_increment" -> ((s, dir) => {
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
    }),

    // ---------------------------------------------------------------------
    // streaming operators through the batch gate: the bounded table becomes
    // an ordered file-source replay (StreamHarness), the streaming plan runs
    // to exhaustion into a parquet sink, and the sink is what the DuckDB
    // oracle checks — the formerly sbt-only streaming twins get the same
    // hash gate as every batch operator. Replay batches are keyed by the
    // per-dedup-key occurrence number (at most one row per state key per
    // micro-batch), which makes the stateful keep-first deterministic: the
    // kept row IS the smallest id, exactly what the oracle predicts.
    // ---------------------------------------------------------------------

    // P14b: watermarked streaming exact dedup over a planted-duplicate feed
    "streaming_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 7 === 0).select(
          (col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit("  ")).as("text")))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
      val occ = row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.text.TextFunctions.fingerprint64(col("text")))
          .orderBy(col("doc_id"))) - 1
      val nBatches = corpus.select(occ.as("o")).agg(max(col("o"))).head().getInt(0) + 1
      streamReplay(s, corpus, occ, nBatches)(st =>
        graft.streaming.StreamingDedup.dropDuplicateTextsWithinWatermark(
          st, col("text"), "ts", "30 days"))
        .select(col("doc_id"))
    }),

    // P48: the streaming curation pass (stateless filter stages + sampling,
    // watermarked keep-first dedup LAST); survivors hash-compared against
    // the DuckDB replication of the whole chain
    "streaming_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 7 === 0).select(
          (col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit("  ")).as("text")))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
      val occ = row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.text.TextFunctions.fingerprint64(col("text")))
          .orderBy(col("doc_id"))) - 1
      val nBatches = corpus.select(occ.as("o")).agg(max(col("o"))).head().getInt(0) + 1
      streamReplay(s, corpus, occ, nBatches)(st =>
        graft.streaming.StreamingCurate.curateStream(
          st, col("doc_id"), col("text"), "ts", "30 days",
          keepLangs = Set("en"),
          minTokens = 30, maxTokens = 90,
          minAvgTokenLen = 3.0, maxAvgTokenLen = 6.0,
          minStopwordRatio = 0.02, maxTopBigramFraction = 0.2,
          sampleRate = 0.25))
        .select(col("doc_id"))
    }),

    // P48b: windowed streaming quality report — append-mode windows are
    // finalized by a far-future flush row + the trailing no-data batch, so
    // the sink holds exactly the closed windows the oracle recomputes
    "streaming_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
        .withColumn("source", (col("doc_id") % 3).cast("string"))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val flush = docs.sparkSession.range(1).select(
        lit(-1L).as("doc_id"), lit("flush").as("text"),
        timestamp_seconds(lit(1100000000L)).as("ts"), lit("x").as("source"))
      val staged = docs.unionAll(flush)
      val batchC = when(col("doc_id") < 0, lit(2))
        .otherwise(least(floor(col("doc_id") * 2 / (maxId + 1)), lit(1))).cast("int")
      streamReplay(s, staged, batchC, 3, awaitNoDataBatch = true)(st =>
        graft.streaming.StreamingQuality.qualityByWindow(
          st, col("text"), "ts", "100 seconds", "0 seconds", col("source")))
        .filter(col("source") =!= "x")
        .select(unix_timestamp(col("window.start")).as("window_start"), col("source"),
          col("n_docs"), col("total_tokens"), col("stopword_ratio"),
          col("rep_bigram_fraction"))
    }),

    // P104: streaming distribution drift — vocab-bucketed windowed token
    // counts (state <= |vocab|+1 rows per open window BY CONSTRUCTION) +
    // the exact integer total-variation readout vs a fixed reference:
    // tv_scaled = sum |c_i*M - r_i*N| is exact BIGINT (the fixed-point
    // discipline), tv = tv_scaled/(2*N*M) the only IEEE step — DuckDB
    // replays tokenize -> bucket -> window counts -> TV bit-for-bit
    "streaming_drift" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val flush = docs.sparkSession.range(1).select(
        lit(-1L).as("doc_id"), lit("flush").as("text"),
        timestamp_seconds(lit(1100000000L)).as("ts"))
      val staged = docs.unionAll(flush)
      val batchC = when(col("doc_id") < 0, lit(2))
        .otherwise(least(floor(col("doc_id") * 2 / (maxId + 1)), lit(1))).cast("int")
      val vocab = Seq("the", "a", "of", "and", "to", "in", "is", "it")
      val counts = streamReplay(s, staged, batchC, 3, awaitNoDataBatch = true)(st =>
        graft.streaming.StreamingDrift.tokenCountsByWindow(
          st, col("text"), "ts", "100 seconds", "0 seconds", vocab))
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("token"), col("cnt"))
        .filter(col("window_start") < 1100000000L) // drop the flush window
      val ref = Seq(("the", 60L), ("a", 30L), ("of", 25L), ("and", 20L),
        ("to", 18L), ("in", 15L), ("is", 12L), ("it", 10L), ("<oov>", 310L))
        .toDF("token", "cnt")
      graft.streaming.StreamingDrift.totalVariationByWindow(
        counts, Seq("window_start"), ref)
    }),

    // P117 streaming lateness monitor: the live twin of watermark_plan —
    // lateness = ingest minus event time (stateless, exact integer micros)
    // aggregated per event-time window and candidate delay. Same planted
    // disorder as watermark_plan (id%10=k events shifted k*3 min early);
    // the 30-min watermark exceeds the max 27-min shift, so the engine
    // itself drops nothing and the report is exactly the static replay.
    "streaming_lateness" -> ((s, dir) => {
      val evRaw = t(s, dir, "events")
      val ev = evRaw.select(col("event_id"),
        timestamp_micros(eventTsUs(evRaw) -
          (col("event_id") % 10) * 180000000L).as("ets"),
        timestamp_micros(eventTsUs(evRaw)).as("its"))
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val flush = s.range(1).select(lit(-1L).as("event_id"),
        timestamp_micros(lit(1900000000000000L)).as("ets"),
        timestamp_micros(lit(1900000000000000L)).as("its"))
      val staged = ev.unionAll(flush)
      val batchC = when(col("event_id") < 0, lit(2))
        .otherwise(least(floor(col("event_id") * 2 / (maxId + 1)), lit(1))).cast("int")
      streamReplay(s, staged, batchC, 3, awaitNoDataBatch = true)(st =>
        graft.streaming.StreamingLateness.latenessByWindow(
          st, "ets", col("its"), "1 hour", "1800 seconds",
          Seq(0L, 300L, 900L)))
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("delay_s"), col("events"), col("dropped"), col("max_lateness_us"))
        .filter(col("window_start") < 1800000000L) // drop the flush window
    }),

    // P98: streaming windowed heavy hitters — bounded Misra-Gries state
    // per window, emitted on watermark close. The gate runs the EXACT
    // degenerate config (capacity >= the window's distinct keys, where the
    // summary IS the count table and batching provably cannot matter); the
    // bounded-capacity MG bounds are sbt-pinned in StreamingTopKSuite
    "streaming_heavy_hitters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source").as("key"))
        .withColumn("ts",
          timestamp_seconds(lit(1000000000L) + (col("doc_id") % 120)))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val flush = docs.sparkSession.range(1).select(
        lit(-1L).as("doc_id"), lit("zz").as("key"),
        timestamp_seconds(lit(1100000000L)).as("ts"))
      val staged = docs.unionAll(flush)
      val batchC = when(col("doc_id") < 0, lit(2))
        .otherwise(least(floor(col("doc_id") * 2 / (maxId + 1)), lit(1))).cast("int")
      streamReplay(s, staged, batchC, 3, awaitNoDataBatch = true)(st =>
        graft.streaming.StreamingTopK.topKeysPerWindow(
          st, col("key"), "ts", "1 minute", "0 seconds",
          k = 5, capacity = 64).toDF())
        .filter(col("key") =!= "zz")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("rank"), col("key"), col("est_count"))
    }),

    // P38: streaming MinHash near-dup candidates + the documented per-batch
    // exact-Jaccard verify; output = docs flagged as a verified near-dup of
    // an EARLIER doc (the streaming dedup decision)
    "streaming_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val batchC = least(floor(col("doc_id") * 2 / (maxId + 1)), lit(1)).cast("int")
      val cand = streamReplay(s, docs, batchC, 2)(st =>
        graft.streaming.StreamingNearDup.minHashCandidates(
          st, col("doc_id"), col("text"), "ts", "30 days").toDF())
        .select(col("firstDocId").as("idA"), col("docId").as("idB")).distinct()
      val sh = t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextFunctions.hashedTextShingles(col("text"), 3).as("sh"))
      cand
        .join(sh.select(col("doc_id").as("idA"), col("sh").as("shA")), "idA")
        .join(sh.select(col("doc_id").as("idB"), col("sh").as("shB")), "idB")
        .filter(graft.text.TextFunctions.jaccard(col("shA"), col("shB")) >= 0.8)
        .select(col("idB").as("doc_id")).distinct()
    }),

    // streaming containment: originals replay in batch 0, excerpts in batch
    // 1; candidates collide on winnowed prints against each print's first
    // owner, then exact containment verifies gate-side (same verify as the
    // batch gate) — flagged docs must equal the batch pairs' later members
    "streaming_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val toksSC = graft.text.TextFunctions.tokenize(
        col("text"), graft.text.TextFunctions.AsciiTokenPattern)
      val excerpts = t(s, dir, "documents").filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat_ws(" ", slice(toksSC, 3, 30)).as("text"))
      val corpus = docs.unionAll(excerpts)
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
      val batchC = when(col("doc_id") >= 100000L, 1).otherwise(0).cast("int")
      val cand = streamReplay(s, corpus, batchC, 2)(st =>
        graft.streaming.StreamingContainment.winnowCandidates(
          st, col("doc_id"), col("text"), "ts", "30 days").toDF())
        .select(col("firstDocId").as("idA"), col("docId").as("idB")).distinct()
      val sh = corpus.select(col("doc_id"),
        graft.text.TextFunctions.hashedTextShingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) >= 10)
      cand
        .join(sh.select(col("doc_id").as("idA"), col("sh").as("shA")), "idA")
        .join(sh.select(col("doc_id").as("idB"), col("sh").as("shB")), "idB")
        .filter(size(array_intersect(col("shA"), col("shB"))).cast("double") /
          least(size(col("shA")), size(col("shB"))).cast("double") >= 0.5)
        .select(col("idB").as("doc_id")).distinct()
    }),

    // P38c: streaming near-dup SEEDED from a batch corpus (initialState):
    // the lower-id half of documents is the "curated 100 TB corpus" — its
    // bucket-first table is computed batch-side and never replayed; the
    // upper half streams in 2 batches and collides against the seeded
    // state from micro-batch 0. Same verify + DATA ASSUMPTION as
    // streaming_neardup (see the oracle comment there)
    "streaming_corpus_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val mid = maxId / 2
      val corpus = docs.filter(col("doc_id") <= mid)
      val feed = docs.filter(col("doc_id") > mid)
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
      val seed = graft.streaming.StreamingNearDup.corpusBucketFirst(
        corpus, col("doc_id"), col("text"))
      val batchC = least(
        floor((col("doc_id") - mid - 1) * 2 / (maxId - mid)), lit(1)).cast("int")
      val cand = streamReplay(s, feed, batchC, 2)(st =>
        graft.streaming.StreamingNearDup.minHashCandidatesSeeded(
          st, col("doc_id"), col("text"), "ts", "30 days", seed).toDF())
        .select(col("firstDocId").as("idA"), col("docId").as("idB")).distinct()
      val sh = docs.select(col("doc_id"),
        graft.text.TextFunctions.hashedTextShingles(col("text"), 3).as("sh"))
      cand
        .join(sh.select(col("doc_id").as("idA"), col("sh").as("shA")), "idA")
        .join(sh.select(col("doc_id").as("idB"), col("sh").as("shB")), "idB")
        .filter(graft.text.TextFunctions.jaccard(col("shA"), col("shB")) >= 0.8)
        .select(col("idB").as("doc_id")).distinct()
    }),

    // streaming per-domain admission cap: the url fixture replays in
    // event-time order (ts = base + url_id), each registrable domain
    // admits its first 5 arrivals — rank and keep-set must equal the
    // batch row_number replay in DuckDB
    "streaming_domain_cap" -> ((s, dir) => {
      val urls = s.read.parquet(s"$goldenDir/urls_sf001.parquet")
        .select(col("url_id"), col("url"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("url_id")))
      val maxId = urls.agg(max(col("url_id"))).head().getLong(0)
      // hazard fixtures carry NEGATIVE url_ids — clamp them into batch 0
      val batchC = greatest(
        least(floor(col("url_id") * 2 / (maxId + 1)), lit(1)), lit(0)).cast("int")
      streamReplay(s, urls, batchC, 2)(st =>
        graft.streaming.StreamingDomainCap.capPerDomain(
          st, col("url_id"), col("url"), maxPerDomain = 5,
          "ts", "30 days", stateRetentionMs = 365L * 24 * 3600 * 1000).toDF())
        .select(col("docId").as("url_id"), col("rank"))
    }),

    // P38b: streaming embedding near-dup over a planted scaled-duplicate
    // feed; cosine verified INSIDE the state function, so the output needs
    // no further check — per doc, the smallest earlier near-partner
    "streaming_embedding_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val corpus = emb.unionAll(
        emb.select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("vec_id")))
      val maxId = corpus.agg(max(col("vec_id"))).head().getLong(0)
      val batchC = least(floor(col("vec_id") * 2 / (maxId + 1)), lit(1)).cast("int")
      streamReplay(s, corpus, batchC, 2)(st =>
        graft.streaming.StreamingEmbeddingNearDup.embeddingCandidates(
          st, col("vec_id"), col("embedding"), "ts", "30 days",
          dim = 64, threshold = 0.9).toDF())
        .groupBy(col("docId"))
        .agg(min(col("firstDocId")).as("first_doc_id"))
        .select(col("docId").as("doc_id"), col("first_doc_id"))
    }),

    // per-group top-k via the window-group-limit plan: map-side partial
    // top-k before the shuffle (WindowGroupLimit Partial/Final), no full
    // per-group sort — plan shape pinned in AggOpsSuite
    "group_topk" -> ((s, dir) =>
      graft.agg.TopK.topKPerGroup(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        k = 3, rankColumn = "rk")),

    // exact heavy hitters with a bounded shuffle: Misra-Gries candidate
    // sketch (<= capacity entries per partition shuffled) + broadcast
    // semi-join exact recount — output counts are exact
    "frequent_items" -> ((s, dir) =>
      graft.agg.FrequentItems.frequentItems(
        t(s, dir, "orders"), col("o_custkey"), minSupport = 0.001, capacity = 2048)),

    // mergeable-sketch distinct counting kept honest: exact per-group
    // distinct + DataSketches HLL estimate within 5% as a boolean gate
    "hll_distinct" -> ((s, dir) =>
      graft.agg.Profile.distinctCountGate(
        t(s, dir, "lineitem"), col("l_returnflag"), col("l_partkey"), tolerance = 0.05)),

    // incremental distinct counting: sketch two disjoint snapshot halves
    // INDEPENDENTLY (the per-day persist), merge the sketch tables, and
    // gate the merged estimate against the exact whole-corpus distinct —
    // proving merge(sketch(A), sketch(B)) answers for A ∪ B with no rescan
    "hll_merge_gate" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = graft.agg.Profile.hllSketches(
        li.filter(col("l_orderkey") % 2 === 0), col("l_returnflag"), col("l_partkey"))
      val b = graft.agg.Profile.hllSketches(
        li.filter(col("l_orderkey") % 2 === 1), col("l_returnflag"), col("l_partkey"))
      val merged = graft.agg.Profile.mergeHllSketches(
        a.unionByName(b), col("l_returnflag"), col("sketch"))
      val exact = li.select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(col("l_partkey")).as("exact_distinct"))
      exact.join(merged, "l_returnflag")
        .select(col("l_returnflag"), col("exact_distinct"),
          (abs(col("distinct_estimate") - col("exact_distinct")).cast("double") /
            col("exact_distinct").cast("double") <= 0.05).as("merge_ok"))
    }),

    // mergeable rank-sketch quantiles kept honest: approx_percentile vs the
    // exact discrete quantile (value at floor(q*(n-1))+1 in sort order —
    // explicit definition, bit-identical in both engines). The value stays
    // the source column's own DOUBLE: a DECIMAL(18,2) cast renders
    // "52833.80" from Spark parquet but 52833.8 from DuckDB — same number,
    // different text, hash mismatch (the round-5 gate failure).
    "quantile_gate" -> ((s, dir) =>
      graft.agg.Profile.quantileGate(
        t(s, dir, "lineitem"), col("l_returnflag"),
        col("l_extendedprice"), q = 0.5,
        accuracy = 10000, tolerance = 0.01)),

    // TF-IDF distinctive terms per source: exact integer scoring
    // (tf * floor_log2(N/df), no libm), map-side-combined counts, top-k as
    // a WindowGroupLimit rank filter
    "tfidf_terms" -> ((s, dir) =>
      graft.text.CorpusStats.tfidfTerms(
        t(s, dir, "documents"), col("source"), col("text"), k = 5)
        .withColumnRenamed("group_key", "source")),

    // hashing-trick linear classifier inference (fasttext-shaped quality
    // filter): integer weights -> exact BIGINT logit from one fused kernel
    // pass; the weight table is the same generated literal in both engines
    "classifier_score" -> ((s, dir) =>
      graft.text.Classifier.score(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("text"), classifierGateWeights)
        .select(col("doc_id"), col("logit"), col("keep"))),

    // DSIR importance resampling (Xie et al. 2023): fit integer bits-ratio
    // weights over the hashed feature buckets (target = English docs, raw =
    // whole corpus), then select the most target-like docs with the same
    // fused kernel classifier_score uses. Every number is an exact integer
    // (md5 bucketing + floor-log2 bits), so DuckDB replays the whole fit.
    "dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Dsir.weightTable(
        docs.filter(col("lang") === "en"), docs, col("text"), col("text"))
    }),

    "dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = graft.text.Dsir.fitWeights(
        docs.filter(col("lang") === "en"), docs, col("text"), col("text"))
      graft.text.Dsir.selectTop(docs, col("doc_id"), col("text"), w, n = 100)
        .select(col("doc_id"), col("dsir_score"))
    }),

    // vocabulary coverage / OOV report: corpus top-100 tokens by occurrence
    // (deterministic tie-break), then per-doc occurrence coverage from one
    // fused broadcast-probe kernel pass — DuckDB replays the fit and joins
    // on the token STRINGS (hash collisions are 2^-64)
    "vocab_top_tokens" -> ((s, dir) =>
      graft.text.Vocab.topTokens(t(s, dir, "documents"), col("text"), n = 100)),

    "vocab_coverage" -> ((s, dir) =>
      graft.text.Vocab.selfCoverageReport(
        t(s, dir, "documents"), col("doc_id"), col("text"), vocabSize = 100)
        .withColumnRenamed("id", "doc_id")),

    // repeated-span detection/removal (substring-level dedup at token
    // granularity): duplicate decision on the md5-prefix window hash both
    // engines compute byte-identically; coverage = per-doc interval union
    "repeated_spans" -> ((s, dir) =>
      graft.text.SpanDedup.repeatedSpanStats(
        t(s, dir, "documents"), col("doc_id"), col("text"), k = 3)),

    "remove_repeated_spans" -> ((s, dir) =>
      graft.text.SpanDedup.removeRepeatedSpans(
        t(s, dir, "documents"), col("doc_id"), col("text"), k = 3)),

    // the keep-one rule (P50b, Lee et al. 2021 suffix-array dedup): the
    // smallest-(doc_id, pos) occurrence of each duplicated window survives;
    // the oracle exempts the same canonical copy via the identical
    // (doc_id, pos) rank window over the shared md5-prefix hash
    "remove_repeated_spans_keepfirst" -> ((s, dir) =>
      graft.text.SpanDedup.removeRepeatedSpans(
        t(s, dir, "documents"), col("doc_id"), col("text"), k = 3,
        keepFirst = true)),

    // BM25 sparse retrieval (k1=1.2, b=0.75): bit-length idf + exact
    // fixed-point saturation term, so the scores hash-match the DuckDB
    // replication term for term. The fourth query carries a term absent
    // from the corpus (contributes nothing — pins df=0 handling).
    "bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0L, Seq("hash", "table", "scan")),
        (1L, Seq("merge", "sort")),
        (2L, Seq("window", "batch", "slow")),
        (3L, Seq("spark", "value", "zzzunseen"))).toDF("query_id", "terms")
      graft.text.Bm25.topK(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        queries, col("query_id"), col("terms"), k = 10)
    }),

    // hard-negative mining (the dense-retriever training-data op): BM25
    // top-(k*factor) candidates minus known positives, re-ranked 1..k per
    // query. Positives mix docs that rank (must vanish) and ones that
    // don't (no effect); the bounded re-rank window sees k*factor rows max.
    "hard_negatives" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0L, Seq("hash", "table", "scan")),
        (1L, Seq("merge", "sort")),
        (2L, Seq("window", "batch", "slow")),
        (3L, Seq("spark", "value", "zzzunseen"))).toDF("query_id", "terms")
      val positives = Seq((0L, 3L), (0L, 17L), (1L, 5L), (2L, 999999L))
        .toDF("query_id", "doc_id")
      graft.search.Mining.mineHardNegatives(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        queries, col("query_id"), col("terms"),
        positives, col("query_id"), col("doc_id"), k = 5, candidateFactor = 2)
    }),

    // P111 margin-based aligned-pair mining (the bitext-mining criterion):
    // embeddings split by vec_id parity into two corpora, NN4 both
    // directions over the int8 tier (exact integer dots — cos8 is a double
    // computed from exact ints, bit-portable where float32 cosine is not),
    // neighborhood mass summed in fixed point (floor(cos*2^20) longs),
    // margin = one IEEE division of exact ints, mutual-best + threshold.
    // The oracle replays the ENTIRE algebra relationally — quantization,
    // dots, margins — bit-identical, ties and threshold included. (The
    // float-cosine path, mineAlignedPairs, is pinned against this int8
    // referee in MiningSuite; ids never collide across the parity split,
    // so the int8 tier's self-exclusion is a no-op here.)
    "mined_pairs" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val left = emb.filter(col("vec_id") % 2 === 0)
      val right = emb.filter(col("vec_id") % 2 === 1)
      def nn(q: DataFrame, c: DataFrame) =
        graft.ann.Ann.int8BruteForceTopK(q, c,
          col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 4)
          .withColumnRenamed("cosine_q8", "cosine")
      graft.search.Mining.alignedPairsFromNeighbors(
        nn(left, right), nn(right, left), k = 4, minMargin = 1.0)
    }),

    // count-min sketch over the token stream (depth 4 x width 1024,
    // md5-bucketed = engine-portable): ONE 32 KB mergeable buffer per task
    // instead of a corpus-sized groupBy, then point queries against the
    // broadcast one-row sketch. The oracle replays the ENTIRE sketch —
    // counters, collisions and all — so estimates match bit-for-bit; the
    // one-sided (estimate >= exact) guarantee is pinned in CountMinSuite.
    "cms_token_counts" -> ((s, dir) => {
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
    }),

    // hybrid retrieval: the BM25 lexical top-10 fused with the exact-cosine
    // vector top-10 (doc_id == vec_id in the fixture) by reciprocal-rank
    // fusion — exact integer contributions, BIGINT sums, fully replayable
    // in SQL. Queries 0-3 carry both a term list and their own embedding.
    "hybrid_topk" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0L, Seq("hash", "table", "scan")),
        (1L, Seq("merge", "sort")),
        (2L, Seq("window", "batch", "slow")),
        (3L, Seq("spark", "value", "zzzunseen"))).toDF("query_id", "terms")
      val lexical = graft.text.Bm25.topK(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        queries, col("query_id"), col("terms"), k = 10)
      val emb = t(s, dir, "embeddings")
      val vector = graft.ann.Ann.bruteForceTopK(
        emb.filter(col("vec_id") < 4), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.search.Retrieval.rrfFuse(Seq(lexical, vector), k = 10)
    }),

    // one-pass column profile (rows/nulls/distinct/min/max per column);
    // value columns pre-cast so the text rendering is engine-portable
    // data-quality expectations: the contract gate before publishing a
    // snapshot — scalar rules share ONE aggregate pass; each unique rule is
    // one single-distinct aggregate (no Expand)
    "quality_checks" -> ((s, dir) => {
      import graft.agg.Checks.Check._
      graft.agg.Checks.run(t(s, dir, "orders"), Seq(
        NotNull("o_orderkey"),
        Unique("o_orderkey"),
        NotNull("o_custkey"),
        InRange("o_custkey", 1, 1e9),
        MatchesRegex("o_orderstatus", "^[FOP]$"),
        MinRows(100)))
    }),

    // P124 chat-transcript audit: per-conversation turn parse + the strict
    // SFT alternation contract (leading system only, user/assistant
    // alternation, no invalid lines). Transcripts built deterministically
    // from documents with planted violations: %13 double-user, %17 a line
    // with no role prefix.
    "chat_turns" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Chat.chatStats(
        docs, col("doc_id"), chatTranscript(col("doc_id"), col("text")))
    }),

    // P124b context-window trimming: keep the LAST turns fitting a token
    // budget, never splitting a turn, leading system turn always pinned
    // (its tokens charge the budget first). One framed window per
    // conversation; kept = suffix_sum <= remaining budget.
    "chat_truncate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Chat.truncateToBudget(
        docs, col("doc_id"), chatTranscript(col("doc_id"), col("text")), budget = 16L)
    }),

    // P124c MESSAGES-format chat audit: real SFT corpora ship JSON
    // {"messages": [...]} documents whose content embeds newlines — the
    // permissive from_json parse feeds the SAME stats algebra, with
    // malformed/empty/missing-messages rows quarantined as one invalid
    // turn each (never dropped). Oracle: DuckDB builds the same fixture
    // with ITS to_json and genuinely re-parses via json_extract.
    "chat_messages" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Chat.chatStatsMessages(
        docs, col("doc_id"), chatMessagesJson(col("doc_id"), col("text")))
    }),

    // P124d the trim twin over the MESSAGES format — same framed-window
    // keep-last algebra, newline-bearing contents counted correctly.
    "chat_messages_truncate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Chat.truncateMessagesToBudget(
        docs, col("doc_id"), chatMessagesJson(col("doc_id"), col("text")),
        budget = 16L)
    }),

    // P124f trim reassembly, LINE format: the trim APPLIED — kept turns
    // re-joined `role: content` in order, the artifact a trainer consumes.
    // Exact string compare against DuckDB's ordered string_agg replay.
    "chat_rebuilt" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Chat.rebuildTranscript(
        docs, col("doc_id"), chatTranscript(col("doc_id"), col("text")),
        budget = 16L)
    }),

    // P124g trim reassembly, MESSAGES format: kept turns re-serialized as
    // a {"messages": [...]} document. Cross-engine JSON-string equality
    // is escaping-fragile, so the gate proves the stronger property
    // instead: the rebuilt JSON RE-PARSES (round-trip through the same
    // permissive parse) to exactly the kept turns, newlines included —
    // compared against the oracle's re-indexed kept-turn table.
    "chat_messages_rebuilt" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val rebuilt = graft.text.Chat.rebuildMessages(
        docs, col("doc_id"), chatMessagesJson(col("doc_id"), col("text")),
        budget = 16L)
      graft.text.Chat.explodeMessages(rebuilt, col("id"), col("messages_json"))
    }),

    // P124i chat template rendering + the P63g codec, end to end: the SFT
    // prep chain — transcript → `<|role|>content<|end|>` render →
    // special-aware encode (every control token ONE reserved id) →
    // decode must reproduce the render byte-for-byte, and the reserved-id
    // count must be exactly 2 per turn (contents are '<|'-scrubbed in
    // BOTH engines so no natural text can alias a marker).
    "chat_sft_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val sp = graft.text.Chat.templateSpecials()
      val base = graft.text.ByteBpe.vocabSize(model)
      val scrubbed = regexp_replace(coalesce(col("text"), lit("")),
        "<\\|", "")
      val rendered = graft.text.Chat.renderTemplate(
        chatTranscript(col("doc_id"), scrubbed))
      val ids = graft.text.ByteBpe.encodeIds(rendered, model, sp)
      docs.select(col("doc_id"),
        graft.text.ByteBpe.decodeIds(ids, model, sp).as("decoded"),
        size(filter(ids, i => i >= base)).cast("long").as("n_special"))
    }),

    // P124j configurable chat templates: the same render → special-encode
    // → decode chain under a SECOND per-model spec (ChatML-style
    // `<|im_start|>role\n` openers, `<|im_end|>\n` closer, `<|endoftext|>`
    // EOS) with the injection scrub built into the template
    // (scrubContents strips `<+|+` runs from contents — the safe
    // composition is one call, no caller discipline). Specials derive
    // FROM the spec, so renderer and reserved-id space cannot drift.
    // n_special = 2 per turn + 1 EOS.
    "chat_sft_roundtrip_chatml" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val tpl = graft.text.Chat.ChatTemplate.ChatMl
      val sp = tpl.specials
      val base = graft.text.ByteBpe.vocabSize(model)
      val rendered = graft.text.Chat.renderTemplate(
        chatTranscript(col("doc_id"), coalesce(col("text"), lit(""))), tpl)
      val ids = graft.text.ByteBpe.encodeIds(rendered, model, sp)
      docs.select(col("doc_id"),
        graft.text.ByteBpe.decodeIds(ids, model, sp).as("decoded"),
        size(filter(ids, i => i >= base)).cast("long").as("n_special"))
    }),

    // P132 fill-in-the-middle: the infilling pretraining transform — a
    // deterministic md5-threshold fraction of docs re-renders in PSM
    // order <|fim_pre|>P<|fim_suf|>S<|fim_mid|>M with md5-mod cut points
    // in character units; no RNG anywhere, so the oracle replays the
    // WHOLE transform verbatim (same hashes, same mod, same substr
    // algebra) and compares the output string exactly.
    "fim_transform" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.select(col("doc_id"),
        graft.text.Fim.fimTransform(col("text"), col("doc_id"), 0.5)
          .as("fim_text"),
        graft.text.Fim.applied(col("doc_id"), 0.5).as("applied"))
    }),

    // P124k SFT loss mask: the per-token trainability column between the
    // render→encode chain and the trainer — mask 1 exactly on assistant
    // CONTENT tokens + the end marker closing an assistant turn.
    // The gate proves the strongest property: the trainable subset of
    // ids DECODES to exactly the assistant turns' contents + '<|end|>'
    // closers in turn order (segments between specials encode
    // independently, so the mask cutting at markers is byte-exact), and
    // the only reserved ids inside the mask are the assistant-turn end
    // markers (n_train_special == assistant turn count, SQL-replayable).
    "chat_loss_mask" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val sp = graft.text.Chat.templateSpecials()
      val base = graft.text.ByteBpe.vocabSize(model)
      val scrubbed = regexp_replace(coalesce(col("text"), lit("")),
        "<\\|", "")
      val rendered = graft.text.Chat.renderTemplate(
        chatTranscript(col("doc_id"), scrubbed))
      val ids = graft.text.ByteBpe.encodeIds(rendered, model, sp)
      val mask = graft.text.Chat.sftLossMask(ids, base)
      val trained = filter(
        zip_with(ids, mask, (i, m) => when(m === 1, i)), x => x.isNotNull)
      docs.select(col("doc_id"),
        graft.text.ByteBpe.decodeIds(trained, model, sp).as("trained_text"),
        size(filter(trained, i => i >= base)).cast("long").as("n_train_special"),
        (size(mask) === size(ids)).as("mask_aligned"))
    }),

    // P124l the SFT shard shape, end to end: render → special-encode →
    // loss mask → ALIGNED pack (ids and mask fused as one int stream, so
    // drift is structurally impossible) → unpack → BOTH decodes must
    // survive the trip: the full id stream reproduces the render, and
    // the masked subset reproduces exactly the assistant contents +
    // closers. This is the artifact a chat trainer actually consumes —
    // sequences with their trainability bits.
    "chat_mask_pack" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val sp = graft.text.Chat.templateSpecials()
      val base = graft.text.ByteBpe.vocabSize(model)
      val scrubbed = regexp_replace(coalesce(col("text"), lit("")),
        "<\\|", "")
      val rendered = graft.text.Chat.renderTemplate(
        chatTranscript(col("doc_id"), scrubbed))
      // render + encode ONCE into a materialized column: the mask is a
      // function of the SAME id stream (inline, the kernel would run once
      // for ids and again inside the mask expression), and the pack's
      // range-sort sampler re-evaluates its input
      val encDocs = docs.select(col("doc_id"),
        graft.text.ByteBpe.encodeIds(rendered, model, sp).as("__ids"))
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
    }),

    // P124h conversation-level near-dup: the SFT-corpus dedup pass — the
    // fingerprint is the content-only canonical form (roles and turn
    // scaffolding excluded), so the planted role-scrambled re-wraps
    // (doc_id%7, every `assistant:` relabeled `user:`) land at jaccard
    // 1.0 with their originals. MinHash+LSH candidates + exact verify;
    // oracle = exact all-pairs Jaccard over the content the parse must
    // recover.
    "chat_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(length(coalesce(col("text"), lit(""))) >= 60)
      val a = docs.select(col("doc_id"),
        chatTranscript(col("doc_id"), col("text")).as("tr"))
      val b = a.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("tr"), "(?m)^assistant: ", "user: ").as("tr"))
      graft.text.Chat.conversationNearDupPairs(
        a.unionAll(b), col("doc_id"), col("tr"), threshold = 0.8)
    }),

    // P124e token-accurate context trimming: the same keep-last algebra,
    // but n_tokens comes from a TRAINED byte-level BPE model (P63b) over
    // each turn's content — the kept set is exact in the units a real
    // model charges, not whitespace pieces. Oracle: golden per-turn
    // counts from the independent python replication of transcript
    // build + parse + byte-BPE, with the trim window replayed in SQL.
    "chat_truncate_bpe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.text.ByteBpe.train(docs, col("text"), numMerges = 80)
      graft.text.Chat.truncateToBudgetCounted(
        docs, col("doc_id"), chatTranscript(col("doc_id"), col("text")),
        budget = 24L, graft.text.ByteBpe.tokenCount(_, model))
    }),

    // P123 referential-integrity audit: orphan fact rows against each
    // dimension via one column-pruned anti join per rule (the reference is
    // never collected). Third rule plants violations: odd orderkeys
    // vanish from the parent, so their lineitems orphan.
    "integrity_checks" -> ((s, dir) => {
      import graft.agg.Checks.Check._
      graft.agg.Checks.run(t(s, dir, "lineitem"), Seq(
        ForeignKey("l_orderkey", t(s, dir, "orders"), "o_orderkey"),
        ForeignKey("l_suppkey", t(s, dir, "supplier"), "s_suppkey"),
        ForeignKey("l_orderkey",
          t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0), "o_orderkey")))
    }),

    // key-skew pre-flight: the heaviest join/agg keys with their share of
    // the table — the report you run before committing a 100 TB shuffle key
    "skew_report" -> ((s, dir) =>
      graft.agg.Skew.keySkewReport(
        t(s, dir, "events"), col("user_id"), k = 10)),

    "profile_orders" -> ((s, dir) =>
      graft.agg.Profile.profileColumns(
        t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("o_totalprice"),
          col("o_orderdate").cast("date").as("o_orderdate")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"))),

    // quantized bigram-LM scoring (perplexity filter, integer bits): exact
    // BIGINT sums + one division — engine-portable, fully oracle-checked
    "lm_score_bits" -> ((s, dir) =>
      graft.text.LanguageModel.scoreBits(
        t(s, dir, "documents"), "doc_id", col("text"))),

    // compression-ratio boilerplate signal: DEFLATE length kernel next to
    // the scan; ratio is one division of two exact ints. Oracle: DuckDB has
    // no deflate, so expected lengths come from the python-zlib golden
    // fixture (byte-identical stream to the JVM Deflater — same zlib).
    "compression_signal" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), octet_length(col("text")).as("raw_bytes"),
          graft.functions.compression.deflate_length(col("text")).as("deflate_bytes"))
      d.select(col("doc_id"), col("raw_bytes"), col("deflate_bytes"),
        when(col("deflate_bytes") === 0, lit(0.0))
          .otherwise(col("raw_bytes").cast("double") / col("deflate_bytes").cast("double"))
          .as("compression_ratio"))
    }),

    // fuzzy entity-resolution join: all customer-name pairs within edit
    // distance 1 via deletion-neighborhood blocking (FastSS) — hash join on
    // short signatures + exact levenshtein verify, never a cross join
    "fuzzy_pairs" -> ((s, dir) =>
      graft.join.FuzzyJoin.editDistance1Pairs(
        t(s, dir, "customer"), col("c_custkey"), col("c_name"))),

    // P122 record linkage: soundex-blocked candidates verified with exact
    // fixed-point Jaro-Winkler (floor(jw * 2^20), pure integer algebra).
    // The fixture carries the input names AND the expected pairs, both
    // produced by the independent python replication of the full
    // block-join + greedy-Jaro spec (tools/make_golden.py).
    "record_linkage" -> ((s, dir) => {
      val inp = s.read.parquet(s"$goldenDir/linkage_input_sf001.parquet")
      graft.join.Linkage.linkRecords(
        inp.filter(col("side") === "L"), inp.filter(col("side") === "R"),
        col("rec_id"), col("name"), col("rec_id"), col("name"))
    }),

    // sequence packing: where each doc lands in the fixed-capacity token
    // stream — global prefix sum via the three-phase plan (no
    // single-partition window), seq id/offset by integer division
    "pack_sequences" -> ((s, dir) => {
      import graft.text.TextFunctions._
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", tokenStatsAscii(col("text"), EnglishStopwords)(0))
      graft.text.Packing.packSequences(docs, col("n_tokens"), Seq(col("doc_id")), 256)
        .select(col("doc_id"), col("n_tokens"), col("seq_id"), col("seq_offset"))
    }),

    // P37b the shard writer: concatenated token-ID streams + separators cut
    // into capacity-id training rows. Oracle: the whole boundary algebra
    // (per-seq id count, docs touching, docs ENDING = separators) derived
    // in SQL from the independently-replicated golden token counts — any
    // off-by-one in start/slice arithmetic breaks a cell.
    "pack_token_ids" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val sep = graft.text.ByteBpe.vocabSize(model)
      // encode ONCE into a materialized column: the pack's range sort
      // samples its input before shuffling it, so an inline encode
      // expression runs the BPE kernel over the corpus twice
      val encDocs = docs.select(col("doc_id"),
        graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model)
          .as("__ids")).localCheckpoint(true)
      graft.text.Packing.packTokenIds(encDocs, col("__ids"),
          Seq(col("doc_id")), capacity = 512, sepId = sep)
        .select(col("seq_id"), size(col("ids")).cast("long").as("n_ids"),
          col("n_docs"),
          size(filter(col("ids"), i => i === sep)).cast("long").as("n_seps"))
    }),

    // P37g per-sequence document-boundary metadata — the varlen-attention
    // side table (cu_seqlens lineage): offsets where a document BEGINS in
    // each sequence, derived from the packed ids alone (position after
    // each separator; position 0 via the previous sequence's last id).
    // Oracle: every document's start is its golden-counts running sum —
    // seq s DIV 512, offset s % 512 — so any drift in the derivation
    // (trailing separator, empty docs, boundary-straddle) breaks rows.
    "pack_doc_starts" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val sep = graft.text.ByteBpe.vocabSize(model)
      // encode once (the sort sampler re-evaluates inline expressions) and
      // materialize the pack once (docBoundaries self-joins it on seq_id-1)
      val encDocs = docs.select(col("doc_id"),
        graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model)
          .as("__ids")).localCheckpoint(true)
      val packed = graft.text.Packing.packTokenIds(encDocs, col("__ids"),
        Seq(col("doc_id")), capacity = 512, sepId = sep)
        .localCheckpoint(true)
      graft.text.Packing.docBoundaries(packed, sep)
        .select(col("seq_id"), explode(col("doc_starts")).as("start_pos"))
        .select(col("seq_id"), col("start_pos").cast("long").as("start_pos"))
    }),

    // P37i per-sequence token provenance: the mixture accounting per
    // shard ("how many ids of sequence s come from source x"), computed
    // from counts alone — no ids materialize. Oracle: the same span
    // algebra as pack_token_ids derived from the golden token counts,
    // grouped by (seq, doc_id % 3); the per-seq provenance must also sum
    // back to pack_token_ids' n_ids, so the two gates cross-check.
    "pack_provenance" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      graft.text.Packing.tokenProvenance(docs,
        graft.text.ByteBpe.tokenCount(coalesce(col("text"), lit("")), model),
        Seq(col("doc_id")), capacity = 512,
        source = (col("doc_id") % 3).cast("long"))
    }),

    // P37h no-split bin packing (histogram best-fit, SPFHP lineage): every
    // document lands WHOLE in one fixed-capacity bin — padding-free
    // batches withOUT cross-document attention (contrast P37b's stream
    // cut). The ≤capacity-row histogram solve runs on the driver; the
    // oracle is a committed fixture from the independent python
    // replication of the exact deterministic spec (tools/make_golden.py
    // make_binpack_fixture) over the same golden token counts — any
    // divergence in fit/tie/open/split rules breaks rows.
    "bin_pack_assign" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      graft.text.BinPack.packBins(docs,
          graft.text.ByteBpe.tokenCount(coalesce(col("text"), lit("")), model),
          Seq(col("doc_id")), capacity = 512)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("bin_id").cast("long").as("bin_id"),
          col("slot").cast("long").as("slot"))
    }),

    // P37h the materialized no-split artifact round-trip — fixture-free:
    // re-split every bin at its doc_starts, decode each block, and every
    // document must come back byte-for-byte (doc identity recovered by
    // joining the deterministic assignment on (bin, slot)). Any error in
    // slot ordering, doc_starts arithmetic, or concatenation breaks rows.
    "bin_pack_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
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
    }),

    // P37h the layout report: exact-integer bins/docs/tokens/capacity and
    // the ceil(total/capacity) lower bound — the oracle re-derives all
    // five from the fixture, so bins-used must match the replication's
    // count exactly (102 bins over 500 docs at 99.2% fill at sf0.01)
    "bin_pack_report" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val assigned = graft.text.BinPack.packBins(docs,
        graft.text.ByteBpe.tokenCount(coalesce(col("text"), lit("")), model),
        Seq(col("doc_id")), capacity = 512)
      graft.text.BinPack.binPackReport(assigned, 512)
    }),

    // P37c the full content round-trip — pack → unpack → decode must give
    // every document back byte-for-byte (the strongest possible shard-QA
    // gate: zero fixtures, zero replication; doc_idx joins back to doc_id
    // through the repo's own three-phase global row number)
    "pack_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val sep = graft.text.ByteBpe.vocabSize(model)
      // the unpack consumes the pack twice (separator census + segment
      // explode) — materialize the packed table once, as a disk-backed
      // artifact would be, instead of re-running the pack per consumer
      val encDocs = docs.select(col("doc_id"),
        graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model)
          .as("__ids")).localCheckpoint(true)
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
    }),

    // P37c persisted training shards — the one-call artifact loop a
    // trainer consumes: saveShards (pack → sized seq_id-range-clustered
    // parquet + P92 manifest + bundled tokenizer artifact + params-last)
    // → verifyShards (manifest + dense/sized structure) must say all_ok
    // → unpackShards → decode with the tokenizer LOADED FROM THE
    // DIRECTORY == the raw documents byte-for-byte. sepId is the
    // tokenizer's own <|endoftext|> reserved id — the composition a real
    // stack ships. The tiny targetFileBytes deliberately trips the
    // sizing rewrite so the resize path is gate-covered.
    "shards_write_readback" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val tok = graft.text.TokenizerArtifact.Tokenizer(
        model, Seq("<|endoftext|>"))
      val sep = graft.text.ByteBpe.vocabSize(model) // <|endoftext|>'s reserved id
      val shardDir = graft.createTemporaryDir("shards")
      val encDocs = docs.select(col("doc_id"),
        graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model)
          .as("__ids")).localCheckpoint(true)
      graft.text.Shards.saveShards(encDocs, col("__ids"),
        Seq(col("doc_id")), capacity = 512, sepId = sep, dir = shardDir,
        tokenizer = Some(tok), targetFileBytes = 64L * 1024)
      val loaded = graft.text.Shards.loadShards(s, shardDir)
      val verify = graft.text.Shards.verifyShards(s, shardDir, loaded)
      val unpacked = graft.text.Shards.unpackShards(loaded, 1L << 22)
      val mapping = graft.agg.PrefixSum.withRunningTotal(
        docs.select(col("doc_id")), lit(1L), Seq(col("doc_id")), "doc_idx")
      mapping.join(unpacked, Seq("doc_idx"), "left_outer")
        .select(col("doc_id"),
          loaded.tokenizer.get.decodeIds(
            coalesce(col("ids"), array().cast("array<int>"))).as("decoded"))
        .crossJoin(broadcast(verify.select(col("all_ok"))))
    }),

    // P37d incremental shard append — the daily-ingest loop: save the
    // first half, append the second at startOffset = total_ids, and the
    // artifact must be CONTENT-IDENTICAL to a one-shot pack over the
    // whole corpus (order-insensitive bit_xor content hash, asserted
    // in-plan as append_equals_oneshot), with the old partial tail
    // sequence rewritten under the crash-safe swap and verifyShards
    // still all_ok. Round-trip: unpack + decode == the raw table.
    "shards_append_readback" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val tok = graft.text.TokenizerArtifact.Tokenizer(
        model, Seq("<|endoftext|>"))
      val sep = graft.text.ByteBpe.vocabSize(model)
      // encode the corpus ONCE: the ids feed the save, the append, and the
      // one-shot comparison pack — six kernel passes as an inline expression
      val encDocs = docs.select(col("doc_id"),
        graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model)
          .as("__ids")).localCheckpoint(true)
      val ids = col("__ids")
      val shardDir = graft.createTemporaryDir("shards-append")
      graft.text.Shards.saveShards(encDocs.filter(col("doc_id") < 250), ids,
        Seq(col("doc_id")), capacity = 512, sepId = sep, dir = shardDir,
        tokenizer = Some(tok))
      graft.text.Shards.appendShards(encDocs.filter(col("doc_id") >= 250), ids,
        Seq(col("doc_id")), shardDir)
      val loaded = graft.text.Shards.loadShards(s, shardDir)
      val verify = graft.text.Shards.verifyShards(s, shardDir, loaded)
      def contentHash(df: org.apache.spark.sql.DataFrame) =
        df.agg(bit_xor(xxhash64(col("seq_id"), col("ids"), col("n_docs")))
          .as("h"))
      val oneShot = graft.text.Packing.packTokenIds(encDocs, ids,
        Seq(col("doc_id")), capacity = 512, sepId = sep)
      val hEq = contentHash(loaded.data)
        .crossJoin(contentHash(oneShot).withColumnRenamed("h", "h2"))
        .select((col("h") <=> col("h2")).as("append_equals_oneshot"))
      val unpacked = graft.text.Shards.unpackShards(loaded, 1L << 22)
      val mapping = graft.agg.PrefixSum.withRunningTotal(
        docs.select(col("doc_id")), lit(1L), Seq(col("doc_id")), "doc_idx")
      mapping.join(unpacked, Seq("doc_idx"), "left_outer")
        .select(col("doc_id"),
          loaded.tokenizer.get.decodeIds(
            coalesce(col("ids"), array().cast("array<int>"))).as("decoded"))
        .crossJoin(broadcast(verify.select(col("all_ok"))))
        .crossJoin(broadcast(hEq))
    }),

    // P37f streaming shard append — the live-ingest twin of the artifact
    // loop: replay the corpus as THREE ordered micro-batches (doc_id
    // ranges, so each batch's order sorts after every earlier one)
    // through the foreachBatch sink (first batch bootstraps, later ones
    // append under the recorded-batch-id idempotence), then the streamed
    // artifact must verify all_ok, content-hash-equal the one-shot pack,
    // and round-trip every document byte-for-byte from disk.
    "streaming_shard_append" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
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
      val loaded = graft.text.Shards.loadShards(s, shardDir)
      val verify = graft.text.Shards.verifyShards(s, shardDir, loaded)
      def contentHash(df: org.apache.spark.sql.DataFrame) =
        df.agg(bit_xor(xxhash64(col("seq_id"), col("ids"), col("n_docs")))
          .as("h"))
      val oneShot = graft.text.Packing.packTokenIds(docs, ids,
        Seq(col("doc_id")), capacity = 512, sepId = sep)
      val hEq = contentHash(loaded.data)
        .crossJoin(contentHash(oneShot).withColumnRenamed("h", "h2"))
        .select((col("h") <=> col("h2")).as("stream_equals_oneshot"))
      val unpacked = graft.text.Shards.unpackShards(loaded, 1L << 22)
      val mapping = graft.agg.PrefixSum.withRunningTotal(
        docs.select(col("doc_id")), lit(1L), Seq(col("doc_id")), "doc_idx")
      mapping.join(unpacked, Seq("doc_idx"), "left_outer")
        .select(col("doc_id"),
          loaded.tokenizer.get.decodeIds(
            coalesce(col("ids"), array().cast("array<int>"))).as("decoded"))
        .crossJoin(broadcast(verify.select(col("all_ok"))))
        .crossJoin(broadcast(hEq))
    }),

    // P37e range-restricted unpack — the sampled-QA mode for packs where
    // full per-token unpacking is out of budget: decode ONLY sequences
    // [2, 5) and the COMPLETE documents inside (left edge exact via the
    // previous sequence's last-id peek, right edge via the separator
    // census) must equal exactly the corpus rows whose absolute positions
    // the oracle derives from the golden token counts.
    "unpack_range" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val sep = graft.text.ByteBpe.vocabSize(model)
      // census + range explode + left-edge peek all re-read the pack:
      // materialize it once (the disk-artifact shape)
      val encDocs = docs.select(col("doc_id"),
        graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model)
          .as("__ids")).localCheckpoint(true)
      val packed = graft.text.Packing.packTokenIds(encDocs, col("__ids"),
        Seq(col("doc_id")), capacity = 512, sepId = sep)
        .localCheckpoint(true)
      graft.text.Packing.unpackTokenIdsRange(packed, 512, sep,
          fromSeq = 2, untilSeq = 5)
        .select(col("doc_idx"),
          graft.text.ByteBpe.decodeIds(col("ids"), model).as("decoded"))
    }),

    // benchmark decontamination: drop documents sharing any 5-word shingle
    // with the synthetic blocklist (doc_id % 97 == 0); the blocklist's sorted
    // shingle set is broadcast and probed by a codegen'd binary search, so
    // the corpus side is one narrow filter (zero shuffles/joins).
    "decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val blocklist = docs.filter(col("doc_id") % 97 === 0)
      graft.dedup.Dedup.decontaminate(
        docs, col("text"), blocklist, col("text"),
        shingleSize = 5, minOverlap = 1)
        .select(col("doc_id"))
    }),

    // deterministic hash sampling: per-row keep decision from md5(salt||key),
    // reproducible across partitionings and engines; narrow filter, no shuffle
    "sample_documents" -> ((s, dir) =>
      graft.sample.Sampling.hashSample(
        t(s, dir, "documents"), col("doc_id"), 0.25).select(col("doc_id"))),

    // deterministic global shuffle + round-robin sharding: position 1..N in
    // md5 order via the 3-phase RowNumbers (range exchange + broadcast
    // offsets — no single-partition window), shard = (pos-1) % 8
    "shuffle_deterministic" -> ((s, dir) =>
      graft.sample.Sampling.shuffleByHash(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"), numShards = 8)
        .select(col("doc_id"), col("shuffle_pos"), col("shard"))),

    // deterministic weighted interleave (P109): the data-mixture SCHEDULE —
    // every prefix of the global order carries each source in proportion to
    // its weight (WFQ finish tags in exact integer arithmetic); DuckDB
    // replays rank, virtual time, and the final order bit-for-bit
    "mixture_interleave" -> ((s, dir) =>
      graft.sample.Sampling.mixtureInterleave(
        t(s, dir, "documents").select(col("doc_id"), col("source"))
          .filter(col("source").isin("src0", "src1", "src2", "src3")),
        col("doc_id"), col("source"),
        Map("src0" -> 4L, "src1" -> 2L, "src2" -> 1L, "src3" -> 1L),
        seed = 7, epoch = 1)
        .select(col("doc_id"), col("source"), col("mix_pos"))),

    // epoch-seeded training order (P107): same (seed, epoch) -> same global
    // permutation on any engine; different epochs -> independent orders.
    // The oracle replays md5('7:2:'||id) ordering directly
    "epoch_shuffle" -> ((s, dir) =>
      graft.sample.Sampling.epochShuffle(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"),
        seed = 7, epoch = 2)
        .select(col("doc_id"), col("shuffle_pos"))),

    // the shard-parallel epoch variant (P107b): deterministic (shard,
    // pos-in-shard) with NO global order — one hash exchange + per-shard
    // window. Shard = top-60-bits of the md5 key mod 4; DuckDB replays the
    // hex prefix via CAST('0x'||substr AS BIGINT)
    "epoch_shards" -> ((s, dir) =>
      graft.sample.Sampling.epochShards(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"),
        seed = 7, epoch = 2, numShards = 4)
        .select(col("doc_id"), col("shard"), col("shard_pos"))),

    // P113 padding-efficient length bucketing: power-of-two buckets from
    // INTEGER bit length (never float log2), seeded per-bucket shuffle,
    // (batch_id, pos_in_batch) by position — DuckDB replays bucket, md5
    // order and the partitioned row number bit-for-bit
    "length_bucket_batches" -> ((s, dir) =>
      graft.sample.Sampling.lengthBucketBatches(
        t(s, dir, "documents")
          .select(col("doc_id"),
            size(graft.text.TextFunctions.tokenize(col("text"))).as("nt")),
        col("doc_id"), col("nt"), batchSize = 32, seed = 1)
        .select(col("id").as("doc_id"), col("n_tokens"), col("bucket"),
          col("padded_to"), col("batch_id"), col("pos_in_batch"))),

    // deterministic weighted (importance) sampling: keep probability
    // min(1, n_chars/2000) per doc — every arithmetic step bit-identical
    // across engines (IEEE multiply, floor, fixed-width hex render)
    "sample_weighted" -> ((s, dir) =>
      graft.sample.Sampling.weightedHashSample(
        t(s, dir, "documents"), col("doc_id"), col("n_chars") / lit(2000.0), rate = 1.0)
        .select(col("doc_id"))),

    // exact-size weighted draw WITHOUT replacement (Efraimidis-Spirakis
    // A-ES keys from the md5 hash uniform): top-100 by ln(u)/w — the oracle
    // recomputes the same keys in DuckDB, so selection AND determinism are
    // both checked
    "sample_weighted_topk" -> ((s, dir) =>
      graft.sample.Sampling.weightedSampleTopK(
        t(s, dir, "documents"), col("doc_id"), col("n_chars").cast("double"), k = 100)
        .select(col("doc_id"))),

    // stratified rates per source (up/down-sample by corpus quality), CASE
    // threshold per row — still a narrow filter
    "sample_stratified" -> ((s, dir) =>
      graft.sample.Sampling.stratifiedHashSample(
        t(s, dir, "documents"), col("source"), col("doc_id"),
        Map("src0" -> 0.9, "src1" -> 0.05), defaultRate = 0.3)
        .select(col("doc_id"), col("source"))),

    // mixture resampling: rates DERIVED from data counts to hit 50/30/20
    // target shares (src2 thinned so counts are non-uniform; src0 is the
    // binding domain -> rate exactly 1.0, exercising the keep-all guard);
    // the count -> T -> rate -> threshold chain is fixed IEEE arithmetic
    // the oracle replays bit-for-bit
    "mixture_resample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("source").isin("src0", "src1", "src2"))
        .filter(col("doc_id") % 2 === 0 || col("source") =!= lit("src2"))
      graft.sample.Sampling.resampleToMixture(
        docs, col("source"), Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        col("doc_id"))
        .select(col("doc_id"), col("source"))
    }),

    // temperature-balanced sampling at alpha=0.5: rate_d =
    // sqrt(count_min/count_d) — IEEE division + IEEE sqrt, both exactly
    // rounded by spec, so the oracle replays the thresholds bit-for-bit.
    // The % 2 / source skew filter plants unequal domain sizes.
    "temperature_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0 || col("source").isin("src0", "src1"))
      graft.sample.Sampling.temperatureSample(
        docs, col("source"), col("doc_id"))
        .select(col("doc_id"), col("source"))
    }),

    // epoch-aware repetition to a token budget: the UP-sampling step a
    // filter cannot take — full passes via floor(share*budget/T_d) (capped
    // at maxEpochs), one fractional epoch via the md5 draw. At sf0.001 the
    // 0.6-share domain clamps at 4 epochs, the others land full+fractional;
    // at larger SFs the same arithmetic degrades toward pure down-sampling.
    // DuckDB replays counts -> floor -> printf threshold -> generate_series.
    "mixture_epochs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
      graft.sample.Sampling.repeatToTokenBudget(
        docs, col("source"), col("n_chars"), col("doc_id"),
        Map("src0" -> 0.6, "src1" -> 0.3, "src2" -> 0.1),
        budget = 100000L, maxEpochs = 4)
        .select(col("doc_id"), col("source"), col("epoch"))
    }),

    // PII redaction: email/IPv4/digit-run scrub with RE2-safe patterns; the
    // PII is synthesized from doc_id (corpus text carries none by itself)
    // unicode canonicalization kernel: the fixture text is ASCII, so the
    // gate plants the hazards — a decomposed accent (NFC composes it),
    // control chars (stripped), ragged whitespace (collapsed/trimmed) —
    // and hash-compares the normalized strings against DuckDB's
    // nfc_normalize + regex replay of the same semantics.
    "canonicalize_text" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextFunctions.canonicalizeText(
          concat(col("text"), lit(" cafe\u0301\u0001\u000b x\tY  z ")))
          .as("norm_text"))),

    // HTML-to-text extraction: each document wrapped in synthetic markup
    // (tags, script, comment, entities) in-plan, then stripped — both
    // engines build the identical input and replay the identical RE2-safe
    // regex chain, so the extraction itself is what hash-matches
    "html_extract" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.Html.stripHtml(concat(
          lit("<html><head><style>p{color:red}</style>" +
            "<script type=\"text/javascript\">var x=1;</script></head>" +
            "<body><!-- crawl artifact --><p>"),
          col("text"),
          lit("</p><div>&quot;quoted&quot; &amp;amp; x &lt; y&#65;</div></body></html>")))
          .as("clean_text"))),

    // the decode mode: numeric character references become their actual
    // code points via the codegen'd kernel (a computed character is not
    // expressible as a portable regex), so the oracle is the planted golden
    // fixture — expected outputs computed by an independent python
    // replication of the chain + decode rules (tools/make_golden.py)
    "html_extract_decoded" -> ((s, dir) =>
      s.read.parquet(s"$goldenDir/html.parquet").select(col("html_id"),
        graft.text.Html.stripHtml(col("html"), decodeNumericEntities = true)
          .as("clean_text"))),

    // mojibake repair (P76): UTF-8-read-as-cp1252 corruption inverted by
    // the codegen'd kernel (explicit cp1252 inverse table + strict UTF-8
    // re-decode to a fixpoint, whole-string-or-nothing). Oracle: planted
    // golden fixture from an independent python replication of the exact
    // table and rules (tools/make_golden.py make_mojibake_fixture), with
    // every real document's text corrupted the way the wild does
    "fix_mojibake" -> ((s, dir) =>
      s.read.parquet(s"$goldenDir/mojibake_sf001.parquet").select(col("moji_id"),
        graft.functions.vectors.fix_mojibake(col("corrupted")).as("fixed_text"))),

    // line-break dehyphenation (P107): the crawl/OCR/PDF-text repair —
    // `exam-\nple` rejoins to `example` under a fully-specified byte-level
    // single-pass rule (lowercase continuation only; '--', uppercase,
    // digits, mid-line hyphens preserved; chained breaks repair in one
    // pass). Oracle: golden fixture from the independent python replication
    // (tools/make_golden.py make_dehyphenate_fixture) over every document
    // plus planted edge cases
    "text_dehyphenate" -> ((s, dir) =>
      s.read.parquet(s"$goldenDir/dehyphenate_sf001.parquet").select(col("hy_id"),
        graft.functions.vectors.dehyphenate(col("broken")).as("fixed_text"))),

    // P121 Luhn-validated card redaction: maximal digit runs with single
    // space/dash group separators redact ONLY when 13..19 digits pass the
    // ISO/IEC 7812 mod-10 checksum — the precision upgrade over the bare
    // digit-run regex (order ids / timestamps survive). Fixture expected
    // values come from the independent byte-level python replication
    // (tools/make_golden.py make_luhn_fixture).
    "redact_cards" -> ((s, dir) =>
      s.read.parquet(s"$goldenDir/luhn_sf001.parquet").select(col("card_id"),
        graft.functions.vectors.redact_valid_cards(col("raw")).as("redacted"),
        graft.functions.vectors.valid_card_count(col("raw")).as("n_cards"))),

    // content-defined chunking (P78): splitmix64 Gear rolling hash cuts,
    // FNV-1a 64 chunk ids — every step exact 64-bit integer arithmetic the
    // python fixture replication mirrors literally. Arrays ship as
    // comma-joined strings (the driver compare is scalar-typed).
    "cdc_chunks" -> ((s, dir) =>
      s.read.parquet(s"$goldenDir/cdc_sf001.parquet").select(col("pay_id"),
        graft.multimodal.Cdc.cdcChunks(col("payload"),
          avgBits = 5, minSize = 16, maxSize = 128).as("c"))
        .select(col("pay_id"),
          concat_ws(",", transform(col("c.hashes"), _.cast("string"))).as("chunk_hashes"),
          concat_ws(",", transform(col("c.sizes"), _.cast("string"))).as("chunk_sizes"),
          size(col("c.hashes")).cast("long").as("n_chunks"))),

    // corpus chunk-dedup report: how much payload byte mass a
    // content-addressed chunk store would NOT write — the planted shared
    // block on every 3rd payload is invisible to whole-payload dedup but
    // shows up here as repeated chunk hashes
    "cdc_dedup_report" -> ((s, dir) =>
      graft.multimodal.Cdc.chunkDedupReport(
        s.read.parquet(s"$goldenDir/cdc_sf001.parquet"), col("payload"),
        avgBits = 5, minSize = 16, maxSize = 128)),

    // payload near-dup pairs from shared chunk mass: the 167-payload
    // boilerplate block is capped away (maxChunkCopies=20 — the
    // boilerplate-chunk guard working as designed) while genuinely
    // near-identical payload pairs survive the 0.5-containment bar
    "cdc_near_dup_pairs" -> ((s, dir) =>
      graft.multimodal.Cdc.payloadNearDupPairs(
        s.read.parquet(s"$goldenDir/cdc_sf001.parquet"),
        col("pay_id"), col("payload"),
        minContainment = 0.5, maxChunkCopies = 20,
        avgBits = 5, minSize = 16, maxSize = 128)),

    // real BPE tokenization (P63): merges learned from THIS corpus's word-
    // frequency table (deterministic — ties by smallest pair), text encoded
    // to the actual subword stream by the codegen'd kernel. Oracle: golden
    // fixture from an independent python replication of the whole algorithm
    // (word count -> merge loop -> greedy lowest-rank encode,
    // tools/make_golden.py)
    "bpe_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.text.Bpe.train(docs, col("text"), numMerges = 200)
      docs.select(col("doc_id"),
        size(graft.text.Bpe.encode(col("text"), model)).cast("long").as("n_bpe_tokens"),
        concat_ws(" ", graft.text.Bpe.encode(col("text"), model)).as("bpe_text"))
    }),

    // P63b byte-level BPE (GPT-2/tiktoken lineage): merges learned over
    // UTF-8 bytes under the fully-specified byte-class pre-token scanner —
    // case/punctuation-faithful, zero OOV, the unit real context windows
    // charge. Oracle: golden fixture from an independent python
    // replication of the ENTIRE algorithm (scanner -> capped frequency
    // table -> merge loop -> greedy encode, tools/make_golden.py).
    "bpe_bytes" -> ((s, dir) => {
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
    }),

    // P63d byte-BPE round-trip: decode is the EXACT inverse of encode by
    // construction (display map is a byte bijection; merges only
    // concatenate), so the gate is SELF-VERIFYING — the oracle is the raw
    // documents table, no fixture, no replication. Hazard rows (every
    // scanner path) round-trip in sbt; here every corpus row must.
    "bpe_bytes_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      docs.select(col("doc_id"),
        graft.text.ByteBpe.decode(
          graft.text.ByteBpe.encode(col("text"), model)).as("decoded"))
    }),

    // P63f byte-BPE token-ID codec: the artifact a trainer consumes —
    // array<int> ids under the GPT-2 vocab construction (0..255 = bytes,
    // 256+i = merge i) + the persisted (id, token) vocab. Doubly gated:
    // decodeIds(encodeIds(x)) == x against the RAW table (exact inverse),
    // and n_ids must equal the independently-replicated golden's
    // n_byte_tokens (same model, same segmentation — the id stream is the
    // token stream, just re-labeled).
    "bpe_bytes_ids_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
      val ids = graft.text.ByteBpe.encodeIds(
        coalesce(col("text"), lit("")), model)
      docs.select(col("doc_id"),
        graft.text.ByteBpe.decodeIds(ids, model).as("decoded"),
        size(ids).cast("long").as("n_ids"))
    }),

    // P63g special-token-aware id codec (tiktoken allowed_special): a
    // planted mid-document `<|endoftext|>` must surface as EXACTLY its
    // reserved id (never split into byte tokens) and the round-trip must
    // reproduce the planted text byte-for-byte. Oracle: the planted
    // rebuild + a replace-arithmetic occurrence count.
    "bpe_bytes_special_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
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
    }),

    // P63h unified tokenizer artifact: merges + vocab + specials + params
    // persisted/loaded as ONE directory (params written last — the
    // DedupIndex fail-loud discipline), so encode/decode config can never
    // drift from its artifact. Gate: encode via the LOADED artifact must
    // equal the in-memory encode id-for-id, planted control tokens
    // round-trip through their reserved ids from disk, and decode
    // reproduces the planted text byte-for-byte ('<|'-scrubbed on both
    // sides so only the plants can alias a special).
    "tokenizer_artifact_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(byteBpeHazards.toDF("doc_id", "text"))
      val model = graft.text.ByteBpe.train(corpus, col("text"), numMerges = 80)
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
    }),

    // P63e lossy-family detokenizers under their DOCUMENTED whitespace
    // contracts: word-BPE and unigram streams carry no word-boundary
    // marker → decode = the concatenated ascii-token stream; WordPiece's
    // `##` marks carry boundaries → decode = the space-joined word
    // stream. The oracle derives all three directly from raw text — so
    // the gate simultaneously proves each encoder loses no within-word
    // characters AND each decoder honors its contract, with zero
    // tokenizer replication.
    "tokenizer_detok" -> ((s, dir) => {
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
    }),

    // P63c tokenizer fertility report: per-source BIGINT token sums under
    // whitespace, word-BPE, and byte-BPE counting — the cross-tokenizer
    // budget comparison, one map-side-combined pass. Counts tie to the
    // SAME models the bpe_tokens / bpe_bytes gates train, so the oracle
    // re-aggregates the committed goldens against the documents table.
    "tokenizer_fertility" -> ((s, dir) => {
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
    }),

    // P91b transparent Bloom-sidecar data skipping (the Rule[LogicalPlan]
    // tier): a PLAIN equality/IN filter against an indexed directory scans
    // only surviving files — the pruning is require-asserted in-plan, the
    // oracle checks the unchanged RESULTS (false positives cost IO only,
    // the guard filter answers)
    "bloom_skip_rule" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_bloomrule").toString + "/d"
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .repartitionByRange(16, col("l_orderkey"))
        .write.mode("overwrite").parquet(root)
      graft.parquet.BloomIndex.writeBloomIndex(s, root, "l_orderkey",
        logBits = 18, k = 5)
      val before = s.experimental.extraOptimizations
      s.experimental.extraOptimizations = before :+ graft.plans.BloomSkipRule
      s.conf.set("spark.graft.bloomSkip.enabled", "true")
      try {
        val q = s.read.parquet(root).filter(col("l_orderkey").isin(325L, 48000L))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.inputFiles.length
              case _ => 0
            }
        }.sum
        require(scanned > 0 && scanned < 16,
          s"bloom skip rule did not prune: $scanned of 16 files scanned")
        // materialize under the rule, so the gate result IS the pruned read
        val rows = q.collect()
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), q.schema)
      } finally {
        s.conf.unset("spark.graft.bloomSkip.enabled")
        s.experimental.extraOptimizations = before
      }
    }),

    // P79b transparent zone-map skipping for RANGE predicates (footer
    // stats, no sidecar, no staleness question — opt-in conf): pruning
    // require-asserted in-plan, oracle checks the unchanged results
    "zone_skip_rule" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_zonerule").toString + "/d"
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .repartitionByRange(16, col("l_orderkey"))
        .write.mode("overwrite").parquet(root)
      // SF-relative range so the gate holds at every scale the driver or
      // the sf0.001 smoke suite runs it at: [mx/3, mx/3 + max(1, mx/20))
      val mx = t(s, dir, "lineitem").agg(max(col("l_orderkey"))).head().getLong(0)
      val lo = mx / 3
      val hi = lo + math.max(1L, mx / 20)
      val before = s.experimental.extraOptimizations
      s.experimental.extraOptimizations = before :+ graft.plans.ZoneSkipRule
      s.conf.set("spark.graft.zoneSkip.enabled", "true")
      try {
        val q = s.read.parquet(root)
          .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
        val scanned = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.inputFiles.length
              case _ => 0
            }
        }.sum
        require(scanned > 0 && scanned < 16,
          s"zone skip rule did not prune: $scanned of 16 files scanned")
        val rows = q.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
      } finally {
        s.conf.unset("spark.graft.zoneSkip.enabled")
        s.experimental.extraOptimizations = before
      }
    }),

    // P97 validated JSONL ingest: every line either parses against the
    // DECLARED schema or lands verbatim in quarantine. The fixture carries
    // only SYNTAX-level corruption (truncated objects + garbage), so
    // Spark's PERMISSIVE corrupt set and DuckDB's json_valid() agree
    // exactly; type-mismatch flagging (where engines differ) is sbt-pinned
    "jsonl_parse" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      graft.sources.Jsonl.good(graft.sources.Jsonl.readValidated(
        s, s"$goldenDir/docs_sf001.jsonl", schema))
    }),

    "jsonl_quarantine" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      graft.sources.Jsonl.quarantine(graft.sources.Jsonl.readValidated(
        s, s"$goldenDir/docs_sf001.jsonl", schema))
    }),

    // P101 sentence-aware chunking: the shared RE2-safe sentence pattern +
    // the budget-line chunk rule (tokens-before div budget), both replayed
    // relationally by DuckDB (unnest -> renumber -> windowed cumsum ->
    // integer div -> string_agg)
    "sentence_chunks" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(". First tail sentence here. Second one!" +
          " A third?? And a trailing fragment")).as("tt"))
      graft.text.Sentences.chunkBySentences(docs, col("doc_id"), col("tt"),
        tokenBudget = 12)
        .select(col("id").as("doc_id"), col("chunk_id"),
          col("n_sentences").cast("long").as("n_sentences"),
          col("n_tokens"), col("chunk_text"))
    }),

    // P100 schema drift report: two deliberately drifted vintages of the
    // orders export — added, removed, type-changed, unchanged each planted;
    // footer-only read; oracle is the fully determined literal table
    "schema_drift" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_schemadrift").toString
      val orders = t(s, dir, "orders")
      orders.select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .limit(100).write.mode("overwrite").parquet(s"$root/left")
      orders.select(col("o_orderkey").cast("int").as("o_orderkey"),
          col("o_totalprice"), col("o_orderstatus"))
        .limit(100).write.mode("overwrite").parquet(s"$root/right")
      graft.diff.SchemaDiff.schemaDiffDirs(s, s"$root/left", s"$root/right")
    }),

    // P99 curriculum ordering: bands by exact integer rank split, shuffled
    // within band by the md5 draw, global order via the 3-phase distributed
    // row number — every step engine-reproducible, DuckDB replays all of it
    "curriculum_order" -> ((s, dir) =>
      graft.sample.Curriculum.curriculumOrder(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        col("doc_id"), col("n_chars"), bands = 4, salt = "c9")
        .select(col("doc_id"), col("band"), col("order_id"))),

    // P97b validated CSV ingest (the positional twin): arity-only fixture
    // corruption, where PERMISSIVE from_csv and read_csv(ignore_errors)
    // provably agree; type-mismatch flagging is sbt-pinned
    "csv_parse" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      graft.sources.Csvl.good(graft.sources.Csvl.readValidated(
        s, s"$goldenDir/docs_sf001.csv", schema))
    }),

    "csv_quarantine" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      graft.sources.Csvl.quarantine(graft.sources.Csvl.readValidated(
        s, s"$goldenDir/docs_sf001.csv", schema))
    }),

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
    "unigram_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" frag"), col("doc_id"),
          lit("mentation inter"), col("doc_id"), lit("ation")).as("tt"))
      val model = graft.text.Unigram.train(docs, col("tt"), vocabSize = 300)
      docs.select(col("doc_id"),
        size(graft.text.Unigram.encode(col("tt"), model)).cast("long")
          .as("n_ug_tokens"),
        concat_ws(" ", graft.text.Unigram.encode(col("tt"), model))
          .as("ug_text"))
    }),

    // the save -> SQL round-trip of the same model: train, persist the
    // artifact, then encode PURELY through spark.sql and the registered
    // unigram_encode_model function — must hit the identical fixture
    // P63b SQL-artifact path: train -> saveByteBpe -> encode from PURE SQL
    // against the persisted artifact (the P105 pattern) — must hit the
    // same golden fixture as the in-plan bpe_bytes gate on the shared
    // document rows (the SQL view carries no planted rows, so the oracle
    // filters the fixture to doc_id >= 0)
    "bpe_bytes_sql" -> ((s, dir) => {
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
    }),

    "unigram_tokens_sql" -> ((s, dir) => {
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
    }),

    "wordpiece_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" frag"), col("doc_id"),
          lit("mentation inter"), col("doc_id"), lit("ation")).as("tt"))
      val model = graft.text.WordPiece.train(docs, col("tt"), vocabSize = 300)
      docs.select(col("doc_id"),
        size(graft.text.WordPiece.encode(col("tt"), model)).cast("long")
          .as("n_wp_tokens"),
        concat_ws(" ", graft.text.WordPiece.encode(col("tt"), model))
          .as("wp_text"))
    }),

    // link-density stats over text-embedded URLs (the link-farm/nav-page
    // quality signal): URLs planted in-plan (incl. a duplicate and
    // prose-boundary parens), extraction + counts + one IEEE division all
    // replayed by DuckDB with the IDENTICAL regex (plain RE2 syntax)
    "link_density" -> ((s, dir) => {
      val t0 = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" see https://ex.com/a?b=1 and " +
          "http://sub.ex.org/p, again (https://ex.com/a?b=1) end")).as("tt"))
      graft.text.Urls.withLinkStats(t0, col("tt"))
        .select(col("doc_id"), col("n_urls"), col("n_distinct_urls"),
          col("url_chars"), col("link_density"))
    }),

    // URL canonicalization family (P64): planted hazard URLs + per-doc
    // synthetic pairs, kernels vs the independent python replication of
    // the documented rule set (tools/make_golden.py)
    "url_canonicalize" -> ((s, dir) =>
      s.read.parquet(s"$goldenDir/urls_sf001.parquet").select(col("url_id"),
        graft.text.Urls.canonicalizeUrl(col("url")).as("canonical"),
        graft.text.Urls.urlHost(col("url")).as("host"),
        graft.text.Urls.registrableDomain(col("url")).as("domain"))),

    // URL-level dedup: keep the smallest id per canonical form; the oracle
    // re-derives the keep set in DuckDB from the fixture's canonical column
    "url_dedup" -> ((s, dir) =>
      graft.text.Urls.dedupByCanonicalUrl(
        s.read.parquet(s"$goldenDir/urls_sf001.parquet"), col("url_id"), col("url"))
        .select(col("url_id"))),

    // per-domain cap (anti-boilerplate guard): deterministic md5-ranked
    // k-per-registrable-domain draw; oracle replays the ranking in DuckDB
    // over the fixture's domain column
    "url_domain_cap" -> ((s, dir) =>
      graft.text.Urls.capPerDomain(
        s.read.parquet(s"$goldenDir/urls_sf001.parquet").select(col("url_id"), col("url")),
        col("url_id"), col("url"), maxPerDomain = 5)
        .select(col("url_id"))),

    // streaming twin of url_dedup: the fixture replayed as ordered batches
    // (occurrence number per canonical form), keep-first must equal the
    // batch keep-smallest-id decision
    "streaming_url_dedup" -> ((s, dir) => {
      val urls = s.read.parquet(s"$goldenDir/urls_sf001.parquet")
        .select(col("url_id"), col("url"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("url_id")))
      val occ = row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.functions.vectors.canonicalize_url(col("url")))
          .orderBy(col("url_id"))) - 1
      val nBatches = urls.select(occ.as("o")).agg(max(col("o"))).head().getInt(0) + 1
      streamReplay(s, urls, occ, nBatches)(st =>
        graft.streaming.StreamingDedup.dropDuplicateUrlsWithinWatermark(
          st, col("url"), "ts", "30 days"))
        .select(col("url_id"))
    }),

    // P94 link-graph authority rank: a deterministic synthetic citation
    // graph over the documents sources (two derived outlinks per doc into
    // the same namespace => cycles, self-loops, varying degrees), 3
    // fixed-point-integer PageRank iterations — the oracle replays the
    // documented integer recurrence bit-for-bit (no float summation
    // anywhere, so engine accumulation order cannot matter)
    "link_rank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val e = docs.select(col("source").as("src"),
          concat(lit("src"), pmod(col("doc_id") * 7 + 3, lit(20))).as("dst"))
        .union(docs.select(col("source").as("src"),
          concat(lit("src"), pmod(col("doc_id") * 13 + 5, lit(20))).as("dst")))
      graft.graph.LinkRank.rank(e, col("src"), col("dst"), iterations = 3)
        .select(col("node"), col("rank_fp"), col("rank").as("rank_score"))
    }),

    // the full-entity mode: the HTML 4.01 named set (+ apos) AND numeric
    // refs decode in ONE left-to-right kernel pass (double escapes drop
    // exactly one level, unknown names stay literal). Oracle: planted
    // golden fixture replicated in python against the stdlib
    // html.entities table — never this kernel's own map
    "html_extract_entities" -> ((s, dir) =>
      s.read.parquet(s"$goldenDir/html_entities.parquet").select(col("html_id"),
        graft.text.Html.stripHtml(col("html"), decodeNamedEntities = true)
          .as("clean_text"))),

    // accent folding: planted diacritics over every doc; NFD-drop-Mn must
    // agree with DuckDB's strip_accents on the decomposable set
    "fold_accents" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextFunctions.foldAccents(concat(col("text"),
          lit(" café über niño ça čech à ö")))
          .as("folded"))),

    "redact_pii" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.Redact.redactPii(concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.org or 10.2."), (col("doc_id") % 256).cast("string"),
          lit(".77 acct 900123456789"))).as("redacted"))),

    // P106 WARC/WET ingest: the gate builds gzip WET shards from the
    // documents table byte-for-byte (headers + octet Content-Length),
    // reads them back through binaryFile + the warc_records kernel, and
    // the oracle recomputes every field directly from the table — uri
    // derivation, OCTET lengths (strlen), payload text
    "warc_ingest" -> ((s, dir) => {
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
    }),

    // P131 end-to-end crawl composition: the front door chained into the
    // curation pipeline — gzip WET shards whose payloads carry REAL
    // mojibake corruption (the golden fixture's corrupted texts), read
    // back through the warc_records kernel, repaired (P76), canonicalized
    // (P54), then the P47 curation chain (langid -> quality -> exact ->
    // near-dup). The DuckDB oracle replays the whole chain from the
    // fixture's repaired texts; each attrition count certifies the
    // inter-stage dataflow starting from raw gzip bytes.
    "warc_curation" -> ((s, dir) => {
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
    }),

    // P103 k-anonymity: combo census over (lang, source, length-bucket)
    // quasi-identifiers — exact GROUP BY arithmetic, replayed verbatim
    "k_anonymity_report" -> ((s, dir) =>
      graft.privacy.Anonymity.kAnonymityReport(
        t(s, dir, "documents").withColumn("len_bucket", col("n_chars") % 7),
        Seq("lang", "source", "len_bucket"), k = 5)),

    // the safe-to-train channel: rows whose quasi combo occurs >= k times
    // (ONE window-count exchange, no join — plan-pinned in AnonymitySuite).
    // k=2 keeps BOTH channels populated on the fixture (284 kept / 216
    // suppressed at sf0.01) — a vacuous 0-row gate would prove nothing
    "suppress_rare_rows" -> ((s, dir) =>
      graft.privacy.Anonymity.suppressRareRows(
        t(s, dir, "documents").withColumn("len_bucket", col("n_chars") % 7)
          .select(col("doc_id"), col("lang"), col("source"), col("len_bucket")),
        Seq("lang", "source", "len_bucket"), k = 2)),

    // distinct-l diversity of the sensitive column inside each combo
    "l_diversity_report" -> ((s, dir) =>
      graft.privacy.Anonymity.lDiversityReport(
        t(s, dir, "documents"), Seq("lang"), col("source"), l = 3)),

    // deterministic train/val/test split assignment (same hash family as
    // sampling; a doc's split never changes across runs/engines/partitions)
    "split_assign" -> ((s, dir) =>
      graft.sample.Sampling.splitByHash(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),

    // deterministic EXACT-k per-group sample (fixed eval budget per source):
    // md5-order rank filter planned as WindowGroupLimit (map-side top-k)
    "sample_group_k" -> ((s, dir) =>
      graft.sample.Sampling.sampleKPerGroup(
        t(s, dir, "documents").select(col("source"), col("doc_id")),
        Seq(col("source")), col("doc_id"), k = 5)),

    // token-budget domain mixing: down-sample each source to ~800 expected
    // tokens; exact integer totals -> IEEE rate -> md5-threshold keep, every
    // step bit-identical across engines. Tiny broadcast totals join + narrow
    // filter — the corpus itself never shuffles wide.
    "token_budget_sample" -> ((s, dir) => {
      import graft.text.TextFunctions._
      val docs = t(s, dir, "documents").select(col("source"), col("doc_id"),
        tokenStatsAscii(col("text"), EnglishStopwords)(0).as("n_tokens"))
      graft.sample.Sampling.tokenBudgetSample(
        docs, col("source"), col("doc_id"), col("n_tokens"), budget = 800L)
        .select(col("source"), col("doc_id"))
    }),

    // Gopher-style composite quality filter over the fused kernels —
    // thresholds tuned so the synthetic corpus splits nontrivially
    "quality_filter" -> ((s, dir) =>
      graft.text.QualityFilters.gopherFilter(
        t(s, dir, "documents"), col("text"),
        minTokens = 30, maxTokens = 90,
        minAvgTokenLen = 3.0, maxAvgTokenLen = 6.0,
        minStopwordRatio = 0.02, maxTopBigramFraction = 0.2)
        .select(col("doc_id"))),

    // C4-style line dedup: synthesized 3-line docs — a mostly-unique prefix
    // line, a corpus-wide boilerplate line (survives only in the first doc),
    // and a per-doc unique line. Winner selection is a combine-friendly
    // min-aggregate on the line hash; survivors semi-join on (doc, pos).
    "dedup_lines" -> ((s, dir) => {
      val synth = t(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 50), lit("\n"),
          lit("shared footer all rights reserved"), lit("\n"),
          lit("doc "), col("doc_id").cast("string")).as("text"))
      graft.dedup.Dedup.deduplicateLines(synth, col("doc_id"), col("text"))
    }),

    // CCNet-style boilerplate removal: lines planted in >= minDocs distinct
    // docs ("all rights reserved" in every doc, "promo k" in ~1/7 of them)
    // are dropped EVERYWHERE incl. their first occurrence; unique lines stay
    "boilerplate_lines" -> ((s, dir) => {
      val synth = t(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 40), lit("\n"),
          lit("all rights reserved"), lit("\n"),
          lit("promo "), (col("doc_id") % 7).cast("string"), lit("\n"),
          lit("doc "), col("doc_id").cast("string")).as("text"))
      graft.dedup.Dedup.removeBoilerplateLines(
        synth, col("doc_id"), col("text"), minDocs = 50)
    }),

    // exact dedup: corpus with planted normalized-duplicate copies
    "dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), concat(col("text"), lit("  ")).as("text")))
      graft.dedup.Dedup.dropExactTextDuplicates(corpus, col("text"), col("doc_id"))
        .select("doc_id")
    }),

    // P119 near-dup explanation: the matched token runs behind each
    // verified MinHash pair — k-window hash matches merged along diagonals
    // into maximal spans (the evidence a reviewer/takedown queue needs).
    // Oracle replays pair generation, windows, diagonal islands exactly.
    "neardup_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.dedup.Dedup.nearDupPairsMinHash(
        docs, col("doc_id"), col("text"), threshold = 0.8)
      graft.dedup.Explain.explainPairs(docs, col("doc_id"), col("text"),
        pairs, col("idA"), col("idB"), k = 3)
    }),

    // MinHash-LSH near-dup pairs verified by exact shingle Jaccard
    "dedup_minhash_pairs" -> ((s, dir) =>
      graft.dedup.Dedup.nearDupPairsMinHash(
        t(s, dir, "documents"), col("doc_id"), col("text"), threshold = 0.8)),

    // EXACT similarity self-join via prefix filtering (AllPairs/PPJoin):
    // the same (idA, idB, jaccard) contract as dedup_minhash_pairs but
    // GUARANTEED complete — the oracle match here is a theorem, not a
    // property of the datagen's collision luck
    "dedup_jaccard_prefix" -> ((s, dir) =>
      graft.dedup.PrefixJoin.jaccardJoinPrefix(
        t(s, dir, "documents"), col("doc_id"), col("text"), threshold = 0.8)),

    // keep-first near-dup dedup (drop larger id of each verified pair)
    "dedup_minhash" -> ((s, dir) =>
      graft.dedup.Dedup.deduplicateMinHash(
        t(s, dir, "documents"), col("doc_id"), col("text"), threshold = 0.8)
        .select("doc_id")),

    // cross-corpus dedup (batch ingest vs an already-clean reference):
    // src10+ is "today's crawl", src0-9 the reference; candidates from an
    // equi-join of the two sides' band buckets, exact-Jaccard verified,
    // survivors anti-joined.
    "dedup_cross_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isNew = expr("CAST(substring(source, 4) AS INT) >= 10")
      graft.dedup.Dedup.deduplicateAgainst(
        docs.filter(isNew), docs.filter(!isNew), col("doc_id"), col("text"),
        threshold = 0.8)
        .select("doc_id")
    }),

    // incremental ingest: the reference corpus's shingle sets + pruned band
    // buckets persist as a parquet index; the "increment" (new sources) is
    // the only side shingled at query time — reference text is never read.
    // Same split and same oracle as dedup_cross_corpus: with equal caps the
    // index path is row-for-row the direct two-sided path.
    "dedup_against_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isNew = expr("CAST(substring(source, 4) AS INT) >= 10")
      val idx = graft.createTemporaryDir("dedup-index")
      graft.dedup.DedupIndex.saveDedupIndex(
        docs.filter(!isNew), col("doc_id"), col("text"), idx)
      graft.dedup.DedupIndex.deduplicateAgainstIndex(
        docs.filter(isNew), col("doc_id"), col("text"), idx, threshold = 0.8)
        .select("doc_id")
    }),

    // P112 deletion propagation into the persisted dedup index: the same
    // reference index as dedup_against_index, then doc_id % 7 == 3 rows are
    // scrubbed (file-surgical rewrite of only the files that carry them),
    // then the same increment dedup. Oracle: the direct replay with the
    // reference filtered — a scrubbed index must answer exactly like one
    // built on the filtered reference.
    "dedup_scrub" -> ((s, dir) => {
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
    }),

    // P120 per-source overlap matrix: ONE grouped KMV pass, then pairwise
    // coordinated-sample estimates over the bounded sketch table — planted
    // shared values (even ids share 'sh'||id div 6 across all 3 groups)
    // give a nonzero, fully determined matrix the oracle replays exactly.
    "source_overlap_matrix" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        concat(lit("s"), col("doc_id") % 3).as("g"),
        when(col("doc_id") % 2 === 0, concat(lit("sh"), expr("doc_id div 6")))
          .otherwise(concat(lit("own"), col("doc_id"))).as("v"))
      graft.dedup.CorpusOverlap.overlapMatrix(docs, col("g"), col("v"), k = 64)
    }),

    // KMV corpus-overlap estimate: two corpora with a planted ~1/5 overlap
    // (doc_id % 5 == 2 in both) reduce to bottom-64 md5 sketches; the
    // Jaccard estimate is a deterministic function of the hashes, replayed
    // exactly by the oracle — no tolerance band
    "corpus_overlap_kmv" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.CorpusOverlap.overlapEstimate(
        docs.filter(col("doc_id") % 5 < 3), col("text"),
        docs.filter(col("doc_id") % 5 > 1), col("text"), k = 64)
    }),

    // join-size pre-flight: estimate |orders ⋈ lineitem| from coordinated
    // KMV key samples + exact sampled multiplicities, never shuffling the
    // join key; deterministic hash/integer/IEEE arithmetic end to end, so
    // the DuckDB oracle replays the ESTIMATE bit-for-bit (u_k hex parse =
    // 8 manual digits, the classifier-gate trick)
    "join_size_estimate" -> ((s, dir) =>
      graft.dedup.CorpusOverlap.joinSizeEstimate(
        t(s, dir, "orders"), col("o_orderkey"),
        t(s, dir, "lineitem"), col("l_orderkey"), k = 256)),

    // containment (excerpt-in-document): every 5th doc contributes a planted
    // 30-token excerpt (tokens 3..32, re-joined) under doc_id+100000 —
    // contiguous by construction, so the winnowing guarantee (shared runs
    // >= w+n-1 tokens always share a selected print) makes candidate
    // recall exact; the oracle computes exact all-pairs set containment
    "containment_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = graft.text.TextFunctions.tokenize(
        col("text"), graft.text.TextFunctions.AsciiTokenPattern)
      val excerpts = t(s, dir, "documents")
        .filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat_ws(" ", slice(toks, 3, 30)).as("text"))
      graft.dedup.Containment.containmentPairs(
        docs.unionAll(excerpts), col("doc_id"), col("text"))
    }),

    // transitive near-dup clustering: alternating large-star/small-star
    // connected components over the verified MinHash pair list; every
    // document gets its component-minimum cluster id (own id if unique).
    "dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.dedup.Dedup.nearDupPairsMinHash(
        docs, col("doc_id"), col("text"), threshold = 0.8)
      graft.dedup.Clustering.assignClusters(
        docs.select(col("doc_id")), col("doc_id"), pairs)
        .select(col("doc_id"), col("cluster_id"))
    }),

    // quality-prior canonical selection: one survivor per near-dup cluster,
    // the LONGEST text (ties: smallest doc_id) — per-cluster argmax planned
    // as a map-side WindowGroupLimit rank-1 filter, O(clusters) shuffle rows
    "dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.dedup.Dedup.nearDupPairsMinHash(
        docs, col("doc_id"), col("text"), threshold = 0.8)
      graft.dedup.Clustering.keepBestByClusters(
        docs.select(col("doc_id"), length(col("text")).as("n_chars")),
        col("doc_id"), col("n_chars"), pairs)
        .select(col("doc_id"), col("n_chars"))
    }),

    // leakage-safe split: the split hash is computed on the near-dup
    // CLUSTER id, so a whole family of near-duplicates lands in exactly one
    // split — a doc-hash split would put copy A in train and copy B in test
    "split_leakage_safe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.dedup.Dedup.nearDupPairsMinHash(
        docs, col("doc_id"), col("text"), threshold = 0.8)
      graft.dedup.Clustering.splitByClusters(
        docs.select(col("doc_id")), col("doc_id"), pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("cluster_id"), col("split"))
    }),

    // soft dedup: near-duplicates get weight 1/cluster_size instead of
    // being dropped — every cluster contributes one unit of total weight
    "soft_dedup_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.dedup.Dedup.nearDupPairsMinHash(
        docs, col("doc_id"), col("text"), threshold = 0.8)
      graft.dedup.Clustering.softDedupWeights(
        docs.select(col("doc_id")), col("doc_id"), pairs)
        .select(col("doc_id"), col("cluster_id"), col("dedup_weight"))
    }),

    // SimHash bit-band candidates verified by exact shingle Jaccard
    "dedup_simhash_pairs" -> ((s, dir) =>
      graft.dedup.Dedup.nearDupPairsSimHash(
        t(s, dir, "documents"), col("doc_id"), col("text"), threshold = 0.8)),

    // embedding near-dup pairs — exact O(n²) baseline, retained as the
    // correctness referee for the LSH path below (DuckDB does the same O(n²))
    "dedup_embedding_pairs" -> ((s, dir) =>
      graft.dedup.Dedup.embeddingPairsBruteForce(
        t(s, dir, "embeddings"), col("vec_id"), col("embedding"), 0.35)),

    // embedding near-dup via the scalable hyperplane-LSH path: bucketed
    // candidates + in-plan exact-cosine verify, no cartesian product
    // (plan-pinned in PipelineSuite). Same oracle as the brute baseline —
    // hash-green means recall 1.0 on the fixture. bits=4/bands=96 are the
    // exact-recall gate parameters for the fixture's low 0.35 threshold
    // (per-pair miss prob (1-(1-θ/π)^4)^96 ≈ 4e-7 at cos=0.35); production
    // near-dup thresholds use the higher-bits defaults.
    // Scalable embedding near-dup at PRODUCTION parameters. The fixture has
    // no high-similarity pairs (max random cosine ~0.6), so the gate plants
    // them: an exactly-colinear copy (x2 — exact in float) of every vector.
    // Cosine LSH is scale-invariant — sign(h.v) == sign(h.2v) — so every
    // planted pair shares every band bucket and recall 1.0 is STRUCTURAL,
    // not parameter luck; that frees the gate to run sparse production
    // buckets (bits=12: a random pair collides in a band with p = 2^-12)
    // where candidate volume is a sub-percent fraction of brute force. The
    // truth set at threshold 0.9 is exactly the planted pairs (nearest
    // non-planted pair sits at ~0.6 — no float boundary wobble), which the
    // oracle recomputes from its own doubled copies.
    "dedup_embedding_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planted = emb.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val corpus = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        .unionByName(planted)
      graft.dedup.Dedup.nearDupPairsEmbeddingLsh(
        corpus, col("vec_id"), col("embedding"), dim = 64,
        threshold = 0.9, bands = 16, bits = 12)
    }),

    // exact cosine top-k: 20 query vectors vs full corpus (broadcast + codegen kernel)
    "ann_brute_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.bruteForceTopK(
        emb.filter(col("vec_id") < 20), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // P102 Matryoshka two-tier ANN: prefix-cosine shortlist (16 of 64
    // dims) -> exact full-vector re-rank; DuckDB replays both tiers
    // relationally (prefix slice + list cosine + two ROW_NUMBERs)
    "ann_mrl_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.mrlTopK(
        emb.filter(col("vec_id") < 20), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, dims = 16, refine = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // int8 quantization family: codes + scale per vector, every number a
    // fixed deterministic expression (floor(x*127/maxabs + 0.5), clamp) —
    // the DuckDB oracle replays the arithmetic on the same floats.
    // Exploded to one (vec_id, pos, code, scale) row per dimension: the
    // driver's comparator sorts/hashes scalar cells, so array columns
    // would be unhashable on its side even though values match.
    "embedding_int8_codes" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.vectors.int8_scale(col("embedding")).as("scale"),
          posexplode(graft.functions.vectors.int8_encode_ints(col("embedding"))
            .cast("array<bigint>")))
        .select(col("vec_id"), col("pos").cast("int").as("pos"),
          col("col").as("code"), col("scale"))),

    // brute-force top-k over the quantized corpus: integer dot products,
    // scales cancel in the cosine — DuckDB replays the WHOLE pipeline
    // (quantize -> int dot -> cosine -> rank) bit-for-bit
    "ann_int8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.int8BruteForceTopK(
        emb.filter(col("vec_id") < 20), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // the 1-bit storage tier below int8: sign-packed words, 1 bit per
    // dimension at rest and on every scan. DuckDB replays the exact
    // two's-complement packing arithmetic (bit 63 via the explicit
    // -2^63 addend — BIGINT sums never overflow). Sign replay assumes
    // non-NaN embeddings (Java NaN >= 0 is false; DuckDB sorts NaN high),
    // which the datagen guarantees and the float schema makes natural.
    // Exploded to one (vec_id, w, word) row per packed word — same
    // driver-comparator scalar-cell constraint as embedding_int8_codes.
    "embedding_bitsign_codes" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(graft.functions.vectors.bit_sign_pack(col("embedding"))))
        .select(col("vec_id"), col("pos").cast("int").as("w"),
          col("col").as("word"))),

    // brute-force top-k over the packed sign codes by ascending Hamming
    // distance — XOR + popcount, every step exact integer arithmetic, so
    // DuckDB reproduces the full ranking from the raw floats (count of
    // sign disagreements per pair). Exact-rerank recall is sbt-asserted.
    "ann_hamming_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.hammingBruteForceTopK(
        emb.filter(col("vec_id") < 20), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
    }),

    // LSH-bucketed approximate top-k. Oracle: golden fixture recomputed by an
    // independent numpy replication of the seeded hyperplanes + bucket math
    // (tools/make_golden.py); recall additionally asserted in sbt tests.
    "ann_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.lshTopK(
        emb.filter(col("vec_id") < 20), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        dim = 64, k = 3, bands = 24, bits = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // IVF-bucketed approximate top-k. Oracle: golden fixture recomputed by an
    // independent numpy replication of deterministic Lloyd's + probe math
    // (tools/make_golden.py); recall additionally asserted in sbt tests.
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      graft.ann.Ann.ivfTopK(
        emb.filter(col("vec_id") < 20), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        index, k = 3, nprobe = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // approximate-ANN quality gates: recall@3 of the approximate path against
    // the in-plan brute-force truth, thresholded to a boolean the DuckDB
    // oracle can assert (it can reproduce the truth set and its size, not the
    // Spark-side LSH/IVF result). Thresholds sit well under the measured
    // deterministic recall (LSH 0.40-0.42, IVF 0.85-0.88 across sf0.001-0.1 on
    // seeded hyperplanes / Lloyd's init): a broken kernel or bucketing change
    // drives recall toward 0 and flips the boolean.
    "ann_lsh_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val brute = graft.ann.Ann.bruteForceTopK(q, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val lsh = graft.ann.Ann.lshTopK(q, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        dim = 64, k = 3, bands = 24, bits = 8)
        .select(col("query_id"), col("neighbor_id"))
      val hits = brute.join(lsh, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      brute.agg(count(lit(1)).as("total_expected"))
        .crossJoin(hits)
        .select(col("total_expected"),
          (col("hits") >= col("total_expected") * 0.3).as("recall_ok"))
    }),

    "ann_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val index = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      val brute = graft.ann.Ann.bruteForceTopK(q, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = graft.ann.Ann.ivfTopK(q, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        index, k = 3, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"))
      val hits = brute.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      brute.agg(count(lit(1)).as("total_expected"))
        .crossJoin(hits)
        .select(col("total_expected"),
          (col("hits") >= col("total_expected") * 0.75).as("recall_ok"))
    }),

    // embedding-space corpus map: every vector assigned to its nearest
    // trained centroid (narrow kernel pass). Oracle: golden fixture from the
    // same independent numpy Lloyd's replication as ann_ivf_topk.
    "kmeans_assign" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      graft.ann.Ann.ivfAssign(emb, col("vec_id"), col("embedding"), index)
        .select(col("id").as("vec_id"), col("cid"))
    }),

    // P116 embedding outlier filter: bottom 10% of each cluster by cosine
    // to its trained centroid (the SemDeDup complement — too FAR instead
    // of too close). Fixed-point ranking key + integer-count cutoff make
    // the flags engine-exact; oracle = golden fixture replicating assign,
    // fixed-point cosine, per-cluster rank and cutoff independently.
    "embedding_outliers" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      graft.ann.Ann.embeddingOutliers(emb, col("vec_id"), col("embedding"),
        index, quantile = 0.1)
        .select(col("id").as("vec_id"), col("cid"), col("cos_fp"),
          col("cluster_rank"), col("is_outlier"))
    }),

    // SemDeDup-style semantic dedup: within-cluster pairs against the SAME
    // trained quantizer as kmeans_assign, so the DuckDB oracle replays the
    // pairing from the golden assignment fixture + exact cosine. The 0.35
    // float boundary is the one dedup_embedding_pairs already pins.
    // diversity-preserving subsampling: exactly k vectors per embedding
    // cluster (P12d corpus map × P44 exact-k sampling) — the
    // cluster-balanced draw that keeps tail topics represented when
    // downsampling. Oracle: golden assignment fixture + the same md5 rank
    "cluster_sample" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      val assigned = graft.ann.Ann.ivfAssign(emb, col("vec_id"), col("embedding"), index)
        .select(col("id").as("vec_id"), col("cid"))
      graft.sample.Sampling.sampleKPerGroup(
        assigned, Seq(col("cid")), col("vec_id"), k = 3)
    }),

    "semantic_dedup_pairs" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      graft.dedup.SemanticDedup.semanticDupPairs(
        emb, col("vec_id"), col("embedding"), index, threshold = 0.35)
    }),

    "semantic_dedup_keep" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      graft.dedup.SemanticDedup.deduplicateSemantic(
        emb, col("vec_id"), col("embedding"), index, threshold = 0.35)
        .select(col("vec_id"))
    }),

    // product-quantization approximate top-k: deterministic per-subspace
    // Lloyd's codebooks, m-byte codes (the ~30x-compressed corpus scan at
    // dim=64; ~250x at production dims), per-query ADC lookup table, exact
    // re-rank of the k*refine shortlist. Oracle: golden fixture recomputed by
    // an independent numpy replication of the training + ADC math
    // (tools/make_golden.py); recall additionally asserted in sbt tests.
    "ann_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = graft.ann.Pq.trainPq(emb, col("vec_id"), col("embedding"),
        dim = 64, m = 8, ksub = 16, iterations = 3)
      graft.ann.Pq.pqTopK(
        emb.filter(col("vec_id") < 20), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        index, k = 3, refine = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // the composed 100 TB ANN plan: IVF bucket pruning x PQ ADC scoring -
    // queries probe their nprobe closest coarse buckets (broadcast equi-join
    // on cid, never a corpus crossJoin), the O(m) ADC kernel scores only
    // those buckets' m-byte codes, exact re-rank on the k*refine shortlist.
    // Oracle: golden fixture from the independent numpy replication of BOTH
    // trainings + the composition (tools/make_golden.py)
    "ann_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      val pqi = graft.ann.Pq.trainPq(emb, col("vec_id"), col("embedding"),
        dim = 64, m = 8, ksub = 16, iterations = 3)
      graft.ann.Pq.ivfPqTopK(
        emb.filter(col("vec_id") < 20), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        ivf, pqi, k = 3, nprobe = 3, refine = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // the SAME composed IVFADC plan against a persisted serving state
    // (quantizers + encoded corpus + vectors saved in-query, then queried
    // back) — the write-once production layout where no query batch ever
    // re-encodes the corpus. Same training, same golden oracle.
    "ann_indexed_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      val pqi = graft.ann.Pq.trainPq(emb, col("vec_id"), col("embedding"),
        dim = 64, m = 8, ksub = 16, iterations = 3)
      val idx = graft.createTemporaryDir("ann-index")
      graft.ann.Pq.saveAnnIndex(emb, col("vec_id"), col("embedding"), ivf, pqi, idx)
      graft.ann.Pq.ivfPqTopKIndexed(
        emb.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
        idx, k = 3, nprobe = 3, refine = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // the daily-ingest append path (P84b): index saved over HALF the
    // corpus, the other half appended against the saved quantizers, then
    // the same IVFADC query. Append == save-over-union with the same
    // quantizers (sbt-pinned), and the quantizers here are trained on the
    // full corpus exactly as in ann_ivfpq_topk — so the result must be
    // row-for-row the SAME golden fixture. A mis-encoded, dropped, or
    // double-counted appended row changes the shortlist or the re-rank and
    // hash-fails the gate.
    "ann_append_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      val pqi = graft.ann.Pq.trainPq(emb, col("vec_id"), col("embedding"),
        dim = 64, m = 8, ksub = 16, iterations = 3)
      val idx = graft.createTemporaryDir("ann-append-index")
      graft.ann.Pq.saveAnnIndex(emb.filter(col("vec_id") % 2 === 0),
        col("vec_id"), col("embedding"), ivf, pqi, idx)
      graft.ann.Pq.appendToAnnIndex(emb.filter(col("vec_id") % 2 === 1),
        col("vec_id"), col("embedding"), idx)
      graft.ann.Pq.ivfPqTopKIndexed(
        emb.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
        idx, k = 3, nprobe = 3, refine = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // P118 index maintenance: save over half, append the other half (each
    // append lands its own small files), COMPACT in place (enc/ re-clusters
    // on cid, vectors/ round-robin, quantizers untouched), then the same
    // IVFADC query — rows move, never change, so the result must still be
    // the ann_ivfpq golden fixture. A lost/duplicated row in the rewrite
    // changes the shortlist or re-rank and hash-fails.
    "ann_compact_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      val pqi = graft.ann.Pq.trainPq(emb, col("vec_id"), col("embedding"),
        dim = 64, m = 8, ksub = 16, iterations = 3)
      val idx = graft.createTemporaryDir("ann-compact-index")
      graft.ann.Pq.saveAnnIndex(emb.filter(col("vec_id") % 2 === 0),
        col("vec_id"), col("embedding"), ivf, pqi, idx)
      graft.ann.Pq.appendToAnnIndex(emb.filter(col("vec_id") % 2 === 1),
        col("vec_id"), col("embedding"), idx)
      val stats = graft.write.Compaction.compactAnnIndex(s, idx)
      require(stats("enc")._2 <= stats("enc")._1,
        s"enc file count grew: $stats")
      graft.ann.Pq.ivfPqTopKIndexed(
        emb.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
        idx, k = 3, nprobe = 3, refine = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // P112 deletion propagation into the persisted ANN serving index: the
    // ann_indexed_topk index, then vec_id % 5 == 0 vectors are scrubbed
    // from enc/ + vectors/ (quantizers untouched — a deletion must not
    // re-quantize the survivors), then the same IVFADC query. Oracle: the
    // golden fixture independently replicates train + encode + query over
    // exactly the surviving corpus under the FULL-corpus quantizers — a
    // leftover doomed code, a lost survivor row, or a retrained quantizer
    // all change the shortlist and hash-fail.
    "ann_scrub_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      val pqi = graft.ann.Pq.trainPq(emb, col("vec_id"), col("embedding"),
        dim = 64, m = 8, ksub = 16, iterations = 3)
      val idx = graft.createTemporaryDir("ann-scrub-index")
      graft.ann.Pq.saveAnnIndex(emb, col("vec_id"), col("embedding"), ivf, pqi, idx)
      graft.privacy.Deletion.scrubAnnIndex(s, idx,
        emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")), col("vec_id"))
      graft.ann.Pq.ivfPqTopKIndexed(
        emb.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
        idx, k = 3, nprobe = 3, refine = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // reranked 1-bit path quality: Hamming shortlist (k*refine over the
    // 32x-compressed scan) + exact cosine re-rank, recall@3 vs the float
    // brute-force truth thresholded to a DuckDB-assertable boolean.
    // Threshold sits well under the measured deterministic recall (sbt
    // pins the same path at >= 0.8 on separated clusters; real-embedding
    // recall measured 0.5-0.8 across SFs at refine=8).
    "ann_hamming_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val brute = graft.ann.Ann.bruteForceTopK(q, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val ham = graft.ann.Ann.hammingTopK(q, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, refine = 8)
        .select(col("query_id"), col("neighbor_id"))
      val hits = brute.join(ham, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      brute.agg(count(lit(1)).as("total_expected"))
        .crossJoin(hits)
        .select(col("total_expected"),
          (col("hits") >= col("total_expected") * 0.4).as("recall_ok"))
    }),

    "ann_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val index = graft.ann.Pq.trainPq(emb, col("vec_id"), col("embedding"),
        dim = 64, m = 8, ksub = 16, iterations = 3)
      val brute = graft.ann.Ann.bruteForceTopK(q, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val pq = graft.ann.Pq.pqTopK(q, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        index, k = 3, refine = 8)
        .select(col("query_id"), col("neighbor_id"))
      // threshold sits well under the measured deterministic recall@3
      // (0.52-0.72 across sf0.001-0.1): a broken kernel, codebook, or
      // shortlist change drives recall toward 0 and flips the boolean
      val hits = brute.join(pq, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      brute.agg(count(lit(1)).as("total_expected"))
        .crossJoin(hits)
        .select(col("total_expected"),
          (col("hits") >= col("total_expected") * 0.4).as("recall_ok"))
    }),

    // OPQ-lite (PCA rotation + eigenvalue allocation, Ge et al. 2013)
    // ahead of the same PQ: one bounded moments-sketch pass learns an
    // orthonormal rotation (VecMomentsAgg -> driver Jacobi), vectors rotate
    // inline through a codegen kernel, recall floor same as ann_pq_recall.
    // Rotation algebra (orthonormality, norm preservation, allocation
    // balance, rotated >= raw on correlated data) is pinned in OpqSuite.
    "ann_opq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val rot = graft.ann.Opq.trainRotation(emb, col("embedding"), dim = 64, m = 8)
      val index = graft.ann.Opq.trainPqRotated(emb, col("vec_id"), col("embedding"),
        rot, dim = 64, m = 8, ksub = 16, iterations = 3)
      val brute = graft.ann.Ann.bruteForceTopK(q, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val opq = graft.ann.Opq.pqTopKRotated(q, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        rot, index, k = 3, refine = 8)
        .select(col("query_id"), col("neighbor_id"))
      val hits = brute.join(opq, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      brute.agg(count(lit(1)).as("total_expected"))
        .crossJoin(hits)
        .select(col("total_expected"),
          (col("hits") >= col("total_expected") * 0.4).as("recall_ok"))
    }),

    // IVFADC with residual codes (the paper-faithful layout): codes
    // quantize vec - assigned centroid, the ADC score adds back the
    // per-(query, bucket) dot(q, centroid) term. Oracle: golden fixture
    // from the independent numpy replication (float32 residual arithmetic
    // + both trainings + composition, tools/make_golden.py)
    "ann_ivfpq_residual_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      val pqi = graft.ann.Pq.trainPqResidual(emb, col("vec_id"), col("embedding"),
        ivf, dim = 64, m = 8, ksub = 16, iterations = 3)
      graft.ann.Pq.ivfPqTopK(
        emb.filter(col("vec_id") < 20), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        ivf, pqi, k = 3, nprobe = 3, refine = 8, residual = true)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // composed-path recall gate, nprobe swept {1, 2, all}: raw-code recall
    // must clear 0.5 at every nprobe (measured 0.65-0.77 across
    // sf0.001-0.1; a broken bucket join, LUT, or shortlist drives it
    // toward 0), and residual codes must recall at least as well as raw at
    // probe-all (measured +0.08..+0.13). Monotonicity in nprobe is
    // deliberately NOT asserted: with a fixed k*refine shortlist, extra
    // probed candidates can displace true neighbors from the approx-ranked
    // shortlist before the exact re-rank (measured: raw nprobe=1 recall
    // 0.77 > nprobe=2 recall 0.65 at sf0.001) — more probes widen the
    // candidate pool, not the shortlist.
    "ann_ivfpq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val ivf = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
        k = 16, iterations = 3)
      val raw = graft.ann.Pq.trainPq(emb, col("vec_id"), col("embedding"),
        dim = 64, m = 8, ksub = 16, iterations = 3)
      val res = graft.ann.Pq.trainPqResidual(emb, col("vec_id"), col("embedding"),
        ivf, dim = 64, m = 8, ksub = 16, iterations = 3)
      val brute = graft.ann.Ann.bruteForceTopK(q, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("neighbor_id"))
      def hitsOf(nprobe: Int, index: graft.ann.Pq.PqIndex, residual: Boolean,
                 name: String) = {
        val got = graft.ann.Pq.ivfPqTopK(q, emb,
          col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
          ivf, index, k = 3, nprobe = nprobe, refine = 8, residual = residual)
          .select(col("query_id"), col("neighbor_id"))
        brute.join(got, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as(name))
      }
      brute.agg(count(lit(1)).as("total_expected"))
        .crossJoin(hitsOf(1, raw, residual = false, "h1"))
        .crossJoin(hitsOf(2, raw, residual = false, "h2"))
        .crossJoin(hitsOf(16, raw, residual = false, "hall"))
        .crossJoin(hitsOf(16, res, residual = true, "hres"))
        .select(col("total_expected"),
          (col("h1") >= col("total_expected") * 0.5).as("recall_np1_ok"),
          (col("h2") >= col("total_expected") * 0.5).as("recall_np2_ok"),
          (col("hall") >= col("total_expected") * 0.5).as("recall_all_ok"),
          (col("hres") >= col("hall")).as("residual_ge_raw"))
    }),

    // multimodal plumbing: binary payload + frame sampling
    "multimodal_features" -> ((s, dir) => {
      val bin = encode(col("text"), "utf-8")
      val frames = graft.multimodal.Multimodal.binaryFrames(bin, 64, 48)
      t(s, dir, "documents").select(
        col("doc_id"),
        length(bin).cast("long").as("n_bytes"),
        size(frames).cast("long").as("n_frames"),
        // hex, not cast-to-string: the 64-byte slice may split a UTF-8
        // codepoint, and the oracle must compare bytes, not characters
        hex(get(frames, lit(0))).as("first_frame_hex"))
    }),

    // real image-header decode over committed PNG/JPEG/GIF/BMP payloads (plus
    // a non-image miss case): format + pixel dimensions from the pure-JVM
    // container parse, byte entropy from the kernel. Oracle: the fixture's
    // expected columns, parsed independently in python (tools/make_golden.py).
    "multimodal_decode" -> ((s, dir) =>
      graft.multimodal.Multimodal.extractMediaFeatures(
        s.read.parquet(s"$goldenDir/images.parquet"), col("img_id"), col("payload"))
        .toDF()
        .select(col("id").as("img_id"), col("format"), col("width"), col("height"),
          col("n_bytes"), col("entropy"))),

    // real RIFF/WAVE header decode over committed WAV payloads (written by
    // the python stdlib wave module; expected facts re-parsed by an
    // independent chunk walk in tools/make_golden.py)
    "multimodal_audio" -> ((s, dir) =>
      graft.multimodal.Multimodal.extractAudioFeatures(
        s.read.parquet(s"$goldenDir/audio.parquet"), col("audio_id"), col("payload"))
        .toDF()
        .select(col("id").as("audio_id"), col("channels"), col("sample_rate"),
          col("bits_per_sample"), col("n_frames"), col("n_bytes"))),

    // real MP4/AVI container-header decode over committed synthetic payloads
    // built box-by-box in python (tools/make_golden.py) — the expected
    // columns ARE the construction parameters
    "multimodal_video" -> ((s, dir) =>
      graft.multimodal.Multimodal.extractVideoFeatures(
        s.read.parquet(s"$goldenDir/videos.parquet"), col("video_id"), col("payload"))
        .toDF()
        .select(col("id").as("video_id"), col("format"), col("width"), col("height"),
          col("duration_ms"), col("n_frames"), col("n_bytes"))),

    // frame-extraction plan: k=4 uniformly-spaced frame indices + timestamps
    // per golden video from the real container header (integer arithmetic,
    // narrow plan — the oracle recomputes the same integers from the
    // fixture's construction-parameter columns)
    "multimodal_frames" -> ((s, dir) =>
      graft.multimodal.Multimodal.sampleFrames(
        s.read.parquet(s"$goldenDir/videos.parquet"), col("video_id"), col("payload"), k = 4)
        .select(col("id").as("video_id"), col("frame_idx"), col("ts_ms"))),

    // exact media-payload dedup: the image fixtures unioned with
    // shifted-id byte-identical copies; keep-smallest-id per payload. The
    // decision shuffle carries (md5, id) rows only — never payload bytes;
    // the oracle groups on the blob itself (same keep set, no hash needed)
    "multimodal_dedup" -> ((s, dir) => {
      val imgs = s.read.parquet(s"$goldenDir/images.parquet")
        .select(col("img_id"), col("payload"), col("format"), col("n_bytes"))
      val dupes = imgs.select((col("img_id") + 100L).as("img_id"),
        col("payload"), col("format"), col("n_bytes"))
      graft.multimodal.Multimodal.dropExactPayloadDuplicates(
        imgs.unionByName(dupes), col("img_id"), col("payload"))
        .select(col("img_id"), col("format"), col("n_bytes"))
    }),

    // O25 parquet footer facts (oracle: DuckDB parquet_file_metadata())
    "parquet_metadata_scan" -> ((s, dir) =>
      graft.parquet.ParquetMeta.parquetMetadata(s, None, Seq(s"$dir/lineitem.parquet"))
        .select(col("blocks").cast("long").as("blocks"), col("rows"),
          col("createdBy"), col("encryption"))),

    // P130 layout health report: footer-only small-files audit over one
    // deliberately fragmented directory (24 tiny files) and one compact
    // directory, both written fresh at a fixed path the DuckDB oracle
    // reads back directly — the report and the oracle see the exact same
    // physical files, so every byte count is self-consistent.
    "layout_report" -> ((s, dir) => {
      val root = "/tmp/graft_layout_gate_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir, "documents").repartition(24)
        .write.mode("overwrite").parquet(s"$root/frag")
      t(s, dir, "nation").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/one")
      graft.write.Compaction.layoutReport(
        s, Seq(s"$root/frag", s"$root/one"), targetFileBytes = 262144)
    }),

    // O26 parquet schema scan (oracle: DuckDB parquet_schema() leaf rows)
    "parquet_schema_scan" -> ((s, dir) =>
      graft.parquet.ParquetMeta.parquetSchema(s, None, Seq(s"$dir/lineitem.parquet"))
        .select(col("columnName"), col("type"), col("repetition"))),

    // O29 Spark split planning, pinned into oracle reach: with
    // maxPartitionBytes = openCostInBytes = 1 MiB, maxSplitBytes is exactly
    // 1 MiB (openCost dominates bytesPerCore) and bin-packing closes every
    // partition after one split, so partition index == floor(splitStart/1MiB)
    // and a row group lands in partition floor((startingPos + compressed/2)
    // / 1MiB) — arithmetic DuckDB reproduces from parquet_metadata().
    // plannedSplits materializes eagerly inside parquetPartitions, so the
    // conf save/restore cannot leak into later queries. Partitions without
    // any row-group midpoint are filtered: the oracle cannot know the file
    // tail length.
    "parquet_partitions_scan" -> ((s, dir) => {
      val mib = (1L << 20).toString
      val prevMax = s.conf.get("spark.sql.files.maxPartitionBytes")
      val prevOpen = s.conf.get("spark.sql.files.openCostInBytes")
      s.conf.set("spark.sql.files.maxPartitionBytes", mib)
      s.conf.set("spark.sql.files.openCostInBytes", mib)
      try {
        graft.parquet.ParquetMeta.parquetPartitions(s, None, Seq(s"$dir/lineitem.parquet"))
          .filter(col("blocks") >= 1)
          .select(
            col("partition").cast("long").as("partition"),
            col("blocks").cast("long").as("blocks"),
            col("compressedBytes"), col("uncompressedBytes"), col("rows"))
      } finally {
        s.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        s.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      }
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    val diffLeftSql =
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0"
    val diffRightSql =
      "SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice " +
        "FROM orders WHERE o_orderkey % 5 <> 0"
    // the four SCD2 vintages — must mirror scd2Snapshots exactly
    val scd2SnapsSql =
      "SELECT o_orderkey, o_orderpriority AS prio, " +
        "CASE WHEN vn >= 3 AND o_orderkey % 150 = 0 THEN o_totalprice + 7.0 " +
        "ELSE o_totalprice END AS price, " +
        "'2024-0' || vn AS v " +
        "FROM orders, UNNEST([1, 2, 3, 4]) AS t(vn) " +
        "WHERE o_orderkey % 50 = 0 " +
        "AND NOT (vn IN (2, 3) AND o_orderkey % 7 = 0) " +
        "AND NOT (vn >= 3 AND o_orderkey % 11 = 0)"
    // full SCD2 rebuild replay — shared by scd2_history AND scd2_apply
    // (the incremental apply's contract is equality with this rebuild)
    val scd2HistoryOracleSql =
      s"WITH snaps AS ($scd2SnapsSql), " +
        "vs AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS vi " +
        "       FROM (SELECT DISTINCT v FROM snaps)), " +
        "b AS (SELECT s.*, vs.vi FROM snaps s JOIN vs ON s.v = vs.v), " +
        "m AS (SELECT *, CASE WHEN LAG(vi) OVER w IS NULL " +
        "                       OR LAG(vi) OVER w != vi - 1 " +
        "                       OR prio IS DISTINCT FROM LAG(prio) OVER w " +
        "                       OR price IS DISTINCT FROM LAG(price) OVER w " +
        "                THEN 1 ELSE 0 END AS chg " +
        "      FROM b WINDOW w AS (PARTITION BY o_orderkey ORDER BY vi)), " +
        "r AS (SELECT *, SUM(chg) OVER (PARTITION BY o_orderkey ORDER BY vi) AS run FROM m), " +
        "g AS (SELECT o_orderkey, run, MIN(vi) AS fvi, MAX(vi) AS tvi, " +
        "             MIN(prio) AS prio, MIN(price) AS price " +
        "      FROM r GROUP BY o_orderkey, run) " +
        "SELECT g.o_orderkey AS o_orderkey, g.prio AS prio, g.price AS price, " +
        "v1.v AS valid_from, v2.v AS valid_to, v2.v IS NULL AS is_current " +
        "FROM g JOIN vs v1 ON v1.vi = g.fvi LEFT JOIN vs v2 ON v2.vi = g.tvi + 1"
    def diffCte = s"WITH l AS ($diffLeftSql), r AS ($diffRightSql)"
    val changed =
      "l.o_custkey IS DISTINCT FROM r.o_custkey OR " +
        "l.o_orderstatus IS DISTINCT FROM r.o_orderstatus OR " +
        "l.o_totalprice IS DISTINCT FROM r.o_totalprice"
    val action =
      "CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
        s"WHEN $changed THEN 'C' ELSE 'N' END AS diff"
    val plainDiffSelect =
      (s"$diffCte SELECT $action, " +
        "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
        "l.o_custkey AS left_o_custkey, r.o_custkey AS right_o_custkey, " +
        "l.o_orderstatus AS left_o_orderstatus, r.o_orderstatus AS right_o_orderstatus, " +
        "l.o_totalprice AS left_o_totalprice, r.o_totalprice AS right_o_totalprice " +
        "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey")

    // snapshot-diff CTEs: the same left/right perturbation of orders as the
    // gates, plus the changed-partition set derived by exact multiset
    // difference (== fingerprint detection when nothing XOR-cancels)
    val snapCte =
      "WITH l AS (SELECT o_orderkey, o_orderpriority AS prio, o_totalprice FROM orders), " +
        "r AS (SELECT o_orderkey, prio, " +
        "CASE WHEN prio = '1-URGENT' AND o_orderkey % 10 = 0 " +
        "THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice " +
        "FROM l WHERE NOT (prio = '2-HIGH' AND o_orderkey % 7 = 0) " +
        "UNION ALL " +
        "SELECT o_orderkey + 100000000, 'Z-NEW', o_totalprice " +
        "FROM l WHERE prio = '5-LOW' AND o_orderkey % 100 = 0), " +
        "d AS (SELECT prio FROM (" +
        "(SELECT * FROM l EXCEPT ALL SELECT * FROM r) " +
        "UNION ALL " +
        "(SELECT * FROM r EXCEPT ALL SELECT * FROM l)) x GROUP BY prio)"

    // document tokenization / shingling / near-dup-pair CTEs (ASCII tokens,
    // word 3-grams — must mirror TextFunctions.textShingles exactly)
    val docTokCte =
      "tok AS (SELECT doc_id, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM documents)"
    // first 16 md5 bits of "<d>:<key>" mod 1024 — the CountMinKernels.bucket
    // contract, decoded hex-char-by-hex-char (the classifier_score idiom)
    def cmsBucket(key: String): String =
      s"((strpos('0123456789abcdef', substring(md5(d || ':' || $key), 1, 1)) - 1) * 4096 + " +
        s"(strpos('0123456789abcdef', substring(md5(d || ':' || $key), 2, 1)) - 1) * 256 + " +
        s"(strpos('0123456789abcdef', substring(md5(d || ':' || $key), 3, 1)) - 1) * 16 + " +
        s"(strpos('0123456789abcdef', substring(md5(d || ':' || $key), 4, 1)) - 1)) % 1024"
    val docShCte =
      "sh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS s FROM tok WHERE len(toks) >= 3)"
    val docPairCte =
      "p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, " +
        "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id)"
    val docPairsSql =
      s"WITH $docTokCte, $docShCte, $docPairCte " +
        "SELECT ia AS \"idA\", ib AS \"idB\", j AS jaccard FROM p WHERE j >= 0.8"

    val base = Map(
      "q1_pricing_summary" ->
        ("SELECT l_returnflag, l_linestatus, " +
          "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price, " +
          "COUNT(*) AS count_order " +
          "FROM lineitem GROUP BY l_returnflag, l_linestatus"),

      "diff_orders" -> plainDiffSelect,

      "diff_patch_right" -> diffRightSql,

      // P110: full window-algebra replay of the SCD2 build — version index,
      // lag-based run breaks (null-safe attr compare + the gap rule), run
      // grouping, exclusive valid_to via the vi+1 lookup.
      "scd2_history" -> scd2HistoryOracleSql,

      // P128: the incremental apply must equal the FULL four-vintage
      // rebuild row for row — the oracle IS the scd2_history replay.
      "scd2_apply" -> scd2HistoryOracleSql,

      // P110 round-trip: the 2024-03 vintage recomputed directly, never
      // touching the history table.
      "scd2_snapshot_at" ->
        (s"WITH snaps AS ($scd2SnapsSql) " +
          "SELECT o_orderkey, prio, price, v FROM snaps WHERE v = '2024-03'"),

      "snapshot_diff" ->
        (s"$snapCte SELECT " +
          "CASE WHEN l2.o_orderkey IS NULL THEN 'I' " +
          "WHEN r2.o_orderkey IS NULL THEN 'D' " +
          "WHEN l2.prio IS DISTINCT FROM r2.prio " +
          "OR l2.o_totalprice IS DISTINCT FROM r2.o_totalprice THEN 'C' " +
          "ELSE 'N' END AS diff, " +
          "COALESCE(l2.o_orderkey, r2.o_orderkey) AS o_orderkey, " +
          "l2.prio AS left_prio, r2.prio AS right_prio, " +
          "l2.o_totalprice AS left_o_totalprice, r2.o_totalprice AS right_o_totalprice " +
          "FROM (SELECT * FROM l WHERE prio IN (SELECT prio FROM d)) l2 " +
          "FULL OUTER JOIN (SELECT * FROM r WHERE prio IN (SELECT prio FROM d)) r2 " +
          "ON l2.o_orderkey = r2.o_orderkey"),

      "snapshot_changed" ->
        (s"$snapCte, lc AS (SELECT prio, COUNT(*) AS rows_left FROM l GROUP BY prio), " +
          "rc AS (SELECT prio, COUNT(*) AS rows_right FROM r GROUP BY prio) " +
          "SELECT COALESCE(lc.prio, rc.prio) AS prio, " +
          "CASE WHEN rc.prio IS NULL THEN 'removed' " +
          "WHEN lc.prio IS NULL THEN 'added' " +
          "WHEN COALESCE(lc.prio, rc.prio) IN (SELECT prio FROM d) THEN 'changed' " +
          "ELSE 'unchanged' END AS status, " +
          "lc.rows_left AS rows_left, rc.rows_right AS rows_right " +
          "FROM lc FULL OUTER JOIN rc ON lc.prio = rc.prio"),

      "diff_orders_sidebyside" -> plainDiffSelect,

      "diff_orders_leftside" ->
        (s"$diffCte SELECT $action, " +
          "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
          "l.o_custkey AS o_custkey, l.o_orderstatus AS o_orderstatus, l.o_totalprice AS o_totalprice " +
          "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

      "diff_orders_sparse" ->
        (s"$diffCte SELECT $action, " +
          "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
          "CASE WHEN l.o_custkey IS DISTINCT FROM r.o_custkey THEN l.o_custkey END AS left_o_custkey, " +
          "CASE WHEN l.o_custkey IS DISTINCT FROM r.o_custkey THEN r.o_custkey END AS right_o_custkey, " +
          "CASE WHEN l.o_orderstatus IS DISTINCT FROM r.o_orderstatus THEN l.o_orderstatus END AS left_o_orderstatus, " +
          "CASE WHEN l.o_orderstatus IS DISTINCT FROM r.o_orderstatus THEN r.o_orderstatus END AS right_o_orderstatus, " +
          "CASE WHEN l.o_totalprice IS DISTINCT FROM r.o_totalprice THEN l.o_totalprice END AS left_o_totalprice, " +
          "CASE WHEN l.o_totalprice IS DISTINCT FROM r.o_totalprice THEN r.o_totalprice END AS right_o_totalprice " +
          "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

      "diff_orders_changes" ->
        (s"$diffCte SELECT $action, " +
          "CASE WHEN l.o_orderkey IS NULL OR r.o_orderkey IS NULL THEN NULL ELSE " +
          "rtrim(concat(" +
          "CASE WHEN l.o_custkey IS DISTINCT FROM r.o_custkey THEN 'o_custkey,' ELSE '' END, " +
          "CASE WHEN l.o_orderstatus IS DISTINCT FROM r.o_orderstatus THEN 'o_orderstatus,' ELSE '' END, " +
          "CASE WHEN l.o_totalprice IS DISTINCT FROM r.o_totalprice THEN 'o_totalprice,' ELSE '' END), ',') END AS changed, " +
          "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
          "l.o_custkey AS left_o_custkey, r.o_custkey AS right_o_custkey, " +
          "l.o_orderstatus AS left_o_orderstatus, r.o_orderstatus AS right_o_orderstatus, " +
          "l.o_totalprice AS left_o_totalprice, r.o_totalprice AS right_o_totalprice " +
          "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

      "diff_orders_ignore" ->
        (s"WITH l AS ($diffLeftSql), r0 AS ($diffRightSql), " +
          "r AS (SELECT o_orderkey, o_custkey, lower(o_orderstatus) AS o_orderstatus, o_totalprice FROM r0) " +
          "SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
          "WHEN l.o_custkey IS DISTINCT FROM r.o_custkey OR l.o_totalprice IS DISTINCT FROM r.o_totalprice " +
          "THEN 'C' ELSE 'N' END AS diff, " +
          "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
          "l.o_custkey AS left_o_custkey, r.o_custkey AS right_o_custkey, " +
          "l.o_totalprice AS left_o_totalprice, r.o_totalprice AS right_o_totalprice, " +
          "l.o_orderstatus AS left_o_orderstatus, r.o_orderstatus AS right_o_orderstatus " +
          "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

      "diff_orders_epsilon" ->
        (s"$diffCte SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
          "WHEN l.o_custkey IS DISTINCT FROM r.o_custkey OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus " +
          "OR NOT (ABS(l.o_totalprice - r.o_totalprice) <= 0.001 * GREATEST(ABS(l.o_totalprice), ABS(r.o_totalprice))) " +
          "THEN 'C' ELSE 'N' END AS diff, " +
          "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
          "l.o_custkey AS left_o_custkey, r.o_custkey AS right_o_custkey, " +
          "l.o_orderstatus AS left_o_orderstatus, r.o_orderstatus AS right_o_orderstatus, " +
          "l.o_totalprice AS left_o_totalprice, r.o_totalprice AS right_o_totalprice " +
          "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

      "diff_orders_whitespace" ->
        (s"WITH l AS ($diffLeftSql), r0 AS ($diffRightSql), " +
          "r AS (SELECT o_orderkey, o_custkey, concat(chr(9), o_orderstatus, '  ') AS o_orderstatus, o_totalprice FROM r0) " +
          "SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
          "WHEN l.o_custkey IS DISTINCT FROM r.o_custkey OR l.o_totalprice IS DISTINCT FROM r.o_totalprice " +
          "OR trim(regexp_replace(l.o_orderstatus, '\\s+', ' ', 'g')) IS DISTINCT FROM trim(regexp_replace(r.o_orderstatus, '\\s+', ' ', 'g')) " +
          "THEN 'C' ELSE 'N' END AS diff, " +
          "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
          "l.o_custkey AS left_o_custkey, r.o_custkey AS right_o_custkey, " +
          "l.o_orderstatus AS left_o_orderstatus, r.o_orderstatus AS right_o_orderstatus, " +
          "l.o_totalprice AS left_o_totalprice, r.o_totalprice AS right_o_totalprice " +
          "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

      "diff_orders_duration" ->
        ("WITH l AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey % 3 <> 0), " +
          "r AS (SELECT o_orderkey, " +
          "CASE WHEN o_orderkey % 13 = 0 THEN o_orderdate + INTERVAL 3 HOUR " +
          "WHEN o_orderkey % 7 = 0 THEN o_orderdate + INTERVAL 30 MINUTE " +
          "ELSE o_orderdate END AS o_orderdate " +
          "FROM orders WHERE o_orderkey % 5 <> 0) " +
          "SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
          "WHEN NOT (ABS(epoch_us(l.o_orderdate) - epoch_us(r.o_orderdate)) <= 3600000000) " +
          "THEN 'C' ELSE 'N' END AS diff, " +
          "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
          "l.o_orderdate AS left_o_orderdate, r.o_orderdate AS right_o_orderdate " +
          "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

      "diff_orders_equiv" ->
        (s"WITH l AS ($diffLeftSql), r0 AS ($diffRightSql), " +
          "r AS (SELECT o_orderkey, o_custkey, lower(o_orderstatus) AS o_orderstatus, o_totalprice FROM r0) " +
          "SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
          "WHEN l.o_custkey IS DISTINCT FROM r.o_custkey OR l.o_totalprice IS DISTINCT FROM r.o_totalprice " +
          "OR lower(l.o_orderstatus) IS DISTINCT FROM lower(r.o_orderstatus) " +
          "THEN 'C' ELSE 'N' END AS diff, " +
          "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
          "l.o_custkey AS left_o_custkey, r.o_custkey AS right_o_custkey, " +
          "l.o_orderstatus AS left_o_orderstatus, r.o_orderstatus AS right_o_orderstatus, " +
          "l.o_totalprice AS left_o_totalprice, r.o_totalprice AS right_o_totalprice " +
          "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

      "diff_orders_map" ->
        ("WITH l AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 <> 0), " +
          "r AS (SELECT o_orderkey, (o_orderkey % 7 = 0) AS bumped FROM orders WHERE o_orderkey % 5 <> 0) " +
          "SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
          "WHEN r.bumped THEN 'C' ELSE 'N' END AS diff, " +
          "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey " +
          "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

      "diff_with_orders" ->
        (s"$diffCte SELECT " +
          "CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
          s"WHEN $changed THEN 'C' ELSE 'N' END AS diff, " +
          "l.o_orderkey AS l_o_orderkey, l.o_custkey AS l_o_custkey, " +
          "l.o_orderstatus AS l_o_orderstatus, l.o_totalprice AS l_o_totalprice, " +
          "r.o_orderkey AS r_o_orderkey, r.o_custkey AS r_o_custkey, " +
          "r.o_orderstatus AS r_o_orderstatus, r.o_totalprice AS r_o_totalprice " +
          "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

      "diff_as_orders" ->
        (s"$diffCte SELECT " +
          "CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
          s"WHEN $changed THEN 'C' ELSE 'N' END AS diff, " +
          "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
          "l.o_totalprice AS left_o_totalprice, r.o_totalprice AS right_o_totalprice " +
          "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

      "row_numbers" ->
        ("SELECT o_orderkey, o_totalprice, " +
          "CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT) AS row_number FROM orders"),

      "histogram_totalprice" ->
        ("SELECT o_orderstatus, " +
          "COUNT(*) FILTER (WHERE o_totalprice <= 100000) AS \"≤100000\", " +
          "COUNT(*) FILTER (WHERE o_totalprice > 100000 AND o_totalprice <= 200000) AS \"≤200000\", " +
          "COUNT(*) FILTER (WHERE o_totalprice > 200000 AND o_totalprice <= 300000) AS \"≤300000\", " +
          "COUNT(*) FILTER (WHERE o_totalprice > 300000 AND o_totalprice <= 400000) AS \"≤400000\", " +
          "COUNT(*) FILTER (WHERE o_totalprice > 400000) AS \">400000\" " +
          "FROM orders GROUP BY o_orderstatus"),

      "group_by_key_count" ->
        "SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey",

      "group_sorted_running" ->
        ("SELECT o_custkey, o_orderkey, CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn, " +
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total " +
          "FROM orders " +
          "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING)"),

      "group_key_sorted_latest" ->
        ("SELECT o_custkey, o_orderkey, o_totalprice FROM (" +
          "SELECT o_custkey, o_orderkey, o_totalprice, " +
          "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn " +
          "FROM orders) WHERE rn = 1"),

      "group_key_sorted_earliest" ->
        ("SELECT o_custkey, o_orderkey, o_totalprice FROM (" +
          "SELECT o_custkey, o_orderkey, o_totalprice, " +
          "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn " +
          "FROM orders) WHERE rn = 1"),

      // DuckDB has native ASOF JOIN — the semantics the operator reproduces
      "asof_join" ->
        ("WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'), " +
          "r AS (SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS err_value FROM events WHERE event_type = 'error' GROUP BY 1, 2) " +
          "SELECT l.event_id, l.user_id, l.ts_us, r.ts_us AS m_ts, r.err_value AS m_value " +
          "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us"),

      "range_join" ->
        ("WITH i AS (SELECT o_orderkey AS band_id, o_totalprice - 1000.0 AS lo, o_totalprice + 1000.0 AS hi " +
          "FROM orders WHERE o_orderkey % 997 = 0) " +
          "SELECT i.band_id, o.o_orderkey, o.o_totalprice FROM orders o " +
          "JOIN i ON o.o_totalprice BETWEEN i.lo AND i.hi"),

      // the salt never leaves the operator: plain-join SQL is the oracle
      "salted_join" ->
        ("SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, s.s_name " +
          "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey"),

      "funnel_users" ->
        (s"WITH $funnelChainCte " +
          "SELECT s1.user_id, " +
          "CASE WHEN s4.user_id IS NOT NULL THEN 4 WHEN s3.user_id IS NOT NULL THEN 3 " +
          "WHEN s2.user_id IS NOT NULL THEN 2 ELSE 1 END AS depth, " +
          "s1.t1 AS first_step_us, " +
          "COALESCE(s4.t4, s3.t3, s2.t2, s1.t1) AS last_step_us " +
          "FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id) " +
          "LEFT JOIN s4 USING (user_id)"),

      // the streaming twin must equal the BATCH chain on an ordered
      // replay — the oracle IS the batch funnel prediction
      "streaming_funnel" ->
        (s"WITH $funnelChainCte " +
          "SELECT s1.user_id, " +
          "CASE WHEN s4.user_id IS NOT NULL THEN 4 WHEN s3.user_id IS NOT NULL THEN 3 " +
          "WHEN s2.user_id IS NOT NULL THEN 2 ELSE 1 END AS depth, " +
          "s1.t1 AS first_step_us, " +
          "COALESCE(s4.t4, s3.t3, s2.t2, s1.t1) AS last_step_us " +
          "FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id) " +
          "LEFT JOIN s4 USING (user_id)"),

      "funnel_users_stepwin" ->
        (s"WITH $funnelStepCte " +
          "SELECT s1.user_id, " +
          "CASE WHEN s4.user_id IS NOT NULL THEN 4 WHEN s3.user_id IS NOT NULL THEN 3 " +
          "WHEN s2.user_id IS NOT NULL THEN 2 ELSE 1 END AS depth, " +
          "s1.t1 AS first_step_us, " +
          "COALESCE(s4.t4, s3.t3, s2.t2, s1.t1) AS last_step_us " +
          "FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id) " +
          "LEFT JOIN s4 USING (user_id)"),

      "funnel_step_times" ->
        (s"WITH $funnelChainCte " +
          "SELECT user_id, CAST(1 AS INTEGER) AS step_idx, 'signup' AS step, t1 AS t_us FROM s1 " +
          "UNION ALL SELECT user_id, CAST(2 AS INTEGER), 'view', t2 FROM s2 " +
          "UNION ALL SELECT user_id, CAST(3 AS INTEGER), 'click', t3 FROM s3 " +
          "UNION ALL SELECT user_id, CAST(4 AS INTEGER), 'purchase', t4 FROM s4"),

      "funnel_lags" ->
        (s"WITH $funnelChainCte, " +
          "j AS (SELECT s1.user_id, s1.t1, s2.t2, s3.t3, s4.t4 FROM s1 " +
          "LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id) " +
          "LEFT JOIN s4 USING (user_id)) " +
          "SELECT CAST(1 AS INTEGER) AS step_idx, 'signup' AS step, COUNT(t1) AS users, " +
          "CAST(0 AS BIGINT) AS min_lag_us, CAST(0 AS BIGINT) AS max_lag_us, " +
          "CAST(0 AS BIGINT) AS sum_lag_us FROM j " +
          "UNION ALL SELECT CAST(2 AS INTEGER), 'view', COUNT(t2), " +
          "CAST(COALESCE(MIN(t2 - t1), 0) AS BIGINT), CAST(COALESCE(MAX(t2 - t1), 0) AS BIGINT), " +
          "CAST(COALESCE(SUM(t2 - t1), 0) AS BIGINT) FROM j " +
          "UNION ALL SELECT CAST(3 AS INTEGER), 'click', COUNT(t3), " +
          "CAST(COALESCE(MIN(t3 - t2), 0) AS BIGINT), CAST(COALESCE(MAX(t3 - t2), 0) AS BIGINT), " +
          "CAST(COALESCE(SUM(t3 - t2), 0) AS BIGINT) FROM j " +
          "UNION ALL SELECT CAST(4 AS INTEGER), 'purchase', COUNT(t4), " +
          "CAST(COALESCE(MIN(t4 - t3), 0) AS BIGINT), CAST(COALESCE(MAX(t4 - t3), 0) AS BIGINT), " +
          "CAST(COALESCE(SUM(t4 - t3), 0) AS BIGINT) FROM j"),

      "funnel_report" ->
        (s"WITH $funnelChainCte, " +
          "d AS (SELECT s1.user_id, CASE WHEN s4.user_id IS NOT NULL THEN 4 " +
          "WHEN s3.user_id IS NOT NULL THEN 3 WHEN s2.user_id IS NOT NULL THEN 2 " +
          "ELSE 1 END AS depth FROM s1 LEFT JOIN s2 USING (user_id) " +
          "LEFT JOIN s3 USING (user_id) LEFT JOIN s4 USING (user_id)), " +
          "steps(step_idx, step) AS (VALUES (1, 'signup'), (2, 'view'), " +
          "(3, 'click'), (4, 'purchase')) " +
          "SELECT step_idx, step, " +
          "(SELECT COUNT(*) FROM d WHERE d.depth >= steps.step_idx) AS users FROM steps"),

      "temporal_split" ->
        ("SELECT event_id, CASE WHEN epoch_us(ts) < 1704326400000000 THEN 'train' " +
          "WHEN epoch_us(ts) < 1704369600000000 THEN 'embargo' " +
          "WHEN epoch_us(ts) < 1704585600000000 THEN 'val' " +
          "WHEN epoch_us(ts) < 1704628800000000 THEN 'embargo' " +
          "ELSE 'test' END AS split FROM events"),

      "event_transitions" ->
        ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, event_type " +
          "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL " +
          "AND event_id IS NOT NULL), " +
          "p AS (SELECT event_type AS from_type, " +
          "LEAD(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS to_type " +
          "FROM e) " +
          "SELECT from_type, to_type, COUNT(*) AS transitions FROM p " +
          "WHERE to_type IS NOT NULL GROUP BY 1, 2"),

      // same total order + null exclusion as the matrix; paths of the
      // first 5 events, top 20 with the path-asc tie rule
      "event_paths" ->
        ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, " +
          "COALESCE(event_type, '(null)') AS et FROM events " +
          "WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL), " +
          "r AS (SELECT user_id, et, row_number() OVER " +
          "(PARTITION BY user_id ORDER BY t, event_id) AS rn FROM e), " +
          "p AS (SELECT user_id, string_agg(et, ' > ' ORDER BY rn) AS path " +
          "FROM r WHERE rn <= 5 GROUP BY user_id), " +
          "c AS (SELECT path, COUNT(*) AS users FROM p GROUP BY 1) " +
          "SELECT path, users FROM c ORDER BY users DESC, path ASC LIMIT 20"),

      // the committed integer replication of farthest-first on int8 codes
      "kcenter_select" ->
        ("SELECT rank, vec_id, d2 " +
          s"FROM read_parquet('$goldenDir/kcenter_sf001.parquet')"),

      "retention_cohorts" ->
        ("WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS p " +
          "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
          "f AS (SELECT user_id, MIN(p) AS cohort_period FROM e GROUP BY 1) " +
          "SELECT cohort_period, p - cohort_period AS period_offset, " +
          "COUNT(DISTINCT user_id) AS users " +
          "FROM e JOIN f USING (user_id) GROUP BY 1, 2"),

      // the streaming twin on an ordered replay equals the batch triangle
      "streaming_retention" ->
        ("WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS p " +
          "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
          "f AS (SELECT user_id, MIN(p) AS cohort_period FROM e GROUP BY 1) " +
          "SELECT cohort_period, p - cohort_period AS period_offset, " +
          "COUNT(DISTINCT user_id) AS users " +
          "FROM e JOIN f USING (user_id) GROUP BY 1, 2"),

      // the oracle predicts the exact counts AND that every cell's HLL
      // estimate lands inside the tolerance (the P34 recall-gate pattern)
      "retention_cohorts_approx" ->
        ("WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS p " +
          "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
          "f AS (SELECT user_id, MIN(p) AS cohort_period FROM e GROUP BY 1) " +
          "SELECT cohort_period, p - cohort_period AS period_offset, " +
          "COUNT(DISTINCT user_id) AS users, TRUE AS hll_ok " +
          "FROM e JOIN f USING (user_id) GROUP BY 1, 2"),

      "sessionize" ->
        ("WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'view'), " +
          "m AS (SELECT event_id, user_id, ts_us, " +
          "CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new " +
          "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)) " +
          "SELECT event_id, user_id, ts_us, " +
          "CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx " +
          "FROM m"),

      "count_null_events" ->
        ("SELECT COUNT(*) FILTER (WHERE event_type = 'error' OR value IS NULL) AS value_nulls, " +
          "COUNT(*) AS n FROM events"),

      // P115: the watermark recurrence replayed — exclusive running max of
      // event time over arrival order, integer-microsecond drop decisions
      "watermark_plan" ->
        ("WITH e AS (SELECT event_id, " +
          "epoch_us(ts) - (event_id % 10) * 180000000 AS tus FROM events), " +
          "m AS (SELECT event_id, tus, MAX(tus) OVER (ORDER BY event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm FROM e), " +
          "l AS (SELECT CASE WHEN wm IS NULL OR wm <= tus THEN 0 ELSE wm - tus END AS late FROM m), " +
          "d AS (SELECT * FROM UNNEST([0, 60, 300, 900, 1800]) AS t(delay_s)) " +
          "SELECT CAST(delay_s AS BIGINT) AS delay_s, " +
          "CAST(COUNT(*) AS BIGINT) AS events, " +
          "CAST(SUM(CASE WHEN late > delay_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS dropped, " +
          "CAST(MAX(late) AS BIGINT) AS max_lateness_us " +
          "FROM l, d GROUP BY delay_s"),

      "ticks_roundtrip" ->
        ("SELECT o_orderkey, " +
          "epoch_us(o_orderdate) * 10 + 621355968000000000 AS ticks, " +
          "o_orderdate AS ts_rt, " +
          "epoch_us(o_orderdate) * 1000 AS epoch_nanos, " +
          "epoch_us(o_orderdate) * 10 + 621355968000000000 AS ticks_rt, " +
          "CAST(CAST(CAST(epoch_us(o_orderdate) AS DECIMAL(26,6)) / 1000000 AS DECIMAL(20,6)) AS DOUBLE) AS epoch_sec " +
          "FROM orders"),

      "write_partitioned_readback" ->
        ("SELECT o_orderstatus, COUNT(*) AS cnt, " +
          "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key, " +
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
          "FROM orders GROUP BY o_orderstatus"),

      "zorder_write_readback" ->
        ("SELECT COUNT(*) AS cnt, CAST(SUM(l_partkey) AS BIGINT) AS sum_part, " +
          "CAST(SUM(l_suppkey) AS BIGINT) AS sum_supp, " +
          "MIN(l_orderkey) AS min_okey, MAX(l_orderkey) AS max_okey, " +
          "CAST(SUM(l_orderkey * l_linenumber) AS BIGINT) AS checksum FROM lineitem"),

      // a clean snapshot must verify whole: row total from the table, ok
      // by construction
      "manifest_verify" ->
        "SELECT COUNT(*) AS total_rows, TRUE AS all_ok FROM orders",

      // the index prunes, the filter answers: the pruned scan must equal
      // the plain IN-list read
      "bloom_skip_readback" ->
        ("SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM lineitem " +
          "WHERE l_orderkey IN (1, 7, 325, 1000)"),

      // layout permutes rows, never content: the same full-table aggregates
      "hilbert_write_readback" ->
        ("SELECT COUNT(*) AS cnt, CAST(SUM(l_partkey) AS BIGINT) AS sum_part, " +
          "CAST(SUM(l_suppkey) AS BIGINT) AS sum_supp, " +
          "MIN(l_orderkey) AS min_okey, MAX(l_orderkey) AS max_okey, " +
          "CAST(SUM(l_orderkey * l_linenumber) AS BIGINT) AS checksum FROM lineitem"),

      // same footers, independent reader: group boundaries are wherever the
      // writer put them — both sides just read them back
      "zonemap_prune" ->
        ("SELECT CAST(row_group_id + 1 AS BIGINT) AS block, num_values AS n_values, " +
          "COALESCE(CAST(stats_max_value AS DOUBLE) < 500.0 OR CAST(stats_min_value AS DOUBLE) > 2000.0, FALSE) AS skippable " +
          "FROM parquet_metadata('/tmp/graft_zonemap_gate/sf0.01/out/*.parquet') " +
          "WHERE path_in_schema = 'l_orderkey'"),

      "write_bucketed_readback" ->
        ("SELECT o.o_orderstatus, COUNT(*) AS n_items, " +
          "CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
          "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
          "GROUP BY o.o_orderstatus"),

      "diff_app_stats" ->
        (s"$diffCte SELECT diff, CAST(COUNT(*) AS BIGINT) AS \"count\" FROM (" +
          s"SELECT $action FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey" +
          ") GROUP BY diff"),

      "text_stats" ->
        (s"WITH $docTokCte SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
          "CAST(len(list_distinct(toks)) AS BIGINT) AS distinct_tokens, " +
          "CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS avg_token_len, " +
          "CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)]) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stopword_ratio " +
          "FROM tok"),

      "text_langid" ->
        (s"WITH $docTokCte, sc AS (SELECT doc_id, " +
          "len(list_intersect(list_distinct(toks), ['the','and','of','to','in','is','that','it','for','with'])) AS s_en, " +
          "len(list_intersect(list_distinct(toks), ['le','la','les','des','et','une','est','que','pour','dans'])) AS s_fr, " +
          "len(list_intersect(list_distinct(toks), ['der','die','das','und','ist','nicht','ein','mit','von','auf'])) AS s_de, " +
          "len(list_intersect(list_distinct(toks), ['el','los','las','una','es','que','por','para','como','pero'])) AS s_es " +
          "FROM tok) " +
          "SELECT doc_id, CASE WHEN s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0 THEN 'und' " +
          "WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en' " +
          "WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr' " +
          "WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS pred_lang FROM sc"),

      // one literal list, replayed as a VALUES join with contains()
      "pattern_hits" ->
        ("WITH p(i, s) AS (VALUES " +
          PatternList.zipWithIndex
            .map { case (s, i) => s"($i, '$s')" }.mkString(", ") +
          ") SELECT d.doc_id, CAST(p.i AS INT) AS pattern_id " +
          "FROM documents d, p WHERE contains(d.text, p.s)"),

      // the same explicit ranges as regex classes; length() counts
      // codepoints in DuckDB exactly as the kernel does (astral = 1)
      "script_mix" ->
        ("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_codepoints, " +
          "CAST(length(regexp_replace(text, '[^A-Za-z\\x{00C0}-\\x{024F}]', '', 'g')) AS BIGINT) AS latin, " +
          "CAST(length(regexp_replace(text, '[^\\x{0400}-\\x{04FF}]', '', 'g')) AS BIGINT) AS cyrillic, " +
          "CAST(length(regexp_replace(text, '[^\\x{0370}-\\x{03FF}]', '', 'g')) AS BIGINT) AS greek, " +
          "CAST(length(regexp_replace(text, '[^\\x{0600}-\\x{06FF}]', '', 'g')) AS BIGINT) AS arabic, " +
          "CAST(length(regexp_replace(text, '[^\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}\\x{AC00}-\\x{D7AF}]', '', 'g')) AS BIGINT) AS cjk, " +
          "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit " +
          "FROM documents"),

      "text_fingerprint" ->
        ("SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM documents"),

      "text_repetition" ->
        (s"WITH $docTokCte, g AS (SELECT doc_id, toks, " +
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

      "top_ngrams" ->
        (s"WITH $docTokCte, g AS (SELECT doc_id, " +
          "CASE WHEN len(toks) < 2 THEN [] ELSE list_distinct([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) END AS g2 " +
          "FROM tok), ex AS (SELECT u.g AS gram FROM g, unnest(g.g2) AS u(g)) " +
          "SELECT gram, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM ex " +
          "GROUP BY gram ORDER BY doc_freq DESC, gram LIMIT 20"),

      // same tokenizer, distinct trigrams per doc, doc-freq >= 2 marks a
      // gram duplicated; dup_fraction is the same IEEE division of two longs
      "novelty_profile" ->
        (s"WITH $docTokCte, g AS (SELECT doc_id, " +
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

      "dup_gram_mass" ->
        (s"WITH $docTokCte, g AS (SELECT doc_id, " +
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

      // same tokenizer count, same total order, same IEEE ceil threshold
      "quality_cut_per_source" ->
        (s"WITH $docTokCte, t AS (SELECT d.doc_id, d.source, " +
          "CAST(len(tok.toks) AS BIGINT) AS n_tokens " +
          "FROM documents d JOIN tok ON tok.doc_id = d.doc_id), " +
          "r AS (SELECT t.*, row_number() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS rk, " +
          "count(*) OVER (PARTITION BY source) AS cnt FROM t) " +
          "SELECT doc_id, source, n_tokens, CAST(rk AS INT) AS rank " +
          "FROM r WHERE CAST(rk AS DOUBLE) <= ceil(0.3 * CAST(cnt AS DOUBLE))"),

      // boolean gate: DuckDB reproduces the per-source row counts and
      // asserts the tolerance verdict is true; a broken sketch/threshold/
      // join flips it to false on the Spark side
      "quality_cut_approx" ->
        ("SELECT source, CAST(count(*) AS BIGINT) AS n_rows, TRUE AS cut_ok " +
          "FROM documents GROUP BY source"),

      "group_topk" ->
        ("SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (" +
          "SELECT o_custkey, o_orderkey, o_totalprice, " +
          "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk " +
          "FROM orders) WHERE rk <= 3"),

      "frequent_items" ->
        ("SELECT CAST(o_custkey AS VARCHAR) AS item, COUNT(*) AS cnt FROM orders " +
          "GROUP BY o_custkey " +
          "HAVING COUNT(*) >= CEIL((SELECT COUNT(*) FROM orders) * 0.001)"),

      "hll_distinct" ->
        ("SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_distinct, " +
          "TRUE AS hll_ok FROM lineitem GROUP BY l_returnflag"),

      "hll_merge_gate" ->
        ("SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_distinct, " +
          "TRUE AS merge_ok FROM lineitem GROUP BY l_returnflag"),

      // exact discrete quantile by explicit definition: the value at
      // ascending index floor(q*(n-1))+1 — no quantile_disc/percentile
      // builtin whose interpolation rule could differ between engines
      "quantile_gate" ->
        ("WITH r AS (SELECT l_returnflag, l_extendedprice AS v " +
          "FROM lineitem WHERE l_extendedprice IS NOT NULL), " +
          "s AS (SELECT l_returnflag, v, " +
          "row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn, " +
          "COUNT(*) OVER (PARTITION BY l_returnflag) AS n FROM r) " +
          "SELECT l_returnflag, v AS exact_q, TRUE AS q_ok FROM s " +
          "WHERE rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1"),

      // integer TF-IDF: df over per-doc DISTINCT tokens, idf_bits as a
      // bit-length (no libm), BIGINT score, row_number top-k per source
      "tfidf_terms" ->
        (s"WITH $docTokCte, " +
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

      // classifier: same generated weight table as a DuckDB list literal;
      // the feature index decodes the md5 first byte via hex-char positions
      "classifier_score" ->
        (s"WITH $docTokCte, " +
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

      // DSIR: full fit replication — same token+bigram feature stream and
      // md5-first-byte bucketing as classifier_score, add-one-smoothed
      // counts, floor-log2 bits via length(bin(x))-1
      "dsir_weights" ->
        (s"WITH $docTokCte, " +
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
          "LEFT JOIN tcnt USING (bucket) LEFT JOIN rcnt USING (bucket)), " +
          "tot AS (SELECT SUM(target_cnt + 1) AS tt, SUM(raw_cnt + 1) AS rt FROM j) " +
          "SELECT CAST(j.bucket AS INT) AS bucket, CAST(target_cnt AS BIGINT) AS target_cnt, " +
          "CAST(raw_cnt AS BIGINT) AS raw_cnt, " +
          "CAST((length(bin(target_cnt + 1)) - 1) - (length(bin(tt)) - 1) " +
          "- (length(bin(raw_cnt + 1)) - 1) + (length(bin(rt)) - 1) AS BIGINT) AS weight " +
          "FROM j CROSS JOIN tot"),

      "dsir_select" ->
        (s"WITH $docTokCte, " +
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
          "LEFT JOIN tcnt USING (bucket) LEFT JOIN rcnt USING (bucket)), " +
          "tot AS (SELECT SUM(target_cnt + 1) AS tt, SUM(raw_cnt + 1) AS rt FROM j), " +
          "wl AS (SELECT bucket, (length(bin(target_cnt + 1)) - 1) - (length(bin(tt)) - 1) " +
          "- (length(bin(raw_cnt + 1)) - 1) + (length(bin(rt)) - 1) AS w FROM j CROSS JOIN tot), " +
          "sc AS (SELECT fb.doc_id, SUM(wl.w) AS s FROM fb JOIN wl USING (bucket) GROUP BY fb.doc_id) " +
          "SELECT t.doc_id, CAST(COALESCE(sc.s, 0) AS BIGINT) AS dsir_score " +
          "FROM tok t LEFT JOIN sc USING (doc_id) " +
          "ORDER BY dsir_score DESC, doc_id LIMIT 100"),

      // vocabulary coverage: same tokenization, top-100 fit replayed with
      // the same (cnt desc, token asc) tie-break, membership on the token
      // strings themselves
      "vocab_top_tokens" ->
        (s"WITH $docTokCte, " +
          "uni AS (SELECT u.t AS token FROM tok, unnest(toks) AS u(t)) " +
          "SELECT token, COUNT(*) AS cnt FROM uni GROUP BY token " +
          "ORDER BY cnt DESC, token LIMIT 100"),

      "vocab_coverage" ->
        (s"WITH $docTokCte, " +
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

      // repeated spans: same window hash (md5 prefix over the space-joined
      // 3-gram), same >= 2 duplicate rule, same interval-union island SQL
      "repeated_spans" ->
        (s"WITH $docTokCte, " +
          "w AS (SELECT doc_id, i - 1 AS pos, " +
          "substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 16) AS h " +
          "FROM tok, unnest(range(1, len(toks) - 1)) AS r(i)), " +
          "dh AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2), " +
          "dw AS (SELECT w.doc_id, w.pos FROM w JOIN dh USING (h)), " +
          "i0 AS (SELECT doc_id, pos, MAX(pos + 2) OVER (PARTITION BY doc_id ORDER BY pos " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM dw), " +
          "i1 AS (SELECT doc_id, pos, CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END AS ni FROM i0), " +
          "i2 AS (SELECT doc_id, pos, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i1), " +
          "isl AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos + 2) AS e FROM i2 GROUP BY doc_id, island), " +
          "per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_windows FROM dw GROUP BY doc_id), " +
          "cov AS (SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS covered_tokens FROM isl GROUP BY doc_id) " +
          "SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens, " +
          "COALESCE(per.dup_windows, 0) AS dup_windows, " +
          "COALESCE(cov.covered_tokens, 0) AS covered_tokens " +
          "FROM tok t LEFT JOIN per USING (doc_id) LEFT JOIN cov USING (doc_id)"),

      "remove_repeated_spans" ->
        (s"WITH $docTokCte, " +
          "w AS (SELECT doc_id, i - 1 AS pos, " +
          "substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 16) AS h " +
          "FROM tok, unnest(range(1, len(toks) - 1)) AS r(i)), " +
          "dh AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2), " +
          "dw AS (SELECT w.doc_id, w.pos FROM w JOIN dh USING (h)), " +
          "i0 AS (SELECT doc_id, pos, MAX(pos + 2) OVER (PARTITION BY doc_id ORDER BY pos " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM dw), " +
          "i1 AS (SELECT doc_id, pos, CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END AS ni FROM i0), " +
          "i2 AS (SELECT doc_id, pos, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i1), " +
          "isl AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos + 2) AS e FROM i2 GROUP BY doc_id, island), " +
          "cp AS (SELECT doc_id, r.ti FROM isl, unnest(range(s, e + 1)) AS r(ti)), " +
          "idx AS (SELECT t.doc_id, r.ti, t.toks[r.ti + 1] AS tok " +
          "FROM tok t, unnest(range(0, len(t.toks))) AS r(ti)), " +
          "kept AS (SELECT idx.doc_id, idx.ti, idx.tok FROM idx " +
          "LEFT JOIN cp ON cp.doc_id = idx.doc_id AND cp.ti = idx.ti WHERE cp.doc_id IS NULL), " +
          "reb AS (SELECT doc_id, array_to_string(list(tok ORDER BY ti), ' ') AS clean_text, " +
          "CAST(COUNT(*) AS BIGINT) AS kept FROM kept GROUP BY doc_id) " +
          "SELECT t.doc_id, COALESCE(reb.clean_text, '') AS clean_text, " +
          "CAST(len(t.toks) - COALESCE(reb.kept, 0) AS BIGINT) AS removed_tokens " +
          "FROM tok t LEFT JOIN reb USING (doc_id)"),

      // keep-one variant: identical pipeline, but the canonical occurrence
      // (rank 1 by (doc_id, pos) within each window hash) is exempted
      "remove_repeated_spans_keepfirst" ->
        (s"WITH $docTokCte, " +
          "w AS (SELECT doc_id, i - 1 AS pos, " +
          "substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 16) AS h " +
          "FROM tok, unnest(range(1, len(toks) - 1)) AS r(i)), " +
          "own AS (SELECT doc_id, pos, " +
          "ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk, " +
          "COUNT(*) OVER (PARTITION BY h) AS cnt FROM w), " +
          "dw AS (SELECT doc_id, pos FROM own WHERE cnt >= 2 AND rk > 1), " +
          "i0 AS (SELECT doc_id, pos, MAX(pos + 2) OVER (PARTITION BY doc_id ORDER BY pos " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM dw), " +
          "i1 AS (SELECT doc_id, pos, CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END AS ni FROM i0), " +
          "i2 AS (SELECT doc_id, pos, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i1), " +
          "isl AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos + 2) AS e FROM i2 GROUP BY doc_id, island), " +
          "cp AS (SELECT doc_id, r.ti FROM isl, unnest(range(s, e + 1)) AS r(ti)), " +
          "idx AS (SELECT t.doc_id, r.ti, t.toks[r.ti + 1] AS tok " +
          "FROM tok t, unnest(range(0, len(t.toks))) AS r(ti)), " +
          "kept AS (SELECT idx.doc_id, idx.ti, idx.tok FROM idx " +
          "LEFT JOIN cp ON cp.doc_id = idx.doc_id AND cp.ti = idx.ti WHERE cp.doc_id IS NULL), " +
          "reb AS (SELECT doc_id, array_to_string(list(tok ORDER BY ti), ' ') AS clean_text, " +
          "CAST(COUNT(*) AS BIGINT) AS kept FROM kept GROUP BY doc_id) " +
          "SELECT t.doc_id, COALESCE(reb.clean_text, '') AS clean_text, " +
          "CAST(len(t.toks) - COALESCE(reb.kept, 0) AS BIGINT) AS removed_tokens " +
          "FROM tok t LEFT JOIN reb USING (doc_id)"),

      // BM25: full arithmetic replication — bit-length idf, floored integer
      // avgdl, exact fixed-point saturation term (x1e6), BIGINT score sums,
      // one final division. Same query literals as the Spark side.
      "bm25_topk" ->
        (s"WITH $docTokCte, " +
          "qt AS (SELECT * FROM (VALUES (0,'hash'),(0,'table'),(0,'scan')," +
          "(1,'merge'),(1,'sort'),(2,'window'),(2,'batch'),(2,'slow')," +
          "(3,'spark'),(3,'value'),(3,'zzzunseen')) AS v(query_id, term)), " +
          "stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
          "CAST(SUM(len(toks)) AS BIGINT) AS total_tokens FROM tok), " +
          "post AS (SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS dl, x.term " +
          "FROM tok t, unnest(t.toks) AS x(term) " +
          "WHERE x.term IN (SELECT term FROM qt)), " +
          "tf AS (SELECT doc_id, term, dl, CAST(COUNT(*) AS BIGINT) AS tf " +
          "FROM post GROUP BY doc_id, term, dl), " +
          "dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term), " +
          "contrib AS (SELECT tf.term, tf.doc_id, " +
          "CAST(length(format('{:b}', s.n_docs)) - length(format('{:b}', dfc.df)) AS BIGINT) " +
          "* ((1000000 * 44 * tf.tf * (s.total_tokens // s.n_docs)) // " +
          "(20 * tf.tf * (s.total_tokens // s.n_docs) + 6 * (s.total_tokens // s.n_docs) + 18 * tf.dl)) AS c " +
          "FROM tf JOIN dfc USING (term) CROSS JOIN stats s), " +
          "sc AS (SELECT qt.query_id, contrib.doc_id, CAST(SUM(contrib.c) AS BIGINT) AS score_scaled " +
          "FROM qt JOIN contrib USING (term) GROUP BY qt.query_id, contrib.doc_id) " +
          "SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank, doc_id, " +
          "CAST(score_scaled AS DOUBLE) / 1000000 AS score FROM " +
          "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS rank FROM sc) " +
          "WHERE rank <= 10"),

      // the full BM25 replication at k*factor=10, positives removed via
      // NOT EXISTS, survivors renumbered 1..5 per query
      "hard_negatives" ->
        (s"WITH $docTokCte, " +
          "qt AS (SELECT * FROM (VALUES (0,'hash'),(0,'table'),(0,'scan')," +
          "(1,'merge'),(1,'sort'),(2,'window'),(2,'batch'),(2,'slow')," +
          "(3,'spark'),(3,'value'),(3,'zzzunseen')) AS v(query_id, term)), " +
          "pos AS (SELECT * FROM (VALUES (0, 3),(0, 17),(1, 5),(2, 999999)) AS v(query_id, doc_id)), " +
          "stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
          "CAST(SUM(len(toks)) AS BIGINT) AS total_tokens FROM tok), " +
          "post AS (SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS dl, x.term " +
          "FROM tok t, unnest(t.toks) AS x(term) " +
          "WHERE x.term IN (SELECT term FROM qt)), " +
          "tf AS (SELECT doc_id, term, dl, CAST(COUNT(*) AS BIGINT) AS tf " +
          "FROM post GROUP BY doc_id, term, dl), " +
          "dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term), " +
          "contrib AS (SELECT tf.term, tf.doc_id, " +
          "CAST(length(format('{:b}', s.n_docs)) - length(format('{:b}', dfc.df)) AS BIGINT) " +
          "* ((1000000 * 44 * tf.tf * (s.total_tokens // s.n_docs)) // " +
          "(20 * tf.tf * (s.total_tokens // s.n_docs) + 6 * (s.total_tokens // s.n_docs) + 18 * tf.dl)) AS c " +
          "FROM tf JOIN dfc USING (term) CROSS JOIN stats s), " +
          "sc AS (SELECT qt.query_id, contrib.doc_id, CAST(SUM(contrib.c) AS BIGINT) AS score_scaled " +
          "FROM qt JOIN contrib USING (term) GROUP BY qt.query_id, contrib.doc_id), " +
          "topk AS (SELECT * FROM " +
          "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS rank FROM sc) " +
          "WHERE rank <= 10), " +
          "neg AS (SELECT t.*, row_number() OVER (PARTITION BY t.query_id ORDER BY t.rank) AS neg_rank " +
          "FROM topk t WHERE NOT EXISTS (SELECT 1 FROM pos p " +
          "WHERE p.query_id = t.query_id AND p.doc_id = t.doc_id)) " +
          "SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neg_rank AS INT) AS neg_rank, doc_id, " +
          "CAST(score_scaled AS DOUBLE) / 1000000 AS score FROM neg WHERE neg_rank <= 5"),

      // P111: full relational replay of the margin algebra — int8 quantize
      // (the embedding_int8_codes replay), exact integer dots, cos8 as one
      // double from exact ints, NN4 both directions, fixed-point
      // neighborhood sums (CAST to BIGINT: DuckDB promotes SUM to
      // HUGEINT), one double division, mutual best.
      "mined_pairs" ->
        ("WITH base AS (SELECT vec_id, embedding AS e, " +
          "COALESCE(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 0.0) AS m FROM embeddings), " +
          "codes AS (SELECT vec_id, CASE WHEN m = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT)) " +
          "ELSE list_transform(e, x -> CAST(GREATEST(-127.0, LEAST(127.0, " +
          "floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5))) AS BIGINT)) END AS c FROM base), " +
          "n AS (SELECT vec_id, c, list_sum(list_transform(list_zip(c, c), p -> p[1] * p[2])) AS nn FROM codes), " +
          "l AS (SELECT vec_id AS id, c, nn FROM n WHERE vec_id % 2 = 0), " +
          "r AS (SELECT vec_id AS id, c, nn FROM n WHERE vec_id % 2 = 1), " +
          "sc AS (SELECT l.id AS lid, r.id AS rid, " +
          "  CASE WHEN l.nn = 0 OR r.nn = 0 THEN 0.0 ELSE " +
          "  CAST(list_sum(list_transform(list_zip(l.c, r.c), p -> p[1] * p[2])) AS DOUBLE) / " +
          "  sqrt(CAST(l.nn AS DOUBLE) * CAST(r.nn AS DOUBLE)) END AS cos " +
          "  FROM l, r), " +
          "nnlr AS (SELECT * FROM (SELECT lid, rid, cos, " +
          "  ROW_NUMBER() OVER (PARTITION BY lid ORDER BY cos DESC, rid) AS rk " +
          "  FROM sc) WHERE rk <= 4), " +
          "nnrl AS (SELECT * FROM (SELECT lid, rid, cos, " +
          "  ROW_NUMBER() OVER (PARTITION BY rid ORDER BY cos DESC, lid) AS rk " +
          "  FROM sc) WHERE rk <= 4), " +
          "a AS (SELECT lid, CAST(SUM(CAST(FLOOR(cos * 1048576) AS BIGINT)) AS BIGINT) AS afp, " +
          "  CAST(COUNT(*) AS BIGINT) AS na FROM nnlr GROUP BY lid), " +
          "b AS (SELECT rid, CAST(SUM(CAST(FLOOR(cos * 1048576) AS BIGINT)) AS BIGINT) AS bfp, " +
          "  CAST(COUNT(*) AS BIGINT) AS nb FROM nnrl GROUP BY rid), " +
          "fwm AS (SELECT nnlr.lid, nnlr.rid, cos, " +
          "  CASE WHEN a.afp * b.nb + b.bfp * a.na > 0 THEN " +
          "    CAST(CAST(FLOOR(cos * 1048576) AS BIGINT) * 2 * a.na * b.nb AS DOUBLE) / " +
          "    CAST(a.afp * b.nb + b.bfp * a.na AS DOUBLE) " +
          "  END AS margin FROM nnlr JOIN a USING (lid) JOIN b USING (rid)), " +
          "fw AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lid " +
          "  ORDER BY margin DESC NULLS LAST, rid) AS fr FROM fwm) WHERE fr = 1), " +
          "bwm AS (SELECT nnrl.lid, nnrl.rid, " +
          "  CASE WHEN a.afp * b.nb + b.bfp * a.na > 0 THEN " +
          "    CAST(CAST(FLOOR(cos * 1048576) AS BIGINT) * 2 * a.na * b.nb AS DOUBLE) / " +
          "    CAST(a.afp * b.nb + b.bfp * a.na AS DOUBLE) " +
          "  END AS margin FROM nnrl JOIN a USING (lid) JOIN b USING (rid)), " +
          "bw AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY rid " +
          "  ORDER BY margin DESC NULLS LAST, lid) AS br FROM bwm) WHERE br = 1) " +
          "SELECT fw.lid AS left_id, fw.rid AS right_id, fw.cos AS cosine, fw.margin AS margin " +
          "FROM fw JOIN bw ON fw.lid = bw.lid AND fw.rid = bw.rid " +
          "WHERE fw.margin >= 1.0"),

      // full count-min replay: counters over ALL tokens (collisions
      // included), then min-over-rows point queries for the top-20
      "cms_token_counts" ->
        (s"WITH $docTokCte, " +
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

      // hybrid retrieval: the full BM25 replication (same CTE chain as
      // bm25_topk) fused with DuckDB's own exact-cosine top-10 by integer
      // reciprocal-rank contributions — every step exact, BIGINT sums.
      "hybrid_topk" ->
        (s"WITH $docTokCte, " +
          "qt AS (SELECT * FROM (VALUES (0,'hash'),(0,'table'),(0,'scan')," +
          "(1,'merge'),(1,'sort'),(2,'window'),(2,'batch'),(2,'slow')," +
          "(3,'spark'),(3,'value'),(3,'zzzunseen')) AS v(query_id, term)), " +
          "stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
          "CAST(SUM(len(toks)) AS BIGINT) AS total_tokens FROM tok), " +
          "post AS (SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS dl, x.term " +
          "FROM tok t, unnest(t.toks) AS x(term) " +
          "WHERE x.term IN (SELECT term FROM qt)), " +
          "tf AS (SELECT doc_id, term, dl, CAST(COUNT(*) AS BIGINT) AS tf " +
          "FROM post GROUP BY doc_id, term, dl), " +
          "dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term), " +
          "contrib AS (SELECT tf.term, tf.doc_id, " +
          "CAST(length(format('{:b}', s.n_docs)) - length(format('{:b}', dfc.df)) AS BIGINT) " +
          "* ((1000000 * 44 * tf.tf * (s.total_tokens // s.n_docs)) // " +
          "(20 * tf.tf * (s.total_tokens // s.n_docs) + 6 * (s.total_tokens // s.n_docs) + 18 * tf.dl)) AS c " +
          "FROM tf JOIN dfc USING (term) CROSS JOIN stats s), " +
          "sc AS (SELECT qt.query_id, contrib.doc_id, CAST(SUM(contrib.c) AS BIGINT) AS score_scaled " +
          "FROM qt JOIN contrib USING (term) GROUP BY qt.query_id, contrib.doc_id), " +
          "bm AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank FROM " +
          "(SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS rank FROM sc) " +
          "WHERE rank <= 10), " +
          "q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 4), " +
          "ann AS (SELECT query_id, doc_id, rank FROM " +
          "(SELECT q.vec_id AS query_id, c.vec_id AS doc_id, " +
          "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank " +
          "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id) WHERE rank <= 10), " +
          "u AS (SELECT query_id, doc_id, rank FROM bm UNION ALL SELECT query_id, doc_id, rank FROM ann), " +
          "fused AS (SELECT query_id, doc_id, CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_scaled " +
          "FROM u GROUP BY query_id, doc_id) " +
          "SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rrf_scaled FROM " +
          "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id) AS rank FROM fused) " +
          "WHERE rank <= 10"),

      "quality_checks" ->
        ("SELECT * FROM (" +
          "SELECT 'not_null' AS rule, 'o_orderkey' AS \"column\", " +
          "CAST(COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS DOUBLE) / COUNT(*) AS metric, " +
          "0.0 AS threshold, " +
          "CAST(COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS DOUBLE) / COUNT(*) <= 0.0 AS pass FROM orders " +
          "UNION ALL SELECT 'unique', 'o_orderkey', " +
          "CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS DOUBLE), 0.0, " +
          "COUNT(o_orderkey) = COUNT(DISTINCT o_orderkey) FROM orders " +
          "UNION ALL SELECT 'not_null', 'o_custkey', " +
          "CAST(COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS DOUBLE) / COUNT(*), 0.0, " +
          "CAST(COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS DOUBLE) / COUNT(*) <= 0.0 FROM orders " +
          "UNION ALL SELECT 'in_range', 'o_custkey', " +
          "CAST(COUNT(CASE WHEN o_custkey IS NOT NULL AND " +
          "(CAST(o_custkey AS DOUBLE) < 1 OR CAST(o_custkey AS DOUBLE) > 1e9) THEN 1 END) AS DOUBLE), 0.0, " +
          "COUNT(CASE WHEN o_custkey IS NOT NULL AND " +
          "(CAST(o_custkey AS DOUBLE) < 1 OR CAST(o_custkey AS DOUBLE) > 1e9) THEN 1 END) = 0 FROM orders " +
          "UNION ALL SELECT 'matches_regex', 'o_orderstatus', " +
          "CAST(COUNT(CASE WHEN o_orderstatus IS NOT NULL AND regexp_matches(o_orderstatus, '^[FOP]$') THEN 1 END) AS DOUBLE) / " +
          "COUNT(CASE WHEN o_orderstatus IS NOT NULL THEN 1 END), 1.0, " +
          "CAST(COUNT(CASE WHEN o_orderstatus IS NOT NULL AND regexp_matches(o_orderstatus, '^[FOP]$') THEN 1 END) AS DOUBLE) / " +
          "COUNT(CASE WHEN o_orderstatus IS NOT NULL THEN 1 END) >= 1.0 FROM orders " +
          "UNION ALL SELECT 'min_rows', '', CAST(COUNT(*) AS DOUBLE), 100.0, " +
          "COUNT(*) >= 100 FROM orders)"),

      "chat_turns" -> s"WITH $chatTurnsCte $chatStatsSelect",

      "chat_truncate" -> s"WITH $chatTurnsCte ${chatTrimSelect()}",

      "chat_messages" -> s"WITH $chatMessagesCte $chatStatsSelect",

      "chat_messages_truncate" -> s"WITH $chatMessagesCte ${chatTrimSelect()}",

      "chat_rebuilt" ->
        (s"WITH $chatTurnsCte, ${chatKeptCte(16L)} " +
          "SELECT doc_id AS id, string_agg(" +
          "CASE WHEN role <> '' THEN role || ': ' || content ELSE content END, " +
          "chr(10) ORDER BY turn_idx) AS trimmed_text " +
          "FROM tr WHERE kept GROUP BY doc_id"),

      "chat_messages_rebuilt" ->
        (s"WITH $chatMessagesCte, ${chatKeptCte(16L)}, " +
          "k AS (SELECT doc_id, role, content, " +
          "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY turn_idx) - 1 AS new_idx " +
          "FROM tr WHERE kept) " +
          "SELECT doc_id AS id, CAST(new_idx AS BIGINT) AS turn_idx, role, content, " +
          "CAST(len(regexp_extract_all(content, '\\S+')) AS BIGINT) AS n_tokens FROM k"),

      // exact all-pairs Jaccard over the CONTENT the parse must recover:
      // the role-scrambled +100000 re-wraps carry identical content, so
      // role words leaking into the fingerprint would break the match
      "chat_neardup" ->
        ("WITH d AS (SELECT doc_id, text FROM documents " +
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

      // per-turn byte-BPE counts come from the golden replication; the
      // trim window itself replays in SQL at budget 24
      "chat_truncate_bpe" ->
        (s"WITH tt AS (SELECT doc_id, turn_idx, role, n_tokens " +
          s"FROM read_parquet('$goldenDir/chat_bpe_turns_sf001.parquet')) " +
          chatTrimSelect(24L)),

      "integrity_checks" ->
        ("SELECT * FROM (" +
          "SELECT 'foreign_key' AS rule, 'l_orderkey' AS \"column\", " +
          "CAST((SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL " +
          "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS DOUBLE) AS metric, " +
          "0.0 AS threshold, " +
          "(SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL " +
          "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0 AS pass " +
          "UNION ALL SELECT 'foreign_key', 'l_suppkey', " +
          "CAST((SELECT COUNT(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL " +
          "AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS DOUBLE), 0.0, " +
          "(SELECT COUNT(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL " +
          "AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) = 0 " +
          "UNION ALL SELECT 'foreign_key', 'l_orderkey', " +
          "CAST((SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL " +
          "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey % 2 = 0 AND o.o_orderkey = l.l_orderkey)) AS DOUBLE), 0.0, " +
          "(SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL " +
          "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey % 2 = 0 AND o.o_orderkey = l.l_orderkey)) = 0)"),

      "skew_report" ->
        ("SELECT user_id AS key, cnt, CAST(cnt AS DOUBLE) / total AS share, " +
          "CAST(rk AS INT) AS rank FROM " +
          "(SELECT user_id, COUNT(*) AS cnt, SUM(COUNT(*)) OVER () AS total, " +
          "row_number() OVER (ORDER BY COUNT(*) DESC, user_id NULLS LAST) AS rk " +
          "FROM events GROUP BY user_id) WHERE rk <= 10"),

      "profile_orders" -> Seq(
        ("o_orderkey", "o_orderkey"),
        ("o_custkey", "o_custkey"),
        ("o_orderstatus", "o_orderstatus"),
        ("o_totalprice", "CAST(o_totalprice AS DECIMAL(18,2))"),
        ("o_orderdate", "CAST(o_orderdate AS DATE)")).map { case (name, expr) =>
          s"SELECT '$name' AS \"column\", COUNT(*) AS n_rows, " +
            s"COUNT(CASE WHEN $expr IS NULL THEN 1 END) AS n_nulls, " +
            s"COUNT(DISTINCT $expr) AS n_distinct, " +
            s"CAST(MIN($expr) AS VARCHAR) AS min_value, " +
            s"CAST(MAX($expr) AS VARCHAR) AS max_value FROM orders"
        }.mkString(" UNION ALL "),

      "fuzzy_pairs" ->
        ("SELECT a.c_custkey AS \"idA\", b.c_custkey AS \"idB\", " +
          "CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist " +
          "FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey " +
          "AND a.c_name <> b.c_name AND levenshtein(a.c_name, b.c_name) <= 1"),

      "pack_sequences" ->
        (s"WITH $docTokCte, t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok), " +
          "c AS (SELECT doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM t) " +
          "SELECT doc_id, n_tokens, CAST(floor(cb / 256) AS BIGINT) AS seq_id, " +
          "CAST(cb % 256 AS BIGINT) AS seq_offset FROM c"),

      "lm_score_bits" ->
        (s"WITH $docTokCte, " +
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

      "text_chunks" ->
        (s"WITH $docTokCte, c AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 24.0) AS BIGINT) AS nc " +
          "FROM tok WHERE len(toks) > 0) " +
          "SELECT doc_id, CAST(u.i AS INT) AS chunk_index, " +
          "array_to_string(toks[u.i * 24 + 1 : u.i * 24 + 32], ' ') AS chunk_text " +
          "FROM c, unnest(range(0, nc)) AS u(i)"),

      "corpus_quality_report" ->
        (s"WITH $docTokCte, st AS (SELECT doc_id, toks, " +
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

      // compaction only moves rows: the oracle is the source table itself
      "compact_readback" ->
        ("SELECT o_orderkey, o_custkey, " +
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice " +
          "FROM orders"),

      // jsonl round-trip: the data must survive the sink+source byte-exactly
      "jsonl_readback" ->
        "SELECT doc_id, text, lang, source FROM documents",

      // both snapshots tokenized and aggregated independently, full-outer
      // joined with zero-coalesce — the same ratio-of-sums arithmetic as
      // corpus_quality_report on each side
      "corpus_drift" ->
        ("WITH bt AS (SELECT source AS grp, " +
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

      // streaming gates: the replay feeding (one occurrence per key per
      // micro-batch, batches in occurrence order) pins keep-first to the
      // smallest id, so each oracle is the batch-equivalent prediction
      "streaming_dedup" ->
        ("WITH corpus AS (SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 100000 AS doc_id, text || '  ' AS text " +
          "FROM documents WHERE doc_id % 7 = 0), " +
          "fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f FROM corpus) " +
          "SELECT doc_id FROM fp " +
          "QUALIFY ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) = 1"),

      "streaming_curate" ->
        ("WITH corpus AS (SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 100000 AS doc_id, text || '  ' AS text " +
          "FROM documents WHERE doc_id % 7 = 0), " +
          "ctok AS (SELECT doc_id, text, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM corpus), " +
          "lsc AS (SELECT doc_id, " +
          "len(list_intersect(list_distinct(toks), ['the','and','of','to','in','is','that','it','for','with'])) AS s_en, " +
          "len(list_intersect(list_distinct(toks), ['le','la','les','des','et','une','est','que','pour','dans'])) AS s_fr, " +
          "len(list_intersect(list_distinct(toks), ['der','die','das','und','ist','nicht','ein','mit','von','auf'])) AS s_de, " +
          "len(list_intersect(list_distinct(toks), ['el','los','las','una','es','que','por','para','como','pero'])) AS s_es FROM ctok), " +
          "l1 AS (SELECT doc_id FROM lsc WHERE NOT (s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0) " +
          "AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_es), " +
          "qg AS (SELECT doc_id, toks, CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS g2 " +
          "FROM ctok WHERE doc_id IN (SELECT doc_id FROM l1)), " +
          "qm AS (SELECT doc_id, len(toks) AS n, " +
          "CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_len, " +
          "CAST(len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)]) AS DOUBLE) / len(toks) AS stop_ratio, " +
          "len(g2) AS t2, CASE WHEN len(g2) = 0 THEN 0 ELSE COALESCE(list_max([len([y for y in g2 if y = x]) for x in list_distinct(g2)]), 0) END AS p2 FROM qg), " +
          "l2 AS (SELECT doc_id FROM qm WHERE n >= 30 AND n <= 90 AND avg_len >= 3.0 AND avg_len <= 6.0 " +
          "AND stop_ratio >= 0.02 AND (CASE WHEN t2 = 0 THEN 0.0 ELSE CAST(p2 AS DOUBLE) / CAST(t2 AS DOUBLE) END) <= 0.2), " +
          "l3 AS (SELECT doc_id FROM l2 " +
          "WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'), " +
          "fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f FROM ctok " +
          "WHERE doc_id IN (SELECT doc_id FROM l3)) " +
          "SELECT doc_id FROM fp " +
          "QUALIFY ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) = 1"),

      "streaming_heavy_hitters" ->
        ("WITH m AS (SELECT (1000000000 + doc_id % 120) // 60 * 60 AS window_start, " +
          "source AS key FROM documents), " +
          "c AS (SELECT window_start, key, COUNT(*) AS est_count FROM m GROUP BY 1, 2) " +
          "SELECT CAST(window_start AS BIGINT) AS window_start, CAST(rn AS INT) AS rank, " +
          "key, est_count FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start " +
          "ORDER BY est_count DESC, key) AS rn FROM c) x WHERE rn <= 5"),

      // P117: lateness is stateless per row, so the streaming report is
      // exactly the static replay — hour windows, drop counts per delay
      "streaming_lateness" ->
        ("WITH e AS (SELECT event_id, " +
          "epoch_us(ts) - (event_id % 10) * 180000000 AS eus, " +
          "epoch_us(ts) AS ius FROM events), " +
          "l AS (SELECT eus, CASE WHEN ius - eus < 0 THEN 0 ELSE ius - eus END AS late FROM e), " +
          "w AS (SELECT CAST((eus // 3600000000) * 3600 AS BIGINT) AS window_start, late FROM l), " +
          "d AS (SELECT * FROM UNNEST([0, 300, 900]) AS t(delay_s)) " +
          "SELECT window_start, CAST(delay_s AS BIGINT) AS delay_s, " +
          "CAST(COUNT(*) AS BIGINT) AS events, " +
          "CAST(SUM(CASE WHEN late > delay_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS dropped, " +
          "CAST(MAX(late) AS BIGINT) AS max_lateness_us " +
          "FROM w, d GROUP BY window_start, delay_s"),

      // ordered replay + exact integer TV: windowed bucketed counts, then
      // tv_scaled = SUM |c*M - r*N| (exact), tv = one final division
      "streaming_drift" ->
        ("WITH tok AS (SELECT doc_id, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM documents), " +
          "t2 AS (SELECT CAST((1000000000 + doc_id) // 100 * 100 AS BIGINT) AS window_start, unnest(toks) AS tk FROM tok), " +
          "b AS (SELECT window_start, CASE WHEN list_contains(['the','a','of','and','to','in','is','it'], tk) " +
          "THEN tk ELSE '<oov>' END AS token, CAST(COUNT(*) AS BIGINT) AS ccnt FROM t2 GROUP BY 1, 2), " +
          "n AS (SELECT window_start, CAST(SUM(ccnt) AS BIGINT) AS n FROM b GROUP BY 1), " +
          "ref AS (SELECT * FROM (VALUES ('the', 60), ('a', 30), ('of', 25), ('and', 20), " +
          "('to', 18), ('in', 15), ('is', 12), ('it', 10), ('<oov>', 310)) AS r(token, rcnt)), " +
          "m AS (SELECT CAST(SUM(rcnt) AS BIGINT) AS m FROM ref), " +
          "grid AS (SELECT w.window_start, ref.token, CAST(ref.rcnt AS BIGINT) AS rcnt " +
          "FROM (SELECT DISTINCT window_start FROM b) w CROSS JOIN ref), " +
          "fo AS (SELECT COALESCE(g.window_start, b.window_start) AS window_start, " +
          "COALESCE(g.token, b.token) AS token, COALESCE(g.rcnt, 0) AS rcnt, COALESCE(b.ccnt, 0) AS ccnt " +
          "FROM grid g FULL OUTER JOIN b ON g.window_start = b.window_start AND g.token = b.token) " +
          "SELECT f.window_start, n.n AS n_tokens, m.m AS ref_tokens, " +
          "CAST(SUM(ABS(f.ccnt * m.m - f.rcnt * n.n)) AS BIGINT) AS tv_scaled, " +
          "CAST(SUM(ABS(f.ccnt * m.m - f.rcnt * n.n)) AS DOUBLE) / (2.0 * n.n * m.m) AS tv " +
          "FROM fo f JOIN n ON f.window_start = n.window_start CROSS JOIN m " +
          "GROUP BY 1, 2, 3"),

      "streaming_quality" ->
        ("WITH tok AS (SELECT doc_id, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM documents), " +
          "m AS (SELECT doc_id, CAST((1000000000 + doc_id) // 100 * 100 AS BIGINT) AS window_start, " +
          "CAST(doc_id % 3 AS VARCHAR) AS source, len(toks) AS n, " +
          "len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)]) AS stop, " +
          "CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS g2 FROM tok), " +
          "m2 AS (SELECT window_start, source, n, stop, len(g2) AS t2, " +
          "CASE WHEN len(g2) = 0 THEN 0 ELSE COALESCE(list_max([len([y for y in g2 if y = x]) for x in list_distinct(g2)]), 0) END AS p2 FROM m) " +
          "SELECT window_start, source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
          "CAST(SUM(n) AS BIGINT) AS total_tokens, " +
          "CASE WHEN SUM(n) = 0 THEN 0.0 ELSE CAST(SUM(stop) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) END AS stopword_ratio, " +
          "CASE WHEN SUM(t2) = 0 THEN 0.0 ELSE CAST(SUM(p2) AS DOUBLE) / CAST(SUM(t2) AS DOUBLE) END AS rep_bigram_fraction " +
          "FROM m2 GROUP BY window_start, source"),

      // DATA ASSUMPTION (both streaming near-dup oracles): the oracle
      // predicts the ALL-PAIRS ideal (every doc with ANY earlier partner at
      // J>=0.8 / cosine>=0.9), but the streaming operators only flag
      // collisions against each LSH bucket's FIRST member, and banding has
      // false negatives. The gates match because in this datagen every
      // qualifying pair is a planted near-copy whose earlier partner IS
      // bucket-first in some shared band (near-copies collide in most
      // bands, and transitive duplicate groups share their earliest member
      // as bucket-first). StreamingSuite pins the bucket-first semantics
      // directly; if a datagen change breaks these rows, suspect the data
      // assumption — not the operator — first.
      "streaming_neardup" ->
        (s"WITH $docTokCte, $docShCte, $docPairCte " +
          "SELECT DISTINCT ib AS doc_id FROM p WHERE j >= 0.8"),

      // corpus-seeded variant: same all-pairs ideal + same data assumption,
      // restricted to later members in the streamed (upper-id) half — the
      // earlier partner may be a corpus doc (seeded bucket) or an earlier
      // stream doc (stream-created bucket)
      "streaming_corpus_neardup" ->
        (s"WITH $docTokCte, $docShCte, $docPairCte " +
          "SELECT DISTINCT ib AS doc_id FROM p WHERE j >= 0.8 " +
          "AND ib > (SELECT MAX(doc_id) // 2 FROM documents)"),

      // arrival order == url_id order under the replay, so first-k-arrivals
      // == row_number over url_id
      "streaming_domain_cap" ->
        ("SELECT url_id, rank FROM (SELECT url_id, row_number() OVER " +
          "(PARTITION BY domain ORDER BY url_id) AS rank " +
          s"FROM read_parquet('$goldenDir/urls_sf001.parquet')) WHERE rank <= 5"),

      "streaming_embedding_neardup" ->
        ("WITH c AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding FROM embeddings " +
          "UNION ALL SELECT CAST(vec_id + 100000 AS BIGINT), list_transform(embedding, x -> x * 2) FROM embeddings), " +
          "p AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM c a JOIN c b ON a.vec_id < b.vec_id " +
          "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9) " +
          "SELECT ib AS doc_id, CAST(MIN(ia) AS BIGINT) AS first_doc_id FROM p GROUP BY ib"),

      // chained-pipeline replication: each stage's survivor set feeds the
      // next, so every count checks inter-stage dataflow, not one stage
      // the increment loop replayed stage by stage on the src10+ batch:
      // langid + quality (the curation_report predicates), exact keep-first,
      // within-batch all-pairs near-dup, then the cross-side verify against
      // the src0..src9 reference shingle sets
      "curation_increment" ->
        (s"WITH $docTokCte, $docShCte, " +
          "d AS (SELECT doc_id, CAST(substring(source, 4) AS INT) AS sn FROM documents), " +
          "bids AS (SELECT doc_id FROM d WHERE sn >= 10), " +
          "lsc AS (SELECT doc_id, " +
          "len(list_intersect(list_distinct(toks), ['the','and','of','to','in','is','that','it','for','with'])) AS s_en, " +
          "len(list_intersect(list_distinct(toks), ['le','la','les','des','et','une','est','que','pour','dans'])) AS s_fr, " +
          "len(list_intersect(list_distinct(toks), ['der','die','das','und','ist','nicht','ein','mit','von','auf'])) AS s_de, " +
          "len(list_intersect(list_distinct(toks), ['el','los','las','una','es','que','por','para','como','pero'])) AS s_es " +
          "FROM tok WHERE doc_id IN (SELECT doc_id FROM bids)), " +
          "l1 AS (SELECT doc_id FROM lsc WHERE NOT (s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0) " +
          "AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_es), " +
          "qg AS (SELECT doc_id, toks, CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS g2 " +
          "FROM tok WHERE doc_id IN (SELECT doc_id FROM l1)), " +
          "qm AS (SELECT doc_id, len(toks) AS n, " +
          "CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_len, " +
          "CAST(len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)]) AS DOUBLE) / len(toks) AS stop_ratio, " +
          "len(g2) AS t2, CASE WHEN len(g2) = 0 THEN 0 ELSE COALESCE(list_max([len([y for y in g2 if y = x]) for x in list_distinct(g2)]), 0) END AS p2 FROM qg), " +
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

      "curation_report" ->
        (s"WITH $docTokCte, " +
          "lsc AS (SELECT doc_id, " +
          "len(list_intersect(list_distinct(toks), ['the','and','of','to','in','is','that','it','for','with'])) AS s_en, " +
          "len(list_intersect(list_distinct(toks), ['le','la','les','des','et','une','est','que','pour','dans'])) AS s_fr, " +
          "len(list_intersect(list_distinct(toks), ['der','die','das','und','ist','nicht','ein','mit','von','auf'])) AS s_de, " +
          "len(list_intersect(list_distinct(toks), ['el','los','las','una','es','que','por','para','como','pero'])) AS s_es FROM tok), " +
          "l1 AS (SELECT doc_id FROM lsc WHERE NOT (s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0) " +
          "AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_es), " +
          "qg AS (SELECT doc_id, toks, CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS g2 " +
          "FROM tok WHERE doc_id IN (SELECT doc_id FROM l1)), " +
          "qm AS (SELECT doc_id, len(toks) AS n, " +
          "CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_len, " +
          "CAST(len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)]) AS DOUBLE) / len(toks) AS stop_ratio, " +
          "len(g2) AS t2, CASE WHEN len(g2) = 0 THEN 0 ELSE COALESCE(list_max([len([y for y in g2 if y = x]) for x in list_distinct(g2)]), 0) END AS p2 FROM qg), " +
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

      "decontaminate" ->
        (s"WITH $docTokCte, sh5 AS (SELECT doc_id, " +
          "CASE WHEN len(toks) < 5 THEN [] ELSE list_distinct([array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)]) END AS s " +
          "FROM tok), " +
          "ex AS (SELECT doc_id, u.g FROM sh5, unnest(sh5.s) AS u(g)), " +
          "bl AS (SELECT DISTINCT g FROM ex WHERE doc_id % 97 = 0), " +
          "cont AS (SELECT DISTINCT ex.doc_id FROM ex JOIN bl USING (g)) " +
          "SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM cont)"),

      // same shingle identity as the decontamination gates, but counts
      // survive: distinct 5-gram shingles per doc, overlap vs the blocklist
      // set, one ratio division
      "contamination_report" ->
        (s"WITH $docTokCte, sh5 AS (SELECT doc_id, " +
          "CASE WHEN len(toks) < 5 THEN [] ELSE list_distinct([array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)]) END AS s " +
          "FROM tok), " +
          "ex AS (SELECT doc_id, u.g FROM sh5, unnest(sh5.s) AS u(g)), " +
          "bl AS (SELECT DISTINCT g FROM ex WHERE doc_id % 97 = 0), " +
          "ovc AS (SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ov FROM ex JOIN bl USING (g) GROUP BY ex.doc_id) " +
          "SELECT s.doc_id, CAST(len(s.s) AS BIGINT) AS n_shingles, " +
          "CAST(COALESCE(ovc.n_ov, 0) AS BIGINT) AS n_overlap, " +
          "CASE WHEN len(s.s) = 0 THEN 0.0 ELSE CAST(COALESCE(ovc.n_ov, 0) AS DOUBLE) / CAST(len(s.s) AS DOUBLE) END AS contamination " +
          "FROM sh5 s LEFT JOIN ovc USING (doc_id)"),

      // thresholds = round(rate * 2^32) as 8 lowercase hex chars; fixed-width
      // lowercase hex compares lexicographically in numeric order
      "sample_documents" ->
        ("SELECT doc_id FROM documents " +
          "WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'"),

      // global shuffle order = (md5(salt||key), key); position via
      // row_number, shard = (pos-1) % 8 — BIGINT arithmetic in both engines
      "shuffle_deterministic" ->
        ("SELECT doc_id, " +
          "row_number() OVER (ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) AS shuffle_pos, " +
          "(row_number() OVER (ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) - 1) % 8 AS shard " +
          "FROM documents"),

      // WFQ replay: per-source md5 rank r, virtual time (2r-1)*(lcm/w)
      // with lcm(4,2,1,1)=4, global order by (v, source, r)
      "mixture_interleave" ->
        ("WITH d AS (SELECT doc_id, source FROM documents " +
          "WHERE source IN ('src0','src1','src2','src3')), " +
          "r AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source " +
          "ORDER BY md5('7:1:' || CAST(doc_id AS VARCHAR)), doc_id) AS r FROM d), " +
          "v AS (SELECT doc_id, source, r, (2*r - 1) * (CASE source " +
          "WHEN 'src0' THEN 1 WHEN 'src1' THEN 2 ELSE 4 END) AS vk FROM r) " +
          "SELECT doc_id, source, " +
          "ROW_NUMBER() OVER (ORDER BY vk, source, r) AS mix_pos FROM v"),

      "epoch_shuffle" ->
        ("SELECT doc_id, " +
          "row_number() OVER (ORDER BY md5('7:2:' || CAST(doc_id AS VARCHAR)), doc_id) AS shuffle_pos " +
          "FROM documents"),

      // P113: bucket = integer bit length of (n_tokens - 1); per-bucket
      // seeded-md5 order; (batch_id, pos) from the partitioned row number
      "length_bucket_batches" ->
        (s"WITH $docTokCte, " +
          "b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
          "CAST(CASE WHEN len(toks) <= 1 THEN 0 " +
          "ELSE length(format('{:b}', len(toks) - 1)) END AS INT) AS bucket, " +
          "md5('1:' || CAST(doc_id AS VARCHAR)) AS h FROM tok), " +
          "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h, doc_id) - 1 AS rk FROM b) " +
          "SELECT doc_id, n_tokens, bucket, " +
          "CAST(CAST(1 AS BIGINT) << bucket AS BIGINT) AS padded_to, " +
          "CAST(rk // 32 AS BIGINT) AS batch_id, " +
          "CAST(rk % 32 AS BIGINT) AS pos_in_batch FROM r"),

      // the hex-prefix shard replay: 15 hex chars = 60 bits fit BIGINT in
      // both engines (Spark conv(...,16,10) / DuckDB CAST('0x...' AS BIGINT))
      "epoch_shards" ->
        ("WITH k AS (SELECT doc_id, md5('7:2:' || CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
          "s AS (SELECT doc_id, h, " +
          "CAST(CAST(('0x' || substring(h, 1, 15)) AS BIGINT) % 4 AS INT) AS shard FROM k) " +
          "SELECT doc_id, shard, " +
          "row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS shard_pos FROM s"),

      "sample_weighted" ->
        ("SELECT doc_id FROM documents " +
          "WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < " +
          "printf('%08x', CAST(floor(LEAST(1.0, GREATEST(0.0, (n_chars / 2000.0) * 1.0)) " +
          "* 4294967296.0) AS BIGINT)) " +
          "OR LEAST(1.0, GREATEST(0.0, (n_chars / 2000.0) * 1.0)) >= 1.0"),

      "sample_weighted_topk" ->
        ("SELECT doc_id FROM (SELECT doc_id FROM documents " +
          "WHERE CAST(n_chars AS DOUBLE) > 0 " +
          "ORDER BY ln((CAST(('0x' || substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) " +
          "/ 4294967296.0) / CAST(n_chars AS DOUBLE) DESC, doc_id LIMIT 100)"),

      "sample_stratified" ->
        ("SELECT doc_id, source FROM documents " +
          "WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < " +
          "CASE WHEN source = 'src0' THEN 'e6666666' " +
          "WHEN source = 'src1' THEN '0ccccccd' ELSE '4ccccccd' END"),

      // rates derived from counts: T = min(c/share), rate = share*T/c,
      // threshold = printf('%08x', floor(rate*2^32)) — every step DOUBLE
      // arithmetic in the same association as the Spark plan
      "mixture_resample" ->
        ("WITH input AS (SELECT doc_id, source FROM documents " +
          "WHERE source IN ('src0', 'src1', 'src2') AND (doc_id % 2 = 0 OR source <> 'src2')), " +
          "shares(source, share) AS (VALUES ('src0', CAST(0.5 AS DOUBLE)), " +
          "('src1', CAST(0.3 AS DOUBLE)), ('src2', CAST(0.2 AS DOUBLE))), " +
          "counts AS (SELECT source, CAST(count(*) AS DOUBLE) AS c FROM input GROUP BY source), " +
          "j AS (SELECT s.source, s.share, c.c FROM shares s JOIN counts c USING (source)), " +
          "tt AS (SELECT min(c / share) AS t FROM j), " +
          "rates AS (SELECT source, LEAST(CAST(1.0 AS DOUBLE), share * t / c) AS rate, " +
          "printf('%08x', CAST(floor(LEAST(CAST(1.0 AS DOUBLE), share * t / c) * CAST(4294967296.0 AS DOUBLE)) AS BIGINT)) AS th " +
          "FROM j, tt) " +
          "SELECT i.doc_id, i.source FROM input i JOIN rates r USING (source) " +
          "WHERE substring(md5('graft' || CAST(i.doc_id AS VARCHAR)), 1, 8) < r.th OR r.rate >= 1.0"),

      // rate = sqrt(min_count/count): one exact IEEE division + one exact
      // IEEE sqrt per domain, the same floor/printf threshold rendering
      "temperature_sample" ->
        ("WITH input AS (SELECT doc_id, source FROM documents " +
          "WHERE doc_id % 3 = 0 OR source IN ('src0', 'src1')), " +
          "counts AS (SELECT source, CAST(count(*) AS DOUBLE) AS c FROM input GROUP BY source), " +
          "mn AS (SELECT min(c) AS m FROM counts), " +
          "rates AS (SELECT source, sqrt(m / c) AS rate, " +
          "printf('%08x', CAST(floor(sqrt(m / c) * CAST(4294967296.0 AS DOUBLE)) AS BIGINT)) AS th " +
          "FROM counts, mn) " +
          "SELECT i.doc_id, i.source FROM input i JOIN rates r USING (source) " +
          "WHERE substring(md5('graft' || CAST(i.doc_id AS VARCHAR)), 1, 8) < r.th OR r.rate >= 1.0"),

      // token sums -> epoch floors (maxEpochs-clamped) -> fractional-epoch
      // remainder -> the same printf/md5 draw -> generate_series fan-out:
      // every step fixed integer/IEEE arithmetic, replayed bit-for-bit
      "mixture_epochs" ->
        ("WITH input AS (SELECT doc_id, source, n_chars FROM documents), " +
          "shares(source, share) AS (VALUES ('src0', CAST(0.6 AS DOUBLE)), " +
          "('src1', CAST(0.3 AS DOUBLE)), ('src2', CAST(0.1 AS DOUBLE))), " +
          "masses AS (SELECT source, CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE) AS t " +
          "FROM input GROUP BY source), " +
          "j AS (SELECT s.source, s.share, m.t FROM shares s JOIN masses m USING (source) WHERE m.t > 0), " +
          "rates AS (SELECT source, t, share * 100000.0 AS target, " +
          "CAST(LEAST(CAST(4.0 AS DOUBLE), floor(share * 100000.0 / t)) AS INT) AS epochs FROM j), " +
          "r2 AS (SELECT source, epochs, CASE WHEN epochs >= 4 THEN 0.0 " +
          "ELSE (target - CAST(epochs AS DOUBLE) * t) / t END AS rem FROM rates), " +
          "r3 AS (SELECT source, epochs, " +
          "printf('%08x', CAST(floor(rem * 4294967296.0) AS BIGINT)) AS th FROM r2), " +
          "c AS (SELECT i.doc_id, i.source, r.epochs + " +
          "CASE WHEN substring(md5('graft' || CAST(i.doc_id AS VARCHAR)), 1, 8) < r.th " +
          "THEN 1 ELSE 0 END AS ncopies FROM input i JOIN r3 r USING (source)) " +
          "SELECT doc_id, source, CAST(unnest(generate_series(1, ncopies)) AS INT) AS epoch FROM c"),

      // the kernel's exact contract: NFC compose, strip C0-except-\t\n\f\r
      // plus DEL, collapse [\t\n\f\r ] runs, trim — replayed as
      // nfc_normalize + two regex passes over the same planted suffix
      "canonicalize_text" ->
        ("SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(" +
          "text || ' cafe' || chr(769) || chr(1) || chr(11) || ' x' || chr(9) || 'Y  z '), " +
          "'[\\x00-\\x08\\x0b\\x0e-\\x1f\\x7f]', '', 'g'), " +
          "'[\\t\\n\\f\\r ]+', ' ', 'g')) AS norm_text FROM documents"),

      // single alternation pass, identical pattern text in both engines
      // the same synthetic wrap + the same RE2-safe chain, nested
      // programmatically so the step order is readable and the parens match
      "html_extract" -> {
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
      },

      "html_extract_decoded" ->
        ("SELECT html_id, clean_text " +
          s"FROM read_parquet('$goldenDir/html.parquet')"),

      "html_extract_entities" ->
        ("SELECT html_id, clean_text " +
          s"FROM read_parquet('$goldenDir/html_entities.parquet')"),

      // the whole fixed-point PageRank recurrence replayed in integer
      // arithmetic: same edge construction, same left-associated integer
      // divisions, 3 unrolled iterations — bit-for-bit by construction
      "link_rank" -> {
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
          // so the driver hash-compares int64 against Spark's LongType.
          "SELECT node, CAST(r AS BIGINT) AS rank_fp, CAST(r AS DOUBLE) / 1000000000000.0 AS rank_score FROM r3"
      },

      "fix_mojibake" ->
        ("SELECT moji_id, fixed_text " +
          s"FROM read_parquet('$goldenDir/mojibake_sf001.parquet')"),

      "text_dehyphenate" ->
        ("SELECT hy_id, fixed_text " +
          s"FROM read_parquet('$goldenDir/dehyphenate_sf001.parquet')"),

      "redact_cards" ->
        ("SELECT card_id, redacted, n_cards " +
          s"FROM read_parquet('$goldenDir/luhn_sf001.parquet')"),

      "record_linkage" ->
        ("SELECT id_a, id_b, score_fp " +
          s"FROM read_parquet('$goldenDir/linkage_pairs_sf001.parquet')"),

      // identical letter/punctuation/vowel-run regex rules + the fixed IEEE
      // Flesch expression, replayed on the same planted suffix
      "text_readability" ->
        ("WITH t AS (SELECT doc_id, text || " +
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

      // planted golden from the independent python replication of the
      // leftmost-longest byte-level masking contract (make_mask_fixture)
      "mask_blocklist" ->
        ("SELECT mask_id, masked_text " +
          s"FROM read_parquet('$goldenDir/mask_sf001.parquet')"),

      // COALESCE: DuckDB's array_to_string of an EMPTY list is NULL, not ''
      "cdc_chunks" ->
        ("SELECT pay_id, COALESCE(array_to_string(hashes, ','), '') AS chunk_hashes, " +
          "COALESCE(array_to_string(sizes, ','), '') AS chunk_sizes, " +
          "CAST(len(hashes) AS BIGINT) AS n_chunks " +
          s"FROM read_parquet('$goldenDir/cdc_sf001.parquet')"),

      // the same distinct-chunk-set / hot-chunk-cap / containment pipeline
      // replayed relationally from the fixture's chunk lists
      "cdc_near_dup_pairs" ->
        ("WITH z AS (SELECT pay_id, unnest(hashes) AS hash, unnest(sizes) AS size " +
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

      // replay the dedup aggregate from the fixture's chunk lists: per-hash
      // copy counts (sizes are content-determined, min==max per hash), then
      // the one-row totals and the exact IEEE ratio division
      "cdc_dedup_report" ->
        ("WITH z AS (SELECT unnest(hashes) AS hash, unnest(sizes) AS size " +
          s"FROM read_parquet('$goldenDir/cdc_sf001.parquet')), " +
          "g AS (SELECT hash, CAST(count(*) AS BIGINT) AS copies, min(size) AS size FROM z GROUP BY hash) " +
          "SELECT CAST(sum(copies) AS BIGINT) AS total_chunks, " +
          "CAST(count(*) AS BIGINT) AS distinct_chunks, " +
          "CAST(sum(copies * size) AS BIGINT) AS total_bytes, " +
          "CAST(sum(size) AS BIGINT) AS distinct_bytes, " +
          "CAST(1.0 AS DOUBLE) - CAST(sum(size) AS DOUBLE) / CAST(sum(copies * size) AS DOUBLE) AS dedup_ratio " +
          "FROM g"),

      "bpe_tokens" ->
        ("SELECT doc_id, n_bpe_tokens, bpe_text " +
          s"FROM read_parquet('$goldenDir/bpe_tokens_sf001.parquet')"),

      "bpe_bytes" ->
        ("SELECT doc_id, n_byte_tokens, byte_bpe_text " +
          s"FROM read_parquet('$goldenDir/byte_bpe_sf001.parquet')"),

      "bpe_bytes_sql" ->
        ("SELECT doc_id, n_byte_tokens, byte_bpe_text " +
          s"FROM read_parquet('$goldenDir/byte_bpe_sf001.parquet') " +
          "WHERE doc_id >= 0"),

      // decode(encode(x)) == x by construction: the oracle is the RAW
      // table — the strongest kind of gate (no fixture, no replication)
      "bpe_bytes_roundtrip" ->
        "SELECT doc_id, text AS decoded FROM documents",

      // the packing boundary algebra derived entirely from the golden
      // token counts: doc n = n_byte_tokens + 1 (the separator), exclusive
      // running start over doc_id order, spans = the sequences a doc
      // touches; per seq — ids covered, docs touching, docs ending
      "pack_token_ids" ->
        ("WITH g AS (SELECT doc_id, n_byte_tokens + 1 AS n " +
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

      // every document's start position from the golden counts' running
      // sum: sequence = s DIV 512, offset = s % 512 (empty docs start at
      // their bare separator; nothing starts after the final separator)
      "pack_doc_starts" ->
        ("WITH g AS (SELECT doc_id, n_byte_tokens + 1 AS n " +
          s"FROM read_parquet('$goldenDir/byte_bpe_sf001.parquet') " +
          "WHERE doc_id >= 0), " +
          "c AS (SELECT doc_id, COALESCE(SUM(n) OVER (ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s FROM g) " +
          "SELECT CAST(s // 512 AS BIGINT) AS seq_id, " +
          "CAST(s % 512 AS BIGINT) AS start_pos FROM c"),

      // the provenance spans from the golden counts: per (seq, doc_id%3)
      // sum of covered ids, separator charged to its document
      "pack_provenance" ->
        ("WITH g AS (SELECT doc_id, n_byte_tokens + 1 AS n " +
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

      // the committed replication of the bin-packing spec over the same
      // golden token counts
      "bin_pack_assign" ->
        ("SELECT doc_id, n_tokens, bin_id, slot " +
          s"FROM read_parquet('$goldenDir/binpack_sf001.parquet')"),

      // the no-split artifact decodes every document back byte-for-byte
      // (empty/null docs drop from bins and re-join as '')
      "bin_pack_roundtrip" ->
        "SELECT doc_id, COALESCE(text, '') AS decoded FROM documents",

      // all five report fields re-derived from the fixture (bins used
      // must equal the replication's solve exactly)
      "bin_pack_report" ->
        ("SELECT CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins, " +
          "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
          "CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, " +
          "CAST(COUNT(DISTINCT bin_id) * 512 AS BIGINT) AS slot_capacity, " +
          "CAST((SUM(n_tokens) + 511) // 512 AS BIGINT) AS min_bins " +
          s"FROM read_parquet('$goldenDir/binpack_sf001.parquet')"),

      // pack -> unpack -> decode == the raw table, byte for byte
      "pack_roundtrip" ->
        "SELECT doc_id, COALESCE(text, '') AS decoded FROM documents",

      // the complete-docs-in-range rule derived from first principles:
      // doc positions from the golden counts' running sum; complete in
      // [2*512, 5*512) iff it starts at/after the left edge and its
      // separator (start + n - 1) lands before the right edge; empty
      // docs (n = 1, bare separator) emit nothing
      "unpack_range" ->
        ("WITH g AS (SELECT doc_id, n_byte_tokens + 1 AS n " +
          s"FROM read_parquet('$goldenDir/byte_bpe_sf001.parquet') " +
          "WHERE doc_id >= 0), " +
          "c AS (SELECT doc_id, n, COALESCE(SUM(n) OVER (ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s, " +
          "CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS doc_idx FROM g) " +
          "SELECT c.doc_idx, COALESCE(d.text, '') AS decoded " +
          "FROM c JOIN documents d USING (doc_id) " +
          "WHERE c.s >= 2 * 512 AND c.s + c.n - 1 < 5 * 512 AND c.n > 1"),

      // the full SFT render replayed: scrub '<|', rebuild the transcript,
      // split/parse lines exactly as the chat CTE does, re-render
      // <|role|>content<|end|> in turn order; n_special = 2 per turn
      "chat_sft_roundtrip" ->
        ("WITH d AS (SELECT doc_id, " +
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
          "regexp_extract(l, '^(system|user|assistant|tool): ', 1) AS role, l FROM lines), " +
          "r AS (SELECT doc_id, string_agg(" +
          "CASE WHEN role = '' THEN '<|invalid|>' ELSE '<|' || role || '|>' END || " +
          "CASE WHEN role = '' THEN l ELSE substr(l, length(role) + 3) END || " +
          "'<|end|>', '' ORDER BY idx) AS decoded, 2 * COUNT(*) AS n_special " +
          "FROM turns GROUP BY doc_id) " +
          "SELECT doc_id, decoded, CAST(n_special AS BIGINT) AS n_special FROM r"),

      // the FIM transform replayed verbatim: same md5 apply threshold
      // (0.5 -> '80000000'), same tagged md5-mod cuts in char units,
      // same substr algebra
      "fim_transform" ->
        ("WITH d AS (SELECT doc_id, COALESCE(text, '') AS t, " +
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

      // the loss mask replayed at the TEXT level: the trainable subset
      // must decode to the assistant turns' contents + '<|end|>' closers
      // in turn order, and the masked reserved ids are exactly one end
      // marker per assistant turn
      "chat_loss_mask" ->
        ("WITH d AS (SELECT doc_id, " +
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
          "regexp_extract(l, '^(system|user|assistant|tool): ', 1) AS role, l FROM lines), " +
          "r AS (SELECT doc_id, COALESCE(string_agg(" +
          "CASE WHEN role = 'assistant' THEN substr(l, length(role) + 3) || '<|end|>' END, " +
          "'' ORDER BY idx), '') AS trained_text, " +
          "COUNT(*) FILTER (WHERE role = 'assistant') AS n_train_special " +
          "FROM turns GROUP BY doc_id) " +
          "SELECT doc_id, trained_text, CAST(n_train_special AS BIGINT) AS n_train_special, " +
          "true AS mask_aligned FROM r"),

      // the SFT shard shape: the full stream re-renders, the masked
      // subset is the assistant contents + closers — both after the
      // aligned pack/unpack trip
      "chat_mask_pack" ->
        ("WITH d AS (SELECT doc_id, " +
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
          "regexp_extract(l, '^(system|user|assistant|tool): ', 1) AS role, l FROM lines), " +
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

      // the ChatML-spec render replayed: transcript from RAW text, parse
      // lines, scrub '<+|+' runs from CONTENTS only (the template's own
      // scrubContents contract), wrap <|im_start|>role\n … <|im_end|>\n,
      // append the <|endoftext|> EOS; n_special = 2 per turn + 1
      "chat_sft_roundtrip_chatml" ->
        ("WITH t AS (SELECT doc_id, 'system: be concise' || chr(10) || 'user: ' || " +
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

      // the disk-loaded artifact must reproduce the in-memory codec: the
      // planted markers are the ONLY special-alias candidates ('<|'
      // scrubbed both sides), so decoded == planted text, ids_equal holds
      // by construction, and exactly the 2 plants reserve ids
      "tokenizer_artifact_roundtrip" ->
        ("WITH p AS (SELECT doc_id, " +
          "regexp_replace(COALESCE(text, ''), '<\\|', '', 'g') AS tx FROM documents), " +
          "q AS (SELECT doc_id, '<|system|>' || substring(tx, 1, 30) || '<|end|>' || " +
          "substring(tx, 31) AS t2 FROM p) " +
          "SELECT doc_id, t2 AS decoded, true AS ids_equal, " +
          "CAST(2 AS BIGINT) AS n_special FROM q"),

      // the full artifact loop from disk: save -> verify -> unpack ->
      // decode with the bundled tokenizer == the raw table, and the
      // manifest/structure verdict is all_ok on every row
      "shards_write_readback" ->
        "SELECT doc_id, COALESCE(text, '') AS decoded, true AS all_ok FROM documents",

      // append == one-shot (content hash equal, in-plan), the swapped
      // artifact verifies, and the disk round-trip still returns the
      // raw corpus byte-for-byte
      "shards_append_readback" ->
        ("SELECT doc_id, COALESCE(text, '') AS decoded, true AS all_ok, " +
          "true AS append_equals_oneshot FROM documents"),

      // the STREAMED artifact (3 ordered micro-batches through the
      // foreachBatch sink) == the one-shot pack, verified and
      // round-tripped from disk
      "streaming_shard_append" ->
        ("SELECT doc_id, COALESCE(text, '') AS decoded, true AS all_ok, " +
          "true AS stream_equals_oneshot FROM documents"),

      // the planted rebuild round-trips, and the reserved-id count equals
      // the literal occurrence count (replace arithmetic — robust even if
      // a special ever appeared naturally)
      "bpe_bytes_special_roundtrip" ->
        ("WITH p AS (SELECT doc_id, " +
          "substring(COALESCE(text, ''), 1, 30) || '<|endoftext|>' || " +
          "substring(COALESCE(text, ''), 31) || '<|pad|>' AS t2 FROM documents) " +
          "SELECT doc_id, t2 AS decoded, " +
          "CAST((length(t2) - length(replace(t2, '<|endoftext|>', ''))) / 13 " +
          "+ (length(t2) - length(replace(t2, '<|pad|>', ''))) / 7 AS BIGINT) " +
          "AS n_special FROM p"),

      // ids round-trip to the raw text AND the id-stream length ties to
      // the independently-replicated golden token counts (same model)
      "bpe_bytes_ids_roundtrip" ->
        ("SELECT d.doc_id, COALESCE(d.text, '') AS decoded, " +
          "g.n_byte_tokens AS n_ids FROM documents d " +
          s"JOIN read_parquet('$goldenDir/byte_bpe_sf001.parquet') g " +
          "USING (doc_id)"),

      // each lossy family's documented contract derived straight from raw
      // text: no-marker streams (word-BPE, unigram) concatenate the ascii
      // token stream; WordPiece's ## marks rebuild space-joined words
      "tokenizer_detok" ->
        (s"WITH $docTokCte " +
          "SELECT doc_id, array_to_string(toks, '') AS bpe_detok, " +
          "array_to_string(toks, ' ') AS wordpiece_detok, " +
          "array_to_string(toks, '') AS unigram_detok FROM tok"),

      // re-aggregate the committed per-doc goldens against documents —
      // the group sums must match the in-plan kernels exactly
      "tokenizer_fertility" ->
        (s"WITH b AS (SELECT doc_id, n_bpe_tokens " +
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

      "wordpiece_tokens" ->
        ("SELECT doc_id, n_wp_tokens, wp_text " +
          s"FROM read_parquet('$goldenDir/wordpiece_tokens_sf001.parquet')"),

      "unigram_tokens" ->
        ("SELECT doc_id, n_ug_tokens, ug_text " +
          s"FROM read_parquet('$goldenDir/unigram_tokens_sf001.parquet')"),

      "unigram_tokens_sql" ->
        ("SELECT doc_id, n_ug_tokens, ug_text " +
          s"FROM read_parquet('$goldenDir/unigram_tokens_sf001.parquet')"),

      "bloom_skip_rule" ->
        ("SELECT l_orderkey, l_partkey, l_quantity FROM lineitem " +
          "WHERE l_orderkey IN (325, 48000)"),

      "zone_skip_rule" ->
        ("WITH p AS (SELECT MAX(l_orderkey) AS mx FROM lineitem) " +
          "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem, p " +
          "WHERE l_orderkey >= mx // 3 " +
          "AND l_orderkey < mx // 3 + GREATEST(1, mx // 20)"),

      "jsonl_parse" ->
        ("SELECT CAST(json_extract(line, '$.doc_id') AS BIGINT) AS doc_id, " +
          "json_extract_string(line, '$.lang') AS lang, " +
          "CAST(json_extract(line, '$.n_chars') AS BIGINT) AS n_chars " +
          s"FROM read_csv('$goldenDir/docs_sf001.jsonl', " +
          "columns={'line':'VARCHAR'}, delim=chr(1), quote='', escape='', " +
          "header=false) WHERE json_valid(line)"),

      "jsonl_quarantine" ->
        (s"SELECT line FROM read_csv('$goldenDir/docs_sf001.jsonl', " +
          "columns={'line':'VARCHAR'}, delim=chr(1), quote='', escape='', " +
          "header=false) WHERE NOT json_valid(line)"),

      // auto_detect=false: DuckDB's sniffer balks at 10% planted-malformed
      // lines; the dialect is fixed anyway
      "sentence_chunks" ->
        ("WITH t AS (SELECT doc_id, text || '. First tail sentence here. Second one!" +
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
          // pandas float64 -> driver hash mismatch vs Spark's LongType.
          "CAST(COALESCE(SUM(tok) OVER (PARTITION BY doc_id ORDER BY si " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 12 AS BIGINT) AS chunk_id " +
          "FROM s2) " +
          "SELECT doc_id, chunk_id, COUNT(*) AS n_sentences, CAST(SUM(tok) AS BIGINT) AS n_tokens, " +
          "string_agg(s, ' ' ORDER BY si) AS chunk_text " +
          "FROM s3 GROUP BY doc_id, chunk_id"),

      "schema_drift" ->
        ("SELECT * FROM (VALUES " +
          "('o_orderkey', 'type_changed', 'BIGINT', 'INT'), " +
          "('o_totalprice', 'unchanged', 'DOUBLE', 'DOUBLE'), " +
          "('o_orderpriority', 'removed', 'STRING', NULL), " +
          "('o_orderstatus', 'added', NULL, 'STRING')" +
          ") AS t(\"column\", status, left_type, right_type)"),

      "curriculum_order" ->
        ("WITH r AS (SELECT doc_id, " +
          "ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rank, " +
          "COUNT(*) OVER () AS n, " +
          "md5('c9' || CAST(doc_id AS VARCHAR)) AS key FROM documents) " +
          "SELECT doc_id, CAST((rank - 1) * 4 // n AS BIGINT) AS band, " +
          "CAST(ROW_NUMBER() OVER (ORDER BY (rank - 1) * 4 // n, key, doc_id) AS BIGINT) AS order_id " +
          "FROM r"),

      "csv_parse" ->
        (s"SELECT doc_id, lang, n_chars FROM read_csv('$goldenDir/docs_sf001.csv', " +
          "columns={'doc_id':'BIGINT','lang':'VARCHAR','n_chars':'BIGINT'}, " +
          "header=false, ignore_errors=true, null_padding=false, " +
          "auto_detect=false, delim=',', quote='\"', escape='\"')"),

      "csv_quarantine" ->
        (s"SELECT line FROM read_csv('$goldenDir/docs_sf001.csv', " +
          "columns={'line':'VARCHAR'}, delim=chr(1), quote='', escape='', " +
          "header=false) WHERE len(string_split(line, ',')) <> 3"),

      // identical RE2 pattern text in both engines; counts exact integers,
      // link_density one IEEE division
      "link_density" ->
        ("WITH t AS (SELECT doc_id, text || ' see https://ex.com/a?b=1 and " +
          "http://sub.ex.org/p, again (https://ex.com/a?b=1) end' AS tt FROM documents), " +
          "u AS (SELECT doc_id, tt, " +
          "regexp_extract_all(tt, 'https?://[^\\s<>\"'')\\]]+') AS urls FROM t) " +
          "SELECT doc_id, CAST(len(urls) AS INT) AS n_urls, " +
          "CAST(len(list_distinct(urls)) AS INT) AS n_distinct_urls, " +
          "CAST(COALESCE(list_sum(list_transform(urls, x -> length(x))), 0) AS INT) AS url_chars, " +
          "CASE WHEN length(tt) = 0 THEN 0.0 ELSE " +
          "CAST(COALESCE(list_sum(list_transform(urls, x -> length(x))), 0) AS DOUBLE) / " +
          "CAST(length(tt) AS DOUBLE) END AS link_density FROM u"),

      "url_canonicalize" ->
        ("SELECT url_id, canonical, host, domain " +
          s"FROM read_parquet('$goldenDir/urls_sf001.parquet')"),

      "url_dedup" ->
        ("SELECT CAST(MIN(url_id) AS BIGINT) AS url_id " +
          s"FROM read_parquet('$goldenDir/urls_sf001.parquet') " +
          "GROUP BY canonical"),

      "url_domain_cap" ->
        ("SELECT url_id FROM (SELECT url_id, row_number() OVER " +
          "(PARTITION BY domain ORDER BY md5('graft' || CAST(url_id AS VARCHAR)), url_id) AS rk " +
          s"FROM read_parquet('$goldenDir/urls_sf001.parquet')) WHERE rk <= 5"),

      // the replay feeds batches in per-canonical occurrence order, so
      // streaming keep-first == batch keep-smallest-id
      "streaming_url_dedup" ->
        ("SELECT CAST(MIN(url_id) AS BIGINT) AS url_id " +
          s"FROM read_parquet('$goldenDir/urls_sf001.parquet') " +
          "GROUP BY canonical"),

      "fold_accents" ->
        ("SELECT doc_id, strip_accents(text || ' café über niño ça čech à ö') " +
          "AS folded FROM documents"),

      "redact_pii" ->
        ("SELECT doc_id, regexp_replace(" +
          "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org or 10.2.' || " +
          "CAST(doc_id % 256 AS VARCHAR) || '.77 acct 900123456789', " +
          "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" +
          "|\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" +
          "|\\b\\d{9,}\\b', '[REDACTED]', 'g') AS redacted FROM documents"),

      "warc_ingest" ->
        ("SELECT 'http://ex.test/' || CAST(doc_id AS VARCHAR) AS target_uri, " +
          "CAST(strlen(COALESCE(text, '')) AS BIGINT) AS content_length, " +
          "COALESCE(text, '') AS payload FROM documents WHERE doc_id < 200"),

      // the whole crawl->curation chain replayed: the fixture's REPAIRED
      // texts (the mojibake inverse is golden-pinned) -> the canonicalize
      // algebra -> the curation_report stage predicates, each stage
      // feeding the next
      "warc_curation" ->
        (s"WITH fx AS (SELECT moji_id AS doc_id, fixed_text " +
          s"FROM read_parquet('$goldenDir/mojibake_sf001.parquet') " +
          "WHERE moji_id >= 0 AND moji_id < 200), " +
          "cn AS (SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(fixed_text), " +
          "'[\\x00-\\x08\\x0b\\x0e-\\x1f\\x7f]', '', 'g'), " +
          "'[\\t\\n\\f\\r ]+', ' ', 'g')) AS text FROM fx), " +
          "tok AS (SELECT doc_id, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM cn), " +
          "lsc AS (SELECT doc_id, " +
          "len(list_intersect(list_distinct(toks), ['the','and','of','to','in','is','that','it','for','with'])) AS s_en, " +
          "len(list_intersect(list_distinct(toks), ['le','la','les','des','et','une','est','que','pour','dans'])) AS s_fr, " +
          "len(list_intersect(list_distinct(toks), ['der','die','das','und','ist','nicht','ein','mit','von','auf'])) AS s_de, " +
          "len(list_intersect(list_distinct(toks), ['el','los','las','una','es','que','por','para','como','pero'])) AS s_es FROM tok), " +
          "l1 AS (SELECT doc_id FROM lsc WHERE NOT (s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0) " +
          "AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_es), " +
          "qg AS (SELECT doc_id, toks, CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS g2 " +
          "FROM tok WHERE doc_id IN (SELECT doc_id FROM l1)), " +
          "qm AS (SELECT doc_id, len(toks) AS n, " +
          "CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_len, " +
          "CAST(len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)]) AS DOUBLE) / len(toks) AS stop_ratio, " +
          "len(g2) AS t2, CASE WHEN len(g2) = 0 THEN 0 ELSE COALESCE(list_max([len([y for y in g2 if y = x]) for x in list_distinct(g2)]), 0) END AS p2 FROM qg), " +
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

      "k_anonymity_report" ->
        ("SELECT lang, source, n_chars % 7 AS len_bucket, " +
          "CAST(COUNT(*) AS BIGINT) AS combo_rows, " +
          "COUNT(*) >= 5 AS k_anonymous FROM documents GROUP BY 1, 2, 3"),

      "suppress_rare_rows" ->
        ("SELECT doc_id, lang, source, n_chars % 7 AS len_bucket " +
          "FROM documents QUALIFY " +
          "COUNT(*) OVER (PARTITION BY lang, source, n_chars % 7) >= 2"),

      "l_diversity_report" ->
        ("SELECT lang, CAST(COUNT(*) AS BIGINT) AS combo_rows, " +
          "CAST(COUNT(DISTINCT source) AS BIGINT) AS distinct_sensitive, " +
          "COUNT(DISTINCT source) >= 3 AS l_diverse " +
          "FROM documents GROUP BY lang"),

      // cumulative thresholds: 0.8 -> cccccccd, 0.9 -> e6666666, rest = test
      "split_assign" ->
        ("SELECT doc_id, CASE " +
          "WHEN substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccd' THEN 'train' " +
          "WHEN substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val' " +
          "ELSE 'test' END AS split FROM documents"),

      // exact-k per-source draw: the 5 lowest md5 hashes per source
      "sample_group_k" ->
        ("SELECT source, doc_id, CAST(rk AS INT) AS sample_rank FROM " +
          "(SELECT source, doc_id, row_number() OVER (PARTITION BY source " +
          "ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) " +
          "WHERE rk <= 5"),

      // per-source token totals -> rate min(1, 800/total) -> the same
      // md5-threshold predicate as sample_weighted, verbatim
      "token_budget_sample" ->
        (s"WITH $docTokCte, " +
          "w AS (SELECT d.source, d.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens " +
          "FROM documents d JOIN tok t USING (doc_id)), " +
          "tot AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total FROM w GROUP BY source) " +
          "SELECT w.source, w.doc_id FROM w JOIN tot USING (source) " +
          "WHERE substring(md5('graft' || CAST(w.doc_id AS VARCHAR)), 1, 8) < " +
          "printf('%08x', CAST(floor(LEAST(1.0, CAST(800 AS DOUBLE) / CAST(total AS DOUBLE)) " +
          "* 4294967296.0) AS BIGINT)) " +
          "OR LEAST(1.0, CAST(800 AS DOUBLE) / CAST(total AS DOUBLE)) >= 1.0"),

      "quality_filter" ->
        (s"WITH $docTokCte, g AS (SELECT doc_id, toks, " +
          "CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS g2 " +
          "FROM tok), " +
          "m AS (SELECT doc_id, len(toks) AS n, " +
          "CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_len, " +
          "CAST(len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)]) AS DOUBLE) / len(toks) AS stop_ratio, " +
          "len(g2) AS t2, CASE WHEN len(g2) = 0 THEN 0 ELSE COALESCE(list_max([len([y for y in g2 if y = x]) for x in list_distinct(g2)]), 0) END AS p2 " +
          "FROM g) " +
          "SELECT doc_id FROM m WHERE n >= 30 AND n <= 90 " +
          "AND avg_len >= 3.0 AND avg_len <= 6.0 AND stop_ratio >= 0.02 " +
          "AND (CASE WHEN t2 = 0 THEN 0.0 ELSE CAST(p2 AS DOUBLE) / CAST(t2 AS DOUBLE) END) <= 0.2"),

      "dedup_lines" ->
        ("WITH src AS (SELECT doc_id, substring(text, 1, 50) || chr(10) || " +
          "'shared footer all rights reserved' || chr(10) || 'doc ' || CAST(doc_id AS VARCHAR) AS text " +
          "FROM documents), " +
          "pp AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM src), " +
          "parts AS (SELECT doc_id, unnest(parts) AS line, unnest(range(1, len(parts) + 1)) AS pos FROM pp), " +
          "kept AS (SELECT doc_id, pos, line FROM parts " +
          "QUALIFY ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1), " +
          "agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text FROM kept GROUP BY doc_id) " +
          "SELECT s.doc_id, COALESCE(a.text, '') AS text FROM src s LEFT JOIN agg a ON s.doc_id = a.doc_id"),

      "boilerplate_lines" ->
        ("WITH src AS (SELECT doc_id, substring(text, 1, 40) || chr(10) || " +
          "'all rights reserved' || chr(10) || 'promo ' || CAST(doc_id % 7 AS VARCHAR) || " +
          "chr(10) || 'doc ' || CAST(doc_id AS VARCHAR) AS text FROM documents), " +
          "pp AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM src), " +
          "parts AS (SELECT doc_id, unnest(parts) AS line, unnest(range(1, len(parts) + 1)) AS pos FROM pp), " +
          "freq AS (SELECT line FROM parts GROUP BY line HAVING count(DISTINCT doc_id) >= 50), " +
          "kept AS (SELECT doc_id, pos, line FROM parts WHERE line NOT IN (SELECT line FROM freq)), " +
          "agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text FROM kept GROUP BY doc_id) " +
          "SELECT s.doc_id, COALESCE(a.text, '') AS text FROM src s LEFT JOIN agg a ON s.doc_id = a.doc_id"),

      "dedup_exact" ->
        ("WITH corpus AS (SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 100000 AS doc_id, text || '  ' AS text FROM documents WHERE doc_id % 7 = 0), " +
          "fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f FROM corpus) " +
          "SELECT doc_id FROM fp QUALIFY ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) = 1"),

      "dedup_minhash_pairs" -> docPairsSql,

      // P119: verified pairs -> window-hash matches -> diagonal islands
      "neardup_spans" ->
        (s"WITH $docTokCte, $docShCte, $docPairCte, " +
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
      // the prefix-filter join must equal the exact all-pairs oracle BY
      // CONSTRUCTION (no LSH luck involved) — same SQL, stronger claim
      "dedup_jaccard_prefix" -> docPairsSql,

      // connected components via recursive reachability over the (symmetric)
      // verified pair edges; cluster id = min reachable doc id (incl. self)
      "dedup_clusters" ->
        (s"WITH RECURSIVE $docTokCte, $docShCte, $docPairCte, " +
          "e AS (SELECT ia AS a, ib AS b FROM p WHERE j >= 0.8 " +
          "UNION SELECT ib AS a, ia AS b FROM p WHERE j >= 0.8), " +
          "r(a, b) AS (SELECT a, b FROM e " +
          "UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a WHERE e.b <> r.a) " +
          "SELECT d.doc_id, CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS cluster_id " +
          "FROM documents d LEFT JOIN r ON d.doc_id = r.a GROUP BY d.doc_id"),

      // same recursive-CTE components as dedup_clusters, then the
      // per-cluster argmax on text length with smallest-doc_id tie-break
      "dedup_keep_best" ->
        (s"WITH RECURSIVE $docTokCte, $docShCte, $docPairCte, " +
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

      // same recursive-CTE components, then the split_assign CASE on the
      // CLUSTER id's md5 (cumulative thresholds 0.8 -> cccccccd, 0.9 ->
      // e6666666) — the leakage-safety claim is structural: split is a
      // pure function of cluster_id, so no cluster can straddle splits
      "split_leakage_safe" ->
        (s"WITH RECURSIVE $docTokCte, $docShCte, $docPairCte, " +
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

      // same components, weight = the literal IEEE division 1.0/size —
      // bit-identical across engines, so the gate hashes exactly
      "soft_dedup_weights" ->
        (s"WITH RECURSIVE $docTokCte, $docShCte, $docPairCte, " +
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

      "dedup_simhash_pairs" -> docPairsSql,

      "dedup_minhash" ->
        (s"WITH $docTokCte, $docShCte, $docPairCte " +
          "SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT ib FROM p WHERE j >= 0.8)"),

      // exact cross-corpus near-dup reference: every new-batch doc (src10+)
      // within Jaccard 0.8 of ANY reference doc (src0-9) is dropped
      "dedup_cross_corpus" ->
        (s"WITH $docTokCte, $docShCte, " +
          "d AS (SELECT doc_id, CAST(substring(source, 4) AS INT) AS sn FROM documents), " +
          "cp AS (SELECT sh.doc_id, sh.s FROM sh JOIN d USING (doc_id) WHERE d.sn >= 10), " +
          "rf AS (SELECT sh.doc_id, sh.s FROM sh JOIN d USING (doc_id) WHERE d.sn < 10), " +
          "m AS (SELECT DISTINCT cp.doc_id FROM cp JOIN rf ON " +
          "CAST(len(list_intersect(cp.s, rf.s)) AS DOUBLE) / " +
          "CAST(len(list_distinct(list_concat(cp.s, rf.s))) AS DOUBLE) >= 0.8) " +
          "SELECT doc_id FROM d WHERE sn >= 10 AND doc_id NOT IN (SELECT doc_id FROM m)"),

      // identical semantics to dedup_cross_corpus (the index path is the
      // direct path with the reference side amortized) — same oracle
      "dedup_against_index" ->
        (s"WITH $docTokCte, $docShCte, " +
          "d AS (SELECT doc_id, CAST(substring(source, 4) AS INT) AS sn FROM documents), " +
          "cp AS (SELECT sh.doc_id, sh.s FROM sh JOIN d USING (doc_id) WHERE d.sn >= 10), " +
          "rf AS (SELECT sh.doc_id, sh.s FROM sh JOIN d USING (doc_id) WHERE d.sn < 10), " +
          "m AS (SELECT DISTINCT cp.doc_id FROM cp JOIN rf ON " +
          "CAST(len(list_intersect(cp.s, rf.s)) AS DOUBLE) / " +
          "CAST(len(list_distinct(list_concat(cp.s, rf.s))) AS DOUBLE) >= 0.8) " +
          "SELECT doc_id FROM d WHERE sn >= 10 AND doc_id NOT IN (SELECT doc_id FROM m)"),

      // P112: the same replay with the reference FILTERED — the scrubbed
      // index must answer exactly like one built without the doomed ids
      "dedup_scrub" ->
        (s"WITH $docTokCte, $docShCte, " +
          "d AS (SELECT doc_id, CAST(substring(source, 4) AS INT) AS sn FROM documents), " +
          "cp AS (SELECT sh.doc_id, sh.s FROM sh JOIN d USING (doc_id) WHERE d.sn >= 10), " +
          "rf AS (SELECT sh.doc_id, sh.s FROM sh JOIN d USING (doc_id) " +
          "WHERE d.sn < 10 AND sh.doc_id % 7 <> 3), " +
          "m AS (SELECT DISTINCT cp.doc_id FROM cp JOIN rf ON " +
          "CAST(len(list_intersect(cp.s, rf.s)) AS DOUBLE) / " +
          "CAST(len(list_distinct(list_concat(cp.s, rf.s))) AS DOUBLE) >= 0.8) " +
          "SELECT doc_id FROM d WHERE sn >= 10 AND doc_id NOT IN (SELECT doc_id FROM m)"),

      // KMV overlap: bottom-64 distinct md5 per corpus, X = bottom-64 of
      // their union, J = |X ∩ A ∩ B| / |X| — pure hash arithmetic, so the
      // oracle recomputes the estimate exactly
      "corpus_overlap_kmv" ->
        ("WITH ha AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 < 3), " +
          "sa AS (SELECT h FROM ha ORDER BY h LIMIT 64), " +
          "hb AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 > 1), " +
          "sb AS (SELECT h FROM hb ORDER BY h LIMIT 64), " +
          "x AS (SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)) ORDER BY h LIMIT 64) " +
          "SELECT CAST(count(*) AS INTEGER) AS k_used, " +
          "CAST(sum(CASE WHEN h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb) THEN 1 ELSE 0 END) AS INTEGER) AS n_both, " +
          "CAST(sum(CASE WHEN h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb) THEN 1 ELSE 0 END) AS DOUBLE) / " +
          "CAST(count(*) AS DOUBLE) AS j_estimate FROM x"),

      // P120: grouped bottom-64 sketches, pairwise coordinated estimates
      "source_overlap_matrix" ->
        ("WITH v AS (SELECT 's' || (doc_id % 3) AS g, " +
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

      // join-size estimate: exact top-64 heavy keys per side + KMV-sampled
      // tail (X = bottom-256 of the key-space union); u_k parsed from 8
      // manual hex digits (exact integer arithmetic), then the same IEEE
      // expression order as the Spark side — the estimate replays exactly
      "join_size_estimate" ->
        ("WITH ha AS (SELECT md5(CAST(o_orderkey AS VARCHAR)) AS h FROM orders WHERE o_orderkey IS NOT NULL), " +
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

      // exact all-pairs set containment over the planted-excerpt corpus;
      // docs under 10 shingles excluded on both sides (a 2-shingle doc hits
      // 0.5 by one accidental shared gram)
      "containment_pairs" ->
        ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 100000 AS doc_id, array_to_string(" +
          "([x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''])[3:32], ' ') AS text " +
          "FROM documents WHERE doc_id % 5 = 1), " +
          "tok AS (SELECT doc_id, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM corpus), " +
          "sh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS s FROM tok WHERE len(toks) >= 3), " +
          "sf AS (SELECT doc_id, s FROM sh WHERE len(s) >= 10), " +
          "p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, " +
          "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(LEAST(len(a.s), len(b.s)) AS DOUBLE) AS c " +
          "FROM sf a JOIN sf b ON a.doc_id < b.doc_id) " +
          "SELECT ia AS \"idA\", ib AS \"idB\", c AS containment FROM p WHERE c >= 0.5"),

      "dedup_embedding_pairs" ->
        ("SELECT a.vec_id AS \"idA\", b.vec_id AS \"idB\" FROM embeddings a JOIN embeddings b " +
          "ON a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35"),

      // same truth set as the brute baseline: the LSH gate is hash-green iff
      // the bucketed-candidate + exact-verify plan reaches recall 1.0
      "dedup_embedding_lsh" ->
        ("WITH c AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding FROM embeddings " +
          "UNION ALL SELECT CAST(vec_id + 100000 AS BIGINT), list_transform(embedding, x -> x * 2) FROM embeddings) " +
          "SELECT a.vec_id AS \"idA\", b.vec_id AS \"idB\" FROM c a JOIN c b ON a.vec_id < b.vec_id " +
          "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9"),

      "ann_brute_topk" ->
        ("WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20) " +
          "SELECT q.vec_id AS query_id, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS INTEGER) AS rank, " +
          "c.vec_id AS neighbor_id " +
          "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id " +
          "QUALIFY rank <= 3"),

      "ann_mrl_topk" ->
        ("WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20), " +
          "sl AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.embedding AS qv, c.embedding AS cv, " +
          "ROW_NUMBER() OVER (PARTITION BY q.vec_id " +
          "ORDER BY list_cosine_similarity(q.embedding[1:16], c.embedding[1:16]) DESC, c.vec_id) AS srank " +
          "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id QUALIFY srank <= 12) " +
          "SELECT query_id, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
          "ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS INTEGER) AS rank, " +
          "neighbor_id FROM sl QUALIFY rank <= 3"),

      "embedding_int8_codes" ->
        ("WITH base AS (SELECT vec_id, embedding AS e, " +
          "COALESCE(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 0.0) AS m FROM embeddings) " +
          "SELECT vec_id, CAST(pos - 1 AS INTEGER) AS pos, " +
          "CASE WHEN m = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(GREATEST(-127.0, LEAST(127.0, " +
          "floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5))) AS BIGINT) END AS code, " +
          "m / 127.0 AS scale " +
          "FROM (SELECT vec_id, m, unnest(e) AS x, generate_subscripts(e, 1) AS pos FROM base)"),

      // the full int8 pipeline replayed: quantize both sides, exact integer
      // dot products (p[1]*p[2] over the zipped code lists), scale-free
      // cosine, rank — deterministic at every step
      "ann_int8_topk" ->
        ("WITH base AS (SELECT vec_id, embedding AS e, " +
          "COALESCE(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 0.0) AS m FROM embeddings), " +
          "codes AS (SELECT vec_id, CASE WHEN m = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT)) " +
          "ELSE list_transform(e, x -> CAST(GREATEST(-127.0, LEAST(127.0, " +
          "floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5))) AS BIGINT)) END AS c FROM base), " +
          "n AS (SELECT vec_id, c, list_sum(list_transform(list_zip(c, c), p -> p[1] * p[2])) AS nn FROM codes), " +
          "q AS (SELECT vec_id, c, nn FROM n WHERE vec_id < 20), " +
          "scored AS (SELECT q.vec_id AS query_id, cp.vec_id AS neighbor_id, " +
          "CASE WHEN q.nn = 0 OR cp.nn = 0 THEN 0.0 ELSE " +
          "CAST(list_sum(list_transform(list_zip(q.c, cp.c), p -> p[1] * p[2])) AS DOUBLE) / " +
          "sqrt(CAST(q.nn AS DOUBLE) * CAST(cp.nn AS DOUBLE)) END AS cos8 " +
          "FROM q JOIN n cp ON q.vec_id <> cp.vec_id) " +
          "SELECT query_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
          "ORDER BY cos8 DESC, neighbor_id) AS INTEGER) AS rank, neighbor_id " +
          "FROM scored QUALIFY rank <= 3"),

      // 1-bit sign packing replayed in exact two's-complement arithmetic:
      // bits 0..62 sum directly, bit 63 adds the explicit -2^63 addend
      // (1::BIGINT << 63 would overflow; the sum of bits 0..62 is at most
      // 2^63-1, so the BIGINT cast is exact)
      "embedding_bitsign_codes" ->
        ("SELECT vec_id, CAST(w AS INTEGER) AS w, CAST(word AS BIGINT) AS word FROM (" +
          "SELECT vec_id, (pos - 1) // 64 AS w, " +
          "sum(CASE WHEN x >= 0 AND ((pos - 1) % 64) < 63 " +
          "THEN (1::BIGINT << CAST((pos - 1) % 64 AS INT)) ELSE 0 END) " +
          "+ CASE WHEN max(CASE WHEN x >= 0 AND ((pos - 1) % 64) = 63 THEN 1 ELSE 0 END) = 1 " +
          "THEN -9223372036854775807 - 1 ELSE 0 END AS word " +
          "FROM (SELECT vec_id, unnest(embedding) AS x, " +
          "generate_subscripts(embedding, 1) AS pos FROM embeddings) " +
          "GROUP BY 1, 2)"),

      // the Hamming ranking replayed relationally: per-position sign
      // disagreement count == XOR+popcount of the packed words by definition
      "ann_hamming_topk" ->
        ("SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, hamming FROM (" +
          "SELECT query_id, neighbor_id, hamming, " +
          "row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank " +
          "FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          "CAST(sum(CASE WHEN (q.x >= 0) <> (c.x >= 0) THEN 1 ELSE 0 END) AS INT) AS hamming " +
          "FROM (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos " +
          "FROM embeddings WHERE vec_id < 20) q " +
          "JOIN (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos " +
          "FROM embeddings) c USING (pos) " +
          "WHERE q.vec_id <> c.vec_id GROUP BY 1, 2)) WHERE rank <= 3"),

      // recall gates: DuckDB reproduces the brute-force truth-set size and
      // asserts the thresholded recall boolean is true; the Spark side flips
      // it to false if the approximate path regresses.
      "ann_lsh_recall" ->
        ("WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20), " +
          "topk AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank " +
          "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id) " +
          "SELECT CAST(COUNT(*) AS BIGINT) AS total_expected, TRUE AS recall_ok " +
          "FROM topk WHERE rank <= 3"),

      "ann_ivf_recall" ->
        ("WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20), " +
          "topk AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank " +
          "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id) " +
          "SELECT CAST(COUNT(*) AS BIGINT) AS total_expected, TRUE AS recall_ok " +
          "FROM topk WHERE rank <= 3"),

      "ann_hamming_recall" ->
        ("WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20), " +
          "topk AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank " +
          "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id) " +
          "SELECT CAST(COUNT(*) AS BIGINT) AS total_expected, TRUE AS recall_ok " +
          "FROM topk WHERE rank <= 3"),

      "ann_pq_recall" ->
        ("WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20), " +
          "topk AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank " +
          "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id) " +
          "SELECT CAST(COUNT(*) AS BIGINT) AS total_expected, TRUE AS recall_ok " +
          "FROM topk WHERE rank <= 3"),

      // same boolean contract as ann_pq_recall: the oracle pins the
      // expected-pair count; the floor assertion rides inside the plan
      "ann_opq_recall" ->
        ("WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20), " +
          "topk AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank " +
          "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id) " +
          "SELECT CAST(COUNT(*) AS BIGINT) AS total_expected, TRUE AS recall_ok " +
          "FROM topk WHERE rank <= 3"),

      // golden-fixture oracles: LSH/IVF candidate generation is seeded-hash
      // math DuckDB cannot express; the fixtures are recomputed independently
      // (java.util.Random + bucket/Lloyd's replication in numpy float64,
      // tools/make_golden.py), not dumped from Spark.
      "ann_lsh_topk" ->
        ("SELECT query_id, rank, neighbor_id " +
          s"FROM read_parquet('$goldenDir/ann_lsh_topk_sf001.parquet')"),

      "ann_ivf_topk" ->
        ("SELECT query_id, rank, neighbor_id " +
          s"FROM read_parquet('$goldenDir/ann_ivf_topk_sf001.parquet')"),

      "ann_pq_topk" ->
        ("SELECT query_id, rank, neighbor_id " +
          s"FROM read_parquet('$goldenDir/ann_pq_topk_sf001.parquet')"),

      "ann_ivfpq_topk" ->
        ("SELECT query_id, rank, neighbor_id " +
          s"FROM read_parquet('$goldenDir/ann_ivfpq_topk_sf001.parquet')"),

      "ann_ivfpq_residual_topk" ->
        ("SELECT query_id, rank, neighbor_id " +
          s"FROM read_parquet('$goldenDir/ann_ivfpq_residual_topk_sf001.parquet')"),

      // identical plan + training through the persisted index: the same
      // golden fixture IS the oracle
      "ann_indexed_topk" ->
        ("SELECT query_id, rank, neighbor_id " +
          s"FROM read_parquet('$goldenDir/ann_ivfpq_topk_sf001.parquet')"),

      // P112: independent python replication of query-after-scrub — the
      // FULL-corpus quantizers over exactly the surviving (vec_id % 5 != 0)
      // corpus (tools/make_golden.py, ann scrub block)
      "ann_scrub_topk" ->
        ("SELECT query_id, rank, neighbor_id " +
          s"FROM read_parquet('$goldenDir/ann_scrub_topk_sf001.parquet')"),

      // append == save-over-union under fixed quantizers (sbt-pinned), so
      // the half-A-save + half-B-append query reproduces the same fixture
      "ann_append_topk" ->
        ("SELECT query_id, rank, neighbor_id " +
          s"FROM read_parquet('$goldenDir/ann_ivfpq_topk_sf001.parquet')"),

      // P118: compaction moves rows, never changes them — same fixture
      "ann_compact_topk" ->
        ("SELECT query_id, rank, neighbor_id " +
          s"FROM read_parquet('$goldenDir/ann_ivfpq_topk_sf001.parquet')"),

      // recall booleans are asserted on the Spark side (the query flips
      // them on regression); the oracle pins the brute-force total and the
      // expected verdicts
      "ann_ivfpq_recall" ->
        ("WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20), " +
          "topk AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
          "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank " +
          "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id) " +
          "SELECT CAST(COUNT(*) AS BIGINT) AS total_expected, " +
          "TRUE AS recall_np1_ok, TRUE AS recall_np2_ok, TRUE AS recall_all_ok, " +
          "TRUE AS residual_ge_raw " +
          "FROM topk WHERE rank <= 3"),

      "kmeans_assign" ->
        ("SELECT vec_id, cid " +
          s"FROM read_parquet('$goldenDir/kmeans_assign_sf001.parquet')"),

      // P116: independent replication of assign → fixed-point cosine →
      // per-cluster ascending rank → floor(n * q) cutoff
      "embedding_outliers" ->
        ("SELECT vec_id, cid, cos_fp, cluster_rank, is_outlier " +
          s"FROM read_parquet('$goldenDir/embedding_outliers_sf001.parquet')"),

      "cluster_sample" ->
        ("SELECT cid, vec_id, CAST(rk AS INT) AS sample_rank FROM " +
          "(SELECT cid, vec_id, row_number() OVER (PARTITION BY cid " +
          "ORDER BY md5('graft' || CAST(vec_id AS VARCHAR)), vec_id) AS rk " +
          s"FROM read_parquet('$goldenDir/kmeans_assign_sf001.parquet')) " +
          "WHERE rk <= 3"),

      // semantic dedup replayed from the golden cluster assignment (the same
      // independently-replicated quantizer the kmeans_assign gate pins) +
      // DuckDB's own exact cosine: within-cluster pairs at the 0.35 boundary
      // dedup_embedding_pairs already proves engine-portable.
      "semantic_dedup_pairs" ->
        (s"WITH ga AS (SELECT vec_id, cid FROM read_parquet('$goldenDir/kmeans_assign_sf001.parquet')), " +
          "j AS (SELECT ga.vec_id, ga.cid, e.embedding FROM ga JOIN embeddings e USING (vec_id)) " +
          "SELECT x.vec_id AS \"idA\", y.vec_id AS \"idB\" FROM j x JOIN j y " +
          "ON x.cid = y.cid AND x.vec_id < y.vec_id " +
          "WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.35"),

      "semantic_dedup_keep" ->
        (s"WITH ga AS (SELECT vec_id, cid FROM read_parquet('$goldenDir/kmeans_assign_sf001.parquet')), " +
          "j AS (SELECT ga.vec_id, ga.cid, e.embedding FROM ga JOIN embeddings e USING (vec_id)), " +
          "p AS (SELECT y.vec_id AS drop_id FROM j x JOIN j y " +
          "ON x.cid = y.cid AND x.vec_id < y.vec_id " +
          "WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.35) " +
          "SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT drop_id FROM p)"),

      // DuckDB has no deflate: expected lengths come from the python-zlib
      // golden (byte-identical raw stream, level 6); raw bytes and the ratio
      // are still recomputed in SQL from the documents table.
      "compression_signal" ->
        ("SELECT d.doc_id, CAST(octet_length(encode(d.text)) AS INTEGER) AS raw_bytes, " +
          "g.deflate_bytes, " +
          "CASE WHEN g.deflate_bytes = 0 THEN 0.0 " +
          "ELSE CAST(octet_length(encode(d.text)) AS DOUBLE) / g.deflate_bytes END AS compression_ratio " +
          s"FROM documents d JOIN read_parquet('$goldenDir/deflate_sf001.parquet') g USING (doc_id)"),

      "multimodal_features" ->
        ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
          "CAST(CASE WHEN octet_length(encode(text)) < 64 THEN 0 ELSE floor((octet_length(encode(text)) - 64) / 48) + 1 END AS BIGINT) AS n_frames, " +
          // byte-exact frame compare: hex the whole blob, slice 128 hex chars
          // = 64 bytes (DuckDB cannot substring a BLOB directly)
          "CASE WHEN octet_length(encode(text)) >= 64 THEN substring(hex(encode(text)), 1, 128) END AS first_frame_hex " +
          "FROM documents"),

      // expected format/width/height/entropy parsed independently in python
      // (struct-based header reads) at fixture build time
      "multimodal_decode" ->
        ("SELECT img_id, format, width, height, n_bytes, entropy " +
          s"FROM read_parquet('$goldenDir/images.parquet')"),

      "multimodal_audio" ->
        ("SELECT audio_id, channels, sample_rate, bits_per_sample, n_frames, n_bytes " +
          s"FROM read_parquet('$goldenDir/audio.parquet')"),

      "multimodal_video" ->
        ("SELECT video_id, format, width, height, duration_ms, n_frames, n_bytes " +
          s"FROM read_parquet('$goldenDir/videos.parquet')"),

      // same integer frame-index arithmetic as Multimodal.sampleFrames,
      // recomputed from the fixture's construction-parameter columns
      "multimodal_frames" ->
        ("WITH v AS (SELECT video_id, n_frames, duration_ms " +
          s"FROM read_parquet('$goldenDir/videos.parquet') " +
          "WHERE n_frames IS NOT NULL AND n_frames > 0), " +
          "f AS (SELECT DISTINCT video_id, n_frames, duration_ms, " +
          "CAST(i.i * n_frames // 4 AS BIGINT) AS frame_idx " +
          "FROM v, (SELECT unnest(range(4)) AS i) i) " +
          "SELECT video_id, frame_idx, " +
          "CAST(frame_idx * duration_ms // n_frames AS BIGINT) AS ts_ms FROM f"),

      "multimodal_dedup" ->
        ("WITH u AS (SELECT img_id, payload, format, n_bytes " +
          s"FROM read_parquet('$goldenDir/images.parquet') " +
          "UNION ALL SELECT img_id + 100, payload, format, n_bytes " +
          s"FROM read_parquet('$goldenDir/images.parquet')), " +
          "w AS (SELECT MIN(img_id) AS keep_id FROM u GROUP BY payload) " +
          "SELECT u.img_id, u.format, u.n_bytes FROM u JOIN w ON u.img_id = w.keep_id"),

      // t2 correctness runs at sf0.01 (TESTDATA.md), so the oracle reads the
      // sf0.01 file directly — DuckDB has no table-level footer introspection.
      "parquet_blocks" ->
        ("SELECT CAST(row_group_id + 1 AS BIGINT) AS block, row_group_num_rows AS rows, " +
          "row_group_num_columns AS columns, " +
          "CAST(SUM(total_compressed_size) AS BIGINT) AS \"compressedBytes\", " +
          "CAST(SUM(total_uncompressed_size) AS BIGINT) AS \"uncompressedBytes\", " +
          "CAST(SUM(num_values) AS BIGINT) AS \"values\", " +
          "CAST(SUM(stats_null_count) AS BIGINT) AS nulls " +
          "FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet') " +
          "GROUP BY row_group_id, row_group_num_rows, row_group_num_columns"),

      "layout_report" -> {
        val root = "/tmp/graft_layout_gate__root_testdata_sf0_01"
        s"WITH pf AS (" +
          s"SELECT '$root/frag' AS dir, file_name, num_rows, num_row_groups " +
          s"FROM parquet_file_metadata('$root/frag/*.parquet') " +
          s"UNION ALL SELECT '$root/one', file_name, num_rows, num_row_groups " +
          s"FROM parquet_file_metadata('$root/one/*.parquet')), " +
          "pc AS (SELECT file_name, SUM(total_compressed_size) AS cb FROM (" +
          s"SELECT file_name, total_compressed_size FROM parquet_metadata('$root/frag/*.parquet') " +
          s"UNION ALL SELECT file_name, total_compressed_size FROM parquet_metadata('$root/one/*.parquet')" +
          ") GROUP BY 1), " +
          "j AS (SELECT dir, pf.file_name, num_rows, num_row_groups, cb " +
          "FROM pf JOIN pc USING (file_name)) " +
          "SELECT dir, COUNT(*) AS files, CAST(SUM(num_row_groups) AS BIGINT) AS blocks, " +
          "CAST(SUM(num_rows) AS BIGINT) AS rows, CAST(SUM(cb) AS BIGINT) AS compressed_bytes, " +
          "COUNT(CASE WHEN cb < 131072 THEN 1 END) AS small_files, " +
          "CAST(GREATEST(1, (SUM(cb) + 262143) // 262144) AS BIGINT) AS target_files, " +
          "(COUNT(*) > GREATEST(1, (SUM(cb) + 262143) // 262144) AND " +
          "2 * COUNT(CASE WHEN cb < 131072 THEN 1 END) > COUNT(*)) AS compaction_recommended " +
          "FROM j GROUP BY dir"
      },

      "parquet_metadata_scan" ->
        ("SELECT CAST(num_row_groups AS BIGINT) AS blocks, num_rows AS rows, " +
          "created_by AS \"createdBy\", 'UNENCRYPTED' AS encryption " +
          "FROM parquet_file_metadata('/root/testdata/sf0.01/lineitem.parquet')"),

      // Split planning pinned to 1 MiB splits (see the query): a row group
      // belongs to partition floor((startingPos + compressedSize/2) / 1MiB);
      // startingPos = first column chunk's dictionary-or-data page offset.
      "parquet_partitions_scan" ->
        ("WITH rg AS (SELECT row_group_id, " +
          "MIN(CASE WHEN column_id = 0 THEN " +
          "CASE WHEN dictionary_page_offset IS NOT NULL AND dictionary_page_offset > 0 " +
          "THEN dictionary_page_offset ELSE data_page_offset END END) AS start_pos, " +
          "SUM(total_compressed_size) AS comp, " +
          "SUM(total_uncompressed_size) AS uncomp, " +
          "MIN(row_group_num_rows) AS nrows " +
          "FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet') " +
          "GROUP BY row_group_id) " +
          "SELECT CAST((start_pos + comp // 2) // 1048576 AS BIGINT) AS partition, " +
          "CAST(COUNT(*) AS BIGINT) AS blocks, " +
          "CAST(SUM(comp) AS BIGINT) AS \"compressedBytes\", " +
          "CAST(SUM(uncomp) AS BIGINT) AS \"uncompressedBytes\", " +
          "CAST(SUM(nrows) AS BIGINT) AS rows " +
          "FROM rg GROUP BY 1"),

      // DuckDB labels the physical type BYTE_ARRAY where parquet-java says BINARY
      "parquet_schema_scan" ->
        ("SELECT name AS \"columnName\", " +
          "CASE WHEN type = 'BYTE_ARRAY' THEN 'BINARY' ELSE type END AS type, " +
          "repetition_type AS repetition " +
          "FROM parquet_schema('/root/testdata/sf0.01/lineitem.parquet') " +
          "WHERE num_children IS NULL"),

      "parquet_block_columns" ->
        ("SELECT CAST(row_group_id + 1 AS BIGINT) AS block, path_in_schema AS \"column\", " +
          "CAST(num_values AS BIGINT) AS \"values\", " +
          "CAST(total_compressed_size AS BIGINT) AS \"compressedBytes\", " +
          "CAST(total_uncompressed_size AS BIGINT) AS \"uncompressedBytes\", " +
          "CAST(stats_null_count AS BIGINT) AS nulls " +
          "FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet')")
    )
    base ++ Map(
      // streaming flags the LATER doc of each containment pair (candidates
      // collide against each print's first owner, exact verify gate-side);
      // the replay feeds originals before excerpts, so flagged == the
      // distinct later members of the batch containment pairs. Data
      // assumption (as for streaming_neardup): each true pair's earlier
      // member owns at least one shared print first — StreamingDedupSuite
      // pins the print-first semantics on hand-planted feeds
      "streaming_containment" ->
        ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 100000 AS doc_id, array_to_string(" +
          "([x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''])[3:32], ' ') AS text " +
          "FROM documents WHERE doc_id % 5 = 1), " +
          "tok AS (SELECT doc_id, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM corpus), " +
          "sh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS s FROM tok WHERE len(toks) >= 3), " +
          "sf AS (SELECT doc_id, s FROM sh WHERE len(s) >= 10), " +
          "p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, " +
          "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(LEAST(len(a.s), len(b.s)) AS DOUBLE) AS c " +
          "FROM sf a JOIN sf b ON a.doc_id < b.doc_id) " +
          "SELECT DISTINCT ib AS doc_id FROM p WHERE c >= 0.5"))
  }
}
