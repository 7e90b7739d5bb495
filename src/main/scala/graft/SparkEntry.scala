package graft

import graft.gates._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One correctness gate: `run` builds the operator's result from the
  * tables under an sf directory, and `oracle` gives, for that same
  * directory, the DuckDB SQL the result must equal (same column names —
  * the compare sorts columns by name before hashing).
  *
  * Numeric policy for oracle parity: aggregates over doubles are computed on
  * DECIMAL(18,2) casts (exact, order-independent) and cast back to DOUBLE, so
  * Spark's and DuckDB's summation order cannot produce differing floats.
  */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
                      oracle: String => String)

object Gate {
  /** A gate whose oracle reads only the registered tables, whatever the
    * sf directory. */
  def apply(name: String, run: (SparkSession, String) => DataFrame, oracle: String): Gate =
    new Gate(name, run, _ => oracle)
}

/** The gate registry (SURVEY.md §7): every operator from SURVEY.md §2
  * that is implemented has one [[Gate]], defined with its oracle in the
  * per-domain objects of [[graft.gates]]; [[queries]] and [[oracleSql]]
  * are derived from that one list. */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Replay `staged` as ordered file-source micro-batches (batch b = rows
    * with `batchCol == b`) through the streaming transform `op`, drain the
    * result into a parquet sink, and return the sink read back — the
    * [[graft.streaming.StreamHarness]] pattern that gives the streaming
    * operators the same DuckDB hash gate as the batch ones. */
  private[graft] def streamReplay(s: SparkSession, staged: DataFrame, batchCol: Column,
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

  /** Planted byte-BPE hazard rows (ids -1..-8): contractions, case,
    * whitespace runs, digits/punctuation, multi-byte UTF-8,
    * trailing/leading space, empty — the scanner paths the synthetic
    * corpus lacks. ONE definition for both the in-plan and SQL-artifact
    * gates; the third copy in tools/make_golden.py is deliberate
    * (independent-replication discipline), so edits must land there too. */
  private[graft] val byteBpeHazards: Seq[(Long, String)] = Seq(
    "it's the'll 've 'd mix",
    "Hello World HELLO hello",
    "a  b   c\td\ne f  ",
    "version 2.0 has 123 bugs, v2>v1!",
    "café naïve €9",
    "",
    "'s start and end'",
    "  leading spaces").zipWithIndex
    .map { case (p, i) => (-(i + 1).toLong, p) }

  /** `documents` (doc_id, text) and the byte-BPE model the tokenizer, chat
    * and packing gates share: 80 merges over the documents plus the hazard
    * rows, which keeps the tiny vocabulary unsaturated. */
  private[graft] def docsAndByteBpe(s: SparkSession, dir: String)
      : (DataFrame, graft.text.ByteBpe.ByteBpeModel) = {
    import s.implicits._
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    (docs, graft.text.ByteBpe.train(docs.unionAll(byteBpeHazards.toDF("doc_id", "text")),
      col("text"), numMerges = 80))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("diff_orders")(spark, "/root/testdata/sf0.001")

  /**
   * Committed golden fixtures (src/test/resources/golden), produced by
   * tools/make_golden.py with INDEPENDENT reimplementations (python zlib for
   * DEFLATE, struct-based image header parsing, a java.util.Random + LSH/IVF
   * replication in numpy). They oracle the gate queries DuckDB cannot express
   * natively; override via GRAFT_GOLDEN_DIR when the repo lives elsewhere.
   */
  private[graft] val goldenDir: String =
    sys.env.getOrElse("GRAFT_GOLDEN_DIR", "/root/repo/src/test/resources/golden")

  /** Deterministic 256-bucket weight table for the classifier gate — the
    * SAME generated literal feeds the Spark kernel and the DuckDB oracle's
    * list, so there is one source of truth for the model. */
  private[graft] val classifierGateWeights: Array[Int] =
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

  // document tokenization / shingling / near-dup-pair CTEs (ASCII tokens,
  // word 3-grams — must mirror TextFunctions.textShingles exactly)
  private[graft] val docTokCte =
    "tok AS (SELECT doc_id, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM documents)"
  private[graft] val docShCte =
    "sh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS s FROM tok WHERE len(toks) >= 3)"
  private[graft] val docPairCte =
    "p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, " +
      "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id)"

  /** Every gate, grouped by domain. Lazy: the domain objects read this
    * object's shared fixtures while they initialize. */
  private[graft] lazy val gates: Seq[Gate] = Seq(
    CoreGates.gates, DiffGates.gates, EventGates.gates, ParquetGates.gates,
    TextGates.gates, CleaningGates.gates, ChatGates.gates, TokenizerGates.gates,
    PipelineGates.gates, StreamingGates.gates, SamplingGates.gates,
    DedupGates.gates, AnnGates.gates, MultimodalGates.gates).flatten

  /** Gates by name; a name defined twice is an error, not a silent
    * overwrite. */
  private[graft] def byName(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"gate name(s) defined more than once: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }

  private lazy val registry: Map[String, Gate] = byName(gates)

  /** Each gate's Spark body, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, g) => n -> g.run }

  /** Each gate's DuckDB oracle for the tables under `sfDir`, by name. */
  def oracleSql(sfDir: String): Map[String, String] =
    registry.map { case (n, g) => n -> g.oracle(sfDir) }
}
