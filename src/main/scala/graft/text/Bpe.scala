package graft.text

import org.apache.spark.sql.functions._
import graft.parquet.LocalParquet
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/**
 * Byte-pair-encoding tokenizer — deterministic train + codegen'd encode,
 * the real-subword upgrade over [[TextFunctions.approxBpeTokenCount]]'s
 * regex heuristic (token budgeting, dedup-by-token-ids, vocabulary
 * coverage all want the ACTUAL subword stream).
 *
 * Spark-first split of the work, sized for 100 TB:
 *  - The corpus-sized pass is the WORD COUNT: one hash aggregation over the
 *    ascii-tokenized text (map-side combined — the exchange carries one row
 *    per distinct word per task, never corpus tokens).
 *  - Merge learning runs on the bounded word-FREQUENCY table (top
 *    `maxWords` by (count desc, word) — deterministic cutoff). Even a
 *    web-scale corpus has a bounded distinct-word set under an ascii
 *    pre-tokenizer, and every production BPE trainer (HF tokenizers,
 *    sentencepiece) learns merges single-node on exactly this table; the
 *    collect is require-capped like the IVF/PQ training means.
 *  - Encoding is a narrow codegen kernel pass
 *    ([[graft.functions.BpeEncodeTokens]]): tokenize, then per word apply
 *    merges lowest-rank-first with a per-thread word→tokens memo (real text
 *    repeats words heavily). No shuffle, streaming-legal.
 *
 * Determinism: no RNG anywhere; training ties (equal pair counts) break by
 * lexicographically smallest (left, right), so the same corpus always
 * yields the same merge list — and the DuckDB-gate fixture replicates the
 * whole algorithm independently in python (tools/make_golden.py).
 *
 * Pre-tokenization is [[TextFunctions.AsciiTokenPattern]] (lowercased
 * [a-z0-9]+ runs); merges never cross word boundaries and there is no
 * end-of-word marker (documented simplification vs the original
 * Sennrich et al. 2016 recipe — fine for counting/fingerprinting, and the
 * marker variant is one extra seed symbol if ever needed).
 */
object Bpe {

  /** An ordered merge list; rank = position (lower merges first). */
  case class BpeModel(merges: IndexedSeq[(String, String)]) {
    require(merges.nonEmpty, "BPE model needs at least one merge")
    def vocabSeed: Set[String] = merges.flatMap(m => Seq(m._1, m._2)).toSet
  }

  /**
   * Learn `numMerges` merges from the corpus. `maxWords` caps the driver
   * collect (top words by frequency, ties by word — deterministic);
   * `minFreq` drops hapax noise before the cap.
   */
  def train(corpus: DataFrame, text: Column, numMerges: Int,
            maxWords: Int = 1 << 20, minFreq: Long = 1L): BpeModel = {
    require(numMerges > 0, s"numMerges must be positive: $numMerges")
    require(maxWords > 0 && maxWords <= (1 << 24),
      s"maxWords out of range (driver collect cap): $maxWords")
    val counts = corpus
      .select(explode(TextFunctions.tokenize(text, TextFunctions.AsciiTokenPattern)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minFreq && length(col("w")) >= 2)
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainFromCounts(counts, numMerges)
  }

  /** The merge-learning loop over a word-frequency table (pure, driver-
    * side, O(numMerges * total symbols)). Exposed for tests. */
  private[graft] def trainFromCounts(wordCounts: Array[(String, Long)],
                                    numMerges: Int): BpeModel = {
    var seqs: Array[(Array[String], Long)] =
      wordCounts.map { case (w, c) => (w.map(_.toString).toArray, c) }
    val merges = IndexedSeq.newBuilder[(String, String)]
    var learned = 0
    var exhausted = false
    while (learned < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      seqs.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { case (pair, c) =>
          if (best == null || c > best._2 ||
              (c == best._2 && pairLt(pair, best._1))) best = (pair, c)
        }
        val pair = best._1
        merges += pair
        learned += 1
        seqs = seqs.map { case (syms, c) => (mergePair(syms, pair), c) }
      }
    }
    BpeModel(merges.result())
  }

  private def pairLt(a: (String, String), b: (String, String)): Boolean = {
    val l = a._1.compareTo(b._1)
    l < 0 || (l == 0 && a._2.compareTo(b._2) < 0)
  }

  /** One left-to-right pass replacing non-overlapping occurrences of
    * `pair` — the same primitive the encode kernel and the python fixture
    * replication use, so all three agree symbol-for-symbol. */
  private[graft] def mergePair(syms: Array[String],
                               pair: (String, String)): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += syms(i) + syms(i + 1)
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.result()
  }

  /** Tokenize `text` into the model's subword stream: `array<string>`, one
    * codegen kernel pass, no shuffle. */
  def encode(text: Column, model: BpeModel): Column =
    graft.functions.vectors.bpe_encode_tokens(text, model.merges)

  /** Subword count per row — the budget/packing input. */
  def tokenCount(text: Column, model: BpeModel): Column =
    size(encode(text, model)).cast("long")

  /** LOSSY detokenizer — the documented whitespace contract: word-level
    * BPE subwords carry no word-boundary marker (no end-of-word symbol,
    * no continuation prefix), so boundaries are NOT representable in the
    * token stream and `decode` returns the bare CONCATENATION of the
    * lowercased alphanumeric stream — exactly
    * `concat(tokenize_ascii(text))`. Case, punctuation and all
    * whitespace are gone (they never entered the stream); what IS
    * guaranteed, and what the round-trip gate checks, is that encoding
    * loses no characters within words: decode(encode(x)) equals the
    * concatenated ascii-token stream of x for every input. Pure column
    * algebra, no shuffle. For exact round-trips use
    * [[ByteBpe.decode]]; for space-separated words use
    * [[WordPiece.decode]] (its `##` marks carry boundaries). */
  def decode(tokens: Column): Column = array_join(tokens, "")

  /** Persist the merge list as a tiny `(rank, left, right)` parquet table —
    * a tokenizer is only useful if EVERY pipeline run (and the serving
    * side) encodes against the same merges. Driver-side, no Spark job. */
  def saveBpe(spark: SparkSession, model: BpeModel, path: String): Unit =
    LocalParquet.write(spark, path,
      StructType(Seq(StructField("rank", IntegerType),
        StructField("left", StringType), StructField("right", StringType))),
      model.merges.zipWithIndex.map { case ((l, r), rank) => Row(rank, l, r) })

  /** Load a model persisted by [[saveBpe]], or by a Spark write of the same
    * table. Driver-side, no Spark job. */
  def loadBpe(spark: SparkSession, path: String): BpeModel =
    BpeModel(LocalParquet.read(spark, path)
      .map(r => (r.getAs[Int]("rank"), (r.getAs[String]("left"), r.getAs[String]("right"))))
      .sortBy(_._1).map(_._2).toIndexedSeq)
}
