package graft.text

import org.apache.spark.sql.functions._
import graft.parquet.LocalParquet
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/**
 * WordPiece-style tokenizer — the greedy longest-match-first segmentation
 * family (the BERT runtime rule), the second real subword tokenizer next
 * to [[Bpe]]: BPE segments by replaying learned merges, WordPiece segments
 * by maximal matching against a piece vocabulary, and the two disagree on
 * real text, so pipelines comparing token budgets across model families
 * need both.
 *
 * Spark-first split, same shape as [[Bpe]]:
 *  - corpus-sized pass = the WORD COUNT (one map-side-combined hash agg);
 *  - vocabulary selection runs on the bounded word-frequency table
 *    (require-capped driver collect, like every production tokenizer
 *    trainer);
 *  - encode is one narrow codegen kernel pass
 *    ([[graft.functions.WordPieceEncode]]) with a per-thread word memo —
 *    no shuffle, streaming-legal.
 *
 * Vocabulary selection is a DOCUMENTED deterministic simplification of the
 * original likelihood-based WordPiece training (Schuster & Nakajima 2012;
 * the BERT repo never published its trainer either): candidate pieces are
 * every substring of every counted word up to `maxPieceLen` chars —
 * word-initial substrings as-is, interior ones `##`-prefixed — scored by
 * `sum(word_freq)` over every occurrence; the vocab is all single-char
 * pieces seen (so training-corpus words can never hit `[UNK]`) plus the
 * top `vocabSize - base` candidates by (score desc, piece asc). Integer
 * arithmetic end to end — training and encode are exactly replayable by
 * any engine (the gate fixture replicates both in python).
 *
 * Encode rule (the standard one): per ascii word, take the LONGEST
 * word-initial piece at position 0, then the longest `##` continuation at
 * each subsequent position; if some position matches nothing (possible
 * only when encoding NEW text against a loaded vocab), the whole word
 * becomes `[UNK]`.
 */
object WordPiece {

  case class WordPieceModel(pieces: IndexedSeq[String]) {
    require(pieces.nonEmpty, "WordPiece model needs a non-empty vocab")
  }

  /**
   * Learn a `vocabSize`-piece vocabulary from the corpus. `maxWords` caps
   * the driver collect (top words by (count desc, word) — deterministic);
   * `minFreq` drops hapax noise before the cap.
   */
  def train(corpus: DataFrame, text: Column, vocabSize: Int,
            maxPieceLen: Int = 10, maxWords: Int = 1 << 20,
            minFreq: Long = 1L): WordPieceModel = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    require(maxPieceLen >= 1 && maxPieceLen <= 64,
      s"maxPieceLen out of range: $maxPieceLen")
    require(maxWords > 0 && maxWords <= (1 << 24),
      s"maxWords out of range (driver collect cap): $maxWords")
    val counts = corpus
      .select(explode(TextFunctions.tokenize(text, TextFunctions.AsciiTokenPattern)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minFreq)
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainFromCounts(counts, vocabSize, maxPieceLen)
  }

  /** Vocabulary selection over a word-frequency table (pure, driver-side).
    * Exposed for tests. */
  private[graft] def trainFromCounts(wordCounts: Array[(String, Long)],
                                     vocabSize: Int,
                                     maxPieceLen: Int): WordPieceModel = {
    val score = scala.collection.mutable.HashMap.empty[String, Long]
    wordCounts.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        val maxJ = math.min(w.length, i + maxPieceLen)
        var j = i + 1
        while (j <= maxJ) {
          val piece =
            if (i == 0) w.substring(i, j) else "##" + w.substring(i, j)
          score.update(piece, score.getOrElse(piece, 0L) + c)
          j += 1
        }
        i += 1
      }
    }
    val (base, rest) = score.keysIterator.toArray.partition { p =>
      (if (p.startsWith("##")) p.length - 2 else p.length) == 1
    }
    require(vocabSize > base.length,
      s"vocabSize $vocabSize must exceed the single-char base (${base.length})")
    val top = rest
      .map(p => (p, score(p)))
      .sortBy { case (p, s) => (-s, p) }
      .take(vocabSize - base.length)
      .map(_._1)
    WordPieceModel((base.sorted ++ top).toIndexedSeq)
  }

  /** Tokenize `text` into the model's piece stream: `array<string>`, one
    * codegen kernel pass, no shuffle. */
  def encode(text: Column, model: WordPieceModel): Column =
    graft.functions.vectors.wordpiece_encode(text, model.pieces)

  /** Piece count per row — the budget/packing input. */
  def tokenCount(text: Column, model: WordPieceModel): Column =
    size(encode(text, model)).cast("long")

  /** LOSSY detokenizer — the documented whitespace contract: `##`
    * continuation prefixes ARE word-boundary marks, so decode rebuilds
    * the word stream exactly — a piece without `##` starts a new word
    * (single space before it), a `##` piece glues onto the current word
    * — yielding `tokenize_ascii(text)` joined by single spaces. Case,
    * punctuation and original whitespace runs are gone (the ascii
    * pre-tokenizer dropped them before encoding); within-word content is
    * exact whenever no `[UNK]` was emitted (training-corpus text never
    * hits one). Pure column algebra, no shuffle. */
  def decode(tokens: Column): Column =
    ltrim(array_join(transform(tokens, t =>
      when(t.startsWith("##"), t.substr(lit(3), length(t)))
        .otherwise(concat(lit(" "), t))), ""))

  /** Persist the vocab as a tiny one-column parquet table. Driver-side,
    * no Spark job. */
  def saveWordPiece(spark: SparkSession, model: WordPieceModel, path: String): Unit =
    LocalParquet.write(spark, path, StructType(Seq(StructField("piece", StringType))),
      model.pieces.map(Row(_)))

  /** Load a model persisted by [[saveWordPiece]], or by a Spark write of
    * the same table. Driver-side, no Spark job. */
  def loadWordPiece(spark: SparkSession, path: String): WordPieceModel =
    WordPieceModel(LocalParquet.read(spark, path).map(_.getAs[String]("piece"))
      .sorted.toIndexedSeq)
}
