package graft.text

import org.apache.spark.sql.functions._
import graft.parquet.LocalParquet
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/**
 * Unigram-LM tokenizer — the third real subword family next to [[Bpe]]
 * (merge replay) and [[WordPiece]] (greedy maximal matching): unigram
 * segmentation picks the GLOBALLY best piece sequence per word under a
 * per-piece score (Kudo 2018, the SentencePiece default), and the three
 * families genuinely disagree on real text, so token-budget comparisons
 * across model ecosystems (GPT-style BPE, BERT-style WordPiece,
 * T5/LLaMA-style unigram) need all three.
 *
 * Spark-first split, same shape as the other two trainers:
 *  - corpus-sized work = ONE word count (map-side-combined hash agg);
 *  - training runs on the bounded word-frequency table (require-capped
 *    driver collect — every production tokenizer trainer does this);
 *  - encode is one narrow codegen kernel pass
 *    ([[graft.functions.UnigramEncode]]) with a per-thread word memo — no
 *    shuffle, streaming-legal.
 *
 * DETERMINISM: this is a documented FIXED-POINT variant of unigram
 * training — hard-EM (Viterbi counts, the standard "Viterbi EM"
 * approximation) with all piece scores in integer fixed-point log2
 * (`floor(2^16 · log2 c)`, computed EXACTLY by shift-and-square on
 * arbitrary-precision integers — [[Unigram.log2fp]]), so no IEEE log, no
 * float summation, no platform libm can change a segmentation: training
 * and encode replay bit-for-bit in any language (the gate fixture
 * replicates the WHOLE algorithm independently in python).
 *
 * Algorithm (every step fully specified):
 *  1. seed pseudo-counts: every substring (1..maxPieceLen chars) of every
 *     counted word accumulates the word's frequency; seed vocab = all
 *     single chars + top (seedSize − chars) multi-char substrings by
 *     (count desc, piece asc);
 *  2. hard-EM, `emIterations` rounds: score every vocab piece
 *     `log2fp(max(count,1)) − log2fp(max(total,1))` (total = Σ counts over
 *     the vocab), Viterbi-segment every word (DP over end positions;
 *     ascending start order, replace only on STRICTLY greater score — so
 *     ties keep the smallest start, i.e. the longest final piece), count
 *     piece uses weighted by word frequency; drop multi-char pieces with
 *     zero count (single chars always stay);
 *  3. final vocab = single chars + top (vocabSize − chars) multi-char by
 *     (count desc, piece asc); final scores from the final counts
 *     restricted to that vocab.
 *
 * Encode rule: Viterbi under the final scores; a character absent from
 * the vocab (possible only on NEW text) segments as itself with the fixed
 * penalty score −2^40 — the SentencePiece byte-fallback idea, specified
 * instead of [UNK]-collapsing so token counts stay meaningful.
 */
object Unigram {

  val FracBits = 16
  val UnkCharScore: Long = -(1L << 40)

  /** DP score floor: path scores saturate here instead of wrapping —
    * without it a pathological >2^23-char out-of-vocab run (every char at
    * UnkCharScore) would overflow Long and pick a garbage segmentation,
    * diverging from the unbounded-int python replication. Part of the
    * replay spec: the fixture saturates identically. */
  val ScoreFloor: Long = -(1L << 62)

  case class UnigramModel(pieces: IndexedSeq[String], scores: IndexedSeq[Long]) {
    require(pieces.nonEmpty, "Unigram model needs a non-empty vocab")
    require(pieces.length == scores.length, "pieces/scores length mismatch")
  }

  /** floor(2^fracBits · log2 c), EXACT: shift-and-square with an
    * arbitrary-precision mantissa truncated to 64 bits each step (the
    * truncation rule is part of the spec — replicate it, don't improve
    * it). Deterministic on any platform, any language with big ints. */
  def log2fp(c: Long, fracBits: Int = FracBits): Long = {
    require(c >= 1, s"log2fp needs c >= 1, got $c")
    val ip = 63 - java.lang.Long.numberOfLeadingZeros(c)
    var result = ip.toLong << fracBits
    var mant = BigInt(c)
    var shift = ip // mant / 2^shift ∈ [1, 2)
    var bit = fracBits - 1
    while (bit >= 0) {
      mant = mant * mant
      shift *= 2
      if (mant >= (BigInt(1) << (shift + 1))) {
        result |= 1L << bit
        shift += 1
      }
      val excess = mant.bitLength - 64
      if (excess > 0) { mant = mant >> excess; shift -= excess }
      bit -= 1
    }
    result
  }

  /** Viterbi segmentation of `w` under `score` (piece -> fixed-point log
    * prob; Long.MinValue = absent): globally best piece sequence;
    * ascending-start tie rule; chars absent from the vocab segment as
    * themselves at [[UnkCharScore]]. */
  private[graft] def viterbi(w: String, score: String => Long,
                             maxPieceLen: Int): Array[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Long.MinValue)
    val backStart = new Array[Int](n + 1)
    best(0) = 0L
    var end = 1
    while (end <= n) {
      var start = math.max(0, end - maxPieceLen)
      while (start < end) {
        if (best(start) != Long.MinValue) {
          val piece = w.substring(start, end)
          val looked = score(piece)
          val s =
            if (looked != Long.MinValue) looked
            else if (end - start == 1) UnkCharScore
            else Long.MinValue
          if (s != Long.MinValue) {
            // saturating add: best >= ScoreFloor and s >= UnkCharScore, so
            // the raw sum cannot wrap; the max keeps the invariant
            val cand = math.max(best(start) + s, ScoreFloor)
            if (cand > best(end)) { best(end) = cand; backStart(end) = start }
          }
        }
        start += 1
      }
      end += 1
    }
    // every position is reachable via the 1-char (vocab or UNK) step
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { out += w.substring(backStart(pos), pos); pos = backStart(pos) }
    out.reverseIterator.toArray
  }

  /**
   * Learn a unigram model from the corpus. `maxWords` caps the driver
   * collect (top words by (count desc, word) — deterministic); `minFreq`
   * drops hapax noise before the cap.
   */
  def train(corpus: DataFrame, text: Column, vocabSize: Int,
            maxPieceLen: Int = 10, seedSize: Int = 4096,
            emIterations: Int = 2, maxWords: Int = 1 << 20,
            minFreq: Long = 1L): UnigramModel = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    require(maxPieceLen >= 1 && maxPieceLen <= 64,
      s"maxPieceLen out of range: $maxPieceLen")
    require(seedSize >= vocabSize,
      s"seedSize $seedSize must be >= vocabSize $vocabSize")
    require(emIterations >= 1 && emIterations <= 16,
      s"emIterations out of range: $emIterations")
    require(maxWords > 0 && maxWords <= (1 << 24),
      s"maxWords out of range (driver collect cap): $maxWords")
    val counts = corpus
      .select(explode(TextFunctions.tokenize(text, TextFunctions.AsciiTokenPattern)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minFreq)
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainFromCounts(counts, vocabSize, maxPieceLen, seedSize, emIterations)
  }

  /** Training over a word-frequency table (pure, driver-side). Exposed for
    * tests and the fixture replication. */
  private[graft] def trainFromCounts(wordCounts: Array[(String, Long)],
                                     vocabSize: Int, maxPieceLen: Int,
                                     seedSize: Int,
                                     emIterations: Int): UnigramModel = {
    // 1. seed pseudo-counts: every substring, weighted by word frequency
    val seed = scala.collection.mutable.HashMap.empty[String, Long]
    wordCounts.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        val maxJ = math.min(w.length, i + maxPieceLen)
        var j = i + 1
        while (j <= maxJ) {
          val p = w.substring(i, j)
          seed.update(p, seed.getOrElse(p, 0L) + c)
          j += 1
        }
        i += 1
      }
    }
    val chars = seed.keysIterator.filter(_.length == 1).toArray.sorted
    require(vocabSize > chars.length,
      s"vocabSize $vocabSize must exceed the single-char base (${chars.length})")
    val seedMulti = seed.iterator.filter(_._1.length > 1).toArray
      .sortBy { case (p, s) => (-s, p) }
      .take(seedSize - chars.length)
    var counts = scala.collection.mutable.HashMap.empty[String, Long]
    chars.foreach(ch => counts.update(ch, seed(ch)))
    seedMulti.foreach { case (p, s) => counts.update(p, s) }

    def scoresOf(cts: collection.Map[String, Long]): collection.Map[String, Long] = {
      var total = 0L
      cts.valuesIterator.foreach(v => total += math.max(v, 1L))
      val logTotal = log2fp(math.max(total, 1L))
      cts.map { case (p, c) => p -> (log2fp(math.max(c, 1L)) - logTotal) }
    }

    // 2. hard-EM rounds
    var it = 0
    while (it < emIterations) {
      val sc = scoresOf(counts)
      val lookup: String => Long = p => sc.getOrElse(p, Long.MinValue)
      val next = scala.collection.mutable.HashMap.empty[String, Long]
      wordCounts.foreach { case (w, c) =>
        viterbi(w, lookup, maxPieceLen).foreach { p =>
          next.update(p, next.getOrElse(p, 0L) + c)
        }
      }
      val pruned = scala.collection.mutable.HashMap.empty[String, Long]
      chars.foreach(ch => pruned.update(ch, next.getOrElse(ch, 0L)))
      next.foreach { case (p, c) => if (p.length > 1 && c > 0L) pruned.update(p, c) }
      counts = pruned
      it += 1
    }

    // 3. final selection + final scores
    val finalMulti = counts.iterator.filter(_._1.length > 1).toArray
      .sortBy { case (p, c) => (-c, p) }
      .take(vocabSize - chars.length)
    val finalCounts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    chars.foreach(ch => finalCounts.update(ch, counts.getOrElse(ch, 0L)))
    finalMulti.foreach { case (p, c) => finalCounts.update(p, c) }
    val finalScores = scoresOf(finalCounts)
    val pieces = finalCounts.keysIterator.toArray.sorted
    UnigramModel(pieces.toIndexedSeq,
      pieces.map(finalScores(_)).toIndexedSeq)
  }

  /** Tokenize `text` into the model's piece stream: `array<string>`, one
    * codegen kernel pass, no shuffle. */
  def encode(text: Column, model: UnigramModel): Column =
    graft.functions.vectors.unigram_encode(text, model.pieces, model.scores)

  /** Piece count per row — the budget/packing input. */
  def tokenCount(text: Column, model: UnigramModel): Column =
    size(encode(text, model)).cast("long")

  /** LOSSY detokenizer — the documented whitespace contract: unigram
    * pieces (like word-level BPE's, unlike WordPiece's `##` marks) carry
    * no word-boundary marker, so `decode` returns the bare CONCATENATION
    * of the lowercased alphanumeric stream — `concat(tokenize_ascii(
    * text))`. Viterbi segmentation partitions each word exactly (the
    * 1-char/UNK fallback covers every position), so within-word content
    * survives verbatim; case, punctuation and whitespace never entered
    * the stream. Pure column algebra, no shuffle. */
  def decode(tokens: Column): Column = array_join(tokens, "")

  /** Persist the model as a tiny two-column parquet table. Driver-side,
    * no Spark job. */
  def saveUnigram(spark: SparkSession, model: UnigramModel, path: String): Unit =
    LocalParquet.write(spark, path,
      StructType(Seq(StructField("piece", StringType), StructField("score", LongType))),
      model.pieces.zip(model.scores).map { case (p, sc) => Row(p, sc) })

  /** Load a model persisted by [[saveUnigram]], or by a Spark write of the
    * same table. Driver-side, no Spark job. */
  def loadUnigram(spark: SparkSession, path: String): UnigramModel = {
    val rows = LocalParquet.read(spark, path)
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("score"))).sortBy(_._1)
    UnigramModel(rows.map(_._1).toIndexedSeq, rows.map(_._2).toIndexedSeq)
  }
}
