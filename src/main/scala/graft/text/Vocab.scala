package graft.text

import graft.functions.{vectors, TokenSetCoverage, VectorKernels}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Vocabulary coverage / out-of-vocabulary reporting — the tokenizer-fit
 * boilerplate of a training-data pipeline: given a token vocabulary (the
 * tokenizer's word list, or the corpus's own frequent tokens), what fraction
 * of each document's token OCCURRENCES the vocabulary covers. High OOV rate
 * flags wrong-language/garbled/boilerplate documents and measures how well a
 * tokenizer's vocab fits an incoming corpus before a training run.
 *
 * Scale shape (100 TB): the vocabulary becomes ONE sorted 64-bit-hash array
 * (8 B/term) broadcast once per executor; every document is then scored by
 * one fused tokenize+hash+binary-search kernel pass next to the scan
 * ([[graft.functions.TokenSetCoverage]]) — no explode, no join, no shuffle,
 * streaming-legal (the [[graft.dedup.Dedup.decontaminate]]
 * discipline). Deriving a top-n corpus vocabulary costs one
 * map-side-combined token count plus a TakeOrderedAndProject top-n — the
 * only shuffle, carrying distinct tokens, not positions.
 */
object Vocab {

  /** Corpus tokens by occurrence count (with multiplicity): `(token, cnt)`,
    * deterministic top-n by `(cnt desc, token asc)` — plans
    * TakeOrderedAndProject (bounded n, per-partition heads, no global
    * sort). */
  def topTokens(docs: DataFrame, text: Column, n: Int): DataFrame =
    docs.select(explode(vectors.tokenize_ascii(text)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(n)

  /** The top-n corpus vocabulary materialized driver-side — a bounded
    * collect of n terms (the blocklist-broadcast pattern, require-capped by
    * construction via `limit`). */
  def fitTopTokenVocab(docs: DataFrame, text: Column, n: Int): Array[String] =
    topTokens(docs, text, n).select("token").collect().map(_.getString(0))

  /** Per-document coverage report against an explicit term list:
    * `(id, n_tokens, n_in_vocab, oov_rate)` — `oov_rate` is
    * `1 - n_in_vocab/n_tokens` (0.0 for token-less docs). One narrow kernel
    * pass; terms are hashed with the `hashed_word_shingles` n=1 family so
    * the probe agrees with every other token-hash consumer in the engine. */
  def coverageReport(docs: DataFrame, id: Column, text: Column,
                     vocab: Array[String]): DataFrame = {
    val hashes = vocab.map(t => VectorKernels.hash64(UTF8String.fromString(t)))
    java.util.Arrays.sort(hashes)
    val bcast = docs.sparkSession.sparkContext.broadcast(hashes)
    val cov = TokenSetCoverage(text.asExpression, bcast).asColumn
    docs.select(id.as("id"), cov.as("__cov"))
      .select(col("id"),
        coalesce(col("__cov").getItem(0), lit(0L)).as("n_tokens"),
        coalesce(col("__cov").getItem(1), lit(0L)).as("n_in_vocab"))
      .withColumn("oov_rate",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("n_in_vocab").cast("double") /
            col("n_tokens").cast("double")))
  }

  /** Coverage against the corpus's own top-n tokens — the self-fit variant
    * (fit = one bounded collect, then the same narrow probe). */
  def selfCoverageReport(docs: DataFrame, id: Column, text: Column,
                         vocabSize: Int): DataFrame =
    coverageReport(docs, id, text, fitTopTokenVocab(docs, text, vocabSize))
}
