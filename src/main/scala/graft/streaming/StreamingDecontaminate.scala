package graft.streaming

import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Benchmark decontamination over an unbounded document feed.
 *
 * The batch shapes ([[Dedup.decontaminate]]/[[Dedup.decontaminateBloom]])
 * end in a per-document overlap aggregate + anti-join — operations a
 * Structured Streaming micro-batch cannot express (a stream cannot
 * anti-join its own aggregate). The streaming-legal shape is the
 * broadcast-exact filter ([[Dedup.decontaminateBroadcast]]): the STATIC
 * blocklist's distinct hashed shingles become one sorted broadcast array,
 * and each arriving document is decided by a stateless codegen'd
 * binary-search count — no shuffle, no state, no watermark needed, identical
 * results to the batch operator on the same rows (asserted in sbt).
 *
 * Scale: the per-executor cost is the broadcast set (8 B/shingle) paid once,
 * then log2(set) probes per document shingle in-line with the source read.
 * Works in any output mode; compose freely with the other stateless kernels
 * (quality filters, language id) before a stateful sink.
 */
object StreamingDecontaminate {

  /**
   * Filter a STREAMING document frame down to rows sharing fewer than
   * `minOverlap` distinct `shingleSize`-word shingles with the static
   * `blocklist`. Building the broadcast set runs one batch job over the
   * blocklist at call time; the returned frame is a stateless streaming
   * filter.
   */
  def decontaminateStream(
      stream: DataFrame, text: Column,
      blocklist: DataFrame, blocklistText: Column,
      shingleSize: Int = 8, minOverlap: Int = 1,
      maxBlocklistShingles: Long = Dedup.DefaultMaxBlocklistShingles): DataFrame = {
    require(stream.isStreaming, "decontaminateStream expects a streaming DataFrame; " +
      "use Dedup.decontaminateBroadcast (same semantics) for batch frames")
    val probe = Dedup.broadcastShingleProbe(
      stream, text, blocklist, blocklistText, shingleSize, maxBlocklistShingles)
    stream.filter(probe < minOverlap || probe.isNull)
  }
}
