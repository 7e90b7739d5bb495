package graft.streaming

import graft.dedup.Dedup
import graft.pipeline.Curation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Streaming counterpart of [[graft.pipeline.Curation]]: the curation pass an
 * unbounded ingest feed can legally run inside a Structured Streaming
 * micro-batch.
 *
 * Stage mapping vs the batch pass:
 *  - language id, quality rules, classifier, hash sampling — STATELESS
 *    narrow filters (identical kernels and semantics to the batch stages,
 *    so a document passes the stream iff it passes the batch pass);
 *  - decontamination — the batch stage's own filter
 *    ([[graft.dedup.Dedup.decontaminate]]): the blocklist is a bounded
 *    sorted long array shipped once per executor, the probe a codegen'd
 *    narrow filter;
 *  - exact dedup — the only STATEFUL stage: keep-first per normalized-text
 *    fingerprint with watermark-bounded 8-byte state
 *    (`dropDuplicatesWithinWatermark`), the only sustainable mode for an
 *    unbounded feed.
 *
 * MinHash near-dup keep-first is deliberately NOT in this composition: its
 * keep-first decision needs the whole duplicate set (a later doc can pair
 * with any earlier one), which no bounded-state stream can answer exactly —
 * use [[StreamingNearDup]] to flag candidates against watermark-bounded
 * bucket state, or run the batch pass over closed windows.
 *
 * Every per-document filter decision (langid, quality, decontamination,
 * sampling) is identical to the batch stage. The dedup differs in two
 * declared ways: its keep-first horizon is watermark-bounded (vs
 * corpus-global), and it runs LAST — after decontamination/sampling — so
 * only documents that will actually be emitted occupy state. Running dedup
 * last also means a duplicate whose earlier copy was filtered out still
 * flows through (the earlier copy never reached the state store), whereas
 * the batch pass dedups before decontaminating and so drops it; for an
 * ingest feed, keeping a clean copy when its duplicate was dirty is the
 * behavior you want.
 */
object StreamingCurate {

  /**
   * Curate an unbounded document stream. Pass `observationName` to attach a
   * `Dataset.observe` with the per-batch attrition counters every streaming
   * curation run wants to monitor — `input_rows`, `after_langid`,
   * `after_quality`, `after_classifier`, `after_dsir`, `after_decontaminate`,
   * `after_sample` (cumulative conjunctions, the batch report's fused-
   * aggregate discipline; a disabled stage repeats the previous count) —
   * readable per micro-batch from `QueryProgress.observedMetrics`. The
   * stateful dedup stage is not observable this way; its effect is the
   * difference between `after_sample` and the sink's row count.
   */
  def curateStream(
      stream: DataFrame, id: Column, text: Column,
      eventTimeColumn: String, delayThreshold: String,
      keepLangs: Set[String] = Set("en"),
      minTokens: Int = 50, maxTokens: Int = 100000,
      minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 10.0,
      minStopwordRatio: Double = 0.02, maxTopBigramFraction: Double = 0.18,
      classifierWeights: Option[Array[Int]] = None,
      classifierBias: Long = 0L, classifierThreshold: Long = 0L,
      dsirWeights: Option[Array[Int]] = None, dsirThreshold: Long = 0L,
      blocklist: Option[(DataFrame, Column)] = None,
      blocklistShingleSize: Int = 5, minOverlap: Int = 1,
      sampleRate: Double = 1.0, sampleSalt: String = "graft",
      observationName: Option[String] = None,
      dsirPortableHash: Boolean = true): DataFrame = {
    require(stream.isStreaming, "curateStream expects a streaming DataFrame; " +
      "use Curation.curate for batch frames (same stages plus near-dup dedup)")
    require(sampleRate > 0.0 && sampleRate <= 1.0, s"sampleRate must be in (0, 1]: $sampleRate")

    // the batch pass's leading stages, continued through the two stateless
    // filters the stream adds: the filter and the observed counters share
    // one definition (identical decisions by construction)
    val leading = Curation.leadingStages(
      text, keepLangs, minTokens, maxTokens, minAvgTokenLen, maxAvgTokenLen,
      minStopwordRatio, maxTopBigramFraction, classifierWeights, classifierBias,
      classifierThreshold, dsirWeights, dsirThreshold, dsirPortableHash)
    val decontKeep: Column = blocklist match {
      case Some((bdf, btext)) => Dedup.belowOverlap(
        Dedup.blocklistShingles(bdf, btext, blocklistShingleSize), text,
        blocklistShingleSize, minOverlap)
      case None => lit(true)
    }
    val sampleKeep: Column =
      if (sampleRate < 1.0) graft.sample.Sampling.hashSamplePredicate(id, sampleRate, sampleSalt)
      else lit(true)
    val survives = leading.survives ++ Seq(decontKeep, sampleKeep).scanLeft(leading.keep)(_ && _).tail

    var cur = stream
    observationName.foreach { name =>
      val counters = Curation.attrition(survives).zip(Seq("input_rows", "after_langid",
        "after_quality", "after_classifier", "after_dsir", "after_decontaminate",
        "after_sample")).map { case (c, counter) => c.as(counter) }
      cur = cur.observe(name, counters.head, counters.tail: _*)
    }

    cur = cur.filter(survives.last)

    // stateful stage last: every earlier filter shrinks what reaches the
    // state store
    StreamingDedup.dropDuplicateTextsWithinWatermark(
      cur, text, eventTimeColumn, delayThreshold)
  }
}
