package graft.pipeline

import graft.UnpersistHandle
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * End-to-end training-data curation: the standard web-corpus pass composed
 * from this library's operators, with the per-stage attrition report every
 * real pipeline needs (which stage ate the data is the first question every
 * curation run answers).
 *
 * Stage order follows the cheap-filters-first rule so each successive
 * (more expensive) stage sees fewer rows:
 *
 *  1.  language id      — narrow kernel filter (TextFunctions.langId)
 *  2.  quality rules    — narrow kernel filter (QualityFilters.gopherFilter)
 *  2b. classifier       — optional fasttext-shaped model filter
 *                         (Classifier.logit, one fused kernel pass)
 *  3.  exact dedup      — one hash shuffle on the normalized fingerprint
 *  4.  near-dup dedup   — MinHash bucket shuffle + exact-Jaccard verify,
 *                        keep-first per duplicate set
 *  5.  decontamination  — broadcast blocklist shingles, narrow corpus side
 *  6.  hash sampling    — narrow md5-threshold filter
 *
 * Stages 1, 2, 2b, 5 and 6 are pure narrow filters: at 100 TB they fuse with
 * the scan and cost one pass. The two dedups are the only shuffling stages
 * and both run on the already-filtered survivor set.
 *
 * The leading narrow stages report their attrition from ONE fused
 * aggregate pass over the input (no per-stage scan or cache); each
 * shuffling stage's survivor set is persisted, counted, and the previous
 * stage's cache dropped immediately — at most two stage caches are live at
 * any moment. The final curated DataFrame stays persisted and is released
 * by the caller through `unpersistHandle` (the [[graft.RowNumbers]]
 * contract).
 *
 * (Green-field §2.4 surface: the reference stops at pairwise diff/dedup and
 * has no pipeline composition.)
 */
object Curation {

  /**
   * Run the curation pass over `docs`. Returns (curated, report): `curated`
   * is the surviving rows of `docs` (all original columns, persisted —
   * release via `unpersistHandle`), `report` is one row per stage
   * `(stage: string, n_rows: long)` including the `0_input` count, built on
   * the driver from the per-stage counts (stage counts are actions anyway).
   *
   * Stages toggle off via their parameters: `keepLangs = Set.empty` skips
   * language filtering, `classifierWeights = None` skips the model filter,
   * `dsirWeights = None` skips the DSIR target-likeness filter,
   * `blocklist = None` skips decontamination, `sampleRate = 1.0` skips
   * sampling.
   *
   * `dsirPortableHash` MUST match the setting the DSIR weights were fitted
   * under ([[graft.text.Dsir.fitWeights]]): `true` for the portable md5
   * bucketing (the default on both sides), `false` for the faster xxhash64
   * production bucketing. Scoring under the wrong bucket family silently
   * keeps/drops the wrong documents. New parameters append at the END of
   * this signature (never mid-list) so existing positional callers keep
   * meaning what they meant; prefer named arguments regardless.
   */
  def curate(
      docs: DataFrame, id: Column, text: Column,
      keepLangs: Set[String] = Set("en"),
      minTokens: Int = 50, maxTokens: Int = 100000,
      minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 10.0,
      minStopwordRatio: Double = 0.02, maxTopBigramFraction: Double = 0.18,
      classifierWeights: Option[Array[Int]] = None,
      classifierBias: Long = 0L, classifierThreshold: Long = 0L,
      dsirWeights: Option[Array[Int]] = None, dsirThreshold: Long = 0L,
      minHashThreshold: Double = 0.8, shingleSize: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 8,
      blocklist: Option[(DataFrame, Column)] = None,
      blocklistShingleSize: Int = 5, minOverlap: Int = 1,
      sampleRate: Double = 1.0, sampleSalt: String = "graft",
      storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      unpersistHandle: UnpersistHandle = UnpersistHandle.Noop,
      dsirPortableHash: Boolean = true): (DataFrame, DataFrame) = {
    require(sampleRate > 0.0 && sampleRate <= 1.0, s"sampleRate must be in (0, 1]: $sampleRate")

    val stages = new Stages(storageLevel)

    // The leading stages are pure narrow filters, so their attrition
    // counts fuse into ONE aggregate pass over the input — no per-stage
    // scan, no per-stage cache. The quality-survivor set itself stays lazy:
    // it is scanned exactly once (by the exact-dedup stage), so persisting
    // it would only add a cache write.
    val leading = leadingStages(
      text, keepLangs, minTokens, maxTokens, minAvgTokenLen, maxAvgTokenLen,
      minStopwordRatio, maxTopBigramFraction, classifierWeights, classifierBias,
      classifierThreshold, dsirWeights, dsirThreshold, dsirPortableHash)
    stages.counts ++= leading.report(leading.measure(docs))
    var cur = docs.filter(leading.keep)

    cur = stages.step("3_exact", graft.dedup.Dedup.dropExactTextDuplicates(cur, text, id))

    // near-dup shingle cache is internal to the stage: release it as soon
    // as the survivor set is materialized
    val mhHandle = graft.UnpersistHandle()
    cur = stages.step("4_neardup", graft.dedup.Dedup.deduplicateMinHash(
      cur, id, text, shingleSize, bands, rowsPerBand, minHashThreshold,
      unpersistHandle = mhHandle))
    mhHandle.unpersist()

    blocklist.foreach { case (bdf, btext) =>
      cur = stages.step("5_decontaminate", graft.dedup.Dedup.decontaminate(
        cur, id, text, bdf, btext, blocklistShingleSize, minOverlap))
    }

    if (sampleRate < 1.0)
      cur = stages.step("6_sample", graft.sample.Sampling.hashSample(cur, id, sampleRate, sampleSalt))

    unpersistHandle.setDataFrame(cur)
    (cur, report(docs.sparkSession, stages.counts.toSeq))
  }

  /**
   * The observe-mode twin of [[curate]]: identical stages, identical
   * report, but the per-stage attrition counts ride the query as
   * `Dataset.observe` counters (the [[graft.agg.Checks.observeChecks]] /
   * StreamingCurate pattern) instead of a persist+count action per
   * shuffling stage. ONE action — the count that warms the final survivor
   * cache — materializes the whole chain and every counter with it.
   *
   * The tradeoff is checkpoint semantics: [[curate]]'s per-stage
   * persist+count pairs give every stage boundary a cache AND an action;
   * here the only caches are the ones consumed twice structurally (the
   * MinHash stage's shingle frame and its input, which feeds both the
   * candidate side and the keep-first anti-join), and there are exactly
   * TWO actions: one that materializes the double-consumed mid-pipeline
   * cache (so the final action's concurrent stages read it instead of
   * racing its first computation), and the final count that warms the
   * survivor cache and flows the remaining counters. For the
   * narrow-dominated pipeline shape this is a strict win (4+ actions ->
   * 2); for callers who want stage-boundary checkpoint semantics,
   * [[curate]] stands.
   */
  def curateObserved(
      docs: DataFrame, id: Column, text: Column,
      keepLangs: Set[String] = Set("en"),
      minTokens: Int = 50, maxTokens: Int = 100000,
      minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 10.0,
      minStopwordRatio: Double = 0.02, maxTopBigramFraction: Double = 0.18,
      classifierWeights: Option[Array[Int]] = None,
      classifierBias: Long = 0L, classifierThreshold: Long = 0L,
      dsirWeights: Option[Array[Int]] = None, dsirThreshold: Long = 0L,
      minHashThreshold: Double = 0.8, shingleSize: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 8,
      blocklist: Option[(DataFrame, Column)] = None,
      blocklistShingleSize: Int = 5, minOverlap: Int = 1,
      sampleRate: Double = 1.0, sampleSalt: String = "graft",
      storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      unpersistHandle: UnpersistHandle = UnpersistHandle.Noop,
      dsirPortableHash: Boolean = true): (DataFrame, DataFrame) = {
    require(sampleRate > 0.0 && sampleRate <= 1.0, s"sampleRate must be in (0, 1]: $sampleRate")

    val spark = docs.sparkSession
    val leading = leadingStages(
      text, keepLangs, minTokens, maxTokens, minAvgTokenLen, maxAvgTokenLen,
      minStopwordRatio, maxTopBigramFraction, classifierWeights, classifierBias,
      classifierThreshold, dsirWeights, dsirThreshold, dsirPortableHash)

    // the leading fused pass becomes observe counters on the INPUT node:
    // the same conditional sums, zero extra scans, no driver-side action
    val obsIn = new org.apache.spark.sql.Observation("curate_leading")
    val counterNames = Seq("n_input", "n_lang", "n_qual", "n_cls", "n_dsir")
    val named = leading.counters.zip(counterNames).map { case (c, name) => c.as(name) }
    var cur = docs.observe(obsIn, named.head, named.tail: _*)
      .filter(leading.keep)

    val stageObs = scala.collection.mutable.ArrayBuffer.empty[(String, org.apache.spark.sql.Observation, DataFrame)]
    def observed(stage: String, next: DataFrame): DataFrame = {
      val obs = new org.apache.spark.sql.Observation(s"curate_$stage")
      val withObs = next.observe(obs, count(lit(1)).as("n"))
      stageObs += ((stage, obs, next))
      withObs
    }

    cur = observed("3_exact", graft.dedup.Dedup.dropExactTextDuplicates(cur, text, id))
    // the near-dup stage consumes its input TWICE structurally (the shingle
    // side feeding candidate pairs AND the keep-first anti-join's left
    // side); without a stage-boundary persist the second consumer would
    // recompute the whole upstream chain — cache it for the one action and
    // release right after. Materialize it HERE, before the final action's
    // stages fan out: two not-yet-materialized consumers submitted
    // concurrently inside one job race the cache and each recompute the
    // upstream chain (cache blocks are computed twice, stored once), which
    // measured ~1 s slower than curate() despite fewer actions. The count
    // flows the leading observe counters, so obsIn completes here too.
    val preNearDup = cur.persist(storageLevel)
    preNearDup.count()
    val mhHandle = graft.UnpersistHandle()
    cur = observed("4_neardup", graft.dedup.Dedup.deduplicateMinHash(
      preNearDup, id, text, shingleSize, bands, rowsPerBand, minHashThreshold,
      unpersistHandle = mhHandle))
    blocklist.foreach { case (bdf, btext) =>
      cur = observed("5_decontaminate", graft.dedup.Dedup.decontaminate(
        cur, id, text, bdf, btext, blocklistShingleSize, minOverlap))
    }
    if (sampleRate < 1.0)
      cur = observed("6_sample",
        graft.sample.Sampling.hashSample(cur, id, sampleRate, sampleSalt))

    // the single action: warms the survivor cache AND flows every counter.
    // AQE's empty-relation propagation can replace an already-EXECUTED
    // query-stage subtree (together with its CollectMetricsExec nodes) by
    // EmptyRelation when a stage output turns out empty at runtime; the
    // ObservationManager then cannot find the node in the final plan and
    // completes the observation with an EMPTY row even though the metric
    // accumulators fired. Keep that one rule off for this single action so
    // stacked observes survive stages that go empty mid-pipeline; the
    // shortcut it disables is worthless here anyway (an empty curation
    // stage makes all downstream work trivially small).
    val aqeExcludedKey = "spark.sql.adaptive.optimizer.excludedRules"
    val prevExcluded = spark.conf.getOption(aqeExcludedKey)
    val emptyRule = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
    spark.conf.set(aqeExcludedKey,
      prevExcluded.filter(_.nonEmpty).map(_ + "," + emptyRule).getOrElse(emptyRule))
    val persisted = cur.persist(storageLevel)
    try persisted.count()
    finally prevExcluded match {
      case Some(v) => spark.conf.set(aqeExcludedKey, v)
      case None => spark.conf.unset(aqeExcludedKey)
    }
    unpersistHandle.setDataFrame(persisted)

    // belt-and-braces: if an observation still came back empty (a non-AQE
    // rule pruned its node), recompute that counter with a direct action —
    // only ever pays in the degenerate empty-stage case
    val leadingCounts = {
      val got = obsIn.get
      if (got.nonEmpty) counterNames.map(got(_).asInstanceOf[Long])
      else leading.measure(docs)
    }
    val stageCounts = stageObs.toSeq.map { case (stage, obs, stageDf) =>
      stage -> obs.get.getOrElse("n", {
        // a pruned CollectMetrics node costs a full recount of this stage —
        // should only ever happen on a degenerate empty stage; say so if not
        System.err.println(s"[curateObserved] observation for $stage came " +
          "back empty; paying a direct recount")
        stageDf.count()
      }).asInstanceOf[Long]
    }
    mhHandle.unpersist()
    preNearDup.unpersist()
    (persisted, report(spark, leading.report(leadingCounts) ++ stageCounts))
  }

  /**
   * The daily-ingest curation loop in one call: curate a NEW batch against
   * a persisted near-dup index ([[graft.dedup.DedupIndex.saveDedupIndex]])
   * so dedup stays GLOBAL across increments without ever re-reading the
   * historical corpus. Stages: the same fused narrow quality pass as
   * [[curate]] → batch-internal exact dedup → batch-internal MinHash
   * near-dup → near-dup against the index (only the increment is shingled;
   * the reference side is the saved bucket/shingle tables — and shingle
   * size / banding come FROM the index, so batch-internal and cross-index
   * dedup share one config by construction) → optional hash sample. With
   * `appendSurvivors = true` (default) the survivors are appended to the
   * index, closing the loop: tomorrow's batch dedups against today's
   * survivors. `appendSurvivors = false` audits without mutating.
   *
   * Returns `(survivors, report)` like [[curate]]; report stages are
   * `0_input, 1_langid, 2_quality[, 2b, 2c], 3_exact, 4_neardup_batch,
   * 5_neardup_index[, 6_sample]`.
   *
   * Scale shape: the historical corpus costs ONE index build ever
   * (amortized across all future increments); each increment pays
   * narrow passes over itself plus band-bucket equi-joins against the
   * saved tables — daily cost tracks the increment, not the corpus.
   */
  def curateIncrement(
      batch: DataFrame, id: Column, text: Column, indexPath: String,
      keepLangs: Set[String] = Set("en"),
      minTokens: Int = 50, maxTokens: Int = 100000,
      minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 10.0,
      minStopwordRatio: Double = 0.02, maxTopBigramFraction: Double = 0.18,
      classifierWeights: Option[Array[Int]] = None,
      classifierBias: Long = 0L, classifierThreshold: Long = 0L,
      dsirWeights: Option[Array[Int]] = None, dsirThreshold: Long = 0L,
      minHashThreshold: Double = 0.8,
      sampleRate: Double = 1.0, sampleSalt: String = "graft",
      appendSurvivors: Boolean = true,
      storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      unpersistHandle: UnpersistHandle = UnpersistHandle.Noop,
      dsirPortableHash: Boolean = true): (DataFrame, DataFrame) = {
    require(sampleRate > 0.0 && sampleRate <= 1.0, s"sampleRate must be in (0, 1]: $sampleRate")
    val spark = batch.sparkSession
    val p = graft.dedup.DedupIndex.readIndexParams(spark, indexPath)
    val stages = new Stages(storageLevel)
    val leading = leadingStages(
      text, keepLangs, minTokens, maxTokens, minAvgTokenLen, maxAvgTokenLen,
      minStopwordRatio, maxTopBigramFraction, classifierWeights, classifierBias,
      classifierThreshold, dsirWeights, dsirThreshold, dsirPortableHash)
    stages.counts ++= leading.report(leading.measure(batch))
    var cur = batch.filter(leading.keep)

    cur = stages.step("3_exact", graft.dedup.Dedup.dropExactTextDuplicates(cur, text, id))

    val mhHandle = graft.UnpersistHandle()
    cur = stages.step("4_neardup_batch", graft.dedup.Dedup.deduplicateMinHash(
      cur, id, text, p.shingleSize, p.bands, p.rowsPerBand, minHashThreshold,
      unpersistHandle = mhHandle))
    mhHandle.unpersist()

    val idxHandle = graft.UnpersistHandle()
    cur = stages.step("5_neardup_index", graft.dedup.DedupIndex.deduplicateAgainstIndex(
      cur, id, text, indexPath, minHashThreshold, p.maxBucketSize,
      storageLevel, idxHandle))
    idxHandle.unpersist()

    if (sampleRate < 1.0)
      cur = stages.step("6_sample", graft.sample.Sampling.hashSample(cur, id, sampleRate, sampleSalt))

    if (appendSurvivors) {
      // the append writes to the same path the survivor plan READS;
      // Spark's cache manager re-caches path-dependent plans on write,
      // which would re-run the index dedup against the just-appended
      // survivors — every survivor then self-matches and silently
      // disappears from the returned frame. The survivor set is defined
      // by the PRE-append index, so pin it by truncating lineage first.
      val pinned = cur.localCheckpoint(true)
      stages.live.foreach(_.unpersist(false))
      graft.dedup.DedupIndex.appendToDedupIndex(pinned, id, text, indexPath)
      cur = pinned
    }

    unpersistHandle.setDataFrame(cur)
    (cur, report(spark, stages.counts.toSeq))
  }

  /**
   * Per-stage bookkeeping of [[curate]] and [[curateIncrement]]: each
   * shuffling stage's survivors are persisted and counted, and the previous
   * stage's cache is dropped at once, so at most two stage caches are live.
   */
  private final class Stages(storageLevel: StorageLevel) {
    val counts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var live: Option[DataFrame] = None

    def step(stage: String, next: DataFrame): DataFrame = {
      val persisted = next.persist(storageLevel)
      counts += stage -> persisted.count()
      live.foreach(_.unpersist(false))
      live = Some(persisted)
      persisted
    }
  }

  /** The attrition report: one `(stage, n_rows)` row per stage. */
  private def report(spark: SparkSession, counts: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    counts.toDF("stage", "n_rows")
  }

  /**
   * The leading narrow stages shared by [[curate]], [[curateObserved]] and
   * [[curateIncrement]]: each stage's keep predicate (language, quality,
   * classifier, DSIR — all narrow fused-kernel columns) and whether the
   * optional ones are on.
   */
  private final case class LeadingStages(
      lang: Column, qual: Column, cls: Column, dsir: Column,
      langOn: Boolean, clsOn: Boolean, dsirOn: Boolean) {
    /** A row's survival of each successive stage: lang, lang && qual, … */
    private val survives: Seq[Column] = Seq(qual, cls, dsir).scanLeft(lang)(_ && _)

    /** A row survives every leading stage. */
    val keep: Column = survives.last

    /** The fused attrition aggregate: the input rows, then the rows
      * surviving each successive stage. */
    val counters: Seq[Column] =
      count(lit(1)) +: survives.map(s => coalesce(sum(when(s, 1L).otherwise(0L)), lit(0L)))

    /** [[counters]] computed over `df` by one direct action. */
    def measure(df: DataFrame): Seq[Long] = {
      val row = df.agg(counters.head, counters.tail: _*).head()
      counters.indices.map(row.getLong)
    }

    /** Report rows `0_input, [1_langid,] 2_quality[, 2b_classifier][, 2c_dsir]`
      * from the values of [[counters]]; a stage that is off gets no row. */
    def report(values: Seq[Long]): Seq[(String, Long)] =
      Seq("0_input" -> true, "1_langid" -> langOn, "2_quality" -> true,
        "2b_classifier" -> clsOn, "2c_dsir" -> dsirOn).zip(values)
        .collect { case ((stage, true), n) => stage -> n }
  }

  private def leadingStages(
      text: Column, keepLangs: Set[String],
      minTokens: Int, maxTokens: Int,
      minAvgTokenLen: Double, maxAvgTokenLen: Double,
      minStopwordRatio: Double, maxTopBigramFraction: Double,
      classifierWeights: Option[Array[Int]], classifierBias: Long,
      classifierThreshold: Long,
      dsirWeights: Option[Array[Int]], dsirThreshold: Long,
      dsirPortableHash: Boolean): LeadingStages = {
    val langKeep: Column =
      if (keepLangs.isEmpty) lit(true)
      else graft.text.TextFunctions.langId(text, graft.text.TextFunctions.AsciiTokenPattern)
        .isin(keepLangs.toSeq.map(l => l: Any): _*)
    val qualKeep = graft.text.QualityFilters.gopherKeep(
      text, minTokens, maxTokens, minAvgTokenLen, maxAvgTokenLen,
      minStopwordRatio, maxTopBigramFraction)
    val clsKeep: Column = classifierWeights match {
      case Some(w) =>
        graft.text.Classifier.logit(text, w, classifierBias) >= classifierThreshold
      case None => lit(true)
    }
    // DSIR target-likeness filter: the same fused kernel as the classifier
    // stage with importance-ratio weights (Dsir.fitWeights) — one more
    // column in the same leading pass
    val dsirKeep: Column = dsirWeights match {
      case Some(w) =>
        graft.functions.vectors.hashed_linear_score(
          text, w, portableHash = dsirPortableHash) >= dsirThreshold
      case None => lit(true)
    }
    LeadingStages(langKeep, qualKeep, clsKeep, dsirKeep,
      keepLangs.nonEmpty, classifierWeights.nonEmpty, dsirWeights.nonEmpty)
  }
}
