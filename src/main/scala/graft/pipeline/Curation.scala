package graft.pipeline

import graft.{SilentUnpersistHandle, UnpersistHandle}
import graft.dedup.{Dedup, DedupIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
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
 *  5.  decontamination  — sorted broadcast blocklist-shingle set probed by
 *                        a narrow filter (Dedup.decontaminate); a blocklist
 *                        over 32M distinct shingles is refused
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
      unpersistHandle: UnpersistHandle,
      dsirPortableHash: Boolean = true): (DataFrame, DataFrame) = {
    require(sampleRate > 0.0 && sampleRate <= 1.0, s"sampleRate must be in (0, 1]: $sampleRate")
    val leading = leadingStages(
      text, keepLangs, minTokens, maxTokens, minAvgTokenLen, maxAvgTokenLen,
      minStopwordRatio, maxTopBigramFraction, classifierWeights, classifierBias,
      classifierThreshold, dsirWeights, dsirThreshold, dsirPortableHash)
    val nearDup: Step = "4_neardup" -> ((cur, handle) => Dedup.keepFirst(cur, id,
      Dedup.minHashPairs(cur, id, text, shingleSize, bands, rowsPerBand, minHashThreshold,
        Dedup.DefaultMaxBucketSize, handle)))
    val decontaminate: Option[Step] = blocklist.map { case (bdf, btext) =>
      "5_decontaminate" -> ((cur, _) => Dedup.decontaminate(
        cur, text, bdf, btext, blocklistShingleSize, minOverlap))
    }
    runStages(docs, id, text, leading, nearDup +: decontaminate.toSeq,
      sampleRate, sampleSalt, append = None, unpersistHandle)
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
      unpersistHandle: UnpersistHandle,
      dsirPortableHash: Boolean = true): (DataFrame, DataFrame) = {
    require(sampleRate > 0.0 && sampleRate <= 1.0, s"sampleRate must be in (0, 1]: $sampleRate")
    val p = DedupIndex.readIndexParams(batch.sparkSession, indexPath)
    val leading = leadingStages(
      text, keepLangs, minTokens, maxTokens, minAvgTokenLen, maxAvgTokenLen,
      minStopwordRatio, maxTopBigramFraction, classifierWeights, classifierBias,
      classifierThreshold, dsirWeights, dsirThreshold, dsirPortableHash)
    val nearDup: Step = "4_neardup_batch" -> ((cur, handle) => Dedup.keepFirst(cur, id,
      Dedup.minHashPairs(cur, id, text, p.shingleSize, p.bands, p.rowsPerBand,
        minHashThreshold, Dedup.DefaultMaxBucketSize, handle)))
    val nearDupIndex: Step = "5_neardup_index" -> ((cur, handle) => Dedup.dropMatched(cur, id,
      DedupIndex.pairsAgainstIndex(cur, id, text, indexPath, minHashThreshold,
        p.maxBucketSize, handle)))
    val append = Option.when(appendSurvivors)(
      (pinned: DataFrame) => DedupIndex.appendToDedupIndex(pinned, id, text, indexPath))
    runStages(batch, id, text, leading, Seq(nearDup, nearDupIndex),
      sampleRate, sampleSalt, append, unpersistHandle)
  }

  /** A shuffling stage after `3_exact`: its report name, and its body over
    * the previous survivors. The body may give an internal cache to the
    * handle; [[runStages]] releases it once the stage's survivors are
    * counted. The dedup bodies are the operators' lazy plans, so a stage's
    * pairs are computed once, by the stage count, not pinned first. */
  private type Step = (String, (DataFrame, UnpersistHandle) => DataFrame)

  /**
   * The stage sequence of [[curate]] and [[curateIncrement]]: the fused
   * leading aggregate and filter, `3_exact`, each of `steps`, then
   * `6_sample` when `sampleRate < 1`. Each shuffling stage's survivors are
   * persisted and counted, and the previous stage's cache is dropped at
   * once, so at most two stage caches are live. With `append`, the
   * survivors are pinned by a local checkpoint, the last stage cache is
   * dropped and `append` gets the pinned rows. The survivors go to
   * `unpersistHandle`; the report is built on the driver.
   */
  private def runStages(
      docs: DataFrame, id: Column, text: Column, leading: LeadingStages,
      steps: Seq[Step], sampleRate: Double, sampleSalt: String,
      append: Option[DataFrame => Unit],
      unpersistHandle: UnpersistHandle): (DataFrame, DataFrame) = {
    val counts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var live: Option[DataFrame] = None
    def step(stage: String, next: DataFrame): DataFrame = {
      val persisted = next.persist(StorageLevel.MEMORY_AND_DISK)
      counts += stage -> persisted.count()
      live.foreach(_.unpersist(false))
      live = Some(persisted)
      persisted
    }

    // The leading stages are pure narrow filters, so their attrition
    // counts fuse into ONE aggregate pass over the input — no per-stage
    // scan, no per-stage cache. The quality-survivor set itself stays lazy:
    // it is scanned exactly once (by the exact-dedup stage), so persisting
    // it would only add a cache write.
    counts ++= leading.report(leading.measure(docs))
    var cur = step("3_exact", Dedup.dropExactTextDuplicates(docs.filter(leading.keep), text, id))

    // a step's internal cache is loaded before its stage count runs: the
    // count's plan reads it from several table-cache stages, which would
    // otherwise submit a timing-dependent number of load jobs
    steps.foreach { case (stage, body) =>
      val handle = new SilentUnpersistHandle()
      val next = body(cur, handle)
      handle.loadCache()
      cur = step(stage, next)
      handle.unpersist()
    }

    if (sampleRate < 1.0)
      cur = step("6_sample", graft.sample.Sampling.hashSample(cur, id, sampleRate, sampleSalt))

    append.foreach { appendTo =>
      // the append writes to the same path the survivor plan READS;
      // Spark's cache manager re-caches path-dependent plans on write,
      // which would re-run the index dedup against the just-appended
      // survivors — every survivor then self-matches and silently
      // disappears from the returned frame. The survivor set is defined
      // by the PRE-append index, so pin it by truncating lineage first.
      val pinned = cur.localCheckpoint(true)
      live.foreach(_.unpersist(false))
      appendTo(pinned)
      cur = pinned
    }

    unpersistHandle.setDataFrame(cur)
    val spark = docs.sparkSession
    import spark.implicits._
    (cur, counts.toSeq.toDF("stage", "n_rows"))
  }

  /**
   * The leading narrow stages shared by [[curate]], [[curateIncrement]] and
   * [[graft.streaming.StreamingCurate]]: each stage's keep predicate
   * (language, quality, classifier, DSIR — all narrow fused-kernel columns)
   * and whether the optional ones are on.
   */
  private[graft] final case class LeadingStages(
      lang: Column, qual: Column, cls: Column, dsir: Column,
      langOn: Boolean, clsOn: Boolean, dsirOn: Boolean) {
    /** A row's survival of each successive stage: lang, lang && qual, … */
    val survives: Seq[Column] = Seq(qual, cls, dsir).scanLeft(lang)(_ && _)

    /** A row survives every leading stage. */
    val keep: Column = survives.last

    /** The fused [[attrition]] aggregate over [[survives]], computed over
      * `df` by one direct action. */
    def measure(df: DataFrame): Seq[Long] = {
      val counters = attrition(survives)
      val row = df.agg(counters.head, counters.tail: _*).head()
      counters.indices.map(row.getLong)
    }

    /** Report rows `0_input, [1_langid,] 2_quality[, 2b_classifier][, 2c_dsir]`
      * from the values of [[measure]]; a stage that is off gets no row. */
    def report(values: Seq[Long]): Seq[(String, Long)] =
      Seq("0_input" -> true, "1_langid" -> langOn, "2_quality" -> true,
        "2b_classifier" -> clsOn, "2c_dsir" -> dsirOn).zip(values)
        .collect { case ((stage, true), n) => stage -> n }
  }

  /** The attrition aggregate of a survival chain: the input rows, then the
    * rows surviving each successive stage. */
  private[graft] def attrition(survives: Seq[Column]): Seq[Column] =
    count(lit(1)) +: survives.map(s => coalesce(sum(when(s, 1L).otherwise(0L)), lit(0L)))

  private[graft] def leadingStages(
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
