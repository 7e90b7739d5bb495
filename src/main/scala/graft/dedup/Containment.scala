package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.UnpersistHandle
import graft.functions.{vectors, winnow}

/**
 * Containment detection — "document B contains an excerpt of document A" —
 * the ASYMMETRIC overlap question that symmetric near-dup (MinHash/SimHash
 * Jaccard) cannot see: a 30-token quotation inside a 3000-token article has
 * Jaccard ≈ 0.01 but containment ≈ 1.0. Training corpora care (syndicated
 * excerpts, quoted posts, scraped previews inflate effective duplication),
 * and so does decontamination (a benchmark question embedded in a long
 * page).
 *
 * Candidates come from winnowing fingerprints
 * ([[graft.functions.WinnowKernels]], the MOSS selection): any shared token
 * run of >= `window + shingleSize - 1` tokens is GUARANTEED to share a
 * selected print — a theorem of the selection, not a property of the data —
 * while only ~2/(window+1) of positions enter the index. Verification is
 * exact set containment |Sa ∩ Sb| / min(|Sa|, |Sb|) on the full hashed
 * shingle sets, so false candidates cost a verify row, never correctness.
 * Out of contract (by design, like every winnowing user): a pair whose
 * shared content is scattered in runs all shorter than `window +
 * shingleSize - 1` tokens may be missed even if its shingle-set containment
 * crosses the threshold.
 *
 * Scale shape: the print index is the only corpus-sized exchange
 * (one (print, id) row per SELECTED position — ~2/(w+1) of the shingle
 * stream); hot prints (boilerplate) are capped by a map-side-combined count
 * before the self-equi-join, so no print bucket can quadratically blow up
 * the candidate stream; candidate pairs dedup to bare (ia, ib) before the
 * shingle arrays join back for the verify — arrays never ride the candidate
 * exchange. The kernels are narrow, codegen'd, streaming-legal.
 */
object Containment {

  /**
   * Pairs `(idA, idB, containment)` with `idA < idB` and exact shingle-set
   * containment >= `threshold`. Documents with fewer than `minShingles`
   * distinct shingles are excluded (a 2-shingle doc would reach 0.5
   * containment by one accidental shared gram — too short to mean
   * anything). `maxPrintBucket` drops prints shared by more documents than
   * that (boilerplate runs — cap, count, and move on, the MinHash
   * hot-bucket discipline). The call returns pinned pairs and holds no
   * cache.
   */
  def containmentPairs(
      df: DataFrame, id: Column, text: Column,
      shingleSize: Int = 3, window: Int = 4,
      threshold: Double = 0.5, minShingles: Int = 10,
      maxPrintBucket: Int = 64): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0, 1]: $threshold")
    UnpersistHandle.pinned { handle =>
      // persisted: the kernel pass (word shingles + winnowed prints over the
      // full text — the expensive narrow work) feeds FIVE plan branches (hot
      // census, the self-join's two candidate sides, the verify's two array
      // sides); uncached, each branch re-runs the scan and both kernels
      val docs = UnpersistHandle.persist(df.select(
        id.cast("long").as("__cid"),
        vectors.hashed_word_shingles(text, shingleSize).as("__sh"),
        winnow.winnowed_shingles(text, shingleSize, window).as("__wp"))
        .filter(size(col("__sh")) >= minShingles),
        handle)
      val prints = docs.select(col("__cid"), explode(col("__wp")).as("__print"))
      val hot = prints.groupBy(col("__print"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxPrintBucket)
        .select(col("__print"))
      val cold = prints.join(hot, Seq("__print"), "left_anti")
      val cand = cold.select(col("__print"), col("__cid").as("ia"))
        .join(cold.select(col("__print"), col("__cid").as("ib")), Seq("__print"))
        .filter(col("ia") < col("ib"))
        .select(col("ia"), col("ib"))
        .distinct()
      cand
        .join(docs.select(col("__cid").as("ia"), col("__sh").as("__sa")), Seq("ia"))
        .join(docs.select(col("__cid").as("ib"), col("__sh").as("__sb")), Seq("ib"))
        .select(col("ia").as("idA"), col("ib").as("idB"),
          (size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
            least(size(col("__sa")), size(col("__sb"))).cast("double"))
            .as("containment"))
        .filter(col("containment") >= lit(threshold))
    }
  }
}
