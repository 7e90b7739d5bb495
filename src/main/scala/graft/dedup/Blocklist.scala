package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}

/**
 * Persistable decontamination blocklist — the "build once, enforce
 * everywhere" artifact: a benchmark blocklist is shared infrastructure, and
 * every pipeline probing it must agree on the exact shingle set. The
 * artifact freezes that set as parquet under `<path>/shingles`: the
 * distinct hashed shingles, 8 B rows in one `bigint` column `h`.
 *
 * Rebuilding per run would re-scan the blocklist AND risk drift if the
 * blocklist table changes mid-campaign; the artifact pins the decision.
 * Enforcement is [[Dedup.decontaminate]]'s filter over the frozen set.
 * Only `shingles/` is read, so artifacts that also carry the `bloom/`
 * directory older builds wrote still load.
 */
object Blocklist {

  /** Build and persist the artifact from a blocklist table. */
  def buildArtifact(
      blocklist: DataFrame, blocklistText: Column, path: String,
      shingleSize: Int = 8): Unit =
    Dedup.blocklistShingles(blocklist, blocklistText, shingleSize)
      .write.mode("overwrite").parquet(s"$path/shingles")

  /** Drop contaminated corpus docs using a persisted artifact — identical
    * per-row decisions to [[Dedup.decontaminate]] over the original
    * blocklist, under the same 32M-shingle cap. */
  def decontaminateWithArtifact(
      corpus: DataFrame, text: Column, path: String,
      shingleSize: Int = 8, minOverlap: Int = 1): DataFrame =
    corpus.filter(Dedup.belowOverlap(
      corpus.sparkSession.read.parquet(s"$path/shingles"), text, shingleSize, minOverlap))
}
