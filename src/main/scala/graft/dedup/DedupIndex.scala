package graft.dedup

import graft.UnpersistHandle
import graft.parquet.FooterStats
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Persisted MinHash dedup index for INCREMENTAL cross-corpus dedup: the
 * batch-ingest loop runs [[Dedup.nearDupPairsMinHashAgainst]]-shaped checks
 * every day against the same already-clean reference corpus, and without an
 * index every run re-shingles and re-bands the full reference — at 100 TB
 * that is the dominant cost of ingesting a 100 GB increment. Saving the
 * reference's hashed shingle sets and (pre-pruned) band buckets once turns
 * each increment into: shingle the INCREMENT only, equi-join its bands
 * against the saved bucket table, verify exact Jaccard against the saved
 * shingle sets.
 *
 * Layout under `path`: `shingles/` `(id, shingles array<long>)`, `buckets/`
 * `(band, bucket, id)` already hot-bucket-pruned at save time, and
 * `params/` (one row) recording shingle size, banding, and the save-time
 * bucket cap. Queries read their banding FROM the index, so a
 * configuration mismatch between index and query cannot happen by
 * construction. `params/` is written LAST: its presence marks a complete
 * index, so a half-written save fails loudly at query time.
 *
 * With equal caps the result is row-for-row identical to the direct
 * two-sided path (sbt-pinned): save-time pruning of the reference side
 * commutes with query-time pruning of the corpus side because the two
 * sides are pruned independently in both paths.
 */
object DedupIndex {

  /** Index parameters as saved; queries derive their banding from these. */
  case class IndexParams(shingleSize: Int, bands: Int, rowsPerBand: Int,
                         maxBucketSize: Int)

  /**
   * Shingle and band `df` once and persist the dedup index at `path`.
   * The reference side of every future increment is this one-time cost.
   */
  def saveDedupIndex(df: DataFrame, id: Column, text: Column, path: String,
                     shingleSize: Int = 3, bands: Int = 16,
                     rowsPerBand: Int = 8,
                     maxBucketSize: Int = Dedup.DefaultMaxBucketSize): Unit = {
    require(shingleSize >= 1, s"shingleSize must be >= 1: $shingleSize")
    require(bands >= 1 && rowsPerBand >= 1, s"bad banding: $bands x $rowsPerBand")
    // two outputs read it once each
    val shingled = Dedup.shingles(df, id, text, shingleSize).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the cache with one narrow pass, then OVERLAP the two
      // independent output writes: the plain shingles dump rides inside the
      // shuffling buckets job's wall time (scheduler back-fill), and neither
      // write races the cache computation
      shingled.count()
      graft.parallelJobs(df.sparkSession)(
        () => shingled.write.mode("overwrite").parquet(s"$path/shingles"),
        () => bucketRows(shingled, bands, rowsPerBand, maxBucketSize)
          .write.mode("overwrite").parquet(s"$path/buckets"))
      // params last: their presence marks a COMPLETE index (one
      // driver-resident row — no Spark job)
      graft.parquet.LocalParquet.write(df.sparkSession, s"$path/params",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("shingle_size",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("bands",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("rows_per_band",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("max_bucket_size",
            org.apache.spark.sql.types.IntegerType))),
        Seq(org.apache.spark.sql.Row(shingleSize, bands, rowsPerBand,
          maxBucketSize)))
    } finally shingled.unpersist()
  }

  /**
   * Append a batch (typically the survivors of a just-deduped increment) to
   * an existing index, completing the ingest loop: dedupe today's batch
   * against the index, then append the keepers so tomorrow's batch sees
   * them. Banding comes from the saved params; shingle and bucket files are
   * parquet-appended, no rewrite of the existing index.
   *
   * Hot-bucket pruning is applied WITHIN the appended batch (same cap as
   * the save); buckets that only become hot across batches are re-pruned at
   * query time (see [[nearDupPairsAgainstIndex]]), which can only differ
   * from an all-at-once save by keeping candidates a bigger bucket would
   * have dropped — extra candidates feed the EXACT verify, so the
   * difference is added recall, never a false pair.
   */
  def appendToDedupIndex(df: DataFrame, id: Column, text: Column,
                         path: String): Unit = {
    val p = readIndexParams(df.sparkSession, path)
    val shingled = Dedup.shingles(df, id, text, p.shingleSize).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the append has NO completeness marker (unlike the save's
      // params-last), so write ORDER is the crash contract: shingles land
      // first — a crash before the buckets append leaves rows that can
      // never become candidates (safe, like an un-appended batch), while
      // the reverse order would leave bucket rows whose exact-verify
      // shingles are missing (candidate pairs silently vanish). Do NOT
      // overlap these two writes.
      shingled.write.mode("append").parquet(s"$path/shingles")
      bucketRows(shingled, p.bands, p.rowsPerBand, p.maxBucketSize)
        .write.mode("append").parquet(s"$path/buckets")
    } finally shingled.unpersist()
  }

  /** The bucket rows save and append write: band the shingle sets, drop
    * hot buckets, and cluster files by the join key so an increment's
    * bucket join scans coherent row groups (plain parquet: no metastore
    * bucketing needed). */
  private def bucketRows(shingled: DataFrame, bands: Int, rowsPerBand: Int,
                         maxBucketSize: Int): DataFrame =
    Dedup.pruneHotBuckets(Dedup.bandRows(shingled, bands, rowsPerBand), maxBucketSize)
      .repartition(col("band"), col("bucket"))

  /** Read the saved index parameters (fails if the save never completed).
    * Driver-side read — no Spark job. */
  def readIndexParams(spark: SparkSession, path: String): IndexParams = {
    val row = graft.parquet.LocalParquet.readRow(spark, s"$path/params")
    IndexParams(row.getAs[Int]("shingle_size"), row.getAs[Int]("bands"),
      row.getAs[Int]("rows_per_band"), row.getAs[Int]("max_bucket_size"))
  }

  /**
   * `(idA, idB, jaccard)` pairs of `corpus` (the increment) against the
   * index saved at `path`, word-shingle Jaccard >= `threshold`. Banding and
   * shingle size come from the index; `maxBucketSize` caps the INCREMENT
   * side (the reference side was capped at save time — pass the same value
   * there for parity with [[Dedup.nearDupPairsMinHashAgainst]]).
   *
   * Scale shape: only the increment is shingled; candidates are an
   * equi-join of its pruned `(band, bucket)` rows against the saved bucket
   * table; candidate dedup shuffles bare id pairs; the exact verify joins
   * the saved shingle arrays by id — reference text is never read at all.
   * The increment's shingles are cached for the call, which returns pinned
   * pairs and holds no cache.
   */
  def nearDupPairsAgainstIndex(
      corpus: DataFrame, id: Column, text: Column, path: String,
      threshold: Double = 0.8,
      maxBucketSize: Int = Dedup.DefaultMaxBucketSize): DataFrame =
    UnpersistHandle.pinned(pairsAgainstIndex(corpus, id, text, path, threshold,
      maxBucketSize, _))

  /** The lazy plan of [[nearDupPairsAgainstIndex]], its shingle cache given
    * to `handle`: the body curation runs under its own stage handle.
    * Planning it runs no Spark job (the saved tables' schemas come from
    * their footers). */
  private[graft] def pairsAgainstIndex(
      corpus: DataFrame, id: Column, text: Column, path: String,
      threshold: Double, maxBucketSize: Int, handle: UnpersistHandle): DataFrame = {
    val spark = corpus.sparkSession
    val p = readIndexParams(spark, path)
    val corpusShingled = UnpersistHandle.persist(
      Dedup.shingles(corpus, id, text, p.shingleSize), handle)
    // re-prune the loaded buckets: idempotent for a single-save index (the
    // save already applied this cap), and REQUIRED after appends, where a
    // bucket can become hot only across batches
    val refBuckets = Dedup.pruneHotBuckets(
      FooterStats.readSparkWritten(spark, s"$path/buckets"), p.maxBucketSize)
    Dedup.pairsAgainst(corpusShingled, p.bands, p.rowsPerBand, maxBucketSize,
      refBuckets, FooterStats.readSparkWritten(spark, s"$path/shingles"), threshold)
  }

  /** Drop every increment document near-duplicating an indexed document —
    * [[nearDupPairsAgainstIndex]] applied as an anti-join on the increment. */
  def deduplicateAgainstIndex(
      corpus: DataFrame, id: Column, text: Column, path: String,
      threshold: Double = 0.8,
      maxBucketSize: Int = Dedup.DefaultMaxBucketSize): DataFrame =
    Dedup.dropMatched(corpus, id,
      nearDupPairsAgainstIndex(corpus, id, text, path, threshold, maxBucketSize))
}
