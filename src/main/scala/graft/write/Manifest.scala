package graft.write

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Export manifests: make a written training-data snapshot VERIFIABLE.
 *
 * A 100 TB export is thousands of files on object storage; consumers need
 * to answer "is this the exact snapshot the producer wrote?" without
 * re-reading the producer's pipeline — missing files, duplicated files
 * (retried writes), truncated files, silent corruption. The manifest is a
 * tiny sidecar table (one row per data file: row count + an
 * order-insensitive content fingerprint) written next to the data in an
 * underscore-prefixed directory (ignored by plain reads, like
 * [[graft.parquet.BloomIndex]]'s sidecar).
 *
 * Fingerprint: `bit_xor(xxhash64(to_json(struct(columns))))` per file plus
 * the row count. XOR is commutative/associative — the fingerprint is
 * independent of row order and partition scheduling, so producer and
 * verifier agree no matter how either side parallelizes. XOR + count
 * detects any single-row corruption, any missing/extra file, and any
 * truncation; it is an integrity check against accident, not an
 * authenticated digest against an adversary (documented contract — same
 * class of guarantee as parquet's own CRCs, one level up).
 *
 * Scale shape: building is one scan grouped on `input_file_name` (state =
 * one count + one long per file, map-side combined); verifying re-runs the
 * same aggregate on the CURRENT directory contents and full-outer-joins
 * the manifest — one row per file on both sides, driver never sees data.
 */
object Manifest {

  def manifestPath(dir: String): String = s"$dir/_manifest"

  private val manifestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("rows",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("fingerprint",
      org.apache.spark.sql.types.LongType)))

  /** Land already-driver-resident `(file, rows, fingerprint)` rows as the
    * manifest sidecar — zero Spark jobs (the manifest is file-count-bounded
    * by construction). Producers that just collected their certification
    * summary write it through here instead of a coalesce(1) job. */
  def writeManifestRows(spark: SparkSession, dir: String,
                        rows: Seq[org.apache.spark.sql.Row]): Unit =
    graft.parquet.LocalParquet.write(spark, manifestPath(dir),
      manifestSchema, rows)

  /** The manifest rows, read driver-side (file-count-bounded, no job). */
  def readManifestRows(spark: SparkSession,
                       dir: String): Seq[org.apache.spark.sql.Row] =
    graft.parquet.LocalParquet.read(spark, manifestPath(dir))

  /** Read the manifest sidecar as a DataFrame. The rows are read
    * DRIVER-side (file-count-bounded — KB-scale by design) and handed to
    * Spark as a local relation: consumers joining against the manifest
    * (e.g. [[verifyManifest]]) get a broadcast-able literal side instead
    * of paying a scan job for a tiny sidecar. */
  def readManifest(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      readManifestRows(spark, dir)
        .map(r => org.apache.spark.sql.Row(
          r.getAs[String]("file"), r.getAs[Long]("rows"),
          r.getAs[Long]("fingerprint"))).asJava,
      manifestSchema)
  }

  /** Per-file (file, rows, fingerprint) of the CURRENT contents of `dir`. */
  private def fileSummary(spark: SparkSession, dir: String): DataFrame =
    fileSummaryWith(spark, dir)

  /**
   * [[fileSummary]] extended with caller aggregates over the SAME single
   * certification scan — `(file, rows, fingerprint, <extras>)`. This is
   * the one place the manifest fingerprint is defined
   * (`bit_xor(xxhash64(to_json(struct(<data columns>))))` + row count);
   * producers needing extra per-file facts (e.g.
   * [[graft.text.Shards.saveShards]]'s id counts) extend THIS pass
   * instead of inlining a private copy of the expression that could
   * silently drift from [[verifyManifest]]'s recomputation.
   */
  def fileSummaryWith(spark: SparkSession, dir: String,
                      extraAggs: org.apache.spark.sql.Column*): DataFrame =
    fileSummaryWith(spark.read.parquet(dir), extraAggs: _*)

  /** [[fileSummaryWith]] over the files `df` reads: a directory read with
    * a known schema, or an explicit file list. */
  def fileSummaryWith(df: DataFrame,
                      extraAggs: org.apache.spark.sql.Column*): DataFrame = {
    // struct() over the NAMED data columns: input_file_name/the hash
    // column must never fold into the fingerprinted struct
    val dataCols = df.columns.toSeq.map(col)
    df.select((input_file_name().as("file") +:
        xxhash64(to_json(struct(dataCols: _*))).as("__h") +: dataCols): _*)
      .groupBy(col("file"))
      .agg(count(lit(1)).as("rows"),
        (bit_xor(col("__h")).as("fingerprint") +: extraAggs.toSeq): _*)
  }

  /** Write `df` to `dir` as parquet, then write the manifest sidecar from
    * the files actually on disk (so the manifest certifies what landed,
    * not what was intended). */
  def writeWithManifest(df: DataFrame, dir: String): Unit = {
    df.write.mode("overwrite").parquet(dir)
    writeManifestFor(df.sparkSession, dir)
  }

  /** (Re-)write the manifest sidecar for the parquet directory `dir` as it
    * stands — for writers that land/compact files themselves (e.g.
    * [[graft.text.Shards]]) and then want the snapshot certified. ONE
    * certification scan; the file-count-bounded summary rows come back to
    * the driver and land sidecar-side without a second job. */
  def writeManifestFor(spark: SparkSession, dir: String): Unit =
    writeManifestRows(spark, dir, fileSummary(spark, dir).collect().toSeq)

  /**
   * INCREMENTAL manifest update after an in-place append/swap: drop the
   * rows of `removedFiles`, fingerprint ONLY `addedFiles` (one scan of the
   * new bytes — never the untouched artifact), keep every other row
   * verbatim. This is what keeps a daily append O(batch): a 100 TB
   * artifact's certification cost must not be paid again for a 100 GB
   * increment. The merged sidecar is byte-equivalent to a full
   * [[writeManifestFor]] because the per-file summaries are independent —
   * [[verifyManifest]] recomputes from the actual files and would expose
   * any drift.
   */
  def updateManifestFor(spark: SparkSession, dir: String,
                        addedFiles: Seq[String],
                        removedFiles: Seq[String]): Unit = {
    // match removals on (scheme, path): manifest rows carry
    // input_file_name()'s URI form (file:///tmp/x) while callers may pass
    // Hadoop Path strings (file:/tmp/x) — same file, different spelling
    def key(f: String) = {
      val u = new org.apache.hadoop.fs.Path(f).toUri
      (u.getScheme, u.getPath)
    }
    val removed = removedFiles.map(key).toSet
    // the kept rows are already on disk and file-count-bounded: merge them
    // DRIVER-side with the one scan of the new bytes, then land the sidecar
    // driver-side — the added-file fingerprint scan is the only Spark work
    val kept = readManifestRows(spark, dir)
      .filter(r => !removed.contains(key(r.getAs[String]("file"))))
      .map(r => org.apache.spark.sql.Row(r.getAs[String]("file"),
        r.getAs[Long]("rows"), r.getAs[Long]("fingerprint")))
    val added =
      if (addedFiles.isEmpty) Seq.empty[org.apache.spark.sql.Row]
      else fileSummaryWith(spark.read.parquet(addedFiles: _*)).collect().toSeq
    writeManifestRows(spark, dir, kept ++ added)
  }

  /**
   * Verify `dir` against its manifest: one row per file seen on EITHER
   * side with `(file, rows_expected, rows_actual, fp_expected, fp_actual,
   * ok)` — a missing file, an extra file, a row-count drift, or a content
   * drift each flips `ok` on its row.
   */
  def verifyManifest(spark: SparkSession, dir: String): DataFrame = {
    val expected = readManifest(spark, dir)
      .select(col("file"), col("rows").as("rows_expected"),
        col("fingerprint").as("fp_expected"))
    val actual = fileSummary(spark, dir)
      .select(col("file"), col("rows").as("rows_actual"),
        col("fingerprint").as("fp_actual"))
    expected.join(actual, Seq("file"), "full_outer")
      .withColumn("ok",
        col("rows_expected").isNotNull && col("rows_actual").isNotNull &&
          col("rows_expected") === col("rows_actual") &&
          col("fp_expected") === col("fp_actual"))
  }

  /** One-row verdict: (files, total_rows, all_ok) — the go/no-go a
    * consumer checks before training on the snapshot. */
  def verifySummary(spark: SparkSession, dir: String): DataFrame =
    verifyManifest(spark, dir)
      .agg(count(lit(1)).as("files"),
        sum(coalesce(col("rows_actual"), lit(0L))).as("total_rows"),
        (count(lit(1)) === sum(when(col("ok"), 1).otherwise(0))).as("all_ok"))
}
