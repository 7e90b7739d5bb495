package graft.diff

import graft.parquet.FooterStats
import graft.write.Manifest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Incremental snapshot diff — the 100 TB daily-diff shape.
 *
 * A full [[Diff.diff]] of two 100 TB snapshots shuffles both corpora on the
 * id columns even when 99% of partitions are untouched. This operator cuts
 * the work to the partitions that actually changed:
 *
 *  1. *Detect* changed partitions from per-partition content fingerprints.
 *     With manifest sidecars ([[Manifest.writeWithManifest]] /
 *     [[writePartitionedWithManifest]]) detection reads ONLY the two tiny
 *     manifest tables — zero data-file IO: each file's order-insensitive
 *     XOR fingerprint rolls up to its hive partition (XOR of per-file XORs
 *     == XOR over all the partition's rows, so file count/layout differences
 *     between the two writes cannot matter). Without manifests, detection
 *     falls back to one grouped fingerprint scan per side.
 *  2. *Diff* rows only inside changed/added/removed partitions: the changed
 *     partition keys (one row per partition — bounded, require-capped)
 *     become a literal OR-of-AND predicate on the partition columns, which
 *     Catalyst turns into STATIC partition pruning at both scans; the
 *     row-level [[Diff.diff]] then runs on the pruned reads.
 *
 * Contract: both snapshots must share the data schema and the partition
 * layout. Rows in unchanged partitions are by definition unchanged and are
 * NOT emitted (the result equals the full diff minus the `N` rows of
 * unchanged partitions — a row *moving* between partitions changes both
 * partitions' fingerprints, so both ends stay in scope and the move
 * surfaces as a change on the partition column). Detection trusts 64-bit
 * fingerprints: a colliding pair of differing partitions (p ≈ 2^-64 each)
 * would be reported unchanged — the standard sidecar-index trade, same
 * class as [[graft.parquet.BloomIndex]]'s false-positive contract but on
 * the other side; and, like any XOR checksum, a multiset change of even
 * multiplicity at identical row count (swap two copies of row A for two of
 * row B) cancels out of the fingerprint. Partition values that hive-escape on write (slashes,
 * colons…) are compared in escaped form for detection but are not
 * supported by the pruning predicate — keep partition values URL-safe
 * (the usual lakehouse discipline). Path decoding handles `%XX` escapes
 * ONLY: a literal `+` in a partition value round-trips as `+` (pinned),
 * never as a space.
 *
 * Jobs (pinned in `JobBudgetSuite`): [[writePartitionedWithManifest]] runs
 * the data write and the manifest aggregate (3 jobs there);
 * [[diffSnapshots]] runs only the changed-partition collect before it
 * returns (3 jobs there, with manifests); the row diff runs when the
 * result is used. Every snapshot read takes its schema from a data
 * file's footer ([[graft.parquet.FooterStats.readSparkWritten]]), so no
 * path runs a schema-inference job: 3 fewer jobs per store-and-diff than
 * inferred reads.
 */
object SnapshotDiff {

  /** Hive-partitioned write + manifest sidecar (the incremental-diff-ready
    * snapshot format): data partitioned by `partitionCols`, then one
    * manifest row per landed file, fingerprinted by
    * [[Manifest.fileSummaryWith]] over a footer-schema read-back and landed
    * driver-side. */
  def writePartitionedWithManifest(df: DataFrame, dir: String,
                                   partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    val spark = df.sparkSession
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(dir)
    Manifest.writeManifestRows(spark, dir, Manifest.fileSummaryWith(
      FooterStats.readSparkWritten(spark, dir)).collect().toSeq)
  }

  /** Per-partition (partitionCols…, rows, fingerprint) from the DATA — one
    * grouped scan; the no-manifest fallback. `df` must carry the partition
    * columns (a plain partitioned read restores them). */
  def partitionSummary(df: DataFrame, partitionCols: Seq[String]): DataFrame =
    df.groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("rows"),
        bit_xor(xxhash64(to_json(struct(col("*"))))).as("fingerprint"))

  /** Per-partition (partitionCols…, rows, fingerprint) from the MANIFEST
    * sidecar — KB of IO regardless of snapshot size. Partition values are
    * parsed from the file paths (hive `col=value` segments) and
    * percent-decoded — `input_file_name()` renders paths URI-escaped (a
    * space in a partition value arrives as `%20`). Only `%XX` escapes are
    * decoded: a literal `+` in the path stays `+` (the escape-to-`%2B`
    * step below opts out of `url_decode`'s form-encoding rule that would
    * silently turn it into a space and break both change detection and
    * the pruning predicate). */
  def partitionManifestSummary(spark: SparkSession, dir: String,
                               partitionCols: Seq[String]): DataFrame = {
    val m = Manifest.readManifest(spark, dir)
    val withParts = partitionCols.foldLeft(m) { (d, c) =>
      d.withColumn(c, url_decode(regexp_replace(
        regexp_extract(col("file"),
          java.util.regex.Pattern.quote(c) + "=([^/]*)/", 1),
        lit("\\+"), lit("%2B"))))
    }
    withParts.groupBy(partitionCols.map(col): _*)
      .agg(sum(col("rows")).as("rows"), bit_xor(col("fingerprint")).as("fingerprint"))
  }

  /** Partition-level change report: one row per partition seen on either
    * side with `(partitionCols…, status, rows_left, rows_right)`, status ∈
    * added | removed | changed | unchanged. Pass the outputs of
    * [[partitionSummary]] or [[partitionManifestSummary]]. */
  def changedPartitions(leftSummary: DataFrame, rightSummary: DataFrame,
                        partitionCols: Seq[String]): DataFrame = {
    val l = leftSummary.select(
      partitionCols.map(col) :+ col("rows").as("rows_left") :+
        col("fingerprint").as("fp_left"): _*)
    val r = rightSummary.select(
      partitionCols.map(col) :+ col("rows").as("rows_right") :+
        col("fingerprint").as("fp_right"): _*)
    l.join(r, partitionCols, "full_outer")
      .withColumn("status",
        when(col("fp_right").isNull, lit("removed"))
          .when(col("fp_left").isNull, lit("added"))
          .when(col("fp_left") === col("fp_right") &&
            col("rows_left") === col("rows_right"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select(partitionCols.map(col) :+ col("status") :+
        col("rows_left") :+ col("rows_right"): _*)
  }

  /** The literal pruning predicate for a set of partition-key rows —
    * OR-of-AND over the partition columns, which the parquet scan turns
    * into static partition pruning. Literals are cast to the scan's own
    * partition-column types (manifest-mode keys are path strings, but the
    * read-back may type-infer partition values — an uncast comparison
    * would coerce the COLUMN and defeat pruning). */
  private def keysPredicate(keys: Array[org.apache.spark.sql.Row],
                            partitionCols: Seq[String],
                            schema: org.apache.spark.sql.types.StructType): Column =
    keys.map { k =>
      partitionCols.zipWithIndex
        .map { case (c, i) =>
          col(c) === lit(k.get(i)).cast(schema(c).dataType)
        }
        .reduce(_ && _)
    }.reduce(_ || _)

  /**
   * Row-level diff of two partitioned snapshots reading ONLY partitions
   * whose content differs. Detection uses the manifest sidecars when both
   * exist, else one grouped fingerprint scan per side.
   * `maxChangedPartitions` caps the driver-side key collect (one tiny row
   * per changed partition — a cap breach means "diff everything" is the
   * right plan anyway, and the require says so).
   */
  def diffSnapshots(spark: SparkSession, leftDir: String, rightDir: String,
                    idColumns: Seq[String], partitionCols: Seq[String],
                    maxChangedPartitions: Int = 10000): DataFrame = {
    val left = FooterStats.readSparkWritten(spark, leftDir)
    val right = FooterStats.readSparkWritten(spark, rightDir)
    val haveManifests = manifestExists(spark, leftDir) && manifestExists(spark, rightDir)
    val (lSum, rSum) =
      if (haveManifests)
        (partitionManifestSummary(spark, leftDir, partitionCols),
          partitionManifestSummary(spark, rightDir, partitionCols))
      else
        (partitionSummary(left, partitionCols), partitionSummary(right, partitionCols))

    val keys = changedPartitions(lSum, rSum, partitionCols)
      .where(col("status") =!= "unchanged")
      .select(partitionCols.map(col): _*)
      .limit(maxChangedPartitions + 1)
      .collect()
    require(keys.length <= maxChangedPartitions,
      s"more than $maxChangedPartitions changed partitions — run the full " +
        "Diff.diff instead of the incremental path")

    if (keys.isEmpty)
      Diff.of(left.limit(0), right.limit(0), idColumns: _*)
    else {
      val pred = keysPredicate(keys, partitionCols, left.schema)
      Diff.of(left.where(pred), right.where(pred), idColumns: _*)
    }
  }

  private def manifestExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(Manifest.manifestPath(dir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
