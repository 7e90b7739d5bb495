package graft.write

import graft.parquet.ParquetMeta
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Small-file compaction for parquet directories — the table-maintenance
 * pass every long-running ingest needs (thousands of tiny files from
 * per-micro-batch or per-task writes degrade scan planning, open-file cost,
 * and footer reads at 100 TB).
 *
 * The target file count comes from the directory's OWN footer metadata
 * (the [[ParquetMeta.parquetMetadata]] scan — a driver file listing plus a
 * distributed footer read, never a data read):
 * `ceil(sum(compressedBytes) / targetFileBytes)`, so output files land
 * near the requested size regardless of the input's skew.
 *
 * Plan: one round-robin repartition of the data to that count, then a
 * single write — the standard OPTIMIZE shape. `shuffle = false` downgrades
 * to `coalesce` (no exchange; right when the input is merely
 * over-partitioned and per-file size balance doesn't matter — but coalesce
 * cannot split large partitions, so balance is input-dependent).
 *
 * Rows are moved, never changed: the output reads back row-identical to
 * the input (the gate hash-verifies this), and the file count lands at the
 * computed target (sbt-pinned via our own parquetMetadata scan).
 */
object Compaction {

  /** Compute the target file count for a directory at `targetFileBytes`. */
  def targetFileCount(spark: SparkSession, dir: String, targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val total = ParquetMeta.parquetMetadata(spark, None, Seq(dir))
      .agg(coalesce(sum(col("compressedBytes")), lit(0L))).head().getLong(0)
    math.max(1, ((total + targetFileBytes - 1) / targetFileBytes).toInt)
  }

  /**
   * Compact the parquet directory `inputDir` into `outputDir` with files of
   * roughly `targetFileBytes` compressed bytes. Returns the number of files
   * written. Partitioned layouts: compact each partition directory (the
   * listing is cheap), or re-layout with [[PartitionedWrite]] /
   * [[ZOrderWrite]] when the partitioning itself should change.
   */
  def compactParquet(spark: SparkSession, inputDir: String, outputDir: String,
                     targetFileBytes: Long = 128L * 1024 * 1024,
                     shuffle: Boolean = true): Int = {
    val n = targetFileCount(spark, inputDir, targetFileBytes)
    val df = spark.read.parquet(inputDir)
    val sized = if (shuffle) df.repartition(n) else df.coalesce(n)
    sized.write.mode("overwrite").parquet(outputDir)
    n
  }

  /**
   * IN-PLACE compaction of a flat parquet directory, preserving an
   * optional clustering: rows land in `target-file-count` fresh files
   * (repartitioned on `clusterCols` when given, so co-location survives —
   * round-robin otherwise), swapped in under the [[SwapFiles]] protocol:
   * fresh files rename in, a pending-deletes marker makes them
   * authoritative, old files delete with every delete CHECKED, and an
   * interrupted run is repaired automatically by the next one (roll
   * forward past the marker, roll back before it) — a crash can never
   * lose or permanently duplicate a row. A maintenance pass, not a
   * concurrent-writer protocol: run it when no writer appends to `dir`.
   * Returns (files before, files after).
   */
  def compactInPlace(spark: SparkSession, dir: String,
                     targetFileBytes: Long = 128L * 1024 * 1024,
                     clusterCols: Seq[String] = Seq.empty): (Int, Int) = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    SwapFiles.recover(fs, dirPath)
    // flat-directory contract, ENFORCED: spark.read.parquet recurses into
    // partition subdirectories, so compacting a hive-partitioned layout
    // here would rewrite nested rows into flat top-level files while
    // leaving the originals — every nested row silently duplicated.
    val nested = fs.listStatus(dirPath).filter(s =>
      s.isDirectory && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    require(nested.isEmpty,
      s"compactInPlace requires a FLAT parquet directory; $dir contains " +
        s"subdirectories (${nested.take(3).map(_.getPath.getName).mkString(", ")}" +
        s"${if (nested.length > 3) ", …" else ""}) — compact each partition " +
        "directory individually, or re-layout with PartitionedWrite")
    val n = targetFileCount(spark, dir, targetFileBytes)
    def dataFiles = fs.listStatus(dirPath).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    val old = dataFiles.map(_.getPath)
    val df = spark.read.parquet(dir)
    val sized =
      if (clusterCols.nonEmpty) df.repartition(n, clusterCols.map(col): _*)
      else df.repartition(n)
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new org.apache.hadoop.fs.Path(dirPath, s"_compact_tmp_$uuid")
    sized.write.parquet(tmp.toString)
    SwapFiles.publishAndDelete(fs, dirPath, tmp, "compact", uuid, old.toSeq)
    (old.length, dataFiles.length)
  }

  /**
   * Layout health report — "which directories need maintenance?" answered
   * from footer metadata alone (a driver file listing + a distributed
   * footer read, never a data read — the only sane cost model for
   * auditing thousands of directories at 100 TB): one row per directory
   * with `(dir, files, blocks, rows, compressed_bytes, small_files,
   * target_files, compaction_recommended)`. A file is SMALL below half
   * `targetFileBytes`; `target_files = max(1, ceil(bytes / target))` in
   * exact integer arithmetic; compaction is recommended when the
   * directory has more files than its target AND a majority of them are
   * small — the "thousands of per-batch files" signature, not a directory
   * that is merely one file over.
   */
  def layoutReport(spark: SparkSession, dirs: Seq[String],
                   targetFileBytes: Long = 128L * 1024 * 1024): DataFrame = {
    require(dirs.nonEmpty, "layoutReport needs at least one directory")
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val half = targetFileBytes / 2
    dirs.map { d =>
      ParquetMeta.parquetMetadata(spark, None, Seq(d))
        .agg(
          count(lit(1)).as("files"),
          sum(col("blocks").cast("long")).as("blocks"),
          sum(col("rows")).as("rows"),
          sum(col("compressedBytes")).as("compressed_bytes"),
          count(when(col("compressedBytes") < half, 1)).as("small_files"))
        .select(
          lit(d).as("dir"), col("files"), col("blocks"), col("rows"),
          col("compressed_bytes"), col("small_files"),
          greatest(lit(1L),
            expr(s"(compressed_bytes + ${targetFileBytes - 1}) DIV $targetFileBytes"))
            .as("target_files"))
        .withColumn("compaction_recommended",
          col("files") > col("target_files") &&
            col("small_files") * 2 > col("files"))
    }.reduce(_ unionByName _)
  }

  /**
   * Compact a persisted ANN serving index after many
   * [[graft.ann.Pq.appendToAnnIndex]] batches (each append lands its own
   * small files; after a year of daily ingest `enc/` is thousands of tiny
   * files and every probe pays the open-file cost): `enc/` re-clusters on
   * `cid` so a probe still scans coherent files, `vectors/` compacts
   * round-robin. Quantizers (`ivf/`, `pq/`, `params/`) untouched — like
   * deletion, maintenance must never silently re-quantize. Queries are
   * row-for-row identical before and after (rows move, never change) —
   * driver-gated against the same golden fixture as save/append.
   */
  def compactAnnIndex(spark: SparkSession, path: String,
                      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, (Int, Int)] = {
    // the two sides live in disjoint directories and each rewrite is
    // independently crash-safe (SwapFiles), so the jobs overlap (§2.6)
    val (enc, vecs) = graft.parallelJobs(spark)(
      () => compactInPlace(spark, s"$path/enc", targetFileBytes, Seq("cid")),
      () => compactInPlace(spark, s"$path/vectors", targetFileBytes))
    Map("enc" -> enc, "vectors" -> vecs)
  }

  /**
   * Compact a persisted MinHash dedup index after many
   * [[graft.dedup.DedupIndex.appendToDedupIndex]] batches: `buckets/`
   * re-clusters on (band, bucket) — the equi-join key every increment
   * probes — and `shingles/` compacts round-robin; `params/` untouched.
   */
  def compactDedupIndex(spark: SparkSession, path: String,
                        targetFileBytes: Long = 128L * 1024 * 1024): Map[String, (Int, Int)] = {
    val (buckets, shingles) = graft.parallelJobs(spark)(
      () => compactInPlace(spark, s"$path/buckets", targetFileBytes,
        Seq("band", "bucket")),
      () => compactInPlace(spark, s"$path/shingles", targetFileBytes))
    Map("buckets" -> buckets, "shingles" -> shingles)
  }
}
