package graft.privacy

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Deletion propagation — the "right to be forgotten" pass of a production
 * corpus platform: a takedown/GDPR list of row ids must vanish not only
 * from the corpus but from every PERSISTED derived artifact — the MinHash
 * dedup index ([[graft.dedup.DedupIndex]]) and the IVFADC ANN serving
 * index ([[graft.ann.Pq.saveAnnIndex]]) — without the 100 TB rebuild that
 * re-shingling / re-encoding the whole corpus would cost.
 *
 * The primitive is FILE-SURGICAL: one column-pruned provenance scan finds
 * the parquet files that contain any doomed id (`_metadata.file_path`,
 * zero extra IO beyond the id column), ONLY those files are rewritten
 * (survivor rows land in fresh files, doomed files are deleted), and
 * every untouched file keeps its bytes, name and mtime. Deleting 100 doc
 * ids from a million-file index rewrites the handful of files they live
 * in — work scales with |doomed ids| × rows-per-file, not corpus size.
 *
 * Quantizers are deliberately NOT retrained ([[scrubAnnIndex]] keeps
 * `ivf/`/`pq/`, [[scrubDedupIndex]] keeps `params/`): a deletion must not
 * silently re-quantize the surviving corpus. The result is row-for-row
 * identical to an index built over the filtered corpus with the same
 * quantizers (sbt-pinned both ways, driver-gated end to end).
 *
 * Crash semantics: the swap runs the [[graft.write.SwapFiles]] protocol —
 * survivor files rename into place, a pending-deletes marker makes the
 * fresh files authoritative, doomed files delete with EVERY delete
 * checked (a false `fs.delete` on HDFS/S3A aborts loudly instead of
 * reporting a scrub that left doomed rows behind), and the NEXT run
 * repairs any interruption automatically: marker present → roll forward
 * (finish the deletes); crash before the marker → roll back (drop the
 * partial survivor copies, whose rows still live in the old files). No
 * interleaving loses or permanently duplicates a row.
 */
object Deletion {

  /** What a scrub did: file counts, row counts, and the fresh file names
    * (crash recovery is automatic — see [[graft.write.SwapFiles]]). */
  case class ScrubStats(filesTotal: Long, filesRewritten: Long,
                        rowsDeleted: Long, rowsRewritten: Long,
                        newFiles: Seq[String])

  /**
   * Remove every row of the flat parquet directory `dir` whose `idColumn`
   * appears in `doomed` (a one-column DataFrame or any DataFrame + column
   * selector), rewriting only the files that contain such a row.
   * `maxTouchedFiles` bounds the driver-side file list (a takedown list
   * touching more files than that should be a rebuild, not a scrub).
   */
  def scrubParquetById(spark: SparkSession, dir: String, idColumn: String,
                       doomed: DataFrame, doomedId: Column,
                       maxTouchedFiles: Int = 100000): ScrubStats = {
    val conf = spark.sessionState.newHadoopConf()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    graft.write.SwapFiles.recover(fs, dirPath)
    val filesTotal = fs.listStatus(dirPath)
      .count(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith(".")).toLong

    // the ONE corpus-sized pass: a column-pruned scan of the id column with
    // file provenance, semi-joined against the broadcast deletion list
    val ids = broadcast(doomed.select(doomedId.as("__doomed_id")).distinct())
    val files = spark.read.parquet(dir)
      .select(col(idColumn).as("__id"), col("_metadata.file_path").as("__file"))
      .join(ids, col("__id") === col("__doomed_id"), "left_semi")
      .select("__file").distinct()
      .collect().map(_.getString(0)).sorted
    require(files.length <= maxTouchedFiles,
      s"${files.length} files contain doomed ids (cap $maxTouchedFiles) — " +
        "this deletion is a rebuild, not a scrub")
    if (files.isEmpty)
      return ScrubStats(filesTotal, 0L, 0L, 0L, Seq.empty)

    // all counting happens BEFORE any file is deleted
    val victims = spark.read.parquet(files: _*)
    val survivors = victims
      .join(ids, col(idColumn) === col("__doomed_id"), "left_anti")
    val victimRows = victims.count()
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(dirPath, s"_scrub_tmp_$uuid")
    survivors.write.parquet(tmp.toString)
    val keptRows = spark.read.parquet(tmp.toString).count()
    val kept = graft.write.SwapFiles.publishAndDelete(
      fs, dirPath, tmp, "scrub", uuid, files.map(new Path(_)).toSeq)
    ScrubStats(filesTotal, files.length, victimRows - keptRows, keptRows, kept)
  }

  /**
   * Propagate deletions into a persisted MinHash dedup index
   * ([[graft.dedup.DedupIndex.saveDedupIndex]] layout): doomed ids leave
   * both `shingles/` and `buckets/`; `params/` (the quantization config)
   * is untouched. Queries against the scrubbed index equal queries
   * against an index built over the filtered reference (sbt-pinned,
   * driver-gated).
   */
  def scrubDedupIndex(spark: SparkSession, path: String,
                      doomed: DataFrame, doomedId: Column,
                      maxTouchedFiles: Int = 100000): ScrubStats = {
    // either partial order is query-safe for a DOOMED id (shingles-only
    // scrubbed: its bucket rows drop at the exact-verify join; buckets-only:
    // it never becomes a candidate — both equal the fully-scrubbed answer),
    // and the directories are disjoint with per-file swap protection, so
    // the two rewrites overlap (§2.6); a crash means re-run either way
    val (a, b) = graft.parallelJobs(spark)(
      () => scrubParquetById(spark, s"$path/shingles", "id",
        doomed, doomedId, maxTouchedFiles),
      () => scrubParquetById(spark, s"$path/buckets", "id",
        doomed, doomedId, maxTouchedFiles))
    ScrubStats(a.filesTotal + b.filesTotal, a.filesRewritten + b.filesRewritten,
      a.rowsDeleted + b.rowsDeleted, a.rowsRewritten + b.rowsRewritten,
      a.newFiles ++ b.newFiles)
  }

  /**
   * Propagate deletions into a persisted ANN serving index
   * ([[graft.ann.Pq.saveAnnIndex]] layout): doomed ids leave the encoded
   * corpus (`enc/`) and the exact-re-rank vectors (`vectors/`); the
   * quantizers (`ivf/`, `pq/`, `params/`) are untouched — deletions must
   * not re-quantize the survivors. Queries after the scrub are
   * row-for-row identical to an index saved over the filtered corpus
   * with the same quantizers (sbt-pinned, driver-gated against the
   * golden fixture).
   */
  def scrubAnnIndex(spark: SparkSession, path: String,
                    doomed: DataFrame, doomedId: Column,
                    maxTouchedFiles: Int = 100000): ScrubStats = {
    // disjoint directories, per-file swap protection, and either partial
    // order is query-safe (enc-only scrub: doomed rows never shortlist;
    // vectors-only: shortlisted doomed codes drop at the re-rank join) —
    // so the two rewrites overlap (§2.6). A crash still means re-run, as
    // with the sequential order.
    val (a, b) = graft.parallelJobs(spark)(
      () => scrubParquetById(spark, s"$path/enc", "neighbor_id",
        doomed, doomedId, maxTouchedFiles),
      () => scrubParquetById(spark, s"$path/vectors", "neighbor_id",
        doomed, doomedId, maxTouchedFiles))
    ScrubStats(a.filesTotal + b.filesTotal, a.filesRewritten + b.filesRewritten,
      a.rowsDeleted + b.rowsDeleted, a.rowsRewritten + b.rowsRewritten,
      a.newFiles ++ b.newFiles)
  }
}
