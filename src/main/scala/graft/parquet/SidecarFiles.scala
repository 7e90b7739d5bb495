package graft.parquet

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Reading underscore-prefixed sidecar directories (`_manifest`,
 * `_bloom_<col>`) without log noise: handing the directory itself to
 * `spark.read.parquet` trips DataSource's hidden-path filter ("All paths
 * were ignored"), and handing a `*.parquet` glob trips
 * FileStreamSink.hasMetadata's existence probe (a logged
 * FileNotFoundException) — so list the CONCRETE data files driver-side
 * (one bounded RPC; sidecars are KB-scale by design) and pass them
 * explicitly. Explicit existing file paths take the quiet path through
 * both checks.
 */
object SidecarFiles {

  /** Concrete data-file paths inside `dir` (hidden/underscore files like
    * `_SUCCESS` excluded). */
  def dataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    dataFiles(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
      .map(_.getPath.toString).toSeq
  }

  /** The files directly inside `dir` that are not hidden: no `_` or `.`
    * name prefix (`_SUCCESS`, `.crc` checksums). One listing RPC. */
  def dataFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    fs.listStatus(dir).filter { s =>
      val name = s.getPath.getName
      s.isFile && !name.startsWith("_") && !name.startsWith(".")
    }

  /** Read the sidecar directory's data files as parquet. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val files = dataFiles(spark, dir)
    require(files.nonEmpty, s"no data files in sidecar directory $dir")
    spark.read.parquet(files: _*)
  }

  /** Freshness signature of an artifact directory for driver-side caches:
    * sorted `name:length:mtime` per file. Per-file NAMES matter — Spark
    * part-file names are unique per write, so a rebuild changes the
    * signature even when file count, total bytes, and coarse mtimes all
    * collide (fixed-size bloom sidecars rebuilt in the same millisecond
    * would otherwise serve stale bits). */
  def signature(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).filter(_.isFile)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
  }
}
