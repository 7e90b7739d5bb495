package graft.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Driver-side parquet footer reads — the metadata a Spark scan's own
 * planning reads (row schema, row-group min/max), exposed without
 * submitting a job. Replaces "run a job just to learn the schema" and
 * "run a filtered scan just to learn WHICH file holds key k" probes: the
 * schema inference job and the scan's row-group pruning consult exactly
 * these footers, so asking them directly is the same information at zero
 * job-submission cost. Metadata only — the same class of work the scan
 * planner does before the first task launches.
 */
object FooterStats {

  /** Footer key under which Spark's parquet writer stores the row schema
    * as JSON (Spark's own `ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkRowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The row schema Spark wrote into the footer of the first data file
    * (by name) in `dir`, or, when `dir` holds no data file of its own, in
    * its first hive partition directory that does — the key Spark's schema
    * inference reads from one data file of an un-merged parquet read, read
    * here on the driver instead of in an inference job. One footer open,
    * row-group metadata skipped. The footer schema holds the data columns
    * only; a read with it appends the partition columns from the paths, as
    * an inferred read does. Fails loudly on a directory with no data files
    * or a file Spark did not write: there is deliberately no inference
    * fallback. */
  def sparkSchema(spark: SparkSession, dir: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val path = firstDataFile(root.getFileSystem(conf), root).getOrElse(
      throw new IllegalArgumentException(s"no data files in $dir"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get(SparkRowSchemaKey) finally reader.close()
    require(json != null, s"$path carries no Spark row schema ($SparkRowSchemaKey)")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Names Spark's file listing skips: `_SUCCESS`, sidecars such as
    * `_manifest`, dot files; a `_`-name holding `=` is a partition. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** The first visible file by name in `dir`, else the first one under its
    * visible subdirectories, taken in name order. */
  private def firstDataFile(fs: FileSystem, dir: Path): Option[Path] = {
    val (dirs, files) = fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName))
      .partition(_.isDirectory)
    files.map(_.getPath).sortBy(_.getName).headOption.orElse(
      dirs.map(_.getPath).sortBy(_.getName).iterator.flatMap(firstDataFile(fs, _)).nextOption())
  }

  /** `spark.read.parquet(dir)` for a directory only Spark writes, with the
    * schema from [[sparkSchema]]: the same relation without the schema
    * inference job. */
  def readSparkWritten(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(sparkSchema(spark, dir)).parquet(dir)

  /** Per-file `(min, max)` of a required/optional INT64 column across all
    * row groups; None when the file carries no stats for the column. */
  def longColumnRange(conf: Configuration, file: Path,
                      column: String): Option[(Long, Long)] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val ranges = reader.getFooter.getBlocks.toArray.flatMap { b =>
        b.asInstanceOf[org.apache.parquet.hadoop.metadata.BlockMetaData]
          .getColumns.toArray.collectFirst {
            case c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
              if c.getPath.toDotString == column &&
                c.getStatistics != null && !c.getStatistics.isEmpty =>
              (c.getStatistics.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                c.getStatistics.genericGetMax.asInstanceOf[java.lang.Long].longValue())
          }
      }
      if (ranges.isEmpty) None
      else Some((ranges.map(_._1).min, ranges.map(_._2).max))
    } finally reader.close()
  }
}
