package graft.python

import java.util.{List => JList}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.DataType
import org.apache.spark.storage.StorageLevel

import graft.{BuildVersion, Histogram, RowNumbers, UnpersistHandle}
import graft.diff.{DiffComparators, Differ, DiffMode, DiffOptions}
import graft.diff.comparator.DiffComparator
import graft.parquet.ParquetMeta

/**
 * Monomorphic, py4j-friendly entry points for the PySpark mirror
 * (`python/graftspark`).
 *
 * py4j cannot supply Scala implicits, default arguments, or varargs, and
 * boxes Python numbers unpredictably (Integer vs Long), so every method here
 * takes `java.util.List` / boxed types / explicit arguments only. The Python
 * package keeps zero logic of its own beyond argument marshalling — all
 * semantics live in the Scala operators, mirroring the reference's py4j
 * bridge half (/root/reference/python/gresearch/spark/__init__.py:431-490)
 * while diff also bridges to the JVM instead of being reimplemented in
 * Python (classic Spark sessions only; documented in python/README.md).
 */
object PyBridge {

  /** Probe used by the Python package to verify the jar is on the classpath. */
  def version(): String = BuildVersion.VersionString

  // --------------------------------------------------------------------------
  // diff
  // --------------------------------------------------------------------------

  def diffOptions(): DiffOptions = DiffOptions.default

  /** Resolve a [[DiffMode]] by name: Default, ColumnByColumn, SideBySide, LeftSide, RightSide. */
  def withDiffMode(options: DiffOptions, mode: String): DiffOptions =
    options.withDiffMode(if (mode == "Default") DiffMode.Default else DiffMode.withName(mode))

  def withColumnComparator(options: DiffOptions, comparator: DiffComparator,
                           columnNames: JList[String]): DiffOptions = {
    val names = columnNames.asScala.toSeq
    options.withComparator(comparator, names.head, names.tail: _*)
  }

  /** Data types given as DDL strings (e.g. "int", "map<string,int>"). */
  def withTypeComparator(options: DiffOptions, comparator: DiffComparator,
                         dataTypes: JList[String]): DiffOptions = {
    val types = dataTypes.asScala.toSeq.map(DataType.fromDDL)
    options.withComparator(comparator, types.head, types.tail: _*)
  }

  def comparatorDefault(): DiffComparator = DiffComparators.default()
  def comparatorNullSafeEqual(): DiffComparator = DiffComparators.nullSafeEqual()
  def comparatorEpsilon(epsilon: Double, relative: Boolean, inclusive: Boolean): DiffComparator = {
    val c = DiffComparators.epsilon(epsilon)
    val rel = if (relative) c.asRelative() else c.asAbsolute()
    if (inclusive) rel.asInclusive() else rel.asExclusive()
  }
  def comparatorString(whitespaceAgnostic: Boolean): DiffComparator =
    DiffComparators.string(whitespaceAgnostic)
  /** Duration given in ISO-8601 (e.g. "PT24H"). */
  def comparatorDuration(duration: String, inclusive: Boolean): DiffComparator = {
    val c = DiffComparators.duration(java.time.Duration.parse(duration))
    if (inclusive) c.asInclusive() else c.asExclusive()
  }
  def comparatorMap(keyOrderSensitive: Boolean): DiffComparator =
    DiffComparators.map(keyOrderSensitive)

  def diff(options: DiffOptions, left: DataFrame, right: DataFrame,
           idColumns: JList[String], ignoreColumns: JList[String]): DataFrame =
    new Differ(options).diff(left, right, idColumns, ignoreColumns)

  /** Untyped diffWith: the (diff, left, right) triple as struct columns _1/_2/_3. */
  def diffWith(options: DiffOptions, left: DataFrame, right: DataFrame,
               idColumns: JList[String], ignoreColumns: JList[String]): DataFrame =
    new Differ(options)
      .diffWith(left, right, idColumns.asScala.toSeq, ignoreColumns.asScala.toSeq)
      .toDF()

  // --------------------------------------------------------------------------
  // histogram
  // --------------------------------------------------------------------------

  /**
   * Thresholds arrive as whatever py4j boxed them to (Integer or Long for
   * Python ints, Double for floats); normalize to one numeric domain so the
   * Ordering is total. Integral thresholds keep integral column names.
   */
  def histogram(df: DataFrame, thresholds: JList[Object], valueColumn: Column,
                aggregateColumns: JList[Column]): DataFrame = {
    val ts = thresholds.asScala.toSeq.map {
      case n: java.lang.Number => n
      case other => throw new IllegalArgumentException(
        s"Thresholds must be numbers, got: ${other.getClass.getName}")
    }
    val aggs = aggregateColumns.asScala.toSeq
    val integral = ts.forall {
      case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short => true
      case _ => false
    }
    if (integral) Histogram.of(df, ts.map(_.longValue()), valueColumn, aggs: _*)
    else Histogram.of(df, ts.map(_.doubleValue()), valueColumn, aggs: _*)
  }

  // --------------------------------------------------------------------------
  // row numbers
  // --------------------------------------------------------------------------

  def unpersistHandle(): UnpersistHandle = UnpersistHandle()

  /** `unpersistHandle` may be null (no handle -> Noop). */
  def withRowNumbers(df: DataFrame, rowNumberColumnName: String,
                     storageLevel: StorageLevel, unpersistHandle: UnpersistHandle,
                     order: JList[Column]): DataFrame =
    RowNumbers.withRowNumbers(
      df, rowNumberColumnName, storageLevel,
      Option(unpersistHandle).getOrElse(UnpersistHandle.Noop),
      order.asScala.toSeq)

  // --------------------------------------------------------------------------
  // parquet metadata scans (parallelism may be null)
  // --------------------------------------------------------------------------

  private def par(parallelism: java.lang.Integer): Option[Int] =
    Option(parallelism).map(_.intValue())

  def parquetMetadata(reader: DataFrameReader, spark: SparkSession,
                      parallelism: java.lang.Integer, paths: JList[String]): DataFrame =
    ParquetMeta.parquetMetadata(spark, par(parallelism), paths.asScala.toSeq, Option(reader))

  def zoneMapPruningReport(spark: SparkSession, paths: JList[String],
                           column: String, lo: Double, hi: Double): DataFrame =
    graft.parquet.ZoneMap.pruningReport(spark, paths.asScala.toSeq, column, lo, hi)

  def zoneMapPruningSummary(spark: SparkSession, paths: JList[String],
                            column: String, lo: Double, hi: Double): DataFrame =
    graft.parquet.ZoneMap.pruningSummary(spark, paths.asScala.toSeq, column, lo, hi)

  def parquetSchema(reader: DataFrameReader, spark: SparkSession,
                    parallelism: java.lang.Integer, paths: JList[String]): DataFrame =
    ParquetMeta.parquetSchema(spark, par(parallelism), paths.asScala.toSeq, Option(reader))

  def parquetBlocks(reader: DataFrameReader, spark: SparkSession,
                    parallelism: java.lang.Integer, paths: JList[String]): DataFrame =
    ParquetMeta.parquetBlocks(spark, par(parallelism), paths.asScala.toSeq, Option(reader))

  def parquetBlockColumns(reader: DataFrameReader, spark: SparkSession,
                          parallelism: java.lang.Integer, paths: JList[String]): DataFrame =
    ParquetMeta.parquetBlockColumns(spark, par(parallelism), paths.asScala.toSeq, Option(reader))

  def parquetPartitions(reader: DataFrameReader, spark: SparkSession,
                        parallelism: java.lang.Integer, paths: JList[String]): DataFrame =
    ParquetMeta.parquetPartitions(spark, par(parallelism), paths.asScala.toSeq, Option(reader))

  // --------------------------------------------------------------------------
  // .Net ticks codecs (stable monomorphic names for the Python functions)
  // --------------------------------------------------------------------------

  def dotNetTicksToTimestamp(ticks: Column): Column =
    graft.functions.dotNetTicksToTimestamp(ticks)
  def dotNetTicksToUnixEpoch(ticks: Column): Column =
    graft.functions.dotNetTicksToUnixEpoch(ticks)
  def dotNetTicksToUnixEpochNanos(ticks: Column): Column =
    graft.functions.dotNetTicksToUnixEpochNanos(ticks)
  def timestampToDotNetTicks(timestamp: Column): Column =
    graft.functions.timestampToDotNetTicks(timestamp)
  def unixEpochToDotNetTicks(unixSeconds: Column): Column =
    graft.functions.unixEpochToDotNetTicks(unixSeconds)
  def unixEpochNanosToDotNetTicks(unixNanos: Column): Column =
    graft.functions.unixEpochNanosToDotNetTicks(unixNanos)

  // --------------------------------------------------------------------------
  // LLM-pipeline operators (text kernels, dedup, similarity, chunking)
  // --------------------------------------------------------------------------

  def tokenizeAscii(c: Column): Column = graft.functions.vectors.tokenize_ascii(c)

  def canonicalizeText(c: Column): Column = graft.functions.vectors.canonicalize_text(c)

  def tokenStats(c: Column, stopwords: JList[String]): Column =
    graft.functions.vectors.token_stats(c, stopwords.asScala.toSeq)

  def topNgramStats(c: Column, n: Int): Column =
    graft.text.TextFunctions.topNgramStats(c, n)

  def topNgramFraction(c: Column, n: Int): Column =
    graft.text.TextFunctions.topNgramFraction(c, n)

  def chunkTokens(c: Column, chunkSize: Int, overlap: Int): Column =
    graft.text.TextFunctions.chunkTokens(c, chunkSize, overlap)

  def chunkByTokens(df: DataFrame, text: Column, chunkSize: Int, overlap: Int,
                    idCols: JList[Column]): DataFrame =
    graft.text.TextFunctions.chunkByTokens(df, text, chunkSize, overlap, idCols.asScala.toSeq: _*)

  def langId(c: Column): Column = graft.text.TextFunctions.langId(c)

  def qualityScore(c: Column): Column = graft.text.TextFunctions.qualityScore(c)

  def approxBpeTokenCount(c: Column): Column =
    graft.text.TextFunctions.approxBpeTokenCount(c)

  def fingerprintMd5(c: Column): Column = graft.text.TextFunctions.fingerprintMd5(c)

  def hashedWordShingles(c: Column, n: Int): Column =
    graft.functions.vectors.hashed_word_shingles(c, n)

  def int8Encode(vec: Column): Column = graft.functions.vectors.int8_encode(vec)

  def int8EncodeInts(vec: Column): Column = graft.functions.vectors.int8_encode_ints(vec)

  def int8Scale(vec: Column): Column = graft.functions.vectors.int8_scale(vec)

  def int8Dot(a: Column, b: Column): Column = graft.functions.vectors.int8_dot(a, b)

  def int8Decode(codes: Column, scale: Column): Column =
    graft.functions.vectors.int8_decode(codes, scale)

  def int8BruteForceTopK(queries: DataFrame, corpus: DataFrame,
                         queryId: Column, queryVec: Column,
                         corpusId: Column, corpusVec: Column, k: Int): DataFrame =
    graft.ann.Ann.int8BruteForceTopK(
      queries, corpus, queryId, queryVec, corpusId, corpusVec, k)

  def bitSignPack(vec: Column): Column = graft.functions.vectors.bit_sign_pack(vec)

  def hammingWords(a: Column, b: Column): Column =
    graft.functions.vectors.hamming_words(a, b)

  def hammingBruteForceTopK(queries: DataFrame, corpus: DataFrame,
                            queryId: Column, queryVec: Column,
                            corpusId: Column, corpusVec: Column, k: Int): DataFrame =
    graft.ann.Ann.hammingBruteForceTopK(
      queries, corpus, queryId, queryVec, corpusId, corpusVec, k)

  def hammingTopK(queries: DataFrame, corpus: DataFrame,
                  queryId: Column, queryVec: Column,
                  corpusId: Column, corpusVec: Column, k: Int, refine: Int): DataFrame =
    graft.ann.Ann.hammingTopK(
      queries, corpus, queryId, queryVec, corpusId, corpusVec, k, refine)

  def mrlTopK(queries: DataFrame, corpus: DataFrame,
              queryId: Column, queryVec: Column,
              corpusId: Column, corpusVec: Column,
              k: Int, dims: Int, refine: Int): DataFrame =
    graft.ann.Ann.mrlTopK(
      queries, corpus, queryId, queryVec, corpusId, corpusVec, k, dims, refine)

  def truncateVec(vec: Column, dims: Int): Column =
    graft.ann.Ann.truncateVec(vec, dims)

  def cosineSimilarity(a: Column, b: Column): Column =
    graft.functions.vectors.cosine_similarity(a, b)

  def dotProduct(a: Column, b: Column): Column =
    graft.functions.vectors.dot_product(a, b)

  def dropExactTextDuplicates(df: DataFrame, id: Column, text: Column): DataFrame =
    graft.dedup.Dedup.dropExactTextDuplicates(df, text, id)

  def nearDupPairsMinHash(df: DataFrame, id: Column, text: Column,
                          shingleSize: Int, bands: Int, rowsPerBand: Int,
                          threshold: Double): DataFrame =
    graft.dedup.Dedup.nearDupPairsMinHash(df, id, text, shingleSize, bands, rowsPerBand, threshold)

  def deduplicateMinHash(df: DataFrame, id: Column, text: Column,
                         shingleSize: Int, bands: Int, rowsPerBand: Int,
                         threshold: Double): DataFrame =
    graft.dedup.Dedup.deduplicateMinHash(df, id, text, shingleSize, bands, rowsPerBand, threshold)

  def jaccardJoinPrefix(df: DataFrame, id: Column, text: Column,
                        shingleSize: Int, threshold: Double): DataFrame =
    graft.dedup.PrefixJoin.jaccardJoinPrefix(df, id, text, shingleSize, threshold)

  def deduplicateExactJaccard(df: DataFrame, id: Column, text: Column,
                              shingleSize: Int, threshold: Double): DataFrame =
    graft.dedup.PrefixJoin.deduplicateExactJaccard(df, id, text, shingleSize, threshold)

  def corpusBucketFirst(corpus: DataFrame, id: Column, text: Column,
                        shingleSize: Int, bands: Int, rowsPerBand: Int): DataFrame =
    graft.streaming.StreamingNearDup.corpusBucketFirst(
      corpus, id, text, shingleSize, bands, rowsPerBand)

  def minHashCandidatesSeededStream(stream: DataFrame, id: Column, text: Column,
                                    eventTimeColumn: String, delayThreshold: String,
                                    seed: DataFrame, shingleSize: Int, bands: Int,
                                    rowsPerBand: Int, stateRetentionMs: Long): DataFrame =
    graft.streaming.StreamingNearDup.minHashCandidatesSeeded(
      stream, id, text, eventTimeColumn, delayThreshold, seed,
      shingleSize, bands, rowsPerBand, stateRetentionMs).toDF()

  def capPerDomainStream(stream: DataFrame, id: Column, url: Column,
                         maxPerDomain: Int, eventTimeColumn: String,
                         delayThreshold: String, stateRetentionMs: Long): DataFrame =
    graft.streaming.StreamingDomainCap.capPerDomain(
      stream, id, url, maxPerDomain, eventTimeColumn, delayThreshold,
      stateRetentionMs).toDF()

  def registerSqlFunctions(spark: SparkSession): Unit =
    graft.GraftExtensions.registerAll(spark)

  /** End-to-end curation pass (P47). Returns [curated, report]; the curated
    * side's internal cache is released once both returned plans are local —
    * report rows are driver-built, curated is materialized, so the cache is
    * dropped before returning (py4j callers get concrete results). */
  def curate(df: DataFrame, id: Column, text: Column,
             keepLangs: JList[String],
             minTokens: Int, maxTokens: Int,
             minAvgTokenLen: Double, maxAvgTokenLen: Double,
             minStopwordRatio: Double, maxTopBigramFraction: Double,
             classifierWeights: JList[Integer],
             classifierBias: Long, classifierThreshold: Long,
             dsirWeights: JList[Integer], dsirThreshold: Long,
             minHashThreshold: Double, shingleSize: Int, bands: Int, rowsPerBand: Int,
             blocklist: DataFrame, blocklistText: Column,
             blocklistShingleSize: Int, minOverlap: Int,
             sampleRate: Double, sampleSalt: String,
             dsirPortableHash: Boolean): Array[DataFrame] = {
    val handle = UnpersistHandle()
    val (curated, report) = graft.pipeline.Curation.curate(
      df, id, text, keepLangs.asScala.toSet,
      minTokens, maxTokens, minAvgTokenLen, maxAvgTokenLen,
      minStopwordRatio, maxTopBigramFraction,
      Option(classifierWeights).map(_.asScala.map(_.intValue()).toArray),
      classifierBias, classifierThreshold,
      Option(dsirWeights).map(_.asScala.map(_.intValue()).toArray), dsirThreshold,
      minHashThreshold = minHashThreshold, shingleSize = shingleSize,
      bands = bands, rowsPerBand = rowsPerBand,
      Option(blocklist).map(b => (b, blocklistText)),
      blocklistShingleSize, minOverlap, sampleRate, sampleSalt,
      unpersistHandle = handle, dsirPortableHash = dsirPortableHash)
    // pin the curated rows past the unpersist so the Python caller's plan
    // does not recompute the whole pipeline per action
    val pinned = curated.localCheckpoint(true)
    handle.unpersist()
    Array(pinned, report)
  }

  def curateIncrement(df: DataFrame, id: Column, text: Column, indexPath: String,
                      keepLangs: JList[String],
                      minTokens: Int, maxTokens: Int,
                      minAvgTokenLen: Double, maxAvgTokenLen: Double,
                      minStopwordRatio: Double, maxTopBigramFraction: Double,
                      classifierWeights: JList[Integer],
                      classifierBias: Long, classifierThreshold: Long,
                      dsirWeights: JList[Integer], dsirThreshold: Long,
                      minHashThreshold: Double,
                      sampleRate: Double, sampleSalt: String,
                      appendSurvivors: Boolean,
                      dsirPortableHash: Boolean): Array[DataFrame] = {
    val handle = UnpersistHandle()
    val (curated, report) = graft.pipeline.Curation.curateIncrement(
      df, id, text, indexPath, keepLangs.asScala.toSet,
      minTokens, maxTokens, minAvgTokenLen, maxAvgTokenLen,
      minStopwordRatio, maxTopBigramFraction,
      Option(classifierWeights).map(_.asScala.map(_.intValue()).toArray),
      classifierBias, classifierThreshold,
      Option(dsirWeights).map(_.asScala.map(_.intValue()).toArray), dsirThreshold,
      minHashThreshold = minHashThreshold,
      sampleRate = sampleRate, sampleSalt = sampleSalt,
      appendSurvivors = appendSurvivors,
      unpersistHandle = handle, dsirPortableHash = dsirPortableHash)
    val pinned = curated.localCheckpoint(true)
    handle.unpersist()
    Array(pinned, report)
  }

  def containmentCandidatesStream(stream: DataFrame, id: Column, text: Column,
                                  eventTimeColumn: String, delayThreshold: String,
                                  shingleSize: Int, window: Int): DataFrame =
    graft.streaming.StreamingContainment.winnowCandidates(
      stream, id, text, eventTimeColumn, delayThreshold, shingleSize, window).toDF()

  def nearDupPairsSimHash(df: DataFrame, id: Column, text: Column,
                          shingleSize: Int, bands: Int, maxHamming: Int,
                          threshold: Double): DataFrame =
    graft.dedup.Dedup.nearDupPairsSimHash(df, id, text, shingleSize, bands, maxHamming, threshold)

  def deduplicateLines(df: DataFrame, id: Column, text: Column,
                       separator: String, outputTextColumn: String): DataFrame =
    graft.dedup.Dedup.deduplicateLines(df, id, text, separator, outputTextColumn)

  def decontaminate(corpus: DataFrame, text: Column,
                    blocklist: DataFrame, blocklistText: Column,
                    shingleSize: Int, minOverlap: Int): DataFrame =
    graft.dedup.Dedup.decontaminate(corpus, text, blocklist, blocklistText,
      shingleSize, minOverlap)

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     queryId: Column, queryVec: Column,
                     corpusId: Column, corpusVec: Column, k: Int): DataFrame =
    graft.ann.Ann.bruteForceTopK(queries, corpus, queryId, queryVec, corpusId, corpusVec, k)

  /** Train a product quantizer; the returned index is an opaque py4j handle
    * to pass back into [[pqTopK]] / [[pqEncode]]. */
  def trainPq(corpus: DataFrame, id: Column, vec: Column,
              dim: Int, m: Int, ksub: Int, iterations: Int): graft.ann.Pq.PqIndex =
    graft.ann.Pq.trainPq(corpus, id, vec, dim, m, ksub, iterations)

  def pqEncode(corpus: DataFrame, id: Column, vec: Column,
               index: graft.ann.Pq.PqIndex): DataFrame =
    graft.ann.Pq.encode(corpus, id, vec, index)

  def pqTopK(queries: DataFrame, corpus: DataFrame,
             queryId: Column, queryVec: Column,
             corpusId: Column, corpusVec: Column,
             index: graft.ann.Pq.PqIndex, k: Int, refine: Int): DataFrame =
    graft.ann.Pq.pqTopK(queries, corpus, queryId, queryVec, corpusId, corpusVec,
      index, k, refine)

  /** The composed IVF×PQ plan (IVFADC); `residual = true` expects an index
    * trained by [[trainPqResidual]]. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                queryId: Column, queryVec: Column,
                corpusId: Column, corpusVec: Column,
                ivf: graft.ann.Ann.IvfIndex, index: graft.ann.Pq.PqIndex,
                k: Int, nprobe: Int, refine: Int, residual: Boolean): DataFrame =
    graft.ann.Pq.ivfPqTopK(queries, corpus, queryId, queryVec, corpusId, corpusVec,
      ivf, index, k, nprobe, refine, residual)

  def trainPqResidual(corpus: DataFrame, id: Column, vec: Column,
                      ivf: graft.ann.Ann.IvfIndex,
                      dim: Int, m: Int, ksub: Int, iterations: Int): graft.ann.Pq.PqIndex =
    graft.ann.Pq.trainPqResidual(corpus, id, vec, ivf, dim, m, ksub, iterations)

  def pqEncodeResidual(corpus: DataFrame, id: Column, vec: Column,
                       ivf: graft.ann.Ann.IvfIndex,
                       index: graft.ann.Pq.PqIndex): DataFrame =
    graft.ann.Pq.encodeResidual(corpus, id, vec, ivf, index)

  def saveAnnIndex(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                   ivf: graft.ann.Ann.IvfIndex, index: graft.ann.Pq.PqIndex,
                   path: String, residual: Boolean): Unit =
    graft.ann.Pq.saveAnnIndex(corpus, corpusId, corpusVec, ivf, index, path, residual)

  def ivfPqTopKIndexed(queries: DataFrame, queryId: Column, queryVec: Column,
                       path: String, k: Int, nprobe: Int, refine: Int): DataFrame =
    graft.ann.Pq.ivfPqTopKIndexed(queries, queryId, queryVec, path, k, nprobe, refine)

  def appendToAnnIndex(batch: DataFrame, id: Column, vec: Column, path: String): Unit =
    graft.ann.Pq.appendToAnnIndex(batch, id, vec, path)

  def bm25TopK(docs: DataFrame, docId: Column, text: Column,
               queries: DataFrame, queryId: Column, queryTerms: Column,
               k: Int, scale: Long): DataFrame =
    graft.text.Bm25.topK(docs, docId, text, queries, queryId, queryTerms, k, scale)

  def trainIvf(corpus: DataFrame, id: Column, vec: Column,
               k: Int, iterations: Int): graft.ann.Ann.IvfIndex =
    graft.ann.Ann.trainIvf(corpus, id, vec, k, iterations)

  def saveIvf(spark: SparkSession, index: graft.ann.Ann.IvfIndex, path: String): Unit =
    graft.ann.Ann.saveIvf(spark, index, path)

  def loadIvf(spark: SparkSession, path: String): graft.ann.Ann.IvfIndex =
    graft.ann.Ann.loadIvf(spark, path)

  def savePq(spark: SparkSession, index: graft.ann.Pq.PqIndex, path: String): Unit =
    graft.ann.Pq.savePq(spark, index, path)

  def loadPq(spark: SparkSession, path: String): graft.ann.Pq.PqIndex =
    graft.ann.Pq.loadPq(spark, path)

  /** OPQ-lite rotation (PCA + eigenvalue allocation); the returned rotation
    * is an opaque py4j handle for [[rotateVec]] / [[trainPqRotated]] /
    * [[pqTopKRotated]]. */
  def trainRotation(corpus: DataFrame, vec: Column, dim: Int, m: Int,
                    center: Boolean): graft.ann.Opq.Rotation =
    graft.ann.Opq.trainRotation(corpus, vec, dim, m, center)

  def rotateVec(vec: Column, rotation: graft.ann.Opq.Rotation): Column =
    graft.ann.Opq.rotate(vec, rotation)

  def trainPqRotated(corpus: DataFrame, id: Column, vec: Column,
                     rotation: graft.ann.Opq.Rotation,
                     dim: Int, m: Int, ksub: Int, iterations: Int): graft.ann.Pq.PqIndex =
    graft.ann.Opq.trainPqRotated(corpus, id, vec, rotation, dim, m, ksub, iterations)

  def pqTopKRotated(queries: DataFrame, corpus: DataFrame,
                    queryId: Column, queryVec: Column,
                    corpusId: Column, corpusVec: Column,
                    rotation: graft.ann.Opq.Rotation, index: graft.ann.Pq.PqIndex,
                    k: Int, refine: Int): DataFrame =
    graft.ann.Opq.pqTopKRotated(queries, corpus, queryId, queryVec,
      corpusId, corpusVec, rotation, index, k, refine)

  def saveRotation(spark: SparkSession, rotation: graft.ann.Opq.Rotation,
                   path: String): Unit =
    graft.ann.Opq.saveRotation(spark, rotation, path)

  def loadRotation(spark: SparkSession, path: String): graft.ann.Opq.Rotation =
    graft.ann.Opq.loadRotation(spark, path)

  def ivfAssign(corpus: DataFrame, id: Column, vec: Column,
                index: graft.ann.Ann.IvfIndex): DataFrame =
    graft.ann.Ann.ivfAssign(corpus, id, vec, index)

  def semanticDupPairs(corpus: DataFrame, id: Column, vec: Column,
                       index: graft.ann.Ann.IvfIndex, threshold: Double,
                       maxClusterSize: Int): DataFrame =
    graft.dedup.SemanticDedup.semanticDupPairs(corpus, id, vec, index,
      threshold, maxClusterSize)

  def deduplicateSemantic(corpus: DataFrame, id: Column, vec: Column,
                          index: graft.ann.Ann.IvfIndex, threshold: Double,
                          maxClusterSize: Int): DataFrame =
    graft.dedup.SemanticDedup.deduplicateSemantic(corpus, id, vec, index,
      threshold, maxClusterSize)

  def deduplicateSemanticKeepDiverse(corpus: DataFrame, id: Column, vec: Column,
                                     index: graft.ann.Ann.IvfIndex, threshold: Double,
                                     maxClusterSize: Int): DataFrame =
    graft.dedup.SemanticDedup.deduplicateSemanticKeepDiverse(corpus, id, vec,
      index, threshold, maxClusterSize)

  def rrfFuse(lists: JList[DataFrame], k: Int, k0: Int, scale: Long): DataFrame =
    graft.search.Retrieval.rrfFuse(lists.asScala.toSeq, k, k0, scale)

  def corpusDrift(before: DataFrame, after: DataFrame,
                  group: Column, text: Column): DataFrame =
    graft.text.CorpusDrift.report(before, after, group, text)

  def contaminationReport(corpus: DataFrame, id: Column, text: Column,
                          blocklist: DataFrame, blocklistText: Column,
                          shingleSize: Int): DataFrame =
    graft.dedup.Dedup.contaminationReport(corpus, id, text, blocklist,
      blocklistText, shingleSize)

  def compactParquet(spark: SparkSession, inputDir: String, outputDir: String,
                     targetFileBytes: Long, shuffle: Boolean): Int =
    graft.write.Compaction.compactParquet(spark, inputDir, outputDir,
      targetFileBytes, shuffle)

  def classifierScore(df: DataFrame, text: Column, weights: JList[Integer],
                      bias: Long, threshold: Long, bigrams: Boolean): DataFrame =
    graft.text.Classifier.score(df, text,
      weights.asScala.map(_.intValue()).toArray, bias, threshold, bigrams)

  def dsirWeightTable(target: DataFrame, raw: DataFrame,
                      targetText: Column, rawText: Column,
                      bigrams: Boolean, portableHash: Boolean): DataFrame =
    graft.text.Dsir.weightTable(target, raw, targetText, rawText, bigrams,
      portableHash)

  def dsirFitWeights(target: DataFrame, raw: DataFrame,
                     targetText: Column, rawText: Column,
                     bigrams: Boolean, portableHash: Boolean): JList[Integer] =
    graft.text.Dsir.fitWeights(target, raw, targetText, rawText, bigrams,
      portableHash).map(Integer.valueOf).toSeq.asJava

  def dsirScore(df: DataFrame, text: Column, weights: JList[Integer],
                bigrams: Boolean, portableHash: Boolean): DataFrame =
    graft.text.Dsir.score(df, text,
      weights.asScala.map(_.intValue()).toArray, bigrams, portableHash)

  def dsirSelectTop(df: DataFrame, id: Column, text: Column,
                    weights: JList[Integer], n: Int, bigrams: Boolean,
                    portableHash: Boolean): DataFrame =
    graft.text.Dsir.selectTop(df, id, text,
      weights.asScala.map(_.intValue()).toArray, n, bigrams, portableHash)

  def dropExactPayloadDuplicates(df: DataFrame, id: Column, payload: Column): DataFrame =
    graft.multimodal.Multimodal.dropExactPayloadDuplicates(df, id, payload)

  def buildBlocklistArtifact(blocklist: DataFrame, text: Column, path: String,
                             shingleSize: Int): Unit =
    graft.dedup.Blocklist.buildArtifact(blocklist, text, path, shingleSize)

  def decontaminateWithArtifact(corpus: DataFrame, text: Column,
                                path: String, shingleSize: Int,
                                minOverlap: Int): DataFrame =
    graft.dedup.Blocklist.decontaminateWithArtifact(corpus, text, path,
      shingleSize, minOverlap)

  /** Checks rules arrive as parallel lists (py4j has no case-class ADTs):
    * ruleTypes in {not_null, in_range, matches_regex, min_rows, unique};
    * p1/p2 carry the numeric parameters (maxNullFraction; min/max;
    * minMatchFraction; minRows), patterns the regex (empty otherwise). */
  def runChecks(df: DataFrame, ruleTypes: JList[String], columns: JList[String],
                p1: JList[java.lang.Double], p2: JList[java.lang.Double],
                patterns: JList[String]): DataFrame = {
    import graft.agg.Checks.Check._
    val rules = ruleTypes.asScala.indices.map { i =>
      ruleTypes.get(i) match {
        case "not_null" => NotNull(columns.get(i), p1.get(i))
        case "in_range" => InRange(columns.get(i), p1.get(i), p2.get(i))
        case "matches_regex" => MatchesRegex(columns.get(i), patterns.get(i), p1.get(i))
        case "min_rows" => MinRows(p1.get(i).toLong)
        case "unique" => Unique(columns.get(i))
        case other => throw new IllegalArgumentException(s"unknown rule type: $other")
      }
    }
    graft.agg.Checks.run(df, rules)
  }

  def keySkewReport(df: DataFrame, key: Column, k: Int): DataFrame =
    graft.agg.Skew.keySkewReport(df, key, k)

  def hllSketches(df: DataFrame, group: Column, item: Column, lgConfigK: Int): DataFrame =
    graft.agg.Profile.hllSketches(df, group, item, lgConfigK)

  def mergeHllSketches(sketches: DataFrame, group: Column, sketch: Column): DataFrame =
    graft.agg.Profile.mergeHllSketches(sketches, group, sketch)

  def vocabTopTokens(docs: DataFrame, text: Column, n: Int): DataFrame =
    graft.text.Vocab.topTokens(docs, text, n)

  def vocabCoverageReport(docs: DataFrame, id: Column, text: Column,
                          vocab: JList[String]): DataFrame =
    graft.text.Vocab.coverageReport(docs, id, text, vocab.asScala.toArray)

  def vocabSelfCoverageReport(docs: DataFrame, id: Column, text: Column,
                              vocabSize: Int): DataFrame =
    graft.text.Vocab.selfCoverageReport(docs, id, text, vocabSize)

  def repeatedSpanStats(docs: DataFrame, id: Column, text: Column,
                        k: Int, minCount: Int): DataFrame =
    graft.text.SpanDedup.repeatedSpanStats(docs, id, text, k, minCount)

  def removeRepeatedSpans(docs: DataFrame, id: Column, text: Column,
                          k: Int, minCount: Int): DataFrame =
    graft.text.SpanDedup.removeRepeatedSpans(docs, id, text, k, minCount)

  def removeRepeatedSpansKeepFirst(docs: DataFrame, id: Column, text: Column,
                                   k: Int, minCount: Int): DataFrame =
    graft.text.SpanDedup.removeRepeatedSpans(docs, id, text, k, minCount,
      keepFirst = true)

  def mixtureInterleave(df: DataFrame, id: Column, source: Column,
                        weights: java.util.Map[String, java.lang.Number],
                        seed: Long, epoch: Long, posColumn: String): DataFrame =
    graft.sample.Sampling.mixtureInterleave(df, id, source,
      weights.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
      seed, epoch, posColumn)

  // --------------------------------------------------------------------------
  // clustering / sampling / redaction (curation surface)
  // --------------------------------------------------------------------------

  def connectedComponents(pairs: DataFrame, idA: Column, idB: Column,
                          maxIterations: Int): DataFrame =
    graft.dedup.Clustering.connectedComponents(pairs, idA, idB, maxIterations)

  def assignClusters(df: DataFrame, id: Column, pairs: DataFrame,
                     clusterColumn: String, maxIterations: Int): DataFrame =
    graft.dedup.Clustering.assignClusters(df, id, pairs, clusterColumn, maxIterations)

  def deduplicateByClusters(df: DataFrame, id: Column, pairs: DataFrame,
                            maxIterations: Int): DataFrame =
    graft.dedup.Clustering.deduplicateByClusters(df, id, pairs, maxIterations)

  def keepBestByClusters(df: DataFrame, id: Column, score: Column,
                         pairs: DataFrame, maxIterations: Int): DataFrame =
    graft.dedup.Clustering.keepBestByClusters(df, id, score, pairs, maxIterations)

  def deduplicateMinHashClusters(df: DataFrame, id: Column, text: Column,
                                 shingleSize: Int, bands: Int, rowsPerBand: Int,
                                 threshold: Double): DataFrame =
    graft.dedup.Clustering.deduplicateMinHashClusters(
      df, id, text, shingleSize, bands, rowsPerBand, threshold)

  def splitByClusters(df: DataFrame, id: Column, pairs: DataFrame,
                      names: JList[String], weights: JList[java.lang.Double],
                      salt: String, outputColumn: String, clusterColumn: String,
                      maxIterations: Int): DataFrame =
    graft.dedup.Clustering.splitByClusters(df, id, pairs,
      names.asScala.toSeq.zip(weights.asScala.toSeq.map(_.doubleValue())),
      salt, outputColumn, clusterColumn, maxIterations)

  def softDedupWeights(df: DataFrame, id: Column, pairs: DataFrame,
                       alpha: Double, weightColumn: String, clusterColumn: String,
                       maxIterations: Int): DataFrame =
    graft.dedup.Clustering.softDedupWeights(df, id, pairs, alpha,
      weightColumn, clusterColumn, maxIterations)

  def hashSample(df: DataFrame, key: Column, rate: Double, salt: String): DataFrame =
    graft.sample.Sampling.hashSample(df, key, rate, salt)

  def weightedHashSample(df: DataFrame, key: Column, weight: Column,
                         rate: Double, salt: String): DataFrame =
    graft.sample.Sampling.weightedHashSample(df, key, weight, rate, salt)

  def epochShuffle(df: DataFrame, id: Column, seed: Long, epoch: Long,
                   positionColumn: String): DataFrame =
    graft.sample.Sampling.epochShuffle(df, id, seed, epoch, positionColumn)

  def epochShards(df: DataFrame, id: Column, seed: Long, epoch: Long,
                  numShards: Int, shardColumn: String, posColumn: String): DataFrame =
    graft.sample.Sampling.epochShards(df, id, seed, epoch, numShards,
      shardColumn, posColumn)

  def lengthBucketBatches(df: DataFrame, id: Column, nTokens: Column,
                          batchSize: Int, seed: Long): DataFrame =
    graft.sample.Sampling.lengthBucketBatches(df, id, nTokens, batchSize, seed)

  def embeddingOutliers(corpus: DataFrame, id: Column, vec: Column,
                        ivf: graft.ann.Ann.IvfIndex, quantile: Double): DataFrame =
    graft.ann.Ann.embeddingOutliers(corpus, id, vec, ivf, quantile)

  def withLateness(df: DataFrame, arrival: Column, eventTime: Column,
                   outputColumn: String): DataFrame =
    graft.events.Lateness.withLateness(df, arrival, eventTime, outputColumn)

  def streamingLatenessByWindow(stream: DataFrame, eventTimeColumn: String,
                                ingestTime: Column, windowDuration: String,
                                watermarkDelay: String,
                                delaysSeconds: java.util.List[java.lang.Number]): DataFrame =
    graft.streaming.StreamingLateness.latenessByWindow(
      stream, eventTimeColumn, ingestTime, windowDuration, watermarkDelay,
      delaysSeconds.asScala.map(_.longValue()).toSeq)

  def watermarkPlan(df: DataFrame, arrival: Column, eventTime: Column,
                    delaysSeconds: java.util.List[java.lang.Number]): DataFrame =
    graft.events.Lateness.watermarkPlan(df, arrival, eventTime,
      delaysSeconds.asScala.map(_.longValue()).toSeq)

  def stratifiedHashSample(df: DataFrame, strata: Column, key: Column,
                           rates: java.util.Map[String, java.lang.Double],
                           defaultRate: Double, salt: String): DataFrame =
    graft.sample.Sampling.stratifiedHashSample(
      df, strata, key,
      rates.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap,
      defaultRate, salt)

  def temperatureSample(df: DataFrame, domain: Column, key: Column,
                        alpha: Double, salt: String): DataFrame =
    graft.sample.Sampling.temperatureSample(df, domain, key, alpha, salt)

  def splitByHash(df: DataFrame, key: Column, names: JList[String],
                  weights: JList[java.lang.Double], salt: String,
                  outputColumn: String): DataFrame =
    graft.sample.Sampling.splitByHash(df, key,
      names.asScala.toSeq.zip(weights.asScala.toSeq.map(_.doubleValue())),
      salt, outputColumn)

  def sampleKPerGroup(df: DataFrame, groupCols: JList[Column], key: Column,
                      k: Int, salt: String, rankColumn: String): DataFrame =
    graft.sample.Sampling.sampleKPerGroup(df, groupCols.asScala.toSeq, key, k, salt, rankColumn)

  def tokenBudgetSample(df: DataFrame, strata: Column, key: Column, weight: Column,
                        budget: Long, salt: String): DataFrame =
    graft.sample.Sampling.tokenBudgetSample(df, strata, key, weight, budget, salt)

  def gopherFilter(df: DataFrame, text: Column, minTokens: Int, maxTokens: Int,
                   minAvgTokenLen: Double, maxAvgTokenLen: Double,
                   minStopwordRatio: Double, maxTopBigramFraction: Double): DataFrame =
    graft.text.QualityFilters.gopherFilter(df, text, minTokens, maxTokens,
      minAvgTokenLen, maxAvgTokenLen, minStopwordRatio, maxTopBigramFraction)

  def redactPii(c: Column, token: String): Column = graft.text.Redact.redactPii(c, token)

  def stripHtml(c: Column): Column = graft.text.Html.stripHtml(c)

  def stripHtmlDecoded(c: Column, decodeNumericEntities: Boolean,
                       decodeNamedEntities: Boolean): Column =
    graft.text.Html.stripHtml(c, decodeNumericEntities, decodeNamedEntities)

  def decodeNumericEntities(c: Column): Column =
    graft.functions.vectors.decode_numeric_entities(c)

  def decodeHtmlEntities(c: Column): Column =
    graft.functions.vectors.decode_html_entities(c)

  def fixMojibake(c: Column): Column =
    graft.functions.vectors.fix_mojibake(c)

  def dehyphenate(c: Column): Column =
    graft.functions.vectors.dehyphenate(c)

  def redactValidCards(c: Column, token: String): Column =
    graft.functions.vectors.redact_valid_cards(c, token)

  def validCardCount(c: Column): Column =
    graft.functions.vectors.valid_card_count(c)

  def soundex4(c: Column): Column =
    graft.functions.vectors.soundex4(c)

  def jaroWinklerFp(a: Column, b: Column): Column =
    graft.functions.vectors.jaro_winkler_fp(a, b)

  def linkRecords(left: DataFrame, right: DataFrame,
                  idLeft: Column, nameLeft: Column,
                  idRight: Column, nameRight: Column,
                  minScoreFp: java.lang.Number,
                  maxBlockPairs: java.lang.Number,
                  extraBlockLeft: java.util.List[Column],
                  extraBlockRight: java.util.List[Column]): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.join.Linkage.linkRecords(left, right, idLeft, nameLeft,
      idRight, nameRight, minScoreFp.longValue(), maxBlockPairs.longValue(),
      extraBlockLeft = extraBlockLeft.asScala.toSeq,
      extraBlockRight = extraBlockRight.asScala.toSeq)
  }

  def foreignKeyCheck(df: DataFrame, column: String,
                      ref: DataFrame, refColumn: String): DataFrame =
    graft.agg.Checks.run(df,
      Seq(graft.agg.Checks.Check.ForeignKey(column, ref, refColumn)))

  def chatParseTurns(c: Column): Column =
    graft.text.Chat.parseTurns(c)

  def chatStats(df: DataFrame, id: Column, text: Column): DataFrame =
    graft.text.Chat.chatStats(df, id, text)

  def chatExplodeTurns(df: DataFrame, id: Column, text: Column): DataFrame =
    graft.text.Chat.explodeTurns(df, id, text)

  def chatParseMessages(c: Column): Column =
    graft.text.Chat.parseMessages(c)

  def chatStatsMessages(df: DataFrame, id: Column, json: Column): DataFrame =
    graft.text.Chat.chatStatsMessages(df, id, json)

  def chatExplodeMessages(df: DataFrame, id: Column, json: Column): DataFrame =
    graft.text.Chat.explodeMessages(df, id, json)

  def chatTruncateMessagesToBudget(df: DataFrame, id: Column, json: Column,
                                   budget: java.lang.Number): DataFrame =
    graft.text.Chat.truncateMessagesToBudget(df, id, json, budget.longValue())

  def chatTruncateToBudget(df: DataFrame, id: Column, text: Column,
                           budget: java.lang.Number): DataFrame =
    graft.text.Chat.truncateToBudget(df, id, text, budget.longValue())

  private def funnelAnchor(perStepWindow: java.lang.Boolean) =
    if (perStepWindow.booleanValue()) graft.events.Funnel.AnchorPreviousStep
    else graft.events.Funnel.AnchorFirstStep

  def funnelTimes(events: DataFrame, user: Column, tsUs: Column, etype: Column,
                  steps: JList[String], windowUs: java.lang.Number,
                  perStepWindow: java.lang.Boolean): DataFrame =
    graft.events.Funnel.funnelTimes(events, user, tsUs, etype,
      steps.asScala.toSeq, windowUs.longValue(), funnelAnchor(perStepWindow))

  def funnelReport(events: DataFrame, user: Column, tsUs: Column, etype: Column,
                   steps: JList[String], windowUs: java.lang.Number,
                   perStepWindow: java.lang.Boolean): DataFrame =
    graft.events.Funnel.funnelReport(events, user, tsUs, etype,
      steps.asScala.toSeq, windowUs.longValue(), funnelAnchor(perStepWindow))

  def funnelStepTimes(events: DataFrame, user: Column, tsUs: Column, etype: Column,
                      steps: JList[String], windowUs: java.lang.Number,
                      perStepWindow: java.lang.Boolean): DataFrame =
    graft.events.Funnel.funnelStepTimes(events, user, tsUs, etype,
      steps.asScala.toSeq, windowUs.longValue(), funnelAnchor(perStepWindow))

  def funnelLags(events: DataFrame, user: Column, tsUs: Column, etype: Column,
                 steps: JList[String], windowUs: java.lang.Number,
                 perStepWindow: java.lang.Boolean): DataFrame =
    graft.events.Funnel.funnelLags(events, user, tsUs, etype,
      steps.asScala.toSeq, windowUs.longValue(), funnelAnchor(perStepWindow))

  def retentionCohorts(events: DataFrame, user: Column, tsUs: Column,
                       periodUs: java.lang.Number): DataFrame =
    graft.events.Funnel.retentionCohorts(events, user, tsUs, periodUs.longValue())

  def transitionMatrix(events: DataFrame, user: Column, tsUs: Column,
                       eventId: Column, etype: Column): DataFrame =
    graft.events.Funnel.transitionMatrix(events, user, tsUs, eventId, etype)

  def transitionMatrixExcluded(events: DataFrame, user: Column, tsUs: Column,
                               eventId: Column): DataFrame =
    graft.events.Funnel.transitionMatrixExcluded(events, user, tsUs, eventId)

  def retentionCohortsApprox(events: DataFrame, user: Column, tsUs: Column,
                             periodUs: java.lang.Number,
                             lgConfigK: Int): DataFrame =
    graft.events.Funnel.retentionCohortsApprox(events, user, tsUs,
      periodUs.longValue(), lgConfigK)

  def streamingFunnelProgress(df: DataFrame, user: Column,
                              eventTimeColumn: String, etype: Column,
                              steps: JList[String], windowUs: java.lang.Number,
                              perStepWindow: java.lang.Boolean,
                              watermarkDelay: String): DataFrame =
    graft.streaming.StreamingFunnel.funnelProgress(df, user, eventTimeColumn,
      etype, steps.asScala.toSeq, windowUs.longValue(),
      funnelAnchor(perStepWindow), watermarkDelay).toDF()

  def chatRenderTemplate(text: Column, endMarker: String,
                         invalidMarker: String): Column =
    graft.text.Chat.renderTemplate(text, endMarker, invalidMarker)

  def chatRenderMessagesTemplate(json: Column, endMarker: String,
                                 invalidMarker: String): Column =
    graft.text.Chat.renderMessagesTemplate(json, endMarker, invalidMarker)

  def chatTemplateSpecials(endMarker: String,
                           invalidMarker: String): JList[String] = {
    import scala.jdk.CollectionConverters._
    graft.text.Chat.templateSpecials(endMarker, invalidMarker).asJava
  }

  def streamingRetentionHits(df: DataFrame, user: Column,
                             eventTimeColumn: String,
                             periodUs: java.lang.Number, horizon: Int,
                             watermarkDelay: String): DataFrame =
    graft.streaming.StreamingRetention.retentionHits(df, user,
      eventTimeColumn, periodUs.longValue(), horizon, watermarkDelay).toDF()

  def conversationNearDupPairs(df: DataFrame, id: Column, text: Column,
                               shingleSize: Int, bands: Int, rowsPerBand: Int,
                               threshold: java.lang.Number,
                               maxBucketSize: Int): DataFrame =
    graft.text.Chat.conversationNearDupPairs(df, id, text, shingleSize,
      bands, rowsPerBand, threshold.doubleValue(), maxBucketSize)

  def conversationNearDupPairsMessages(df: DataFrame, id: Column, json: Column,
                                       shingleSize: Int, bands: Int,
                                       rowsPerBand: Int,
                                       threshold: java.lang.Number,
                                       maxBucketSize: Int): DataFrame =
    graft.text.Chat.conversationNearDupPairsMessages(df, id, json,
      shingleSize, bands, rowsPerBand, threshold.doubleValue(), maxBucketSize)

  def withTemporalSplit(df: DataFrame, tsUs: Column,
                        bounds: JList[java.lang.Number], names: JList[String],
                        embargoUs: java.lang.Number, outputColumn: String): DataFrame =
    graft.sample.Sampling.withTemporalSplit(df, tsUs,
      bounds.asScala.map(_.longValue()).toSeq, names.asScala.toSeq,
      embargoUs.longValue(), outputColumn)

  def layoutReport(spark: org.apache.spark.sql.SparkSession,
                   dirs: JList[String], targetFileBytes: java.lang.Number): DataFrame =
    graft.write.Compaction.layoutReport(spark, dirs.asScala.toSeq,
      targetFileBytes.longValue())

  def cdcChunks(c: Column, avgBits: Int, minSize: Int, maxSize: Int): Column =
    graft.multimodal.Cdc.cdcChunks(c, avgBits, minSize, maxSize)

  def chunkDedupReport(df: DataFrame, payload: Column,
                       avgBits: Int, minSize: Int, maxSize: Int): DataFrame =
    graft.multimodal.Cdc.chunkDedupReport(df, payload, avgBits, minSize, maxSize)

  def payloadNearDupPairs(df: DataFrame, id: Column, payload: Column,
                          minSharedBytes: Long, minContainment: Double,
                          maxChunkCopies: Int, avgBits: Int,
                          minSize: Int, maxSize: Int): DataFrame =
    graft.multimodal.Cdc.payloadNearDupPairs(df, id, payload, minSharedBytes,
      minContainment, maxChunkCopies, avgBits, minSize, maxSize)

  // --------------------------------------------------------------------------
  // streaming replay harness + streaming dedup
  // --------------------------------------------------------------------------

  /** [[graft.streaming.StreamHarness.writeOrderedBatches]]; returns the
    * written schema as JSON for [[readOrderedBatches]]. */
  def writeOrderedBatches(df: DataFrame, batchCol: Column, numBatches: Int,
                          dir: String): String =
    graft.streaming.StreamHarness.writeOrderedBatches(df, batchCol, numBatches, dir).json

  def readOrderedBatches(spark: SparkSession, dir: String, schemaJson: String): DataFrame =
    graft.streaming.StreamHarness.readOrderedBatches(spark, dir,
      DataType.fromJson(schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType])

  def drainToParquet(stream: DataFrame, sinkDir: String, checkpointDir: String,
                     awaitNoDataBatch: Boolean): DataFrame =
    graft.streaming.StreamHarness.drainToParquet(stream, sinkDir, checkpointDir,
      awaitNoDataBatch)

  def dropDuplicateTextsWithinWatermark(stream: DataFrame, text: Column,
                                        eventTimeColumn: String,
                                        delayThreshold: String): DataFrame =
    graft.streaming.StreamingDedup.dropDuplicateTextsWithinWatermark(
      stream, text, eventTimeColumn, delayThreshold)

  // --------------------------------------------------------------------------
  // BPE tokenizer
  // --------------------------------------------------------------------------

  def canonicalizeUrl(c: Column): Column = graft.text.Urls.canonicalizeUrl(c)

  def urlHost(c: Column): Column = graft.text.Urls.urlHost(c)

  def registrableDomain(c: Column): Column = graft.text.Urls.registrableDomain(c)

  def dedupByCanonicalUrl(df: DataFrame, id: Column, url: Column): DataFrame =
    graft.text.Urls.dedupByCanonicalUrl(df, id, url)

  def domainStats(df: DataFrame, url: Column): DataFrame =
    graft.text.Urls.domainStats(df, url)

  def capPerDomain(df: DataFrame, id: Column, url: Column, maxPerDomain: Int,
                   salt: String): DataFrame =
    graft.text.Urls.capPerDomain(df, id, url, maxPerDomain, salt)

  def removeBoilerplateLines(df: DataFrame, id: Column, text: Column, minDocs: Int,
                             separator: String, outputTextColumn: String): DataFrame =
    graft.dedup.Dedup.removeBoilerplateLines(df, id, text, minDocs, separator,
      outputTextColumn)

  def kmvSketch(df: DataFrame, value: Column, k: Int): DataFrame =
    graft.dedup.CorpusOverlap.kmvSketch(df, value, k)

  def winnowedShingles(text: Column, n: Int, w: Int): Column =
    graft.functions.winnow.winnowed_shingles(text, n, w)

  def containmentPairs(df: DataFrame, id: Column, text: Column,
                       shingleSize: Int, window: Int, threshold: Double,
                       minShingles: Int, maxPrintBucket: Int): DataFrame =
    graft.dedup.Containment.containmentPairs(df, id, text, shingleSize, window,
      threshold, minShingles, maxPrintBucket)

  def mergeKmvSketches(sketches: DataFrame, sketchCol: Column, k: Int): DataFrame =
    graft.dedup.CorpusOverlap.mergeKmvSketches(sketches, sketchCol, k)

  def joinSizeEstimate(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
                       k: Int, exactTopN: Int): DataFrame =
    graft.dedup.CorpusOverlap.joinSizeEstimate(a, aKey, b, bKey, k, exactTopN)

  def kmvOverlapEstimate(a: DataFrame, aValue: Column, b: DataFrame,
                         bValue: Column, k: Int): DataFrame =
    graft.dedup.CorpusOverlap.overlapEstimate(a, aValue, b, bValue, k)

  def kmvDistinctEstimate(sketch: Column, k: Int): Column =
    graft.dedup.CorpusOverlap.distinctEstimate(sketch, k)

  def resampleToMixture(df: DataFrame, domain: Column,
                        targets: java.util.Map[String, java.lang.Double],
                        key: Column, salt: String): DataFrame =
    graft.sample.Sampling.resampleToMixture(
      df, domain,
      targets.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap,
      key, salt)

  def repeatToTokenBudget(df: DataFrame, domain: Column, nTokens: Column,
                          key: Column, shares: java.util.Map[String, java.lang.Double],
                          budget: Long, maxEpochs: Int, salt: String): DataFrame =
    graft.sample.Sampling.repeatToTokenBudget(
      df, domain, nTokens, key,
      shares.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap,
      budget, maxEpochs, salt)

  def weightedSampleTopK(df: DataFrame, key: Column, weight: Column,
                         k: Int, salt: String): DataFrame =
    graft.sample.Sampling.weightedSampleTopK(df, key, weight, k, salt)

  def curriculumOrder(df: DataFrame, id: Column, score: Column,
                      bands: Int, salt: String): DataFrame =
    graft.sample.Curriculum.curriculumOrder(df, id, score, bands, salt)

  def curriculumOrder(df: DataFrame, id: Column, score: Column,
                      bands: Int, salt: String,
                      bandCol: String, orderCol: String): DataFrame =
    graft.sample.Curriculum.curriculumOrder(df, id, score, bands, salt,
      bandCol, orderCol)

  def schemaDiffDirs(spark: SparkSession, leftDir: String,
                     rightDir: String): DataFrame =
    graft.diff.SchemaDiff.schemaDiffDirs(spark, leftDir, rightDir)

  def splitSentences(text: Column): Column =
    graft.text.Sentences.splitSentences(text)

  def chunkBySentences(df: DataFrame, id: Column, text: Column,
                       tokenBudget: Int): DataFrame =
    graft.text.Sentences.chunkBySentences(df, id, text, tokenBudget)

  def chunkBySentences(df: DataFrame, id: Column, text: Column,
                       tokenBudget: Int, idName: String): DataFrame =
    graft.text.Sentences.chunkBySentences(df, id, text, tokenBudget, idName)

  def bpeTrain(corpus: DataFrame, text: Column, numMerges: Int,
               maxWords: Int, minFreq: Long): graft.text.Bpe.BpeModel =
    graft.text.Bpe.train(corpus, text, numMerges, maxWords, minFreq)

  def bpeEncode(c: Column, model: graft.text.Bpe.BpeModel): Column =
    graft.text.Bpe.encode(c, model)

  def bpeTokenCount(c: Column, model: graft.text.Bpe.BpeModel): Column =
    graft.text.Bpe.tokenCount(c, model)

  def saveBpe(spark: SparkSession, model: graft.text.Bpe.BpeModel, path: String): Unit =
    graft.text.Bpe.saveBpe(spark, model, path)

  def loadBpe(spark: SparkSession, path: String): graft.text.Bpe.BpeModel =
    graft.text.Bpe.loadBpe(spark, path)

  def byteBpeTrain(corpus: DataFrame, text: Column, numMerges: Int,
                   maxWords: Int, minFreq: Long): graft.text.ByteBpe.ByteBpeModel =
    graft.text.ByteBpe.train(corpus, text, numMerges, maxWords, minFreq)

  def byteBpeEncode(c: Column, model: graft.text.ByteBpe.ByteBpeModel): Column =
    graft.text.ByteBpe.encode(c, model)

  def byteBpeDecode(tokens: Column): Column = graft.text.ByteBpe.decode(tokens)

  def byteBpeEncodeIds(c: Column, model: graft.text.ByteBpe.ByteBpeModel): Column =
    graft.text.ByteBpe.encodeIds(c, model)

  def byteBpeDecodeIds(ids: Column, model: graft.text.ByteBpe.ByteBpeModel): Column =
    graft.text.ByteBpe.decodeIds(ids, model)

  def byteBpeVocabSize(model: graft.text.ByteBpe.ByteBpeModel): Int =
    graft.text.ByteBpe.vocabSize(model)

  def byteBpeEncodeIdsSpecial(c: Column, model: graft.text.ByteBpe.ByteBpeModel,
                              specials: JList[String]): Column =
    graft.text.ByteBpe.encodeIds(c, model, specials.asScala.toSeq)

  def byteBpeDecodeIdsSpecial(ids: Column, model: graft.text.ByteBpe.ByteBpeModel,
                              specials: JList[String]): Column =
    graft.text.ByteBpe.decodeIds(ids, model, specials.asScala.toSeq)

  def packTokenIds(df: DataFrame, ids: Column, order: JList[Column],
                   capacity: Int, sepId: Int): DataFrame =
    graft.text.Packing.packTokenIds(df, ids, order.asScala.toSeq,
      capacity, sepId)

  def unpackTokenIds(packed: DataFrame, capacity: Int, sepId: Int): DataFrame =
    graft.text.Packing.unpackTokenIds(packed, capacity, sepId)

  def saveByteBpeVocab(spark: SparkSession,
                       model: graft.text.ByteBpe.ByteBpeModel,
                       path: String): Unit =
    graft.text.ByteBpe.saveVocab(spark, model, path)

  def bpeDecode(tokens: Column): Column = graft.text.Bpe.decode(tokens)

  def wordPieceDecode(tokens: Column): Column =
    graft.text.WordPiece.decode(tokens)

  def unigramDecode(tokens: Column): Column = graft.text.Unigram.decode(tokens)

  def byteBpeTokenCount(c: Column, model: graft.text.ByteBpe.ByteBpeModel): Column =
    graft.text.ByteBpe.tokenCount(c, model)

  def saveByteBpe(spark: SparkSession, model: graft.text.ByteBpe.ByteBpeModel,
                  path: String): Unit =
    graft.text.ByteBpe.saveByteBpe(spark, model, path)

  def loadByteBpe(spark: SparkSession, path: String): graft.text.ByteBpe.ByteBpeModel =
    graft.text.ByteBpe.loadByteBpe(spark, path)

  def chatTruncateToBudgetByteBpe(df: DataFrame, id: Column, text: Column,
                                  budget: java.lang.Number,
                                  model: graft.text.ByteBpe.ByteBpeModel): DataFrame =
    graft.text.Chat.truncateToBudgetCounted(df, id, text, budget.longValue(),
      graft.text.ByteBpe.tokenCount(_, model))

  def tokenizerFertility(df: DataFrame, group: Column, text: Column,
                         names: JList[String],
                         counts: JList[Column]): DataFrame = {
    val cs = names.asScala.toSeq.zip(counts.asScala.toSeq)
      .map { case (n, c) => n -> ((_: Column) => c) }
    graft.text.CorpusStats.tokenizerFertility(df, group, text, cs)
  }

  def chatRebuildTranscript(df: DataFrame, id: Column, text: Column,
                            budget: java.lang.Number): DataFrame =
    graft.text.Chat.rebuildTranscript(df, id, text, budget.longValue())

  def chatRebuildMessages(df: DataFrame, id: Column, json: Column,
                          budget: java.lang.Number): DataFrame =
    graft.text.Chat.rebuildMessages(df, id, json, budget.longValue())

  def chatTruncateMessagesToBudgetByteBpe(
      df: DataFrame, id: Column, json: Column, budget: java.lang.Number,
      model: graft.text.ByteBpe.ByteBpeModel): DataFrame =
    graft.text.Chat.truncateMessagesToBudgetCounted(df, id, json,
      budget.longValue(), graft.text.ByteBpe.tokenCount(_, model))

  def wordPieceTrain(corpus: DataFrame, text: Column, vocabSize: Int,
                     maxPieceLen: Int, maxWords: Int,
                     minFreq: Long): graft.text.WordPiece.WordPieceModel =
    graft.text.WordPiece.train(corpus, text, vocabSize, maxPieceLen,
      maxWords, minFreq)

  def wordPieceEncode(c: Column,
                      model: graft.text.WordPiece.WordPieceModel): Column =
    graft.text.WordPiece.encode(c, model)

  def wordPieceTokenCount(c: Column,
                          model: graft.text.WordPiece.WordPieceModel): Column =
    graft.text.WordPiece.tokenCount(c, model)

  def saveWordPiece(spark: SparkSession,
                    model: graft.text.WordPiece.WordPieceModel,
                    path: String): Unit =
    graft.text.WordPiece.saveWordPiece(spark, model, path)

  def loadWordPiece(spark: SparkSession,
                    path: String): graft.text.WordPiece.WordPieceModel =
    graft.text.WordPiece.loadWordPiece(spark, path)

  def unigramTrain(corpus: DataFrame, text: Column, vocabSize: Int,
                   maxPieceLen: Int, seedSize: Int, emIterations: Int,
                   maxWords: Int,
                   minFreq: Long): graft.text.Unigram.UnigramModel =
    graft.text.Unigram.train(corpus, text, vocabSize, maxPieceLen, seedSize,
      emIterations, maxWords, minFreq)

  def unigramEncode(c: Column,
                    model: graft.text.Unigram.UnigramModel): Column =
    graft.text.Unigram.encode(c, model)

  def unigramTokenCount(c: Column,
                        model: graft.text.Unigram.UnigramModel): Column =
    graft.text.Unigram.tokenCount(c, model)

  def saveUnigram(spark: SparkSession,
                  model: graft.text.Unigram.UnigramModel,
                  path: String): Unit =
    graft.text.Unigram.saveUnigram(spark, model, path)

  def loadUnigram(spark: SparkSession,
                  path: String): graft.text.Unigram.UnigramModel =
    graft.text.Unigram.loadUnigram(spark, path)

  def streamingTopKeysPerWindow(df: DataFrame, key: Column,
                                eventTimeColumn: String, windowDuration: String,
                                watermarkDelay: String, k: Int,
                                capacity: Int): DataFrame =
    graft.streaming.StreamingTopK.topKeysPerWindow(df, key, eventTimeColumn,
      windowDuration, watermarkDelay, k, capacity).toDF()

  def jsonlReadValidated(spark: SparkSession, path: String, ddl: String): DataFrame =
    graft.sources.Jsonl.readValidated(spark, path,
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  def jsonlParseLines(df: DataFrame, line: Column, ddl: String): DataFrame =
    graft.sources.Jsonl.parseLines(df, line,
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  def jsonlGood(df: DataFrame): DataFrame = graft.sources.Jsonl.good(df)

  def jsonlQuarantine(df: DataFrame): DataFrame =
    graft.sources.Jsonl.quarantine(df)

  def csvReadValidated(spark: SparkSession, path: String, ddl: String,
                       options: java.util.Map[String, String]): DataFrame =
    graft.sources.Csvl.readValidated(spark, path,
      org.apache.spark.sql.types.StructType.fromDDL(ddl),
      options.asScala.toMap)

  def csvParseLines(df: DataFrame, line: Column, ddl: String,
                    options: java.util.Map[String, String]): DataFrame =
    graft.sources.Csvl.parseLines(df, line,
      org.apache.spark.sql.types.StructType.fromDDL(ddl),
      options.asScala.toMap)

  def foldAccents(c: Column): Column = graft.text.TextFunctions.foldAccents(c)

  def scriptProfile(c: Column): Column = graft.functions.vectors.script_profile(c)

  def matchedPatterns(c: Column, patterns: JList[String]): Column =
    graft.functions.vectors.matched_patterns(c, patterns.asScala.toSeq)

  def maskPatterns(c: Column, patterns: JList[String], mask: String): Column =
    graft.functions.vectors.mask_patterns(c, patterns.asScala.toSeq, mask)

  def extractUrls(c: Column): Column = graft.text.Urls.extractUrls(c)

  def readabilityStats(c: Column): Column =
    graft.text.TextFunctions.readabilityStats(c)

  def fleschScore(c: Column): Column = graft.text.TextFunctions.fleschScore(c)

  def withLinkStats(df: DataFrame, text: Column): DataFrame =
    graft.text.Urls.withLinkStats(df, text)

  def redactEmails(c: Column, token: String): Column = graft.text.Redact.redactEmails(c, token)

  def redactIpv4(c: Column, token: String): Column = graft.text.Redact.redactIpv4(c, token)

  def redactLongDigits(c: Column, token: String): Column =
    graft.text.Redact.redactLongDigits(c, token)

  // --------------------------------------------------------------------------
  // temporal operators
  // --------------------------------------------------------------------------

  def asofJoin(left: DataFrame, right: DataFrame, keys: JList[String],
               leftTsCol: String, rightTsCol: String, rightPayload: JList[String],
               prefix: String, tolerance: Column, direction: String,
               timeBucketWidth: java.lang.Double): DataFrame =
    graft.join.Joins.asofJoin(left, right, keys.asScala.toSeq, leftTsCol, rightTsCol,
      rightPayload.asScala.toSeq, prefix, Option(tolerance), direction,
      Option(timeBucketWidth).map(w =>
        (ts: Column) => org.apache.spark.sql.functions.floor(
          ts / org.apache.spark.sql.functions.lit(w.doubleValue()))))

  def rangeJoin(points: DataFrame, pointCol: String, intervals: DataFrame,
                loCol: String, hiCol: String, binWidth: Double,
                keys: JList[String]): DataFrame =
    graft.join.Joins.rangeJoin(points, pointCol, intervals, loCol, hiCol, binWidth,
      keys.asScala.toSeq)

  def withSessionIndex(df: DataFrame, key: Column, ts: Column, gap: Column,
                       sessionColumn: String): DataFrame =
    graft.events.Sessionize.withSessionIndex(df, key, ts, gap, sessionColumn)

  def sessionBounds(df: DataFrame, key: Column, ts: Column, gap: Column): DataFrame =
    graft.events.Sessionize.sessionBounds(df, key, ts, gap)

  // --------------------------------------------------------------------------
  // aggregation / profiling / quality scoring
  // --------------------------------------------------------------------------

  def topKPerGroup(df: DataFrame, groupCols: JList[Column], orderCols: JList[Column],
                   k: Int, rankColumn: String): DataFrame =
    graft.agg.TopK.topKPerGroup(df, groupCols.asScala.toSeq, orderCols.asScala.toSeq,
      k, rankColumn)

  def frequentItems(df: DataFrame, itemCol: Column, minSupport: Double,
                    capacity: Int): DataFrame =
    graft.agg.FrequentItems.frequentItems(df, itemCol, minSupport, capacity)

  def profileColumns(df: DataFrame, columns: JList[String], exactDistinct: Boolean): DataFrame =
    graft.agg.Profile.profileColumns(df, columns.asScala.toSeq, exactDistinct)

  def distinctCountGate(df: DataFrame, groupCol: Column, itemCol: Column,
                        tolerance: Double): DataFrame =
    graft.agg.Profile.distinctCountGate(df, groupCol, itemCol, tolerance)

  def quantileGate(df: DataFrame, groupCol: Column, valueCol: Column, q: Double,
                   accuracy: Int, tolerance: Double): DataFrame =
    graft.agg.Profile.quantileGate(df, groupCol, valueCol, q, accuracy, tolerance)

  def tfidfTerms(df: DataFrame, group: Column, text: Column, k: Int,
                 rankColumn: String): DataFrame =
    graft.text.CorpusStats.tfidfTerms(df, group, text, k, rankColumn)

  def noveltyProfile(df: DataFrame, id: Column, text: Column, n: Int,
                     minDocFreq: Int, hashed: Boolean): DataFrame =
    graft.text.CorpusStats.noveltyProfile(df, id, text, n, minDocFreq, hashed)

  def duplicateGramMass(df: DataFrame, text: Column, n: Int,
                        minDocFreq: Int, hashed: Boolean): DataFrame =
    graft.text.CorpusStats.duplicateGramMass(df, text, n, minDocFreq, hashed)

  def topFractionPerGroup(df: DataFrame, groupCols: JList[Column],
                          orderCols: JList[Column], fraction: Double,
                          rankColumn: String): DataFrame =
    graft.agg.TopK.topFractionPerGroup(
      df, groupCols.asScala.toSeq, orderCols.asScala.toSeq, fraction, rankColumn)

  def approxTopFractionPerGroup(df: DataFrame, groupCols: JList[Column],
                                score: Column, fraction: Double,
                                accuracy: Int): DataFrame =
    graft.agg.TopK.approxTopFractionPerGroup(
      df, groupCols.asScala.toSeq, score, fraction, accuracy)

  def nearDupPairsMinHashAgainst(corpus: DataFrame, reference: DataFrame,
                                 id: Column, text: Column, shingleSize: Int,
                                 bands: Int, rowsPerBand: Int,
                                 threshold: Double): DataFrame =
    graft.dedup.Dedup.nearDupPairsMinHashAgainst(corpus, reference, id, text,
      shingleSize, bands, rowsPerBand, threshold)

  def saveDedupIndex(df: DataFrame, id: Column, text: Column, path: String,
                     shingleSize: Int, bands: Int, rowsPerBand: Int,
                     maxBucketSize: Int): Unit =
    graft.dedup.DedupIndex.saveDedupIndex(df, id, text, path, shingleSize,
      bands, rowsPerBand, maxBucketSize)

  def appendToDedupIndex(df: DataFrame, id: Column, text: Column,
                         path: String): Unit =
    graft.dedup.DedupIndex.appendToDedupIndex(df, id, text, path)

  def nearDupPairsAgainstIndex(corpus: DataFrame, id: Column, text: Column,
                               path: String, threshold: Double,
                               maxBucketSize: Int): DataFrame =
    graft.dedup.DedupIndex.nearDupPairsAgainstIndex(corpus, id, text, path,
      threshold, maxBucketSize)

  def deduplicateAgainstIndex(corpus: DataFrame, id: Column, text: Column,
                              path: String, threshold: Double,
                              maxBucketSize: Int): DataFrame =
    graft.dedup.DedupIndex.deduplicateAgainstIndex(corpus, id, text, path,
      threshold, maxBucketSize)

  def deduplicateAgainst(corpus: DataFrame, reference: DataFrame,
                         id: Column, text: Column, shingleSize: Int,
                         bands: Int, rowsPerBand: Int, threshold: Double): DataFrame =
    graft.dedup.Dedup.deduplicateAgainst(corpus, reference, id, text,
      shingleSize, bands, rowsPerBand, threshold)

  def deflateLength(c: Column, level: Int): Column =
    graft.functions.compression.deflate_length(c, level)

  def lmScoreBits(docs: DataFrame, idColumn: String, text: Column,
                  lmDocs: DataFrame, lmText: Column, unseenBits: Long): DataFrame =
    graft.text.LanguageModel.scoreBits(docs, idColumn, text, lmDocs, lmText, unseenBits)

  def withRunningTotal(df: DataFrame, value: Column, order: JList[Column],
                       outputColumn: String, exclusive: Boolean): DataFrame =
    graft.agg.PrefixSum.withRunningTotal(df, value, order.asScala.toSeq,
      outputColumn, exclusive)

  def packSequences(df: DataFrame, tokens: Column, order: JList[Column],
                    capacity: Long): DataFrame =
    graft.text.Packing.packSequences(df, tokens, order.asScala.toSeq, capacity)

  def zorderBy(df: DataFrame, columns: JList[String], partitions: Int,
               bitsPerColumn: Int): DataFrame =
    graft.write.ZOrder.zorderBy(df, columns.asScala.toSeq, partitions, bitsPerColumn)

  def hilbertOrderBy(df: DataFrame, columns: JList[String], partitions: Int,
                     bitsPerColumn: Int): DataFrame =
    graft.write.Hilbert.hilbertOrderBy(df, columns.asScala.toSeq, partitions,
      bitsPerColumn)

  def cmsSketch(key: Column, depth: Int, width: Int): Column =
    graft.agg.CountMin.cmsSketch(key, depth, width)

  def cmsEstimate(sketch: Column, key: Column, depth: Int, width: Int): Column =
    graft.agg.CountMin.cmsEstimate(sketch, key, depth, width)

  def writeBloomIndex(spark: SparkSession, dir: String, column: String,
                      logBits: Int, k: Int): Unit =
    graft.parquet.BloomIndex.writeBloomIndex(spark, dir, column, logBits, k)

  def bloomPruningReport(spark: SparkSession, dir: String, column: String,
                         values: JList[String]): DataFrame = {
    val report = graft.parquet.BloomIndex.pruningReport(
      spark, dir, column, values.asScala.toSeq)
    import spark.implicits._
    report.toDF("file", "keep")
  }

  def bloomPrunedParquet(spark: SparkSession, dir: String, column: String,
                         values: JList[String]): DataFrame =
    graft.parquet.BloomIndex.prunedParquet(spark, dir, column,
      values.asScala.toSeq)

  def writeWithManifest(df: DataFrame, dir: String): Unit =
    graft.write.Manifest.writeWithManifest(df, dir)

  def verifyManifest(spark: SparkSession, dir: String): DataFrame =
    graft.write.Manifest.verifyManifest(spark, dir)

  def writePartitionedWithManifest(df: DataFrame, dir: String,
                                   partitionCols: JList[String]): Unit =
    graft.diff.SnapshotDiff.writePartitionedWithManifest(
      df, dir, partitionCols.asScala.toSeq)

  def partitionManifestSummary(spark: SparkSession, dir: String,
                               partitionCols: JList[String]): DataFrame =
    graft.diff.SnapshotDiff.partitionManifestSummary(
      spark, dir, partitionCols.asScala.toSeq)

  def snapshotChangedPartitions(spark: SparkSession, leftDir: String,
                                rightDir: String,
                                partitionCols: JList[String]): DataFrame = {
    val cols = partitionCols.asScala.toSeq
    graft.diff.SnapshotDiff.changedPartitions(
      graft.diff.SnapshotDiff.partitionManifestSummary(spark, leftDir, cols),
      graft.diff.SnapshotDiff.partitionManifestSummary(spark, rightDir, cols),
      cols)
  }

  def diffSnapshots(spark: SparkSession, leftDir: String, rightDir: String,
                    idColumns: JList[String], partitionCols: JList[String],
                    maxChangedPartitions: Int): DataFrame =
    graft.diff.SnapshotDiff.diffSnapshots(spark, leftDir, rightDir,
      idColumns.asScala.toSeq, partitionCols.asScala.toSeq, maxChangedPartitions)

  def verifyManifestSummary(spark: SparkSession, dir: String): DataFrame =
    graft.write.Manifest.verifySummary(spark, dir)

  def historyFromSnapshots(snapshots: DataFrame, versionCol: String,
                           idCols: java.util.List[String],
                           attrCols: java.util.List[String]): DataFrame =
    graft.diff.History.fromSnapshots(snapshots, versionCol,
      idCols.asScala.toSeq, attrCols.asScala.toSeq)

  def historySnapshotAt(history: DataFrame, version: Object,
                        versionCol: String): DataFrame =
    graft.diff.History.snapshotAt(history, version, versionCol)

  def historyApplySnapshot(history: DataFrame, snapshot: DataFrame,
                           version: Object, versionCol: String,
                           idCols: java.util.List[String],
                           attrCols: java.util.List[String]): DataFrame =
    graft.diff.History.applySnapshot(history, snapshot, version, versionCol,
      idCols.asScala.toSeq, attrCols.asScala.toSeq)

  def mineHardNegatives(corpus: DataFrame, docId: Column, text: Column,
                        queries: DataFrame, queryId: Column, queryTerms: Column,
                        positives: DataFrame, posQueryId: Column, posDocId: Column,
                        k: Int, candidateFactor: Int): DataFrame =
    graft.search.Mining.mineHardNegatives(corpus, docId, text,
      queries, queryId, queryTerms, positives, posQueryId, posDocId,
      k, candidateFactor)

  def overlapMatrix(df: DataFrame, group: Column, value: Column,
                    k: Int, maxGroups: Int): DataFrame =
    graft.dedup.CorpusOverlap.overlapMatrix(df, group, value, k, maxGroups)

  def explainPairs(docs: DataFrame, id: Column, text: Column,
                   pairs: DataFrame, pairIdA: Column, pairIdB: Column,
                   k: Int): DataFrame =
    graft.dedup.Explain.explainPairs(docs, id, text, pairs, pairIdA, pairIdB, k)

  private def scrubStatsDf(spark: SparkSession,
                           st: graft.privacy.Deletion.ScrubStats): DataFrame = {
    import spark.implicits._
    Seq((st.filesTotal, st.filesRewritten, st.rowsDeleted, st.rowsRewritten,
      st.newFiles))
      .toDF("files_total", "files_rewritten", "rows_deleted", "rows_rewritten",
        "new_files")
  }

  def scrubParquetById(spark: SparkSession, dir: String, idColumn: String,
                       doomed: DataFrame, doomedId: Column,
                       maxTouchedFiles: Int): DataFrame =
    scrubStatsDf(spark, graft.privacy.Deletion.scrubParquetById(
      spark, dir, idColumn, doomed, doomedId, maxTouchedFiles))

  def scrubDedupIndex(spark: SparkSession, path: String,
                      doomed: DataFrame, doomedId: Column,
                      maxTouchedFiles: Int): DataFrame =
    scrubStatsDf(spark, graft.privacy.Deletion.scrubDedupIndex(
      spark, path, doomed, doomedId, maxTouchedFiles))

  def scrubAnnIndex(spark: SparkSession, path: String,
                    doomed: DataFrame, doomedId: Column,
                    maxTouchedFiles: Int): DataFrame =
    scrubStatsDf(spark, graft.privacy.Deletion.scrubAnnIndex(
      spark, path, doomed, doomedId, maxTouchedFiles))

  private def compactStatsDf(spark: SparkSession,
                             st: Map[String, (Int, Int)]): DataFrame = {
    import spark.implicits._
    st.toSeq.map { case (part, (b, a)) => (part, b, a) }
      .toDF("part", "files_before", "files_after")
  }

  def compactInPlace(spark: SparkSession, dir: String, targetFileBytes: Long,
                     clusterCols: java.util.List[String]): DataFrame = {
    val (b, a) = graft.write.Compaction.compactInPlace(
      spark, dir, targetFileBytes, clusterCols.asScala.toSeq)
    compactStatsDf(spark, Map("data" -> ((b, a))))
  }

  def compactAnnIndex(spark: SparkSession, path: String,
                      targetFileBytes: Long): DataFrame =
    compactStatsDf(spark,
      graft.write.Compaction.compactAnnIndex(spark, path, targetFileBytes))

  def compactDedupIndex(spark: SparkSession, path: String,
                        targetFileBytes: Long): DataFrame =
    compactStatsDf(spark,
      graft.write.Compaction.compactDedupIndex(spark, path, targetFileBytes))

  def mineAlignedPairs(left: DataFrame, leftId: Column, leftVec: Column,
                       right: DataFrame, rightId: Column, rightVec: Column,
                       k: Int, minMargin: Double): DataFrame =
    graft.search.Mining.mineAlignedPairs(left, leftId, leftVec,
      right, rightId, rightVec, k, minMargin)

  def alignedPairsFromNeighbors(forward: DataFrame, backward: DataFrame,
                                k: Int, minMargin: Double): DataFrame =
    graft.search.Mining.alignedPairsFromNeighbors(forward, backward, k, minMargin)

  def domainEdges(df: DataFrame, pageUrl: Column, outlinkUrl: Column): DataFrame =
    graft.graph.LinkRank.domainEdges(df, pageUrl, outlinkUrl)

  def linkRank(edges: DataFrame, src: Column, dst: Column, iterations: Int,
               dampNum: Long, dampDen: Long, scale: Long): DataFrame =
    graft.graph.LinkRank.rank(edges, src, dst, iterations, dampNum, dampDen, scale)

  def editDistance1Pairs(df: DataFrame, id: Column, str: Column): DataFrame =
    graft.join.FuzzyJoin.editDistance1Pairs(df, id, str)

  def extractMediaFeatures(df: DataFrame, id: Column, bin: Column): DataFrame =
    graft.multimodal.Multimodal.extractMediaFeatures(df, id, bin).toDF()

  def sampleFrames(df: DataFrame, id: Column, bin: Column, k: Int): DataFrame =
    graft.multimodal.Multimodal.sampleFrames(df, id, bin, k)

  def extractAudioFeatures(df: DataFrame, id: Column, bin: Column): DataFrame =
    graft.multimodal.Multimodal.extractAudioFeatures(df, id, bin).toDF()

  // --------------------------------------------------------------------------
  // job description (set/restore primitives for Python context managers)
  // --------------------------------------------------------------------------

  def streamingTokenCountsByWindow(stream: DataFrame, text: Column,
                                   eventTimeColumn: String,
                                   windowDuration: String,
                                   watermarkDelay: String,
                                   vocab: JList[String],
                                   oovBucket: String): DataFrame =
    graft.streaming.StreamingDrift.tokenCountsByWindow(
      stream, text, eventTimeColumn, windowDuration, watermarkDelay,
      vocab.asScala.toSeq, oovBucket)

  def totalVariationByWindow(counts: DataFrame, windowCols: JList[String],
                             reference: DataFrame): DataFrame =
    graft.streaming.StreamingDrift.totalVariationByWindow(
      counts, windowCols.asScala.toSeq, reference)

  def warcRecords(bytes: Column): Column =
    graft.sources.Warc.warcRecords(bytes)

  def readWarc(spark: SparkSession, path: String): DataFrame =
    graft.sources.Warc.readWarc(spark, path)

  def kAnonymityReport(df: DataFrame, quasiCols: JList[String],
                       k: Int): DataFrame =
    graft.privacy.Anonymity.kAnonymityReport(df, quasiCols.asScala.toSeq, k)

  def lDiversityReport(df: DataFrame, quasiCols: JList[String],
                       sensitive: Column, l: Int): DataFrame =
    graft.privacy.Anonymity.lDiversityReport(
      df, quasiCols.asScala.toSeq, sensitive, l)

  def suppressRareRows(df: DataFrame, quasiCols: JList[String],
                       k: Int): DataFrame =
    graft.privacy.Anonymity.suppressRareRows(df, quasiCols.asScala.toSeq, k)

  def rareRows(df: DataFrame, quasiCols: JList[String], k: Int): DataFrame =
    graft.privacy.Anonymity.rareRows(df, quasiCols.asScala.toSeq, k)

  private val JobDescriptionProperty = "spark.job.description"

  /**
   * Set the job description (null clears it) and return the previous one
   * (null if none); with `ifNotSet` the description is only applied when none
   * is set. The Python context manager restores the returned value on exit.
   */
  def setJobDescription(sc: SparkContext, description: String, ifNotSet: Boolean): String = {
    val previous = sc.getLocalProperty(JobDescriptionProperty)
    if (previous == null || !ifNotSet) sc.setJobDescription(description)
    previous
  }

  /** Append to the current job description; returns the previous description. */
  def appendJobDescription(sc: SparkContext, extra: String, separator: String): String = {
    val previous = sc.getLocalProperty(JobDescriptionProperty)
    sc.setJobDescription(Option(previous).map(_ + separator + extra).getOrElse(extra))
    previous
  }

  // --------------------------------------------------------------------------
  // chat templates / tokenizer artifact / training shards (round 15)
  // --------------------------------------------------------------------------

  /** `defaultSystem` may be null (no system-prompt folding). */
  def chatTemplate(roleMarkers: java.util.Map[String, String],
                   invalidMarker: String, endMarker: String,
                   bos: String, eos: String, scrubContents: Boolean,
                   defaultSystem: String): graft.text.Chat.ChatTemplate =
    graft.text.Chat.ChatTemplate(roleMarkers.asScala.toMap, invalidMarker,
      endMarker, bos, eos, scrubContents, Option(defaultSystem))

  def chatTemplateDefault(): graft.text.Chat.ChatTemplate =
    graft.text.Chat.ChatTemplate.Default

  def chatTemplateChatMl(): graft.text.Chat.ChatTemplate =
    graft.text.Chat.ChatTemplate.ChatMl

  def chatTemplateSpecialsOf(t: graft.text.Chat.ChatTemplate): JList[String] =
    t.specials.asJava

  def chatRenderTemplateSpec(text: Column,
                             t: graft.text.Chat.ChatTemplate): Column =
    graft.text.Chat.renderTemplate(text, t)

  def chatRenderMessagesTemplateSpec(json: Column,
                                     t: graft.text.Chat.ChatTemplate): Column =
    graft.text.Chat.renderMessagesTemplate(json, t)

  def tokenizer(model: graft.text.ByteBpe.ByteBpeModel,
                specials: JList[String]): graft.text.TokenizerArtifact.Tokenizer =
    graft.text.TokenizerArtifact.Tokenizer(model, specials.asScala.toSeq)

  def saveTokenizer(spark: SparkSession,
                    tok: graft.text.TokenizerArtifact.Tokenizer,
                    dir: String): Unit =
    graft.text.TokenizerArtifact.save(spark, tok, dir)

  def loadTokenizer(spark: SparkSession,
                    dir: String): graft.text.TokenizerArtifact.Tokenizer =
    graft.text.TokenizerArtifact.load(spark, dir)

  def saveTokenizerWithFertility(spark: SparkSession,
                                 tok: graft.text.TokenizerArtifact.Tokenizer,
                                 dir: String, fertility: DataFrame): Unit =
    graft.text.TokenizerArtifact.save(spark, tok, dir, Some(fertility))

  /** null when the artifact carries no fertility report. */
  def loadTokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    graft.text.TokenizerArtifact.loadFertility(spark, dir).orNull

  def tokenizerEncodeIds(tok: graft.text.TokenizerArtifact.Tokenizer,
                         text: Column): Column = tok.encodeIds(text)

  def tokenizerDecodeIds(tok: graft.text.TokenizerArtifact.Tokenizer,
                         ids: Column): Column = tok.decodeIds(ids)

  def tokenizerTokenCount(tok: graft.text.TokenizerArtifact.Tokenizer,
                          text: Column): Column = tok.tokenCount(text)

  def tokenizerVocabSize(tok: graft.text.TokenizerArtifact.Tokenizer): Int =
    tok.vocabSize

  def tokenizerBaseVocabSize(tok: graft.text.TokenizerArtifact.Tokenizer): Int =
    tok.baseVocabSize

  def tokenizerSpecials(tok: graft.text.TokenizerArtifact.Tokenizer): JList[String] =
    tok.specials.asJava

  def tokenizerModel(tok: graft.text.TokenizerArtifact.Tokenizer): graft.text.ByteBpe.ByteBpeModel =
    tok.model

  /** `tokenizer` may be null (shards without a bundled tokenizer). */
  def saveShards(df: DataFrame, ids: Column, order: JList[Column],
                 capacity: Int, sepId: Int, dir: String,
                 tokenizer: graft.text.TokenizerArtifact.Tokenizer,
                 targetFileBytes: java.lang.Number): Long =
    graft.text.Shards.saveShards(df, ids, order.asScala.toSeq, capacity,
      sepId, dir, Option(tokenizer), targetFileBytes.longValue())

  def loadShards(spark: SparkSession,
                 dir: String): graft.text.Shards.ShardSet =
    graft.text.Shards.loadShards(spark, dir)

  def shardSetData(s: graft.text.Shards.ShardSet): DataFrame = s.data
  def shardSetCapacity(s: graft.text.Shards.ShardSet): Int = s.capacity
  def shardSetSepId(s: graft.text.Shards.ShardSet): Int = s.sepId
  def shardSetNSequences(s: graft.text.Shards.ShardSet): Long = s.nSequences
  def shardSetTotalIds(s: graft.text.Shards.ShardSet): Long = s.totalIds

  def appendShards(df: DataFrame, ids: Column, order: JList[Column],
                   dir: String): Long =
    graft.text.Shards.appendShards(df, ids, order.asScala.toSeq, dir)

  /** null when the artifact carries no tokenizer. */
  def shardSetTokenizer(s: graft.text.Shards.ShardSet): graft.text.TokenizerArtifact.Tokenizer =
    s.tokenizer.orNull

  def verifyShards(spark: SparkSession, dir: String): DataFrame =
    graft.text.Shards.verifyShards(spark, dir)

  def unpackShards(spark: SparkSession, dir: String,
                   maxSequences: java.lang.Number): DataFrame =
    graft.text.Shards.unpackShards(spark, dir, maxSequences.longValue())

  def unpackTokenIdsGuarded(packed: DataFrame, capacity: Int, sepId: Int,
                            maxSequences: java.lang.Number): DataFrame =
    graft.text.Packing.unpackTokenIds(packed, capacity, sepId,
      maxSequences = maxSequences.longValue())

  def unpackTokenIdsRange(packed: DataFrame, capacity: Int, sepId: Int,
                          fromSeq: java.lang.Number,
                          untilSeq: java.lang.Number): DataFrame =
    graft.text.Packing.unpackTokenIdsRange(packed, capacity, sepId,
      fromSeq.longValue(), untilSeq.longValue())

  def unpackShardsRange(spark: SparkSession, dir: String,
                        fromSeq: java.lang.Number,
                        untilSeq: java.lang.Number): DataFrame =
    graft.text.Shards.unpackShardsRange(spark, dir,
      fromSeq.longValue(), untilSeq.longValue())

  def docBoundaries(packed: DataFrame, sepId: Int): DataFrame =
    graft.text.Packing.docBoundaries(packed, sepId)

  def sftLossMask(ids: Column, vocabSize: Int,
                  t: graft.text.Chat.ChatTemplate,
                  trainRoles: JList[String], trainEnd: Boolean): Column =
    graft.text.Chat.sftLossMask(ids, vocabSize, t,
      trainRoles.asScala.toSeq, trainEnd)

  /** One micro-batch of the streaming shard sink (compose with pyspark's
    * foreachBatch). `tokenizer` may be null. */
  def shardBatch(batch: DataFrame, batchId: java.lang.Number, ids: Column,
                 order: JList[Column], capacity: Int, sepId: Int,
                 dir: String, tokenizer: graft.text.TokenizerArtifact.Tokenizer,
                 targetFileBytes: java.lang.Number): Unit =
    graft.streaming.StreamingShards.processBatch(batch, batchId.longValue(),
      ids, order.asScala.toSeq, capacity, sepId, dir, Option(tokenizer),
      targetFileBytes.longValue())

  def shardsLastBatchId(spark: SparkSession, dir: String): Long =
    graft.text.Shards.lastBatchId(spark, dir)

  def packTokenIdsWithMask(df: DataFrame, ids: Column, mask: Column,
                           order: JList[Column], capacity: Int,
                           sepId: Int): DataFrame =
    graft.text.Packing.packTokenIdsWithMask(df, ids, mask,
      order.asScala.toSeq, capacity, sepId)

  def unpackTokenIdsWithMask(packed: DataFrame, capacity: Int,
                             sepId: Int): DataFrame =
    graft.text.Packing.unpackTokenIdsWithMask(packed, capacity, sepId)

  def kCenterSelect(df: DataFrame, id: Column, vec: Column,
                    k: Int): DataFrame =
    graft.sample.Coreset.kCenterSelect(df, id, vec, k)

  def topPaths(events: DataFrame, user: Column, tsUs: Column,
               eventId: Column, etype: Column, maxSteps: Int,
               k: Int): DataFrame =
    graft.events.Funnel.topPaths(events, user, tsUs, eventId, etype,
      maxSteps, k)

  def tokenProvenance(df: DataFrame, tokens: Column, order: JList[Column],
                      capacity: Int, source: Column): DataFrame =
    graft.text.Packing.tokenProvenance(df, tokens, order.asScala.toSeq,
      capacity, source)

  def fimTransform(text: Column, id: Column, rate: Double,
                   salt: String): Column =
    graft.text.Fim.fimTransform(text, id, rate, salt)

  def fimApplied(id: Column, rate: Double, salt: String): Column =
    graft.text.Fim.applied(id, rate, salt)

  def fimSpecials(): JList[String] = graft.text.Fim.Specials.asJava

  def packBins(df: DataFrame, tokens: Column, order: JList[Column],
               capacity: Int): DataFrame =
    graft.text.BinPack.packBins(df, tokens, order.asScala.toSeq, capacity)

  def binPackReport(assigned: DataFrame, capacity: Int): DataFrame =
    graft.text.BinPack.binPackReport(assigned, capacity)

  def packBinSequences(df: DataFrame, ids: Column, order: JList[Column],
                       capacity: Int): DataFrame =
    graft.text.BinPack.packBinSequences(df, ids, order.asScala.toSeq,
      capacity)
}
