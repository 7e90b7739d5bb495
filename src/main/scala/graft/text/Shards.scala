package graft.text

import graft.parquet.SidecarFiles
import graft.write.{Compaction, Manifest, SwapFiles}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Persisted training shards — the pipeline's FINAL on-disk artifact: a
 * trainer consumes directories, not DataFrames. [[saveShards]] runs
 * [[Packing.packTokenIds]] and lands the packed `(seq_id, ids, n_docs)`
 * table as sized, `seq_id`-range-clustered parquet files with everything a
 * consumer needs to trust and decode it beside the data:
 *
 *  - `data/`      — the shards; files hold CONTIGUOUS `seq_id` ranges
 *                   (sorted within files), so "shard k of a training job"
 *                   is a file-aligned sequential read;
 *  - `data/_manifest` — the P92 manifest (per-file row count +
 *                   order-insensitive fingerprint) written from the files
 *                   actually on disk, so [[verifyShards]] certifies the
 *                   snapshot without re-running the producer;
 *  - `tokenizer/` — optional [[TokenizerArtifact]] (merges + vocab +
 *                   specials, params-last), so the ids are decodable by
 *                   anyone holding the directory;
 *  - `params/`    — one row `(capacity, sep_id, n_sequences,
 *                   has_tokenizer, target_file_bytes)` written LAST: its
 *                   presence marks a COMPLETE artifact and a half-finished
 *                   save fails loudly at load time (the
 *                   [[graft.dedup.DedupIndex]] discipline).
 *
 * Scale shape: the pack itself is rows O(docs + sequences)
 * ([[Packing.packTokenIds]]); the save adds ONE write of the packed table
 * plus, only when the natural file count is badly off target (>1.5× either
 * way), one sizing rewrite (range-repartitioned on `seq_id` — the same
 * cost class as [[graft.write.Compaction.compactParquet]]). Tune
 * `spark.sql.shuffle.partitions` to the corpus and the rewrite never
 * fires. The manifest pays one read of the landed data (that IS the
 * certification), params/tokenizer are model-sized.
 *
 * Reference scope note: the shard format is green-field (no counterpart in
 * /root/reference); the artifact lifecycle matches ann/Pq.scala's
 * saveAnnIndex.
 */
object Shards {

  /** A loaded shard set: the packed data plus the params a consumer needs
    * to cut, unpack, and decode it. `totalIds` is the pack's absolute id
    * count (documents + separators) — the append offset. */
  case class ShardSet(data: DataFrame, capacity: Int, sepId: Int,
                      nSequences: Long, totalIds: Long,
                      tokenizer: Option[TokenizerArtifact.Tokenizer])

  /**
   * Pack `df`'s id streams ([[Packing.packTokenIds]] semantics: each
   * document's `idsCol` followed by one `sepId`, concatenated in `order`,
   * cut into `capacity`-id sequences) and persist the full artifact at
   * `dir`. Returns the number of sequences written.
   */
  def saveShards(df: DataFrame, idsCol: Column, order: Seq[Column],
                 capacity: Int, sepId: Int, dir: String,
                 tokenizer: Option[TokenizerArtifact.Tokenizer] = None,
                 targetFileBytes: Long = 128L * 1024 * 1024,
                 batchId: Option[Long] = None): Long = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val spark = df.sparkSession
    Packing.packTokenIds(df, idsCol, order, capacity, sepId)
      .write.mode("overwrite").parquet(s"$dir/data")
    resizeIfOffTarget(spark, s"$dir/data", targetFileBytes)
    // ONE certification scan of the landed data: Manifest's own per-file
    // summary pass (the single place the fingerprint is defined) extended
    // with a per-file id count, collected (file-count-bounded rows, never
    // data) so n_sequences and total_ids (the future append offset) are
    // driver sums over the same pass instead of two more full reads of data/
    val summary = Manifest.fileSummaryWith(spark, s"$dir/data",
        sum(size(col("ids")).cast("long")).as("__ids"))
      .collect()
    // the summary is already driver-resident (file-count rows): land the
    // manifest sidecar driver-side instead of submitting a write job
    Manifest.writeManifestRows(spark, s"$dir/data",
      summary.toSeq.map(r =>
        org.apache.spark.sql.Row(r.getString(0), r.getLong(1), r.getLong(2))))
    val nSequences = summary.map(_.getLong(1)).sum
    val totalIds = summary.map(_.getLong(3)).sum
    tokenizer.foreach(t => TokenizerArtifact.save(spark, t, s"$dir/tokenizer"))
    writeParams(spark, dir, capacity, sepId, nSequences, totalIds,
      tokenizer.isDefined, targetFileBytes, batchId.getOrElse(-1L))
    nSequences
  }

  /**
   * Append a new document batch to an artifact saved by [[saveShards]] —
   * the daily-ingest loop (the P81/P84b append discipline): the batch
   * packs at `startOffset = total_ids(existing)`, so the result is
   * BYTE-IDENTICAL to a one-shot save over old ++ new documents (provided
   * `order` sorts the new batch after every already-packed document — the
   * natural monotonic-id / ingest-date layout). The existing partial last
   * sequence fills first: its file is rewritten under the
   * [[graft.write.SwapFiles]] crash-safe swap (fresh files publish, the
   * one old file deletes checked; an interrupted run is repaired by the
   * next one); every other existing file is untouched. Manifest and
   * params re-certify after the swap — a crash between swap and params
   * leaves [[verifyShards]] failing loudly (never silent corruption).
   * Returns the new sequence count.
   */
  def appendShards(df: DataFrame, idsCol: Column, order: Seq[Column],
                   dir: String,
                   batchId: Option[Long] = None): Long = {
    val spark = df.sparkSession
    val dataDir = s"$dir/data"
    val dirPath = new Path(dataDir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    SwapFiles.recover(fs, dirPath)
    // params row only: the append needs capacity/sep_id/n_sequences/
    // total_ids/has_tokenizer — loading the bundled tokenizer artifact
    // (three model-sized reads) for a flag it never uses was pure
    // per-append overhead
    val prev = paramsRow(spark, dir)
    val exCapacity = prev.getAs[Int]("capacity")
    val exSepId = prev.getAs[Int]("sep_id")
    val exNSequences = prev.getAs[Long]("n_sequences")
    val exTotalIds = prev.getAs[Long]("total_ids")
    // the batch stats (row count, appended ids, max seq_id) ride the tmp
    // batch write as observe metrics — the write is the pack's ONLY
    // consumer, so the dedicated stats action AND the outer persist that
    // backed its double consumption both go away (one pass, no cache
    // store+read of the packed rows). The metrics are O(1)-per-row
    // (count / array-header size / max), so the CollectMetrics node costs
    // nothing next to the pack itself.
    val obs = new org.apache.spark.sql.Observation()
    val newPacked = Packing.packTokenIds(df, idsCol, order,
        exCapacity, exSepId, startOffset = exTotalIds)
      .observe(obs,
        count(lit(1)).as("n"),
        coalesce(sum(size(col("ids")).cast("long")), lit(0L)).as("ids"),
        coalesce(max(col("seq_id")), lit(-1L)).as("max_seq"))
    val lastSeqId = exNSequences - 1
    val tailPartial = exNSequences > 0 &&
      exTotalIds < exNSequences * exCapacity
    val (tmpRows, oldFiles, oldFileNames) = if (tailPartial) {
      // the first new id lands INSIDE the old last sequence — merge it
      // and rewrite (only) the file that holds it. That file is found
      // from parquet FOOTER stats alone (driver-side, no Spark job): the
      // tail sequence is the artifact's global max seq_id, so the file
      // whose footer max equals it IS the tail file — the same min/max
      // metadata the old probe scan's row-group pruning consulted, read
      // directly. Every subsequent read targets THE ONE FILE, never the
      // artifact (an input_file_name row-filter over the whole directory
      // would be an O(artifact) scan at 100 TB).
      val hadoopConf = spark.sessionState.newHadoopConf()
      val ranges = SidecarFiles.dataFiles(fs, dirPath)
        .flatMap { s =>
          graft.parquet.FooterStats
            .longColumnRange(hadoopConf, s.getPath, "seq_id")
            .map(r => (s.getPath.toString, r._1, r._2))
        }
      val tailFiles = ranges.filter(_._3 == lastSeqId).map(_._1)
      require(tailFiles.length == 1,
        s"expected the tail sequence in exactly one file, found " +
          s"${tailFiles.length}: ${tailFiles.mkString(", ")} " +
          s"(footer seq_id ranges: ${ranges.map(r => s"[${r._2},${r._3}]").mkString(", ")})")
      val tailFileDf = spark.read.parquet(tailFiles.head)
      val keptFromFile = tailFileDf
        .filter(col("seq_id") =!= lastSeqId)
        .select(col("seq_id"), col("ids"), col("n_docs"))
      val oldTail = tailFileDf.filter(col("seq_id") === lastSeqId)
        .select(col("seq_id"), col("ids").as("__old_ids"),
          col("n_docs").as("__old_docs"))
      val merged = newPacked
        .join(broadcast(oldTail), Seq("seq_id"), "left_outer")
        .select(col("seq_id"),
          when(col("__old_ids").isNotNull,
            concat(col("__old_ids"), col("ids"))).otherwise(col("ids"))
            .as("ids"),
          (col("n_docs") + coalesce(col("__old_docs"), lit(0L)))
            .as("n_docs"))
      (keptFromFile.unionAll(merged), Seq(new Path(tailFiles.head)),
        Seq(tailFiles.head))
    } else
      (newPacked.select(col("seq_id"), col("ids"), col("n_docs")),
        Seq.empty[Path], Seq.empty[String])
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(dirPath, s"_append_tmp_$uuid")
    tmpRows.write.parquet(tmp.toString)
    // stats arrive with the write; an EMPTY observation means AQE
    // replaced the (empty) pack subtree with EmptyRelation and pruned
    // the CollectMetrics node — which can only happen when the batch
    // contributed zero rows, so both paths agree: drop the unpublished
    // tmp and leave the artifact untouched (the pre-observe code
    // early-returned before writing anything).
    val m = obs.get
    val nRows = m.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
    if (nRows == 0L) {
      fs.delete(tmp, true)
      return exNSequences
    }
    val appendedIds = m("ids").asInstanceOf[Long]
    val maxSeq = m("max_seq").asInstanceOf[Long]
    // size the batch's files BEFORE publishing: the pack's natural
    // partitioning lands one tiny file per shuffle partition, and every
    // later scan of the artifact (verify, unpack, load, the next append's
    // tail probe) pays the per-file open cost — the §6 small-files
    // problem applied to the append path. Same footer-computed target as
    // saveShards; fires only when >1.5x off.
    resizeIfOffTarget(spark, tmp.toString,
      prev.getAs[Long]("target_file_bytes"))
    val published =
      SwapFiles.publishAndDelete(fs, dirPath, tmp, "append", uuid, oldFiles)
    // incremental certification: fingerprint ONLY the published files —
    // the untouched artifact's manifest rows stand, keeping the append
    // O(batch + tail) instead of O(artifact)
    Manifest.updateManifestFor(spark, dataDir, published, oldFileNames)
    writeParams(spark, dir, exCapacity, exSepId,
      maxSeq + 1, exTotalIds + appendedIds,
      prev.getAs[Boolean]("has_tokenizer"),
      prev.getAs[Long]("target_file_bytes"),
      batchId.getOrElse(prev.getAs[Long]("last_batch_id")))
    maxSeq + 1
  }

  private def writeParams(spark: SparkSession, dir: String, capacity: Int,
                          sepId: Int, nSequences: Long, totalIds: Long,
                          hasTokenizer: Boolean, targetFileBytes: Long,
                          lastBatchId: Long = -1L): Unit = {
    // params last: their presence marks a COMPLETE artifact. last_batch_id
    // rides in the SAME atomic params write so the streaming sink's
    // idempotence marker commits together with the artifact state.
    // One driver-resident row — lands via LocalParquet, no Spark job.
    import org.apache.spark.sql.types._
    graft.parquet.LocalParquet.write(spark, s"$dir/params",
      StructType(Seq(StructField("capacity", IntegerType),
        StructField("sep_id", IntegerType),
        StructField("n_sequences", LongType),
        StructField("total_ids", LongType),
        StructField("has_tokenizer", BooleanType),
        StructField("target_file_bytes", LongType),
        StructField("last_batch_id", LongType))),
      Seq(org.apache.spark.sql.Row(capacity, sepId, nSequences, totalIds,
        hasTokenizer, targetFileBytes, lastBatchId)))
  }

  private def paramsRow(spark: SparkSession,
                        dir: String): org.apache.spark.sql.Row =
    graft.parquet.LocalParquet.readRow(spark, s"$dir/params")

  /** The id of the last streaming micro-batch applied to this artifact
    * (-1 when none) — the [[graft.streaming.StreamingShards]] idempotence
    * marker, committed atomically with the params row. */
  def lastBatchId(spark: SparkSession, dir: String): Long =
    paramsRow(spark, dir).getAs[Long]("last_batch_id")

  /** Load an artifact saved by [[saveShards]] — fails loudly when the
    * save never completed (missing `params/`). */
  def loadShards(spark: SparkSession, dir: String): ShardSet = {
    val p = paramsRow(spark, dir)
    ShardSet(
      data = spark.read.parquet(s"$dir/data"),
      capacity = p.getAs[Int]("capacity"),
      sepId = p.getAs[Int]("sep_id"),
      nSequences = p.getAs[Long]("n_sequences"),
      totalIds = p.getAs[Long]("total_ids"),
      tokenizer =
        if (p.getAs[Boolean]("has_tokenizer"))
          Some(TokenizerArtifact.load(spark, s"$dir/tokenizer"))
        else None)
  }

  /**
   * Certify a shard directory before training on it — one row:
   * `(files, total_rows, manifest_ok, n_sequences, dense_ok, sized_ok,
   * ids_ok, all_ok)`.
   *
   *  - `manifest_ok` — every data file present, row-count- and
   *    fingerprint-identical to the manifest (P92);
   *  - `dense_ok`    — `seq_id`s run 0..n-1 with the count params
   *    recorded (a lost/duplicated SEQUENCE, not just file bytes);
   *  - `sized_ok`    — every sequence holds exactly `capacity` ids except
   *    at most the last (the boundary contract trainers rely on);
   *  - `ids_ok`      — with a bundled tokenizer: every id (separators
   *    included) lies in `[0, vocabSize)` — the embedding-lookup bound a
   *    trainer would otherwise discover by crashing mid-epoch. Packs
   *    whose `sepId` is NOT one of the tokenizer's reserved ids fail
   *    this check by design (ship the separator as a reserved special,
   *    the composition the gates use). `true` when no tokenizer is
   *    bundled (no bound to check against).
   *
   * Cost: the manifest verify's one data read plus one aggregate over
   * `(seq_id, size(ids), min/max id)` — both O(data) scans with
   * per-file-sized state, driver never sees rows.
   */
  def verifyShards(spark: SparkSession, dir: String): DataFrame =
    verifyShards(spark, dir, loadShards(spark, dir))

  /** [[verifyShards]] against an ALREADY-LOADED shard set — consumers that
    * verify + read + unpack in one session load the artifact once and pass
    * it around instead of re-reading params + tokenizer per call. */
  def verifyShards(spark: SparkSession, dir: String,
                   shards: ShardSet): DataFrame = {
    val manifest = Manifest.verifySummary(spark, s"$dir/data")
      .select(col("files"), col("total_rows"), col("all_ok").as("manifest_ok"))
    val idsOk = shards.tokenizer match {
      case Some(tok) =>
        coalesce(min(array_min(col("ids"))), lit(0)) >= 0 &&
          coalesce(max(array_max(col("ids"))), lit(-1)) < tok.vocabSize
      case None => lit(true)
    }
    val structure = shards.data
      .agg(
        count(lit(1)).as("n_sequences"),
        coalesce(min(col("seq_id")), lit(-1L)).as("__min"),
        coalesce(max(col("seq_id")), lit(-1L)).as("__max"),
        countDistinct(col("seq_id")).as("__distinct"),
        sum(when(size(col("ids")) =!= shards.capacity, 1L).otherwise(0L))
          .as("__off_size"),
        max(when(size(col("ids")) =!= shards.capacity, col("seq_id")))
          .as("__off_seq"),
        idsOk.as("ids_ok"))
      .select(
        col("n_sequences"),
        (col("n_sequences") === lit(shards.nSequences) &&
          col("__min") === 0L &&
          col("__max") === col("n_sequences") - 1L &&
          col("__distinct") === col("n_sequences")).as("dense_ok"),
        (col("__off_size") === 0L ||
          (col("__off_size") === 1L && col("__off_seq") === col("__max")))
          .as("sized_ok"),
        col("ids_ok"))
    manifest.crossJoin(broadcast(structure))
      .withColumn("all_ok",
        col("manifest_ok") && col("dense_ok") && col("sized_ok") &&
          col("ids_ok"))
  }

  /** Shard QA from disk: load and re-split into per-document id arrays
    * ([[Packing.unpackTokenIds]] — per-token rows, `maxSequences`
    * budget-guarded). Decode with the bundled tokenizer to close the full
    * `saveShards → unpackShards → decode == corpus` round-trip. */
  def unpackShards(spark: SparkSession, dir: String,
                   maxSequences: Long = 1L << 22): DataFrame =
    unpackShards(loadShards(spark, dir), maxSequences)

  /** [[unpackShards]] from an ALREADY-LOADED shard set (load once, verify +
    * unpack + decode without re-reading params + tokenizer per call). */
  def unpackShards(shards: ShardSet, maxSequences: Long): DataFrame =
    Packing.unpackTokenIds(shards.data, shards.capacity, shards.sepId,
      maxSequences = maxSequences)

  /**
   * Sampled shard QA from disk: re-split ONLY sequences `[fromSeq,
   * untilSeq)` ([[Packing.unpackTokenIdsRange]] — the separator census
   * stays O(sequences) over the whole pack; only the selected range
   * explodes to tokens). Because `saveShards` lands the pack
   * range-clustered on `seq_id`, the `seq_id` range predicate prunes at
   * the parquet scan (pushed min/max per file — shard k of a training
   * job reads k's files, not the artifact; pinned in ShardsSuite).
   */
  def unpackShardsRange(spark: SparkSession, dir: String,
                        fromSeq: Long, untilSeq: Long): DataFrame = {
    val shards = loadShards(spark, dir)
    Packing.unpackTokenIdsRange(shards.data, shards.capacity, shards.sepId,
      fromSeq, untilSeq)
  }

  /** Rewrite `dataDir` range-clustered on `seq_id` when the landed file
    * count is >1.5× off the footer-computed target (fresh-directory swap:
    * write `_resized`, delete old files, move new ones in). */
  private def resizeIfOffTarget(spark: SparkSession, dataDir: String,
                                targetFileBytes: Long): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(dataDir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    val landed = SidecarFiles.dataFiles(fs, dirPath)
    val current = landed.length
    val target = Compaction.targetFileCount(spark, dataDir, targetFileBytes)
    if (current > target * 3 / 2 || target > current * 3 / 2) {
      val resized = new org.apache.hadoop.fs.Path(
        dirPath.getParent, "_resized")
      spark.read.parquet(dataDir)
        .repartitionByRange(target, col("seq_id"))
        .sortWithinPartitions(col("seq_id"))
        .write.mode("overwrite").parquet(resized.toString)
      landed.foreach(s => require(fs.delete(s.getPath, false),
        s"failed to delete ${s.getPath} during shard resize"))
      // move DATA part files only — a _SUCCESS/_checksum sidecar would
      // collide with the original write's own marker in data/
      SidecarFiles.dataFiles(fs, resized).foreach { s =>
        require(fs.rename(s.getPath,
          new org.apache.hadoop.fs.Path(dirPath, s.getPath.getName)),
          s"failed to move ${s.getPath} during shard resize")
      }
      require(fs.delete(resized, true), s"failed to drop $resized")
    }
  }
}
