package graft.streaming

import graft.text.{Shards, TokenizerArtifact}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Streaming twin of the shard artifact lifecycle: ingest an unbounded
 * document feed and keep ONE trainer-ready artifact current — the
 * micro-batch loop over [[graft.text.Shards.appendShards]], which makes
 * the streamed artifact CONTENT-IDENTICAL to a one-shot
 * [[graft.text.Shards.saveShards]] over everything ingested (append at
 * `startOffset = total_ids` is a pure function of the global token
 * stream), provided each batch's `order` values sort after every earlier
 * batch — the natural shape when `order` is a monotonic ingest id or
 * event time, and the contract the gate replays.
 *
 * Effectively-once: `foreachBatch` redelivers a committed-but-unprocessed
 * batch after a restart, and a double-applied append would duplicate
 * tokens silently. The sink records each applied `batchId` INSIDE the
 * artifact's own params row — the atomic params-last write that already
 * marks artifact completeness — and skips any batch at or below the
 * recorded id. A crash mid-append (between the file swap and the params
 * write) leaves [[graft.text.Shards.verifyShards]] failing loudly, the
 * same fail-loud contract as a manual append; certify before trusting an
 * artifact after an unclean stop.
 *
 * Scale shape per micro-batch: pack the batch (rows O(batch docs +
 * sequences)), rewrite only the tail file, fingerprint only the published
 * files — O(batch), flat in artifact size (SCALE.md `pack_append` probe).
 *
 * SFT twin: `idsCol` is any token stream, so passing the FUSED mask
 * stream (`zip_with(ids, mask, (i, m) => i*2 + (m =!= 0).cast("int"))`
 * with `sepId * 2` — see [[graft.text.Packing.packTokenIdsWithMask]])
 * keeps a mask-aligned STREAMING artifact current with zero extra sink
 * machinery; split the two streams back at read time.
 */
object StreamingShards {

  /**
   * Start appending the streamed documents to the shard artifact at
   * `dir`. The FIRST applied batch bootstraps a fresh artifact with
   * `capacity`/`sepId`/`tokenizer`; later batches append under the
   * recorded-batch-id idempotence. `order` must be monotone across
   * batches (see class doc).
   */
  def appendStream(stream: DataFrame, idsCol: Column, order: Seq[Column],
                   capacity: Int, sepId: Int, dir: String,
                   tokenizer: Option[TokenizerArtifact.Tokenizer],
                   checkpointDir: String,
                   targetFileBytes: Long = 128L * 1024 * 1024): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idsCol, order, capacity, sepId, dir,
          tokenizer, targetFileBytes)
      }
      .start()

  /** One micro-batch of the sink loop (factored out so the idempotence
    * and bootstrap rules are unit-testable without a streaming query). */
  private[graft] def processBatch(
      batch: DataFrame, batchId: Long, idsCol: Column, order: Seq[Column],
      capacity: Int, sepId: Int, dir: String,
      tokenizer: Option[TokenizerArtifact.Tokenizer],
      targetFileBytes: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val paramsPath = new org.apache.hadoop.fs.Path(s"$dir/params")
    val fs = paramsPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(paramsPath)) {
      Shards.saveShards(batch, idsCol, order, capacity, sepId, dir,
        tokenizer, targetFileBytes, batchId = Some(batchId))
    } else if (batchId > Shards.lastBatchId(spark, dir)) {
      Shards.appendShards(batch, idsCol, order, dir, batchId = Some(batchId))
    }
    // else: a redelivered batch the artifact already carries — skip
  }
}
