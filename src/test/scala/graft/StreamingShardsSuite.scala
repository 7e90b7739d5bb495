package graft

import graft.streaming.StreamingShards
import graft.text.{ByteBpe, Shards, TokenizerArtifact}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming shard sink's micro-batch loop: bootstrap on the first
  * batch, batch-id idempotence on redelivery, and stream == one-shot. */
class StreamingShardsSuite extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog ran over the log and kept going"),
    (2L, "a cat and a dog met the fox"),
    (3L, "it's the quick brown fox again and again"))
    .toDF("doc_id", "text")

  private lazy val model = ByteBpe.train(docs, col("text"), numMerges = 12)
  private lazy val sep = ByteBpe.vocabSize(model)
  private lazy val enc = ByteBpe.encodeIds(coalesce(col("text"), lit("")), model)
  private lazy val tok = Some(TokenizerArtifact.Tokenizer(model, Seq("<|endoftext|>")))

  private def process(df: org.apache.spark.sql.DataFrame, batchId: Long,
                      dir: String): Unit =
    StreamingShards.processBatch(df, batchId, enc, Seq(col("doc_id")),
      capacity = 16, sepId = sep, dir = dir, tokenizer = tok,
      targetFileBytes = 128L * 1024 * 1024)

  private def rows(dir: String): Seq[(Long, Seq[Int], Long)] =
    Shards.loadShards(spark, dir).data
      .select(col("seq_id"), col("ids"), col("n_docs"))
      .as[(Long, Seq[Int], Long)].collect().toSeq.sortBy(_._1)

  test("batched replay equals one-shot; redelivered batches are skipped") {
    val dirA = java.nio.file.Files.createTempDirectory("sshards").toString + "/s"
    val dirB = java.nio.file.Files.createTempDirectory("sshards-one").toString + "/s"
    process(docs.filter(col("doc_id") < 2), 0L, dirA)   // bootstrap
    assert(Shards.lastBatchId(spark, dirA) == 0L)
    process(docs.filter(col("doc_id") < 2), 0L, dirA)   // redelivery: no-op
    process(docs.filter(col("doc_id") === 2), 1L, dirA)
    process(docs.filter(col("doc_id") === 2), 1L, dirA) // redelivery: no-op
    process(docs.filter(col("doc_id") === 3), 2L, dirA)
    assert(Shards.lastBatchId(spark, dirA) == 2L)
    Shards.saveShards(docs, enc, Seq(col("doc_id")),
      capacity = 16, sepId = sep, dir = dirB, tokenizer = tok)
    assert(rows(dirA) == rows(dirB))
    assert(Shards.verifyShards(spark, dirA).head().getAs[Boolean]("all_ok"))
  }

  test("an empty micro-batch neither bootstraps nor advances the marker") {
    val dir = java.nio.file.Files.createTempDirectory("sshards-empty").toString + "/s"
    process(docs.filter(col("doc_id") < 0), 0L, dir)
    assert(!new java.io.File(s"$dir/params").exists())
    process(docs, 1L, dir)
    assert(Shards.lastBatchId(spark, dir) == 1L)
    // a later empty batch leaves the artifact untouched
    val before = rows(dir)
    process(docs.filter(col("doc_id") < 0), 2L, dir)
    assert(rows(dir) == before && Shards.lastBatchId(spark, dir) == 1L)
  }

  test("manual appends preserve the streaming marker") {
    val dir = java.nio.file.Files.createTempDirectory("sshards-man").toString + "/s"
    process(docs.filter(col("doc_id") < 3), 5L, dir)
    Shards.appendShards(docs.filter(col("doc_id") === 3), enc,
      Seq(col("doc_id")), dir) // no batchId: marker must survive
    assert(Shards.lastBatchId(spark, dir) == 5L)
    assert(Shards.verifyShards(spark, dir).head().getAs[Boolean]("all_ok"))
  }
}
