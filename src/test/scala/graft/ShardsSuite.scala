package graft

import graft.text.{ByteBpe, Packing, Shards, TokenizerArtifact}
import graft.write.Manifest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted training shards: the save → verify → unpack → decode loop,
  * fail-loud incompleteness, corruption detection, the sizing rewrite, and
  * the unpack QA budget guard. */
class ShardsSuite extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog ran over the log and kept going for a while"),
    (2L, ""), // empty doc: packs as a bare separator, must round-trip to ''
    (3L, "a cat and a dog met the fox"),
    (4L, "it's the quick brown fox again and again and again"))
    .toDF("doc_id", "text")

  private lazy val model = ByteBpe.train(docs, col("text"), numMerges = 12)
  private lazy val sep = ByteBpe.vocabSize(model)

  private def enc = ByteBpe.encodeIds(coalesce(col("text"), lit("")), model)

  private def saveDf(df: org.apache.spark.sql.DataFrame, dir: String,
                     capacity: Int): Long =
    Shards.saveShards(df, enc,
      Seq(col("doc_id")), capacity = capacity, sepId = sep, dir = dir,
      tokenizer = Some(TokenizerArtifact.Tokenizer(model, Seq("<|endoftext|>"))))

  private def save(dir: String, capacity: Int = 16): Long =
    saveDf(docs, dir, capacity)

  private def packedRows(dir: String): Seq[(Long, Seq[Int], Long)] =
    Shards.loadShards(spark, dir).data
      .select(col("seq_id"), col("ids"), col("n_docs"))
      .as[(Long, Seq[Int], Long)].collect().toSeq.sortBy(_._1)

  private def dataFiles(dir: String): Array[java.io.File] =
    new java.io.File(s"$dir/data").listFiles().filter(f =>
      f.isFile && f.getName.endsWith(".parquet"))

  /** Rewrite data/ into `n` round-robin files and re-certify, so tests can
    * pin a multi-file layout without depending on byte-size heuristics. */
  private def spreadData(dir: String, n: Int): Unit = {
    val spread = spark.read.parquet(s"$dir/data").repartition(n).cache()
    spread.count()
    spread.write.mode("overwrite").parquet(s"$dir/data2")
    spread.unpersist()
    val target = new java.io.File(s"$dir/data")
    target.listFiles().foreach(f => if (f.isFile) f.delete())
    new java.io.File(s"$dir/data2").listFiles().foreach { f =>
      if (f.isFile && !f.getName.startsWith("."))
        java.nio.file.Files.move(f.toPath,
          new java.io.File(target, f.getName).toPath)
    }
    Manifest.writeManifestFor(spark, s"$dir/data")
  }

  private def roundTrip(dir: String): Map[Long, String] = {
    val loaded = Shards.loadShards(spark, dir)
    val ordered = docs.select(col("doc_id")).as[Long].collect().sorted
    Shards.unpackShards(spark, dir)
      .select(col("doc_idx"),
        loaded.tokenizer.get.decodeIds(col("ids")).as("decoded"))
      .as[(Long, String)].collect()
      .map { case (idx, s) => ordered(idx.toInt) -> s }.toMap
  }

  test("save → load → verify → unpack → decode round-trips the corpus") {
    val dir = java.nio.file.Files.createTempDirectory("shards").toString + "/s"
    val n = save(dir)
    val loaded = Shards.loadShards(spark, dir)
    assert(loaded.capacity == 16 && loaded.sepId == sep)
    assert(loaded.nSequences == n && n > 1)
    // the tiny corpus lands in one file (AQE coalesces the agg output;
    // the 128 MB target agrees, so no rewrite fires here)
    assert(dataFiles(dir).length == 1)
    val v = Shards.verifyShards(spark, dir).head()
    assert(v.getAs[Boolean]("all_ok") && v.getAs[Boolean]("manifest_ok") &&
      v.getAs[Boolean]("dense_ok") && v.getAs[Boolean]("sized_ok"))
    val back = roundTrip(dir)
    val expected = docs.as[(Long, String)].collect().toMap
    // empty doc emits nothing from unpack — every non-empty one must match
    assert(back == expected.filter(_._2.nonEmpty))
  }

  test("the sizing rewrite fires when files are off target and still verifies") {
    val dir = java.nio.file.Files.createTempDirectory("shards-resize").toString + "/s"
    // a 64-byte target forces the upward rewrite even on this tiny pack
    // (the bench at sf0.1 caught a _SUCCESS move collision on exactly
    // this path — keep it genuinely exercised)
    Shards.saveShards(docs, enc, Seq(col("doc_id")),
      capacity = 4, sepId = sep, dir = dir,
      tokenizer = Some(TokenizerArtifact.Tokenizer(model, Seq("<|endoftext|>"))),
      targetFileBytes = 64L)
    assert(dataFiles(dir).length > 1) // the rewrite actually ran
    assert(Shards.verifyShards(spark, dir).head().getAs[Boolean]("all_ok"))
    assert(roundTrip(dir) ==
      docs.as[(Long, String)].collect().toMap.filter(_._2.nonEmpty))
  }

  test("a half-finished save fails loudly at load (params last)") {
    val dir = java.nio.file.Files.createTempDirectory("shards-half").toString + "/s"
    Packing.packTokenIds(docs,
      ByteBpe.encodeIds(coalesce(col("text"), lit("")), model),
      Seq(col("doc_id")), capacity = 16, sepId = sep)
      .write.parquet(s"$dir/data") // data landed, params never written
    intercept[Exception] { Shards.loadShards(spark, dir) }
  }

  test("a vanished data file flips manifest_ok and all_ok") {
    val dir = java.nio.file.Files.createTempDirectory("shards-corrupt").toString + "/s"
    save(dir, capacity = 4)
    spreadData(dir, 3)
    assert(Shards.verifyShards(spark, dir).head().getAs[Boolean]("all_ok"))
    assert(dataFiles(dir).length == 3)
    assert(dataFiles(dir).head.delete())
    val v = Shards.verifyShards(spark, dir).head()
    assert(!v.getAs[Boolean]("manifest_ok") && !v.getAs[Boolean]("all_ok"))
  }

  test("an out-of-vocab id flips ids_ok even with a consistent manifest") {
    val dir = java.nio.file.Files.createTempDirectory("shards-oov").toString + "/s"
    save(dir)
    val vocabBound = 256 + 12 + 1 // merges + the <|endoftext|> special
    val poisoned = spark.read.parquet(s"$dir/data")
      .withColumn("ids", transform(col("ids"),
        (x, i) => when(col("seq_id") === 0 && i === 0, lit(vocabBound))
          .otherwise(x)))
      .cache()
    poisoned.count()
    poisoned.write.mode("overwrite").parquet(s"$dir/data2")
    poisoned.unpersist()
    val target = new java.io.File(s"$dir/data")
    target.listFiles().foreach(f => if (f.isFile) f.delete())
    new java.io.File(s"$dir/data2").listFiles().foreach { f =>
      if (f.isFile && !f.getName.startsWith("."))
        java.nio.file.Files.move(f.toPath,
          new java.io.File(target, f.getName).toPath)
    }
    Manifest.writeManifestFor(spark, s"$dir/data")
    val v = Shards.verifyShards(spark, dir).head()
    assert(v.getAs[Boolean]("manifest_ok") && v.getAs[Boolean]("dense_ok"))
    assert(!v.getAs[Boolean]("ids_ok") && !v.getAs[Boolean]("all_ok"))
  }

  test("a lost sequence flips dense_ok even with a consistent manifest") {
    val dir = java.nio.file.Files.createTempDirectory("shards-lost").toString + "/s"
    save(dir, capacity = 4)
    val trimmed = spark.read.parquet(s"$dir/data")
      .filter(col("seq_id") =!= 0).cache()
    trimmed.count()
    trimmed.write.mode("overwrite").parquet(s"$dir/data2")
    trimmed.unpersist()
    val target = new java.io.File(s"$dir/data")
    target.listFiles().foreach(f => if (f.isFile) f.delete())
    new java.io.File(s"$dir/data2").listFiles().foreach { f =>
      if (f.isFile && !f.getName.startsWith("."))
        java.nio.file.Files.move(f.toPath,
          new java.io.File(target, f.getName).toPath)
    }
    // re-certify the (wrong) contents, so only the structure check can
    // catch the lost sequence
    Manifest.writeManifestFor(spark, s"$dir/data")
    val v = Shards.verifyShards(spark, dir).head()
    assert(v.getAs[Boolean]("manifest_ok"))
    assert(!v.getAs[Boolean]("dense_ok") && !v.getAs[Boolean]("all_ok"))
  }

  test("appendShards equals a one-shot save over the union corpus (partial-tail merge)") {
    val dirA = java.nio.file.Files.createTempDirectory("shards-app").toString + "/s"
    val dirB = java.nio.file.Files.createTempDirectory("shards-one").toString + "/s"
    // capacity 16 leaves the first batch's last sequence partial, so the
    // append must fill it in place (the SwapFiles rewrite path)
    saveDf(docs.filter(col("doc_id") < 2), dirA, capacity = 16)
    val before = Shards.loadShards(spark, dirA)
    assert(before.totalIds < before.nSequences * 16) // partial tail
    val n = Shards.appendShards(docs.filter(col("doc_id") >= 2), enc,
      Seq(col("doc_id")), dirA)
    saveDf(docs, dirB, capacity = 16)
    assert(n == Shards.loadShards(spark, dirB).nSequences)
    assert(packedRows(dirA) == packedRows(dirB))
    val after = Shards.loadShards(spark, dirA)
    assert(after.totalIds == Shards.loadShards(spark, dirB).totalIds)
    assert(Shards.verifyShards(spark, dirA).head().getAs[Boolean]("all_ok"))
    assert(roundTrip(dirA) ==
      docs.as[(Long, String)].collect().toMap.filter(_._2.nonEmpty))
  }

  test("appendShards with an exactly-full tail takes the no-rewrite path") {
    val dirA = java.nio.file.Files.createTempDirectory("shards-app1").toString + "/s"
    val dirB = java.nio.file.Files.createTempDirectory("shards-one1").toString + "/s"
    // capacity 1: every sequence is exactly full, so the append never
    // rewrites an existing file — pure new-file publish
    saveDf(docs.filter(col("doc_id") < 2), dirA, capacity = 1)
    val before = Shards.loadShards(spark, dirA)
    assert(before.totalIds == before.nSequences * 1)
    Shards.appendShards(docs.filter(col("doc_id") >= 2), enc,
      Seq(col("doc_id")), dirA)
    saveDf(docs, dirB, capacity = 1)
    assert(packedRows(dirA) == packedRows(dirB))
    assert(Shards.verifyShards(spark, dirA).head().getAs[Boolean]("all_ok"))
  }

  test("appendShards of an empty batch is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("shards-app0").toString + "/s"
    val n = save(dir)
    val rows = packedRows(dir)
    assert(Shards.appendShards(docs.filter(col("doc_id") < -1), enc,
      Seq(col("doc_id")), dir) == n)
    assert(packedRows(dir) == rows)
    assert(Shards.verifyShards(spark, dir).head().getAs[Boolean]("all_ok"))
  }

  test("unpackTokenIdsRange keeps exactly the complete docs of the range") {
    // capacity 1: one id per sequence, so doc k occupies sequences
    // [start_k, start_k + n_k - 1] and every boundary case is explicit
    val packed = Packing.packTokenIds(docs, enc,
      Seq(col("doc_id")), capacity = 1, sepId = sep).cache()
    val nSeq = packed.count()
    val full = Packing.unpackTokenIds(packed, 1, sep)
      .as[(Long, Seq[Int])].collect().toMap
    // the whole range equals the full unpack
    val whole = Packing.unpackTokenIdsRange(packed, 1, sep, 0, nSeq)
      .as[(Long, Seq[Int])].collect().toMap
    assert(whole == full)
    // doc starts (ids + 1 separator each) in pack order
    val lens = docs.orderBy("doc_id")
      .select(size(enc) + 1).as[Int].collect().map(_.toLong)
    val starts = lens.scanLeft(0L)(_ + _).init
    // a range beginning exactly at doc 1's start keeps doc 1 (aligned
    // left edge) and every doc that also ENDS inside
    val from = starts(1)
    val until = starts(3) // docs 1 and 2 complete, doc 3 straddles out
    val mid = Packing.unpackTokenIdsRange(packed, 1, sep, from, until)
      .as[(Long, Seq[Int])].collect().toMap
    assert(mid == full.view.filterKeys(k => k == 1L).toMap) // doc 2 is empty
    // a range beginning MID-document drops the straddler
    val inner = Packing.unpackTokenIdsRange(packed, 1, sep, from + 1, until)
      .as[(Long, Seq[Int])].collect().toMap
    assert(inner.isEmpty)
    packed.unpersist()
  }

  test("range-clustered files prune a seq_id range read; unpackShardsRange composes") {
    val dir = java.nio.file.Files.createTempDirectory("shards-range").toString + "/s"
    // enough data for several sized files (the resize path range-clusters)
    val many = (0 until 40).map(r =>
      docs.select((col("doc_id") + r * 100L).as("doc_id"),
        concat(col("text"), lit(s" v$r")).as("text"))).reduce(_ unionAll _)
    Shards.saveShards(many, enc, Seq(col("doc_id")), capacity = 16,
      sepId = sep, dir = dir, targetFileBytes = 1024)
    // (a) per-file seq_id ranges are DISJOINT and sorted — the layout
    // claim behind "shard k is a file-aligned sequential read"
    val ranges = graft.parquet.ParquetMeta
      .parquetBlockColumns(spark, None, Seq(s"$dir/data"))
      .filter(col("column") === "seq_id")
      .select(col("filename"), col("minValue").cast("long"),
        col("maxValue").cast("long"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (_, rs) =>
        (rs.map(_._2).min, rs.map(_._3).max)
      }.toSeq.sortBy(_._1)
    assert(ranges.length >= 2, s"expected a multi-file layout, got $ranges")
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"overlapping file ranges: $ranges")
      case _ =>
    }
    // (b) the range predicate reaches the scan (pushed min/max per file)
    val q = spark.read.parquet(s"$dir/data")
      .filter(col("seq_id") >= 3 && col("seq_id") < 6)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("seq_id"),
      s"expected seq_id pushdown in:\n$plan")
    // (c) the compose equals the raw range unpack
    val viaShards = Shards.unpackShardsRange(spark, dir, 2, 5)
      .as[(Long, Seq[Int])].collect().toMap
    val raw = Packing.unpackTokenIdsRange(
      Shards.loadShards(spark, dir).data, 16, sep, 2, 5)
      .as[(Long, Seq[Int])].collect().toMap
    assert(viaShards == raw && viaShards.nonEmpty)
  }

  test("the fused mask stream persists through the plain artifact lifecycle") {
    val dir = java.nio.file.Files.createTempDirectory("shards-mask").toString + "/s"
    val mask = transform(enc, (x, i) => (i % 3 === 0).cast("int"))
    val fused = zip_with(enc, mask, (i, m) => i * 2 + (m =!= 0).cast("int"))
    Shards.saveShards(docs, fused, Seq(col("doc_id")), capacity = 16,
      sepId = sep * 2, dir = dir)
    assert(Shards.verifyShards(spark, dir).head().getAs[Boolean]("all_ok"))
    val loaded = Shards.loadShards(spark, dir).data
      .select(col("seq_id"),
        transform(col("ids"), v => shiftright(v, 1)).as("ids"),
        transform(col("ids"), v => v.bitwiseAND(1)).as("mask"))
      .as[(Long, Seq[Int], Seq[Int])].collect().toSeq.sortBy(_._1)
    val direct = Packing.packTokenIdsWithMask(docs, enc, mask,
      Seq(col("doc_id")), capacity = 16, sepId = sep)
      .select(col("seq_id"), col("ids"), col("mask"))
      .as[(Long, Seq[Int], Seq[Int])].collect().toSeq.sortBy(_._1)
    assert(loaded == direct)
  }

  test("the unpack calls leave no cache entry behind") {
    val dir = java.nio.file.Files.createTempDirectory("shards-no-cache").toString + "/s"
    save(dir)
    val packed = Shards.loadShards(spark, dir).data
    val nSeq = packed.count()
    // mask 0 everywhere keeps the fused separator at 2 * sep
    val masked = packed.withColumn("mask", transform(col("ids"), _ => lit(0)))
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "unpackTokenIds" -> (() => Packing.unpackTokenIds(packed, 16, sep)),
      "unpackTokenIdsRange" -> (() => Packing.unpackTokenIdsRange(packed, 16, sep, 0, nSeq)),
      "unpackTokenIdsWithMask" -> (() => Packing.unpackTokenIdsWithMask(masked, 16, sep)),
      "Shards.unpackShards" -> (() => Shards.unpackShards(spark, dir))
    ).foreach { case (name, unpack) =>
      spark.catalog.clearCache() // observe only this call's caches
      assert(unpack().count() == 4, name)
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a CacheManager entry")
    }
  }

  test("unpack QA budget guard fails fast past maxSequences") {
    val packed = Packing.packTokenIds(docs,
      ByteBpe.encodeIds(coalesce(col("text"), lit("")), model),
      Seq(col("doc_id")), capacity = 16, sepId = sep)
    assert(packed.count() > 1)
    val e = intercept[Exception] {
      Packing.unpackTokenIds(packed, 16, sep, maxSequences = 1).count()
    }
    assert(e.getMessage.contains("maxSequences") ||
      Option(e.getCause).exists(_.getMessage.contains("maxSequences")))
    // and the default budget leaves the operator untouched
    assert(Packing.unpackTokenIds(packed, 16, sep).count() == 4)
  }
}
