package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.UnpersistHandle
import graft.ann.{Ann, Pq}
import graft.diff.{Diff, SnapshotDiff}
import graft.text.{ByteBpe, Shards}

/**
 * The benchmark's own tests. The generator must give identical inputs for
 * one seed and different inputs for another, and every output check must
 * pass on a real output and fail on a deliberately corrupted one.
 */
object SelfTest {

  def run(spark: SparkSession, dir: File): Boolean = {
    val results = generator(spark, dir) ++ checks(spark, dir)
    results.foreach { case (n, ok) => println(s"# selftest ${if (ok) "ok  " else "FAIL"} $n") }
    val ok = results.forall(_._2)
    println(s"# selftest ${results.count(_._2)}/${results.length} passed")
    ok
  }

  private def sameAndDiffer[A](name: String, f: Long => A): Seq[(String, Boolean)] =
    Seq(s"$name: same seed, same content" -> (f(1L) == f(1L)),
      s"$name: other seed, other content" -> (f(1L) != f(2L)))

  private def generator(spark: SparkSession, dir: File): Seq[(String, Boolean)] = {
    var n = 0
    def wetDigest(seed: Long): String = {
      n += 1
      val d = new File(dir, s"wet$n")
      Gen.writeWet(Gen.corpus(seed, 300, 2, 4), 4, d)
      Gen.filesDigest(d)
    }
    def vectors(seed: Long) = Gen.embeddings(seed, 200, 2).map { case (i, v) => (i, v.toSeq) }
    sameAndDiffer("documents", seed => Gen.corpus(seed, 500, 3, 8)) ++
      sameAndDiffer("WET files", wetDigest) ++
      sameAndDiffer("embeddings", vectors) ++
      sameAndDiffer("query sets", seed => Gen.queries(seed, Gen.embeddings(seed, 200, 2), 50).map(_._2.toSeq)) ++
      sameAndDiffer("lineitem", seed => Gen.contentHash(Gen.lineitem(spark, seed, 5000))) ++
      sameAndDiffer("lineitem next version", seed =>
        Gen.contentHash(Gen.perturb(Gen.lineitem(spark, 7L, 5000), seed)))
  }

  private def checks(spark: SparkSession, dir: File): Seq[(String, Boolean)] = {
    import spark.implicits._
    // curation survivors against the generator's independent count
    val docs = Gen.corpus(3L, 400, 2, 1)
    val docFile = new File(dir, "docs.jsonl")
    Gen.writeJsonl(docs, docFile)
    val h = UnpersistHandle()
    val (surv, report) = Workloads.curate(Workloads.readDocs(spark, docFile), h)
    val expected = Gen.expectedSurvivors(docs)
    val survivorsOk = Workloads.stages(report).last._2 == expected
    val corruptedSurvivors = surv.unionByName(surv.limit(1)).count()
    h.unpersist()

    // shard verification and the unpack round trip
    val model = ByteBpe.train(Workloads.readDocs(spark, docFile), col("text"), numMerges = 40)
    val encoded = Workloads.readDocs(spark, docFile)
      .select(col("doc_id"), ByteBpe.encodeIds(col("text"), model).as("ids")).localCheckpoint(true)
    val shardDir = new File(dir, "shards")
    Shards.saveShards(encoded, col("ids"), Seq(col("doc_id")), capacity = 64,
      sepId = ByteBpe.vocabSize(model), dir = shardDir.toString, targetFileBytes = 4096)
    def allOk() = Shards.verifyShards(spark, shardDir.toString).head().getAs[Boolean]("all_ok")
    val unpacked = Shards.unpackShards(spark, shardDir.toString).localCheckpoint(true)
    val roundTrip = Checks.unpackRoundTrip(encoded, unpacked)
    val badUnpack = Checks.unpackRoundTrip(encoded,
      unpacked.withColumn("ids", transform(col("ids"), x => x + 1)))
    val verifiedClean = allOk()
    new File(shardDir, "data").listFiles().filter(_.getName.startsWith("part-")).head.delete()
    val verifiedCorrupt = allOk()

    // patch replay and the incremental snapshot diff
    val left = Gen.lineitem(spark, 5L, 20000)
    val right = Gen.perturb(left, 5L)
    val l = new File(dir, "snap_left").toString
    val r = new File(dir, "snap_right").toString
    SnapshotDiff.writePartitionedWithManifest(left, l, Seq("ship_q"))
    SnapshotDiff.writePartitionedWithManifest(right, r, Seq("ship_q"))
    val ids = Seq("l_orderkey", "l_linenumber")
    val full = Diff.of(spark.read.parquet(l), spark.read.parquet(r), ids: _*).localCheckpoint(true)
    val patched = Diff.patchRight(full)
    val rightBack = spark.read.parquet(r)
    val snapDiff = SnapshotDiff.diffSnapshots(spark, l, r, ids, Seq("ship_q")).localCheckpoint(true)
    val changed = Gen.changedQuarters(5L)
    val tampered = snapDiff.withColumn("right_l_discount",
      when(col("l_linenumber") === 1 && col("diff") === "N", col("right_l_discount") + 1.0).otherwise(col("right_l_discount")))

    // recall of the indexed search against exact search
    val vectors = Gen.embeddings(9L, 100, 10)
    val corpus = Gen.vectorFrame(spark, vectors)
    val v = (col("vec_id"), col("embedding"))
    val ivf = Ann.trainIvf(corpus, v._1, v._2, k = 8, iterations = 2)
    val pq = Pq.trainPq(corpus, v._1, v._2, dim = Gen.Dim, m = 8, ksub = 16, iterations = 2)
    val index = new File(dir, "ann").toString
    Pq.saveAnnIndex(corpus, v._1, v._2, ivf, pq, index)
    val queries = Gen.vectorFrame(spark, Gen.queries(9L, vectors, 20))
    def topK(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val approx = topK(Pq.ivfPqTopKIndexed(queries, v._1, v._2, index, k = 10, nprobe = 4, refine = 8))
    val exact = topK(Ann.bruteForceTopK(queries, corpus, v._1, v._2, v._1, v._2, 10))
    val shifted = approx.map { case (q, ns) => q -> ns.map(_ + 1L) }

    val corrupt = Seq((1L, "x")).toDF("a", "b")
    Seq(
      "survivor count equals the independent count" -> survivorsOk,
      "survivor check fails on an extra row" -> (corruptedSurvivors != expected),
      "verifyShards all_ok on a clean shard set" -> verifiedClean,
      "verifyShards check fails on a deleted data file" -> !verifiedCorrupt,
      "unpack round trip equals encoded ids" -> roundTrip,
      "unpack check fails on altered ids" -> !badUnpack,
      "patchRight(diff) equals the right snapshot" -> Checks.sameContent(patched, rightBack),
      "patch check fails on a dropped row" -> !Checks.sameContent(patched.where(col("l_linenumber") =!= 2), rightBack),
      "diffSnapshots equals the restricted full diff" -> Checks.diffRestricted(snapDiff, full, "ship_q", changed),
      "diff check fails on an altered value" -> !Checks.diffRestricted(tampered, full, "ship_q", changed),
      "recall@10 of the indexed search reaches the floor" -> (Checks.recall(approx, exact) >= Checks.RecallFloor),
      "recall check fails on wrong neighbours" -> (Checks.recall(shifted, exact) < Checks.RecallFloor),
      "content hash tells frames apart" -> !Checks.sameContent(corrupt, corrupt.withColumn("b", lit("y"))))
  }
}
