package graft

import graft.ann.{Ann, Pq}
import graft.dedup.{Clustering, Dedup, DedupIndex}
import graft.diff.SnapshotDiff
import graft.text.{Bpe, Shards, Unigram, WordPiece}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.graftext.drainListeners
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** Spark job budgets: counts the host's load cannot blur, so a change that
  * adds a job (an extra exchange, an inference pass, an `.rdd` re-run)
  * fails here even when wall time cannot show it. */
class JobBudgetSuite extends AnyFunSuite with SparkTest {
  import spark.implicits._

  /** `body`'s result and the number of Spark jobs it submitted. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    drainListeners(sc)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      drainListeners(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `n` 16-dim vectors around 6 well-separated centres, ids from `from`. */
  private def vectors(from: Long, n: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(from)
    (0 until n).map { i =>
      val centre = i % 6
      (from + i, Seq.tabulate(16)(d =>
        (if (d % 6 == centre) 1.0f else 0.0f) + 0.05f * rnd.nextGaussian().toFloat))
    }
  }

  test("persisted IVF-PQ index: load 0 jobs, query <= 6, append <= 3") {
    val corpus = vectors(0L, 60).toDF("id", "vec")
    val ivf = Ann.trainIvf(corpus, col("id"), col("vec"), k = 6, iterations = 2)
    val pqi = Pq.trainPq(corpus, col("id"), col("vec"), dim = 16, m = 4, ksub = 8,
      iterations = 2)
    val idx = graft.createTemporaryDir("ann-job-budget")
    Pq.saveAnnIndex(corpus, col("id"), col("vec"), ivf, pqi, idx)
    val queries = vectors(0L, 6).toDF("id", "vec")
    // the params, IVF and PQ loads and the enc/ and vectors/ schemas are
    // driver-side footer reads
    val (topk, loadJobs) = jobsIn(Pq.ivfPqTopKIndexed(queries, col("id"), col("vec"),
      idx, k = 3, nprobe = 2, refine = 4))
    assert(loadJobs == 0)
    val (rows, queryJobs) = jobsIn(topk.collect())
    assert(rows.length == 6 * 3)
    assert(queryJobs <= 6, s"ivfPqTopKIndexed ran $queryJobs jobs")
    val (_, appendJobs) = jobsIn(Pq.appendToAnnIndex(vectors(1000L, 12).toDF("id", "vec"),
      col("id"), col("vec"), idx))
    assert(appendJobs <= 3, s"appendToAnnIndex ran $appendJobs jobs")
    info(s"jobs: load $loadJobs, query $queryJobs, append $appendJobs")
  }

  test("dedup index: planning an increment against it runs 0 jobs") {
    spark.catalog.clearCache() // observe only this test's caches
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river bank"),
      (2L, "a completely different sentence about parquet footers and schemas"))
      .toDF("id", "text")
    val idx = graft.createTemporaryDir("dedup-job-budget")
    DedupIndex.saveDedupIndex(docs, col("id"), col("text"), idx)
    val increment = Seq((10L, "the quick brown fox jumps over the lazy dog by the river bank"))
      .toDF("id", "text")
    // buckets/ and shingles/ schemas come from their footers, not from
    // inference jobs: the lazy pair body (what curation runs) plans with none
    val handle = UnpersistHandle()
    val (pairs, planJobs) = jobsIn(DedupIndex.pairsAgainstIndex(increment,
      col("id"), col("text"), idx, 0.8, Dedup.DefaultMaxBucketSize, handle))
    assert(planJobs == 0)
    assert(pairs.select("idA", "idB").as[(Long, Long)].collect().toSeq == Seq((10L, 1L)))
    handle.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty)
    // the public call returns pinned pairs and holds no cache
    DedupIndex.nearDupPairsAgainstIndex(increment, col("id"), col("text"), idx)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  private val curationText =
    "the cat and the dog walked to the park and it was a fine day for all of them to play"

  /** Docs for the curation pins: an exact and a near duplicate, a French
    * doc, a short doc and a contaminated doc among English ones. */
  private def curationDocs(from: Long) = Seq(
    (from, s"$curationText in the sun one"),
    (from + 1, s"$curationText in the sun one"),
    (from + 2, s"$curationText in the sun one two"),
    (from + 3, "le chat et le chien une promenade dans les rues pour une belle journee avec des amis"),
    (from + 4, "it is x y"),
    (from + 5, s"$curationText benchmark secret answer token stream here"),
    (from + 6, "a bird sang on the wall of the old house and the children ran to see it fly away"),
    (from + 7, "we read the book in the evening and talked about it with the rest of the family"))
    .toDF("id", "text")

  test("curation: curate with every stage on and an increment with its append") {
    val blocklist = Seq((99L, "benchmark secret answer token stream")).toDF("id", "text")
    val handle = UnpersistHandle()
    val ((_, report), curateJobs) = jobsIn(graft.pipeline.Curation.curate(
      curationDocs(1L), col("id"), col("text"),
      minTokens = 5, minAvgTokenLen = 1.0, minStopwordRatio = 0.01,
      maxTopBigramFraction = 0.9, blocklist = Some((blocklist, col("text"))),
      sampleRate = 0.9, unpersistHandle = handle))
    handle.unpersist()
    assert(report.as[(String, Long)].collect().map(_._1).toSeq == Seq("0_input",
      "1_langid", "2_quality", "3_exact", "4_neardup", "5_decontaminate", "6_sample"))

    val idx = graft.createTemporaryDir("curation-job-budget")
    // the index holds the first four docs, so the increment's copies of
    // them meet the index stage and its new docs survive to the append
    DedupIndex.saveDedupIndex(curationDocs(1L).filter(col("id") < 5), col("id"),
      col("text"), idx)
    val incrHandle = UnpersistHandle()
    val ((_, incrReport), incrementJobs) = jobsIn(graft.pipeline.Curation.curateIncrement(
      curationDocs(100L), col("id"), col("text"), idx,
      minTokens = 5, minAvgTokenLen = 1.0, minStopwordRatio = 0.01,
      maxTopBigramFraction = 0.9, unpersistHandle = incrHandle))
    incrHandle.unpersist()
    assert(incrReport.as[(String, Long)].collect().map(_._1).toSeq == Seq("0_input",
      "1_langid", "2_quality", "3_exact", "4_neardup_batch", "5_neardup_index"))
    info(s"jobs: curate $curateJobs, curateIncrement $incrementJobs")
    // exact pins, not ceilings: a change to how the stages run must not
    // move these counts unnoticed, in either direction
    assert(curateJobs == 27, s"curate ran $curateJobs jobs")
    assert(incrementJobs == 39, s"curateIncrement ran $incrementJobs jobs")
  }

  test("decontaminate: one call and its collect run the blocklist build and one corpus scan") {
    val docs = (1 to 40).map { i =>
      val text = s"document $i is about topic ${i % 3} with alpha beta gamma delta words"
      (i.toLong, if (i % 10 == 0) s"$text the quick brown fox jumps over the lazy dog" else text)
    }.toDF("id", "text")
    val block = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val (kept, jobs) = jobsIn(Dedup.decontaminate(docs, col("text"), block, col("text"),
      shingleSize = 5).select("id").as[Long].collect())
    assert(kept.sorted.toSeq == (1L to 40L).filter(_ % 10 != 0))
    info(s"jobs: decontaminate $jobs")
    // exact pin: the distinct blocklist collect, then the filtered scan
    assert(jobs == 2, s"decontaminate ran $jobs jobs")
  }

  test("snapshot diff: storing and diffing snapshots runs no schema-inference job") {
    val dirs = Seq("left", "right").map(s => graft.createTemporaryDir(s"snapshot-job-budget-$s"))
    val versions = Seq(
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)),
      Seq((1L, "a", 10.0), (2L, "a", 21.0), (3L, "b", 30.0)))
    val writeJobs = dirs.zip(versions).map { case (dir, rows) =>
      jobsIn(SnapshotDiff.writePartitionedWithManifest(rows.toDF("id", "p", "v"), dir,
        Seq("p")))._2
    }
    // the write and the manifest aggregate's collect; the read-back that
    // fingerprints the written files takes its schema from a footer, and
    // the manifest lands driver-side
    assert(writeJobs.forall(_ == 3), s"writePartitionedWithManifest ran $writeJobs jobs")
    // detection collects the changed partitions from the manifests (an
    // aggregate and a join); both snapshot reads take their schemas from
    // footers
    val (diff, planJobs) = jobsIn(SnapshotDiff.diffSnapshots(spark, dirs(0), dirs(1),
      Seq("id"), Seq("p")))
    assert(planJobs <= 3, s"diffSnapshots ran $planJobs jobs before its result is used")
    assert(diff.select("diff", "id").as[(String, Long)].collect().toSet ==
      Set(("N", 1L), ("C", 2L)))
    info(s"jobs: write ${writeJobs.mkString(", ")}, diffSnapshots $planJobs")
  }

  test("shards: save <= 16 jobs, unpack <= 12, append <= 22") {
    // a local table of 300 rows scans as 4 partitions under local[4]
    val docs = (1 to 300).map(i => (i.toLong, Seq.tabulate(i % 37 + 1)(j => (i * 7 + j) % 250)))
      .toDF("doc_id", "ids")
    val dir = graft.createTemporaryDir("shards-job-budget")
    val (_, saveJobs) = jobsIn(Shards.saveShards(docs, col("ids"), Seq(col("doc_id")),
      capacity = 64, sepId = 999, dir = dir))
    val (_, unpackJobs) = jobsIn(Shards.unpackShards(spark, dir).localCheckpoint(true))
    val batch = (301 to 340).map(i => (i.toLong, Seq(1, 2, 3))).toDF("doc_id", "ids")
    val (_, appendJobs) = jobsIn(Shards.appendShards(batch, col("ids"), Seq(col("doc_id")), dir))
    info(s"jobs: save $saveJobs, unpack $unpackJobs, append $appendJobs")
    assert(saveJobs <= 16, s"saveShards ran $saveJobs jobs")
    assert(unpackJobs <= 12, s"unpackShards ran $unpackJobs jobs")
    assert(appendJobs <= 22, s"appendShards ran $appendJobs jobs")
  }

  test("MinHash cluster dedup: the component pass is the pairs' only checkpoint") {
    val docs = Seq(
      (1L, curationText), (2L, curationText), (3L, s"$curationText in the sun"),
      (4L, "a bird sang on the wall of the old house and the children ran to see it fly away"))
      .toDF("id", "text")
    val (kept, clusterJobs) = jobsIn(Clustering.deduplicateMinHashClusters(docs, col("id"),
      col("text")).select("id").as[Long].collect())
    val (best, keepBestJobs) = jobsIn(Clustering.deduplicateMinHashKeepBest(docs, col("id"),
      col("text"), length(col("text"))).select("id").as[Long].collect())
    info(s"jobs: deduplicateMinHashClusters $clusterJobs, deduplicateMinHashKeepBest $keepBestJobs")
    assert(kept.toSet == Set(1L, 4L) && best.toSet == Set(3L, 4L))
    // exact pins: a pair checkpoint ahead of the component pass's own
    // costs 2 more jobs per call
    assert(clusterJobs == 16, s"deduplicateMinHashClusters ran $clusterJobs jobs")
    assert(keepBestJobs == 17, s"deduplicateMinHashKeepBest ran $keepBestJobs jobs")
  }

  test("tokenizer models: BPE, WordPiece and Unigram save and load run 0 jobs") {
    val bpe = Bpe.BpeModel(IndexedSeq(("t", "h"), ("th", "e"), ("a", "n")))
    val wp = WordPiece.WordPieceModel(IndexedSeq("##s", "[UNK]", "an", "the"))
    val ug = Unigram.UnigramModel(IndexedSeq("a", "an", "the"), IndexedSeq(-3L, -2L, -1L))
    val dir = graft.createTemporaryDir("tokenizer-job-budget")
    def load(suffix: String) = (Bpe.loadBpe(spark, s"$dir/bpe$suffix"),
      WordPiece.loadWordPiece(spark, s"$dir/wp$suffix"),
      Unigram.loadUnigram(spark, s"$dir/ug$suffix"))
    val (loaded, jobs) = jobsIn {
      Bpe.saveBpe(spark, bpe, s"$dir/bpe")
      WordPiece.saveWordPiece(spark, wp, s"$dir/wp")
      Unigram.saveUnigram(spark, ug, s"$dir/ug")
      load("")
    }
    assert(loaded == ((bpe, wp, ug)))
    info(s"jobs: save + load of three models $jobs")
    assert(jobs == 0, s"tokenizer model save + load ran $jobs jobs")
    // models persisted by a Spark job still load equal
    bpe.merges.zipWithIndex.map { case ((l, r), rank) => (rank, l, r) }
      .toDF("rank", "left", "right").coalesce(1).write.parquet(s"$dir/bpe-spark")
    wp.pieces.toDF("piece").coalesce(1).write.parquet(s"$dir/wp-spark")
    ug.pieces.zip(ug.scores).toDF("piece", "score").coalesce(1).write.parquet(s"$dir/ug-spark")
    assert(load("-spark") == ((bpe, wp, ug)))
  }
}
