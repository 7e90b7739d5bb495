package graft

import graft.ann.{Ann, Pq}
import graft.dedup.DedupIndex
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
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
    ListenerDrain(sc)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      ListenerDrain(sc)
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
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river bank"),
      (2L, "a completely different sentence about parquet footers and schemas"))
      .toDF("id", "text")
    val idx = graft.createTemporaryDir("dedup-job-budget")
    DedupIndex.saveDedupIndex(docs, col("id"), col("text"), idx)
    val increment = Seq((10L, "the quick brown fox jumps over the lazy dog by the river bank"))
      .toDF("id", "text")
    // buckets/ and shingles/ schemas come from their footers, not from
    // inference jobs
    val (pairs, planJobs) = jobsIn(DedupIndex.nearDupPairsAgainstIndex(increment,
      col("id"), col("text"), idx, storageLevel = StorageLevel.NONE))
    assert(planJobs == 0)
    assert(pairs.select("idA", "idB").as[(Long, Long)].collect().toSeq == Seq((10L, 1L)))
  }
}
