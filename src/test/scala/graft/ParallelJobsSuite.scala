package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftext.drainListeners
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.{CountDownLatch, TimeUnit}

class ParallelJobsSuite extends AnyFunSuite with SparkTest {

  test("parallelJobs returns both results and leaves the caller's job group alone") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller")
    try {
      assert(graft.parallelJobs(spark)(
        () => sc.parallelize(1 to 10, 2).count(),
        () => sc.parallelize(1 to 5, 2).map(_.toString).collect().toSeq) ==
        (10L, (1 to 5).map(_.toString)))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
    } finally sc.clearJobGroup()
  }

  test("parallelJobs cancels the running sibling and settles it before rethrowing") {
    val sc = spark.sparkContext
    val slowJobStarted = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = slowJobStarted.countDown()
    }
    val siblingSettled = new AtomicBoolean(false)
    drainListeners(sc)
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      val thrown = intercept[IllegalStateException] {
        try graft.parallelJobs(spark)(
          () => {
            assert(slowJobStarted.await(60, TimeUnit.SECONDS))
            throw new IllegalStateException("first failure")
          },
          // 1600 x 100 ms on 4 cores: 40 s unless cancelled
          () => try sc.parallelize(1 to 1600, 4).map { x => Thread.sleep(100); x }.count()
            finally siblingSettled.set(true))
        finally assert(siblingSettled.get, "parallelJobs returned while the sibling job still ran")
      }
      assert(thrown.getMessage == "first failure")
      assert((System.nanoTime() - t0) / 1e9 < 20, "the sibling job was not cancelled")
      drainListeners(sc)
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
    } finally sc.removeSparkListener(listener)
  }
}
