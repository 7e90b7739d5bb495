import graft.group.SortedGroupByDataset
import graft.write.PartitionedWrite
import org.apache.spark.SparkFiles
import org.apache.spark.sql._
import org.apache.spark.storage.StorageLevel

/**
 * Top-level extension surface: import graft._ to get the Dataset/DataFrame
 * extension methods (histogram, withRowNumbers, sorted groups, partitioned
 * write) and session utilities (job descriptions, temp dirs).
 * (reference surface: /root/reference/src/main/scala/uk/co/gresearch/spark/package.scala:643-1032)
 */
package object graft {

  implicit class ExtendedDataset[V](val ds: Dataset[V]) extends AnyVal {

    /** Per-group bucket counts for ascending thresholds (SURVEY.md O22). */
    def histogram[T: Ordering](thresholds: Seq[T], valueColumn: Column,
                               aggregateColumns: Column*): DataFrame =
      Histogram.of(ds.toDF(), thresholds, valueColumn, aggregateColumns: _*)

    /** Global contiguous row numbers in the current order (SURVEY.md O23). */
    def withRowNumbers(order: Column*): DataFrame =
      RowNumbers.withRowNumbers(ds.toDF(), order = order)

    def withRowNumbers(rowNumberColumnName: String, order: Column*): DataFrame =
      RowNumbers.withRowNumbers(ds.toDF(), rowNumberColumnName, order = order)

    def withRowNumbers(storageLevel: StorageLevel, order: Column*): DataFrame =
      RowNumbers.withRowNumbers(ds.toDF(), storageLevel = storageLevel, order = order)

    def withRowNumbers(unpersistHandle: UnpersistHandle, order: Column*): DataFrame =
      RowNumbers.withRowNumbers(ds.toDF(), unpersistHandle = unpersistHandle, order = order)

    def withRowNumbers(rowNumberColumnName: String, storageLevel: StorageLevel,
                       unpersistHandle: UnpersistHandle, order: Column*): DataFrame =
      RowNumbers.withRowNumbers(ds.toDF(), rowNumberColumnName, storageLevel,
        unpersistHandle, order)

    /** Column-expression groupByKey: keeps grouping visible to Catalyst so
      * existing partitioning/ordering is exploited (SURVEY.md O18). */
    def groupByKey[K: Encoder](column: Column, columns: Column*): KeyValueGroupedDataset[K, V] =
      ds.groupBy(column +: columns: _*).as[K, V](implicitly[Encoder[K]], ds.encoder)

    /** Group by columns with per-group iterators sorted by order columns (O19). */
    def groupBySorted[K: Ordering : Encoder](columns: Column*)(order: Column*): SortedGroupByDataset[K, V] =
      SortedGroupByDataset[K, V](ds, columns, order, None)

    def groupBySorted[K: Ordering : Encoder](partitions: Int)(columns: Column*)(order: Column*): SortedGroupByDataset[K, V] =
      SortedGroupByDataset[K, V](ds, columns, order, Some(partitions))

    /** Lambda-keyed sorted grouping (O20). */
    def groupByKeySorted[K: Ordering : Encoder, O: Encoder](
        key: V => K, partitions: Option[Int] = None)(
        order: V => O, reverse: Boolean = false): SortedGroupByDataset[K, V] =
      SortedGroupByDataset[K, O, V](ds, key, order, partitions, reverse)

    /** Partitioned write with optimal file layout (O24). */
    def writePartitionedBy(
        partitionColumns: Seq[Column],
        moreFileColumns: Seq[Column] = Seq.empty,
        moreFileOrder: Seq[Column] = Seq.empty,
        partitions: Option[Int] = None,
        writtenProjection: Option[Seq[Column]] = None,
        unpersistHandle: UnpersistHandle = UnpersistHandle.Noop): DataFrameWriter[Row] =
      PartitionedWrite.writePartitionedBy(ds, partitionColumns, moreFileColumns,
        moreFileOrder, partitions, writtenProjection, unpersistHandle)
  }

  // --------------------------------------------------------------------------
  // Session/context utilities (SURVEY.md U1-U3)
  // --------------------------------------------------------------------------

  private val JobDescriptionProperty = "spark.job.description"

  /** Run `func` with the given job description; restore the previous one after. */
  def withJobDescription[T](description: String, ifNotSet: Boolean = false)
                           (func: => T)(implicit session: SparkSession): T = {
    val sc = session.sparkContext
    val previous = sc.getLocalProperty(JobDescriptionProperty)
    if (previous == null || !ifNotSet) sc.setJobDescription(description)
    try func finally sc.setJobDescription(previous)
  }

  /** Run `func` with `extra` appended to the current job description. */
  def appendJobDescription[T](extra: String, separator: String = " - ")
                             (func: => T)(implicit session: SparkSession): T = {
    val sc = session.sparkContext
    val previous = sc.getLocalProperty(JobDescriptionProperty)
    val appended = Option(previous).map(_ + separator + extra).getOrElse(extra)
    sc.setJobDescription(appended)
    try func finally sc.setJobDescription(previous)
  }

  /** Run two independent Spark actions concurrently and return both
    * results. FIFO scheduling back-fills the second job's tasks into the
    * first job's stragglers (§2.6), so wall time tracks the slower job, not
    * the sum. Both closures must consume already-materialized inputs (a
    * not-yet-materialized shared cache would be raced and computed twice)
    * or fully disjoint inputs.
    *
    * Failure: the first closure to throw cancels its sibling's running and
    * future jobs through a job group private to this call, and that first
    * failure is rethrown — but only after BOTH closures have settled, so
    * the call never returns while one of its jobs still runs. The two
    * worker threads inherit the caller's local properties (job
    * description, job tags) except the job group, which this call owns. */
  private[graft] def parallelJobs[A, B](spark: SparkSession)(a: () => A, b: () => B): (A, B) = {
    import java.util.concurrent.{Callable, ExecutionException, Executors}
    val sc = spark.sparkContext
    val group = s"graft-parallel-${java.util.UUID.randomUUID()}"
    val firstFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val pool = Executors.newFixedThreadPool(2)
    def start[T](f: () => T) = pool.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(group, sc.getLocalProperty(JobDescriptionProperty))
        try f() catch {
          case t: Throwable =>
            if (firstFailure.compareAndSet(null, t))
              sc.cancelJobGroupAndFutureJobs(group, "a parallel sibling job failed")
            throw t
        }
      }
    })
    // an interrupted caller cancels the group too, then keeps waiting
    def settle(f: java.util.concurrent.Future[_]): Unit = {
      var interrupted = false
      while (!f.isDone) {
        try f.get() catch {
          case _: ExecutionException =>
          case _: InterruptedException =>
            interrupted = true
            sc.cancelJobGroupAndFutureJobs(group, "the calling thread was interrupted")
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
    }
    try {
      val fa = start(a)
      val fb = start(b)
      settle(fa)
      settle(fb)
      Option(firstFailure.get()).foreach(t => throw t)
      (fa.get(), fb.get())
    } finally pool.shutdown()
  }

  /** Temp dir under Spark's files root (removed at application shutdown). */
  def createTemporaryDir(prefix: String): String =
    java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(SparkFiles.getRootDirectory()), prefix)
      .toString

  /** Runtime Spark version introspection (SURVEY.md U6). */
  object SparkVersion {
    val SparkVersionString: String = org.apache.spark.SPARK_VERSION
    val (sparkMajorVersion, sparkMinorVersion, sparkPatchVersion) = {
      val parts = SparkVersionString.split("[.\\-]")
      (parts(0).toInt, parts(1).toInt, parts.lift(2).flatMap(_.toIntOption).getOrElse(0))
    }
  }
}
