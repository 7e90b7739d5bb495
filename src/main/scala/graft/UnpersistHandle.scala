package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * Handle to unpersist a DataFrame that an operator caches internally and the
 * caller cannot reach. Only the reference entry points take one, for the
 * persisted intermediate inside [[RowNumbers.withRowNumbers]] and
 * `writePartitionedBy`, and curation, for its cached survivors. Every other
 * operator leaves no cache behind: the similarity-pair operators return
 * pinned pairs ([[UnpersistHandle.pinned]]), and `PrefixSum` and the
 * operators built on it pin their partition ids with an eager local
 * checkpoint.
 *
 * Semantics match the reference
 * (/root/reference/src/main/scala/uk/co/gresearch/spark/UnpersistHandle.scala:27-72):
 * set-once; `unpersist` before `setDataFrame` throws; `SilentUnpersistHandle`
 * tolerates being unset; `NoopUnpersistHandle` ignores everything.
 */
class UnpersistHandle {
  protected var df: Option[DataFrame] = None

  private[graft] def setDataFrame(dataframe: DataFrame): DataFrame = {
    if (df.isDefined)
      throw new IllegalStateException("DataFrame has been set already, it cannot be reused.")
    df = Some(dataframe)
    dataframe
  }

  def unpersist(): Unit = unpersist(blocking = false)

  def unpersist(blocking: Boolean): Unit = {
    df.map(_.unpersist(blocking)).getOrElse {
      throw new IllegalStateException("DataFrame has to be set first")
    }
    ()
  }

  /** Load the cache of this handle's DataFrame, if one is set, before a
    * plan that reads it runs ([[org.apache.spark.sql.graftext.loadCache]]). */
  private[graft] def loadCache(): Unit = df.foreach(org.apache.spark.sql.graftext.loadCache)

  /** Run `func` with this handle's DataFrame guaranteed to be unpersisted afterwards. */
  def withUnpersist[R](blocking: Boolean = false)(func: => R): R =
    try func finally unpersist(blocking)
}

/** Unpersist handle that silently ignores a missing DataFrame. */
class SilentUnpersistHandle extends UnpersistHandle {
  override def unpersist(blocking: Boolean): Unit = {
    df.foreach(_.unpersist(blocking))
  }
}

/** Handle used when the caller opts out of caching entirely. */
case object NoopUnpersistHandle extends UnpersistHandle {
  override private[graft] def setDataFrame(dataframe: DataFrame): DataFrame = dataframe
  override def unpersist(blocking: Boolean): Unit = ()
}

object UnpersistHandle {
  def apply(): UnpersistHandle = new UnpersistHandle()
  val Noop: UnpersistHandle = NoopUnpersistHandle

  /** Persist an operator's internal intermediate at `MEMORY_AND_DISK` (the
    * one level the library caches at) and register it on `handle`, so the
    * caller can release it once the result is materialized. */
  private[graft] def persist(df: DataFrame, handle: UnpersistHandle): DataFrame =
    handle.setDataFrame(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** A pair operator's result, pinned: `plan` builds the pairs over the
    * intermediates it caches through the handle it is given (any number of
    * them), the pairs are materialized by an eager local checkpoint, and
    * every intermediate is released before returning, so the caller gets
    * lineage-free pairs and the CacheManager is left as it was. */
  private[graft] def pinned(plan: UnpersistHandle => DataFrame): DataFrame = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val handle = new UnpersistHandle {
      override private[graft] def setDataFrame(dataframe: DataFrame): DataFrame = {
        cached += dataframe
        dataframe
      }
    }
    try plan(handle).localCheckpoint(true)
    finally cached.foreach(_.unpersist(false))
  }
}
