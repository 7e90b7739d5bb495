package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge between the public `Column` API and Catalyst `Expression`s on
 * Spark 4.x, where `new Column(expr)` is no longer public (Column lives in
 * sql-api and wraps a ColumnNode). Placing this package object under
 * `org.apache.spark.sql` grants access to the `private[sql]` converters.
 *
 * Same approach as the reference's version shims
 * (/root/reference/scala-spark-4.0/org/apache/spark/sql/extension/package.scala:22-29),
 * re-implemented for Spark 4.1.2's `classic.ExpressionUtils`.
 */
package object graftext {

  /** Wrap a Catalyst expression as a public Column. */
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column. */
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every queued listener event has been delivered (the
    * listener-bus drain is private[spark]): what a `QueryExecutionListener`
    * has recorded is complete only after this. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Load a persisted frame's cache now, with the one job an adaptive
    * plan's table-cache stage submits for it, so every plan that reads it
    * afterwards finds it loaded. A plan that reads a lazily persisted frame
    * from several table-cache stages submits one load job for each stage
    * that starts before the cache is loaded, a count that depends on
    * timing. A frame that is not persisted is left as it is. */
  def loadCache(df: Dataset[_]): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).foreach { data =>
      ds.sparkSession.sparkContext.runJob(
        data.cachedRepresentation.cacheBuilder.cachedColumnBuffers,
        (_: Iterator[columnar.CachedBatch]) => ())
    }
  }

  /** Type equality ignoring nullability (DataType.sameType is private[sql]). */
  def sameType(a: types.DataType, b: types.DataType): Boolean = a.sameType(b)

  implicit class ExpressionOps(val e: Expression) extends AnyVal {
    def asColumn: Column = toColumn(e)
  }

  implicit class ColumnOps(val c: Column) extends AnyVal {
    def asExpression: Expression = toExpression(c)
  }
}
