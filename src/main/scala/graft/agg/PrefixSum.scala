package graft.agg

import graft.functions.distinctPrefixFor
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Global prefix sums (running totals) without a single-partition window.
 *
 * `sum(x).over(Window.orderBy(...))` moves ALL data to one partition — the
 * same scaling cliff global `row_number` has, with the same cure
 * (see [[graft.RowNumbers]], whose three-phase plan this generalizes from
 * counting rows to summing an arbitrary numeric column):
 *
 *  1. global range order;
 *  2. pin partition ids (`spark_partition_id`, stored by an eager local
 *     checkpoint, so the sort runs when the operator is called) and
 *     compute partition-local running sums;
 *  3. per-partition totals (one tiny row each) -> cumulative offsets over a
 *     #partitions-row window -> broadcast-join the offset back and add.
 *
 * The only full-data exchange is the range sort; coordination traffic is
 * ~16 bytes per partition. The pinned frame is checkpoint data, not a
 * cache, so a call leaves nothing to release.
 */
object PrefixSum {

  /**
   * Dense partition-id frame `0..numPartitions-1` for the offsets side of
   * the three-phase plan. Per-partition totals come from a groupBy, so an
   * EMPTY partition produces no row — keying the join on pid+1 would then
   * find nothing for the partition after a gap and silently drop every
   * earlier partition's contribution. Left-joining the totals onto this
   * dense frame closes the gap: null totals are skipped by the sum/max
   * window aggregate, carrying the cumulative value forward across empty
   * partitions. `getNumPartitions` is metadata-only (no job).
   */
  private[graft] def densePids(withPid: DataFrame, pidCol: String): DataFrame =
    // dense 0..max(observed pid) DERIVED inside the plan — never
    // `withPid.rdd.getNumPartitions`: under AQE, `.rdd` finalizes the
    // adaptive plan, which MATERIALIZES the sort's shuffle stages as real
    // jobs before the caller's own action runs the same work again (a
    // measured double-job on every prefix-sum consumer, §1.2). Trailing
    // empty partitions beyond the max observed pid carry no rows, so
    // nothing needs an offset there; gap partitions in the middle stay
    // covered, which is all the pid+1-shifted join needs. The extra
    // subplan is one max over the pinned frame.
    withPid.agg(max(col(pidCol)).as("__mx"))
      .select(explode(when(col("__mx").isNull, array().cast("array<int>"))
        .otherwise(sequence(lit(0), col("__mx")))).as(pidCol))

  /**
   * Add `outputColumn` = running total of `valueCol` over the global order
   * `order` (ties broken by the trailing order columns you pass — make the
   * order total for deterministic output). `exclusive` (default) sums rows
   * STRICTLY BEFORE the current row (first row gets 0), which is what
   * offset/packing computations want; set it false for inclusive totals.
   *
   * Sums in the column's own numeric type (integral -> long, double -> double,
   * decimal -> widened decimal), so fractional inputs keep their fractions.
   */
  def withRunningTotal(
      df: DataFrame,
      valueCol: Column,
      order: Seq[Column],
      outputColumn: String = "running_total",
      exclusive: Boolean = true): DataFrame = {
    require(order.nonEmpty, "withRunningTotal needs at least one order column")
    withRunning(df, valueCol, order, outputColumn, exclusive,
      "local_sum", "partition_total", sum(_: Column),
      local => coalesce(local, lit(0)),
      (local, offset) => local + coalesce(offset, lit(0)))
  }

  /**
   * Global running MAXIMUM over `order` — the same three-phase plan as
   * [[withRunningTotal]] with max in place of sum (max is equally
   * decomposable: partition-local running max, then the cumulative max of
   * whole previous partitions, combined with `greatest`). `exclusive`
   * (default) takes the max over rows STRICTLY BEFORE the current row —
   * the first row gets null (there is no previous value; a sentinel would
   * corrupt comparisons against genuinely small values). The streaming
   * watermark recurrence is exactly an exclusive running max of event
   * time over arrival order, which is what [[graft.events.Lateness]]
   * builds on.
   */
  def withRunningMax(
      df: DataFrame,
      valueCol: Column,
      order: Seq[Column],
      outputColumn: String = "running_max",
      exclusive: Boolean = true): DataFrame = {
    require(order.nonEmpty, "withRunningMax needs at least one order column")
    // greatest ignores nulls; both-null (first row, first partition) stays null
    withRunning(df, valueCol, order, outputColumn, exclusive,
      "local_max", "partition_max", max(_: Column),
      identity, greatest(_, _))
  }

  /**
   * The three-phase plan both running aggregates share. `aggregate` is the
   * decomposable aggregate (sum or max): it computes the partition-local
   * running value, each partition's whole-partition value and the
   * cumulative value over whole previous partitions. `fillLocal` wraps the
   * local window value; `combine(local, offset)` folds the previous
   * partitions' cumulative value (null for the first partition) into it.
   * `localName` and `totalName` name the internal columns.
   */
  private def withRunning(
      df: DataFrame,
      valueCol: Column,
      order: Seq[Column],
      outputColumn: String,
      exclusive: Boolean,
      localName: String,
      totalName: String,
      aggregate: Column => Column,
      fillLocal: Column => Column,
      combine: (Column, Column) => Column): DataFrame = {
    val prefix = distinctPrefixFor(df.columns.toSeq :+ outputColumn)
    val valCol = prefix + "value"
    val pidCol = prefix + "partition_id"
    val localCol = prefix + localName
    val totalCol = prefix + totalName
    val offsetCol = prefix + "offset"

    // phase 1+2: order and pin pids as stored values, which both the
    // local window and the offsets read; partition-local running values
    val withPid = df
      .withColumn(valCol, valueCol)
      .orderBy(order: _*)
      .withColumn(pidCol, spark_partition_id())
      .localCheckpoint(eager = true)

    val bounds =
      if (exclusive) (Window.unboundedPreceding, -1L) else (Window.unboundedPreceding, Window.currentRow)
    val localWindow = Window.partitionBy(col(pidCol)).orderBy(order: _*)
      .rowsBetween(bounds._1, bounds._2)
    val withLocal = withPid.withColumn(localCol,
      fillLocal(aggregate(col(valCol)).over(localWindow)))

    // phase 3: per-partition values -> cumulative offsets (tiny window,
    // exactly #partitions rows — constant partition key documents the
    // single-partition intent and silences WindowExec's warning),
    // shifted one partition forward, broadcast back. Dense pids: with only
    // non-empty partitions in the frame, a gap partition would leave the
    // NEXT partition offset-less (see densePids)
    val cumWindow = Window.partitionBy(lit(0)).orderBy(col(pidCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = densePids(withPid, pidCol)
      .join(withPid.groupBy(col(pidCol)).agg(aggregate(col(valCol)).as(totalCol)),
        Seq(pidCol), "left")
      .withColumn(offsetCol, aggregate(col(totalCol)).over(cumWindow))
      .select((col(pidCol) + 1).as(pidCol), col(offsetCol))

    withLocal
      .join(broadcast(offsets), Seq(pidCol), "left")
      .withColumn(outputColumn, combine(col(localCol), col(offsetCol)))
      .drop(valCol, pidCol, localCol, offsetCol)
  }
}
