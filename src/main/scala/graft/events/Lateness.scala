package graft.events

import graft.agg.PrefixSum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Event-time disorder audit and watermark planning — the question every
 * streaming deployment answers BEFORE picking `withWatermark`: how late do
 * events actually arrive, and what fraction would each candidate watermark
 * delay silently drop? Structured Streaming discards late rows without a
 * trace once the watermark passes them, so the delay must be chosen from
 * measured disorder, not folklore; this is the batch replay of the exact
 * dropping rule over a recorded arrival log.
 *
 * The watermark recurrence is an EXCLUSIVE running max of event time over
 * arrival order (the watermark an event is tested against was advanced by
 * the events BEFORE it, never by itself): `lateness = max(0, runningMax -
 * eventTime)`, and a delay-`d` watermark drops the event iff
 * `lateness > d` (both sides in exact integer microseconds — every engine
 * replays the decision bit-for-bit; by this rule the first event and any
 * watermark-advancing event have lateness 0). At 100 TB the running max
 * goes through the three-phase plan ([[PrefixSum.withRunningMax]] — one
 * range exchange, no single-partition window); the report itself is one
 * |delays|-way explode + a map-side-combined aggregate.
 */
object Lateness {

  /**
   * Per-event lateness in microseconds against the arrival-order watermark:
   * input columns plus `outputColumn`. `arrival` must be a total order
   * (ties make "before" ambiguous — use an ingest sequence or offset).
   */
  def withLateness(df: DataFrame, arrival: Column, eventTime: Column,
                   outputColumn: String = "lateness_us"): DataFrame = {
    // collision-safe temp names (a same-named input column must not be
    // silently overwritten and dropped) — the RowNumbers discipline
    val prefix = graft.functions.distinctPrefixFor(df.columns.toSeq :+ outputColumn)
    val tusCol = prefix + "tus"
    val wmCol = prefix + "wm"
    PrefixSum.withRunningMax(
      df.withColumn(tusCol, unix_micros(eventTime)),
      col(tusCol), Seq(arrival), wmCol)
      .withColumn(outputColumn,
        greatest(coalesce(col(wmCol) - col(tusCol), lit(0L)), lit(0L)))
      .drop(tusCol, wmCol)
  }

  /**
   * Watermark planning report: one row per candidate delay —
   * `(delay_s, events, dropped, max_lateness_us)` where `dropped` counts
   * events a delay-`delay_s` watermark would discard (`lateness >
   * delay_s * 1e6`). Pick the smallest delay whose drop count is
   * acceptable; `max_lateness_us` is the delay that would drop nothing.
   */
  def watermarkPlan(df: DataFrame, arrival: Column, eventTime: Column,
                    delaysSeconds: Seq[Long]): DataFrame = {
    require(delaysSeconds.nonEmpty, "need at least one candidate delay")
    require(delaysSeconds.forall(_ >= 0), s"delays must be >= 0: $delaysSeconds")
    val lateCol = graft.functions.distinctPrefixFor(df.columns.toSeq) + "late"
    withLateness(df, arrival, eventTime, lateCol)
      .select(col(lateCol), explode(lit(delaysSeconds.toArray)).as("delay_s"))
      .groupBy(col("delay_s"))
      .agg(
        count(lit(1)).as("events"),
        sum(when(col(lateCol) > col("delay_s") * 1000000L, 1L)
          .otherwise(0L)).as("dropped"),
        max(col(lateCol)).as("max_lateness_us"))
  }
}
