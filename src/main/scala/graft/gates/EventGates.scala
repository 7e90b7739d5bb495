package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DecimalType

/** Sessionization, funnel, retention and event-sequence gates over `events`. */
private[graft] object EventGates {

  /** Shared CTE chain for the funnel oracles: the sequential-min algebra of
    * [[graft.events.Funnel.funnelTimes]] over signup → view → click →
    * purchase with the 30-day window anchored at the first step. */
  private val funnelChainCte: String =
    "e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS ty FROM events " +
      "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
      "s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE ty = 'signup' GROUP BY 1), " +
      "s2 AS (SELECT e.user_id, MIN(e.t) AS t2, ANY_VALUE(s1.t1) AS t1 FROM e " +
      "JOIN s1 USING (user_id) WHERE e.ty = 'view' AND e.t > s1.t1 AND " +
      "e.t - s1.t1 <= 2592000000000 GROUP BY 1), " +
      "s3 AS (SELECT e.user_id, MIN(e.t) AS t3, ANY_VALUE(s2.t1) AS t1 FROM e " +
      "JOIN s2 USING (user_id) WHERE e.ty = 'click' AND e.t > s2.t2 AND " +
      "e.t - s2.t1 <= 2592000000000 GROUP BY 1), " +
      "s4 AS (SELECT e.user_id, MIN(e.t) AS t4 FROM e " +
      "JOIN s3 USING (user_id) WHERE e.ty = 'purchase' AND e.t > s3.t3 AND " +
      "e.t - s3.t1 <= 2592000000000 GROUP BY 1)"

  /** The per-step-anchored twin ("within W of the PREVIOUS step",
    * [[graft.events.Funnel.AnchorPreviousStep]]) with a 3-day window —
    * each chain condition subtracts the previous step's time, not t1. */
  private val funnelStepCte: String =
    "e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS ty FROM events " +
      "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
      "s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE ty = 'signup' GROUP BY 1), " +
      "s2 AS (SELECT e.user_id, MIN(e.t) AS t2 FROM e " +
      "JOIN s1 USING (user_id) WHERE e.ty = 'view' AND e.t > s1.t1 AND " +
      "e.t - s1.t1 <= 259200000000 GROUP BY 1), " +
      "s3 AS (SELECT e.user_id, MIN(e.t) AS t3 FROM e " +
      "JOIN s2 USING (user_id) WHERE e.ty = 'click' AND e.t > s2.t2 AND " +
      "e.t - s2.t2 <= 259200000000 GROUP BY 1), " +
      "s4 AS (SELECT e.user_id, MIN(e.t) AS t4 FROM e " +
      "JOIN s3 USING (user_id) WHERE e.ty = 'purchase' AND e.t > s3.t3 AND " +
      "e.t - s3.t3 <= 259200000000 GROUP BY 1)"

  private val funnelSteps = Seq("signup", "view", "click", "purchase")

  /** Per-user funnel depth and first/last step times over a funnel CTE
    * chain — the batch prediction the funnel gates and the streaming
    * twin share. */
  private def funnelUsersSql(chainCte: String): String =
    s"WITH $chainCte " +
      "SELECT s1.user_id, " +
      "CASE WHEN s4.user_id IS NOT NULL THEN 4 WHEN s3.user_id IS NOT NULL THEN 3 " +
      "WHEN s2.user_id IS NOT NULL THEN 2 ELSE 1 END AS depth, " +
      "s1.t1 AS first_step_us, " +
      "COALESCE(s4.t4, s3.t3, s2.t2, s1.t1) AS last_step_us " +
      "FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id) " +
      "LEFT JOIN s4 USING (user_id)"

  /** The weekly retention triangle: cohort = integer-DIV week of a user's
    * first event, each (cohort, offset) cell counting distinct users. */
  private def retentionSql(extraCols: String): String =
    "WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS p " +
      "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
      "f AS (SELECT user_id, MIN(p) AS cohort_period FROM e GROUP BY 1) " +
      "SELECT cohort_period, p - cohort_period AS period_offset, " +
      s"COUNT(DISTINCT user_id) AS users$extraCols " +
      "FROM e JOIN f USING (user_id) GROUP BY 1, 2"

  /** Six replay batches cut on global event-time rank, the regime where
    * the greedy streaming chain equals the batch min-aggregate. */
  private def eventTimeBatch: Column = least(floor(percent_rank().over(
    org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))) * 6),
    lit(5)).cast("int")

  val gates: Seq[Gate] = Seq(
    // sessionization: per-user view sessions split at 30-minute gaps —
    // one shuffle on user_id, both window passes share a single sort
    Gate("sessionize", (s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), eventTsUs(ev).as("ts_us"))
      graft.events.Sessionize.withSessionIndex(
        views, col("user_id"), col("ts_us"), lit(1800000000L)) // 30 min in us
    },
      "WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'view'), " +
        "m AS (SELECT event_id, user_id, ts_us, " +
        "CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)) " +
        "SELECT event_id, user_id, ts_us, " +
        "CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx " +
        "FROM m"),

    // P125 funnel analysis: per-user ordered step progression under a
    // 30-day conversion window anchored at the first step — sequential
    // min-aggregate algebra, every exchange keyed on user_id, exact
    // integer micros throughout.
    Gate("funnel_users", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.funnelTimes(ev, col("user_id"), eventTsUs(ev),
        col("event_type"), funnelSteps,
        windowUs = 2592000000000L)
    },
      funnelUsersSql(funnelChainCte)),

    Gate("funnel_report", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.funnelReport(ev, col("user_id"), eventTsUs(ev),
        col("event_type"), funnelSteps,
        windowUs = 2592000000000L)
    },
      s"WITH $funnelChainCte, " +
        "d AS (SELECT s1.user_id, CASE WHEN s4.user_id IS NOT NULL THEN 4 " +
        "WHEN s3.user_id IS NOT NULL THEN 3 WHEN s2.user_id IS NOT NULL THEN 2 " +
        "ELSE 1 END AS depth FROM s1 LEFT JOIN s2 USING (user_id) " +
        "LEFT JOIN s3 USING (user_id) LEFT JOIN s4 USING (user_id)), " +
        "steps(step_idx, step) AS (VALUES (1, 'signup'), (2, 'view'), " +
        "(3, 'click'), (4, 'purchase')) " +
        "SELECT step_idx, step, " +
        "(SELECT COUNT(*) FROM d WHERE d.depth >= steps.step_idx) AS users FROM steps"),

    // P125b the per-step-anchored funnel ("within 3 days of the PREVIOUS
    // step", the product-analytics default) — same sequential-min plan,
    // only the window subtraction re-anchors.
    Gate("funnel_users_stepwin", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.funnelTimes(ev, col("user_id"), eventTsUs(ev),
        col("event_type"), funnelSteps,
        windowUs = 259200000000L,
        anchor = graft.events.Funnel.AnchorPreviousStep)
    },
      funnelUsersSql(funnelStepCte)),

    // P125d streaming funnel: the greedy k-longs-per-user chain over an
    // ordered replay (batches cut on global event-time rank, the regime
    // where greedy == batch min-aggregate), depth transitions drained to
    // the sink and re-aggregated — the oracle is the BATCH funnel chain,
    // so the gate certifies the streaming/batch equivalence itself.
    Gate("streaming_funnel", (s, dir) => {
      val ev = t(s, dir, "events")
      val staged = ev
        .filter(col("event_type").isin(funnelSteps: _*) &&
          col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_type"), col("event_id"),
          timestamp_micros(eventTsUs(ev)).as("ts"))
      streamReplay(s, staged, eventTimeBatch, 6)(st =>
        graft.streaming.StreamingFunnel.funnelProgress(
          st, col("user_id"), "ts", col("event_type"), funnelSteps,
          windowUs = 2592000000000L).toDF())
        .groupBy(col("user_id"))
        .agg(max(col("depth")).as("depth"),
          min(col("t_us")).as("first_step_us"),
          max(col("t_us")).as("last_step_us"))
    },
      // the streaming twin must equal the BATCH chain on an ordered
      // replay — the oracle IS the batch funnel prediction
      funnelUsersSql(funnelChainCte)),

    // P126c streaming retention: the live activity triangle — cohort +
    // offset-bitmask state per user, first-hit-per-cell emission; the
    // ordered replay must reproduce the BATCH retention triangle exactly
    // (the streaming_funnel discipline; horizon 256 comfortably covers
    // the testdata's week span).
    Gate("streaming_retention", (s, dir) => {
      val ev = t(s, dir, "events")
      val staged = ev
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          timestamp_micros(eventTsUs(ev)).as("ts"))
      streamReplay(s, staged, eventTimeBatch, 6)(st =>
        graft.streaming.StreamingRetention.retentionHits(
          st, col("user_id"), "ts", periodUs = 604800000000L,
          horizon = 256).toDF())
        .groupBy(col("cohort_period"), col("period_offset"))
        .agg(count(lit(1)).as("users"))
    },
      // the streaming twin on an ordered replay equals the batch triangle
      retentionSql("")),

    // P125c the long view of the funnel chain: one row per reached step
    // per user — the raw material for time-to-convert analysis.
    Gate("funnel_step_times", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.funnelStepTimes(ev, col("user_id"), eventTsUs(ev),
        col("event_type"), funnelSteps,
        windowUs = 2592000000000L)
    },
      s"WITH $funnelChainCte " +
        "SELECT user_id, CAST(1 AS INTEGER) AS step_idx, 'signup' AS step, t1 AS t_us FROM s1 " +
        "UNION ALL SELECT user_id, CAST(2 AS INTEGER), 'view', t2 FROM s2 " +
        "UNION ALL SELECT user_id, CAST(3 AS INTEGER), 'click', t3 FROM s3 " +
        "UNION ALL SELECT user_id, CAST(4 AS INTEGER), 'purchase', t4 FROM s4"),

    // P125d time-to-convert report: per step, users reached + exact
    // BIGINT lag bounds (min/max/sum) from the PREVIOUS step — mean is a
    // trivial downstream division; step 1 lags are 0 by definition.
    Gate("funnel_lags", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.funnelLags(ev, col("user_id"), eventTsUs(ev),
        col("event_type"), funnelSteps,
        windowUs = 2592000000000L)
    },
      s"WITH $funnelChainCte, " +
        "j AS (SELECT s1.user_id, s1.t1, s2.t2, s3.t3, s4.t4 FROM s1 " +
        "LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id) " +
        "LEFT JOIN s4 USING (user_id)) " +
        "SELECT CAST(1 AS INTEGER) AS step_idx, 'signup' AS step, COUNT(t1) AS users, " +
        "CAST(0 AS BIGINT) AS min_lag_us, CAST(0 AS BIGINT) AS max_lag_us, " +
        "CAST(0 AS BIGINT) AS sum_lag_us FROM j " +
        "UNION ALL SELECT CAST(2 AS INTEGER), 'view', COUNT(t2), " +
        "CAST(COALESCE(MIN(t2 - t1), 0) AS BIGINT), CAST(COALESCE(MAX(t2 - t1), 0) AS BIGINT), " +
        "CAST(COALESCE(SUM(t2 - t1), 0) AS BIGINT) FROM j " +
        "UNION ALL SELECT CAST(3 AS INTEGER), 'click', COUNT(t3), " +
        "CAST(COALESCE(MIN(t3 - t2), 0) AS BIGINT), CAST(COALESCE(MAX(t3 - t2), 0) AS BIGINT), " +
        "CAST(COALESCE(SUM(t3 - t2), 0) AS BIGINT) FROM j " +
        "UNION ALL SELECT CAST(4 AS INTEGER), 'purchase', COUNT(t4), " +
        "CAST(COALESCE(MIN(t4 - t3), 0) AS BIGINT), CAST(COALESCE(MAX(t4 - t3), 0) AS BIGINT), " +
        "CAST(COALESCE(SUM(t4 - t3), 0) AS BIGINT) FROM j"),

    // P129 purged temporal split: time-axis leakage guard — rows within
    // 12h after each cutoff are embargoed out of both sides.
    Gate("temporal_split", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.sample.Sampling.withTemporalSplit(
        ev.select(col("event_id"), eventTsUs(ev).as("ts_us")), col("ts_us"),
        bounds = Seq(1704326400000000L, 1704585600000000L),
        names = Seq("train", "val", "test"), embargoUs = 43200000000L)
        .select(col("event_id"), col("split"))
    },
      "SELECT event_id, CASE WHEN epoch_us(ts) < 1704326400000000 THEN 'train' " +
        "WHEN epoch_us(ts) < 1704369600000000 THEN 'embargo' " +
        "WHEN epoch_us(ts) < 1704585600000000 THEN 'val' " +
        "WHEN epoch_us(ts) < 1704628800000000 THEN 'embargo' " +
        "ELSE 'test' END AS split FROM events"),

    // P127 event transition matrix: Markov estimation table — per-user
    // lead over the total (ts, event_id) order, corpus-wide pair counts.
    Gate("event_transitions", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.transitionMatrix(ev, col("user_id"), eventTsUs(ev),
        col("event_id"), col("event_type"))
    },
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, event_type " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL " +
        "AND event_id IS NOT NULL), " +
        "p AS (SELECT event_type AS from_type, " +
        "LEAD(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS to_type " +
        "FROM e) " +
        "SELECT from_type, to_type, COUNT(*) AS transitions FROM p " +
        "WHERE to_type IS NOT NULL GROUP BY 1, 2"),

    // P127b top user paths: the matrix generalized to whole journeys —
    // each user's first 5 events in (ts, event_id) total order join into
    // one path string; the 20 most-travelled paths (deterministic ties)
    // are the sankey behind every product-analytics dashboard.
    Gate("event_paths", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.topPaths(ev, col("user_id"), eventTsUs(ev),
        col("event_id"), col("event_type"), maxSteps = 5, k = 20)
    },
      // same total order + null exclusion as the matrix; paths of the
      // first 5 events, top 20 with the path-asc tie rule
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, " +
        "COALESCE(event_type, '(null)') AS et FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL), " +
        "r AS (SELECT user_id, et, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY t, event_id) AS rn FROM e), " +
        "p AS (SELECT user_id, string_agg(et, ' > ' ORDER BY rn) AS path " +
        "FROM r WHERE rn <= 5 GROUP BY user_id), " +
        "c AS (SELECT path, COUNT(*) AS users FROM p GROUP BY 1) " +
        "SELECT path, users FROM c ORDER BY users DESC, path ASC LIMIT 20"),

    // P126 retention cohorts: cohort = integer-DIV week of a user's first
    // event; each (cohort, offset) cell counts distinct users active that
    // many weeks later.
    Gate("retention_cohorts", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.events.Funnel.retentionCohorts(ev, col("user_id"), eventTsUs(ev),
        periodUs = 604800000000L)
    },
      retentionSql("")),

    // P126b approximate retention: the HLL tier (map-side-combined
    // sketches, no corpus-sized distinct shuffle) gated against the exact
    // tier with the P34 recall-gate pattern — the oracle predicts the
    // exact counts AND that every cell's estimate lands within tolerance.
    Gate("retention_cohorts_approx", (s, dir) => {
      val ev = t(s, dir, "events")
      val exact = graft.events.Funnel.retentionCohorts(
        ev, col("user_id"), eventTsUs(ev), periodUs = 604800000000L)
      val approx = graft.events.Funnel.retentionCohortsApprox(
        ev, col("user_id"), eventTsUs(ev), periodUs = 604800000000L)
      exact.join(approx, Seq("cohort_period", "period_offset"))
        .select(col("cohort_period"), col("period_offset"), col("users"),
          (abs(col("users_estimate") - col("users")).cast("double") /
            col("users").cast("double") <= lit(0.05)).as("hll_ok"))
    },
      // the oracle predicts the exact counts AND that every cell's HLL
      // estimate lands inside the tolerance (the P34 recall-gate pattern)
      retentionSql(", TRUE AS hll_ok")),

    // P115 watermark planning: deterministic disorder planted (event id%10
    // == k arrives k*3 minutes "early" in event time, i.e. up to 27 min
    // late vs the watermark its successors advance); lateness = exclusive
    // arrival-order running max minus event time in exact integer micros,
    // report = drops per candidate delay. DuckDB replays the watermark
    // recurrence with the framed window MAX.
    Gate("watermark_plan", (s, dir) => {
      val ev = t(s, dir, "events")
      val ev2 = ev.select(col("event_id"),
        timestamp_micros(eventTsUs(ev) -
          (col("event_id") % 10) * 180000000L).as("ts2"))
      graft.events.Lateness.watermarkPlan(ev2, col("event_id"), col("ts2"),
        Seq(0L, 60L, 300L, 900L, 1800L))
    },
      // P115: the watermark recurrence replayed — exclusive running max of
      // event time over arrival order, integer-microsecond drop decisions
      "WITH e AS (SELECT event_id, " +
        "epoch_us(ts) - (event_id % 10) * 180000000 AS tus FROM events), " +
        "m AS (SELECT event_id, tus, MAX(tus) OVER (ORDER BY event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm FROM e), " +
        "l AS (SELECT CASE WHEN wm IS NULL OR wm <= tus THEN 0 ELSE wm - tus END AS late FROM m), " +
        "d AS (SELECT * FROM UNNEST([0, 60, 300, 900, 1800]) AS t(delay_s)) " +
        "SELECT CAST(delay_s AS BIGINT) AS delay_s, " +
        "CAST(COUNT(*) AS BIGINT) AS events, " +
        "CAST(SUM(CASE WHEN late > delay_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS dropped, " +
        "CAST(MAX(late) AS BIGINT) AS max_lateness_us " +
        "FROM l, d GROUP BY delay_s"),

    // F2 count_null aggregate (nulls synthesized: no raw nulls in testdata)
    Gate("count_null_events", (s, dir) => {
      t(s, dir, "events").agg(
        graft.functions.count_null(
          when(col("event_type") === "error", lit(null)).otherwise(col("value"))).as("value_nulls"),
        count(lit(1)).as("n"))
    },
      "SELECT COUNT(*) FILTER (WHERE event_type = 'error' OR value IS NULL) AS value_nulls, " +
        "COUNT(*) AS n FROM events"),

    // F3-F8 .Net ticks codecs: full round-trip over order timestamps
    Gate("ticks_roundtrip", (s, dir) => {
      // o_orderdate is TIMESTAMP_NTZ; ticks codecs operate on instants
      // (session TZ is UTC in Verify/Bench, so the cast is lossless)
      val ticks = graft.functions.timestampToDotNetTicks(col("o_orderdate").cast("timestamp"))
      t(s, dir, "orders").select(
        col("o_orderkey"),
        ticks.as("ticks"),
        graft.functions.dotNetTicksToTimestamp(ticks).cast("timestamp_ntz").as("ts_rt"),
        graft.functions.dotNetTicksToUnixEpochNanos(ticks).as("epoch_nanos"),
        graft.functions.unixEpochNanosToDotNetTicks(
          graft.functions.dotNetTicksToUnixEpochNanos(ticks)).as("ticks_rt"),
        graft.functions.dotNetTicksToUnixEpoch(ticks)
          .cast(DecimalType(20, 6)).cast("double").as("epoch_sec"))
    },
      "SELECT o_orderkey, " +
        "epoch_us(o_orderdate) * 10 + 621355968000000000 AS ticks, " +
        "o_orderdate AS ts_rt, " +
        "epoch_us(o_orderdate) * 1000 AS epoch_nanos, " +
        "epoch_us(o_orderdate) * 10 + 621355968000000000 AS ticks_rt, " +
        "CAST(CAST(CAST(epoch_us(o_orderdate) AS DECIMAL(26,6)) / 1000000 AS DECIMAL(20,6)) AS DOUBLE) AS epoch_sec " +
        "FROM orders"),
  )
}
