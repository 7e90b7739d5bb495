package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Typed row for the sorted-group query (top-level for TypeTag derivation). */
case class CustOrder(o_custkey: Long, o_orderkey: Long,
                     o_orderdate: java.sql.Timestamp, o_totalprice: Double)

/** Aggregation, grouping, join, profiling and privacy gates over the TPC-H tables. */
private[graft] object CoreGates {

  val gates: Seq[Gate] = Seq(
    // O-agg baseline: TPC-H Q1-flavor pricing summary over lineitem
    Gate("q1_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"),

    // O23 global row numbers: 3-phase plan, no single-partition window
    Gate("row_numbers", (s, dir) =>
      RowNumbers.withRowNumbers(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        order = Seq(col("o_orderkey")))
        .withColumn("row_number", col("row_number").cast("long")),
      "SELECT o_orderkey, o_totalprice, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT) AS row_number FROM orders"),

    // O22 histogram: single-pass bucket counts per group
    Gate("histogram_totalprice", (s, dir) =>
      t(s, dir, "orders")
        .histogram(Seq(100000, 200000, 300000, 400000), col("o_totalprice"), col("o_orderstatus")),
      "SELECT o_orderstatus, " +
        "COUNT(*) FILTER (WHERE o_totalprice <= 100000) AS \"≤100000\", " +
        "COUNT(*) FILTER (WHERE o_totalprice > 100000 AND o_totalprice <= 200000) AS \"≤200000\", " +
        "COUNT(*) FILTER (WHERE o_totalprice > 200000 AND o_totalprice <= 300000) AS \"≤300000\", " +
        "COUNT(*) FILTER (WHERE o_totalprice > 300000 AND o_totalprice <= 400000) AS \"≤400000\", " +
        "COUNT(*) FILTER (WHERE o_totalprice > 400000) AS \">400000\" " +
        "FROM orders GROUP BY o_orderstatus"),

    // O18 groupByKey by column expression (partitioning stays visible to Catalyst)
    Gate("group_by_key_count", (s, dir) => {
      import s.implicits._
      new ExtendedDataset(t(s, dir, "orders")).groupByKey[Long](col("o_custkey")).count()
        .toDF("o_custkey", "cnt")
    },
      "SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey"),

    // O19/O21 sorted-group iteration: per-customer running order totals
    Gate("group_sorted_running", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .as[CustOrder]
        .groupBySorted[Long]($"o_custkey")($"o_orderdate", $"o_orderkey")
        .flatMapSortedGroups { (cust, orders) =>
          var rn = 0L
          var running = java.math.BigDecimal.ZERO
          orders.map { o =>
            rn += 1
            running = running.add(
              new java.math.BigDecimal(o.o_totalprice).setScale(2, java.math.RoundingMode.HALF_UP))
            (cust, o.o_orderkey, rn, running.doubleValue)
          }
        }.toDF("o_custkey", "o_orderkey", "rn", "running_total")
    },
      "SELECT o_custkey, o_orderkey, CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total " +
        "FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING)"),

    // O20 lambda-keyed sorted grouping, reverse order: latest order per customer
    Gate("group_key_sorted_latest", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .as[CustOrder]
        .groupByKeySorted[Long, (java.sql.Timestamp, Long)](_.o_custkey)(
          o => (o.o_orderdate, o.o_orderkey), reverse = true)
        .flatMapSortedGroups { (_, orders) => Iterator.single(orders.next()) }
        .map(o => (o.o_custkey, o.o_orderkey, o.o_totalprice))
        .toDF("o_custkey", "o_orderkey", "o_totalprice")
    },
      "SELECT o_custkey, o_orderkey, o_totalprice FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn " +
        "FROM orders) WHERE rn = 1"),

    // O20 default ascending order + explicit partitions variant: earliest
    // order per customer. Together with group_key_sorted_latest this pins
    // BOTH reverse settings and the partitions overload against the oracle
    // (the explicit count only fixes the exchange width — results must be
    // partitioning-invariant).
    Gate("group_key_sorted_earliest", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .as[CustOrder]
        .groupByKeySorted[Long, (java.sql.Timestamp, Long)](
          _.o_custkey, partitions = Some(8))(
          o => (o.o_orderdate, o.o_orderkey))
        .flatMapSortedGroups { (_, orders) => Iterator.single(orders.next()) }
        .map(o => (o.o_custkey, o.o_orderkey, o.o_totalprice))
        .toDF("o_custkey", "o_orderkey", "o_totalprice")
    },
      "SELECT o_custkey, o_orderkey, o_totalprice FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn " +
        "FROM orders) WHERE rn = 1"),

    // as-of join: for each click, the latest prior error state of the same
    // user — one hash shuffle on user_id (union + per-key sort + running
    // last), no inequality-join nested loop. Compared in epoch microseconds
    // so both engines use the same integers regardless of the parquet
    // timestamp physical type (see eventTsUs).
    Gate("asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val us = eventTsUs(ev)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), us.as("ts_us"))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("user_id"), us.as("ts_us"), col("value"))
        .groupBy(col("user_id"), col("ts_us")).agg(max(col("value")).as("err_value"))
      graft.join.Joins.asofJoin(
        clicks, errs, Seq("user_id"), "ts_us", "ts_us", Seq("err_value"), prefix = "m_")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("m_ts"), col("m_err_value").as("m_value"))
    },
      // DuckDB has native ASOF JOIN — the semantics the operator reproduces
      "WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'), " +
        "r AS (SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS err_value FROM events WHERE event_type = 'error' GROUP BY 1, 2) " +
        "SELECT l.event_id, l.user_id, l.ts_us, r.ts_us AS m_ts, r.err_value AS m_value " +
        "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us"),

    // range join: attach each order to the price bands it falls in —
    // fixed-width binning turns the interval predicate into an equi-join
    // on the bin id (no broadcast-nested-loop), exact BETWEEN as post-filter
    Gate("range_join", (s, dir) => {
      val o = t(s, dir, "orders")
      val points = o.select(col("o_orderkey"), col("o_totalprice"))
      val bands = o.filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey").as("band_id"),
          (col("o_totalprice") - 1000.0).as("lo"), (col("o_totalprice") + 1000.0).as("hi"))
      graft.join.Joins.rangeJoin(points, "o_totalprice", bands, "lo", "hi", 2000.0)
        .select(col("band_id"), col("o_orderkey"), col("o_totalprice"))
    },
      "WITH i AS (SELECT o_orderkey AS band_id, o_totalprice - 1000.0 AS lo, o_totalprice + 1000.0 AS hi " +
        "FROM orders WHERE o_orderkey % 997 = 0) " +
        "SELECT i.band_id, o.o_orderkey, o.o_totalprice FROM orders o " +
        "JOIN i ON o.o_totalprice BETWEEN i.lo AND i.hi"),

    // skew-safe salted equi-join: bit-identical to the plain join (the salt
    // is internal), fact side salted, dimension side replicated 8x
    Gate("salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.join.Joins.saltedJoin(li, sup, Seq("l_suppkey"), saltFactor = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("s_name"))
    },
      // the salt never leaves the operator: plain-join SQL is the oracle
      "SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, s.s_name " +
        "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey"),

    // per-group top-k via the window-group-limit plan: map-side partial
    // top-k before the shuffle (WindowGroupLimit Partial/Final), no full
    // per-group sort — plan shape pinned in AggOpsSuite
    Gate("group_topk", (s, dir) =>
      graft.agg.TopK.topKPerGroup(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        k = 3, rankColumn = "rk"),
      "SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk " +
        "FROM orders) WHERE rk <= 3"),

    // exact heavy hitters with a bounded shuffle: Misra-Gries candidate
    // sketch (<= capacity entries per partition shuffled) + broadcast
    // semi-join exact recount — output counts are exact
    Gate("frequent_items", (s, dir) =>
      graft.agg.FrequentItems.frequentItems(
        t(s, dir, "orders"), col("o_custkey"), minSupport = 0.001, capacity = 2048),
      "SELECT CAST(o_custkey AS VARCHAR) AS item, COUNT(*) AS cnt FROM orders " +
        "GROUP BY o_custkey " +
        "HAVING COUNT(*) >= CEIL((SELECT COUNT(*) FROM orders) * 0.001)"),

    // mergeable-sketch distinct counting kept honest: exact per-group
    // distinct + DataSketches HLL estimate within 5% as a boolean gate
    Gate("hll_distinct", (s, dir) =>
      graft.agg.Profile.distinctCountGate(
        t(s, dir, "lineitem"), col("l_returnflag"), col("l_partkey"), tolerance = 0.05),
      "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_distinct, " +
        "TRUE AS hll_ok FROM lineitem GROUP BY l_returnflag"),

    // incremental distinct counting: sketch two disjoint snapshot halves
    // INDEPENDENTLY (the per-day persist), merge the sketch tables, and
    // gate the merged estimate against the exact whole-corpus distinct —
    // proving merge(sketch(A), sketch(B)) answers for A ∪ B with no rescan
    Gate("hll_merge_gate", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = graft.agg.Profile.hllSketches(
        li.filter(col("l_orderkey") % 2 === 0), col("l_returnflag"), col("l_partkey"))
      val b = graft.agg.Profile.hllSketches(
        li.filter(col("l_orderkey") % 2 === 1), col("l_returnflag"), col("l_partkey"))
      val merged = graft.agg.Profile.mergeHllSketches(
        a.unionByName(b), col("l_returnflag"), col("sketch"))
      val exact = li.select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(col("l_partkey")).as("exact_distinct"))
      exact.join(merged, "l_returnflag")
        .select(col("l_returnflag"), col("exact_distinct"),
          (abs(col("distinct_estimate") - col("exact_distinct")).cast("double") /
            col("exact_distinct").cast("double") <= 0.05).as("merge_ok"))
    },
      "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_distinct, " +
        "TRUE AS merge_ok FROM lineitem GROUP BY l_returnflag"),

    // mergeable rank-sketch quantiles kept honest: approx_percentile vs the
    // exact discrete quantile (value at floor(q*(n-1))+1 in sort order —
    // explicit definition, bit-identical in both engines). The value stays
    // the source column's own DOUBLE: a DECIMAL(18,2) cast renders
    // "52833.80" from Spark parquet but 52833.8 from DuckDB — same number,
    // different text, hash mismatch (the round-5 gate failure).
    Gate("quantile_gate", (s, dir) =>
      graft.agg.Profile.quantileGate(
        t(s, dir, "lineitem"), col("l_returnflag"),
        col("l_extendedprice"), q = 0.5,
        accuracy = 10000, tolerance = 0.01),
      // exact discrete quantile by explicit definition: the value at
      // ascending index floor(q*(n-1))+1 — no quantile_disc/percentile
      // builtin whose interpolation rule could differ between engines
      "WITH r AS (SELECT l_returnflag, l_extendedprice AS v " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL), " +
        "s AS (SELECT l_returnflag, v, " +
        "row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn, " +
        "COUNT(*) OVER (PARTITION BY l_returnflag) AS n FROM r) " +
        "SELECT l_returnflag, v AS exact_q, TRUE AS q_ok FROM s " +
        "WHERE rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1"),

    // one-pass column profile (rows/nulls/distinct/min/max per column);
    // value columns pre-cast so the text rendering is engine-portable
    // data-quality expectations: the contract gate before publishing a
    // snapshot — scalar rules share ONE aggregate pass; each unique rule is
    // one single-distinct aggregate (no Expand)
    Gate("quality_checks", (s, dir) => {
      import graft.agg.Checks.Check._
      graft.agg.Checks.run(t(s, dir, "orders"), Seq(
        NotNull("o_orderkey"),
        Unique("o_orderkey"),
        NotNull("o_custkey"),
        InRange("o_custkey", 1, 1e9),
        MatchesRegex("o_orderstatus", "^[FOP]$"),
        MinRows(100)))
    },
      "SELECT * FROM (" +
        "SELECT 'not_null' AS rule, 'o_orderkey' AS \"column\", " +
        "CAST(COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS DOUBLE) / COUNT(*) AS metric, " +
        "0.0 AS threshold, " +
        "CAST(COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS DOUBLE) / COUNT(*) <= 0.0 AS pass FROM orders " +
        "UNION ALL SELECT 'unique', 'o_orderkey', " +
        "CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS DOUBLE), 0.0, " +
        "COUNT(o_orderkey) = COUNT(DISTINCT o_orderkey) FROM orders " +
        "UNION ALL SELECT 'not_null', 'o_custkey', " +
        "CAST(COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS DOUBLE) / COUNT(*), 0.0, " +
        "CAST(COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS DOUBLE) / COUNT(*) <= 0.0 FROM orders " +
        "UNION ALL SELECT 'in_range', 'o_custkey', " +
        "CAST(COUNT(CASE WHEN o_custkey IS NOT NULL AND " +
        "(CAST(o_custkey AS DOUBLE) < 1 OR CAST(o_custkey AS DOUBLE) > 1e9) THEN 1 END) AS DOUBLE), 0.0, " +
        "COUNT(CASE WHEN o_custkey IS NOT NULL AND " +
        "(CAST(o_custkey AS DOUBLE) < 1 OR CAST(o_custkey AS DOUBLE) > 1e9) THEN 1 END) = 0 FROM orders " +
        "UNION ALL SELECT 'matches_regex', 'o_orderstatus', " +
        "CAST(COUNT(CASE WHEN o_orderstatus IS NOT NULL AND regexp_matches(o_orderstatus, '^[FOP]$') THEN 1 END) AS DOUBLE) / " +
        "COUNT(CASE WHEN o_orderstatus IS NOT NULL THEN 1 END), 1.0, " +
        "CAST(COUNT(CASE WHEN o_orderstatus IS NOT NULL AND regexp_matches(o_orderstatus, '^[FOP]$') THEN 1 END) AS DOUBLE) / " +
        "COUNT(CASE WHEN o_orderstatus IS NOT NULL THEN 1 END) >= 1.0 FROM orders " +
        "UNION ALL SELECT 'min_rows', '', CAST(COUNT(*) AS DOUBLE), 100.0, " +
        "COUNT(*) >= 100 FROM orders)"),

    // P123 referential-integrity audit: orphan fact rows against each
    // dimension via one column-pruned anti join per rule (the reference is
    // never collected). Third rule plants violations: odd orderkeys
    // vanish from the parent, so their lineitems orphan.
    Gate("integrity_checks", (s, dir) => {
      import graft.agg.Checks.Check._
      graft.agg.Checks.run(t(s, dir, "lineitem"), Seq(
        ForeignKey("l_orderkey", t(s, dir, "orders"), "o_orderkey"),
        ForeignKey("l_suppkey", t(s, dir, "supplier"), "s_suppkey"),
        ForeignKey("l_orderkey",
          t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0), "o_orderkey")))
    },
      "SELECT * FROM (" +
        "SELECT 'foreign_key' AS rule, 'l_orderkey' AS \"column\", " +
        "CAST((SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL " +
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS DOUBLE) AS metric, " +
        "0.0 AS threshold, " +
        "(SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL " +
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0 AS pass " +
        "UNION ALL SELECT 'foreign_key', 'l_suppkey', " +
        "CAST((SELECT COUNT(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL " +
        "AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS DOUBLE), 0.0, " +
        "(SELECT COUNT(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL " +
        "AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) = 0 " +
        "UNION ALL SELECT 'foreign_key', 'l_orderkey', " +
        "CAST((SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL " +
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey % 2 = 0 AND o.o_orderkey = l.l_orderkey)) AS DOUBLE), 0.0, " +
        "(SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL " +
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey % 2 = 0 AND o.o_orderkey = l.l_orderkey)) = 0)"),

    // key-skew pre-flight: the heaviest join/agg keys with their share of
    // the table — the report you run before committing a 100 TB shuffle key
    Gate("skew_report", (s, dir) =>
      graft.agg.Skew.keySkewReport(
        t(s, dir, "events"), col("user_id"), k = 10),
      "SELECT user_id AS key, cnt, CAST(cnt AS DOUBLE) / total AS share, " +
        "CAST(rk AS INT) AS rank FROM " +
        "(SELECT user_id, COUNT(*) AS cnt, SUM(COUNT(*)) OVER () AS total, " +
        "row_number() OVER (ORDER BY COUNT(*) DESC, user_id NULLS LAST) AS rk " +
        "FROM events GROUP BY user_id) WHERE rk <= 10"),

    Gate("profile_orders", (s, dir) =>
      graft.agg.Profile.profileColumns(
        t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("o_totalprice"),
          col("o_orderdate").cast("date").as("o_orderdate")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")), Seq(
      ("o_orderkey", "o_orderkey"),
      ("o_custkey", "o_custkey"),
      ("o_orderstatus", "o_orderstatus"),
      ("o_totalprice", "CAST(o_totalprice AS DECIMAL(18,2))"),
      ("o_orderdate", "CAST(o_orderdate AS DATE)")).map { case (name, expr) =>
        s"SELECT '$name' AS \"column\", COUNT(*) AS n_rows, " +
          s"COUNT(CASE WHEN $expr IS NULL THEN 1 END) AS n_nulls, " +
          s"COUNT(DISTINCT $expr) AS n_distinct, " +
          s"CAST(MIN($expr) AS VARCHAR) AS min_value, " +
          s"CAST(MAX($expr) AS VARCHAR) AS max_value FROM orders"
      }.mkString(" UNION ALL ")),

    // P103 k-anonymity: combo census over (lang, source, length-bucket)
    // quasi-identifiers — exact GROUP BY arithmetic, replayed verbatim
    Gate("k_anonymity_report", (s, dir) =>
      graft.privacy.Anonymity.kAnonymityReport(
        t(s, dir, "documents").withColumn("len_bucket", col("n_chars") % 7),
        Seq("lang", "source", "len_bucket"), k = 5),
      "SELECT lang, source, n_chars % 7 AS len_bucket, " +
        "CAST(COUNT(*) AS BIGINT) AS combo_rows, " +
        "COUNT(*) >= 5 AS k_anonymous FROM documents GROUP BY 1, 2, 3"),

    // the safe-to-train channel: rows whose quasi combo occurs >= k times
    // (ONE window-count exchange, no join — plan-pinned in AnonymitySuite).
    // k=2 keeps BOTH channels populated on the fixture (284 kept / 216
    // suppressed at sf0.01) — a vacuous 0-row gate would prove nothing
    Gate("suppress_rare_rows", (s, dir) =>
      graft.privacy.Anonymity.suppressRareRows(
        t(s, dir, "documents").withColumn("len_bucket", col("n_chars") % 7)
          .select(col("doc_id"), col("lang"), col("source"), col("len_bucket")),
        Seq("lang", "source", "len_bucket"), k = 2),
      "SELECT doc_id, lang, source, n_chars % 7 AS len_bucket " +
        "FROM documents QUALIFY " +
        "COUNT(*) OVER (PARTITION BY lang, source, n_chars % 7) >= 2"),

    // distinct-l diversity of the sensitive column inside each combo
    Gate("l_diversity_report", (s, dir) =>
      graft.privacy.Anonymity.lDiversityReport(
        t(s, dir, "documents"), Seq("lang"), col("source"), l = 3),
      "SELECT lang, CAST(COUNT(*) AS BIGINT) AS combo_rows, " +
        "CAST(COUNT(DISTINCT source) AS BIGINT) AS distinct_sensitive, " +
        "COUNT(DISTINCT source) >= 3 AS l_diverse " +
        "FROM documents GROUP BY lang"),
  )
}
