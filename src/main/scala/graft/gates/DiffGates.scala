package graft
package gates

import graft.SparkEntry._
import graft.diff._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Typed row for diffWith/diffAs queries. */
case class Ord(o_orderkey: Long, o_custkey: Long, o_orderstatus: String, o_totalprice: Double)

/** Subset encoder target for the diffAs query. */
case class OrdDiff(diff: String, o_orderkey: Long,
                   left_o_totalprice: Option[Double], right_o_totalprice: Option[Double])

/** Case-insensitive string equivalence for the custom-equiv diff query.
  * Operates on Catalyst-internal UTF8String values (codegen'd, no boxing of
  * row data beyond the value itself). */
object CaseInsensitiveEquiv extends math.Equiv[UTF8String] with Serializable {
  override def equiv(a: UTF8String, b: UTF8String): Boolean =
    a.toLowerCase.equals(b.toLowerCase)
}

/** Diff, snapshot-diff and SCD2 gates over deterministic perturbations of `orders`. */
private[graft] object DiffGates {

  // --- diff fixtures: two deterministic variants of `orders` -----------------
  // left:  orders except keys divisible by 3, projected to 4 columns
  // right: orders except keys divisible by 5, totalprice bumped for keys % 7 == 0
  private def diffLeft(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .filter(col("o_orderkey") % 3 =!= 0)

  private def diffRight(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .filter(col("o_orderkey") % 5 =!= 0)

  // --- SCD2 fixture: four monthly vintages of a 300-key orders slice --------
  // Presence/attr are pure functions of (key, vintage ordinal vn): price +7.0
  // from v3 for k%150==0 (run break), absent from v3 on for k%11==0 (delete),
  // absent at v2..v3 only for k%7==0 (delete + re-insert = two runs).
  private def scd2Snapshots(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
        col("o_totalprice").as("price"))
      .withColumn("vn", explode(sequence(lit(1), lit(4))))
      .where(!(col("vn").isin(2, 3) && col("o_orderkey") % 7 === 0) &&
        !(col("vn") >= 3 && col("o_orderkey") % 11 === 0))
      .select(col("o_orderkey"), col("prio"),
        when(col("vn") >= 3 && col("o_orderkey") % 150 === 0, col("price") + 7.0)
          .otherwise(col("price")).as("price"),
        concat(lit("2024-0"), col("vn")).as("v"))

  // timestamp variants for the duration-comparator query
  private def dateLeft(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
      .filter(col("o_orderkey") % 3 =!= 0)

  private def dateRight(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 13 === 0, col("o_orderdate") + expr("INTERVAL 3 HOURS"))
          .when(col("o_orderkey") % 7 === 0, col("o_orderdate") + expr("INTERVAL 30 MINUTES"))
          .otherwise(col("o_orderdate")).as("o_orderdate"))
      .filter(col("o_orderkey") % 5 =!= 0)

  private val diffLeftSql =
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0"
  private val diffRightSql =
    "SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice " +
      "FROM orders WHERE o_orderkey % 5 <> 0"
  // the four SCD2 vintages — must mirror scd2Snapshots exactly
  private val scd2SnapsSql =
    "SELECT o_orderkey, o_orderpriority AS prio, " +
      "CASE WHEN vn >= 3 AND o_orderkey % 150 = 0 THEN o_totalprice + 7.0 " +
      "ELSE o_totalprice END AS price, " +
      "'2024-0' || vn AS v " +
      "FROM orders, UNNEST([1, 2, 3, 4]) AS t(vn) " +
      "WHERE o_orderkey % 50 = 0 " +
      "AND NOT (vn IN (2, 3) AND o_orderkey % 7 = 0) " +
      "AND NOT (vn >= 3 AND o_orderkey % 11 = 0)"
  // full SCD2 rebuild replay — shared by scd2_history AND scd2_apply
  // (the incremental apply's contract is equality with this rebuild)
  private val scd2HistoryOracleSql =
    s"WITH snaps AS ($scd2SnapsSql), " +
      "vs AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS vi " +
      "       FROM (SELECT DISTINCT v FROM snaps)), " +
      "b AS (SELECT s.*, vs.vi FROM snaps s JOIN vs ON s.v = vs.v), " +
      "m AS (SELECT *, CASE WHEN LAG(vi) OVER w IS NULL " +
      "                       OR LAG(vi) OVER w != vi - 1 " +
      "                       OR prio IS DISTINCT FROM LAG(prio) OVER w " +
      "                       OR price IS DISTINCT FROM LAG(price) OVER w " +
      "                THEN 1 ELSE 0 END AS chg " +
      "      FROM b WINDOW w AS (PARTITION BY o_orderkey ORDER BY vi)), " +
      "r AS (SELECT *, SUM(chg) OVER (PARTITION BY o_orderkey ORDER BY vi) AS run FROM m), " +
      "g AS (SELECT o_orderkey, run, MIN(vi) AS fvi, MAX(vi) AS tvi, " +
      "             MIN(prio) AS prio, MIN(price) AS price " +
      "      FROM r GROUP BY o_orderkey, run) " +
      "SELECT g.o_orderkey AS o_orderkey, g.prio AS prio, g.price AS price, " +
      "v1.v AS valid_from, v2.v AS valid_to, v2.v IS NULL AS is_current " +
      "FROM g JOIN vs v1 ON v1.vi = g.fvi LEFT JOIN vs v2 ON v2.vi = g.tvi + 1"
  private def diffCte = s"WITH l AS ($diffLeftSql), r AS ($diffRightSql)"
  private val changed =
    "l.o_custkey IS DISTINCT FROM r.o_custkey OR " +
      "l.o_orderstatus IS DISTINCT FROM r.o_orderstatus OR " +
      "l.o_totalprice IS DISTINCT FROM r.o_totalprice"
  private val action =
    "CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
      s"WHEN $changed THEN 'C' ELSE 'N' END AS diff"
  /** The key and each side's three value columns of `l` FULL OUTER JOIN `r`. */
  private val sideBySideFrom =
    "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
      "l.o_custkey AS left_o_custkey, r.o_custkey AS right_o_custkey, " +
      "l.o_orderstatus AS left_o_orderstatus, r.o_orderstatus AS right_o_orderstatus, " +
      "l.o_totalprice AS left_o_totalprice, r.o_totalprice AS right_o_totalprice " +
      "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"

  private val plainDiffSelect = s"$diffCte SELECT $action, " + sideBySideFrom

  // snapshot-diff CTEs: the same left/right perturbation of orders as the
  // gates, plus the changed-partition set derived by exact multiset
  // difference (== fingerprint detection when nothing XOR-cancels)
  private val snapCte =
    "WITH l AS (SELECT o_orderkey, o_orderpriority AS prio, o_totalprice FROM orders), " +
      "r AS (SELECT o_orderkey, prio, " +
      "CASE WHEN prio = '1-URGENT' AND o_orderkey % 10 = 0 " +
      "THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice " +
      "FROM l WHERE NOT (prio = '2-HIGH' AND o_orderkey % 7 = 0) " +
      "UNION ALL " +
      "SELECT o_orderkey + 100000000, 'Z-NEW', o_totalprice " +
      "FROM l WHERE prio = '5-LOW' AND o_orderkey % 100 = 0), " +
      "d AS (SELECT prio FROM (" +
      "(SELECT * FROM l EXCEPT ALL SELECT * FROM r) " +
      "UNION ALL " +
      "(SELECT * FROM r EXCEPT ALL SELECT * FROM l)) x GROUP BY prio)"

  /** The two manifest'd snapshots the snapshot gates read, under a fresh
    * root: `left` is `orders` partitioned by priority, `right` perturbs
    * '1-URGENT' prices (keys % 10 == 0), deletes '2-HIGH' keys % 7 == 0
    * and adds a 'Z-NEW' partition — the perturbation [[snapCte]] rebuilds. */
  private def writeSnapshots(s: SparkSession, dir: String): String = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
        col("o_totalprice"))
    val right = orders
      .withColumn("o_totalprice",
        when(col("prio") === "1-URGENT" && col("o_orderkey") % 10 === 0,
          col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
      .where(!(col("prio") === "2-HIGH" && col("o_orderkey") % 7 === 0))
      .unionAll(orders
        .where(col("prio") === "5-LOW" && col("o_orderkey") % 100 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit("Z-NEW").as("prio"), col("o_totalprice")))
    val root = java.nio.file.Files
      .createTempDirectory("graft_snapshot_gate").toString
    graft.diff.SnapshotDiff.writePartitionedWithManifest(
      orders, s"$root/left", Seq("prio"))
    graft.diff.SnapshotDiff.writePartitionedWithManifest(
      right, s"$root/right", Seq("prio"))
    root
  }

  val gates: Seq[Gate] = Seq(
    // O1 diff: default ColumnByColumn mode
    Gate("diff_orders", (s, dir) =>
      diffLeft(s, dir).diff(diffRight(s, dir), "o_orderkey"), plainDiffSelect),

    // patch closure: replay the diff over the left snapshot and get the
    // right snapshot back, row for row — the oracle recomputes the right
    // side DIRECTLY, never touching the diff
    Gate("diff_patch_right", (s, dir) =>
      graft.diff.Diff.patchRight(
        diffLeft(s, dir).diff(diffRight(s, dir), "o_orderkey")), diffRightSql),

    // P95 incremental snapshot diff: two manifest'd hive-partitioned
    // snapshots of orders (partitioned by o_orderpriority); the right
    // snapshot perturbs '1-URGENT' prices (keys % 10 == 0), deletes
    // '2-HIGH' keys % 7 == 0, and adds a 'Z-NEW' partition. diffSnapshots
    // detects changed partitions from the MANIFESTS alone and row-diffs
    // only those (static partition pruning pinned in SnapshotDiffSuite).
    // Oracle: the full relational diff restricted to partitions with any
    // multiset difference — identical to fingerprint detection on data
    // with no XOR-cancelling even-multiplicity swaps (none planted).
    Gate("snapshot_diff", (s, dir) => {
      val root = writeSnapshots(s, dir)
      graft.diff.SnapshotDiff.diffSnapshots(s, s"$root/left", s"$root/right",
        Seq("o_orderkey"), Seq("prio"))
        .select(col("diff"), col("o_orderkey"),
          col("left_prio"), col("right_prio"),
          col("left_o_totalprice"), col("right_o_totalprice"))
    },
      s"$snapCte SELECT " +
        "CASE WHEN l2.o_orderkey IS NULL THEN 'I' " +
        "WHEN r2.o_orderkey IS NULL THEN 'D' " +
        "WHEN l2.prio IS DISTINCT FROM r2.prio " +
        "OR l2.o_totalprice IS DISTINCT FROM r2.o_totalprice THEN 'C' " +
        "ELSE 'N' END AS diff, " +
        "COALESCE(l2.o_orderkey, r2.o_orderkey) AS o_orderkey, " +
        "l2.prio AS left_prio, r2.prio AS right_prio, " +
        "l2.o_totalprice AS left_o_totalprice, r2.o_totalprice AS right_o_totalprice " +
        "FROM (SELECT * FROM l WHERE prio IN (SELECT prio FROM d)) l2 " +
        "FULL OUTER JOIN (SELECT * FROM r WHERE prio IN (SELECT prio FROM d)) r2 " +
        "ON l2.o_orderkey = r2.o_orderkey"),

    // the partition-level change report of the same two snapshots, read
    // from the manifest sidecars only (KB of IO at any snapshot size)
    Gate("snapshot_changed", (s, dir) => {
      val root = writeSnapshots(s, dir)
      graft.diff.SnapshotDiff.changedPartitions(
        graft.diff.SnapshotDiff.partitionManifestSummary(s, s"$root/left", Seq("prio")),
        graft.diff.SnapshotDiff.partitionManifestSummary(s, s"$root/right", Seq("prio")),
        Seq("prio"))
        .select(col("prio"), col("status"), col("rows_left"), col("rows_right"))
    },
      s"$snapCte, lc AS (SELECT prio, COUNT(*) AS rows_left FROM l GROUP BY prio), " +
        "rc AS (SELECT prio, COUNT(*) AS rows_right FROM r GROUP BY prio) " +
        "SELECT COALESCE(lc.prio, rc.prio) AS prio, " +
        "CASE WHEN rc.prio IS NULL THEN 'removed' " +
        "WHEN lc.prio IS NULL THEN 'added' " +
        "WHEN COALESCE(lc.prio, rc.prio) IN (SELECT prio FROM d) THEN 'changed' " +
        "ELSE 'unchanged' END AS status, " +
        "lc.rows_left AS rows_left, rc.rows_right AS rows_right " +
        "FROM lc FULL OUTER JOIN rc ON lc.prio = rc.prio"),

    // P110 SCD2 history build: four deterministic monthly vintages of a
    // 300-key orders slice — price changes from v3 (k%150), hard deletes
    // from v3 (k%11), and a delete+re-insert hole at v2..v3 (k%7, which
    // must yield TWO runs for the same key/attrs — the gap rule). Oracle:
    // DuckDB replays the full window algebra (version index → lag-based
    // run breaks → run grouping → exclusive valid_to lookup).
    Gate("scd2_history", (s, dir) => {
      graft.diff.History.fromSnapshots(
        scd2Snapshots(s, dir), "v", Seq("o_orderkey"))
        .select(col("o_orderkey"), col("prio"), col("price"),
          col("valid_from"), col("valid_to"), col("is_current"))
    },
      // P110: full window-algebra replay of the SCD2 build — version index,
      // lag-based run breaks (null-safe attr compare + the gap rule), run
      // grouping, exclusive valid_to via the vi+1 lookup.
      scd2HistoryOracleSql),

    // P128 incremental SCD2 apply: history of vintages 1..3, then the
    // 2024-04 snapshot applied WITHOUT a rebuild — the oracle replays the
    // full four-vintage build, so incremental == rebuild is the gate.
    Gate("scd2_apply", (s, dir) => {
      val snaps = scd2Snapshots(s, dir)
      val hist = graft.diff.History.fromSnapshots(
        snaps.filter(col("v") < "2024-04"), "v", Seq("o_orderkey"))
      graft.diff.History.applySnapshot(hist,
        snaps.filter(col("v") === "2024-04").drop("v"),
        "2024-04", "v", Seq("o_orderkey"))
        .select(col("o_orderkey"), col("prio"), col("price"),
          col("valid_from"), col("valid_to"), col("is_current"))
    },
      // P128: the incremental apply must equal the FULL four-vintage
      // rebuild row for row — the oracle IS the scd2_history replay.
      scd2HistoryOracleSql),

    // P110 round-trip: snapshotAt reconstructs the 2024-03 vintage exactly
    // from the history table — the oracle recomputes that vintage DIRECTLY
    // from orders, never touching the history.
    Gate("scd2_snapshot_at", (s, dir) => {
      val hist = graft.diff.History.fromSnapshots(
        scd2Snapshots(s, dir), "v", Seq("o_orderkey"))
      graft.diff.History.snapshotAt(hist, "2024-03", "v")
        .select(col("o_orderkey"), col("prio"), col("price"), col("v"))
    },
      // P110 round-trip: the 2024-03 vintage recomputed directly, never
      // touching the history table.
      s"WITH snaps AS ($scd2SnapsSql) " +
        "SELECT o_orderkey, prio, price, v FROM snaps WHERE v = '2024-03'"),

    // O6 diff modes: LeftSide projection
    Gate("diff_orders_leftside", (s, dir) =>
      diffLeft(s, dir).diff(diffRight(s, dir),
        DiffOptions.default.withDiffMode(DiffMode.LeftSide), "o_orderkey"),
      s"$diffCte SELECT $action, " +
        "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
        "l.o_custkey AS o_custkey, l.o_orderstatus AS o_orderstatus, l.o_totalprice AS o_totalprice " +
        "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

    // O6 diff modes: SideBySide (same column names as ColumnByColumn; layout
    // differs, and the oracle compare is order-insensitive by design)
    Gate("diff_orders_sidebyside", (s, dir) =>
      diffLeft(s, dir).diff(diffRight(s, dir),
        DiffOptions.default.withDiffMode(DiffMode.SideBySide), "o_orderkey"), plainDiffSelect),

    // O7 sparse mode
    Gate("diff_orders_sparse", (s, dir) =>
      diffLeft(s, dir).diff(diffRight(s, dir),
        DiffOptions.default.withSparseMode(true), "o_orderkey"),
      s"$diffCte SELECT $action, " +
        "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
        "CASE WHEN l.o_custkey IS DISTINCT FROM r.o_custkey THEN l.o_custkey END AS left_o_custkey, " +
        "CASE WHEN l.o_custkey IS DISTINCT FROM r.o_custkey THEN r.o_custkey END AS right_o_custkey, " +
        "CASE WHEN l.o_orderstatus IS DISTINCT FROM r.o_orderstatus THEN l.o_orderstatus END AS left_o_orderstatus, " +
        "CASE WHEN l.o_orderstatus IS DISTINCT FROM r.o_orderstatus THEN r.o_orderstatus END AS right_o_orderstatus, " +
        "CASE WHEN l.o_totalprice IS DISTINCT FROM r.o_totalprice THEN l.o_totalprice END AS left_o_totalprice, " +
        "CASE WHEN l.o_totalprice IS DISTINCT FROM r.o_totalprice THEN r.o_totalprice END AS right_o_totalprice " +
        "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

    // O4 change column
    Gate("diff_orders_changes", (s, dir) =>
      diffLeft(s, dir).diff(diffRight(s, dir),
        DiffOptions.default.withChangeColumn("changed"), "o_orderkey")
        .withColumn("changed",
          when(col("changed").isNull, lit(null)).otherwise(concat_ws(",", col("changed")))),
      s"$diffCte SELECT $action, " +
        "CASE WHEN l.o_orderkey IS NULL OR r.o_orderkey IS NULL THEN NULL ELSE " +
        "rtrim(concat(" +
        "CASE WHEN l.o_custkey IS DISTINCT FROM r.o_custkey THEN 'o_custkey,' ELSE '' END, " +
        "CASE WHEN l.o_orderstatus IS DISTINCT FROM r.o_orderstatus THEN 'o_orderstatus,' ELSE '' END, " +
        "CASE WHEN l.o_totalprice IS DISTINCT FROM r.o_totalprice THEN 'o_totalprice,' ELSE '' END), ',') END AS changed, " +
        sideBySideFrom),

    // O10 ignore columns: right side's o_orderstatus is lowercased — a default
    // diff would flag C; ignoring the column keeps N while carrying both sides
    Gate("diff_orders_ignore", (s, dir) =>
      Diff.of(diffLeft(s, dir),
        diffRight(s, dir).withColumn("o_orderstatus", lower(col("o_orderstatus"))),
        Seq("o_orderkey"), Seq("o_orderstatus")),
      s"WITH l AS ($diffLeftSql), r0 AS ($diffRightSql), " +
        "r AS (SELECT o_orderkey, o_custkey, lower(o_orderstatus) AS o_orderstatus, o_totalprice FROM r0) " +
        "SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
        "WHEN l.o_custkey IS DISTINCT FROM r.o_custkey OR l.o_totalprice IS DISTINCT FROM r.o_totalprice " +
        "THEN 'C' ELSE 'N' END AS diff, " +
        "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
        "l.o_custkey AS left_o_custkey, r.o_custkey AS right_o_custkey, " +
        "l.o_totalprice AS left_o_totalprice, r.o_totalprice AS right_o_totalprice, " +
        "l.o_orderstatus AS left_o_orderstatus, r.o_orderstatus AS right_o_orderstatus " +
        "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

    // O13 epsilon comparator: totalprice bump of +10 within relative epsilon
    Gate("diff_orders_epsilon", (s, dir) =>
      diffLeft(s, dir).diff(diffRight(s, dir),
        DiffOptions.default.withComparator(
          DiffComparators.epsilon(0.001).asRelative().asInclusive(), "o_totalprice"),
        "o_orderkey"),
      s"$diffCte SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
        "WHEN l.o_custkey IS DISTINCT FROM r.o_custkey OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus " +
        "OR NOT (ABS(l.o_totalprice - r.o_totalprice) <= 0.001 * GREATEST(ABS(l.o_totalprice), ABS(r.o_totalprice))) " +
        "THEN 'C' ELSE 'N' END AS diff, " +
        sideBySideFrom),

    // O14 whitespace-agnostic string comparator: right status padded with
    // tabs/spaces compares equal
    Gate("diff_orders_whitespace", (s, dir) =>
      diffLeft(s, dir).diff(
        diffRight(s, dir).withColumn("o_orderstatus",
          concat(lit("\t"), col("o_orderstatus"), lit("  "))),
        DiffOptions.default.withComparator(DiffComparators.string(), "o_orderstatus"),
        "o_orderkey"),
      s"WITH l AS ($diffLeftSql), r0 AS ($diffRightSql), " +
        "r AS (SELECT o_orderkey, o_custkey, concat(chr(9), o_orderstatus, '  ') AS o_orderstatus, o_totalprice FROM r0) " +
        "SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
        "WHEN l.o_custkey IS DISTINCT FROM r.o_custkey OR l.o_totalprice IS DISTINCT FROM r.o_totalprice " +
        "OR trim(regexp_replace(l.o_orderstatus, '\\s+', ' ', 'g')) IS DISTINCT FROM trim(regexp_replace(r.o_orderstatus, '\\s+', ' ', 'g')) " +
        "THEN 'C' ELSE 'N' END AS diff, " +
        sideBySideFrom),

    // O15 duration comparator: 30min skew within 1h tolerance, 3h skew beyond
    Gate("diff_orders_duration", (s, dir) =>
      dateLeft(s, dir).diff(dateRight(s, dir),
        DiffOptions.default.withComparator(
          DiffComparators.duration(java.time.Duration.ofHours(1)), "o_orderdate"),
        "o_orderkey"),
      "WITH l AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey % 3 <> 0), " +
        "r AS (SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 13 = 0 THEN o_orderdate + INTERVAL 3 HOUR " +
        "WHEN o_orderkey % 7 = 0 THEN o_orderdate + INTERVAL 30 MINUTE " +
        "ELSE o_orderdate END AS o_orderdate " +
        "FROM orders WHERE o_orderkey % 5 <> 0) " +
        "SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
        "WHEN NOT (ABS(epoch_us(l.o_orderdate) - epoch_us(r.o_orderdate)) <= 3600000000) " +
        "THEN 'C' ELSE 'N' END AS diff, " +
        "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
        "l.o_orderdate AS left_o_orderdate, r.o_orderdate AS right_o_orderdate " +
        "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

    // O17 custom Equiv Catalyst expression: case-insensitive status compare
    Gate("diff_orders_equiv", (s, dir) =>
      diffLeft(s, dir).diff(
        diffRight(s, dir).withColumn("o_orderstatus", lower(col("o_orderstatus"))),
        DiffOptions.default.withComparator(
          DiffComparators.equiv(CaseInsensitiveEquiv, StringType), "o_orderstatus"),
        "o_orderkey"),
      s"WITH l AS ($diffLeftSql), r0 AS ($diffRightSql), " +
        "r AS (SELECT o_orderkey, o_custkey, lower(o_orderstatus) AS o_orderstatus, o_totalprice FROM r0) " +
        "SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
        "WHEN l.o_custkey IS DISTINCT FROM r.o_custkey OR l.o_totalprice IS DISTINCT FROM r.o_totalprice " +
        "OR lower(l.o_orderstatus) IS DISTINCT FROM lower(r.o_orderstatus) " +
        "THEN 'C' ELSE 'N' END AS diff, " +
        sideBySideFrom),

    // O16 map comparator: same entries, opposite key order on the right —
    // order-insensitive equality keeps N; only the %7 price bump flags C.
    // Output is action+id only, so the oracle derives the action from the
    // underlying scalars without needing map values.
    Gate("diff_orders_map", (s, dir) => {
      val l = t(s, dir, "orders").filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"),
          map(lit("price"), col("o_totalprice"),
            lit("cust"), col("o_custkey").cast("double")).as("m"))
      val r = t(s, dir, "orders").filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          map(lit("cust"), col("o_custkey").cast("double"),
            lit("price"), when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
              .otherwise(col("o_totalprice"))).as("m"))
      l.diff(r, DiffOptions.default.withComparator(DiffComparators.map[String, Double](), "m"),
        "o_orderkey")
        .select(col("diff"), col("o_orderkey"))
    },
      "WITH l AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 <> 0), " +
        "r AS (SELECT o_orderkey, (o_orderkey % 7 = 0) AS bumped FROM orders WHERE o_orderkey % 5 <> 0) " +
        "SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
        "WHEN r.bumped THEN 'C' ELSE 'N' END AS diff, " +
        "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey " +
        "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

    // O9 diffWith: typed (action, left, right) tuples, flattened for the gate
    Gate("diff_with_orders", (s, dir) => {
      import s.implicits._
      Diff.ofWith(diffLeft(s, dir).as[Ord], diffRight(s, dir).as[Ord], Seq("o_orderkey"))
        .select(col("_1").as("diff"),
          col("_2.o_orderkey").as("l_o_orderkey"), col("_2.o_custkey").as("l_o_custkey"),
          col("_2.o_orderstatus").as("l_o_orderstatus"), col("_2.o_totalprice").as("l_o_totalprice"),
          col("_3.o_orderkey").as("r_o_orderkey"), col("_3.o_custkey").as("r_o_custkey"),
          col("_3.o_orderstatus").as("r_o_orderstatus"), col("_3.o_totalprice").as("r_o_totalprice"))
    },
      s"$diffCte SELECT " +
        "CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
        s"WHEN $changed THEN 'C' ELSE 'N' END AS diff, " +
        "l.o_orderkey AS l_o_orderkey, l.o_custkey AS l_o_custkey, " +
        "l.o_orderstatus AS l_o_orderstatus, l.o_totalprice AS l_o_totalprice, " +
        "r.o_orderkey AS r_o_orderkey, r.o_custkey AS r_o_custkey, " +
        "r.o_orderstatus AS r_o_orderstatus, r.o_totalprice AS r_o_totalprice " +
        "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

    // O8 diffAs: typed subset encoder (deserialization forced via map(identity))
    Gate("diff_as_orders", (s, dir) => {
      import s.implicits._
      Diff.ofAs[Ord, Ord, OrdDiff](diffLeft(s, dir).as[Ord], diffRight(s, dir).as[Ord],
        Seq("o_orderkey")).map(identity).toDF()
    },
      s"$diffCte SELECT " +
        "CASE WHEN l.o_orderkey IS NULL THEN 'I' WHEN r.o_orderkey IS NULL THEN 'D' " +
        s"WHEN $changed THEN 'C' ELSE 'N' END AS diff, " +
        "COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey, " +
        "l.o_totalprice AS left_o_totalprice, r.o_totalprice AS right_o_totalprice " +
        "FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey"),

    // O30 Diff App CLI end-to-end: write inputs, run app with --statistics, read back
    Gate("diff_app_stats", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_app").toString
      diffLeft(s, dir).write.mode("overwrite").parquet(s"$tmp/left")
      diffRight(s, dir).write.mode("overwrite").parquet(s"$tmp/right")
      graft.app.DiffApp.run(s, graft.app.DiffApp.parse(Seq(
        "--id", "o_orderkey", "--statistics", s"$tmp/left", s"$tmp/right", s"$tmp/out")))
      s.read.parquet(s"$tmp/out")
    },
      s"$diffCte SELECT diff, CAST(COUNT(*) AS BIGINT) AS \"count\" FROM (" +
        s"SELECT $action FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey" +
        ") GROUP BY diff"),
  )
}
