package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext._

import graft.functions.KmvBottomK

/**
 * Corpus-vs-corpus overlap WITHOUT a join: KMV (k-minimum-values)
 * coordinated sampling over document fingerprints.
 *
 * [[graft.dedup.Dedup.crossCorpusNearDuplicates]] answers "WHICH documents
 * overlap" with a banded equi-join; this answers the cheaper, earlier
 * question — "HOW MUCH do these corpora overlap?" — the go/no-go a curation
 * pipeline asks before paying for pairwise dedup between a new crawl and
 * 100 TB of existing data. Each corpus reduces to its `k` smallest distinct
 * `md5(value)` hashes in one bounded aggregation pass (the
 * [[graft.functions.KmvBottomK]] sketch: partial aggregation trims map-side,
 * so every task ships at most `k` 32-byte strings — communication is
 * corpus-size-independent). Because md5 is a fixed hash, the two bottom-k
 * sets are a COORDINATED sample: the same document draws the same hash in
 * both corpora, which is what makes set-operation estimates valid
 * (Beyer et al., SIGMOD 2007).
 *
 * Estimator: with `X` = the k smallest of `sketch(A) ∪ sketch(B)`,
 * `J ≈ |X ∩ sketch(A) ∩ sketch(B)| / |X|` — every step is a deterministic
 * function of the hashes, so the DuckDB oracle replays it exactly (no
 * tolerance band needed).
 */
object CorpusOverlap {

  /** Bottom-k distinct values of `c` (ascending array), as a Column. */
  def kmvBottomK(c: Column, k: Int): Column =
    KmvBottomK(c.asExpression, k).toAggregateExpression().asColumn

  /**
   * One-row sketch of a corpus: the `k` smallest distinct md5 hex hashes of
   * `value`. Persist it (one tiny row per corpus/day/shard) and compare any
   * two later without touching raw data — sketches of disjoint shards merge
   * by re-sketching the concatenated arrays, so incremental daily sketches
   * compose like the HLL family in [[graft.agg.Profile]].
   */
  def kmvSketch(df: DataFrame, value: Column, k: Int): DataFrame =
    df.select(md5(value.cast("string")).as("__graft_kmv_h"))
      .where(col("__graft_kmv_h").isNotNull)
      .agg(kmvBottomK(col("__graft_kmv_h"), k).as("kmv"))

  /**
   * Merge previously persisted sketch rows (one array per corpus/day/shard)
   * into a single sketch of their union. Bottom-k-distinct is a lattice:
   * `merge(sketch(A), sketch(B)) == sketch(A ∪ B)` exactly (sbt-pinned), so
   * incremental daily sketches answer the cross-run overlap question with
   * no rescan — the same composition contract as
   * [[graft.agg.Profile.mergeHllSketches]].
   */
  def mergeKmvSketches(sketches: DataFrame, sketchCol: Column, k: Int): DataFrame =
    sketches.select(explode(sketchCol).as("__graft_kmv_h"))
      .agg(kmvBottomK(col("__graft_kmv_h"), k).as("kmv"))

  /**
   * Jaccard overlap estimate between two corpora from their KMV sketches:
   * one row `(k_used, n_both, j_estimate)`. `k_used < k` means the union
   * has fewer than `k` distinct fingerprints — the estimate is then exact.
   *
   * Scale shape: two bounded sketch passes (one per corpus, nothing but
   * k-element arrays leave them) + a broadcast of two 1-row frames; the
   * estimate itself is array algebra on 2k strings. No corpus ever joins
   * or shuffles against the other.
   */
  def overlapEstimate(
      a: DataFrame, aValue: Column, b: DataFrame, bValue: Column,
      k: Int): DataFrame = {
    val sa = kmvSketch(a, aValue, k).withColumnRenamed("kmv", "ka")
    val sb = kmvSketch(b, bValue, k).withColumnRenamed("kmv", "kb")
    val x = slice(array_sort(array_distinct(concat(col("ka"), col("kb")))), 1, k)
    sa.join(broadcast(sb)) // 1 row x 1 row
      .select(
        size(x).as("k_used"),
        size(array_intersect(array_intersect(x, col("ka")), col("kb"))).as("n_both"))
      .select(col("k_used"), col("n_both"),
        when(col("k_used") > 0,
          col("n_both").cast("double") / col("k_used").cast("double"))
          .otherwise(lit(0.0)).as("j_estimate"))
  }

  /**
   * Pairwise overlap MATRIX across the groups of one corpus — "which
   * sources feed me the same documents?" answered for ALL source pairs at
   * once (the per-pair [[overlapEstimate]] re-scans both corpora per
   * question; at S sources that is S² scans): ONE grouped KMV aggregation
   * produces a bounded (group, sketch) table — at most `k` 32-hex strings
   * per group, communication corpus-size-independent — and every pair
   * estimate is array algebra on that tiny table self-joined (S²/2 rows
   * of 2k-element arrays; with S in the hundreds this is driver-scale
   * work on executor rows, no corpus data involved; the S² pair
   * comparison is why `maxGroups` defaults to 1024 — raise it knowingly,
   * each pair costs O(k) array algebra). Same coordinated-
   * sample estimator as [[overlapEstimate]], so the DuckDB replay is
   * exact. Output: `(group_a, group_b, k_used, n_both, j_estimate)` for
   * group_a < group_b.
   */
  def overlapMatrix(df: DataFrame, group: Column, value: Column,
                    k: Int, maxGroups: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    // the collected sketch table is maxGroups x k 32-hex strings — bound
    // the driver footprint explicitly (2^24 hashes ~ 1 GiB of strings)
    require(maxGroups.toLong * k <= (1L << 24),
      s"maxGroups * k = ${maxGroups.toLong * k} sketch hashes would not fit the driver — lower k or maxGroups")
    // ONE corpus pass: the grouped sketch table is bounded (≤ maxGroups
    // rows × k hashes), so it collects and becomes a local table — the
    // pair join must not re-run the corpus aggregation per branch
    val skRows = df
      .select(group.cast("string").as("g"), md5(value.cast("string")).as("h"))
      .where(col("h").isNotNull)
      .groupBy(col("g"))
      .agg(kmvBottomK(col("h"), k).as("kmv"))
      .limit(maxGroups + 1)
      .collect()
    require(skRows.length <= maxGroups,
      s"more than $maxGroups groups — the S^2 pair matrix stops being a report")
    // a null group would build a sketch but silently drop out of every
    // pair (null < x filters it) — the matrix would be missing a source
    require(skRows.forall(!_.isNullAt(0)),
      "null group key — fill or filter null groups before the matrix")
    import spark.implicits._
    val sk = skRows.toSeq
      .map(r => (r.getString(0), r.getSeq[String](1)))
      .toDF("g", "kmv")
    val a = sk.select(col("g").as("group_a"), col("kmv").as("ka"))
    val b = sk.select(col("g").as("group_b"), col("kmv").as("kb"))
    val x = slice(array_sort(array_distinct(concat(col("ka"), col("kb")))), 1, k)
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        size(x).as("k_used"),
        size(array_intersect(array_intersect(x, col("ka")), col("kb"))).as("n_both"))
      .select(col("group_a"), col("group_b"), col("k_used"), col("n_both"),
        when(col("k_used") > 0,
          col("n_both").cast("double") / col("k_used").cast("double"))
          .otherwise(lit(0.0)).as("j_estimate"))
  }

  /**
   * Join-size pre-flight estimate: how many rows would `a JOIN b` on the
   * given keys produce? The answer a planner wants BEFORE paying for the
   * join — whether a fact-to-fact join at 100 TB will emit 10^9 or 10^13
   * rows decides the strategy (or vetoes the query), and finding out by
   * running it is the one way you cannot afford.
   *
   * Two-part estimator (the skew decomposition every production
   * cardinality estimator uses — exact heavy hitters + sampled tail):
   *
   *  1. HEAVY: each side's `exactTopN` most frequent keys (deterministic
   *     `(count desc, key)` ranking — plans TakeOrderedAndProject over a
   *     map-side-combined count) form the heavy set `H`; their join mass
   *     `Σ cntA·cntB` is computed EXACTLY. A key multiplied millions of
   *     times on both sides dominates the true join size, and no uniform
   *     sample can be trusted to catch it — so it is never left to chance.
   *  2. TAIL: `X` = the k smallest distinct `md5(key)` of the two sides'
   *     UNION (a coordinated uniform sample, the [[overlapEstimate]]
   *     construction); the non-heavy sample `X \ H` scales its exact
   *     multiplicity mass by `(D_union - |H|) / |X \ H|`, with `D_union`
   *     the KMV distinct estimate (exact when the union fits in k, making
   *     the whole answer exact).
   *
   * Scale shape: ONE `groupBy(key).count()` shuffle per side is the only
   * corpus-sized work — the top-N ranking, the KMV tail sketch, and the
   * exact probe multiplicities are ALL derived from that same grouped
   * frame (KMV over the grouped distinct keys equals KMV over the raw
   * stream — bottom-k-distinct ignores multiplicity; the probe counts ARE
   * the grouped counts). The grouped frames are PERSISTED for the
   * estimator's lifetime: the ~10 downstream branches re-reference them,
   * and relying on exchange reuse left the initial plan carrying one
   * scan+shuffle subtree PER REFERENCE (measured: 68 parquet scans / 240
   * HashAggregates in the pre-AQE plan) — with the cache the plan carries
   * one scan + one exchange per table, period. The caches are one row per
   * distinct key (the estimator's own working set) and live only for the
   * duration of this call: the one-row estimate is computed EAGERLY and
   * returned as a local literal frame, and both caches are unpersisted
   * before returning, so callers never accumulate CacheManager entries.
   * The join key itself is NEVER shuffled between the tables. Every step
   * is deterministic hash/integer/IEEE arithmetic, so the DuckDB oracle
   * replays the estimate bit-for-bit (the u_k hex parse is 8 manual
   * digits, the classifier-gate trick).
   *
   * Output, one row: `(k_used, n_heavy, heavy_mass, k_rest,
   * sum_products_rest, d_union, join_estimate)`.
   */
  def joinSizeEstimate(
      a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
      k: Int, exactTopN: Int = 64): DataFrame = {
    val ha = a.select(md5(aKey.cast("string")).as("h")).where(col("h").isNotNull)
    val hb = b.select(md5(bKey.cast("string")).as("h")).where(col("h").isNotNull)

    // the one corpus-sized pass per side: exact per-key multiplicities
    // (map-side combined), cached for the estimator's lifetime (see scale
    // shape above)
    def grouped(hashes: DataFrame, as: String): DataFrame = hashes
      .groupBy(col("h")).agg(count(lit(1)).as(as))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ga = grouped(ha, "ca")
    val gb = grouped(hb, "cb")
    // materialize each cache ONCE before the ~10 downstream branches fan
    // out: submitted concurrently inside one action, the branches would
    // otherwise race the un-materialized cache and recompute the corpus
    // scan+shuffle per branch (the persist-then-count stage discipline of
    // pipeline/Curation.curate). ONE job warms both caches — a count over
    // the union scans each cached frame once (the two sides' stages run
    // concurrently inside the job) instead of paying two sequential
    // job-submission round-trips (measured 3->5 s on the gate at sf0.1)
    ga.select(col("h")).unionByName(gb.select(col("h"))).count()

    // heavy set H: union of the two sides' top-N keys by exact count
    // (TakeOrderedAndProject over the grouped frame)
    val hv = ga.orderBy(col("ca").desc, col("h")).limit(exactTopN).select(col("h"))
      .union(gb.orderBy(col("cb").desc, col("h")).limit(exactTopN).select(col("h")))
      .distinct()

    // coordinated tail sample: bottom-k of the union's distinct hashes —
    // KMV over the grouped keys (distinct by construction) is identical to
    // KMV over the raw hash stream
    val sa = ga.agg(kmvBottomK(col("h"), k).as("ka"))
    val sb = gb.agg(kmvBottomK(col("h"), k).as("kb"))
    val xRow = sa.join(broadcast(sb)) // 1 row x 1 row
      .select(slice(array_sort(array_distinct(concat(col("ka"), col("kb")))), 1, k).as("x"))
    val xKeys = xRow.select(explode(col("x")).as("h"))

    // exact multiplicities over X ∪ H (≤ k + 2N keys): the probe counts
    // are simply the grouped counts, broadcast-semi-filtered
    val probe = xKeys.union(hv).distinct()
    val pairs = ga.join(broadcast(probe), Seq("h"), "left_semi")
      .join(gb.join(broadcast(probe), Seq("h"), "left_semi"), "h")
      .select(col("h"), (col("ca") * col("cb")).as("p"))

    val heavy = pairs.join(hv, Seq("h"), "left_semi")
      .agg(coalesce(sum(col("p")), lit(0L)).as("heavy_mass"))
    val rest = pairs.join(hv, Seq("h"), "left_anti")
      .join(xKeys, Seq("h"), "left_semi")
      .agg(coalesce(sum(col("p")), lit(0L)).as("sum_products_rest"))
    val kRest = xKeys.join(hv, Seq("h"), "left_anti")
      .agg(count(lit(1)).as("k_rest"))
    val nHeavy = hv.agg(count(lit(1)).as("n_heavy"))

    // u_k from the k-th smallest union hash, via its first 8 hex digits —
    // exact integer arithmetic, then one IEEE division (oracle-portable)
    val ukInt = conv(substring(element_at(col("x"), k), 1, 8), 16, 10).cast("long")
    val dUnion = when(size(col("x")) < k, size(col("x")).cast("double"))
      .otherwise(lit(k - 1.0) /
        ((ukInt.cast("double") + lit(0.5)) / lit(4294967296.0)))
    val out = xRow
      .select(size(col("x")).cast("long").as("k_used"), dUnion.as("d_union"))
      .join(broadcast(nHeavy)).join(broadcast(heavy)) // 1-row scalar attaches
      .join(broadcast(kRest)).join(broadcast(rest))
      .select(col("k_used"), col("n_heavy"), col("heavy_mass"), col("k_rest"),
        col("sum_products_rest"), col("d_union"),
        (col("heavy_mass").cast("double") +
          when(col("k_rest") === 0, lit(0.0))
            .otherwise((greatest(col("d_union") - col("n_heavy").cast("double"),
              col("k_rest").cast("double")) / col("k_rest").cast("double")) *
              col("sum_products_rest").cast("double"))).as("join_estimate"))

    // the answer is ONE scalar row: materialize it now, release both caches,
    // and hand back a local literal frame with the identical schema — same
    // total work (the fan-out action runs here instead of at the caller's
    // first action), zero leaked CacheManager entries
    val rows = out.collect()
    ga.unpersist(false)
    gb.unpersist(false)
    import scala.jdk.CollectionConverters._
    a.sparkSession.createDataFrame(rows.toSeq.asJava, out.schema)
  }

  /**
   * Distinct-count estimate from a sketch array: exact when the corpus has
   * fewer than `k` distinct values (the sketch holds all of them), else the
   * KMV estimator `(k - 1) / u_k` where `u_k` is the k-th smallest hash
   * mapped to (0, 1) via its first 8 hex digits. sbt-tested against exact
   * distinct counts; kept out of the oracle gate because hex-to-double
   * parsing is the one step not expressible identically in both engines.
   */
  def distinctEstimate(sketch: Column, k: Int): Column = {
    val uk = (conv(substring(element_at(sketch, k), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit(k - 1.0) / uk)
  }
}
