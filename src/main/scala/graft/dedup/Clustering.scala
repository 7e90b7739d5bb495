package graft.dedup

import graft.SilentUnpersistHandle
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Distributed connected components over near-duplicate pair lists.
 *
 * A verified pair list ((idA, idB) with idA < idB) is not yet a dedup
 * decision: near-duplication is transitive in practice (A~B, B~C usually
 * means the whole set is one boilerplate family), and single-pass
 * keep-first-of-pair can keep both A and C when only B links them. Grouping
 * pairs into components and keeping one canonical document per component is
 * the standard second stage of web-scale dedup.
 *
 * Algorithm: alternating large-star / small-star (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
 * shuffle-friendly formulation that converges in O(log n) rounds on
 * real graphs and never materializes a whole component on one node:
 *
 *  - large-star: every node points its larger neighbors at the minimum of
 *    its neighborhood (including itself);
 *  - small-star: every node points its smaller-or-equal neighbors (and
 *    itself) at that minimum.
 *
 * Each operation is one hash shuffle of the edge set (a groupBy computing
 * the per-node neighborhood minimum, re-joined on the same key, so the
 * exchange is reused) — no collect, no per-component state. At
 * convergence the edge set is a forest of depth-1 stars rooted at each
 * component's minimum id.
 *
 * Scale notes (100 TB lens):
 *  - The edge set is the *verified near-dup pair list* — orders of
 *    magnitude smaller than the corpus (it only contains documents that
 *    have a duplicate).
 *  - Per-iteration lineage is truncated with `localCheckpoint` (eager), so
 *    plan size and scheduler overhead stay constant across iterations;
 *    superseded checkpoint blocks are released by Spark's ContextCleaner
 *    once unreferenced.
 *  - High-degree nodes (a million-member boilerplate family) are exactly
 *    what large-star is designed for: it splits a big star's fan-in across
 *    the minimum's neighbors instead of funnelling every edge through one
 *    reducer key in every round.
 *
 * (reference surface: the reference library stops at pairwise diff/dedup —
 * this operator is part of the green-field LLM-pipeline surface,
 * SURVEY.md §2.4.)
 */
object Clustering {

  /**
   * Connected components of the undirected graph given by `pairs`
   * (two id columns, long-castable). Returns one row per distinct node:
   * (id: long, component: long) where `component` is the smallest id in the
   * node's component (roots map to themselves).
   *
   * Scale-adaptive execution: an edge set at or below `localEdgeThreshold`
   * (after dedup — the count is known from the fixpoint signature that the
   * iterative path needs anyway) is solved EXACTLY by driver-side
   * union-find in one collect: a near-dup pair list under a million edges
   * is ~16 MB of longs, and the alternating-star path would spend
   * O(log n) scheduled rounds of shuffles on it — pure coordination
   * latency. Larger edge sets take the distributed alternation, which
   * never materializes a component (or the edge set) on one node. This is
   * the same bounded-driver-work trade AQE makes when it broadcasts a
   * small join side; set the threshold to 0 to force the distributed path.
   *
   * Throws if the edge set has not stabilized after `maxIterations`
   * alternating rounds (default 50 ≫ the O(log n) bound for any realistic
   * graph).
   */
  def connectedComponents(
      pairs: DataFrame,
      idA: Column,
      idB: Column,
      maxIterations: Int = 50,
      localEdgeThreshold: Long = 1L << 20): DataFrame =
    connectedComponentsWithRounds(pairs, idA, idB, maxIterations, localEdgeThreshold)._1

  /**
   * Same as [[connectedComponents]], also returning the number of alternating
   * large-star/small-star rounds executed — 0 when the bounded driver
   * union-find fast path answered. The round count is the scale-probe
   * evidence that iteration depth stays O(log component-diameter) as the
   * corpus grows (ScaleProbe `cluster_chain` probe, SCALE.md).
   */
  def connectedComponentsWithRounds(
      pairs: DataFrame,
      idA: Column,
      idB: Column,
      maxIterations: Int = 50,
      localEdgeThreshold: Long = 1L << 20): (DataFrame, Int) = {
    require(maxIterations >= 1, s"maxIterations must be >= 1: $maxIterations")
    require(localEdgeThreshold >= 0, s"localEdgeThreshold must be >= 0: $localEdgeThreshold")
    val init = pairs
      .select(idA.cast("long").as("u"), idB.cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()

    var edges = init.localCheckpoint(true)
    var sig = signature(edges)
    if (sig._1 <= localEdgeThreshold) return (localComponents(edges), 0)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIterations iterations")

    // Converged edges are depth-1 stars (node -> component minimum): the
    // larger endpoint is the member, the smaller its root; roots map to
    // themselves.
    val members = edges.select(
      greatest(col("u"), col("v")).as("id"), least(col("u"), col("v")).as("component"))
    val roots = edges.select(least(col("u"), col("v")).as("id"))
      .distinct()
      .withColumn("component", col("id"))
    (members.union(roots).distinct(), iter)
  }

  /**
   * Attach a `clusterColumn` to `df`: the component minimum for documents in
   * a near-dup component, the document's own id otherwise. `pairs` must
   * carry `idA`/`idB` columns (the [[Dedup]] pair outputs).
   *
   * One equi-join of the corpus against the (small) component map — AQE
   * broadcasts it when it fits.
   */
  def assignClusters(
      df: DataFrame, id: Column, pairs: DataFrame,
      clusterColumn: String = "cluster_id",
      maxIterations: Int = 50,
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    val comp = connectedComponents(pairs, col("idA"), col("idB"), maxIterations, localEdgeThreshold)
      .withColumnRenamed("id", "__cc_id")
    df.join(comp, id.cast("long") === col("__cc_id"), "left")
      .withColumn(clusterColumn, coalesce(col("component"), id.cast("long")))
      .drop("__cc_id", "component")
  }

  /**
   * Keep exactly one document per near-dup component: the one with the
   * smallest id (plus every document with no duplicate). Unlike
   * [[Dedup.keepFirst]], this honors transitivity — of a chain A~B~C it
   * keeps only A even though (A, C) was never a verified pair.
   */
  def deduplicateByClusters(
      df: DataFrame, id: Column, pairs: DataFrame,
      maxIterations: Int = 50,
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    val prefix = graft.functions.distinctPrefixFor(df.columns.toSeq)
    val cl = prefix + "cluster"
    assignClusters(df, id, pairs, cl, maxIterations, localEdgeThreshold)
      .filter(col(cl) === id.cast("long"))
      .drop(cl)
  }

  /**
   * Keep exactly one document per near-dup component: the one with the
   * HIGHEST `score` (quality prior — keep the longest / cleanest / highest-
   * classifier-score duplicate, not the arbitrary smallest-id one), ties
   * broken by smallest id so the result is deterministic. Singletons pass
   * through untouched.
   *
   * Scale shape: the per-component argmax is declared as a rank-1 filter
   * over a window, which Catalyst plans as a map-side Partial + Final
   * `WindowGroupLimit` (same pattern pinned for [[graft.agg.TopK]]): each
   * map task forwards at most one row per component it sees, so the shuffle
   * carries O(components) rows, immune to duplicate-cluster skew.
   */
  def keepBestByClusters(
      df: DataFrame, id: Column, score: Column, pairs: DataFrame,
      maxIterations: Int = 50,
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    val prefix = graft.functions.distinctPrefixFor(df.columns.toSeq)
    val cl = prefix + "cluster"
    val sc = prefix + "score"
    val rn = prefix + "rn"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(cl)).orderBy(col(sc).desc, id.asc)
    assignClusters(df, id, pairs, cl, maxIterations, localEdgeThreshold)
      .withColumn(sc, score)
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(cl, sc, rn)
  }

  /** End-to-end: MinHash near-dup pairs -> components -> keep-best-scoring
    * row per component (see [[keepBestByClusters]]). The pairs stay lazy:
    * the component pass checkpoints its edge set, the one pin they need,
    * and their shingle cache is released once it has. */
  def deduplicateMinHashKeepBest(
      df: DataFrame, id: Column, text: Column, score: Column,
      shingleSize: Int = 3, bands: Int = 16, rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      maxBucketSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    val handle = new SilentUnpersistHandle()
    handle.withUnpersist()(keepBestByClusters(df, id, score, Dedup.minHashPairs(df, id,
      text, shingleSize, bands, rowsPerBand, threshold, maxBucketSize, handle)))
  }

  /** End-to-end: MinHash near-dup pairs -> components -> keep-min-per-component
    * (pairs and cache as in [[deduplicateMinHashKeepBest]]). */
  def deduplicateMinHashClusters(
      df: DataFrame, id: Column, text: Column,
      shingleSize: Int = 3, bands: Int = 16, rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      maxBucketSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    val handle = new SilentUnpersistHandle()
    handle.withUnpersist()(deduplicateByClusters(df, id, Dedup.minHashPairs(df, id,
      text, shingleSize, bands, rowsPerBand, threshold, maxBucketSize, handle)))
  }

  /**
   * Leakage-safe train/val/test split: the split hash is computed on the
   * near-dup CLUSTER id, not the document id, so a whole family of
   * near-duplicates lands in exactly one split. Splitting by document hash
   * leaks: with A ~ B near-identical, A in train and B in test means the
   * held-out set is partly memorized training data — the standard silent
   * eval inflation in web-corpus pipelines. Hashing the component minimum
   * instead makes that impossible by construction; singletons (no
   * duplicate) degrade to the plain [[graft.sample.Sampling.splitByHash]]
   * assignment on their own id.
   *
   * Scale shape: [[assignClusters]]'s bounded component map + equi-join,
   * then a narrow md5-threshold CASE — no shuffle beyond the cluster join.
   * The realized split fractions deviate from `weights` by the duplicate
   * mass (a 10-doc cluster moves as one unit of 10); that is the point,
   * not a defect.
   */
  def splitByClusters(
      df: DataFrame, id: Column, pairs: DataFrame,
      weights: Seq[(String, Double)],
      salt: String = "graft",
      outputColumn: String = "split",
      clusterColumn: String = "cluster_id",
      maxIterations: Int = 50,
      localEdgeThreshold: Long = 1L << 20): DataFrame =
    graft.sample.Sampling.splitByHash(
      assignClusters(df, id, pairs, clusterColumn, maxIterations, localEdgeThreshold),
      col(clusterColumn), weights, salt, outputColumn)

  /**
   * Soft dedup: instead of DROPPING near-duplicates, attach a training
   * weight `size^(-alpha)` per document, where size is its near-dup
   * cluster's row count. At `alpha = 1` every cluster contributes exactly
   * one unit of total weight (sum of weights == number of clusters — the
   * invariant the suite pins), reproducing hard dedup in expectation while
   * keeping every copy available to the sampler; `alpha < 1` interpolates
   * toward "count duplicates partially" (the repetition-tolerant schedules
   * some LLM data mixes use); `alpha = 0` is no dedup.
   *
   * `alpha = 1` is computed as the literal IEEE division `1.0 / size` (not
   * `pow(size, -1)`) so the result is bit-identical to any engine's
   * division — that exactness is what the DuckDB gate hashes.
   *
   * Scale shape: cluster sizes come from a groupBy count (map-side partial
   * combine — a billion-copy cluster sends one row per map task), joined
   * back on the cluster id; AQE's skew-join split handles the hot-cluster
   * probe side. The corpus never shuffles on anything but the cluster key
   * it already shuffled on for [[assignClusters]].
   */
  def softDedupWeights(
      df: DataFrame, id: Column, pairs: DataFrame,
      alpha: Double = 1.0,
      weightColumn: String = "dedup_weight",
      clusterColumn: String = "cluster_id",
      maxIterations: Int = 50,
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0, 1]: $alpha")
    val prefix = graft.functions.distinctPrefixFor(df.columns.toSeq)
    val sz = prefix + "size"
    val clustered = assignClusters(df, id, pairs, clusterColumn, maxIterations, localEdgeThreshold)
    val sizes = clustered.groupBy(col(clusterColumn)).agg(count(lit(1)).as(sz))
    val weight =
      if (alpha == 1.0) lit(1.0) / col(sz).cast("double")
      else if (alpha == 0.0) lit(1.0)
      else pow(col(sz).cast("double"), lit(-alpha))
    clustered.join(sizes, clusterColumn)
      .withColumn(weightColumn, weight)
      .drop(sz)
  }

  // --------------------------------------------------------------------------
  // internals
  // --------------------------------------------------------------------------

  /** Exact union-find over a collected small edge set. Union attaches the
    * larger root under the smaller, so every tree's final root IS the
    * component minimum — identical output to the converged star alternation.
    * Path compression keeps this near-linear without union-by-rank. */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.select(col("u"), col("v")).as[(Long, Long)].collect().foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "component")
  }

  /** (count, xxhash64 xor-checksum) of the edge set — one cheap action per
    * iteration to detect the fixpoint. XOR (not sum): order-independent over
    * the distinct edge set and cannot overflow under ANSI arithmetic. */
  private def signature(edges: DataFrame): (Long, Long) = {
    val row = edges
      .agg(count(lit(1)).as("n"), bit_xor(xxhash64(col("u"), col("v"))).as("h"))
      .head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Large-star: for each node, point every strictly-larger neighbor at the
    * minimum of the neighborhood (incl. the node itself).
    *
    * No trailing distinct: duplicate edges don't change any neighborhood
    * minimum, and the iteration's single canonicalizing distinct lives at
    * the end of [[smallStar]] — one exchange instead of three per star op. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
  }

  /** Small-star: orient edges large->small; point every smaller neighbor and
    * the node itself at the minimum neighbor. The trailing distinct is the
    * iteration's one canonicalization pass (signature stability + minimal
    * edge set for the next round). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    oriented.join(mins, "u")
      .select(explode(array(
        struct(col("v").as("u"), col("m").as("v")),
        struct(col("u").as("u"), col("m").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }
}
