package graft.dedup

import graft.UnpersistHandle
import graft.ann.Ann
import graft.functions.vectors
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Semantic (embedding-space) deduplication, SemDeDup-style: cluster the
 * corpus with a trained coarse quantizer, generate candidate pairs only
 * WITHIN a cluster, keep pairs whose exact cosine clears the threshold, and
 * drop all but one representative per duplicated pair.
 *
 * This is the scale path between the brute O(n²) baseline
 * ([[Dedup.embeddingPairsBruteForce]]) and hyperplane LSH
 * ([[Dedup.nearDupPairsEmbeddingLsh]]): one k-means assignment kernel pass,
 * then pairwise work bounded by the largest cluster instead of the corpus.
 * With k ≈ n / targetClusterSize the candidate volume is
 * n * avgClusterSize — linear in the corpus for a fixed cluster size.
 *
 * Scale shape:
 *  - assignment is the narrow codegen'd nearest-centroid kernel
 *    ([[Ann.ivfAssign]]'s kernel) — no shuffle;
 *  - clusters larger than `maxClusterSize` are pruned by a count aggregate
 *    BEFORE any pairing (map-side combined — the shuffle carries one
 *    (cid, count) row per map task, never the hot cluster's rows), the same
 *    skew guard as MinHash bucket pruning;
 *  - the within-cluster pairing is a hash-partitioned self-equi-join on the
 *    cluster id (plan-pinned: an equi-join, never a CartesianProduct); with
 *    the persist both sides read ONE cached assignment, so the
 *    kernel pass over the corpus runs once; the cosine filter runs inside
 *    the join's codegen'd output stream, so the cross product is streamed,
 *    never materialized.
 *
 * Keep rule: deterministic keep-smallest-id (the library-wide "keep first"
 * convention, [[Dedup.keepFirst]]). The SemDeDup paper keeps the cluster
 * member farthest from its centroid instead; that policy is one
 * `orderBy(distance)` away, but id-based keeps are reproducible across
 * engines and runs, which is what a 100 TB pipeline audit needs.
 */
object SemanticDedup {

  val DefaultMaxClusterSize = 10000

  /**
   * Verified semantic near-duplicate pairs: `(idA, idB)` with idA < idB,
   * both members of the same quantizer cluster, exact cosine >= threshold.
   *
   * The assignment (id, vector, cluster) feeds the cluster-size prune AND
   * both sides of the pairing join, so it is cached for the call (one
   * kernel pass instead of three). The call returns pinned pairs and holds
   * no cache.
   */
  def semanticDupPairs(
      corpus: DataFrame, id: Column, vec: Column,
      index: Ann.IvfIndex, threshold: Double,
      maxClusterSize: Int = DefaultMaxClusterSize): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"cosine threshold must be in [-1, 1], got $threshold")
    require(maxClusterSize >= 2, s"maxClusterSize must be >= 2, got $maxClusterSize")
    UnpersistHandle.pinned { handle =>
      val assigned = UnpersistHandle.persist(
        corpus.select(
          id.as("id"), vec.as("__v"),
          get(vectors.nearest_centroids(vec, index.centroids, 1), lit(0)).as("cid")),
        handle)

      // hot-cluster guard: counts first (map-side combined), then a semi-join —
      // a degenerate cluster never reaches the pairing join
      val inRange = assigned
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("__cluster_count"))
        .filter(col("__cluster_count").between(2, maxClusterSize))
        .select(col("cid"))
      val pruned = assigned.join(inRange, Seq("cid"), "left_semi")

      val a = pruned.select(col("cid"), col("id").as("idA"), col("__v").as("__va"))
      val b = pruned.select(col("cid"), col("id").as("idB"), col("__v").as("__vb"))
      a.join(b, Seq("cid"))
        .filter(col("idA") < col("idB"))
        .filter(vectors.cosine_similarity(col("__va"), col("__vb")) >= threshold)
        .select(col("idA"), col("idB"))
    }
  }

  /** End-to-end semantic dedup: keep the smallest id of every duplicated
    * pair ([[Dedup.keepFirst]] semantics). */
  def deduplicateSemantic(
      corpus: DataFrame, id: Column, vec: Column,
      index: Ann.IvfIndex, threshold: Double,
      maxClusterSize: Int = DefaultMaxClusterSize): DataFrame =
    Dedup.keepFirst(corpus, id,
      semanticDupPairs(corpus, id, vec, index, threshold, maxClusterSize))

  /**
   * The SemDeDup paper's keep policy: duplicate pairs close transitively
   * into COMPONENTS ([[Clustering.assignClusters]] — a pair (a,b),(b,c)
   * keeps one of {a,b,c}, not two), and each component keeps the member
   * FARTHEST from its cluster centroid (lowest cosine — the
   * diversity-preserving choice), ties to the smallest id. Plans the
   * map-side Partial+Final WindowGroupLimit argmax of
   * [[Clustering.keepBestByClusters]], so the keep shuffle carries
   * O(components) rows.
   */
  def deduplicateSemanticKeepDiverse(
      corpus: DataFrame, id: Column, vec: Column,
      index: Ann.IvfIndex, threshold: Double,
      maxClusterSize: Int = DefaultMaxClusterSize): DataFrame = {
    val pairs = semanticDupPairs(corpus, id, vec, index, threshold, maxClusterSize)
    // farthest-from-centroid wins: score by NEGATED cosine to the assigned
    // centroid (one more narrow kernel pass; the centroids live in the plan)
    val centroidCos = vectors.nearest_centroid_cosine(vec, index.centroids)
    Clustering.keepBestByClusters(corpus, id, -centroidCos, pairs)
  }
}
