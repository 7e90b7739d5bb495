package graft.ann

import graft.functions.vectors
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Similarity search over embedding columns (`array<float>`).
 *
 * Two paths, as a production pipeline needs both:
 *  - [[bruteForceTopK]]: exact, O(|queries| * |corpus|). The query side is
 *    broadcast; the corpus is streamed through the codegen'd cosine kernel.
 *    Right when queries are few (the common "lookup" shape) — at 1000
 *    executors this is an embarrassingly parallel scan of the corpus.
 *  - [[lshTopK]]: approximate. Hyperplane-LSH buckets (sign bits of dot
 *    products with seeded deterministic Gaussians) generate candidates via a
 *    hash-partitioned join — candidate count << |queries| * |corpus| — then
 *    the exact kernel re-ranks. The scale path when queries are many.
 */
object Ann {

  /** Exact top-k by cosine: (query id, rank, corpus id, cosine). Ties broken
    * by corpus id ascending for determinism. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      queryId: Column, queryVec: Column, corpusId: Column, corpusVec: Column,
      k: Int): DataFrame = {
    val q = queries.select(queryId.as("query_id"), queryVec.as("qvec"))
    val c = corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cvec"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", vectors.cosine_similarity(col("qvec"), col("cvec")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /**
   * [[bruteForceTopK]] over int8-quantized vectors — the cheap storage
   * tier: the corpus scan reads 1 byte per dimension instead of 4 (a
   * 100 TB float corpus becomes 25 TB at rest AND on every scan), and the
   * score is one exact INTEGER dot product per pair. Scales cancel in the
   * cosine (`int8dot(a,b) / sqrt(int8dot(a,a) * int8dot(b,b))`), so the
   * quantized corpus needs no side data at all for ranking. Typical recall
   * vs float cosine is near-1 at dim >= 32 (sbt-pinned); when the corpus
   * is stored pre-encoded ([[vectors.int8_encode]] at write time) the
   * whole pipeline never touches a float vector until the optional exact
   * re-rank. Output: (query_id, rank, neighbor_id, cosine_q8).
   */
  def int8BruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      queryId: Column, queryVec: Column, corpusId: Column, corpusVec: Column,
      k: Int): DataFrame = {
    val q = queries.select(queryId.as("query_id"),
      vectors.int8_encode(queryVec).as("qcodes"))
      .withColumn("qnorm", vectors.int8_dot(col("qcodes"), col("qcodes")))
    val c = corpus.select(corpusId.as("neighbor_id"),
      vectors.int8_encode(corpusVec).as("ccodes"))
      .withColumn("cnorm", vectors.int8_dot(col("ccodes"), col("ccodes")))
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_q8",
        when(col("qnorm") === 0L || col("cnorm") === 0L, lit(0.0))
          .otherwise(vectors.int8_dot(col("qcodes"), col("ccodes")).cast("double") /
            sqrt(col("qnorm").cast("double") * col("cnorm").cast("double"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine_q8").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine_q8"))
  }

  /**
   * Brute-force top-k over 1-bit sign-packed codes, ranked by ascending
   * Hamming distance (ties by neighbor_id) — the cheapest storage tier of
   * the quantized-ANN family: 1 bit/dim at rest AND on every scan (a 100 TB
   * float32 corpus reads as ~3 TB, 32x under float, 8x under int8), scored
   * by XOR + popcount over ceil(dim/64) words. `dim - hamming` counts sign
   * agreements — a monotone proxy for cosine direction (the SimHash bound).
   * Output: (query_id, rank, neighbor_id, hamming) — every step exact
   * integer arithmetic, so an engine replaying the sign comparison
   * reproduces the ranking bit-for-bit.
   */
  def hammingBruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      queryId: Column, queryVec: Column, corpusId: Column, corpusVec: Column,
      k: Int): DataFrame = {
    val q = queries.select(queryId.as("query_id"),
      vectors.bit_sign_pack(queryVec).as("qbits"))
    val c = corpus.select(corpusId.as("neighbor_id"),
      vectors.bit_sign_pack(corpusVec).as("cbits"))
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        vectors.hamming_words(col("qbits"), col("cbits")).as("hamming"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("hamming").asc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
  }

  /**
   * Hamming shortlist + exact cosine re-rank: the production shape of the
   * 1-bit tier — the 32x-compressed scan ranks a `k * refine` candidate
   * shortlist per query (map-side-limited WindowGroupLimit), and only that
   * bounded shortlist touches full vectors for the exact cosine. Output:
   * (query_id, rank, neighbor_id, cosine) — cosine exact.
   */
  def hammingTopK(
      queries: DataFrame, corpus: DataFrame,
      queryId: Column, queryVec: Column, corpusId: Column, corpusVec: Column,
      k: Int, refine: Int = 8): DataFrame = {
    val shortlist = hammingBruteForceTopK(
        queries, corpus, queryId, queryVec, corpusId, corpusVec, k * refine)
      .select(col("query_id"), col("neighbor_id"))
      .join(broadcast(queries.select(queryId.as("query_id"), queryVec.as("qvec"))),
        "query_id")
    corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cvec"))
      .join(broadcast(shortlist), "neighbor_id")
      .withColumn("cosine", vectors.cosine_similarity(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** First-`dims` prefix of an embedding — the Matryoshka truncation
    * (Kusupati et al. 2022): MRL-trained embeddings concentrate signal in
    * the leading dimensions, so the prefix is a usable low-cost
    * representation. Cosine needs no renormalization (it normalizes
    * itself), so the truncated tier carries NO side data. Persist this
    * column (or a truncated copy of the corpus) to make the cheap tier
    * cheap AT REST and on every scan, not just in FLOPs. */
  def truncateVec(vec: Column, dims: Int): Column = {
    require(dims >= 1, s"dims must be positive: $dims")
    slice(vec, 1, dims)
  }

  /**
   * Matryoshka two-tier top-k: shortlist by exact cosine over the
   * first-`dims` PREFIX of every vector (reading/scoring `dims`/dim of the
   * data — 4x fewer bytes and FLOPs at dims = dim/4), then exact-cosine
   * re-rank of the `k * refine` shortlist on the FULL vectors — the same
   * production shape as [[hammingTopK]]/PQ: a compressed scan shortlists,
   * full vectors are touched only for the bounded re-rank. With
   * MRL-trained embeddings the prefix ranking is near-exact and the
   * re-rank recovers the remainder; recall floor sbt-pinned.
   */
  def mrlTopK(
      queries: DataFrame, corpus: DataFrame,
      queryId: Column, queryVec: Column, corpusId: Column, corpusVec: Column,
      k: Int, dims: Int, refine: Int = 8): DataFrame = {
    require(k >= 1 && refine >= 1, s"need k >= 1 and refine >= 1")
    val shortlist = bruteForceTopK(
        queries.select(queryId.as("query_id"),
          truncateVec(queryVec, dims).as("tvec")),
        corpus.select(corpusId.as("neighbor_id"),
          truncateVec(corpusVec, dims).as("tvec")),
        col("query_id"), col("tvec"), col("neighbor_id"), col("tvec"),
        k * refine)
      .select(col("query_id"), col("neighbor_id"))
      .join(broadcast(queries.select(queryId.as("query_id"), queryVec.as("qvec"))),
        "query_id")
    corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cvec"))
      .join(broadcast(shortlist), "neighbor_id")
      .withColumn("cosine", vectors.cosine_similarity(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Deterministic seeded Gaussian hyperplanes: bands x bits x dim. */
  private[graft] def hyperplanes(bands: Int, bits: Int, dim: Int, seed: Long): Array[Array[Array[Float]]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(bands, bits)(Array.fill(dim)(rng.nextGaussian().toFloat))
  }

  /** Explode a dataset to one (id, band, bucket) row per band. All band
    * buckets come from one fused kernel pass over the vector. */
  private def explodeBuckets(df: DataFrame, id: Column, vec: Column,
                             planes: Array[Array[Array[Float]]], idName: String): DataFrame =
    df.select(id.as(idName), vec.as(s"_vec_$idName"),
        posexplode(vectors.lsh_band_buckets(vec, planes)).as(Seq("band", "bucket")))

  /**
   * Approximate top-k: hyperplane-LSH candidates (same (band, bucket) in any
   * band), exact cosine re-rank, top-k per query. Queries with fewer than k
   * collisions return fewer rows — raise `bands`/lower `bits` for recall.
   *
   * The exact cosine is computed BEFORE candidate deduplication: a pair that
   * collides in several bands scores identically in each, so the per-pair
   * dedup becomes a `max(cosine)` aggregate whose shuffle carries 8 bytes per
   * candidate instead of two embedding vectors (~8 KB at dim=1024), and the
   * map-side partial aggregate collapses same-partition duplicates for free.
   */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      queryId: Column, queryVec: Column, corpusId: Column, corpusVec: Column,
      dim: Int, k: Int, bands: Int = 16, bits: Int = 12, seed: Long = 42): DataFrame = {
    val planes = hyperplanes(bands, bits, dim, seed)
    val q = explodeBuckets(queries, queryId, queryVec, planes, "query_id")
    val c = explodeBuckets(corpus, corpusId, corpusVec, planes, "neighbor_id")
    val candidates = q.join(c, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        vectors.cosine_similarity(col("_vec_query_id"), col("_vec_neighbor_id")).as("cosine"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    candidates
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** IVF coarse quantizer: k centroids over the embedding space. Tiny
    * (k × dim floats) — ships to executors inside the plan. */
  case class IvfIndex(centroids: Array[Array[Float]])

  /**
   * Train an IVF coarse quantizer with deterministic Lloyd's iterations.
   * Init = the k vectors with the smallest ids (deterministic, no RNG).
   * Each iteration: one distributed assign pass (codegen'd nearest-centroid
   * kernel) + one per-(cluster, dimension) mean aggregation; only k × dim
   * means cross to the driver. At 100 TB, train on a sample — the index
   * quality needs representative vectors, not all of them.
   */
  def trainIvf(corpus: DataFrame, id: Column, vec: Column, k: Int, iterations: Int = 5): IvfIndex = {
    // the training set is read once per iteration plus init: cache it for the
    // duration of training (at 100 TB this is the representative SAMPLE, so
    // the cache is small by construction) and release it before returning
    val base = corpus.select(id.as("id"), vec.as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids: Array[Array[Float]] = base.orderBy(col("id")).limit(k)
        .select("v").collect().map(_.getSeq[Float](0).toArray)
      // per-iteration assign pass WITHOUT the per-dimension explode the
      // first implementation paid (k*dim avg groups over |corpus|*dim
      // generated rows): one [[graft.agg.VectorMoments.vecSum]] aggregate
      // keyed on cid alone — |corpus| rows in, k rows out, one bounded
      // 2*dim-double buffer per (group, task). Accumulation is
      // `sum += (double) x_i` in row order, the same double-precision
      // contract as the exploded Average, so the learned centroids are
      // identical (mean_i = s_i / c_i; dimensions with no values keep the
      // previous value, exactly like the absent avg groups)
      // empty corpus: no centroids to refine, and VecSumAgg requires a
      // positive dim at plan construction — return the empty index the
      // way the pre-aggregate explode/avg path did
      if (centroids.isEmpty) return IvfIndex(centroids)
      val dim = if (centroids.nonEmpty) centroids(0).length else 0
      for (_ <- 0 until iterations) {
        val sums = base.select(
            get(vectors.nearest_centroids(col("v"), centroids, 1), lit(0)).as("cid"),
            col("v"))
          .groupBy(col("cid"))
          .agg(graft.agg.VectorMoments.vecSum(col("v"), dim).as("cs"))
          .collect()
        val next = centroids.map(_.clone())
        sums.foreach { r =>
          val cid = r.getInt(0)
          val cs = r.getSeq[Double](1)
          var i = 0
          while (i < dim) {
            val c = cs(i)
            if (c > 0.0) next(cid)(i) = (cs(dim + i) / c).toFloat
            i += 1
          }
        }
        centroids = next // clusters with no members keep their previous centroid
      }
      IvfIndex(centroids)
    } finally base.unpersist(blocking = false)
  }

  /**
   * Cluster assignment against a trained quantizer — the embedding-space
   * corpus map (topic clustering, per-cluster sampling, bucketed layout):
   * `(id, cid)` with `cid` the most cosine-similar centroid (ties to the
   * lower index, matching the search path). A narrow codegen'd kernel pass —
   * no shuffle; follow with `groupBy(cid)` for cluster sizes or
   * `writePartitionedBy(cid)` for a cluster-local layout.
   */
  def ivfAssign(corpus: DataFrame, id: Column, vec: Column, index: IvfIndex): DataFrame =
    corpus.select(id.as("id"),
      get(vectors.nearest_centroids(vec, index.centroids, 1), lit(0)).as("cid"))

  /**
   * IVF search: corpus vectors live in their nearest centroid's bucket;
   * queries probe their `nprobe` closest buckets; candidates are re-ranked
   * with the exact cosine kernel. Candidate count ≈ |queries| * nprobe *
   * (|corpus| / k) — tune k ~ sqrt(|corpus|) and nprobe for recall.
   */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      queryId: Column, queryVec: Column, corpusId: Column, corpusVec: Column,
      index: IvfIndex, k: Int, nprobe: Int = 2): DataFrame = {
    val c = corpus.select(
      get(vectors.nearest_centroids(corpusVec, index.centroids, 1), lit(0)).as("cid"),
      corpusId.as("neighbor_id"), corpusVec.as("cvec"))
    val q = queries.select(
      queryId.as("query_id"), queryVec.as("qvec"),
      explode(vectors.nearest_centroids(queryVec, index.centroids, nprobe)).as("cid"))
    q.join(c, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", vectors.cosine_similarity(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /**
   * Persist a trained quantizer as a tiny parquet table `(cid, centroid)` —
   * train ONCE on a representative sample, reuse across every batch run and
   * streaming restart (retraining per run would silently re-bucket the
   * corpus and invalidate any persisted cluster-local layout). k rows,
   * float32-exact round-trip.
   */
  def saveIvf(spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
              path: String): Unit = {
    import org.apache.spark.sql.types._
    graft.parquet.LocalParquet.write(spark, path,
      StructType(Seq(StructField("cid", IntegerType),
        StructField("centroid", ArrayType(FloatType, containsNull = false)))),
      index.centroids.zipWithIndex.toSeq
        .map { case (c, i) => org.apache.spark.sql.Row(i, c.toSeq) })
  }

  /** Load a quantizer persisted by [[saveIvf]] (bounded k-row driver-side
    * read — no Spark job). */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(graft.parquet.LocalParquet.read(spark, path)
      .sortBy(_.getAs[Int]("cid"))
      .map(_.getAs[Seq[Float]]("centroid").toArray).toArray)

  /** Candidate-pair count for an LSH configuration (diagnostics: candidates
    * should be orders of magnitude below |queries| * |corpus|). */
  def lshCandidateCount(
      queries: DataFrame, corpus: DataFrame,
      queryId: Column, queryVec: Column, corpusId: Column, corpusVec: Column,
      dim: Int, bands: Int = 16, bits: Int = 12, seed: Long = 42): Long = {
    val planes = hyperplanes(bands, bits, dim, seed)
    val q = explodeBuckets(queries, queryId, queryVec, planes, "query_id")
    val c = explodeBuckets(corpus, corpusId, corpusVec, planes, "neighbor_id")
    q.join(c, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
      .count()
  }

  /**
   * Embedding outlier filter — the garbage/off-distribution detector of
   * embedding-curated corpora (the SemDeDup complement: [[graft.dedup
   * .SemanticDedup]] drops what is TOO CLOSE to its cluster neighbors,
   * this flags what is TOO FAR from every cluster): each vector is scored
   * by cosine to its nearest trained centroid, and the bottom `quantile`
   * of each cluster — the rows the corpus map explains worst — is flagged.
   * Per-cluster (not global) cutoffs matter: a tight cluster's mild
   * stragglers and a diffuse cluster's core can share one cosine value.
   *
   * Determinism: the ranking key is fixed-point `floor(cos * 2^20)` (ties
   * then by id), and the cutoff `floor(n_cluster * quantile)` is one IEEE
   * multiply of exact integers — every engine flags identical rows.
   *
   * Scale shape: centroids broadcast (k rows); ONE range exchange for the
   * global (cid, cos_fp, id) order through the 3-phase running count —
   * cluster counts are k ~ sqrt(corpus), so a per-cluster window would
   * funnel the corpus through k tasks; per-cluster ranks are recovered
   * from a k-row min/count aggregate broadcast back.
   *
   * Output: `(id, cid, cos_fp, cluster_rank, is_outlier)` — `cos_fp` the
   * fixed-point cosine to the assigned centroid, `cluster_rank` 0-based
   * ascending (0 = farthest from its centroid).
   */
  def embeddingOutliers(corpus: DataFrame, id: Column, vec: Column,
                        index: IvfIndex, quantile: Double): DataFrame = {
    require(quantile >= 0.0 && quantile <= 1.0, s"quantile in [0,1]: $quantile")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cens = index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "__cen")
    val scored = corpus
      .select(id.as("id"), vec.as("__vec"))
      .withColumn("cid",
        get(vectors.nearest_centroids(col("__vec"), index.centroids, 1), lit(0)))
      .join(broadcast(cens), Seq("cid"))
      .withColumn("cos_fp",
        floor(vectors.cosine_similarity(col("__vec"), col("__cen"))
          * (1L << 20)).cast("long"))
      .select(col("id"), col("cid"), col("cos_fp"))
    val numbered = graft.agg.PrefixSum.withRunningTotal(scored, lit(1L),
      Seq(col("cid").asc, col("cos_fp").asc, col("id").asc), "__rn", exclusive = false)
    val perCluster = numbered.groupBy(col("cid"))
      .agg(min(col("__rn")).as("__rn0"), count(lit(1)).as("__n"))
    numbered
      .join(broadcast(perCluster), Seq("cid"))
      .withColumn("cluster_rank", col("__rn") - col("__rn0"))
      .withColumn("is_outlier",
        col("cluster_rank") < floor(col("__n") * quantile))
      .select(col("id"), col("cid"), col("cos_fp"),
        col("cluster_rank"), col("is_outlier"))
  }
}
