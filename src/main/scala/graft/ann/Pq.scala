package graft.ann

import graft.functions.vectors
import graft.parquet.FooterStats
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Product-quantization ANN — the memory/IO-bound scale path of the similarity
 * search family (brute / LSH / IVF / PQ).
 *
 * At 100 TB the corpus embeddings themselves are the bottleneck: a
 * 1024-dim float corpus is 4 KB/vector, so every ANN scan pays 4 KB of IO
 * per candidate. PQ encodes each vector to `m` bytes (one code per
 * subspace, 256-entry codebooks): a 4 KB vector becomes 16 bytes at m=16 —
 * ~250x less scan IO — and each (query, candidate) score drops from O(dim)
 * multiply-adds to O(m) table lookups against a per-query lookup table
 * (asymmetric distance computation). The encoded corpus is what executors
 * scan; full vectors are touched only for the final exact re-rank of the
 * per-query shortlist (|queries| * k * refine rows).
 *
 * Training is deterministic (no RNG): init = the `ksub` vectors with the
 * smallest ids split into subvectors, then Lloyd's iterations where the
 * assign pass is a distributed codegen'd kernel and only
 * `ksub * dim` sub-centroid means cross to the driver per iteration — the
 * same driver-traffic bound as [[Ann.trainIvf]]. At 100 TB, train on a
 * representative sample.
 */
object Pq {

  /** Trained product quantizer: `codebooks(sub)(code)` is a `dim / m`-float
    * sub-centroid. Tiny (`ksub * dim` floats) — ships inside the plan. */
  case class PqIndex(codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks(0).length
    def subdim: Int = codebooks(0)(0).length

    /** Per-(subspace, code) squared centroid norms, for reconstruction-norm
      * lookup at scoring time. */
    lazy val normSq: Array[Array[Double]] =
      codebooks.map(_.map { cen =>
        var acc = 0.0
        var i = 0
        while (i < cen.length) { acc += cen(i).toDouble * cen(i).toDouble; i += 1 }
        acc
      })
  }

  /**
   * Train a product quantizer with deterministic Lloyd's iterations.
   * Init = the `ksub` smallest-id vectors, sliced into `m` subvectors each.
   * Each iteration runs one distributed assign pass (the codegen'd
   * [[graft.functions.PqEncodeInts]] kernel) and one per-(subspace, code,
   * dimension) mean aggregation; `ksub * dim` doubles cross to the driver.
   * Sub-clusters that lose all members keep their previous sub-centroid.
   */
  def trainPq(corpus: DataFrame, id: Column, vec: Column,
              dim: Int, m: Int, ksub: Int, iterations: Int = 3): PqIndex = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(ksub > 0 && ksub <= 256, s"ksub=$ksub must fit one byte (1..256)")
    val subdim = dim / m
    val base = corpus.select(id.as("id"), vec.as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds: Array[Array[Float]] = base.orderBy(col("id")).limit(ksub)
        .select("v").collect().map(_.getSeq[Float](0).toArray)
      require(seeds.length == ksub,
        s"need at least ksub=$ksub training vectors, got ${seeds.length}")
      var codebooks: Array[Array[Array[Float]]] =
        Array.tabulate(m, ksub) { (s, c) =>
          java.util.Arrays.copyOfRange(seeds(c), s * subdim, (s + 1) * subdim)
        }
      // per-iteration assign pass at m rows per vector (one per subspace)
      // instead of dim rows (one per dimension): the subspace's code is the
      // group key and the subdim means come from one
      // [[graft.agg.VectorMoments.vecSum]] aggregate over the subvector
      // slice — m*ksub rows out, one bounded 2*subdim-double buffer per
      // (group, task), `sum += (double) x_i` in row order (the exploded
      // Average's contract), so the learned codebooks are identical
      // (mean_i = s_i / c_i; dims with no values keep the previous value,
      // exactly like the absent avg groups)
      for (_ <- 0 until iterations) {
        val sums = base
          .select(posexplode(vectors.pq_encode_ints(col("v"), codebooks))
            .as(Seq("sub", "code")), col("v"))
          .groupBy(col("sub"), col("code"))
          .agg(graft.agg.VectorMoments.vecSum(
            slice(col("v"), col("sub") * subdim + 1, lit(subdim)), subdim)
            .as("cs"))
          .collect()
        val next = codebooks.map(_.map(_.clone()))
        sums.foreach { r =>
          val sub = r.getInt(0)
          val code = r.getInt(1)
          val cs = r.getSeq[Double](2)
          var i = 0
          while (i < subdim) {
            val c = cs(i)
            if (c > 0.0) next(sub)(code)(i) = (cs(subdim + i) / c).toFloat
            i += 1
          }
        }
        codebooks = next
      }
      PqIndex(codebooks)
    } finally base.unpersist(blocking = false)
  }

  /** Encode a corpus against a trained index: `(id, codes, cnorm)` with
    * `codes` the m-byte PQ code and `cnorm` the reconstruction norm. This is
    * the table a production pipeline writes ONCE and scans per query batch —
    * m + 8ish bytes per vector instead of dim * 4. */
  def encode(corpus: DataFrame, id: Column, vec: Column, index: PqIndex): DataFrame =
    corpus
      .select(id.as("neighbor_id"), vectors.pq_encode(vec, index.codebooks).as("codes"))
      .withColumn("cnorm", vectors.pq_code_norm(col("codes"), index.normSq))

  /**
   * PQ top-k by approximate cosine with exact re-rank: queries are broadcast
   * with their precomputed ADC lookup table; the encoded corpus streams
   * through the O(m)-per-pair ADC scorer; the per-query shortlist of
   * `k * refine` best approximate candidates (map-side-limited
   * WindowGroupLimit) joins back to the full vectors for an exact cosine
   * re-rank. Output: (query_id, rank, neighbor_id, cosine) — cosine exact.
   */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             queryId: Column, queryVec: Column, corpusId: Column, corpusVec: Column,
             index: PqIndex, k: Int, refine: Int = 8): DataFrame = {
    val enc = encode(corpus, corpusId, corpusVec, index)
    val q = queries.select(
      queryId.as("query_id"), queryVec.as("qvec"),
      vectors.pq_lut(queryVec, index.codebooks).as("lut"),
      sqrt(vectors.dot_product(queryVec, queryVec)).as("qnorm"))
    // project to the three scalar ranking columns BEFORE the per-query
    // window: the exchange feeding row_number then moves ~20 bytes per ADC
    // candidate, not the query vector + m*ksub-double LUT payload; qvec
    // rejoins on the tiny post-rank shortlist for the exact re-rank
    val scored = broadcast(q).crossJoin(enc)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(col("qnorm") === 0.0 || col("cnorm") === 0.0, lit(0.0))
          .otherwise(
            vectors.pq_adc_dot(col("codes"), col("lut"), index.ksub) /
              (col("qnorm") * col("cnorm"))).as("approx_cos"))
    val shortlist = scored
      .withColumn("__srank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("approx_cos").desc, col("neighbor_id"))))
      .filter(col("__srank") <= k * refine)
      .select(col("query_id"), col("neighbor_id"))
      .join(broadcast(queries.select(queryId.as("query_id"), queryVec.as("qvec"))),
        "query_id")
    rerankExact(corpus, corpusId, corpusVec, shortlist, k)
  }

  /**
   * IVF × PQ — the composed 100 TB ANN plan (the IVFADC layout of Jégou et
   * al.'s product-quantization paper, re-expressed as DataFrame joins).
   * [[pqTopK]] alone still ADC-scans the WHOLE encoded corpus per query
   * batch; [[Ann.ivfTopK]] alone prunes to `nprobe` buckets but re-ranks
   * full 4 KB vectors. Composing them multiplies the two savings: corpus
   * vectors live in their nearest IVF centroid's bucket as m-byte PQ codes,
   * queries probe only their `nprobe` closest buckets (a broadcast
   * EQUI-join on `cid` — never a corpus-wide crossJoin), the O(m) ADC
   * kernel scores just those buckets' codes, and only the per-query
   * `k * refine` shortlist touches full vectors for the exact re-rank.
   * Scan cost per query batch: ~(nprobe / k_ivf) of the corpus × (m / 4·dim)
   * of the bytes — at k_ivf=1024, nprobe=8, m=16, dim=1024 that is ~1/32000
   * of what brute force reads.
   *
   * Codes quantize the raw vectors by default: the codebook is shared
   * across buckets, so ingest encodes each vector once with no per-bucket
   * state, and the exact re-rank absorbs the approximation either way.
   * `residual = true` is the paper-faithful IVFADC layout: codes quantize
   * `vec - centroid(cid)` instead (train with [[trainPqResidual]]!) —
   * residuals are smaller than raw vectors, so the same m bytes carry more
   * precision and the ADC shortlist ranks closer to exact. The ADC score
   * then reconstructs `dot(q, c + r̂) = dot(q, c) + dot(q, r̂)`: the first
   * term is one dot product per (query, probed bucket) on the tiny
   * broadcast side, the second is the same O(m) LUT sum, so the per-
   * candidate scan cost is unchanged. Output: (query_id, rank, neighbor_id,
   * cosine) — cosine exact, ties by neighbor_id ascending.
   */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                queryId: Column, queryVec: Column, corpusId: Column, corpusVec: Column,
                ivf: Ann.IvfIndex, index: PqIndex, k: Int,
                nprobe: Int = 2, refine: Int = 8,
                residual: Boolean = false): DataFrame = {
    // the persisted-once table of a production run: (cid, id, codes, cnorm),
    // one narrow fused kernel pass over the corpus scan
    val enc =
      if (residual) encodeResidual(corpus, corpusId, corpusVec, ivf, index)
      else encodeIvf(corpus, corpusId, corpusVec, ivf, index)
    ivfPqTopKFromEnc(queries, queryId, queryVec, enc,
      corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cvec")),
      ivf, index, k, nprobe, refine, residual)
  }

  /** Non-residual IVF×PQ corpus encoding `(cid, neighbor_id, codes, cnorm)`
    * — one narrow fused kernel pass over the corpus scan. */
  def encodeIvf(corpus: DataFrame, id: Column, vec: Column,
                ivf: Ann.IvfIndex, index: PqIndex): DataFrame =
    corpus.select(
        get(vectors.nearest_centroids(vec, ivf.centroids, 1), lit(0)).as("cid"),
        id.as("neighbor_id"),
        vectors.pq_encode(vec, index.codebooks).as("codes"))
      .withColumn("cnorm", vectors.pq_code_norm(col("codes"), index.normSq))

  /** The composed IVFADC plan from a prepared `(cid, neighbor_id, codes,
    * cnorm)` table — shared by the in-memory path (which encodes in-plan)
    * and the persisted-index path (which reads the table from parquet). */
  private def ivfPqTopKFromEnc(
      queries: DataFrame, queryId: Column, queryVec: Column,
      enc: DataFrame, corpusVecs: DataFrame,
      ivf: Ann.IvfIndex, index: PqIndex, k: Int,
      nprobe: Int, refine: Int, residual: Boolean): DataFrame = {
    // one query row per probed bucket; a corpus vector lives in exactly ONE
    // bucket, so a (query, neighbor) pair can match at most once — no
    // post-join dedup needed (unlike the LSH band join)
    val q = queries.select(
        queryId.as("query_id"), queryVec.as("qvec"),
        vectors.pq_lut(queryVec, index.codebooks).as("lut"),
        sqrt(vectors.dot_product(queryVec, queryVec)).as("qnorm"),
        explode(vectors.nearest_centroids(queryVec, ivf.centroids, nprobe)).as("cid"))
      .withColumn("qc_dot",
        if (residual)
          vectors.dot_product(col("qvec"), element_at(centroidsLit(ivf), col("cid") + 1))
        else lit(0.0))
    // project to the three scalar ranking columns BEFORE the per-query
    // window: the exchange feeding row_number then moves ~20 bytes per ADC
    // candidate, not the query vector + m*ksub-double LUT payload; qvec
    // rejoins on the tiny post-rank shortlist for the exact re-rank
    val scored = broadcast(q).join(enc, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(col("qnorm") === 0.0 || col("cnorm") === 0.0, lit(0.0))
          .otherwise(
            (col("qc_dot") + vectors.pq_adc_dot(col("codes"), col("lut"), index.ksub)) /
              (col("qnorm") * col("cnorm"))).as("approx_cos"))
    val shortlist = scored
      .withColumn("__srank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("approx_cos").desc, col("neighbor_id"))))
      .filter(col("__srank") <= k * refine)
      .select(col("query_id"), col("neighbor_id"))
      .join(broadcast(queries.select(queryId.as("query_id"), queryVec.as("qvec"))),
        "query_id")
    rerankExact(corpusVecs, col("neighbor_id"), col("cvec"), shortlist, k)
  }

  /** The IVF centroid table as an `array<array<float>>` literal — ships in
    * the plan like the kernel reference objects (k_ivf * dim floats). */
  private def centroidsLit(ivf: Ann.IvfIndex): Column =
    typedLit(ivf.centroids.map(_.toSeq).toSeq)

  /** `vec - centroid(assigned cid)` as a codegen'd column — the quantity
    * residual PQ trains on and encodes. */
  private def residualOf(vec: Column, ivf: Ann.IvfIndex): Column =
    zip_with(vec,
      element_at(centroidsLit(ivf),
        get(vectors.nearest_centroids(vec, ivf.centroids, 1), lit(0)) + 1),
      (x, y) => x - y)

  /** Train a product quantizer on IVF residuals (`vec - assigned
    * centroid`) — same deterministic Lloyd's loop as [[trainPq]], seeded by
    * the residuals of the `ksub` smallest-id vectors. Pair with
    * `ivfPqTopK(..., residual = true)` and [[encodeResidual]]. */
  def trainPqResidual(corpus: DataFrame, id: Column, vec: Column, ivf: Ann.IvfIndex,
                      dim: Int, m: Int, ksub: Int, iterations: Int = 3): PqIndex =
    trainPq(corpus, id, residualOf(vec, ivf), dim, m, ksub, iterations)

  /** Residual encode: `(cid, neighbor_id, codes, cnorm)` with `codes` the
    * PQ codes of `vec - centroid(cid)` and `cnorm` the exact norm of the
    * reconstruction `centroid(cid) + decode(codes)` (per-subspace norm
    * tables don't apply — the centroid couples subspaces — so the encode
    * pass reconstructs; still one narrow fused pass over the corpus). */
  def encodeResidual(corpus: DataFrame, id: Column, vec: Column,
                     ivf: Ann.IvfIndex, index: PqIndex): DataFrame =
    corpus.select(
        get(vectors.nearest_centroids(vec, ivf.centroids, 1), lit(0)).as("cid"),
        id.as("neighbor_id"), vec.as("__v"))
      .withColumn("__cen", element_at(centroidsLit(ivf), col("cid") + 1))
      .withColumn("codes", vectors.pq_encode(
        zip_with(col("__v"), col("__cen"), (x, y) => x - y), index.codebooks))
      .withColumn("__recon", zip_with(col("__cen"),
        vectors.pq_reconstruct(col("codes"), index.codebooks), (x, y) => x + y))
      .withColumn("cnorm", sqrt(vectors.dot_product(col("__recon"), col("__recon"))))
      .select(col("cid"), col("neighbor_id"), col("codes"), col("cnorm"))

  /** Exact-cosine re-rank of a bounded (query_id, qvec, neighbor_id)
    * shortlist: |queries| * k * refine rows by construction — always
    * broadcastable — so the re-rank is one more narrow pass over the corpus
    * scan, never a corpus-wide shuffle to meet a tiny join side. The
    * pre-rank (query_id, neighbor_id) max-cosine agg collapses duplicate
    * corpus rows for the same id (a retried half-finished
    * [[appendToAnnIndex]] leaves one) so a neighbor can never occupy two
    * ranks; it runs over the bounded candidate set, not the corpus.
    *
    * One exchange serves both the agg and the rank window: the scored
    * (query_id, neighbor_id, cosine) rows are hash-partitioned on
    * `query_id` once, which already clusters every (query_id, neighbor_id)
    * group and every per-query window. Skipping the agg's map-side partial
    * step costs nothing at |queries| * k * refine rows; an unbounded
    * candidate set (LSH) keeps its own two-step plan. */
  private def rerankExact(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                          shortlist: DataFrame, k: Int): DataFrame =
    corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cvec"))
      .join(broadcast(shortlist), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        vectors.cosine_similarity(col("qvec"), col("cvec")).as("cosine"))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))

  /**
   * Persist trained codebooks as a tiny parquet table
   * `(subspace, code, centroid)` — the corpus is encoded ONCE against a
   * fixed quantizer; persisting it is what lets tomorrow's ingest encode
   * against the same codes instead of silently re-quantizing. m×ksub rows,
   * float32-exact round-trip.
   */
  def savePq(spark: org.apache.spark.sql.SparkSession, index: PqIndex,
             path: String): Unit = {
    import org.apache.spark.sql.types._
    graft.parquet.LocalParquet.write(spark, path,
      StructType(Seq(StructField("subspace", IntegerType),
        StructField("code", IntegerType),
        StructField("centroid", ArrayType(FloatType, containsNull = false)))),
      (for {
        (cb, sub) <- index.codebooks.zipWithIndex
        (cen, code) <- cb.zipWithIndex
      } yield org.apache.spark.sql.Row(sub, code, cen.toSeq)).toSeq)
  }

  /** Load codebooks persisted by [[savePq]] (bounded m×ksub-row
    * driver-side read — no Spark job). */
  def loadPq(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex = {
    val rows = graft.parquet.LocalParquet.read(spark, path)
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Int]("code"),
        r.getAs[Seq[Float]]("centroid").toArray))
    PqIndex(rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, g) => g.sortBy(_._2).map(_._3) }.map(_.toArray).toArray)
  }

  /**
   * Persist the FULL IVFADC serving state at `path`: both quantizers
   * (`ivf/`, `pq/`), the encoded corpus (`enc/` — `(cid, neighbor_id,
   * codes, cnorm)`, repartitioned on `cid` so a probe scans coherent
   * files), the raw vectors (`vectors/`, exact-re-rank side), and a
   * `params/` row (the residual flag) written LAST so a half-finished save
   * fails loudly. [[ivfPqTopK]] re-encodes the corpus inside every query
   * batch — correct, but at 100 TB the encode kernel pass over all vectors
   * is the dominant cost and is identical across batches; this is the
   * write-once table that [[ivfPqTopKIndexed]] scans instead.
   */
  def saveAnnIndex(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                   ivf: Ann.IvfIndex, index: PqIndex, path: String,
                   residual: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    Ann.saveIvf(spark, ivf, s"$path/ivf")
    savePq(spark, index, s"$path/pq")
    val base = corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cvec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the cache once, then OVERLAP the two independent
      // output writes: the plain vectors dump rides inside the shuffling
      // enc job's wall time, and neither write races the cache
      base.count()
      graft.parallelJobs(spark)(
        () => base.write.mode("overwrite").parquet(s"$path/vectors"),
        () => {
          val enc =
            if (residual) encodeResidual(base, col("neighbor_id"), col("cvec"), ivf, index)
            else encodeIvf(base, col("neighbor_id"), col("cvec"), ivf, index)
          enc.repartition(col("cid")).write.mode("overwrite").parquet(s"$path/enc")
        })
    } finally base.unpersist()
    graft.parquet.LocalParquet.write(spark, s"$path/params",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("residual",
          org.apache.spark.sql.types.BooleanType))),
      Seq(org.apache.spark.sql.Row(residual)))
  }

  /**
   * Append a new vector batch to an index saved by [[saveAnnIndex]]: the
   * daily-ingest loop of a production ANN service. The batch is encoded
   * against the SAVED quantizers (read from `ivf/`, `pq/`, `params/` — a
   * config mismatch cannot happen by construction; codebooks are fixed at
   * save time, exactly like [[graft.dedup.DedupIndex.appendToDedupIndex]])
   * and parquet-appended to `enc/` (repartitioned on `cid`, so new files
   * stay probe-coherent) and `vectors/`. Queries after the append are
   * row-for-row identical to an index saved over the union corpus with the
   * same quantizers (sbt-pinned) — only the increment is ever encoded.
   *
   * Failure mode of a half-finished append: `vectors/` lands first, so a
   * crash between the two writes leaves vectors without codes — such rows
   * can never enter a shortlist (candidates come from `enc/`) and the
   * re-rank's inner join ignores them. Re-running the append restores
   * consistency; the duplicate vector row it leaves is collapsed by the
   * re-rank's per-(query, neighbor) max-cosine agg, so no neighbor can
   * occupy two ranks (sbt-pinned). The reverse write order would instead
   * ship codes whose exact re-rank silently drops — degraded recall,
   * which is why vectors go first.
   */
  def appendToAnnIndex(batch: DataFrame, id: Column, vec: Column,
                       path: String): Unit = {
    val spark = batch.sparkSession
    val residual = graft.parquet.LocalParquet.readRow(spark, s"$path/params")
      .getAs[Boolean]("residual")
    val ivf = Ann.loadIvf(spark, s"$path/ivf")
    val index = loadPq(spark, s"$path/pq")
    val base = batch.select(id.as("neighbor_id"), vec.as("cvec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      base.write.mode("append").parquet(s"$path/vectors")
      val enc =
        if (residual) encodeResidual(base, col("neighbor_id"), col("cvec"), ivf, index)
        else encodeIvf(base, col("neighbor_id"), col("cvec"), ivf, index)
      enc.repartition(col("cid")).write.mode("append").parquet(s"$path/enc")
    } finally base.unpersist()
  }

  /**
   * The composed IVFADC query against a persisted index: loads the two
   * bounded quantizer tables (k_ivf and m×ksub rows), scans `enc/` for the
   * probed buckets only, and exact-re-ranks from `vectors/`. Identical
   * results to the in-memory [[ivfPqTopK]] with the same quantizers
   * (sbt-pinned) — the corpus is never re-encoded.
   *
   * Building the DataFrame runs no Spark job: the params, IVF and PQ
   * tables load on the driver (one file open each), and the `enc/` and
   * `vectors/` schemas come from one footer each instead of an inference
   * job. Collecting it runs 6 jobs (sbt-pinned budget): the two query-side
   * broadcasts, the shortlist exchange and broadcast, the single re-rank
   * exchange and the result stage.
   */
  def ivfPqTopKIndexed(queries: DataFrame, queryId: Column, queryVec: Column,
                       path: String, k: Int,
                       nprobe: Int = 2, refine: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    val residual = graft.parquet.LocalParquet.readRow(spark, s"$path/params")
      .getAs[Boolean]("residual")
    val ivf = Ann.loadIvf(spark, s"$path/ivf")
    val index = loadPq(spark, s"$path/pq")
    ivfPqTopKFromEnc(queries, queryId, queryVec,
      FooterStats.readSparkWritten(spark, s"$path/enc"),
      FooterStats.readSparkWritten(spark, s"$path/vectors"),
      ivf, index, k, nprobe, refine, residual)
  }
}
