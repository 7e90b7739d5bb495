package graft.dedup

import graft.functions.vectors
import graft.text.TextFunctions
import graft.UnpersistHandle
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Deduplication operators for large-scale training-data pipelines.
 *
 * Scale design (the whole point): near-duplicate detection is NEVER all-pairs.
 * Candidates come from LSH bucketing — MinHash band buckets for Jaccard
 * similarity, SimHash bit-bands for Hamming distance, hyperplane sign buckets
 * for cosine — so the only shuffles are hash-partitioned groupBys/joins on
 * bucket keys, and the quadratic blow-up is confined to single buckets
 * (bounded by `maxBucketSize`). Verification of candidate pairs is exact and
 * happens only on the candidate set.
 *
 * Keep-one semantics: a row is dropped iff it has a verified near-duplicate
 * with a smaller id ("keep first"). One round, deterministic, no iterative
 * connected components — the standard single-pass LSH dedup used on web-scale
 * corpora.
 */
object Dedup {

  /** Default cap on LSH bucket size: buckets larger than this are skipped
    * (a degenerate bucket means the feature, not the pair set, is degenerate). */
  val DefaultMaxBucketSize = 1000

  /** Cap on the distinct blocklist shingles decontamination collects to
    * the driver: 32M shingles, 256 MB. */
  val DefaultMaxBlocklistShingles: Long = 32L * 1024 * 1024

  // --------------------------------------------------------------------------
  // Exact dedup
  // --------------------------------------------------------------------------

  /**
   * Keep exactly one row per `key` — the one with the smallest `tieBreak`.
   * Plan: hash-partition on key + in-partition sort (window with partitionBy;
   * no global sort, no single-partition stage).
   */
  def dropExactDuplicates(df: DataFrame, key: Column, tieBreak: Column): DataFrame = {
    val prefix = graft.functions.distinctPrefixFor(df.columns.toSeq)
    val rn = prefix + "rn"
    df.withColumn(rn, row_number().over(Window.partitionBy(key).orderBy(tieBreak)))
      .filter(col(rn) === 1)
      .drop(rn)
  }

  /** Exact text dedup on the normalized-text MD5 fingerprint. */
  def dropExactTextDuplicates(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    dropExactDuplicates(df, TextFunctions.fingerprintMd5(textCol), idCol)

  // --------------------------------------------------------------------------
  // Line-level corpus dedup (C4-style)
  // --------------------------------------------------------------------------

  /**
   * Remove every repeated line across the whole corpus, keeping only its
   * first occurrence (smallest (id, position)) — the C4-style line/sentence
   * dedup that strips boilerplate (navigation, footers, disclaimers)
   * repeated across documents while keeping each document's unique content.
   * Documents whose every line is removed stay in the output with empty
   * text.
   *
   * Scale shape — the naive plan (window `row_number` partitioned by line)
   * funnels every copy of a hot line (empty lines, "all rights reserved")
   * into ONE task. Instead:
   *   1. winner per line = `min(struct(id, pos))` grouped by the line's
   *      xxhash64 — partial aggregation combines map-side, so a
   *      billion-copy boilerplate line sends one row per map task to the
   *      shuffle, and only 8-byte hashes travel, not line text;
   *   2. survivors = left-semi join of the exploded lines against the
   *      winner set on (id, pos) — a uniformly distributed key, so the
   *      skew of the line distribution never reaches a join;
   *   3. reassembly = groupBy(id) with an in-group sort by position.
   */
  def deduplicateLines(
      df: DataFrame, id: Column, text: Column,
      separator: String = "\n", outputTextColumn: String = "text"): DataFrame = {
    val p = graft.functions.distinctPrefixFor(df.columns.toSeq)
    val idc = p + "id"
    val pos = p + "pos"
    val line = p + "line"
    val w = p + "w"
    val parts = df.select(id.as(idc),
      posexplode(split(text, java.util.regex.Pattern.quote(separator))).as(Seq(pos, line)))
    val winners = parts
      .groupBy(xxhash64(col(line)))
      .agg(min(struct(col(idc), col(pos))).as(w))
      .select(col(w)(idc).as(idc), col(w)(pos).as(pos))
    val kept = parts.join(winners, Seq(idc, pos), "left_semi")
    val reassembled = kept
      .groupBy(col(idc))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col(pos), col(line)))), x => x(line)),
        separator).as(outputTextColumn))
    df.select(id).join(reassembled, id === col(idc), "left")
      .select(id, coalesce(col(outputTextColumn), lit("")).as(outputTextColumn))
  }

  /**
   * Remove EVERY occurrence of lines appearing in at least `minDocs`
   * DISTINCT documents — the CCNet-style boilerplate filter. This is a
   * different contract from [[deduplicateLines]]: keep-first dedup preserves
   * one copy of a cookie banner somewhere in the corpus; a boilerplate line
   * ("all rights reserved", navigation text) is noise in every document
   * including the first, so the frequency threshold drops them all while a
   * line shared by only a few documents (a quotation) survives untouched.
   *
   * Scale shape: the frequency pass groups by the 8-byte line hash with
   * `count(distinct id)` — Spark plans the two-stage distinct aggregate, so
   * map tasks combine (hash, id) pairs locally and only 16-byte rows reach
   * either exchange; line text never enters the counting side. Survivor
   * selection is a left-anti join on the hash (uniformly distributed key;
   * the deliberately-skewed hashes — the boilerplate — are exactly the rows
   * the join DROPS, and AQE's skew split applies to the anti join's sorted
   * probe side). Reassembly is the same per-document group-sort as
   * [[deduplicateLines]].
   */
  def removeBoilerplateLines(
      df: DataFrame, id: Column, text: Column, minDocs: Int,
      separator: String = "\n", outputTextColumn: String = "text"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val p = graft.functions.distinctPrefixFor(df.columns.toSeq)
    val idc = p + "id"
    val pos = p + "pos"
    val line = p + "line"
    val h = p + "h"
    val n = p + "n"
    val parts = df.select(id.as(idc),
      posexplode(split(text, java.util.regex.Pattern.quote(separator))).as(Seq(pos, line)))
      .withColumn(h, xxhash64(col(line)))
    val boilerplate = parts
      .groupBy(col(h))
      .agg(count_distinct(col(idc)).as(n))
      .filter(col(n) >= minDocs)
      .select(col(h))
    val kept = parts.join(boilerplate, Seq(h), "left_anti")
    val reassembled = kept
      .groupBy(col(idc))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col(pos), col(line)))), x => x(line)),
        separator).as(outputTextColumn))
    df.select(id).join(reassembled, id === col(idc), "left")
      .select(id, coalesce(col(outputTextColumn), lit("")).as(outputTextColumn))
  }

  // --------------------------------------------------------------------------
  // Decontamination (benchmark / test-set overlap removal)
  // --------------------------------------------------------------------------

  /**
   * Drop corpus documents that share at least `minOverlap` distinct
   * `shingleSize`-word shingles with ANY blocklist document — the standard
   * n-gram decontamination step that removes evaluation/benchmark text from a
   * training corpus.
   *
   * One narrow filter: the blocklist's distinct hashed shingles (64-bit,
   * collision odds 2^-64, the dedup pipeline's representation) are collected
   * to a SORTED long array, broadcast once per executor, and each document's
   * shingle array is counted against it by binary search inside whole-stage
   * codegen ([[graft.functions.SortedSetOverlapCount]]). Exact, zero shuffles
   * and zero joins on the corpus side, so a STREAMING `corpus` works as well
   * as a batch one: the returned frame is a stateless per-batch filter, legal
   * in any output mode (the blocklist must be static).
   *
   * The decision is per row: a document is dropped for its own shingles
   * only, so rows sharing an id are decided independently. Null and
   * shingle-less texts are kept.
   *
   * Cost model: the blocklist build is one batch job at call time, before
   * the corpus is scanned; then 8 bytes per distinct blocklist shingle of
   * executor memory and log2(set) probes per corpus shingle. A blocklist
   * with more than [[DefaultMaxBlocklistShingles]] (32M, 256 MB) distinct
   * shingles is refused before the set reaches the driver.
   */
  def decontaminate(
      corpus: DataFrame, text: Column,
      blocklist: DataFrame, blocklistText: Column,
      shingleSize: Int = 8, minOverlap: Int = 1): DataFrame =
    corpus.filter(belowOverlap(
      blocklistShingles(blocklist, blocklistText, shingleSize), text, shingleSize, minOverlap))

  /**
   * Per-document contamination REPORT instead of a filter: every corpus row
   * with its shingle count, blocklist-overlap count, and overlap fraction
   * (`n_overlap / n_shingles`, 0.0 for shingle-less docs). Same broadcast
   * sorted-long-array probe as [[decontaminate]] — zero shuffles,
   * streaming-legal — but the score survives, so a pipeline can grade
   * contamination severity (near-miss auditing, threshold sweeps) rather
   * than only dropping docs.
   */
  def contaminationReport(
      corpus: DataFrame, id: Column, text: Column,
      blocklist: DataFrame, blocklistText: Column,
      shingleSize: Int = 8): DataFrame = {
    val probe = shingleOverlap(
      blocklistShingles(blocklist, blocklistText, shingleSize), text, shingleSize)
    val nShingles = size(TextFunctions.hashedTextShingles(text, shingleSize))
    corpus.select(
      id.as("id"),
      nShingles.cast("long").as("n_shingles"),
      coalesce(probe, lit(0L)).cast("long").as("n_overlap"))
      .withColumn("contamination",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_overlap").cast("double") / col("n_shingles").cast("double")))
  }

  /** The blocklist's distinct hashed shingles: one `bigint` column `h`, the
    * frame [[shingleOverlap]] takes and the blocklist artifact stores. */
  private[graft] def blocklistShingles(
      blocklist: DataFrame, blocklistText: Column, shingleSize: Int): DataFrame =
    blocklist.select(explode(TextFunctions.hashedTextShingles(blocklistText, shingleSize)).as("h"))
      .distinct()

  /** How many of `text`'s distinct shingles are in `hashes`, a one-column
    * frame of distinct shingle hashes: the one probe every decontamination
    * entry builds. Runs one batch job over the STATIC `hashes` to collect
    * them into a sorted array broadcast once per executor; the returned
    * expression is stateless. */
  private[graft] def shingleOverlap(
      hashes: DataFrame, text: Column, shingleSize: Int,
      maxShingles: Long = DefaultMaxBlocklistShingles): Column = {
    import org.apache.spark.sql.graftext._
    // limit caps the collect BEFORE it reaches the driver, so an over-size
    // blocklist fails the require instead of exhausting driver memory
    val capped = hashes.limit(math.min(maxShingles + 1, Int.MaxValue.toLong).toInt).collect()
    require(capped.length <= maxShingles,
      s"blocklist has > $maxShingles distinct shingles, the cap of the broadcast set")
    val sorted = capped.map(_.getLong(0))
    java.util.Arrays.sort(sorted)
    val bcast = hashes.sparkSession.sparkContext.broadcast(sorted)
    graft.functions.SortedSetOverlapCount(
      TextFunctions.hashedTextShingles(text, shingleSize).asExpression, bcast).asColumn
  }

  /** The keep predicate of [[decontaminate]]: fewer than `minOverlap` of
    * `text`'s shingles in `hashes`, or no shingles at all. */
  private[graft] def belowOverlap(
      hashes: DataFrame, text: Column, shingleSize: Int, minOverlap: Int): Column = {
    require(minOverlap >= 1, s"minOverlap must be >= 1: $minOverlap")
    val probe = shingleOverlap(hashes, text, shingleSize)
    probe < minOverlap || probe.isNull
  }

  // --------------------------------------------------------------------------
  // MinHash + LSH near-dup
  // --------------------------------------------------------------------------

  /**
   * Candidate pairs (idA < idB) that share at least one MinHash band bucket.
   * `features` is an `array<string>` (tokens/shingles) or `array<long>`
   * (pre-hashed shingles, e.g. [[TextFunctions.hashedTextShingles]] — the hot
   * path). k = bands * rowsPerBand signature components.
   */
  def minHashCandidates(
      df: DataFrame, id: Column, features: Column,
      bands: Int, rowsPerBand: Int,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // fused kernel: signature + band bucket hashes in one pass (keeping the
    // signature out of a HOF lambda, where it would be re-evaluated per band)
    val exploded = df
      .select(id.as("id"),
        posexplode(vectors.minhash_band_hashes(features, bands, rowsPerBand))
          .as(Seq("band", "bucket")))
    bucketPairs(exploded, maxBucketSize)
  }

  /**
   * Verified near-duplicate pairs by word-shingle Jaccard: MinHash-LSH
   * candidates, then exact Jaccard over the shingle sets, kept when
   * `jaccard >= threshold`. Output: (idA, idB, jaccard), idA < idB.
   *
   * The shingle set feeds candidate generation AND both sides of the verify
   * join, so it is cached for the call (one tokenize+shingle+hash pass over
   * the corpus instead of three). The call returns pinned pairs and holds
   * no cache.
   */
  def nearDupPairsMinHash(
      df: DataFrame, id: Column, text: Column,
      shingleSize: Int = 3, bands: Int = 16, rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    UnpersistHandle.pinned(minHashPairs(df, id, text, shingleSize, bands, rowsPerBand,
      threshold, maxBucketSize, _))

  /** The lazy plan of [[nearDupPairsMinHash]], its shingle cache given to
    * `handle`: the body curation runs under its own stage handle. */
  private[graft] def minHashPairs(
      df: DataFrame, id: Column, text: Column,
      shingleSize: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucketSize: Int, handle: UnpersistHandle): DataFrame = {
    val shingled = UnpersistHandle.persist(shingles(df, id, text, shingleSize), handle)
    val candidates = minHashCandidates(
      shingled, col("id"), col("shingles"), bands, rowsPerBand, maxBucketSize)
    verifyJaccard(candidates, shingled, shingled, threshold)
  }

  /**
   * SimHash near-dup candidates: the 64-bit SimHash is cut into `bands`
   * equal bit-bands; docs sharing any band are candidates (guaranteed to
   * include every pair with Hamming distance < bands). Pairs are prefiltered
   * by `hamming64 <= maxHamming` before exact verification.
   */
  def simHashCandidates(
      df: DataFrame, id: Column, features: Column,
      bands: Int = 8, maxHamming: Int = 12,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64: $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val withSim = df.select(id.as("id"), vectors.simhash64(features).as("sim"))
    val bandCols = (0 until bands).map(b =>
      shiftrightunsigned(col("sim"), b * width).bitwiseAND(lit(mask)))
    val exploded = withSim
      .select(col("id"), col("sim"), posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    val pairs = bucketPairsWith(exploded, Seq("sim"), maxBucketSize)
    pairs.filter(vectors.hamming64(col("simA"), col("simB")) <= maxHamming)
      .select(col("idA"), col("idB"))
  }

  /** SimHash-candidate near-dup pairs verified by exact shingle Jaccard.
    * Shingles are cached for the call, and the pairs returned pinned, as in
    * [[nearDupPairsMinHash]]. */
  def nearDupPairsSimHash(
      df: DataFrame, id: Column, text: Column,
      shingleSize: Int = 3, bands: Int = 8, maxHamming: Int = 12,
      threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    UnpersistHandle.pinned { handle =>
      val shingled = UnpersistHandle.persist(shingles(df, id, text, shingleSize), handle)
      val candidates = simHashCandidates(
        shingled, col("id"), col("shingles"), bands, maxHamming, maxBucketSize)
      verifyJaccard(candidates, shingled, shingled, threshold)
    }

  /**
   * CROSS-CORPUS near-dup pairs: each corpus document against a reference
   * corpus (the batch-ingest question — "which of today's crawl is already
   * in the deduped corpus?" — where self-join dedup is the wrong shape: the
   * reference is already clean, so reference×reference pairs are wasted
   * work). Output: `(idA, idB, jaccard)` with idA from `corpus`, idB from
   * `reference`, word-shingle Jaccard >= `threshold`.
   *
   * Scale shape: both sides shingle once (cached for the call, which
   * returns pinned pairs and holds no cache);
   * candidates come from an EQUI-join of the two sides' (band, bucket)
   * explosions — never a within-bucket pair blow-up across the union. Hot
   * buckets are counted and capped per side BEFORE the join (same
   * map-side-combined count + semi-join discipline as [[minHashCandidates]]),
   * and the candidate dedup shuffles bare id pairs — no shingle arrays in
   * the exchange.
   */
  def nearDupPairsMinHashAgainst(
      corpus: DataFrame, reference: DataFrame, id: Column, text: Column,
      shingleSize: Int = 3, bands: Int = 16, rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    UnpersistHandle.pinned { handle =>
      val corpusShingled = UnpersistHandle.persist(shingles(corpus, id, text, shingleSize), handle)
      val refShingled = UnpersistHandle.persist(shingles(reference, id, text, shingleSize), handle)
      pairsAgainst(corpusShingled, bands, rowsPerBand, maxBucketSize,
        pruneHotBuckets(bandRows(refShingled, bands, rowsPerBand), maxBucketSize),
        refShingled, threshold)
    }

  /** Drop every corpus document near-duplicating a reference document —
    * [[nearDupPairsMinHashAgainst]] applied as an anti-join on the corpus
    * side (the reference is untouched by construction). */
  def deduplicateAgainst(
      corpus: DataFrame, reference: DataFrame, id: Column, text: Column,
      shingleSize: Int = 3, bands: Int = 16, rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    dropMatched(corpus, id, nearDupPairsMinHashAgainst(corpus, reference, id, text,
      shingleSize, bands, rowsPerBand, threshold, maxBucketSize))

  // --------------------------------------------------------------------------
  // Embedding near-dup
  // --------------------------------------------------------------------------

  /**
   * All pairs with cosine similarity >= threshold, exact O(n²) — the
   * correctness baseline. For production scale use
   * [[embeddingCandidatesLsh]] + verification instead.
   */
  def embeddingPairsBruteForce(
      df: DataFrame, id: Column, vec: Column, threshold: Double): DataFrame = {
    val a = df.select(id.as("idA"), vec.as("vecA"))
    val b = df.select(id.as("idB"), vec.as("vecB"))
    a.crossJoin(b)
      .filter(col("idA") < col("idB"))
      .filter(vectors.cosine_similarity(col("vecA"), col("vecB")) >= threshold)
      .select(col("idA"), col("idB"))
  }

  /**
   * Hyperplane-LSH candidate pairs for cosine similarity: `bands` buckets of
   * `bits` sign-bits each, hyperplanes drawn from a seeded deterministic
   * Gaussian. Docs sharing any band bucket are candidates. Recall rises with
   * similarity (collision prob per bit = 1 - angle/pi); meant for
   * high-similarity near-dup thresholds.
   */
  def embeddingCandidatesLsh(
      df: DataFrame, id: Column, vec: Column, dim: Int,
      bands: Int = 16, bits: Int = 12, seed: Long = 42,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val exploded = df.select(id.as("id"),
      posexplode(vectors.lsh_band_buckets(vec, hyperplanes(bands, bits, dim, seed)))
        .as(Seq("band", "bucket")))
    bucketPairs(exploded, maxBucketSize)
  }

  /**
   * Embedding near-dup pairs at scale: hyperplane-LSH candidate bucketing
   * (same seeded buckets as [[embeddingCandidatesLsh]]) with the embedding
   * carried through the bucket shuffle so exact-cosine verification happens
   * in-plan with no join-back — the [[nearDupPairsSimHash]] pattern. Output:
   * `(idA, idB)` with cosine similarity >= `threshold`.
   *
   * Scale shape: one bucket shuffle (carrying id + dim×4 bytes per member),
   * quadratic work confined to single buckets bounded by `maxBucketSize`,
   * and verification runs BEFORE the candidate `distinct` so the dedup
   * exchange carries only verified bare id pairs. No cartesian product
   * anywhere — this is the production path; [[embeddingPairsBruteForce]] is
   * the O(n²) correctness referee.
   *
   * Recall: per-band collision probability is `(1 - θ/π)^bits` for angle θ;
   * production near-dup thresholds use the high-bits defaults, while an
   * exact-recall gate on a low-threshold fixture wants low `bits` and many
   * `bands` (see the `dedup_embedding_lsh` gate query).
   */
  def nearDupPairsEmbeddingLsh(
      df: DataFrame, id: Column, vec: Column, dim: Int, threshold: Double,
      bands: Int = 16, bits: Int = 12, seed: Long = 42,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val exploded = df.select(id.as("id"), vec.as("vec"),
      posexplode(vectors.lsh_band_buckets(vec, hyperplanes(bands, bits, dim, seed)))
        .as(Seq("band", "bucket")))
    bucketPairsWith(exploded, Seq("vec"), maxBucketSize,
      verify = _.filter(
        vectors.cosine_similarity(col("vecA"), col("vecB")) >= threshold)
        .select(col("idA"), col("idB")))
  }

  /** hyperplanes[band][bit] = deterministic seeded Gaussian vector; buckets
    * are computed by one fused kernel pass over the embedding. Delegates to
    * the ONE generator ([[graft.ann.Ann.hyperplanes]]) so the batch dedup,
    * the ANN search, and the streaming twin provably share bucket identity. */
  private def hyperplanes(
      bands: Int, bits: Int, dim: Int, seed: Long): Array[Array[Array[Float]]] =
    graft.ann.Ann.hyperplanes(bands, bits, dim, seed)

  // --------------------------------------------------------------------------
  // Keep-one application
  // --------------------------------------------------------------------------

  /** Drop every row whose id appears as the larger member of a verified pair. */
  def keepFirst(df: DataFrame, id: Column, verifiedPairs: DataFrame): DataFrame = {
    val drops = verifiedPairs.select(col("idB").as("__drop_id")).distinct()
    df.join(drops, id === col("__drop_id"), "left_anti")
  }

  /** Drop every corpus row whose id appears as the corpus member (idA) of
    * a pair against a reference — the against-reference anti-join. */
  private[graft] def dropMatched(corpus: DataFrame, id: Column, pairs: DataFrame): DataFrame = {
    val matched = pairs.select(col("idA").as("__drop_id")).distinct()
    corpus.join(matched, id === col("__drop_id"), "left_anti")
  }

  /** End-to-end MinHash near-dup dedup: keep first of every duplicate set. */
  def deduplicateMinHash(
      df: DataFrame, id: Column, text: Column,
      shingleSize: Int = 3, bands: Int = 16, rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    keepFirst(df, id, nearDupPairsMinHash(df, id, text, shingleSize, bands, rowsPerBand,
      threshold, maxBucketSize))

  // --------------------------------------------------------------------------
  // internals
  // --------------------------------------------------------------------------

  /** `(id, shingles)` rows of `df`: the hashed word-shingle sets every
    * MinHash path caches. */
  private[dedup] def shingles(
      df: DataFrame, id: Column, text: Column, shingleSize: Int): DataFrame =
    df.select(id.as("id"), TextFunctions.hashedTextShingles(text, shingleSize).as("shingles"))

  /** One `(id, band, bucket)` row per MinHash band of each shingle set. */
  private[dedup] def bandRows(shingled: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    shingled.select(col("id"),
      posexplode(vectors.minhash_band_hashes(col("shingles"), bands, rowsPerBand))
        .as(Seq("band", "bucket")))

  /** The candidate + verify half of every MinHash against-reference path:
    * band and prune the persisted corpus shingles, equi-join them against
    * the reference side's pruned `(band, bucket, id)` rows, and verify the
    * candidates against the reference's `(id, shingles)` rows. Output
    * `(idA, idB, jaccard)`, idA from the corpus. */
  private[dedup] def pairsAgainst(
      corpusShingled: DataFrame, bands: Int, rowsPerBand: Int, maxBucketSize: Int,
      refBuckets: DataFrame, refShingles: DataFrame, threshold: Double): DataFrame = {
    val corpusX = pruneHotBuckets(bandRows(corpusShingled, bands, rowsPerBand), maxBucketSize)
    val candidates = corpusX
      .join(refBuckets.withColumnRenamed("id", "__ref_id"), Seq("band", "bucket"))
      .select(col("id").as("idA"), col("__ref_id").as("idB"))
      .distinct() // bare 16-byte id pairs in the exchange
    verifyJaccard(candidates, corpusShingled, refShingles, threshold)
  }

  /** Drop rows in oversized (band, bucket) groups — the same map-side-
    * combined count + left-semi join discipline as [[bucketPairsWith]], but
    * WITHOUT the lower bound of 2: in a cross-corpus join a bucket holding
    * one corpus doc and one reference doc is a singleton on each side yet
    * still a candidate. The hot bucket's member list never materializes. */
  private[dedup] def pruneHotBuckets(exploded: DataFrame, maxBucketSize: Int): DataFrame = {
    val inRange = exploded
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bucket_count"))
      .filter(col("__bucket_count") <= maxBucketSize)
      .select(col("band"), col("bucket"))
    exploded.join(inRange, Seq("band", "bucket"), "left_semi")
  }

  /** Distinct (idA < idB) pairs sharing a (band, bucket); oversized buckets
    * dropped. One shuffle on the bucket key; quadratic work confined to
    * within-bucket pair generation. */
  private def bucketPairs(exploded: DataFrame, maxBucketSize: Int): DataFrame =
    bucketPairsWith(exploded, Seq.empty, maxBucketSize).select(col("idA"), col("idB"))

  /** Same, carrying `extra` per-doc columns to both sides (suffixed A/B).
    * `verify` runs on the raw pair stream BEFORE the closing `distinct`, so
    * a caller that verifies-and-projects there shrinks both the row count
    * and the row width of the dedup exchange (the fuzzy-join discipline). */
  private def bucketPairsWith(
      exploded: DataFrame, extra: Seq[String], maxBucketSize: Int,
      verify: DataFrame => DataFrame = identity): DataFrame = {
    // Skew safety: prune degenerate buckets BEFORE collecting member lists.
    // A hot bucket (empty docs, boilerplate) can hold millions of members at
    // 100 TB; `collect_list` would materialize that entire array in a single
    // aggregation buffer before a post-hoc size filter could drop it. Instead:
    //   1. count members per bucket — partial aggregation means the map side
    //      combines, so the shuffle carries one (band, bucket, count) row per
    //      map task, never the hot bucket's rows;
    //   2. left-semi join exploded against the in-range buckets — this is the
    //      one full shuffle of the candidate rows;
    //   3. collect_list on the survivors, whose size is provably
    //      <= maxBucketSize — reuses the join's hash partitioning, no extra
    //      exchange.
    val inRange = exploded
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bucket_count"))
      .filter(col("__bucket_count").between(2, maxBucketSize))
      .select(col("band"), col("bucket"))
    val pruned = exploded.join(inRange, Seq("band", "bucket"), "left_semi")
    val member = struct((col("id") +: extra.map(col)): _*).as("m")
    val buckets = pruned
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(member).as("members"))
    val sorted = array_sort(col("members"))
    val pairs = buckets.select(explode(
      flatten(transform(sorted, (a, i) =>
        transform(slice(sorted, i + 2, size(sorted)), b => struct(a.as("a"), b.as("b")))))).as("p"))
    val aCols = col("p.a.id").as("idA") +: extra.map(e => col(s"p.a.$e").as(s"${e}A"))
    val bCols = col("p.b.id").as("idB") +: extra.map(e => col(s"p.b.$e").as(s"${e}B"))
    verify(pairs.select((aCols ++ bCols): _*)).distinct()
  }

  /** Join candidate pairs back to their `(id, shingles)` rows — `sideA`'s
    * for idA, `sideB`'s for idB (the same frame for a self-join) — and keep
    * those with exact Jaccard >= threshold. Output (idA, idB, jaccard). */
  private[dedup] def verifyJaccard(
      candidates: DataFrame, sideA: DataFrame, sideB: DataFrame,
      threshold: Double): DataFrame = {
    val a = sideA.select(col("id").as("idA"), col("shingles").as("shinglesA"))
    val b = sideB.select(col("id").as("idB"), col("shingles").as("shinglesB"))
    candidates
      .join(a, "idA").join(b, "idB")
      .withColumn("jaccard", TextFunctions.jaccard(col("shinglesA"), col("shinglesB")))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
  }
}
