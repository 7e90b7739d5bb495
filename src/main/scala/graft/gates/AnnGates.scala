package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Embedding, ANN index, clustering and retrieval gates over `embeddings` and `documents`. */
private[graft] object AnnGates {

  /** The first 20 vectors: the query set of the top-k and recall gates. */
  private def queries20(emb: DataFrame): DataFrame = emb.filter(col("vec_id") < 20)

  /** The 16-list IVF quantizer the IVF and IVF-PQ gates train. */
  private def trainIvf(emb: DataFrame): graft.ann.Ann.IvfIndex =
    graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"), k = 16, iterations = 3)

  /** The 8 x 16 product quantizer the PQ and IVF-PQ gates train. */
  private def trainPq(emb: DataFrame): graft.ann.Pq.PqIndex =
    graft.ann.Pq.trainPq(emb, col("vec_id"), col("embedding"),
      dim = 64, m = 8, ksub = 16, iterations = 3)

  /** Save the even vec_ids as an index under `ivf`/`pqi`, then append the
    * odd ones against the saved quantizers. */
  private def saveHalfAppendHalf(emb: DataFrame, ivf: graft.ann.Ann.IvfIndex,
                                 pqi: graft.ann.Pq.PqIndex, idx: String): Unit = {
    graft.ann.Pq.saveAnnIndex(emb.filter(col("vec_id") % 2 === 0),
      col("vec_id"), col("embedding"), ivf, pqi, idx)
    graft.ann.Pq.appendToAnnIndex(emb.filter(col("vec_id") % 2 === 1),
      col("vec_id"), col("embedding"), idx)
  }

  /** The first 20 vectors' IVFADC top-3 through the persisted index `idx`. */
  private def indexedTop3(emb: DataFrame, idx: String): DataFrame =
    graft.ann.Pq.ivfPqTopKIndexed(
      queries20(emb), col("vec_id"), col("embedding"),
      idx, k = 3, nprobe = 3, refine = 8)
      .select(col("query_id"), col("rank"), col("neighbor_id"))

  /** The brute-force top-3 (query_id, neighbor_id) pairs of the first 20
    * vectors: the truth set of the recall gates. */
  private def bruteTop3(emb: DataFrame): DataFrame =
    graft.ann.Ann.bruteForceTopK(queries20(emb), emb,
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
      .select(col("query_id"), col("neighbor_id"))

  /** `total_expected`, the truth-set size, and `recall_ok`: whether the
    * approximate top-3 finds at least `floor` of the truth set. */
  private def recallOk(emb: DataFrame, approx: DataFrame, floor: Double): DataFrame = {
    val brute = bruteTop3(emb)
    val hits = brute.join(approx.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    brute.agg(count(lit(1)).as("total_expected"))
      .crossJoin(hits)
      .select(col("total_expected"),
        (col("hits") >= col("total_expected") * floor).as("recall_ok"))
  }

  /** The golden IVFADC top-3 that every persisted-index gate must return. */
  private val ivfPqGoldenSql =
    "SELECT query_id, rank, neighbor_id " +
      s"FROM read_parquet('$goldenDir/ann_ivfpq_topk_sf001.parquet')"

  /** DuckDB's brute-force cosine top-k of the first 20 vectors, which the
    * recall oracles count. */
  private val bruteTop3Cte =
    "WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20), " +
      "topk AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
      "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank " +
      "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id) "

  /** The recall-gate oracle: the truth-set size and a true verdict. */
  private val recallOkSql =
    bruteTop3Cte + "SELECT CAST(COUNT(*) AS BIGINT) AS total_expected, TRUE AS recall_ok " +
      "FROM topk WHERE rank <= 3"

  /** The four BM25 queries; the fourth carries a term absent from the
    * corpus (contributes nothing — pins df=0 handling). */
  private def bm25Queries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (0L, Seq("hash", "table", "scan")),
      (1L, Seq("merge", "sort")),
      (2L, Seq("window", "batch", "slow")),
      (3L, Seq("spark", "value", "zzzunseen"))).toDF("query_id", "terms")
  }

  /** The same four queries as (query_id, term) rows for DuckDB. */
  private val bm25QueryTermsCte =
    "qt AS (SELECT * FROM (VALUES (0,'hash'),(0,'table'),(0,'scan')," +
      "(1,'merge'),(1,'sort'),(2,'window'),(2,'batch'),(2,'slow')," +
      "(3,'spark'),(3,'value'),(3,'zzzunseen')) AS v(query_id, term))"

  /** The BM25 replication over `tok` and `qt`, ending in the per-(query,
    * doc) fixed-point score table `sc` — bit-length idf, floored integer
    * avgdl, exact fixed-point saturation term (x1e6), BIGINT score sums. */
  private val bm25ScoreCtes =
    "stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(len(toks)) AS BIGINT) AS total_tokens FROM tok), " +
      "post AS (SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS dl, x.term " +
      "FROM tok t, unnest(t.toks) AS x(term) " +
      "WHERE x.term IN (SELECT term FROM qt)), " +
      "tf AS (SELECT doc_id, term, dl, CAST(COUNT(*) AS BIGINT) AS tf " +
      "FROM post GROUP BY doc_id, term, dl), " +
      "dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term), " +
      "contrib AS (SELECT tf.term, tf.doc_id, " +
      "CAST(length(format('{:b}', s.n_docs)) - length(format('{:b}', dfc.df)) AS BIGINT) " +
      "* ((1000000 * 44 * tf.tf * (s.total_tokens // s.n_docs)) // " +
      "(20 * tf.tf * (s.total_tokens // s.n_docs) + 6 * (s.total_tokens // s.n_docs) + 18 * tf.dl)) AS c " +
      "FROM tf JOIN dfc USING (term) CROSS JOIN stats s), " +
      "sc AS (SELECT qt.query_id, contrib.doc_id, CAST(SUM(contrib.c) AS BIGINT) AS score_scaled " +
      "FROM qt JOIN contrib USING (term) GROUP BY qt.query_id, contrib.doc_id)"

  private val bm25Ctes = s"WITH $docTokCte, $bm25QueryTermsCte, " + bm25ScoreCtes

  val gates: Seq[Gate] = Seq(
    // BM25 sparse retrieval (k1=1.2, b=0.75): bit-length idf + exact
    // fixed-point saturation term, so the scores hash-match the DuckDB
    // replication term for term. The fourth query carries a term absent
    // from the corpus (contributes nothing — pins df=0 handling).
    Gate("bm25_topk", (s, dir) => {
      graft.text.Bm25.topK(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        bm25Queries(s), col("query_id"), col("terms"), k = 10)
    },
      // BM25: full arithmetic replication — bit-length idf, floored integer
      // avgdl, exact fixed-point saturation term (x1e6), BIGINT score sums,
      // one final division. Same query literals as the Spark side.
      bm25Ctes + " " +
        "SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank, doc_id, " +
        "CAST(score_scaled AS DOUBLE) / 1000000 AS score FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS rank FROM sc) " +
        "WHERE rank <= 10"),

    // hard-negative mining (the dense-retriever training-data op): BM25
    // top-(k*factor) candidates minus known positives, re-ranked 1..k per
    // query. Positives mix docs that rank (must vanish) and ones that
    // don't (no effect); the bounded re-rank window sees k*factor rows max.
    Gate("hard_negatives", (s, dir) => {
      import s.implicits._
      val positives = Seq((0L, 3L), (0L, 17L), (1L, 5L), (2L, 999999L))
        .toDF("query_id", "doc_id")
      graft.search.Mining.mineHardNegatives(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        bm25Queries(s), col("query_id"), col("terms"),
        positives, col("query_id"), col("doc_id"), k = 5, candidateFactor = 2)
    },
      // the full BM25 replication at k*factor=10, positives removed via
      // NOT EXISTS, survivors renumbered 1..5 per query
      s"WITH $docTokCte, $bm25QueryTermsCte, " +
        "pos AS (SELECT * FROM (VALUES (0, 3),(0, 17),(1, 5),(2, 999999)) AS v(query_id, doc_id)), " +
        bm25ScoreCtes + ", " +
        "topk AS (SELECT * FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS rank FROM sc) " +
        "WHERE rank <= 10), " +
        "neg AS (SELECT t.*, row_number() OVER (PARTITION BY t.query_id ORDER BY t.rank) AS neg_rank " +
        "FROM topk t WHERE NOT EXISTS (SELECT 1 FROM pos p " +
        "WHERE p.query_id = t.query_id AND p.doc_id = t.doc_id)) " +
        "SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neg_rank AS INT) AS neg_rank, doc_id, " +
        "CAST(score_scaled AS DOUBLE) / 1000000 AS score FROM neg WHERE neg_rank <= 5"),

    // P111 margin-based aligned-pair mining (the bitext-mining criterion):
    // embeddings split by vec_id parity into two corpora, NN4 both
    // directions over the int8 tier (exact integer dots — cos8 is a double
    // computed from exact ints, bit-portable where float32 cosine is not),
    // neighborhood mass summed in fixed point (floor(cos*2^20) longs),
    // margin = one IEEE division of exact ints, mutual-best + threshold.
    // The oracle replays the ENTIRE algebra relationally — quantization,
    // dots, margins — bit-identical, ties and threshold included. (The
    // float-cosine path, mineAlignedPairs, is pinned against this int8
    // referee in MiningSuite; ids never collide across the parity split,
    // so the int8 tier's self-exclusion is a no-op here.)
    Gate("mined_pairs", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val left = emb.filter(col("vec_id") % 2 === 0)
      val right = emb.filter(col("vec_id") % 2 === 1)
      def nn(q: DataFrame, c: DataFrame) =
        graft.ann.Ann.int8BruteForceTopK(q, c,
          col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 4)
          .withColumnRenamed("cosine_q8", "cosine")
      graft.search.Mining.alignedPairsFromNeighbors(
        nn(left, right), nn(right, left), k = 4, minMargin = 1.0)
    },
      // P111: full relational replay of the margin algebra — int8 quantize
      // (the embedding_int8_codes replay), exact integer dots, cos8 as one
      // double from exact ints, NN4 both directions, fixed-point
      // neighborhood sums (CAST to BIGINT: DuckDB promotes SUM to
      // HUGEINT), one double division, mutual best.
      "WITH base AS (SELECT vec_id, embedding AS e, " +
        "COALESCE(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 0.0) AS m FROM embeddings), " +
        "codes AS (SELECT vec_id, CASE WHEN m = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT)) " +
        "ELSE list_transform(e, x -> CAST(GREATEST(-127.0, LEAST(127.0, " +
        "floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5))) AS BIGINT)) END AS c FROM base), " +
        "n AS (SELECT vec_id, c, list_sum(list_transform(list_zip(c, c), p -> p[1] * p[2])) AS nn FROM codes), " +
        "l AS (SELECT vec_id AS id, c, nn FROM n WHERE vec_id % 2 = 0), " +
        "r AS (SELECT vec_id AS id, c, nn FROM n WHERE vec_id % 2 = 1), " +
        "sc AS (SELECT l.id AS lid, r.id AS rid, " +
        "  CASE WHEN l.nn = 0 OR r.nn = 0 THEN 0.0 ELSE " +
        "  CAST(list_sum(list_transform(list_zip(l.c, r.c), p -> p[1] * p[2])) AS DOUBLE) / " +
        "  sqrt(CAST(l.nn AS DOUBLE) * CAST(r.nn AS DOUBLE)) END AS cos " +
        "  FROM l, r), " +
        "nnlr AS (SELECT * FROM (SELECT lid, rid, cos, " +
        "  ROW_NUMBER() OVER (PARTITION BY lid ORDER BY cos DESC, rid) AS rk " +
        "  FROM sc) WHERE rk <= 4), " +
        "nnrl AS (SELECT * FROM (SELECT lid, rid, cos, " +
        "  ROW_NUMBER() OVER (PARTITION BY rid ORDER BY cos DESC, lid) AS rk " +
        "  FROM sc) WHERE rk <= 4), " +
        "a AS (SELECT lid, CAST(SUM(CAST(FLOOR(cos * 1048576) AS BIGINT)) AS BIGINT) AS afp, " +
        "  CAST(COUNT(*) AS BIGINT) AS na FROM nnlr GROUP BY lid), " +
        "b AS (SELECT rid, CAST(SUM(CAST(FLOOR(cos * 1048576) AS BIGINT)) AS BIGINT) AS bfp, " +
        "  CAST(COUNT(*) AS BIGINT) AS nb FROM nnrl GROUP BY rid), " +
        "fwm AS (SELECT nnlr.lid, nnlr.rid, cos, " +
        "  CASE WHEN a.afp * b.nb + b.bfp * a.na > 0 THEN " +
        "    CAST(CAST(FLOOR(cos * 1048576) AS BIGINT) * 2 * a.na * b.nb AS DOUBLE) / " +
        "    CAST(a.afp * b.nb + b.bfp * a.na AS DOUBLE) " +
        "  END AS margin FROM nnlr JOIN a USING (lid) JOIN b USING (rid)), " +
        "fw AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lid " +
        "  ORDER BY margin DESC NULLS LAST, rid) AS fr FROM fwm) WHERE fr = 1), " +
        "bwm AS (SELECT nnrl.lid, nnrl.rid, " +
        "  CASE WHEN a.afp * b.nb + b.bfp * a.na > 0 THEN " +
        "    CAST(CAST(FLOOR(cos * 1048576) AS BIGINT) * 2 * a.na * b.nb AS DOUBLE) / " +
        "    CAST(a.afp * b.nb + b.bfp * a.na AS DOUBLE) " +
        "  END AS margin FROM nnrl JOIN a USING (lid) JOIN b USING (rid)), " +
        "bw AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY rid " +
        "  ORDER BY margin DESC NULLS LAST, lid) AS br FROM bwm) WHERE br = 1) " +
        "SELECT fw.lid AS left_id, fw.rid AS right_id, fw.cos AS cosine, fw.margin AS margin " +
        "FROM fw JOIN bw ON fw.lid = bw.lid AND fw.rid = bw.rid " +
        "WHERE fw.margin >= 1.0"),

    // hybrid retrieval: the BM25 lexical top-10 fused with the exact-cosine
    // vector top-10 (doc_id == vec_id in the fixture) by reciprocal-rank
    // fusion — exact integer contributions, BIGINT sums, fully replayable
    // in SQL. Queries 0-3 carry both a term list and their own embedding.
    Gate("hybrid_topk", (s, dir) => {
      val lexical = graft.text.Bm25.topK(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        bm25Queries(s), col("query_id"), col("terms"), k = 10)
      val emb = t(s, dir, "embeddings")
      val vector = graft.ann.Ann.bruteForceTopK(
        emb.filter(col("vec_id") < 4), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.search.Retrieval.rrfFuse(Seq(lexical, vector), k = 10)
    },
      // hybrid retrieval: the full BM25 replication (same CTE chain as
      // bm25_topk) fused with DuckDB's own exact-cosine top-10 by integer
      // reciprocal-rank contributions — every step exact, BIGINT sums.
      bm25Ctes + ", " +
        "bm AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank FROM " +
        "(SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS rank FROM sc) " +
        "WHERE rank <= 10), " +
        "q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 4), " +
        "ann AS (SELECT query_id, doc_id, rank FROM " +
        "(SELECT q.vec_id AS query_id, c.vec_id AS doc_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank " +
        "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id) WHERE rank <= 10), " +
        "u AS (SELECT query_id, doc_id, rank FROM bm UNION ALL SELECT query_id, doc_id, rank FROM ann), " +
        "fused AS (SELECT query_id, doc_id, CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_scaled " +
        "FROM u GROUP BY query_id, doc_id) " +
        "SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rrf_scaled FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id) AS rank FROM fused) " +
        "WHERE rank <= 10"),

    // embedding near-dup pairs — exact O(n²) baseline, retained as the
    // correctness referee for the LSH path below (DuckDB does the same O(n²))
    Gate("dedup_embedding_pairs", (s, dir) =>
      graft.dedup.Dedup.embeddingPairsBruteForce(
        t(s, dir, "embeddings"), col("vec_id"), col("embedding"), 0.35),
      "SELECT a.vec_id AS \"idA\", b.vec_id AS \"idB\" FROM embeddings a JOIN embeddings b " +
        "ON a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35"),

    // embedding near-dup via the scalable hyperplane-LSH path: bucketed
    // candidates + in-plan exact-cosine verify, no cartesian product
    // (plan-pinned in PipelineSuite). Same oracle as the brute baseline —
    // hash-green means recall 1.0 on the fixture. bits=4/bands=96 are the
    // exact-recall gate parameters for the fixture's low 0.35 threshold
    // (per-pair miss prob (1-(1-θ/π)^4)^96 ≈ 4e-7 at cos=0.35); production
    // near-dup thresholds use the higher-bits defaults.
    // Scalable embedding near-dup at PRODUCTION parameters. The fixture has
    // no high-similarity pairs (max random cosine ~0.6), so the gate plants
    // them: an exactly-colinear copy (x2 — exact in float) of every vector.
    // Cosine LSH is scale-invariant — sign(h.v) == sign(h.2v) — so every
    // planted pair shares every band bucket and recall 1.0 is STRUCTURAL,
    // not parameter luck; that frees the gate to run sparse production
    // buckets (bits=12: a random pair collides in a band with p = 2^-12)
    // where candidate volume is a sub-percent fraction of brute force. The
    // truth set at threshold 0.9 is exactly the planted pairs (nearest
    // non-planted pair sits at ~0.6 — no float boundary wobble), which the
    // oracle recomputes from its own doubled copies.
    Gate("dedup_embedding_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planted = emb.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val corpus = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        .unionByName(planted)
      graft.dedup.Dedup.nearDupPairsEmbeddingLsh(
        corpus, col("vec_id"), col("embedding"), dim = 64,
        threshold = 0.9, bands = 16, bits = 12)
    },
      // same truth set as the brute baseline: the LSH gate is hash-green iff
      // the bucketed-candidate + exact-verify plan reaches recall 1.0
      "WITH c AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT CAST(vec_id + 100000 AS BIGINT), list_transform(embedding, x -> x * 2) FROM embeddings) " +
        "SELECT a.vec_id AS \"idA\", b.vec_id AS \"idB\" FROM c a JOIN c b ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9"),

    // exact cosine top-k: 20 query vectors vs full corpus (broadcast + codegen kernel)
    Gate("ann_brute_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.bruteForceTopK(
        queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    },
      "WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20) " +
        "SELECT q.vec_id AS query_id, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS INTEGER) AS rank, " +
        "c.vec_id AS neighbor_id " +
        "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id " +
        "QUALIFY rank <= 3"),

    // P102 Matryoshka two-tier ANN: prefix-cosine shortlist (16 of 64
    // dims) -> exact full-vector re-rank; DuckDB replays both tiers
    // relationally (prefix slice + list cosine + two ROW_NUMBERs)
    Gate("ann_mrl_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.mrlTopK(
        queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, dims = 16, refine = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    },
      "WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20), " +
        "sl AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.embedding AS qv, c.embedding AS cv, " +
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id " +
        "ORDER BY list_cosine_similarity(q.embedding[1:16], c.embedding[1:16]) DESC, c.vec_id) AS srank " +
        "FROM q JOIN embeddings c ON q.vec_id <> c.vec_id QUALIFY srank <= 12) " +
        "SELECT query_id, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS INTEGER) AS rank, " +
        "neighbor_id FROM sl QUALIFY rank <= 3"),

    // int8 quantization family: codes + scale per vector, every number a
    // fixed deterministic expression (floor(x*127/maxabs + 0.5), clamp) —
    // the DuckDB oracle replays the arithmetic on the same floats.
    // Exploded to one (vec_id, pos, code, scale) row per dimension: the
    // oracle compare sorts/hashes scalar cells, so array columns
    // would be unhashable on its side even though values match.
    Gate("embedding_int8_codes", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.vectors.int8_scale(col("embedding")).as("scale"),
          posexplode(graft.functions.vectors.int8_encode_ints(col("embedding"))
            .cast("array<bigint>")))
        .select(col("vec_id"), col("pos").cast("int").as("pos"),
          col("col").as("code"), col("scale")),
      "WITH base AS (SELECT vec_id, embedding AS e, " +
        "COALESCE(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 0.0) AS m FROM embeddings) " +
        "SELECT vec_id, CAST(pos - 1 AS INTEGER) AS pos, " +
        "CASE WHEN m = 0 THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(GREATEST(-127.0, LEAST(127.0, " +
        "floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5))) AS BIGINT) END AS code, " +
        "m / 127.0 AS scale " +
        "FROM (SELECT vec_id, m, unnest(e) AS x, generate_subscripts(e, 1) AS pos FROM base)"),

    // brute-force top-k over the quantized corpus: integer dot products,
    // scales cancel in the cosine — DuckDB replays the WHOLE pipeline
    // (quantize -> int dot -> cosine -> rank) bit-for-bit
    Gate("ann_int8_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.int8BruteForceTopK(
        queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    },
      // the full int8 pipeline replayed: quantize both sides, exact integer
      // dot products (p[1]*p[2] over the zipped code lists), scale-free
      // cosine, rank — deterministic at every step
      "WITH base AS (SELECT vec_id, embedding AS e, " +
        "COALESCE(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 0.0) AS m FROM embeddings), " +
        "codes AS (SELECT vec_id, CASE WHEN m = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT)) " +
        "ELSE list_transform(e, x -> CAST(GREATEST(-127.0, LEAST(127.0, " +
        "floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5))) AS BIGINT)) END AS c FROM base), " +
        "n AS (SELECT vec_id, c, list_sum(list_transform(list_zip(c, c), p -> p[1] * p[2])) AS nn FROM codes), " +
        "q AS (SELECT vec_id, c, nn FROM n WHERE vec_id < 20), " +
        "scored AS (SELECT q.vec_id AS query_id, cp.vec_id AS neighbor_id, " +
        "CASE WHEN q.nn = 0 OR cp.nn = 0 THEN 0.0 ELSE " +
        "CAST(list_sum(list_transform(list_zip(q.c, cp.c), p -> p[1] * p[2])) AS DOUBLE) / " +
        "sqrt(CAST(q.nn AS DOUBLE) * CAST(cp.nn AS DOUBLE)) END AS cos8 " +
        "FROM q JOIN n cp ON q.vec_id <> cp.vec_id) " +
        "SELECT query_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY cos8 DESC, neighbor_id) AS INTEGER) AS rank, neighbor_id " +
        "FROM scored QUALIFY rank <= 3"),

    // the 1-bit storage tier below int8: sign-packed words, 1 bit per
    // dimension at rest and on every scan. DuckDB replays the exact
    // two's-complement packing arithmetic (bit 63 via the explicit
    // -2^63 addend — BIGINT sums never overflow). Sign replay assumes
    // non-NaN embeddings (Java NaN >= 0 is false; DuckDB sorts NaN high),
    // which the datagen guarantees and the float schema makes natural.
    // Exploded to one (vec_id, w, word) row per packed word — same
    // scalar-cell constraint of the oracle compare as embedding_int8_codes.
    Gate("embedding_bitsign_codes", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(graft.functions.vectors.bit_sign_pack(col("embedding"))))
        .select(col("vec_id"), col("pos").cast("int").as("w"),
          col("col").as("word")),
      // 1-bit sign packing replayed in exact two's-complement arithmetic:
      // bits 0..62 sum directly, bit 63 adds the explicit -2^63 addend
      // (1::BIGINT << 63 would overflow; the sum of bits 0..62 is at most
      // 2^63-1, so the BIGINT cast is exact)
      "SELECT vec_id, CAST(w AS INTEGER) AS w, CAST(word AS BIGINT) AS word FROM (" +
        "SELECT vec_id, (pos - 1) // 64 AS w, " +
        "sum(CASE WHEN x >= 0 AND ((pos - 1) % 64) < 63 " +
        "THEN (1::BIGINT << CAST((pos - 1) % 64 AS INT)) ELSE 0 END) " +
        "+ CASE WHEN max(CASE WHEN x >= 0 AND ((pos - 1) % 64) = 63 THEN 1 ELSE 0 END) = 1 " +
        "THEN -9223372036854775807 - 1 ELSE 0 END AS word " +
        "FROM (SELECT vec_id, unnest(embedding) AS x, " +
        "generate_subscripts(embedding, 1) AS pos FROM embeddings) " +
        "GROUP BY 1, 2)"),

    // brute-force top-k over the packed sign codes by ascending Hamming
    // distance — XOR + popcount, every step exact integer arithmetic, so
    // DuckDB reproduces the full ranking from the raw floats (count of
    // sign disagreements per pair). Exact-rerank recall is sbt-asserted.
    Gate("ann_hamming_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.hammingBruteForceTopK(
        queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
    },
      // the Hamming ranking replayed relationally: per-position sign
      // disagreement count == XOR+popcount of the packed words by definition
      "SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, hamming FROM (" +
        "SELECT query_id, neighbor_id, hamming, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank " +
        "FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "CAST(sum(CASE WHEN (q.x >= 0) <> (c.x >= 0) THEN 1 ELSE 0 END) AS INT) AS hamming " +
        "FROM (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos " +
        "FROM embeddings WHERE vec_id < 20) q " +
        "JOIN (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos " +
        "FROM embeddings) c USING (pos) " +
        "WHERE q.vec_id <> c.vec_id GROUP BY 1, 2)) WHERE rank <= 3"),

    // LSH-bucketed approximate top-k. Oracle: golden fixture recomputed by an
    // independent numpy replication of the seeded hyperplanes + bucket math
    // (tools/make_golden.py); recall additionally asserted in sbt tests.
    Gate("ann_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.lshTopK(
        queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        dim = 64, k = 3, bands = 24, bits = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    },
      // golden-fixture oracles: LSH/IVF candidate generation is seeded-hash
      // math DuckDB cannot express; the fixtures are recomputed independently
      // (java.util.Random + bucket/Lloyd's replication in numpy float64,
      // tools/make_golden.py), not dumped from Spark.
      "SELECT query_id, rank, neighbor_id " +
        s"FROM read_parquet('$goldenDir/ann_lsh_topk_sf001.parquet')"),

    // IVF-bucketed approximate top-k. Oracle: golden fixture recomputed by an
    // independent numpy replication of deterministic Lloyd's + probe math
    // (tools/make_golden.py); recall additionally asserted in sbt tests.
    Gate("ann_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = trainIvf(emb)
      graft.ann.Ann.ivfTopK(
        queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        index, k = 3, nprobe = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    },
      "SELECT query_id, rank, neighbor_id " +
        s"FROM read_parquet('$goldenDir/ann_ivf_topk_sf001.parquet')"),

    // approximate-ANN quality gates: recall@3 of the approximate path against
    // the in-plan brute-force truth, thresholded to a boolean the DuckDB
    // oracle can assert (it can reproduce the truth set and its size, not the
    // Spark-side LSH/IVF result). Thresholds sit well under the measured
    // deterministic recall (LSH 0.40-0.42, IVF 0.85-0.88 across sf0.001-0.1 on
    // seeded hyperplanes / Lloyd's init): a broken kernel or bucketing change
    // drives recall toward 0 and flips the boolean.
    Gate("ann_lsh_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      recallOk(emb, graft.ann.Ann.lshTopK(queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        dim = 64, k = 3, bands = 24, bits = 8), 0.3)
    },
      // recall gates: DuckDB reproduces the brute-force truth-set size and
      // asserts the thresholded recall boolean is true; the Spark side flips
      // it to false if the approximate path regresses.
      recallOkSql),

    Gate("ann_ivf_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = trainIvf(emb)
      recallOk(emb, graft.ann.Ann.ivfTopK(queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        index, k = 3, nprobe = 3), 0.75)
    },
      recallOkSql),

    // embedding-space corpus map: every vector assigned to its nearest
    // trained centroid (narrow kernel pass). Oracle: golden fixture from the
    // same independent numpy Lloyd's replication as ann_ivf_topk.
    Gate("kmeans_assign", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = trainIvf(emb)
      graft.ann.Ann.ivfAssign(emb, col("vec_id"), col("embedding"), index)
        .select(col("id").as("vec_id"), col("cid"))
    },
      "SELECT vec_id, cid " +
        s"FROM read_parquet('$goldenDir/kmeans_assign_sf001.parquet')"),

    // P116 embedding outlier filter: bottom 10% of each cluster by cosine
    // to its trained centroid (the SemDeDup complement — too FAR instead
    // of too close). Fixed-point ranking key + integer-count cutoff make
    // the flags engine-exact; oracle = golden fixture replicating assign,
    // fixed-point cosine, per-cluster rank and cutoff independently.
    Gate("embedding_outliers", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = trainIvf(emb)
      graft.ann.Ann.embeddingOutliers(emb, col("vec_id"), col("embedding"),
        index, quantile = 0.1)
        .select(col("id").as("vec_id"), col("cid"), col("cos_fp"),
          col("cluster_rank"), col("is_outlier"))
    },
      // P116: independent replication of assign → fixed-point cosine →
      // per-cluster ascending rank → floor(n * q) cutoff
      "SELECT vec_id, cid, cos_fp, cluster_rank, is_outlier " +
        s"FROM read_parquet('$goldenDir/embedding_outliers_sf001.parquet')"),

    // SemDeDup-style semantic dedup: within-cluster pairs against the SAME
    // trained quantizer as kmeans_assign, so the DuckDB oracle replays the
    // pairing from the golden assignment fixture + exact cosine. The 0.35
    // float boundary is the one dedup_embedding_pairs already pins.
    // diversity-preserving subsampling: exactly k vectors per embedding
    // cluster (P12d corpus map × P44 exact-k sampling) — the
    // cluster-balanced draw that keeps tail topics represented when
    // downsampling. Oracle: golden assignment fixture + the same md5 rank
    Gate("cluster_sample", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = trainIvf(emb)
      val assigned = graft.ann.Ann.ivfAssign(emb, col("vec_id"), col("embedding"), index)
        .select(col("id").as("vec_id"), col("cid"))
      graft.sample.Sampling.sampleKPerGroup(
        assigned, Seq(col("cid")), col("vec_id"), k = 3)
    },
      "SELECT cid, vec_id, CAST(rk AS INT) AS sample_rank FROM " +
        "(SELECT cid, vec_id, row_number() OVER (PARTITION BY cid " +
        "ORDER BY md5('graft' || CAST(vec_id AS VARCHAR)), vec_id) AS rk " +
        s"FROM read_parquet('$goldenDir/kmeans_assign_sf001.parquet')) " +
        "WHERE rk <= 3"),

    Gate("semantic_dedup_pairs", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = trainIvf(emb)
      graft.dedup.SemanticDedup.semanticDupPairs(
        emb, col("vec_id"), col("embedding"), index, threshold = 0.35)
    },
      // semantic dedup replayed from the golden cluster assignment (the same
      // independently-replicated quantizer the kmeans_assign gate pins) +
      // DuckDB's own exact cosine: within-cluster pairs at the 0.35 boundary
      // dedup_embedding_pairs already proves engine-portable.
      s"WITH ga AS (SELECT vec_id, cid FROM read_parquet('$goldenDir/kmeans_assign_sf001.parquet')), " +
        "j AS (SELECT ga.vec_id, ga.cid, e.embedding FROM ga JOIN embeddings e USING (vec_id)) " +
        "SELECT x.vec_id AS \"idA\", y.vec_id AS \"idB\" FROM j x JOIN j y " +
        "ON x.cid = y.cid AND x.vec_id < y.vec_id " +
        "WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.35"),

    Gate("semantic_dedup_keep", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = trainIvf(emb)
      graft.dedup.SemanticDedup.deduplicateSemantic(
        emb, col("vec_id"), col("embedding"), index, threshold = 0.35)
        .select(col("vec_id"))
    },
      s"WITH ga AS (SELECT vec_id, cid FROM read_parquet('$goldenDir/kmeans_assign_sf001.parquet')), " +
        "j AS (SELECT ga.vec_id, ga.cid, e.embedding FROM ga JOIN embeddings e USING (vec_id)), " +
        "p AS (SELECT y.vec_id AS drop_id FROM j x JOIN j y " +
        "ON x.cid = y.cid AND x.vec_id < y.vec_id " +
        "WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.35) " +
        "SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT drop_id FROM p)"),

    // product-quantization approximate top-k: deterministic per-subspace
    // Lloyd's codebooks, m-byte codes (the ~30x-compressed corpus scan at
    // dim=64; ~250x at production dims), per-query ADC lookup table, exact
    // re-rank of the k*refine shortlist. Oracle: golden fixture recomputed by
    // an independent numpy replication of the training + ADC math
    // (tools/make_golden.py); recall additionally asserted in sbt tests.
    Gate("ann_pq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Pq.pqTopK(
        queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        trainPq(emb), k = 3, refine = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    },
      "SELECT query_id, rank, neighbor_id " +
        s"FROM read_parquet('$goldenDir/ann_pq_topk_sf001.parquet')"),

    // the composed 100 TB ANN plan: IVF bucket pruning x PQ ADC scoring -
    // queries probe their nprobe closest coarse buckets (broadcast equi-join
    // on cid, never a corpus crossJoin), the O(m) ADC kernel scores only
    // those buckets' m-byte codes, exact re-rank on the k*refine shortlist.
    // Oracle: golden fixture from the independent numpy replication of BOTH
    // trainings + the composition (tools/make_golden.py)
    Gate("ann_ivfpq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (ivf, pqi) = (trainIvf(emb), trainPq(emb))
      graft.ann.Pq.ivfPqTopK(
        queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        ivf, pqi, k = 3, nprobe = 3, refine = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    },
      ivfPqGoldenSql),

    // the SAME composed IVFADC plan against a persisted serving state
    // (quantizers + encoded corpus + vectors saved in-query, then queried
    // back) — the write-once production layout where no query batch ever
    // re-encodes the corpus. Same training, same golden oracle.
    Gate("ann_indexed_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (ivf, pqi) = (trainIvf(emb), trainPq(emb))
      val idx = graft.createTemporaryDir("ann-index")
      graft.ann.Pq.saveAnnIndex(emb, col("vec_id"), col("embedding"), ivf, pqi, idx)
      indexedTop3(emb, idx)
    },
      // identical plan + training through the persisted index: the same
      // golden fixture IS the oracle
      ivfPqGoldenSql),

    // the daily-ingest append path (P84b): index saved over HALF the
    // corpus, the other half appended against the saved quantizers, then
    // the same IVFADC query. Append == save-over-union with the same
    // quantizers (sbt-pinned), and the quantizers here are trained on the
    // full corpus exactly as in ann_ivfpq_topk — so the result must be
    // row-for-row the SAME golden fixture. A mis-encoded, dropped, or
    // double-counted appended row changes the shortlist or the re-rank and
    // hash-fails the gate.
    Gate("ann_append_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (ivf, pqi) = (trainIvf(emb), trainPq(emb))
      val idx = graft.createTemporaryDir("ann-append-index")
      saveHalfAppendHalf(emb, ivf, pqi, idx)
      indexedTop3(emb, idx)
    },
      // append == save-over-union under fixed quantizers (sbt-pinned), so
      // the half-A-save + half-B-append query reproduces the same fixture
      ivfPqGoldenSql),

    // P118 index maintenance: save over half, append the other half (each
    // append lands its own small files), COMPACT in place (enc/ re-clusters
    // on cid, vectors/ round-robin, quantizers untouched), then the same
    // IVFADC query — rows move, never change, so the result must still be
    // the ann_ivfpq golden fixture. A lost/duplicated row in the rewrite
    // changes the shortlist or re-rank and hash-fails.
    Gate("ann_compact_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (ivf, pqi) = (trainIvf(emb), trainPq(emb))
      val idx = graft.createTemporaryDir("ann-compact-index")
      saveHalfAppendHalf(emb, ivf, pqi, idx)
      val stats = graft.write.Compaction.compactAnnIndex(s, idx)
      require(stats("enc")._2 <= stats("enc")._1,
        s"enc file count grew: $stats")
      indexedTop3(emb, idx)
    },
      // P118: compaction moves rows, never changes them — same fixture
      ivfPqGoldenSql),

    // P112 deletion propagation into the persisted ANN serving index: the
    // ann_indexed_topk index, then vec_id % 5 == 0 vectors are scrubbed
    // from enc/ + vectors/ (quantizers untouched — a deletion must not
    // re-quantize the survivors), then the same IVFADC query. Oracle: the
    // golden fixture independently replicates train + encode + query over
    // exactly the surviving corpus under the FULL-corpus quantizers — a
    // leftover doomed code, a lost survivor row, or a retrained quantizer
    // all change the shortlist and hash-fail.
    Gate("ann_scrub_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (ivf, pqi) = (trainIvf(emb), trainPq(emb))
      val idx = graft.createTemporaryDir("ann-scrub-index")
      graft.ann.Pq.saveAnnIndex(emb, col("vec_id"), col("embedding"), ivf, pqi, idx)
      graft.privacy.Deletion.scrubAnnIndex(s, idx,
        emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")), col("vec_id"))
      indexedTop3(emb, idx)
    },
      // P112: independent python replication of query-after-scrub — the
      // FULL-corpus quantizers over exactly the surviving (vec_id % 5 != 0)
      // corpus (tools/make_golden.py, ann scrub block)
      "SELECT query_id, rank, neighbor_id " +
        s"FROM read_parquet('$goldenDir/ann_scrub_topk_sf001.parquet')"),

    // reranked 1-bit path quality: Hamming shortlist (k*refine over the
    // 32x-compressed scan) + exact cosine re-rank, recall@3 vs the float
    // brute-force truth thresholded to a DuckDB-assertable boolean.
    // Threshold sits well under the measured deterministic recall (sbt
    // pins the same path at >= 0.8 on separated clusters; real-embedding
    // recall measured 0.5-0.8 across SFs at refine=8).
    Gate("ann_hamming_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      recallOk(emb, graft.ann.Ann.hammingTopK(queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, refine = 8), 0.4)
    },
      recallOkSql),

    Gate("ann_pq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // threshold sits well under the measured deterministic recall@3
      // (0.52-0.72 across sf0.001-0.1): a broken kernel, codebook, or
      // shortlist change drives recall toward 0 and flips the boolean
      recallOk(emb, graft.ann.Pq.pqTopK(queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        trainPq(emb), k = 3, refine = 8), 0.4)
    },
      recallOkSql),

    // OPQ-lite (PCA rotation + eigenvalue allocation, Ge et al. 2013)
    // ahead of the same PQ: one bounded moments-sketch pass learns an
    // orthonormal rotation (VecMomentsAgg -> driver Jacobi), vectors rotate
    // inline through a codegen kernel, recall floor same as ann_pq_recall.
    // Rotation algebra (orthonormality, norm preservation, allocation
    // balance, rotated >= raw on correlated data) is pinned in OpqSuite.
    Gate("ann_opq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val rot = graft.ann.Opq.trainRotation(emb, col("embedding"), dim = 64, m = 8)
      val index = graft.ann.Opq.trainPqRotated(emb, col("vec_id"), col("embedding"),
        rot, dim = 64, m = 8, ksub = 16, iterations = 3)
      recallOk(emb, graft.ann.Opq.pqTopKRotated(queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        rot, index, k = 3, refine = 8), 0.4)
    },
      // same boolean contract as ann_pq_recall: the oracle pins the
      // expected-pair count; the floor assertion rides inside the plan
      recallOkSql),

    // IVFADC with residual codes (the paper-faithful layout): codes
    // quantize vec - assigned centroid, the ADC score adds back the
    // per-(query, bucket) dot(q, centroid) term. Oracle: golden fixture
    // from the independent numpy replication (float32 residual arithmetic
    // + both trainings + composition, tools/make_golden.py)
    Gate("ann_ivfpq_residual_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = trainIvf(emb)
      val pqi = graft.ann.Pq.trainPqResidual(emb, col("vec_id"), col("embedding"),
        ivf, dim = 64, m = 8, ksub = 16, iterations = 3)
      graft.ann.Pq.ivfPqTopK(
        queries20(emb), emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        ivf, pqi, k = 3, nprobe = 3, refine = 8, residual = true)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    },
      "SELECT query_id, rank, neighbor_id " +
        s"FROM read_parquet('$goldenDir/ann_ivfpq_residual_topk_sf001.parquet')"),

    // composed-path recall gate, nprobe swept {1, 2, all}: raw-code recall
    // must clear 0.5 at every nprobe (measured 0.65-0.77 across
    // sf0.001-0.1; a broken bucket join, LUT, or shortlist drives it
    // toward 0), and residual codes must recall at least as well as raw at
    // probe-all (measured +0.08..+0.13). Monotonicity in nprobe is
    // deliberately NOT asserted: with a fixed k*refine shortlist, extra
    // probed candidates can displace true neighbors from the approx-ranked
    // shortlist before the exact re-rank (measured: raw nprobe=1 recall
    // 0.77 > nprobe=2 recall 0.65 at sf0.001) — more probes widen the
    // candidate pool, not the shortlist.
    Gate("ann_ivfpq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queries20(emb)
      val ivf = trainIvf(emb)
      val raw = trainPq(emb)
      val res = graft.ann.Pq.trainPqResidual(emb, col("vec_id"), col("embedding"),
        ivf, dim = 64, m = 8, ksub = 16, iterations = 3)
      val brute = bruteTop3(emb)
      def hitsOf(nprobe: Int, index: graft.ann.Pq.PqIndex, residual: Boolean,
                 name: String) = {
        val got = graft.ann.Pq.ivfPqTopK(q, emb,
          col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
          ivf, index, k = 3, nprobe = nprobe, refine = 8, residual = residual)
          .select(col("query_id"), col("neighbor_id"))
        brute.join(got, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as(name))
      }
      brute.agg(count(lit(1)).as("total_expected"))
        .crossJoin(hitsOf(1, raw, residual = false, "h1"))
        .crossJoin(hitsOf(2, raw, residual = false, "h2"))
        .crossJoin(hitsOf(16, raw, residual = false, "hall"))
        .crossJoin(hitsOf(16, res, residual = true, "hres"))
        .select(col("total_expected"),
          (col("h1") >= col("total_expected") * 0.5).as("recall_np1_ok"),
          (col("h2") >= col("total_expected") * 0.5).as("recall_np2_ok"),
          (col("hall") >= col("total_expected") * 0.5).as("recall_all_ok"),
          (col("hres") >= col("hall")).as("residual_ge_raw"))
    },
      // recall booleans are asserted on the Spark side (the query flips
      // them on regression); the oracle pins the brute-force total and the
      // expected verdicts
      bruteTop3Cte + "SELECT CAST(COUNT(*) AS BIGINT) AS total_expected, " +
        "TRUE AS recall_np1_ok, TRUE AS recall_np2_ok, TRUE AS recall_all_ok, " +
        "TRUE AS residual_ge_raw " +
        "FROM topk WHERE rank <= 3"),
  )
}
