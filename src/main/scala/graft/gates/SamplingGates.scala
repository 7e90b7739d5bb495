package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._

/** Sampling, shuffling, mixture and split gates over `documents`. */
private[graft] object SamplingGates {

  val gates: Seq[Gate] = Seq(
    // P133 k-center diversity coreset: greedy farthest-first over the
    // int8 code space — selections and the exact integer radius curve
    // must equal the independent python replication of the spec (any
    // drift in encode, distance identity, seed or tie rules breaks rows).
    Gate("kcenter_select", (s, dir) =>
      graft.sample.Coreset.kCenterSelect(t(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), k = 16)
        .select(col("rank").cast("long").as("rank"),
          col("id").as("vec_id"), col("d2")),
      // the committed integer replication of farthest-first on int8 codes
      "SELECT rank, vec_id, d2 " +
        s"FROM read_parquet('$goldenDir/kcenter_sf001.parquet')"),

    // deterministic hash sampling: per-row keep decision from md5(salt||key),
    // reproducible across partitionings and engines; narrow filter, no shuffle
    Gate("sample_documents", (s, dir) =>
      graft.sample.Sampling.hashSample(
        t(s, dir, "documents"), col("doc_id"), 0.25).select(col("doc_id")),
      // thresholds = round(rate * 2^32) as 8 lowercase hex chars; fixed-width
      // lowercase hex compares lexicographically in numeric order
      "SELECT doc_id FROM documents " +
        "WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'"),

    // deterministic global shuffle + round-robin sharding: position 1..N in
    // md5 order via the 3-phase RowNumbers (range exchange + broadcast
    // offsets — no single-partition window), shard = (pos-1) % 8
    Gate("shuffle_deterministic", (s, dir) =>
      graft.sample.Sampling.shuffleByHash(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"), numShards = 8)
        .select(col("doc_id"), col("shuffle_pos"), col("shard")),
      // global shuffle order = (md5(salt||key), key); position via
      // row_number, shard = (pos-1) % 8 — BIGINT arithmetic in both engines
      "SELECT doc_id, " +
        "row_number() OVER (ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) AS shuffle_pos, " +
        "(row_number() OVER (ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) - 1) % 8 AS shard " +
        "FROM documents"),

    // deterministic weighted interleave (P109): the data-mixture SCHEDULE —
    // every prefix of the global order carries each source in proportion to
    // its weight (WFQ finish tags in exact integer arithmetic); DuckDB
    // replays rank, virtual time, and the final order bit-for-bit
    Gate("mixture_interleave", (s, dir) =>
      graft.sample.Sampling.mixtureInterleave(
        t(s, dir, "documents").select(col("doc_id"), col("source"))
          .filter(col("source").isin("src0", "src1", "src2", "src3")),
        col("doc_id"), col("source"),
        Map("src0" -> 4L, "src1" -> 2L, "src2" -> 1L, "src3" -> 1L),
        seed = 7, epoch = 1)
        .select(col("doc_id"), col("source"), col("mix_pos")),
      // WFQ replay: per-source md5 rank r, virtual time (2r-1)*(lcm/w)
      // with lcm(4,2,1,1)=4, global order by (v, source, r)
      "WITH d AS (SELECT doc_id, source FROM documents " +
        "WHERE source IN ('src0','src1','src2','src3')), " +
        "r AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source " +
        "ORDER BY md5('7:1:' || CAST(doc_id AS VARCHAR)), doc_id) AS r FROM d), " +
        "v AS (SELECT doc_id, source, r, (2*r - 1) * (CASE source " +
        "WHEN 'src0' THEN 1 WHEN 'src1' THEN 2 ELSE 4 END) AS vk FROM r) " +
        "SELECT doc_id, source, " +
        "ROW_NUMBER() OVER (ORDER BY vk, source, r) AS mix_pos FROM v"),

    // epoch-seeded training order (P107): same (seed, epoch) -> same global
    // permutation on any engine; different epochs -> independent orders.
    // The oracle replays md5('7:2:'||id) ordering directly
    Gate("epoch_shuffle", (s, dir) =>
      graft.sample.Sampling.epochShuffle(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"),
        seed = 7, epoch = 2)
        .select(col("doc_id"), col("shuffle_pos")),
      "SELECT doc_id, " +
        "row_number() OVER (ORDER BY md5('7:2:' || CAST(doc_id AS VARCHAR)), doc_id) AS shuffle_pos " +
        "FROM documents"),

    // the shard-parallel epoch variant (P107b): deterministic (shard,
    // pos-in-shard) with NO global order — one hash exchange + per-shard
    // window. Shard = top-60-bits of the md5 key mod 4; DuckDB replays the
    // hex prefix via CAST('0x'||substr AS BIGINT)
    Gate("epoch_shards", (s, dir) =>
      graft.sample.Sampling.epochShards(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"),
        seed = 7, epoch = 2, numShards = 4)
        .select(col("doc_id"), col("shard"), col("shard_pos")),
      // the hex-prefix shard replay: 15 hex chars = 60 bits fit BIGINT in
      // both engines (Spark conv(...,16,10) / DuckDB CAST('0x...' AS BIGINT))
      "WITH k AS (SELECT doc_id, md5('7:2:' || CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        "s AS (SELECT doc_id, h, " +
        "CAST(CAST(('0x' || substring(h, 1, 15)) AS BIGINT) % 4 AS INT) AS shard FROM k) " +
        "SELECT doc_id, shard, " +
        "row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS shard_pos FROM s"),

    // P113 padding-efficient length bucketing: power-of-two buckets from
    // INTEGER bit length (never float log2), seeded per-bucket shuffle,
    // (batch_id, pos_in_batch) by position — DuckDB replays bucket, md5
    // order and the partitioned row number bit-for-bit
    Gate("length_bucket_batches", (s, dir) =>
      graft.sample.Sampling.lengthBucketBatches(
        t(s, dir, "documents")
          .select(col("doc_id"),
            size(graft.text.TextFunctions.tokenize(col("text"))).as("nt")),
        col("doc_id"), col("nt"), batchSize = 32, seed = 1)
        .select(col("id").as("doc_id"), col("n_tokens"), col("bucket"),
          col("padded_to"), col("batch_id"), col("pos_in_batch")),
      // P113: bucket = integer bit length of (n_tokens - 1); per-bucket
      // seeded-md5 order; (batch_id, pos) from the partitioned row number
      s"WITH $docTokCte, " +
        "b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "CAST(CASE WHEN len(toks) <= 1 THEN 0 " +
        "ELSE length(format('{:b}', len(toks) - 1)) END AS INT) AS bucket, " +
        "md5('1:' || CAST(doc_id AS VARCHAR)) AS h FROM tok), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h, doc_id) - 1 AS rk FROM b) " +
        "SELECT doc_id, n_tokens, bucket, " +
        "CAST(CAST(1 AS BIGINT) << bucket AS BIGINT) AS padded_to, " +
        "CAST(rk // 32 AS BIGINT) AS batch_id, " +
        "CAST(rk % 32 AS BIGINT) AS pos_in_batch FROM r"),

    // deterministic weighted (importance) sampling: keep probability
    // min(1, n_chars/2000) per doc — every arithmetic step bit-identical
    // across engines (IEEE multiply, floor, fixed-width hex render)
    Gate("sample_weighted", (s, dir) =>
      graft.sample.Sampling.weightedHashSample(
        t(s, dir, "documents"), col("doc_id"), col("n_chars") / lit(2000.0), rate = 1.0)
        .select(col("doc_id")),
      "SELECT doc_id FROM documents " +
        "WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < " +
        "printf('%08x', CAST(floor(LEAST(1.0, GREATEST(0.0, (n_chars / 2000.0) * 1.0)) " +
        "* 4294967296.0) AS BIGINT)) " +
        "OR LEAST(1.0, GREATEST(0.0, (n_chars / 2000.0) * 1.0)) >= 1.0"),

    // exact-size weighted draw WITHOUT replacement (Efraimidis-Spirakis
    // A-ES keys from the md5 hash uniform): top-100 by ln(u)/w — the oracle
    // recomputes the same keys in DuckDB, so selection AND determinism are
    // both checked
    Gate("sample_weighted_topk", (s, dir) =>
      graft.sample.Sampling.weightedSampleTopK(
        t(s, dir, "documents"), col("doc_id"), col("n_chars").cast("double"), k = 100)
        .select(col("doc_id")),
      "SELECT doc_id FROM (SELECT doc_id FROM documents " +
        "WHERE CAST(n_chars AS DOUBLE) > 0 " +
        "ORDER BY ln((CAST(('0x' || substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) " +
        "/ 4294967296.0) / CAST(n_chars AS DOUBLE) DESC, doc_id LIMIT 100)"),

    // stratified rates per source (up/down-sample by corpus quality), CASE
    // threshold per row — still a narrow filter
    Gate("sample_stratified", (s, dir) =>
      graft.sample.Sampling.stratifiedHashSample(
        t(s, dir, "documents"), col("source"), col("doc_id"),
        Map("src0" -> 0.9, "src1" -> 0.05), defaultRate = 0.3)
        .select(col("doc_id"), col("source")),
      "SELECT doc_id, source FROM documents " +
        "WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < " +
        "CASE WHEN source = 'src0' THEN 'e6666666' " +
        "WHEN source = 'src1' THEN '0ccccccd' ELSE '4ccccccd' END"),

    // mixture resampling: rates DERIVED from data counts to hit 50/30/20
    // target shares (src2 thinned so counts are non-uniform; src0 is the
    // binding domain -> rate exactly 1.0, exercising the keep-all guard);
    // the count -> T -> rate -> threshold chain is fixed IEEE arithmetic
    // the oracle replays bit-for-bit
    Gate("mixture_resample", (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("source").isin("src0", "src1", "src2"))
        .filter(col("doc_id") % 2 === 0 || col("source") =!= lit("src2"))
      graft.sample.Sampling.resampleToMixture(
        docs, col("source"), Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        col("doc_id"))
        .select(col("doc_id"), col("source"))
    },
      // rates derived from counts: T = min(c/share), rate = share*T/c,
      // threshold = printf('%08x', floor(rate*2^32)) — every step DOUBLE
      // arithmetic in the same association as the Spark plan
      "WITH input AS (SELECT doc_id, source FROM documents " +
        "WHERE source IN ('src0', 'src1', 'src2') AND (doc_id % 2 = 0 OR source <> 'src2')), " +
        "shares(source, share) AS (VALUES ('src0', CAST(0.5 AS DOUBLE)), " +
        "('src1', CAST(0.3 AS DOUBLE)), ('src2', CAST(0.2 AS DOUBLE))), " +
        "counts AS (SELECT source, CAST(count(*) AS DOUBLE) AS c FROM input GROUP BY source), " +
        "j AS (SELECT s.source, s.share, c.c FROM shares s JOIN counts c USING (source)), " +
        "tt AS (SELECT min(c / share) AS t FROM j), " +
        "rates AS (SELECT source, LEAST(CAST(1.0 AS DOUBLE), share * t / c) AS rate, " +
        "printf('%08x', CAST(floor(LEAST(CAST(1.0 AS DOUBLE), share * t / c) * CAST(4294967296.0 AS DOUBLE)) AS BIGINT)) AS th " +
        "FROM j, tt) " +
        "SELECT i.doc_id, i.source FROM input i JOIN rates r USING (source) " +
        "WHERE substring(md5('graft' || CAST(i.doc_id AS VARCHAR)), 1, 8) < r.th OR r.rate >= 1.0"),

    // temperature-balanced sampling at alpha=0.5: rate_d =
    // sqrt(count_min/count_d) — IEEE division + IEEE sqrt, both exactly
    // rounded by spec, so the oracle replays the thresholds bit-for-bit.
    // The % 2 / source skew filter plants unequal domain sizes.
    Gate("temperature_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0 || col("source").isin("src0", "src1"))
      graft.sample.Sampling.temperatureSample(
        docs, col("source"), col("doc_id"))
        .select(col("doc_id"), col("source"))
    },
      // rate = sqrt(min_count/count): one exact IEEE division + one exact
      // IEEE sqrt per domain, the same floor/printf threshold rendering
      "WITH input AS (SELECT doc_id, source FROM documents " +
        "WHERE doc_id % 3 = 0 OR source IN ('src0', 'src1')), " +
        "counts AS (SELECT source, CAST(count(*) AS DOUBLE) AS c FROM input GROUP BY source), " +
        "mn AS (SELECT min(c) AS m FROM counts), " +
        "rates AS (SELECT source, sqrt(m / c) AS rate, " +
        "printf('%08x', CAST(floor(sqrt(m / c) * CAST(4294967296.0 AS DOUBLE)) AS BIGINT)) AS th " +
        "FROM counts, mn) " +
        "SELECT i.doc_id, i.source FROM input i JOIN rates r USING (source) " +
        "WHERE substring(md5('graft' || CAST(i.doc_id AS VARCHAR)), 1, 8) < r.th OR r.rate >= 1.0"),

    // epoch-aware repetition to a token budget: the UP-sampling step a
    // filter cannot take — full passes via floor(share*budget/T_d) (capped
    // at maxEpochs), one fractional epoch via the md5 draw. At sf0.001 the
    // 0.6-share domain clamps at 4 epochs, the others land full+fractional;
    // at larger SFs the same arithmetic degrades toward pure down-sampling.
    // DuckDB replays counts -> floor -> printf threshold -> generate_series.
    Gate("mixture_epochs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
      graft.sample.Sampling.repeatToTokenBudget(
        docs, col("source"), col("n_chars"), col("doc_id"),
        Map("src0" -> 0.6, "src1" -> 0.3, "src2" -> 0.1),
        budget = 100000L, maxEpochs = 4)
        .select(col("doc_id"), col("source"), col("epoch"))
    },
      // token sums -> epoch floors (maxEpochs-clamped) -> fractional-epoch
      // remainder -> the same printf/md5 draw -> generate_series fan-out:
      // every step fixed integer/IEEE arithmetic, replayed bit-for-bit
      "WITH input AS (SELECT doc_id, source, n_chars FROM documents), " +
        "shares(source, share) AS (VALUES ('src0', CAST(0.6 AS DOUBLE)), " +
        "('src1', CAST(0.3 AS DOUBLE)), ('src2', CAST(0.1 AS DOUBLE))), " +
        "masses AS (SELECT source, CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE) AS t " +
        "FROM input GROUP BY source), " +
        "j AS (SELECT s.source, s.share, m.t FROM shares s JOIN masses m USING (source) WHERE m.t > 0), " +
        "rates AS (SELECT source, t, share * 100000.0 AS target, " +
        "CAST(LEAST(CAST(4.0 AS DOUBLE), floor(share * 100000.0 / t)) AS INT) AS epochs FROM j), " +
        "r2 AS (SELECT source, epochs, CASE WHEN epochs >= 4 THEN 0.0 " +
        "ELSE (target - CAST(epochs AS DOUBLE) * t) / t END AS rem FROM rates), " +
        "r3 AS (SELECT source, epochs, " +
        "printf('%08x', CAST(floor(rem * 4294967296.0) AS BIGINT)) AS th FROM r2), " +
        "c AS (SELECT i.doc_id, i.source, r.epochs + " +
        "CASE WHEN substring(md5('graft' || CAST(i.doc_id AS VARCHAR)), 1, 8) < r.th " +
        "THEN 1 ELSE 0 END AS ncopies FROM input i JOIN r3 r USING (source)) " +
        "SELECT doc_id, source, CAST(unnest(generate_series(1, ncopies)) AS INT) AS epoch FROM c"),

    // P99 curriculum ordering: bands by exact integer rank split, shuffled
    // within band by the md5 draw, global order via the 3-phase distributed
    // row number — every step engine-reproducible, DuckDB replays all of it
    Gate("curriculum_order", (s, dir) =>
      graft.sample.Curriculum.curriculumOrder(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        col("doc_id"), col("n_chars"), bands = 4, salt = "c9")
        .select(col("doc_id"), col("band"), col("order_id")),
      "WITH r AS (SELECT doc_id, " +
        "ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rank, " +
        "COUNT(*) OVER () AS n, " +
        "md5('c9' || CAST(doc_id AS VARCHAR)) AS key FROM documents) " +
        "SELECT doc_id, CAST((rank - 1) * 4 // n AS BIGINT) AS band, " +
        "CAST(ROW_NUMBER() OVER (ORDER BY (rank - 1) * 4 // n, key, doc_id) AS BIGINT) AS order_id " +
        "FROM r"),

    // deterministic train/val/test split assignment (same hash family as
    // sampling; a doc's split never changes across runs/engines/partitions)
    Gate("split_assign", (s, dir) =>
      graft.sample.Sampling.splitByHash(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
      // cumulative thresholds: 0.8 -> cccccccd, 0.9 -> e6666666, rest = test
      "SELECT doc_id, CASE " +
        "WHEN substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccd' THEN 'train' " +
        "WHEN substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents"),

    // deterministic EXACT-k per-group sample (fixed eval budget per source):
    // md5-order rank filter planned as WindowGroupLimit (map-side top-k)
    Gate("sample_group_k", (s, dir) =>
      graft.sample.Sampling.sampleKPerGroup(
        t(s, dir, "documents").select(col("source"), col("doc_id")),
        Seq(col("source")), col("doc_id"), k = 5),
      // exact-k per-source draw: the 5 lowest md5 hashes per source
      "SELECT source, doc_id, CAST(rk AS INT) AS sample_rank FROM " +
        "(SELECT source, doc_id, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) " +
        "WHERE rk <= 5"),

    // token-budget domain mixing: down-sample each source to ~800 expected
    // tokens; exact integer totals -> IEEE rate -> md5-threshold keep, every
    // step bit-identical across engines. Tiny broadcast totals join + narrow
    // filter — the corpus itself never shuffles wide.
    Gate("token_budget_sample", (s, dir) => {
      import graft.text.TextFunctions._
      val docs = t(s, dir, "documents").select(col("source"), col("doc_id"),
        tokenStatsAscii(col("text"), EnglishStopwords)(0).as("n_tokens"))
      graft.sample.Sampling.tokenBudgetSample(
        docs, col("source"), col("doc_id"), col("n_tokens"), budget = 800L)
        .select(col("source"), col("doc_id"))
    },
      // per-source token totals -> rate min(1, 800/total) -> the same
      // md5-threshold predicate as sample_weighted, verbatim
      s"WITH $docTokCte, " +
        "w AS (SELECT d.source, d.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens " +
        "FROM documents d JOIN tok t USING (doc_id)), " +
        "tot AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total FROM w GROUP BY source) " +
        "SELECT w.source, w.doc_id FROM w JOIN tot USING (source) " +
        "WHERE substring(md5('graft' || CAST(w.doc_id AS VARCHAR)), 1, 8) < " +
        "printf('%08x', CAST(floor(LEAST(1.0, CAST(800 AS DOUBLE) / CAST(total AS DOUBLE)) " +
        "* 4294967296.0) AS BIGINT)) " +
        "OR LEAST(1.0, CAST(800 AS DOUBLE) / CAST(total AS DOUBLE)) >= 1.0"),
  )
}
