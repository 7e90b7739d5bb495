package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming operators through the batch gate: the bounded table becomes
  * an ordered file-source replay (StreamHarness), the streaming plan runs
  * to exhaustion into a parquet sink, and the sink is what the DuckDB
  * oracle checks — the streaming twins get the same hash gate as every
  * batch operator. Replay batches are keyed by the per-dedup-key
  * occurrence number (at most one row per state key per micro-batch),
  * which makes the stateful keep-first deterministic: the kept row IS the
  * smallest id, exactly what the oracle predicts. */
private[graft] object StreamingGates {

  /** Replay `documents` plus a whitespace-padded copy of every 7th doc
    * (doc_id + 100000) through `op`, one occurrence of each text
    * fingerprint per micro-batch in doc_id order — the feed on which
    * streaming keep-first equals the batch smallest-id rule. */
  private def replayPaddedCopies(s: SparkSession, dir: String)(
      op: DataFrame => DataFrame): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(
      docs.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit("  ")).as("text")))
      .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
    val occ = row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(graft.text.TextFunctions.fingerprint64(col("text")))
        .orderBy(col("doc_id"))) - 1
    val nBatches = corpus.select(occ.as("o")).agg(max(col("o"))).head().getInt(0) + 1
    streamReplay(s, corpus, occ, nBatches)(op)
  }

  val gates: Seq[Gate] = Seq(
    // P14b: watermarked streaming exact dedup over a planted-duplicate feed
    Gate("streaming_dedup", (s, dir) => {
      replayPaddedCopies(s, dir)(st =>
        graft.streaming.StreamingDedup.dropDuplicateTextsWithinWatermark(
          st, col("text"), "ts", "30 days"))
        .select(col("doc_id"))
    },
      // streaming gates: the replay feeding (one occurrence per key per
      // micro-batch, batches in occurrence order) pins keep-first to the
      // smallest id, so each oracle is the batch-equivalent prediction
      DedupGates.exactDedupSql),

    // P48: the streaming curation pass (stateless filter stages + sampling,
    // watermarked keep-first dedup LAST); survivors hash-compared against
    // the DuckDB replication of the whole chain
    Gate("streaming_curate", (s, dir) => {
      replayPaddedCopies(s, dir)(st =>
        graft.streaming.StreamingCurate.curateStream(
          st, col("doc_id"), col("text"), "ts", "30 days",
          keepLangs = Set("en"),
          minTokens = 30, maxTokens = 90,
          minAvgTokenLen = 3.0, maxAvgTokenLen = 6.0,
          minStopwordRatio = 0.02, maxTopBigramFraction = 0.2,
          sampleRate = 0.25))
        .select(col("doc_id"))
    },
      "WITH corpus AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 100000 AS doc_id, text || '  ' AS text " +
        "FROM documents WHERE doc_id % 7 = 0), " +
        "ctok AS (SELECT doc_id, text, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM corpus), " +
        "lsc AS (SELECT doc_id, " +
        TextGates.langScoreCols + " FROM ctok), " +
        "l1 AS (SELECT doc_id FROM lsc WHERE NOT (s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0) " +
        "AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_es), " +
        "qg AS (SELECT doc_id, toks, CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS g2 " +
        "FROM ctok WHERE doc_id IN (SELECT doc_id FROM l1)), " +
        "qm AS (SELECT doc_id, len(toks) AS n, " +
        PipelineGates.qualityCols + " FROM qg), " +
        "l2 AS (SELECT doc_id FROM qm WHERE n >= 30 AND n <= 90 AND avg_len >= 3.0 AND avg_len <= 6.0 " +
        "AND stop_ratio >= 0.02 AND (CASE WHEN t2 = 0 THEN 0.0 ELSE CAST(p2 AS DOUBLE) / CAST(t2 AS DOUBLE) END) <= 0.2), " +
        "l3 AS (SELECT doc_id FROM l2 " +
        "WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'), " +
        "fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f FROM ctok " +
        "WHERE doc_id IN (SELECT doc_id FROM l3)) " +
        "SELECT doc_id FROM fp " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) = 1"),

    // P48b: windowed streaming quality report — append-mode windows are
    // finalized by a far-future flush row + the trailing no-data batch, so
    // the sink holds exactly the closed windows the oracle recomputes
    Gate("streaming_quality", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
        .withColumn("source", (col("doc_id") % 3).cast("string"))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val flush = docs.sparkSession.range(1).select(
        lit(-1L).as("doc_id"), lit("flush").as("text"),
        timestamp_seconds(lit(1100000000L)).as("ts"), lit("x").as("source"))
      val staged = docs.unionAll(flush)
      val batchC = when(col("doc_id") < 0, lit(2))
        .otherwise(least(floor(col("doc_id") * 2 / (maxId + 1)), lit(1))).cast("int")
      streamReplay(s, staged, batchC, 3, awaitNoDataBatch = true)(st =>
        graft.streaming.StreamingQuality.qualityByWindow(
          st, col("text"), "ts", "100 seconds", "0 seconds", col("source")))
        .filter(col("source") =!= "x")
        .select(unix_timestamp(col("window.start")).as("window_start"), col("source"),
          col("n_docs"), col("total_tokens"), col("stopword_ratio"),
          col("rep_bigram_fraction"))
    },
      "WITH tok AS (SELECT doc_id, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM documents), " +
        "m AS (SELECT doc_id, CAST((1000000000 + doc_id) // 100 * 100 AS BIGINT) AS window_start, " +
        "CAST(doc_id % 3 AS VARCHAR) AS source, len(toks) AS n, " +
        "len([t for t in toks if list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)]) AS stop, " +
        "CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] END AS g2 FROM tok), " +
        "m2 AS (SELECT window_start, source, n, stop, len(g2) AS t2, " +
        "CASE WHEN len(g2) = 0 THEN 0 ELSE COALESCE(list_max([len([y for y in g2 if y = x]) for x in list_distinct(g2)]), 0) END AS p2 FROM m) " +
        "SELECT window_start, source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(n) AS BIGINT) AS total_tokens, " +
        "CASE WHEN SUM(n) = 0 THEN 0.0 ELSE CAST(SUM(stop) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) END AS stopword_ratio, " +
        "CASE WHEN SUM(t2) = 0 THEN 0.0 ELSE CAST(SUM(p2) AS DOUBLE) / CAST(SUM(t2) AS DOUBLE) END AS rep_bigram_fraction " +
        "FROM m2 GROUP BY window_start, source"),

    // P104: streaming distribution drift — vocab-bucketed windowed token
    // counts (state <= |vocab|+1 rows per open window BY CONSTRUCTION) +
    // the exact integer total-variation readout vs a fixed reference:
    // tv_scaled = sum |c_i*M - r_i*N| is exact BIGINT (the fixed-point
    // discipline), tv = tv_scaled/(2*N*M) the only IEEE step — DuckDB
    // replays tokenize -> bucket -> window counts -> TV bit-for-bit
    Gate("streaming_drift", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val flush = docs.sparkSession.range(1).select(
        lit(-1L).as("doc_id"), lit("flush").as("text"),
        timestamp_seconds(lit(1100000000L)).as("ts"))
      val staged = docs.unionAll(flush)
      val batchC = when(col("doc_id") < 0, lit(2))
        .otherwise(least(floor(col("doc_id") * 2 / (maxId + 1)), lit(1))).cast("int")
      val vocab = Seq("the", "a", "of", "and", "to", "in", "is", "it")
      val counts = streamReplay(s, staged, batchC, 3, awaitNoDataBatch = true)(st =>
        graft.streaming.StreamingDrift.tokenCountsByWindow(
          st, col("text"), "ts", "100 seconds", "0 seconds", vocab))
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("token"), col("cnt"))
        .filter(col("window_start") < 1100000000L) // drop the flush window
      val ref = Seq(("the", 60L), ("a", 30L), ("of", 25L), ("and", 20L),
        ("to", 18L), ("in", 15L), ("is", 12L), ("it", 10L), ("<oov>", 310L))
        .toDF("token", "cnt")
      graft.streaming.StreamingDrift.totalVariationByWindow(
        counts, Seq("window_start"), ref)
    },
      // ordered replay + exact integer TV: windowed bucketed counts, then
      // tv_scaled = SUM |c*M - r*N| (exact), tv = one final division
      "WITH tok AS (SELECT doc_id, [x for x in string_split_regex(lower(text), '[^a-z0-9]+') if x <> ''] AS toks FROM documents), " +
        "t2 AS (SELECT CAST((1000000000 + doc_id) // 100 * 100 AS BIGINT) AS window_start, unnest(toks) AS tk FROM tok), " +
        "b AS (SELECT window_start, CASE WHEN list_contains(['the','a','of','and','to','in','is','it'], tk) " +
        "THEN tk ELSE '<oov>' END AS token, CAST(COUNT(*) AS BIGINT) AS ccnt FROM t2 GROUP BY 1, 2), " +
        "n AS (SELECT window_start, CAST(SUM(ccnt) AS BIGINT) AS n FROM b GROUP BY 1), " +
        "ref AS (SELECT * FROM (VALUES ('the', 60), ('a', 30), ('of', 25), ('and', 20), " +
        "('to', 18), ('in', 15), ('is', 12), ('it', 10), ('<oov>', 310)) AS r(token, rcnt)), " +
        "m AS (SELECT CAST(SUM(rcnt) AS BIGINT) AS m FROM ref), " +
        "grid AS (SELECT w.window_start, ref.token, CAST(ref.rcnt AS BIGINT) AS rcnt " +
        "FROM (SELECT DISTINCT window_start FROM b) w CROSS JOIN ref), " +
        "fo AS (SELECT COALESCE(g.window_start, b.window_start) AS window_start, " +
        "COALESCE(g.token, b.token) AS token, COALESCE(g.rcnt, 0) AS rcnt, COALESCE(b.ccnt, 0) AS ccnt " +
        "FROM grid g FULL OUTER JOIN b ON g.window_start = b.window_start AND g.token = b.token) " +
        "SELECT f.window_start, n.n AS n_tokens, m.m AS ref_tokens, " +
        "CAST(SUM(ABS(f.ccnt * m.m - f.rcnt * n.n)) AS BIGINT) AS tv_scaled, " +
        "CAST(SUM(ABS(f.ccnt * m.m - f.rcnt * n.n)) AS DOUBLE) / (2.0 * n.n * m.m) AS tv " +
        "FROM fo f JOIN n ON f.window_start = n.window_start CROSS JOIN m " +
        "GROUP BY 1, 2, 3"),

    // P117 streaming lateness monitor: the live twin of watermark_plan —
    // lateness = ingest minus event time (stateless, exact integer micros)
    // aggregated per event-time window and candidate delay. Same planted
    // disorder as watermark_plan (id%10=k events shifted k*3 min early);
    // the 30-min watermark exceeds the max 27-min shift, so the engine
    // itself drops nothing and the report is exactly the static replay.
    Gate("streaming_lateness", (s, dir) => {
      val evRaw = t(s, dir, "events")
      val ev = evRaw.select(col("event_id"),
        timestamp_micros(eventTsUs(evRaw) -
          (col("event_id") % 10) * 180000000L).as("ets"),
        timestamp_micros(eventTsUs(evRaw)).as("its"))
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val flush = s.range(1).select(lit(-1L).as("event_id"),
        timestamp_micros(lit(1900000000000000L)).as("ets"),
        timestamp_micros(lit(1900000000000000L)).as("its"))
      val staged = ev.unionAll(flush)
      val batchC = when(col("event_id") < 0, lit(2))
        .otherwise(least(floor(col("event_id") * 2 / (maxId + 1)), lit(1))).cast("int")
      streamReplay(s, staged, batchC, 3, awaitNoDataBatch = true)(st =>
        graft.streaming.StreamingLateness.latenessByWindow(
          st, "ets", col("its"), "1 hour", "1800 seconds",
          Seq(0L, 300L, 900L)))
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("delay_s"), col("events"), col("dropped"), col("max_lateness_us"))
        .filter(col("window_start") < 1800000000L) // drop the flush window
    },
      // P117: lateness is stateless per row, so the streaming report is
      // exactly the static replay — hour windows, drop counts per delay
      "WITH e AS (SELECT event_id, " +
        "epoch_us(ts) - (event_id % 10) * 180000000 AS eus, " +
        "epoch_us(ts) AS ius FROM events), " +
        "l AS (SELECT eus, CASE WHEN ius - eus < 0 THEN 0 ELSE ius - eus END AS late FROM e), " +
        "w AS (SELECT CAST((eus // 3600000000) * 3600 AS BIGINT) AS window_start, late FROM l), " +
        "d AS (SELECT * FROM UNNEST([0, 300, 900]) AS t(delay_s)) " +
        "SELECT window_start, CAST(delay_s AS BIGINT) AS delay_s, " +
        "CAST(COUNT(*) AS BIGINT) AS events, " +
        "CAST(SUM(CASE WHEN late > delay_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS dropped, " +
        "CAST(MAX(late) AS BIGINT) AS max_lateness_us " +
        "FROM w, d GROUP BY window_start, delay_s"),

    // P98: streaming windowed heavy hitters — bounded Misra-Gries state
    // per window, emitted on watermark close. The gate runs the EXACT
    // degenerate config (capacity >= the window's distinct keys, where the
    // summary IS the count table and batching provably cannot matter); the
    // bounded-capacity MG bounds are sbt-pinned in StreamingTopKSuite
    Gate("streaming_heavy_hitters", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source").as("key"))
        .withColumn("ts",
          timestamp_seconds(lit(1000000000L) + (col("doc_id") % 120)))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val flush = docs.sparkSession.range(1).select(
        lit(-1L).as("doc_id"), lit("zz").as("key"),
        timestamp_seconds(lit(1100000000L)).as("ts"))
      val staged = docs.unionAll(flush)
      val batchC = when(col("doc_id") < 0, lit(2))
        .otherwise(least(floor(col("doc_id") * 2 / (maxId + 1)), lit(1))).cast("int")
      streamReplay(s, staged, batchC, 3, awaitNoDataBatch = true)(st =>
        graft.streaming.StreamingTopK.topKeysPerWindow(
          st, col("key"), "ts", "1 minute", "0 seconds",
          k = 5, capacity = 64).toDF())
        .filter(col("key") =!= "zz")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("rank"), col("key"), col("est_count"))
    },
      "WITH m AS (SELECT (1000000000 + doc_id % 120) // 60 * 60 AS window_start, " +
        "source AS key FROM documents), " +
        "c AS (SELECT window_start, key, COUNT(*) AS est_count FROM m GROUP BY 1, 2) " +
        "SELECT CAST(window_start AS BIGINT) AS window_start, CAST(rn AS INT) AS rank, " +
        "key, est_count FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start " +
        "ORDER BY est_count DESC, key) AS rn FROM c) x WHERE rn <= 5"),

    // P38: streaming MinHash near-dup candidates + the documented per-batch
    // exact-Jaccard verify; output = docs flagged as a verified near-dup of
    // an EARLIER doc (the streaming dedup decision)
    Gate("streaming_neardup", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val batchC = least(floor(col("doc_id") * 2 / (maxId + 1)), lit(1)).cast("int")
      val cand = streamReplay(s, docs, batchC, 2)(st =>
        graft.streaming.StreamingNearDup.minHashCandidates(
          st, col("doc_id"), col("text"), "ts", "30 days").toDF())
        .select(col("firstDocId").as("idA"), col("docId").as("idB")).distinct()
      val sh = t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextFunctions.hashedTextShingles(col("text"), 3).as("sh"))
      cand
        .join(sh.select(col("doc_id").as("idA"), col("sh").as("shA")), "idA")
        .join(sh.select(col("doc_id").as("idB"), col("sh").as("shB")), "idB")
        .filter(graft.text.TextFunctions.jaccard(col("shA"), col("shB")) >= 0.8)
        .select(col("idB").as("doc_id")).distinct()
    },
      // DATA ASSUMPTION (both streaming near-dup oracles): the oracle
      // predicts the ALL-PAIRS ideal (every doc with ANY earlier partner at
      // J>=0.8 / cosine>=0.9), but the streaming operators only flag
      // collisions against each LSH bucket's FIRST member, and banding has
      // false negatives. The gates match because in this datagen every
      // qualifying pair is a planted near-copy whose earlier partner IS
      // bucket-first in some shared band (near-copies collide in most
      // bands, and transitive duplicate groups share their earliest member
      // as bucket-first). StreamingSuite pins the bucket-first semantics
      // directly; if a datagen change breaks these rows, suspect the data
      // assumption — not the operator — first.
      s"WITH $docTokCte, $docShCte, $docPairCte " +
        "SELECT DISTINCT ib AS doc_id FROM p WHERE j >= 0.8"),

    // streaming containment: originals replay in batch 0, excerpts in batch
    // 1; candidates collide on winnowed prints against each print's first
    // owner, then exact containment verifies gate-side (same verify as the
    // batch gate) — flagged docs must equal the batch pairs' later members
    Gate("streaming_containment", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val toksSC = graft.text.TextFunctions.tokenize(
        col("text"), graft.text.TextFunctions.AsciiTokenPattern)
      val excerpts = t(s, dir, "documents").filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat_ws(" ", slice(toksSC, 3, 30)).as("text"))
      val corpus = docs.unionAll(excerpts)
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
      val batchC = when(col("doc_id") >= 100000L, 1).otherwise(0).cast("int")
      val cand = streamReplay(s, corpus, batchC, 2)(st =>
        graft.streaming.StreamingContainment.winnowCandidates(
          st, col("doc_id"), col("text"), "ts", "30 days").toDF())
        .select(col("firstDocId").as("idA"), col("docId").as("idB")).distinct()
      val sh = corpus.select(col("doc_id"),
        graft.text.TextFunctions.hashedTextShingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) >= 10)
      cand
        .join(sh.select(col("doc_id").as("idA"), col("sh").as("shA")), "idA")
        .join(sh.select(col("doc_id").as("idB"), col("sh").as("shB")), "idB")
        .filter(size(array_intersect(col("shA"), col("shB"))).cast("double") /
          least(size(col("shA")), size(col("shB"))).cast("double") >= 0.5)
        .select(col("idB").as("doc_id")).distinct()
    },
      // streaming flags the LATER doc of each containment pair (candidates
      // collide against each print's first owner, exact verify gate-side);
      // the replay feeds originals before excerpts, so flagged == the
      // distinct later members of the batch containment pairs. Data
      // assumption (as for streaming_neardup): each true pair's earlier
      // member owns at least one shared print first — StreamingDedupSuite
      // pins the print-first semantics on hand-planted feeds
      DedupGates.containmentCte +
        "SELECT DISTINCT ib AS doc_id FROM p WHERE c >= 0.5"),

    // P38c: streaming near-dup SEEDED from a batch corpus (initialState):
    // the lower-id half of documents is the "curated 100 TB corpus" — its
    // bucket-first table is computed batch-side and never replayed; the
    // upper half streams in 2 batches and collides against the seeded
    // state from micro-batch 0. Same verify + DATA ASSUMPTION as
    // streaming_neardup (see the oracle comment there)
    Gate("streaming_corpus_neardup", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val mid = maxId / 2
      val corpus = docs.filter(col("doc_id") <= mid)
      val feed = docs.filter(col("doc_id") > mid)
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("doc_id")))
      val seed = graft.streaming.StreamingNearDup.corpusBucketFirst(
        corpus, col("doc_id"), col("text"))
      val batchC = least(
        floor((col("doc_id") - mid - 1) * 2 / (maxId - mid)), lit(1)).cast("int")
      val cand = streamReplay(s, feed, batchC, 2)(st =>
        graft.streaming.StreamingNearDup.minHashCandidatesSeeded(
          st, col("doc_id"), col("text"), "ts", "30 days", seed).toDF())
        .select(col("firstDocId").as("idA"), col("docId").as("idB")).distinct()
      val sh = docs.select(col("doc_id"),
        graft.text.TextFunctions.hashedTextShingles(col("text"), 3).as("sh"))
      cand
        .join(sh.select(col("doc_id").as("idA"), col("sh").as("shA")), "idA")
        .join(sh.select(col("doc_id").as("idB"), col("sh").as("shB")), "idB")
        .filter(graft.text.TextFunctions.jaccard(col("shA"), col("shB")) >= 0.8)
        .select(col("idB").as("doc_id")).distinct()
    },
      // corpus-seeded variant: same all-pairs ideal + same data assumption,
      // restricted to later members in the streamed (upper-id) half — the
      // earlier partner may be a corpus doc (seeded bucket) or an earlier
      // stream doc (stream-created bucket)
      s"WITH $docTokCte, $docShCte, $docPairCte " +
        "SELECT DISTINCT ib AS doc_id FROM p WHERE j >= 0.8 " +
        "AND ib > (SELECT MAX(doc_id) // 2 FROM documents)"),

    // streaming per-domain admission cap: the url fixture replays in
    // event-time order (ts = base + url_id), each registrable domain
    // admits its first 5 arrivals — rank and keep-set must equal the
    // batch row_number replay in DuckDB
    Gate("streaming_domain_cap", (s, dir) => {
      val urls = s.read.parquet(s"$goldenDir/urls_sf001.parquet")
        .select(col("url_id"), col("url"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("url_id")))
      val maxId = urls.agg(max(col("url_id"))).head().getLong(0)
      // hazard fixtures carry NEGATIVE url_ids — clamp them into batch 0
      val batchC = greatest(
        least(floor(col("url_id") * 2 / (maxId + 1)), lit(1)), lit(0)).cast("int")
      streamReplay(s, urls, batchC, 2)(st =>
        graft.streaming.StreamingDomainCap.capPerDomain(
          st, col("url_id"), col("url"), maxPerDomain = 5,
          "ts", "30 days", stateRetentionMs = 365L * 24 * 3600 * 1000).toDF())
        .select(col("docId").as("url_id"), col("rank"))
    },
      // arrival order == url_id order under the replay, so first-k-arrivals
      // == row_number over url_id
      "SELECT url_id, rank FROM (SELECT url_id, row_number() OVER " +
        "(PARTITION BY domain ORDER BY url_id) AS rank " +
        s"FROM read_parquet('$goldenDir/urls_sf001.parquet')) WHERE rank <= 5"),

    // P38b: streaming embedding near-dup over a planted scaled-duplicate
    // feed; cosine verified INSIDE the state function, so the output needs
    // no further check — per doc, the smallest earlier near-partner
    Gate("streaming_embedding_neardup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val corpus = emb.unionAll(
        emb.select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("vec_id")))
      val maxId = corpus.agg(max(col("vec_id"))).head().getLong(0)
      val batchC = least(floor(col("vec_id") * 2 / (maxId + 1)), lit(1)).cast("int")
      streamReplay(s, corpus, batchC, 2)(st =>
        graft.streaming.StreamingEmbeddingNearDup.embeddingCandidates(
          st, col("vec_id"), col("embedding"), "ts", "30 days",
          dim = 64, threshold = 0.9).toDF())
        .groupBy(col("docId"))
        .agg(min(col("firstDocId")).as("first_doc_id"))
        .select(col("docId").as("doc_id"), col("first_doc_id"))
    },
      "WITH c AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT CAST(vec_id + 100000 AS BIGINT), list_transform(embedding, x -> x * 2) FROM embeddings), " +
        "p AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM c a JOIN c b ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9) " +
        "SELECT ib AS doc_id, CAST(MIN(ia) AS BIGINT) AS first_doc_id FROM p GROUP BY ib"),

    // streaming twin of url_dedup: the fixture replayed as ordered batches
    // (occurrence number per canonical form), keep-first must equal the
    // batch keep-smallest-id decision
    Gate("streaming_url_dedup", (s, dir) => {
      val urls = s.read.parquet(s"$goldenDir/urls_sf001.parquet")
        .select(col("url_id"), col("url"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L) + col("url_id")))
      val occ = row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.functions.vectors.canonicalize_url(col("url")))
          .orderBy(col("url_id"))) - 1
      val nBatches = urls.select(occ.as("o")).agg(max(col("o"))).head().getInt(0) + 1
      streamReplay(s, urls, occ, nBatches)(st =>
        graft.streaming.StreamingDedup.dropDuplicateUrlsWithinWatermark(
          st, col("url"), "ts", "30 days"))
        .select(col("url_id"))
    },
      // the replay feeds batches in per-canonical occurrence order, so
      // streaming keep-first == batch keep-smallest-id
      CleaningGates.urlDedupSql),
  )
}
