package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale probe: amplifies the sf0.1 gate tables N-fold IN PLAN (a
 * replica-id explode — no amplified dataset ever hits disk) and times the
 * scale-sensitive operators on the result. The point is not absolute
 * numbers but SHAPE evidence for SCALE.md: does each operator's cost grow
 * ~linearly with corpus size, and do the skew guards hold when one key
 * owns half the input?
 *
 * Amplification preserves each operator's hardness profile instead of
 * inflating easy work:
 *  - documents: a replica token is interleaved THROUGHOUT each text (every
 *    few words), which breaks most cross-replica shingles (jaccard far
 *    below threshold) while two near-dup docs of the SAME replica receive
 *    the same interleaving and keep their high jaccard — so duplicate
 *    structure scales linearly, not quadratically in replicas.
 *  - customer names: the replica id appended TWICE — >= 2 edits between
 *    any two replicas of a name, so edit-distance-1 families stay within a
 *    replica and signature buckets stay bounded.
 *  - events: replicas shift user_id, EXCEPT a configurable hot fraction
 *    funneled onto ONE user to stress the as-of hot-key path.
 *
 * Run: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_SCALE_N=10 sbt "runMain graft.ScaleProbe"
 * Prints one JSON line per probe: {"probe":…,"n":…,"rows":…,"sec":…}.
 */
object ScaleProbe {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Cross-join with a replica-id range: N logical copies, zero disk. */
  private def amplify(df: DataFrame, n: Int): DataFrame =
    df.crossJoin(spark0(df).range(n).select(col("id").as("__rep")))

  private def spark0(df: DataFrame): SparkSession = df.sparkSession

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "10").toInt
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    // optional comma-separated probe filter, e.g. SPARK_GRAFT_SCALE_PROBES=
    // "minhash_pairs,assign_clusters" — lets the cheap probes run at large N
    // without paying for the expensive ones. Probes that feed another probe
    // still compute when only the dependent one is requested
    // (assign_clusters needs the minhash pair list; the bucketed/plain as-of
    // comparison needs both sides), but only requested lines are printed.
    val allProbes = Set("minhash_pairs", "assign_clusters", "fuzzy_pairs",
      "asof_hotkey_plain", "asof_hotkey_bucketed", "cluster_chain",
      "span_stats", "bm25_topk", "pq_topk", "classifier", "semantic_dedup",
      "dsir", "vocab", "streaming_neardup_state", "streaming_embedding_state",
      "bpe_encode", "byte_bpe_encode", "boilerplate", "kmv_sketch", "containment",
      "jaccard_prefix", "streaming_seeded_state", "streaming_domain_cap_state",
      "int8_footprint", "bitsign_footprint", "soft_dedup_split", "novelty",
      "dedup_index", "multimatch", "quality_cut", "bloom_index", "cms_sketch",
      "link_rank", "snapshot_diff", "wordpiece_encode", "streaming_topk_state",
      "curriculum", "anonymity", "streaming_drift_state", "unigram_encode",
      "warc_ingest", "warc_curation", "scd2_history", "scd2_versions",
      "deletion_scrub", "length_buckets", "watermark_plan", "linkage",
      "funnel", "chat_trim", "chat_neardup", "byte_bpe_decode",
      "retention_hll", "pack_ids", "pack_append", "bin_pack")
    val onlyProbes = sys.env.get("SPARK_GRAFT_SCALE_PROBES")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    require(onlyProbes.subsetOf(allProbes),
      s"unknown probe name(s): ${onlyProbes.diff(allProbes).mkString(", ")} " +
        s"(valid: ${allProbes.mkString(", ")})")
    def enabled(probe: String): Boolean =
      onlyProbes.isEmpty || onlyProbes.contains(probe)

    // Locale.ROOT: a comma-decimal default locale would render invalid JSON.
    // reportAlways skips the name re-check — for probes whose PRINTED name
    // differs from their filter name (classifier_xx, dsir_fit/score,
    // vocab_fit/coverage); callers guard with enabled(<filter name>).
    def reportAlways(probe: String, rows: Long, sec: Double): Unit =
      println(String.format(java.util.Locale.ROOT,
        """{"probe":"%s","n":%d,"rows":%d,"sec":%.2f}""",
        probe, Int.box(n), Long.box(rows), Double.box(sec)))
    def report(probe: String, rows: Long, sec: Double): Unit =
      if (enabled(probe)) reportAlways(probe, rows, sec)

    // --- documents: minhash pair-gen + verify, then components ------------
    if (enabled("minhash_pairs") || enabled("assign_clusters") ||
        enabled("soft_dedup_split")) {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bigDocs = amplify(docs, n)
      .select((col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        regexp_replace(col("text"), lit("(\\w+ \\w+ \\w+)"),
          concat(lit("$1 r"), col("__rep").cast("string"))).as("text"))
    val (pairs, tPairs) = time {
      val p = graft.dedup.Dedup.nearDupPairsMinHash(
        bigDocs, col("doc_id"), col("text"), threshold = 0.8)
      p.count() -> p
    }
    report("minhash_pairs", pairs._1, tPairs)

    val (nClusters, tClusters) = time {
      graft.dedup.Clustering.assignClusters(
        bigDocs.select(col("doc_id")), col("doc_id"), pairs._2)
        .queryExecution.toRdd.count()
    }
    report("assign_clusters", nClusters, tClusters)

    // soft weights + leakage-safe split over the same pair list: the
    // alpha=1 invariant (sum of weights == cluster count) and the
    // structural no-straddle guarantee are require-asserted AT EVERY N —
    // scale growth must never loosen either contract
    if (enabled("soft_dedup_split")) {
      val ids = bigDocs.select(col("doc_id"))
      val (wRows, tW) = time {
        val w = graft.dedup.Clustering.softDedupWeights(ids, col("doc_id"), pairs._2)
        val agg = w.agg(
          sum(col("dedup_weight")).as("total"),
          countDistinct(col("cluster_id")).as("clusters"),
          count(lit(1)).as("rows")).collect()(0)
        require(math.abs(agg.getDouble(0) - agg.getLong(1)) < 1e-6,
          s"weight sum ${agg.getDouble(0)} != cluster count ${agg.getLong(1)}")
        agg.getLong(2)
      }
      reportAlways("soft_dedup_weights", wRows, tW)
      val (sRows, tS) = time {
        val sp = graft.dedup.Clustering.splitByClusters(
          ids, col("doc_id"), pairs._2,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        val straddlers = sp.groupBy(col("cluster_id"))
          .agg(countDistinct(col("split")).as("k"))
          .filter(col("k") > 1).count()
        require(straddlers == 0L, s"$straddlers clusters straddle splits")
        sp.count()
      }
      reportAlways("split_by_clusters", sRows, tS)
    }
    }

    // --- documents: n-gram novelty profile --------------------------------
    // claim under test: cost grows ~linearly with corpus size because the
    // second shuffle carries only the DUPLICATED gram mass (the left-semi
    // on the df >= 2 set), not the full exploded gram stream; hashed=true
    // keeps both exchanges to 8-byte longs
    if (enabled("novelty")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val bigDocs = amplify(docs, n)
        .select((col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
          regexp_replace(col("text"), lit("(\\w+ \\w+ \\w+)"),
            concat(lit("$1 r"), col("__rep").cast("string"))).as("text"))
      val (rows, t) = time {
        graft.text.CorpusStats.noveltyProfile(
          bigDocs, col("doc_id"), col("text"), n = 3, hashed = true)
          .queryExecution.toRdd.count()
      }
      report("novelty", rows, t)
    }

    // --- documents: persisted dedup index, fixed increment ----------------
    // claim under test: with the reference N-times larger, the increment's
    // query cost grows only with the INDEX SCAN (shingle/band work is
    // increment-only) — re-shingling the reference would grow the kernel
    // work N-fold too, which this probe would expose as super-linear time
    if (enabled("dedup_index")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val bigRef = amplify(docs, n)
        .select((col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
          regexp_replace(col("text"), lit("(\\w+ \\w+ \\w+)"),
            concat(lit("$1 r"), col("__rep").cast("string"))).as("text"))
      // the increment replays 200 replica-0 documents under new ids, so
      // every one of them near-duplicates an indexed document — the verify
      // join must do real work, not return empty
      val increment = bigRef.filter(col("doc_id") < 1000000L).limit(200)
        .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
      val idx = graft.createTemporaryDir(s"scale-dedup-index-$n")
      graft.dedup.DedupIndex.saveDedupIndex(
        bigRef, col("doc_id"), col("text"), idx)
      val (rows, t) = time {
        graft.dedup.DedupIndex.nearDupPairsAgainstIndex(
          increment, col("doc_id"), col("text"), idx, threshold = 0.8)
          .queryExecution.toRdd.count()
      }
      report("dedup_index", rows, t)
    }

    // --- customer names: fuzzy ED-1 self-join ----------------------------
    if (enabled("fuzzy_pairs")) {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val bigNames = amplify(cust.select(col("c_custkey"), col("c_name")), n)
      .select((col("c_custkey") + col("__rep") * 10000000L).as("id"),
        concat(col("c_name"), lit("#"), col("__rep").cast("string"),
          lit("#"), col("__rep").cast("string")).as("name"))
    val (nFuzzy, tFuzzy) = time {
      graft.join.FuzzyJoin.editDistance1Pairs(bigNames, col("id"), col("name"))
        .queryExecution.toRdd.count()
    }
    report("fuzzy_pairs", nFuzzy, tFuzzy)
    }

    // --- clustering: chain-heavy components, forced distributed path -----
    // Worst-case component SHAPE for naive propagation: every component is a
    // long chain (diameter = length), so the alternating-star round count is
    // stressed directly. Replicas add MORE chains of the SAME length — the
    // O(log diameter) bound predicts a round count that stays flat as N
    // grows, and that flatness (not the absolute number) is the 100 TB
    // evidence. localEdgeThreshold=0 forces the distributed path even though
    // the edge set would fit the driver union-find; the default-threshold
    // run must agree on the component count (rounds=0, fast path).
    if (enabled("cluster_chain")) {
    val chainLen = 64
    val nodesPerRep = 50000L
    val nodes = spark.range(nodesPerRep)
      .crossJoin(spark.range(n).select(col("id").as("__rep")))
      .select((col("id") + col("__rep") * 10000000L).as("u"))
    val chainEdges = nodes
      .filter(col("u") % chainLen =!= (chainLen - 1)) // break between chains
      .select(col("u").as("idA"), (col("u") + 1).as("idB"))
    val expectedComponents = (nodesPerRep / chainLen + (if (nodesPerRep % chainLen == 0) 0 else 1)) * n
    val (dist, tDist) = time {
      val (comp, rounds) = graft.dedup.Clustering.connectedComponentsWithRounds(
        chainEdges, col("idA"), col("idB"), localEdgeThreshold = 0L)
      val nComp = comp.select(col("component")).distinct().count()
      (nComp, rounds)
    }
    println(String.format(java.util.Locale.ROOT,
      """{"probe":"cluster_chain","n":%d,"rows":%d,"sec":%.2f,"rounds":%d,"chain_len":%d}""",
      Int.box(n), Long.box(dist._1), Double.box(tDist), Int.box(dist._2), Int.box(chainLen)))
    require(dist._1 == expectedComponents,
      s"distributed chain components: got ${dist._1}, expected $expectedComponents")
    // adaptive fast path: same answer, zero scheduled rounds (only checked
    // when the edge set fits the default threshold)
    val edgeCount = chainEdges.count()
    if (edgeCount <= (1L << 20)) {
      val (comp2, rounds2) = graft.dedup.Clustering.connectedComponentsWithRounds(
        chainEdges, col("idA"), col("idB"))
      require(rounds2 == 0, s"expected the union-find fast path, got $rounds2 rounds")
      val nComp2 = comp2.select(col("component")).distinct().count()
      require(nComp2 == dist._1,
        s"fast path disagrees with distributed path: $nComp2 vs ${dist._1}")
    }
    }

    // --- documents: repeated-span stats + BM25 on the amplified corpus ---
    // the replica interleaving breaks most cross-replica 3-gram windows, so
    // duplicate structure (and the dup-window semi-join) scales linearly in
    // N; BM25's query set stays fixed while postings grow N-fold — the
    // broadcast-semi-join-before-tf-shuffle shape is what keeps it linear
    if (enabled("span_stats") || enabled("bm25_topk") || enabled("classifier") ||
        enabled("dsir") || enabled("vocab")) {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bigDocs = amplify(docs, n)
      .select((col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        regexp_replace(col("text"), lit("(\\w+ \\w+ \\w+)"),
          concat(lit("$1 r"), col("__rep").cast("string"))).as("text"))
    if (enabled("span_stats")) {
      val (nSpan, tSpan) = time {
        graft.text.SpanDedup.repeatedSpanStats(
          bigDocs, col("doc_id"), col("text"), k = 3)
          .queryExecution.toRdd.count()
      }
      report("span_stats", nSpan, tSpan)
      // the operator's input volume: total k-token windows over the corpus
      // (the hash-only count shuffle carries one row per window) — rows here
      // is the window count the span_stats wall-clock paid for
      val (nWin, tWin) = time {
        bigDocs.select(greatest(
            size(graft.functions.vectors.tokenize_ascii(col("text"))) - 2, lit(0))
            .cast("long").as("w"))
          .agg(sum(col("w"))).head().getLong(0)
      }
      reportAlways("span_windows", nWin, tWin)
    }
    if (enabled("classifier")) {
      // pure narrow kernel scan — the time IS the per-doc scoring cost;
      // both bucket paths measured (portable md5 vs production xxhash64)
      val weights = Array.tabulate(256)(i => ((i * 37 + 11) % 21) - 10)
      val (nCls, tCls) = time {
        graft.text.Classifier.score(bigDocs, col("text"), weights)
          .queryExecution.toRdd.count()
      }
      report("classifier", nCls, tCls)
      val (nClsXx, tClsXx) = time {
        graft.text.Classifier.score(bigDocs, col("text"), weights,
          portableHash = false)
          .queryExecution.toRdd.count()
      }
      if (enabled("classifier"))
        println(String.format(java.util.Locale.ROOT,
          """{"probe":"classifier_xx","n":%d,"rows":%d,"sec":%.2f}""",
          Int.box(n), Long.box(nClsXx), Double.box(tClsXx)))
    }
    if (enabled("dsir")) {
      // fit aggregates the N-fold feature stream to <= 256 shuffled rows
      // per task, then scoring is the same narrow kernel scan as the
      // classifier probe — both halves should grow ~linearly in N
      val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      val (w, tFit) = time {
        graft.text.Dsir.fitWeights(
          docs0.filter(col("lang") === "en"), bigDocs, col("text"), col("text"))
      }
      reportAlways("dsir_fit", w.count(_ != 0).toLong, tFit)
      val (nScore, tScore) = time {
        graft.text.Dsir.score(bigDocs, col("text"), w)
          .queryExecution.toRdd.count()
      }
      reportAlways("dsir_score", nScore, tScore)
    }
    if (enabled("vocab")) {
      // fit = one map-side-combined token count + bounded top-n; probe = a
      // narrow broadcast binary-search pass (no explode, no join)
      val (vocab, tVFit) = time {
        graft.text.Vocab.fitTopTokenVocab(bigDocs, col("text"), n = 1000)
      }
      reportAlways("vocab_fit", vocab.length.toLong, tVFit)
      val (nCov, tCov) = time {
        graft.text.Vocab.coverageReport(bigDocs, col("doc_id"), col("text"), vocab)
          .queryExecution.toRdd.count()
      }
      reportAlways("vocab_coverage", nCov, tCov)
    }
    if (enabled("bm25_topk")) {
      import spark.implicits._
      val queries = Seq(
        (0L, Seq("hash", "table", "scan")),
        (1L, Seq("merge", "sort")),
        (2L, Seq("window", "batch", "slow"))).toDF("query_id", "terms")
      val (nBm, tBm) = time {
        graft.text.Bm25.topK(bigDocs, col("doc_id"), col("text"),
          queries, col("query_id"), col("terms"), k = 10)
          .queryExecution.toRdd.count()
      }
      report("bm25_topk", nBm, tBm)
      // the tf exchange's actual row count: postings MATCHING a query term
      // (the broadcast semi-join keeps every other posting out of the
      // shuffle) — this is the volume the bm25_topk wall-clock shuffles
      val (nPost, tPost) = time {
        bigDocs.select(explode(
            graft.functions.vectors.tokenize_ascii(col("text"))).as("term"))
          .join(broadcast(queries.select(explode(col("terms")).as("term")).distinct()),
            Seq("term"), "left_semi")
          .count()
      }
      reportAlways("bm25_postings", nPost, tPost)
      // RRF fusion is corpus-size-INDEPENDENT: contributions are exactly
      // |queries| * k rows per leg at any N (legs pinned via localCheckpoint
      // so the fusion is what's timed)
      val leg1 = graft.text.Bm25.topK(bigDocs, col("doc_id"), col("text"),
        queries, col("query_id"), col("terms"), k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
        .localCheckpoint(true)
      val leg2 = leg1.withColumn("rank", lit(11) - col("rank"))
      val (nHyb, tHyb) = time {
        graft.search.Retrieval.rrfFuse(Seq(leg1, leg2), k = 10)
          .queryExecution.toRdd.count()
      }
      reportAlways("hybrid_fuse", nHyb, tHyb)
    }
    }

    // --- embeddings: PQ search over an N-fold corpus ---------------------
    // the index trains on the UNamplified sample (the documented 100 TB
    // pattern); the amplified corpus only pays the m-byte encode + O(m) ADC
    // scan, so cost should grow ~linearly while the shortlist join-back
    // stays |queries| * k * refine rows
    if (enabled("pq_topk")) {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val index = graft.ann.Pq.trainPq(emb, col("vec_id"), col("embedding"),
      dim = 64, m = 8, ksub = 16, iterations = 3)
    val bigEmb = amplify(emb, n)
      .select((col("vec_id") + col("__rep") * 1000000L).as("vec_id"),
        col("embedding"))
    val (nPq, tPq) = time {
      graft.ann.Pq.pqTopK(emb.filter(col("vec_id") < 20), bigEmb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        index, k = 3, refine = 8)
        .queryExecution.toRdd.count()
    }
    report("pq_topk", nPq, tPq)
    // the result rows are |Q|*k by construction at any N — assert the
    // shortlist bound the design claims instead of eyeballing it
    require(nPq <= 20L * 3, s"pq_topk emitted $nPq rows > |Q|*k")
    // encoded-corpus footprint: rows = bytes per vector (m code bytes + 8
    // cnorm bytes) vs dim*4 = 256 raw — the scan-IO cut PQ exists for
    val (bytesPerVec, tEnc) = time {
      val enc = graft.ann.Pq.encode(bigEmb, col("vec_id"), col("embedding"), index)
      math.round(enc.agg(avg(octet_length(col("codes")))).head().getDouble(0)) + 8
    }
    reportAlways("pq_encode_bytes", bytesPerVec, tEnc)
    // exact brute force over the SAME amplified corpus — the baseline the
    // O(m) ADC scan undercuts (compare sec against pq_topk's line)
    val (nBrute, tBrute) = time {
      graft.ann.Ann.bruteForceTopK(emb.filter(col("vec_id") < 20), bigEmb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3)
        .queryExecution.toRdd.count()
    }
    reportAlways("pq_brute_baseline", nBrute, tBrute)
    // composed IVF x PQ (P12e): the bucket equi-join should cut the ADC
    // candidate stream to ~nprobe/k_ivf of the corpus at any N
    val ivf = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
      k = 16, iterations = 3)
    val (nIvfPq, tIvfPq) = time {
      graft.ann.Pq.ivfPqTopK(emb.filter(col("vec_id") < 20), bigEmb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        ivf, index, k = 3, nprobe = 3, refine = 8)
        .queryExecution.toRdd.count()
    }
    reportAlways("ivfpq_topk", nIvfPq, tIvfPq)
    // rows entering the ADC scorer through the bucket join (vs plain PQ's
    // full |Q| x corpus scan) — the measured prune factor
    val (nCand, tCand) = time {
      val c = bigEmb.select(get(graft.functions.vectors.nearest_centroids(
        col("embedding"), ivf.centroids, 1), lit(0)).as("cid"))
      val q = emb.filter(col("vec_id") < 20).select(explode(
        graft.functions.vectors.nearest_centroids(
          col("embedding"), ivf.centroids, 3)).as("cid"))
      q.join(c, "cid").count()
    }
    reportAlways("ivfpq_candidates", nCand, tCand)
    }

    // --- embeddings: semantic dedup over an N-fold corpus ----------------
    // Replicas are sign-flip images of the base corpus (multiplying each
    // coordinate by a per-(replica, dim) ±1 is an ORTHOGONAL transform), and
    // each replica PLANTS one exactly-colinear copy (x2 — exact in float) of
    // every vector, the dedup_embedding_lsh gate's construction. At
    // threshold 0.9 the truth set is EXACTLY the planted pairs: a colinear
    // twin always shares its nearest centroid wherever it assigns (cosine
    // is scale-invariant), while cross-replica cosines concentrate at
    // ±1/√dim and cannot reach 0.9 — so the expected count n x |base| is an
    // asserted linearity check, not an eyeball. The index grows WITH the
    // corpus (k = 16·n — the k ~ n/targetClusterSize discipline the
    // operator documents) by transforming the 16 base centroids through the
    // SAME column expression (hash parity by construction): cluster SIZES
    // stay ~constant while cluster COUNT carries the growth, which is what
    // keeps the within-cluster pairing cost ~linear instead of quadratic.
    if (enabled("semantic_dedup")) {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val baseCount = emb.count()
    val base = graft.ann.Ann.trainIvf(emb, col("vec_id"), col("embedding"),
      k = 16, iterations = 3)
    def signFlip(vec: Column, rep: Column): Column =
      transform(vec, (x, i) =>
        x * when(pmod(xxhash64(rep, i), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f)))
    val shifted = amplify(emb, n).select(
      (col("vec_id") + col("__rep") * 1000000L).as("vec_id"),
      signFlip(col("embedding"), col("__rep")).as("embedding"))
    val planted = shifted.select((col("vec_id") + 100000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val bigEmb = shifted.unionByName(planted)
    import spark.implicits._
    val bigCentroids = base.centroids.zipWithIndex
      .flatMap { case (c, i) => (0 until n).map(r => (r.toLong, i, c.toSeq)) }
      .toSeq.toDF("__rep", "cidx", "centroid")
      .select(col("__rep"), col("cidx"),
        signFlip(col("centroid"), col("__rep")).as("centroid"))
      .orderBy(col("__rep"), col("cidx"))
      .collect().map(_.getSeq[Float](2).toArray)
    val index = graft.ann.Ann.IvfIndex(bigCentroids)
    val (nSem, tSem) = time {
      graft.dedup.SemanticDedup.semanticDupPairs(
        bigEmb, col("vec_id"), col("embedding"), index, threshold = 0.9)
        .queryExecution.toRdd.count()
    }
    require(nSem == n * baseCount,
      s"semantic dedup pairs: got $nSem, expected exactly ${n * baseCount}")
    report("semantic_dedup", nSem, tSem)
    }

    // --- streaming near-dup state: bucket-state growth + eviction ---------
    // The two state-store claims SCALE.md previously made from code reading
    // alone, now measured: (1) state is ONE row per distinct (band, bucket)
    // of the feed — asserted EXACTLY against a batch recount of the same
    // kernel's distinct buckets, so linearity across N follows bucket
    // growth, not feed volume; (2) the watermark evicts — a far-future
    // flush batch advances event time past retention and the trailing
    // no-data batch must drop the table to (at most) the flush row's own
    // buckets. Replay: batch 0 = amplified corpus, batch 1 = flush row.
    def streamStateProbe(probe: String, staged: DataFrame, batchCol: Column,
                         expectedBuckets: Long, flushBuckets: Long)
                        (mk: DataFrame => DataFrame): Unit = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_$probe").toString
      val schema = graft.streaming.StreamHarness.writeOrderedBatches(
        staged, batchCol, 2, s"$dir/in")
      val stream = graft.streaming.StreamHarness.readOrderedBatches(
        spark, s"$dir/in", schema)
      val t0 = System.nanoTime()
      val q = mk(stream).writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/cp")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // wait for the watermark-finalizing no-data batch (same batchId
        // discipline as StreamHarness.drainToParquet)
        val lastData = q.recentProgress.filter(_.numInputRows > 0)
          .map(_.batchId).foldLeft(-1L)(math.max)
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!q.recentProgress.exists(p =>
            p.numInputRows == 0 && p.batchId > lastData) &&
            System.nanoTime() < deadline) Thread.sleep(50)
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
        val afterLoad = progress.filter(_.batchId == 0)
          .map(_.stateOperators(0).numRowsTotal).max
        val finalRows = progress
          .map(p => (p.batchId, p.stateOperators(0).numRowsTotal)).maxBy(_._1)._2
        require(afterLoad == expectedBuckets,
          s"$probe state rows $afterLoad != distinct buckets $expectedBuckets")
        require(finalRows <= flushBuckets,
          s"$probe eviction left $finalRows state rows (> $flushBuckets)")
        println(String.format(java.util.Locale.ROOT,
          """{"probe":"%s","n":%d,"rows":%d,"sec":%.2f,"after_eviction":%d}""",
          probe, Int.box(n), Long.box(afterLoad), Double.box(sec),
          Long.box(finalRows)))
      } finally q.stop()
    }

    if (enabled("streaming_neardup_state")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val bigDocs = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        regexp_replace(col("text"), lit("(\\w+ \\w+ \\w+)"),
          concat(lit("$1 r"), col("__rep").cast("string"))).as("text"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L)))
      val expected = bigDocs.select(
        posexplode(graft.functions.vectors.minhash_band_hashes(
          graft.text.TextFunctions.hashedTextShingles(col("text"), 3), 16, 8))
          .as(Seq("band", "bucket")))
        .distinct().count()
      val flush = spark.range(1).select(lit(-1L).as("doc_id"),
        lit("watermark flush marker row").as("text"),
        timestamp_seconds(lit(1000000000L + 400L * 86400L)).as("ts"))
      streamStateProbe("streaming_neardup_state",
        bigDocs.unionByName(flush),
        when(col("doc_id") < 0, 1).otherwise(0).cast("int"),
        expected, flushBuckets = 16)(st =>
        graft.streaming.StreamingNearDup.minHashCandidates(
          st, col("doc_id"), col("text"), "ts", "0 seconds").toDF())
    }

    if (enabled("streaming_embedding_state")) {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      def signFlipS(vec: Column, rep: Column): Column =
        transform(vec, (x, i) =>
          x * when(pmod(xxhash64(rep, i), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f)))
      val bigEmb = amplify(emb, n).select(
        (col("vec_id").cast("long") + col("__rep") * 1000000L).as("vec_id"),
        signFlipS(col("embedding"), col("__rep")).as("embedding"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L)))
      val planes = graft.ann.Ann.hyperplanes(16, 12, 64, 42)
      val expected = bigEmb.select(
        posexplode(graft.functions.vectors.lsh_band_buckets(col("embedding"), planes))
          .as(Seq("band", "bucket")))
        .distinct().count()
      val flush = spark.range(1).select(lit(-1L).as("vec_id"),
        array((0 until 64).map(_ => lit(1.0f)): _*).as("embedding"),
        timestamp_seconds(lit(1000000000L + 400L * 86400L)).as("ts"))
      streamStateProbe("streaming_embedding_state",
        bigEmb.unionByName(flush),
        when(col("vec_id") < 0, 1).otherwise(0).cast("int"),
        expected, flushBuckets = 16)(st =>
        graft.streaming.StreamingEmbeddingNearDup.embeddingCandidates(
          st, col("vec_id"), col("embedding"), "ts", "0 seconds",
          dim = 64, threshold = 0.9).toDF())
    }

    // --- seeded streaming near-dup: state bounded by the CORPUS ----------
    // the permanence claim measured: the feed replays the corpus's content
    // N times under fresh ids, so every bucket it touches is already
    // seeded — state must sit EXACTLY at the corpus bucket count after
    // load no matter the feed volume, and stay there after the flush
    // (seeded buckets never evict; only the flush row's own stream-created
    // buckets may linger)
    if (enabled("streaming_seeded_state")) {
      val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val seed = graft.streaming.StreamingNearDup.corpusBucketFirst(
        corpus, col("doc_id"), col("text"))
      val seedBuckets = seed.count()
      val feed = amplify(corpus, n).select(
        (col("doc_id") + col("__rep") * 1000000L + 10000000L).as("doc_id"),
        col("text"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L)))
      val flush = spark.range(1).select(lit(-1L).as("doc_id"),
        lit("watermark flush marker row").as("text"),
        timestamp_seconds(lit(1000000000L + 400L * 86400L)).as("ts"))
      val staged = feed.unionByName(flush)
      val batchCol = when(col("doc_id") < 0, 1).otherwise(0).cast("int")
      val dir = java.nio.file.Files.createTempDirectory("graft_seeded").toString
      val schema = graft.streaming.StreamHarness.writeOrderedBatches(
        staged, batchCol, 2, s"$dir/in")
      val stream = graft.streaming.StreamHarness.readOrderedBatches(
        spark, s"$dir/in", schema)
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamingNearDup.minHashCandidatesSeeded(
        stream, col("doc_id"), col("text"), "ts", "0 seconds", seed,
        stateRetentionMs = 0L).toDF()
        .writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/cp")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val lastData = q.recentProgress.filter(_.numInputRows > 0)
          .map(_.batchId).foldLeft(-1L)(math.max)
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!q.recentProgress.exists(p =>
            p.numInputRows == 0 && p.batchId > lastData) &&
            System.nanoTime() < deadline) Thread.sleep(50)
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
        val afterLoad = progress.filter(_.batchId == 0)
          .map(_.stateOperators(0).numRowsTotal).max
        val finalRows = progress
          .map(p => (p.batchId, p.stateOperators(0).numRowsTotal)).maxBy(_._1)._2
        require(afterLoad == seedBuckets,
          s"seeded state $afterLoad != corpus buckets $seedBuckets at N=$n")
        require(finalRows >= seedBuckets && finalRows <= seedBuckets + 16,
          s"seed permanence violated: $finalRows vs $seedBuckets")
        println(String.format(java.util.Locale.ROOT,
          """{"probe":"%s","n":%d,"rows":%d,"sec":%.2f,"after_flush":%d}""",
          "streaming_seeded_state", Int.box(n), Long.box(afterLoad),
          Double.box(sec), Long.box(finalRows)))
      } finally q.stop()
    }

    // --- streaming domain cap: one counter per domain ----------------------
    // domains are replica-scoped (100 per replica), so state must equal
    // 100*N after load — NOT feed volume (500*N rows) — and drain to the
    // flush row's single domain after the watermark passes
    if (enabled("streaming_domain_cap_state")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val big = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        concat(lit("https://site"), col("__rep").cast("string"), lit("x"),
          pmod(col("doc_id"), lit(100)).cast("string"), lit(".com/p"),
          col("doc_id").cast("string")).as("url"))
        .withColumn("ts", timestamp_seconds(lit(1000000000L)))
      val expected = big.select(
        graft.text.Urls.registrableDomain(col("url"))).distinct().count()
      val flush = spark.range(1).select(lit(-1L).as("doc_id"),
        lit("https://flush-marker.example/x").as("url"),
        timestamp_seconds(lit(1000000000L + 400L * 86400L)).as("ts"))
      streamStateProbe("streaming_domain_cap_state",
        big.unionByName(flush),
        when(col("doc_id") < 0, 1).otherwise(0).cast("int"),
        expected, flushBuckets = 1)(st =>
        graft.streaming.StreamingDomainCap.capPerDomain(
          st, col("doc_id"), col("url"), maxPerDomain = 5,
          "ts", "0 seconds", stateRetentionMs = 0L).toDF())
    }

    // --- int8 footprint: bytes at rest + topk-from-disk, float vs codes --
    // the quantized corpus is written ONCE (encode at write time) and every
    // later scan reads the small layout; the probe reports each path's
    // on-disk parquet bytes (rows field) and its top-k-from-disk wall-clock
    if (enabled("int8_footprint")) {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      def signFlipF(vec: Column, rep: Column): Column =
        transform(vec, (x, i) =>
          x * when(pmod(xxhash64(rep, i), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f)))
      val big = amplify(emb, n).select(
        (col("vec_id").cast("long") + col("__rep") * 1000000L).as("vec_id"),
        signFlipF(col("embedding"), col("__rep")).as("embedding"))
      val root = java.nio.file.Files.createTempDirectory("graft_int8fp").toString
      big.write.parquet(s"$root/float")
      big.select(col("vec_id"),
        graft.functions.vectors.int8_encode(col("embedding")).as("codes"),
        graft.functions.vectors.int8_scale(col("embedding")).as("scale"))
        .write.parquet(s"$root/int8")
      def bytesOf(p: String): Long = {
        val d = new java.io.File(p)
        d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      }
      val fcorp = spark.read.parquet(s"$root/float")
      val fq = fcorp.filter(col("vec_id") < 20)
      val (nF, tF) = time {
        graft.ann.Ann.bruteForceTopK(fq, fcorp,
          col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), k = 3).count()
      }
      val ccorp = spark.read.parquet(s"$root/int8")
      val q8 = ccorp.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("codes").as("qcodes"))
        .withColumn("qnorm",
          graft.functions.vectors.int8_dot(col("qcodes"), col("qcodes")))
      val c8 = ccorp.select(col("vec_id").as("neighbor_id"), col("codes"))
        .withColumn("cnorm",
          graft.functions.vectors.int8_dot(col("codes"), col("codes")))
      val (n8, t8) = time {
        broadcast(q8).crossJoin(c8)
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("cos8",
            when(col("qnorm") === 0L || col("cnorm") === 0L, lit(0.0))
              .otherwise(
                graft.functions.vectors.int8_dot(col("qcodes"), col("codes")).cast("double") /
                  sqrt(col("qnorm").cast("double") * col("cnorm").cast("double"))))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id")).orderBy(col("cos8").desc, col("neighbor_id"))))
          .filter(col("rank") <= 3).count()
      }
      require(nF == n8, s"int8 topk row count $n8 != float $nF")
      reportAlways("int8_float_path", bytesOf(s"$root/float"), tF)
      reportAlways("int8_code_path", bytesOf(s"$root/int8"), t8)
    }

    // --- 1-bit sign tier: packed corpus written once, Hamming-ranked ------
    // the tier below int8: 1 bit/dim at rest, scored by XOR+popcount over
    // dim/64 words; the probe reports the packed table's parquet bytes and
    // the top-k-from-disk wall-clock of the pure-Hamming ranking
    if (enabled("bitsign_footprint")) {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      def signFlipB(vec: Column, rep: Column): Column =
        transform(vec, (x, i) =>
          x * when(pmod(xxhash64(rep, i), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f)))
      val big = amplify(emb, n).select(
        (col("vec_id").cast("long") + col("__rep") * 1000000L).as("vec_id"),
        signFlipB(col("embedding"), col("__rep")).as("embedding"))
      val root = java.nio.file.Files.createTempDirectory("graft_bitsignfp").toString
      big.select(col("vec_id"),
        graft.functions.vectors.bit_sign_pack(col("embedding")).as("words"))
        .write.parquet(s"$root/packed")
      def bytesOf(p: String): Long = {
        val d = new java.io.File(p)
        d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      }
      val pc = spark.read.parquet(s"$root/packed")
      val qp = pc.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("words").as("qbits"))
      val (nH, tH) = time {
        broadcast(qp).crossJoin(pc.select(col("vec_id").as("neighbor_id"), col("words")))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("hamming",
            graft.functions.vectors.hamming_words(col("qbits"), col("words")))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id")).orderBy(col("hamming").asc, col("neighbor_id"))))
          .filter(col("rank") <= 3).count()
      }
      require(nH == 60, s"hamming topk row count $nH != 60")
      reportAlways("bitsign_code_path", bytesOf(s"$root/packed"), tH)
    }

    // --- quality cut: exact (sorted window) vs approximate (threshold) ---
    // the adaptive cut's two paths priced against each other as groups grow:
    // exact pays a per-group SORT of the corpus; approximate pays one
    // mergeable percentile aggregate + a narrow filter. Kept counts
    // require-asserted within tolerance at every N.
    if (enabled("quality_cut")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val big = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        col("source"), length(col("text")).cast("double").as("score"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        big.count() // materialize so both paths price their own plan only
        val (ec, tExact) = time {
          graft.agg.TopK.topFractionPerGroup(big, Seq(col("source")),
            Seq(col("score").desc, col("doc_id").asc), 0.3).count()
        }
        val (ac, tApprox) = time {
          graft.agg.TopK.approxTopFractionPerGroup(big, Seq(col("source")),
            col("score"), 0.3).count()
        }
        require(ac >= 1 && math.abs(ac - ec) <= math.max(2L, (0.1 * ec).toLong),
          s"approx kept $ac vs exact $ec")
        reportAlways("quality_cut_exact", ec, tExact)
        reportAlways("quality_cut_approx", ac, tApprox)
      } finally big.unpersist()
    }

    // --- Aho-Corasick: one byte pass regardless of blocklist size --------
    // the operator's 100 TB claim is that per-row cost is the byte walk,
    // NOT patterns x contains(): the probe scans the same amplified corpus
    // with 8 and with 256 patterns and reports both wall-clocks (flat), at
    // fixed pattern count the time tracks corpus bytes via n
    if (enabled("multimatch")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val big = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"), col("text"))
      val few = Seq("the", "and", "data", "with", "for", "this", "that", "from")
      val many = few ++ (0 until 248).map(i => s"zzblock$i")
      def hits(ps: Seq[String]): Long =
        big.select(sum(size(graft.functions.vectors.matched_patterns(col("text"), ps)))
          .as("h")).head().getLong(0)
      hits(few) // untimed warmup: codegen + scan caches, so the 8-vs-256
                // comparison measures the automaton walk, not first-run JIT
      val (h8, t8) = time(hits(few))
      val (h256, t256) = time(hits(many))
      require(h8 == h256, s"absent patterns changed the hit count: $h8 vs $h256")
      reportAlways("multimatch_8pat", h8, t8)
      reportAlways("multimatch_256pat", h256, t256)
    }

    // --- BPE encode: narrow kernel scan, trained once on the sample ------
    // production shape: merges learn ONCE (on the unamplified sample —
    // train cost is corpus-word-count + bounded driver loop), then encode
    // is a pure kernel pass whose cost must track corpus bytes linearly
    if (enabled("bpe_encode")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val model = graft.text.Bpe.train(docs, col("text"), numMerges = 200)
      val big = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        concat(col("text"), lit(" r"), col("__rep").cast("string")).as("text"))
      val (nTok, tEnc) = time {
        big.select(sum(size(graft.text.Bpe.encode(col("text"), model))).as("n"))
          .head().getLong(0)
      }
      report("bpe_encode", nTok, tEnc)
    }

    // --- byte-level BPE encode: the same narrow-kernel claim as
    // bpe_encode, but over the byte scanner + merge loop (the per-thread
    // memo must keep per-row cost amortized under replica-perturbed text)
    if (enabled("byte_bpe_encode")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val model = graft.text.ByteBpe.train(docs, col("text"), numMerges = 200)
      val big = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        concat(col("text"), lit(" r"), col("__rep").cast("string")).as("text"))
      val (nTok, tEnc) = time {
        big.select(sum(size(graft.text.ByteBpe.encode(col("text"), model))).as("n"))
          .head().getLong(0)
      }
      report("byte_bpe_encode", nTok, tEnc)
    }

    // --- wordpiece encode: same narrow-kernel linearity claim as bpe ----
    if (enabled("wordpiece_encode")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val model = graft.text.WordPiece.train(docs, col("text"), vocabSize = 300)
      val big = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        concat(col("text"), lit(" r"), col("__rep").cast("string")).as("text"))
      val (nTok, tEnc) = time {
        big.select(sum(size(graft.text.WordPiece.encode(col("text"), model))).as("n"))
          .head().getLong(0)
      }
      report("wordpiece_encode", nTok, tEnc)
    }

    // --- unigram encode: same narrow-kernel linearity claim; the Viterbi
    // DP per word is absorbed by the per-thread memo on the Zipfian word
    // distribution, so amplification must cost ~the scan, not the DP
    if (enabled("unigram_encode")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val model = graft.text.Unigram.train(docs, col("text"), vocabSize = 300)
      val big = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        concat(col("text"), lit(" r"), col("__rep").cast("string")).as("text"))
      val (nTok, tEnc) = time {
        big.select(sum(size(graft.text.Unigram.encode(col("text"), model))).as("n"))
          .head().getLong(0)
      }
      report("unigram_encode", nTok, tEnc)
    }

    // --- boilerplate line removal: the anti-join's hot-hash stress -------
    // every amplified doc carries the same header line (the most skewed
    // hash possible: one line hash owning N*|docs| exploded rows on the
    // anti-join probe side — exactly the rows the join DROPS) plus a
    // per-replica tail line that stays below the threshold at every N
    if (enabled("boilerplate")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val big = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        concat(lit("shared boilerplate header\n"), col("text"),
          lit("\ndoc tail "), col("doc_id").cast("string"),
          lit(" r"), col("__rep").cast("string")).as("text"))
      val (nRows, t) = time {
        graft.dedup.Dedup.removeBoilerplateLines(
          big, col("doc_id"), col("text"), minDocs = 100)
          .agg(count(lit(1)), sum(length(col("text")))).head().getLong(0)
      }
      report("boilerplate", nRows, t)
    }

    // --- KMV sketch: bounded-communication aggregate ---------------------
    // output is k strings at EVERY N — the probe measures that the sketch
    // pass stays a linear scan with constant exchange volume
    if (enabled("kmv_sketch")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val big = amplify(docs, n).select(
        concat(col("text"), lit(" r"), col("__rep").cast("string")).as("text"))
      val (kUsed, t) = time {
        graft.dedup.CorpusOverlap.kmvSketch(big, col("text"), 1024)
          .select(size(col("kmv"))).head().getInt(0).toLong
      }
      report("kmv_sketch", kUsed, t)
    }

    // --- containment: winnow index + capped print join -------------------
    // every token gets a replica prefix, so replicas are textually DISJOINT
    // (amplifying near-identical copies would make every excerpt ~contained
    // in every replica of its source — N^2 true pairs, a datagen artifact,
    // not an operator property); each replica then contributes one excerpt
    // per 5th doc, so true pairs = excerpt-vs-own-carrier only and the
    // verified pair count must grow exactly linearly
    if (enabled("containment")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val toks = graft.text.TextFunctions.tokenize(
        col("text"), graft.text.TextFunctions.AsciiTokenPattern)
      val big = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        regexp_replace(col("text"), lit("([a-z0-9A-Z]+)"),
          concat(lit("r"), col("__rep").cast("string"), lit("x$1"))).as("text"))
      val excerpts = big.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 500000000L).as("doc_id"),
          concat_ws(" ", slice(toks, 3, 30)).as("text"))
      val (nPairs, t) = time {
        graft.dedup.Containment.containmentPairs(
          big.unionAll(excerpts), col("doc_id"), col("text")).count()
      }
      report("containment", nPairs, t)
    }

    // --- jaccard_prefix: exact prefix-filter similarity join --------------
    // same disjoint-replica amplification as containment: each replica
    // carries its own copy of the datagen's planted near-dup pairs and
    // nothing cross-replica qualifies, so the EXACT pair count must grow
    // exactly linearly while the prefix index (the quadratic hazard) stays
    // collision-bounded — rarest-first ordering keeps replica-local tokens
    // in prefixes and cross-replica candidates at zero
    if (enabled("jaccard_prefix")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val big = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        regexp_replace(col("text"), lit("([a-z0-9A-Z]+)"),
          concat(lit("r"), col("__rep").cast("string"), lit("x$1"))).as("text"))
      val (nPairs, t) = time {
        graft.dedup.PrefixJoin.jaccardJoinPrefix(
          big, col("doc_id"), col("text"), threshold = 0.8).count()
      }
      report("jaccard_prefix", nPairs, t)
    }

    // --- events: as-of join with a deliberately hot key ------------------
    // half of all amplified clicks collapse onto user 0; the bucketed
    // variant must not serialize that user onto one task
    if (enabled("asof_hotkey_plain") || enabled("asof_hotkey_bucketed")) {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val bigEv = amplify(ev, n)
      .select(
        when(col("event_id") % 2 === 0, lit(0L))
          .otherwise(col("user_id") + col("__rep") * 1000000L).as("user_id"),
        (col("event_id") + col("__rep") * 100000000L).as("event_id"),
        // same type-drift-proof micros dispatch as the gate queries
        SparkEntry.eventTsUs(ev).as("ts_us"),
        col("event_type"), col("value"))
    val clicks = bigEv.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val errs = bigEv.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts_us"), col("value"))
      .groupBy(col("user_id"), col("ts_us")).agg(max(col("value")).as("err_value"))
    val (nAsofPlain, tAsofPlain) = time {
      graft.join.Joins.asofJoin(clicks, errs, Seq("user_id"), "ts_us", "ts_us",
        Seq("err_value")).queryExecution.toRdd.count()
    }
    report("asof_hotkey_plain", nAsofPlain, tAsofPlain)
    val (nAsofBkt, tAsofBkt) = time {
      graft.join.Joins.asofJoin(clicks, errs, Seq("user_id"), "ts_us", "ts_us",
        Seq("err_value"),
        timeBucket = Some(c => floor(c / lit(3600000000L)))) // 1h buckets
        .queryExecution.toRdd.count()
    }
    report("asof_hotkey_bucketed", nAsofBkt, tAsofBkt)
    require(nAsofPlain == nAsofBkt,
      s"bucketed as-of must be row-identical: $nAsofPlain vs $nAsofBkt")
    }

    // --- bloom sidecar: build linear in rows, PROBE cost file-bounded ----
    // build scans N x lineitem and carries one fixed buffer per file; the
    // point lookup collects one sidecar row per file and scans only
    // surviving files — kept-file count must stay ~flat as N grows (the
    // key lives in the same range slice at every N), which is the whole
    // value claim of the index
    if (enabled("bloom_index")) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      val big = amplify(li, n)
        .select((col("l_orderkey") + col("__rep") * 100000000L).as("key"),
          col("l_partkey"))
      val dir = java.nio.file.Files.createTempDirectory("graft_bloomprobe")
        .toString + "/data"
      big.repartitionByRange(32, col("key")).write.mode("overwrite").parquet(dir)
      val (_, tBuild) = time {
        graft.parquet.BloomIndex.writeBloomIndex(spark, dir, "key",
          logBits = 20, k = 5)
      }
      val (probeStats, tProbe) = time {
        val rep = graft.parquet.BloomIndex.pruningReport(spark, dir, "key",
          Seq(325L, 100000325L))
        (rep.size.toLong, rep.count(_._2).toLong)
      }
      require(probeStats._2 < probeStats._1,
        s"bloom probe kept ${probeStats._2} of ${probeStats._1} files — no pruning")
      println(String.format(java.util.Locale.ROOT,
        """{"probe":"bloom_index","n":%d,"rows":%d,"sec":%.2f,"files":%d,"kept":%d,"probe_sec":%.2f}""",
        Int.box(n), Long.box(big.count()), Double.box(tBuild),
        Long.box(probeStats._1), Long.box(probeStats._2), Double.box(tProbe)))
    }

    // --- count-min: build linear in tokens, state constant ---------------
    // the sketch buffer is depth x width longs at EVERY N; estimates stay
    // >= truth (the one-sided contract is asserted under amplification,
    // where collisions only grow)
    if (enabled("cms_sketch")) {
      val docs2 = spark.read.parquet(s"$sfDir/documents.parquet")
      val bigToks = amplify(docs2, n)
        .select(explode(graft.text.TextFunctions.tokenize(col("text"))).as("token"))
      val (stats, tCms) = time {
        val sk = bigToks.agg(
          graft.agg.CountMin.cmsSketch(col("token"), 4, 1024).as("sk"))
        val est = bigToks.groupBy("token").agg(count(lit(1)).as("exact"))
          .orderBy(desc("exact"), asc("token")).limit(10)
          .crossJoin(broadcast(sk))
          .select(col("exact"),
            graft.agg.CountMin.cmsEstimate(col("sk"), col("token"), 4, 1024)
              .as("est"))
          .collect()
        require(est.forall(r => r.getLong(1) >= r.getLong(0)),
          "cms estimate below truth under amplification")
        est.map(_.getLong(0)).sum
      }
      report("cms_sketch", stats, tCms)
    }

    // --- streaming top-k: state rows == OPEN WINDOWS, never keys --------
    // the operator's whole claim: amplification multiplies the distinct
    // keys N-fold, but the state store holds ONE row per open window (the
    // bounded MG summary lives inside it); the flush batch closes the
    // window and leaves at most the flush row's own window behind
    if (enabled("streaming_topk_state")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val bigKeys = amplify(docs, n).select(
        concat(lit("k"), (col("doc_id") + col("__rep") * 1000000L)).as("key"))
        .withColumn("ts", timestamp_seconds(lit(1000000020L)))
      val flush = spark.range(1).select(lit("zz").as("key"),
        timestamp_seconds(lit(1000000020L + 400L * 86400L)).as("ts"))
      streamStateProbe("streaming_topk_state", bigKeys.unionByName(flush),
        when(col("key") === "zz", 1).otherwise(0).cast("int"),
        expectedBuckets = 1, flushBuckets = 1)(st =>
        graft.streaming.StreamingTopK.topKeysPerWindow(
          st, col("key"), "ts", "1 minute", "0 seconds",
          k = 10, capacity = 64).toDF())
    }

    // --- streaming drift: N x the corpus with a UNIQUE token injected per
    // replica-document — a naive groupBy(window, token) would hold rows for
    // every unique token; the vocab-bucketed plan must hold exactly the
    // bucketed tokens actually present (constant in N), require-asserted
    if (enabled("streaming_drift_state")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val driftVocab = Seq("the", "a", "of", "and", "to", "in", "is", "it")
      val big = amplify(docs, n).select(
        concat(col("text"), lit(" uniq"),
          (col("doc_id") + col("__rep") * 1000000L).cast("string")).as("text"))
        .withColumn("ts", timestamp_seconds(lit(1000000020L)))
      // the exact bucketed-token count the state must equal (one window)
      val expected = big
        .select(explode(graft.text.TextFunctions.tokenize(
          col("text"), graft.text.TextFunctions.AsciiTokenPattern)).as("tok"))
        .select(when(col("tok").isInCollection(driftVocab), col("tok"))
          .otherwise(lit("<oov>")).as("token"))
        .distinct().count()
      val flush = spark.range(1).select(lit("zz").as("text"),
        timestamp_seconds(lit(1000000020L + 400L * 86400L)).as("ts"))
      streamStateProbe("streaming_drift_state", big.unionByName(flush),
        when(col("text") === "zz", 1).otherwise(0).cast("int"),
        expectedBuckets = expected, flushBuckets = 1)(st =>
        graft.streaming.StreamingDrift.tokenCountsByWindow(
          st, col("text"), "ts", "1 minute", "0 seconds", driftVocab))
    }

    // --- k-anonymity suppression: amplification multiplies every quasi
    // combo's count by exactly n (replicas share lang/source/len_bucket),
    // so scaling the threshold by n must keep the SAME combos — kept rows
    // == n x the base kept set, require-asserted. Cost = one window-count
    // exchange per channel.
    if (enabled("anonymity")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      def quasi(df: DataFrame) = df.select(col("doc_id"), col("lang"),
        col("source"), (col("n_chars") % 7).as("len_bucket"))
      val base = quasi(docs)
      val big = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        col("lang"), col("source"), (col("n_chars") % 7).as("len_bucket"))
      val cols = Seq("lang", "source", "len_bucket")
      val baseKept = graft.privacy.Anonymity.suppressRareRows(base, cols, 2)
        .queryExecution.toRdd.count()
      val (stats, tAn) = time {
        val kc = graft.privacy.Anonymity.suppressRareRows(big, cols, 2 * n)
          .queryExecution.toRdd.count()
        val rc = graft.privacy.Anonymity.rareRows(big, cols, 2 * n)
          .queryExecution.toRdd.count()
        val total = big.count()
        require(kc + rc == total,
          s"anonymity channels not a partition: $kc + $rc != $total")
        require(kc == n.toLong * baseKept,
          s"kept rows $kc != n x base kept ${n.toLong * baseKept} - " +
            "combo counts did not scale linearly")
        kc
      }
      report("anonymity", stats, tAn)
    }

    // --- curriculum ordering: two 3-phase row numbers, linear ------------
    // contract at every N: order_id is a permutation of 1..rows and bands
    // split by the exact integer formula (max band == bands - 1)
    if (enabled("curriculum")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val big = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        col("n_chars"))
      val (stats, tCur) = time {
        val out = graft.sample.Curriculum.curriculumOrder(
          big, col("doc_id"), col("n_chars"), bands = 8, salt = "probe")
        val agg = out.agg(count(lit(1)).as("rows"),
          max(col("order_id")).as("mx"), min(col("order_id")).as("mn"),
          countDistinct(col("order_id")).as("d"),
          max(col("band")).as("mb")).head()
        require(agg.getLong(1) == agg.getLong(0) && agg.getLong(2) == 1L &&
          agg.getLong(3) == agg.getLong(0),
          s"order_id not a permutation: $agg")
        require(agg.getLong(4) == 7L, s"max band ${agg.getLong(4)} != 7")
        agg.getLong(0)
      }
      report("curriculum", stats, tCur)
    }

    // --- link rank: N disjoint replica subgraphs, per-iteration cost ------
    // linear in edges; the fixed-point integer math makes the contract
    // checkable: structurally identical replicas MUST produce identical
    // rank vectors (require-asserted), so scale can never drift results
    if (enabled("link_rank")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val e0 = amplify(docs.select(col("doc_id"), col("source")), n)
        .select(concat(col("__rep"), lit("_"), col("source")).as("src"),
          concat(col("__rep"), lit("_src"),
            pmod(col("doc_id") * 7 + 3, lit(20))).as("dst"))
      val (stats, tLr) = time {
        val r = graft.graph.LinkRank.rank(e0, col("src"), col("dst"),
          iterations = 3)
        val suffixRanks = r.select(
          substring_index(col("node"), "_", -1).as("suffix"), col("rank_fp"))
          .distinct().count()
        val suffixes = r.select(substring_index(col("node"), "_", -1))
          .distinct().count()
        require(suffixRanks == suffixes,
          s"replica rank asymmetry: $suffixRanks distinct (suffix, rank) " +
            s"vs $suffixes suffixes")
        r.count()
      }
      report("link_rank", stats, tLr)
    }

    // --- snapshot diff: detection cost rides the MANIFESTS (rows = file
    // count, not data volume); the incremental diff reads only the 2
    // perturbed partitions of 32 and must agree with the full diff on
    // every non-N row — the full diff is timed alongside as the referee
    if (enabled("snapshot_diff")) {
      // orders, not lineitem: the datagen's lineitem has no unique key
      // (duplicate (orderkey, linenumber) pairs), and a diff id must be one
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val big = amplify(ord, n).select(
        (col("o_orderkey") + col("__rep") * 1000000000L).as("id"),
        col("o_custkey"), col("o_totalprice").as("v"),
        pmod(col("o_orderkey"), lit(32)).as("pt"))
      val right = big
        .withColumn("v",
          // modulus chosen so the (pt = 3, id % m = 0) intersection is
          // non-empty (id % 10 = 0 never meets pt 3 under mod-32 keys)
          when(col("pt") === 3 && col("id") % 3 === 0,
            col("v") + 1.0).otherwise(col("v")))
        .where(!(col("pt") === 7 && col("id") % 5 === 0))
      val root = java.nio.file.Files
        .createTempDirectory("graft_snapprobe").toString
      graft.diff.SnapshotDiff.writePartitionedWithManifest(
        big, s"$root/left", Seq("pt"))
      graft.diff.SnapshotDiff.writePartitionedWithManifest(
        right, s"$root/right", Seq("pt"))
      val (chg, tDetect) = time {
        graft.diff.SnapshotDiff.changedPartitions(
          graft.diff.SnapshotDiff.partitionManifestSummary(
            spark, s"$root/left", Seq("pt")),
          graft.diff.SnapshotDiff.partitionManifestSummary(
            spark, s"$root/right", Seq("pt")),
          Seq("pt")).where(col("status") =!= "unchanged").count()
      }
      require(chg == 2, s"expected exactly 2 changed partitions, got $chg")
      val (incRows, tInc) = time {
        graft.diff.SnapshotDiff.diffSnapshots(spark, s"$root/left",
          s"$root/right", Seq("id"), Seq("pt"))
          .where(col("diff") =!= "N").count()
      }
      val (fullRows, tFull) = time {
        graft.diff.Diff.of(spark.read.parquet(s"$root/left"),
          spark.read.parquet(s"$root/right"), "id")
          .where(col("diff") =!= "N").count()
      }
      require(incRows == fullRows,
        s"incremental diff lost rows: $incRows vs full $fullRows")
      println(String.format(java.util.Locale.ROOT,
        """{"probe":"snapshot_diff","n":%d,"rows":%d,"sec":%.2f,"detect_sec":%.2f,"full_sec":%.2f}""",
        Int.box(n), Long.box(incRows), Double.box(tInc),
        Double.box(tDetect), Double.box(tFull)))
    }

    // --- WARC ingest: shard-count scaling with BOUNDED per-task memory --
    // binaryFile holds one whole decompressed shard per task (WARC is not
    // line-splittable; real WET shards are 100-200 MB gz by design), so the
    // scale claim is: runtime grows with shard COUNT while per-task memory
    // stays one-shard-bounded. Amplification = N identical ~1 MB gz shards;
    // linear sec/N and a fixed per-shard record count certify the shape.
    // The gzip-bomb cap is exercised at probe scale too: a capped re-read
    // of the same shards must return strictly fewer records, not OOM.
    if (enabled("warc_ingest")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")).limit(2000).collect()
      val sb = new java.io.ByteArrayOutputStream()
      docs.foreach { r =>
        val body = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        sb.write((s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
          s"WARC-Target-URI: http://ex.com/${r.getLong(0)}\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n")
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        sb.write(body)
        sb.write("\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      }
      val gzBos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(gzBos)
      gz.write(sb.toByteArray); gz.close()
      val shard = gzBos.toByteArray
      val dir = java.nio.file.Files.createTempDirectory("graft_warcprobe")
      (0 until n).foreach { i =>
        java.nio.file.Files.write(dir.resolve(s"s$i.warc.wet.gz"), shard)
      }
      val (recs, tWarc) = time {
        graft.sources.Warc.readWarc(spark, dir.toString).count()
      }
      require(recs == docs.length.toLong * n,
        s"warc_ingest: expected ${docs.length.toLong * n} records, got $recs")
      // capped re-read: decompression stops at ~1/4 shard, records drop,
      // nothing throws — the truncated-tail guard at amplified scale
      val capped = spark.read.format("binaryFile").load(dir.toString)
        .select(explode(graft.sources.Warc.warcRecords(
          col("content"), sb.size().toLong / 4)).as("r"))
        .count()
      require(capped > 0 && capped < recs,
        s"warc_ingest cap: expected 0 < capped < $recs, got $capped")
      report("warc_ingest", recs, tWarc)
    }

    // --- warc_curation: the P131 composition at n x shards — ingest ->
    // repair -> canonicalize -> curate. Each shard carries its own id
    // range and a per-shard text perturbation, so the exact-dedup stage
    // cannot collapse the replicas and the near-dup stage verifies real
    // n x candidate volume. The claim: the chain scales with shard count;
    // the narrow stages fuse with the scan, the two dedups stay keyed. ---
    if (enabled("warc_curation")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")).limit(500).collect()
      val dir = java.nio.file.Files.createTempDirectory("graft_warccur")
      (0 until n).foreach { i =>
        val gzBos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(gzBos)
        docs.foreach { r =>
          val body = (r.getString(1) + s" rep$i marker")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          gz.write((s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
            s"WARC-Target-URI: http://ex.com/${r.getLong(0) + i * 1000000L}\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n")
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          gz.write(body)
          gz.write("\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        }
        gz.close()
        java.nio.file.Files.write(dir.resolve(s"s$i.warc.wet.gz"),
          gzBos.toByteArray)
      }
      val (kept, tCur) = time {
        val repaired = graft.sources.Warc.readWarc(spark, dir.toString)
          .where(col("warc_type") === "conversion")
          .select(
            regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
            graft.text.TextFunctions.canonicalizeText(
              graft.functions.vectors.fix_mojibake(col("payload"))).as("text"))
        val h = UnpersistHandle()
        val (_, rep) = graft.pipeline.Curation.curate(
          repaired, col("doc_id"), col("text"),
          keepLangs = Set("en"), minTokens = 30, maxTokens = 110,
          minAvgTokenLen = 3.0, maxAvgTokenLen = 6.0,
          minStopwordRatio = 0.02, maxTopBigramFraction = 0.2,
          sampleRate = 1.0, unpersistHandle = h)
        val rows = rep.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        h.unpersist()
        require(rows("0_input") == docs.length.toLong * n,
          s"warc_curation probe: input ${rows("0_input")}")
        rows("4_neardup")
      }
      require(kept > 0, "warc_curation probe kept no rows")
      report("warc_curation", kept, tCur)
    }

    // --- SCD2 history build: n x the id universe, 4 vintages each ---------
    if (enabled("scd2_history")) {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_totalprice"))
      val snaps = amplify(orders, n)
        .select((col("o_orderkey") + col("__rep") * 100000000L).as("k"),
          col("o_totalprice").as("price"))
        .withColumn("vn", explode(sequence(lit(1), lit(4))))
        .where(!(col("vn").isin(2, 3) && col("k") % 7 === 0))
        .select(col("k"),
          when(col("vn") >= 3 && col("k") % 3 === 0, col("price") + 1.0)
            .otherwise(col("price")).as("price"),
          col("vn"))
      val (runs, tH) = time {
        graft.diff.History.fromSnapshots(snaps, "vn", Seq("k")).count()
      }
      report("scd2_history", runs, tH)
    }

    // --- SCD2 history, VERSIONS axis: fixed id universe, 4*n vintages per
    // id — deepens the per-id window the run grouping sorts over (the other
    // scale dimension from scd2_history's 25x ids x 4 vintages) -----------
    if (enabled("scd2_versions")) {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      val ids = orders.count()
      val snaps = orders
        .withColumn("vn", explode(sequence(lit(1), lit(4 * n))))
        // the attribute steps every 5 vintages, so runs grow with depth and
        // the run-grouping window does real merging work per id
        .select(col("k"),
          (col("price") + floor(col("vn") / 5) * 0.5).as("price"), col("vn"))
      val (runs, tV) = time {
        graft.diff.History.fromSnapshots(snaps, "vn", Seq("k")).count()
      }
      // exactness pin: contiguous vn 1..4n stepping every 5 vintages yields
      // floor(4n/5)+1 runs per id — any drop/dup in the deep stack breaks it
      require(runs == ids * (4L * n / 5 + 1),
        s"scd2_versions: expected ${ids * (4L * n / 5 + 1)} runs, got $runs")
      report("scd2_versions", runs, tV)
    }

    // --- record linkage: candidate volume bounded by the block structure --
    // a replica-distinct LEAD LETTER keeps soundex blocks within a replica
    // (cross-replica names never collide), so candidate pairs — and cost —
    // scale linearly in n instead of quadratically
    if (enabled("linkage")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      def names(df: org.apache.spark.sql.DataFrame) = df.select(
        (col("doc_id") + col("__rep") * 1000000L).as("id"),
        concat(expr("substr('abcdefghijklmnopqrstuvwxyz', CAST(__rep % 26 AS INT) + 1, 1)"),
          lit(" "), substring(col("text"), 1, 24)).as("name"))
      val base = amplify(docs, n)
      val left = names(base)
      val right = names(base.filter(col("doc_id") % 3 === 0))
        .select(col("id") + 500000000L as "id",
          concat(substring(col("name"), 1, 10),
            substring(col("name"), 12, 1000)).as("name")) // drop char 11
      val (pairs, tL) = time {
        graft.join.Linkage.linkRecords(left, right,
          col("id"), col("name"), col("id"), col("name"),
          minScoreFp = (0.90 * (1 << 20)).toLong,
          maxBlockPairs = 500L * 1000 * 1000).count()
      }
      require(pairs > 0, "linkage probe found no pairs — perturbation too strong")
      report("linkage", pairs, tL)
    }

    // --- funnel: n x events, users shifted per replica EXCEPT a hot slice
    // funneled onto user 0 — the min-aggregates must stay map-side combined
    // so the hot user reduces per partition instead of flooding one task --
    if (enabled("funnel")) {
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      val big = amplify(ev, n).select(
        when(col("event_id") % 20 === 0, lit(0L))
          .otherwise(col("user_id") + col("__rep") * 1000000L).as("u"),
        (graft.SparkEntry.eventTsUs(ev) + col("__rep")).as("t"),
        col("event_type").as("ty"))
      val (reached, tF) = time {
        graft.events.Funnel.funnelTimes(big, col("u"), col("t"), col("ty"),
          Seq("signup", "view", "click", "purchase"),
          windowUs = 2592000000000L).count()
      }
      require(reached > 0, "funnel probe reached no users")
      report("funnel", reached, tF)
    }

    // --- chat trim: n x conversations; windows partition per conversation,
    // so depth stays flat and cost scales with the corpus ------------------
    if (enabled("chat_trim")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val convs = amplify(docs, n).select(
        (col("doc_id") + col("__rep") * 1000000L).as("id"),
        concat(lit("system: be concise\nuser: "), substring(col("text"), 1, 60),
          lit("\nassistant: "), substring(col("text"), 61, 60),
          lit("\nuser: follow up\nassistant: done")).as("t"))
      val (turns, tC) = time {
        graft.text.Chat.truncateToBudget(convs, col("id"), col("t"), 24L).count()
      }
      report("chat_trim", turns, tC)
    }

    // --- deletion scrub: files touched scale with the doom list, not n ----
    if (enabled("deletion_scrub")) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_scrubprobe").toString + "/corpus"
      val rows = spark.range(100000L * n)
        .select(col("id"), (col("id") % 997).as("payload"))
      rows.repartition(32 * math.max(1, n / 2)).write.parquet(dir)
      // 50 doomed ids spread across the id space
      val doomed = spark.range(50).select((col("id") * (100000L * n / 50)).as("bad"))
      val (st, tS) = time {
        graft.privacy.Deletion.scrubParquetById(spark, dir, "id", doomed, col("bad"))
      }
      require(st.rowsDeleted == 50, s"scrub probe: deleted ${st.rowsDeleted}")
      // the point: rewritten files bounded by the doom list, not file count
      require(st.filesRewritten <= 50 && st.filesRewritten < st.filesTotal,
        s"scrub probe: ${st.filesRewritten}/${st.filesTotal} files rewritten")
      report("deletion_scrub", st.filesRewritten, tS)
    }

    // --- length bucketing: 3-phase plan over n x documents ----------------
    if (enabled("length_buckets")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("n_chars"))
      val big = amplify(docs, n)
        .select((col("doc_id") + col("__rep") * 10000000L).as("doc_id"),
          col("n_chars"))
      val (cnt, tB) = time {
        graft.sample.Sampling.lengthBucketBatches(
          big, col("doc_id"), col("n_chars"), batchSize = 64).count()
      }
      report("length_buckets", cnt, tB)
    }

    // --- conversation near-dup: n x transcripts built from the interleaved
    // documents (same replica-token trick as minhash_pairs, so duplicate
    // structure scales linearly); the content-only parse is one narrow
    // column, the rest is the audited banded-join machinery --------------
    if (enabled("chat_neardup")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val convs = amplify(docs, n)
        .select((col("doc_id") + col("__rep") * 1000000L).as("id"),
          concat(lit("system: be concise\nuser: "),
            regexp_replace(substring(col("text"), 1, 200),
              lit("(\\w+ \\w+ \\w+)"),
              concat(lit("$1 r"), col("__rep").cast("string"))),
            lit("\nassistant: "),
            regexp_replace(substring(col("text"), 201, 200),
              lit("(\\w+ \\w+ \\w+)"),
              concat(lit("$1 r"), col("__rep").cast("string")))).as("t"))
      val (cnt, tC) = time {
        graft.text.Chat.conversationNearDupPairs(convs, col("id"), col("t"), threshold = 0.8)
          .count()
      }
      report("chat_neardup", cnt, tC)
    }

    // --- byte-BPE decode: the exact-inverse detok over n x the corpus —
    // one narrow kernel pass each way, and the round-trip equality is
    // require-asserted in-plan (count of mismatches must be zero) ---------
    if (enabled("byte_bpe_decode")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val big = amplify(docs, n)
        .select(concat(col("text"), lit(" r"),
          col("__rep").cast("string")).as("text"))
      val model = graft.text.ByteBpe.train(
        spark.read.parquet(s"$sfDir/documents.parquet"), col("text"),
        numMerges = 200)
      val (bad, tD) = time {
        big.select(col("text"),
          graft.text.ByteBpe.decode(
            graft.text.ByteBpe.encode(col("text"), model)).as("rt"))
          .filter(!(col("rt") <=> col("text"))).count()
      }
      require(bad == 0, s"byte-BPE round-trip broke on $bad rows at n=$n")
      report("byte_bpe_decode", bad, tD)
    }

    // --- shard writer: n x the corpus through encode-ids + pack; the
    // full-sequence invariant is require-asserted (every seq = capacity
    // ids except the last), so boundary arithmetic is re-proven at n ----
    if (enabled("pack_ids") || enabled("pack_append") || enabled("bin_pack")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val model = graft.text.ByteBpe.train(docs, col("text"), numMerges = 80)
      val sep = graft.text.ByteBpe.vocabSize(model)

      // --- no-split bin packing: n x docs through tokenCount + the
      // histogram solve + interval-join assignment; validity (per-bin sum
      // <= capacity) and cross-partitioning determinism require-asserted.
      // The histogram stays <= capacity rows at ANY n — the probe's time
      // growth is the count pass + row number only --------------------
      if (enabled("bin_pack")) {
        val big = amplify(docs, n)
          .select((col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
            concat(col("text"), lit(" r"), col("__rep").cast("string")).as("text"))
        val nTok = graft.text.ByteBpe.tokenCount(
          coalesce(col("text"), lit("")), model)
        val (bins, tB) = time {
          val assigned = graft.text.BinPack.packBins(big, nTok,
            Seq(col("doc_id")), capacity = 2048)
          val over = assigned.groupBy(col("bin_id"))
            .agg(sum(col("n_tokens")).as("s"))
            .filter(col("s") > 2048).count()
          require(over == 0, s"bin_pack probe: $over bins over capacity")
          assigned.agg(countDistinct(col("bin_id"))).head().getLong(0)
        }
        report("bin_pack", bins, tB)
        val (detOk, tDet) = time {
          def assignHash(parts: Int): Long =
            graft.text.BinPack.packBins(docs.repartition(parts), nTok,
              Seq(col("doc_id")), capacity = 2048)
              .agg(bit_xor(xxhash64(col("doc_id"), col("bin_id"), col("slot"))))
              .head().getLong(0)
          val h7 = assignHash(7)
          val h64 = assignHash(64)
          require(h7 == h64,
            s"bin_pack determinism broke: $h7 != $h64 across partitionings")
          1L
        }
        reportAlways("bin_pack_det", detOk, tDet)
      }
      if (enabled("pack_ids")) {
      val big = amplify(docs, n)
        .select((col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
          concat(col("text"), lit(" r"), col("__rep").cast("string")).as("text"))
      val (seqs, tP) = time {
        val packed = graft.text.Packing.packTokenIds(big,
          graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model),
          Seq(col("doc_id")), capacity = 2048, sepId = sep)
        val bad = packed.filter(size(col("ids")) =!= 2048).count()
        require(bad <= 1, s"pack probe: $bad non-full sequences (max 1 allowed)")
        packed.count()
      }
      report("pack_ids", seqs, tP)
      }

      // append cost must track the BATCH, not the artifact: save a 1x and
      // an n-times artifact (many files via a small target so the tail
      // file stays one sized file, as at real scale), then append the
      // SAME fixed batch to each — the incremental manifest + tail-only
      // rewrite keep the two times comparable; a full-artifact re-read
      // anywhere would make the n-times append ~n-times slower
      if (enabled("pack_append")) {
        val batch = docs
          .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
          .filter(col("doc_id") % 50 === 0)
        val batchRows = batch.count()
        def appendCost(mult: Int): Double = {
          val dir = java.nio.file.Files
            .createTempDirectory("probe-shards").toString + "/s"
          val base =
            if (mult == 1) docs
            else amplify(docs, mult)
              .select((col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
                concat(col("text"), lit(" r"), col("__rep").cast("string"))
                  .as("text"))
          graft.text.Shards.saveShards(base,
            graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model),
            Seq(col("doc_id")), capacity = 2048, sepId = sep, dir = dir,
            targetFileBytes = 1L * 1024 * 1024)
          val (_, t) = time {
            graft.text.Shards.appendShards(batch,
              graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model),
              Seq(col("doc_id")), dir)
          }
          t
        }
        val t1 = appendCost(1)
        val tn = appendCost(n)
        reportAlways("pack_append_1x", batchRows, t1)
        reportAlways("pack_append_nx", batchRows, tn)
      }

      // cross-partitioning shard determinism: the artifact's whole value
      // is byte-identical shards from ANY input partitioning — pack the
      // same corpus repartitioned 7 ways vs 64 ways and require the
      // canonical (seq_id, ids, n_docs) content hash identical
      // (order-insensitive bit_xor of per-row xxhash64 — the P92
      // fingerprint construction). require-asserted, not just reported.
      if (enabled("pack_ids")) {
      val (detOk, tDet) = time {
        def packHash(parts: Int): Long =
          graft.text.Packing.packTokenIds(docs.repartition(parts),
            graft.text.ByteBpe.encodeIds(coalesce(col("text"), lit("")), model),
            Seq(col("doc_id")), capacity = 2048, sepId = sep)
            .agg(bit_xor(xxhash64(col("seq_id"), col("ids"), col("n_docs"))))
            .head().getLong(0)
        val h7 = packHash(7)
        val h64 = packHash(64)
        require(h7 == h64,
          s"pack determinism broke: repartition(7) hash $h7 != repartition(64) hash $h64")
        1L
      }
      reportAlways("pack_ids_det", detOk, tDet)
      }
    }

    // --- retention tiers: n x events with shifted users (distinct users
    // scale with n) — the HLL tier's one-pass sketch aggregate vs the exact
    // two-phase distinct; both lines print so SCALE.md can quote the gap --
    if (enabled("retention_hll")) {
      val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
      val tus = SparkEntry.eventTsUs(evRaw)
      val big = amplify(evRaw.select(col("user_id"), tus.as("t")), n)
        .select((col("user_id") + col("__rep") * 1000000L).as("u"), col("t"))
      val (exactCells, tExact) = time {
        graft.events.Funnel.retentionCohorts(big, col("u"), col("t"),
          periodUs = 604800000000L).count()
      }
      val (approxCells, tApprox) = time {
        graft.events.Funnel.retentionCohortsApprox(big, col("u"), col("t"),
          periodUs = 604800000000L).count()
      }
      require(exactCells == approxCells,
        s"retention tiers disagree on cell count: $exactCells vs $approxCells")
      reportAlways("retention_exact", exactCells, tExact)
      reportAlways("retention_hll", approxCells, tApprox)
    }

    // --- watermark plan: prefix-max over n x events ------------------------
    if (enabled("watermark_plan")) {
      val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
      val tus = SparkEntry.eventTsUs(evRaw)
      val ev = amplify(evRaw.select(col("event_id"), tus.as("tus")), n)
        .select((col("event_id") + col("__rep") * 100000000L).as("event_id"),
          timestamp_micros(col("tus") - (col("event_id") % 10) * 180000000L).as("ts2"))
      val (cnt, tW) = time {
        graft.events.Lateness.watermarkPlan(ev, col("event_id"), col("ts2"),
          Seq(0L, 300L, 900L))
          .agg(sum(col("events"))).head().getLong(0)
      }
      report("watermark_plan", cnt, tW)
    }

    spark.stop()
  }
}
