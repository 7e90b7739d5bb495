package graft

import graft.streaming.StreamingDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

class StreamingDedupSuite extends AnyFunSuite with SparkTest {

  import spark.implicits._

  test("streaming dropDuplicateTexts keeps first normalized text across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val deduped = StreamingDedup.dropDuplicateTexts(
      input.toDF().toDF("id", "text"), col("text"))

    val query = deduped.writeStream.format("memory")
      .queryName("sd_out").outputMode("append").start()
    try {
      input.addData((1L, "alpha beta"), (2L, "Alpha  Beta"), (3L, "gamma"))
      query.processAllAvailable()
      input.addData((4L, "alpha beta\t"), (5L, "delta"))
      query.processAllAvailable()
      val ids = spark.table("sd_out").select("id").as[Long].collect().toSet
      // 2 (same normalized text as 1, same batch) and 4 (later batch) dropped
      assert(ids === Set(1L, 3L, 5L))
    } finally query.stop()
  }

  test("streaming decontamination filters per batch, identical to the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val block = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today again"), // contaminated
      (2L, "a completely clean document about gardening and soil quality here"),
      (3L, "another clean one regarding telescopes and the night sky above us"),
      (4L, "prefix words then the quick brown fox jumps over the lazy dog"), // contaminated
      (5L, null.asInstanceOf[String])) // no shingles -> kept

    val input = MemoryStream[Long]
    val lookup = docs.toDF("id", "text")
    val stream = graft.dedup.Dedup.decontaminate(
      input.toDF().toDF("id").join(lookup, "id"), col("text"), block, col("text"),
      shingleSize = 5, minOverlap = 1)
    val query = stream.writeStream.format("memory")
      .queryName("sdc_out").outputMode("append").start()
    try {
      input.addData(1L, 2L, 3L)
      query.processAllAvailable()
      input.addData(4L, 5L)
      query.processAllAvailable()
      val ids = spark.table("sdc_out").select("id").as[Long].collect().toSet
      assert(ids === Set(2L, 3L, 5L))
      // identical to the same operator over the same rows as a batch frame
      val batch = graft.dedup.Dedup.decontaminate(
        lookup, col("text"), block, col("text"),
        shingleSize = 5, minOverlap = 1).select("id").as[Long].collect().toSet
      assert(batch === ids)
    } finally query.stop()
  }

  test("streaming windowed quality report aggregates exactly across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val report = graft.streaming.StreamingQuality.qualityByWindow(
      input.toDF().toDF("id", "ts", "source", "text"), col("text"), "ts",
      "10 minutes", "5 minutes", col("source"))

    val query = report.writeStream.format("memory")
      .queryName("sq_out").outputMode("complete").start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 10:01:00")
      val t1 = Timestamp.valueOf("2026-01-01 10:02:00")
      // split one window's docs across two batches: totals must match a
      // single-batch computation exactly (ratio-of-sums semantics)
      input.addData((1L, t0, "web", "the cat sat"), (2L, t0, "web", "a a a a"))
      query.processAllAvailable()
      input.addData((3L, t1, "web", "dog runs fast"), (4L, t1, "books", "the end"))
      query.processAllAvailable()
      val rows = spark.table("sq_out")
        .select("source", "n_docs", "total_tokens", "stopword_ratio", "rep_bigram_fraction")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      // web: 10 tokens, 5 stopwords ('the' + the four 'a's); bigram totals
      // 2 + 3 + 2 = 7, per-doc top counts 1 + 3 + 1 = 5 (ratio of sums)
      assert(rows("web") === ((3L, 10L, 5.0 / 10.0, 5.0 / 7.0)))
      // books: 2 tokens, 1 stopword; 1 bigram
      assert(rows("books") === ((1L, 2L, 0.5, 1.0)))
    } finally query.stop()
  }

  test("streaming sessionBounds merges events into gap-separated sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val sessions = graft.streaming.StreamingSessionize.sessionBounds(
      input.toDF().toDF("user", "ts"), "ts", "10 minutes", "0 seconds", col("user"))

    val query = sessions.writeStream.format("memory")
      .queryName("ss_out").outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then a 30-min gap
      // (second session); user 2: one event
      input.addData(
        (1L, Timestamp.valueOf("2026-01-01 10:00:00")),
        (1L, Timestamp.valueOf("2026-01-01 10:05:00")),
        (2L, Timestamp.valueOf("2026-01-01 10:00:00")))
      query.processAllAvailable()
      input.addData((1L, Timestamp.valueOf("2026-01-01 10:40:00")))
      query.processAllAvailable()
      // advance the watermark far enough to close and emit every session
      input.addData((9L, Timestamp.valueOf("2026-01-01 12:00:00")))
      query.processAllAvailable()
      val rows = spark.table("ss_out")
        .select("user", "n_events", "first_event", "last_event")
        .as[(Long, Long, Timestamp, Timestamp)].collect().toSet
      assert(rows.contains((1L, 2L,
        Timestamp.valueOf("2026-01-01 10:00:00"), Timestamp.valueOf("2026-01-01 10:05:00"))))
      assert(rows.contains((1L, 1L,
        Timestamp.valueOf("2026-01-01 10:40:00"), Timestamp.valueOf("2026-01-01 10:40:00"))))
      assert(rows.contains((2L, 1L,
        Timestamp.valueOf("2026-01-01 10:00:00"), Timestamp.valueOf("2026-01-01 10:00:00"))))
    } finally query.stop()
  }

  test("hash sampling and PII redaction run unchanged in streaming pipelines") {
    // both are stateless narrow ops, so the batch operators apply verbatim to
    // a stream — and the kept set matches the batch decision for the same keys
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val curated = graft.sample.Sampling.hashSample(
      input.toDF().toDF("id", "text"), col("id"), 0.5)
      .withColumn("clean", graft.text.Redact.redactPii(col("text")))
    val query = curated.writeStream.format("memory")
      .queryName("cur_out").outputMode("append").start()
    try {
      input.addData((0L until 100L).map(i => (i, s"doc $i mail u$i@x.io")): _*)
      query.processAllAvailable()
      val rows = spark.table("cur_out").select("id", "clean")
        .as[(Long, String)].collect()
      val batchKept = graft.sample.Sampling.hashSample(
        spark.range(0, 100).toDF("id"), col("id"), 0.5).as[Long].collect().toSet
      assert(rows.map(_._1).toSet == batchKept)
      assert(rows.nonEmpty && rows.forall(_._2.contains("[REDACTED]")))
      assert(rows.forall(r => !r._2.contains("@")))
    } finally query.stop()
  }

  test("DSIR scoring and vocab coverage run unchanged in streaming pipelines") {
    // both are stateless narrow kernel passes (weights / vocab are broadcast
    // at plan build), so the batch operators apply verbatim to a stream and
    // every per-doc number matches the batch computation exactly
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((1L, "alpha beta gamma"), (2L, "zeta eta theta"),
      (3L, "alpha alpha"), (4L, ""))
    val batchDf = docs.toDF("id", "text")
    val target = Seq((0L, "alpha beta gamma alpha")).toDF("id", "text")
    val w = graft.text.Dsir.fitWeights(target, batchDf, col("text"), col("text"))
    val vocab = Array("alpha", "beta")

    val input = MemoryStream[(Long, String)]
    val streamDf = input.toDF().toDF("id", "text")
    val qScore = graft.text.Dsir.score(streamDf, col("text"), w)
      .select(col("id"), col("dsir_score"))
      .writeStream.format("memory").queryName("dsv_score")
      .outputMode("append").start()
    val qCov = graft.text.Vocab.coverageReport(streamDf, col("id"), col("text"), vocab)
      .writeStream.format("memory").queryName("dsv_cov")
      .outputMode("append").start()
    try {
      input.addData(docs.take(2): _*)
      qScore.processAllAvailable(); qCov.processAllAvailable()
      input.addData(docs.drop(2): _*)
      qScore.processAllAvailable(); qCov.processAllAvailable()
      val gotScore = spark.table("dsv_score")
        .as[(Long, Long)].collect().toMap
      val expectScore = graft.text.Dsir.score(batchDf, col("text"), w)
        .select(col("id"), col("dsir_score")).as[(Long, Long)].collect().toMap
      assert(gotScore == expectScore && gotScore.size == 4)
      val gotCov = spark.table("dsv_cov")
        .select("id", "n_tokens", "n_in_vocab")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      val expectCov = graft.text.Vocab.coverageReport(
        batchDf, col("id"), col("text"), vocab)
        .select("id", "n_tokens", "n_in_vocab")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      assert(gotCov == expectCov && gotCov.size == 4)
    } finally { qScore.stop(); qCov.stop() }
  }

  test("streaming dedup within watermark drops near-time duplicates and emits rows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val deduped = StreamingDedup.dropDuplicateTextsWithinWatermark(
      input.toDF().toDF("id", "ts", "text"), col("text"), "ts", "10 minutes")

    val query = deduped.writeStream.format("memory")
      .queryName("sd_wm_out").outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
      val t1 = Timestamp.valueOf("2026-01-01 10:01:00")
      input.addData((1L, t0, "doc one"), (2L, t1, "Doc  One"), (3L, t1, "doc two"))
      query.processAllAvailable()
      val ids = spark.table("sd_wm_out").select("id").as[Long].collect().toSet
      assert(ids === Set(1L, 3L))
    } finally query.stop()
  }

  test("streaming minhash near-dup flags collisions against the bucket's first doc") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val candidates = graft.streaming.StreamingNearDup.minHashCandidates(
      input.toDF().toDF("id", "ts", "text"), col("id"), col("text"),
      eventTimeColumn = "ts", delayThreshold = "10 minutes")

    val query = candidates.writeStream.format("memory")
      .queryName("snd_out").outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
      val t1 = Timestamp.valueOf("2026-01-01 10:01:00")
      val prose = "the quick brown fox jumps over the lazy dog near the river bank"
      val other = "completely different subject matter about spark physical planning"
      // batch 1: doc 1 and its same-batch duplicate doc 5, plus unrelated doc 2
      input.addData((1L, t0, prose), (5L, t1, prose), (2L, t0, other))
      query.processAllAvailable()
      // batch 2: another duplicate of doc 1, and a fresh unrelated doc
      input.addData((7L, t1, prose), (8L, t1, "yet another unrelated piece of text entirely"))
      query.processAllAvailable()
      val pairs = spark.table("snd_out").select("docId", "firstDocId")
        .as[(Long, Long)].collect().toSet
      // within-batch order is (ts, docId): doc 1 is first, 5 and 7 collide with it
      assert(pairs === Set((5L, 1L), (7L, 1L)))
      // identical docs collide in EVERY band (16 bands x 2 docs)
      val rows = spark.table("snd_out").as[graft.streaming.NearDupCandidate].collect()
      assert(rows.count(_.docId == 5L) === 16)
    } finally query.stop()
  }

  test("corpus-seeded streaming near-dup collides against the corpus owner from batch one") {
    implicit val sqlCtx = spark.sqlContext
    val prose = "the quick brown fox jumps over the lazy dog near the river bank"
    val fresh = "an entirely fresh streaming document about watermark state eviction"
    // the "already-curated corpus": doc 10 carries the prose, doc 11 is noise
    val corpus = Seq(
      (10L, prose),
      (11L, "reference corpus noise row about bucketed joins and skew salting"))
      .toDF("doc_id", "text")
    val seed = graft.streaming.StreamingNearDup.corpusBucketFirst(
      corpus, col("doc_id"), col("text"))

    val input = MemoryStream[(Long, Timestamp, String)]
    val candidates = graft.streaming.StreamingNearDup.minHashCandidatesSeeded(
      input.toDF().toDF("id", "ts", "text"), col("id"), col("text"),
      eventTimeColumn = "ts", delayThreshold = "10 minutes", seed = seed)

    val query = candidates.writeStream.format("memory")
      .queryName("scnd_out").outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
      val t1 = Timestamp.valueOf("2026-01-01 10:01:00")
      // FIRST micro-batch: a copy of corpus doc 10 must already collide —
      // the corpus was never replayed, only its bucket-first table
      input.addData((100L, t0, prose), (101L, t0, fresh))
      query.processAllAvailable()
      // second: a dup of the STREAM doc 101 -> flagged against 101 (stream-
      // created bucket), and another corpus-prose copy -> still against 10
      input.addData((102L, t1, fresh), (103L, t1, prose))
      query.processAllAvailable()
      val pairs = spark.table("scnd_out").select("docId", "firstDocId")
        .as[(Long, Long)].collect().toSet
      assert(pairs === Set((100L, 10L), (103L, 10L), (102L, 101L)))
      // the corpus owner stays first: 100 never becomes a bucket owner for
      // the prose buckets, so 103 collides with 10, not 100
      assert(!pairs.contains((103L, 100L)))
    } finally query.stop()
  }

  test("streaming domain cap admits first k per registrable domain across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val capped = graft.streaming.StreamingDomainCap.capPerDomain(
      input.toDF().toDF("id", "ts", "url"), col("id"), col("url"),
      maxPerDomain = 2, eventTimeColumn = "ts", delayThreshold = "10 minutes")

    val query = capped.writeStream.format("memory")
      .queryName("sdc_out").outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
      val t1 = Timestamp.valueOf("2026-01-01 10:01:00")
      // batch 1: three example.com URLs (one over budget), one other.org
      input.addData(
        (1L, t0, "https://example.com/a"),
        (2L, t0, "https://www.example.com/b?x=1"),
        (3L, t1, "https://example.com/c"),
        (4L, t0, "https://other.org/page"))
      query.processAllAvailable()
      // batch 2: example.com budget already spent; other.org has one left
      input.addData(
        (5L, t1, "https://example.com/d"),
        (6L, t1, "https://other.org/second"),
        (7L, t1, "https://other.org/third"))
      query.processAllAvailable()
      val rows = spark.table("sdc_out")
        .select("docId", "domain", "rank")
        .as[(Long, String, Long)].collect().toSet
      // within batch 1, example.com order is (ts, id): 1, 2 admitted, 3 dropped
      assert(rows === Set(
        (1L, "example.com", 1L), (2L, "example.com", 2L),
        (4L, "other.org", 1L), (6L, "other.org", 2L)))
    } finally query.stop()
  }

  test("streaming containment flags collisions against the print's first doc") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val candidates = graft.streaming.StreamingContainment.winnowCandidates(
      input.toDF().toDF("id", "ts", "text"), col("id"), col("text"),
      eventTimeColumn = "ts", delayThreshold = "10 minutes")

    val query = candidates.writeStream.format("memory")
      .queryName("sc_out").outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
      val t1 = Timestamp.valueOf("2026-01-01 10:01:00")
      val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
        "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
      val excerpt = base.split(" ").slice(4, 14).mkString(" ") // 10-token run
      val other = "completely different words about catalyst physical planning"
      // batch 1: the source doc and an unrelated one
      input.addData((1L, t0, base), (2L, t0, other))
      query.processAllAvailable()
      // batch 2: a later doc carrying the excerpt -> collides with doc 1
      input.addData((9L, t1, s"unrelated filler words go here $excerpt"))
      query.processAllAvailable()
      val pairs = spark.table("sc_out").select("docId", "firstDocId")
        .as[(Long, Long)].collect().toSet
      // the 10-token shared run >= w+n-1 = 6 guarantees a shared selected
      // print whose first owner is doc 1 (print-first semantics: the state
      // keeps only each print's FIRST document, 16 bytes per print)
      assert(pairs.contains((9L, 1L)), s"pairs: $pairs")
      assert(!pairs.exists(_._2 == 2L)) // nothing collides with the unrelated doc
    } finally query.stop()
  }

  test("streaming curation composes the stateless stages + watermarked dedup") {
    implicit val sqlCtx = spark.sqlContext
    val en = "the cat and the dog walked to the park and it was a fine day " +
      "for all of them to play in the sun with friends"
    val block = Seq("benchmark secret answer token stream").toDF("text")
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val t1 = Timestamp.valueOf("2026-01-01 10:01:00")

    val input = MemoryStream[(Long, Timestamp, String)]
    val curated = graft.streaming.StreamingCurate.curateStream(
      input.toDF().toDF("id", "ts", "text"), col("id"), col("text"),
      eventTimeColumn = "ts", delayThreshold = "10 minutes",
      keepLangs = Set("en"),
      minTokens = 5, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.01, maxTopBigramFraction = 0.9,
      blocklist = Some((block, col("text"))),
      observationName = Some("curate_obs"))

    val query = curated.writeStream.format("memory")
      .queryName("sc_out").outputMode("append").start()
    try {
      input.addData(
        (1L, t0, en + " one"),
        (2L, t1, en + " one"),   // exact duplicate, same batch -> dropped
        (4L, t0, "le chat et le chien une promenade dans les rues pour une belle " +
          "journee avec des amis et que la vie est bonne pour tous les gens"), // non-en
        (5L, t0, "it is x y"))   // too short
      query.processAllAvailable()
      input.addData(
        (6L, t1, en + " benchmark secret answer token stream here today"), // contaminated
        (7L, t1, en + " one"),   // duplicate across batches, within watermark
        (8L, t1, "the second fine day was even better for them and all of it"))
      query.processAllAvailable()
      val ids = spark.table("sc_out").select("id").as[Long].collect().toSet
      assert(ids === Set(1L, 8L))
      // observed attrition for the last micro-batch (docs 6, 7, 8): all
      // pass langid/quality/classifier; doc 6 dies at decontamination; the
      // stateful dedup of doc 7 happens past the observation point
      val obs = query.lastProgress.observedMetrics.get("curate_obs")
      assert(obs != null, "observed metrics missing")
      assert(obs.getAs[Long]("input_rows") == 3L)
      assert(obs.getAs[Long]("after_langid") == 3L)
      assert(obs.getAs[Long]("after_quality") == 3L)
      assert(obs.getAs[Long]("after_classifier") == 3L)
      assert(obs.getAs[Long]("after_decontaminate") == 2L)
      assert(obs.getAs[Long]("after_sample") == 2L)
      // a batch frame is rejected with a pointer at the batch pass
      val err = intercept[IllegalArgumentException] {
        graft.streaming.StreamingCurate.curateStream(
          Seq((1L, t0, "x")).toDF("id", "ts", "text"), col("id"), col("text"),
          "ts", "10 minutes")
      }
      assert(err.getMessage.contains("Curation.curate"))
    } finally query.stop()
  }

  test("streaming embedding near-dup flags colinear pairs with exact in-stream cosine") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(3)
    def vec(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(16)(r.nextGaussian().toFloat)
    }
    val base = vec(1)
    val doubled = base.map(_ * 2.0f) // exactly colinear: cosine 1.0
    val other = vec(2)
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val t1 = Timestamp.valueOf("2026-01-01 10:01:00")
    val input = MemoryStream[(Long, Timestamp, Seq[Float])]
    val cands = graft.streaming.StreamingEmbeddingNearDup.embeddingCandidates(
      input.toDF().toDF("id", "ts", "vec"), col("id"), col("vec"),
      eventTimeColumn = "ts", delayThreshold = "10 minutes",
      dim = 16, threshold = 0.9, bands = 8, bits = 4)
    val query = cands.writeStream.format("memory")
      .queryName("send_out").outputMode("append").start()
    try {
      input.addData((1L, t0, base), (2L, t0, other))
      query.processAllAvailable()
      // cross-batch: the colinear copy arrives later and must flag against 1
      input.addData((3L, t1, doubled))
      query.processAllAvailable()
      val rows = spark.table("send_out")
        .select("docId", "firstDocId", "cosine")
        .as[(Long, Long, Double)].collect()
      val pairs = rows.map(r => (r._1, r._2)).distinct
      assert(pairs.contains((3L, 1L)), rows.mkString(", "))
      rows.filter(r => r._1 == 3L && r._2 == 1L)
        .foreach(r => assert(math.abs(r._3 - 1.0) < 1e-9))
      // sign-invariant LSH puts the colinear pair in EVERY band bucket —
      // same bucket identity as the batch operator's
      assert(rows.count(r => r._1 == 3L && r._2 == 1L) == 8)
      // the unrelated vector never clears the 0.9 threshold
      assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    } finally query.stop()
  }

  test("streaming curation classifier stage drops what the batch stage drops") {
    implicit val sqlCtx = spark.sqlContext
    val en = "the cat and the dog walked to the park and it was a fine day " +
      "for all of them to play in the sun with friends"
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val input = MemoryStream[(Long, Timestamp, String)]
    // all-(-1) weights with threshold 1 reject every non-empty document —
    // the same exact-kernel decision Curation.curate's 2b stage makes
    val curated = graft.streaming.StreamingCurate.curateStream(
      input.toDF().toDF("id", "ts", "text"), col("id"), col("text"),
      eventTimeColumn = "ts", delayThreshold = "10 minutes",
      keepLangs = Set.empty,
      minTokens = 1, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.0, maxTopBigramFraction = 1.0,
      classifierWeights = Some(Array.fill(256)(-1)), classifierThreshold = 1L)
    val query = curated.writeStream.format("memory")
      .queryName("sc_cls_out").outputMode("append").start()
    try {
      input.addData((1L, t0, en), (2L, t0, en + " two"))
      query.processAllAvailable()
      assert(spark.table("sc_cls_out").count() === 0L)
    } finally query.stop()
  }

  test("observeChecks reports per-batch contract metrics matching the batch rules") {
    implicit val sqlCtx = spark.sqlContext
    import graft.agg.Checks
    import graft.agg.Checks.Check._
    val input = MemoryStream[(Long, String)]
    val rules = Seq(
      NotNull("s", maxNullFraction = 0.5),
      MatchesRegex("s", "^ok$", 0.5),
      MinRows(2))
    val observed = Checks.observeChecks(
      input.toDF().toDF("id", "s"), "contract", rules)
    val query = observed.writeStream.format("memory")
      .queryName("chk_out").outputMode("append").start()
    try {
      input.addData((1L, "ok"), (2L, "ok"), (3L, "bad"), (4L, "ok"))
      query.processAllAvailable()
      val m = query.lastProgress.observedMetrics.get("contract")
      // not_null: 0 nulls -> 0.0 pass; regex: 3/4 -> pass; min_rows: 4 -> pass
      assert(m.getAs[Double]("rule_0_metric") == 0.0 && m.getAs[Boolean]("rule_0_pass"))
      assert(m.getAs[Double]("rule_1_metric") == 0.75 && m.getAs[Boolean]("rule_1_pass"))
      assert(m.getAs[Double]("rule_2_metric") == 4.0 && m.getAs[Boolean]("rule_2_pass"))
      // the same rows through the batch evaluator agree metric-for-metric
      val batch = Checks.run(
        Seq((1L, "ok"), (2L, "ok"), (3L, "bad"), (4L, "ok")).toDF("id", "s"), rules)
        .select("metric", "pass").as[(Double, Boolean)].collect().toSeq
      assert(batch == Seq((0.0, true), (0.75, true), (4.0, true)))
      // Unique is rejected with a clear message
      val err = intercept[IllegalArgumentException] {
        Checks.observeChecks(input.toDF().toDF("id", "s"), "x", Seq(Unique("id")))
      }
      assert(err.getMessage.contains("Unique"))
    } finally query.stop()
  }

  test("streaming curation DSIR stage matches the batch per-doc decision") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta"), (2L, "zeta eta theta zeta eta"),
      (3L, "alpha gamma beta alpha"), (4L, "eta theta zeta theta"))
    val target = Seq((0L, "alpha beta gamma")).toDF("id", "text")
    val batchDf = docs.toDF("id", "text")
    val w = graft.text.Dsir.fitWeights(target, batchDf, col("text"), col("text"))
    // threshold at the midpoint of the batch score spread so the gate
    // splits the corpus — target-like docs above, off-target docs below
    val scores = graft.text.Dsir.score(batchDf, col("text"), w)
      .select("id", "dsir_score").as[(Long, Long)].collect().toMap
    val thr = (scores.values.min + scores.values.max) / 2
    val expectedKept = scores.filter(_._2 >= thr).keySet
    assert(expectedKept.nonEmpty && expectedKept.size < docs.size) // both sides exercised

    val input = MemoryStream[(Long, Timestamp, String)]
    val curated = graft.streaming.StreamingCurate.curateStream(
      input.toDF().toDF("id", "ts", "text"), col("id"), col("text"),
      eventTimeColumn = "ts", delayThreshold = "10 minutes",
      keepLangs = Set.empty,
      minTokens = 1, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.0, maxTopBigramFraction = 1.0,
      dsirWeights = Some(w), dsirThreshold = thr)
    val query = curated.writeStream.format("memory")
      .queryName("sc_dsir_out").outputMode("append").start()
    try {
      input.addData(docs.map { case (i, t) => (i, t0, t) }: _*)
      query.processAllAvailable()
      val kept = spark.table("sc_dsir_out").select("id").as[Long].collect().toSet
      assert(kept == expectedKept)
    } finally query.stop()
  }

  test("StreamHarness replays file batches in the chosen order (keep-first follows it)") {
    import graft.streaming.StreamHarness
    // two occurrences per key; which occurrence wins keep-first must follow
    // the batch assignment, not file-listing luck
    val df = Seq((1L, "a"), (2L, "b"), (11L, "a"), (12L, "b")).toDF("id", "text")
      .withColumn("ts", timestamp_seconds(lit(1000L) + col("id")))
    def run(batchCol: org.apache.spark.sql.Column): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory("graft_harness").toString
      val schema = StreamHarness.writeOrderedBatches(df, batchCol, 2, s"$root/in")
      val out = StreamHarness.drainToParquet(
        StreamingDedup.dropDuplicateTextsWithinWatermark(
          StreamHarness.readOrderedBatches(spark, s"$root/in", schema),
          col("text"), "ts", "1 hour"),
        s"$root/sink", s"$root/ck")
      out.select("id").as[Long].collect().toSet
    }
    // small ids first -> they are kept; inverted order -> large ids kept
    assert(run(when(col("id") > 10, 1).otherwise(0)) == Set(1L, 2L))
    assert(run(when(col("id") > 10, 0).otherwise(1)) == Set(11L, 12L))
  }
}
