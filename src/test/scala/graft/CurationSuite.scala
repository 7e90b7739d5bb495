package graft

import graft.dedup.Dedup
import graft.sample.Sampling
import graft.text.Redact
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic sampling + PII redaction (corpus-curation operators). */
class CurationSuite extends AnyFunSuite with SparkTest {

  import spark.implicits._

  test("hashSample keeps a stable fraction, independent of partitioning") {
    val keys = (0L until 8000L).toDF("k")
    val kept = Sampling.hashSample(keys, col("k"), 0.25).as[Long].collect().toSet
    // uniform to 2^-32: binomial(8000, 0.25) is within ±3σ ≈ ±116 of 2000
    assert(math.abs(kept.size - 2000) < 150, s"kept ${kept.size} of 8000 at rate 0.25")
    // the kept SET is a function of the key alone — any repartitioning agrees
    val repartitioned = Sampling.hashSample(keys.repartition(13), col("k"), 0.25)
      .as[Long].collect().toSet
    assert(repartitioned == kept)
    // rate monotonicity: a bigger rate keeps a superset
    val more = Sampling.hashSample(keys, col("k"), 0.5).as[Long].collect().toSet
    assert(kept.subsetOf(more))
  }

  test("hashSample honors rate edge cases and a different salt resamples") {
    val keys = (0L until 500L).toDF("k")
    assert(Sampling.hashSample(keys, col("k"), 0.0).count() == 0)
    assert(Sampling.hashSample(keys, col("k"), 1.0).count() == 500)
    val a = Sampling.hashSample(keys, col("k"), 0.5, salt = "a").as[Long].collect().toSet
    val b = Sampling.hashSample(keys, col("k"), 0.5, salt = "b").as[Long].collect().toSet
    assert(a != b)
  }

  test("weightedHashSample keeps by min(1, rate*w), deterministically") {
    val df = spark.range(2000).toDF("k")
      .withColumn("w", (col("k") % 20).cast("double") / lit(10.0)) // 0.0 .. 1.9
    val kept = Sampling.weightedHashSample(df, col("k"), col("w"), rate = 1.0)
      .select("k").as[Long].collect().toSet
    // p = 1 rows (w >= 1.0, i.e. k % 20 >= 10) are always kept
    assert((0L until 2000L).filter(k => k % 20 >= 10).forall(kept.contains))
    // p = 0 rows (w == 0) are never kept
    assert(!(0L until 2000L).filter(k => k % 20 == 0).exists(kept.contains))
    // keep-rate grows with weight: w=0.2 band keeps fewer than w=0.8 band
    def bandRate(r: Int) = kept.count(_ % 20 == r).toDouble / 100.0
    assert(bandRate(2) < bandRate(8))
    assert(math.abs(bandRate(2) - 0.2) < 0.15 && math.abs(bandRate(8) - 0.8) < 0.15)
    // partitioning never changes the decision
    val again = Sampling.weightedHashSample(
      df.repartition(13), col("k"), col("w"), rate = 1.0)
      .select("k").as[Long].collect().toSet
    assert(again === kept)
    // null weight drops the row
    val n = Sampling.weightedHashSample(
      Seq((1L, Option.empty[Double]), (2L, Some(5.0))).toDF("k", "w"),
      col("k"), col("w"), rate = 1.0).count()
    assert(n === 1L)
  }

  test("weightedSampleTopK draws exactly k, weight-sensitive, partition-stable") {
    val df = spark.range(2000).toDF("k")
      .withColumn("w", when(col("k") < 100, lit(1000.0)).otherwise(lit(0.01)))
    val got = Sampling.weightedSampleTopK(df, col("k"), col("w"), k = 100)
      .select("k").as[Long].collect().toSet
    assert(got.size == 100)
    // 100 heavy rows at 10^5x the light weight: essentially all must win
    // (a light row only beats a heavy one when its hash uniform lands
    // within ~1e-5 of 1.0)
    assert(got.count(_ < 100L) >= 98, s"heavy selected: ${got.count(_ < 100L)}")
    // the draw is a pure function of (key, weight): any partitioning agrees
    val again = Sampling.weightedSampleTopK(
      df.repartition(13), col("k"), col("w"), k = 100)
      .select("k").as[Long].collect().toSet
    assert(again == got)
    // zero/negative/null weights never qualify; k > survivors returns all
    val edge = Seq((1L, Some(2.0)), (2L, Some(0.0)), (3L, Some(-1.0)),
      (4L, Option.empty[Double]), (5L, Some(0.5))).toDF("k", "w")
    val kept = Sampling.weightedSampleTopK(edge, col("k"), col("w"), k = 10)
      .select("k").as[Long].collect().toSet
    assert(kept == Set(1L, 5L))
    // distributed top-k plan: TakeOrderedAndProject, no global sort exchange
    val formatted = Sampling.weightedSampleTopK(df, col("k"), col("w"), k = 100)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("TakeOrderedAndProject"), formatted)
  }

  test("stratifiedHashSample applies per-stratum rates with a default") {
    val df = (0L until 3000L).map(i => (i, s"s${i % 3}")).toDF("k", "g")
    val out = Sampling.stratifiedHashSample(
      df, col("g"), col("k"), Map("s0" -> 1.0, "s1" -> 0.0), defaultRate = 0.5)
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(out("s0") == 1000)
    assert(!out.contains("s1"))
    assert(math.abs(out("s2") - 500) < 100)
    // per-stratum decisions reuse the same hash: the s2 kept set equals the
    // unstratified 0.5 sample restricted to s2
    val flat = Sampling.hashSample(df, col("k"), 0.5).filter(col("g") === "s2")
      .select("k").as[Long].collect().toSet
    val strat = Sampling.stratifiedHashSample(
      df, col("g"), col("k"), Map("s0" -> 1.0, "s1" -> 0.0), defaultRate = 0.5)
      .filter(col("g") === "s2").select("k").as[Long].collect().toSet
    assert(strat == flat)
  }

  test("withTemporalSplit: boundaries, embargo gaps, reserved label, guards") {
    val df = Seq(0L, 9L, 10L, 14L, 15L, 29L, 30L, 34L, 35L, 99L).toDF("t")
    val got = Sampling.withTemporalSplit(df, col("t"),
        bounds = Seq(10L, 30L), names = Seq("train", "val", "test"), embargoUs = 5L)
      .as[(Long, String)].collect().toMap
    assert(got == Map(0L -> "train", 9L -> "train",
      10L -> "embargo", 14L -> "embargo",            // [b1, b1+5)
      15L -> "val", 29L -> "val",
      30L -> "embargo", 34L -> "embargo",            // [b2, b2+5)
      35L -> "test", 99L -> "test"))
    // zero embargo: plain cutoffs, boundary belongs to the RIGHT segment
    val plain = Sampling.withTemporalSplit(df, col("t"),
        Seq(10L, 30L), Seq("a", "b", "c"))
      .as[(Long, String)].collect().toMap
    assert(plain(9L) == "a" && plain(10L) == "b" && plain(30L) == "c")
    intercept[IllegalArgumentException] { // segment swallowed by embargo
      Sampling.withTemporalSplit(df, col("t"), Seq(10L, 14L), Seq("a", "b", "c"), 5L)
    }
    intercept[IllegalArgumentException] { // reserved label
      Sampling.withTemporalSplit(df, col("t"), Seq(10L), Seq("embargo", "x"), 1L)
    }
    intercept[IllegalArgumentException] { // name arity
      Sampling.withTemporalSplit(df, col("t"), Seq(10L), Seq("a"))
    }
  }

  test("splitByHash labels every row, partitions agree with hashSample") {
    val keys = (0L until 4000L).toDF("k")
    val out = Sampling.splitByHash(keys, col("k"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(out.values.sum == 4000)
    assert(math.abs(out("train") - 3200) < 120)
    assert(math.abs(out("val") - 400) < 80)
    assert(math.abs(out("test") - 400) < 80)
    // the train split IS the 0.8 hash sample: one consistent hash family
    val train = Sampling.splitByHash(keys, col("k"),
      Seq("train" -> 0.8, "rest" -> 0.2))
      .filter(col("split") === "train").select("k").as[Long].collect().toSet
    val sampled = Sampling.hashSample(keys, col("k"), 0.8).as[Long].collect().toSet
    assert(train == sampled)
    // weights must sum to 1
    intercept[IllegalArgumentException] {
      Sampling.splitByHash(keys, col("k"), Seq("a" -> 0.5, "b" -> 0.2))
    }
  }

  test("sampleKPerGroup draws exactly k per group, deterministically, ranked") {
    val df = (0L until 3000L).map(i => (s"g${i % 7}", i)).toDF("g", "k")
    val out = Sampling.sampleKPerGroup(df, Seq(col("g")), col("k"), k = 10)
    val rows = out.select("g", "k", "sample_rank").as[(String, Long, Int)].collect()
    val byGroup = rows.groupBy(_._1)
    assert(byGroup.size == 7)
    assert(byGroup.values.forall(_.length == 10))
    assert(byGroup.values.forall(_.map(_._3).sorted.toSeq == (1 to 10)))
    // repartitioning draws the identical set (hash order, not storage order)
    val again = Sampling.sampleKPerGroup(df.repartition(17), Seq(col("g")), col("k"), k = 10)
      .select("g", "k").as[(String, Long)].collect().toSet
    assert(again == rows.map(r => (r._1, r._2)).toSet)
    // a group smaller than k comes back whole
    val tiny = Sampling.sampleKPerGroup(
      Seq(("solo", 1L), ("solo", 2L)).toDF("g", "k"), Seq(col("g")), col("k"), k = 10)
    assert(tiny.count() == 2)
  }

  test("tokenBudgetSample lands each stratum near its budget; under-budget strata kept whole") {
    val df = ((0L until 4000L).map(i => ("big", i, 10L)) ++      // 40k tokens
      (4000L until 4030L).map(i => ("small", i, 10L)))           // 300 tokens
      .toDF("s", "k", "w")
    val out = Sampling.tokenBudgetSample(df, col("s"), col("k"), col("w"), budget = 4000L)
    val kept = out.select("s", "k").as[(String, Long)].collect()
    val bigTokens = kept.count(_._1 == "big") * 10L
    // expected 4000 tokens out of 40k (rate 0.1): binomial 3σ ≈ ±570
    assert(math.abs(bigTokens - 4000L) < 1200L, s"big stratum kept $bigTokens tokens")
    // under budget -> rate 1 -> every row kept
    assert(kept.count(_._1 == "small") == 30)
    // deterministic under repartitioning
    val again = Sampling.tokenBudgetSample(
      df.repartition(13), col("s"), col("k"), col("w"), budget = 4000L)
      .select("s", "k").as[(String, Long)].collect().toSet
    assert(again == kept.toSet)
    // weight columns survive untouched; helper columns are dropped
    assert(out.columns.toSeq == Seq("s", "k", "w"))
    // a null stratum is a stratum: its rows total separately (null-safe
    // join) and, being under budget here, all survive
    val withNull = df.union(Seq((null.asInstanceOf[String], 9001L, 10L),
      (null.asInstanceOf[String], 9002L, 10L)).toDF("s", "k", "w"))
    val keptNull = Sampling.tokenBudgetSample(
      withNull, col("s"), col("k"), col("w"), budget = 4000L)
      .filter(col("s").isNull).count()
    assert(keptNull == 2)
  }

  test("shuffleByHash assigns a 1..N permutation in hash order, stable across partitionings") {
    val keys = (0L until 3000L).toDF("k")
    val out = Sampling.shuffleByHash(keys, col("k"), numShards = 7)
      .select(col("k"), col("shuffle_pos"), col("shard"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // positions are a contiguous permutation 1..N
    assert(out.map(_._2).sorted.toSeq == (1L to 3000L))
    // order follows (md5(salt||key), key): spot-check against a local sort
    val md5Order = out.map { case (k, pos, _) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft$k".getBytes("UTF-8"))
      (d.map("%02x".format(_)).mkString, k) -> pos
    }.sortBy(_._1)
    assert(md5Order.map(_._2).toSeq == (1L to 3000L), "positions must follow md5 order")
    // shard is round-robin by position: exactly balanced, 7 shards
    val sizes = out.groupBy(_._3).map(_._2.length)
    assert(sizes.max - sizes.min <= 1 && out.map(_._3).distinct.length == 7)
    assert(out.forall { case (_, pos, shard) => shard == (pos - 1) % 7 })
    // the permutation is a pure function of the keys — partitioning-independent
    val again = Sampling.shuffleByHash(keys.repartition(13), col("k"), numShards = 7)
      .select(col("k"), col("shuffle_pos"), col("shard"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(again.toSeq == out.toSeq)
  }

  test("epochShuffle: reproducible per (seed, epoch), independent across epochs") {
    val keys = (0L until 2000L).toDF("k")
    def run(seed: Long, epoch: Long): Map[Long, Long] =
      Sampling.epochShuffle(keys, col("k"), seed, epoch)
        .select(col("k"), col("shuffle_pos")).as[(Long, Long)].collect().toMap
    val e1 = run(7, 1)
    // a contiguous permutation, identical on re-run
    assert(e1.values.toSeq.sorted == (1L to 2000L))
    assert(run(7, 1) == e1)
    // different epoch (or seed) yields a DIFFERENT permutation
    val e2 = run(7, 2)
    assert(e2.values.toSeq.sorted == (1L to 2000L))
    assert(e1 != e2)
    assert(run(8, 1) != e1)
    // equals shuffleByHash under the documented salt convention
    val viaSalt = Sampling.shuffleByHash(keys, col("k"), salt = "7:1:")
      .select(col("k"), col("shuffle_pos")).as[(Long, Long)].collect().toMap
    assert(viaSalt == e1)
  }

  test("mixtureInterleave: every prefix carries sources in weight proportion") {
    // 3:1 weights over two sources of 400 rows each
    val docs = (0L until 800L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val out = Sampling.mixtureInterleave(docs, col("id"), col("src"),
      Map("a" -> 3L, "b" -> 1L), seed = 7, epoch = 1)
      .select(col("id"), col("src"), col("mix_pos"))
      .as[(Long, String, Long)].collect().sortBy(_._3)
    // a contiguous permutation over all rows
    assert(out.map(_._3).toSeq == (1L to 800L))
    // WFQ bound: in every prefix, source counts track weights within 1 item
    // per source (count_s >= floor(prefix * w_s / W) - 1) until a source
    // runs dry — with 400 'a' at weight 3, 'a' is exhausted at prefix 533
    var na = 0; var nb = 0
    out.take(532).zipWithIndex.foreach { case ((_, s, _), i) =>
      if (s == "a") na += 1 else nb += 1
      val n = i + 1
      assert(na >= n * 3 / 4 - 1 && nb >= n / 4 - 1,
        s"prefix $n unbalanced: a=$na b=$nb")
    }
    // deterministic: same seed reproduces; different epoch differs
    val again = Sampling.mixtureInterleave(docs.repartition(7), col("id"), col("src"),
      Map("a" -> 3L, "b" -> 1L), seed = 7, epoch = 1)
      .select(col("id"), col("mix_pos")).as[(Long, Long)].collect().toMap
    assert(again == out.map(r => r._1 -> r._3).toMap)
    // unknown source fails fast rather than silently mis-weighting
    val e = intercept[Exception] {
      Sampling.mixtureInterleave(docs, col("id"), col("src"),
        Map("a" -> 3L), seed = 7, epoch = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("no weight for source")))
    // weight validation
    intercept[IllegalArgumentException] {
      Sampling.mixtureInterleave(docs, col("id"), col("src"),
        Map("a" -> 0L, "b" -> 1L), 7, 1)
    }
  }

  test("lengthBucketBatches: power-of-two buckets, bounded padding, full batches") {
    val rows = Seq(1L, 2L, 3L, 4L, 5L, 9L, 16L, 17L, 100L, 1000L, 0L)
      .zipWithIndex.map { case (n, i) => (i.toLong, n) }
    val df = rows.toDF("id", "nt")
    val got = Sampling.lengthBucketBatches(df, col("id"), col("nt"), batchSize = 2)
      .select("id", "n_tokens", "bucket", "padded_to", "batch_id", "pos_in_batch")
      .as[(Long, Long, Int, Long, Long, Long)].collect().sortBy(_._1)
    // integer bucket boundary: exact powers stay in their own bucket
    val byN = got.map(r => r._2 -> (r._3, r._4)).toMap
    assert(byN(1L) == (0, 1L) && byN(2L) == (1, 2L) && byN(3L) == (2, 4L))
    assert(byN(4L) == (2, 4L) && byN(5L) == (3, 8L) && byN(16L) == (4, 16L))
    assert(byN(17L) == (5, 32L) && byN(0L) == (0, 1L))
    // padding bound: padded_to < 2 * n_tokens for n >= 2
    assert(got.filter(_._2 >= 2).forall(r => r._4 < 2 * r._2))
    // positions dense within (bucket, batch): batchSize 2 => pos in {0, 1}
    got.groupBy(r => (r._3, r._5)).foreach { case (_, b) =>
      assert(b.map(_._6).sorted.toSeq == (0L until b.length))
      assert(b.length <= 2)
    }
    // deterministic and partitioning-independent
    val again = Sampling.lengthBucketBatches(
      df.repartition(7), col("id"), col("nt"), batchSize = 2)
      .select("id", "n_tokens", "bucket", "padded_to", "batch_id", "pos_in_batch")
      .as[(Long, Long, Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(again.toSeq == got.toSeq)
    // seed changes batch composition on a bigger corpus
    val big = (0L until 500L).map(i => (i, 10L + i % 7)).toDF("id", "nt")
    def order(seed: Long) = Sampling.lengthBucketBatches(
      big, col("id"), col("nt"), batchSize = 8, seed = seed)
      .select("id", "batch_id", "pos_in_batch")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(order(1) != order(2))
    // scale shape: the 3-phase row-number plan, never a single-partition
    // window funneling the corpus through ~log2(maxlen) bucket tasks
    val plan = Sampling.lengthBucketBatches(big, col("id"), col("nt"), 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window [row_number() windowspecdefinition(bucket"),
      s"per-bucket row_number window leaked into the plan:\n$plan")
  }

  test("epochShards: deterministic (shard, pos), per-shard contiguous, no global exchange") {
    val keys = (0L until 2000L).toDF("k")
    def run(epoch: Long) = Sampling.epochShards(keys, col("k"), seed = 7,
      epoch = epoch, numShards = 4)
      .select(col("k"), col("shard"), col("shard_pos"))
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    val out = run(1)
    // every shard in range; positions contiguous 1..size WITHIN each shard
    assert(out.forall(r => r._2 >= 0 && r._2 < 4))
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length))
    }
    // hash-balanced: no shard owns more than half the corpus
    assert(out.groupBy(_._2).map(_._2.length).max < 1000)
    // reproducible; epoch changes the assignment
    assert(run(1).toSeq == out.toSeq)
    assert(run(2).toSeq != out.toSeq)
    // partitioning-independent
    val repart = Sampling.epochShards(keys.repartition(13), col("k"), seed = 7,
      epoch = 1, numShards = 4)
      .select(col("k"), col("shard"), col("shard_pos"))
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(repart.toSeq == out.toSeq)
    // plan shape: ONE exchange (the per-shard window's hash partition),
    // no range exchange — the cheaper-than-global-order claim
    val plan = Sampling.epochShards(keys, col("k"), 7, 1, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"),
      s"epochShards must not range-partition:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly one hash exchange:\n$plan")
  }

  test("gopherFilter keeps natural-language docs and drops degenerate ones") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog and then it runs far away to the old barn door again"),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam"),
      (3L, "ok go"), // too short
      (4L, "the internationalization parallelization incomprehensibilities of transcendentalism and the notwithstanding characteristically uncharacteristically extraordinarily incomprehensibilities responsibilities internationalization parallelization transcendentalism notwithstanding characteristically uncharacteristically extraordinarily responsibilities incomprehensibilities" +
        " internationalization parallelization transcendentalism notwithstanding") // avg token length too long
    ).toDF("doc_id", "text")
    val kept = graft.text.QualityFilters.gopherFilter(
      docs, col("text"), minTokens = 10, maxTokens = 50,
      minAvgTokenLen = 3.0, maxAvgTokenLen = 8.0,
      minStopwordRatio = 0.05, maxTopBigramFraction = 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("deduplicateLines keeps only the first corpus-wide occurrence of a line") {
    val docs = Seq(
      (1L, "unique one\nshared footer\nalpha"),
      (2L, "unique two\nshared footer\nalpha\nbeta"),
      (3L, "shared footer")).toDF("doc_id", "text")
    val out = Dedup.deduplicateLines(docs, col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "unique one\nshared footer\nalpha") // first owner keeps all
    assert(out(2L) == "unique two\nbeta")                 // shared lines stripped
    assert(out(3L) == "")                                 // fully boilerplate doc
  }

  test("deduplicateLines removes within-document repeats too") {
    val docs = Seq((7L, "a\nb\na\nc")).toDF("doc_id", "text")
    val out = Dedup.deduplicateLines(docs, col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    assert(out(7L) == "a\nb\nc")
  }

  test("redactPii scrubs emails, IPv4 and long digit runs, leaves prose alone") {
    val cases = Seq(
      "write to jane.doe+spam@sub.example.co.uk today" ->
        "write to [REDACTED] today",
      "server at 192.168.0.1 and 10.0.255.254 down" ->
        "server at [REDACTED] and [REDACTED] down",
      "acct 123456789 and card 4111111111111111" ->
        "acct [REDACTED] and card [REDACTED]",
      "version 1.2.3 of lib, 12345678 is short" ->
        "version 1.2.3 of lib, 12345678 is short",
      "plain text stays untouched" ->
        "plain text stays untouched")
    val out = cases.map(_._1).toDF("t")
      .select(Redact.redactPii(col("t")).as("r")).as[String].collect()
    assert(out.toSeq == cases.map(_._2))
  }

  test("individual redactors compose in the documented order") {
    val s = Seq("mail a9@b.io from 8.8.8.8 ref 987654321").toDF("t")
    assert(s.select(Redact.redactEmails(col("t")).as("r")).as[String].head()
      == "mail [REDACTED] from 8.8.8.8 ref 987654321")
    assert(s.select(Redact.redactIpv4(col("t")).as("r")).as[String].head()
      == "mail a9@b.io from [REDACTED] ref 987654321")
    assert(s.select(Redact.redactLongDigits(col("t")).as("r")).as[String].head()
      == "mail a9@b.io from 8.8.8.8 ref [REDACTED]")
  }

  // --------------------------------------------------------------------------
  // end-to-end curation composition
  // --------------------------------------------------------------------------

  private def curationDocs = {
    val en = "the cat and the dog walked to the park and it was a fine day for all of them to play in the sun with friends"
    Seq(
      (1L, en + " one"),                        // keeper
      (2L, en + " one"),                        // exact duplicate of 1 -> dropped at 3_exact
      (3L, en + " one two"),                    // near-dup of 1 -> dropped at 4_neardup
      (4L, "le chat et le chien une promenade dans les rues pour une belle journee avec des amis et que la vie est bonne pour tous les gens"), // french -> dropped at 1_langid
      (5L, "it is x y"),                        // english but too short -> dropped at 2_quality
      (6L, en + " benchmark secret answer token stream here today okay")  // contaminated
    ).toDF("id", "text")
  }

  test("curate chains the stages in order and reports attrition") {
    val docs = curationDocs
    val blockDoc = Seq((99L, "benchmark secret answer token stream")).toDF("id", "text")
    val handle = UnpersistHandle()
    val (curated, report) = graft.pipeline.Curation.curate(
      docs, col("id"), col("text"),
      keepLangs = Set("en"),
      minTokens = 5, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.01, maxTopBigramFraction = 0.9,
      minHashThreshold = 0.8,
      blocklist = Some((blockDoc, col("text"))),
      unpersistHandle = handle)
    val counts = report.as[(String, Long)].collect().toMap
    assert(counts("0_input") == 6L)
    assert(counts("1_langid") == 5L)        // drops the french doc
    assert(counts("2_quality") == 4L)       // drops the 3-token doc
    assert(counts("3_exact") == 3L)         // drops the byte-identical dup
    assert(counts("4_neardup") == 2L)       // drops the near-dup, keeps smallest id
    assert(counts("5_decontaminate") == 1L) // drops the contaminated doc
    assert(report.columns.toSeq == Seq("stage", "n_rows"))
    // no sampling stage when rate = 1.0
    assert(!counts.contains("6_sample"))
    // curated content is exactly the last stage's survivor rows, all columns
    assert(curated.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(curated.columns.toSeq == docs.columns.toSeq)
    handle.unpersist()
  }

  test("curateIncrement dedups against the index and closes the ingest loop") {
    val en = "the cat and the dog walked to the park and it was a fine day for all of them to play in the sun with friends"
    val reference = Seq((100L, en + " reference edition")).toDF("id", "text")
    val idx = graft.createTemporaryDir("curate-inc-test")
    graft.dedup.DedupIndex.saveDedupIndex(reference, col("id"), col("text"), idx)
    val batch1 = Seq(
      (1L, en + " fresh batch one content words here"), // survives
      (2L, en + " reference edition extra"),   // near-dup of the INDEXED doc
      (3L, en + " fresh batch one content words here"), // exact dup of 1 within batch
      (4L, "le chat et le chien une promenade dans les rues pour une belle journee avec des amis et que la vie est bonne pour tous les gens")
    ).toDF("id", "text")
    val h1 = UnpersistHandle()
    val (s1, r1) = graft.pipeline.Curation.curateIncrement(
      batch1, col("id"), col("text"), idx,
      keepLangs = Set("en"),
      minTokens = 5, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.01, maxTopBigramFraction = 0.9,
      unpersistHandle = h1)
    val c1 = r1.as[(String, Long)].collect().toMap
    assert(c1("0_input") == 4L && c1("1_langid") == 3L)
    assert(c1("3_exact") == 2L)          // within-batch exact dup dropped
    assert(c1("4_neardup_batch") == 2L)  // 1 and 2 are not near-dups of each other
    assert(c1("5_neardup_index") == 1L)  // 2 near-dups the INDEXED reference doc
    assert(s1.select("id").as[Long].collect().toSeq == Seq(1L))
    h1.unpersist()
    // the loop: batch 2 re-sends batch 1's survivor (near-verbatim) — the
    // appended index catches it without re-reading reference OR batch 1
    val batch2 = Seq(
      (10L, en + " fresh batch one content words here again"), // near-dup of appended id 1
      (11L, en + " genuinely new second batch text here")
    ).toDF("id", "text")
    val h2 = UnpersistHandle()
    val (s2, r2) = graft.pipeline.Curation.curateIncrement(
      batch2, col("id"), col("text"), idx,
      keepLangs = Set("en"),
      minTokens = 5, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.01, maxTopBigramFraction = 0.9,
      unpersistHandle = h2)
    val c2 = r2.as[(String, Long)].collect().toMap
    assert(c2("5_neardup_index") == 1L, s"$c2")
    assert(s2.select("id").as[Long].collect().toSeq == Seq(11L))
    h2.unpersist()
    // audit mode leaves the index untouched: re-running batch 2 with
    // appendSurvivors = false yields the same result twice
    val h3 = UnpersistHandle()
    val (s3, _) = graft.pipeline.Curation.curateIncrement(
      batch2, col("id"), col("text"), idx,
      keepLangs = Set("en"),
      minTokens = 5, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.01, maxTopBigramFraction = 0.9,
      appendSurvivors = false, unpersistHandle = h3)
    // 11 was appended by the batch-2 run above, so it now dedups away;
    // running audit mode twice is idempotent
    assert(s3.select("id").as[Long].collect().isEmpty)
    h3.unpersist()
    val h4 = UnpersistHandle()
    val (s4, _) = graft.pipeline.Curation.curateIncrement(
      batch2, col("id"), col("text"), idx,
      keepLangs = Set("en"),
      minTokens = 5, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.01, maxTopBigramFraction = 0.9,
      appendSurvivors = false, unpersistHandle = h4)
    assert(s4.select("id").as[Long].collect().isEmpty)
    h4.unpersist()
  }

  test("curate survives a stage that goes empty mid-pipeline") {
    // the quality gate filters everything out, so every shuffling stage
    // runs on an empty frame. Stopword-free docs: the 0.02
    // min-stopword-ratio default rejects all three.
    spark.catalog.clearCache() // observe only this call's caches
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "alpha beta gamma")).toDF("id", "text")
    val handle = UnpersistHandle()
    val (curated, report) = graft.pipeline.Curation.curate(
      docs, col("id"), col("text"), keepLangs = Set.empty,
      minTokens = 1, maxTokens = 1000, unpersistHandle = handle)
    assert(curated.count() == 0L)
    val rep = report.as[(String, Long)].collect().toMap
    assert(rep == Map("0_input" -> 3L, "2_quality" -> 0L,
      "3_exact" -> 0L, "4_neardup" -> 0L), rep.toString)
    handle.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("curate classifier stage filters by the exact kernel logit") {
    val docs = curationDocs
    // weights that reject everything (all -1) vs accept everything (all +1):
    // the stage decision must equal Classifier.filterByScore's on the same docs
    val rejectAll = Array.fill(256)(-1)
    val acceptAll = Array.fill(256)(1)
    val handle = UnpersistHandle()
    val (curatedNone, reportNone) = graft.pipeline.Curation.curate(
      docs, col("id"), col("text"),
      keepLangs = Set.empty,
      minTokens = 1, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.0, maxTopBigramFraction = 1.0,
      classifierWeights = Some(rejectAll), classifierThreshold = 1L,
      unpersistHandle = handle)
    val countsNone = reportNone.as[(String, Long)].collect().toMap
    assert(countsNone("2b_classifier") == 0L)
    assert(curatedNone.count() == 0L)
    handle.unpersist()
    val handle2 = UnpersistHandle()
    val (_, reportAll) = graft.pipeline.Curation.curate(
      docs, col("id"), col("text"),
      keepLangs = Set.empty,
      minTokens = 1, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.0, maxTopBigramFraction = 1.0,
      classifierWeights = Some(acceptAll), classifierThreshold = 1L,
      unpersistHandle = handle2)
    val countsAll = reportAll.as[(String, Long)].collect().toMap
    assert(countsAll("2b_classifier") == countsAll("2_quality"))
    // stage order in the report: 2b between quality and exact
    val stages = reportAll.as[(String, Long)].collect().map(_._1).toSeq
    assert(stages == Seq("0_input", "2_quality", "2b_classifier", "3_exact", "4_neardup"))
    handle2.unpersist()
  }

  test("curate DSIR stage filters by the fitted target-likeness score") {
    val docs = curationDocs
    // fit weights against a tiny synthetic target made of the docs' own
    // vocabulary so some docs clear threshold 0 and others don't; the stage
    // decision must equal Dsir.score's on the same docs
    val target = docs.limit(2).select(col("id"), col("text"))
    val w = graft.text.Dsir.fitWeights(target, docs, col("text"), col("text"))
    val handle = UnpersistHandle()
    val (curated, report) = graft.pipeline.Curation.curate(
      docs, col("id"), col("text"),
      keepLangs = Set.empty,
      minTokens = 1, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.0, maxTopBigramFraction = 1.0,
      dsirWeights = Some(w), dsirThreshold = 0L,
      unpersistHandle = handle)
    val counts = report.as[(String, Long)].collect().toMap
    val expected = graft.text.Dsir.score(docs, col("text"), w)
      .filter(col("dsir_score") >= 0L).count()
    assert(counts("2c_dsir") == expected)
    // stage order: 2c after quality (and the absent classifier stage)
    val stages = report.as[(String, Long)].collect().map(_._1).toSeq
    assert(stages.indexOf("2c_dsir") > stages.indexOf("2_quality"))
    assert(stages.indexOf("2c_dsir") < stages.indexOf("3_exact"))
    handle.unpersist()
  }

  test("curate DSIR stage honors the xxhash production bucket family") {
    val docs = curationDocs
    val target = docs.limit(2).select(col("id"), col("text"))
    // fit under the xxhash production bucketing; curate must score under the
    // SAME family when told so - the stage count equals the manual
    // portableHash=false score filter, which differs from the md5-family
    // count on this corpus (guarding against a silent family mismatch)
    val wX = graft.text.Dsir.fitWeights(target, docs, col("text"), col("text"),
      portableHash = false)
    val handle = UnpersistHandle()
    val (_, report) = graft.pipeline.Curation.curate(
      docs, col("id"), col("text"),
      keepLangs = Set.empty,
      minTokens = 1, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.0, maxTopBigramFraction = 1.0,
      dsirWeights = Some(wX), dsirThreshold = 1L,
      unpersistHandle = handle, dsirPortableHash = false)
    val counts = report.as[(String, Long)].collect().toMap
    val expected = graft.text.Dsir.score(docs, col("text"), wX, portableHash = false)
      .filter(col("dsir_score") >= 1L).count()
    assert(counts("2c_dsir") == expected)
    // scoring xxhash-fitted weights under md5 is a DIFFERENT decision on
    // this corpus - the parameter is load-bearing, not cosmetic
    val md5Count = graft.text.Dsir.score(docs, col("text"), wX)
      .filter(col("dsir_score") >= 1L).count()
    assert(md5Count != expected,
      s"corpus fails to distinguish bucket families (both $expected) - pick different docs")
    handle.unpersist()
  }

  test("curate stage toggles: no langid without langs, no decontaminate without blocklist") {
    val docs = curationDocs
    val handle = UnpersistHandle()
    val (_, report) = graft.pipeline.Curation.curate(
      docs, col("id"), col("text"),
      keepLangs = Set.empty,
      minTokens = 1, maxTokens = 1000, minAvgTokenLen = 1.0, maxAvgTokenLen = 10.0,
      minStopwordRatio = 0.0, maxTopBigramFraction = 1.0,
      sampleRate = 0.5,
      unpersistHandle = handle)
    val stages = report.as[(String, Long)].collect().map(_._1).toSeq
    assert(stages == Seq("0_input", "2_quality", "3_exact", "4_neardup", "6_sample"))
    handle.unpersist()
  }

  test("removeBoilerplateLines drops every occurrence of corpus-frequent lines") {
    val docs = Seq(
      (1L, "unique one\nshared footer\nalpha"),
      (2L, "unique two\nshared footer\nalpha"),
      (3L, "shared footer\nbeta")).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(docs, col("doc_id"), col("text"), minDocs = 3)
      .as[(Long, String)].collect().toMap
    // "shared footer" reaches 3 docs -> gone everywhere, INCLUDING its first
    // occurrence (the contract difference vs deduplicateLines); "alpha" at 2
    // docs stays untouched in both
    assert(out(1L) == "unique one\nalpha")
    assert(out(2L) == "unique two\nalpha")
    assert(out(3L) == "beta")
    // raise the bar: nothing reaches minDocs = 4, every doc passes through
    val all = Dedup.removeBoilerplateLines(docs, col("doc_id"), col("text"), minDocs = 4)
      .as[(Long, String)].collect().toMap
    assert(all(1L) == "unique one\nshared footer\nalpha")
    assert(all(3L) == "shared footer\nbeta")
  }

  test("removeBoilerplateLines counts DISTINCT documents, not occurrences") {
    // a line repeated 3x inside ONE doc is not boilerplate at minDocs = 2
    val docs = Seq((1L, "x\nx\nx\ny"), (2L, "z")).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(docs, col("doc_id"), col("text"), minDocs = 2)
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "x\nx\nx\ny")
    assert(out(2L) == "z")
  }

  test("resampleToMixture hits target shares and keeps the binding domain whole") {
    // counts: a = 500, b = 1000, c = 1500
    val df = (0L until 3000L)
      .map(i => (i, if (i % 6 < 1) "a" else if (i % 6 < 3) "b" else "c"))
      .toDF("id", "dom")
    val targets = Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)
    val out = Sampling.resampleToMixture(df, col("dom"), targets, col("id"))
    val counts = out.groupBy("dom").count().as[(String, Long)].collect().toMap
    // T = min(500/0.5, 1000/0.3, 1500/0.2) = 1000: the a-domain is the
    // scarcest relative to its target -> kept verbatim; b thins to ~300,
    // c to ~200 (binomial noise around the exact-rate expectation)
    assert(counts("a") == 500L, s"binding domain must be kept whole: $counts")
    assert(math.abs(counts("b") - 300L) < 60, s"b: $counts")
    assert(math.abs(counts("c") - 200L) < 55, s"c: $counts")
    // kept SET is partitioning-invariant, like every hash sampler
    val again = Sampling.resampleToMixture(df.repartition(13), col("dom"), targets, col("id"))
    assert(out.select("id").as[Long].collect().toSet ==
      again.select("id").as[Long].collect().toSet)
    // domains outside the recipe are dropped entirely
    val withJunk = df.union(Seq((9000L, "zz"), (9001L, "zz")).toDF("id", "dom"))
    val kept = Sampling.resampleToMixture(withJunk, col("dom"), targets, col("id"))
    assert(kept.filter(col("dom") === "zz").count() == 0)
  }

  test("repeatToTokenBudget repeats scarce domains and caps at maxEpochs") {
    // token masses: a = 1000, b = 10000 (100 docs x 10 / 100 docs x 100)
    val df = ((0L until 100L).map(i => (i, "a", 10L)) ++
      (100L until 200L).map(i => (i, "b", 100L))).toDF("id", "dom", "toks")
    val shares = Map("a" -> 0.5, "b" -> 0.5)
    // budget 8000: a targets 4000 tokens = 4 epochs exactly; b targets
    // 4000 = 0 full epochs + 0.4 fractional
    val out = Sampling.repeatToTokenBudget(df, col("dom"), col("toks"), col("id"),
      shares, budget = 8000L, maxEpochs = 8)
    val counts = out.groupBy("dom").count().as[(String, Long)].collect().toMap
    assert(counts("a") == 400L, s"a = 4 exact epochs: $counts")
    assert(math.abs(counts("b") - 40L) < 20, s"b ~ 0.4 fractional epoch: $counts")
    // epoch numbering: domain a carries epochs 1..4, each id exactly once per epoch
    val aEpochs = out.filter(col("dom") === "a").groupBy("epoch").count()
      .as[(Int, Long)].collect().toMap
    assert(aEpochs == Map(1 -> 100L, 2 -> 100L, 3 -> 100L, 4 -> 100L), s"$aEpochs")
    // maxEpochs clamps the full passes AND zeroes the fractional draw
    val clamped = Sampling.repeatToTokenBudget(df, col("dom"), col("toks"), col("id"),
      shares, budget = 8000L, maxEpochs = 2)
    val aClamped = clamped.filter(col("dom") === "a")
    assert(aClamped.count() == 200L && aClamped.agg(max(col("epoch"))).as[Int].head() == 2)
    // emitted multiset is partitioning-invariant
    val again = Sampling.repeatToTokenBudget(df.repartition(13), col("dom"),
      col("toks"), col("id"), shares, budget = 8000L, maxEpochs = 8)
    assert(out.select("id", "epoch").as[(Long, Int)].collect().sorted.toSeq ==
      again.select("id", "epoch").as[(Long, Int)].collect().sorted.toSeq)
    // domains outside the recipe are dropped; epoch column collides loudly
    val withJunk = df.union(Seq((900L, "zz", 5L)).toDF("id", "dom", "toks"))
    assert(Sampling.repeatToTokenBudget(withJunk, col("dom"), col("toks"), col("id"),
      shares, budget = 8000L).filter(col("dom") === "zz").count() == 0)
    intercept[IllegalArgumentException] {
      Sampling.repeatToTokenBudget(df.withColumn("epoch", lit(1)), col("dom"),
        col("toks"), col("id"), shares, budget = 8000L)
    }
  }

  test("temperatureSample square-roots the imbalance; alpha 0/1 hit the flat/natural poles") {
    // counts: a = 400, b = 1600 (a 4x imbalance)
    val df = (0L until 2000L)
      .map(i => (i, if (i % 5 < 1) "a" else "b"))
      .toDF("id", "dom")
    val out = Sampling.temperatureSample(df, col("dom"), col("id"))
    val counts = out.groupBy("dom").count().as[(String, Long)].collect().toMap
    // alpha=0.5: smallest domain kept whole; b thins by sqrt(400/1600) = 1/2
    assert(counts("a") == 400L, s"smallest domain must be kept whole: $counts")
    assert(math.abs(counts("b") - 800L) < 80, s"b ~ 1600/2: $counts")
    // alpha=1: natural proportions — everything kept
    assert(Sampling.temperatureSample(df, col("dom"), col("id"), alpha = 1.0)
      .count() == 2000L)
    // alpha=0: flat — b thins toward a's count
    val flat = Sampling.temperatureSample(df, col("dom"), col("id"), alpha = 0.0)
      .groupBy("dom").count().as[(String, Long)].collect().toMap
    assert(flat("a") == 400L && math.abs(flat("b") - 400L) < 60, s"flat: $flat")
    // kept SET is partitioning-invariant, like every hash sampler
    val again = Sampling.temperatureSample(df.repartition(13), col("dom"), col("id"))
    assert(out.select("id").as[Long].collect().toSet ==
      again.select("id").as[Long].collect().toSet)
  }

  test("containmentPairs finds planted excerpts that Jaccard near-dup cannot see") {
    val base = (1 to 60).map(i => s"w${i}a w${i}b w${i}c").mkString(" ") // 180 tokens
    val excerpt = base.split(" ").slice(30, 60).mkString(" ")            // 30-token run
    val other = (1 to 60).map(i => s"z${i}x z${i}y z${i}q").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, s"$other $excerpt"), // the run embedded in an unrelated doc
      (3L, other),
      (4L, excerpt)             // the excerpt as its own (small) document
    ).toDF("doc_id", "text")
    val pairs = graft.dedup.Containment.containmentPairs(
      docs, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // the excerpt doc is FULLY contained in both carriers — containment 1.0
    // where Jaccard would be ~28/178: the asymmetric case this op exists for
    assert(pairs((1L, 4L)) == 1.0, s"excerpt-in-base: $pairs")
    assert(pairs((2L, 4L)) == 1.0, s"excerpt-in-carrier: $pairs")
    // doc 3 is a subset of doc 2 by construction
    assert(pairs((2L, 3L)) == 1.0, s"subset pair: $pairs")
    // two LARGE docs sharing only the 30-token run stay below threshold:
    // containment divides by the smaller DOCUMENT (28/178), by design
    assert(!pairs.contains((1L, 2L)), s"large-large run must not qualify: $pairs")
    assert(!pairs.contains((1L, 3L)))
    // fragmented overlap (no shared run of w+n-1 tokens, sub-threshold
    // set overlap): no pair
    val frag = Seq(
      (1L, (1 to 40).map(i => s"a$i b$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"a$i c$i").mkString(" "))).toDF("doc_id", "text")
    val none = graft.dedup.Containment.containmentPairs(
      frag, col("doc_id"), col("text")).count()
    assert(none == 0)
  }
}
