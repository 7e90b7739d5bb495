package graft

import graft.ann.{Ann, Pq}
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.text.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LLM-data-pipeline operators: text analysis, dedup, ANN, multimodal. */
class PipelineSuite extends AnyFunSuite with SparkTest {

  import spark.implicits._

  // --------------------------------------------------------------------------
  // text analysis
  // --------------------------------------------------------------------------

  test("tokenize lowers, splits and drops empties") {
    val r = Seq("Hello,  World! 42").toDF("t")
      .select(TextFunctions.tokenize(col("t")).as("toks"))
      .as[Seq[String]].head()
    assert(r == Seq("hello", "world", "42"))
  }

  test("wordShingles produces distinct n-grams; short docs give empty") {
    val df = Seq("a b c d", "a b").toDF("t")
      .select(TextFunctions.textShingles(col("t"), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(df(0) == Seq("a b c", "b c d"))
    assert(df(1) == Seq.empty)
  }

  test("jaccard on arrays") {
    val r = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(TextFunctions.jaccard(col("x"), col("y")).as("j")).as[Double].head()
    assert(math.abs(r - 0.5) < 1e-12)
  }

  test("approxBpeTokenCount segments like a BPE pre-tokenizer") {
    val r = Seq("Hello world, it's a test!", "", "one").toDF("t")
      .select(TextFunctions.approxBpeTokenCount(col("t")).as("n")).as[Int].collect()
    // Hello | _world | , | _it | 's | _a | _test | !  -> 8 segments
    assert(r(0) == 8)
    assert(r(1) == 0)
    assert(r(2) == 1)
  }

  test("langId identifies real multilingual samples") {
    val samples = Seq(
      ("the cat sat on the mat and it is happy", "en"),
      ("le chat est sur la table et il est content pour dans", "fr"),
      ("der hund ist nicht mit der katze und das ist gut", "de"),
      ("el perro es una mascota que vive en las casas como pero", "es"),
      ("xyzzy qwerty plugh", "und"))
    val out = samples.map(_._1).toDF("t")
      .select(TextFunctions.langId(col("t")).as("lang")).as[String].collect()
    assert(out.toSeq == samples.map(_._2))
  }

  test("qualityScore favors natural text over noise") {
    val natural = "the quick brown fox jumps over the lazy dog and it is a fine day in the park " * 3
    val noise = "@@#$%^&*!! ~~ ## $$ %% ^^ && ** (( ))"
    val r = Seq(natural, noise).toDF("t")
      .select(TextFunctions.qualityScore(col("t")).as("q")).as[Double].collect()
    assert(r(0) > 0.7 && r(1) < 0.4 && r(0) > r(1))
  }

  test("fingerprintMd5 is whitespace/case-normalized") {
    val r = Seq("Hello  World", "hello world", "hello  world\t", "other").toDF("t")
      .select(TextFunctions.fingerprintMd5(col("t")).as("f")).as[String].collect()
    assert(r(0) == r(1) && r(1) == r(2) && r(0) != r(3))
  }

  // --------------------------------------------------------------------------
  // dedup
  // --------------------------------------------------------------------------

  test("topNgramStats matches a naive mode count; short docs give zeros") {
    // naive reference over the same ASCII tokens
    def naive(s: String, n: Int): (Long, Long) = {
      val toks = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val grams = toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
      if (grams.isEmpty) (0L, 0L)
      else (grams.size.toLong, grams.groupBy(identity).values.map(_.size).max.toLong)
    }
    val docs = Seq(
      "the cat sat on the mat the cat sat again",
      "a a a a a",
      "one two",           // no trigrams
      "solo",              // no bigrams
      "",                  // no tokens at all
      "x y x y x y z x y" // repeated bigram
    )
    for (n <- 1 to 3) {
      val got = docs.toDF("t")
        .select(TextFunctions.topNgramStats(col("t"), n).as("s"))
        .as[Seq[Long]].collect()
      docs.zip(got).foreach { case (d, s) =>
        val (total, top) = naive(d, n)
        assert(s == Seq(total, top), s"n=$n doc='$d'")
      }
    }
    // fraction column: repeated-bigram doc scores high, natural doc lower
    val fr = docs.toDF("t")
      .select(TextFunctions.topNgramFraction(col("t"), 2).as("f"))
      .as[Double].collect()
    assert(fr(1) == 1.0)  // "a a a a a": every bigram is "a a"
    assert(fr(4) == 0.0)  // empty doc
    assert(fr(5) > fr(0))
  }

  test("chunkTokens windows with overlap; empty docs chunkless; chunkSize >= len gives one chunk") {
    val chunks = Seq("a b c d e f g h i j").toDF("t")
      .select(TextFunctions.chunkTokens(col("t"), 4, 1).as("c"))
      .as[Seq[String]].head()
    // stride 3: starts at 0,3,6,9 while start < 10
    assert(chunks == Seq("a b c d", "d e f g", "g h i j", "j"))
    val whole = Seq("a b c").toDF("t")
      .select(TextFunctions.chunkTokens(col("t"), 16, 4).as("c"))
      .as[Seq[String]].head()
    assert(whole == Seq("a b c"))
    val empty = Seq("  ,,  ").toDF("t")
      .select(TextFunctions.chunkTokens(col("t"), 4, 1).as("c"))
      .as[Seq[String]].head()
    assert(empty.isEmpty)
    // exploded operator carries ids and 0-based chunk indexes
    val rows = TextFunctions.chunkByTokens(
      Seq((7, "a b c d e")).toDF("id", "t"), col("t"), 2, 0, col("id"))
      .as[(Int, Int, String)].collect().sortBy(_._2)
    assert(rows.toSeq == Seq((7, 0, "a b"), (7, 1, "c d"), (7, 2, "e")))
    intercept[IllegalArgumentException] {
      TextFunctions.chunkTokens(col("t"), 4, 4)
    }
  }

  test("dropExactTextDuplicates keeps smallest id per normalized text") {
    val df = Seq(
      (1L, "some document text"), (2L, "Some  Document   Text"),
      (3L, "unique one"), (4L, "some document text ")).toDF("id", "text")
    val out = Dedup.dropExactTextDuplicates(df, col("text"), col("id"))
      .select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L))
  }

  private val nearDupCorpus = {
    val base = (0 until 40).map(i =>
      (i.toLong, s"doc number $i with words alpha beta gamma delta epsilon zeta eta theta " +
        s"iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon token$i marker$i"))
    // plant near-dups of docs 3 and 7 (one word changed), and an exact dup of 11
    val dups = Seq(
      (103L, base(3)._2.replace("gamma", "gamma2")),
      (107L, base(7)._2.replace("sigma", "sigma2")),
      (111L, base(11)._2))
    base ++ dups
  }

  test("decontaminate drops blocklist-overlapping docs; overlap threshold honored") {
    val corpus = Seq(
      (1, "the quick brown fox jumps over the lazy dog today"),     // benchmark text
      (2, "the quick brown fox jumps over the lazy dog yesterday"), // near-dup: 5 shared 5-shingles
      (3, "completely unrelated sentence about spark and parquet files written here")
    ).toDF("id", "text")
    val block = Seq("the quick brown fox jumps over the lazy dog today").toDF("text")
    def kept(minOverlap: Int): Seq[Int] =
      Dedup.decontaminate(corpus, col("text"), block, col("text"),
        shingleSize = 5, minOverlap = minOverlap)
        .select("id").as[Int].collect().sorted.toSeq
    // any shared 5-shingle contaminates: both the exact copy and the near-dup go
    assert(kept(1) == Seq(3))
    // doc 1 has 6 shingles (all shared); doc 2 shares only the 5 fully inside
    // the common 9-token prefix — a 6-overlap requirement keeps it
    assert(kept(6) == Seq(2, 3))
    intercept[IllegalArgumentException] {
      Dedup.decontaminate(corpus, col("text"), block, col("text"), 5, 0)
    }
  }

  /** 500 docs, every 25th carrying the benchmark sentence of [[benchmarkBlock]]. */
  private def contaminatedCorpus = (1 to 500).map { i =>
    val base = s"document number $i talks about topic ${i % 7} in depth with many words " +
      s"alpha$i beta gamma delta epsilon zeta eta theta iota kappa"
    val text = if (i % 25 == 0) base + " the quick brown fox jumps over the lazy dog" else base
    (i.toLong, text)
  }.toDF("id", "text")

  private def benchmarkBlock = Seq("the quick brown fox jumps over the lazy dog").toDF("text")

  private def sortedIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  test("decontaminateBloom matches exact decontaminate on a sizeable corpus") {
    val kept = sortedIds(Dedup.decontaminate(contaminatedCorpus, col("text"),
      benchmarkBlock, col("text"), shingleSize = 5, minOverlap = 1))
    // the 20 contaminated docs are dropped, the other 480 kept
    assert(kept == (1L to 500L).filter(_ % 25 != 0))
    // the decision is per row: a clean row sharing a contaminated row's id
    // is kept
    val sharedId = contaminatedCorpus.union(Seq((25L, "a clean row reusing id 25")).toDF("id", "text"))
    val keptShared = Dedup.decontaminate(sharedId, col("text"), benchmarkBlock, col("text"),
      shingleSize = 5).select("text").as[String].collect()
    assert(keptShared.length == 481 && keptShared.contains("a clean row reusing id 25"))
  }

  test("decontaminateBroadcast matches exact decontaminate; oversize blocklist refused") {
    // minOverlap above the shared-shingle count keeps everything
    val lax = sortedIds(Dedup.decontaminate(contaminatedCorpus, col("text"),
      benchmarkBlock, col("text"), shingleSize = 5, minOverlap = 100))
    assert(lax == (1L to 500L))
    // null/short texts pass through unharmed (no shingles -> no overlap)
    val withNull = contaminatedCorpus.union(
      Seq((9999L, null.asInstanceOf[String]), (9998L, "ab")).toDF("id", "text"))
    val kept = sortedIds(Dedup.decontaminate(withNull, col("text"),
      benchmarkBlock, col("text"), shingleSize = 5, minOverlap = 1))
    assert(kept == (1L to 500L).filter(_ % 25 != 0) ++ Seq(9998L, 9999L))
    // a blocklist bigger than the cap is refused before it reaches the driver
    val err = intercept[IllegalArgumentException] {
      Dedup.shingleOverlap(Dedup.blocklistShingles(contaminatedCorpus, col("text"), 5),
        col("text"), 5, maxShingles = 10L)
    }
    assert(err.getMessage.contains("blocklist has > 10 distinct shingles"))
  }

  test("minhash near-dup pairs find planted duplicates only") {
    val df = nearDupCorpus.toDF("id", "text")
    val pairs = Dedup.nearDupPairsMinHash(df, col("id"), col("text"), threshold = 0.7)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 103L), (7L, 107L), (11L, 111L)))
  }

  test("deduplicateMinHash keeps first of each duplicate set") {
    val df = nearDupCorpus.toDF("id", "text")
    val out = Dedup.deduplicateMinHash(df, col("id"), col("text"), threshold = 0.7)
      .select("id").as[Long].collect().toSet
    assert(out == (0 until 40).map(_.toLong).toSet)
  }

  test("prefix-filter jaccard join equals brute-force all-pairs at every threshold") {
    val df = nearDupCorpus.toDF("id", "text")
    val sh = df.select(col("id"),
      TextFunctions.hashedTextShingles(col("text"), 3).as("s"))
    for (t <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val brute = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
        .withColumn("j", TextFunctions.jaccard(col("a.s"), col("b.s")))
        .filter(col("j") >= t)
        .select(col("a.id"), col("b.id"), col("j"))
        .as[(Long, Long, Double)].collect().toSet
      val pref = graft.dedup.PrefixJoin.jaccardJoinPrefix(
        df, col("id"), col("text"), threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref == brute, s"threshold $t: prefix join != brute force")
    }
  }

  test("prefix join is robust to empty/short docs; exact keep-first dedup works") {
    val df = (nearDupCorpus ++ Seq((300L, ""), (301L, "one"), (302L, "two words here")))
      .toDF("id", "text")
    val pairs = graft.dedup.PrefixJoin.jaccardJoinPrefix(
      df, col("id"), col("text"), threshold = 0.7)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 103L), (7L, 107L), (11L, 111L)))
    val kept = graft.dedup.PrefixJoin.deduplicateExactJaccard(
      df, col("id"), col("text"), threshold = 0.7)
      .select("id").as[Long].collect().toSet
    assert(kept == (0 until 40).map(_.toLong).toSet ++ Set(300L, 301L, 302L))
  }

  test("prefix join plans equi-joins only — no cartesian anywhere") {
    val df = nearDupCorpus.toDF("id", "text")
    val formatted = PinnedPlan(spark)(graft.dedup.PrefixJoin.jaccardJoinPrefix(
      df, col("id"), col("text"), threshold = 0.7))._2.toString
    assert(!formatted.contains("CartesianProduct") &&
      !formatted.contains("BroadcastNestedLoop"), formatted.take(2000))
  }

  test("cross-corpus near-dup matches exact pairs and leaves the reference alone") {
    // reference = the 40 base docs; "new batch" = the planted dups of 3/7/11
    // plus two genuinely new docs that must survive
    val reference = nearDupCorpus.filter(_._1 < 100).toDF("id", "text")
    val batch = (nearDupCorpus.filter(_._1 >= 100) ++ Seq(
      (200L, "entirely fresh document about quasars and neutron stars colliding"),
      (201L, "another fresh document mentioning tokamaks and stellarators")))
      .toDF("id", "text")
    val pairs = Dedup.nearDupPairsMinHashAgainst(
      batch, reference, col("id"), col("text"), threshold = 0.7)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs == Set((103L, 3L), (107L, 7L), (111L, 11L)))
    val kept = Dedup.deduplicateAgainst(
      batch, reference, col("id"), col("text"), threshold = 0.7)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(200L, 201L))
  }

  test("cross-corpus candidate dedup shuffles bare id pairs, not shingle arrays") {
    val reference = nearDupCorpus.filter(_._1 < 100).toDF("id", "text")
    val batch = nearDupCorpus.filter(_._1 >= 100).toDF("id", "text")
    val (_, pinned) = PinnedPlan(spark)(Dedup.nearDupPairsMinHashAgainst(
      batch, reference, col("id"), col("text"), threshold = 0.7))
    // the distinct on candidates must run BEFORE shingles re-attach: no
    // HashAggregate (the distinct) may list a shingles attribute in its keys
    val plan = pinned.toString
    val aggLines = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggLines.nonEmpty)
    assert(!aggLines.exists(_.contains("shingles")),
      s"candidate distinct carries shingle arrays:\n${aggLines.mkString("\n")}")
  }

  test("saved dedup index reproduces the direct cross-corpus path row-for-row") {
    import graft.dedup.DedupIndex
    val reference = (nearDupCorpus.filter(_._1 < 100) ++ Seq(
      (200L, "entirely fresh document about quasars and neutron stars colliding"),
      (201L, "another fresh document mentioning tokamaks and stellarators")))
      .toDF("id", "text")
    val batch = nearDupCorpus.filter(_._1 >= 100).toDF("id", "text")
    val idx = graft.createTemporaryDir("dedup-index-test")
    DedupIndex.saveDedupIndex(reference, col("id"), col("text"), idx)
    // params round-trip (and their presence marks a complete save)
    val p = DedupIndex.readIndexParams(spark, idx)
    assert(p == DedupIndex.IndexParams(3, 16, 8, 1000))
    val viaIndex = DedupIndex.nearDupPairsAgainstIndex(
      batch, col("id"), col("text"), idx, threshold = 0.7)
      .select("idA", "idB", "jaccard").as[(Long, Long, Double)].collect().toSet
    val direct = Dedup.nearDupPairsMinHashAgainst(
      batch, reference, col("id"), col("text"), threshold = 0.7)
      .select("idA", "idB", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(viaIndex == direct && viaIndex.map(t => (t._1, t._2)) ==
      Set((103L, 3L), (107L, 7L), (111L, 11L)), viaIndex.toString)
    val kept = DedupIndex.deduplicateAgainstIndex(
      batch, col("id"), col("text"), idx, threshold = 0.7)
      .select("id").as[Long].collect().toSet
    assert(kept.isEmpty) // every batch doc near-duplicates the reference
    // a half-written index (no params) fails loudly, not silently-empty
    val broken = graft.createTemporaryDir("dedup-index-broken")
    intercept[Exception] {
      DedupIndex.nearDupPairsAgainstIndex(batch, col("id"), col("text"), broken)
    }
    // ingest loop: append a batch, the NEXT increment sees both generations
    DedupIndex.appendToDedupIndex(
      Seq((300L, "entirely fresh appended doc about gravitational lensing surveys maps"))
        .toDF("id", "text"), col("id"), col("text"), idx)
    val gen2 = Seq(
      (400L, "entirely fresh appended doc about gravitational lensing surveys maps today"), // ~dup of 300 (one appended word, J = 8/9)
      (401L, nearDupCorpus.find(_._1 == 5L).get._2)) // exact dup of original 5
      .toDF("id", "text")
    val pairs2 = DedupIndex.nearDupPairsAgainstIndex(
      gen2, col("id"), col("text"), idx, threshold = 0.7)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs2 == Set((400L, 300L), (401L, 5L)), pairs2.toString)
  }

  test("tfidfTerms ranks group-distinctive terms first, boilerplate scores zero") {
    // 8 docs, two sources; 'common' appears in every doc (idf_bits 0),
    // 'alpha*' only in a-docs, 'beta*' only in b-docs
    val docs = (0 until 4).map(i => (s"a$i", "a", s"common alpha$i alphaterm filler$i")) ++
      (0 until 4).map(i => (s"b$i", "b", s"common beta$i betaterm filler${i + 10}"))
    val df = docs.toDF("id", "src", "text")
    val out = graft.text.CorpusStats.tfidfTerms(df, col("src"), col("text"), k = 2)
      .select("group_key", "term", "tf_docs", "df_docs", "score", "rank")
      .as[(String, String, Long, Long, Long, Int)].collect()
    val byGroup = out.groupBy(_._1)
    // top term per source is its distinctive marker: tf=4, df=4, idf=floor(log2(8/4))=1
    assert(byGroup("a").minBy(_._6)._2 == "alphaterm")
    assert(byGroup("b").minBy(_._6)._2 == "betaterm")
    assert(byGroup("a").minBy(_._6)._5 == 4L) // score = 4 * 1
    // 'common' (df = 8, idf_bits = 0) can never outrank: score 0
    assert(!out.exists(r => r._2 == "common"))
    // rank column is dense 1..k per group
    assert(byGroup.values.forall(g => g.map(_._6).sorted.toSeq == Seq(1, 2)))
  }

  test("simhash near-dup pairs find planted duplicates only") {
    val df = nearDupCorpus.toDF("id", "text")
    val pairs = Dedup.nearDupPairsSimHash(df, col("id"), col("text"), threshold = 0.7)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 103L), (7L, 107L), (11L, 111L)))
  }

  test("tokenize_ascii kernel matches the regex definition on unicode input") {
    // includes the two codepoints whose lowercase maps into ASCII:
    // U+212A KELVIN SIGN (-> 'k', merges with neighbors) and U+0130 LATIN
    // CAPITAL I WITH DOT (-> 'i' + combining dot, which then separates)
    val samples = Seq("Héllo W0rld", "ABC def-GHI", "  ", "", "über42 straße", "a,b;;c",
      "300K warm", "aKb", "KK", "İstanbul", "xİy", "İ",
      "mix K and İ both")
    val df = samples.toDF("t")
    val kernel = df.select(TextFunctions.tokenize(col("t"), TextFunctions.AsciiTokenPattern).as("k"))
      .as[Seq[String]].collect()
    val regex = df.select(
      filter(split(lower(col("t")), "[^a-z0-9]+"), x => length(x) > 0).as("r"))
      .as[Seq[String]].collect()
    samples.indices.foreach(i => assert(kernel(i) == regex(i), s"input '${samples(i)}'"))
  }

  test("canonicalize_text: NFC compose, control strip, whitespace collapse, trim") {
    val samples = Seq(
      "cafe\u0301 composed",        // decomposed accent -> composed
      "café stays",            // already NFC
      "a\u0000b\u0001c\u007fd",     // C0 + DEL stripped
      "x\u000by",                   // vertical tab is control, not whitespace
      "  hello \t\n  world  ",      // collapse + trim
      "", "   ", "\t\n\f\r",        // empty / whitespace-only
      "keep nbsp",             // NBSP is NOT in the collapse class
      "emoji 😀 ok")      // surrogate pair preserved
    val got = samples.toDF("t")
      .select(TextFunctions.canonicalizeText(col("t")).as("n"))
      .as[String].collect()
    val expected = Seq(
      "café composed", "café stays", "abcd", "xy",
      "hello world", "", "", "", "keep nbsp", "emoji 😀 ok")
    samples.indices.foreach(i =>
      assert(got(i) == expected(i), s"input ${samples(i).map(_.toInt)}"))
    // identical decision through the SQL registration
    graft.GraftExtensions.registerAll(spark)
    val viaSql = spark.sql("SELECT canonicalize_text('  a\tb  ') AS n")
      .as[String].collect().head
    assert(viaSql == "a b")
  }

  test("contaminationReport scores overlap fraction; filter agrees with decontaminateBroadcast") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // shares a 5-gram prefix
      (2L, "unrelated words entirely different here okay"),
      (3L, "x")                                      // no 5-gram shingles
    ).toDF("id", "text")
    val block = Seq("alpha beta gamma delta epsilon").toDF("text")
    val rep = graft.dedup.Dedup.contaminationReport(
        docs, col("id"), col("text"), block, col("text"), shingleSize = 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rep(1L).getLong(2) == 1L && rep(1L).getLong(1) == 2L)
    assert(rep(1L).getDouble(3) == 0.5)
    assert(rep(2L).getLong(2) == 0L && rep(2L).getDouble(3) == 0.0)
    assert(rep(3L).getLong(1) == 0L && rep(3L).getDouble(3) == 0.0)
    // the report's minOverlap-1 decision equals the filter's
    val kept = graft.dedup.Dedup.decontaminate(
        docs, col("text"), block, col("text"), shingleSize = 5)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L) && kept == rep.filter(_._2.getLong(2) == 0L).keySet)
  }

  test("corpus drift: exact deltas, one-sided groups read as zero") {
    val before = Seq(
      ("a", "the cat sat"), ("a", "a dog ran"), ("gone", "old words here")
    ).toDF("src", "text")
    val after = Seq(
      ("a", "the cat sat"), ("new", "fresh content now in a new group")
    ).toDF("src", "text")
    val rows = graft.text.CorpusDrift.report(before, after, col("src"), col("text"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("a", "gone", "new"))
    assert(rows("a").getLong(1) == 2L && rows("a").getLong(2) == 1L &&
      rows("a").getLong(3) == -1L)
    assert(rows("gone").getLong(2) == 0L && rows("gone").getLong(3) == -1L)
    assert(rows("gone").getLong(6) == -3L) // "old words here" = 3 tokens
    assert(rows("gone").getDouble(8) == 0.0) // empty after side -> ratio 0
    assert(rows("new").getLong(1) == 0L && rows("new").getLong(4) == 0L)
    // token delta is exact: "the cat sat" has 3 tokens on both sides
    assert(rows("a").getLong(6) == 3L - 7L + 0L ||
      rows("a").getLong(6) == rows("a").getLong(5) - rows("a").getLong(4))
  }

  test("hashed shingles count matches string shingles count (incl. unicode)") {
    val docs = Seq("a b c d e a b c d e", "Héllo wörld this is mixed über text ja",
      "one two", "x y z x y z x y z",
      "temp 300K rose bİr iki üç dört beş altı")
    val df = docs.toDF("t")
    val hashed = df.select(size(TextFunctions.hashedTextShingles(col("t"), 3)).as("n")).as[Int].collect()
    val strings = df.select(size(TextFunctions.textShingles(col("t"), 3)).as("n")).as[Int].collect()
    assert(hashed.toSeq == strings.toSeq)
  }

  test("word_shingles kernel matches the HOF shingle definition (incl. unicode)") {
    val docs = Seq("a b c d e a b c d e", "Héllo wörld this is mixed über text ja",
      "one two", "x", "", "x y z x y z x y z", "300K warm aKb İstanbul",
      "The quick brown fox the quick brown fox")
    val df = docs.toDF("t")
    for (n <- Seq(1, 2, 3)) {
      val kernel = df.select(graft.functions.vectors.word_shingles(col("t"), n).as("s"))
        .as[Seq[String]].collect()
      val hof = df.select(TextFunctions.textShingles(col("t"), n).as("s"))
        .as[Seq[String]].collect()
      docs.indices.foreach(i =>
        assert(kernel(i) == hof(i), s"n=$n input '${docs(i)}'"))
    }
  }

  test("topNgrams reports document frequencies with deterministic tie-break") {
    val df = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "the cat sat again"),
      (4L, "a dog sat"), (5L, "the cat the cat")) // dup gram counts once per doc
      .toDF("id", "text")
    val out = graft.text.CorpusStats.topNgrams(df, col("text"), n = 2, k = 3)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("the cat", 4L), ("cat sat", 2L), ("a dog", 1L)))
  }

  test("tokenizerFertility: exact per-group sums, null texts count docs only") {
    val df = Seq(
      (1L, "a", "x y z"), (2L, "a", "xx"), (3L, "b", "p q"),
      (4L, "b", null.asInstanceOf[String]))
      .toDF("id", "src", "text")
    val out = graft.text.CorpusStats.tokenizerFertility(
      df, col("src"), col("text"), Seq(
        "ws" -> ((t: org.apache.spark.sql.Column) =>
          size(regexp_extract_all(t, lit("\\S+"), lit(0)))),
        "ch" -> ((t: org.apache.spark.sql.Column) => length(t))))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out("a") == ((2L, 7L, 4L, 7L)))  // 5+2 chars, 3+1 ws pieces
    assert(out("b") == ((2L, 3L, 2L, 3L)))  // the NULL text adds a doc, no sums
    val dup = intercept[IllegalArgumentException] {
      graft.text.CorpusStats.tokenizerFertility(df, col("src"), col("text"),
        Seq("ws" -> ((t: org.apache.spark.sql.Column) => length(t)),
          "ws" -> ((t: org.apache.spark.sql.Column) => length(t))))
    }
    assert(dup.getMessage.contains("unique"))
  }

  test("near-dup dedup handles short and empty documents without pairs or crashes") {
    val df = (Seq((1L, ""), (2L, "a"), (3L, "a b"), (4L, "x y")) ++
      (10L to 20L).map(i => (i, s"long document number $i alpha beta gamma delta epsilon zeta")))
      .toDF("id", "text")
    val pairs = Dedup.nearDupPairsMinHash(df, col("id"), col("text"), threshold = 0.7)
      .collect()
    // short docs have empty shingle sets -> jaccard 0 -> never pairs
    assert(pairs.forall(r => r.getLong(0) >= 10L))
  }

  test("degenerate hot bucket is pruned before member-list aggregation") {
    // 100k identical docs land in ONE bucket per band. The cap must be
    // enforced by the pre-count semi-join BEFORE collect_list materializes
    // the member list — with the old post-filter, this built 100k-element
    // aggregation buffers; now the oversized bucket never reaches the
    // aggregate. Completes fast and returns no pairs.
    val big = spark.range(100000)
      .select(col("id"), lit("boilerplate header text repeated across the corpus").as("text"))
      .union(Seq(
        (200001L, "a genuinely unique document about salt marshes coastal tides sediment " +
          "transport estuarine ecology and migratory shorebird habitats"),
        (200002L, "a genuinely unique document about salt marshes coastal tides sediment " +
          "transport estuarine ecology and migratory shorebird habitats today"))
        .toDF("id", "text"))
    val (pairs, pinned) = PinnedPlan(spark)(Dedup.nearDupPairsMinHash(big, col("id"),
      col("text"), threshold = 0.7, maxBucketSize = 1000))
    // plan shape: the semi-join prune must sit below the collect_list agg
    val plan = pinned.toString
    assert(plan.contains("LeftSemi"), s"expected a LeftSemi bucket prune in:\n$plan")
    val found = pairs.select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(found == Set((200001L, 200002L)))
  }

  test("maxBucketSize caps degenerate buckets instead of exploding") {
    // 10 identical docs all share every band bucket; cap of 5 drops the bucket
    val dups = (1L to 10L).map(i => (i, "identical text alpha beta gamma delta epsilon"))
    val df = dups.toDF("id", "text")
    val capped = Dedup.nearDupPairsMinHash(df, col("id"), col("text"),
      threshold = 0.7, maxBucketSize = 5).count()
    assert(capped === 0L)
    val uncapped = Dedup.nearDupPairsMinHash(df, col("id"), col("text"), threshold = 0.7).count()
    assert(uncapped === 45L) // all C(10,2) pairs found without the cap
  }

  // deterministic pseudo-random unit vectors around cluster centers
  private def clusteredVectors(nClusters: Int, perCluster: Int, dim: Int, spread: Float)
  : Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(7)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rng.nextGaussian().toFloat))
    (0 until nClusters * perCluster).map { i =>
      val c = centers(i % nClusters)
      val v = c.map(x => x + spread * rng.nextGaussian().toFloat)
      val norm = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      (i.toLong, v.map(_ / norm).toSeq)
    }
  }

  test("embedding brute-force pairs match a local computation") {
    val data = clusteredVectors(4, 10, 16, 0.05f)
    val df = data.toDF("id", "vec")
    val got = Dedup.embeddingPairsBruteForce(df, col("id"), col("vec"), 0.9)
      .as[(Long, Long)].collect().toSet
    val expected = (for {
      (ia, va) <- data; (ib, vb) <- data if ia < ib
      dot = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
      na = math.sqrt(va.map(x => x.toDouble * x).sum)
      nb = math.sqrt(vb.map(x => x.toDouble * x).sum)
      if dot / (na * nb) >= 0.9
    } yield (ia, ib)).toSet
    assert(got == expected && expected.nonEmpty)
  }

  test("embedding LSH candidates: high recall on near-dups, far fewer than n^2 pairs") {
    val data = clusteredVectors(8, 8, 32, 0.02f) // tight clusters: cos ~ 0.999
    val df = data.toDF("id", "vec")
    val truePairs = Dedup.embeddingPairsBruteForce(df, col("id"), col("vec"), 0.98)
      .as[(Long, Long)].collect().toSet
    val candidates = Dedup.embeddingCandidatesLsh(df, col("id"), col("vec"), dim = 32)
      .as[(Long, Long)].collect().toSet
    val n = data.size.toLong
    assert(truePairs.nonEmpty)
    val recall = truePairs.count(candidates.contains).toDouble / truePairs.size
    assert(recall >= 0.95, s"recall $recall")
    assert(candidates.size < n * (n - 1) / 4, s"candidates ${candidates.size} vs all-pairs ${n * (n - 1) / 2}")
  }

  test("embedding LSH+verify equals the brute truth set at dense parameters, no cartesian") {
    // Dense-parameter exact-recall property on the real fixtures: with
    // bits=4/bands=96 the bucketed-candidate + in-plan exact-cosine-verify
    // path reproduces the O(n²) truth set exactly at the fixture's 0.35
    // threshold, and its plan contains no cartesian product. (The driver
    // gate query itself runs sparse production parameters over planted
    // colinear copies — next test — because recall there is structural.)
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
         if new java.io.File(s"$dir/embeddings.parquet").exists()) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val lsh = Dedup.nearDupPairsEmbeddingLsh(emb, col("vec_id"), col("embedding"),
        dim = 64, threshold = 0.35, bands = 96, bits = 4)
      val got = lsh.as[(Long, Long)].collect().toSet
      val expected = Dedup.embeddingPairsBruteForce(emb, col("vec_id"), col("embedding"), 0.35)
        .as[(Long, Long)].collect().toSet
      assert(expected.nonEmpty, dir)
      assert(got == expected,
        s"$dir: recall ${expected.count(got.contains).toDouble / expected.size}, " +
          s"spurious ${(got -- expected).size}")
      val plan = lsh.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"scalable embedding dedup must not cross-join:\n$plan")
    }
  }

  test("embedding LSH is scale-invariant: planted colinear copies always collide") {
    // the gate-query design: v and 2v produce identical sign bits under every
    // hyperplane, so each planted pair shares every band bucket and recall
    // 1.0 holds STRUCTURALLY at sparse production parameters (bits=12),
    // where a random pair collides in a band with p = 2^-12
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planted = emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val corpus = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .unionByName(planted)
    val got = Dedup.nearDupPairsEmbeddingLsh(
      corpus, col("vec_id"), col("embedding"), dim = 64,
      threshold = 0.9, bands = 16, bits = 12)
      .as[(Long, Long)].collect().toSet
    val n = emb.count()
    val expected = emb.select(col("vec_id").cast("long")).as[Long].collect()
      .map(id => (id, id + 100000L)).toSet
    assert(n > 0 && got == expected,
      s"planted pairs must be exactly the truth set: missing ${(expected -- got).size}, " +
        s"spurious ${(got -- expected).size}")
  }

  // --------------------------------------------------------------------------
  // ANN
  // --------------------------------------------------------------------------

  test("bruteForceTopK returns exact neighbors in rank order") {
    val data = clusteredVectors(3, 6, 8, 0.05f)
    val df = data.toDF("id", "vec")
    val queries = df.filter(col("id") < 3)
    val got = Ann.bruteForceTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"), k = 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // local expectation
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val byId = data.toMap
    for (q <- 0L until 3L) {
      val expected = data.filter(_._1 != q)
        .map { case (i, v) => (i, cos(byId(q), v)) }
        .sortBy { case (i, c) => (-c, i) }.take(2).map(_._1)
      assert(got(q) == expected, s"query $q")
    }
  }

  test("int8 quantization: codes/scale/decode round-trip within one step") {
    import graft.functions.vectors
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector -> zero codes, scale 0
      (3L, Array(2.0f, 2.0f, -2.0f, 1.0f))).toDF("id", "vec")
    val got = df.select(col("id"),
      vectors.int8_encode_ints(col("vec")).as("codes"),
      vectors.int8_scale(col("vec")).as("scale"),
      vectors.int8_decode(vectors.int8_encode(col("vec")), vectors.int8_scale(col("vec"))).as("back"))
      .as[(Long, Seq[Int], Double, Seq[Float])].collect().sortBy(_._1)
    // vec 1: maxabs 1.0 -> codes floor(x*127 + 0.5)
    assert(got(0)._2 == Seq(64, -127, 32, 0) && got(0)._3 == 1.0 / 127.0)
    assert(got(1)._2 == Seq(0, 0, 0, 0) && got(1)._3 == 0.0)
    assert(got(2)._2 == Seq(127, 127, -127, 64))
    // decode error bounded by half a quantization step per coordinate
    got.foreach { case (id, _, scale, back) =>
      val orig = df.filter(col("id") === id).select("vec").as[Seq[Float]].head()
      orig.zip(back).foreach { case (o, b) =>
        assert(math.abs(o - b) <= scale / 2 + 1e-6, s"id $id: $o vs $b") }
    }
  }

  test("int8BruteForceTopK matches float brute force on separated clusters") {
    val data = clusteredVectors(4, 6, 32, 0.02f)
    val df = data.toDF("id", "vec")
    val queries = df.filter(col("id") < 4)
    val brute = Ann.bruteForceTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val q8 = Ann.int8BruteForceTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.count(q8.contains).toDouble / brute.size
    assert(recall >= 0.9, s"int8 recall $recall") // near-1 at dim 32
  }

  test("bit_sign_pack packs signs into two's-complement words") {
    import graft.functions.vectors
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.0f, -0.0f)),           // bits 0,2,3 -> 13
      (2L, Array.fill(65)(1.0f)),                       // all 64 bits + bit 0
      (3L, Array.fill(64)(-1.0f))).toDF("id", "vec")   // no bits
    val got = df.select(col("id"), vectors.bit_sign_pack(col("vec")).as("w"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
    assert(got(0)._2 == Seq(13L))
    assert(got(1)._2 == Seq(-1L, 1L)) // 64 set bits = two's-complement -1
    assert(got(2)._2 == Seq(0L))
    val h = df.filter(col("id") =!= 2)
      .select(vectors.hamming_words(
        vectors.bit_sign_pack(col("vec")),
        lit(null).cast("array<bigint>")).isNull.as("n"))
      .as[Boolean].collect()
    assert(h.forall(identity)) // null-safe
    // hamming: 13 = 0b1101 vs 0 -> 3 disagreements
    val d = Seq((Array(0.5f, -1.0f, 0.0f, -0.0f), Array(-1.0f, -1.0f, -1.0f, -1.0f)))
      .toDF("a", "b")
      .select(vectors.hamming_words(
        vectors.bit_sign_pack(col("a")), vectors.bit_sign_pack(col("b"))))
      .as[Int].head()
    assert(d == 3)
  }

  test("hammingTopK exact-rerank recovers float brute force on clusters") {
    val data = clusteredVectors(4, 6, 32, 0.02f)
    val df = data.toDF("id", "vec")
    val queries = df.filter(col("id") < 4)
    val brute = Ann.bruteForceTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val hb = Ann.hammingTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"),
      k = 3, refine = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.count(hb.contains).toDouble / brute.size
    assert(recall >= 0.8, s"hamming rerank recall $recall")
    // the pure-Hamming ranking keeps queries inside their own sign cluster
    val ham = Ann.hammingBruteForceTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"), k = 3)
    assert(ham.count() == 12)
    val sameCluster = ham.filter(col("query_id") % 4 === col("neighbor_id") % 4).count()
    assert(sameCluster == 12, s"hamming kept $sameCluster/12 in-cluster")
  }

  test("mrlTopK: full-dims shortlist reproduces brute force; truncated tier recalls clusters") {
    val data = clusteredVectors(4, 6, 32, 0.02f)
    val df = data.toDF("id", "vec")
    val queries = df.filter(col("id") < 4)
    val brute = Ann.bruteForceTopK(queries, df, col("id"), col("vec"),
      col("id"), col("vec"), k = 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    // dims == full dimension: the prefix IS the vector -> row-identical
    val full = Ann.mrlTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"),
      k = 3, dims = 32, refine = 4)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(full == brute)
    // 8-dim prefix tier: cluster structure survives the truncation
    val mrl = Ann.mrlTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"),
      k = 3, dims = 8, refine = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bset = brute.map(t => (t._1, t._3))
    val recall = bset.count(mrl.contains).toDouble / bset.size
    assert(recall >= 0.8, s"mrl recall $recall")
  }

  test("lshTopK approximates brute force on tight clusters") {
    val data = clusteredVectors(5, 8, 32, 0.02f)
    val df = data.toDF("id", "vec")
    val queries = df.filter(col("id") < 5)
    val brute = Ann.bruteForceTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"),
      dim = 32, k = 3, bands = 24, bits = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.count(approx.contains).toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("lshTopK pair-dedup shuffle carries scores, not embedding vectors") {
    // the per-pair dedup is a max(cosine) aggregate: its exchange ships
    // (query_id, neighbor_id, cosine) — 8 bytes of score, not ~8 KB of vectors
    val data = clusteredVectors(5, 8, 32, 0.02f)
    val df = data.toDF("id", "vec")
    val formatted = Ann.lshTopK(df.filter(col("id") < 5), df,
      col("id"), col("vec"), col("id"), col("vec"), dim = 32, k = 3, bands = 24, bits = 8)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val sections = formatted.split("\n\n")
    val pairExchanges = sections.filter(s =>
      s.contains("Exchange") && s.contains("hashpartitioning") &&
        s.contains("query_id") && s.contains("neighbor_id"))
    assert(pairExchanges.nonEmpty, s"no pair-dedup exchange found in:\n$formatted")
    pairExchanges.foreach(s =>
      assert(!s.contains("vec"), s"pair-dedup exchange still carries vectors:\n$s"))
  }

  test("IVF: train + search approximates brute force on clustered vectors") {
    val data = clusteredVectors(6, 10, 16, 0.05f)
    val df = data.toDF("id", "vec")
    val index = Ann.trainIvf(df, col("id"), col("vec"), k = 6, iterations = 4)
    assert(index.centroids.length == 6 && index.centroids.head.length == 16)
    val queries = df.filter(col("id") < 6)
    val brute = Ann.bruteForceTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"),
      index, k = 3, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("embeddingOutliers flags the per-cluster bottom quantile, planted junk first") {
    // 3 tight clusters + 3 planted junk vectors far off every cluster axis
    val data = clusteredVectors(3, 20, 16, 0.02f)
    val junk = Seq(
      (1000L, Seq.tabulate(16)(i => if (i % 2 == 0) 0.7f else -0.7f)),
      (1001L, Seq.tabulate(16)(i => if (i % 3 == 0) -0.9f else 0.4f)),
      (1002L, Seq.tabulate(16)(i => if (i < 8) 0.1f else -0.8f)))
    val df = (data ++ junk).toDF("id", "vec")
    val index = Ann.trainIvf(df, col("id"), col("vec"), k = 3, iterations = 4)
    val out = Ann.embeddingOutliers(df, col("id"), col("vec"), index, quantile = 0.1)
      .select("id", "cid", "cluster_rank", "is_outlier")
      .as[(Long, Int, Long, Boolean)].collect()
    // every planted junk vector is flagged
    val flagged = out.filter(_._4).map(_._1).toSet
    assert(Set(1000L, 1001L, 1002L).subsetOf(flagged), s"flagged=$flagged")
    // per-cluster flag count is exactly floor(n * 0.1)
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.count(_._4) == (rows.length * 0.1).floor.toInt)
    }
    // rank 0 = farthest; flags form a prefix of the rank order
    out.groupBy(_._2).foreach { case (_, rows) =>
      val k = rows.count(_._4)
      assert(rows.filter(_._3 < k).forall(_._4))
    }
    // quantile 0 flags nothing; quantile bounds enforced
    assert(Ann.embeddingOutliers(df, col("id"), col("vec"), index, 0.0)
      .filter(col("is_outlier")).count() == 0)
    intercept[IllegalArgumentException] {
      Ann.embeddingOutliers(df, col("id"), col("vec"), index, 1.5)
    }
  }

  test("ivfAssign maps every vector to its search-path centroid, exchange-free") {
    val data = clusteredVectors(4, 8, 16, 0.05f)
    val df = data.toDF("id", "vec")
    val index = Ann.trainIvf(df, col("id"), col("vec"), k = 4, iterations = 3)
    val assigned = Ann.ivfAssign(df, col("id"), col("vec"), index)
    // narrow kernel pass: no shuffle anywhere in the plan
    val formatted = assigned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!formatted.contains("Exchange"), formatted)
    // agreement with the bucket ivfTopK searches: the probe-1 centroid
    val viaSearch = df.select(col("id"),
        get(graft.functions.vectors.nearest_centroids(col("vec"), index.centroids, 1),
          lit(0)).as("cid"))
      .as[(Long, Int)].collect().toMap
    assigned.as[(Long, Int)].collect().foreach { case (id, cid) =>
      assert(viaSearch(id) == cid, s"id $id") }
    // every cluster non-empty on well-separated data
    assert(assigned.select("cid").distinct().count() == 4)
  }

  test("PQ: encode reproduces exact codes and ADC dot on codebook points") {
    // two subspaces of 2 dims, 2 codes each; vectors sitting exactly on
    // centroid combinations must encode losslessly, and the ADC dot must
    // equal the exact dot against the reconstruction
    val codebooks: Array[Array[Array[Float]]] = Array(
      Array(Array(1f, 0f), Array(0f, 1f)),
      Array(Array(2f, 0f), Array(0f, 2f)))
    val index = Pq.PqIndex(codebooks)
    val df = Seq(
      (0L, Seq(1f, 0f, 2f, 0f)), // codes (0, 0)
      (1L, Seq(0f, 1f, 0f, 2f)), // codes (1, 1)
      (2L, Seq(1f, 0f, 0f, 2f))  // codes (0, 1)
    ).toDF("id", "vec")
    val enc = df.select(col("id"),
        graft.functions.vectors.pq_encode(col("vec"), codebooks).as("codes"))
      .as[(Long, Array[Byte])].collect().toMap
    assert(enc(0L).toSeq == Seq[Byte](0, 0))
    assert(enc(1L).toSeq == Seq[Byte](1, 1))
    assert(enc(2L).toSeq == Seq[Byte](0, 1))
    val q = Seq(3f, 5f, 7f, 11f)
    val adc = df.select(col("id"),
        graft.functions.vectors.pq_adc_dot(
          graft.functions.vectors.pq_encode(col("vec"), codebooks),
          graft.functions.vectors.pq_lut(
            typedLit(q).cast("array<float>"), codebooks),
          index.ksub).as("adc"))
      .as[(Long, Double)].collect().toMap
    // exact dots of q against the (lossless) reconstructions
    assert(adc(0L) == 3.0 * 1 + 7.0 * 2)
    assert(adc(1L) == 5.0 * 1 + 11.0 * 2)
    assert(adc(2L) == 3.0 * 1 + 11.0 * 2)
    // reconstruction norms from the code bytes
    val norms = df.select(col("id"),
        graft.functions.vectors.pq_code_norm(
          graft.functions.vectors.pq_encode(col("vec"), codebooks), index.normSq).as("n"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(norms(0L) - math.sqrt(1.0 + 4.0)) < 1e-12)
  }

  test("PQ: train + search approximates brute force on clustered vectors") {
    val data = clusteredVectors(6, 10, 16, 0.05f)
    val df = data.toDF("id", "vec")
    val index = Pq.trainPq(df, col("id"), col("vec"), dim = 16, m = 4, ksub = 8,
      iterations = 3)
    assert(index.m == 4 && index.ksub == 8 && index.subdim == 4)
    val queries = df.filter(col("id") < 6)
    val brute = Ann.bruteForceTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Pq.pqTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"),
      index, k = 3, refine = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.count(pq.contains).toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
    // the re-rank emits exact cosines: spot-check against the brute scores
    val bruteCos = Ann.bruteForceTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"), k = 3)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    Pq.pqTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"),
      index, k = 3, refine = 4)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect()
      .foreach { case (q, n, c) =>
        bruteCos.get((q, n)).foreach(b => assert(math.abs(b - c) < 1e-12, s"($q, $n)")) }
  }

  test("repeated spans: stats and removal on a hand-built corpus") {
    // "a b c" appears in docs 1 and 2 (cross-doc dup); "x x x x" repeats
    // "x x" within doc 3 (intra-doc dup, overlapping windows merge into one
    // island); doc 4 has no duplicated window
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "z a b c y"),
      (3L, "x x x x q"),
      (4L, "p q r s t")).toDF("doc_id", "text")
    val stats = graft.text.SpanDedup.repeatedSpanStats(
        docs, col("doc_id"), col("text"), k = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // k=3 windows: doc1 [a b c][b c d][c d e]; doc2 [z a b][a b c][b c y];
    // doc3 [x x x][x x x][x x q]; doc4 none duplicated.
    // duplicated: "a b c" (docs 1+2), "x x x" (twice in doc 3)
    assert(stats(1L) == ((5L, 1L, 3L)))
    assert(stats(2L) == ((5L, 1L, 3L)))
    assert(stats(3L) == ((5L, 2L, 4L))) // windows at pos 0,1 merge -> tokens 0..3
    assert(stats(4L) == ((5L, 0L, 0L)))
    val clean = graft.text.SpanDedup.removeRepeatedSpans(
        docs, col("doc_id"), col("text"), k = 3)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(clean(1L) == (("d e", 3L)))
    assert(clean(2L) == (("z y", 3L)))
    assert(clean(3L) == (("q", 4L)))
    assert(clean(4L) == (("p q r s t", 0L)))
  }

  test("repeated spans keepFirst: the canonical occurrence survives removal") {
    // same corpus as above; canonical = smallest (doc_id, pos) per window:
    // "a b c" keeps its doc-1 copy (doc 1 now unchanged), doc 2 still loses
    // it; "x x x" keeps pos 0 in doc 3 (only the pos-1 window is marked, so
    // tokens 1..3 go and the leading x survives)
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "z a b c y"),
      (3L, "x x x x q"),
      (4L, "p q r s t")).toDF("doc_id", "text")
    val clean = graft.text.SpanDedup.removeRepeatedSpans(
        docs, col("doc_id"), col("text"), k = 3, keepFirst = true)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(clean(1L) == (("a b c d e", 0L)))
    assert(clean(2L) == (("z y", 3L)))
    assert(clean(3L) == (("x q", 3L)))
    assert(clean(4L) == (("p q r s t", 0L)))
    // every duplicated window string survives somewhere in the corpus
    val corpus = clean.values.map(_._1).mkString(" | ")
    assert(corpus.contains("a b c") && corpus.contains("x"))
  }

  test("repeated spans keepFirst: canonical pick is a partial aggregate, not a Window") {
    // skew pin: winner selection must be map-side combined (a hot window
    // string reduces per input partition) — no Window over the hash key,
    // which would gather every occurrence of one h into a single task
    val docs = Seq((1L, "a b c d e"), (2L, "z a b c y")).toDF("doc_id", "text")
    val plan = graft.text.SpanDedup.removeRepeatedSpans(
        docs, col("doc_id"), col("text"), k = 3, keepFirst = true)
      .queryExecution.executedPlan.toString
    // the only Windows left are the per-document interval union — none may
    // partition on the window hash h
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.forall(l => !l.matches(".*\\[h#\\d+.*")), windowLines)
    assert(plan.contains("partial_min") && plan.contains("partial_count"), plan)
  }

  test("repeated spans: removal never explodes the token stream") {
    // the only Generate in the removal plan is the window explode feeding
    // the duplicate count — the rebuild works on in-row token arrays via an
    // indexed higher-order filter, so no per-token rows ever shuffle
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val formatted = graft.text.SpanDedup.removeRepeatedSpans(
        docs, col("doc_id"), col("text"), k = 3)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val explodeArgs = formatted.split("\n").filter(_.contains("posexplode"))
    assert(explodeArgs.nonEmpty, formatted)
    explodeArgs.foreach(l =>
      assert(l.contains("wordshinglesall"),
        s"found a non-window explode (token stream?):\n$l\n$formatted"))
    assert(!formatted.contains("explode(sequence"), formatted)
  }

  test("repeated spans: the count shuffle carries hashes, not window text") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val formatted = graft.text.SpanDedup.repeatedSpanStats(
        docs, col("doc_id"), col("text"), k = 3)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val sections = formatted.split("\n\n")
    val countExchanges = sections.filter(s =>
      s.contains("Exchange") && s.contains("hashpartitioning") && s.contains("h#"))
    assert(countExchanges.nonEmpty, formatted)
    countExchanges.foreach(s =>
      assert(!s.contains("win"), s"window-count exchange carries window text:\n$s"))
  }

  test("new-operator argument validation fails fast") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val emb = Seq((1L, Seq(1f, 2f, 3f, 4f))).toDF("id", "vec")
    // PQ: dim must divide into m subspaces; ksub must fit a byte and the
    // training set must cover it
    intercept[IllegalArgumentException] {
      Pq.trainPq(emb, col("id"), col("vec"), dim = 4, m = 3, ksub = 2)
    }
    intercept[IllegalArgumentException] {
      Pq.trainPq(emb, col("id"), col("vec"), dim = 4, m = 2, ksub = 300)
    }
    intercept[IllegalArgumentException] {
      Pq.trainPq(emb, col("id"), col("vec"), dim = 4, m = 2, ksub = 16)
    }
    // classifier: the expression rejects a wrong-width weight table
    intercept[Exception] {
      graft.text.Classifier.score(docs, col("text"), Array(1, 2, 3)).collect()
    }
  }

  test("span dedup: minCount above any multiplicity removes nothing; k above doc length is a no-op") {
    val docs = Seq((1L, "a b c a b c"), (2L, "x y")).toDF("doc_id", "text")
    // "a b c" occurs twice in doc 1 -> dup at minCount=2, clean at minCount=3
    val at2 = graft.text.SpanDedup.repeatedSpanStats(docs, col("doc_id"), col("text"), k = 3)
      .filter(col("doc_id") === 1).select("dup_windows").as[Long].head()
    assert(at2 == 2)
    val at3 = graft.text.SpanDedup.repeatedSpanStats(
        docs, col("doc_id"), col("text"), k = 3, minCount = 3)
      .agg(sum("dup_windows")).as[Long].head()
    assert(at3 == 0)
    // k larger than every document: no windows, full pass-through
    val full = graft.text.SpanDedup.removeRepeatedSpans(
        docs, col("doc_id"), col("text"), k = 10)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(full(1L) == (("a b c a b c", 0L)))
    assert(full(2L) == (("x y", 0L)))
  }

  test("BM25: scale parameter changes resolution, not ranking") {
    val docs = Seq((1L, "cat dog cat"), (2L, "dog bird"), (3L, "cat"))
      .toDF("doc_id", "text")
    val queries = Seq((0L, Seq("cat"))).toDF("query_id", "terms")
    def ranks(scale: Long) = graft.text.Bm25.topK(docs, col("doc_id"), col("text"),
        queries, col("query_id"), col("terms"), k = 10, scale = scale)
      .select("rank", "doc_id").as[(Int, Long)].collect().sorted.toSeq
    assert(ranks(1000000L) == ranks(1000L))
  }

  test("hashed linear classifier: exact logit matches a local reimplementation") {
    val weights = Array.tabulate(256)(i => ((i * 31 + 3) % 11) - 5)
    def localBucket(s: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8"))(0) & 0xFF
    }
    def localLogit(text: String): Long = {
      val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val unis = toks.map(t => weights(localBucket(t)).toLong).sum
      val bigs = toks.sliding(2).filter(_.length == 2)
        .map(p => weights(localBucket(p.mkString(" "))).toLong).sum
      unis + bigs
    }
    val docs = Seq((1L, "Cat dog CAT"), (2L, "one"), (3L, ""), (4L, "a b c d e f"))
      .toDF("doc_id", "text")
    val got = graft.text.Classifier.score(docs, col("text"), weights)
      .select("doc_id", "logit", "keep").as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 == localLogit("Cat dog CAT"))
    assert(got(2L)._1 == localLogit("one"))
    assert(got(3L)._1 == 0L)
    assert(got(4L)._1 == localLogit("a b c d e f"))
    got.foreach { case (_, (l, keep)) => assert(keep == (l >= 0L)) }
    // filter agrees with score
    val keptIds = graft.text.Classifier.filterByScore(docs, col("text"), weights)
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds == got.filter(_._2._2).keySet)
  }

  test("foldAccents drops combining marks, keeps undecomposable letters, ASCII fast path") {
    val got = Seq("Café ÜBER niño — ø straße", "plain ascii")
      .toDF("t").select(TextFunctions.foldAccents(col("t")).as("f"))
      .as[String].collect().toSeq
    // ø has no decomposition (kept); ß is not a mark (kept); marks drop
    assert(got == Seq("Cafe UBER nino — ø straße", "plain ascii"))
    // SQL registration round-trips
    graft.GraftExtensions.registerAll(spark)
    val viaSql = spark.sql("SELECT fold_accents('élan') AS f").as[String].head()
    assert(viaSql == "elan")
    // strip_html registers too, and the SQL expression equals the Column API
    val html = "<p>Hi&nbsp;&amp; <b>bye</b></p>"
    val viaSqlHtml = spark.sql(s"SELECT strip_html('$html') AS c").as[String].head()
    val viaCol = Seq(html).toDF("t")
      .select(graft.text.Html.stripHtml(col("t")).as("c")).as[String].head()
    assert(viaSqlHtml == viaCol && viaCol == "Hi & bye")
  }

  test("stripHtml drops script/style/comments/tags and decodes entities in order") {
    val html = "<html><head><style>p{x}</style><script>var a='<p>';</script></head>" +
      "<body><!-- note --><h1>Title</h1><p>Hello&nbsp;&lt;world&gt; &quot;q&quot; " +
      "&amp;amp; done&#33;</p></body></html>"
    val got = Seq(html).toDF("t")
      .select(graft.text.Html.stripHtml(col("t")).as("c")).as[String].head()
    // entities decode AFTER stripping: &lt;world&gt; stays literal text;
    // &amp;amp; decodes exactly once; &#33; (numeric) becomes a space
    assert(got == "Title Hello <world> \"q\" &amp; done")
    // plain text passes through modulo whitespace collapse
    val plain = Seq("no   markup\there").toDF("t")
      .select(graft.text.Html.stripHtml(col("t")).as("c")).as[String].head()
    assert(plain == "no markup here")
  }

  test("decodeNumericEntities: code points, space-class collapse, malformed stay literal") {
    def dec(s: String): String = Seq(s).toDF("t")
      .select(graft.functions.vectors.decode_numeric_entities(col("t")).as("c"))
      .as[String].head()
    assert(dec("A&#66;&#x43;!") == "ABC!")                // dec + hex
    assert(dec("smile &#x1F600;") == "smile 😀") // astral plane
    assert(dec("caf&#233;") == "café")
    // whitespace-class / control / invalid -> one space
    assert(dec("a&#160;b") == "a b")       // U+00A0
    assert(dec("a&#10;b&#x9;c") == "a b c")
    assert(dec("a&#7;b") == "a b")         // BEL control
    assert(dec("a&#xD800;b") == "a b")     // surrogate
    assert(dec("a&#1114112;b") == "a b")   // > U+10FFFF
    assert(dec("a&#0;b") == "a b")         // NUL
    assert(dec("a&#1114111;b") == "a􏿿b") // max valid cp
    // malformed references stay literal
    assert(dec("&#; &#xZZ; &#x; &#") == "&#; &#xZZ; &#x; &#")
    // unterminated digits (no ';') stay literal
    assert(dec("&#65 no") == "&#65 no")
    // stripHtml decode mode: same chain, kernel instead of space-collapse,
    // and the &-last ordering still shields double-escaped refs
    val got = Seq("<p>done&#33;</p> shield&amp;#65;x").toDF("t")
      .select(graft.text.Html.stripHtml(col("t"), decodeNumericEntities = true).as("c"))
      .as[String].head()
    assert(got == "done! shield&#65;x")
    // SQL registration round-trip
    graft.GraftExtensions.registerAll(spark)
    assert(spark.sql("SELECT decode_numeric_entities('x&#89;z') AS c")
      .as[String].head() == "xYz")
  }

  test("cdcChunks: sizes partition the payload, boundaries are insertion-stable, report sees planted dup mass") {
    import graft.multimodal.Cdc
    val rng = new scala.util.Random(11)
    val base = Array.fill[Byte](4000)(rng.nextInt(256).toByte)
    def chunksOf(p: Array[Byte]): (Seq[Long], Seq[Int]) = {
      val row = Seq(Tuple1(p)).toDF("p")
        .select(Cdc.cdcChunks(col("p"), avgBits = 5, minSize = 16, maxSize = 128).as("c"))
        .select(col("c.hashes"), col("c.sizes"))
        .as[(Seq[Long], Seq[Int])].head()
      row
    }
    val (hs, ss) = chunksOf(base)
    assert(ss.sum == base.length)                       // sizes partition the payload
    assert(ss.init.forall(s => s >= 16 && s <= 128))    // bounds hold (last may be short)
    assert(ss.last <= 128)
    assert(hs.length == ss.length && hs.length > 10)
    // insertion stability: a 10-byte insert at the front realigns after the
    // next boundary — the two chunkings share most hashes (fixed-size
    // blocking would share none)
    val shifted = Array.fill[Byte](10)(7.toByte) ++ base
    val (hs2, _) = chunksOf(shifted)
    val shared = hs.toSet.intersect(hs2.toSet).size
    assert(shared >= hs.length - 3, s"only $shared/${hs.length} chunks survived the insert")
    // edge cases: empty -> no chunks; sub-min payload -> one chunk
    assert(chunksOf(Array.emptyByteArray)._1.isEmpty)
    assert(chunksOf("tiny".getBytes)._2 == Seq(4))
    // report: two payloads sharing `base` as a block -> dedup_ratio > 0,
    // and bytes accounting is exact
    val two = Seq(Tuple1(base), Tuple1(base ++ "unique tail content here".getBytes))
      .toDF("payload")
    val rep = Cdc.chunkDedupReport(two, col("payload"), avgBits = 5, minSize = 16, maxSize = 128)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(rep._3 == 4000L + 4000L + 24L, s"total_bytes: $rep")
    assert(rep._4 < rep._3 && rep._5 > 0.4, s"planted dup mass missed: $rep")
    // SQL registration round-trip (struct result, explicit params)
    graft.GraftExtensions.registerAll(spark)
    val viaSql = spark.sql(
      "SELECT cdc_chunks(CAST('tiny' AS BINARY), 5, 16, 128).sizes AS s")
      .as[Seq[Int]].head()
    assert(viaSql == Seq(4))
  }

  test("payloadNearDupPairs pairs edited copies, caps boilerplate chunks") {
    import graft.multimodal.Cdc
    val rng = new scala.util.Random(13)
    def rand(n: Int) = Array.fill[Byte](n)(rng.nextInt(256).toByte)
    val base = rand(4000)
    val hot = rand(600) // a "container magic" block shared by EVERY payload
    val others = (3 to 30).map(i => (i.toLong, hot ++ rand(3000)))
    val corpus = (Seq(
      (1L, hot ++ base),                                    // near-dup of 2
      (2L, hot ++ base ++ "watermark".getBytes)) ++ others) // 3..30 unrelated
      .toDF("id", "payload")
    val pairs = Cdc.payloadNearDupPairs(
      corpus, col("id"), col("payload"),
      minContainment = 0.5, maxChunkCopies = 10,
      avgBits = 5, minSize = 16, maxSize = 128)
      .as[(Long, Long, Long, Double)].collect()
    // only (1, 2) survives: the hot block is in 30 payloads > cap, so it
    // cannot glue unrelated payloads together; the edited copy pair shares
    // nearly all of its chunk mass
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)), pairs.mkString(", "))
    assert(pairs.head._4 > 0.8, s"containment: ${pairs.head._4}")
  }

  test("noveltyProfile / duplicateGramMass: cross-doc set semantics, hashed == string") {
    import graft.text.CorpusStats
    val docs = Seq(
      (1L, "the quick brown fox jumps"),        // shares "the quick brown"/"quick brown fox" with 2
      (2L, "the quick brown fox sleeps"),
      (3L, "alpha beta gamma alpha beta gamma"), // self-repetition only: NOT duplicated
      (4L, "one two"),                           // < n tokens: 0 grams, NULL fraction
      (5L, "totally unrelated text here")
    ).toDF("doc_id", "text")
    val prof = CorpusStats.noveltyProfile(docs, col("doc_id"), col("text"), n = 3)
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1)
    // doc1: grams {the quick brown, quick brown fox, brown fox jumps} — first two shared with doc2
    assert(prof(0) == ((1L, 3L, 2L, Some(2.0 / 3.0))), prof(0).toString)
    assert(prof(1) == ((2L, 3L, 2L, Some(2.0 / 3.0))), prof(1).toString)
    // doc3 repeats its own phrase: distinct-set semantics, no other doc shares it
    assert(prof(2)._3 == 0L && prof(2)._4.contains(0.0), prof(2).toString)
    assert(prof(3) == ((4L, 0L, 0L, None)), prof(3).toString)
    assert(prof(4)._3 == 0L, prof(4).toString)

    val mass = CorpusStats.duplicateGramMass(docs, col("text"), n = 3)
      .as[(Long, Long, Long, Long, Double)].collect().head
    // occurrences (distinct per doc): doc1 3 + doc2 3 + doc3 3 (its repeated
    // trigram deduped) + doc5 2 = 11; dup grams: 2 grams x 2 docs = 4
    assert(mass == ((11L, 9L, 4L, 2L, 4.0 / 11.0)), mass.toString)

    // hashed production path: identical numbers (no 64-bit collisions here)
    val hashedProf = CorpusStats.noveltyProfile(
      docs, col("doc_id"), col("text"), n = 3, hashed = true)
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1)
    assert(hashedProf.toSeq == prof.toSeq)
    val hashedMass = CorpusStats.duplicateGramMass(docs, col("text"), n = 3, hashed = true)
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(hashedMass == mass)
  }

  test("matched_patterns: one AC pass finds overlapping/nested hits; SQL-registered") {
    import graft.functions.AcAutomaton
    def mp(text: String, pats: String*): Seq[Int] = Seq(text).toDF("t")
      .select(graft.functions.vectors.matched_patterns(col("t"), pats).as("m"))
      .as[Seq[Int]].head()
    // nested ("can" in "scan") and extending ("scan slow") patterns all fire
    assert(mp("the scan slowed", "scan slow", "scan", "can", "zzz") == Seq(0, 1, 2))
    // fail-link case: "ab" then "ba" overlap inside "aba"
    assert(mp("aba", "ab", "ba", "aba", "bab") == Seq(0, 1, 2))
    assert(mp("no hits here", "xyz") == Seq())
    // suffix-via-fail output: pattern ending mid-walk of a longer pattern
    assert(mp("xhersheyx", "hershey", "she", "he", "hers") == Seq(0, 1, 2, 3))
    // utf-8 byte matching never straddles codepoint boundaries
    assert(mp("naïve café", "ïv", "café", "afé") == Seq(0, 1, 2))
    assert(mp("héllo", "é") == Seq(0))
    // kernel-direct: duplicates in text report once
    val ac = new AcAutomaton(Seq("aa"))
    assert(ac.matches(org.apache.spark.unsafe.types.UTF8String.fromString("aaaa")).toSeq == Seq(0))
    graft.GraftExtensions.registerAll(spark)
    assert(spark.sql("SELECT matched_patterns('scan slowed', 'scan slow', 'zz') AS m")
      .as[Seq[Int]].head() == Seq(0))
  }

  test("mask_patterns: leftmost-longest non-overlapping masking; SQL-registered") {
    def mk(text: String, pats: Seq[String], mask: String = "#"): String =
      Seq(text).toDF("t")
        .select(graft.functions.vectors.mask_patterns(col("t"), pats, mask).as("m"))
        .as[String].head()
    // longest-at-position wins over its nested prefix/suffix patterns
    assert(mk("a scan can be scanned", Seq("scan", "can")) == "a # # be #ned")
    // leftmost wins: 'hers' at 0 beats 'he' at 0; the 'he' at 4 still masks
    assert(mk("hershey", Seq("she", "he", "hers")) == "##y")
    // overlap resolution: 'she' at 0 consumes the 'he' at 1
    assert(mk("shehe", Seq("she", "he")) == "##")
    assert(mk("she sells seashells", Seq("she", "he")) == "# sells sea#lls")
    // multibyte pattern, ascii lookalike untouched; splices stay valid utf-8
    assert(mk("cafe café cafés", Seq("café")) == "cafe # #s")
    // no hits -> identity (same object semantics not required, same value is)
    assert(mk("nothing", Seq("zzz")) == "nothing")
    // whole-string and adjacent back-to-back phrase hits
    assert(mk("ababab", Seq("ab"), "[X]") == "[X][X][X]")
    // mask text may itself contain pattern text without re-scanning
    assert(mk("he said", Seq("he"), "he!") == "he! said")
    graft.GraftExtensions.registerAll(spark)
    assert(spark.sql("SELECT mask_patterns('a scan', '█', 'scan', 'can') AS m")
      .as[String].head() == "a █")
  }

  test("readabilityStats counts words/sentences/syllable-runs; fleschScore formula") {
    import graft.text.TextFunctions._
    def rs(s: String): Seq[Long] = Seq(s).toDF("t")
      .select(readabilityStats(col("t")).as("r")).as[Seq[Long]].head()
    // "The cat sat." -> 3 words, 1 sentence, 3 single-vowel-run syllables
    assert(rs("The cat sat.") == Seq(3L, 1L, 3L))
    // vowel RUNS not vowels: "queueing" = q-ueuei-ng = 1 run... 'ueuei' is
    // one maximal run -> 1; "bee" -> 1; vowel-less "zzz" floors to 1
    assert(rs("queueing bee zzz") == Seq(3L, 1L, 3L))
    // punctuation runs: "!!!" is ONE sentence boundary; "?!" one run too;
    // no terminal punctuation floors sentences at 1
    assert(rs("Wow!!! Really?! ok") == Seq(3L, 2L, 4L)) // Really = ea + y
    assert(rs("no punctuation here") == Seq(3L, 1L, 6L))
    // digits split words: "N0" = word "N" (floored 1 syllable) + boundary
    assert(rs("N0") == Seq(1L, 1L, 1L))
    // empty / non-ASCII-only: zero words, sentence floor still 1
    assert(rs("") == Seq(0L, 1L, 0L))
    assert(rs("日本語") == Seq(0L, 1L, 0L))
    // flesch: exact IEEE expression over the counts; wordless -> 0.0
    val f = Seq("The cat sat.").toDF("t").select(fleschScore(col("t"))).as[Double].head()
    assert(math.abs(f - (206.835 - 1.015 * 3.0 - 84.6)) < 1e-12)
    assert(Seq("").toDF("t").select(fleschScore(col("t"))).as[Double].head() == 0.0)
    graft.GraftExtensions.registerAll(spark)
    assert(spark.sql("SELECT readability_stats('Hi there.') AS r")
      .as[Seq[Long]].head() == Seq(2L, 1L, 3L))
  }

  test("withLinkStats: extraction boundaries, dup counting, density division") {
    val df = Seq(
      (1L, "see https://a.b/c?d=1 and (https://a.b/c?d=1) or http://x.y/z."),
      (2L, "no links at all"),
      (3L, "")).toDF("id", "t")
    val got = graft.text.Urls.withLinkStats(df, col("t"))
      .select("id", "n_urls", "n_distinct_urls", "url_chars", "link_density")
      .as[(Long, Int, Int, Int, Double)].collect().sortBy(_._1)
    // ')' ends a URL; '.' does NOT (real URLs carry dots) — the trailing
    // "z." keeps its dot, documented prose-boundary trade-off
    assert(got(0)._2 == 3 && got(0)._3 == 2, s"${got(0)}")
    assert(got(0)._4 == 17 + 17 + 13, s"${got(0)}") // 2x ...c?d=1 + x.y/z.
    assert(got(1) == ((2L, 0, 0, 0, 0.0)))
    assert(got(2) == ((3L, 0, 0, 0, 0.0))) // empty text: defined 0, no NaN
  }

  test("scriptProfile counts codepoints by explicit ranges; astral = 1; SQL-registered") {
    def sp(s: String): Seq[Long] = Seq(s).toDF("t")
      .select(graft.functions.vectors.script_profile(col("t")).as("p"))
      .as[Seq[Long]].head()
    //                 total latin cyr greek arabic cjk digit
    assert(sp("héllo мир 日本語 ab9") == Seq(17L, 7L, 3L, 0L, 0L, 3L, 1L))
    assert(sp("αβγ سلام こんにちは 한국") == Seq(17L, 0L, 0L, 3L, 4L, 7L, 0L))
    // astral emoji: ONE codepoint, no class; × ÷ land in latin by design
    assert(sp("a😀b×÷") == Seq(5L, 4L, 0L, 0L, 0L, 0L, 0L))
    assert(sp("") == Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L))
    graft.GraftExtensions.registerAll(spark)
    assert(spark.sql("SELECT script_profile('мир 9')[2] AS cyr, script_profile('мир 9')[6] AS d")
      .as[(Long, Long)].head() == ((3L, 1L)))
  }

  test("dehyphenate: line-break joins, chained breaks, and every preserve rule") {
    def dh(s: String): String = Seq(s).toDF("t")
      .select(graft.functions.vectors.dehyphenate(col("t")).as("c"))
      .as[String].head()
    assert(dh("exam-\nple") == "example")
    assert(dh("exam- \r\n  ple") == "example")          // CRLF + indent
    assert(dh("x-\ny-\nz") == "xyz")                    // chained, one pass
    assert(dh("stay-- \nput") == "stay-- \nput")        // '--' preserved
    assert(dh("New-\nYork") == "New-\nYork")            // uppercase continuation
    assert(dh("v1-\n2") == "v1-\n2")                    // digit before hyphen
    assert(dh("a-\n9") == "a-\n9")                      // digit continuation
    assert(dh("hy-phen") == "hy-phen")                  // mid-line
    assert(dh("tail-\n") == "tail-\n")                  // nothing after newline
    assert(dh("café-\nlatte") == "café-\nlatte")        // é is not ASCII
    assert(dh("né-\nve") == "né-\nve")                  // é BEFORE '-': not ASCII
    assert(dh("go-\ning and résu-\nmé tail") == "going and résumé tail")
    assert(dh("") == "")
    // SQL registration round-trip
    graft.GraftExtensions.registerAll(spark)
    assert(spark.sql("SELECT dehyphenate('exam-\nple') AS c").as[String].head() == "example")
  }

  test("redact_valid_cards: Luhn gate, group separators, run boundaries") {
    def rc(s: String): (String, Long) = Seq(s).toDF("t")
      .select(graft.functions.vectors.redact_valid_cards(col("t")).as("r"),
        graft.functions.vectors.valid_card_count(col("t")).as("n"))
      .as[(String, Long)].head()
    // 4111111111111111 is Luhn-valid; ...1112 is not
    assert(rc("pay 4111111111111111 now") == (("pay [CARD] now", 1L)))
    assert(rc("pay 4111111111111112 now") == (("pay 4111111111111112 now", 0L)))
    assert(rc("4111 1111 1111 1111") == (("[CARD]", 1L)))
    assert(rc("4111-1111-1111-1111") == (("[CARD]", 1L)))
    assert(rc("4111 1111-1111 1111") == (("[CARD]", 1L)))    // mixed single seps
    assert(rc("4111  1111 1111 1111")._2 == 0L)              // double space splits
    assert(rc("123456789012") == (("123456789012", 0L)))     // 12 digits: short
    assert(rc("41111111111111110000")._2 == 0L)               // 20 digits: long
    assert(rc("order 987654321 ts 20260816053000")._2 == 0L) // non-cards survive
    assert(rc("a4111111111111111b") == (("a[CARD]b", 1L)))   // letter-adjacent
    assert(rc("4111111111111111-") == (("[CARD]-", 1L)))     // trailing sep kept
    assert(rc("x 4111111111111111 y 4111-1111-1111-1111 z")._2 == 2L)
    assert(rc("") == (("", 0L)))
    // custom token
    assert(Seq("n 4111111111111111").toDF("t")
      .select(graft.functions.vectors.redact_valid_cards(col("t"), "#").as("r"))
      .as[String].head() == "n #")
    // SQL registration round-trip
    graft.GraftExtensions.registerAll(spark)
    assert(spark.sql("SELECT redact_valid_cards('c 4111111111111111', 'X') AS r")
      .as[String].head() == "c X")
    assert(spark.sql("SELECT valid_card_count('4111 1111 1111 1111') AS n")
      .as[Long].head() == 1L)
  }

  test("fixMojibake: inverts cp1252 mis-decode to a fixpoint, never touches non-round-tripping text") {
    def fx(s: String): String = Seq(s).toDF("t")
      .select(graft.functions.vectors.fix_mojibake(col("t")).as("c"))
      .as[String].head()
    def corrupt(s: String): String =
      new String(s.getBytes("UTF-8"), "windows-1252")
    // the classic single corruption
    assert(fx(corrupt("café")) == "café")
    assert(fx("cafÃ©") == "café")                      // spelled out: Ã©  -> é
    assert(fx(corrupt("‘smart’ “quotes — dashes… €")) == "‘smart’ “quotes — dashes… €")
    // double corruption repairs via the fixpoint loop
    assert(fx(corrupt(corrupt("café…"))) == "café…")
    // conservatism: ASCII, genuine accents, mixed, and unmappables unchanged
    assert(fx("plain ascii") == "plain ascii")
    assert(fx("café — “naïve”") == "café — “naïve”")   // e9+space != valid utf-8
    assert(fx("mixed é and Ã© text") == "mixed é and Ã© text")
    assert(fx("中文 with Ã©") == "中文 with Ã©")        // cp1252-unencodable
    // Â + nbsp is the valid two-byte sequence C2 A0 -> one nbsp
    assert(fx("\u00c2\u00a0") == "\u00a0")
    // SQL registration round-trip
    graft.GraftExtensions.registerAll(spark)
    assert(spark.sql("SELECT fix_mojibake('cafÃ©') AS c").as[String].head() == "café")
  }

  test("BPE: merge learning matches the hand-computed sequence; encode inverts it") {
    import graft.text.Bpe
    // counts: (a,a) = 2*10 + 5 = 25 beats (a,b) = 18 -> merge 0 = (a,a)
    // then (a,b) = 13 beats (aa,a) = 10 -> merge 1 = (a,b)
    // then (aa,ab) = 10 beats (aa,b) = 5 -> merge 2 = (aa,ab)
    val model = Bpe.trainFromCounts(
      Array(("aaab", 10L), ("aab", 5L), ("ab", 3L)), numMerges = 3)
    assert(model.merges == IndexedSeq(("a", "a"), ("a", "b"), ("aa", "ab")))
    // exhaustion: asking for more merges than exist stops cleanly
    val ex = Bpe.trainFromCounts(Array(("ab", 1L)), numMerges = 10)
    assert(ex.merges == IndexedSeq(("a", "b")))
    // kernel encode follows ranks: lowest-rank adjacent pair first, one
    // non-overlapping left-to-right pass per merge
    def enc(s: String): Seq[String] = Seq(s).toDF("t")
      .select(Bpe.encode(col("t"), model).as("e")).as[Seq[String]].head()
    assert(enc("aaab") == Seq("aaab"))
    assert(enc("aab") == Seq("aa", "b"))     // (a,a) outranks (a,b)
    assert(enc("ab") == Seq("ab"))
    assert(enc("aabb") == Seq("aa", "b", "b"))
    assert(enc("ba") == Seq("b", "a"))       // no applicable merge
    assert(enc("aaab aab!AB") == Seq("aaab", "aa", "b", "ab"))  // per-word, ascii-lower
    assert(enc("") == Seq.empty)
    // tokenCount is the stream size
    val n = Seq("aaab ab xyz").toDF("t")
      .select(Bpe.tokenCount(col("t"), model).as("n")).as[Long].head()
    assert(n == 1 + 1 + 3)
  }

  test("BPE trained on documents round-trips through save/load deterministically") {
    import graft.text.Bpe
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val m1 = Bpe.train(docs, col("text"), numMerges = 50)
    val m2 = Bpe.train(docs, col("text"), numMerges = 50)
    assert(m1.merges == m2.merges) // no RNG anywhere
    val dir = java.nio.file.Files.createTempDirectory("bpe").toString
    Bpe.saveBpe(spark, m1, s"$dir/model")
    val m3 = Bpe.loadBpe(spark, s"$dir/model")
    assert(m3.merges == m1.merges)
    // encoding concatenates to the original ascii token stream (merges
    // never cross word boundaries, no marker)
    val row = docs.limit(5)
      .select(concat_ws("", Bpe.encode(col("text"), m1)).as("joined"),
        concat_ws("", graft.text.TextFunctions.tokenize(
          col("text"), graft.text.TextFunctions.AsciiTokenPattern)).as("plain"))
      .as[(String, String)].collect()
    row.foreach { case (joined, plain) => assert(joined == plain) }
    // the plan is a narrow kernel projection - no exchange
    val formatted = docs
      .select(Bpe.encode(col("text"), m1))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!formatted.contains("Exchange"), formatted)
  }

  test("URL canonicalization: case/port/www/fragment/tracking/sort rules") {
    import graft.text.Urls
    def c(u: String): String = Seq(u).toDF("u")
      .select(Urls.canonicalizeUrl(col("u"))).as[String].head()
    def h(u: String): String = Seq(u).toDF("u")
      .select(Urls.urlHost(col("u"))).as[String].head()
    def d(u: String): String = Seq(u).toDF("u")
      .select(Urls.registrableDomain(col("u"))).as[String].head()
    assert(c("HTTPS://WWW.Example.COM:443/Path/Sub/?utm_source=x&b=2&a=1#frag")
      == "https://example.com/Path/Sub?a=1&b=2")
    assert(c("http://example.com:8080/a/") == "http://example.com:8080/a")
    assert(c("not a url at all") == "not a url at all")
    assert(c("https://example.com/?") == "https://example.com")
    assert(c("http://example.com?x=1") == "http://example.com?x=1")
    assert(c("  http://example.com/x  ") == "http://example.com/x")
    assert(c("http://example.com/a//b/") == "http://example.com/a//b")
    assert(h("https://example.com:444/x") == "example.com")
    assert(h("nope") == "")
    assert(d("http://www.example.co.uk/") == "example.co.uk")
    assert(d("https://sub.deep.example.com/x") == "example.com")
    assert(d("http://192.168.0.1/a") == "192.168.0.1")
    assert(d("http://localhost/a") == "localhost")
    // SQL registration
    graft.GraftExtensions.registerAll(spark)
    assert(spark.sql("SELECT registrable_domain('https://www.news.com.au/s') AS d")
      .as[String].head() == "news.com.au")
    // dedup keeps the smallest id per canonical form
    val df = Seq((3L, "https://a.com/y"), (1L, "https://www.a.com/x/"),
      (2L, "https://a.com/x")).toDF("id", "u")
    val kept = Urls.dedupByCanonicalUrl(df, col("id"), col("u"))
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
    // domain stats count urls and distinct canonicals per domain
    val stats = Urls.domainStats(df, col("u"))
      .as[(String, Long, Long)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(stats == Map("a.com" -> ((3L, 2L))))
  }

  test("decodeHtmlEntities: named + numeric in one pass, single decode level") {
    def dec(s: String): String = Seq(s).toDF("t")
      .select(graft.functions.vectors.decode_html_entities(col("t")).as("c"))
      .as[String].head()
    // the HTML 4.01 named set decodes; numeric rules are unchanged
    assert(dec("caf&eacute; &mdash; &#65;&#x42;") == "café — AB")
    assert(dec("&Omega;&alpha; &ne; &hellip;") == "Ωα ≠ …")
    assert(dec("&copy;&reg;&euro;") == "©®€")
    // space-class named refs collapse to one space like &#160;
    assert(dec("a&nbsp;b&ensp;c&thinsp;d") == "a b c d")
    // ONE left-to-right pass: double escapes drop exactly one level, with
    // no &amp;-last ordering trick
    assert(dec("&amp;eacute; &amp;amp; &amp;#65;") == "&eacute; &amp; &#65;")
    assert(dec("&lt;b&gt; &quot;q&quot; &apos;a&apos;") == "<b> \"q\" 'a'")
    // unknown / unterminated / over-long names stay literal
    assert(dec("&foo; &fake123; &eacute x") == "&foo; &fake123; &eacute x")
    assert(dec("&thisisaverylongentitynamepastlimitxx;") ==
      "&thisisaverylongentitynamepastlimitxx;")
    // malformed numeric unchanged from the numeric kernel
    assert(dec("&#; &#xZZ; &# &") == "&#; &#xZZ; &# &")
    // stripHtml full-entity mode subsumes the numeric mode's chain
    val got = Seq("<p>caf&eacute;&#33;</p> <script>x&mdash;</script>&amp;lt;")
      .toDF("t")
      .select(graft.text.Html.stripHtml(col("t"), decodeNamedEntities = true).as("c"))
      .as[String].head()
    assert(got == "café! &lt;")
    // SQL registration round-trip
    graft.GraftExtensions.registerAll(spark)
    assert(spark.sql("SELECT decode_html_entities('x&eacute;&#89;z') AS c")
      .as[String].head() == "xéYz")
  }

  test("blocklist artifact round-trips and decontaminates identically to the direct path") {
    val block = Seq("the secret benchmark answer sequence alpha beta gamma delta epsilon zeta").toDF("text")
    val corpus = Seq(
      (1L, "the secret benchmark answer sequence alpha beta gamma delta epsilon zeta leaked here"),
      (2L, "perfectly clean document with its own words entirely"),
      (3L, "another clean one about different topics altogether")).toDF("id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_bl").toString
    graft.dedup.Blocklist.buildArtifact(block, col("text"), tmp, shingleSize = 5)
    def fromArtifact = graft.dedup.Blocklist.decontaminateWithArtifact(
      corpus, col("text"), tmp, shingleSize = 5)
      .select("id").as[Long].collect().toSet
    val direct = Dedup.decontaminate(
      corpus, col("text"), block, col("text"), shingleSize = 5)
      .select("id").as[Long].collect().toSet
    assert(fromArtifact == direct && fromArtifact == Set(2L, 3L))
    // an artifact written by an older build also carries a bloom/ directory:
    // it is ignored, and the decisions stay the same
    Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("bloom").write.parquet(s"$tmp/bloom")
    assert(fromArtifact == Set(2L, 3L))
  }

  test("IVF and PQ indexes persist to parquet and round-trip exactly") {
    val data = clusteredVectors(4, 10, 16, 0.05f)
    val df = data.toDF("id", "vec")
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx").toString

    val ivf = Ann.trainIvf(df, col("id"), col("vec"), k = 4, iterations = 2)
    Ann.saveIvf(spark, ivf, s"$tmp/ivf")
    val ivf2 = Ann.loadIvf(spark, s"$tmp/ivf")
    assert(ivf2.centroids.length == ivf.centroids.length)
    ivf.centroids.zip(ivf2.centroids).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }
    // assignments under the loaded index are identical
    val a1 = Ann.ivfAssign(df, col("id"), col("vec"), ivf)
      .as[(Long, Int)].collect().sorted.toSeq
    val a2 = Ann.ivfAssign(df, col("id"), col("vec"), ivf2)
      .as[(Long, Int)].collect().sorted.toSeq
    assert(a1 == a2)

    val pq = Pq.trainPq(df, col("id"), col("vec"), dim = 16, m = 4, ksub = 4,
      iterations = 2)
    Pq.savePq(spark, pq, s"$tmp/pq")
    val pq2 = Pq.loadPq(spark, s"$tmp/pq")
    assert(pq2.m == pq.m && pq2.ksub == pq.ksub && pq2.subdim == pq.subdim)
    for (s <- 0 until pq.m; c <- 0 until pq.ksub)
      assert(java.util.Arrays.equals(pq.codebooks(s)(c), pq2.codebooks(s)(c)))
    // search under the loaded codebooks is identical
    val q = df.filter(col("id") < 3)
    def topk(ix: Pq.PqIndex) = Pq.pqTopK(q, df, col("id"), col("vec"),
        col("id"), col("vec"), ix, k = 3, refine = 6)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(topk(pq) == topk(pq2))
  }

  test("multimodal payload dedup keeps smallest id; decision shuffle carries hashes, not payloads") {
    val rows = Seq(
      (1L, Array[Byte](1, 2, 3)), (2L, Array[Byte](9, 9)),
      (3L, Array[Byte](1, 2, 3)), (4L, Array[Byte](1, 2, 3)),
      (5L, Array[Byte](7))).toDF("id", "payload")
    val kept = Multimodal.dropExactPayloadDuplicates(rows, col("id"), col("payload"))
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 5L))
    // null payloads are "no payload", not duplicates of each other: all kept
    val withNulls = Seq(
      (1L, Array[Byte](1)), (2L, Array[Byte](1)),
      (3L, null: Array[Byte]), (4L, null: Array[Byte])).toDF("id", "payload")
    val keptNulls = Multimodal.dropExactPayloadDuplicates(
      withNulls, col("id"), col("payload")).select("id").as[Long].collect().toSet
    assert(keptNulls == Set(1L, 3L, 4L))
    // the keep-id decision aggregates (md5, id) pairs — the payload column
    // must be pruned before the aggregate's exchange
    val decision = Multimodal.payloadDuplicateKeepIds(rows, col("id"), col("payload"))
    val formatted = decision.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("partial_min"), formatted) // map-side combine
    val exchangeSections = formatted.split("\n\n").filter(s =>
      s.contains(") Exchange") && s.contains("hashpartitioning"))
    assert(exchangeSections.nonEmpty, formatted)
    exchangeSections.foreach(s =>
      assert(!s.contains("payload"), s"payload bytes in the decision exchange:\n$s"))
  }

  test("DSIR: weight table matches a local reimplementation") {
    def localBucket(s: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8"))(0) & 0xFF
    }
    def feats(text: String): Seq[String] = {
      val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
    }
    def bits(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    val targetDocs = Seq("alpha beta gamma", "alpha alpha beta")
    val rawDocs = targetDocs ++ Seq("zeta eta theta", "theta theta zeta", "")
    val target = targetDocs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val raw = rawDocs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

    val tCnt = new Array[Long](256); val rCnt = new Array[Long](256)
    targetDocs.flatMap(feats).foreach(g => tCnt(localBucket(g)) += 1)
    rawDocs.flatMap(feats).foreach(g => rCnt(localBucket(g)) += 1)
    val tTot = tCnt.map(_ + 1).sum; val rTot = rCnt.map(_ + 1).sum
    val expected = Array.tabulate(256)(b =>
      bits(tCnt(b) + 1) - bits(tTot) - bits(rCnt(b) + 1) + bits(rTot))

    val got = graft.text.Dsir.weightTable(target, raw, col("text"), col("text"))
      .select("bucket", "target_cnt", "raw_cnt", "weight")
      .as[(Int, Long, Long, Long)].collect()
    assert(got.length == 256)
    got.foreach { case (b, tc, rc, w) =>
      assert(tc == tCnt(b) && rc == rCnt(b) && w == expected(b), s"bucket $b")
    }
    // fitWeights materializes the same numbers, and the fused kernel scores
    // a doc to exactly sum(w over its feature occurrences)
    val fitted = graft.text.Dsir.fitWeights(target, raw, col("text"), col("text"))
    assert(fitted.toSeq == expected.map(_.toInt).toSeq)
    val scored = graft.text.Dsir.score(raw, col("text"), fitted)
      .select("id", "dsir_score").as[(Long, Long)].collect().toMap
    rawDocs.zipWithIndex.foreach { case (t, i) =>
      assert(scored(i.toLong) == feats(t).map(g => expected(localBucket(g))).sum)
    }
  }

  test("DSIR and vocab edge cases: unigram-only fit, empty vocab, empty corpus") {
    val docs = Seq((1L, "alpha beta"), (2L, "")).toDF("id", "text")
    // bigrams=false: the fit and the kernel agree on the unigram-only stream
    val w = graft.text.Dsir.fitWeights(docs, docs, col("text"), col("text"),
      bigrams = false)
    def bucket(s: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8"))(0) & 0xFF
    }
    val scored = graft.text.Dsir.score(docs, col("text"), w, bigrams = false)
      .select("id", "dsir_score").as[(Long, Long)].collect().toMap
    assert(scored(1L) == w(bucket("alpha")) + w(bucket("beta")))
    assert(scored(2L) == 0L)
    // empty vocabulary: zero coverage everywhere, no crash
    val cov = graft.text.Vocab.coverageReport(docs, col("id"), col("text"),
      Array.empty[String]).select("id", "n_in_vocab").as[(Long, Long)].collect().toMap
    assert(cov == Map(1L -> 0L, 2L -> 0L))
    // empty corpus: weight table still has 256 rows with pure-smoothing weights
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    val wt = graft.text.Dsir.weightTable(empty, empty, col("text"), col("text"))
    assert(wt.count() == 256)
    assert(wt.select("weight").distinct().as[Long].collect().toSeq == Seq(0L))
  }

  test("DSIR: production xxhash bucketing — fit and inference agree, same selection") {
    val target = Seq("alpha beta gamma alpha beta", "beta gamma alpha")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val raw = Seq(
      (10L, "alpha beta gamma beta"), (11L, "zeta eta theta eta"),
      (12L, "gamma alpha beta alpha"), (13L, "theta zeta eta zeta"))
      .toDF("id", "text")
    // xx fit counts equal a local model over the hash64 bucketing
    val counts = graft.text.Dsir.bucketCounts(raw, col("text"), bigrams = true,
      portableHash = false).as[(Int, Long)].collect().toMap
    val local = new Array[Long](256)
    Seq("alpha beta gamma beta", "zeta eta theta eta",
      "gamma alpha beta alpha", "theta zeta eta zeta").foreach { t =>
      val toks = t.split(" ").toSeq
      (toks ++ toks.sliding(2).map(_.mkString(" "))).foreach { g =>
        local((graft.functions.VectorKernels.hash64(
          org.apache.spark.unsafe.types.UTF8String.fromString(g)) & 0xFF).toInt) += 1
      }
    }
    (0 until 256).foreach(b => assert(counts.getOrElse(b, 0L) == local(b), s"bucket $b"))
    // end-to-end under the fast path: the clear-cut fixture selects the
    // same target-like docs as the portable path
    val wXx = graft.text.Dsir.fitWeights(target, raw, col("text"), col("text"),
      portableHash = false)
    val topXx = graft.text.Dsir.selectTop(raw, col("id"), col("text"), wXx,
      n = 2, portableHash = false).select("id").as[Long].collect().toSet
    assert(topXx == Set(10L, 12L))
  }

  test("DSIR: selectTop ranks target-like docs first, plans TakeOrderedAndProject") {
    val target = Seq("alpha beta gamma alpha beta", "beta gamma alpha")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val raw = Seq(
      (10L, "alpha beta gamma beta"), (11L, "zeta eta theta eta"),
      (12L, "gamma alpha beta alpha"), (13L, "theta zeta eta zeta"))
      .toDF("id", "text")
    val w = graft.text.Dsir.fitWeights(target, raw, col("text"), col("text"))
    val top = graft.text.Dsir.selectTop(raw, col("id"), col("text"), w, n = 2)
    assert(top.select("id").as[Long].collect().toSet == Set(10L, 12L))
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("Vocab: coverage report counts occurrences, probe plan has no exchange") {
    val docs = Seq(
      (1L, "the cat sat on the mat"), // 6 tokens, the x2 + cat + sat in vocab
      (2L, "Zyx Wvu qrs"),            // 3 tokens, none in vocab
      (3L, "")).toDF("id", "text")
    val vocab = Array("the", "cat", "sat", "dog")
    val got = graft.text.Vocab.coverageReport(docs, col("id"), col("text"), vocab)
      .select("id", "n_tokens", "n_in_vocab", "oov_rate")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 6L, 4L, 1.0 - 4.0 / 6.0)))
    assert(got(2L) == ((2L, 3L, 0L, 1.0)))
    assert(got(3L) == ((3L, 0L, 0L, 0.0)))
    // the probe is a narrow kernel pass: no Exchange in the scoring plan
    val plan = graft.text.Vocab.coverageReport(docs, col("id"), col("text"), vocab)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("Vocab: self-fit top tokens are deterministic and case-insensitive") {
    val docs = Seq(
      (1L, "Apple apple BANANA"), (2L, "apple cherry banana"), (3L, "date")
    ).toDF("id", "text")
    val top = graft.text.Vocab.topTokens(docs, col("text"), n = 2)
      .as[(String, Long)].collect().toSeq
    assert(top == Seq(("apple", 3L), ("banana", 2L)))
    val rep = graft.text.Vocab.selfCoverageReport(docs, col("id"), col("text"), 2)
      .select("id", "n_in_vocab").as[(Long, Long)].collect().toMap
    assert(rep == Map(1L -> 3L, 2L -> 2L, 3L -> 0L))
    // fit plans a bounded top-n, not a global sort
    val fitPlan = graft.text.Vocab.topTokens(docs, col("text"), n = 2)
      .queryExecution.executedPlan.toString
    assert(fitPlan.contains("TakeOrderedAndProject"), fitPlan)
  }

  test("BM25: hand-computed scores, bit-length idf zeroes common terms") {
    val docs = Seq(
      (1L, "cat dog cat"),
      (2L, "dog bird"),
      (3L, "fish fish fish fish")).toDF("doc_id", "text")
    val queries = Seq((0L, Seq("cat", "dog"))).toDF("query_id", "terms")
    // N=3 (bitlen 2), T=9, avgdl=3; df(cat)=1 -> idf_bits 1, df(dog)=2 ->
    // idf_bits 0 (a term in 2 of 3 docs carries no bits — quantized idf).
    // doc1 cat: tf=2, dl=3 -> sat = 2*2.2/(2+1.2) = 1.375 exactly, so
    // score = 1 * 1.375; doc2 only matches dog -> score 0.0 but still ranked.
    val got = graft.text.Bm25.topK(docs, col("doc_id"), col("text"),
        queries, col("query_id"), col("terms"), k = 10)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(got.toSeq == Seq((0L, 1, 1L, 1.375), (0L, 2, 2L, 0.0)))
  }

  test("BM25: top-k plans a map-side WindowGroupLimit") {
    val docs = Seq((1L, "cat dog"), (2L, "dog bird")).toDF("doc_id", "text")
    val queries = Seq((0L, Seq("cat"))).toDF("query_id", "terms")
    val formatted = graft.text.Bm25.topK(docs, col("doc_id"), col("text"),
        queries, col("query_id"), col("terms"), k = 3)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("WindowGroupLimit"), formatted)
  }

  test("LSH top-k with few queries: corpus vectors never enter a shuffle exchange") {
    val data = clusteredVectors(4, 10, 16, 0.05f)
    val df = data.toDF("id", "vec")
    val formatted = Ann.lshTopK(df.filter(col("id") < 4), df,
        col("id"), col("vec"), col("id"), col("vec"),
        dim = 16, k = 3, bands = 8, bits = 4)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // the tiny query side broadcasts, so the bucket join is exchange-free on
    // the corpus side; the only shuffles left are the 24-byte-row candidate
    // max-aggregate and top-k — none may carry an embedding
    assert(formatted.contains("BroadcastHashJoin"), formatted)
    formatted.split("\n\n").filter(_.contains("Exchange hashpartitioning")).foreach(s =>
      assert(!s.contains("_vec_"), s"embedding in a shuffle exchange:\n$s"))
  }

  test("PQ: the ADC scan streams codes, not corpus vectors") {
    val data = clusteredVectors(4, 8, 16, 0.05f)
    val df = data.toDF("id", "vec")
    val index = Pq.trainPq(df, col("id"), col("vec"), dim = 16, m = 4, ksub = 4,
      iterations = 2)
    val formatted = Pq.pqTopK(df.filter(col("id") < 4), df,
        col("id"), col("vec"), col("id"), col("vec"), index, k = 2, refine = 4)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // the approximate-score shortlist is a two-phase WindowGroupLimit (the
    // map-side top-(k*refine) kills the per-query row blow-up pre-exchange)
    assert(formatted.contains("WindowGroupLimit"), formatted)
    // the shortlist exchange ships (query_id, neighbor_id[, approx score]) —
    // never the corpus embedding; the only full-vector touch after the scan
    // is the |q| * k * refine join-back for exact re-rank
    val sections = formatted.split("\n\n")
    val shortlistExchanges = sections.filter(s =>
      s.contains("Exchange") && s.contains("query_id") && s.contains("approx_cos"))
    assert(shortlistExchanges.nonEmpty, formatted)
    shortlistExchanges.foreach(s =>
      assert(!s.contains("cvec"), s"shortlist exchange carries corpus vectors:\n$s"))
    // the exact re-rank broadcasts the bounded shortlist, so the corpus never
    // hash-shuffles to meet it: no shuffle exchange may carry corpus vectors
    assert(formatted.contains("BroadcastHashJoin"), formatted)
    sections.filter(s => s.contains("Exchange hashpartitioning")).foreach(s =>
      assert(!s.contains("cvec"), s"corpus vectors shuffled for re-rank:\n$s"))
  }

  test("IVFxPQ: probe-all equals plain PQ; pruned probes keep recall") {
    val data = clusteredVectors(6, 10, 16, 0.05f)
    val df = data.toDF("id", "vec")
    val queries = df.filter(col("id") < 6)
    val ivf = Ann.trainIvf(df, col("id"), col("vec"), k = 6, iterations = 3)
    val pqi = Pq.trainPq(df, col("id"), col("vec"), dim = 16, m = 4, ksub = 8,
      iterations = 3)
    // probing ALL buckets makes the candidate set the whole corpus, so the
    // composition must reproduce plain pqTopK row for row (same ADC scores,
    // same shortlist, same exact re-rank) - the bucket join prunes, never
    // rescores
    val full = Pq.pqTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"),
      pqi, k = 3, refine = 4)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    val probeAll = Pq.ivfPqTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"),
      ivf, pqi, k = 3, nprobe = 6, refine = 4)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(probeAll == full)
    // pruned probes on well-separated clusters: recall vs brute stays high,
    // and the emitted cosines are exact
    val brute = Ann.bruteForceTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"), k = 3)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect()
    val bruteSet = brute.map(r => (r._1, r._2)).toSet
    val pruned = Pq.ivfPqTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"),
      ivf, pqi, k = 3, nprobe = 2, refine = 4)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect()
    val recall = bruteSet.count(pruned.map(r => (r._1, r._2)).toSet).toDouble / bruteSet.size
    assert(recall >= 0.8, s"recall $recall")
    val bruteCos = brute.map { case (q, n, c) => (q, n) -> c }.toMap
    pruned.foreach { case (q, n, c) =>
      bruteCos.get((q, n)).foreach(b => assert(math.abs(b - c) < 1e-12, s"($q, $n)")) }
  }

  test("persisted ANN index reproduces the in-memory IVFADC path row-for-row") {
    val data = clusteredVectors(6, 10, 16, 0.05f)
    val df = data.toDF("id", "vec")
    val queries = df.filter(col("id") < 6)
    val ivf = Ann.trainIvf(df, col("id"), col("vec"), k = 6, iterations = 3)
    for (residual <- Seq(false, true)) {
      val pqi =
        if (residual) Pq.trainPqResidual(df, col("id"), col("vec"), ivf,
          dim = 16, m = 4, ksub = 8, iterations = 3)
        else Pq.trainPq(df, col("id"), col("vec"), dim = 16, m = 4, ksub = 8,
          iterations = 3)
      val inMem = Pq.ivfPqTopK(queries, df, col("id"), col("vec"), col("id"), col("vec"),
        ivf, pqi, k = 3, nprobe = 2, refine = 4, residual = residual)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Int, Long, Double)].collect().toSet
      val idx = graft.createTemporaryDir(s"ann-index-test-$residual")
      Pq.saveAnnIndex(df, col("id"), col("vec"), ivf, pqi, idx, residual = residual)
      val indexed = Pq.ivfPqTopKIndexed(queries, col("id"), col("vec"),
        idx, k = 3, nprobe = 2, refine = 4)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(indexed == inMem, s"residual=$residual")
    }
    // a half-written index (no params) fails loudly
    intercept[Exception] {
      Pq.ivfPqTopKIndexed(queries, col("id"), col("vec"),
        graft.createTemporaryDir("ann-index-broken"), k = 3)
    }
  }

  test("appendToAnnIndex equals a fresh save over the union corpus") {
    val data = clusteredVectors(6, 10, 16, 0.05f)
    val df = data.toDF("id", "vec")
    val queries = df.filter(col("id") < 6)
    val half1 = df.filter(col("id") % 2 === 0)
    val half2 = df.filter(col("id") % 2 === 1)
    // quantizers trained on the FULL corpus in both layouts: the append
    // contract is "fixed codebooks, growing corpus"
    val ivf = Ann.trainIvf(df, col("id"), col("vec"), k = 6, iterations = 3)
    for (residual <- Seq(false, true)) {
      val pqi =
        if (residual) Pq.trainPqResidual(df, col("id"), col("vec"), ivf,
          dim = 16, m = 4, ksub = 8, iterations = 3)
        else Pq.trainPq(df, col("id"), col("vec"), dim = 16, m = 4, ksub = 8,
          iterations = 3)
      val full = graft.createTemporaryDir(s"ann-append-full-$residual")
      Pq.saveAnnIndex(df, col("id"), col("vec"), ivf, pqi, full, residual = residual)
      val grown = graft.createTemporaryDir(s"ann-append-grown-$residual")
      Pq.saveAnnIndex(half1, col("id"), col("vec"), ivf, pqi, grown, residual = residual)
      Pq.appendToAnnIndex(half2, col("id"), col("vec"), grown)
      val expect = Pq.ivfPqTopKIndexed(queries, col("id"), col("vec"),
        full, k = 3, nprobe = 2, refine = 4)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Int, Long, Double)].collect().toSet
      val got = Pq.ivfPqTopKIndexed(queries, col("id"), col("vec"),
        grown, k = 3, nprobe = 2, refine = 4)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(got == expect, s"residual=$residual")
      // the documented half-finished-append recovery: vectors/ lands first,
      // the crash skips enc/, and the RETRY leaves duplicate VECTOR rows
      // (codes append exactly once). The re-rank's per-(query, neighbor)
      // max agg collapses the duplicates, so no neighbor occupies two
      // ranks and the top-k is unchanged
      half2.select(col("id").as("neighbor_id"), col("vec").as("cvec"))
        .write.mode("append").parquet(s"$grown/vectors")
      val retried = Pq.ivfPqTopKIndexed(queries, col("id"), col("vec"),
        grown, k = 3, nprobe = 2, refine = 4)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(retried == expect, s"retried append changed top-k, residual=$residual")
    }
  }

  test("IVFADC residual codes recall at least as well as raw codes at fixed m") {
    // the paper-faithful comparison: same corpus, same IVF, same m/ksub,
    // probe-all (so IVF pruning can't confound the code-precision effect) —
    // residuals are smaller than raw vectors, so the same m bytes carry
    // more precision and the ADC shortlist ranks closer to exact
    // (measured on this data: raw 0.65, residual 0.78 at recall@3)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") < 20)
    val ivf = Ann.trainIvf(emb, col("vec_id"), col("embedding"), k = 16, iterations = 3)
    val raw = Pq.trainPq(emb, col("vec_id"), col("embedding"),
      dim = 64, m = 8, ksub = 16, iterations = 3)
    val res = Pq.trainPqResidual(emb, col("vec_id"), col("embedding"), ivf,
      dim = 64, m = 8, ksub = 16, iterations = 3)
    val brute = Ann.bruteForceTopK(q, emb, col("vec_id"), col("embedding"),
        col("vec_id"), col("embedding"), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(index: Pq.PqIndex, residual: Boolean): Double = {
      val got = Pq.ivfPqTopK(q, emb, col("vec_id"), col("embedding"),
          col("vec_id"), col("embedding"), ivf, index, k = 3, nprobe = 16,
          refine = 8, residual = residual)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      brute.count(got).toDouble / brute.size
    }
    val rRaw = recall(raw, residual = false)
    val rRes = recall(res, residual = true)
    assert(rRes >= rRaw, s"residual $rRes < raw $rRaw")
    assert(rRes >= 0.7, s"residual recall $rRes")
    // determinism: a second run of training + query is bit-identical
    val res2 = Pq.trainPqResidual(emb, col("vec_id"), col("embedding"), ivf,
      dim = 64, m = 8, ksub = 16, iterations = 3)
    assert(recall(res2, residual = true) == rRes)
  }

  test("IVFxPQ: bucket equi-join feeds the ADC scan - no cartesian, no vector shuffle") {
    val data = clusteredVectors(4, 8, 16, 0.05f)
    val df = data.toDF("id", "vec")
    val ivf = Ann.trainIvf(df, col("id"), col("vec"), k = 4, iterations = 2)
    val pqi = Pq.trainPq(df, col("id"), col("vec"), dim = 16, m = 4, ksub = 4,
      iterations = 2)
    val formatted = Pq.ivfPqTopK(df.filter(col("id") < 4), df,
        col("id"), col("vec"), col("id"), col("vec"), ivf, pqi, k = 2,
        nprobe = 2, refine = 4)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // the candidate generator is a broadcast EQUI-join on the coarse bucket
    // id - never a full-corpus cross product (that would be plain PQ's scan)
    assert(!formatted.contains("CartesianProduct") &&
      !formatted.contains("BroadcastNestedLoop"), formatted)
    assert(formatted.contains("BroadcastHashJoin"), formatted)
    assert(formatted.contains("cid"), formatted)
    // map-side top-(k*refine) shortlist, same discipline as plain PQ
    assert(formatted.contains("WindowGroupLimit"), formatted)
    // no shuffle exchange may carry corpus vectors (codes are m bytes; the
    // only full-vector touch is the broadcast-shortlist re-rank join)
    formatted.split("\n\n").filter(s => s.contains("Exchange hashpartitioning")).foreach(s =>
      assert(!s.contains("cvec"), s"corpus vectors shuffled:\n$s"))
  }

  // --------------------------------------------------------------------------
  // semantic dedup
  // --------------------------------------------------------------------------

  private def cosD(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The kernel's assignment rule: most cosine-similar centroid, strict >
    * comparison so ties go to the lower index. */
  private def assignNaive(v: Seq[Float], centroids: Array[Array[Float]]): Int = {
    var best = -1; var bestSim = Double.NegativeInfinity
    centroids.indices.foreach { i =>
      val s = cosD(v, centroids(i).toSeq)
      if (s > bestSim) { best = i; bestSim = s }
    }
    best
  }

  /** Clear the cache, run `body`, and check that it left no cache entry
    * behind: the semantic dedup operators hold no cache past their call. */
  private def leavesNoCache[T](body: => T): T = {
    spark.catalog.clearCache()
    val out = body
    assert(spark.sharedState.cacheManager.isEmpty)
    out
  }

  test("semanticDupPairs equals naive within-cluster brute force") {
    val data = clusteredVectors(5, 8, 16, 0.05f)
    val df = data.toDF("id", "vec")
    val index = Ann.trainIvf(df, col("id"), col("vec"), k = 5, iterations = 3)
    val threshold = 0.9
    val got = leavesNoCache(graft.dedup.SemanticDedup.semanticDupPairs(
        df, col("id"), col("vec"), index, threshold)
      .as[(Long, Long)].collect().toSet)
    val byCluster = data.groupBy { case (_, v) => assignNaive(v, index.centroids) }
    val expected = (for {
      (_, members) <- byCluster.toSeq
      (ia, va) <- members; (ib, vb) <- members
      if ia < ib && cosD(va, vb) >= threshold
    } yield (ia, ib)).toSet
    assert(expected.nonEmpty, "fixture produced no within-cluster duplicates")
    assert(got == expected)
  }

  test("deduplicateSemantic keeps the smallest id of every duplicated pair") {
    val data = clusteredVectors(4, 6, 16, 0.03f)
    val df = data.toDF("id", "vec")
    val index = Ann.trainIvf(df, col("id"), col("vec"), k = 4, iterations = 3)
    val pairs = leavesNoCache(graft.dedup.SemanticDedup.semanticDupPairs(
        df, col("id"), col("vec"), index, 0.95)
      .as[(Long, Long)].collect())
    val kept = leavesNoCache(graft.dedup.SemanticDedup.deduplicateSemantic(
        df, col("id"), col("vec"), index, 0.95)
      .select(col("id")).as[Long].collect().toSet)
    val dropped = pairs.map(_._2).toSet
    assert(kept == data.map(_._1).toSet -- dropped)
    assert(dropped.nonEmpty)
  }

  test("deduplicateSemanticKeepDiverse keeps the farthest-from-centroid member per component") {
    val data = clusteredVectors(3, 6, 16, 0.04f)
    val df = data.toDF("id", "vec")
    val index = Ann.trainIvf(df, col("id"), col("vec"), k = 3, iterations = 3)
    val threshold = 0.95
    val pairs = leavesNoCache(graft.dedup.SemanticDedup.semanticDupPairs(
        df, col("id"), col("vec"), index, threshold)
      .as[(Long, Long)].collect())
    val kept = leavesNoCache(graft.dedup.SemanticDedup.deduplicateSemanticKeepDiverse(
        df, col("id"), col("vec"), index, threshold)
      .select(col("id")).as[Long].collect().toSet)
    // naive model: union-find components over the pair list; per component
    // keep argmin(cosine to nearest centroid), ties to smallest id
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val vecs = data.toMap
    def centroidCos(v: Seq[Float]): Double =
      index.centroids.map(c => cosD(v, c.toSeq)).max
    val byComp = data.map(_._1).groupBy(find)
    val expected = byComp.values.map { ids =>
      ids.minBy(i => (centroidCos(vecs(i)), i))
    }.toSet
    assert(pairs.nonEmpty && expected.size < data.size)
    assert(kept == expected)
  }

  test("semanticDupPairs prunes clusters above maxClusterSize before pairing") {
    val data = clusteredVectors(2, 4, 8, 0.01f)
    val df = data.toDF("id", "vec")
    val index = Ann.trainIvf(df, col("id"), col("vec"), k = 2, iterations = 3)
    val capped = leavesNoCache(graft.dedup.SemanticDedup.semanticDupPairs(
        df, col("id"), col("vec"), index, 0.5, maxClusterSize = 3)
      .count())
    val uncapped = leavesNoCache(graft.dedup.SemanticDedup.semanticDupPairs(
        df, col("id"), col("vec"), index, 0.5, maxClusterSize = 4)
      .count())
    assert(capped == 0L, "both 4-member clusters should be pruned at cap 3")
    assert(uncapped > 0L)
  }

  test("semantic dedup plans an equi-join on the cluster id, never a cartesian") {
    val data = clusteredVectors(3, 5, 8, 0.05f)
    val df = data.toDF("id", "vec")
    val index = Ann.trainIvf(df, col("id"), col("vec"), k = 3, iterations = 2)
    val formatted = leavesNoCache(PinnedPlan(spark)(graft.dedup.SemanticDedup.semanticDupPairs(
        df, col("id"), col("vec"), index, 0.5))._2.toString)
    assert(!formatted.contains("CartesianProduct"), formatted)
    assert(!formatted.contains("BroadcastNestedLoopJoin"), formatted)
  }

  // --------------------------------------------------------------------------
  // reciprocal-rank fusion
  // --------------------------------------------------------------------------

  test("rrfFuse equals the naive reciprocal-rank sum") {
    val listA = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (2L, 20L, 1))
    val listB = Seq((1L, 11L, 1), (1L, 13L, 2), (2L, 20L, 2), (2L, 21L, 1))
    val dfA = listA.toDF("query_id", "doc_id", "rank")
    val dfB = listB.toDF("query_id", "doc_id", "rank")
    val got = graft.search.Retrieval.rrfFuse(Seq(dfA, dfB), k = 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_scaled"))
      .as[(Long, Int, Long, Long)].collect().toSet
    val contribs = (listA ++ listB).map { case (q, d, r) => ((q, d), 1000000L / (60 + r)) }
    val fused = contribs.groupBy(_._1).map { case ((q, d), cs) => (q, d, cs.map(_._2).sum) }
    val expected = fused.groupBy(_._1).flatMap { case (_, rows) =>
      rows.toSeq.sortBy { case (_, d, s) => (-s, d) }.zipWithIndex
        .map { case ((q, d, s), i) => (q, i + 1, d, s) }
    }.toSet
    assert(got == expected)
    // doc 11 appears in both lists for query 1: rank 2 + rank 1 contributions
    assert(got.exists { case (q, _, d, s) => q == 1L && d == 11L &&
      s == 1000000L / 62 + 1000000L / 61 })
  }

  test("rrfFuse top-k plans a map-side WindowGroupLimit") {
    val dfA = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val formatted = graft.search.Retrieval.rrfFuse(Seq(dfA), k = 1)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("WindowGroupLimit"), formatted)
  }

  // --------------------------------------------------------------------------
  // multimodal
  // --------------------------------------------------------------------------

  test("byte_entropy: constant bytes 0, uniform bytes 8") {
    val constant = Array.fill[Byte](1024)(42)
    val uniform = Array.tabulate[Byte](4096)(i => (i % 256).toByte)
    val r = Seq(("c", constant), ("u", uniform)).toDF("k", "b")
      .select(col("k"), Multimodal.byte_entropy(col("b")).as("e"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(r("c")) < 1e-12)
    assert(math.abs(r("u") - 8.0) < 1e-12)
  }

  test("byte_nibble_histogram counts high nibbles") {
    val bytes = Array[Byte](0x00, 0x0f, 0x10, 0x1f, 0x20, 0xf0.toByte)
    val r = Seq(Tuple1(bytes)).toDF("b")
      .select(Multimodal.byte_nibble_histogram(col("b")).as("h")).as[Seq[Long]].head()
    assert(r(0) == 2 && r(1) == 2 && r(2) == 1 && r(15) == 1 && r.sum == 6)
  }

  test("binaryFrames slices fixed windows with stride") {
    val r = Seq("abcdefghij").toDF("t")
      .select(transform(Multimodal.binaryFrames(encode(col("t"), "utf-8"), 4, 3),
        f => f.cast("string")).as("frames"))
      .as[Seq[String]].head()
    assert(r == Seq("abcd", "defg", "ghij"))
    val short = Seq("ab").toDF("t")
      .select(Multimodal.binaryFrames(encode(col("t"), "utf-8"), 4, 3).as("frames"))
      .select(size(col("frames"))).as[Int].head()
    assert(short == 0)
  }

  test("extractMediaFeatures is deterministic and partition-parallel") {
    val df = Seq((1L, "payload one"), (2L, "payload two"), (3L, "x"))
      .toDF("id", "t").withColumn("bin", encode(col("t"), "utf-8")).repartition(3)
    val out = Multimodal.extractMediaFeatures(df, col("id"), col("bin"))
      .collect().sortBy(_.id)
    assert(out.map(_.id).toSeq == Seq(1L, 2L, 3L))
    // text payloads are not images: byte features present, dims absent
    assert(out.forall(f => f.n_bytes > 0 && f.format.isEmpty && f.width.isEmpty))
    val again = Multimodal.extractMediaFeatures(df, col("id"), col("bin")).collect().sortBy(_.id)
    assert(out.toSeq == again.toSeq)
  }

  test("feature extraction plans are object-free (no DeserializeToObject)") {
    // the three extractors must stay relational: header kernels inside
    // codegen next to the scan, never an object-iterator boundary
    // a Range source (not a local Seq, which constant-folds the whole plan
    // into a LocalTableScan) so the codegen span is visible
    val df = spark.range(3).select(col("id"),
      encode(concat(lit("payload "), col("id").cast("string")), "utf-8").as("bin"))
    Seq(
      Multimodal.extractMediaFeatures(df, col("id"), col("bin")).toDF(),
      Multimodal.extractAudioFeatures(df, col("id"), col("bin")).toDF(),
      Multimodal.extractVideoFeatures(df, col("id"), col("bin")).toDF()
    ).foreach { ds =>
      val plan = ds.queryExecution.executedPlan.toString
      assert(!plan.contains("DeserializeToObject") && !plan.contains("MapPartitions"),
        plan)
      // "*(1)" = every operator fused into whole-stage-codegen span 1
      assert(plan.linesIterator.forall(l => l.trim.isEmpty || l.contains("*(1)")),
        plan)
    }
  }

  test("ImageHeaders parses real PNG/JPEG files and synthetic GIF/BMP headers") {
    import graft.multimodal.ImageHeaders
    def read(p: String): Array[Byte] = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val golden = "src/test/resources/golden"
    // committed real files (dimensions verified independently by
    // tools/make_golden.py's python header parse at fixture build time)
    val png = ImageHeaders.imageDimensions(read(s"$golden/git-logo.png"))
    assert(png.exists(d => d.format == "png" && d.width == 72 && d.height == 27), s"$png")
    val jpg = ImageHeaders.imageDimensions(read(s"$golden/thin-white-stripe.jpg"))
    assert(jpg.exists(d => d.format == "jpeg" && d.width > 0 && d.height > 0), s"$jpg")
    // synthetic headers for the formats with trivial fixed layouts
    val gif = "GIF89a".getBytes("US-ASCII") ++ Array[Byte](10, 0, 5, 0, 0, 0, 0)
    assert(ImageHeaders.imageDimensions(gif).contains(ImageHeaders.ImageDims("gif", 10, 5)))
    val bmp = new Array[Byte](30)
    bmp(0) = 'B'; bmp(1) = 'M'; bmp(14) = 40 // BITMAPINFOHEADER
    bmp(18) = 3; bmp(22) = 2 // width=3, height=2 (LE i32)
    assert(ImageHeaders.imageDimensions(bmp).contains(ImageHeaders.ImageDims("bmp", 3, 2)))
    // non-images and truncated payloads decode to None, never throw
    assert(ImageHeaders.imageDimensions("not an image".getBytes).isEmpty)
    assert(ImageHeaders.imageDimensions(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte)).isEmpty)
    assert(ImageHeaders.imageDimensions(Array.empty[Byte]).isEmpty)
    assert(ImageHeaders.imageDimensions(null).isEmpty)
  }

  test("AudioHeaders parses the committed WAV fixtures; non-RIFF decodes to None") {
    import graft.multimodal.{AudioHeaders, Multimodal}
    val fixture = spark.read.parquet("src/test/resources/golden/audio.parquet")
    val got = Multimodal.extractAudioFeatures(fixture, col("audio_id"), col("payload"))
      .collect().map(a => a.id -> a).toMap
    // expected facts live IN the fixture, computed by the independent python
    // chunk walk at build time — compare against them, not constants
    val expected = fixture
      .select("audio_id", "channels", "sample_rate", "bits_per_sample", "n_frames")
      .as[(Long, Option[Int], Option[Int], Option[Int], Option[Long])].collect()
    expected.foreach { case (id, ch, rate, bits, frames) =>
      val a = got(id)
      assert(a.channels == ch && a.sample_rate == rate &&
        a.bits_per_sample == bits && a.n_frames == frames, s"audio_id=$id: $a")
    }
    assert(expected.exists(_._2.isEmpty), "fixture should include a non-WAV miss case")
    assert(AudioHeaders.wavInfo("RIFFxxxxNOPE".getBytes).isEmpty)
    assert(AudioHeaders.wavInfo(null).isEmpty)
  }

  test("VideoHeaders parses the committed MP4/AVI fixtures; misses decode to None") {
    import graft.multimodal.{Multimodal, VideoHeaders}
    val fixture = spark.read.parquet("src/test/resources/golden/videos.parquet")
    val got = Multimodal.extractVideoFeatures(fixture, col("video_id"), col("payload"))
      .collect().map(v => v.id -> v).toMap
    // expected facts live IN the fixture: they are the python box-builder's
    // construction parameters, independent of the JVM parser by definition
    val expected = fixture
      .select("video_id", "format", "width", "height", "duration_ms", "n_frames")
      .as[(Long, Option[String], Option[Int], Option[Int], Option[Long], Option[Long])]
      .collect()
    expected.foreach { case (id, fmt, w, h, dur, frames) =>
      val v = got(id)
      assert(v.format == fmt && v.width == w && v.height == h &&
        v.duration_ms == dur && v.n_frames == frames, s"video_id=$id: $v")
    }
    assert(expected.exists(_._2.contains("mp4")) && expected.exists(_._2.contains("avi")))
    assert(expected.exists(_._2.isEmpty), "fixture should include miss cases")
    // structural edge cases: truncation mid-box, corrupt sizes, null
    val mp4 = fixture.filter(col("format") === "mp4").select("payload")
      .as[Array[Byte]].head()
    assert(VideoHeaders.videoInfo(mp4.take(40)).isEmpty) // moov cut off
    val corrupt = mp4.clone(); corrupt(0) = 0x7f.toByte  // first box size > file
    assert(VideoHeaders.videoInfo(corrupt).isEmpty)
    assert(VideoHeaders.videoInfo("RIFF....WAVE not avi".getBytes).isEmpty)
    assert(VideoHeaders.videoInfo(Array.empty[Byte]).isEmpty)
    assert(VideoHeaders.videoInfo(null).isEmpty)
  }

  test("sampleFrames plans k spaced frames per video from real headers, no shuffle") {
    import graft.multimodal.Multimodal
    val fixture = spark.read.parquet("src/test/resources/golden/videos.parquet")
    val out = Multimodal.sampleFrames(fixture, col("video_id"), col("payload"), k = 4)
    val got = out.as[(Long, Long, Long)].collect().toSet
    // driver reference from the fixture's construction parameters
    val expected = fixture
      .select("video_id", "n_frames", "duration_ms")
      .as[(Long, Option[Long], Option[Long])].collect()
      .collect { case (id, Some(nf), Some(dur)) if nf > 0 =>
        (0L until 4L).map(i => i * nf / 4).distinct
          .map(idx => (id, idx, idx * dur / nf))
      }.flatten.toSet
    assert(got == expected)
    assert(expected.nonEmpty)
    // plan is narrow end-to-end: no exchange anywhere
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampleFrames must not shuffle:\n$plan")
  }

  test("image_dims / wav_info are codegen'd struct columns, SQL-registrable") {
    def read(p: String): Array[Byte] = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val png = read("src/test/resources/golden/git-logo.png")
    val df = Seq((1L, png), (2L, "not an image".getBytes)).toDF("id", "payload")
    val byId = df.select(col("id"), Multimodal.image_dims(col("payload")).as("d"))
      .select(col("id"), col("d.format"), col("d.width"), col("d.height"))
      .as[(Long, Option[String], Option[Int], Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(byId(1L) == ((Some("png"), Some(72), Some(27))))
    assert(byId(2L) == ((None, None, None)))
    // SQL registration round-trip
    GraftExtensions.registerAll(spark)
    df.createOrReplaceTempView("media_payloads")
    val sqlRow = spark.sql(
      "SELECT id, image_dims(payload).width AS w, wav_info(payload) AS wv, " +
        "video_info(payload) AS vi FROM media_payloads ORDER BY id").collect()
    assert(sqlRow(0).getInt(1) == 72 && sqlRow(0).isNullAt(2) && sqlRow(0).isNullAt(3))
    assert(sqlRow(1).isNullAt(1) && sqlRow(1).isNullAt(2) && sqlRow(1).isNullAt(3))
    // video_info over a committed MP4 payload via SQL
    spark.read.parquet("src/test/resources/golden/videos.parquet")
      .createOrReplaceTempView("video_payloads")
    val vRow = spark.sql(
      "SELECT video_info(payload).width AS w, video_info(payload).duration_ms AS d " +
        "FROM video_payloads WHERE video_id = 0").head()
    assert(vRow.getInt(0) == 640 && vRow.getLong(1) == 5000L)
  }

  test("media metadata struct travels with the payload") {
    val df = Seq((1L, "abc")).toDF("id", "t").withColumn("bin", encode(col("t"), "utf-8"))
    val out = Multimodal.withMediaMetadata(df, col("bin"), "utf8-text", lit("unit-test"))
    val row = out.select(col("media_meta.format"), col("media_meta.n_bytes"), col("media_meta.source"))
      .as[(String, Long, String)].head()
    assert(row == ("utf8-text", 3L, "unit-test"))
  }
}
