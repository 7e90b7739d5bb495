package graft

import graft.join.Joins
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** As-of and range join operators. */
class JoinsSuite extends AnyFunSuite with SparkTest {

  import spark.implicits._

  test("asofJoin picks the latest right row at or before each left timestamp") {
    val left = Seq((1L, 10L), (1L, 20L), (1L, 5L), (2L, 10L))
      .toDF("k", "t")
    val right = Seq((1L, 10L, "a"), (1L, 15L, "b"), (2L, 30L, "z"))
      .toDF("k", "t", "v")
    val out = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"))
      .select("k", "t", "asof_ts", "asof_v")
      .as[(Long, Long, Option[Long], Option[String])].collect().toSet
    assert(out == Set(
      (1L, 10L, Some(10L), Some("a")), // equality matches
      (1L, 20L, Some(15L), Some("b")), // latest of {10, 15}
      (1L, 5L, None, None),            // before any right row
      (2L, 10L, None, None)))          // right row is later
  }

  test("asofJoin tolerance nulls out stale matches") {
    val left = Seq((1L, 100L), (1L, 200L)).toDF("k", "t")
    val right = Seq((1L, 95L, 1.0)).toDF("k", "t", "v")
    val out = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"),
      tolerance = Some(lit(50L)))
      .select("t", "asof_v").as[(Long, Option[Double])].collect().toSet
    assert(out == Set((100L, Some(1.0)), (200L, None))) // 200-95=105 > 50
  }

  test("asofJoin carries multi-column payloads from one right row") {
    // right rows alternate which column is "interesting": if payload columns
    // were carried independently, values could mix rows
    val left = Seq((1L, 50L)).toDF("k", "t")
    val right = Seq((1L, 10L, "early", 111L), (1L, 40L, "late", 222L))
      .toDF("k", "t", "name", "num")
    val out = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("name", "num"))
      .select("asof_name", "asof_num").as[(String, Long)].head()
    assert(out == (("late", 222L)))
  }

  test("asofJoin matches a per-key driver-side scan on random data") {
    val rng = new scala.util.Random(11)
    val lefts = Seq.fill(300)((rng.nextInt(5).toLong, rng.nextInt(1000).toLong))
    val rights = Seq.fill(100)((rng.nextInt(5).toLong, rng.nextInt(1000).toLong, rng.nextInt(1000)))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq // unique (k, t)
    val expected = lefts.map { case (k, t) =>
      val m = rights.filter(r => r._1 == k && r._2 <= t).sortBy(_._2).lastOption
      (k, t, m.map(_._2), m.map(_._3.toLong))
    }.groupBy(identity).view.mapValues(_.size).toMap
    val got = Joins.asofJoin(
      lefts.toDF("k", "t"), rights.toDF("k", "t", "v"), Seq("k"), "t", "t", Seq("v"))
      .select("k", "t", "asof_ts", "asof_v")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == expected)
  }

  test("asofJoin timeBucket sub-key: identical results, hot key spread over buckets") {
    // one dominant entity: 2000 left readings + 600 right states on ONE key —
    // the exact shape that pins the unbucketed plan to a single task
    val rng = new scala.util.Random(23)
    val lefts = Seq.fill(2000)((7L, rng.nextInt(100000).toLong)).distinct
    val rights = Seq.fill(600)((7L, rng.nextInt(100000).toLong, rng.nextInt(1000)))
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (k, t): no ties
    // repartition: LocalRelation inputs would let Catalyst evaluate the whole
    // query driver-side, leaving no physical shuffle to observe
    val bucketed = Joins.asofJoin(
      lefts.toDF("k", "t").repartition(4), rights.toDF("k", "t", "v").repartition(4),
      Seq("k"), "t", "t", Seq("v"),
      timeBucket = Some(ts => floor(ts / lit(10000L))))
    val plain = Joins.asofJoin(
      lefts.toDF("k", "t"), rights.toDF("k", "t", "v"), Seq("k"), "t", "t", Seq("v"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "t", "asof_ts", "asof_v")
        .as[(Long, Long, Option[Long], Option[Long])].collect().sorted.toSeq
    assert(canon(bucketed) == canon(plain))
    // the main scan really is sub-keyed: its window partitions on (k, bucket)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("bucket"), s"no bucket sub-key in plan:\n$plan")
    // and the hot key's rows are processed by >1 task: per-partition row
    // counts of the final physical stage (RDD-level — immune to column
    // pruning and AQE coalescing of this test-sized shuffle)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val counts = bucketed.queryExecution.toRdd
        .mapPartitions(it => Iterator(it.size), preservesPartitioning = true).collect()
      val busy = counts.count(_ > 0)
      assert(busy > 1, s"hot key still bound to one partition: ${counts.mkString(",")}")
    } finally spark.conf.set(coalesceKey, prev)
  }

  test("asofJoin timeBucket matches plain for forward direction and tolerance") {
    val rng = new scala.util.Random(31)
    val lefts = Seq.fill(500)((rng.nextInt(3).toLong, rng.nextInt(5000).toLong)).distinct
    val rights = Seq.fill(200)((rng.nextInt(3).toLong, rng.nextInt(5000).toLong, rng.nextInt(100)))
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    def run(direction: String, tol: Option[org.apache.spark.sql.Column],
            bucket: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column]) =
      Joins.asofJoin(lefts.toDF("k", "t"), rights.toDF("k", "t", "v"),
        Seq("k"), "t", "t", Seq("v"), tolerance = tol, direction = direction,
        timeBucket = bucket)
        .select("k", "t", "asof_ts", "asof_v")
        .as[(Long, Long, Option[Long], Option[Long])].collect().sorted.toSeq
    val bucketFn = (ts: org.apache.spark.sql.Column) => floor(ts / lit(500L))
    assert(run("forward", None, Some(bucketFn)) == run("forward", None, None))
    assert(run("backward", Some(lit(750L)), Some(bucketFn)) ==
      run("backward", Some(lit(750L)), None))
  }

  test("asofJoin drops null timestamps instead of letting them leak state") {
    val left = Seq((Some(1L), Some(10L)), (Some(1L), None))
      .map { case (k, t) => (k, t) }.toDF("k", "t")
    // the null-ts right row would sort NULLS FIRST and pollute every match
    val right = Seq((Some(1L), None, Some("poison")), (Some(1L), Some(5L), Some("ok")))
      .toDF("k", "t", "v")
    val out = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"))
      .select("t", "asof_v").as[(Option[Long], Option[String])].collect().toSet
    // the null-ts left row is dropped; the survivor matches the real row
    assert(out == Set((Some(10L), Some("ok"))))
  }

  test("rangeJoin equals the brute-force interval join, bins notwithstanding") {
    val rng = new scala.util.Random(3)
    val points = Seq.tabulate(400)(i => (i.toLong, rng.nextDouble() * 200 - 100))
    val intervals = Seq.tabulate(40) { i =>
      val lo = rng.nextDouble() * 180 - 100
      (1000L + i, lo, lo + rng.nextDouble() * 30) // widths 0..30 vs binWidth 10
    }
    val pdf = points.toDF("pid", "v")
    val idf = intervals.toDF("iid", "lo", "hi")
    val got = Joins.rangeJoin(pdf, "v", idf, "lo", "hi", binWidth = 10.0)
      .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
    val expected = pdf.crossJoin(idf)
      .filter(col("v").between(col("lo"), col("hi")))
      .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    assert(got.size == got.distinct.size) // each pair exactly once
  }

  test("asofJoin forward direction finds the next right row at or after") {
    val left = Seq((1L, 10L), (1L, 16L), (1L, 100L)).toDF("k", "t")
    val right = Seq((1L, 15L, "a"), (1L, 16L, "b")).toDF("k", "t", "v")
    val out = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"),
      direction = "forward")
      .select("t", "asof_ts", "asof_v")
      .as[(Long, Option[Long], Option[String])].collect().toSet
    assert(out == Set(
      (10L, Some(15L), Some("a")),  // nearest LATER row, not latest
      (16L, Some(16L), Some("b")),  // equality matches forward too
      (100L, None, None)))          // nothing after
    // forward tolerance bounds the look-ahead distance
    val bounded = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"),
      direction = "forward", tolerance = Some(lit(3L)))
      .select("t", "asof_v").as[(Long, Option[String])].collect().toSet
    assert(bounded == Set((10L, None), (16L, Some("b")), (100L, None)))
  }

  test("rangeJoin with equi-keys only matches intervals of the same entity") {
    val pdf = Seq((1L, 101L, 5.0), (2L, 102L, 5.0)).toDF("u", "pid", "v")
    val idf = Seq((1L, 201L, 0.0, 10.0)).toDF("u", "iid", "lo", "hi")
    val got = Joins.rangeJoin(pdf, "v", idf, "lo", "hi", 10.0, keys = Seq("u"))
      .select("pid", "iid").as[(Long, Long)].collect().toSeq
    assert(got == Seq((101L, 201L))) // user 2's point does not match user 1's interval
  }

  test("rangeJoin bounds are inclusive on both ends") {
    val pdf = Seq((1L, 5.0), (2L, 10.0), (3L, 10.5)).toDF("pid", "v")
    val idf = Seq((9L, 5.0, 10.0)).toDF("iid", "lo", "hi")
    val got = Joins.rangeJoin(pdf, "v", idf, "lo", "hi", 2.0)
      .select("pid").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L))
  }

  test("saltedJoin equals the plain join for inner and left joins") {
    val left = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (1L, "a"))
      .toDF("k", "lv") // dup row: identical rows must still all survive
    val right = Seq((1L, 10.0), (2L, 20.0), (9L, 90.0)).toDF("k", "rv")
    for (jt <- Seq("inner", "left")) {
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String)] =
        df.select("k", "lv", "rv").collect().toSeq
          .map(r => (r.getLong(0), r.getString(1), String.valueOf(r.get(2)))).sorted
      val salted = rows(Joins.saltedJoin(left, right, Seq("k"), 4, jt))
      val plain = rows(left.join(right, Seq("k"), jt))
      assert(salted === plain, s"join type $jt")
    }
  }

  test("saltedJoin spreads a hot key across salt values") {
    // 1000 rows of one key: with saltFactor 8 the salted key set must span
    // several distinct salts (that is the whole point of the operator)
    val hot = spark.range(1000).select(lit(42L).as("k"), $"id".as("lv"))
    val dim = Seq((42L, "x")).toDF("k", "rv")
    val salts = hot
      .withColumn("s", pmod(xxhash64(hot.columns.map(col): _*), lit(8)))
      .select(countDistinct($"s")).as[Long].head()
    assert(salts >= 4, s"expected the hot key spread over >=4 of 8 salts, got $salts")
    // and the join result is still exactly hot x dim
    assert(Joins.saltedJoin(hot, dim, Seq("k"), 8).count() === 1000L)
  }

  test("saltedJoin rejects right joins and bad salt factors") {
    val df = Seq((1L, "a")).toDF("k", "v")
    val other = Seq((1L, 1.0)).toDF("k", "w")
    intercept[IllegalArgumentException](Joins.saltedJoin(df, other, Seq("k"), 4, "full_outer"))
    intercept[IllegalArgumentException](Joins.saltedJoin(df, other, Seq("k"), 0))
    intercept[IllegalArgumentException](Joins.saltedJoin(df, other, Seq.empty, 4))
  }

  test("rangeJoin rejects colliding column names") {
    val pdf = Seq((1L, 5.0)).toDF("id", "v")
    val idf = Seq((9L, 5.0, 10.0)).toDF("id", "lo", "hi")
    val e = intercept[IllegalArgumentException] {
      Joins.rangeJoin(pdf, "v", idf, "lo", "hi", 2.0)
    }
    assert(e.getMessage.contains("disjoint"))
  }

  test("deletion_variants emits the string and its distinct one-char deletions") {
    val got = Seq("aab").toDF("s")
      .select(graft.functions.vectors.deletion_variants($"s")).as[Seq[String]].head()
    // deleting either 'a' of the run gives the same "ab" — once, not twice
    assert(got === Seq("aab", "ab", "aa"))
    assert(Seq("").toDF("s")
      .select(graft.functions.vectors.deletion_variants($"s")).as[Seq[String]].head() === Seq(""))
    // multi-byte characters delete as one unit
    val uni = Seq("aéb").toDF("s")
      .select(graft.functions.vectors.deletion_variants($"s")).as[Seq[String]].head()
    assert(uni === Seq("aéb", "éb", "ab", "aé"))
  }

  test("editDistance1Pairs finds exactly the levenshtein<=1 pairs, no cross join") {
    val names = Seq(
      (1L, "smith"), (2L, "smyth"),   // substitution
      (3L, "smiths"),                 // insertion vs 1
      (4L, "mith"),                   // deletion vs 1
      (5L, "jones"),                  // unrelated
      (6L, "smith")                   // identical to 1: excluded (distance 0)
    ).toDF("id", "name")
    val got = graft.join.FuzzyJoin.editDistance1Pairs(names, $"id", $"name")
      .select("idA", "idB", "dist").as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 1), (2L, 6L, 1),
      (3L, 6L, 1), (4L, 6L, 1)))
    // brute-force cross check on a bigger random fixture
    val rnd = new scala.util.Random(11)
    val pool = (0 until 300).map(i => (i.toLong, rnd.alphanumeric.take(6).mkString))
    val df = pool.toDF("id", "name")
    val fuzzy = graft.join.FuzzyJoin.editDistance1Pairs(df, $"id", $"name")
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (ia, sa) <- pool; (ib, sb) <- pool
      if ia < ib && sa != sb && lev(sa, sb) <= 1
    } yield (ia, ib)).toSet
    assert(fuzzy === brute)
    // the plan is a hash join on signatures, not a nested-loop cross join
    val plan = graft.join.FuzzyJoin.editDistance1Pairs(df, $"id", $"name")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"fuzzy join must not cross-join:\n$plan")
  }

  test("editDistance1Pairs builds the signature shuffle once on the non-broadcast path") {
    // At scale the signature set exceeds the broadcast threshold and the
    // join becomes a shuffle join; because both sides are ALIASES of the
    // one signature plan, the second side must read the first side's
    // shuffle files (ReusedExchange / reused AQE stage) instead of
    // re-running the explode+hash — the dominant cost, built once.
    val names = Seq(
      (1L, "smith"), (2L, "smyth"), (3L, "smiths"), (4L, "mith"),
      (5L, "jones"), (6L, "smith")
    ).toDF("id", "name")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fz = graft.join.FuzzyJoin.editDistance1Pairs(names, $"id", $"name")
      // materialize THIS query's own plan (count() would plan a different
      // query): AQE applies exchange reuse at stage materialization, so the
      // final plan string only shows it after execution
      assert(fz.queryExecution.toRdd.count() == 6)
      val plan = fz.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage") ||
        plan.contains("ShuffleQueryStage") && plan.contains("isFinalPlan=true") &&
          "Generate explode".r.findAllIn(plan).size <= 1,
        s"signature shuffle must be built once and reused:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("soundex4 matches the classic reference codes") {
    def sx(s: String): String = Seq(s).toDF("t")
      .select(graft.functions.vectors.soundex4(col("t")).as("c")).as[String].head()
    // canonical examples from the Soundex literature
    assert(sx("Robert") == "R163" && sx("Rupert") == "R163")
    assert(sx("Ashcraft") == "A261")        // H transparent: S-C collapse
    assert(sx("Tymczak") == "T522")         // vowel separates equal codes
    assert(sx("Pfister") == "P236")         // adjacent same-code collapse
    assert(sx("Honeyman") == "H555")
    assert(sx("jon") == "J500" && sx("John") == "J500")
    assert(sx("  42! ") == "0000")          // no ASCII letter
    assert(sx("Smith 99 Jones") == "S532")  // digits skipped, no state reset
  }

  test("jaro_winkler_fp: exact fixed-point values for hand-checked cases") {
    def jw(a: String, b: String): Long = Seq((a, b)).toDF("a", "b")
      .select(graft.functions.vectors.jaro_winkler_fp(col("a"), col("b")).as("v"))
      .as[Long].head()
    assert(jw("abc", "abc") == (1L << 20))
    assert(jw("", "") == (1L << 20))
    assert(jw("abc", "") == 0L && jw("", "abc") == 0L)
    assert(jw("abc", "xyz") == 0L)
    // MARTHA/MARHTA: m=6, t2=2, jaro=(1+1+5/6)/3=17/18; l=3, p=.1
    // jw = 17/18 + 3/10 * 1/18 = 173/180 (the textbook 0.961)
    assert(jw("MARTHA", "MARHTA") == 173L * (1L << 20) / 180L)
    // DWAYNE/DUANE: m=4, t2=0, jaro=(4/6+4/5+1)/3=37/45; l=1
    // jw = (9*37/45 + 1)/10 = 0.84
    assert(jw("DWAYNE", "DUANE") == (9L * 37 * (1L << 20) / 45 + (1L << 20)) / 10)
    assert(jw("jon", "john") > graft.join.Linkage.DefaultMinScoreFp)
    assert(jw("robert", "rupert") < graft.join.Linkage.DefaultMinScoreFp)
    // SQL registration round-trip
    graft.GraftExtensions.registerAll(spark)
    assert(spark.sql("SELECT soundex4('Robert') AS c").as[String].head() == "R163")
    assert(spark.sql("SELECT jaro_winkler_fp('abc','abc') AS v").as[Long].head() == (1L << 20))
  }

  test("linkRecords blocks phonetically and fails fast on a degenerate block") {
    val left = Seq((1L, "Jonathan Smith"), (2L, "Margaret Chen"), (3L, "Zz Top"))
      .toDF("id", "name")
    val right = Seq((10L, "Jonathon Smith"), (11L, "Margaret Che"), (12L, "Aa Bottom"))
      .toDF("id", "name")
    val got = graft.join.Linkage.linkRecords(left, right,
        col("id"), col("name"), col("id"), col("name"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 11L)))
    // a pair above threshold but in DIFFERENT blocks is (by design) not found
    val far = graft.join.Linkage.linkRecords(
      Seq((1L, "aeiou")).toDF("id", "name"), Seq((2L, "xeiou")).toDF("id", "name"),
      col("id"), col("name"), col("id"), col("name"), minScoreFp = 0L)
    assert(far.count() == 0)
    // degenerate block: identical synthetic names blow the pair cap
    val e = intercept[IllegalArgumentException] {
      graft.join.Linkage.linkRecords(
        spark.range(100).select(col("id"), lit("Customer#000").as("name")),
        spark.range(100).select(col("id"), lit("Customer#001").as("name")),
        col("id"), col("name"), col("id"), col("name"), maxBlockPairs = 1000L)
    }
    assert(e.getMessage.contains("blocking key"), e.getMessage)
  }

  test("linkRecords composite blocking splits a degenerate soundex block") {
    // the SAME degenerate fixture that fail-fasts above passes once a
    // second blocking column (id % 10) splits the block under the cap —
    // and only same-bucket candidates meet
    val left = spark.range(100).select(col("id"),
      lit("Customer#000").as("name"), (col("id") % 10).as("bucket"))
    val right = spark.range(100).select(col("id"),
      lit("Customer#001").as("name"), (col("id") % 10).as("bucket"))
    val got = graft.join.Linkage.linkRecords(left, right,
      col("id"), col("name"), col("id"), col("name"),
      minScoreFp = 0L, maxBlockPairs = 1000L,
      extraBlockLeft = Seq(col("bucket")), extraBlockRight = Seq(col("bucket")))
    assert(got.count() == 100L * 100 / 10)
    assert(got.filter(col("id_a") % 10 =!= col("id_b") % 10).count() == 0)
    // mismatched extra-key arity fails fast
    val bad = intercept[IllegalArgumentException] {
      graft.join.Linkage.linkRecords(left, right,
        col("id"), col("name"), col("id"), col("name"),
        extraBlockLeft = Seq(col("bucket")))
    }
    assert(bad.getMessage.contains("pair up"), bad.getMessage)
  }

  test("linkRecords returns the expected pairs and pins no cache") {
    val left = Seq((1L, "Jonathan Smith"), (2L, "Margaret Chen")).toDF("id", "name")
    val right = Seq((10L, "Jonathon Smith"), (11L, "Margaret Che")).toDF("id", "name")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = graft.join.Linkage.linkRecords(left, right,
      col("id"), col("name"), col("id"), col("name"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "linkRecords must not register any cached RDD")
    assert(pairs == Set((1L, 10L), (2L, 11L)))
  }
}
