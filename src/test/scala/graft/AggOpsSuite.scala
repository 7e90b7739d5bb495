package graft

import graft.agg.{FrequentItems, Profile, TopK}
import graft.functions.{compression, vectors, CompressionKernels, VectorKernels}
import graft.text.LanguageModel
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class AggOpsSuite extends AnyFunSuite with SparkTest {
  import spark.implicits._

  // --- topKPerGroup ---------------------------------------------------------

  private def topKFixture = Seq(
    ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 20.0), ("a", 4L, 30.0), ("a", 5L, 5.0),
    ("b", 6L, 1.0), ("b", 7L, 2.0),
    ("c", 8L, 7.0)
  ).toDF("k", "id", "v")

  test("topKPerGroup keeps exactly the top k with deterministic tie-break") {
    val got = TopK.topKPerGroup(
      topKFixture, Seq($"k"), Seq($"v".desc, $"id".asc), k = 2, rankColumn = "rk")
      .select("k", "id", "rk").as[(String, Long, Int)].collect().toSet
    // ties on v=30.0 within group a break by id: 2 before 4
    assert(got === Set(("a", 2L, 1), ("a", 4L, 2), ("b", 7L, 1), ("b", 6L, 2), ("c", 8L, 1)))
  }

  test("topKPerGroup plans a two-phase WindowGroupLimit, not a full-group sort") {
    val plan = TopK.topKPerGroup(
      topKFixture, Seq($"k"), Seq($"v".desc, $"id".asc), k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"missing WindowGroupLimit in:\n$plan")
    assert(plan.contains("Partial"), s"missing map-side Partial phase in:\n$plan")
    assert(plan.contains("Final"), s"missing Final phase in:\n$plan")
  }

  test("topKPerGroup rejects k above the optimizer threshold (silent full sort)") {
    val e = intercept[IllegalArgumentException] {
      TopK.topKPerGroup(topKFixture, Seq($"k"), Seq($"v".desc), k = 5000)
    }
    assert(e.getMessage.contains("windowGroupLimitThreshold"))
  }

  test("topKPerGroup rejects a negative threshold (InferWindowGroupLimit disabled)") {
    // -1 turns the rewrite off entirely — exactly the silent-full-sort config
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "-1")
    try {
      val e = intercept[IllegalArgumentException] {
        TopK.topKPerGroup(topKFixture, Seq($"k"), Seq($"v".desc), k = 2)
      }
      assert(e.getMessage.contains("disables"))
    } finally spark.conf.unset("spark.sql.optimizer.windowGroupLimitThreshold")
  }

  test("topFractionPerGroup keeps ceil(fraction * n) per group, single exchange") {
    // group a: 5 rows -> ceil(1.5) = 2 kept; b: 2 -> 1; c: 1 -> 1 (never empty)
    val got = TopK.topFractionPerGroup(
      topKFixture, Seq($"k"), Seq($"v".desc, $"id".asc), fraction = 0.3,
      rankColumn = "rk")
      .select("k", "id", "rk").as[(String, Long, Int)].collect().toSet
    assert(got === Set(("a", 2L, 1), ("a", 4L, 2), ("b", 7L, 1), ("c", 8L, 1)))
    // fraction = 1.0 keeps everything
    assert(TopK.topFractionPerGroup(
      topKFixture, Seq($"k"), Seq($"v".desc, $"id".asc), 1.0).count() === 8L)
    // the group count must NOT cost a second exchange: one shuffle on the
    // group key serves both the rank window and the count window
    val plan = TopK.topFractionPerGroup(
      topKFixture, Seq($"k"), Seq($"v".desc, $"id".asc), 0.3)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected 1 exchange, got $exchanges in:\n$plan")
  }

  test("approxTopFractionPerGroup tracks the exact referee with no corpus sort") {
    // skewed groups: big 1000 rows, small 40, tiny 1
    val df = ((0L until 1000L).map(i => ("big", i, (i % 997).toDouble)) ++
      (0L until 40L).map(i => ("small", 2000L + i, i.toDouble)) ++
      Seq(("tiny", 9000L, 5.0))).toDF("k", "id", "v")
    val approx = TopK.approxTopFractionPerGroup(df, Seq($"k"), $"v", 0.3)
    val exact = TopK.topFractionPerGroup(df, Seq($"k"), Seq($"v".desc, $"id".asc), 0.3)
    val aCnt = approx.groupBy("k").count().as[(String, Long)].collect().toMap
    val eCnt = exact.groupBy("k").count().as[(String, Long)].collect().toMap
    eCnt.foreach { case (k, e) =>
      val a = aCnt.getOrElse(k, 0L)
      assert(a >= 1, s"group $k kept nothing")
      assert(math.abs(a - e) <= math.max(2L, (0.1 * e).toLong),
        s"group $k: approx $a vs exact $e")
    }
    // the whole point: no Sort over the corpus, no Window — a tiny
    // threshold aggregate broadcast back onto a narrow filter
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
    // fraction = 1.0 keeps every row (threshold = group min)
    assert(TopK.approxTopFractionPerGroup(df, Seq($"k"), $"v", 1.0).count() === 1041L)
    // schema is preserved (helper columns dropped)
    assert(approx.columns.toSeq === Seq("k", "id", "v"))
  }

  // --- frequentItems --------------------------------------------------------

  test("Checks evaluates passing and failing rules with exact metrics") {
    import graft.agg.Checks
    import graft.agg.Checks.Check._
    val df = Seq(
      (1L, Some(10.0), "ok"), (2L, Some(20.0), "ok"),
      (3L, None, "bad!"), (3L, Some(999.0), "ok")).toDF("id", "v", "s")
    val got = Checks.run(df, Seq(
      NotNull("v", maxNullFraction = 0.3), // 1/4 nulls -> pass
      NotNull("v"),                        // fail
      Unique("id"),                        // dup 3L -> fail, metric 1
      InRange("v", 0, 100),                // 999 -> fail, metric 1
      MatchesRegex("s", "^ok$", 0.7),      // 3/4 -> pass
      MinRows(4), MinRows(5)))
      .select("rule", "column", "metric", "pass")
      .as[(String, String, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      ("not_null", "v", 0.25, true),
      ("not_null", "v", 0.25, false),
      ("unique", "id", 1.0, false),
      ("in_range", "v", 1.0, false),
      ("matches_regex", "s", 0.75, true),
      ("min_rows", "", 4.0, true),
      ("min_rows", "", 4.0, false)))
    // the scalar rules share one aggregate pass: no Expand in the plan
    val scalarOnly = Checks.run(df, Seq(NotNull("v"), InRange("v", 0, 100), MinRows(1)))
    assert(scalarOnly.count() == 3)
  }

  test("Checks ForeignKey: orphan rows counted, nulls exempt, observe rejects") {
    import graft.agg.Checks
    import graft.agg.Checks.Check._
    val fact = Seq(
      (1, Some(10)), (2, Some(10)), (3, Some(20)),
      (4, Some(99)), (5, Some(99)), (6, Option.empty[Int])
    ).toDF("id", "fk")
    val dim = Seq(10, 20, 30).toDF("k")
    val got = Checks.run(fact, Seq(ForeignKey("fk", dim, "k")))
      .as[(String, String, Double, Double, Boolean)].collect().toSeq
    // two rows point at 99 (absent), the null row is NOT an orphan
    assert(got == Seq(("foreign_key", "fk", 2.0, 0.0, false)))
    val clean = Checks.run(fact.filter($"fk" =!= 99 || $"fk".isNull),
      Seq(ForeignKey("fk", dim, "k")))
      .select("pass").as[Boolean].head()
    assert(clean)
    // a null in the REFERENCE never matches anything
    val nullRef = Seq(Option.empty[Int], Some(10)).toDF("k")
    val viaNullRef = Checks.run(Seq((1, Some(42))).toDF("id", "fk"),
      Seq(ForeignKey("fk", nullRef, "k")))
      .select("metric").as[Double].head()
    assert(viaNullRef == 1.0)
    intercept[IllegalArgumentException] {
      Checks.observeChecks(fact, "obs", Seq(ForeignKey("fk", dim, "k")))
    }
  }

  test("Checks edge cases: all-null regex column, empty table, null-only range") {
    import graft.agg.Checks
    import graft.agg.Checks.Check._
    val allNull = Seq((1L, null: String), (2L, null: String)).toDF("id", "s")
    val r1 = Checks.run(allNull, Seq(
      MatchesRegex("s", "^x$"), // nn == 0 -> frac 1.0, pass
      InRange("s", 0, 1),       // nulls skipped -> 0 violations, pass
      NotNull("s")))            // fail at 1.0
      .select("rule", "metric", "pass").as[(String, Double, Boolean)].collect().toSeq
    assert(r1 == Seq(
      ("matches_regex", 1.0, true), ("in_range", 0.0, true), ("not_null", 1.0, false)))
    val empty = Seq.empty[(Long, String)].toDF("id", "s")
    val r2 = Checks.run(empty, Seq(NotNull("s"), MinRows(1), Unique("s")))
      .select("rule", "metric", "pass").as[(String, Double, Boolean)].collect().toSeq
    assert(r2 == Seq(("not_null", 0.0, true), ("min_rows", 0.0, false), ("unique", 0.0, true)))
  }

  test("Checks InRange is exact beyond 2^53 for integral columns") {
    import graft.agg.Checks
    import graft.agg.Checks.Check._
    // 2^53 + 1 rounds DOWN to 2^53 as a double, so a double-cast comparison
    // would wrongly pass it against an upper bound of 2^53; the native
    // decimal comparison must flag exactly the two out-of-range rows
    val p53 = 9007199254740992L // 2^53
    val df = Seq(p53 - 1, p53, p53 + 1, -(p53 + 1)).toDF("v")
    val got = Checks.run(df, Seq(InRange("v", -p53.toDouble, p53.toDouble)))
      .select("metric", "pass").as[(Double, Boolean)].collect().toSeq
    assert(got == Seq((2.0, false)))
    // same rule through the observe path (shares rangeViolation, but pin it)
    val obs = Checks.observeChecks(df, "obs53", Seq(InRange("v", -p53.toDouble, p53.toDouble)))
    val row = obs.select(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))).head()
    assert(row.getLong(0) == 4L) // observe attached without breaking the plan
    // float columns keep the double path (they ARE doubles - nothing to lose)
    val fdf = Seq(0.5, 1.5).toDF("v")
    val fgot = Checks.run(fdf, Seq(InRange("v", 0.0, 1.0)))
      .select("metric", "pass").as[(Double, Boolean)].collect().toSeq
    assert(fgot == Seq((1.0, false)))
  }

  test("Checks InRange handles non-finite bounds and nested field paths") {
    import graft.agg.Checks
    import graft.agg.Checks.Check._
    val df = Seq(-5L, 0L, 7L).toDF("v")
    // open-ended ranges via infinite/NaN bounds must plan (no decimal
    // literal exists for them) and keep the IEEE comparison semantics:
    // an infinite bound excludes nothing, a NaN bound compares false
    val r = Checks.run(df, Seq(
      InRange("v", 0, Double.PositiveInfinity),  // violation: -5
      InRange("v", Double.NegativeInfinity, 0),  // violation: 7
      InRange("v", Double.NaN, Double.NaN)))     // NaN bounds: never violate
      .select("metric", "pass").as[(Double, Boolean)].collect().toSeq
    assert(r == Seq((1.0, false), (1.0, false), (0.0, true)))
    // nested field paths resolve through analysis, not StructType.apply
    val nested = Seq((1L, 5L), (2L, 200L)).toDF("id", "b")
      .select($"id", org.apache.spark.sql.functions.struct($"b").as("a"))
    val rn = Checks.run(nested, Seq(InRange("a.b", 0, 100)))
      .select("metric", "pass").as[(Double, Boolean)].collect().toSeq
    assert(rn == Seq((1.0, false)))
  }

  test("keySkewReport sorts null keys last at the top-k boundary") {
    // 3x "a", 2x null, 2x "" : null ties with "" at cnt=2; NULLS LAST must
    // put "" in the k=2 report (Spark's plain asc would pick null first,
    // diverging from engines that default to NULLS LAST)
    val df = (Seq.fill(3)(Some("a")) ++ Seq.fill(2)(None) ++ Seq.fill(2)(Some("")))
      .toDF("k")
    val got = graft.agg.Skew.keySkewReport(df, col("k"), k = 2)
      .select("key", "cnt", "rank").as[(String, Long, Int)].collect().toSeq
    assert(got == Seq(("a", 3L, 1), ("", 2L, 2)))
    // with k=3 the null row itself must still surface (heavy nulls are the
    // point of the report)
    val got3 = graft.agg.Skew.keySkewReport(df, col("k"), k = 3)
      .select("key", "cnt", "rank").as[(String, Long, Int)].collect().toSeq
    assert(got3 == Seq(("a", 3L, 1), ("", 2L, 2), (null, 2L, 3)))
  }

  test("keySkewReport ranks heavy keys with exact shares, top-k is bounded") {
    // 6x "a", 3x "b", 1x "c": shares 0.6 / 0.3 / 0.1
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val got = graft.agg.Skew.keySkewReport(df, col("k"), k = 2)
      .select("key", "cnt", "share", "rank")
      .as[(String, Long, Double, Int)].collect().toSeq
    assert(got == Seq(("a", 6L, 0.6, 1), ("b", 3L, 0.3, 2)))
    // bounded top-k: the count aggregate feeds a TakeOrderedAndProject, and
    // the only window runs over the k surviving rows
    val plan = graft.agg.Skew.keySkewReport(df, col("k"), k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("HLL sketches persist to parquet and merged halves equal the whole-data sketch") {
    val df = (0 until 500).map(i => (s"g${i % 3}", i % 97)).toDF("g", "v")
    val a = Profile.hllSketches(df.filter($"v" % 2 === 0), col("g"), col("v"))
    val b = Profile.hllSketches(df.filter($"v" % 2 === 1), col("g"), col("v"))
    // round-trip through parquet (the per-day persist)
    val tmp = java.nio.file.Files.createTempDirectory("graft_hll").toString
    a.write.parquet(s"$tmp/a"); b.write.parquet(s"$tmp/b")
    val loaded = spark.read.parquet(s"$tmp/a").unionByName(spark.read.parquet(s"$tmp/b"))
    val merged = Profile.mergeHllSketches(loaded, col("g"), col("sketch"))
      .as[(String, Long)].collect().toMap
    // the sketch lattice: merge of the halves == sketch of the whole
    val whole = Profile.mergeHllSketches(
      Profile.hllSketches(df, col("g"), col("v")), col("g"), col("sketch"))
      .as[(String, Long)].collect().toMap
    assert(merged == whole)
    // and the estimate is near the exact distinct (97 values per group)
    merged.values.foreach(e => assert(math.abs(e - 97.0) / 97.0 < 0.05, e))
  }

  test("MisraGries summary never loses an above-threshold item") {
    val mg = new FrequentItems.MisraGriesAgg(3)
    // stream of 100 values: "hot" 40x, "warm" 25x, 35 singletons
    val stream = Seq.fill(40)("hot") ++ Seq.fill(25)("warm") ++ (1 to 35).map(i => s"x$i")
    // feed through two buffers merged, in an unhelpful order
    val (s1, s2) = new scala.util.Random(7).shuffle(stream).splitAt(50)
    val b = mg.merge(
      s1.foldLeft(mg.zero)(mg.reduce), s2.foldLeft(mg.zero)(mg.reduce))
    val items = mg.finish(b).map(_._1)
    // N/(m+1) = 25: anything with count > 25 must be present
    assert(items.contains("hot"))
    assert(b.size <= 3)
  }

  test("frequentItems returns exact counts for every item at or above support") {
    val df = (Seq.fill(50)("hot") ++ Seq.fill(20)("warm") ++
      (1 to 60).map(i => s"rare$i")).toDF("v")
    val got = FrequentItems.frequentItems(df, $"v", minSupport = 0.1, capacity = 16)
      .as[(String, Long)].collect().toSet
    // N = 130, threshold = ceil(13) = 13: hot(50) and warm(20) qualify
    assert(got === Set(("hot", 50L), ("warm", 20L)))
  }

  test("frequentItems ignores nulls and enforces the capacity guarantee") {
    val df = Seq(Some("a"), None, Some("a"), Some("b")).toDF("v")
    val got = FrequentItems.frequentItems(df, $"v", minSupport = 0.5, capacity = 8)
      .as[(String, Long)].collect().toSet
    assert(got === Set(("a", 2L))) // N=3 non-null, threshold=2
    val e = intercept[IllegalArgumentException] {
      FrequentItems.frequentItems(df, $"v", minSupport = 0.001, capacity = 10)
    }
    assert(e.getMessage.contains("capacity"))
    // Misra-Gries only guarantees items with count STRICTLY above N/(m+1):
    // capacity + 1 == 1/minSupport is a false-negative window, rejected too
    val boundary = intercept[IllegalArgumentException] {
      FrequentItems.frequentItems(df, $"v", minSupport = 0.125, capacity = 7)
    }
    assert(boundary.getMessage.contains("strict"))
  }

  // --- profileColumns / distinctCountGate -----------------------------------

  test("profileColumns reports rows/nulls/distinct/min/max per column") {
    val df = Seq(
      (1L, Some("x"), 2.5), (2L, None, 1.0), (3L, Some("y"), 2.5), (4L, Some("x"), 9.0)
    ).toDF("id", "s", "d")
    val got = Profile.profileColumns(df, Seq("id", "s", "d"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("id") === (("id", 4L, 0L, 4L, "1", "4")))
    assert(got("s") === (("s", 4L, 1L, 2L, "x", "y")))
    assert(got("d") === (("d", 4L, 0L, 3L, "1.0", "9.0")))
  }

  test("profileColumns never plans an Expand (exact = per-column branches)") {
    val df = (1 to 1000).map(i => (i.toLong, i % 100)).toDF("a", "b")
    // exact multi-distinct in ONE agg would Expand k x; the union-of-branches
    // plan must not (measured 2.7x at sf0.1 — see Profile scaladoc)
    val exact = Profile.profileColumns(df, Seq("a", "b"), exactDistinct = true)
    assert(!exact.queryExecution.executedPlan.toString.contains("Expand"))
    val approx = Profile.profileColumns(df, Seq("a", "b"), exactDistinct = false)
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"))
    val est = approx.select("column", "n_distinct").as[(String, Long)].collect().toMap
    assert(math.abs(est("a") - 1000L) <= 50)
    assert(math.abs(est("b") - 100L) <= 5)
  }

  test("distinctCountGate: exact counts with an in-tolerance HLL verdict") {
    val df = (1 to 2000).map(i => (if (i % 2 == 0) "even" else "odd", i % 500)).toDF("g", "v")
    val got = Profile.distinctCountGate(df, $"g", $"v", tolerance = 0.05)
      .as[(String, Long, Boolean)].collect().toSet
    // evens: 250 distinct (0,2,...,498 mod 500 → 250); odds: 250 distinct
    assert(got.map(r => (r._1, r._2)) === Set(("even", 250L), ("odd", 250L)))
    assert(got.forall(_._3), s"HLL estimate out of 5% tolerance: $got")
    // mixing count(DISTINCT) with the sketch agg in one agg would Expand;
    // the dedup-pairs-first plan must not
    val plan = Profile.distinctCountGate(df, $"g", $"v", tolerance = 0.05)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"distinctCountGate planned an Expand:\n$plan")
  }

  test("distinctCountGate gives all-null groups a concrete boolean verdict") {
    // group "nul" has only null items: exact_distinct = 0 and a null sketch
    // estimate — hll_ok must still be a real true, not null, so
    // filter(col("hll_ok")) keeps the group
    val df = Seq(("nul", None), ("nul", None), ("ok", Some(1)), ("ok", Some(2)))
      .toDF("g", "v")
    val got = Profile.distinctCountGate(df, $"g", $"v")
      .select($"g", $"exact_distinct", $"hll_ok")
      .as[(String, Long, Option[Boolean])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("nul") === ((0L, Some(true))))
    assert(got("ok")._2 === Some(true))
  }

  // --- prefix sums / packing ------------------------------------------------

  test("quantileGate: exact discrete quantile by definition, sketch verdict true") {
    // group a: values 1..101 -> median (q=0.5): index floor(0.5*100)+1 = 51 -> 51
    // group b: 10,20,30,40 -> index floor(0.5*3)+1 = 2 -> 20 (the low median)
    val df = ((1 to 101).map(v => ("a", v.toDouble)) ++
      Seq(("b", 10.0), ("b", 20.0), ("b", 30.0), ("b", 40.0)))
      .toDF("g", "v")
    val rows = Profile.quantileGate(df, $"g", $"v", q = 0.5)
      .select(col("g"), col("exact_q"), col("q_ok"))
      .as[(String, Double, Boolean)].collect()
    assert(rows.toSet == Set(("a", 51.0, true), ("b", 20.0, true)))
    // q = 0 and q = 1 hit min and max exactly
    val lo = Profile.quantileGate(df, $"g", $"v", q = 0.0)
      .select("g", "exact_q").as[(String, Double)].collect().toSet
    assert(lo == Set(("a", 1.0), ("b", 10.0)))
    val hi = Profile.quantileGate(df, $"g", $"v", q = 1.0)
      .select("g", "exact_q").as[(String, Double)].collect().toSet
    assert(hi == Set(("a", 101.0), ("b", 40.0)))
    // nulls are ignored, not counted into n
    val withNulls = df.union(Seq(("b", Double.NaN)).toDF("g", "v").select($"g", lit(null).cast("double").as("v")))
    val n = Profile.quantileGate(withNulls, $"g", $"v", q = 0.5)
      .select("g", "exact_q").as[(String, Double)].collect().toSet
    assert(n == Set(("a", 51.0), ("b", 20.0)))
    // plan pin: the exact referee costs exactly ONE window pass — the group
    // sizes ride in the sketch aggregate, not a second count(*) window
    val plan = Profile.quantileGate(df, $"g", $"v", q = 0.5)
      .queryExecution.executedPlan.toString
    val windowNodes = plan.linesIterator
      .count(l => l.contains("Window [") && !l.contains("WindowGroupLimit"))
    assert(windowNodes == 1, s"expected exactly one Window node:\n$plan")
  }

  test("withRunningTotal matches a single-window prefix sum at 10k rows") {
    val df = spark.range(10000).toDF("id")
      .withColumn("w", (col("id") % 7) + 1)
      .repartition(8) // scatter, so the three-phase plan has real work
    val got = graft.agg.PrefixSum.withRunningTotal(df, $"w", Seq($"id"), "rt")
      .select("id", "rt").as[(Long, Long)].collect().toMap
    // exclusive prefix sum of (id % 7) + 1 in id order, computed directly
    var acc = 0L
    (0L until 10000L).foreach { i =>
      assert(got(i) === acc, s"row $i")
      acc += (i % 7) + 1
    }
    val inclusive = graft.agg.PrefixSum.withRunningTotal(
      df, $"w", Seq($"id"), "rt", exclusive = false)
      .select("id", "rt").as[(Long, Long)].collect().toMap
    assert(inclusive(0L) === 1L && inclusive(9999L) === acc)
  }

  test("withRunningTotal broadcasts the per-partition offsets") {
    val df = spark.range(1000).toDF("id").withColumn("w", lit(1L)).repartition(4)
    val plan = graft.agg.PrefixSum.withRunningTotal(df, $"w", Seq($"id"), "rt")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"offsets join should broadcast:\n$plan")
  }

  test("withRunningTotal keeps fractions for double-typed values") {
    // quality weights 0.5/0.25: a silent cast-to-long would zero them all
    val df = spark.range(8).toDF("id")
      .withColumn("w", when(col("id") % 2 === 0, lit(0.5)).otherwise(lit(0.25)))
      .repartition(3)
    val got = graft.agg.PrefixSum.withRunningTotal(df, $"w", Seq($"id"), "rt",
      exclusive = false)
      .select("id", "rt").as[(Long, Double)].collect().toMap
    assert(got(0L) === 0.5)
    assert(got(1L) === 0.75)
    assert(got(7L) === 3.0) // 4 * 0.5 + 4 * 0.25
  }

  test("packSequences assigns sequence ids and offsets by contiguous fill") {
    val docs = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 30L), (5L, 300L), (6L, 1L))
      .toDF("doc_id", "n")
    val got = graft.text.Packing.packSequences(docs, $"n", Seq($"doc_id"), capacity = 256)
      .select("doc_id", "seq_id", "seq_offset").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // cumulative-before: 0, 100, 200, 300, 330, 630
    assert(got === Map(
      1L -> ((0L, 0L)), 2L -> ((0L, 100L)), 3L -> ((0L, 200L)),
      4L -> ((1L, 44L)), 5L -> ((1L, 74L)), 6L -> ((2L, 118L))))
  }

  test("packTokenIds cuts exact-capacity shards; unpack+decode round-trips") {
    // docs sized to hit every boundary case at capacity 7: exact fit,
    // straddle, empty (bare separator), multi-sequence span
    val texts = Seq(
      (1L, "aa bb cc"), // 3 ids + sep
      (2L, ""), // 0 ids + sep
      (3L, "dd ee ff gg hh ii jj kk ll"), // 9 ids + sep: straddles
      (4L, "mm"), (5L, "nn oo pp qq rr ss tt uu vv ww xx yy zz"))
    val docs = texts.toDF("doc_id", "text")
    val model = graft.text.ByteBpe.train(
      docs.filter(length($"text") > 0), $"text", numMerges = 5)
    val sep = graft.text.ByteBpe.vocabSize(model)
    val packed = graft.text.Packing.packTokenIds(docs,
      graft.text.ByteBpe.encodeIds($"text", model), Seq($"doc_id"),
      capacity = 7, sepId = sep)
    val rows = packed.orderBy($"seq_id")
      .select($"seq_id", $"ids", $"n_docs").collect()
    val lens = rows.map(_.getSeq[Int](1).length)
    // every sequence full except the last
    assert(lens.init.forall(_ == 7) && lens.last <= 7 && lens.last >= 1)
    // the flattened stream is the concatenated per-doc streams + separators
    val stream = rows.flatMap(_.getSeq[Int](1)).toSeq
    val expected = docs.orderBy($"doc_id")
      .select(graft.text.ByteBpe.encodeIds($"text", model)).collect()
      .flatMap(_.getSeq[Int](0) :+ sep).toSeq
    assert(stream == expected)
    assert(stream.count(_ == sep) == texts.size)
    // unpack + decode gives every non-empty doc back byte-for-byte
    val unpacked = graft.text.Packing.unpackTokenIds(packed, 7, sep)
    val decoded = unpacked
      .select($"doc_idx",
        graft.text.ByteBpe.decodeIds($"ids", model).as("t"))
      .as[(Long, String)].collect().toMap
    val byIdx = texts.sortBy(_._1).map(_._2).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toMap
    byIdx.foreach { case (i, t) =>
      if (t.nonEmpty) assert(decoded(i) == t, s"doc_idx $i")
      else assert(!decoded.contains(i)) // empty doc unpacks to nothing
    }
  }

  test("packTokenIdsWithMask keeps ids and mask aligned through the trip") {
    val texts = Seq(
      (1L, "aa bb cc"), (2L, ""), (3L, "dd ee ff gg hh ii jj kk ll"),
      (4L, "mm"))
    val docs = texts.toDF("doc_id", "text")
    val model = graft.text.ByteBpe.train(
      docs.filter(length($"text") > 0), $"text", numMerges = 5)
    val sep = graft.text.ByteBpe.vocabSize(model)
    val enc = graft.text.ByteBpe.encodeIds($"text", model)
    // synthetic mask: every 3rd token trainable (position-dependent, so
    // any misalignment through the pack flips bits)
    val mask = transform(enc, (x, i) => (i % 3 === 0).cast("int"))
    val packed = graft.text.Packing.packTokenIdsWithMask(
      docs, enc, mask, Seq($"doc_id"), capacity = 7, sepId = sep)
    // sequence streams: ids carry the separator with mask 0
    val rows = packed.orderBy($"seq_id")
      .select($"ids", $"mask").as[(Seq[Int], Seq[Int])].collect()
    rows.foreach { case (ids, m) =>
      assert(ids.length == m.length)
      ids.zip(m).foreach { case (id, mv) =>
        if (id == sep) assert(mv == 0, "separator must mask 0")
      }
    }
    // per-doc round trip: both streams re-split to the original per-doc
    // arrays (empty doc absent, like the plain unpack)
    val back = graft.text.Packing.unpackTokenIdsWithMask(packed, 7, sep)
      .select($"doc_idx", $"ids", $"mask")
      .as[(Long, Seq[Int], Seq[Int])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val expected = docs.orderBy($"doc_id")
      .select(enc.as("ids"), mask.as("m"))
      .as[(Seq[Int], Seq[Int])].collect().zipWithIndex
      .collect { case ((ids, m), i) if ids.nonEmpty => i.toLong -> ((ids, m)) }
      .toMap
    assert(back == expected)
  }

  test("tokenProvenance counts agree with the materialized pack per sequence") {
    val texts = Seq(
      (1L, "aa bb cc"), (2L, ""), (3L, "dd ee ff gg hh ii jj kk ll"),
      (4L, "mm"), (5L, "nn oo pp qq rr ss tt uu vv ww xx yy zz"))
    val docs = texts.toDF("doc_id", "text")
    val model = graft.text.ByteBpe.train(
      docs.filter(length($"text") > 0), $"text", numMerges = 5)
    val sep = graft.text.ByteBpe.vocabSize(model)
    val packed = graft.text.Packing.packTokenIds(docs,
      graft.text.ByteBpe.encodeIds($"text", model), Seq($"doc_id"),
      capacity = 7, sepId = sep)
    val prov = graft.text.Packing.tokenProvenance(docs,
      graft.text.ByteBpe.tokenCount(coalesce($"text", lit("")), model),
      Seq($"doc_id"), capacity = 7, source = ($"doc_id" % 2))
    // (a) per-seq provenance sums == the sequence's actual id count
    val bySeq = prov.groupBy($"seq_id").agg(sum($"n_ids").as("n"))
      .as[(Long, Long)].collect().toMap
    val actual = packed.select($"seq_id", size($"ids").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(bySeq == actual)
    // (b) per-source totals == per-doc (tokens + separator) sums
    val bySrc = prov.groupBy($"source").agg(sum($"n_ids").as("n"))
      .as[(Long, Long)].collect().toMap
    val expSrc = docs
      .select(($"doc_id" % 2).as[Long],
        (graft.text.ByteBpe.tokenCount(coalesce($"text", lit("")), model) + 1)
          .cast("long").as[Long])
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(bySrc == expSrc)
  }

  test("docBoundaries marks exactly where documents begin, across sequences") {
    val texts = Seq(
      (1L, "aa bb cc"), (2L, ""), (3L, "dd ee ff gg hh ii jj kk ll"),
      (4L, "mm"), (5L, "nn oo pp qq rr ss tt uu vv ww xx yy zz"))
    val docs = texts.toDF("doc_id", "text")
    val model = graft.text.ByteBpe.train(
      docs.filter(length($"text") > 0), $"text", numMerges = 5)
    val sep = graft.text.ByteBpe.vocabSize(model)
    val packed = graft.text.Packing.packTokenIds(docs,
      graft.text.ByteBpe.encodeIds($"text", model), Seq($"doc_id"),
      capacity = 7, sepId = sep)
    val bySeq = graft.text.Packing.docBoundaries(packed, sep)
      .select($"seq_id", $"doc_starts").as[(Long, Seq[Int])].collect().toMap
    // independent derivation: each doc begins at the running sum of
    // (token count + 1) — sequence s DIV 7, offset s % 7
    val lens = docs.orderBy($"doc_id")
      .select(graft.text.ByteBpe.encodeIds($"text", model)).collect()
      .map(_.getSeq[Int](0).length + 1L)
    val expected = lens.scanLeft(0L)(_ + _).init
      .groupBy(_ / 7).map { case (s, ps) => s -> ps.map(p => (p % 7).toInt).sorted.toSeq }
    assert(bySeq.filter(_._2.nonEmpty) == expected)
    // the 13-id doc 5 spans >1 sequence: some sequence is wholly inside
    // it and must carry NO boundary
    assert(bySeq.values.exists(_.isEmpty),
      s"expected a boundary-free mid-document sequence in $bySeq")
    // every sequence of the pack appears exactly once
    assert(bySeq.keySet == packed.select($"seq_id").as[Long].collect().toSet)
  }

  // --- deflate_length -------------------------------------------------------

  test("deflate_length is deterministic and orders repetitive below natural below random") {
    val repetitive = "spam ham " * 200
    val natural = "the quick brown fox jumps over the lazy dog and keeps going " * 30
    val random = {
      val r = new java.util.Random(42)
      val sb = new StringBuilder
      (1 to 1800).foreach(_ => sb.append((33 + r.nextInt(94)).toChar))
      sb.toString
    }
    val df = Seq((1, repetitive), (2, natural), (3, random)).toDF("id", "t")
    val got = df.select($"id", compression.deflate_length($"t").as("n"))
      .as[(Int, Int)].collect().toMap
    val again = df.select($"id", compression.deflate_length($"t").as("n"))
      .as[(Int, Int)].collect().toMap
    assert(got === again, "deflate_length must be deterministic")
    // ratios: repetitive compresses hardest, random barely
    val rawLens = Map(1 -> repetitive.length, 2 -> natural.length, 3 -> random.length)
    def ratio(id: Int) = rawLens(id).toDouble / got(id)
    assert(ratio(1) > ratio(2) && ratio(2) > ratio(3),
      s"expected repetitive > natural > random, got ${ratio(1)}, ${ratio(2)}, ${ratio(3)}")
    // matches the kernel called directly (codegen path == kernel path)
    assert(got(2) === CompressionKernels.deflateLengthString(
      UTF8String.fromString(natural), 6))
  }

  test("deflate_length handles nulls, empty strings, and binary input") {
    val df = Seq((1, Some("abc")), (2, None), (3, Some(""))).toDF("id", "t")
    val got = df.select($"id", compression.deflate_length($"t").as("n"))
      .as[(Int, Option[Int])].collect().toMap
    assert(got(2).isEmpty)
    assert(got(3).exists(_ > 0)) // empty input still emits the DEFLATE terminator
    val bin = Seq((1, Array[Byte](1, 2, 3, 1, 2, 3))).toDF("id", "b")
      .select(compression.deflate_length($"b")).as[Int].head()
    assert(bin > 0)
  }

  // --- z-order layout -------------------------------------------------------

  test("zValue interleaves bits column-round-robin") {
    // lanes over [0,15] with 4 bits are the identity map; a=3 (bits 0,1 ->
    // positions 0,2), b=5 (bits 0,2 -> positions 1,5): z = 1+4+2+32 = 39
    val z = Seq((3, 5)).toDF("a", "b")
      .select(graft.write.ZOrder.zValue(
        Seq(col("a"), col("b")), Seq(0.0, 0.0), Seq(15.0, 15.0), bitsPerColumn = 4))
      .as[Long].head()
    assert(z === 39L)
    // nulls sort first
    val zn = Seq((Option.empty[Int], Some(5))).toDF("a", "b")
      .select(graft.write.ZOrder.zValue(
        Seq(col("a"), col("b")), Seq(0.0, 0.0), Seq(15.0, 15.0), bitsPerColumn = 4))
      .as[Long].head()
    assert((zn & 0x5555555555555555L) === 0L) // every a-lane bit clear
  }

  test("zValue auto-sizes lanes so the documented 4-column call works") {
    // default (auto) lanes for k=4 are 15 bits: 60 key bits, fits; an
    // explicit 16-bit request for 4 columns still fails loudly (64 > 63)
    val cols = Seq(col("a"), col("b"), col("c"), col("d"))
    val z = Seq((1, 2, 3, 4)).toDF("a", "b", "c", "d")
      .select(graft.write.ZOrder.zValue(cols, Seq.fill(4)(0.0), Seq.fill(4)(10.0)))
      .as[Long].head()
    assert(z >= 0L)
    val e = intercept[IllegalArgumentException] {
      graft.write.ZOrder.zValue(cols, Seq.fill(4)(0.0), Seq.fill(4)(10.0),
        bitsPerColumn = 16)
    }
    assert(e.getMessage.contains("64-bit"))
  }

  test("zorderBy narrows per-file min/max ranges on BOTH columns") {
    // two independent uniform columns: any single-column sort leaves the
    // other column's per-file span at ~full range; the z-layout must not
    val n = 20000
    val df = spark.range(n).select(
      (col("id") * 7919 % 101).as("a"), (col("id") * 104729 % 101).as("b"),
      col("id"))
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder_test").toString
    graft.write.ZOrder.zorderBy(df, Seq("a", "b"), partitions = 16)
      .write.mode("overwrite").parquet(dir)

    // data survives the re-layout
    val back = spark.read.parquet(dir)
    assert(back.count() === n)
    assert(back.agg(sum(col("id"))).as[Long].head() === (n.toLong - 1) * n / 2)

    // per-file stats from our own metadata scan: average span well under
    // the full range (101) on BOTH z-columns
    val stats = graft.parquet.ParquetMeta
      .parquetBlockColumns(spark, None, Seq(dir))
      .filter(col("column").isin("a", "b"))
      .select(col("filename"), col("column"),
        col("minValue").cast("long"), col("maxValue").cast("long"))
      .as[(String, String, Long, Long)].collect()
    val spanByCol = stats.groupBy(_._2).map { case (c, rows) =>
      c -> rows.map(r => r._4 - r._3).sum.toDouble / rows.length
    }
    assert(spanByCol("a") < 65, s"column a avg span too wide: $spanByCol")
    assert(spanByCol("b") < 65, s"column b avg span too wide: $spanByCol")
  }

  // --- language model -------------------------------------------------------

  test("word_shingles_all keeps multiplicity in document order") {
    val got = Seq("a b a b a").toDF("t")
      .select(vectors.word_shingles_all($"t", 2)).as[Seq[String]].head()
    assert(got === Seq("a b", "b a", "a b", "b a"))
    // distinct twin drops repeats
    val dist = Seq("a b a b a").toDF("t")
      .select(vectors.word_shingles(($"t"), 2)).as[Seq[String]].head()
    assert(dist === Seq("a b", "b a"))
    // kernel edge cases
    assert(VectorKernels.wordShingleStringsAll(UTF8String.fromString("one"), 2).isEmpty)
    assert(VectorKernels.wordShingleStringsAll(UTF8String.fromString(""), 1).isEmpty)
  }

  test("scoreBits computes quantized bigram bits exactly") {
    // corpus: doc 1 = "a b a b" (bigrams: ab, ba, ab), doc 2 = "a c" (ac), doc 3 = "z"
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "z")).toDF("doc_id", "text")
    // unigram counts: a=3, b=2, c=1, z=1; bigram counts: "a b"=2, "b a"=1, "a c"=1
    // bits(a b) = floor(log2 3) - floor(log2 2) = 1 - 1 = 0
    // bits(b a) = floor(log2 2) - floor(log2 1) = 1 - 0 = 1
    // bits(a c) = floor(log2 3) - floor(log2 1) = 1 - 0 = 1
    val got = LanguageModel.scoreBits(docs, "doc_id", $"text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, 1L, 1.0 / 3.0))) // 0 + 1 + 0
    assert(got(2L) === ((2L, 1L, 1L, 1.0)))
    assert(got(3L) === ((3L, 0L, 0L, 0.0))) // no bigrams
  }

  test("scoreBits cross-corpus scoring charges unseenBits for unknown bigrams") {
    val train = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val eval = Seq((10L, "a b"), (11L, "q r")).toDF("doc_id", "text")
    val got = LanguageModel.scoreBits(eval, "doc_id", $"text",
      lmDocs = train, lmTextCol = $"text", unseenBits = 7L)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // train counts: a=2, b=2, "a b"=2 → bits(a b) = 1 - 1 = 0
    assert(got(10L) === ((10L, 1L, 0L, 0.0)))
    assert(got(11L) === ((11L, 1L, 7L, 7.0))) // "q r" unseen
  }

  // --- KMV sketch / corpus overlap -----------------------------------------

  test("kmvSketch equals global sort-distinct-limit under any partitioning") {
    import graft.dedup.CorpusOverlap
    val df = (0L until 5000L).map(i => s"v${i % 1300}").toDF("v")
    // the sketch is a lattice merge (union + trim), so the 17-partition
    // partial/merge path must be BIT-identical to the global definition
    val sk = CorpusOverlap.kmvSketch(df.repartition(17), col("v"), 64)
      .head().getSeq[String](0)
    val naive = df.select(md5(col("v")).as("h")).distinct().orderBy("h").limit(64)
      .as[String].collect().toSeq
    assert(sk == naive)
    assert(sk == sk.sorted && sk.distinct.size == sk.size)
  }

  test("overlapEstimate tracks true Jaccard; exact when the union fits in k") {
    import graft.dedup.CorpusOverlap
    // A = 0..999, B = 500..1499 -> true J = 500 / 1500 = 1/3
    val a = (0L until 1000L).toDF("v")
    val b = (500L until 1500L).toDF("v")
    val row = CorpusOverlap.overlapEstimate(a, col("v"), b, col("v"), 256).head()
    assert(row.getInt(0) == 256)
    val j = row.getDouble(2)
    // KMV sd ~ sqrt(J(1-J)/k) ~ 0.03 at k=256; the md5 draw is FIXED, so
    // this either always passes or never does — 4 sigma of slack
    assert(math.abs(j - 1.0 / 3) < 0.12, s"estimate $j")
    // union smaller than k: the sketches hold everything -> exact answer
    val ex = CorpusOverlap.overlapEstimate(
      (0L until 30L).toDF("v"), col("v"),
      (20L until 50L).toDF("v"), col("v"), 256).head()
    assert(ex.getInt(0) == 50 && ex.getInt(1) == 10 && ex.getDouble(2) == 10.0 / 50)
  }

  test("overlapMatrix equals per-pair overlapEstimate on every group pair") {
    import graft.dedup.CorpusOverlap
    // 3 groups: g0 = 0..59, g1 = 40..99, g2 = 90..149
    val rows = (0L until 60L).map(("g0", _)) ++
      (40L until 100L).map(("g1", _)) ++ (90L until 150L).map(("g2", _))
    val df = rows.toDF("g", "v")
    val got = CorpusOverlap.overlapMatrix(df, col("g"), col("v"), k = 256)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getInt(2), r.getInt(3), r.getDouble(4)))).toMap
    assert(got.keySet === Set(("g0", "g1"), ("g0", "g2"), ("g1", "g2")))
    // union fits in k -> every entry exact: J(g0,g1)=20/100, J(g1,g2)=10/110, J(g0,g2)=0
    assert(got(("g0", "g1")) == ((100, 20, 0.2)))
    assert(got(("g1", "g2")) == ((110, 10, 10.0 / 110)))
    assert(got(("g0", "g2")) == ((120, 0, 0.0)))
    // matrix entries equal the dedicated two-corpus estimator
    for ((ga, gb) <- got.keySet) {
      val e = CorpusOverlap.overlapEstimate(
        df.where(col("g") === ga), col("v"),
        df.where(col("g") === gb), col("v"), 256).head()
      assert(got((ga, gb)) == ((e.getInt(0), e.getInt(1), e.getDouble(2))),
        s"pair ($ga,$gb)")
    }
    // group cap fails fast
    intercept[IllegalArgumentException] {
      CorpusOverlap.overlapMatrix(df, col("g"), col("v"), k = 8, maxGroups = 2)
    }
  }

  test("joinSizeEstimate is exact under k and skew-robust sampled") {
    import graft.dedup.CorpusOverlap
    // exact path: 40 distinct keys, all captured by the heavy top-N — the
    // estimate must equal the true join size to the last row
    val a = (0L until 40L).flatMap(i => Seq.fill((i % 5 + 1).toInt)(i)).toDF("k")
    val b = (0L until 40L).flatMap(i => Seq.fill(2)(i)).toDF("k")
    val trueSize = a.join(b, "k").count()
    val ex = CorpusOverlap.joinSizeEstimate(a, col("k"), b, col("k"), 256).head()
    assert(ex.getLong(0) == 40L)        // k_used: union fits in the sketch
    assert(ex.getLong(1) == 40L)        // n_heavy: every key is top-64
    assert(ex.getLong(2) == trueSize)   // heavy_mass IS the join size
    assert(ex.getLong(3) == 0L)         // nothing left for the tail sample
    assert(ex.getDouble(6) == trueSize.toDouble)
    // skew path: key 0 multiplies 2001 x 2001 (99.9% of the true size) —
    // the exact heavy pass must catch it regardless of where md5("0")
    // lands in the sample; only the uniform singleton tail is estimated
    val ha = ((0L until 5000L) ++ Seq.fill(2000)(0L)).toDF("k")
    val hb = ((0L until 5000L) ++ Seq.fill(2000)(0L)).toDF("k")
    val hTrue = ha.join(hb, "k").count() // 4999 + 2001*2001
    val est = CorpusOverlap.joinSizeEstimate(ha, col("k"), hb, col("k"), 512).head()
    assert(est.getLong(0) == 512L)
    assert(est.getLong(2) >= 2001L * 2001L) // hot key exactly accounted
    val rel = est.getDouble(6) / hTrue.toDouble
    // fixed md5 draw -> deterministic; tail mass is 0.12% of the total, so
    // even a 4-sigma KMV error on D keeps the ratio inside half a percent
    assert(rel > 0.95 && rel < 1.05, s"estimate ${est.getDouble(6)} vs $hTrue")
  }

  test("joinSizeEstimate materializes eagerly and releases both caches") {
    import graft.dedup.CorpusOverlap
    val a = (0L until 3000L).toDF("k")
    val b = (0L until 3000L).map(i => i % 700).toDF("k")
    spark.catalog.clearCache()
    val est = CorpusOverlap.joinSizeEstimate(a, col("k"), b, col("k"), 256)
    // the grouped frames are persisted so the ~10 estimator branches read
    // the cache instead of re-scanning per reference — but the one-row
    // answer is collected INSIDE the call and both caches released before
    // returning, so callers can never leak CacheManager entries
    assert(spark.sharedState.cacheManager.isEmpty,
      "expected both internal caches to be unpersisted before returning")
    // the returned frame is a local literal row: no live scan subtree left
    assert(est.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"expected a LocalRelation result, got:\n${est.queryExecution.optimizedPlan}")
    assert(est.count() == 1L)
  }

  test("mergeKmvSketches equals the sketch of the concatenated corpus") {
    import graft.dedup.CorpusOverlap
    val a = (0L until 4000L).map(i => s"a$i").toDF("v")
    val b = (0L until 4000L).map(i => if (i % 3 == 0) s"a$i" else s"b$i").toDF("v")
    val whole = CorpusOverlap.kmvSketch(a.union(b), col("v"), 128)
      .head().getSeq[String](0)
    val merged = CorpusOverlap.mergeKmvSketches(
      CorpusOverlap.kmvSketch(a, col("v"), 128)
        .union(CorpusOverlap.kmvSketch(b, col("v"), 128)), col("kmv"), 128)
      .head().getSeq[String](0)
    assert(merged == whole) // lattice merge: BIT-identical, not approximate
  }

  test("distinctEstimate tracks exact distinct counts; exact below k") {
    import graft.dedup.CorpusOverlap
    val est = CorpusOverlap.kmvSketch((0L until 20000L).toDF("v"), col("v"), 512)
      .select(CorpusOverlap.distinctEstimate(col("kmv"), 512)).head().getDouble(0)
    assert(math.abs(est - 20000.0) / 20000.0 < 0.15, s"est $est")
    val small = CorpusOverlap.kmvSketch((0L until 100L).toDF("v"), col("v"), 512)
      .select(CorpusOverlap.distinctEstimate(col("kmv"), 512)).head().getDouble(0)
    assert(small == 100.0)
  }
}
