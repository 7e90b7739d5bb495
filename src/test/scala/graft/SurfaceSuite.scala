package graft

import graft.diff.Diff
import org.apache.spark.sql.Encoders
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Small-surface APIs: BuildVersion, Java overloads, unpersist-handle caching. */
class SurfaceSuite extends AnyFunSuite with SparkTest {

  import spark.implicits._

  test("BuildVersion exposes build-time versions from the jar resource") {
    assert(BuildVersion.VersionString.nonEmpty)
    assert(BuildVersion.BuildSparkCompatVersion === (4, 1))
    assert(BuildVersion.BuildScalaCompatVersionString === "2.13")
    // build-time and runtime Spark versions agree in this environment
    assert(BuildVersion.BuildSparkMajorVersion === SparkVersion.sparkMajorVersion)
  }

  test("Java-style java.util.List diff overloads") {
    val left = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val right = Seq((1, "a"), (3, "c")).toDF("id", "v")
    val ids = java.util.Arrays.asList("id")
    val none = java.util.Collections.emptyList[String]()

    val df = Diff.of(left, right, ids, none)
    assert(df.select("diff").as[String].collect().sorted.toSeq == Seq("D", "I", "N"))

    val typed = Diff.ofWith(left.as[(Int, String)], right.as[(Int, String)], ids, none)
    assert(typed.count() == 3)

    val as = Diff.ofAs(left.as[(Int, String)], right.as[(Int, String)],
      Encoders.product[ActionOnly], java.util.Arrays.asList("id"), none)
    assert(as.collect().map(_.diff).sorted.toSeq == Seq("D", "I", "N"))
  }

  test("writePartitionedBy caches via a non-Noop unpersist handle") {
    // other suites share this session and may leave caches behind (Noop
    // handles by design): start from a clean slate so the emptiness
    // assertions observe THIS test's persist only
    spark.catalog.clearCache()
    val handle = UnpersistHandle()
    val df = Seq((1, "x", 1.0), (2, "y", 2.0)).toDF("id", "part", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_wpb_cache").toString + "/out"
    df.writePartitionedBy(Seq($"part"), unpersistHandle = handle)
      .format("parquet").mode("overwrite").save(dir)
    // the arranged DataFrame was actually persisted: unpersist must not throw
    // and the cache manager must have held it
    assert(!spark.sharedState.cacheManager.isEmpty)
    handle.unpersist(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("PyBridge.containmentPairs leaves no cache entry behind") {
    spark.catalog.clearCache() // see note in the writePartitionedBy test
    val excerpt = (30 until 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, (0 until 90).map(i => s"w$i").mkString(" ")), (2L, excerpt))
      .toDF("doc_id", "text")
    val pairs = graft.python.PyBridge.containmentPairs(docs, $"doc_id", $"text",
      shingleSize = 3, window = 4, threshold = 0.5, minShingles = 10, maxPrintBucket = 64)
    assert(spark.sharedState.cacheManager.isEmpty)
    // the pinned pairs stay readable after the shingle pass is released
    assert(pairs.select("idA", "idB").as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("UnpersistHandle semantics: set-once, unset throws, Silent tolerates") {
    spark.catalog.clearCache() // see note in the writePartitionedBy test
    val strict = UnpersistHandle()
    intercept[IllegalStateException](strict.unpersist()) // no DataFrame yet
    val silent = new SilentUnpersistHandle
    silent.unpersist() // unset is fine
    silent.unpersist(blocking = true)
    val df = Seq((1, "x")).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_silent").toString + "/out"
    df.writePartitionedBy(Seq($"v"), unpersistHandle = silent)
      .format("parquet").mode("overwrite").save(dir)
    silent.unpersist(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty)
    // a handle's DataFrame can only be set once
    val used = UnpersistHandle()
    val d2 = Seq((1, "x")).toDF("id", "v")
    used.setDataFrame(d2)
    intercept[IllegalStateException](used.setDataFrame(d2))
    used.unpersist()
  }

  test("Java source compiles against and uses the Java API") {
    val left = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val right = Seq((1, "a"), (3, "c")).toDF("id", "v")
    val df = JavaDiffUsage.diffById(left, right)
    assert(df.columns.toSeq === Seq("diff", "id", "left_v", "right_v"))
    assert(JavaDiffUsage.countActions(left, right) === 3) // N, D, I
  }

  test("diffAs encoder for a single-column subset") {
    val left = Seq((1, "a")).toDF("id", "v")
    val right = Seq((1, "b")).toDF("id", "v")
    val ds = Diff.ofAs[org.apache.spark.sql.Row, org.apache.spark.sql.Row, ActionOnly](
      left, right, Seq("id"))(Encoders.product[ActionOnly])
    assert(ds.collect().map(_.diff).toSeq == Seq("C"))
  }

  test("GraftExtensions registers the kernels for SQL use") {
    GraftExtensions.registerAll(spark)
    Seq((1L, "The cat sat the cat sat")).toDF("id", "text")
      .createOrReplaceTempView("ext_docs")
    val row = spark.sql(
      """SELECT tokenize_ascii(text) AS toks,
        |       token_stats(text, 'the') AS st,
        |       top_ngram_stats(text, 2) AS g2,
        |       chunk_tokens(text, 3, 3) AS chunks,
        |       size(hashed_word_shingles(text, 2)) AS n_sh,
        |       word_shingles(text, 2) AS sh,
        |       simhash64(tokenize_ascii(text)) AS sh64
        |FROM ext_docs""".stripMargin).collect().head
    assert(row.getSeq[String](0) == Seq("the", "cat", "sat", "the", "cat", "sat"))
    assert(row.getSeq[Long](1) == Seq(6L, 3L, 18L, 2L)) // 6 toks, 3 distinct, 18 chars, 2 'the'
    assert(row.getSeq[Long](2) == Seq(5L, 2L))          // 5 bigrams, "cat sat" and "the cat" twice
    assert(row.getSeq[String](3) == Seq("the cat sat", "the cat sat"))
    assert(row.getInt(4) == 3)                          // distinct bigrams
    assert(row.getSeq[String](5) == Seq("the cat", "cat sat", "sat the"))
    // winnowed selection is a nonempty subset of the shingle hash set
    val wrow = spark.sql(
      """SELECT winnowed_shingles(text, 2, 3) AS wp,
        |       hashed_word_shingles(text, 2) AS hs
        |FROM ext_docs""".stripMargin).collect().head
    assert(wrow.getSeq[Long](0).nonEmpty &&
      wrow.getSeq[Long](0).toSet.subsetOf(wrow.getSeq[Long](1).toSet))
    // multiplicity-preserving shingles and the DEFLATE kernel
    val qrow = spark.sql(
      """SELECT word_shingles_all(text, 2) AS all2,
        |       deflate_length(text) AS dl,
        |       deflate_length(text, 1) AS dl1,
        |       deletion_variants('ab') AS dv
        |FROM ext_docs""".stripMargin).collect().head
    assert(qrow.getSeq[String](0) ==
      Seq("the cat", "cat sat", "sat the", "the cat", "cat sat"))
    assert(qrow.getInt(1) > 0 && qrow.getInt(2) > 0)
    assert(qrow.getSeq[String](3) == Seq("ab", "b", "a"))
    // vector functions over array<float>
    val vrow = spark.sql(
      """SELECT cosine_similarity(a, b) AS cos, dot_product(a, b) AS dot FROM VALUES
        |  (array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |   array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS t(a, b)""".stripMargin)
      .collect().head
    assert(math.abs(vrow.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(vrow.getDouble(1) - 1.0) < 1e-9)
    // int8 quantization family round-trips through SQL
    val irow = spark.sql(
      """SELECT int8_encode_ints(v) AS codes, int8_scale(v) AS s,
        |       int8_dot(int8_encode(v), int8_encode(v)) AS dd,
        |       int8_decode(int8_encode(v), int8_scale(v)) AS back FROM VALUES
        |  (array(CAST(0.5 AS FLOAT), CAST(-1.0 AS FLOAT))) AS t(v)""".stripMargin)
      .collect().head
    assert(irow.getSeq[Int](0) == Seq(64, -127))
    assert(irow.getDouble(1) == 1.0 / 127.0)
    assert(irow.getLong(2) == 64L * 64 + 127L * 127)
    assert(math.abs(irow.getSeq[Float](3).head - 0.5f) <= 0.5 / 127 + 1e-6)
    // binary kernels
    val brow = spark.sql(
      "SELECT byte_entropy(CAST('aaaa' AS BINARY)) AS e, " +
        "byte_nibble_histogram(CAST('aaaa' AS BINARY))[6] AS h6").collect().head
    assert(brow.getDouble(0) == 0.0) // constant bytes -> zero entropy
    assert(brow.getLong(1) == 4L)    // 'a' = 0x61 -> high nibble 6
    // 1-bit sign tier round-trips through SQL: pack then hamming
    val srow = spark.sql(
      """SELECT bit_sign_pack(a) AS wa,
        |       hamming_words(bit_sign_pack(a), bit_sign_pack(b)) AS h FROM VALUES
        |  (array(CAST(0.5 AS FLOAT), CAST(-1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |   array(CAST(-0.5 AS FLOAT), CAST(-1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS t(a, b)"""
        .stripMargin).collect().head
    assert(srow.getSeq[Long](0) == Seq(5L)) // bits 0 and 2
    assert(srow.getInt(1) == 1)             // only position 0 disagrees
    // non-literal size parameters are rejected with a clear message
    val err = intercept[Exception] {
      spark.sql("SELECT top_ngram_stats(text, id + 1) FROM ext_docs").collect()
    }
    assert(err.getMessage.contains("literal"))
  }

  test("GraftExtensions registers the layout/sketch functions for SQL use") {
    GraftExtensions.registerAll(spark)
    // hilbert_index: same values as the kernel, via SQL
    val h = spark.sql(
      "SELECT hilbert_index(array(3L, 5L), 3) AS h").collect().head.getLong(0)
    assert(h == graft.functions.LayoutKernels.hilbertIndex(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](3L, 5L)), 3))
    // cms aggregate + point query, end-to-end in SQL
    Seq("a", "a", "a", "b").toDF("k").createOrReplaceTempView("cms_keys")
    val est = spark.sql(
      """SELECT cms_estimate(sk, 'a', 4, 256) AS ea,
        |       cms_estimate(sk, 'b', 4, 256) AS eb
        |FROM (SELECT cms_sketch(k, 4, 256) AS sk FROM cms_keys)""".stripMargin)
      .collect().head
    assert(est.getLong(0) == 3L && est.getLong(1) == 1L)
    // bloom aggregate: bytes match the driver-side insert path
    val bloom = spark.sql(
      "SELECT bloom_bits(xxhash64(k), 10, 3) AS b FROM cms_keys")
      .collect().head.getAs[Array[Byte]](0)
    assert(bloom.length == (1 << 10) / 8 && bloom.exists(_ != 0))
  }

  test("GraftExtensions registers the curation functions for SQL use") {
    GraftExtensions.registerAll(spark)
    // redact_pii matches the Scala column API byte for byte
    val red = spark.sql(
      "SELECT redact_pii('mail a@b.co from 8.8.8.8 ref 987654321') AS r, " +
        "redact_pii('call 123456789', '<PII>') AS r2").collect().head
    assert(red.getString(0) == "mail [REDACTED] from [REDACTED] ref [REDACTED]")
    assert(red.getString(1) == "call <PII>")
    // hash_sample_keep agrees with Sampling.hashSample on the same keys
    spark.range(0, 400).toDF("k").createOrReplaceTempView("ext_keys")
    val sqlKept = spark.sql(
      "SELECT k FROM ext_keys WHERE hash_sample_keep(k, 0.5)")
      .as[Long].collect().toSet
    val apiKept = graft.sample.Sampling.hashSample(
      spark.range(0, 400).toDF("k"), $"k", 0.5).as[Long].collect().toSet
    assert(sqlKept == apiKept)
    assert(sqlKept.nonEmpty && sqlKept.size < 400)
    // a custom salt draws a different sample
    val salted = spark.sql(
      "SELECT k FROM ext_keys WHERE hash_sample_keep(k, 0.5, 'other')")
      .as[Long].collect().toSet
    assert(salted != sqlKept)
  }

  test("GraftExtensions registers the saved-model tokenizer encodes for SQL") {
    GraftExtensions.registerAll(spark)
    val docs = spark.range(0, 100).select(
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("alpha beta alphabet doc"),
        $"id".cast("string")).as("t"))
    val root = java.nio.file.Files.createTempDirectory("graft_sqlmodels").toString
    val bpe = graft.text.Bpe.train(docs, $"t", numMerges = 60)
    graft.text.Bpe.saveBpe(spark, bpe, s"$root/bpe")
    val wp = graft.text.WordPiece.train(docs, $"t", vocabSize = 80)
    graft.text.WordPiece.saveWordPiece(spark, wp, s"$root/wp")
    val ug = graft.text.Unigram.train(docs, $"t", vocabSize = 80, seedSize = 512)
    graft.text.Unigram.saveUnigram(spark, ug, s"$root/ug")
    docs.createOrReplaceTempView("sql_model_docs")
    // every SQL path must equal its Scala column-API twin row for row
    val got = spark.sql(
      s"SELECT bpe_encode_model('$root/bpe', t) AS b, " +
        s"wordpiece_encode_model('$root/wp', t) AS w, " +
        s"unigram_encode_model('$root/ug', t) AS u FROM sql_model_docs")
      .collect()
    val want = docs.select(
      graft.text.Bpe.encode($"t", bpe).as("b"),
      graft.text.WordPiece.encode($"t", wp).as("w"),
      graft.text.Unigram.encode($"t", ug).as("u")).collect()
    got.zip(want).foreach { case (g, e) =>
      assert(g.getSeq[String](0) == e.getSeq[String](0))
      assert(g.getSeq[String](1) == e.getSeq[String](1))
      assert(g.getSeq[String](2) == e.getSeq[String](2))
    }
    // re-saving the model invalidates the analysis-time cache
    val ug2 = graft.text.Unigram.train(docs, $"t", vocabSize = 60, seedSize = 256)
    assert(ug2 != ug)
    graft.text.Unigram.saveUnigram(spark, ug2, s"$root/ug")
    val refreshed = spark.sql(
      s"SELECT unigram_encode_model('$root/ug', t) AS u FROM sql_model_docs")
      .collect().map(_.getSeq[String](0)).toSeq
    val want2 = docs.select(graft.text.Unigram.encode($"t", ug2).as("u"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(refreshed == want2)
    // non-literal path fails fast
    val e = intercept[Exception] {
      spark.sql("SELECT unigram_encode_model(t, t) FROM sql_model_docs").collect()
    }
    assert(e.getMessage.contains("literal") || e.getMessage.contains("foldable"))
  }
}

/** Single-column subset encoder target for diffAs tests. */
case class ActionOnly(diff: String)
