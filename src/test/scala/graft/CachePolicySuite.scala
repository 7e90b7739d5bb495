package graft

import graft.agg.PrefixSum
import graft.ann.Ann
import graft.dedup._
import graft.events.Lateness
import graft.join.Linkage
import graft.sample.{Curriculum, Sampling}
import graft.text.{BinPack, Chat, Packing, Shards}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length, lit, timestamp_seconds}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The library caches its internal intermediates at one level. A storage
  * level is part of the contract of `withRowNumbers` alone (the persist
  * that pins its partition ids), so a `StorageLevel` parameter anywhere
  * else in the compiled `graft` classes is a knob this suite rejects. An
  * `UnpersistHandle` is taken only by the reference entry points, curation
  * and the two lazy pair bodies curation runs; every other operator owns
  * its caches, and a call leaves the CacheManager as it found it. */
class CachePolicySuite extends AnyFunSuite with SparkTest {
  import spark.implicits._

  /** Classes whose `withRowNumbers*` methods (the reference entry point,
    * its Dataset extension and its Python bridge) take a storage level. */
  private val rowNumberClasses = Set(
    "graft.RowNumbers", "graft.RowNumbers$",
    "graft.package$ExtendedDataset", "graft.package$ExtendedDataset$",
    "graft.python.PyBridge", "graft.python.PyBridge$")

  test("only withRowNumbers takes a StorageLevel") {
    val taking = for {
      c <- LibraryClasses.all
      m <- c.getDeclaredMethods.toList ++ c.getDeclaredConstructors.toList
      if m.getParameterTypes.contains(classOf[StorageLevel])
    } yield (c.getName, m.getName)
    val (rowNumbers, others) = taking.partition { case (cls, method) =>
      rowNumberClasses.contains(cls) && method.startsWith("withRowNumbers")
    }
    assert(others.isEmpty, "StorageLevel parameters outside withRowNumbers")
    assert(rowNumbers.map(_._1).toSet == rowNumberClasses,
      s"the reference entry points lost their StorageLevel parameter: $rowNumbers")
  }

  test("joinSizeEstimate takes no UnpersistHandle") {
    val methods = graft.dedup.CorpusOverlap.getClass.getDeclaredMethods
      .filter(_.getName == "joinSizeEstimate")
    assert(methods.nonEmpty)
    methods.foreach(m => assert(!m.getParameterTypes.contains(classOf[UnpersistHandle]),
      m.toString))
  }

  /** The lazy pair bodies curation runs under its own stage handles. */
  private val lazyPairBodies = Set("minHashPairs", "pairsAgainstIndex")

  test("no pair operator takes or defaults an UnpersistHandle") {
    val owners = Set("graft.dedup.Dedup", "graft.dedup.DedupIndex", "graft.dedup.PrefixJoin",
      "graft.dedup.SemanticDedup", "graft.dedup.Containment", "graft.dedup.Clustering",
      "graft.text.Chat", "graft.join.Linkage")
    val handled = for {
      c <- LibraryClasses.all if owners.contains(c.getName.takeWhile(_ != '$'))
      m <- c.getDeclaredMethods.toList
      // lambda bodies (`$anonfun$…`) are compiler output, not signatures
      if !m.getName.contains("$anonfun$")
      if m.getParameterTypes.contains(classOf[UnpersistHandle]) ||
        m.getReturnType == classOf[UnpersistHandle]
    } yield m.getName
    assert(handled.filterNot(lazyPairBodies).isEmpty, handled)
    assert(handled.toSet == lazyPairBodies, s"the lazy pair bodies moved: $handled")
  }

  /** The methods allowed to take or default an `UnpersistHandle`, by
    * owner (class name up to its first `$`): the reference entry points,
    * curation (its stage runner included) and the lazy pair bodies
    * curation runs under its own stage handles. A default getter
    * (`withRowNumbers$default$4`), a value-class extension method
    * (`withRowNumbers$extension`) or a private method's expanded name
    * (`graft$pipeline$Curation$$runStages`) counts as the method it names. */
  private val handleTakers = Map(
    "graft.RowNumbers" -> Set("withRowNumbers"),
    "graft.package" -> Set("withRowNumbers", "writePartitionedBy"),
    "graft.write.PartitionedWrite" -> Set("writePartitionedBy"),
    "graft.python.PyBridge" -> Set("withRowNumbers", "unpersistHandle"),
    "graft.pipeline.Curation" -> Set("curate", "curateIncrement", "runStages"),
    "graft.dedup.Dedup" -> Set("minHashPairs"),
    "graft.dedup.DedupIndex" -> Set("pairsAgainstIndex"))

  test("only the reference entry points, curation and the lazy pair bodies take an UnpersistHandle") {
    val handled = for {
      c <- LibraryClasses.all
      owner = c.getName.takeWhile(_ != '$')
      // the handle's own classes construct and register it
      if !owner.endsWith("UnpersistHandle")
      m <- c.getDeclaredMethods.toList
      // lambda bodies (`$anonfun$…`) are compiler output, not signatures
      if !m.getName.contains("$anonfun$")
      if m.getParameterTypes.contains(classOf[UnpersistHandle]) ||
        m.getReturnType == classOf[UnpersistHandle]
    } yield owner -> m.getName.split('$').filterNot(part => part.isEmpty ||
      part == "default" || part == "extension" || part.forall(_.isDigit)).last
    val (allowed, others) = handled.partition { case (owner, method) =>
      handleTakers.get(owner).exists(_.contains(method))
    }
    assert(others.isEmpty, s"UnpersistHandle parameters outside the allowed set: $others")
    val expected = handleTakers.toSeq.flatMap { case (o, ms) => ms.map(o -> _) }.toSet
    assert(allowed.toSet == expected, s"an allowed handle taker moved: $allowed")
  }

  private val textA = "the quick brown fox jumps over the lazy dog by the river bank"
  private val textB = "a completely different sentence about parquet footers and schemas"
  private val textC = "some other words entirely regarding sourdough bread and oven heat"

  /** Clear the cache, make the call, and check that it returned with no
    * cache entry left, that its rows are `expected`, and that reading them
    * took out no cache either. */
  private def sweep[R, T](name: String, expected: T)(call: => R)(
      rows: R => T): Unit = {
    spark.catalog.clearCache()
    val result = call
    assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cache entry")
    assert(rows(result) == expected, name)
    assert(spark.sharedState.cacheManager.isEmpty, s"$name: reading the result cached")
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("idA").cast("long"), col("idB").cast("long")).as[(Long, Long)].collect().toSet

  private def ids(column: String)(df: DataFrame): Set[Long] =
    df.select(col(column).cast("long")).as[Long].collect().toSet

  test("every pair operator returns its rows and leaves the CacheManager empty") {
    val docs = Seq((1L, textA), (2L, textA), (3L, textB)).toDF("id", "text")
    val corpus = Seq((10L, textA), (11L, textC)).toDF("id", "text")
    val reference = Seq((1L, textA), (2L, textB)).toDF("id", "text")
    val (id, text) = (col("id"), col("text"))

    sweep("nearDupPairsMinHash", Set((1L, 2L)))(Dedup.nearDupPairsMinHash(docs, id, text))(pairs)
    sweep("nearDupPairsSimHash", Set((1L, 2L)))(Dedup.nearDupPairsSimHash(docs, id, text))(pairs)
    sweep("deduplicateMinHash", Set(1L, 3L))(Dedup.deduplicateMinHash(docs, id, text))(ids("id"))
    sweep("nearDupPairsMinHashAgainst", Set((10L, 1L)))(
      Dedup.nearDupPairsMinHashAgainst(corpus, reference, id, text))(pairs)
    sweep("deduplicateAgainst", Set(11L))(
      Dedup.deduplicateAgainst(corpus, reference, id, text))(ids("id"))

    val idx = graft.createTemporaryDir("cache-policy-index")
    DedupIndex.saveDedupIndex(reference, id, text, idx)
    sweep("nearDupPairsAgainstIndex", Set((10L, 1L)))(
      DedupIndex.nearDupPairsAgainstIndex(corpus, id, text, idx))(pairs)
    sweep("deduplicateAgainstIndex", Set(11L))(
      DedupIndex.deduplicateAgainstIndex(corpus, id, text, idx))(ids("id"))

    sweep("jaccardJoinPrefix", Set((1L, 2L)))(PrefixJoin.jaccardJoinPrefix(docs, id, text))(pairs)
    sweep("deduplicateExactJaccard", Set(1L, 3L))(
      PrefixJoin.deduplicateExactJaccard(docs, id, text))(ids("id"))
    sweep("deduplicateMinHashClusters", Set(1L, 3L))(
      Clustering.deduplicateMinHashClusters(docs, id, text))(ids("id"))
    sweep("deduplicateMinHashKeepBest", Set(1L, 3L))(
      Clustering.deduplicateMinHashKeepBest(docs, id, text, length(text)))(ids("id"))

    // the excerpt (doc 4) is wholly contained in doc 1
    val base = (1 to 60).map(i => s"w${i}a w${i}b w${i}c").mkString(" ")
    val excerpt = base.split(" ").slice(30, 60).mkString(" ")
    val other = (1 to 60).map(i => s"z${i}x z${i}y z${i}q").mkString(" ")
    val carriers = Seq((1L, base), (3L, other), (4L, excerpt)).toDF("id", "text")
    sweep("containmentPairs", Set((1L, 4L)))(
      Containment.containmentPairs(carriers, id, text))(pairs)

    val transcripts = Seq((1L, s"user: $textA\nassistant: $textB"),
      (2L, s"user: $textA\nassistant: $textB"), (3L, s"user: $textC")).toDF("id", "text")
    sweep("conversationNearDupPairs", Set((1L, 2L)))(
      Chat.conversationNearDupPairs(transcripts, id, text))(pairs)
    def messages(turns: String*) = turns.zip(Seq("user", "assistant"))
      .map { case (t, role) => s"""{"role": "$role", "content": "$t"}""" }
      .mkString("""{"messages": [""", ", ", "]}")
    val jsons = Seq((1L, messages(textA, textB)), (2L, messages(textA, textB)),
      (3L, messages(textC))).toDF("id", "text")
    sweep("conversationNearDupPairsMessages", Set((1L, 2L)))(
      Chat.conversationNearDupPairsMessages(jsons, id, text))(pairs)

    // ids 1 and 2 share centroid 0 at cosine 0.995; id 3 is alone at centroid 1
    val vecs = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0.99f, 0.1f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f))).toDF("id", "vec")
    val index = Ann.IvfIndex(Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f)))
    sweep("semanticDupPairs", Set((1L, 2L)))(
      SemanticDedup.semanticDupPairs(vecs, id, col("vec"), index, 0.9))(pairs)
    sweep("deduplicateSemantic", Set(1L, 3L))(
      SemanticDedup.deduplicateSemantic(vecs, id, col("vec"), index, 0.9))(ids("id"))
    // id 2 is the farther from its centroid
    sweep("deduplicateSemanticKeepDiverse", Set(2L, 3L))(
      SemanticDedup.deduplicateSemanticKeepDiverse(vecs, id, col("vec"), index, 0.9))(ids("id"))

    val left = Seq((1L, "Jonathan Smith"), (2L, "Margaret Chen")).toDF("id", "name")
    val right = Seq((10L, "Jonathon Smith"), (11L, "Zz Top")).toDF("id", "name")
    sweep("linkRecords", Set((1L, 10L)))(Linkage.linkRecords(left, right,
      id, col("name"), id, col("name")))(df =>
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet)
  }

  test("every PrefixSum-based operator returns its rows and leaves the CacheManager empty") {
    val nums = Seq((1L, 3L), (2L, 1L), (3L, 4L), (4L, 1L), (5L, 5L)).toDF("id", "v")
    val id = col("id")
    def pairsOf(a: String, b: String)(df: DataFrame): Set[(Long, Option[Long])] =
      df.select(col(a).cast("long"), col(b).cast("long")).as[(Long, Option[Long])]
        .collect().toSet

    sweep("withRunningTotal", Set(1L -> Option(0L), 2L -> Option(3L), 3L -> Option(4L),
      4L -> Option(8L), 5L -> Option(9L)))(
      PrefixSum.withRunningTotal(nums, col("v"), Seq(id), "rt"))(pairsOf("id", "rt"))
    sweep("withRunningMax", Set(1L -> None, 2L -> Option(3L), 3L -> Option(3L),
      4L -> Option(4L), 5L -> Option(4L)))(
      PrefixSum.withRunningMax(nums, col("v"), Seq(id), "rm"))(pairsOf("id", "rm"))

    val events = Seq((1L, 10L), (2L, 5L), (3L, 20L), (4L, 8L)).toDF("arr", "s")
      .withColumn("ts", timestamp_seconds(col("s")))
    sweep("withLateness", Set(1L -> Option(0L), 2L -> Option(5000000L), 3L -> Option(0L),
      4L -> Option(12000000L)))(
      Lateness.withLateness(events, col("arr"), col("ts")))(pairsOf("arr", "lateness_us"))
    sweep("watermarkPlan", Set((0L, 4L, 2L, 12000000L), (10L, 4L, 1L, 12000000L)))(
      Lateness.watermarkPlan(events, col("arr"), col("ts"), Seq(0L, 10L)))(df =>
      df.select(col("delay_s"), col("events"), col("dropped"), col("max_lateness_us"))
        .as[(Long, Long, Long, Long)].collect().toSet)

    // doc 1 fills sequence 0; docs 2 and 3 share sequence 1
    val docs = Seq((1L, Seq(1, 2), Seq(1, 0), 2L, "a"), (2L, Seq(3), Seq(1), 1L, "b"),
      (3L, Seq.empty[Int], Seq.empty[Int], 0L, "a")).toDF("doc_id", "ids", "mask", "n", "src")
    val order = Seq(col("doc_id"))
    def packed(df: DataFrame): Set[(Long, Seq[Int], Long)] =
      df.select(col("seq_id"), col("ids"), col("n_docs")).as[(Long, Seq[Int], Long)]
        .collect().toSet
    sweep("packSequences", Set(1L -> Option(0L), 2L -> Option(1L), 3L -> Option(1L)))(
      Packing.packSequences(docs, col("n") + 1, order, 3))(pairsOf("doc_id", "seq_id"))
    sweep("packTokenIds", Set((0L, Seq(1, 2, 9), 1L), (1L, Seq(3, 9, 9), 2L)))(
      Packing.packTokenIds(docs, col("ids"), order, 3, 9))(packed)
    sweep("tokenProvenance", Set((0L, "a", 3L), (1L, "b", 2L), (1L, "a", 1L)))(
      Packing.tokenProvenance(docs, col("n"), order, 3, col("src")))(df =>
      df.select(col("seq_id"), col("source"), col("n_ids")).as[(Long, String, Long)]
        .collect().toSet)
    sweep("packTokenIdsWithMask", Set((0L, Seq(1, 2, 9), Seq(1, 0, 0)),
      (1L, Seq(3, 9, 9), Seq(1, 0, 0))))(
      Packing.packTokenIdsWithMask(docs, col("ids"), col("mask"), order, 3, 9))(df =>
      df.select(col("seq_id"), col("ids"), col("mask")).as[(Long, Seq[Int], Seq[Int])]
        .collect().toSet)

    val keys = (0L until 10L).toDF("k")
    val positions = (1L to 10L).toSet
    sweep("shuffleByHash", positions)(Sampling.shuffleByHash(keys, col("k")))(ids("shuffle_pos"))
    sweep("epochShuffle", positions)(Sampling.epochShuffle(keys, col("k"), 7, 1))(
      ids("shuffle_pos"))
    sweep("mixtureInterleave", positions)(Sampling.mixtureInterleave(
      keys.withColumn("src", lit("a")), col("k"), col("src"), Map("a" -> 1L), 7, 1))(
      ids("mix_pos"))
    // n_tokens 1 -> bucket 0, 2 -> 1, 3 and 4 -> 2
    sweep("lengthBucketBatches", Set((1L, 0, 0L), (2L, 1, 0L), (3L, 2, 0L), (4L, 2, 0L)))(
      Sampling.lengthBucketBatches(nums.filter(id < 5).withColumn("nt", id), id, col("nt"), 2))(df =>
      df.select(col("id"), col("bucket"), col("batch_id")).as[(Long, Int, Long)]
        .collect().toSet)
    sweep("curriculumOrder", Set(1L -> Option(0L), 2L -> Option(0L), 3L -> Option(1L),
      4L -> Option(1L)))(
      Curriculum.curriculumOrder(nums.filter(id < 5), id, id, 2, "s"))(pairsOf("id", "band"))

    // ids 1 and 2 share centroid 0, id 2 the farther; id 3 is alone at centroid 1
    val vecs = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0.99f, 0.1f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f))).toDF("id", "vec")
    val index = Ann.IvfIndex(Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f)))
    sweep("embeddingOutliers", Set(2L))(
      Ann.embeddingOutliers(vecs, id, col("vec"), index, 0.5))(df =>
      ids("id")(df.filter(col("is_outlier"))))

    // capacity 4: one bin holds docs 1 and 2 (2 + 2 tokens), doc 3 (3 tokens) its own
    val sized = Seq((1L, 2L), (2L, 2L), (3L, 3L)).toDF("doc_id", "n")
    sweep("packBins", Set(Set(1L, 2L), Set(3L)))(
      BinPack.packBins(sized, col("n"), order, 4))(df =>
      df.select(col("bin_id"), col("doc_id")).as[(Long, Long)].collect()
        .groupBy(_._1).values.map(_.map(_._2).toSet).toSet)

    val dir = graft.createTemporaryDir("cache-policy-shards")
    sweep("saveShards", 2L)(Shards.saveShards(docs.filter(col("doc_id") < 3), col("ids"),
      order, 3, 9, dir))(identity)
    sweep("appendShards", 3L)(Shards.appendShards(Seq((4L, Seq(4, 5))).toDF("doc_id", "ids"),
      col("ids"), order, dir))(identity)
    sweep("unpackShards", Set((0L, Seq(1, 2)), (1L, Seq(3)), (2L, Seq(4, 5))))(
      Shards.unpackShards(spark, dir))(df =>
      df.select(col("doc_idx"), col("ids")).as[(Long, Seq[Int])].collect().toSet)
  }
}
