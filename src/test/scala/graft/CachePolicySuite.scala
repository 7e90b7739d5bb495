package graft

import graft.ann.Ann
import graft.dedup._
import graft.join.Linkage
import graft.text.Chat
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The library caches its internal intermediates at one level. A storage
  * level is part of the contract of `withRowNumbers` alone (the persist
  * that pins its partition ids), so a `StorageLevel` parameter anywhere
  * else in the compiled `graft` classes is a knob this suite rejects. The
  * similarity-pair operators own their caches: they take no
  * `UnpersistHandle`, and every call leaves the CacheManager as it found
  * it. */
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

  private val textA = "the quick brown fox jumps over the lazy dog by the river bank"
  private val textB = "a completely different sentence about parquet footers and schemas"
  private val textC = "some other words entirely regarding sourdough bread and oven heat"

  /** Clear the cache, make the call, and check that it returned with no
    * cache entry left, that its rows are `expected`, and that reading them
    * took out no cache either. */
  private def sweep[T](name: String, expected: T)(call: => DataFrame)(
      rows: DataFrame => T): Unit = {
    spark.catalog.clearCache()
    val df = call
    assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cache entry")
    assert(rows(df) == expected, name)
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
}
