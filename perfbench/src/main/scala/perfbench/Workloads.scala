package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Histogram, RowNumbers, SilentUnpersistHandle, UnpersistHandle}
import graft.ann.{Ann, Pq}
import graft.dedup.DedupIndex
import graft.diff.{Diff, DiffOptions, Differ, SnapshotDiff}
import graft.parquet.ParquetMeta
import graft.pipeline.Curation
import graft.sources.Warc
import graft.text.{ByteBpe, Shards, TokenizerArtifact}

/** A named output check; a failed check fails the operation it belongs to. */
final case class Check(name: String, ok: Boolean)

/** What one timed operation did: the input items it consumed and the checks
  * of its output, which run after the operation's clock stops. */
final case class Op(items: Long, checks: () => Seq[Check])

trait Workload {
  /** The input unit `items` counts, and what one operation is called. */
  def unit: String
  def opName: String
  /** Generate the inputs from the seed and build the state the operations
    * start from under `dir`. */
  def setup(dir: File): Unit
  /** How often a run sets up; `setup_s` is the median, so the cold first
    * set-up never counts. A fixed count, so the median never depends on
    * how long the set-ups took. */
  def setupRepeats: Int = 3
  /** Whether generated inputs remain for operation `i`. */
  def hasNext(i: Int): Boolean = true
  /** One timed operation; `i` counts from 0. */
  def op(i: Int): Op
  /** Checks over the state the operations left behind, after the clock stops. */
  def finish(): Seq[Check] = Nil
  /** Workload-specific end-to-end values, for the printed report. */
  def extra(): Map[String, Double] = Map.empty
  /** Useful-work ratios and their bases over the traced operations `ops`.
    * `spanInput` gives (records, bytes) read by the tasks of the traced
    * spans with a given name. */
  def ratios(ops: Set[Int], spanInput: String => (Double, Double)): Map[String, Double] = Map.empty

  private val tallies = mutable.Map.empty[(Int, String), Double].withDefaultValue(0.0)
  /** Count useful work per operation, so ratios cover exactly the traced ones. */
  protected def tally(op: Int, key: String, v: Double): Unit = tallies((op, key)) += v
  protected def tallied(ops: Set[Int], key: String): Double = ops.toSeq.map(i => tallies((i, key))).sum
  protected def ratio(ops: Set[Int], num: String, den: String): Double =
    tallied(ops, num) / math.max(tallied(ops, den), 1.0)
  def inputBytes: Long
  def storedBytes: Long
}

object Workloads {
  val Names: Seq[String] = Seq("corpus_chain", "snapshot_audit", "ann_serve")

  /** `small` gives a tenth-size input, for the run that trains the JVM's
    * class-data archive. */
  def apply(name: String, spark: SparkSession, seed: Long, calls: Calls, small: Boolean = false): Workload = name match {
    case "corpus_chain" => new CorpusChain(spark, seed, calls, small)
    case "snapshot_audit" => new SnapshotAudit(spark, seed, calls, small)
    case "ann_serve" => new AnnServe(spark, seed, calls, small)
    case other => throw new IllegalArgumentException(s"unknown workload $other (known: ${Names.mkString(", ")})")
  }

  /** Curation at the library's default settings, which [[Gen.keeps]] restates. */
  def curate(docs: DataFrame, handle: UnpersistHandle): (DataFrame, DataFrame) =
    Curation.curate(docs, col("doc_id"), col("text"), unpersistHandle = handle)

  def curateIncrement(docs: DataFrame, index: String, handle: UnpersistHandle): (DataFrame, DataFrame) =
    Curation.curateIncrement(docs, col("doc_id"), col("text"), index, unpersistHandle = handle)

  /** Stage counts of a curation report (a driver-side frame: no job). */
  def stages(report: DataFrame): Seq[(String, Long)] =
    report.collect().toSeq.map(r => r.getString(0) -> r.getLong(1))

  val DocSchema: StructType = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  def readDocs(spark: SparkSession, file: File): DataFrame =
    spark.read.schema(DocSchema).json(file.toString)

  def exact(name: String, got: Long, expected: Long): Check =
    Check(s"$name (got $got, expected $expected)", got == expected)

  def dataFiles(dir: File): Int =
    if (dir.isDirectory) Option(dir.listFiles()).getOrElse(Array.empty).map(dataFiles).sum
    else if (dir.getName.startsWith("part-")) 1 else 0
}

/** The output checks, kept apart so the self-test can feed them corrupted
  * outputs. */
object Checks {
  /** Unpacked ids equal the encoded ids on every 97th document in pack
    * (doc_id) order. */
  def unpackRoundTrip(encoded: DataFrame, unpacked: DataFrame): Boolean = {
    val ids = encoded.select(col("doc_id"), col("ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).sortBy(_._1).map(_._2)
    val sample = ids.indices.filter(_ % 97 == 0).map(_.toLong)
    val back = unpacked.where(col("doc_idx").isin(sample: _*))
      .select(col("doc_idx"), col("ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    sample.nonEmpty && sample.forall(i => back.get(i).contains(ids(i.toInt)))
  }

  def sameContent(a: DataFrame, b: DataFrame): Boolean =
    Gen.contentHash(a) == Gen.contentHash(b)

  /** The incremental snapshot diff equals the full diff restricted to the
    * partitions that changed. */
  def diffRestricted(snapshotDiff: DataFrame, full: DataFrame, partCol: String, changed: Seq[String]): Boolean =
    sameContent(snapshotDiff,
      full.select(snapshotDiff.columns.map(col): _*)
        .where(coalesce(col(s"left_$partCol"), col(s"right_$partCol")).isin(changed: _*)))

  /** Share of the exact top-k neighbours the approximate search returned. */
  def recall(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double = {
    val total = exact.values.map(_.size).sum
    if (total == 0) 0.0
    else exact.map { case (q, ns) => (ns intersect approx.getOrElse(q, Set.empty)).size }.sum.toDouble / total
  }

  val RecallFloor = 0.8
}

import Workloads._

// ---------------------------------------------------------------------------

/** The trainer-ready chain over a WET corpus, one full pass per operation. */
final class CorpusChain(spark: SparkSession, seed: Long, calls: Calls, small: Boolean) extends Workload {
  val Base: Int = if (small) 40 else 400
  val Replicas = 2
  /** One WET shard per source, as many sources as the documents table has. */
  val Sources = 20
  val opName = "pass"
  /** Its set-up takes well under a second once warm: more samples for the median. */
  override val setupRepeats = 7
  /** The first 70% of sources are curated in bulk; the rest arrive as an
    * increment against the bulk survivors' index. */
  val BulkSources: Int = Sources * 7 / 10
  val unit = "docs"

  private var root: File = _
  private var docs: IndexedSeq[Doc] = _
  private var warcBytes = 0L
  private var stored = 0L

  /** Write the WET corpus, then read it back whole with the library's
    * reader, as a crawl is checked before it is curated: every document and
    * every payload byte must come back. */
  def setup(dir: File): Unit = {
    root = dir
    docs = Gen.corpus(seed, Base, Replicas, Sources)
    val payload = Gen.writeWet(docs, Sources, new File(dir, "wet"))
    warcBytes = Gen.bytesUnder(new File(dir, "wet"))
    val back = Warc.readWarc(spark, new File(dir, "wet").toString)
      .where(col("warc_type") === "conversion")
      .agg(count(lit(1)), coalesce(sum(length(col("payload"))), lit(0L))).head()
    require(back.getLong(0) == docs.length && back.getLong(1) == payload,
      s"WET corpus holds ${back.getLong(0)} documents, ${back.getLong(1)} payload bytes; " +
        s"wrote ${docs.length}, $payload")
  }

  def op(i: Int): Op = {
    val out = new File(root, s"pass$i")
    val records = calls("sources", "Warc.readWarc") {
      Warc.readWarc(spark, new File(root, "wet").toString)
        .where(col("warc_type") === "conversion")
        .select(regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          regexp_extract(col("file"), "shard-([0-9]+)", 1).cast("int").as("source"),
          col("payload").as("text"))
        .localCheckpoint(true)
    }
    val h1 = UnpersistHandle()
    val (bulk, bulkReport) = calls("pipeline", "Curation.curate") {
      curate(records.where(col("source") < BulkSources).drop("source"), h1)
    }
    val index = new File(out, "dedup_index").toString
    calls("dedup", "DedupIndex.saveDedupIndex") {
      DedupIndex.saveDedupIndex(bulk, col("doc_id"), col("text"), index)
    }
    val h2 = UnpersistHandle()
    val (incr, incrReport) = calls("pipeline", "Curation.curateIncrement") {
      curateIncrement(records.where(col("source") >= BulkSources).drop("source"), index, h2)
    }
    val survivors = bulk.unionByName(incr)
    val model = calls("text", "ByteBpe.train") {
      ByteBpe.train(survivors, col("text"), numMerges = 120)
    }
    val encoded = calls("text", "ByteBpe.encodeIds") {
      survivors.select(col("doc_id"), ByteBpe.encodeIds(col("text"), model).as("ids")).localCheckpoint(true)
    }
    h1.unpersist()
    h2.unpersist()
    val shardDir = new File(out, "shards").toString
    calls("text", "Shards.saveShards") {
      Shards.saveShards(encoded, col("ids"), Seq(col("doc_id")), capacity = 512,
        sepId = ByteBpe.vocabSize(model), dir = shardDir,
        tokenizer = Some(TokenizerArtifact.Tokenizer(model, Seq("<|endoftext|>"))))
    }
    val allOk = calls("text", "Shards.verifyShards") {
      Shards.verifyShards(spark, shardDir).head().getAs[Boolean]("all_ok")
    }
    val unpacked = calls("text", "Shards.unpackShards") {
      Shards.unpackShards(spark, shardDir).localCheckpoint(true)
    }
    stored = Gen.bytesUnder(new File(index)) + Gen.bytesUnder(new File(shardDir))
    Op(docs.length.toLong, () => {
      val bulkDocs = docs.filter(_.source < BulkSources)
      val incrDocs = docs.filter(_.source >= BulkSources)
      val b = stages(bulkReport).toMap
      val bulkN = stages(bulkReport).last._2
      val incrN = stages(incrReport).last._2
      tally(i, "curated", docs.length)
      tally(i, "kept", bulkN + incrN)
      tally(i, "dedup_in", b("2_quality"))
      tally(i, "dup_dropped", b("2_quality") - bulkN)
      tally(i, "tokens", encoded.agg(sum(size(col("ids")))).head().getLong(0))
      Seq(
        Check("verify_shards_all_ok", allOk),
        Check("unpack_roundtrip", Checks.unpackRoundTrip(encoded, unpacked)),
        exact("bulk_survivors_exact", bulkN, Gen.expectedSurvivors(bulkDocs)),
        exact("increment_survivors_exact", incrN, Gen.expectedSurvivors(incrDocs, bulkDocs)))
    })
  }

  def inputBytes: Long = warcBytes
  def storedBytes: Long = stored
  override def ratios(ops: Set[Int], spanInput: String => (Double, Double)): Map[String, Double] = Map(
    "pipeline.keep_ratio" -> ratio(ops, "kept", "curated"),
    "pipeline.keep_base" -> tallied(ops, "curated"),
    "dedup.dup_ratio" -> ratio(ops, "dup_dropped", "dedup_in"),
    "dedup.dup_base" -> tallied(ops, "dedup_in"),
    "text.tokens" -> tallied(ops, "tokens"))
}

// ---------------------------------------------------------------------------

/** A new version of a lineitem table written beside the stored previous
  * version, then audited: incremental and full diff, patch replay, row
  * numbers, histogram and footer metadata. One full audit per operation. */
final class SnapshotAudit(spark: SparkSession, seed: Long, calls: Calls, small: Boolean) extends Workload {
  val Rows: Long = if (small) 2000L else 20000L
  val unit = "rows"
  val opName = "pass"
  val Ids = Seq("l_orderkey", "l_linenumber")
  val Part = "ship_q"
  private val opts = DiffOptions(changeColumn = Some("changes"))

  private var root: File = _
  private var inBytes = 0L
  private var stored = 0L

  private def input(side: String) = new File(root, s"in/$side").toString
  /** The stored previous version's files: `sorted_left` and `snap_left`. */
  private def previous(n: String) = new File(root, n).toString

  /** Write both versions' inputs, and store the previous (left) version as
    * the audit finds it: a sorted partitioned copy and a snapshot with its
    * manifest, both written through the library. */
  def setup(dir: File): Unit = {
    root = dir
    Gen.lineitem(spark, seed, Rows).write.parquet(input("left"))
    Gen.perturb(spark.read.parquet(input("left")), seed).write.parquet(input("right"))
    inBytes = Gen.bytesUnder(new File(root, "in"))
    write(spark.read.parquet(input("left")), previous("sorted_left"), previous("snap_left"))
  }

  /** Store one version: a sorted partitioned copy and a snapshot with its
    * manifest. Returns the data files of the sorted copy. */
  private def write(df: DataFrame, sorted: String, snapshot: String): Int = {
    calls("write", "writePartitionedBy") {
      val h = new SilentUnpersistHandle()
      graft.write.PartitionedWrite.writePartitionedBy(df, Seq(col(Part)), Seq(col("l_orderkey")),
        unpersistHandle = h).parquet(sorted)
      h.unpersist()
    }
    calls("diff", "SnapshotDiff.writePartitionedWithManifest") {
      SnapshotDiff.writePartitionedWithManifest(df, snapshot, Seq(Part))
    }
    dataFiles(new File(sorted))
  }

  def op(i: Int): Op = {
    val out = new File(root, s"pass$i")
    def dir(n: String) = if (n.endsWith("left")) previous(n) else new File(out, n).toString
    tally(i, "write_calls", 1)
    tally(i, "write_files", write(spark.read.parquet(input("right")), dir("sorted_right"), dir("snap_right")))
    val snapDiff = calls("diff", "SnapshotDiff.diffSnapshots") {
      SnapshotDiff.diffSnapshots(spark, dir("snap_left"), dir("snap_right"), Ids, Seq(Part)).localCheckpoint(true)
    }
    val full = calls("diff", "Diff.of") {
      Diff.of(spark.read.parquet(dir("snap_left")), spark.read.parquet(dir("snap_right")), opts, Ids: _*)
        .localCheckpoint(true)
    }
    val patched = calls("diff", "Diff.patchRight") {
      Gen.contentHash(new Differ(opts).patchRight(full))
    }
    val changedRows = full.where(col("diff") =!= "N")
    val (maxRn, nRn) = calls("core", "RowNumbers.withRowNumbers") {
      val h = UnpersistHandle()
      val r = RowNumbers.withRowNumbers(changedRows, unpersistHandle = h, order = Ids.map(col))
        .agg(coalesce(max(col("row_number")), lit(0L)), count(lit(1))).head()
      h.unpersist()
      (r.getLong(0), r.getLong(1))
    }
    val hist = calls("core", "Histogram.of") {
      Histogram.of(full, Seq(20000.0, 40000.0, 60000.0, 80000.0),
        coalesce(col("right_l_extendedprice"), col("left_l_extendedprice")), col("diff")).collect()
    }
    val metaRows = Seq("snap_left", "snap_right").map { side =>
      calls("parquet", "ParquetMeta.parquetMetadata") {
        ParquetMeta.parquetMetadata(spark, None, Seq(dir(side))).agg(sum(col("rows"))).head().getLong(0)
      }
    }.sum
    stored = Seq("sorted_left", "sorted_right", "snap_left", "snap_right").map(n => Gen.bytesUnder(new File(dir(n)))).sum
    tally(i, "snap_bytes", Gen.bytesUnder(new File(dir("snap_left"))) + Gen.bytesUnder(new File(dir("snap_right"))))
    Op(2 * Rows, () => {
      val snapLeft = spark.read.parquet(dir("snap_left"))
      val snapRight = spark.read.parquet(dir("snap_right"))
      val fullN = full.count()
      Seq(
        Check("patch_right_equals_right", patched == Gen.contentHash(snapRight)),
        Check("snapshot_diff_equals_restricted_full_diff",
          Checks.diffRestricted(snapDiff, full, Part, Gen.changedQuarters(seed))),
        Check("row_numbers_dense", maxRn == nRn && nRn == changedRows.count()),
        Check("histogram_total", hist.map(r => (1 until r.length).map(r.getLong).sum).sum == fullN),
        Check("footer_rows", metaRows == snapLeft.count() + snapRight.count()))
    })
  }

  def inputBytes: Long = inBytes
  def storedBytes: Long = stored
  override def ratios(ops: Set[Int], spanInput: String => (Double, Double)): Map[String, Double] = Map(
    "diff.scan_fraction" -> spanInput("SnapshotDiff.diffSnapshots")._2 / math.max(tallied(ops, "snap_bytes"), 1.0),
    "diff.scan_base_bytes" -> tallied(ops, "snap_bytes"),
    "write.files_per_call" -> ratio(ops, "write_files", "write_calls"),
    "write.calls" -> tallied(ops, "write_calls"))
}

// ---------------------------------------------------------------------------

/** Top-10 query batches against a persisted IVF-PQ index, with a small
  * append every few operations. */
final class AnnServe(spark: SparkSession, seed: Long, calls: Calls, small: Boolean) extends Workload {
  val Base: Int = if (small) 40 else 400
  val Replicas = 10
  val QueryBatch = 16
  val QueryBatches = 100
  val AppendEvery = 4
  val AppendRows = 200
  val K = 10
  val unit = "queries"
  val opName = "query"

  private var root: File = _
  private var appendPool: IndexedSeq[(Long, Array[Float])] = _
  private var corpusBytes = 0L
  private var nextQuery, appends = 0
  /** Results per query, with the number of appends the index held then. */
  private val answers = mutable.Map.empty[Long, (Int, Set[Long])]
  private var recallValue = Double.NaN

  private def index = new File(root, "index").toString
  private def queries = spark.read.parquet(new File(root, "queries").toString)

  def setup(dir: File): Unit = {
    root = dir
    // replicas past `Replicas` are noisy copies of the same base vectors and feed the appends
    val all = Gen.embeddings(seed, Base, Replicas + 4)
    val corpus = all.take(Base * Replicas)
    appendPool = all.drop(Base * Replicas)
    Gen.vectorFrame(spark, corpus).write.parquet(new File(dir, "corpus").toString)
    val qs = Gen.queries(seed, corpus, QueryBatch * QueryBatches)
    Gen.vectorFrame(spark, qs).withColumn("batch", ((col("vec_id") - 1000000000000L) / QueryBatch).cast("int"))
      .repartition(1).write.parquet(new File(dir, "queries").toString)
    Gen.vectorFrame(spark, appendPool).withColumn("batch", (col("vec_id") % 1000000 / AppendRows).cast("int") +
        (col("vec_id") / 1000000 - Replicas).cast("int") * (Base / AppendRows))
      .repartition(1).write.parquet(new File(dir, "appends").toString)
    corpusBytes = Gen.bytesUnder(new File(dir, "corpus"))
    // the quantizers train on one replica, the sample the library recommends
    // training on; the index holds the whole corpus
    val emb = spark.read.parquet(new File(dir, "corpus").toString)
    val sample = emb.where(col("vec_id") < 1000000L)
    val ivf = Ann.trainIvf(sample, col("vec_id"), col("embedding"), k = 16, iterations = 2)
    val pq = Pq.trainPq(sample, col("vec_id"), col("embedding"), dim = Gen.Dim, m = 16, ksub = 16, iterations = 2)
    Pq.saveAnnIndex(emb, col("vec_id"), col("embedding"), ivf, pq, index)
    // a serving index answers one request before it takes traffic; the last
    // query batch is kept for this, so every measured request runs warm
    Pq.ivfPqTopKIndexed(queries.where(col("batch") === QueryBatches - 1), col("vec_id"), col("embedding"),
      index, k = K, nprobe = 4, refine = 10).collect()
  }

  private def query(i: Int, b: Int): Op = {
    val rows = calls("ann", "Pq.ivfPqTopKIndexed") {
      Pq.ivfPqTopKIndexed(queries.where(col("batch") === b), col("vec_id"), col("embedding"), index,
        k = K, nprobe = 4, refine = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id")).collect()
    }
    tally(i, "results", rows.length)
    val got = rows.groupBy(_.getLong(0))
    got.foreach { case (q, rs) => answers(q) = (appends, rs.map(_.getLong(2)).toSet) }
    Op(QueryBatch.toLong, () => Seq(Check("topk_shape",
      got.size == QueryBatch && got.values.forall(rs =>
        rs.map(_.getInt(1)).sorted.toSeq == (1 to K) && rs.map(_.getLong(2)).distinct.length == K))))
  }

  private def append(): Op = {
    val a = appends
    calls("ann", "Pq.appendToAnnIndex") {
      Pq.appendToAnnIndex(spark.read.parquet(new File(root, "appends").toString).where(col("batch") === a),
        col("vec_id"), col("embedding"), index)
    }
    appends += 1
    Op(0L, () => Nil)
  }

  override def hasNext(i: Int): Boolean = nextQuery < QueryBatches - 1

  def op(i: Int): Op =
    if (i % AppendEvery == AppendEvery - 1) append()
    else {
      nextQuery += 1
      query(i, nextQuery - 1)
    }

  /** Recall@10 against exact search, over every 8th answered query, each
    * against the corpus as it stood when the query ran. */
  override def finish(): Seq[Check] = {
    val corpus = spark.read.parquet(new File(root, "corpus").toString)
    val added = spark.read.parquet(new File(root, "appends").toString)
    val sample = answers.toSeq.sortBy(_._1).zipWithIndex.collect { case (a, i) if i % 8 == 0 => a }
    val exact = sample.groupBy(_._2._1).flatMap { case (nAppends, qs) =>
      val base = corpus.unionByName(added.where(col("batch") < nAppends).drop("batch"))
      val q = queries.where(col("vec_id").isin(qs.map(_._1): _*))
      Ann.bruteForceTopK(q, base, col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), K)
        .select(col("query_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    }
    recallValue = Checks.recall(sample.map { case (q, (_, ns)) => q -> ns }.toMap, exact)
    Seq(Check("recall_at_10_floor", recallValue >= Checks.RecallFloor))
  }

  override def extra(): Map[String, Double] = Map("recall_at_10" -> recallValue)
  /** Corpus bytes plus the appended vectors at the corpus' bytes per vector. */
  def inputBytes: Long = corpusBytes + corpusBytes * appends * AppendRows / (Base * Replicas)
  def storedBytes: Long = Gen.bytesUnder(new File(index))
  override def ratios(ops: Set[Int], spanInput: String => (Double, Double)): Map[String, Double] = Map(
    "ann.rows_per_result" -> spanInput("Pq.ivfPqTopKIndexed")._1 / math.max(tallied(ops, "results"), 1.0),
    "ann.results" -> tallied(ops, "results"))
}
