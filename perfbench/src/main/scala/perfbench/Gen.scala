package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One generated document. `cluster` names the original a document copies
  * (its own id for an original), so the number of distinct clusters among
  * `good` documents is the exact survivor count of a curation pass. `good`
  * says whether the document passes the language and quality filters at the
  * library's default settings, as [[Gen.keeps]] works it out independently
  * of the library. */
final case class Doc(id: Long, source: Int, text: String, cluster: Long, good: Boolean)

/** Seeded input generator. Every input a workload hands to the library is
  * made here from the seed alone, so a seed names one input set exactly. The
  * shape of the inputs (vocabulary, lengths, language mix, duplicate rates,
  * vector distribution, lineitem columns) follows the sf0.1 test tables, as
  * `profile_testdata.py` measured them into `testdata_profile.json`. */
object Gen {

  // ------------------------------------------------------------------ documents

  /** The documents table's vocabulary, every word at an equal share (each
    * measured at 3.3% of words), without its near-duplicate marker. */
  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private val Content = Vocab.filterNot(w => w == "the" || w == "a")

  /** The word the table appends to an earlier document to make a near duplicate. */
  val NearDupMarker = "dup"

  /** Language shares of the table's `lang` column, in cumulative order. */
  private val LangShare = Seq("en" -> 0.4118, "de" -> 0.1404, "es" -> 0.1488, "fr" -> 0.1484, "zh" -> 0.1506)

  /** The table marks language only in a column; here a document in another
    * language says so in its text: its two articles stand where an English
    * document has "the" and "a" (Chinese has none, so a content word stands
    * there), so the language filter sees what the column says. */
  private val Articles: Map[String, (String, String)] = Map(
    "en" -> ("the", "a"), "de" -> ("der", "die"), "es" -> ("el", "los"), "fr" -> ("le", "la"))

  /** Measured duplicate shares: exact copies and near copies (an earlier
    * document with the marker word appended) among all documents. */
  val ExactDupShare = 0.0016
  val NearDupShare = 0.0486

  /** Measured words per document: uniform from 10 to 99. */
  val MinWords = 10
  val MaxWords = 99

  private def words(rnd: SplittableRandom, lang: String): String = {
    val n = MinWords + rnd.nextInt(MaxWords - MinWords + 1)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      val w = Vocab(rnd.nextInt(Vocab.length))
      sb.append(Articles.get(lang) match {
        case Some((the, a)) => if (w == "the") the else if (w == "a") a else w
        case None => if (w == "the" || w == "a") Content(rnd.nextInt(Content.length)) else w
      })
      i += 1
    }
    sb.toString
  }

  /** `n` base documents `(text, cluster)`: exact and near copies of earlier
    * originals at the measured shares, the originals in the measured
    * language mix and lengths. */
  def baseDocs(seed: Long, n: Int): IndexedSeq[(String, Long)] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val out = new scala.collection.mutable.ArrayBuffer[(String, Long)](n)
    val originals = new scala.collection.mutable.ArrayBuffer[Int]()
    for (i <- 0 until n) {
      val roll = rnd.nextDouble()
      if (roll < ExactDupShare + NearDupShare && originals.nonEmpty) {
        val (text, cluster) = out(originals(rnd.nextInt(originals.length)))
        out += ((if (roll < ExactDupShare) text else text + " " + NearDupMarker, cluster))
      } else {
        var r = rnd.nextDouble()
        val lang = LangShare.find { case (_, s) => r -= s; r < 0 }.fold(LangShare.last._1)(_._1)
        originals += i
        out += ((words(rnd, lang), i.toLong))
      }
    }
    out.toIndexedSeq
  }

  // The library's language markers and English stopwords, restated so the
  // expected survivor count does not come from the code it checks.
  private val Markers: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "fr" -> Set("le", "la", "les", "des", "et", "une", "est", "que", "pour", "dans"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "auf"),
    "es" -> Set("el", "los", "las", "una", "es", "que", "por", "para", "como", "pero"))
  private val Stopwords = Set("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for",
    "on", "with", "as")

  /** Whether curation at the library's defaults keeps `text` before
    * deduplication: the marker-word language is English, and the text has
    * 50 to 100,000 tokens, a mean token length of 3 to 10, at least 2%
    * stopwords and no bigram above 18% of all bigrams. `text` is lowercase
    * words separated by single spaces, so its tokens are its words. */
  def keeps(text: String): Boolean = {
    val t = text.split(' ')
    val n = t.length
    val distinct = t.toSet
    val lang = Markers.foldLeft(("und", 0)) { case (best, (l, ws)) =>
      val s = ws.count(distinct)
      if (s > best._2) (l, s) else best
    }._1
    val avgLen = t.map(_.length).sum.toDouble / n
    val stop = t.count(Stopwords).toDouble / n
    val topBigram = if (n < 2) 0.0
      else t.sliding(2).map(_.mkString(" ")).toSeq.groupBy(identity).values.map(_.size).max.toDouble / (n - 1)
    lang == "en" && n >= 50 && n <= 100000 && avgLen >= 3.0 && avgLen <= 10.0 && stop >= 0.02 &&
      topBigram <= 0.18
  }

  /** Replica-token interleaving (the ScaleProbe amplification): the token
    * `r<rep>` follows every third word. Copies inside one replica keep their
    * high Jaccard; the same document in two replicas shares at most a quarter
    * of its 3-shingles, so duplicate structure grows linearly with replicas. */
  def interleave(text: String, rep: Int): String = {
    val ws = text.split(' ')
    val sb = new StringBuilder
    var i = 0
    while (i < ws.length) {
      if (i > 0) sb.append(' ')
      sb.append(ws(i))
      if (i % 3 == 2) sb.append(" r").append(rep)
      i += 1
    }
    sb.toString
  }

  /** `base` seeded documents amplified `replicas`-fold, spread over
    * `sources` sources. Ids start at `idBase`: replica r of base document i
    * gets `idBase + r * 1000000 + i`, so ids grow with replicas. */
  def corpus(seed: Long, base: Int, replicas: Int, sources: Int, idBase: Long = 0L): IndexedSeq[Doc] = {
    require(base < 1000000)
    val b = baseDocs(seed, base)
    for (r <- 0 until replicas; (i, (text, cluster)) <- b.indices.zip(b)) yield {
      val id = idBase + r * 1000000L + i
      val source = java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L) & Int.MaxValue
      val t = interleave(text, r)
      Doc(id, source % sources, t, idBase + r * 1000000L + cluster, keeps(t))
    }
  }

  /** Survivor count of curating `batch` against an index holding `indexed`:
    * the good clusters of the batch that the index does not already hold. */
  def expectedSurvivors(batch: Iterable[Doc], indexed: Iterable[Doc] = Nil): Long = {
    val held = indexed.iterator.filter(_.good).map(_.cluster).toSet
    batch.iterator.filter(d => d.good && !held(d.cluster)).map(_.cluster).toSet.size.toLong
  }

  /** Write one WET shard per source (`shard-XXX.warc.wet.gz`, one gzip
    * member per shard, a leading warcinfo record) under `dir`. Returns the
    * bytes of text payload written. */
  def writeWet(docs: Iterable[Doc], sources: Int, dir: File): Long = {
    dir.mkdirs()
    val crlf = "\r\n"
    var payload = 0L
    docs.groupBy(_.source).toSeq.sortBy(_._1).foreach { case (s, ds) =>
      val out = new GZIPOutputStream(new BufferedOutputStream(
        new FileOutputStream(new File(dir, f"shard-$s%03d.warc.wet.gz")), 1 << 16), 1 << 16)
      try {
        out.write(s"WARC/1.0${crlf}WARC-Type: warcinfo${crlf}Content-Length: 0$crlf$crlf$crlf$crlf".getBytes(US_ASCII))
        ds.toSeq.sortBy(_.id).foreach { d =>
          val body = d.text.getBytes(UTF_8)
          payload += body.length
          out.write((s"WARC/1.0${crlf}WARC-Type: conversion$crlf" +
            s"WARC-Target-URI: http://bench.test/${d.id}$crlf" +
            s"WARC-Date: 2026-01-01T00:00:00Z$crlf" +
            s"Content-Length: ${body.length}$crlf$crlf").getBytes(US_ASCII))
          out.write(body)
          out.write(s"$crlf$crlf".getBytes(US_ASCII))
        }
      } finally out.close()
    }
    payload
  }

  /** Write documents as JSON lines `{"doc_id":…,"text":…}`; returns the
    * bytes written. The texts hold only ASCII letters and spaces. */
  def writeJsonl(docs: Iterable[Doc], file: File): Long = {
    file.getParentFile.mkdirs()
    val out = new BufferedOutputStream(new FileOutputStream(file), 1 << 16)
    var n = 0L
    try docs.foreach { d =>
      val b = s"""{"doc_id":${d.id},"text":"${d.text}"}\n""".getBytes(UTF_8)
      n += b.length
      out.write(b)
    } finally out.close()
    n
  }

  // ------------------------------------------------------------------ vectors

  /** The embeddings table's dimension. */
  val Dim = 64

  /** Per-dimension noise of a replica and of a query around the vector it
    * copies: a replica lies about 0.4 from its base vector, where two
    * independent unit vectors lie about 1.41 apart, so a query's exact top
    * 10 is the replica family of the vector it copies. */
  val ReplicaNoise = 0.05

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** `base` unit vectors drawn uniformly from the sphere, as the embeddings
    * table's are (unit norm, per-dimension spread 1/8, its ten labels'
    * centroids all within 0.08 of the origin), amplified `replicas`-fold
    * by seeded noise and renormalized. Ids are `idBase + r * 1000000 + i`. */
  def embeddings(seed: Long, base: Int, replicas: Int, idBase: Long = 0L): IndexedSeq[(Long, Array[Float])] = {
    val rnd = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 3)
    val bases = Array.fill(base)(unit(Array.fill(Dim)(gauss(rnd))))
    for (r <- 0 until replicas; i <- 0 until base) yield
      (idBase + r * 1000000L + i, unit(bases(i).map(x => x + gauss(rnd) * ReplicaNoise)).map(_.toFloat))
  }

  /** Query vectors: noisy copies of randomly chosen corpus vectors, with ids
    * from 10^12 upward so they never collide with corpus ids. */
  def queries(seed: Long, corpus: IndexedSeq[(Long, Array[Float])], n: Int): IndexedSeq[(Long, Array[Float])] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 101)
    (0 until n).map { q =>
      val v = corpus(rnd.nextInt(corpus.length))._2
      (1000000000000L + q, unit(v.map(x => x + gauss(rnd) * ReplicaNoise)).map(_.toFloat))
    }
  }

  private def gauss(rnd: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on Java 17
    val u = 1.0 - rnd.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  def vectorFrame(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  // ------------------------------------------------------------------ lineitem

  /** Snapshot partitions: the ship quarters the lineitem table spans
    * (ship dates 1995-01-02 to 2001-11-04). */
  val Quarters: IndexedSeq[String] = for (y <- 1995 to 2001; q <- 1 to 4) yield s"${y}Q$q"

  private def h(seed: Long, salt: Int, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(Long.MaxValue))

  /** Measured share of orders with 1, 2, ... 17 lines. */
  private val LinesPerOrder = Array(0.07482, 0.14816, 0.20036, 0.19762, 0.1605, 0.10612, 0.06073,
    0.02993, 0.01331, 0.00556, 0.00198, 0.00063, 0.0002, 0.00007, 0.00001, 0.00001, 0.00001)
  private val ShipStart = java.time.LocalDate.parse("1995-01-02")
  private val ShipDays = java.time.temporal.ChronoUnit.DAYS.between(ShipStart, java.time.LocalDate.parse("2001-11-04")).toInt

  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_shipdate", DateType),
    StructField("ship_q", StringType)))

  /** `rows` seeded lineitem rows with eight of the table's columns plus the
    * partition column `ship_q`, each drawn from the measured ranges: lines
    * per order as measured, part keys 0-19999, quantities 1-50, prices
    * 900.68-104999.91, discounts 0.00-0.10 in cents, return flags A/N/R at
    * equal shares, ship dates uniform over the table's span. Wider rows
    * stall the optimizer's constraint propagation on the diff plans. */
  def lineitem(spark: SparkSession, seed: Long, rows: Long): DataFrame = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 29)
    val out = new java.util.ArrayList[Row](rows.toInt)
    var order = 0L
    while (out.size < rows) {
      order += 1
      var r = rnd.nextDouble()
      val lines = LinesPerOrder.indexWhere { s => r -= s; r < 0 } match { case -1 => 1; case k => k + 1 }
      var l = 1
      while (l <= lines && out.size < rows) {
        val ship = ShipStart.plusDays(rnd.nextInt(ShipDays + 1).toLong)
        out.add(Row(order, l, rnd.nextLong(20000L), (1 + rnd.nextInt(50)).toDouble,
          (90068 + rnd.nextLong(10499991L - 90068L + 1)) / 100.0, rnd.nextInt(11) / 100.0,
          "ANR".charAt(rnd.nextInt(3)).toString, java.sql.Date.valueOf(ship),
          s"${ship.getYear}Q${(ship.getMonthValue - 1) / 3 + 1}"))
        l += 1
      }
    }
    spark.createDataFrame(out, LineitemSchema)
  }

  /** The partitions a seed changes: three of the 28 quarters. */
  def changedQuarters(seed: Long): Seq[String] = {
    val rnd = new SplittableRandom(seed + 977)
    scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
      .shuffle(Quarters.toList).take(3).sorted
  }

  /** The next version of `left`: inside the changed quarters, 10% of rows
    * get a new price, 5% are deleted, and 2% reappear as inserts under new
    * order keys; every other partition is untouched. */
  def perturb(left: DataFrame, seed: Long): DataFrame = {
    val inChanged = col("ship_q").isin(changedQuarters(seed): _*)
    val r = h(seed, 11, col("l_orderkey"), col("l_linenumber")) % 100
    val kept = left
      .where(!(inChanged && r < 5))
      .withColumn("l_extendedprice",
        when(inChanged && r >= 5 && r < 15, col("l_extendedprice") + 1.0).otherwise(col("l_extendedprice")))
    val inserts = left.where(inChanged && r >= 98)
      .withColumn("l_orderkey", col("l_orderkey") + 1000000000L)
    kept.unionByName(inserts)
  }

  // ------------------------------------------------------------------ hashing

  /** Order-insensitive content hash (the sum of row hashes, so duplicate
    * rows count) and row count of a frame. */
  def contentHash(df: DataFrame): (String, Long) = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0)).cast("string"),
      count(lit(1))).head()
    (r.getString(0), r.getLong(1))
  }

  /** SHA-256 of every regular file under `root`, in path order. */
  def filesDigest(root: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(walk)
      else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        md.update(f.getName.getBytes(UTF_8))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    walk(root)
    md.digest().map(b => f"$b%02x").mkString
  }

  def bytesUnder(root: File): Long =
    if (root.isDirectory) Option(root.listFiles()).getOrElse(Array.empty).map(bytesUnder).sum
    else if (root.isFile) root.length() else 0L
}
