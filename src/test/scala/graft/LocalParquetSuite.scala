package graft

import graft.parquet.LocalParquet
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class LocalParquetSuite extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("b", BooleanType),
    StructField("s", StringType),
    StructField("af", ArrayType(FloatType, containsNull = false)),
    StructField("as", ArrayType(StringType, containsNull = false))))

  test("LocalParquet.write round-trips through spark.read.parquet") {
    val dir = java.nio.file.Files.createTempDirectory("localparquet-w").toString + "/t"
    val rows = Seq(
      Row(1, 10L, 1.5, true, "hello", Seq(1.0f, 2.5f), Seq("a", "b")),
      Row(2, 20L, -0.25, false, "wörld ", Seq.empty[Float], Seq("c")),
      Row(null, null, null, null, null, null, null))
    LocalParquet.write(spark, dir, schema, rows)
    val got = spark.read.parquet(dir)
    // compare modulo array containsNull: Spark's parquet reader surfaces
    // list elements as nullable regardless of the file's repetition
    def shape(dt: DataType): DataType = dt match {
      case ArrayType(e, _) => ArrayType(shape(e), containsNull = true)
      case other => other
    }
    assert(got.schema.fields.map(f => (f.name, shape(f.dataType))).toSeq ==
      schema.fields.map(f => (f.name, shape(f.dataType))).toSeq)
    val collected = got.orderBy(col("l").asc_nulls_last).collect()
    assert(collected.length == 3)
    assert(collected(0).getInt(0) == 1 && collected(0).getString(4) == "hello")
    assert(collected(0).getSeq[Float](5) == Seq(1.0f, 2.5f))
    assert(collected(1).getSeq[String](6) == Seq("c"))
    assert(collected(1).getString(4) == "wörld ")
    assert(collected(2).isNullAt(0) && collected(2).isNullAt(5))
  }

  test("LocalParquet.read consumes Spark-written and self-written files alike") {
    val dir = java.nio.file.Files.createTempDirectory("localparquet-r").toString
    // Spark-written params-style row (the pre-existing artifact layout)
    spark.range(1).select(lit(512).as("capacity"), lit(7L).as("total_ids"),
      lit(true).as("has_tokenizer"), lit("x").as("tag"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/spark")
    val r = LocalParquet.readRow(spark, s"$dir/spark")
    assert(r.getAs[Int]("capacity") == 512)
    assert(r.getAs[Long]("total_ids") == 7L)
    assert(r.getAs[Boolean]("has_tokenizer"))
    assert(r.getAs[String]("tag") == "x")
    // Spark-written list column
    Seq((0, Seq(1.5f, 2.5f)), (1, Seq(3.5f))).toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/list")
    val lr = LocalParquet.read(spark, s"$dir/list").sortBy(_.getAs[Int]("cid"))
    assert(lr.map(_.getAs[Seq[Float]]("centroid")) == Seq(Seq(1.5f, 2.5f), Seq(3.5f)))
    // self-written read-back
    LocalParquet.write(spark, s"$dir/self",
      StructType(Seq(StructField("file", StringType), StructField("rows", LongType))),
      Seq(Row("f1", 3L), Row("f2", 4L)))
    val sr = LocalParquet.read(spark, s"$dir/self").sortBy(_.getAs[String]("file"))
    assert(sr.map(r2 => (r2.getAs[String]("file"), r2.getAs[Long]("rows"))) ==
      Seq(("f1", 3L), ("f2", 4L)))
  }

  test("LocalParquet.write overwrites and fails loudly on empty dirs") {
    val dir = java.nio.file.Files.createTempDirectory("localparquet-o").toString + "/t"
    val s = StructType(Seq(StructField("v", IntegerType)))
    LocalParquet.write(spark, dir, s, Seq(Row(1), Row(2)))
    LocalParquet.write(spark, dir, s, Seq(Row(3)))
    assert(LocalParquet.read(spark, dir).map(_.getInt(0)) == Seq(3))
    assert(spark.read.parquet(dir).as[Int].collect().toSeq == Seq(3))
    intercept[IllegalArgumentException] {
      LocalParquet.read(spark, java.nio.file.Files.createTempDirectory("localparquet-e").toString)
    }
  }

  test("LocalParquet.read: every column type with nulls, zero rows, many row groups") {
    val dir = java.nio.file.Files.createTempDirectory("localparquet-rt").toString
    val elems = Seq(IntegerType, LongType, FloatType, DoubleType, BooleanType, StringType)
    val all = StructType(elems.map(t => StructField(s"c_${t.typeName}", t)) ++
      elems.map(t => StructField(s"a_${t.typeName}", ArrayType(t, containsNull = false))))
    val rows = Seq(
      Row(7, 8L, 1.5f, -2.25, true, "x", Seq(1, 2), Seq(3L), Seq(0.5f, 1.5f),
        Seq(2.5), Seq(false, true), Seq("p", "q")),
      Row(Seq.fill(12)(null): _*),
      Row(0, 0L, 0.0f, 0.0, false, "", Seq.empty[Int], Seq.empty[Long],
        Seq.empty[Float], Seq.empty[Double], Seq.empty[Boolean], Seq.empty[String]))
    LocalParquet.write(spark, s"$dir/all", all, rows)
    val back = LocalParquet.read(spark, s"$dir/all")
    assert(back == rows)
    assert(back.head.schema == StructType(all.fields.map(_.copy(nullable = true))))
    // zero rows, written locally and by Spark: a footer and no row group
    LocalParquet.write(spark, s"$dir/empty", all, Nil)
    assert(LocalParquet.read(spark, s"$dir/empty").isEmpty)
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], all)
      .coalesce(1).write.parquet(s"$dir/spark-empty")
    assert(LocalParquet.read(spark, s"$dir/spark-empty").isEmpty)
    // a Spark-written file cut into several row groups: every one is read
    spark.range(0, 5000).select(col("id").cast("int").as("i"), col("id").as("l"),
        concat(lit("s"), col("id").cast("string")).as("s"),
        array(col("id").cast("float")).as("af"))
      .coalesce(1).write.option("parquet.block.size", "4096").parquet(s"$dir/groups")
    val file = graft.parquet.SidecarFiles.dataFiles(spark, s"$dir/groups").head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf()))
    val rowGroups = try footer.getRowGroups.size finally footer.close()
    assert(rowGroups > 1)
    val grouped = LocalParquet.read(spark, s"$dir/groups")
    assert(grouped.map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getSeq[Float](3))) ==
      (0 until 5000).map(i => (i, i.toLong, s"s$i", Seq(i.toFloat))))
  }

  test("FooterStats.sparkSchema reads the written schema; the read equals an inferred one") {
    val dir = java.nio.file.Files.createTempDirectory("footer-schema").toString
    val df = Seq((1L, Seq(0.5f), "a"), (2L, Seq.empty[Float], null))
      .toDF("id", "vec", "tag").repartition(2)
    df.write.parquet(s"$dir/spark")
    df.write.mode("append").parquet(s"$dir/spark")
    val inferred = spark.read.parquet(s"$dir/spark")
    // the footer keeps the written nullability; the relation relaxes it
    // either way
    assert(graft.parquet.FooterStats.sparkSchema(spark, s"$dir/spark") == df.schema)
    val read = graft.parquet.FooterStats.readSparkWritten(spark, s"$dir/spark")
    assert(read.schema == inferred.schema)
    assert(read.orderBy("id").collect().toSeq == inferred.orderBy("id").collect().toSeq)
    // a file without Spark's row-schema key, and a directory without data
    LocalParquet.write(spark, s"$dir/local",
      StructType(Seq(StructField("v", IntegerType))), Seq(Row(1)))
    intercept[IllegalArgumentException](graft.parquet.FooterStats.sparkSchema(spark, s"$dir/local"))
    intercept[IllegalArgumentException](graft.parquet.FooterStats.sparkSchema(spark,
      java.nio.file.Files.createTempDirectory("footer-schema-empty").toString))
  }
}
