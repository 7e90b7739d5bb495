package graft.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{GroupType, MessageType, PrimitiveType, Type, Types}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

/**
 * Driver-side parquet IO for TINY, BOUNDED side tables — tokenizer merge
 * lists, artifact params rows, file manifests, centroid codebooks: tables
 * whose size is a model/file-count constant, never data-sized.
 *
 * Why it exists (§5 driver discipline, inverted): a `coalesce(1)` write of
 * a one-row params table is a full Spark job — scheduler round-trip, task
 * launch, output-committer temp-dir + rename dance — costing ~0.2 s on an
 * idle local cluster and far more on a contended one. Artifact save/load
 * paths string FOUR or more of these in a row (tokenizer merges + vocab +
 * specials + params), so every shard gate paid ~1 s of pure job-submission
 * floor per artifact touch. Writing the same bytes with a driver-local
 * parquet writer costs milliseconds and produces files `spark.read.parquet`
 * consumes identically (same column names/types, snappy-compressed,
 * standard 3-level LIST encoding for arrays).
 *
 * Crash discipline matches the Hadoop committer's guarantee class: the
 * file lands under a dot-prefixed temp name (hidden from parquet readers)
 * and renames into place last, so a torn write leaves a directory that
 * FAILS loudly at read time (no data files) rather than half-loading —
 * the params-last artifact discipline is preserved.
 *
 * Reads open each data file ONCE: the footer schema and every row group
 * come from the same reader. Every load of a persisted quantizer or params
 * table sits on a per-query path, and a second open re-reads the footer
 * for nothing.
 *
 * NOT for data tables: anything row-count-proportional to the corpus must
 * go through Spark writes. Supported column types: int, long, float,
 * double, boolean, string, and arrays of those (non-null elements).
 */
object LocalParquet {

  /** Overwrite `dir` with a single parquet file holding `rows`. */
  def write(spark: SparkSession, dir: String, schema: StructType,
            rows: Seq[Row]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    if (fs.exists(dirPath)) fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    val msg = toMessageType(schema)
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(dirPath, s".part-00000-$uuid.snappy.parquet.tmp")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(msg)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory = new SimpleGroupFactory(msg)
      rows.foreach { row =>
        val g = factory.newGroup()
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          if (!row.isNullAt(i)) addValue(g, f, i, row)
        }
        writer.write(g)
      }
    } finally writer.close()
    val dest = new Path(dirPath, s"part-00000-$uuid.snappy.parquet")
    require(fs.rename(tmp, dest), s"failed to publish $tmp as $dest")
  }

  /** Read every data file in `dir` (single-digit file counts by design)
    * into schema-carrying Rows — the driver-side dual of [[write]], also
    * able to read the same tables when Spark wrote them. */
  def read(spark: SparkSession, dir: String): Seq[Row] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = SidecarFiles.dataFiles(spark, dir)
    require(files.nonEmpty, s"no data files in $dir")
    files.flatMap(f => readFile(conf, new Path(f)))
  }

  /** [[read]] expecting exactly one row (params tables). */
  def readRow(spark: SparkSession, dir: String): Row = {
    val rows = read(spark, dir)
    require(rows.length == 1, s"expected exactly one row in $dir, got ${rows.length}")
    rows.head
  }

  /** One open per file: the footer schema and every row group come from
    * the same [[ParquetFileReader]]. */
  private def readFile(conf: Configuration, file: Path): Seq[Row] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())
    try {
      val msg = reader.getFooter.getFileMetaData.getSchema
      val schema = toStructType(msg)
      val columns = new ColumnIOFactory().getColumnIO(msg)
      val out = Seq.newBuilder[Row]
      var rowGroup = reader.readNextRowGroup()
      while (rowGroup != null) {
        val records = columns.getRecordReader(rowGroup, new GroupRecordConverter(msg))
        var n = rowGroup.getRowCount
        while (n > 0) {
          val g = records.read()
          val values = schema.fields.indices.map { i =>
            if (g.getFieldRepetitionCount(i) == 0) null
            else readValue(g, msg.getType(i), i, schema.fields(i).dataType)
          }.toArray[Any]
          out += new GenericRowWithSchema(values, schema)
          n -= 1
        }
        rowGroup = reader.readNextRowGroup()
      }
      out.result()
    } finally reader.close()
  }

  // --- schema mapping -------------------------------------------------------

  private def primitive(name: String, dt: DataType,
                        rep: Type.Repetition = Type.Repetition.OPTIONAL): PrimitiveType = {
    val b = dt match {
      case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep)
      case LongType    => Types.primitive(PrimitiveTypeName.INT64, rep)
      case FloatType   => Types.primitive(PrimitiveTypeName.FLOAT, rep)
      case DoubleType  => Types.primitive(PrimitiveTypeName.DOUBLE, rep)
      case BooleanType => Types.primitive(PrimitiveTypeName.BOOLEAN, rep)
      case StringType  => Types.primitive(PrimitiveTypeName.BINARY, rep)
        .as(LogicalTypeAnnotation.stringType())
      case other => throw new IllegalArgumentException(
        s"LocalParquet: unsupported column type $other for $name")
    }
    b.named(name)
  }

  private def toMessageType(schema: StructType): MessageType = {
    val fields: Seq[Type] = schema.fields.toSeq.map { f =>
      f.dataType match {
        case ArrayType(elem, containsNull) =>
          // Spark's standard (non-legacy) 3-level LIST layout; element
          // repetition mirrors containsNull so read-back schemas match
          Types.optionalList().element(primitive("element", elem,
            if (containsNull) Type.Repetition.OPTIONAL
            else Type.Repetition.REQUIRED)).named(f.name)
        case dt => primitive(f.name, dt)
      }
    }
    new MessageType("spark_schema", fields: _*)
  }

  private def toStructType(msg: MessageType): StructType =
    StructType(msg.getFields.toArray.map { t =>
      val f = t.asInstanceOf[Type]
      StructField(f.getName, fieldType(f), nullable = true)
    })

  private def fieldType(t: Type): DataType = t match {
    case p: PrimitiveType => p.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32   => IntegerType
      case PrimitiveTypeName.INT64   => LongType
      case PrimitiveTypeName.FLOAT   => FloatType
      case PrimitiveTypeName.DOUBLE  => DoubleType
      case PrimitiveTypeName.BOOLEAN => BooleanType
      case PrimitiveTypeName.BINARY  => StringType
      case other => throw new IllegalArgumentException(
        s"LocalParquet: unsupported parquet type $other for ${t.getName}")
    }
    case g: GroupType
      if g.getLogicalTypeAnnotation == LogicalTypeAnnotation.listType() =>
      // repeated group "list" { element }
      val element = g.getType(0).asGroupType().getType(0)
      ArrayType(fieldType(element),
        containsNull = element.isRepetition(Type.Repetition.OPTIONAL))
    case other => throw new IllegalArgumentException(
      s"LocalParquet: unsupported parquet group ${other.getName}")
  }

  // --- value shuttling ------------------------------------------------------

  private def addValue(g: Group, f: StructField, i: Int, row: Row): Unit =
    f.dataType match {
      case IntegerType => g.add(i, row.getInt(i))
      case LongType    => g.add(i, row.getLong(i))
      case FloatType   => g.add(i, row.getFloat(i))
      case DoubleType  => g.add(i, row.getDouble(i))
      case BooleanType => g.add(i, row.getBoolean(i))
      case StringType  => g.add(i, row.getString(i))
      case ArrayType(elem, _) =>
        val list = g.addGroup(i)
        row.getSeq[Any](i).foreach { v =>
          val e = list.addGroup("list")
          elem match {
            case IntegerType => e.add("element", v.asInstanceOf[Int])
            case LongType    => e.add("element", v.asInstanceOf[Long])
            case FloatType   => e.add("element", v.asInstanceOf[Float])
            case DoubleType  => e.add("element", v.asInstanceOf[Double])
            case BooleanType => e.add("element", v.asInstanceOf[Boolean])
            case StringType  => e.add("element", v.asInstanceOf[String])
            case other => throw new IllegalArgumentException(
              s"LocalParquet: unsupported array element type $other")
          }
        }
      case other => throw new IllegalArgumentException(
        s"LocalParquet: unsupported column type $other")
    }

  private def readValue(g: Group, t: Type, i: Int, dt: DataType): Any = dt match {
    case IntegerType => g.getInteger(i, 0)
    case LongType    => g.getLong(i, 0)
    case FloatType   => g.getFloat(i, 0)
    case DoubleType  => g.getDouble(i, 0)
    case BooleanType => g.getBoolean(i, 0)
    case StringType  => g.getString(i, 0)
    case ArrayType(elem, _) =>
      val list = g.getGroup(i, 0)
      val n = list.getFieldRepetitionCount(0)
      (0 until n).map { j =>
        val e = list.getGroup(0, j)
        elem match {
          case IntegerType => e.getInteger(0, 0)
          case LongType    => e.getLong(0, 0)
          case FloatType   => e.getFloat(0, 0)
          case DoubleType  => e.getDouble(0, 0)
          case BooleanType => e.getBoolean(0, 0)
          case StringType  => e.getString(0, 0)
          case other => throw new IllegalArgumentException(
            s"LocalParquet: unsupported array element type $other")
        }
      }
    case other => throw new IllegalArgumentException(
      s"LocalParquet: unsupported column type $other")
  }
}
