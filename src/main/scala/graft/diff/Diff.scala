package graft.diff

import graft.functions.{backticks, distinctPrefixFor}
import org.apache.spark.sql._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import java.util.Locale

/**
 * Dataset diff: a full-outer null-safe equi-join of two datasets on their id
 * columns, projected to an action column (`N`/`C`/`D`/`I`), the id columns
 * (coalesced across sides) and the value columns laid out per [[DiffMode]].
 *
 * Clean-room re-implementation of the reference semantics
 * (/root/reference/src/main/scala/uk/co/gresearch/spark/diff/Diff.scala:277-320).
 * Cost shape at scale: exactly one shuffle per side on the id-column hash, one
 * join (SortMergeJoin/ShuffledHashJoin chosen by Catalyst/AQE; broadcast when
 * one side is small) and one fused projection — no extra passes. All
 * comparisons are Column algebra, so whole-stage codegen and column pruning
 * stay effective.
 *
 * Planning invariant: each column is named once, before the join — value
 * and ignored columns under their output name, id columns and the exists
 * flags under an internal one — and the output projection aliases only the
 * computed columns (the action, the change array, the coalesced ids, the
 * sparse-mode values), never a bare attribute. Catalyst's constraint
 * propagation adds, for every alias of a bare attribute, a rewritten copy
 * of each constraint that mentions it; the action and change columns
 * mention every value column, so renaming each value column a second
 * time would double the constraint set once per column. Named once,
 * driver planning stays linear in the width, as do the `localCheckpoint` /
 * `checkpoint` of a diff result and every join onto it, which read the
 * same constraints (`DiffPlanSuite` pins both).
 */
class Differ(val options: DiffOptions) extends Serializable {

  import Differ._

  // --------------------------------------------------------------------------
  // schema validation (driver-side, eager — fails before any job is submitted)
  // (reference: Diff.scala:34-144)
  // --------------------------------------------------------------------------
  private[diff] def checkSchema[T, U](
      left: Dataset[T], right: Dataset[U],
      idColumns: Seq[String], ignoreColumns: Seq[String]): Unit = {
    val cs = caseSensitive(left.sparkSession)

    require(left.columns.length == distinctBy(left.columns, cs).length &&
      right.columns.length == distinctBy(right.columns, cs).length,
      s"The datasets have duplicate columns.\n" +
        s"Left column names: ${left.columns.mkString(", ")}\n" +
        s"Right column names: ${right.columns.mkString(", ")}")

    val leftNonIgnored = left.columns.filterNot(containsIn(ignoreColumns, cs))
    val rightNonIgnored = right.columns.filterNot(containsIn(ignoreColumns, cs))

    val leftFields = left.schema.fields
      .filterNot(f => containsIn(ignoreColumns, cs)(f.name))
      .map(f => canon(f.name, cs) -> f.dataType)
    val rightFields = right.schema.fields
      .filterNot(f => containsIn(ignoreColumns, cs)(f.name))
      .map(f => canon(f.name, cs) -> f.dataType)
    val rightFieldMap = rightFields.toMap
    require(leftFields.map(_._1).toSet == rightFields.map(_._1).toSet &&
      leftFields.forall { case (n, t) =>
        org.apache.spark.sql.graftext.sameType(rightFieldMap(n), t) },
      s"The datasets do not have the same schema.\n" +
        s"Left extra columns: ${diffFields(leftFields, rightFields).mkString(", ")}\n" +
        s"Right extra columns: ${diffFields(rightFields, leftFields).mkString(", ")}")

    val pkColumns = if (idColumns.isEmpty) leftNonIgnored.toSeq else idColumns
    require(pkColumns.nonEmpty, "The schema must not be empty")
    val missingIds = pkColumns.filterNot(containsIn(leftNonIgnored, cs))
    require(missingIds.isEmpty,
      s"Some id columns do not exist: ${missingIds.mkString(", ")} missing among " +
        s"${leftNonIgnored.mkString(", ")}")

    // ignore columns must exist on at least one side
    // (reference: Diff.scala:87-90)
    val allColumns = left.columns.toSeq ++ right.columns
    val missingIgnores = ignoreColumns.filterNot(containsIn(allColumns, cs))
    require(missingIgnores.isEmpty,
      s"Some ignore columns do not exist: ${missingIgnores.mkString(", ")} missing among " +
        s"${distinctBy(allColumns, cs).sorted.mkString(", ")}")

    // all output names must be distinct (covers diff/change/prefix collisions)
    val out = outputColumnNames(left, right, pkColumns, ignoreColumns, cs)
    val dups = out.groupBy(canon(_, cs)).filter(_._2.length > 1).keys
    require(dups.isEmpty,
      s"Diff output columns would collide: ${dups.mkString(", ")}. " +
        s"Change the diff/change column name or the column prefixes.")
  }

  private def valueColumnsOf[T, U](
      left: Dataset[T], right: Dataset[U],
      pkColumns: Seq[String], ignoreColumns: Seq[String], cs: Boolean): Seq[String] =
    left.columns.toSeq
      .filterNot(containsIn(ignoreColumns, cs))
      .filterNot(containsIn(pkColumns, cs))

  /**
   * The right dataset's own spelling of a (left-cased) column name, so output
   * columns preserve each side's case in case-insensitive sessions
   * (reference: right-prefixed columns carry the right schema's case,
   * DiffSuite.scala:1766-1814 `right_VALUE`).
   */
  private def rightNameOf[U](right: Dataset[U], cs: Boolean)(c: String): String =
    right.columns.find(n => canon(n, cs) == canon(c, cs)).getOrElse(c)

  /** Output value/ignore column names for the configured mode (collision check + diffWith). */
  private def outputColumnNames[T, U](
      left: Dataset[T], right: Dataset[U],
      pkColumns: Seq[String], ignoreColumns: Seq[String], cs: Boolean): Seq[String] = {
    val valueColumns = valueColumnsOf(left, right, pkColumns, ignoreColumns, cs)
    val leftIgnored = left.columns.toSeq.filter(containsIn(ignoreColumns, cs))
    val rightIgnored = right.columns.toSeq.filter(containsIn(ignoreColumns, cs))
    val rightName = rightNameOf(right, cs) _
    val lp = options.leftColumnPrefix
    val rp = options.rightColumnPrefix
    val values = options.diffMode match {
      case DiffMode.ColumnByColumn =>
        valueColumns.flatMap(c => Seq(s"${lp}_$c", s"${rp}_${rightName(c)}")) ++
          leftIgnored.map(c => s"${lp}_$c") ++ rightIgnored.map(c => s"${rp}_$c")
      case DiffMode.SideBySide =>
        valueColumns.map(c => s"${lp}_$c") ++ leftIgnored.map(c => s"${lp}_$c") ++
          valueColumns.map(c => s"${rp}_${rightName(c)}") ++ rightIgnored.map(c => s"${rp}_$c")
      case DiffMode.LeftSide => valueColumns ++ leftIgnored
      case DiffMode.RightSide => valueColumns.map(rightName) ++ rightIgnored
    }
    Seq(options.diffColumn) ++ options.changeColumn.toSeq ++ pkColumns ++ values
  }

  // --------------------------------------------------------------------------
  // the diff plan (reference: Diff.scala:277-320)
  // --------------------------------------------------------------------------
  private[diff] def doDiff[T, U](
      left: Dataset[T], right: Dataset[U],
      idColumns: Seq[String], ignoreColumns: Seq[String] = Seq.empty): DataFrame = {
    checkSchema(left, right, idColumns, ignoreColumns)
    val cs = caseSensitive(left.sparkSession)

    val pkColumns =
      if (idColumns.isEmpty) left.columns.toSeq.filterNot(containsIn(ignoreColumns, cs))
      else idColumns
    val valueColumns = valueColumnsOf(left, right, pkColumns, ignoreColumns, cs)
    val leftIgnored = left.columns.toSeq.filter(containsIn(ignoreColumns, cs))
    val rightIgnored = right.columns.toSeq.filter(containsIn(ignoreColumns, cs))
    val lp = options.leftColumnPrefix
    val rp = options.rightColumnPrefix

    // Each side's columns get their join-side name before the join, once:
    // value and ignored columns the output name they end up with, id
    // columns and the exists flags an internal name. The internal prefix is
    // distinct from every input and output name, and the join output has no
    // duplicate names, so no reference is dataset-qualified: the diff is
    // immune to Spark's ambiguous-self-join detection when both inputs
    // share lineage (e.g. two filters of the same source).
    val internalPrefix = distinctPrefixFor(left.columns.toSeq ++ right.columns ++
      outputColumnNames(left, right, pkColumns, ignoreColumns, cs))
    val existsName = internalPrefix + "exists"
    def internal(c: String): Boolean = c == existsName || containsIn(pkColumns, cs)(c)
    def leftName(c: String): String =
      if (internal(c) || options.diffMode == DiffMode.RightSide) s"${internalPrefix}l_$c"
      else if (options.diffMode == DiffMode.LeftSide) c
      else s"${lp}_$c"
    // right-side names carry the right schema's own spelling, so output
    // columns preserve each side's case in case-insensitive sessions
    def rightName(name: String): String = {
      val c = rightNameOf(right, cs)(name)
      if (internal(c) || options.diffMode == DiffMode.LeftSide) s"${internalPrefix}r_$c"
      else if (options.diffMode == DiffMode.RightSide) c
      else s"${rp}_$c"
    }
    def ln(c: String): Column = col(backticks(leftName(c)))
    def rn(c: String): Column = col(backticks(rightName(c)))
    val l = left.toDF().select(
      left.columns.map(c => col(backticks(c)).as(leftName(c))) :+
        lit(1).as(leftName(existsName)): _*)
    val r = right.toDF().select(
      right.columns.map(c => col(backticks(c)).as(rightName(c))) :+
        lit(1).as(rightName(existsName)): _*)

    def field(name: String) = left.schema.fields
      .find(f => canon(f.name, cs) == canon(name, cs)).get
    def equivOf(c: String): Column =
      options.comparatorFor(field(c), cs).equiv(ln(c), rn(c))

    val joinCondition = pkColumns.map(c => ln(c) <=> rn(c)).reduce(_ && _)

    val changeCondition =
      valueColumns.map(c => not(equivOf(c))).reduceOption(_ || _).getOrElse(lit(false))

    val diffActionColumn =
      when(ln(existsName).isNull, lit(options.insertDiffValue))
        .when(rn(existsName).isNull, lit(options.deleteDiffValue))
        .when(changeCondition, lit(options.changeDiffValue))
        .otherwise(lit(options.nochangeDiffValue))
        .as(options.diffColumn)

    val changeColumn: Seq[Column] = options.changeColumn.map { name =>
      when(ln(existsName).isNull || rn(existsName).isNull, lit(null))
        .otherwise(
          if (valueColumns.isEmpty) array().cast(ArrayType(StringType, containsNull = false))
          else concat(valueColumns.map(c =>
            when(equivOf(c), array()).otherwise(array(lit(c)))): _*))
        .as(name)
    }.toSeq

    val idColumnsOut = pkColumns.map(c => coalesce(ln(c), rn(c)).as(c))

    // Value columns are selected bare under the name they already carry;
    // only sparse mode computes them. Sparse mode nulls out values that are
    // null-safe-EQUAL on both sides — raw `<=>`, not the configured
    // comparator, matching the reference
    // (reference: Diff.scala:199-216: `when(not(left <=> right), side)`).
    // Ignored columns are sparse only when they exist on both sides.
    def valueOut(sideName: String, c: String, sparse: Boolean): Column = {
      val side = col(backticks(sideName))
      if (sparse) when(not(ln(c) <=> rn(c)), side).as(sideName) else side
    }
    def ignoredSparse(c: String): Boolean = options.sparseMode &&
      containsIn(leftIgnored, cs)(c) && containsIn(rightIgnored, cs)(c)
    def leftValue(c: String): Column = valueOut(leftName(c), c, options.sparseMode)
    def rightValue(c: String): Column = valueOut(rightName(c), c, options.sparseMode)
    def leftIgnoredValue(c: String): Column = valueOut(leftName(c), c, ignoredSparse(c))
    def rightIgnoredValue(c: String): Column = valueOut(rightName(c), c, ignoredSparse(c))

    // sparse applies to one-sided modes too (reference: the sparse value
    // maps feed every mode, Diff.scala:199-264)
    val valueColumnsOut: Seq[Column] = options.diffMode match {
      case DiffMode.ColumnByColumn =>
        valueColumns.flatMap(c => Seq(leftValue(c), rightValue(c))) ++
          leftIgnored.map(leftIgnoredValue) ++ rightIgnored.map(rightIgnoredValue)
      case DiffMode.SideBySide =>
        valueColumns.map(leftValue) ++ leftIgnored.map(leftIgnoredValue) ++
          valueColumns.map(rightValue) ++ rightIgnored.map(rightIgnoredValue)
      case DiffMode.LeftSide =>
        valueColumns.map(leftValue) ++ leftIgnored.map(leftIgnoredValue)
      case DiffMode.RightSide =>
        valueColumns.map(rightValue) ++ rightIgnored.map(rightIgnoredValue)
    }

    l.join(r, joinCondition, "fullouter")
      .select(diffActionColumn +: changeColumn ++: idColumnsOut ++: valueColumnsOut: _*)
  }

  def diff[T](left: Dataset[T], right: Dataset[T], idColumns: String*): DataFrame =
    doDiff(left, right, idColumns)

  def diff[T](left: Dataset[T], right: Dataset[T],
              idColumns: Seq[String], ignoreColumns: Seq[String]): DataFrame =
    doDiff(left, right, idColumns, ignoreColumns)

  // Java API (reference: Diff.scala:485-497)
  def diff[T](left: Dataset[T], right: Dataset[T], idColumns: java.util.List[String],
              ignoreColumns: java.util.List[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    doDiff(left, right, idColumns.asScala.toSeq, ignoreColumns.asScala.toSeq)
  }

  /** Typed diff: the diff result cast to `V` (whose columns must be a subset of the diff schema). */
  def diffAs[T, U, V](left: Dataset[T], right: Dataset[U],
                      idColumns: Seq[String], ignoreColumns: Seq[String] = Seq.empty)
                     (implicit diffEncoder: Encoder[V]): Dataset[V] = {
    val cs = caseSensitive(left.sparkSession)
    val result = doDiff(left, right, idColumns, ignoreColumns)
    val unexpected = diffEncoder.schema.fields.map(_.name)
      .filterNot(containsIn(result.columns.toSeq, cs))
    require(unexpected.isEmpty,
      s"Diff encoder's columns must be part of the diff result schema, " +
        s"these columns are unexpected: ${unexpected.mkString(", ")}")
    result.as[V](diffEncoder)
  }

  /**
   * Typed diff returning `(action, leftRow, rightRow)`; the left row is null
   * for inserts, the right row null for deletes.
   * (reference: Diff.scala:600-667)
   */
  def diffWith[T, U](left: Dataset[T], right: Dataset[U],
                     idColumns: Seq[String], ignoreColumns: Seq[String] = Seq.empty): Dataset[(String, T, U)] = {
    val plainOptions = options.copy(
      diffMode = DiffMode.ColumnByColumn, sparseMode = false, changeColumn = None)
    val differ = new Differ(plainOptions)
    val df = differ.doDiff(left, right, idColumns, ignoreColumns)
    val cs = caseSensitive(left.sparkSession)
    val pkColumns =
      if (idColumns.isEmpty) left.columns.toSeq.filterNot(containsIn(ignoreColumns, cs))
      else idColumns

    def sideStruct(columns: Seq[String], prefix: String): Column =
      struct(columns.map { c =>
        if (containsIn(pkColumns, cs)(c)) col(backticks(c)).as(c)
        else col(backticks(s"${prefix}_$c")).as(c)
      }: _*)

    val leftStruct =
      when(col(backticks(plainOptions.diffColumn)) === plainOptions.insertDiffValue, lit(null))
        .otherwise(sideStruct(left.columns.toSeq, plainOptions.leftColumnPrefix)).as("_2")
    val rightStruct =
      when(col(backticks(plainOptions.diffColumn)) === plainOptions.deleteDiffValue, lit(null))
        .otherwise(sideStruct(right.columns.toSeq, plainOptions.rightColumnPrefix)).as("_3")

    implicit val enc: Encoder[(String, T, U)] =
      Encoders.tuple(Encoders.STRING, left.encoder, right.encoder)
    df.select(col(backticks(plainOptions.diffColumn)).as("_1"), leftStruct, rightStruct)
      .as[(String, T, U)]
  }

  /**
   * Reconstruct the RIGHT side from a ColumnByColumn/SideBySide diff
   * result — the closure of the diff family: a diff is not just a report,
   * it is a PATCH. Ship the diff of two 100 TB snapshots (typically a tiny
   * fraction of either) and replay it instead of shipping the snapshot:
   * `patchRight(left.diff(right, id)) == right`, row for row (sbt-pinned).
   *
   * Column roles come from the diff schema itself: value columns carry the
   * configured side prefix, ids are the unprefixed survivors. Rows with the
   * delete action are dropped; every other action contributes its
   * right-side values under the original names (the diff JOIN already
   * materialized them — N rows carry the identical value on both sides).
   * NOT defined for sparse diffs, whose unchanged values are nulled out by
   * design: patching those needs the base dataset, at which point you have
   * the snapshot anyway.
   */
  def patchRight(diffResult: DataFrame): DataFrame =
    patchSide(diffResult, options.rightColumnPrefix, options.deleteDiffValue)

  /** Mirror of [[patchRight]]: reconstruct the LEFT side (drop inserts,
    * take left-prefixed values) — replay a diff BACKWARDS to roll a
    * snapshot back. */
  def patchLeft(diffResult: DataFrame): DataFrame =
    patchSide(diffResult, options.leftColumnPrefix, options.insertDiffValue)

  private def patchSide(diffResult: DataFrame, prefix: String,
                        dropAction: String): DataFrame = {
    val lp = options.leftColumnPrefix + "_"
    val rp = options.rightColumnPrefix + "_"
    val take = prefix + "_"
    val cols = diffResult.columns.toSeq
    require(cols.contains(options.diffColumn),
      s"not a diff result: no '${options.diffColumn}' column in ${cols.mkString(", ")}")
    val idCols = cols.filterNot(c =>
      c == options.diffColumn || options.changeColumn.contains(c) ||
        c.startsWith(lp) || c.startsWith(rp))
    val valueCols = cols.filter(_.startsWith(take))
    diffResult
      .filter(col(backticks(options.diffColumn)) =!= dropAction)
      .select(idCols.map(c => col(backticks(c))) ++
        valueCols.map(c => col(backticks(c)).as(c.stripPrefix(take))): _*)
  }
}

object Differ {
  private[diff] def caseSensitive(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.caseSensitive", "false").toBoolean

  private[diff] def canon(name: String, cs: Boolean): String =
    if (cs) name else name.toLowerCase(Locale.ROOT)

  private[diff] def containsIn(names: Seq[String], cs: Boolean)(name: String): Boolean =
    names.exists(n => canon(n, cs) == canon(name, cs))

  private[diff] def distinctBy(names: Seq[String], cs: Boolean): Seq[String] =
    names.map(canon(_, cs)).distinct

  private def diffFields(a: Seq[(String, Any)], b: Seq[(String, Any)]): Seq[String] =
    a.filterNot(f => b.exists(_._1 == f._1)).map(_._1)
}

/** Static diff surface (reference: Diff.scala:372-374, 485-497). */
object Diff {
  val default: Differ = new Differ(DiffOptions.default)

  def of[T](left: Dataset[T], right: Dataset[T], idColumns: String*): DataFrame =
    default.diff(left, right, idColumns: _*)

  def of[T](left: Dataset[T], right: Dataset[T],
            idColumns: Seq[String], ignoreColumns: Seq[String]): DataFrame =
    default.diff(left, right, idColumns, ignoreColumns)

  def of[T](left: Dataset[T], right: Dataset[T], options: DiffOptions, idColumns: String*): DataFrame =
    new Differ(options).diff(left, right, idColumns: _*)

  def of[T](left: Dataset[T], right: Dataset[T], options: DiffOptions,
            idColumns: Seq[String], ignoreColumns: Seq[String]): DataFrame =
    new Differ(options).diff(left, right, idColumns, ignoreColumns)

  def ofAs[T, U, V: Encoder](left: Dataset[T], right: Dataset[U],
                             idColumns: Seq[String], ignoreColumns: Seq[String] = Seq.empty): Dataset[V] =
    default.diffAs[T, U, V](left, right, idColumns, ignoreColumns)

  def ofWith[T, U](left: Dataset[T], right: Dataset[U],
                   idColumns: Seq[String], ignoreColumns: Seq[String] = Seq.empty): Dataset[(String, T, U)] =
    default.diffWith(left, right, idColumns, ignoreColumns)

  /** [[Differ.patchRight]] under the default options. */
  def patchRight(diffResult: DataFrame): DataFrame = default.patchRight(diffResult)

  /** [[Differ.patchLeft]] under the default options. */
  def patchLeft(diffResult: DataFrame): DataFrame = default.patchLeft(diffResult)

  // Java API (reference: Diff.scala:485-497)
  def of[T](left: Dataset[T], right: Dataset[T], idColumns: java.util.List[String],
            ignoreColumns: java.util.List[String]): DataFrame =
    default.diff(left, right, idColumns, ignoreColumns)

  def ofAs[T, U, V](left: Dataset[T], right: Dataset[U], diffEncoder: Encoder[V],
                    idColumns: java.util.List[String],
                    ignoreColumns: java.util.List[String]): Dataset[V] = {
    import scala.jdk.CollectionConverters._
    default.diffAs[T, U, V](left, right, idColumns.asScala.toSeq,
      ignoreColumns.asScala.toSeq)(diffEncoder)
  }

  def ofWith[T, U](left: Dataset[T], right: Dataset[U], idColumns: java.util.List[String],
                   ignoreColumns: java.util.List[String]): Dataset[(String, T, U)] = {
    import scala.jdk.CollectionConverters._
    default.diffWith(left, right, idColumns.asScala.toSeq, ignoreColumns.asScala.toSeq)
  }
}
