package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/**
 * sorted_set_overlap_count(hashes): how many elements of an `array<bigint>`
 * are members of a SORTED long array shipped to executors as a [[Broadcast]]
 * (binary search per element — exact, no false positives): the probe of
 * [[graft.dedup.Dedup.decontaminate]]. The per-row decision needs no
 * shuffle, no join, and no state, which makes it legal in a Structured
 * Streaming micro-batch. Null array -> null; null elements are skipped.
 */
case class SortedSetOverlapCount(child: Expression, set: Broadcast[Array[Long]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sorted_set_overlap_count expects array<bigint>, got ${t.sql}")
  }

  @transient private lazy val localSet: Array[Long] = set.value

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    var i = 0
    var n = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i) && java.util.Arrays.binarySearch(localSet, a.getLong(i)) >= 0) n += 1
      i += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("setBroadcast", set,
      "org.apache.spark.broadcast.Broadcast")
    val arr = ctx.addMutableState("long[]", "sortedSet",
      v => s"$v = (long[]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
        int $n = 0;
        for (int $i = 0; $i < $c.numElements(); $i++) {
          if (!$c.isNullAt($i) &&
              java.util.Arrays.binarySearch($arr, $c.getLong($i)) >= 0) $n++;
        }
        ${ev.value} = $n;
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * token_set_coverage(text): `[nTokens, nInVocab]` — ASCII-token occurrence
 * count and how many occurrences hash (the `hashed_word_shingles` n=1
 * family) into a SORTED long-array vocabulary shipped as a [[Broadcast]].
 * One fused tokenize+hash+binary-search pass per document — no explode, no
 * join, no shuffle — so OOV-rate reporting is a narrow scan column,
 * streaming-legal like the other broadcast-set probes in this file.
 */
case class TokenSetCoverage(child: Expression, set: Broadcast[Array[Long]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_set_coverage expects string, got ${t.sql}")
  }

  @transient private lazy val localSet: Array[Long] = set.value

  override def nullSafeEval(text: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      VectorKernels.tokenSetCoverage(
        text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], localSet))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("vocabBroadcast", set,
      "org.apache.spark.broadcast.Broadcast")
    val arr = ctx.addMutableState("long[]", "vocabSet",
      v => s"$v = (long[]) $bcRef.value();")
    defineCodeGen(ctx, ev,
      c => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.VectorKernels.tokenSetCoverage($c, $arr))")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
