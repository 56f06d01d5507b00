package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: the exact integer dot product of two
  * ARRAY<BIGINT> columns — Σ aᵢ·bᵢ in exact (ANSI-throwing, NEVER
  * wrapping) 64-bit arithmetic, one fused loop with whole-stage
  * codegen. `dot_longs(q, q)` is the squared norm, so one expression
  * covers all three moments of the integer-cosine verify kernel.
  *
  * Replaces the declarative `aggregate(zip_with(a, b, _*_), 0L, _+_)`
  * spelling on the embedding family's hot pair paths (banded candidate
  * verify, the all-pairs recall gold standard, semantic dedup): the
  * higher-order-function form materializes a temporary product array
  * per pair and evaluates the lambda through the interpreter — on an
  * O(pairs·d) kernel that is the dominant cost (guide §1.2 per-task
  * work / §4 prefer codegen expressions).
  *
  * Overflow contract: exact arithmetic (Math.multiplyExact/addExact) —
  * a 64-bit overflow throws, matching the ANSI behavior of the
  * declarative fold it replaces (Spark 4 defaults ANSI on; every
  * registered caller is bounds-documented well inside long range, so
  * the check never fires in practice and costs one JIT-friendly branch).
  *
  * Null contract, matching the declarative spelling: null if either
  * array is null or ANY element of either array (up to the shorter
  * length) is null (`zip_with` products with null propagate through the
  * fold). Unequal lengths: the declarative form zips with null padding —
  * result null; here the loop runs to the SHORTER length and a length
  * mismatch yields null as well, preserving parity. One edge-case
  * divergence, unreachable for the registered callers (quantized
  * embeddings: no nulls, bounded magnitudes): with a null element at
  * index i AND an overflowing product at index j > i, the declarative
  * form computes all products first and throws under ANSI, while this
  * kernel short-circuits to null at i.
  */
case class DotLongs(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def isLongArray(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<BIGINT> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_longs"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot = Math.addExact(dot, Math.multiplyExact(x.getLong(i), y.getLong(i)))
      i += 1
    }
    java.lang.Long.valueOf(dot)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: two dot_longs calls (dot + both norms) land in one
      // generated function — literal locals would collide and Janino
      // would silently push the whole stage back to interpreted eval
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot = java.lang.Math.addExact($dot,
         |      java.lang.Math.multiplyExact($a.getLong($i), $b.getLong($i)));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLongs =
    copy(left = newLeft, right = newRight)
}

/** [[DotLongs]]'s squared-L2 sibling: Σ (aᵢ−bᵢ)² over two ARRAY<BIGINT>
  * columns — the exact integer distance kernel of the kmeans/IVF/PQ
  * family, fused into one codegen loop (same motivation, null and
  * ANSI-overflow contracts as [[DotLongs]], including its one
  * null-before-overflow divergence from the declarative fold). */
case class L2SqLongs(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def isLongArray(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<BIGINT> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "l2sq_longs"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = Math.subtractExact(x.getLong(i), y.getLong(i))
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = java.lang.Math.subtractExact($a.getLong($i), $b.getLong($i));
         |    $acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact($d, $d));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqLongs =
    copy(left = newLeft, right = newRight)
}
