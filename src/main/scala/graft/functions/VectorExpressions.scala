package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd Catalyst expressions for the hot vector kernels — the
  * JVM twin of the reference's AVX2 C kernels
  * (radient/tasks/sinks/local/_gann_c_src/gann.c:460-492): a tight
  * primitive loop over `ArrayData`, no per-element lambda dispatch and no
  * boxing, inlined into whole-stage codegen.
  *
  * Semantics are BIT-IDENTICAL to the higher-order-function forms in
  * [[VectorF]] (sequential left-to-right double fold, float widened per
  * element), so swapping them in cannot change any oracle-checked result —
  * this is exactly the "promote the hot ones to codegen Expressions if
  * BENCH demands" escalation planned in SURVEY.md §7.3.
  *
  * Both operands must be `array<float>` or `array<double>` (mixing is
  * fine); null inputs yield null; a LENGTH MISMATCH yields null, exactly
  * like the zip_with forms (which null-pad the shorter array and so
  * null-poison the fold).
  */
abstract class VectorFoldExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // null ELEMENTS also null the result, so the output is nullable even
  // when both array columns are non-null
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Combine one element pair into the accumulator (interpreted path). */
  protected def fold(acc: Double, x: Double, y: Double): Double
  /** Java source for the same combine step; operands are double exprs. */
  protected def foldCode(acc: String, x: String, y: String): String
  /** Finish the accumulated value (identity or sqrt). */
  protected def finish(acc: Double): Double
  protected def finishCode(acc: String): String

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    // dim mismatch → null, same as zip_with's null-padding would produce
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      // a null ELEMENT poisons the whole result, matching the HOF fold
      // (zip_with product → null → null sum) these expressions replace
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s = fold(s, get(a, i, leftIsFloat), get(b, i, rightIsFloat))
      i += 1
    }
    finish(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val la = if (leftIsFloat) "getFloat" else "getDouble"
    val ra = if (rightIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s = ${foldCode(s, s"(double) $a.$la($i)", s"(double) $b.$ra($i)")};
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = ${finishCode(s)}; }
         |}
       """.stripMargin
    })
  }
}

/** Σ aᵢ·bᵢ (gann.c:460-487's dot kernel). */
case class DotProduct(left: Expression, right: Expression) extends VectorFoldExpression {
  override def prettyName: String = "graft_dot"
  protected def fold(acc: Double, x: Double, y: Double): Double = acc + x * y
  protected def foldCode(acc: String, x: String, y: String): String = s"$acc + $x * $y"
  protected def finish(acc: Double): Double = acc
  protected def finishCode(acc: String): String = acc
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** √Σ (aᵢ−bᵢ)² (gann.c:1069's exact L2, without the norm trick). */
case class L2Distance(left: Expression, right: Expression) extends VectorFoldExpression {
  override def prettyName: String = "graft_l2_dist"
  protected def fold(acc: Double, x: Double, y: Double): Double = {
    val d = x - y; acc + d * d
  }
  protected def foldCode(acc: String, x: String, y: String): String =
    s"$acc + ($x - $y) * ($x - $y)"
  protected def finish(acc: Double): Double = math.sqrt(acc)
  protected def finishCode(acc: String): String = s"java.lang.Math.sqrt($acc)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Distance =
    copy(left = l, right = r)
}

/** Σ popcount(aᵢ xor bᵢ) over packed signature words — the multi-word
  * Hamming kernel of the 1-bit tier (the `graft_hamming_words` SQL
  * function; the BQ index scores the same sum in its scan kernel):
  * XOR + POPCNT in a primitive loop inside whole-stage codegen, where the `aggregate(zip_with(...))` form it replaces
  * dispatches an interpreted lambda per word. Inputs are `array<long>`
  * signatures; length mismatch or a null word yields null, matching the
  * HOF fold's null-poisoning. */
case class HammingWords(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "graft_hamming_words"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingWords =
    copy(left = l, right = r)
}
