package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, LongType, NullType}
import org.apache.spark.sql.types.Decimal

/** Native codegen'd exact dot product over ×10⁹ fixed-point long vectors.
  *
  * Returns DECIMAL(38,18): the EXACT value Σᵢ aᵢ·bᵢ·10⁻¹⁸ — bit-identical
  * to summing DECIMAL(18,9) element products (the cross-engine oracle
  * formulation), but computed with two overflow-safe long accumulators:
  * a·b = a·(b div 2²⁰)·2²⁰ + a·(b mod 2²⁰). With |a| ≤ 10¹⁰ < 2³⁴ the two
  * sums stay under 2⁴⁸·dim and 2⁵⁴·dim (truncated division keeps the
  * identity for negatives), so vectors up to dim 512 with elements up to
  * 10 in magnitude never overflow; the single BigDecimal reconstruction
  * happens once per ROW, not once per element.
  *
  * Why an Expression: the alternative shapes are posexplode + equi-join on
  * the element index (two wide shuffles of |pairs|·dim rows) or a
  * higher-order `aggregate` lambda (interpreted, row-at-a-time). This
  * stays inside whole-stage codegen on |pairs| rows with a tight long
  * loop — the shape that survives a 100× scale-up.
  */
case class DotFixedPoint(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DecimalType(38, 18)
  override def prettyName: String = "dot_fixed_point"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case NullType => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    DotFixedPoint.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => s"graft.functions.DotFixedPoint.dot($l, $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotFixedPoint =
    copy(left = newLeft, right = newRight)
}

object DotFixedPoint {

  /** Called from generated code. Throws on length mismatch — a silent
    * truncation would quietly change similarity scores (round-1 review
    * lesson from the zip_with null-padding hazard).
    */
  /** Elements must stay below 2³⁴ in magnitude (≈16 in float terms at the
    * ×10⁹ scale) — past that the decomposed products themselves can wrap.
    * The function is injected into the open SQL surface, so the contract
    * is enforced, not just documented.
    */
  private final val MaxAbs = 1L << 34

  def dot(a: ArrayData, b: ArrayData): Decimal = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"dot_fixed_point: vector lengths differ (${n} vs ${b.numElements()})")
    var sh = 0L
    var sl = 0L
    var i = 0
    while (i < n) {
      val av = a.getLong(i)
      val bv = b.getLong(i)
      if (av <= -MaxAbs || av >= MaxAbs || bv <= -MaxAbs || bv >= MaxAbs)
        throw new IllegalArgumentException(
          s"dot_fixed_point: |element| must be < 2^34 (≈16.0 at fixed-point scale), " +
            s"got $av · $bv at index $i")
      // products are bounded (< 2^48 and 2^54) by the element guard; only
      // the accumulators can still overflow on very long vectors — addExact
      // turns that into a loud ArithmeticException instead of a wrong answer
      sh = Math.addExact(sh, av * (bv / 1048576L))
      sl = Math.addExact(sl, av * (bv % 1048576L))
      i += 1
    }
    val unscaled = java.math.BigInteger.valueOf(sh).shiftLeft(20)
      .add(java.math.BigInteger.valueOf(sl))
    Decimal(new java.math.BigDecimal(unscaled, 18), 38, 18)
  }

  val FnName = "dot_fixed_point"

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FnName, exprs => DotFixedPoint(exprs(0), exprs(1)), "scala_udf")

  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function(FnName, a, b)
  }
}
