package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native SimHash of one token array: array<string> → 64-char '0'/'1'
  * fingerprint, one tight codegen'd loop per document.
  *
  * Semantics (identical to the 64-sum SQL formulation and the DuckDB
  * oracle): for bit j, balance_j = Σ_tokens (2·bit_j(md5(token)) − 1)
  * where bit_j = (digest[j/8] >> (7 − j%8)) & 1 — the same bit as
  * (hexdigit_{j/4} >> (3 − j%4)) & 1 of the md5 hex string;
  * fingerprint_j = '1' iff balance_j ≥ 0, MSB-first. Null elements are
  * skipped; an array with no non-null token has no fingerprint (null).
  *
  * A document's tokens already sit in one row, so the fingerprint is a
  * row-local projection: no explode, no exchange, no aggregation buffer.
  * A grouped fingerprint over token rows is `simhash(collect_list(tok))`.
  */
case class Simhash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(v: Any): Any =
    Simhash.fingerprint(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.Simhash.fingerprint($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Simhash =
    copy(child = newChild)
}

object Simhash {

  // MessageDigest is stateful and not thread-safe: one per task thread
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** Called from generated code; null when no element is a token. */
  def fingerprint(arr: ArrayData): UTF8String = {
    val md = md5.get()
    val balance = new Array[Int](64)
    var seen = false
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val digest = md.digest(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < 64) {
          balance(j) += 2 * ((digest(j >> 3) >> (7 - (j & 7))) & 1) - 1
          j += 1
        }
      }
      i += 1
    }
    if (!seen) return null
    val out = new Array[Byte](64)
    var j = 0
    while (j < 64) {
      out(j) = if (balance(j) >= 0) '1'.toByte else '0'.toByte
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  val FnName = "simhash"

  /** Builder for the SQL surface: one argument, checked up front. */
  def fromExprs(exprs: Seq[Expression]): Simhash = {
    require(exprs.length == 1, s"$FnName expects (tokens), got ${exprs.length} args")
    Simhash(exprs.head)
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FnName, fromExprs, "scala_udf")

  /** Token-array column → 64-char '0'/'1' SimHash per row. */
  def apply(spark: SparkSession, tokens: Column): Column = {
    register(spark)
    call_function(FnName, tokens)
  }
}
