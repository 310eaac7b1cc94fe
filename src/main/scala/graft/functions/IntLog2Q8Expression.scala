package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native codegen `ilog2q8(x)`: the exact-integer q8 log2 of
  * [[graft.text.UnigramTrain.ilog2q8]] (e = msb(x), 8 mantissa-squaring
  * fraction bits) as ONE generated expression.
  *
  * Why not the 8-round column CASE chain ([[graft.queries.TextQueries
  * .withIlog2q8]]'s former body): each round referenced the previous
  * round's mantissa in three places, so the collapsed projection chain
  * was ~30 stacked Project nodes whose generated code recompiled per
  * invocation — for the lm_incr / lmDocBits consumers the codegen
  * compile time dominated the (tiny) data. This is the same integer
  * arithmetic as a 10-line generated loop: identical values on the
  * whole domain (pinned by LmPplSpec's chain == driver equivalence
  * test), a plan that is one expression instead of ~30 projections.
  *
  * Domain: callers feed x ≥ 1 (smoothed LM numerators/denominators are
  * ≥ 1 by construction). Defined total anyway: x ≤ 0 → 0, so an
  * out-of-domain row can never throw mid-stage; null → null
  * (UnaryExpression's null-safe contract).
  */
case class IntLog2Q8(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ilog2q8 requires a bigint argument, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "ilog2q8"

  override def nullSafeEval(x: Any): Any =
    IntLog2Q8.ilog2q8(x.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x =>
      s"graft.functions.IntLog2Q8.ilog2q8($x)")

  override protected def withNewChildInternal(newChild: Expression): IntLog2Q8 =
    copy(child = newChild)
}

object IntLog2Q8 {
  /** The algorithm itself — the generated call, the interpreted path
    * and [[graft.text.UnigramTrain.ilog2q8]] (which adds its domain
    * require) all run it. Total: x ≤ 0 → 0. */
  def ilog2q8(x: Long): Long = {
    if (x <= 0L) return 0L
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    var m = (x * 256L) / (1L << e) // mantissa in [256, 512)
    var f = 0L
    var step = 0
    while (step < 8) {
      m = (m * m) / 256L // [256, 1024)
      if (m >= 512L) { m = m / 2L; f = 2L * f + 1L }
      else f = 2L * f
      step += 1
    }
    e * 256L + f
  }
}
