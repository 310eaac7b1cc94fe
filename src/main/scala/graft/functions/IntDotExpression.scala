package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen integer dot product over two `array<bigint>` columns —
  * the hot inner loop of every embedding operator (kNN scoring, blocked
  * cosine pairs, IVF assignment, RP-LSH verify).
  *
  * Why not `aggregate(zip_with(a, b, ...))`: higher-order functions have
  * no `doGenCode` — they evaluate interpreted, box every element, and
  * their lambda evaluation serializes across task threads in one JVM
  * (measured on the MinHash path, SURVEY §8). This expression is a tight
  * generated `long` loop over the unsafe array data, inside whole-stage
  * codegen, one multiply-add per component — the form a columnar native
  * engine would emit, expressed as a first-class Catalyst citizen
  * (§2.10 ladder rung (b)).
  *
  * Null semantics: null if either array is null (BinaryExpression's
  * null-safe contract); elements are primitive longs produced by
  * [[graft.embed.Similarity.quantized]], never null. Lengths may differ
  * (zip semantics): iteration stops at the shorter.
  */
case class IntDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (IntDot.isLongArray(left.dataType) && IntDot.isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int_dot requires two array<bigint> arguments, got " +
        s"${left.dataType} and ${right.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "int_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    IntDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $sum = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDot =
    copy(left = newLeft, right = newRight)
}

object IntDot {
  /** `array<bigint>` — the input type of int_dot and abtt_residual. */
  private[functions] def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  /** Interpreted twin of the generated loop. */
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }
}
