package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** k-component All-But-The-Top residual over a quantized embedding —
  * `abtt_residual(q, pcs, cap)` removes each fixed-point principal
  * component in `pcs` (array<array<bigint>>, a driver literal from
  * [[graft.embed.PcaPower.powerK]]) from `q` in sequence:
  *
  *   r ← q; per component v:  r ← (r·‖v‖² − (r·v)·v) / sh
  *
  * where sh = max(max|t| / cap, 1) renormalizes PER VECTOR back to
  * |r| ≤ ~cap (cosine is invariant to per-vector scaling, and the
  * divisor is a deterministic function of the vector itself, so the
  * DuckDB oracle replays it exactly). All arithmetic is exact 64-bit
  * with truncate-toward-zero division — the PcaPower ledger:
  * |r| ≤ 2·cap → r·‖v‖² ≤ 2^59, (r·v)·v ≤ 2^61, difference ≤ 2^62.
  *
  * Why a native expression and not chained zip_with/aggregate HOFs:
  * higher-order functions evaluate interpreted with no subexpression
  * hoisting — an outer-scope scalar referenced inside a lambda is
  * re-evaluated per ELEMENT, so a k-level chain (each level's array
  * referencing the previous level's array twice and its scalars d
  * times) multiplies work by ~d per level: the 4-component form was
  * measured at d⁴ ≈ 16M evaluations per row (a single task burned
  * 25 CPU-minutes on 20k rows before being killed). This is one
  * generated O(k·d) loop inside whole-stage codegen — §2.10 ladder
  * rung (b), same placement as [[IntDot]].
  */
case class AbttResidual(first: Expression, second: Expression,
                        third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val pcsOk = second.dataType match {
      case ArrayType(inner, _) => IntDot.isLongArray(inner)
      case _ => false
    }
    if (IntDot.isLongArray(first.dataType) && pcsOk && third.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "abtt_residual requires (array<bigint>, array<array<bigint>>, bigint), got " +
        s"${first.dataType}, ${second.dataType}, ${third.dataType}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "abtt_residual"

  override def nullSafeEval(q: Any, pcs: Any, cap: Any): Any =
    AbttResidual.residual(q.asInstanceOf[ArrayData],
      pcs.asInstanceOf[ArrayData], cap.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, pcs, cap) =>
      s"${ev.value} = graft.functions.AbttResidual.residual($q, $pcs, $cap);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): AbttResidual =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object AbttResidual {
  /** Shared by the interpreted path and the generated code. */
  def residual(q: ArrayData, pcs: ArrayData, cap: Long): ArrayData = {
    val d = q.numElements()
    val r = new Array[Long](d)
    var i = 0
    while (i < d) { r(i) = q.getLong(i); i += 1 }
    var c = 0
    val k = pcs.numElements()
    while (c < k) {
      val pc = pcs.getArray(c)
      val n = math.min(d, pc.numElements())
      var vn = 0L
      var proj = 0L
      i = 0
      while (i < n) {
        val v = pc.getLong(i)
        vn += v * v
        proj += r(i) * v
        i += 1
      }
      var m = 0L
      i = 0
      while (i < n) {
        val t = r(i) * vn - proj * pc.getLong(i)
        r(i) = t
        val a = math.abs(t)
        if (a > m) m = a
        i += 1
      }
      val sh = math.max(m / cap, 1L)
      i = 0
      while (i < n) { r(i) = graft.embed.PcaPower.tdiv(r(i), sh); i += 1 }
      c += 1
    }
    new GenericArrayData(r)
  }
}
