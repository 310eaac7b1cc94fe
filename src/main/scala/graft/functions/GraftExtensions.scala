package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Engine extension pack (SURVEY §4.2): registers the native functions so
  * they are usable from SQL and `expr(...)`. Installed via
  * `SparkSession.builder.withExtensions(new GraftExtensions)` (see
  * [[graft.GraftSession]]) or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("json_unwrap"),
      new ExpressionInfo(classOf[JsonUnwrap].getName, "json_unwrap"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        JsonUnwrap(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("int_dot"),
      new ExpressionInfo(classOf[IntDot].getName, "int_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        IntDot(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("int_quantize"),
      new ExpressionInfo(classOf[IntQuantize].getName, "int_quantize"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        IntQuantize(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("abtt_residual"),
      new ExpressionInfo(classOf[AbttResidual].getName, "abtt_residual"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        AbttResidual(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((
      new FunctionIdentifier("ilog2q8"),
      new ExpressionInfo(classOf[IntLog2Q8].getName, "ilog2q8"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        IntLog2Q8(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("char_diversity"),
      new ExpressionInfo(classOf[CharDiversity].getName, "char_diversity"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CharDiversity(exprs.head)))
    // custom physical operator: bounded-heap per-key top-k
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // optimizer rule: window row_number rank<=k filters plan the heap
    // operator automatically when the rank column is dropped
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
  }
}
