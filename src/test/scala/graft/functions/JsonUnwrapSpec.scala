package graft.functions


import graft.SparkTestBase
import graft.ingest.JsonNormalize

/** The native expression must agree with the column-expression
  * formulation on every quirk case, be SQL-callable via the extension
  * registration, and participate in codegen. */
class JsonUnwrapSpec extends SparkTestBase {
  import spark.implicits._

  private val cases = Seq(
    """{"a":1}""",                                    // plain → unchanged
    "\"{\\\"a\\\":1}\"",                              // double-encoded
    "  \"{\\\"a\\\":1}\"  ",                          // padded
    "\"\"",                                           // empty quoted → empty
    "\"",                                             // lone quote → unchanged
    "",                                               // empty
    "\"unterminated",                                 // no closing quote
    "\"back\\\\slash\\\"q\"",                         // both escapes
    "no quotes at all")

  test("native expression matches the regexp column formulation") {
    val df = cases.toDF("s")
    val both = df.select(
      JsonNormalize.unwrapNative($"s").as("native"),
      JsonNormalize.unwrapDoubleEncoded($"s").as("regex"))
    both.collect().foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"native=${r.getString(0)} regex=${r.getString(1)}")
    }
  }

  test("unwrap semantics on the reference quirk cases") {
    val out = cases.toDF("s")
      .select(JsonNormalize.unwrapNative($"s")).as[String].collect()
    assert(out(0) == """{"a":1}""")
    assert(out(1) == """{"a":1}""")
    assert(out(2) == """{"a":1}""")
    assert(out(3) == "")
    assert(out(4) == "\"")
    assert(out(7) == "back\\slash\"q")
  }

  test("registered for SQL via GraftExtensions") {
    val got = spark.sql("""SELECT json_unwrap('"{\\"a\\":1}"') AS u""")
      .as[String].collect().head
    assert(got == """{"a":1}""")
  }
}
