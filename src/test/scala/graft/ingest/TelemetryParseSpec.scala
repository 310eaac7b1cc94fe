package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs

import graft.SparkTestBase
import graft.derive.{StatusDeriver, ViolationDeriver}

/** The tolerant parse runs `from_json` once per record, whatever the
  * derivers filter on above it. */
class TelemetryParseSpec extends SparkTestBase {
  import spark.implicits._

  private def parses(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.map(_.expressions
      .map(_.collect { case j: JsonToStructs => j }.size).sum).sum

  test("parsedTelemetry and the derivers over it parse each record once") {
    // A file source: over a local Seq the optimizer would evaluate the
    // whole parse at planning time and leave no expression to count.
    val dir = Files.createTempDirectory("parse-once").toString
    Seq("""{"device_uuid":"d1","timestamp":1}""", "corrupt {{{").toDF("value")
      .write.mode("overwrite").text(dir)
    val parsed = KafkaTelemetrySource.parsedTelemetry(spark.read.text(dir))
    assert(parses(parsed) == 1)
    assert(parses(ViolationDeriver(parsed)) == 1)
    assert(parses(StatusDeriver(parsed)) == 1)
    assert(parsed.select($"device_uuid").as[String].collect().toSeq == Seq("d1"))
  }
}
