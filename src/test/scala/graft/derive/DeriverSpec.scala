package graft.derive

import org.apache.spark.sql.DataFrame

import graft.SparkTestBase
import graft.ingest.KafkaTelemetrySource

/** Golden + quirk tests for the core derivation path (SURVEY §5.2.1-2),
  * using the reference README's own payloads
  * (`/root/reference/README.md:563-668`). */
class DeriverSpec extends SparkTestBase {
  import spark.implicits._

  /** The production parse, as the streaming demux query runs it. */
  private def parse(jsons: Seq[String]): DataFrame =
    KafkaTelemetrySource.parsedTelemetry(jsons.toDF("value"))

  /** Underscore-typed telemetry: the shape the live generator produces
    * (`/root/reference/mqtt_publish.js:236-284`). */
  private val underscoreViolation =
    """{"device_uuid":"device-1","mqtt_sent_at_ms":1770877033161,
      |"timestamp":1770877033,"account_id":"693273ad26df5d305f556728",
      |"vehicle_id":"694ce21db964dc22844b75ec","speed_kph":38.4,
      |"dashcam_power_source":"external",
      |"location":{"type":"Point","coordinates":[73.273383,21.520232]},
      |"violations":[{"timestamp":1770877033,"type":"harsh_accel",
      |"accel_y":3.064375,"speed_kph":38.4,"delta_speed":17.1}]}"""
      .stripMargin.replaceAll("\n", "")

  /** README "harsh acceleration payload" (README.md:563-590) — uses the
    * HYPHENATED type the allowlist silently drops (SURVEY §7.6.2). */
  private val hyphenatedViolation =
    """{"device_uuid":"device-1","mqtt_sent_at_ms":1739251205123,
      |"timestamp":1739251205,"account_id":"account-01",
      |"vehicle_id":"vehicle-001","speed_kph":38.2,"imu_is_stopped":false,
      |"dashcam_power_source":"vehicle",
      |"location":{"type":"Point","coordinates":[72.51414,23.04884]},
      |"violations":[{"type":"harsh-acceleration","event_ts":1739251205,
      |"axis":"x","accel_mps2":4.3,"threshold_mps2":3.0,"duration_ms":420,
      |"peak_accel_mps2":4.9,"severity":"high","algo_version":"hbha-v1",
      |"source":"imu"}]}""".stripMargin.replaceAll("\n", "")

  test("golden: underscore violation derives the README violations.events shape") {
    val out = ViolationDeriver(parse(Seq(underscoreViolation))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("event_type") == "violation")
    assert(r.getAs[String]("violation_type") == "harsh_accel")
    assert(r.getAs[String]("device_uuid") == "device-1")
    assert(r.getAs[String]("vehicle_id") == "694ce21db964dc22844b75ec")
    assert(r.getAs[String]("account_id") == "693273ad26df5d305f556728")
    assert(r.getAs[Long]("timestamp") == 1770877033L)
    assert(r.getAs[Long]("mqtt_sent_at_ms") == 1770877033161L)
    val loc = r.getStruct(r.fieldIndex("location"))
    assert(loc.getAs[String]("type") == "Point")
    assert(loc.getSeq[Double](loc.fieldIndex("coordinates")) ==
      Seq(73.273383, 21.520232))
    val det = r.getStruct(r.fieldIndex("details"))
    assert(det.getAs[Double]("accel_y") == 3.064375)
    assert(det.getAs[Double]("speed_kph") == 38.4)
    assert(det.getAs[Double]("delta_speed") == 17.1)
  }

  test("negative golden: README hyphenated types are dropped by the allowlist") {
    assert(ViolationDeriver(parse(Seq(hyphenatedViolation))).count() == 0)
  }

  test("F3: missing / null / empty violations array yields no events") {
    val rows = Seq(
      """{"device_uuid":"d","timestamp":5}""",
      """{"device_uuid":"d","timestamp":5,"violations":null}""",
      """{"device_uuid":"d","timestamp":5,"violations":[]}""")
    assert(ViolationDeriver(parse(rows)).count() == 0)
  }

  test("F1/F6: device gate + coalesced-ts gate (reference composition)") {
    // The reference gates violations at the CONSUMER on the coalesced
    // event timestamp (kafkaConsumer.js:195-198), not at the deriver on
    // the payload timestamp (Java:124 wraps only the status branch). So
    // a violation whose own ts > 0 survives payload ts = 0 / absent.
    val rows = Seq(
      s"""{"timestamp":5,"violations":[{"type":"harsh_brake","timestamp":5}]}""",
      s"""{"device_uuid":"d","timestamp":0,"violations":[{"type":"harsh_brake","timestamp":5}]}""",
      s"""{"device_uuid":"d","violations":[{"type":"harsh_brake","timestamp":5}]}""")
    assert(ViolationDeriver(parse(rows)).count() == 2) // only no-device drops

    // but a violation with NO usable timestamp at all (v.ts absent,
    // payload ts 0) is dropped by the consumer's !ts check
    val noTs = Seq(
      s"""{"device_uuid":"d","timestamp":0,"violations":[{"type":"harsh_brake"}]}""")
    assert(ViolationDeriver(parse(noTs)).count() == 0)
  }

  test("P7: violation timestamp 0/absent falls back to payload timestamp") {
    val rows = Seq(
      """{"device_uuid":"d","timestamp":99,"violations":[
        |{"type":"harsh_brake","timestamp":0},
        |{"type":"harsh_accel"},
        |{"type":"harsh_brake","timestamp":123}]}""".stripMargin.replaceAll("\n", ""))
    val ts = ViolationDeriver(parse(rows))
      .select("timestamp").as[Long].collect().sorted
    assert(ts.toSeq == Seq(99L, 99L, 123L))
  }

  test("P1: corrupt / empty / non-object JSON is silently dropped") {
    val rows = Seq("", "   ", "not json", "[1,2,3]", "42",
      underscoreViolation)
    // dropped at the parse, not only at the deriver's device gate
    assert(parse(rows).count() == 1)
    assert(ViolationDeriver(parse(rows)).count() == 1)
  }

  test("P2: double-encoded JSON unwraps before parsing") {
    val doubleEncoded =
      "\"" + underscoreViolation.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val out = ViolationDeriver(parse(Seq(doubleEncoded))).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("violation_type") == "harsh_accel")
  }

  test("golden: battery telemetry derives the README device-status shape") {
    val battery = underscoreViolation
      .replace("\"dashcam_power_source\":\"external\"",
               "\"dashcam_power_source\":\"Battery\"") // case-insensitive (P8)
    val out = StatusDeriver(parse(Seq(battery, underscoreViolation))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("event_type") == "device_status")
    assert(r.getAs[String]("status_type") == "cable-unplugged")
    assert(r.getAs[String]("action") == "touch")
    assert(r.getAs[String]("device_uuid") == "device-1")
    assert(r.getAs[Long]("timestamp") == 1770877033L)
  }

  test("A1 count property: events = sum of allowlisted elements") {
    // 3 allowlisted among 5 elements across 2 records
    val rows = Seq(
      """{"device_uuid":"a","timestamp":1,"violations":[
        |{"type":"harsh_brake"},{"type":"harsh-braking"},{"type":"other"}]}"""
        .stripMargin.replaceAll("\n", ""),
      """{"device_uuid":"b","timestamp":2,"violations":[
        |{"type":"harsh_accel"},{"type":"harsh_brake"}]}"""
        .stripMargin.replaceAll("\n", ""))
    assert(ViolationDeriver(parse(rows)).count() == 3)
  }
}
