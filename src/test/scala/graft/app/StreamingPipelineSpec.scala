package graft.app

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.derive.ViolationDeriver
import graft.ingest.{JsonNormalize, KafkaTelemetrySource}
import graft.schema.TelemetrySchema
import graft.sink.KafkaEventSink

/** Batch ≡ streaming parity for the main path (SURVEY §3.1): the same
  * transforms produce identical events whether driven by a batch
  * DataFrame or a MemoryStream micro-batch, and the F10 demux emits both
  * families from one pass. */
class StreamingPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def telemetryJson(dev: String, ts: Long, power: String,
                            vTypes: Seq[String]): String = {
    val vs = vTypes.map(t =>
      s"""{"timestamp":$ts,"type":"$t","accel_y":3.0,"speed_kph":50.0,"delta_speed":9.0}""")
      .mkString("[", ",", "]")
    s"""{"device_uuid":"$dev","timestamp":$ts,"mqtt_sent_at_ms":${ts * 1000 + 123},""" +
      s""""dashcam_power_source":"$power","violations":$vs}"""
  }

  private val inputs = Seq(
    telemetryJson("d1", 100, "external", Seq("harsh_brake", "harsh-braking")),
    telemetryJson("d2", 200, "battery", Seq("harsh_accel")),
    telemetryJson("d3", 300, "battery", Seq()),
    "corrupt {{{")

  test("streaming demux equals batch derivation (one pass, two sinks)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val parsed = KafkaTelemetrySource.parsedTelemetry(
      input.toDF().select($"value"))

    val violations = mutable.Buffer[Row]()
    val statuses   = mutable.Buffer[Row]()
    val ckpt = Files.createTempDirectory("demux-ckpt").toString
    val q = KafkaEventSink.demuxQuery(parsed, ckpt, triggerMs = 0L)(
      v => violations.synchronized {
        violations ++= v.select($"violation_type", $"device_uuid", $"timestamp").collect() },
      s => statuses.synchronized {
        statuses ++= s.select($"device_uuid", $"timestamp").collect() })
    try {
      input.addData(inputs: _*)
      q.processAllAvailable()
    } finally q.stop()

    // batch run of identical rows through identical transforms
    val batchParsed = inputs.toDF("value")
      .select(JsonNormalize.parseTolerant($"value", TelemetrySchema.telemetry).as("t"))
      .filter($"t".isNotNull).select("t.*")
    val (bv, bs) = DerivePipeline.runBatch(batchParsed)

    assert(violations.map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted ==
      bv.select($"violation_type", $"device_uuid", $"timestamp").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toBuffer.sorted)
    assert(statuses.map(r => (r.getString(0), r.getLong(1))).sorted ==
      bs.select($"device_uuid", $"timestamp").collect()
        .map(r => (r.getString(0), r.getLong(1))).toBuffer.sorted)
    // allowlist dropped the hyphenated type; corrupt row dropped silently
    assert(violations.size == 2)
    assert(statuses.size == 2) // d2, d3 on battery
  }

  test("dead letters: corrupt non-blank inputs are captured, not dropped") {
    // a wrongly typed field the derivers never read is ignored, as in the
    // reference; a wrongly typed field they read still makes the record corrupt
    val hotTemp = """{"temp_C":"hot",""" +
      telemetryJson("d4", 400, "external", Seq("harsh_brake")).drop(1)
    val badTs = telemetryJson("d5", 500, "battery", Seq("harsh_accel"))
      .replaceFirst(""""timestamp":500""", """"timestamp":"abc"""")
    val values = (inputs :+ hotTemp :+ badTs).toDF("value")
    val dead = KafkaTelemetrySource.deadLetters(
      KafkaTelemetrySource.taggedTelemetry(values))
      .select($"raw").as[String].collect().toSeq
    assert(dead.sorted == Seq("corrupt {{{", badTs).sorted)
    val derived = ViolationDeriver(KafkaTelemetrySource.parsedTelemetry(values))
      .select($"device_uuid").as[String].collect().toSeq
    assert(derived.sorted == Seq("d1", "d2", "d4"))
  }

  test("Kafka record shape: device_uuid key, null fields omitted from JSON") {
    val events = Seq(("violation", "d1", 5L, null.asInstanceOf[String]))
      .toDF("event_type", "device_uuid", "timestamp", "vehicle_id")
    val rec = KafkaEventSink.toKafkaRecords(events).collect().head
    assert(rec.getAs[String]("key") == "d1")
    val json = rec.getAs[String]("value")
    assert(json.contains(""""event_type":"violation""""))
    assert(!json.contains("vehicle_id")) // §7.6.3 omitted-vs-null parity
  }
}
