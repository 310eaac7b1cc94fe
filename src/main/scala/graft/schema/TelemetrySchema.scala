package graft.schema

import org.apache.spark.sql.types._

/** Parse schema for raw vehicle telemetry.
  *
  * The wire format comes from the reference's generator
  * (`mqtt_publish.js:236-284`; documented shape `README.md:439-475`).
  * SURVEY §1.3 maps its full 30-field shape to Spark types.
  *
  * [[telemetry]] holds only the fields the derivers read, the way the
  * reference's job reads what it emits and ignores the rest
  * (`FAIL_ON_UNKNOWN_PROPERTIES=false`, `has()`-guarded access,
  * `TelematicsViolationDeriverJob.java:106-214`).
  * Every other field is skipped by the parser: it is not converted, not
  * projected, and not cached by the demux's per-batch `persist`, and a
  * wrongly typed unread field does not make a record corrupt. An absent
  * or null read field parses to null (`from_json` in PERMISSIVE mode).
  */
object TelemetrySchema {

  /** One violation element inside `violations[]`
    * (`/root/reference/mqtt_publish.js:193-229`). */
  val violationType: StructType = StructType(Seq(
    StructField("timestamp", LongType),
    StructField("type", StringType),       // "harsh_brake" | "harsh_accel"
    StructField("accel_y", DoubleType),
    StructField("speed_kph", DoubleType),
    StructField("delta_speed", DoubleType)
  ))

  /** GeoJSON Point (`/root/reference/kafkaConsumer.js:124-127`). */
  val locationType: StructType = StructType(Seq(
    StructField("type", StringType),                       // "Point"
    StructField("coordinates", ArrayType(DoubleType))      // [lon, lat]
  ))

  val telemetry: StructType = StructType(Seq(
    StructField("device_uuid", StringType),
    StructField("mqtt_sent_at_ms", LongType),
    StructField("timestamp", LongType),                    // epoch seconds
    StructField("dashcam_power_source", StringType),       // "battery"|"external"
    StructField("location", locationType),
    StructField("vehicle_id", StringType),
    StructField("account_id", StringType),
    StructField("violations", ArrayType(violationType))
  ))

  /** Violation types passed by the allowlist
    * (`/root/reference/TelematicsViolationDeriverJob.java:98-102`).
    * NOTE: the hyphenated variants in the reference README
    * ("harsh-braking"/"harsh-acceleration", README.md:578,613) are
    * deliberately NOT here — the running system drops them (SURVEY §7.6.2).
    */
  val allowedViolationTypes: Seq[String] = Seq("harsh_brake", "harsh_accel")
}

/** Typed layer for stateful ops that need Encoders (sessionization). */
object TelemetryModel {
  /** Derived device-status event
    * (`/root/reference/TelematicsViolationDeriverJob.java:127-139`). */
  case class StatusEvent(
      event_type: String,       // "device_status"
      status_type: String,      // "cable-unplugged"
      action: String,           // "touch" | "clear"
      device_uuid: String,
      timestamp: Long,          // epoch seconds
      vehicle_id: Option[String],
      account_id: Option[String])

  /** Consolidated session document
    * (`/root/reference/kafkaConsumer.js:322-333`). */
  case class SessionDoc(
      device_uuid: String,
      status_type: String,
      start_timestamp: Long,
      end_timestamp: Long,
      n_touches: Long,
      closed_by: String)        // "ttl" | "clear" | "watermark"
}
