package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tolerant JSON ingestion (SURVEY §2.3 P1/P2).
  *
  * The reference strips one layer of quoting from double-encoded JSON
  * ("\"{\\\"a\\\":1}\"" → {"a":1}) before parsing, at all three parse
  * sites: `/root/reference/TelematicsViolationDeriverJob.java:192-196`,
  * `/root/reference/mqttToKafka.js:47-52`,
  * `/root/reference/kafkaConsumer.js:61-66`; and parses tolerantly —
  * malformed input → record silently dropped
  * (`TelematicsViolationDeriverJob.java:111-114`). The parse itself is
  * [[KafkaTelemetrySource.parsedTelemetry]], the one every path uses.
  *
  * Everything here is pure `Column` expressions → stays inside
  * whole-stage codegen; no UDFs.
  */
object JsonNormalize {

  /** P2: if the string is wrapped in literal double quotes, strip them and
    * unescape `\"` → `"` and `\\` → `\`. Otherwise pass through.
    * Mirrors `TelematicsViolationDeriverJob.java:192-196`. */
  def unwrapDoubleEncoded(c: Column): Column = {
    val trimmed = trim(c)
    val body = trimmed.substr(lit(2), length(trimmed) - 2)
    val unescaped =
      regexp_replace(regexp_replace(body, "\\\\\"", "\""), "\\\\\\\\", "\\\\")
    when(trimmed.startsWith("\"") && trimmed.endsWith("\"") && (length(trimmed) >= 2),
      unescaped).otherwise(c)
  }

  /** P2, native form: single-pass codegen'd Catalyst expression
    * ([[graft.functions.JsonUnwrap]]) — same semantics as
    * [[unwrapDoubleEncoded]] without the regex engine. */
  def unwrapNative(c: Column): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.JsonUnwrap(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(c)))

  /** P15/P16: key default — missing/blank device_uuid → "unknown-device"
    * (`/root/reference/mqttToKafka.js:60-64`). */
  def deviceKeyOrDefault(c: Column): Column =
    coalesce(nullif(trim(c), lit("")), lit("unknown-device"))
}
