package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.derive.{StatusDeriver, ViolationDeriver}

/** Event sinks (SURVEY §2.2).
  *
  * K1/K2: derived events serialize to JSON keyed by `device_uuid` — the
  * key preserves per-device partition ordering exactly like the bridge
  * (`mqttToKafka.js:100-106`). `to_json` drops null fields' keys the way
  * the reference omits absent fields (§7.6.3 via ignoreNullFields).
  *
  * F10: the reference emits BOTH event families from one pass over the
  * input via Flink side outputs (`TelematicsViolationDeriverJob.java:80-88`);
  * [[demuxQuery]] reproduces single-pass semantics with `foreachBatch` +
  * `persist`, deriving both families from one cached micro-batch instead
  * of running the source twice.
  */
object KafkaEventSink {

  /** events → Kafka record shape (key, value) with device_uuid key
    * (missing/blank → "unknown-device", P16, mqttToKafka.js:60-64). */
  def toKafkaRecords(events: DataFrame): DataFrame =
    events.select(
      graft.ingest.JsonNormalize
        .deviceKeyOrDefault(col("device_uuid").cast("string")).as("key"),
      to_json(struct(events.columns.map(col).toIndexedSeq: _*),
        Map("ignoreNullFields" -> "true")).as("value"))

  /** Write a batch DataFrame to a Kafka topic (used inside foreachBatch;
    * requires the kafka connector on the classpath at runtime). */
  def writeKafka(events: DataFrame, bootstrap: String, topic: String): Unit =
    toKafkaRecords(events).write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .save()

  /** F10 single-pass demux: one streaming query, one pass per
    * micro-batch, two sinks. `writeViolations`/`writeStatus` receive the
    * derived batches (inject Kafka writers in production, memory/parquet
    * writers in tests). */
  def demuxQuery(parsedTelemetry: DataFrame,
                 checkpointDir: String,
                 triggerMs: Long = 1000L)(
                 writeViolations: DataFrame => Unit,
                 writeStatus: DataFrame => Unit): StreamingQuery =
    parsedTelemetry.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try {
          writeViolations(ViolationDeriver(batch))
          writeStatus(StatusDeriver(batch))
        } finally { batch.unpersist(); () }
      }
      .start()
}
