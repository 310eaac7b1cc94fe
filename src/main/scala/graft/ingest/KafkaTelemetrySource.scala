package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.TelemetrySchema

/** Kafka telemetry source and its parse (SURVEY §2.1 S1, §2.3 P1).
  *
  * Reference: the Flink job subscribes `telemetry.raw` with value-only
  * string deserialization and NO watermarks
  * (`TelematicsViolationDeriverJob.java:51-56,78`).
  *
  * The parsing stage ([[parsedTelemetry]]) is a pure transform over any
  * DataFrame with a string `value` column, so the identical plan runs
  * against `format("kafka")`, `MemoryStream`, or a batch DataFrame —
  * Structured Streaming's batch≡stream contract (SURVEY §1.4).
  */
object KafkaTelemetrySource {

  /** S1: raw telemetry stream. `startingOffsets=latest` mirrors the
    * consumer's `fromBeginning:false` (kafkaConsumer.js:371-372, O3). */
  def rawStream(spark: SparkSession, bootstrap: String,
                topic: String = "telemetry.raw",
                startingOffsets: String = "latest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** Kafka record → parsed telemetry rows. Carries the broker ingest
    * time (`kafka_ts`) for the monotonic latency variant (ST4/§7.6.7).
    * Tolerant parse: unwrap double-encoding, PERMISSIVE, drop nulls.
    *
    * The P1 drop is a generator, not a Filter: the optimizer pushes a
    * Filter on `t` below the parse Project by inlining `from_json` into
    * the condition, so every record was parsed once in the Filter, again
    * in the Project, and once more per deriver conjunct pushed after it.
    * A generator's output cannot be inlined, so `from_json` runs once. */
  def parsedTelemetry(kafkaDf: DataFrame): DataFrame =
    taggedTelemetry(kafkaDf)
      .select(explode(filter(array(col("t")),
        t => t.isNotNull && t("__corrupt").isNull)).as("t"), col("kafka_ts"))
      .select((TelemetrySchema.telemetry.fieldNames.toSeq
        .map(f => col(s"t.$f")) :+ col("kafka_ts")): _*)

  /** The tagged parse [[parsedTelemetry]] filters: PERMISSIVE from_json
    * marks malformed input via columnNameOfCorruptRecord (`t.__corrupt`
    * non-null ⇒ corrupt) rather than nulling the struct, and the raw
    * bytes ride along. What runs today drops corrupt records, as the
    * reference logs-and-drops (O5): neither `demuxQuery` nor perfbench
    * routes them anywhere. [[deadLetters]] selects them for a
    * dead-letter sink, but no sink is wired; StreamingPipelineSpec is
    * its only caller. */
  def taggedTelemetry(kafkaDf: DataFrame): DataFrame = {
    val base =
      if (kafkaDf.columns.contains("timestamp"))
        kafkaDf.select(col("value").cast("string").as("raw"),
          col("timestamp").as("kafka_ts"))
      else
        kafkaDf.select(col("value").cast("string").as("raw"),
          current_timestamp().as("kafka_ts"))
    val schemaWithCorrupt = org.apache.spark.sql.types.StructType(
      TelemetrySchema.telemetry.fields :+
        org.apache.spark.sql.types.StructField("__corrupt",
          org.apache.spark.sql.types.StringType))
    base.select(
      from_json(JsonNormalize.unwrapNative(col("raw")), schemaWithCorrupt,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "__corrupt")).as("t"),
      col("raw"), col("kafka_ts"))
  }

  /** Corrupt records only (non-blank input that failed the tolerant
    * parse), for a dead-letter sink; see [[taggedTelemetry]]. */
  def deadLetters(tagged: DataFrame): DataFrame =
    tagged
      .filter(col("t.__corrupt").isNotNull && trim(col("raw")) =!= "")
      .select(col("raw"), col("kafka_ts"))
}
