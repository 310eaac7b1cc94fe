package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
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

/** K3/K4: document-store sinks. The reference appends one Mongo doc per
  * violation (`kafkaConsumer.js:213-226`) and upserts session docs by id
  * (`:304-307`). Without a transactional table format on the classpath,
  * the append path writes parquet partitions; the upsert path is
  * read-merge-write keyed by `keyCols` (swap for Delta/Iceberg MERGE in
  * production — the call shape is identical). */
object EventStoreSink {
  import org.apache.hadoop.fs.{FileSystem, Path}

  def appendParquet(batch: DataFrame, path: String): Unit =
    batch.write.mode("append").parquet(path)

  private def hadoopFs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Read the store, recovering from a crash mid-promote: a promote
    * renames the live generation aside to `path_old` before moving the
    * new one in, so if `path` is missing the previous generation is
    * still intact at `path_old` (the in-flight batch is lost but the
    * streaming checkpoint replays it — no prior row is ever lost). */
  def readStore(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val fs = hadoopFs(spark)
    if (fs.exists(new Path(path))) spark.read.parquet(path)
    else if (fs.exists(new Path(path + "_old"))) spark.read.parquet(path + "_old")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Promote `tmp` to `path` without a window in which both the old and
    * new generation are unreachable: old is renamed aside, not deleted,
    * until the new generation is live. Single-writer (the streaming
    * sink); concurrent readers should go through [[readStore]]. */
  private[sink] def promote(fs: FileSystem, tmp: String, path: String): Unit = {
    val dst = new Path(path); val old = new Path(path + "_old")
    fs.delete(old, true) // stale backup from a completed promote
    if (fs.exists(dst)) fs.rename(dst, old)
    fs.rename(new Path(tmp), dst)
    fs.delete(old, true)
  }

  /** Idempotent replace-on-key upsert: final state per key equals the
    * reference's final Mongo doc (§7.6.5 — equivalence on final state,
    * not write sequence). O(store) per call — fine for small stores and
    * tests; the scale path is [[BucketStore]] (cost ∝ touched buckets). */
  def upsertParquet(spark: SparkSession, batch: DataFrame, path: String,
                    keyCols: Seq[String]): Unit = {
    val existing = readStore(spark, path, batch.schema)
    val merged = existing
      .join(batch.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
      .unionByName(batch)
    val tmp = path + "_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    promote(hadoopFs(spark), tmp, path)
  }
}
