package graft.metrics

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.derive.ViolationDeriver
import graft.ingest.JsonNormalize
import graft.schema.TelemetrySchema
import graft.session.Sessionize

/** Streaming end-to-end latency measurement (the honest answer to the
  * reference's published 8 ms p50 / 26 ms p95 single-device numbers in
  * `/root/reference/latencies.json`).
  *
  * Drives the REAL ingest path — JSON telemetry through the tolerant
  * parser and the violation deriver — from a rate source, and measures
  * per-record latency at the sink as (sink wall clock − source event
  * time), the same carried-column methodology the reference's consumer
  * uses (`kafkaConsumer.js:201-211`, ST4). The measured number is
  * dominated by the micro-batch trigger interval plus per-batch
  * planning: Structured Streaming amortizes scheduling over whole
  * batches (throughput-first), where the reference's per-record
  * consumer pays none of it (latency-first at 1 msg/s). Both points go
  * into BENCH JSON so the divergence is measured, not declared.
  */
object LatencyBench {

  /** Run the pipeline for `durationMs` at the given trigger; returns
    * (p50Ms, p95Ms, samples) over the steady-state records (first half
    * of samples discarded as stream warmup).
    *
    * Transport is the filelog topic log with a producer thread stamping
    * `mqtt_sent_at_ms` at append time — records become visible to the
    * source immediately, so the measurement covers produce → offset
    * discovery → trigger wait → parse/derive → sink, with no artificial
    * source granularity. (Spark's rate source exposes rows in 1-second
    * offset granules, which would inflate the number by up to 1 s.)
    * The default send cadence mirrors the reference's measurement
    * regime: one device at ~10 msg/s (BASELINE.md measures at 1 msg/s),
    * so the number isolates the per-batch floor, not queueing. */
  def run(spark: SparkSession, triggerMs: Long, sendEveryMs: Long = 100,
          durationMs: Long = 15000): (Double, Double, Int) = {
    import spark.implicits._
    import graft.sources.FileLog

    val root = java.nio.file.Files.createTempDirectory("latbench").toString
    val topic = s"telemetry.lat.$triggerMs"
    def telemetryJson(now: Long): String =
      s"""{"device_uuid":"dev-1","timestamp":${now / 1000},""" +
        s""""mqtt_sent_at_ms":$now,"violations":[{"timestamp":${now / 1000},""" +
        s""""type":"harsh_brake","accel_y":3.0,"speed_kph":42.0,"delta_speed":8.0}]}"""

    @volatile var producing = true
    val producer = new Thread(() => {
      while (producing) {
        val now = System.currentTimeMillis()
        FileLog.produce(root, topic, Seq(
          ("dev-1".getBytes("UTF-8"), telemetryJson(now).getBytes("UTF-8"))),
          numPartitions = 2)
        Thread.sleep(sendEveryMs)
      }
    })

    val raw = spark.readStream.format("filelog")
      .option("path", root).option("topic", topic)
      .option("numPartitions", "2").option("startingOffsets", "earliest")
      .load()
    val parsed = raw.select($"value".cast("string").as("value"))
      .select(JsonNormalize.parseTolerant($"value", TelemetrySchema.telemetry).as("t"))
      .filter($"t".isNotNull).select("t.*")

    // Content-parity gate: the rows timed below are also content-hashed
    // (xxhash64 over every derived column), keyed by the unique
    // `mqtt_sent_at_ms` stamp, and after the stream stops the SAME topic
    // log is replayed through the BATCH deriver — the oracle-verified
    // `viol_derive` path — and every streamed row's hash must match its
    // batch twin. A latency number from a pipeline that derives wrong
    // content would report "fast but wrong"; this makes the ladder a
    // correctness-gated artifact instead. Map semantics (ms → hash)
    // rather than multiset: foreachBatch is at-least-once, so a retried
    // batch may re-deliver a row — identical content is tolerated,
    // divergent content still fails.
    def hashed(df: DataFrame): DataFrame = {
      val derived = ViolationDeriver(df)
      derived.select($"mqtt_sent_at_ms",
        xxhash64(struct(derived.columns.map(col).toIndexedSeq: _*)).as("row_hash"))
    }
    val lats = mutable.Buffer[Long]()
    val streamed =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    val q = parsed.writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // TIMED pass: the derive pipeline to fully-materialized rows,
        // stamped the moment the collect returns — the r17-and-earlier
        // methodology, so the ladder stays comparable across rounds.
        // The content gate's xxhash64 runs in a SECOND, untimed pass
        // over the same micro-batch (foreachBatch re-executes the
        // deterministic filelog offsets), so hashing cost never rides
        // inside a latency sample (r18 ADVICE: the gate had moved the
        // hash into the timed path, shifting p50/p95 by the hash cost).
        val derived = ViolationDeriver(batch).collect()
        val now = System.currentTimeMillis()
        lats.synchronized {
          lats ++= derived.map(now - _.getAs[Long]("mqtt_sent_at_ms"))
        }
        val rows = hashed(batch).as[(Long, Long)].collect()
        rows.foreach { case (ms, h) =>
          val prev = streamed.putIfAbsent(Long.box(ms), Long.box(h))
          require(prev == null || prev.longValue() == h,
            s"[latency] stream re-derived ms=$ms with different content")
        }
        ()
      }
      .start()
    producer.start()
    try Thread.sleep(durationMs)
    finally { producing = false; producer.join(); q.stop() }

    // batch replay of the full topic through the same derive chain
    val batchRows = hashed(
      spark.read.format("filelog")
        .option("path", root).option("topic", topic)
        .option("numPartitions", "2").load()
        .select($"value".cast("string").as("value"))
        .select(JsonNormalize.parseTolerant($"value", TelemetrySchema.telemetry).as("t"))
        .filter($"t".isNotNull).select("t.*"))
      .as[(Long, Long)].collect().toMap
    import scala.jdk.CollectionConverters._
    val mismatched = streamed.asScala.filter { case (ms, h) =>
      !batchRows.get(ms.longValue()).contains(h.longValue()) }
    require(mismatched.isEmpty,
      s"[latency] content-parity FAILED: ${mismatched.size}/${streamed.size} " +
        s"streamed rows diverge from the batch viol_derive replay " +
        s"(first ms=${mismatched.keys.headOption.getOrElse(-1L)})")
    require(streamed.isEmpty == lats.isEmpty,
      "[latency] internal: timed samples without hashed rows")

    val steady = lats.synchronized { lats.drop(lats.size / 2).sorted.toIndexedSeq }
    if (steady.isEmpty) (Double.NaN, Double.NaN, 0)
    else (pct(steady, 50), pct(steady, 95), steady.size)
  }

  private def pct(sorted: IndexedSeq[Long], p: Int): Double =
    sorted((sorted.length * p) / 100 min (sorted.length - 1)).toDouble

  /** STATEFUL-path E2E latency — the reference's entry-point 2
    * (`kafkaConsumer.js:238-350`) pipeline: status events over the
    * filelog transport → `Sessionize.stateful` (flatMapGroupsWithState
    * with per-device session state) → `BucketStore` upsert, i.e. the
    * exactly-once stateful chain, not just the map-only derive that
    * [[run]] measures.
    *
    * Measured on explicit-`clear` closes: the producer records wall
    * clock when it appends each device's clear record (a per-device
    * FIFO — sessions for one device close in order), and the sink takes
    * now − clearSentAt AFTER the batch's BucketStore upsert completes —
    * so a sample covers produce → offset discovery → trigger wait →
    * parse → state update + emit → durable store upsert. Event
    * timestamps are a synthetic strictly-increasing per-tick counter
    * (clean watermark advance; wall clock rides only in the recorded
    * send times), with each device's touch→clear 4 event-seconds apart
    * so in-batch sort order can never interleave them.
    *
    * `withStore=false` drops the BucketStore upsert from the sink,
    * isolating the stateful operator + exactly-once machinery from the
    * parquet-store merge price (whose production swap-in is a
    * MERGE-capable table format) — Bench publishes both numbers so the
    * decomposition is measured, not asserted.
    */
  def runStateful(spark: SparkSession, triggerMs: Long,
                  sendEveryMs: Long = 50,
                  durationMs: Long = 15000,
                  withStore: Boolean = true): (Double, Double, Int) = {
    import spark.implicits._
    import graft.schema.TelemetryModel.{SessionDoc, StatusEvent}
    import graft.sources.FileLog

    val root = java.nio.file.Files.createTempDirectory("latstate").toString
    val topic = s"status.lat.$triggerMs"
    val store = s"$root/session_store"
    val NumDevices = 4
    val baseTs = 1700000000L

    def statusJson(dev: String, ts: Long, action: String): String =
      s"""{"event_type":"device_status","status_type":"cable-unplugged",""" +
        s""""action":"$action","device_uuid":"$dev","timestamp":$ts}"""

    val clearSentAt = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]]
    (0 until NumDevices).foreach(i => clearSentAt.put(s"sd-$i",
      new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]))

    @volatile var producing = true
    val producer = new Thread(() => {
      var tick = 0L
      while (producing) {
        val dev = s"sd-${tick % NumDevices}"
        val action = if (((tick / NumDevices) % 2) == 0L) "touch" else "clear"
        val ts = baseTs + tick // strictly increasing event seconds
        if (action == "clear")
          clearSentAt.get(dev).add(System.currentTimeMillis())
        FileLog.produce(root, topic, Seq(
          (dev.getBytes("UTF-8"),
            statusJson(dev, ts, action).getBytes("UTF-8"))),
          numPartitions = 2)
        tick += 1
        Thread.sleep(sendEveryMs)
      }
    })

    val raw = spark.readStream.format("filelog")
      .option("path", root).option("topic", topic)
      .option("numPartitions", "2").option("startingOffsets", "earliest")
      .load()
    val statusSchema = org.apache.spark.sql.Encoders.product[StatusEvent].schema
    val events = raw
      .select(from_json($"value".cast("string"), statusSchema).as("e"))
      .select("e.*")
      .withColumn("event_ts", timestamp_seconds($"timestamp"))
      .withWatermark("event_ts", "0 seconds")
      .as[StatusEvent]

    val lats = mutable.Buffer[Long]()
    // Content-parity gate for the STATEFUL ladder (the run() gate's
    // twin, extended per r18 verdict #3): every clear-closed SessionDoc
    // the stream emits — exactly the rows the ladder times — is
    // recorded keyed by (device, session start), and after the stream
    // stops the SAME topic log is replayed through the sessionizer in
    // BATCH mode (flatMapGroupsWithState over complete groups — the
    // spec-pinned batch≡stream twin). Every streamed doc must equal its
    // batch twin field-for-field, so a state-store regression that
    // corrupts session content can never report a latency number.
    // Clear-closes only: a ttl-close depends on where the global
    // watermark stood at stream stop (batch replay sees all data and
    // never times out mid-group), so it is not batch-deterministic —
    // and it is also never timed. Map semantics tolerate at-least-once
    // re-delivery of IDENTICAL docs; divergent content fails.
    val streamedDocs =
      new java.util.concurrent.ConcurrentHashMap[(String, Long), SessionDoc]()
    // Stateful queries commit one state-store delta per shuffle
    // partition per batch; 32 partitions for a 4-device stream is pure
    // per-batch overhead (8× the fsync'd commits). Sizing shuffle
    // partitions to the keyspace is the standard stateful-streaming
    // knob — the partition count is captured at query start, so restore
    // the session default right after.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = Sessionize.stateful(events).writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SessionDoc], _: Long) =>
        // collect ONCE and upsert the localized rows: every action on
        // the foreachBatch Dataset re-executes the stateful micro-batch
        // plan (state store reads included), so feeding `batch` itself
        // to the upsert would run the pipeline three times per trigger
        val docs = batch.collect()
        if (withStore && docs.nonEmpty)
          graft.sink.BucketStore.upsert(spark,
            spark.createDataset(docs.toIndexedSeq).toDF(), store,
            Seq("device_uuid", "start_timestamp"), numBuckets = 8)
        val now = System.currentTimeMillis()
        val sample = docs.filter(_.closed_by == "clear").flatMap { d =>
          Option(clearSentAt.get(d.device_uuid).poll()).map(now - _.longValue())
        }
        lats.synchronized { lats ++= sample }
        docs.filter(_.closed_by == "clear").foreach { d =>
          val prev = streamedDocs.putIfAbsent(
            (d.device_uuid, d.start_timestamp), d)
          require(prev == null || prev == d,
            s"[latency] stream re-emitted session (${d.device_uuid}," +
              s"${d.start_timestamp}) with different content: $prev vs $d")
        }
        ()
      }
      .start()
    spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    producer.start()
    try Thread.sleep(durationMs)
    finally {
      producing = false; producer.join(); q.stop()
    }

    // Batch replay of the full topic through the SAME sessionizer (fMGWS
    // in batch mode processes each device's complete, sorted event group
    // once — no watermark, no timeouts), then the gate: every streamed
    // clear-closed doc must match its batch twin exactly. Runs before
    // any number is reported.
    val batchDocs = Sessionize.stateful(
      spark.read.format("filelog")
        .option("path", root).option("topic", topic)
        .option("numPartitions", "2").load()
        .select(from_json($"value".cast("string"), statusSchema).as("e"))
        .select("e.*")
        .withColumn("event_ts", timestamp_seconds($"timestamp"))
        .as[StatusEvent])
      .collect().filter(_.closed_by == "clear")
      .map(d => (d.device_uuid, d.start_timestamp) -> d).toMap
    import scala.jdk.CollectionConverters._
    val divergent = streamedDocs.asScala.filter { case (k, d) =>
      !batchDocs.get(k).contains(d) }
    require(divergent.isEmpty,
      s"[latency] stateful content-parity FAILED: ${divergent.size}/" +
        s"${streamedDocs.size} streamed sessions diverge from the batch " +
        s"Sessionize replay (first=${divergent.headOption.getOrElse("")})")
    require(lats.isEmpty || !streamedDocs.isEmpty,
      "[latency] internal: timed stateful samples without recorded docs")

    val steady = lats.synchronized { lats.drop(lats.size / 2).sorted.toIndexedSeq }
    if (steady.isEmpty) (Double.NaN, Double.NaN, 0)
    else (pct(steady, 50), pct(steady, 95), steady.size)
  }

  /** Sink-side latency buffer for the continuous-mode run: ForeachWriter
    * instances run on executor threads — one JVM in local mode, so a
    * static queue observes every record (measurement harness only). */
  val contLats = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]

  /** Continuous-processing experiment — what Spark's record-at-a-time
    * mode actually reaches vs the reference's 8 ms p50, measured rather
    * than declared. Continuous mode supports only map-like operators:
    * the status branch (F1/F2 gates + projection — StatusDeriver's plan
    * shape, here with the send-time column carried per ST4) qualifies;
    * the violation branch (explode), the demux (foreachBatch), and
    * everything stateful do NOT run continuous — so this number is the
    * floor for a subset of the pipeline, not a drop-in latency fix.
    * Returns (p50Ms, p95Ms, n) or NaNs if the mode rejects the plan. */
  def runContinuous(spark: SparkSession,
                    durationMs: Long = 12000): (Double, Double, Int) = {
    import spark.implicits._
    contLats.clear()
    val raw = spark.readStream.format("rate")
      .option("rowsPerSecond", "10").load()
      .select(concat(
        lit("""{"device_uuid":"dev-"""), col("value") % 8,
        lit("""","timestamp":"""), expr("unix_millis(timestamp) div 1000"),
        lit(""","mqtt_sent_at_ms":"""), unix_millis(col("timestamp")),
        lit(""","dashcam_power_source":"battery"}""")).as("value"))
    val parsed = raw
      .select(JsonNormalize.parseTolerant($"value", TelemetrySchema.telemetry).as("t"))
      .filter($"t".isNotNull).select("t.*")
    val status = parsed
      .filter($"device_uuid".isNotNull && $"timestamp" > 0)
      .filter(lower($"dashcam_power_source") === "battery")
      .select($"device_uuid", $"timestamp", $"mqtt_sent_at_ms")

    try {
      val q = status.writeStream
        .trigger(Trigger.Continuous("1 second"))
        .foreach(new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
          override def open(partitionId: Long, epochId: Long): Boolean = true
          override def process(r: org.apache.spark.sql.Row): Unit =
            contLats.add(System.currentTimeMillis() -
              r.getAs[Long]("mqtt_sent_at_ms"))
          override def close(errorOrNull: Throwable): Unit = ()
        })
        .start()
      // Killing continuous-mode tasks floods the log with TaskKilled /
      // RejectedExecutionException warnings (async, can land seconds
      // later and bury the bench's stdout contract) — mute around stop.
      try Thread.sleep(durationMs)
      finally { spark.sparkContext.setLogLevel("OFF"); q.stop() }
      import scala.jdk.CollectionConverters._
      val all = contLats.iterator().asScala.map(_.longValue()).toIndexedSeq
      val steady = all.drop(all.size / 2).sorted
      if (steady.isEmpty) (Double.NaN, Double.NaN, 0)
      else (pct(steady, 50), pct(steady, 95), steady.size)
    } catch {
      case e: Throwable =>
        System.err.println(s"[latency] continuous mode rejected: ${e.getMessage}")
        (Double.NaN, Double.NaN, 0)
    }
  }
}
