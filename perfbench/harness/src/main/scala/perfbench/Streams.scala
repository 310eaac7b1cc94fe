package perfbench

import java.io.File
import java.time.Instant
import java.util.concurrent.CountDownLatch

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, from_json, timestamp_seconds, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.app.DerivePipeline
import graft.ingest.KafkaTelemetrySource
import graft.schema.TelemetryModel.{SessionDoc, StatusEvent}
import graft.session.Sessionize
import graft.sink.{BucketStore, KafkaEventSink}
import graft.sources.{FileLog, FileLogOffset}

import Main._

/** The stream workloads: the demux query drained from a backlog and fed
  * by an open-loop generator (`ingest`), and the sessionizer drained into
  * the bucket store (`session_drain`). */
object Streams {
  val Raw = "telemetry.raw"
  val Violations = "violations.events"
  val Status = "device-status.events"
  val Devices = 2000
  val Partitions = Gen.Partitions

  /** Records per micro-batch in the drain workloads. */
  val IngestBatch = 50000L
  val SessionBatch = 10000L
  /** Production default trigger of the demux query. */
  val PacedTriggerMs = 1000L
  /** Drain rates the backlogs are sized from (records/s on 4 cores);
    * the backlog holds 1.5× this per measured second, so a faster program
    * still has work left when the window closes. */
  val IngestRate = 50000L
  val SessionRate = 15000L
  /** Warm-up: cycles, and records in each cycle's log. */
  val WarmCycles = 3
  val WarmRecords = 10000L

  // ------------------------------------------------------------ plumbing

  /** Completed micro-batches of the running queries, by batch id. */
  final class BatchLog(root: String, topic: String) extends StreamingQueryListener {
    final case class Batch(p: StreamingQueryProgress, endMs: Double, lag: Long)
    private val bs = ArrayBuffer[Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val end = Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.getOrDefault("triggerExecution", 0L).doubleValue()
        // records on the log not yet admitted when the batch finished
        val avail = FileLogOffset.current(root, topic, Partitions).parts
        val done = FileLogOffset.parse(p.sources.head.endOffset).parts
        val lag = avail.map { case (k, v) => v - done.getOrElse(k, 0L) }.sum
        bs.synchronized { bs += Batch(p, end, lag) }
      }
    }
    def batches: Seq[Batch] = bs.synchronized(bs.toSeq.sortBy(_.p.batchId))
    /** The last batch ended at the end of the log. */
    def caughtUp: Boolean = batches.lastOption.exists { b =>
      FileLogOffset.parse(b.p.sources.head.endOffset).parts ==
        FileLogOffset.current(root, topic, Partitions).parts
    }
  }

  /** Parks the next micro-batch before it writes anything once closed,
    * so a stopped query leaves only whole batches behind. */
  final class StopGate {
    @volatile var closed = false
    val parked = new CountDownLatch(1)
    def check(): Unit = if (closed) {
      parked.countDown()
      while (true) Thread.sleep(1000) // until stop() interrupts
    }
  }

  def readTopic(spark: SparkSession, root: String, topic: String): DataFrame =
    spark.read.format("filelog").option("path", root).option("topic", topic)
      .option("numPartitions", Partitions.toString).load()

  /** Offsets [0, end(p)) of every partition. */
  def prefix(df: DataFrame, end: Map[Int, Long]): DataFrame =
    df.filter(end.map { case (p, n) =>
      col("partition") === p && col("offset") < n }.reduce(_ || _))

  def streamOf(spark: SparkSession, root: String, topic: String,
               maxOffsets: Option[Long]): DataFrame = {
    val r = spark.readStream.format("filelog").option("path", root)
      .option("topic", topic).option("numPartitions", Partitions.toString)
      .option("startingOffsets", "earliest")
    maxOffsets.fold(r)(m => r.option("maxOffsetsPerTrigger", m.toString)).load()
  }

  def writeTopic(df: DataFrame, root: String, topic: String): Unit =
    df.write.format("filelog").option("path", root).option("topic", topic)
      .option("numPartitions", Partitions.toString).mode("append").save()

  /** The reference pipeline: telemetry → parse → demux into the two
    * event topics, with the benchmark's FileLog writers injected. */
  def demux(spark: SparkSession, root: String, ckpt: String,
            maxOffsets: Option[Long], triggerMs: Long, gate: StopGate,
            tracer: Tracer, writeMs: Samples): StreamingQuery = {
    val parsed = KafkaTelemetrySource.parsedTelemetry(
      streamOf(spark, root, Raw, maxOffsets))
    def writer(topic: String)(events: DataFrame): Unit = {
      if (topic == Violations) gate.check()
      val t = System.nanoTime()
      tracer.span("sink", s"write:$topic") {
        writeTopic(KafkaEventSink.toKafkaRecords(events), root, topic)
      }
      writeMs += (System.nanoTime() - t) / 1e6
    }
    KafkaEventSink.demuxQuery(parsed, ckpt, triggerMs)(writer(Violations), writer(Status))
  }

  /** Stop a query at a batch boundary: close the gate, wait until the
    * next batch parks in it or the query has nothing left to do. */
  def stopAtBoundary(q: StreamingQuery, gate: StopGate, log: BatchLog): Unit = {
    gate.closed = true
    waitWhile(gate.parked.getCount > 0 && !log.caughtUp && q.isActive)
    q.stop()
  }

  def endOffsets(b: BatchLog#Batch): Map[Int, Long] =
    FileLogOffset.parse(b.p.sources.head.endOffset).parts

  /** Per-batch stream figures over `batches`. */
  def streamLayers(batches: Seq[BatchLog#Batch]): Map[String, Double] = {
    def d(k: String) = median(batches.map(_.p.durationMs.asScala.get(k)
      .map(_.doubleValue()).getOrElse(0.0)))
    Map(
      "stream.batches" -> batches.length.toDouble,
      "stream.rows_per_batch" -> median(batches.map(_.p.numInputRows.toDouble)),
      "stream.add_batch_ms" -> d("addBatch"),
      "stream.planning_ms" -> d("queryPlanning"),
      "stream.wal_commit_ms" -> d("walCommit"),
      "stream.commit_offsets_ms" -> d("commitOffsets"),
      "stream.latest_offset_ms" -> d("latestOffset"),
      "sources.lag_records_max" -> batches.map(_.lag.toDouble).max)
  }

  /** Trigger wait: gaps between one batch's end and the next's start. */
  def triggerWaitMs(batches: Seq[BatchLog#Batch]): Double =
    median(batches.sliding(2).collect { case Seq(a, b) =>
      Instant.parse(b.p.timestamp).toEpochMilli - a.endMs }.toSeq)

  /** One span per micro-batch, with its phases laid out in execution
    * order under it. */
  def batchSpans(tracer: Tracer, batches: Seq[BatchLog#Batch]): Unit =
    batches.foreach { b =>
      val start = Instant.parse(b.p.timestamp).toEpochMilli.toDouble
      val id = tracer.add("stream", s"batch:${b.p.batchId}", start, b.endMs)
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
        "commitOffsets").foreach { k =>
        val ms = b.p.durationMs.asScala.get(k).map(_.doubleValue()).getOrElse(0.0)
        if (ms > 0) tracer.add("stream", k, t, t + ms, id)
        t += ms
      }
    }

  def segmentFiles(root: String, topic: String): Double =
    (0 until Partitions).map(p =>
      FileLog.segments(FileLog.partDir(root, topic, p)).length).sum.toDouble

  // --------------------------------------------------------------- ingest

  /** Hashes of (key, value) of every record on an event topic. */
  def topicHashes(df: DataFrame): Array[Long] =
    df.select(xxhash64(col("key").cast("string"), col("value").cast("string")))
      .collect().map(_.getLong(0))

  /** Records on a topic, from its committed offsets. */
  def topicCount(root: String, topic: String): Long =
    FileLogOffset.current(root, topic, Partitions).parts.values.sum

  /** Gate for the ingest workload. Every output record is counted
    * against the generator's ledger for the consumed prefix, so a lost or
    * duplicated record anywhere shows. The records of the sampled log
    * partition (every partition with `everyKey`) are compared one by one,
    * as key/value hashes, with a batch replay of the same log through
    * `DerivePipeline.runBatch`, and the replay's own counts, corrupt
    * records included, must match the ledger's for that partition. */
  def ingestGate(spark: SparkSession, root: String, end: Map[Int, Long],
                 seed: Long, everyKey: Boolean): (Long, Long, Map[String, Any]) = {
    val part = Gen.sampledPartition(seed)
    // the sampled partition alone, seen through a one-partition view
    val view = new File(root + "-view")
    Seq(Raw, Violations, Status).foreach { t =>
      val d = new File(view, s"$t/p0")
      d.getParentFile.mkdirs()
      if (!d.exists()) java.nio.file.Files.createSymbolicLink(d.toPath,
        FileLog.partDir(root, t, part).getAbsoluteFile.toPath)
    }
    def topic(t: String) =
      if (everyKey) readTopic(spark, root, t)
      else spark.read.format("filelog").option("path", view.getPath)
        .option("topic", t).option("numPartitions", "1").load()
    // one partition is one read task: spread it before the parse
    val raw = if (everyKey) prefix(topic(Raw), end)
              else prefix(topic(Raw), Map(0 -> end(part)))
                .repartition(spark.sparkContext.defaultParallelism)
    val replayed = if (everyKey) end.values.sum else end(part)
    val parsed = KafkaTelemetrySource.parsedTelemetry(raw).persist()
    try {
      val (v, s) = DerivePipeline.runBatch(parsed)
      val wantV = topicHashes(KafkaEventSink.toKafkaRecords(v))
      val wantS = topicHashes(KafkaEventSink.toKafkaRecords(s))
      val gotV = topicHashes(topic(Violations))
      val gotS = topicHashes(topic(Status))
      val hist = LedgerLog.histogram(root, Raw, end)
      def ledger(inSample: Boolean)(f: Int => Int) = hist.indices
        .filter(b => !inSample || everyKey || (b & 16) != 0)
        .map(b => hist(b) * f(b)).sum
      def counts(inSample: Boolean) = Map(
        "violations" -> ledger(inSample)(_ & 3),
        "status" -> ledger(inSample)(b => (b >> 2) & 1),
        "corrupt" -> ledger(inSample)(b => (b >> 3) & 1))
      val topics = Map("violations" -> topicCount(root, Violations),
        "status" -> topicCount(root, Status))
      val replay = Map("violations" -> wantV.length.toLong,
        "status" -> wantS.length.toLong,
        "corrupt" -> (replayed - parsed.count()))
      val all = counts(inSample = false)
      val failed = Gates.multisetFailures(gotV, wantV) +
        Gates.multisetFailures(gotS, wantS) +
        Gates.ledgerFailures(topics, all - "corrupt") +
        Gates.ledgerFailures(replay, counts(inSample = true))
      (end.values.sum, failed, Map("topics" -> topics, "ledger" -> all,
        "replay" -> replay, "replayed" -> (if (everyKey) "all" else s"p$part")))
    } finally parsed.unpersist()
  }

  /** Drain a small log once through a fresh demux query: JIT, codegen
    * and query start-up, paid before anything is timed. */
  def warmIngest(spark: SparkSession, conf: Conf, root: String, i: Int): Double =
    timed {
      val q = demux(spark, root, conf.dir(s"warm-ckpt-$i"), Some(IngestBatch), 0L,
        new StopGate, new Tracer(false), new Samples)
      try q.processAllAvailable() finally q.stop()
    }._2

  /** Per-layer time of the ingest chain on the first 50,000 records of
    * the drained log: each layer runs over its input materialized in
    * memory into a no-op sink (best of 2), so a layer's time is its own
    * work plus an in-memory read of its input. `sources.scan_s` reads the
    * records from the log itself. */
  def ingestLayers(spark: SparkSession, conf: Conf, root: String,
                   end: Map[Int, Long]): Map[String, Double] = {
    val sample = end.map { case (p, n) => p -> math.min(n, 12500L) }
    def run(df: DataFrame): Double = (1 to 2).map(_ => timed(
      df.write.format("noop").mode("overwrite").save())._2).min
    def cached(df: DataFrame): DataFrame = { val c = df.persist(); c.count(); c }
    val raw = prefix(readTopic(spark, root, Raw), sample)
    val scan = run(raw)
    val rawC = cached(raw)
    val parse = run(KafkaTelemetrySource.parsedTelemetry(rawC))
    val parsedC = cached(KafkaTelemetrySource.parsedTelemetry(rawC))
    val (v, s) = DerivePipeline.runBatch(parsedC)
    val (viol, status) = (run(v), run(s))
    val (vC, sC) = (cached(v), cached(s))
    val encode = run(KafkaEventSink.toKafkaRecords(vC)) +
      run(KafkaEventSink.toKafkaRecords(sC))
    val evC = cached(KafkaEventSink.toKafkaRecords(vC))
    val esC = cached(KafkaEventSink.toKafkaRecords(sC))
    val scratch = conf.dir("layer-writes")
    val write = timed(writeTopic(evC, scratch, Violations))._2 +
      timed(writeTopic(esC, scratch, Status))._2
    val rows = parsedC.count().toDouble
    val nViol = vC.count().toDouble
    Seq(rawC, parsedC, vC, sC, evC, esC).foreach(_.unpersist())
    Map("sources.scan_s" -> scan, "ingest.parse_s" -> parse,
      "derive.violation_s" -> viol, "derive.status_s" -> status,
      "sink.encode_s" -> encode, "sink.write_s" -> write,
      "derive.violations_per_record" -> nViol / rows,
      "ingest.corrupt_frac" -> (sample.values.sum - rows) / sample.values.sum)
  }

  /** Rows/s of `log`'s batches that end after `from`, once one ends at
    * least `seconds` later. */
  def window(log: BatchLog, q: StreamingQuery, from: Double,
             seconds: Double): (Double, Seq[BatchLog#Batch]) = {
    waitWhile(log.batches.last.endMs < from + seconds * 1000 && q.isActive &&
      !log.caughtUp)
    val bs = log.batches.filter(_.endMs > from)
    (bs.map(_.p.numInputRows).sum / ((bs.last.endMs - from) / 1000.0), bs)
  }

  def durationsMs(bs: Seq[BatchLog#Batch]): Seq[Double] =
    bs.map(_.p.durationMs.get("triggerExecution").doubleValue())

  /** The `ingest` workload, in one JVM:
    *  1. drain: a backlog of `IngestRate` × 1.5 × seconds telemetry
    *     records drained by the demux query at `IngestBatch` records per
    *     micro-batch, back to back → `throughput_per_s` (records/s);
    *  2. paced: the generator's open loop at 2,000 records/s into the
    *     demux query at its production trigger → `latency_p50_ms` and
    *     `latency_tail_ms` (p99), due time to visible violation event.
    * Traced, each phase runs a second, traced window after the untraced
    * one, then per-layer timings and the single-core drain follow. */
  def ingest(conf: Conf): Outcome = {
    val drainRoot = conf.dir("drain")
    val pacedRoot = conf.dir("paced")
    val warmRoot = conf.dir("warm")
    val windows = if (conf.trace) 2 else 1
    val records = (IngestRate * conf.seconds * (if (conf.trace) 3.5 else 1.5)).toLong
    val gen = spawnGen(conf, Seq("--mode", "telemetry-backlog", "--root", drainRoot,
      "--seed", conf.seed.toString, "--records", records.toString,
      "--devices", Devices.toString, "--out", s"${conf.work}/gen.json"))
    val warmGen = spawnGen(conf, Seq("--mode", "telemetry-backlog",
      "--root", warmRoot, "--seed", (conf.seed + 1).toString,
      "--records", WarmRecords.toString, "--devices", Devices.toString,
      "--out", s"${conf.work}/gen-warm.json"))
    val marks = new Marks
    var spark = session(conf.cores)
    val sessionS = sinceJvmStart
    awaitGen(warmGen, new File(s"${conf.work}/gen-warm.json"))
    val warm = (1 to WarmCycles).map(i => warmIngest(spark, conf, warmRoot, i))
    val (ledger, inputWait) = timed(awaitGen(gen, new File(s"${conf.work}/gen.json")))
    val setup = sessionS + warm.head + median(warm.tail) + inputWait
    marks("setup")

    // ---- drain
    val tracer = new Tracer(false)
    val log = new BatchLog(drainRoot, Raw)
    spark.streams.addListener(log)
    val gate = new StopGate
    val writeMs = new Samples
    val q = demux(spark, drainRoot, conf.dir("ckpt"), Some(IngestBatch), 0L, gate,
      tracer, writeMs)
    waitWhile(log.batches.isEmpty && q.isActive)
    val (rate, measured) = window(log, q, log.batches.head.endMs, conf.seconds)
    var layers = Map.empty[String, Double]
    if (conf.trace) {
      tracer.enabledNow = true
      val nWrites = writeMs.all.length
      val (tracedRate, traced) = window(log, q, measured.last.endMs, conf.seconds)
      batchSpans(tracer, traced)
      layers ++= streamLayers(traced) ++ Map(
        "stream.trigger_wait_ms" -> triggerWaitMs(traced),
        "sink.demux_write_ms" -> median(writeMs.all.drop(nWrites)),
        "trace.overhead_pct" -> 100 * (rate / tracedRate - 1))
      tracer.enabledNow = false
    }
    stopAtBoundary(q, gate, log)
    spark.streams.removeListener(log)
    marks("drain")
    val drainEnd = endOffsets(log.batches.last)
    val (drained, drainFailed, drainGate) =
      ingestGate(spark, drainRoot, drainEnd, conf.seed, everyKey = false)
    marks("drain_gate")

    // ---- paced
    val plog = new BatchLog(pacedRoot, Raw)
    spark.streams.addListener(plog)
    val pacedWrites = new Samples
    val pq = demux(spark, pacedRoot, conf.dir("ckpt-paced"), None, PacedTriggerMs,
      new StopGate, tracer, pacedWrites)
    val warmupS = 1.5
    val pgen = spawnGen(conf, Seq("--mode", "telemetry-paced", "--root", pacedRoot,
      "--seed", conf.seed.toString, "--devices", Devices.toString,
      "--warmup", warmupS.toString, "--seconds", (conf.seconds * windows).toString,
      "--out", s"${conf.work}/gen-paced.json"))
    if (conf.trace) {
      // trace the second window: switch when the first one ends (the
      // generator's schedule starts half a second after it is up)
      val startMs = System.currentTimeMillis()
      waitWhile(System.currentTimeMillis() < startMs + 500 +
        (warmupS + conf.seconds) * 1000 && pgen.isAlive)
      tracer.enabledNow = true
    }
    val g = awaitGen(pgen, new File(s"${conf.work}/gen-paced.json"))
    pq.processAllAvailable()
    pq.stop()
    tracer.enabledNow = false
    marks("paced")
    val pacedEnd = FileLogOffset.current(pacedRoot, Raw, Partitions).parts
    val (produced, pacedFailed, pacedGate) =
      ingestGate(spark, pacedRoot, pacedEnd, conf.seed, everyKey = true)
    marks("paced_gate")
    val lat = g("latency_ms").asInstanceOf[Seq[Double]]
    val windowViol = g("window_violations").asInstanceOf[Double].toLong
    // every violation due in the window is timed exactly once
    val failed = drainFailed + pacedFailed + math.abs(lat.length - windowViol)
    val latePct99 = percentile(g("late_ms").asInstanceOf[Seq[Double]], 99)
    val lagMax = plog.batches.map(_.lag).maxOption.getOrElse(0L)

    if (conf.trace) {
      val half = lat.length / 2
      val pb = plog.batches.filter(_.p.batchId > 0)
      batchSpans(tracer, pb)
      tracer.nestByTime()
      val self = tracer.selfSeconds
      tracer.write(new File(conf.work, "spans.json"))
      layers ++= ingestLayers(spark, conf, drainRoot, drainEnd) ++ Map(
        "sources.segment_files" -> segmentFiles(pacedRoot, Raw),
        "sources.lag_records_max" -> lagMax.toDouble,
        "gen.late_p99_ms" -> latePct99,
        "self.gen_s" -> g("produce_ms").asInstanceOf[Seq[Double]].sum / 1000,
        "self.stream_s" -> self.getOrElse("stream", 0.0),
        "self.sink_s" -> self.getOrElse("sink", 0.0),
        // latency share of tracing: traced half of the paced run against
        // the untraced half, beside the drain's throughput share
        "trace.overhead_pct" -> (layers("trace.overhead_pct") +
          100 * (median(lat.drop(half)) / median(lat.take(half)) - 1)) / 2)
      marks("layers")
      // the same drain on one core, for a scaling figure
      spark.stop()
      spark = session(1)
      val log1 = new BatchLog(drainRoot, Raw)
      spark.streams.addListener(log1)
      warmIngest(spark, conf, warmRoot, 0)
      val gate1 = new StopGate
      val q1 = demux(spark, drainRoot, conf.dir("ckpt-local1"), Some(IngestBatch), 0L,
        gate1, new Tracer(false), new Samples)
      waitWhile(log1.batches.isEmpty && q1.isActive)
      val (rate1, _) = window(log1, q1, log1.batches.head.endMs, conf.seconds / 2)
      stopAtBoundary(q1, gate1, log1)
      layers += "ingest.local1_rows_per_s" -> rate1
      layers += "ingest.scaling_x" -> rate / rate1
      marks("local1")
    }
    spark.stop()
    val untraced = lat.take(lat.length / windows)
    val e2e = Map(
      "setup_s" -> setup,
      "throughput_per_s" -> rate,
      "latency_p50_ms" -> median(untraced),
      "latency_tail_ms" -> percentile(untraced, 99))
    Outcome(drained + produced, failed, if (conf.trace) perLayer(layers) else e2e,
      Map("e2e" -> e2e, "latency_samples" -> untraced.length,
        "drain_gate" -> drainGate, "paced_gate" -> pacedGate,
        "ledger" -> ledger, "batch_ms" -> durationsMs(measured),
        "paced_samples" -> lat.length, "window_violations" -> windowViol,
        "gen_late_p99_ms" -> latePct99, "lag_records_max" -> lagMax,
        "paced_batches" -> plog.batches.length,
        "warm_s" -> warm, "marks" -> marks.toMap, "input_wait_s" -> inputWait))
  }

  // -------------------------------------------------------------- session

  val SessionKeys = Seq("device_uuid", "start_timestamp")
  /** Buckets of the session store, sized to it the way the repository's
    * own latency bench sizes it: a few thousand sessions per bucket. */
  val StoreBuckets = 8
  /** Event-time watermark delay of the sessionizer's input. Partitions
    * drain in step, but at a given offset share their event times differ
    * by about a minute (sampling spread of a ~70,000-event partition over
    * an 8-hour backlog); ten minutes keeps every event on time, so the
    * stream and the batch replay see the same input. */
  val WatermarkDelay = "10 minutes"

  def statusEvents(df: DataFrame): Dataset[StatusEvent] = {
    import df.sparkSession.implicits._
    val schema = Encoders.product[StatusEvent].schema
    df.select(from_json(col("value").cast("string"), schema).as("e")).select("e.*")
      .as[StatusEvent]
  }

  /** Status events → `Sessionize.stateful` → `BucketStore.upsert`. */
  def sessionQuery(spark: SparkSession, root: String, store: String, ckpt: String,
                   gate: StopGate, tracer: Tracer, upsertMs: Samples,
                   touched: Samples, closed: Samples): StreamingQuery = {
    import spark.implicits._
    val events = statusEvents(streamOf(spark, root, Status, Some(SessionBatch)))
      .withColumn("event_ts", timestamp_seconds(col("timestamp")))
      .withWatermark("event_ts", WatermarkDelay)
      .as[StatusEvent]
    Sessionize.stateful(events).writeStream
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[SessionDoc], _: Long) =>
        gate.check()
        // one collect: every action on `batch` re-runs the stateful plan
        val rows = batch.collect()
        closed += rows.length.toDouble
        val docs = spark.createDataset(rows.toSeq).toDF()
        val t = System.nanoTime()
        tracer.span("sink", "upsert") {
          BucketStore.upsert(spark, docs, store, SessionKeys, StoreBuckets)
        }
        upsertMs += (System.nanoTime() - t) / 1e6
        if (tracer.enabled)
          touched += BucketStore.touchedBuckets(docs, SessionKeys, StoreBuckets).length.toDouble
        ()
      }
      .start()
  }

  def warmSession(spark: SparkSession, conf: Conf, root: String, i: Int): Double =
    timed {
      val q = sessionQuery(spark, root, conf.dir(s"warm-store-$i") + "/s",
        conf.dir(s"warm-ckpt-$i"), new StopGate, new Tracer(false),
        new Samples, new Samples, new Samples)
      try q.processAllAvailable() finally q.stop()
    }._2

  /** Gate for `session_drain`: closed sessions in the store against a
    * batch `Sessionize.stateful` replay of the consumed log, both cut at
    * the sessions the stream's last watermark had closed. The replay
    * appends one far-future touch per device so batch mode closes every
    * real session. Fewer settled sessions than half of those stored count
    * as failures too, so a cut that leaves little to compare fails. */
  def sessionGate(spark: SparkSession, root: String, store: String,
                  end: Map[Int, Long], watermarkMs: Long): (Long, Long, Map[String, Any]) = {
    import spark.implicits._
    val far = Gen.BaseTs + 100L * 365 * 86400
    val consumed = statusEvents(prefix(readTopic(spark, root, Status), end))
    val sentinels = consumed.select("device_uuid").distinct().as[String]
      .map(d => StatusEvent("device_status", "cable-unplugged", "touch", d, far,
        None, None))
    val replay = Sessionize.stateful(consumed.union(sentinels)).collect().toSeq
      .filter(_.start_timestamp != far)
    def settled(d: SessionDoc) = (d.end_timestamp + Sessionize.GapSeconds) * 1000 < watermarkMs
    val stored = BucketStore.read(spark, store, Encoders.product[SessionDoc].schema,
      StoreBuckets)
      .as[SessionDoc].collect().toSeq
    val hist = LedgerLog.histogram(root, Status, end)
    def ledger(f: Int => Int) = hist.indices.map(b => hist(b) * f(b)).sum
    val expected = Map("touches" -> ledger(_ & 1), "sessions" -> ledger(b => (b >> 1) & 1))
    val got = Map("touches" -> replay.map(_.n_touches).sum, "sessions" -> replay.length.toLong)
    val (s, r) = (stored.filter(settled), replay.filter(settled))
    val failed = Gates.multisetFailures(s, r) + Gates.ledgerFailures(got, expected) +
      math.max(0L, stored.length / 2 - r.length)
    (end.values.sum, failed, Map("stored" -> stored.length,
      "settled" -> r.length, "replay" -> got, "ledger" -> expected,
      "only_stored" -> s.diff(r).take(5).map(_.toString),
      "only_replayed" -> r.diff(s).take(5).map(_.toString)))
  }

  def sessionDrain(conf: Conf): Outcome = {
    val root = conf.dir("log")
    val warmRoot = conf.dir("warm")
    val records = (SessionRate * conf.seconds * (if (conf.trace) 5 else 3)).toLong
    val gen = spawnGen(conf, Seq("--mode", "status-backlog", "--root", root,
      "--seed", conf.seed.toString, "--records", records.toString,
      "--devices", Devices.toString, "--out", s"${conf.work}/gen.json"))
    val warmGen = spawnGen(conf, Seq("--mode", "status-backlog",
      "--root", warmRoot, "--seed", (conf.seed + 1).toString,
      "--records", WarmRecords.toString, "--devices", Devices.toString,
      "--out", s"${conf.work}/gen-warm.json"))
    val marks = new Marks
    val spark = session(conf.cores)
    val sessionS = sinceJvmStart
    awaitGen(warmGen, new File(s"${conf.work}/gen-warm.json"))
    val warm = (1 to WarmCycles).map(i => warmSession(spark, conf, warmRoot, i))
    val (ledger, inputWait) = timed(awaitGen(gen, new File(s"${conf.work}/gen.json")))
    val setup = sessionS + warm.head + median(warm.tail) + inputWait
    marks("setup")

    val tracer = new Tracer(false)
    val log = new BatchLog(root, Status)
    spark.streams.addListener(log)
    val gate = new StopGate
    val (upsertMs, touched, closed) = (new Samples, new Samples, new Samples)
    val store = conf.dir("store") + "/sessions"
    BucketStore.resetProbeStats()
    val q = sessionQuery(spark, root, store, conf.dir("ckpt"), gate, tracer,
      upsertMs, touched, closed)
    waitWhile(log.batches.isEmpty && q.isActive)
    val (rate, measured) = window(log, q, log.batches.head.endMs, conf.seconds)
    var layers = Map.empty[String, Double]
    if (conf.trace) {
      tracer.enabledNow = true
      val nUpserts = upsertMs.all.length
      val (tracedRate, traced) = window(log, q, measured.last.endMs, conf.seconds)
      batchSpans(tracer, traced)
      val ups = upsertMs.all.drop(nUpserts)
      val ops = traced.flatMap(_.p.stateOperators.headOption)
      layers ++= streamLayers(traced) ++ Map(
        "stream.trigger_wait_ms" -> triggerWaitMs(traced),
        "sink.upsert_ms" -> median(ups),
        "sink.upsert_total_s" -> ups.sum / 1000,
        "sink.buckets_touched" -> median(touched.all),
        "session.state_rows" -> ops.last.numRowsTotal.toDouble,
        "session.state_bytes" -> ops.last.memoryUsedBytes.toDouble,
        "session.commit_ms" -> median(ops.map(_.commitTimeMs.toDouble)),
        "trace.overhead_pct" -> 100 * (rate / tracedRate - 1))
    }
    stopAtBoundary(q, gate, log)
    marks("drain")
    val last = log.batches.last
    val watermarkMs = Instant.parse(last.p.eventTime.get("watermark")).toEpochMilli
    val (attempted, failed, gateInfo) =
      sessionGate(spark, root, store, endOffsets(last), watermarkMs)
    marks("gate")
    if (conf.trace) {
      val st = BucketStore.stats(spark, store, StoreBuckets)
      tracer.nestByTime()
      val self = tracer.selfSeconds
      tracer.write(new File(conf.work, "spans.json"))
      layers ++= Map(
        "session.sessions_closed" -> closed.all.sum,
        "sink.store_files" -> st.map(_.files).sum.toDouble,
        "sink.store_bytes" -> st.map(_.bytes).sum.toDouble,
        "sink.reprobes" -> BucketStore.probeStats().reProbes.toDouble,
        "sources.segment_files" -> segmentFiles(root, Status),
        "self.stream_s" -> self.getOrElse("stream", 0.0),
        "self.sink_s" -> self.getOrElse("sink", 0.0))
    }
    spark.stop()
    val durations = durationsMs(measured)
    // a few batches per window: the tail is the slowest of them
    val e2e = Map(
      "setup_s" -> setup,
      "throughput_per_s" -> rate,
      "latency_p50_ms" -> median(durations),
      "latency_tail_ms" -> durations.max)
    Outcome(attempted, failed, if (conf.trace) perLayer(layers) else e2e,
      Map("gate" -> gateInfo, "e2e" -> e2e, "latency_samples" -> durations.length,
        "ledger" -> ledger,
        "batch_ms" -> durations, "warm_s" -> warm, "marks" -> marks.toMap,
        "session_s" -> sessionS, "input_wait_s" -> inputWait))
  }
}
