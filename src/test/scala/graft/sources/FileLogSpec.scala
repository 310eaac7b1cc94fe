package graft.sources

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ingest.KafkaTelemetrySource
import graft.sink.KafkaEventSink

/** End-to-end tests for the file-backed Kafka-shaped transport: the
  * S1/S2 source and K1/K2 sink semantics (keyed partitioning, offset
  * resume, startingOffsets, demux to two topics) driven over a real
  * offset-tracked log instead of MemoryStream. */
class FileLogSpec extends SparkTestBase {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("filelog").toString

  private def produce(root: String, topic: String, recs: Seq[(String, String)],
                      parts: Int = 2): Unit =
    recs.toDF("key", "value").write.format("filelog")
      .option("path", root).option("topic", topic)
      .option("numPartitions", parts.toString)
      .mode("append").save()

  private def readTopic(root: String, topic: String, parts: Int = 2): DataFrame =
    spark.read.format("filelog")
      .option("path", root).option("topic", topic)
      .option("numPartitions", parts.toString).load()

  test("batch roundtrip: contiguous offsets, stable keyed routing") {
    val root = newRoot()
    val recs = (1 to 40).map(i => (s"k${i % 5}", s"v$i"))
    produce(root, "t1", recs.take(25))
    produce(root, "t1", recs.drop(25)) // second append continues offsets
    val got = readTopic(root, "t1")
      .select($"key".cast("string"), $"value".cast("string"),
        $"partition", $"offset")
      .as[(String, String, Int, Long)].collect()
    assert(got.map(r => (r._1, r._2)).sorted.toSeq ==
      recs.sorted, "all records readable")
    // each key lives on exactly one partition (per-key ordering holds)
    got.groupBy(_._1).foreach { case (k, rs) =>
      assert(rs.map(_._3).distinct.length == 1, s"key $k split") }
    // offsets are contiguous 0..n-1 within each partition
    got.groupBy(_._3).foreach { case (p, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (0L until rs.length).toSeq,
        s"offsets not contiguous in p$p") }
  }

  test("exact bytes round trip through both producers, read from inside a segment") {
    val root = newRoot()
    val big = Array.tabulate[Byte](FileLog.IoBufferBytes * 2 + 7)(i => (i * 31).toByte)
    val recs: Seq[(Array[Byte], Array[Byte])] = Seq(
      ("k1".getBytes, "small".getBytes), (null, "no key".getBytes),
      ("k2".getBytes, null), ("k3".getBytes, big), ("k4".getBytes, Array.emptyByteArray))
    // one partition: offsets 0-4 from produce, 5-9 from one DSv2 write task
    FileLog.produce(root, "rt", recs, numPartitions = 1)
    recs.toDF("key", "value").coalesce(1).write.format("filelog")
      .option("path", root).option("topic", "rt").option("numPartitions", "1")
      .mode("append").save()
    assert(FileLog.segments(FileLog.partDir(root, "rt", 0)).map(_._1) == Seq(0L, 5L))

    def bytes(b: Array[Byte]) = Option(b).map(_.toSeq)
    val expected = (recs ++ recs).map { case (k, v) => (bytes(k), bytes(v)) }
    def read(from: Long, to: Long) = {
      val r = new FileLogPartitionReader(FileLogInputPartition(root, "rt", 0, from, to))
      val out = mutable.Buffer[(Long, Option[Seq[Byte]], Option[Seq[Byte]])]()
      try while (r.next()) {
        val row = r.get()
        out += ((row.getLong(4), bytes(row.getBinary(0)), bytes(row.getBinary(1))))
      } finally r.close()
      out.toSeq
    }
    for ((from, to) <- Seq((0L, 10L), (4L, 10L), (2L, 8L))) {
      val want = (from until to).map(o => (o, expected(o.toInt)._1, expected(o.toInt)._2))
      assert(read(from, to) == want, s"offsets [$from, $to)")
    }
  }

  private def telemetryJson(dev: String, ts: Long, power: String,
                            vTypes: Seq[String]): String = {
    val vs = vTypes.map(t =>
      s"""{"timestamp":$ts,"type":"$t","accel_y":3.0,"speed_kph":50.0,"delta_speed":9.0}""")
      .mkString("[", ",", "]")
    s"""{"device_uuid":"$dev","timestamp":$ts,"mqtt_sent_at_ms":${ts * 1000 + 123},""" +
      s""""dashcam_power_source":"$power","violations":$vs}"""
  }

  test("pipeline e2e: telemetry topic -> demux -> two event topics") {
    val root = newRoot()
    val inputs = Seq(
      telemetryJson("d1", 100, "external", Seq("harsh_brake", "harsh-braking")),
      telemetryJson("d2", 200, "battery", Seq("harsh_accel")),
      telemetryJson("d3", 300, "battery", Seq()),
      "corrupt {{{")
    produce(root, "telemetry.raw", inputs.map(v => ("dev", v)))

    // S1: stream from the topic like the reference job subscribes
    val raw = spark.readStream.format("filelog")
      .option("path", root).option("topic", "telemetry.raw")
      .option("numPartitions", "2").option("startingOffsets", "earliest")
      .load()
    val parsed = KafkaTelemetrySource.parsedTelemetry(
      raw.select($"value".cast("string").as("value")))

    // F10 demux -> K1/K2: one pass, two keyed topics
    val ckpt = Files.createTempDirectory("flckpt").toString
    val q = KafkaEventSink.demuxQuery(parsed, ckpt, triggerMs = 0L)(
      v => KafkaEventSink.toKafkaRecords(v).write.format("filelog")
        .option("path", root).option("topic", "violations.events")
        .option("numPartitions", "2").mode("append").save(),
      s => KafkaEventSink.toKafkaRecords(s).write.format("filelog")
        .option("path", root).option("topic", "status.events")
        .option("numPartitions", "2").mode("append").save())
    try q.processAllAvailable() finally q.stop()

    val viols = readTopic(root, "violations.events")
      .select($"key".cast("string"), $"value".cast("string"))
      .as[(String, String)].collect().toSeq
    val stats = readTopic(root, "status.events")
      .select($"key".cast("string")).as[String].collect().toSeq
    // allowlist drops the hyphenated type; corrupt row never derives
    assert(viols.map(_._1).sorted == Seq("d1", "d2"))
    assert(viols.forall(_._2.contains(""""event_type":"violation"""")))
    assert(stats.sorted == Seq("d2", "d3")) // battery only
  }

  test("offset restart: a new query on the same checkpoint resumes, not replays") {
    val root = newRoot()
    produce(root, "t2", (1 to 3).map(i => (s"k$i", s"a$i")))
    val ckpt = Files.createTempDirectory("flrestart").toString

    def runOnce(): Seq[String] = {
      val buf = mutable.Buffer[String]()
      val q = spark.readStream.format("filelog")
        .option("path", root).option("topic", "t2")
        .option("numPartitions", "2").option("startingOffsets", "earliest")
        .load()
        .select($"value".cast("string").as("v"))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          buf.synchronized { buf ++= b.as[String].collect() }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      buf.toSeq
    }

    assert(runOnce().sorted == Seq("a1", "a2", "a3"))
    produce(root, "t2", (1 to 2).map(i => (s"k$i", s"b$i")))
    // second incarnation starts from the committed offsets: only b's
    assert(runOnce().sorted == Seq("b1", "b2"))
  }

  test("startingOffsets=latest skips the backlog like the reference job") {
    val root = newRoot()
    produce(root, "t3", Seq(("k", "old1"), ("k", "old2")))
    val buf = mutable.Buffer[String]()
    val q = spark.readStream.format("filelog")
      .option("path", root).option("topic", "t3")
      .option("numPartitions", "2") // default startingOffsets = latest
      .load()
      .select($"value".cast("string").as("v"))
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("fll").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf.synchronized { buf ++= b.as[String].collect() }; ()
      }.start()
    try {
      q.processAllAvailable()
      produce(root, "t3", Seq(("k", "new1")))
      q.processAllAvailable()
    } finally q.stop()
    assert(buf.toSeq == Seq("new1"))
  }

  test("maxOffsetsPerTrigger caps each micro-batch (admission control)") {
    val root = newRoot()
    produce(root, "t6", (1 to 20).map(i => (s"k$i", s"v$i")))
    val batchSizes = mutable.Buffer[Long]()
    val q = spark.readStream.format("filelog")
      .option("path", root).option("topic", "t6")
      .option("numPartitions", "2").option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", "6")
      .load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("flmax").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val n = b.count()
        if (n > 0) batchSizes.synchronized { batchSizes += n }; ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batchSizes.sum == 20, s"lost records: $batchSizes")
    assert(batchSizes.forall(_ <= 6), s"batch over the cap: $batchSizes")
    assert(batchSizes.length >= 4, s"too few batches: $batchSizes")
  }

  test("orphaned staging files from a crashed writer are invisible to readers") {
    val root = newRoot()
    produce(root, "t5", Seq(("k", "real1"), ("k", "real2")))
    // simulate a task that crashed after staging but before commit
    val pdir = new java.io.File(s"$root/t5/p${FileLog.route("k".getBytes, 2)}")
    val orphan = new java.io.File(pdir, ".tmp-dead-task")
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(orphan))
    out.writeInt(1); out.write("x".getBytes); out.writeInt(4)
    out.write("lost".getBytes); out.writeLong(0L); out.close()

    val got = readTopic(root, "t5")
      .select($"value".cast("string")).as[String].collect().sorted.toSeq
    assert(got == Seq("real1", "real2")) // orphan never surfaces
    // and offsets remain contiguous for subsequent appends
    produce(root, "t5", Seq(("k", "real3")))
    val offs = readTopic(root, "t5").select($"offset").as[Long]
      .collect().sorted.toSeq
    assert(offs == Seq(0L, 1L, 2L))
  }

  test("streaming sink: writeStream into a topic with epoch markers") {
    val root = newRoot()
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val q = input.toDF().toDF("key", "value")
      .writeStream.format("filelog")
      .option("path", root).option("topic", "t4")
      .option("numPartitions", "2")
      .option("checkpointLocation",
        Files.createTempDirectory("flsink").toString)
      .start()
    try {
      input.addData(("k1", "x1"), ("k2", "x2"))
      q.processAllAvailable()
      input.addData(("k1", "x3"))
      q.processAllAvailable()
    } finally q.stop()
    val got = readTopic(root, "t4")
      .select($"key".cast("string"), $"value".cast("string"))
      .as[(String, String)].collect().toSeq
    assert(got.sorted == Seq(("k1", "x1"), ("k1", "x3"), ("k2", "x2")))
    // epoch markers recorded (the effectively-once replay guard)
    val epochs = new java.io.File(s"$root/t4/_epochs").list()
    assert(epochs != null && epochs.nonEmpty)
  }
}
