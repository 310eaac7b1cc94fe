package perfbench

import java.io.File
import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.schema.TelemetryModel.SessionDoc
import graft.sink.BucketStore
import graft.sources.{FileLog, FileLogOffset}

import Main.Samples
import Streams._

/** Shows that every correctness gate rejects a deliberately wrong
  * output and accepts the right one: first the comparison rules alone,
  * then the stream gates themselves over a small real run whose outputs
  * are then tampered with. `python3 perfbench/run.py --selftest`. */
object GateTests {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // ingest: output topic hashes against the batch replay
    val want = Array(11L, 12L, 13L, 13L, 14L)
    check("ingest gate accepts the replay itself in any order",
      Gates.multisetFailures(want.reverse, want) == 0)
    check("ingest gate rejects a lost record",
      Gates.multisetFailures(want.drop(1), want) == 1)
    check("ingest gate rejects a duplicated record",
      Gates.multisetFailures(want :+ 12L, want) == 1)
    check("ingest gate rejects a changed record",
      Gates.multisetFailures(want.updated(0, 99L), want) == 1)
    check("ingest gate rejects a lost duplicate",
      Gates.multisetFailures(Array(11L, 12L, 13L, 14L), want) == 1)

    // ledger: replay counts against what the generator produced
    val ledger = Map("violations" -> 130L, "status" -> 15L, "corrupt" -> 1L)
    check("ledger gate accepts matching counts",
      Gates.ledgerFailures(ledger, ledger) == 0)
    check("ledger gate rejects a wrong violation count",
      Gates.ledgerFailures(ledger.updated("violations", 128L), ledger) == 2)
    check("ledger gate rejects a missing count",
      Gates.ledgerFailures(ledger - "corrupt", ledger) == 1)

    // sessions: the store against the batch Sessionize replay
    val s1 = SessionDoc("device-1", "cable-unplugged", 100, 160, 3, "ttl")
    val s2 = SessionDoc("device-2", "cable-unplugged", 100, 100, 1, "clear")
    val sessions = Seq(s1, s2)
    check("session gate accepts the replay",
      Gates.multisetFailures(sessions.reverse, sessions) == 0)
    check("session gate rejects a lost session",
      Gates.multisetFailures(Seq(s1), sessions) == 1)
    check("session gate rejects a duplicated session",
      Gates.multisetFailures(sessions :+ s1, sessions) == 1)
    check("session gate rejects a session with a wrong touch count",
      Gates.multisetFailures(Seq(s1.copy(n_touches = 4), s2), sessions) == 1)
    check("session gate rejects a session closed the wrong way",
      Gates.multisetFailures(Seq(s1, s2.copy(closed_by = "ttl")), sessions) == 1)

    // registry: fingerprints against the committed file
    val fps = Map("a" -> (10L, "123"), "b" -> (0L, "0"))
    check("registry gate accepts matching fingerprints",
      Gates.fingerprintFailures(fps, fps) == 0)
    check("registry gate rejects a wrong row count",
      Gates.fingerprintFailures(fps.updated("a", (11L, "123")), fps) == 1)
    check("registry gate rejects a wrong row hash",
      Gates.fingerprintFailures(fps.updated("b", (0L, "1")), fps) == 1)
    check("registry gate rejects a query with no expected fingerprint",
      Gates.fingerprintFailures(fps + ("c" -> (1L, "1")), fps) == 1)

    val spark = Main.session(2)
    val work = new File("gates").getAbsoluteFile
    ingestGateOnRun(spark, new File(work, "ingest").getPath)
    sessionGateOnRun(spark, new File(work, "session").getPath)
    spark.stop()

    println(if (failures == 0) "all gate tests passed" else s"$failures gate tests FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** A small telemetry backlog drained by the demux query, then the
    * ingest gate over it, before and after its output is tampered with. */
  def ingestGateOnRun(spark: SparkSession, root: String): Unit = {
    val seed = 7L
    Gen.telemetryBacklog(root, seed, 8000, 200)
    val q = demux(spark, root, root + "-ckpt", Some(IngestBatch), 0L, new StopGate,
      new Tracer(false), new Samples)
    try q.processAllAvailable() finally q.stop()
    val end = FileLogOffset.current(root, Raw, Partitions).parts
    def failed(everyKey: Boolean = false) = ingestGate(spark, root, end, seed, everyKey)._2
    check("ingest gate accepts the demux query's output", failed() == 0)
    check("ingest gate accepts it with every partition replayed", failed(everyKey = true) == 0)

    val dir = FileLog.partDir(root, Violations, Gen.sampledPartition(seed))
    val rec = readTopic(spark, root, Violations)
      .filter(s"partition = ${Gen.sampledPartition(seed)}").head()
    FileLog.produce(root, Violations,
      Seq((rec.getAs[Array[Byte]]("key"), rec.getAs[Array[Byte]]("value"))), Partitions)
    check("ingest gate rejects a duplicated violation event", failed() > 0)
    FileLog.segments(dir).last._3.delete()
    check("ingest gate accepts the output once the duplicate is gone", failed() == 0)
    FileLog.segments(dir).last._3.delete()
    check("ingest gate rejects lost violation events", failed() > 0)
  }

  /** A small status backlog drained through the sessionizer into the
    * bucket store, then the session gate over it, before and after the
    * store is tampered with. */
  def sessionGateOnRun(spark: SparkSession, root: String): Unit = {
    import spark.implicits._
    Gen.statusBacklog(root, 7L, 20000, 200)
    val log = new BatchLog(root, Status)
    spark.streams.addListener(log)
    val store = root + "-store/sessions"
    val q = sessionQuery(spark, root, store, root + "-ckpt", new StopGate,
      new Tracer(false), new Samples, new Samples, new Samples)
    try q.processAllAvailable() finally q.stop()
    spark.streams.removeListener(log)
    val last = log.batches.last
    val watermarkMs = Instant.parse(last.p.eventTime.get("watermark")).toEpochMilli
    def failed(wm: Long = watermarkMs) = sessionGate(spark, root, store, endOffsets(last), wm)._2
    check("session gate accepts the sessionizer's store", failed() == 0)
    check("session gate rejects a cut that settles no session", failed(wm = 0L) > 0)

    def upsert(d: SessionDoc): Unit =
      BucketStore.upsert(spark, Seq(d).toDF(), store, SessionKeys, StoreBuckets)
    val settled = BucketStore.read(spark, store, org.apache.spark.sql.Encoders
      .product[SessionDoc].schema, StoreBuckets).as[SessionDoc].collect()
      .minBy(d => (d.end_timestamp, d.device_uuid))
    upsert(settled.copy(n_touches = settled.n_touches + 1))
    check("session gate rejects a stored session with a wrong touch count", failed() > 0)
    upsert(settled)
    check("session gate accepts the store once the session is restored", failed() == 0)
    upsert(settled.copy(start_timestamp = settled.start_timestamp - 1))
    check("session gate rejects a session the replay does not have", failed() > 0)
  }
}
