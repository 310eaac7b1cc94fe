package graft.session

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase
import graft.schema.TelemetryModel.{SessionDoc, StatusEvent}

/** Stateful sessionization on the RocksDB state store provider — the
  * 100 TB state backend (the default HDFSBackedStateStore keeps every
  * partition's state map ON HEAP; RocksDB spills to local disk with
  * bounded memory, which is what makes million-key session state
  * viable per executor). The engine code is provider-agnostic; this
  * spec pins that the sessionizer produces identical results and
  * honors checkpoint restart under the RocksDB provider.
  *
  * The provider is a session conf read at query START, so it is set
  * for this spec's queries and restored after — the shared test
  * session's other streaming suites keep the default provider.
  */
class RocksDbStateSpec extends SparkTestBase {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def ev(dev: String, ts: Long, action: String) =
    StatusEvent("device_status", "cable-unplugged", action, dev, ts, None, None)

  test("sessionize on RocksDB provider: same results, checkpoint restart works") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    try {
      val input = MemoryStream[StatusEvent]
      val ckpt = Files.createTempDirectory("rocks-ckpt").toString
      val outDir = Files.createTempDirectory("rocks-out").toString

      def start() = Sessionize.stateful(
        input.toDF()
          .withColumn("event_ts", timestamp_seconds($"timestamp"))
          .withWatermark("event_ts", "0 seconds")
          .as[StatusEvent])
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .start()

      def sessions() = spark.read.parquet(outDir).as[SessionDoc].collect()
        .map(d => (d.device_uuid, d.start_timestamp, d.end_timestamp,
          d.n_touches, d.closed_by)).sorted.toSeq

      val q1 = start()
      try {
        // batch 1: open sessions on two devices; d1 merges two touches
        input.addData(ev("d1", 1000, "touch"), ev("d1", 1050, "touch"),
          ev("d2", 1020, "touch"))
        q1.processAllAvailable()
        // batch 2: explicit clear closes d1 immediately
        input.addData(ev("d1", 1100, "clear"))
        q1.processAllAvailable()
        // batch 3: a d2 touch past the gap meets the session read back
        // from the state store → the old one closes as ttl and a new one
        // opens; d3 opens
        input.addData(ev("d2", 1500, "touch"), ev("d3", 1510, "touch"))
        q1.processAllAvailable()
        // batches 4-5: a watermark far past everyone's end+gap fires
        // the event-time timeouts (d9 stays open)
        input.addData(ev("d9", 9000, "touch"))
        q1.processAllAvailable()
        input.addData(ev("d9", 9001, "touch"))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(sessions() == Seq(
        ("d1", 1000L, 1050L, 2L, "clear"),
        ("d2", 1020L, 1020L, 1L, "ttl"),
        ("d2", 1500L, 1500L, 1L, "ttl"),
        ("d3", 1510L, 1510L, 1L, "ttl")),
        s"unexpected sessions before restart: ${sessions()}")

      // restart from checkpoint: RocksDB state (d9's open session) must
      // reload; a later clear closes it with the full touch history
      val q2 = start()
      try {
        input.addData(ev("d9", 9100, "touch"), ev("d9", 9200, "clear"))
        q2.processAllAvailable()
      } finally q2.stop()
      assert(sessions() == Seq(
        ("d1", 1000L, 1050L, 2L, "clear"),
        ("d2", 1020L, 1020L, 1L, "ttl"),
        ("d2", 1500L, 1500L, 1L, "ttl"),
        ("d3", 1510L, 1510L, 1L, "ttl"),
        ("d9", 9000L, 9100L, 3L, "clear")),
        s"unexpected sessions: ${sessions()}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None    => spark.conf.unset(ProviderKey)
      }
    }
  }
}
