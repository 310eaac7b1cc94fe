package graft.dedup

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase
import graft.dedup.StreamingNearDup.DocEvent

/** Streaming canonicalization: the full ingest chain (near-dup pairs →
  * online union-find labels) replayed in micro-batches converges to the
  * SAME labels as the batch Components.minLabel fixpoint on the same
  * edge set; labels only ever decrease; whole components purge past the
  * horizon. */
class StreamingComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def doc(id: Long, text: String, sec: Long) =
    DocEvent(id, text, new Timestamp(sec * 1000L))

  /** Drive batches through near-dup detection + labeling, return every
    * emitted label row. */
  private def run(batches: Seq[Seq[DocEvent]], minSim: Double,
                  horizonSec: Long = 600): Seq[CompLabel] = {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    val sink = s"scomp_sink_${System.nanoTime()}"
    try {
      val input = MemoryStream[DocEvent]
      val q = StreamingComponents.labels(
        StreamingNearDup.candidatePairs(input.toDS(), horizonSec),
        minSim, horizonSec)
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation",
          Files.createTempDirectory("scomp-ckpt").toString)
        .format("memory").queryName(sink)
        .start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(sink).as[CompLabel].collect().toSeq
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None    => spark.conf.unset(ProviderKey)
      }
      try spark.catalog.dropTempView(sink) catch { case _: Throwable => () }
    }
  }

  /** Two near-dup families (5,7,9 around one template; 6,8 around
    * another) plus an unrelated doc — ids deliberately interleaved so
    * min-root unions actually relabel. */
  private val corpus = Seq(
    doc(7L, "the quick brown fox jumps over the lazy dog tonight", 1000),
    doc(9L, "the quick brown fox jumps over the lazy cat tonight", 1010),
    doc(6L, "distributed stream processing with bounded state stores works", 1020),
    doc(5L, "the quick brown fox jumps over the lazy dog today", 1030),
    doc(8L, "distributed stream processing with bounded state stores scales", 1040),
    doc(3L, "completely unrelated filler content about gardens and rain", 1050))

  test("streaming labels == batch minLabel fixpoint on the same edge set") {
    val got = run(corpus.grouped(2).toSeq, minSim = 0.3)
    // current label per doc = minimum emission (labels only decrease)
    val streaming = got.groupBy(_.doc_id).view
      .mapValues(_.map(_.label).min).toMap
    // batch side: the SAME edge set (batch candidate pairs at the same
    // threshold — StreamingNearDupSpec already pins pair equality)
    val sigs = MinHashLSH.signatures(
      corpus.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
      "doc_id", "text")
    val edges = MinHashLSH.candidatePairs(sigs, "doc_id")
      .filter($"est_sim" >= 0.3)
    val batch = Components.minLabel(edges, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    assert(streaming == batch, s"streaming $streaming != batch $batch")
    assert(batch.nonEmpty && batch.values.toSet.size >= 2,
      s"corpus should produce >= 2 components: $batch")
  }

  test("labels are monotonically non-increasing per doc") {
    val got = run(corpus.grouped(2).toSeq, minSim = 0.3)
    got.groupBy(_.doc_id).foreach { case (id, rows) =>
      val seq = rows.sortBy(_.ts.getTime).map(_.label)
      assert(seq.zip(seq.tail).forall { case (a, b) => b <= a },
        s"doc $id label sequence increased: $seq")
    }
  }

  test("a component purges past the horizon; a later edge starts fresh") {
    val got = run(Seq(
      Seq(doc(1L, "the quick brown fox jumps over the lazy dog", 1000),
          doc(2L, "the quick brown fox jumps over the lazy cat", 1010)),
      // watermark advances far past 1010 + horizon
      Seq(doc(30L, "totally unrelated filler text sharing no trigrams at all", 9000)),
      Seq(doc(4L, "the quick brown fox jumps over the lazy dog", 9010))),
      minSim = 0.3, horizonSec = 100)
    val labels = got.groupBy(_.doc_id).view.mapValues(_.map(_.label).min).toMap
    // first family labeled before the purge
    assert(labels.get(1L).contains(1L) && labels.get(2L).contains(1L), s"$labels")
    // doc 4 arrives after the horizon: its near-dups are gone from the
    // near-dup store too, so no pair and no label for it
    assert(!labels.contains(4L), s"purge failed: $labels")
  }
}
