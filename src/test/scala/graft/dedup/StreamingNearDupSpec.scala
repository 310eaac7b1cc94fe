package graft.dedup

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase
import graft.dedup.StreamingNearDup.{CandidatePair, DocEvent}

/** Streaming MinHash/LSH near-dup detection: a near-duplicate (NOT
  * byte-identical) arriving in a later micro-batch is flagged against
  * the stored signature; the candidate set and estimates agree with the
  * batch operator on the same corpus; bucket state purges past the
  * horizon. */
class StreamingNearDupSpec extends SparkTestBase {
  import spark.implicits._

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def doc(id: Long, text: String, sec: Long) =
    DocEvent(id, text, new Timestamp(sec * 1000L))

  /** Drive batches through the operator, return every emitted pair. */
  private def run(batches: Seq[Seq[DocEvent]], horizonSec: Long = 600,
                  capacity: Int = 256): Seq[CandidatePair] = {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    val sink = s"neardup_sink_${System.nanoTime()}"
    try {
      val input = MemoryStream[DocEvent]
      val q = StreamingNearDup.candidatePairs(input.toDS(), horizonSec, capacity)
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation",
          Files.createTempDirectory("neardup-ckpt").toString)
        .format("memory").queryName(sink)
        .start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(sink).as[CandidatePair].collect().toSeq
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None    => spark.conf.unset(ProviderKey)
      }
      try spark.catalog.dropTempView(sink) catch { case _: Throwable => () }
    }
  }

  private val corpus = Seq(
    doc(1L, "the quick brown fox jumps over the lazy dog", 1000),
    doc(2L, "the quick brown fox jumps over the lazy cat", 1020), // near-dup of 1
    doc(3L, "completely different content about spark engines and plans", 1040),
    doc(4L, "the quick brown fox jumps over the lazy dog", 1060)) // exact dup of 1

  test("a near-dup arriving in a LATER batch is flagged; unrelated never") {
    val got = run(Seq(
      Seq(doc(1L, "the quick brown fox jumps over the lazy dog", 1000),
          doc(3L, "completely different content about spark engines and plans", 1005)),
      Seq(doc(2L, "the quick brown fox jumps over the lazy cat", 1030))))
    val pairs = got.map(p => (p.a_id, p.b_id)).toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair not flagged: $pairs")
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L },
      s"unrelated doc paired: $pairs")
    // the near-dup is NOT byte-identical, and its estimate is partial
    val sim12 = got.find(p => (p.a_id, p.b_id) == (1L, 2L)).get.est_sim
    assert(sim12 > 0.0 && sim12 < 1.0, s"expected partial estimate, got $sim12")
  }

  test("streaming == batch: same candidate pairs and estimates on one corpus") {
    val got = run(corpus.grouped(2).toSeq) // two micro-batches
      .map(p => (p.a_id, p.b_id, p.est_sim)).toSet
    val sigs = MinHashLSH.signatures(
      corpus.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"), "doc_id", "text")
    val want = MinHashLSH.candidatePairs(sigs, "doc_id")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, s"streaming $got != batch $want")
    assert(want.nonEmpty) // the corpus genuinely produces candidates
  }

  test("per-row signatures match the batch signature pass bit-for-bit") {
    val batch = MinHashLSH.signatures(
      corpus.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"), "doc_id", "text")
      .select($"doc_id", $"sig").as[(Long, Seq[Long])].collect().toMap
    corpus.foreach { d =>
      assert(StreamingNearDup.signature(d.text).map(_.toSeq) == batch.get(d.doc_id),
        s"signature mismatch for doc ${d.doc_id}")
    }
    // short doc: both sides drop it
    assert(StreamingNearDup.signature("a b").isEmpty)
  }

  test("state purges: a near-dup past the horizon is not flagged") {
    val got = run(Seq(
      Seq(doc(1L, "the quick brown fox jumps over the lazy dog", 1000)),
      // advances the watermark to 5000 - 100 = 4900 > 1000 + 100
      Seq(doc(9L, "totally unrelated filler text that shares no trigrams at all", 5000)),
      Seq(doc(2L, "the quick brown fox jumps over the lazy cat", 5001))),
      horizonSec = 100)
    assert(!got.exists(p => (p.a_id, p.b_id) == (1L, 2L)),
      s"pair flagged across a purged horizon: $got")
  }

  test("capacity: a full bucket pairs an arrival but does not store it") {
    // doc 3 repeats doc 1's text, so every bucket doc 3 lands in already
    // holds doc 1; doc 2 (a near-dup of both) shares some of them
    val batches = Seq(
      Seq(doc(1L, "the quick brown fox jumps over the lazy dog", 1000)),
      Seq(doc(2L, "the quick brown fox jumps over the lazy cat", 1010)),
      Seq(doc(3L, "the quick brown fox jumps over the lazy dog", 1020)))
    def pairs(capacity: Int) =
      run(batches, capacity = capacity).map(p => (p.a_id, p.b_id)).toSet
    // uncapped, doc 2 is stored beside doc 1 and doc 3 pairs with both
    assert(pairs(256) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // capacity 1: doc 2 pairs with the stored doc 1 but is not stored,
    // so doc 3 finds only doc 1 in the buckets it shares with doc 2
    assert(pairs(1) == Set((1L, 2L), (1L, 3L)))
  }

  test("a batch folds in event-time order: the pair carries the later arrival's time") {
    // the higher id arrives first, so id order and time order disagree
    val got = run(Seq(Seq(
      doc(5L, "the quick brown fox jumps over the lazy dog", 1000),
      doc(2L, "the quick brown fox jumps over the lazy cat", 1001))))
    assert(got.map(p => (p.a_id, p.b_id, p.ts.getTime)) ==
      Seq((2L, 5L, 1001000L)), s"$got")
  }

  test("checkpoint restart: MapState + timers resume; no lost or double pairs") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    val ckpt = Files.createTempDirectory("neardup-rs-ckpt").toString
    val outDir = Files.createTempDirectory("neardup-rs-out").toString
    try {
      val input = MemoryStream[DocEvent]
      // memory sink cannot recover from a checkpoint — use the
      // fault-tolerant file sink for the restart path
      def start() = StreamingNearDup.candidatePairs(input.toDS(), 600, 256)
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .start()
      val q1 = start()
      input.addData(doc(1L, "the quick brown fox jumps over the lazy dog", 1000))
      q1.processAllAvailable()
      q1.stop() // planned stop; offsets + RocksDB state checkpointed
      val q2 = start()
      // the stored signature must survive the restart: a near-dup
      // arriving in the NEW query instance still pairs with doc 1
      input.addData(doc(2L, "the quick brown fox jumps over the lazy cat", 1030))
      q2.processAllAvailable()
      try {
        val pairs = spark.read.parquet(outDir).as[CandidatePair].collect()
          .map(p => (p.a_id, p.b_id)).toSeq
        assert(pairs.count(_ == (1L, 2L)) == 1,
          s"expected exactly one (1,2) pair after restart, got $pairs")
      } finally q2.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None    => spark.conf.unset(ProviderKey)
      }
    }
  }

  test("in-batch near-dups pair; replayed doc ids do not self-pair") {
    val got = run(Seq(
      Seq(doc(1L, "the quick brown fox jumps over the lazy dog", 1000),
          doc(2L, "the quick brown fox jumps over the lazy cat", 1001)),
      Seq(doc(1L, "the quick brown fox jumps over the lazy dog", 1002)))) // replay
    val pairs = got.map(p => (p.a_id, p.b_id))
    assert(pairs.contains((1L, 2L)))
    assert(pairs.distinct == pairs, s"duplicate pair emissions: $pairs")
    assert(!pairs.contains((1L, 1L)))
  }
}
