package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkTestBase, Tables}

case class EmbedRow(vec_id: Long, embedding: Seq[Float], label: Int)

/** Streaming probe scoring ≡ batch: an embedding stream split across
  * micro-batches, scored per batch against the FIXED batch-trained
  * probe weights, must produce exactly the rows the one-shot batch
  * scorer produces — per-vector scoring is stateless given the model,
  * and this spec pins that no streaming-side state creeps in. */
class StreamingProbeSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("per-micro-batch scores against fixed weights equal one-shot batch scores") {
    val rows = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding", $"label")
      .as[EmbedRow].collect().toSeq.sortBy(_.vec_id)
    // the probe is trained once, batch-side, and shared by both paths
    val w = graft.SharedStages.probe(spark, sf).w.toSeq

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EmbedRow]
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q = foreachBatchOf(input.toDF(),
        Files.createTempDirectory("probe-ckpt").toString)(
        graft.queries.EmbedQueries.probeScores(_, w)) { scored =>
      collected.synchronized { collected ++= scored.collect() }
    }
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    def key(r: Row) = (r.getLong(r.fieldIndex("vec_id")),
      r.getInt(r.fieldIndex("label")),
      r.getLong(r.fieldIndex("score")),
      r.getLong(r.fieldIndex("pred_pos")))
    val streamed = collected.map(key).toSet
    val batch = graft.queries.EmbedQueries
      .probeScores(rows.toDF(), w).collect().map(key).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // every vector is scored exactly once across the micro-batches
    assert(collected.size == collected.map(key).distinct.size)
    // and the streamed accuracy rollup matches probe_eval's contract:
    // pred_pos is exactly "score > 0" on every row
    assert(collected.forall(r =>
      (r.getLong(r.fieldIndex("score")) > 0) ==
        (r.getLong(r.fieldIndex("pred_pos")) == 1L)))
  }
}
