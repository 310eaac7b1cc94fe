package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkTestBase, Tables}

case class DocRow(doc_id: Long, text: String, source: String)

/** Streaming DSIR scoring ≡ batch: a document stream split across
  * micro-batches, scored per batch against the FIXED hashed-LM lift
  * table, must produce exactly the rows the one-shot batch scorer
  * produces — per-doc scoring is stateless given the model, and this
  * spec pins that no streaming-side state creeps in. */
class StreamingDsirSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("per-micro-batch scores against a fixed lift equal one-shot batch scores") {
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"source")
      .as[DocRow].collect().toSeq.sortBy(_.doc_id)
    // the model is built once, batch-side, and shared by both paths
    val lift = graft.queries.CurationQueries.dsirLift(spark, sf)
      .localCheckpoint()

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocRow]
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q = foreachBatchOf(input.toDF(),
        Files.createTempDirectory("dsir-ckpt").toString)(
        graft.queries.CurationQueries.dsirScore(_, lift)) { scored =>
      collected.synchronized { collected ++= scored.collect() }
    }
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    def key(r: Row) = (r.getLong(r.fieldIndex("doc_id")),
      r.getString(r.fieldIndex("source")),
      r.getLong(r.fieldIndex("n_grams")),
      r.getLong(r.fieldIndex("score")))
    val streamed = collected.map(key).toSet
    val batch = graft.queries.CurationQueries
      .dsirScore(docs.toDF(), lift).collect().map(key).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // every doc with at least one bigram is scored exactly once
    assert(collected.size == collected.map(key).distinct.size)
  }

  test("a doc whose every bucket is unseen by the lift still scores (floor, not drop)") {
    // a 2-row "lift" that cannot cover this doc's bigram buckets: the
    // streaming deployment's new-data-after-model-build case. The doc
    // must come back scored at the add-1 smoothing floor per gram
    // (lift = SCALE), never vanish from the output.
    val lift = Seq((-1L, 7L), (-2L, 7L)).toDF("g", "lift")
    val novel = Seq(DocRow(99L, "wholly novel bigram text here", "srcX")).toDF()
    val out = graft.queries.CurationQueries.dsirScore(novel, lift).collect()
    assert(out.length == 1, "unseen-bucket doc was dropped")
    val r = out.head
    val nGrams = r.getLong(r.fieldIndex("n_grams"))
    assert(nGrams == 4) // 5 tokens → 4 bigrams, all unseen
    // score = n_grams × floor(SCALE)
    assert(r.getLong(r.fieldIndex("score")) == nGrams * 1000000L)
    assert(r.getDouble(r.fieldIndex("imp")) == 1.0)
  }
}
