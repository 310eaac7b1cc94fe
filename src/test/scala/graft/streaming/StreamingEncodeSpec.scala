package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkTestBase, Tables}
import graft.queries.TextQueries

case class EncDocRow(doc_id: Long, text: String)

/** Streaming encode ≡ batch: documents streamed across micro-batches
  * and encoded against the FIXED batch-trained word table must produce
  * exactly the per-doc receipts the batch path produces — encoding is
  * stateless given the table. Also pins the OOV contract (unseen /
  * out-of-gate words counted, skipped in the id stream) on new data
  * the trainers never saw. */
class StreamingEncodeSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("per-micro-batch encodings equal the batch receipts") {
    val wordTable = TextQueries.encodeWordTable(spark, sf).localCheckpoint()
    val chosen = graft.SparkEntry.queries("tok_gate")(spark, sf)
      .select("chosen").head().getString(0)

    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[EncDocRow]
      .collect().toSeq.sortBy(_.doc_id)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EncDocRow]
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q = foreachBatchOf(input.toDF(),
        Files.createTempDirectory("enc-ckpt").toString)(
        TextQueries.encodeReceipts(_, wordTable, chosen)) { out =>
      collected.synchronized { collected ++= out.collect() }
    }
    try {
      val thirds = docs.grouped((docs.length + 2) / 3).toSeq
      thirds.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def key(r: Row) = (r.getLong(r.fieldIndex("doc_id")),
      r.getLong(r.fieldIndex("n_words")), r.getLong(r.fieldIndex("n_oov")),
      r.getLong(r.fieldIndex("n_pieces")), r.getString(r.fieldIndex("id_seq")))
    val streamed = collected.map(key).toSet
    val batch = TextQueries
      .encodeDocs(Tables.documents(spark, sf).select($"doc_id", $"text"),
        wordTable)
      .selectExpr("doc_id", "n_words", "n_oov",
        s"CASE WHEN '$chosen' = 'bpe' THEN bpe_np ELSE uni_np END AS n_pieces",
        s"CASE WHEN '$chosen' = 'bpe' THEN bpe_seq ELSE uni_seq END AS id_seq")
      .collect().map(key).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // exactly once per doc across batches
    assert(collected.size == collected.map(key).distinct.size)
    graft.SharedStages.clear()
  }

  test("OOV contract on unseen data: counted, skipped in the id stream") {
    val wordTable = TextQueries.encodeWordTable(spark, sf).localCheckpoint()
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EncDocRow]
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q = foreachBatchOf(input.toDF(),
        Files.createTempDirectory("enc-oov-ckpt").toString)(
        TextQueries.encodeReceipts(_, wordTable, "bpe")) { out =>
      collected.synchronized { collected ++= out.collect() }
    }
    // "züp-9!" fails the alphabet gate; the 20-char word fails the
    // length gap; both must be OOV regardless of corpus content
    try {
      input.addData(EncDocRow(900001L, "züp-9! aaaaaaaaaaaaaaaaaaaa"))
      q.processAllAvailable()
    } finally q.stop()
    val r = collected.find(_.getLong(0) == 900001L).get
    assert(r.getLong(r.fieldIndex("n_words")) === 2L)
    assert(r.getLong(r.fieldIndex("n_oov")) === 2L)
    assert(r.getLong(r.fieldIndex("n_pieces")) === 0L)
    assert(r.getString(r.fieldIndex("id_seq")) === "")
    graft.SharedStages.clear()
  }
}
