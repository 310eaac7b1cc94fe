package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase
import graft.embed.Similarity
import graft.queries.EmbedQueries

/** Streaming Gram maintenance: the running (i, j, g) state after each
  * micro-batch must be BIT-equal to the batch gram_matrix over the
  * rows seen so far, and the eigen step on the streamed state must
  * equal the batch component — the incremental-PCA contract. */
class StreamingGramSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // the gram_matrix kernel over the quantized components, batch and
  // streamed alike
  private def gram(vecs: org.apache.spark.sql.DataFrame) =
    EmbedQueries.gram(Similarity.quantized(vecs, "vec_id", "embedding"))

  private def batchGram(upTo: Long): Map[(Int, Int), Long] =
    gram(graft.Tables.embeddings(spark, sf).filter($"vec_id" < upTo))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("streamed gram equals the batch gram after every micro-batch; eigen step agrees") {
    val rows = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val cuts = Seq(rows.size / 3, 2 * rows.size / 3, rows.size)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val sink = s"gram_sink_${System.nanoTime()}"
    val q = gram(input.toDF()
        .toDF("vec_id", "embedding"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(sink)
      .start()
    try {
      var prev = 0
      cuts.foreach { cut =>
        input.addData(rows.slice(prev, cut): _*)
        q.processAllAvailable()
        prev = cut
        val streamed = spark.table(sink)
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
        val want = batchGram(rows(cut - 1)._1 + 1)
        assert(streamed == want, s"gram diverged at cut $cut")
      }
      // the incremental-PCA read: eigen step on the streamed state is
      // the batch component, exactly (integer arithmetic end to end)
      val streamedSeq = spark.table(sink)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
      val live = graft.embed.PcaPower.power(streamedSeq)
      val batch = graft.embed.PcaPower.power(
        batchGram(Long.MaxValue).toSeq.map { case ((i, j), g) => (i, j, g) })
      assert(live.v.sameElements(batch.v))
      assert(live.rayNumHi == batch.rayNumHi && live.rayDen == batch.rayDen)
    } finally q.stop()
  }
}
