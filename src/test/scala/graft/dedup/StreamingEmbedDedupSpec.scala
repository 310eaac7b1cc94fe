package graft.dedup

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase
import graft.dedup.StreamingEmbedDedup.{EmbedPair, VecEvent}
import graft.embed.{RpLsh, Similarity}

/** Streaming embedding near-dup: quantization and bucket routing are
  * bit-identical to the batch RP-LSH pipeline, and the streamed pair
  * set equals the batch annPairs verdict on the same vectors. */
class StreamingEmbedDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val Threshold = 0.35

  /** Real corpus vectors: the first 120 of sf0.001's embeddings. */
  private lazy val vecs: Seq[(Long, Seq[Float])] =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .orderBy(col("vec_id")).limit(120)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq

  private def drive(batches: Seq[Seq[VecEvent]],
                    horizonSec: Long): Seq[EmbedPair] = {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    val sink = s"sembed_sink_${System.nanoTime()}"
    try {
      val input = MemoryStream[VecEvent]
      val q = StreamingEmbedDedup.nearPairs(input.toDS(), Threshold, horizonSec)
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation",
          Files.createTempDirectory("sembed-ckpt").toString)
        .format("memory").queryName(sink)
        .start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(sink).as[EmbedPair].collect().toSeq
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None    => spark.conf.unset(ProviderKey)
      }
      try spark.catalog.dropTempView(sink) catch { case _: Throwable => () }
    }
  }

  test("per-row quantization and buckets match the batch RP-LSH pass") {
    val df = vecs.toDF("vec_id", "embedding")
    val batchQ = Similarity.quantized(df, "vec_id", "embedding")
      .select(col("vec_id"), col("q"), col("nq"))
      .as[(Long, Seq[Long], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val v = StreamingEmbedDedup.StateLayoutVersion
    val batchBk = RpLsh.buckets(df, "vec_id", "embedding")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => s"v$v|${r._2}:${r._3}").toSet).toMap
    vecs.foreach { case (id, emb) =>
      val (q, nq) = StreamingEmbedDedup.quantize(emb)
      assert((q.toSeq, nq) == batchQ(id), s"quantization mismatch vec $id")
      assert(StreamingEmbedDedup.bucketKeys(q).toSet == batchBk(id),
        s"bucket mismatch vec $id")
    }
  }

  test("golden bucket keys pin the state layout version") {
    // A fixed synthetic vector hashed through the CURRENT layout
    // (MaxBits plane grid, v2 key shape). If plane indexing, the
    // quantization, or the key format ever changes without bumping
    // StateLayoutVersion, these literals fail the build — the loud
    // failure that replaces a silent bucket mismatch against persisted
    // pre-change state (ADVICE r13).
    assert(StreamingEmbedDedup.StateLayoutVersion == 2)
    val emb = (0 until RpLsh.Dim).map(i => ((i % 7) - 3) / 10.0f)
    val (q, _) = StreamingEmbedDedup.quantize(emb)
    val keys = StreamingEmbedDedup.bucketKeys(q)
    assert(keys.size == RpLsh.NumTables)
    assert(keys.forall(_.startsWith("v2|")), keys.mkString(","))
    // the literal buckets of this vector under layout v2
    assert(keys == Seq("v2|0:155", "v2|1:129", "v2|2:48", "v2|3:186"),
      s"layout drift — bump StateLayoutVersion; got $keys")
  }

  test("width seam: streaming matches batch buckets iff widths agree") {
    // Above the first widthFor seam (n > 1024) the batch pipeline hashes
    // at widthFor(n) while the streaming default stays at min width —
    // bucket sets DIVERGE there by design; sizing the stream with
    // expectedCorpusSize restores bit-identical routing (ADVICE r13).
    val n = 1500L
    val (tables, bits) = RpLsh.widthFor(n)
    assert((tables, bits) != (RpLsh.NumTables, RpLsh.BitsPerTable),
      "1500 vectors should sit above the min-width seam")
    val emb = (0 until RpLsh.Dim).map(i => ((i * 13 % 11) - 5) / 8.0f)
    val (q, _) = StreamingEmbedDedup.quantize(emb)
    val minKeys = StreamingEmbedDedup.bucketKeys(q)
    val sized = StreamingEmbedDedup.bucketKeys(q, tables, bits)
    assert(sized.size == tables)
    // sized keys reproduce the batch (t, bucket) assignment at this n
    val batch = RpLsh.buckets(
        Seq((1L, emb)).toDF("vec_id", "embedding")
          .crossJoin(spark.range(n).toDF("pad")) // width is n-derived
          .withColumn("vec_id", col("pad"))
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding")
      .filter(col("vec_id") === 0L)
      .as[(Long, Int, Long)].collect()
      .map(r => s"v${StreamingEmbedDedup.StateLayoutVersion}|${r._2}:${r._3}")
      .toSet
    assert(sized.toSet == batch, s"sized $sized != batch $batch")
    assert(minKeys.toSet != batch,
      "min-width keys unexpectedly equal the sized batch keys")
  }

  test("streaming == batch: same verified pairs and cosines across batches") {
    val events = vecs.zipWithIndex.map { case ((id, emb), i) =>
      VecEvent(id, emb, new Timestamp((1000L + i) * 1000L))
    }
    val got = drive(events.grouped(40).toSeq, 600) // three micro-batches
      .map(p => (p.a_id, p.b_id, p.cos)).toSet
    val want = RpLsh.annPairs(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", Threshold)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, s"streaming $got != batch $want")
    assert(want.nonEmpty, "corpus slice produced no verified pairs — widen it")
  }

  test("state purges: a near-dup vector past the horizon is not paired") {
    val (id, emb) = vecs.head
    val filler = vecs.last._2
    def at(v: Long, e: Seq[Float], sec: Long) =
      VecEvent(v, e, new Timestamp(sec * 1000L))
    // the copy (cos 1.0, same buckets) within the horizon pairs
    val near = drive(Seq(Seq(at(id, emb, 1000)), Seq(at(9001L, emb, 1050))), 100)
    assert(near.map(p => (p.a_id, p.b_id)) == Seq((id, 9001L)), s"$near")
    // the filler advances the watermark to 5000 - 100 = 4900 > 1000 + 100,
    // so the stored vector is purged before its copy arrives: by the
    // timer in the no-data batch that follows the filler's
    val far = Seq(
      Seq(at(id, emb, 1000)),
      Seq(at(9002L, filler, 5000)),
      Seq(at(9001L, emb, 5001)))
    val byTimer = drive(far, 100)
    // with no-data batches off no timer fires before the copy's batch,
    // whose rows are handled first: only the inline purge drops it
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, "false")
    val inline = try drive(far, 100) finally spark.conf.unset(noData)
    Seq(byTimer, inline).foreach { got =>
      assert(!got.exists(p => (p.a_id, p.b_id) == (id, 9001L)),
        s"pair across a purged horizon: $got")
    }
  }
}
