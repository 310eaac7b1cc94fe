package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkTestBase, Tables}
import graft.queries.TextQueries
import graft.text.UnigramTrain

case class PplDocRow(doc_id: Long, source: String, lang: String, text: String)

/** Streaming LM scoring ≡ batch: a document stream split across
  * micro-batches, scored per batch against the FIXED reference bigram
  * LM, must produce exactly the per-doc rows the one-shot batch stage
  * produces — scoring is stateless given the model, and this spec pins
  * that no streaming-side state creeps in, plus the two new-data
  * contracts (unseen bigrams score at the smoothing floor; a language
  * the LM does not cover is excluded, not invented). */
class StreamingPplSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("per-micro-batch scores against a fixed LM equal one-shot batch scores") {
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"lang", $"text")
      .as[PplDocRow].collect().toSeq.sortBy(_.doc_id)
    // the model is built once, batch-side, and shared by both paths
    val occ = TextQueries.bigramCountsOf(docs.toDF()).localCheckpoint()
    val (refBi, refUni, vsz) = TextQueries.lmModelOf(occ)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PplDocRow]
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q = foreachBatchOf(input.toDF(),
        Files.createTempDirectory("ppl-ckpt").toString)(
        TextQueries.lmDocScores(_, refBi, refUni, vsz)) { scored =>
      collected.synchronized { collected ++= scored.collect() }
    }
    try {
      val thirds = docs.grouped((docs.length + 2) / 3).toSeq
      thirds.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def key(r: Row) = (r.getLong(r.fieldIndex("doc_id")),
      r.getString(r.fieldIndex("lang")),
      r.getLong(r.fieldIndex("n_bigrams")),
      r.getLong(r.fieldIndex("h_q8")),
      r.getDouble(r.fieldIndex("mean_bits")))
    val streamed = collected.map(key).toSet
    // the registered query's stage builds the SAME LM (full-corpus ref
    // slice) and scores the same docs; drop its batch-only tercile
    val batch = graft.SparkEntry.queries("lm_ppl")(spark, sf)
      .drop("bucket").collect().map(key).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // every scored doc appears exactly once across batches
    assert(collected.size == collected.map(key).distinct.size)
  }

  test("file-source restart: offsets resume, every doc scored exactly once") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("lang", StringType), StructField("text", StringType)))
    val root = Files.createTempDirectory("ppl-restart")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val ckpt = root.resolve("ckpt").toString

    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"lang", $"text")
      .as[PplDocRow].collect().toSeq.sortBy(_.doc_id)
    val occ = TextQueries.bigramCountsOf(docs.toDF()).localCheckpoint()
    val (refBi, refUni, vsz) = TextQueries.lmModelOf(occ)

    def writeBatch(name: String, rows: Seq[PplDocRow]): Unit = {
      val lines = rows.map { r =>
        s"""{"doc_id":${r.doc_id},"source":"${r.source}","lang":"${r.lang}","text":"${r.text}"}"""
      }
      Files.write(srcDir.resolve(name), lines.mkString("\n").getBytes)
    }
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row]
    def runOnce(): Unit = {
      val q = foreachBatchOf(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").json(srcDir.toString), ckpt)(
          TextQueries.lmDocScores(_, refBi, refUni, vsz)) { scored =>
        collected.synchronized { collected ++= scored.collect() }
      }
      try q.processAllAvailable() finally q.stop()
    }
    val (h1, h2) = docs.splitAt(docs.length / 2)
    writeBatch("a.json", h1)
    runOnce()
    // restart: fresh query object, same checkpoint — the first file's
    // committed offsets must NOT be rescored
    writeBatch("b.json", h2)
    runOnce()

    def key(r: Row) = (r.getLong(r.fieldIndex("doc_id")),
      r.getLong(r.fieldIndex("n_bigrams")), r.getLong(r.fieldIndex("h_q8")))
    assert(collected.size == collected.map(key).distinct.size,
      "a doc was rescored across the restart")
    val batch = graft.SparkEntry.queries("lm_ppl")(spark, sf)
      .drop("bucket").collect().map(key).toSet
    assert(collected.map(key).toSet == batch,
      "restart lost or invented docs vs the batch report")
  }

  test("scoring against the incrementally-maintained store equals the batch LM") {
    import org.apache.spark.sql.functions.{col, countDistinct, sum}
    // the lm_incr maintenance path: bootstrap the count store from even
    // ref doc_ids, additively merge the odd batch — counts are additive,
    // so the merged store must equal the from-scratch LM and a stream
    // scored against it must reproduce the batch lm_ppl rows exactly
    val (merged, _) = TextQueries.lmIncrStore(spark, sf)
    val refBi = merged
    val refUni = merged.groupBy(col("lang"), col("w1"))
      .agg(sum(col("c12")).as("c1"))
    val vsz = merged.groupBy(col("lang"))
      .agg((countDistinct(col("w2")) + 1).as("v"))

    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"lang", $"text")
      .as[PplDocRow].collect().toSeq.sortBy(_.doc_id)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PplDocRow]
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q = foreachBatchOf(input.toDF(),
        Files.createTempDirectory("ppl-incr-ckpt").toString)(
        TextQueries.lmDocScores(_, refBi, refUni, vsz)) { scored =>
      collected.synchronized { collected ++= scored.collect() }
    }
    try {
      val halves = docs.grouped((docs.length + 1) / 2).toSeq
      halves.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def key(r: Row) = (r.getLong(r.fieldIndex("doc_id")),
      r.getString(r.fieldIndex("lang")),
      r.getLong(r.fieldIndex("n_bigrams")),
      r.getLong(r.fieldIndex("h_q8")))
    val batch = graft.SparkEntry.queries("lm_ppl")(spark, sf)
      .drop("bucket").collect().map(key).toSet
    assert(collected.nonEmpty)
    assert(collected.map(key).toSet == batch,
      "stream scored against the merged store diverged from the batch LM")
  }

  test("startMink: per-micro-batch Min-K% scores equal the batch report") {
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"lang", $"text")
      .as[PplDocRow].collect().toSeq.sortBy(_.doc_id)
    val occ = TextQueries.bigramCountsOf(docs.toDF()).localCheckpoint()
    val (refBi, refUni, vsz) = TextQueries.lmModelOf(occ)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PplDocRow]
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row]
    // the Min-K% form: per micro-batch, each doc's top-20%
    // least-likely-occurrence mean against the same fixed LM
    val q = foreachBatchOf(input.toDF(),
        Files.createTempDirectory("mink-ckpt").toString) { batch =>
      TextQueries.minkOf(TextQueries.lmScoreBits(
        TextQueries.bigramCountsOf(batch), refBi, refUni, vsz))
    } { scored =>
      collected.synchronized { collected ++= scored.collect() }
    }
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    def key(r: Row) = (r.getLong(r.fieldIndex("doc_id")),
      r.getLong(r.fieldIndex("n_bigrams")),
      r.getLong(r.fieldIndex("k_occ")),
      r.getLong(r.fieldIndex("h_topk_q8")))
    val streamed = collected.map(key).toSet
    val batch = graft.SparkEntry.queries("mink_prob")(spark, sf)
      .collect().map(key).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("unseen bigrams hit the smoothing floor; an uncovered language is excluded") {
    // LM trained on ONE reference doc: lang en, "a b a b"
    //   refBi (en): (a,b)→2, (b,a)→1; refUni: a→2, b→1; V = |{a,b}|+1 = 3
    val ref = Seq(PplDocRow(1L, "src0", "en", "a b a b")).toDF()
    val (refBi, refUni, vsz) =
      TextQueries.lmModelOf(TextQueries.bigramCountsOf(ref))
    // a wholly novel en bigram scores at the add-one floor
    //   num = 0+1, den = 0+V → bits = ilog2q8(3) − ilog2q8(1)
    // a doc in a language the LM never saw is excluded entirely
    val batch = Seq(
      PplDocRow(10L, "srcX", "en", "novel words"),
      PplDocRow(11L, "srcX", "zz", "p q")).toDF()
    val rows = TextQueries.lmDocScores(batch, refBi, refUni, vsz)
      .select($"doc_id", $"n_bigrams", $"h_q8").as[(Long, Long, Long)]
      .collect()
    assert(rows.map(_._1).toSet == Set(10L), s"got ${rows.toSeq}")
    val Array((_, n, h)) = rows
    assert(n == 1L)
    assert(h == UnigramTrain.ilog2q8(3L) - UnigramTrain.ilog2q8(1L))
  }
}
