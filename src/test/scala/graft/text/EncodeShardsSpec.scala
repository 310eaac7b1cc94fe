package graft.text

import graft.SparkTestBase

/** encode_shards: tokenizer materialization receipt. The oracle gate
  * hash-checks ids end to end; this spec pins the report's internal
  * accounting — every document lands in exactly one shard, word counts
  * conserve across shards, OOV ≤ words, and the gate column is the same
  * single choice tok_gate reports (the encode path must not re-decide). */
class EncodeShardsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("shard accounting conserves docs and words; gate matches tok_gate") {
    val out = graft.SparkEntry.queries("encode_shards")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 16)
    // one gate choice across all shards, equal to tok_gate's verdict
    val chosen = out.map(_.getAs[String]("chosen")).distinct
    assert(chosen.length === 1)
    val gate = graft.SparkEntry.queries("tok_gate")(spark, sf)
      .select("chosen").head().getString(0)
    assert(chosen.head === gate)
    // totals: every tokenized doc in exactly one shard; OOV bounded by
    // words; pieces only from encodable (non-OOV) words, so a fully-OOV
    // corpus would report 0 pieces — here pieces must be positive
    val nDocs = out.map(_.getAs[Long]("n_docs")).sum
    val nWords = out.map(_.getAs[Long]("n_words")).sum
    val nOov = out.map(_.getAs[Long]("n_oov")).sum
    val nPieces = out.map(_.getAs[Long]("n_pieces")).sum
    import org.apache.spark.sql.functions._
    val tokenized = graft.Tables.documents(spark, sf)
      .select(graft.text.TextFunctions.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .agg(count(lit(1)).as("n"), sum(size(col("t"))).as("w"))
      .head()
    assert(nDocs === tokenized.getLong(0))
    assert(nWords === tokenized.getLong(1))
    assert(nOov <= nWords)
    // a piece-encoded word yields ≥ 1 piece, so pieces ≥ encodable words
    assert(nPieces >= nWords - nOov)
    assert(nPieces > 0L)
    graft.SharedStages.clear()
  }
}
