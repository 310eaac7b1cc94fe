package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bench-data scale-up: derive an sf-N× surrogate from an existing SF
  * directory by unioning N key-shifted copies of every fact table
  * (dimensions `region`/`nation` stay single — they are fixed-size in
  * TPC-H scaling too).
  *
  * The driver's generator stops at sf0.1; this surrogate exists so the
  * "would it survive 10×" plan arguments can be MEASURED
  * (BENCH_NOTES.md). Copy construction keeps per-copy structure
  * identical while making copies disjoint where duplication would
  * change the workload's complexity class:
  *
  *  - every key column shifts by copy · 10⁷ (foreign keys shift
  *    together, so join fan-outs are preserved exactly),
  *  - `documents.text` gets a per-copy token suffix (`…zq<k>`): gram
  *    sets of different copies are DISJOINT, so the dedup/LSH family
  *    sees 10× distinct content — replicating verbatim would instead
  *    turn every document into a 10-way duplicate clique and blow the
  *    candidate-pair stage into a different (and unrealistic) problem,
  *  - `embeddings.embedding` rotates by copy positions — norms and
  *    within-copy geometry preserved, cross-copy vectors distinct,
  *  - `events` keeps its time range (10× event density per window —
  *    the direction real traffic growth takes).
  *
  * Timestamps ride through unchanged; `events.ts` stays the raw
  * nanos-long column ([[graft.Tables.events]] converts either form).
  */
object ScaleUp {

  private val Off = 10000000L

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorStr) = args
    val factor = factorStr.toInt
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    def copies(t: String)(tf: (DataFrame, Int) => DataFrame): Unit = {
      val base = graft.Tables.load(spark, src, t)
      write((0 until factor).map(k => tf(base, k)).reduce(_ unionByName _), t)
    }
    def shift(df: DataFrame, k: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Off)))

    Seq("region", "nation").foreach { t =>
      write(graft.Tables.load(spark, src, t), t)
    }
    copies("customer")(shift(_, _, "c_custkey"))
    copies("supplier")(shift(_, _, "s_suppkey"))
    copies("part")(shift(_, _, "p_partkey"))
    copies("orders")(shift(_, _, "o_orderkey", "o_custkey"))
    copies("lineitem")(shift(_, _, "l_orderkey", "l_partkey", "l_suppkey"))
    copies("events")(shift(_, _, "event_id", "user_id"))
    copies("documents") { (df, k) =>
      val shifted = shift(df, k, "doc_id")
      if (k == 0) shifted
      else shifted
        .withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1zq" + k))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    // Per-copy isometry: rotate by k mod d positions, negating the whole
    // vector once the rotations wrap (copies d..2d−1). Any fixed
    // rotation/sign matrix preserves norms and within-copy pairwise dot
    // products, so each copy keeps the original geometry while cross-copy
    // vectors stay distinct for factor < 2d. The round-13 form rotated by
    // k unguarded — slice() threw on negative lengths for k ≥ d (= 64),
    // which silently killed the embeddings write at factor 100.
    val dim = graft.Tables.load(spark, src, "embeddings")
      .selectExpr("size(embedding)").head().getInt(0)
    require(factor < 2 * dim,
      s"embedding isometries exhausted: factor $factor needs < ${2 * dim}")
    copies("embeddings") { (df, k) =>
      val shifted = shift(df, k, "vec_id")
      val r = k % dim
      val neg = if (k / dim >= 1) "-1" else "1"
      if (k == 0) shifted
      else shifted.withColumn("embedding",
        expr(s"transform(concat(slice(embedding, ${r + 1}, size(embedding) - $r), " +
          s"slice(embedding, 1, $r)), x -> x * CAST($neg AS FLOAT))"))
    }
    spark.stop()
  }
}
