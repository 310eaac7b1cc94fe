package graft.embed

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding similarity operators (SURVEY §7.5): brute-force cosine
  * top-k as the baseline, coarse-partition (IVF-style) blocking as the
  * scale path for all-pairs near-dup.
  *
  * Determinism design: float components are quantized once by
  * `floor(x * 2^20)` (exact — scaling by a power of two only shifts the
  * exponent), after which dot products and norms are pure 64-bit integer
  * arithmetic: associative, order-free, and bit-identical in any engine.
  * The final cosine is one double division + sqrt on those integers.
  * Quantization error is ~2^-20 relative — irrelevant for ranking, and
  * it makes ranking itself reproducible (float cosines computed in
  * different orders are not).
  *
  * Scale notes: the quantized vector pass is map-only. [[knn]] broadcasts
  * the (guarded-small) query side and bounds the shuffle with the custom
  * per-key top-k operator's map-side heaps. All-pairs near-dup must never
  * be n²: [[cosinePairsBlocked]] joins only within a coarse-quantizer
  * cell (the `label` column here; a real IVF assignment at 100 TB),
  * which bounds candidates per cell.
  */
object Similarity {
  val Scale = 1048576L // 2^20

  /** The probe query set of every ANN query and of the exact side its
    * recall is read against: the first `ProbeQueries` vectors by id.
    * [[isProbe]] is its Spark predicate over a `vec_id` column and
    * [[duckdbIsProbe]] its DuckDB one over the named id column. */
  val ProbeQueries = 10
  val isProbe: org.apache.spark.sql.Column = col("vec_id") < ProbeQueries
  def duckdbIsProbe(vecId: String): String = s"$vecId < $ProbeQueries"

  /** (id, embedding: array<float>) → (id, q: array<bigint>, nq: bigint).
    * Both steps are native codegen expressions: the quantization is
    * [[graft.functions.IntQuantize]] (bit-identical to the
    * `transform(... floor ...)` HOF it replaces — same widen, multiply,
    * floor, truncate — but a generated primitive loop instead of
    * interpreted per-element lambdas) and the norm is the
    * [[graft.functions.IntDot]] self-dot. */
  def quantized(embeds: DataFrame, idCol: String, embCol: String): DataFrame =
    graft.Tables.parallelize(embeds)
      .withColumn("q", expr(
        s"int_quantize($embCol, CAST($Scale AS BIGINT))"))
      .withColumn("nq", expr("int_dot(q, q)"))

  /** Integer dot product of two quantized arrays — native codegen
    * expression ([[graft.functions.IntDot]], registered as SQL
    * `int_dot` by `GraftExtensions`). */
  def dotQ(a: String, b: String) = expr(s"int_dot($a, $b)")

  /** Cosine from integer dot + norms: one deterministic double division. */
  def cosine(dot: org.apache.spark.sql.Column,
             na: org.apache.spark.sql.Column,
             nb: org.apache.spark.sql.Column) =
    dot.cast("double") / sqrt(na.cast("double") * nb.cast("double"))

  /** Brute-force cosine top-k neighbors for each query vector.
    * `queries`/`candidates` both (idCol, embCol); excludes self-pairs.
    *
    * Scale shape: the compare cost |Q|·|C| is inherent to exact brute
    * force, so the plan keeps everything else linear in |C| —
    * 1. the query side is BROADCAST (guarded by `maxQueries`): the
    *    candidate side streams map-only, never shuffled or materialized;
    * 2. per-query top-k runs through [[graft.plans.TopK.perKey]], whose
    *    physical operator keeps bounded k-heaps per partition (map-side
    *    partial) so the single exchange ships ≤ partitions·|Q|·k scored
    *    rows — not |Q|·|C| — and never sort-spills;
    * 3. ranks are assigned by a window over the surviving |Q|·k rows,
    *    reusing the top-k exchange's partitioning (no extra shuffle).
    * For large |Q| use [[RpLsh.annPairs]] (bucketed ANN) instead —
    * exceeding the guard throws rather than silently planning a
    * cluster-killing join. */
  def knn(queries: DataFrame, candidates: DataFrame, idCol: String,
          embCol: String, k: Int, maxQueries: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nQueries = queries.limit(maxQueries + 1).count()
    require(nQueries <= maxQueries,
      s"Similarity.knn broadcasts the query side; got > $maxQueries query " +
        "vectors. Raise maxQueries only if they fit in executor memory, " +
        "or use RpLsh.annPairs (bucketed ANN) as the scale path.")
    val q = quantized(queries, idCol, embCol)
      .select(col(idCol).as("query_id"), col("q").as("qa"), col("nq").as("na"))
    val c = quantized(candidates, idCol, embCol)
      .select(col(idCol).as("neighbor_id"), col("q").as("qb"), col("nq").as("nb"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dotQ("qa", "qb"))
      .withColumn("cos", cosine(col("dot"), col("na"), col("nb")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    val top = cosTopK(scored, Seq("query_id"), k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    top.withColumn("rk", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rk").cast("long").as("rk"))
  }

  /** Top-`k` rows per `keys` by (cos DESC, neighbor_id) — the one exact
    * ranking every k-NN, IVF and PQ search ends in — through the custom
    * per-key top-k operator ([[graft.plans.TopK.perKey]]). */
  def cosTopK(scored: DataFrame, keys: Seq[String], k: Int): DataFrame =
    graft.plans.TopK.perKey(scored, keys,
      Seq(("cos", false), ("neighbor_id", true)), k)

  /** All-pairs cosine ≥ threshold within a coarse-partition cell
    * (IVF-style blocking): candidates ∝ Σ cell², never n². */
  def cosinePairsBlocked(embeds: DataFrame, idCol: String, embCol: String,
                         cellCol: String, threshold: Double): DataFrame = {
    val qd = quantized(embeds, idCol, embCol)
    val a = qd.select(col(cellCol).as("cell"), col(idCol).as("a_id"),
      col("q").as("qa"), col("nq").as("na"))
    val b = qd.select(col(cellCol).as("cell"), col(idCol).as("b_id"),
      col("q").as("qb"), col("nq").as("nb"))
    a.join(b, "cell")
      .filter(col("a_id") < col("b_id"))
      .withColumn("dot", dotQ("qa", "qb"))
      .withColumn("cos", cosine(col("dot"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("cell"), col("a_id"), col("b_id"), col("cos"))
  }

  // ------------------------------------------------------------ oracle

  /** DuckDB CTE: `qv(vec_id, label, q, nq)` mirroring [[quantized]]. */
  val duckdbQuantizedCte: String =
    s"""qv AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * CAST($Scale AS DOUBLE)) AS BIGINT)) AS q,
       |    CAST(list_sum(list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * CAST($Scale AS DOUBLE)) AS BIGINT)
       |         * CAST(floor(CAST(x AS DOUBLE) * CAST($Scale AS DOUBLE)) AS BIGINT)))
       |      AS BIGINT) AS nq
       |  FROM embeddings)""".stripMargin

  /** DuckDB mirror of the exact top-`k` of the probe queries
    * ([[isProbe]]; [[knn]] as `EmbedQueries.buildKnnExact` calls it),
    * over `qv`: `ex_pairs(query_id, neighbor_id, cos)` and
    * `ex(query_id, neighbor_id, cos, rk)`, ranked by (cos DESC,
    * neighbor_id). */
  def duckdbExactTopKCte(k: Int): String =
    s"""ex_pairs AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(${duckdbDot("a.q", "b.q")} AS DOUBLE)
       |      / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) AS cos
       |  FROM qv a JOIN qv b ON ${duckdbIsProbe("a.vec_id")} AND a.vec_id <> b.vec_id),
       |ex AS (
       |${duckdbCosTopK("ex_pairs", "query_id", k)})""".stripMargin

  /** DuckDB mirror of [[cosTopK]] over the CTE named `src`: its rows
    * with their rank `rk` within `keys` (a SQL column list), rk ≤ `k`. */
  def duckdbCosTopK(src: String, keys: String, k: Int): String =
    s"""SELECT * FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY $keys
       |    ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM $src)
       |WHERE rk <= $k""".stripMargin

  /** DuckDB integer dot product of two quantized list columns. */
  def duckdbDot(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])) AS BIGINT)"
}
