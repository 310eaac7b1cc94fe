package graft.embed

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lloyd-TRAINED IVF coarse codebook — the round-9 closure of "KMeans
  * exists but isn't wired in": `ivf_assign` / `ivf_search` /
  * `ann_recall` / `ann_frontier` now assign against centroids trained
  * by a fixed number of exact-integer Lloyd iterations
  * ([[KMeans.assign]] squared-L2 + [[KMeans.update]] integer-floor
  * means) instead of raw seed vectors, so the cells reflect the data
  * distribution rather than whichever ids sort lowest.
  *
  * Determinism is the whole design: every iteration is exact 64-bit
  * integer arithmetic (assignment ties to the lowest cid, means via
  * truncating division back into the quantized domain), so a FIXED
  * iteration count yields bit-identical centroids in any engine — and
  * the DuckDB oracle replays the training as an UNROLLED CTE chain
  * ([[duckdbSeedsCte]]), one assignment+update pair per iteration,
  * ending in a `seeds(seed_id, sq, snq)` CTE that drops into the
  * existing search SQL unchanged. The only cross-engine subtlety is
  * division of negative sums: Spark's `DIV` truncates toward zero
  * while DuckDB's `//` floors, so the mirror spells out the sign case.
  *
  * Scale shape: training cost is iters × (one broadcast-assign pass +
  * one (cell, dim) aggregation with map-side partials + a k×dim-row
  * collect) — the canonical distributed k-means loop; at 100 TB the
  * loop runs on a sample and the codebook is a published table. The
  * trained codebook is memoized per (session, dir) in
  * [[graft.SharedStages.ivfCentroids]].
  */
object IvfTrain {
  val K = 8
  val Iters = 3
  val Dims = 64

  /** Train `iters` Lloyd rounds from the k lowest-id vectors and return
    * the codebook as (seed_id, sq, snq) — the exact column contract of
    * the raw-seed table it replaces. `qd`: (vec_id, q, nq). */
  def trainedCentroids(qd: DataFrame, k: Int = K, iters: Int = Iters): DataFrame = {
    val q = qd.persist()
    var cents = q.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("nq").as("cnq"))
    (1 to iters).foreach { _ =>
      cents = KMeans.update(KMeans.assign(q, cents))
    }
    q.unpersist()
    cents.select(col("cid").as("seed_id"), col("cq").as("sq"),
      col("cnq").as("snq"))
  }

  /** The DuckDB mirror of [[trainedCentroids]]: an unrolled CTE chain
    * (tc0 → ta1/td1/tc1 → … → tc`iters`) over the shared `qv` CTE,
    * ending in `seeds(seed_id, sq, snq)` — callers splice it where the
    * raw `seeds AS (… LIMIT k)` CTE used to sit. */
  def duckdbSeedsCte(k: Int = K, iters: Int = Iters): String = {
    val init =
      s"""tc0 AS (
         |  SELECT vec_id AS cid, q AS cq, nq AS cnq FROM qv
         |  ORDER BY vec_id LIMIT $k)""".stripMargin
    val rounds = (1 to iters).map { i =>
      val prev = s"tc${i - 1}"
      s"""ta$i AS (
         |  SELECT vec_id, q, cid FROM (
         |    SELECT v.vec_id, v.q, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY v.nq + c.cnq - 2 * ${Similarity.duckdbDot("v.q", "c.cq")},
         |          c.cid) AS rn
         |    FROM qv v CROSS JOIN $prev c) WHERE rn = 1),
         |td$i AS (
         |  -- Spark DIV truncates toward zero; DuckDB // floors — spell
         |  -- out the sign so negative dimension sums divide identically
         |  SELECT cid, dim,
         |    CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS c
         |  FROM (
         |    SELECT a.cid, CAST(t.i - 1 AS BIGINT) AS dim,
         |      CAST(SUM(a.q[CAST(t.i AS INT)]) AS BIGINT) AS s,
         |      COUNT(*) AS n
         |    FROM ta$i a, range(1, ${Dims + 1}) t(i)
         |    GROUP BY 1, 2)),
         |tc$i AS (
         |  SELECT cid, cq,
         |    CAST(list_sum(list_transform(range(1, ${Dims + 1}),
         |      i -> cq[CAST(i AS INT)] * cq[CAST(i AS INT)])) AS BIGINT) AS cnq
         |  FROM (SELECT cid, list(c ORDER BY dim) AS cq
         |        FROM td$i GROUP BY cid))""".stripMargin
    }
    (init +: rounds).mkString(",\n") +
      s""",
         |seeds AS (
         |  SELECT cid AS seed_id, cq AS sq, cnq AS snq FROM tc$iters)""".stripMargin
  }

  /** The IVF cell ranking: every row of `qd` (vec_id, q, nq, …) scored
    * against every centroid of `seeds` (seed_id, sq, snq) by quantized
    * cosine, `rn` = 1 the nearest cell (ties to the lowest seed id). The
    * codebook is broadcast (≤ k rows — a bounded nested loop, not an
    * unguarded cross join), so the ranking is map-only over the vectors
    * and the window runs over ≤ k scored rows per vector. The one
    * definition behind ivf_assign, the probed cells of [[probedCandidates]],
    * semdedup_prune's cells and kmeans_step (over its raw seeds). */
  def cellRank(qd: DataFrame, seeds: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("seed_id"))
    qd.crossJoin(broadcast(seeds)) // bounded: ≤ k broadcast codebook rows
      .withColumn("dot", Similarity.dotQ("q", "sq"))
      .withColumn("cos", Similarity.cosine(col("dot"), col("nq"), col("snq")))
      .withColumn("rn", row_number().over(w))
  }

  /** Probed-cell candidates: every probe query
    * ([[Similarity.isProbe]]) against every other vector assigned
    * to one of the query's `nprobe` nearest cells, scored by exact
    * quantized cosine — (rn, query_id, neighbor_id, cos), `rn` the
    * probed cell's rank for the query. The candidate join is keyed by
    * cell, so cost ∝ probed-cell population, never the corpus. Shared
    * by ivf_search, the ann_frontier sweep and ivf_pq_search. */
  def probedCandidates(qd: DataFrame, seeds: DataFrame, nprobe: Int): DataFrame = {
    val assign = cellRank(qd, seeds).filter(col("rn") === 1)
      .select(col("vec_id"), col("seed_id").as("cell"), col("q"), col("nq"))
    val probes = cellRank(qd.filter(Similarity.isProbe), seeds)
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("seed_id").as("cell"),
        col("q").as("qq"), col("nq").as("qnq"), col("rn"))
    probes.join(assign, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("qdot", Similarity.dotQ("qq", "q"))
      .withColumn("cos", Similarity.cosine(col("qdot"), col("qnq"), col("nq")))
      .select(col("rn"), col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos"))
  }

  /** The DuckDB mirror of [[cellRank]] (needs `qv` and
    * [[duckdbSeedsCte]]'s `seeds` in scope): `cellranked(vec_id,
    * seed_id, q, nq, cos, rn)` ranks every cell by cosine to the
    * vector, `rn` = 1 the nearest (ties to the lowest seed id), and
    * `assign(vec_id, cell, q, nq, cos)` keeps that nearest cell. */
  val duckdbAssignCte: String =
    s"""cellranked AS (
       |  SELECT vec_id, seed_id, q, nq, cos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |                       ORDER BY cos DESC, seed_id) AS rn
       |  FROM (
       |    SELECT v.vec_id, s.seed_id, v.q, v.nq,
       |      CAST(${Similarity.duckdbDot("v.q", "s.sq")} AS DOUBLE)
       |        / sqrt(CAST(v.nq AS DOUBLE) * CAST(s.snq AS DOUBLE)) AS cos
       |    FROM qv v CROSS JOIN seeds s)),
       |assign AS (
       |  SELECT vec_id, seed_id AS cell, q, nq, cos
       |  FROM cellranked WHERE rn = 1)""".stripMargin

  /** The DuckDB mirror of [[probedCandidates]] (needs
    * [[duckdbAssignCte]] in scope): `probed(rn, query_id, neighbor_id,
    * cos)`. */
  def duckdbProbedCte(nprobe: Int): String =
    s"""probed AS (
       |  SELECT p.rn, p.vec_id AS query_id, a.vec_id AS neighbor_id,
       |    CAST(${Similarity.duckdbDot("p.q", "a.q")} AS DOUBLE)
       |      / sqrt(CAST(p.nq AS DOUBLE) * CAST(a.nq AS DOUBLE)) AS cos
       |  FROM cellranked p JOIN assign a ON p.seed_id = a.cell
       |  WHERE ${Similarity.duckdbIsProbe("p.vec_id")} AND p.rn <= $nprobe AND p.vec_id <> a.vec_id)""".stripMargin
}
