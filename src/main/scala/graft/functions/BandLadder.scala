package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared Hamming-band width ladder (the RpLsh.widthFor discipline
  * for banded Hamming-≤3 blocking, used by mm_phash_pairs and
  * simhash_pairs and their `*_width` oracle gates).
  *
  * With [[Bands]] = 4 disjoint bands over a 64-bit fingerprint,
  * random-collision candidate mass is 4·C(n,2)/2^16 — quadratic in the
  * corpus. The ladder keeps the mass ≤ 4n by construction: at
  * n = 2^17 exactly, 4·(n²/2)/2^16 = 4n, so [[Tier16MaxN]] is the
  * largest corpus the 16-bit tier serves at linear cost; past it a
  * 128-bit fingerprint's 32-bit bands hold the same bound to n = 2^33.
  * Pigeonhole blocking for Hamming ≤ [[HammingMax]] is
  * width-independent (4 disjoint bands cover ≤3 errors at any width).
  * Both engines derive the choice from the same COUNT(*) by exact
  * integer comparison — the `*_width` gates are the oracle-checked
  * decision rows.
  *
  * Streaming deployments CONFIGURE the width instead (no final n on an
  * unbounded stream — the StreamingEmbedDedup seam); the width is part
  * of any standing band store's layout and must not change across
  * restarts of one deployment.
  *
  * [[bandRows]] and [[pairs]] are the one banding + verify kernel:
  * simhash_pairs, mm_phash_pairs and the two streaming twins
  * (StreamingCuration's SimHash stage, StreamingMediaDedup's phash
  * stage) each supply only their hash step and, when streaming, the
  * standing band store they probe.
  */
object BandLadder {
  val Bands = 4
  val HammingMax = Bands - 1
  val Tier16MaxN = 1L << 17

  def bitsFor(n: Long): Int = if (n <= Tier16MaxN) 16 else 32

  /** Appends band index `b` and band value `v` (width `bandBits`) to a
    * table carrying its fingerprint as `lo`/`hi` — a 64-bit hash in
    * `lo` with hi = 0, or a 128-bit hash across both. Band b reads lo
    * while b·w < 64, hi above; map-only, [[Bands]] rows per input row. */
  def bandRows(hashed: DataFrame, bandBits: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    hashed
      .withColumn("b", explode(expr(s"sequence(0, ${Bands - 1})")))
      .withColumn("v",
        when(col("b") * bandBits < 64,
          expr(s"shiftright(lo, CAST(b * $bandBits AS INT)) & ${mask}L"))
        .otherwise(
          expr(s"shiftright(hi, CAST(b * $bandBits - 64 AS INT)) & ${mask}L")))
  }

  /** Distinct (a_id, b_id, hamming) pairs with Hamming ≤ [[HammingMax]]
    * over popcount(lo⊕lo) + popcount(hi⊕hi), between the band rows of
    * `as` and `bs` (each (b, v, `id`, lo, hi)) that collide in a band
    * with a_id < b_id. A self-join passes one table twice; a store
    * probe passes the standing store as `as`. The join is keyed on
    * (b, v); the popcount verify runs BEFORE distinct, so the
    * distinct's exchange carries only true near-dup pairs, not every
    * band collision. */
  def pairs(as: DataFrame, bs: DataFrame, id: String): DataFrame = {
    val a = as.select(col("b"), col("v"), col(id).as("a_id"),
      col("lo").as("a_lo"), col("hi").as("a_hi"))
    val b = bs.select(col("b"), col("v"), col(id).as("b_id"),
      col("lo").as("b_lo"), col("hi").as("b_hi"))
    a.join(b, Seq("b", "v"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming",
        expr("CAST(bit_count(a_lo ^ b_lo) + bit_count(a_hi ^ b_hi) AS INT)"))
      .filter(col("hamming") <= HammingMax)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .distinct()
  }

  // ------------------------------------------------------------ oracle

  /** DuckDB mirror of [[bitsFor]] over the `documents` view:
    * `nrow(n)` and `params(w)`, the band width chosen by the same exact
    * integer comparison. */
  val duckdbWidthCte: String =
    s"""nrow AS (SELECT COUNT(*) AS n FROM documents),
       |params AS (
       |  SELECT CASE WHEN n <= $Tier16MaxN THEN 16 ELSE 32 END AS w
       |  FROM nrow)""".stripMargin

  /** DuckDB mirror of [[bandRows]] + [[pairs]] as a self-join: the
    * `banded` and `cand` CTEs and the final distinct (a_id, b_id,
    * hamming) select over a fingerprint CTE `ph(doc_id, lo, hi)` and
    * [[duckdbWidthCte]]'s `params(w)`. */
  val duckdbPairsQuery: String =
    s"""banded AS (
       |  SELECT doc_id, lo, hi, CAST(u.b AS INTEGER) AS b,
       |    CASE WHEN u.b * p.w < 64
       |      THEN (lo >> CAST(u.b * p.w AS INTEGER))
       |        & ((CAST(1 AS BIGINT) << p.w) - 1)
       |      ELSE (hi >> CAST(u.b * p.w - 64 AS INTEGER))
       |        & ((CAST(1 AS BIGINT) << p.w) - 1) END AS v
       |  FROM ph, params p,
       |    LATERAL (SELECT unnest(range(0, $Bands)) AS b) u),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
       |      AS INTEGER) AS hamming
       |  FROM banded a JOIN banded b ON a.b = b.b AND a.v = b.v
       |    AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
       |    <= $HammingMax)
       |SELECT DISTINCT a_id, b_id, hamming FROM cand""".stripMargin
}
