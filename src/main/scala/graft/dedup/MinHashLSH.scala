package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/** MinHash + LSH near-duplicate detection over a text column (SURVEY
  * §7.5: shingle → minhash → band → bucket-join → verify).
  *
  * Scale design (the whole point of LSH at 100 TB): the quadratic
  * all-pairs comparison is replaced by
  *   1. a map-only signature pass (k portable hash functions over word
  *      shingles — pure column expressions, no shuffle),
  *   2. one explode to (band, bucket) keys and ONE shuffle to group
  *      docs by bucket (candidate generation ∝ collisions, not n²),
  *   3. exact Jaccard verification only on candidate pairs.
  * Banding math: P(candidate | jaccard s) = 1 − (1 − s^r)^b; with
  * k=16, b=4, r=4: s=0.9 → 0.986, s=0.5 → 0.23 — tuned for the
  * high-similarity near-dup regime.
  *
  * All hashing is the portable md5-based scheme
  * ([[TextFunctions.portableHash]]) so a DuckDB oracle reproduces every
  * bit ([[duckdbSignatureCte]]).
  */
object MinHashLSH {
  val NumHashes = 16
  val Bands     = 4
  val Rows      = 4 // per band; Bands * Rows == NumHashes
  val ShingleN  = 3
  /** Jaccard floor of the shared verified-pair stage
    * ([[graft.SharedStages.verifiedPairs]], [[duckdbVerifiedCte]]). */
  val VerifyThreshold = 0.5
  /** Mersenne prime 2^31 − 1: (a*h + b) % P stays well inside Long. */
  val P = 2147483647L

  /** Deterministic hash-family constants (fixed seed — part of the
    * operator's definition, mirrored into the oracle SQL). */
  val hashParams: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumHashes)((1L + rnd.nextInt(Int.MaxValue - 1).toLong,
                         rnd.nextInt(Int.MaxValue).toLong))
  }

  /** docs(idCol, textCol) → (id, sh: distinct shingle HASHES, sig: array[16]).
    *
    * `sh` carries the 64-bit portable hashes of the shingles, not the
    * strings: the verify stage ships each document's shingle set through
    * a shuffle twice, and Jaccard over the hash sets is computed
    * identically by the oracle (same md5-based hash both sides) at ~10×
    * less shuffle volume than string sets.
    *
    * Deliberately a ROW pipeline, not array higher-order functions:
    * zero-shuffle slice/arrays_zip trigram rows
    * ([[TextFunctions.ngramRows]]) → ONE groupBy computes the shingle
    * set (collect_set) and all k min-hashes as codegen'd aggregates.
    * Measured rationale for rows-not-HOFs: interpreted HOF lambdas
    * (`transform`/`aggregate` have no doGenCode) not only evaluate
    * per-element with boxing, they serialize across task threads in a
    * single JVM — 5000 docs × 1.5 ms ran wall-serial at ~9 s on 32 cores.
    * The row form is whole-stage-codegen end to end, and because the
    * gram rows of a document never leave its partition, the groupBy's
    * partial aggregation finishes each doc map-side — the one exchange
    * ships a single signature row per document, not the gram stream.
    * Min over the multiset of trigram rows equals min over the distinct
    * set, so no pre-dedup is needed; collect_set dedups the
    * verify-stage shingle sets in the same agg. */
  def signatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tri = TextFunctions.ngramRows(
      graft.Tables.parallelize(docs), idCol, textCol, ShingleN)
    val minAggs = hashParams.zipWithIndex.map { case ((a, b), i) =>
      min(expr(s"($a * hs + $b) % $P")).as(s"__m$i")
    }
    tri
      .withColumn("hs", expr(portableModHashSparkSql("s")))
      .groupBy(col(idCol))
      .agg(collect_set(col("hs")).as("sh"), minAggs: _*)
      .withColumn("sig", array(hashParams.indices.map(i => col(s"__m$i")): _*))
      .select(col(idCol), col("sh"), col("sig"))
  }

  private def portableModHashSparkSql(v: String): String =
    s"cast(conv(substring(md5($v), 1, 15), 16, 10) AS bigint) % $P"

  /** The LSH band keys of a `sig` column: an array of [[Bands]]
    * structs (band, bucket), bucket = the band's [[Rows]] signature
    * entries joined by '_'. Exploded by [[candidatePairs]] and by the
    * streaming funnel's standing band store. */
  def bandKeys: Column = array((0 until Bands).map { b =>
    val slice = (1 to Rows).map(r => s"element_at(sig, ${b * Rows + r})")
    struct(lit(b).as("band"),
      expr(s"concat_ws('_', ${slice.mkString(", ")})").as("bucket"))
  }: _*)

  /** Candidate pairs from band-bucket collisions, with the minhash
    * similarity estimate (matching signature positions / k). One shuffle
    * on (band, bucket); the self-join is bucket-local. */
  def candidatePairs(sigs: DataFrame, idCol: String): DataFrame = {
    val buckets = sigs
      .select(col(idCol), col("sig"), explode(bandKeys).as("bk"))
      .select(col(idCol), col("sig"), col("bk.band"), col("bk.bucket"))
    val a = buckets.select(col(idCol).as("a_id"), col("sig").as("a_sig"),
      col("band"), col("bucket"))
    val b = buckets.select(col(idCol).as("b_id"), col("sig").as("b_sig"),
      col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sig"), col("b_sig"))
      .distinct()
      // expanded element_at sum, not aggregate(zip_with(...)): HOF
      // lambdas evaluate interpreted and serialize across task threads
      // (see signatures() — same measured rationale); the 16-term sum
      // stays inside whole-stage codegen
      .withColumn("est_sim",
        expr((1 to NumHashes)
          .map(i => s"IF(element_at(a_sig, $i) = element_at(b_sig, $i), 1, 0)")
          .mkString(" + "))
          .cast("double") / NumHashes)
      .select(col("a_id"), col("b_id"), col("est_sim"))
  }

  /** Exact n-gram Jaccard over candidate pairs only (the verify stage).
    * `docsSh` must carry (idCol, sh) from [[signatures]] — the distinct
    * shingle-hash sets, which give the same Jaccard as the string sets
    * (both engines hash identically) at a fraction of the shuffle
    * volume. */
  def verifiedPairs(candidates: DataFrame, docsSh: DataFrame, idCol: String,
                    threshold: Double): DataFrame = {
    val a = docsSh.select(col(idCol).as("a_id"), col("sh").as("a_sh"))
    val b = docsSh.select(col(idCol).as("b_id"), col("sh").as("b_sh"))
    candidates
      .join(a, "a_id").join(b, "b_id")
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))).cast("long"))
      .withColumn("uni",
        (size(col("a_sh")) + size(col("b_sh"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  // ------------------------------------------------------------ oracle

  /** DuckDB CTEs reproducing shingle hashes + signatures bit-for-bit
    * from the `documents` view. Exposes `sigs(doc_id, sh, sig)` with
    * `sh` = distinct shingle-hash list (mirroring [[signatures]]). */
  def duckdbSignatureCte: String = {
    val toks = TextFunctions.tokensSql("text")
    val sh   = TextFunctions.shinglesSql("toks", ShingleN)
    val hash = s"CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % $P"
    val sigList = hashParams.map { case (a, b) =>
      s"list_min(list_transform(h, x -> ($a * x + $b) % $P))"
    }.mkString(",\n      ")
    s"""tok AS (
       |  SELECT doc_id, $toks AS toks FROM documents),
       |shing AS (
       |  SELECT doc_id, list_distinct($sh) AS sh FROM tok),
       |hashed AS (
       |  SELECT doc_id, list_distinct(list_transform(sh, s -> $hash)) AS h
       |  FROM shing WHERE len(sh) > 0),
       |sigs AS (
       |  SELECT doc_id, h AS sh, [
       |      $sigList
       |    ] AS sig
       |  FROM hashed)""".stripMargin
  }

  /** DuckDB mirror of [[candidatePairs]] (needs [[duckdbSignatureCte]]
    * in scope). Exposes `cands(a_id, b_id, est_sim)`. */
  def duckdbCandidateCte: String = {
    val bandRows = (0 until Bands).map { b =>
      val slice = (1 to Rows).map(r => s"CAST(sig[${b * Rows + r}] AS VARCHAR)")
      s"SELECT doc_id, sig, $b AS band, concat_ws('_', ${slice.mkString(", ")}) AS bucket FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    val eqTerms = (1 to NumHashes)
      .map(i => s"CASE WHEN a_sig[$i] = b_sig[$i] THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""buckets AS (
       |  $bandRows),
       |rawpairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.sig AS a_sig, b.sig AS b_sig
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |cands AS (
       |  SELECT a_id, b_id,
       |    CAST($eqTerms AS DOUBLE) / $NumHashes AS est_sim
       |  FROM rawpairs)""".stripMargin
  }

  /** DuckDB mirror of [[verifiedPairs]] at [[VerifyThreshold]] (needs
    * [[duckdbSignatureCte]] and [[duckdbCandidateCte]] in scope).
    * Exposes `verified(a_id, b_id)`. */
  val duckdbVerifiedCte: String =
    s"""verified AS (
       |  SELECT c.a_id, c.b_id
       |  FROM cands c
       |  JOIN sigs a ON a.doc_id = c.a_id
       |  JOIN sigs b ON b.doc_id = c.b_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $VerifyThreshold)""".stripMargin
}
