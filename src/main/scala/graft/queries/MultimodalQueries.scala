package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.BandLadder
import graft.multimodal.Multimodal

/** Oracle exposure of the multimodal plumbing: documents.text bytes act
  * as the opaque media blobs (no real media in the test corpus); the
  * deterministic FakeCodec makes the whole mapPartitions pipeline
  * hash-checkable in DuckDB. */
object MultimodalQueries {

  private def mmDecode(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeImageMeta(
      Tables.parallelize(Tables.documents(s, d))
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
      "doc_id", "blob")
      .toDF()

  // Mirror of FakeCodec.decode: h = first 15 md5 hex chars as bigint;
  // len-derived format/luma; integer div/mod geometry. The corpus is
  // pure ASCII (asserted in tests), so varchar md5/length equal the
  // blob-side byte operations DuckDB 1.0 lacks.
  private val mmDecodeSql =
    """WITH h AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_bytes,
      |    CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS hv
      |  FROM documents)
      |SELECT doc_id AS id, n_bytes,
      |  CASE n_bytes % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format,
      |  CAST(64 + hv % 512 AS INT) AS width,
      |  CAST(64 + (hv // 512) % 512 AS INT) AS height,
      |  CAST(n_bytes % 256 AS DOUBLE) / CAST(255 AS DOUBLE) AS luma
      |FROM h""".stripMargin

  private def mmFrames(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(
      Tables.parallelize(Tables.documents(s, d))
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
      "doc_id", "blob")
      .toDF()

  private val mmFramesSql =
    """WITH b AS (
      |  SELECT doc_id, text,
      |    LEAST(8, length(text) // 100) AS n_frames
      |  FROM documents),
      |ex AS (
      |  SELECT doc_id, text, unnest(range(0, n_frames)) AS i FROM b)
      |SELECT doc_id AS id, CAST(i AS INT) AS frame_idx,
      |  md5(substring(text, CAST(i * 100 + 1 AS INT), 100)) AS frame_hash
      |FROM ex""".stripMargin

  // ------------------------------------------------------- mm_frame_vbow
  // The composed multimodal pipeline: frame sampling (mapPartitions
  // codec seam) → per-frame embedding (FakeCodec stand-in for a vision
  // model: 8 integer components hashed from the frame content) →
  // nearest-codebook quantization (8 data-derived seed vectors,
  // broadcast; exact integer squared-L2, ties to lowest seed rank) →
  // per-media visual bag-of-words rollup. This is the
  // frame→embed→quantize→BoW shape a video curation pipeline runs at
  // scale: decode/embed map-only behind the codec seam, an 8-row
  // broadcast, ONE shuffle for the rollup. Deterministic end to end, so
  // the DuckDB mirror checks every stage through the final counts.
  private val VbowDim = 8
  private val VbowMod = 256
  private val VbowSeeds = 8

  private def comp(hashCol: org.apache.spark.sql.Column, k: Int) =
    pmod(graft.text.TextFunctions.portableHash(
      concat(hashCol, lit(s"_$k"))), lit(VbowMod)).cast("int")

  private def mmFrameVbow(s: SparkSession, d: String): DataFrame = {
    // materialize the sampled frames once: they feed both the embedding
    // branch and the codebook branch, and an un-truncated plan would
    // re-run the mapPartitions sampler (the "decode" pass — the most
    // expensive stage at real scale) for each
    val frames = Multimodal.sampleFrames(
      Tables.parallelize(Tables.documents(s, d))
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
      "doc_id", "blob").toDF().localCheckpoint()
    val embedded = frames.select(
      col("id") +: col("frame_idx") +:
        (0 until VbowDim).map(k => comp(col("frame_hash"), k).as(s"c$k")): _*)
    // codebook: the VbowSeeds lexicographically-smallest distinct frame
    // hashes (data-derived like ivf_assign's seeds; tiny + broadcast)
    val seeds = frames.select(col("frame_hash")).distinct()
      .orderBy(col("frame_hash")).limit(VbowSeeds)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("frame_hash"))))
      .select(col("rk") +:
        (0 until VbowDim).map(k => comp(col("frame_hash"), k).as(s"s$k")): _*)
    val dist = (0 until VbowDim)
      .map(k => (col(s"c$k") - col(s"s$k")) * (col(s"c$k") - col(s"s$k")))
      .reduce(_ + _)
    embedded.crossJoin(broadcast(seeds))
      .withColumn("d2", dist.cast("long"))
      .groupBy(col("id"), col("frame_idx"))
      .agg(min(struct(col("d2"), col("rk"))).as("best"))
      .select(col("id"), col("best.rk").as("cell"))
      .groupBy(col("id"), col("cell"))
      .agg(count(lit(1)).as("n_frames"))
      .withColumn("cell", col("cell").cast("long"))
  }

  private val mmFrameVbowSql = {
    def compSql(h: String, k: Int) =
      s"${graft.text.TextFunctions.portableHashSql(s"concat($h, '_$k')")} % $VbowMod"
    val fcomps = (0 until VbowDim).map(k =>
      s"CAST(${compSql("frame_hash", k)} AS INT) AS c$k").mkString(",\n    ")
    val scomps = (0 until VbowDim).map(k =>
      s"CAST(${compSql("frame_hash", k)} AS INT) AS s$k").mkString(",\n    ")
    val dist = (0 until VbowDim)
      .map(k => s"(c$k - s$k) * (c$k - s$k)").mkString(" + ")
    s"""WITH b AS (
       |  SELECT doc_id, text, LEAST(8, length(text) // 100) AS n_frames
       |  FROM documents),
       |frames AS (
       |  SELECT doc_id AS id, CAST(i AS INT) AS frame_idx,
       |    md5(substring(text, CAST(i * 100 + 1 AS INT), 100)) AS frame_hash
       |  FROM (SELECT doc_id, text, unnest(range(0, n_frames)) AS i FROM b)),
       |embedded AS (
       |  SELECT id, frame_idx,
       |    $fcomps
       |  FROM frames),
       |seedh AS (
       |  SELECT frame_hash,
       |    ROW_NUMBER() OVER (ORDER BY frame_hash) AS rk
       |  FROM (SELECT DISTINCT frame_hash FROM frames
       |        ORDER BY frame_hash LIMIT $VbowSeeds)),
       |seeds AS (
       |  SELECT rk,
       |    $scomps
       |  FROM seedh),
       |assigned AS (
       |  SELECT id, frame_idx, rk,
       |    ROW_NUMBER() OVER (PARTITION BY id, frame_idx
       |      ORDER BY CAST($dist AS BIGINT), rk) AS pick
       |  FROM embedded CROSS JOIN seeds)
       |SELECT id, CAST(rk AS BIGINT) AS cell, COUNT(*) AS n_frames
       |FROM assigned WHERE pick = 1
       |GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------- mm_resize
  // Resize plumbing through the codec seam: map-only typed transform
  // emitting the new geometry + the downscaled payload's length/hash.
  // The DuckDB mirror reproduces the fake half-resolution re-encode
  // byte-for-byte (ASCII corpus: varchar substring == byte slice).
  // half_len is clamped by LEAST(n_bytes, ...) so an empty blob yields
  // 0 resized bytes on both sides (Scala's bytes.take(1) of an empty
  // array is empty; an unclamped GREATEST(1, 0) would report 1).
  private def mmResize(s: SparkSession, d: String): DataFrame =
    Multimodal.resizeImages(
      Tables.parallelize(Tables.documents(s, d))
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
      "doc_id", "blob")
      .toDF()

  private val mmResizeSql =
    """WITH h AS (
      |  SELECT doc_id, text,
      |    CAST(length(text) AS BIGINT) AS n_bytes,
      |    CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS hv
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, text, n_bytes,
      |    CAST(64 + hv % 512 AS INT) AS width,
      |    CAST(64 + (hv // 512) % 512 AS INT) AS height,
      |    LEAST(n_bytes, GREATEST(1, n_bytes // 2)) AS half_len
      |  FROM h)
      |SELECT doc_id AS id, width, height,
      |  CAST(GREATEST(1, width // 2) AS INT) AS new_width,
      |  CAST(GREATEST(1, height // 2) AS INT) AS new_height,
      |  CAST(half_len AS BIGINT) AS resized_bytes,
      |  md5(substring(text, 1, CAST(half_len AS INT))) AS resized_hash
      |FROM g""".stripMargin

  // ---------------------------------------------------------- mm_dedup
  // Identical-media dedup: per-format exact blob dedup counts keyed on
  // the content digest, computed through the SAME per-partition codec
  // seam as decode (a real pipeline digests during the decoder's I/O
  // pass instead of re-reading the blob). Per format: blobs, distinct
  // contents, duplicates — the first gate of any media-curation
  // cascade, ahead of perceptual-hash near-dup.
  private def mmDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.fingerprintBlobs(
      Tables.parallelize(Tables.documents(s, d))
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
      "doc_id", "blob")
      .toDF()
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_blobs"),
        countDistinct(col("content_hash")).as("n_distinct"))
      .withColumn("dup_blobs", col("n_blobs") - col("n_distinct"))

  private val mmDedupSql =
    """SELECT
      |  CASE length(text) % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
      |  ELSE 'webp' END AS format,
      |  COUNT(*) AS n_blobs,
      |  COUNT(DISTINCT md5(text)) AS n_distinct,
      |  COUNT(*) - COUNT(DISTINCT md5(text)) AS dup_blobs
      |FROM documents
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------- mm_phash
  // Perceptual near-dup — the second gate of the media-curation
  // cascade, after mm_dedup's exact-digest gate: a 64-bit average-hash
  // per blob computed through the SAME per-partition codec seam as
  // decode (FakeCodec.phash — 64 chunk-mean cells thresholded against
  // the global cell mean, the aHash structure over the fake decode),
  // then Hamming-banded candidate pairs via the SimHash machinery:
  // 4 disjoint bands at the mm_phash_width-chosen width, so any pair
  // within Hamming ≤ 3 agrees exactly on some band (pigeonhole —
  // lossless blocking for the ≤3 search at ANY band width), verified
  // by one xor + bit_count per band collision.
  // Plan: the hash is map-only over the decode pass; the join is
  // keyed on (band, value); never all-pairs. At 100 TB only the
  // 8-byte hashes ever shuffle — the media bytes stay where the scan
  // read them.
  // Two oracle gates: `mm_phash` is the per-blob hash table itself —
  // non-empty at EVERY SF, so the 64-cell aHash computation is
  // hash-matched bit-for-bit even on corpora with no duplicate pairs —
  // and `mm_phash_pairs` is the banded search over the corpus PLUS a
  // planted twin fixture (below), so the pair path produces real rows
  // at every SF instead of hash-matching empty sets below sf0.1.
  private val PhBands = BandLadder.Bands

  /** ADAPTIVE BAND WIDTH (the mm_phash 100 TB lever, the RpLsh.widthFor
    * discipline applied to Hamming bands): with FIXED 16-bit bands the
    * random-collision candidate mass is 4·C(n,2)/2^16 — quadratic in
    * the corpus, and measured live at the sf10 surrogate (500k blobs →
    * 8.8M popcount candidates, 4.4× the 4n budget and growing with n²;
    * BENCH_NOTES.md "mm_phash cost curve" records it). The ladder
    * keeps the mass ≤ 4n by construction: at n = 2^17 exactly,
    * 4·(n²/2)/2^16 = 4n, so 2^17 is the largest corpus the 16-bit tier
    * serves at linear cost; past it the 128-cell hash's 32-bit bands
    * hold the same bound to n = 2^33. Pigeonhole is tier-independent
    * (4 disjoint bands cover Hamming ≤ 3 at any width). The threshold
    * is an exact integer compare on COUNT(*), derived identically in
    * both engines — `mm_phash_width` is the oracle-gated decision. */
  private val PhTier16MaxN = BandLadder.Tier16MaxN

  private def phashTable(s: SparkSession, d: String): DataFrame =
    Multimodal.perceptualHashes(
      Tables.parallelize(Tables.documents(s, d))
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
      "doc_id", "blob").toDF()

  // Planted twin fixture — the non-vacuous driver gate. Small-SF
  // corpora carry no near-identical blobs, so the r15 gate row for
  // mm_phash_pairs hash-"matched" on empty sets (0 rows at sf0.01);
  // real coverage only started at sf0.1. The pair search therefore
  // derives a deterministic fixture FROM the corpus itself: each of
  // the PlantSeeds smallest doc_ids gets an exact twin (Hamming 0 —
  // a guaranteed pair at any SF) and a one-char in-place edit (the
  // MmPhashSpec locality fixture — lands within the banded search's
  // Hamming window with high probability), at doc_ids 2^40 above any
  // real id (ScaleUp tops out near 10^9). The derivation is mirrored
  // clause-for-clause in the oracle, so the banding + popcount verify
  // path is exercised by real rows at the per-round sf0.01 gate. Cost
  // at scale: one top-4 TakeOrdered over doc_id + 8 extra rows.
  private val PlantSeeds = 4
  private val PlantOff = 1L << 40

  private[graft] def plantTwins(docs: DataFrame): DataFrame = {
    // ≤ PlantSeeds rows — checkpointed so the two twin branches read
    // the 4-row result instead of re-running the top-k per branch
    val seeds = docs.orderBy(col("doc_id")).limit(PlantSeeds)
      .localCheckpoint()
    docs
      .unionByName(seeds.select(
        (col("doc_id") + PlantOff).as("doc_id"), col("text")))
      .unionByName(seeds.select(
        (col("doc_id") + 2 * PlantOff).as("doc_id"),
        expr("concat(substr(text, 1, 8), 'Q', substr(text, 10))")
          .as("text")))
  }

  private def mmPhashPairs(s: SparkSession, d: String): DataFrame = {
    val docs = plantTwins(
        Tables.parallelize(Tables.documents(s, d))
          .select(col("doc_id"), col("text")))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
    // the memoized corpus count picks the tier (one count job per
    // session/dir — SharedStages.docCount — instead of one per
    // invocation); the +8 planted rows are excluded so both engines
    // derive the width from the same corpus COUNT(*)
    mmPhashPairsAt(docs, BandLadder.bitsFor(graft.SharedStages.docCount(s, d)))
  }

  /** Banded near-dup pairs at an explicit band width (16 → 64-cell
    * hash in `lo`, hi = 0; 32 → 128-cell hash across lo/hi), through
    * the shared [[graft.functions.BandLadder.pairs]] kernel — at the
    * 16 tier the hi terms are constant 0 and fold away.
    * BENCH_NOTES.md's "mm_phash cost curve" table is the ACTUAL
    * candidate mass each tier produced against the ladder's 4n budget
    * (the BandLadder arithmetic is about random collisions; the
    * measured mass includes the corpus's real near-dup structure). */
  private[graft] def mmPhashPairsAt(docs: DataFrame, bandBits: Int): DataFrame = {
    val hashed =
      if (bandBits == 16)
        Multimodal.perceptualHashes(docs, "doc_id", "blob").toDF()
          .select(col("id"), col("phash").as("lo"), lit(0L).as("hi"))
      else
        Multimodal.perceptualHashes128(docs, "doc_id", "blob").toDF()
    val banded = BandLadder.bandRows(hashed, bandBits)
    BandLadder.pairs(banded, banded, "id")
  }

  // ------------------------------------------------- mm_phash_width
  // The measure→act decision row for the band ladder (lsh_width's
  // shape): n from one count, the random-collision candidate mass of
  // each tier as EXACT integers (4·(n·(n−1) DIV 2) DIV 2^bits — n² fits
  // a BIGINT to n ≈ 3e9, two corpus decades past the widest tier's
  // linear range), the 4n budget, and the chosen width = the smallest
  // tier whose mass clears it. Both engines derive every column from
  // the same COUNT(*) by integer arithmetic — a drift in the threshold
  // seam desyncs this oracle before it can desync the pairs query.
  private def mmPhashWidth(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .agg(count(lit(1)).as("n_blobs"))
      .select(col("n_blobs"),
        expr(s"$PhBands * ((n_blobs * (n_blobs - 1)) DIV 2) DIV ${1L << 16}")
          .as("rand_cand_16"),
        expr(s"$PhBands * ((n_blobs * (n_blobs - 1)) DIV 2) DIV ${1L << 32}")
          .as("rand_cand_32"),
        expr(s"$PhBands * n_blobs").as("cand_budget"),
        when(col("n_blobs") <= PhTier16MaxN, 16).otherwise(32)
          .as("band_bits"))

  private val mmPhashWidthSql =
    s"""SELECT n_blobs,
       |  CAST($PhBands * ((n_blobs * (n_blobs - 1)) // 2) // ${1L << 16}
       |    AS BIGINT) AS rand_cand_16,
       |  CAST($PhBands * ((n_blobs * (n_blobs - 1)) // 2) // ${1L << 32}
       |    AS BIGINT) AS rand_cand_32,
       |  CAST($PhBands * n_blobs AS BIGINT) AS cand_budget,
       |  CASE WHEN n_blobs <= $PhTier16MaxN THEN 16 ELSE 32 END AS band_bits
       |FROM (SELECT COUNT(*) AS n_blobs FROM documents)""".stripMargin

  // Mirror of FakeCodec.phash + the banded search. Chunk i of a
  // len-byte blob is bytes [i·len/64, (i+1)·len/64) — ASCII corpus, so
  // varchar substring == byte slice (the mm_resize precedent). DuckDB
  // refuses 1<<63 (overflow check), so bit 63's weight is spelled as
  // the BIGINT minimum literal; the HUGEINT sum of distinct bit
  // weights is exactly the two's-complement value and casts back
  // losslessly.
  private val phashCtes =
    s"""cells AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
       |    CAST(concat('0x', substr(md5(substring(text,
       |      CAST((u.i * length(text)) // 64 + 1 AS INT),
       |      CAST(((u.i + 1) * length(text)) // 64
       |        - (u.i * length(text)) // 64 AS INT))), 1, 2)) AS BIGINT)
       |      AS cell
       |  FROM documents, LATERAL (SELECT unnest(range(0, 64)) AS i) u),
       |ph AS (
       |  SELECT doc_id, CAST(SUM(CASE WHEN 64 * cell > tot THEN
       |      CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
       |        ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
       |      ELSE 0 END) AS BIGINT) AS phash
       |  FROM (SELECT doc_id, i, cell,
       |          SUM(cell) OVER (PARTITION BY doc_id) AS tot FROM cells)
       |  GROUP BY 1)""".stripMargin

  private val mmPhashSql =
    s"""WITH $phashCtes
       |SELECT doc_id AS id, phash FROM ph""".stripMargin

  /** Two-long variant of [[phashCtes]] at an arbitrary cell count:
    * `<p>ph(doc_id, lo, hi)` — bits 0–63 in lo, 64–127 in hi (hi ≡ 0
    * at 64 cells, mirroring the Spark tier's `lit(0L)`). Same
    * chunk→md5-byte→exact-integer-threshold structure; the BIGINT
    * minimum literal spells each long's sign bit (DuckDB refuses
    * 1<<63). */
  private def phashCtes2(cells: Int, p: String, src: String): String =
    s"""${p}cells AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
       |    CAST(concat('0x', substr(md5(substring(text,
       |      CAST((u.i * length(text)) // $cells + 1 AS INT),
       |      CAST(((u.i + 1) * length(text)) // $cells
       |        - (u.i * length(text)) // $cells AS INT))), 1, 2)) AS BIGINT)
       |      AS cell
       |  FROM $src, LATERAL (SELECT unnest(range(0, $cells)) AS i) u),
       |${p}ph AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN $cells * cell > tot AND i < 64 THEN
       |        CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
       |          ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
       |        ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(SUM(CASE WHEN $cells * cell > tot AND i >= 64 THEN
       |        CASE WHEN i = 127 THEN CAST(-9223372036854775808 AS BIGINT)
       |          ELSE (CAST(1 AS BIGINT) << CAST(i - 64 AS INT)) END
       |        ELSE 0 END) AS BIGINT) AS hi
       |  FROM (SELECT doc_id, i, cell,
       |          SUM(cell) OVER (PARTITION BY doc_id) AS tot FROM ${p}cells)
       |  GROUP BY 1)""".stripMargin

  // The tier guards replicate BandLadder.bitsFor on the same COUNT(*); the
  // unchosen tier's branch is row-empty under its guard, so exactly one
  // hash table feeds the banding at any SF.
  // `blobs` = documents + the planted twin fixture (plantTwins above,
  // clause-for-clause). MATERIALIZED: the two tier CTEs both read it —
  // DuckDB re-inlines multi-consumer CTEs (the lex_df_gate lesson).
  private val mmPhashPairsSql =
    s"""WITH ${BandLadder.duckdbWidthCte},
       |seeds AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT $PlantSeeds),
       |blobs AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + $PlantOff AS doc_id, text FROM seeds
       |  UNION ALL SELECT doc_id + ${2 * PlantOff} AS doc_id,
       |    concat(substr(text, 1, 8), 'Q', substr(text, 10)) AS text
       |  FROM seeds),
       |${phashCtes2(64, "t16", "blobs")},
       |${phashCtes2(128, "t32", "blobs")},
       |ph AS (
       |  SELECT * FROM t16ph WHERE (SELECT w FROM params) = 16
       |  UNION ALL
       |  SELECT * FROM t32ph WHERE (SELECT w FROM params) = 32),
       |${BandLadder.duckdbPairsQuery}""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("mm_decode_meta", mmDecode, Some(mmDecodeSql)),
    QueryDef("mm_dedup", mmDedup, Some(mmDedupSql)),
    QueryDef("mm_phash", phashTable, Some(mmPhashSql)),
    QueryDef("mm_phash_pairs", mmPhashPairs, Some(mmPhashPairsSql)),
    QueryDef("mm_phash_width", mmPhashWidth, Some(mmPhashWidthSql)),
    QueryDef("mm_sample_frames", mmFrames, Some(mmFramesSql)),
    QueryDef("mm_frame_vbow", mmFrameVbow, Some(mmFrameVbowSql)),
    QueryDef("mm_resize", mmResize, Some(mmResizeSql)))
}
