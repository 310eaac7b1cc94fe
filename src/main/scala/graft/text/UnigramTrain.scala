package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.TextFunctions.tokens

/** Unigram-LM tokenizer training (the SentencePiece trainer shape,
  * Kudo 2018) — the industry-standard twin of [[BpeTrain]]: seed a
  * candidate vocabulary from frequent substrings, hard-EM re-estimate
  * piece frequencies under Viterbi segmentation, prune to the
  * keep-set, re-estimate once more.
  *
  * Deterministic fixed-point rendition (the PcaPower/BpeTrain
  * discipline — no IEEE log in any compared value):
  *   - Piece scores are q8 fixed-point log2 probabilities:
  *     score(p) = ilog2q8(count_p) − ilog2q8(Σ counts), where
  *     [[ilog2q8]] is an exact integer algorithm (msb + 8 rounds of
  *     mantissa squaring) replayed CTE-for-CTE by the oracle.
  *   - Viterbi DP maximizes Σ score(piece) with exact 64-bit adds;
  *     ties break toward the smallest split point. The Spark side
  *     runs it as ONE native codegen pass per word
  *     ([[graft.functions.UnigramSegment]], vocabulary broadcast as a
  *     literal map); the oracle unrolls the DP over positions
  *     1..[[MaxWordLen]] as join CTEs and hash-matches.
  *
  * Scale shapes (identical to BPE's): training runs on the DISTINCT
  * gated word table — volume independent of corpus repetition; each
  * EM round is one map-only segmentation pass plus one vocab-sized
  * aggregation (≤ ~100 rows to the driver); the vocabulary itself is
  * driver-sized by construction. At 100 TB nothing driver-side grows
  * with the data.
  *
  * Gates (documented, the BpeTrain alphabet discipline): words are
  * `[A-Za-z0-9]+` with length ≤ [[MaxWordLen]] — ASCII keeps
  * JVM-code-unit vs codepoint semantics aligned, and the length cap
  * bounds the oracle's DP unroll (SentencePiece trims long sentences
  * for the same reason).
  */
object UnigramTrain {
  val MaxPieceLen = 4
  val MaxWordLen = 16
  val SeedMulti = 48 // seed multi-char candidates
  val KeepMulti = 32 // post-prune multi-char vocabulary
  val Q8 = 256L // fixed-point scale of log2 scores

  /** Exact integer floor-ish log2 at q8: e·256 + f where e = msb(x)
    * and f is 8 binary fraction digits via mantissa squaring. Domain
    * x ∈ [1, 2^54) so x·256 stays in 63 bits. Replayed in SQL by
    * [[duckdbIlogCtes]] — keep in lockstep. */
  def ilog2q8(x: Long): Long = {
    require(x >= 1 && x < (1L << 54), s"ilog2q8 domain: $x")
    graft.functions.IntLog2Q8.ilog2q8(x)
  }

  /** q8 log-prob scores from counts: score(p) = ilog2q8(c_p) −
    * ilog2q8(total). */
  def scores(counts: Seq[(String, Long)]): Map[String, Long] = {
    val lt = ilog2q8(counts.iterator.map(_._2).sum)
    counts.iterator.map { case (p, c) => p -> (ilog2q8(c) - lt) }.toMap
  }

  final case class Trained(
      vocab: Seq[(String, Long, Long)], // (piece, final usage, score_q8)
      segmented: DataFrame) // (word, freq, pieces) under the final scores

  /** The gated distinct-word frequency table (word, freq). */
  private[graft] def wordTable(s: SparkSession, d: String): DataFrame =
    graft.Tables.parallelize(graft.Tables.documents(s, d))
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[A-Za-z0-9]+$") &&
        length(col("word")) <= MaxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** All substrings of length 1..[[MaxPieceLen]] with occurrence-
    * weighted corpus counts — the seed-candidate pool. */
  private def substrCounts(words: DataFrame): DataFrame =
    words.select(col("freq"), explode(expr(
        s"""flatten(transform(
           |  filter(sequence(1, $MaxPieceLen), L -> length(word) >= L),
           |  L -> transform(sequence(1, length(word) - L + 1),
           |       p -> substring(word, p, L))))""".stripMargin)).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("c"))

  /** The literal-map segmentation column (SQL-literal-safe: pieces are
    * alphabet-gated). Deterministic map order for a stable plan. */
  private def segmentCol(sc: Seq[(String, Long)]) = {
    val entries = sc.sortBy(_._1)
      .map { case (p, v) => s"'$p', CAST($v AS BIGINT)" }.mkString(", ")
    expr(s"unigram_segment(word, map($entries), $MaxPieceLen)")
  }

  /** Piece-usage counts of a segmentation pass — vocab-sized. */
  private def usage(seg: DataFrame): Map[String, Long] =
    seg.select(col("freq"), explode(col("pieces")).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  def train(s: SparkSession, d: String): Trained = {
    val words = wordTable(s, d).localCheckpoint()
    val subs = substrCounts(words)
    // chars: ALL single-char substrings (coverage set); multi: top-S
    val chars = subs.filter(length(col("p")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val multi = subs.filter(length(col("p")) >= 2)
      .orderBy(col("c").desc, col("p")).limit(SeedMulti)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val s0 = scores(chars ++ multi)

    // EM round A: segment under seed scores, count piece usage
    val u0 = usage(words.withColumn("pieces", segmentCol(s0.toSeq)))
    // prune: every char survives (coverage), plus top-K used multis
    val keptMulti = multi.map(_._1).filter(p => u0.getOrElse(p, 0L) > 0)
      .sortBy(p => (-u0(p), p)).take(KeepMulti)
    val kept = chars.map(_._1) ++ keptMulti
    // re-estimate with add-one smoothing (an absorbed char has u = 0)
    val s1 = scores(kept.map(p => (p, u0.getOrElse(p, 0L) + 1L)))

    // EM round B: final segmentation + usage under the pruned vocab
    val seg1 = words.withColumn("pieces", segmentCol(s1.toSeq))
      .localCheckpoint()
    val u1 = usage(seg1)
    val vocab = kept.sorted
      .map(p => (p, u1.getOrElse(p, 0L), s1(p)))
    Trained(vocab, seg1)
  }

  // ------------------------------------------------------------ oracle

  /** Power-of-two lookup table 2^0..2^53 (msb extraction without
    * float log2 — the ProbeTrain powers-table discipline). The `pfx`
    * parameter namespaces every generated CTE so the DEEP trainer
    * ([[UnigramDeep]], pfx "ud") can emit a second, independent chain
    * in the same query without name collisions; defaults reproduce the
    * shallow chain byte-for-byte. */
  private[text] def powersCte(pfx: String = "ug"): String = {
    val rows = (0 to 53).map(e => s"($e, ${1L << e})").mkString(", ")
    s"${pfx}pw(e, v) AS (VALUES $rows)"
  }

  /** ilog2q8 over `src(p, x)` → `${pfx}l$r(p, lg)`: msb via the powers
    * join, then 8 unrolled mantissa-squaring rounds. Inputs are
    * counts ≥ 1, so all divisions are on non-negative operands. */
  private[text] def duckdbIlogCtes(r: Int, src: String,
                                   pfx: String = "ug"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${pfx}e$r AS MATERIALIZED (
         |  SELECT s.p, s.x, MAX(w.e) AS e FROM $src s
         |  JOIN ${pfx}pw w ON w.v <= s.x GROUP BY 1, 2),
         |${pfx}m${r}_0 AS MATERIALIZED (
         |  SELECT u.p, u.e, (u.x * $Q8) // w.v AS m, CAST(0 AS BIGINT) AS f
         |  FROM ${pfx}e$r u JOIN ${pfx}pw w ON w.e = u.e)""".stripMargin)
    for (t <- 1 to 8) {
      sb.append(
        s""",
           |${pfx}m${r}_$t AS MATERIALIZED (
           |  SELECT p, e,
           |    CASE WHEN (m * m) // $Q8 >= ${2 * Q8}
           |         THEN ((m * m) // $Q8) // 2 ELSE (m * m) // $Q8 END AS m,
           |    CASE WHEN (m * m) // $Q8 >= ${2 * Q8}
           |         THEN 2 * f + 1 ELSE 2 * f END AS f
           |  FROM ${pfx}m${r}_${t - 1})""".stripMargin)
    }
    sb.append(
      s""",
         |${pfx}l$r AS MATERIALIZED (
         |  SELECT p, e * $Q8 + f AS lg FROM ${pfx}m${r}_8)""".stripMargin)
    sb.toString
  }

  /** Scores from a count CTE `cntCte(p, c)` → `${pfx}s$r(piece,
    * score)`, via one ilog2 pass over the pieces plus the total
    * (carried as the empty-string marker row — never a real piece). */
  private[text] def duckdbScoreCtes(r: Int, cntCte: String,
                                    pfx: String = "ug"): String =
    s"""${pfx}x$r AS MATERIALIZED (
       |  SELECT p, c AS x FROM $cntCte
       |  UNION ALL
       |  SELECT '' AS p, CAST(SUM(c) AS BIGINT) AS x FROM $cntCte),
       |${duckdbIlogCtes(r, s"${pfx}x$r", pfx)},
       |${pfx}s$r AS MATERIALIZED (
       |  SELECT l.p AS piece, l.lg - t.lg AS score
       |  FROM ${pfx}l$r l, (SELECT lg FROM ${pfx}l$r WHERE p = '') t
       |  WHERE l.p <> '')""".stripMargin

  /** Unrolled Viterbi DP + backtrace under vocab `${pfx}s$r(piece,
    * score)` → usage counts `${pfx}u$r(p, u)`, per-word piece counts
    * `${pfx}np$r(word, freq, np)` and the ordered piece emissions
    * `${pfx}pc$r(word, freq, piece, bp)` (bp = piece start — the
    * deep encode receipt orders ids by it). Position j's candidates
    * join the accumulated dp table on split point bp ∈ [j−L, j); best
    * split by ROW_NUMBER (val DESC, bp ASC) — the expression's
    * tie-break. `src(word, freq)` is the word table; `maxLen` bounds
    * the unroll (= the table's gated max word length). */
  private[text] def duckdbDpCtes(r: Int, pfx: String = "ug",
                                 src: String = "ugw",
                                 maxLen: Int = MaxWordLen,
                                 maxPieceLen: Int = MaxPieceLen,
                                 vocabCte: String = null): String = {
    // vocab CTE joined by every position: defaults to the score table
    // of the same round index; the deep chain overrides it because its
    // DP pass p reads the scores estimated after pass p−1
    val vocab = if (vocabCte != null) vocabCte else s"${pfx}s$r"
    // ONE CTE per position (candidates + best-split window + accumulate
    // fused): the 3-CTE-per-position form blew DuckDB's 1000-CTE binder
    // budget once the deep gate carried this chain NEXT TO the 512-CTE
    // BPE-deep replay. The accumulated table carries each position's
    // winning (bp, pc) so the backtrace joins it directly (no separate
    // winners union). Semantics unchanged: best split by
    // (val DESC, bp ASC) — the expression's tie-break.
    val sb = new StringBuilder
    sb.append(
      s"""${pfx}dp${r}a0 AS MATERIALIZED (
         |  SELECT word, freq, 0 AS j, CAST(0 AS BIGINT) AS val,
         |    CAST(NULL AS BIGINT) AS bp, CAST(NULL AS VARCHAR) AS pc
         |  FROM $src)""".stripMargin)
    for (j <- 1 to maxLen) {
      sb.append(
        s""",
           |${pfx}dp${r}a$j AS MATERIALIZED (
           |  SELECT word, freq, j, val, bp, pc FROM ${pfx}dp${r}a${j - 1}
           |  UNION ALL
           |  SELECT word, freq, $j AS j, val, bp, pc FROM (
           |    SELECT d.word, d.freq, d.val + v.score AS val,
           |      d.j AS bp, v.piece AS pc,
           |      ROW_NUMBER() OVER (PARTITION BY d.word
           |        ORDER BY d.val + v.score DESC, d.j ASC) AS rn
           |    FROM ${pfx}dp${r}a${j - 1} d
           |    JOIN $vocab v ON v.piece = substr(d.word, d.j + 1, $j - d.j)
           |    WHERE d.j >= $j - $maxPieceLen AND length(d.word) >= $j)
           |  WHERE rn = 1)""".stripMargin)
    }
    sb.append(
      s""",
         |${pfx}bt${r}0 AS MATERIALIZED (
         |  SELECT word, freq, length(word) AS cur,
         |    CAST(NULL AS VARCHAR) AS piece FROM $src)""".stripMargin)
    for (t <- 1 to maxLen) {
      sb.append(
        s""",
           |${pfx}bt$r$t AS MATERIALIZED (
           |  SELECT b.word, b.freq, d.bp AS cur, d.pc AS piece
           |  FROM ${pfx}bt$r${t - 1} b
           |  JOIN ${pfx}dp${r}a$maxLen d ON d.word = b.word AND d.j = b.cur
           |  WHERE b.cur > 0)""".stripMargin)
    }
    val emits = (1 to maxLen)
      .map(t => s"SELECT word, freq, piece, cur AS bp FROM ${pfx}bt$r$t")
      .mkString("\n  UNION ALL\n  ")
    sb.append(
      s""",
         |${pfx}pc$r AS MATERIALIZED (
         |  $emits),
         |${pfx}u$r AS MATERIALIZED (
         |  SELECT piece AS p, CAST(SUM(freq) AS BIGINT) AS u
         |  FROM ${pfx}pc$r GROUP BY 1),
         |${pfx}np$r AS MATERIALIZED (
         |  SELECT word, freq, COUNT(*) AS np FROM ${pfx}pc$r GROUP BY 1, 2)""".stripMargin)
    sb.toString
  }

  /** The full training replay: gated words → seed candidates → seed
    * scores (ugs0) → DP round 0 (ugu0) → pruned+smoothed counts
    * (ugk1/ugc1) → scores (ugs1) → DP round 1 (ugu1, ugnp1). */
  def duckdbTrainCtes(tokensSqlExpr: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""ugw AS MATERIALIZED (
         |  SELECT word, COUNT(*) AS freq FROM (
         |    SELECT unnest($tokensSqlExpr) AS word FROM documents)
         |  WHERE regexp_full_match(word, '[A-Za-z0-9]+')
         |    AND length(word) <= $MaxWordLen
         |  GROUP BY 1),
         |${powersCte()},
         |ugsub AS MATERIALIZED (
         |  SELECT p, CAST(SUM(freq) AS BIGINT) AS c FROM (
         |    SELECT w.freq, substr(w.word, CAST(ps.i AS INT), CAST(ln.l AS INT)) AS p
         |    FROM ugw w,
         |      LATERAL (SELECT unnest(range(1, $MaxPieceLen + 1)) AS l) ln,
         |      LATERAL (SELECT unnest(range(1, length(w.word) - CAST(ln.l AS INT) + 2)) AS i) ps)
         |  GROUP BY 1),
         |ugch AS MATERIALIZED (SELECT p, c FROM ugsub WHERE length(p) = 1),
         |ugmu AS MATERIALIZED (
         |  SELECT p, c FROM ugsub WHERE length(p) >= 2
         |  ORDER BY c DESC, p LIMIT $SeedMulti),
         |ugv0 AS MATERIALIZED (
         |  SELECT p, c FROM ugch UNION ALL SELECT p, c FROM ugmu),
         |${duckdbScoreCtes(0, "ugv0")},
         |${duckdbDpCtes(0)},
         |ugk1 AS MATERIALIZED (
         |  SELECT p FROM ugch
         |  UNION ALL
         |  SELECT p FROM (
         |    SELECT u.p, u.u FROM ugu0 u
         |    WHERE length(u.p) >= 2 AND u.u > 0
         |    ORDER BY u.u DESC, u.p LIMIT $KeepMulti)),
         |ugc1 AS MATERIALIZED (
         |  SELECT k.p, COALESCE(u.u, 0) + 1 AS c
         |  FROM ugk1 k LEFT JOIN ugu0 u ON u.p = k.p),
         |${duckdbScoreCtes(1, "ugc1")},
         |${duckdbDpCtes(1)}""".stripMargin)
    sb.toString
  }
}
