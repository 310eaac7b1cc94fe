package graft.text

import org.apache.spark.sql.SparkSession

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
  *   - Viterbi DP ([[segment]]) maximizes Σ score(piece) with exact
  *     64-bit adds; ties break toward the smallest split point. The
  *     oracle unrolls the DP over positions 1..[[MaxWordLen]] as join
  *     CTEs and hash-matches.
  *
  * Shape: training runs on the words of the BPE trainer's final table
  * ([[wordsFrom]]) — no second corpus pass, and both tokenizers of
  * `tok_compare` count the identical word multiset. [[trainFromWords]]
  * is the ONE hard-EM loop, shared with [[UnigramDeep]], which runs it
  * over BPE-deep's capped chunk table with its own constants; it is
  * driver-side and table-sized (≤ ~100 distinct pieces here).
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
  val EmRounds = 2 // Viterbi passes: seed scores → pass 1 (prune) → pass 2
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

  /** Viterbi segmentation of `word` under `vocab` (piece → q8 score):
    * dp[j] = max over i ∈ [j−L, j) of dp[i] + score(word[i..j)), ties
    * broken toward the SMALLEST i (the oracle's ROW_NUMBER ... ORDER BY
    * val DESC, bp ASC). Exact 64-bit integer adds — bit-identical
    * across engines. Every character of a training word is in the
    * vocabulary, so an unknown character is a CONTRACT violation and
    * throws rather than silently diverging from the oracle's join-based
    * DP (where the word would just drop). */
  def segment(word: String, vocab: Map[String, Long],
              maxPieceLen: Int): List[String] = {
    val n = word.length
    val NegInf = Long.MinValue / 4
    val dp = Array.fill(n + 1)(NegInf)
    val bp = Array.fill(n + 1)(-1)
    dp(0) = 0L
    var j = 1
    while (j <= n) {
      var best = NegInf
      var bi = -1
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        if (dp(i) > NegInf) {
          val sc = vocab.get(word.substring(i, j))
          if (sc.isDefined) {
            val v = dp(i) + sc.get
            if (v > best) { best = v; bi = i } // strict: ties keep smallest i
          }
        }
        i += 1
      }
      dp(j) = if (bi >= 0) best else NegInf
      bp(j) = bi
      j += 1
    }
    require(bp(n) >= 0 || n == 0,
      s"unigram segment: no path for '$word' — a character is missing " +
        "from the vocabulary (gate violation)")
    var out = List.empty[String]
    var cur = n
    while (cur > 0) { out = word.substring(bp(cur), cur) :: out; cur = bp(cur) }
    out
  }

  final case class Trained(
      vocab: Seq[(String, Long, Long)], // (piece, final usage, score_q8)
      segmented: Seq[(String, Long, Seq[String])]) // (word, freq, pieces), final pass

  /** The training words of a BPE run: its final table with the
    * delimiters stripped, gated to length ≤ `maxLen`. */
  def wordsFrom(bpe: BpeTrain.Trained, maxLen: Int): Seq[(String, Long)] =
    bpe.finalWords.iterator
      .map { case (sym, f) => (sym.replace(BpeTrain.Sep, ""), f) }
      .filter(_._1.length <= maxLen)
      .toSeq

  def train(s: SparkSession, d: String): Trained =
    trainFromWords(wordsFrom(graft.SharedStages.bpeTrained(s, d), MaxWordLen),
      MaxPieceLen, SeedMulti, KeepMulti, EmRounds)

  /** The hard-EM loop over a word table (word, freq): seed from the
    * occurrence-weighted substrings of length 1..`maxPieceLen` (every
    * char plus the top `seedMulti` multi-char ones by (count DESC, p)),
    * then `emRounds` Viterbi passes; after pass 1 the vocabulary is
    * pruned to the chars plus the top `keepMulti` used multis, and
    * after every pass but the last the scores are re-estimated from
    * usage + 1. Mirrored CTE-for-pass by [[duckdbTrainCtes]] and
    * [[UnigramDeep.duckdbChainCtes]] — keep in lockstep. */
  def trainFromWords(words: Seq[(String, Long)], maxPieceLen: Int,
                     seedMulti: Int, keepMulti: Int,
                     emRounds: Int): Trained = {
    require(words.nonEmpty, "unigram: empty word table")
    val sub = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, f) =>
      var l = 1
      while (l <= maxPieceLen) {
        var i = 0
        while (i + l <= w.length) {
          val p = w.substring(i, i + l)
          sub.update(p, sub.getOrElse(p, 0L) + f)
          i += 1
        }
        l += 1
      }
    }
    val chars = sub.iterator.filter(_._1.length == 1).toSeq.sortBy(_._1)
    val multi = sub.iterator.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(seedMulti)
    var sc: Map[String, Long] = scores(chars ++ multi)
    var kept: Seq[String] = Nil
    var usage: Map[String, Long] = Map.empty
    var seg: Seq[(String, Long, Seq[String])] = Nil
    for (pass <- 1 to emRounds) {
      seg = words.map { case (w, f) => (w, f, segment(w, sc, maxPieceLen)) }
      val u = scala.collection.mutable.HashMap.empty[String, Long]
      seg.foreach { case (_, f, ps) =>
        ps.foreach(p => u.update(p, u.getOrElse(p, 0L) + f))
      }
      usage = u.toMap
      if (pass == 1) {
        // prune: every char survives (coverage); top-keepMulti used multis
        val keptMulti = multi.iterator.map(_._1)
          .filter(p => usage.getOrElse(p, 0L) > 0L).toSeq
          .sortBy(p => (-usage(p), p)).take(keepMulti)
        kept = chars.map(_._1) ++ keptMulti
      }
      // re-estimate with add-one smoothing (an absorbed piece has u = 0);
      // after the final pass the scores feed the vocab report unchanged
      if (pass < emRounds)
        sc = scores(kept.map(p => (p, usage.getOrElse(p, 0L) + 1L)))
    }
    val vocab = kept.sorted.map(p => (p, usage.getOrElse(p, 0L), sc(p)))
    Trained(vocab, seg)
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
    * split by ROW_NUMBER (val DESC, bp ASC) — [[segment]]'s
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
    // (val DESC, bp ASC) — `segment`'s tie-break.
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
