package graft.text

import org.apache.spark.sql.SparkSession

/** DEEP unigram-LM tokenizer training — the realistic-depth completion
  * of [[UnigramTrain]], and the depth-symmetric twin of [[BpeDeep]]
  * (the r16 verdict's remaining asymmetry: a 256-merge deep BPE was
  * being gated against a 32-piece shallow unigram, so `tok_gate`
  * compared unequal depths).
  *
  * Same two moves that made BPE depth affordable:
  *
  *  1. Train on [[BpeDeep]]'s capped candidate table — the marker-
  *     joined [[BpeDeep.ChunkWords]]-word chunks, top
  *     [[BpeDeep.CapWords]] by (freq DESC, chunk), further gated to
  *     length ≤ [[MaxChunkLen]] (which bounds the oracle's DP unroll
  *     exactly the way `MaxWordLen` bounds the shallow one; the cap
  *     covers ~p99 of chunk mass at every measured SF). Chunks cross
  *     word boundaries via the `_` marker, so the candidate space is
  *     corpus character sequences — SentencePiece's convention, and
  *     the same one [[BpeDeep]] uses, which keeps the deep gate an
  *     apples-to-apples comparison ON THE SAME TRAINING UNITS.
  *  2. The EM loop runs driver-side over the capped table (the
  *     bounded-collect discipline: ≤ CapWords · chunk-len bytes). ONE
  *     corpus pass builds the candidate table — and it is the SAME
  *     pass BPE-deep already paid ([[graft.SharedStages.bpeDeepTrained]]
  *     memoizes it; [[UnigramTrain.wordsFrom]] recovers the chunk table
  *     by stripping the delimiters from its `finalWords`, so the two
  *     trainers are guaranteed the identical candidate set). The corpus
  *     pass scales with the data; the EM loop does not scale with the
  *     data AT ALL.
  *
  * Depth-matched parameters: [[KeepDeep]] = 256 learned multi-char
  * pieces — exactly [[BpeDeep.DeepMerges]] learned units — seeded from
  * the top [[SeedDeep]] substring candidates of length ≤
  * [[MaxPieceLenDeep]], hard-EM re-estimated for [[EmRounds]] Viterbi
  * passes (vs the shallow trainer's 2), pruned once after the first
  * pass (SentencePiece prunes to its final vocab the same
  * measure-then-cut way).
  *
  * The training is [[UnigramTrain.trainFromWords]] — the ONE hard-EM
  * loop and Viterbi kernel, the shallow trainer's, called with the
  * deep constants — and the DuckDB oracle replays every pass with the
  * SAME parametrized CTE generators ([[UnigramTrain.duckdbScoreCtes]] /
  * [[UnigramTrain.duckdbDpCtes]], prefix `ud`) the shallow oracle
  * certifies — one spelling of the DP on each engine, at both depths.
  */
object UnigramDeep {
  /** Candidate piece length cap (shallow trains at 4; 8 is the class
    * SentencePiece defaults to — `max_sentencepiece_length`'s spirit
    * at this corpus's word lengths). */
  val MaxPieceLenDeep = 8
  /** Chunk-length gate on the capped table = the oracle DP unroll
    * bound. 28 covers ~p99 of chunk mass at every measured SF (median
    * 22); chunks above it are simply not candidate sentences, the same
    * trim SentencePiece applies to long sentences. */
  val MaxChunkLen = 28
  /** Seed candidate pool (multi-char), several× the kept vocab. */
  val SeedDeep = 1024
  /** Learned multi-char vocabulary — matched to [[BpeDeep.DeepMerges]]
    * (256 learned units) so the deep gate compares equal depths. */
  val KeepDeep = 256
  /** Hard-EM Viterbi passes (shallow runs 2): seed scores → pass 1
    * (prune after) → passes 2..3 re-estimate → pass 4 final. */
  val EmRounds = 4

  def train(s: SparkSession, d: String): UnigramTrain.Trained =
    UnigramTrain.trainFromWords(
      UnigramTrain.wordsFrom(graft.SharedStages.bpeDeepTrained(s, d), MaxChunkLen),
      MaxPieceLenDeep, SeedDeep, KeepDeep, EmRounds)

  // ------------------------------------------------------------ oracle

  /** The EM chain CTEs ASSUMING `dw0` (the capped chunk table) already
    * exists — so a query that also carries the BPE-deep chain (the
    * deep gate) shares one candidate-table prefix. Chain:
    * udw → seed (udsub/udch/udmu/udv0) → uds0 → DP pass 1 → prune
    * (udk/udcnt1) → uds1 → DP 2 → … → DP [[EmRounds]]
    * (udu/udnp/udpc at the final index). */
  def duckdbChainCtes: String = {
    val sb = new StringBuilder
    sb.append(
      s"""udw AS MATERIALIZED (
         |  SELECT word, freq FROM dw0 WHERE length(word) <= $MaxChunkLen),
         |${UnigramTrain.powersCte("ud")},
         |udsub AS MATERIALIZED (
         |  SELECT p, CAST(SUM(freq) AS BIGINT) AS c FROM (
         |    SELECT w.freq, substr(w.word, CAST(ps.i AS INT), CAST(ln.l AS INT)) AS p
         |    FROM udw w,
         |      LATERAL (SELECT unnest(range(1, $MaxPieceLenDeep + 1)) AS l) ln,
         |      LATERAL (SELECT unnest(range(1, length(w.word) - CAST(ln.l AS INT) + 2)) AS i) ps)
         |  GROUP BY 1),
         |udch AS MATERIALIZED (SELECT p, c FROM udsub WHERE length(p) = 1),
         |udmu AS MATERIALIZED (
         |  SELECT p, c FROM udsub WHERE length(p) >= 2
         |  ORDER BY c DESC, p LIMIT $SeedDeep),
         |udv0 AS MATERIALIZED (
         |  SELECT p, c FROM udch UNION ALL SELECT p, c FROM udmu),
         |${UnigramTrain.duckdbScoreCtes(0, "udv0", "ud")},
         |${dpPass(1)},
         |udk AS MATERIALIZED (
         |  SELECT p FROM udch
         |  UNION ALL
         |  SELECT p FROM (
         |    SELECT u.p, u.u FROM udu1 u
         |    WHERE length(u.p) >= 2 AND u.u > 0
         |    ORDER BY u.u DESC, u.p LIMIT $KeepDeep))""".stripMargin)
    // re-estimation rounds: counts from pass r's usage (+1 smoothing)
    // feed scores uds$r, which drive DP pass r+1
    for (r <- 1 until EmRounds) {
      sb.append(
        s""",
           |udcnt$r AS MATERIALIZED (
           |  SELECT k.p, COALESCE(u.u, 0) + 1 AS c
           |  FROM udk k LEFT JOIN udu$r u ON u.p = k.p),
           |${UnigramTrain.duckdbScoreCtes(r, s"udcnt$r", "ud")},
           |${dpPass(r + 1)}""".stripMargin)
    }
    sb.toString
  }

  /** DP pass `pass`, emitting udu$pass/udnp$pass/udpc$pass — joined
    * against the scores estimated after pass−1 (seed = uds0). */
  private def dpPass(pass: Int): String =
    UnigramTrain.duckdbDpCtes(pass, "ud", "udw",
      MaxChunkLen, MaxPieceLenDeep, vocabCte = s"uds${pass - 1}")

  /** Full chain including the shared capped-table prefix — for
    * queries that do NOT also carry the BPE-deep merge rounds. */
  def duckdbDeepCtes(tokensSqlExpr: String): String =
    s"""${BpeDeep.duckdbCappedCtes(tokensSqlExpr)},
       |$duckdbChainCtes""".stripMargin
}
