package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.text.TextFunctions.tokens

/** DEEP BPE vocabulary training — the realistic-depth completion of
  * [[BpeTrain]] (whose 12 learned merges exercise the machinery but
  * certify a three-orders-of-magnitude-miniature artifact; a shipped
  * vocabulary is 32k–256k merges).
  *
  * Two standard moves make depth both POSSIBLE and affordable here:
  *
  *  1. SentencePiece's no-pre-tokenization convention: the space is a
  *     symbol (the `▁` marker, spelled [[Marker]]), so merges cross
  *     word boundaries and the merge space is the corpus's character
  *     sequences, not its lexicon. This matters doubly on the test
  *     corpus, whose lexicon is 31 words — word-bounded BPE dries up
  *     at ~90 merges no matter the corpus size, while marker-joined
  *     [[ChunkWords]]-word chunks (the sentence-sized training units
  *     SentencePiece feeds its trainer) carry thousands of distinct
  *     merge opportunities at every SF.
  *  2. The candidate truncation every production trainer applies
  *     (SentencePiece caps its candidate tables the same way): train
  *     on the top-[[CapWords]] distinct chunks by (frequency DESC,
  *     chunk) — ONE distributed corpus pass (map-side-combined count
  *     + a distributed top-k), after which every training round is
  *     candidate-table-sized, not corpus-sized. The capped table then
  *     goes through [[BpeTrain.trainFromWords]] — the ONE merge loop,
  *     the shallow trainer's — for [[DeepMerges]] rounds driver-side
  *     (the repo's bounded-collect discipline: ≤ CapWords · chunk-len
  *     bytes, the "prune-capped vocab" class): the corpus pass scales
  *     with the data, the loop does not scale with the data AT ALL.
  *
  * The DuckDB oracle replays ALL [[DeepMerges]] rounds as unrolled
  * MATERIALIZED CTEs over the same capped table — linear cost per
  * round at a CapWords-bounded table, which is what un-bounds the
  * round count the corpus-sized replay was stuck at (measured:
  * ~0.1 s/round corpus-sized vs ~0.01 s/round capped). BpeDeepSpec
  * additionally drives the loop to 1024 merges against an independent
  * reference implementation.
  */
object BpeDeep {
  val DeepMerges = 256
  val CapWords = 4096
  val ChunkWords = 4
  /** Checkpoint depths for the depth gate (`bpe_depth_gate`): the
    * piece total of the capped table is recorded at each — ONE
    * training chain serves every rung, because depth-d state is a
    * prefix of the deep chain (BPE is greedy-incremental). Must end
    * at [[DeepMerges]]. */
  val DepthLadder = Seq(32, 64, 128, DeepMerges)
  /** SentencePiece's ▁ word-start marker, spelled as an ASCII char the
    * corpus alphabet ([a-z0-9 ]) cannot collide with. */
  val Marker = "_"

  /** The depth gate's decision rule (`bpe_depth_gate`): smallest
    * DepthLadder rung whose piece total is within 5% of the deepest
    * rung's — exact integer cross-multiplication (total_freq is
    * depth-invariant and cancels out of the fertility ratio). */
  def chooseDepth(depthPieces: Map[Int, Long]): Int = {
    val deepest = DepthLadder.last
    val pMax = depthPieces(deepest)
    DepthLadder.find(k => depthPieces(k) * 100 <= pMax * 105)
      .getOrElse(deepest)
  }

  /** The capped candidate table: marker-joined [[ChunkWords]]-word
    * chunks ("_the_fast_key_order" — the SentencePiece sentence-unit
    * shape), alphabet-gated, top [[CapWords]] by (freq DESC, chunk) —
    * one distributed pass, one bounded top-k to the driver. */
  def cappedWords(s: SparkSession, d: String): Seq[(String, Long)] =
    graft.Tables.parallelize(graft.Tables.documents(s, d))
      .select(tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(explode(expr(
        s"transform(sequence(0, (size(toks) - 1) DIV $ChunkWords), " +
          s"g -> concat('$Marker', array_join(slice(toks, g * $ChunkWords + 1, $ChunkWords), '$Marker')))"))
        .as("word"))
      .filter(col("word").rlike("^[A-Za-z0-9_]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(CapWords)
      .collect()
      .map(r => (BpeTrain.delimit(r.getString(0)), r.getLong(1))).toSeq

  def train(s: SparkSession, d: String): BpeTrain.Trained =
    BpeTrain.trainFromWords(cappedWords(s, d), DeepMerges, DepthLadder)

  // ------------------------------------------------------------ oracle

  /** Deep replay at TWO CTEs per round (dm_t: inline pair-count →
    * top-1; dwf_t: rewrite), MATERIALIZED throughout — what un-binds
    * the round count from BpeTrain's 4-CTE-per-round unrolling:
    * DuckDB's binder walks the CTE dependency chain against its
    * 1000-node expression-depth limit (measured: a 990-CTE chain
    * binds, 1100 does not), so 2/round certifies to ~450 merges and
    * [[DeepMerges]] = 256 binds with wide margin at ~0.15 s/round —
    * CapWords-bounded, so the oracle price is SCALE-INDEPENDENT.
    * A fully depth-unbounded recursive-CTE replay (one-row state,
    * LATERAL argmax per iteration) was built and verified correct, but
    * DuckDB 1.0 executes it at ~1 s/iteration with erratic scaling
    * (32 rounds: 7–30 s depending on cap size) — 10× the unrolled
    * cost at 256 rounds; it remains the escape hatch if a future
    * vocabulary needs >450 gated merges. Spark-side depth is already
    * unbounded (BpeDeepSpec drives 1024 merges against an independent
    * array-based reference). */
  /** Just the capped candidate table (dch → dw0) — the corpus-scale
    * prefix both DEEP trainers replay from: [[duckdbDeepCtes]] appends
    * the BPE merge rounds; [[UnigramDeep.duckdbDeepCtes]] appends the
    * EM chain. One definition so the two trainers' oracles are
    * guaranteed to select the identical candidate set. */
  def duckdbCappedCtes(tokensSqlExpr: String): String =
    s"""dch AS MATERIALIZED (
       |  SELECT '$Marker' || list_aggregate(
       |      list_slice(toks, g * $ChunkWords + 1, g * $ChunkWords + $ChunkWords),
       |      'string_agg', '$Marker') AS word
       |  FROM (SELECT $tokensSqlExpr AS toks FROM documents) q,
       |    LATERAL (SELECT unnest(range(0, (len(toks) + ${ChunkWords - 1}) // $ChunkWords)) AS g) u
       |  WHERE len(toks) > 0),
       |dw0 AS MATERIALIZED (
       |  SELECT word, freq FROM (
       |    SELECT word, COUNT(*) AS freq FROM dch
       |    WHERE regexp_full_match(word, '[A-Za-z0-9_]+')
       |    GROUP BY 1)
       |  ORDER BY freq DESC, word LIMIT $CapWords)""".stripMargin

  def duckdbDeepCtes(tokensSqlExpr: String,
                     nMerges: Int = DeepMerges): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${duckdbCappedCtes(tokensSqlExpr)},
         |dwf0 AS MATERIALIZED (
         |  SELECT chr(31) || list_aggregate(list_transform(string_split(word, ''),
         |      ch -> ch || chr(31)), 'string_agg', '') AS sym, freq
         |  FROM dw0)""".stripMargin)
    for (t <- 1 to nMerges) {
      val p = s"dwf${t - 1}"
      sb.append(
        s""",
           |dm$t AS MATERIALIZED (
           |  SELECT a, b, c,
           |    chr(31) || a || chr(31) || b || chr(31) AS pat,
           |    chr(31) || a || b || chr(31) AS rep
           |  FROM (
           |    SELECT s[CAST(i AS INT)] AS a, s[CAST(i AS INT) + 1] AS b,
           |      CAST(SUM(freq) AS BIGINT) AS c
           |    FROM (SELECT list_filter(string_split(sym, chr(31)), x -> x <> '') AS s,
           |            freq FROM $p) q,
           |      LATERAL (SELECT unnest(range(1, len(s))) AS i) t2
           |    GROUP BY 1, 2)
           |  ORDER BY c DESC, a, b LIMIT 1),
           |dwf$t AS MATERIALIZED (
           |  SELECT replace(replace(w.sym, m.pat, m.rep), m.pat, m.rep) AS sym,
           |    w.freq
           |  FROM $p w, dm$t m)""".stripMargin)
    }
    sb.toString
  }

  /** Balanced UNION ALL tree over the dm_t merge rows — log-depth, so
    * the merge-table select adds ~8 levels instead of a 256-deep
    * union chain (which alone blows the binder limit). */
  def duckdbMergeTree(lo: Int = 1, hi: Int = DeepMerges): String =
    if (lo == hi)
      s"SELECT CAST($lo AS INT) AS merge_rank, a, b, c AS pair_count FROM dm$lo"
    else {
      val mid = (lo + hi) / 2
      s"(${duckdbMergeTree(lo, mid)} UNION ALL ${duckdbMergeTree(mid + 1, hi)})"
    }
}
