package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.text.{BpeDeep, BpeTrain, UnigramDeep}
import graft.text.TextFunctions.{portableHashSql, tokensSql}

/** Deep-tokenizer gates (SURVEY tokenizer family, realistic depth):
  * the 12-merge `bpe_train` certifies the machinery; these certify a
  * [[BpeDeep.DeepMerges]]-merge vocabulary — the depth class a
  * training pipeline actually ships — end to end against a full
  * DuckDB replay over the same capped candidate table.
  *
  *  - `bpe_train_deep`: the learned merge table itself, all
  *    [[BpeDeep.DeepMerges]] rows hash-gated (every argmax decision,
  *    every tie-break, every rewrite feeding the next round).
  *  - `bpe_deep_encode`: the encode receipt on the deep vocabulary —
  *    deterministic piece ids (corpus count DESC, piece), per-word id
  *    sequences folded into one portable checksum (the encode_shards
  *    discipline): a drift in ANY word's segmentation or ANY piece's
  *    rank desyncs the row.
  *
  * Scale: the corpus-sized work in both engines is ONE word-count
  * pass; everything after is bounded by [[BpeDeep.CapWords]] — the
  * documented SentencePiece-style candidate truncation that makes
  * realistic depth affordable at any corpus size.
  */
object TokDeepQueries {

  private def bpeTrainDeep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.SharedStages.bpeDeepTrained(s, d).merges
      .toDF("merge_rank", "a", "b", "pair_count")
  }

  private val bpeTrainDeepSql =
    s"""WITH ${BpeDeep.duckdbDeepCtes(tokensSql("text"))}
       |SELECT merge_rank, a, b, pair_count FROM ${BpeDeep.duckdbMergeTree()}""".stripMargin

  // vocab-sized post-processing of the trained state (≤ CapWords
  // rows) — the corpus-scale pass already happened in cappedWords
  private def bpeDeepEncode(s: SparkSession, d: String): DataFrame =
    encodeReceipt(s, BpeTrain.segmented(graft.SharedStages.bpeDeepTrained(s, d)))

  private val bpeDeepEncodeSql =
    s"""WITH ${BpeDeep.duckdbDeepCtes(tokensSql("text"))},
       |dpieces AS MATERIALIZED (
       |  SELECT replace(sym, chr(31), '') AS word,
       |    list_filter(string_split(sym, chr(31)), x -> x <> '') AS pieces,
       |    freq
       |  FROM dwf${BpeDeep.DeepMerges}),
       |dpp AS MATERIALIZED (
       |  SELECT word, unnest(pieces) AS piece,
       |    unnest(range(1, len(pieces) + 1)) AS ppos, freq
       |  FROM dpieces),
       |dvocab AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS n
       |  FROM dpp GROUP BY 1),
       |dvid AS (SELECT piece,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, piece) AS BIGINT) AS id
       |  FROM dvocab),
       |dwid AS MATERIALIZED (
       |  SELECT word,
       |    string_agg(CAST(id AS VARCHAR), ',' ORDER BY ppos) AS ids,
       |    COUNT(*) AS np, MAX(freq) AS freq
       |  FROM dpp JOIN dvid USING (piece) GROUP BY 1)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dvid) AS vocab_size,
       |  CAST(SUM(freq) AS BIGINT) AS total_freq,
       |  CAST(SUM(freq * np) AS BIGINT) AS total_pieces,
       |  CAST(SUM(freq * np) AS DOUBLE) / CAST(SUM(freq) AS DOUBLE)
       |    AS fertility,
       |  CAST(SUM(${portableHashSql("word || ':' || ids")} % 1000000007)
       |    AS BIGINT) AS ids_checksum
       |FROM dwid""".stripMargin

  // --------------------------------------------------- bpe_depth_gate
  // The measure→act gate for the ONE knob the deep trainer introduced:
  // DeepMerges itself (the lsh_width / lex_df_gate / store_rebucket
  // discipline — a tuning constant earns an oracle-gated decision row
  // derived from measurements). BPE is greedy-incremental, so depth-d
  // state is a prefix of the deep chain: ONE training run yields the
  // capped table's piece total at every DepthLadder rung, and the gate
  // chooses the SMALLEST depth whose compression is within 5% of the
  // deepest rung's — exact integer cross-multiplication
  // pieces(d)·100 ≤ pieces(max)·105 (total_freq is depth-invariant and
  // cancels), no float threshold to drift. The oracle replays the same
  // chain (the dwf_t CTEs already materialize every intermediate
  // state) and derives the same row. A depth the gate would shrink is
  // wasted trainer rounds; one it would grow is a fertility cliff —
  // either way the decision is now measured, not asserted.
  // Columns and the oracle's CASE chain are DERIVED from
  // BpeDeep.DepthLadder (one `pieces_<d>` column per rung), so a ladder
  // change cannot desync the Spark gate from the DuckDB gate or throw at
  // runtime on a missing rung — both sides regenerate together.
  private def bpeDepthGate(s: SparkSession, d: String): DataFrame = {
    val t = graft.SharedStages.bpeDeepTrained(s, d)
    val dp = t.depthPieces.toMap
    val ladder = BpeDeep.DepthLadder
    require(ladder.forall(dp.contains),
      s"depthPieces rungs ${dp.keys.toSeq.sorted} != DepthLadder $ladder")
    val deepest = ladder.last
    val chosen = BpeDeep.chooseDepth(dp)
    val totalFreq = t.finalWords.iterator.map(_._2).sum
    // Seq[Any] element-wise (NOT a bare Seq(chosen, fert, fert):
    // numeric widening would unify Int+Double to Seq[Double] and box
    // chosen_merges as a Double, breaking the IntegerType schema slot)
    val values: Seq[Any] =
      Seq[Any](t.finalWords.size.toLong, totalFreq) ++
        ladder.map(r => dp(r): Any) ++
        Seq[Any](chosen, dp(deepest).toDouble / totalFreq.toDouble,
          dp(chosen).toDouble / totalFreq.toDouble)
    val schema = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField("n_words",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("total_freq",
          org.apache.spark.sql.types.LongType)) ++
        ladder.map(r => org.apache.spark.sql.types.StructField(
          s"pieces_$r", org.apache.spark.sql.types.LongType)) ++
        Seq(
          org.apache.spark.sql.types.StructField("chosen_merges",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("fertility_deep",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("fertility_chosen",
            org.apache.spark.sql.types.DoubleType)))
    s.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row.fromSeq(values)),
      schema)
  }

  // Derived from BpeDeep.DepthLadder like the Spark side above: the
  // p<d> aliases, the pieces_<d> projection, and both CASE chains are
  // generated per rung, so the two gates can never disagree on the
  // ladder shape.
  private val bpeDepthGateSql = {
    val ladder = BpeDeep.DepthLadder
    val deepest = ladder.last
    val pieces = (d: Int) =>
      s"""SELECT $d AS d, CAST(SUM(freq * len(list_filter(
         |    string_split(sym, chr(31)), x -> x <> ''))) AS BIGINT) AS pieces
         |  FROM dwf$d""".stripMargin
    val pAliases = ladder.map(d =>
      s"MAX(CASE WHEN d = $d THEN pieces END) AS p$d").mkString(",\n    ")
    val piecesCols = ladder.map(d => s"p$d AS pieces_$d").mkString(", ")
    // within-5%-of-deepest arms, shallowest rung first (the gate's order)
    val chosenArms = ladder.init.map(d =>
      s"WHEN p$d * 100 <= p$deepest * 105 THEN $d").mkString("\n       ")
    val chosenPieceArms = ladder.init.map(d =>
      s"WHEN p$d * 100 <= p$deepest * 105 THEN p$d").mkString("\n       ")
    s"""WITH ${BpeDeep.duckdbDeepCtes(tokensSql("text"))},
       |dpt AS MATERIALIZED (
       |  ${ladder.map(pieces).mkString("\n  UNION ALL\n  ")}),
       |dpv AS (SELECT
       |    $pAliases
       |  FROM dpt),
       |dbs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(freq) AS BIGINT) AS total_freq
       |  FROM dwf$deepest)
       |SELECT n_words, total_freq,
       |  $piecesCols,
       |  CAST(CASE $chosenArms
       |       ELSE $deepest END AS INT) AS chosen_merges,
       |  CAST(p$deepest AS DOUBLE) / CAST(total_freq AS DOUBLE)
       |    AS fertility_deep,
       |  CAST(CASE $chosenPieceArms
       |       ELSE p$deepest END AS DOUBLE) / CAST(total_freq AS DOUBLE)
       |    AS fertility_chosen
       |FROM dbs, dpv""".stripMargin
  }

  // --------------------------------------------- unigram_train_deep
  // The depth-matched deep unigram vocabulary ([[UnigramDeep]]): 256
  // learned multi-char pieces (= BpeDeep.DeepMerges learned units) +
  // the coverage chars, hard-EM'd for 4 Viterbi passes over the SAME
  // capped chunk table BPE-deep trains on. Every row hash-gated —
  // piece, final-pass usage, and the exact q8 score that produced the
  // final segmentation. The oracle replays seed counts, all four
  // score ladders and all four DP unrolls with the same parametrized
  // generators the shallow trainer certifies.
  private def unigramTrainDeep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.SharedStages.unigramDeepTrained(s, d).vocab
      .toDF("piece", "n", "score")
  }

  private val unigramTrainDeepSql = {
    val fin = UnigramDeep.EmRounds
    s"""WITH ${UnigramDeep.duckdbDeepCtes(tokensSql("text"))}
       |SELECT k.p AS piece, COALESCE(u.u, 0) AS n, s.score
       |FROM udk k
       |LEFT JOIN udu$fin u ON u.p = k.p
       |JOIN uds${fin - 1} s ON s.piece = k.p""".stripMargin
  }

  /** Portable 60-bit doc/word hash folded mod 1e9+7 — identical to
    * `portableHashSql(x) % 1000000007` in the oracle. */
  private def ph(str: String): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(str.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15), 16)

  /** The encode receipt of a trained segmentation (word, freq, pieces):
    * piece ids by (corpus count DESC, piece), one portable checksum
    * over every word's id sequence, and the corpus totals — one row. */
  private def encodeReceipt(s: SparkSession,
      words: Seq[(String, Long, Seq[String])]): DataFrame = {
    import s.implicits._
    val vocab = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (_, f, ps) =>
      ps.foreach(p => vocab.update(p, vocab.getOrElse(p, 0L) + f))
    }
    val ids = vocab.toSeq.sortBy { case (p, n) => (-n, p) }.zipWithIndex
      .map { case ((p, _), i) => p -> (i + 1).toLong }.toMap
    val checksum = words.iterator.map { case (w, _, ps) =>
      ph(w + ":" + ps.map(ids).mkString(",")) % 1000000007L
    }.sum
    val totalPieces = words.iterator
      .map { case (_, f, ps) => ps.length.toLong * f }.sum
    val totalFreq = words.iterator.map(_._2).sum
    Seq((words.size.toLong, vocab.size.toLong, totalFreq, totalPieces,
        totalPieces.toDouble / totalFreq.toDouble, checksum))
      .toDF("n_words", "vocab_size", "total_freq", "total_pieces",
        "fertility", "ids_checksum")
  }

  // --------------------------------------------- unigram_deep_encode
  // The encode receipt on the deep unigram vocabulary — the
  // bpe_deep_encode twin: deterministic piece ids (final-pass usage
  // DESC, piece), per-chunk id sequences (ordered by piece start
  // position) folded into one portable checksum. A drift in ANY
  // chunk's segmentation or ANY piece's rank desyncs the row.
  private def unigramDeepEncode(s: SparkSession, d: String): DataFrame =
    encodeReceipt(s, graft.SharedStages.unigramDeepTrained(s, d).segmented)

  private val unigramDeepEncodeSql = {
    val fin = UnigramDeep.EmRounds
    s"""WITH ${UnigramDeep.duckdbDeepCtes(tokensSql("text"))},
       |udvoc AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS n
       |  FROM udpc$fin GROUP BY 1),
       |udvid AS (SELECT piece,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, piece) AS BIGINT) AS id
       |  FROM udvoc),
       |udwid AS MATERIALIZED (
       |  SELECT word,
       |    string_agg(CAST(id AS VARCHAR), ',' ORDER BY bp) AS ids,
       |    COUNT(*) AS np, MAX(freq) AS freq
       |  FROM udpc$fin JOIN udvid USING (piece) GROUP BY 1)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM udvid) AS vocab_size,
       |  CAST(SUM(freq) AS BIGINT) AS total_freq,
       |  CAST(SUM(freq * np) AS BIGINT) AS total_pieces,
       |  CAST(SUM(freq * np) AS DOUBLE) / CAST(SUM(freq) AS DOUBLE)
       |    AS fertility,
       |  CAST(SUM(${portableHashSql("word || ':' || ids")} % 1000000007)
       |    AS BIGINT) AS ids_checksum
       |FROM udwid""".stripMargin
  }

  // -------------------------------------------------- tok_deep_gate
  // The tokenizer-choice gate RE-DERIVED AT MATCHED DEPTH (the r16
  // verdict's asymmetry fix): 256-merge deep BPE vs 256-piece deep
  // unigram, head-to-head on the identical capped chunk table (BPE's
  // side gated to the same MaxChunkLen the unigram trainer gates on,
  // so bpe_freq = uni_freq is a cross-check exactly as in tok_gate).
  // Decision: exact integer cross-multiplication, ties to BPE — the
  // tok_gate rule verbatim, now comparing equal depths. BigInt on the
  // driver / HUGEINT in the oracle (corpus-scale token counts
  // overflow a 64-bit cross-product).
  private def tokDeepGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bpeT = graft.SharedStages.bpeDeepTrained(s, d)
    val uniT = graft.SharedStages.unigramDeepTrained(s, d)
    var bpeP, bpeF = 0L
    BpeTrain.segmented(bpeT).foreach { case (w, f, ps) =>
      if (w.length <= UnigramDeep.MaxChunkLen) {
        bpeP += f * ps.length
        bpeF += f
      }
    }
    var uniP, uniF = 0L
    uniT.segmented.foreach { case (_, f, ps) =>
      uniP += f * ps.length; uniF += f
    }
    val chosen =
      if (BigInt(bpeP) * BigInt(uniF) <= BigInt(uniP) * BigInt(bpeF)) "bpe"
      else "unigram"
    Seq((bpeP, bpeF, uniP, uniF,
        bpeP.toDouble / bpeF.toDouble, uniP.toDouble / uniF.toDouble,
        chosen))
      .toDF("bpe_pieces", "bpe_freq", "uni_pieces", "uni_freq",
        "bpe_fertility", "uni_fertility", "chosen")
  }

  private val tokDeepGateSql = {
    val fin = UnigramDeep.EmRounds
    s"""WITH ${BpeDeep.duckdbDeepCtes(tokensSql("text"))},
       |${UnigramDeep.duckdbChainCtes},
       |tdb AS (
       |  SELECT CAST(SUM(freq * len(list_filter(
       |      string_split(sym, chr(31)), x -> x <> ''))) AS BIGINT) AS bpe_pieces,
       |    CAST(SUM(freq) AS BIGINT) AS bpe_freq
       |  FROM dwf${BpeDeep.DeepMerges}
       |  WHERE length(replace(sym, chr(31), '')) <= ${UnigramDeep.MaxChunkLen}),
       |tdu AS (
       |  SELECT CAST(SUM(freq * np) AS BIGINT) AS uni_pieces,
       |    CAST(SUM(freq) AS BIGINT) AS uni_freq
       |  FROM udnp$fin)
       |SELECT bpe_pieces, bpe_freq, uni_pieces, uni_freq,
       |  CAST(bpe_pieces AS DOUBLE) / CAST(bpe_freq AS DOUBLE)
       |    AS bpe_fertility,
       |  CAST(uni_pieces AS DOUBLE) / CAST(uni_freq AS DOUBLE)
       |    AS uni_fertility,
       |  CASE WHEN CAST(bpe_pieces AS HUGEINT) * uni_freq
       |         <= CAST(uni_pieces AS HUGEINT) * bpe_freq
       |       THEN 'bpe' ELSE 'unigram' END AS chosen
       |FROM tdb, tdu""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("bpe_train_deep", bpeTrainDeep, Some(bpeTrainDeepSql)),
    QueryDef("bpe_deep_encode", bpeDeepEncode, Some(bpeDeepEncodeSql)),
    QueryDef("bpe_depth_gate", bpeDepthGate, Some(bpeDepthGateSql)),
    QueryDef("unigram_train_deep", unigramTrainDeep, Some(unigramTrainDeepSql)),
    QueryDef("unigram_deep_encode", unigramDeepEncode, Some(unigramDeepEncodeSql)),
    QueryDef("tok_deep_gate", tokDeepGate, Some(tokDeepGateSql)))
}
