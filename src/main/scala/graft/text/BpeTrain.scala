package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.text.TextFunctions.tokens

/** Iterated BPE vocabulary training — the loop completing the
  * tokenizer family (`bpe_merge_step` is one iteration of this):
  * learn [[NMerges]] merges over the corpus word multiset, then
  * tokenize the corpus with the learned merges.
  *
  * Algorithm (the standard byte-pair-encoding induction, Sennrich et
  * al. 2016, restricted to an explicit alphabet): words become
  * delimiter-separated symbol sequences; each round counts adjacent
  * symbol pairs weighted by word frequency, picks the most frequent
  * pair (ties: lexicographically smallest), and rewrites every
  * non-overlapping occurrence into the merged symbol.
  *
  * Shape: training runs on the DISTINCT-word frequency table, not the
  * token stream — the classic BPE trick: pair-counting volume is
  * Σ|distinct words|, independent of corpus repetition. One
  * distributed pass builds the table and one collect brings it to the
  * driver (31 rows at sf0.001–sf0.1); [[trainFromWords]] is the ONE
  * merge loop, shared with [[BpeDeep]], which runs it over its capped
  * chunk table at depth.
  *
  * Determinism/oracle discipline: the merge rewrite is TWO passes of
  * literal left-to-right `replace` on the delimited form — Java
  * `String.replace` and DuckDB `replace` are both non-overlapping
  * left-to-right, and two passes make the matching inclusion-maximal
  * (a single pass misses every second occurrence in a chain because
  * adjacent matches share the delimiter). On runs of self-pairs
  * (`aaaa…`) this picks a different — still maximal, still
  * deterministic — matching than textbook greedy-left; documented
  * rather than hidden. ASCII-alnum symbols make JVM and byte-wise
  * string ordering agree, so the argmax tie-break is the oracle's
  * `ORDER BY c DESC, a, b`. The DuckDB oracle replays every round as
  * unrolled MATERIALIZED CTEs (the IvfTrain discipline), so the
  * learned merges are hash-gated, not trusted.
  *
  * The alphabet gate (`[A-Za-z0-9]+`) keeps symbol splitting to ASCII
  * — the standard pre-tokenizer alphabet restriction — and dodges the
  * JVM-code-unit vs RE2-codepoint mismatch on astral characters.
  */
object BpeTrain {
  val NMerges = 12
  val VocabK = 40 // bpe_tokenize: top-k learned-vocabulary report
  /** Symbol delimiter: U+001F (unit separator) — cannot appear in the
    * alphabet-gated words. */
  val Sep = "\u001f"

  final case class Trained(
      merges: Seq[(Int, String, String, Long)], // (rank, a, b, pair_count)
      finalWords: Seq[(String, Long)], // (sym, freq) after all merges
      // Σ freq·pieces of the table after each ladder rank ≤ nMerges —
      // the depth gate's evidence (empty for an empty ladder)
      depthPieces: Seq[(Int, Long)])

  /** Delimited character-symbol form: "low" → "␟l␟o␟w␟". */
  private[text] def delimit(word: String): String =
    word.map(ch => s"$Sep$ch").mkString + Sep

  /** The alphabet-gated distinct-word frequency table, each word in its
    * delimited form — one distributed pass, one collect. */
  private[graft] def wordTable(s: SparkSession, d: String): Seq[(String, Long)] =
    graft.Tables.parallelize(graft.Tables.documents(s, d))
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[A-Za-z0-9]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .collect()
      .map(r => (delimit(r.getString(0)), r.getLong(1))).toSeq
      .sorted

  /** Learn [[NMerges]] merges over the gated word table. */
  def train(s: SparkSession, d: String): Trained =
    trainFromWords(wordTable(s, d), NMerges, Nil)

  /** The BPE merge loop over a delimited word table (sym, freq):
    * `nMerges` argmax rounds, each a pair count over the table, the
    * (count DESC, a, b) argmax, and the two-pass rewrite. `ladder`
    * names the ranks whose piece totals are recorded. */
  def trainFromWords(words0: Seq[(String, Long)], nMerges: Int,
                     ladder: Seq[Int]): Trained = {
    var words = words0.toArray
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    val depthPieces = Seq.newBuilder[(Int, Long)]
    def totalPieces: Long = {
      var s = 0L
      var i = 0
      while (i < words.length) {
        s += words(i)._2 * words(i)._1.split(Sep).count(_.nonEmpty)
        i += 1
      }
      s
    }
    for (rank <- 1 to nMerges) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < words.length) {
        val parts = words(i)._1.split(Sep).filter(_.nonEmpty)
        val freq = words(i)._2
        var j = 0
        while (j < parts.length - 1) {
          val k = (parts(j), parts(j + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + freq)
          j += 1
        }
        i += 1
      }
      require(cnt.nonEmpty,
        s"BPE pair table dried up at rank $rank — corpus too small for $nMerges merges")
      var bk: (String, String) = null
      var bc = Long.MinValue
      cnt.foreach { case (k, c) =>
        if (bk == null || c > bc ||
          (c == bc && (k._1 < bk._1 || (k._1 == bk._1 && k._2 < bk._2)))) {
          bk = k; bc = c
        }
      }
      merges += ((rank, bk._1, bk._2, bc))
      // two literal passes = inclusion-maximal non-overlapping rewrite
      val pat = s"$Sep${bk._1}$Sep${bk._2}$Sep"
      val rep = s"$Sep${bk._1}${bk._2}$Sep"
      words = words.map { case (sym, f) =>
        (sym.replace(pat, rep).replace(pat, rep), f)
      }
      if (ladder.contains(rank)) depthPieces += ((rank, totalPieces))
    }
    Trained(merges.result(), words.toSeq, depthPieces.result())
  }

  /** The finished table as (word, freq, pieces) — the learned
    * segmentation of every training word. */
  def segmented(t: Trained): Seq[(String, Long, Seq[String])] =
    t.finalWords.map { case (sym, f) =>
      (sym.replace(Sep, ""), f, sym.split(Sep).filter(_.nonEmpty).toSeq)
    }

  /** Corpus token frequencies under the learned segmentation: the
    * learned-vocabulary head (symbol, weighted count), top [[VocabK]]
    * by (count DESC, symbol). */
  def vocab(t: Trained): Seq[(String, Long)] = {
    val n = scala.collection.mutable.HashMap.empty[String, Long]
    segmented(t).foreach { case (_, f, ps) =>
      ps.foreach(p => n.update(p, n.getOrElse(p, 0L) + f))
    }
    n.toSeq.sortBy { case (p, c) => (-c, p) }.take(VocabK)
  }

  // ------------------------------------------------------------ oracle

  /** Unrolled DuckDB replay: w0/wf0 (alphabet-gated char-split words),
    * then per round t: p_t (pair counts) → m_t (top-1 + pat/rep) →
    * wf_t (two replace passes). MATERIALIZED throughout — plain CTEs
    * inline at each reference and the chain re-expands exponentially. */
  def duckdbTrainCtes(tokensSqlExpr: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""w0 AS MATERIALIZED (
         |  SELECT word, COUNT(*) AS freq FROM (
         |    SELECT unnest($tokensSqlExpr) AS word FROM documents)
         |  WHERE regexp_full_match(word, '[A-Za-z0-9]+')
         |  GROUP BY 1),
         |wf0 AS MATERIALIZED (
         |  SELECT chr(31) || list_aggregate(list_transform(string_split(word, ''),
         |      ch -> ch || chr(31)), 'string_agg', '') AS sym, freq
         |  FROM w0)""".stripMargin)
    for (t <- 1 to NMerges) {
      val p = s"wf${t - 1}"
      sb.append(
        s""",
           |p$t AS MATERIALIZED (
           |  SELECT s[CAST(i AS INT)] AS a, s[CAST(i AS INT) + 1] AS b,
           |    CAST(SUM(freq) AS BIGINT) AS c
           |  FROM (SELECT list_filter(string_split(sym, chr(31)), x -> x <> '') AS s,
           |          freq FROM $p) q,
           |    LATERAL (SELECT unnest(range(1, len(s))) AS i) t2
           |  GROUP BY 1, 2),
           |m$t AS MATERIALIZED (
           |  SELECT a, b, c,
           |    chr(31) || a || chr(31) || b || chr(31) AS pat,
           |    chr(31) || a || b || chr(31) AS rep
           |  FROM p$t ORDER BY c DESC, a, b LIMIT 1),
           |wf$t AS MATERIALIZED (
           |  SELECT replace(replace(w.sym, m.pat, m.rep), m.pat, m.rep) AS sym,
           |    w.freq
           |  FROM $p w, m$t m)""".stripMargin)
    }
    sb.toString
  }
}
