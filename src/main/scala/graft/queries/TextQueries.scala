package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.TextFunctions._

/** Text-analysis operators over `documents` (SURVEY §7.5): token
  * counting, quality scoring, language ID — all pure column expressions
  * (map-only at scale), each mirrored in DuckDB. */
object TextQueries {

  /** Language marker words, checked in fixed priority order for
    * deterministic argmax ties. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "que", "de"),
    "fr" -> Seq("le", "les", "des", "est", "et"))

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  // --------------------------------------------------------- text_stats
  // Per-document token/char counts, type-token ratio, stopword ratio and
  // a deterministic composite quality score.
  private def textStats(s: SparkSession, d: String): DataFrame =
    Tables.parallelize(Tables.documents(s, d))
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_types"),
        // sum(length(tok)) == length of the empty-separator join — a
        // codegen'd ConcatWs instead of an interpreted aggregate() lambda
        // (HOFs serialize across task threads; see MinHashLSH.signatures)
        length(concat_ws("", col("toks"))).cast("long").as("sum_tok_len"),
        markerCount("toks", stopwords).cast("long").as("n_stop"))
      .withColumn("avg_tok_len",
        col("sum_tok_len").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("ttr", col("n_types").cast("double") / col("n_tokens"))
      .withColumn("quality_score",
        least(col("n_tokens"), lit(100)).cast("double") / 100.0 *
          (lit(0.5) + lit(0.5) * col("ttr")))
      .drop("sum_tok_len")

  private def textStatsSql = {
    val toks = tokensSql("text")
    s"""WITH t AS (
       |  SELECT doc_id, text, $toks AS toks FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars_m,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_tok_len,
       |    CAST(${markerCountSql("toks", stopwords)} AS BIGINT) AS n_stop
       |  FROM t)
       |SELECT doc_id, n_chars_m, n_tokens, n_types, n_stop,
       |  CAST(sum_tok_len AS DOUBLE) / n_tokens AS avg_tok_len,
       |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
       |  CAST(n_types AS DOUBLE) / n_tokens AS ttr,
       |  CAST(LEAST(n_tokens, 100) AS DOUBLE) / 100.0 *
       |    (0.5 + 0.5 * (CAST(n_types AS DOUBLE) / n_tokens)) AS quality_score
       |FROM m""".stripMargin
  }

  // -------------------------------------------------------- gopher_rules
  // Gopher-style rule-based quality filtering (Rae et al. 2021, §A1.1),
  // the standard pre-classifier gate: a document passes only if it
  // clears ALL rules. Rendered to this corpus's scale (the published
  // word-count floor of 50 assumes web pages; the synthetic docs run
  // 20–40 tokens, so the floor is 10 — the RULE STRUCTURE is the
  // operator, thresholds are config): word-count bounds, mean-word-
  // length band (3–10), ≥2 stopword hits, and type-token ratio ≥ 0.2
  // (the repetition proxy — heavily duplicated docs collapse their
  // type set). Emits each rule's verdict so curation funnels can price
  // which rule rejects what (the report Gopher's appendix tabulates).
  // Map-only column arithmetic over one scan; composes with
  // curation_funnel/dsir_resample as the cheap first gate at 100 TB.
  /** Built once per (session, dir) via
    * [[graft.SharedStages.gopherReport]] — three query consumers
    * (gopher_rules, quality_auc's gate side, quality_ensemble's
    * rule stage) previously each re-ran the map-only rule pass. */
  private def gopherRules(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.gopherReport(s, d)

  private[graft] def buildGopherRules(s: SparkSession, d: String): DataFrame =
    Tables.parallelize(Tables.documents(s, d))
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        length(concat_ws("", col("toks"))).cast("long").as("sum_tok_len"),
        size(array_distinct(col("toks"))).cast("long").as("n_types"),
        markerCount("toks", stopwords).cast("long").as("n_stop"))
      // every ratio rule carries an explicit n_tokens > 0 conjunct: a
      // zero-token document divides 0/0, where Spark (non-ANSI) yields
      // NULL but DuckDB's IEEE float path yields NaN — and DuckDB
      // orders NaN above every threshold, so an unguarded rule would
      // diverge between the engines on exactly the degenerate docs a
      // quality gate exists to reject. FALSE AND <anything> is FALSE in
      // both engines, so the guard pins the verdict deterministically.
      .withColumn("r_word_count",
        col("n_tokens") >= 10 && col("n_tokens") <= 100000)
      .withColumn("r_mean_word_len",
        col("n_tokens") > 0 &&
          col("sum_tok_len").cast("double") / col("n_tokens") >= 3.0 &&
          col("sum_tok_len").cast("double") / col("n_tokens") <= 10.0)
      .withColumn("r_stopwords", col("n_stop") >= 2)
      .withColumn("r_ttr",
        col("n_tokens") > 0 &&
          col("n_types").cast("double") / col("n_tokens") >= 0.2)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_stopwords") && col("r_ttr"))
      .select(col("doc_id"), col("n_tokens"), col("r_word_count"),
        col("r_mean_word_len"), col("r_stopwords"), col("r_ttr"),
        col("keep"))

  private def gopherRulesSql = {
    val toks = tokensSql("text")
    s"""WITH t AS (
       |  SELECT doc_id, $toks AS toks FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
       |      AS sum_tok_len,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       |    CAST(${markerCountSql("toks", stopwords)} AS BIGINT) AS n_stop
       |  FROM t),
       |r AS (
       |  SELECT doc_id, n_tokens,
       |    n_tokens >= 10 AND n_tokens <= 100000 AS r_word_count,
       |    n_tokens > 0
       |      AND CAST(sum_tok_len AS DOUBLE) / n_tokens >= CAST(3 AS DOUBLE)
       |      AND CAST(sum_tok_len AS DOUBLE) / n_tokens
       |        <= CAST(10 AS DOUBLE) AS r_mean_word_len,
       |    n_stop >= 2 AS r_stopwords,
       |    n_tokens > 0
       |      AND CAST(n_types AS DOUBLE) / n_tokens >= CAST(0.2 AS DOUBLE)
       |      AS r_ttr
       |  FROM m)
       |SELECT doc_id, n_tokens, r_word_count, r_mean_word_len,
       |  r_stopwords, r_ttr,
       |  r_word_count AND r_mean_word_len AND r_stopwords AND r_ttr
       |    AS keep
       |FROM r""".stripMargin
  }

  // ------------------------------------------------------------ lang_id
  // n-gram/marker-word language scoring with deterministic priority-order
  // argmax; emits the per-language scores alongside the prediction.
  /** Built once per (session, dir) via
    * [[graft.SharedStages.langIdReport]] — three query consumers
    * (lang_id, lang_confusion, quality_ensemble's language gate)
    * previously each re-ran the marker scoring pass. */
  private def langId(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.langIdReport(s, d)

  private[graft] def buildLangId(s: SparkSession, d: String): DataFrame = {
    val withScores = langMarkers.foldLeft(
      Tables.parallelize(Tables.documents(s, d))
        .withColumn("toks", tokens(col("text")))) {
      case (df, (lang, markers)) =>
        df.withColumn(s"score_$lang", markerCount("toks", markers).cast("long"))
    }
    val pred = langMarkers.init.foldRight(
      lit(langMarkers.last._1): org.apache.spark.sql.Column) {
      case ((lang, _), acc) =>
        val others = langMarkers.map(_._1).filter(_ != lang)
          .map(o => col(s"score_$lang") >= col(s"score_$o")).reduce(_ && _)
        when(others, lit(lang)).otherwise(acc)
    }
    val outCols = Seq(col("doc_id"), col("lang").as("lang_label"),
      col("lang_pred")) ++ langMarkers.map { case (l, _) => col(s"score_$l") }
    withScores
      .withColumn("lang_pred", pred)
      .select(outCols: _*)
  }

  private def langIdSql = {
    val toks  = tokensSql("text")
    val score = langMarkers.map { case (l, m) =>
      s"CAST(${markerCountSql("toks", m)} AS BIGINT) AS score_$l"
    }.mkString(",\n    ")
    val pred = langMarkers.init.foldRight(s"'${langMarkers.last._1}'") {
      case ((lang, _), acc) =>
        val others = langMarkers.map(_._1).filter(_ != lang)
          .map(o => s"score_$lang >= score_$o").mkString(" AND ")
        s"CASE WHEN $others THEN '$lang' ELSE $acc END"
    }
    s"""WITH t AS (
       |  SELECT doc_id, lang, $toks AS toks FROM documents),
       |scored AS (
       |  SELECT doc_id, lang,
       |    $score
       |  FROM t)
       |SELECT doc_id, lang AS lang_label,
       |  $pred AS lang_pred,
       |  ${langMarkers.map(m => s"score_${m._1}").mkString(", ")}
       |FROM scored""".stripMargin
  }

  // ------------------------------------------------------ lang_confusion
  // Language-ID evaluation: the labeled-vs-predicted confusion matrix
  // over the lang_id scorer — the eval a curation pipeline runs before
  // trusting a classifier to route documents (per-language precision/
  // recall fall straight out of the cells). One keyed count over the
  // per-doc prediction; output ≤ |langs|² rows at any corpus size, and
  // the marker scoring underneath is map-only.
  private def langConfusion(s: SparkSession, d: String): DataFrame =
    langId(s, d)
      .groupBy(col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))

  private def langConfusionSql =
    s"""SELECT lang_label, lang_pred, COUNT(*) AS n
       |FROM (
       |$langIdSql
       |) li GROUP BY 1, 2""".stripMargin

  // ----------------------------------------------------- text_lang_agg
  // Corpus-level rollup: token totals per (label, source) — the grouped
  // shape a curation pipeline reports on.
  private def langAgg(s: SparkSession, d: String): DataFrame =
    Tables.parallelize(Tables.documents(s, d))
      .withColumn("toks", tokens(col("text")))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        max(size(col("toks")).cast("long")).as("max_tokens"))

  private def langAggSql = {
    val toks = tokensSql("text")
    s"""SELECT lang, source, COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(len($toks) AS BIGINT)) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  MAX(len($toks)) AS max_tokens
       |FROM documents
       |GROUP BY lang, source""".stripMargin
  }

  // ---------------------------------------------------- pivot_lang_counts
  // PIVOT surface: doc counts per source crosstabbed over an explicit
  // language list. Explicit pivot values keep the schema static (a
  // values-discovery pivot runs an extra distinct job and makes the
  // output schema data-dependent — wrong for a library operator);
  // absent combinations harmonize to 0 on both engines.
  private val pivotLangs = Seq("de", "en", "es", "fr", "zh")

  private def pivotLangCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .pivot("lang", pivotLangs)
      .agg(count(lit(1)))
      .na.fill(0L, pivotLangs)

  private val pivotLangCountsSql = {
    val cols = pivotLangs.map(l =>
      s"COUNT(CASE WHEN lang = '$l' THEN 1 END) AS $l").mkString(",\n  ")
    s"""SELECT source,
       |  $cols
       |FROM documents
       |GROUP BY source""".stripMargin
  }

  // ------------------------------------------------------------ tok_bpe
  // Subword token counting with a BPE-ish pre-tokenizer regex (the
  // GPT-2 pattern family, minus the lookahead RE2 lacks): contraction
  // suffixes, space-prefixed letter runs, digit runs, punctuation runs.
  // Per-doc subword count + "fertility" (subwords per whitespace word)
  // — the cost model a training pipeline budgets sequence lengths with.
  // Map-only; both engines use leftmost-first alternation (Java regex
  // and DuckDB's RE2), so match counts are identical.
  private val BpePattern =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  private def tokBpe(s: SparkSession, d: String): DataFrame =
    Tables.parallelize(Tables.documents(s, d))
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .cast("long").as("n_subtokens"))
      .withColumn("fertility",
        when(col("n_words") > 0,
          col("n_subtokens").cast("double") / col("n_words")))

  private def tokBpeSql = {
    val toks = tokensSql("text")
    // DuckDB single-quoted strings are escape-free (backslash passes
    // through to RE2 as-is); only quotes need doubling
    val pat  = BpePattern.replace("'", "''")
    s"""SELECT doc_id,
       |  CAST(len($toks) AS BIGINT) AS n_words,
       |  CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_subtokens,
       |  CASE WHEN len($toks) > 0 THEN
       |    CAST(len(regexp_extract_all(text, '$pat')) AS DOUBLE)
       |      / len($toks) END AS fertility
       |FROM documents""".stripMargin
  }

  // -------------------------------------------------------- tok_fertility
  // Per-LANGUAGE tokenizer fertility: Σ subwords / Σ whitespace words
  // per stratum — the corpus-level cost model a multilingual mixture is
  // budgeted with (tok_bpe is the per-document twin). All accumulation
  // is exact integer (order-free); fertility is one IEEE division at
  // the end. One map pass + one keyed aggregation with map-side partial
  // sums — the shape that survives any corpus size.
  private def tokFertility(s: SparkSession, d: String): DataFrame =
    Tables.parallelize(Tables.documents(s, d))
      .select(col("lang"),
        size(tokens(col("text"))).cast("long").as("w"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .cast("long").as("t"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("t")).as("n_subtokens"))
      .withColumn("fertility",
        when(col("n_words") > 0,
          col("n_subtokens").cast("double") / col("n_words")))

  private def tokFertilitySql = {
    val toks = tokensSql("text")
    val pat  = BpePattern.replace("'", "''")
    s"""WITH per AS (
       |  SELECT lang,
       |    CAST(len($toks) AS BIGINT) AS w,
       |    CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS t
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(w) AS BIGINT) AS n_words,
       |  CAST(SUM(t) AS BIGINT) AS n_subtokens,
       |  CASE WHEN CAST(SUM(w) AS BIGINT) > 0 THEN
       |    CAST(CAST(SUM(t) AS BIGINT) AS DOUBLE) / CAST(SUM(w) AS BIGINT)
       |  END AS fertility
       |FROM per GROUP BY lang""".stripMargin
  }

  // ------------------------------------------------------ bpe_merge_step
  // One BPE training iteration, the vocabulary-induction twin of
  // kmeans_step: count adjacent symbol pairs across the corpus word
  // multiset and emit the top-50 merge candidates (char-level = the
  // first iteration; iterating = re-tokenizing with the merged symbol
  // and re-counting). The BPE scale trick is pre-aggregation: pairs are
  // counted over the DISTINCT-word frequency table, not the token
  // stream — pair-explosion volume is Σ|distinct words|, independent of
  // corpus repetition. Shapes: one word aggregation (map-side combine),
  // a codegen'd sequence-explode + substring (no interpreted HOF
  // lambdas), one pair aggregation, TakeOrderedAndProject top-k.
  private val BpeTopK = 50

  private def bpeMergeStep(s: SparkSession, d: String): DataFrame = {
    val wordFreq = Tables.parallelize(Tables.documents(s, d))
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    wordFreq
      .filter(length(col("word")) >= 2)
      .select(col("word"), col("freq"),
        explode(expr("sequence(1, length(word) - 1)")).as("i"))
      .withColumn("pair", expr("substring(word, i, 2)"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair")).limit(BpeTopK)
  }

  private def bpeMergeStepSql = {
    val toks = tokensSql("text")
    s"""WITH w AS (
       |  SELECT unnest($toks) AS word FROM documents),
       |wf AS (
       |  SELECT word, COUNT(*) AS freq FROM w GROUP BY 1),
       |pairs AS (
       |  SELECT substring(word, CAST(t.i AS INT), 2) AS pair, freq
       |  FROM wf, LATERAL (SELECT unnest(range(1, len(word))) AS i) t
       |  WHERE len(word) >= 2)
       |SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
       |FROM pairs GROUP BY 1
       |ORDER BY pair_count DESC, pair LIMIT $BpeTopK""".stripMargin
  }

  // -------------------------------------------- bpe_train, bpe_tokenize
  // The iterated-BPE completion of the tokenizer family:
  // [[graft.text.BpeTrain]] learns NMerges merges over the
  // distinct-word frequency table (one corpus pass collects the table,
  // the merge rounds run driver-side over it), then tokenizes the
  // corpus with the learned merges. bpe_train reports the learned
  // merge table (rank, pair, corpus count); bpe_tokenize the top-k
  // vocabulary under the learned segmentation. The oracle replays the
  // ENTIRE training as unrolled MATERIALIZED CTEs — the learned
  // vocabulary is hash-gated, not trusted. Trained once per
  // (session, dir) via SharedStages.
  private def bpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.SharedStages.bpeTrained(s, d).merges
      .toDF("merge_rank", "a", "b", "pair_count")
  }

  private def bpeTrainSql = {
    val ctes = graft.text.BpeTrain.duckdbTrainCtes(tokensSql("text"))
    val sel = (1 to graft.text.BpeTrain.NMerges)
      .map(t => s"SELECT CAST($t AS INT) AS merge_rank, a, b, c AS pair_count FROM m$t")
      .mkString("\nUNION ALL\n")
    s"WITH $ctes\n$sel"
  }

  private def bpeTokenize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.text.BpeTrain.vocab(graft.SharedStages.bpeTrained(s, d))
      .toDF("symbol", "n")
  }

  private def bpeTokenizeSql = {
    val bt = graft.text.BpeTrain
    s"""WITH ${bt.duckdbTrainCtes(tokensSql("text"))}
       |SELECT symbol, CAST(SUM(freq) AS BIGINT) AS n FROM (
       |  SELECT unnest(list_filter(string_split(sym, chr(31)), x -> x <> '')) AS symbol,
       |    freq FROM wf${bt.NMerges})
       |GROUP BY 1 ORDER BY n DESC, symbol LIMIT ${bt.VocabK}""".stripMargin
  }

  // ------------------------------------ unigram_train, unigram_tokenize
  // SentencePiece-style unigram-LM tokenizer training (Kudo 2018) —
  // the industry-standard BPE twin ([[graft.text.UnigramTrain]]): seed
  // vocabulary from frequent substrings, hard-EM under Viterbi
  // segmentation, prune, re-estimate — driver-side over the words of
  // the BPE trainer's gated table. Scores are exact q8
  // fixed-point log2 integers; the oracle replays the seed counts,
  // both ilog2 ladders, both unrolled DPs and the prune CTE-for-CTE.
  private def unigramTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.SharedStages.unigramTrained(s, d).vocab.toDF("piece", "n", "score")
  }

  private def unigramTrainSql =
    s"""WITH ${graft.text.UnigramTrain.duckdbTrainCtes(tokensSql("text"))}
       |SELECT k.p AS piece, COALESCE(u.u, 0) AS n, s.score
       |FROM ugk1 k
       |LEFT JOIN ugu1 u ON u.p = k.p
       |JOIN ugs1 s ON s.piece = k.p""".stripMargin

  // corpus fertility by word length under the learned segmentation —
  // the "is the tokenizer efficient where the mass is" report (≤ 16
  // rows at any corpus size)
  private def unigramTokenize(s: SparkSession, d: String): DataFrame =
    uniSegmented(s, d)
      .withColumn("np", size(col("pieces")).cast("long"))
      .groupBy(length(col("word")).cast("long").as("wlen"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("freq")).as("total_freq"),
        sum(col("freq") * col("np")).as("total_pieces"))
      .withColumn("fertility",
        col("total_pieces").cast("double") / col("total_freq").cast("double"))

  /** A trained segmentation (word, freq, pieces) as a DataFrame. */
  private def segmentedDF(s: SparkSession,
      rows: Seq[(String, Long, Seq[String])]): DataFrame = {
    import s.implicits._
    rows.toDF("word", "freq", "pieces")
  }

  /** BPE's learned segmentation of the common gated word set — the
    * words ≤ MaxWordLen the unigram trainer trains on. */
  private def bpeSegmented(s: SparkSession, d: String): DataFrame =
    segmentedDF(s, graft.text.BpeTrain.segmented(graft.SharedStages.bpeTrained(s, d))
      .filter(_._1.length <= graft.text.UnigramTrain.MaxWordLen))

  /** The unigram trainer's final-pass segmentation of the same words. */
  private def uniSegmented(s: SparkSession, d: String): DataFrame =
    segmentedDF(s, graft.SharedStages.unigramTrained(s, d).segmented)

  private def unigramTokenizeSql =
    s"""WITH ${graft.text.UnigramTrain.duckdbTrainCtes(tokensSql("text"))}
       |SELECT CAST(length(word) AS BIGINT) AS wlen, COUNT(*) AS n_words,
       |  CAST(SUM(freq) AS BIGINT) AS total_freq,
       |  CAST(SUM(freq * np) AS BIGINT) AS total_pieces,
       |  CAST(SUM(freq * np) AS DOUBLE) / CAST(SUM(freq) AS DOUBLE) AS fertility
       |FROM ugnp1 GROUP BY 1""".stripMargin

  // ----------------------------------------------------------- tok_compare
  // BPE vs unigram-LM head-to-head: corpus fertility by word length
  // under BOTH learned tokenizers on the COMMON gated word multiset
  // (alphabet + length ≤ MaxWordLen) — the report that decides which
  // trainer ships. Both sides come from the session-shared trained
  // states; the per-wlen freq columns double as a cross-check (the
  // unigram trainer trains on the BPE table's words ≤ MaxWordLen, and
  // the oracle counts both sides independently, so bpe_freq = uni_freq
  // per row). ≤ MaxWordLen output rows.
  private def tokCompare(s: SparkSession, d: String): DataFrame = {
    def byLen(seg: DataFrame, pfx: String) =
      seg.withColumn("np", size(col("pieces")).cast("long"))
        .groupBy(length(col("word")).cast("long").as("wlen"))
        .agg(sum(col("freq") * col("np")).as(s"${pfx}_pieces"),
          sum(col("freq")).as(s"${pfx}_freq"))
    val bpe = byLen(bpeSegmented(s, d), "bpe")
    val uni = byLen(uniSegmented(s, d), "uni")
    bpe.join(uni, "wlen")
      .withColumn("bpe_fertility",
        col("bpe_pieces").cast("double") / col("bpe_freq").cast("double"))
      .withColumn("uni_fertility",
        col("uni_pieces").cast("double") / col("uni_freq").cast("double"))
  }

  private def tokCompareSql = {
    val bt = graft.text.BpeTrain
    s"""WITH ${bt.duckdbTrainCtes(tokensSql("text"))},
       |${graft.text.UnigramTrain.duckdbTrainCtes(tokensSql("text"))},
       |bps AS (
       |  SELECT replace(sym, chr(31), '') AS word,
       |    len(list_filter(string_split(sym, chr(31)), x -> x <> '')) AS np,
       |    freq
       |  FROM wf${bt.NMerges}),
       |bpe AS (
       |  SELECT CAST(length(word) AS BIGINT) AS wlen,
       |    CAST(SUM(freq * np) AS BIGINT) AS bpe_pieces,
       |    CAST(SUM(freq) AS BIGINT) AS bpe_freq
       |  FROM bps WHERE length(word) <= ${graft.text.UnigramTrain.MaxWordLen}
       |  GROUP BY 1),
       |uni AS (
       |  SELECT CAST(length(word) AS BIGINT) AS wlen,
       |    CAST(SUM(freq * np) AS BIGINT) AS uni_pieces,
       |    CAST(SUM(freq) AS BIGINT) AS uni_freq
       |  FROM ugnp1 GROUP BY 1)
       |SELECT b.wlen, bpe_pieces, bpe_freq, uni_pieces, uni_freq,
       |  CAST(bpe_pieces AS DOUBLE) / CAST(bpe_freq AS DOUBLE) AS bpe_fertility,
       |  CAST(uni_pieces AS DOUBLE) / CAST(uni_freq AS DOUBLE) AS uni_fertility
       |FROM bpe b JOIN uni u ON u.wlen = b.wlen""".stripMargin
  }

  // ------------------------------------------------------------ tok_gate
  // The measure→act edge on tok_compare's verdict (the lsh_width /
  // whiten_gate / ivf_nprobe_gate discipline, applied to the tokenizer
  // choice): roll the per-word-length head-to-head up to corpus totals
  // and CHOOSE the trainer with lower overall fertility. The decision
  // is the exact integer cross-multiplication
  // bpe_pieces·uni_freq ≤ uni_pieces·bpe_freq (no float threshold to
  // drift; ties go to BPE, the cheaper trainer), so both engines pick
  // the same tokenizer from the same evidence — which the report keeps
  // alongside the verdict.
  private def tokGate(s: SparkSession, d: String): DataFrame =
    tokCompare(s, d)
      .agg(sum(col("bpe_pieces")).as("bpe_pieces"),
        sum(col("bpe_freq")).as("bpe_freq"),
        sum(col("uni_pieces")).as("uni_pieces"),
        sum(col("uni_freq")).as("uni_freq"))
      .withColumn("bpe_fertility",
        col("bpe_pieces").cast("double") / col("bpe_freq").cast("double"))
      .withColumn("uni_fertility",
        col("uni_pieces").cast("double") / col("uni_freq").cast("double"))
      // decimal(38) products: corpus-scale token counts (~10^13 at
      // 100 TB) overflow a BIGINT cross-multiplication; DECIMAL on the
      // Spark side and HUGEINT in the oracle keep the comparison exact
      .withColumn("chosen",
        when(col("bpe_pieces").cast("decimal(38,0)") *
          col("uni_freq").cast("decimal(38,0)") <=
          col("uni_pieces").cast("decimal(38,0)") *
          col("bpe_freq").cast("decimal(38,0)"), lit("bpe"))
          .otherwise(lit("unigram")))

  private def tokGateSql =
    s"""WITH tc AS ($tokCompareSql),
       |tg AS (
       |  SELECT CAST(SUM(bpe_pieces) AS BIGINT) AS bpe_pieces,
       |    CAST(SUM(bpe_freq) AS BIGINT) AS bpe_freq,
       |    CAST(SUM(uni_pieces) AS BIGINT) AS uni_pieces,
       |    CAST(SUM(uni_freq) AS BIGINT) AS uni_freq
       |  FROM tc)
       |SELECT bpe_pieces, bpe_freq, uni_pieces, uni_freq,
       |  CAST(bpe_pieces AS DOUBLE) / CAST(bpe_freq AS DOUBLE)
       |    AS bpe_fertility,
       |  CAST(uni_pieces AS DOUBLE) / CAST(uni_freq AS DOUBLE)
       |    AS uni_fertility,
       |  CASE WHEN CAST(bpe_pieces AS HUGEINT) * uni_freq
       |         <= CAST(uni_pieces AS HUGEINT) * bpe_freq
       |       THEN 'bpe' ELSE 'unigram' END AS chosen
       |FROM tg""".stripMargin

  // ------------------------------------------------------- encode_shards
  // Tokenizer MATERIALIZATION — the final writer a training pipeline
  // actually ships: encode every document to a token-id sequence under
  // the tok_gate-CHOSEN vocabulary and roll the encoded corpus up by
  // the shard_sizes assignment (shard = hash(doc_id) % 16, the same
  // stable-membership contract). The report is one row per shard: doc /
  // word / OOV / piece counts and an id-sequence checksum — so the
  // oracle hash-gates the ENCODED IDS themselves (vocabulary ranks,
  // per-word segmentation, word order), not just sizes. The production
  // write is `perDoc.write.partitionBy("shard")`; this query is the
  // receipt that write emits.
  //
  //  - Piece ids: rank by (corpus piece count DESC, piece) over the
  //    learned segmentation — deterministic on any engine. The
  //    row_number window is vocab-sized (driver-bounded), never corpus-
  //    keyed.
  //  - Both tokenizers encode the COMMON gated word set (alphabet,
  //    length ≤ MaxWordLen — the tok_compare contract); a word outside
  //    it is OOV (counted, skipped in the id stream). Both branches are
  //    computed on ONE pass over the corpus (the word table carries
  //    both encodings), and the gate — replayed exactly as tok_gate —
  //    selects which columns ship, so both UNION-free branches stay
  //    hash-gated regardless of which wins.
  //  - Scale: the corpus-side work is one token explode + one broadcast
  //    join (the word table is distinct-gated-words sized) + one
  //    doc-keyed aggregation + one 16-row rollup. Docs with zero tokens
  //    have no encoded rows and are not counted (the writer would skip
  //    them too).
  //  - checksum: per-doc portable hash of the comma-joined id sequence,
  //    folded mod 1e9+7 before the BIGINT shard sum (5e9 docs per shard
  //    before overflow; the report column widens to DECIMAL(38) past
  //    that — tok_gate discipline).
  private val EncodeShardsN = 16

  /** The per-word encoding table under BOTH learned tokenizers:
    * (word, bpe_ids, bpe_np, uni_ids, uni_np) over the common gated
    * word set — the standing artifact a shard writer (and its
    * streaming twin, a `foreachBatch` of [[encodeReceipts]]) encodes
    * against. Vocab-sized. */
  private[graft] def encodeWordTable(s: SparkSession, d: String): DataFrame = {
    // (word, <pfx>_ids: comma-joined piece ids in order, <pfx>_np)
    def wordIds(words: DataFrame, pfx: String): DataFrame = {
      val occ = words.select(col("word"), col("freq"),
        posexplode(col("pieces")).as(Seq("ppos", "piece")))
      val vocab = occ.groupBy(col("piece"))
        .agg(sum(col("freq")).as("n"))
        // vocab-sized global window (bounded by the learned vocabulary,
        // not the corpus) — the deterministic id assignment
        .withColumn("id", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("piece"))).cast("long"))
        .select(col("piece"), col("id"))
      occ.join(broadcast(vocab), "piece")
        .groupBy(col("word"))
        .agg(
          array_join(expr(
            "transform(array_sort(collect_list(struct(ppos, id))), x -> CAST(x.id AS STRING))"),
            ",").as(s"${pfx}_ids"),
          count(lit(1)).as(s"${pfx}_np"))
    }
    wordIds(bpeSegmented(s, d), "bpe")
      .join(wordIds(uniSegmented(s, d), "uni"), "word")
  }

  /** Per-doc encoded receipt of `docs` (doc_id, text) against a FIXED
    * word table: (doc_id, n_words, n_oov, bpe_np, uni_np, bpe_seq,
    * uni_seq). Stateless given the table — the kernel the batch shard
    * report and the streaming encode twin both run. Docs with zero
    * tokens yield no row (the writer would skip them too). */
  private[graft] def encodeDocs(docs: DataFrame,
      wordTable: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("wpos", "word")))
      .join(broadcast(wordTable), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("bpe_ids").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("bpe_np"), lit(0L))).as("bpe_np"),
        sum(coalesce(col("uni_np"), lit(0L))).as("uni_np"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN bpe_ids IS NOT NULL THEN struct(wpos, bpe_ids) END)), x -> x.bpe_ids)"),
          ",").as("bpe_seq"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN uni_ids IS NOT NULL THEN struct(wpos, uni_ids) END)), x -> x.uni_ids)"),
          ",").as("uni_seq"))

  /** Per-doc receipts (doc_id, n_words, n_oov, n_pieces, id_seq) of
    * `docs` against a FIXED word table under the tokenizer `chosen`
    * ("bpe" | "unigram", `tok_gate`'s pick) — what the shard writer
    * carries per document, and the kernel a streaming encoder runs per
    * micro-batch: stateless given the table, so periodic retraining is
    * a batch-side rebuild swapping the table between batches. OOV
    * words (outside the gated alphabet or length cap) are counted and
    * skipped in the id stream, as in the batch path. */
  private[graft] def encodeReceipts(docs: DataFrame, wordTable: DataFrame,
                                    chosen: String): DataFrame =
    encodeDocs(docs, wordTable).select(col("doc_id"), col("n_words"),
      col("n_oov"),
      when(lit(chosen) === "bpe", col("bpe_np"))
        .otherwise(col("uni_np")).as("n_pieces"),
      when(lit(chosen) === "bpe", col("bpe_seq"))
        .otherwise(col("uni_seq")).as("id_seq"))

  private def encodeShards(s: SparkSession, d: String): DataFrame = {
    val wordTable = encodeWordTable(s, d)
    val perDoc = encodeDocs(Tables.parallelize(Tables.documents(s, d)),
      wordTable)

    val shards = perDoc
      .withColumn("shard",
        portableHash(concat(lit("shard"), col("doc_id"))) % EncodeShardsN)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_oov")).as("n_oov"),
        sum(col("bpe_np")).as("bpe_pieces"),
        sum(col("uni_np")).as("uni_pieces"),
        sum(portableHash(col("bpe_seq")) % 1000000007L).as("bpe_ck"),
        sum(portableHash(col("uni_seq")) % 1000000007L).as("uni_ck"))

    val gate = tokGate(s, d).select(col("chosen"))
    shards.crossJoin(broadcast(gate)) // 1-row broadcast scalar
      .select(col("shard"), col("n_docs"), col("n_words"), col("n_oov"),
        when(col("chosen") === "bpe", col("bpe_pieces"))
          .otherwise(col("uni_pieces")).as("n_pieces"),
        when(col("chosen") === "bpe", col("bpe_ck"))
          .otherwise(col("uni_ck")).as("id_checksum"),
        col("chosen"))
  }

  private def encodeShardsSql = {
    val bt = graft.text.BpeTrain
    val maxLen = graft.text.UnigramTrain.MaxWordLen
    val uniBts = (1 to maxLen)
      .map(t => s"SELECT word, $t AS t, piece FROM ugbt1$t")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ${bt.duckdbTrainCtes(tokensSql("text"))},
       |${graft.text.UnigramTrain.duckdbTrainCtes(tokensSql("text"))},
       |esbw AS MATERIALIZED (
       |  SELECT replace(sym, chr(31), '') AS word,
       |    list_filter(string_split(sym, chr(31)), x -> x <> '') AS pieces,
       |    freq
       |  FROM wf${bt.NMerges}
       |  WHERE length(replace(sym, chr(31), '')) <= $maxLen),
       |esgate AS (
       |  SELECT CASE WHEN
       |      CAST((SELECT SUM(freq * len(pieces)) FROM esbw) AS HUGEINT)
       |        * (SELECT SUM(freq) FROM ugnp1)
       |      <= CAST((SELECT SUM(freq * np) FROM ugnp1) AS HUGEINT)
       |        * (SELECT SUM(freq) FROM esbw)
       |    THEN 'bpe' ELSE 'unigram' END AS chosen),
       |esbp AS MATERIALIZED (
       |  SELECT word, unnest(pieces) AS piece,
       |    unnest(range(1, len(pieces) + 1)) AS ppos, freq
       |  FROM esbw),
       |esbv AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS n
       |  FROM esbp GROUP BY 1),
       |esbid AS (SELECT piece,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, piece) AS BIGINT) AS id
       |  FROM esbv),
       |esbws AS MATERIALIZED (
       |  SELECT word, string_agg(CAST(id AS VARCHAR), ',' ORDER BY ppos)
       |    AS bpe_ids, COUNT(*) AS bpe_np
       |  FROM esbp JOIN esbid USING (piece) GROUP BY 1),
       |esup AS MATERIALIZED (
       |  SELECT word, t, piece FROM (
       |  $uniBts
       |  ) WHERE piece IS NOT NULL),
       |esuid AS (SELECT p AS piece,
       |    CAST(ROW_NUMBER() OVER (ORDER BY u DESC, p) AS BIGINT) AS id
       |  FROM ugu1),
       |esuws AS MATERIALIZED (
       |  SELECT word, string_agg(CAST(id AS VARCHAR), ',' ORDER BY t DESC)
       |    AS uni_ids, COUNT(*) AS uni_np
       |  FROM esup JOIN esuid ON esuid.piece = esup.piece GROUP BY 1),
       |esdw AS MATERIALIZED (
       |  SELECT doc_id, unnest(toks) AS word,
       |    unnest(range(1, len(toks) + 1)) AS wpos
       |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents)),
       |esdoc AS MATERIALIZED (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |    SUM(CASE WHEN b.bpe_ids IS NULL THEN 1 ELSE 0 END) AS n_oov,
       |    SUM(COALESCE(b.bpe_np, 0)) AS bpe_np,
       |    SUM(COALESCE(u.uni_np, 0)) AS uni_np,
       |    COALESCE(string_agg(b.bpe_ids, ',' ORDER BY wpos)
       |      FILTER (WHERE b.bpe_ids IS NOT NULL), '') AS bpe_seq,
       |    COALESCE(string_agg(u.uni_ids, ',' ORDER BY wpos)
       |      FILTER (WHERE u.uni_ids IS NOT NULL), '') AS uni_seq
       |  FROM esdw d
       |  LEFT JOIN esbws b USING (word)
       |  LEFT JOIN esuws u USING (word)
       |  GROUP BY 1),
       |esshard AS (
       |  SELECT ${portableHashSql("concat('shard', CAST(doc_id AS VARCHAR))")}
       |      % $EncodeShardsN AS shard,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(n_words) AS BIGINT) AS n_words,
       |    CAST(SUM(n_oov) AS BIGINT) AS n_oov,
       |    CAST(SUM(bpe_np) AS BIGINT) AS bpe_pieces,
       |    CAST(SUM(uni_np) AS BIGINT) AS uni_pieces,
       |    CAST(SUM(${portableHashSql("bpe_seq")} % 1000000007) AS BIGINT)
       |      AS bpe_ck,
       |    CAST(SUM(${portableHashSql("uni_seq")} % 1000000007) AS BIGINT)
       |      AS uni_ck
       |  FROM esdoc GROUP BY 1)
       |SELECT s.shard, s.n_docs, s.n_words, s.n_oov,
       |  CASE WHEN g.chosen = 'bpe' THEN s.bpe_pieces
       |       ELSE s.uni_pieces END AS n_pieces,
       |  CASE WHEN g.chosen = 'bpe' THEN s.bpe_ck ELSE s.uni_ck END
       |    AS id_checksum,
       |  g.chosen
       |FROM esshard s CROSS JOIN esgate g""".stripMargin
  }

  // -------------------------------------------------------- topic_assign
  // Weak topic labeling by seed-keyword voting — the cheap corpus
  // bucketing step a mixture pipeline runs before anything learned:
  // each topic owns a fixed keyword list; a document's score per topic
  // is its keyword occurrence count (with multiplicity); the label is
  // the argmax, ties to the lowest topic index. Entirely map-only
  // column expressions (the markerCount codegen expansion — no UDF, no
  // shuffle until a consumer aggregates), so at 100 TB this is a free
  // rider on any scan that already reads the text.
  private val Topics: Seq[(String, Seq[String])] = Seq(
    "storage"   -> Seq("table", "row", "column", "scan"),
    "exec"      -> Seq("hash", "join", "agg", "sort"),
    "streaming" -> Seq("stream", "window", "batch", "order"),
    "querying"  -> Seq("query", "filter", "group", "merge"))

  private def topicAssign(s: SparkSession, d: String): DataFrame = {
    val base = Tables.parallelize(Tables.documents(s, d))
      .withColumn("toks", tokens(col("text")))
    val scored = Topics.zipWithIndex.foldLeft(base) {
      case (df, ((_, words), i)) =>
        df.withColumn(s"s$i", markerCount("toks", words).cast("long"))
    }
    // argmax with ties to the LOWEST topic index: topic i wins iff its
    // score is >= every later topic's (earlier topics already lost)
    val label = Topics.indices.init.foldRight(
      lit(Topics.last._1): org.apache.spark.sql.Column) { (i, rest) =>
      val beatsLater = Topics.indices.drop(i + 1)
        .map(j => col(s"s$i") >= col(s"s$j")).reduce(_ && _)
      when(beatsLater, Topics(i)._1).otherwise(rest)
    }
    scored.select(
      col("doc_id") +: Topics.indices.map(i => col(s"s$i")) :+
        label.as("topic"): _*)
  }

  private def topicAssignSql = {
    val toks = tokensSql("text")
    val scores = Topics.zipWithIndex.map { case ((_, words), i) =>
      s"CAST(${markerCountSql("toks", words)} AS BIGINT) AS s$i"
    }.mkString(",\n       |    ")
    val label = Topics.indices.init.foldRight(s"'${Topics.last._1}'") {
      (i, rest) =>
        val beats = Topics.indices.drop(i + 1)
          .map(j => s"s$i >= s$j").mkString(" AND ")
        s"CASE WHEN $beats THEN '${Topics(i)._1}' ELSE $rest END"
    }
    s"""WITH tok AS (
       |  SELECT doc_id, $toks AS toks FROM documents),
       |scored AS (
       |  SELECT doc_id,
       |    $scores
       |  FROM tok)
       |SELECT doc_id, ${Topics.indices.map(i => s"s$i").mkString(", ")},
       |  $label AS topic
       |FROM scored""".stripMargin
  }

  // ----------------------------------------------------------- colloc_topk
  // Collocation mining — the vocabulary-building step that finds token
  // pairs appearing together far more than chance (candidate multi-word
  // units for a tokenizer's vocab, named entities, domain terms). The
  // association score is the RATIONAL lift p(ab)/(p(a)·p(b)) =
  // c_ab·N²/(N_big·c_a·c_b), NOT log-PMI: libm log differs across
  // engines in the last bits, while lift is five exact double products
  // in fixed left-associated order and ONE IEEE division — bit-equal
  // everywhere (ranking by lift ≡ ranking by PMI: log is monotone).
  // Support floor c_ab ≥ 5 kills the unstable singleton tail. Plan: the
  // bigram expansion is the zero-shuffle slice/arrays_zip form; two
  // hash aggregations (bigram, unigram) with map-side partials; the
  // scalar totals ride a 1-row broadcast; final top-20 is TakeOrdered.
  private val CollocMinCount = 5L
  private val CollocK = 20

  private def collocTopk(s: SparkSession, d: String): DataFrame = {
    // ONE tokenize pass: uni, totals and the bigram zip are three
    // independent aggregations of the same token arrays, and without a
    // materialization each re-runs the corpus scan + tokenize (profiled:
    // 3 full passes per invocation at sf0.1). localCheckpoint holds the
    // token arrays once; the three consumers re-read the materialized
    // rows (the pre-r19 lex-family pattern). A fused single-explode
    // form would need transform() lambdas, which drop out of
    // whole-stage codegen (the round-7 winnowing postmortem) — the
    // materialize-once shape keeps every consumer codegen'd.
    val t = Tables.parallelize(Tables.documents(s, d))
      .select(tokens(col("text")).as("toks"))
      .localCheckpoint()
    val uni = t.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = t.agg(
      sum(size(col("toks")).cast("long")).as("n_tok"),
      sum(greatest(size(col("toks")) - 1, lit(0)).cast("long")).as("n_big"))
    val bi = t
      .withColumn("m", size(col("toks")) - 1)
      .filter(col("m") >= 1)
      .selectExpr("arrays_zip(slice(toks, 1, m), slice(toks, 2, m)) AS z")
      .select(explode(col("z")).as("e"))
      .select(col("e").getField("0").as("w1"), col("e").getField("1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= CollocMinCount)
    bi
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(totals)) // bounded: 1 scalar row
      .withColumn("lift",
        (col("c_ab").cast("double") * col("n_tok").cast("double") *
          col("n_tok").cast("double")) /
          (col("n_big").cast("double") * col("c_a").cast("double") *
            col("c_b").cast("double")))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        col("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(CollocK)
  }

  private def collocTopkSql = {
    val toks = tokensSql("text")
    s"""WITH t AS (
       |  SELECT $toks AS toks FROM documents),
       |uni AS (
       |  SELECT w, COUNT(*) AS c FROM (SELECT unnest(toks) AS w FROM t)
       |  GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_tok,
       |    CAST(SUM(CASE WHEN len(toks) > 1 THEN len(toks) - 1 ELSE 0 END)
       |      AS BIGINT) AS n_big
       |  FROM t),
       |bi AS (
       |  SELECT toks[CAST(i.i AS INT)] AS w1,
       |    toks[CAST(i.i + 1 AS INT)] AS w2
       |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) i),
       |bc AS (
       |  SELECT w1, w2, COUNT(*) AS c_ab FROM bi GROUP BY 1, 2
       |  HAVING COUNT(*) >= $CollocMinCount),
       |scored AS (
       |  SELECT b.w1, b.w2, b.c_ab, ua.c AS c_a, ub.c AS c_b,
       |    (CAST(b.c_ab AS DOUBLE) * CAST(tt.n_tok AS DOUBLE)
       |      * CAST(tt.n_tok AS DOUBLE)) /
       |    (CAST(tt.n_big AS DOUBLE) * CAST(ua.c AS DOUBLE)
       |      * CAST(ub.c AS DOUBLE)) AS lift
       |  FROM bc b
       |  JOIN uni ua ON ua.w = b.w1
       |  JOIN uni ub ON ub.w = b.w2
       |  CROSS JOIN tot tt)
       |SELECT w1, w2, c_ab, c_a, c_b, lift FROM scored
       |ORDER BY lift DESC, w1, w2
       |LIMIT $CollocK""".stripMargin
  }

  // --------------------------------------------------------- zipf_tail
  // Frequency-of-frequencies in power-of-two decades: how many distinct
  // words fall in each floor(log2(freq)) bucket and the token mass the
  // bucket carries — the Zipf-tail diagnostic that sizes hapax/rare-
  // word mass before vocabulary or BPE decisions (a corpus whose low
  // buckets carry 40 % of types but 2 % of tokens prunes safely; one
  // where they carry 20 % of tokens does not). The bucket is the
  // binary-string length of the exact integer count (no float log2 at
  // a power-of-two boundary). Two keyed aggregations, map-side
  // combining both; output is ≤ 64 rows at any corpus size.
  private def zipfTail(s: SparkSession, d: String): DataFrame =
    Tables.parallelize(Tables.documents(s, d))
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .groupBy((length(expr("bin(freq)")) - 1).cast("long").as("k"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("freq")).as("total_occ"))

  private def zipfTailSql = {
    val toks = tokensSql("text")
    s"""WITH t AS (SELECT $toks AS toks FROM documents),
       |wf AS (
       |  SELECT w, COUNT(*) AS freq
       |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1)
       |SELECT CAST(length(bin(freq)) - 1 AS BIGINT) AS k,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(freq) AS BIGINT) AS total_occ
       |FROM wf GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------------ vocab_growth
  // Heaps-law vocabulary growth: distinct-word count after the first
  // 1/5/10/25/50/75/100 % of the doc-id range — the "will the vocab
  // keep growing at 100 TB" extrapolation check. Deliberately defined
  // on doc-id VALUE cuts, not row ranks: a global ROW_NUMBER needs a
  // single-partition sort, while value cuts need only MIN/MAX (driver
  // scalars) + one min-per-word aggregation + a 7-row broadcast — the
  // whole curve costs one corpus pass at any scale.
  private val GrowthPcts = Seq(1, 5, 10, 25, 50, 75, 100)

  private def vocabGrowth(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val th = GrowthPcts.map(p => (p, lo + (hi - lo + 1) * p / 100))
      .toDF("pct", "cut")
    val firstDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
    val vocab = firstDoc.crossJoin(broadcast(th))
      .filter(col("fd") < col("cut"))
      .groupBy(col("pct")).agg(count(lit(1)).as("vocab"))
    val seen = docs.crossJoin(broadcast(th))
      .filter(col("doc_id") < col("cut"))
      .groupBy(col("pct")).agg(count(lit(1)).as("docs_seen"))
    seen.join(vocab, "pct").select(col("pct"), col("docs_seen"), col("vocab"))
  }

  private def vocabGrowthSql = {
    val toks = tokensSql("text")
    val pcts = GrowthPcts.map(p => s"($p)").mkString(", ")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |bd AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
       |th AS (
       |  SELECT pct, lo + ((hi - lo + 1) * pct) // 100 AS cut
       |  FROM bd, (VALUES $pcts) p(pct)),
       |fw AS (
       |  SELECT w, MIN(doc_id) AS fd
       |  FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1),
       |vocab AS (
       |  SELECT th.pct, COUNT(*) AS vocab
       |  FROM fw, th WHERE fw.fd < th.cut GROUP BY 1),
       |seen AS (
       |  SELECT th.pct, COUNT(*) AS docs_seen
       |  FROM documents d, th WHERE d.doc_id < th.cut GROUP BY 1)
       |SELECT s.pct, s.docs_seen, v.vocab
       |FROM seen s JOIN vocab v ON v.pct = s.pct""".stripMargin
  }

  // -------------------------------------------------------------- lm_ppl
  // CCNet's ACTUAL quality signal (Wenzek et al. 2020): per-document
  // cross-entropy under a reference-trained n-gram LM, with
  // head/middle/tail terciles per language. ccnet_buckets ships the
  // rare-bigram RATIO as its LM proxy (lm_rare_bigrams' comment calls a
  // real log-prob sum "not bit-portable across libm implementations") —
  // but the unigram-trainer machinery already solved that: ilog2q8 is
  // an EXACT integer log2 at 8 fraction bits (msb + mantissa squaring,
  // no libm anywhere), so the real thing is mirrorable bit-for-bit.
  //
  //  - LM: per-language bigram counts over the REFERENCE slice
  //    (sources src0..src4 — the held-out-clean-corpus stand-in; CCNet
  //    trains on Wikipedia and scores the crawl).
  //  - Score: each doc's mean over bigram occurrences of
  //    −log2 P(w2|w1), add-one smoothed P = (c12+1)/(c1+V), V = ref
  //    distinct-successor vocabulary + 1; every log2 is ilog2q8, so
  //    h_q8 is an exact integer both engines reproduce; mean_bits is
  //    one double division of exact integers at the end.
  //  - Buckets: NTILE(3) per language on (mean_bits, doc_id) — the
  //    keyed-window discipline (ccnet_buckets precedent); a language
  //    absent from the reference slice has no LM and is excluded
  //    (inner join on the per-language V).
  //
  // Scale shape: tokenize + pair-explode are map-only and run ONCE —
  // occurrences collapse to per-(doc, bigram) counts, eagerly
  // materialized; the LM is two keyed aggregations over the reference
  // slice of that checkpoint. Because (c12, c1, v) — hence num/den and
  // the whole log chain — depend only on the (lang, w1, w2) TRIPLE,
  // scoring runs on the DISTINCT-triple table (three keyed joins + the
  // codegen integer log chain, ~50 int ops — no UDF, no libm), and one
  // join back distributes each triple's bits to the per-doc counts.
  // The rollup is one doc-keyed aggregation and one lang-keyed window.
  // The naive per-occurrence form re-tokenized the corpus four times
  // and ran the log chain per occurrence: 14.4 s at sf0.1 vs ~3 s for
  // this shape (and the report is a SharedStages stage — built once per
  // (session, dir), reused by quality_ensemble).
  private val LmRefSources = (0 to 4).map(i => s"src$i")

  /** Append `out` = ilog2q8(`x`) — the native codegen expression
    * ([[graft.functions.IntLog2Q8]]), in lockstep with
    * [[graft.text.UnigramTrain.ilog2q8]] (e = msb, mantissa at q8, 8
    * squaring rounds; LmPplSpec pins expression == driver across the
    * domain). Former body: the same arithmetic unrolled as 8 rounds of
    * CASE projections — ~30 stacked Projects whose generated code
    * recompiled on every invocation of the lm_incr consumer; one
    * expression keeps the values bit-identical and the plan flat.
    * Domain x ∈ [1, 2^54). */
  private[graft] def withIlog2q8(df0: DataFrame, x: String, out: String): DataFrame =
    df0.withColumn(out, expr(s"ilog2q8($x)"))

  /** (doc_id, source, lang, w1, w2) — one row per bigram occurrence of
    * `docs` (doc_id, source, lang, text). slice + arrays_zip + explode,
    * NOT a transform() lambda: HOF lambdas drop out of whole-stage
    * codegen and serialize per task thread (the round-7 winnowing
    * postmortem, BENCH_NOTES) — the lambda form measured 16.3 s for the
    * sf0.1 occurrence pass vs ~3 s for this shape. */
  private[graft] def bigramOccOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= 2)
      .withColumn("t1", slice(col("t"), lit(1), size(col("t")) - 1))
      .withColumn("t2", slice(col("t"), lit(2), size(col("t")) - 1))
      .select(col("doc_id"), col("source"), col("lang"),
        explode(arrays_zip(col("t1"), col("t2"))).as("p"))
      .select(col("doc_id"), col("source"), col("lang"),
        col("p.t1").as("w1"), col("p.t2").as("w2"))

  /** Per-(doc, bigram) occurrence counts of `docs`. */
  private[graft] def bigramCountsOf(docs: DataFrame): DataFrame =
    bigramOccOf(docs)
      .groupBy(col("doc_id"), col("source"), col("lang"),
        col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))

  /** The reference bigram LM tables (refBi, refUni, vsz) derived from
    * per-(doc, bigram) counts `occ` — counts restricted to the
    * reference slice, per-(lang, w1) marginals, and the per-language
    * smoothing vocabulary. */
  private[graft] def lmModelOf(occ: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val refBi = occ.filter(col("source").isin(LmRefSources: _*))
      .groupBy(col("lang"), col("w1"), col("w2"))
      .agg(sum(col("cnt")).as("c12"))
      .localCheckpoint() // the LM itself — refUni and vsz re-aggregate it
    val refUni = refBi.groupBy(col("lang"), col("w1"))
      .agg(sum(col("c12")).as("c1"))
    val vsz = refBi.groupBy(col("lang"))
      .agg((countDistinct(col("w2")) + 1).as("v"))
    (refBi, refUni, vsz)
  }

  /** Score per-(doc, bigram) counts `occ` against a FIXED LM
    * (refBi, refUni, vsz) → per-(doc, bits) counts. The triple table
    * carries the joins and the log chain; one join back distributes
    * each triple's bits to the per-doc counts. Stateless given the
    * model — the kernel both the batch stage and the streaming twin (a
    * `foreachBatch` of [[lmDocScores]] or [[minkOf]] over it) run:
    * CCNet's deployment shape, the LM trained once on the reference
    * corpus and every arriving shard scored against it. An unseen
    * bigram scores at the add-one floor (the left joins); a doc in a
    * language the LM does not cover is excluded (the inner vsz join).
    * The corpus-relative tercile stays batch-side. */
  private[graft] def lmScoreBits(occ: DataFrame, refBi: DataFrame,
      refUni: DataFrame, vsz: DataFrame): DataFrame = {
    val trip = occ.select(col("lang"), col("w1"), col("w2")).distinct()
    val scored0 = trip
      .join(refBi, Seq("lang", "w1", "w2"), "left")
      .join(refUni, Seq("lang", "w1"), "left")
      .join(vsz, Seq("lang")) // inner: unscored languages drop out
      .withColumn("num", coalesce(col("c12"), lit(0L)) + 1)
      .withColumn("den", coalesce(col("c1"), lit(0L)) + col("v"))
    val tripScored =
      withIlog2q8(withIlog2q8(scored0, "num", "lgn"), "den", "lgd")
        .select(col("lang"), col("w1"), col("w2"),
          (col("lgd") - col("lgn")).as("bits_q8"))
    occ.join(tripScored, Seq("lang", "w1", "w2"))
      .groupBy(col("doc_id"), col("lang"), col("bits_q8"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Per-doc cross-entropy of `docs` against a fixed LM — the rollup
    * of [[lmScoreBits]]: (doc_id, lang, n_bigrams, h_q8, mean_bits). */
  private[graft] def lmDocScores(docs: DataFrame, refBi: DataFrame,
      refUni: DataFrame, vsz: DataFrame): DataFrame =
    lmScoreBits(bigramCountsOf(docs), refBi, refUni, vsz)
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("bits_q8")).as("h_q8"))
      .withColumn("mean_bits",
        col("h_q8").cast("double") / (col("n_bigrams").cast("double") * 256))

  private def lmPpl(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.lmPplReport(s, d)

  /** Per-(doc, bits) occurrence counts under the reference bigram LM —
    * the shared input of lm_ppl's per-doc rollup AND mink_prob's
    * top-k% selection ([[graft.SharedStages.lmDocBits]]). Occurrences
    * whose bigram carries the same −log2 P collapse into one row, so
    * the table is bounded by distinct (doc, score) pairs. */
  private[graft] def buildLmDocBits(s: SparkSession, d: String): DataFrame = {
    // the tokenize + pair-explode pass is its own stage, shared with the
    // incremental-maintenance path (lm_incr)
    val occ = graft.SharedStages.bigramCounts(s, d)
    val (refBi, refUni, vsz) = lmModelOf(occ)
    lmScoreBits(occ, refBi, refUni, vsz)
  }

  /** The full per-doc report — built once per (session, dir) via
    * [[graft.SharedStages.lmPplReport]]; the standalone lm_ppl query and
    * the quality_ensemble composition both read the materialization. */
  private[graft] def buildLmPpl(s: SparkSession, d: String): DataFrame = {
    val doc = graft.SharedStages.lmDocBits(s, d)
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("bits_q8")).as("h_q8"))
      .withColumn("mean_bits",
        col("h_q8").cast("double") / (col("n_bigrams").cast("double") * 256))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("mean_bits"), col("doc_id"))
    doc.withColumn("bucket",
      element_at(array(lit("head"), lit("middle"), lit("tail")),
        ntile(3).over(w)))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("h_q8"),
        col("mean_bits"), col("bucket"))
  }

  /** Unrolled ilog2q8 lookup over the DISTINCT values of `srcSql`'s `x`
    * column → `${p}lg(x, lg)`; needs `lppw(e, v)` in scope. */
  private def ilogLookupCtes(p: String, srcSql: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${p}xv AS MATERIALIZED (SELECT DISTINCT x FROM ($srcSql)),
         |${p}e AS MATERIALIZED (
         |  SELECT x, MAX(w.e) AS e FROM ${p}xv JOIN lppw w ON w.v <= x
         |  GROUP BY 1),
         |${p}r0 AS MATERIALIZED (
         |  SELECT u.x, u.e, (u.x * 256) // w.v AS m, CAST(0 AS BIGINT) AS f
         |  FROM ${p}e u JOIN lppw w ON w.e = u.e)""".stripMargin)
    for (t <- 1 to 8) {
      sb.append(
        s""",
           |${p}r$t AS MATERIALIZED (
           |  SELECT x, e,
           |    CASE WHEN (m * m) // 256 >= 512
           |         THEN ((m * m) // 256) // 2 ELSE (m * m) // 256 END AS m,
           |    CASE WHEN (m * m) // 256 >= 512
           |         THEN 2 * f + 1 ELSE 2 * f END AS f
           |  FROM ${p}r${t - 1})""".stripMargin)
    }
    sb.append(
      s""",
         |${p}lg AS MATERIALIZED (SELECT x, e * 256 + f AS lg FROM ${p}r8)""".stripMargin)
    sb.toString
  }

  /** The oracle CTE chain shared by lmPplSql and minkProbSql: corpus →
    * bigram occurrences → reference LM → smoothed num/den per
    * occurrence → ilog2q8 lookups → per-(doc, bits) counts (`lmdb`,
    * the SQL twin of [[buildLmDocBits]]'s output). */
  private def lmCoreCtes: String = {
    val refs = LmRefSources.map(s => s"'$s'").mkString(", ")
    val powers = (0 to 53).map(e => s"($e, ${1L << e})").mkString(", ")
    s"""lppw(e, v) AS (VALUES $powers),
       |lptk AS MATERIALIZED (
       |  SELECT doc_id, source, lang, ${tokensSql("text")} AS t
       |  FROM documents),
       |lpbi AS MATERIALIZED (
       |  SELECT doc_id, source, lang,
       |    t[CAST(r.j AS INT)] AS w1, t[CAST(r.j + 1 AS INT)] AS w2
       |  FROM lptk, LATERAL (SELECT unnest(range(1, len(t))) AS j) r),
       |lprb AS MATERIALIZED (
       |  SELECT lang, w1, w2, COUNT(*) AS c12 FROM lpbi
       |  WHERE source IN ($refs) GROUP BY 1, 2, 3),
       |lpru AS MATERIALIZED (
       |  SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM lprb
       |  GROUP BY 1, 2),
       |lpv AS MATERIALIZED (
       |  SELECT lang, COUNT(DISTINCT w2) + 1 AS v FROM lprb GROUP BY 1),
       |lpocc AS MATERIALIZED (
       |  SELECT b.doc_id, b.lang,
       |    COALESCE(rb.c12, 0) + 1 AS num,
       |    COALESCE(ru.c1, 0) + vs.v AS den
       |  FROM lpbi b
       |  LEFT JOIN lprb rb ON rb.lang = b.lang AND rb.w1 = b.w1
       |    AND rb.w2 = b.w2
       |  LEFT JOIN lpru ru ON ru.lang = b.lang AND ru.w1 = b.w1
       |  JOIN lpv vs ON vs.lang = b.lang),
       |${ilogLookupCtes("lpn", "SELECT num AS x FROM lpocc")},
       |${ilogLookupCtes("lpd", "SELECT den AS x FROM lpocc")},
       |lmdb AS MATERIALIZED (
       |  SELECT o.doc_id, o.lang, CAST(dl.lg - nl.lg AS BIGINT) AS bits,
       |    COUNT(*) AS cnt
       |  FROM lpocc o
       |  JOIN lpdlg dl ON dl.x = o.den
       |  JOIN lpnlg nl ON nl.x = o.num
       |  GROUP BY 1, 2, 3)""".stripMargin
  }

  private def lmPplSql =
    s"""WITH $lmCoreCtes,
       |lpdoc AS MATERIALIZED (
       |  SELECT doc_id, lang, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(cnt * bits) AS BIGINT) AS h_q8
       |  FROM lmdb
       |  GROUP BY 1, 2)
       |SELECT doc_id, lang, n_bigrams, h_q8,
       |  CAST(h_q8 AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 256)
       |    AS mean_bits,
       |  (['head', 'middle', 'tail'])[
       |    NTILE(3) OVER (PARTITION BY lang
       |      ORDER BY CAST(h_q8 AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 256),
       |        doc_id)] AS bucket
       |FROM lpdoc""".stripMargin

  // -------------------------------------------------------------- lm_incr
  // Incremental maintenance for the standing LM — the one SharedStages
  // family that previously rebuilt from scratch per (session, dir).
  // CCNet's deployment re-scores a rolling crawl against a SLOWLY
  // UPDATING reference LM; the maintained object is the (lang, w1, w2)
  // count table. The novelty_incr pattern applied to counts:
  //
  //  - batch A (even ref doc_ids) is the standing store's content as of
  //    the bootstrap; batch B (odd ref doc_ids) is the incremental step:
  //    its counts ADD to A's rows (counts are additive — the merge is a
  //    keyed sum, not a replace). Because the store starts fresh here,
  //    the probe-then-merge readMany/write cycle B would run against a
  //    pre-existing store resolves entirely against A's in-session rows:
  //    the merged store content is the keyed sum of both batches, so
  //    ONE upsert writes it (two write cycles → one; the probe/merge
  //    mechanics against a standing store remain certified by
  //    novelty_incr, BucketStoreSpec and StreamingPplSpec's
  //    score-against-updated-store path).
  //  - smoothed scores are re-derived for the TOUCHED (batch-B) triples
  //    only, against the merged model (num = c12+1, den = c1+v — the
  //    exact lm_ppl chain, ilog2q8 integers end to end).
  //
  // Because counts are additive, the merged store must equal the
  // from-scratch LM bit-for-bit — which is exactly what the oracle
  // checks: DuckDB computes the full-corpus reference counts and the
  // same per-language rollup (triple count, total count, a
  // content checksum over every merged row, and the touched-triple
  // score sum), so a wrong merge, a dropped bucket, or a stale row
  // breaks the hash gate. Output is ≤ #languages rows.
  //
  // checksum width: each term is (h % 1000003)·(c12 % 997) < 10^9;
  // the BIGINT sum overflows only past ~9·10^9 triples per language —
  // at that scale the REPORT column (not the store) widens to
  // DECIMAL(38)/HUGEINT, the tok_gate discipline.
  private val LmStoreBuckets = 64

  /** Build the standing LM count store incrementally and return
    * (mergedCounts read-back, batch-B triple counts). Factored so
    * StreamingPplSpec can score a stream against the UPDATED store. */
  private[graft] def lmIncrStore(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val keys = Seq("lang", "w1", "w2")
    val batches = graft.SharedStages.bigramCounts(s, d)
      .filter(col("source").isin(LmRefSources: _*))
      .groupBy(col("lang"), col("w1"), col("w2"),
        (col("doc_id") % 2).as("parity"))
      .agg(sum(col("cnt")).as("c12"))
      .localCheckpoint() // feeds the merged write AND the touched set
    // b is a FILTER over the already-checkpointed batches — recomputing
    // it is a scan of the materialized rows, so its own checkpoint job
    // bought nothing (one fewer action per invocation)
    val b = batches.filter(col("parity") === 1).drop("parity")
    val path = graft.SharedStages.newScratchDir("lm_incr_store")
    // single-pass merged upsert: the store is fresh, so batch B's
    // additive merge resolves against batch A's in-session rows — the
    // final store content (A ⊎ B keyed sum) lands in ONE write instead
    // of bootstrap-write + probe + merged re-write (store write jobs
    // halved; the oracle checksum over every merged row pins the
    // content either way)
    val mergedAll = batches
      .groupBy(col("lang"), col("w1"), col("w2"))
      .agg(sum(col("c12")).as("c12"))
    graft.sink.BucketStore.upsert(s, mergedAll, path, keys, LmStoreBuckets)
    // Materialize the read-back: the store read is a 64-way per-bucket
    // union, and the consumer below walks it four times (marginals,
    // vocab, triple join, checksum rollup) through the 8-round ilog2q8
    // projection chain — un-checkpointed, CollapseProject replicates
    // that chain into every union branch (measured: a 131 MiB task
    // binary at sf10). One checkpoint = one scan, small plans. At
    // 100 TB the store is a real table and this is its one read.
    val merged = graft.sink.BucketStore
      .read(s, path, b.schema, LmStoreBuckets).localCheckpoint()
    (merged, b)
  }

  private def lmIncr(s: SparkSession, d: String): DataFrame = {
    val (ab, b) = lmIncrStore(s, d)
    val un = ab.groupBy(col("lang"), col("w1")).agg(sum(col("c12")).as("c1"))
    // ONE per-lang aggregation pass serves both the vocab size (the
    // smoothing `v` the scoring join needs) and the report's rollup
    // (n_triples / sum_c12 / checksum) — the former separate vz + agg
    // passes each re-aggregated the whole merged store; the two uses of
    // perLang below are identical subtrees, so the exchange is reused.
    val perLang = ab
      .withColumn("term",
        (portableHash(concat_ws(" ", col("lang"), col("w1"), col("w2")))
          % 1000003L) * (col("c12") % 997L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_triples"), sum(col("c12")).as("sum_c12"),
        sum(col("term")).as("checksum"),
        (countDistinct(col("w2")) + 1).as("v"))
    val scored0 = b.select(col("lang"), col("w1"), col("w2"))
      .join(ab, Seq("lang", "w1", "w2"))
      .join(un, Seq("lang", "w1"))
      .join(perLang.select(col("lang"), col("v")), Seq("lang"))
      .withColumn("num", col("c12") + 1)
      .withColumn("den", col("c1") + col("v"))
    val tsc = withIlog2q8(withIlog2q8(scored0, "num", "lgn"), "den", "lgd")
      .select(col("lang"), (col("lgd") - col("lgn")).as("bits"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_touched"), sum(col("bits")).as("sum_bits"))
    perLang.drop("v").join(tsc, Seq("lang"))
  }

  private def lmIncrSql = {
    val refs = LmRefSources.map(s => s"'$s'").mkString(", ")
    val powers = (0 to 53).map(e => s"($e, ${1L << e})").mkString(", ")
    s"""WITH lppw(e, v) AS (VALUES $powers),
       |litk AS MATERIALIZED (
       |  SELECT doc_id, lang, ${tokensSql("text")} AS t FROM documents
       |  WHERE source IN ($refs)),
       |libi AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    t[CAST(r.j AS INT)] AS w1, t[CAST(r.j + 1 AS INT)] AS w2
       |  FROM litk, LATERAL (SELECT unnest(range(1, len(t))) AS j) r),
       |liab AS MATERIALIZED (
       |  SELECT lang, w1, w2, COUNT(*) AS c12 FROM libi GROUP BY 1, 2, 3),
       |litb AS MATERIALIZED (
       |  SELECT DISTINCT lang, w1, w2 FROM libi WHERE doc_id % 2 = 1),
       |liun AS MATERIALIZED (
       |  SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM liab
       |  GROUP BY 1, 2),
       |livz AS MATERIALIZED (
       |  SELECT lang, COUNT(DISTINCT w2) + 1 AS v FROM liab GROUP BY 1),
       |lisc AS MATERIALIZED (
       |  SELECT t.lang, ab.c12 + 1 AS num, un.c1 + vz.v AS den
       |  FROM litb t
       |  JOIN liab ab USING (lang, w1, w2)
       |  JOIN liun un USING (lang, w1)
       |  JOIN livz vz USING (lang)),
       |${ilogLookupCtes("lin", "SELECT num AS x FROM lisc")},
       |${ilogLookupCtes("lid", "SELECT den AS x FROM lisc")},
       |litsc AS MATERIALIZED (
       |  SELECT lang, COUNT(*) AS n_touched,
       |    CAST(SUM(dl.lg - nl.lg) AS BIGINT) AS sum_bits
       |  FROM lisc
       |  JOIN lidlg dl ON dl.x = lisc.den
       |  JOIN linlg nl ON nl.x = lisc.num
       |  GROUP BY 1),
       |liagg AS MATERIALIZED (
       |  SELECT lang, COUNT(*) AS n_triples,
       |    CAST(SUM(c12) AS BIGINT) AS sum_c12,
       |    CAST(SUM((${portableHashSql("lang || ' ' || w1 || ' ' || w2")}
       |      % 1000003) * (c12 % 997)) AS BIGINT) AS checksum
       |  FROM liab GROUP BY 1)
       |SELECT a.lang, n_triples, sum_c12, checksum, n_touched, sum_bits
       |FROM liagg a JOIN litsc t ON t.lang = a.lang""".stripMargin
  }

  // ----------------------------------------------------------- mink_prob
  // Min-K% Prob (Shi et al. 2024, "Detecting Pretraining Data from
  // Large Language Models"): a membership/contamination signal — the
  // mean of the k% LEAST-likely token scores of a document under a
  // reference LM. A member of the training set has few outlier
  // low-probability spans, so its top-k% −log P mean sits close to its
  // overall mean; unseen text spikes. Here the LM and the per-occurrence
  // −log2 P are exactly lm_ppl's (the shared lmDocBits stage), k = 20%
  // of the doc's bigram occurrences rounded up — ceil(n/5) = (n+4) DIV 5,
  // an exact integer both engines derive. The top-k occurrence sum walks
  // the per-(doc, bits) counts in descending-bits order with a
  // cumulative window: rows fully inside the budget contribute cnt,
  // the boundary row contributes the remainder — and because rows are
  // DISTINCT bits values per doc, the selection is order-deterministic
  // and the sum is exact q8.
  //
  // Scale shape: the expensive pass (tokenize → LM → triple scoring) is
  // the memoized lmDocBits stage; this query adds one doc-keyed window
  // (partitions bounded by per-doc distinct scores) and two doc-keyed
  // aggregations. No new corpus scan, no new shuffle family.
  private def minkProb(s: SparkSession, d: String): DataFrame =
    minkOf(graft.SharedStages.lmDocBits(s, d))

  /** The top-k% walk over any per-(doc, bits) counts table
    * (doc_id, lang, bits_q8, cnt) — factored so the boundary-remainder
    * arithmetic is property-testable against brute force in isolation
    * (LmPplSpec drives it with random tables). */
  private[graft] def minkOf(db: DataFrame): DataFrame = {
    val agg = db.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"))
      .withColumn("k_occ", expr("(n_bigrams + 4) DIV 5"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("bits_q8").desc)
    db.withColumn("cum", sum(col("cnt")).over(w))
      .join(agg, Seq("doc_id"))
      .withColumn("take",
        greatest(lit(0L), least(col("cnt"),
          col("k_occ") - col("cum") + col("cnt"))))
      .groupBy(col("doc_id"), col("lang"))
      .agg(max(col("n_bigrams")).as("n_bigrams"),
        max(col("k_occ")).as("k_occ"),
        sum(col("take") * col("bits_q8")).as("h_topk_q8"))
      .withColumn("mink_bits",
        col("h_topk_q8").cast("double") / (col("k_occ").cast("double") * 256))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("k_occ"),
        col("h_topk_q8"), col("mink_bits"))
  }

  private def minkProbSql =
    s"""WITH $lmCoreCtes,
       |mka AS (
       |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       |    CAST((SUM(cnt) + 4) // 5 AS BIGINT) AS k_occ
       |  FROM lmdb GROUP BY 1),
       |mkc AS (
       |  SELECT doc_id, lang, bits, cnt,
       |    SUM(cnt) OVER (PARTITION BY doc_id ORDER BY bits DESC) AS cum
       |  FROM lmdb)
       |SELECT c.doc_id, c.lang,
       |  MAX(a.n_bigrams) AS n_bigrams,
       |  MAX(a.k_occ) AS k_occ,
       |  CAST(SUM(GREATEST(0, LEAST(c.cnt, a.k_occ - c.cum + c.cnt)) * c.bits)
       |    AS BIGINT) AS h_topk_q8,
       |  CAST(SUM(GREATEST(0, LEAST(c.cnt, a.k_occ - c.cum + c.cnt)) * c.bits)
       |    AS DOUBLE) / (CAST(MAX(a.k_occ) AS DOUBLE) * 256) AS mink_bits
       |FROM mkc c JOIN mka a ON a.doc_id = c.doc_id
       |GROUP BY 1, 2""".stripMargin

  // ----------------------------------------------------------- quality_auc
  // Exact Mann-Whitney AUC of the LM-perplexity score against the
  // Gopher keep/drop gate — the "evaluate your quality classifier"
  // primitive behind every FineWeb-style filtering ablation: AUC =
  // P(score_keep < score_drop) + ½·P(tie), i.e. how well LOW mean_bits
  // predicts a rule-based keep. The U statistic is a pure pair-counting
  // integer (doubled to absorb the ½-tie term), so the oracle gates it
  // hash-exact; auc is one double division at the end.
  //
  // Scale shape (the reason this isn't one global rank window): scores
  // collapse to distinct values, each group lands in a BOUNDED integer
  // bucket b = floor(mean_bits·256) ∈ [0, 54·256] (multiplying the
  // shared double by 256 is exact — power of two). Cross-bucket pair
  // counts come from a window over the ≤13 825-row bucket table
  // (bounded, driver-scale); within-bucket counts from a window
  // PARTITIONED by bucket (range-partition + local sort — how an exact
  // distributed rank is actually computed). No global single-task sort.
  private def qualityAuc(s: SparkSession, d: String): DataFrame = {
    val scored = graft.SharedStages.lmPplReport(s, d)
      .select(col("doc_id"), col("mean_bits").as("sc"))
      .join(gopherRules(s, d).select(col("doc_id"), col("keep")), "doc_id")
    val grp = scored.groupBy(col("sc"))
      .agg(sum(col("keep").cast("long")).as("p"),
        sum((!col("keep")).cast("long")).as("n"))
      .withColumn("b", floor(col("sc") * 256).cast("long"))
    val bt = grp.groupBy(col("b")).agg(sum(col("n")).as("nb"))
    val wb = org.apache.spark.sql.expressions.Window
      .orderBy(col("b")) // bounded: ≤ 54·256 + 1 bucket rows
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cumB = bt.withColumn("cum_nb_before", coalesce(sum(col("nb")).over(wb), lit(0L)))
      .select(col("b"), col("cum_nb_before"))
    val ww = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("sc"))
    val g2 = grp.join(cumB, Seq("b"))
      .withColumn("cum_n_in", sum(col("n")).over(ww)) // inclusive
      .withColumn("cum_n_thru", col("cum_nb_before") + col("cum_n_in"))
    val tot = g2.agg(sum(col("n")).as("ntot"))
    g2.crossJoin(broadcast(tot)) // 1-row total, broadcast by construction
      .withColumn("contrib", col("p") *
        (lit(2) * (col("ntot") - col("cum_n_thru")) + col("n")))
      .agg(sum(col("p")).as("n_pos"), sum(col("n")).as("n_neg"),
        sum(col("contrib")).as("u2"))
      // degenerate gate (everything kept or everything dropped): AUC is
      // undefined — emit NULL, not the engine-dependent inf/NaN of a
      // division by zero (Spark IEEE vs DuckDB NULL would break parity)
      .withColumn("auc",
        when(col("n_pos") === 0 || col("n_neg") === 0,
          lit(null).cast("double"))
          .otherwise(col("u2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double")
              * col("n_neg").cast("double"))))
      .select(col("n_pos"), col("n_neg"), col("u2"), col("auc"))
  }

  private def qualityAucSql =
    s"""WITH $lmCoreCtes,
       |qadoc AS (
       |  SELECT doc_id,
       |    CAST(SUM(cnt * bits) AS DOUBLE)
       |      / (CAST(SUM(cnt) AS DOUBLE) * 256) AS sc
       |  FROM lmdb GROUP BY 1),
       |qag AS ($gopherRulesSql),
       |qas AS (
       |  SELECT d.sc, g.keep FROM qadoc d JOIN qag g ON g.doc_id = d.doc_id),
       |qagrp AS (
       |  SELECT sc, CAST(FLOOR(sc * 256) AS BIGINT) AS b,
       |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |    CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n
       |  FROM qas GROUP BY 1),
       |qabt AS (
       |  SELECT b, SUM(n) AS nb FROM qagrp GROUP BY 1),
       |qacum AS (
       |  SELECT b, COALESCE(SUM(nb) OVER (ORDER BY b
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS cum_nb_before
       |  FROM qabt),
       |qa2 AS (
       |  SELECT g.p, g.n,
       |    c.cum_nb_before + SUM(g.n) OVER (PARTITION BY g.b ORDER BY g.sc)
       |      AS cum_n_thru
       |  FROM qagrp g JOIN qacum c ON c.b = g.b),
       |qat AS (
       |  SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
       |    CAST(SUM(n) AS BIGINT) AS n_neg,
       |    CAST(SUM(p * (2 * ((SELECT SUM(n) FROM qa2) - cum_n_thru) + n))
       |      AS BIGINT) AS u2
       |  FROM qa2)
       |SELECT n_pos, n_neg, u2,
       |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
       |       ELSE CAST(u2 AS DOUBLE)
       |         / (CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE)
       |            * CAST(n_neg AS DOUBLE)) END AS auc
       |FROM qat""".stripMargin

  // ---------------------------------------------------- quality_ensemble
  // The shipped curation recipe as ONE report (the CCNet/FineWeb
  // composition): language-ID gate → Gopher heuristics → LM-perplexity
  // tail drop, cheapest-first attribution per source (a doc is charged
  // to the FIRST gate that rejects it — the dedup_funnel discipline).
  // Each signal is exactly the registered query's definition (lang_id
  // marker scores, gopher_rules keep, lm_ppl tercile — "train on
  // head+middle, drop tail" is CCNet's own sentence), so this gate
  // certifies the composition, not new signals. A doc the LM cannot
  // score (no bigrams / unscored language) passes the ppl gate — such
  // docs die at the Gopher word-count rule anyway. Scale shape: three
  // doc-keyed joins over per-doc signal tables + one source rollup.
  private def qualityEnsemble(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), col("source"))
    val gop = gopherRules(s, d).select(col("doc_id"), col("keep").as("g_keep"))
    val scoreSum = langMarkers.map { case (l, _) => col(s"score_$l") }
      .reduce(_ + _)
    val lid = langId(s, d).select(col("doc_id"), (scoreSum === 0).as("unk"))
    val ppl = lmPpl(s, d).select(col("doc_id"),
      (col("bucket") === "tail").as("tl"))
    docs.join(gop, "doc_id").join(lid, "doc_id")
      .join(ppl, Seq("doc_id"), "left")
      .na.fill(false, Seq("tl"))
      .withColumn("rm_lang", col("unk").cast("long"))
      .withColumn("rm_gopher", (!col("unk") && !col("g_keep")).cast("long"))
      .withColumn("rm_ppl",
        (!col("unk") && col("g_keep") && col("tl")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("rm_lang")).as("rm_lang"),
        sum(col("rm_gopher")).as("rm_gopher"),
        sum(col("rm_ppl")).as("rm_ppl"),
        sum(when(col("rm_lang") === 0 && col("rm_gopher") === 0 &&
          col("rm_ppl") === 0, 1L).otherwise(0L)).as("survivors"))
  }

  private def qualityEnsembleSql = {
    val scoreSum = langMarkers.map(m => s"li.score_${m._1}").mkString(" + ")
    s"""WITH ge AS ($gopherRulesSql),
       |li AS ($langIdSql),
       |pp AS ($lmPplSql),
       |fl AS (
       |  SELECT d.source,
       |    CASE WHEN ($scoreSum) = 0 THEN 1 ELSE 0 END AS unk,
       |    CASE WHEN ge.keep THEN 1 ELSE 0 END AS gk,
       |    CASE WHEN COALESCE(pp.bucket, '') = 'tail' THEN 1 ELSE 0 END AS tl
       |  FROM documents d
       |  JOIN ge ON ge.doc_id = d.doc_id
       |  JOIN li ON li.doc_id = d.doc_id
       |  LEFT JOIN pp ON pp.doc_id = d.doc_id)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(unk) AS BIGINT) AS rm_lang,
       |  CAST(SUM(CASE WHEN unk = 0 AND gk = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS rm_gopher,
       |  CAST(SUM(CASE WHEN unk = 0 AND gk = 1 AND tl = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS rm_ppl,
       |  CAST(SUM(CASE WHEN unk = 0 AND gk = 1 AND tl = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS survivors
       |FROM fl GROUP BY 1""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("text_stats", textStats, Some(textStatsSql)),
    QueryDef("lm_ppl", lmPpl, Some(lmPplSql)),
    QueryDef("lm_incr", lmIncr, Some(lmIncrSql)),
    QueryDef("mink_prob", minkProb, Some(minkProbSql)),
    QueryDef("quality_auc", qualityAuc, Some(qualityAucSql)),
    QueryDef("quality_ensemble", qualityEnsemble, Some(qualityEnsembleSql)),
    QueryDef("zipf_tail", zipfTail, Some(zipfTailSql)),
    QueryDef("vocab_growth", vocabGrowth, Some(vocabGrowthSql)),
    QueryDef("gopher_rules", gopherRules, Some(gopherRulesSql)),
    QueryDef("topic_assign", topicAssign, Some(topicAssignSql)),
    QueryDef("tok_fertility", tokFertility, Some(tokFertilitySql)),
    QueryDef("bpe_merge_step", bpeMergeStep, Some(bpeMergeStepSql)),
    QueryDef("bpe_train", bpeTrain, Some(bpeTrainSql)),
    QueryDef("bpe_tokenize", bpeTokenize, Some(bpeTokenizeSql)),
    QueryDef("unigram_train", unigramTrain, Some(unigramTrainSql)),
    QueryDef("unigram_tokenize", unigramTokenize, Some(unigramTokenizeSql)),
    QueryDef("tok_compare", tokCompare, Some(tokCompareSql)),
    QueryDef("tok_gate", tokGate, Some(tokGateSql)),
    QueryDef("encode_shards", encodeShards, Some(encodeShardsSql)),
    QueryDef("lang_id", langId, Some(langIdSql)),
    QueryDef("lang_confusion", langConfusion, Some(langConfusionSql)),
    QueryDef("text_lang_agg", langAgg, Some(langAggSql)),
    QueryDef("pivot_lang_counts", pivotLangCounts, Some(pivotLangCountsSql)),
    QueryDef("tok_bpe", tokBpe, Some(tokBpeSql)),
    QueryDef("colloc_topk", collocTopk, Some(collocTopkSql)))
}
