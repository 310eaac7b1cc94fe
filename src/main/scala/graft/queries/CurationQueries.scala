package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.TextFunctions._

/** Corpus-curation operators a training-data pipeline runs before any
  * model sees a token (SURVEY §7.5 extension surface): deterministic
  * sampling, per-stratum quotas, sequence packing, vocabulary stats and
  * heavy hitters. Everything keys off the portable md5 hash so the
  * result is a pure function of the data — reproducible across engines
  * (oracle-gated) and across cluster runs, which is what makes a sample
  * or a data mix auditable.
  */
object CurationQueries {

  // ---------------------------------------------------------- samp_hash
  // Deterministic Bernoulli sample: keep a doc iff hash(salt, id) lands
  // under the rate. Map-only (no shuffle, no RNG state); the SAME rows
  // are selected on any cluster, any partitioning, any engine — unlike
  // df.sample(), whose selection depends on partition layout. At 100 TB
  // this composes with pushdown: the filter runs at the scan.
  private def sampHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(portableHash(concat(lit("samp"), col("doc_id"))) % 100 < 10)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  private val sampHashSql =
    s"""SELECT doc_id, lang, source, n_chars
       |FROM documents
       |WHERE ${portableHashSql("concat('samp', CAST(doc_id AS VARCHAR))")} % 100 < 10""".stripMargin

  // ------------------------------------------------------- samp_weighted
  // Size-k sample with inclusion probability ∝ weight (token count):
  // the deterministic analogue of weighted reservoir sampling. Priority
  // = hash(id) / weight — one IEEE division (bit-portable; the
  // classical u^(1/w) key needs pow/log, which is not), smallest-k
  // priorities win, ties broken by id. Map-only scoring + a bounded
  // global top-k (TakeOrderedAndProject shape — k rows per partition
  // to the driver, never a global sort). Heavier docs get
  // proportionally smaller priorities, hence higher selection odds;
  // determinism: same corpus → same sample on any engine/partitioning.
  private val WeightedK = 40
  private def sampWeighted(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", graft.text.TextFunctions.tokens(col("text")))
      .withColumn("w", size(col("toks")).cast("long"))
      .filter(col("w") > 0)
      .withColumn("priority",
        portableHash(concat(lit("wsamp"), col("doc_id"))).cast("double") /
          col("w"))
      .select(col("doc_id"), col("lang"), col("w"), col("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(WeightedK)

  private val sampWeightedSql = {
    val toks = graft.text.TextFunctions.tokensSql("text")
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len($toks) AS BIGINT) AS w
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, lang, w,
       |    CAST(${portableHashSql("concat('wsamp', CAST(doc_id AS VARCHAR))")}
       |      AS DOUBLE) / w AS priority
       |  FROM t WHERE w > 0)
       |SELECT doc_id, lang, w, priority
       |FROM p ORDER BY priority, doc_id LIMIT $WeightedK""".stripMargin
  }

  // --------------------------------------------------------- samp_quota
  // Per-stratum quota (uniform without replacement): N docs per lang,
  // drawn by ascending hash — the curation move that caps any one
  // stratum's contribution to a mix. Runs through the custom TopKPerKey
  // operator: bounded k-heaps per partition, one exchange, no per-group
  // sort (the window form would sort every stratum fully).
  private val QuotaN = 12
  private def sampQuota(s: SparkSession, d: String): DataFrame = {
    val withH = Tables.documents(s, d)
      .withColumn("h", portableHash(concat(lit("quota"), col("doc_id"))))
      .select(col("lang"), col("doc_id"), col("source"), col("h"))
    graft.plans.TopK.perKey(withH, Seq("lang"),
      Seq(("h", true), ("doc_id", true)), QuotaN)
  }

  private val sampQuotaSql =
    s"""WITH hashed AS (
       |  SELECT lang, doc_id, source,
       |    ${portableHashSql("concat('quota', CAST(doc_id AS VARCHAR))")} AS h
       |  FROM documents),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
       |  FROM hashed)
       |SELECT lang, doc_id, source, h FROM ranked WHERE rn <= $QuotaN""".stripMargin

  // -------------------------------------------------------- pack_chunks
  // Sequence packing: concatenate docs (per source, in doc_id order)
  // into fixed token-budget chunks — the pre-tokenization step that
  // turns a corpus into training sequences. A doc belongs to the chunk
  // where its START lands: chunk = (cumsum − n_tok) DIV budget. Pure
  // integer arithmetic → deterministic and engine-identical.
  //
  // The running sum is a DISTRIBUTED PREFIX SUM, not a per-source
  // window: `Window.partitionBy(source)` puts each source in ONE window
  // partition, and at 100 TB a dominant source (the web crawl ≈ most of
  // the corpus) would make one task sort and scan nearly everything.
  // The doc_id-within-source ordering CONTRACT does not require a
  // single task: range-partition on (source, doc_id) so each source's
  // rows split across partitions in order; compute the partition-local
  // cumsum (window keyed by (pid, source) — bounded by the range
  // partition size, never by a source's size); then add each
  // (pid, source) cell's exclusive prefix offset, derived from the
  // per-partition totals (a ≤ P×|sources|-row side table) and broadcast
  // back. Identical output to the single-window form (oracle unchanged);
  // no task ever holds a whole source. PlanSpec pins the shape.
  private[graft] val ChunkBudget = 512L

  /** (source, doc_id, n_tok, chunk_id) — the distributed-prefix-sum
    * chunk assignment shared by pack_chunks and pack_mask. */
  private[graft] def packedDocs(s: SparkSession, d: String): DataFrame =
    packedCum(s, d)
      .withColumn("chunk_id", expr(s"(cum - n_tok) DIV $ChunkBudget"))
      .select(col("source"), col("doc_id"), col("n_tok"), col("chunk_id"))

  /** (source, doc_id, n_tok, cum) — the budget-INDEPENDENT distributed
    * prefix sum under packedDocs: the running token offset of each doc
    * within its source. Factored out so budget sweeps (pack_sweep)
    * derive every chunking from ONE prefix-sum pass — chunk_b =
    * (cum − n_tok) DIV b is a map-only function of cum. Memoized in
    * [[graft.SharedStages]] (one materialized row-per-doc table per
    * (session, dir), the persisted toks pass unpersisted eagerly) so
    * pack_chunks/pack_mask/pack_sweep stop each leaking a cached
    * dataset per invocation; PlanSpec pins the prefix-sum shape on the
    * lazy builder [[packedCumPlan]]. */
  private[graft] def packedCum(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.packedCum(s, d)

  /** The LAZY prefix-sum plan plus a cleanup thunk releasing the
    * internal persisted tokenize pass — callers (SharedStages, the
    * PlanSpec shape pin) materialize then clean up. */
  private[graft] def packedCumPlan(s: SparkSession, d: String)
  : (DataFrame, () => Unit) = {
    val nPart = s.sessionState.conf.numShufflePartitions
    // persisted: the tokenize+range-exchange pass feeds both the offset
    // side table and the main cumsum (same discipline as decontam)
    val toks = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .repartitionByRange(nPart, col("source"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .persist()
    // exclusive running offset per source across partitions; the side
    // table is ≤ nPart×|sources| rows, so its per-source window is
    // bounded by nPart — driver-scale, not data-scale
    val offW = Window.partitionBy(col("source")).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy(col("pid"), col("source"))
      .agg(sum(col("n_tok")).as("part_sum"))
      .withColumn("offset", coalesce(sum(col("part_sum")).over(offW), lit(0L)))
      .select(col("pid"), col("source"), col("offset"))
    val localW = Window.partitionBy(col("pid"), col("source"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = toks
      .withColumn("cum_local", sum(col("n_tok")).over(localW))
      .join(broadcast(offsets), Seq("pid", "source"))
      .withColumn("cum", col("cum_local") + col("offset"))
      .select(col("source"), col("doc_id"), col("n_tok"), col("cum"))
    (cum, () => { toks.unpersist(); () })
  }

  private def packChunks(s: SparkSession, d: String): DataFrame =
    packedDocs(s, d)
      .groupBy(col("source"), col("chunk_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("chunk_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  // ---------------------------------------------------------- pack_mask
  // Packing quality of the pack_chunks sequences under CAUSAL ATTENTION
  // with document masking (the "attention contamination" metric
  // packed-training pipelines track): per packed chunk, the fraction of
  // causal attention pairs that would cross a document boundary if the
  // pack trained WITHOUT a block-diagonal mask. Exact from the doc
  // lengths alone — within-doc pairs Σ lᵢ(lᵢ+1)/2 over total T(T+1)/2 —
  // so the report costs one extra integer aggregate on the shared
  // chunk assignment, no token-level work.
  private def packMask(s: SparkSession, d: String): DataFrame =
    packedDocs(s, d)
      .groupBy(col("source"), col("chunk_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("seq_len"),
        sum(expr("n_tok * (n_tok + 1) DIV 2")).as("within_pairs"))
      .withColumn("total_pairs", expr("seq_len * (seq_len + 1) DIV 2"))
      .withColumn("cross_frac",
        when(col("total_pairs") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("within_pairs").cast("double") /
            col("total_pairs").cast("double")))
      .select(col("source"), col("chunk_id"), col("n_docs"), col("seq_len"),
        col("within_pairs"), col("total_pairs"), col("cross_frac"))

  private def packMaskSql = {
    val toks = tokensSql("text")
    s"""WITH t AS (
       |  SELECT source, doc_id, CAST(len($toks) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT source, doc_id, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |                     ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t),
       |g AS (
       |  SELECT source, CAST((cum - n_tok) // $ChunkBudget AS BIGINT) AS chunk_id,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS seq_len,
       |    CAST(SUM(n_tok * (n_tok + 1) // 2) AS BIGINT) AS within_pairs
       |  FROM c GROUP BY 1, 2)
       |SELECT source, chunk_id, n_docs, seq_len, within_pairs,
       |  seq_len * (seq_len + 1) // 2 AS total_pairs,
       |  CASE WHEN seq_len = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE CAST(1 AS DOUBLE) - CAST(within_pairs AS DOUBLE)
       |         / CAST(seq_len * (seq_len + 1) // 2 AS DOUBLE) END AS cross_frac
       |FROM g""".stripMargin
  }

  private def packChunksSql = {
    val toks = tokensSql("text")
    s"""WITH t AS (
       |  SELECT source, doc_id, CAST(len($toks) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT source, doc_id, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |                     ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT source, CAST((cum - n_tok) // $ChunkBudget AS BIGINT) AS chunk_id,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS chunk_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM c
       |GROUP BY 1, 2""".stripMargin
  }

  // -------------------------------------------------------- pack_sweep
  // Packing-budget tuning sweep: the per-source packing efficiency
  // report (chunk count, padding waste, start-lands overflow, padding
  // fraction) at three candidate token budgets — the measurement that
  // PICKS ChunkBudget before a production packing run. Every chunking
  // derives from the ONE shared prefix-sum pass ([[packedCum]]):
  // chunk_b = (cum − n_tok) DIV b is map-only in cum, so the sweep
  // costs |budgets| keyed aggregations over the same scan, not
  // |budgets| prefix sums. The budget table is a bounded 3-row
  // broadcast (an annotated nested loop, not an unguarded cross join);
  // output is |budgets|×|sources| rows at any corpus size. Padding
  // counts each chunk's shortfall below budget (undersized tails),
  // overflow each chunk's excess above it (the start-lands rule lets a
  // doc spill past its chunk boundary).
  private val SweepBudgets = Seq(256L, 512L, 1024L)
  private def packSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budgets = broadcast(SweepBudgets.toDF("budget")) // bounded: 3 rows
    packedCum(s, d)
      .crossJoin(budgets) // bounded: 3 sweep points per doc row
      .withColumn("chunk_id", expr("(cum - n_tok) DIV budget"))
      .groupBy(col("budget"), col("source"), col("chunk_id"))
      .agg(sum(col("n_tok")).as("chunk_tokens"))
      .groupBy(col("budget"), col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("chunk_tokens")).as("tokens"),
        sum(greatest(col("budget") - col("chunk_tokens"), lit(0L)))
          .as("pad_tokens"),
        sum(greatest(col("chunk_tokens") - col("budget"), lit(0L)))
          .as("overflow_tokens"))
      .withColumn("pad_frac",
        col("pad_tokens").cast("double") /
          (col("n_chunks") * col("budget")).cast("double"))
  }

  private def packSweepSql = {
    val toks = tokensSql("text")
    val budgetRows = SweepBudgets
      .map(b => s"(CAST($b AS BIGINT))").mkString(", ")
    s"""WITH t AS (
       |  SELECT source, doc_id, CAST(len($toks) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT source, doc_id, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |                     ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t),
       |b(budget) AS (VALUES $budgetRows),
       |g AS (
       |  SELECT b.budget, c.source,
       |    CAST((cum - n_tok) // b.budget AS BIGINT) AS chunk_id,
       |    CAST(SUM(n_tok) AS BIGINT) AS chunk_tokens
       |  FROM c, b GROUP BY 1, 2, 3)
       |SELECT budget, source, COUNT(*) AS n_chunks,
       |  CAST(SUM(chunk_tokens) AS BIGINT) AS tokens,
       |  CAST(SUM(GREATEST(budget - chunk_tokens, 0)) AS BIGINT)
       |    AS pad_tokens,
       |  CAST(SUM(GREATEST(chunk_tokens - budget, 0)) AS BIGINT)
       |    AS overflow_tokens,
       |  CAST(SUM(GREATEST(budget - chunk_tokens, 0)) AS DOUBLE)
       |    / CAST(COUNT(*) * budget AS DOUBLE) AS pad_frac
       |FROM g GROUP BY 1, 2""".stripMargin
  }

  // -------------------------------------------------------- vocab_topk
  // Global vocabulary head: top-50 tokens by frequency. Partial
  // (map-side) aggregation collapses each partition to its distinct
  // tokens before the shuffle, and the final top-k is
  // TakeOrderedAndProject — no global sort of the vocabulary.
  private def vocabTopK(s: SparkSession, d: String): DataFrame =
    Tables.parallelize(Tables.documents(s, d))
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)

  private def vocabTopKSql = {
    val toks = tokensSql("text")
    s"""SELECT token, COUNT(*) AS n
       |FROM (SELECT UNNEST($toks) AS token FROM documents)
       |GROUP BY 1
       |ORDER BY n DESC, token
       |LIMIT 50""".stripMargin
  }

  // --------------------------------------------------------- heavy_cms
  // Count-min sketch heavy-hitter estimates: d=4 hash rows × w=256
  // buckets over token occurrences, estimate = min over rows of the
  // bucket count — state is 1024 longs per corpus regardless of
  // vocabulary size (the mergeable alternative to an exact token
  // count at 100 TB). Probed against a fixed token list next to the
  // exact counts, so the oracle checks the sketch AND the estimate's
  // one-sidedness (est >= exact always). Fixed hashes → the sketch is
  // a pure function of the data, bit-identical in DuckDB.
  private val CmsRows = 4
  private val CmsWidth = 256
  private val CmsProbes = Seq(
    "the", "a", "data", "table", "row", "value", "spark", "key", "scan", "join")

  private def heavyCms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.parallelize(Tables.documents(s, d))
      .select(explode(tokens(col("text"))).as("t"))
    // pre-aggregate to distinct tokens FIRST (map-side combine + one
    // vocabulary-sized shuffle), so the 4 md5 hashes run once per
    // distinct token, not once per occurrence — at 100 TB the md5 cost
    // scales with |vocab|, and the sketch update is a weighted sum
    val counts = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val rb = (0 until CmsRows).map(r => struct(lit(r).as("r"),
      (portableHash(concat(lit(s"cms${r}_"), col("t"))) % CmsWidth).as("b")))
    val cms = counts
      .select(explode(array(rb: _*)).as("rb"), col("cnt"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(sum(col("cnt")).as("c"))
    val probes = CmsProbes.toDF("token")
      .select(col("token"), explode(array((0 until CmsRows).map(r =>
        struct(lit(r).as("r"),
          (portableHash(concat(lit(s"cms${r}_"), col("token"))) % CmsWidth).as("b"))): _*)).as("rb"))
      .select(col("token"), col("rb.r").as("r"), col("rb.b").as("b"))
    val est = probes.join(broadcast(cms), Seq("r", "b"))
      .groupBy(col("token")).agg(min(col("c")).as("est"))
    val exact = counts.filter(col("t").isin(CmsProbes: _*))
      .select(col("t").as("token"), col("cnt").as("exact"))
    est.join(exact, Seq("token"))
      .select(col("token"), col("est"), col("exact"))
  }

  private def heavyCmsSql = {
    val toks = tokensSql("text")
    def bucket(tcol: String, r: Int) =
      s"${portableHashSql(s"concat('cms${r}_', $tcol)")} % $CmsWidth"
    val pairRows = (0 until CmsRows).map(r =>
      s"SELECT $r AS r, ${bucket("t", r)} AS b, cnt FROM counts")
      .mkString("\n  UNION ALL\n  ")
    val probeRows = CmsProbes.flatMap(t => (0 until CmsRows).map(r =>
      s"SELECT '$t' AS token, $r AS r, ${bucket(s"'$t'", r)} AS b"))
      .mkString("\n  UNION ALL\n  ")
    s"""WITH tok AS (
       |  SELECT UNNEST($toks) AS t FROM documents),
       |counts AS (
       |  SELECT t, COUNT(*) AS cnt FROM tok GROUP BY 1),
       |pairs AS (
       |  $pairRows),
       |cms AS (
       |  SELECT r, b, CAST(SUM(cnt) AS BIGINT) AS c FROM pairs GROUP BY 1, 2),
       |probes AS (
       |  $probeRows),
       |est AS (
       |  SELECT token, MIN(c) AS est
       |  FROM probes JOIN cms USING (r, b) GROUP BY 1),
       |exact AS (
       |  SELECT t AS token, cnt AS exact FROM counts
       |  WHERE t IN (${CmsProbes.map(t => s"'$t'").mkString(", ")}))
       |SELECT token, est, exact FROM est JOIN exact USING (token)""".stripMargin
  }

  // ------------------------------------------------------ mix_interleave
  // Balanced mixture interleave: round-robin documents across sources —
  // position = rank within source, ties across sources broken by source
  // name — so a training reader consuming the sequence head sees every
  // source represented proportionally from the first batch, not one
  // source's corpus first. Pure window arithmetic, deterministic; one
  // shuffle per window.
  private def mixInterleave(s: SparkSession, d: String): DataFrame = {
    val perSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val global = Window.orderBy(col("rn"), col("source"))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"))
      .withColumn("rn", row_number().over(perSrc))
      // pos <= 100 implies rn <= 100, so prune BEFORE the global window:
      // the unpartitioned (single-partition) window then runs over at
      // most 100 × |sources| rows no matter the corpus size — the
      // keyed shuffle did the heavy lifting, the total order is bounded
      .filter(col("rn") <= 100)
      .withColumn("pos", row_number().over(global))
      .filter(col("pos") <= 100)
      .select(col("pos").cast("long").as("pos"), col("source"), col("doc_id"))
  }

  private val mixInterleaveSql =
    """WITH r AS (
      |  SELECT source, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |g AS (
      |  SELECT source, doc_id,
      |    ROW_NUMBER() OVER (ORDER BY rn, source) AS pos
      |  FROM r)
      |SELECT pos, source, doc_id FROM g WHERE pos <= 100""".stripMargin

  // ----------------------------------------------------- budget_select
  // Greedy token-budget curation: fill a FIXED training-token budget
  // with the best docs first (quality = n_chars, the quality_deciles
  // signal, doc_id tiebreak for a total order) — "give me the top docs
  // until 16 Ki tokens" is THE selection step between scoring and
  // training. A doc is selected iff the cumulative token count of all
  // strictly-better docs is under budget (exclusive prefix — the
  // pack_chunks start-lands rule), so selection is a pure function of
  // the global quality order.
  //
  // The running sum is the SAME distributed prefix sum as packedDocs,
  // but over the (quality DESC, doc_id) order: range-partition on the
  // order keys, partition-local cumsum, broadcast the ≤P-row exclusive
  // partition offsets. The only global window runs over the ≤P offset
  // rows — driver-scale, never data-scale; no task holds the corpus.
  private val SelBudget = 16384L

  private def budgetSelect(s: SparkSession, d: String): DataFrame = {
    val nPart = s.sessionState.conf.numShufflePartitions
    val toks = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .repartitionByRange(nPart, col("n_chars").desc, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .persist()
    val offW = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy(col("pid")).agg(sum(col("n_tok")).as("part_sum"))
      .withColumn("offset", coalesce(sum(col("part_sum")).over(offW), lit(0L)))
      .select(col("pid"), col("offset"))
    val localW = Window.partitionBy(col("pid"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("cum_local", sum(col("n_tok")).over(localW))
      .join(broadcast(offsets), "pid")
      .withColumn("cum_excl", col("cum_local") + col("offset") - col("n_tok"))
      .withColumn("sel", (col("cum_excl") < SelBudget).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("sel")).as("n_sel"),
        sum(when(col("sel") === 1, col("n_tok")).otherwise(0L)).as("sel_tokens"))
  }

  private def budgetSelectSql = {
    val toks = tokensSql("text")
    s"""WITH t AS (
       |  SELECT source, doc_id, n_chars, CAST(len($toks) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT source, n_tok,
       |    SUM(n_tok) OVER (ORDER BY n_chars DESC, doc_id
       |                     ROWS UNBOUNDED PRECEDING) - n_tok AS cum_excl
       |  FROM t)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN cum_excl < $SelBudget THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_sel,
       |  CAST(SUM(CASE WHEN cum_excl < $SelBudget THEN n_tok ELSE 0 END) AS BIGINT)
       |    AS sel_tokens
       |FROM c GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------- quality_deciles
  // Decile binning of a per-doc quality signal (n_chars here) with a
  // doc_id tiebreak so the NTILE assignment is a total-order function —
  // the bucketing step behind "train on the top-N% by quality".
  // SCALE NOTE: exact global NTILE is definitionally a total sort
  // (Spark: range-partition + sort; the single-partition window below is
  // the oracle-checkable small form). The 100 TB path computes decile
  // BOUNDARIES from the mergeable t-digest (q17) and buckets map-only
  // against the broadcast boundaries — same contract, approximate
  // edges; keep this form as the exactness gate.
  private def qualityDeciles(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
  }

  private val qualityDecilesSql =
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |    NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile
      |  FROM documents)
      |SELECT decile, COUNT(*) AS n_docs,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM t
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------- quality_deciles_digest
  // The 100 TB decile path: boundaries from ONE mergeable t-digest
  // aggregation (O(δ) state per partition, no sort), then a map-only
  // bucket assignment against the collected boundaries — the collect is
  // 9 doubles by design, the broadcast-boundaries pattern. No global
  // NTILE sort, no single-partition window anywhere in the RETURNED
  // plan (PlanSpec asserts this). Boundaries are EXACT at every scale
  // via the q17 digest-guided snap (the sf10 ledger caught the
  // approximate form drifting once the digest compresses at ~5M rows:
  // b90 848 vs the exact 843): the digest narrows each target rank, a
  // counts pass measures the approximation's exact rank (9-row bounded
  // collect), and a TopKPerKey pass walks the measured error k to the
  // true ((n·p) DIV 100)+1 order statistic — residual work proportional
  // to the digest's actual error, never a global sort. The snap passes
  // execute eagerly in the builder (q17's pass-1 shape); the returned
  // plan is the map-only bucket aggregation. Oracle: the exact ranked
  // mirror; bucket = 1 + #(boundaries ≤ value). Semantics vs exact
  // NTILE: ties of the same value land in the same bucket here
  // (boundary rule), where NTILE splits them by rowcount — both forms
  // stay oracle-gated, this one is the production route.
  private val DecilePs = Seq(10, 20, 30, 40, 50, 60, 70, 80, 90)
  private def qualityDecilesDigest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val td = udaf(new graft.functions.TDigestSketch.Quantiles(DecilePs))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("double").as("v"))

    // Pass 1: digest -> approximate boundary per decile + exact n.
    val approx = docs.agg(td(col("v")).as("qs"), count(lit(1)).as("n"))
      .select(col("n"), posexplode(col("qs")).as(Seq("pi", "approx")))
      .withColumn("p", element_at(lit(DecilePs.toArray), col("pi") + 1))
      .withColumn("target", expr("((n * p) DIV 100) + 1"))
      .select("p", "approx", "target")

    // Pass 2: exact rank of each approximation (9 boundary rows ride a
    // broadcast; the collect is 9 rows by construction).
    val ranks = docs.crossJoin(broadcast(approx))
      .groupBy(col("p"))
      .agg(
        sum(when(col("v") <= col("approx"), 1L).otherwise(0L)).as("cnt_le"),
        first(col("approx")).as("approx"),
        first(col("target")).as("target"))
      .collect()

    val bounds: Seq[Double] = if (ranks.isEmpty) Nil else {
      // Signed sort key folds both snap directions into one ascending
      // TopKPerKey (the q17 shape): rank overshot -> k-th largest among
      // v <= approx; undershot -> k-th smallest among v > approx.
      val meta = ranks.toSeq.map { r =>
        val cntLe  = r.getAs[Long]("cnt_le")
        val target = r.getAs[Long]("target")
        val fromLe = cntLe >= target
        (r.getAs[Int]("p"), r.getAs[Double]("approx"), fromLe,
          if (fromLe) cntLe - target + 1 else target - cntLe)
      }
      // One shared kmax (worst digest error across the nine deciles)
      // sizes every key's heap: a single badly-approximated boundary
      // amplifies retention+shuffle for all nine keys by that factor.
      // Acceptable because t-digest boundary error is tiny (kmax is
      // single-digit at every measured SF); if it ever grows, switch to
      // per-key k by filtering TopKPerKey output to rn <= kneed per p.
      val kmax = meta.map(_._4).foldLeft(1L)(math.max).toInt
      import s.implicits._
      val boundDf = broadcast(meta.toDF("p", "approx", "from_le", "kneed"))
      val cand = docs.crossJoin(boundDf)
        .filter((col("from_le") && col("v") <= col("approx")) ||
                (!col("from_le") && col("v") > col("approx")))
        .withColumn("sk",
          when(col("from_le"), -col("v")).otherwise(col("v")))
      val w = Window.partitionBy(col("p")).orderBy(col("sk"))
      graft.plans.TopK.perKey(cand, Seq("p"), Seq(("sk", true)), kmax)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === col("kneed"))
        .select(col("p"), col("v")).collect()
        .sortBy(_.getInt(0)).map(_.getDouble(1)).toSeq
    }
    docs
      .groupBy(graft.functions.TDigestSketch.bucketColumn(col("v"), bounds)
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("v")).cast("long").as("min_chars"),
        max(col("v")).cast("long").as("max_chars"))
  }

  private val qualityDecilesDigestSql = {
    val boundCols = DecilePs.map(p =>
      s"MAX(CASE WHEN rn = ((n * $p) // 100) + 1 THEN CAST(n_chars AS DOUBLE) END) AS b$p")
      .mkString(",\n       |    ")
    val bucketExpr = DecilePs.map(p =>
      s"CASE WHEN CAST(d.n_chars AS DOUBLE) >= b.b$p THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ranked AS (
       |  SELECT n_chars,
       |    ROW_NUMBER() OVER (ORDER BY n_chars) AS rn,
       |    COUNT(*) OVER () AS n
       |  FROM documents),
       |b AS (
       |  SELECT
       |    $boundCols
       |  FROM ranked)
       |SELECT CAST(1 + $bucketExpr AS BIGINT) AS bucket,
       |  COUNT(*) AS n_docs,
       |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
       |FROM documents d CROSS JOIN b
       |GROUP BY 1""".stripMargin
  }

  // -------------------------------------------------------- split_assign
  // Deterministic train/val/test assignment: split = portable hash of
  // the doc id into percent buckets (80/10/10), reported as per
  // (lang, split) counts — the stratification report a training run
  // records. Hash-stable: any engine, any partitioning, any subset of
  // the corpus assigns every doc identically (the property that keeps
  // eval sets fixed as the corpus grows). Map-only + one rollup.
  private def splitAssign(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(portableHash(concat(lit("split"),
      col("doc_id").cast("string"))), lit(100))
    Tables.documents(s, d)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
  }

  private val splitAssignSql = {
    val bucket =
      s"${portableHashSql("concat('split', CAST(doc_id AS VARCHAR))")} % 100"
    s"""WITH t AS (
       |  SELECT lang, doc_id,
       |    CASE WHEN $bucket < 80 THEN 'train'
       |         WHEN $bucket < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents)
       |SELECT lang, split, COUNT(*) AS n_docs,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM t GROUP BY 1, 2""".stripMargin
  }

  // -------------------------------------------------------- shard_sizes
  // Deterministic shard assignment for training output: shard =
  // hash(id) % N, so any engine reproduces the same shard membership
  // and a re-run never reshuffles examples between shards (stable
  // data-order contract for resumable training). The query reports the
  // shard-level balance stats a writer job would emit; the write itself
  // is `df.withColumn("shard", ...).write.partitionBy("shard")`.
  private val NumShards = 16
  private def shardSizes(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("shard",
        portableHash(concat(lit("shard"), col("doc_id"))) % NumShards)
      .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("shard_tokens"))

  private def shardSizesSql = {
    val toks = tokensSql("text")
    s"""SELECT ${portableHashSql("concat('shard', CAST(doc_id AS VARCHAR))")} % $NumShards AS shard,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(len($toks) AS BIGINT)) AS BIGINT) AS shard_tokens
       |FROM documents
       |GROUP BY 1""".stripMargin
  }

  // ----------------------------------------------------------- decontam
  // Benchmark decontamination report: flag documents sharing any of the
  // corpus' top-K shingles with an "eval set" (here: the top-5 shingles
  // themselves, computed in-query — in production the eval side is a
  // broadcast list of benchmark n-gram hashes). Semi-join on 64-bit
  // shingle hashes: the document side never ships text, and the eval
  // side is broadcast — the standard decontamination shape at scale.
  private def decontam(s: SparkSession, d: String): DataFrame = {
    // trigram hashes via the zero-shuffle slice/arrays_zip row pipeline
    // (TextFunctions.ngramRows, shared with MinHashLSH.signatures) —
    // the array-HOF shingle form evaluates interpreted and serializes
    // across task threads (measured 19.7 s → ~1 s at sf0.1 for this
    // query); persist: the shingle pass feeds both the top-K selection
    // and the hit join
    val withSh = graft.text.TextFunctions
      .ngramRows(Tables.parallelize(Tables.documents(s, d)), "doc_id", "text", 3)
      .select(col("doc_id"), portableHash(col("s")).as("h"))
      .persist()
    val topShingles = withSh.groupBy(col("h"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("h"))
      .limit(5)
      .select(col("h"))
    withSh.join(broadcast(topShingles), "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_hits"))
  }

  private def decontamSql = {
    val toks = tokensSql("text")
    val sh   = shinglesSql("toks", 3)
    s"""WITH t AS (
       |  SELECT doc_id, $toks AS toks FROM documents),
       |g0 AS (
       |  SELECT doc_id, UNNEST($sh) AS gg FROM t),
       |g AS (
       |  SELECT doc_id, ${portableHashSql("gg")} AS h FROM g0),
       |top5 AS (
       |  SELECT h FROM (
       |    SELECT h, COUNT(*) AS n FROM g GROUP BY 1
       |    ORDER BY n DESC, h LIMIT 5))
       |SELECT doc_id, COUNT(DISTINCT h) AS n_hits
       |FROM g JOIN top5 USING (h)
       |GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------------- epoch_shuffle
  // Deterministic per-epoch training order: each epoch reshuffles the
  // corpus with an epoch-seeded portable hash — shard = hash % S picks
  // the output shard, and the within-shard position orders by the same
  // hash (tie-break doc_id). Any engine, any cluster, any partition
  // layout reproduces the identical (epoch, shard, pos) assignment, so
  // a resumed training run re-reads exactly the order it left — the
  // data-order contract shard_sizes establishes for one epoch, extended
  // to the epoch dimension (each epoch is a DIFFERENT pseudo-random
  // permutation, as SGD wants). Scale shape: the epoch expansion is
  // map-only; the ONLY exchange is the (epoch, shard) partitioning that
  // the writer needs anyway, and ranking happens within each shard
  // partition (no global sort — `partitionBy(epoch, shard)` +
  // `sortWithinPartitions(ord)` is the write form).
  private val ShufEpochs = 2
  private val ShufShards = 8

  private def epochShuffle(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("ord"), col("doc_id"))
    Tables.documents(s, d).select(col("doc_id"))
      .withColumn("epoch",
        explode(array((0 until ShufEpochs).map(lit(_)): _*)))
      .withColumn("ord",
        portableHash(concat(lit("epoch"), col("epoch"), lit(":"), col("doc_id"))))
      .withColumn("shard", col("ord") % ShufShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("epoch"), col("shard"), col("doc_id"), col("pos"))
  }

  private def epochShuffleSql = {
    val h = portableHashSql(
      "concat('epoch', CAST(e.epoch AS VARCHAR), ':', CAST(doc_id AS VARCHAR))")
    s"""WITH x AS (
       |  SELECT doc_id, CAST(e.epoch AS INTEGER) AS epoch, $h AS ord
       |  FROM documents,
       |    LATERAL (SELECT unnest(range(0, $ShufEpochs)) AS epoch) e)
       |SELECT epoch, ord % $ShufShards AS shard, doc_id,
       |  ROW_NUMBER() OVER (PARTITION BY epoch, ord % $ShufShards
       |                     ORDER BY ord, doc_id) AS pos
       |FROM x""".stripMargin
  }

  // ------------------------------------------------------ dsir_importance
  // DSIR-style importance weighting (Xie et al. 2023, Data Selection
  // with Importance Resampling): score every document by how much its
  // hashed-bigram distribution resembles a TARGET domain (source
  // 'src0' stands in for "quality corpus") relative to the raw pool —
  // the data-selection step that upweights target-like documents before
  // sampling (samp_weighted consumes exactly such weights). The hashed
  // LM is the scale story: both "models" are bucket-count tables capped
  // at 4 096 rows (features are HASHED into a fixed space, per the
  // paper), so each aggregates map-side into ≤4 096 partials per
  // executor and the per-gram lift table BROADCASTS to every scorer —
  // at 100 TB the only data-sized exchange is the per-doc rollup.
  // Exactness discipline: the per-gram lift is add-1-smoothed
  // fixed-point integer arithmetic (SCALE·(tgt+1) DIV (raw+1) — integer
  // division, bit-identical in both engines), summed as BIGINT; the
  // ONLY IEEE step is the final mirrored normalization divide. The
  // log-space double form is the 100 TB rendering (overflow-free for
  // arbitrary counts); this fixed-point form is the oracle-gated gate.
  private val DsirBuckets = 4096
  private val DsirScale = 1000000L
  private val DsirTarget = "src0"

  /** The hashed-LM "model": per-bucket lift table, ≤ [[DsirBuckets]]
    * rows however big the corpus. Built once batch-side; broadcast by
    * every scorer (batch report or streaming micro-batch). */
  private[graft] def dsirLift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val grams = ngramRows(Tables.parallelize(docs), "doc_id", "text", 2)
      .select(col("doc_id"),
        (portableHash(col("s")) % DsirBuckets).as("g"))
    val raw = grams.groupBy(col("g")).agg(count(lit(1)).as("raw_c"))
    val tgt = grams
      .join(docs.filter(col("source") === DsirTarget).select("doc_id"),
        "doc_id")
      .groupBy(col("g")).agg(count(lit(1)).as("tgt_c"))
    raw.join(tgt, Seq("g"), "left")
      .select(col("g"), expr(
        s"(CAST($DsirScale AS BIGINT) * (coalesce(tgt_c, CAST(0 AS BIGINT)) + 1))" +
          " DIV (raw_c + 1)").as("lift"))
  }

  /** Score ANY batch of documents (doc_id, text, source) against a
    * prebuilt lift table — the per-doc step is stateless given the
    * broadcast model, so the streaming twin is a plain `foreachBatch`
    * of this same function: train the importance model once, stream
    * the selection (StreamingDsirSpec pins per-batch ≡ one-shot). A
    * model refresh is a batch-side rebuild swapping the lift table
    * between batches. A doc whose buckets the model never saw still
    * scores at the add-1 floor (the left join below), never dropped. */
  private[graft] def dsirScore(docs: DataFrame, lift: DataFrame): DataFrame = {
    val grams = ngramRows(docs, "doc_id", "text", 2)
      .select(col("doc_id"),
        (portableHash(col("s")) % DsirBuckets).as("g"))
    // LEFT join + smoothing floor, not inner: a gram whose bucket is
    // absent from the lift table scores at the add-1 floor
    // SCALE·(0+1) DIV (0+1) = SCALE instead of being dropped. In batch
    // the two are identical (the lift is built from the same corpus, so
    // every observed bucket is covered — the oracle's inner join stays
    // valid); in the STREAMING deployment new data arrives after the
    // model was built, and an inner join would silently delete any
    // document whose every bucket is unseen. The floor makes the
    // contract explicit: unseen evidence is neutral-ish, never fatal.
    grams.join(broadcast(lift), Seq("g"), "left") // bounded: ≤4096 hashed-LM rows
      .withColumn("lift", coalesce(col("lift"), lit(DsirScale)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("lift")).as("score"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("imp", col("score").cast("double") /
        (col("n_grams") * DsirScale).cast("double"))
      .select(col("doc_id"), col("source"), col("n_grams"), col("score"),
        col("imp"))
  }

  /** The full-corpus importance report — memoized per (session, dir) in
    * [[graft.SharedStages.dsirScores]] so the corpus-wide bigram hash
    * pass and lift build run once for the report, the resampling draw,
    * and any streaming setup. */
  private[graft] def dsirReport(s: SparkSession, d: String): DataFrame =
    dsirScore(Tables.parallelize(Tables.documents(s, d)), dsirLift(s, d))

  private val dsirImportanceSql = {
    val toks = tokensSql("text")
    val sh = shinglesSql("toks", 2)
    s"""WITH tokd AS (
       |  SELECT doc_id, $toks AS toks FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest($sh) AS s FROM tokd),
       |gr AS (
       |  SELECT doc_id, ${portableHashSql("s")} % $DsirBuckets AS g
       |  FROM grams),
       |raw AS (SELECT g, COUNT(*) AS raw_c FROM gr GROUP BY 1),
       |tgt AS (
       |  SELECT gr.g, COUNT(*) AS tgt_c
       |  FROM gr JOIN documents d USING (doc_id)
       |  WHERE d.source = '$DsirTarget' GROUP BY 1),
       |lift AS (
       |  SELECT raw.g,
       |    (CAST($DsirScale AS BIGINT) * (COALESCE(tgt_c, 0) + 1))
       |      // (raw_c + 1) AS lift
       |  FROM raw LEFT JOIN tgt USING (g)),
       |scored AS (
       |  SELECT doc_id, COUNT(*) AS n_grams,
       |    CAST(SUM(lift) AS BIGINT) AS score
       |  FROM gr JOIN lift USING (g) GROUP BY 1)
       |SELECT s.doc_id, d.source, s.n_grams, s.score,
       |  CAST(s.score AS DOUBLE)
       |    / CAST(s.n_grams * $DsirScale AS DOUBLE) AS imp
       |FROM scored s JOIN documents d ON d.doc_id = s.doc_id""".stripMargin
  }

  // ------------------------------------------------------- dsir_resample
  // The RESAMPLING step completing dsir_importance (the "R" in DSIR):
  // keep each document with probability min(1, importance) — rendered
  // deterministically as the same salted-hash Bernoulli draw samp_hash
  // uses, but with the per-doc importance as the acceptance threshold:
  // accept iff hash('dsir'‖doc_id) mod (n_grams·SCALE) < score, which
  // is exactly P(accept) = min(1, imp) in exact integer arithmetic
  // (target-like docs with imp ≥ 1 are always kept). Composes the
  // importance pipeline unchanged; the draw is map-only on top of it,
  // reproducible across engines, partitionings and reruns — the
  // auditable form a 100 TB selection pass needs (re-running selection
  // on a different cluster keeps the SAME corpus).
  private def dsirResample(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.dsirScores(s, d)
      .filter(portableHash(concat(lit("dsir"), col("doc_id")))
        % (col("n_grams") * DsirScale) < col("score"))
      .select(col("doc_id"), col("source"), col("imp"))

  private val dsirResampleSql =
    s"""WITH scored AS ($dsirImportanceSql)
       |SELECT doc_id, source, imp FROM scored
       |WHERE ${portableHashSql("concat('dsir', CAST(doc_id AS VARCHAR))")}
       |  % (n_grams * $DsirScale) < score""".stripMargin

  // ------------------------------------------------------ dataset_card
  // The per-source datasheet — the summary table a corpus release
  // attaches (Datasheets-for-Datasets shape): doc/token/vocab counts,
  // exact-duplicate count, mean length, majority language. One
  // composed report instead of five ad-hoc queries; every column is a
  // keyed aggregation (vocab needs its own (source, word) distinct
  // pass; the language mode is a per-source top-1), output is
  // |sources| rows at any corpus size. Mean length is the exact
  // integer-sum ratio, divided once in IEEE at the end.
  private def datasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.parallelize(Tables.documents(s, d))
      .select(col("source"), col("text"), col("lang"), col("n_chars"))
    val base = docs
      .withColumn("fp", md5(lower(trim(col("text")))))
      .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("fp")).as("n_distinct_fp"),
        sum(col("n_chars")).as("sum_chars"))
      .withColumn("dup_docs", col("n_docs") - col("n_distinct_fp"))
      .withColumn("mean_chars",
        col("sum_chars").cast("double") / col("n_docs").cast("double"))
    val vocab = docs
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("source")).agg(count(lit(1)).as("vocab"))
    val lw = Window.partitionBy(col("source"))
      .orderBy(col("ln").desc, col("lang"))
    val topLang = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("ln"))
      .withColumn("rn", row_number().over(lw)).filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    base.join(vocab, "source").join(topLang, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("vocab"),
        col("dup_docs"), col("mean_chars"), col("top_lang"))
  }

  private def datasetCardSql = {
    val toks = tokensSql("text")
    s"""WITH t AS (
       |  SELECT source, text, lang, n_chars,
       |    md5(lower(trim(text))) AS fp,
       |    CAST(len($toks) AS BIGINT) AS n_tok
       |  FROM documents),
       |base AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |    COUNT(DISTINCT fp) AS n_distinct_fp,
       |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |  FROM t GROUP BY 1),
       |voc AS (
       |  SELECT source, COUNT(*) AS vocab FROM (
       |    SELECT source, w, COUNT(*) AS c
       |    FROM (SELECT source, unnest($toks) AS w FROM documents)
       |    GROUP BY 1, 2)
       |  GROUP BY 1),
       |tl AS (
       |  SELECT source, lang AS top_lang FROM (
       |    SELECT source, lang, COUNT(*) AS ln,
       |      ROW_NUMBER() OVER (PARTITION BY source
       |        ORDER BY COUNT(*) DESC, lang) AS rn
       |    FROM documents GROUP BY 1, 2)
       |  WHERE rn = 1)
       |SELECT b.source, b.n_docs, b.n_tokens, v.vocab,
       |  b.n_docs - b.n_distinct_fp AS dup_docs,
       |  CAST(b.sum_chars AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS mean_chars,
       |  tl.top_lang
       |FROM base b
       |JOIN voc v ON v.source = b.source
       |JOIN tl ON tl.source = b.source""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("dataset_card", datasetCard, Some(datasetCardSql)),
    QueryDef("shard_sizes", shardSizes, Some(shardSizesSql)),
    QueryDef("dsir_importance",
      (s, d) => graft.SharedStages.dsirScores(s, d),
      Some(dsirImportanceSql)),
    QueryDef("dsir_resample", dsirResample, Some(dsirResampleSql)),
    QueryDef("split_assign", splitAssign, Some(splitAssignSql)),
    QueryDef("decontam", decontam, Some(decontamSql)),
    QueryDef("samp_hash", sampHash, Some(sampHashSql)),
    QueryDef("samp_quota", sampQuota, Some(sampQuotaSql)),
    QueryDef("samp_weighted", sampWeighted, Some(sampWeightedSql)),
    QueryDef("pack_chunks", packChunks, Some(packChunksSql)),
    QueryDef("pack_mask", packMask, Some(packMaskSql)),
    QueryDef("pack_sweep", packSweep, Some(packSweepSql)),
    QueryDef("vocab_topk", vocabTopK, Some(vocabTopKSql)),
    QueryDef("heavy_cms", heavyCms, Some(heavyCmsSql)),
    QueryDef("mix_interleave", mixInterleave, Some(mixInterleaveSql)),
    QueryDef("quality_deciles", qualityDeciles, Some(qualityDecilesSql)),
    QueryDef("budget_select", budgetSelect, Some(budgetSelectSql)),
    QueryDef("quality_deciles_digest", qualityDecilesDigest,
      Some(qualityDecilesDigestSql)),
    QueryDef("epoch_shuffle", epochShuffle, Some(epochShuffleSql)))
}
