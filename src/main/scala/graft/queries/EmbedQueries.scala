package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.embed.{IvfTrain, PcaPower, RpLsh, Similarity}

/** Similarity-search operator exposure over `embeddings` (SURVEY §7.5). */
object EmbedQueries {

  // ----------------------------------------------------------- knn_topk
  // Brute-force cosine top-5 for the first 10 vectors as queries.
  /** Exact brute-force top-5 neighbors of the 10 probe queries — the
    * ground-truth side of every recall gate. FOUR warm consumers
    * (knn_topk, context_pack, ann_recall, pq_recall) plus the
    * ann_frontier build previously each re-ran the |Q|×n exact scoring
    * pass per invocation; the memoized table is |Q|·k = 50 rows. */
  private def knnTopK(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.knnExact(s, d)

  private[graft] def buildKnnExact(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.knn(e.filter(Similarity.isProbe), e, "vec_id", "embedding", 5)
  }

  private val knnTopKSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |${Similarity.duckdbExactTopKCte(5)}
       |SELECT query_id, neighbor_id, cos, rk FROM ex""".stripMargin

  // ---------------------------------------------------------- context_pack
  // RAG context assembly at retrieval time: for each query, walk its
  // ranked kNN results in relevance order and keep the PREFIX that fits
  // a fixed token budget — the step between "retrieve top-k" and "build
  // the prompt" that every retrieval deployment runs per request. Pack
  // semantics are the budget_select prefix discipline applied per
  // query: cumulative token count over the (cos DESC, neighbor_id)
  // rank, keep while cum ≤ budget (first overflow truncates the
  // context; later smaller docs do NOT back-fill — contexts preserve
  // relevance order). Scale shape: the ranked retrieval is knn_topk's
  // plan; packing adds one doc-keyed join for token counts and one
  // query-partitioned window (k rows per query) — cost ∝ queries · k.
  private val ContextBudget = 256L

  private def contextPack(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"),
        size(graft.text.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tok"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    knnTopK(s, d)
      .join(tok, col("neighbor_id") === col("doc_id"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= lit(ContextBudget))
      .select(col("query_id"), col("rk").as("rank"), col("neighbor_id"),
        col("n_tok"), col("cum_tok"))
  }

  private def contextPackSql =
    s"""WITH nn AS ($knnTopKSql),
       |dtok AS (
       |  SELECT doc_id,
       |    CAST(len(${graft.text.TextFunctions.tokensSql("text")}) AS BIGINT)
       |      AS n_tok
       |  FROM documents),
       |packed AS (
       |  SELECT nn.query_id, nn.rk AS rank, nn.neighbor_id, t.n_tok,
       |    SUM(t.n_tok) OVER (PARTITION BY nn.query_id
       |      ORDER BY nn.cos DESC, nn.neighbor_id) AS cum_tok
       |  FROM nn JOIN dtok t ON t.doc_id = nn.neighbor_id)
       |SELECT query_id, rank, neighbor_id, n_tok,
       |  CAST(cum_tok AS BIGINT) AS cum_tok
       |FROM packed WHERE cum_tok <= $ContextBudget""".stripMargin

  // ----------------------------------------------------------- lsh_density
  // RP-LSH bucket-occupancy report, per hash table: used buckets, max
  // occupancy, and the CANDIDATE-PAIR MASS Σ c·(c−1)/2 — the actual
  // cost driver of every rp_cand consumer. This gauge's verdict now
  // ACTS: RpLsh.widthFor anchors bits to ceil(log2 n) − 2 (occupancy
  // 2–4/bucket at any n, candidate mass LINEAR in n) and widens the
  // table count alongside to hold recall — the measure→act loop that
  // closed the fixed-8-bit super-occupancy cluster BENCH_NOTES used to
  // flag (knn_classify 8.7× at 10×). Map-only bucketing + two keyed
  // aggregations; output ≤ tables rows at any corpus size.
  // Reads the SHARED materialized bucket table ([[graft.SharedStages
  // .rpBuckets]] — also feeds rpCands and knn_classify): the report is
  // two keyed rollups over the checkpoint instead of re-running the
  // quantize + plane-dot bucket pass (and its width-gating corpus
  // count) per invocation.
  private def lshDensity(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.rpBuckets(s, d)
      .groupBy(col("t"), col("bucket")).agg(count(lit(1)).as("c"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("c")).as("n_vecs"),
        max(col("c")).as("max_occ"),
        sum(expr("c * (c - 1) DIV 2")).as("cand_pairs"))

  // ------------------------------------------------------------ lsh_width
  // The adaptive-width DECISION itself as an oracle-gated row: corpus
  // size and the (bits, tables) RpLsh.widthFor picks for it. Both
  // engines derive the same integers from COUNT(*) via the same
  // power-of-two thresholds, so a drift between the Scala widthFor and
  // the SQL CASE chains — the one thing that would silently desync
  // every rp_cand oracle — fails THIS one-row gate first.
  private def lshWidth(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = graft.SharedStages.embedCount(s, d)
    val (tables, bits) = RpLsh.widthFor(n)
    Seq((n, bits.toLong, tables.toLong, 1L << bits))
      .toDF("n_vecs", "bits", "tables", "buckets_per_table")
  }

  private val lshWidthSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |${RpLsh.duckdbCandidateCte}
       |SELECT (SELECT COUNT(*) FROM qv) AS n_vecs,
       |  CAST(bits AS BIGINT) AS bits, CAST(tbl AS BIGINT) AS tables,
       |  CAST(1 << bits AS BIGINT) AS buckets_per_table
       |FROM rp_w""".stripMargin

  private val lshDensitySql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |${RpLsh.duckdbCandidateCte},
       |occ AS (SELECT t, bucket, COUNT(*) AS c FROM rp_bk GROUP BY 1, 2)
       |SELECT t, COUNT(*) AS n_buckets,
       |  CAST(SUM(c) AS BIGINT) AS n_vecs,
       |  CAST(MAX(c) AS BIGINT) AS max_occ,
       |  CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS cand_pairs
       |FROM occ GROUP BY t""".stripMargin

  // -------------------------------------------------- embed_cosine_pairs
  // IVF-style blocked near-dup: pairs within the same coarse cell
  // (label) with cosine >= 0.35 (the corpus has no engineered near-dups;
  // max pairwise cosine is ~0.51, so the threshold sits where real
  // result sets exist).
  private def cosinePairs(s: SparkSession, d: String): DataFrame =
    // shared with dedup_embed ([[graft.SharedStages.embedPairs]])
    graft.SharedStages.embedPairs(s, d)

  private val cosinePairsSql =
    s"""WITH ${Similarity.duckdbQuantizedCte}
       |SELECT a.label AS cell, a.vec_id AS a_id, b.vec_id AS b_id,
       |  CAST(${Similarity.duckdbDot("a.q", "b.q")} AS DOUBLE)
       |    / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) AS cos
       |FROM qv a JOIN qv b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE CAST(${Similarity.duckdbDot("a.q", "b.q")} AS DOUBLE)
       |    / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) >= CAST(0.35 AS DOUBLE)""".stripMargin

  // ----------------------------------------------------------- ann_rp_lsh
  // Global (unblocked) ANN: random-hyperplane bucket candidates, exact
  // quantized-cosine verification at 0.35 (see embed_cosine_pairs note;
  // LSH recall at this angle is partial BY DESIGN - the oracle mirrors
  // the identical candidate generation, so results still hash-match).
  private def annRpLsh(s: SparkSession, d: String): DataFrame =
    // threshold filter over the family's shared scored-candidate table
    // ([[graft.SharedStages.rpScored]]) — identical rows to the former
    // per-invocation RpLsh.annPairs run
    graft.SharedStages.rpScored(s, d).filter(col("cos") >= 0.35)

  private val annRpLshSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |${RpLsh.duckdbCandidateCte},
       |scored AS (
       |  SELECT c.a_id, c.b_id,
       |    CAST(${Similarity.duckdbDot("a.q", "b.q")} AS DOUBLE)
       |      / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) AS cos
       |  FROM rp_cand c
       |  JOIN qv a ON a.vec_id = c.a_id
       |  JOIN qv b ON b.vec_id = c.b_id
       |  WHERE a.nq > 0 AND b.nq > 0)
       |SELECT a_id, b_id, cos FROM scored WHERE cos >= CAST(0.35 AS DOUBLE)""".stripMargin

  // ----------------------------------------------------------- ivf_assign
  // Real IVF coarse quantization: assign every vector to its nearest of
  // k=8 Lloyd-TRAINED centroids ([[graft.embed.IvfTrain]] — 3 exact-
  // integer training rounds from the lowest-id seeds; round 8 used the
  // raw seeds directly) by integer-quantized cosine, ties to
  // the lowest seed id ([[IvfTrain.cellRank]]). At 100 TB this is THE
  // cell-assignment pass that
  // feeds blocked near-dup (embed_cosine_pairs) and IVF search: cells
  // replace the label column with a data-derived partitioner.
  private def ivfAssign(s: SparkSession, d: String): DataFrame =
    IvfTrain.cellRank(quantizedCorpus(s, d), graft.SharedStages.ivfCentroids(s, d))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("seed_id").as("cell"), col("cos"))

  /** The quantized corpus (vec_id, q, nq) every ANN stage scores. */
  private[graft] def quantizedCorpus(s: SparkSession, d: String): DataFrame =
    Similarity.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
      .select(col("vec_id"), col("q"), col("nq"))

  /** The oracle prefix of every IVF query: the quantized corpus, the
    * trained codebook and the cell assignment. */
  private val duckdbIvfCtes =
    s"""${Similarity.duckdbQuantizedCte},
       |${IvfTrain.duckdbSeedsCte()},
       |${IvfTrain.duckdbAssignCte}""".stripMargin

  private val ivfAssignSql =
    s"""WITH $duckdbIvfCtes
       |SELECT vec_id, cell, cos FROM assign""".stripMargin

  // ------------------------------------------------------ ann_cell_balance
  // IVF cell-population balance: per cell, its vector count plus the
  // corpus-wide min/max/imbalance summary — the operational diagnostic
  // for the ANN scale path, where one hot cell IS the search
  // bottleneck (probe cost ∝ probed-cell population) and the signal
  // that triggers re-training or cell splitting. One keyed count over
  // the shared assignment; output ≤ |cells| rows.
  private def annCellBalance(s: SparkSession, d: String): DataFrame = {
    val counts = ivfAssign(s, d).groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val tot = counts.agg(min(col("n_vecs")).as("min_n"),
      max(col("n_vecs")).as("max_n"), sum(col("n_vecs")).as("total"))
    counts.crossJoin(broadcast(tot)) // 1-row summary rides along
      .withColumn("imbalance",
        col("max_n").cast("double") / col("min_n").cast("double"))
      .select(col("cell"), col("n_vecs"), col("min_n"), col("max_n"),
        col("imbalance"))
  }

  private val annCellBalanceSql =
    s"""WITH $duckdbIvfCtes,
       |counts AS (
       |  SELECT cell, COUNT(*) AS n_vecs FROM assign GROUP BY 1),
       |summ AS (
       |  SELECT MIN(n_vecs) AS min_n, MAX(n_vecs) AS max_n FROM counts)
       |SELECT c.cell, c.n_vecs, s.min_n, s.max_n,
       |  CAST(s.max_n AS DOUBLE) / CAST(s.min_n AS DOUBLE) AS imbalance
       |FROM counts c CROSS JOIN summ s""".stripMargin

  // ----------------------------------------------------------- ivf_search
  // The IVF ANN search completing ivf_assign: vectors are indexed by
  // their nearest cell; a query probes its nprobe=2 closest cells and
  // re-ranks ONLY the vectors assigned there (exact quantized cosine,
  // top-5, ties to lowest neighbor id via the custom TopKPerKey
  // operator). This is the scale path for similarity search: the
  // candidate join is keyed by cell — the cell IS the partitioner — so
  // search cost is ∝ probed-cell population, never the corpus; recall
  // vs brute-force knn_topk is the measured IVF tradeoff, and the
  // oracle mirrors the identical candidate generation so results
  // hash-match exactly.
  private val IvfProbe = 2
  private val IvfK = 5

  /** IVF top-k search result — consumed by the ivf_search report AND
    * ann_recall's approx side, each of which previously re-ran the
    * assignment + probed-cell scoring per invocation; |Q|·k rows. */
  private def ivfSearch(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.ivfSearchTopK(s, d)

  private[graft] def buildIvfSearch(s: SparkSession, d: String): DataFrame = {
    val scored = IvfTrain.probedCandidates(quantizedCorpus(s, d),
        graft.SharedStages.ivfCentroids(s, d), IvfProbe)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .distinct() // a neighbor can sit in both probed cells
    Similarity.cosTopK(scored, Seq("query_id"), IvfK)
  }

  private val ivfSearchSql =
    s"""WITH $duckdbIvfCtes,
       |${IvfTrain.duckdbProbedCte(IvfProbe)},
       |scored AS (
       |  SELECT DISTINCT query_id, neighbor_id, cos FROM probed),
       |ranked AS (
       |${Similarity.duckdbCosTopK("scored", "query_id", IvfK)})
       |SELECT query_id, neighbor_id, cos FROM ranked""".stripMargin

  // ------------------------------------------------------------ ann_recall
  // The ANN quality gate: recall@k of IVF search against exact
  // brute-force, per query — THE metric an approximate-index deployment
  // monitors before trusting it (IVF trades recall for probed-cell
  // compute; this report prices the trade). Composes the two existing
  // pipelines and joins their result sets: both sides are deterministic
  // top-k (total orderings), so the recall fractions are exact and
  // DuckDB-mirrored. Plan: the exact side is the guarded broadcast knn,
  // the approx side the cell-keyed IVF search; the final join/rollup
  // touches |Q|·k rows.
  private def annRecall(s: SparkSession, d: String): DataFrame =
    recallVsExact(s, d, ivfSearch(s, d))

  /** Recall@k per query of an approximate top-k (query_id,
    * neighbor_id) against the exact top-k ([[knnTopK]]): the exact side
    * left-joins the approximate one, then per query n_exact, n_hit and
    * recall — the rollup of ann_recall and pq_recall. */
  private def recallVsExact(s: SparkSession, d: String,
                            approx: DataFrame): DataFrame =
    knnTopK(s, d).select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))

  /** DuckDB mirror of [[recallVsExact]] over the approximate top-k
    * oracle `approxSql` (query_id, neighbor_id, …). */
  private def recallVsExactSql(approxSql: String): String =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |${Similarity.duckdbExactTopKCte(IvfK)},
       |approx AS (
       |  SELECT query_id, neighbor_id FROM ($approxSql))
       |SELECT e.query_id, COUNT(*) AS n_exact,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*) AS recall
       |FROM ex e LEFT JOIN approx a
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------- ann_frontier
  // The recall/compute FRONTIER a deployment actually tunes: ann_recall
  // swept across nprobe ∈ {2, 4, 8} of the 8 IVF cells, each row
  // carrying the per-query candidate count (the compute cost the probe
  // buys) next to its recall@5. Monotone by construction — more probed
  // cells is a superset of candidates — and nprobe = 8 probes every
  // cell, so its recall is exactly 1.0 against the same quantized-cosine
  // brute force (IvfRecallSpec pins both properties). One shared
  // cell-rank pass feeds all three sweep points; the sweep join is a
  // 3-row broadcast, so the frontier costs barely more than one search.
  private val FrontierProbes = Seq(2, 4, 8)

  private def annFrontier(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.annFrontier(s, d)

  /** The frontier sweep itself — built once per (session, dir) via
    * [[graft.SharedStages.annFrontier]]; the standalone report and the
    * nprobe decision gate (ivf_nprobe_gate) both read the
    * materialization, the way a deployment prices the sweep once and
    * tunes from the stored table. */
  private[graft] def buildAnnFrontier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val np = FrontierProbes.toDF("nprobe")
    val scored = IvfTrain.probedCandidates(quantizedCorpus(s, d),
        graft.SharedStages.ivfCentroids(s, d), FrontierProbes.max)
      .join(broadcast(np), col("rn") <= col("nprobe"))
      .select(col("nprobe"), col("query_id"), col("neighbor_id"), col("cos"))
      .distinct() // a neighbor can sit in several probed cells
    val cand = scored.groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("n_cand"))
    val topk = Similarity.cosTopK(scored, Seq("nprobe", "query_id"), IvfK)
      .select(col("nprobe"), col("query_id"), col("neighbor_id"),
        lit(1L).as("hit"))
    val exact = knnTopK(s, d).select(col("query_id"), col("neighbor_id"))
      .crossJoin(broadcast(np)) // bounded: the 3 sweep points
    exact.join(topk, Seq("nprobe", "query_id", "neighbor_id"), "left")
      .groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .join(cand, Seq("nprobe", "query_id"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
  }

  private val annFrontierSql =
    s"""WITH $duckdbIvfCtes,
       |${IvfTrain.duckdbProbedCte(FrontierProbes.max)},
       |np AS (SELECT * FROM (VALUES (2), (4), (8)) AS t(nprobe)),
       |scored AS (
       |  SELECT DISTINCT n.nprobe, p.query_id, p.neighbor_id, p.cos
       |  FROM np n JOIN probed p ON p.rn <= n.nprobe),
       |cand AS (
       |  SELECT nprobe, query_id, COUNT(*) AS n_cand
       |  FROM scored GROUP BY 1, 2),
       |iv AS (
       |${Similarity.duckdbCosTopK("scored", "nprobe, query_id", IvfK)}),
       |${Similarity.duckdbExactTopKCte(IvfK)},
       |exn AS (
       |  SELECT n.nprobe, e.query_id, e.neighbor_id FROM np n CROSS JOIN ex e),
       |rec AS (
       |  SELECT x.nprobe, x.query_id, COUNT(*) AS n_exact,
       |    CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hit
       |  FROM exn x LEFT JOIN iv i
       |    ON x.nprobe = i.nprobe AND x.query_id = i.query_id
       |      AND x.neighbor_id = i.neighbor_id
       |  GROUP BY 1, 2)
       |SELECT r.nprobe, r.query_id, r.n_exact, r.n_hit, c.n_cand,
       |  CAST(r.n_hit AS DOUBLE) / r.n_exact AS recall
       |FROM rec r JOIN cand c
       |  ON r.nprobe = c.nprobe AND r.query_id = c.query_id""".stripMargin

  // ------------------------------------------------------ ivf_nprobe_gate
  // The measure→act edge on ann_frontier's verdict — the third leg of
  // the auto-tuning family (lsh_density→lsh_width widths the LSH,
  // whiten_check→whiten_gate switches the metric, this sizes nprobe):
  // aggregate the frontier to per-nprobe totals and CHOOSE the smallest
  // swept nprobe whose macro recall clears the 0.9 target. The decision
  // is the exact integer comparison 10·Σhit ≥ 9·Σexact (no float
  // threshold to drift), and a choice always exists: nprobe = 8 probes
  // every cell, so its recall is exactly 1.0 (IvfRecallSpec). The
  // report keeps all sweep points with their candidate mass — the
  // compute cost the chosen probe buys — and flags the winner, so the
  // gate certifies the decision AND the evidence it acted on.
  private def ivfNprobeGate(s: SparkSession, d: String): DataFrame = {
    val agg = annFrontier(s, d).groupBy(col("nprobe"))
      .agg(sum(col("n_hit")).as("t_hit"),
        sum(col("n_exact")).as("t_exact"),
        sum(col("n_cand")).as("t_cand"))
    val best = agg
      .filter(lit(10) * col("t_hit") >= lit(9) * col("t_exact"))
      .agg(min(col("nprobe")).as("np_min"))
    agg.crossJoin(broadcast(best)) // 1-row decision, broadcast
      .withColumn("recall",
        col("t_hit").cast("double") / col("t_exact").cast("double"))
      .withColumn("chosen", col("nprobe") === col("np_min"))
      .select(col("nprobe"), col("t_exact"), col("t_hit"), col("t_cand"),
        col("recall"), col("chosen"))
  }

  private def ivfNprobeGateSql =
    s"""WITH fr AS ($annFrontierSql),
       |agg AS (
       |  SELECT nprobe, CAST(SUM(n_hit) AS BIGINT) AS t_hit,
       |    CAST(SUM(n_exact) AS BIGINT) AS t_exact,
       |    CAST(SUM(n_cand) AS BIGINT) AS t_cand
       |  FROM fr GROUP BY 1),
       |best AS (
       |  SELECT MIN(nprobe) AS np_min FROM agg
       |  WHERE 10 * t_hit >= 9 * t_exact)
       |SELECT a.nprobe, a.t_exact, a.t_hit, a.t_cand,
       |  CAST(a.t_hit AS DOUBLE) / CAST(a.t_exact AS DOUBLE) AS recall,
       |  a.nprobe = b.np_min AS chosen
       |FROM agg a CROSS JOIN best b""".stripMargin

  // ---------------------------------------------------------- dedup_embed
  // Embedding-cosine near-dup CANONICALIZATION: the blocked cosine pairs
  // become edges, connected components assign every vector its
  // component-minimum keeper — the same detection→decision composition
  // as dedup_components, but over semantic (embedding) similarity
  // instead of lexical shingles. Plans compose: blocked pair join
  // (candidates ∝ Σ cell², never n²) → iterative min-label (one keyed
  // join + agg per round, driver sees only counts). Oracle: recursive-
  // CTE transitive closure over the identical edge set.
  private def dedupEmbed(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.embedLabels(s, d)
      .select(col("id").as("vec_id"), col("root").as("canonical_id"))

  private val dedupEmbedSql: String =
    s"""WITH RECURSIVE ${Similarity.duckdbQuantizedCte},
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM qv a JOIN qv b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE CAST(${Similarity.duckdbDot("a.q", "b.q")} AS DOUBLE)
       |      / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) >= CAST(0.35 AS DOUBLE)),
       |${graft.dedup.Components.duckdbClosureCte("pairs")}
       |SELECT id AS vec_id, root AS canonical_id FROM labeled""".stripMargin

  // ----------------------------------------------- pq_assign / pq_search
  // Product quantization — the MEMORY scale path for similarity search
  // (IVF bounds compute; PQ bounds bytes): the 64-dim vector splits
  // into M=8 subspaces of 8 dims, each sub-vector snaps to its nearest
  // of K=16 per-subspace centroids (Lloyd-TRAINED per subspace from
  // the 16 lowest-id seeds — [[graft.embed.PqTrain]], the IvfTrain
  // twin; rounds ≤ 11 used the raw seed sub-vectors) — the vector becomes 8
  // codes (~8 bytes vs 256), and search runs Asymmetric Distance
  // Computation: per query precompute the 8×16 table of
  // query-sub-to-centroid distances, then a vector's approximate
  // distance is a SUM of 8 table lookups — never touching the original
  // vectors. All arithmetic is exact integer squared-L2 over the 2^20
  // quantization, so assignment and search are bit-reproducible and
  // DuckDB-mirrored. Plan shapes: codebook and ADC tables are tiny
  // broadcasts; assignment is map-only per vector; search joins codes
  // to the broadcast ADC table and aggregates 8 rows per pair.
  private val PqM = 8    // subspaces
  private val PqSub = 8  // dims per subspace
  private val PqK = 16   // centroids per subspace (the 16 lowest vec_ids)

  /** The Lloyd-TRAINED per-subspace codebook (j, seed_id, csub) —
    * [[graft.embed.PqTrain]] from the PqK lowest-id vectors' sub-
    * vectors (true ORDER BY/LIMIT seed selection — the kmeans_step
    * discipline), memoized per (session, dir) in SharedStages. */
  private def pqCodebook(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.pqCodebook(s, d)
      .select(col("j"), col("cid").as("seed_id"), col("csub"))

  private[graft] def buildPqCodebook(s: SparkSession, d: String): DataFrame =
    graft.embed.PqTrain.trainedCodebooks(pqSubs(s, d), PqK)

  /** (vec_id, j, sub): the j-th quantized sub-vector of every vector. */
  private def pqSubs(s: SparkSession, d: String): DataFrame =
    Similarity.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
      .select(col("vec_id"),
        explode(expr(s"sequence(0, ${PqM - 1})")).as("j"), col("q"))
      .withColumn("sub", expr(s"slice(q, j * $PqSub + 1, $PqSub)"))
      .select(col("vec_id"), col("j"), col("sub"))

  /** Exact integer squared-L2 between two quantized sub-vectors (the
    * codegen'd int_dot identity ||a−b||² = a·a + b·b − 2a·b). */
  private def d2(a: String, b: String) =
    expr(s"int_dot($a, $a) + int_dot($b, $b) - 2 * int_dot($a, $b)")

  private def pqAssignDf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subs = pqSubs(s, d)
    val cb = pqCodebook(s, d)
    val w = Window.partitionBy(col("vec_id"), col("j"))
      .orderBy(col("dd"), col("seed_id"))
    subs.join(broadcast(cb), "j") // bounded: M*K = 128 broadcast rows
      .withColumn("dd", d2("sub", "csub"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("j"), col("seed_id").as("code"),
        col("dd").as("recon_d2"))
  }

  private val duckdbPqCtes: String = {
    def dist(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, ${PqSub + 1}), " +
        s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
    s"""subs AS (
       |  SELECT vec_id, CAST(j AS INT) AS j,
       |    q[CAST(j * $PqSub + 1 AS INT):CAST(j * $PqSub + $PqSub AS INT)] AS sub
       |  FROM qv, range(0, $PqM) t(j)),
       |${graft.embed.PqTrain.duckdbCodebookCtes(PqK, PqSub)},
       |cb AS (
       |  SELECT j, cid AS seed_id, csub FROM pt${graft.embed.PqTrain.Iters}),
       |pq_scored AS (
       |  SELECT s.vec_id, s.j, c.seed_id,
       |    ${dist("s.sub", "c.csub")} AS dd
       |  FROM subs s JOIN cb c ON s.j = c.j),
       |pq_assigned AS (
       |  SELECT vec_id, j, seed_id AS code, dd AS recon_d2,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, j
       |                       ORDER BY dd, seed_id) AS rn
       |  FROM pq_scored)""".stripMargin
  }

  private val pqAssignSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$duckdbPqCtes
       |SELECT vec_id, j, code, recon_d2
       |FROM pq_assigned WHERE rn = 1""".stripMargin

  // the trained codebook itself as a report: M·K·subDim rows (minus
  // dropped empty cells) of (subspace, centroid id, dimension,
  // component) — the published table a 100 TB deployment ships to its
  // searchers. LONG format (scalar rows, no array column) like
  // pca_topk / unigram_train, so the hash comparator can sort it.
  private def pqTrainDf(s: SparkSession, d: String): DataFrame =
    pqCodebook(s, d)
      .select(col("j"), col("seed_id"),
        posexplode(col("csub")).as(Seq("dim", "c")))
      .withColumn("dim", col("dim").cast("long"))

  private val pqTrainSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$duckdbPqCtes
       |SELECT j, seed_id, CAST(t.i - 1 AS BIGINT) AS dim,
       |  csub[CAST(t.i AS INT)] AS c
       |FROM cb, range(1, ${PqSub + 1}) t(i)""".stripMargin

  /** ADC approximate-distance table (query_id, neighbor_id, adist) —
    * consumed by pq_search's top-k, pq_recall's approx side AND
    * pq_refine's shortlist, each of which previously re-derived codes
    * and re-summed the ADC lookups per invocation; |Q|·(n−1) rows. */
  private def pqDists(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.pqAdcDists(s, d)

  /** PQ codes (vec_id, j, code) of every vector and the ADC lookup table
    * (query_id, j, code, dd): the probe queries' sub-to-centroid
    * distances (10 × 8 × 16 rows). Shared by the all-pairs distances and
    * ivf_pq_search's candidate-restricted ones. */
  private def pqCodesAdc(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val codes = pqAssignDf(s, d).select(col("vec_id"), col("j"), col("code"))
    val adc = pqSubs(s, d).filter(Similarity.isProbe)
      .select(col("vec_id").as("query_id"), col("j"), col("sub").as("qsub"))
      .join(pqCodebook(s, d), "j")
      .withColumn("dd", d2("qsub", "csub"))
      .select(col("query_id"), col("j"), col("seed_id").as("code"), col("dd"))
    (codes, adc)
  }

  private[graft] def buildPqDists(s: SparkSession, d: String): DataFrame = {
    val (codes, adc) = pqCodesAdc(s, d)
    codes.join(broadcast(adc), Seq("j", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dd")).as("adist"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adist"))
  }

  /** Top-`k` per query of an ADC distance table by (adist, neighbor_id). */
  private def adcTop(dists: DataFrame, k: Int): DataFrame =
    graft.plans.TopK.perKey(dists, Seq("query_id"),
      Seq(("adist", true), ("neighbor_id", true)), k)

  /** DuckDB mirror of [[adcTop]] over the distance CTE named `dists`. */
  private def duckdbAdcTop(dists: String, k: Int): String =
    s"""SELECT query_id, neighbor_id, adist FROM (
       |  SELECT query_id, neighbor_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY adist, neighbor_id) AS rk
       |  FROM $dists) WHERE rk <= $k""".stripMargin

  private def pqSearchDf(s: SparkSession, d: String): DataFrame =
    adcTop(pqDists(s, d), IvfK)

  /** DuckDB codes + per-query ADC lookup table — shared by the
    * all-pairs dists mirror below and the IVF-restricted ivf_pq_search
    * mirror. */
  private val duckdbPqCodeAdcCtes: String =
    s"""codes AS (
       |  SELECT vec_id, j, code FROM pq_assigned WHERE rn = 1),
       |adc AS (
       |  SELECT s.vec_id AS query_id, s.j, c.seed_id AS code,
       |    CAST(list_sum(list_transform(range(1, ${PqSub + 1}),
       |      i -> (s.sub[i] - c.csub[i]) * (s.sub[i] - c.csub[i]))) AS BIGINT) AS dd
       |  FROM subs s JOIN cb c ON s.j = c.j WHERE ${Similarity.duckdbIsProbe("s.vec_id")})""".stripMargin

  /** The DuckDB mirror of [[pqDists]] (codes → ADC table → summed
    * approximate distances), shared by pq_search and pq_refine. */
  private val duckdbPqDistCtes: String =
    s"""$duckdbPqCodeAdcCtes,
       |dists AS (
       |  SELECT a.query_id, v.vec_id AS neighbor_id,
       |    CAST(SUM(a.dd) AS BIGINT) AS adist
       |  FROM codes v JOIN adc a ON v.j = a.j AND v.code = a.code
       |  WHERE a.query_id <> v.vec_id
       |  GROUP BY 1, 2)""".stripMargin

  private val pqSearchSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$duckdbPqCtes,
       |$duckdbPqDistCtes
       |${duckdbAdcTop("dists", IvfK)}""".stripMargin

  // ------------------------------------------------------------- pq_recall
  // Recall@k of PQ/ADC search against exact brute-force — the
  // ann_recall twin for the MEMORY-side approximation: IVF's recall
  // prices cell pruning, THIS prices code quantization (and now
  // directly measures what [[graft.embed.PqTrain]] training buys at
  // search time). Same composition shape as ann_recall: both sides
  // deterministic top-k, |Q|·k-row join + rollup.
  private def pqRecall(s: SparkSession, d: String): DataFrame =
    recallVsExact(s, d, pqSearchDf(s, d))

  // ------------------------------------------------------------ pq_refine
  // Two-stage retrieval — the deployment shape of PQ search: stage 1
  // shortlists the top-$PqShort candidates per query by ADC distance
  // (bytes-bounded scan over 8-byte codes, never the vectors); stage 2
  // fetches ONLY those candidates' full quantized vectors and re-ranks
  // by exact integer cosine, emitting the top-$IvfK. The refinement
  // repairs ADC's quantization error where it matters (the top of the
  // list) at the cost of |Q|·$PqShort exact distance evaluations —
  // measured against brute-force in PqRefineSpec: recall@5 strictly
  // above the unrefined pq_search on the same codebook. Plan: the
  // shortlist is a bounded TopKPerKey heap over the ADC pass; both
  // stage-2 joins ride broadcasts of shortlist-sized tables (≤ |Q| ×
  // $PqShort rows), so corpus vectors are touched map-only — point
  // lookups by neighbor_id, no shuffle of the embedding table.
  private val PqShort = 20

  private def pqRefine(s: SparkSession, d: String): DataFrame =
    refine(quantizedCorpus(s, d), pqDists(s, d))

  /** The two-stage refine of an ADC distance table (query_id,
    * neighbor_id, adist): its top-PqShort shortlist ([[adcTop]]),
    * re-ranked by exact quantized cosine to the top-IvfK by (cos DESC,
    * neighbor_id). pq_refine refines every vector, ivf_pq_search the
    * probed-cell candidates. `qd` is the quantized corpus (vec_id, q,
    * nq); both stage-2 joins ride broadcasts of shortlist-sized tables. */
  private def refine(qd: DataFrame, dists: DataFrame): DataFrame = {
    val short = adcTop(dists, PqShort)
    val queries = qd.filter(Similarity.isProbe)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nq").as("qnq"))
    val exact = qd.select(col("vec_id").as("neighbor_id"), col("q"),
        col("nq"))
      .join(broadcast(short), "neighbor_id") // shortlist ≤ |Q|×PqShort rows
      .join(broadcast(queries), "query_id")  // ≤ |Q| rows
      .withColumn("dot", Similarity.dotQ("qq", "q"))
      .withColumn("cos", Similarity.cosine(col("dot"), col("qnq"), col("nq")))
      .select(col("query_id"), col("neighbor_id"), col("adist"), col("cos"))
    Similarity.cosTopK(exact, Seq("query_id"), IvfK)
  }

  /** DuckDB mirror of [[refine]] over the distance CTE named `dists`:
    * the `short` list, its exact-cosine `refined` rows, and the final
    * top-IvfK select. */
  private def duckdbRefineSql(dists: String): String =
    s"""short AS (
       |  ${duckdbAdcTop(dists, PqShort)}),
       |refined AS (
       |  SELECT s.query_id, s.neighbor_id, s.adist,
       |    CAST(${Similarity.duckdbDot("a.q", "b.q")} AS DOUBLE)
       |      / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) AS cos
       |  FROM short s
       |  JOIN qv a ON a.vec_id = s.query_id
       |  JOIN qv b ON b.vec_id = s.neighbor_id),
       |reranked AS (
       |${Similarity.duckdbCosTopK("refined", "query_id", IvfK)})
       |SELECT query_id, neighbor_id, adist, cos FROM reranked""".stripMargin

  private val pqRefineSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$duckdbPqCtes,
       |$duckdbPqDistCtes,
       |${duckdbRefineSql("dists")}""".stripMargin

  // --------------------------------------------------------- ivf_pq_search
  // The full production ANN architecture (FAISS IVFPQ + refine, Jégou
  // et al. TPAMI'11): all three pruning levels composed in ONE plan —
  // (1) the IVF coarse quantizer restricts candidates to the query's
  // nprobe=2 probed cells (COMPUTE bound: cost ∝ probed-cell
  // population, never the corpus); (2) PQ ADC scores those candidates
  // from 8-byte codes (MEMORY bound: the scan touches codes + a
  // broadcast 8×16 lookup table, never the vectors); (3) the top-20
  // shortlist re-ranks by exact integer cosine (QUALITY repair where it
  // matters). ivf_search / pq_search / pq_refine each demonstrate one
  // level; this is the composition a deployment actually runs. Plan
  // shapes: centroids, candidate list, ADC table and shortlist all ride
  // broadcasts — the codes scan and the final point lookups stay
  // map-only; nothing corpus-sized shuffles.
  private def ivfPqSearch(s: SparkSession, d: String): DataFrame = {
    val qd = quantizedCorpus(s, d)
    val cand = IvfTrain.probedCandidates(qd,
        graft.SharedStages.ivfCentroids(s, d), IvfProbe)
      .select(col("query_id"), col("neighbor_id"))
      .distinct() // a neighbor can sit in both probed cells
    val (codes, adc) = pqCodesAdc(s, d)
    // ADC restricted to probed-cell candidates: the codes scan joins the
    // broadcast candidate list (≤ |Q| × probed-cell pop) and the
    // broadcast ADC table — map-only, then one (query, neighbor) rollup
    // of the M=8 code rows
    val dists = codes.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(adc), Seq("query_id", "j", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dd")).as("adist"))
    refine(qd, dists)
  }

  private val ivfPqSearchSql =
    s"""WITH $duckdbIvfCtes,
       |${IvfTrain.duckdbProbedCte(IvfProbe)},
       |cand AS (
       |  SELECT DISTINCT query_id, neighbor_id FROM probed),
       |$duckdbPqCtes,
       |$duckdbPqCodeAdcCtes,
       |rdists AS (
       |  SELECT x.query_id, x.neighbor_id, CAST(SUM(a.dd) AS BIGINT) AS adist
       |  FROM cand x
       |  JOIN codes v ON v.vec_id = x.neighbor_id
       |  JOIN adc a ON a.query_id = x.query_id AND a.j = v.j AND a.code = v.code
       |  GROUP BY 1, 2),
       |${duckdbRefineSql("rdists")}""".stripMargin

  // -------------------------------------------------------- hard_negatives
  // Contrastive-training negative mining: for each query vector the
  // single highest-cosine neighbor with a DIFFERENT label — the "hard
  // negative" an embedding-training run pairs with each anchor. Same
  // plan family as knn_topk (broadcast query side, map-only scoring,
  // bounded top-k heaps via the custom TopKPerKey operator — the
  // exchange ships one candidate per partition per query, never the
  // corpus); the label inequality rides the broadcast-join condition so
  // same-class candidates are dropped before scoring.
  private def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val qd = Similarity.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
      .select(col("vec_id"), col("label"), col("q"), col("nq"))
    val queries = qd.filter(Similarity.isProbe)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("q").as("qq"), col("nq").as("qnq"))
    val scored = qd.join(broadcast(queries), col("label") =!= col("q_label"))
      .withColumn("dot", Similarity.dotQ("qq", "q"))
      .withColumn("cos", Similarity.cosine(col("dot"), col("qnq"), col("nq")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("neg_label"), col("cos"))
    Similarity.cosTopK(scored, Seq("query_id"), 1)
  }

  private val hardNegativesSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |qs AS (
       |  SELECT vec_id AS query_id, label AS q_label, q AS qq, nq AS qnq
       |  FROM qv WHERE ${Similarity.duckdbIsProbe("vec_id")}),
       |scored AS (
       |  SELECT s.query_id, v.vec_id AS neighbor_id,
       |    CAST(v.label AS BIGINT) AS neg_label,
       |    CAST(${Similarity.duckdbDot("s.qq", "v.q")} AS DOUBLE)
       |      / sqrt(CAST(s.qnq AS DOUBLE) * CAST(v.nq AS DOUBLE)) AS cos
       |  FROM qv v JOIN qs s ON v.label <> s.q_label),
       |ranked AS (
       |${Similarity.duckdbCosTopK("scored", "query_id", 1)})
       |SELECT query_id, neighbor_id, neg_label, cos FROM ranked""".stripMargin

  // -------------------------------------------------------- cluster_purity
  // Clustering quality vs ground truth — the evaluation gate an
  // auto-labeling / topic-mining pipeline runs before trusting learned
  // cells: every vector is assigned to its nearest Lloyd-trained
  // centroid (ivf_assign's pass), assignments join the label column,
  // and each cell reports its size, majority label, and purity
  // (majority fraction). Low purity = the codebook is mixing classes —
  // retrain or re-seed. Plan: codebook broadcast (≤8 rows) keeps
  // assignment map-only; the only exchanges are the (cell, label)
  // count aggregation (map-side combined) and the ≤k-row cell window.
  // All counts are exact integers; purity is one IEEE division.
  private def clusterPurity(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assign = ivfAssign(s, d).select(col("vec_id"), col("cell"))
    val labels = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val cl = assign.join(labels, "vec_id")
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("n").desc, col("label"))
    cl.withColumn("rn", row_number().over(w))
      .withColumn("n_vecs",
        sum(col("n")).over(Window.partitionBy(col("cell"))))
      .filter(col("rn") === 1)
      .select(col("cell"), col("n_vecs"), col("label").as("top_label"),
        col("n").as("top_n"),
        (col("n").cast("double") / col("n_vecs").cast("double"))
          .as("purity"))
  }

  private val clusterPuritySql =
    s"""WITH $duckdbIvfCtes,
       |cl AS (
       |  SELECT a.cell, CAST(e.label AS BIGINT) AS label, COUNT(*) AS n
       |  FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
       |  GROUP BY 1, 2),
       |t AS (
       |  SELECT cell, label, n,
       |    ROW_NUMBER() OVER (PARTITION BY cell
       |                       ORDER BY n DESC, label) AS rn,
       |    CAST(SUM(n) OVER (PARTITION BY cell) AS BIGINT) AS n_vecs
       |  FROM cl)
       |SELECT cell, n_vecs, label AS top_label, CAST(n AS BIGINT) AS top_n,
       |  CAST(n AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS purity
       |FROM t WHERE rn = 1""".stripMargin

  // ------------------------------------------------------ semdedup_prune
  // SemDeDup-style semantic pruning (Abbas et al. 2023): cluster the
  // embedding space, then within each cluster drop every vector that is
  // near-identical (cos ≥ τ) to an earlier-id keeper — the step that
  // removes "semantic duplicates" exact/lexical dedup cannot see. The
  // Spark rendering composes the engine's two blocking primitives:
  // the Lloyd-trained IVF cell ([[graft.SharedStages.ivfCentroids]],
  // broadcast map-only assignment) plays SemDeDup's k-means cluster,
  // and RP-LSH bucket collision generates the within-corpus candidate
  // pairs — so no stage ever materializes within-cell all-pairs. (True
  // SemDeDup compares all pairs inside a cluster; with k≈√n clusters
  // that is the same bounded-candidate budget this LSH sub-blocking
  // delivers at fixed k — recall < 1 at τ like any LSH path, and the
  // oracle mirrors the identical candidate generation so results
  // hash-match.) Keep rule: a vector is pruned iff some LOWER-id
  // same-cell candidate verifies at cos ≥ τ; the emitted witness is the
  // lowest such id — deterministic, order-free. Output = the pruned
  // rows with their witness (the "removed by semantic dedup" ledger a
  // curation pipeline prices).
  private val SemTau = 0.4

  private def semdedupPrune(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assign = ivfAssign(s, d).select(col("vec_id"), col("cell"))
    val pairs = graft.SharedStages.rpScored(s, d)
      .filter(col("cos") >= SemTau)
    val sameCell = pairs
      .join(assign.select(col("vec_id").as("a_id"), col("cell")), "a_id")
      .join(assign.select(col("vec_id").as("b_id"), col("cell").as("cell_b")),
        "b_id")
      .filter(col("cell") === col("cell_b"))
    val ww = Window.partitionBy(col("b_id")).orderBy(col("a_id"))
    sameCell
      .withColumn("rn", row_number().over(ww))
      .filter(col("rn") === 1)
      .select(col("b_id").as("vec_id"), col("cell"),
        col("a_id").as("witness_id"), col("cos"))
  }

  private val semdedupPruneSql = {
    val cosAB = s"CAST(${Similarity.duckdbDot("a.q", "b.q")} AS DOUBLE)" +
      " / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE))"
    s"""WITH $duckdbIvfCtes,
       |${RpLsh.duckdbCandidateCte},
       |verified AS (
       |  SELECT c.a_id, c.b_id, $cosAB AS cos
       |  FROM rp_cand c
       |  JOIN qv a ON a.vec_id = c.a_id
       |  JOIN qv b ON b.vec_id = c.b_id
       |  WHERE a.nq > 0 AND b.nq > 0
       |    AND $cosAB >= CAST($SemTau AS DOUBLE)),
       |incell AS (
       |  SELECT v.a_id, v.b_id, v.cos, ca.cell
       |  FROM verified v
       |  JOIN assign ca ON ca.vec_id = v.a_id
       |  JOIN assign cb ON cb.vec_id = v.b_id AND cb.cell = ca.cell)
       |SELECT b_id AS vec_id, cell, a_id AS witness_id, cos FROM (
       |  SELECT a_id, b_id, cos, cell,
       |    ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY a_id) AS rn
       |  FROM incell)
       |WHERE rn = 1""".stripMargin
  }

  // -------------------------------------------------------- gram_matrix
  // Distributed Gram matrix X^T X over the quantized embeddings — the
  // linear-algebra scaffold under PCA / ZCA whitening / ABTT
  // post-processing and linear probes: every one of those starts from
  // exactly this d×d aggregation. Shape is the canonical outer-product
  // reduction, row-local: each vector expands its own upper-triangle
  // component products (a double posexplode of q — no join, no
  // exchange before the aggregation), then ONE (i, j) aggregation
  // whose map-side partials bound the exchange at d·(d+1)/2 = 2 080
  // cells per executor REGARDLESS of corpus size — X^T X is
  // embarrassingly row-splittable, which is why it is the standard
  // first distributed step of large-scale PCA. Exact 64-bit integer
  // arithmetic end-to-end (quantized components are < 2^20, so a cell
  // overflows only past ~2^23 vectors; at that scale the documented
  // path is per-partition partial Grams over a sample, or a
  // DECIMAL(38) accumulator — same plan, wider cell).

  /** (i, j, g) upper-triangle Gram of a frame carrying quantized
    * `q: array<bigint>` ([[Similarity.quantized]]). The same kernel is
    * the streaming twin: on a stream it is a Complete-mode aggregation
    * whose state is the 2 080 cells regardless of stream length, and
    * StreamingGramSpec pins that the streamed state equals the batch
    * Gram after every micro-batch and that [[graft.embed.PcaPower]] on
    * it gives the batch component — incremental PCA as "maintain the
    * Gram online, re-run the driver-cheap eigen step on demand". */
  private[graft] def gram(quantized: DataFrame): DataFrame =
    quantized
      .select(posexplode(col("q")).as(Seq("i", "qi")), col("q"))
      .select(col("i"), col("qi"), posexplode(col("q")).as(Seq("j", "qj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("qi") * col("qj")).as("g"))

  private[graft] def gramMatrix(s: SparkSession, d: String): DataFrame =
    gram(Similarity.quantized(Tables.embeddings(s, d), "vec_id", "embedding"))

  // the component expansion derives its bound from len(q) — the SAME
  // source of truth the Spark side's posexplode uses — so a change in
  // embedding dimensionality can never make the two engines silently
  // diverge (a hardcoded range would emit NULL-product rows instead)
  private val gramCompCte =
    s"""comp AS MATERIALIZED (
       |  SELECT vec_id, CAST(t.i AS INT) AS i,
       |    q[CAST(t.i AS INT) + 1] AS qi
       |  FROM qv, LATERAL (SELECT unnest(range(0, len(q))) AS i) t)""".stripMargin

  private val gramUpperCte =
    s"""gu AS MATERIALIZED (
       |  SELECT a.i, b.i AS j, CAST(SUM(a.qi * b.qi) AS BIGINT) AS g
       |  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY 1, 2)""".stripMargin

  private val gramMatrixSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$gramCompCte,
       |$gramUpperCte
       |SELECT i, j, g FROM gu""".stripMargin

  // ----------------------------------------------- pca_power, pca_project
  // The gram_matrix CONSUMER: fixed-point power iteration on the
  // driver-sized Gram ([[graft.embed.PcaPower]] — exact integer
  // arithmetic, so the oracle replays the SAME unrolled iterations as
  // CTEs, the IvfTrain discipline) yielding the top principal
  // component, its eigenvalue estimate and explained-variance share;
  // then a map-only projection of every embedding onto the broadcast
  // component — the whitening/ABTT-shaped read path. At 100 TB the
  // driver holds d(d+1)/2 = 2 080 cells and d = 64 longs; the
  // data-sized work is the Gram aggregation (bounded exchange) and the
  // projection scan (zero joins — PlanSpec pins it).
  private def pcaPower(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = graft.SharedStages.pcaComponent(s, d)
    c.v.toSeq.zipWithIndex
      .map { case (vi, i) => (i, vi, c.lambdaEst, c.evRatio) }
      .toDF("i", "v", "lambda_est", "ev_ratio")
  }

  /** Unrolled fixed-point power iteration over the full Gram (gf =
    * mirrored upper triangle), in lockstep with [[graft.embed.PcaPower
    * .power]]: rescale to |g| ≲ 2^30, then Iters rounds of
    * (matrix-vector product, ∞-norm renormalize) — all divisions
    * sign-decomposed so DuckDB's floor `//` equals Scala's
    * truncate-toward-zero on the non-negative operands. Every CTE is
    * MATERIALIZED: DuckDB inlines plain CTEs at each reference, and an
    * iteration chain where r_t references both gm and v_{t-1} would
    * re-expand the corpus-sized gram scan 2^Iters times (observed as
    * "Too many open files" on the parquet). */
  private def pcaIterCtes: String = {
    val sb = new StringBuilder
    sb.append(
      s"""gf AS MATERIALIZED (
         |  SELECT i, j, g FROM gu
         |  UNION ALL
         |  SELECT j AS i, i AS j, g FROM gu WHERE i < j),
         |gs AS MATERIALIZED (SELECT GREATEST(MAX(ABS(g)) // ${PcaPower.GCap}, 1) AS gdiv FROM gf),
         |gm AS MATERIALIZED (
         |  SELECT i, j, CASE WHEN g < 0 THEN -(ABS(g) // gdiv)
         |               ELSE ABS(g) // gdiv END AS g
         |  FROM gf, gs),
         |tr AS MATERIALIZED (SELECT CAST(SUM(g) AS BIGINT) AS trace FROM gf WHERE i = j),
         |v0 AS MATERIALIZED (SELECT DISTINCT i, CAST(${PcaPower.VCap} AS BIGINT) AS v FROM gm)""".stripMargin)
    for (t <- 1 to PcaPower.Iters) {
      val p = s"v${t - 1}"
      sb.append(
        s""",
           |r$t AS MATERIALIZED (
           |  SELECT gm.i AS i, CAST(SUM(gm.g * $p.v) AS BIGINT) AS raw
           |  FROM gm JOIN $p ON $p.i = gm.j GROUP BY 1),
           |d$t AS MATERIALIZED (SELECT GREATEST(MAX(ABS(raw)) // ${PcaPower.VCap}, 1) AS dd FROM r$t),
           |v$t AS MATERIALIZED (
           |  SELECT i, CASE WHEN raw < 0 THEN -(ABS(raw) // dd)
           |            ELSE ABS(raw) // dd END AS v
           |  FROM r$t, d$t)""".stripMargin)
    }
    sb.toString
  }

  private def pcaPowerSql = {
    val T = PcaPower.Iters
    val sh = PcaPower.RayShift
    // exact Rayleigh via the hi/lo split (see PcaPower.Component):
    // v·raw = Shift·(v·hi) + v·(raw − Shift·hi); recombined by two
    // element-wise double ops, mirrored operation-for-operation
    val lambda =
      s"(CAST(num_hi AS DOUBLE) * CAST($sh AS DOUBLE) + CAST(num_lo AS DOUBLE)) / CAST(den AS DOUBLE)"
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$gramCompCte,
       |$gramUpperCte,
       |$pcaIterCtes,
       |rh AS MATERIALIZED (
       |  SELECT i, raw, CASE WHEN raw < 0 THEN -(ABS(raw) // $sh)
       |                 ELSE raw // $sh END AS hi
       |  FROM r$T),
       |ray AS MATERIALIZED (
       |  SELECT CAST(SUM(p.v * rh.hi) AS BIGINT) AS num_hi,
       |         CAST(SUM(p.v * (rh.raw - $sh * rh.hi)) AS BIGINT) AS num_lo,
       |         CAST(SUM(p.v * p.v) AS BIGINT) AS den
       |  FROM v${T - 1} p JOIN rh ON rh.i = p.i)
       |SELECT vf.i, vf.v,
       |  $lambda AS lambda_est,
       |  (($lambda) * CAST(gdiv AS DOUBLE)) / CAST(trace AS DOUBLE) AS ev_ratio
       |FROM v$T vf, ray, gs, tr""".stripMargin
  }

  // ------------------------------------------------ pca_topk (deflation)
  // Top-k components by exact-integer Hotelling deflation on the
  // driver-sized Gram ([[graft.embed.PcaPower.powerK]]): after each
  // component, subtract its rank-1 term (the λ·v·vᵀ/‖v‖² projection,
  // sign-decomposed fixed-point — see PcaPower.deflate's ledger) and
  // re-rescale, then iterate again. The oracle replays every component's
  // iterations AND every deflation as unrolled MATERIALIZED CTEs
  // ([[pcaTopkCtes]]); each component's ev_ratio uses the CUMULATIVE
  // rescale divisor so eigenvalue shares stay in original-Gram units.
  // Component 0 is bit-identical to pca_power (PcaPowerSpec pins it).
  // Output is d·k = 256 rows at any corpus size.
  private def pcaTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.SharedStages.pcaTopK(s, d).zipWithIndex.flatMap { case (cp, c) =>
      cp.v.toSeq.zipWithIndex.map { case (vi, i) =>
        (c, i, vi, cp.lambdaEst, cp.evRatio)
      }
    }.toDF("c", "i", "v", "lambda_est", "ev_ratio")
  }

  /** Sign-decomposed truncating division for the oracle (DuckDB `//`
    * is floor — they agree on non-negative operands). */
  private def sqlTdiv(x: String, dv: String): String =
    s"CASE WHEN ($x) < 0 THEN -((-($x)) // ($dv)) ELSE ($x) // ($dv) END"

  /** Unrolled k-component deflated power iteration, in lockstep with
    * [[graft.embed.PcaPower.powerK]]: the shared rescale (g0), then per
    * component c its Iters matvec/renormalize rounds (c{c}r{t} /
    * c{c}v{t}), the hi/lo Rayleigh split (ray{c}), and — between
    * components — the deflation chain (λ from the Rayleigh pieces,
    * a = (λ·v)>>8, symmetric rank-1 subtraction, re-rescale gs{c+1}).
    * Every CTE MATERIALIZED (see pcaIterCtes for why). */
  private def pcaTopkCtes(k: Int, p: String = "", src: String = "gu"): String = {
    val T = PcaPower.Iters
    val sb = new StringBuilder
    sb.append(
      s"""${p}gf0 AS MATERIALIZED (
         |  SELECT i, j, g FROM $src
         |  UNION ALL
         |  SELECT j AS i, i AS j, g FROM $src WHERE i < j),
         |${p}gs0 AS MATERIALIZED (SELECT GREATEST(MAX(ABS(g)) // ${PcaPower.GCap}, 1) AS gd FROM ${p}gf0),
         |${p}g0 AS MATERIALIZED (SELECT i, j, ${sqlTdiv("g", "gd")} AS g FROM ${p}gf0, ${p}gs0),
         |${p}trc AS MATERIALIZED (SELECT CAST(SUM(g) AS BIGINT) AS trace FROM ${p}gf0 WHERE i = j)""".stripMargin)
    for (c <- 0 until k) {
      sb.append(
        s""",
           |${p}c${c}v0 AS MATERIALIZED (SELECT DISTINCT i, CAST(${PcaPower.VCap} AS BIGINT) AS v FROM ${p}g$c)""".stripMargin)
      for (t <- 1 to T) {
        sb.append(
          s""",
             |${p}c${c}r$t AS MATERIALIZED (
             |  SELECT g.i AS i, CAST(SUM(g.g * p.v) AS BIGINT) AS raw
             |  FROM ${p}g$c g JOIN ${p}c${c}v${t - 1} p ON p.i = g.j GROUP BY 1),
             |${p}c${c}d$t AS MATERIALIZED (SELECT GREATEST(MAX(ABS(raw)) // ${PcaPower.VCap}, 1) AS dd FROM ${p}c${c}r$t),
             |${p}c${c}v$t AS MATERIALIZED (SELECT i, ${sqlTdiv("raw", "dd")} AS v FROM ${p}c${c}r$t, ${p}c${c}d$t)""".stripMargin)
      }
      sb.append(
        s""",
           |${p}c${c}rh AS MATERIALIZED (
           |  SELECT i, raw, ${sqlTdiv("raw", PcaPower.RayShift.toString)} AS hi FROM ${p}c${c}r$T),
           |${p}ray$c AS MATERIALIZED (
           |  SELECT CAST(SUM(p.v * rh.hi) AS BIGINT) AS num_hi,
           |         CAST(SUM(p.v * (rh.raw - ${PcaPower.RayShift} * rh.hi)) AS BIGINT) AS num_lo,
           |         CAST(SUM(p.v * p.v) AS BIGINT) AS den
           |  FROM ${p}c${c}v${T - 1} p JOIN ${p}c${c}rh rh ON rh.i = p.i)""".stripMargin)
      if (c < k - 1) {
        sb.append(
          s""",
             |${p}lm$c AS MATERIALIZED (
             |  SELECT ${sqlTdiv("num_hi", s"GREATEST(den // ${PcaPower.RayShift}, 1)")} AS lam FROM ${p}ray$c),
             |${p}dvn$c AS MATERIALIZED (
             |  SELECT 2 * GREATEST(CAST(SUM(v * v) AS BIGINT) // ${PcaPower.DefShift}, 1) AS vn2 FROM ${p}c${c}v$T),
             |${p}da$c AS MATERIALIZED (
             |  SELECT i, ${sqlTdiv("lam * v", PcaPower.DefShift.toString)} AS a FROM ${p}c${c}v$T, ${p}lm$c),
             |${p}df$c AS MATERIALIZED (
             |  SELECT g.i, g.j, g.g - ${sqlTdiv("ai.a * vj.v + aj.a * vi.v", "vn2")} AS g
             |  FROM ${p}g$c g
             |  JOIN ${p}da$c ai ON ai.i = g.i
             |  JOIN ${p}da$c aj ON aj.i = g.j
             |  JOIN ${p}c${c}v$T vi ON vi.i = g.i
             |  JOIN ${p}c${c}v$T vj ON vj.i = g.j
             |  CROSS JOIN ${p}dvn$c),
             |${p}gs${c + 1} AS MATERIALIZED (SELECT GREATEST(MAX(ABS(g)) // ${PcaPower.GCap}, 1) AS gd FROM ${p}df$c),
             |${p}g${c + 1} AS MATERIALIZED (SELECT i, j, ${sqlTdiv("g", "gd")} AS g FROM ${p}df$c, ${p}gs${c + 1})""".stripMargin)
      }
    }
    sb.toString
  }

  private def pcaTopkSql = {
    val T = PcaPower.Iters
    val K = PcaPower.NumComponents
    val sh = PcaPower.RayShift
    val blocks = (0 until K).map { c =>
      val lambda =
        s"(CAST(num_hi AS DOUBLE) * CAST($sh AS DOUBLE) + CAST(num_lo AS DOUBLE)) / CAST(den AS DOUBLE)"
      val gdProd = (0 to c).map(i => s"gs$i.gd").mkString(" * ")
      val joins = (0 to c).map(i => s"CROSS JOIN gs$i").mkString(" ")
      s"""SELECT $c AS c, vf.i, vf.v,
         |  $lambda AS lambda_est,
         |  (($lambda) * CAST($gdProd AS DOUBLE)) / CAST(trace AS DOUBLE) AS ev_ratio
         |FROM c${c}v$T vf CROSS JOIN ray$c CROSS JOIN trc $joins""".stripMargin
    }
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$gramCompCte,
       |$gramUpperCte,
       |${pcaTopkCtes(K)}
       |${blocks.mkString("\nUNION ALL\n")}""".stripMargin
  }

  // pca_project — k-component projection: one map-only scan, every
  // component rides as a literal array (zero joins, PlanSpec pins it);
  // output is (vec, component) long-format scores.
  private def pcaProject(s: SparkSession, d: String): DataFrame = {
    val comps = graft.SharedStages.pcaTopK(s, d)
    var df = Similarity.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
    comps.zipWithIndex.foreach { case (cp, c) =>
      df = df.withColumn(s"pc$c", typedLit(cp.v.toSeq))
        .withColumn(s"proj$c", Similarity.dotQ("q", s"pc$c"))
    }
    val structs = comps.zipWithIndex.map { case (cp, c) =>
      struct(
        lit(c).as("c"),
        col(s"proj$c").as("proj"),
        when(col("nq") === 0, lit(null).cast("double"))
          .otherwise(col(s"proj$c").cast("double") /
            (sqrt(col("nq").cast("double")) * sqrt(lit(cp.vNormSq.toDouble))))
          .as("score"))
    }
    df.select(col("vec_id"), col("label"),
        explode(array(structs: _*)).as("pc"))
      .select(col("vec_id"), col("label"), col("pc.c").as("c"),
        col("pc.proj").as("proj"), col("pc.score").as("score"))
  }

  private def pcaProjectSql = {
    val T = PcaPower.Iters
    val K = PcaPower.NumComponents
    val projCtes = (0 until K).map { c =>
      s"""pvn$c AS MATERIALIZED (SELECT CAST(SUM(v * v) AS BIGINT) AS vn FROM c${c}v$T),
         |pj$c AS MATERIALIZED (
         |  SELECT c.vec_id, CAST(SUM(c.qi * v.v) AS BIGINT) AS proj
         |  FROM comp c JOIN c${c}v$T v ON v.i = c.i GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val blocks = (0 until K).map { c =>
      s"""SELECT q.vec_id, q.label, $c AS c, p.proj,
         |  CASE WHEN q.nq = 0 THEN CAST(NULL AS DOUBLE)
         |       ELSE CAST(p.proj AS DOUBLE)
         |         / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(vn.vn AS DOUBLE))) END AS score
         |FROM pj$c p JOIN qv q ON q.vec_id = p.vec_id CROSS JOIN pvn$c vn""".stripMargin
    }
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$gramCompCte,
       |$gramUpperCte,
       |${pcaTopkCtes(K)},
       |$projCtes
       |${blocks.mkString("\nUNION ALL\n")}""".stripMargin
  }

  // ---------------------------------------------------------- abtt_pairs
  // All-But-The-Top whitened near-dup pairs (Mu & Viswanath 2018 made
  // the observation for word vectors; SemDeDup-era pipelines apply it
  // to document embeddings): corpus embeddings share a few dominant
  // "common directions" that inflate every cosine, so near-dup
  // verification AFTER removing the top-k principal components
  // separates genuinely-similar pairs from common-direction artifacts.
  // As published, ABTT removes the top k directions, not just the
  // first — this is the consumer the pca_topk deflation exists for.
  // Per component c the residual update r ← r·‖v_c‖² − (r·v_c)·v_c is
  // EXACT 64-bit integer arithmetic (≤2^62 per term with the ledger
  // below), then renormalized PER VECTOR back to |r| ≤ ~2^20 by a
  // sign-decomposed truncating division (the divisor is a deterministic
  // function of the vector itself, and cosine is invariant to
  // per-vector scaling, so cross-vector comparability survives):
  //   |r| ≤ 2^21 (post-renorm) → r·‖v‖² ≤ 2^21·2^38 = 2^59
  //   (r·v) ≤ 64·2^21·2^17 = 2^44 → (r·v)·v ≤ 2^61; difference ≤ 2^62
  // Blocking and the pair join are identical to embed_cosine_pairs
  // (label cell — a real IVF cell at 100 TB), so candidates stay
  // ∝ Σ cell², never n². The threshold sits lower than the raw-cosine
  // 0.35 because removing the common directions deflates every cosine.
  private val AbttTau = 0.2
  private val ResCap = 1L << 20

  /** The k-component ABTT residual `r` of every quantized vector, with
    * its norm `nr` — (vec_id, label, q, nq, pcs, r, nr), vectors with
    * nr = 0 dropped (a vector inside the removed subspace has no
    * residual direction). ONE native codegen pass
    * ([[graft.functions.AbttResidual]]) — the equivalent chained
    * zip_with/aggregate HOF form re-evaluates outer scalars per element
    * (~d^k work per row) and is interpreted; see the expression's
    * scaladoc for the measurement. Shared by abtt_pairs, whiten_check
    * and the RP twins. */
  private def abttResiduals(s: SparkSession, d: String): DataFrame = {
    val comps = graft.SharedStages.pcaTopK(s, d)
    Similarity.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
      .withColumn("pcs", typedLit(comps.map(_.v.toSeq)))
      .withColumn("r", expr(s"abtt_residual(q, pcs, CAST($ResCap AS BIGINT))"))
      .withColumn("nr", expr("int_dot(r, r)"))
      .filter(col("nr") > 0)
  }

  private def abttPairs(s: SparkSession, d: String): DataFrame = {
    val res = abttResiduals(s, d)
      .select(col("label"), col("vec_id"), col("r").as("rs"), col("nr"))
    val a = res.select(col("label").as("cell"), col("vec_id").as("a_id"),
      col("rs").as("ra"), col("nr").as("na"))
    val b = res.select(col("label").as("cell"), col("vec_id").as("b_id"),
      col("rs").as("rb"), col("nr").as("nb"))
    a.join(b, "cell")
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos",
        Similarity.cosine(Similarity.dotQ("ra", "rb"), col("na"), col("nb")))
      .filter(col("cos") >= AbttTau)
      .select(col("cell"), col("a_id"), col("b_id"), col("cos"))
  }

  /** Unrolled per-vector k-component residual chain over the exploded
    * components (`ar0` = comp → `ar$k` = final residual rows), in
    * lockstep with [[graft.functions.AbttResidual.residual]] — shared
    * by the abtt_pairs oracle and the whiten_check residual Gram. */
  private def abttResidualCtes(k: Int): String = {
    val T = PcaPower.Iters
    val resCtes = new StringBuilder
    resCtes.append("ar0 AS MATERIALIZED (SELECT vec_id, i, qi AS r FROM comp)")
    for (c <- 0 until k) {
      resCtes.append(
        s""",
           |apn$c AS MATERIALIZED (SELECT CAST(SUM(v * v) AS BIGINT) AS vn FROM c${c}v$T),
           |ap$c AS MATERIALIZED (
           |  SELECT r.vec_id, CAST(SUM(r.r * v.v) AS BIGINT) AS proj
           |  FROM ar$c r JOIN c${c}v$T v ON v.i = r.i GROUP BY 1),
           |at$c AS MATERIALIZED (
           |  SELECT r.vec_id, r.i, r.r * vn - p.proj * v.v AS t
           |  FROM ar$c r
           |  JOIN c${c}v$T v ON v.i = r.i
           |  JOIN ap$c p ON p.vec_id = r.vec_id
           |  CROSS JOIN apn$c),
           |ash$c AS MATERIALIZED (
           |  SELECT vec_id, GREATEST(MAX(ABS(t)) // $ResCap, 1) AS sh FROM at$c GROUP BY 1),
           |ar${c + 1} AS MATERIALIZED (
           |  SELECT t.vec_id, t.i, ${sqlTdiv("t.t", "s.sh")} AS r
           |  FROM at$c t JOIN ash$c s ON s.vec_id = t.vec_id)""".stripMargin)
    }
    resCtes.toString
  }

  private def abttPairsSql: String = {
    val K = PcaPower.NumComponents
    val resCtes = abttResidualCtes(K)
    val dot = Similarity.duckdbDot("a.r", "b.r")
    val cos = s"CAST($dot AS DOUBLE)" +
      " / sqrt(CAST(a.nr AS DOUBLE) * CAST(b.nr AS DOUBLE))"
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$gramCompCte,
       |$gramUpperCte,
       |${pcaTopkCtes(K)},
       |$resCtes,
       |rv AS MATERIALIZED (
       |  SELECT r0.vec_id, q.label,
       |    list(r0.r ORDER BY r0.i) AS r,
       |    CAST(SUM(r0.r * r0.r) AS BIGINT) AS nr
       |  FROM ar$K r0 JOIN qv q ON q.vec_id = r0.vec_id
       |  GROUP BY 1, 2)
       |SELECT a.label AS cell, a.vec_id AS a_id, b.vec_id AS b_id,
       |  $cos AS cos
       |FROM rv a JOIN rv b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE a.nr > 0 AND b.nr > 0
       |  AND $cos >= CAST($AbttTau AS DOUBLE)""".stripMargin
  }

  // --------------------------------------------------------- whiten_check
  // The closed-loop check that the pca_topk deflation actually removed
  // the dominant directions: run the SAME power iteration on the Gram
  // of the k-component ABTT residuals and report the top eigen-share
  // before (component 0 of the original Gram) vs after (dominant
  // eigenpair of the residual Gram). On an anisotropic corpus the
  // after-share collapses toward the flat-spectrum floor — the
  // quantitative justification for running the whitening path at all;
  // before ≈ after ≈ 1/d says the corpus is already isotropic and the
  // path can be skipped (the synthetic test embeddings read ~0.027 vs
  // the 1/64 = 0.016 floor — near-isotropic, as expected of random
  // fixtures). Note the residuals are per-vector renormalized
  // (abtt_residual's scale-invariant contract), so the after-Gram
  // measures concentration of residual DIRECTIONS (correlation-style),
  // not residual energy — the right notion for deciding whether MORE
  // components need removal.
  // Scale shape: the residual pass is the same map-only abtt_residual
  // scan; the residual Gram is the same bounded d(d+1)/2-cell
  // aggregation as gram_matrix (residual components ≤ 2^21, so a cell
  // overflows only past ~2^21 vectors — same documented headroom
  // class); the driver work is one more O(d²·Iters) integer iteration.
  // Output: 2 rows at any corpus size.
  private def whitenCheck(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val before = graft.SharedStages.pcaTopK(s, d).head
    // an all-zero residual (nr = 0) adds nothing to the Gram
    val res = abttResiduals(s, d)
      .select(col("vec_id"), posexplode(col("r")).as(Seq("i", "qi")))
    val b = res.select(col("vec_id"), col("i").as("j"), col("qi").as("qj"))
    val rg = res.join(b, "vec_id")
      .filter(col("i") <= col("j"))
      .groupBy(col("i"), col("j")).agg(sum(col("qi") * col("qj")).as("g"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val after = graft.embed.PcaPower.power(rg)
    Seq(
      ("before", before.lambdaEst * before.gdiv.toDouble, before.evRatio),
      ("after", after.lambdaEst * after.gdiv.toDouble, after.evRatio))
      .toDF("stage", "lambda_scaled", "ev_ratio")
  }

  private def whitenCheckSql = {
    val K = PcaPower.NumComponents
    val sh = PcaPower.RayShift
    val lam =
      s"(CAST(num_hi AS DOUBLE) * CAST($sh AS DOUBLE) + CAST(num_lo AS DOUBLE)) / CAST(den AS DOUBLE)"
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$gramCompCte,
       |$gramUpperCte,
       |${pcaTopkCtes(K)},
       |${abttResidualCtes(K)},
       |wgu AS MATERIALIZED (
       |  SELECT a.i, b.i AS j, CAST(SUM(a.r * b.r) AS BIGINT) AS g
       |  FROM ar$K a JOIN ar$K b ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY 1, 2),
       |${pcaTopkCtes(1, "w", "wgu")}
       |SELECT 'before' AS stage,
       |  ($lam) * CAST(gs0.gd AS DOUBLE) AS lambda_scaled,
       |  (($lam) * CAST(gs0.gd AS DOUBLE)) / CAST(trace AS DOUBLE) AS ev_ratio
       |FROM ray0 CROSS JOIN gs0 CROSS JOIN trc
       |UNION ALL
       |SELECT 'after' AS stage,
       |  ($lam) * CAST(wgs0.gd AS DOUBLE) AS lambda_scaled,
       |  (($lam) * CAST(wgs0.gd AS DOUBLE)) / CAST(wtrc.trace AS DOUBLE) AS ev_ratio
       |FROM wray0 CROSS JOIN wgs0 CROSS JOIN wtrc""".stripMargin
  }

  // ----------------------------------------------------------- whiten_gate
  // The DECISION EDGE on whiten_check's verdict: near-dup pairs scored
  // by ABTT-residual cosine when the corpus is measurably anisotropic
  // (top eigen-share ≥ 2× the isotropic floor 1/d), by raw quantized
  // cosine otherwise — whitening a near-isotropic corpus buys nothing
  // and pays the residual pass, so the pipeline should SWITCH, not
  // always-whiten. The branch condition is the exact double both
  // engines already derive identically for pca_topk/whiten_check
  // (component-0 ev_ratio), so the gate is mirrored bit-for-bit: the
  // oracle unions the two branches, each filtered by the same share
  // comparison (only one side survives). Each branch runs its metric's
  // own calibrated threshold (raw 0.35 / residual 0.2 — removing
  // common directions deflates every cosine). This closes the
  // measure→act loop the way lsh_density→RpLsh.widthFor does for LSH
  // capacity. Scale shape: the chosen branch is the existing
  // cell-blocked pair join (∝ Σ cell², never n²); the share is
  // driver-side O(d²) arithmetic already memoized in SharedStages.
  private val WhitenGateThr = "0.03125" // 2/d, d = 64 — exact in binary

  /** Aggressive-policy threshold: 1/(2d) = 1/128, HALF the isotropic
    * floor 1/d. The top eigen-share of any Gram is ≥ 1/d (the max
    * eigenvalue is at least the average), so this policy always takes
    * the residual branch — registering it alongside the default
    * 2/d policy makes BOTH branches of the gate's mirrored UNION
    * hash-certified on the same (near-isotropic) fixtures, where the
    * default policy only ever exercises the raw side (advisor finding,
    * round 13). */
  private val WhitenForceThr = "0.0078125" // 1/(2d) — exact in binary

  private def whitenGate(s: SparkSession, d: String,
                         thr: String = WhitenGateThr): DataFrame = {
    val share = graft.SharedStages.pcaTopK(s, d).head.evRatio
    val abtt = share >= thr.toDouble
    val pairs = if (abtt) abttPairs(s, d)
                else graft.SharedStages.embedPairs(s, d)
    pairs.withColumn("mode", lit(if (abtt) "abtt" else "raw"))
      .select(col("mode"), col("cell"), col("a_id"), col("b_id"), col("cos"))
  }

  private def whitenGateSql: String = whitenGateSqlFor(WhitenGateThr)

  private def whitenGateSqlFor(thr: String) = {
    val K = PcaPower.NumComponents
    val sh = PcaPower.RayShift
    val lam =
      s"(CAST(num_hi AS DOUBLE) * CAST($sh AS DOUBLE) + CAST(num_lo AS DOUBLE)) / CAST(den AS DOUBLE)"
    val rawCos = s"CAST(${Similarity.duckdbDot("a.q", "b.q")} AS DOUBLE)" +
      " / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE))"
    val resCos = s"CAST(${Similarity.duckdbDot("a.r", "b.r")} AS DOUBLE)" +
      " / sqrt(CAST(a.nr AS DOUBLE) * CAST(b.nr AS DOUBLE))"
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$gramCompCte,
       |$gramUpperCte,
       |${pcaTopkCtes(K)},
       |${abttResidualCtes(K)},
       |shr AS MATERIALIZED (
       |  SELECT (($lam) * CAST(gs0.gd AS DOUBLE)) / CAST(trace AS DOUBLE) AS share
       |  FROM ray0 CROSS JOIN gs0 CROSS JOIN trc),
       |rv AS MATERIALIZED (
       |  SELECT r0.vec_id, q.label,
       |    list(r0.r ORDER BY r0.i) AS r,
       |    CAST(SUM(r0.r * r0.r) AS BIGINT) AS nr
       |  FROM ar$K r0 JOIN qv q ON q.vec_id = r0.vec_id
       |  GROUP BY 1, 2)
       |SELECT 'raw' AS mode, a.label AS cell,
       |  a.vec_id AS a_id, b.vec_id AS b_id, $rawCos AS cos
       |FROM qv a JOIN qv b ON a.label = b.label AND a.vec_id < b.vec_id, shr
       |WHERE shr.share < CAST($thr AS DOUBLE)
       |  AND $rawCos >= CAST(0.35 AS DOUBLE)
       |UNION ALL
       |SELECT 'abtt' AS mode, a.label AS cell,
       |  a.vec_id AS a_id, b.vec_id AS b_id, $resCos AS cos
       |FROM rv a JOIN rv b ON a.label = b.label AND a.vec_id < b.vec_id, shr
       |WHERE shr.share >= CAST($thr AS DOUBLE)
       |  AND a.nr > 0 AND b.nr > 0
       |  AND $resCos >= CAST($AbttTau AS DOUBLE)""".stripMargin
  }

  // ------------------------------ abtt_pairs_rp, whiten_force_rp
  // GROWING-CELL twins of abtt_pairs / whiten_gate_force (round-17
  // verdict item #3): same residual chain and thresholds, but the pair
  // join blocked by the library's own ADAPTIVE blocking — the
  // [[graft.embed.RpLsh]] random-hyperplane buckets at the gated
  // [[RpLsh.widthFor]] width — instead of the surrogate's FIXED 10
  // label cells. Why this is the scale artifact: with fixed cells the
  // candidate mass is Σ cell² ∝ n² (the measured 76–80× decade on
  // abtt_pairs / whiten_gate_force at the 100× surrogate, where the
  // OUTPUT is genuinely 100×); the RP width ladder grows the bucket
  // count with the corpus (bits = ⌈log2 n⌉ − 2 ⇒ expected occupancy
  // 2–4 at any size), so candidate mass — and the decade — stays
  // ~linear (ann_rp_lsh, the same blocking's raw consumer, measures
  // 6.7× over sf1→sf10). ivf_assign cells were considered and
  // rejected for the twin: the codebook is fixed k=8 (same Σ cell²
  // class as labels), and growing k to n/C makes the assignment pass
  // itself n·k = n²/C — the RP ladder is the blocking whose TOTAL
  // cost is ~linear. Candidates are generated on the RAW quantized
  // vectors (bucketing before whitening — one bucket pass serves both
  // gate branches); recall at the whitened metric is partial BY
  // DESIGN, exactly like ann_rp_lsh's, and the oracle mirrors the
  // identical candidate generation so results hash-match.
  /** Built once per (session, dir) via
    * [[graft.SharedStages.abttRpPairs]]; the raw-vector bucket
    * candidates come from the shared [[graft.SharedStages.rpCands]]
    * materialization (one bucket pass + self-join serves the raw AND
    * residual metrics). */
  private[graft] def buildAbttPairsRp(s: SparkSession, d: String): DataFrame = {
    val res = abttResiduals(s, d)
    val cands = graft.SharedStages.rpCands(s, d)
    cands
      .join(res.select(col("vec_id").as("a_id"), col("r").as("ra"),
        col("nr").as("na")), "a_id")
      .join(res.select(col("vec_id").as("b_id"), col("r").as("rb"),
        col("nr").as("nb")), "b_id")
      .withColumn("cos",
        Similarity.cosine(Similarity.dotQ("ra", "rb"), col("na"), col("nb")))
      .filter(col("cos") >= AbttTau)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Shared oracle prefix for the RP twins: the quantized corpus, the
    * PCA + residual chain, the per-vector residual rows `rv`, and the
    * RP candidate CTEs (`rp_cand`). */
  private def abttRpCtes: String = {
    val K = PcaPower.NumComponents
    s"""${Similarity.duckdbQuantizedCte},
       |$gramCompCte,
       |$gramUpperCte,
       |${pcaTopkCtes(K)},
       |${abttResidualCtes(K)},
       |rv AS MATERIALIZED (
       |  SELECT r0.vec_id,
       |    list(r0.r ORDER BY r0.i) AS r,
       |    CAST(SUM(r0.r * r0.r) AS BIGINT) AS nr
       |  FROM ar$K r0 GROUP BY 1),
       |${RpLsh.duckdbCandidateCte}""".stripMargin
  }

  private def abttPairsRpSql: String = {
    val resCos = s"CAST(${Similarity.duckdbDot("a.r", "b.r")} AS DOUBLE)" +
      " / sqrt(CAST(a.nr AS DOUBLE) * CAST(b.nr AS DOUBLE))"
    s"""WITH $abttRpCtes
       |SELECT c.a_id, c.b_id, $resCos AS cos
       |FROM rp_cand c
       |JOIN rv a ON a.vec_id = c.a_id
       |JOIN rv b ON b.vec_id = c.b_id
       |WHERE a.nr > 0 AND b.nr > 0
       |  AND $resCos >= CAST($AbttTau AS DOUBLE)""".stripMargin
  }

  private def whitenGateRp(s: SparkSession, d: String,
                           thr: String): DataFrame = {
    val share = graft.SharedStages.pcaTopK(s, d).head.evRatio
    val abtt = share >= thr.toDouble
    val pairs = if (abtt) graft.SharedStages.abttRpPairs(s, d)
                else graft.SharedStages.rpScored(s, d)
                  .filter(col("cos") >= 0.35)
    pairs.withColumn("mode", lit(if (abtt) "abtt" else "raw"))
      .select(col("mode"), col("a_id"), col("b_id"), col("cos"))
  }

  private def whitenGateRpSqlFor(thr: String): String = {
    val sh = PcaPower.RayShift
    val lam =
      s"(CAST(num_hi AS DOUBLE) * CAST($sh AS DOUBLE) + CAST(num_lo AS DOUBLE)) / CAST(den AS DOUBLE)"
    val rawCos = s"CAST(${Similarity.duckdbDot("a.q", "b.q")} AS DOUBLE)" +
      " / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE))"
    val resCos = s"CAST(${Similarity.duckdbDot("a.r", "b.r")} AS DOUBLE)" +
      " / sqrt(CAST(a.nr AS DOUBLE) * CAST(b.nr AS DOUBLE))"
    s"""WITH $abttRpCtes,
       |shr AS MATERIALIZED (
       |  SELECT (($lam) * CAST(gs0.gd AS DOUBLE)) / CAST(trace AS DOUBLE) AS share
       |  FROM ray0 CROSS JOIN gs0 CROSS JOIN trc)
       |SELECT 'raw' AS mode, c.a_id, c.b_id, $rawCos AS cos
       |FROM rp_cand c
       |JOIN qv a ON a.vec_id = c.a_id
       |JOIN qv b ON b.vec_id = c.b_id, shr
       |WHERE shr.share < CAST($thr AS DOUBLE)
       |  AND a.nq > 0 AND b.nq > 0
       |  AND $rawCos >= CAST(0.35 AS DOUBLE)
       |UNION ALL
       |SELECT 'abtt' AS mode, c.a_id, c.b_id, $resCos AS cos
       |FROM rp_cand c
       |JOIN rv a ON a.vec_id = c.a_id
       |JOIN rv b ON b.vec_id = c.b_id, shr
       |WHERE shr.share >= CAST($thr AS DOUBLE)
       |  AND a.nr > 0 AND b.nr > 0
       |  AND $resCos >= CAST($AbttTau AS DOUBLE)""".stripMargin
  }

  // ------------------------------------- linear_probe, probe_eval
  // Ridge-regularized linear probe trained on the NORMAL EQUATIONS —
  // the linear-probe consumer promised by the gram_matrix scaffold
  // (the standard embedding-space eval, and the cheap quality-
  // classifier shape curation pipelines train on weak labels; see
  // Abbas '23-era "linear probe on frozen features" practice). The
  // corpus-sized work is two bounded aggregations — the SHARED Gram
  // (d(d+1)/2 cells) and b = Xᵀy (d cells) — plus a map-only scoring
  // pass with the broadcast weights; training itself is d = 64 longs
  // of fixed-point Richardson iteration on the driver
  // ([[graft.embed.ProbeTrain]] — exact integer arithmetic, so the
  // oracle replays the SAME unrolled iterations as CTEs and
  // hash-matches bit-for-bit; the PcaPower/IvfTrain discipline). At
  // 100 TB nothing driver-side grows with the data.
  private[graft] def trainProbe(s: SparkSession, d: String)
  : graft.embed.ProbeTrain.Probe = {
    val comps = Similarity
      .quantized(Tables.embeddings(s, d), "vec_id", "embedding")
      .select(col("vec_id"), col("label"), posexplode(col("q")).as(Seq("i", "qi")))
    val bRows = comps
      .withColumn("y", when(col("label") === graft.embed.ProbeTrain.PosLabel, 1L)
        .otherwise(-1L))
      .groupBy(col("i")).agg(sum(col("qi") * col("y")).as("b"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val b = Array.ofDim[Long](bRows.iterator.map(_._1).max + 1)
    bRows.foreach { case (i, v) => b(i) = v }
    graft.embed.ProbeTrain.train(graft.SharedStages.gramUpper(s, d), b)
  }

  private def linearProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = graft.SharedStages.probe(s, d)
    p.w.toSeq.zipWithIndex
      .map { case (wi, i) => (i, wi, p.lam, p.d) }
      .toDF("i", "w", "lam", "d")
  }

  /** Unrolled Richardson iterations in lockstep with
    * [[graft.embed.ProbeTrain.train]]: rescale gram and b, ridge the
    * diagonal, derive the power-of-two step D from a 63-row powers
    * table (`MIN(p) WHERE p >= trace + lam` — no float log2 at a
    * power-of-two boundary), then Iters rounds of
    * w += (b·S − A·w) DIV D with the defensive clamp. All divisions
    * sign-decomposed; every CTE MATERIALIZED (see pcaIterCtes). */
  private def probeIterCtes: String = {
    val P = graft.embed.ProbeTrain
    val sb = new StringBuilder
    sb.append(
      s"""gf AS MATERIALIZED (
         |  SELECT i, j, g FROM gu
         |  UNION ALL
         |  SELECT j AS i, i AS j, g FROM gu WHERE i < j),
         |gs AS MATERIALIZED (SELECT GREATEST(MAX(ABS(g)) // ${P.GCap}, 1) AS gdiv FROM gf),
         |gm AS MATERIALIZED (
         |  SELECT i, j, CASE WHEN g < 0 THEN -(ABS(g) // gdiv)
         |               ELSE ABS(g) // gdiv END AS g
         |  FROM gf, gs),
         |tr AS MATERIALIZED (SELECT CAST(SUM(g) AS BIGINT) AS trace FROM gm WHERE i = j),
         |lm AS MATERIALIZED (SELECT GREATEST(trace // ${P.RidgeDiv}, 1) AS lam FROM tr),
         |am AS MATERIALIZED (
         |  SELECT i, j, g + CASE WHEN i = j THEN lam ELSE CAST(0 AS BIGINT) END AS a
         |  FROM gm, lm),
         |dv AS MATERIALIZED (
         |  SELECT MIN(p) AS d
         |  FROM (SELECT CAST(power(2, k) AS BIGINT) AS p
         |        FROM (SELECT unnest(range(0, 63)) AS k)) pows, tr, lm
         |  WHERE p >= trace + lam),
         |yv AS MATERIALIZED (
         |  SELECT vec_id, CASE WHEN label = ${P.PosLabel} THEN CAST(1 AS BIGINT)
         |                 ELSE CAST(-1 AS BIGINT) END AS y
         |  FROM qv),
         |bv AS MATERIALIZED (
         |  SELECT c.i, CAST(SUM(c.qi * y.y) AS BIGINT) AS b
         |  FROM comp c JOIN yv y ON y.vec_id = c.vec_id GROUP BY 1),
         |bs AS MATERIALIZED (
         |  SELECT GREATEST(GREATEST(MAX(ABS(b)), 1) // ${P.BCap}, 1) AS bdiv FROM bv),
         |bm AS MATERIALIZED (
         |  SELECT i, CASE WHEN b < 0 THEN -(ABS(b) // bdiv)
         |            ELSE ABS(b) // bdiv END AS b
         |  FROM bv, bs),
         |w0 AS MATERIALIZED (SELECT i, CAST(0 AS BIGINT) AS w FROM bm)""".stripMargin)
    for (t <- 1 to P.Iters) {
      val p = s"w${t - 1}"
      sb.append(
        s""",
           |r$t AS MATERIALIZED (
           |  SELECT b.i AS i, CAST(b.b * ${P.WScale} - aw.s AS BIGINT) AS r
           |  FROM bm b JOIN (
           |    SELECT am.i AS i, CAST(SUM(am.a * p.w) AS BIGINT) AS s
           |    FROM am JOIN $p p ON p.i = am.j GROUP BY 1) aw ON aw.i = b.i),
           |w$t AS MATERIALIZED (
           |  SELECT i, CASE WHEN wn > ${P.WClamp} THEN CAST(${P.WClamp} AS BIGINT)
           |            WHEN wn < -${P.WClamp} THEN CAST(-${P.WClamp} AS BIGINT)
           |            ELSE wn END AS w
           |  FROM (
           |    SELECT r.i AS i, p.w + (CASE WHEN r.r < 0 THEN -((-r.r) // dv.d)
           |                            ELSE r.r // dv.d END) AS wn
           |    FROM r$t r JOIN $p p ON p.i = r.i CROSS JOIN dv))""".stripMargin)
    }
    sb.toString
  }

  private def linearProbeSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$gramCompCte,
       |$gramUpperCte,
       |$probeIterCtes
       |SELECT w.i, w.w, lam, d FROM w${graft.embed.ProbeTrain.Iters} w, lm, dv""".stripMargin

  /** Per-vector probe scoring of an embeddings batch against FIXED
    * weights — the stateless per-batch kernel shared by probe_eval and
    * the streaming twin: scoring is map-only given the broadcast w, so
    * the online form is a `foreachBatch` of exactly this function
    * (train the model batch-side, stream the scoring;
    * StreamingProbeSpec pins per-batch ≡ one-shot). */
  private[graft] def probeScores(batch: DataFrame, w: Seq[Long]): DataFrame =
    Similarity.quantized(batch, "vec_id", "embedding")
      .withColumn("wv", typedLit(w))
      .withColumn("score", Similarity.dotQ("q", "wv"))
      .withColumn("pred_pos", (col("score") > 0).cast("long"))
      .select(col("vec_id"), col("label"), col("score"), col("pred_pos"))

  private def probeEval(s: SparkSession, d: String): DataFrame = {
    val p = graft.SharedStages.probe(s, d)
    probeScores(Tables.embeddings(s, d), p.w.toSeq)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("pred_pos")).as("pred_pos"))
  }

  // The retrieval read of the probe: top-20 highest-scoring vectors
  // with their labels — precision@k for the positive class, and the
  // label-noise shortlist (high-scoring negatives are either probe
  // errors or mislabeled rows). Map-only scoring + TakeOrdered: the
  // per-partition top-20 heaps ship ≤ partitions·20 rows, never a full
  // sort; ties broken by vec_id. Integer scores, so ordering is exact.
  private val ProbeTopK = 20

  private def probeTopk(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = graft.SharedStages.probe(s, d)
    val scored = Similarity
      .quantized(Tables.embeddings(s, d), "vec_id", "embedding")
      .withColumn("wv", typedLit(p.w.toSeq))
      .withColumn("score", Similarity.dotQ("q", "wv"))
      .select(col("vec_id"), col("label"), col("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(ProbeTopK)
    val w = Window.orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("rk"), col("vec_id"), col("label"), col("score"))
  }

  private def probeTopkSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$gramCompCte,
       |$gramUpperCte,
       |$probeIterCtes,
       |sc AS MATERIALIZED (
       |  SELECT c.vec_id, CAST(SUM(c.qi * w.w) AS BIGINT) AS score
       |  FROM comp c JOIN w${graft.embed.ProbeTrain.Iters} w ON w.i = c.i
       |  GROUP BY 1)
       |SELECT rk, vec_id, label, score FROM (
       |  SELECT s.vec_id, q.label, s.score,
       |    ROW_NUMBER() OVER (ORDER BY s.score DESC, s.vec_id) AS rk
       |  FROM sc s JOIN qv q ON q.vec_id = s.vec_id)
       |WHERE rk <= $ProbeTopK""".stripMargin

  private def probeEvalSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$gramCompCte,
       |$gramUpperCte,
       |$probeIterCtes,
       |sc AS MATERIALIZED (
       |  SELECT c.vec_id, CAST(SUM(c.qi * w.w) AS BIGINT) AS score
       |  FROM comp c JOIN w${graft.embed.ProbeTrain.Iters} w ON w.i = c.i
       |  GROUP BY 1)
       |SELECT q.label, COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN s.score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pred_pos
       |FROM sc s JOIN qv q ON q.vec_id = s.vec_id
       |GROUP BY 1""".stripMargin

  // ------------------------------------------------------ knn_classify
  // Leave-one-out k-NN label prediction over the RP-LSH candidate
  // graph — the standard "is the embedding space label-consistent"
  // eval (and the label-noise detector shape: rows whose neighbors
  // out-vote their own label). Candidates come from shared LSH
  // buckets, NOT all pairs, so the comparison count stays ∝ bucket
  // collisions at any corpus size (recall is partial BY DESIGN — the
  // oracle mirrors the identical candidate generation, the annRpLsh
  // precedent). Top-5 per query by exact quantized cosine through the
  // custom top-k physical operator (bounded map-side heaps), majority
  // vote with (count desc, label asc) tie-break, then the confusion
  // matrix — output is O(labels²), the whole reduction is two keyed
  // exchanges.
  private val KnnClassK = 5

  private def knnClassify(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    // The undirected candidate set {(x,y): x≠y, bucket-collide} is
    // exactly the SHARED ordered candidate pairs ∪ their swap: collision
    // is symmetric and the a<b / b<a halves are disjoint, so no distinct
    // is needed (the oracle's cand2 CTE is literally this union). Reads
    // the memoized [[graft.SharedStages.rpCands]] instead of re-running
    // the bucket pass + self-join (and the width-gating corpus count)
    // per invocation.
    val cp = graft.SharedStages.rpCands(s, d)
    val cands = cp
      .select(col("a_id").as("query_id"), col("b_id").as("neighbor_id"))
      .unionByName(cp
        .select(col("b_id").as("query_id"), col("a_id").as("neighbor_id")))
    val qd = Similarity.quantized(e, "vec_id", "embedding")
    val scored = cands
      .join(qd.select(col("vec_id").as("query_id"), col("label").as("true_label"),
        col("q").as("qa"), col("nq").as("na")), "query_id")
      .join(qd.select(col("vec_id").as("neighbor_id"), col("label").as("n_label"),
        col("q").as("qb"), col("nq").as("nb")), "neighbor_id")
      .withColumn("cos",
        Similarity.cosine(Similarity.dotQ("qa", "qb"), col("na"), col("nb")))
      .select(col("query_id"), col("true_label"), col("n_label"),
        col("neighbor_id"), col("cos"))
    val top = Similarity.cosTopK(scored, Seq("query_id"), KnnClassK)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("c").desc, col("n_label"))
    top.groupBy(col("query_id"), col("true_label"), col("n_label"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("true_label").as("label"), col("n_label").as("pred_label"))
      .groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  private def knnClassifySql = {
    val cos = s"CAST(${Similarity.duckdbDot("a.q", "b.q")} AS DOUBLE)" +
      " / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE))"
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |${RpLsh.duckdbCandidateCte},
       |cand2 AS (
       |  SELECT a_id AS query_id, b_id AS neighbor_id FROM rp_cand
       |  UNION ALL
       |  SELECT b_id AS query_id, a_id AS neighbor_id FROM rp_cand),
       |scored AS MATERIALIZED (
       |  SELECT c.query_id, a.label AS true_label, b.label AS n_label,
       |    c.neighbor_id, $cos AS cos
       |  FROM cand2 c
       |  JOIN qv a ON a.vec_id = c.query_id
       |  JOIN qv b ON b.vec_id = c.neighbor_id),
       |top5 AS (
       |${Similarity.duckdbCosTopK("scored", "query_id", KnnClassK)}),
       |votes AS (
       |  SELECT query_id, true_label, n_label, COUNT(*) AS c
       |  FROM top5 GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT query_id, true_label, n_label FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY c DESC, n_label) AS rn
       |    FROM votes)
       |  WHERE rn = 1)
       |SELECT true_label AS label, n_label AS pred_label, COUNT(*) AS n
       |FROM pred GROUP BY 1, 2""".stripMargin
  }

  // -------------------------------------------------------- mmr_select
  // Greedy maximal-marginal-relevance selection (Carbonell &
  // Goldstein '98; the diverse-subset shape data-curation pipelines
  // use for "representative but not redundant" sampling): pick K
  // vectors maximizing rel − λ·max-sim-to-selected, relevance =
  // cosine to the corpus centroid. Greedy is inherently sequential in
  // K, but each step is ONE distributed argmax (sort-limit-1) over a
  // map-only scoring pass against the ≤K-row broadcast selected set —
  // K passes total, nothing driver-sized grows with the corpus. The
  // centroid is exact integer (Σq per dim, rescaled to ≤2^21 so dots
  // fit 64-bit at ANY corpus size); scores are element-wise doubles on
  // exact integers with vec_id tie-break, so the oracle replays the
  // identical greedy unrolled as K CTEs.
  //
  // Deployment contract at warehouse scale: the persisted scoring base
  // is re-read K times, so run MMR on a sampled or pre-filtered
  // candidate pool (e.g. the top-N of `knn_topk`/`budget_select`), not
  // the raw 100 TB corpus — the algorithm stays linear per round, but
  // K re-reads of a base that exceeds cluster cache turns into K scans.
  private val MmrK = 8
  private val MmrCCap = 1L << 20

  private def mmrSelect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qd = quantizedCorpus(s, d)
    val cent = qd.select(posexplode(col("q")).as(Seq("i", "qi")))
      .groupBy(col("i")).agg(sum(col("qi")).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).map(_._2)
    val cmax = math.max(cent.iterator.map(math.abs).max, 1L)
    val cdiv = math.max(cmax / MmrCCap, 1L)
    val cm = cent.map(PcaPower.tdiv(_, cdiv))
    val ncm = cm.iterator.map(x => x * x).sum
    val base = qd
      .filter(col("nq") > 0)
      .withColumn("cv", typedLit(cm.toSeq))
      .withColumn("dot", Similarity.dotQ("q", "cv"))
      .withColumn("rel", col("dot").cast("double") /
        sqrt(col("nq").cast("double") * lit(ncm.toDouble)))
      .select(col("vec_id"), col("q"), col("nq"), col("rel"))
      .persist()
    try {
      var selected = Vector.empty[(Long, Seq[Long], Long, Double, Double)]
      for (_ <- 1 to MmrK) {
        val winner =
          if (selected.isEmpty)
            base.withColumn("score", col("rel"))
              .orderBy(col("rel").desc, col("vec_id")).limit(1)
          else {
            // Map-only marginal: the selected set is ≤ K rows the DRIVER
            // already holds, so each greedy round scores max-sim-to-
            // selected as greatest() over one int_dot per selected vector
            // (each selected q rides the plan as a bigint array literal).
            // max over k grouped rows IS greatest over the k values —
            // bit-identical doubles — but with ZERO exchange; the former
            // crossJoin(broadcast)+groupBy(vec_id) shape shuffled the
            // whole scored base every round (K−1 = 7 exchanges per query).
            // typedLit (a Literal array node), NOT string-built expr():
            // the parsed-text form grew the plan O(K·dim) in SQL text
            // and was safe only because the nq>0 filter guarantees
            // non-empty q arrays (an empty qs would render unparseable
            // `array(L)`). Same literal array in the plan, no parser.
            val cosCols = selected.map { case (_, qs, ns, _, _) =>
              Similarity.cosine(
                call_function("int_dot", col("q"), typedLit(qs)),
                col("nq"), lit(ns))
            }
            val ms =
              if (cosCols.length == 1) cosCols.head else greatest(cosCols: _*)
            base.filter(!col("vec_id").isin(selected.map(_._1): _*))
              .withColumn("score", col("rel") - lit(0.5) * ms)
              .orderBy(col("score").desc, col("vec_id")).limit(1)
          }
        val row = winner.select(col("vec_id"), col("q"), col("nq"),
          col("rel"), col("score")).head()
        selected = selected :+ ((row.getLong(0), row.getSeq[Long](1),
          row.getLong(2), row.getDouble(3), row.getDouble(4)))
      }
      selected.zipWithIndex
        .map { case ((id, _, _, rel, score), idx) => (idx + 1L, id, rel, score) }
        .toDF("rank", "vec_id", "rel", "score")
    } finally base.unpersist()
  }

  private def mmrIterCtes: String = {
    val dotRS = Similarity.duckdbDot("r.q", "s.q")
    val sb = new StringBuilder
    sb.append(
      s"""cd AS MATERIALIZED (
         |  SELECT i, CAST(SUM(qi) AS BIGINT) AS c FROM comp GROUP BY 1),
         |cs AS MATERIALIZED (
         |  SELECT GREATEST(GREATEST(MAX(ABS(c)), 1) // $MmrCCap, 1) AS cdiv FROM cd),
         |cmv AS MATERIALIZED (
         |  SELECT i, CASE WHEN c < 0 THEN -(ABS(c) // cdiv)
         |            ELSE ABS(c) // cdiv END AS c
         |  FROM cd, cs),
         |ncv AS MATERIALIZED (SELECT CAST(SUM(c * c) AS BIGINT) AS ncm FROM cmv),
         |rl AS MATERIALIZED (
         |  SELECT q.vec_id, q.q, q.nq,
         |    CAST(dt.dot AS DOUBLE)
         |      / sqrt(CAST(q.nq AS DOUBLE) * CAST(ncv.ncm AS DOUBLE)) AS rel
         |  FROM qv q
         |  JOIN (SELECT c.vec_id, CAST(SUM(c.qi * cmv.c) AS BIGINT) AS dot
         |        FROM comp c JOIN cmv ON cmv.i = c.i GROUP BY 1) dt
         |    ON dt.vec_id = q.vec_id
         |  CROSS JOIN ncv
         |  WHERE q.nq > 0),
         |a1 AS MATERIALIZED (
         |  SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel, rel AS score
         |  FROM rl ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin)
    for (t <- 2 to MmrK) {
      val p = s"a${t - 1}"
      sb.append(
        s""",
           |m$t AS MATERIALIZED (
           |  SELECT r.vec_id, r.rel,
           |    MAX(CAST($dotRS AS DOUBLE)
           |      / sqrt(CAST(r.nq AS DOUBLE) * CAST(s.nq AS DOUBLE))) AS ms
           |  FROM rl r
           |  JOIN qv s ON s.vec_id IN (SELECT vec_id FROM $p)
           |  WHERE r.vec_id NOT IN (SELECT vec_id FROM $p)
           |  GROUP BY 1, 2),
           |a$t AS MATERIALIZED (
           |  SELECT * FROM $p
           |  UNION ALL
           |  (SELECT CAST($t AS BIGINT) AS rank, vec_id, rel,
           |     rel - 0.5 * ms AS score
           |   FROM m$t ORDER BY score DESC, vec_id LIMIT 1))""".stripMargin)
    }
    sb.toString
  }

  private def mmrSelectSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$gramCompCte,
       |$mmrIterCtes
       |SELECT rank, vec_id, rel, score FROM a$MmrK""".stripMargin

  // ------------------------------------------------------ embed_outliers
  // Per-label centroid outliers: the 5 vectors per label FARTHEST (by
  // quantized cosine) from their own label's exact-integer centroid —
  // the mislabeled-row / anomaly shortlist that complements
  // knn_classify (neighbor vote) with a global per-class view. The
  // centroids are a bounded collect (labels × d cells, the KMeans-
  // centroid class), rescaled ≤2^21 per label so dots fit 64-bit at
  // any corpus size; scoring is a map-only pass against the ≤|labels|-
  // row broadcast, and the bottom-5 cut runs through the bounded-heap
  // top-k operator — never a global sort.
  private val OutlierK = 5
  private val OutlierCCap = 1L << 20

  /** Per-label rescaled exact-integer centroids (label, cm, ‖cm‖²) —
    * a labels×d bounded collect shared by embed_outliers and
    * centroid_classify; mirrors [[labelCentroidCtes]]. */
  private def labelCentroids(s: SparkSession, d: String): Seq[(Int, Seq[Long], Long)] = {
    val qd = Similarity.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
    val centRows = qd
      .select(col("label"), posexplode(col("q")).as(Seq("i", "qi")))
      .groupBy(col("label"), col("i")).agg(sum(col("qi")).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    centRows.groupBy(_._1).map { case (l, rows) =>
      val dims = rows.map(_._2).max + 1
      val c = Array.ofDim[Long](dims)
      rows.foreach { case (_, i, v) => c(i) = v }
      val cdiv = math.max(math.max(c.iterator.map(math.abs).max, 1L) / OutlierCCap, 1L)
      val cm = c.map(PcaPower.tdiv(_, cdiv))
      (l, cm.toSeq, cm.iterator.map(x => x * x).sum)
    }.toSeq
  }

  private def embedOutliers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val qd = Similarity.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
    val cDf = labelCentroids(s, d).toDF("label", "cv", "ncm")
    val scored = qd.join(broadcast(cDf), "label")
      .filter(col("nq") > 0 && col("ncm") > 0)
      .withColumn("cos",
        Similarity.cosine(Similarity.dotQ("q", "cv"), col("nq"), col("ncm")))
      .select(col("label"), col("vec_id"), col("cos"))
    val bottom = graft.plans.TopK.perKey(scored, Seq("label"),
      Seq(("cos", true), ("vec_id", true)), OutlierK)
    val w = Window.partitionBy(col("label")).orderBy(col("cos"), col("vec_id"))
    bottom.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("label"), col("rk"), col("vec_id"), col("cos"))
  }

  /** DuckDB CTEs: per-label exact-integer centroids rescaled ≤2^21 —
    * `cmv(label, i, c)` + norms `cn(label, ncm)`; needs `qv` in scope.
    * Shared by embed_outliers and centroid_classify. */
  private def labelCentroidCtes =
    s"""compl AS MATERIALIZED (
       |  SELECT vec_id, label, CAST(t.i AS INT) AS i,
       |    q[CAST(t.i AS INT) + 1] AS qi
       |  FROM qv, LATERAL (SELECT unnest(range(0, len(q))) AS i) t),
       |cent AS MATERIALIZED (
       |  SELECT label, i, CAST(SUM(qi) AS BIGINT) AS c
       |  FROM compl GROUP BY 1, 2),
       |cdv AS MATERIALIZED (
       |  SELECT label, GREATEST(GREATEST(MAX(ABS(c)), 1) // $OutlierCCap, 1)
       |    AS cdiv
       |  FROM cent GROUP BY 1),
       |cmv AS MATERIALIZED (
       |  SELECT c.label, c.i, CASE WHEN c.c < 0 THEN -(ABS(c.c) // v.cdiv)
       |                       ELSE ABS(c.c) // v.cdiv END AS c
       |  FROM cent c JOIN cdv v ON v.label = c.label),
       |cn AS MATERIALIZED (
       |  SELECT label, CAST(SUM(c * c) AS BIGINT) AS ncm FROM cmv GROUP BY 1)""".stripMargin

  private def embedOutliersSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$labelCentroidCtes,
       |dt AS MATERIALIZED (
       |  SELECT l.vec_id, l.label, CAST(SUM(l.qi * m.c) AS BIGINT) AS dot
       |  FROM compl l JOIN cmv m ON m.label = l.label AND m.i = l.i
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT d.vec_id, d.label,
       |    CAST(d.dot AS DOUBLE)
       |      / sqrt(CAST(q.nq AS DOUBLE) * CAST(n.ncm AS DOUBLE)) AS cos
       |  FROM dt d
       |  JOIN qv q ON q.vec_id = d.vec_id
       |  JOIN cn n ON n.label = d.label
       |  WHERE q.nq > 0 AND n.ncm > 0)
       |SELECT label, rk, vec_id, cos FROM (
       |  SELECT label, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos, vec_id) AS rk
       |  FROM sc)
       |WHERE rk <= $OutlierK""".stripMargin

  // -------------------------------------------------- centroid_classify
  // Nearest-centroid (Rocchio) classification — the parametric third
  // leg of the classifier triad next to knn_classify (instance-based)
  // and linear_probe (discriminative): predict each vector's label as
  // the argmax cosine over the ≤|labels| broadcast centroids, report
  // the label×pred confusion matrix. One bounded centroid collect +
  // one map-side crossjoin against ≤|labels| rows + two keyed
  // aggregations; at any corpus size the only data-scale pass is the
  // scoring scan.
  private def centroidClassify(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val qd = Similarity.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
    val cDf = labelCentroids(s, d).toDF("c_label", "cv", "ncm")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("c_label"))
    qd.filter(col("nq") > 0)
      .crossJoin(broadcast(cDf.filter(col("ncm") > 0)))
      .withColumn("cos",
        Similarity.cosine(Similarity.dotQ("q", "cv"), col("nq"), col("ncm")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("label"), col("c_label").as("pred_label"))
      .groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  private def centroidClassifySql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |$labelCentroidCtes,
       |dots AS MATERIALIZED (
       |  SELECT l.vec_id, m.label AS c_label, CAST(SUM(l.qi * m.c) AS BIGINT) AS dot
       |  FROM compl l JOIN cmv m ON m.i = l.i
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.vec_id, q.label, d.c_label,
       |    CAST(d.dot AS DOUBLE)
       |      / sqrt(CAST(q.nq AS DOUBLE) * CAST(n.ncm AS DOUBLE)) AS cos
       |  FROM dots d
       |  JOIN qv q ON q.vec_id = d.vec_id
       |  JOIN cn n ON n.label = d.c_label
       |  WHERE q.nq > 0 AND n.ncm > 0),
       |pred AS (
       |  SELECT vec_id, label, c_label AS pred_label FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, c_label) AS rn
       |    FROM scored)
       |  WHERE rn = 1)
       |SELECT label, pred_label, COUNT(*) AS n
       |FROM pred GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------ embed_dim_stats
  // Per-dimension moment report over the quantized embeddings: count,
  // exact first/second moments (DECIMAL accumulation — order-free and
  // engine-identical — cast to double once), min/max, and mean / raw
  // second moment with ONE IEEE divide each on identical operands. The
  // anisotropy / dead-dimension diagnostic that decides whether the
  // whitening path (pca_power → pca_project → abtt_pairs) is worth
  // running: a ~zero-variance dimension carries no signal, an outsized
  // mean marks a common-direction candidate. Scale shape: map-only
  // posexplode with map-side combine into exactly d = |q| groups — the
  // exchange carries ≤ d cells per executor REGARDLESS of corpus size
  // (qi is safe per element as long as |x|·2^20 squared fits a long,
  // i.e. component magnitude |x| ≲ 2^11 — far above any normalized
  // embedding; the sums accumulate as DECIMAL(38,0), overflow-free at
  // any corpus size).
  private def embedDimStats(s: SparkSession, d: String): DataFrame =
    Similarity.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
      .select(posexplode(col("q")).as(Seq("dim", "qi")))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("qi").cast("decimal(38,0)")).cast("double").as("s1"),
        sum((col("qi") * col("qi")).cast("decimal(38,0)")).cast("double").as("s2"),
        min(col("qi")).as("vmin"),
        max(col("qi")).as("vmax"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("ex2", col("s2") / col("n"))

  // dim bound derives from len(q) — the same source of truth as the
  // Spark posexplode (the gramCompCte discipline)
  private val embedDimStatsSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |comp AS (
       |  SELECT CAST(t.i AS INT) AS dim, q[CAST(t.i AS INT) + 1] AS qi
       |  FROM qv, LATERAL (SELECT unnest(range(0, len(q))) AS i) t)
       |SELECT dim, COUNT(*) AS n,
       |  CAST(SUM(CAST(qi AS DECIMAL(38,0))) AS DOUBLE) AS s1,
       |  CAST(SUM(CAST(qi * qi AS DECIMAL(38,0))) AS DOUBLE) AS s2,
       |  MIN(qi) AS vmin, MAX(qi) AS vmax,
       |  CAST(SUM(CAST(qi AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) AS mean,
       |  CAST(SUM(CAST(qi * qi AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) AS ex2
       |FROM comp GROUP BY dim""".stripMargin

  // ----------------------------------------------------- cos_calibration
  // Similarity-threshold calibration curve: EVERY RP-LSH bucket-collision
  // candidate pair (no cosine floor), exact quantized cosine, bucketed at
  // width 0.05 via floor(cos·20) — both engines compute the identical
  // double, so the boundary floor is deterministic. This is the histogram
  // an operator reads to PICK the near-dup threshold (where does the
  // candidate mass fall off?) and to sanity-check LSH bucketing before a
  // full dedup pass. Candidates stay bucket-bounded — never all-pairs —
  // and the output is ≤ 41 bucket rows at any corpus size.
  private def cosCalibration(s: SparkSession, d: String): DataFrame =
    graft.SharedStages.rpScored(s, d).filter(col("cos") >= -1.0)
      .withColumn("bucket", floor(col("cos") * 20).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cos_lo", col("bucket").cast("double") / 20)

  private val cosCalibrationSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |${RpLsh.duckdbCandidateCte},
       |scored AS (
       |  SELECT c.a_id, c.b_id,
       |    CAST(${Similarity.duckdbDot("a.q", "b.q")} AS DOUBLE)
       |      / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) AS cos
       |  FROM rp_cand c
       |  JOIN qv a ON a.vec_id = c.a_id
       |  JOIN qv b ON b.vec_id = c.b_id
       |  WHERE a.nq > 0 AND b.nq > 0),
       |kept AS (
       |  SELECT CAST(floor(cos * 20) AS BIGINT) AS bucket
       |  FROM scored WHERE cos >= CAST(-1.0 AS DOUBLE))
       |SELECT bucket, COUNT(*) AS n_pairs,
       |  CAST(bucket AS DOUBLE) / 20 AS cos_lo
       |FROM kept GROUP BY bucket""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("knn_topk", knnTopK, Some(knnTopKSql)),
    QueryDef("context_pack", contextPack, Some(contextPackSql)),
    QueryDef("embed_dim_stats", embedDimStats, Some(embedDimStatsSql)),
    QueryDef("cos_calibration", cosCalibration, Some(cosCalibrationSql)),
    QueryDef("embed_outliers", embedOutliers, Some(embedOutliersSql)),
    QueryDef("centroid_classify", centroidClassify, Some(centroidClassifySql)),
    QueryDef("linear_probe", linearProbe, Some(linearProbeSql)),
    QueryDef("probe_eval", probeEval, Some(probeEvalSql)),
    QueryDef("probe_topk", probeTopk, Some(probeTopkSql)),
    QueryDef("knn_classify", knnClassify, Some(knnClassifySql)),
    QueryDef("mmr_select", mmrSelect, Some(mmrSelectSql)),
    QueryDef("gram_matrix", gramMatrix, Some(gramMatrixSql)),
    QueryDef("pca_power", pcaPower, Some(pcaPowerSql)),
    QueryDef("pca_topk", pcaTopk, Some(pcaTopkSql)),
    QueryDef("whiten_check", whitenCheck, Some(whitenCheckSql)),
    QueryDef("whiten_gate", whitenGate(_, _), Some(whitenGateSql)),
    QueryDef("whiten_gate_force",
      whitenGate(_, _, WhitenForceThr),
      Some(whitenGateSqlFor(WhitenForceThr))),
    QueryDef("pca_project", pcaProject, Some(pcaProjectSql)),
    QueryDef("abtt_pairs", abttPairs, Some(abttPairsSql)),
    QueryDef("abtt_pairs_rp",
      (s, d) => graft.SharedStages.abttRpPairs(s, d), Some(abttPairsRpSql)),
    QueryDef("whiten_force_rp",
      whitenGateRp(_, _, WhitenForceThr),
      Some(whitenGateRpSqlFor(WhitenForceThr))),
    QueryDef("semdedup_prune", semdedupPrune, Some(semdedupPruneSql)),
    QueryDef("hard_negatives", hardNegatives, Some(hardNegativesSql)),
    QueryDef("embed_cosine_pairs", cosinePairs, Some(cosinePairsSql)),
    QueryDef("ann_rp_lsh", annRpLsh, Some(annRpLshSql)),
    QueryDef("lsh_density", lshDensity, Some(lshDensitySql)),
    QueryDef("lsh_width", lshWidth, Some(lshWidthSql)),
    QueryDef("ivf_assign", ivfAssign, Some(ivfAssignSql)),
    QueryDef("ann_cell_balance", annCellBalance, Some(annCellBalanceSql)),
    QueryDef("ivf_search", ivfSearch, Some(ivfSearchSql)),
    QueryDef("ann_recall", annRecall, Some(recallVsExactSql(ivfSearchSql))),
    QueryDef("ann_frontier", annFrontier, Some(annFrontierSql)),
    QueryDef("ivf_nprobe_gate", ivfNprobeGate, Some(ivfNprobeGateSql)),
    QueryDef("dedup_embed", dedupEmbed, Some(dedupEmbedSql)),
    QueryDef("pq_train", pqTrainDf, Some(pqTrainSql)),
    QueryDef("pq_assign", pqAssignDf, Some(pqAssignSql)),
    QueryDef("pq_search", pqSearchDf, Some(pqSearchSql)),
    QueryDef("pq_recall", pqRecall, Some(recallVsExactSql(pqSearchSql))),
    QueryDef("pq_refine", pqRefine, Some(pqRefineSql)),
    QueryDef("ivf_pq_search", ivfPqSearch, Some(ivfPqSearchSql)),
    QueryDef("cluster_purity", clusterPurity, Some(clusterPuritySql)))
}
