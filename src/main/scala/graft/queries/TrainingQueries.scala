package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.{Components, MinHashLSH}
import graft.embed.Similarity
import graft.text.TextFunctions._

/** Round-5 training-pipeline composition operators: cross-split leakage
  * audit, a k-means Lloyd step, temperature-scaled mixture weights, and
  * the duplicate-cluster size report. Each composes existing primitives
  * (MinHash verify, quantized embeddings, portable hash splits) into the
  * decision reports / iterative steps an actual training run executes.
  */
object TrainingQueries {

  // ------------------------------------------------------- split_leakage
  // Train/test contamination audit: verified near-dup pairs (the
  // dedup_components edge set) crossed with the deterministic
  // split_assign hash — reported as pair counts per (split_a, split_b)
  // cell. Off-diagonal cells are LEAKED evaluation data; this is the
  // audit a training run must pass before the eval numbers mean
  // anything. Plan: the pair set (post-LSH, tiny relative to corpus) is
  // broadcast against the map-only split assignment — no extra shuffle
  // of the corpus at 100 TB.
  private def splitOf(idCol: String) = {
    val bucket = pmod(portableHash(concat(lit("split"),
      col(idCol).cast("string"))), lit(100))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  private def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val pairs = graft.SharedStages.verifiedPairs(s, d)
    pairs
      .withColumn("split_a", splitOf("a_id"))
      .withColumn("split_b", splitOf("b_id"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("a_id")).as("example_a"))
  }

  private val splitLeakageSql = {
    def splitSql(c: String) = {
      val bucket = s"${portableHashSql(s"concat('split', CAST($c AS VARCHAR))")} % 100"
      s"CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val' ELSE 'test' END"
    }
    s"""WITH ${MinHashLSH.duckdbSignatureCte},
       |${MinHashLSH.duckdbCandidateCte},
       |${MinHashLSH.duckdbVerifiedCte}
       |SELECT ${splitSql("a_id")} AS split_a,
       |  ${splitSql("b_id")} AS split_b,
       |  COUNT(*) AS n_pairs, MIN(a_id) AS example_a
       |FROM verified
       |GROUP BY 1, 2""".stripMargin
  }

  // ----------------------------------------------------- dup_source_matrix
  // Near-dup PROVENANCE matrix: verified pairs labeled with the source
  // of each side, reported per unordered (source_a, source_b) cell —
  // the report that localizes duplication to a crawl pair (diagonal =
  // within-source boilerplate, off-diagonal = cross-source mirroring)
  // and decides which ingest to de-prioritize. The unordered cell is
  // canonicalized with least/greatest on the source strings (binary
  // comparison — identical in both engines). Scale shape: the pair set
  // is post-LSH tiny; at 100 TB the doc→source join runs with the pair
  // ids broadcast against the corpus (AQE picks this up from the
  // runtime pair count), never the reverse.
  private def dupSourceMatrix(s: SparkSession, d: String): DataFrame = {
    val pairs = graft.SharedStages.verifiedPairs(s, d)
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
      .withColumn("source_a", least(col("sa"), col("sb")))
      .withColumn("source_b", greatest(col("sa"), col("sb")))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), min(col("a_id")).as("example_a"))
  }

  private val dupSourceMatrixSql =
    s"""WITH ${MinHashLSH.duckdbSignatureCte},
       |${MinHashLSH.duckdbCandidateCte},
       |${MinHashLSH.duckdbVerifiedCte},
       |lab AS (
       |  SELECT v.a_id,
       |    LEAST(da.source, db.source) AS source_a,
       |    GREATEST(da.source, db.source) AS source_b
       |  FROM verified v
       |  JOIN documents da ON da.doc_id = v.a_id
       |  JOIN documents db ON db.doc_id = v.b_id)
       |SELECT source_a, source_b, COUNT(*) AS n_pairs,
       |  MIN(a_id) AS example_a
       |FROM lab GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------- kmeans_step
  // One Lloyd iteration over the quantized embeddings: assign every
  // vector to its nearest of the 8 seed centroids (ivf_assign's
  // data-derived seeds, broadcast — assignment is map-only), then
  // recompute each centroid as the member mean, per dimension. All
  // accumulation is exact 64-bit integer (quantized components sum
  // associatively — order-free, engine-identical); the mean emerges as
  // two IEEE divisions at the end. Plan shape at 100 TB: broadcast
  // seeds + map-only assign + ONE shuffle on (cell, dim) with map-side
  // partial sums — the canonical distributed k-means step. Iterating =
  // feeding these centroids back as the next seeds.
  private val KmSeeds = 8

  private def kmeansStep(s: SparkSession, d: String): DataFrame = {
    val qd = EmbedQueries.quantizedCorpus(s, d)
    // true k lowest ids (not `vec_id < k`) — robust to sparse/offset id
    // spaces, mirrored exactly in the oracle's ORDER BY … LIMIT
    val seeds = qd.orderBy(col("vec_id")).limit(KmSeeds)
      .select(col("vec_id").as("seed_id"), col("q").as("sq"), col("nq").as("snq"))
    val assigned = graft.embed.IvfTrain.cellRank(qd, seeds) // 8 seed rows
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("seed_id").as("cell"), col("q"))
    assigned
      .select(col("cell"), posexplode(col("q")).as(Seq("dim", "qc")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(col("qc")).as("sq_sum"), count(lit(1)).as("n_members"))
      .withColumn("centroid",
        (col("sq_sum").cast("double") / col("n_members")) /
          lit(Similarity.Scale.toDouble))
      .select(col("cell"), col("dim").cast("long").as("dim"),
        col("n_members"), col("centroid"))
  }

  private val kmeansStepSql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |seeds AS (
       |  SELECT vec_id AS seed_id, q AS sq, nq AS snq FROM qv
       |  ORDER BY vec_id LIMIT $KmSeeds),
       |${graft.embed.IvfTrain.duckdbAssignCte},
       |comps AS (
       |  -- constant 64-dim range: DuckDB's range() cannot take a lateral
       |  -- column argument; the embeddings table is fixed 64-dim
       |  SELECT a.cell, CAST(t.i - 1 AS BIGINT) AS dim,
       |    a.q[CAST(t.i AS INT)] AS qc
       |  FROM assign a, range(1, 65) t(i))
       |SELECT cell, dim,
       |  COUNT(*) AS n_members,
       |  (CAST(CAST(SUM(qc) AS BIGINT) AS DOUBLE) / COUNT(*))
       |    / CAST(${Similarity.Scale} AS DOUBLE) AS centroid
       |FROM comps
       |GROUP BY 1, 2""".stripMargin

  // ----------------------------------------------------- mix_temperature
  // Temperature-scaled mixture weights per language stratum —
  // w = n^(1/2), the standard up-weighting of low-resource strata in
  // multilingual training mixes. The exponent is deliberately 1/2:
  // IEEE sqrt is correctly rounded in every engine where libm pow/log
  // need not be (the same determinism policy as tfidf's rational idf).
  // Normalization is AGAINST THE LARGEST STRATUM (w / max w) — a
  // selection plus one division, exact — rather than the sum-normalized
  // share, whose double accumulation order is partition-dependent.
  private def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val byLang = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", sqrt(col("n_docs").cast("double")))
    val wmax = byLang.agg(max(col("w")).as("w_max"))
    byLang.crossJoin(broadcast(wmax)) // 1-row broadcast scalar
      .withColumn("ratio", col("w") / col("w_max"))
      .select(col("lang"), col("n_docs"), col("w"), col("ratio"))
  }

  private val mixTemperatureSql =
    """WITH byl AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    sqrt(CAST(COUNT(*) AS DOUBLE)) AS w
      |  FROM documents GROUP BY 1),
      |m AS (SELECT MAX(w) AS w_max FROM byl)
      |SELECT lang, n_docs, w, w / w_max AS ratio
      |FROM byl CROSS JOIN m""".stripMargin

  // -------------------------------------------------- mix_dedup_weights
  // Dedup-AWARE mixture weights per source: a source's sampling weight
  // follows its UNIQUE token mass, not its raw size — the correction
  // every multi-source mix applies so a corpus that is 40% internal
  // boilerplate doesn't buy 40% more sampling probability with
  // duplicated bytes (dup_inflation measures the inflation; this is
  // the act). Effective tokens = total − tokens held by exact-dup
  // LOSERS (the keep-first discipline of dedup_exact, same md5
  // fingerprint, keeper = min doc_id). Unlike mix_temperature's
  // sqrt-vs-max form, the share here normalizes against the SUM —
  // safe, because the sum is over exact integer token counts, not
  // doubles. One fp-partitioned window + one source rollup.
  private def mixDedupWeights(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), col("source"),
        md5(lower(trim(col("text")))).as("fp"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("fp"))
    val per = docs.withColumn("keeper", min(col("doc_id")).over(w))
      .withColumn("dup_tok",
        when(col("doc_id") =!= col("keeper"), col("n_tok")).otherwise(lit(0L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok_total"),
        sum(col("dup_tok")).as("tok_dup"))
      .withColumn("tok_eff", col("tok_total") - col("tok_dup"))
    val tot = per.agg(sum(col("tok_eff")).as("eff_total"))
    per.crossJoin(broadcast(tot)) // 1-row exact-integer total
      .withColumn("weight",
        col("tok_eff").cast("double") / col("eff_total").cast("double"))
      .select(col("source"), col("n_docs"), col("tok_total"),
        col("tok_dup"), col("tok_eff"), col("weight"))
  }

  private def mixDedupWeightsSql = {
    val toks = tokensSql("text")
    s"""WITH dtk AS (
       |  SELECT doc_id, source, md5(lower(trim(text))) AS fp,
       |    CAST(len($toks) AS BIGINT) AS n_tok
       |  FROM documents),
       |flag AS (
       |  SELECT source, doc_id, n_tok,
       |    MIN(doc_id) OVER (PARTITION BY fp) AS keeper
       |  FROM dtk),
       |per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS tok_total,
       |    CAST(SUM(CASE WHEN doc_id <> keeper THEN n_tok ELSE 0 END)
       |      AS BIGINT) AS tok_dup
       |  FROM flag GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(tok_total - tok_dup) AS BIGINT) AS eff_total
       |  FROM per)
       |SELECT source, n_docs, tok_total, tok_dup,
       |  tok_total - tok_dup AS tok_eff,
       |  CAST(tok_total - tok_dup AS DOUBLE) / CAST(eff_total AS DOUBLE)
       |    AS weight
       |FROM per CROSS JOIN tot""".stripMargin
  }

  // --------------------------------------------------- dup_cluster_sizes
  // The duplicate-cluster size histogram: near-dup components → cluster
  // sizes → (cluster_size, n_clusters) — the report that tells a
  // curation run whether duplication is pairwise noise or giant
  // boilerplate clusters (the long tail decides between keep-one and
  // drop-all policies). Composes the dedup_components labeling with two
  // aggregations; cluster count per size is tiny, everything upstream
  // is the bucketed LSH path.
  private def dupClusterSizes(s: SparkSession, d: String): DataFrame =
    // same session-shared clustering as dedup_components — only the two
    // tiny rollup aggregations are per-report work
    graft.SharedStages.componentLabels(s, d)
      .groupBy(col("root")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

  private val dupClusterSizesSql =
    s"""WITH RECURSIVE ${MinHashLSH.duckdbSignatureCte},
       |${MinHashLSH.duckdbCandidateCte},
       |${MinHashLSH.duckdbVerifiedCte},
       |${Components.duckdbClosureCte("verified")},
       |clusters AS (
       |  SELECT root, COUNT(*) AS cluster_size FROM labeled GROUP BY root)
       |SELECT cluster_size, COUNT(*) AS n_clusters
       |FROM clusters GROUP BY cluster_size""".stripMargin

  // -------------------------------------------------------- chunk_stride
  // Sliding-window chunking with overlap — the chunk layout RAG and
  // long-context pretraining actually use (pack_chunks is the
  // no-overlap packing twin): window 128 tokens, stride 96 (32-token
  // overlap). Chunk count and boundaries are pure integer arithmetic on
  // the per-doc token count — ceil((n−W)/S)+1 windows cover every
  // token; the tail chunk clamps to the document end. Map-only: one
  // tokenize pass, a bounded sequence() explode, no shuffle at all.
  private val ChunkW = 128
  private val ChunkS = 96

  private def chunkStride(s: SparkSession, d: String): DataFrame =
    Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("n_chunks",
        when(col("n_tok") <= ChunkW, lit(1L))
          .otherwise(expr(s"((n_tok - $ChunkW + $ChunkS - 1) DIV $ChunkS) + 1")))
      .withColumn("chunk_idx", explode(expr("sequence(0L, n_chunks - 1)")))
      .withColumn("start_tok", col("chunk_idx") * ChunkS)
      .withColumn("chunk_len",
        least(lit(ChunkW.toLong), col("n_tok") - col("start_tok")))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("chunk_len"), col("n_tok"))

  private val chunkStrideSql = {
    val toks = tokensSql("text")
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tok FROM documents),
       |c AS (
       |  SELECT doc_id, n_tok,
       |    CASE WHEN n_tok <= $ChunkW THEN 1
       |         ELSE CAST(((n_tok - $ChunkW + $ChunkS - 1) // $ChunkS) + 1 AS BIGINT)
       |    END AS n_chunks
       |  FROM t WHERE n_tok > 0),
       |x AS (
       |  SELECT doc_id, n_tok, CAST(u.i AS BIGINT) AS chunk_idx
       |  FROM c, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) u)
       |SELECT doc_id, chunk_idx,
       |  chunk_idx * $ChunkS AS start_tok,
       |  LEAST($ChunkW, n_tok - chunk_idx * $ChunkS) AS chunk_len,
       |  n_tok
       |FROM x""".stripMargin
  }

  // ------------------------------------------------------------ oov_rate
  // Out-of-vocabulary rate against the corpus-derived top-100 vocabulary
  // (vocab_topk's selection: count desc, term asc — total order in both
  // engines). The pretraining cost metric: how much of each document a
  // fixed vocabulary fails to cover. Plan: one tokenize pass, tiny
  // vocabulary broadcast, one per-doc aggregation; the rate is a single
  // IEEE division of exact integers.
  private val OovVocab = 100

  private def oovRate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tok = Tables.parallelize(docs)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term")).limit(OovVocab)
      .select(col("term"), lit(1L).as("inv"))
    val per = tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(coalesce(col("inv"), lit(0L))).as("n_invocab"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tokens"),
        coalesce(col("n_invocab"), lit(0L)).as("n_invocab"),
        when(col("n_tok") > 0,
          (col("n_tok") - col("n_invocab")).cast("double") / col("n_tok"))
          .as("oov_rate"))
  }

  private val oovRateSql = {
    val toks = tokensSql("text")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toks) AS term FROM documents),
       |cnt AS (
       |  SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
       |vocab AS (
       |  SELECT term FROM (
       |    SELECT term, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rn
       |    FROM cnt)
       |  WHERE rn <= $OovVocab),
       |per AS (
       |  SELECT t.doc_id, COUNT(*) AS n_tok,
       |    CAST(SUM(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_inv
       |  FROM tok t LEFT JOIN vocab v ON t.term = v.term
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(p.n_tok, 0) AS n_tokens,
       |  COALESCE(p.n_inv, 0) AS n_invocab,
       |  CASE WHEN p.n_tok > 0 THEN
       |    CAST(p.n_tok - p.n_inv AS DOUBLE) / p.n_tok END AS oov_rate
       |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id""".stripMargin
  }

  // ---------------------------------------------------------- quant_int8
  // Int8-style embedding quantization report — the STORAGE scale path
  // (PQ bounds bytes via codebooks; int8 bounds them via per-vector
  // affine codes): per vector, scale = max|component| (in the 2^20
  // quantized integer domain), code_i = (q_i · 127) div scale ∈
  // [−127, 127]. Everything is exact 64-bit integer arithmetic — no
  // per-element float ops, no interpreted HOF lambdas: the per-element
  // work runs relationally (posexplode → join the per-vector scale →
  // integer expressions → one rollup), which is also the shape that
  // scales (map-only + one keyed aggregation). The report carries the
  // saturation count, the code energy Σcode², and the exact integer
  // reconstruction error Σ(q − deq)² — the quantization-quality gate an
  // embedding store runs before switching to int8 serving.
  private def quantInt8(s: SparkSession, d: String): DataFrame = {
    val qd = Similarity.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
      .select(col("vec_id"), col("q"))
      // greatest(max, -min) = max|component| without a transform() HOF
      .withColumn("scale_q",
        greatest(expr("array_max(q)"), -expr("array_min(q)")))
      .filter(col("scale_q") > 0)
    qd.select(col("vec_id"), col("scale_q"),
        posexplode(col("q")).as(Seq("dim", "qc")))
      .withColumn("code", expr("(qc * 127) DIV scale_q"))
      .withColumn("deq", expr("(code * scale_q) DIV 127"))
      .groupBy(col("vec_id"), col("scale_q"))
      .agg(
        sum(when(abs(col("code")) === 127, 1L).otherwise(0L)).as("n_sat"),
        sum(col("code") * col("code")).as("code_energy"),
        sum((col("qc") - col("deq")) * (col("qc") - col("deq"))).as("err2"))
  }

  private val quantInt8Sql =
    s"""WITH ${Similarity.duckdbQuantizedCte},
       |sc AS (
       |  SELECT vec_id, q,
       |    GREATEST(list_max(q), -list_min(q)) AS scale_q
       |  FROM qv WHERE GREATEST(list_max(q), -list_min(q)) > 0),
       |comps AS (
       |  -- constant 64-dim range (DuckDB range() takes no lateral args)
       |  SELECT vec_id, scale_q, q[CAST(t.i AS INT)] AS qc
       |  FROM sc, range(1, 65) t(i)),
       |coded AS (
       |  SELECT vec_id, scale_q, qc,
       |    (qc * 127) // scale_q AS code
       |  FROM comps)
       |SELECT vec_id, scale_q,
       |  CAST(SUM(CASE WHEN abs(code) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat,
       |  CAST(SUM(code * code) AS BIGINT) AS code_energy,
       |  CAST(SUM((qc - (code * scale_q) // 127) * (qc - (code * scale_q) // 127))
       |    AS BIGINT) AS err2
       |FROM coded
       |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------- vocab_drift
  // Distribution-shift monitor: χ² contributions of the top-50 vocabulary
  // between the train split and the heldout (val+test) splits — the
  // check a pipeline runs when a new ingest batch lands ("did the word
  // distribution move?"). Counts are exact integers end to end; the
  // per-term expected value and χ² contribution are a fixed chain of
  // IEEE double operations mirrored shape-for-shape in the oracle (no
  // float SUM anywhere — the statistic is reported per term, which is
  // also what an alerting rule consumes). One tokenize pass, a 50-row
  // vocabulary, a 1-row totals broadcast.
  private val DriftVocab = 50

  private def vocabDrift(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.parallelize(Tables.documents(s, d))
      .withColumn("is_train", splitOf("doc_id") === "train")
      .select(col("doc_id"), col("is_train"),
        explode(tokens(col("text"))).as("term"))
    val cnt = tok.groupBy(col("term")).agg(
      sum(when(col("is_train"), 1L).otherwise(0L)).as("a"),
      sum(when(col("is_train"), 0L).otherwise(1L)).as("b"))
    val vocab = cnt.withColumn("tot", col("a") + col("b"))
      .orderBy(col("tot").desc, col("term")).limit(DriftVocab)
    val totals = vocab.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    val share = (col("a") + col("b")).cast("double") /
      (col("ta") + col("tb")).cast("double")
    val e = col("ta").cast("double") * share
    val f = col("tb").cast("double") * share
    vocab.crossJoin(broadcast(totals)) // 1-row totals broadcast
      .withColumn("e", e)
      .withColumn("chi2_term",
        (col("a").cast("double") - col("e")) *
          (col("a").cast("double") - col("e")) / col("e") +
          (col("b").cast("double") - f) *
          (col("b").cast("double") - f) / f)
      .select(col("term"), col("a"), col("b"), col("e"), col("chi2_term"))
  }

  private val vocabDriftSql = {
    val toks = tokensSql("text")
    val split = {
      val bucket = s"${portableHashSql("concat('split', CAST(doc_id AS VARCHAR))")} % 100"
      s"($bucket < 80)"
    }
    s"""WITH tok AS (
       |  SELECT doc_id, $split AS is_train, unnest($toks) AS term
       |  FROM documents),
       |cnt AS (
       |  SELECT term,
       |    CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT) AS b
       |  FROM tok GROUP BY 1),
       |vocab AS (
       |  SELECT term, a, b FROM cnt
       |  ORDER BY a + b DESC, term LIMIT $DriftVocab),
       |totals AS (
       |  SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
       |  FROM vocab),
       |scored AS (
       |  SELECT term, a, b,
       |    CAST(ta AS DOUBLE) *
       |      (CAST(a + b AS DOUBLE) / CAST(ta + tb AS DOUBLE)) AS e,
       |    CAST(tb AS DOUBLE) *
       |      (CAST(a + b AS DOUBLE) / CAST(ta + tb AS DOUBLE)) AS f
       |  FROM vocab CROSS JOIN totals)
       |SELECT term, a, b, e,
       |  (CAST(a AS DOUBLE) - e) * (CAST(a AS DOUBLE) - e) / e +
       |  (CAST(b AS DOUBLE) - f) * (CAST(b AS DOUBLE) - f) / f AS chi2_term
       |FROM scored""".stripMargin
  }

  // --------------------------------------------------------- len_buckets
  // Sequence-length bucketing report — the batch-shape planning step of
  // a training run: docs bucket to the smallest rung in {16,32,64,128}
  // that holds their token count (a CASE ladder, NOT ceil(log2(n)) —
  // float log at exact powers of two differs between libm
  // implementations, the ladder is integer-exact everywhere), and each
  // bucket reports docs, real tokens, padded tokens at the rung length,
  // and the padding-waste fraction. This is how one chooses bucket
  // boundaries so dynamic batching wastes the least compute. Map-only
  // expansion + one tiny groupBy on the rung.
  private val LenRungs = Seq(16L, 32L, 64L, 128L)

  private def lenBuckets(s: SparkSession, d: String): DataFrame = {
    val rungCase = LenRungs.init.foldRight(lit(LenRungs.last)) {
      case (r, rest) => when(col("n_tok") <= r, lit(r)).otherwise(rest)
    }
    Tables.documents(s, d)
      .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
      .filter(col("n_tok") > 0)
      .withColumn("bucket", rungCase)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("real_tokens"))
      .withColumn("padded_tokens", col("bucket") * col("n_docs"))
      .withColumn("waste",
        lit(1.0) - col("real_tokens").cast("double") / col("padded_tokens"))
  }

  private def lenBucketsSql = {
    val toks = tokensSql("text")
    val rungCase = LenRungs.init
      .map(r => s"WHEN n_tok <= $r THEN CAST($r AS BIGINT)")
      .mkString("CASE ", " ", s" ELSE CAST(${LenRungs.last} AS BIGINT) END")
    s"""WITH t AS (
       |  SELECT CAST(len($toks) AS BIGINT) AS n_tok FROM documents),
       |b AS (
       |  SELECT $rungCase AS bucket, n_tok FROM t WHERE n_tok > 0),
       |g AS (
       |  SELECT bucket, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS real_tokens
       |  FROM b GROUP BY 1)
       |SELECT bucket, n_docs, real_tokens,
       |  bucket * n_docs AS padded_tokens,
       |  CAST(1 AS DOUBLE) - CAST(real_tokens AS DOUBLE) / (bucket * n_docs)
       |    AS waste
       |FROM g""".stripMargin
  }

  // ------------------------------------------------------- dup_inflation
  // Token-weighted duplication inflation per source — dedup ROI
  // pricing: the cluster reports count duplicate DOCUMENTS, but what a
  // training run pays for is duplicate TOKENS. A doc survives near-dedup
  // iff it is its cluster's canonical keeper (component min id from the
  // shared verified-pair clustering) or belongs to no cluster; per
  // source the report prices total tokens, surviving tokens, and the
  // inflation factor total/kept — the compute multiplier duplicated
  // text imposes on that ingest. Plan: the component label set is tiny
  // (∝ docs in dup clusters) and BROADCAST against the corpus scan; one
  // map-side token count, one rollup over the handful of sources — the
  // corpus is never shuffled.
  private def dupInflation(s: SparkSession, d: String): DataFrame = {
    val labels = graft.SharedStages.componentLabels(s, d)
      .select(col("id").as("doc_id"), col("root"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .join(broadcast(labels), Seq("doc_id"), "left")
      .withColumn("kept", col("root").isNull || col("root") === col("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("tokens_kept"))
      .withColumn("inflation",
        when(col("tokens_kept") === 0, lit(null).cast("double"))
          .otherwise(col("tokens_total").cast("double") / col("tokens_kept")))
  }

  private val dupInflationSql =
    s"""WITH RECURSIVE ${MinHashLSH.duckdbSignatureCte},
       |${MinHashLSH.duckdbCandidateCte},
       |${MinHashLSH.duckdbVerifiedCte},
       |${Components.duckdbClosureCte("verified")},
       |t AS (
       |  SELECT d.doc_id, d.source, CAST(len(k.toks) AS BIGINT) AS n_tok
       |  FROM documents d JOIN tok k ON d.doc_id = k.doc_id),
       |j AS (
       |  SELECT t.source, t.n_tok,
       |    (l.root IS NULL OR l.root = t.doc_id) AS kept
       |  FROM t LEFT JOIN labeled l ON t.doc_id = l.id),
       |g AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
       |    CAST(SUM(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT)
       |      AS tokens_kept
       |  FROM j GROUP BY 1)
       |SELECT source, n_docs, n_kept, tokens_total, tokens_kept,
       |  CASE WHEN tokens_kept = 0 THEN NULL
       |       ELSE CAST(tokens_total AS DOUBLE) / tokens_kept END AS inflation
       |FROM g""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("split_leakage", splitLeakage, Some(splitLeakageSql)),
    QueryDef("quant_int8", quantInt8, Some(quantInt8Sql)),
    QueryDef("vocab_drift", vocabDrift, Some(vocabDriftSql)),
    QueryDef("kmeans_step", kmeansStep, Some(kmeansStepSql)),
    QueryDef("mix_temperature", mixTemperature, Some(mixTemperatureSql)),
    QueryDef("mix_dedup_weights", mixDedupWeights, Some(mixDedupWeightsSql)),
    QueryDef("dup_cluster_sizes", dupClusterSizes, Some(dupClusterSizesSql)),
    QueryDef("dup_source_matrix", dupSourceMatrix, Some(dupSourceMatrixSql)),
    QueryDef("chunk_stride", chunkStride, Some(chunkStrideSql)),
    QueryDef("oov_rate", oovRate, Some(oovRateSql)),
    QueryDef("len_buckets", lenBuckets, Some(lenBucketsSql)),
    QueryDef("dup_inflation", dupInflation, Some(dupInflationSql)))
}
