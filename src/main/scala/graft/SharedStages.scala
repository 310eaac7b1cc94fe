package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped materialized intermediates shared by query families.
  *
  * The MinHash signature pass (shingle → portable md5 hash → 16
  * min-hash aggregates, [[graft.dedup.MinHashLSH.signatures]]) is the
  * shared input of five reports: dedup_minhash_lsh,
  * dedup_ngram_jaccard, dedup_components, dup_cluster_sizes and
  * split_leakage. At 100 TB a pipeline materializes that pass ONCE as
  * an intermediate table and fans the reports out from it — recomputing
  * the corpus-wide hash pass per report would dominate every one of
  * them. Every stage here is the single-session rendering of such a
  * materialization: the first caller pays the build, later callers
  * reuse the result.
  *
  * One memo holds every stage, keyed by (session, dir, stage name).
  * A stage's value is one of four kinds:
  *   - a checkpointed DataFrame — localCheckpoint for output-bounded
  *     stages, [[reliableCheckpoint]] for corpus-proportional ones;
  *   - a corpus scalar ([[docCount]], [[embedCount]]), boxed;
  *   - a driver-side model trained once ([[gramUpper]], [[pcaTopK]],
  *     [[probe]], the BPE and unigram trainers);
  *   - an on-disk store ([[noveltyGramStore]]), whose directory is
  *     deleted when the memo drops it.
  *
  * Builds run OUTSIDE the map lock (see [[stage]]). Every build records
  * its OWN wall seconds in the build ledger: time spent building a
  * nested stage is charged to that stage, not to its caller.
  *
  * Two deliberate properties, learned from rounds 5/6:
  *   - Deterministic reuse. The previous discipline leaned on the
  *     session CacheManager matching structurally identical subtrees,
  *     which made per-query cost depend on which query happened to run
  *     first — and one caller's unpersist() silently dropped the entry
  *     everyone else was reusing (the round-6 bench saw a 5× swing on
  *     dup_cluster_sizes from exactly that).
  *   - Construction-time execution. Checkpoints are eager: the first
  *     `queries(...)` call for any family member executes the stage's
  *     jobs before returning the DataFrame. Callers that only want the
  *     plan/schema of a family query pay it too — acceptable for a
  *     materialized-intermediate seam, but worth knowing in plan tests.
  */
object SharedStages {
  private val memo =
    new ConcurrentHashMap[(SparkSession, String, String), AnyRef]()

  /** An on-disk stage's directory, deleted when the memo drops it. */
  private final case class Scratch(path: String)

  private def release(v: AnyRef): Unit = v match {
    case Scratch(p) => discardScratch(p)
    case _          => () // checkpointed blocks go when their RDDs are GC'd
  }

  // ------------------------------------------------ build-cost ledger
  // One-time stage builds are real pipeline cost that min-of-N warm
  // benching deliberately discards (the first sample pays it, the min
  // doesn't). Round 13's lmDocBits build was 16.2 s at sf0.1 — ~23% of
  // the warm registry total — and lived only in BENCH_NOTES prose,
  // invisible to an artifact diff. Every stage build therefore records
  // its own wall seconds here, keyed by (dir, stage), and graft.Bench
  // emits the map for its SF dir as `stage_build_sec` in
  // BENCH_DETAIL.json next to the warm numbers. Own seconds exclude
  // nested stage builds, so the entries add up to the wall time paid.
  // merge-accumulate: a stage rebuilt after clear() adds up (the honest
  // total paid in the JVM's lifetime).
  private val buildLedger = new ConcurrentHashMap[(String, String), Double]()

  private def recordBuild(dir: String, name: String, sec: Double): Unit =
    buildLedger.merge((dir, name), sec, (a, b) => Double.box(a + b))

  /** Nanoseconds this thread has spent in nested stage builds since the
    * enclosing build started. */
  private val nestedNanos = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Runs `build` and returns its value with its own nanoseconds: wall
    * time minus the nested stage builds it ran on this thread. */
  private def ownTimed[T](build: => T): (T, Long) = {
    val outer: Long = nestedNanos.get
    nestedNanos.set(0L)
    val t0 = System.nanoTime()
    try {
      val v = build
      (v, System.nanoTime() - t0 - nestedNanos.get)
    } finally nestedNanos.set(outer + (System.nanoTime() - t0))
  }

  // Row-count telemetry for stages whose footprint is NOT bounded by a
  // threshold (rpScored memoizes every bucket-collision pair because
  // cos_calibration consumes it unthresholded): the build ledger's
  // seconds say what a stage cost, this says how big it is — a skewed
  // bucket distribution surfacing as a huge checkpoint is observable in
  // the artifact (`stage_rows` in BENCH_DETAIL.json), not a guess.
  private val rowLedger = new ConcurrentHashMap[(String, String), Long]()

  private def recordRows(dir: String, name: String, rows: Long): Unit =
    rowLedger.put((dir, name), rows)

  /** Materialized row counts recorded by unbounded-footprint stages. */
  def stageRows(dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    rowLedger.asScala.collect { case ((d, n), r) if d == dir => n -> r }.toMap
  }

  /** Own wall-seconds of every one-time stage build paid for `dir` in
    * this JVM (stage name → seconds). Duplicate concurrent builds both
    * count — they were both paid. */
  def buildSeconds(dir: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildLedger.asScala.collect { case ((d, n), s) if d == dir => n -> s }.toMap
  }

  // NOT computeIfAbsent: stage builders call other stages (pairs →
  // cands → sigs), and a nested computeIfAbsent on the same
  // ConcurrentHashMap throws IllegalStateException("Recursive update")
  // whenever the keys land in the same bin — a hash-placement-dependent
  // failure that surfaced only when the key set grew. Build OUTSIDE the
  // map lock; a concurrent duplicate build is deterministic and merely
  // discarded by putIfAbsent (and released).
  private def stage[T <: AnyRef](s: SparkSession, dir: String, name: String)
                                (build: => T): T = {
    val key = (s, dir, name)
    val existing = memo.get(key)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val (built, own) = ownTimed(build)
      recordBuild(dir, name, own / 1e9)
      val prev = memo.putIfAbsent(key, built)
      if (prev == null) built else { release(built); prev.asInstanceOf[T] }
    }
  }

  // --------------------------------------------- reliable checkpoints
  // Corpus-proportional stages (gramOcc is one row per distinct
  // (doc, gram-hash), subWinPos one row per stride-1 window, lexPruned
  // one row per pruned posting) must NOT pin their blocks to executor
  // storage: localCheckpoint has no lineage fallback — an executor loss
  // kills every consumer, and memory pressure spills unpredictably
  // (guide §5). These stages go through a RELIABLE `.checkpoint()`
  // into a per-JVM checkpoint dir instead (on a cluster that dir is
  // durable storage — the materialized-intermediate-table contract;
  // here it lives under the session scratch root and is removed at JVM
  // exit). Output-bounded stages (one row per doc / per verified pair)
  // stay on localCheckpoint: their footprint is small by construction
  // and the memory-resident form is cheaper for their many consumers.
  private def reliableCheckpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    // idempotent: one checkpoint dir per JVM, under the scratch root
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(newScratchDir("ckpt"))
    // Bare checkpoint(), no cache layer on top: an A/B at sf1 measured
    // caching the checkpointed table (MEMORY_AND_DISK) at or below
    // break-even — the InMemoryRelation scan path costs about what the
    // checkpoint-file re-read costs, while reintroducing corpus-scale
    // storage-memory pressure. Multi-walk consumers (lex_df_gate reads
    // lexPruned five times) pay ~10-15% warm over the old
    // localCheckpoint at sf1, offset by the cheaper build (file write
    // vs eager block materialization: 6.9 s → 2.9-4.8 s) — the price of
    // removing the executor-pinned no-fallback blocks (BENCH_NOTES r20).
    df.checkpoint()
  }

  /** Materialized row count of `documents(dir)` — a corpus scalar
    * several adaptive-width gates derive from (simhash_pairs' band
    * ladder, mm_phash_pairs' tier, tfidf's N): one count job per
    * (session, dir) instead of one per consumer invocation. */
  def docCount(s: SparkSession, dir: String): Long =
    stage[java.lang.Long](s, dir, "docCount") {
      Long.box(Tables.documents(s, dir).count())
    }

  /** Materialized row count of `embeddings(dir)` (lsh_width's decision
    * input and [[rpBuckets]]' width gate). */
  def embedCount(s: SparkSession, dir: String): Long =
    stage[java.lang.Long](s, dir, "embedCount") {
      Long.box(Tables.embeddings(s, dir).count())
    }

  /** Materialized MinHash signatures of `documents(dir)`:
    * (doc_id, sh: distinct shingle hashes, sig: array[16]). */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "sigs") {
      graft.dedup.MinHashLSH
        .signatures(Tables.documents(s, dir), "doc_id", "text")
        .localCheckpoint()
    }

  /** Materialized LSH candidate pairs (a_id, b_id, est_sim) — the
    * band-bucket join output consumed directly by dedup_minhash_lsh and
    * dedup_containment and fed to the verify stage. ∝ true collisions,
    * so the checkpoint is small. */
  def candidatePairs(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "cands") {
      graft.dedup.MinHashLSH
        .candidatePairs(minhashSignatures(s, dir), "doc_id")
        .localCheckpoint()
    }

  /** Materialized verified near-dup pairs (a_id, b_id, jaccard) at the
    * family's canonical 0.5 threshold — the edge set shared by
    * dedup_ngram_jaccard, dedup_components, dup_cluster_sizes and
    * split_leakage. Tiny (∝ true duplicates), so the checkpoint is a
    * few KB; what it saves is the candidate join + shingle-set verify
    * re-running once per report. */
  def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "pairs05") {
      graft.dedup.MinHashLSH
        .verifiedPairs(candidatePairs(s, dir),
          minhashSignatures(s, dir), "doc_id",
          graft.dedup.MinHashLSH.VerifyThreshold)
        .localCheckpoint()
    }

  /** Materialized component labeling (id, root) of [[verifiedPairs]] —
    * the iterative min-label fixpoint runs once per session, not once
    * per report that consumes the clustering (dedup_components AND
    * dup_cluster_sizes both do). minLabel's final round is already a
    * localCheckpoint, so no extra materialization is needed. */
  def componentLabels(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "labels05") {
      graft.dedup.Components.minLabel(verifiedPairs(s, dir), "a_id", "b_id")
    }

  /** Materialized blocked cosine near-dup pairs over `embeddings(dir)`
    * (cell, a_id, b_id, cos) at the canonical 0.35 threshold — shared
    * by embed_cosine_pairs (the report) and dedup_embed (the
    * canonicalization over the same edges). */
  def embedPairs(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "embedPairs035") {
      graft.embed.Similarity
        .cosinePairsBlocked(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", 0.35)
        .localCheckpoint()
    }

  /** Component labeling of [[embedPairs]] (dedup_embed's clustering). */
  def embedLabels(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "embedLabels035") {
      graft.dedup.Components.minLabel(embedPairs(s, dir), "a_id", "b_id")
    }

  /** Lloyd-TRAINED IVF codebook (seed_id, sq, snq) over
    * `embeddings(dir)` — [[graft.embed.IvfTrain.trainedCentroids]],
    * trained once per (session, dir) and shared by every IVF consumer
    * (ivf_assign, ivf_search, ann_recall, ann_frontier). The result is
    * k×1 driver-local rows, so the memo holds the tiny table itself. */
  def ivfCentroids(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "ivfCentroids") {
      graft.embed.IvfTrain.trainedCentroids(
        graft.queries.EmbedQueries.quantizedCorpus(s, dir)).localCheckpoint()
    }

  /** Lloyd-TRAINED per-subspace PQ codebook (j, cid, csub) —
    * [[graft.embed.PqTrain.trainedCodebooks]], trained once per
    * (session, dir) and shared by every PQ consumer (pq_train,
    * pq_assign, pq_search, pq_refine, ivf_pq_search). M·K driver-local
    * rows. */
  def pqCodebook(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "pqCodebook") {
      graft.queries.EmbedQueries.buildPqCodebook(s, dir).localCheckpoint()
    }

  /** Banded SimHash Hamming≤3 near-dup pairs (a_id, b_id, hamming) —
    * consumed by the simhash_pairs report (ADAPTIVE width, the
    * BandLadder gate) AND the cascade funnel's third stage
    * (dedup_funnel — PINNED at the 16-bit production width, matching
    * its streaming twin StreamingCuration, whose standing band stores
    * fix the width as part of their layout). The memo is keyed by
    * tier, so below the ladder seam both consumers share one build. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashPairsAt(s, dir, graft.functions.BandLadder.bitsFor(
      docCount(s, dir)))

  def simhashPairsAt(s: SparkSession, dir: String, bandBits: Int): DataFrame =
    stage(s, dir, s"simPairs$bandBits") {
      graft.queries.DedupQueries.buildSimhashPairsAt(s, dir, bandBits)
        .localCheckpoint()
    }

  /** Winnowed fingerprint selection (winnow_fingerprint) — consumed by
    * the per-doc report AND the MOSS overlap pair join (winnow_pairs).
    * The gram-explode + rolling-min selection is the expensive pass;
    * its output is ~2/(w+1) of the gram stream. */
  def winnowFingerprints(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "winnow") {
      graft.queries.MiningQueries.winnowFingerprint(s, dir).localCheckpoint()
    }

  /** Per-doc DSIR importance report (dsir_importance) — consumed by the
    * standalone report AND the resampling draw (dsir_resample). One row
    * per doc; the corpus-wide bigram hash pass + lift build runs once. */
  def dsirScores(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "dsirScores") {
      graft.queries.CurationQueries.dsirReport(s, dir).localCheckpoint()
    }

  /** Materialized per-doc repetition report (rep_ngram) — consumed by
    * the standalone report AND the curation funnel. One row per doc. */
  def repNgramReport(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "repNgram") {
      graft.queries.FingerprintQueries.repNgram(s, dir).localCheckpoint()
    }

  /** Materialized per-doc corpus-LM rarity report (lm_rare_bigrams). */
  def lmRareReport(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "lmRare") {
      graft.queries.FingerprintQueries.lmRareBigrams(s, dir).localCheckpoint()
    }

  /** Materialized per-(doc, bigram) occurrence counts of
    * `documents(dir)` — the corpus tokenize + pair-explode pass, run
    * once per (session, dir); consumed by the LM build ([[lmDocBits]])
    * AND the incremental LM maintenance path (lm_incr), which batches
    * the reference slice of exactly this table into its count store. */
  def bigramCounts(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "bigramCounts") {
      graft.queries.TextQueries
        .bigramCountsOf(Tables.parallelize(Tables.documents(s, dir)))
        .localCheckpoint()
    }

  /** Materialized per-(doc, score) occurrence counts under the
    * reference bigram LM — the LM build + triple scoring over
    * [[bigramCounts]], run once per (session, dir); consumed by the
    * lm_ppl rollup ([[lmPplReport]]) and mink_prob's top-k% selection. */
  def lmDocBits(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "lmDocBits") {
      graft.queries.TextQueries.buildLmDocBits(s, dir).localCheckpoint()
    }

  /** Materialized exact brute-force top-5 neighbors of the 10 probe
    * queries (|Q|·k = 50 rows) — the ground-truth side shared by
    * knn_topk, context_pack, ann_recall, pq_recall and the ann_frontier
    * build; each previously re-ran the |Q|×n exact scoring pass. */
  def knnExact(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "knnExact") {
      graft.queries.EmbedQueries.buildKnnExact(s, dir).localCheckpoint()
    }

  /** Materialized IVF top-k search result (|Q|·k rows) — shared by the
    * ivf_search report and ann_recall's approximate side. */
  def ivfSearchTopK(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "ivfSearchTopK") {
      graft.queries.EmbedQueries.buildIvfSearch(s, dir).localCheckpoint()
    }

  /** Materialized PQ/ADC approximate-distance table (|Q|·(n−1) rows) —
    * shared by pq_search's top-k, pq_recall's approximate side and
    * pq_refine's shortlist stage. */
  def pqAdcDists(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "pqAdcDists") {
      graft.queries.EmbedQueries.buildPqDists(s, dir).localCheckpoint()
    }

  /** Materialized IVF recall/compute frontier (ann_frontier) —
    * consumed by the standalone report AND the nprobe decision gate
    * (ivf_nprobe_gate). 30 rows (3 sweep points × 10 queries); what it
    * saves is the sweep's candidate scoring re-running per consumer. */
  def annFrontier(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "annFrontier") {
      graft.queries.EmbedQueries.buildAnnFrontier(s, dir).localCheckpoint()
    }

  /** Materialized per-doc bigram-LM cross-entropy report (lm_ppl) —
    * consumed by the standalone report AND the quality_ensemble
    * composition (whose ppl gate is exactly this table's tercile). One
    * row per scored doc; a rollup of [[lmDocBits]]. */
  def lmPplReport(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "lmPpl") {
      graft.queries.TextQueries.buildLmPpl(s, dir).localCheckpoint()
    }

  /** Materialized corpus-wide DISTINCT (doc_id, h) n-gram occurrence
    * table, h-keyed — the one gram+hash pass of the novelty family,
    * shared by ngram_novelty (whole table: first-occurrence scoring),
    * the incremental probe side (odd ids — novelty_incr AND
    * novelty_probe each previously re-ran the pass per invocation) and
    * the prior-store build ([[priorGramSet]], even ids). At 100 TB the
    * corpus gram table is a maintained intermediate of the ingest
    * pipeline; this memo is its single-session rendering. The h
    * partitioning survives the checkpoint, so every consumer's
    * h-clustered aggregation/window reuses it exchange-free. */
  def gramOcc(s: SparkSession, dir: String, n: Int): DataFrame =
    stage(s, dir, s"gramOcc_$n") {
      import org.apache.spark.sql.functions.col
      // ∝ corpus tokens — reliable checkpoint, not executor-pinned
      reliableCheckpoint(graft.text.TextFunctions
        .ngramRows(Tables.parallelize(Tables.documents(s, dir)),
          "doc_id", "text", n)
        .select(col("doc_id"),
          graft.text.TextFunctions.portableHash(col("s")).as("h"))
        .repartition(col("h"))
        .distinct())
    }

  /** Materialized distinct prior-batch gram hashes (even doc_ids,
    * n-gram size n) — the shared input of the standing novelty store
    * build ([[noveltyGramStore]]) AND novelty_incr's per-run store
    * write. A projection of [[gramOcc]] (same gram pass; the even/odd
    * split is a filter over the shared table). novelty_incr still pays
    * the store WRITE each run (the honest incremental-ingest cost) —
    * only the corpus-wide hash pass is shared. */
  def priorGramSet(s: SparkSession, dir: String, n: Int): DataFrame =
    stage(s, dir, s"priorGrams_$n") {
      import org.apache.spark.sql.functions.col
      gramOcc(s, dir, n)
        .filter(col("doc_id") % 2 === 0)
        .select(col("h"))
        .distinct()
        .localCheckpoint()
    }

  /** Materialized df-annotated pruned trigram posting table
    * (doc_id, s, tf, df) at the WIDEST sweep cap (df ≤ 50) — the corpus
    * tf pass + term-keyed df window shared by lex_df_gate (consumes it
    * whole) and lex_cosine_pairs (its production pruned table is
    * exactly the df ≤ 25 subset: df is a pure function of the full tf
    * table, so filtering the widest materialization is bit-identical
    * to re-deriving at the narrower cap). */
  def lexPruned(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "lexPruned50") {
      // ∝ pruned postings (corpus-scale) — reliable checkpoint
      reliableCheckpoint(graft.queries.MiningQueries.buildLexPruned(s, dir))
    }

  /** Materialized RP-LSH bucket table (vec_id, t, bucket) at the gated
    * [[graft.embed.RpLsh.widthFor]] width — n·tables rows; the one
    * quantize + plane-dot pass shared by the candidate self-join
    * ([[rpCands]]), the occupancy report (lsh_density) and the
    * leave-one-out neighbor graph (knn_classify), each of which
    * previously re-ran the bucket pass (and its width-gating corpus
    * count) per invocation. */
  def rpBuckets(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "rpBuckets") {
      graft.embed.RpLsh
        .buckets(Tables.embeddings(s, dir), "vec_id", "embedding",
          embedCount(s, dir))
        .localCheckpoint()
    }

  /** Materialized distinct RP-LSH bucket-collision candidate pairs
    * (a_id, b_id) over `embeddings(dir)` at the gated
    * [[graft.embed.RpLsh.widthFor]] width — ONE bucket pass + self-join
    * shared by the raw-cosine scored table ([[rpScored]]) AND the
    * ABTT-residual twin ([[abttRpPairs]]): bucketing is always on the
    * raw vectors, so both metrics verify the same candidate set. */
  def rpCands(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "rpCands") {
      graft.embed.RpLsh
        .candPairsFrom(rpBuckets(s, dir), "vec_id")
        .localCheckpoint()
    }

  /** Materialized UNthresholded exact-cosine RP candidate scores
    * (a_id, b_id, cos) — every raw-metric annPairs consumer differs
    * only in its threshold (ann_rp_lsh 0.35, semdedup_prune 0.4,
    * cos_calibration −1.0, whiten gate raw branch 0.35), which is a
    * filter over these rows; each previously re-ran the bucket pass,
    * candidate self-join and scoring joins per invocation. */
  def rpScored(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "rpScored") {
      val out = graft.embed.RpLsh
        .annScoredFrom(rpCands(s, dir), Tables.embeddings(s, dir),
          "vec_id", "embedding")
        .localCheckpoint()
      // unbounded-footprint stage (cos_calibration consumes it
      // UNthresholded, so it holds every bucket-collision pair): record
      // its size so a skewed bucket distribution is observable in the
      // artifact — the checkpoint is already materialized, so this
      // count is a local-blocks scan, not a recompute
      recordRows(dir, "rpScored", out.count())
      out
    }

  /** Materialized ABTT-residual RP pair table (a_id, b_id, cos ≥ τ) —
    * consumed by the abtt_pairs_rp report AND whiten_force_rp's abtt
    * branch, each of which previously re-ran the residual projection +
    * candidate scoring per invocation. */
  def abttRpPairs(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "abttRpPairs") {
      graft.queries.EmbedQueries.buildAbttPairsRp(s, dir).localCheckpoint()
    }

  /** Materialized stride-1 window-hash position table (doc_id, pos, h)
    * at the substring-dedup width W = 8, h-keyed — the corpus gram+md5
    * pass shared by substr_scrub (position-level excision) and
    * substr_dup_gram (whose per-(h, doc) occurrence counts are a
    * rollup of the same rows). */
  def subWinPos(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "subWinPos8") {
      // one row per stride-1 window (∝ corpus tokens) — reliable
      // checkpoint, not executor-pinned
      reliableCheckpoint(
        graft.queries.FingerprintQueries.buildSubWinPos(s, dir))
    }

  /** Materialized per-doc Gopher rule report (doc_id, rule verdicts,
    * keep) — one row per doc; consumed by gopher_rules (the report),
    * quality_auc (the gate side of the AUC) and quality_ensemble (the
    * rule stage), each of which previously re-ran the map-only rule
    * pass per invocation. */
  def gopherReport(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "gopherReport") {
      graft.queries.TextQueries.buildGopherRules(s, dir).localCheckpoint()
    }

  /** Materialized per-doc language-ID report (doc_id, lang_label,
    * lang_pred, per-language scores) — consumed by lang_id,
    * lang_confusion and quality_ensemble. */
  def langIdReport(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "langIdReport") {
      graft.queries.TextQueries.buildLangId(s, dir).localCheckpoint()
    }

  /** Materialized per-doc BM25 report (doc_id, s_<term>…, score) — one
    * row per doc; consumed by bm25_topk (the top-10 report) AND
    * hybrid_rrf (the lexical arm of the rank fusion), each of which
    * previously re-ran the tokenize + scoring pass and its two driver
    * scalars (N, avgdl). */
  def bm25PerDoc(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "bm25PerDoc") {
      graft.queries.QualityQueries.buildBm25PerDoc(s, dir).localCheckpoint()
    }

  /** Materialized budget-independent packing prefix sum (source,
    * doc_id, n_tok, cum) — shared by pack_chunks, pack_mask and
    * pack_sweep (each previously rebuilt it and leaked the internal
    * persisted tokenize pass). One row per doc; the eager
    * localCheckpoint lets the builder release its persist immediately. */
  def packedCum(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "packedCum") {
      val (cum, cleanup) = graft.queries.CurationQueries.packedCumPlan(s, dir)
      val out = cum.localCheckpoint()
      cleanup()
      out
    }

  /** Collected upper-triangle Gram rows of `embeddings(dir)` —
    * d(d+1)/2 = 2 080 cells regardless of corpus size; shared by the
    * PCA component and the linear probe so the distributed aggregation
    * runs once. */
  def gramUpper(s: SparkSession, dir: String): Seq[(Int, Int, Long)] =
    stage(s, dir, "gramUpper") {
      graft.queries.EmbedQueries.gramMatrix(s, dir).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    }

  /** Top-[[graft.embed.PcaPower.NumComponents]] deflated components of
    * the fixed-point power iteration over [[gramUpper]]
    * ([[graft.embed.PcaPower]]) — shared by pca_power/pca_topk, the
    * k-component projection (pca_project) and the full-ABTT residual
    * pass (abtt_pairs). Driver work on the collected Gram. */
  def pcaTopK(s: SparkSession, dir: String): Seq[graft.embed.PcaPower.Component] =
    stage(s, dir, "pcaTopK") {
      graft.embed.PcaPower.powerK(gramUpper(s, dir),
        graft.embed.PcaPower.NumComponents)
    }

  /** The dominant component — head of [[pcaTopK]] (bit-identical to the
    * standalone top-1 power iteration). */
  def pcaComponent(s: SparkSession, dir: String): graft.embed.PcaPower.Component =
    pcaTopK(s, dir).head

  /** Ridge probe trained from the shared Gram + one Xᵀy aggregation
    * ([[graft.embed.ProbeTrain]]) — shared by the weight report
    * (linear_probe) and the scoring/accuracy report (probe_eval). */
  def probe(s: SparkSession, dir: String): graft.embed.ProbeTrain.Probe =
    stage(s, dir, "probe")(graft.queries.EmbedQueries.trainProbe(s, dir))

  /** The iterated BPE vocabulary ([[graft.text.BpeTrain]]) — one
    * corpus pass collects the gated word table, then NMerges
    * driver-side argmax rounds; shared by the merge-table report
    * (bpe_train), the learned-vocabulary report (bpe_tokenize), the
    * shallow unigram trainer's word table and tok_compare. */
  def bpeTrained(s: SparkSession, dir: String): graft.text.BpeTrain.Trained =
    stage(s, dir, "bpeTrained")(graft.text.BpeTrain.train(s, dir))

  /** The realistic-depth BPE trainer ([[graft.text.BpeDeep]]): one
    * distributed corpus pass builds the capped candidate table, then
    * DeepMerges driver-side argmax rounds of the same loop — shared by
    * bpe_train_deep and bpe_deep_encode. */
  def bpeDeepTrained(s: SparkSession, dir: String): graft.text.BpeTrain.Trained =
    stage(s, dir, "bpeDeepTrained")(graft.text.BpeDeep.train(s, dir))

  /** The EM-trained unigram tokenizer ([[graft.text.UnigramTrain]]) —
    * driver-side over the words of [[bpeTrained]]'s final table (no
    * corpus pass of its own), shared by unigram_train,
    * unigram_tokenize, tok_compare and encode_shards. */
  def unigramTrained(s: SparkSession, dir: String): graft.text.UnigramTrain.Trained =
    stage(s, dir, "unigramTrained")(graft.text.UnigramTrain.train(s, dir))

  /** The depth-matched EM-trained unigram tokenizer
    * ([[graft.text.UnigramDeep]]) — the same EM loop driver-side over
    * the capped chunk table [[bpeDeepTrained]] built (recovered from
    * its finalWords, so the corpus pass is paid once), shared by
    * unigram_train_deep / unigram_deep_encode / tok_deep_gate. */
  def unigramDeepTrained(s: SparkSession, dir: String): graft.text.UnigramTrain.Trained =
    stage(s, dir, "unigramDeepTrained")(graft.text.UnigramDeep.train(s, dir))

  // ------------------------------------------------- on-disk scratch
  // Per-JVM scratch root for query-internal stores (the BucketStore
  // gram store behind novelty_incr/novelty_probe). One root, removed on
  // JVM exit — repeated Verify/Bench invocations no longer leak parquet
  // stores in /tmp (each previously called createTempDirectory and
  // never deleted it).
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursive(p)))
    p
  }

  private def deleteRecursive(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => try java.nio.file.Files.delete(f)
        catch { case _: Throwable => () })
    }
  }

  /** A fresh scratch directory under the session root — removed with
    * the root at JVM exit; callers that finish with a store earlier can
    * [[discardScratch]] it immediately. */
  def newScratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  def discardScratch(dir: String): Unit =
    deleteRecursive(java.nio.file.Paths.get(dir))

  /** The STANDING prior-gram store of `documents(dir)` (even doc_ids'
    * distinct n-gram hashes in a hash-bucketed
    * [[graft.sink.BucketStore]]), built ONCE per (session, dir) — the
    * steady-state form of an ingest loop's membership store. The
    * bootstrap build cost is paid by the first caller; every later
    * probe (novelty_probe) reads only the buckets its batch touches.
    * At 100 TB this is a persistent table maintained by the ingest
    * pipeline; the memo is its single-session rendering. */
  def noveltyGramStore(s: SparkSession, dir: String,
                       n: Int, numBuckets: Int): String =
    stage(s, dir, s"noveltyGramStore_${n}_$numBuckets") {
      val path = newScratchDir("novelty_store")
      graft.sink.BucketStore.upsert(s, priorGramSet(s, dir, n), path,
        Seq("h"), numBuckets)
      Scratch(path)
    }.path

  /** Drop every memoized stage (end of a batch run / test isolation). */
  def clear(): Unit =
    memo.keySet().forEach(k => Option(memo.remove(k)).foreach(release))
}
