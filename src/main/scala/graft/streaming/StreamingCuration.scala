package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.dedup.{MinHashLSH, SimHash}
import graft.functions.BandLadder
import graft.sink.BucketStore
import graft.text.TextFunctions.tokens

/** The composed ingest-time curation funnel — every batch stage of the
  * production cascade (quality gate → exact hash → MinHash-verified
  * Jaccard → SimHash Hamming, cheapest-first) deployed against a
  * STREAM of arriving documents, with per-source keep/drop counts that
  * match the batch `dedup_funnel` semantics on the same corpus.
  *
  * Architecture: `foreachBatch` + standing [[BucketStore]]s — the
  * repo's incremental-ingest idiom (the novelty_incr / BucketStore
  * seam), NOT a chain of five stateful streaming operators. The funnel
  * needs state keyed four different ways (content fingerprint, LSH
  * band bucket, doc id, SimHash band); Spark's multiple-stateful-
  * operator support does not cover transformWithState chains
  * interleaved with re-keyed per-doc merges, and the per-stage
  * streaming twins ([[graft.dedup.StreamingDedup]],
  * [[graft.dedup.StreamingNearDup]]) already cover the pure-streaming
  * single-stage shapes. Here each micro-batch runs the IDENTICAL batch
  * stage logic (same signatures, same banding, same verified-Jaccard
  * rule) against the stores, so streaming ≡ batch holds by
  * construction — StreamingCurationSpec pins it across micro-batches
  * with a checkpoint restart in the middle.
  *
  * Semantics (the dedup_funnel rules, restated for arrival order):
  *   - stage 1: a doc is an exact dup iff a SMALLER-id doc with the
  *     same normalized fingerprint exists (in-batch or stored);
  *   - stage 2: an exact-survivor is a near-dup iff it has a
  *     smaller-id exact-SURVIVOR partner with verified n-gram
  *     Jaccard ≥ 0.5 over LSH band-bucket candidates (partners that
  *     were themselves near-dup-removed still count — the documented
  *     non-transitive keep-first greedy);
  *   - stage 3: a stage-2 survivor is a SimHash dup iff it has a
  *     smaller-id stage-2-survivor partner within Hamming ≤ 3 over
  *     16-bit-band collisions.
  * When documents are streamed in doc_id order the cumulative result
  * equals the batch funnel's global smaller-id rule exactly.
  *
  * Restart-safety: foreachBatch replays an uncommitted batch after a
  * crash. Every store probe filters `stored_id < doc_id`, so a replayed
  * doc never matches its own (already-upserted) store entries, and
  * upserts are replace-on-key — the replay writes the same rows. Flag
  * output lands in one overwritten directory per batch id (the
  * standard idempotent foreachBatch sink pattern).
  *
  * Scale: per batch, cost is O(batch + touched store buckets) — probes
  * read only the buckets the batch's keys hash into; no pass ever
  * reads a whole store. The stores themselves grow with the corpus
  * (they ARE the corpus index the batch layer maintains anyway); at
  * 100 TB they are MERGE-capable tables, same call shape.
  */
object StreamingCuration {

  val JaccardTau = 0.5
  val NumBuckets = 32
  private val SimBandBits = SimHash.Bits / BandLadder.Bands

  private def fpPath(root: String) = s"$root/fp"
  private def bandPath(root: String) = s"$root/band"
  private def shPath(root: String) = s"$root/sh"
  private def simPath(root: String) = s"$root/sim"

  /** (fp, doc_id): the exact-stage store, shared with
    * [[StreamingMediaDedup]]'s digest store. */
  private[streaming] val fpSchema = StructType(Seq(
    StructField("fp", StringType), StructField("doc_id", LongType)))
  private val bandSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bucket", StringType),
    StructField("doc_id", LongType)))
  private val shSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sh", ArrayType(LongType))))
  private val simSchema = StructType(Seq(
    StructField("b", IntegerType), StructField("v", LongType),
    StructField("doc_id", LongType), StructField("simhash", LongType)))

  /** The exact keep-first stage of both streaming funnels: appends
    * `rm_exact` = 1 to each (doc_id, fp, …) row for which a SMALLER-id
    * row with the same `fp` exists in the batch (the batch
    * `min(doc_id) over fp` window) or in the fp store at `path`, read
    * only in the buckets the batch's fingerprints hash into. */
  private[streaming] def keepFirst(fps: DataFrame, path: String,
                                   numBuckets: Int): DataFrame = {
    val stored = BucketStore.readBuckets(fps.sparkSession, path, fpSchema,
        BucketStore.touchedBuckets(fps.select("fp"), Seq("fp"), numBuckets))
      .withColumnRenamed("doc_id", "stored_id")
    fps.withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .join(stored, Seq("fp"), "left")
      .withColumn("rm_exact",
        ((col("doc_id") =!= col("keep_id")) ||
          (col("stored_id").isNotNull && col("stored_id") < col("doc_id")))
          .cast("long"))
      .drop("keep_id", "stored_id")
  }

  /** Flag one batch against the standing stores and advance them.
    * Input (doc_id, source, text); output one row per input doc:
    * (doc_id, source, rm_quality, rm_exact, rm_minhash, rm_simhash).
    * With fresh stores and the whole corpus as one batch this IS the
    * batch funnel — the equivalence the spec pins. `minTokens` = 0
    * disables the stage-0 quality gate (pure dedup_funnel shape).
    * `advance` = false computes the flags WITHOUT writing the store
    * upserts — the flags are checkpointed before the stores move, so
    * the output is identical either way; batch one-shot callers
    * (funnel_quality) that discard the scratch stores skip the write
    * cost, while the streaming deployment keeps the default. */
  def flagBatch(batch: DataFrame, root: String, minTokens: Int = 0,
                advance: Boolean = true,
                numBuckets: Int = NumBuckets): DataFrame = {
    val spark = batch.sparkSession

    // ---- stage 0: stateless quality gate (cheapest first)
    // localCheckpoint FIRST: the funnel runs several actions over the
    // batch (store-probe bucket collects, the exact-stage checkpoint,
    // the final flag join) — without materializing, each action
    // re-reads the upstream source, measured 3× ingest I/O per
    // micro-batch through a file-source deployment (SURVEY's
    // "flagBatch single-read" row)
    val q = batch.select(col("doc_id"), col("source"), col("text"))
      // coalesce: a null text yields a null gate under ANSI semantics,
      // which would drop the doc from every stage yet count it in
      // n_docs — remove it at the quality gate instead so funnelCounts
      // columns always sum to n_docs
      .withColumn("rm_quality",
        coalesce(size(tokens(col("text"))) < minTokens, lit(true))
          .cast("long"))
      .localCheckpoint()
    val q1 = q.filter(col("rm_quality") === 0)

    // ---- stage 1: exact fingerprint, keep-first by id
    val ex = keepFirst(q1.withColumn("fp", md5(lower(trim(col("text"))))),
        fpPath(root), numBuckets)
      .select(col("doc_id"), col("source"), col("text"), col("fp"),
        col("rm_exact"))
      .localCheckpoint()
    val s1 = ex.filter(col("rm_exact") === 0)

    // ---- stage 2: MinHash LSH candidates + verified Jaccard
    val sigs = MinHashLSH.signatures(s1, "doc_id", "text").localCheckpoint()
    val bands = sigs.select(col("doc_id"), explode(MinHashLSH.bandKeys).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bucket").as("bucket"))
    val candIn = MinHashLSH.candidatePairs(sigs, "doc_id")
      .select(col("a_id"), col("b_id"))
    val bandStored = BucketStore.readBuckets(spark, bandPath(root), bandSchema,
      BucketStore.touchedBuckets(bands, Seq("band", "bucket"), numBuckets))
    val candX = bands
      .join(bandStored.withColumnRenamed("doc_id", "a_id"), Seq("band", "bucket"))
      .filter(col("a_id") < col("doc_id"))
      .select(col("a_id"), col("doc_id").as("b_id"))
    val allCands = candIn.unionByName(candX).distinct().localCheckpoint()
    val shStored = BucketStore.readBuckets(spark, shPath(root), shSchema,
      BucketStore.touchedBuckets(
        allCands.select(col("a_id").as("doc_id")), Seq("doc_id"), numBuckets))
    val allSh = sigs.select(col("doc_id"), col("sh"))
      .unionByName(shStored)
      // a replayed batch's own docs are both in sigs and the store —
      // keep one row per id so the verify join stays 1:1
      .groupBy(col("doc_id")).agg(first(col("sh")).as("sh"))
    val rm2 = MinHashLSH.verifiedPairs(allCands, allSh, "doc_id", JaccardTau)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("rm_minhash", lit(1L))
    val s1f = s1.join(rm2, Seq("doc_id"), "left")
      .na.fill(0L, Seq("rm_minhash"))
      .localCheckpoint()
    val s2 = s1f.filter(col("rm_minhash") === 0)

    // ---- stage 3: SimHash banded Hamming — the simhash_pairs kernel
    // at the 16-bit width, in-batch and against the band store
    val sims = SimHash.simhash(s2, "doc_id", "text").localCheckpoint()
    val sBands = BandLadder.bandRows(
      sims.select(col("doc_id"), col("simhash").as("lo"), lit(0L).as("hi")),
      SimBandBits)
    val simStored = BucketStore.readBuckets(spark, simPath(root), simSchema,
        BucketStore.touchedBuckets(sBands, Seq("b", "v"), numBuckets))
      .select(col("b"), col("v"), col("doc_id"), col("simhash").as("lo"),
        lit(0L).as("hi"))
    val rm3 = BandLadder.pairs(sBands, sBands, "doc_id")
      .unionByName(BandLadder.pairs(simStored, sBands, "doc_id"))
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("rm_simhash", lit(1L))

    val flagged = q.select(col("doc_id"), col("source"), col("rm_quality"))
      .join(ex.select(col("doc_id"), col("rm_exact")), Seq("doc_id"), "left")
      .join(s1f.select(col("doc_id"), col("rm_minhash")), Seq("doc_id"), "left")
      .join(rm3, Seq("doc_id"), "left")
      .na.fill(0L, Seq("rm_exact", "rm_minhash", "rm_simhash"))
      .localCheckpoint() // materialize flags BEFORE the stores advance

    // ---- advance the stores (idempotent replace-on-key; a replayed
    // batch rewrites identical rows)
    if (advance) {
      val newFps = ex.filter(col("rm_exact") === 0)
        .select(col("fp"), col("doc_id"))
      if (!newFps.isEmpty)
        BucketStore.upsert(spark, newFps, fpPath(root), Seq("fp"), numBuckets)
      if (!sigs.isEmpty) {
        // rows keyed (band, bucket, doc_id) but PROBED by (band, bucket):
        // placement must hash the probe key (see BucketStore.upsert)
        BucketStore.upsert(spark, bands, bandPath(root),
          Seq("band", "bucket", "doc_id"), numBuckets,
          bucketCols = Seq("band", "bucket"))
        BucketStore.upsert(spark, sigs.select(col("doc_id"), col("sh")),
          shPath(root), Seq("doc_id"), numBuckets)
      }
      if (!sims.isEmpty)
        BucketStore.upsert(spark,
          sBands.select(col("doc_id"), col("b"), col("v"),
            col("lo").as("simhash")), simPath(root),
          Seq("b", "v", "doc_id"), numBuckets, bucketCols = Seq("b", "v"))
    }
    flagged
  }

  /** Retention pass over the four standing stores — the batch analogue
    * of the reference's Redis TTL (`EX 300`, kafkaConsumer.js:43):
    * drop every store row whose doc_id has fallen behind
    * `horizonMinId`. With a doc_id-ordered arrival stream this bounds
    * each store to the trailing horizon's rows, so per-bucket bytes
    * PLATEAU instead of growing with the corpus (StreamingCurationSpec's
    * "store retention" case pins it). Semantics under a horizon are
    * dedup-within-horizon — a new doc no longer matches partners older
    * than the horizon — the same trade
    * [[graft.dedup.StreamingNearDup]]'s bounded MapState horizon makes,
    * and the right one for a rolling crawl. Returns total rows kept
    * across the stores. */
  def evictStores(spark: org.apache.spark.sql.SparkSession, root: String,
                  horizonMinId: Long,
                  numBuckets: Int = NumBuckets): Long = {
    val keep = col("doc_id") >= lit(horizonMinId)
    BucketStore.evict(spark, fpPath(root), fpSchema, keep,
      Seq("fp"), numBuckets) +
      BucketStore.evict(spark, bandPath(root), bandSchema, keep,
        Seq("band", "bucket", "doc_id"), numBuckets,
        bucketCols = Seq("band", "bucket")) +
      BucketStore.evict(spark, shPath(root), shSchema, keep,
        Seq("doc_id"), numBuckets) +
      BucketStore.evict(spark, simPath(root), simSchema, keep,
        Seq("b", "v", "doc_id"), numBuckets, bucketCols = Seq("b", "v"))
  }

  /** Per-source funnel rollup of a flag table — the dedup_funnel
    * report shape plus the quality stage. */
  def funnelCounts(flags: DataFrame): DataFrame =
    flags.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("rm_quality")).as("rm_quality"),
        sum(col("rm_exact")).as("rm_exact"),
        sum(col("rm_minhash")).as("rm_minhash"),
        sum(col("rm_simhash")).as("rm_simhash"),
        sum(when(col("rm_quality") === 0 && col("rm_exact") === 0 &&
          col("rm_minhash") === 0 && col("rm_simhash") === 0, 1L)
          .otherwise(0L)).as("survivors"))

  /** Attach the funnel to a streaming doc source (doc_id, source,
    * text, ...). Flags land under `outDir/batch=<id>` (overwritten on
    * replay); stores live under `storeRoot`. `horizonDocs`, when set,
    * turns on store retention: every `evictEvery` batches, rows more
    * than `horizonDocs` doc_ids behind the batch's max are evicted
    * ([[evictStores]] — bounded stores, dedup-within-horizon
    * semantics). Eviction runs at the START of the batch, BEFORE its
    * flags are computed: the evict threshold is derived from the same
    * batch's max doc_id, so a crash-replayed batch re-evicts the exact
    * same horizon (idempotent) and flags against the identical store
    * state — no kept/flagged flip across the crash window. */
  def attach(docs: DataFrame, storeRoot: String, outDir: String,
             checkpoint: String, minTokens: Int = 0,
             horizonDocs: Option[Long] = None,
             evictEvery: Int = 4,
             numBuckets: Int = NumBuckets): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val src = batch.select(col("doc_id"), col("source"), col("text"))
          .localCheckpoint()
        horizonDocs.foreach { h =>
          if (id > 0 && id % evictEvery == 0) {
            val mx = src.agg(max(col("doc_id"))).head()
            if (!mx.isNullAt(0))
              evictStores(batch.sparkSession, storeRoot, mx.getLong(0) - h,
                numBuckets)
          }
        }
        val flags = flagBatch(src, storeRoot, minTokens,
          numBuckets = numBuckets)
        flags.write.mode("overwrite").parquet(s"$outDir/batch=$id")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Read every batch's flags back as one table: `outDir` itself, so
    * the `batch` partition column partition discovery adds is dropped
    * (a `batch=*` glob reads the same rows, but the streaming-sink
    * metadata probe stats the glob as a literal path and logs a
    * FileNotFoundException on every call). */
  def readFlags(spark: org.apache.spark.sql.SparkSession,
                outDir: String): DataFrame =
    spark.read.parquet(outDir).drop("batch")
}
