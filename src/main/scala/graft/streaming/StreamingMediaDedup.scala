package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.BandLadder
import graft.multimodal.Multimodal
import graft.sink.BucketStore

/** Online twin of the media-curation cascade (`mm_dedup` →
  * `mm_phash_pairs`): micro-batches of arriving blobs are flagged
  * against standing [[BucketStore]]s — stage 1 exact content digest,
  * keep-first by id; stage 2 perceptual near-dup over Hamming-banded
  * phash collisions among exact survivors. The [[StreamingCuration]]
  * architecture verbatim (foreachBatch + bucket-pruned store probes +
  * idempotent replace-on-key upserts), applied to the media column:
  * each batch runs the IDENTICAL batch stage logic (same codec seam,
  * same banding, same Hamming rule), so streaming ≡ batch holds by
  * construction when blobs arrive in id order —
  * StreamingMediaDedupSpec pins it, including a replayed batch.
  *
  * Band width is CONFIGURED, not derived: an unbounded stream has no
  * final n for `mm_phash_width`'s count-based ladder (the
  * [[graft.dedup.StreamingEmbedDedup]] seam, same reasoning), so a
  * rolling crawl deploys the wide tier (128-cell hash, 4×32-bit
  * bands — linear candidate mass to n = 2^33) and small fixtures pass
  * 16. The width is part of the store layout (changing it re-keys
  * every band row), and the layout is now VERSIONED and MIGRATABLE
  * instead of pinned forever: the store root carries a `_layout`
  * marker ([[StoreLayoutVersion]] + band width — the
  * StreamingEmbedDedup StateLayoutVersion discipline for a directory
  * store), [[flagBatch]] hard-fails on a width mismatch instead of
  * silently probing re-keyed bands, and a deployment whose corpus
  * crosses the 16-bit tier's n = 2^17 linear range mid-stream calls
  * [[migrateWidth]]: a drain-and-rebuild that re-bands the standing
  * store at the next tier FROM STORED STATE — every band row carries
  * the wide 128-cell hash (`wlo`/`whi`) in addition to its tier's
  * Hamming hash, so no blob is ever re-read. The migrated store is
  * row-identical to one built at the wide tier from scratch over the
  * same kept docs (spec-pinned), so flags across the cutover are
  * exactly the from-scratch wide deployment's — none missed, none
  * duplicated.
  *
  * Dedup rule (the funnel's documented non-transitive keep-first
  * greedy, restated for blobs):
  *   - rm_exact: a SMALLER-id blob with the same digest exists
  *     (in-batch or stored);
  *   - rm_phash: an exact-survivor with a smaller-id exact-SURVIVOR
  *     partner within Hamming ≤ 3 over band collisions (the partner
  *     may itself be phash-removed — keep-first, not clustering).
  *
  * Scale: per batch the cost is O(batch + touched buckets); only
  * 8-byte hashes and digests ever sit in the stores — media bytes
  * stay in the source. Stores are horizon-evictable
  * ([[evictStores]]) for the rolling-crawl deployment.
  */
object StreamingMediaDedup {

  val NumBuckets = 32

  /** Band-store layout version. v1 stored only the tier's Hamming hash
    * and pinned the band width forever; v2 adds the wide 128-cell hash
    * (`wlo`/`whi`) to every row — what makes [[migrateWidth]] a pure
    * store-state rebuild — and a width-bearing path + `_layout` marker
    * so a mismatched deployment fails loudly. Any future change to the
    * banding, hash, or key shape MUST bump this (the
    * [[graft.dedup.StreamingEmbedDedup.StateLayoutVersion]]
    * discipline). */
  val StoreLayoutVersion = 2

  private def dgPath(root: String) = s"$root/dg"
  private def pbPath(root: String, bandBits: Int) = s"$root/pb_w$bandBits"
  private def layoutPath(root: String) = s"$root/_layout"

  private val pbSchema = StructType(Seq(
    StructField("b", IntegerType), StructField("v", LongType),
    StructField("doc_id", LongType),
    StructField("lo", LongType), StructField("hi", LongType),
    StructField("wlo", LongType), StructField("whi", LongType)))
  private[streaming] def pbSchemaForTest: StructType = pbSchema

  /** Read the root's `_layout` marker: Some((version, bandBits)). */
  private def readLayout(spark: org.apache.spark.sql.SparkSession,
                         root: String): Option[(Int, Int)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(layoutPath(root))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
      val Array(v, w) = s.split(":")
      Some((v.toInt, w.toInt))
    }
  }

  private def writeLayout(spark: org.apache.spark.sql.SparkSession,
                          root: String, bandBits: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(layoutPath(root))
    val out = fs.create(p, true)
    try out.write(s"$StoreLayoutVersion:$bandBits".getBytes("UTF-8"))
    finally out.close()
  }

  /** Marker check-or-claim: first writer stamps (version, width); every
    * later batch must match — a silent width flip would probe re-keyed
    * bands and miss every standing partner. */
  private def claimLayout(spark: org.apache.spark.sql.SparkSession,
                          root: String, bandBits: Int): Unit =
    readLayout(spark, root) match {
      case None => writeLayout(spark, root, bandBits)
      case Some((v, w)) =>
        require(v == StoreLayoutVersion && w == bandBits,
          s"band-store layout mismatch at $root: store is v$v/w$w, " +
            s"deployment asked v$StoreLayoutVersion/w$bandBits — " +
            "run migrateWidth instead of changing the configured width")
    }

  /** (doc_id, b, v, lo, hi, wlo, whi) band rows of a hash table at the
    * deployment's band width — the mm_phash_pairs banding
    * ([[BandLadder.bandRows]]), carrying the wide hash for future
    * [[migrateWidth]] rebuilds. */
  private def bandRows(ph: DataFrame, bandBits: Int): DataFrame =
    BandLadder.bandRows(ph, bandBits)
      .select(col("id").as("doc_id"), col("b"), col("v"), col("lo"),
        col("hi"), col("wlo"), col("whi"))

  /** Flag one batch of (doc_id, blob) against the standing stores and
    * advance them. Output one row per input blob:
    * (doc_id, rm_exact, rm_phash). */
  def flagBatch(batch: DataFrame, root: String, bandBits: Int = 32,
                advance: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    claimLayout(spark, root, bandBits)
    val in = batch.select(col("doc_id"), col("blob")).localCheckpoint()

    // ---- stage 1: exact digest, keep-first by id (mm_dedup's key)
    val ex = StreamingCuration.keepFirst(in.withColumn("fp", md5(col("blob"))),
        dgPath(root), NumBuckets)
      .select(col("doc_id"), col("blob"), col("fp"), col("rm_exact"))
      .localCheckpoint()
    val s1 = ex.filter(col("rm_exact") === 0)

    // ---- stage 2: phash Hamming bands among exact survivors. The
    // wide 128-cell hash is ALWAYS computed and stored (wlo/whi): at
    // the 32 tier it IS the Hamming hash; at the 16 tier it rides
    // along purely so migrateWidth can re-band from store state — the
    // extra codec pass is paid only by small-corpus deployments, and
    // only until they migrate.
    val wide = Multimodal.perceptualHashes128(s1, "doc_id", "blob").toDF()
      .select(col("id"), col("lo").as("wlo"), col("hi").as("whi"))
    val hashed =
      (if (bandBits == 16)
        Multimodal.perceptualHashes(s1, "doc_id", "blob").toDF()
          .select(col("id"), col("phash").as("lo"), lit(0L).as("hi"))
          .join(wide, Seq("id"))
      else
        wide.select(col("id"), col("wlo").as("lo"), col("whi").as("hi"),
          col("wlo"), col("whi")))
      .localCheckpoint()
    val bands = bandRows(hashed, bandBits)
    val pbStored = BucketStore.readBuckets(spark, pbPath(root, bandBits),
      pbSchema,
      BucketStore.touchedBuckets(bands, Seq("b", "v"), NumBuckets))
    val rm2 = BandLadder.pairs(bands, bands, "doc_id")
      .unionByName(BandLadder.pairs(pbStored, bands, "doc_id"))
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("rm_phash", lit(1L))

    val flagged = ex.select(col("doc_id"), col("rm_exact"))
      .join(rm2, Seq("doc_id"), "left")
      .na.fill(0L, Seq("rm_phash"))
      .localCheckpoint() // flags are final BEFORE the stores advance

    if (advance) {
      val newDg = ex.filter(col("rm_exact") === 0)
        .select(col("fp"), col("doc_id"))
      if (!newDg.isEmpty) {
        BucketStore.upsert(spark, newDg, dgPath(root), Seq("fp"), NumBuckets)
        // rows keyed (b, v, doc_id) but probed by (b, v)
        BucketStore.upsert(spark, bands, pbPath(root, bandBits),
          Seq("b", "v", "doc_id"), NumBuckets, bucketCols = Seq("b", "v"))
      }
    }
    flagged
  }

  /** Horizon retention over both stores (the [[StreamingCuration
    * .evictStores]] policy): drop rows behind `horizonMinId` —
    * dedup-within-horizon semantics for a rolling crawl. Returns rows
    * kept. */
  def evictStores(spark: org.apache.spark.sql.SparkSession, root: String,
                  horizonMinId: Long): Long = {
    val keep = col("doc_id") >= lit(horizonMinId)
    // the band store lives at the width the marker records
    val w = readLayout(spark, root).map(_._2).getOrElse(32)
    BucketStore.evict(spark, dgPath(root), StreamingCuration.fpSchema, keep,
      Seq("fp"), NumBuckets) +
      BucketStore.evict(spark, pbPath(root, w), pbSchema, keep,
        Seq("b", "v", "doc_id"), NumBuckets, bucketCols = Seq("b", "v"))
  }

  /** Drain-and-rebuild width migration for a deployment whose corpus
    * crossed its tier's linear range (16-bit bands stop being linear at
    * n = 2^17 — [[graft.functions.BandLadder]]): re-band the standing
    * store at `toBits` purely FROM STORED STATE. Every v2 band row
    * carries the wide 128-cell hash, so the rebuild is
    *   distinct (doc_id, wlo, whi) → band at toBits → fresh store —
    * no blob is re-read, and the result is row-identical to a store
    * built at `toBits` from scratch over the same kept docs
    * (spec-pinned), so the next batch's flags are exactly what the
    * from-scratch wide deployment would emit: no missed partners, no
    * duplicates. The exact-digest store is width-independent and
    * carries over untouched. Run BETWEEN batches (single writer, like
    * every store maintenance pass); the old band store is removed and
    * the `_layout` marker advances to `toBits` last, so a crash
    * mid-migration leaves the marker at the OLD width and the next
    * flagBatch fails loudly on the missing old store rather than
    * silently probing a half-built one. Returns docs re-banded. */
  def migrateWidth(spark: org.apache.spark.sql.SparkSession, root: String,
                   toBits: Int): Long = {
    val fromBits = readLayout(spark, root) match {
      case Some((v, w)) =>
        require(v == StoreLayoutVersion, s"cannot migrate v$v store"); w
      case None => throw new IllegalStateException(s"no store at $root")
    }
    require(toBits > fromBits,
      s"width migration only widens ($fromBits -> $toBits): the narrow " +
        "tier's Hamming hash is not derivable from the wide one")
    val docs = BucketStore.read(spark, pbPath(root, fromBits), pbSchema,
        NumBuckets)
      .select(col("doc_id").as("id"), col("wlo"), col("whi")).distinct()
      .select(col("id"), col("wlo").as("lo"), col("whi").as("hi"),
        col("wlo"), col("whi"))
      .localCheckpoint()
    val rebanded = bandRows(docs, toBits)
    if (!rebanded.isEmpty)
      BucketStore.upsert(spark, rebanded, pbPath(root, toBits),
        Seq("b", "v", "doc_id"), NumBuckets, bucketCols = Seq("b", "v"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(pbPath(root, fromBits)), true)
    writeLayout(spark, root, toBits)
    docs.count()
  }

  /** Attach to a streaming blob source (doc_id, blob). Flags land
    * under `outDir/batch=<id>` (overwritten on replay — idempotent). */
  def attach(blobs: DataFrame, storeRoot: String, outDir: String,
             checkpoint: String, bandBits: Int = 32): StreamingQuery =
    blobs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        flagBatch(batch.select(col("doc_id"), col("blob")),
            storeRoot, bandBits)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
