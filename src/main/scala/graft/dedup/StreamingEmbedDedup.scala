package graft.dedup

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

import graft.embed.{RpLsh, Similarity}

/** Streaming EMBEDDING near-dup detection — the semantic twin of
  * [[StreamingNearDup]] (which hashes lexical shingles): flag a vector
  * whose cosine against one already ingested within the horizon clears
  * the threshold, the moment it arrives. Same three-stage shape:
  *
  *   1. map-only per-row quantization + random-hyperplane bucket keys —
  *      bit-identical to the batch [[RpLsh]] pipeline (same 2^20
  *      quantization, same fixed integer planes, spec-pinned),
  *   2. ONE keyed exchange to (table, bucket) groups; a bounded
  *      MapState store of quantized vectors per bucket — an arrival
  *      emits a pair per co-bucket vector whose EXACT integer-quantized
  *      cosine ≥ threshold (collisions only, never all-pairs),
  *   3. cross-table pair dedup via the event-time-column
  *      `transformWithState` overload + `dropDuplicatesWithinWatermark`.
  *
  * State per entry is 64 longs + norm + timestamp (~0.5 KB), purged by
  * event-time timer and capacity-capped per bucket — RocksDB-bounded
  * like every stateful operator here.
  */
object StreamingEmbedDedup {
  import RpLsh.{BitsPerTable, NumTables}

  /** State-layout version, embedded in every grouping key ("v2|t:b").
    *
    * The bucket value is a function of the plane table layout: round 13
    * moved plane indexing from `planes(t*BitsPerTable+b)` to the MaxBits
    * grid accessor `RpLsh.plane(t, b)`, which reassigns every bucket —
    * state persisted under one layout is MEANINGLESS under another, and
    * without a version marker a restarted stream over an old checkpoint
    * would silently probe the wrong buckets and miss duplicates
    * (advisor finding, round 13). With the version in the key, old
    * state lives under keys a new binary never produces: it expires
    * untouched by its timers and can never be confused for a current
    * bucket. Any future change to plane indexing, quantization, or key
    * shape MUST bump this constant — StreamingEmbedDedupSpec pins the
    * exact key strings of a golden vector, so an unversioned layout
    * change fails the build loudly instead of shipping a silent
    * mismatch. */
  val StateLayoutVersion = 2

  case class VecEvent(vec_id: Long, embedding: Seq[Float], ts: Timestamp)
  case class BucketedVec(bk: String, vec_id: Long, q: Seq[Long], nq: Long,
                         ts: Timestamp)
  case class EmbedPair(a_id: Long, b_id: Long, cos: Double, ts: Timestamp)
  case class StoredVec(q: Seq[Long], nq: Long, tsMs: Long)
      extends HorizonBucket.Entry

  /** 2^20 integer quantization + self-norm, bit-identical to
    * [[Similarity.quantized]] (float → double → ·2^20 → floor). */
  def quantize(emb: Seq[Float]): (Array[Long], Long) = {
    val q = new Array[Long](emb.length)
    var nq = 0L
    var i = 0
    while (i < q.length) {
      q(i) = math.floor(emb(i).toDouble * Similarity.Scale.toDouble).toLong
      nq += q(i) * q(i)
      i += 1
    }
    (q, nq)
  }

  /** One "v<layout>|t:bucket" key per hash table — sign-of-dot bits
    * against the fixed integer planes, matching [[RpLsh.buckets]] at
    * the given (tables, bits) width. The default is the MIN width (an
    * unbounded stream has no final n); pass the [[RpLsh.widthFor]] of
    * an expected corpus size to match a batch run's adaptive width —
    * streaming and batch bucket sets are identical ONLY when their
    * widths agree (below the first widthFor seam, n ≤ 1024, the
    * defaults already agree; above it the caller must size the
    * stream — see [[nearPairs]]). */
  def bucketKeys(q: Array[Long], tables: Int = NumTables,
                 bits: Int = BitsPerTable): Seq[String] =
    (0 until tables).map { t =>
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val plane = RpLsh.plane(t, b)
        var dot = 0L
        var i = 0
        while (i < plane.length && i < q.length) {
          dot += q(i) * plane(i); i += 1
        }
        if (dot > 0) bucket |= (1L << b)
        b += 1
      }
      s"v$StateLayoutVersion|$t:$bucket"
    }

  /** Exact quantized cosine, the [[Similarity.cosine]] double chain. */
  private def cos(a: StoredVec, q: Seq[Long], nq: Long): Double = {
    var dot = 0L
    var i = 0
    val n = math.min(a.q.length, q.length)
    while (i < n) { dot += a.q(i) * q(i); i += 1 }
    dot.toDouble / math.sqrt(a.nq.toDouble * nq.toDouble)
  }

  /** One bucket's bounded vector store ([[HorizonBucket]]): emits a
    * pair per co-bucket vector whose exact quantized cosine clears
    * `threshold`. */
  class Processor(threshold: Double, horizonMs: Long, capacity: Int)
      extends HorizonBucket[BucketedVec, StoredVec, EmbedPair](
        "vecs", Encoders.product[StoredVec], horizonMs, capacity) {

    protected def id(r: BucketedVec): Long = r.vec_id

    protected def tsMs(r: BucketedVec): Long = r.ts.getTime

    protected def entry(r: BucketedVec): StoredVec =
      StoredVec(r.q, r.nq, tsMs(r))

    protected def pair(sid: Long, v: StoredVec, r: BucketedVec): Option[EmbedPair] = {
      val c = cos(v, r.q, r.nq)
      if (c >= threshold)
        Some(EmbedPair(math.min(sid, r.vec_id), math.max(sid, r.vec_id), c, r.ts))
      else None
    }
  }

  /** Streaming verified near pairs over `vecs` (vec_id, embedding, ts —
    * not yet watermarked; the horizon doubles as the watermark delay).
    * Requires the RocksDB state store provider. Each qualifying pair
    * exactly once (cross-table dedup included).
    *
    * `expectedCorpusSize`: an unbounded stream has no final n for
    * [[RpLsh.widthFor]], so the LSH width must be CONFIGURED, not
    * derived. None (default) runs the min width (4×8) — correct for
    * streams whose live horizon holds ≤1024 vectors, and the only
    * setting whose buckets match a ≤1024-vector batch run. For larger
    * standing corpora pass the expected size: the stream then hashes at
    * widthFor(n), matching the batch pipeline's buckets at that tier
    * (streaming ≡ batch equivalence holds exactly when the two widths
    * agree — spec-pinned). Changing the width across a restart is a
    * state-layout change (bucket values shift): bump checkpoints, as
    * with [[StateLayoutVersion]]. */
  def nearPairs(vecs: Dataset[VecEvent], threshold: Double,
                horizonSec: Long = 600,
                capacity: Int = 256,
                expectedCorpusSize: Option[Long] = None): Dataset[EmbedPair] = {
    import vecs.sparkSession.implicits._
    val (tables, bits) = expectedCorpusSize
      .map(RpLsh.widthFor).getOrElse((NumTables, BitsPerTable))
    vecs.flatMap { v =>
      val (q, nq) = quantize(v.embedding)
      bucketKeys(q, tables, bits)
        .map(bk => BucketedVec(bk, v.vec_id, q.toSeq, nq, v.ts))
    }
      .withWatermark("ts", s"$horizonSec seconds")
      .groupByKey(_.bk)
      .transformWithState(new Processor(threshold, horizonSec * 1000L, capacity),
        "ts", OutputMode.Append())
      .dropDuplicatesWithinWatermark(Seq("a_id", "b_id"))
  }
}
