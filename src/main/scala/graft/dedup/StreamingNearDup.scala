package graft.dedup

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming MinHash/LSH near-duplicate detection — the ingest-time twin
  * of the batch `dedup_minhash_lsh` family: flag a document that is a
  * NEAR-dup (not byte-identical — [[StreamingDedup]] owns that) of one
  * already ingested within the watermark horizon, the moment it arrives.
  *
  * Same three-stage shape as the batch operator, restated for a stream:
  *   1. map-only signature pass — each document's 16 minhashes over word
  *      trigrams, computed per row (no shuffle, no state),
  *   2. ONE keyed exchange to the (band, bucket) groups; per bucket a
  *      `transformWithState` store of the signatures seen within the
  *      horizon — a new arrival emits a candidate pair against each
  *      stored co-bucket signature (collisions only, never all-pairs),
  *   3. cross-band pair dedup via `dropDuplicatesWithinWatermark` (the
  *      same pair collides in up to [[MinHashLSH.Bands]] bands; the
  *      operator chains because stage 2 re-assigns the event-time
  *      column on its output).
  *
  * State is bounded on three axes: entries are purged by event-time
  * TIMER once the watermark passes their arrival + horizon; a bucket
  * stores at most `capacity` signatures (an over-capacity arrival still
  * emits pairs against the stored members but is not stored — a bucket
  * that hot is boilerplate the batch layer dedups wholesale); and each
  * entry is one MapState row (16 longs + timestamp), so a group's state
  * never materializes except during its own batch, RocksDB-bounded.
  *
  * Hashing is the identical portable scheme as [[MinHashLSH]] (md5 →
  * 60-bit int → (a·h+b) mod P), evaluated in plain JVM code here — bit
  * parity with the batch signatures is pinned by spec, so streaming and
  * batch agree on the SAME candidate pairs and estimates.
  */
object StreamingNearDup {
  import MinHashLSH.{Bands, NumHashes, P, Rows, ShingleN, hashParams}

  /** Ingest record: a complete document with its event time. */
  case class DocEvent(doc_id: Long, text: String, ts: Timestamp)
  /** One (band, bucket) routing row per document per band. */
  case class BucketedSig(bk: String, doc_id: Long, sig: Seq[Long], ts: Timestamp)
  /** Candidate pair: earlier-vs-later ids normalized to a_id < b_id,
    * carrying the discovering arrival's event time (for downstream
    * watermarking) and the minhash similarity estimate. */
  case class CandidatePair(a_id: Long, b_id: Long, est_sim: Double, ts: Timestamp)
  /** Stored per-bucket signature entry (one MapState row per doc). */
  case class Stored(sig: Seq[Long], tsMs: Long) extends HorizonBucket.Entry

  /** Per-document minhash signature, bit-identical to
    * [[MinHashLSH.signatures]] (md5 first-15-hex-chars → mod P → k
    * affine mins). None for docs shorter than the shingle width, which
    * the batch pipeline also drops. */
  def signature(text: String): Option[Array[Long]] = {
    val toks = text.trim match {
      case "" => Array.empty[String]
      case t  => t.split("\\s+")
    }
    if (toks.length < ShingleN) return None
    val md = java.security.MessageDigest.getInstance("MD5")
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    while (i <= toks.length - ShingleN) {
      val sh = toks.slice(i, i + ShingleN).mkString(" ")
      val hex = md.digest(sh.getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16) % P
      var j = 0
      while (j < NumHashes) {
        val (a, b) = hashParams(j)
        val v = (a * h + b) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    Some(sig)
  }

  /** Band keys for a signature — same banding as
    * [[MinHashLSH.candidatePairs]] (band index + '_'-joined row
    * values). */
  def bandKeys(sig: Array[Long]): Seq[String] =
    (0 until Bands).map { b =>
      s"$b:" + (0 until Rows).map(r => sig(b * Rows + r)).mkString("_")
    }

  /** One bucket's bounded signature store ([[HorizonBucket]]): emits a
    * candidate pair with its minhash estimate per (stored, arriving)
    * collision. */
  class Processor(horizonMs: Long, capacity: Int)
      extends HorizonBucket[BucketedSig, Stored, CandidatePair](
        "sigs", Encoders.product[Stored], horizonMs, capacity) {

    protected def id(r: BucketedSig): Long = r.doc_id

    protected def tsMs(r: BucketedSig): Long = r.ts.getTime

    protected def entry(r: BucketedSig): Stored = Stored(r.sig, tsMs(r))

    protected def pair(sid: Long, s: Stored, r: BucketedSig): Option[CandidatePair] = {
      var eq = 0; var i = 0
      while (i < NumHashes) { if (s.sig(i) == r.sig(i)) eq += 1; i += 1 }
      Some(CandidatePair(math.min(sid, r.doc_id), math.max(sid, r.doc_id),
        eq.toDouble / NumHashes, r.ts))
    }
  }

  /** Streaming candidate pairs over `docs` (doc_id, text, ts — ts NOT
    * yet watermarked; the horizon doubles as the watermark delay).
    * Requires the RocksDB state store provider (transformWithState
    * prerequisite). Output: (a_id, b_id, est_sim, ts), each colliding
    * pair exactly once (cross-band dedup included). */
  def candidatePairs(docs: Dataset[DocEvent], horizonSec: Long = 600,
                     capacity: Int = 256): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    val horizonMs = horizonSec * 1000L
    val bucketed: Dataset[BucketedSig] = docs.flatMap { d =>
      signature(d.text) match {
        case Some(sig) =>
          bandKeys(sig).map(bk => BucketedSig(bk, d.doc_id, sig.toSeq, d.ts))
        case None => Nil
      }
    }
    bucketed
      .withWatermark("ts", s"$horizonSec seconds")
      .groupByKey(_.bk)
      // the eventTimeColumnName overload re-assigns the watermark to the
      // output's ts so the cross-band dedup (another stateful operator)
      // can chain downstream
      .transformWithState(new Processor(horizonMs, capacity), "ts",
        OutputMode.Append())
      .dropDuplicatesWithinWatermark(Seq("a_id", "b_id"))
  }
}
