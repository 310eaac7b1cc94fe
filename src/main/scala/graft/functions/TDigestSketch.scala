package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable t-digest quantile sketch as a typed `Aggregator` (SURVEY
  * §2.10 custom-UDAF surface; the AG2 exact sorted-percentile's scale
  * path — an exact per-group sort is not mergeable and not bounded-state
  * at 100 TB, a digest is).
  *
  * Structure: incoming doubles accumulate in a raw buffer; when it
  * exceeds `rawCap` (and at every merge overflow) the buffer is sorted
  * and folded into weighted centroids under the t-digest k₁ scale
  * function k(q) = δ/(2π)·asin(2q−1), which bounds centroid count at
  * ~2δ while keeping extreme quantiles near-exact (centroid capacity
  * →1 as q→0 or 1). State is O(δ + rawCap) regardless of group size —
  * that is the whole point: the shuffle ships centroids, not the group.
  *
  * Quantile rule: nearest-rank over the centroid CDF — the value whose
  * cumulative weight first reaches rank ((n·p) DIV 100) + 1, the
  * reference's discrete percentile (`mqtt_publish.js:84-96`, same rule
  * as the exact AG2 query). While no compression has occurred every
  * centroid is a singleton, so the answer IS the exact order statistic
  * — bit-equal to a DuckDB ranked mirror (the KMV determinism trick
  * generalized: the oracle pins the exact regime, and TDigestSpec
  * property-tests the compressed regime's rank error against the
  * digest's accuracy bound).
  */
object TDigestSketch {

  /** The 100 TB companion to exact NTILE binning (see
    * `CurationQueries.quality_deciles`): quantile BOUNDARIES come from
    * the mergeable digest (one aggregation), then bucketing is this
    * map-only literal when-chain — no global sort, no single-partition
    * window, stays inside whole-stage codegen. Bucket = 1 + number of
    * boundaries ≤ value (boundaries ascending). */
  def bucketColumn(value: org.apache.spark.sql.Column,
                   boundaries: Seq[Double]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, when}
    boundaries.sorted.map(b => when(value >= b, 1).otherwise(0))
      .foldLeft(lit(1))(_ + _)
  }

  /** Digest state. `means`/`weights` are compressed centroids sorted by
    * mean; `raw` is the unfolded tail with `rawLen` live elements —
    * the array over-allocates geometrically (9/8 growth) so the per-row
    * append is amortized O(1) (a fresh full-copy per row measured as
    * the q17 bottleneck: ~len·8 bytes of garbage per input row). Only
    * `raw(0 until rawLen)` is meaningful; flush points compact. Arrays
    * (not growable buffers) keep the ExpressionEncoder trivial. The
    * encoder can run on any partial buffer (Spark serializes at the
    * exchange/spill with no flush hook), so the over-allocation factor
    * bounds the dead tail it ships: ≤ 1/8 of the live length (≤ 64 KB
    * per group at the default rawCap) at ~9 amortized element-copies
    * per append — the factor trades copy count against shuffled slack. */
  case class State(means: Array[Double], weights: Array[Long],
                   raw: Array[Double], rawLen: Int)

  /** Quantiles (percent ranks, e.g. Seq(50, 95, 99)) of a double column.
    * `compression` is the t-digest δ; `rawCap` is the exactness
    * threshold — groups with ≤ rawCap values per partial buffer never
    * compress and return exact order statistics. */
  class Quantiles(ps: Seq[Int], compression: Int = 100,
                  rawCap: Int = 1 << 16)
      extends Aggregator[Double, State, Seq[Double]] {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 100))

    override def zero: State =
      State(Array.empty, Array.empty, Array.empty, 0)

    override def reduce(s: State, x: Double): State = {
      val st =
        if (s.rawLen < s.raw.length) s
        else State(s.means, s.weights,
          java.util.Arrays.copyOf(s.raw,
            math.max(16, s.raw.length + s.raw.length / 8)),
          s.rawLen)
      st.raw(st.rawLen) = x
      maybeCompress(State(st.means, st.weights, st.raw, st.rawLen + 1))
    }

    private def liveRaw(s: State): Array[Double] =
      if (s.rawLen == s.raw.length) s.raw
      else java.util.Arrays.copyOf(s.raw, s.rawLen)

    override def merge(a: State, b: State): State = {
      val (m, w) = mergeCentroids(a.means, a.weights, b.means, b.weights)
      maybeCompress(State(m, w, liveRaw(a) ++ liveRaw(b),
        a.rawLen + b.rawLen))
    }

    override def finish(s: State): Seq[Double] = {
      // fold the raw tail as singletons — never k₁-compress here, so a
      // group that stayed under the caps answers EXACT order statistics
      val t = if (s.rawLen == 0) s else {
        val sortedRaw = liveRaw(s).sorted
        val (m, w) = mergeCentroids(s.means, s.weights,
          sortedRaw, Array.fill(sortedRaw.length)(1L))
        State(m, w, Array.empty, 0)
      }
      val n = t.weights.sum
      if (n == 0) return Seq.fill(ps.length)(Double.NaN)
      ps.map { p =>
        val target = (n * p) / 100 + 1 // 1-based nearest-rank index
        var cum = 0L; var i = 0
        while (i < t.weights.length - 1 &&
               cum + t.weights(i) < target) { cum += t.weights(i); i += 1 }
        t.means(i)
      }
    }

    private def maybeCompress(s: State): State =
      if (s.rawLen <= rawCap && s.means.length <= 4 * compression) s
      else compress(s)

    /** Fold raw values into the centroid list, then one deterministic
      * left-to-right k₁ pass over the mean-sorted centroids. */
    private def compress(s: State): State = {
      val sortedRaw = liveRaw(s).sorted
      val (m0, w0) = mergeCentroids(
        s.means, s.weights, sortedRaw, Array.fill(sortedRaw.length)(1L))
      val n = w0.sum.toDouble
      val outM = Array.newBuilder[Double]
      val outW = Array.newBuilder[Long]
      var curM = m0(0); var curW = w0(0)
      var qLeft = 0.0 // CDF mass emitted so far
      var i = 1
      while (i < m0.length) {
        val qRight = qLeft + (curW + w0(i)) / n
        if (kScale(qRight) - kScale(qLeft) <= 1.0) {
          // weighted-mean merge keeps the centroid at the mass centre
          curM = (curM * curW + m0(i) * w0(i)) / (curW + w0(i))
          curW += w0(i)
        } else {
          outM += curM; outW += curW
          qLeft += curW / n
          curM = m0(i); curW = w0(i)
        }
        i += 1
      }
      outM += curM; outW += curW
      State(outM.result(), outW.result(), Array.empty, 0)
    }

    private def kScale(q: Double): Double =
      compression / (2.0 * math.Pi) *
        math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)

    /** Merge two mean-sorted centroid lists (no compression). */
    private def mergeCentroids(
        ma: Array[Double], wa: Array[Long],
        mb: Array[Double], wb: Array[Long]): (Array[Double], Array[Long]) = {
      val n = ma.length + mb.length
      val m = new Array[Double](n); val w = new Array[Long](n)
      var i = 0; var j = 0; var k = 0
      while (k < n) {
        val takeA = j >= mb.length || (i < ma.length && ma(i) <= mb(j))
        if (takeA) { m(k) = ma(i); w(k) = wa(i); i += 1 }
        else       { m(k) = mb(j); w(k) = wb(j); j += 1 }
        k += 1
      }
      (m, w)
    }

    override def bufferEncoder: Encoder[State] = ExpressionEncoder[State]()
    override def outputEncoder: Encoder[Seq[Double]] =
      ExpressionEncoder[Seq[Double]]()
  }
}
