package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.TDigestSketch.Quantiles

class TDigestSpec extends SparkTestBase {
  import spark.implicits._

  private val ps = Seq(50, 95, 99)

  /** Reference discrete percentile: sorted[((n*p) DIV 100) + 1], 1-based. */
  private def exactQ(sorted: Array[Double], p: Int): Double =
    sorted((sorted.length * p) / 100) // +1 rank, -1 for 0-based index

  private def data(n: Int, seed: Long): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(rnd.nextDouble() * 200.0)
  }

  test("exact regime: quantiles equal the sorted order statistics") {
    val agg = new Quantiles(ps)
    val xs = data(5000, seed = 7)
    val st = xs.foldLeft(agg.zero)(agg.reduce)
    val got = agg.finish(st)
    val sorted = xs.sorted
    assert(got == ps.map(exactQ(sorted, _)))
  }

  test("exact regime: merge order does not change the result") {
    val agg = new Quantiles(ps)
    val xs = data(3000, seed = 11)
    val chunks = xs.grouped(500).toList
      .map(_.foldLeft(agg.zero)(agg.reduce))
    val leftFold = chunks.reduceLeft(agg.merge)
    val rightFold = chunks.reduceRight(agg.merge)
    assert(agg.finish(leftFold) == agg.finish(rightFold))
    assert(agg.finish(leftFold) == ps.map(exactQ(xs.sorted, _)))
  }

  test("compressed regime: bounded state, bounded rank error") {
    val agg = new Quantiles(ps, compression = 100, rawCap = 256)
    val xs = data(50000, seed = 13)
    // partial states per "partition", merged — the distributed shape
    val st = xs.grouped(1000).toList
      .map(_.foldLeft(agg.zero)(agg.reduce))
      .reduceLeft(agg.merge)
    assert(st.means.length + st.rawLen < 2000,
      s"state not bounded: ${st.means.length} centroids + ${st.rawLen} raw")
    val sorted = xs.sorted
    val got = agg.finish(st)
    ps.zip(got).foreach { case (p, v) =>
      // rank of the returned value in the true data
      val rank = sorted.count(_ <= v).toDouble / sorted.length
      assert(math.abs(rank - p / 100.0) < 0.02,
        s"p$p: value $v has true rank $rank")
    }
  }

  test("digest boundaries + map-only bucketing approximate exact deciles") {
    // the production decile path: boundaries from the COMPRESSED digest,
    // then a map-only bucket column — each decile's share must stay
    // within a point of 10% even though the digest is approximate
    val agg = new Quantiles((10 to 90 by 10).toSeq, compression = 200,
      rawCap = 256)
    val xs = data(20000, seed = 23)
    val st = xs.grouped(1000).toList
      .map(_.foldLeft(agg.zero)(agg.reduce)).reduceLeft(agg.merge)
    val boundaries = agg.finish(st)
    val df = xs.toSeq.toDF("v")
      .withColumn("bucket", TDigestSketch.bucketColumn($"v", boundaries))
    val counts = df.groupBy($"bucket").count()
      .as[(Int, Long)].collect().toMap
    assert(counts.keySet == (1 to 10).toSet)
    // each boundary's nearest-rank error is ~a centroid's mass (≲1% of n
    // at δ=200); a bucket is bounded by two boundaries, so its share can
    // be off by both errors combined — allow 2 × 1% × n = 400
    counts.values.foreach { n =>
      assert(math.abs(n - 2000L) < 400, s"decile share off: $counts") }
  }

  test("spark agg matches the exact window formulation") {
    val xs = data(4000, seed = 17)
    val df = xs.zipWithIndex.toSeq
      .map { case (v, i) => (s"g${i % 3}", v) }.toDF("g", "v")
    val td = udaf(new Quantiles(ps))
    val got = df.groupBy($"g").agg(td($"v").as("qs"))
      .select($"g", $"qs".getItem(0).as("p50"), $"qs".getItem(2).as("p99"))
      .as[(String, Double, Double)].collect()
      .map { case (g, p50, p99) => g -> ((p50, p99)) }.toMap
    val expected = xs.zipWithIndex.groupBy { case (_, i) => s"g${i % 3}" }
      .map { case (g, vs) =>
        val sorted = vs.map(_._1).sorted
        g -> (exactQ(sorted, 50), exactQ(sorted, 99)) }
    assert(got == expected)
  }
}
