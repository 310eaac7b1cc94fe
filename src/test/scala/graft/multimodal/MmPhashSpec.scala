package graft.multimodal

import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.multimodal.Multimodal.FakeCodec

/** mm_phash: perceptual (average-hash) media near-dup through the codec
  * seam. Pins (1) the locality property the operator exists for — a
  * near-identical blob lands within a small Hamming distance while an
  * unrelated blob of the same length lands far away — and (2) that the
  * banded candidate search finds exactly the near pairs on a crafted
  * fixture (identical pair at Hamming 0, one-byte-edit pair at ≤ 3,
  * unrelated blob unpaired). */
class MmPhashSpec extends SparkTestBase with Matchers {

  // ~6.9 KB deterministic ASCII "blob" (the corpus stands media bytes)
  private val base = (0 until 256).map(i => f"word$i%05d tokentext filler ").mkString
  private def editAt(s: String, pos: Int): String =
    s.substring(0, pos) + (if (s.charAt(pos) != 'X') 'X' else 'Y') + s.substring(pos + 1)
  private val nearDup = editAt(base, 2000)
  private val unrelated = (0 until 256).map(i => f"other$i%05d differing payload ").mkString
    .substring(0, base.length)

  private def ph(s: String): Long = FakeCodec.phash(s.getBytes("UTF-8"))
  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("phash locality: one-byte edit stays near, unrelated blob is far") {
    ham(ph(base), ph(base)) shouldBe 0
    ham(ph(base), ph(nearDup)) should be <= 3
    ham(ph(base), ph(unrelated)) should be > 16
    // locality holds across edit positions, not just the pinned one
    Seq(137, 1000, 3000, 5001, base.length - 1).foreach { pos =>
      ham(ph(base), ph(editAt(base, pos))) should be <= 3
    }
  }

  test("banded search finds identical + near pairs, skips unrelated") {
    import spark.implicits._
    val docs = Seq(
      (1L, base, "en", "src0", 0L),
      (2L, nearDup, "en", "src0", 0L),  // near doc 1
      (3L, base, "en", "src0", 0L),     // identical to doc 1
      (4L, unrelated, "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("phash_fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the per-blob hash table matches the codec seam exactly
    val tbl = graft.SparkEntry.queries("mm_phash")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    tbl(1L) shouldBe ph(base)
    tbl(4L) shouldBe ph(unrelated)
    val pairs = graft.SparkEntry.queries("mm_phash_pairs")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // identical pair at Hamming 0; both near pairs found (Hamming ≤ 3
    // guarantees a shared 16-bit band by pigeonhole — lossless blocking)
    pairs((1L, 3L)) shouldBe 0
    pairs.keySet should contain allOf ((1L, 2L), (2L, 3L))
    pairs((1L, 2L)) should be <= 3
    // the unrelated blob pairs with no ORIGINAL doc (its planted exact
    // twin at doc_id 4 + 2^40 is by construction a Hamming-0 pair)
    pairs.keySet.exists { case (a, b) =>
      (a == 4L || b == 4L) && b < (1L << 40) } shouldBe false
    pairs((4L, 4L + (1L << 40))) shouldBe 0
    graft.SharedStages.clear()
  }

  test("planted twins make the pair gate non-vacuous at every SF") {
    val d = "/root/testdata/sf0.001"
    val pairs = graft.SparkEntry.queries("mm_phash_pairs")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val seeds = graft.Tables.documents(spark, d)
      .orderBy("doc_id").limit(4).collect().map(_.getAs[Long]("doc_id"))
    seeds should have size 4
    // every seed pairs with its exact twin at Hamming 0 — guaranteed
    // rows at ANY scale factor, so the driver-gate row has teeth
    seeds.foreach { s => pairs((s, s + (1L << 40))) shouldBe 0 }
    graft.SharedStages.clear()
  }

  private def ph128(s: String): (Long, Long) =
    FakeCodec.phash128(s.getBytes("UTF-8"))
  private def ham128(a: (Long, Long), b: (Long, Long)): Int =
    java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)

  test("128-cell tier: locality holds at the finer granularity") {
    ham128(ph128(base), ph128(base)) shouldBe 0
    // a one-byte edit rewrites ≤1 of 128 chunks (+ mean-threshold
    // spill) — the absolute ≤3 tolerance is granularity-independent
    // for localized edits, which is the documented trade
    Seq(137, 2000, 5001, base.length - 1).foreach { pos =>
      ham128(ph128(base), ph128(editAt(base, pos))) should be <= 3
    }
    ham128(ph128(base), ph128(unrelated)) should be > 16
  }

  test("band-width ladder: exact threshold, mass bound at the seam") {
    import graft.functions.BandLadder
    BandLadder.bitsFor(1L) shouldBe 16
    BandLadder.bitsFor(1L << 17) shouldBe 16
    BandLadder.bitsFor((1L << 17) + 1) shouldBe 32
    // at each tier's upper edge the random-collision candidate mass
    // 4·C(n,2)/2^bits stays within the 4n budget (the ladder's
    // invariant; BigInt — n² at the 32-bit tier edge exceeds a Long)
    def mass(n: Long, bits: Int): BigInt =
      4 * (BigInt(n) * (n - 1) / 2) >> bits
    mass(1L << 17, 16) should be <= BigInt(4) * (1L << 17)
    mass(1L << 33, 32) should be <= BigInt(4) * (1L << 33)
    // and the NEXT corpus decade would blow the 16-bit budget — why
    // the ladder exists
    mass(1L << 19, 16) should be > BigInt(4) * (1L << 19)
  }

  test("32-bit-band tier finds the same near pairs (wide pipeline e2e)") {
    import spark.implicits._
    val docs = Seq(
      (1L, base), (2L, nearDup), (3L, base), (4L, unrelated))
      .toDF("doc_id", "text")
      .select($"doc_id", org.apache.spark.sql.functions.encode($"text", "UTF-8").as("blob"))
    val pairs = graft.queries.MultimodalQueries.mmPhashPairsAt(docs, 32)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    pairs((1L, 3L)) shouldBe 0
    pairs.keySet should contain allOf ((1L, 2L), (2L, 3L))
    pairs((1L, 2L)) should be <= 3
    pairs.keySet.exists { case (a, b) => a == 4L || b == 4L } shouldBe false
  }
}
