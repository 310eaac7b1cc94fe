package graft.text

import graft.SparkTestBase

/** Unit twin for the iterated BPE trainer: the oracle gate
  * (bpe_train/bpe_tokenize) proves Spark ≡ DuckDB on the replayed
  * training; THIS spec proves the training learns the RIGHT merges on
  * the classic hand-computable fixture (Sennrich et al. 2016 §3). */
class BpeTrainSpec extends SparkTestBase {
  private def delimited(words: Seq[(String, Long)]): Seq[(String, Long)] =
    words.map { case (w, f) => (BpeTrain.delimit(w), f) }

  test("learns the textbook merges on the low/lower/newest/widest corpus") {
    // pair counts by hand: (e,s)=9 and (s,t)=9 tie → lexicographic
    // smallest pair wins → "es"; then (es,t)=9 → "est"; then (l,o)=7
    // and (o,w)=7 tie → "lo"
    val wf = delimited(Seq(
      ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L)))
    val t = BpeTrain.trainFromWords(wf, 3, Nil)
    assert(t.merges == Seq(
      (1, "e", "s", 9L),
      (2, "es", "t", 9L),
      (3, "l", "o", 7L)))
  }

  test("vocab reports corpus frequencies under the learned segmentation") {
    val wf = delimited(Seq(
      ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L)))
    val t = BpeTrain.trainFromWords(wf, 3, Nil)
    val v = BpeTrain.vocab(t).toMap
    // after es/est/lo: newest = [n,e,w,est]×6, widest = [w,i,d,est]×3,
    // low = [lo,w]×5, lower = [lo,w,e,r]×2
    assert(v("est") == 9L)
    assert(v("lo") == 7L)
    assert(v("w") == 6L + 3L + 5L + 2L)
    assert(v("e") == 6L + 2L) // the un-merged e's in newest and lower
    assert(!v.contains("es")) // intermediate symbol fully absorbed by est
  }

  test("even self-pair chains merge fully (two-pass rewrite is maximal)") {
    val t = BpeTrain.trainFromWords(delimited(Seq(("aaaa", 1L))), 1, Nil)
    assert(t.merges == Seq((1, "a", "a", 3L))) // 3 adjacent pairs
    val v = BpeTrain.vocab(t).toMap
    assert(v == Map("aa" -> 2L)) // [aa, aa] — no stray single 'a'
  }

  test("odd self-pair chains leave exactly one un-merged symbol") {
    val t = BpeTrain.trainFromWords(delimited(Seq(("aaa", 1L))), 1, Nil)
    val v = BpeTrain.vocab(t).toMap
    assert(v == Map("aa" -> 1L, "a" -> 1L))
  }

  test("the real corpus trains without drying up and ranks are dense") {
    val t = graft.SharedStages.bpeTrained(spark, "/root/testdata/sf0.001")
    assert(t.merges.map(_._1) == (1 to BpeTrain.NMerges))
    // counts are non-increasing is NOT guaranteed across BPE rounds in
    // general, but every learned pair must have a positive count
    assert(t.merges.forall(_._4 > 0))
  }
}
