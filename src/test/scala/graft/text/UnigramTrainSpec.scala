package graft.text

import graft.SparkTestBase

/** Unit twin for the unigram-LM trainer: the oracle gate
  * (unigram_train/unigram_tokenize) proves Spark ≡ DuckDB on the
  * replayed training; THIS spec proves the fixed-point machinery is
  * right (ilog2q8 against real log2, Viterbi against hand fixtures)
  * and the EM run on real data holds its structural invariants. */
class UnigramTrainSpec extends SparkTestBase {

  private def seg(word: String, vocab: Map[String, Long]): Seq[String] =
    UnigramTrain.segment(word, vocab, UnigramTrain.MaxPieceLen)

  test("ilog2q8 is exact on powers of two and within 1/128 elsewhere") {
    for (k <- 0 to 53)
      assert(UnigramTrain.ilog2q8(1L << k) == 256L * k)
    val probe = Seq(3L, 7L, 10L, 100L, 999L, 123456L, (1L << 40) + 12345L)
    probe.foreach { x =>
      val got = UnigramTrain.ilog2q8(x).toDouble / 256.0
      val want = math.log(x.toDouble) / math.log(2.0)
      assert(math.abs(got - want) < 1.0 / 128.0, s"ilog2q8($x): $got vs $want")
    }
    // monotone non-decreasing over a dense range
    var prev = Long.MinValue
    for (x <- 1L to 2000L) {
      val v = UnigramTrain.ilog2q8(x)
      assert(v >= prev, s"not monotone at $x")
      prev = v
    }
  }

  test("viterbi picks the higher-probability split") {
    // 'ab' as one piece scores better than a + b separately
    val v = Map("a" -> -300L, "b" -> -300L, "ab" -> -400L, "c" -> -200L)
    assert(seg("abc", v) == Seq("ab", "c"))
    // make the single chars cheap enough and they win instead
    val v2 = Map("a" -> -100L, "b" -> -100L, "ab" -> -400L, "c" -> -200L)
    assert(seg("abc", v2) == Seq("a", "b", "c"))
  }

  test("viterbi ties break toward the smallest split point") {
    // 'a'+'aa' vs 'aa'+'a': both cost s(a)+s(aa). At j=3 the candidates
    // are (i=1, 'aa', −300) and (i=2, 'a', −300) — the tie breaks to the
    // SMALLEST i, so the final piece is 'aa' and the backtrace yields
    // ['a', 'aa']. The oracle's ROW_NUMBER ... ORDER BY val DESC, bp ASC
    // encodes the same choice.
    val v = Map("a" -> -100L, "aa" -> -200L)
    assert(seg("aaa", v) == Seq("a", "aa"))
  }

  test("unknown character violates the gate contract loudly") {
    val v = Map("a" -> -100L)
    val e = intercept[IllegalArgumentException](seg("ab", v))
    assert(e.getMessage.contains("missing"))
  }

  test("the real corpus trains with the structural invariants") {
    val t = graft.SharedStages.unigramTrained(spark, "/root/testdata/sf0.001")
    val pieces = t.vocab.map(_._1)
    assert(pieces.distinct.size == pieces.size)
    val chars = pieces.filter(_.length == 1)
    val multi = pieces.filter(_.length >= 2)
    assert(chars.nonEmpty, "coverage set empty")
    assert(multi.nonEmpty, "no multi-char piece survived the prune")
    assert(multi.size <= UnigramTrain.KeepMulti)
    // log-probs are negative (no piece carries the whole corpus mass)
    assert(t.vocab.forall(_._3 < 0L))
    // every multi-char survivor was actually used in round B or lost
    // to round-B competition (n >= 0 always; total usage > 0)
    assert(t.vocab.map(_._2).sum > 0L)
    // fertility sanity: pieces per word between 1 and word length
    t.segmented.foreach { case (w, _, ps) =>
      assert(ps.size >= 1 && ps.size <= w.length, s"'$w' segmented into ${ps.size} pieces")
      assert(ps.mkString("") == w, s"'$w' pieces don't concatenate back")
    }
  }

  test("the shallow unigram trains on exactly the BPE table's words <= MaxWordLen") {
    // tok_compare's bpe_freq = uni_freq cross-check, word by word,
    // against an independent driver-side recount of the gated corpus
    val d = "/root/testdata/sf0.001"
    val cnt = scala.collection.mutable.HashMap.empty[String, Long]
    graft.Tables.documents(spark, d).select("text").collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
      .filter(w => w.matches("[A-Za-z0-9]+") && w.length <= UnigramTrain.MaxWordLen)
      .foreach(w => cnt.update(w, cnt.getOrElse(w, 0L) + 1L))
    val want = cnt.toSeq.sorted
    val bpe = BpeTrain.segmented(graft.SharedStages.bpeTrained(spark, d))
      .collect { case (w, f, _) if w.length <= UnigramTrain.MaxWordLen => (w, f) }
    val uni = graft.SharedStages.unigramTrained(spark, d).segmented
      .map { case (w, f, _) => (w, f) }
    assert(bpe.sorted == want)
    assert(uni.sorted == want)
    // the length gate itself (no corpus word reaches it): a BPE table
    // with a word one past MaxWordLen keeps the word AT the cap only
    val edge = "b" * UnigramTrain.MaxWordLen
    val long = "a" * (UnigramTrain.MaxWordLen + 1)
    val t = BpeTrain.trainFromWords(
      Seq((edge, 3L), (long, 2L), ("ab", 5L))
        .map { case (w, f) => (BpeTrain.delimit(w), f) }, 2, Nil)
    assert(UnigramTrain.wordsFrom(t, UnigramTrain.MaxWordLen).sorted ==
      Seq(("ab", 5L), (edge, 3L)))
  }

  test("tok_gate: verdict matches the exact cross-multiplied fertility order") {
    val Array(row) = graft.SparkEntry
      .queries("tok_gate")(spark, "/root/testdata/sf0.001").collect()
    val bp = row.getLong(row.fieldIndex("bpe_pieces"))
    val bf = row.getLong(row.fieldIndex("bpe_freq"))
    val up = row.getLong(row.fieldIndex("uni_pieces"))
    val uf = row.getLong(row.fieldIndex("uni_freq"))
    val chosen = row.getString(row.fieldIndex("chosen"))
    assert(bp >= bf && up >= uf, "fertility below 1 is impossible")
    val expect = if (bp * uf <= up * bf) "bpe" else "unigram"
    assert(chosen == expect, s"chosen $chosen, evidence ($bp/$bf vs $up/$uf)")
  }
}
