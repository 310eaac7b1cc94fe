package graft.text

import graft.SparkTestBase

/** Deep unigram training ([[UnigramDeep]]): the one EM loop
  * ([[UnigramTrain.trainFromWords]]) run with the deep constants must
  * keep full character coverage, respect the KeepDeep capacity, and be
  * deterministic; and the depth-matched comparison against BpeDeep
  * must compare the identical chunk multiset (the tok_deep_gate
  * bpe_freq = uni_freq cross-check, pinned here at fixture scale). */
class UnigramDeepSpec extends SparkTestBase {
  private def trainDeep(chunks: Seq[(String, Long)]): UnigramTrain.Trained =
    UnigramTrain.trainFromWords(chunks, UnigramDeep.MaxPieceLenDeep,
      UnigramDeep.SeedDeep, UnigramDeep.KeepDeep, UnigramDeep.EmRounds)

  // deterministic synthetic chunk table: marker-joined pseudo-chunks
  // with skewed frequencies, alphabet-gated like the capped table
  private def synthChunks(n: Int): Seq[(String, Long)] = {
    val alpha = "abcdef"
    (0 until n).map { i =>
      var x = i * 2654435761L % 100003
      val words = (0 until 3).map { _ =>
        x = (x * 6364136223846793005L + 1442695040888963407L) >>> 3
        val len = 2 + (x % 5).toInt
        (0 until len).map { k =>
          x = (x * 6364136223846793005L + 1442695040888963407L) >>> 3
          alpha(((x % 6) + 6).toInt % 6)
        }.mkString
      }
      ("_" + words.mkString("_"), (i % 5 + 1).toLong)
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
      .filter(_._1.length <= UnigramDeep.MaxChunkLen)
      .sortBy(_._1)
  }

  test("deep EM trains, covers every char, caps the multi vocab, deterministic") {
    val chunks = synthChunks(500)
    val t1 = trainDeep(chunks)
    val t2 = trainDeep(chunks)
    assert(t1.vocab == t2.vocab && t1.segmented == t2.segmented,
      "deep EM must be deterministic")
    val chars = chunks.flatMap(_._1.toSeq).distinct.map(_.toString).toSet
    val vocabSet = t1.vocab.map(_._1).toSet
    assert(chars.subsetOf(vocabSet), "coverage: every corpus char kept")
    val multis = t1.vocab.count(_._1.length >= 2)
    assert(multis > 0 && multis <= UnigramDeep.KeepDeep,
      s"multi-piece vocab $multis outside (0, ${UnigramDeep.KeepDeep}]")
    // every chunk segments exactly back to itself
    t1.segmented.foreach { case (w, _, ps) =>
      assert(ps.mkString("") == w, s"pieces of $w do not concatenate back")
    }
    // the reported usage is the final pass's usage
    val u = scala.collection.mutable.HashMap.empty[String, Long]
    t1.segmented.foreach { case (_, f, ps) =>
      ps.foreach(p => u.update(p, u.getOrElse(p, 0L) + f))
    }
    t1.vocab.foreach { case (p, n, _) =>
      assert(n == u.getOrElse(p, 0L), s"usage mismatch for $p")
    }
  }

  test("depth-matched gate compares the identical chunk multiset") {
    val chunks = synthChunks(400)
    val delim = chunks.map { case (w, f) => (BpeTrain.delimit(w), f) }
    val bpe = BpeTrain.trainFromWords(delim, 32, Nil)
    val uni = trainDeep(UnigramTrain.wordsFrom(bpe, UnigramDeep.MaxChunkLen))
    val bpeF = bpe.finalWords.iterator
      .filter(_._1.replace(BpeTrain.Sep, "").length <= UnigramDeep.MaxChunkLen)
      .map(_._2).sum
    val uniF = uni.segmented.iterator.map(_._2).sum
    assert(bpeF == uniF, s"gate cross-check: bpe_freq $bpeF != uni_freq $uniF")
  }
}
