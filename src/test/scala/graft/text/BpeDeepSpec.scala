package graft.text

import scala.collection.mutable.ArrayBuffer

import graft.SparkTestBase

/** Deep BPE training ([[BpeDeep]]) through the one merge loop
  * ([[BpeTrain.trainFromWords]]): the capped candidate table must be
  * the exact (freq DESC, word) top-k, and both a 1024-merge run and the
  * real shallow table at [[BpeTrain.NMerges]] must match an INDEPENDENT
  * array-based reference that models the delimited-string replace
  * semantics symbol-by-symbol — the evidence that the loop is correct
  * at realistic depth and on the corpus, not just on fixtures. */
class BpeDeepSpec extends SparkTestBase {
  private val S = BpeTrain.Sep

  // deterministic synthetic vocabulary: 3000 pseudo-words with skewed
  // frequencies — enough pair mass for 1024 merges
  private def synthWords(n: Int): Seq[(String, Long)] = {
    val alpha = "abcdefgh"
    (0 until n).map { i =>
      var x = i * 2654435761L % 100003
      val len = 4 + (x % 9).toInt
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        x = (x * 6364136223846793005L + 1442695040888963407L) >>> 3
        sb += alpha(((x % 8) + 8).toInt % 8)
      }
      (sb.toString, (i % 7 + 1).toLong)
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
      .sortBy(_._1)
  }

  // Independent reference: symbol-ARRAY trainer modelling the
  // two-pass literal string replace exactly — one string-replace pass
  // consumes the shared delimiter, so the symbol immediately after a
  // merge cannot START the next match in the same pass (the documented
  // self-pair-run matching of BpeTrain).
  private def refRewrite(xs: Array[String], a: String, b: String): Array[String] = {
    def onePass(in: Array[String]): Array[String] = {
      val out = new ArrayBuffer[String](in.length)
      var i = 0
      while (i < in.length) {
        if (i + 1 < in.length && in(i) == a && in(i + 1) == b) {
          out += a + b
          i += 2
          // shared-delimiter block: the next symbol is copied unmatched
          if (i < in.length) { out += in(i); i += 1 }
        } else { out += in(i); i += 1 }
      }
      out.toArray
    }
    onePass(onePass(xs))
  }

  private def refTrain(words0: Seq[(Array[String], Long)], nMerges: Int)
  : Seq[(Int, String, String, Long)] = {
    var words = words0
    (1 to nMerges).map { rank =>
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (xs, f) =>
        var j = 0
        while (j < xs.length - 1) {
          val k = (xs(j), xs(j + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + f)
          j += 1
        }
      }
      val ((a, b), c) = cnt.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      words = words.map { case (xs, f) => (refRewrite(xs, a, b), f) }
      (rank, a, b, c)
    }
  }

  test("1024-merge deep run matches the independent array-based reference") {
    val raw = synthWords(3000)
    val deep = BpeTrain.trainFromWords(
      raw.map { case (w, f) => (BpeTrain.delimit(w), f) }, 1024, Nil)
    val ref = refTrain(
      raw.map { case (w, f) => (w.map(_.toString).toArray, f) }, 1024)
    assert(deep.merges.size == 1024)
    val firstDiff = deep.merges.zip(ref).indexWhere { case (x, y) => x != y }
    assert(firstDiff == -1,
      s"diverged at merge $firstDiff: deep=${deep.merges(math.max(firstDiff, 0))} ref=${ref(math.max(firstDiff, 0))}")
    // the real sf0.001 shallow table, trained as bpe_train trains it
    val table = BpeTrain.wordTable(spark, "/root/testdata/sf0.001")
    val shallow = graft.SharedStages.bpeTrained(spark, "/root/testdata/sf0.001")
    val refShallow = refTrain(
      table.map { case (sym, f) => (sym.split(S).filter(_.nonEmpty), f) },
      BpeTrain.NMerges)
    assert(shallow.merges == refShallow,
      s"shallow table diverges:\n  got ${shallow.merges}\n  ref $refShallow")
  }

  test("depthPieces: ladder checkpoints match an independent replay") {
    val raw = synthWords(3000)
    val deep = BpeTrain.trainFromWords(
      raw.map { case (w, f) => (BpeTrain.delimit(w), f) }, BpeDeep.DeepMerges,
      BpeDeep.DepthLadder)
    assert(deep.depthPieces.map(_._1) == BpeDeep.DepthLadder)
    // independent replay: apply the reference rewrite and total symbols
    val want = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var rank = 0
    var state = raw.map { case (w, f) => (w.map(_.toString).toArray, f) }
    BpeDeep.DepthLadder.foreach { d =>
      // advance the reference trainer from the previous checkpoint
      val merges = deep.merges.slice(rank, d)
      merges.foreach { case (_, a, b, _) =>
        state = state.map { case (xs, f) => (refRewrite(xs, a, b), f) }
      }
      rank = d
      want += ((d, state.iterator.map { case (xs, f) => xs.length.toLong * f }.sum))
    }
    assert(deep.depthPieces == want.toSeq,
      s"piece totals diverge: got ${deep.depthPieces} want $want")
    // deeper vocabularies never segment worse on the training table
    val ps = deep.depthPieces.map(_._2)
    assert(ps.zip(ps.tail).forall { case (a, b) => b <= a })
  }

  test("chooseDepth: both branches of the depth gate") {
    // compression plateaus after 64 → the gate STAYS at the smallest
    // rung within 5% of the deepest
    assert(BpeDeep.chooseDepth(
      Map(32 -> 1000L, 64 -> 820L, 128 -> 815L, 256 -> 810L)) == 64)
    // every rung still >5% worse than the deepest → the gate keeps depth
    assert(BpeDeep.chooseDepth(
      Map(32 -> 1000L, 64 -> 900L, 128 -> 860L, 256 -> 800L)) == 256)
    // boundary: exactly 5% is within the margin (≤, not <)
    assert(BpeDeep.chooseDepth(
      Map(32 -> 840L, 64 -> 830L, 128 -> 820L, 256 -> 800L)) == 32)
  }

  test("cappedWords: marker-joined chunks, exact (freq DESC, chunk) top-k") {
    val d = "/root/testdata/sf0.001"
    val got = BpeDeep.cappedWords(spark, d)
    assert(got.size <= BpeDeep.CapWords && got.nonEmpty)
    // recompute the chunking independently (driver-side fold over the
    // raw texts) and compare the full capped table
    val texts = graft.Tables.documents(spark, d)
      .select("text").collect().map(_.getString(0))
    val cnt = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach { t =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      toks.grouped(BpeDeep.ChunkWords).foreach { g =>
        val chunk = BpeDeep.Marker + g.mkString(BpeDeep.Marker)
        if (chunk.matches("^[A-Za-z0-9_]+$"))
          cnt.update(chunk, cnt.getOrElse(chunk, 0L) + 1L)
      }
    }
    val want = cnt.toSeq.sortBy { case (w, f) => (-f, w) }
      .take(BpeDeep.CapWords)
      .map { case (w, f) => (BpeTrain.delimit(w), f) }
    assert(got == want)
    // delimited shape: every char wrapped, trailing separator; chunks
    // start with the marker symbol
    assert(got.head._1.startsWith(S + BpeDeep.Marker) && got.head._1.endsWith(S))
    // and the corpus supports the full deep run (the reason chunks
    // exist: the 31-word lexicon dries word-level BPE at ~90 merges)
    val deep = BpeTrain.trainFromWords(got, BpeDeep.DeepMerges, Nil)
    assert(deep.merges.size == BpeDeep.DeepMerges)
  }
}
