package graft.embed

import graft.{SparkEntry, SparkTestBase}

/** Empirical recall of the IVF probe-2 search against brute-force kNN —
  * the approximation tradeoff measured, not asserted by folklore. With
  * 8 cells and nprobe=2 the probed fraction is ~25% of the corpus, so
  * recall well above that fraction demonstrates the cells actually
  * cluster the space (assignment by real cosine, not random routing).
  */
class IvfRecallSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.01"

  test("ivf_search@5 recall vs exact knn@5 is well above the probed fraction") {
    def pairs(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, sf)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val exact = pairs("knn_topk")
    val ivf = pairs("ivf_search")
    assert(exact.size == 50 && ivf.size == 50)

    val recall = (exact intersect ivf).size.toDouble / exact.size
    info(f"ivf probe-2 recall@5 = $recall%.2f")
    // probing 2 of 8 cells scans ~25%; random routing would land ~0.25
    assert(recall >= 0.5, f"recall $recall%.2f not above random-probe floor")
  }

  test("ivf_nprobe_gate: chooses the smallest sweep point clearing 0.9") {
    val rows = SparkEntry.queries("ivf_nprobe_gate")(spark, sf)
      .select("nprobe", "t_exact", "t_hit", "recall", "chosen")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.map(_._1).toSet == Set(2, 4, 8))
    // nprobe = 8 probes every cell → a winner always exists
    val full = rows.find(_._1 == 8).get
    assert(full._4 == 1.0, s"nprobe=8 recall ${full._4} != 1.0")
    val chosen = rows.filter(_._5)
    assert(chosen.length == 1, s"expected one winner, got ${chosen.toSeq}")
    val win = chosen.head
    // the winner clears the exact-integer target...
    assert(10 * win._3 >= 9 * win._2, s"winner misses target: $win")
    // ...and every smaller sweep point misses it
    rows.filter(_._1 < win._1).foreach { r =>
      assert(10 * r._3 < 9 * r._2, s"smaller nprobe also clears: $r")
    }
  }

  test("context_pack: per query a contiguous rank prefix, budget-tight") {
    val budget = 256L
    val kept = SparkEntry.queries("context_pack")(spark, sf)
      .select("query_id", "rank", "n_tok", "cum_tok")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(kept.nonEmpty)
    kept.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      // a contiguous prefix of the relevance ranking, starting at 1
      assert(byRank.map(_._2).toSeq == (1L to byRank.length.toLong).toSeq,
        s"query $q kept non-prefix ranks: ${byRank.map(_._2).toSeq}")
      // cum is the running sum and stays within budget
      var cum = 0L
      byRank.foreach { r => cum += r._3; assert(r._4 == cum, s"$q: $r") }
      assert(cum <= budget, s"query $q blew the budget: $cum")
    }
  }

  test("ann_frontier: recall monotone in nprobe, exact at nprobe = 8") {
    val rows = SparkEntry.queries("ann_frontier")(spark, sf)
      .select("nprobe", "query_id", "recall", "n_cand")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byProbe = rows.groupBy(_._1)
    assert(byProbe.keySet == Set(2, 4, 8))
    byProbe.values.foreach(qs => assert(qs.length == 10)) // 10 queries each
    // per query: recall and candidate count both monotone in nprobe
    rows.groupBy(_._2).values.foreach { qr =>
      val sorted = qr.sortBy(_._1)
      assert(sorted.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
        s"recall not monotone: $sorted")
      assert(sorted.map(_._4).sliding(2).forall(p => p(0) <= p(1)),
        s"candidate count not monotone: $sorted")
    }
    // probing all 8 cells IS brute force: recall exactly 1.0
    byProbe(8).foreach { case (_, q, rec, _) =>
      assert(rec == 1.0, s"nprobe=8 recall for query $q was $rec")
    }
    val mean = byProbe.view.mapValues(v => v.map(_._3).sum / v.length).toMap
    info(f"mean recall@5: nprobe2=${mean(2)}%.2f nprobe4=${mean(4)}%.2f nprobe8=${mean(8)}%.2f")
  }

  test("cluster_purity: cells partition the corpus; majority accounting is exact") {
    val rows = SparkEntry.queries("cluster_purity")(spark, sf)
      .select("cell", "n_vecs", "top_label", "top_n", "purity")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty && rows.length <= IvfTrain.K)
    // the cells partition the corpus: sizes sum to the embedding count
    val corpus = graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(_._2).sum == corpus)
    rows.foreach { case (cell, n, _, topN, purity) =>
      assert(topN >= 1 && topN <= n, s"cell $cell: top_n $topN of $n")
      assert(purity == topN.toDouble / n.toDouble)
      assert(purity > 0 && purity <= 1.0)
    }
    val meanPurity = rows.map(_._5).sum / rows.length
    info(f"cells=${rows.length} mean purity=$meanPurity%.2f")
  }

  test("every vector's IVF cell agrees across ivf_assign, cluster_purity, ann_cell_balance and semdedup_prune") {
    def rows(name: String, cols: String*) =
      SparkEntry.queries(name)(spark, sf).select(cols.head, cols.tail: _*)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cell = rows("ivf_assign", "vec_id", "cell").toMap
    assert(cell.size == graft.Tables.embeddings(spark, sf).count())
    val sizes = cell.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows("cluster_purity", "cell", "n_vecs").toMap == sizes)
    assert(rows("ann_cell_balance", "cell", "n_vecs").toMap == sizes)
    val pruned = SparkEntry.queries("semdedup_prune")(spark, sf)
      .select("vec_id", "cell", "witness_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pruned.nonEmpty, "no semantic duplicates to check cells on")
    pruned.foreach { case (v, c, w) =>
      assert(cell(v) == c && cell(w) == c, s"vec $v / witness $w vs cell $c")
    }
  }
}
