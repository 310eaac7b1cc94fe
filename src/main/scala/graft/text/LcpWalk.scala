package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One walk record: `kind` 0 = an adjacent different-doc pair with its
  * token LCP; 1/2 = a partition's first/last suffix (boundary rows the
  * driver stitches). Top-level case class — encoder codegen cannot
  * access nested/private state classes. */
case class LcpRec(kind: Int, pid: Int, doc_a: Long, doc_b: Long,
                  lcp: Int, suf: Seq[String])

/** Distributed exact longest-shared-span via ONE global suffix sort +
  * LCP walk — the full-depth completion of the fixed-W suffix-array
  * pass ([[SuffixArray]]) that `dup_span_ladder` brackets with four
  * rungs. This is the shape of the published distributed pipeline
  * (Lee et al., ''Deduplicating Training Data Makes Language Models
  * Better'': global suffix order, adjacent-entry LCPs):
  *
  *   1. every token position contributes a suffix capped at `cap`
  *      tokens, prefiltered to positions whose `min`-token prefix
  *      window is duplicated across ≥2 documents — exactness-
  *      preserving, because a cross-doc LCP ≥ min implies exactly such
  *      a duplicated window, and spans < min are below the report
  *      floor anyway; candidates are ∝ duplicated positions, never
  *      corpus size;
  *   2. `repartitionByRange` + sort on the token-array column = a
  *      GLOBAL suffix order split into contiguous ranges (the
  *      distributed suffix "array"); each partition walks its run
  *      once, emitting the LCP of every adjacent different-doc pair;
  *   3. the single missing adjacency per partition boundary is
  *      stitched from each partition's first/last row — 2·partitions
  *      bounded rows to the driver.
  *
  * Correctness rests on the standard suffix-array lemma: in any sorted
  * suffix set, the maximum LCP between a document's suffix and any
  * other document's suffix is attained at an adjacent pair whose two
  * sides belong to different documents (walking from the maximizing
  * pair toward its partner, the first document change yields an
  * adjacent different-doc pair with LCP ≥ the original) — so per-doc
  * MAX over adjacent different-doc pairs is the true max over ALL
  * different-doc pairs, independent of how either engine breaks ties
  * in the sort. That order-independence is what lets DuckDB mirror
  * this with `lag() OVER (ORDER BY suf)` under its own collation.
  */
object LcpWalk {

  /** Leading-equal-token count of two (already cap-bounded) arrays. */
  def lcp(a: Seq[String], b: Seq[String]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a(i) == b(i)) i += 1
    i
  }

  /** (doc_id, m): per-doc max LCP with another doc's suffix, over the
    * candidate suffixes in `cand` (doc_id, suf). Docs absent from
    * `cand` (or with every candidate matched only below the caller's
    * floor) simply don't appear — callers left-join the doc table. */
  /** The globally-ordered suffix layout: ONE range exchange, then an
    * in-partition sort — exposed so PlanSpec can pin the single-pass
    * shape. `numPartitions` override exists for boundary stress tests
    * (forcing many partitions, incl. single-row ones). */
  def sortedSuffixes(cand: DataFrame,
                     numPartitions: Option[Int] = None): DataFrame = {
    val ranged = numPartitions match {
      case Some(n) => cand.repartitionByRange(n, col("suf"))
      case None    => cand.repartitionByRange(col("suf"))
    }
    ranged.sortWithinPartitions(col("suf"))
      .select(col("doc_id"), col("suf"))
  }

  def maxSharedSpan(cand: DataFrame,
                    numPartitions: Option[Int] = None): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    val sorted = sortedSuffixes(cand, numPartitions)
      .as[(Long, Seq[String])]
    val walked = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val out = List.newBuilder[LcpRec]
      var prev: (Long, Seq[String]) = null
      var first: (Long, Seq[String]) = null
      while (it.hasNext) {
        val cur = it.next()
        if (prev == null) first = cur
        else if (prev._1 != cur._1)
          out += LcpRec(0, pid, prev._1, cur._1, lcp(prev._2, cur._2), null)
        prev = cur
      }
      if (first != null) {
        out += LcpRec(1, pid, first._1, 0L, 0, first._2)
        out += LcpRec(2, pid, prev._1, 0L, 0, prev._2)
      }
      out.result().iterator
    }
    val walkedDf = spark.createDataFrame(walked).localCheckpoint()

    // boundary stitch: ≤ 2·partitions rows — link each non-empty
    // partition's last suffix to the next non-empty partition's first
    val bnd = walkedDf.filter(col("kind") > 0)
      .select(col("kind"), col("pid"), col("doc_a"), col("suf"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getSeq[String](3)))
      .sortBy(_._2)
    val byPid = bnd.groupBy(_._2).toSeq.sortBy(_._1)
    val stitched = byPid.sliding(2).flatMap {
      case Seq((_, a), (_, b)) =>
        val last = a.find(_._1 == 2).get
        val firstN = b.find(_._1 == 1).get
        if (last._3 != firstN._3)
          Seq((last._3, lcp(last._4, firstN._4)),
            (firstN._3, lcp(last._4, firstN._4)))
        else Seq.empty
      case _ => Seq.empty
    }.toSeq

    val pairSides = walkedDf.filter(col("kind") === 0)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"),
        col("lcp"))
    val all =
      if (stitched.isEmpty) pairSides
      else pairSides.unionByName(
        stitched.toDF("doc_id", "lcp").select(col("doc_id"), col("lcp")))
    all.groupBy(col("doc_id")).agg(max(col("lcp")).as("m"))
  }
}
