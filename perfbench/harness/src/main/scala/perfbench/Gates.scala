package perfbench

/** The correctness gates, as pure functions over collected outputs so
  * `GateTests` can feed each one a deliberately wrong output. Every
  * mismatch counts as one failed operation. */
object Gates {

  /** Failed records between two multisets of row hashes: a lost or an
    * extra (duplicated) record is one failure, and a changed record —
    * one lost plus one extra — is also one. */
  def multisetFailures(got: Array[Long], want: Array[Long]): Long = {
    val a = got.sorted
    val b = want.sorted
    var i, j = 0
    var missing, extra = 0L
    while (i < a.length || j < b.length) {
      if (j >= b.length || (i < a.length && a(i) < b(j))) { extra += 1; i += 1 }
      else if (i >= a.length || b(j) < a(i)) { missing += 1; j += 1 }
      else { i += 1; j += 1 }
    }
    math.max(missing, extra)
  }

  /** Same rule for any values with equality (session documents). */
  def multisetFailures[T](got: Seq[T], want: Seq[T]): Long = {
    val g = got.groupMapReduce(identity)(_ => 1L)(_ + _)
    val w = want.groupMapReduce(identity)(_ => 1L)(_ + _)
    val keys = g.keySet ++ w.keySet
    val missing = keys.iterator.map(k => math.max(0L, w.getOrElse(k, 0L) - g.getOrElse(k, 0L))).sum
    val extra = keys.iterator.map(k => math.max(0L, g.getOrElse(k, 0L) - w.getOrElse(k, 0L))).sum
    math.max(missing, extra)
  }

  /** Ledger check: each named count that differs from what the generator
    * says it produced is off by |got − want| operations. */
  def ledgerFailures(got: Map[String, Long], want: Map[String, Long]): Long =
    want.map { case (k, w) => math.abs(got.getOrElse(k, 0L) - w) }.sum

  /** Registry check: one failure per query whose fingerprint (row count,
    * order-free row-hash sum) is absent or differs from the expected one. */
  def fingerprintFailures(got: Map[String, (Long, String)],
                          want: Map[String, (Long, String)]): Long =
    got.count { case (q, fp) => !want.get(q).contains(fp) }.toLong
}
