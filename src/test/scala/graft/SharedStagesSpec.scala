package graft

/** Pins the SharedStages memo contract: one materialization per
  * (session, dir, stage) — the in-session rendering of a pipeline's
  * materialized intermediate tables — and test-isolation via clear(). */
class SharedStagesSpec extends SparkTestBase {

  private val d = "/root/testdata/sf0.001"

  test("stages are memoized per (session, dir) and reset by clear()") {
    SharedStages.clear()
    try {
      val a = SharedStages.minhashSignatures(spark, d)
      val b = SharedStages.minhashSignatures(spark, d)
      assert(a eq b, "second call must return the memoized DataFrame")
      val p1 = SharedStages.verifiedPairs(spark, d)
      assert(p1 eq SharedStages.verifiedPairs(spark, d))
      SharedStages.clear()
      assert(!(a eq SharedStages.minhashSignatures(spark, d)),
        "clear() must drop the memo")
    } finally SharedStages.clear()
  }

  test("the memoized pair graph agrees with a from-scratch rebuild") {
    SharedStages.clear()
    try {
      val memod = SharedStages.verifiedPairs(spark, d)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sigs = graft.dedup.MinHashLSH
        .signatures(Tables.documents(spark, d), "doc_id", "text")
      val fresh = graft.dedup.MinHashLSH
        .verifiedPairs(graft.dedup.MinHashLSH.candidatePairs(sigs, "doc_id"),
          sigs, "doc_id", 0.5)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(memod == fresh)
    } finally SharedStages.clear()
  }

  test("component labels cover exactly the nodes of the pair graph") {
    SharedStages.clear()
    try {
      val pairs = SharedStages.verifiedPairs(spark, d)
        .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      val labeled = SharedStages.componentLabels(spark, d)
        .collect().map(_.getLong(0)).toSet
      assert(labeled == pairs)
    } finally SharedStages.clear()
  }

  test("clear() drops driver-side models and deletes on-disk stores") {
    SharedStages.clear()
    try {
      // booleans, not `eq` inside assert: a failure would print the model
      val u = SharedStages.unigramDeepTrained(spark, d)
      val memoized = u eq SharedStages.unigramDeepTrained(spark, d)
      assert(memoized, "second call must return the memoized model")
      val store = java.nio.file.Paths.get(SharedStages.noveltyGramStore(spark, d, 5, 8))
      assert(java.nio.file.Files.isDirectory(store))
      SharedStages.clear()
      assert(!java.nio.file.Files.exists(store), "clear() must delete the on-disk store")
      val rebuilt = !(u eq SharedStages.unigramDeepTrained(spark, d))
      assert(rebuilt, "clear() must drop driver-side models")
    } finally SharedStages.clear()
  }

  test("the build ledger charges each stage its own seconds, not its nested builds'") {
    SharedStages.clear()
    try {
      val chain = Seq("sigs", "cands", "pairs05")
      val before = SharedStages.buildSeconds(d)
      val t0 = System.nanoTime()
      SharedStages.verifiedPairs(spark, d) // cold: builds sigs → cands → pairs05
      val wall = (System.nanoTime() - t0) / 1e9
      val paid = SharedStages.buildSeconds(d).map { case (n, sec) =>
        n -> (sec - before.getOrElse(n, 0.0)) }.filter(_._2 > 0)
      assert(chain.forall(paid.contains), s"cold call must build $chain, built $paid")
      assert(paid.values.sum <= wall,
        f"stage build seconds ${paid.values.sum}%.3f exceed the call's wall $wall%.3f s: $paid")
    } finally SharedStages.clear()
  }
}
