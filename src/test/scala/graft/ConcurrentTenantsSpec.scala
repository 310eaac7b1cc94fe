package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame

/** Concurrent-tenant discipline (r16 verdict item #4): a 100 TB
  * deployment is never single-query, and the two places concurrency
  * could bite in this library are (1) the SharedStages localCheckpoint
  * memo — cold-start races must produce one deterministic table, not
  * interleaved corruption — and (2) the BucketStore write/read
  * protocol, whose documented contract is single-writer PER STORE with
  * recovery-safe readers. This spec pins both, plus end-to-end query
  * parity when N tenants drive the same session simultaneously.
  */
class ConcurrentTenantsSpec extends SparkTestBase {

  private val d = "/root/testdata/sf0.001"

  /** Order-independent canonical form of a query result. */
  private def canon(df: DataFrame): Vector[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toVector

  private def inParallel[T](n: Int)(work: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val futures = (0 until n).map { i =>
        pool.submit(new Callable[T] { def call(): T = work(i) })
      }
      futures.map(_.get(600, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("four tenants running memo-heavy queries concurrently match the sequential baseline") {
    // A cross-section of the registry that exercises the shared memo
    // chain (minhash sigs -> pairs -> components; quantized -> gram ->
    // pca -> abtt) alongside plain relational work.
    val names = Seq("dedup_minhash_lsh", "dedup_components", "abtt_pairs",
      "whiten_gate", "embed_cosine_pairs", "dedup_exact", "lang_id",
      "bm25_topk", "pack_chunks", "q1_pricing_summary")
    SharedStages.clear()
    try {
      val baseline: Map[String, Vector[String]] =
        names.map(n => n -> canon(SparkEntry.queries(n)(spark, d))).toMap
      // fresh memo so the concurrent run replays cold builds too
      SharedStages.clear()
      val perTenant = inParallel(4) { i =>
        // each tenant runs the full set, rotated so no two tenants are
        // in lockstep on the same query
        val rotated = names.drop(i % names.size) ++ names.take(i % names.size)
        rotated.map(n => n -> canon(SparkEntry.queries(n)(spark, d))).toMap
      }
      perTenant.zipWithIndex.foreach { case (m, i) =>
        names.foreach { n =>
          assert(m(n) == baseline(n), s"tenant $i diverged on $n")
        }
      }
    } finally SharedStages.clear()
  }

  test("a cold SharedStages memo built by four racing tenants yields one deterministic table") {
    SharedStages.clear()
    try {
      // all four hit the deepest shared chain simultaneously from cold:
      // quantized -> gram -> pcaTopK -> abtt residuals -> pair join
      val results = inParallel(4) { _ =>
        canon(SparkEntry.queries("abtt_pairs")(spark, d))
      }
      assert(results.toSet.size == 1,
        "racing cold builds must all observe the same table")
      // the memo settled on ONE DataFrame: later callers get it by eq
      val a = SharedStages.pcaTopK(spark, d)
      val b = SharedStages.pcaTopK(spark, d)
      assert(a == b)
    } finally SharedStages.clear()
  }

  test("four tenants writing four DISTINCT BucketStores concurrently keep exact per-store state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bs_tenants").toString
    val keys = 0L until 60L
    inParallel(4) { i =>
      val path = s"$root/store$i"
      (1 to 3).foreach { gen =>
        val batch = keys.map(k => (k, gen.toLong * 1000 + i)).toDF("k", "v")
        graft.sink.BucketStore.upsert(spark, batch, path, Seq("k"), numBuckets = 8)
      }
      i
    }
    (0 until 4).foreach { i =>
      val schema = Seq((0L, 0L)).toDF("k", "v").schema
      val got = graft.sink.BucketStore.read(spark, s"$root/store$i", schema, 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet == keys.toSet, s"store$i lost keys")
      assert(got.values.toSet == Set(3000L + i),
        s"store$i must hold exactly its own final generation")
    }
  }

  test("readers under a live single writer always see a full, generation-valid store") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("bs_rw").toString + "/store"
    val schema = Seq((0L, 0L)).toDF("k", "v").schema
    val keys = 0L until 120L
    val gens = 5
    def write(gen: Int): Unit = graft.sink.BucketStore.upsert(spark,
      keys.map(k => (k, gen.toLong)).toDF("k", "v"), path, Seq("k"), numBuckets = 8)
    write(1) // readers start against a complete first generation
    @volatile var writerDone = false
    val pool = Executors.newFixedThreadPool(4)
    try {
      val writer = pool.submit(new Callable[Unit] { def call(): Unit = {
        (2 to gens).foreach(write); writerDone = true
      }})
      val readers = (0 until 3).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          var reads = 0
          while (!writerDone) {
            // The promote protocol keeps a bucket readable via its
            // `_old` generation, but readMany's exists-then-scan has a
            // benign window when a promote lands mid-plan — the
            // documented contract is recovery, not lock-free
            // atomicity, so a transient read failure retries; what
            // must NEVER happen is a SUCCESSFUL read with torn data.
            val rows =
              try graft.sink.BucketStore.read(spark, path, schema, 8)
                .collect().map(r => r.getLong(0) -> r.getLong(1))
              catch { case _: Throwable => Array.empty[(Long, Long)] }
            if (rows.nonEmpty) {
              reads += 1
              val m = rows.toMap
              assert(rows.length == m.size, "duplicate keys in one read")
              assert(m.keySet == keys.toSet, "read lost keys mid-promote")
              assert(m.values.forall(v => v >= 1L && v <= gens),
                "value outside any written generation")
            }
          }
          reads
        }
      }))
      writer.get(600, TimeUnit.SECONDS)
      val totalReads = readers.map(_.get(600, TimeUnit.SECONDS)).sum
      assert(totalReads > 0, "readers must have observed the store under writes")
    } finally pool.shutdownNow()
    val fin = graft.sink.BucketStore.read(spark, path, schema, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin.keySet == keys.toSet && fin.values.toSet == Set(gens.toLong))
  }

  test("readers under a live EVICT never silently lose surviving keys") {
    // The r18 readMany fix watched only upsert's `_tmp` staging root;
    // evict() promotes buckets through the SAME dst→_old two-rename
    // window but stages at `_evt` — so a reader could take the
    // "race-free" final pass mid-evict and silently resolve a SURVIVING
    // bucket to None (r18 ADVICE, medium). Both roots now come from one
    // stagingRoots helper; this test races full reads against a
    // writer alternating upsert and evict, asserting every successful
    // read contains ALL never-evicted keys.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("bs_ev").toString + "/store"
    val schema = Seq((0L, 0L)).toDF("k", "v").schema
    val persistent = 0L until 100L   // keep-filter always retains these
    val ephemeral = 100L until 120L  // evicted each pass
    val all = persistent ++ ephemeral
    val gens = 3
    def write(gen: Int): Unit = graft.sink.BucketStore.upsert(spark,
      all.map(k => (k, gen.toLong)).toDF("k", "v"), path, Seq("k"), numBuckets = 8)
    write(1)
    @volatile var writerDone = false
    val pool = Executors.newFixedThreadPool(4)
    try {
      val writer = pool.submit(new Callable[Unit] { def call(): Unit = {
        (2 to gens).foreach { g =>
          graft.sink.BucketStore.evict(spark, path, schema,
            col("k") < 100L, Seq("k"), numBuckets = 8)
          write(g)
        }
        writerDone = true
      }})
      val readers = (0 until 3).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          var reads = 0
          while (!writerDone) {
            val rows =
              try graft.sink.BucketStore.read(spark, path, schema, 8)
                .collect().map(r => r.getLong(0) -> r.getLong(1))
              catch { case _: Throwable => Array.empty[(Long, Long)] } // loud window: retry
            if (rows.nonEmpty) {
              reads += 1
              val m = rows.toMap
              assert(rows.length == m.size, "duplicate keys in one read")
              // ephemeral keys legitimately come and go; surviving keys
              // must NEVER vanish from a successful read
              assert(persistent.forall(m.contains),
                s"read lost surviving keys mid-evict: missing " +
                  s"${persistent.filterNot(m.contains).take(5)}")
              assert(m.values.forall(v => v >= 1L && v <= gens),
                "value outside any written generation")
            }
          }
          reads
        }
      }))
      writer.get(600, TimeUnit.SECONDS)
      val totalReads = readers.map(_.get(600, TimeUnit.SECONDS)).sum
      assert(totalReads > 0, "readers must have observed the store under evicts")
    } finally pool.shutdownNow()
    val fin = graft.sink.BucketStore.read(spark, path, schema, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin.keySet == all.toSet && fin.values.toSet == Set(gens.toLong))
  }
}
