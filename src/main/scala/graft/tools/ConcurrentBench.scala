package graft.tools

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.functions._

/** Multi-tenant throughput + parity sweep (r16 verdict item #4): runs
  * the full registry under N concurrent tenant threads sharing one
  * session (FAIR scheduler pools, one per tenant) and reports
  *
  *   - wall seconds per tenant count (the contention curve), and
  *   - PARITY: an order-independent content hash of every query's
  *     result at each N, compared to the N=1 hashes — the memo and
  *     store disciplines must give byte-identical answers under
  *     contention, not just "no crash".
  *
  * The hash is computed DISTRIBUTED (sum of per-row xxhash64 + count —
  * order-independent, no driver-side collect of data-proportional
  * size), so the sweep itself follows the library's own scale rules.
  *
  * With `--writer` (round-17 verdict item #4 — "a 100 TB deployment
  * mixes ingest and query continuously"), every tenant sweep ALSO runs
  * one live ingest thread: a continuous loop of BucketStore generation
  * upserts into a scratch store, each followed by a full read-back
  * asserting the store is complete and generation-valid (the
  * reader-under-live-writer contract, exercised at data scale instead
  * of only in ConcurrentTenantsSpec's fixture). The writer is an
  * EXTRA thread on top of the N query tenants; parity for the query
  * results is still asserted against the baseline, and the JSON
  * records how many write+verify generations landed during each sweep.
  *
  * Usage: ConcurrentBench <sfDir> [tenantCounts=1,2,4] [--writer]
  * Prints one JSON line:
  *   {"metric":"concurrent","sf":...,"tenants":{"1":s,"2":s,"4":s},
  *    "parity":true,"queries":N,"sha":...
  *    [,"writer_gens":{"1":g1,...},"writer_reads_ok":true]}
  */
object ConcurrentBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val loadStart = graft.Bench.loadAvg()
    val withWriter = args.contains("--writer")
    val tenantCounts = (if (args.length > 1 && !args(1).startsWith("--")) args(1)
                        else "1,2,4")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.GraftSession.builder()
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter { n =>
        sys.env.get("SPARK_GRAFT_BENCH_ONLY")
          .map(_.split(",").map(_.trim).toSet)
          .forall(_.contains(n))
      }

    /** Order-independent content hash: (sum of row hashes, row count).
      * Deterministic because every registry query is value-deterministic
      * (each is DuckDB-hash-verified). The per-row hashes accumulate in
      * DECIMAL(38,0): Spark 4's ANSI mode makes a plain Long sum of
      * xxhash64 values throw ARITHMETIC_OVERFLOW on any real result
      * set, and 38 digits leave ~10^18 rows of headroom over the
      * ±9.2e18 hash range. */
    def contentHash(name: String): (String, Long) = {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val r = df.select(
        sum(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).cast("decimal(38,0)")).as("h"),
        count(lit(1)).as("n")).head()
      (if (r.isNullAt(0)) "0" else r.getDecimal(0).toBigInteger.toString,
        r.getLong(1))
    }

    // warmup: JIT + codegen + memoized shared stages, exactly like
    // Bench — the sweep measures contention, not cold builds. Warms
    // against the TARGET sfDir (so the shared-stage memo entries the
    // tenants will hit are the ones built here), and a warmup failure
    // is loud: a query that throws here will throw in the sweep too,
    // and silently measuring cold builds would skew the curve.
    names.foreach { n =>
      try contentHash(n)
      catch {
        case e: Throwable =>
          System.err.println(
            s"[concurrent] WARNING warmup of $n on $sfDir threw: " +
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }

    var baseline: Map[String, (String, Long)] = Map.empty
    var parity = true
    var writerOk = true
    val walls = scala.collection.mutable.LinkedHashMap[Int, Double]()
    val writerGens = scala.collection.mutable.LinkedHashMap[Int, Long]()
    val writerVerified = scala.collection.mutable.LinkedHashMap[Int, Long]()
    val writerReadFails = scala.collection.mutable.LinkedHashMap[Int, Long]()

    /** Continuous ingest: generation upserts into a fresh scratch
      * BucketStore, each verified by a full read-back (complete key
      * set, generation-valid values) before the next. A transient read
      * failure (the promote protocol's documented loud-error window)
      * retries; a SUCCESSFUL read with missing/torn keys trips
      * writerOk — the silent-loss failure mode BucketStore.readMany's
      * resolve loop exists to kill, asserted here under real registry
      * contention at data scale. */
    final class Writer extends Thread {
      @volatile var halt = false
      @volatile var gens = 0L
      @volatile var verified = 0L  // generations whose read-back PASSED
      @volatile var readFails = 0L // read attempts that threw (loud window)
      private val WriterKeys = 5000L
      private val path =
        java.nio.file.Files.createTempDirectory("cb_writer").toString + "/store"
      override def run(): Unit = {
        import spark.implicits._
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "ingest")
        val schema = Seq((0L, 0L)).toDF("k", "v").schema
        val keys = (0L until WriterKeys).toDF("k")
        var gen = 0L
        while (!halt) {
          gen += 1
          graft.sink.BucketStore.upsert(spark,
            keys.select(col("k"), lit(gen).as("v")), path, Seq("k"),
            numBuckets = 16)
          // The read runs AFTER upsert() returned with a single writer,
          // so the store must hold EXACTLY this generation for every
          // key: v == gen, not v <= gen — a bucket stuck at a stale
          // generation is a lost update, precisely what this verifies.
          val rows =
            try Some(graft.sink.BucketStore.read(spark, path, schema, 16)
              .collect().map(r => r.getLong(0) -> r.getLong(1)))
            catch { case _: Throwable => readFails += 1; None } // loud window: retry next gen
          rows.foreach { rs =>
            val m = rs.toMap
            if (rs.length != m.size || m.keySet != (0L until WriterKeys).toSet ||
                !m.values.forall(_ == gen)) {
              writerOk = false
              System.err.println(
                s"[concurrent] WRITER READ TORN at gen=$gen: ${rs.length} rows, " +
                  s"${m.size} keys, gens=${m.values.toSet.toSeq.sorted.take(8)}")
            } else verified += 1
          }
          gens = gen
        }
      }
    }

    tenantCounts.foreach { n =>
      val pool = Executors.newFixedThreadPool(n)
      val writer = if (withWriter) Some(new Writer) else None
      writer.foreach(_.start())
      val t0 = System.nanoTime()
      val results =
        try {
          val futures = (0 until n).map { i =>
            pool.submit(new Callable[Map[String, (String, Long)]] {
              def call(): Map[String, (String, Long)] = {
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"tenant$i")
                // rotate so tenants never run the same query in lockstep —
                // real tenants don't; lockstep would hide memo races
                val rotated = names.drop((i * names.size) / math.max(n, 1)) ++
                  names.take((i * names.size) / math.max(n, 1))
                rotated.map(q => q -> contentHash(q)).toMap
              }
            })
          }
          futures.map(_.get(7200, TimeUnit.SECONDS))
        } finally {
          pool.shutdownNow() // non-daemon threads must never outlive a failed run
          writer.foreach { w => w.halt = true; w.join(600000) }
        }
      walls(n) = (System.nanoTime() - t0) / 1e9
      writer.foreach { w =>
        writerGens(n) = w.gens
        writerVerified(n) = w.verified
        writerReadFails(n) = w.readFails
        // Zero verified generations while the writer produced any means
        // every read-back failed or was skipped — "no data verified"
        // must never masquerade as writer_reads_ok.
        if (w.gens > 0 && w.verified == 0) {
          writerOk = false
          System.err.println(
            s"[concurrent] WRITER n=$n: ${w.gens} gens but ZERO verified " +
              s"read-backs (${w.readFails} read failures) — reads_ok=false")
        }
      }
      if (baseline.isEmpty) baseline = results.head
      results.zipWithIndex.foreach { case (m, i) =>
        names.foreach { q =>
          if (m(q) != baseline(q)) {
            parity = false
            System.err.println(
              s"[concurrent] PARITY BREAK n=$n tenant=$i query=$q: " +
                s"${m(q)} != ${baseline(q)}")
          }
        }
      }
      System.err.println(f"[concurrent] n=$n wall=${walls(n)}%.1f s parity=$parity")
    }

    def dec(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val tj = walls.map { case (n, s) => s""""$n":${dec(s)}""" }.mkString("{", ",", "}")
    val load = s""""load":{"start":${dec(loadStart)},"end":${dec(graft.Bench.loadAvg())},"host_cpus":${Runtime.getRuntime.availableProcessors}}"""
    val writerJson =
      if (!withWriter) ""
      else {
        def lm(m: scala.collection.Map[Int, Long]) =
          m.map { case (n, g) => s""""$n":$g""" }.mkString("{", ",", "}")
        s""","writer_gens":${lm(writerGens)},"writer_verified":${lm(writerVerified)}""" +
          s""","writer_read_fails":${lm(writerReadFails)},"writer_reads_ok":$writerOk"""
      }
    val ps = graft.sink.BucketStore.probeStats()
    val probeJson = if (ps.resolves == 0L) "" else
      s""","store_probes":{"resolves":${ps.resolves},"reprobes":${ps.reProbes},"max_reprobe":${ps.maxReProbes}}"""
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop() catch { case _: Throwable => () }
    println(s"""{"metric":"concurrent","sf":"$sfDir","tenants":$tj,"parity":$parity,"queries":${names.size},"sha":"${graft.Checkout.sha}",$load$writerJson$probeJson}""")
  }
}
