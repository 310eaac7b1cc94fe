package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Hash-bucketed upsert store: the scale path for the reference's
  * upsert-by-id session document sink (`kafkaConsumer.js:304-307`,
  * K4) when no transactional table format (Delta/Iceberg MERGE) is on
  * the classpath.
  *
  * Layout: `<path>/b<k>/` — one parquet directory per hash bucket of
  * the key. An upsert rewrites ONLY the buckets containing the batch's
  * keys: per-batch cost is O(batch + touched-bucket bytes), not the
  * O(store) of a whole-store rewrite. With `numBuckets` sized so each
  * bucket fits executor memory, a micro-batch touching d devices
  * rewrites at most min(d, numBuckets) buckets regardless of store
  * size; untouched buckets are never read.
  *
  * Each touched bucket promotes through a rename-aside protocol
  * ([[promote]]: `b<k>_old` kept until the new generation is live),
  * so a crash mid-promote loses no prior rows — the in-flight
  * micro-batch is replayed from the streaming checkpoint. Single
  * writer; readers go through [[read]] for recovery.
  *
  * The true O(batch) production swap-in remains a MERGE-capable table
  * format; the call shape here is identical (upsert(batch, keys)).
  */
object BucketStore {

  private def bucketDir(path: String, b: Int) = s"$path/b$b"

  /** Promote staged `tmp` to `path` without a window in which both the
    * old and the new generation are unreachable: the live generation is
    * renamed aside to `path_old`, not deleted, until the new one is
    * live. Single writer per path; readers recover via [[readMany]]. */
  private def promote(fs: FileSystem, tmp: String, path: String): Unit = {
    val dst = new Path(path)
    val old = new Path(path + "_old")
    fs.delete(old, true) // stale backup from a completed promote
    if (fs.exists(dst)) fs.rename(dst, old)
    fs.rename(new Path(tmp), dst)
    fs.delete(old, true)
  }

  private def bucketCol(keyCols: Seq[String], numBuckets: Int) =
    pmod(hash(keyCols.map(col): _*), lit(numBuckets))

  /** The placement hash columns: `bucketCols`, else the key. */
  private def placement(keyCols: Seq[String], bucketCols: Seq[String]) =
    if (bucketCols.isEmpty) keyCols else bucketCols

  /** The one staged write of every bucket-promoting writer: `rows`
    * (carrying `__bucket`) land partitioned by bucket under the staging
    * root `tmpRoot` in one job, each staged bucket of `buckets`
    * promotes into `dest` through [[promote]] (a bucket with no staged
    * rows goes to `unstaged`), and the root is deleted last — a root
    * left behind would keep [[readMany]] re-probing every unwritten
    * bucket and [[isEmptyStore]] false. */
  private def stageAndPromote(rows: DataFrame, tmpRoot: String, dest: String,
                              buckets: Seq[Int])(unstaged: Int => Unit): Unit = {
    val fs = FileSystem.get(rows.sparkSession.sparkContext.hadoopConfiguration)
    rows.write.mode("overwrite").partitionBy("__bucket").parquet(tmpRoot)
    buckets.foreach { b =>
      val staged = s"$tmpRoot/__bucket=$b"
      if (fs.exists(new Path(staged))) promote(fs, staged, bucketDir(dest, b))
      else unstaged(b)
    }
    fs.delete(new Path(tmpRoot), true)
  }

  /** Staging roots of EVERY writer that promotes buckets through the
    * rename-aside protocol on `path`: [[upsert]] stages at `_tmp`,
    * [[evict]] at `_evt`. One shared helper so the reader's in-flight
    * check and the writers' staging paths can never drift — readMany's
    * race-free final pass is only race-free if it probes the staging
    * root of whichever writer may be mid-promote (an evict promotes
    * through the same dst→_old two-rename window as an upsert, so a
    * reader that only watched `_tmp` could take the final pass during
    * an evict and silently resolve a surviving bucket to None).
    * [[rebucket]] writes to a FRESH root (`newPath + "_tmp"`) and never
    * touches `path`'s buckets, so it needs no entry here. */
  private def upsertStaging(path: String) = path + "_tmp"
  private def evictStaging(path: String) = path + "_evt"
  private def stagingRoots(path: String): Seq[String] =
    Seq(upsertStaging(path), evictStaging(path))

  /** Resolve-loop telemetry (process-wide, measurement only): how often
    * the bounded re-probe in [[readMany]] actually runs, and how deep.
    * `resolves` counts per-bucket resolutions, `reProbes` the extra
    * loop iterations taken beyond the first live/old pass (0 on every
    * uncontended read), `maxReProbes` the deepest single resolution.
    * Bench and perfbench's `sink.reprobes` publish these so the race
    * fix's cost at scale is a recorded distribution, not a guess. */
  private val resolveCount = new java.util.concurrent.atomic.AtomicLong
  private val reProbeCount = new java.util.concurrent.atomic.AtomicLong
  private val maxReProbe = new java.util.concurrent.atomic.AtomicLong
  final case class ProbeStats(resolves: Long, reProbes: Long, maxReProbes: Long)
  def probeStats(): ProbeStats =
    ProbeStats(resolveCount.get(), reProbeCount.get(), maxReProbe.get())
  def resetProbeStats(): Unit = {
    resolveCount.set(0); reProbeCount.set(0); maxReProbe.set(0)
  }

  /** Recovering read of many buckets as ONE relation: every resolved
    * bucket generation dir (live, else its `_old` backup) goes into a
    * single multi-path parquet scan — one FileIndex, one plan leaf.
    * (The former shape union'd one scan PER bucket: at 64 buckets the
    * serialized plan reached ~35 MiB per task binary, and any
    * projection chain above it was replicated into every union branch
    * by CollapseProject.) Row order may differ across generations —
    * stores are keyed sets, no caller is order-sensitive. Schema is
    * explicit: inference would pay a footer-read job per read (the
    * caller always knows the store schema).
    *
    * Per-bucket resolution RE-PROBES the live dir after an `_old`
    * miss, in a bounded loop: the promote protocol
    * ([[promote]]: dst→_old, tmp→dst, delete _old) has
    * a window where a single exists(dst)-then-exists(_old) pass sees
    * NEITHER — dst checked between the two renames, _old checked
    * after the final delete — and a one-pass reader would silently
    * drop that bucket from a SUCCESSFUL read (caught by
    * ConcurrentTenantsSpec's reader-under-live-writer test: "read
    * lost keys mid-promote"). With a single writer, dst is absent
    * only inside the two-rename window, so a written bucket resolves
    * within a probe or two; a genuinely unwritten bucket pays a few
    * cheap exists calls and resolves to nothing.
    *
    * A resolved dir can still vanish between resolution and the scan's
    * file listing, and Spark lists a root that vanished after its
    * existence check as EMPTY (HadoopFSUtils: "was not found. Was it
    * deleted very recently?"). Every promoted bucket holds at least one
    * part-file, so a resolved dir with no file in the scan's listing
    * raced a promote: the read re-resolves, and after a few such races
    * fails loudly (the documented recovery-not-atomicity contract:
    * callers retry) — never a silent loss of the bucket's rows. A file
    * that vanishes after the listing fails the scan itself. */
  private def readMany(spark: SparkSession, path: String, buckets: Seq[Int],
                       schema: StructType): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def resolve(b: Int): Option[String] = {
      resolveCount.incrementAndGet()
      val live = bucketDir(path, b)
      val old = live + "_old"
      var probe = 0
      def note(): Unit = if (probe > 0) {
        reProbeCount.addAndGet(probe.toLong)
        var cur = maxReProbe.get()
        while (probe > cur && !maxReProbe.compareAndSet(cur, probe.toLong))
          cur = maxReProbe.get()
      }
      try {
        while (probe < 64) {
          if (fs.exists(new Path(live))) return Some(live)
          if (fs.exists(new Path(old))) return Some(old)
          // Neither generation visible. If NO bucket-promoting writer is
          // in flight (every staging root is gone — upsert's `_tmp` AND
          // evict's `_evt`, both via [[stagingRoots]]; each exists from
          // its batch write until after its last bucket's promote), no
          // transitions are in progress, so ONE more live/old pass is
          // race-free: either the bucket resolves (the earlier misses
          // straddled the just-finished promote) or it is genuinely
          // unwritten / fully evicted — a few cheap exists calls, no
          // sleeps. Otherwise a promote may be mid-rename: back off
          // briefly and re-probe. A writer that CRASHED mid-promote
          // always leaves dst or _old (the backup delete is the last
          // step), so the loop can only exhaust on a crashed writer's
          // stale staging root: fall through to "unwritten", matching
          // the crash-recovery contract.
          if (!stagingRoots(path).exists(r =>
              fs.exists(new Path(r)))) {
            if (fs.exists(new Path(live))) return Some(live)
            if (fs.exists(new Path(old))) return Some(old)
            return None
          }
          probe += 1
          Thread.sleep(2)
        }
        None
      } finally note()
    }
    def dirOf(p: Path) = fs.makeQualified(p).toUri.getPath
    def scan(attempt: Int): DataFrame = {
      val dirs = buckets.flatMap(resolve)
      if (dirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        val df = spark.read.schema(schema).parquet(dirs: _*)
        val listed = df.inputFiles.map(f =>
          dirOf(new Path(new java.net.URI(f)).getParent)).toSet
        val vanished = dirs.filterNot(d => listed(dirOf(new Path(d))))
        if (vanished.isEmpty) df
        else if (attempt < 3) scan(attempt + 1)
        else throw new IllegalStateException(
          s"BucketStore read of $path raced a promote: ${vanished.mkString(", ")} " +
            "listed no files")
      }
    }
    scan(0)
  }

  /** Replace-on-key upsert touching only the batch's hash buckets.
    * `bucketCols` (default: the key) chooses the PLACEMENT hash — pass
    * the probe key when the store is probed by a prefix of the row key
    * (e.g. rows keyed (band, bucket, doc_id) probed by (band, bucket));
    * bucketing by the full key would scatter a probe key's rows across
    * buckets the pruned read never opens. */
  def upsert(spark: SparkSession, batch: DataFrame, path: String,
             keyCols: Seq[String], numBuckets: Int = 64,
             bucketCols: Seq[String] = Nil): Unit = {
    val cols = placement(keyCols, bucketCols)
    val touched = touchedBuckets(batch, cols, numBuckets)
    if (touched.isEmpty) return

    val existing = readMany(spark, path, touched, batch.schema)
    val merged = existing
      .join(batch.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
      .unionByName(batch)
      .withColumn("__bucket", bucketCol(cols, numBuckets))

    // one job writes every touched bucket's new generation. Repartition
    // on the bucket column first: otherwise every shuffle partition that
    // holds rows of a bucket emits its own part-file (32 fragments per
    // bucket per batch — compounding small-files fragmentation that
    // every later read of the bucket pays for). One task per touched
    // bucket writes one coherent file; a bucket too big for one task is
    // a numBuckets sizing problem, not a write-parallelism one. Each
    // bucket then promotes independently via rename-aside.
    stageAndPromote(merged.repartition(touched.length, col("__bucket")),
      upsertStaging(path), path, touched)(_ => ())
  }

  /** Whole-store read with per-bucket crash recovery. */
  def read(spark: SparkSession, path: String, schema: StructType,
           numBuckets: Int = 64): DataFrame =
    readMany(spark, path, 0 until numBuckets, schema)

  /** The bucket ids a probe batch's keys hash into (≤ numBuckets ints —
    * a driver-side list, same bound as [[upsert]]'s touched set). */
  def touchedBuckets(batch: DataFrame, keyCols: Seq[String],
                     numBuckets: Int = 64): Seq[Int] =
    batch.select(bucketCol(keyCols, numBuckets).as("__b")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq

  /** True when `path` holds no bucket generation AND no bucket-promoting
    * writer is in flight (no staging root) — probing such a store is a
    * no-op, so callers can skip computing the touched-bucket set (an
    * action over the probe batch) entirely. Mirrors [[readMany]]'s race
    * discipline: a writer's staging root exists from its batch write
    * until after its last promote, so "no children and no staging" is a
    * stable empty-store certificate under the single-writer contract
    * (a reader racing a store's FIRST write linearizes to reading
    * before it — the same outcome the per-bucket resolve loop gives). */
  def isEmptyStore(spark: SparkSession, path: String): Boolean = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def stagingLive() = stagingRoots(path).exists(r =>
      fs.exists(new Path(r)))
    if (stagingLive()) return false
    val p = new Path(path)
    val listedEmpty = !fs.exists(p) || fs.listStatus(p).isEmpty
    // check-staging, list, check-staging: a first write racing this
    // probe previously went unseen whenever its whole
    // stage→promote→cleanup cycle began after the single staging check
    // — re-checking staging AFTER an empty listing catches any writer
    // still in flight at that point, shrinking the unseen window from
    // the full check→list span to the list→re-check gap. The documented
    // contract is unchanged (single writer per pipeline; a reader
    // racing a store's first write linearizes to reading before it) —
    // this just makes the multi-process probe conservative where it is
    // cheap to be.
    listedEmpty && !stagingLive()
  }

  /** Pruned read of only the named buckets — the probe path: a lookup
    * batch reads the buckets its keys hash into, never the store.
    * `buckets` is BY-NAME: the touched-bucket set is itself a Spark
    * action over the probe batch (distinct + collect), so an empty or
    * absent store skips that job outright — the first batch of every
    * standing-store pipeline (and every fresh-store one-shot like the
    * batch curation funnel) probes 4 stores that do not exist yet, and
    * previously paid 4 full probe-batch scans to learn nothing. */
  def readBuckets(spark: SparkSession, path: String, schema: StructType,
                  buckets: => Seq[Int]): DataFrame = {
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    if (isEmptyStore(spark, path)) empty
    else {
      val bs = buckets
      if (bs.isEmpty) empty else readMany(spark, path, bs, schema)
    }
  }

  // ------------------------------------------------------------ lifecycle
  // A standing store written by an unbounded stream only ever GROWS
  // under upsert: rows never expire and the bucket count is fixed at
  // creation, so each bucket's bytes climb until a bucket no longer
  // fits one task — the batch analogue of an unbounded Redis keyspace.
  // The reference bounds its per-key state with TTL eviction
  // (`EX 300`, kafkaConsumer.js:43,300); [[evict]] is that policy for
  // horizon-bounded stores, and [[rebucket]] is the re-spread for
  // stores whose RETAINED set legitimately grows. Both are O(store)
  // maintenance passes (bucket-parallel, one job) meant to run every
  // K batches / on a [[stats]] trigger — per-batch cost stays
  // O(batch + touched buckets), with maintenance amortized. The
  // production swap-in (a MERGE-capable table format) owns these as
  // DELETE WHERE + table rewrite; call shapes identical.

  /** Per-bucket lifecycle stats (driver-side, ≤ numBuckets rows): live
    * bytes + file count per bucket — the trigger input for
    * [[rebucket]] (bucket bytes approaching one task's memory) without
    * reading any data files. */
  final case class BucketStat(bucket: Int, files: Int, bytes: Long)
  def stats(spark: SparkSession, path: String,
            numBuckets: Int = 64): Seq[BucketStat] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    (0 until numBuckets).flatMap { b =>
      val dir = new Path(bucketDir(path, b))
      if (!fs.exists(dir)) None
      else {
        val parts = fs.listStatus(dir)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        Some(BucketStat(b, parts.length, parts.map(_.getLen).sum))
      }
    }
  }

  /** Retention pass: rewrite the store keeping only rows matching
    * `keep` (e.g. `col("doc_id") > horizon`) — TTL eviction for
    * horizon-bounded stores. Placement is unchanged (`bucketCols`
    * must match the store's upsert placement); every surviving bucket
    * promotes through the same rename-aside protocol as [[upsert]],
    * and a bucket whose rows are ALL evicted is removed outright (its
    * backup too — those rows are expired by definition, so the crash
    * window loses nothing a replay needs). Single writer, like
    * upsert. Returns rows kept. */
  def evict(spark: SparkSession, path: String, schema: StructType,
            keep: org.apache.spark.sql.Column, keyCols: Seq[String],
            numBuckets: Int = 64, bucketCols: Seq[String] = Nil): Long = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val live = (0 until numBuckets).filter { b =>
      fs.exists(new Path(bucketDir(path, b))) ||
        fs.exists(new Path(bucketDir(path, b) + "_old"))
    }
    if (live.isEmpty) return 0L
    val survivors = readMany(spark, path, live, schema)
      .filter(keep)
      .withColumn("__bucket",
        bucketCol(placement(keyCols, bucketCols), numBuckets))
      // one coherent file per surviving bucket (the upsert discipline)
      .repartition(live.length, col("__bucket"))
      .localCheckpoint() // one pass: the write below + the count
    stageAndPromote(survivors, evictStaging(path), path, live) { b =>
      fs.delete(new Path(bucketDir(path, b)), true)
      fs.delete(new Path(bucketDir(path, b) + "_old"), true)
    }
    survivors.count()
  }

  /** Measure→act decision for [[rebucket]] (the lsh_width discipline —
    * tuning knobs get derived decisions, not caller-picked constants):
    * the smallest power-of-two multiple of `buckets` whose per-bucket
    * row load fits `rowBudget`. Exact integer arithmetic, mirrored
    * column-for-column by the `store_rebucket_gate` oracle; the
    * byte-level trigger input ([[stats]] — what production watches,
    * since "fits one task" is a byte bound) drives the same ladder via
    * bytes/rowBudget scaling at the call site. */
  def rebucketDecision(nRows: Long, buckets: Int, rowBudget: Long): Int = {
    require(buckets > 0 && rowBudget > 0)
    var chosen = buckets
    while (nRows > chosen.toLong * rowBudget && chosen < (1 << 30))
      chosen *= 2
    chosen
  }

  /** Re-spread a store into a different bucket count at a NEW path —
    * the maintenance move for a store whose retained set outgrew its
    * creation-time bucket count (or shrank far below it). Writing to
    * a fresh root keeps the move crash-safe with no mixed-generation
    * window: the old store stays fully readable until the caller
    * switches paths (the table-format swap-in owns this as a
    * transactional rewrite). Probe/upsert against the new path must
    * use `toBuckets`. */
  def rebucket(spark: SparkSession, path: String, newPath: String,
               schema: StructType, keyCols: Seq[String],
               fromBuckets: Int, toBuckets: Int,
               bucketCols: Seq[String] = Nil): Unit = {
    val rows = read(spark, path, schema, fromBuckets)
      .withColumn("__bucket",
        bucketCol(placement(keyCols, bucketCols), toBuckets))
      .repartition(toBuckets, col("__bucket"))
    stageAndPromote(rows, newPath + "_tmp", newPath, 0 until toBuckets)(_ => ())
  }
}
