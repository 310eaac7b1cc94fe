package graft.tools

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Scale evidence for the COMPOSED streaming ingest funnel
  * ([[graft.streaming.StreamingCuration]]): drive `attach` over an SF
  * directory's documents split into N micro-batches (file-source,
  * maxFilesPerTrigger=1), with a mid-run stop + checkpoint restart,
  * and report per-batch wall time, rows, and store growth — the
  * "cost ∝ batch, not store size" argument MEASURED, not extrapolated
  * (BENCH_NOTES.md carries the table).
  *
  * Usage: runMain graft.tools.StreamScale <sfDir> [nBatches] [horizonDocs] [rowBudget]
  * Prints one line per processed micro-batch plus a final equivalence
  * check against the one-shot batch funnel (same flags per source).
  *
  * With `horizonDocs` set, store retention ([[graft.streaming
  * .StreamingCuration.evictStores]]) runs every 2 batches and the
  * per-batch line carries the store row counts — the evidence that
  * store size PLATEAUS at the horizon while per-batch cost stays flat
  * (the funnel-equivalence check is skipped: under a horizon the
  * semantics are deliberately dedup-within-horizon, not global).
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = if (args.length > 1) args(1).toInt else 6
    val horizon = if (args.length > 2) Some(args(2).toLong) else None
    val minTokens = 8
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val work = Files.createTempDirectory("streamscale").toString
    val src = s"$work/in"
    val stores = s"$work/stores"
    val out = s"$work/flags"
    val ckpt = s"$work/ckpt"
    // the root the per-batch store sampler reads — switches to the
    // re-spread root after a mid-run rebucket episode
    @volatile var liveRoot = stores

    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    // one file per slice → maxFilesPerTrigger=1 gives one micro-batch
    // per slice. Slices are CONTIGUOUS doc_id ranges written in
    // ascending order (file source processes oldest-written first), so
    // the stream's earlier-arrival-wins matches the batch funnel's
    // min-doc_id keep-first and the final equivalence check is exact.
    val sliced = docs.withColumn("slice",
      ntile(n).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("doc_id")))).localCheckpoint()
    (1 to n).foreach { k =>
      sliced.filter(col("slice") === k).drop("slice")
        .coalesce(1).write.mode("append").parquet(src)
    }

    // Glob-check before reading: an empty/evicted store is a normal state
    // in horizon mode, and letting the read throw means Spark logs a WARN
    // + stack trace per probe (harmless but it buries the batch table).
    def countStore(stage: String): Long = {
      val p  = new org.apache.hadoop.fs.Path(s"$liveRoot/$stage/b*")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hits = fs.globStatus(p)
      if (hits == null || hits.isEmpty) 0L
      // read the EXPANDED dirs: a glob string makes FileStreamSink's
      // metadata probe stat the literal "b*" path and log a WARN +
      // stack per read, burying the per-batch table
      else spark.read.parquet(hits.map(_.getPath.toString).toSeq: _*).count()
    }

    def storeRowsNow(): Seq[Long] =
      Seq("fp", "band", "sh", "sim").map(countStore)

    val timings = ArrayBuffer[(Long, Long, Double, Seq[Long])]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0)
          timings.synchronized {
            // store sizes only sampled in horizon mode (4 extra counts
            // per batch would perturb the plain-mode timing evidence)
            timings += ((p.batchId, p.numInputRows,
              p.durationMs.getOrDefault("triggerExecution", 0L) / 1000.0,
              if (horizon.isDefined) storeRowsNow() else Nil))
          }
      }
    })

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    def startQuery(root: String = stores,
                   buckets: Int = graft.streaming.StreamingCuration.NumBuckets) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      graft.streaming.StreamingCuration.attach(
        stream, root, out, ckpt, minTokens,
        horizonDocs = horizon, evictEvery = 2, numBuckets = buckets)
    }

    def storeRows(stage: String): Long = countStore(stage)

    // ---- phase 1: run roughly half the batches, then stop (restart seam)
    val q1 = startQuery()
    val half = n / 2
    while (timings.synchronized(timings.size) < half &&
      q1.isActive) Thread.sleep(200)
    q1.stop(); q1.awaitTermination()
    val storesAtStop = Seq("fp", "band", "sh", "sim").map(storeRows)
    println(s"[streamscale] stopped after ${timings.size} batches; " +
      s"store rows fp/band/sh/sim = ${storesAtStop.mkString("/")}")

    // ---- maintenance window at the restart seam (horizon mode): the
    // store_rebucket_gate episode END TO END against the live stores —
    // measure (stats + row count), decide (rebucketDecision, exact
    // integers), act (rebucketStores to a fresh root), assert probe
    // identity through the pruned-read path, and continue the stream
    // against the re-spread layout.
    var phase2Root = stores
    var phase2Buckets = graft.streaming.StreamingCuration.NumBuckets
    if (horizon.isDefined) {
      val sc = graft.streaming.StreamingCuration
      val fpRows = storeRows("fp")
      val st = graft.sink.BucketStore.stats(spark, s"$stores/fp",
        sc.NumBuckets)
      // per-bucket row budget (4th arg; default sized to TRIP at the
      // 100x plateau's ~5-20k fp rows)
      val budget = if (args.length > 3) args(3).toLong else 128L
      val chosen = graft.sink.BucketStore.rebucketDecision(
        fpRows, sc.NumBuckets, budget)
      println(s"[streamscale] rebucket gate: fp rows=$fpRows " +
        s"buckets=${sc.NumBuckets} budget=$budget " +
        s"bytes=${st.map(_.bytes).sum} -> chosen=$chosen " +
        (if (chosen == sc.NumBuckets) "(stay)" else "(TRIP)"))
      if (chosen != sc.NumBuckets) {
        val newRoot = s"$work/stores2"
        val fpSchema = StructType(Seq(
          StructField("fp", StringType), StructField("doc_id", LongType)))
        // expanded dirs, not the glob string (the FileStreamSink
        // metadata-probe WARN gotcha)
        val fpGlob = new org.apache.hadoop.fs.Path(s"$stores/fp/b*")
        val fpDirs = fpGlob.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .globStatus(fpGlob).map(_.getPath.toString).toSeq
        val probeKeys = spark.read.schema(fpSchema)
          .parquet(fpDirs: _*).filter(col("doc_id") % 7 === 0)
          .select("fp").localCheckpoint()
        val moved = sc.rebucketStores(spark, stores, newRoot,
          sc.NumBuckets, chosen)
        def found(root: String, nb: Int): Long =
          graft.sink.BucketStore.readBuckets(spark, s"$root/fp", fpSchema,
              graft.sink.BucketStore.touchedBuckets(probeKeys, Seq("fp"), nb))
            .join(probeKeys, Seq("fp"), "left_semi").count()
        val (before, after) =
          (found(stores, sc.NumBuckets), found(newRoot, chosen))
        println(s"[streamscale] rebucketed $moved rows to $chosen buckets; " +
          s"probe identity ${probeKeys.count()} keys: " +
          s"before=$before after=$after match=${before == after}")
        require(before == after, "probe identity broken across rebucket")
        phase2Root = newRoot
        phase2Buckets = chosen
        liveRoot = newRoot
      }
    }

    // ---- phase 2: restart from the checkpoint, drain the rest
    val q2 = startQuery(phase2Root, phase2Buckets)
    q2.processAllAvailable()
    q2.stop(); q2.awaitTermination()

    timings.synchronized(timings.toSeq).sortBy(_._1).foreach {
      case (id, rows, sec, st) =>
        val stores = if (st.isEmpty) ""
          else s" stores=${st.mkString("/")}"
        println(f"[streamscale] batch=$id rows=$rows sec=$sec%.2f$stores")
    }
    println(s"[streamscale] final store rows fp/band/sh/sim = " +
      Seq("fp", "band", "sh", "sim").map(storeRows).mkString("/"))
    if (horizon.isDefined) {
      // horizon mode: stores are deliberately bounded, so the global
      // funnel equivalence doesn't apply — the plateau table above IS
      // the evidence
      spark.stop(); return
    }

    // ---- equivalence: streamed flags == one-shot batch funnel
    val streamed = graft.streaming.StreamingCuration
      .readFlags(spark, out)
    val streamedCounts = graft.streaming.StreamingCuration
      .funnelCounts(streamed).orderBy("source")
    val oneShotRoot = s"$work/oneshot"
    val oneShot = graft.streaming.StreamingCuration.flagBatch(
      docs, oneShotRoot, minTokens, advance = false)
    val oneShotCounts = graft.streaming.StreamingCuration
      .funnelCounts(oneShot).orderBy("source")
    val a = streamedCounts.collect().map(_.toSeq).toSeq
    val b = oneShotCounts.collect().map(_.toSeq).toSeq
    println(s"[streamscale] streaming == batch funnel counts: ${a == b}")
    if (a != b) {
      println(s"[streamscale] streamed: $a")
      println(s"[streamscale] batch   : $b")
    }
    spark.stop()
  }
}
