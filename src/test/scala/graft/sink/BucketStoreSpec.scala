package graft.sink

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase
import graft.schema.TelemetryModel.{SessionDoc, StatusEvent}
import graft.session.Sessionize

/** K4 scale path: bucketed upsert rewrites only touched hash buckets. */
class BucketStoreSpec extends SparkTestBase {
  import spark.implicits._

  private val N = 8

  test("replace-on-key, keeps unrelated rows, idempotent replay") {
    val dir = Files.createTempDirectory("bstore").toString + "/docs"
    val b1 = Seq(("d1", 10L, 1L), ("d2", 20L, 1L)).toDF("dev", "end_ts", "v")
    BucketStore.upsert(spark, b1, dir, Seq("dev"), N)
    val b2 = Seq(("d2", 99L, 2L), ("d3", 30L, 1L)).toDF("dev", "end_ts", "v")
    BucketStore.upsert(spark, b2, dir, Seq("dev"), N)
    def state() = BucketStore.read(spark, dir, b1.schema, N)
      .select($"dev", $"end_ts", $"v").as[(String, Long, Long)]
      .collect().sorted.toSeq
    assert(state() == Seq(("d1", 10L, 1L), ("d2", 99L, 2L), ("d3", 30L, 1L)))
    BucketStore.upsert(spark, b2, dir, Seq("dev"), N) // replay
    assert(state() == Seq(("d1", 10L, 1L), ("d2", 99L, 2L), ("d3", 30L, 1L)))
  }

  test("untouched buckets are not rewritten (cost ∝ touched buckets)") {
    val dir = Files.createTempDirectory("bstore2").toString + "/docs"
    val big = (1 to 200).map(i => (s"dev-$i", i.toLong, 1L))
      .toDF("dev", "end_ts", "v")
    BucketStore.upsert(spark, big, dir, Seq("dev"), N)

    def listing(b: Int): Seq[(String, Long)] = {
      val d = new File(s"$dir/b$b")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).sorted.toSeq
    }
    val before = (0 until N).map(listing)

    // one key → exactly one touched bucket
    val touched = spark.range(1).select(
      pmod(hash(lit("dev-7")), lit(N)).as("b")).as[Int].head()
    BucketStore.upsert(spark,
      Seq(("dev-7", 999L, 2L)).toDF("dev", "end_ts", "v"),
      dir, Seq("dev"), N)

    (0 until N).foreach { b =>
      if (b == touched) assert(listing(b) != before(b), s"b$b not rewritten")
      else assert(listing(b) == before(b), s"untouched b$b was rewritten")
    }
    val got = BucketStore.read(spark, dir, big.schema, N)
    assert(got.count() == 200)
    assert(got.filter($"dev" === "dev-7").select($"end_ts")
      .as[Long].head() == 999L)
  }

  test("crash mid-promote: the _old generation still serves reads") {
    val dir = Files.createTempDirectory("bstore3").toString + "/docs"
    val b1 = Seq(("d1", 10L, 1L)).toDF("dev", "end_ts", "v")
    BucketStore.upsert(spark, b1, dir, Seq("dev"), N)
    val b = spark.range(1).select(
      pmod(hash(lit("d1")), lit(N)).as("b")).as[Int].head()
    // simulate a crash after "rename live aside" but before "promote new"
    assert(new File(s"$dir/b$b").renameTo(new File(s"$dir/b${b}_old")))
    val got = BucketStore.read(spark, dir, b1.schema, N)
      .select($"dev", $"end_ts").as[(String, Long)].collect().toSeq
    assert(got == Seq(("d1", 10L)))
    // the next upsert heals the bucket
    BucketStore.upsert(spark, b1, dir, Seq("dev"), N)
    assert(new File(s"$dir/b$b").exists())
  }

  test("a resolved bucket whose listing finds no part-file fails the read, never drops it") {
    // What the scan sees when a promote removes the resolved dir between
    // the existence check and the file listing: a bucket with no files.
    val dir = Files.createTempDirectory("bstore_gone").toString + "/docs"
    val b1 = Seq(("d1", 10L, 1L), ("d2", 20L, 1L)).toDF("dev", "end_ts", "v")
    BucketStore.upsert(spark, b1, dir, Seq("dev"), N)
    val b = spark.range(1).select(
      pmod(hash(lit("d1")), lit(N)).as("b")).as[Int].head()
    new File(s"$dir/b$b").listFiles().foreach(f => assert(f.delete()))
    val e = intercept[IllegalStateException](
      BucketStore.read(spark, dir, b1.schema, N).collect())
    assert(e.getMessage.contains(s"b$b"))
  }

  test("evict: retention keeps only matching rows, empties dead buckets") {
    val dir = Files.createTempDirectory("bevict").toString + "/docs"
    val rows = (1 to 200).map(i => (s"dev-$i", i.toLong, 1L))
      .toDF("dev", "end_ts", "v")
    BucketStore.upsert(spark, rows, dir, Seq("dev"), N)
    val bytesBefore = BucketStore.stats(spark, dir, N).map(_.bytes).sum
    assert(BucketStore.stats(spark, dir, N).nonEmpty && bytesBefore > 0)

    // TTL pass: keep the trailing 50 "timestamps"
    val kept = BucketStore.evict(spark, dir, rows.schema,
      $"end_ts" > 150L, Seq("dev"), N)
    assert(kept == 50L)
    val got = BucketStore.read(spark, dir, rows.schema, N)
    assert(got.count() == 50 &&
      got.agg(min($"end_ts")).as[Long].head() == 151L)
    // probes against surviving keys still hit (placement unchanged)
    val probe = BucketStore.readBuckets(spark, dir, rows.schema,
      BucketStore.touchedBuckets(Seq(("dev-200", 0L, 0L))
        .toDF("dev", "end_ts", "v"), Seq("dev"), N))
    assert(probe.filter($"dev" === "dev-200").count() == 1)
    assert(BucketStore.stats(spark, dir, N).map(_.bytes).sum < bytesBefore)

    // evicting everything removes every bucket dir (and its backup)
    assert(BucketStore.evict(spark, dir, rows.schema,
      lit(false), Seq("dev"), N) == 0L)
    assert(BucketStore.stats(spark, dir, N).isEmpty)
    assert(BucketStore.read(spark, dir, rows.schema, N).count() == 0)
  }

  test("evict is idempotent and upserts keep working afterwards") {
    val dir = Files.createTempDirectory("bevict2").toString + "/docs"
    val rows = (1 to 40).map(i => (s"dev-$i", i.toLong, 1L))
      .toDF("dev", "end_ts", "v")
    BucketStore.upsert(spark, rows, dir, Seq("dev"), N)
    BucketStore.evict(spark, dir, rows.schema, $"end_ts" > 20L, Seq("dev"), N)
    // replaying the same eviction (the crash-replay shape) is a no-op
    val again = BucketStore.evict(spark, dir, rows.schema,
      $"end_ts" > 20L, Seq("dev"), N)
    assert(again == 20L)
    BucketStore.upsert(spark,
      Seq(("dev-5", 99L, 2L)).toDF("dev", "end_ts", "v"), dir, Seq("dev"), N)
    val got = BucketStore.read(spark, dir, rows.schema, N)
    assert(got.count() == 21 &&
      got.filter($"dev" === "dev-5").select($"end_ts").as[Long].head() == 99L)
  }

  test("rebucket: re-spread to a new bucket count, probes unchanged") {
    val dir = Files.createTempDirectory("brb").toString + "/docs"
    val dir32 = Files.createTempDirectory("brb").toString + "/docs32"
    val rows = (1 to 200).map(i => (s"dev-$i", i.toLong, 1L))
      .toDF("dev", "end_ts", "v")
    BucketStore.upsert(spark, rows, dir, Seq("dev"), N)
    BucketStore.rebucket(spark, dir, dir32, rows.schema, Seq("dev"), N, 32)
    // identical row set under the new spread
    def all(p: String, nb: Int) = BucketStore.read(spark, p, rows.schema, nb)
      .select($"dev", $"end_ts", $"v").as[(String, Long, Long)]
      .collect().sorted.toSeq
    assert(all(dir32, 32) == all(dir, N))
    // pruned probe path works against the new count
    val probe = BucketStore.readBuckets(spark, dir32, rows.schema,
      BucketStore.touchedBuckets(Seq(("dev-77", 0L, 0L))
        .toDF("dev", "end_ts", "v"), Seq("dev"), 32))
    assert(probe.filter($"dev" === "dev-77").select($"end_ts")
      .as[Long].head() == 77L)
    // and upserts continue at the new granularity
    BucketStore.upsert(spark,
      Seq(("dev-77", 999L, 2L)).toDF("dev", "end_ts", "v"),
      dir32, Seq("dev"), 32)
    assert(BucketStore.read(spark, dir32, rows.schema, 32).count() == 200)
  }

  test("upsert, evict and rebucket leave no staging root; a fully evicted store is empty") {
    // a leftover root keeps readMany re-probing every unwritten bucket
    // and isEmptyStore false for good
    val base = Files.createTempDirectory("bstage").toString
    val (dir, dir16) = (s"$base/docs", s"$base/docs16")
    val rows = (1 to 40).map(i => (s"dev-$i", i.toLong, 1L))
      .toDF("dev", "end_ts", "v")
    def leftovers() = Seq(s"${dir}_tmp", s"${dir}_evt", s"${dir16}_tmp")
      .filter(p => new File(p).exists())
    BucketStore.upsert(spark, rows, dir, Seq("dev"), N)
    assert(leftovers().isEmpty)
    BucketStore.rebucket(spark, dir, dir16, rows.schema, Seq("dev"), N, 16)
    assert(leftovers().isEmpty)
    assert(BucketStore.evict(spark, dir, rows.schema,
      $"end_ts" > 20L, Seq("dev"), N) == 20L)
    assert(leftovers().isEmpty)
    assert(!BucketStore.isEmptyStore(spark, dir))
    assert(BucketStore.evict(spark, dir, rows.schema,
      lit(false), Seq("dev"), N) == 0L)
    assert(leftovers().isEmpty)
    assert(BucketStore.isEmptyStore(spark, dir))
  }

  test("rebucketDecision: exact ladder, stays inside budget, minimal") {
    // inside budget -> stay
    assert(BucketStore.rebucketDecision(100L, 8, 500L) == 8)
    assert(BucketStore.rebucketDecision(4000L, 8, 500L) == 8) // boundary
    // one past the boundary -> first doubling
    assert(BucketStore.rebucketDecision(4001L, 8, 500L) == 16)
    // the sf1/sf10 gate points (documents 50k / 500k at budget 500)
    assert(BucketStore.rebucketDecision(50000L, 8, 500L) == 128)
    assert(BucketStore.rebucketDecision(500000L, 8, 500L) == 1024)
    // chosen is always a power-of-two multiple and minimal
    val c = BucketStore.rebucketDecision(12345L, 8, 100L)
    assert(c == 128 && 12345L <= c.toLong * 100 && 12345L > (c / 2).toLong * 100)
  }

  test("measure-to-act: stats feeds the decision, rebucket acts on it") {
    val dir = Files.createTempDirectory("bgate").toString + "/docs"
    val rows = (1 to 300).map(i => (s"dev-$i", i.toLong, 1L))
      .toDF("dev", "end_ts", "v")
    BucketStore.upsert(spark, rows, dir, Seq("dev"), N)
    // the byte-level trigger input is live for every written bucket
    val st = BucketStore.stats(spark, dir, N)
    assert(st.nonEmpty && st.forall(s => s.bytes > 0 && s.files > 0))
    // a 20-rows-per-bucket budget trips the gate at 300 rows / 8 buckets
    val chosen = BucketStore.rebucketDecision(300L, N, 20L)
    assert(chosen == 16)
    val dirTo = Files.createTempDirectory("bgate").toString + "/docs16"
    BucketStore.rebucket(spark, dir, dirTo, rows.schema, Seq("dev"), N, chosen)
    // probe identity across the move, through the PRUNED read path
    val probeKeys = rows.filter($"end_ts" % 7 === 0).select("dev", "end_ts", "v")
    def found(p: String, nb: Int): Long =
      BucketStore.readBuckets(spark, p, rows.schema,
          BucketStore.touchedBuckets(probeKeys, Seq("dev"), nb))
        .join(probeKeys.select("dev"), Seq("dev"), "left_semi").count()
    assert(found(dir, N) == found(dirTo, chosen) &&
      found(dirTo, chosen) == probeKeys.count())
  }

  test("status stream -> stateful sessions -> bucketed store (3.2 end-to-end)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("bsess").toString + "/sessions"
    val input = MemoryStream[StatusEvent]
    val sessions = Sessionize.stateful(
      input.toDS()
        .withColumn("event_ts", timestamp_seconds($"timestamp"))
        .withWatermark("event_ts", "0 seconds")
        .as[StatusEvent])
    var schema: org.apache.spark.sql.types.StructType = null
    val q = sessions.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SessionDoc], _: Long) =>
        schema = batch.toDF().schema
        BucketStore.upsert(spark, batch.toDF(), dir,
          Seq("device_uuid", "start_timestamp"), N)
      }
      .start()
    try {
      def touch(d: String, t: Long) =
        StatusEvent("device_status", "cable-unplugged", "touch", d, t, None, None)
      input.addData(touch("d1", 1000), touch("d1", 1100))
      q.processAllAvailable()
      input.addData(touch("d1", 5000))
      q.processAllAvailable()
      input.addData(touch("d1", 99999))
      q.processAllAvailable()
      val got = BucketStore.read(spark, dir, schema, N)
        .select($"device_uuid", $"start_timestamp", $"end_timestamp",
          $"n_touches", $"closed_by")
        .as[(String, Long, Long, Long, String)].collect().sorted.toSeq
      assert(got == Seq(
        ("d1", 1000L, 1100L, 2L, "ttl"),
        ("d1", 5000L, 5000L, 1L, "ttl")))
    } finally q.stop()
  }

  test("empty-store probe short-circuits: touched-bucket set never computed") {
    // r19 optimization: readBuckets takes the bucket list BY-NAME and
    // skips it (a distinct+collect Spark action over the probe batch)
    // when the store holds no generation and no writer is staged —
    // the first batch of every standing-store pipeline probes stores
    // that do not exist yet.
    val root = Files.createTempDirectory("bstore_empty").toString
    val missing = root + "/never_written"
    val schema = Seq(("k", 1L)).toDF("dev", "v").schema
    assert(BucketStore.isEmptyStore(spark, missing))
    var evaluated = false
    val out = BucketStore.readBuckets(spark, missing, schema,
      { evaluated = true; Seq(0, 1, 2) })
    assert(out.isEmpty && !evaluated,
      "bucket list must not be evaluated for an absent store")
    // an existing-but-empty scratch dir (newScratchDir creates it) is
    // equally empty ...
    assert(BucketStore.isEmptyStore(spark, root))
    // ... and a written store is not: the probe path reads its rows
    val live = root + "/live"
    BucketStore.upsert(spark, Seq(("d1", 1L)).toDF("dev", "v"), live,
      Seq("dev"), N)
    assert(!BucketStore.isEmptyStore(spark, live))
    val probe = BucketStore.readBuckets(spark, live, schema,
      BucketStore.touchedBuckets(Seq(("d1", 0L)).toDF("dev", "v"),
        Seq("dev"), N))
    assert(probe.select($"dev").as[String].collect().toSeq == Seq("d1"))
  }
}
