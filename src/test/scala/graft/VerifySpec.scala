package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins the correctness-dump failure contract: a throwing query must be
  * LOUD in the artifacts (round 9 silently lost 7 oracle rows when the
  * catch only printed to stderr — the driver's JSON just lacked the
  * keys and the correctness count *grew* while losing the telemetry
  * spine). */
class VerifySpec extends SparkTestBase {

  private def fakeRegistry: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "ok_query" -> ((s, _) => {
        import s.implicits._
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      }),
      "broken_query" -> ((s, _) =>
        s.read.parquet("/nonexistent/deliberately/broken.parquet")))

  test("a throwing query yields an _ERROR marker, an _errors.json entry, and no silent absence") {
    val out = Files.createTempDirectory("verify_spec").toString
    val errors = Verify.dumpAll(spark, "/unused", out, fakeRegistry)

    assert(errors.keySet == Set("broken_query"))
    assert(errors("broken_query").nonEmpty)
    // the failed query's dir exists and carries the marker — a reader
    // looking for parquet there errors instead of skipping the key
    assert(Files.exists(Paths.get(s"$out/broken_query/_ERROR")))
    // the consolidated sidecar names the failure
    val sidecar = Files.readString(Paths.get(s"$out/_errors.json"))
    assert(sidecar.contains("broken_query"))
    // the healthy query dumped normally and is readable back
    val back = spark.read.parquet(s"$out/ok_query")
    assert(back.count() == 2)
  }

  test("a clean run writes an EMPTY _errors.json (checked-and-clean is distinguishable)") {
    val out = Files.createTempDirectory("verify_spec_ok").toString
    val errors = Verify.dumpAll(spark, "/unused", out,
      fakeRegistry.filter(_._1 == "ok_query"))
    assert(errors.isEmpty)
    assert(Files.readString(Paths.get(s"$out/_errors.json")) == "{}")
  }

  test("a failed query's dir is scrubbed of stale part files — a partial dump can never read back as success") {
    val out = Files.createTempDirectory("verify_spec_scrub").toString
    // simulate a partially-committed (or stale previous-run) dump: valid
    // parquet already sits where the failing query will land
    spark.range(5).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/broken_query")
    assert(spark.read.parquet(s"$out/broken_query").count() == 5) // readable pre-scrub
    Verify.dumpAll(spark, "/unused", out, fakeRegistry)
    // marker present, and NO parquet survives — a read now fails loudly
    // instead of returning the stale 5 rows with the marker skipped
    assert(Files.exists(Paths.get(s"$out/broken_query/_ERROR")))
    import scala.jdk.CollectionConverters._
    val leftover = Files.list(Paths.get(s"$out/broken_query")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(leftover == Set("_ERROR"), s"unexpected survivors: $leftover")
    intercept[Exception](spark.read.parquet(s"$out/broken_query").count())
  }

  test("every registry query lands in the dump dir (registry-artifact guard)") {
    val out = Files.createTempDirectory("verify_spec_all").toString
    Verify.dumpAll(spark, "/unused", out, fakeRegistry)
    fakeRegistry.keySet.foreach { name =>
      assert(Files.exists(Paths.get(s"$out/$name")), s"$name missing from dump")
    }
  }
}
