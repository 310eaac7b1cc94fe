package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[Tables.load]] reads the schema inference would return, without the
  * Spark job inference runs. */
class TablesSpec extends SparkTestBase {

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val sfDirs = Option(new File("/root/testdata").listFiles()).toSeq
    .flatten.filter(f => f.isDirectory && f.getName.startsWith("sf"))
    .map(_.getPath).sorted

  private def plainSchema(dir: String, t: String) =
    spark.read.parquet(s"$dir/$t.parquet").schema

  test("footer schema equals the inferred schema for every table at every scale") {
    assert(sfDirs.nonEmpty)
    for (d <- sfDirs; t <- names if new File(s"$d/$t.parquet").exists)
      assert(Tables.load(spark, d, t).schema == plainSchema(d, t), s"$d/$t")
  }

  test("footer schema equals the inferred schema for a Spark-written multi-part directory") {
    val dir = Files.createTempDirectory("tables-spec").toString
    for (t <- Seq("customer", "events", "embeddings")) {
      Tables.load(spark, sfDirs.head, t).repartition(2)
        .write.parquet(s"$dir/$t.parquet")
      assert(new File(s"$dir/$t.parquet").list().count(_.endsWith(".parquet")) == 2)
      assert(Tables.load(spark, dir, t).schema == plainSchema(dir, t), t)
    }
  }

  test("with schema merging on, the schema is the merge of every part's footer") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables-merge").toString
    Seq(1L).toDF("a").write.parquet(s"$dir/t.parquet")
    Seq("x").toDF("b").write.mode("append").parquet(s"$dir/t.parquet")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(plainSchema(dir, "t").fieldNames.sorted.toSeq == Seq("a", "b"))
      assert(Tables.load(spark, dir, "t").schema == plainSchema(dir, "t"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a missing table fails exactly as the plain read does") {
    val plain = intercept[Exception](plainSchema("/nonexistent", "region"))
    val loaded = intercept[Exception](Tables.load(spark, "/nonexistent", "region"))
    assert(loaded.getClass == plain.getClass && loaded.getMessage == plain.getMessage)
  }

  /** Job groups of the jobs started while `body` runs under group `tag`. */
  private def jobsIn(tag: String)(body: => Unit): Int = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, tag)
      try body finally sc.clearJobGroup()
      // Listener events arrive in order: once a later sentinel job is
      // seen, every job `body` started has been seen too.
      sc.setJobGroup("sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("sentinel"))
      groups.asScala.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }

  test("loading every table and reading its schema starts no Spark job") {
    val d = sfDirs.head
    assert(jobsIn("plain")(names.foreach(t => plainSchema(d, t))) >= names.size)
    assert(jobsIn("tables") {
      names.foreach(t => Tables.load(spark, d, t).schema)
      Tables.events(spark, d).schema
    } == 0)
  }
}
