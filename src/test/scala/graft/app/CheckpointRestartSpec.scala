package graft.app

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase

/** ST5: checkpointed offset tracking across a query restart (SURVEY
  * §2.7 — Structured Streaming's upgrade over the reference's
  * at-least-once consumer). The sink is a plain APPEND: if the restarted
  * query reprocessed the first batch, rows would duplicate and the
  * assertion would catch it. */
class CheckpointRestartSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("device_uuid", StringType), StructField("timestamp", LongType)))

  test("restart from checkpoint resumes offsets, no reprocessing") {
    val root = Files.createTempDirectory("ckpt-restart")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val ckpt = root.resolve("ckpt").toString
    val outDir = root.resolve("out").toString

    def writeBatch(name: String, ids: Range): Unit = {
      val lines = ids.map(i => s"""{"device_uuid":"d$i","timestamp":$i}""")
      Files.write(srcDir.resolve(name), String.join("\n", lines: _*).getBytes)
    }
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(srcDir.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) b.write.mode("append").parquet(outDir)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    writeBatch("a.json", 1 to 3)
    runOnce()
    writeBatch("b.json", 4 to 6)
    runOnce() // fresh query object, same checkpoint

    val got = spark.read.parquet(outDir)
      .select($"timestamp").as[Long].collect().sorted.toSeq
    assert(got == (1L to 6L), s"expected exactly-once 1..6, got $got")
  }
}
