package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A stateless streaming twin: `stream` started with every
    * micro-batch run through the batch `kernel` and handed to `sink`. */
  def foreachBatchOf(stream: DataFrame, checkpoint: String)
                    (kernel: DataFrame => DataFrame)
                    (sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) => sink(kernel(batch)) }
      .start()
}
