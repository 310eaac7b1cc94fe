package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in its own JVM:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --cores <n> --work <dir> --data <registry data dir>
  *                --out <result.json>
  * }}}
  *
  * Writes `correct`, `attempted`, `failed`, the metrics (end-to-end ones
  * untraced, per-layer ones traced) and an `info` map to `--out`.
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File, data: File, cores: Int,
                        out: File) {
    def dir(name: String): String = {
      val d = new File(work, name); d.mkdirs(); d.getPath
    }
  }

  /** What a workload hands back; `info` goes to the run record only. */
  final case class Outcome(attempted: Long, failed: Long,
                           metrics: Map[String, Double],
                           info: Map[String, Any] = Map.empty)

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val conf = Conf(
      workload = a("workload"), seed = a("seed").toLong,
      seconds = a("seconds").toDouble, trace = a("trace") == "1",
      work = new File(a("work")), data = new File(a("data")),
      cores = a("cores").toInt,
      out = new File(a("out")))
    val run: Conf => Outcome = conf.workload match {
      case "ingest" => Streams.ingest
      case "session_drain" => Streams.sessionDrain
      case "registry" => Registry.run
      case w => sys.error(s"unknown workload $w")
    }
    // Spark's non-daemon threads would keep a failed run's JVM alive
    val o = try run(conf) catch {
      case e: Throwable => e.printStackTrace(); sys.exit(1)
    }
    Json.write(conf.out, Map(
      "correct" -> (o.failed == 0),
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "metrics" -> o.metrics,
      "info" -> (o.info ++ Map(
        "cores" -> conf.cores,
        "jvm" -> System.getProperty("java.runtime.version"),
        "spark" -> org.apache.spark.SPARK_VERSION))))
    sys.exit(0)
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** The program's own session defaults at `local[cores]`. Spark's
    * scratch follows `java.io.tmpdir`, which `run.py` points into the
    * run's work directory, as it does the working directory. */
  def session(cores: Int): SparkSession = {
    val spark = graft.GraftSession.builder(cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Start the generator as its own JVM on this JVM's class path. */
  def spawnGen(conf: Conf, args: Seq[String]): Process = {
    val java = ProcessHandle.current().info().command().orElse("java")
    val cmd = Seq(java, "-Xmx512m", "-XX:+UseSerialGC",
      s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
      "-cp", System.getProperty("java.class.path"), "perfbench.Gen") ++ args
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(new File(conf.work, s"gen-${System.nanoTime()}.log"))
      .start()
  }

  /** Wait for a generator and return its ledger. */
  def awaitGen(p: Process, ledger: File): Map[String, Any] = {
    val rc = p.waitFor()
    require(rc == 0, s"generator exited with $rc")
    Json.read(ledger)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
    }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Keep waiting while `cond` holds, polling every few ms. */
  def waitWhile(cond: => Boolean, timeoutS: Double = 600): Unit = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (cond) {
      require(System.nanoTime() < end, "timed out waiting")
      Thread.sleep(5)
    }
  }

  /** Every per-layer metric, zero where the workload does not touch the
    * layer, so each traced run reports the same names. */
  val PerLayer: Seq[String] = Seq(
    "sources.scan_s", "sources.segment_files", "sources.lag_records_max",
    "ingest.parse_s", "ingest.corrupt_frac",
    "ingest.local1_rows_per_s", "ingest.scaling_x",
    "derive.violation_s", "derive.status_s", "derive.violations_per_record",
    "sink.encode_s", "sink.write_s", "sink.demux_write_ms",
    "sink.upsert_ms", "sink.upsert_total_s", "sink.buckets_touched",
    "sink.store_files", "sink.store_bytes", "sink.reprobes",
    "session.state_rows", "session.state_bytes", "session.commit_ms",
    "session.sessions_closed",
    "stream.batches", "stream.rows_per_batch", "stream.add_batch_ms",
    "stream.planning_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
    "stream.latest_offset_ms", "stream.trigger_wait_ms",
    "gen.late_p99_ms",
    "queries.construct_s", "queries.construct_jobs", "queries.execute_s",
    "queries.jobs", "queries.tasks", "queries.shuffle_bytes",
    "queries.spill_bytes",
    "stages.build_s", "stages.count",
    "self.gen_s", "self.stream_s", "self.sink_s", "self.queries_s",
    "trace.overhead_pct")

  def perLayer(measured: Map[String, Double]): Map[String, Double] = {
    val unknown = measured.keySet -- PerLayer
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    PerLayer.map(k => k -> measured.getOrElse(k, 0.0)).toMap
  }

  /** Seconds since JVM start at named points of a run, for the run record. */
  final class Marks {
    private val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    def apply(name: String): Unit = m(name) = sinceJvmStart
    def toMap: Map[String, Double] = m.toMap
  }

  /** Buffer of doubles shared between a stream thread and the main thread. */
  final class Samples {
    private val b = ArrayBuffer[Double]()
    def +=(x: Double): Unit = b.synchronized { b += x }
    def all: Seq[Double] = b.synchronized(b.toSeq)
  }
}
