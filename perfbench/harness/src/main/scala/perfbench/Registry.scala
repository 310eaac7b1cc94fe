package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.MapType

import Main._

/** The `registry` workload: a fixed panel of `SparkEntry.queries` over a
  * committed copy of the sf0.001 test tables. Warm-up passes, each over
  * its own copy, pay JIT and code generation (set-up). Timed passes then run the
  * panel, one pass per `PassSeconds` of `--seconds`, each in its own
  * seeded order over its own fresh copy; a fresh copy means every shared
  * stage a pass reads is built again inside it (`SharedStages` memoizes
  * per directory). Each query is constructed, then executed by a consumer
  * that hashes every column of every row. */
object Registry {
  /** Queries from every registry module, picked so one warm pass stays
    * near four seconds on 4 cores; several read shared stages. */
  val Panel: Seq[String] = Seq(
    // the reference pipeline
    "viol_derive", "status_derive", "viol_counts", "sessionize",
    // relational
    "q1_pricing_summary", "q2_revenue_by_nation", "q5_semi_join_segments",
    // text, dedup and curation, reading shared stages
    "dedup_simhash", "bm25_topk", "tfidf_top_terms",
    "mix_temperature")

  /** Run length per timed pass: a pass takes about five seconds on
    * 4 cores, so the 5 s default runs two, twenty-two query samples. */
  val PassSeconds = 2.5

  /** Warm-up passes: the first pays the cold JVM, the second the JIT
    * that is still compiling (it runs 10–30% slower than later passes).
    * Set-up counts both; more would not fit the benchmark's time budget. */
  val WarmPasses = 2

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A private copy of the tables: a new directory string means fresh
    * shared stages. */
  def copyData(data: File, to: File): String = {
    to.mkdirs()
    Tables.foreach { t =>
      Files.copy(new File(data, s"$t.parquet").toPath, new File(to, s"$t.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
    }
    to.getPath
  }

  /** (rows, order-free sum of row hashes) — reads every column. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => col(s"`${f.name}`").cast("string") // maps do not hash
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.select(count(lit(1)),
      sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(20,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  final case class Timing(name: String, constructS: Double, executeS: Double,
                          fp: Option[(Long, String)]) {
    def totalS: Double = constructS + executeS
  }

  /** Run `names` over `dir`; a query that throws has no fingerprint. */
  def pass(spark: SparkSession, dir: String, names: Seq[String],
           tracer: Tracer): Seq[Timing] = {
    val sc = spark.sparkContext
    names.map { n =>
      val fn = graft.SparkEntry.queries(n)
      sc.setLocalProperty(Counters.Key, "construct")
      val t0 = System.nanoTime()
      val df = try Some(tracer.span("queries", s"construct:$n")(fn(spark, dir)))
               catch { case e: Exception => System.err.println(s"[registry] $n: $e"); None }
      val t1 = System.nanoTime()
      sc.setLocalProperty(Counters.Key, "execute")
      val fp = df.flatMap { d =>
        try Some(tracer.span("queries", s"execute:$n")(fingerprint(d)))
        catch { case e: Exception => System.err.println(s"[registry] $n: $e"); None }
      }
      val t2 = System.nanoTime()
      sc.setLocalProperty(Counters.Key, null)
      Timing(n, (t1 - t0) / 1e9, (t2 - t1) / 1e9, fp)
    }
  }

  def fingerprintFile(data: File): File = new File(data.getParentFile, "fingerprints.json")

  def expected(data: File): Map[String, (Long, String)] =
    Json.read(fingerprintFile(data)).map { case (q, v) =>
      val m = v.asInstanceOf[Map[String, Any]]
      q -> (m("rows").asInstanceOf[Double].toLong, m("hash").toString)
    }

  def run(conf: Conf): Outcome = {
    val spark = session(conf.cores)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val sessionS = sinceJvmStart
    val warm = (1 to WarmPasses).map { i =>
      val dir = copyData(conf.data, new File(conf.work, s"warm-$i"))
      timed(pass(spark, dir, Panel, new Tracer(false)))._2
    }
    val setup = sessionS + warm.sum

    val rnd = new Random(conf.seed)
    // one pass per PassSeconds of the run length, so a run's work is fixed
    val passes = (1 to math.max(1, math.round(conf.seconds / PassSeconds).toInt)).map { i =>
      val dir = copyData(conf.data, new File(conf.work, s"timed-$i"))
      timed(pass(spark, dir, rnd.shuffle(Panel), new Tracer(false)))
    }
    val ts = passes.flatMap(_._1).toSeq
    val registryS = passes.map(_._2).sum
    val want = expected(conf.data)
    val got = ts.flatMap(t => t.fp.map(t.name -> _))
    val failed = got.map(g => Gates.fingerprintFailures(Map(g), want)).sum +
      ts.count(_.fp.isEmpty)
    // a query's latency is its best pass, so one stalled pass does not
    // make the slowest query
    val perQuery = ts.groupBy(_.name).values.map(_.map(_.totalS * 1000).min).toSeq
    val e2e = Map(
      "setup_s" -> setup,
      "throughput_per_s" -> ts.length / registryS,
      "latency_p50_ms" -> median(perQuery),
      "latency_tail_ms" -> perQuery.max)
    val metrics = if (!conf.trace) e2e else {
      // one more fresh copy, traced, against the last untraced pass
      val tracer = new Tracer(true)
      val tdir = copyData(conf.data, new File(conf.work, "traced"))
      org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
      val before = Seq("construct.jobs", "execute.jobs", "construct.tasks",
        "execute.tasks", "construct.shuffle_bytes", "execute.shuffle_bytes",
        "construct.spill_bytes", "execute.spill_bytes")
        .map(k => k -> counters.get(k)).toMap
      val (tt, tracedS) = timed(pass(spark, tdir, rnd.shuffle(Panel), tracer))
      org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
      def c(k: String): Double = (counters.get(k) - before(k)).toDouble
      val stages = graft.SharedStages.buildSeconds(tdir)
      tracer.write(new File(conf.work, "spans.json"))
      perLayer(Map(
        "queries.construct_s" -> tt.map(_.constructS).sum,
        "queries.execute_s" -> tt.map(_.executeS).sum,
        "queries.construct_jobs" -> c("construct.jobs"),
        "queries.jobs" -> (c("construct.jobs") + c("execute.jobs")),
        "queries.tasks" -> (c("construct.tasks") + c("execute.tasks")),
        "queries.shuffle_bytes" -> (c("construct.shuffle_bytes") + c("execute.shuffle_bytes")),
        "queries.spill_bytes" -> (c("construct.spill_bytes") + c("execute.spill_bytes")),
        "stages.build_s" -> stages.values.sum,
        "stages.count" -> stages.size.toDouble,
        "self.queries_s" -> tracer.selfSeconds.getOrElse("queries", 0.0),
        "trace.overhead_pct" -> 100 * (tracedS / passes.last._2 - 1)))
    }
    spark.stop()
    Outcome(ts.length, failed, metrics,
      Map("e2e" -> e2e, "latency_samples" -> perQuery.length,
        "session_s" -> sessionS, "warm_s" -> warm,
        "pass_s" -> passes.map(_._2),
        "per_query_s" -> ts.groupBy(_.name).map { case (n, xs) => n -> xs.map(_.totalS) },
        "mismatched" -> got.filterNot { case (q, fp) => want.get(q).contains(fp) }
          .map(_._1).distinct))
  }

  /** Write the fingerprint file from one pass over the committed data:
    * `perfbench.Registry <data dir> <cores> <scratch dir>`. Do it only on a
    * commit where the DuckDB oracle passes for every panel query. */
  def main(args: Array[String]): Unit = {
    val data = new File(args(0))
    val work = new File(args(2))
    val spark = session(args(1).toInt)
    val fps = pass(spark, copyData(data, new File(work, "d")), Panel, new Tracer(false))
    require(fps.forall(_.fp.isDefined), "a panel query failed")
    Json.write(fingerprintFile(data), fps.map(t =>
      t.name -> Map("rows" -> t.fp.get._1, "hash" -> t.fp.get._2)).toMap)
    spark.stop()
  }
}
