package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure policy: a query that throws must be VISIBLE, not absent —
  * round 9 lost 7 oracle rows because the catch printed to stderr and the
  * driver's JSON simply lacked the keys (112 entries vs a 119 registry,
  * and nothing downstream noticed). Each failed query now gets an
  * `_ERROR` marker file inside its output dir (so a downstream parquet
  * read errors loudly instead of finding nothing) and a consolidated
  * `_errors.json` sidecar next to `oracle_sql.json`; Verify also
  * postcondition-checks that every selected query produced either a dump
  * or an error record. The dump loop lives in [[dumpAll]] so VerifySpec
  * can drive it with a deliberately-broken registry.
  */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeJsonMap(path: String, m: Iterable[(String, String)]): Unit =
    Files.writeString(Paths.get(path),
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

  /** Run every query, dump each result to `outDir/<name>` parquet; a
    * throwing query gets an `_ERROR` marker file in its dir instead.
    * Returns name → message for the failures. Postcondition: every query
    * is dumped or errored — absence would be a bug in THIS harness and
    * crashes it rather than silently shrinking the round's artifact. */
  def dumpAll(spark: SparkSession, sfDir: String, outDir: String,
              queries: Map[String, (SparkSession, String) => DataFrame])
  : Map[String, String] = {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        val dir = Paths.get(s"$outDir/$name")
        // Scrub anything a failed (or prior) write left behind BEFORE
        // planting the marker: Spark's reader ignores underscore-prefixed
        // files, so a partially-committed part file would read back as
        // truncated-but-valid data with the `_ERROR` marker silently
        // skipped. After the scrub the dir holds ONLY the marker and a
        // parquet read fails loudly (no data files to infer schema from).
        if (Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          val walk = Files.walk(dir)
          try walk.iterator().asScala.toSeq.reverse
            .filterNot(_ == dir)
            .foreach(p => try Files.delete(p) catch { case _: Throwable => () })
          finally walk.close()
        }
        Files.createDirectories(dir)
        Files.writeString(dir.resolve("_ERROR"), msg.take(4000) + "\n")
      }
    }
    // Consolidated error sidecar — present (possibly empty) every run, so
    // "no _errors.json" can never be confused with "no errors checked".
    writeJsonMap(s"$outDir/_errors.json", errors)
    val unaccounted = queries.keySet.filter { name =>
      !errors.contains(name) && !Files.exists(Paths.get(s"$outDir/$name"))
    }
    require(unaccounted.isEmpty,
      s"[verify] queries neither dumped nor errored: ${unaccounted.toSeq.sorted.mkString(",")}")
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the dump to named
    // queries (the driver never sets it — full registry by default).
    // Empty tokens are dropped and unknown names warned: a misspelled
    // name would otherwise silently select nothing and write an empty
    // dump that a downstream compare misreads as missing results.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] WARNING: SPARK_GRAFT_ONLY names not in registry: ${unknown.toSeq.sorted.mkString(",")}")
      // an all-unknown (or all-empty-token) selection is always operator
      // error — writing a structurally "clean" empty dump would be the
      // same silent-shrinkage failure mode this harness exists to kill,
      // so it hard-fails instead of warning on the invisible channel
      require(names.exists(SparkEntry.queries.keySet.contains),
        "[verify] SPARK_GRAFT_ONLY selected ZERO queries — " +
          s"unknown names: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val selected = SparkEntry.queries.filter {
      case (name, _) => only.forall(_.contains(name))
    }
    val errors = dumpAll(spark, sfDir, outDir, selected)
    writeJsonMap(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size}/${selected.size} queries FAILED: ${errors.keys.toSeq.sorted.mkString(",")}")
    spark.stop()
  }
}
