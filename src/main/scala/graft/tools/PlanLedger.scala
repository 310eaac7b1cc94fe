package graft.tools

import java.nio.file.{Files, Paths}

import graft.plans.PlanFingerprint

/** Writes the plan-fingerprint ledger (`PLANS.json`): one stable
  * physical-plan fingerprint per registry query
  * ([[graft.plans.PlanFingerprint]] — normalization and rationale
  * there), sha-stamped like the bench artifacts.
  *
  * Flow: commit PLANS.json alongside code; PlanLedgerSpec regenerates
  * every fingerprint in `sbt test` and fails on any drift, printing the
  * changed queries with their structural deltas. An INTENDED plan
  * change is acknowledged by refreshing the ledger:
  *
  *   tools/run_main.sh graft.tools.PlanLedger /root/testdata/sf0.001 PLANS.json
  *
  * The session is pinned to `GraftSession.builder("4")` — identical to
  * SparkTestBase — so the tool and the spec hash byte-identical plans
  * (partition counts embedded in exchange nodes are not normalized;
  * see PlanFingerprint scaladoc).
  *
  * Usage: PlanLedger <sfDir> <outJson> [dumpDir|-] [sf01Dir]
  *
  * With `dumpDir` (`-` to skip), also writes each query's NORMALIZED
  * plan text to `dumpDir/<name>.txt` — diff two dumps to see exactly
  * which plan lines drifted when a fingerprint changes. `sf01Dir`
  * (default `/root/testdata/sf0.1`) is the second ledger column: each
  * entry carries `fp` (at sfDir) AND `fp01` (at sf0.1), because
  * measurement-derived plan knobs (adaptive LSH widths, band ladders,
  * broadcast thresholds) only move at larger SFs — PlanLedgerSpec
  * diffs both columns.
  */
object PlanLedger {

  /** All fingerprints, built in sorted name order (order only affects
    * which query pays a shared-stage build, never plan content). A
    * query that throws during construction is recorded as an `err`
    * entry — visible, like Verify's `_errors.json`, never absent. */
  def collect(spark: org.apache.spark.sql.SparkSession, sfDir: String)
  : Seq[(String, Either[String, PlanFingerprint.Fingerprint])] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Right(PlanFingerprint.of(fn(spark, sfDir)))
      catch {
        case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      })
    }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outJson) = args.take(2)
    val dumpDir = args.lift(2).filter(_ != "-")
    // Second ledger column (r18 verdict #2): fingerprints at sf0.1 too.
    // Plans are data-dependent where the library derives knobs by
    // measurement (RpLsh.widthFor tiers, BandLadder widths, broadcast
    // thresholds) — a scale-dependent plan regression is invisible at
    // sf0.001 by construction, so the ledger pins BOTH scale points and
    // PlanLedgerSpec diffs both.
    val sf01Dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    dumpDir.foreach(d => Files.createDirectories(Paths.get(d)))
    dumpDir.foreach { d =>
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try Files.writeString(Paths.get(s"$d/$name.txt"),
          PlanFingerprint.normalizedPlan(fn(spark, sfDir)))
        catch { case _: Throwable => () }
      }
    }
    val rows = collect(spark, sfDir)
    val rows01 = collect(spark, sf01Dir).toMap
    val errs = rows.collect { case (n, Left(m)) => (n, m) } ++
      rows01.toSeq.sortBy(_._1).collect { case (n, Left(m)) => (n, s"[sf0.1] $m") }
    val sha = graft.Checkout.sha

    val body = new StringBuilder
    body ++= "{\n"
    body ++= s""" "_meta": {"sha": ${q(sha)}, "sf_dir": ${q(sfDir)}, "sf01_dir": ${q(sf01Dir)}, "cpus": "4", "spark": ${q(spark.version)}, "queries": ${rows.size}},\n"""
    body ++= rows.map {
      case (n, Right(f)) =>
        val col01 = rows01.get(n) match {
          case Some(Right(f01)) =>
            s""", "fp01": ${q(f01.fp)}, "shuffles01": ${f01.shuffles}, "broadcasts01": ${f01.broadcasts}"""
          case Some(Left(m)) => s""", "err01": ${q(m)}"""
          case None          => ""
        }
        s""" ${q(n)}: {"fp": ${q(f.fp)}, "nodes": ${f.nodes}, "shuffles": ${f.shuffles}, "broadcasts": ${f.broadcasts}, "scans": ${f.scans}, "reused": ${f.reused}$col01}"""
      case (n, Left(m)) =>
        s""" ${q(n)}: {"err": ${q(m)}}"""
    }.mkString(",\n")
    body ++= "\n}\n"
    Files.writeString(Paths.get(outJson), body.toString)

    println(s"[plan-ledger] wrote ${rows.size} fingerprints " +
      s"(${errs.size} errors) to $outJson @ $sha")
    errs.foreach { case (n, m) => System.err.println(s"[plan-ledger] ERR $n: $m") }
    spark.stop()
    if (errs.nonEmpty) sys.exit(1)
  }
}
