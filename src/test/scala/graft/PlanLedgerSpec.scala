package graft

import java.nio.file.{Files, Paths}

import graft.plans.PlanFingerprint

/** Plan-drift gate: regenerates every registry query's physical-plan
  * fingerprint and diffs it against the committed ledger (PLANS.json,
  * written by [[graft.tools.PlanLedger]]).
  *
  * Same fingerprint ⇒ the optimized physical plan is byte-identical
  * modulo ids/paths/stats, so any bench drift on that query is
  * environmental (JVM, box load), not a plan regression. A mismatch
  * here means the plan CHANGED — a lost broadcast, a new exchange, a
  * filter that stopped pushing down — and must be either fixed or
  * acknowledged by regenerating the ledger:
  *
  *   tools/run_main.sh graft.tools.PlanLedger /root/testdata/sf0.001 PLANS.json
  *
  * The suite session (SparkTestBase = GraftSession.builder("4")) is the
  * same configuration PlanLedger pins, so fingerprints compare
  * byte-for-byte across the sbt-test and run_main JVMs.
  */
class PlanLedgerSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.1"
  // the checkout under test: sbt forks the suite JVM in the project dir
  private val ledgerPath = Paths.get("PLANS.json").toAbsolutePath.toString

  // minimal parse of PlanLedger's flat JSON (no deps): top-level keys
  // map to {"fp": "...", "fp01": "...", ...}; _meta is skipped.
  private def committedFps(json: String, field: String): Map[String, String] = {
    val entry = """"((?:[^"\\]|\\.)*)":\s*\{([^}]*)\}""".r
    val fpField = ("\"" + field + """":\s*"([0-9a-f]+)"""").r
    entry.findAllMatchIn(json).flatMap { m =>
      val name = m.group(1)
      if (name == "_meta") None
      else fpField.findFirstMatchIn(m.group(2)).map(f => name -> f.group(1))
    }.toMap
  }

  /** One column of the two-SF ledger diff (r18 verdict #2: a plan knob
    * derived by measurement — adaptive LSH widths, band ladders,
    * broadcast thresholds — only moves at larger SFs, so sf0.001 alone
    * cannot see a scale-dependent plan regression). */
  private def diffColumn(sfDir: String, field: String): Unit = {
    assert(Files.exists(Paths.get(ledgerPath)),
      s"$ledgerPath missing — generate it: tools/run_main.sh graft.tools.PlanLedger $sf PLANS.json")
    val committed = committedFps(Files.readString(Paths.get(ledgerPath)), field)
    val current = tools.PlanLedger.collect(spark, sfDir)

    val errs = current.collect { case (n, Left(m)) => s"$n: $m" }
    assert(errs.isEmpty, s"queries failed to build a plan at $sfDir:\n  ${errs.mkString("\n  ")}")

    val names = current.map(_._1).toSet
    assert(names == committed.keySet,
      s"registry/ledger key drift ($field) — only in registry: ${(names -- committed.keySet).toSeq.sorted.mkString(",")}; " +
        s"only in ledger: ${(committed.keySet -- names).toSeq.sorted.mkString(",")} — regenerate PLANS.json")

    val drifted = current.collect {
      case (n, Right(f)) if committed(n) != f.fp => s"$n (${f.summary})"
    }
    assert(drifted.isEmpty,
      s"${drifted.size} plan fingerprints drifted from PLANS.json ($field @ $sfDir) — a real plan change " +
        "(fix it, or acknowledge with tools/run_main.sh graft.tools.PlanLedger):\n  " +
        drifted.mkString("\n  "))
  }

  test("every registry query's physical plan matches the committed ledger") {
    diffColumn(sf, "fp")
  }

  test("sf0.1 plan column matches the committed ledger (scale-dependent knobs)") {
    diffColumn(sf01, "fp01")
  }

  test("fingerprint is invariant to ids/paths but sensitive to shape") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // same shape built twice → fresh expression ids, same fingerprint
    val a = PlanFingerprint.of(df.groupBy($"v").agg(sum($"k").as("s")))
    val b = PlanFingerprint.of(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        .groupBy($"v").agg(sum($"k").as("s")))
    assert(a.fp == b.fp, "identical shapes must fingerprint equal")
    // a new exchange (repartition) must change the fingerprint
    val c = PlanFingerprint.of(
      df.repartition(8, $"v").groupBy($"v").agg(sum($"k").as("s")))
    assert(a.fp != c.fp, "a plan-shape change must change the fingerprint")

    // the raw plan text with only expression and RDD ids stripped
    def raw(d: org.apache.spark.sql.DataFrame): String =
      d.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .replaceAll("#\\d+|RDD\\[\\d+\\]", "")
    // a higher-order function built twice draws two lambda-variable
    // names from the JVM-global counter (`lambda x_17`, `lambda x_18`);
    // over a range, not a local relation, so the optimizer keeps it
    def incr = spark.range(2).select(transform(array($"id", $"id"), e => e + 1).as("a"))
    val (l1, l2) = (incr, incr)
    assert(raw(l1) != raw(l2), "the lambda counter must show in the raw plan")
    assert(PlanFingerprint.of(l1).fp == PlanFingerprint.of(l2).fp,
      "lambda-variable numbering must not change the fingerprint")
    // the same checkpointed scan taken on two source lines embeds two
    // RDD call sites (`... at localCheckpoint at PlanLedgerSpec.scala:NN`)
    val ck1 = df.localCheckpoint()
    val ck2 = df.localCheckpoint()
    assert(raw(ck1) != raw(ck2), "the call-site line must show in the raw plan")
    assert(PlanFingerprint.of(ck1).fp == PlanFingerprint.of(ck2).fp,
      "an RDD call site's source line must not change the fingerprint")
  }
}
