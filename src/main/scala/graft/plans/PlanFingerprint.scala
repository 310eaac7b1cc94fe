package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Stable fingerprint of a query's PHYSICAL plan, for the sha-stamped
  * plan ledger (`PLANS.json` + [[graft.tools.PlanLedger]] +
  * PlanLedgerSpec).
  *
  * Why: timing noise hides plan regressions. A lost broadcast, a new
  * exchange, or an unpushed filter shows up in a bench as a 1.5–3×
  * drift that then takes a manual git/plan audit to attribute (round
  * 16's oov_rate flags, round 17's novelty-family drift). A per-query
  * fingerprint diff answers "did the plan change or just the JVM?" in
  * seconds: same fingerprint ⇒ the physical plan is byte-identical
  * modulo ids/paths, so the drift is environmental.
  *
  * The fingerprint hashes `explain(formatted)` of the pre-execution
  * physical plan (AQE's initial plan — the declared shape: join
  * strategies, exchanges, pushed filters, codegen spans — before
  * runtime re-planning, which is data-dependent by design) after
  * normalizing everything that varies run-to-run without the plan
  * having changed:
  *
  *   - expression/exchange ids (`#123`, `[id=#45]`, `plan_id=7`),
  *   - JVM object addresses and lambda class names,
  *   - the numeric suffix of higher-order-function lambda variables
  *     (`lambda x_17` — drawn from a JVM-global counter, so it depends
  *     on how many lambdas the JVM built before this query),
  *   - RDD call sites (`MapPartitionsRDD[x] at localCheckpoint at
  *     SharedStages.scala:168` — a line moves whenever code above the
  *     call does),
  *   - filesystem paths and UUIDs (scan locations, checkpoint dirs),
  *   - statistics (`sizeInBytes=…`, `rowCount=…` — data-dependent, not
  *     shape).
  *
  * Deliberately NOT normalized: partition counts (a `repartition(8)`
  * that becomes `repartition(64)` is a real plan change). The ledger
  * therefore pins the session: both [[graft.tools.PlanLedger]] and
  * PlanLedgerSpec fingerprint under `GraftSession.builder("4")`
  * (4 shuffle partitions), so the session-default partition counts
  * embedded in `hashpartitioning(…, 4)` are identical on both sides.
  */
object PlanFingerprint {

  /** Structural summary alongside the hash — makes a ledger diff
    * readable (fp changed + "shuffles 2→3" beats fp changed alone). */
  final case class Fingerprint(
      fp: String,
      nodes: Int,
      shuffles: Int,
      broadcasts: Int,
      scans: Int,
      reused: Int) {
    def summary: String =
      s"nodes=$nodes shuffles=$shuffles broadcasts=$broadcasts " +
        s"scans=$scans reused=$reused"
  }

  private val rules: Seq[(scala.util.matching.Regex, String)] = Seq(
    // expression ids / exchange ids / plan ids / RDD ids
    ("""#\d+""".r, "#x"),
    ("""plan_id=\d+""".r, "plan_id=x"),
    ("""RDD\[\d+\]""".r, "RDD[x]"),
    // JVM noise: object addresses, lambda class names
    ("""@[0-9a-f]{6,}""".r, "@x"),
    ("""\$\$Lambda(\$\d+)?(/0x[0-9a-f]+)?""".r, "\\$\\$Lambda"),
    ("""\blambda (\w+)_\d+""".r, "lambda $1_n"),
    // source positions of RDD call sites
    ("""\bat \w+\.(?:scala|java):\d+""".r, "at <callsite>"),
    // identifiers that embed a UUID (temp views, checkpoint dirs)
    ("""[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}""".r,
      "<uuid>"),
    // filesystem locations: URI-style and bare /root|/tmp paths
    ("""(?:file|hdfs|s3a?|viewfs):/[^\s\],)\[]*""".r, "<path>"),
    ("""/(?:root|tmp)/[^\s\],)\[]*""".r, "<path>"),
    // data-dependent statistics, not plan shape
    ("""sizeInBytes=[^,)\]]+""".r, "sizeInBytes=<n>"),
    ("""rowCount=\d+""".r, "rowCount=<n>"),
    ("""Statistics\([^)]*\)""".r, "Statistics(<s>)"))

  /** `explain(formatted)` of the plan with ids/paths/stats normalized —
    * the exact string the fingerprint hashes (exposed for diffing a
    * drifted query by hand). */
  def normalizedPlan(df: DataFrame): String = {
    val raw = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    rules.foldLeft(raw) { case (s, (re, rep)) => re.replaceAllIn(s, rep) }
  }

  private val nodeHeader = """(?m)^\(\d+\) ([A-Za-z][\w.]*)""".r

  def of(df: DataFrame): Fingerprint = {
    val norm = normalizedPlan(df)
    val md = MessageDigest.getInstance("SHA-256")
    val fp = md.digest(norm.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val names = nodeHeader.findAllMatchIn(norm).map(_.group(1)).toSeq
    Fingerprint(
      fp = fp,
      nodes = names.size,
      shuffles = names.count(_ == "Exchange"),
      broadcasts = names.count(_ == "BroadcastExchange"),
      scans = names.count(_ == "Scan"),
      reused = names.count(_.startsWith("Reused")))
  }
}
