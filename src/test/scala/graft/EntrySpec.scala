package graft

/** Mirrors the driver's smoke check: entry() on sf0.001 yields rows. */
class EntrySpec extends SparkTestBase {
  /** md5 of the name-sorted oracle SQL map (see the registry case). */
  private val OracleSqlMd5 = "a4dc4caf5eb8abaae2827aa830d3a9ab"

  test("entry: flagship violation derivation returns rows at sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("violation_type"))
    assert(df.columns.contains("details"))
  }

  test("registry is structurally consistent: distinct names, oracle for every query") {
    // Structural guards instead of a literal count (a pinned number went
    // stale twice when queries landed after the pin): every QueryDef name
    // is unique, the maps are exactly the defs, and every query carries an
    // oracle (non-SQL-expressible ops would shrink oracleSql — currently
    // none, so equality is the tightest valid assertion).
    val defs = SparkEntry.allDefs
    val names = defs.map(_.name)
    assert(names.distinct.sizeIs == names.size,
      s"duplicate query names: ${names.diff(names.distinct).distinct}")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    val unoracled = names.toSet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty, s"queries without an oracle: $unoracled")
    // The oracle SQL text is pinned: md5 of the name-sorted map in
    // Verify's JSON escaping. A refactor that drifts an oracle builder
    // fails here; an intended oracle change updates the constant in the
    // same commit and says why in CHANGES.md.
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Verify.q(k)}: ${Verify.q(v)}" }
      .mkString("{", ",", "}")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    assert(md5 == OracleSqlMd5, s"oracle SQL text changed: md5 $md5")
  }
}
