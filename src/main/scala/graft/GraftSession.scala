package graft

import org.apache.spark.sql.SparkSession

/** Session defaults shared by Verify, Bench and tests.
  *
  * Scale posture (SURVEY §4.2 / the 100 TB design point): AQE on for
  * runtime re-planning (coalescing post-shuffle partitions, skew-join
  * splitting); shuffle partitions sized to the local core count here, to
  * executor count × cores in a real deployment; UTC everywhere for
  * oracle parity.
  */
object GraftSession {

  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, else every core this
    * JVM may use. Tests and the plan ledger pin "4" instead, because the
    * ledger's fingerprints embed partition counts. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def builder(cpus: String = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long + convert
      // (Tables.events) — Spark has no nanosecond timestamp type.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Generated-class cache (static conf, default 100 entries): this
      // library registers 190 distinct query plans — far more codegen
      // fragments than the default LRU holds, so cycling through the
      // registry (Verify, the interleaved Bench passes, any multi-query
      // pipeline) recompiles every fragment on every pass (~100-300 ms
      // per query of pure Janino time, measured as a uniform ~1.6x
      // inflation on sub-second queries in the first interleaved bench).
      // Sized to hold the whole registry's fragments at once.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
}
