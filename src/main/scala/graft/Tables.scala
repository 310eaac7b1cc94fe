package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All engine operators take DataFrames; these helpers only resolve the
  * per-scale-factor directory layout `<sfDir>/<table>.parquet`. Column
  * pruning / predicate pushdown happen in Catalyst — callers should
  * `.select`/`.filter` and let the parquet scan prune.
  */
object Tables {
  /** `spark.read.parquet` with the schema it would infer, read from the
    * footer on the driver ([[FooterSchema]]): inference runs one Spark
    * job per call, before the query's plan exists. Every call reads the
    * footer again (a few ms), so a rewritten table never gets a stale
    * schema. Where no footer schema is found the plain read infers, with
    * Spark's own errors. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    FooterSchema.of(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }
  }

  /** Spread a DataFrame across the cluster before a CPU-bound stage.
    *
    * The test parquet files are single-row-group, so Spark reads each as
    * ONE partition — every pre-shuffle expression (md5, regex, HOF
    * lambdas) would run on one core of 32. At 100 TB inputs arrive as
    * thousands of splits and this is a no-op decision; on small inputs
    * the round-robin shuffle (a few MB) buys full-width parallelism for
    * the expensive map stage that follows. AQE cannot help here — it
    * only re-plans *after* a shuffle exists. */
  def parallelize(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  /** `events.ts` has shifted parquet logical type across testdata
    * regenerations; normalize every variant to a session-tz TIMESTAMP so
    * downstream `unix_millis`/window/`to_date` calls type-check uniformly:
    *   - TIMESTAMP(NANOS): Spark 4 reads it as a long
    *     (`spark.sql.legacy.parquet.nanosAsLong=true`, set by
    *     [[GraftSession.tune]]) — truncate nanos → micros exactly like
    *     DuckDB does loading TIMESTAMP_NS into microsecond timestamps.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    *     TIMESTAMP_NTZ, which `unix_millis` rejects at analysis time —
    *     cast to TIMESTAMP. The session tz is pinned UTC
    *     ([[GraftSession]]), so the cast reinterprets NTZ-as-UTC,
    *     bit-matching DuckDB's `epoch_ms(ts)` over the same file.
    * Both keep oracle comparisons on identical instants. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
