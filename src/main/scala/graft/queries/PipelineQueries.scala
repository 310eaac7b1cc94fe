package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.derive.{EventsAdapter, StatusDeriver, ViolationDeriver}
import graft.session.Sessionize

/** Oracle-checked exposure of the reference pipeline (SURVEY §2.3-2.7):
  * the `events` table is deterministically adapted to telemetry
  * ([[EventsAdapter]]), pushed through the real derivers, and mirrored in
  * DuckDB SQL over the same parquet. This makes the production code path
  * (gates → explode → allowlist → projection → sessionization) the thing
  * the t2 gate hashes, not a test-only re-implementation.
  */
object PipelineQueries {

  private def cte = EventsAdapter.duckdbCte

  // ------------------------------------------------------- viol_derive
  // Full violation-derivation path (SURVEY §3.1), flattened to scalar
  // columns for the hash compare (structs stay in the library surface).
  private def violDerive(s: SparkSession, d: String): DataFrame =
    ViolationDeriver(EventsAdapter.telemetryFromEvents(Tables.events(s, d)))
      .select(
        col("event_type"), col("violation_type"), col("device_uuid"),
        col("vehicle_id"), col("account_id"), col("timestamp"),
        col("location.coordinates").getItem(0).as("lon"),
        col("location.coordinates").getItem(1).as("lat"),
        col("details.accel_y").as("accel_y"),
        col("details.speed_kph").as("speed_kph"),
        col("details.delta_speed").as("delta_speed"),
        col("mqtt_sent_at_ms"))

  // Gate semantics mirror ViolationDeriver: no payload-level gate on the
  // violation branch (the reference applies deviceUuid/ts only to the
  // status branch); instead the consumer's F6 check on the COALESCED
  // event timestamp + device_uuid (kafkaConsumer.js:195-198).
  private val violDeriveSql =
    s"""WITH $cte,
       |exploded AS (
       |  SELECT device_uuid, vehicle_id, account_id, ts_sec, mqtt_sent_at_ms,
       |    lon, lat, speed_kph, v_accel_y, v_delta,
       |    UNNEST(v_ts) AS v_ts_e, UNNEST(v_type) AS v_type_e
       |  FROM telemetry)
       |SELECT 'violation' AS event_type, v_type_e AS violation_type,
       |  device_uuid, vehicle_id, account_id,
       |  CASE WHEN v_ts_e > 0 THEN v_ts_e ELSE ts_sec END AS timestamp,
       |  lon, lat,
       |  v_accel_y AS accel_y, speed_kph, v_delta AS delta_speed,
       |  mqtt_sent_at_ms
       |FROM exploded
       |WHERE v_type_e IN ('harsh_brake', 'harsh_accel')
       |  AND device_uuid IS NOT NULL AND device_uuid != ''
       |  AND (CASE WHEN v_ts_e > 0 THEN v_ts_e ELSE ts_sec END) != 0""".stripMargin

  // ------------------------------------------------------ status_derive
  private def statusDerive(s: SparkSession, d: String): DataFrame =
    StatusDeriver(EventsAdapter.telemetryFromEvents(Tables.events(s, d)))
      .select(
        col("event_type"), col("status_type"), col("action"),
        col("device_uuid"), col("timestamp"),
        col("vehicle_id"), col("account_id"))

  private val statusDeriveSql =
    s"""WITH $cte
       |SELECT 'device_status' AS event_type,
       |  'cable-unplugged' AS status_type, 'touch' AS action,
       |  device_uuid, ts_sec AS timestamp, vehicle_id, account_id
       |FROM telemetry
       |WHERE device_uuid IS NOT NULL AND ts_sec > 0
       |  AND lower(dashcam_power_source) = 'battery'""".stripMargin

  // ------------------------------------------------------- viol_counts
  // AG1: per-type violation counters (kafkaConsumer.js:229-233). In
  // streaming this is update-mode groupBy-count; batch is identical plan.
  private def violCounts(s: SparkSession, d: String): DataFrame =
    ViolationDeriver(EventsAdapter.telemetryFromEvents(Tables.events(s, d)))
      .groupBy(col("violation_type"))
      .agg(count(lit(1)).as("n"))

  private val violCountsSql =
    s"""WITH $cte,
       |exploded AS (
       |  SELECT device_uuid, ts_sec,
       |    UNNEST(v_ts) AS v_ts_e, UNNEST(v_type) AS v_type_e
       |  FROM telemetry)
       |SELECT v_type_e AS violation_type, COUNT(*) AS n
       |FROM exploded
       |WHERE v_type_e IN ('harsh_brake', 'harsh_accel')
       |  AND device_uuid IS NOT NULL AND device_uuid != ''
       |  AND (CASE WHEN v_ts_e > 0 THEN v_ts_e ELSE ts_sec END) != 0
       |GROUP BY 1""".stripMargin

  // -------------------------------------------------------- sessionize
  // ST1(a): 300 s gap sessionization per user over the events table —
  // the batch formulation of the reference's Redis-TTL session logic
  // (kafkaConsumer.js:238-350). The DuckDB mirror is the classic
  // lag/flag/cumsum session assignment; Spark plans session_window as a
  // single keyed shuffle + sort — linear in data, no state explosion.
  private def sessionize(s: SparkSession, d: String): DataFrame =
    Sessionize.bySessionWindow(Tables.events(s, d), "user_id", "ts")

  private val sessionizeSql =
    s"""WITH ${Sessionize.duckdbSessionCtes}
      |SELECT user_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
      |  COUNT(*) AS n_touches
      |FROM numbered
      |GROUP BY user_id, session_id""".stripMargin

  // ----------------------------------------------------- latency_carry
  // ST4: carried-column latency (kafkaConsumer.js:201-211) — latency is
  // (receive − send) on columns carried through the pipeline, never a
  // stream-stream join. Here: per-device latency stats between the
  // derived event's mqtt_sent_at_ms and a deterministic "received" time.
  private def latencyCarry(s: SparkSession, d: String): DataFrame =
    ViolationDeriver(EventsAdapter.telemetryFromEvents(Tables.events(s, d)))
      .withColumn("latency_ms",
        (col("timestamp") * 1000 + 250) - col("mqtt_sent_at_ms"))
      .groupBy(col("violation_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("latency_ms")).as("min_ms"),
        max(col("latency_ms")).as("max_ms"))

  private val latencyCarrySql =
    s"""WITH $cte,
       |exploded AS (
       |  SELECT device_uuid, ts_sec, mqtt_sent_at_ms,
       |    UNNEST(v_ts) AS v_ts_e, UNNEST(v_type) AS v_type_e
       |  FROM telemetry),
       |evts AS (
       |  SELECT v_type_e AS violation_type,
       |    (CASE WHEN v_ts_e > 0 THEN v_ts_e ELSE ts_sec END) * 1000 + 250
       |      - mqtt_sent_at_ms AS latency_ms
       |  FROM exploded
       |  WHERE v_type_e IN ('harsh_brake', 'harsh_accel')
       |    AND device_uuid IS NOT NULL AND device_uuid != ''
       |    AND (CASE WHEN v_ts_e > 0 THEN v_ts_e ELSE ts_sec END) != 0)
       |SELECT violation_type, COUNT(*) AS n,
       |  MIN(latency_ms) AS min_ms, MAX(latency_ms) AS max_ms
       |FROM evts
       |GROUP BY 1""".stripMargin

  // ---------------------------------------------------- store_rebucket_gate
  // Measure→act gate for BucketStore rebucketing (K4's lifecycle knob,
  // the last caller-picked tuning constant): builds a REAL store from
  // the documents fingerprint table at a deliberately small bucket
  // count, derives the rebucket decision by exact integer arithmetic
  // (BucketStore.rebucketDecision — the lsh_width mold: smallest
  // power-of-two multiple of buckets0 whose per-bucket load fits the
  // budget), ACTS on it (rebucket to a fresh root when tripped), and
  // proves probe identity across the move: a deterministic key subset
  // (doc_id % 97 = 0) is probed through the pruned-read path against
  // BOTH layouts, and every probe must hit in both. The oracle derives
  // every column from the same COUNT(*)s — rows_after == n_rows pins
  // zero loss through the move; probe_found_* == probe_n pins placement
  // correctness before AND after. The row budget is SF-scaled so the
  // gate genuinely trips from sf0.01 up (stay at sf0.001), exercising
  // both branches across the driver's SFs; production watches bytes via
  // BucketStore.stats and feeds the same ladder.
  private val StoreBuckets0 = 8
  private val StoreRowBudget = 500L

  private def storeRebucketGate(s: SparkSession, d: String): DataFrame = {
    import graft.sink.BucketStore
    val rows = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .localCheckpoint() // feeds the store write, the count, the probes
    val path = graft.SharedStages.newScratchDir("rebucket_store")
    BucketStore.upsert(s, rows, path, Seq("doc_id"), StoreBuckets0)
    // the byte-level trigger input exists and is populated (what a
    // standing deployment polls between batches)
    val st = BucketStore.stats(s, path, StoreBuckets0)
    require(st.nonEmpty && st.map(_.bytes).sum > 0, "store wrote no bytes")

    val n = rows.count()
    val chosen = BucketStore.rebucketDecision(n, StoreBuckets0, StoreRowBudget)
    val probeKeys = rows.filter(col("doc_id") % 97 === 0)
      .select("doc_id").localCheckpoint()
    def probeFound(p: String, nb: Int): Long = {
      val touched = BucketStore.touchedBuckets(probeKeys, Seq("doc_id"), nb)
      BucketStore.readBuckets(s, p, rows.schema, touched)
        .join(probeKeys, Seq("doc_id"), "left_semi").count()
    }
    val before = probeFound(path, StoreBuckets0)
    val (after, rowsAfter) =
      if (chosen == StoreBuckets0)
        (before, BucketStore.read(s, path, rows.schema, StoreBuckets0).count())
      else {
        val np = graft.SharedStages.newScratchDir("rebucket_store_to")
        BucketStore.rebucket(s, path, np, rows.schema, Seq("doc_id"),
          StoreBuckets0, chosen)
        (probeFound(np, chosen),
          BucketStore.read(s, np, rows.schema, chosen).count())
      }
    import s.implicits._
    Seq((n, StoreBuckets0.toLong,
        (n + StoreBuckets0 - 1) / StoreBuckets0, StoreRowBudget,
        chosen.toLong, rowsAfter, probeKeys.count(), before, after))
      .toDF("n_rows", "buckets0", "per_bucket_rows0", "row_budget",
        "chosen_buckets", "rows_after", "probe_n", "probe_found_before",
        "probe_found_after")
  }

  private val storeRebucketGateSql =
    s"""WITH n AS (SELECT COUNT(*) AS n_rows FROM documents),
       |c AS (
       |  SELECT MIN($StoreBuckets0 * (1 << CAST(u.k AS INT)))
       |    AS chosen_buckets
       |  FROM n, LATERAL (SELECT unnest(range(0, 24)) AS k) u
       |  WHERE n.n_rows <= CAST($StoreBuckets0 AS BIGINT)
       |    * (1 << CAST(u.k AS INT)) * $StoreRowBudget),
       |p AS (SELECT COUNT(*) AS probe_n FROM documents
       |      WHERE doc_id % 97 = 0)
       |SELECT n.n_rows,
       |  CAST($StoreBuckets0 AS BIGINT) AS buckets0,
       |  CAST((n.n_rows + ${StoreBuckets0 - 1}) // $StoreBuckets0 AS BIGINT)
       |    AS per_bucket_rows0,
       |  CAST($StoreRowBudget AS BIGINT) AS row_budget,
       |  CAST(c.chosen_buckets AS BIGINT) AS chosen_buckets,
       |  n.n_rows AS rows_after,
       |  p.probe_n,
       |  p.probe_n AS probe_found_before,
       |  p.probe_n AS probe_found_after
       |FROM n, c, p""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("viol_derive", violDerive, Some(violDeriveSql)),
    QueryDef("status_derive", statusDerive, Some(statusDeriveSql)),
    QueryDef("viol_counts", violCounts, Some(violCountsSql)),
    QueryDef("sessionize", sessionize, Some(sessionizeSql)),
    QueryDef("latency_carry", latencyCarry, Some(latencyCarrySql)),
    QueryDef("store_rebucket_gate", storeRebucketGate,
      Some(storeRebucketGateSql)))
}
