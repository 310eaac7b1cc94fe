package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.derive.{Detectors, EventsAdapter}
import graft.session.Sessionize

/** Detector + stream-analytics operator exposure (SURVEY §7.5, §2.3
  * P-series JSON ops, tumbling windows, set ops). */
object StreamAnalyticsQueries {

  // ------------------------------------------------- detect_delta_speed
  // Real per-device delta-speed detector over the events-adapted
  // telemetry (lag window; threshold 100 kph over the adapter's
  // value-as-speed column).
  // mqtt_sent_at_ms is tie-free per device in the test data (checked at
  // sf0.1), so the lag order is total.
  private def deltaSpeed(s: SparkSession, d: String): DataFrame =
    Detectors.deltaSpeed(
      EventsAdapter.telemetryFromEvents(Tables.events(s, d)),
      threshold = 100.0,
      orderCols = Seq("mqtt_sent_at_ms"))
      .select(col("device_uuid"), col("mqtt_sent_at_ms"),
        col("speed_kph"), col("prev_speed"), col("delta_speed"),
        col("violation_type"))

  private val deltaSpeedSql =
    s"""WITH ${EventsAdapter.duckdbCte},
       |lagged AS (
       |  SELECT device_uuid, mqtt_sent_at_ms, speed_kph,
       |    LAG(speed_kph) OVER (PARTITION BY device_uuid
       |                         ORDER BY mqtt_sent_at_ms) AS prev_speed
       |  FROM telemetry WHERE device_uuid IS NOT NULL)
       |SELECT device_uuid, mqtt_sent_at_ms, speed_kph, prev_speed,
       |  speed_kph - prev_speed AS delta_speed,
       |  CASE WHEN speed_kph - prev_speed > 0 THEN 'harsh_accel'
       |       ELSE 'harsh_brake' END AS violation_type
       |FROM lagged
       |WHERE speed_kph - prev_speed >= 100.0
       |   OR speed_kph - prev_speed <= -100.0""".stripMargin

  // -------------------------------------------------- detect_geofence
  // Map-only planar geofence over adapter lon/lat; per-device counts.
  private def geofence(s: SparkSession, d: String): DataFrame = {
    val t = EventsAdapter.telemetryFromEvents(Tables.events(s, d))
      .filter(col("device_uuid").isNotNull)
      .withColumn("lon", col("location.coordinates").getItem(0))
      .withColumn("lat", col("location.coordinates").getItem(1))
    t.filter(Detectors.outsideFenceSq(col("lon"), col("lat"), 72.5, 22.0, 0.9))
      .groupBy(col("device_uuid"))
      .agg(count(lit(1)).as("n_geo_violations"))
  }

  private val geofenceSql =
    s"""WITH ${EventsAdapter.duckdbCte}
       |SELECT device_uuid, COUNT(*) AS n_geo_violations
       |FROM telemetry
       |WHERE device_uuid IS NOT NULL
       |  AND (lon - 72.5) * (lon - 72.5) + (lat - 22.0) * (lat - 22.0)
       |      > CAST(0.9 AS DOUBLE) * CAST(0.9 AS DOUBLE)
       |GROUP BY device_uuid""".stripMargin

  // ---------------------------------------------------- q12_json_props
  // P1-family JSON field extraction on the events.props payload.
  private def jsonProps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  private val jsonPropsSql =
    """SELECT event_type,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type""".stripMargin

  // ------------------------------------------------- q13_tumbling_agg
  // Tumbling 1-hour event-time windows (the batch plan of the streaming
  // windowed agg; Spark window() start == date_trunc for epoch-aligned
  // widths). Partial aggregation before one shuffle on (window, type).
  private def tumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("hour_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(38, 2))).cast("double").as("sum_value"))

  private val tumblingSql =
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------- q11_set_ops
  // INTERSECT / EXCEPT over user activity sets.
  private def setOps(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def users(t: String) =
      ev.filter(col("event_type") === t).select(col("user_id")).distinct()
    val both    = users("purchase").intersect(users("error"))
      .withColumn("cohort", lit("purchase_and_error"))
    val pOnly   = users("purchase").except(users("error"))
      .withColumn("cohort", lit("purchase_only"))
    both.unionByName(pOnly)
      .groupBy(col("cohort")).agg(count(lit(1)).as("n_users"))
  }

  private val setOpsSql =
    """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      |e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
      |tagged AS (
      |  SELECT user_id, 'purchase_and_error' AS cohort FROM (SELECT * FROM p INTERSECT SELECT * FROM e)
      |  UNION ALL
      |  SELECT user_id, 'purchase_only' AS cohort FROM (SELECT * FROM p EXCEPT SELECT * FROM e))
      |SELECT cohort, COUNT(*) AS n_users FROM tagged GROUP BY 1""".stripMargin

  // ------------------------------------------------- q14_sliding_agg
  // Sliding event-time windows (1 h window, 15 min slide): each event
  // lands in 4 windows. Spark plans this as a single generate + shuffle;
  // the DuckDB mirror expands the 4 offsets explicitly.
  private def sliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(
        window(col("ts"), "1 hour", "15 minutes").getField("start").as("w_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(38, 2))).cast("double").as("sum_value"))

  private val slidingSql =
    """WITH ex AS (
      |  SELECT event_type, value, ts,
      |    time_bucket(INTERVAL 15 MINUTE, ts)
      |      - unnest(range(0, 4)) * INTERVAL 15 MINUTE AS w_start
      |  FROM events)
      |SELECT w_start, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
      |FROM ex
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------- asof_latest_order
  // As-of join: state of the customer's latest order at each event time
  // (union+window composition, AsOfJoin.backward). DuckDB's native
  // ASOF JOIN is the oracle. Right side deduped per (key, ts) with a
  // deterministic max-orderkey tiebreak.
  private def asof(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"))
    val rk = Window.partitionBy(col("user_id"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val ord = Tables.orders(s, d)
      .select(col("o_custkey").as("user_id"), col("o_orderdate"),
        col("o_orderkey"), col("o_totalprice"))
      .withColumn("__rk", row_number().over(rk))
      .filter(col("__rk") === 1).drop("__rk")
    graft.plans.AsOfJoin.backward(ev, ord, "user_id", "ts", "o_orderdate",
      Seq("o_orderkey", "o_totalprice"))
  }

  private val asofSql =
    """WITH ord AS (
      |  SELECT user_id, o_orderdate, o_orderkey, o_totalprice FROM (
      |    SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice,
      |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
      |                         ORDER BY o_orderkey DESC) AS rn
      |    FROM orders) WHERE rn = 1)
      |SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
      |FROM events e
      |ASOF JOIN ord o
      |  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate""".stripMargin

  // ---------------------------------------------------- q15_kmv_distinct
  // KMV distinct sketch (custom typed Aggregator) next to the exact
  // count. The portable hash makes the k-th minimum — and the estimate —
  // a pure function of the distinct set, so the sketch itself is
  // hash-checkable in DuckDB (rank-64 window mirror).
  private def kmvDistinct(s: SparkSession, d: String): DataFrame = {
    val kmv = udaf(new graft.functions.KmvSketch(64))
    Tables.events(s, d)
      .withColumn("h", expr(
        "cast(conv(substring(md5(concat('u', cast(user_id AS string))), 1, 15), 16, 10) AS bigint)"))
      .groupBy(col("event_type"))
      .agg(
        kmv(col("h")).as("est_users"),
        countDistinct(col("user_id")).as("exact_users"))
  }

  private val kmvDistinctSql =
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |    CAST(concat('0x', substr(md5('u' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |  FROM events),
      |r AS (
      |  SELECT event_type, hv,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM h),
      |est AS (
      |  SELECT event_type,
      |    CASE WHEN MAX(n) < 64 THEN CAST(MAX(n) AS DOUBLE)
      |         ELSE 63 * CAST(1152921504606846976 AS DOUBLE)
      |              / MAX(CASE WHEN rn = 64 THEN hv END) END AS est_users
      |  FROM r GROUP BY event_type),
      |ex AS (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
      |  FROM events GROUP BY event_type)
      |SELECT est.event_type, est.est_users, ex.exact_users
      |FROM est JOIN ex ON est.event_type = ex.event_type""".stripMargin

  // ---------------------------------------------------- range_join_sessions
  // Point-in-interval range join: each event located inside its user's
  // gap-session interval (bucketized equi-join + residual filter — NOT
  // the O(n·m) nested loop Spark would plan for a raw BETWEEN join).
  // Every event lands in exactly one of its user's sessions, so row
  // count == event count — a self-checking property the oracle verifies.
  private def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"))
    val sessions = Sessionize
      .bySessionWindow(Tables.events(s, d), "user_id", "ts")
    graft.plans.RangeJoin.pointInInterval(
      ev, sessions, "user_id", "ts", "start_ts", "end_ts")
      .select(col("event_id"), col("user_id"), col("start_ts"),
        col("end_ts"), col("n_touches"))
  }

  private val rangeJoinSql =
    s"""WITH ${Sessionize.duckdbSessionCtes},
      |sessions AS (
      |  SELECT user_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
      |    COUNT(*) AS n_touches
      |  FROM numbered GROUP BY user_id, session_id)
      |SELECT e.event_id, e.user_id, s.start_ts, s.end_ts, s.n_touches
      |FROM events e
      |JOIN sessions s
      |  ON e.user_id = s.user_id
      | AND e.ts >= s.start_ts AND e.ts <= s.end_ts""".stripMargin

  // --------------------------------------------------- skew_salted_join
  // The salted skew join driven through the correctness gate: events
  // (fact, potentially hot user keys) ⋈ customer (replicable dim) on the
  // key, salted 8 ways, aggregated per market segment. Salting splits
  // each hot key across 8 sub-keys — every task gets 1/8 of the hot
  // key's rows — at the cost of 8× dim build rows; results are provably
  // identical to the plain join (the oracle IS the plain join).
  private def skewSalted(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("value"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.plans.SkewJoin.saltedInner(ev, cust, "user_id", 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(38, 2))).cast("double").as("sum_value"))
  }

  private val skewSaltedSql =
    """SELECT c.c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(e.value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
      |FROM events e
      |JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------- q17_tdigest
  // Digest-GUIDED exact quantiles per event_type: the t-digest (custom
  // typed Aggregator) answers each target rank approximately in one
  // mergeable pass; a counts pass then measures each answer's exact
  // rank, and a bounded top-k pass snaps it to the true order statistic
  // ((n*p) DIV 100)+1. The output is EXACT at every scale — the ranked
  // DuckDB mirror holds whether or not the digest compressed (round 14
  // pinned only the exact regime; at sf1 the 198k-row groups left it,
  // so the snap passes were added to make exactness scale-free).
  //
  // Scale shape (the reason this beats q9's window sort at 100 TB):
  //   pass 1  digest groupBy       — O(δ + rawCap) state per group
  //   pass 2  rank of the approx   — plain sum of (value <= approx),
  //           groups × percentiles rows out (bounded by the event_type
  //           schema, ≤ 3·|groups| — the same bounded-collect contract
  //           as mmr_select's ≤K broadcast)
  //   pass 3  snap                 — TopKPerKey with k = the measured
  //           digest rank error; map-side partial heaps mean only
  //           partitions·groups·3·k candidate rows cross the exchange.
  // All three scans are full scans of events, but nothing ever sorts a
  // group and no stage's state exceeds O(k): the digest does the
  // narrowing, the exact passes do only residual work proportional to
  // the digest's error (measured, not assumed — k comes from pass 2).
  // TDigestSpec property-tests the digest's own rank-error bound.
  private def tdigestQ(s: SparkSession, d: String): DataFrame = {
    val ps = Seq(50, 95, 99)
    val td = udaf(new graft.functions.TDigestSketch.Quantiles(ps))
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))

    // Pass 1: digest per group -> approximate value at each target rank.
    val approx = ev.groupBy(col("event_type"))
      .agg(td(col("value")).as("qs"), count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        posexplode(col("qs")).as(Seq("pi", "approx")))
      .withColumn("p", element_at(lit(ps.toArray), col("pi") + 1))
      .withColumn("target", expr("((n * p) DIV 100) + 1"))
      .select("event_type", "p", "n", "approx", "target")

    // Pass 2: exact rank of each approximate answer. One broadcast join
    // (3 boundary rows per group), one aggregation; the collect is
    // bounded by |event_type schema| * |percentiles|.
    val ranks = ev.join(broadcast(approx), Seq("event_type"))
      .groupBy(col("event_type"), col("p"))
      .agg(
        sum(when(col("value") <= col("approx"), 1L).otherwise(0L)).as("cnt_le"),
        first(col("approx")).as("approx"),
        first(col("target")).as("target"),
        first(col("n")).as("n"))
      .collect()

    // Per boundary: if the approx's rank reached the target, the true
    // value is the (cnt_le-target+1)-th LARGEST among values <= approx;
    // otherwise the (target-cnt_le)-th SMALLEST among values > approx.
    // A signed sort key folds both sides into one ascending TopKPerKey.
    val bounds = ranks.toSeq.map { r =>
      val cntLe  = r.getAs[Long]("cnt_le")
      val target = r.getAs[Long]("target")
      val fromLe = cntLe >= target
      (r.getAs[String]("event_type"), r.getAs[Int]("p"),
        r.getAs[Long]("n"), r.getAs[Double]("approx"),
        fromLe, if (fromLe) cntLe - target + 1 else target - cntLe)
    }
    val kmax = bounds.map(_._6).foldLeft(1L)(math.max).toInt
    import s.implicits._
    val boundDf = broadcast(bounds.toDF(
      "event_type", "p", "n", "approx", "from_le", "kneed"))

    // Pass 3: snap. Candidates on each boundary's needed side, k-th by
    // the signed key = the exact order statistic.
    val cand = ev.join(boundDf, Seq("event_type"))
      .filter((col("from_le") && col("value") <= col("approx")) ||
              (!col("from_le") && col("value") > col("approx")))
      .withColumn("sk", when(col("from_le"), -col("value")).otherwise(col("value")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("p")).orderBy(col("sk"))
    graft.plans.TopK.perKey(cand, Seq("event_type", "p"),
        Seq(("sk", true)), kmax)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === col("kneed"))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("p") === 50, col("value"))).as("p50"),
        max(when(col("p") === 95, col("value"))).as("p95"),
        max(when(col("p") === 99, col("value"))).as("p99"),
        max(col("n")).as("n"))
  }

  private val tdigestSql =
    """WITH ranked AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type,
      |  MAX(CASE WHEN rn = ((n * 50) // 100) + 1 THEN value END) AS p50,
      |  MAX(CASE WHEN rn = ((n * 95) // 100) + 1 THEN value END) AS p95,
      |  MAX(CASE WHEN rn = ((n * 99) // 100) + 1 THEN value END) AS p99,
      |  MAX(n) AS n
      |FROM ranked
      |GROUP BY event_type""".stripMargin

  // ------------------------------------------------------ resample_locf
  // Time-series resampling with last-observation-carried-forward — the
  // gap-filling operator that aligns irregular telemetry onto a fixed
  // grid (the reference's dashboards poll "latest known value"
  // consumer-side, `kafkaConsumer.js` state lookups; training-data
  // pipelines need the same alignment to join time series at fixed
  // steps). A 1-minute grid over a fixed 4-hour window for users < 10;
  // each grid point carries the most recent observation at-or-before it
  // (null before a user's first event). Shape: the grid is a bounded
  // sequence explode unioned with the observations, ONE per-user window
  // pass — at scale this is a keyed sort within user partitions, no
  // driver involvement. Output carries the observed VALUE and the
  // observation's timestamp verbatim (no derived arithmetic — parity by
  // construction).
  private val LocfStart = "2024-01-01 00:00:00"
  private val LocfEnd   = "2024-01-01 03:59:00"
  private val LocfCutoff = "2024-01-01 04:00:00"
  private val LocfUsers = 10

  private def resampleLocf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .filter(col("user_id") < LocfUsers &&
        col("ts") < to_timestamp(lit(LocfCutoff)))
    val obs = ev.select(col("user_id"), col("ts"),
      col("value"), col("ts").as("ts_obs"), lit(0).as("src"))
    val grid = ev.select(col("user_id")).distinct()
      .withColumn("ts", explode(expr(
        s"sequence(to_timestamp('$LocfStart'), to_timestamp('$LocfEnd'), interval 1 minute)")))
      .select(col("user_id"), col("ts"),
        lit(null).cast("double").as("value"),
        lit(null).cast("timestamp").as("ts_obs"), lit(1).as("src"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("src"), col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs.union(grid)
      .withColumn("value_locf", last(col("value"), ignoreNulls = true).over(w))
      .withColumn("last_obs", last(col("ts_obs"), ignoreNulls = true).over(w))
      .filter(col("src") === 1)
      .select(col("user_id"), col("ts").as("minute_ts"),
        col("value_locf"), col("last_obs"))
  }

  private val resampleLocfSql =
    s"""WITH e AS (
       |  SELECT user_id, ts, value, ts AS ts_obs, 0 AS src
       |  FROM events
       |  WHERE user_id < $LocfUsers AND ts < TIMESTAMP '$LocfCutoff'),
       |g AS (
       |  SELECT u.user_id, gs.ts, CAST(NULL AS DOUBLE) AS value,
       |    CAST(NULL AS TIMESTAMP) AS ts_obs, 1 AS src
       |  FROM (SELECT DISTINCT user_id FROM events
       |        WHERE user_id < $LocfUsers
       |          AND ts < TIMESTAMP '$LocfCutoff') u,
       |  generate_series(TIMESTAMP '$LocfStart', TIMESTAMP '$LocfEnd',
       |                  INTERVAL 1 MINUTE) gs(ts)),
       |unioned AS (
       |  SELECT * FROM e UNION ALL SELECT * FROM g),
       |carried AS (
       |  SELECT user_id, ts, src,
       |    last_value(value IGNORE NULLS) OVER (
       |      PARTITION BY user_id ORDER BY ts, src, value
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
       |    last_value(ts_obs IGNORE NULLS) OVER (
       |      PARTITION BY user_id ORDER BY ts, src, value
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_obs
       |  FROM unioned)
       |SELECT user_id, ts AS minute_ts, value_locf, last_obs
       |FROM carried WHERE src = 1""".stripMargin

  // ----------------------------------------------------- gap_histogram
  // Inter-arrival-time distribution in power-of-two microsecond
  // decades: per-user event gaps (lag over the (user, ts, event_id)
  // total order — a keyed window, each user's rows sort within their
  // hash partition), bucketed by exact binary-string length (the
  // zipf_tail discipline — no float log2 at bucket boundaries). The
  // telemetry-health diagnostic that sizes burst vs idle behavior and
  // feeds watermark/session-gap tuning; output ≤ ~64 rows at any
  // event volume. Zero/negative gaps (same-timestamp events) keep
  // their own -1 bucket rather than vanishing.
  private def gapHistogram(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .withColumn("k", when(col("gap") <= 0, lit(-1L))
        .otherwise((length(expr("bin(gap)")) - 1).cast("long")))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        min(col("gap")).as("min_gap"),
        max(col("gap")).as("max_gap"))
  }

  private val gapHistogramSql =
    """WITH g AS (
      |  SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |  FROM events)
      |SELECT CASE WHEN gap <= 0 THEN CAST(-1 AS BIGINT)
      |       ELSE CAST(length(bin(gap)) - 1 AS BIGINT) END AS k,
      |  COUNT(*) AS n, MIN(gap) AS min_gap, MAX(gap) AS max_gap
      |FROM g WHERE gap IS NOT NULL
      |GROUP BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("gap_histogram", gapHistogram, Some(gapHistogramSql)),
    QueryDef("resample_locf", resampleLocf, Some(resampleLocfSql)),
    QueryDef("range_join_sessions", rangeJoin, Some(rangeJoinSql)),
    QueryDef("q15_kmv_distinct", kmvDistinct, Some(kmvDistinctSql)),
    QueryDef("q17_tdigest", tdigestQ, Some(tdigestSql)),
    QueryDef("skew_salted_join", skewSalted, Some(skewSaltedSql)),
    QueryDef("detect_delta_speed", deltaSpeed, Some(deltaSpeedSql)),
    QueryDef("detect_geofence", geofence, Some(geofenceSql)),
    QueryDef("q11_set_ops", setOps, Some(setOpsSql)),
    QueryDef("q12_json_props", jsonProps, Some(jsonPropsSql)),
    QueryDef("q13_tumbling_agg", tumbling, Some(tumblingSql)),
    QueryDef("q14_sliding_agg", sliding, Some(slidingSql)),
    QueryDef("asof_latest_order", asof, Some(asofSql)))
}
