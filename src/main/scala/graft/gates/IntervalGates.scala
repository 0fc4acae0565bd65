package graft
package gates

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Query gates — intervals and time series: outages, uptime, interval joins,
  * date spines, buckets and rolling windows. Each gate pairs its Spark query
  * with the DuckDB oracle SQL the correctness gate compares it against. */
private[graft] object IntervalGates {
  import Shared._

  /** 10-minute activity intervals derived from events (outage-model shape). */
  private def eventIntervals(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("user_id"),
      col("ts").as("from_ts"),
      (col("ts") + expr("interval 10 minutes")).as("to_ts"))

  val gates: Seq[Gate] = Seq(
    // §2#11 bounded-window correlation — int_transactions.sql req↔conf
    Gate("q_event_correlate", (s, dir) => {
      val ev = Tables.events(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
      AsOf.correlateFirstWithin(
          signups, purchases, Seq("user_id"), "event_id", "ts", "ts",
          7L * 86400L, Seq("event_id", "value"))
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("matched_ts")).as("matched_ts_us"),
          col("matched_event_id"), col("matched_value"))
    },
      """WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
        |p AS (SELECT event_id AS p_event_id, user_id, ts AS p_ts, value AS p_value
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT s.event_id, s.user_id, s.ts, p.p_ts, p.p_event_id, p.p_value,
        |      row_number() OVER (PARTITION BY s.event_id ORDER BY p.p_ts, p.p_event_id) AS rn
        |      FROM s LEFT JOIN p ON s.user_id = p.user_id AND p.p_ts > s.ts
        |        AND epoch_us(p.p_ts) <= epoch_us(s.ts) + 604800000000)
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us, epoch_us(p_ts) AS matched_ts_us,
        |  p_event_id AS matched_event_id, p_value AS matched_value
        |FROM j WHERE rn = 1""".stripMargin),

    // §2#7b point-in-interval join — int_connector_preparing.sql shape
    // (attach events falling inside each session's [start,end] interval)
    Gate("q_interval_join", (s, dir) => {
      val sessions = sessionRollup(s, dir).select(
        col("user_id"), col("session_seq"),
        col("session_start_ts"), col("session_end_ts"))
      val errors = Tables.events(s, dir)
        .filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("err_ts"))
      sessions.join(errors,
          sessions("user_id") === errors("user_id") &&
            col("err_ts") >= col("session_start_ts") &&
            col("err_ts") <= col("session_end_ts"),
          "left")
        .groupBy(sessions("user_id"), col("session_seq"))
        .agg(count(col("err_ts")).as("n_errors_in_session"))
    },
      SessSql +
        """, spans AS (
          |  SELECT user_id, session_seq, min(ts) AS s_start, max(ts) AS s_end
          |  FROM sess GROUP BY 1, 2
          |), e AS (SELECT user_id, ts AS err_ts FROM events WHERE event_type = 'error')
          |SELECT s.user_id, s.session_seq, cast(count(e.err_ts) AS bigint) AS n_errors_in_session
          |FROM spans s LEFT JOIN e ON s.user_id = e.user_id
          |  AND e.err_ts >= s.s_start AND e.err_ts <= s.s_end
          |GROUP BY 1, 2""".stripMargin),

    // §2#8b group-fill (retroactive identity inference) — fact_visits.sql
    // step 1: anonymous rows inherit the group's known identity
    Gate("q_group_fill", (s, dir) => {
      val tagged = sessionized(s, dir).withColumn("id_tag",
        when(col("event_type") === "purchase",
          concat(lit("tag_"), col("user_id"), lit("_"), get_json_object(col("props"), "$.k"))))
      val w = Window.partitionBy(col("user_id"), col("session_seq"))
      tagged.select(
        col("event_id"), col("user_id"), col("session_seq"), col("id_tag"),
        max(col("id_tag")).over(w).as("inferred_id_tag"))
    },
      SessSql +
        """
          |SELECT event_id, user_id, session_seq,
          |  CASE WHEN event_type = 'purchase'
          |    THEN 'tag_' || user_id || '_' || json_extract_string(props, '$.k') END AS id_tag,
          |  max(CASE WHEN event_type = 'purchase'
          |    THEN 'tag_' || user_id || '_' || json_extract_string(props, '$.k') END)
          |    OVER (PARTITION BY user_id, session_seq) AS inferred_id_tag
          |FROM sess""".stripMargin),

    // §2#8c forward-fill (last non-null per key ordered by ts)
    Gate("q_forward_fill", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("purchase_value",
          when(col("event_type") === "purchase", col("value")))
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          last(col("purchase_value"), ignoreNulls = true).over(w)
            .as("last_purchase_value"))
    },
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
        |FROM events""".stripMargin),

    // §2#11c backward as-of join: each purchase picks the latest prior view
    // by the same user (trade↔quote shape) — union + carry-forward window,
    // one shuffle, no range join
    Gate("q_asof_backward", (s, dir) => {
      // null keys excluded on BOTH sides (and in the oracle): Spark window
      // partitioning groups null keys together while a SQL equi-join drops
      // them — filtering keeps the two engines' semantics aligned
      val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
      AsOf.asOfBackward(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "view")
            .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
              col("value").as("view_value")),
          Seq("user_id"), "ts", "ts", Seq("view_id", "view_value"),
          rightTieBreakCols = Seq("view_id"))
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_ts")).as("asof_ts_us"),
          col("asof_view_id"), col("asof_view_value"))
    },
      """WITH purchases AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL
        |), views AS (
        |  SELECT user_id, ts, event_id AS view_id, value AS view_value
        |  FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
        |)
        |, won AS (
        |  -- NOT an ASOF JOIN: DuckDB's ASOF leaves the winner unspecified when
        |  -- two right rows share (user_id, ts); the Spark side deterministically
        |  -- keeps the largest view_id (rightTieBreakCols), so the oracle picks
        |  -- the winning row explicitly (max ts, then max view_id)
        |  SELECT p.event_id, p.user_id, p.ts, v.ts AS vts, v.view_id, v.view_value,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY v.ts DESC NULLS LAST, v.view_id DESC NULLS LAST) AS rn
        |  FROM purchases p LEFT JOIN views v
        |    ON p.user_id = v.user_id AND v.ts <= p.ts
        |)
        |SELECT event_id, user_id,
        |  epoch_us(ts) AS ts_us,
        |  epoch_us(vts) AS asof_ts_us,
        |  view_id AS asof_view_id, view_value AS asof_view_value
        |FROM won WHERE rn = 1""".stripMargin),

    // §2#11b full-outer merge-coalesce — fact_charge_attempts.sql
    // (two event-derived streams merged per key, fields coalesced)
    Gate("q_fullouter_merge", (s, dir) => {
      val ev = Tables.events(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_signups"), unix_micros(min(col("ts"))).as("first_signup_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("purchase_value"))
      signups.join(purchases, Seq("user_id"), "full_outer")
        .select(
          col("user_id"),
          coalesce(col("n_signups"), lit(0L)).as("n_signups"),
          col("first_signup_us"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
          coalesce(col("purchase_value"), lit(0.0)).as("purchase_value"))
    },
      """WITH s AS (
        |  SELECT user_id, cast(count(*) AS bigint) AS n_signups,
        |    epoch_us(min(ts)) AS first_signup_us
        |  FROM events WHERE event_type = 'signup' GROUP BY 1
        |), p AS (
        |  SELECT user_id, cast(count(*) AS bigint) AS n_purchases,
        |    cast(sum(cast(value AS decimal(18,2))) AS double) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |)
        |SELECT coalesce(s.user_id, p.user_id) AS user_id,
        |  coalesce(s.n_signups, 0) AS n_signups, s.first_signup_us,
        |  coalesce(p.n_purchases, 0) AS n_purchases,
        |  coalesce(p.purchase_value, 0.0) AS purchase_value
        |FROM s FULL OUTER JOIN p ON s.user_id = p.user_id""".stripMargin),

    // §2#12 merge adjacent/overlapping intervals — int_faulted_outages.sql
    Gate("q_gaps_islands", (s, dir) =>
      Intervals.mergeIntervals(eventIntervals(s, dir), Seq("user_id"), "from_ts", "to_ts")
        .select(
          col("user_id"),
          unix_micros(col("from_ts")).as("from_us"),
          unix_micros(col("to_ts")).as("to_us")),
      """WITH iv AS (SELECT user_id, ts AS from_ts, ts + INTERVAL 10 MINUTE AS to_ts FROM events),
        |x AS (SELECT user_id, from_ts, to_ts,
        |  max(to_ts) OVER (PARTITION BY user_id ORDER BY from_ts, to_ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM iv),
        |y AS (SELECT *, CASE WHEN prev_max IS NULL OR prev_max < from_ts THEN 1 ELSE 0 END AS ni FROM x),
        |z AS (SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY from_ts, to_ts
        |    ROWS UNBOUNDED PRECEDING) AS island FROM y)
        |SELECT user_id, epoch_us(min(from_ts)) AS from_us, epoch_us(max(to_ts)) AS to_us
        |FROM z GROUP BY user_id, island""".stripMargin),

    // §2#12b composite all-faulted outage rule — int_faulted_outages.sql
    // end-to-end: per-sub-entity islands → boundary sweep → full-coverage
    // segments → merged outage windows ("outage only while ALL connectors
    // are faulted"). Two "connectors" are derived from event-id parity.
    Gate("q_faulted_outages", (s, dir) => {
      val spans = Tables.events(s, dir).select(
        col("user_id"),
        (col("event_id") % 2).cast("string").as("connector_id"),
        col("ts").as("from_ts"),
        (col("ts") + expr("interval 10 minutes")).as("to_ts"))
      val required = spans.select("user_id").distinct()
        .withColumn("n_connectors", lit(2L))
      Outages.allFaultedOutages(spans, Seq("user_id"), "connector_id",
          "from_ts", "to_ts", required, "n_connectors")
        .select(col("user_id"),
          unix_micros(col("from_ts")).as("from_us"),
          unix_micros(col("to_ts")).as("to_us"))
    },
      """WITH spans AS (
        |  SELECT user_id, cast(event_id % 2 AS varchar) AS connector_id,
        |    ts AS from_ts, make_timestamp(epoch_us(ts) + 600000000) AS to_ts
        |  FROM events
        |), flagged AS (
        |  SELECT *, CASE WHEN prev_max IS NULL OR prev_max < from_ts THEN 1 ELSE 0 END AS new_island
        |  FROM (SELECT *, max(to_ts) OVER (PARTITION BY user_id, connector_id
        |          ORDER BY from_ts, to_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |        FROM spans)
        |), islands AS (
        |  SELECT user_id, connector_id, from_ts, to_ts,
        |    sum(new_island) OVER (PARTITION BY user_id, connector_id
        |      ORDER BY from_ts, to_ts ROWS UNBOUNDED PRECEDING) AS island
        |  FROM flagged
        |), disjoint AS (
        |  SELECT user_id, connector_id, min(from_ts) AS from_ts, max(to_ts) AS to_ts
        |  FROM islands GROUP BY user_id, connector_id, island
        |), points AS (
        |  SELECT user_id, from_ts AS pt, 1 AS delta FROM disjoint
        |  UNION ALL
        |  SELECT user_id, to_ts, -1 FROM disjoint
        |), grouped AS (
        |  SELECT user_id, pt, sum(delta) AS delta FROM points GROUP BY user_id, pt
        |), sweep AS (
        |  SELECT user_id, pt AS segment_start, lead(pt) OVER w AS segment_end,
        |    sum(delta) OVER (PARTITION BY user_id ORDER BY pt ROWS UNBOUNDED PRECEDING) AS active
        |  FROM grouped WINDOW w AS (PARTITION BY user_id ORDER BY pt)
        |), full_seg AS (
        |  SELECT user_id, segment_start AS from_ts, segment_end AS to_ts
        |  FROM sweep WHERE segment_end IS NOT NULL AND active = 2
        |), f2 AS (
        |  SELECT *, CASE WHEN prev_max IS NULL OR prev_max < from_ts THEN 1 ELSE 0 END AS new_island
        |  FROM (SELECT *, max(to_ts) OVER (PARTITION BY user_id
        |          ORDER BY from_ts, to_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |        FROM full_seg)
        |), i2 AS (
        |  SELECT user_id, from_ts, to_ts,
        |    sum(new_island) OVER (PARTITION BY user_id ORDER BY from_ts, to_ts
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM f2
        |)
        |SELECT user_id, epoch_us(min(from_ts)) AS from_us, epoch_us(max(to_ts)) AS to_us
        |FROM i2 GROUP BY user_id, island
        |HAVING max(to_ts) > min(from_ts)""".stripMargin),

    // §2#13 concurrent-interval sweep — int_faulted_outages.sql overlap count
    Gate("q_interval_sweep", (s, dir) =>
      Intervals.sweepActiveCount(eventIntervals(s, dir), Seq("user_id"), "from_ts", "to_ts")
        .select(
          col("user_id"),
          unix_micros(col("segment_start")).as("segment_start_us"),
          unix_micros(col("segment_end")).as("segment_end_us"),
          col("active_count")),
      """WITH iv AS (SELECT user_id, ts AS from_ts, ts + INTERVAL 10 MINUTE AS to_ts FROM events),
        |pts AS (SELECT user_id, from_ts AS pt, 1 AS delta FROM iv
        |        UNION ALL SELECT user_id, to_ts, -1 FROM iv),
        |g AS (SELECT user_id, pt, sum(delta) AS delta FROM pts GROUP BY 1, 2),
        |r AS (SELECT user_id, pt,
        |  cast(sum(delta) OVER (PARTITION BY user_id ORDER BY pt ROWS UNBOUNDED PRECEDING) AS bigint) AS active_count,
        |  lead(pt) OVER (PARTITION BY user_id ORDER BY pt) AS segment_end FROM g)
        |SELECT user_id, epoch_us(pt) AS segment_start_us, epoch_us(segment_end) AS segment_end_us,
        |  active_count FROM r WHERE segment_end IS NOT NULL""".stripMargin),

    // §2#14 heartbeat-gap detection — int_offline_outages.sql
    Gate("q_offline_gaps", (s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "ts")
      val bounds = Tables.events(s, dir)
        .agg(min(col("ts")).as("mstart"), max(col("ts")).as("mend"))
      Intervals.heartbeatGaps(
          ev.crossJoin(broadcast(bounds)),
          Seq("user_id"), "ts", "mstart", "mend", 3600L)
        .select(
          col("user_id"),
          unix_micros(col("from_ts")).as("from_us"),
          unix_micros(col("to_ts")).as("to_us"),
          col("gap_seconds"))
    },
      """WITH b AS (SELECT min(ts) AS mstart, max(ts) AS mend FROM events),
        |g AS (SELECT user_id, ts, lag(ts) OVER w AS prev, lead(ts) OVER w AS nxt
        |      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |gaps AS (
        |  SELECT user_id, prev AS from_ts, ts AS to_ts FROM g WHERE prev IS NOT NULL
        |  UNION ALL
        |  SELECT g.user_id, b.mstart, g.ts FROM g, b WHERE g.prev IS NULL AND g.ts > b.mstart
        |  UNION ALL
        |  SELECT g.user_id, g.ts, b.mend FROM g, b WHERE g.nxt IS NULL AND g.ts < b.mend)
        |SELECT user_id, epoch_us(from_ts) AS from_us, epoch_us(to_ts) AS to_us,
        |  (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 AS gap_seconds
        |FROM gaps WHERE (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 > 3600""".stripMargin),

    // §2#15 calendar spine — dim_dates.sql
    Gate("q_date_spine", (s, dir) =>
      Intervals.dateSpine(s, "2024-01-01", "2024-12-31").select(
        col("date_id"),
        col("year").cast("long").as("year"),
        col("month").cast("long").as("month"),
        col("day").cast("long").as("day"),
        col("day_of_week").cast("long").as("day_of_week"),
        col("quarter").cast("long").as("quarter"),
        col("week_start_date"), col("month_start_date"),
        col("quarter_start_date"), col("year_start_date")),
      """WITH s AS (SELECT cast(unnest(generate_series(TIMESTAMP '2024-01-01',
        |    TIMESTAMP '2024-12-31', INTERVAL 1 DAY)) AS date) AS d)
        |SELECT d AS date_id, cast(year(d) AS bigint) AS year, cast(month(d) AS bigint) AS month,
        |  cast(day(d) AS bigint) AS day, cast(dayofweek(d) + 1 AS bigint) AS day_of_week,
        |  cast(quarter(d) AS bigint) AS quarter,
        |  cast(date_trunc('week', d) AS date) AS week_start_date,
        |  cast(date_trunc('month', d) AS date) AS month_start_date,
        |  cast(date_trunc('quarter', d) AS date) AS quarter_start_date,
        |  cast(date_trunc('year', d) AS date) AS year_start_date
        |FROM s""".stripMargin),

    // §2#16 interval→day allocation — fact_downtime_daily.sql
    Gate("q_daily_overlap", (s, dir) =>
      Intervals.allocateToDays(
          sessionRollup(s, dir).select(
            col("user_id"), col("session_start_ts"), col("session_end_ts")),
          "session_start_ts", "session_end_ts")
        .groupBy(col("user_id"), col("date_id"))
        .agg((sum(col("overlap_us")) / lit(60000000.0)).as("active_minutes")),
      SessSql +
        """, spans AS (
          |  SELECT user_id, session_seq, min(ts) AS s_start, max(ts) AS s_end
          |  FROM sess GROUP BY 1, 2
          |), days AS (
          |  SELECT user_id, s_start, s_end,
          |    cast(unnest(generate_series(cast(date_trunc('day', s_start) AS timestamp),
          |      cast(date_trunc('day', s_end) AS timestamp), INTERVAL 1 DAY)) AS date) AS date_id
          |  FROM spans
          |), clipped AS (
          |  SELECT user_id, date_id,
          |    epoch_us(least(s_end, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
          |    epoch_us(greatest(s_start, cast(date_id AS timestamp))) AS overlap_us
          |  FROM days
          |)
          |SELECT user_id, date_id, cast(sum(overlap_us) AS double) / 60000000.0 AS active_minutes
          |FROM clipped WHERE overlap_us > 0 GROUP BY 1, 2""".stripMargin),

    // §2#17 entity-lifetime × day spine — fact_charger_commissioned_daily.sql
    Gate("q_commissioned_daily", (s, dir) =>
      Intervals.allocateToDays(
          Tables.events(s, dir).groupBy(col("user_id"))
            .agg(min(col("ts")).as("c_start"), max(col("ts")).as("c_end")),
          "c_start", "c_end")
        .select(col("user_id"), col("date_id"), col("overlap_minutes").as("minutes")),
      """WITH spans AS (SELECT user_id, min(ts) AS c_start, max(ts) AS c_end FROM events GROUP BY 1),
        |days AS (
        |  SELECT user_id, c_start, c_end,
        |    cast(unnest(generate_series(cast(date_trunc('day', c_start) AS timestamp),
        |      cast(date_trunc('day', c_end) AS timestamp), INTERVAL 1 DAY)) AS date) AS date_id
        |  FROM spans
        |), clipped AS (
        |  SELECT user_id, date_id,
        |    epoch_us(least(c_end, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
        |    epoch_us(greatest(c_start, cast(date_id AS timestamp))) AS overlap_us
        |  FROM days
        |)
        |SELECT user_id, date_id, overlap_us / 60000000.0 AS minutes
        |FROM clipped WHERE overlap_us > 0""".stripMargin),

    // §2#18 uptime ratio — fact_uptime.sql
    Gate("q_uptime", (s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "ts")
      val span = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("c_start"), max(col("ts")).as("c_end"))
      val commissioned = Intervals.allocateToDays(span, "c_start", "c_end")
        .select(col("user_id"), col("date_id"), col("overlap_us").as("c_us"))
      val gaps = Intervals.heartbeatGaps(
          ev.join(span, "user_id"), Seq("user_id"), "ts", "c_start", "c_end", 3600L)
        .select(col("user_id"), col("from_ts"), col("to_ts"))
      val downtime = Intervals.allocateToDays(gaps, "from_ts", "to_ts")
        .groupBy(col("user_id"), col("date_id"))
        .agg(sum(col("overlap_us")).as("d_us"))
      commissioned.join(downtime, Seq("user_id", "date_id"), "left")
        .withColumn("d_us", coalesce(col("d_us"), lit(0L)))
        .filter(col("c_us") > 0)
        .select(
          col("user_id"), col("date_id"),
          ((col("c_us") - col("d_us")).cast("double") / col("c_us").cast("double"))
            .as("uptime"))
    },
      UptimeSql + "\nSELECT user_id, date_id, uptime FROM uptime"),

    // §2#19 fixed time-bucket aggregation — fact_interval_data.sql
    Gate("q_bucket15", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          Intervals.timeBucket(col("ts"), 900L).as("bucket_ts"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(
          unix_micros(col("bucket_ts")).as("bucket_start_us"),
          col("event_type"), col("n"), col("total_value")),
      """SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)) AS bucket_start_us,
        |  event_type, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // §2#19c interval→15-min-bucket allocation with clipped partial first/
    // last buckets — fact_interval_data.sql:165-190
    Gate("q_bucket_alloc", (s, dir) =>
      Intervals.allocateToBuckets(eventIntervals(s, dir), "from_ts", "to_ts", 900L)
        .groupBy(col("user_id"), col("bucket_start"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("overlap_us")).as("total_overlap_us"))
        .select(
          col("user_id"),
          unix_micros(col("bucket_start")).as("bucket_us"),
          col("n_intervals"), col("total_overlap_us")),
      """WITH iv AS (
        |  SELECT user_id, ts AS from_ts,
        |    make_timestamp(epoch_us(ts) + 600000000) AS to_ts FROM events
        |), b AS (
        |  SELECT user_id, from_ts, to_ts,
        |    unnest(generate_series(
        |      make_timestamp(epoch_us(from_ts) // 900000000 * 900000000),
        |      make_timestamp(epoch_us(to_ts) // 900000000 * 900000000),
        |      INTERVAL 900 SECOND)) AS bucket_start
        |  FROM iv
        |), c AS (
        |  SELECT user_id, bucket_start,
        |    epoch_us(least(to_ts, bucket_start + INTERVAL 900 SECOND)) -
        |    epoch_us(greatest(from_ts, bucket_start)) AS overlap_us
        |  FROM b
        |)
        |SELECT user_id, epoch_us(bucket_start) AS bucket_us,
        |  cast(count(*) AS bigint) AS n_intervals,
        |  cast(sum(overlap_us) AS bigint) AS total_overlap_us
        |FROM c WHERE overlap_us > 0 GROUP BY 1, 2""".stripMargin),

    // §2#19b keyed pivot — fivetran pivot_json_extract shape in
    // int_meter_values.sql: one column per measurand, fixed column set so
    // the schema is static at plan time
    Gate("q_pivot", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
        .select(
          col("user_id"),
          coalesce(col("click"), lit(0.0)).as("click_value"),
          coalesce(col("view"), lit(0.0)).as("view_value"),
          coalesce(col("purchase"), lit(0.0)).as("purchase_value"),
          coalesce(col("signup"), lit(0.0)).as("signup_value"),
          coalesce(col("error"), lit(0.0)).as("error_value")),
      """SELECT user_id,
        |  coalesce(cast(sum(CASE WHEN event_type = 'click' THEN cast(value AS decimal(18,2)) END) AS double), 0.0) AS click_value,
        |  coalesce(cast(sum(CASE WHEN event_type = 'view' THEN cast(value AS decimal(18,2)) END) AS double), 0.0) AS view_value,
        |  coalesce(cast(sum(CASE WHEN event_type = 'purchase' THEN cast(value AS decimal(18,2)) END) AS double), 0.0) AS purchase_value,
        |  coalesce(cast(sum(CASE WHEN event_type = 'signup' THEN cast(value AS decimal(18,2)) END) AS double), 0.0) AS signup_value,
        |  coalesce(cast(sum(CASE WHEN event_type = 'error' THEN cast(value AS decimal(18,2)) END) AS double), 0.0) AS error_value
        |FROM events GROUP BY 1""".stripMargin),

    // §2#49c rolling z-score anomaly detection per entity (telemetry
    // monitoring): trailing-window mean/σ from exact quantized sums —
    // engine-exact variance in one window pass
    Gate("q_rolling_anomaly", (s, dir) =>
      Stats.rollingAnomaly(
          Tables.events(s, dir)
            .select(col("event_id"), col("user_id"), col("ts"), col("value")),
          Seq("user_id"), Seq(col("ts"), col("event_id")), "value")
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("value"), col("z_score"), col("is_anomaly")),
      // quantized frame sums are exact in ANY accumulation order, so only
      // the final mean/variance/z ops need matching order; the frame is the
      // same ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING per (user, ts, event)
      """WITH q AS (SELECT event_id, user_id, ts, value,
        |    floor(CAST(value AS double) * 1024) / 1024 AS q FROM events),
        |w AS (SELECT event_id, user_id, ts, value, q,
        |    count(q) OVER fr AS cnt,
        |    sum(q) OVER fr AS sx,
        |    sum(q * q) OVER fr AS sxx
        |  FROM q WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT event_id, user_id, ts, value, q, cnt,
        |    sx / CAST(cnt AS double) AS mean,
        |    sxx / CAST(cnt AS double)
        |      - (sx / CAST(cnt AS double)) * (sx / CAST(cnt AS double)) AS var
        |  FROM w)
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        |  CASE WHEN cnt = 6 AND var > 0 THEN (q - mean) / sqrt(var) END AS z_score,
        |  cast(CASE WHEN cnt = 6 AND var > 0
        |        AND abs((q - mean) / sqrt(var)) > CAST(3.0 AS double)
        |    THEN 1 ELSE 0 END AS bigint) AS is_anomaly
        |FROM z""".stripMargin),

    // §2#49d point-in-time rolling feature engineering: per-user 1 h / 24 h
    // trailing count + decimal-exact value sum as of each event's own
    // timestamp — leakage-free by construction (RANGE frames never look
    // ahead), both windows stacked on ONE (key, ts) sort, no second
    // exchange (operators/Features.scala)
    Gate("q_rolling_features", (s, dir) =>
      Features.rolling(
          Tables.events(s, dir).select(
            col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("value")),
          Seq("user_id"), col("ts_us"), col("value"),
          Seq(Features.RollingWindow("1h", 3600000000L),
            Features.RollingWindow("24h", 86400000000L)))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("n_1h"), col("v_1h"), col("n_24h"), col("v_24h")),
      // rolling point-in-time features: the same RANGE frames over epoch
      // micros — frames are [t-w, t] inclusive of timestamp peers in both
      // engines (RANGE CURRENT ROW = end of peer group), so no tie-break
      // column is needed; sums run in decimal so frame order can't move a bit
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  count(*) OVER w1 AS n_1h,
        |  cast(sum(cast(value AS decimal(18,2))) OVER w1 AS double) AS v_1h,
        |  count(*) OVER w24 AS n_24h,
        |  cast(sum(cast(value AS decimal(18,2))) OVER w24 AS double) AS v_24h
        |FROM events
        |WINDOW
        |  w1 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
        |  w24 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin),

    // §2#52 regular-grid resampling with linear interpolation (6-hour grid
    // per entity): union readings ∪ span-bounded grid, carry both
    // directions in one window pass — no self-join, bit-portable doubles
    Gate("q_resample", (s, dir) =>
      TimeSeries.resampleLinear(
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        Seq("user_id"), "ts", "value", 21600L, Seq("event_id")),
      // identical union-and-carry formulation: grid instants from integer
      // ceil/floor of the per-user span, readings ordered before coincident
      // grid rows (is_grid asc), duplicates resolved by event_id. The
      // interpolation is the same IEEE op sequence as the Spark side (time
      // deltas are exact integers < 2^53, casts exact) — bit-portable.
      """WITH r AS (SELECT user_id, epoch_us(ts) AS t,
        |    CAST(value AS double) AS v, 0 AS is_grid, event_id AS tb
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT user_id, min(t) AS t0, max(t) AS t1 FROM r GROUP BY 1
        |  HAVING ((min(t) + 21599999999) // 21600000000)
        |      <= (max(t) // 21600000000)),
        |g AS (SELECT user_id,
        |    unnest(generate_series(
        |      ((t0 + 21599999999) // 21600000000) * 21600000000,
        |      (t1 // 21600000000) * 21600000000, 21600000000)) AS t,
        |    CAST(NULL AS double) AS v, 1 AS is_grid, CAST(0 AS bigint) AS tb
        |  FROM b),
        |u AS (SELECT * FROM r UNION ALL SELECT * FROM g),
        |w AS (SELECT user_id, t, is_grid,
        |    last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
        |      OVER wp AS pt,
        |    last_value(CASE WHEN is_grid = 0 THEN v END IGNORE NULLS)
        |      OVER wp AS pv,
        |    last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
        |      OVER wn AS nt,
        |    last_value(CASE WHEN is_grid = 0 THEN v END IGNORE NULLS)
        |      OVER wn AS nv
        |  FROM u WINDOW
        |    wp AS (PARTITION BY user_id ORDER BY t ASC, is_grid ASC, tb ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY user_id ORDER BY t DESC, is_grid ASC, tb ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, t AS grid_ts_us,
        |  CASE WHEN nt = pt THEN pv
        |    ELSE pv + (nv - pv) *
        |      (CAST(t - pt AS double) / CAST(nt - pt AS double)) END AS value
        |FROM w WHERE is_grid = 1 AND pt IS NOT NULL AND nt IS NOT NULL""".stripMargin)
  )
}
