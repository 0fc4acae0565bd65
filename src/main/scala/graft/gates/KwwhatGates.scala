package graft
package gates

import graft.functions.Keys
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Query gates — kwwhat core: the dbt pipeline's staging, dimension, status-
  * change, visit, metric-layer and materialization models. Each gate pairs
  * its Spark query with the DuckDB oracle SQL the correctness gate compares
  * it against. */
private[graft] object KwwhatGates {
  import Shared._

  /** The reference's visit semantic model (semantic_models.yml:97-145 +
    * metrics:310-375) declared once: measures over a fact_visits-shaped
    * frame (`is_successful`, `n_events` per visit), simple + ratio metrics
    * over them. Public so specs can re-instantiate the SAME declarations
    * over different dimension sets.
    */
  def visitSemanticModel: graft.metrics.SemanticModel = {
    import graft.metrics._
    SemanticModel(
      measures = Seq(
        Measure("visits_count", MeasureAgg.Count, col("session_seq")),
        Measure("charge_attempts_count", MeasureAgg.Sum, col("n_events")),
        Measure("first_attempt_success_count", MeasureAgg.SumBoolean,
          col("is_successful") && col("n_events") === 1L),
        Measure("troubled_success_count", MeasureAgg.SumBoolean,
          col("is_successful") && col("n_events") > 1L),
        // yml: agg count, expr "case when is_successful then null else visit_id"
        Measure("failed_visits_count", MeasureAgg.Count,
          when(!col("is_successful"), col("session_seq")))),
      metrics = Seq(
        SimpleMetric("total_visits", "visits_count"),
        SimpleMetric("total_charge_attempts", "charge_attempts_count"),
        RatioMetric("average_attempts_per_visit", "total_charge_attempts", "total_visits"),
        SimpleMetric("first_attempt_success", "first_attempt_success_count"),
        SimpleMetric("troubled_success", "troubled_success_count"),
        SimpleMetric("failed_visits", "failed_visits_count"),
        RatioMetric("first_attempt_success_rate", "first_attempt_success", "total_visits"),
        RatioMetric("troubled_success_rate", "troubled_success", "total_visits"),
        RatioMetric("failed_rate", "failed_visits", "total_visits")))
  }

  val gates: Seq[Gate] = Seq(
    // §2#1 typed staging projection — stg_chargers.sql shape
    Gate("q_stg_cast", (s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey").cast("string").as("customer_id"),
          trim(col("c_name")).as("name"),
          col("c_mktsegment").as("segment"),
          col("c_acctbal").as("acctbal"))
        .distinct(),
      """SELECT DISTINCT cast(c_custkey AS varchar) AS customer_id, trim(c_name) AS name,
        |c_mktsegment AS segment, c_acctbal AS acctbal FROM customer""".stripMargin),

    // §2#2 JSON payload extraction — stg_ocpp_logs.sql shape
    Gate("q_json_extract", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_value"),
        col("event_type")),
      """SELECT event_id, cast(json_extract_string(props, '$.k') AS bigint) AS k_value,
        |event_type FROM events""".stripMargin),

    // §2#2b OCPP JSON ARRAY frame parsing — stg_ocpp_logs.sql:24: message
    // type at [0], message id at [1], payload position depends on the type
    // (CALL=2 → [3], CALLRESULT=3 → [2]); frames synthesized from events
    Gate("q_json_frame", (s, dir) => {
      val ev = Tables.events(s, dir)
      val msg = when(col("event_id") % 2 === 0,
          concat(lit("[2,\""), col("event_id"), lit("\",\""), col("event_type"),
            lit("\","), col("props"), lit("]")))
        .otherwise(concat(lit("[3,\""), col("event_id"), lit("\","), col("props"), lit("]")))
      ev.select(col("event_id"), msg.as("msg"))
        .select(
          col("event_id"),
          get_json_object(col("msg"), "$[0]").as("message_type_id"),
          get_json_object(col("msg"), "$[1]").as("unique_id"),
          when(get_json_object(col("msg"), "$[0]") === "2",
            get_json_object(col("msg"), "$[3].k"))
            .otherwise(get_json_object(col("msg"), "$[2].k"))
            .cast("bigint").as("k_value"))
    },
      """WITH frames AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 2 = 0
        |      THEN '[2,"' || event_id || '","' || event_type || '",' || props || ']'
        |      ELSE '[3,"' || event_id || '",' || props || ']' END AS msg
        |  FROM events
        |)
        |SELECT event_id,
        |  json_extract_string(msg, '$[0]') AS message_type_id,
        |  json_extract_string(msg, '$[1]') AS unique_id,
        |  cast(CASE WHEN json_extract_string(msg, '$[0]') = '2'
        |    THEN json_extract_string(msg, '$[3].k')
        |    ELSE json_extract_string(msg, '$[2].k') END AS bigint) AS k_value
        |FROM frames""".stripMargin),

    // §2#7c interval-scoped event enrichment with ordered array aggregation
    // — int_connector_preparing.sql:116-189: events falling inside a status
    // span are attached and rolled up as an ordered id array (ids are unique
    // per span here; emitted as a sorted joined string: engine-portable and
    // gate-hashable)
    Gate("q_span_enrich", (s, dir) => {
      val ev = Tables.events(s, dir)
      val spans = ev.filter(col("event_type") === "error").select(
        col("user_id"), col("event_id").as("span_id"),
        col("ts").as("from_ts"),
        (col("ts") + expr("interval 10 minutes")).as("to_ts"))
      val other = ev.filter(col("event_type") =!= "error")
        .select(col("user_id"), col("event_id"), col("ts"))
      other.join(spans, Seq("user_id"))
        .filter(col("ts") >= col("from_ts") && col("ts") < col("to_ts"))
        .groupBy(col("user_id"), col("span_id"))
        .agg(
          count(lit(1)).as("n_events"),
          array_join(
            transform(sort_array(collect_list(col("event_id"))), _.cast("string")), ",")
            .as("event_ids"))
    },
      """WITH spans AS (
        |  SELECT user_id, event_id AS span_id, ts AS from_ts,
        |    make_timestamp(epoch_us(ts) + 600000000) AS to_ts
        |  FROM events WHERE event_type = 'error'
        |), other AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type <> 'error'
        |)
        |SELECT o.user_id, s.span_id,
        |  cast(count(*) AS bigint) AS n_events,
        |  array_to_string(list_sort(list(o.event_id)), ',') AS event_ids
        |FROM other o JOIN spans s
        |  ON o.user_id = s.user_id AND o.ts >= s.from_ts AND o.ts < s.to_ts
        |GROUP BY o.user_id, s.span_id""".stripMargin),

    // §2#3 dim hierarchy join + surrogate key — dim_connectors.sql shape
    Gate("q_dim_join", (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select(
          Keys.surrogateKey(col("c_custkey")).as("customer_key"),
          col("c_custkey"),
          col("c_name"),
          col("n_name").as("nation_name"),
          col("r_name").as("region_name")),
      "SELECT " + Keys.surrogateKeySql("c_custkey") + " AS customer_key, " +
        """c_custkey, c_name, n_name AS nation_name, r_name AS region_name
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey""".stripMargin),

    // §2#4 hierarchy cardinality rollup — fact_location_capacity.sql shape
    Gate("q_capacity", (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region_name"))
        .agg(
          countDistinct(col("n_nationkey")).as("n_nations"),
          countDistinct(col("c_custkey")).as("n_customers")),
      """SELECT r_name AS region_name, cast(count(DISTINCT n_nationkey) AS bigint) AS n_nations,
        |cast(count(DISTINCT c_custkey) AS bigint) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey GROUP BY 1""".stripMargin),

    // §2#5 latest row per key — int_connector_latest_status.sql shape
    Gate("q_latest_status", (s, dir) =>
      ChangeDetect.latestByKey(
          Tables.events(s, dir), Seq("user_id"), Seq("ts", "event_id"), Seq("event_type"))
        .select(
          col("user_id"),
          unix_micros(col("latest_ts")).as("latest_ts_us"),
          col("latest_event_type")),
      """SELECT user_id, epoch_us(ts) AS latest_ts_us, event_type AS latest_event_type
        |FROM (SELECT user_id, ts, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin),

    // §2#6 min_by/max_by per key — int_driver_aggregates.sql shape
    Gate("q_minby_maxby", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          unix_micros(min(col("ts"))).as("first_seen_us"),
          unix_micros(max(col("ts"))).as("last_seen_us"),
          min(struct(col("ts"), col("event_id"), col("event_type"))).as("_f"),
          max(struct(col("ts"), col("event_id"), col("event_type"))).as("_l"))
        .select(
          col("user_id"), col("first_seen_us"), col("last_seen_us"),
          col("_f.event_type").as("first_event_type"),
          col("_l.event_type").as("last_event_type")),
      """WITH f AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events),
        |l AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events),
        |a AS (SELECT user_id, epoch_us(min(ts)) AS first_seen_us,
        |  epoch_us(max(ts)) AS last_seen_us FROM events GROUP BY 1)
        |SELECT a.user_id, a.first_seen_us, a.last_seen_us,
        |  f.event_type AS first_event_type, l.event_type AS last_event_type
        |FROM a JOIN f ON a.user_id = f.user_id AND f.rn = 1
        |JOIN l ON a.user_id = l.user_id AND l.rn = 1""".stripMargin),

    // §2#7 ordered change detection — int_status_changes.sql shape
    Gate("q_status_changes", (s, dir) =>
      ChangeDetect.changes(
          Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type"),
          Seq("user_id"), Seq("ts", "event_id"), "event_type")
        .select(
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_type").as("status"),
          col("previous_status"),
          unix_micros(col("previous_ts")).as("previous_ts_us"),
          col("next_status"),
          unix_micros(col("next_ts")).as("next_ts_us")),
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER w AS previous_status, lag(ts) OVER w AS previous_ts
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), changes AS (
        |  SELECT * FROM lagged WHERE previous_status IS NULL OR previous_status <> event_type
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us, event_type AS status, previous_status,
        |  epoch_us(previous_ts) AS previous_ts_us,
        |  lead(event_type) OVER w2 AS next_status,
        |  epoch_us(lead(ts) OVER w2) AS next_ts_us
        |FROM changes WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),

    // §2#7e SCD2 dimension history: the change stream as type-2 validity
    // versions (valid_from/valid_to/version/is_current) — the warehouse dim
    // build int_connector_latest_status.sql truncates to the argmax row of
    Gate("q_scd2", (s, dir) =>
      ChangeDetect.scd2(
          Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type"),
          Seq("user_id"), Seq("ts", "event_id"), "event_type")
        .select(
          col("user_id"), col("event_type").as("status"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("version"), col("is_current")),
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER w AS previous_status
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), changes AS (
        |  SELECT * FROM lagged WHERE previous_status IS NULL OR previous_status <> event_type
        |)
        |SELECT user_id, event_type AS status,
        |  epoch_us(ts) AS valid_from_us,
        |  epoch_us(lead(ts) OVER w2) AS valid_to_us,
        |  cast(row_number() OVER w2 AS bigint) AS version,
        |  (lead(ts) OVER w2 IS NULL) AS is_current
        |FROM changes WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),

    // §2#8 gap-based sessionization — fact_visits.sql visit grouping
    Gate("q_sessionize", (s, dir) =>
      sessionized(s, dir).select(
        col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("is_session_start"), col("session_seq")),
      SessSql +
        """
          |SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          |  cast(is_start AS boolean) AS is_session_start, session_seq FROM sess""".stripMargin),

    // §2#8e the FULL fact_visits pipeline: per-entity tag-inference chains
    // (2-min, stop→start gaps), then dynamic-gap sessionization (30 min
    // authenticated / 2 min anonymous, keyed by location+tag vs
    // location+entity), then per-visit rollup — fact_visits.sql:58-290.
    // Attempts are derived from events: charger=user, port=event parity,
    // location=user bucket, a deterministic stop offset, and a tag only on
    // purchase/click rows (so both the authenticated and anonymous paths and
    // the inference chains are exercised).
    Gate("q_visits", (s, dir) => {
      val attempts = Tables.events(s, dir).select(
        col("event_id"),
        col("user_id").cast("string").as("charger_id"),
        (col("event_id") % 2).cast("string").as("port_id"),
        (col("user_id") % 20).cast("string").as("location_id"),
        col("ts").as("start_ts"),
        timestamp_micros(
          unix_micros(col("ts")) + (lit(30L) + col("event_id") % 300L) * 1000000L)
          .as("stop_ts"),
        when(col("event_type").isin("purchase", "click"),
          concat(lit("T"), (col("user_id") % 7).cast("string"))).as("id_tag"),
        col("value"))
      Visits.visits(attempts, "location_id", Seq("charger_id", "port_id"),
          "start_ts", "stop_ts", "id_tag",
          authGapSeconds = 1800L, anonGapSeconds = 120L, chainGapSeconds = 120L,
          tieBreakCols = Seq("event_id"),
          extraAggs = Seq(
            sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")))
        .select(
          col("grouping_key"), col("visit_seq"),
          unix_micros(col("visit_start_ts")).as("visit_start_us"),
          unix_micros(col("visit_end_ts")).as("visit_end_us"),
          col("charge_attempt_count"), col("id_tag"), col("location_id"),
          col("total_value"))
    },
      """WITH attempts AS (
        |  SELECT event_id,
        |    cast(user_id AS varchar) AS charger_id,
        |    cast(event_id % 2 AS varchar) AS port_id,
        |    cast(user_id % 20 AS varchar) AS location_id,
        |    ts AS start_ts,
        |    make_timestamp(epoch_us(ts) + (30 + event_id % 300) * 1000000) AS stop_ts,
        |    CASE WHEN event_type IN ('purchase', 'click')
        |         THEN 'T' || cast(user_id % 7 AS varchar) END AS id_tag,
        |    value
        |  FROM events
        |), chained AS (
        |  SELECT *,
        |    CASE WHEN lag(stop_ts) OVER w IS NULL
        |           OR epoch_us(start_ts) - epoch_us(lag(stop_ts) OVER w) > 120000000
        |           OR (id_tag IS NOT NULL AND lag(id_tag) OVER w IS NOT NULL
        |               AND id_tag <> lag(id_tag) OVER w)
        |         THEN 1 ELSE 0 END AS chain_start
        |  FROM attempts WINDOW w AS (PARTITION BY charger_id, port_id ORDER BY start_ts, event_id)
        |), chains AS (
        |  SELECT *, sum(chain_start) OVER (PARTITION BY charger_id, port_id
        |    ORDER BY start_ts, event_id ROWS UNBOUNDED PRECEDING) AS chain_seq
        |  FROM chained
        |), inferred AS (
        |  SELECT * REPLACE (max(id_tag) OVER (PARTITION BY charger_id, port_id, chain_seq) AS id_tag)
        |  FROM chains
        |), keyed AS (
        |  SELECT *,
        |    CASE WHEN id_tag IS NOT NULL
        |         THEN 'A' || chr(1) || location_id || chr(1) || id_tag
        |         ELSE 'U' || chr(1) || location_id || chr(1) || charger_id || chr(1) || port_id
        |    END AS grouping_key,
        |    CASE WHEN id_tag IS NOT NULL THEN 1800000000 ELSE 120000000 END AS window_us
        |  FROM inferred
        |), flagged AS (
        |  SELECT *,
        |    CASE WHEN lag(stop_ts) OVER w2 IS NULL
        |           OR epoch_us(start_ts) - epoch_us(lag(stop_ts) OVER w2) > window_us
        |         THEN 1 ELSE 0 END AS visit_start
        |  FROM keyed WINDOW w2 AS (PARTITION BY grouping_key ORDER BY start_ts, event_id)
        |), sessions AS (
        |  SELECT *, cast(sum(visit_start) OVER (PARTITION BY grouping_key
        |    ORDER BY start_ts, event_id ROWS UNBOUNDED PRECEDING) AS bigint) AS visit_seq
        |  FROM flagged
        |)
        |SELECT grouping_key, visit_seq,
        |  epoch_us(min(start_ts)) AS visit_start_us,
        |  epoch_us(max(stop_ts)) AS visit_end_us,
        |  cast(count(*) AS bigint) AS charge_attempt_count,
        |  max(id_tag) AS id_tag, max(location_id) AS location_id,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM sessions GROUP BY grouping_key, visit_seq""".stripMargin),

    // §2#20b batch incremental merge — int_driver_aggregates incremental
    // branch: per-key first/last state built from the "previous runs" half
    // of the data, merged with the "new batch" half via
    // Incremental.mergeFirstLast; correctness oracle = the full-data
    // aggregate (the merge must equal a from-scratch recompute)
    Gate("q_incremental_merge", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_type"))
      val cutoff = lit("2024-01-15").cast("timestamp")
      val existing = ev.filter(col("ts") < cutoff)
        .groupBy(col("user_id"))
        .agg(
          min(col("ts")).as("first_seen_ts"),
          max(col("ts")).as("last_seen_ts"),
          min_by(col("event_type"), struct(col("ts"), col("event_type"))).as("first_event_type"),
          max_by(col("event_type"), struct(col("ts"), col("event_type"))).as("last_event_type"))
      val updates = ev.filter(col("ts") >= cutoff)
      Incremental.mergeFirstLast(
          existing, updates, "user_id", "ts", "event_type",
          firstTsCol = "first_seen_ts", lastTsCol = "last_seen_ts",
          firstValCol = "first_event_type", lastValCol = "last_event_type")
        .select(
          col("user_id"),
          unix_micros(col("first_seen_ts")).as("first_seen_us"),
          unix_micros(col("last_seen_ts")).as("last_seen_us"),
          col("first_event_type"), col("last_event_type"))
    },
      // oracle = full-data recompute: the incremental merge must be
      // indistinguishable from aggregating everything from scratch. Duplicate
      // (user_id, ts) rows are tie-broken by event_type on BOTH sides (Spark
      // min_by/max_by over struct(ts, val); here an explicit (ts, event_type)
      // ordering) so the comparison is deterministic.
      """WITH r AS (
        |  SELECT user_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_type) AS rf,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_type DESC) AS rl
        |  FROM events
        |), a AS (
        |  SELECT user_id, epoch_us(min(ts)) AS first_seen_us,
        |    epoch_us(max(ts)) AS last_seen_us
        |  FROM events GROUP BY user_id
        |)
        |SELECT a.user_id, a.first_seen_us, a.last_seen_us,
        |  f.event_type AS first_event_type, l.event_type AS last_event_type
        |FROM a JOIN r f ON a.user_id = f.user_id AND f.rf = 1
        |JOIN r l ON a.user_id = l.user_id AND l.rl = 1""".stripMargin),

    // §2#9 per-session rollup — fact_visits.sql new_visits CTE
    Gate("q_session_metrics", (s, dir) =>
      sessionRollup(s, dir).select(
        col("user_id"), col("session_seq"),
        unix_micros(col("session_start_ts")).as("session_start_us"),
        unix_micros(col("session_end_ts")).as("session_end_us"),
        col("n_events"), col("total_value"), col("n_purchases")),
      SessSql +
        """
          |SELECT user_id, session_seq, epoch_us(min(ts)) AS session_start_us,
          |  epoch_us(max(ts)) AS session_end_us, cast(count(*) AS bigint) AS n_events,
          |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
          |  cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bigint) AS n_purchases
          |FROM sess GROUP BY user_id, session_seq""".stripMargin),

    // §2#10 conditional-aggregate metric layer — README visit metrics
    Gate("q_visit_rates", (s, dir) =>
      sessionRollup(s, dir)
        .withColumn("is_successful", col("_last.event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("total_visits"),
          sum(when(col("is_successful") && col("n_events") === 1L, 1L).otherwise(0L))
            .as("first_attempt_success"),
          sum(when(col("is_successful") && col("n_events") > 1L, 1L).otherwise(0L))
            .as("troubled_success"),
          sum(when(!col("is_successful"), 1L).otherwise(0L)).as("failed_visits"),
          sum(col("n_events")).as("total_attempts"))
        .select(
          col("user_id"), col("total_visits"), col("first_attempt_success"),
          col("troubled_success"), col("failed_visits"), col("total_attempts"),
          round(col("first_attempt_success").cast("double") / col("total_visits"), 6)
            .as("first_attempt_success_rate"),
          round(col("troubled_success").cast("double") / col("total_visits"), 6)
            .as("troubled_success_rate"),
          round(col("failed_visits").cast("double") / col("total_visits"), 6)
            .as("failed_rate"),
          round(col("total_attempts").cast("double") / col("total_visits"), 6)
            .as("avg_attempts_per_visit")),
      SessSql +
        """, per_session AS (
          |  SELECT user_id, session_seq, cast(count(*) AS bigint) AS n_events,
          |    max(CASE WHEN rn = 1 THEN event_type END) = 'purchase' AS is_successful
          |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
          |        ORDER BY ts DESC, event_id DESC) AS rn FROM sess)
          |  GROUP BY user_id, session_seq
          |), agg AS (
          |  SELECT user_id, cast(count(*) AS bigint) AS total_visits,
          |    cast(sum(CASE WHEN is_successful AND n_events = 1 THEN 1 ELSE 0 END) AS bigint) AS first_attempt_success,
          |    cast(sum(CASE WHEN is_successful AND n_events > 1 THEN 1 ELSE 0 END) AS bigint) AS troubled_success,
          |    cast(sum(CASE WHEN NOT is_successful THEN 1 ELSE 0 END) AS bigint) AS failed_visits,
          |    cast(sum(n_events) AS bigint) AS total_attempts
          |  FROM per_session GROUP BY user_id
          |)
          |SELECT user_id, total_visits, first_attempt_success, troubled_success, failed_visits,
          |  total_attempts,
          |  round(cast(first_attempt_success AS double) / total_visits, 6) AS first_attempt_success_rate,
          |  round(cast(troubled_success AS double) / total_visits, 6) AS troubled_success_rate,
          |  round(cast(failed_visits AS double) / total_visits, 6) AS failed_rate,
          |  round(cast(total_attempts AS double) / total_visits, 6) AS avg_attempts_per_visit
          |FROM agg""".stripMargin),

    // §2#10b declarative metric layer — semantic_models.yml:310-383: the
    // reference's 10 metrics (6 simple + 4 ratio, incl. average_uptime)
    // declared ONCE as measures/metrics and instantiated over a dimension
    // here; MetricsSpec proves the same declarations re-instantiate over a
    // different grain unchanged. One aggregation pass per semantic model
    // (visit grain + uptime grain), joined on the dimension.
    Gate("q_metric_layer", (s, dir) => {
      import graft.metrics._
      val visits = sessionRollup(s, dir)
        .withColumn("is_successful", col("_last.event_type") === "purchase")
        .withColumn("cohort", pmod(col("user_id"), lit(10L)))
      val visitMetrics = visitSemanticModel.query(
        visits, Seq(col("cohort")),
        Seq("total_visits", "total_charge_attempts", "average_attempts_per_visit",
          "first_attempt_success", "troubled_success", "failed_visits",
          "first_attempt_success_rate", "troubled_success_rate", "failed_rate"))
      // uptime semantic model (yml:296-309): average_uptime over the
      // fact_uptime-shaped frame. The ratio is quantized to 2^-40 by BINARY
      // scaling (floor(x*2^40)/2^40): multiplying/dividing by a power of two
      // and floor are exact IEEE ops, every quantized value is k/2^40 with
      // k < 2^40, so partial double sums stay exact (< 2^53) — the mean is
      // association-order-free and bit-identical across engines (a decimal
      // cast is NOT: double→decimal rounds the shortest string repr in
      // Spark but the binary value in DuckDB, which diverges near ties)
      val q = lit(1099511627776.0) // 2^40
      val uptime = SparkEntry.gate("q_uptime").run(s, dir)
        .withColumn("cohort", pmod(col("user_id"), lit(10L)))
      val uptimeModel = SemanticModel(
        measures = Seq(Measure("uptime_average", MeasureAgg.Average,
          floor(col("uptime") * q) / q)),
        metrics = Seq(SimpleMetric("average_uptime", "uptime_average")))
      val uptimeMetrics =
        uptimeModel.query(uptime, Seq(col("cohort")), Seq("average_uptime"))
      visitMetrics.join(uptimeMetrics, Seq("cohort"), "left")
    },
      // same metric definitions as the Spark semantic model, written out by
      // hand: visit metrics from the session rollup, average_uptime from the
      // shared uptime CTE chain, joined on the cohort dimension
      UptimeSql + ", " +
        SessSql.stripPrefix("WITH ") +
        """, per_session AS (
          |  SELECT user_id, session_seq, cast(count(*) AS bigint) AS n_events,
          |    max(CASE WHEN rn = 1 THEN event_type END) = 'purchase' AS is_successful
          |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
          |        ORDER BY ts DESC, event_id DESC) AS rn FROM sess)
          |  GROUP BY user_id, session_seq
          |), vm AS (
          |  SELECT user_id % 10 AS cohort,
          |    cast(count(session_seq) AS bigint) AS total_visits,
          |    cast(sum(n_events) AS bigint) AS total_charge_attempts,
          |    cast(sum(CASE WHEN is_successful AND n_events = 1 THEN 1 ELSE 0 END) AS bigint)
          |      AS first_attempt_success,
          |    cast(sum(CASE WHEN is_successful AND n_events > 1 THEN 1 ELSE 0 END) AS bigint)
          |      AS troubled_success,
          |    cast(count(CASE WHEN is_successful THEN NULL ELSE session_seq END) AS bigint)
          |      AS failed_visits
          |  FROM per_session GROUP BY 1
          |), um AS (
          |  -- binary 2^-40 quantization: floor/×2^40/÷2^40 are exact IEEE ops,
          |  -- so the double sum is exact and order-free — matches Spark bitwise
          |  SELECT user_id % 10 AS cohort,
          |    sum(floor(uptime * 1099511627776) / 1099511627776)
          |      / cast(count(uptime) AS double) AS average_uptime
          |  FROM uptime GROUP BY 1
          |)
          |SELECT vm.cohort, total_visits, total_charge_attempts,
          |  CASE WHEN total_visits <> 0 THEN
          |    cast(total_charge_attempts AS double) / cast(total_visits AS double) END
          |    AS average_attempts_per_visit,
          |  first_attempt_success, troubled_success, failed_visits,
          |  CASE WHEN total_visits <> 0 THEN
          |    cast(first_attempt_success AS double) / cast(total_visits AS double) END
          |    AS first_attempt_success_rate,
          |  CASE WHEN total_visits <> 0 THEN
          |    cast(troubled_success AS double) / cast(total_visits AS double) END
          |    AS troubled_success_rate,
          |  CASE WHEN total_visits <> 0 THEN
          |    cast(failed_visits AS double) / cast(total_visits AS double) END
          |    AS failed_rate,
          |  um.average_uptime
          |FROM vm LEFT JOIN um ON vm.cohort = um.cohort""".stripMargin),

    // §2#20 per-entity profile — int_driver_aggregates.sql
    Gate("q_user_aggs", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          unix_micros(min(col("ts"))).as("first_seen_us"),
          unix_micros(max(col("ts"))).as("last_seen_us"),
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")),
      """SELECT user_id, epoch_us(min(ts)) AS first_seen_us, epoch_us(max(ts)) AS last_seen_us,
        |  cast(count(*) AS bigint) AS n_events,
        |  cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bigint) AS n_purchases,
        |  cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS bigint) AS n_errors,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM events GROUP BY 1""".stripMargin),

    // §2#20c key-based incremental UPSERT through the REAL write path:
    // initial load (days 1-15) then an overlapping batch (days 10-30) merge
    // into a fresh partitioned parquet target; read back the final table.
    // Batch rows win per (user, type, day) key, ties broken (ts, event_id)
    // desc — dbt merge semantics, replay-idempotent. The oracle replays the
    // two-step merge as one prioritized dedupe (provably equivalent: the
    // second merge's winner per key is the same row either way).
    Gate("q_upsert_merge", (s, dir) => {
      val tmp = gateTmpDir("graft_upsert-")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
      val initial = ev.filter(col("ts") < lit("2024-01-16").cast("timestamp"))
      val batch = ev.filter(col("ts") >= lit("2024-01-10").cast("timestamp"))
      val key = Seq("user_id", "event_type", Upsert.PartCol)
      Upsert.mergeByKey(s, tmp, initial, key, "ts", Seq("event_id"))
      Upsert.mergeByKey(s, tmp, batch, key, "ts", Seq("event_id"))
      s.read.parquet(tmp).select(
        col("user_id"), col("event_type"),
        datediff(col(Upsert.PartCol), lit("1970-01-01").cast("date"))
          .cast("long").as("part_day"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
    },
      // the two-step merge (initial days 1-15, then overlapping batch days
      // 10-30) collapses to ONE prioritized dedupe: for a key in both, the
      // second merge keeps the top batch row (prio 1 > 0) — exactly the row
      // the one-shot (prio DESC, ts DESC, event_id DESC) order selects; for a
      // key in one batch, both paths keep its internal winner
      """WITH b1 AS (SELECT event_id, ts, user_id, event_type, value, 0 AS prio
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16'),
        |b2 AS (SELECT event_id, ts, user_id, event_type, value, 1 AS prio
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-10'),
        |u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type, cast(ts AS date)
        |    ORDER BY prio DESC, ts DESC, event_id DESC) AS rn FROM u)
        |SELECT user_id, event_type,
        |  cast(date_diff('day', DATE '1970-01-01', cast(ts AS date)) AS bigint)
        |    AS part_day,
        |  epoch_us(ts) AS ts_us, event_id, value
        |FROM r WHERE rn = 1""".stripMargin),

    // §2#20d CDC op-log APPLICATION (operators/Cdc.scala) — the missing
    // DELETE next to q_upsert_merge: a Debezium-shaped I/U/D change log
    // (derived from orders: unique o_orderkey as the sequence, status →
    // op, every 7th key brand-new) folds into the customer snapshot.
    // Latest op per key wins via one map-side-combinable max_by (no
    // window over the raw log), then ONE full-outer merge — a final D
    // drops the key, I/U upserts the payload, untouched keys keep their
    // snapshot rows
    Gate("q_cdc_apply", (s, dir) => {
      val (snap, log) = cdcSnapshotAndLog(s, dir)
      Cdc.applyLog(snap, log, Seq("c_custkey"), "seq", "op")
    },
      // CDC apply: latest-seq winner per key (o_orderkey unique => the
      // row_number replay equals the operator's max_by), full-outer fold
      // with D dropping the key and I/U taking the logged payload
      CdcApplySql),

    // §2#61 schema-migration table SPLIT (reference
    // migrations/001_split_ports.sql:1 — the one reference file with no
    // graft counterpart until r12): the denormalized finest-grain table
    // splits into one DISTINCT projection per entity grain, a targeted
    // value correction lands on its grain (the reference's CHAdeMO
    // update), and the gate output IS the pre-cutover validation report
    // — row counts, grain-key uniqueness, source coverage,
    // child→parent containment, corrected-row counts — plus a
    // value-sum signature pinning the corrected split's contents
    Gate("q_split_migration", (s, dir) => {
      val ev = Tables.events(s, dir)
      val grains = Seq(
        Migrate.GrainSpec("users", Seq("user_id")),
        Migrate.GrainSpec("user_event_types", Seq("user_id", "event_type")),
        Migrate.GrainSpec("events_split",
          Seq("user_id", "event_type", "event_id"), Seq("value")))
      val corr = Seq(Migrate.Correction("events_split",
        pmod(col("event_id"), lit(997L)) === 13L, "value", lit(0.0)))
      val splits = Migrate.splitByGrain(ev, grains, corr)
      val sig = splits("events_split")
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("events_value_sum"))
      Migrate.validate(ev, grains, splits, corr).crossJoin(sig)
    },
      // migration split: replay the three distinct projections, the
      // targeted correction, and every validation check in SQL
      """WITH src AS (SELECT user_id, event_type, event_id, value FROM events),
        |u AS (SELECT DISTINCT user_id FROM src),
        |ut AS (SELECT DISTINCT user_id, event_type FROM src),
        |ev0 AS (SELECT DISTINCT user_id, event_type, event_id, value FROM src),
        |ev AS (SELECT user_id, event_type, event_id,
        |    CASE WHEN event_id % 997 = 13 THEN 0.0 ELSE value END AS value
        |  FROM ev0),
        |sig AS (SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS events_value_sum FROM ev),
        |rep AS (
        |  SELECT 'users' AS table_name,
        |    (SELECT count(*) FROM u) AS n_rows,
        |    (SELECT count(*) FROM u) = (SELECT count(DISTINCT user_id) FROM u)
        |      AS grain_unique,
        |    (SELECT count(DISTINCT user_id) FROM u) =
        |      (SELECT count(DISTINCT user_id) FROM src) AS covers_source,
        |    TRUE AS parent_contained,
        |    CAST(0 AS BIGINT) AS n_corrected
        |  UNION ALL
        |  SELECT 'user_event_types',
        |    (SELECT count(*) FROM ut),
        |    (SELECT count(*) FROM ut) =
        |      (SELECT count(DISTINCT (user_id, event_type)) FROM ut),
        |    (SELECT count(DISTINCT (user_id, event_type)) FROM ut) =
        |      (SELECT count(DISTINCT (user_id, event_type)) FROM src),
        |    (SELECT count(*) FROM (SELECT DISTINCT user_id FROM ut) c
        |      LEFT JOIN u USING (user_id) WHERE u.user_id IS NULL) = 0,
        |    CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT 'events_split',
        |    (SELECT count(*) FROM ev),
        |    (SELECT count(*) FROM ev) =
        |      (SELECT count(DISTINCT (user_id, event_type, event_id)) FROM ev),
        |    (SELECT count(DISTINCT (user_id, event_type, event_id)) FROM ev) =
        |      (SELECT count(DISTINCT (user_id, event_type, event_id)) FROM src),
        |    (SELECT count(*) FROM (SELECT DISTINCT user_id, event_type FROM ev) c
        |      LEFT JOIN ut USING (user_id, event_type)
        |      WHERE ut.user_id IS NULL) = 0,
        |    (SELECT count(*) FROM ev0 WHERE event_id % 997 = 13))
        |SELECT table_name, n_rows, grain_unique, covers_source,
        |  parent_contained, n_corrected, events_value_sum
        |FROM rep CROSS JOIN sig""".stripMargin)
  )
}
