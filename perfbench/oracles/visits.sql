WITH attempts AS (
  SELECT event_id,
    cast(user_id AS varchar) AS charger_id,
    cast(event_id % 2 AS varchar) AS port_id,
    cast(user_id % 20 AS varchar) AS location_id,
    ts AS start_ts,
    make_timestamp(epoch_us(ts) + (30 + event_id % 300) * 1000000) AS stop_ts,
    CASE WHEN event_type IN ('purchase', 'click')
         THEN 'T' || cast(user_id % 7 AS varchar) END AS id_tag,
    value
  FROM events
), chained AS (
  SELECT *,
    CASE WHEN lag(stop_ts) OVER w IS NULL
           OR epoch_us(start_ts) - epoch_us(lag(stop_ts) OVER w) > 120000000
           OR (id_tag IS NOT NULL AND lag(id_tag) OVER w IS NOT NULL
               AND id_tag <> lag(id_tag) OVER w)
         THEN 1 ELSE 0 END AS chain_start
  FROM attempts WINDOW w AS (PARTITION BY charger_id, port_id ORDER BY start_ts, event_id)
), chains AS (
  SELECT *, sum(chain_start) OVER (PARTITION BY charger_id, port_id
    ORDER BY start_ts, event_id ROWS UNBOUNDED PRECEDING) AS chain_seq
  FROM chained
), inferred AS (
  SELECT * REPLACE (max(id_tag) OVER (PARTITION BY charger_id, port_id, chain_seq) AS id_tag)
  FROM chains
), keyed AS (
  SELECT *,
    CASE WHEN id_tag IS NOT NULL
         THEN 'A' || chr(1) || location_id || chr(1) || id_tag
         ELSE 'U' || chr(1) || location_id || chr(1) || charger_id || chr(1) || port_id
    END AS grouping_key,
    CASE WHEN id_tag IS NOT NULL THEN 1800000000 ELSE 120000000 END AS window_us
  FROM inferred
), flagged AS (
  SELECT *,
    CASE WHEN lag(stop_ts) OVER w2 IS NULL
           OR epoch_us(start_ts) - epoch_us(lag(stop_ts) OVER w2) > window_us
         THEN 1 ELSE 0 END AS visit_start
  FROM keyed WINDOW w2 AS (PARTITION BY grouping_key ORDER BY start_ts, event_id)
), sessions AS (
  SELECT *, cast(sum(visit_start) OVER (PARTITION BY grouping_key
    ORDER BY start_ts, event_id ROWS UNBOUNDED PRECEDING) AS bigint) AS visit_seq
  FROM flagged
)
SELECT grouping_key, visit_seq,
  epoch_us(min(start_ts)) AS visit_start_us,
  epoch_us(max(stop_ts)) AS visit_end_us,
  cast(count(*) AS bigint) AS charge_attempt_count,
  max(id_tag) AS id_tag, max(location_id) AS location_id,
  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
FROM sessions GROUP BY grouping_key, visit_seq
