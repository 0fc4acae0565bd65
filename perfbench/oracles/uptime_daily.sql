WITH spans AS (SELECT user_id, min(ts) AS c_start, max(ts) AS c_end FROM events GROUP BY 1),
cdays AS (
  SELECT user_id, c_start, c_end,
    cast(unnest(generate_series(cast(date_trunc('day', c_start) AS timestamp),
      cast(date_trunc('day', c_end) AS timestamp), INTERVAL 1 DAY)) AS date) AS date_id
  FROM spans
), commissioned AS (
  SELECT user_id, date_id,
    epoch_us(least(c_end, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
    epoch_us(greatest(c_start, cast(date_id AS timestamp))) AS c_us
  FROM cdays
), g AS (
  SELECT e.user_id, e.ts, lag(e.ts) OVER w AS prev, lead(e.ts) OVER w AS nxt,
    s.c_start, s.c_end
  FROM events e JOIN spans s ON e.user_id = s.user_id
  WINDOW w AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)
), gaps AS (
  SELECT user_id, prev AS from_ts, ts AS to_ts FROM g WHERE prev IS NOT NULL
  UNION ALL
  SELECT user_id, c_start, ts FROM g WHERE prev IS NULL AND ts > c_start
  UNION ALL
  SELECT user_id, ts, c_end FROM g WHERE nxt IS NULL AND ts < c_end
), big_gaps AS (
  SELECT user_id, from_ts, to_ts FROM gaps
  WHERE (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 > 3600
), gdays AS (
  SELECT user_id, from_ts, to_ts,
    cast(unnest(generate_series(cast(date_trunc('day', from_ts) AS timestamp),
      cast(date_trunc('day', to_ts) AS timestamp), INTERVAL 1 DAY)) AS date) AS date_id
  FROM big_gaps
), downtime AS (
  SELECT user_id, date_id, sum(
    epoch_us(least(to_ts, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
    epoch_us(greatest(from_ts, cast(date_id AS timestamp)))) AS d_us
  FROM gdays
  WHERE epoch_us(least(to_ts, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
        epoch_us(greatest(from_ts, cast(date_id AS timestamp))) > 0
  GROUP BY 1, 2
), uptime AS (
  SELECT c.user_id, c.date_id,
    cast(c.c_us - coalesce(d.d_us, 0) AS double) / cast(c.c_us AS double) AS uptime
  FROM commissioned c LEFT JOIN downtime d
    ON c.user_id = d.user_id AND c.date_id = d.date_id
  WHERE c.c_us > 0
)
SELECT user_id, date_id, uptime FROM uptime
