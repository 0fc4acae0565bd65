WITH lagged AS (
  SELECT user_id, event_id, ts, event_type,
    lag(event_type) OVER w AS previous_status, lag(ts) OVER w AS previous_ts
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT * FROM lagged WHERE previous_status IS NULL OR previous_status <> event_type
)
SELECT user_id, epoch_us(ts) AS ts_us, event_type AS status, previous_status,
  epoch_us(previous_ts) AS previous_ts_us,
  lead(event_type) OVER w2 AS next_status,
  epoch_us(lead(ts) OVER w2) AS next_ts_us
FROM changes WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
