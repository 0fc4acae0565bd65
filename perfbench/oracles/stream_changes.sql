WITH lagged AS (
  SELECT user_id, ts, event_type,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS previous_status
  FROM events
)
SELECT user_id, epoch_us(ts) AS ts_us, event_type AS status, previous_status
FROM lagged WHERE previous_status IS NULL OR previous_status <> event_type
