WITH lagged AS (
  SELECT event_id, user_id, ts, event_type, value, props,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, cast(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS bigint) AS session_seq
  FROM lagged
)
SELECT user_id,
  epoch_us(min(ts)) AS session_start_us,
  epoch_us(max(ts)) AS session_end_us,
  count(*) AS n_events
FROM sess GROUP BY user_id, session_seq
