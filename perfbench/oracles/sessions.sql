WITH lagged AS (
  SELECT event_id, user_id, ts, event_type, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, cast(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS bigint) AS session_seq
  FROM lagged
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
    ORDER BY ts DESC, event_id DESC) AS rn
  FROM sess
)
SELECT user_id, session_seq, epoch_us(min(ts)) AS session_start_us,
  epoch_us(max(ts)) AS session_end_us, cast(count(*) AS bigint) AS n_events,
  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
  cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bigint) AS n_purchases,
  max(CASE WHEN rn = 1 THEN event_type END) AS last_event_type
FROM ranked GROUP BY user_id, session_seq
