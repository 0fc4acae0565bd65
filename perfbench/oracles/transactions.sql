WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
p AS (SELECT event_id AS p_event_id, user_id, ts AS p_ts, value AS p_value
      FROM events WHERE event_type = 'purchase'),
j AS (SELECT s.event_id, s.user_id, s.ts, p.p_ts, p.p_event_id, p.p_value,
      row_number() OVER (PARTITION BY s.event_id ORDER BY p.p_ts, p.p_event_id) AS rn
      FROM s LEFT JOIN p ON s.user_id = p.user_id AND p.p_ts > s.ts
        AND epoch_us(p.p_ts) <= epoch_us(s.ts) + 604800000000)
SELECT event_id, user_id, epoch_us(ts) AS ts_us, epoch_us(p_ts) AS matched_ts_us,
  p_event_id AS matched_event_id, p_value AS matched_value
FROM j WHERE rn = 1
