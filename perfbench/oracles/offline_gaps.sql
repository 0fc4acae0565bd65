WITH b AS (SELECT min(ts) AS mstart, max(ts) AS mend FROM events),
g AS (SELECT user_id, ts, lag(ts) OVER w AS prev, lead(ts) OVER w AS nxt
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
gaps AS (
  SELECT user_id, prev AS from_ts, ts AS to_ts FROM g WHERE prev IS NOT NULL
  UNION ALL
  SELECT g.user_id, b.mstart, g.ts FROM g, b WHERE g.prev IS NULL AND g.ts > b.mstart
  UNION ALL
  SELECT g.user_id, g.ts, b.mend FROM g, b WHERE g.nxt IS NULL AND g.ts < b.mend)
SELECT user_id, epoch_us(from_ts) AS from_us, epoch_us(to_ts) AS to_us,
  (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 AS gap_seconds
FROM gaps WHERE (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 > 3600
