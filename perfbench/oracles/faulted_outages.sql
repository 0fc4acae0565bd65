WITH spans AS (
  SELECT user_id, cast(event_id % 2 AS varchar) AS connector_id,
    ts AS from_ts, make_timestamp(epoch_us(ts) + 600000000) AS to_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_max IS NULL OR prev_max < from_ts THEN 1 ELSE 0 END AS new_island
  FROM (SELECT *, max(to_ts) OVER (PARTITION BY user_id, connector_id
          ORDER BY from_ts, to_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM spans)
), islands AS (
  SELECT user_id, connector_id, from_ts, to_ts,
    sum(new_island) OVER (PARTITION BY user_id, connector_id
      ORDER BY from_ts, to_ts ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), disjoint AS (
  SELECT user_id, connector_id, min(from_ts) AS from_ts, max(to_ts) AS to_ts
  FROM islands GROUP BY user_id, connector_id, island
), points AS (
  SELECT user_id, from_ts AS pt, 1 AS delta FROM disjoint
  UNION ALL
  SELECT user_id, to_ts, -1 FROM disjoint
), grouped AS (
  SELECT user_id, pt, sum(delta) AS delta FROM points GROUP BY user_id, pt
), sweep AS (
  SELECT user_id, pt AS segment_start, lead(pt) OVER w AS segment_end,
    sum(delta) OVER (PARTITION BY user_id ORDER BY pt ROWS UNBOUNDED PRECEDING) AS active
  FROM grouped WINDOW w AS (PARTITION BY user_id ORDER BY pt)
), full_seg AS (
  SELECT user_id, segment_start AS from_ts, segment_end AS to_ts
  FROM sweep WHERE segment_end IS NOT NULL AND active = 2
), f2 AS (
  SELECT *, CASE WHEN prev_max IS NULL OR prev_max < from_ts THEN 1 ELSE 0 END AS new_island
  FROM (SELECT *, max(to_ts) OVER (PARTITION BY user_id
          ORDER BY from_ts, to_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM full_seg)
), i2 AS (
  SELECT user_id, from_ts, to_ts,
    sum(new_island) OVER (PARTITION BY user_id ORDER BY from_ts, to_ts
      ROWS UNBOUNDED PRECEDING) AS island
  FROM f2
)
SELECT user_id, epoch_us(min(from_ts)) AS from_us, epoch_us(max(to_ts)) AS to_us
FROM i2 GROUP BY user_id, island
HAVING max(to_ts) > min(from_ts)
