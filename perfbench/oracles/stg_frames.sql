WITH frames AS (
  SELECT event_id, user_id, ts, event_type, value,
    CASE WHEN event_id % 2 = 0
      THEN '[2,"' || event_id || '","' || event_type || '",' || props || ']'
      ELSE '[3,"' || event_id || '",' || props || ']' END AS msg
  FROM events
)
SELECT event_id, user_id, ts, event_type, value,
  json_extract_string(msg, '$[0]') AS message_type_id,
  json_extract_string(msg, '$[1]') AS unique_id,
  cast(CASE WHEN json_extract_string(msg, '$[0]') = '2'
    THEN json_extract_string(msg, '$[3].k')
    ELSE json_extract_string(msg, '$[2].k') END AS bigint) AS k_value
FROM frames
