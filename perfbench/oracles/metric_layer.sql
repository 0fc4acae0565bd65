-- inputs: the `sessions` and `uptime_daily` step outputs
WITH per_session AS (
  SELECT user_id, session_seq, n_events, last_event_type = 'purchase' AS is_successful
  FROM sessions
), vm AS (
  SELECT user_id % 10 AS cohort,
    cast(count(session_seq) AS bigint) AS total_visits,
    cast(sum(n_events) AS bigint) AS total_charge_attempts,
    cast(sum(CASE WHEN is_successful AND n_events = 1 THEN 1 ELSE 0 END) AS bigint)
      AS first_attempt_success,
    cast(sum(CASE WHEN is_successful AND n_events > 1 THEN 1 ELSE 0 END) AS bigint)
      AS troubled_success,
    cast(count(CASE WHEN is_successful THEN NULL ELSE session_seq END) AS bigint)
      AS failed_visits
  FROM per_session GROUP BY 1
), um AS (
  -- binary 2^-40 quantization: floor/×2^40/÷2^40 are exact IEEE ops,
  -- so the double sum is exact and order-free — matches Spark bitwise
  SELECT user_id % 10 AS cohort,
    sum(floor(uptime * 1099511627776) / 1099511627776)
      / cast(count(uptime) AS double) AS average_uptime
  FROM uptime_daily GROUP BY 1
)
SELECT vm.cohort, total_visits, total_charge_attempts,
  CASE WHEN total_visits <> 0 THEN
    cast(total_charge_attempts AS double) / cast(total_visits AS double) END
    AS average_attempts_per_visit,
  first_attempt_success, troubled_success, failed_visits,
  CASE WHEN total_visits <> 0 THEN
    cast(first_attempt_success AS double) / cast(total_visits AS double) END
    AS first_attempt_success_rate,
  CASE WHEN total_visits <> 0 THEN
    cast(troubled_success AS double) / cast(total_visits AS double) END
    AS troubled_success_rate,
  CASE WHEN total_visits <> 0 THEN
    cast(failed_visits AS double) / cast(total_visits AS double) END
    AS failed_rate,
  um.average_uptime
FROM vm LEFT JOIN um ON vm.cohort = um.cohort
