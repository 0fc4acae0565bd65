SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)) AS bucket_start_us,
  event_type, cast(count(*) AS bigint) AS n,
  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
FROM events GROUP BY 1, 2
