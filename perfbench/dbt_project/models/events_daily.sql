{{ config(materialized='incremental', strategy='microbatch', event_time='ts', batch_size='day', begin='2024-01-01', lookback='1') }}
SELECT date_trunc('DAY', ts) AS ts, event_type, count(*) AS events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM {{ source('raw_events') }}
GROUP BY date_trunc('DAY', ts), event_type
