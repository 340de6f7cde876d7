{{ config(materialized='table') }}
SELECT s.segment_name, s.tier, count(*) AS orders,
       sum(f.total_cents) AS total_cents
FROM {{ ref('fct_orders') }} f
JOIN {{ ref('dim_customers') }} c ON f.o_custkey = c.c_custkey
JOIN {{ ref('segments') }} s ON c.c_mktsegment = s.segment_code
GROUP BY s.segment_name, s.tier
