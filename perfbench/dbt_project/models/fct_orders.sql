{{ config(materialized='incremental', strategy='append', ts_col='loaded_at') }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_orderpriority,
       loaded_at, {{ cents('o_totalprice') }} AS total_cents
FROM {{ ref('stg_orders') }}
