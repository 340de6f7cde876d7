{{ config(materialized='view') }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, loaded_at
FROM {{ source('raw_orders') }}
