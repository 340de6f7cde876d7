{{ config(materialized='ephemeral') }}
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       is_deleted, batch_id
FROM {{ source('raw_customers') }}
