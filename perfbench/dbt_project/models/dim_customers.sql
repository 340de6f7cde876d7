{{ config(materialized='incremental', strategy='merge', unique_key='c_custkey', buckets='4') }}
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       is_deleted, batch_id
FROM {{ ref('stg_customers') }}
{% if is_incremental() %}
WHERE batch_id > (SELECT max(batch_id) FROM {{ this }})
{% endif %}
