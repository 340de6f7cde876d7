{{ config(materialized='incremental', strategy='merge_on_read', unique_key='c_custkey', delete_col='is_deleted') }}
SELECT c_custkey, c_acctbal, is_deleted, batch_id
FROM {{ ref('stg_customers') }}
{% if is_incremental() %}
WHERE batch_id > (SELECT max(batch_id) FROM {{ this }})
{% endif %}
