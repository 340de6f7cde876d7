{{ config(materialized='incremental', strategy='insert_overwrite', partition_by='order_day') }}
SELECT count(*) AS orders,
       sum({{ cents('o_totalprice') }}) AS total_cents,
       max(loaded_at) AS max_loaded_at,
       date_format(o_orderdate, 'yyyy-MM-dd') AS order_day
FROM {{ ref('stg_orders') }}
{% if is_incremental() %}
WHERE loaded_at > (SELECT max(max_loaded_at) FROM {{ this }})
{% endif %}
GROUP BY date_format(o_orderdate, 'yyyy-MM-dd')
