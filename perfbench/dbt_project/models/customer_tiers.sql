{{ config(materialized='view') }}
SELECT c_custkey, c_acctbal, c_mktsegment FROM {{ ref('dim_customers') }}
