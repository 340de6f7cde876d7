{% macro cents(col) %}CAST(round({{ col }} * 100) AS BIGINT){% endmacro %}
