SELECT * FROM {{ ref('segment_revenue') }} WHERE total_cents < 0
