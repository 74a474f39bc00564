-- Ad-hoc: how many transactions cost more than a threshold.
SELECT COUNT(*) AS n
FROM fact_transacciones_energia
WHERE total_cost > ${min_cost};
