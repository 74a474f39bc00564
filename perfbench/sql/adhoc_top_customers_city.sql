-- Ad-hoc: the biggest spenders of one city above a cost floor.
SELECT f.customer_id, SUM(f.total_cost) AS spend
FROM fact_transacciones_energia f
JOIN dim_clientes c ON f.customer_id = c.customer_id
WHERE c.city = '${city}' AND f.total_cost > ${min_cost}
GROUP BY f.customer_id
ORDER BY spend DESC, f.customer_id
LIMIT ${k};
