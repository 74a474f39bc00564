-- Ad-hoc: spend per city and customer category over a date window.
SELECT c.city, c.customer_category,
       COUNT(*) AS n_tx, SUM(f.total_cost) AS spend
FROM fact_transacciones_energia f
JOIN dim_clientes c ON f.customer_id = c.customer_id
WHERE f.transaction_date BETWEEN DATE '${from}' AND DATE '${to}'
GROUP BY c.city, c.customer_category
ORDER BY spend DESC;
