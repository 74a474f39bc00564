-- Ad-hoc: energy bought per supplier type and country in a price band.
SELECT p.energy_type, p.country_of_origin, COUNT(*) AS n_tx,
       SUM(f.energy_quantity_mwh) AS mwh, AVG(f.price_per_mwh) AS avg_price
FROM fact_transacciones_energia f
JOIN dim_proveedores p ON f.supplier_id = p.supplier_id
WHERE f.price_per_mwh BETWEEN ${price_lo} AND ${price_hi}
GROUP BY p.energy_type, p.country_of_origin;
