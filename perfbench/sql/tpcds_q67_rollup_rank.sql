WITH date_dim AS (
  SELECT d_date, year(d_date) AS d_year, month(d_date) AS d_moy
  FROM (SELECT DISTINCT l_shipdate AS d_date FROM lineitem) dd)
SELECT p_brand, d_year, d_moy, rf, sumsales, rk FROM (
  SELECT p_brand, d_year, d_moy, rf, sumsales,
    rank() OVER (PARTITION BY p_brand ORDER BY sumsales DESC) AS rk
  FROM (
    SELECT p_brand, d_year, d_moy, l_returnflag AS rf,
      cast(sum(l_quantity) AS bigint) AS sumsales
    FROM lineitem, date_dim, part
    WHERE l_shipdate = d_date AND l_partkey = p_partkey
    GROUP BY ROLLUP(p_brand, d_year, d_moy, l_returnflag)) dw1) dw2
WHERE rk <= 10
