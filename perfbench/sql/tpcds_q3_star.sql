WITH date_dim AS (
  SELECT d_date, year(d_date) AS d_year, month(d_date) AS d_moy
  FROM (SELECT DISTINCT l_shipdate AS d_date FROM lineitem) dd)
SELECT d_year, p_brand AS brand, round(sum(l_extendedprice), 2) AS sum_agg
FROM date_dim dt, lineitem, part
WHERE dt.d_date = l_shipdate AND l_partkey = p_partkey
  AND p_type = 'PROMO' AND d_moy = 11
GROUP BY d_year, p_brand
