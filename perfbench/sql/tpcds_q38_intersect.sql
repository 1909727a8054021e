WITH date_dim AS (
  SELECT d_date, month(d_date) AS d_moy
  FROM (SELECT DISTINCT o_orderdate AS d_date FROM orders) dd),
base AS (
  SELECT CASE l_linenumber % 3 WHEN 0 THEN 'store'
    WHEN 1 THEN 'catalog' ELSE 'web' END AS channel,
    c_name, o_orderdate
  FROM lineitem, orders, customer, date_dim
  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND o_orderdate = d_date AND d_moy <= 6)
SELECT cast(count(*) AS bigint) AS hot_cust_count FROM (
  SELECT DISTINCT c_name, o_orderdate FROM base WHERE channel = 'store'
  INTERSECT
  SELECT DISTINCT c_name, o_orderdate FROM base WHERE channel = 'catalog'
  INTERSECT
  SELECT DISTINCT c_name, o_orderdate FROM base WHERE channel = 'web'
) hot_cust
