WITH multi_supp AS (
  SELECT l_orderkey AS order_key
  FROM lineitem
  GROUP BY l_orderkey
  HAVING min(l_suppkey) <> max(l_suppkey))
SELECT cast(count(DISTINCT o_orderkey) AS bigint) AS order_count,
  round(sum(o_totalprice), 2) AS total_price
FROM orders, customer, nation
WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
  AND n_name IN ('NATION_3', 'NATION_7')
  AND year(o_orderdate) = 1997
  AND o_orderkey IN (SELECT order_key FROM multi_supp)
  AND o_orderkey IN (
    SELECT l.l_orderkey FROM lineitem l, multi_supp m
    WHERE l.l_orderkey = m.order_key AND l.l_returnflag = 'R')
