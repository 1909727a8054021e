WITH date_dim AS (
  SELECT d_date FROM (
    SELECT DISTINCT o_orderdate AS d_date FROM orders
    UNION SELECT DISTINCT l_shipdate FROM lineitem) u)
SELECT p_brand, n_name, cast(count(*) AS bigint) AS n_lagged_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN date_dim d1 ON o_orderdate = d1.d_date
JOIN date_dim d2 ON l_shipdate = d2.d_date
WHERE d2.d_date > d1.d_date + INTERVAL '30' DAY
  AND p_size <= 10
GROUP BY p_brand, n_name
