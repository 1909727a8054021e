WITH ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(l_extendedprice / l_quantity) AS ps_supplycost,
         count(*) * 10 AS ps_availqty
  FROM lineitem GROUP BY 1, 2)
SELECT s_name, s_acctbal FROM supplier, nation, region
WHERE s_suppkey IN (
  SELECT ps_suppkey FROM ps
  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'large%')
    AND ps_availqty > (
      SELECT 0.5 * sum(l_quantity) FROM lineitem
      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'))
AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'ASIA'
