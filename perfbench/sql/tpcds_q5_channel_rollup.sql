WITH ssr AS (
  SELECT 'store channel' AS channel, n_name AS id,
    sum(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice ELSE 0 END) AS sales,
    sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END) AS returns_amt,
    sum(l_extendedprice * (1 - l_discount)) AS profit
  FROM lineitem, supplier, nation
  WHERE l_linenumber % 3 = 0 AND l_suppkey = s_suppkey
    AND s_nationkey = n_nationkey
  GROUP BY n_name),
csr AS (
  SELECT 'catalog channel' AS channel, n_name AS id,
    sum(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice ELSE 0 END) AS sales,
    sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END) AS returns_amt,
    sum(l_extendedprice * (1 - l_discount)) AS profit
  FROM lineitem, supplier, nation
  WHERE l_linenumber % 3 = 1 AND l_suppkey = s_suppkey
    AND s_nationkey = n_nationkey
  GROUP BY n_name),
wsr AS (
  SELECT 'web channel' AS channel, n_name AS id,
    sum(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice ELSE 0 END) AS sales,
    sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END) AS returns_amt,
    sum(l_extendedprice * (1 - l_discount)) AS profit
  FROM lineitem, supplier, nation
  WHERE l_linenumber % 3 = 2 AND l_suppkey = s_suppkey
    AND s_nationkey = n_nationkey
  GROUP BY n_name)
SELECT channel, id, round(sum(sales), 2) AS sales,
  round(sum(returns_amt), 2) AS returns_amt,
  round(sum(profit), 2) AS profit
FROM (SELECT * FROM ssr UNION ALL SELECT * FROM csr
      UNION ALL SELECT * FROM wsr) x
GROUP BY ROLLUP(channel, id)
