SELECT n_nationkey,
  cast(n_regionkey + DECIMAL '0.5' AS double) AS shifted,
  n_nationkey * DOUBLE '2.5' AS scaled,
  BIGINT '1000000000000' + n_nationkey AS big
FROM nation ORDER BY n_nationkey
