SELECT n_nationkey,
  IF(n_regionkey > 2, n_name) AS maybe_name,
  IF(n_regionkey = 0, n_nationkey * 10) AS maybe_val
FROM nation ORDER BY n_nationkey
